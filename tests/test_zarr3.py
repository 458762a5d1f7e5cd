"""Zarr v3 (container format V02) tests — format matrix parity with the
reference's V01<->zarr v2 / V02<->zarr v3 pairing (_io/format.py:56-267)."""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from spatialdata_spark.operators.raster import RasterMeta, tiles_to_long
from spatialdata_spark.sources.zarr3 import (
    array_meta,
    codec_of_chain,
    parse_array_meta,
)
from spatialdata_spark.sources.zarrio import (
    read_zarr_store,
    read_zarr_tiles,
    write_zarr_store,
    zarr_read_array,
    zarr_write_array,
)


@pytest.mark.parametrize("codec", [None, "zlib", "gzip", "blosc"])
def test_v3_array_roundtrip_codecs(tmp_path, codec):
    a = np.arange(120, dtype=np.float64).reshape(10, 12)
    p = str(tmp_path / "a")
    zarr_write_array(p, a, chunks=(4, 5), compressor=codec, zarr_format=3)
    doc = json.load(open(os.path.join(p, "zarr.json")))
    assert doc["zarr_format"] == 3 and doc["node_type"] == "array"
    np.testing.assert_array_equal(zarr_read_array(p), a)


def test_v3_zstd_config_matches_written_frames(tmp_path):
    """The zstd codec configuration in zarr.json describes the frames
    the writer emits: libzstd's default level and a Content_Checksum
    flag (frame-header descriptor byte 4, bit 2) on every chunk."""
    import pyarrow as pa

    a = np.arange(64 * 64, dtype=np.uint16).reshape(64, 64)
    p = str(tmp_path / "a")
    zarr_write_array(p, a, chunks=(32, 32), compressor="zstd", zarr_format=3)
    doc = json.load(open(os.path.join(p, "zarr.json")))
    (cfg,) = [c["configuration"] for c in doc["codecs"] if c["name"] == "zstd"]
    assert cfg["level"] == pa.Codec.default_compression_level("zstd")
    for key in ("0/0", "0/1", "1/0", "1/1"):
        frame = open(os.path.join(p, "c", *key.split("/")), "rb").read()
        assert frame[:4] == b"\x28\xb5\x2f\xfd"
        assert bool(frame[4] & 0x04) is cfg["checksum"]
    np.testing.assert_array_equal(zarr_read_array(p), a)


def test_v3_chunk_keys_are_c_prefixed(tmp_path):
    a = np.ones((8, 8), dtype=np.int64)
    p = str(tmp_path / "a")
    zarr_write_array(p, a, chunks=(4, 4), compressor=None, zarr_format=3)
    assert os.path.exists(os.path.join(p, "c", "0", "0"))
    assert os.path.exists(os.path.join(p, "c", "1", "1"))


def test_v3_meta_parse_rejects_unknown():
    # zstd is a supported standalone v3 codec (pyarrow's bundled libzstd)
    assert codec_of_chain([{"name": "bytes"}, {"name": "zstd", "configuration": {}}]) == "zstd"
    with pytest.raises(ValueError, match="lzma"):
        codec_of_chain([{"name": "bytes"}, {"name": "lzma", "configuration": {}}])
    with pytest.raises(ValueError, match="chunk_grid"):
        parse_array_meta(
            {
                "zarr_format": 3,
                "node_type": "array",
                "shape": [4],
                "data_type": "int64",
                "chunk_grid": {"name": "rectangular"},
            }
        )
    m = array_meta((4, 4), (2, 2), np.dtype("<f8"), "zlib")
    assert parse_array_meta(m)["codec"] == "gzip"


def test_v3_tiles_distributed(spark, tmp_path):
    rng = np.random.default_rng(5)
    a = rng.integers(0, 50, size=(40, 48)).astype(np.float64)
    p = str(tmp_path / "img")
    zarr_write_array(p, a, chunks=(16, 16), compressor="zlib", zarr_format=3)
    tiles, meta = read_zarr_tiles(spark, p)
    got = np.zeros_like(a)
    for r in tiles_to_long(tiles, meta).collect():
        got[r["y"], r["x"]] = r["value"]
    np.testing.assert_array_equal(got, a)


def test_v3_container_roundtrip(spark, tmp_path):
    from spatialdata_spark.catalog import SpatialDataset
    from spatialdata_spark.transformations import Scale

    pts = spark.createDataFrame(
        [(i, float(i), float(3 * i)) for i in range(12)], "id long, x double, y double"
    )
    labels = spark.createDataFrame(
        [(y, x, (y * 3 + x) % 4 + 1) for y in range(20) for x in range(20)],
        "y long, x long, label long",
    )
    ds = SpatialDataset(spark)
    ds.add_points("pts", pts, {"global": Scale([2.0, 0.5], ("x", "y"))})
    ds.add_labels("cells", labels, {"global": Scale([1.0, 1.0], ("y", "x"))})
    p = str(tmp_path / "store3.zarr")
    write_zarr_store(
        ds,
        p,
        raster_meta={"cells": RasterMeta(height=20, width=20, tile=16, dtype="i8")},
        zarr_format=3,
    )
    # v3 surface: zarr.json everywhere, no v2 documents
    root = json.load(open(os.path.join(p, "zarr.json")))
    assert root["node_type"] == "group"
    assert root["attributes"]["spatialdata_attrs"]["version"] == "0.2"
    assert not os.path.exists(os.path.join(p, ".zgroup"))
    assert json.load(open(os.path.join(p, "labels", "cells", "0", "zarr.json")))["node_type"] == "array"

    back = read_zarr_store(spark, p)
    assert sorted(r["id"] for r in back.points["pts"].collect()) == list(range(12))
    got = {(r["y"], r["x"]): r["label"] for r in back.labels["cells"].collect()}
    assert got == {(y, x): (y * 3 + x) % 4 + 1 for y in range(20) for x in range(20)}
    m = back.get_transformation("pts", "global").to_affine_matrix(("x", "y"), ("x", "y"))
    assert np.allclose(m, np.diag([2.0, 0.5, 1.0]))


def test_v3_container_over_http(spark, tmp_path):
    """v3 store read through the no-listing http fetcher: hierarchy via
    consolidated metadata (which indexes zarr.json documents)."""
    import functools
    import http.server
    import threading

    from spatialdata_spark.catalog import SpatialDataset
    from spatialdata_spark.transformations import Identity

    pts = spark.createDataFrame([(1, 2.0, 3.0), (2, 4.0, 5.0)], "id long, x double, y double")
    ds = SpatialDataset(spark).add_points("pts", pts, {"global": Identity()})
    p = str(tmp_path / "store3.zarr")
    write_zarr_store(ds, p, zarr_format=3)

    handler = functools.partial(http.server.SimpleHTTPRequestHandler, directory=str(tmp_path))
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}/store3.zarr"
        back = read_zarr_store(spark, url)
        assert sorted(r["id"] for r in back.points["pts"].collect()) == [1, 2]
    finally:
        srv.shutdown()


# ---------------------------------------------------------------------------
# sharding_indexed
# ---------------------------------------------------------------------------


def _write_v3_sharded_store(path, a, shard_shape, inner_shape, inner_codec=None):
    """Hand-assemble a sharded v3 array from the PUBLIC spec: C-order
    inner-chunk grid per shard, little-endian (offset, nbytes) uint64
    index pairs + crc32c at the END of the shard — built with struct
    here, NOT with the library's own writer."""
    import gzip as _gzip
    import struct

    from spatialdata_spark.sources.crc32c import crc32c

    os.makedirs(path, exist_ok=True)
    inner_codecs = [{"name": "bytes", "configuration": {"endian": "little"}}]
    if inner_codec == "gzip":
        inner_codecs.append({"name": "gzip", "configuration": {"level": 5}})
    doc = {
        "zarr_format": 3,
        "node_type": "array",
        "shape": list(a.shape),
        "data_type": "float64",
        "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": list(shard_shape)}},
        "chunk_key_encoding": {"name": "default", "configuration": {"separator": "/"}},
        "fill_value": 0,
        "codecs": [
            {
                "name": "sharding_indexed",
                "configuration": {
                    "chunk_shape": list(inner_shape),
                    "codecs": inner_codecs,
                    "index_codecs": [
                        {"name": "bytes", "configuration": {"endian": "little"}},
                        {"name": "crc32c"},
                    ],
                    "index_location": "end",
                },
            }
        ],
        "attributes": {},
    }
    with open(os.path.join(path, "zarr.json"), "w") as f:
        json.dump(doc, f)

    ndim = len(a.shape)
    n_shards = [-(-s // c) for s, c in zip(a.shape, shard_shape)]
    inner_per = [s // i for s, i in zip(shard_shape, inner_shape)]
    import itertools

    for shard_coord in itertools.product(*[range(n) for n in n_shards]):
        payloads = []
        for inner_coord in itertools.product(*[range(n) for n in inner_per]):
            sl = tuple(
                slice(
                    sc * cs + icc * ics,
                    sc * cs + (icc + 1) * ics,
                )
                for sc, cs, icc, ics in zip(shard_coord, shard_shape, inner_coord, inner_shape)
            )
            block = np.ascontiguousarray(a[sl], dtype="<f8").tobytes()
            if inner_codec == "gzip":
                block = _gzip.compress(block)
            payloads.append(block)
        body = bytearray()
        entries = []
        for pl in payloads:
            entries.append((len(body), len(pl)))
            body += pl
        index = b"".join(struct.pack("<QQ", o, n) for o, n in entries)
        index += struct.pack("<I", crc32c(index))
        key = "c/" + "/".join(str(c) for c in shard_coord)
        full = os.path.join(path, *key.split("/"))
        os.makedirs(os.path.dirname(full), exist_ok=True)
        with open(full, "wb") as f:
            f.write(bytes(body) + index)


def test_sharded_v3_read_2d(spark, tmp_path):
    from spatialdata_spark.operators.raster import tiles_to_long
    from spatialdata_spark.sources.zarrio import read_zarr_tiles

    a = np.arange(64, dtype=np.float64).reshape(8, 8)
    p = str(tmp_path / "sharded")
    # shards of 4x4 holding 2x2 inner chunks of 2x2
    _write_v3_sharded_store(p, a, (4, 4), (2, 2))
    tiles, meta = read_zarr_tiles(spark, p)
    assert meta.tile == 2 and meta.height == 8 and meta.width == 8
    long = tiles_to_long(tiles, meta).toPandas()
    got = np.zeros((8, 8))
    for r in long.itertuples():
        got[int(r.y), int(r.x)] = r.value
    assert np.array_equal(got, a)


def test_sharded_v3_read_3d_gzip_inner(spark, tmp_path):
    from spatialdata_spark.operators.raster import tiles_to_long
    from spatialdata_spark.sources.zarrio import read_zarr_tiles

    a = (np.arange(2 * 8 * 8, dtype=np.float64) ** 1.5).reshape(2, 8, 8)
    p = str(tmp_path / "sharded3d")
    _write_v3_sharded_store(p, a, (1, 8, 4), (1, 4, 4), inner_codec="gzip")
    tiles, meta = read_zarr_tiles(spark, p)
    assert meta.tile == 4 and meta.n_channels == 2
    long = tiles_to_long(tiles, meta).toPandas()
    got = np.zeros((2, 8, 8))
    for r in long.itertuples():
        got[int(r.c), int(r.y), int(r.x)] = r.value
    assert np.allclose(got, a)


def test_shard_index_crc_corruption_raises(spark, tmp_path):
    from spatialdata_spark.sources.zarrio import read_zarr_tiles

    a = np.arange(16, dtype=np.float64).reshape(4, 4)
    p = str(tmp_path / "shardbad")
    _write_v3_sharded_store(p, a, (4, 4), (2, 2))
    shard_file = os.path.join(p, "c", "0", "0")
    blob = bytearray(open(shard_file, "rb").read())
    blob[-1] ^= 0xFF  # corrupt the index crc
    open(shard_file, "wb").write(bytes(blob))
    tiles, _ = read_zarr_tiles(spark, p)
    with pytest.raises(Exception, match="crc32c mismatch"):
        tiles.collect()


def test_shard_missing_inner_chunk_is_fill(spark, tmp_path):
    import struct

    from spatialdata_spark.operators.raster import tiles_to_long
    from spatialdata_spark.sources import zarr3
    from spatialdata_spark.sources.zarrio import read_zarr_tiles

    # build a shard with one MISSING inner chunk via the library writer
    # (round-trips build_shard against the spec-built parse path)
    a = np.arange(16, dtype=np.float64).reshape(4, 4)
    p = str(tmp_path / "shardmiss")
    _write_v3_sharded_store(p, a, (4, 4), (2, 2))
    blocks = [
        np.ascontiguousarray(a[:2, :2], dtype="<f8").tobytes(),
        None,  # (0,1) missing -> fill
        np.ascontiguousarray(a[2:, :2], dtype="<f8").tobytes(),
        np.ascontiguousarray(a[2:, 2:], dtype="<f8").tobytes(),
    ]
    shard_file = os.path.join(p, "c", "0", "0")
    open(shard_file, "wb").write(zarr3.build_shard(blocks))
    tiles, meta = read_zarr_tiles(spark, p)
    long = tiles_to_long(tiles, meta).toPandas()
    got = np.zeros((4, 4))
    for r in long.itertuples():
        got[int(r.y), int(r.x)] = r.value
    want = a.copy()
    want[:2, 2:] = 0.0
    assert np.array_equal(got, want)


def test_crc32c_rfc7143_vectors():
    from spatialdata_spark.sources.crc32c import crc32c

    assert crc32c(b"\x00" * 32) == 0x8A9136AA
    assert crc32c(b"\xff" * 32) == 0x62A8AB43
    assert crc32c(bytes(range(32))) == 0x46DD794E
    assert crc32c(bytes(range(31, -1, -1))) == 0x113FDB5C


def test_sharded_write_read_roundtrip(spark, tmp_path):
    """Distributed sharded WRITE: tiles regroup on shard coords, each
    task writes one sharding_indexed shard; the store then reads back
    through the (spec-pinned) sharded read path."""
    from spatialdata_spark.operators.raster import RasterMeta, long_to_tiles, tiles_to_long
    from spatialdata_spark.sources.zarrio import read_zarr_tiles, write_tiles_to_zarr

    a = (np.arange(12 * 12, dtype=np.float64) * 3.5).reshape(12, 12)
    meta = RasterMeta(height=12, width=12, tile=3, dtype="f8", n_channels=1)
    rows = [
        (0, 0, int(y), int(x), float(a[y, x]))
        for y in range(12)
        for x in range(12)
    ]
    long = spark.createDataFrame(rows, "scale int, c int, y long, x long, value double")
    tiles = long_to_tiles(long, meta)
    p = str(tmp_path / "shardout")
    n = write_tiles_to_zarr(tiles, meta, p, compressor="zstd", zarr_format=3, shard=2)
    assert n == 16  # 4x4 tile grid
    # store has 4 shard objects (2x2 shard grid), not 16 chunk objects
    shard_files = [
        os.path.join(r, f)
        for r, _, fs in os.walk(os.path.join(p, "c"))
        for f in fs
    ]
    assert len(shard_files) == 4
    tiles2, meta2 = read_zarr_tiles(spark, p)
    assert meta2.tile == 3
    got = np.zeros((12, 12))
    for r in tiles_to_long(tiles2, meta2).toPandas().itertuples():
        got[int(r.y), int(r.x)] = r.value
    assert np.array_equal(got, a)


def test_sharded_write_requires_v3(spark, tmp_path):
    from spatialdata_spark.operators.raster import RasterMeta
    from spatialdata_spark.sources.zarrio import write_tiles_to_zarr

    meta = RasterMeta(height=4, width=4, tile=2, dtype="f8", n_channels=1)
    with pytest.raises(ValueError, match="zarr_format=3"):
        write_tiles_to_zarr(
            spark.createDataFrame([], "scale int, c int, ty long, tx long, tile binary"),
            meta, str(tmp_path / "x"), shard=2,
        )


def test_tile_box_selective_read_sharded_and_plain(spark, tmp_path):
    """tile_box prunes at every level: plain stores prune chunk keys;
    sharded stores prune shards AND inner chunks (via range reads of
    index + wanted chunks only)."""
    from spatialdata_spark.operators.raster import tiles_to_long
    from spatialdata_spark.sources.zarrio import read_zarr_tiles, zarr_write_array

    a = np.arange(64, dtype=np.float64).reshape(8, 8)

    # sharded store: 4x4 shards of 2x2 inner chunks
    p1 = str(tmp_path / "sh")
    _write_v3_sharded_store(p1, a, (4, 4), (2, 2))
    tiles, meta = read_zarr_tiles(spark, p1, tile_box=(1, 2, 1, 2))
    got = tiles.select("ty", "tx").distinct().collect()
    coords = sorted((r["ty"], r["tx"]) for r in got)
    assert coords == [(1, 1), (1, 2), (2, 1), (2, 2)]
    long = tiles_to_long(tiles, meta).toPandas()
    sub = {(int(r.y), int(r.x)): r.value for r in long.itertuples()}
    for y in range(2, 6):
        for x in range(2, 6):
            assert sub[(y, x)] == a[y, x]

    # plain v2 store: key pruning
    p2 = str(tmp_path / "plain")
    zarr_write_array(p2, a, chunks=(2, 2), compressor="zlib")
    tiles2, _ = read_zarr_tiles(spark, p2, tile_box=(0, 0, 3, 3))
    coords2 = sorted((r["ty"], r["tx"]) for r in tiles2.select("ty", "tx").collect())
    assert coords2 == [(0, 3)]


def test_fetcher_get_range_local(tmp_path):
    from spatialdata_spark.sources.fetch import LocalFetcher

    f = tmp_path / "blob.bin"
    f.write_bytes(bytes(range(100)))
    fx = LocalFetcher(str(tmp_path))
    assert fx.get_range("blob.bin", 10, 5) == bytes(range(10, 15))
    assert fx.get_range("blob.bin", -4) == bytes(range(96, 100))
    assert fx.get_range("blob.bin", 90) == bytes(range(90, 100))
    assert fx.get_range("missing.bin", 0, 4) is None
