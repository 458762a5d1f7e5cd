"""Zarr v2 / OME-NGFF store IO tests (pure-stdlib zarr implementation)."""

from __future__ import annotations

import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from spatialdata_spark.sources.zarrio import (
    read_zarr_store,
    read_zarr_tiles,
    write_tiles_to_zarr,
    write_zarr_store,
    zarr_read_array,
    zarr_write_array,
)


def test_array_roundtrip_codecs(tmp_path):
    rng = np.random.default_rng(0)
    for codec in [None, "zlib", "gzip", "bz2"]:
        a = rng.standard_normal((7, 11)).astype("f8")
        p = str(tmp_path / f"arr_{codec}")
        zarr_write_array(p, a, chunks=(4, 4), compressor=codec)
        assert np.array_equal(zarr_read_array(p), a)
        # spec-valid v2 metadata on disk
        meta = json.load(open(os.path.join(p, ".zarray")))
        assert meta["zarr_format"] == 2 and meta["chunks"] == [4, 4]


def test_unsupported_compressor_is_a_clear_error(tmp_path):
    p = tmp_path / "lzma_arr"
    p.mkdir()
    (p / ".zarray").write_text(
        json.dumps(
            {
                "zarr_format": 2,
                "shape": [2, 2],
                "chunks": [2, 2],
                "dtype": "<f8",
                "compressor": {"id": "lzma"},
                "fill_value": 0,
                "order": "C",
                "filters": None,
            }
        )
    )
    with pytest.raises(ValueError, match="lzma"):
        zarr_read_array(str(p))


def test_missing_chunks_are_fill_value(tmp_path):
    a = np.arange(16, dtype="f8").reshape(4, 4)
    p = str(tmp_path / "arr")
    zarr_write_array(p, a, chunks=(2, 2))
    os.remove(os.path.join(p, "1.1"))  # drop the last chunk
    out = zarr_read_array(p)
    assert np.array_equal(out[:2, :], a[:2, :])
    assert (out[2:, 2:] == 0).all()


def test_tiles_zarr_roundtrip_distributed(spark, tmp_path):
    from spatialdata_spark.operators.raster import RasterMeta, long_to_tiles, tiles_to_long

    meta = RasterMeta(height=70, width=50, tile=32, dtype="f8")
    rows = [(0, y, x, float(y * 100 + x)) for y in range(0, 70, 3) for x in range(0, 50, 7)]
    long_df = spark.createDataFrame(rows, "c int, y long, x long, value double")
    tiles = long_to_tiles(long_df, meta)
    p = str(tmp_path / "raster0")
    n = write_tiles_to_zarr(tiles, meta, p, compressor="zlib")
    assert n == 6  # ceil(70/32) * ceil(50/32) tiles
    back, meta2 = read_zarr_tiles(spark, p)
    assert (meta2.height, meta2.width, meta2.tile) == (70, 50, 32)
    got = {
        (r["y"], r["x"]): r["value"]
        for r in tiles_to_long(back, meta2).filter(F.col("value") != 0).collect()
    }
    exp = {(y, x): v for _, y, x, v in rows if v != 0}
    assert got == exp


def test_container_store_roundtrip(spark, tmp_path):
    from spatialdata_spark.catalog import SpatialDataset
    from spatialdata_spark.operators.raster import RasterMeta
    from spatialdata_spark.transformations import Scale, Sequence, Translation

    pts = spark.createDataFrame([(i, float(i), float(2 * i)) for i in range(20)], "id long, x double, y double")
    labels = spark.createDataFrame(
        [(y, x, (y * 7 + x) % 5 + 1) for y in range(40) for x in range(30)], "y long, x long, label long"
    )
    table = spark.createDataFrame([(1, "cells", 3.5)], "instance_id long, region string, v double")
    t = Sequence([Scale([2.0, 2.0], ("x", "y")), Translation([1.0, -1.0], ("x", "y"))])

    ds = SpatialDataset(spark)
    ds.add_points("pts", pts, {"global": t})
    ds.add_labels("cells", labels, {"global": Scale([1.0, 1.0], ("y", "x"))})
    ds.add_table("tab", table, region="cells")

    p = str(tmp_path / "store.zarr")
    write_zarr_store(ds, p, raster_meta={"cells": RasterMeta(height=40, width=30, tile=32, dtype="i8")})

    # spec surface: zarr group documents exist
    assert json.load(open(os.path.join(p, ".zgroup")))["zarr_format"] == 2
    root_attrs = json.load(open(os.path.join(p, ".zattrs")))
    assert root_attrs["spatialdata_attrs"]["version"] == "0.1"
    assert os.path.exists(os.path.join(p, "labels", "cells", "0", ".zarray"))

    back = read_zarr_store(spark, p)
    assert sorted(r["id"] for r in back.points["pts"].collect()) == list(range(20))
    got_labels = {(r["y"], r["x"]): r["label"] for r in back.labels["cells"].collect()}
    exp_labels = {(y, x): (y * 7 + x) % 5 + 1 for y in range(40) for x in range(30)}
    assert got_labels == exp_labels
    # transform round-trips through the NGFF dict form
    m0 = ds.get_transformation("pts", "global").to_affine_matrix(("x", "y"), ("x", "y"))
    m1 = back.get_transformation("pts", "global").to_affine_matrix(("x", "y"), ("x", "y"))
    assert np.allclose(m0, m1)
    assert back.table_meta["tab"].region == ["cells"]

    # selection + bad-file tolerance
    only_pts = read_zarr_store(spark, p, selection=("points",))
    assert only_pts.element_names() == ["pts"]
    os.remove(os.path.join(p, "points", "pts", ".zattrs"))
    import shutil

    shutil.rmtree(os.path.join(p, "points", "pts", "points.parquet"))
    with pytest.warns(UserWarning):
        tolerant = read_zarr_store(spark, p, on_bad_files="warn")
    assert "pts" not in tolerant.element_names()


def test_consolidated_metadata(spark, tmp_path):
    from spatialdata_spark.catalog import SpatialDataset
    from spatialdata_spark.sources.zarrio import read_consolidated_doc, read_zarr_store
    from spatialdata_spark.transformations import Identity

    pts = spark.createDataFrame([(1, 2.0, 3.0)], "id long, x double, y double")
    ds = SpatialDataset(spark).add_points("pts", pts, {"global": Identity()})
    p = str(tmp_path / "store.zarr")
    ds.write_zarr(p)
    doc = read_consolidated_doc(p)
    assert doc is not None
    meta = doc["metadata"]
    assert ".zgroup" in meta
    assert "points/pts/.zattrs" in meta
    # reading resolves attrs from the consolidated doc even when the
    # per-group sidecar is gone
    os.remove(os.path.join(p, "points", "pts", ".zattrs"))
    back = read_zarr_store(spark, p)
    assert "global" in back.transforms["pts"]


def test_reference_style_geoparquet_shapes(spark, tmp_path):
    """A shapes.parquet laid out the way the reference writes it
    (geometry WKB column + radius + persisted index, ShapesFormatV02+)
    normalizes into the denormalized shapes schema on zarr read."""
    from spatialdata_spark.geometry.wkb import encode_point, encode_polygon
    from spatialdata_spark.sources.zarrio import read_zarr_store, write_group

    ring = np.array([[0.0, 0.0], [4.0, 0.0], [4.0, 3.0], [0.0, 3.0]])
    rows = [
        (10, bytes(encode_point(5.0, 6.0)), 2.0),
        (11, bytes(encode_polygon([ring])), None),
    ]
    df = spark.createDataFrame(rows, "__index_level_0__ long, geometry binary, radius double")
    p = tmp_path / "refstore"
    gpath = p / "shapes" / "cells"
    df.coalesce(1).write.parquet(str(gpath / "shapes.parquet"))
    write_group(str(p), {"spatialdata_attrs": {"version": "0.1"}})
    write_group(str(p / "shapes"))
    write_group(str(gpath), {"spatialdata_attrs": {"version": "0.1"}})

    ds = read_zarr_store(spark, str(p))
    got = {r["shape_id"]: r for r in ds.shapes["cells"].collect()}
    assert got[10]["kind"] == "point" and got[10]["minx"] == 3.0 and got[10]["maxy"] == 8.0
    assert got[11]["kind"] == "polygon" and got[11]["maxx"] == 4.0 and got[11]["radius"] is None


def test_zarr_tiles_feed_bbox_query(spark, tmp_path):
    """Chunks decoded from a zarr store flow straight into the tile
    bbox query — the zarr layer integrates with the operator stack, not
    just with itself."""
    from spatialdata_spark.operators.raster import (
        RasterMeta,
        bounding_box_query_tiles,
        long_to_tiles,
        tiles_to_long,
    )
    from spatialdata_spark.sources.zarrio import read_zarr_tiles, write_tiles_to_zarr

    meta = RasterMeta(height=80, width=80, tile=32, dtype="f8")
    rows = [(0, y, x, float(y * 1000 + x)) for y in range(80) for x in range(0, 80, 5)]
    long_df = spark.createDataFrame(rows, "c int, y long, x long, value double")
    p = str(tmp_path / "arr")
    write_tiles_to_zarr(long_to_tiles(long_df, meta), meta, p)

    tiles, meta2 = read_zarr_tiles(spark, p)
    q = bounding_box_query_tiles(tiles, meta2, 10, 5, 40, 41)
    got = {
        (r["y"], r["x"]): r["value"]
        for r in tiles_to_long(q, meta2).filter(F.col("value") != 0).collect()
    }
    exp = {
        (y, x): float(y * 1000 + x)
        for y in range(10, 40)
        for x in range(5, 41, 5)
        if y * 1000 + x != 0
    }
    assert got == exp


FIXDIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")


def _fixture_expected():
    yy, xx = np.mgrid[0:8, 0:8].astype(np.float64)
    return {
        (0, 0): np.full((8, 8), 7.0),
        (0, 1): yy * 10.0 + xx,
        (1, 0): xx * 2.0 + 1.0,
        (1, 1): yy - xx,
    }


def test_blosc_fixture_store_content_hash(spark):
    """Committed blosc-lz4 chunk bytes (incl. a hand-encoded LZ4 match
    stream and a memcpyed chunk) decode through the distributed tile
    reader to the exact expected pixels (reference writes blosc by
    default: _io/io_raster.py:350-384)."""
    p = os.path.join(FIXDIR, "blosc_store", "image", "0")
    tiles, meta = read_zarr_tiles(spark, p)
    assert (meta.height, meta.width, meta.tile, meta.n_channels) == (16, 16, 8, 1)
    got = {
        (r["ty"], r["tx"]): np.frombuffer(bytes(r["tile"]), dtype="f8").reshape(8, 8)
        for r in tiles.collect()
    }
    exp = _fixture_expected()
    assert set(got) == set(exp)
    for k in exp:
        assert np.array_equal(got[k], exp[k]), k
    import hashlib

    digest = hashlib.sha256(
        b"".join(got[k].tobytes() for k in sorted(got))
    ).hexdigest()
    assert digest == "b0bac531c623f2371c9969f1481dec7cb5b17b905c301df4cc97cbe2bf84957e"


def test_nested_dimension_separator_store(spark):
    """'/'-nested chunk directories (the ome-zarr NGFF v0.4 layout) are
    listed and decoded; same pixel content as the flat fixture."""
    p = os.path.join(FIXDIR, "nested_store", "image", "0")
    tiles, meta = read_zarr_tiles(spark, p)
    got = {
        (r["ty"], r["tx"]): np.frombuffer(bytes(r["tile"]), dtype="f8").reshape(8, 8)
        for r in tiles.collect()
    }
    exp = _fixture_expected()
    assert set(got) == set(exp)
    for k in exp:
        assert np.array_equal(got[k], exp[k]), k


def test_separator_mismatch_is_an_error(spark, tmp_path):
    """Chunks laid out nested but .zarray claiming '.' (or vice versa)
    raise instead of silently returning an empty raster."""
    import shutil

    src = os.path.join(FIXDIR, "nested_store", "image", "0")
    dst = str(tmp_path / "bad")
    shutil.copytree(src, dst)
    meta = json.load(open(os.path.join(dst, ".zarray")))
    del meta["dimension_separator"]  # now claims flat '.'
    json.dump(meta, open(os.path.join(dst, ".zarray"), "w"))
    with pytest.raises(ValueError, match="dimension_separator"):
        read_zarr_tiles(spark, dst)


def test_blosc_array_roundtrip(tmp_path):
    rng = np.random.default_rng(3)
    a = (rng.standard_normal((13, 9)) * 100).astype("<i4")
    p = str(tmp_path / "blosc_arr")
    zarr_write_array(p, a, chunks=(8, 8), compressor="blosc")
    meta = json.load(open(os.path.join(p, ".zarray")))
    assert meta["compressor"]["id"] == "blosc"
    assert np.array_equal(zarr_read_array(p), a)


def test_labels_written_2d_ngff_conformant(spark, tmp_path):
    """Labels arrays on disk are true 2-d (y, x) with 2-part chunk keys,
    matching the 2-axis multiscales metadata external readers validate."""
    from spatialdata_spark.catalog import SpatialDataset
    from spatialdata_spark.operators.raster import RasterMeta

    labels = spark.createDataFrame(
        [(y, x, (y + x) % 4 + 1) for y in range(20) for x in range(20)], "y long, x long, label long"
    )
    ds = SpatialDataset(spark)
    ds.add_labels("cells", labels)
    p = str(tmp_path / "store.zarr")
    write_zarr_store(ds, p, raster_meta={"cells": RasterMeta(height=20, width=20, tile=16, dtype="i8")})
    apath = os.path.join(p, "labels", "cells", "0")
    meta = json.load(open(os.path.join(apath, ".zarray")))
    attrs = json.load(open(os.path.join(p, "labels", "cells", ".zattrs")))
    axes = [a["name"] for a in attrs["multiscales"][0]["axes"]]
    assert axes == ["y", "x"]
    assert len(meta["shape"]) == 2 == len(meta["chunks"])  # ndim matches axes
    chunk_names = [n for n in os.listdir(apath) if not n.startswith(".")]
    assert chunk_names and all(len(n.split(".")) == 2 for n in chunk_names)
    back = read_zarr_store(spark, p)
    got = {(r["y"], r["x"]): r["label"] for r in back.labels["cells"].collect()}
    assert got == {(y, x): (y + x) % 4 + 1 for y in range(20) for x in range(20)}
