"""Zarr v2 / OME-NGFF store IO — pure stdlib + Spark.

The container has no ``zarr`` package, so this module implements the
Zarr v2 *format* directly (it is JSON metadata plus one file per
chunk): ``.zgroup`` / ``.zarray`` / ``.zattrs`` documents and C-order
chunk files compressed with a stdlib codec.  Spec reference: the
public Zarr v2 storage specification; store layout reference:
``/root/reference/src/spatialdata/_io/io_zarr.py:125-235`` (element
group dispatch, selection, on_bad_files) and ``_io/io_raster.py``
(NGFF multiscales metadata), re-expressed Spark-first:

* **Chunks are the unit of distribution.** Reading a raster lists the
  chunk keys (driver, metadata-only), parallelizes the key list, and
  each executor decodes its chunks straight into the repo's dense tile
  rows — the Spark analog of dask's lazy per-chunk graph.  Writing
  reverses it: each executor encodes and writes its own tiles; the
  driver writes only JSON metadata.
* **Codecs**: raw, zlib, gzip and bz2 (stdlib); blosc — the
  zarr-python default — and bare zstd through pyarrow's bundled codecs
  (``sources/blosc.py``).  Any other compressor fails with a clear
  error naming it rather than garbage data.
* **Points / shapes / tables** live as parquet inside the store
  (matching the reference's V02+ formats: ``points.parquet`` /
  ``shapes.parquet``), readable by any Spark/DuckDB/pandas directly.
* Transformations are serialized in the NGFF dict form
  (type/payload + input/output coordinate systems) under the same
  attrs keys the reference uses (``coordinateTransformations`` on
  non-raster groups, inside ``multiscales[0]`` for rasters).
"""

from __future__ import annotations

import bz2
import gzip
import json
import os
import zlib

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spatialdata_spark.operators.raster import TILE_SCHEMA, RasterMeta, long_to_tiles, tiles_to_long
from spatialdata_spark.transformations import BaseTransformation

ZARR_FORMAT = 2
_SDATA_VERSION = "0.1"


# ---------------------------------------------------------------------------
# codecs + JSON documents
# ---------------------------------------------------------------------------


def _compress(codec: str | None, buf: bytes, typesize: int = 1) -> bytes:
    if codec is None:
        return buf
    if codec == "zlib":
        return zlib.compress(buf)
    if codec == "gzip":
        return gzip.compress(buf)
    if codec == "bz2":
        return bz2.compress(buf)
    if codec == "blosc":
        from spatialdata_spark.sources.blosc import blosc_compress

        return blosc_compress(buf, typesize=typesize, cname="lz4", shuffle=1 if typesize > 1 else 0)
    if codec == "zstd":
        # one frame from pyarrow's bundled libzstd, which writes no
        # Content_Checksum; stamp one on (descriptor bit 2, then the low
        # 32 bits of XXH64(content, 0) after the last block) so chunk
        # corruption at rest surfaces as a decode error, not silent bad
        # pixels
        from spatialdata_spark.sources.blosc import native_compress
        from spatialdata_spark.sources.xxhash import xxh64

        frame = bytearray(native_compress("zstd", buf))
        frame[4] |= 0x04
        return bytes(frame) + (xxh64(buf) & 0xFFFFFFFF).to_bytes(4, "little")
    raise ValueError(f"unsupported zarr codec {codec!r}")


def _decompress(codec: str | None, buf: bytes, size: int) -> bytes:
    """Decode one chunk; ``size`` is its raw byte count (chunk shape ×
    itemsize — zarr pads edge chunks, so it is exact)."""
    if codec is None:
        return buf
    if codec == "zlib":
        return zlib.decompress(buf)
    if codec == "gzip":
        return gzip.decompress(buf)
    if codec == "bz2":
        return bz2.decompress(buf)
    if codec == "blosc":
        # the reference's default compressor (_io/io_raster.py:350-384);
        # the inner lz4/zstd/snappy streams go to pyarrow's bundled codecs
        from spatialdata_spark.sources.blosc import blosc_decompress

        return blosc_decompress(buf)
    if codec == "zstd":
        # bare zstd frames (numcodecs.Zstd / zarr v3 zstd codec) through
        # pyarrow's bundled libzstd, which verifies every Content_Checksum
        from spatialdata_spark.sources.blosc import native_decompress

        return native_decompress("zstd", buf, size)
    raise ValueError(
        f"unsupported zarr compressor {codec!r}: this store needs a codec "
        "library not present in this environment; re-write the store with "
        "blosc/zstd/zlib/gzip/raw chunks to read it here"
    )


def _codec_of(compressor: dict | None) -> str | None:
    if compressor is None:
        return None
    cid = compressor.get("id")
    if cid in ("zlib", "gzip", "bz2", "blosc", "zstd"):
        return cid
    raise ValueError(
        f"unsupported zarr compressor {cid!r}: this store needs a codec "
        "library not present in this environment; re-write the store with "
        "blosc/zstd/zlib/gzip/raw chunks to read it here"
    )


def _separator_of(ameta: dict) -> str:
    """Chunk-key separator from .zarray: '.' (flat, v2 default) or '/'
    (nested, what ome-zarr / NGFF v0.4 writers emit)."""
    sep = ameta.get("dimension_separator") or "."
    if sep not in (".", "/"):
        raise ValueError(f"unsupported zarr dimension_separator {sep!r}")
    return sep


def _list_chunk_keys(path: str, sep: str) -> list[tuple[tuple[int, ...], str]]:
    """All chunk files under a LOCAL array directory as (grid index,
    relative file path).  Flat '.'-separated names for sep='.', nested
    directories for sep='/'."""
    out: list[tuple[tuple[int, ...], str]] = []
    if sep == ".":
        for name in os.listdir(path):
            if name.startswith("."):
                continue
            try:
                nums = tuple(int(p) for p in name.split("."))
            except ValueError:
                continue
            out.append((nums, name))
    else:
        for root, _dirs, files in os.walk(path):
            rel_dir = os.path.relpath(root, path)
            for fn in files:
                if fn.startswith("."):
                    continue
                rel = fn if rel_dir == "." else f"{rel_dir.replace(os.sep, '/')}/{fn}"
                try:
                    nums = tuple(int(p) for p in rel.split("/"))
                except ValueError:
                    continue
                out.append((nums, rel))
    return out


def _list_chunk_keys_via(fetcher, sep: str) -> list[tuple[tuple[int, ...], str]]:
    """Chunk keys through the fetcher interface — local directories and
    listable object stores (s3/gs ListObjects) share this path; the
    LocalFetcher fast-path keeps the plain os.walk."""
    from spatialdata_spark.sources.fetch import LocalFetcher

    if isinstance(fetcher, LocalFetcher):
        return _list_chunk_keys(fetcher.root, sep)
    out: list[tuple[tuple[int, ...], str]] = []
    if sep == ".":
        for name in fetcher.list_dir("") or []:
            if name.startswith("."):
                continue
            try:
                nums = tuple(int(p) for p in name.split("."))
            except ValueError:
                continue
            out.append((nums, name))
        return out

    def walk(rel: str) -> None:
        for name in fetcher.list_dir(rel) or []:
            if name.startswith("."):
                continue
            sub = f"{rel}/{name}" if rel else name
            try:
                int(name)
            except ValueError:
                continue  # chunk paths are all-integer segments
            if fetcher.is_dir(sub):
                walk(sub)
            else:
                out.append((tuple(int(p) for p in sub.split("/")), sub))

    walk("")
    return out


def _compressor_doc(codec: str | None) -> dict | None:
    """The .zarray compressor document for one of our codec names (the
    blosc form is the numcodecs wire schema)."""
    if codec is None:
        return None
    if codec == "blosc":
        return {"id": "blosc", "cname": "lz4", "clevel": 5, "shuffle": 1, "blocksize": 0}
    return {"id": codec}


def _write_json(path: str, doc: dict) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(doc, f, indent=2, sort_keys=True)


def _read_json(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def write_group(path: str, attrs: dict | None = None, zarr_format: int = 2) -> None:
    if zarr_format == 3:
        from spatialdata_spark.sources import zarr3

        _write_json(os.path.join(path, "zarr.json"), zarr3.group_meta(attrs))
        return
    _write_json(os.path.join(path, ".zgroup"), {"zarr_format": ZARR_FORMAT})
    if attrs is not None:
        _write_json(os.path.join(path, ".zattrs"), attrs)


# ---------------------------------------------------------------------------
# driver-side array read/write (small arrays, metadata, tests)
# ---------------------------------------------------------------------------


def zarr_write_array(
    path: str,
    arr: np.ndarray,
    chunks: tuple[int, ...] | None = None,
    compressor: str | None = "zlib",
    attrs: dict | None = None,
    zarr_format: int = 2,
) -> None:
    """Write one array driver-side (small payloads: codebooks, axes,
    test fixtures).  Big rasters go through :func:`write_tiles_to_zarr`
    so executors do the chunk encoding.  ``zarr_format=3`` emits the
    v3 layout (``zarr.json`` + ``c/``-prefixed chunk keys) — reference
    container V02, _io/format.py:56-267."""
    from spatialdata_spark.sources import zarr3

    a = np.ascontiguousarray(arr)
    if chunks is None:
        chunks = a.shape
    if zarr_format == 3:
        # v3 has no raw-zlib codec; gzip is the stdlib equivalent
        eff = "gzip" if compressor == "zlib" else compressor
        meta3 = zarr3.array_meta(a.shape, chunks, a.dtype, eff, attrs)
        _write_json(os.path.join(path, "zarr.json"), meta3)
        keyfn = zarr3.parse_array_meta(meta3)["key"]
    else:
        eff = compressor
        meta = {
            "zarr_format": ZARR_FORMAT,
            "shape": list(a.shape),
            "chunks": list(chunks),
            "dtype": a.dtype.str,
            "compressor": _compressor_doc(compressor),
            "fill_value": 0,
            "order": "C",
            "filters": None,
        }
        _write_json(os.path.join(path, ".zarray"), meta)
        if attrs is not None:
            _write_json(os.path.join(path, ".zattrs"), attrs)

        def keyfn(nums):
            return ".".join(str(k) for k in nums) or "0"

    grid = [range(-(-s // c)) for s, c in zip(a.shape, chunks)]
    idx: list[tuple[int, ...]] = [()]
    for g in grid:
        idx = [t + (i,) for t in idx for i in g]
    for key in idx:
        sl = tuple(slice(k * c, min((k + 1) * c, s)) for k, c, s in zip(key, chunks, a.shape))
        block = a[sl]
        full = np.zeros(chunks, dtype=a.dtype)
        full[tuple(slice(0, b) for b in block.shape)] = block
        name = keyfn(key)
        fpath = os.path.join(path, *name.split("/"))
        os.makedirs(os.path.dirname(fpath), exist_ok=True)
        with open(fpath, "wb") as f:
            f.write(_compress(eff, full.tobytes(), typesize=a.dtype.itemsize))


def zarr_read_array(path: str) -> np.ndarray:
    """Driver-side full read of one zarr v2 array (local path or
    http(s) URL — chunk keys come from the shape/chunks grid, so no
    listing is ever needed; missing chunk = fill_value)."""
    from spatialdata_spark.sources.fetch import fetcher_for

    fetcher = fetcher_for(path)
    meta = fetcher.get_json(".zarray")
    if meta is None:
        doc3 = fetcher.get_json("zarr.json")
        if doc3 is not None:
            from spatialdata_spark.sources import zarr3

            p3 = zarr3.parse_array_meta(doc3)
            shape, chunks, dtype = p3["shape"], p3["chunks"], p3["dtype"]
            codec, keyfn = p3["codec"], p3["key"]
            fill = p3["fill_value"]
        else:
            raise ValueError(f"not a zarr array: {path}")
    else:
        if meta.get("zarr_format") != ZARR_FORMAT:
            raise ValueError(f"not a zarr v2 array: {path}")
        if meta.get("filters"):
            raise ValueError("zarr filters are not supported")
        if meta.get("order", "C") != "C":
            raise ValueError("only C-order zarr arrays are supported")
        shape = tuple(meta["shape"])
        chunks = tuple(meta["chunks"])
        dtype = np.dtype(meta["dtype"])
        codec = _codec_of(meta.get("compressor"))
        sep = _separator_of(meta)
        fill = meta.get("fill_value") or 0

        def keyfn(nums):
            return sep.join(str(k) for k in nums) or "0"

    out = np.full(shape, fill, dtype=dtype)
    grid = [range(-(-s // c)) for s, c in zip(shape, chunks)]
    idx: list[tuple[int, ...]] = [()]
    for g in grid:
        idx = [t + (i,) for t in idx for i in g]
    for key in idx:
        raw = fetcher.get(keyfn(key))
        if raw is None:
            continue  # missing chunk = fill_value
        raw = _decompress(codec, raw, int(np.prod(chunks)) * dtype.itemsize)
        block = np.frombuffer(raw, dtype=dtype).reshape(chunks)
        sl = tuple(slice(k * c, min((k + 1) * c, s)) for k, c, s in zip(key, chunks, shape))
        out[sl] = block[tuple(slice(0, s.stop - s.start) for s in sl)]
    return out


# ---------------------------------------------------------------------------
# distributed raster <-> zarr chunks
# ---------------------------------------------------------------------------


def write_tiles_to_zarr(
    tiles: DataFrame,
    meta: RasterMeta,
    path: str,
    scale: int = 0,
    compressor: str | None = "zlib",
    attrs: dict | None = None,
    squeeze_channel: bool = False,
    zarr_format: int = 2,
    shard: int | None = None,
) -> int:
    """Write one pyramid level's tile table as a zarr array
    ``(c, y, x)`` with chunks ``(1, tile, tile)`` — or, with
    ``squeeze_channel=True`` (single-channel labels), a true 2-d
    ``(y, x)`` array with 2-part chunk keys so the axes count matches
    the NGFF multiscales metadata external readers validate.

    The executors each encode and write their own chunk files (the
    tile grid maps 1:1 onto the zarr chunk grid, so no shuffle); the
    driver writes only the JSON metadata.  Returns the chunk count.

    ``shard=m`` (v3 only) writes ``sharding_indexed`` shards of
    ``m x m`` tiles instead of one object per tile — the store-object
    count drops m², which is what 100 TB object stores need.  One
    regroup shuffle keyed by shard coordinates; each task assembles
    and writes exactly one shard (crc32c-checksummed index).
    """
    h, w = meta.shape_at(scale)
    ts = meta.tile
    dtype = np.dtype(meta.dtype)
    if squeeze_channel and meta.n_channels != 1:
        raise ValueError("squeeze_channel requires a single-channel raster")
    shape2 = [h, w] if squeeze_channel else [meta.n_channels, h, w]
    chunks2 = [ts, ts] if squeeze_channel else [1, ts, ts]
    if shard is not None:
        if zarr_format != 3:
            raise ValueError("sharded writes need zarr_format=3")
        return _write_tiles_sharded(
            tiles, meta, path, scale, compressor, attrs, squeeze_channel,
            int(shard), shape2, chunks2,
        )
    if zarr_format == 3:
        from spatialdata_spark.sources import zarr3

        codec = "gzip" if compressor == "zlib" else compressor
        meta3 = zarr3.array_meta(tuple(shape2), tuple(chunks2), dtype, codec, attrs)
        _write_json(os.path.join(path, "zarr.json"), meta3)
        keyfn = zarr3.parse_array_meta(meta3)["key"]
    else:
        codec = compressor
        arr_meta = {
            "zarr_format": ZARR_FORMAT,
            "shape": shape2,
            "chunks": chunks2,
            "dtype": dtype.str,
            "compressor": _compressor_doc(compressor),
            "fill_value": 0,
            "order": "C",
            "filters": None,
        }
        _write_json(os.path.join(path, ".zarray"), arr_meta)
        if attrs is not None:
            _write_json(os.path.join(path, ".zattrs"), attrs)

        def keyfn(nums):
            return ".".join(str(k) for k in nums)

    itemsize = dtype.itemsize

    def _write_part(rows):
        n = 0
        for row in rows:
            buf = _compress(codec, bytes(row.tile), typesize=itemsize)
            if squeeze_channel:
                name = keyfn((int(row.ty), int(row.tx)))
            else:
                name = keyfn((int(row.c), int(row.ty), int(row.tx)))
            fpath = os.path.join(path, *name.split("/"))
            os.makedirs(os.path.dirname(fpath), exist_ok=True)
            with open(fpath, "wb") as f:
                f.write(buf)
            n += 1
        yield n

    counts = (
        tiles.filter(F.col("scale") == scale)
        .select("c", "ty", "tx", "tile")
        .rdd.mapPartitions(_write_part)
        .collect()
    )
    return int(sum(counts))


def _write_tiles_sharded(
    tiles: DataFrame,
    meta: RasterMeta,
    path: str,
    scale: int,
    compressor: str | None,
    attrs: dict | None,
    squeeze_channel: bool,
    shard: int,
    shape2: list[int],
    chunks2: list[int],
) -> int:
    """Sharded v3 write: tiles regroup once on shard coordinates and
    each group task assembles one ``sharding_indexed`` shard (C-order
    inner grid, crc32c'd index) and writes it.  Returns the number of
    tiles written."""
    import pandas as pd

    from spatialdata_spark.sources import zarr3

    ts = meta.tile
    dtype = np.dtype(meta.dtype)
    codec = "gzip" if compressor == "zlib" else compressor
    if squeeze_channel:
        shard_chunks = [ts * shard, ts * shard]
    else:
        shard_chunks = [1, ts * shard, ts * shard]
    meta3 = zarr3.sharded_array_meta(
        tuple(shape2), tuple(shard_chunks), tuple(chunks2), dtype, codec, attrs
    )
    _write_json(os.path.join(path, "zarr.json"), meta3)
    keyfn = zarr3.parse_array_meta(meta3)["key"]
    itemsize = dtype.itemsize
    sq = squeeze_channel

    def _build(key, pdf):
        c, sy, sx = int(key[0]), int(key[1]), int(key[2])
        by_pos = {
            (int(r.ty) - sy * shard, int(r.tx) - sx * shard): bytes(r.tile)
            for r in pdf.itertuples(index=False)
        }
        payloads = []
        for iy in range(shard):
            for ix in range(shard):
                raw = by_pos.get((iy, ix))
                payloads.append(
                    None if raw is None else _compress(codec, raw, typesize=itemsize)
                )
        name = keyfn((sy, sx) if sq else (c, sy, sx))
        fpath = os.path.join(path, *name.split("/"))
        os.makedirs(os.path.dirname(fpath), exist_ok=True)
        with open(fpath, "wb") as f:
            f.write(zarr3.build_shard(payloads))
        return pd.DataFrame({"n": [len(by_pos)]})

    counts = (
        tiles.filter(F.col("scale") == scale)
        .select(
            "c",
            F.floor(F.col("ty") / shard).cast("long").alias("sy"),
            F.floor(F.col("tx") / shard).cast("long").alias("sx"),
            "ty",
            "tx",
            "tile",
        )
        .groupBy("c", "sy", "sx")
        .applyInPandas(_build, "n long")
        .agg(F.sum("n").alias("n"))
        .collect()
    )
    return int(counts[0]["n"] or 0) if counts else 0


def read_zarr_tiles(
    spark: SparkSession,
    path: str,
    scale: int = 0,
    tile_box: tuple[int, int, int, int] | None = None,
) -> tuple[DataFrame, RasterMeta]:
    """Read a zarr v2 ``(c, y, x)`` (or ``(y, x)``) array as a dense
    tile DataFrame.  The driver reads only ``.zarray`` and the chunk
    *names*; executors open and decode the chunk payloads — on a real
    cluster against object storage this is an embarrassingly parallel
    scan of exactly the chunks that exist.
    """
    from spatialdata_spark.sources.fetch import fetcher_for

    fetcher = fetcher_for(path)
    ameta = fetcher.get_json(".zarray")
    keyfn3 = None
    if ameta is None:
        doc3 = fetcher.get_json("zarr.json")
        if doc3 is None:
            raise ValueError(f"not a zarr array: {path}")
        from spatialdata_spark.sources import zarr3

        p3 = zarr3.parse_array_meta(doc3)
        shape, chunks, dtype = p3["shape"], p3["chunks"], p3["dtype"]
        codec, keyfn3 = p3["codec"], p3["key"]
        shard_info, shard_chunks = p3["shard"], p3["shard_chunks"]
    else:
        if ameta.get("filters"):
            raise ValueError("zarr filters are not supported")
        codec = _codec_of(ameta.get("compressor"))
        shape = tuple(ameta["shape"])
        chunks = tuple(ameta["chunks"])
        dtype = np.dtype(ameta["dtype"])
        shard_info, shard_chunks = None, None
    two_d = len(shape) == 2
    if len(shape) == 2:
        shape = (1,) + shape
        chunks = (1,) + chunks
    if len(shape) != 3 or chunks[0] != 1 or chunks[1] != chunks[2]:
        raise ValueError(
            f"unsupported chunk layout {chunks} for shape {shape}: expected "
            "(1, t, t) raster chunks — re-chunk on write for other layouts"
        )
    ts = int(chunks[1])
    dstr = "f8" if dtype.kind == "f" else "i8"
    meta = RasterMeta(height=int(shape[1]), width=int(shape[2]), tile=ts, dtype=dstr, n_channels=int(shape[0]))
    if shard_info is not None:
        ipd = shard_info["inner_per_dim"]
        ipd3 = (1,) + tuple(ipd) if two_d else tuple(ipd)
        ipd3_outer = ipd3
    else:
        ipd3 = None

    def _in_box(t_y: int, t_x: int) -> bool:
        if tile_box is None:
            return True
        y0, y1, x0, x1 = tile_box
        return y0 <= t_y <= y1 and x0 <= t_x <= x1

    keys = []
    if ameta is not None and fetcher.can_list:
        sep = _separator_of(ameta)
        for nums, rel in _list_chunk_keys_via(fetcher, sep):
            if two_d and len(nums) == 2 and _in_box(nums[0], nums[1]):
                keys.append((0, nums[0], nums[1], rel))
            elif not two_d and len(nums) == 3 and _in_box(nums[1], nums[2]):
                keys.append((nums[0], nums[1], nums[2], rel))
        if not keys and _list_chunk_keys_via(fetcher, "/" if sep == "." else "."):
            raise ValueError(
                f"no chunks found in {path} with dimension_separator {sep!r}, but "
                "chunks exist under the other separator — the store's .zarray "
                "metadata disagrees with its chunk layout"
            )
    else:
        # v3 stores and no-listing (http/object) stores: the chunk-key
        # set is fully determined by the shape/chunks grid; executors
        # skip 404s (missing chunk = fill_value, all-zero tiles are
        # sparse anyway).  For sharded v3 arrays the store object is
        # the SHARD, so the key grid walks shard coordinates and each
        # executor task expands its shard into inner tiles.
        if ameta is not None:
            sep = _separator_of(ameta)

            def keyfn3(nums, _s=sep):
                return _s.join(str(k) for k in nums) or "0"
        unit = chunks
        if shard_info is not None:
            unit = shard_chunks if not two_d else (1,) + tuple(shard_chunks)
        grid = [range(-(-s // c)) for s, c in zip(shape, unit)]
        for c0 in grid[0]:
            for t_y in grid[1]:
                for t_x in grid[2]:
                    if tile_box is not None:
                        if shard_info is None:
                            if not _in_box(t_y, t_x):
                                continue
                        else:
                            # shard coords: keep shards whose inner
                            # tile range intersects the box
                            y0, y1, x0, x1 = tile_box
                            m_y, m_x = ipd3_outer[1], ipd3_outer[2]
                            if (t_y + 1) * m_y - 1 < y0 or t_y * m_y > y1:
                                continue
                            if (t_x + 1) * m_x - 1 < x0 or t_x * m_x > x1:
                                continue
                    nums = (t_y, t_x) if two_d else (c0, t_y, t_x)
                    keys.append((c0, t_y, t_x, keyfn3(nums)))
    kdf = spark.createDataFrame(keys, "c int, ty long, tx long, chunk string")
    src_dtype = dtype

    def _decode(iterator):
        import pandas as pd

        from spatialdata_spark.sources import zarr3 as z3

        for pdf in iterator:
            rows = {"scale": [], "c": [], "ty": [], "tx": [], "tile": []}

            def emit(c, ty, tx, payload):
                payload = _decompress(codec, payload, ts * ts * src_dtype.itemsize)
                a = np.frombuffer(payload, dtype=src_dtype).reshape(ts, ts)
                rows["scale"].append(scale)
                rows["c"].append(int(c))
                rows["ty"].append(int(ty))
                rows["tx"].append(int(tx))
                rows["tile"].append(np.ascontiguousarray(a, dtype=np.dtype(dstr)).tobytes())

            for row in pdf.itertuples(index=False):
                if (
                    shard_info is not None
                    and tile_box is not None
                    and shard_info["index_location"] == "end"
                    and hasattr(fetcher, "get_range")
                ):
                    # selective path: suffix-range the index, then range
                    # ONLY the wanted inner chunks — a bbox query on a
                    # huge shard moves index + matching tiles, not the
                    # whole shard
                    n_inner = ipd3[0] * ipd3[1] * ipd3[2]
                    isize = 16 * n_inner + (4 if shard_info["index_crc32c"] else 0)
                    blob = fetcher.get_range(row.chunk, -isize)
                    if blob is None:
                        continue
                    index = z3.parse_shard_index(blob, n_inner, shard_info)
                    i = 0
                    for ic in range(ipd3[0]):
                        for iy in range(ipd3[1]):
                            for ix in range(ipd3[2]):
                                off, nb = index[i]
                                i += 1
                                g_y = row.ty * ipd3[1] + iy
                                g_x = row.tx * ipd3[2] + ix
                                if off == z3._SHARD_MISSING or not _in_box(g_y, g_x):
                                    continue
                                payload = fetcher.get_range(row.chunk, off, nb)
                                emit(row.c * ipd3[0] + ic, g_y, g_x, payload)
                    continue
                raw = fetcher.get(row.chunk)
                if raw is None:
                    continue  # absent chunk/shard = fill_value
                if shard_info is None:
                    emit(row.c, row.ty, row.tx, raw)
                    continue
                n_inner = ipd3[0] * ipd3[1] * ipd3[2]
                index = z3.parse_shard_index(raw, n_inner, shard_info)
                i = 0
                for ic in range(ipd3[0]):
                    for iy in range(ipd3[1]):
                        for ix in range(ipd3[2]):
                            off, nb = index[i]
                            i += 1
                            g_y = row.ty * ipd3[1] + iy
                            g_x = row.tx * ipd3[2] + ix
                            if off == z3._SHARD_MISSING or not _in_box(g_y, g_x):
                                continue
                            emit(row.c * ipd3[0] + ic, g_y, g_x, raw[off : off + nb])
            yield pd.DataFrame(rows)

    return kdf.mapInPandas(_decode, TILE_SCHEMA), meta


# ---------------------------------------------------------------------------
# NGFF transformation (de)serialization
# ---------------------------------------------------------------------------


def _ngff_cs(name: str, axes: tuple[str, ...]) -> dict:
    return {
        "name": name,
        "axes": [
            {"name": ax, "type": "channel" if ax == "c" else "space"} for ax in axes
        ],
    }


def transformation_to_ngff(
    t: BaseTransformation, input_axes: tuple[str, ...], output_cs: str
) -> dict:
    """Our transformation -> NGFF dict (type + payload + input/output
    coordinate systems), the schema the reference writes
    (transformations/ngff/ngff_transformations.py to_dict)."""
    d = dict(t.to_dict())
    kind = d.pop("type")
    payload: dict
    if kind == "identity":
        payload = {"type": "identity"}
    elif kind == "translation":
        payload = {"type": "translation", "translation": d["translation"]}
    elif kind == "scale":
        payload = {"type": "scale", "scale": d["scale"]}
    elif kind == "affine":
        m = np.asarray(d["matrix"], dtype=float)
        payload = {"type": "affine", "affine": m[:-1, :].tolist()}
    elif kind == "sequence":
        payload = {
            "type": "sequence",
            "transformations": [
                transformation_to_ngff(s, input_axes, output_cs) for s in t.transformations
            ],
        }
    elif kind == "map_axis":
        payload = {"type": "mapAxis", "mapAxis": d["map_axis"]}
    else:
        raise ValueError(f"cannot serialize transformation type {kind!r} to NGFF")
    payload["input"] = _ngff_cs("intrinsic", tuple(input_axes))
    payload["output"] = _ngff_cs(output_cs, tuple(input_axes))
    return payload


def transformation_from_ngff(d: dict) -> tuple[BaseTransformation, str]:
    """NGFF dict -> (transformation, output coordinate-system name)."""
    from spatialdata_spark.transformations import Affine, Identity, MapAxis, Scale, Sequence, Translation

    axes = tuple(a["name"] for a in d.get("input", {}).get("axes", [])) or ("x", "y")
    cs = d.get("output", {}).get("name", "global")
    kind = d["type"]
    if kind == "identity":
        return Identity(), cs
    if kind == "translation":
        return Translation(d["translation"], axes), cs
    if kind == "scale":
        return Scale(d["scale"], axes), cs
    if kind == "affine":
        rows = [list(r) for r in d["affine"]]
        rows.append([0.0] * len(rows[0][:-1]) + [1.0])
        return Affine(rows, axes, axes), cs
    if kind == "sequence":
        parts = [transformation_from_ngff(s)[0] for s in d["transformations"]]
        return Sequence(parts), cs
    if kind == "mapAxis":
        return MapAxis(d["mapAxis"]), cs
    raise ValueError(f"cannot parse NGFF transformation type {kind!r}")


def _transforms_attr(transforms: dict[str, BaseTransformation], axes: tuple[str, ...]) -> list[dict]:
    return [transformation_to_ngff(t, axes, cs) for cs, t in sorted(transforms.items())]


def _transforms_from_attr(items: list[dict]) -> dict[str, BaseTransformation]:
    out: dict[str, BaseTransformation] = {}
    for d in items:
        t, cs = transformation_from_ngff(d)
        out[cs] = t
    return out


def consolidate_metadata(path: str) -> dict:
    """Write zarr v2 *consolidated metadata* (``.zmetadata``): every
    ``.zgroup``/``.zarray``/``.zattrs`` document gathered into one JSON
    file, so a cloud reader resolves the whole hierarchy with a single
    GET (reference analog: _core/spatialdata.py:1478-1492; the format
    is the public zarr v2 consolidated-metadata convention)."""
    meta: dict = {}
    manifest: list[str] = []
    for root, _dirs, files in os.walk(path):
        rel = os.path.relpath(root, path)
        for fn in files:
            relkey = (fn if rel == "." else f"{rel}/{fn}").replace(os.sep, "/")
            if fn in (".zgroup", ".zarray", ".zattrs", "zarr.json"):
                meta[relkey] = _read_json(os.path.join(root, fn))
            elif fn != ".zmetadata":
                manifest.append(relkey)
    # file_manifest is an extension key (zarr readers only consume
    # "metadata"): it names every data file in the store, which is what
    # lets a no-listing client (http/object store) fetch parquet part
    # files — the role fsspec listing plays for the reference
    doc = {
        "zarr_consolidated_format": 1,
        "metadata": meta,
        "file_manifest": sorted(manifest),
    }
    _write_json(os.path.join(path, ".zmetadata"), doc)
    return doc


def read_consolidated_doc(path: str) -> dict | None:
    """The full ``.zmetadata`` document (metadata + file_manifest)."""
    from spatialdata_spark.sources.fetch import fetcher_for

    doc = fetcher_for(path).get_json(".zmetadata")
    if doc is None:
        return None
    if doc.get("zarr_consolidated_format") != 1:
        raise ValueError("unsupported consolidated metadata format")
    return doc


# ---------------------------------------------------------------------------
# container-level store
# ---------------------------------------------------------------------------


def write_zarr_store(
    ds,
    path: str,
    raster_meta: dict[str, RasterMeta] | None = None,
    compressor: str | None = "zlib",
    zarr_format: int = 2,
) -> None:
    """Write a SpatialDataset as an OME-NGFF-style zarr store.

    Layout (reference _io/io_zarr.py / io_points.py / io_shapes.py):
    ``<path>/.zgroup`` + root attrs with ``spatialdata_attrs.version``;
    ``points/<name>/points.parquet``; ``shapes/<name>/shapes.parquet``;
    ``tables/<name>/table.parquet``; ``images|labels/<name>/<level>``
    NGFF multiscale zarr arrays with multiscales metadata.  Raster
    elements (long form) need a :class:`RasterMeta` in ``raster_meta``.
    """
    raster_meta = raster_meta or {}
    if zarr_format not in (2, 3):
        raise ValueError(f"unsupported zarr_format {zarr_format}")
    # container version pairs with the zarr metadata version, mirroring
    # the reference's format matrix (V01 <-> zarr v2, V02 <-> zarr v3;
    # _io/format.py:56-267)
    version = "0.2" if zarr_format == 3 else _SDATA_VERSION
    write_group(path, {"spatialdata_attrs": {"version": version}}, zarr_format)
    for kind in ("points", "shapes", "tables"):
        for name, df in ds.elements[kind].items():
            gpath = os.path.join(path, kind, name)
            leaf = {"points": "points.parquet", "shapes": "shapes.parquet", "tables": "table.parquet"}[kind]
            df.write.mode("overwrite").parquet(os.path.join(gpath, leaf))
            axes = ("x", "y", "z") if "z" in df.columns else ("x", "y")
            attrs: dict = {
                "spatialdata_attrs": {"version": version},
                "coordinateTransformations": _transforms_attr(ds.transforms.get(name, {}), axes),
            }
            if kind == "tables" and name in ds.table_meta:
                tm = ds.table_meta[name]
                attrs["spatialdata_attrs"].update(
                    {"region": tm.region, "region_key": tm.region_key, "instance_key": tm.instance_key}
                )
            write_group(gpath, attrs, zarr_format)
        if ds.elements[kind]:
            write_group(os.path.join(path, kind), zarr_format=zarr_format)
    for kind in ("images", "labels"):
        for name, df in ds.elements[kind].items():
            meta = raster_meta.get(name)
            if meta is None:
                raise ValueError(f"writing raster {name!r} to zarr needs a RasterMeta in raster_meta")
            gpath = os.path.join(path, kind, name)
            is_3d = meta.depth > 1 or "z" in df.columns
            if is_3d:
                # Labels3DModel (z,y,x) / Image3DModel (c,z,y,x) — z-plane
                # chunks (reference models/models.py:428,447)
                axes = ("c", "z", "y", "x") if kind == "images" else ("z", "y", "x")
            else:
                axes = ("c", "y", "x") if kind == "images" else ("y", "x")
            scales = sorted(
                r["scale"] for r in df.select("scale").distinct().collect()
            ) if "scale" in df.columns else [0]
            if "scale" in df.columns and "tile" in df.columns:
                tiles = df
            else:
                long_df = df.withColumnRenamed("label", "value") if "label" in df.columns else df
                if is_3d:
                    from spatialdata_spark.operators.raster import long3d_to_tiles

                    tiles = long3d_to_tiles(long_df, meta)
                else:
                    tiles = long_to_tiles(long_df, meta)
            datasets = []
            for s in scales:
                lvl_path = os.path.join(gpath, str(s))
                # labels are written without the channel axis so the
                # array ndim matches the multiscales axes count (NGFF
                # conformance)
                if is_3d:
                    write_tiles3d_to_zarr(
                        tiles, meta, lvl_path, scale=int(s), compressor=compressor,
                        squeeze_channel=(kind == "labels"), zarr_format=zarr_format,
                    )
                else:
                    write_tiles_to_zarr(
                        tiles, meta, lvl_path, scale=int(s), compressor=compressor,
                        squeeze_channel=(kind == "labels"), zarr_format=zarr_format,
                    )
                datasets.append(
                    {
                        "path": str(s),
                        "coordinateTransformations": [
                            {"type": "scale", "scale": [1.0] * (len(axes) - 2) + [float(meta.scale_factor**s)] * 2}
                        ],
                    }
                )
            attrs = {
                "multiscales": [
                    {
                        "version": "0.4",
                        "axes": [
                            {"name": ax, "type": "channel" if ax == "c" else "space"} for ax in axes
                        ],
                        "datasets": datasets,
                        "coordinateTransformations": _transforms_attr(
                            ds.transforms.get(name, {}), axes
                        ),
                    }
                ],
                "spatialdata_attrs": {"version": version},
            }
            write_group(gpath, attrs, zarr_format)
        if ds.elements[kind]:
            write_group(os.path.join(path, kind), zarr_format=zarr_format)
    consolidate_metadata(path)


def read_zarr_store(
    spark: SparkSession,
    path: str,
    selection: tuple[str, ...] | None = None,
    on_bad_files: str = "error",
):
    """Read an OME-NGFF-style zarr store into a SpatialDataset
    (reference semantics: _io/io_zarr.py:125-235 — element-group
    dispatch, ``selection`` restricting kinds, ``on_bad_files='warn'``
    skipping unreadable elements).  Rasters come back as long-form
    DataFrames (scale 0), decoded chunk-parallel on the executors; the
    full tile tables are available via :func:`read_zarr_tiles`.
    """
    from spatialdata_spark.catalog import SpatialDataset, TableMeta
    from spatialdata_spark.sources.fetch import fetcher_for

    fetcher = fetcher_for(path)
    ds = SpatialDataset(spark)
    kinds = ("images", "labels", "points", "shapes", "tables")
    selector = set(selection) if selection else set(kinds)
    # consolidated metadata: one read resolves every group's attrs (on a
    # cloud store this is the difference between 1 GET and dozens)
    doc = read_consolidated_doc(path)
    consolidated = doc["metadata"] if doc else None
    manifest = (doc or {}).get("file_manifest")

    def _attrs(rel_group: str) -> dict:
        if consolidated is not None and f"{rel_group}/.zattrs" in consolidated:
            return consolidated[f"{rel_group}/.zattrs"]
        if consolidated is not None and f"{rel_group}/zarr.json" in consolidated:
            return consolidated[f"{rel_group}/zarr.json"].get("attributes", {})
        a = fetcher.get_json(f"{rel_group}/.zattrs")
        if a is not None:
            return a
        doc3 = fetcher.get_json(f"{rel_group}/zarr.json")
        return doc3.get("attributes", {}) if doc3 is not None else {}

    def _group_names(kind: str) -> list[str]:
        if fetcher.can_list:
            return sorted(
                n for n in (fetcher.list_dir(kind) or []) if fetcher.is_dir(f"{kind}/{n}")
            )
        # no listing (http/object store): the hierarchy comes from
        # consolidated metadata — exactly why the reference consolidates
        # on write (_core/spatialdata.py:1478-1492)
        if consolidated is None:
            raise IOError(
                f"remote store {path} has no .zmetadata; write it with "
                "consolidate_metadata() to make the store readable without listing"
            )
        names = set()
        for key in list(consolidated) + list(manifest or []):
            parts = key.split("/")
            if len(parts) >= 3 and parts[0] == kind:
                names.add(parts[1])
        return sorted(names)

    for kind in kinds:
        if kind not in selector:
            continue
        for name in _group_names(kind):
            rel_group = f"{kind}/{name}"
            try:
                attrs = _attrs(rel_group)
                if kind in ("points", "shapes", "tables"):
                    leaf = {"points": "points.parquet", "shapes": "shapes.parquet", "tables": "table.parquet"}[kind]
                    rel_leaf = f"{rel_group}/{leaf}"
                    part_files = None
                    if manifest is not None:
                        pre = rel_leaf + "/"
                        part_files = [m[len(pre):] for m in manifest if m.startswith(pre)]
                    df = spark.read.parquet(fetcher.local_dir(rel_leaf, part_files))
                    if kind == "shapes" and "wkb" not in df.columns and "geometry" in df.columns:
                        # reference-written GeoParquet shapes (ShapesFormatV02+)
                        from spatialdata_spark.sources.readers import shapes_from_geoparquet

                        df = shapes_from_geoparquet(df)
                    ds.elements[kind][name] = df
                    tf = attrs.get("coordinateTransformations", [])
                    if tf:
                        ds.transforms[name] = _transforms_from_attr(tf)
                    sa = attrs.get("spatialdata_attrs", {})
                    if kind == "tables" and "region" in sa:
                        ds.table_meta[name] = TableMeta(
                            region=sa["region"], region_key=sa["region_key"], instance_key=sa["instance_key"]
                        )
                else:
                    ms = attrs.get("multiscales", [{}])[0]
                    level0 = ms.get("datasets", [{"path": "0"}])[0]["path"]
                    ms_axes = [a.get("name") for a in ms.get("axes", [])]
                    lvl_url = f"{path.rstrip('/')}/{rel_group}/{level0}"
                    if "z" in ms_axes:
                        from spatialdata_spark.operators.raster import tiles3d_to_long

                        tiles, meta = read_zarr_tiles_3d(spark, lvl_url)
                        long_df = tiles3d_to_long(tiles, meta)
                        if kind == "labels":
                            long_df = long_df.select(
                                "z", "y", "x", F.col("value").cast("long").alias("label")
                            )
                        ds.elements[kind][name] = long_df
                        tf = ms.get("coordinateTransformations", [])
                        typed = [d for d in tf if "input" in d]
                        if typed:
                            ds.transforms[name] = _transforms_from_attr(typed)
                        continue
                    tiles, meta = read_zarr_tiles(spark, lvl_url)
                    long_df = tiles_to_long(tiles, meta)
                    if kind == "labels":
                        long_df = long_df.select(
                            "y", "x", F.col("value").cast("long").alias("label")
                        )
                    ds.elements[kind][name] = long_df
                    tf = ms.get("coordinateTransformations", [])
                    # NGFF per-dataset scale entries are pyramid bookkeeping;
                    # the element->CS transforms are the typed entries
                    typed = [d for d in tf if "input" in d]
                    if typed:
                        ds.transforms[name] = _transforms_from_attr(typed)
            except Exception:
                if on_bad_files == "warn":
                    import warnings

                    warnings.warn(f"Skipping unreadable zarr element {kind}/{name}", stacklevel=2)
                    continue
                raise
    return ds


# ---------------------------------------------------------------------------
# 3D rasters <-> zarr chunks (Labels3DModel / Image3DModel store IO)
# ---------------------------------------------------------------------------


def write_tiles3d_to_zarr(
    tiles: DataFrame,
    meta: RasterMeta,
    path: str,
    scale: int = 0,
    compressor: str | None = "zlib",
    attrs: dict | None = None,
    squeeze_channel: bool = False,
    zarr_format: int = 2,
) -> int:
    """Write a z-plane tile table as a zarr ``(c, z, y, x)`` array with
    chunks ``(1, 1, tile, tile)`` — or, with ``squeeze_channel=True``
    (labels), a 3-d ``(z, y, x)`` array with 3-part chunk keys, matching
    the reference's Labels3DModel store layout (models/models.py:428,
    _io/io_raster.py).  Executors write their own chunks; the driver
    writes only metadata."""
    h, w = meta.shape_at(scale)
    ts = meta.tile
    dtype = np.dtype(meta.dtype)
    if squeeze_channel and meta.n_channels != 1:
        raise ValueError("squeeze_channel requires a single-channel raster")
    shape = [h, w]
    chunks = [ts, ts]
    shape = ([meta.depth] + shape) if squeeze_channel else [meta.n_channels, meta.depth] + shape
    chunks = ([1] + chunks) if squeeze_channel else [1, 1] + chunks
    if zarr_format == 3:
        from spatialdata_spark.sources import zarr3

        codec = "gzip" if compressor == "zlib" else compressor
        meta3 = zarr3.array_meta(tuple(shape), tuple(chunks), dtype, codec, attrs)
        _write_json(os.path.join(path, "zarr.json"), meta3)
        keyfn = zarr3.parse_array_meta(meta3)["key"]
    else:
        codec = compressor
        _write_json(
            os.path.join(path, ".zarray"),
            {
                "zarr_format": ZARR_FORMAT,
                "shape": shape,
                "chunks": chunks,
                "dtype": dtype.str,
                "compressor": _compressor_doc(compressor),
                "fill_value": 0,
                "order": "C",
                "filters": None,
            },
        )
        if attrs is not None:
            _write_json(os.path.join(path, ".zattrs"), attrs)

        def keyfn(nums):
            return ".".join(str(k) for k in nums)

    itemsize = dtype.itemsize

    def _write_part(rows):
        n = 0
        for row in rows:
            buf = _compress(codec, bytes(row.tile), typesize=itemsize)
            nums = (int(row.z), int(row.ty), int(row.tx))
            if not squeeze_channel:
                nums = (int(row.c),) + nums
            name = keyfn(nums)
            fpath = os.path.join(path, *name.split("/"))
            os.makedirs(os.path.dirname(fpath), exist_ok=True)
            with open(fpath, "wb") as f:
                f.write(buf)
            n += 1
        yield n

    counts = (
        tiles.filter(F.col("scale") == scale)
        .select("c", "z", "ty", "tx", "tile")
        .rdd.mapPartitions(_write_part)
        .collect()
    )
    return int(sum(counts))


def read_zarr_tiles_3d(spark: SparkSession, path: str, scale: int = 0):
    """Read a zarr ``(z, y, x)`` or ``(c, z, y, x)`` array as a z-plane
    tile DataFrame ``(scale, c, z, ty, tx, tile)`` + RasterMeta.  Chunk
    keys enumerate from the shape/chunks grid (works on v2, v3 and
    no-listing http stores alike); executors decode their chunks."""
    from spatialdata_spark.operators.raster import TILE3D_SCHEMA
    from spatialdata_spark.sources.fetch import fetcher_for

    fetcher = fetcher_for(path)
    ameta = fetcher.get_json(".zarray")
    if ameta is None:
        doc3 = fetcher.get_json("zarr.json")
        if doc3 is None:
            raise ValueError(f"not a zarr array: {path}")
        from spatialdata_spark.sources import zarr3

        p3 = zarr3.parse_array_meta(doc3)
        shape, chunks, dtype = p3["shape"], p3["chunks"], p3["dtype"]
        codec, keyfn = p3["codec"], p3["key"]
    else:
        if ameta.get("filters"):
            raise ValueError("zarr filters are not supported")
        codec = _codec_of(ameta.get("compressor"))
        shape = tuple(ameta["shape"])
        chunks = tuple(ameta["chunks"])
        dtype = np.dtype(ameta["dtype"])
        sep = _separator_of(ameta)

        def keyfn(nums, _s=sep):
            return _s.join(str(k) for k in nums)

    no_c = len(shape) == 3
    if no_c:
        shape = (1,) + shape
        chunks = (1,) + chunks
    if len(shape) != 4 or chunks[0] != 1 or chunks[1] != 1 or chunks[2] != chunks[3]:
        raise ValueError(
            f"unsupported 3D chunk layout {chunks} for shape {shape}: expected "
            "(1, 1, t, t) volume chunks"
        )
    ts = int(chunks[2])
    dstr = "f8" if dtype.kind == "f" else "i8"
    meta = RasterMeta(
        height=int(shape[2]),
        width=int(shape[3]),
        tile=ts,
        dtype=dstr,
        n_channels=int(shape[0]),
        depth=int(shape[1]),
    )
    keys = []
    grid = [range(-(-s // c)) for s, c in zip(shape, chunks)]
    for c0 in grid[0]:
        for z0 in grid[1]:
            for t_y in grid[2]:
                for t_x in grid[3]:
                    nums = (z0, t_y, t_x) if no_c else (c0, z0, t_y, t_x)
                    keys.append((c0, z0, t_y, t_x, keyfn(nums)))
    kdf = spark.createDataFrame(keys, "c int, z long, ty long, tx long, chunk string")
    src_dtype = dtype

    def _decode(iterator):
        import pandas as pd

        for pdf in iterator:
            rows = {"scale": [], "c": [], "z": [], "ty": [], "tx": [], "tile": []}
            for row in pdf.itertuples(index=False):
                raw = fetcher.get(row.chunk)
                if raw is None:
                    continue
                raw = _decompress(codec, raw, ts * ts * src_dtype.itemsize)
                a = np.frombuffer(raw, dtype=src_dtype).reshape(ts, ts)
                rows["scale"].append(scale)
                rows["c"].append(int(row.c))
                rows["z"].append(int(row.z))
                rows["ty"].append(int(row.ty))
                rows["tx"].append(int(row.tx))
                rows["tile"].append(np.ascontiguousarray(a, dtype=np.dtype(dstr)).tobytes())
            yield pd.DataFrame(rows)

    return kdf.mapInPandas(_decode, TILE3D_SCHEMA), meta
