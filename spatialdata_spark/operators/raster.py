"""Chunked (tiled) raster layer: the Spark representation of the
reference's dask-chunked images/labels.

Reference surfaces covered here:
  * chunk storage / multiscale pyramid — _io/io_raster.py:162-233,
    models/models.py:88-274 (parse builds the pyramid)
  * map_raster over blocks with overlap (halos) —
    _core/operations/map.py:22-156
  * bounding_box_query on rasters (integer slices on chunks) —
    _core/query/spatial_query.py:537-615
  * pyramid level selection — _core/operations/rasterize.py:375-461
  * unpad_raster — _utils.py:71-160
  * ImageTilesDataset tile export — dataloader/datasets.py

Representation
--------------
A raster is a DataFrame of fixed-size tiles::

    (scale: int, c: int, ty: long, tx: long, tile: binary)

plus a driver-side :class:`RasterMeta` (height, width, tile size, dtype,
channels, per-scale factors).  Tiles are dense little-endian numpy
buffers, zero-padded at the right/bottom edges.  This is the same
layout dask/zarr use, flattened into a relation: chunk-index columns
make Catalyst partition pruning the analog of lazy zarr slicing, and
every per-block dask operation becomes an Arrow-batched UDF over tile
rows.  At 100 TB, tiles are the unit of parallelism, and all
tile→tile operators below are shuffle-free except where a halo or a
regroup is semantically required.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

TILE_SCHEMA = T.StructType(
    [
        T.StructField("scale", T.IntegerType()),
        T.StructField("c", T.IntegerType()),
        T.StructField("ty", T.LongType()),
        T.StructField("tx", T.LongType()),
        T.StructField("tile", T.BinaryType()),
    ]
)


@dataclass(frozen=True)
class RasterMeta:
    """Driver-side raster metadata (the catalog entry for one raster)."""

    height: int
    width: int
    tile: int = 256
    dtype: str = "f8"  # numpy dtype string; 'i8' for labels
    n_channels: int = 1
    scale_factor: int = 2  # downsampling factor between pyramid levels
    depth: int = 1  # z extent; >1 for Labels3D/Image3D z-plane tiles
    channel_names: tuple | None = None  # len == n_channels when set

    def tiles_y(self, scale: int = 0) -> int:
        return -(-self.shape_at(scale)[0] // self.tile)

    def tiles_x(self, scale: int = 0) -> int:
        return -(-self.shape_at(scale)[1] // self.tile)

    def shape_at(self, scale: int) -> tuple[int, int]:
        f = self.scale_factor**scale
        return (-(-self.height // f), -(-self.width // f))


def _buf(arr: np.ndarray) -> bytes:
    return np.ascontiguousarray(arr).tobytes()


# ---------------------------------------------------------------------------
# long-form <-> tile conversion
# ---------------------------------------------------------------------------


def _pack_kernel(ts: int, dtype: str):
    def _pack(pdf):
        import pandas as pd

        a = np.zeros((ts, ts), dtype=np.dtype(dtype))
        a[pdf["iy"].to_numpy(), pdf["ix"].to_numpy()] = pdf["value"].to_numpy()
        return pd.DataFrame(
            {
                "scale": [0],
                "c": [int(pdf["c"].iloc[0])],
                "ty": [int(pdf["ty"].iloc[0])],
                "tx": [int(pdf["tx"].iloc[0])],
                "tile": [_buf(a)],
            }
        )

    return _pack


def long_to_tiles(df_long: DataFrame, meta: RasterMeta, value_col: str = "value") -> DataFrame:
    """Pack a sparse long-form raster ``(c?, y, x, value)`` into dense
    tiles.  One shuffle on the tile key (groupBy), then a pure-numpy
    scatter per group — the packing analog of ``da.from_delayed``.
    """
    ts = meta.tile
    has_c = "c" in df_long.columns
    # one selectExpr parse instead of ~15 Column round trips (this
    # projection sits in every rt_*/rv_* construction); expressions are
    # term-identical to the former Column forms (cast-then-mod, floor of
    # the double division)
    keyed = df_long.selectExpr(
        ("CAST(c AS INT) AS c" if has_c else "0 AS c"),
        f"(CAST(y AS BIGINT) % {ts}) AS iy",
        f"(CAST(x AS BIGINT) % {ts}) AS ix",
        f"CAST(FLOOR(y / {ts}) AS BIGINT) AS ty",
        f"CAST(FLOOR(x / {ts}) AS BIGINT) AS tx",
        f"`{value_col}` AS value",
    )
    return keyed.groupBy("c", "ty", "tx").applyInPandas(_pack_kernel(ts, meta.dtype), TILE_SCHEMA)


def _unpack_kernel(ts: int, dtype: str, h: int, w: int, keep_zeros: bool):
    def _unpack(iterator):
        import pandas as pd

        for pdf in iterator:
            for row in pdf.itertuples(index=False):
                a = np.frombuffer(row.tile, dtype=np.dtype(dtype)).reshape(ts, ts)
                oy, ox = int(row.ty) * ts, int(row.tx) * ts
                if keep_zeros:
                    yy, xx = np.mgrid[0:ts, 0:ts]
                    yy, xx, vv = yy.ravel(), xx.ravel(), a.ravel()
                else:
                    yy, xx = np.nonzero(a)
                    vv = a[yy, xx]
                ay, ax = yy + oy, xx + ox
                m = (ay < h) & (ax < w)  # drop the zero padding
                yield pd.DataFrame(
                    {"c": int(row.c), "y": ay[m], "x": ax[m], "value": vv[m]}
                )

    return _unpack


def _unpack_plan(meta: RasterMeta, keep_zeros: bool = False, scale: int = 0):
    """The unpack kernel of one pyramid level and its long-form schema
    (a zarr read composes the kernel after its chunk decoder)."""
    h, w = meta.shape_at(scale)
    schema = T.StructType(
        [
            T.StructField("c", T.IntegerType()),
            T.StructField("y", T.LongType()),
            T.StructField("x", T.LongType()),
            T.StructField("value", T.DoubleType() if meta.dtype.startswith("f") else T.LongType()),
        ]
    )
    return _unpack_kernel(meta.tile, meta.dtype, h, w, keep_zeros), schema


def tiles_to_long(tiles: DataFrame, meta: RasterMeta, keep_zeros: bool = False, scale: int = 0) -> DataFrame:
    """Unpack tiles to long form ``(c, y, x, value)``.  Sparse by
    default (zeros dropped) — the COO view used by zonal stats."""
    return tiles.filter(F.col("scale") == scale).mapInPandas(*_unpack_plan(meta, keep_zeros, scale))


# ---------------------------------------------------------------------------
# map_raster: per-block function application, with optional halo
# ---------------------------------------------------------------------------


def _map_tiles_kernel(fn, ts: int, dtype: str, out_dtype: str):
    def _apply(iterator):
        for pdf in iterator:
            out = []
            for row in pdf.itertuples(index=False):
                a = np.frombuffer(row.tile, dtype=np.dtype(dtype)).reshape(ts, ts)
                out.append(_buf(np.asarray(fn(a), dtype=np.dtype(out_dtype))))
            pdf = pdf.copy()
            pdf["tile"] = out
            yield pdf

    return _apply


def map_tiles(tiles: DataFrame, fn, meta: RasterMeta, out_dtype: str | None = None) -> DataFrame:
    """``map_raster(func)`` without overlap (reference: map.py:22-156,
    map_blocks path): embarrassingly parallel, shuffle-free — fn is
    applied tile-wise inside ``mapInPandas``."""
    return tiles.mapInPandas(
        _map_tiles_kernel(fn, meta.tile, meta.dtype, out_dtype or meta.dtype), TILE_SCHEMA
    )


def map_tiles_with_halo(tiles: DataFrame, fn, meta: RasterMeta, halo: int, out_dtype: str | None = None) -> DataFrame:
    """``map_raster(func, depth=halo)`` (reference: map.py:110-126
    map_overlap): each tile is materialized with a halo of ``halo``
    pixels from its 8 neighbors, fn runs on the padded array, and the
    result is cropped back.

    Plan: every tile contributes itself to up to 9 target tiles
    (explode over neighbor offsets), one shuffle groups contributions
    by target, numpy assembles the padded block.  This is the halo
    join of SURVEY §4 — a deterministic self-join, no iterative
    exchange.
    """
    if halo <= 0:
        return map_tiles(tiles, fn, meta, out_dtype)
    if halo > meta.tile:
        raise ValueError(f"halo {halo} exceeds tile size {meta.tile}")
    ts = meta.tile

    # the 9 neighbor offsets as ONE selectExpr parse (the struct-array
    # Column build cost ~18 py4j round trips per construction)
    offs = ", ".join(
        f"named_struct('dy', {dy}, 'dx', {dx})" for dy in (-1, 0, 1) for dx in (-1, 0, 1)
    )
    contrib = (
        tiles.selectExpr("scale", "c", "ty", "tx", "tile", f"explode(array({offs})) AS off")
        .selectExpr(
            "scale",
            "c",
            "(ty + off.dy) AS gty",
            "(tx + off.dx) AS gtx",
            "off.dy AS rel_dy",
            "off.dx AS rel_dx",
            "tile",
        )
        .filter((F.col("gty") >= 0) & (F.col("gtx") >= 0))
    )
    return contrib.groupBy("scale", "c", "gty", "gtx").applyInPandas(
        _halo_assemble_kernel(fn, ts, halo, meta.dtype, out_dtype or meta.dtype), TILE_SCHEMA
    )


def _halo_assemble_kernel(fn, ts: int, halo: int, dtype: str, out_dtype: str):
    def _assemble(key, pdf):
        import pandas as pd

        scale, c, gty, gtx = (int(k) for k in key)
        padded = np.zeros((ts + 2 * halo, ts + 2 * halo), dtype=np.dtype(dtype))
        center_seen = False
        for row in pdf.itertuples(index=False):
            a = np.frombuffer(row.tile, dtype=np.dtype(dtype)).reshape(ts, ts)
            dy, dx = int(row.rel_dy), int(row.rel_dx)
            if dy == 0 and dx == 0:
                center_seen = True
            # neighbor at offset (dy,dx) relative to target: its pixels
            # land at [-dy*ts + halo : ...] in the padded frame
            y0 = halo - dy * ts
            x0 = halo - dx * ts
            ys0, ys1 = max(0, y0), min(ts + 2 * halo, y0 + ts)
            xs0, xs1 = max(0, x0), min(ts + 2 * halo, x0 + ts)
            if ys0 >= ys1 or xs0 >= xs1:
                continue
            padded[ys0:ys1, xs0:xs1] = a[ys0 - y0 : ys1 - y0, xs0 - x0 : xs1 - x0]
        if not center_seen:
            # pure-halo target (tile absent from the input): skip
            return pd.DataFrame(columns=["scale", "c", "ty", "tx", "tile"])
        res = np.asarray(fn(padded), dtype=np.dtype(out_dtype))
        cropped = res[halo : halo + ts, halo : halo + ts]
        return pd.DataFrame(
            {"scale": [scale], "c": [c], "ty": [gty], "tx": [gtx], "tile": [_buf(cropped)]}
        )

    return _assemble


# ---------------------------------------------------------------------------
# bbox query, unpad, pyramid
# ---------------------------------------------------------------------------


def bounding_box_query_tiles(
    tiles: DataFrame, meta: RasterMeta, y0: int, x0: int, y1: int, x1: int, scale: int = 0
) -> DataFrame:
    """Integer-slice bbox query on the tile table (reference:
    spatial_query.py:537-615).  The range predicate on (ty, tx) is the
    chunk-pruning analog of lazy zarr slicing — only touched tiles are
    read; edge tiles are cropped (out-of-box pixels zeroed) in numpy.
    Tile indices shift so the result raster has its own origin at
    (y0, x0), with the translation recorded by the caller
    (query/_utils.py:112-198 bookkeeping).
    """
    ts = meta.tile
    pruned = tiles.filter(
        (F.col("scale") == scale)
        & (F.col("ty") >= y0 // ts)
        & (F.col("ty") <= (y1 - 1) // ts)
        & (F.col("tx") >= x0 // ts)
        & (F.col("tx") <= (x1 - 1) // ts)
    )

    return pruned.mapInPandas(_bbox_crop_kernel(ts, meta.dtype, y0, x0, y1, x1), TILE_SCHEMA)


def _bbox_crop_kernel(ts: int, dtype: str, y0: int, x0: int, y1: int, x1: int):
    def _crop(iterator):
        import pandas as pd

        for pdf in iterator:
            rows = {"scale": [], "c": [], "ty": [], "tx": [], "tile": []}
            for row in pdf.itertuples(index=False):
                a = np.frombuffer(row.tile, dtype=np.dtype(dtype)).reshape(ts, ts).copy()
                oy, ox = int(row.ty) * ts, int(row.tx) * ts
                yy, xx = np.mgrid[0:ts, 0:ts]
                mask = (yy + oy >= y0) & (yy + oy < y1) & (xx + ox >= x0) & (xx + ox < x1)
                a[~mask] = 0
                rows["scale"].append(int(row.scale))
                rows["c"].append(int(row.c))
                rows["ty"].append(int(row.ty))
                rows["tx"].append(int(row.tx))
                rows["tile"].append(_buf(a))
            yield pd.DataFrame(rows)

    return _crop


def unpad_raster(tiles: DataFrame, meta: RasterMeta) -> tuple[DataFrame, tuple[int, int, int, int]]:
    """Trim zero borders (reference: _utils.py:71-160).  One pass
    computes per-tile nonzero extents (tiny result), the driver reduces
    them to a global bbox, and the crop reuses the pruned bbox query.
    """
    ts = meta.tile
    row = (
        tiles.filter(F.col("scale") == 0)
        .mapInPandas(_extent_kernel(ts, meta.dtype), _EXTENT_SCHEMA)
        .agg(F.min("miny"), F.min("minx"), F.max("maxy"), F.max("maxx"))
        .first()
    )
    if row is None or row[0] is None:
        return tiles, (0, 0, 0, 0)
    y0, x0, y1, x1 = int(row[0]), int(row[1]), int(row[2]) + 1, int(row[3]) + 1
    return bounding_box_query_tiles(tiles, meta, y0, x0, y1, x1), (y0, x0, y1, x1)


_EXTENT_SCHEMA = T.StructType(
    [
        T.StructField("miny", T.LongType()),
        T.StructField("minx", T.LongType()),
        T.StructField("maxy", T.LongType()),
        T.StructField("maxx", T.LongType()),
    ]
)


def _extent_kernel(ts: int, dtype: str):
    def _extent(iterator):
        import pandas as pd

        for pdf in iterator:
            rows = []
            for row in pdf.itertuples(index=False):
                a = np.frombuffer(row.tile, dtype=np.dtype(dtype)).reshape(ts, ts)
                yy, xx = np.nonzero(a)
                if len(yy) == 0:
                    continue
                oy, ox = int(row.ty) * ts, int(row.tx) * ts
                rows.append((int(yy.min()) + oy, int(xx.min()) + ox, int(yy.max()) + oy, int(xx.max()) + ox))
            yield pd.DataFrame(rows, columns=["miny", "minx", "maxy", "maxx"])

    return _extent


def downsample_tiles(tiles: DataFrame, meta: RasterMeta, scale: int = 0, reduction: str = "sum") -> DataFrame:
    """One pyramid step: factor-2 pooling (reference builds the
    multiscale DataTree at parse, models/models.py:240-274).

    Each tile pools 2× in place (shuffle-free), then 2×2 pooled tiles
    regroup into one coarser tile — a single small shuffle keyed on the
    coarse tile index.  reduction='sum' keeps integer exactness
    (mean = sum / 4^k when needed); 'max' suits labels.
    """
    ts = meta.tile
    half = ts // 2
    if ts % 2:
        raise ValueError("tile size must be even for factor-2 pyramid")

    pooled = tiles.filter(F.col("scale") == scale).mapInPandas(
        _pool_kernel(ts, meta.dtype, reduction), TILE_SCHEMA
    )
    # regroup 2x2 pooled half-tiles into full coarse tiles
    quad = pooled.select(
        F.lit(scale + 1).alias("scale"),
        "c",
        F.floor(F.col("ty") / 2).alias("gty"),
        F.floor(F.col("tx") / 2).alias("gtx"),
        (F.col("ty") % 2).alias("qy"),
        (F.col("tx") % 2).alias("qx"),
        "tile",
    )

    return quad.groupBy("scale", "c", "gty", "gtx").applyInPandas(
        _regroup_kernel(ts, meta.dtype), TILE_SCHEMA
    )


def _pool_kernel(ts: int, dtype: str, reduction: str):
    half = ts // 2

    def _pool(iterator):
        for pdf in iterator:
            out = []
            for row in pdf.itertuples(index=False):
                a = np.frombuffer(row.tile, dtype=np.dtype(dtype)).reshape(half, 2, half, 2)
                if reduction == "sum":
                    p = a.sum(axis=(1, 3))
                elif reduction == "max":
                    p = a.max(axis=(1, 3))
                else:
                    p = a.mean(axis=(1, 3))
                out.append(_buf(p.astype(np.dtype(dtype))))
            pdf = pdf.copy()
            pdf["tile"] = out
            yield pdf

    return _pool


def _regroup_kernel(ts: int, dtype: str):
    half = ts // 2

    def _regroup(key, pdf):
        import pandas as pd

        scale_, c, gty, gtx = (int(k) for k in key)
        a = np.zeros((ts, ts), dtype=np.dtype(dtype))
        for row in pdf.itertuples(index=False):
            q = np.frombuffer(row.tile, dtype=np.dtype(dtype)).reshape(half, half)
            y0, x0 = int(row.qy) * half, int(row.qx) * half
            a[y0 : y0 + half, x0 : x0 + half] = q
        return pd.DataFrame({"scale": [scale_], "c": [c], "ty": [gty], "tx": [gtx], "tile": [_buf(a)]})

    return _regroup


def build_pyramid(tiles: DataFrame, meta: RasterMeta, n_scales: int, reduction: str = "sum") -> DataFrame:
    """Full pyramid: union of scales 0..n_scales (reference multiscale
    parse, models/models.py:240-274).  Scales stack in one DataFrame;
    the ``scale`` column is the partition-pruning key."""
    out = tiles
    cur = tiles
    for s in range(n_scales):
        cur = downsample_tiles(cur, meta, scale=s, reduction=reduction)
        out = out.unionByName(cur)
    return out


def select_pyramid_level(meta: RasterMeta, n_scales: int, target_resolution: float) -> int:
    """Coarsest level whose pixel size still satisfies the target within
    a sqrt(d) slack (reference heuristic, rasterize.py:439-451)."""
    slack = float(np.sqrt(2.0))
    best = 0
    for s in range(n_scales + 1):
        pixel = float(meta.scale_factor**s)
        if pixel * slack <= target_resolution:
            best = s
    return best


def select_pyramid_level_for_rasterize(
    meta: RasterMeta,
    n_scales: int,
    bbox_sizes: dict[str, float],
    target_sizes: dict[str, float],
) -> int:
    """The reference's exact level-selection rule for rasterize
    (_core/operations/rasterize.py:407-451): walk the pyramid from the
    *coarsest* level toward full resolution and select the first level
    where the query bbox, measured in that level's pixels, is at least
    the target output size times a sqrt(d) slack on **every** axis —
    i.e. the cheapest level that still has enough resolution to
    render the target without upsampling beyond the slack.

    The sqrt accounts for a bbox that is rotated in intrinsic space —
    ``bbox_sizes`` measures the axis-aligned bounds of the
    inverse-transformed box, which for a rotated square can exceed the
    square's side by up to the diagonal ratio.  ``bbox_sizes`` is in
    scale-0 pixel units (inverse-map the query corners first, see
    ``spatial_query._corners_bbox``); if no coarse level qualifies the
    full resolution (0) is returned.
    """
    axes = list(target_sizes)
    slack = float(np.sqrt(len(axes)))
    for s in range(n_scales, 0, -1):
        factor = float(meta.scale_factor**s)
        if all(bbox_sizes[ax] / factor >= target_sizes[ax] * slack for ax in axes):
            return s
    return 0


def write_pyramid_store(tiles: DataFrame, path: str) -> None:
    """Persist a multiscale tile table partitioned by ``scale`` — the
    parquet analog of the reference's OME-NGFF level directories
    (_io/io_raster.py:162-233).  A level read then prunes whole
    directories before opening any file (SURVEY §4 pyramid-level
    pruning, expressed as storage partitioning)."""
    tiles.write.mode("overwrite").partitionBy("scale").parquet(path)


def read_pyramid_level(
    spark, path: str, meta: RasterMeta, n_scales: int, target_resolution: float
) -> tuple[DataFrame, int]:
    """Read the coarsest stored level satisfying ``target_resolution``:
    the planner picks the level driver-side (reference heuristic,
    rasterize.py:439-451) and the ``scale =`` predicate becomes a
    partition filter — only that level's directory is scanned."""
    level = select_pyramid_level(meta, n_scales, target_resolution)
    df = spark.read.parquet(path).filter(F.col("scale") == level)
    return df, level


# ---------------------------------------------------------------------------
# zonal stats straight from tiles (fused, no long-form materialization)
# ---------------------------------------------------------------------------


def zonal_stats_tiles(
    image_tiles: DataFrame, label_tiles: DataFrame, meta: RasterMeta, label_meta: RasterMeta
) -> DataFrame:
    """Per-label per-channel (sum, count) from co-tiled image+labels —
    the fused form of aggregate_image_by_labels: an equi-join on the
    tile key co-locates each image tile with its label tile, numpy
    bincounts per tile, and a groupBy reduces the partials.  The dense
    pixel join never materializes.
    """
    lab = label_tiles.filter(F.col("scale") == 0).select(
        F.col("ty").alias("lty"), F.col("tx").alias("ltx"), F.col("tile").alias("ltile")
    )
    joined = image_tiles.filter(F.col("scale") == 0).join(
        lab, (F.col("ty") == F.col("lty")) & (F.col("tx") == F.col("ltx"))
    )

    partials = joined.mapInPandas(_zonal_kernel(meta.tile, meta.dtype, label_meta.dtype), _ZONAL_SCHEMA)
    return partials.groupBy("label", "c").agg(
        F.sum("sum_value").alias("sum_value"),
        F.sum("n").alias("n"),
        (F.sum("sum_value") / F.sum("n")).alias("mean_value"),
    )


_ZONAL_SCHEMA = T.StructType(
    [
        T.StructField("label", T.LongType()),
        T.StructField("c", T.IntegerType()),
        T.StructField("sum_value", T.DoubleType()),
        T.StructField("n", T.LongType()),
    ]
)


def _zonal_kernel(ts: int, dtype: str, label_dtype: str):
    def _zonal(iterator):
        import pandas as pd

        for pdf in iterator:
            frames = []
            for row in pdf.itertuples(index=False):
                img = np.frombuffer(row.tile, dtype=np.dtype(dtype)).ravel()
                labels = np.frombuffer(row.ltile, dtype=np.dtype(label_dtype)).ravel()
                m = labels != 0
                if not m.any():
                    continue
                lab_ids, inv = np.unique(labels[m], return_inverse=True)
                sums = np.bincount(inv, weights=img[m])
                counts = np.bincount(inv)
                frames.append(
                    pd.DataFrame(
                        {
                            "label": lab_ids.astype(np.int64),
                            "c": int(row.c),
                            "sum_value": sums,
                            "n": counts.astype(np.int64),
                        }
                    )
                )
            if frames:
                yield pd.concat(frames)

    return _zonal


# ---------------------------------------------------------------------------
# affine resampling (transform(raster) / rasterize(raster))
# ---------------------------------------------------------------------------


def transform_raster_tiles(
    tiles: DataFrame,
    meta: RasterMeta,
    matrix,
    out_meta: RasterMeta,
    order: int = 0,
    scale: int = 0,
) -> DataFrame:
    """Affine resample of a tiled raster (reference:
    _core/operations/transform.py:38-105,306-426 via
    dask_image.ndinterp.affine_transform; rasterize's raster path,
    rasterize.py:502-613).

    ``matrix`` is the 3x3 **inverse** map in index space: for output
    index ``o=(oy,ox)``, the sample point is ``i = M[:2,:2]@o +
    M[:2,2]``.  order=0 is nearest (labels — reference transform.py:319
    forces order 0), order=1 bilinear (images).

    Plan (the deterministic gather of SURVEY §4): output tiles are
    enumerated with ``spark.range``; each output tile's input bbox is
    a *pure expression* over its corner indices, exploded to the
    covering input tile ids; an equi-join on the tile key pulls the
    needed input tiles (only those — chunk pruning); one groupBy per
    output tile assembles the patch and numpy resamples.  No
    all-to-all: each output tile touches O(1) input tiles for affine
    maps with moderate scale.
    """
    m = np.asarray(matrix, dtype=float)
    a00, a01, b0 = m[0, 0], m[0, 1], m[0, 2]
    a10, a11, b1 = m[1, 0], m[1, 1], m[1, 2]
    ts = meta.tile
    ots = out_meta.tile
    pad = 1.0 if order == 1 else 0.5
    spark = tiles.sparkSession

    n_oty, n_otx = out_meta.tiles_y(0), out_meta.tiles_x(0)
    grid = spark.range(n_oty * n_otx).selectExpr(
        f"CAST((id / {n_otx}) AS BIGINT) AS oty",
        f"(id % {n_otx}) AS otx",
    )
    # input-space bbox of the output tile = min/max over its 4 corner
    # sample points (affine maps box corners to extremes), padded for
    # the interpolation stencil.  Built as SQL strings (one JVM parse
    # per selectExpr) instead of ~40 Column-op py4j round trips — this
    # construction cost ~0.35s of driver time per action (r14 profile);
    # {x!r} double literals round-trip exactly, so the expressions are
    # identical to the old Column trees.
    y0 = f"CAST((oty * {ots}) AS DOUBLE)"
    y1 = f"(({y0} + {ots}) - 1)"
    x0 = f"CAST((otx * {ots}) AS DOUBLE)"
    x1 = f"(({x0} + {ots}) - 1)"

    def corner(ay, ax, b, yy, xx):
        return f"(({float(ay)!r}D * {yy}) + ({float(ax)!r}D * {xx})) + {float(b)!r}D"

    iys = [corner(a00, a01, b0, yy, xx) for yy in (y0, y1) for xx in (x0, x1)]
    ixs = [corner(a10, a11, b1, yy, xx) for yy in (y0, y1) for xx in (x0, x1)]
    imin_y = f"(least({', '.join(iys)}) - {float(pad)!r}D)"
    imax_y = f"(greatest({', '.join(iys)}) + {float(pad)!r}D)"
    imin_x = f"(least({', '.join(ixs)}) - {float(pad)!r}D)"
    imax_x = f"(greatest({', '.join(ixs)}) + {float(pad)!r}D)"
    cover = (
        grid.selectExpr(
            "*",
            f"explode(sequence(greatest(floor({imin_y} / {ts}), 0), "
            f"least(floor({imax_y} / {ts}), {meta.tiles_y(scale) - 1}))) AS ty",
        )
        .selectExpr(
            "*",
            f"explode(sequence(greatest(floor({imin_x} / {ts}), 0), "
            f"least(floor({imax_x} / {ts}), {meta.tiles_x(scale) - 1}))) AS tx",
        )
        .select("oty", "otx", "ty", "tx")
    )
    joined = cover.join(tiles.filter(F.col("scale") == scale), ["ty", "tx"])
    return joined.groupBy("oty", "otx", "c").applyInPandas(
        _resample_kernel(
            float(a00), float(a01), float(b0), float(a10), float(a11), float(b1),
            ts, ots, order, meta.dtype, out_meta.dtype,
        ),
        TILE_SCHEMA,
    )


def _resample_kernel(
    a00: float, a01: float, b0: float, a10: float, a11: float, b1: float,
    ts: int, ots: int, order: int, dtype: str, out_dtype: str,
):
    def _resample(key, pdf):
        import pandas as pd

        oty, otx, c = int(key[0]), int(key[1]), int(key[2])
        tys = pdf["ty"].astype(int)
        txs = pdf["tx"].astype(int)
        py0, px0 = tys.min() * ts, txs.min() * ts
        patch = np.zeros(((tys.max() - tys.min() + 1) * ts, (txs.max() - txs.min() + 1) * ts), dtype=np.dtype(dtype))
        for row in pdf.itertuples(index=False):
            a = np.frombuffer(row.tile, dtype=np.dtype(dtype)).reshape(ts, ts)
            yy, xx = int(row.ty) * ts - py0, int(row.tx) * ts - px0
            patch[yy : yy + ts, xx : xx + ts] = a
        oy, ox = np.mgrid[0:ots, 0:ots]
        oy = oy + oty * ots
        ox = ox + otx * ots
        iy = a00 * oy + a01 * ox + b0
        ix = a10 * oy + a11 * ox + b1
        out = np.zeros((ots, ots), dtype=np.dtype(out_dtype))
        h, w = patch.shape
        if order == 0:
            # half-up rounding (deterministic, matches FLOOR(i+0.5))
            ry = np.floor(iy + 0.5).astype(np.int64) - py0
            rx = np.floor(ix + 0.5).astype(np.int64) - px0
            ok = (ry >= 0) & (ry < h) & (rx >= 0) & (rx < w)
            out[ok] = patch[ry[ok], rx[ok]]
        else:
            fy = np.floor(iy).astype(np.int64)
            fx = np.floor(ix).astype(np.int64)
            wy = iy - fy
            wx = ix - fx
            fy -= py0
            fx -= px0

            def at(yy, xx):
                ok = (yy >= 0) & (yy < h) & (xx >= 0) & (xx < w)
                v = np.zeros_like(wy)
                v[ok] = patch[yy[ok], xx[ok]]
                return v

            val = (
                at(fy, fx) * (1 - wy) * (1 - wx)
                + at(fy, fx + 1) * (1 - wy) * wx
                + at(fy + 1, fx) * wy * (1 - wx)
                + at(fy + 1, fx + 1) * wy * wx
            )
            out = val.astype(np.dtype(out_dtype))
        return pd.DataFrame(
            {"scale": [0], "c": [c], "ty": [oty], "tx": [otx], "tile": [_buf(out)]}
        )

    return _resample


# ---------------------------------------------------------------------------
# tile export (ImageTilesDataset analog)
# ---------------------------------------------------------------------------


def export_region_tiles(
    tiles: DataFrame,
    meta: RasterMeta,
    regions: DataFrame,
    tile_px: int,
    scale: int = 0,
) -> DataFrame:
    """Crop one ``tile_px`` × ``tile_px`` window per region (reference:
    dataloader/datasets.py ImageTilesDataset — the training-tile
    sweep).

    ``regions``: ``(region_id, cy, cx)`` window centers.  Each region
    explodes to the raster tiles its window covers (a sequence explode,
    like the multi-box query), joins the tile table on the tile key,
    and one groupBy per region assembles the crop.  Output:
    ``(region_id, c, y0, x0, data)`` with data a dense
    tile_px×tile_px buffer.
    """
    ts = meta.tile
    half = tile_px // 2
    r = regions.select(
        "region_id",
        (F.col("cy").cast("long") - half).alias("y0"),
        (F.col("cx").cast("long") - half).alias("x0"),
    )
    cover = (
        r.withColumn("ty", F.explode(F.sequence(F.floor(F.col("y0") / ts), F.floor((F.col("y0") + tile_px - 1) / ts))))
        .withColumn("tx", F.explode(F.sequence(F.floor(F.col("x0") / ts), F.floor((F.col("x0") + tile_px - 1) / ts))))
    )
    joined = cover.join(tiles.filter(F.col("scale") == scale), ["ty", "tx"])
    return joined.groupBy("region_id", "c").applyInPandas(
        _region_crop_kernel(ts, meta.dtype, tile_px), _REGION_CROP_SCHEMA
    )


_REGION_CROP_SCHEMA = T.StructType(
    [
        T.StructField("region_id", T.LongType()),
        T.StructField("c", T.IntegerType()),
        T.StructField("y0", T.LongType()),
        T.StructField("x0", T.LongType()),
        T.StructField("data", T.BinaryType()),
    ]
)


def _region_crop_kernel(ts: int, dtype: str, tile_px: int):
    def _crop(key, pdf):
        import pandas as pd

        region_id, c = int(key[0]), int(key[1])
        y0 = int(pdf["y0"].iloc[0])
        x0 = int(pdf["x0"].iloc[0])
        out = np.zeros((tile_px, tile_px), dtype=np.dtype(dtype))
        for row in pdf.itertuples(index=False):
            a = np.frombuffer(row.tile, dtype=np.dtype(dtype)).reshape(ts, ts)
            oy, ox = int(row.ty) * ts, int(row.tx) * ts
            ys0 = max(y0, oy)
            ys1 = min(y0 + tile_px, oy + ts)
            xs0 = max(x0, ox)
            xs1 = min(x0 + tile_px, ox + ts)
            if ys0 >= ys1 or xs0 >= xs1:
                continue
            out[ys0 - y0 : ys1 - y0, xs0 - x0 : xs1 - x0] = a[ys0 - oy : ys1 - oy, xs0 - ox : xs1 - ox]
        return pd.DataFrame(
            {"region_id": [region_id], "c": [c], "y0": [y0], "x0": [x0], "data": [_buf(out)]}
        )

    return _crop


# ---------------------------------------------------------------------------
# 3D raster tiles (Labels3DModel / Image3DModel analogs)
# ---------------------------------------------------------------------------
#
# Reference 3D rasters are (z, y, x) labels / (c, z, y, x) images
# (models/models.py:428,447) with 3D bbox queries
# (_core/query/spatial_query.py:537-615).  The Spark representation is
# z-plane tiles: the 2D tile table gains a plain `z` column::
#
#     (scale: int, c: int, z: long, ty: long, tx: long, tile: binary)
#
# Keeping z as a row column (not folding it into the tile buffer) means
# a z-range query is an ordinary Catalyst range predicate — partition /
# row-group pruning in z comes for free, exactly like lazy zarr slicing
# of z-chunked arrays with chunk depth 1 — and every 2D tile kernel
# (crop, map, pool) applies per z-plane unchanged.  At 100 TB a volume
# is (nz × tiles_y × tiles_x) independent rows; no operator below
# shuffles except the pack (one groupBy on the tile key).

TILE3D_SCHEMA = T.StructType(
    [
        T.StructField("scale", T.IntegerType()),
        T.StructField("c", T.IntegerType()),
        T.StructField("z", T.LongType()),
        T.StructField("ty", T.LongType()),
        T.StructField("tx", T.LongType()),
        T.StructField("tile", T.BinaryType()),
    ]
)


def long3d_to_tiles(df_long: DataFrame, meta: RasterMeta, value_col: str = "value") -> DataFrame:
    """Pack a sparse long-form volume ``(c?, z, y, x, value)`` into
    z-plane tiles.  One shuffle on (c, z, ty, tx), then a numpy scatter
    per group — same plan as :func:`long_to_tiles` with z in the key."""
    ts = meta.tile
    has_c = "c" in df_long.columns
    keyed = df_long.select(
        (F.col("c").cast("int") if has_c else F.lit(0)).alias("c"),
        F.col("z").cast("long").alias("z"),
        (F.col("y").cast("long") % ts).alias("iy"),
        (F.col("x").cast("long") % ts).alias("ix"),
        F.floor(F.col("y") / ts).cast("long").alias("ty"),
        F.floor(F.col("x") / ts).cast("long").alias("tx"),
        F.col(value_col).alias("value"),
    )

    return keyed.groupBy("c", "z", "ty", "tx").applyInPandas(
        _pack3d_kernel(ts, meta.dtype), TILE3D_SCHEMA
    )


def _pack3d_kernel(ts: int, dtype: str):
    def _pack(key, pdf):
        import pandas as pd

        c, z, ty, tx = (int(k) for k in key)
        a = np.zeros((ts, ts), dtype=np.dtype(dtype))
        a[pdf["iy"].to_numpy(), pdf["ix"].to_numpy()] = pdf["value"].to_numpy()
        return pd.DataFrame(
            {"scale": [0], "c": [c], "z": [z], "ty": [ty], "tx": [tx], "tile": [_buf(a)]}
        )

    return _pack


def tiles3d_to_long(tiles: DataFrame, meta: RasterMeta, keep_zeros: bool = False, scale: int = 0) -> DataFrame:
    """Unpack z-plane tiles to long form ``(c, z, y, x, value)``."""
    h, w = meta.shape_at(scale)
    schema = T.StructType(
        [
            T.StructField("c", T.IntegerType()),
            T.StructField("z", T.LongType()),
            T.StructField("y", T.LongType()),
            T.StructField("x", T.LongType()),
            T.StructField("value", T.DoubleType() if meta.dtype.startswith("f") else T.LongType()),
        ]
    )
    return tiles.filter(F.col("scale") == scale).mapInPandas(
        _unpack3d_kernel(meta.tile, meta.dtype, h, w, keep_zeros), schema
    )


def _unpack3d_kernel(ts: int, dtype: str, h: int, w: int, keep_zeros: bool):
    def _unpack(iterator):
        import pandas as pd

        for pdf in iterator:
            for row in pdf.itertuples(index=False):
                a = np.frombuffer(row.tile, dtype=np.dtype(dtype)).reshape(ts, ts)
                oy, ox = int(row.ty) * ts, int(row.tx) * ts
                if keep_zeros:
                    yy, xx = np.mgrid[0:ts, 0:ts]
                    yy, xx, vv = yy.ravel(), xx.ravel(), a.ravel()
                else:
                    yy, xx = np.nonzero(a)
                    vv = a[yy, xx]
                ay, ax = yy + oy, xx + ox
                m = (ay < h) & (ax < w)
                yield pd.DataFrame(
                    {"c": int(row.c), "z": int(row.z), "y": ay[m], "x": ax[m], "value": vv[m]}
                )

    return _unpack


def bounding_box_query_tiles_3d(
    tiles: DataFrame,
    meta: RasterMeta,
    z0: int,
    y0: int,
    x0: int,
    z1: int,
    y1: int,
    x1: int,
    scale: int = 0,
) -> DataFrame:
    """3D integer-slice bbox query on z-plane tiles (reference 3D raster
    query, spatial_query.py:537-615 with a z axis).  The z slice is a
    plain Catalyst range predicate — pruned before any Python runs —
    and the in-plane crop reuses the 2D kernel per surviving tile."""
    ts = meta.tile
    pruned = tiles.filter(
        (F.col("scale") == scale)
        & (F.col("z") >= z0)
        & (F.col("z") < z1)
        & (F.col("ty") >= y0 // ts)
        & (F.col("ty") <= (y1 - 1) // ts)
        & (F.col("tx") >= x0 // ts)
        & (F.col("tx") <= (x1 - 1) // ts)
    )

    return pruned.mapInPandas(_bbox_crop3d_kernel(ts, meta.dtype, y0, x0, y1, x1), TILE3D_SCHEMA)


def _bbox_crop3d_kernel(ts: int, dtype: str, y0: int, x0: int, y1: int, x1: int):
    def _crop(iterator):
        for pdf in iterator:
            out = []
            for row in pdf.itertuples(index=False):
                a = np.frombuffer(row.tile, dtype=np.dtype(dtype)).reshape(ts, ts).copy()
                oy, ox = int(row.ty) * ts, int(row.tx) * ts
                yy, xx = np.mgrid[0:ts, 0:ts]
                mask = (yy + oy >= y0) & (yy + oy < y1) & (xx + ox >= x0) & (xx + ox < x1)
                a[~mask] = 0
                out.append(_buf(a))
            pdf = pdf.copy()
            pdf["tile"] = out
            yield pdf

    return _crop


def _map_tiles3d_kernel(fn, ts: int, dtype: str, out_dtype: str):
    def _apply(iterator):
        for pdf in iterator:
            out = []
            for row in pdf.itertuples(index=False):
                a = np.frombuffer(row.tile, dtype=np.dtype(dtype)).reshape(ts, ts)
                out.append(_buf(np.asarray(fn(a), dtype=np.dtype(out_dtype))))
            pdf = pdf.copy()
            pdf["tile"] = out
            yield pdf

    return _apply


def map_tiles_3d(tiles: DataFrame, fn, meta: RasterMeta, out_dtype: str | None = None) -> DataFrame:
    """Per-z-plane ``map_raster`` over a volume: shuffle-free, fn runs
    tile-wise exactly as in :func:`map_tiles`."""
    return tiles.mapInPandas(
        _map_tiles3d_kernel(fn, meta.tile, meta.dtype, out_dtype or meta.dtype), TILE3D_SCHEMA
    )


def zonal_quantiles_long(
    img_long: DataFrame,
    labels_long: DataFrame,
    qs: tuple[float, ...] = (0.25, 0.5, 0.75),
    value_col: str = "value",
) -> DataFrame:
    """Per-label per-channel exact quantiles of image values — the
    order-statistics extension of ``zonal_stats_tiles`` (reference
    aggregate supports sum/mean/count via xrspatial; quantiles are the
    natural next stat a zonal consumer asks for).

    Exact linear-interpolated ``percentile`` (matches SQL
    ``quantile_cont`` semantics on DOUBLE).  The join is a pixel-key
    equi-join of two long forms co-keyed on (y, x) — co-partitioned by
    the same key, so on a cluster the shuffle is one exchange per side;
    the grouped percentile needs each label's values together, the
    inherent cost of an exact order statistic (use approx_percentile
    for sketch-sized state when exactness isn't required).
    """
    lab = labels_long.select("y", "x", F.col("value").alias("label"))
    joined = img_long.join(lab, ["y", "x"])
    q_list = ", ".join(str(float(q)) for q in qs)
    pct = F.expr(f"percentile({value_col}, array({q_list}))")
    out = joined.groupBy("label", "c").agg(pct.alias("__qs"))
    cols = [F.col("__qs")[i].alias(f"q{int(q * 100)}") for i, q in enumerate(qs)]
    return out.select("label", "c", *cols)
