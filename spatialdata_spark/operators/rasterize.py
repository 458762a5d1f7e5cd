"""Rasterize points/shapes onto a pixel grid; relabel operators.

Reference: src/spatialdata/_core/operations/rasterize.py:616-761
(datashader canvas aggregation: count/sum/first/count_cat) and
src/spatialdata/_core/operations/map.py:159-253 (relabeling).

Spark-first: datashader's canvas agg IS a groupBy on floor-binned
pixel coordinates — `groupBy(floor((y-y0)/res), floor((x-x0)/res))` —
with map-side combine.  `count_cat` is the same groupBy plus the
category key (long-form; pivot on demand).  The output is a long-form
raster (sparse: only populated pixels), which is also the
scale-correct representation for 100 TB of transcripts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

_REDUCTIONS = ("count", "sum", "mean", "first", "max", "min")


def rasterize_points(
    points: DataFrame,
    x0: float,
    y0: float,
    resolution: float,
    value_col: str | None = None,
    reduction: str = "count",
    width: int | None = None,
    height: int | None = None,
) -> DataFrame:
    """Bin points to pixels: ``(py, px, value)`` long-form raster.

    reduction='count'  -> datashader ds.count()  (rasterize.py:704-710)
    reduction='sum'    -> ds.sum(value_col)
    reduction='first'  -> ds.first(value_col) — first by input row order,
    approximated here as F.first (non-deterministic across partitions,
    like datashader's parallel first).
    reduction='count_cat' -> use rasterize_points_categorical.
    """
    if reduction not in _REDUCTIONS:
        raise ValueError(f"reduction {reduction!r}; supported: {_REDUCTIONS}")
    px = F.floor((F.col("x") - F.lit(float(x0))) / F.lit(float(resolution))).alias("px")
    py = F.floor((F.col("y") - F.lit(float(y0))) / F.lit(float(resolution))).alias("py")
    binned = points.select(py, px, *([F.col(value_col)] if value_col else []))
    if width is not None:
        binned = binned.filter((F.col("px") >= 0) & (F.col("px") < width))
    if height is not None:
        binned = binned.filter((F.col("py") >= 0) & (F.col("py") < height))
    g = binned.groupBy("py", "px")
    if reduction == "count":
        return g.agg(F.count(F.lit(1)).alias("value"))
    if value_col is None:
        raise ValueError(f"reduction {reduction!r} needs a value_col")
    fn = {"sum": F.sum, "mean": F.avg, "first": F.first, "max": F.max, "min": F.min}[reduction]
    return g.agg(fn(F.col(value_col)).alias("value"))


def rasterize_points_categorical(
    points: DataFrame,
    x0: float,
    y0: float,
    resolution: float,
    category_col: str,
    pivot: bool = False,
) -> DataFrame:
    """datashader ``count_cat`` (rasterize.py:694): per-pixel per-category
    counts.  Long form by default (multichannel image analog); pivot=True
    returns one column per category (small category sets only)."""
    px = F.floor((F.col("x") - F.lit(float(x0))) / F.lit(float(resolution))).alias("px")
    py = F.floor((F.col("y") - F.lit(float(y0))) / F.lit(float(resolution))).alias("py")
    binned = points.select(py, px, F.col(category_col).alias("category"))
    long = binned.groupBy("py", "px", "category").agg(F.count(F.lit(1)).alias("n"))
    if not pivot:
        return long
    return long.groupBy("py", "px").pivot("category").agg(F.first("n")).na.fill(0)


def rasterize_circles_fill(circles: DataFrame) -> DataFrame:
    """Full-disk rasterization of circles — pure Catalyst expressions.

    Input: ``(shape_id, x, y, radius)`` circle table.  Output long-form
    labels ``(y, x, label)``: every integer pixel whose center lies
    inside the disk, one row per (circle, pixel) so overlaps keep all
    claimants (reference rasterize.py:616-743 resolves overlap with the
    reduction; callers pick ``groupBy(y, x).agg(min/first)``).

    Plan: explode the bbox rows (sequence per axis), filter by the
    squared-distance test — whole-stage codegen end to end, work
    proportional to Σ bbox areas, embarrassingly parallel across
    circles.  No shuffle at all until a caller aggregates.
    """
    cy = F.col("y")
    cx = F.col("x")
    r = F.col("radius")
    out = (
        circles.withColumn(
            "py", F.explode(F.sequence(F.ceil(cy - r).cast("long"), F.floor(cy + r).cast("long")))
        )
        .withColumn(
            "px", F.explode(F.sequence(F.ceil(cx - r).cast("long"), F.floor(cx + r).cast("long")))
        )
        .filter(
            (F.col("px") - cx) * (F.col("px") - cx) + (F.col("py") - cy) * (F.col("py") - cy)
            <= r * r
        )
    )
    return out.select(
        F.col("py").alias("y"), F.col("px").alias("x"), F.col("shape_id").alias("label")
    )


def rasterize_polygons_fill(shapes: DataFrame) -> DataFrame:
    """Scanline fill of polygon/multipolygon shapes -> ``(y, x, label)``.

    The even-odd interior test has no Catalyst expression form for
    arbitrary rings, so this is the documented Pandas-UDF path
    (SURVEY.md §7 custom-op ③): ``mapInPandas`` over shape rows, each
    polygon filled with a vectorized numpy even-odd test over its bbox
    pixel grid.  Embarrassingly parallel across shapes; repartition the
    shape table upstream if a few giant polygons skew task sizes.

    Reference: rasterize.py:616-743 (datashader ``cnv.polygons``).
    """
    cols = ["shape_id", "kind", "wkb", "minx", "miny", "maxx", "maxy", "radius"]
    return shapes.select(*cols).mapInPandas(_fill, _FILL_SCHEMA)


_FILL_SCHEMA = T.StructType(
    [
        T.StructField("y", T.LongType()),
        T.StructField("x", T.LongType()),
        T.StructField("label", T.LongType()),
    ]
)


def _fill(batches):
    import numpy as np
    import pandas as pd

    from spatialdata_spark.geometry import predicates as P
    from spatialdata_spark.geometry import wkb as W

    for pdf in batches:
        ys_out: list[np.ndarray] = []
        xs_out: list[np.ndarray] = []
        ls_out: list[np.ndarray] = []
        for row in pdf.itertuples(index=False):
            buf = row.wkb
            if buf is None:
                continue
            kind, geom = W.decode(bytes(buf))
            y0 = int(np.ceil(row.miny))
            y1 = int(np.floor(row.maxy))
            x0 = int(np.ceil(row.minx))
            x1 = int(np.floor(row.maxx))
            if y1 < y0 or x1 < x0:
                continue
            gy, gx = np.mgrid[y0 : y1 + 1, x0 : x1 + 1]
            fy = gy.ravel().astype(float)
            fx = gx.ravel().astype(float)
            if kind == "polygon":
                mask = P.points_in_polygon(fx, fy, geom)
            elif kind == "multipolygon":
                mask = P.points_in_multipolygon(fx, fy, geom)
            else:  # circle row in a mixed table
                ccx = (row.minx + row.maxx) / 2.0
                ccy = (row.miny + row.maxy) / 2.0
                rr = float(row.radius)
                mask = (fx - ccx) ** 2 + (fy - ccy) ** 2 <= rr * rr
            ys_out.append(gy.ravel()[mask])
            xs_out.append(gx.ravel()[mask])
            ls_out.append(np.full(int(mask.sum()), int(row.shape_id), dtype=np.int64))
        if ys_out:
            yield pd.DataFrame(
                {
                    "y": np.concatenate(ys_out),
                    "x": np.concatenate(xs_out),
                    "label": np.concatenate(ls_out),
                }
            )


def rasterize_bins(
    obs: DataFrame,
    x_long: DataFrame,
    var_name: str,
    row_key: str = "array_row",
    col_key: str = "array_col",
    instance_key: str = "instance_id",
    n_fit: int = 100,
) -> DataFrame:
    """Grid-organized bins -> image pixels (reference:
    rasterize_bins.py:31-237, Visium HD).

    The (row, col) -> (x, y) affine is estimated driver-side from a
    small sample of bin centroids via numpy lstsq (the reference uses
    skimage estimate_transform on 6+ sampled bins); per-bin values come
    from the long-form X table filtered on ``var_name`` — the
    predicate-pushdown replacement for the reference's CSC column
    slice.  Output: ``(py, px, value)`` long-form raster.
    """
    import numpy as np

    sample = obs.select(row_key, col_key, "x", "y").limit(max(n_fit, 6)).collect()
    if len(sample) < 3:
        raise ValueError("need at least 3 bins to fit the grid affine")
    rc = np.array([[r[row_key], r[col_key], 1.0] for r in sample], dtype=float)
    xy = np.array([[r["x"], r["y"]] for r in sample], dtype=float)
    coef, *_ = np.linalg.lstsq(rc, xy, rcond=None)  # (3,2): [x y] = [row col 1] @ coef
    resid = rc @ coef - xy
    if np.abs(resid).max() > 1e-6:
        raise ValueError("bin centroids are not grid-affine (reference raises too)")

    px = F.round(
        F.col(row_key) * float(coef[0, 0]) + F.col(col_key) * float(coef[1, 0]) + float(coef[2, 0])
    ).cast("long")
    py = F.round(
        F.col(row_key) * float(coef[0, 1]) + F.col(col_key) * float(coef[1, 1]) + float(coef[2, 1])
    ).cast("long")
    vals = x_long.filter(F.col("var_name") == var_name).select(
        F.col("obs_id").alias(instance_key), F.col("value")
    )
    return (
        obs.select(F.col(instance_key), px.alias("px"), py.alias("py"))
        .join(vals, instance_key)
        .select("py", "px", "value")
    )


def relabel_sequential(labels_long: DataFrame) -> DataFrame:
    """Dense-rank labels to 1..n keeping 0 as background
    (reference: map.py:219-253 relabel_sequential).

    The distinct-label set is tiny relative to pixels: build the mapping
    with a window over distincts, then broadcast-join it back — the big
    table is never shuffled.
    """
    mapping = (
        labels_long.select("label")
        .filter(F.col("label") != 0)
        .distinct()
        .withColumn("new_label", F.dense_rank().over(Window.orderBy("label")))
    )
    return (
        labels_long.join(F.broadcast(mapping), "label", "left")
        .withColumn("label", F.coalesce(F.col("new_label"), F.lit(0)))
        .drop("new_label")
    )


def relabel_by_partition(labels_long: DataFrame, shift_bits: int = 32) -> DataFrame:
    """Disambiguate chunk-local label ids without global coordination:
    ``label | (partition_id << shift)`` (reference: map.py:159-216 uses
    the same bit-shift trick over dask blocks)."""
    return labels_long.withColumn(
        "label",
        F.when(
            F.col("label") != 0,
            F.col("label").bitwiseOR(F.shiftleft(F.spark_partition_id().cast("long"), shift_bits)),
        ).otherwise(F.lit(0)),
    )
