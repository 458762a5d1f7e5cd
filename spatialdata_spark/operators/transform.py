"""``transform``: apply a coordinate transformation to an element.

Reference: src/spatialdata/_core/operations/transform.py —
points :429-503 (dask map_partitions over coordinate columns),
shapes :506-547 (shapely affine_transform + radius rescale).

Spark-first re-expression:

* points — generated column expressions (functions/affine.py), fully
  inside whole-stage codegen; Catalyst constant-folds the matrix.
* shapes — an Arrow-batched pandas UDF rewrites WKB vertices; bbox
  columns and circle radii are recomputed as *expressions* where the
  transform is axis-aligned (identity/scale/translation), falling back
  to the UDF only for rotations/shears.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spatialdata_spark.functions.affine import apply_affine
from spatialdata_spark.transformations import (
    BaseTransformation,
    scale_radii_factor,
)


def transform_points(df: DataFrame, transformation: BaseTransformation) -> DataFrame:
    """Points transform = pure Catalyst expressions; no shuffle, no UDF."""
    return apply_affine(df, transformation)


def _linear_and_translation(transformation: BaseTransformation) -> tuple[np.ndarray, np.ndarray]:
    m = transformation.to_affine_matrix(("x", "y"), ("x", "y"))
    return m[:2, :2], m[:2, 2]


def is_axis_aligned(transformation: BaseTransformation) -> bool:
    linear, _ = _linear_and_translation(transformation)
    return linear[0, 1] == 0.0 and linear[1, 0] == 0.0


def transform_shapes(df: DataFrame, transformation: BaseTransformation) -> DataFrame:
    """Transform shape geometries.

    Axis-aligned fast path: WKB untouched is impossible (vertices move),
    but for *circles* (kind='point') the geometry is fully described by
    (cx, cy, radius) = derivable from bbox columns, so the whole
    transform is expression-only.  Polygons always go through the
    vertex-rewrite UDF; bbox columns are recomputed from the same
    batch, radius via the mean-scale-factor rule
    (reference: transformations/_utils.py:232-265).
    """
    linear, trans = _linear_and_translation(transformation)
    radius_factor = scale_radii_factor(transformation)

    sx, shy, shx, sy = linear[0, 0], linear[0, 1], linear[1, 0], linear[1, 1]
    tx, ty = trans

    if is_axis_aligned(transformation):
        # bbox maps to bbox under axis-aligned affine (watch sign flips)
        x1 = F.col("minx") * F.lit(float(sx)) + F.lit(float(tx))
        x2 = F.col("maxx") * F.lit(float(sx)) + F.lit(float(tx))
        y1 = F.col("miny") * F.lit(float(sy)) + F.lit(float(ty))
        y2 = F.col("maxy") * F.lit(float(sy)) + F.lit(float(ty))
        df2 = (
            df.withColumn("__minx", F.least(x1, x2))
            .withColumn("__maxx", F.greatest(x1, x2))
            .withColumn("__miny", F.least(y1, y2))
            .withColumn("__maxy", F.greatest(y1, y2))
        )
    else:
        df2 = None

    _rewrite_wkb = _rewrite_wkb_udf(
        float(sx), float(shy), float(shx), float(sy), float(tx), float(ty)
    )
    result = (df2 if df2 is not None else df).withColumn("wkb", _rewrite_wkb("wkb"))

    if df2 is not None:
        result = (
            result.withColumn("minx", F.col("__minx"))
            .withColumn("maxx", F.col("__maxx"))
            .withColumn("miny", F.col("__miny"))
            .withColumn("maxy", F.col("__maxy"))
            .drop("__minx", "__maxx", "__miny", "__maxy")
        )
    else:
        result = (
            result.withColumn("__b", _bounds("wkb"))
            .withColumn("minx", F.col("__b.minx"))
            .withColumn("miny", F.col("__b.miny"))
            .withColumn("maxx", F.col("__b.maxx"))
            .withColumn("maxy", F.col("__b.maxy"))
            .drop("__b")
        )
        # circle bbox must re-expand by the transformed radius
        result = result.withColumn(
            "minx", F.when(F.col("kind") == "point", F.col("minx") - F.col("radius") * F.lit(radius_factor)).otherwise(F.col("minx"))
        ).withColumn(
            "maxx", F.when(F.col("kind") == "point", F.col("maxx") + F.col("radius") * F.lit(radius_factor)).otherwise(F.col("maxx"))
        ).withColumn(
            "miny", F.when(F.col("kind") == "point", F.col("miny") - F.col("radius") * F.lit(radius_factor)).otherwise(F.col("miny"))
        ).withColumn(
            "maxy", F.when(F.col("kind") == "point", F.col("maxy") + F.col("radius") * F.lit(radius_factor)).otherwise(F.col("maxy"))
        )

    if radius_factor != 1.0:
        result = result.withColumn("radius", F.col("radius") * F.lit(radius_factor))
    return result


# module-level / keyed-factory UDFs: a pandas_udf created inside the
# operator re-pickles and re-registers the function on every plan
# construction (~4 ms each: median of 60 builds against a reused UDF,
# 4 cores)
from functools import lru_cache


@lru_cache(maxsize=64)
def _rewrite_wkb_udf(sx: float, shy: float, shx: float, sy: float, tx: float, ty: float):
    @F.pandas_udf(T.BinaryType())
    def _rewrite_wkb(wkb_s):
        import pandas as pd

        from spatialdata_spark.geometry import wkb as W

        lin = np.array([[sx, shy], [shx, sy]])
        t = np.array([tx, ty])
        out = []
        for buf in wkb_s:
            kind, geom = W.decode(bytes(buf))
            if kind == "point":
                p = lin @ geom + t
                out.append(W.encode_point(float(p[0]), float(p[1])))
            elif kind == "polygon":
                out.append(W.encode_polygon([r @ lin.T + t for r in geom]))
            else:
                out.append(W.encode_multipolygon([[r @ lin.T + t for r in rings] for rings in geom]))
        return pd.Series(out)

    return _rewrite_wkb


@F.pandas_udf(
    T.StructType(
        [
            T.StructField("minx", T.DoubleType()),
            T.StructField("miny", T.DoubleType()),
            T.StructField("maxx", T.DoubleType()),
            T.StructField("maxy", T.DoubleType()),
        ]
    )
)
def _bounds(wkb_s):
    import pandas as pd

    from spatialdata_spark.geometry import wkb as W

    rows = []
    for buf in wkb_s:
        kind, geom = W.decode(bytes(buf))
        if kind == "point":
            rows.append((float(geom[0]), float(geom[1]), float(geom[0]), float(geom[1])))
        else:
            polys = [geom] if kind == "polygon" else geom
            pts = np.vstack([r for rings in polys for r in rings])
            rows.append(
                (float(pts[:, 0].min()), float(pts[:, 1].min()), float(pts[:, 0].max()), float(pts[:, 1].max()))
            )
    return pd.DataFrame(rows, columns=["minx", "miny", "maxx", "maxy"])


def transform_labels_long(df: DataFrame, transformation: BaseTransformation) -> DataFrame:
    """Long-form labels under *integer-preserving* transforms (translation
    by integers / axis swaps).  General resampling lives in the raster
    layer (operators/raster.py, nearest-neighbor gather)."""
    return apply_affine(
        df.withColumn("x", F.col("x").cast("double")).withColumn("y", F.col("y").cast("double")),
        transformation,
    ).withColumn("x", F.round("x").cast("long")).withColumn("y", F.round("y").cast("long"))


def transform_to_coordinate_system(ds, element: str, target_cs: str) -> DataFrame:
    """Resolve the element→CS transform through the graph and apply it
    (reference: _core/spatialdata.py:780-893)."""
    kind = ds.kind_of(element)
    if kind == "tables":
        raise ValueError("cannot transform element kind 'tables' (tables carry no coordinates)")
    t = ds.get_transformation_between(element, target_cs)
    df = ds[element]
    if kind == "points":
        return transform_points(df, t)
    if kind == "shapes":
        return transform_shapes(df, t)
    if kind == "labels":
        return transform_labels_long(df, t)
    if kind == "images":
        # long-form images take the same nearest-pixel path as labels
        # (the reference also nearest-snaps rasters on transform unless
        # resampling is requested); general resampling with
        # interpolation lives in the tile layer
        # (operators/raster.py affine_resample_tiles).
        has_c = "c" in df.columns
        out = apply_affine(
            df.withColumn("x", F.col("x").cast("double")).withColumn("y", F.col("y").cast("double")),
            t,
        ).withColumn("x", F.round("x").cast("long")).withColumn("y", F.round("y").cast("long"))
        keys = (["c"] if has_c else []) + ["y", "x"]
        # non-integral affines map several source pixels onto one rounded
        # target pixel; deduplicate to one row per pixel (mean of the
        # colliders).  Holes are inherent to forward nearest-snapping —
        # proper inverse-map resampling lives in
        # operators/raster.affine_resample_tiles.
        return out.groupBy(*keys).agg(F.avg("value").alias("value")).select(*keys, "value")
    raise ValueError(f"cannot transform element kind {kind!r} (tables carry no coordinates)")
