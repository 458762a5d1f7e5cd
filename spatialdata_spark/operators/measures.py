"""Centroids, extent, instances — the small aggregation operators.

Reference: src/spatialdata/_core/centroids.py:32-139,
src/spatialdata/_core/data_extent.py:24-359,
src/spatialdata/_core/query/relational_query.py:62-120.

All of these are single groupBy/agg jobs with map-side partial
aggregation; none needs a UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spatialdata_spark.transformations import BaseTransformation


def centroids_labels(labels_long: DataFrame) -> DataFrame:
    """Per-label mean pixel coordinate (reference: centroids.py:58-80,
    a bincount → here groupBy/avg).  Background 0 dropped
    (centroids.py:101-102)."""
    cols = [F.avg("x").alias("x"), F.avg("y").alias("y")]
    if "z" in labels_long.columns:
        cols.append(F.avg("z").alias("z"))
    return (
        labels_long.filter(F.col("label") != 0)
        .groupBy("label")
        .agg(*cols)
        .withColumnRenamed("label", "instance_id")
    )


# module-level: a pandas_udf created inside the operator re-pickles and
# re-registers the function on every plan construction (~4 ms each:
# median of 60 builds against a reused UDF, 4 cores)
@F.pandas_udf(T.StructType([T.StructField("x", T.DoubleType()), T.StructField("y", T.DoubleType())]))
def _centroid(wkb_s):
    import pandas as pd

    from spatialdata_spark.geometry import predicates as P
    from spatialdata_spark.geometry import wkb as W

    rows = []
    for buf in wkb_s:
        kind, geom = W.decode(bytes(buf))
        if kind == "polygon":
            rows.append(P.polygon_centroid(geom))
        else:  # multipolygon: area-weighted average of member centroids
            num_x = num_y = den = 0.0
            for rings in geom:
                cx, cy = P.polygon_centroid(rings)
                a = P.polygon_area(rings)
                num_x += cx * a
                num_y += cy * a
                den += a
            rows.append((num_x / den, num_y / den) if den else (0.0, 0.0))
    return pd.DataFrame(rows, columns=["x", "y"])


def centroids_shapes(shapes: DataFrame) -> DataFrame:
    """Shape centroids (reference: centroids.py:108-139).

    Circles: bbox center — exact, pure expressions.  Polygons: exact
    area-weighted centroid via the geometry kernel (Arrow batched).
    """
    circle = shapes.filter(F.col("kind") == "point").select(
        F.col("shape_id").alias("instance_id"),
        ((F.col("minx") + F.col("maxx")) / 2).alias("x"),
        ((F.col("miny") + F.col("maxy")) / 2).alias("y"),
    )
    polys = shapes.filter(F.col("kind") != "point")

    poly_out = polys.select(
        F.col("shape_id").alias("instance_id"), _centroid(F.col("wkb")).alias("__c")
    ).select("instance_id", F.col("__c.x").alias("x"), F.col("__c.y").alias("y"))
    return circle.unionByName(poly_out)


def centroids_points(points: DataFrame) -> DataFrame:
    """Points pass through (centroids.py:131-139)."""
    cols = ["x", "y"] + (["z"] if "z" in points.columns else [])
    return points.select(*cols)


def extent_points(points: DataFrame) -> dict[str, tuple[float, float]]:
    """Global min/max per axis (reference: data_extent.py:24-97)."""
    axes = ["x", "y"] + (["z"] if "z" in points.columns else [])
    aggs = []
    for ax in axes:
        aggs += [F.min(ax).alias(f"min_{ax}"), F.max(ax).alias(f"max_{ax}")]
    row = points.agg(*aggs).first()
    return {ax: (row[f"min_{ax}"], row[f"max_{ax}"]) for ax in axes}


def extent_shapes(shapes: DataFrame) -> dict[str, tuple[float, float]]:
    """Shapes extent from bbox columns; circles already padded by radius
    at parse time (reference pads by radius, data_extent.py:169-239)."""
    row = shapes.agg(
        F.min("minx").alias("minx"),
        F.min("miny").alias("miny"),
        F.max("maxx").alias("maxx"),
        F.max("maxy").alias("maxy"),
    ).first()
    return {"x": (row["minx"], row["maxx"]), "y": (row["miny"], row["maxy"])}


def extent_labels(labels_long: DataFrame) -> dict[str, tuple[float, float]]:
    axes = ["x", "y"] + (["z"] if "z" in labels_long.columns else [])
    aggs = []
    for ax in axes:
        aggs += [F.min(ax).alias(f"min_{ax}"), F.max(ax).alias(f"max_{ax}")]
    row = labels_long.agg(*aggs).first()
    return {ax: (row[f"min_{ax}"], row[f"max_{ax}"]) for ax in axes}


def transformed_bbox_corners(
    extent: dict[str, tuple[float, float]], transformation: BaseTransformation
) -> dict[str, tuple[float, float]]:
    """``exact=False`` extent: transform the bbox corners instead of the
    data (reference: data_extent.py:320-359)."""
    import itertools

    import numpy as np

    axes = tuple(extent.keys())
    corners = np.array(list(itertools.product(*[extent[ax] for ax in axes])), dtype=float)
    out = transformation.transform_coordinates(corners, axes)
    from spatialdata_spark.transformations import get_output_axes

    out_axes = get_output_axes(transformation, axes)
    return {ax: (float(out[:, i].min()), float(out[:, i].max())) for i, ax in enumerate(out_axes)}
