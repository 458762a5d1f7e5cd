"""Canonical source readers (reference: _io/io_points.py:23-46,
io_shapes.py:33-67, io_table.py:22, io_zarr.py:125-235).

Each reader returns a schema-validated DataFrame; filters/column lists
passed here reach the parquet scan (predicate pushdown / column
pruning), which is the scale-path replacement for the reference's lazy
dask reads.  The full-container reader is ``SpatialDataset.read``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spatialdata_spark.models.schemas import get_model


def read_points(
    spark: SparkSession,
    path: str,
    columns: list[str] | None = None,
    predicate=None,
    coordinates: dict[str, str] | None = None,
) -> DataFrame:
    """Points from parquet; optional renames via ``coordinates``
    (PointsModel.parse), projection and filter pushed to the scan."""
    df = spark.read.parquet(path)
    df = get_model("points").parse(df, coordinates=coordinates)
    if predicate is not None:
        df = df.filter(predicate)
    if columns:
        df = df.select(*columns)
    return df


def read_shapes(spark: SparkSession, path: str, predicate=None) -> DataFrame:
    """Shapes from parquet (WKB + denormalized bbox columns)."""
    df = spark.read.parquet(path)
    get_model("shapes").validate(df)
    if predicate is not None:
        df = df.filter(predicate)
    return df


def read_labels_long(spark: SparkSession, path: str, predicate=None) -> DataFrame:
    df = spark.read.parquet(path)
    get_model("labels").validate(df)
    if predicate is not None:
        df = df.filter(predicate)
    return df


def read_raster_tiles(spark: SparkSession, path: str, scale: int | None = None) -> DataFrame:
    """Tile-form raster; ``scale`` prunes pyramid levels at the scan."""
    df = spark.read.parquet(path)
    get_model("images").validate(df)
    if scale is not None:
        df = df.filter(F.col("scale") == scale)
    return df


def read_events(spark: SparkSession, path: str) -> DataFrame:
    """Event stream table.  Parquet TIMESTAMP(NANOS) columns are read as
    long (legacy flag) and truncated to microseconds — the same
    truncation DuckDB applies."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    df = spark.read.parquet(path)
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return df


def read_events_stream(spark: SparkSession, path: str, schema) -> DataFrame:
    """Structured-Streaming variant of the events source."""
    return spark.readStream.schema(schema).parquet(path)


_META_SCHEMA = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("minx", T.DoubleType()),
        T.StructField("miny", T.DoubleType()),
        T.StructField("maxx", T.DoubleType()),
        T.StructField("maxy", T.DoubleType()),
    ]
)


# module-level: a pandas_udf created inside the reader re-pickles and
# re-registers the function on every call
@F.pandas_udf(_META_SCHEMA)
def _meta(wkb_s, radius_s):
    import numpy as np
    import pandas as pd

    from spatialdata_spark.geometry import wkb as W

    rows = []
    for buf, radius in zip(wkb_s, radius_s):
        kind, geom = W.decode(bytes(buf))
        if kind == "point":
            r = float(radius or 0.0)
            rows.append(("point", geom[0] - r, geom[1] - r, geom[0] + r, geom[1] + r))
        else:
            pts = geom[0] if kind == "polygon" else np.vstack([rings[0] for rings in geom])
            rows.append(
                (
                    kind,
                    float(pts[:, 0].min()),
                    float(pts[:, 1].min()),
                    float(pts[:, 0].max()),
                    float(pts[:, 1].max()),
                )
            )
    return pd.DataFrame(rows, columns=["kind", "minx", "miny", "maxx", "maxy"])


def shapes_from_geoparquet(df: DataFrame, id_col: str | None = None) -> DataFrame:
    """Normalize a GeoParquet-style shapes table — a ``geometry`` WKB
    column plus optional ``radius`` — into this repo's denormalized
    shapes schema ``(shape_id, kind, wkb, minx..maxy, radius)``.

    This is what a *reference-written* ``shapes.parquet`` (spatialdata
    ShapesFormatV02+, geopandas ``to_parquet``) looks like: standard
    little-endian WKB, circles as Point rows with a radius column, the
    dataframe index persisted as a column.  The bbox derivation is one
    Arrow-batched pass; everything downstream (grid joins, spatial
    queries) then works unchanged.
    """
    geom_col = "geometry" if "geometry" in df.columns else "wkb"
    if id_col is None:
        for cand in ("shape_id", "__index_level_0__", "index"):
            if cand in df.columns:
                id_col = cand
                break
    if id_col is None:
        # no persisted index: assign ids (documented: not stable across
        # re-reads of an unsorted source — persist an index upstream)
        df = df.withColumn("shape_id", F.monotonically_increasing_id())
        id_col = "shape_id"

    radius = F.col("radius") if "radius" in df.columns else F.lit(None).cast("double")
    out = df.withColumn("__m", _meta(F.col(geom_col), radius))
    return out.select(
        F.col(id_col).cast("long").alias("shape_id"),
        F.col("__m.kind").alias("kind"),
        F.col(geom_col).alias("wkb"),
        F.col("__m.minx").alias("minx"),
        F.col("__m.miny").alias("miny"),
        F.col("__m.maxx").alias("maxx"),
        F.col("__m.maxy").alias("maxy"),
        radius.alias("radius"),
    )
