"""Element models: fixed schemas + parse/validate ("parse, don't infer").

Mirrors the reference's model layer (reference: src/spatialdata/models/
models.py — PointsModel :667, ShapesModel :451, Labels2D/3D :409/:428,
Image2D/3D :443/:447, TableModel :948): each element kind has a fixed
schema validated at ingest, and a ``parse`` normalizer.  On Spark the
schema is a ``StructType`` contract over a DataFrame; validation is
driver-side (cheap — schema objects only), never a data scan unless
explicitly requested.

Representations:

* points  — ``x: double, y: double [, z: double]`` + arbitrary extra
  columns; optional ``feature_key`` / ``instance_key`` metadata.
* shapes  — ``shape_id: long, kind: string('point'|'polygon'|'multipolygon'),
  wkb: binary, minx/miny/maxx/maxy: double, radius: double`` (radius
  NaN/null for non-circles).  The bbox columns are denormalized at parse
  time so spatial pruning is a Catalyst range predicate, replacing the
  reference's R-tree prefilter (spatial_query.py:788).
* labels  — long form ``y: long, x: long [, z: long], label: long``.
* images  — long form ``c: int, y: long, x: long, value: double`` (small
  rasters) or chunk form (see sources/raster.py).
* tables  — ``obs`` DataFrame carrying ``(region_key, instance_key)``
  annotation metadata (models.py:948-952), plus optional long-form
  ``X (obs_id, var_name, value)`` and ``var``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

NUMERIC_TYPES = (
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.ShortType,
    T.ByteType,
    T.DecimalType,
)

SHAPES_SCHEMA = T.StructType(
    [
        T.StructField("shape_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("wkb", T.BinaryType(), False),
        T.StructField("minx", T.DoubleType(), False),
        T.StructField("miny", T.DoubleType(), False),
        T.StructField("maxx", T.DoubleType(), False),
        T.StructField("maxy", T.DoubleType(), False),
        T.StructField("radius", T.DoubleType(), True),
    ]
)

LABELS_LONG_SCHEMA = T.StructType(
    [
        T.StructField("y", T.LongType(), False),
        T.StructField("x", T.LongType(), False),
        T.StructField("label", T.LongType(), False),
    ]
)

IMAGE_LONG_SCHEMA = T.StructType(
    [
        T.StructField("c", T.IntegerType(), False),
        T.StructField("y", T.LongType(), False),
        T.StructField("x", T.LongType(), False),
        T.StructField("value", T.DoubleType(), False),
    ]
)


class _ModelBase:
    kind: str = ""

    @classmethod
    def validate(cls, df: DataFrame) -> None:
        raise NotImplementedError


class PointsModel(_ModelBase):
    """Points: coordinate columns + free columns (models.py:667-945)."""

    kind = "points"
    COORD_COLS_2D = ("x", "y")
    COORD_COLS_3D = ("x", "y", "z")

    @classmethod
    def axes(cls, df: DataFrame) -> tuple[str, ...]:
        return ("x", "y", "z") if "z" in df.columns else ("x", "y")

    @classmethod
    def validate(cls, df: DataFrame) -> None:
        for c in ("x", "y"):
            if c not in df.columns:
                raise ValueError(f"Points element missing coordinate column {c!r}")
        for f_ in df.schema.fields:
            if f_.name in ("x", "y", "z") and not isinstance(f_.dataType, NUMERIC_TYPES):
                raise ValueError(f"Coordinate column {f_.name!r} must be numeric, got {f_.dataType}")

    @classmethod
    def parse(
        cls,
        df: DataFrame,
        coordinates: dict[str, str] | None = None,
        feature_key: str | None = None,
        instance_key: str | None = None,
    ) -> DataFrame:
        """Normalize arbitrary column names to canonical x/y(/z) doubles."""
        if coordinates:
            for canonical, src in coordinates.items():
                if src != canonical:
                    df = df.withColumnRenamed(src, canonical)
        for c in ("x", "y", "z"):
            if c in df.columns:
                df = df.withColumn(c, F.col(c).cast("double"))
        cls.validate(df)
        return df


class ShapesModel(_ModelBase):
    """Shapes: circles (point+radius) / polygons / multipolygons (models.py:451-549)."""

    kind = "shapes"

    @classmethod
    def validate(cls, df: DataFrame) -> None:
        missing = [c for c in ("shape_id", "kind", "wkb", "minx", "miny", "maxx", "maxy") if c not in df.columns]
        if missing:
            raise ValueError(f"Shapes element missing columns {missing}")

    @classmethod
    def validate_data(cls, df: DataFrame) -> None:
        """Data-level checks (one Spark job): no mixed point/polygon kinds,
        circles have positive radius (models.py:474-549)."""
        kinds = [r["kind"] for r in df.select("kind").distinct().collect()]
        if "point" in kinds and ("polygon" in kinds or "multipolygon" in kinds):
            raise ValueError("Mixing circle (point) and polygon geometry in one shapes element is not allowed")
        if "point" in kinds:
            bad = df.filter((F.col("kind") == "point") & (~(F.col("radius") > 0))).limit(1).count()
            if bad:
                raise ValueError("Circle shapes require a positive radius")


class LabelsModel(_ModelBase):
    """Integer segmentation masks, long form; label 0 = background."""

    kind = "labels"

    @classmethod
    def axes(cls, df: DataFrame) -> tuple[str, ...]:
        return ("z", "y", "x") if "z" in df.columns else ("y", "x")

    @classmethod
    def validate(cls, df: DataFrame) -> None:
        for c in ("y", "x", "label"):
            if c not in df.columns:
                raise ValueError(f"Labels element missing column {c!r}")
        for f_ in df.schema.fields:
            if f_.name in ("y", "x", "z", "label") and not isinstance(
                f_.dataType, (T.IntegerType, T.LongType, T.ShortType, T.ByteType)
            ):
                raise ValueError(f"Labels column {f_.name!r} must be integer, got {f_.dataType}")


class ImageModel(_ModelBase):
    """Multichannel raster, long form ``(c,y,x,value)`` or chunk table."""

    kind = "images"

    @classmethod
    def validate(cls, df: DataFrame) -> None:
        cols = set(df.columns)
        if {"c", "y", "x", "value"} <= cols:
            return
        if {"scale", "c", "ty", "tx", "tile"} <= cols:
            return
        raise ValueError("Image element must be long-form (c,y,x,value) or tile-form (scale,c,ty,tx,tile)")


class TableModel(_ModelBase):
    """Annotation table: obs rows keyed by (region_key, instance_key).

    The annotation triple (region, region_key, instance_key) lives in
    catalog metadata, mirroring uns['spatialdata_attrs']
    (models.py:948-952, 1181-1269).
    """

    kind = "tables"

    @classmethod
    def validate(cls, df: DataFrame, region_key: str = "region", instance_key: str = "instance_id") -> None:
        for c in (region_key, instance_key):
            if c not in df.columns:
                raise ValueError(f"Table missing annotation key column {c!r}")

    @classmethod
    def validate_data(cls, df: DataFrame, region_key: str = "region", instance_key: str = "instance_id") -> None:
        """Per-region uniqueness of instance ids (models.py:1250-1259)."""
        dup = (
            df.groupBy(region_key, instance_key)
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .count()
        )
        if dup:
            raise ValueError("Instance ids must be unique within each region")


_MODELS = {m.kind: m for m in (PointsModel, ShapesModel, LabelsModel, ImageModel, TableModel)}


def get_model(kind: str) -> type[_ModelBase]:
    """Schema class by element kind (models.py:1283-1325 analog)."""
    if kind not in _MODELS:
        raise ValueError(f"Unknown element kind {kind!r}; valid: {sorted(_MODELS)}")
    return _MODELS[kind]


class Labels2DModel(LabelsModel):
    """Strictly 2-d labels (reference Labels2DModel, models.py:409)."""

    @classmethod
    def validate(cls, df: DataFrame) -> None:
        super().validate(df)
        if "z" in df.columns:
            raise ValueError("Labels2DModel data must not have a z column")


class Labels3DModel(LabelsModel):
    """(z, y, x) labels (reference Labels3DModel, models.py:428)."""

    @classmethod
    def validate(cls, df: DataFrame) -> None:
        super().validate(df)
        if "z" not in df.columns:
            raise ValueError("Labels3DModel data needs a z column")


class Image2DModel(ImageModel):
    """(c, y, x) images (reference Image2DModel, models.py:443)."""

    @classmethod
    def validate(cls, df: DataFrame) -> None:
        super().validate(df)
        if "z" in df.columns:
            raise ValueError("Image2DModel data must not have a z column")


class Image3DModel(ImageModel):
    """(c, z, y, x) images (reference Image3DModel, models.py:447)."""

    @classmethod
    def validate(cls, df: DataFrame) -> None:
        super().validate(df)
        if "z" not in df.columns and "tile" not in df.columns:
            raise ValueError("Image3DModel long-form data needs a z column")


#: axis name constants (reference models/_utils.py C/Z/Y/X)
C, Z, Y, X = "c", "z", "y", "x"


def get_axes_names(df: DataFrame) -> tuple[str, ...]:
    """Axes of an element DataFrame by schema (reference
    models/_utils.py get_axes_names)."""
    cols = set(df.columns)
    spatial = tuple(ax for ax in ("c", "z", "y", "x") if ax in cols)
    if not spatial and {"minx", "miny"} <= cols:
        return ("x", "y")
    return spatial


def get_spatial_axes(axes) -> tuple[str, ...]:
    """Subset to the spatial axes (reference models/_utils.py)."""
    return tuple(ax for ax in axes if ax in ("x", "y", "z"))


def validate_element(df: DataFrame, kind: str) -> None:
    """Validate one element DataFrame against its kind's model
    (reference models.py validate_element analog)."""
    get_model(kind).validate(df)


def infer_kind(df: DataFrame) -> str:
    """Recover the element kind from a bare DataFrame by its columns —
    the ``get_model(element)`` dispatch of the reference
    (models.py:1283-1325), on column shape instead of Python type:
    shapes carry (kind, wkb), rasters are long-form pixel frames
    ((c,)y,x,value — with a channel column = images, without = labels),
    tables carry the annotation keys, anything with x/y coordinates is
    points."""
    cols = set(df.columns)
    if {"kind", "wkb"} <= cols:
        return "shapes"
    if {"y", "x", "value"} <= cols or ({"y", "x", "label"} <= cols and "c" not in cols):
        return "images" if "c" in cols else "labels"
    if {"scale", "ty", "tx", "tile"} <= cols:
        return "images" if "c" in cols else "labels"
    if {"region", "instance_id"} <= cols and "x" not in cols:
        return "tables"
    if {"x", "y"} <= cols:
        return "points"
    raise ValueError(f"Cannot infer element kind from columns {sorted(cols)}")
