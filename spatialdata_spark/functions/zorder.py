"""Z-order (Morton) spatial clustering for points storage.

A bbox query pushes per-column range predicates into the parquet scan
(identity/scale fast paths, operators/spatial_query.py), but row-group
min/max statistics only prune when rows with nearby coordinates sit in
the same row group.  Writing points ordered by the interleaved Morton
code of (x, y) makes every file and row group cover a small spatial
square, so BOTH the x and the y predicate prune — the storage-layout
complement of predicate pushdown, and the standard lakehouse answer
(Z-ORDER clustering) re-expressed as plain Catalyst expressions over
``repartitionByRange`` + parquet.  No reader changes: pruning is free
parquet semantics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def morton_code(
    x: Column,
    y: Column,
    x_min: float,
    x_max: float,
    y_min: float,
    y_max: float,
    bits: int = 16,
) -> Column:
    """Interleaved Morton code of (x, y) over a fixed extent, as a pure
    integer Catalyst expression (2*bits result bits, bits <= 31)."""
    if bits < 1 or bits > 31:
        raise ValueError("bits must be in [1, 31]")
    scale = (1 << bits) - 1
    xi = F.least(
        F.lit(scale),
        F.greatest(F.lit(0), ((x - F.lit(x_min)) / F.lit(x_max - x_min) * scale).cast("long")),
    )
    yi = F.least(
        F.lit(scale),
        F.greatest(F.lit(0), ((y - F.lit(y_min)) / F.lit(y_max - y_min) * scale).cast("long")),
    )
    code = F.lit(0).cast("long")
    for b in range(bits):
        code = (
            code
            + F.shiftleft(F.shiftright(xi, b).bitwiseAND(F.lit(1)), 2 * b)
            + F.shiftleft(F.shiftright(yi, b).bitwiseAND(F.lit(1)), 2 * b + 1)
        )
    return code


def write_points_zordered(
    df: DataFrame,
    path: str,
    extent: dict[str, tuple[float, float]] | None = None,
    bits: int = 16,
    num_files: int | None = None,
    x_col: str = "x",
    y_col: str = "y",
) -> None:
    """Write points as parquet clustered by Morton code: range-partition
    on the code (each output file = one compact code range = one small
    spatial square), sort within partitions so row groups nest the same
    property.  ``extent`` defaults to the data extent (one tiny agg)."""
    if extent is None:
        row = df.agg(
            F.min(x_col), F.max(x_col), F.min(y_col), F.max(y_col)
        ).first()
        extent = {"x": (row[0], row[1]), "y": (row[2], row[3])}
    code = morton_code(
        F.col(x_col), F.col(y_col),
        extent["x"][0], extent["x"][1], extent["y"][0], extent["y"][1], bits,
    )
    out = df.withColumn("__z", code)
    parts = num_files or df.sparkSession.sparkContext.defaultParallelism
    (
        out.repartitionByRange(parts, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )
