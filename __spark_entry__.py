"""Driver contract for the spark-graft builder (PySpark target).

Every entry in ``queries()`` exercises an operator from SURVEY.md §2 (or
a beyond-reference pipeline operator) through the spatialdata_spark
library; ``oracle_sql()`` holds the DuckDB-equivalent ANSI SQL.

Spatial semantics are exercised on the TPC-H-ish test tables through a
deterministic synthetic coordinate mapping (documented in _points_sql /
_circles_sql below) so every spatial operator has a SQL-checkable
oracle.  Floating-point parity strategy: sums of currency values go
through exact DECIMAL accumulation (cast back to DOUBLE at the end);
coordinate arithmetic uses the identical IEEE operation order on both
engines; window keys are epoch-second BIGINTs.
"""

from __future__ import annotations

import math
import os
from collections.abc import Callable

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spatialdata_spark.session import broadcast_if_single_host

# ---------------------------------------------------------------------------
# shared synthetic spatial mapping (Spark + SQL must stay in lockstep)
# ---------------------------------------------------------------------------

POINTS_SQL = (
    "SELECT l_extendedprice/1000.0 AS x, l_quantity AS y, "
    "l_orderkey, l_linenumber, l_returnflag AS gene FROM lineitem"
)

CIRCLES_SQL = (
    "SELECT c_custkey AS shape_id, (c_custkey % 97)*1.0 AS cx, "
    "((c_custkey*7) % 53)*1.0 AS cy, (3 + (c_custkey % 5))*1.0 AS radius "
    "FROM customer"
)


# Schema memo: metadata only (the role a metastore/catalog plays on a
# real deployment).  A bare spark.read.parquet re-runs file listing +
# footer schema inference on EVERY call (~130ms on this host); with the
# schema supplied it is ~19ms, and the scan still reads the parquet
# data at execution — nothing about results or data is cached here.
# Keyed on (path, mtime, size) so a file regenerated in-process with a
# different schema re-infers instead of silently reading nulls through
# a stale schema; the stat is ~1µs against the ~110ms saved.
_SCHEMAS: dict[tuple, T.StructType] = {}


def _schema_key(path: str) -> tuple:
    try:
        st = os.stat(path)
        return (path, st.st_mtime_ns, st.st_size)
    except OSError:
        return (path, 0, 0)


def _table_key(sf_dir: str, name: str) -> tuple:
    """File identity of a base table: every plan memo derived from the
    table keys on it, so a file regenerated in-process is re-read."""
    return _schema_key(f"{sf_dir}/{name}.parquet")

# sessions whose defensive conf (UTC timezone, nanos-as-long) has been
# applied: each conf.set is a py4j round trip, paid once per session
# instead of once per _read/_events call (WeakSet so a stopped session
# does not pin memory and a recycled id can never be mistaken for it)
import weakref

_CONF_APPLIED: "weakref.WeakSet" = weakref.WeakSet()

# Plan memo for base tables and hot fixture projections: a DataFrame is
# an immutable *plan* (logical tree + resolved schema + file index),
# the exact thing a metastore view/table definition stores — NO rows,
# no results; every action through a memoized plan still scans the
# parquet inputs (pinned by tests/test_rescan_audit.py).  Keyed per
# live session (WeakKeyDictionary: a stopped session's entries are
# collected with it) so a fresh session can never see another
# session's JVM handles.
_PLAN_MEMO: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _plan_memo(spark: SparkSession, key, build) -> DataFrame:
    per_session = _PLAN_MEMO.setdefault(spark, {})
    df = per_session.get(key)
    if df is None:
        df = build()
        per_session[key] = df
    return df


def _apply_session_conf(spark: SparkSession) -> None:
    if spark in _CONF_APPLIED:
        return
    try:
        # epoch conversions must agree with DuckDB's UTC-naive timestamps
        # regardless of the harness session's default timezone; nanos
        # timestamps read as long (truncated like DuckDB)
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        return  # retry on the next call rather than memoizing a failure
    _CONF_APPLIED.add(spark)


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Base-table reader with a per-session *plan* memo: the DataFrame
    (an immutable logical plan + file index) is the exact artifact a
    metastore catalog entry stores — Spark itself caches file listings
    per session (spark.sql.hive.filesourcePartitionFileCacheSize).  No
    rows or results are held; every action through the memoized plan
    re-reads the parquet data (pinned by tests/test_rescan_audit.py).
    Each fresh spark.read...parquet() call costs ~20 ms of JVM-side
    DataSource resolution — q05 alone made six per construction."""
    # the plan-memo key embeds the file identity (path, mtime, size) so
    # a file regenerated in-process invalidates the memoized plan too —
    # otherwise the stale plan (old schema + old file index) would keep
    # serving even after the schema memo re-infers
    per_session = _PLAN_MEMO.setdefault(spark, {})
    path = f"{sf_dir}/{name}.parquet"
    skey = _schema_key(path)
    key = ("read", skey)
    df = per_session.get(key)
    if df is not None:
        return df
    _apply_session_conf(spark)
    schema = _SCHEMAS.get(skey)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMAS[skey] = df.schema
    else:
        df = spark.read.schema(schema).parquet(path)
    per_session[key] = df
    return df


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events has a TIMESTAMP(NANOS) parquet column, which Spark rejects
    by default; read nanos as long and truncate to microseconds (the
    same truncation DuckDB applies reading the file)."""
    def build():
        _apply_session_conf(spark)
        path = f"{sf_dir}/events.parquet"
        skey = _schema_key(path)
        schema = _SCHEMAS.get(skey)
        if schema is None:
            df = spark.read.parquet(path)
            _SCHEMAS[skey] = df.schema
        else:
            df = spark.read.schema(schema).parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        return df

    # file identity in the memo key: see _read
    return _plan_memo(spark, ("events", _table_key(sf_dir, "events")), build)


def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    # selectExpr: one JVM parse instead of per-Column py4j round trips
    # (the D suffix keeps 1000.0 a DOUBLE literal, identical to F.lit)
    return _plan_memo(
        spark,
        ("points", _table_key(sf_dir, "lineitem")),
        lambda: _read(spark, sf_dir, "lineitem").selectExpr(
            "(l_extendedprice / 1000.0D) AS x",
            "l_quantity AS y",
            "l_orderkey",
            "l_linenumber",
            "l_returnflag AS gene",
        ),
    )


def _circles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spatialdata_spark.operators.vectorize import circles_to_shapes

    def build():
        c = _read(spark, sf_dir, "customer").selectExpr(
            "c_custkey AS shape_id",
            "((c_custkey % 97) * 1.0D) AS x",
            "(((c_custkey * 7) % 53) * 1.0D) AS y",
            "((3 + (c_custkey % 5)) * 1.0D) AS radius",
        )
        return circles_to_shapes(c)

    return _plan_memo(spark, ("circles", _table_key(sf_dir, "customer")), build)


DEC = "DECIMAL(18,2)"

# synthetic labels raster from lineitem
LABELS_SQL = (
    "SELECT CAST(FLOOR(l_quantity) AS BIGINT) AS y, "
    "CAST(FLOOR(l_extendedprice/1000.0) AS BIGINT) AS x, "
    "(l_suppkey % 50) + 1 AS label FROM lineitem"
)


def _labels(spark, sf_dir):
    return _read(spark, sf_dir, "lineitem").select(
        F.floor(F.col("l_quantity")).cast("long").alias("y"),
        F.floor(F.col("l_extendedprice") / 1000.0).cast("long").alias("x"),
        ((F.col("l_suppkey") % 50) + 1).alias("label"),
    )


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Minimum end-to-end slice (SURVEY.md §7): points + circles +
    bbox query under a scale+translate transform -> zonal count
    aggregation -> annotation join with customer names."""
    from spatialdata_spark.operators.aggregate import aggregate_points_by_shapes
    from spatialdata_spark.operators.spatial_query import bounding_box_query_points
    from spatialdata_spark.transformations import Scale, Sequence, Translation

    sf_dir = "/root/testdata/sf0.001"
    pts = _points(spark, sf_dir)
    circles = _circles(spark, sf_dir)
    t = Sequence([Scale([2.0, 2.0], ("x", "y")), Translation([10.0, -5.0], ("x", "y"))])
    queried = bounding_box_query_points(pts, ("x", "y"), [10.0, -5.0], [200.0, 95.0], t)
    agg = aggregate_points_by_shapes(queried, circles, all_circles=True)
    names = _read(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("by_id"), "c_name", "c_mktsegment"
    )
    return agg.join(names, "by_id").orderBy("by_id")


# ---------------------------------------------------------------------------
# queries + oracles
# ---------------------------------------------------------------------------


def q01_pricing_summary(spark, sf_dir):
    li = _read(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= F.expr("TIMESTAMP '1998-09-02 00:00:00'"))
    price = F.col("l_extendedprice").cast(DEC)
    disc = F.col("l_discount").cast(DEC)
    tax = F.col("l_tax").cast(DEC)
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast(DEC)).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * (F.lit(1).cast(DEC) - disc)).cast("double").alias("sum_disc_price"),
            F.sum(price * (F.lit(1).cast(DEC) - disc) * (F.lit(1).cast(DEC) + tax)).cast("double").alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


Q01_SQL = f"""
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS {DEC})) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS {DEC})) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice AS {DEC}) * (CAST(1 AS {DEC}) - CAST(l_discount AS {DEC}))) AS DOUBLE) AS sum_disc_price,
  CAST(SUM(CAST(l_extendedprice AS {DEC}) * (CAST(1 AS {DEC}) - CAST(l_discount AS {DEC})) * (CAST(1 AS {DEC}) + CAST(l_tax AS {DEC}))) AS DOUBLE) AS sum_charge,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q03_shipping(spark, sf_dir):
    """Join order: lineitem (the fact side) STREAMS and the build side
    is orders pre-reduced by the broadcast customer-segment filter —
    the r14 plan audit showed the 64MB auto-broadcast threshold picking
    the 600k-row lineitem projection as the per-action hash-relation
    build (guide §3.1: pick the build side deliberately).  Inner-join
    reordering; revenue is exact-DECIMAL so the result is
    order-insensitive."""
    cust = _read(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem")
    ord2 = orders.join(cust, cust["c_custkey"] == orders["o_custkey"])
    joined = li.join(broadcast_if_single_host(ord2), ord2["o_orderkey"] == li["l_orderkey"])
    rev = F.col("l_extendedprice").cast(DEC) * (F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC))
    return (
        joined.groupBy("l_orderkey")
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.min(F.unix_timestamp("o_orderdate")).alias("orderdate_epoch"),
        )
        .filter(F.col("revenue") > 100000.0)
    )


Q03_SQL = f"""
SELECT l_orderkey,
  CAST(SUM(CAST(l_extendedprice AS {DEC}) * (CAST(1 AS {DEC}) - CAST(l_discount AS {DEC}))) AS DOUBLE) AS revenue,
  MIN(epoch_us(o_orderdate) // 1000000) AS orderdate_epoch
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY l_orderkey
HAVING CAST(SUM(CAST(l_extendedprice AS {DEC}) * (CAST(1 AS {DEC}) - CAST(l_discount AS {DEC}))) AS DOUBLE) > 100000.0
"""


def q05_local_supplier(spark, sf_dir):
    region = _read(spark, sf_dir, "region")
    nation = _read(spark, sf_dir, "nation")
    cust = _read(spark, sf_dir, "customer")
    orders = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem")
    supp = _read(spark, sf_dir, "supplier")
    rev = F.col("l_extendedprice").cast(DEC) * (F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC))
    # Build sides shrink dim-first (nation 25 -> customer 15k -> orders
    # 150k x 3 cols) and lineitem STREAMS through two broadcast probes;
    # the r14 plan audit showed the prior order broadcasting the 600k-row
    # lineitem projection itself (guide §3.1).  Inner-join reordering
    # with exact-DECIMAL aggregation: result identical.
    dims = nation.join(F.broadcast(region), region["r_regionkey"] == nation["n_regionkey"])
    cust2 = cust.join(F.broadcast(dims), dims["n_nationkey"] == cust["c_nationkey"])
    ord2 = (
        orders.join(broadcast_if_single_host(cust2), cust2["c_custkey"] == orders["o_custkey"])
        .select("o_orderkey", "n_name", "n_nationkey")
    )
    joined = (
        li.join(broadcast_if_single_host(ord2), ord2["o_orderkey"] == li["l_orderkey"])
        .join(supp, (li["l_suppkey"] == supp["s_suppkey"]) & (supp["s_nationkey"] == F.col("n_nationkey")))
    )
    return joined.groupBy("n_name").agg(F.sum(rev).cast("double").alias("revenue"))


Q05_SQL = f"""
SELECT n_name,
  CAST(SUM(CAST(l_extendedprice AS {DEC}) * (CAST(1 AS {DEC}) - CAST(l_discount AS {DEC}))) AS DOUBLE) AS revenue
FROM region JOIN nation ON r_regionkey = n_regionkey
JOIN customer ON n_nationkey = c_nationkey
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = n_nationkey
GROUP BY n_name
"""


def q06_forecasting(spark, sf_dir):
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.expr("TIMESTAMP '1994-01-01 00:00:00'"))
            & (F.col("l_shipdate") < F.expr("TIMESTAMP '1995-01-01 00:00:00'"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(F.col("l_extendedprice").cast(DEC) * F.col("l_discount").cast(DEC))
            .cast("double")
            .alias("revenue")
        )
    )


Q06_SQL = f"""
SELECT CAST(SUM(CAST(l_extendedprice AS {DEC}) * CAST(l_discount AS {DEC})) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1995-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


def q04_order_priority(spark, sf_dir):
    """EXISTS-style semi-join (TPC-H Q4 shape; the schema has no
    l_commitdate/l_receiptdate so the correlated predicate is
    l_shipdate > o_orderdate)."""
    orders = _read(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.expr("TIMESTAMP '1996-01-01 00:00:00'"))
        & (F.col("o_orderdate") < F.expr("TIMESTAMP '1996-04-01 00:00:00'"))
    )
    li = _read(spark, sf_dir, "lineitem")
    matched = orders.join(
        li,
        (orders["o_orderkey"] == li["l_orderkey"]) & (li["l_shipdate"] > orders["o_orderdate"]),
        "left_semi",
    )
    return matched.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


Q04_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
"""


def q10_returned_items(spark, sf_dir):
    cust = _read(spark, sf_dir, "customer")
    orders = _read(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.expr("TIMESTAMP '1996-10-01 00:00:00'"))
        & (F.col("o_orderdate") < F.expr("TIMESTAMP '1997-01-01 00:00:00'"))
    )
    li = _read(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = _read(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice").cast(DEC) * (F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC))
    # Filtered lineitem STREAMS; the build side is the date-filtered
    # orders quarter joined to customer+nation (grouping attributes
    # ride the build side).  The r14 plan audit showed the prior order
    # broadcasting the 600k-row lineitem projection (guide §3.1).
    # Inner-join reordering with exact-DECIMAL aggregation.
    cust2 = cust.join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
    ord2 = orders.join(broadcast_if_single_host(cust2), cust2["c_custkey"] == orders["o_custkey"])
    joined = li.join(broadcast_if_single_host(ord2), ord2["o_orderkey"] == li["l_orderkey"])
    return joined.groupBy("c_custkey", "c_name", "c_acctbal", "n_name").agg(
        F.sum(rev).cast("double").alias("revenue")
    )


Q10_SQL = f"""
SELECT c_custkey, c_name, c_acctbal, n_name,
  CAST(SUM(CAST(l_extendedprice AS {DEC}) * (CAST(1 AS {DEC}) - CAST(l_discount AS {DEC}))) AS DOUBLE) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
"""


def q14_promo_effect(spark, sf_dir):
    """Broadcast dim join + conditional aggregation (TPC-H Q14 shape;
    p_type values are single words here so the predicate is equality)."""
    li = _read(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.expr("TIMESTAMP '1996-09-01 00:00:00'"))
        & (F.col("l_shipdate") < F.expr("TIMESTAMP '1996-10-01 00:00:00'"))
    )
    part = _read(spark, sf_dir, "part")
    rev = F.col("l_extendedprice").cast(DEC) * (F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC))
    joined = li.join(part, li["l_partkey"] == part["p_partkey"])
    agg = joined.agg(
        F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast(DEC)))
        .cast("double")
        .alias("promo_rev"),
        F.sum(rev).cast("double").alias("total_rev"),
    )
    return agg.select(
        (F.lit(100.0) * F.col("promo_rev") / F.col("total_rev")).alias("promo_pct")
    )


Q14_SQL = f"""
SELECT 100.0 * promo_rev / total_rev AS promo_pct FROM (
  SELECT
    CAST(SUM(CASE WHEN p_type = 'PROMO'
      THEN CAST(l_extendedprice AS {DEC}) * (CAST(1 AS {DEC}) - CAST(l_discount AS {DEC}))
      ELSE CAST(0 AS {DEC}) END) AS DOUBLE) AS promo_rev,
    CAST(SUM(CAST(l_extendedprice AS {DEC}) * (CAST(1 AS {DEC}) - CAST(l_discount AS {DEC}))) AS DOUBLE) AS total_rev
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00'
)
"""


def q18_large_volume(spark, sf_dir):
    """Aggregate-then-semi-join (TPC-H Q18 shape; qty threshold sized to
    this schema's ~12 lineitems/order)."""
    li = _read(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast(DEC)).alias("_sq"))
        .filter(F.col("_sq").cast("double") > 180.0)
        .select(F.col("l_orderkey").alias("_big_orderkey"))
    )
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    # r14 A/B (interleaved, med-of-6): restructuring this like
    # q03/q05/q10 (lineitem streaming through one reduced broadcast
    # probe) LOST ~0.2s — the reduced build side chains three DEPENDENT
    # broadcast builds (big -> orders -> cust) that execute serially,
    # while this shape's broadcast builds are independent and AQE
    # materializes them concurrently.  What DID win (med 1.14 -> 0.94s)
    # is SHUFFLE_HASH for the lineitem attach: the per-partition
    # parallel hash build replaces the serial driver-side 600k-row
    # broadcast relation build, and at scale it also avoids sorting the
    # fact table (SMJ) while AQE bounds each build partition to the
    # advisory size.
    joined = (
        orders.join(big, orders["o_orderkey"] == big["_big_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(li.hint("SHUFFLE_HASH"), orders["o_orderkey"] == li["l_orderkey"])
    )
    return joined.groupBy(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    ).agg(
        F.min(F.unix_timestamp("o_orderdate")).alias("orderdate_epoch"),
        F.sum(F.col("l_quantity").cast(DEC)).cast("double").alias("sum_qty"),
    )


Q18_SQL = f"""
SELECT c_custkey, c_name, o_orderkey, o_totalprice,
  MIN(epoch_us(o_orderdate) // 1000000) AS orderdate_epoch,
  CAST(SUM(CAST(l_quantity AS {DEC})) AS DOUBLE) AS sum_qty
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
  HAVING CAST(SUM(CAST(l_quantity AS {DEC})) AS DOUBLE) > 180.0)
GROUP BY c_custkey, c_name, o_orderkey, o_totalprice
"""


def q19_discounted_revenue(spark, sf_dir):
    """Disjunctive multi-attribute predicate over a broadcast dim join
    (TPC-H Q19 shape, adapted to this schema's brands/sizes)."""
    li = _read(spark, sf_dir, "lineitem")
    part = _read(spark, sf_dir, "part")
    joined = li.join(part, li["l_partkey"] == part["p_partkey"])
    q = F.col("l_quantity")
    s = F.col("p_size")
    b = F.col("p_brand")
    pred = (
        ((b == "Brand#2") & s.between(1, 15) & q.between(1, 21))
        | ((b == "Brand#15") & s.between(10, 30) & q.between(10, 30))
        | ((b == "Brand#19") & s.between(20, 50) & q.between(20, 50))
    )
    rev = F.col("l_extendedprice").cast(DEC) * (F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC))
    return joined.filter(pred).agg(F.sum(rev).cast("double").alias("revenue"))


Q19_SQL = f"""
SELECT CAST(SUM(CAST(l_extendedprice AS {DEC}) * (CAST(1 AS {DEC}) - CAST(l_discount AS {DEC}))) AS DOUBLE) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#2'  AND p_size BETWEEN 1  AND 15 AND l_quantity BETWEEN 1  AND 21)
   OR (p_brand = 'Brand#15' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#19' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 50)
"""


def q16_parts_supplier_relationship(spark, sf_dir):
    """TPC-H Q16 shape adapted to this schema (no partsupp table — the
    part<->supplier link goes through lineitem): distinct suppliers per
    (brand, type, size) for a filtered part family, excluding suppliers
    with negative balance via an anti-join (the NOT IN subquery)."""
    part = _read(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#13")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 7, 10, 13)
    )
    li = _read(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    bad = _read(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        F.col("s_suppkey").alias("l_suppkey")
    )
    links = li.join(bad, "l_suppkey", "left_anti")
    joined = links.join(part, links["l_partkey"] == part["p_partkey"])
    return (
        joined.groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


Q16_SQL = """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#13' AND p_type <> 'PROMO' AND p_size IN (1, 4, 7, 10, 13)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
"""


def q22_global_sales_opportunity(spark, sf_dir):
    """TPC-H Q22 shape: customers with above-average positive balance
    who never placed a large order.  The average threshold is applied
    by decimal cross-multiplication (bal * n > total) so the comparison
    is integer-exact in both engines; the NOT EXISTS is an anti-join."""
    cust = _read(spark, sf_dir, "customer")
    pos = cust.filter(F.col("c_acctbal") > 0.0).agg(
        F.sum(F.col("c_acctbal").cast(DEC)).alias("s"), F.count(F.lit(1)).alias("n")
    )
    big = _read(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000).select(
        F.col("o_custkey").alias("c_custkey")
    )
    rich = (
        cust.crossJoin(F.broadcast(pos))
        .filter(F.col("c_acctbal").cast(DEC) * F.col("n") > F.col("s"))
        .join(big, "c_custkey", "left_anti")
    )
    return rich.groupBy((F.col("c_custkey") % 10).alias("cntrycode")).agg(
        F.count(F.lit(1)).alias("numcust"),
        F.sum(F.col("c_acctbal").cast(DEC)).cast("double").alias("totacctbal"),
    )


Q22_SQL = f"""
WITH pos AS (
  SELECT SUM(CAST(c_acctbal AS {DEC})) AS s, COUNT(*) AS n FROM customer WHERE c_acctbal > 0.0
)
SELECT c_custkey % 10 AS cntrycode, COUNT(*) AS numcust,
       CAST(SUM(CAST(c_acctbal AS {DEC})) AS DOUBLE) AS totacctbal
FROM customer, pos
WHERE CAST(c_acctbal AS {DEC}) * n > s
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c_custkey AND o.o_totalprice > 300000)
GROUP BY cntrycode
"""


def q_rollup_revenue(spark, sf_dir):
    """ROLLUP grouping sets (absent in the reference, free in Spark):
    revenue at (flag, status), (flag), and grand-total levels."""
    li = _read(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice").cast(DEC) * (F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC))
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.sum(rev).cast("double").alias("revenue"), F.count(F.lit(1)).alias("n"))
    )


Q_ROLLUP_SQL = f"""
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_extendedprice AS {DEC}) * (CAST(1 AS {DEC}) - CAST(l_discount AS {DEC}))) AS DOUBLE) AS revenue,
  COUNT(*) AS n
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q02_min_cost_supplier(spark, sf_dir):
    """Minimum-cost supplier per part (TPC-H Q2 shape, adapted: no
    partsupp table in the testdata, so supply cost is the per
    (part, supplier) discounted lineitem revenue).  The correlated-min
    subquery becomes a per-part window minimum over exact DECIMAL sums
    (deterministic tie set), then broadcast dimension joins."""
    from pyspark.sql.window import Window

    li = _read(spark, sf_dir, "lineitem")
    cost = F.col("l_extendedprice").cast(DEC) * (F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC))
    ps = li.groupBy("l_partkey", "l_suppkey").agg(F.sum(cost).alias("cost_dec"))
    w = Window.partitionBy("l_partkey")
    best = ps.withColumn("__min", F.min("cost_dec").over(w)).filter(
        F.col("cost_dec") == F.col("__min")
    )
    part = _read(spark, sf_dir, "part").filter(F.col("p_size") < 10)
    supp = _read(spark, sf_dir, "supplier")
    nation = _read(spark, sf_dir, "nation")
    region = _read(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    joined = (
        best.join(part, best["l_partkey"] == part["p_partkey"])
        .join(supp, best["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(nation), supp["s_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
    )
    return joined.select(
        "s_name", "n_name", "p_partkey", "p_name",
        F.col("cost_dec").cast("double").alias("supply_cost"),
        F.col("s_acctbal").alias("s_acctbal"),
    )


Q02_SQL = f"""
WITH ps AS (
  SELECT l_partkey, l_suppkey,
         SUM(CAST(l_extendedprice AS {DEC}) * (CAST(1 AS {DEC}) - CAST(l_discount AS {DEC}))) AS cost_dec
  FROM lineitem GROUP BY l_partkey, l_suppkey
),
best AS (
  SELECT *, MIN(cost_dec) OVER (PARTITION BY l_partkey) AS mn FROM ps
)
SELECT s_name, n_name, p_partkey, p_name,
       CAST(cost_dec AS DOUBLE) AS supply_cost, s_acctbal
FROM best
JOIN part ON l_partkey = p_partkey AND p_size < 10
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA'
WHERE cost_dec = mn
"""


def q09_product_profit(spark, sf_dir):
    """Product-type profit by nation and year (TPC-H Q9 shape, adapted:
    supply cost emulated as 0.80 * p_retailprice * quantity).  All
    dimension joins broadcast; the profit expression stays in exact
    DECIMAL until the final cast."""
    li = _read(spark, sf_dir, "lineitem")
    part = _read(spark, sf_dir, "part").filter(F.col("p_name").contains("red"))
    supp = _read(spark, sf_dir, "supplier")
    nation = _read(spark, sf_dir, "nation")
    orders = _read(spark, sf_dir, "orders")
    amount = F.col("l_extendedprice").cast(DEC) * (
        F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC)
    ) - F.col("p_retailprice").cast(DEC) * F.col("l_quantity").cast(DEC) * F.lit(0.8).cast(DEC)
    joined = (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(nation), supp["s_nationkey"] == nation["n_nationkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
    )
    return (
        joined.groupBy(
            F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year")
        )
        .agg(F.sum(amount).cast("double").alias("sum_profit"))
    )


Q09_SQL = f"""
SELECT n_name AS nation, EXTRACT(year FROM o_orderdate) AS o_year,
  CAST(SUM(CAST(l_extendedprice AS {DEC}) * (CAST(1 AS {DEC}) - CAST(l_discount AS {DEC}))
           - CAST(p_retailprice AS {DEC}) * CAST(l_quantity AS {DEC}) * CAST(0.8 AS {DEC})) AS DOUBLE) AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey AND p_name LIKE '%red%'
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
GROUP BY n_name, EXTRACT(year FROM o_orderdate)
"""


def q11_important_stock(spark, sf_dir):
    """Important-stock identification (TPC-H Q11 shape, adapted to
    lineitem-derived part value): per-part value HAVING > fraction of
    the global total — the scalar total broadcast-crossed into the
    filter, all in exact DECIMAL."""
    li = _read(spark, sf_dir, "lineitem")
    supp = _read(spark, sf_dir, "supplier")
    nation = _read(spark, sf_dir, "nation")
    region = _read(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    val = F.col("l_extendedprice").cast(DEC) * (F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC))
    scoped = (
        li.join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(nation), supp["s_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
    )
    per_part = scoped.groupBy("l_partkey").agg(F.sum(val).alias("value_dec"))
    total = scoped.agg(F.sum(val).alias("total_dec"))
    out = per_part.crossJoin(F.broadcast(total)).filter(
        F.col("value_dec") * F.lit(1000).cast(DEC) > F.col("total_dec")
    )
    return out.select("l_partkey", F.col("value_dec").cast("double").alias("part_value"))


Q11_SQL = f"""
WITH scoped AS (
  SELECT l_partkey,
         CAST(l_extendedprice AS {DEC}) * (CAST(1 AS {DEC}) - CAST(l_discount AS {DEC})) AS v
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
),
tot AS (SELECT SUM(v) AS total_dec FROM scoped)
SELECT l_partkey, CAST(SUM(v) AS DOUBLE) AS part_value
FROM scoped, tot
GROUP BY l_partkey, total_dec
HAVING SUM(v) * 1000 > total_dec
"""


def q12_priority_lines(spark, sf_dir):
    """Shipping-priority line counts (TPC-H Q12 shape, adapted:
    l_returnflag stands in for l_shipmode): conditional two-way counts
    per class over a shipdate year."""
    li = _read(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.expr("TIMESTAMP '1996-01-01 00:00:00'"))
        & (F.col("l_shipdate") < F.expr("TIMESTAMP '1997-01-01 00:00:00'"))
    )
    orders = _read(spark, sf_dir, "orders")
    joined = li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return joined.groupBy("l_returnflag").agg(
        F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
        F.sum(F.when(is_high, 0).otherwise(1)).alias("low_line_count"),
    )


Q12_SQL = """
SELECT l_returnflag,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l_returnflag
"""


def q20_excess_suppliers(spark, sf_dir):
    """Suppliers holding an outsized share of a part's annual volume
    (TPC-H Q20 shape, adapted: the availability subquery becomes a
    per-part window total; the comparison 10*share > 3*total is exact
    integer-valued arithmetic).  Nested-IN chain becomes window +
    distinct + broadcast joins."""
    from pyspark.sql.window import Window

    li = _read(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.expr("TIMESTAMP '1997-01-01 00:00:00'"))
        & (F.col("l_shipdate") < F.expr("TIMESTAMP '1998-01-01 00:00:00'"))
    )
    part = _read(spark, sf_dir, "part").filter(F.col("p_name").startswith("b"))
    ps = (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("ps_qty"))
    )
    w = Window.partitionBy("l_partkey")
    excess = ps.withColumn("p_qty", F.sum("ps_qty").over(w)).filter(
        F.col("ps_qty") * 10 > F.col("p_qty") * 3
    )
    supp_ids = excess.select("l_suppkey").distinct()
    supp = _read(spark, sf_dir, "supplier")
    nation = _read(spark, sf_dir, "nation")
    return (
        supp_ids.join(supp, supp_ids["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(nation), supp["s_nationkey"] == nation["n_nationkey"])
        .select("s_name", "n_name")
    )


Q20_SQL = """
WITH ps AS (
  SELECT l_partkey, l_suppkey, SUM(l_quantity) AS ps_qty
  FROM lineitem JOIN part ON l_partkey = p_partkey AND p_name LIKE 'b%'
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY l_partkey, l_suppkey
),
excess AS (
  SELECT DISTINCT l_suppkey
  FROM (SELECT *, SUM(ps_qty) OVER (PARTITION BY l_partkey) AS p_qty FROM ps)
  WHERE ps_qty * 10 > p_qty * 3
)
SELECT s_name, n_name
FROM excess JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
"""


def q21_waiting_supplier(spark, sf_dir):
    """Suppliers who kept finished multi-supplier orders waiting
    (TPC-H Q21 shape, adapted: 'late' = shipped > 60 days after order
    date).  The EXISTS / NOT EXISTS pair collapses into one per-order
    aggregate: >1 distinct suppliers, exactly 1 distinct late supplier."""
    li = _read(spark, sf_dir, "lineitem")
    orders = _read(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    joined = li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    per_order = joined.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(late, F.col("l_suppkey"))).alias("n_late"),
        F.max(F.when(late, F.col("l_suppkey"))).alias("late_supp"),
    )
    waiting = per_order.filter((F.col("n_supp") > 1) & (F.col("n_late") == 1))
    supp = _read(spark, sf_dir, "supplier")
    return (
        waiting.groupBy("late_supp")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(supp, F.col("late_supp") == supp["s_suppkey"])
        .select("s_name", "numwait")
    )


Q21_SQL = """
WITH per_order AS (
  SELECT l_orderkey,
         COUNT(DISTINCT l_suppkey) AS n_supp,
         COUNT(DISTINCT CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY THEN l_suppkey END) AS n_late,
         MAX(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY THEN l_suppkey END) AS late_supp
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey AND o_orderstatus = 'F'
  GROUP BY l_orderkey
)
SELECT s_name, COUNT(*) AS numwait
FROM per_order JOIN supplier ON late_supp = s_suppkey
WHERE n_supp > 1 AND n_late = 1
GROUP BY s_name
"""


def q07_volume_shipping(spark, sf_dir):
    """Cross-nation trade volumes (TPC-H Q7 shape): OR-of-pairs join
    predicate between supplier and customer nations, yearly rollup."""
    n1 = _read(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = _read(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    supp = _read(spark, sf_dir, "supplier")
    cust = _read(spark, sf_dir, "customer")
    orders = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.expr("TIMESTAMP '1996-01-01 00:00:00'"))
        & (F.col("l_shipdate") < F.expr("TIMESTAMP '1998-01-01 00:00:00'"))
    )
    rev = F.col("l_extendedprice").cast(DEC) * (F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC))
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    joined = (
        li.join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(n1), supp["s_nationkey"] == F.col("s_nk"))
        .join(F.broadcast(n2), cust["c_nationkey"] == F.col("c_nk"))
        .filter(pair)
    )
    return joined.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
    ).agg(F.sum(rev).cast("double").alias("revenue"))


Q07_SQL = f"""
SELECT supp_nation, cust_nation, l_year,
  CAST(SUM(CAST(l_extendedprice AS {DEC}) * (CAST(1 AS {DEC}) - CAST(l_discount AS {DEC}))) AS DOUBLE) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         EXTRACT(YEAR FROM l_shipdate) AS l_year, l_extendedprice, l_discount
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
)
GROUP BY supp_nation, cust_nation, l_year
"""


def q08_market_share(spark, sf_dir):
    """National market share (TPC-H Q8 shape): share of one supplier
    nation in a region's PROMO-part order volume, per year."""
    region = _read(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation_c = _read(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk")
    )
    nation_s = _read(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    part = _read(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    supp = _read(spark, sf_dir, "supplier")
    cust = _read(spark, sf_dir, "customer")
    orders = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem")
    vol = F.col("l_extendedprice").cast(DEC) * (F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC))
    joined = (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation_c), cust["c_nationkey"] == F.col("c_nk"))
        .join(F.broadcast(region), F.col("c_rk") == region["r_regionkey"])
        .join(F.broadcast(nation_s), supp["s_nationkey"] == F.col("s_nk"))
    )
    yearly = joined.groupBy(F.year("o_orderdate").alias("o_year")).agg(
        F.sum(F.when(F.col("supp_nation") == "NATION_1", vol).otherwise(F.lit(0).cast(DEC)))
        .cast("double")
        .alias("nation_vol"),
        F.sum(vol).cast("double").alias("total_vol"),
    )
    return yearly.select(
        "o_year", (F.col("nation_vol") / F.col("total_vol")).alias("mkt_share")
    )


Q08_SQL = f"""
SELECT o_year, nation_vol / total_vol AS mkt_share FROM (
  SELECT EXTRACT(YEAR FROM o_orderdate) AS o_year,
    CAST(SUM(CASE WHEN n2.n_name = 'NATION_1'
      THEN CAST(l_extendedprice AS {DEC}) * (CAST(1 AS {DEC}) - CAST(l_discount AS {DEC}))
      ELSE CAST(0 AS {DEC}) END) AS DOUBLE) AS nation_vol,
    CAST(SUM(CAST(l_extendedprice AS {DEC}) * (CAST(1 AS {DEC}) - CAST(l_discount AS {DEC}))) AS DOUBLE) AS total_vol
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'ASIA' AND p_type = 'PROMO'
  GROUP BY EXTRACT(YEAR FROM o_orderdate)
)
"""


def q13_customer_distribution(spark, sf_dir):
    """Customer order-count distribution (TPC-H Q13 shape): left outer
    join then two-level aggregation — customers with zero orders count
    in the c_count=0 bucket."""
    cust = _read(spark, sf_dir, "customer")
    orders = _read(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


Q13_SQL = """
SELECT c_count, COUNT(*) AS custdist FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
GROUP BY c_count
"""


def q15_top_supplier(spark, sf_dir):
    """Top supplier by quarterly revenue (TPC-H Q15 shape): aggregate,
    global max, then equality semi-join — no correlated subquery."""
    li = _read(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.expr("TIMESTAMP '1996-01-01 00:00:00'"))
        & (F.col("l_shipdate") < F.expr("TIMESTAMP '1996-04-01 00:00:00'"))
    )
    rev = F.col("l_extendedprice").cast(DEC) * (F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC))
    revenue = li.groupBy("l_suppkey").agg(F.sum(rev).cast("double").alias("total_revenue"))
    max_rev = revenue.agg(F.max("total_revenue").alias("m"))
    supp = _read(spark, sf_dir, "supplier")
    return (
        revenue.join(F.broadcast(max_rev), revenue["total_revenue"] == max_rev["m"])
        .join(supp, revenue["l_suppkey"] == supp["s_suppkey"])
        .select("s_suppkey", "s_name", "total_revenue")
    )


Q15_SQL = f"""
WITH revenue AS (
  SELECT l_suppkey,
    CAST(SUM(CAST(l_extendedprice AS {DEC}) * (CAST(1 AS {DEC}) - CAST(l_discount AS {DEC}))) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM revenue JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
"""


def q17_small_quantity(spark, sf_dir):
    """Small-quantity revenue (TPC-H Q17 shape): per-part average via a
    window function feeding a correlated-style predicate."""
    from pyspark.sql.window import Window

    li = _read(spark, sf_dir, "lineitem")
    part = _read(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#2")
    joined = li.join(part, li["l_partkey"] == part["p_partkey"])
    w = Window.partitionBy("l_partkey")
    flagged = joined.withColumn("__avg_qty", F.avg("l_quantity").over(w))
    small = flagged.filter(F.col("l_quantity") < 0.2 * F.col("__avg_qty"))
    return small.agg(
        (F.sum(F.col("l_extendedprice").cast(DEC)).cast("double") / 7.0).alias("avg_yearly")
    )


Q17_SQL = f"""
SELECT CAST(SUM(CAST(l_extendedprice AS {DEC})) AS DOUBLE) / 7.0 AS avg_yearly
FROM (
  SELECT l_extendedprice,
         l_quantity,
         AVG(l_quantity) OVER (PARTITION BY l_partkey) AS avg_qty
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#2'
)
WHERE l_quantity < 0.2 * avg_qty
"""


# -- spatial queries --------------------------------------------------------


def sq_bbox_identity(spark, sf_dir):
    from spatialdata_spark.operators.spatial_query import bounding_box_query_points

    pts = _points(spark, sf_dir)
    return bounding_box_query_points(pts, ("x", "y"), [20.0, 10.0], [60.0, 40.0]).select(
        "l_orderkey", "l_linenumber", "x", "y"
    )


SQ_BBOX_IDENTITY_SQL = f"""
SELECT l_orderkey, l_linenumber, x, y FROM ({POINTS_SQL})
WHERE x > 20.0 AND x < 60.0 AND y > 10.0 AND y < 40.0
"""

# scale fast path: target box under Scale(2, 0.5) + Translation(10, -5)
_SC_T = None


def _scale_transform():
    global _SC_T
    if _SC_T is None:
        from spatialdata_spark.transformations import Scale, Sequence, Translation

        _SC_T = Sequence([Scale([2.0, 0.5], ("x", "y")), Translation([10.0, -5.0], ("x", "y"))])
    return _SC_T


# intrinsic bounds for target box (50,0)-(130,20):
# x: (50-10)/2=20 .. (130-10)/2=60 ; y: (0+5)/0.5=10 .. (20+5)/0.5=50
def sq_bbox_scale(spark, sf_dir):
    from spatialdata_spark.operators.spatial_query import bounding_box_query_points

    pts = _points(spark, sf_dir)
    return bounding_box_query_points(
        pts, ("x", "y"), [50.0, 0.0], [130.0, 20.0], _scale_transform()
    ).select("l_orderkey", "l_linenumber", "x", "y")


SQ_BBOX_SCALE_SQL = f"""
SELECT l_orderkey, l_linenumber, x, y FROM ({POINTS_SQL})
WHERE x > 20.0 AND x < 60.0 AND y > 10.0 AND y < 50.0
"""

# rotation 30deg: general path projects points through the affine
_COS30 = math.cos(math.pi / 6)
_SIN30 = math.sin(math.pi / 6)


def sq_bbox_rotation(spark, sf_dir):
    from spatialdata_spark.operators.spatial_query import bounding_box_query_points
    from spatialdata_spark.transformations import Affine

    rot = Affine(
        [[_COS30, -_SIN30, 0.0], [_SIN30, _COS30, 0.0], [0.0, 0.0, 1.0]], ("x", "y"), ("x", "y")
    )
    pts = _points(spark, sf_dir)
    return bounding_box_query_points(pts, ("x", "y"), [20.0, 30.0], [60.0, 70.0], rot).select(
        "l_orderkey", "l_linenumber", "x", "y"
    )


SQ_BBOX_ROTATION_SQL = f"""
SELECT l_orderkey, l_linenumber, x, y FROM ({POINTS_SQL})
WHERE (x * {_COS30!r} + y * {-_SIN30!r}) > 20.0 AND (x * {_COS30!r} + y * {-_SIN30!r}) < 60.0
  AND (x * {_SIN30!r} + y * {_COS30!r}) > 30.0 AND (x * {_SIN30!r} + y * {_COS30!r}) < 70.0
"""

def sq_bbox_3d(spark, sf_dir):
    """3D bbox query: the axis machinery is dimension-generic."""
    from spatialdata_spark.operators.spatial_query import bounding_box_query_points

    pts = _read(spark, sf_dir, "lineitem").select(
        (F.col("l_extendedprice") / 1000.0).alias("x"),
        F.col("l_quantity").alias("y"),
        (F.col("l_discount") * 100.0).alias("z"),
        "l_orderkey",
        "l_linenumber",
    )
    return bounding_box_query_points(
        pts, ("x", "y", "z"), [10.0, 5.0, 1.0], [80.0, 45.0, 8.0]
    ).select("l_orderkey", "l_linenumber", "x", "y", "z")


SQ_BBOX_3D_SQL = """
SELECT l_orderkey, l_linenumber, l_extendedprice/1000.0 AS x, l_quantity AS y,
       l_discount*100.0 AS z
FROM lineitem
WHERE l_extendedprice/1000.0 > 10.0 AND l_extendedprice/1000.0 < 80.0
  AND l_quantity > 5.0 AND l_quantity < 45.0
  AND l_discount*100.0 > 1.0 AND l_discount*100.0 < 8.0
"""


_BOXES = [
    (0, 10.0, 5.0, 40.0, 25.0),
    (1, 30.0, 20.0, 70.0, 45.0),
    (2, 80.0, 1.0, 100.0, 15.0),
]


def sq_multibox(spark, sf_dir):
    from spatialdata_spark.operators.spatial_query import bounding_box_query_multibox

    pts = _points(spark, sf_dir)
    mins = [[b[1], b[2]] for b in _BOXES]
    maxs = [[b[3], b[4]] for b in _BOXES]
    out = bounding_box_query_multibox(pts, ("x", "y"), mins, maxs)
    return out.groupBy("box_id").agg(F.count(F.lit(1)).alias("n"))


SQ_MULTIBOX_SQL = f"""
WITH boxes(box_id, lox, loy, hix, hiy) AS (
  VALUES {", ".join(f"(CAST({b[0]} AS BIGINT), {b[1]!r}, {b[2]!r}, {b[3]!r}, {b[4]!r})" for b in _BOXES)}
), pts AS ({POINTS_SQL})
SELECT box_id, COUNT(*) AS n
FROM pts JOIN boxes ON x > lox AND x < hix AND y > loy AND y < hiy
GROUP BY box_id
"""

def sq_multibox_rotated(spark, sf_dir):
    """Multi-box query under a 30-degree rotation: the points are
    projected through the forward affine as expressions and range-join
    the boxes in target space — exact for any invertible transform."""
    from spatialdata_spark.operators.spatial_query import bounding_box_query_multibox
    from spatialdata_spark.transformations import Affine

    rot = Affine(
        [[_COS30, -_SIN30, 0.0], [_SIN30, _COS30, 0.0], [0.0, 0.0, 1.0]], ("x", "y"), ("x", "y")
    )
    pts = _points(spark, sf_dir)
    mins = [[b[1], b[2]] for b in _BOXES]
    maxs = [[b[3], b[4]] for b in _BOXES]
    out = bounding_box_query_multibox(pts, ("x", "y"), mins, maxs, rot)
    return out.groupBy("box_id").agg(F.count(F.lit(1)).alias("n"))


SQ_MULTIBOX_ROT_SQL = f"""
WITH boxes(box_id, lox, loy, hix, hiy) AS (
  VALUES {", ".join(f"(CAST({b[0]} AS BIGINT), {b[1]!r}, {b[2]!r}, {b[3]!r}, {b[4]!r})" for b in _BOXES)}
), pts AS ({POINTS_SQL}),
proj AS (
  SELECT (x * {_COS30!r} + y * {-_SIN30!r}) AS xt, (x * {_SIN30!r} + y * {_COS30!r}) AS yt FROM pts
)
SELECT box_id, COUNT(*) AS n
FROM proj JOIN boxes ON xt > lox AND xt < hix AND yt > loy AND yt < hiy
GROUP BY box_id
"""


def sq_raster_rotated(spark, sf_dir):
    """Raster bbox query under a 30-degree rotation: the reference's
    corners rule — inverse-map the query corners, slice the enclosing
    intrinsic integer box (spatial_query.py:537-615)."""
    from spatialdata_spark.operators.spatial_query import bounding_box_query_raster_long
    from spatialdata_spark.transformations import Affine

    rot = Affine(
        [[_COS30, -_SIN30, 0.0], [_SIN30, _COS30, 0.0], [0.0, 0.0, 1.0]], ("x", "y"), ("x", "y")
    )
    labels = _labels(spark, sf_dir)
    out = bounding_box_query_raster_long(labels, ("x", "y"), [20.0, 30.0], [60.0, 70.0], rot)
    return out.groupBy("label").agg(F.count(F.lit(1)).alias("n"))


# the oracle recomputes the corner mapping from first principles:
# inverse of R(30deg) is R(-30deg) = [[c, s], [-s, c]]
SQ_RASTER_ROT_SQL = f"""
WITH labels AS ({LABELS_SQL}),
corners(cx, cy) AS (
  VALUES (CAST(20.0 AS DOUBLE), CAST(30.0 AS DOUBLE)), (60.0, 30.0), (20.0, 70.0), (60.0, 70.0)
),
mapped AS (
  SELECT cx * {_COS30!r} + cy * {_SIN30!r} AS xi, cx * {-_SIN30!r} + cy * {_COS30!r} AS yi
  FROM corners
),
b AS (
  SELECT CAST(FLOOR(MIN(xi)) AS BIGINT) AS lox, CAST(CEIL(MAX(xi)) AS BIGINT) AS hix,
         CAST(FLOOR(MIN(yi)) AS BIGINT) AS loy, CAST(CEIL(MAX(yi)) AS BIGINT) AS hiy
  FROM mapped
)
SELECT label, COUNT(*) AS n
FROM labels, b
WHERE x >= lox AND x <= hix AND y >= loy AND y <= hiy
GROUP BY label
"""


def sq_polygon_clip(spark, sf_dir):
    """polygon_query(shapes, clip=True): returned geometries clipped to
    the (convex) query polygon; bbox columns and area recomputed from
    the clipped ring.  Box values + a non-integer rectangle ring keep
    the oracle closed-form (rect-rect intersection) while exercising
    the general Sutherland-Hodgman kernel."""
    from spatialdata_spark.operators.spatial_query import polygon_query_shapes
    from spatialdata_spark.operators.vectorize import boxes_to_shapes

    part = _read(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("shape_id"),
        ((F.col("p_partkey") % 90) * 1.0).alias("minx"),
        (((F.col("p_partkey") * 3) % 40) * 1.0).alias("miny"),
        ((F.col("p_partkey") % 90) * 1.0 + 4).alias("maxx"),
        (((F.col("p_partkey") * 3) % 40) * 1.0 + 8).alias("maxy"),
    )
    ring = np.array([[12.25, 7.25], [55.75, 7.25], [55.75, 33.75], [12.25, 33.75]])
    out = polygon_query_shapes(boxes_to_shapes(part), ring, clip=True)
    return out.select(
        "shape_id",
        F.round("minx", 6).alias("minx_r"),
        F.round("miny", 6).alias("miny_r"),
        F.round("maxx", 6).alias("maxx_r"),
        F.round("maxy", 6).alias("maxy_r"),
        F.round("clip_area", 6).alias("area_r"),
    )


def _sq_polygon_clip_sql() -> str:
    # deferred: VRECT_SQL is defined further down with the fractions family
    return f"""
WITH v AS ({VRECT_SQL})
SELECT v_id AS shape_id,
  ROUND(GREATEST(vx0, 12.25), 6) AS minx_r,
  ROUND(GREATEST(vy0, 7.25), 6) AS miny_r,
  ROUND(LEAST(vx1, 55.75), 6) AS maxx_r,
  ROUND(LEAST(vy1, 33.75), 6) AS maxy_r,
  ROUND((LEAST(vx1, 55.75) - GREATEST(vx0, 12.25)) * (LEAST(vy1, 33.75) - GREATEST(vy0, 7.25)), 6) AS area_r
FROM v
WHERE vx1 > 12.25 AND vx0 < 55.75 AND vy1 > 7.25 AND vy0 < 33.75
"""


def sq_polygon_clip_holes(spark, sf_dir):
    """clip=True on donut polygons: interior rings survive the clip, so
    area recomputed from the returned WKB equals the reported clip_area
    (spatial_query.polygon_query_shapes; reference gpd.clip keeps holes).
    Outer rect [x0,y0]+[6,10], hole [x0+2,y0+3]+[2,4]; quarter-coordinate
    query ring keeps every intermediate exactly representable."""
    from spatialdata_spark.operators.spatial_query import polygon_query_shapes

    part = _read(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("shape_id"),
        (F.col("p_partkey") % 90).cast("double").alias("x0"),
        ((F.col("p_partkey") * 3) % 40).cast("double").alias("y0"),
    )

    @F.pandas_udf(T.BinaryType())
    def _donut(x0_s, y0_s):
        import pandas as pd

        from spatialdata_spark.geometry import wkb as W

        out = []
        for x0, y0 in zip(x0_s, y0_s):
            outer = np.array([[x0, y0], [x0 + 6, y0], [x0 + 6, y0 + 10], [x0, y0 + 10]], dtype=float)
            hole = np.array([[x0 + 2, y0 + 3], [x0 + 4, y0 + 3], [x0 + 4, y0 + 7], [x0 + 2, y0 + 7]], dtype=float)
            out.append(W.encode_polygon([outer, hole]))
        return pd.Series(out)

    shapes = part.select(
        "shape_id",
        F.lit("polygon").alias("kind"),
        _donut("x0", "y0").alias("wkb"),
        F.col("x0").alias("minx"),
        F.col("y0").alias("miny"),
        (F.col("x0") + 6).alias("maxx"),
        (F.col("y0") + 10).alias("maxy"),
        F.lit(None).cast("double").alias("radius"),
    )
    ring = np.array([[12.25, 7.25], [55.75, 7.25], [55.75, 33.75], [12.25, 33.75]])
    out = polygon_query_shapes(shapes, ring, clip=True)

    @F.pandas_udf(T.DoubleType())
    def _wkb_area(wkb_s):
        import pandas as pd

        from spatialdata_spark.geometry import predicates as P
        from spatialdata_spark.geometry import wkb as W

        vals = []
        for buf in wkb_s:
            kind, geom = W.decode(bytes(buf))
            vals.append(P.polygon_area(geom) if kind == "polygon" else P.multipolygon_area(geom))
        return pd.Series(vals)

    return out.select(
        "shape_id",
        F.round("minx", 6).alias("minx_r"),
        F.round("miny", 6).alias("miny_r"),
        F.round("maxx", 6).alias("maxx_r"),
        F.round("maxy", 6).alias("maxy_r"),
        F.round("clip_area", 6).alias("area_r"),
        F.round(_wkb_area("wkb"), 6).alias("wkb_area_r"),
    )


SQ_POLYGON_CLIP_HOLES_SQL = """
WITH d AS (
  SELECT p_partkey AS shape_id,
    CAST(p_partkey % 90 AS DOUBLE) AS x0,
    CAST((p_partkey * 3) % 40 AS DOUBLE) AS y0
  FROM part
), a AS (
  SELECT shape_id, x0, y0,
    GREATEST(LEAST(x0 + 6, 55.75) - GREATEST(x0, 12.25), 0)
      * GREATEST(LEAST(y0 + 10, 33.75) - GREATEST(y0, 7.25), 0) AS oa,
    GREATEST(LEAST(x0 + 4, 55.75) - GREATEST(x0 + 2, 12.25), 0)
      * GREATEST(LEAST(y0 + 7, 33.75) - GREATEST(y0 + 3, 7.25), 0) AS ha
  FROM d
)
SELECT shape_id,
  ROUND(GREATEST(x0, 12.25), 6) AS minx_r,
  ROUND(GREATEST(y0, 7.25), 6) AS miny_r,
  ROUND(LEAST(x0 + 6, 55.75), 6) AS maxx_r,
  ROUND(LEAST(y0 + 10, 33.75), 6) AS maxy_r,
  ROUND(oa - ha, 6) AS area_r,
  ROUND(oa - ha, 6) AS wkb_area_r
FROM a WHERE oa - ha > 0
"""


# convex polygon (triangle) with non-grid vertices; oracle = half-planes
_TRI = np.array([[15.3, 2.7], [95.1, 8.9], [42.6, 48.2]])


def _halfplane_sql(ring: np.ndarray) -> str:
    n = len(ring)
    # CCW orientation check
    area = 0.0
    for i in range(n):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % n]
        area += x1 * y2 - x2 * y1
    r = ring if area > 0 else ring[::-1]
    conds = []
    for i in range(n):
        x1, y1 = r[i]
        x2, y2 = r[(i + 1) % n]
        # cross((p2-p1),(p-p1)) > 0 for strict interior
        conds.append(f"(({x2!r} - {x1!r})*(y - {y1!r}) - ({y2!r} - {y1!r})*(x - {x1!r})) > 0")
    return " AND ".join(conds)


def sq_polygon_points(spark, sf_dir):
    from spatialdata_spark.operators.spatial_query import polygon_query_points

    pts = _points(spark, sf_dir)
    return polygon_query_points(pts, _TRI).select("l_orderkey", "l_linenumber", "x", "y")


SQ_POLYGON_POINTS_SQL = f"""
SELECT l_orderkey, l_linenumber, x, y FROM ({POINTS_SQL})
WHERE {_halfplane_sql(_TRI)}
"""


# concave dart (reflex vertex D inside triangle ABC); vertex coordinates
# are non-representable by the data's 2-decimal prices so no point ever
# falls exactly on an edge (where even-odd and strict conventions differ)
_DART = np.array(
    [
        [10.123457, 5.234561],   # A
        [89.876541, 9.876531],   # B
        [49.912345, 47.234511],  # C
        [50.371234, 18.112341],  # D (reflex)
    ]
)


def _tri_sql(p0, p1, p2) -> str:
    return _halfplane_sql(np.array([p0, p1, p2]))


def sq_polygon_concave(spark, sf_dir):
    """Concave-ring point query — exercises the ray-casting refine path
    (convex rings take the half-plane expression fast path instead)."""
    from spatialdata_spark.operators.spatial_query import polygon_query_points

    pts = _points(spark, sf_dir)
    return polygon_query_points(pts, _DART).select("l_orderkey", "l_linenumber", "x", "y")


# oracle: the dart's interior is the union of the two triangles cut by
# the diagonal from the reflex vertex: DAB ∪ DBC (shared edge D-B is
# measure-zero and unreachable by the data grid)
SQ_POLYGON_CONCAVE_SQL = f"""
SELECT l_orderkey, l_linenumber, x, y FROM ({POINTS_SQL})
WHERE (({_tri_sql(_DART[3], _DART[0], _DART[1])}) OR ({_tri_sql(_DART[3], _DART[1], _DART[2])}))
"""


def sq_bbox_shapes(spark, sf_dir):
    from spatialdata_spark.operators.spatial_query import bounding_box_query_shapes

    circles = _circles(spark, sf_dir)
    out = bounding_box_query_shapes(circles, ("x", "y"), [10.0, 10.0], [40.0, 30.0])
    return out.select("shape_id", "minx", "miny", "maxx", "maxy", "radius")


SQ_BBOX_SHAPES_SQL = f"""
WITH c AS ({CIRCLES_SQL})
SELECT shape_id, cx - radius AS minx, cy - radius AS miny,
       cx + radius AS maxx, cy + radius AS maxy, radius
FROM c
WHERE (POWER(GREATEST(10.0 - cx, 0.0, cx - 40.0), 2)
     + POWER(GREATEST(10.0 - cy, 0.0, cy - 30.0), 2)) <= radius*radius
"""


def _seg_dist2_sql(cx: str, cy: str, x1, y1, x2, y2) -> str:
    l2 = (x2 - x1) ** 2 + (y2 - y1) ** 2
    t = f"LEAST(GREATEST((({cx} - {x1!r})*{x2 - x1!r} + ({cy} - {y1!r})*{y2 - y1!r}) / {l2!r}, 0.0), 1.0)"
    return (
        f"(POWER({cx} - ({x1!r} + {x2 - x1!r}*{t}), 2) + POWER({cy} - ({y1!r} + {y2 - y1!r}*{t}), 2))"
    )


def sq_polygon_shapes(spark, sf_dir):
    from spatialdata_spark.operators.spatial_query import polygon_query_shapes

    circles = _circles(spark, sf_dir)
    out = polygon_query_shapes(circles, _TRI)
    return out.select("shape_id", "radius")


def _polygon_shapes_sql() -> str:
    # disk intersects triangle <=> center strictly inside OR some edge
    # within radius of the center (mirrors ring_intersects_circle)
    n = len(_TRI)
    area = 0.0
    for i in range(n):
        x1, y1 = _TRI[i]
        x2, y2 = _TRI[(i + 1) % n]
        area += x1 * y2 - x2 * y1
    ring = _TRI if area > 0 else _TRI[::-1]
    inside = []
    near = []
    for i in range(n):
        x1, y1 = (float(v) for v in ring[i])
        x2, y2 = (float(v) for v in ring[(i + 1) % n])
        inside.append(f"(({x2!r} - {x1!r})*(cy - {y1!r}) - ({y2!r} - {y1!r})*(cx - {x1!r})) > 0")
        near.append(f"{_seg_dist2_sql('cx', 'cy', x1, y1, x2, y2)} <= radius*radius")
    return f"(({' AND '.join(inside)}) OR {' OR '.join(near)})"


SQ_POLYGON_SHAPES_SQL = f"""
WITH c AS ({CIRCLES_SQL})
SELECT shape_id, radius FROM c WHERE {_polygon_shapes_sql()}
"""


# Two-part multipolygon regions: part A sits entirely at x <= -20 where no
# circle reaches (circle minx >= -7), part B overlaps the data — every match
# is via the SECOND part, pinning the all-parts refine in
# spatialdata_spark.operators.aggregate._as_polys (reference: geopandas
# sjoin treats multipolygons part-exhaustively).  Fractional coords keep
# distance==radius ties unreachable by the integer circle grid.
_MP_PARTS = [
    (
        (-30.123456, 10.0 * i + 0.321987, -20.456789, 10.0 * i + 8.765432),
        (20.0 * i + 1.123456, 5.654321, 20.0 * i + 13.987654, 30.246813),
    )
    for i in range(4)
]


def sq_multipart_shapes(spark, sf_dir):
    from spatialdata_spark.geometry import wkb as W
    from spatialdata_spark.operators.aggregate import aggregate_shapes_by_shapes

    rows = []
    for i, (pa, pb) in enumerate(_MP_PARTS):
        polys = [
            [np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1]], dtype=float)]
            for (x0, y0, x1, y1) in (pa, pb)
        ]
        buf = W.encode_multipolygon(polys)
        rows.append(
            (
                i,
                "multipolygon",
                bytearray(buf),
                float(min(pa[0], pb[0])),
                float(min(pa[1], pb[1])),
                float(max(pa[2], pb[2])),
                float(max(pa[3], pb[3])),
                None,
            )
        )
    by = spark.createDataFrame(
        rows,
        "shape_id BIGINT, kind STRING, wkb BINARY, minx DOUBLE, miny DOUBLE, maxx DOUBLE, maxy DOUBLE, radius DOUBLE",
    )
    circles = _circles(spark, sf_dir)
    out = aggregate_shapes_by_shapes(
        circles, by, values_kinds=frozenset({"point"}), by_kinds=frozenset({"multipolygon"})
    )
    return out.select("by_id", "n")


def _mp_sql() -> str:
    selects = []
    for i, (pa, pb) in enumerate(_MP_PARTS):
        conds = [
            f"(POWER(GREATEST({x0!r} - cx, cx - {x1!r}, 0.0), 2)"
            f" + POWER(GREATEST({y0!r} - cy, cy - {y1!r}, 0.0), 2)) <= radius*radius"
            for (x0, y0, x1, y1) in (pa, pb)
        ]
        selects.append(
            f"SELECT CAST({i} AS BIGINT) AS by_id, COUNT(*) AS n FROM c"
            f" WHERE ({' OR '.join(conds)}) HAVING COUNT(*) > 0"
        )
    return " UNION ALL ".join(selects)


SQ_MULTIPART_SHAPES_SQL = f"""
WITH c AS ({CIRCLES_SQL})
{_mp_sql()}
"""


# -- relational joins -------------------------------------------------------


def _element_circles(spark, sf_dir):
    """'cells' element: circles for customers with positive balance."""
    from spatialdata_spark.operators.vectorize import circles_to_shapes

    c = _read(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 0).select(
        F.col("c_custkey").alias("shape_id"),
        ((F.col("c_custkey") % 97) * 1.0).alias("x"),
        (((F.col("c_custkey") * 7) % 53) * 1.0).alias("y"),
        ((F.lit(3) + (F.col("c_custkey") % 5)) * 1.0).alias("radius"),
    )
    return circles_to_shapes(c)


def _orders_table(spark, sf_dir):
    return _read(spark, sf_dir, "orders").select(
        F.lit("cells").alias("region"),
        F.col("o_custkey").alias("instance_id"),
        "o_orderkey",
        "o_totalprice",
    )


def rq_join_left(spark, sf_dir):
    from spatialdata_spark.operators.relational import join_element_table

    _, table_out = join_element_table(
        _element_circles(spark, sf_dir), "cells", "shapes", _orders_table(spark, sf_dir), how="left"
    )
    return table_out.select("instance_id", "o_orderkey", "o_totalprice")


RQ_JOIN_LEFT_SQL = """
SELECT o_custkey AS instance_id, o_orderkey, o_totalprice FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 0)
"""


def rq_join_inner_element(spark, sf_dir):
    from spatialdata_spark.operators.relational import join_element_table

    element_out, _ = join_element_table(
        _element_circles(spark, sf_dir), "cells", "shapes", _orders_table(spark, sf_dir), how="inner"
    )
    return element_out.select("shape_id", "minx", "miny", "maxx", "maxy", "radius")


RQ_JOIN_INNER_SQL = f"""
WITH c AS ({CIRCLES_SQL}),
     pos AS (SELECT c_custkey FROM customer WHERE c_acctbal > 0)
SELECT shape_id, cx - radius AS minx, cy - radius AS miny,
       cx + radius AS maxx, cy + radius AS maxy, radius
FROM c
WHERE shape_id IN (SELECT c_custkey FROM pos)
  AND shape_id IN (SELECT o_custkey FROM orders)
"""


def rq_join_left_exclusive(spark, sf_dir):
    from spatialdata_spark.operators.relational import join_element_table

    element_out, _ = join_element_table(
        _element_circles(spark, sf_dir), "cells", "shapes", _orders_table(spark, sf_dir), how="left_exclusive"
    )
    return element_out.select("shape_id", "radius")


RQ_JOIN_LEFT_EXCL_SQL = f"""
WITH c AS ({CIRCLES_SQL})
SELECT shape_id, radius FROM c
WHERE shape_id IN (SELECT c_custkey FROM customer WHERE c_acctbal > 0)
  AND shape_id NOT IN (SELECT o_custkey FROM orders)
"""


def rq_join_right(spark, sf_dir):
    """how='right': table kept as-is, element masked to table instance
    ids (reference: relational_query.py:293-334)."""
    from spatialdata_spark.operators.relational import join_element_table

    element_out, _ = join_element_table(
        _element_circles(spark, sf_dir), "cells", "shapes", _orders_table(spark, sf_dir), how="right"
    )
    return element_out.select("shape_id", "radius")


RQ_JOIN_RIGHT_SQL = """
SELECT c_custkey AS shape_id, (3 + (c_custkey % 5)) * 1.0 AS radius
FROM customer
WHERE c_acctbal > 0 AND c_custkey IN (SELECT o_custkey FROM orders)
"""


def rq_join_right_exclusive(spark, sf_dir):
    from spatialdata_spark.operators.relational import join_element_table

    _, table_out = join_element_table(
        _element_circles(spark, sf_dir), "cells", "shapes", _orders_table(spark, sf_dir), how="right_exclusive"
    )
    return table_out.select("instance_id", "o_orderkey")


RQ_JOIN_RIGHT_EXCL_SQL = """
SELECT o_custkey AS instance_id, o_orderkey FROM orders
WHERE o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_acctbal > 0)
"""


def rq_get_values_xlong(spark, sf_dir):
    from spatialdata_spark.operators.relational import get_values

    orders = _read(spark, sf_dir, "orders")
    x_long = orders.selectExpr(
        "o_orderkey AS obs_id",
        "stack(2, 'totalprice', o_totalprice, 'custkey', CAST(o_custkey AS DOUBLE)) AS (var_name, value)"
    )
    return get_values("totalprice", x_long=x_long)


RQ_GET_VALUES_SQL = """
SELECT o_orderkey AS instance_id, o_totalprice AS value FROM orders
"""


def rq_get_values_obsm(spark, sf_dir):
    """get_values resolving an obsm array key: the obs x k array is the
    long form (obs_id, key, dim, value), expanded to per-dimension
    columns (reference relational_query.py:981-1109 obsm branch)."""
    from spatialdata_spark.operators.relational import get_values

    cust = _read(spark, sf_dir, "customer")
    obsm_long = cust.selectExpr(
        "c_custkey AS obs_id",
        "stack(2, 'spatial', 0, c_acctbal, 'spatial', 1, CAST(c_nationkey AS DOUBLE))"
        " AS (key, dim, value)",
    )
    return get_values("spatial", obsm_long=obsm_long, obsm_ndim=2)


RQ_GET_VALUES_OBSM_SQL = """
SELECT c_custkey AS instance_id, c_acctbal AS spatial_0,
       CAST(c_nationkey AS DOUBLE) AS spatial_1
FROM customer
"""


def rq_filter_var(spark, sf_dir):
    """filter_by_table_query var-metadata branch: X filtered to the
    variables whose var rows pass a predicate, via a broadcast semi-join
    on the small var dimension (reference relational_query.py:835-910)."""
    from spatialdata_spark.operators.relational import filter_table_by_var_predicate

    x_long = _read(spark, sf_dir, "lineitem").selectExpr(
        "l_orderkey AS obs_id",
        "CONCAT('p_', CAST(l_partkey AS STRING)) AS var_name",
        "l_quantity AS value",
    )
    var_df = _read(spark, sf_dir, "part").selectExpr(
        "CONCAT('p_', CAST(p_partkey AS STRING)) AS var_name", "p_retailprice", "p_size"
    )
    out = filter_table_by_var_predicate(x_long, var_df, F.col("p_size") <= 5)
    return out.groupBy("var_name").agg(
        F.sum("value").alias("sum_qty"), F.count(F.lit(1)).alias("n")
    )


RQ_FILTER_VAR_SQL = """
WITH x AS (
  SELECT l_orderkey AS obs_id, CONCAT('p_', CAST(l_partkey AS VARCHAR)) AS var_name,
         l_quantity AS value
  FROM lineitem
),
keep AS (
  SELECT CONCAT('p_', CAST(p_partkey AS VARCHAR)) AS var_name FROM part WHERE p_size <= 5
)
SELECT var_name, SUM(value) AS sum_qty, COUNT(*) AS n
FROM x WHERE var_name IN (SELECT var_name FROM keep)
GROUP BY var_name
"""


def rq_filter_by_table(spark, sf_dir):
    """filter_by_table_query: predicate on the annotation table, elements
    re-matched (reference relational_query.py:835-910)."""
    from spatialdata_spark.catalog import SpatialDataset
    from spatialdata_spark.operators.relational import filter_by_table_predicate

    ds = SpatialDataset(spark)
    ds.add_shapes("cells", _element_circles(spark, sf_dir))
    ds.add_table("orders_tbl", _orders_table(spark, sf_dir), region="cells")
    out = filter_by_table_predicate(ds, "orders_tbl", F.col("o_totalprice") > 150000.0)
    return out["cells"].select("shape_id", "radius")


RQ_FILTER_TABLE_SQL = f"""
WITH c AS ({CIRCLES_SQL})
SELECT shape_id, radius FROM c
WHERE shape_id IN (SELECT c_custkey FROM customer WHERE c_acctbal > 0)
  AND shape_id IN (SELECT o_custkey FROM orders WHERE o_totalprice > 150000.0)
"""


def rq_element_instances(spark, sf_dir):
    """get_element_instances on a labels raster: distinct nonzero label
    values (reference: relational_query.py:62-120)."""
    from spatialdata_spark.operators.relational import element_instance_ids

    return element_instance_ids(_labels(spark, sf_dir), "labels")


RQ_ELEMENT_INSTANCES_SQL = f"""
SELECT DISTINCT label AS instance_id FROM ({LABELS_SQL}) WHERE label != 0
"""


def rq_filter_labels(spark, sf_dir):
    """filter_label_pixels: zero out pixels of unannotated labels."""
    from spatialdata_spark.operators.relational import filter_labels_by_table

    table = _read(spark, sf_dir, "supplier").filter(F.col("s_acctbal") > 0).select(
        F.lit("labels_el").alias("region"),
        ((F.col("s_suppkey") % 50) + 1).alias("instance_id"),
    )
    out = filter_labels_by_table(_labels(spark, sf_dir), table, "labels_el")
    return out.groupBy("label").agg(F.count(F.lit(1)).alias("n"))


RQ_FILTER_LABELS_SQL = f"""
WITH labels AS ({LABELS_SQL}),
keep AS (SELECT DISTINCT (s_suppkey % 50) + 1 AS id FROM supplier WHERE s_acctbal > 0)
SELECT CASE WHEN label IN (SELECT id FROM keep) THEN label ELSE 0 END AS label,
       COUNT(*) AS n
FROM labels GROUP BY 1
"""


def rq_concat_tables(spark, sf_dir):
    from spatialdata_spark.operators.relational import concatenate_tables

    t1 = _orders_table(spark, sf_dir).filter(F.col("o_orderkey") % 2 == 0)
    t2 = _orders_table(spark, sf_dir).filter(F.col("o_orderkey") % 2 == 1)
    out = concatenate_tables([t1, t2], region_suffixes=["_a", "_b"])
    return out.groupBy("region").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("total"),
    )


RQ_CONCAT_SQL = f"""
SELECT region, COUNT(*) AS n, CAST(SUM(CAST(o_totalprice AS {DEC})) AS DOUBLE) AS total FROM (
  SELECT 'cells_a' AS region, o_totalprice FROM orders WHERE o_orderkey % 2 = 0
  UNION ALL
  SELECT 'cells_b' AS region, o_totalprice FROM orders WHERE o_orderkey % 2 = 1
) GROUP BY region
"""


# -- aggregation ------------------------------------------------------------


def ag_points_by_circles_count(spark, sf_dir):
    from spatialdata_spark.operators.aggregate import aggregate_points_by_shapes

    return aggregate_points_by_shapes(
        # radius is 3..7 by construction (avg 5): pass h = r/6 directly
        # so the operator skips its avg-radius sizing action
        _points(spark, sf_dir), _circles(spark, sf_dir), all_circles=True, cell_size=0.85
    )


AG_COUNT_SQL = f"""
WITH p AS ({POINTS_SQL}), c AS ({CIRCLES_SQL})
SELECT c.shape_id AS by_id, COUNT(*) AS n
FROM c JOIN p ON (p.x - c.cx)*(p.x - c.cx) + (p.y - c.cy)*(p.y - c.cy) <= c.radius*c.radius
GROUP BY c.shape_id
"""


def ag_points_by_circles_sum(spark, sf_dir):
    from spatialdata_spark.operators.aggregate import aggregate_points_by_shapes

    return aggregate_points_by_shapes(
        _points(spark, sf_dir), _circles(spark, sf_dir), value_col="y", agg_func="sum", all_circles=True, cell_size=0.85
    )


AG_SUM_SQL = f"""
WITH p AS ({POINTS_SQL}), c AS ({CIRCLES_SQL})
SELECT c.shape_id AS by_id, SUM(p.y) AS sum_y
FROM c JOIN p ON (p.x - c.cx)*(p.x - c.cx) + (p.y - c.cy)*(p.y - c.cy) <= c.radius*c.radius
GROUP BY c.shape_id
"""


def ag_points_by_circles_mean(spark, sf_dir):
    """mean via decomposable sum/count partials (bit-identical to a
    direct mean because both engines compute SUM(double)/COUNT)."""
    from spatialdata_spark.operators.aggregate import aggregate_points_by_shapes

    return aggregate_points_by_shapes(
        _points(spark, sf_dir), _circles(spark, sf_dir), value_col="y", agg_func="mean", all_circles=True, cell_size=0.85
    )


AG_MEAN_SQL = f"""
WITH p AS ({POINTS_SQL}), c AS ({CIRCLES_SQL})
SELECT c.shape_id AS by_id, SUM(p.y) / COUNT(p.y) AS mean_y
FROM c JOIN p ON (p.x - c.cx)*(p.x - c.cx) + (p.y - c.cy)*(p.y - c.cy) <= c.radius*c.radius
GROUP BY c.shape_id
"""


def ag_points_by_circles_max(spark, sf_dir):
    from spatialdata_spark.operators.aggregate import aggregate_points_by_shapes

    return aggregate_points_by_shapes(
        _points(spark, sf_dir), _circles(spark, sf_dir), value_col="x", agg_func="max", all_circles=True, cell_size=0.85
    )


AG_MAX_SQL = f"""
WITH p AS ({POINTS_SQL}), c AS ({CIRCLES_SQL})
SELECT c.shape_id AS by_id, MAX(p.x) AS max_x
FROM c JOIN p ON (p.x - c.cx)*(p.x - c.cx) + (p.y - c.cy)*(p.y - c.cy) <= c.radius*c.radius
GROUP BY c.shape_id
"""


def ag_points_categorical(spark, sf_dir):
    from spatialdata_spark.operators.aggregate import aggregate_points_by_shapes

    return aggregate_points_by_shapes(
        _points(spark, sf_dir), _circles(spark, sf_dir), value_col="gene", all_circles=True, cell_size=0.85
    )


AG_CAT_SQL = f"""
WITH p AS ({POINTS_SQL}), c AS ({CIRCLES_SQL})
SELECT c.shape_id AS by_id, p.gene AS category, COUNT(*) AS n
FROM c JOIN p ON (p.x - c.cx)*(p.x - c.cx) + (p.y - c.cy)*(p.y - c.cy) <= c.radius*c.radius
GROUP BY c.shape_id, p.gene
"""

# fraction-weighted rect-by-rect aggregation; value rects 4x8 (area 32 =
# 2^5 so weights are binary-exact), by = 3 fixed boxes
_BY_BOXES = [(100, 0.0, 0.0, 45.0, 25.0), (101, 40.0, 15.0, 90.0, 40.0), (102, 10.0, 30.0, 60.0, 48.0)]

VRECT_SQL = (
    "SELECT p_partkey AS v_id, (p_partkey % 90)*1.0 AS vx0, ((p_partkey*3) % 40)*1.0 AS vy0, "
    "(p_partkey % 90)*1.0 + 4 AS vx1, ((p_partkey*3) % 40)*1.0 + 8 AS vy1 FROM part"
)


def _vrect_shapes(spark, sf_dir):
    """The value-rect shapes frame shared by the ag_fractions family —
    plan memoized per session (see _plan_memo)."""
    from spatialdata_spark.operators.vectorize import boxes_to_shapes

    def build():
        part = _read(spark, sf_dir, "part").select(
            F.col("p_partkey").alias("shape_id"),
            ((F.col("p_partkey") % 90) * 1.0).alias("minx"),
            (((F.col("p_partkey") * 3) % 40) * 1.0).alias("miny"),
            ((F.col("p_partkey") % 90) * 1.0 + 4).alias("maxx"),
            (((F.col("p_partkey") * 3) % 40) * 1.0 + 8).alias("maxy"),
        )
        return boxes_to_shapes(part)

    return _plan_memo(spark, ("vrects", _table_key(sf_dir, "part")), build)


def _by_boxes_shapes(spark):
    """The three fixed by-boxes as a shapes frame — plan memoized (the
    3-row createDataFrame alone cost ~60 ms per construction)."""
    from spatialdata_spark.operators.vectorize import boxes_to_shapes

    def build():
        by_rows = spark.createDataFrame(
            [(int(b[0]), float(b[1]), float(b[2]), float(b[3]), float(b[4])) for b in _BY_BOXES],
            ["shape_id", "minx", "miny", "maxx", "maxy"],
        )
        return boxes_to_shapes(by_rows)

    return _plan_memo(spark, "by_boxes", build)


def ag_fractions(spark, sf_dir):
    from spatialdata_spark.operators.aggregate import aggregate_shapes_by_shapes

    values = _vrect_shapes(spark, sf_dir)
    by = _by_boxes_shapes(spark)
    return aggregate_shapes_by_shapes(values, by, fractions=True, cell_size=30.0, values_kinds=frozenset({"box"}), by_kinds=frozenset({"box"}))


def ag_fractions_concave(spark, sf_dir):
    """Area-fraction aggregation over CONCAVE by-regions (reference
    gpd.overlay semantics, _core/operations/aggregate.py:428-432):
    L-shaped by-polygons ear-clip into interior-disjoint triangles
    inside the fractions kernel; the oracle decomposes each L into its
    two rectangles, whose box-clip areas are exact arithmetic.  All
    coordinates are quarter-integers with box areas a power of two, so
    every weight is dyadic and ROUND(9) is drift-free."""
    from spatialdata_spark.geometry.wkb import encode_polygon
    from spatialdata_spark.operators.aggregate import aggregate_shapes_by_shapes
    from spatialdata_spark.operators.vectorize import boxes_to_shapes

    part = _read(spark, sf_dir, "part").filter(F.col("p_partkey") < 150).select(
        F.col("p_partkey").alias("shape_id"),
        ((F.col("p_partkey") % 10) * 10.0).alias("minx"),
        (((F.col("p_partkey") * 3) % 8) * 10.0).alias("miny"),
        ((F.col("p_partkey") % 10) * 10.0 + 8.0).alias("maxx"),
        (((F.col("p_partkey") * 3) % 8) * 10.0 + 8.0).alias("maxy"),
    )
    values = boxes_to_shapes(part)
    rows = []
    for k in range(1, 7):
        ox = ((k * 17) % 80) + 0.25
        oy = ((k * 23) % 56) + 0.25
        ring = np.array(
            [
                [ox, oy],
                [ox + 11.5, oy],
                [ox + 11.5, oy + 3.5],
                [ox + 3.5, oy + 3.5],
                [ox + 3.5, oy + 11.5],
                [ox, oy + 11.5],
            ]
        )
        rows.append(
            (
                k,
                "polygon",
                bytearray(encode_polygon([ring])),
                float(ring[:, 0].min()),
                float(ring[:, 1].min()),
                float(ring[:, 0].max()),
                float(ring[:, 1].max()),
                None,
            )
        )
    by = spark.createDataFrame(
        rows,
        "shape_id long, kind string, wkb binary, minx double, miny double, maxx double, maxy double, radius double",
    )
    out = aggregate_shapes_by_shapes(
        values,
        by,
        fractions=True,
        cell_size=30.0,
        values_kinds=frozenset({"box"}),
        by_kinds=frozenset({"polygon"}),
    )
    return out.select("by_id", F.round(F.col("n"), 9).alias("frac_count"))


AG_FRACTIONS_CONCAVE_SQL = """
WITH v AS (
  SELECT p_partkey AS v_id,
         (p_partkey % 10) * 10.0 AS vx0, ((p_partkey * 3) % 8) * 10.0 AS vy0
  FROM part WHERE p_partkey < 150
), b AS (
  SELECT k AS by_id, ((k * 17) % 80) + 0.25 AS ox, ((k * 23) % 56) + 0.25 AS oy
  FROM generate_series(1, 6) AS g(k)
), w AS (
  SELECT by_id,
    (GREATEST(LEAST(vx0 + 8, ox + 11.5) - GREATEST(vx0, ox), 0)
       * GREATEST(LEAST(vy0 + 8, oy + 3.5) - GREATEST(vy0, oy), 0)
     + GREATEST(LEAST(vx0 + 8, ox + 3.5) - GREATEST(vx0, ox), 0)
       * GREATEST(LEAST(vy0 + 8, oy + 11.5) - GREATEST(vy0, oy + 3.5), 0)) / 64.0 AS w
  FROM v CROSS JOIN b
)
SELECT by_id, ROUND(SUM(w), 9) AS frac_count FROM w WHERE w > 0 GROUP BY by_id
"""


def ag_points_by_darts(spark, sf_dir):
    """Zonal count by CONCAVE polygons — the ray-casting refine inside
    the grid-join aggregation path (boxes/circles take expression fast
    paths; darts cannot).  Oracle: per dart, the union of the two
    triangles cut by the diagonal from the reflex vertex."""
    from spatialdata_spark.geometry.wkb import encode_polygon
    from spatialdata_spark.operators.aggregate import aggregate_points_by_shapes

    rows = []
    for sid, (ox, oy) in enumerate(_DART_OFFSETS, start=1):
        ring = _DART + np.array([ox, oy])
        rows.append(
            (
                sid,
                "polygon",
                bytearray(encode_polygon([ring])),
                float(ring[:, 0].min()),
                float(ring[:, 1].min()),
                float(ring[:, 0].max()),
                float(ring[:, 1].max()),
                None,
            )
        )
    shapes = spark.createDataFrame(
        rows,
        "shape_id long, kind string, wkb binary, minx double, miny double, maxx double, maxy double, radius double",
    )
    return aggregate_points_by_shapes(_points(spark, sf_dir), shapes, cell_size=20.0)


_DART_OFFSETS = [(0.0, 0.0), (5.0, 2.0), (-12.0, -3.0)]


def _dart_union_sql(offset) -> str:
    d = _DART + np.array(offset)
    return f"(({_tri_sql(d[3], d[0], d[1])}) OR ({_tri_sql(d[3], d[1], d[2])}))"


def _ag_darts_sql() -> str:
    parts = [
        f"SELECT {sid} AS by_id, COUNT(*) AS n FROM p WHERE {_dart_union_sql(off)}"
        for sid, off in enumerate(_DART_OFFSETS, start=1)
    ]
    return (
        f"WITH p AS ({POINTS_SQL}) SELECT * FROM ("
        + " UNION ALL ".join(parts)
        + ") WHERE n > 0"
    )


def ag_points_by_boxes(spark, sf_dir):
    """Generic grid-join path (polygon WKB + point-in-polygon refine —
    not the circle fast path): count points per box region.  Box edges
    carry an offset finer than the data's decimal precision (x has at
    most 5 decimal digits, y is integer) so no point ever lies exactly
    on an edge and ray-casting vs inclusive-SQL semantics agree.
    """
    from spatialdata_spark.operators.aggregate import aggregate_points_by_shapes
    from spatialdata_spark.operators.vectorize import boxes_to_shapes

    part = _read(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("shape_id"),
        ((F.col("p_partkey") % 90) + 0.500001).alias("minx"),
        (((F.col("p_partkey") * 3) % 40) + 0.5).alias("miny"),
        ((F.col("p_partkey") % 90) + 4.500001).alias("maxx"),
        (((F.col("p_partkey") * 3) % 40) + 8.5).alias("maxy"),
    )
    # force the polygon-refine path by marking kind='polygon'
    boxes = boxes_to_shapes(part).withColumn("kind", F.lit("polygon"))
    return aggregate_points_by_shapes(_points(spark, sf_dir), boxes, cell_size=8.0)


AG_POINTS_BOXES_SQL = f"""
WITH p AS ({POINTS_SQL}), v AS (
  SELECT p_partkey AS v_id,
         (p_partkey % 90) + 0.500001 AS vx0, ((p_partkey*3) % 40) + 0.5 AS vy0,
         (p_partkey % 90) + 4.500001 AS vx1, ((p_partkey*3) % 40) + 8.5 AS vy1
  FROM part
)
SELECT v.v_id AS by_id, COUNT(*) AS n
FROM v JOIN p ON p.x >= v.vx0 AND p.x <= v.vx1 AND p.y >= v.vy0 AND p.y <= v.vy1
GROUP BY v.v_id
"""


def ag_fractions_value(spark, sf_dir):
    """Fraction-weighted SUM of a value column over box regions."""
    from spatialdata_spark.operators.aggregate import aggregate_shapes_by_shapes

    # val derives from shape_id AFTER the shape projection — the old
    # self-join of two part reads doubled the scan for a column the
    # fixture computes from the key anyway (tools/rescan_audit.py)
    values = _plan_memo(
        spark,
        ("vrects_val", _table_key(sf_dir, "part")),
        lambda: _vrect_shapes(spark, sf_dir).withColumn("val", F.col("shape_id") % 7 * 1.0),
    )
    by = _by_boxes_shapes(spark)
    return aggregate_shapes_by_shapes(values, by, value_col="val", agg_func="sum", fractions=True, cell_size=30.0, values_kinds=frozenset({"box"}), by_kinds=frozenset({"box"}))


AG_FRACTIONS_VALUE_SQL = f"""
WITH v AS ({VRECT_SQL}),
     b(b_id, bx0, by0, bx1, by1) AS (
  VALUES {", ".join(f"(CAST({b[0]} AS BIGINT), {b[1]!r}, {b[2]!r}, {b[3]!r}, {b[4]!r})" for b in _BY_BOXES)}
)
SELECT b_id AS by_id,
  SUM((v_id % 7) * GREATEST(LEAST(vx1, bx1) - GREATEST(vx0, bx0), 0.0)
    * GREATEST(LEAST(vy1, by1) - GREATEST(vy0, by0), 0.0) / 32.0) AS sum_val
FROM v JOIN b ON vx1 >= bx0 AND vx0 <= bx1 AND vy1 >= by0 AND vy0 <= by1
GROUP BY b_id
"""


AG_FRACTIONS_SQL = f"""
WITH v AS ({VRECT_SQL}),
     b(b_id, bx0, by0, bx1, by1) AS (
  VALUES {", ".join(f"(CAST({b[0]} AS BIGINT), {b[1]!r}, {b[2]!r}, {b[3]!r}, {b[4]!r})" for b in _BY_BOXES)}
)
SELECT b_id AS by_id,
  SUM(GREATEST(LEAST(vx1, bx1) - GREATEST(vx0, bx0), 0.0)
    * GREATEST(LEAST(vy1, by1) - GREATEST(vy0, by0), 0.0) / 32.0) AS n
FROM v JOIN b ON vx1 >= bx0 AND vx0 <= bx1 AND vy1 >= by0 AND vy0 <= by1
GROUP BY b_id
"""

def ag_centroids_labels(spark, sf_dir):
    from spatialdata_spark.operators.measures import centroids_labels

    return centroids_labels(_labels(spark, sf_dir))


AG_CENTROIDS_SQL = f"""
WITH labels AS ({LABELS_SQL})
SELECT label AS instance_id, AVG(x) AS x, AVG(y) AS y
FROM labels WHERE label != 0 GROUP BY label
"""


def ag_extent(spark, sf_dir):
    pts = _points(spark, sf_dir)
    return pts.agg(
        F.min("x").alias("min_x"), F.max("x").alias("max_x"),
        F.min("y").alias("min_y"), F.max("y").alias("max_y"),
    )


AG_EXTENT_SQL = f"""
SELECT MIN(x) AS min_x, MAX(x) AS max_x, MIN(y) AS min_y, MAX(y) AS max_y
FROM ({POINTS_SQL})
"""


def ag_zonal_image(spark, sf_dir):
    from spatialdata_spark.operators.aggregate import aggregate_image_by_labels

    # persist the aggregated image: labels derive from img's own rows,
    # so the un-persisted plan compiled the lineitem scan+agg TWICE
    # (column pruning drops `value` on the labels side, which breaks
    # exchange reuse).  img is raster-area-bounded (<= 100 x 7 rows
    # here; never fact-sized), the same ≥2-consumers persist rule as
    # the circle-aggregation cell cover.  Runtime lineitem scans 2 -> 1.
    img = _plan_memo(
        spark,
        ("ag_zonal_img", _table_key(sf_dir, "lineitem")),
        lambda: (
            _read(spark, sf_dir, "lineitem")
            .groupBy(
                (F.col("l_orderkey") % 100).alias("y"), F.col("l_linenumber").cast("long").alias("x")
            )
            .agg(F.sum("l_quantity").alias("value"))
            .select(F.lit(0).alias("c"), "y", "x", "value")
            .persist()
        ),
    )
    labels = img.select("y", "x", ((F.col("y") * 7 + F.col("x")) % 10 + 1).alias("label"))
    return aggregate_image_by_labels(img, labels, "mean")


AG_ZONAL_SQL = """
WITH img AS (
  SELECT 0 AS c, l_orderkey % 100 AS y, CAST(l_linenumber AS BIGINT) AS x, SUM(l_quantity) AS value
  FROM lineitem GROUP BY 2, 3
), labels AS (
  SELECT y, x, (y*7 + x) % 10 + 1 AS label FROM img
)
SELECT labels.label, img.c, AVG(img.value) AS mean_value
FROM img JOIN labels ON img.y = labels.y AND img.x = labels.x
WHERE labels.label != 0
GROUP BY labels.label, img.c
"""


def ag_points_by_labels(spark, sf_dir):
    """Zonal aggregation of points by a labels raster (reference
    aggregate.py:28-213 with by=Labels2DModel): points bin to integer
    pixels, pre-aggregate per pixel, equi-join the label mask, group by
    label.  Sums are over l_quantity (integer-valued, summed as BIGINT
    on both sides) so the oracle is association-order exact."""
    from spatialdata_spark.operators.aggregate import aggregate_points_by_labels

    labels = (
        _labels(spark, sf_dir).groupBy("y", "x").agg(F.max("label").alias("label"))
    )
    pts = _points(spark, sf_dir).withColumn("qty", F.col("y").cast("long"))
    return aggregate_points_by_labels(pts, labels, value_col="qty", agg_func="sum")


AG_POINTS_BY_LABELS_SQL = f"""
WITH labels AS (
  SELECT y, x, MAX(label) AS label FROM ({LABELS_SQL}) GROUP BY 1, 2
), pp AS (
  SELECT CAST(FLOOR(y) AS BIGINT) AS py, CAST(FLOOR(x) AS BIGINT) AS px,
         COUNT(*) AS pn, SUM(CAST(y AS BIGINT)) AS ps
  FROM ({POINTS_SQL}) GROUP BY 1, 2
)
SELECT l.label, CAST(SUM(pp.pn) AS BIGINT) AS n, CAST(SUM(pp.ps) AS BIGINT) AS sum_value
FROM pp JOIN labels l ON l.y = pp.py AND l.x = pp.px
GROUP BY 1
"""


# -- raster/vector ----------------------------------------------------------


def rv_rasterize_circle_fill(spark, sf_dir):
    """Full-disk rasterization (labels from circles) — expression-only
    bbox explode + distance filter; min-label overlap resolution."""
    from spatialdata_spark.operators.rasterize import rasterize_circles_fill

    c = _read(spark, sf_dir, "customer").filter(F.col("c_custkey") < 300).select(
        F.col("c_custkey").alias("shape_id"),
        ((F.col("c_custkey") % 97) * 1.0).alias("x"),
        (((F.col("c_custkey") * 7) % 53) * 1.0).alias("y"),
        ((F.lit(3) + (F.col("c_custkey") % 5)) * 1.0).alias("radius"),
    )
    filled = rasterize_circles_fill(c)
    return filled.groupBy("y", "x").agg(F.min("label").alias("label"))


RV_CIRCLE_FILL_SQL = """
WITH c AS (
  SELECT c_custkey AS shape_id, (c_custkey % 97)*1.0 AS cx,
         ((c_custkey*7) % 53)*1.0 AS cy, (3 + (c_custkey % 5))*1.0 AS radius
  FROM customer WHERE c_custkey < 300
), yy AS (
  SELECT shape_id, cx, cy, radius, UNNEST(range(CAST(CEIL(cy - radius) AS BIGINT), CAST(FLOOR(cy + radius) AS BIGINT) + 1)) AS y
  FROM c
), px AS (
  SELECT shape_id, y, UNNEST(range(CAST(CEIL(cx - radius) AS BIGINT), CAST(FLOOR(cx + radius) AS BIGINT) + 1)) AS x
  FROM yy
  WHERE TRUE
), hit AS (
  SELECT p.shape_id, p.y, p.x
  FROM px p JOIN c ON p.shape_id = c.shape_id
  WHERE (p.x - c.cx)*(p.x - c.cx) + (p.y - c.cy)*(p.y - c.cy) <= c.radius*c.radius
)
SELECT y, x, MIN(shape_id) AS label FROM hit GROUP BY y, x
"""


def rv_rasterize_count(spark, sf_dir):
    from spatialdata_spark.operators.rasterize import rasterize_points

    return rasterize_points(_points(spark, sf_dir), 0.0, 0.0, 5.0)


RV_RASTERIZE_SQL = f"""
SELECT CAST(FLOOR(y/5.0) AS BIGINT) AS py, CAST(FLOOR(x/5.0) AS BIGINT) AS px, COUNT(*) AS value
FROM ({POINTS_SQL}) GROUP BY 1, 2
"""


def rv_rasterize_cat(spark, sf_dir):
    from spatialdata_spark.operators.rasterize import rasterize_points_categorical

    return rasterize_points_categorical(_points(spark, sf_dir), 0.0, 0.0, 10.0, "gene")


RV_RASTERIZE_CAT_SQL = f"""
SELECT CAST(FLOOR(y/10.0) AS BIGINT) AS py, CAST(FLOOR(x/10.0) AS BIGINT) AS px, gene AS category, COUNT(*) AS n
FROM ({POINTS_SQL}) GROUP BY 1, 2, 3
"""


def rv_to_circles(spark, sf_dir):
    from spatialdata_spark.operators.vectorize import labels_to_circles

    return labels_to_circles(_labels(spark, sf_dir))


RV_TO_CIRCLES_SQL = f"""
WITH labels AS ({LABELS_SQL})
SELECT label AS shape_id, AVG(x) AS x, AVG(y) AS y, SQRT(COUNT(*) / PI()) AS radius
FROM labels WHERE label != 0 GROUP BY label
"""


def rv_to_polygons(spark, sf_dir):
    """Exact labels->polygons via boundary tracing on tiles; the oracle
    checks the per-label invariants area == pixel count and bbox ==
    pixel extent (the geometry itself is unit-tested by pip round
    trip in tests/test_vectorize_tiles.py)."""
    from pyspark.sql import types as T

    from spatialdata_spark.operators.raster import RasterMeta, long_to_tiles
    from spatialdata_spark.operators.vectorize import labels_tiles_to_polygons

    px = (
        _labels(spark, sf_dir)
        .filter((F.col("y") < 64) & (F.col("x") < 128))
        .groupBy("y", "x")
        .agg(F.max("label").alias("value"))
    )
    meta = RasterMeta(height=64, width=128, tile=32, dtype="i8")
    shapes = labels_tiles_to_polygons(long_to_tiles(px, meta), meta)
    return shapes.select("shape_id", _poly_area_udf("wkb").alias("area"), "minx", "miny", "maxx", "maxy")


# module-level: a pandas_udf created inside the query function is
# re-pickled and re-registered on every plan construction (~4 ms
# each: median of 60 builds against a reused UDF, 4 cores)
@F.pandas_udf(T.DoubleType())
def _poly_area_udf(wkb_s):
    import pandas as pd

    from spatialdata_spark.geometry import predicates as P
    from spatialdata_spark.geometry import wkb as W

    out = []
    for buf in wkb_s:
        kind, geom = W.decode(bytes(buf))
        out.append(P.polygon_area(geom) if kind == "polygon" else P.multipolygon_area(geom))
    return pd.Series(out)


RV_TO_POLYGONS_SQL = f"""
WITH labels AS ({LABELS_SQL}),
px AS (
  SELECT y, x, MAX(label) AS label FROM labels
  WHERE y < 64 AND x < 128 GROUP BY y, x
)
SELECT label AS shape_id, COUNT(*) * 1.0 AS area,
  MIN(x) * 1.0 AS minx, MIN(y) * 1.0 AS miny,
  (MAX(x) + 1) * 1.0 AS maxx, (MAX(y) + 1) * 1.0 AS maxy
FROM px GROUP BY label
"""


def rv_relabel(spark, sf_dir):
    from spatialdata_spark.operators.rasterize import relabel_sequential

    out = relabel_sequential(_labels(spark, sf_dir))
    return out.groupBy("label").agg(F.count(F.lit(1)).alias("n"))


RV_RELABEL_SQL = f"""
WITH labels AS ({LABELS_SQL}),
m AS (
  SELECT label, DENSE_RANK() OVER (ORDER BY label) AS new_label
  FROM (SELECT DISTINCT label FROM labels WHERE label != 0)
)
SELECT COALESCE(m.new_label, 0) AS label, COUNT(*) AS n
FROM labels LEFT JOIN m USING (label)
GROUP BY 1
"""


def rv_transform_shapes(spark, sf_dir):
    from spatialdata_spark.operators.transform import transform_shapes

    t = _scale_transform()  # Scale(2, 0.5) then Translate(10, -5)
    out = transform_shapes(_circles(spark, sf_dir), t)
    return out.select("shape_id", "minx", "miny", "maxx", "maxy", "radius")


_RADIUS_FACTOR = None


def _radius_factor() -> float:
    global _RADIUS_FACTOR
    if _RADIUS_FACTOR is None:
        from spatialdata_spark.transformations import scale_radii_factor

        _RADIUS_FACTOR = scale_radii_factor(_scale_transform())
    return _RADIUS_FACTOR


def _transform_shapes_sql() -> str:
    f = _radius_factor()
    return f"""
WITH c AS ({CIRCLES_SQL})
SELECT shape_id,
  LEAST((cx - radius) * 2.0 + 10.0, (cx + radius) * 2.0 + 10.0) AS minx,
  LEAST((cy - radius) * 0.5 + -5.0, (cy + radius) * 0.5 + -5.0) AS miny,
  GREATEST((cx - radius) * 2.0 + 10.0, (cx + radius) * 2.0 + 10.0) AS maxx,
  GREATEST((cy - radius) * 0.5 + -5.0, (cy + radius) * 0.5 + -5.0) AS maxy,
  radius * {f!r} AS radius
FROM c
"""


def rv_rasterize_bins(spark, sf_dir):
    from spatialdata_spark.operators.rasterize import rasterize_bins

    cust = _read(spark, sf_dir, "customer")
    obs = cust.select(
        F.col("c_custkey").alias("instance_id"),
        (F.col("c_custkey") % 50).alias("array_row"),
        ((F.col("c_custkey") / 50).cast("long") % 40).alias("array_col"),
    ).withColumn("x", F.col("array_col") * 2.0 + 5.0).withColumn("y", F.col("array_row") * 3.0 + 7.0)
    x_long = cust.selectExpr(
        "c_custkey AS obs_id",
        "stack(2, 'acctbal', c_acctbal, 'nation', CAST(c_nationkey AS DOUBLE)) AS (var_name, value)",
    )
    return rasterize_bins(obs, x_long, "acctbal")


RV_RASTERIZE_BINS_SQL = """
SELECT (c_custkey % 50) * 3 + 7 AS py, ((c_custkey // 50) % 40) * 2 + 5 AS px,
       c_acctbal AS value
FROM customer
"""


def rv_transform_points(spark, sf_dir):
    from spatialdata_spark.operators.transform import transform_points
    from spatialdata_spark.transformations import Affine

    aff = Affine([[1.5, 0.25, 3.0], [-0.5, 2.0, -1.0], [0.0, 0.0, 1.0]], ("x", "y"), ("x", "y"))
    return transform_points(_points(spark, sf_dir), aff).select("l_orderkey", "l_linenumber", "x", "y")


RV_TRANSFORM_SQL = f"""
SELECT l_orderkey, l_linenumber,
  x * 1.5 + y * 0.25 + 3.0 AS x,
  x * -0.5 + y * 2.0 + -1.0 AS y
FROM ({POINTS_SQL})
"""


# -- raster tile layer ------------------------------------------------------

# dense synthetic image grid from lineitem (same as ag_zonal_image):
# 100x8 pixels, value = sum of quantities; always integer-valued, so
# double sums are exact under any association order.
IMG_SQL = (
    "SELECT 0 AS c, l_orderkey % 100 AS y, CAST(l_linenumber AS BIGINT) AS x, "
    "SUM(l_quantity) AS value FROM lineitem GROUP BY 2, 3"
)


def _img_long(spark, sf_dir):
    return _plan_memo(
        spark,
        ("img_long", _table_key(sf_dir, "lineitem")),
        lambda: (
            _read(spark, sf_dir, "lineitem")
            .groupBy((F.col("l_orderkey") % 100).alias("y"), F.col("l_linenumber").cast("long").alias("x"))
            .agg(F.sum("l_quantity").alias("value"))
            .select(F.lit(0).alias("c"), "y", "x", "value")
        ),
    )


def _img_meta():
    from spatialdata_spark.operators.raster import RasterMeta

    return RasterMeta(height=100, width=8, tile=32)


def _img_tiles(spark, sf_dir):
    from spatialdata_spark.operators.raster import long_to_tiles

    return _plan_memo(
        spark,
        ("img_tiles", _table_key(sf_dir, "lineitem")),
        lambda: long_to_tiles(_img_long(spark, sf_dir), _img_meta()),
    )


def rv_rasterize_polyfill(spark, sf_dir):
    """Polygon scanline fill (the Pandas-UDF custom op, SURVEY §7 ③):
    half-integer box polygons from part, filled to (y, x, label) pixel
    rows — boundaries land between pixels so the even-odd test has no
    edge cases and the oracle is a pure integer range product."""
    from spatialdata_spark.operators.rasterize import rasterize_polygons_fill
    from spatialdata_spark.operators.vectorize import boxes_to_shapes

    part = _read(spark, sf_dir, "part").filter(F.col("p_partkey") < 200).select(
        F.col("p_partkey").alias("shape_id"),
        ((F.col("p_partkey") % 90) * 1.0 - 0.5).alias("minx"),
        (((F.col("p_partkey") * 3) % 40) * 1.0 - 0.5).alias("miny"),
        ((F.col("p_partkey") % 90) * 1.0 + 4.5).alias("maxx"),
        (((F.col("p_partkey") * 3) % 40) * 1.0 + 8.5).alias("maxy"),
    )
    out = rasterize_polygons_fill(boxes_to_shapes(part))
    return out.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("sum_y"), F.sum("x").alias("sum_x")
    )


RV_RASTERIZE_POLYFILL_SQL = """
WITH b AS (
  SELECT p_partkey AS label, p_partkey % 90 AS vx0, (p_partkey*3) % 40 AS vy0
  FROM part WHERE p_partkey < 200
)
SELECT label, COUNT(*) AS n, CAST(SUM(vy0 + dy) AS BIGINT) AS sum_y,
       CAST(SUM(vx0 + dx) AS BIGINT) AS sum_x
FROM b
CROSS JOIN generate_series(0, 8) AS gy(dy)
CROSS JOIN generate_series(0, 4) AS gx(dx)
GROUP BY label
"""


# module-level tile kernels: the raster operators cache their Arrow
# UDFs keyed on (fn, meta...) — a fresh lambda per call would defeat
# the cache and re-pickle the kernel every plan construction
def _k_double_plus_mask(a):
    return a * 2.0 + (a != 0)


def _k_boxsum(a):
    import numpy as np

    p = np.pad(a, 1)
    k = np.zeros_like(a)
    for dy in (0, 1, 2):
        for dx in (0, 1, 2):
            k += p[dy : dy + a.shape[0], dx : dx + a.shape[1]]
    return k


def rt_map_tiles(spark, sf_dir):
    from spatialdata_spark.operators.raster import map_tiles, tiles_to_long

    m = _img_meta()
    out = map_tiles(_img_tiles(spark, sf_dir), _k_double_plus_mask, m)
    return tiles_to_long(out, m)


RT_MAP_TILES_SQL = f"""
SELECT c, y, x, value * 2.0 + 1 AS value FROM ({IMG_SQL})
"""


def rt_bbox_tiles(spark, sf_dir):
    from spatialdata_spark.operators.raster import bounding_box_query_tiles, tiles_to_long

    m = _img_meta()
    out = bounding_box_query_tiles(_img_tiles(spark, sf_dir), m, 20, 2, 80, 6)
    return tiles_to_long(out, m)


RT_BBOX_TILES_SQL = f"""
SELECT c, y, x, value FROM ({IMG_SQL})
WHERE y >= 20 AND y < 80 AND x >= 2 AND x < 6
"""


# dense synthetic 3D volume (Image3DModel analog, reference
# models/models.py:447): z from suppkey, (y, x) as in IMG_SQL.
IMG3D_SQL = (
    "SELECT 0 AS c, l_suppkey % 4 AS z, l_orderkey % 50 AS y, "
    "CAST(l_linenumber AS BIGINT) AS x, SUM(l_quantity) AS value "
    "FROM lineitem GROUP BY 2, 3, 4"
)


def _img3d_long(spark, sf_dir):
    return (
        _read(spark, sf_dir, "lineitem")
        .groupBy(
            (F.col("l_suppkey") % 4).alias("z"),
            (F.col("l_orderkey") % 50).alias("y"),
            F.col("l_linenumber").cast("long").alias("x"),
        )
        .agg(F.sum("l_quantity").alias("value"))
        .select(F.lit(0).alias("c"), "z", "y", "x", "value")
    )


def _img3d_meta():
    from spatialdata_spark.operators.raster import RasterMeta

    return RasterMeta(height=50, width=8, tile=32, depth=4)


def rt_bbox_tiles_3d(spark, sf_dir):
    """3D bbox query through the z-plane tile path (reference 3D raster
    slicing, _core/query/spatial_query.py:537-615): the z slice is
    Catalyst-pruned before any tile is decoded."""
    from spatialdata_spark.operators.raster import (
        bounding_box_query_tiles_3d,
        long3d_to_tiles,
        tiles3d_to_long,
    )

    m = _img3d_meta()
    tiles = long3d_to_tiles(_img3d_long(spark, sf_dir), m)
    out = bounding_box_query_tiles_3d(tiles, m, 1, 10, 2, 3, 40, 6)
    return tiles3d_to_long(out, m)


RT_BBOX_TILES_3D_SQL = f"""
SELECT c, z, y, x, value FROM ({IMG3D_SQL})
WHERE z >= 1 AND z < 3 AND y >= 10 AND y < 40 AND x >= 2 AND x < 6
"""


def rt_zonal_3d(spark, sf_dir):
    """3D zonal stats: per-(label, channel) mean over a (z, y, x) pixel
    join — the Labels3DModel zonal path (reference aggregate.py:248-309
    with 3D labels)."""
    from spatialdata_spark.operators.aggregate import aggregate_image_by_labels

    img = _img3d_long(spark, sf_dir)
    labels = img.select(
        "z", "y", "x", ((F.col("z") * 5 + F.col("y") + F.col("x")) % 6 + 1).alias("label")
    )
    return aggregate_image_by_labels(img, labels, "mean")


RT_ZONAL_3D_SQL = f"""
WITH img AS ({IMG3D_SQL}),
labels AS (SELECT z, y, x, (z*5 + y + x) % 6 + 1 AS label FROM img)
SELECT l.label, i.c, AVG(i.value) AS mean_value
FROM img i JOIN labels l ON i.z = l.z AND i.y = l.y AND i.x = l.x
GROUP BY l.label, i.c
"""


def sq_raster_3d(spark, sf_dir):
    """3D raster bbox query under an anisotropic Scale (reference
    Labels3DModel queries, spatial_query.py:537-615): target-CS box is
    rewritten to intrinsic inclusive integer slices on (z, y, x)."""
    from spatialdata_spark.operators.spatial_query import bounding_box_query_raster_long
    from spatialdata_spark.transformations import Scale

    sc = Scale([2.0, 2.0, 2.0], ("z", "y", "x"))
    out = bounding_box_query_raster_long(
        _img3d_long(spark, sf_dir), ("z", "y", "x"), [2.0, 20.0, 2.0], [6.0, 60.0, 10.0], sc
    )
    return out.groupBy("z").agg(
        F.sum("value").alias("sum_value"), F.count(F.lit(1)).alias("n")
    )


SQ_RASTER_3D_SQL = f"""
SELECT z, SUM(value) AS sum_value, COUNT(*) AS n
FROM ({IMG3D_SQL})
WHERE z BETWEEN 1 AND 3 AND y BETWEEN 10 AND 30 AND x BETWEEN 1 AND 5
GROUP BY z
"""


def rt_pyramid_sum(spark, sf_dir):
    from spatialdata_spark.operators.raster import downsample_tiles, tiles_to_long

    m = _img_meta()
    out = downsample_tiles(_img_tiles(spark, sf_dir), m, scale=0, reduction="sum")
    return tiles_to_long(out, m, scale=1)


RT_PYRAMID_SQL = f"""
SELECT 0 AS c, y // 2 AS y, x // 2 AS x, SUM(value) AS value
FROM ({IMG_SQL}) GROUP BY 2, 3
"""


def rt_halo_boxsum(spark, sf_dir):
    from spatialdata_spark.operators.raster import map_tiles_with_halo, tiles_to_long

    m = _img_meta()
    out = tiles_to_long(map_tiles_with_halo(_img_tiles(spark, sf_dir), _k_boxsum, m, halo=1), m)
    # restrict to the input support so the row set matches the oracle's
    support = _img_long(spark, sf_dir).select("y", "x")
    return out.join(support, ["y", "x"], "left_semi")


RT_HALO_SQL = f"""
WITH img AS ({IMG_SQL})
SELECT a.c, a.y, a.x, SUM(b.value) AS value
FROM img a JOIN img b
  ON b.y BETWEEN a.y - 1 AND a.y + 1 AND b.x BETWEEN a.x - 1 AND a.x + 1
GROUP BY a.c, a.y, a.x
"""


def rt_zonal_tiles(spark, sf_dir):
    from spatialdata_spark.operators.raster import RasterMeta, long_to_tiles, tiles_to_long, zonal_stats_tiles

    m = _img_meta()
    lmeta = RasterMeta(height=100, width=8, tile=32, dtype="i8")
    # Label pixels come from UNPACKING the already-built image tiles
    # instead of a second full lineitem scan+aggregation (r14: one
    # corpus pass instead of two; guide §2.4).  Equivalent because
    # every image pixel is nonzero by construction (value = SUM of
    # l_quantity >= 1 per populated cell), so the sparse unpack yields
    # exactly the img_long pixel set — pinned by the oracle hash.
    tiles = _img_tiles(spark, sf_dir)
    px = tiles_to_long(tiles, m)
    labels_long = px.select("y", "x", ((F.col("y") * 7 + F.col("x")) % 10 + 1).alias("value"))
    out = zonal_stats_tiles(tiles, long_to_tiles(labels_long, lmeta), m, lmeta)
    return out.select("label", "c", "sum_value", "n", "mean_value")


RT_ZONAL_SQL = f"""
WITH img AS ({IMG_SQL}), labels AS (
  SELECT y, x, (y*7 + x) % 10 + 1 AS label FROM img
)
SELECT labels.label, img.c, SUM(img.value) AS sum_value, COUNT(*) AS n,
       SUM(img.value) / COUNT(*) AS mean_value
FROM img JOIN labels ON img.y = labels.y AND img.x = labels.x
GROUP BY labels.label, img.c
"""


def rt_dataset_tiles(spark, sf_dir):
    """The reference's ImageTilesDataset training sweep (the asv
    benchmark_dataloader shape: hundreds of 32x32 windows over one
    scene — 500 regions at the driver's sf0.01) planned as ONE job:
    per-region window centers explode to their covering raster tiles,
    join the packed tile table, assemble each crop with the sanctioned
    applyInPandas raster kernel, then one Arrow sum per crop buffer.
    int64 cents end-to-end, so every window sum replays exactly in SQL
    (reference: dataloader/datasets.py ImageTilesDataset).

    Empty-window contract: a region whose covered tiles exist but whose
    window pixels are all zero reports crop_sum 0; a region none of
    whose covering tiles exist is absent (no tile rows to join) — the
    oracle reproduces both via the tile-granular join + windowed CASE.
    """
    import numpy as np
    import pandas as pd

    from spatialdata_spark.dataloader import ImageTilesDataset
    from spatialdata_spark.operators.raster import RasterMeta, long_to_tiles

    img = (
        _read(spark, sf_dir, "lineitem")
        .groupBy(
            (F.col("l_orderkey") % 256).alias("y"),
            ((F.col("l_orderkey") * 7 + F.col("l_linenumber")) % 256).alias("x"),
        )
        .agg(F.sum(F.col("l_quantity") * 100).cast("long").alias("value"))
    )
    meta = RasterMeta(height=256, width=256, tile=32, dtype="i8")
    tiles = long_to_tiles(img, meta)
    regions = (
        _read(spark, sf_dir, "part")
        .filter(F.col("p_partkey") <= 500)
        .select(
            F.col("p_partkey").cast("long").alias("region_id"),
            ((F.col("p_partkey") * 37) % 224 + 16).cast("double").alias("cy"),
            ((F.col("p_partkey") * 59) % 224 + 16).cast("double").alias("cx"),
        )
    )
    ds = ImageTilesDataset(tiles, meta, regions, tile_px=32)

    @F.pandas_udf("long")
    def _crop_sum(data):
        return pd.Series(
            [int(np.frombuffer(bytes(b), dtype="<i8").sum()) for b in data]
        )

    return ds.dataframe().select(
        "region_id", "c", "y0", "x0", _crop_sum("data").alias("crop_sum")
    )


RT_DATASET_TILES_SQL = """
WITH img AS (
  SELECT l_orderkey % 256 AS y, (l_orderkey*7 + l_linenumber) % 256 AS x,
         CAST(SUM(l_quantity * 100) AS BIGINT) AS v
  FROM lineitem GROUP BY 1, 2
),
reg AS (
  SELECT CAST(p_partkey AS BIGINT) AS region_id,
         CAST((p_partkey*37) % 224 AS BIGINT) AS y0,
         CAST((p_partkey*59) % 224 AS BIGINT) AS x0
  FROM part WHERE p_partkey <= 500
)
SELECT r.region_id, CAST(0 AS INTEGER) AS c, r.y0, r.x0,
       CAST(COALESCE(SUM(CASE WHEN img.y >= r.y0 AND img.y < r.y0 + 32
                               AND img.x >= r.x0 AND img.x < r.x0 + 32
                          THEN v END), 0) AS BIGINT) AS crop_sum
FROM reg r JOIN img
  ON (img.y // 32) BETWEEN (r.y0 // 32) AND ((r.y0 + 31) // 32)
 AND (img.x // 32) BETWEEN (r.x0 // 32) AND ((r.x0 + 31) // 32)
GROUP BY 1, 3, 4
"""


def rt_zonal_quantiles(spark, sf_dir):
    """Per-label per-channel exact quantiles (q25/q50/q75) of image
    values — order-statistics zonal aggregation; Spark ``percentile``
    matches SQL ``quantile_cont`` on DOUBLE."""
    from spatialdata_spark.operators.raster import zonal_quantiles_long

    img_long = _img_long(spark, sf_dir)
    labels_long = img_long.select("y", "x", ((F.col("y") * 7 + F.col("x")) % 10 + 1).alias("value"))
    return zonal_quantiles_long(img_long, labels_long)


RT_ZONAL_QUANTILES_SQL = f"""
WITH img AS ({IMG_SQL}), labels AS (
  SELECT y, x, (y*7 + x) % 10 + 1 AS label FROM img
)
SELECT labels.label, img.c,
       quantile_cont(CAST(img.value AS DOUBLE), 0.25) AS q25,
       quantile_cont(CAST(img.value AS DOUBLE), 0.5) AS q50,
       quantile_cont(CAST(img.value AS DOUBLE), 0.75) AS q75
FROM img JOIN labels ON img.y = labels.y AND img.x = labels.x
GROUP BY labels.label, img.c
"""


def rt_unpad_extent(spark, sf_dir):
    from spatialdata_spark.operators.raster import unpad_raster

    m = _img_meta()
    _, (y0, x0, y1, x1) = unpad_raster(_img_tiles(spark, sf_dir), m)
    return spark.createDataFrame([(y0, x0, y1, x1)], ["y0", "x0", "y1", "x1"])


RT_UNPAD_SQL = f"""
SELECT MIN(y) AS y0, MIN(x) AS x0, MAX(y) + 1 AS y1, MAX(x) + 1 AS x1
FROM ({IMG_SQL}) WHERE value != 0
"""


def rt_affine_resample(spark, sf_dir):
    from spatialdata_spark.operators.raster import RasterMeta, tiles_to_long, transform_raster_tiles

    m = _img_meta()
    out_meta = RasterMeta(height=200, width=16, tile=32)
    # 2x upsample + translate(3,1): inverse index map i = (o - t)/2
    inv = [[0.5, 0.0, -1.5], [0.0, 0.5, -0.5], [0.0, 0.0, 1.0]]
    out = transform_raster_tiles(_img_tiles(spark, sf_dir), m, inv, out_meta, order=0)
    return tiles_to_long(out, out_meta)


RT_AFFINE_SQL = f"""
WITH img AS ({IMG_SQL}),
oy AS (SELECT UNNEST(RANGE(0, 200)) AS y),
ox AS (SELECT UNNEST(RANGE(0, 16)) AS x)
SELECT 0 AS c, oy.y AS y, ox.x AS x, img.value AS value
FROM oy CROSS JOIN ox
JOIN img ON img.y = CAST(FLOOR((oy.y - 3) / 2.0 + 0.5) AS BIGINT)
        AND img.x = CAST(FLOOR((ox.x - 1) / 2.0 + 0.5) AS BIGINT)
"""


def rt_export_tiles(spark, sf_dir):
    """ImageTilesDataset sweep with a content check: the oracle
    recomputes each 8x8 window's value sum from the synthetic image
    definition, and the query unpacks the exported binary tile to the
    same sum (values are integer-valued doubles, so sums are exact)."""
    import numpy as np
    import pandas as pd

    from spatialdata_spark.operators.raster import export_region_tiles

    m = _img_meta()
    regions = _read(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 200).select(
        F.col("c_custkey").alias("region_id"),
        (F.col("c_custkey") % 100).alias("cy"),
        (F.col("c_custkey") % 8).alias("cx"),
    )
    out = export_region_tiles(_img_tiles(spark, sf_dir), m, regions, tile_px=8)

    @F.pandas_udf("double")
    def _vsum(bufs):
        return pd.Series([float(np.frombuffer(bytes(b), dtype="<f8").sum()) for b in bufs])

    return out.select(
        "region_id", "c", "y0", "x0", F.length("data").alias("n_bytes"), _vsum("data").alias("vsum")
    )


RT_EXPORT_TILES_SQL = f"""
WITH img AS ({IMG_SQL}),
r AS (
  SELECT c_custkey AS region_id, (c_custkey % 100) - 4 AS y0, (c_custkey % 8) - 4 AS x0
  FROM customer WHERE c_custkey <= 200
),
g AS (SELECT t1.dy, t2.dx FROM range(8) t1(dy), range(8) t2(dx))
SELECT r.region_id, 0 AS c, r.y0, r.x0, 512 AS n_bytes,
       COALESCE(SUM(img.value), 0.0) AS vsum
FROM r CROSS JOIN g
LEFT JOIN img ON img.y = r.y0 + g.dy AND img.x = r.x0 + g.dx
GROUP BY r.region_id, r.y0, r.x0
"""


# -- pipeline: dedup / text / similarity ------------------------------------


def pl_dedup_exact(spark, sf_dir):
    from spatialdata_spark.pipeline.dedup import exact_dedup

    return exact_dedup(_read(spark, sf_dir, "documents"))


PL_DEDUP_SQL = """
SELECT md5(text) AS digest, MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
FROM documents GROUP BY md5(text)
"""


def pl_text_stats(spark, sf_dir):
    from spatialdata_spark.pipeline.textstats import text_stats

    return text_stats(_read(spark, sf_dir, "documents")).select(
        "doc_id", "n_chars", "n_tokens", "punct_ratio", "digit_ratio"
    )


PL_TEXT_STATS_SQL = r"""
SELECT doc_id,
  LENGTH(text) AS n_chars,
  CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0 ELSE LEN(string_split_regex(TRIM(text), '\s+')) END AS n_tokens,
  (LENGTH(text) - LENGTH(regexp_replace(text, '[.,;:!?''"()\[\]{}-]', '', 'g'))) * 1.0 / GREATEST(LENGTH(text), 1) AS punct_ratio,
  (LENGTH(text) - LENGTH(regexp_replace(text, '[0-9]', '', 'g'))) * 1.0 / GREATEST(LENGTH(text), 1) AS digit_ratio
FROM documents
"""


def pl_fingerprint(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    norm = F.lower(F.regexp_replace(F.col("text"), r"\s+", " "))
    return docs.select("doc_id", F.md5(norm).alias("fingerprint"))


PL_FINGERPRINT_SQL = r"""
SELECT doc_id, md5(LOWER(regexp_replace(text, '\s+', ' ', 'g'))) AS fingerprint
FROM documents
"""


def pl_token_count(spark, sf_dir):
    from spatialdata_spark.pipeline.textstats import token_count_bpe_ish

    return token_count_bpe_ish(_read(spark, sf_dir, "documents"))


PL_TOKEN_COUNT_SQL = r"""
SELECT doc_id, LEN(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS n_bpe_tokens
FROM documents
"""


def pl_knn_cosine(spark, sf_dir):
    from spatialdata_spark.pipeline.similarity import cosine_topk_subquery

    # The query vector stays IN the plan as a broadcast 1-row subquery
    # (mirroring the oracle's CTE) instead of a driver-side .first() —
    # the old shape ran a separate Spark job per plan construction plus
    # a 64-element literal array (~0.2 s per action).  Outputs verified
    # bit-identical at sf0.001/0.01/0.1; the top-k margin (min adjacent
    # cosine gap ~8e-6) is 10 orders above the one-ulp difference
    # between the in-plan norm and the old numpy norm.
    emb = _read(spark, sf_dir, "embeddings")
    out = cosine_topk_subquery(
        emb.where("vec_id != 0"), emb.where("vec_id = 0"), k=20
    )
    return out.selectExpr("vec_id", "round(cosine, 6) AS cosine_r")


PL_KNN_SQL = """
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id, ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]), CAST(qv AS DOUBLE[])), 6) AS cosine_r
FROM embeddings, q WHERE vec_id != 0
ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]), CAST(qv AS DOUBLE[])) DESC, vec_id
LIMIT 20
"""


def pl_ivf_exact(spark, sf_dir):
    """IVF with nprobe = n_cells degenerates to exact search, so the
    brute-force oracle applies; pl_ivf_probe is the approximate path."""
    from spatialdata_spark.pipeline.similarity import ivf_assign, ivf_topk_query

    emb = _read(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").first()
    assigned, centroids = ivf_assign(emb.filter(F.col("vec_id") != 0), n_cells=8)
    out = ivf_topk_query(assigned, centroids, qrow["embedding"], k=20, nprobe=8)
    return out.select("vec_id", F.round("cosine", 6).alias("cosine_r"))


def pl_ivf_probe(spark, sf_dir):
    """nprobe=2 approximate IVF search against a *data-derived fixed
    codebook* (the embeddings of vec_id 1..8), so the whole probe path
    — assignment, cell ranking, in-cell search — is expression-only and
    exactly reproduced by the DuckDB oracle.  The k-means-trained
    quantizer path is pl_ivf_exact / the recall pytest."""
    import numpy as np

    from spatialdata_spark.pipeline.similarity import ivf_exemplar_assign, ivf_topk_query

    emb = _read(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").first()
    ex_rows = emb.filter(F.col("vec_id").between(1, 8)).orderBy("vec_id").select("embedding").collect()
    exemplars = [[float(x) for x in r["embedding"]] for r in ex_rows]
    assigned = ivf_exemplar_assign(emb.filter(F.col("vec_id") > 8), exemplars)
    centroids = np.asarray(exemplars)
    out = ivf_topk_query(assigned, centroids, qrow["embedding"], k=20, nprobe=2)
    return out.select("vec_id", F.round("cosine", 6).alias("cosine_r"))


# rows-only checks (no SQL-expressible oracle): LSH/heuristic operators
def pl_cosine_pairs(spark, sf_dir):
    """Exact embedding near-dup pairs on an id-bounded slice via
    block-partitioned GEMM (the oracle baseline for
    embedding_cosine_dedup's LSH path)."""
    from spatialdata_spark.pipeline.similarity import cosine_pairs_blocked

    emb = _read(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 500)
    out = cosine_pairs_blocked(emb, threshold=0.3, block_size=128)
    return out.select("id_a", "id_b", F.round("cosine", 6).alias("cosine_r"))


PL_COSINE_PAIRS_SQL = """
WITH sub AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < 500)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_cosine_similarity(a.v, b.v), 6) AS cosine_r
FROM sub a JOIN sub b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.v, b.v) >= 0.3
"""


def pl_quality_score(spark, sf_dir):
    """Composite C4/Gopher-style quality heuristic — pure Catalyst
    expressions, so the oracle replicates the exact op order in SQL."""
    from spatialdata_spark.pipeline.textstats import quality_score

    return quality_score(_read(spark, sf_dir, "documents"))


_QS_STOP_TERMS = " + ".join(
    "(LENGTH(lp) - LENGTH(regexp_replace(lp, '\\b%s\\b', '', 'g'))) / %d" % (w, len(w))
    for w in ["the", "and", "of", "to", "in", "is", "that", "for", "with", "was"]
)

PL_QUALITY_SQL = r"""
WITH s AS (
  SELECT doc_id,
    ' ' || LOWER(text) || ' ' AS lp,
    LENGTH(text) AS n_chars,
    CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0 ELSE LEN(string_split_regex(TRIM(text), '\s+')) END AS n_tokens,
    LENGTH(text) - LENGTH(regexp_replace(text, '[.,;:!?''"()\[\]{}-]', '', 'g')) AS n_punct,
    LENGTH(text) - LENGTH(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit,
    LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) AS n_space
  FROM documents
), f AS (
  SELECT doc_id,
    n_punct / GREATEST(n_chars, 1) AS punct_ratio,
    n_digit / GREATEST(n_chars, 1) AS digit_ratio,
    (n_chars - n_space) / GREATEST(n_tokens, 1) AS mean_word_len,
    ROUND((__STOP__) / GREATEST(n_tokens, 1), 9) AS stopword_ratio
  FROM s
)
SELECT doc_id,
  GREATEST(0.0, LEAST(1.0,
    1.0 - LEAST(1.0, punct_ratio * 4) * 0.25
        - LEAST(1.0, digit_ratio * 5) * 0.25
        + LEAST(0.25, stopword_ratio)
        - CASE WHEN mean_word_len < 3 OR mean_word_len > 12 THEN 0.25 ELSE 0.0 END
  )) AS quality
FROM f
""".replace("__STOP__", _QS_STOP_TERMS)


def pl_minhash_dedup(spark, sf_dir):
    """MinHash LSH band candidates on the Arrow fast path: vectorized
    numpy signatures bit-identical to the expression pipeline (same
    31-bit polynomial shingle hashes, same universal-hash minima, same
    band self-join), so the same integer-exact DuckDB oracle replays
    the result."""
    from spatialdata_spark.pipeline.dedup import minhash_band_candidates

    docs = _read(spark, sf_dir, "documents")
    return minhash_band_candidates(docs, num_hashes=32, num_bands=8)


def pl_minhash_expr(spark, sf_dir):
    """The expression-only twin of pl_minhash_dedup: 31-bit polynomial
    shingle hashes as Catalyst expressions — no Python anywhere in the
    plan — against the identical oracle."""
    from spatialdata_spark.pipeline.dedup import minhash_band_candidates_sql

    docs = _read(spark, sf_dir, "documents")
    return minhash_band_candidates_sql(docs, num_hashes=32, num_bands=8)


def pl_minhash_cc(spark, sf_dir):
    """Near-dup clusters: LSH candidates -> iterative large-star/
    small-star connected components -> (node, component).  The oracle
    recomputes the same candidate edges and closes them transitively
    with a recursive CTE."""
    from spatialdata_spark.pipeline.dedup import connected_components, minhash_band_candidates

    docs = _read(spark, sf_dir, "documents")
    cand = minhash_band_candidates(docs, num_hashes=32, num_bands=8)
    return connected_components(cand, "id_a", "id_b")


def _shingle31_sql(k: int, channel: int = 0, tcol: str = "t", ivar: str = "i") -> str:
    """DuckDB mirror of dedup._shingle31_expr: identical integer math."""
    from spatialdata_spark.pipeline.dedup import _H31

    B, P = _H31[channel]
    h = "CAST(0 AS BIGINT)"
    for j in range(k):
        h = f"((({h}) * {B} + ord(substr({tcol}, CAST({ivar} AS INT) + {j}, 1))) % {P})"
    return h


def _minhash_cand_sql(num_hashes: int = 32, num_bands: int = 8, k: int = 5, seed: int = 42) -> str:
    from spatialdata_spark.pipeline.dedup import _MERSENNE, _hash_params

    a, b = _hash_params(num_hashes, seed)
    rpb = max(1, num_hashes // num_bands)
    vals = ", ".join(f"({m}, {int(a[m])}, {int(b[m])})" for m in range(num_hashes))
    return f"""
WITH tt AS (
  SELECT doc_id, CASE WHEN LENGTH(text) < {k} THEN rpad(text, {k}, ' ') ELSE text END AS t FROM documents
), sh AS (
  SELECT doc_id, {_shingle31_sql(k)} AS h
  FROM tt, UNNEST(range(1, LENGTH(t) - {k} + 2)) u(i)
), par(m, a, b) AS (VALUES {vals}),
minh AS (
  SELECT doc_id, m, MIN((a * h + b) % {_MERSENNE}) AS v FROM sh, par GROUP BY 1, 2
), bands AS (
  SELECT doc_id, m // {rpb} AS band, list(v ORDER BY m) AS sig FROM minh GROUP BY 1, 2
)
SELECT l.doc_id AS id_a, r.doc_id AS id_b, COUNT(*) AS n_bands
FROM bands l JOIN bands r ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id
GROUP BY 1, 2
"""


def _minhash_cc_sql() -> str:
    return f"""
WITH RECURSIVE cand AS ({_minhash_cand_sql()}),
edges AS (
  SELECT id_a AS a, id_b AS b FROM cand
  UNION ALL
  SELECT id_b AS a, id_a AS b FROM cand
),
cc(node, lbl) AS (
  SELECT DISTINCT a, a FROM edges
  UNION
  SELECT e.b, c.lbl FROM cc c JOIN edges e ON e.a = c.node
)
SELECT node, MIN(lbl) AS component FROM cc GROUP BY node
"""


def _simhash_sql(k: int = 4) -> str:
    votes = ", ".join(
        f"SUM((({'h1' if bit < 31 else 'h2'} >> {bit % 31}) & 1) * 2 - 1) AS v{bit}"
        for bit in range(62)
    )
    fp = " + ".join(f"CASE WHEN v{bit} > 0 THEN {1 << bit} ELSE 0 END" for bit in range(62))
    return f"""
WITH tt AS (
  SELECT doc_id, CASE WHEN LENGTH(text) < {k} THEN rpad(text, {k}, ' ') ELSE text END AS t FROM documents
), sh AS (
  SELECT doc_id, {_shingle31_sql(k, 0)} AS h1, {_shingle31_sql(k, 1)} AS h2
  FROM tt, UNNEST(range(1, LENGTH(t) - {k} + 2)) u(i)
), votes AS (
  SELECT doc_id, {votes} FROM sh GROUP BY doc_id
)
SELECT doc_id, {fp} AS simhash FROM votes
"""


def _simhash_neardup_sql(max_hamming: int = 3) -> str:
    """All-pairs exact Hamming recheck — the 4x16-bit block LSH is
    provably complete for distance <= 3 (pigeonhole), so the Spark
    block join must return exactly this set."""
    return f"""
WITH fp AS ({_simhash_sql()})
SELECT l.doc_id AS id_a, r.doc_id AS id_b,
       bit_count(xor(l.simhash, r.simhash)) AS hamming
FROM fp l JOIN fp r ON l.doc_id < r.doc_id
WHERE bit_count(xor(l.simhash, r.simhash)) <= {max_hamming}
"""


def pl_language_id(spark, sf_dir):
    """Stopword-vote language ID — pure expressions, exact oracle."""
    from spatialdata_spark.pipeline.textstats import language_id

    docs = _read(spark, sf_dir, "documents")
    return language_id(docs).groupBy("lang_pred").agg(F.count(F.lit(1)).alias("n"))


def _lid_sql() -> str:
    from spatialdata_spark.pipeline.textstats import _STOPWORDS

    langs = list(_STOPWORDS)
    hits = ", ".join(
        " + ".join(
            f"CASE WHEN POSITION(' {w} ' IN lp) > 0 THEN 1 ELSE 0 END"
            for w in _STOPWORDS[lang]
        )
        + f" AS h_{lang}"
        for lang in langs
    )
    branches = []
    for i, lang in enumerate(langs):
        conds = [f"h_{lang} >= 2"]
        for j, other in enumerate(langs):
            if j < i:
                conds.append(f"h_{lang} > h_{other}")
            elif j > i:
                conds.append(f"h_{lang} >= h_{other}")
        branches.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    case = "CASE " + " ".join(branches) + " ELSE 'unknown' END"
    return rf"""
WITH lpd AS (
  SELECT doc_id, ' ' || regexp_replace(LOWER(text), '\s+', ' ', 'g') || ' ' AS lp FROM documents
), scored AS (
  SELECT doc_id, {hits} FROM lpd
)
SELECT {case} AS lang_pred, COUNT(*) AS n FROM scored GROUP BY 1
"""


PL_LANGUAGE_ID_SQL = _lid_sql()


def _lid_pred_ctes() -> str:
    """Shared CTE fragment: ``pred(doc_id, p)`` = the stopword-vote
    language prediction, same hits/case construction as _lid_sql."""
    from spatialdata_spark.pipeline.textstats import _STOPWORDS

    langs = list(_STOPWORDS)
    hits = ", ".join(
        " + ".join(
            f"CASE WHEN POSITION(' {w} ' IN lp) > 0 THEN 1 ELSE 0 END"
            for w in _STOPWORDS[lang]
        )
        + f" AS h_{lang}"
        for lang in langs
    )
    branches = []
    for i, lang in enumerate(langs):
        conds = [f"h_{lang} >= 2"]
        for j, other in enumerate(langs):
            if j < i:
                conds.append(f"h_{lang} > h_{other}")
            elif j > i:
                conds.append(f"h_{lang} >= h_{other}")
        branches.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    case = "CASE " + " ".join(branches) + " ELSE 'unknown' END"
    return rf"""lpd AS MATERIALIZED (
  SELECT doc_id, ' ' || regexp_replace(LOWER(text), '\s+', ' ', 'g') || ' ' AS lp FROM documents
), scored AS MATERIALIZED (
  SELECT doc_id, {hits} FROM lpd
), pred AS MATERIALIZED (
  SELECT doc_id, {case} AS p FROM scored
)"""


def pl_lsh_topk(spark, sf_dir):
    """Hyperplane-LSH bucketed top-3 neighbors with *data-derived*
    planes (embeddings of vec_id 1..6), so bucket assignment and the
    in-bucket ranking are exactly reproducible by the DuckDB oracle.
    The seeded-gaussian-plane variant stays the production default."""
    from spatialdata_spark.pipeline.similarity import lsh_bucketed_topk

    emb = _read(spark, sf_dir, "embeddings")
    p_rows = emb.filter(F.col("vec_id").between(1, 6)).orderBy("vec_id").select("embedding").collect()
    planes = [[float(x) for x in r["embedding"]] for r in p_rows]
    out = lsh_bucketed_topk(emb, k=3, planes=planes, method="expr")
    return out.select("id_a", "id_b", F.round("cosine", 6).alias("cosine_r"))


PL_IVF_PROBE_SQL = """
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
ex AS (SELECT vec_id - 1 AS cell, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings WHERE vec_id BETWEEN 1 AND 8),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id > 8),
scored AS (
  SELECT e.vec_id, e.v, x.cell,
         ROW_NUMBER() OVER (
           PARTITION BY e.vec_id
           ORDER BY list_cosine_similarity(e.v, x.cv) DESC, x.cell DESC
         ) AS rn
  FROM e CROSS JOIN ex x
),
assigned AS (SELECT vec_id, v, cell FROM scored WHERE rn = 1),
probe AS (
  SELECT cell FROM ex, q
  ORDER BY list_distance(cv, qv) ASC, cell ASC LIMIT 2
)
SELECT a.vec_id, ROUND(list_cosine_similarity(a.v, q.qv), 6) AS cosine_r
FROM assigned a JOIN probe USING (cell), q
ORDER BY list_cosine_similarity(a.v, q.qv) DESC, a.vec_id
LIMIT 20
"""

def pl_cluster_purity(spark, sf_dir):
    """Clustering-quality evaluation: vectors assigned to the fixed
    8-exemplar codebook (same quantizer as pl_ivf_probe), then
    per-cell label purity = majority-label count / cell size — the
    cluster-vs-ground-truth agreement metric a curation pipeline reads.
    All expression-side; the mode-per-cell is an integer-exact window."""
    from pyspark.sql.window import Window

    from spatialdata_spark.pipeline.similarity import ivf_exemplar_assign

    emb = _read(spark, sf_dir, "embeddings")
    ex_rows = emb.filter(F.col("vec_id").between(1, 8)).orderBy("vec_id").select("embedding").collect()
    exemplars = [[float(x) for x in r["embedding"]] for r in ex_rows]
    assigned = ivf_exemplar_assign(emb.filter(F.col("vec_id") > 8), exemplars)
    lab = emb.select("vec_id", "label")
    cl = assigned.join(lab, "vec_id").groupBy("cell", "label").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # cell size and the majority row share one partitioning: an
    # unordered sum window + an ordered row_number window, no
    # aggregate-aggregate join (which would sort-merge at scale)
    w_all = Window.partitionBy("cell")
    w_ord = Window.partitionBy("cell").orderBy(F.desc("cnt"), F.asc("label"))
    top = (
        cl.withColumn("n", F.sum("cnt").over(w_all))
        .withColumn("rn", F.row_number().over(w_ord))
        .filter(F.col("rn") == 1)
    )
    return top.select(
        F.col("cell").cast("long").alias("cell"),
        "n",
        F.col("label").alias("top_label"),
        F.round(F.col("cnt") / F.col("n"), 9).alias("purity"),
    )


PL_CLUSTER_PURITY_SQL = """
WITH ex AS (SELECT vec_id - 1 AS cell, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings WHERE vec_id BETWEEN 1 AND 8),
e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id > 8),
scored AS (
  SELECT e.vec_id, e.label, x.cell,
         ROW_NUMBER() OVER (
           PARTITION BY e.vec_id
           ORDER BY list_cosine_similarity(e.v, x.cv) DESC, x.cell DESC
         ) AS rn
  FROM e CROSS JOIN ex x
),
assigned AS (SELECT vec_id, label, cell FROM scored WHERE rn = 1),
cl AS (SELECT cell, label, COUNT(*) AS cnt FROM assigned GROUP BY cell, label),
top AS (
  SELECT cell, label, cnt,
         ROW_NUMBER() OVER (PARTITION BY cell ORDER BY cnt DESC, label ASC) AS rn
  FROM cl
),
sizes AS (SELECT cell, CAST(SUM(cnt) AS BIGINT) AS n FROM cl GROUP BY cell)
SELECT t.cell, s.n, t.label AS top_label, ROUND(t.cnt * 1.0 / s.n, 9) AS purity
FROM top t JOIN sizes s ON t.cell = s.cell WHERE t.rn = 1
"""


PL_LSH_TOPK_SQL = """
WITH p AS (SELECT vec_id - 1 AS j, CAST(embedding AS DOUBLE[]) AS pv FROM embeddings WHERE vec_id BETWEEN 1 AND 6),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
b AS (
  SELECT e.vec_id,
         SUM(CASE WHEN list_dot_product(e.v, p.pv) > 0 THEN 1 << p.j ELSE 0 END) AS bucket
  FROM e CROSS JOIN p GROUP BY e.vec_id
),
eb AS (SELECT e.vec_id, e.v, b.bucket FROM e JOIN b USING (vec_id)),
pairs AS (
  SELECT a.vec_id AS id_a, c.vec_id AS id_b,
         list_cosine_similarity(a.v, c.v) AS cosine,
         ROW_NUMBER() OVER (
           PARTITION BY a.vec_id
           ORDER BY list_cosine_similarity(a.v, c.v) DESC, c.vec_id
         ) AS rank
  FROM eb a JOIN eb c ON a.bucket = c.bucket AND a.vec_id <> c.vec_id
)
SELECT id_a, id_b, ROUND(cosine, 6) AS cosine_r FROM pairs WHERE rank <= 3
"""


def pl_embed_dedup(spark, sf_dir):
    """Embedding-cosine near-dup removal (LSH-bucketed, keep the
    lowest-id member of each near-dup pair).  Data-derived planes make
    the bucket assignment and the anti-join exactly reproducible by the
    DuckDB oracle."""
    from spatialdata_spark.pipeline.similarity import embedding_cosine_dedup

    emb = _read(spark, sf_dir, "embeddings")
    p_rows = emb.filter(F.col("vec_id").between(1, 6)).orderBy("vec_id").select("embedding").collect()
    planes = [[float(x) for x in r["embedding"]] for r in p_rows]
    out = embedding_cosine_dedup(emb, threshold=0.3, planes=planes, method="expr")
    return out.select("vec_id")


PL_EMBED_DEDUP_SQL = """
WITH p AS (SELECT vec_id - 1 AS j, CAST(embedding AS DOUBLE[]) AS pv FROM embeddings WHERE vec_id BETWEEN 1 AND 6),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
b AS (
  SELECT e.vec_id,
         SUM(CASE WHEN list_dot_product(e.v, p.pv) > 0 THEN 1 << p.j ELSE 0 END) AS bucket
  FROM e CROSS JOIN p GROUP BY e.vec_id
),
eb AS (SELECT e.vec_id, e.v, b.bucket FROM e JOIN b USING (vec_id)),
dups AS (
  SELECT DISTINCT c.vec_id
  FROM eb a JOIN eb c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
  WHERE list_cosine_similarity(a.v, c.v) >= 0.3
)
SELECT vec_id FROM e WHERE vec_id NOT IN (SELECT vec_id FROM dups)
"""


def pl_simhash(spark, sf_dir):
    """62-bit SimHash fingerprints, expression-only (exact DuckDB
    oracle replays the same integer bit votes)."""
    from spatialdata_spark.pipeline.dedup import simhash_signatures_sql

    return simhash_signatures_sql(_read(spark, sf_dir, "documents"))


def pl_simhash_neardup(spark, sf_dir):
    """SimHash near-duplicate pairs via the 4-block Hamming join.
    max_hamming=3 keeps the block LSH provably complete (pigeonhole
    over 4 blocks), so the all-pairs oracle is an exact match."""
    from spatialdata_spark.pipeline.dedup import simhash_near_duplicates, simhash_signatures_sql

    fps = simhash_signatures_sql(_read(spark, sf_dir, "documents"))
    return simhash_near_duplicates(fps, max_hamming=3)


def pl_ngram_jaccard(spark, sf_dir):
    """Exact word-3-gram Jaccard near-dup pairs — pure JVM plan
    (shingle explode + equi-join), no Python UDF."""
    from spatialdata_spark.pipeline.dedup import ngram_jaccard_join

    docs = _read(spark, sf_dir, "documents")
    out = ngram_jaccard_join(docs, n=3, threshold=0.2)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard_r"))


PL_NGRAM_JACCARD_SQL = """
WITH w AS (
  SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS w FROM documents
), sh AS (
  SELECT DISTINCT doc_id, w[i] || chr(30) || w[i+1] || chr(30) || w[i+2] AS g
  FROM w, UNNEST(range(1, len(w) - 1)) AS t(i)
  WHERE len(w) >= 3
), sz AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       ROUND(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard_r
FROM inter
JOIN sz sa ON sa.doc_id = id_a
JOIN sz sb ON sb.doc_id = id_b
WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.2
"""


def _png_media(spark, sf_dir, linear: bool = False):
    """Deterministic 8x8 RGB PNG payload per document, built with the
    real stdlib PNG encoder.  Channel values are closed-form functions
    of (doc_id, x, y), so decode results are predictable by a SQL
    oracle; the ``linear`` variant uses even-slope linear ramps whose
    bilinear 2x downsample is exactly integral (no quantization
    ambiguity)."""
    import numpy as np
    import pandas as pd

    from spatialdata_spark.pipeline.codecs import png_encode
    from spatialdata_spark.pipeline.multimodal import MEDIA_SCHEMA

    docs = _read(spark, sf_dir, "documents").select("doc_id")

    def _gen(batches):
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                y, x = np.mgrid[0:8, 0:8]
                if linear:
                    r = did % 64 + 2 * (did % 3) * x + 2 * (did % 5) * y
                    g = did % 50 + 2 * (did % 4) * x + 2 * (did % 6) * y
                    b = did % 40 + 2 * (did % 2) * x + 2 * (did % 7) * y
                else:
                    r = (did % 199 + 3 * x + 5 * y) % 256
                    g = (did % 97 + 7 * x + 2 * y) % 256
                    b = (did % 61 + x + 11 * y) % 256
                arr = np.stack([r, g, b], axis=-1).astype(np.uint8)
                rows.append((did, "image", png_encode(arr), "image/png", 8, 8, None))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "kind", "payload", "mime", "width", "height", "duration_ms"],
            )

    return docs.mapInPandas(_gen, MEDIA_SCHEMA)


def pl_multimodal_features(spark, sf_dir):
    """Real PNG decode end-to-end: encode a closed-form fixture image
    per document, decode it with the stdlib PNG decoder inside the
    feature UDF, and emit per-channel stats the oracle recomputes from
    the pixel formula (all integer sums / 64 — FP-exact)."""
    from spatialdata_spark.pipeline.multimodal import extract_features

    out = extract_features(_png_media(spark, sf_dir))
    f = F.col("feature")
    return out.select(
        "media_id",
        f[0].cast("int").alias("h"),
        f[1].cast("int").alias("w"),
        f[2].cast("int").alias("c"),
        f[3].alias("mean_r"),
        f[4].alias("mean_g"),
        f[5].alias("mean_b"),
        f[6].alias("vmin"),
        f[7].alias("vmax"),
        "decode_ok",
    )


PL_MULTIMODAL_SQL = """
WITH g AS (SELECT t1.y, t2.x FROM range(8) t1(y), range(8) t2(x)),
px AS (
  SELECT d.doc_id AS media_id,
         (d.doc_id % 199 + 3 * g.x + 5 * g.y) % 256 AS r,
         (d.doc_id % 97 + 7 * g.x + 2 * g.y) % 256 AS gg,
         (d.doc_id % 61 + g.x + 11 * g.y) % 256 AS b
  FROM documents d CROSS JOIN g
)
SELECT media_id, 8 AS h, 8 AS w, 3 AS c,
       SUM(r) / 64.0 AS mean_r,
       SUM(gg) / 64.0 AS mean_g,
       SUM(b) / 64.0 AS mean_b,
       CAST(MIN(LEAST(r, gg, b)) AS DOUBLE) AS vmin,
       CAST(MAX(GREATEST(r, gg, b)) AS DOUBLE) AS vmax,
       TRUE AS decode_ok
FROM px GROUP BY media_id
"""


def pl_image_dhash(spark, sf_dir):
    """Perceptual image dedup: dHash (gradient difference hash) over
    REAL stdlib-PNG-decoded fixture images, then exact-duplicate
    groups by hash — the image-side analog of digest dedup, with the
    hash recomputed closed-form by the oracle (integer grayscale
    (r+g+b)//3, one bit per horizontal neighbor pair, LSB-first
    row-major pack: fully integer, engine-exact)."""
    from spatialdata_spark.pipeline.multimodal import image_dhash

    h = image_dhash(_png_media(spark, sf_dir))
    return (
        h.filter(F.col("decode_ok"))
        .groupBy("dhash")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_dups"),
            F.min("media_id").cast("long").alias("keep_id"),
        )
    )


PL_IMAGE_DHASH_SQL = """
WITH g AS (SELECT t1.y, t2.x FROM range(8) t1(y), range(8) t2(x)),
px AS (
  SELECT d.doc_id AS media_id, g.y, g.x,
         ((d.doc_id % 199 + 3 * g.x + 5 * g.y) % 256
          + (d.doc_id % 97 + 7 * g.x + 2 * g.y) % 256
          + (d.doc_id % 61 + g.x + 11 * g.y) % 256) // 3 AS gray
  FROM documents d CROSS JOIN g
),
bits AS (
  SELECT a.media_id,
         CAST(SUM(CASE WHEN b.gray > a.gray
                       THEN CAST(1 AS BIGINT) << (a.y * 7 + a.x)
                       ELSE 0 END) AS BIGINT) AS dhash
  FROM px a JOIN px b
    ON a.media_id = b.media_id AND b.y = a.y AND b.x = a.x + 1
  WHERE a.x < 7
  GROUP BY 1
)
SELECT dhash, CAST(COUNT(*) AS BIGINT) AS n_dups,
       CAST(MIN(media_id) AS BIGINT) AS keep_id
FROM bits GROUP BY 1
"""


def _png_media_variants(spark, sf_dir, docs=None):
    """Image corpus with near-dups BY CONSTRUCTION: docs share their
    group's base image (group = doc_id - doc_id % 8) except the
    group's second member, whose red channel gets a +60 bump at pixel
    (y=3, x=4) — a one-pixel edit that flips at most the two gradient
    bits adjacent to it.  Exact dups collapse per group; each group
    contributes (base, variant) as a genuine sub-threshold Hamming
    pair.  Same closed-form-pixel contract as ``_png_media``.
    ``docs`` overrides the id table (the scale smoke replicates it —
    any 8-divisible id offset yields fresh disjoint groups)."""
    import numpy as np
    import pandas as pd

    from spatialdata_spark.pipeline.codecs import png_encode
    from spatialdata_spark.pipeline.multimodal import MEDIA_SCHEMA

    if docs is None:
        docs = _read(spark, sf_dir, "documents").select("doc_id")

    def _gen(batches):
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                base = did - (did % 8)
                y, x = np.mgrid[0:8, 0:8]
                bump = (
                    60 * ((y == 3) & (x == 4)) if did % 8 == 1 else 0
                )
                r = (base % 199 + 3 * x + 5 * y + bump) % 256
                g = (base % 97 + 7 * x + 2 * y) % 256
                b = (base % 61 + x + 11 * y) % 256
                arr = np.stack([r, g, b], axis=-1).astype(np.uint8)
                rows.append((did, "image", png_encode(arr), "image/png", 8, 8, None))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "kind", "payload", "mime", "width", "height", "duration_ms"],
            )

    return docs.mapInPandas(_gen, MEDIA_SCHEMA)


def pl_image_neardup(spark, sf_dir):
    """Image NEAR-dup pairs: collapse exact dHash duplicates to one
    representative (the text pipeline's exact-then-near ladder — banding
    raw rows would square every exact-dup group), then the SimHash
    4x16-bit Hamming band join (pigeonhole guarantee: distance <= 3
    implies one block matches exactly) with exact bit_count refine.
    The fixture plants one single-pixel-edited variant per 8-document
    group, so genuine sub-threshold pairs exist by construction.
    Everything integer; the oracle replays hash, banding and popcount
    closed-form."""
    from spatialdata_spark.pipeline.dedup import simhash_near_duplicates
    from spatialdata_spark.pipeline.multimodal import image_dhash

    h = image_dhash(_png_media_variants(spark, sf_dir)).filter(F.col("decode_ok"))
    reps = h.groupBy("dhash").agg(F.min("media_id").alias("doc_id"))
    fps = reps.select("doc_id", F.col("dhash").alias("simhash"))
    return simhash_near_duplicates(fps, max_hamming=3)


PL_IMAGE_NEARDUP_SQL = """
WITH g AS (SELECT t1.y, t2.x FROM range(8) t1(y), range(8) t2(x)),
px AS (
  SELECT d.doc_id AS media_id, g.y, g.x,
         (((d.doc_id - d.doc_id % 8) % 199 + 3 * g.x + 5 * g.y
           + CASE WHEN d.doc_id % 8 = 1 AND g.y = 3 AND g.x = 4
                  THEN 60 ELSE 0 END) % 256
          + ((d.doc_id - d.doc_id % 8) % 97 + 7 * g.x + 2 * g.y) % 256
          + ((d.doc_id - d.doc_id % 8) % 61 + g.x + 11 * g.y) % 256) // 3 AS gray
  FROM documents d CROSS JOIN g
),
bits AS (
  SELECT a.media_id,
         CAST(SUM(CASE WHEN b.gray > a.gray
                       THEN CAST(1 AS BIGINT) << (a.y * 7 + a.x)
                       ELSE 0 END) AS BIGINT) AS dhash
  FROM px a JOIN px b
    ON a.media_id = b.media_id AND b.y = a.y AND b.x = a.x + 1
  WHERE a.x < 7
  GROUP BY 1
),
reps AS (
  SELECT dhash, CAST(MIN(media_id) AS BIGINT) AS doc_id FROM bits GROUP BY 1
),
blocks AS (
  SELECT doc_id, dhash, t.i AS block_idx,
         (dhash >> (16 * t.i)) & 65535 AS bv
  FROM reps, UNNEST([0, 1, 2, 3]) AS t(i)
),
cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
         CAST(bit_count(xor(l.dhash, r.dhash)) AS INTEGER) AS hamming
  FROM blocks l JOIN blocks r
    ON l.block_idx = r.block_idx AND l.bv = r.bv AND l.doc_id < r.doc_id
)
SELECT id_a, id_b, hamming FROM cand WHERE hamming <= 3
"""


def _media(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, "video").otherwise("image").alias("kind"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.lit("application/fake").alias("mime"),
        (32 + (F.col("doc_id") % 64)).cast("int").alias("width"),
        (32 + ((F.col("doc_id") * 3) % 64)).cast("int").alias("height"),
        F.when(F.col("doc_id") % 3 == 0, (F.col("doc_id") % 7 + 1) * 1000).alias("duration_ms"),
    )


def pl_audio_energy(spark, sf_dir):
    """Real RIFF/PCM16 WAV parse end-to-end: constant-amplitude WAVs
    are synthesized per document, decoded by ``codecs.decode_wav``, and
    framed into 25 ms windows — a constant signal's RMS equals its
    amplitude exactly and its zero-crossing rate is 0, giving a
    closed-form oracle."""
    import pandas as pd

    from spatialdata_spark.pipeline.codecs import encode_wav
    from spatialdata_spark.pipeline.multimodal import MEDIA_SCHEMA, audio_features

    docs = _read(spark, sf_dir, "documents").select("doc_id").filter(F.col("doc_id") % 5 == 0)

    def _gen(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                amp = int(did) % 100 * 100 + 100
                samples = np.full(3200, amp, dtype=np.int16)  # 8 x 25ms at 16k
                rows.append((int(did), "audio", encode_wav(samples, 16000), "audio/wav", None, None, 200))
            yield pd.DataFrame(rows, columns=[f.name for f in MEDIA_SCHEMA.fields])

    media = docs.mapInPandas(_gen, MEDIA_SCHEMA)
    out = audio_features(media, frame_ms=25)
    return out.select(
        "media_id", "frame", F.col("rms").cast("long").alias("rms_i"), "zcr", "decode_ok"
    )


PL_AUDIO_ENERGY_SQL = """
SELECT doc_id AS media_id, f.frame AS frame,
       doc_id % 100 * 100 + 100 AS rms_i,
       0.0 AS zcr, TRUE AS decode_ok
FROM documents, (SELECT unnest(range(0, 8)) AS frame) f
WHERE doc_id % 5 = 0
"""


def pl_video_decode(spark, sf_dir):
    """Real RIFF/AVI parse end-to-end: per document, a 4-frame AVI of
    constant-color 8x6 frames is synthesized, decoded by
    ``codecs.decode_avi``, and every 2nd frame's channel means are
    emitted — constants give the closed-form oracle."""
    import pandas as pd

    from spatialdata_spark.pipeline.codecs import encode_avi
    from spatialdata_spark.pipeline.multimodal import MEDIA_SCHEMA, video_frame_features

    docs = _read(spark, sf_dir, "documents").select("doc_id").filter(F.col("doc_id") % 7 == 0)

    def _gen(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                d = int(did)
                frames = [
                    np.full((6, 8, 3), [(d + i) % 256, (d * 2 + i) % 256, (d * 3 + i) % 256], dtype=np.uint8)
                    for i in range(4)
                ]
                rows.append((d, "video", encode_avi(frames, fps=10), "video/avi", 8, 6, 400))
            yield pd.DataFrame(rows, columns=[f.name for f in MEDIA_SCHEMA.fields])

    media = docs.mapInPandas(_gen, MEDIA_SCHEMA)
    out = video_frame_features(media, every_n=2)
    return out.select(
        "media_id", "frame",
        F.col("mean_r").cast("long").alias("r"),
        F.col("mean_g").cast("long").alias("g"),
        F.col("mean_b").cast("long").alias("b"),
        "decode_ok",
    )


PL_VIDEO_DECODE_SQL = """
SELECT doc_id AS media_id, f.frame AS frame,
       (doc_id + f.frame) % 256 AS r,
       (doc_id * 2 + f.frame) % 256 AS g,
       (doc_id * 3 + f.frame) % 256 AS b,
       TRUE AS decode_ok
FROM documents, (SELECT unnest([0, 2]) AS frame) f
WHERE doc_id % 7 = 0
"""


def pl_resize_images(spark, sf_dir):
    """Real bilinear resize end-to-end: linear-ramp PNG fixtures are
    decoded, resampled 8x8 -> 4x4, re-encoded, decoded *again* by the
    feature pass, and the resulting channel means must equal the
    closed form a + 7*slope_x + 7*slope_y (exact because a bilinear
    downsample of an even-slope linear field is integral)."""
    from spatialdata_spark.pipeline.multimodal import extract_features, resize_images

    resized = resize_images(_png_media(spark, sf_dir, linear=True), 4, 4)
    out = extract_features(resized)
    f = F.col("feature")
    return out.select(
        "media_id",
        f[0].cast("int").alias("h"),
        f[1].cast("int").alias("w"),
        f[3].alias("mean_r"),
        f[4].alias("mean_g"),
        f[5].alias("mean_b"),
        "decode_ok",
    )


PL_RESIZE_SQL = """
SELECT doc_id AS media_id, 4 AS h, 4 AS w,
       CAST(doc_id % 64 + 7 * (doc_id % 3) + 7 * (doc_id % 5) AS DOUBLE) AS mean_r,
       CAST(doc_id % 50 + 7 * (doc_id % 4) + 7 * (doc_id % 6) AS DOUBLE) AS mean_g,
       CAST(doc_id % 40 + 7 * (doc_id % 2) + 7 * (doc_id % 7) AS DOUBLE) AS mean_b,
       TRUE AS decode_ok
FROM documents
"""


def pl_frame_sample(spark, sf_dir):
    """Video frame-sampling plumbing: one row per sampled timestamp —
    count per media is oracle-checkable from duration even though the
    frame payload itself is a stub."""
    from spatialdata_spark.pipeline.multimodal import sample_video_frames

    out = sample_video_frames(_media(spark, sf_dir), every_ms=1000)
    return out.groupBy("media_id").agg(F.count(F.lit(1)).alias("n_frames"))


PL_FRAME_SAMPLE_SQL = """
SELECT doc_id AS media_id, doc_id % 7 + 1 AS n_frames
FROM documents WHERE doc_id % 3 = 0
"""


def pl_repetition(spark, sf_dir):
    """Gopher-style within-document repetition signals (Rae et al. 2021
    quality rules): top-unigram mass fraction, distinct-token ratio,
    top-bigram mass fraction — all (doc_id, gram)-keyed aggregates."""
    from spatialdata_spark.pipeline.filters import repetition_stats

    out = repetition_stats(_read(spark, sf_dir, "documents"))
    return out.select(
        "doc_id",
        F.round("top_unigram_frac", 9).alias("top_unigram_frac"),
        F.round("distinct_ratio", 9).alias("distinct_ratio"),
        F.round("top_bigram_frac", 9).alias("top_bigram_frac"),
    )


PL_REPETITION_SQL = r"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(LOWER(TRIM(text)), '\s+')) AS w FROM documents
),
toks AS (SELECT doc_id, string_split_regex(LOWER(TRIM(text)), '\s+') AS ts FROM documents),
ucnt AS (SELECT doc_id, w, COUNT(*) AS c FROM tok GROUP BY 1, 2),
uni AS (
  SELECT doc_id, MAX(c) * 1.0 / SUM(c) AS top_unigram_frac,
         COUNT(*) * 1.0 / SUM(c) AS distinct_ratio
  FROM ucnt GROUP BY doc_id
),
bg AS (
  SELECT doc_id, unnest(list_transform(range(1, LEN(ts)), i -> ts[i] || ' ' || ts[i+1])) AS g FROM toks
),
bcnt AS (SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY 1, 2),
big AS (SELECT doc_id, MAX(c) * 1.0 / SUM(c) AS top_bigram_frac FROM bcnt GROUP BY doc_id)
SELECT uni.doc_id AS doc_id,
       ROUND(top_unigram_frac, 9) AS top_unigram_frac,
       ROUND(distinct_ratio, 9) AS distinct_ratio,
       ROUND(COALESCE(top_bigram_frac, 0.0), 9) AS top_bigram_frac
FROM uni LEFT JOIN big ON uni.doc_id = big.doc_id
"""


def pl_pii_redact(spark, sf_dir):
    """PII redaction (emails / IPv4 / phone numbers) as a shuffle-free
    regexp map.  Deterministic synthetic PII is appended per document in
    BOTH engines so the regexes are exercised on non-zero data; output
    compares match counts and the md5 of the redacted text."""
    from spatialdata_spark.pipeline.filters import pii_redact

    docs = _read(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com or 10.0."), (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 call +1-202-555-01"),
            F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
        ).alias("text"),
    )
    out = pii_redact(aug)
    return out.select(
        "doc_id", "n_emails", "n_ips", "n_phones",
        F.md5("redacted").alias("redacted_md5"),
    )


PL_PII_REDACT_SQL = r"""
WITH aug AS (
  SELECT doc_id,
         text || ' contact user' || doc_id || '@example.com or 10.0.' || (doc_id % 256)
              || '.7 call +1-202-555-01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') AS t
  FROM documents
)
SELECT doc_id,
  LEN(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
  LEN(regexp_extract_all(t, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS n_ips,
  LEN(regexp_extract_all(t, '\+[0-9][0-9-]{7,}[0-9]')) AS n_phones,
  md5(regexp_replace(regexp_replace(regexp_replace(t,
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
        '\+[0-9][0-9-]{7,}[0-9]', '<PHONE>', 'g')) AS redacted_md5
FROM aug
"""


def pl_decontaminate(spark, sf_dir):
    """Benchmark decontamination: corpus documents sharing a word
    3-gram with the 'src0' eval slice (broadcast gram-set semi-join —
    the GPT-3/PaLM 13-gram procedure shrunk to this corpus)."""
    from spatialdata_spark.pipeline.filters import decontaminate

    docs = _read(spark, sf_dir, "documents")
    out = decontaminate(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
        n=3,
    )
    return out.select(
        "doc_id", "n_shared", "n_grams",
        F.round("contaminated_frac", 9).alias("contaminated_frac"),
    )


PL_DECONTAMINATE_SQL = r"""
WITH toks AS (
  SELECT doc_id, source, string_split_regex(LOWER(TRIM(text)), '\s+') AS ts FROM documents
),
grams AS (
  SELECT doc_id, source,
         unnest(list_transform(range(1, LEN(ts) - 1), i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS g
  FROM toks
),
bgrams AS (SELECT DISTINCT g FROM grams WHERE source = 'src0'),
cgrams AS (SELECT DISTINCT doc_id, g FROM grams WHERE source <> 'src0'),
totals AS (SELECT doc_id, COUNT(*) AS n_grams FROM cgrams GROUP BY doc_id),
shared AS (SELECT c.doc_id, COUNT(*) AS n_shared FROM cgrams c JOIN bgrams b ON c.g = b.g GROUP BY c.doc_id)
SELECT s.doc_id AS doc_id, n_shared, n_grams,
       ROUND(n_shared * 1.0 / n_grams, 9) AS contaminated_frac
FROM shared s JOIN totals t ON s.doc_id = t.doc_id
"""


def pl_sq_int8(spark, sf_dir):
    """Scalar-quantized (int8, FAISS-SQ8-style) ANN: global per-dim
    min/max bounds -> integer codes -> exact-integer dot-product top-20
    against vec_id 0.  Codes and scores are integer-exact, so the SQL
    replay is bit-identical."""
    from spatialdata_spark.pipeline.similarity import sq_int8_topk

    return sq_int8_topk(_read(spark, sf_dir, "embeddings"), query_id=0, k=20)


PL_SQ_INT8_SQL = r"""
WITH d AS (
  SELECT generate_subscripts(embedding, 1) AS dim, unnest(CAST(embedding AS DOUBLE[])) AS val FROM embeddings
),
mm AS (SELECT dim, MIN(val) AS mn, MAX(val) AS mx FROM d GROUP BY dim),
b AS (SELECT list(mn ORDER BY dim) AS mns, list(mx ORDER BY dim) AS mxs FROM mm),
q AS (
  SELECT vec_id,
         list_transform(range(1, LEN(embedding) + 1),
           i -> CASE WHEN mxs[i] = mns[i] THEN 0
                ELSE CAST(FLOOR((CAST(embedding[i] AS DOUBLE) - mns[i]) / (mxs[i] - mns[i]) * 254) AS BIGINT) - 127 END
         ) AS code
  FROM embeddings, b
),
qq AS (SELECT code AS qcode FROM q WHERE vec_id = 0)
SELECT vec_id,
       CAST(list_sum(list_transform(range(1, LEN(code) + 1), i -> code[i] * qcode[i])) AS BIGINT) AS qscore
FROM q, qq WHERE vec_id <> 0
ORDER BY qscore DESC, vec_id LIMIT 20
"""


def pl_pq_adc(spark, sf_dir):
    """Product-quantization ANN with asymmetric-distance scoring over
    the int8 code space: codebook per subspace = sub-codes of rows
    1..16 (data-derived fixed quantizer, IVF-exemplar convention), so
    assignment and ADC are exact integer arithmetic replayed bit-for-bit
    by the SQL oracle."""
    from spatialdata_spark.pipeline.similarity import pq_adc_topk

    return pq_adc_topk(_read(spark, sf_dir, "embeddings"), query_id=0, k=20)


PL_PQ_ADC_SQL = r"""
WITH d AS (
  SELECT generate_subscripts(embedding, 1) AS dim, unnest(CAST(embedding AS DOUBLE[])) AS val FROM embeddings
),
mm AS (SELECT dim, MIN(val) AS mn, MAX(val) AS mx FROM d GROUP BY dim),
b AS (SELECT list(mn ORDER BY dim) AS mns, list(mx ORDER BY dim) AS mxs FROM mm),
q AS (
  SELECT vec_id,
         list_transform(range(1, LEN(embedding) + 1),
           i -> CASE WHEN mxs[i] = mns[i] THEN 0
                ELSE CAST(FLOOR((CAST(embedding[i] AS DOUBLE) - mns[i]) / (mxs[i] - mns[i]) * 254) AS BIGINT) - 127 END
         ) AS code
  FROM embeddings, b
),
js AS (SELECT unnest(range(0, 4)) AS j),
sub AS (SELECT vec_id, j, list_slice(code, j*16 + 1, j*16 + 16) AS sc FROM q, js),
cb AS (SELECT vec_id - 1 AS k, j, sc AS c FROM sub WHERE vec_id BETWEEN 1 AND 16),
enc AS (
  SELECT s.vec_id, s.j,
         MIN(CAST(list_sum(list_transform(range(1, 17), i -> (s.sc[i] - c.c[i]) * (s.sc[i] - c.c[i]))) AS BIGINT) * 32 + c.k) AS key
  FROM sub s JOIN cb c ON s.j = c.j
  WHERE s.vec_id > 16
  GROUP BY s.vec_id, s.j
),
qd AS (
  SELECT c.j, c.k,
         CAST(list_sum(list_transform(range(1, 17), i -> (qs.sc[i] - c.c[i]) * (qs.sc[i] - c.c[i]))) AS BIGINT) AS qd2
  FROM cb c JOIN (SELECT j, sc FROM sub WHERE vec_id = 0) qs ON c.j = qs.j
)
SELECT e.vec_id, CAST(SUM(qd.qd2) AS BIGINT) AS adc
FROM enc e JOIN qd ON qd.j = e.j AND qd.k = e.key % 32
GROUP BY e.vec_id
ORDER BY adc ASC, vec_id LIMIT 20
"""


def pl_dedup_cross(spark, sf_dir):
    """Cross-corpus exact dedup (train/test leakage removal): drop
    corpus docs whose normalized text also appears in the 'src0'
    reference slice — broadcast digest anti-join, corpus text never
    shuffles."""
    from spatialdata_spark.pipeline.dedup import exact_dedup_cross

    docs = _read(spark, sf_dir, "documents")
    out = exact_dedup_cross(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
    )
    return out.select("doc_id", "n_chars")


PL_DEDUP_CROSS_SQL = r"""
SELECT doc_id, n_chars
FROM documents
WHERE source <> 'src0'
  AND md5(LOWER(regexp_replace(text, '\s+', ' ', 'g'))) NOT IN (
    SELECT md5(LOWER(regexp_replace(text, '\s+', ' ', 'g')))
    FROM documents WHERE source = 'src0'
  )
"""


def pl_vocab_topk(spark, sf_dir):
    """Corpus vocabulary: top-100 tokens by total frequency with
    document frequency — token-keyed aggregate with map-side combine,
    TakeOrdered top-k, lexicographic tie-break."""
    from spatialdata_spark.pipeline.textstats import vocab_topk

    return vocab_topk(_read(spark, sf_dir, "documents"), k=100)


PL_VOCAB_TOPK_SQL = r"""
SELECT token, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
FROM (
  SELECT doc_id, unnest(string_split_regex(LOWER(TRIM(text)), '\s+')) AS token
  FROM documents
)
GROUP BY token
ORDER BY tf DESC, token ASC
LIMIT 100
"""


def pl_ann_recall(spark, sf_dir):
    """ANN quality evaluation: recall@20 of the int8
    scalar-quantized top-k against the exact float cosine top-k for
    the same query — the standard index-quality metric as a broadcast
    semi-join of two top-k sets."""
    from spatialdata_spark.pipeline.similarity import (
        ann_recall,
        cosine_topk_query,
        sq_int8_topk,
    )

    emb = _read(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").first()
    exact = cosine_topk_query(emb.filter(F.col("vec_id") != 0), qrow["embedding"], k=20)
    approx = sq_int8_topk(emb, query_id=0, k=20)
    return ann_recall(approx, exact)


PL_ANN_RECALL_SQL = r"""
WITH d AS (
  SELECT generate_subscripts(embedding, 1) AS dim, unnest(CAST(embedding AS DOUBLE[])) AS val FROM embeddings
),
mm AS (SELECT dim, MIN(val) AS mn, MAX(val) AS mx FROM d GROUP BY dim),
b AS (SELECT list(mn ORDER BY dim) AS mns, list(mx ORDER BY dim) AS mxs FROM mm),
codes AS (
  SELECT vec_id,
         list_transform(range(1, LEN(embedding) + 1),
           i -> CASE WHEN mxs[i] = mns[i] THEN 0
                ELSE CAST(FLOOR((CAST(embedding[i] AS DOUBLE) - mns[i]) / (mxs[i] - mns[i]) * 254) AS BIGINT) - 127 END
         ) AS code
  FROM embeddings, b
),
qq AS (SELECT code AS qcode FROM codes WHERE vec_id = 0),
approx AS (
  SELECT vec_id
  FROM codes, qq WHERE vec_id <> 0
  ORDER BY CAST(list_sum(list_transform(range(1, LEN(code) + 1), i -> code[i] * qcode[i])) AS BIGINT) DESC, vec_id
  LIMIT 20
),
qv AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 0),
exact AS (
  SELECT vec_id FROM embeddings, qv WHERE vec_id <> 0
  ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]), CAST(v AS DOUBLE[])) DESC, vec_id
  LIMIT 20
)
SELECT
  (SELECT COUNT(*) FROM approx WHERE vec_id IN (SELECT vec_id FROM exact)) AS n_hit,
  (SELECT COUNT(*) FROM exact) AS n_exact,
  (SELECT COUNT(*) FROM approx WHERE vec_id IN (SELECT vec_id FROM exact)) * 1.0
    / (SELECT COUNT(*) FROM exact) AS recall
"""


def pl_ndcg(spark, sf_dir):
    """nDCG@20 of the int8-SQ ANN ranking against graded ground truth —
    the ORDER-aware companion of pl_ann_recall.  Grades come from the
    exact int64 squared-distance ranking on the shared quantization
    grid (ranks 1-5 -> rel 3, 6-10 -> 2, 11-20 -> 1): both rankings
    are integer-deterministic with id tie-breaks, so ranks and grades
    replay bit-exactly; only the fixed-arity LN terms are float (the
    log base cancels in the DCG/IDCG ratio — ln on both engines,
    never libm log2)."""
    from pyspark.sql.window import Window

    from spatialdata_spark.pipeline.search import ndcg_at_k
    from spatialdata_spark.pipeline.similarity import sq_int8_topk

    emb = _read(spark, sf_dir, "embeddings")
    approx = sq_int8_topk(emb, query_id=0, k=20).withColumn(
        "rank", F.row_number().over(Window.orderBy(F.desc("qscore"), F.col("vec_id")))
    )
    grid = emb.select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.floor(x * 100 + F.lit(0.5)).cast("long"),
        ).alias("qv"),
    )
    qvec = grid.filter(F.col("vec_id") == 0).select(F.col("qv").alias("query_v"))
    d2 = (
        grid.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qvec))
        .select(
            "vec_id",
            F.aggregate(
                F.zip_with(F.col("qv"), F.col("query_v"), lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("d2"),
        )
    )
    truth = (
        d2.withColumn(
            "erank", F.row_number().over(Window.orderBy(F.asc("d2"), F.col("vec_id")))
        )
        .filter(F.col("erank") <= 20)
        .select(
            "vec_id",
            F.when(F.col("erank") <= 5, 3)
            .when(F.col("erank") <= 10, 2)
            .otherwise(1)
            .alias("rel"),
        )
    )
    return ndcg_at_k(approx, truth, k=20, id_col="vec_id")


PL_NDCG_SQL = r"""
WITH d AS (
  SELECT generate_subscripts(embedding, 1) AS dim, unnest(CAST(embedding AS DOUBLE[])) AS val FROM embeddings
),
mm AS (SELECT dim, MIN(val) AS mn, MAX(val) AS mx FROM d GROUP BY dim),
b AS (SELECT list(mn ORDER BY dim) AS mns, list(mx ORDER BY dim) AS mxs FROM mm),
codes AS (
  SELECT vec_id,
         list_transform(range(1, LEN(embedding) + 1),
           i -> CASE WHEN mxs[i] = mns[i] THEN 0
                ELSE CAST(FLOOR((CAST(embedding[i] AS DOUBLE) - mns[i]) / (mxs[i] - mns[i]) * 254) AS BIGINT) - 127 END
         ) AS code
  FROM embeddings, b
),
qq AS (SELECT code AS qcode FROM codes WHERE vec_id = 0),
approx AS (
  SELECT vec_id,
         ROW_NUMBER() OVER (
           ORDER BY CAST(list_sum(list_transform(range(1, LEN(code) + 1), i -> code[i] * qcode[i])) AS BIGINT) DESC,
                    vec_id
         ) AS rank
  FROM codes, qq WHERE vec_id <> 0
  QUALIFY rank <= 20
),
g AS (
  SELECT vec_id AS id, i AS pos,
         CAST(FLOOR(embedding[i + 1] * 100.0 + 0.5) AS BIGINT) AS val
  FROM embeddings, UNNEST(range(LEN(embedding))) AS t(i)
),
gq AS (SELECT pos, val FROM g WHERE id = 0),
d2 AS (
  SELECT g.id AS vec_id, SUM((g.val - gq.val) * (g.val - gq.val)) AS d2
  FROM g JOIN gq USING (pos) WHERE g.id <> 0 GROUP BY 1
),
truth AS (
  SELECT vec_id,
         CASE WHEN erank <= 5 THEN 3 WHEN erank <= 10 THEN 2 ELSE 1 END AS rel
  FROM (
    SELECT vec_id, ROW_NUMBER() OVER (ORDER BY d2 ASC, vec_id) AS erank
    FROM d2
  )
  WHERE erank <= 20
),
dcg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_ranked,
         SUM(COALESCE(truth.rel, 0) / LN(approx.rank + 1)) AS dv
  FROM approx LEFT JOIN truth USING (vec_id)
),
idcg AS (
  SELECT SUM(rel / LN(irank + 1)) AS iv
  FROM (
    SELECT rel, ROW_NUMBER() OVER (ORDER BY rel DESC, vec_id) AS irank
    FROM truth
  )
  WHERE irank <= 20
)
SELECT CAST(20 AS INTEGER) AS k, n_ranked,
       ROUND(dv, 6) AS dcg_ln, ROUND(iv, 6) AS idcg_ln,
       CASE WHEN iv > 0 THEN ROUND(dv / iv, 6) END AS ndcg
FROM dcg, idcg
"""


def pl_pack_blocks(spark, sf_dir):
    """GPT-style concat-then-chunk sequence packing: per-lang stream
    cumsum of token counts -> fixed 2048-token block ids + boundary
    flags."""
    from spatialdata_spark.pipeline.filters import pack_blocks

    return pack_blocks(_read(spark, sf_dir, "documents"), block_tokens=2048)


PL_PACK_BLOCKS_SQL = r"""
WITH t AS (
  SELECT doc_id, lang,
         CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
              ELSE LEN(string_split_regex(LOWER(TRIM(text)), '\s+')) END AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, lang, n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT) AS token_start
  FROM t
)
SELECT doc_id, lang, n_tokens, token_start,
       CAST(FLOOR(token_start / 2048.0) AS BIGINT) AS block_id,
       FLOOR((token_start + GREATEST(n_tokens - 1, 0)) / 2048.0) <> FLOOR(token_start / 2048.0) AS spans_boundary
FROM c
"""


def pl_corpus_stats(spark, sf_dir):
    """Per-(source, lang) corpus report card: doc counts, distinct-text
    counts, mean chars/tokens — one grouped aggregate."""
    from spatialdata_spark.pipeline.filters import corpus_stats

    out = corpus_stats(_read(spark, sf_dir, "documents"))
    return out.select(
        "source", "lang", "n_docs", "n_distinct",
        F.round("mean_chars", 6).alias("mean_chars"),
        F.round("mean_tokens", 6).alias("mean_tokens"),
    )


def pl_stratified_sample(spark, sf_dir):
    """Deterministic per-language downsampling (the corpus-mixing
    primitive): keep iff lehmer(doc_id) % 1000 < rate(lang).  The
    Park-Miller step keeps products under 2^47 so the arithmetic is
    exact int64 at any id scale; expression-only, the filter pushes
    into the scan."""
    from spatialdata_spark.pipeline.filters import stratified_sample

    out = stratified_sample(
        _read(spark, sf_dir, "documents"),
        rates_permille={"en": 250, "de": 500},
        default_permille=750,
    )
    return out.select("doc_id", "lang")


PL_STRATIFIED_SAMPLE_SQL = """
SELECT doc_id, lang FROM documents
WHERE ((doc_id % 2147483647) * 48271) % 2147483647 % 1000 <
  CASE WHEN lang = 'en' THEN 250 WHEN lang = 'de' THEN 500 ELSE 750 END
"""


def pl_quota_cap(spark, sf_dir):
    """Per-(source, lang) quota capping — keep the best N docs of each
    cell ranked by length with doc_id tiebreak (stops one crawl dump
    from swamping a training mix).  Two stages: a shuffle-free Arrow
    per-batch top-quota pre-truncation (lossless by pigeonhole), then
    the exact cell window over the <= quota x batches survivors — no
    single-reducer cell sort at crawl-dump scale."""
    from spatialdata_spark.pipeline.filters import quota_cap

    out = quota_cap(
        _read(spark, sf_dir, "documents"),
        quotas={"en": 5, "fr": 2},
        default_quota=3,
    )
    return out.select("doc_id", "source", "lang")


PL_QUOTA_CAP_SQL = """
WITH r AS (
  SELECT doc_id, source, lang,
         ROW_NUMBER() OVER (PARTITION BY source, lang
                            ORDER BY LENGTH(text) DESC, doc_id ASC) AS rk
  FROM documents
)
SELECT doc_id, source, lang FROM r
WHERE rk <= CASE WHEN lang = 'en' THEN 5 WHEN lang = 'fr' THEN 2 ELSE 3 END
"""


def pl_mix_epochs(spark, sf_dir):
    """Epoch-weighted corpus mixing (the >1x half of data mixing):
    each doc repeats epochs(lang) times with an epoch index — one
    sequence explode, zero shuffles."""
    from spatialdata_spark.pipeline.filters import mix_epochs

    out = mix_epochs(
        _read(spark, sf_dir, "documents"), epochs={"en": 3, "de": 2}, default_epochs=1
    )
    return out.select("doc_id", "lang", "epoch")


PL_MIX_EPOCHS_SQL = """
SELECT doc_id, lang,
       UNNEST(generate_series(1, CAST(CASE WHEN lang = 'en' THEN 3
                                           WHEN lang = 'de' THEN 2
                                           ELSE 1 END AS BIGINT))) AS epoch
FROM documents
"""


def pl_dup_spans(spark, sf_dir):
    """Duplicated-substring spans (the exact-substring-dedup cut list):
    every char position emits a 62-bit two-channel rolling gram hash;
    hashes occurring >1 time corpus-wide survive a semi-join;
    a per-document window merges overlapping gram intervals
    into maximal spans.  The oracle replays the identical integer hash
    arithmetic, so parity is value-exact including any (~2^-62) hash
    collisions."""
    from spatialdata_spark.pipeline.dedup import duplicate_spans

    return duplicate_spans(_read(spark, sf_dir, "documents"), gram_chars=25)


def _dup_spans_sql(k: int = 25) -> str:
    from spatialdata_spark.pipeline.dedup import _H31

    p2 = _H31[1][1]
    return f"""
WITH tt AS (
  SELECT doc_id,
         CASE WHEN LENGTH(text) < {k} THEN rpad(text, {k}, ' ') ELSE text END AS t
  FROM documents
),
g AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         ({_shingle31_sql(k, 0)} * {p2} + {_shingle31_sql(k, 1)}) AS h
  FROM tt, UNNEST(range(1, LENGTH(t) - {k} + 2)) u(i)
),
dup AS (SELECT h FROM g GROUP BY h HAVING COUNT(*) > 1),
m AS (SELECT doc_id, pos FROM g JOIN dup USING (h)),
s AS (
  SELECT doc_id, pos,
         CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                   <= {k} THEN 0 ELSE 1 END AS is_new
  FROM m
),
sp AS (
  SELECT doc_id, pos,
         CAST(SUM(is_new) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS span
  FROM s
)
SELECT doc_id, MIN(pos) AS span_start,
       CAST(MAX(pos) + {k} - MIN(pos) AS BIGINT) AS span_len,
       COUNT(*) AS n_grams
FROM sp GROUP BY doc_id, span
"""


def pl_span_cut(spark, sf_dir):
    """The CUT pass of exact substring dedup: every non-canonical
    duplicated region removed, corpus-wide first occurrence kept
    (per-gram argmin over (doc_id, pos)); kept text reassembled with an
    order-preserving sorted array join.  Every stage keyed by hash or
    by document.  The oracle replays identical hashing and rebuilds
    with STRING_AGG ORDER BY."""
    from spatialdata_spark.pipeline.dedup import remove_duplicate_spans

    return remove_duplicate_spans(_read(spark, sf_dir, "documents"), gram_chars=25)


def _span_cut_sql(k: int = 25) -> str:
    from spatialdata_spark.pipeline.dedup import _H31

    p2 = _H31[1][1]
    return f"""
WITH tt AS (
  SELECT doc_id,
         CASE WHEN LENGTH(text) < {k} THEN rpad(text, {k}, ' ') ELSE text END AS t
  FROM documents
),
g AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         ({_shingle31_sql(k, 0)} * {p2} + {_shingle31_sql(k, 1)}) AS h
  FROM tt, UNNEST(range(1, LENGTH(t) - {k} + 2)) u(i)
),
rk AS (
  SELECT doc_id, pos,
         ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rk
  FROM g
),
cuts AS (SELECT doc_id, pos FROM rk WHERE rk > 1),
s AS (
  SELECT doc_id, pos,
         CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                   <= {k} THEN 0 ELSE 1 END AS is_new
  FROM cuts
),
sp AS (
  SELECT doc_id, pos,
         CAST(SUM(is_new) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS span
  FROM s
),
iv AS (
  SELECT doc_id, MIN(pos) AS st, MAX(pos) + {k} AS en
  FROM sp GROUP BY doc_id, span
),
segs AS (
  SELECT doc_id,
         COALESCE(LAG(en) OVER (PARTITION BY doc_id ORDER BY st), 1) AS ks,
         st AS ke, en AS tail_from,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY st DESC) AS rlast
  FROM iv
),
pieces AS (
  SELECT s2.doc_id, s2.ks,
         SUBSTRING(d.text, CAST(s2.ks AS INT),
                   GREATEST(CAST(s2.ke - s2.ks AS INT), 0)) AS piece
  FROM segs s2 JOIN documents d USING (doc_id)
  UNION ALL
  SELECT s2.doc_id, s2.tail_from AS ks,
         CASE WHEN s2.tail_from > LENGTH(d.text) THEN ''
              ELSE SUBSTRING(d.text, CAST(s2.tail_from AS INT)) END AS piece
  FROM segs s2 JOIN documents d USING (doc_id)
  WHERE s2.rlast = 1
),
rebuilt AS (
  SELECT doc_id, STRING_AGG(piece, '' ORDER BY ks) AS clean_text
  FROM pieces GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(r.clean_text, d.text) AS clean_text,
       CAST(LENGTH(d.text) - LENGTH(COALESCE(r.clean_text, d.text)) AS BIGINT)
         AS n_cut_chars
FROM documents d LEFT JOIN rebuilt r USING (doc_id)
"""


def pl_unigram_lm(spark, sf_dir):
    """Mean negative log-likelihood per doc under the corpus's own
    add-one-smoothed unigram LM (the CCNet-style cheap quality filter).
    Token counts aggregate map-side to a vocabulary-sized table that
    joins back; corpus constants are a 1-row cross
    join.  ROUND(6) absorbs ln() last-ulp and mean-order differences."""
    from spatialdata_spark.pipeline.textstats import unigram_lm_score

    return unigram_lm_score(_read(spark, sf_dir, "documents"))


PL_UNIGRAM_LM_SQL = r"""
WITH base AS (
  SELECT doc_id, string_split_regex(LOWER(TRIM(text)), '\s+') AS toks
  FROM documents WHERE LENGTH(TRIM(text)) > 0
),
tok AS (SELECT doc_id, UNNEST(toks) AS t FROM base),
c AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY 1),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tokens, COUNT(*) AS n_vocab FROM c)
SELECT doc_id, ROUND(AVG(-LN((c + 1.0) / (n_tokens + n_vocab))), 6) AS nll
FROM tok JOIN c USING (t), tot
GROUP BY 1
"""


def pl_idf_keywords(spark, sf_dir):
    """Top-3 TF-IDF keywords per document (tf * ln(N/df), token-asc
    tiebreak) — per-doc keyword extraction, the complement of BM25's
    fixed seed terms.  Document frequencies join back; the
    top-k window partitions by DOCUMENT (maximally fine-grained, no
    reducer hotspot at any corpus size)."""
    from spatialdata_spark.pipeline.textstats import idf_keywords

    return idf_keywords(_read(spark, sf_dir, "documents"), top_k=3)


PL_IDF_KEYWORDS_SQL = r"""
WITH base AS (
  SELECT doc_id, string_split_regex(LOWER(TRIM(text)), '\s+') AS toks
  FROM documents WHERE LENGTH(TRIM(text)) > 0
),
tok AS (SELECT doc_id, UNNEST(toks) AS t FROM base),
tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
df AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY 1),
-- N = DISTINCT non-blank documents (the library contract since the
-- r13 one-scan fix: duplicate doc_id rows already collapse in tf, so
-- counting rows would be inconsistent with the tf/df they feed)
n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM base)
SELECT doc_id, t AS keyword,
       ROUND(tf * LN(CAST(n AS DOUBLE) / df), 6) AS score, rank
FROM (
  SELECT doc_id, t, tf, df, n,
         ROW_NUMBER() OVER (
           PARTITION BY doc_id
           ORDER BY tf * LN(CAST(n AS DOUBLE) / df) DESC, t ASC
         ) AS rank
  FROM tf JOIN df USING (t), n
) WHERE rank <= 3
"""


def pl_tfidf_pairs(spark, sf_dir):
    """Sparse TF-IDF document-pair cosine (df-capped vocabulary, the
    standard stopword/skew cap stated as part of the contract) — the
    token-space complement of the dense embedding near-dup family.
    Pair generation is an equi-join ON THE TOKEN with df <= max_df, so
    blocks are bounded; ROUND(6) on the output absorbs the engines'
    sum-order last-ulp differences."""
    from spatialdata_spark.pipeline.textstats import tfidf_cosine_pairs

    return tfidf_cosine_pairs(
        _read(spark, sf_dir, "documents"), threshold=0.2, max_df=100
    )


PL_TFIDF_PAIRS_SQL = r"""
WITH base AS (
  SELECT doc_id, string_split_regex(LOWER(TRIM(text)), '\s+') AS toks
  FROM documents WHERE LENGTH(TRIM(text)) > 0
),
n AS (SELECT COUNT(*) AS n FROM base),
tok AS (SELECT doc_id, UNNEST(toks) AS t FROM base),
tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
df AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY 1 HAVING COUNT(*) <= 100),
w AS (
  SELECT tf.doc_id, tf.t, tf.tf * LN(CAST(n.n AS DOUBLE) / df.df) AS w
  FROM tf JOIN df USING (t), n
),
norms AS (SELECT doc_id, SQRT(SUM(w * w)) AS nrm FROM w GROUP BY 1),
dots AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, SUM(a.w * b.w) AS dot
  FROM w a JOIN w b ON a.t = b.t AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, ROUND(dot / (na.nrm * nb.nrm), 6) AS cosine
FROM dots
JOIN norms na ON na.doc_id = id_a
JOIN norms nb ON nb.doc_id = id_b
WHERE ROUND(dot / (na.nrm * nb.nrm), 6) >= 0.2
"""


_KMEANS_CTE = r"""
WITH q AS (
  SELECT vec_id AS id, i AS pos,
         CAST(FLOOR(embedding[i + 1] * 100.0 + 0.5) AS BIGINT) AS val
  FROM embeddings, UNNEST(range(LEN(embedding))) AS t(i)
),
seeds AS (
  SELECT id, CAST(ROW_NUMBER() OVER (ORDER BY id) - 1 AS INT) AS j
  FROM (SELECT DISTINCT id FROM q) ORDER BY id LIMIT 8
),
c0 AS (
  SELECT s.j, q.pos, q.val * 1024 AS cval
  FROM q JOIN seeds s USING (id)
),
d1 AS (
  SELECT q.id, c.j,
         SUM((q.val * 1024 - c.cval) * (q.val * 1024 - c.cval)) AS dist
  FROM q JOIN c0 c ON q.pos = c.pos GROUP BY 1, 2
),
a1 AS (
  SELECT id, MIN(j) AS cluster
  FROM d1 JOIN (SELECT id, MIN(dist) AS md FROM d1 GROUP BY 1) m USING (id)
  WHERE dist = md GROUP BY 1
),
u1 AS (
  SELECT a1.cluster AS j, q.pos,
         CAST(FLOOR(1024.0 * SUM(q.val) / COUNT(*) + 0.5) AS BIGINT) AS cval_new
  FROM q JOIN a1 USING (id) GROUP BY 1, 2
),
c1 AS (
  SELECT c0.j, c0.pos, COALESCE(u1.cval_new, c0.cval) AS cval
  FROM c0 LEFT JOIN u1 ON u1.j = c0.j AND u1.pos = c0.pos
),
d2 AS (
  SELECT q.id, c.j,
         SUM((q.val * 1024 - c.cval) * (q.val * 1024 - c.cval)) AS dist
  FROM q JOIN c1 c ON q.pos = c.pos GROUP BY 1, 2
),
a2 AS (
  SELECT id, MIN(j) AS cluster
  FROM d2 JOIN (SELECT id, MIN(dist) AS md FROM d2 GROUP BY 1) m USING (id)
  WHERE dist = md GROUP BY 1
),
u2 AS (
  SELECT a2.cluster AS j, q.pos,
         CAST(FLOOR(1024.0 * SUM(q.val) / COUNT(*) + 0.5) AS BIGINT) AS cval_new
  FROM q JOIN a2 USING (id) GROUP BY 1, 2
),
c2 AS (
  SELECT c1.j, c1.pos, COALESCE(u2.cval_new, c1.cval) AS cval
  FROM c1 LEFT JOIN u2 ON u2.j = c1.j AND u2.pos = c1.pos
),
df_ AS (
  SELECT q.id, c.j,
         SUM((q.val * 1024 - c.cval) * (q.val * 1024 - c.cval)) AS dist
  FROM q JOIN c2 c ON q.pos = c.pos GROUP BY 1, 2
),
af AS (
  SELECT d.id, MIN(d.j) AS cluster, MIN(d.dist) AS dist
  FROM df_ d JOIN (SELECT id, MIN(dist) AS md FROM df_ GROUP BY 1) m USING (id)
  WHERE d.dist = m.md GROUP BY 1
)
"""


def pl_kmeans(spark, sf_dir):
    """Fixed-point Lloyd's k-means (k=8, 2 iterations + final assign)
    over the embeddings table, reported as per-cluster size + exact
    BIGINT inertia.  Integer arithmetic end-to-end (components
    quantized x100, centroids carry x1024 sub-integer resolution), so
    assignments and inertia replay bit-exactly in SQL — no float
    sum-order hazard.  Each iteration is one broadcast of the k*dim
    MODEL (never data-sized) + a map-side-combining aggregation keyed
    on k*dim; the collect between iterations is model-state-sized, the
    same contract as the IVF sampler.  See
    pipeline/clustering.py; reference has no clustering surface (its
    scope ends at spatial aggregation) — this is the training-data-
    pipeline extension."""
    from spatialdata_spark.pipeline.clustering import kmeans_lloyd

    assign, _ = kmeans_lloyd(
        _read(spark, sf_dir, "embeddings"), k=8, n_iter=2
    )
    return assign.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dist").alias("inertia"),
        F.min("id").alias("min_id"),
    )


PL_KMEANS_SQL = (
    _KMEANS_CTE
    + r"""
SELECT cluster, COUNT(*) AS n,
       CAST(SUM(dist) AS BIGINT) AS inertia,
       MIN(id) AS min_id
FROM af GROUP BY 1
"""
)


def pl_semantic_dedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023) on the k-means partition: compare
    pairs only WITHIN a cluster (the equi-join on cluster id bounds
    candidate blocks at n/k — the whole point of clustering first),
    drop every vector with a lower-id cluster-mate at quantized cosine
    >= 0.35.  The threshold test is pure BIGINT
    (scale*dot^2 >= round(t^2*scale)*|a|^2*|b|^2, dot>0), so the
    survivor set is SQL-exact."""
    from spatialdata_spark.pipeline.clustering import semantic_dedup_kmeans

    out = semantic_dedup_kmeans(
        _read(spark, sf_dir, "embeddings"), k=8, n_iter=2, threshold=0.35
    )
    return out.select("vec_id", "label", "cluster")


PL_SEMANTIC_DEDUP_SQL = (
    _KMEANS_CTE
    + r""",
wc AS (
  SELECT q.id, q.pos, q.val, af.cluster
  FROM q JOIN af USING (id)
),
dots AS (
  SELECT a.cluster, a.id AS ia, b.id AS ib, SUM(a.val * b.val) AS dot
  FROM wc a JOIN wc b
    ON a.cluster = b.cluster AND a.pos = b.pos AND a.id < b.id
  GROUP BY 1, 2, 3
),
nn2 AS (SELECT id, SUM(val * val) AS n2 FROM q GROUP BY 1),
dup AS (
  SELECT DISTINCT ib AS id
  FROM dots
  JOIN nn2 na ON na.id = ia
  JOIN nn2 nb ON nb.id = ib
  WHERE dot > 0 AND 10000 * dot * dot >= 1225 * na.n2 * nb.n2
)
SELECT e.vec_id, e.label, af.cluster
FROM embeddings e JOIN af ON af.id = e.vec_id
WHERE e.vec_id NOT IN (SELECT id FROM dup)
"""
)


def pl_knn_classify(spark, sf_dir):
    """Exact brute-force k-NN majority-vote classification (k=5) on
    the quantized grid: ids divisible by 5 are the test split, the
    rest train.  Distances are exact BIGINT; the neighbor boundary is
    totally ordered by (dist, train_id) and the vote by
    (-count, label) — no ties, no floats.  The top-k window partitions
    by TEST VECTOR (maximally fine-grained, no reducer hotspot at any
    corpus size); brute-force O(n_test*n_train) by stated contract —
    this is the parity baseline the ANN family (pl_ann_recall)
    measures against."""
    from spatialdata_spark.pipeline.clustering import knn_classify

    return knn_classify(
        _read(spark, sf_dir, "embeddings"), k_neighbors=5, test_mod=5
    )


PL_KNN_CLASSIFY_SQL = r"""
WITH q AS (
  SELECT vec_id AS id, i AS pos,
         CAST(FLOOR(embedding[i + 1] * 100.0 + 0.5) AS BIGINT) AS val
  FROM embeddings, UNNEST(range(LEN(embedding))) AS t(i)
),
dist AS (
  SELECT a.id AS test_id, b.id AS train_id,
         SUM((a.val - b.val) * (a.val - b.val)) AS dist
  FROM q a JOIN q b ON a.pos = b.pos
  WHERE a.id % 5 = 0 AND b.id % 5 <> 0
  GROUP BY 1, 2
),
topk AS (
  SELECT test_id, train_id,
         ROW_NUMBER() OVER (PARTITION BY test_id ORDER BY dist, train_id) AS rn
  FROM dist
),
votes AS (
  SELECT t.test_id, e.label AS train_label, COUNT(*) AS c
  FROM topk t JOIN embeddings e ON e.vec_id = t.train_id
  WHERE t.rn <= 5 GROUP BY 1, 2
),
best AS (
  SELECT v.test_id, MIN(v.train_label) AS pred_label
  FROM votes v
  JOIN (SELECT test_id, MAX(c) AS mc FROM votes GROUP BY 1) m
    ON m.test_id = v.test_id
  WHERE v.c = m.mc GROUP BY 1
)
SELECT b.test_id, e.label AS true_label, b.pred_label,
       CAST(b.pred_label = e.label AS INT) AS correct
FROM best b JOIN embeddings e ON e.vec_id = b.test_id
"""


def pl_bpe_train(spark, sf_dir):
    """Distributed BPE tokenizer training (4 merges) over the corpus —
    the Sennrich/Gage loop in its 100 TB shape: pair statistics on the
    DISTINCT-WORD frequency table (vocabulary-sized by Zipf, not
    corpus-sized), one collected argmax row per round (model state),
    merge application as a broadcast map-side string replace.  The
    double-space symbol encoding makes SQL replace() exactly the
    HF-trainer left-to-right non-overlapping merge scan, so the whole
    loop replays in ANSI SQL (see pipeline/bpe.py)."""
    from spatialdata_spark.pipeline.bpe import bpe_train

    merges, _ = bpe_train(_read(spark, sf_dir, "documents"), n_merges=4)
    return merges


def pl_bpe_encode(spark, sf_dir):
    """Encode-time BPE token counting under the merges learned by
    pl_bpe_train: per-doc word multiset joins the merged word table
    (vocabulary-sized); tokens per word = symbol count
    of the merged sequence."""
    from spatialdata_spark.pipeline.bpe import bpe_token_counts, bpe_train

    docs = _read(spark, sf_dir, "documents")
    _, wf = bpe_train(docs, n_merges=4)
    return bpe_token_counts(docs, wf)


def _bpe_cte(n_merges: int = 4) -> str:
    """Unrolled BPE-training CTE chain: s0 .. s{n}, t1 .. t{n}."""
    parts = [
        r"""WITH w0 AS (
  SELECT w, COUNT(*) AS freq FROM (
    SELECT UNNEST(string_split_regex(LOWER(TRIM(text)), '\s+')) AS w
    FROM documents WHERE LENGTH(TRIM(text)) > 0
  ) WHERE LENGTH(w) > 0 GROUP BY 1
),
s0 AS (
  SELECT w, freq,
         ' ' || RTRIM(regexp_replace(w, '(.)', '\1  ', 'g')) || ' ' AS seq
  FROM w0
)"""
    ]
    for i in range(1, n_merges + 1):
        parts.append(
            f""",
p{i} AS (
  SELECT syms[i] AS l, syms[i + 1] AS r, SUM(freq) AS cnt
  FROM (SELECT freq, string_split(TRIM(seq), '  ') AS syms FROM s{i - 1}),
       UNNEST(range(1, LEN(syms))) AS t(i)
  GROUP BY 1, 2
),
t{i} AS (SELECT l, r, cnt FROM p{i} ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
s{i} AS (
  SELECT s.w, s.freq,
         REPLACE(s.seq, ' ' || t.l || '  ' || t.r || ' ',
                 ' ' || t.l || t.r || ' ') AS seq
  FROM s{i - 1} s, t{i} t
)"""
        )
    return "".join(parts)


PL_BPE_TRAIN_SQL = (
    _bpe_cte(4)
    + "\n"
    + "\nUNION ALL\n".join(
        f"SELECT {i} AS rank, l AS left, r AS right, l || r AS merged, "
        f"CAST(cnt AS BIGINT) AS cnt FROM t{i}"
        for i in range(1, 5)
    )
)


PL_BPE_ENCODE_SQL = (
    _bpe_cte(4)
    + r""",
doc_words AS (
  SELECT doc_id, w, COUNT(*) AS n FROM (
    SELECT doc_id, UNNEST(string_split_regex(LOWER(TRIM(text)), '\s+')) AS w
    FROM documents WHERE LENGTH(TRIM(text)) > 0
  ) WHERE LENGTH(w) > 0 GROUP BY 1, 2
)
SELECT d.doc_id,
       CAST(SUM(d.n * LEN(string_split(TRIM(s.seq), '  '))) AS BIGINT)
         AS n_bpe_tokens
FROM doc_words d JOIN s4 s ON s.w = d.w
GROUP BY 1
"""
)


def pl_shard_shuffle(spark, sf_dir):
    """Deterministic global training shuffle: two chained Lehmer
    steps assign each doc a shard and a decorrelated within-shard
    position.  Expression + one window PARTITIONED BY SHARD (the
    parallelism knob — size n_shards so a shard is one output file;
    no global sort anywhere).  Exact int64 at any id scale."""
    from spatialdata_spark.pipeline.filters import shard_shuffle

    return shard_shuffle(_read(spark, sf_dir, "documents"), n_shards=32).select(
        "doc_id", "shard", "pos_in_shard"
    )


PL_SHARD_SHUFFLE_SQL = """
WITH h AS (
  SELECT doc_id,
         ((doc_id % 2147483647) * 48271 % 2147483647) AS s1
  FROM documents
),
h2 AS (
  SELECT doc_id, CAST(s1 % 32 AS INT) AS shard,
         (s1 * 48271) % 2147483647 AS s2
  FROM h
)
SELECT doc_id, shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY s2, doc_id) - 1
            AS BIGINT) AS pos_in_shard
FROM h2
"""


def pl_interleave(spark, sf_dir):
    """Weighted round-robin interleave (en:3, others:1 per round),
    computed per shard so every window partitions by (shard, stream)
    — the mixing-schedule primitive a training loader consumes, with
    parallelism ∝ n_shards and closed-form integer positions (no
    global sort).  First-exhausted rule per shard."""
    from spatialdata_spark.pipeline.filters import interleave_weighted

    out = interleave_weighted(
        _read(spark, sf_dir, "documents"),
        weights={"de": 1, "en": 3, "es": 1, "fr": 1, "zh": 1},
        n_shards=4,
    )
    return out.select("doc_id", "lang", "shard", "pos_in_shard")


PL_INTERLEAVE_SQL = """
WITH base AS (
  SELECT doc_id, lang,
         ((doc_id % 2147483647) * 48271 % 2147483647) AS s1
  FROM documents
  WHERE lang IN ('de', 'en', 'es', 'fr', 'zh')
),
sh AS (
  SELECT doc_id, lang,
         CAST(s1 % 4 AS INT) AS shard,
         (s1 * 48271) % 2147483647 AS s2,
         CASE lang WHEN 'en' THEN 3 ELSE 1 END AS w,
         CASE lang WHEN 'de' THEN 0 WHEN 'en' THEN 1 WHEN 'es' THEN 4
                   WHEN 'fr' THEN 5 ELSE 6 END AS off
  FROM base
),
ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY shard, lang ORDER BY s2, doc_id) - 1
           AS k
  FROM sh
),
rounds AS (
  SELECT shard, MIN(n // w) AS full_rounds FROM (
    SELECT shard, lang, COUNT(*) AS n, MIN(w) AS w
    FROM ranked GROUP BY 1, 2
  ) GROUP BY 1
)
SELECT rk.doc_id, rk.lang, rk.shard,
       CAST((rk.k // rk.w) * 7 + rk.off + (rk.k % rk.w) AS BIGINT)
         AS pos_in_shard
FROM ranked rk JOIN rounds USING (shard)
WHERE (rk.k // rk.w) < rounds.full_rounds
"""


def pl_ppl_buckets(spark, sf_dir):
    """CCNet head/middle/tail: tercile bucketing of per-doc
    unigram-LM nll.  Thresholds are a 1-row broadcast aggregate;
    Spark exact percentile == DuckDB quantile_cont on DOUBLE
    (bit-for-bit linear interpolation), so the boundaries replay
    exactly.  The documented 100 TB substitution is
    approx_percentile for the global terciles."""
    from spatialdata_spark.pipeline.textstats import perplexity_buckets

    return perplexity_buckets(_read(spark, sf_dir, "documents"))


PL_PPL_BUCKETS_SQL = r"""
WITH base AS (
  SELECT doc_id, string_split_regex(LOWER(TRIM(text)), '\s+') AS toks
  FROM documents WHERE LENGTH(TRIM(text)) > 0
),
tok AS (SELECT doc_id, UNNEST(toks) AS t FROM base),
c AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY 1),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tokens, COUNT(*) AS n_vocab FROM c),
nll AS (
  SELECT doc_id, ROUND(AVG(-LN((c + 1.0) / (n_tokens + n_vocab))), 6) AS nll
  FROM tok JOIN c USING (t), tot
  GROUP BY 1
),
q AS (
  SELECT quantile_cont(nll, 1.0/3) AS t1, quantile_cont(nll, 2.0/3) AS t2
  FROM nll
)
SELECT doc_id, nll,
       CASE WHEN nll <= t1 THEN 'head'
            WHEN nll <= t2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM nll, q
"""


def q_cube_revenue(spark, sf_dir):
    """CUBE / grouping-sets coverage: revenue and line counts over all
    four (returnflag, linestatus) grouping combinations, subtotal rows
    labeled 'ALL' via the grouping flags.  DECIMAL(18,2) arithmetic
    (the established TPC-H exactness pattern); CUBE is a single
    pass — Spark expands grouping sets map-side, no extra shuffle per
    set."""
    li = _read(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast(DEC)
    disc = F.col("l_discount").cast(DEC)
    cubed = (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.sum(price * (F.lit(1).cast(DEC) - disc)).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
            F.grouping("l_returnflag").alias("g_rf"),
            F.grouping("l_linestatus").alias("g_ls"),
        )
    )
    return cubed.select(
        F.when(F.col("g_rf") == 1, F.lit("ALL")).otherwise(F.col("l_returnflag")).alias("returnflag"),
        F.when(F.col("g_ls") == 1, F.lit("ALL")).otherwise(F.col("l_linestatus")).alias("linestatus"),
        "revenue",
        "n_lines",
    )


Q_CUBE_REVENUE_SQL = f"""
SELECT
  CASE WHEN GROUPING(l_returnflag) = 1 THEN 'ALL' ELSE l_returnflag END
    AS returnflag,
  CASE WHEN GROUPING(l_linestatus) = 1 THEN 'ALL' ELSE l_linestatus END
    AS linestatus,
  CAST(SUM(CAST(l_extendedprice AS {DEC}) *
           (CAST(1 AS {DEC}) - CAST(l_discount AS {DEC}))) AS DOUBLE)
    AS revenue,
  COUNT(*) AS n_lines
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def st_rolling_window(spark, sf_dir):
    """RANGE-frame window coverage: per-user 1-hour rolling event
    count + value sum (event-time range frame, not row frame — peers
    at equal timestamps are included, exactly the SQL-standard RANGE
    semantics both engines implement).  Values quantized to integer
    cents so the sliding sum is exact in any accumulation order; the
    window partitions by USER (fine-grained at any corpus size)."""
    from pyspark.sql.window import Window

    ev = _read(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        "user_id",
        # ts is TIMESTAMP_NTZ; the session tz is pinned UTC, so the
        # cast is the identity instant and epoch_us(ts) matches
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-3_600_000_000, 0)
    )
    return base.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.sum("cents").over(w).alias("sum_cents_1h"),
    )


ST_ROLLING_WINDOW_SQL = """
SELECT event_id, user_id,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_1h,
       CAST(SUM(cents) OVER w AS BIGINT) AS sum_cents_1h
FROM (
  SELECT event_id, user_id, epoch_us(ts) AS us,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
)
WINDOW w AS (PARTITION BY user_id ORDER BY us
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
"""


def pl_boilerplate(spark, sf_dir):
    """CCNet-style cross-document boilerplate removal: 3-word segments
    occurring verbatim in >= 3 distinct documents are dropped and the
    survivors reassembled in order.  Distinct-doc counting is two
    map-side-combinable aggregations (never a window); only the
    flagged vocabulary joins back."""
    from spatialdata_spark.pipeline.filters import boilerplate_remove

    return boilerplate_remove(
        _read(spark, sf_dir, "documents"), seg_words=3, min_docs=3
    )


PL_BOILERPLATE_SQL = r"""
WITH words AS (
  SELECT doc_id, string_split_regex(LOWER(TRIM(text)), '\s+') AS ws
  FROM documents
),
segs AS (
  SELECT doc_id, i, array_to_string(ws[(i*3+1):(i*3+3)], ' ') AS seg
  FROM words,
       UNNEST(generate_series(0, CAST(CEIL(LEN(ws)/3.0) AS INT) - 1)) AS t(i)
),
boiler AS (
  SELECT seg FROM (
    SELECT seg, COUNT(DISTINCT doc_id) AS d FROM segs GROUP BY 1
  ) WHERE d >= 3
)
SELECT s.doc_id,
       COALESCE(STRING_AGG(s.seg, ' ' ORDER BY s.i)
                  FILTER (WHERE b.seg IS NULL), '') AS clean_text,
       CAST(COUNT(b.seg) AS BIGINT) AS n_removed
FROM segs s LEFT JOIN boiler b ON s.seg = b.seg
GROUP BY 1
"""


def pl_weighted_sample(spark, sf_dir):
    """Integer-exact weighted sampling without replacement (the A-ES
    analog): per source stratum keep the k=5 docs with the smallest
    min-of-w Lehmer draws (en weighs 4, fr 2, rest 1).  Two-stage
    selection (Arrow local top-k, then the exact window) — the
    quota_cap scale shape."""
    from spatialdata_spark.pipeline.filters import weighted_sample

    return weighted_sample(
        _read(spark, sf_dir, "documents"),
        weights={"en": 4, "fr": 2},
        k=5,
    ).select("doc_id", "source", "lang", "priority")


PL_WEIGHTED_SAMPLE_SQL = """
WITH p AS (
  SELECT doc_id, source, lang,
         CASE lang WHEN 'en' THEN 4 WHEN 'fr' THEN 2 ELSE 1 END AS w
  FROM documents
),
pri AS (
  SELECT doc_id, source, lang,
         list_min([ (doc_id*8 + j) % 2147483647 * 48271 % 2147483647
                    * 48271 % 2147483647
                    FOR j IN generate_series(0, w - 1) ]) AS priority
  FROM p
)
SELECT doc_id, source, lang, CAST(priority AS BIGINT) AS priority
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                               ORDER BY priority, doc_id) AS r
  FROM pri
) WHERE r <= 5
"""


def st_gap_fill(spark, sf_dir):
    """Hourly gap fill + forward fill per user: every hour between a
    user's first and last active hour gets a row (gap hours count 0),
    carrying the last observed reading (integer cents) forward.  The
    skeleton explodes from the AGGREGATED extent; skeleton and rollup
    meet by union + re-aggregation (no agg-agg equi-join); the fill
    is one span-sized window per user."""
    from spatialdata_spark.operators.temporal import gap_fill_hourly

    return gap_fill_hourly(_read(spark, sf_dir, "events"))


ST_GAP_FILL_SQL = """
WITH ev AS (
  SELECT user_id, date_trunc('hour', ts) AS hr,
         CAST(FLOOR(value*100 + 0.5) AS BIGINT) AS cents,
         ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
),
h AS (
  SELECT user_id, hr, COUNT(*) AS n,
         MAX(CASE WHEN rn = 1 THEN cents END) AS cents
  FROM ev GROUP BY 1, 2
),
ext AS (SELECT user_id, MIN(hr) AS lo, MAX(hr) AS hi FROM h GROUP BY 1),
skel AS (
  SELECT user_id, UNNEST(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr
  FROM ext
),
m AS (
  SELECT s.user_id, s.hr, COALESCE(h.n, 0) AS n_events, h.cents
  FROM skel s LEFT JOIN h USING (user_id, hr)
)
SELECT user_id, strftime(hr, '%Y-%m-%d %H:%M:%S') AS hour,
       CAST(n_events AS BIGINT) AS n_events,
       LAST_VALUE(cents IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY hr
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_cents
FROM m
"""


def st_cum_dau(spark, sf_dir):
    """Cumulative distinct users per event type WITHOUT a sliding
    distinct: the first-touch aggregation (min day per (type, user),
    map-side combinable), then new-user counts per (type, day) and a
    running sum per type.  The only window is over the
    (type × calendar)-level frame — metadata, not data — which is the
    100 TB-correct shape for "users to date" (a naive per-day
    COUNT(DISTINCT) over a growing prefix is quadratic in corpus
    size)."""
    from pyspark.sql.window import Window

    ev = _read(spark, sf_dir, "events")
    first = ev.groupBy("event_type", "user_id").agg(
        F.min(F.to_date("ts")).alias("day")
    )
    per_day = first.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return per_day.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("new_users").cast("long").alias("new_users"),
        F.sum("new_users").over(w).cast("long").alias("cum_users"),
    )


ST_CUM_DAU_SQL = """
WITH f AS (
  SELECT event_type, user_id, MIN(CAST(ts AS DATE)) AS day
  FROM events GROUP BY 1, 2
),
d AS (SELECT event_type, day, COUNT(*) AS new_users FROM f GROUP BY 1, 2)
SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
       CAST(new_users AS BIGINT) AS new_users,
       CAST(SUM(new_users) OVER (PARTITION BY event_type ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_users
FROM d
"""


def pl_gopher_rules(spark, sf_dir):
    """Gopher-style quality gate (Rae et al. 2021): per-doc integer
    signals + cross-multiplied rule flags — no division anywhere, so
    the whole gate replays bit-exactly in SQL.  Pure Catalyst
    projection: no explode, no shuffle, no Python."""
    from spatialdata_spark.pipeline.textstats import gopher_rules

    return gopher_rules(
        _read(spark, sf_dir, "documents"), min_words=40, min_stopwords=1
    )


PL_GOPHER_RULES_SQL = r"""
WITH base AS (
  SELECT doc_id, LOWER(TRIM(text)) AS t,
         string_split_regex(LOWER(TRIM(text)), '\s+') AS ws
  FROM documents
),
m AS (
  SELECT doc_id,
    CAST(CASE WHEN LEN(t) = 0 THEN 0 ELSE LEN(ws) END AS BIGINT) AS n_words,
    CAST(COALESCE(list_sum(list_transform(ws, w -> LEN(w))), 0) AS BIGINT)
      AS n_word_chars,
    CAST(LEN(t) - LEN(replace(t, '#', ''))
         + (LEN(t) - LEN(replace(t, '...', ''))) // 3 AS BIGINT) AS n_sym,
    CAST(LEN(list_filter(ws, w -> regexp_matches(w, '[a-z]'))) AS BIGINT)
      AS n_alpha_words,
    CAST((CASE WHEN ' '||t||' ' LIKE '% the %' THEN 1 ELSE 0 END)
       + (CASE WHEN ' '||t||' ' LIKE '% be %' THEN 1 ELSE 0 END)
       + (CASE WHEN ' '||t||' ' LIKE '% to %' THEN 1 ELSE 0 END)
       + (CASE WHEN ' '||t||' ' LIKE '% of %' THEN 1 ELSE 0 END)
       + (CASE WHEN ' '||t||' ' LIKE '% and %' THEN 1 ELSE 0 END)
       + (CASE WHEN ' '||t||' ' LIKE '% that %' THEN 1 ELSE 0 END)
       + (CASE WHEN ' '||t||' ' LIKE '% have %' THEN 1 ELSE 0 END)
       + (CASE WHEN ' '||t||' ' LIKE '% with %' THEN 1 ELSE 0 END)
      AS BIGINT) AS n_stop_distinct
  FROM base
)
SELECT doc_id, n_words, n_word_chars, n_sym, n_alpha_words, n_stop_distinct,
  CAST(CASE WHEN n_words >= 40 AND n_words <= 100000 THEN 1 ELSE 0 END AS INT)
    AS r_words,
  CAST(CASE WHEN 3*n_words <= n_word_chars AND n_word_chars <= 10*n_words
       THEN 1 ELSE 0 END AS INT) AS r_mean_len,
  CAST(CASE WHEN 10*n_sym <= n_words THEN 1 ELSE 0 END AS INT) AS r_symbols,
  CAST(CASE WHEN 5*n_alpha_words >= 4*n_words THEN 1 ELSE 0 END AS INT)
    AS r_alpha,
  CAST(CASE WHEN n_stop_distinct >= 1 THEN 1 ELSE 0 END AS INT) AS r_stopwords,
  CAST(CASE WHEN n_words >= 40 AND n_words <= 100000
         AND 3*n_words <= n_word_chars AND n_word_chars <= 10*n_words
         AND 10*n_sym <= n_words
         AND 5*n_alpha_words >= 4*n_words
         AND n_stop_distinct >= 1 THEN 1 ELSE 0 END AS INT) AS passes
FROM m
"""


def pl_containment(spark, sf_dir):
    """Asymmetric n-gram containment |A∩B|/|A| >= 20% — the
    quote/subset detector Jaccard misses on size-mismatched pairs.
    Equi-join on the gram with a df cap (stated contract), integer
    cross-multiplied threshold."""
    from spatialdata_spark.pipeline.dedup import ngram_containment_pairs

    return ngram_containment_pairs(
        _read(spark, sf_dir, "documents"), n=3, tau_pct=20, max_gram_df=100
    )


PL_CONTAINMENT_SQL = r"""
WITH words AS (
  SELECT doc_id,
         list_filter(string_split_regex(LOWER(TRIM(text)), '\s+'),
                     w -> w <> '') AS ws
  FROM documents
),
grams AS (
  SELECT DISTINCT doc_id, ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] AS g
  FROM words, UNNEST(generate_series(0, LEN(ws) - 3)) AS t(i)
  WHERE LEN(ws) >= 3
),
sizes AS (SELECT doc_id, COUNT(*) AS n_grams FROM grams GROUP BY 1),
keep AS (
  SELECT g FROM (SELECT g, COUNT(*) AS c FROM grams GROUP BY 1) WHERE c <= 100
),
capped AS (SELECT doc_id, g FROM grams JOIN keep USING (g)),
shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
  FROM capped a JOIN capped b USING (g)
  WHERE a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, CAST(n_shared AS BIGINT) AS n_shared,
       CAST(s.n_grams AS BIGINT) AS n_grams_a
FROM shared JOIN sizes s ON s.doc_id = id_a
WHERE 100 * n_shared >= 20 * s.n_grams
"""


def pl_para_dedup(spark, sf_dir):
    """CCNet-style global keep-first paragraph (3-word-segment) dedup:
    later repeats of a segment are cut, the first occurrence (by
    (doc_id, position)) survives — the keep-one complement of
    pl_boilerplate's drop-everywhere rule."""
    from spatialdata_spark.pipeline.filters import paragraph_dedup

    return paragraph_dedup(_read(spark, sf_dir, "documents"), seg_words=3)


PL_PARA_DEDUP_SQL = r"""
WITH words AS (
  SELECT doc_id, string_split_regex(LOWER(TRIM(text)), '\s+') AS ws
  FROM documents
),
segs AS (
  SELECT doc_id, i, array_to_string(ws[(i*3+1):(i*3+3)], ' ') AS seg,
         doc_id * 1048576 + i AS code
  FROM words,
       UNNEST(generate_series(0, CAST(CEIL(LEN(ws)/3.0) AS INT) - 1)) AS t(i)
),
canon AS (SELECT seg, MIN(code) AS first_code FROM segs GROUP BY 1)
SELECT s.doc_id,
       COALESCE(STRING_AGG(s.seg, ' ' ORDER BY s.i)
                  FILTER (WHERE s.code = c.first_code), '') AS clean_text,
       CAST(COUNT(*) FILTER (WHERE s.code <> c.first_code) AS BIGINT)
         AS n_removed
FROM segs s JOIN canon c ON s.seg = c.seg
GROUP BY 1
"""


def pl_lang_temperature(spark, sf_dir):
    """mT5/XLM-R temperature sampling proportions at alpha = 0.5:
    p_lang ∝ sqrt(count) — sqrt chosen because IEEE specifies it
    exactly (pow's libm drift would break the oracle); share rounded
    to 9 dp."""
    from spatialdata_spark.pipeline.filters import lang_temperature_weights

    return lang_temperature_weights(_read(spark, sf_dir, "documents"))


PL_LANG_TEMPERATURE_SQL = """
WITH c AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY 1),
t AS (SELECT SUM(SQRT(CAST(n_docs AS DOUBLE))) AS tot FROM c)
SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
       ROUND(SQRT(CAST(n_docs AS DOUBLE)) / tot, 9) AS sample_weight
FROM c, t
"""


def pl_kmv_distinct(spark, sf_dir):
    """KMV distinct-token sketch per source + the exact count for the
    error report.  The sketch is an order statistic of a deterministic
    31-bit polynomial hash, so estimate AND error replay bit-exactly
    in SQL — the approximate-distinct story without a non-replayable
    HLL.  (At 100 TB the exact-count column is dropped; it is here so
    the oracle pins the estimator against truth.)"""
    from spatialdata_spark.pipeline.textstats import kmv_distinct

    docs = _read(spark, sf_dir, "documents")
    sk = kmv_distinct(docs, k=16)
    exact = (
        docs.select(
            "source",
            F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("__t"),
        )
        .filter(F.col("__t") != "")
        .groupBy("source")
        .agg(F.countDistinct("__t").cast("long").alias("true_distinct"))
    )
    return sk.join(exact, "source")


PL_KMV_DISTINCT_SQL = r"""
WITH toks AS (
  SELECT DISTINCT source, tok FROM (
    SELECT source,
           UNNEST(string_split_regex(LOWER(TRIM(text)), '\s+')) AS tok
    FROM documents
  ) WHERE tok <> ''
),
hashed AS (
  SELECT DISTINCT source,
    list_reduce(
      list_prepend(CAST(0 AS BIGINT),
        list_transform(generate_series(1, LEN(tok)),
                       i -> CAST(ascii(substring(tok, i, 1)) AS BIGINT))),
      (a, b) -> (a * 1000003 + b) % 2147483647) + 1 AS h
  FROM toks
),
ranked AS (
  SELECT source, h,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
  FROM hashed
),
sk AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_used,
         CAST(MAX(h) AS BIGINT) AS kth_hash
  FROM ranked WHERE rn <= 16 GROUP BY 1
),
ex AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS true_distinct
       FROM toks GROUP BY 1)
SELECT source, n_used, kth_hash,
  CAST(CASE WHEN n_used < 16 THEN n_used
       ELSE (15 * CAST(2147483647 AS BIGINT)) // kth_hash END AS BIGINT)
    AS est_distinct,
  true_distinct
FROM sk JOIN ex USING (source)
"""


def st_cohort_matrix(spark, sf_dir):
    """Weekly cohort retention matrix: users bucketed by first-event
    week; for each (cohort_week, age_weeks) the count of users active
    that week.  Two map-side-combinable aggregations (first-touch,
    then distinct user-weeks) and NO window at all — the matrix is
    calendar² cells, metadata-sized at any corpus scale."""
    ev = _read(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(
        F.to_date(F.date_trunc("week", F.min("ts"))).alias("cohort_week")
    )
    active = ev.select(
        "user_id", F.to_date(F.date_trunc("week", "ts")).alias("wk")
    ).distinct()
    joined = active.join(first, "user_id")
    return (
        joined.groupBy("cohort_week", "wk")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .select(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            (F.datediff("wk", "cohort_week") / 7).cast("long").alias("age_weeks"),
            "n_users",
        )
    )


ST_COHORT_MATRIX_SQL = """
WITH f AS (
  SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
  FROM events GROUP BY 1
),
a AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
  FROM events
)
SELECT strftime(f.cohort_week, '%Y-%m-%d') AS cohort_week,
       CAST(date_diff('day', f.cohort_week, a.wk) // 7 AS BIGINT) AS age_weeks,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM a JOIN f USING (user_id)
GROUP BY f.cohort_week, age_weeks
"""


def pl_hll_distinct(spark, sf_dir):
    """HyperLogLog distinct-token sketch per source + the exact count
    for the error report.  The register derivation (md5-hex 60-bit
    hash, minimal-width ``bin`` rho) and the exact-integer harmonic
    denominator replay bit-for-bit in SQL, so even the *approximate*
    estimate is oracle-pinned.  Complements ``pl_kmv_distinct``: HLL
    registers are fixed-size (2^p per group, any cardinality) and
    merge by max — the canonical mergeable sketch for 100 TB corpus
    reports.  (The exact-count column is dropped at scale; it is here
    so the oracle pins the estimator against truth.)"""
    from spatialdata_spark.pipeline.textstats import hll_distinct

    docs = _read(spark, sf_dir, "documents")
    sk = hll_distinct(docs, p=10)
    exact = (
        docs.select(
            "source",
            F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("__t"),
        )
        .filter(F.col("__t") != "")
        .groupBy("source")
        .agg(F.countDistinct("__t").cast("long").alias("true_distinct"))
    )
    return sk.join(exact, "source")


PL_HLL_DISTINCT_SQL = r"""
WITH toks AS (
  SELECT source AS g, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
  FROM documents
), h AS (
  SELECT g, tok, ('0x'||substr(md5(tok),1,15))::BIGINT AS h FROM toks WHERE tok <> ''
), regs AS (
  SELECT g, h >> 50 AS bucket,
         MAX(CASE WHEN (h & ((1::BIGINT<<50)-1)) = 0 THEN 51
                  ELSE 51 - length(bin(h & ((1::BIGINT<<50)-1))) END) AS mj
  FROM h GROUP BY 1, 2
), sk AS (
  SELECT g, COUNT(*)::BIGINT AS n_filled,
         SUM(CAST(POW(2.0, 51 - mj) AS BIGINT))::BIGINT AS denom_part
  FROM regs GROUP BY 1
), est AS (
  SELECT g, n_filled,
    ROUND(CASE WHEN (0.7213/(1.0+1.079/1024))*1024*1024*2251799813685248.0
                    / CAST(denom_part + (1024 - n_filled)*(1::BIGINT<<51) AS DOUBLE)
               <= 2560.0 AND n_filled < 1024
          THEN 1024.0 * LN(1024.0 / CAST(1024 - n_filled AS DOUBLE))
          ELSE (0.7213/(1.0+1.079/1024))*1024*1024*2251799813685248.0
               / CAST(denom_part + (1024 - n_filled)*(1::BIGINT<<51) AS DOUBLE) END, 9)
      AS est_hll
  FROM sk
), ex AS (
  SELECT g, COUNT(DISTINCT tok)::BIGINT AS true_distinct FROM h GROUP BY 1
)
SELECT est.g AS source, est.n_filled, est.est_hll, ex.true_distinct
FROM est JOIN ex ON est.g = ex.g
"""


def pl_winnow(spark, sf_dir):
    """Winnowing fingerprints (Schleimer et al. 2003) — per-document
    summary: fingerprint count, distinct hashes, and a positional
    checksum (``sum(fp % 1000003)`` — exact int64, order-free).  The
    raw ``(doc_id, pos, fp)`` set is what a plagiarism/overlap index
    stores; the summary keeps the driver result compact while pinning
    every selected fingerprint through the checksum."""
    from spatialdata_spark.pipeline.fingerprints import winnow_fingerprints

    docs = _read(spark, sf_dir, "documents")
    fps = winnow_fingerprints(docs, k=5, w=4)
    return fps.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_fp"),
        F.countDistinct("fp").cast("long").alias("n_distinct_fp"),
        F.sum(F.col("fp") % 1000003).cast("long").alias("fp_checksum"),
    )


PL_WINNOW_SQL = """
WITH g AS (
  SELECT doc_id, length(text) - 4 AS ng,
         unnest(generate_series(1, length(text)-4)) AS pos, text
  FROM documents WHERE length(text) >= 5
), gh AS (
  SELECT doc_id, ng, pos, {gh5} AS h FROM g
), ex AS (
  SELECT doc_id, pos, h,
         unnest(generate_series(greatest(1, pos-3), least(pos, greatest(1, ng-3)))) AS win
  FROM gh
), wmin AS (
  SELECT doc_id, win, MIN(h) AS mh FROM ex GROUP BY 1,2
), sel AS (
  SELECT ex.doc_id, ex.win, MAX(ex.pos) AS pos, MIN(wmin.mh) AS fp
  FROM ex JOIN wmin ON ex.doc_id = wmin.doc_id AND ex.win = wmin.win AND ex.h = wmin.mh
  GROUP BY 1,2
), fps AS (
  SELECT DISTINCT doc_id, pos, fp FROM sel
)
SELECT doc_id, COUNT(*)::BIGINT AS n_fp, COUNT(DISTINCT fp)::BIGINT AS n_distinct_fp,
       SUM(fp % 1000003)::BIGINT AS fp_checksum
FROM fps GROUP BY 1
"""


def pl_cdc_chunks(spark, sf_dir):
    """Content-defined chunking statistics (LBFS mod-rule): per-doc
    boundary count, chunk count and mean chunk length under the
    rolling 4-gram / ``h % 64 == 0`` cut rule — the storage-dedup
    primitive (boundaries survive edits elsewhere in the document)."""
    from spatialdata_spark.pipeline.fingerprints import cdc_chunk_stats

    return cdc_chunk_stats(_read(spark, sf_dir, "documents"), k=4, mask_mod=64)


PL_CDC_CHUNKS_SQL = """
WITH g AS (
  SELECT doc_id, unnest(generate_series(1, length(text)-3)) AS pos, text
  FROM documents WHERE length(text) >= 4
), b AS (
  SELECT doc_id, COUNT(*)::BIGINT AS n_boundaries FROM g WHERE ({gh4}) % 64 = 0 GROUP BY 1
)
SELECT d.doc_id, length(d.text)::BIGINT AS n_chars,
       COALESCE(b.n_boundaries, 0)::BIGINT AS n_boundaries,
       (COALESCE(b.n_boundaries, 0) + 1)::BIGINT AS n_chunks,
       ROUND(length(d.text) / (COALESCE(b.n_boundaries, 0) + 1.0), 6) AS avg_chunk_len
FROM documents d LEFT JOIN b ON d.doc_id = b.doc_id
"""

from spatialdata_spark.pipeline.fingerprints import gram_hash_sql as _gram_hash_sql

PL_WINNOW_SQL = PL_WINNOW_SQL.format(gh5=_gram_hash_sql("substr(text, pos, 5)", 5))
PL_CDC_CHUNKS_SQL = PL_CDC_CHUNKS_SQL.format(gh4=_gram_hash_sql("substr(text, pos, 4)", 4))


def pl_dsir_weights(spark, sf_dir):
    """DSIR importance weights (Xie et al. 2023): per-document
    log-likelihood ratio of hashed-bigram features, target = the
    ``lang='en'`` slice vs the raw corpus.  1024-bucket feature
    hashing with the engine-common md5 hash; bucket tables broadcast;
    per-doc float sum runs over grouped buckets and rounds to 6 dp."""
    from spatialdata_spark.pipeline.filters import dsir_weights

    return dsir_weights(_read(spark, sf_dir, "documents"), target_lang="en")


PL_DSIR_WEIGHTS_SQL = r"""
WITH toks AS (
  SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\s+') AS a FROM documents
), tok2 AS (
  SELECT doc_id, lang, [x FOR x IN a IF x <> ''] AS a FROM toks
), bg AS (
  SELECT doc_id, lang, a[i] || ' ' || a[i+1] AS bg
  FROM tok2, unnest(generate_series(1, len(a)-1)) AS t(i)
  WHERE len(a) >= 2
), bkt AS (
  SELECT doc_id, lang, ('0x'||substr(md5(bg),1,15))::BIGINT % 1024 AS bkt FROM bg
), rc AS (
  SELECT bkt, COUNT(*)::BIGINT AS cr,
         SUM(CASE WHEN lang='en' THEN 1 ELSE 0 END)::BIGINT AS ct
  FROM bkt GROUP BY 1
), tot AS ( SELECT SUM(cr) AS nr, SUM(ct) AS nt FROM rc ),
lr AS (
  SELECT bkt, LN(CAST(ct+1 AS DOUBLE)) - LN(CAST(nt+1024 AS DOUBLE))
            - LN(CAST(cr+1 AS DOUBLE)) + LN(CAST(nr+1024 AS DOUBLE)) AS lr
  FROM rc, tot
), db AS (
  SELECT doc_id, bkt, COUNT(*)::BIGINT AS cnt FROM bkt GROUP BY 1,2
)
SELECT db.doc_id, SUM(cnt)::BIGINT AS n_bigrams,
       ROUND(SUM(cnt * lr), 6) AS dsir_logweight
FROM db JOIN lr ON db.bkt = lr.bkt GROUP BY 1
"""


def st_props_json(spark, sf_dir):
    """Semi-structured analytics: parse the JSON ``props`` payload of
    the events stream (``get_json_object`` — JVM-side Jackson path
    evaluation, no Python) and aggregate the extracted field per
    event type.  At 100 TB the JSON parse happens inside the scan
    task (map-side, codegen) and only the grouped aggregates shuffle."""
    ev = _read(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.select("event_type", k.alias("__k"), "value")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.count("__k").cast("long").alias("n_with_k"),
            F.sum("__k").cast("long").alias("sum_k"),
            F.max("__k").cast("int").alias("max_k"),
            F.round(F.avg("__k"), 9).alias("avg_k"),
            F.round(F.sum(F.when(F.col("__k") >= 50, F.col("value"))), 6).alias(
                "value_hi_k"
            ),
        )
    )


ST_PROPS_JSON_SQL = """
WITH p AS (
  SELECT event_type, CAST(json_extract(props, '$.k') AS INTEGER) AS k, value
  FROM events
)
SELECT event_type,
       COUNT(*)::BIGINT AS n_events,
       COUNT(k)::BIGINT AS n_with_k,
       SUM(k)::BIGINT AS sum_k,
       CAST(MAX(k) AS INTEGER) AS max_k,
       ROUND(AVG(k), 9) AS avg_k,
       ROUND(SUM(CASE WHEN k >= 50 THEN value END), 6) AS value_hi_k
FROM p GROUP BY 1
"""


def pl_embed_pool(spark, sf_dir):
    """Exact per-label mean pooling of embedding vectors (class
    centroids / chunk-to-document pooling) in fixed-point int64 — the
    sums are order-free, so Spark's partial aggregation is bit-equal
    to a sequential SQL replay.  Long-format output (label, dim,
    n_vecs, mean_val)."""
    from spatialdata_spark.pipeline.clustering import pool_embeddings

    emb = _read(spark, sf_dir, "embeddings")
    return pool_embeddings(emb, q=100)


PL_EMBED_POOL_SQL = """
WITH longv AS (
  SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
         CAST(FLOOR(unnest(CAST(embedding AS DOUBLE[])) * 100 + 0.5) AS BIGINT) AS val
  FROM embeddings
)
SELECT label, pos, COUNT(*)::BIGINT AS n_vecs,
       ROUND(SUM(val) / (COUNT(*) * 100.0), 9) AS mean_val
FROM longv GROUP BY 1, 2
"""


def pl_score_norm(spark, sf_dir):
    """Cross-source score normalization: heuristic quality scores are
    incomparable across heterogeneous sources, so normalize
    within-source by rank (``percent_rank``, deterministic doc_id
    tie-break) before applying one global keep threshold — the
    standard corpus-mixing preprocessing step.  One window per source
    partition; no global sort, no floats besides the final ratio."""
    from pyspark.sql.window import Window

    docs = _read(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    pct = F.percent_rank().over(w)
    return docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.round(pct, 9).alias("pct_in_source"),
        (pct >= 0.2).cast("int").alias("keep"),
    )


PL_SCORE_NORM_SQL = """
SELECT doc_id, source, n_chars,
       ROUND(percent_rank() OVER (PARTITION BY source ORDER BY n_chars, doc_id), 9)
         AS pct_in_source,
       CASE WHEN percent_rank() OVER (PARTITION BY source ORDER BY n_chars, doc_id)
                 >= 0.2 THEN 1 ELSE 0 END AS keep
FROM documents
"""


def pl_c4_rules(spark, sf_dir):
    """C4 cleaning rules (Raffel et al. 2020) — line keep-filter +
    page gate, entirely map-side higher-order expressions (zero
    shuffle, zero Python: the whole pass fuses into the parquet
    scan)."""
    from spatialdata_spark.pipeline.filters import c4_rules

    return c4_rules(_read(spark, sf_dir, "documents"))


PL_C4_RULES_SQL = r"""
WITH l AS (
  SELECT doc_id, text, string_split(text, chr(10)) AS ls FROM documents
), k AS (
  SELECT doc_id, text, len(ls) AS n_lines,
    list_filter(ls, x -> trim(x) <> ''
        AND regexp_matches(trim(x), '[.!?"]$')
        AND len(string_split_regex(trim(x), '\s+')) >= 5
        AND NOT contains(lower(trim(x)), 'javascript')) AS kept
  FROM l
), j AS (
  SELECT doc_id, text, n_lines, len(kept) AS n_kept,
         COALESCE(array_to_string(kept, chr(10)), '') AS joined
  FROM k
)
SELECT doc_id,
  CAST(n_lines AS BIGINT) AS n_lines,
  CAST(n_kept AS BIGINT) AS n_kept_lines,
  CAST(length(joined) AS BIGINT) AS kept_chars,
  CAST(length(joined) - length(regexp_replace(joined, '[.!?]', '', 'g'))
       AS BIGINT) AS n_sentences,
  CASE WHEN NOT contains(lower(text), 'lorem ipsum')
            AND NOT contains(text, '{')
            AND length(joined) - length(regexp_replace(joined, '[.!?]', '', 'g')) >= 3
       THEN 1 ELSE 0 END AS keep_doc
FROM j
"""


def pl_ngram_novelty(spark, sf_dir):
    """Per-document 3-gram novelty fraction — first-owner MIN per gram
    (vocabulary-sized, map-side combinable) joined back broadcast-
    gated; the "how much new text does this document add" curation
    diagnostic."""
    from spatialdata_spark.pipeline.filters import ngram_novelty

    return ngram_novelty(_read(spark, sf_dir, "documents"), n=3)


PL_NGRAM_NOVELTY_SQL = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ts
  FROM documents WHERE trim(text) <> ''
), grams AS (
  SELECT DISTINCT doc_id,
         ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS g
  FROM toks, UNNEST(generate_series(1, len(ts) - 2)) AS t(i)
  WHERE len(ts) >= 3
), first_owner AS (
  SELECT g, MIN(doc_id) AS first_doc FROM grams GROUP BY 1
)
SELECT grams.doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_grams,
  CAST(SUM(CASE WHEN grams.doc_id = first_owner.first_doc THEN 1 ELSE 0 END)
       AS BIGINT) AS n_novel,
  ROUND(SUM(CASE WHEN grams.doc_id = first_owner.first_doc THEN 1 ELSE 0 END)
        / CAST(COUNT(*) AS DOUBLE), 9) AS novelty
FROM grams JOIN first_owner USING (g)
GROUP BY 1
"""


def pl_bigram_lm(spark, sf_dir):
    """Corpus-trained add-one bigram LM: per-document mean negative
    log-likelihood (CCNet quality ladder, one rung above the unigram
    score).  Vocabulary-sized count tables joined back."""
    from spatialdata_spark.pipeline.textstats import bigram_lm_score

    return bigram_lm_score(_read(spark, sf_dir, "documents"))


PL_BIGRAM_LM_SQL = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ts
  FROM documents WHERE trim(text) <> ''
), big AS (
  SELECT doc_id, ts[i] || ' ' || ts[i+1] AS g, ts[i] AS a
  FROM toks, UNNEST(generate_series(1, len(ts) - 1)) AS t(i)
  WHERE len(ts) >= 2
), uni AS (
  SELECT unnest(ts) AS tok FROM toks
), c1 AS (
  SELECT tok AS a, COUNT(*) AS c1 FROM uni GROUP BY 1
), c2 AS (
  SELECT g, COUNT(*) AS c2 FROM big GROUP BY 1
), v AS (
  SELECT COUNT(DISTINCT tok) AS v FROM uni
)
SELECT big.doc_id,
  ROUND(AVG(-LN((c2.c2 + 1.0) / (c1.c1 + v.v))), 6) AS nll_bigram
FROM big JOIN c2 USING (g) JOIN c1 USING (a) CROSS JOIN v
GROUP BY 1
"""


def pl_source_overlap(spark, sf_dir):
    """Pairwise source-overlap Jaccard matrix from k=64 KMV sketches —
    the union/intersection order-statistic estimator (Beyer et al.
    2007); everything past the per-source sketch is sketch-sized."""
    from spatialdata_spark.pipeline.textstats import kmv_source_overlap

    return kmv_source_overlap(_read(spark, sf_dir, "documents"), k=64)


PL_SOURCE_OVERLAP_SQL = r"""
WITH toks AS (
  SELECT DISTINCT source, tok FROM (
    SELECT source,
           UNNEST(string_split_regex(LOWER(TRIM(text)), '\s+')) AS tok
    FROM documents
  ) WHERE tok <> ''
), hashed AS (
  SELECT DISTINCT source,
    list_reduce(
      list_prepend(CAST(0 AS BIGINT),
        list_transform(generate_series(1, LEN(tok)),
                       i -> CAST(ascii(substring(tok, i, 1)) AS BIGINT))),
      (a, b) -> (a * 1000003 + b) % 2147483647) + 1 AS h
  FROM toks
), sk AS (
  SELECT source, h FROM (
    SELECT source, h,
           ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
    FROM hashed
  ) WHERE rn <= 64
), pairs AS (
  SELECT a.source AS s1, b.source AS s2
  FROM (SELECT DISTINCT source FROM sk) a,
       (SELECT DISTINCT source FROM sk) b
  WHERE a.source < b.source
), u AS (
  SELECT s1, s2, h, MAX(i1) AS i1, MAX(i2) AS i2 FROM (
    SELECT pairs.s1, pairs.s2, sk.h, 1 AS i1, 0 AS i2
    FROM pairs JOIN sk ON sk.source = pairs.s1
    UNION ALL
    SELECT pairs.s1, pairs.s2, sk.h, 0 AS i1, 1 AS i2
    FROM pairs JOIN sk ON sk.source = pairs.s2
  ) GROUP BY 1, 2, 3
), d AS (
  SELECT s1, s2, i1, i2 FROM (
    SELECT s1, s2, i1, i2,
           ROW_NUMBER() OVER (PARTITION BY s1, s2 ORDER BY h) AS rn
    FROM u
  ) WHERE rn <= 64
)
SELECT s1, s2,
  CAST(COUNT(*) AS BIGINT) AS n_union_k,
  CAST(SUM(i1 * i2) AS BIGINT) AS n_common,
  ROUND(SUM(i1 * i2) / CAST(COUNT(*) AS DOUBLE), 9) AS est_jaccard
FROM d GROUP BY 1, 2
"""


def pl_bloom_decon(spark, sf_dir):
    """Bloom-filter decontamination (the 100 TB pre-filter twin of
    pl_decontaminate): the 'src0' eval slice compresses to a fixed
    2^18-bit / 3-hash Bloom filter; corpus grams probe it map-side.
    One-sided error, bit-exact SQL replay (md5 double hashing)."""
    from spatialdata_spark.pipeline.filters import bloom_decontaminate

    docs = _read(spark, sf_dir, "documents")
    return bloom_decontaminate(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
        n=3,
        m_bits=1 << 18,
        k=3,
    )


PL_BLOOM_DECON_SQL = r"""
WITH toks AS (
  SELECT doc_id, source, string_split_regex(LOWER(TRIM(text)), '\s+') AS ts
  FROM documents
),
grams AS (
  SELECT doc_id, source,
         unnest(list_transform(range(1, LEN(ts) - 1),
                i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS g
  FROM toks
),
bg AS (SELECT DISTINCT g FROM grams WHERE source = 'src0'),
bprobe AS (
  SELECT DISTINCT (h1 % 262144 + j * (h2 % 262144 + 1)) % 262144 AS bit
  FROM (
    SELECT ('0x' || substr(md5(g), 1, 15))::BIGINT AS h1,
           ('0x' || substr(md5(g), 16, 15))::BIGINT AS h2
    FROM bg
  ), UNNEST(generate_series(0, 2)) AS t(j)
),
cg AS (SELECT DISTINCT doc_id, g FROM grams WHERE source <> 'src0'),
cprobe AS (
  SELECT doc_id, g, (h1 % 262144 + j * (h2 % 262144 + 1)) % 262144 AS bit
  FROM (
    SELECT doc_id, g,
           ('0x' || substr(md5(g), 1, 15))::BIGINT AS h1,
           ('0x' || substr(md5(g), 16, 15))::BIGINT AS h2
    FROM cg
  ), UNNEST(generate_series(0, 2)) AS t(j)
),
pg AS (
  SELECT cprobe.doc_id, cprobe.g,
         CASE WHEN COUNT(bprobe.bit) = COUNT(*) THEN 1 ELSE 0 END AS maybe
  FROM cprobe LEFT JOIN bprobe ON cprobe.bit = bprobe.bit
  GROUP BY 1, 2
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(SUM(maybe) AS BIGINT) AS n_maybe,
       ROUND(SUM(maybe) * 1.0 / COUNT(*), 9) AS bloom_frac
FROM pg GROUP BY 1 HAVING SUM(maybe) > 0
"""


def pl_cms_topk(spark, sf_dir):
    """Count-Min sketch (4x1024) frequency estimates for the top-30
    corpus tokens — sketch-sized aggregation, exact integer replay."""
    from spatialdata_spark.pipeline.textstats import cms_topk

    return cms_topk(_read(spark, sf_dir, "documents"), d=4, w=1024, topk=30)


PL_CMS_TOPK_SQL = r"""
WITH toks AS (
  SELECT unnest(string_split_regex(LOWER(TRIM(text)), '\s+')) AS tok
  FROM documents
), counts AS (
  SELECT tok, COUNT(*) AS c FROM toks WHERE tok <> '' GROUP BY 1
), hashed AS (
  SELECT tok, c,
         ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h1,
         ('0x' || substr(md5(tok), 16, 15))::BIGINT AS h2
  FROM counts
), cells AS (
  SELECT j, (h1 % 1024 + j * (h2 % 1024 + 1)) % 1024 AS bucket,
         SUM(c) AS cell
  FROM hashed, UNNEST(generate_series(0, 3)) AS t(j)
  GROUP BY 1, 2
), top AS (
  SELECT tok, c FROM counts ORDER BY c DESC, tok LIMIT 30
), probes AS (
  SELECT top.tok, top.c, t.j,
         (h.h1 % 1024 + t.j * (h.h2 % 1024 + 1)) % 1024 AS bucket
  FROM top JOIN hashed h ON top.tok = h.tok,
       UNNEST(generate_series(0, 3)) AS t(j)
)
SELECT probes.tok AS token, CAST(probes.c AS BIGINT) AS c_true,
       CAST(MIN(cells.cell) AS BIGINT) AS c_cms
FROM probes JOIN cells ON probes.j = cells.j AND probes.bucket = cells.bucket
GROUP BY 1, 2
"""


def pl_gram_matrix(spark, sf_dir):
    """Fixed-point Gram matrix X^T X over the embedding corpus (upper
    triangle) — per-task numpy GEMM partials, dim²-sized shuffle,
    exact int64 accumulation (the PCA/whitening sufficient stat)."""
    from spatialdata_spark.pipeline.clustering import gram_matrix

    return gram_matrix(_read(spark, sf_dir, "embeddings"), q=100)


PL_GRAM_MATRIX_SQL = r"""
WITH q AS (
  SELECT list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(FLOOR(x * 100 + 0.5) AS BIGINT)) AS qv
  FROM embeddings
)
SELECT CAST(i.i - 1 AS BIGINT) AS pos_i, CAST(j.j - 1 AS BIGINT) AS pos_j,
       CAST(SUM(qv[i.i] * qv[j.j]) AS BIGINT) AS gram
FROM q, UNNEST(generate_series(1, LEN(qv))) AS i(i),
       UNNEST(generate_series(1, LEN(qv))) AS j(j)
WHERE j.j >= i.i
GROUP BY 1, 2
"""


def st_topn_window(spark, sf_dir):
    """Top-5 users per day by event count — the streaming-leaderboard
    shape: map-side (day, user) pre-aggregation, Arrow per-batch
    local top-5 pre-truncation (pigeonhole: a global top-5 row is in
    its batch's top-5), exact rank window on survivors only — a hot
    day never funnels its full user set through one reducer."""
    ev = _read(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"),
        "user_id",
    ).agg(F.count(F.lit(1)).cast("long").alias("n_events"))

    def _local_top(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf
                continue
            yield (
                pdf.sort_values(
                    ["day", "n_events", "user_id"],
                    ascending=[True, False, True],
                    kind="mergesort",
                )
                .groupby("day", sort=False)
                .head(5)
            )

    capped = daily.mapInPandas(_local_top, schema=daily.schema)
    from pyspark.sql.window import Window

    w = Window.partitionBy("day").orderBy(
        F.desc("n_events"), F.asc("user_id")
    )
    return (
        capped.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 5)
        .select("day", "user_id", "n_events", "rk")
    )


ST_TOPN_WINDOW_SQL = r"""
WITH daily AS (
  SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, user_id,
         COUNT(*) AS n
  FROM events GROUP BY 1, 2
), rk AS (
  SELECT day, user_id, n,
         ROW_NUMBER() OVER (PARTITION BY day ORDER BY n DESC, user_id) AS rk
  FROM daily
)
SELECT day, user_id, CAST(n AS BIGINT) AS n_events, CAST(rk AS BIGINT) AS rk
FROM rk WHERE rk <= 5
"""


def pl_sent_stats(spark, sf_dir):
    """Per-document sentence-length stats (fragments on [.!?]+ runs):
    count, mean/max words per sentence, run-on count — zero-shuffle
    per-row array expressions fused into the scan."""
    from spatialdata_spark.pipeline.textstats import sentence_stats

    return sentence_stats(_read(spark, sf_dir, "documents"))


PL_SENT_STATS_SQL = r"""
WITH f AS (
  SELECT doc_id,
    list_filter(
      list_transform(string_split_regex(text, '[.!?]+'),
        s -> len(list_filter(string_split_regex(trim(s), '\s+'),
                             t -> t <> ''))),
      c -> c > 0) AS wc
  FROM documents
)
SELECT doc_id,
  CAST(len(wc) AS BIGINT) AS n_sentences,
  ROUND(list_sum(wc) * 1.0 / len(wc), 9) AS mean_words,
  CAST(list_max(wc) AS BIGINT) AS max_words,
  CAST(len(list_filter(wc, c -> c >= 30)) AS BIGINT) AS n_run_on
FROM f WHERE len(wc) > 0
"""


def pl_token_entropy(spark, sf_dir):
    """Per-source Shannon entropy + type-token ratio of the token
    distribution — corpus-diversity diagnostics; one vocabulary-sized
    count table with map-side combine, one group-sized agg."""
    from spatialdata_spark.pipeline.textstats import token_entropy

    return token_entropy(_read(spark, sf_dir, "documents"))


PL_TOKEN_ENTROPY_SQL = r"""
WITH toks AS (
  SELECT source, unnest(string_split_regex(LOWER(TRIM(text)), '\s+')) AS tok
  FROM documents
), f AS (
  SELECT source, tok, COUNT(*) AS c FROM toks WHERE tok <> '' GROUP BY 1, 2
), a AS (
  SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_types,
         SUM(c * LN(c)) AS clogc
  FROM f GROUP BY 1
)
SELECT source, n_tokens, n_types,
  ROUND(n_types * 1.0 / n_tokens, 9) AS ttr,
  ROUND(LN(n_tokens) - clogc / n_tokens, 6) AS entropy
FROM a
"""


def pl_jsd_sources(spark, sf_dir):
    """Jensen-Shannon divergence of each source's unigram distribution
    vs the corpus blend (the DoReMi-style mixture diagnostic) — p=0
    closed form, so only source-owned tokens ever materialize."""
    from spatialdata_spark.pipeline.textstats import jsd_sources

    return jsd_sources(_read(spark, sf_dir, "documents"))


PL_JSD_SOURCES_SQL = r"""
WITH toks AS (
  SELECT source, unnest(string_split_regex(LOWER(TRIM(text)), '\s+')) AS tok
  FROM documents
), t2 AS (SELECT source, tok FROM toks WHERE tok <> ''),
sc AS (SELECT source, tok, COUNT(*) AS cs FROM t2 GROUP BY 1, 2),
cc AS (SELECT tok, COUNT(*) AS ccnt FROM t2 GROUP BY 1),
nn AS (SELECT COUNT(*) AS n FROM t2),
st AS (SELECT source, CAST(SUM(cs) AS BIGINT) AS ns FROM sc GROUP BY 1),
j AS (
  SELECT sc.source, st.ns,
         (cs * 1.0 / st.ns) AS p, (ccnt * 1.0 / n) AS q
  FROM sc JOIN cc USING (tok) JOIN st USING (source) CROSS JOIN nn
),
a AS (
  SELECT source, ns,
         SUM(p * LN(2 * p / (p + q)) + q * LN(2 * q / (p + q))) AS t,
         SUM(q) AS qcov
  FROM j GROUP BY 1, 2
)
SELECT source, CAST(ns AS BIGINT) AS n_tokens,
  ROUND(0.5 * t + 0.5 * LN(2) * (1 - qcov), 6) AS jsd
FROM a
"""


def st_wau_mau(spark, sf_dir):
    """Rolling 7- and 28-day distinct active users per day (WAU/MAU)
    in the contribution-explode form — one map-side explode + one
    distinct aggregation; no range join, no sliding COUNT(DISTINCT),
    no window."""
    from spatialdata_spark.operators.temporal import rolling_active_users

    return rolling_active_users(_read(spark, sf_dir, "events"), windows=(7, 28))


ST_WAU_MAU_SQL = r"""
WITH ud AS (
  SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
), mx AS (SELECT MAX(d) AS mx FROM ud),
c AS (
  SELECT w.w AS window_days,
         CAST(unnest(generate_series(CAST(d AS TIMESTAMP),
                     CAST(d AS TIMESTAMP) + (w.w - 1) * INTERVAL 1 DAY,
                     INTERVAL 1 DAY)) AS DATE) AS day,
         user_id
  FROM ud, (VALUES (7), (28)) AS w(w)
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       CAST(window_days AS BIGINT) AS window_days,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active
FROM c, mx WHERE day <= mx GROUP BY 1, 2
"""


def pl_curation_funnel(spark, sf_dir):
    """End-to-end curation funnel in ONE declarative plan: Gopher
    gate -> exact keep-first dedup -> CCNet head/middle LM cut, with
    per-source survivor counts at each stage (the attrition report a
    data team reads)."""
    from spatialdata_spark.pipeline.textstats import curation_funnel

    return curation_funnel(
        _read(spark, sf_dir, "documents"), min_words=40, min_stopwords=1
    )


PL_CURATION_FUNNEL_SQL = r"""
WITH base AS (
  SELECT doc_id, source, LOWER(TRIM(text)) AS t,
         string_split_regex(LOWER(TRIM(text)), '\s+') AS ws,
         md5(text) AS digest
  FROM documents
),
m AS (
  SELECT doc_id,
    CAST(CASE WHEN LEN(t) = 0 THEN 0 ELSE LEN(ws) END AS BIGINT) AS n_words,
    CAST(COALESCE(list_sum(list_transform(ws, w -> LEN(w))), 0) AS BIGINT)
      AS n_word_chars,
    CAST(LEN(t) - LEN(replace(t, '#', ''))
         + (LEN(t) - LEN(replace(t, '...', ''))) // 3 AS BIGINT) AS n_sym,
    CAST(LEN(list_filter(ws, w -> regexp_matches(w, '[a-z]'))) AS BIGINT)
      AS n_alpha_words,
    CAST((CASE WHEN ' '||t||' ' LIKE '% the %' THEN 1 ELSE 0 END)
       + (CASE WHEN ' '||t||' ' LIKE '% be %' THEN 1 ELSE 0 END)
       + (CASE WHEN ' '||t||' ' LIKE '% to %' THEN 1 ELSE 0 END)
       + (CASE WHEN ' '||t||' ' LIKE '% of %' THEN 1 ELSE 0 END)
       + (CASE WHEN ' '||t||' ' LIKE '% and %' THEN 1 ELSE 0 END)
       + (CASE WHEN ' '||t||' ' LIKE '% that %' THEN 1 ELSE 0 END)
       + (CASE WHEN ' '||t||' ' LIKE '% have %' THEN 1 ELSE 0 END)
       + (CASE WHEN ' '||t||' ' LIKE '% with %' THEN 1 ELSE 0 END)
      AS BIGINT) AS n_stop_distinct
  FROM base
),
flags AS (
  SELECT doc_id,
    CASE WHEN n_words >= 40 AND n_words <= 100000
         AND 3*n_words <= n_word_chars AND n_word_chars <= 10*n_words
         AND 10*n_sym <= n_words
         AND 5*n_alpha_words >= 4*n_words
         AND n_stop_distinct >= 1 THEN 1 ELSE 0 END AS passes
  FROM m
),
dmin AS (SELECT digest, MIN(doc_id) AS keeper FROM base GROUP BY 1),
lmbase AS (
  SELECT doc_id, string_split_regex(LOWER(TRIM(text)), '\s+') AS toks
  FROM documents WHERE LENGTH(TRIM(text)) > 0
),
tok AS (SELECT doc_id, UNNEST(toks) AS tk FROM lmbase),
c AS (SELECT tk, COUNT(*) AS c FROM tok GROUP BY 1),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tokens, COUNT(*) AS n_vocab FROM c),
nll AS (
  SELECT doc_id, ROUND(AVG(-LN((c + 1.0) / (n_tokens + n_vocab))), 6) AS nll
  FROM tok JOIN c USING (tk), tot
  GROUP BY 1
),
th AS (SELECT quantile_cont(nll, 2.0/3) AS t2 FROM nll),
fl AS (
  SELECT base.source, flags.passes,
         CASE WHEN base.doc_id = dmin.keeper THEN 1 ELSE 0 END AS uniq,
         CASE WHEN nll.nll IS NOT NULL AND nll.nll <= th.t2
              THEN 1 ELSE 0 END AS headmid
  FROM base JOIN flags ON base.doc_id = flags.doc_id
       JOIN dmin ON base.digest = dmin.digest
       LEFT JOIN nll ON base.doc_id = nll.doc_id
       CROSS JOIN th
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(SUM(passes) AS BIGINT) AS n_quality,
       CAST(SUM(passes*uniq) AS BIGINT) AS n_unique,
       CAST(SUM(passes*uniq*headmid) AS BIGINT) AS n_kept
FROM fl GROUP BY 1
"""


def pl_burstiness(spark, sf_dir):
    """Token burstiness (variance-to-mean dispersion of per-doc
    counts) for the top-30 tokens — integer-exact until one final
    division; TakeOrderedAndProject top-k."""
    from spatialdata_spark.pipeline.textstats import token_burstiness

    return token_burstiness(_read(spark, sf_dir, "documents"), topk=30)


PL_BURSTINESS_SQL = r"""
WITH tokd AS (
  SELECT doc_id, unnest(string_split_regex(LOWER(TRIM(text)), '\s+')) AS tok
  FROM documents
), pd AS (
  SELECT tok, doc_id, COUNT(*) AS c FROM tokd WHERE tok <> '' GROUP BY 1, 2
), pt AS (
  SELECT tok, CAST(SUM(c) AS BIGINT) AS tf, CAST(COUNT(*) AS BIGINT) AS df,
         CAST(SUM(c*c) AS BIGINT) AS s2
  FROM pd GROUP BY 1
), n AS (SELECT COUNT(*) AS N FROM documents),
top AS (SELECT tok, tf, df, s2 FROM pt ORDER BY tf DESC, tok LIMIT 30)
SELECT tok AS token, tf, df,
  ROUND((N * s2 - tf * tf) * 1.0 / (N * tf), 9) AS burstiness
FROM top, n
"""


def pl_cooccur_pmi(spark, sf_dir):
    """Document-level PMI for every top-20-token pair (collocation /
    word-association mining) — presence stream filtered to the
    broadcast top-k BEFORE any shuffle; pair space is topk², never
    vocabulary²."""
    from spatialdata_spark.pipeline.textstats import cooccurrence_pmi

    return cooccurrence_pmi(_read(spark, sf_dir, "documents"), topk=20)


PL_COOCCUR_PMI_SQL = r"""
WITH tokd AS (
  SELECT DISTINCT doc_id, tok FROM (
    SELECT doc_id,
           unnest(string_split_regex(LOWER(TRIM(text)), '\s+')) AS tok
    FROM documents
  ) WHERE tok <> ''
), dfq AS (SELECT tok, COUNT(*) AS df FROM tokd GROUP BY 1),
top AS (SELECT tok, df FROM dfq ORDER BY df DESC, tok LIMIT 20),
t AS (SELECT tokd.doc_id, tokd.tok, top.df FROM tokd JOIN top USING (tok)),
n AS (SELECT COUNT(*) AS N FROM documents),
p AS (
  SELECT a.tok AS tok_a, b.tok AS tok_b, a.df AS n_a, b.df AS n_b,
         COUNT(*) AS n_ab
  FROM t a JOIN t b ON a.doc_id = b.doc_id AND a.tok < b.tok
  GROUP BY 1, 2, 3, 4
)
SELECT tok_a, tok_b, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       CAST(n_ab AS BIGINT) AS n_ab,
       ROUND(LN(n_ab * 1.0 * N / (n_a * n_b)), 6) AS pmi
FROM p, n
"""


def st_inter_event(spark, sf_dir):
    """Per-event-type inter-event-gap percentiles (microsecond-exact
    gaps via unix_micros; user-partitioned lag window; exact
    percentile == DuckDB quantile_cont on DOUBLE)."""
    from pyspark.sql.window import Window

    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ; the session timezone is pinned UTC, so the
    # cast to TIMESTAMP is an identity and unix_micros stays exact
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    g = ev.withColumn("gap", us - F.lag(us).over(w)).filter(
        F.col("gap").isNotNull()
    )
    return g.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.round(F.percentile(F.col("gap").cast("double"), F.lit(0.5)), 6).alias("p50_us"),
        F.round(F.percentile(F.col("gap").cast("double"), F.lit(0.9)), 6).alias("p90_us"),
    )


ST_INTER_EVENT_SQL = r"""
WITH g AS (
  SELECT event_type,
         epoch_us(ts) - LAG(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS gap
  FROM events
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_gaps,
       ROUND(quantile_cont(CAST(gap AS DOUBLE), 0.5), 6) AS p50_us,
       ROUND(quantile_cont(CAST(gap AS DOUBLE), 0.9), 6) AS p90_us
FROM g WHERE gap IS NOT NULL GROUP BY 1
"""


def pl_len_hist(spark, sf_dir):
    """Log2-bucketed document-length histogram per source (bucket =
    bit length of n_chars — integer, no float log) — the dataset-card
    length profile; one map-side-combinable aggregation."""
    docs = _read(spark, sf_dir, "documents")
    return docs.groupBy(
        "source",
        F.length(F.bin(F.col("n_chars"))).cast("long").alias("bucket"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_docs"))


PL_LEN_HIST_SQL = r"""
SELECT source, CAST(LEN(bin(n_chars)) AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM documents GROUP BY 1, 2
"""


def pl_label_fstat(spark, sf_dir):
    """Per-dimension one-way ANOVA F statistic between embedding label
    groups (feature-selection / embedding-QA) — exact int64 sufficient
    statistics, dim x k reduce keys, float work once per dim."""
    from spatialdata_spark.pipeline.clustering import label_fstat

    return label_fstat(_read(spark, sf_dir, "embeddings"), q=100)


PL_LABEL_FSTAT_SQL = r"""
WITH lv AS (
  SELECT label AS g, generate_subscripts(embedding, 1) - 1 AS pos,
         CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 100 + 0.5) AS BIGINT)
           AS v
  FROM embeddings
),
per AS (
  SELECT pos, g, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS s,
         CAST(SUM(v*v) AS BIGINT) AS qq
  FROM lv GROUP BY 1, 2
),
a AS (
  SELECT pos, CAST(COUNT(*) AS BIGINT) AS n_labels,
         CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(s) AS BIGINT) AS ss,
         CAST(SUM(qq) AS BIGINT) AS q2,
         SUM(CAST(s AS DOUBLE) * s / n) AS sb
  FROM per GROUP BY 1
)
SELECT CAST(pos AS BIGINT) AS pos, n_labels,
  ROUND(((sb - CAST(ss AS DOUBLE) * ss / nn) / (n_labels - 1))
        / ((q2 - sb) / (nn - n_labels)), 6) AS f_stat
FROM a
"""


def st_markov_transitions(spark, sf_dir):
    """Per-user event-type transition matrix (first-order Markov):
    lag window per user, pair counts, row-normalized probabilities —
    the window total shares the pair partitioning (no agg-agg join)."""
    from pyspark.sql.window import Window

    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.withColumn("prev", F.lag("event_type").over(w)).filter(
        F.col("prev").isNotNull()
    )
    p = s.groupBy("prev", F.col("event_type").alias("cur")).agg(
        F.count(F.lit(1)).cast("long").alias("n_trans")
    )
    tot = F.sum("n_trans").over(Window.partitionBy("prev"))
    return p.select(
        "prev",
        "cur",
        "n_trans",
        F.round(F.col("n_trans") / tot, 9).alias("p_trans"),
    )


ST_MARKOV_TRANSITIONS_SQL = r"""
WITH s AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev
  FROM events
), p AS (
  SELECT prev, event_type AS cur, COUNT(*) AS n
  FROM s WHERE prev IS NOT NULL GROUP BY 1, 2
), t AS (SELECT prev, SUM(n) AS tot FROM p GROUP BY 1)
SELECT p.prev, p.cur, CAST(p.n AS BIGINT) AS n_trans,
       ROUND(p.n * 1.0 / t.tot, 9) AS p_trans
FROM p JOIN t USING (prev)
"""


def pl_vocab_coverage(spark, sf_dir):
    """Tokens needed to cover 50/90/99% of corpus token mass (the
    tokenizer-sizing diagnostic): one rank + one running-sum window
    sharing a single sort over the VOCABULARY (language-bounded —
    the stated contract, same as vocab_topk's ordering), then a
    3-row broadcast threshold probe."""
    from pyspark.sql.window import Window

    docs = _read(spark, sf_dir, "documents")
    counts = (
        docs.select(
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("tok")
        )
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    w = Window.orderBy(F.desc("tf"), F.asc("tok"))
    ranked = counts.select(
        F.row_number().over(w).cast("long").alias("rk"),
        F.sum("tf").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
    )
    total = counts.agg(F.sum("tf").cast("long").alias("tot"))
    targets = docs.sparkSession.createDataFrame(
        [(0.5,), (0.9,), (0.99,)], "coverage double"
    )
    return (
        ranked.crossJoin(F.broadcast(total))
        .join(
            F.broadcast(targets),
            F.col("cum") >= F.col("coverage") * F.col("tot"),
        )
        .groupBy("coverage")
        .agg(F.min("rk").cast("long").alias("n_tokens"))
    )


PL_VOCAB_COVERAGE_SQL = r"""
WITH tk AS (
  SELECT unnest(string_split_regex(LOWER(TRIM(text)), '\s+')) AS tok
  FROM documents
), c AS (
  SELECT tok, COUNT(*) AS tf FROM tk WHERE tok <> '' GROUP BY 1
), r AS (
  SELECT ROW_NUMBER() OVER (ORDER BY tf DESC, tok) AS rk,
         SUM(tf) OVER (ORDER BY tf DESC, tok ROWS UNBOUNDED PRECEDING) AS cum
  FROM c
), t AS (SELECT SUM(tf) AS tot FROM c),
g AS (SELECT p FROM (VALUES (0.5), (0.9), (0.99)) v(p))
SELECT g.p AS coverage, CAST(MIN(r.rk) AS BIGINT) AS n_tokens
FROM g, r, t WHERE r.cum >= g.p * t.tot GROUP BY 1
"""


def q_top_parts_per_supplier(spark, sf_dir):
    """Top-3 parts per supplier by revenue with ratio-to-report share
    (the classic per-group rank + share window pair) — both windows
    share ONE supplier partitioning; revenue sums are DECIMAL-exact,
    cast to double only for the final division."""
    from pyspark.sql.window import Window

    li = _read(spark, sf_dir, "lineitem")
    rev = (
        li.groupBy("l_suppkey", "l_partkey")
        .agg(
            F.sum(
                F.col("l_extendedprice").cast(DEC)
                * (F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC))
            ).alias("__rev")
        )
    )
    wp = Window.partitionBy("l_suppkey")
    w = wp.orderBy(F.desc("__rev"), F.asc("l_partkey"))
    ranked = rev.select(
        "l_suppkey",
        "l_partkey",
        F.col("__rev").cast("double").alias("revenue"),
        (F.col("__rev").cast("double") / F.sum("__rev").over(wp).cast("double")).alias("__sh"),
        F.row_number().over(w).cast("long").alias("rk"),
    )
    return ranked.filter(F.col("rk") <= 3).select(
        "l_suppkey",
        "l_partkey",
        "revenue",
        F.round(F.col("__sh"), 9).alias("supp_share"),
        "rk",
    )


Q_TOP_PARTS_SQL = f"""
WITH rev AS (
  SELECT l_suppkey, l_partkey,
         SUM(CAST(l_extendedprice AS {DEC})
             * (CAST(1 AS {DEC}) - CAST(l_discount AS {DEC}))) AS r
  FROM lineitem GROUP BY 1, 2
), ranked AS (
  SELECT l_suppkey, l_partkey, CAST(r AS DOUBLE) AS revenue,
         CAST(r AS DOUBLE) / CAST(SUM(r) OVER (PARTITION BY l_suppkey) AS DOUBLE) AS sh,
         ROW_NUMBER() OVER (PARTITION BY l_suppkey
                            ORDER BY r DESC, l_partkey) AS rk
  FROM rev
)
SELECT l_suppkey, l_partkey, revenue, ROUND(sh, 9) AS supp_share,
       CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= 3
"""


def pl_hapax_ratio(spark, sf_dir):
    """Hapax legomena ratio per source (types seen once / total types)
    — the lexical-richness companion to entropy/TTR; vocabulary-sized
    aggregation, exact integers + one division."""
    docs = _read(spark, sf_dir, "documents")
    counts = (
        docs.select(
            "source",
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    return counts.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum((F.col("c") == 1).cast("long")).cast("long").alias("n_hapax"),
        F.round(
            F.sum((F.col("c") == 1).cast("long")) / F.count(F.lit(1)), 9
        ).alias("hapax_ratio"),
    )


PL_HAPAX_RATIO_SQL = r"""
WITH c AS (
  SELECT source, tok, COUNT(*) AS c FROM (
    SELECT source,
           unnest(string_split_regex(LOWER(TRIM(text)), '\s+')) AS tok
    FROM documents
  ) WHERE tok <> '' GROUP BY 1, 2
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_types,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       ROUND(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 9)
         AS hapax_ratio
FROM c GROUP BY 1
"""


def pl_norm_hist(spark, sf_dir):
    """Histogram of embedding squared norms (exact int64 quantized
    ||v||², integer-divided into width-50 buckets) — the embedding-QA
    norm profile that catches un-normalized or degenerate vectors;
    zero-shuffle per-row fold + one tiny aggregation."""
    emb = _read(spark, sf_dir, "embeddings")
    n2 = F.aggregate(
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.floor(x * 100 + F.lit(0.5)).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v * v,
    )
    return emb.groupBy(
        F.floor(n2 / F.lit(50)).cast("long").alias("bucket")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_vecs"))


PL_NORM_HIST_SQL = r"""
SELECT CAST(CAST(list_sum(list_transform(
         CAST(embedding AS DOUBLE[]),
         x -> CAST(FLOOR(x * 100 + 0.5) AS BIGINT) ** 2)) AS BIGINT) // 50
       AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_vecs
FROM embeddings GROUP BY 1
"""


def q_order_gap(spark, sf_dir):
    """Repeat-order cadence: day gaps between a customer's consecutive
    orders, percentiled per market segment — customer-partitioned lag
    window (integer day gaps), one dimension join, exact
    percentile == quantile_cont on DOUBLE."""
    from pyspark.sql.window import Window

    o = _read(spark, sf_dir, "orders")
    c = _read(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    g = o.withColumn(
        "gap_days",
        F.datediff(
            F.to_date("o_orderdate"), F.lag(F.to_date("o_orderdate")).over(w)
        ).cast("long"),
    ).filter(F.col("gap_days").isNotNull())
    j = g.join(c, g["o_custkey"] == c["c_custkey"])
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.round(
            F.percentile(F.col("gap_days").cast("double"), F.lit(0.5)), 6
        ).alias("p50_days"),
        F.round(
            F.percentile(F.col("gap_days").cast("double"), F.lit(0.9)), 6
        ).alias("p90_days"),
    )


Q_ORDER_GAP_SQL = r"""
WITH g AS (
  SELECT o_custkey,
         date_diff('day',
           LAG(CAST(o_orderdate AS DATE)) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
           CAST(o_orderdate AS DATE)) AS gap_days
  FROM orders
)
SELECT c.c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_gaps,
       ROUND(quantile_cont(CAST(gap_days AS DOUBLE), 0.5), 6) AS p50_days,
       ROUND(quantile_cont(CAST(gap_days AS DOUBLE), 0.9), 6) AS p90_days
FROM g JOIN customer c ON g.o_custkey = c.c_custkey
WHERE gap_days IS NOT NULL
GROUP BY 1
"""


def st_funnel_time(spark, sf_dir):
    """Time-to-convert: signup -> first subsequent purchase per user,
    global gap percentiles (microsecond-exact gaps) — two first-touch
    aggregations and one user-keyed join; no window
    over the event stream."""
    ev = _read(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    su = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(us).alias("su_us"))
    )
    pu = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", us.alias("pu_us"))
        .join(su, "user_id")
        .filter(F.col("pu_us") >= F.col("su_us"))
        .groupBy("user_id", "su_us")
        .agg(F.min("pu_us").alias("first_pu"))
    )
    gap = F.col("first_pu") - F.col("su_us")
    return pu.select(gap.alias("gap")).agg(
        F.count(F.lit(1)).cast("long").alias("n_converted"),
        F.round(F.percentile(F.col("gap").cast("double"), F.lit(0.5)), 6).alias("p50_us"),
        F.round(F.percentile(F.col("gap").cast("double"), F.lit(0.9)), 6).alias("p90_us"),
    )


ST_FUNNEL_TIME_SQL = r"""
WITH su AS (
  SELECT user_id, MIN(epoch_us(ts)) AS su_us
  FROM events WHERE event_type = 'signup' GROUP BY 1
), pu AS (
  SELECT e.user_id, MIN(epoch_us(e.ts)) - ANY_VALUE(su.su_us) AS gap
  FROM events e JOIN su ON e.user_id = su.user_id
  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= su.su_us
  GROUP BY e.user_id, su.su_us
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
       ROUND(quantile_cont(CAST(gap AS DOUBLE), 0.5), 6) AS p50_us,
       ROUND(quantile_cont(CAST(gap AS DOUBLE), 0.9), 6) AS p90_us
FROM pu
"""


def st_anomaly_mad(spark, sf_dir):
    """Robust anomaly detection on daily event counts: median +
    median-absolute-deviation per event type (the outlier-immune twin
    of the z-score detector st_anomaly), every day flagged with
    ``n > med + 3 * mad``.  Both robust statistics are window
    aggregates SHARING one event-type partitioning over the
    (type x calendar)-sized daily table — metadata at any corpus
    scale; exact percentile == quantile_cont on DOUBLE."""
    from pyspark.sql.window import Window

    ev = _read(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    w = Window.partitionBy("event_type")
    with_med = daily.withColumn(
        "med", F.percentile(F.col("n").cast("double"), F.lit(0.5)).over(w)
    )
    with_mad = with_med.withColumn(
        "mad",
        F.percentile(
            F.abs(F.col("n") - F.col("med")), F.lit(0.5)
        ).over(w),
    )
    return with_mad.select(
        "event_type",
        "day",
        "n",
        F.round("med", 6).alias("med"),
        F.round("mad", 6).alias("mad"),
        (F.col("n") > F.col("med") + F.lit(3.0) * F.col("mad"))
        .cast("int")
        .alias("is_anomaly"),
    )


ST_ANOMALY_MAD_SQL = r"""
WITH daily AS (
  SELECT event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
         COUNT(*) AS n
  FROM events GROUP BY 1, 2
), m AS (
  SELECT event_type, day, n,
         quantile_cont(CAST(n AS DOUBLE), 0.5)
           OVER (PARTITION BY event_type) AS med
  FROM daily
), mm AS (
  SELECT event_type, day, n, med,
         quantile_cont(ABS(n - med), 0.5)
           OVER (PARTITION BY event_type) AS mad
  FROM m
)
SELECT event_type, day, CAST(n AS BIGINT) AS n,
       ROUND(med, 6) AS med, ROUND(mad, 6) AS mad,
       CAST(CASE WHEN n > med + 3.0 * mad THEN 1 ELSE 0 END AS INT)
         AS is_anomaly
FROM mm
"""


def q_customer_ltv_deciles(spark, sf_dir):
    """Customer lifetime-value deciles (ntile(10) over DECIMAL-exact
    order totals) with per-decile stats — the classic LTV report.
    The global ntile sorts the customer AGGREGATE (dimension-sized,
    not the order stream); at extreme customer counts the documented
    swap is approx_percentile decile thresholds, plan shape unchanged."""
    from pyspark.sql.window import Window

    o = _read(spark, sf_dir, "orders")
    ltv = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast(DEC)).alias("__ltv")
    )
    w = Window.orderBy(F.desc("__ltv"), F.asc("o_custkey"))
    d = ltv.withColumn("decile", F.ntile(10).over(w).cast("long"))
    return d.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.max(F.col("__ltv").cast("double")).alias("max_ltv"),
        F.min(F.col("__ltv").cast("double")).alias("min_ltv"),
        F.round(
            F.sum(F.col("__ltv")).cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_ltv"),
    )


Q_LTV_DECILES_SQL = f"""
WITH ltv AS (
  SELECT o_custkey, SUM(CAST(o_totalprice AS {DEC})) AS l
  FROM orders GROUP BY 1
), d AS (
  SELECT o_custkey, l,
         NTILE(10) OVER (ORDER BY l DESC, o_custkey) AS decile
  FROM ltv
)
SELECT CAST(decile AS BIGINT) AS decile,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(MAX(l) AS DOUBLE) AS max_ltv,
       CAST(MIN(l) AS DOUBLE) AS min_ltv,
       ROUND(CAST(SUM(l) AS DOUBLE) / COUNT(*), 6) AS avg_ltv
FROM d GROUP BY 1
"""


def pl_bigram_entropy(spark, sf_dir):
    """Conditional next-word entropy H(next | prev) per source — the
    predictability/templatedness diagnostic one level above unigram
    entropy.  One bigram count table per source (map-side combine);
    the prev-marginal is a window SHARING the (source, prev)
    partitioning (no aggregate-aggregate join); 6 dp."""
    from pyspark.sql.window import Window

    from spatialdata_spark.pipeline.filters import word_ngrams, word_tokens

    docs = _read(spark, sf_dir, "documents")
    bg = docs.select(
        "source",
        F.explode(word_ngrams(word_tokens("text"), 2)).alias("__g"),
    ).select(
        "source",
        F.substring_index(F.col("__g"), " ", 1).alias("__a"),
        F.col("__g"),
    )
    c = bg.groupBy("source", "__a", "__g").agg(
        F.count(F.lit(1)).cast("long").alias("__c")
    )
    ca = F.sum("__c").over(Window.partitionBy("source", "__a"))
    scored = c.select(
        "source",
        "__c",
        (F.col("__c") * (F.log(ca) - F.log("__c"))).alias("__t"),
    )
    return scored.groupBy("source").agg(
        F.sum("__c").cast("long").alias("n_bigrams"),
        F.round(F.sum("__t") / F.sum("__c"), 6).alias("h_cond"),
    )


PL_BIGRAM_ENTROPY_SQL = r"""
WITH toks AS (
  SELECT source, string_split_regex(LOWER(TRIM(text)), '\s+') AS ts
  FROM documents
), bg AS (
  SELECT source,
         unnest(list_transform(range(1, LEN(ts)),
                i -> ts[i] || ' ' || ts[i+1])) AS g
  FROM toks
), c AS (
  SELECT source, string_split(g, ' ')[1] AS a, g, COUNT(*) AS c
  FROM bg GROUP BY 1, 2, 3
), m AS (
  SELECT source, c,
         SUM(c) OVER (PARTITION BY source, a) AS ca
  FROM c
)
SELECT source, CAST(SUM(c) AS BIGINT) AS n_bigrams,
       ROUND(SUM(c * (LN(ca) - LN(c))) / SUM(c), 6) AS h_cond
FROM m GROUP BY 1
"""


def pl_rouge_pairs(spark, sf_dir):
    """ROUGE-2 recall between consecutive same-source documents —
    the summarization/near-dup eval metric as a pure relational plan
    (multiset bigram min-overlap / reference mass); pair list from a
    source-partitioned lead window."""
    from pyspark.sql.window import Window

    from spatialdata_spark.pipeline.dedup import rouge_recall_pairs

    docs = _read(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("doc_id")
    pairs = (
        docs.select(
            F.col("doc_id").alias("id_a"),
            F.lead("doc_id").over(w).alias("id_b"),
        )
        .filter(F.col("id_b").isNotNull())
    )
    return rouge_recall_pairs(docs, pairs, n=2)


PL_ROUGE_PAIRS_SQL = r"""
WITH pairs AS (
  SELECT doc_id AS id_a,
         LEAD(doc_id) OVER (PARTITION BY source ORDER BY doc_id) AS id_b
  FROM documents
), pr AS (SELECT id_a, id_b FROM pairs WHERE id_b IS NOT NULL),
toks AS (
  SELECT doc_id, string_split_regex(LOWER(TRIM(text)), '\s+') AS ts
  FROM documents
), grams AS (
  SELECT doc_id,
         unnest(list_transform(range(1, LEN(ts)),
                i -> ts[i] || ' ' || ts[i+1])) AS g
  FROM toks
), c AS (SELECT doc_id, g, COUNT(*) AS c FROM grams GROUP BY 1, 2),
j AS (
  SELECT pr.id_a, pr.id_b, cb.c AS cb,
         LEAST(COALESCE(ca.c, 0), cb.c) AS ov
  FROM pr JOIN c cb ON cb.doc_id = pr.id_b
       LEFT JOIN c ca ON ca.doc_id = pr.id_a AND ca.g = cb.g
)
SELECT id_a, id_b, CAST(SUM(cb) AS BIGINT) AS n_ref_grams,
       CAST(SUM(ov) AS BIGINT) AS n_overlap,
       ROUND(SUM(ov) * 1.0 / SUM(cb), 9) AS rougen_recall
FROM j GROUP BY 1, 2
"""


def q_revenue_running(spark, sf_dir):
    """Cumulative monthly revenue per nation (running-total report):
    DECIMAL-exact monthly aggregation, then one cumulative window per
    nation over the (nation x calendar)-sized monthly table —
    metadata-sized frames at any corpus scale."""
    from pyspark.sql.window import Window

    li = _read(spark, sf_dir, "lineitem")
    o = _read(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _read(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _read(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(n, c["c_nationkey"] == n["n_nationkey"])
        .groupBy(
            "n_name",
            F.date_format(F.date_trunc("month", "l_shipdate"), "yyyy-MM").alias("month"),
        )
        .agg(
            F.sum(
                F.col("l_extendedprice").cast(DEC)
                * (F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC))
            ).alias("__rev")
        )
    )
    w = (
        Window.partitionBy("n_name")
        .orderBy("month")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return rev.select(
        "n_name",
        "month",
        F.col("__rev").cast("double").alias("revenue"),
        F.sum("__rev").over(w).cast("double").alias("cum_revenue"),
    )


Q_REVENUE_RUNNING_SQL = f"""
WITH rev AS (
  SELECT n.n_name, strftime(date_trunc('month', l.l_shipdate), '%Y-%m') AS month,
         SUM(CAST(l.l_extendedprice AS {DEC})
             * (CAST(1 AS {DEC}) - CAST(l.l_discount AS {DEC}))) AS r
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1, 2
)
SELECT n_name, month, CAST(r AS DOUBLE) AS revenue,
       CAST(SUM(r) OVER (PARTITION BY n_name ORDER BY month
            ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum_revenue
FROM rev
"""


def pl_heaps_curve(spark, sf_dir):
    """Vocabulary-growth (Heaps' law) curve: new distinct types
    contributed per corpus decile (documents in id order) — the
    "how fast does the vocabulary saturate" curation diagnostic.
    First occurrence = one map-side MIN per token (vocabulary-sized);
    deciles via ntile over the document DIMENSION (the ltv-deciles
    contract); per-decile token/type sums are exact integers."""
    from pyspark.sql.window import Window

    docs = _read(spark, sf_dir, "documents")
    toks = (
        docs.select(
            "doc_id",
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("tok"),
        )
        .filter(F.col("tok") != "")
    )
    # persist: the (doc, token) tf table feeds BOTH the first-occurrence
    # rollup and the per-doc token totals — un-cached, each replays the
    # corpus tokenize (3 live scans, tools/rescan_audit.py; the doc_id
    # spine scan below stays — it is column-pruned and must include
    # token-less docs).  STATED TRADE (the mutual_information class):
    # locally 0.50 -> 1.10 s at sf0.1 because the corpus-sized cache
    # write serializes a DAG whose two replays otherwise ride spare
    # cores; at 1000 executors each replay costs a full corpus
    # scan+tokenize, so the single materialization is the correct
    # plan.  PER-CALL ACCUMULATION (the _approx_rank_bins contract):
    # LRU-reclaimed; clearCache() reclaims eagerly.
    tf = toks.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("__c")
    ).persist()
    first = tf.groupBy("tok").agg(F.min("doc_id").alias("__fd"))
    new_per_doc = first.groupBy(F.col("__fd").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("long").alias("__new")
    )
    tok_per_doc = tf.groupBy("doc_id").agg(
        F.sum("__c").cast("long").alias("__ntok")
    )
    base = (
        docs.select("doc_id")
        .join(new_per_doc, "doc_id", "left")
        .join(tok_per_doc, "doc_id", "left")
        .withColumn("decile", F.ntile(10).over(Window.orderBy("doc_id")).cast("long"))
    )
    return base.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.coalesce("__ntok", F.lit(0))).cast("long").alias("n_tokens"),
        F.sum(F.coalesce("__new", F.lit(0))).cast("long").alias("n_new_types"),
    )


PL_HEAPS_CURVE_SQL = r"""
WITH toks AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id,
           unnest(string_split_regex(LOWER(TRIM(text)), '\s+')) AS tok
    FROM documents
  ) WHERE tok <> ''
), first AS (
  SELECT tok, MIN(doc_id) AS fd FROM toks GROUP BY 1
), npd AS (
  SELECT fd AS doc_id, COUNT(*) AS n_new FROM first GROUP BY 1
), tpd AS (
  SELECT doc_id, COUNT(*) AS ntok FROM toks GROUP BY 1
), base AS (
  SELECT d.doc_id, COALESCE(npd.n_new, 0) AS n_new,
         COALESCE(tpd.ntok, 0) AS ntok,
         NTILE(10) OVER (ORDER BY d.doc_id) AS decile
  FROM documents d
  LEFT JOIN npd ON d.doc_id = npd.doc_id
  LEFT JOIN tpd ON d.doc_id = tpd.doc_id
)
SELECT CAST(decile AS BIGINT) AS decile,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(ntok) AS BIGINT) AS n_tokens,
       CAST(SUM(n_new) AS BIGINT) AS n_new_types
FROM base GROUP BY 1
"""


def q_pivot_revenue(spark, sf_dir):
    """Pivot coverage: revenue by returnflag with linestatus spread to
    columns via ``groupBy().pivot()`` with an explicit value list —
    Spark compiles it to one single-pass conditional aggregation (no
    second shuffle, no per-value scan).  DECIMAL(18,2) arithmetic."""
    li = _read(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice").cast(DEC) * (
        F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC)
    )
    piv = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.sum(rev).cast("double"))
    )
    return piv.select(
        F.col("l_returnflag").alias("returnflag"),
        F.col("F").alias("rev_F"),
        F.col("O").alias("rev_O"),
    )


Q_PIVOT_REVENUE_SQL = f"""
SELECT l_returnflag AS returnflag,
  CAST(SUM(CASE WHEN l_linestatus = 'F'
        THEN CAST(l_extendedprice AS {DEC}) *
             (CAST(1 AS {DEC}) - CAST(l_discount AS {DEC})) END) AS DOUBLE)
    AS rev_F,
  CAST(SUM(CASE WHEN l_linestatus = 'O'
        THEN CAST(l_extendedprice AS {DEC}) *
             (CAST(1 AS {DEC}) - CAST(l_discount AS {DEC})) END) AS DOUBLE)
    AS rev_O
FROM lineitem
GROUP BY 1
"""


def pl_dedup_keep_best(spark, sf_dir):
    """Near-dup clusters materialized into a KEEP decision: one
    representative per MinHash connected component (longest text,
    smallest id on ties; singletons keep themselves).  The component
    labels join back broadcast-gated and the representative falls out
    of one lexicographic struct-max aggregation (map-side partials),
    not a per-component sort.  Oracle: the recursive-CTE transitive
    closure plus the same window selection."""
    from spatialdata_spark.pipeline.dedup import dedup_keep_best

    return dedup_keep_best(
        _read(spark, sf_dir, "documents"), num_hashes=32, num_bands=8
    )


def _dedup_keep_best_sql() -> str:
    return f"""
WITH RECURSIVE cand AS ({_minhash_cand_sql()}),
edges AS (
  SELECT id_a AS a, id_b AS b FROM cand
  UNION ALL
  SELECT id_b AS a, id_a AS b FROM cand
),
cc(node, lbl) AS (
  SELECT DISTINCT a, a FROM edges
  UNION
  SELECT e.b, c.lbl FROM cc c JOIN edges e ON e.a = c.node
),
comp AS (SELECT node, MIN(lbl) AS component FROM cc GROUP BY node),
lab AS (
  SELECT COALESCE(c.component, d.doc_id) AS component, d.doc_id,
         LENGTH(d.text) AS len
  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
)
SELECT component, doc_id AS keep_id, cluster_size FROM (
  SELECT component, doc_id,
         ROW_NUMBER() OVER (PARTITION BY component
                            ORDER BY len DESC, doc_id ASC) AS rn,
         COUNT(*) OVER (PARTITION BY component) AS cluster_size
  FROM lab
) WHERE rn = 1
"""


def pl_lev_neardup(spark, sf_dir):
    """Edit-distance near-dup pairs on 60-char prefixes with lossless
    PassJoin pigeonhole segment blocking (max_distance+1 segments; a
    pair under the threshold must share one segment verbatim within a
    ±d start shift, so the (lang, length, seg_idx, seg_text) equi-join
    drops nothing).  The oracle is deliberately brute-force all-pairs
    — the hash match IS the losslessness proof on real data.
    levenshtein runs JVM-side; DuckDB ships the identical function."""
    from spatialdata_spark.pipeline.dedup import levenshtein_neardup

    out = levenshtein_neardup(
        _read(spark, sf_dir, "documents"),
        max_distance=10,
        prefix_chars=60,
    )
    return out.select("id_a", "id_b", F.col("distance").cast("long").alias("distance"))


PL_LEV_NEARDUP_SQL = """
WITH base AS (
  SELECT doc_id, lang, SUBSTRING(text, 1, 60) AS pre
  FROM documents
)
SELECT a.doc_id AS id_a, b2.doc_id AS id_b,
       CAST(levenshtein(a.pre, b2.pre) AS BIGINT) AS distance
FROM base a JOIN base b2
  ON a.lang = b2.lang AND a.doc_id < b2.doc_id
WHERE levenshtein(a.pre, b2.pre) <= 10
"""


def pl_bm25(spark, sf_dir):
    """Okapi BM25 relevance against a fixed seed-term set (the published
    Robertson-Walker function) — quality scoring of a crawl against
    curation seeds.  Token explode filters to the terms BEFORE any
    shuffle; document frequencies broadcast; corpus constants are a
    1-row cross join.  The oracle mirrors the arithmetic operation for
    operation (same literals, same association), so ROUND(6) only has
    to absorb the engines' ln() last-ulp difference."""
    from spatialdata_spark.pipeline.textstats import bm25_scores

    out = bm25_scores(
        _read(spark, sf_dir, "documents"), ["join", "spark", "vector"], k1=1.2, b=0.75
    )
    return out.select("doc_id", F.round("score", 6).alias("score"))


PL_BM25_SQL = r"""
WITH base AS (
  SELECT doc_id,
         string_split_regex(LOWER(TRIM(text)), '\s+') AS toks,
         CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
              ELSE LEN(string_split_regex(LOWER(TRIM(text)), '\s+')) END AS len
  FROM documents
),
stats AS (SELECT COUNT(*) AS n, AVG(len) AS avgdl FROM base),
tf AS (
  SELECT doc_id, len, w AS t, COUNT(*) AS tf
  FROM (SELECT doc_id, len, UNNEST(toks) AS w FROM base)
  WHERE w IN ('join', 'spark', 'vector')
  GROUP BY 1, 2, 3
),
df AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY 1)
SELECT tf.doc_id,
       ROUND(SUM(LN((n - df + 0.5) / (df + 0.5) + 1.0)
                 * (tf * (1.2 + 1.0))
                 / (tf + 1.2 * (1.0 - 0.75 + 0.75 * len / avgdl))), 6) AS score
FROM tf JOIN df USING (t), stats
GROUP BY 1
"""


def pl_chunk_overlap(spark, sf_dir):
    """Sliding-window token chunking with overlap (context-window prep):
    chunk i covers tokens [i*96, i*96+128).  Expression-only and narrow
    on the document — no shuffle anywhere in the plan."""
    from spatialdata_spark.pipeline.filters import chunk_with_overlap

    return chunk_with_overlap(
        _read(spark, sf_dir, "documents"), chunk_tokens=128, stride=96
    )


PL_CHUNK_OVERLAP_SQL = r"""
WITH base AS (
  SELECT doc_id,
         string_split_regex(LOWER(TRIM(text)), '\s+') AS toks,
         CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
              ELSE LEN(string_split_regex(LOWER(TRIM(text)), '\s+')) END AS n
  FROM documents
)
, chunks AS (
  SELECT doc_id, toks, n,
         UNNEST(generate_series(0, CAST(FLOOR((n - 1) / 96.0) AS BIGINT))) AS ci
  FROM base WHERE n > 0
)
SELECT doc_id,
       ci AS chunk_idx,
       ci * 96 AS start_tok,
       CAST(LEAST(128, n - ci * 96) AS BIGINT) AS n_chunk_tokens,
       array_to_string(toks[ci * 96 + 1 : ci * 96 + LEAST(128, n - ci * 96)], ' ') AS chunk_text
FROM chunks
"""


PL_CORPUS_STATS_SQL = r"""
SELECT source, lang, COUNT(*) AS n_docs,
       COUNT(DISTINCT md5(text)) AS n_distinct,
       ROUND(AVG(LENGTH(text)), 6) AS mean_chars,
       ROUND(AVG(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
                 ELSE LEN(string_split_regex(LOWER(TRIM(text)), '\s+')) END), 6) AS mean_tokens
FROM documents
GROUP BY source, lang
"""


def st_moving_avg(spark, sf_dir):
    """Per-user moving average over the last 4 events (rows frame) —
    ordered window aggregation."""
    from pyspark.sql.window import Window

    ev = _events(spark, sf_dir).withColumn(
        "value_micro", F.floor(F.col("value") * 1000000).cast("long")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-3, 0)
    return ev.select(
        "user_id",
        "event_id",
        (F.sum("value_micro").over(w) / F.count(F.lit(1)).over(w)).alias("mavg_micro"),
    )


ST_MOVING_AVG_SQL = """
SELECT user_id, event_id,
  SUM(CAST(FLOOR(value * 1000000) AS BIGINT)) OVER w * 1.0
    / COUNT(*) OVER w AS mavg_micro
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
"""


def st_distinct_users_daily(spark, sf_dir):
    """COUNT(DISTINCT) per day — the two-stage distinct-agg shuffle
    (partial dedup map-side, exact count reduce-side).  The HLL
    approx_count_distinct variant is unit-tested against this."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.date_trunc("day", F.col("ts")).alias("d"))
        .agg(F.countDistinct("user_id").alias("n_users"), F.count(F.lit(1)).alias("n_events"))
        .select(F.unix_timestamp("d").alias("day_epoch"), "n_users", "n_events")
    )


ST_DISTINCT_USERS_SQL = """
SELECT epoch_us(date_trunc('day', ts)) // 1000000 AS day_epoch,
  COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
FROM events GROUP BY 1
"""


def st_value_quantiles(spark, sf_dir):
    """Exact percentiles per event type (Spark `percentile` = linear
    interpolation on sorted values, same convention as DuckDB
    quantile_cont)."""
    ev = _events(spark, sf_dir).withColumn(
        "value_micro", F.floor(F.col("value") * 1000000).cast("long")
    )
    return ev.groupBy("event_type").agg(
        F.expr("percentile(value_micro, 0.5)").alias("p50"),
        F.expr("percentile(value_micro, 0.95)").alias("p95"),
    )


ST_QUANTILES_SQL = """
SELECT event_type,
  quantile_cont(CAST(FLOOR(value * 1000000) AS BIGINT), 0.5) AS p50,
  quantile_cont(CAST(FLOOR(value * 1000000) AS BIGINT), 0.95) AS p95
FROM events GROUP BY event_type
"""


def st_session_native(spark, sf_dir):
    """Native session_window (Structured-Streaming primitive, batch-run
    for the oracle) — same gap-merge semantics as the lag-based
    sessionize."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp(F.col("w.start")).alias("session_start"),
            "n_events",
        )
    )


ST_SESSION_NATIVE_SQL = """
WITH g AS (
  SELECT user_id, event_id, ts,
    CASE WHEN (epoch_us(ts) // 1000000) - LAG(epoch_us(ts) // 1000000) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800
         OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         THEN 1 ELSE 0 END AS new_session
  FROM events
), s AS (
  SELECT user_id, ts,
    CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM g
)
SELECT user_id, epoch_us(MIN(ts)) // 1000000 AS session_start, COUNT(*) AS n_events
FROM s GROUP BY user_id, session_id
"""


# -- streaming/windows ------------------------------------------------------


def st_tumbling(spark, sf_dir):
    from spatialdata_spark.streaming.windows import tumbling_window_agg

    ev = _events(spark, sf_dir).withColumn(
        "value_micro", F.floor(F.col("value") * 1000000).cast("long")
    )
    out = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value_micro").alias("total_value_micro"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n",
            "total_value_micro",
        )
    )
    _ = tumbling_window_agg  # library variant exercised in tests
    return out


ST_TUMBLING_SQL = """
SELECT epoch_us(date_trunc('hour', ts)) // 1000000 AS window_start, event_type,
  COUNT(*) AS n, CAST(SUM(CAST(FLOOR(value * 1000000) AS BIGINT)) AS BIGINT) AS total_value_micro
FROM events GROUP BY 1, 2
"""


def st_sessionize(spark, sf_dir):
    from spatialdata_spark.streaming.windows import sessionize

    return sessionize(_events(spark, sf_dir), gap_minutes=30)


ST_SESSIONIZE_SQL = """
WITH g AS (
  SELECT user_id, event_id, ts,
    CASE WHEN (epoch_us(ts) // 1000000) - LAG(epoch_us(ts) // 1000000) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800
         OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         THEN 1 ELSE 0 END AS new_session
  FROM events
), s AS (
  SELECT user_id, ts,
    CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM g
)
SELECT user_id, session_id, COUNT(*) AS n_events,
  epoch_us(MIN(ts)) // 1000000 AS session_start,
  epoch_us(MAX(ts)) // 1000000 AS session_end
FROM s GROUP BY user_id, session_id
"""


def st_sliding(spark, sf_dir):
    from spatialdata_spark.streaming.windows import sliding_window_agg

    return sliding_window_agg(_events(spark, sf_dir), width="1 hour", slide="30 minutes")


ST_SLIDING_SQL = """
WITH e AS (
  SELECT (epoch_us(ts) // 1000000 // 1800) * 1800 AS w1, event_type FROM events
), expanded AS (
  SELECT w1 AS window_start, event_type FROM e
  UNION ALL
  SELECT w1 - 1800 AS window_start, event_type FROM e
)
SELECT window_start, event_type, COUNT(*) AS n
FROM expanded GROUP BY 1, 2
"""


def st_funnel(spark, sf_dir):
    """Three-step event funnel (view -> click -> purchase, strictly
    ordered per user): per-stage user counts, as ONE events scan.

    The per-stage times are three CHAINED window minima on the same
    user partitioning (t1 = first view; t2 = first click after t1;
    t3 = first purchase after t2 — each conditional-min sees the
    previous stage's column, so the strict ordering is exact), then a
    single global aggregate counts the distinct users per stage and
    ``stack``s the 3-row report.  One corpus scan + ONE user-keyed
    exchange (the three window stages reuse the partitioning) — the
    old per-stage aggregate-join ladder scanned events six times
    (tools/rescan_audit.py) and shuffled three times."""
    from pyspark.sql.window import Window

    ev = _read(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click", "purchase")
    ).select("user_id", "ts", "event_type")
    w = Window.partitionBy("user_id")
    s1 = ev.withColumn(
        "t1", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    )
    s2 = s1.withColumn(
        "t2",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts") > F.col("t1")),
                F.col("ts"),
            )
        ).over(w),
    )
    s3 = s2.withColumn(
        "t3",
        F.min(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t2")),
                F.col("ts"),
            )
        ).over(w),
    )
    agg = s3.agg(
        F.countDistinct(F.when(F.col("t1").isNotNull(), F.col("user_id"))).alias("n1"),
        F.countDistinct(F.when(F.col("t2").isNotNull(), F.col("user_id"))).alias("n2"),
        F.countDistinct(F.when(F.col("t3").isNotNull(), F.col("user_id"))).alias("n3"),
    )
    return agg.select(
        F.expr("stack(3, 1, n1, 2, n2, 3, n3) AS (stage, n_users)")
    )


ST_FUNNEL_SQL = """
WITH v AS (SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY user_id),
c AS (
  SELECT e.user_id, MIN(e.ts) AS t2 FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, MIN(e.ts) AS t3 FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY e.user_id
)
SELECT 1 AS stage, (SELECT COUNT(*) FROM v) AS n_users
UNION ALL SELECT 2, (SELECT COUNT(*) FROM c)
UNION ALL SELECT 3, (SELECT COUNT(*) FROM p)
"""


def st_asof_attrib(spark, sf_dir):
    """As-of join (most-recent-prior attribution): each purchase
    attaches the latest view by the same user at or before it.  The
    Spark plan is NOT a join: both sides union into one stream and a
    single window over (user, ts, side) carries the latest view
    forward — one shuffle on the user key, no build side, no skew
    amplification.  Oracle: DuckDB's native ASOF LEFT JOIN."""
    from spatialdata_spark.operators.temporal import asof_join

    ev = _events(spark, sf_dir)
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_id"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    out = asof_join(purchases, views, keys=["user_id"], ts_col="ts", right_payload=["view_id"])
    p_ts = F.unix_timestamp("ts")
    v_ts = F.unix_timestamp("asof_ts")
    return out.select(
        "event_id",
        "user_id",
        p_ts.alias("p_ts"),
        v_ts.alias("v_ts"),
        F.col("r_view_id").alias("view_id"),
        (p_ts - v_ts).alias("lag_sec"),
    )


ST_ASOF_ATTRIB_SQL = """
WITH v AS (
  SELECT user_id, ts, MAX(event_id) AS view_id
  FROM events WHERE event_type = 'view' GROUP BY 1, 2
), p AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
)
SELECT p.event_id, p.user_id,
       epoch_us(p.ts) // 1000000 AS p_ts,
       epoch_us(v.ts) // 1000000 AS v_ts,
       v.view_id,
       epoch_us(p.ts) // 1000000 - epoch_us(v.ts) // 1000000 AS lag_sec
FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
"""


def st_interval_conversions(spark, sf_dir):
    """Banded interval (range) join: every (view, purchase) pair by the
    same user with the purchase inside one day after the view.  The
    left side explodes to its two touchable day-buckets, the join is a
    plain equi-join on (user, bucket), the exact microsecond predicate
    refines — work proportional to true pair density, never |L|x|R|
    per user.  Oracle: DuckDB inequality join (IEJoin)."""
    from spatialdata_spark.operators.temporal import interval_join

    ev = _events(spark, sf_dir)
    views = ev.filter(F.col("event_type") == "view").select("event_id", "user_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    out = interval_join(views, purchases, keys=["user_id"], ts_col="ts", width_seconds=86400)
    return out.select(
        "user_id",
        F.col("l_event_id").alias("view_id"),
        F.col("r_event_id").alias("purchase_id"),
        "gap_sec",
    )


ST_INTERVAL_CONVERSIONS_SQL = """
SELECT a.user_id, a.event_id AS view_id, b.event_id AS purchase_id,
       (epoch_us(b.ts) - epoch_us(a.ts)) // 1000000 AS gap_sec
FROM events a JOIN events b ON a.user_id = b.user_id
WHERE a.event_type = 'view' AND b.event_type = 'purchase'
  AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 DAY
"""


def st_retention(spark, sf_dir):
    """Cohort retention: users grouped by first-seen day; distinct
    active users per (cohort_day, day_offset) for the first week.
    The cohort map is a per-user aggregate broadcast into the event
    scan — the standard retention-triangle query."""
    ev = _read(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(F.to_date(F.min("ts")).alias("cohort_day"))
    joined = ev.join(first, "user_id").withColumn(
        "day_offset", F.datediff(F.to_date("ts"), F.col("cohort_day"))
    )
    return (
        joined.filter(F.col("day_offset").between(0, 7))
        .groupBy(F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"), "day_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


ST_RETENTION_SQL = """
WITH first AS (SELECT user_id, CAST(MIN(ts) AS DATE) AS cohort_day FROM events GROUP BY user_id)
SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
       date_diff('day', cohort_day, CAST(ts AS DATE)) AS day_offset,
       COUNT(DISTINCT e.user_id) AS n_users
FROM events e JOIN first f ON e.user_id = f.user_id
WHERE date_diff('day', cohort_day, CAST(ts AS DATE)) BETWEEN 0 AND 7
GROUP BY strftime(cohort_day, '%Y-%m-%d'), date_diff('day', cohort_day, CAST(ts AS DATE))
"""


def st_anomaly(spark, sf_dir):
    """Hourly per-type event-rate anomalies: hours whose event count
    deviates >2 sample-stddevs from that type's hourly mean.  Counts
    are integers (exact in double), the z-score is rounded so the flag
    is representation-stable across engines."""
    from pyspark.sql.window import Window

    ev = _read(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type")
    scored = hourly.select(
        "event_type",
        F.date_format("h", "yyyy-MM-dd HH:00").alias("hour"),
        "n",
        F.round((F.col("n") - F.avg("n").over(w)) / F.stddev_samp("n").over(w), 6).alias("z"),
    )
    return scored.filter(F.abs(F.col("z")) > 2.0)


ST_ANOMALY_SQL = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS n
  FROM events GROUP BY event_type, date_trunc('hour', ts)
),
scored AS (
  SELECT event_type, strftime(h, '%Y-%m-%d %H:00') AS hour, n,
         ROUND((n - AVG(n) OVER (PARTITION BY event_type))
               / stddev_samp(n) OVER (PARTITION BY event_type), 6) AS z
  FROM hourly
)
SELECT event_type, hour, n, z FROM scored WHERE ABS(z) > 2.0
"""


def st_topk_per_user(spark, sf_dir):
    from pyspark.sql.window import Window

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.col("event_id"))
    return (
        ev.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("user_id", "event_id", "value", "rank")
    )


ST_TOPK_SQL = """
SELECT user_id, event_id, value, rank FROM (
  SELECT user_id, event_id, value,
    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rank
  FROM events
) WHERE rank <= 3
"""


def pl_hash_split(spark, sf_dir):
    """Deterministic leakage-safe train/val/test split: each document's
    split is a pure function of its id (stable across runs, machines,
    repartitions, and corpus growth — unlike ``randomSplit``).  Pure
    projection, zero shuffle, fuses into the parquet scan.

    The production default buckets by ``xxhash64``; this query passes
    an explicit Knuth-multiplicative bucket (``((id mod 2^31) *
    2654435761) mod 2^31 mod 1e6`` — the inner mod keeps the product
    inside int64 at any id scale) so the assignment replays bit-exactly
    in the DuckDB oracle."""
    from spatialdata_spark.pipeline.filters import hash_split

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    bucket = (
        F.pmod(
            F.pmod(F.col("doc_id"), F.lit(2147483648)) * F.lit(2654435761),
            F.lit(2147483648),
        )
        % F.lit(1000000)
    )
    return hash_split(docs, bucket=bucket).select("doc_id", "split")


PL_HASH_SPLIT_SQL = """
SELECT doc_id,
       CASE WHEN ((doc_id % 2147483648) * 2654435761) % 2147483648 % 1000000
                 < 900000 THEN 'train'
            WHEN ((doc_id % 2147483648) * 2654435761) % 2147483648 % 1000000
                 < 950000 THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""


def pl_pagerank(spark, sf_dir):
    """PageRank (3 unrolled power iterations, damping 0.85) over the
    part<->supplier co-purchase graph from lineitem — the canonical
    iterative link-analysis workload.  Fixed-point int64 arithmetic
    throughout (integer floor division, order-free integer sums), so
    the whole iteration replays BIT-EXACTLY in the SQL oracle.

    Plan: edges distinct once and persisted with out-degrees; each
    iteration is one node-sized rank join (broadcast-gated; the 100 TB
    swap is co-partitioning edges+ranks by source key once so every
    iteration reuses the partitioning) + one map-side-combinable SUM
    per destination.  Supplier nodes are offset by 10^12 to keep the
    two key spaces disjoint at any scale factor."""
    from spatialdata_spark.pipeline.graph import pagerank

    li = _read(spark, sf_dir, "lineitem")
    fwd = li.select(
        F.col("l_partkey").cast("long").alias("src"),
        (F.col("l_suppkey").cast("long") + F.lit(1000000000000)).alias("dst"),
    ).distinct()
    edges = fwd.union(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    return pagerank(edges, k=3).withColumnRenamed("node", "node_id")


PL_PAGERANK_SQL = """
WITH fwd AS (
  SELECT DISTINCT l_partkey AS src, l_suppkey + 1000000000000 AS dst
  FROM lineitem
),
edges AS (
  SELECT src, dst FROM fwd
  UNION ALL
  SELECT dst AS src, src AS dst FROM fwd
),
nodes AS (
  SELECT src AS node FROM edges UNION SELECT dst AS node FROM edges
),
nn AS (SELECT COUNT(*) AS n FROM nodes),
deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
r0 AS (
  SELECT node, 1000000000 // nn.n AS rank_fp FROM nodes CROSS JOIN nn
),
c1 AS (
  SELECT e.dst AS node, CAST(SUM(r.rank_fp // d.outdeg) AS BIGINT) AS cin
  FROM edges e JOIN r0 r ON e.src = r.node JOIN deg d ON e.src = d.src
  GROUP BY e.dst
),
r1 AS (
  SELECT nodes.node,
         (15 * CAST(1000000000 AS BIGINT)) // (100 * nn.n)
           + (85 * COALESCE(c1.cin, 0)) // 100 AS rank_fp
  FROM nodes CROSS JOIN nn LEFT JOIN c1 ON nodes.node = c1.node
),
c2 AS (
  SELECT e.dst AS node, CAST(SUM(r.rank_fp // d.outdeg) AS BIGINT) AS cin
  FROM edges e JOIN r1 r ON e.src = r.node JOIN deg d ON e.src = d.src
  GROUP BY e.dst
),
r2 AS (
  SELECT nodes.node,
         (15 * CAST(1000000000 AS BIGINT)) // (100 * nn.n)
           + (85 * COALESCE(c2.cin, 0)) // 100 AS rank_fp
  FROM nodes CROSS JOIN nn LEFT JOIN c2 ON nodes.node = c2.node
),
c3 AS (
  SELECT e.dst AS node, CAST(SUM(r.rank_fp // d.outdeg) AS BIGINT) AS cin
  FROM edges e JOIN r2 r ON e.src = r.node JOIN deg d ON e.src = d.src
  GROUP BY e.dst
),
r3 AS (
  SELECT nodes.node,
         (15 * CAST(1000000000 AS BIGINT)) // (100 * nn.n)
           + (85 * COALESCE(c3.cin, 0)) // 100 AS rank_fp
  FROM nodes CROSS JOIN nn LEFT JOIN c3 ON nodes.node = c3.node
)
SELECT node AS node_id, CAST(rank_fp AS BIGINT) AS rank_fp FROM r3
"""


def _copurchase_edges(spark, sf_dir):
    """part–part co-purchase edges: two parts are linked iff some order
    contains both (the market-basket projection of the TPC-H fact
    table).  Pair generation is an equi-join on the order key — never
    all-pairs; TPC-H orders hold ≤7 lines, so the within-order pair
    fan-out is constant-bounded (the group-size contract stated where
    this repo generates within-group pairs).

    Persist-audit decision (r11): the distinct projection is NOT
    persisted here.  It has exactly TWO consumers (the self-join
    sides), both inside the single materialization of the consuming
    graph function's internal edge persist — a persist would trade one
    recompute for a cache write + two reads, a wash — unlike
    q_assoc_rules (four consumers, one a separate count action) and
    pl_ppr_seeds (four recomputes), which persist."""
    li = _read(spark, sf_dir, "lineitem")
    op = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").cast("long").alias("p")
    ).distinct()
    a, b = op.alias("a"), op.alias("b")
    return a.join(
        b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p"))
    ).select(F.col("a.p").alias("src"), F.col("b.p").alias("dst"))


def pl_triangles(spark, sf_dir):
    """Per-node triangle counts + local clustering coefficient over the
    part–part co-purchase graph — the degree-ordered orientation bounds
    every wedge apex's out-degree at O(sqrt(m)) (Suri & Vassilvitskii
    2011), so the count survives celebrity nodes that break the naive
    wedge join.  Counting is orientation-invariant, hence the oracle
    replays the same exact integers with the simpler id-ordering."""
    from spatialdata_spark.pipeline.graph import triangle_count

    return triangle_count(_copurchase_edges(spark, sf_dir))


PL_TRIANGLES_SQL = """
WITH op AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS o, CAST(l_partkey AS BIGINT) AS p FROM lineitem
),
und AS MATERIALIZED (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
),
deg AS MATERIALIZED (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS degree
  FROM (SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und)
  GROUP BY 1
),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM und e1
  JOIN und e2 ON e1.v = e2.u
  JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v
),
pern AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS t
  FROM (SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri)
  GROUP BY 1
)
SELECT deg.node AS node_id, degree,
       COALESCE(t, 0) AS n_triangles,
       CASE WHEN degree >= 2
            THEN ROUND(2.0 * COALESCE(t, 0) / (degree * (degree - 1)), 6)
       END AS clustering
FROM deg LEFT JOIN pern USING (node)
"""


def pl_graph_stats(spark, sf_dir):
    """Whole-graph summary of the co-purchase graph: node/edge/wedge/
    triangle counts, global transitivity, and Newman degree
    assortativity — every sufficient statistic an order-free
    DECIMAL(38,0) integer sum, the two final ratios one deterministic
    double division each."""
    from spatialdata_spark.pipeline.graph import graph_stats

    return graph_stats(_copurchase_edges(spark, sf_dir))


PL_GRAPH_STATS_SQL = """
WITH op AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS o, CAST(l_partkey AS BIGINT) AS p FROM lineitem
),
und AS MATERIALIZED (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
),
deg AS MATERIALIZED (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und)
  GROUP BY 1
),
ns AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
         -- integer division: DuckDB's / on integers returns DOUBLE,
         -- which is only exact below 2^53 wedges; // keeps the count
         -- (and the transitivity denominator) exact end to end
         SUM(d * (d - 1)) // 2 AS n_wedges
  FROM deg
),
tri AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
  FROM und e1
  JOIN und e2 ON e1.v = e2.u
  JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v
),
dc AS MATERIALIZED (
  SELECT u, v FROM und UNION ALL SELECT v AS u, u AS v FROM und
),
es AS (
  SELECT COUNT(*) AS m2,
         SUM(du.d) AS sx,
         SUM(du.d * du.d) AS sxx,
         SUM(du.d * dv.d) AS sxy
  FROM dc
  JOIN deg du ON dc.u = du.node
  JOIN deg dv ON dc.v = dv.node
)
SELECT n_nodes,
       CAST(m2 // 2 AS BIGINT) AS n_edges,
       CAST(n_wedges AS BIGINT) AS n_wedges,
       n_triangles,
       CASE WHEN n_wedges > 0
            THEN ROUND(3.0 * n_triangles / CAST(n_wedges AS DOUBLE), 6)
       END AS transitivity,
       CASE WHEN m2 * sxx - sx * sx <> 0
            THEN ROUND(CAST(m2 * sxy - sx * sx AS DOUBLE)
                       / CAST(m2 * sxx - sx * sx AS DOUBLE), 6)
       END AS assortativity
FROM ns, tri, es
"""


def pl_target_encode(spark, sf_dir):
    """Leakage-safe k-fold target encoding of event_type against the
    high-value label: out-of-fold m-estimate means, fold = a pure hash
    of the id (Knuth multiplicative here so the assignment replays
    bit-exactly in the oracle; production default xxhash64).  One
    corpus aggregation to the (category, fold) table + one broadcast
    join back — the corpus never shuffles."""
    from spatialdata_spark.pipeline.classify import target_encode_kfold

    ev = _read(spark, sf_dir, "events").select(
        "event_id", "event_type", (F.col("value") > 100).cast("int").alias("label")
    )
    fold = F.pmod(
        F.pmod(
            F.pmod(F.col("event_id"), F.lit(2147483648)) * F.lit(2654435761),
            F.lit(2147483648),
        ),
        F.lit(5),
    )
    return target_encode_kfold(
        ev, "event_type", "label", n_folds=5, prior_weight=20,
        id_col="event_id", fold=fold,
    )


PL_TARGET_ENCODE_SQL = """
WITH r AS (
  SELECT event_id, event_type AS cat,
         CASE WHEN value > 100 THEN 1 ELSE 0 END AS y,
         ((event_id % 2147483648) * 2654435761) % 2147483648 % 5 AS fold
  FROM events
),
cf AS (
  SELECT cat, fold, CAST(COUNT(*) AS BIGINT) AS n_cf,
         CAST(SUM(y) AS BIGINT) AS s_cf
  FROM r GROUP BY 1, 2
),
c AS (
  SELECT cat, CAST(SUM(n_cf) AS BIGINT) AS n_c,
         CAST(SUM(s_cf) AS BIGINT) AS s_c
  FROM cf GROUP BY 1
),
g AS (
  SELECT CAST(SUM(n_cf) AS BIGINT) AS n, CAST(SUM(s_cf) AS BIGINT) AS s
  FROM cf
),
oof AS (
  SELECT cf.cat, cf.fold,
         n_c - n_cf AS n_oof, s_c - s_cf AS s_oof,
         s / n AS prior
  FROM cf JOIN c USING (cat), g
)
SELECT r.event_id, r.cat AS event_type,
       CAST(r.fold AS BIGINT) AS fold,
       CAST(oof.n_oof AS BIGINT) AS n_oof,
       ROUND((oof.s_oof + 20 * oof.prior) / (oof.n_oof + 20), 6) AS te
FROM r JOIN oof ON r.cat = oof.cat AND r.fold = oof.fold
"""


def pl_woe_iv(spark, sf_dir):
    """Weight-of-evidence / information-value table of source against
    is-English (Siddiqi's scorecard standard, the categorical predictor
    strength screen) — one conditional-count aggregation + a 1-row
    totals cross join; iv_part per category so no order-dependent float
    sum enters the contract."""
    from spatialdata_spark.pipeline.classify import woe_iv

    docs = _read(spark, sf_dir, "documents").select(
        "source", (F.col("lang") == "en").cast("int").alias("label")
    )
    return woe_iv(docs, "source", "label")


PL_WOE_IV_SQL = """
WITH per AS (
  SELECT source AS category,
         CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         CAST(SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS n_neg
  FROM documents WHERE lang IS NOT NULL GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(n_pos) AS BIGINT) AS p, CAST(SUM(n_neg) AS BIGINT) AS q,
         CAST(COUNT(*) AS BIGINT) AS k
  FROM per
)
SELECT category, n_pos, n_neg,
       ROUND(LN(((n_pos + 0.5) / (p + 0.5 * k))
                / ((n_neg + 0.5) / (q + 0.5 * k))), 6) AS woe,
       ROUND((((n_pos + 0.5) / (p + 0.5 * k))
              - ((n_neg + 0.5) / (q + 0.5 * k)))
             * LN(((n_pos + 0.5) / (p + 0.5 * k))
                  / ((n_neg + 0.5) / (q + 0.5 * k))), 6) AS iv_part
FROM per, tot
"""


def pl_link_pred(spark, sf_dir):
    """Link prediction over the co-purchase graph: the top-100 non-edge
    pairs at distance 2 by common-neighbor count, with preferential-
    attachment and neighborhood-Jaccard features.  Candidates enumerate
    per common neighbor with a degree cap (hub wedges are quadratic and
    carry no signal — the standard mitigation); the final cut is a
    total-order orderBy().limit() that Spark runs as per-partition
    top-n, never a full sort of the wedge-sized candidate table."""
    from spatialdata_spark.pipeline.graph import link_prediction

    return link_prediction(_copurchase_edges(spark, sf_dir), max_degree=1000, top_n=100)


PL_LINK_PRED_SQL = """
WITH op AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS o, CAST(l_partkey AS BIGINT) AS p FROM lineitem
),
und AS MATERIALIZED (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
),
deg AS MATERIALIZED (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und)
  GROUP BY 1
),
nbrs AS MATERIALIZED (
  SELECT u AS w, v AS x FROM und UNION ALL SELECT v AS w, u AS x FROM und
),
nb2 AS MATERIALIZED (
  SELECT nbrs.w, nbrs.x
  FROM nbrs JOIN deg ON nbrs.w = deg.node AND deg.d <= 1000
),
cand AS (
  SELECT a.x AS x, b.x AS y, CAST(COUNT(*) AS BIGINT) AS cn
  FROM nb2 a JOIN nb2 b ON a.w = b.w AND a.x < b.x
  GROUP BY 1, 2
),
ne AS (
  SELECT cand.x, cand.y, cand.cn
  FROM cand LEFT JOIN und ON cand.x = und.u AND cand.y = und.v
  WHERE und.u IS NULL
)
SELECT ne.x, ne.y, ne.cn AS common_neighbors,
       dx.d AS deg_x, dy.d AS deg_y,
       CAST(dx.d * dy.d AS BIGINT) AS pref_attachment,
       ROUND(ne.cn * 1.0 / (dx.d + dy.d - ne.cn), 6) AS jaccard
FROM ne
JOIN deg dx ON ne.x = dx.node
JOIN deg dy ON ne.y = dy.node
ORDER BY common_neighbors DESC, ne.x, ne.y
LIMIT 100
"""


def pl_random_walks(spark, sf_dir):
    """Deterministic uniform random-walk corpus (DeepWalk sampling) over
    the co-purchase graph: 1 walk of 4 steps per node, the step choice a
    pure Knuth-mix hash of (node, step, walk, salt) — bit-reproducible
    under task retry and in the oracle; each step is one broadcast-gated
    degree lookup + one (node, idx) equi-join against the id-sorted
    adjacency (co-partition adjacency by node at scale)."""
    from spatialdata_spark.pipeline.graph import random_walks

    return random_walks(
        _copurchase_edges(spark, sf_dir), walk_len=4, walks_per_node=1, salt=42
    )


def _random_walks_sql(walk_len: int = 4, walks_per_node: int = 1, salt: int = 42) -> str:
    step_ctes = []
    unions = ["SELECT start, walk_no, CAST(0 AS BIGINT) AS step, node FROM w0"]
    for t in range(1, walk_len + 1):
        h0 = (
            f"(((c.node % 2147483648) * 2654435761 + {t} * 40503"
            f" + c.walk_no * 69069 + {salt}) % 2147483648)"
        )
        step_ctes.append(
            f"""w{t} AS MATERIALIZED (
  SELECT c.start, c.walk_no, a.nbr AS node
  FROM w{t - 1} c
  JOIN deg d ON c.node = d.node
  JOIN adj a ON a.node = c.node
   AND a.idx = ({h0} * 2654435761) % 2147483648 % d.deg
)"""
        )
        unions.append(
            f"SELECT start, walk_no, CAST({t} AS BIGINT) AS step, node FROM w{t}"
        )
    return f"""
WITH op AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS o, CAST(l_partkey AS BIGINT) AS p FROM lineitem
),
und AS MATERIALIZED (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
),
adj0 AS MATERIALIZED (
  SELECT u AS node, v AS nbr FROM und
  UNION ALL SELECT v AS node, u AS nbr FROM und
),
adj AS MATERIALIZED (
  SELECT node, nbr,
         ROW_NUMBER() OVER (PARTITION BY node ORDER BY nbr) - 1 AS idx
  FROM adj0
),
deg AS MATERIALIZED (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM adj0 GROUP BY 1),
w0 AS MATERIALIZED (
  SELECT deg.node AS start, t.walk_no, deg.node AS node
  FROM deg, (SELECT UNNEST(range({walks_per_node})) AS walk_no) t
),
{",".join(step_ctes)}
{" UNION ALL ".join(unions)}
"""


def pl_kcore(spark, sf_dir):
    """Bounded-round k-core peeling of the co-purchase graph (3 rounds,
    k=60) by DEAD-NODE DECREMENTS: the standing state is the node-sized
    (node, degree) table; each round semi-joins only the just-peeled
    nodes against the once-persisted adjacency and subtracts the
    vanished edges — per-round work proportional to dead-incident
    edges, bit-identical to the oracle's recompute-from-scratch CTE
    pairs (the cross-check that the decrement algebra is right)."""
    from spatialdata_spark.pipeline.graph import kcore_rounds

    return kcore_rounds(_copurchase_edges(spark, sf_dir), k_core=60, rounds=3)


def _kcore_sql(k: int = 60, rounds: int = 3) -> str:
    # every CTE is MATERIALIZED: each a{r} / live{r} is referenced
    # twice by the next round, and an engine that inlines CTEs
    # (DuckDB default) would re-compute the whole chain below it per
    # reference — exponential in rounds (measured: 45 GB of spill at
    # sf0.1 before the fix; materialized, the replay is sub-second)
    ctes = [
        """op AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS o, CAST(l_partkey AS BIGINT) AS p FROM lineitem
)""",
        """und AS MATERIALIZED (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
)""",
        """a0 AS MATERIALIZED (
  SELECT DISTINCT node
  FROM (SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und)
)""",
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"""live{r} AS MATERIALIZED (
  SELECT und.u, und.v FROM und
  JOIN a{r - 1} x ON und.u = x.node
  JOIN a{r - 1} y ON und.v = y.node
)"""
        )
        ctes.append(
            f"""a{r} AS MATERIALIZED (
  SELECT node
  FROM (SELECT u AS node FROM live{r} UNION ALL SELECT v AS node FROM live{r})
  GROUP BY 1 HAVING COUNT(*) >= {k}
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
fin AS (
  SELECT und.u, und.v FROM und
  JOIN a{rounds} x ON und.u = x.node
  JOIN a{rounds} y ON und.v = y.node
),
findeg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS degree
  FROM (SELECT u AS node FROM fin UNION ALL SELECT v AS node FROM fin)
  GROUP BY 1
)
-- superset contract, mirroring the Spark side's alive.join(deg_live,
-- 'node', 'left'): a round-{rounds} survivor whose every neighbor was
-- peeled in the final cut is still reported, with degree 0
SELECT a.node, COALESCE(findeg.degree, CAST(0 AS BIGINT)) AS degree
FROM a{rounds} a LEFT JOIN findeg ON a.node = findeg.node
"""
    )


def pl_hop_dist(spark, sf_dir):
    """Multi-source BFS hop distances (2 unrolled rounds) from 5 seed
    parts over the co-purchase graph — frontier⋈edges + order-free MIN
    merge per round; the distance table is bounded by seeds x reachable
    nodes (all-pairs deliberately not offered)."""
    from spatialdata_spark.pipeline.graph import hop_distances

    return hop_distances(
        _copurchase_edges(spark, sf_dir), seeds=[1, 2, 3, 4, 5], max_hops=2
    )


def _hop_dist_sql(seeds=(1, 2, 3, 4, 5), max_hops: int = 2) -> str:
    vals = ", ".join(f"({s})" for s in seeds)
    # MATERIALIZED for the same reason as _kcore_sql: d{h-1} is
    # referenced twice per hop — inlining would re-derive the whole
    # chain (and und under it) exponentially
    ctes = [
        """op AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS o, CAST(l_partkey AS BIGINT) AS p FROM lineitem
)""",
        """und AS MATERIALIZED (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
)""",
        """adj AS MATERIALIZED (
  SELECT u AS node, v AS nbr FROM und
  UNION ALL SELECT v AS node, u AS nbr FROM und
)""",
        f"""d0 AS MATERIALIZED (
  SELECT CAST(seed AS BIGINT) AS seed, CAST(seed AS BIGINT) AS node,
         CAST(0 AS BIGINT) AS dist
  FROM (VALUES {vals}) t(seed)
)""",
    ]
    for h in range(1, max_hops + 1):
        ctes.append(
            f"""d{h} AS MATERIALIZED (
  SELECT seed, node, CAST(MIN(dist) AS BIGINT) AS dist
  FROM (
    SELECT seed, node, dist FROM d{h - 1}
    UNION ALL
    SELECT d{h - 1}.seed, adj.nbr AS node, d{h - 1}.dist + 1 AS dist
    FROM d{h - 1} JOIN adj ON d{h - 1}.node = adj.node
  )
  GROUP BY 1, 2
)"""
        )
    return (
        "WITH " + ",\n".join(ctes) + f"\nSELECT seed, node, dist FROM d{max_hops}\n"
    )


def pl_modularity(spark, sf_dir):
    """Newman-Girvan modularity of the BRAND labeling over the
    part–part co-purchase graph ("do same-brand parts co-purchase?")
    — exact rational form: numerator and denominator are order-free
    integer sums riding along the output as BIGINT (DECIMAL(38,0) only
    INSIDE the aggregation; raw DECIMAL output is a cross-engine hash
    hazard — DuckDB materializes it as float64, Spark as Decimal
    objects); the score itself is ``modularity_e6``, exact integer
    microunits (half-up, away from zero) so the contract has NO
    floating point and NO decimal at the edge."""
    from spatialdata_spark.pipeline.graph import modularity

    labels = _read(spark, sf_dir, "part").select(
        F.col("p_partkey").cast("long").alias("node"),
        F.col("p_brand").alias("label"),
    )
    return modularity(_copurchase_edges(spark, sf_dir), labels)


PL_MODULARITY_SQL = """
WITH op AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS o, CAST(l_partkey AS BIGINT) AS p FROM lineitem
),
und AS MATERIALIZED (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
),
lab AS (SELECT CAST(p_partkey AS BIGINT) AS node, p_brand AS l FROM part),
j AS MATERIALIZED (
  SELECT lu.l AS lu, lv.l AS lv
  FROM und JOIN lab lu ON und.u = lu.node JOIN lab lv ON und.v = lv.node
),
base AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m,
         CAST(COALESCE(SUM(CASE WHEN lu = lv THEN 1 END), 0) AS BIGINT) AS i
  FROM j
),
degc AS (
  SELECT CAST(SUM(d * d) AS HUGEINT) AS sd2
  FROM (
    SELECT c, CAST(COUNT(*) AS BIGINT) AS d
    FROM (SELECT lu AS c FROM j UNION ALL SELECT lv AS c FROM j)
    GROUP BY 1
  )
),
rat AS (
  SELECT m,
         4 * CAST(m AS HUGEINT) * i - sd2 AS qn,
         4 * CAST(m AS HUGEINT) * m AS qd
  FROM base, degc
)
SELECT m,
       CAST(qn AS BIGINT) AS q_num,
       CAST(qd AS BIGINT) AS q_den,
       CASE WHEN m > 0 THEN CAST(
         (CASE WHEN qn < 0 THEN -1 ELSE 1 END)
         * ((2 * ABS(qn) * 1000000 + qd) // (2 * qd))
       AS BIGINT) END AS modularity_e6
FROM rat
"""


def pl_lift(spark, sf_dir):
    """Cumulative gains / lift table (top decile first) for the exact-
    integer length-vs-English framing — the keep-the-top-X% curation
    report; lift in the cross-multiplied DECIMAL form so the replay is
    exact."""
    from spatialdata_spark.pipeline.classify import lift_table

    docs = _read(spark, sf_dir, "documents").select(
        F.col("doc_id"),
        F.col("n_chars").alias("llr_mean"),
        (F.col("lang") == "en").cast("int").alias("label"),
    )
    return lift_table(docs, n_bins=10)


PL_LIFT_SQL = """
WITH s AS (
  SELECT doc_id,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         NTILE(10) OVER (ORDER BY n_chars DESC, doc_id) AS bin
  FROM documents WHERE n_chars IS NOT NULL
),
per AS (
  SELECT CAST(bin AS BIGINT) AS bin,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(y) AS BIGINT) AS n_pos
  FROM s GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(n_docs) AS BIGINT) AS td, CAST(SUM(n_pos) AS BIGINT) AS tp
  FROM per
),
cum AS (
  SELECT bin, n_docs, n_pos,
         CAST(SUM(n_docs) OVER (ORDER BY bin) AS BIGINT) AS cum_docs,
         CAST(SUM(n_pos) OVER (ORDER BY bin) AS BIGINT) AS cum_pos
  FROM per
)
SELECT bin, n_docs, n_pos, cum_docs, cum_pos,
       CASE WHEN tp > 0 THEN ROUND(cum_pos * 1.0 / tp, 6) END AS gain,
       CASE WHEN tp > 0 AND cum_docs > 0 THEN
         ROUND(CAST(CAST(cum_pos AS HUGEINT) * td AS DOUBLE)
               / CAST(CAST(cum_docs AS HUGEINT) * tp AS DOUBLE), 6)
       END AS lift
FROM cum, tot
"""


def pl_ppr_seeds(spark, sf_dir):
    """Personalized weighted PageRank: importance RELATIVE to 5 seed
    parts over the co-purchase graph, edge weight = shared-order count
    (the natural co-purchase strength).  Fixed-point integer floor
    arithmetic end-to-end — rank splits (rank·w)//W_u, teleport lands
    only on the seeds — so 2 unrolled iterations replay bit-exactly."""
    from pyspark import StorageLevel

    from spatialdata_spark.pipeline.graph import pagerank_weighted

    li = _read(spark, sf_dir, "lineitem")
    # persisted: the op self-join feeds BOTH arms of the und union, so
    # an unpersisted distinct would recompute the lineitem scan 4x
    # before pagerank_weighted's internal edge persist materializes
    op = (
        li.select(
            F.col("l_orderkey").alias("o"), F.col("l_partkey").cast("long").alias("p")
        )
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    a, b = op.alias("a"), op.alias("b")
    und = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .groupBy(F.col("a.p").alias("src"), F.col("b.p").alias("dst"))
        .agg(F.count(F.lit(1)).cast("long").alias("weight"))
    )
    edges = und.union(
        und.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "weight")
    )
    return pagerank_weighted(
        edges, k=2, seeds=[1, 2, 3, 4, 5]
    ).withColumnRenamed("node", "node_id")


def _ppr_seeds_sql(k: int = 2, scale: int = 10**9, seeds=(1, 2, 3, 4, 5)) -> str:
    n_tele = len(set(seeds))
    vals = ", ".join(f"({s})" for s in seeds)
    base = f"((15 * CAST({scale} AS BIGINT)) // (100 * {n_tele}))"
    ctes = [
        """op AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS o, CAST(l_partkey AS BIGINT) AS p FROM lineitem
)""",
        """und AS MATERIALIZED (
  SELECT a.p AS src, b.p AS dst, CAST(COUNT(*) AS BIGINT) AS w
  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
  GROUP BY 1, 2
)""",
        """edges AS MATERIALIZED (
  SELECT src, dst, w FROM und
  UNION ALL SELECT dst AS src, src AS dst, w FROM und
)""",
        """nodes AS MATERIALIZED (
  SELECT DISTINCT src AS node FROM edges
)""",
        f"""sd AS (SELECT CAST(seed AS BIGINT) AS node FROM (VALUES {vals}) t(seed))""",
        """wsum AS MATERIALIZED (
  SELECT src, CAST(SUM(w) AS BIGINT) AS W FROM edges GROUP BY 1
)""",
        f"""r0 AS MATERIALIZED (
  SELECT nodes.node,
         CASE WHEN sd.node IS NOT NULL
              THEN CAST({scale} // {n_tele} AS BIGINT) ELSE 0 END AS rank_fp
  FROM nodes LEFT JOIN sd ON nodes.node = sd.node
)""",
    ]
    for t in range(1, k + 1):
        ctes.append(
            f"""c{t} AS MATERIALIZED (
  SELECT e.dst AS node, CAST(SUM((r.rank_fp * e.w) // d.W) AS BIGINT) AS cin
  FROM edges e
  JOIN r{t - 1} r ON e.src = r.node
  JOIN wsum d ON e.src = d.src
  GROUP BY e.dst
)"""
        )
        ctes.append(
            f"""r{t} AS MATERIALIZED (
  SELECT nodes.node,
         CAST(CASE WHEN sd.node IS NOT NULL THEN {base} ELSE 0 END
              + (85 * COALESCE(c{t}.cin, 0)) // 100 AS BIGINT) AS rank_fp
  FROM nodes
  LEFT JOIN sd ON nodes.node = sd.node
  LEFT JOIN c{t} ON nodes.node = c{t}.node
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT node AS node_id, rank_fp FROM r{k}\n"
    )


def pl_hits(spark, sf_dir):
    """Fixed-point HITS over the DIRECTED bipartite part->supplier
    edges — parts score as hubs, suppliers as authorities, in one pass
    (PageRank needs the symmetrized walk for this).  DECIMAL sums +
    integer floor max-normalization per round: deterministic,
    bit-replayable in a generated per-round CTE oracle."""
    from spatialdata_spark.pipeline.graph import hits

    li = _read(spark, sf_dir, "lineitem")
    fwd = li.select(
        F.col("l_partkey").cast("long").alias("src"),
        (F.col("l_suppkey").cast("long") + F.lit(1000000000000)).alias("dst"),
    ).distinct()
    return hits(fwd, k=3).withColumnRenamed("node", "node_id")


def _hits_sql(k: int = 3, scale: int = 10**6) -> str:
    ctes = [
        """edges AS MATERIALIZED (
  SELECT DISTINCT CAST(l_partkey AS BIGINT) AS src,
         CAST(l_suppkey AS BIGINT) + 1000000000000 AS dst
  FROM lineitem
)""",
        """nodes AS MATERIALIZED (
  SELECT src AS node FROM edges UNION SELECT dst AS node FROM edges
)""",
        f"""h0 AS MATERIALIZED (
  SELECT node, CAST({scale} AS BIGINT) AS h FROM nodes
)""",
    ]
    for t in range(1, k + 1):
        ctes.append(
            f"""ar{t} AS MATERIALIZED (
  SELECT e.dst AS node, CAST(SUM(r.h) AS HUGEINT) AS s
  FROM edges e JOIN h{t - 1} r ON e.src = r.node
  GROUP BY 1
)"""
        )
        ctes.append(f"am{t} AS (SELECT MAX(s) AS mx FROM ar{t})")
        ctes.append(
            f"""a{t} AS MATERIALIZED (
  SELECT nodes.node,
         CAST(COALESCE((ar{t}.s * {scale}) // am{t}.mx, 0) AS BIGINT) AS a
  FROM nodes CROSS JOIN am{t}
  LEFT JOIN ar{t} ON nodes.node = ar{t}.node
)"""
        )
        ctes.append(
            f"""hr{t} AS MATERIALIZED (
  SELECT e.src AS node, CAST(SUM(r.a) AS HUGEINT) AS s
  FROM edges e JOIN a{t} r ON e.dst = r.node
  GROUP BY 1
)"""
        )
        ctes.append(f"hm{t} AS (SELECT MAX(s) AS mx FROM hr{t})")
        ctes.append(
            f"""h{t} AS MATERIALIZED (
  SELECT nodes.node,
         CAST(COALESCE((hr{t}.s * {scale}) // hm{t}.mx, 0) AS BIGINT) AS h
  FROM nodes CROSS JOIN hm{t}
  LEFT JOIN hr{t} ON nodes.node = hr{t}.node
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT h{k}.node AS node_id, h{k}.h AS hub_fp, a{k}.a AS auth_fp
FROM h{k} JOIN a{k} ON h{k}.node = a{k}.node
"""
    )


def pl_bootstrap_ci(spark, sf_dir):
    """Percentile bootstrap CI for the mean document length by the
    POISSON BOOTSTRAP (100 deterministic hash-driven replicates — the
    at-scale substitute for multinomial resampling); the Knuth-
    multiplicative bucket makes the resamples replay bit-exactly in
    the oracle (production default xxhash64)."""
    from spatialdata_spark.pipeline.classify import poisson_bootstrap_ci

    def bucket(idc, bc):
        return F.pmod(
            F.pmod(
                F.pmod(idc * 1000003 + bc * 10007 + 77, F.lit(2147483648))
                * F.lit(2654435761),
                F.lit(2147483648),
            ),
            F.lit(1000000),
        )

    return poisson_bootstrap_ci(
        _read(spark, sf_dir, "documents"),
        "n_chars",
        n_boot=100,
        alpha=0.05,
        bucket_of=bucket,
    )


def _bootstrap_ci_sql(n_boot: int = 100) -> str:
    from spatialdata_spark.pipeline.classify import _POISSON1_CDF_M6

    m_case = "CASE " + " ".join(
        f"WHEN u < {thr} THEN {i}" for i, thr in enumerate(_POISSON1_CDF_M6)
    ) + " ELSE 6 END"
    return f"""
WITH b AS MATERIALIZED (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS x, bb
  FROM documents, (SELECT UNNEST(range(1, {n_boot} + 1)) AS bb)
),
u0 AS MATERIALIZED (
  SELECT bb, x,
         ((doc_id * 1000003 + bb * 10007 + 77) % 2147483648)
           * 2654435761 % 2147483648 % 1000000 AS u
  FROM b
),
reps AS MATERIALIZED (
  SELECT bb,
         CAST(SUM(m) AS HUGEINT) AS n,
         CAST(SUM(m * x) AS HUGEINT) AS s
  FROM (SELECT bb, x, {m_case} AS m FROM u0)
  GROUP BY 1
  HAVING SUM(m) > 0
),
means AS MATERIALIZED (
  SELECT bb, CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean FROM reps
),
cnt AS (SELECT COUNT(*) AS c FROM means),
pos AS (
  SELECT GREATEST(1, CAST(FLOOR((c + 1) * 0.025) AS BIGINT)) AS lo_r,
         LEAST(c, CAST(CEIL((c + 1) * 0.975) AS BIGINT)) AS hi_r
  FROM cnt
),
ranked AS (
  SELECT mean, ROW_NUMBER() OVER (ORDER BY mean, bb) AS rr FROM means
),
fl AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         ROUND(CAST(SUM(CAST(n_chars AS HUGEINT)) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE), 6) AS mean
  FROM documents
)
SELECT fl.n_rows, fl.mean,
       CAST({n_boot} AS BIGINT) AS n_boot,
       ROUND((SELECT mean FROM ranked, pos WHERE rr = lo_r), 6) AS ci_lo,
       ROUND((SELECT mean FROM ranked, pos WHERE rr = hi_r), 6) AS ci_hi
FROM fl
"""


def pl_confusion(spark, sf_dir):
    """Per-class confusion statistics of the stopword-vote language-ID
    heuristic against the true lang column — exact tp/fp/fn counts,
    6-dp precision/recall/f1; one class²-sized confusion aggregation,
    the corpus scanned once."""
    from spatialdata_spark.pipeline.classify import confusion_stats
    from spatialdata_spark.pipeline.textstats import language_id

    docs = _read(spark, sf_dir, "documents")
    preds = language_id(docs).select("doc_id", "lang_pred")
    j = docs.select("doc_id", "lang").join(preds, "doc_id")
    return confusion_stats(j, label_col="lang", pred_col="lang_pred")


def _confusion_sql() -> str:
    return f"""
WITH {_lid_pred_ctes()},
j AS MATERIALIZED (
  SELECT d.lang AS t, pred.p
  FROM documents d JOIN pred ON d.doc_id = pred.doc_id
),
m AS MATERIALIZED (
  SELECT t, p, CAST(COUNT(*) AS BIGINT) AS n FROM j GROUP BY 1, 2
),
cls AS (
  SELECT DISTINCT t AS class FROM m
  UNION SELECT DISTINCT p AS class FROM m
),
tpc AS (SELECT t AS class, n AS tp FROM m WHERE t = p),
tr AS (SELECT t AS class, CAST(SUM(n) AS BIGINT) AS nt FROM m GROUP BY 1),
pr AS (SELECT p AS class, CAST(SUM(n) AS BIGINT) AS np FROM m GROUP BY 1)
SELECT cls.class,
  CAST(COALESCE(tpc.tp, 0) AS BIGINT) AS tp,
  CAST(COALESCE(pr.np, 0) - COALESCE(tpc.tp, 0) AS BIGINT) AS fp,
  CAST(COALESCE(tr.nt, 0) - COALESCE(tpc.tp, 0) AS BIGINT) AS fn,
  CASE WHEN pr.np > 0
       THEN ROUND(COALESCE(tpc.tp, 0) * 1.0 / pr.np, 6) END AS "precision",
  CASE WHEN tr.nt > 0
       THEN ROUND(COALESCE(tpc.tp, 0) * 1.0 / tr.nt, 6) END AS recall,
  CASE WHEN pr.np > 0 AND tr.nt > 0
       THEN ROUND(2.0 * COALESCE(tpc.tp, 0) / (pr.np + tr.nt), 6) END AS f1
FROM cls
LEFT JOIN tpc ON cls.class = tpc.class
LEFT JOIN tr ON cls.class = tr.class
LEFT JOIN pr ON cls.class = pr.class
"""


def pl_kappa(spark, sf_dir):
    """Cohen's kappa between the language-ID heuristic and the true
    lang label (chance-corrected agreement — the redundancy check
    before trusting two cheap labelers to cross-validate): everything
    up to one final division stays in DECIMAL(38,0) integer sums."""
    from spatialdata_spark.pipeline.classify import cohens_kappa
    from spatialdata_spark.pipeline.textstats import language_id

    docs = _read(spark, sf_dir, "documents")
    preds = language_id(docs).select("doc_id", "lang_pred")
    j = docs.select("doc_id", "lang").join(preds, "doc_id")
    return cohens_kappa(j, "lang_pred", "lang")


def _kappa_sql() -> str:
    return f"""
WITH {_lid_pred_ctes()},
j AS MATERIALIZED (
  -- cohens_kappa drops rows where either rater is NULL (the
  -- confusion_stats convention); both columns are non-NULL in this
  -- dataset but the contract stays aligned
  SELECT pred.p AS a, d.lang AS b
  FROM documents d JOIN pred ON d.doc_id = pred.doc_id
  WHERE pred.p IS NOT NULL AND d.lang IS NOT NULL
),
m AS MATERIALIZED (
  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n FROM j GROUP BY 1, 2
),
am AS (SELECT a AS k, CAST(SUM(n) AS BIGINT) AS ka FROM m GROUP BY 1),
bm AS (SELECT b AS k, CAST(SUM(n) AS BIGINT) AS kb FROM m GROUP BY 1),
cr AS (
  SELECT COALESCE(am.ka, 0) * COALESCE(bm.kb, 0) AS ab
  FROM am FULL OUTER JOIN bm ON am.k = bm.k
),
st AS (
  SELECT (SELECT CAST(SUM(n) AS BIGINT) FROM m) AS t,
         (SELECT CAST(COALESCE(SUM(n), 0) AS BIGINT) FROM m WHERE a = b) AS agree,
         (SELECT SUM(ab) FROM cr) AS sab
)
SELECT CAST(t AS BIGINT) AS n,
       ROUND(CAST(agree AS DOUBLE) / CAST(t AS DOUBLE), 6) AS po,
       ROUND(CAST(sab AS DOUBLE)
             / (CAST(t AS DOUBLE) * CAST(t AS DOUBLE)), 6) AS pe,
       CASE WHEN CAST(t * t - sab AS DOUBLE) <> 0 THEN
         ROUND(CAST(t * agree - sab AS DOUBLE)
               / CAST(t * t - sab AS DOUBLE), 6)
       END AS kappa
FROM st
"""


def pl_rrf_hybrid(spark, sf_dir):
    """Hybrid retrieval: BM25 sparse ranks fused with dense embedding
    ranks by reciprocal-rank fusion (Cormack 2009), top 50.  The dense
    list ranks by EXACT int64 squared distance to the query vector
    (vec_id 0) on the shared quantization grid; the sparse list ranks
    by the 6-dp-rounded BM25 score with an id tie-break — both rank
    lists therefore replay identically in the oracle, and the fused
    score is a fixed-arity sum of exact-integer reciprocals."""
    from spatialdata_spark.pipeline.search import rrf_fuse
    from spatialdata_spark.pipeline.textstats import bm25_scores
    from pyspark.sql.window import Window

    sparse = bm25_scores(
        _read(spark, sf_dir, "documents"), ["join", "spark", "vector"], k1=1.2, b=0.75
    ).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.round("score", 6).desc(), F.col("doc_id")))
        .alias("rank"),
    )
    emb = _read(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"),
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.floor(x * 100 + F.lit(0.5)).cast("long"),
        ).alias("qv"),
    )
    qvec = emb.filter(F.col("doc_id") == 0).select(F.col("qv").alias("query_v"))
    dense = (
        emb.crossJoin(F.broadcast(qvec))
        .select(
            "doc_id",
            F.aggregate(
                F.zip_with(
                    F.col("qv"), F.col("query_v"), lambda a, b: (a - b) * (a - b)
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("d2"),
        )
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.col("d2"), F.col("doc_id")))
            .alias("rank"),
        )
    )
    return rrf_fuse({"sparse": sparse, "dense": dense}, k=60, top_n=50)


PL_RRF_HYBRID_SQL = r"""
WITH base AS (
  SELECT doc_id,
         string_split_regex(LOWER(TRIM(text)), '\s+') AS toks,
         CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
              ELSE LEN(string_split_regex(LOWER(TRIM(text)), '\s+')) END AS len
  FROM documents
),
stats AS (SELECT COUNT(*) AS n, AVG(len) AS avgdl FROM base),
tf AS (
  SELECT doc_id, len, w AS t, COUNT(*) AS tf
  FROM (SELECT doc_id, len, UNNEST(toks) AS w FROM base)
  WHERE w IN ('join', 'spark', 'vector')
  GROUP BY 1, 2, 3
),
df AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY 1),
bs AS (
  SELECT tf.doc_id,
         SUM(LN((n - df + 0.5) / (df + 0.5) + 1.0)
             * (tf * (1.2 + 1.0))
             / (tf + 1.2 * (1.0 - 0.75 + 0.75 * len / avgdl))) AS score
  FROM tf JOIN df USING (t), stats
  GROUP BY 1
),
sr AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY ROUND(score, 6) DESC, doc_id) AS rank_sparse
  FROM bs
),
q AS (
  SELECT vec_id AS id, i AS pos,
         CAST(FLOOR(embedding[i + 1] * 100.0 + 0.5) AS BIGINT) AS val
  FROM embeddings, UNNEST(range(LEN(embedding))) AS t(i)
),
qq AS (SELECT pos, val FROM q WHERE id = 0),
d2 AS (
  SELECT q.id, SUM((q.val - qq.val) * (q.val - qq.val)) AS d2
  FROM q JOIN qq USING (pos) GROUP BY 1
),
dr AS (
  SELECT id AS doc_id,
         ROW_NUMBER() OVER (ORDER BY d2 ASC, id) AS rank_dense
  FROM d2
),
f AS (
  SELECT COALESCE(sr.doc_id, dr.doc_id) AS doc_id,
         rank_sparse, rank_dense,
         COALESCE(1.0 / (60 + rank_sparse), 0)
           + COALESCE(1.0 / (60 + rank_dense), 0) AS rrf
  FROM sr FULL OUTER JOIN dr ON sr.doc_id = dr.doc_id
),
ranked AS (
  SELECT doc_id,
         CAST(rank_sparse AS BIGINT) AS rank_sparse,
         CAST(rank_dense AS BIGINT) AS rank_dense,
         ROUND(rrf, 6) AS rrf_score,
         ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS rrf_rank
  FROM f
)
SELECT doc_id, rank_sparse, rank_dense, rrf_score,
       CAST(rrf_rank AS BIGINT) AS rrf_rank
FROM ranked WHERE rrf_rank <= 50
"""


def pl_pca(spark, sf_dir):
    """Two-pass distributed PCA over the embedding corpus: pass 1
    reduces the corpus to its exact int64 fixed-point sufficient
    statistics (the dim x dim Gram matrix + per-dimension sums —
    order-free, so partial aggregation is deterministic), the dim x dim
    eigendecomposition runs driver-side (model-sized), and pass 2
    projects every vector in one numpy GEMM per Arrow batch.

    No ``oracle_sql`` entry — the eigendecomposition is not
    SQL-expressible, so the driver records the weaker rows-only check;
    value-level determinism (fixed component signs, descending
    eigenvalue order) is pinned by ``tests/test_pipeline_ops.py``."""
    from spatialdata_spark.pipeline.clustering import pca_project

    emb = _read(spark, sf_dir, "embeddings")
    projected, _, _ = pca_project(emb, k=4, q=100)
    return projected.select(
        "vec_id",
        F.round(F.col("pc")[0], 6).alias("pc1"),
        F.round(F.col("pc")[1], 6).alias("pc2"),
        F.round(F.col("pc")[2], 6).alias("pc3"),
        F.round(F.col("pc")[3], 6).alias("pc4"),
    )


# --------------------------- round 8 ---------------------------------------


def pl_zipf_slope(spark, sf_dir):
    """Per-source Zipf rank-frequency OLS fit over the top-100 tokens
    — boilerplate/spam gauge.  One vocabulary-sized count table, one
    rank window per group truncated to 100 rows, group-sized
    closed-form regression sums."""
    from spatialdata_spark.pipeline.textstats import zipf_slope

    return zipf_slope(_read(spark, sf_dir, "documents"))


PL_ZIPF_SLOPE_SQL = r"""
WITH toks AS (
  SELECT source, unnest(string_split_regex(LOWER(TRIM(text)), '\s+')) AS tok
  FROM documents
), f AS (
  SELECT source, tok, COUNT(*) AS c FROM toks WHERE tok <> '' GROUP BY 1, 2
), r AS (
  SELECT source, c,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY c DESC, tok) AS rk
  FROM f
), t AS (
  SELECT source, LN(CAST(rk AS DOUBLE)) AS x, LN(CAST(c AS DOUBLE)) AS y
  FROM r WHERE rk <= 100
), a AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_ranked,
         SUM(x) AS sx, SUM(y) AS sy, SUM(x*x) AS sxx, SUM(x*y) AS sxy
  FROM t GROUP BY 1
)
SELECT source, n_ranked,
  CASE WHEN n_ranked > 1 THEN
    ROUND((n_ranked*sxy - sx*sy) / (n_ranked*sxx - sx*sx), 6) END AS slope,
  CASE WHEN n_ranked > 1 THEN
    ROUND((sy - ((n_ranked*sxy - sx*sy) / (n_ranked*sxx - sx*sx)) * sx)
          / n_ranked, 6) END AS intercept
FROM a
"""


def pl_distinct_ngrams(spark, sf_dir):
    """Per-source distinct-n diversity (Li 2016) for n=1..3 — the
    duplication-pressure gauge.  One explode per n, exact distinct via
    the (group, gram) groupBy, never a COUNT(DISTINCT) funnel."""
    from spatialdata_spark.pipeline.textstats import distinct_ngrams

    return distinct_ngrams(_read(spark, sf_dir, "documents"))


PL_DISTINCT_NGRAMS_SQL = r"""
WITH d AS (
  SELECT source, string_split_regex(LOWER(TRIM(text)), '\s+') AS w
  FROM documents
), grams AS (
  SELECT source, 1 AS n, array_to_string(w[i+1:i+1], ' ') AS gram
  FROM d, unnest(range(len(w))) AS t(i)
  UNION ALL
  SELECT source, 2 AS n, array_to_string(w[i+1:i+2], ' ') AS gram
  FROM d, unnest(range(len(w) - 1)) AS t(i)
  UNION ALL
  SELECT source, 3 AS n, array_to_string(w[i+1:i+3], ' ') AS gram
  FROM d, unnest(range(len(w) - 2)) AS t(i)
), per AS (
  SELECT source, n, gram, COUNT(*) AS c FROM grams GROUP BY 1, 2, 3
)
SELECT source, CAST(n AS INT) AS n,
       CAST(SUM(c) AS BIGINT) AS total_grams,
       CAST(COUNT(*) AS BIGINT) AS distinct_grams,
       ROUND(COUNT(*) * 1.0 / SUM(c), 9) AS distinct_ratio
FROM per GROUP BY 1, 2
"""


def pl_encoding_quality(spark, sf_dir):
    """Per-document encoding-health signals (U+FFFD tombstones, C0
    control chars, ASCII fraction) — pure per-row regexp-strip
    expressions, zero shuffle, fuses into the scan."""
    from spatialdata_spark.pipeline.textstats import encoding_quality

    return encoding_quality(_read(spark, sf_dir, "documents"))


PL_ENCODING_QUALITY_SQL = r"""
SELECT doc_id,
  CAST(LENGTH(text) AS BIGINT) AS n_chars,
  CAST(LENGTH(text) - LENGTH(regexp_replace(text, '\x{FFFD}', '', 'g'))
       AS BIGINT) AS n_replacement,
  CAST(LENGTH(text)
       - LENGTH(regexp_replace(text,
                 '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g'))
       AS BIGINT) AS n_control,
  ROUND(CASE WHEN LENGTH(text) > 0 THEN
      LENGTH(regexp_replace(text, '[^\x00-\x7F]', '', 'g'))
      * 1.0 / LENGTH(text) ELSE 1.0 END, 9) AS ascii_ratio,
  CAST(LENGTH(regexp_replace(text, '\x{FFFD}', '', 'g')) = LENGTH(text)
       AND LENGTH(regexp_replace(text,
                   '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g'))
           = LENGTH(text) AS INT) AS enc_ok
FROM documents
"""


def pl_script_profile(spark, sf_dir):
    """Per-document writing-script character-class fractions (Latin /
    Cyrillic / Greek / CJK / Arabic / Hebrew / digits) — contiguous
    Unicode ranges only, so the same regex replays in any engine;
    zero shuffle, fuses into the scan."""
    from spatialdata_spark.pipeline.textstats import script_profile

    return script_profile(_read(spark, sf_dir, "documents"))


PL_SCRIPT_PROFILE_SQL = r"""
WITH c AS (
  SELECT doc_id, text, LENGTH(text) AS n FROM documents
)
SELECT doc_id,
  CAST(n - LENGTH(regexp_replace(text,
    '[A-Za-z\x{C0}-\x{24F}\x{370}-\x{3FF}\x{400}-\x{4FF}\x{590}-\x{5FF}\x{600}-\x{6FF}\x{3040}-\x{30FF}\x{4E00}-\x{9FFF}\x{AC00}-\x{D7AF}]',
    '', 'g')) AS BIGINT) AS n_alpha,
  ROUND(CASE WHEN n > 0 THEN (n - LENGTH(regexp_replace(text,
    '[A-Za-z\x{C0}-\x{24F}]', '', 'g'))) * 1.0 / n ELSE 0.0 END, 9)
    AS latin_frac,
  ROUND(CASE WHEN n > 0 THEN (n - LENGTH(regexp_replace(text,
    '[\x{400}-\x{4FF}]', '', 'g'))) * 1.0 / n ELSE 0.0 END, 9)
    AS cyrillic_frac,
  ROUND(CASE WHEN n > 0 THEN (n - LENGTH(regexp_replace(text,
    '[\x{370}-\x{3FF}]', '', 'g'))) * 1.0 / n ELSE 0.0 END, 9)
    AS greek_frac,
  ROUND(CASE WHEN n > 0 THEN (n - LENGTH(regexp_replace(text,
    '[\x{3040}-\x{30FF}\x{4E00}-\x{9FFF}\x{AC00}-\x{D7AF}]', '', 'g')))
    * 1.0 / n ELSE 0.0 END, 9) AS cjk_frac,
  ROUND(CASE WHEN n > 0 THEN (n - LENGTH(regexp_replace(text,
    '[\x{600}-\x{6FF}]', '', 'g'))) * 1.0 / n ELSE 0.0 END, 9)
    AS arabic_frac,
  ROUND(CASE WHEN n > 0 THEN (n - LENGTH(regexp_replace(text,
    '[\x{590}-\x{5FF}]', '', 'g'))) * 1.0 / n ELSE 0.0 END, 9)
    AS hebrew_frac,
  ROUND(CASE WHEN n > 0 THEN (n - LENGTH(regexp_replace(text,
    '[0-9]', '', 'g'))) * 1.0 / n ELSE 0.0 END, 9) AS digit_frac
FROM c
"""


def pl_key_skew(spark, sf_dir):
    """Shuffle-key skew summary for events.user_id: exact Gini of the
    key's row-count distribution via the sorted-rank identity — ONE
    rank window over the KEY-CARDINALITY-sized count table (the key
    table gets sorted, never the data)."""
    from spatialdata_spark.pipeline.textstats import key_skew

    _, summary = key_skew(_read(spark, sf_dir, "events"), "user_id")
    return summary


PL_KEY_SKEW_SQL = """
WITH counts AS (
  SELECT user_id AS key, COUNT(*) AS n_rows FROM events GROUP BY 1
), ranked AS (
  SELECT n_rows, ROW_NUMBER() OVER (ORDER BY n_rows, key) AS i FROM counts
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(n_rows) AS BIGINT) AS n_rows,
       ROUND(MAX(n_rows) * 1.0 / SUM(n_rows), 9) AS max_share,
       ROUND(2.0 * SUM(i * n_rows) / (COUNT(*) * SUM(n_rows))
             - (COUNT(*) + 1.0) / COUNT(*), 9) AS gini
FROM ranked
"""


def pl_embed_outliers(spark, sf_dir):
    """Per-label centroid-distance outlier scores over the embedding
    corpus: exact int64 n-scaled centroid arithmetic (n*c = sum, no
    division until the end), so the squared distances replay bit-exact
    in SQL.  Model-sized centroid table joined back."""
    from spatialdata_spark.pipeline.clustering import embed_outliers

    return embed_outliers(_read(spark, sf_dir, "embeddings"))


PL_EMBED_OUTLIERS_SQL = """
WITH q AS (
  SELECT vec_id AS id, label, i AS pos,
         CAST(FLOOR(embedding[i + 1] * 100.0 + 0.5) AS BIGINT) AS val
  FROM embeddings, UNNEST(range(LEN(embedding))) AS t(i)
),
cent AS (
  SELECT label, pos, SUM(val) AS s, COUNT(*) AS n FROM q GROUP BY 1, 2
),
d AS (
  SELECT q.id, q.label, c.n, (c.n * q.val - c.s) AS dd
  FROM q JOIN cent c ON c.label = q.label AND c.pos = q.pos
),
o AS (SELECT id, label, n, SUM(dd * dd) AS ss FROM d GROUP BY 1, 2, 3)
SELECT id AS vec_id, label,
       ROUND(ss / (n * n * 100.0 * 100.0), 6) AS d2
FROM o
"""


def pl_hard_negatives(spark, sf_dir):
    """Hard-negative mining: every vector's nearest different-label
    neighbor on the quantized int64 grid — one lexicographic
    struct-MIN per anchor (total order, no tie ambiguity).  Brute
    force by the knn_classify parity contract; the scale path blocks
    the pair space through the IVF/LSH bucketers."""
    from spatialdata_spark.pipeline.clustering import hard_negatives

    return hard_negatives(_read(spark, sf_dir, "embeddings"))


PL_HARD_NEGATIVES_SQL = """
WITH q AS (
  SELECT vec_id AS id, label, i AS pos,
         CAST(FLOOR(embedding[i + 1] * 100.0 + 0.5) AS BIGINT) AS val
  FROM embeddings, UNNEST(range(LEN(embedding))) AS t(i)
),
pair AS (
  SELECT a.id AS anchor, a.label AS anchor_label,
         b.id AS nid, b.label AS nlab,
         SUM((a.val - b.val) * (a.val - b.val)) AS d2i
  FROM q a JOIN q b ON a.pos = b.pos AND a.label <> b.label
  GROUP BY 1, 2, 3, 4
),
best AS (
  SELECT anchor, anchor_label, nid, nlab, d2i,
         ROW_NUMBER() OVER (PARTITION BY anchor ORDER BY d2i, nid) AS rn
  FROM pair
)
SELECT anchor, anchor_label, nid AS negative, nlab AS neg_label,
       ROUND(d2i / 10000.0, 6) AS d2
FROM best WHERE rn = 1
"""


def pl_nb_score(spark, sf_dir):
    """Multinomial Naive Bayes quality scoring, trained on the corpus
    itself (label = is-English): integer count-table model, broadcast
    scoring join, per-document mean log-likelihood ratio.  The trained
    model is identical under any partitioning (integer aggregation)."""
    from spatialdata_spark.pipeline.classify import nb_score, nb_train

    docs = _read(spark, sf_dir, "documents").withColumn(
        "label", (F.col("lang") == "en").cast("int")
    )
    model, totals = nb_train(docs)
    return nb_score(docs, model, totals)


PL_NB_SCORE_SQL = r"""
WITH toks AS (
  SELECT doc_id, lang,
         unnest(string_split_regex(LOWER(TRIM(text)), '\s+')) AS token
  FROM documents
),
t2 AS (
  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y, token
  FROM toks WHERE token <> ''
),
model AS (
  SELECT token,
         SUM(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS c0,
         SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS c1
  FROM t2 GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(c0) AS BIGINT) AS n0, CAST(SUM(c1) AS BIGINT) AS n1,
         CAST(COUNT(*) AS BIGINT) AS v
  FROM model
),
s AS (
  SELECT t2.doc_id,
         LN((COALESCE(m.c1, 0) + 1.0) / (tot.n1 + tot.v))
           - LN((COALESCE(m.c0, 0) + 1.0) / (tot.n0 + tot.v)) AS llr
  FROM t2 LEFT JOIN model m USING (token) CROSS JOIN tot
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       ROUND(SUM(llr) / COUNT(*), 6) AS llr_mean
FROM s GROUP BY 1
"""


def pl_auc_rank(spark, sf_dir):
    """Exact ROC AUC by the Mann-Whitney rank-sum identity with
    average-rank tie handling (score = document length, label =
    is-English) — computed on the score-COUNT table, never a global
    sort of the corpus; the rank-sum runs in DECIMAL(38,0)."""
    from spatialdata_spark.pipeline.classify import auc_rank

    docs = _read(spark, sf_dir, "documents").select(
        F.col("n_chars").alias("score"),
        (F.col("lang") == "en").cast("int").alias("label"),
    )
    return auc_rank(docs)


PL_AUC_RANK_SQL = """
WITH g AS (
  SELECT n_chars AS s, COUNT(*) AS n,
         SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS p
  FROM documents GROUP BY 1
),
r AS (
  SELECT s, n, p,
         COALESCE(SUM(n) OVER (ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
  FROM g
),
a AS (
  SELECT CAST(SUM(p) AS BIGINT) AS n_pos,
         CAST(SUM(n - p) AS BIGINT) AS n_neg,
         SUM(p * (2 * cum + n + 1)) AS r2
  FROM r
)
SELECT n_pos, n_neg,
  CASE WHEN n_pos > 0 AND n_neg > 0 THEN
    ROUND((r2 - n_pos * (n_pos + 1.0)) / (2.0 * n_pos * n_neg), 9)
  END AS auc
FROM a
"""


def pl_auc_by_source(spark, sf_dir):
    """Per-group ROC AUC (the subgroup QA a global AUC can hide an
    inverted score under): the exact Mann-Whitney rank-sum identity per
    source — the cumulative window partitions by group over the
    group-local distinct-score table, so no global sort appears; the
    rank-sum runs in DECIMAL(38,0)."""
    from spatialdata_spark.pipeline.classify import auc_rank

    docs = _read(spark, sf_dir, "documents").select(
        "source",
        F.col("n_chars").alias("score"),
        (F.col("lang") == "en").cast("int").alias("label"),
    )
    return auc_rank(docs, group_cols=("source",))


PL_AUC_BY_SOURCE_SQL = """
WITH g AS (
  SELECT source, n_chars AS s, COUNT(*) AS n,
         SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS p
  FROM documents GROUP BY 1, 2
),
r AS (
  SELECT source, s, n, p,
         COALESCE(SUM(n) OVER (PARTITION BY source ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
  FROM g
),
a AS (
  SELECT source,
         CAST(SUM(p) AS BIGINT) AS n_pos,
         CAST(SUM(n - p) AS BIGINT) AS n_neg,
         SUM(p * (2 * cum + n + 1)) AS r2
  FROM r GROUP BY 1
)
SELECT source, n_pos, n_neg,
  CASE WHEN n_pos > 0 AND n_neg > 0 THEN
    ROUND((r2 - n_pos * (n_pos + 1.0)) / (2.0 * n_pos * n_neg), 9)
  END AS auc
FROM a
"""


def pl_rank_corr(spark, sf_dir):
    """Spearman rank agreement + footrule distance between the BM25
    sparse ranking and the dense embedding-distance ranking (the
    should-I-fuse diagnostic for pl_rrf_hybrid), over the ids both
    lists rank.  All sufficient statistics are DECIMAL(38,0) integer
    sums; only the final two sqrts and one division are float."""
    from pyspark.sql.window import Window

    from spatialdata_spark.pipeline.search import rank_correlation
    from spatialdata_spark.pipeline.textstats import bm25_scores

    sparse = bm25_scores(
        _read(spark, sf_dir, "documents"), ["join", "spark", "vector"], k1=1.2, b=0.75
    ).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.round("score", 6).desc(), F.col("doc_id")))
        .alias("rank"),
    )
    emb = _read(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"),
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.floor(x * 100 + F.lit(0.5)).cast("long"),
        ).alias("qv"),
    )
    qvec = emb.filter(F.col("doc_id") == 0).select(F.col("qv").alias("query_v"))
    dense = (
        emb.crossJoin(F.broadcast(qvec))
        .select(
            "doc_id",
            F.aggregate(
                F.zip_with(
                    F.col("qv"), F.col("query_v"), lambda a, b: (a - b) * (a - b)
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("d2"),
        )
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.col("d2"), F.col("doc_id")))
            .alias("rank"),
        )
    )
    return rank_correlation(sparse, dense)


PL_RANK_CORR_SQL = r"""
WITH base AS (
  SELECT doc_id,
         string_split_regex(LOWER(TRIM(text)), '\s+') AS toks,
         CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
              ELSE LEN(string_split_regex(LOWER(TRIM(text)), '\s+')) END AS len
  FROM documents
),
stats AS (SELECT COUNT(*) AS n, AVG(len) AS avgdl FROM base),
tf AS (
  SELECT doc_id, len, w AS t, COUNT(*) AS tf
  FROM (SELECT doc_id, len, UNNEST(toks) AS w FROM base)
  WHERE w IN ('join', 'spark', 'vector')
  GROUP BY 1, 2, 3
),
df AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY 1),
bs AS (
  SELECT tf.doc_id,
         SUM(LN((n - df + 0.5) / (df + 0.5) + 1.0)
             * (tf * (1.2 + 1.0))
             / (tf + 1.2 * (1.0 - 0.75 + 0.75 * len / avgdl))) AS score
  FROM tf JOIN df USING (t), stats
  GROUP BY 1
),
sr AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY ROUND(score, 6) DESC, doc_id) AS ra
  FROM bs
),
q AS (
  SELECT vec_id AS id, i AS pos,
         CAST(FLOOR(embedding[i + 1] * 100.0 + 0.5) AS BIGINT) AS val
  FROM embeddings, UNNEST(range(LEN(embedding))) AS t(i)
),
qq AS (SELECT pos, val FROM q WHERE id = 0),
d2 AS (
  SELECT q.id, SUM((q.val - qq.val) * (q.val - qq.val)) AS d2
  FROM q JOIN qq USING (pos) GROUP BY 1
),
dr AS (
  SELECT id AS doc_id,
         ROW_NUMBER() OVER (ORDER BY d2 ASC, id) AS rb
  FROM d2
),
j AS (SELECT ra, rb FROM sr JOIN dr USING (doc_id)),
s AS (
  SELECT COUNT(*) AS n, SUM(ra) AS sx, SUM(rb) AS sy,
         SUM(ra * ra) AS sxx, SUM(rb * rb) AS syy,
         SUM(ra * rb) AS sxy, SUM(ABS(ra - rb)) AS dfo
  FROM j
)
SELECT CAST(n AS BIGINT) AS n,
       CAST(dfo AS BIGINT) AS d_foot,
       CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
         ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
               / (SQRT(CAST(n * sxx - sx * sx AS DOUBLE))
                  * SQRT(CAST(n * syy - sy * sy AS DOUBLE))), 6)
       END AS rho_spearman
FROM s
"""


def pl_calibration(spark, sf_dir):
    """Classifier reliability table: ntile the corpus into 10
    equal-count score bins (score = document length, label =
    is-English — the same exact-integer framing as pl_auc_rank, so
    the bin assignment is bit-exact on any engine) and report each
    bin's size, positive count, positive fraction, and mean score.
    The ntile's (score, doc_id) ordering pins ties; the sort touches
    only (id, score, label), never the text."""
    from spatialdata_spark.pipeline.classify import calibration_bins

    docs = _read(spark, sf_dir, "documents").select(
        F.col("doc_id"),
        F.col("n_chars").alias("llr_mean"),
        (F.col("lang") == "en").cast("int").alias("label"),
    )
    return calibration_bins(docs, n_bins=10).withColumn(
        "bin", F.col("bin").cast("long")
    )


PL_CALIBRATION_SQL = """
WITH s AS (
  SELECT doc_id, n_chars AS sc,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         NTILE(10) OVER (ORDER BY n_chars, doc_id) AS bin
  FROM documents WHERE n_chars IS NOT NULL
)
SELECT CAST(bin AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(y) AS BIGINT) AS n_pos,
       ROUND(SUM(y) * 1.0 / COUNT(*), 6) AS frac_pos,
       ROUND(AVG(sc), 6) AS mean_score
FROM s GROUP BY bin ORDER BY bin
"""


def pl_hdr_quantiles(spark, sf_dir):
    """Deterministic mergeable HDR quantile sketch over event values —
    integer-only bucketization (bit length via bin(), shifts), bounded
    bucket table, quantile extraction over the SORTED BUCKET TABLE
    (metadata-sized; the corpus is never sorted)."""
    from spatialdata_spark.pipeline.textstats import hdr_quantiles

    return hdr_quantiles(_read(spark, sf_dir, "events"), "value")


PL_HDR_QUANTILES_SQL = """
WITH m AS (
  SELECT CAST(FLOOR(value * 1000000) AS BIGINT) AS mm
  FROM events WHERE value IS NOT NULL
),
p AS (SELECT CASE WHEN mm > 0 THEN mm ELSE 0 END AS pos FROM m),
b AS (
  SELECT pos, CASE WHEN pos > 0 THEN LENGTH(bin(pos)) ELSE 0 END AS e
  FROM p
),
b2 AS (SELECT e, GREATEST(e - 6, 0) AS sh, pos FROM b),
buckets AS (
  SELECT e, pos >> sh AS sub, sh, COUNT(*) AS c FROM b2 GROUP BY 1, 2, 3
),
cum AS (
  SELECT e, sub, sh, c, SUM(c) OVER (ORDER BY e, sub) AS cumc,
         (sub << sh) AS lb
  FROM buckets
),
tot AS (SELECT MAX(cumc) AS n FROM cum),
qs AS (SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE),
                      CAST(0.99 AS DOUBLE)]) AS q),
probe AS (
  SELECT qs.q, tot.n, cum.lb,
         ROW_NUMBER() OVER (PARTITION BY qs.q ORDER BY cum.e, cum.sub) AS rn
  FROM cum CROSS JOIN tot CROSS JOIN qs
  WHERE cum.cumc >= CEIL(qs.q * tot.n)
)
SELECT q, CAST(n AS BIGINT) AS n, ROUND(lb / 1000000.0, 9) AS est
FROM probe WHERE rn = 1
"""


def pl_phrase_search(spark, sf_dir):
    """Exact phrase occurrences ('merge join') via positional posting
    joins — the posting stream filters to the phrase's token set
    BEFORE anything else (pushed-down IN over the scan), adjacency is
    an equi-join on (doc, pos+1); work ∝ the phrase tokens' postings,
    never corpus size."""
    from spatialdata_spark.pipeline.search import phrase_search

    return phrase_search(_read(spark, sf_dir, "documents"), "merge join")


PL_PHRASE_SEARCH_SQL = r"""
WITH d AS (
  SELECT doc_id, string_split_regex(LOWER(TRIM(text)), '\s+') AS w
  FROM documents
),
post AS (
  SELECT doc_id, i AS pos, w[i + 1] AS token
  FROM d, unnest(range(len(w))) AS t(i)
  WHERE w[i + 1] <> ''
),
m AS (
  SELECT a.doc_id
  FROM post a JOIN post b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  WHERE a.token = 'merge' AND b.token = 'join'
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches FROM m GROUP BY 1
"""


def pl_multi_phrase(spark, sf_dir):
    """Match MANY phrases in one corpus pass (relational Aho-Corasick
    analog): patterns explode to (phrase, offset, token) and ONE join
    against the postings finds all aligned starts — corpus work ∝
    pattern-token postings, never |patterns| x |corpus|."""
    from spatialdata_spark.pipeline.search import multi_phrase_search

    return multi_phrase_search(
        _read(spark, sf_dir, "documents"),
        ["table scan", "hash join", "sort merge join"],
    )


PL_MULTI_PHRASE_SQL = r"""
WITH pat AS (
  SELECT * FROM (VALUES
    (0, 'table scan', 0, 'table', 2),
    (0, 'table scan', 1, 'scan', 2),
    (1, 'hash join', 0, 'hash', 2),
    (1, 'hash join', 1, 'join', 2),
    (2, 'sort merge join', 0, 'sort', 3),
    (2, 'sort merge join', 1, 'merge', 3),
    (2, 'sort merge join', 2, 'join', 3)
  ) AS t(phrase_id, phrase, off, token, plen)
),
d AS (
  SELECT doc_id, string_split_regex(LOWER(TRIM(text)), '\s+') AS w
  FROM documents
),
post AS (
  SELECT doc_id, i AS pos, w[i + 1] AS token
  FROM d, unnest(range(len(w))) AS t(i)
  WHERE w[i + 1] <> ''
),
hits AS (
  SELECT post.doc_id, pat.phrase_id, pat.phrase, pat.plen,
         post.pos - pat.off AS strt, pat.off
  FROM post JOIN pat USING (token)
),
starts AS (
  SELECT doc_id, phrase_id, phrase, strt
  FROM hits WHERE strt >= 0
  GROUP BY doc_id, phrase_id, phrase, plen, strt
  HAVING COUNT(DISTINCT off) = plen
)
SELECT doc_id, CAST(phrase_id AS BIGINT) AS phrase_id, phrase,
       CAST(COUNT(*) AS BIGINT) AS n_matches
FROM starts GROUP BY 1, 2, 3
"""


def pl_label_prop(spark, sf_dir):
    """3 unrolled rounds of deterministic label propagation (Raghavan
    2007) over the part<->supplier co-purchase graph: per-round ONE
    node-sized label join + ONE (dst,label) count with a lexicographic
    struct-max argmax (ties -> smallest label) — order-free, so the
    rounds replay exactly in SQL."""
    from spatialdata_spark.pipeline.graph import label_propagation

    li = _read(spark, sf_dir, "lineitem")
    fwd = li.select(
        F.col("l_partkey").cast("long").alias("src"),
        (F.col("l_suppkey").cast("long") + F.lit(1000000000000)).alias("dst"),
    ).distinct()
    edges = fwd.union(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    return label_propagation(edges, k=3).withColumnRenamed("node", "node_id")


PL_LABEL_PROP_SQL = """
WITH fwd AS (
  SELECT DISTINCT l_partkey AS src, l_suppkey + 1000000000000 AS dst
  FROM lineitem
),
edges AS (
  SELECT src, dst FROM fwd
  UNION ALL
  SELECT dst AS src, src AS dst FROM fwd
),
nodes AS (
  SELECT src AS node FROM edges UNION SELECT dst AS node FROM edges
),
l0 AS (SELECT node, node AS label FROM nodes),
v1 AS (
  SELECT e.dst, l.label, COUNT(*) AS c
  FROM edges e JOIN l0 l ON l.node = e.src GROUP BY 1, 2
),
b1 AS (
  SELECT dst, label AS winner FROM (
    SELECT dst, label,
           ROW_NUMBER() OVER (PARTITION BY dst ORDER BY c DESC, label) AS rn
    FROM v1) WHERE rn = 1
),
l1 AS (
  SELECT l.node, COALESCE(b.winner, l.label) AS label
  FROM l0 l LEFT JOIN b1 b ON b.dst = l.node
),
v2 AS (
  SELECT e.dst, l.label, COUNT(*) AS c
  FROM edges e JOIN l1 l ON l.node = e.src GROUP BY 1, 2
),
b2 AS (
  SELECT dst, label AS winner FROM (
    SELECT dst, label,
           ROW_NUMBER() OVER (PARTITION BY dst ORDER BY c DESC, label) AS rn
    FROM v2) WHERE rn = 1
),
l2 AS (
  SELECT l.node, COALESCE(b.winner, l.label) AS label
  FROM l1 l LEFT JOIN b2 b ON b.dst = l.node
),
v3 AS (
  SELECT e.dst, l.label, COUNT(*) AS c
  FROM edges e JOIN l2 l ON l.node = e.src GROUP BY 1, 2
),
b3 AS (
  SELECT dst, label AS winner FROM (
    SELECT dst, label,
           ROW_NUMBER() OVER (PARTITION BY dst ORDER BY c DESC, label) AS rn
    FROM v3) WHERE rn = 1
),
l3 AS (
  SELECT l.node, COALESCE(b.winner, l.label) AS label
  FROM l2 l LEFT JOIN b3 b ON b.dst = l.node
)
SELECT node AS node_id, CAST(label AS BIGINT) AS label FROM l3
"""


def st_scd2(spark, sf_dir):
    """Type-2 SCD build over the event stream: per-user validity
    intervals of event_type — run boundaries via ONE (user, ts,
    event_id) sort, interval rollup per run, valid_to lead ordered by
    the run id (deterministic under timestamp ties)."""
    from spatialdata_spark.operators.temporal import scd2_intervals

    out = scd2_intervals(_read(spark, sf_dir, "events"))
    # epoch-micros surface: exact and engine-agnostic (pandas would
    # otherwise compare Spark ns-unit against DuckDB us-unit datetimes)
    return out.select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("valid_from").cast("timestamp")).alias(
            "valid_from_us"
        ),
        F.unix_micros(F.col("valid_to").cast("timestamp")).alias("valid_to_us"),
        "n_events",
    )


ST_SCD2_SQL = """
WITH m AS (
  SELECT user_id AS key, event_type AS attr, ts, event_id,
         CASE WHEN ROW_NUMBER() OVER w = 1
                   OR LAG(event_type) OVER w IS DISTINCT FROM event_type
              THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
runs AS (
  SELECT key, attr, ts,
         SUM(chg) OVER (PARTITION BY key ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
  FROM m
),
iv AS (
  SELECT key, run, attr, MIN(ts) AS valid_from,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM runs GROUP BY 1, 2, 3
)
SELECT key AS user_id, attr AS event_type,
       epoch_us(valid_from) AS valid_from_us,
       epoch_us(LEAD(valid_from) OVER (PARTITION BY key ORDER BY run))
         AS valid_to_us,
       n_events
FROM iv
"""


def pl_bpe_fertility(spark, sf_dir):
    """Per-language tokenizer fertility under the 4-merge BPE model of
    pl_bpe_train: tokens-per-word and chars-per-token, with held-out
    OOV words surfaced (n_oov_words) rather than dropped.  Group word
    multiset LEFT-joins the vocabulary-sized merged table."""
    from spatialdata_spark.pipeline.bpe import bpe_fertility, bpe_train

    docs = _read(spark, sf_dir, "documents")
    _, wf = bpe_train(docs, n_merges=4)
    return bpe_fertility(docs, wf)


PL_BPE_FERTILITY_SQL = (
    _bpe_cte(4)
    + r""",
gw AS (
  SELECT lang, w, COUNT(*) AS n FROM (
    SELECT lang, UNNEST(string_split_regex(LOWER(TRIM(text)), '\s+')) AS w
    FROM documents WHERE LENGTH(TRIM(text)) > 0
  ) WHERE LENGTH(w) > 0 GROUP BY 1, 2
),
ag AS (
  SELECT gw.lang,
    CAST(SUM(CASE WHEN s.seq IS NOT NULL THEN gw.n ELSE 0 END) AS BIGINT)
      AS n_words,
    CAST(SUM(gw.n * COALESCE(LEN(string_split(TRIM(s.seq), '  ')), 0))
      AS BIGINT) AS n_tokens,
    CAST(SUM(gw.n * CASE WHEN s.seq IS NOT NULL THEN LENGTH(gw.w) ELSE 0 END)
      AS BIGINT) AS n_chars,
    CAST(SUM(CASE WHEN s.seq IS NULL THEN gw.n ELSE 0 END) AS BIGINT)
      AS n_oov_words
  FROM gw LEFT JOIN s4 s ON s.w = gw.w GROUP BY 1
)
SELECT lang, n_words, n_tokens, n_chars, n_oov_words,
  CASE WHEN n_words > 0 THEN ROUND(n_tokens * 1.0 / n_words, 6) END
    AS tokens_per_word,
  CASE WHEN n_tokens > 0 THEN ROUND(n_chars * 1.0 / n_tokens, 6) END
    AS chars_per_token
FROM ag
"""
)


def pl_minhash_recall(spark, sf_dir):
    """Recall/precision of the MinHash-LSH candidate generator against
    the EXACT shingle-Jaccard ground truth at 1/2 — the
    measure-don't-guess harness for the dedup family.  True pairs come
    from a shingle-keyed equi-join (never all-pairs); the threshold
    cross-multiplies in exact integers."""
    from spatialdata_spark.pipeline.dedup import minhash_recall

    return minhash_recall(_read(spark, sf_dir, "documents"))


def _minhash_recall_sql(k: int = 5) -> str:
    return f"""
WITH cand0 AS ({_minhash_cand_sql()}),
cand AS (SELECT id_a, id_b FROM cand0),
tt2 AS (
  SELECT doc_id,
         CASE WHEN LENGTH(text) < {k} THEN rpad(text, {k}, ' ')
              ELSE text END AS t
  FROM documents
),
sh2 AS (
  SELECT DISTINCT doc_id, {_shingle31_sql(k)} AS h
  FROM tt2, UNNEST(range(1, LENGTH(t) - {k} + 2)) u(i)
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh2 GROUP BY 1),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS ix
  FROM sh2 a JOIN sh2 b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
tp AS (
  SELECT id_a, id_b
  FROM inter
  JOIN sizes sa ON sa.doc_id = inter.id_a
  JOIN sizes sb ON sb.doc_id = inter.id_b
  WHERE 2 * ix >= 1 * (sa.n + sb.n - ix)
),
nt AS (SELECT COUNT(*) AS n_true FROM tp),
nc AS (SELECT COUNT(*) AS n_cand FROM cand),
nh AS (SELECT COUNT(*) AS n_hit FROM tp JOIN cand USING (id_a, id_b))
SELECT CAST(n_true AS BIGINT) AS n_true, CAST(n_cand AS BIGINT) AS n_cand,
       CAST(n_hit AS BIGINT) AS n_hit,
  ROUND(CASE WHEN n_true > 0 THEN n_hit * 1.0 / n_true ELSE 1.0 END, 9)
    AS recall,
  ROUND(CASE WHEN n_cand > 0 THEN n_hit * 1.0 / n_cand ELSE 1.0 END, 9)
    AS "precision"
FROM nt, nc, nh
"""


def pl_stupid_backoff(spark, sf_dir):
    """Held-out Stupid Backoff bigram LM scoring (Brants et al. 2007):
    train the count tables on the even-doc_id half, score the odd half
    so the 0.4-weighted unigram backoff branch actually fires.  Two
    vocabulary-sized count tables joined back, a 1-row
    total, one per-document mean — no probability normalization pass
    (scores, not probabilities, is the published point)."""
    from spatialdata_spark.pipeline.textstats import stupid_backoff_score

    docs = _read(spark, sf_dir, "documents")
    return stupid_backoff_score(
        docs.filter(F.col("doc_id") % 2 == 1),
        train_docs=docs.filter(F.col("doc_id") % 2 == 0),
    )


PL_STUPID_BACKOFF_SQL = r"""
WITH tr AS (
  SELECT string_split_regex(lower(trim(text)), '\s+') AS ts
  FROM documents WHERE trim(text) <> '' AND doc_id % 2 = 0
), sc AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ts
  FROM documents WHERE trim(text) <> '' AND doc_id % 2 = 1
), big AS (
  SELECT doc_id, ts[i] || ' ' || ts[i+1] AS g, ts[i] AS a, ts[i+1] AS b
  FROM sc, UNNEST(generate_series(1, len(ts) - 1)) AS t(i)
  WHERE len(ts) >= 2
), tbig AS (
  SELECT ts[i] || ' ' || ts[i+1] AS g
  FROM tr, UNNEST(generate_series(1, len(ts) - 1)) AS t(i)
  WHERE len(ts) >= 2
), c2 AS (
  SELECT g, COUNT(*) AS c2 FROM tbig GROUP BY 1
), uni AS (
  SELECT unnest(ts) AS tok FROM tr
), cu AS (
  SELECT tok, COUNT(*) AS cu FROM uni GROUP BY 1
), tot AS (
  SELECT COUNT(*) AS n FROM uni
)
SELECT big.doc_id,
  ROUND(AVG(LN(
    CASE WHEN c2.c2 IS NOT NULL THEN c2.c2 / CAST(ca.cu AS DOUBLE)
         ELSE (CAST(4 AS DOUBLE) / 10) * cb.cu / tot.n END
  )), 6) AS sb_score
FROM big
LEFT JOIN c2 USING (g)
JOIN cu ca ON ca.tok = big.a
JOIN cu cb ON cb.tok = big.b
CROSS JOIN tot
GROUP BY 1
"""


def pl_kneser_ney(spark, sf_dir):
    """Held-out interpolated Kneser-Ney bigram scoring (Kneser & Ney
    1995, D=0.75): train on the even-doc_id half, score the odd half —
    both the discounted-bigram term and the continuation-probability
    backoff (the San-Francisco fix: backoff mass goes to words seen in
    MANY contexts, not merely frequent ones) fire.  Every sufficient
    statistic is an exact integer over vocabulary-/type-sized tables;
    the per-bigram probability is a fixed-arity double expression, the
    per-doc mean 6-dp (the LM family's documented absorption)."""
    from spatialdata_spark.pipeline.textstats import kneser_ney_score

    docs = _read(spark, sf_dir, "documents")
    return kneser_ney_score(
        docs.filter(F.col("doc_id") % 2 == 1),
        train_docs=docs.filter(F.col("doc_id") % 2 == 0),
    )


PL_KNESER_NEY_SQL = r"""
WITH tr AS (
  SELECT string_split_regex(lower(trim(text)), '\s+') AS ts
  FROM documents WHERE trim(text) <> '' AND doc_id % 2 = 0
), sc AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ts
  FROM documents WHERE trim(text) <> '' AND doc_id % 2 = 1
), big AS (
  SELECT doc_id, ts[i] AS a, ts[i+1] AS b
  FROM sc, UNNEST(generate_series(1, len(ts) - 1)) AS t(i)
  WHERE len(ts) >= 2
), tbig AS (
  SELECT ts[i] AS a, ts[i+1] AS b
  FROM tr, UNNEST(generate_series(1, len(ts) - 1)) AS t(i)
  WHERE len(ts) >= 2
), c2 AS (
  SELECT a, b, COUNT(*) AS c2 FROM tbig GROUP BY 1, 2
), ctx AS (
  SELECT a, SUM(c2) AS ctx, COUNT(*) AS n1p FROM c2 GROUP BY 1
), n1b AS (
  SELECT b, COUNT(*) AS n1b FROM c2 GROUP BY 1
), n1tot AS (
  SELECT COUNT(*) AS nt FROM c2
)
SELECT big.doc_id,
  ROUND(AVG(LN(
    CASE WHEN ctx.ctx IS NOT NULL THEN
      GREATEST(COALESCE(c2.c2, 0) - (CAST(3 AS DOUBLE) / 4), 0.0)
        / ctx.ctx
      + ((CAST(3 AS DOUBLE) / 4) * ctx.n1p / ctx.ctx)
        * (n1b.n1b / CAST(nt AS DOUBLE))
    ELSE n1b.n1b / CAST(nt AS DOUBLE) END
  )), 6) AS kn_score
FROM big
LEFT JOIN c2 ON big.a = c2.a AND big.b = c2.b
LEFT JOIN ctx ON big.a = ctx.a
JOIN n1b ON big.b = n1b.b
CROSS JOIN n1tot
GROUP BY 1
"""


def pl_brier(spark, sf_dir):
    """Murphy (1973) Brier-score decomposition in the EXACT
    distinct-forecast form (brier = reliability - resolution +
    uncertainty holds to the last bit before rounding): integer
    micro-probability forecasts (101 distinct values from the length
    heuristic) against the is-English label.  N/N_pos and the raw
    squared error are exact integers/DECIMAL; the three components are
    fixed-arity doubles summed over the 101-row forecast table, 6 dp."""
    from spatialdata_spark.pipeline.classify import brier_decomposition

    docs = _read(spark, sf_dir, "documents").select(
        ((F.col("n_chars") % 101) * 10000).cast("long").alias("p_e6"),
        (F.col("lang") == "en").cast("int").alias("label"),
    )
    return brier_decomposition(docs)


PL_BRIER_SQL = """
WITH rows_ AS (
  SELECT CAST((n_chars % 101) * 10000 AS BIGINT) AS p,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS npos,
         CAST(SUM(CAST((p - 1000000 * y) AS HUGEINT)
                  * CAST((p - 1000000 * y) AS HUGEINT)) AS DECIMAL(38,0)) AS se
  FROM rows_
),
b AS (
  SELECT p, CAST(COUNT(*) AS BIGINT) AS nk, CAST(SUM(y) AS BIGINT) AS pos,
         CAST(SUM(p) AS DECIMAL(38,0)) AS sp
  FROM rows_ GROUP BY 1
),
diffs AS (
  -- explicit products, not POWER(x, 2): libm pow can differ from the
  -- multiply in the last ulp, and Spark computes (a-b)*(a-b)
  SELECT nk,
         CAST(sp AS DOUBLE) / (1000000.0 * nk) - pos / CAST(nk AS DOUBLE) AS dr,
         pos / CAST(nk AS DOUBLE)
           - (SELECT npos FROM tot) / CAST((SELECT n FROM tot) AS DOUBLE) AS ds
  FROM b
),
parts AS (
  SELECT SUM(nk * dr * dr) AS rel_num, SUM(nk * ds * ds) AS res_num
  FROM diffs
)
SELECT tot.n, tot.npos AS n_pos,
       ROUND(CAST(tot.se AS DOUBLE) / (tot.n * 1000000.0 * 1000000.0), 6) AS brier,
       ROUND((tot.npos / CAST(tot.n AS DOUBLE))
             * (1.0 - tot.npos / CAST(tot.n AS DOUBLE)), 6) AS uncertainty,
       ROUND(parts.rel_num / tot.n, 6) AS reliability,
       ROUND(parts.res_num / tot.n, 6) AS resolution
FROM tot, parts
"""


def pl_chi2_tokens(spark, sf_dir):
    """Per-source top-5 discriminative tokens by the one-vs-rest 2x2
    chi-squared statistic (Yang & Pedersen 1997 feature selection).
    Presence pairs from one map-side array_distinct explode; the
    (token, label) table is vocabulary-sized; the per-token margin is
    a window sharing the token exchange; deterministic rounded-stat +
    token tie-break ranking."""
    from spatialdata_spark.pipeline.textstats import chi2_tokens

    return chi2_tokens(
        _read(spark, sf_dir, "documents"), top_k=5, min_df=2
    )


PL_CHI2_TOKENS_SQL = r"""
WITH pres AS (
  SELECT DISTINCT doc_id, source AS label, tok AS token FROM (
    SELECT doc_id, source,
           UNNEST(string_split_regex(lower(trim(text)), '\s+')) AS tok
    FROM documents WHERE trim(text) <> ''
  )
), ct AS (
  SELECT token, label, COUNT(*) AS a FROM pres GROUP BY 1, 2
), ct2 AS (
  SELECT token, label, a, SUM(a) OVER (PARTITION BY token) AS ab FROM ct
), ld AS (
  SELECT source AS label, COUNT(*) AS ac FROM documents
  WHERE trim(text) <> '' GROUP BY 1
), tot AS (
  SELECT COUNT(*) AS n FROM documents WHERE trim(text) <> ''
), scored AS (
  SELECT ct2.label, ct2.token, ct2.a AS df_label,
    CASE WHEN CAST((ab) * (n - ab) AS DOUBLE)
              * CAST((ac) * (n - ac) AS DOUBLE) > 0
         THEN ROUND(CAST(n AS DOUBLE)
              * CAST(a * (n - ab - (ac - a)) - (ab - a) * (ac - a) AS DOUBLE)
              * CAST(a * (n - ab - (ac - a)) - (ab - a) * (ac - a) AS DOUBLE)
              / (CAST((a + (ab - a)) * ((ac - a) + (n - ab - (ac - a)))
                      AS DOUBLE)
                 * CAST((a + (ac - a)) * ((ab - a) + (n - ab - (ac - a)))
                        AS DOUBLE)), 6)
         ELSE 0.0 END AS chi2
  FROM ct2 JOIN ld USING (label) CROSS JOIN tot
  WHERE ab >= 2
)
SELECT label, token, df_label, chi2,
       CAST(ROW_NUMBER() OVER (PARTITION BY label
                               ORDER BY chi2 DESC, token ASC) AS INT) AS rank
FROM scored
QUALIFY rank <= 5
"""


def pl_ks_lengths(spark, sf_dir):
    """Exact two-sample Kolmogorov-Smirnov statistic between src0 and
    src1 document-length distributions — cross-multiplied to exact
    integers on the distinct value grid, so the result is bit-exact
    and order-independent."""
    from spatialdata_spark.pipeline.textstats import ks_2sample

    return ks_2sample(_read(spark, sf_dir, "documents"))


PL_KS_LENGTHS_SQL = r"""
WITH f AS (
  SELECT n_chars AS val, CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS ia
  FROM documents WHERE source IN ('src0', 'src1') AND n_chars IS NOT NULL
), counts AS (
  SELECT val, SUM(ia) AS ca, SUM(1 - ia) AS cb FROM f GROUP BY 1
), cum AS (
  SELECT val,
         SUM(ca) OVER (ORDER BY val) AS cum_a,
         SUM(cb) OVER (ORDER BY val) AS cum_b
  FROM counts
), tot AS (
  SELECT CAST(SUM(ca) AS BIGINT) AS n_a, CAST(SUM(cb) AS BIGINT) AS n_b
  FROM counts
)
SELECT MAX(n_a) AS n_a, MAX(n_b) AS n_b,
       CAST(MAX(ABS(cum_a * n_b - cum_b * n_a)) AS BIGINT) AS ks_num,
       CAST(MAX(n_a * n_b) AS BIGINT) AS ks_den,
       ROUND(MAX(ABS(cum_a * n_b - cum_b * n_a))
             / CAST(MAX(n_a * n_b) AS DOUBLE), 9) AS ks_stat
FROM cum CROSS JOIN tot
"""


def st_psi_drift(spark, sf_dir):
    """Population Stability Index contributions of the event-type mix,
    first half of the window vs the rest — the standard drift monitor;
    one category-keyed aggregation, category-sized thereafter."""
    from spatialdata_spark.operators.temporal import psi_drift

    return psi_drift(_read(spark, sf_dir, "events"), "2024-01-16")


ST_PSI_DRIFT_SQL = r"""
WITH counts AS (
  SELECT event_type AS category,
         SUM(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END)
           AS n_base,
         SUM(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 0 ELSE 1 END)
           AS n_cur
  FROM events GROUP BY 1
), tot AS (
  SELECT SUM(n_base) AS tb, SUM(n_cur) AS tc FROM counts
)
SELECT category, CAST(n_base AS BIGINT) AS n_base,
       CAST(n_cur AS BIGINT) AS n_cur,
       CASE WHEN n_base > 0 AND n_cur > 0 THEN
         ROUND((n_base / CAST(tb AS DOUBLE) - n_cur / CAST(tc AS DOUBLE))
               * LN((n_base / CAST(tb AS DOUBLE))
                    / (n_cur / CAST(tc AS DOUBLE))), 6)
       END AS psi_part
FROM counts CROSS JOIN tot
ORDER BY category
"""


def st_cramers_drift(spark, sf_dir):
    """Cramér's V association between the event-type mix and the
    before/after period — the chi-square effect-size companion of
    st_psi_drift (defined whenever both periods have rows, where PSI
    NULLs out empty cells): per-cell (N*n_ij - r_i*c_j)^2 / (N*r_i*c_j)
    exact DECIMAL integers, one double division per cell over the
    category x 2 grid, 6 dp."""
    from spatialdata_spark.operators.temporal import cramers_v_drift

    return cramers_v_drift(_read(spark, sf_dir, "events"), "2024-01-16")


ST_CRAMERS_DRIFT_SQL = r"""
WITH cells AS (
  SELECT event_type AS cat,
         CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END AS j,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events
  WHERE event_type IS NOT NULL AND ts IS NOT NULL
  GROUP BY 1, 2
),
r AS (SELECT cat, CAST(SUM(n) AS BIGINT) AS r FROM cells GROUP BY 1),
c AS (SELECT j, CAST(SUM(n) AS BIGINT) AS c FROM cells GROUP BY 1),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS t,
         CAST(COUNT(DISTINCT cat) AS BIGINT) AS ncat,
         CAST(COUNT(DISTINCT j) AS BIGINT) AS nper
  FROM cells
),
grid AS (
  SELECT r.cat, c.j, r.r, c.c, COALESCE(cells.n, 0) AS n
  FROM r CROSS JOIN c LEFT JOIN cells ON cells.cat = r.cat AND cells.j = c.j
),
terms AS (
  -- square in EXACT integers then ONE cast, mirroring the Spark
  -- side's (num*num).cast(double) — squaring in double would round
  -- the operand first and can differ in the last ulp
  SELECT SUM(
    CAST((CAST(t AS HUGEINT) * n - CAST(r AS HUGEINT) * c)
         * (CAST(t AS HUGEINT) * n - CAST(r AS HUGEINT) * c) AS DOUBLE)
    / CAST(CAST(t AS HUGEINT) * r * c AS DOUBLE)
  ) AS chi2
  FROM grid CROSS JOIN tot
)
SELECT tot.t AS n, tot.ncat AS n_categories,
       ROUND(terms.chi2, 6) AS chi2,
       CASE WHEN tot.nper = 2 AND tot.ncat >= 2 THEN
         ROUND(SQRT(terms.chi2
                    / (tot.t * (LEAST(tot.ncat, tot.nper) - 1))), 6)
       END AS cramers_v
FROM tot CROSS JOIN terms
"""


def pl_simhash_recall(spark, sf_dir):
    """Recall of the 4x16-bit-block SimHash LSH candidate generator
    against the exact all-pairs Hamming ground truth at distance 5 —
    past the pigeonhole-complete bound of 3, so the block join is
    genuinely lossy and this measures by how much (the SimHash twin of
    pl_minhash_recall).  Fingerprints are the 62-bit expression-only
    SQL-replayable variant."""
    from spatialdata_spark.pipeline.dedup import (
        simhash_recall,
        simhash_signatures_sql,
    )

    fps = simhash_signatures_sql(_read(spark, sf_dir, "documents"))
    return simhash_recall(fps, max_hamming=5)


def _simhash_recall_sql(max_hamming: int = 5) -> str:
    return f"""
WITH fp AS ({_simhash_sql()}),
tp AS (
  SELECT l.doc_id AS id_a, r.doc_id AS id_b,
         l.simhash AS ha, r.simhash AS hb
  FROM fp l JOIN fp r ON l.doc_id < r.doc_id
  WHERE bit_count(xor(l.simhash, r.simhash)) <= {max_hamming}
),
hits AS (
  SELECT * FROM tp
  WHERE ((ha >> 0) & 65535) = ((hb >> 0) & 65535)
     OR ((ha >> 16) & 65535) = ((hb >> 16) & 65535)
     OR ((ha >> 32) & 65535) = ((hb >> 32) & 65535)
     OR ((ha >> 48) & 65535) = ((hb >> 48) & 65535)
),
nt AS (SELECT COUNT(*) AS n_true FROM tp),
nh AS (SELECT COUNT(*) AS n_hit FROM hits)
SELECT CAST(n_true AS BIGINT) AS n_true, CAST(n_hit AS BIGINT) AS n_hit,
  ROUND(CASE WHEN n_true > 0 THEN n_hit * 1.0 / n_true ELSE 1.0 END, 9)
    AS recall
FROM nt, nh
"""


# ---------------------------------------------------------------------------


def pl_mcc(spark, sf_dir):
    """Matthews correlation of the is-English-vs-length classifier
    framing — the imbalance-honest single-number grade; exact int64
    confusion counts, DECIMAL margin products, one sqrt+division at
    the edge."""
    from spatialdata_spark.pipeline.classify import mcc_stats

    docs = _read(spark, sf_dir, "documents").select(
        (F.col("lang") == "en").cast("int").alias("label"),
        (F.col("n_chars") >= 500).cast("int").alias("pred"),
    )
    return mcc_stats(docs)


PL_MCC_SQL = r"""
WITH c AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN y = 1 AND p = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         CAST(SUM(CASE WHEN y = 0 AND p = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         CAST(SUM(CASE WHEN y = 1 AND p = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         CAST(SUM(CASE WHEN y = 0 AND p = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
  FROM (
    -- NULL lang/n_chars rows are DROPPED to match the Spark side,
    -- where a NULL column yields a NULL label/pred that mcc_stats
    -- excludes (the confusion_stats convention)
    SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
           CASE WHEN n_chars >= 500 THEN 1 ELSE 0 END AS p
    FROM documents
    WHERE lang IS NOT NULL AND n_chars IS NOT NULL
  )
)
SELECT n, tp, fp, fn, tn,
       CASE WHEN CAST(tp + fp AS HUGEINT) * (tp + fn) * (tn + fp) * (tn + fn) > 0
       THEN ROUND(
         CAST(CAST(tp AS HUGEINT) * tn - CAST(fp AS HUGEINT) * fn AS DOUBLE)
         / SQRT(CAST(CAST(tp + fp AS HUGEINT) * (tp + fn) * (tn + fp) * (tn + fn)
                AS DOUBLE)), 6)
       END AS mcc
FROM c
"""


def pl_pr_curve(spark, sf_dir):
    """Precision/recall/F1 sweep over length-score deciles (the
    keep-the-top-X% operating curve for the English-vs-length framing)
    — exact cumulative counts through each decile, one division per
    ratio."""
    from spatialdata_spark.pipeline.classify import pr_curve

    docs = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("n_chars").alias("llr_mean"),
        (F.col("lang") == "en").cast("int").alias("label"),
    )
    return pr_curve(docs, n_bins=10)


PL_PR_CURVE_SQL = r"""
WITH s AS (
  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y, n_chars AS sc
  FROM documents WHERE n_chars IS NOT NULL
), b AS (
  SELECT y, NTILE(10) OVER (ORDER BY sc DESC, doc_id) AS bin FROM s
), per AS (
  SELECT bin, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS pos
  FROM b GROUP BY 1
), cum AS (
  SELECT bin,
         CAST(SUM(n) OVER (ORDER BY bin) AS BIGINT) AS n_kept,
         CAST(SUM(pos) OVER (ORDER BY bin) AS BIGINT) AS n_pos_kept
  FROM per
), tot AS (SELECT CAST(SUM(pos) AS BIGINT) AS tpos FROM per)
SELECT bin, n_kept, n_pos_kept,
       CASE WHEN n_kept > 0
            THEN ROUND(n_pos_kept / CAST(n_kept AS DOUBLE), 6) END AS precision,
       CASE WHEN tpos > 0
            THEN ROUND(n_pos_kept / CAST(tpos AS DOUBLE), 6) END AS recall,
       CASE WHEN n_kept + tpos > 0
            THEN ROUND(2.0 * n_pos_kept / CAST(n_kept + tpos AS DOUBLE), 6)
       END AS f1
FROM cum CROSS JOIN tot
ORDER BY bin
"""


def pl_ece(spark, sf_dir):
    """Expected calibration error of the micro-probability forecast
    framing (the pl_brier fixture) over 10 equal-width bins — the
    per-bin |accuracy - confidence| gap collapses to an exact integer
    numerator, so ece is one division."""
    from spatialdata_spark.pipeline.classify import expected_calibration_error

    docs = _read(spark, sf_dir, "documents").select(
        ((F.col("n_chars") % 101) * 10000).cast("long").alias("p_e6"),
        (F.col("lang") == "en").cast("int").alias("label"),
    )
    return expected_calibration_error(docs, n_bins=10)


PL_ECE_SQL = r"""
WITH s AS (
  -- NULL lang rows are DROPPED to match the Spark side (NULL label
  -- excluded by expected_calibration_error)
  SELECT (n_chars % 101) * 10000 AS p,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL
), b AS (
  SELECT LEAST(9, (p * 10) // 1000000) AS bin, p, y FROM s
), per AS (
  SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y) AS HUGEINT) AS pos, CAST(SUM(p) AS HUGEINT) AS sp
  FROM b GROUP BY 1
)
SELECT CAST(SUM(n) AS BIGINT) AS n,
       CAST(COUNT(*) AS BIGINT) AS n_bins_used,
       CAST(SUM(ABS(pos * 1000000 - sp)) AS BIGINT) AS ece_num,
       ROUND(CAST(SUM(ABS(pos * 1000000 - sp)) AS DOUBLE)
             / (SUM(n) * 1000000.0), 6) AS ece
FROM per
"""


def pl_mwu_lengths(spark, sf_dir):
    """Exact Mann-Whitney U between src0 and src1 document lengths —
    doubled rank sums keep midrank ties integer; the AUC-style effect
    size is one division.  The location-shift companion of
    pl_ks_lengths on the same fixture."""
    from spatialdata_spark.pipeline.textstats import mann_whitney_u

    return mann_whitney_u(_read(spark, sf_dir, "documents"))


PL_MWU_LENGTHS_SQL = r"""
WITH f AS (
  SELECT n_chars AS val, CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS ia
  FROM documents WHERE source IN ('src0', 'src1') AND n_chars IS NOT NULL
), counts AS (
  SELECT val, CAST(SUM(ia) AS BIGINT) AS ca,
         CAST(SUM(1 - ia) AS BIGINT) AS cb
  FROM f GROUP BY 1
), cum AS (
  SELECT ca, ca + cb AS ct,
         CAST(SUM(ca + cb) OVER (ORDER BY val) - (ca + cb) AS BIGINT) AS bef
  FROM counts
), tot AS (
  SELECT CAST(SUM(ca) AS BIGINT) AS n_a, CAST(SUM(cb) AS BIGINT) AS n_b
  FROM counts
)
SELECT MAX(n_a) AS n_a, MAX(n_b) AS n_b,
       CAST(SUM(ca * (2 * bef + ct + 1)) - MAX(n_a) * (MAX(n_a) + 1)
            AS BIGINT) AS u2_a,
       ROUND(CAST(SUM(ca * (2 * bef + ct + 1)) - MAX(n_a) * (MAX(n_a) + 1)
                  AS DOUBLE)
             / (2.0 * MAX(n_a) * MAX(n_b)), 6) AS auc_ab
FROM cum CROSS JOIN tot
"""


def pl_token_gini(spark, sf_dir):
    """Gini coefficient of the corpus token-frequency distribution —
    exact integer numerator over the rank-weighted vocabulary table
    (ties order-free in value), one division for the coefficient."""
    from spatialdata_spark.pipeline.textstats import token_gini

    return token_gini(_read(spark, sf_dir, "documents"))


PL_TOKEN_GINI_SQL = r"""
WITH tok AS (
  SELECT unnest(string_split_regex(LOWER(TRIM(text)), '\s+')) AS token
  FROM documents
), counts AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY 1
), ranked AS (
  SELECT tf, ROW_NUMBER() OVER (ORDER BY tf, token) AS i FROM counts
), agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_types,
         CAST(SUM(tf) AS BIGINT) AS total_tokens,
         SUM(CAST(i AS HUGEINT) * tf) AS ix,
         CAST(SUM(tf) AS HUGEINT) AS sx
  FROM ranked
)
SELECT n_types, total_tokens,
       CAST(2 * ix - (n_types + 1) * sx AS BIGINT) AS gini_num,
       ROUND(CAST(2 * ix - (n_types + 1) * sx AS DOUBLE)
             / (CAST(n_types AS DOUBLE) * total_tokens), 6) AS gini
FROM agg
"""


def st_cusum(spark, sf_dir):
    """Exact CUSUM of daily event volume against the uniform-rate
    null — every term integer (counts scaled by the day count), the
    max-|S| day flagged as the change-point candidate."""
    from spatialdata_spark.operators.temporal import cusum_drift

    return cusum_drift(_read(spark, sf_dir, "events"))


ST_CUSUM_SQL = r"""
WITH daily AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events WHERE ts IS NOT NULL GROUP BY 1
), tot AS (
  SELECT CAST(SUM(n_events) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS d
  FROM daily
), cum AS (
  SELECT day, n_events,
         CAST(SUM(n_events * d - n) OVER (ORDER BY day) AS BIGINT) AS cusum_num
  FROM daily CROSS JOIN tot
)
SELECT day, n_events, cusum_num,
       ABS(cusum_num) = MAX(ABS(cusum_num)) OVER () AS is_peak
FROM cum ORDER BY day
"""


def pl_wcc(spark, sf_dir):
    """Connected components of the STRONG co-purchase graph (parts
    sharing >= 2 orders) via iterative large-star/small-star — the
    direct registry anchor for the CC operator the near-dup ladder
    uses transitively; the oracle closes the same edges with a
    recursive CTE.  Thresholding keeps the graph genuinely
    multi-component (the unthresholded projection is one giant
    blob)."""
    from spatialdata_spark.pipeline.dedup import connected_components

    li = _read(spark, sf_dir, "lineitem")
    # persist-audit decision (r11): two consumers, both inside the one
    # materialization of connected_components' first localCheckpoint —
    # a persist here is a recompute-vs-cache-write wash (see the
    # _copurchase_edges note), so the distinct stays bare
    op = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").cast("long").alias("p")
    ).distinct()
    a, b = op.alias("a"), op.alias("b")
    strong = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .groupBy(F.col("a.p").alias("id_a"), F.col("b.p").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") >= 2)
        .select("id_a", "id_b")
    )
    return connected_components(strong, "id_a", "id_b")


PL_WCC_SQL = r"""
WITH RECURSIVE op AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS o, CAST(l_partkey AS BIGINT) AS p FROM lineitem
),
cand AS MATERIALIZED (
  SELECT a.p AS u, b.p AS v
  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
edges AS (
  SELECT u AS a, v AS b FROM cand
  UNION ALL
  SELECT v AS a, u AS b FROM cand
),
cc(node, lbl) AS (
  SELECT DISTINCT a, a FROM edges
  UNION
  SELECT e.b, c.lbl FROM cc c JOIN edges e ON e.a = c.node
)
SELECT node, CAST(MIN(lbl) AS BIGINT) AS component FROM cc GROUP BY node
"""


def pl_log_odds(spark, sf_dir):
    """Fightin' Words (Monroe 2008, +1 Dirichlet prior): z-scored
    log-odds of token usage src0 vs src1, top 20 by rounded |z| with
    token tie-break — which words distinguish the two sources."""
    from spatialdata_spark.pipeline.textstats import log_odds_tokens

    return log_odds_tokens(_read(spark, sf_dir, "documents"))


PL_LOG_ODDS_SQL = r"""
WITH tok AS (
  SELECT CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS ia,
         unnest(string_split_regex(LOWER(TRIM(text)), '\s+')) AS token
  FROM documents WHERE source IN ('src0', 'src1')
), counts AS (
  SELECT token, CAST(SUM(ia) AS BIGINT) AS y_a,
         CAST(SUM(1 - ia) AS BIGINT) AS y_b
  FROM tok GROUP BY 1
), tot AS (
  SELECT CAST(SUM(y_a) AS BIGINT) AS na, CAST(SUM(y_b) AS BIGINT) AS nb,
         CAST(COUNT(*) AS BIGINT) AS v
  FROM counts
), s AS (
  SELECT token, y_a, y_b,
         LN((y_a + 1) / CAST(na + v - y_a - 1 AS DOUBLE))
         - LN((y_b + 1) / CAST(nb + v - y_b - 1 AS DOUBLE)) AS d,
         SQRT(1.0 / (y_a + 1) + 1.0 / (y_b + 1)) AS sd
  FROM counts CROSS JOIN tot
  WHERE y_a + y_b >= 5
)
SELECT token, y_a, y_b, ROUND(d, 6) AS delta, ROUND(d / sd, 6) AS z
FROM s
ORDER BY ROUND(ABS(d / sd), 6) DESC, token
LIMIT 20
"""


def pl_centroid_cosine(spark, sf_dir):
    """Pairwise cosine between LABEL CENTROIDS of the embedding corpus
    — exact because cos(mean_a, mean_b) = cos(sum_a, sum_b) (the 1/n
    cancels): int64 grid sums, DECIMAL dot/norms, one float step at
    the edge."""
    from spatialdata_spark.pipeline.similarity import centroid_cosine

    return centroid_cosine(_read(spark, sf_dir, "embeddings"))


PL_CENTROID_COSINE_SQL = r"""
WITH longv AS (
  SELECT label AS g, generate_subscripts(embedding, 1) - 1 AS pos,
         CAST(FLOOR(unnest(CAST(embedding AS DOUBLE[])) * 100 + 0.5) AS BIGINT)
           AS v
  FROM embeddings
), sums AS (
  SELECT g, pos, CAST(SUM(v) AS BIGINT) AS s FROM longv GROUP BY 1, 2
), norms AS (
  SELECT g, SUM(CAST(s AS HUGEINT) * s) AS n2 FROM sums GROUP BY 1
), dots AS (
  SELECT a.g AS label_a, b.g AS label_b,
         SUM(CAST(a.s AS HUGEINT) * b.s) AS dot
  FROM sums a JOIN sums b ON a.pos = b.pos AND a.g < b.g
  GROUP BY 1, 2
)
SELECT label_a, label_b, CAST(dot AS BIGINT) AS dot_num,
       CASE WHEN na.n2 > 0 AND nb.n2 > 0 THEN
         ROUND(CAST(dot AS DOUBLE)
               / (SQRT(CAST(na.n2 AS DOUBLE)) * SQRT(CAST(nb.n2 AS DOUBLE))), 6)
       END AS cos
FROM dots
JOIN norms na ON na.g = dots.label_a
JOIN norms nb ON nb.g = dots.label_b
"""


def pl_benford(spark, sf_dir):
    """Benford's-law leading-digit screen over document lengths —
    digit extraction by string substr on the INTEGER column (never a
    float log10 near a power-of-ten boundary); expected fractions are
    shared literals, so both engines subtract the identical constant."""
    from spatialdata_spark.pipeline.textstats import benford_deviation

    return benford_deviation(_read(spark, sf_dir, "documents"))


def _benford_sql() -> str:
    import math

    lits = {d: round(math.log10(1 + 1 / d), 6) for d in range(1, 10)}
    bcase = "CASE digit " + " ".join(
        f"WHEN {d} THEN {v}" for d, v in lits.items()
    ) + " END"
    return f"""
WITH base AS (
  SELECT CAST(SUBSTR(CAST(n_chars AS VARCHAR), 1, 1) AS INT) AS d
  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
), counts AS (
  SELECT d, CAST(COUNT(*) AS BIGINT) AS n FROM base GROUP BY 1
), tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM counts),
digits AS (SELECT CAST(unnest(range(1, 10)) AS INT) AS digit)
SELECT digit,
       CAST(COALESCE(counts.n, 0) AS BIGINT) AS n,
       CASE WHEN t > 0
            THEN ROUND(COALESCE(counts.n, 0) / CAST(t AS DOUBLE), 6)
       END AS frac,
       {bcase} AS benford_frac,
       CASE WHEN t > 0
            THEN ROUND(COALESCE(counts.n, 0) / CAST(t AS DOUBLE)
                       - {bcase}, 6)
       END AS dev
FROM digits LEFT JOIN counts ON counts.d = digits.digit CROSS JOIN tot
ORDER BY digit
"""


def pl_dup_profile(spark, sf_dir):
    """Per-source exact-duplication triage: duplicate mass and
    cross-source contamination per source, the report that routes the
    dedup budget.  Digest convention shared with exact_dedup (md5)."""
    from spatialdata_spark.pipeline.dedup import duplication_profile

    return duplication_profile(_read(spark, sf_dir, "documents"))


PL_DUP_PROFILE_SQL = r"""
WITH d AS (SELECT source AS g, md5(text) AS digest FROM documents),
pd AS (
  SELECT digest, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(DISTINCT g) AS BIGINT) AS ng
  FROM d GROUP BY 1
)
SELECT g AS source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
       CAST(SUM(CASE WHEN ng > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_cross_dup,
       ROUND(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS dup_rate
FROM d JOIN pd USING (digest)
GROUP BY 1 ORDER BY 1
"""


def pl_ks_matrix(spark, sf_dir):
    """Pairwise two-sample KS matrix over ALL source pairs (the full
    drift triage view pl_ks_lengths gives one cell of) — same
    cross-multiplied exact-integer contract on the shared value grid;
    pairs x grid work, both metadata-sized."""
    from spatialdata_spark.pipeline.textstats import ks_matrix

    return ks_matrix(_read(spark, sf_dir, "documents"))


PL_KS_MATRIX_SQL = r"""
WITH counts AS (
  SELECT source AS g, n_chars AS val, CAST(COUNT(*) AS BIGINT) AS c
  FROM documents WHERE n_chars IS NOT NULL AND source IS NOT NULL
  GROUP BY 1, 2
), grid AS (SELECT DISTINCT val FROM counts),
grp AS (SELECT DISTINCT g FROM counts),
dense AS (
  SELECT grp.g, grid.val, COALESCE(counts.c, 0) AS c
  FROM grid CROSS JOIN grp
  LEFT JOIN counts ON counts.g = grp.g AND counts.val = grid.val
), cum AS (
  SELECT g, val,
         CAST(SUM(c) OVER (PARTITION BY g ORDER BY val) AS BIGINT) AS cm
  FROM dense
), tot AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n FROM counts GROUP BY 1)
SELECT a.g AS group_a, b.g AS group_b,
       MAX(ta.n) AS n_a, MAX(tb.n) AS n_b,
       CAST(MAX(ABS(a.cm * tb.n - b.cm * ta.n)) AS BIGINT) AS ks_num,
       CAST(MAX(ta.n * tb.n) AS BIGINT) AS ks_den,
       ROUND(MAX(ABS(a.cm * tb.n - b.cm * ta.n))
             / CAST(MAX(ta.n * tb.n) AS DOUBLE), 9) AS ks_stat
FROM cum a JOIN cum b ON a.val = b.val AND a.g < b.g
JOIN tot ta ON ta.g = a.g
JOIN tot tb ON tb.g = b.g
GROUP BY 1, 2
ORDER BY 1, 2
"""


def pl_kripp(spark, sf_dir):
    """Krippendorff's alpha (nominal) across THREE labelers of the
    en-vs-other decision — truth, the stopword language-ID (missing
    where it abstains with 'unknown' — the coefficient's raison
    d'être), and a deliberately-noisy length heuristic; agreement
    better than chance but far from perfect by construction."""
    from spatialdata_spark.pipeline.classify import krippendorff_alpha
    from spatialdata_spark.pipeline.textstats import language_id

    docs = _read(spark, sf_dir, "documents")
    en = lambda c: F.when(c == "en", "en").otherwise("other")  # noqa: E731
    r1 = docs.select(
        F.col("doc_id").alias("unit"),
        F.lit("truth").alias("rater"),
        en(F.col("lang")).alias("value"),
    )
    r2 = (
        language_id(docs)
        .filter(F.col("lang_pred") != "unknown")
        .select(
            F.col("doc_id").alias("unit"),
            F.lit("lid").alias("rater"),
            en(F.col("lang_pred")).alias("value"),
        )
    )
    r3 = docs.select(
        F.col("doc_id").alias("unit"),
        F.lit("len").alias("rater"),
        F.when(F.col("n_chars") >= 500, "en").otherwise("other").alias("value"),
    )
    return krippendorff_alpha(r1.unionByName(r2).unionByName(r3))


def _kripp_sql() -> str:
    return f"""
WITH {_lid_pred_ctes()},
r AS (
  SELECT doc_id AS u, CASE WHEN lang = 'en' THEN 'en' ELSE 'other' END AS v
  FROM documents
  UNION ALL
  SELECT doc_id, CASE WHEN p = 'en' THEN 'en' ELSE 'other' END
  FROM pred WHERE p <> 'unknown'
  UNION ALL
  SELECT doc_id, CASE WHEN n_chars >= 500 THEN 'en' ELSE 'other' END
  FROM documents
),
uv AS (SELECT u, v, CAST(COUNT(*) AS BIGINT) AS k FROM r GROUP BY 1, 2),
mu AS (
  SELECT u, CAST(SUM(k) AS BIGINT) AS m FROM uv GROUP BY 1
  HAVING SUM(k) >= 2
),
j AS (SELECT uv.u, uv.v, uv.k, mu.m FROM uv JOIN mu USING (u)),
per AS (SELECT u, m, CAST(SUM(k * k) AS BIGINT) AS sk2 FROM j GROUP BY 1, 2),
do_ AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_units, CAST(SUM(m) AS BIGINT) AS n,
         SUM(CAST(m * m - sk2 AS DOUBLE) / (m - 1)) AS dox
  FROM per
),
marg AS (SELECT v, CAST(SUM(k) AS BIGINT) AS nv FROM j GROUP BY 1),
de AS (SELECT CAST(SUM(CAST(nv AS HUGEINT) * nv) AS DOUBLE) AS sv2 FROM marg)
SELECT n_units, n,
       CASE WHEN n >= 2
                 AND (CAST(n AS DOUBLE) * n - sv2) / (CAST(n AS DOUBLE) - 1) > 0
            THEN ROUND(1.0 - dox
                       / ((CAST(n AS DOUBLE) * n - sv2)
                          / (CAST(n AS DOUBLE) - 1)), 6)
       END AS alpha
FROM do_ CROSS JOIN de
"""


def st_ewma(spark, sf_dir):
    """Exact dyadic EWMA (alpha=1/2, 40-lag truncation) of daily event
    volume — the smoothed alerting level, emitted as exact int64
    microunits (NO floating point in the contract: the unrolled
    recursion is pure powers of two, so both engines compute identical
    integers)."""
    from spatialdata_spark.operators.temporal import ewma_daily

    return ewma_daily(_read(spark, sf_dir, "events"))


ST_EWMA_SQL = r"""
WITH counts AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events WHERE ts IS NOT NULL GROUP BY 1
), calendar AS (
  SELECT strftime(CAST(unnest(generate_series(
           CAST((SELECT MIN(day) FROM counts) AS DATE),
           CAST((SELECT MAX(day) FROM counts) AS DATE),
           INTERVAL 1 DAY)) AS DATE), '%Y-%m-%d') AS day
), daily AS (
  -- zero-event days densified in: the level must DECAY through gaps
  SELECT calendar.day, COALESCE(counts.n_events, 0) AS n_events
  FROM calendar LEFT JOIN counts USING (day)
), idx AS (
  SELECT day, n_events,
         CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS i
  FROM daily
), pairs AS (
  SELECT a.day, a.n_events,
         SUM(CAST(b.n_events AS HUGEINT)
             * (CAST(1 AS BIGINT) << CAST(40 - (a.i - b.i) - 1 AS INT)))
           AS num
  FROM idx a JOIN idx b ON b.i <= a.i AND b.i > a.i - 40
  GROUP BY 1, 2
)
SELECT day, n_events,
       CAST((num * 1000000 + 549755813888) // 1099511627776 AS BIGINT)
         AS ewma_e6
FROM pairs ORDER BY day
"""


def st_acf(spark, sf_dir):
    """Exact lag-1..7 autocorrelation of daily event volume — the
    seasonality probe of the daily-monitor family (does the stream
    repeat weekly?).  Integer-rational contract end-to-end: the
    T^2-cleared numerator/denominator are exact DECIMAL integers over
    the zero-densified calendar, emitted as half-away-from-zero int64
    microunits — no floating point anywhere (the ewma_e6/modularity
    convention)."""
    from spatialdata_spark.operators.temporal import acf_daily

    ev = _read(spark, sf_dir, "events")
    return acf_daily(ev, max_lag=7)


ST_ACF_SQL = r"""
-- CROSS-ENGINE SHAPE CAVEAT (realized-data-path oracle convention): on
-- an EMPTY / all-NULL-ts events table this SQL returns ZERO rows
-- (generate_series over NULL bounds yields no calendar) while the
-- Spark side raises 'empty series' loudly — a green zero-row "match"
-- from an empty partition would be a misread, not a pass.  The parity
-- fixtures always have events, so the divergence is never exercised.
WITH counts AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events WHERE ts IS NOT NULL GROUP BY 1
), calendar AS (
  SELECT strftime(CAST(unnest(generate_series(
           CAST((SELECT MIN(day) FROM counts) AS DATE),
           CAST((SELECT MAX(day) FROM counts) AS DATE),
           INTERVAL 1 DAY)) AS DATE), '%Y-%m-%d') AS day
), daily AS (
  SELECT calendar.day, COALESCE(counts.n_events, 0) AS n
  FROM calendar LEFT JOIN counts USING (day)
), idx AS (
  SELECT day, n, CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS i
  FROM daily
), tot AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS t,
         CAST(SUM(n) AS HUGEINT) AS s,
         SUM(CAST(n AS HUGEINT) * n) AS q
  FROM idx
), per AS (
  SELECT CAST(b.i - a.i AS BIGINT) AS lag,
         CAST(COUNT(*) AS BIGINT) AS n_pairs,
         SUM(CAST(a.n AS HUGEINT) * b.n) AS p,
         CAST(SUM(a.n) AS HUGEINT) AS sa,
         CAST(SUM(b.n) AS HUGEINT) AS sb
  FROM idx a JOIN idx b ON b.i > a.i AND b.i <= a.i + 7
  GROUP BY 1
), nd AS (
  SELECT lag, n_pairs,
         t*t*p - t*s*(sa + sb) + (t - lag)*s*s AS num,
         t*t*q - t*s*s AS den
  FROM per CROSS JOIN tot
)
SELECT lag, n_pairs,
       CASE WHEN num >= 0
            THEN CAST((num * 2000000 + den) // (den * 2) AS BIGINT)
            ELSE -CAST(((-num) * 2000000 + den) // (den * 2) AS BIGINT)
       END AS acf_e6
FROM nd ORDER BY lag
"""


def pl_cliffs_delta(spark, sf_dir):
    """Pairwise Cliff's delta effect-size matrix over the sources'
    doc-length distributions — exact gt/lt pair counts from grouped
    value counts + per-group cumulatives over the shared grid (never
    pair enumeration), one exact-integer division for delta, magnitude
    labels cut on the ROUNDED |delta| so libm can't flip a label."""
    from spatialdata_spark.pipeline.textstats import cliffs_delta

    docs = _read(spark, sf_dir, "documents")
    return cliffs_delta(docs)


PL_CLIFFS_SQL = r"""
WITH counts AS (
  SELECT source AS g, n_chars AS val, CAST(COUNT(*) AS BIGINT) AS c
  FROM documents
  WHERE n_chars IS NOT NULL AND source IS NOT NULL
  GROUP BY 1, 2
), grid AS (SELECT DISTINCT val FROM counts),
grps AS (SELECT DISTINCT g FROM counts),
dense AS (
  SELECT grps.g, grid.val, COALESCE(counts.c, 0) AS c
  FROM grid CROSS JOIN grps
  LEFT JOIN counts ON counts.g = grps.g AND counts.val = grid.val
), cum AS (
  SELECT g, val, c,
         CAST(SUM(c) OVER (PARTITION BY g ORDER BY val) AS BIGINT) AS cm
  FROM dense
), tot AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n FROM counts GROUP BY 1),
pairs AS (
  SELECT a.g AS group_a, b.g AS group_b,
         MAX(ta.n) AS n_a, MAX(tb.n) AS n_b,
         SUM(CAST(a.c AS HUGEINT) * (b.cm - b.c)) AS gt,
         SUM(CAST(a.c AS HUGEINT) * (tb.n - b.cm)) AS lt
  FROM cum a
  JOIN cum b ON a.val = b.val AND a.g < b.g
  JOIN tot ta ON ta.g = a.g
  JOIN tot tb ON tb.g = b.g
  GROUP BY 1, 2
), d AS (
  SELECT group_a, group_b, n_a, n_b,
         CAST(gt AS BIGINT) AS gt_pairs,
         CAST(lt AS BIGINT) AS lt_pairs,
         ROUND(CAST(gt - lt AS DOUBLE)
               / CAST(CAST(n_a AS HUGEINT) * n_b AS DOUBLE), 6) AS delta
  FROM pairs
)
SELECT group_a, group_b, n_a, n_b, gt_pairs, lt_pairs, delta,
       CASE WHEN ABS(delta) < 0.147 THEN 'negligible'
            WHEN ABS(delta) < 0.33  THEN 'small'
            WHEN ABS(delta) < 0.474 THEN 'medium'
            ELSE 'large' END AS magnitude
FROM d ORDER BY group_a, group_b
"""


def pl_hhi(spark, sf_dir):
    """Herfindahl-Hirschman source-concentration gate over the corpus:
    exact integer sum-of-squares and N^2, every ratio ONE division of
    exact integers (hhi, normalized hhi, effective source count,
    top-source share), 6 dp."""
    from spatialdata_spark.pipeline.textstats import herfindahl_index

    docs = _read(spark, sf_dir, "documents")
    return herfindahl_index(docs)


PL_HHI_SQL = r"""
WITH per AS (
  SELECT source AS g, CAST(COUNT(*) AS BIGINT) AS c
  FROM documents WHERE source IS NOT NULL GROUP BY 1
), agg AS (
  SELECT CAST(SUM(c) AS HUGEINT) AS n,
         CAST(COUNT(*) AS BIGINT) AS k,
         SUM(CAST(c AS HUGEINT) * c) AS sq,
         CAST(MAX(c) AS HUGEINT) AS top
  FROM per
)
SELECT CAST(n AS BIGINT) AS n_docs,
       k AS n_groups,
       CAST(sq AS BIGINT) AS sum_sq,
       ROUND(CAST(top AS DOUBLE) / CAST(n AS DOUBLE), 6) AS top_share,
       ROUND(CAST(sq AS DOUBLE) / CAST(n * n AS DOUBLE), 6) AS hhi,
       CASE WHEN k > 1
            THEN ROUND(CAST(k * sq - n * n AS DOUBLE)
                       / CAST(n * n * (k - 1) AS DOUBLE), 6)
       END AS hhi_norm,
       ROUND(CAST(n * n AS DOUBLE) / CAST(sq AS DOUBLE), 6) AS eff_groups
FROM agg
"""


def q_assoc_rules(spark, sf_dir):
    """Association rules over co-purchased part pairs (the classic
    market-basket support/confidence/lift report, Agrawal 1993): for
    the top ordered pairs by joint support, ``confidence = P(b|a)``
    and ``lift = P(b|a)/P(b)`` — exact integer counts from the
    order-key equi-join (never all-pairs; TPC-H orders hold <= 7
    lines), cross-multiplied DECIMAL lift so the ranking is exact,
    ratios one division each, 6 dp.  Top-20 by (pair_count DESC, a,
    b) — a total order."""
    from pyspark import StorageLevel

    li = _read(spark, sf_dir, "lineitem")
    # persist the distinct (order, part) projection: FOUR consumers
    # read it (the order count, the item-frequency table, both self-
    # join sides) and without a persist each one recomputes the
    # lineitem scan + distinct — the minhash band-table precedent
    # (basket-bounded rows, MEMORY_AND_DISK, LRU-reclaimed)
    op = (
        li.select(
            F.col("l_orderkey").alias("o"), F.col("l_partkey").cast("long").alias("p")
        )
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_orders = op.select("o").distinct().count()
    item = op.groupBy(F.col("p")).agg(F.count(F.lit(1)).cast("long").alias("__np"))
    a, b = op.alias("a"), op.alias("b")
    pairs = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") != F.col("b.p")))
        .groupBy(F.col("a.p").alias("ante"), F.col("b.p").alias("cons"))
        .agg(F.count(F.lit(1)).cast("long").alias("pair_n"))
    )
    j = (
        pairs.join(
            F.broadcast(item.select(F.col("p").alias("ante"), F.col("__np").alias("__na"))),
            "ante",
        )
        .join(
            F.broadcast(item.select(F.col("p").alias("cons"), F.col("__np").alias("__nb"))),
            "cons",
        )
    )
    dec = "decimal(38,0)"
    return (
        j.select(
            "ante",
            "cons",
            "pair_n",
            F.col("__na").alias("n_ante"),
            F.col("__nb").alias("n_cons"),
            F.round(F.col("pair_n") / F.lit(float(n_orders)), 6).alias("support"),
            F.round(F.col("pair_n") / F.col("__na"), 6).alias("confidence"),
            F.round(
                (F.col("pair_n").cast(dec) * F.lit(int(n_orders)).cast(dec)).cast(
                    "double"
                )
                / (F.col("__na").cast(dec) * F.col("__nb").cast(dec)).cast("double"),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("pair_n"), "ante", "cons")
        .limit(20)
    )


Q_ASSOC_RULES_SQL = r"""
WITH op AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS o, CAST(l_partkey AS BIGINT) AS p FROM lineitem
),
n_ord AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n FROM op),
item AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS np FROM op GROUP BY 1),
pairs AS (
  SELECT a.p AS ante, b.p AS cons, CAST(COUNT(*) AS BIGINT) AS pair_n
  FROM op a JOIN op b ON a.o = b.o AND a.p <> b.p
  GROUP BY 1, 2
)
SELECT ante, cons, pair_n,
       ia.np AS n_ante, ib.np AS n_cons,
       ROUND(pair_n / CAST(n_ord.n AS DOUBLE), 6) AS support,
       ROUND(pair_n / CAST(ia.np AS DOUBLE), 6) AS confidence,
       ROUND(CAST(CAST(pair_n AS HUGEINT) * n_ord.n AS DOUBLE)
             / CAST(CAST(ia.np AS HUGEINT) * ib.np AS DOUBLE), 6) AS lift
FROM pairs
JOIN item ia ON ia.p = pairs.ante
JOIN item ib ON ib.p = pairs.cons
CROSS JOIN n_ord
ORDER BY pair_n DESC, ante, cons
LIMIT 20
"""


def q_revenue_growth(spark, sf_dir):
    """Month-over-month revenue growth per customer nation — the
    classic retail OLAP trend report (window lag over the aggregated
    nation x month grid, metadata-sized at any corpus scale; the only
    corpus-sized work is the fact-table join + one keyed aggregation).
    Exactness: monthly revenue accumulates in DECIMAL; growth is ONE
    (rev - prev)/prev division of exact decimals cast to double, 6 dp
    (the assoc-rules lift convention); the first observed month per
    nation has growth NULL.  Lag is over OBSERVED months in month-key
    order (TPC-H orders are calendar-dense, so observed = calendar;
    documented).  r12 registry candidate (library-level-first)."""
    from pyspark.sql.window import Window

    cust = _read(spark, sf_dir, "customer")
    orders = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem")
    nation = _read(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice").cast(DEC) * (
        F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC)
    )
    monthly = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy(
            F.col("n_name"),
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        )
        .agg(F.sum(rev).alias("__rev"))
    )
    w = Window.partitionBy("n_name").orderBy("month")
    prev = F.lag("__rev").over(w)
    return monthly.select(
        "n_name",
        "month",
        F.col("__rev").cast("double").alias("revenue"),
        F.when(
            prev > 0,
            F.round((F.col("__rev") - prev).cast("double") / prev.cast("double"), 6),
        ).alias("growth"),
    ).orderBy("n_name", "month")


Q_REVENUE_GROWTH_SQL = f"""
WITH monthly AS (
  SELECT n_name, strftime(o_orderdate, '%Y-%m') AS month,
         SUM(CAST(l_extendedprice AS {DEC})
             * (CAST(1 AS {DEC}) - CAST(l_discount AS {DEC}))) AS rev
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1, 2
), lagged AS (
  SELECT n_name, month, rev,
         LAG(rev) OVER (PARTITION BY n_name ORDER BY month) AS prev
  FROM monthly
)
SELECT n_name, month,
       CAST(rev AS DOUBLE) AS revenue,
       CASE WHEN prev > 0
            THEN ROUND(CAST(rev - prev AS DOUBLE) / CAST(prev AS DOUBLE), 6)
       END AS growth
FROM lagged
ORDER BY n_name, month
"""


def q_promo_share(spark, sf_dir):
    """Monthly promotional revenue share (the TPC-H Q14 shape over the
    ship calendar): per ship month, the fraction of discounted revenue
    carried by PROMO-type parts — the assortment-mix trend a retail
    analyst reads next to q_revenue_growth.  Exactness: both revenue
    masses accumulate in DECIMAL (the q_revenue_growth convention);
    the share is ONE promo/total division of exact decimals cast to
    double, 6 dp; months with zero total (impossible with TPC-H data,
    guarded anyway) emit NULL share.  The only corpus-sized work is
    the fact-scan + part join (local-gated broadcast; AQE decides on a
    cluster) + one month-keyed aggregation — the output grid is
    calendar-sized at any corpus scale.  r14 registry candidate
    (library-level-first; UNREGISTERED until the r14 head rotation)."""
    li = _read(spark, sf_dir, "lineitem")
    part = _read(spark, sf_dir, "part")
    rev = F.col("l_extendedprice").cast(DEC) * (
        F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC)
    )
    monthly = (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("month"))
        .agg(
            F.sum(
                F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(
                    F.lit(0).cast(DEC)
                )
            ).alias("__promo"),
            F.sum(rev).alias("__total"),
        )
    )
    return monthly.select(
        "month",
        F.col("__promo").cast("double").alias("promo_revenue"),
        F.col("__total").cast("double").alias("total_revenue"),
        F.when(
            F.col("__total") > 0,
            F.round(
                F.col("__promo").cast("double") / F.col("__total").cast("double"), 6
            ),
        ).alias("promo_share"),
    ).orderBy("month")


Q_PROMO_SHARE_SQL = f"""
WITH monthly AS (
  SELECT strftime(l_shipdate, '%Y-%m') AS month,
         SUM(CASE WHEN p_type LIKE 'PROMO%'
                  THEN CAST(l_extendedprice AS {DEC})
                       * (CAST(1 AS {DEC}) - CAST(l_discount AS {DEC}))
                  ELSE CAST(0 AS {DEC}) END) AS promo,
         SUM(CAST(l_extendedprice AS {DEC})
             * (CAST(1 AS {DEC}) - CAST(l_discount AS {DEC}))) AS total
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY 1
)
SELECT month,
       CAST(promo AS DOUBLE) AS promo_revenue,
       CAST(total AS DOUBLE) AS total_revenue,
       CASE WHEN total > 0
            THEN ROUND(CAST(promo AS DOUBLE) / CAST(total AS DOUBLE), 6)
       END AS promo_share
FROM monthly
ORDER BY month
"""


def q_order_priority(spark, sf_dir):
    """Order-priority check over orders with returned lines (the
    TPC-H Q4 SHAPE on the reduced schema: Q4's EXISTS(late lineitem)
    becomes EXISTS(l_returnflag = 'R') because the synthetic lineitem
    carries no commit/receipt dates) — per order year and priority,
    how many orders had at least one returned line.  The semi-join
    (left_semi — each order counted ONCE however many lines match) is
    the shape this adds to the TPC-H registry set: q20/q21 use
    IN-subquery filters on dims, this is an EXISTS against the fact
    table itself.  Exact integer counts; the output grid is
    year x priority (metadata-sized at any corpus scale).  r14
    registry candidate (UNREGISTERED until the r14 head rotation)."""
    orders = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem")
    returned = li.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    return (
        orders.join(returned, orders["o_orderkey"] == returned["l_orderkey"], "left_semi")
        .groupBy(
            F.year("o_orderdate").cast("long").alias("order_year"),
            F.col("o_orderpriority"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
        .orderBy("order_year", "o_orderpriority")
    )


Q_ORDER_PRIORITY_SQL = """
SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS order_year,
       o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R'
)
GROUP BY 1, 2
ORDER BY 1, 2
"""


def q_idle_customers(spark, sf_dir):
    """Well-funded customers with NO orders, per market segment (the
    TPC-H Q22 SHAPE: NOT-EXISTS anti-join + an above-average-balance
    gate) — the dormant-account report.  EXACT THRESHOLD CONTRACT
    (the rounded-score-ordering lesson applied to a filter): the gate
    "balance above the positive-balance average" is the
    CROSS-MULTIPLIED integer-decimal comparison
    ``c_acctbal * n_pos > total_pos`` — no float average anywhere, so
    boundary customers resolve identically on any engine (a DOUBLE
    avg differs in the last ulp with summation order and silently
    flips memberships).  The anti-join is left_anti on the orders
    fact; the 1-row positive-balance aggregate broadcasts.  Output:
    segment-grid-sized.  r14 registry candidate (UNREGISTERED until
    the r14 head rotation)."""
    cust = _read(spark, sf_dir, "customer")
    orders = _read(spark, sf_dir, "orders")
    bal = F.col("c_acctbal").cast(DEC)
    pos = cust.filter(bal > 0).agg(
        F.sum(bal).alias("__total_pos"),
        F.count(F.lit(1)).cast("long").alias("__n_pos"),
    )
    gated = (
        cust.crossJoin(F.broadcast(pos))
        .filter(bal * F.col("__n_pos") > F.col("__total_pos"))
    )
    idle = gated.join(
        orders.select("o_custkey"),
        gated["c_custkey"] == orders["o_custkey"],
        "left_anti",
    )
    return (
        idle.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum(bal).cast("double").alias("total_balance"),
        )
        .orderBy("c_mktsegment")
    )


Q_IDLE_CUSTOMERS_SQL = f"""
WITH pos AS (
  SELECT SUM(CAST(c_acctbal AS {DEC})) AS total_pos,
         CAST(COUNT(*) AS BIGINT) AS n_pos
  FROM customer WHERE CAST(c_acctbal AS {DEC}) > 0
)
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(CAST(c_acctbal AS {DEC})) AS DOUBLE) AS total_balance
FROM customer, pos
WHERE CAST(c_acctbal AS {DEC}) * n_pos > total_pos
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY 1
ORDER BY 1
"""


def q_order_size_hist(spark, sf_dir):
    """Order-size histogram: the distribution of line items per order
    (the basket-size profile a fulfillment planner reads next to
    q13's customer-order distribution).  Exactness: two exact
    count aggregations (per-order line count, then per-size order
    count) and one exact microunit share via e6_signed — no float
    anywhere.  Plan: the per-order rollup is the only corpus-sized
    work (map-side combinable); the histogram is basket-size-grid-
    sized (tens of rows) and the 1-row total broadcasts.  r15
    registry candidate (UNREGISTERED until the r15 head rotation)."""
    from spatialdata_spark.functions.exact import e6_signed

    li = _read(spark, sf_dir, "lineitem")
    per = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("long").alias("__nl")
    )
    hist = per.groupBy(F.col("__nl").alias("n_lines")).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders")
    )
    tot = hist.agg(F.sum("n_orders").cast("long").alias("__tot"))
    return (
        hist.crossJoin(F.broadcast(tot))
        .select(
            "n_lines",
            "n_orders",
            e6_signed(
                "CAST(n_orders AS DECIMAL(38,0))",
                "CAST(__tot AS DECIMAL(38,0))",
                "q_order_size_hist",
            ).alias("share_e6"),
        )
        .orderBy("n_lines")
    )


Q_ORDER_SIZE_HIST_SQL = r"""
WITH per AS (
  SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS nl
  FROM lineitem GROUP BY 1
), hist AS (
  SELECT nl AS n_lines, CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM per GROUP BY 1
), tot AS (SELECT CAST(SUM(n_orders) AS BIGINT) AS t FROM hist)
SELECT n_lines, n_orders,
       CAST((CAST(n_orders AS HUGEINT) * 2000000 + t) // (CAST(t AS HUGEINT) * 2)
            AS BIGINT) AS share_e6
FROM hist CROSS JOIN tot
ORDER BY n_lines
"""


ST_EVENT_TRANSITIONS_SQL = r"""
SELECT from_type, to_type,
       CAST(COUNT(*) AS BIGINT) AS n_transitions,
       ROUND(COUNT(*) * 1.0 / SUM(COUNT(*)) OVER (PARTITION BY from_type), 6)
         AS frac
FROM (
  SELECT event_type AS from_type,
         LEAD(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS to_type
  FROM events
  WHERE user_id IS NOT NULL AND event_type IS NOT NULL AND ts IS NOT NULL
)
WHERE to_type IS NOT NULL
GROUP BY 1, 2
ORDER BY 1, 2
"""


def pl_cvm_lengths(spark, sf_dir):
    """Exact two-sample Cramér-von Mises statistic between src0 and
    src1 document-length distributions — the whole-curve companion of
    pl_ks_lengths (KS reads the single largest ECDF gap; CvM
    integrates the squared gap, catching broad mild drift that never
    spikes).  Integer-rational: DECIMAL(38,0) numerator/denominator,
    one half-up division to int64 microunits (cvm_e6)."""
    from spatialdata_spark.pipeline.textstats import cramer_von_mises_2sample

    return cramer_von_mises_2sample(_read(spark, sf_dir, "documents"))


PL_CVM_LENGTHS_SQL = r"""
WITH f AS (
  SELECT n_chars AS val, CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS ia
  FROM documents WHERE source IN ('src0', 'src1') AND n_chars IS NOT NULL
), counts AS (
  SELECT val, CAST(SUM(ia) AS BIGINT) AS ca, CAST(SUM(1 - ia) AS BIGINT) AS cb
  FROM f GROUP BY 1
), cum AS (
  SELECT ca, cb,
         CAST(SUM(ca) OVER (ORDER BY val) AS BIGINT) AS cuma,
         CAST(SUM(cb) OVER (ORDER BY val) AS BIGINT) AS cumb
  FROM counts
), tot AS (
  SELECT CAST(SUM(ca) AS BIGINT) AS n_a, CAST(SUM(cb) AS BIGINT) AS n_b
  FROM counts
), agg AS (
  SELECT MAX(n_a) AS n_a, MAX(n_b) AS n_b,
         SUM(CAST(ca + cb AS HUGEINT)
             * (CAST(cuma AS HUGEINT) * n_b - CAST(cumb AS HUGEINT) * n_a)
             * (CAST(cuma AS HUGEINT) * n_b - CAST(cumb AS HUGEINT) * n_a)
         ) AS num
  FROM cum CROSS JOIN tot
)
SELECT n_a, n_b,
       CAST((num * 2000000 + den) // (den * 2) AS BIGINT) AS cvm_e6
FROM (
  SELECT n_a, n_b, num,
         CAST(n_a AS HUGEINT) * n_b * (n_a + n_b) * (n_a + n_b) AS den
  FROM agg
)
"""


def st_weekday_profile(spark, sf_dir):
    """ISO day-of-week event profile with exact chi-square uniformity
    statistic — Spark weekday()+1 = DuckDB isodow on both engines;
    dev_e6/chi2_e6 are exact DECIMAL rationals emitted as int64
    microunits; frac one division, 6 dp."""
    from spatialdata_spark.operators.temporal import weekday_profile

    return weekday_profile(_read(spark, sf_dir, "events"))


ST_WEEKDAY_PROFILE_SQL = r"""
WITH counts AS (
  SELECT CAST(isodow(ts) AS INT) AS dow, CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events WHERE ts IS NOT NULL GROUP BY 1
), spine AS (
  SELECT CAST(unnest(range(1, 8)) AS INT) AS dow
), dense AS (
  SELECT spine.dow, COALESCE(counts.n_events, 0) AS n_events
  FROM spine LEFT JOIN counts USING (dow)
), n1 AS (
  SELECT CAST(SUM(n_events) AS HUGEINT) AS n FROM dense
), stats AS (
  SELECT MAX(n1.n) AS n,
         SUM((7 * CAST(dense.n_events AS HUGEINT) - n1.n)
             * (7 * CAST(dense.n_events AS HUGEINT) - n1.n)) AS x2
  FROM dense CROSS JOIN n1
)
SELECT dow, n_events,
       ROUND(n_events / CAST(n AS DOUBLE), 6) AS frac,
       CASE WHEN d7 >= 0
            THEN CAST((d7 * 2000000 + 7 * n) // (14 * n) AS BIGINT)
            ELSE -CAST(((-d7) * 2000000 + 7 * n) // (14 * n) AS BIGINT)
       END AS dev_e6,
       CAST((x2 * 2000000 + 7 * n) // (14 * n) AS BIGINT) AS chi2_e6
FROM (
  SELECT dense.dow, dense.n_events, stats.n, stats.x2,
         7 * CAST(dense.n_events AS HUGEINT) - stats.n AS d7
  FROM dense CROSS JOIN stats
)
ORDER BY dow
"""


def pl_theil_index(spark, sf_dir):
    """Theil T concentration of the corpus over its sources — the
    entropy companion of pl_hhi.  Float contract: every ln argument is
    one division of exact int64 counts (the jsd_sources precedent);
    group-count arity sums, 6 dp."""
    from spatialdata_spark.pipeline.textstats import theil_index

    return theil_index(_read(spark, sf_dir, "documents"))


PL_THEIL_INDEX_SQL = r"""
WITH per AS (
  SELECT source AS g, CAST(COUNT(*) AS BIGINT) AS c
  FROM documents WHERE source IS NOT NULL GROUP BY 1
), tot AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS k FROM per
), t AS (
  -- mirror the Spark float op order exactly: (c/n) * ln((c*k)/n),
  -- each division one double op over exact int64 inputs
  SELECT SUM((c / CAST(n AS DOUBLE)) * ln((c * k) / CAST(n AS DOUBLE))) AS theil_raw
  FROM per CROSS JOIN tot
)
SELECT tot.n AS n_docs, tot.k AS n_groups,
       ROUND(t.theil_raw, 6) AS theil,
       CASE WHEN tot.k > 1
            THEN ROUND(t.theil_raw / ln(CAST(tot.k AS DOUBLE)), 6)
       END AS theil_norm
FROM tot CROSS JOIN t
"""


def pl_mutual_info(spark, sf_dir):
    """Mutual information (nats) + NMI between the source and lang
    metadata columns — the association gate on the contingency table
    (does source predict language?).  Float contract: every ln
    argument is a ratio of exact int64 counts; contingency-cell arity
    sums, 6 dp."""
    from spatialdata_spark.pipeline.textstats import mutual_information

    return mutual_information(_read(spark, sf_dir, "documents"))


PL_MUTUAL_INFO_SQL = r"""
WITH cells AS (
  SELECT source AS r, lang AS c, CAST(COUNT(*) AS BIGINT) AS cn
  FROM documents WHERE source IS NOT NULL AND lang IS NOT NULL GROUP BY 1, 2
), rm AS (SELECT r, CAST(SUM(cn) AS BIGINT) AS nr FROM cells GROUP BY 1),
cm AS (SELECT c, CAST(SUM(cn) AS BIGINT) AS nc FROM cells GROUP BY 1),
tot AS (
  SELECT CAST(SUM(cn) AS BIGINT) AS N,
         CAST(COUNT(DISTINCT r) AS BIGINT) AS n_rows,
         CAST(COUNT(DISTINCT c) AS BIGINT) AS n_cols
  FROM cells
), mi AS (
  SELECT SUM((cn / CAST(N AS DOUBLE))
             * ln((cn * N) / CAST(nr * nc AS DOUBLE))) AS mi_raw
  FROM cells
  JOIN rm USING (r) JOIN cm USING (c) CROSS JOIN tot
), hr AS (
  SELECT SUM(-(nr / CAST(N AS DOUBLE)) * ln(nr / CAST(N AS DOUBLE))) AS hr_raw
  FROM rm CROSS JOIN tot
), hc AS (
  SELECT SUM(-(nc / CAST(N AS DOUBLE)) * ln(nc / CAST(N AS DOUBLE))) AS hc_raw
  FROM cm CROSS JOIN tot
)
SELECT tot.N AS n_docs, tot.n_rows, tot.n_cols,
       ROUND(mi.mi_raw, 6) AS mi,
       ROUND(hr.hr_raw, 6) AS h_row,
       ROUND(hc.hc_raw, 6) AS h_col,
       CASE WHEN hr.hr_raw > 0 AND hc.hc_raw > 0
            THEN ROUND(mi.mi_raw / (sqrt(hr.hr_raw) * sqrt(hc.hc_raw)), 6)
       END AS nmi
FROM tot CROSS JOIN mi CROSS JOIN hr CROSS JOIN hc
"""


def q_rfm_segments(spark, sf_dir):
    """RFM customer segmentation — the classic retail curation grid
    (Recency / Frequency / Monetary quintiles; Hughes 1994): score
    every customer 1..5 on each axis with an exact ntile over a total
    order, then report the segment grid (<= 125 rows at any corpus
    size).  r13 registry candidate (the library-level-first modularity
    precedent).

    Determinism: each ntile orders by ``(metric, custkey)`` — the
    custkey tie-break pins bin assignment on any engine (the
    calibration_bins convention).  ``recency_days`` is an exact date
    diff against the corpus max order date; ``frequency`` an exact
    count; ``monetary`` accumulates in DECIMAL (cross-engine-stable
    ordering; o_totalprice has 2dp so the DECIMAL(18,2) sum is exact).
    Score direction: 5 = best (most recent / most frequent / biggest
    spender).  Revenue emits as one exact DECIMAL->DOUBLE cast;
    avg_revenue is ONE division, 6 dp.

    100 TB shape, stated: the per-customer rollup is the corpus-sized
    work; the three ntiles are global sorts of the CUSTOMER-sized
    (custkey, 3 metrics) projection — the documented exact-ntile
    contract shared with calibration_bins, whose approx-percentile
    edge swap (classify._approx_rank_bins) is the stated at-extreme-
    scale path there and would be here too.
    """
    from pyspark.sql.window import Window

    orders = _read(spark, sf_dir, "orders")
    per = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max("o_orderdate").alias("__last"),
        F.count(F.lit(1)).cast("long").alias("__freq"),
        F.sum(F.col("o_totalprice").cast(DEC)).alias("__mon"),
    )
    ref = orders.agg(F.max("o_orderdate").alias("__ref"))
    scored = per.crossJoin(F.broadcast(ref)).select(
        "custkey",
        F.datediff(F.col("__ref"), F.col("__last")).cast("long").alias("__rec"),
        "__freq",
        "__mon",
    )
    r_w = Window.orderBy(F.desc("__rec"), "custkey")
    f_w = Window.orderBy("__freq", "custkey")
    m_w = Window.orderBy("__mon", "custkey")
    s = scored.select(
        "__mon",
        F.ntile(5).over(r_w).cast("int").alias("r_score"),
        F.ntile(5).over(f_w).cast("int").alias("f_score"),
        F.ntile(5).over(m_w).cast("int").alias("m_score"),
    )
    return (
        s.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("__mon").alias("__rev"),
        )
        .select(
            "r_score",
            "f_score",
            "m_score",
            "n_customers",
            F.col("__rev").cast("double").alias("total_revenue"),
            F.round(
                F.col("__rev").cast("double") / F.col("n_customers"), 6
            ).alias("avg_revenue"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


Q_RFM_SEGMENTS_SQL = f"""
WITH per AS (
  SELECT o_custkey AS custkey,
         MAX(o_orderdate) AS last_order,
         CAST(COUNT(*) AS BIGINT) AS freq,
         SUM(CAST(o_totalprice AS {DEC})) AS mon
  FROM orders GROUP BY 1
), ref AS (SELECT MAX(o_orderdate) AS ref_date FROM orders),
scored AS (
  SELECT custkey,
         CAST(date_diff('day', CAST(last_order AS DATE), CAST(ref_date AS DATE)) AS BIGINT) AS rec,
         freq, mon
  FROM per CROSS JOIN ref
), s AS (
  SELECT mon,
         CAST(NTILE(5) OVER (ORDER BY rec DESC, custkey) AS INT) AS r_score,
         CAST(NTILE(5) OVER (ORDER BY freq, custkey) AS INT) AS f_score,
         CAST(NTILE(5) OVER (ORDER BY mon, custkey) AS INT) AS m_score
  FROM scored
)
SELECT r_score, f_score, m_score,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(mon) AS DOUBLE) AS total_revenue,
       ROUND(CAST(SUM(mon) AS DOUBLE) / COUNT(*), 6) AS avg_revenue
FROM s
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""


def pl_spearman_corr(spark, sf_dir):
    """Tie-corrected Spearman rank correlation between document length
    (n_chars) and whitespace token count — the monotone-association
    gate of the curation stats family.  Exactness: Pearson on DOUBLED
    midranks (the mann_whitney integer device) — all rank sums
    DECIMAL(38,0)-exact over the (x, y) cell table; the emit is ONE
    division by the product of two correctly-rounded sqrts, 6 dp."""
    from spatialdata_spark.pipeline.textstats import spearman_corr

    return spearman_corr(_read(spark, sf_dir, "documents"))


PL_SPEARMAN_CORR_SQL = r"""
WITH base AS (
  SELECT CAST(n_chars AS BIGINT) AS x,
         CAST(LEN(string_split_regex(LOWER(TRIM(text)), '\s+')) AS BIGINT) AS y
  FROM documents WHERE n_chars IS NOT NULL AND text IS NOT NULL
), cells AS (
  SELECT x, y, CAST(COUNT(*) AS BIGINT) AS cxy FROM base GROUP BY 1, 2
), xg AS (
  SELECT x, CAST(SUM(cxy) AS BIGINT) AS cx FROM cells GROUP BY 1
), yg AS (
  SELECT y, CAST(SUM(cxy) AS BIGINT) AS cy FROM cells GROUP BY 1
), xr AS (
  SELECT x, cx,
         CAST(2 * (SUM(cx) OVER (ORDER BY x) - cx) + cx + 1 AS BIGINT) AS r2x
  FROM xg
), yr AS (
  SELECT y, cy,
         CAST(2 * (SUM(cy) OVER (ORDER BY y) - cy) + cy + 1 AS BIGINT) AS r2y
  FROM yg
), xa AS (
  SELECT CAST(SUM(cx) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS n_x_values,
         SUM(CAST(cx AS HUGEINT) * r2x) AS a,
         SUM(CAST(cx AS HUGEINT) * r2x * r2x) AS b
  FROM xr
), ya AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_y_values,
         SUM(CAST(cy AS HUGEINT) * r2y) AS ay,
         SUM(CAST(cy AS HUGEINT) * r2y * r2y) AS by_
  FROM yr
), ca AS (
  SELECT SUM(CAST(cells.cxy AS HUGEINT) * xr.r2x * yr.r2y) AS c
  FROM cells JOIN xr USING (x) JOIN yr USING (y)
)
SELECT xa.n AS n_docs, xa.n_x_values, ya.n_y_values,
       CASE WHEN (xa.n * xa.b - xa.a * xa.a) > 0
             AND (xa.n * ya.by_ - ya.ay * ya.ay) > 0
            THEN ROUND(CAST(xa.n * ca.c - xa.a * ya.ay AS DOUBLE)
                       / (sqrt(CAST(xa.n * xa.b - xa.a * xa.a AS DOUBLE))
                          * sqrt(CAST(xa.n * ya.by_ - ya.ay * ya.ay AS DOUBLE))),
                       6)
       END AS spearman
FROM xa CROSS JOIN ya CROSS JOIN ca
"""


def pl_chao1_richness(spark, sf_dir):
    """Chao1 bias-corrected vocabulary-richness asymptote from the
    singleton/doubleton counts — the coverage companion of
    pl_heaps_curve.  Exact int64 counts from ONE token-keyed
    aggregation; chao1_e6 is one half-up integer division (the shared
    e6_signed emit, loud on overflow).  Tokenization is the unfiltered
    token_gini form (blank docs contribute one empty-string type —
    stated in the library docstring; the oracle matches)."""
    from spatialdata_spark.pipeline.textstats import chao1_richness

    return chao1_richness(_read(spark, sf_dir, "documents"))


PL_CHAO1_RICHNESS_SQL = r"""
WITH tok AS (
  SELECT unnest(string_split_regex(LOWER(TRIM(text)), '\s+')) AS token
  FROM documents
), counts AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY 1
), agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_types,
         CAST(SUM(tf) AS BIGINT) AS total_tokens,
         CAST(SUM(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
         CAST(SUM(CASE WHEN tf = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
  FROM counts
)
SELECT n_types, total_tokens, f1, f2,
       CAST((num * 2000000 + den) // (den * 2) AS BIGINT) AS chao1_e6
FROM (
  SELECT n_types, total_tokens, f1, f2,
         CAST(n_types AS HUGEINT) * (2 * (f2 + 1))
           + CAST(f1 AS HUGEINT) * (f1 - 1) AS num,
         CAST(2 * (f2 + 1) AS HUGEINT) AS den
  FROM agg
)
"""


def st_mann_kendall(spark, sf_dir):
    """Mann-Kendall trend test on daily event volume over the
    zero-densified calendar — the monotone-drift companion of st_acf /
    st_cusum.  Exact S and tie-corrected var18 (both int64 over the
    calendar-sized index); z is the continuity-corrected normal score,
    NULL on zero variance (the hhi_norm convention)."""
    from spatialdata_spark.operators.temporal import mann_kendall_daily

    return mann_kendall_daily(_read(spark, sf_dir, "events"))


ST_MANN_KENDALL_SQL = r"""
-- CROSS-ENGINE SHAPE CAVEAT (realized-data-path oracle convention, the
-- ST_ACF_SQL precedent): on an EMPTY / all-NULL-ts events table this
-- SQL returns ONE row (n_days=0, s=0, var18=0, z NULL) while the Spark
-- mann_kendall_daily raises 'empty series' loudly — a green one-row
-- "match" from an empty partition would be a misread, not a pass.  The
-- parity fixtures always have events, so the divergence is never
-- exercised.
WITH counts AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events WHERE ts IS NOT NULL GROUP BY 1
), calendar AS (
  SELECT strftime(CAST(unnest(generate_series(
           CAST((SELECT MIN(day) FROM counts) AS DATE),
           CAST((SELECT MAX(day) FROM counts) AS DATE),
           INTERVAL 1 DAY)) AS DATE), '%Y-%m-%d') AS day
), daily AS (
  SELECT calendar.day, COALESCE(counts.n_events, 0) AS n
  FROM calendar LEFT JOIN counts USING (day)
), idx AS (
  SELECT n, CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS i FROM daily
), sr AS (
  SELECT CAST(COALESCE(SUM(CASE WHEN b.n > a.n THEN 1
                                WHEN b.n < a.n THEN -1 ELSE 0 END), 0)
              AS BIGINT) AS s
  FROM idx a JOIN idx b ON b.i > a.i
), ties AS (
  SELECT CAST(COALESCE(SUM(tk * (tk - 1) * (2 * tk + 5)), 0) AS BIGINT) AS tie18
  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS tk FROM idx GROUP BY n)
), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM idx)
SELECT n_days, s, var18,
       CASE WHEN var18 > 0
            THEN ROUND(CAST(s - (CASE WHEN s > 0 THEN 1
                                      WHEN s < 0 THEN -1 ELSE 0 END) AS DOUBLE)
                       / sqrt(CAST(var18 AS DOUBLE) / 18.0), 6)
       END AS z
FROM (
  SELECT tot.n_days, sr.s,
         CAST(tot.n_days * (tot.n_days - 1) * (2 * tot.n_days + 5)
              - ties.tie18 AS BIGINT) AS var18
  FROM tot CROSS JOIN sr CROSS JOIN ties
)
"""


def pl_vocab_overlap(spark, sf_dir):
    """EXACT pairwise source-vocabulary Jaccard — the exact twin of
    pl_kmv_overlap (registry-exact contract; the KMV sketch is the
    documented at-extreme-scale swap).  NO vocab x vocab join: one
    per-token source-list pair explode, expression-only; 9 dp ratio."""
    from spatialdata_spark.pipeline.textstats import vocab_overlap_exact

    return vocab_overlap_exact(_read(spark, sf_dir, "documents"))


PL_VOCAB_OVERLAP_SQL = r"""
WITH toks AS (
  SELECT DISTINCT source AS g,
         unnest(string_split_regex(LOWER(TRIM(text)), '\s+')) AS tok
  FROM documents WHERE source IS NOT NULL AND text IS NOT NULL
), toks2 AS (
  SELECT g, tok FROM toks WHERE tok <> ''
), per AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS v FROM toks2 GROUP BY 1
), inter AS (
  SELECT a.g AS s1, b.g AS s2, CAST(COUNT(*) AS BIGINT) AS n_common
  FROM toks2 a JOIN toks2 b ON a.tok = b.tok AND a.g < b.g
  GROUP BY 1, 2
)
SELECT s1, s2, pa.v AS n_a_types, pb.v AS n_b_types, n_common,
       ROUND(n_common / CAST(pa.v + pb.v - n_common AS DOUBLE), 9) AS jaccard
FROM inter
JOIN per pa ON pa.g = inter.s1
JOIN per pb ON pb.g = inter.s2
ORDER BY s1, s2
"""


def pl_length_quantiles(spark, sf_dir):
    """EXACT per-source length percentiles (type-1: smallest value
    whose cumulative count reaches ceil(p*n/100)) — the exact twin of
    pl_hdr_quantiles (the HDR sketch is the documented at-extreme-scale
    swap).  Integer ceil, no float q anywhere; percents validated
    loudly as ints in [1, 100]."""
    from spatialdata_spark.pipeline.textstats import length_quantiles_exact

    return length_quantiles_exact(_read(spark, sf_dir, "documents"))


PL_LENGTH_QUANTILES_SQL = r"""
WITH f AS (
  SELECT source AS grp, CAST(n_chars AS BIGINT) AS v,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL
  GROUP BY 1, 2
), cum AS (
  SELECT grp, v,
         CAST(SUM(c) OVER (PARTITION BY grp ORDER BY v) AS BIGINT) AS cm,
         CAST(SUM(c) OVER (PARTITION BY grp) AS BIGINT) AS n
  FROM f
)
SELECT grp, MAX(n) AS n_docs,
       MIN(CASE WHEN cm >= (50 * n + 99) // 100 THEN v END) AS p50,
       MIN(CASE WHEN cm >= (90 * n + 99) // 100 THEN v END) AS p90,
       MIN(CASE WHEN cm >= (99 * n + 99) // 100 THEN v END) AS p99
FROM cum
GROUP BY grp
ORDER BY grp
"""


# ---- round-14 registrations: the nine r13-banked candidates (SQL moved
# verbatim from tests/test_r14_candidate_oracles.py, which now pins the
# REGISTERED oracles — the r13 precedent) ----


def pl_mad_lengths(spark, sf_dir):
    """Per-source median + median-absolute-deviation of document
    length — the robust-dispersion twin of pl_length_quantiles (same
    exact type-1 median contract, applied twice: once to values, once
    to |v - median| deviations).  Integer-only: both medians are
    'smallest value whose cumulative count reaches ceil(n/2)' over the
    (source, value) count table — no float anywhere, value-grid-sized
    work after one corpus scan."""
    from spatialdata_spark.pipeline.textstats import mad_lengths

    return mad_lengths(_read(spark, sf_dir, "documents"))


PL_MAD_LENGTHS_SQL = r"""
WITH f AS (
  SELECT source AS grp, CAST(n_chars AS BIGINT) AS v, CAST(COUNT(*) AS BIGINT) AS c
  FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL GROUP BY 1, 2
), cum AS (
  SELECT grp, v, CAST(SUM(c) OVER (PARTITION BY grp ORDER BY v) AS BIGINT) AS cm,
         CAST(SUM(c) OVER (PARTITION BY grp) AS BIGINT) AS n
  FROM f
), meds AS (
  SELECT grp, MAX(n) AS n_docs,
         MIN(CASE WHEN cm >= (n + 1) // 2 THEN v END) AS median
  FROM cum GROUP BY grp
), dev AS (
  SELECT f.grp, ABS(f.v - m.median) AS d, CAST(SUM(f.c) AS BIGINT) AS c
  FROM f JOIN meds m ON f.grp = m.grp GROUP BY 1, 2
), dcum AS (
  SELECT grp, d, CAST(SUM(c) OVER (PARTITION BY grp ORDER BY d) AS BIGINT) AS cm,
         CAST(SUM(c) OVER (PARTITION BY grp) AS BIGINT) AS n
  FROM dev
), mads AS (
  SELECT grp, MIN(CASE WHEN cm >= (n + 1) // 2 THEN d END) AS mad
  FROM dcum GROUP BY grp
)
SELECT m.grp AS source, m.n_docs, m.median, mads.mad
FROM meds m JOIN mads USING (grp) ORDER BY source
"""


def pl_simpson_diversity(spark, sf_dir):
    """Per-source Simpson concentration (exact microunits) + Shannon
    entropy/evenness over the language mix — the diversity panel of
    the corpus-mixing family.  Simpson is the exact integer rational
    sum(c*(c-1)) / (n*(n-1)) in half-up e6 microunits (DECIMAL
    arithmetic, no float); Shannon/evenness emit at 6 dp.  Work is
    (source, lang)-cell-sized after one corpus scan."""
    from spatialdata_spark.pipeline.textstats import simpson_diversity

    return simpson_diversity(_read(spark, sf_dir, "documents"))


PL_SIMPSON_DIVERSITY_SQL = r"""
WITH cells AS (
  SELECT source AS grp, lang AS cat, CAST(COUNT(*) AS BIGINT) AS c
  FROM documents WHERE source IS NOT NULL AND lang IS NOT NULL GROUP BY 1, 2
), per AS (
  SELECT grp, CAST(SUM(c) AS BIGINT) AS n_docs, CAST(COUNT(*) AS BIGINT) AS n_cats,
         SUM(CAST(c AS HUGEINT) * (c - 1)) AS num
  FROM cells GROUP BY grp
), sh AS (
  SELECT cells.grp,
         SUM(-(c / CAST(n_docs AS DOUBLE)) * ln(c / CAST(n_docs AS DOUBLE))) AS h
  FROM cells JOIN per USING (grp) GROUP BY cells.grp
)
SELECT per.grp AS source, n_docs, n_cats,
       CASE WHEN n_docs >= 2
            THEN CAST((num * 2000000 + CAST(n_docs AS HUGEINT) * (n_docs - 1))
                      // (CAST(n_docs AS HUGEINT) * (n_docs - 1) * 2) AS BIGINT)
       END AS simpson_e6,
       ROUND(h, 6) AS shannon,
       CASE WHEN n_cats > 1 THEN ROUND(h / ln(CAST(n_cats AS DOUBLE)), 6)
       END AS evenness
FROM per JOIN sh USING (grp) ORDER BY source
"""


def pl_kendall_tau(spark, sf_dir):
    """Tie-corrected Kendall tau-b between document length and token
    count — the concordance companion of pl_spearman_corr.  Exact
    concordant/discordant PAIR COUNTS from dense-rank 2-D cumulative
    sums over the |X| x |Y| value grid (never doc x doc); the emit is
    ONE division by the product of two correctly-rounded sqrts, 6 dp.
    The at-extreme-domain swap (continuous values -> spearman on
    midranks) is stated in the library docstring."""
    from spatialdata_spark.pipeline.textstats import kendall_tau

    return kendall_tau(_read(spark, sf_dir, "documents"))


PL_KENDALL_TAU_SQL = r"""
WITH base AS (
  SELECT CAST(n_chars AS BIGINT) AS x,
         CAST(LEN(string_split_regex(LOWER(TRIM(text)), '\s+')) AS BIGINT) AS y
  FROM documents WHERE n_chars IS NOT NULL AND text IS NOT NULL
), cells AS (
  SELECT x, y, CAST(COUNT(*) AS BIGINT) AS c FROM base GROUP BY 1, 2
), xs AS (
  SELECT x, CAST(SUM(c) AS BIGINT) AS cx,
         ROW_NUMBER() OVER (ORDER BY x) AS ix
  FROM cells GROUP BY x
), ys AS (
  SELECT y, CAST(SUM(c) AS BIGINT) AS cy,
         ROW_NUMBER() OVER (ORDER BY y) AS iy
  FROM cells GROUP BY y
), dense AS (
  SELECT xs.ix, ys.iy, COALESCE(cells.c, 0) AS c
  FROM xs CROSS JOIN ys
  LEFT JOIN cells ON cells.x = xs.x AND cells.y = ys.y
), cum1 AS (
  SELECT ix, iy, SUM(c) OVER (PARTITION BY ix ORDER BY iy) AS cy2 FROM dense
), cum2 AS (
  SELECT ix, iy,
         CAST(SUM(cy2) OVER (PARTITION BY iy ORDER BY ix) AS BIGINT) AS c2d
  FROM cum1
), xpre AS (
  SELECT ix,
         CAST(COALESCE(SUM(cx) OVER (ORDER BY ix
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS txlt
  FROM xs
), rc AS (
  SELECT cells.c, xs.ix, ys.iy FROM cells JOIN xs USING (x) JOIN ys USING (y)
), j AS (
  SELECT rc.c,
         CAST(COALESCE(d11.c2d, 0) AS HUGEINT) AS tl,
         CAST(xpre.txlt AS HUGEINT) - COALESCE(d10.c2d, 0) AS td
  FROM rc
  LEFT JOIN cum2 d11 ON d11.ix = rc.ix - 1 AND d11.iy = rc.iy - 1
  LEFT JOIN cum2 d10 ON d10.ix = rc.ix - 1 AND d10.iy = rc.iy
  JOIN xpre ON xpre.ix = rc.ix
), pq AS (
  SELECT SUM(CAST(c AS HUGEINT) * tl) AS p, SUM(CAST(c AS HUGEINT) * td) AS q
  FROM j
), xa AS (
  SELECT CAST(SUM(cx) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS n_x_values,
         SUM(CAST(cx AS HUGEINT) * (cx - 1)) AS d1x2
  FROM xs
), ya AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_y_values,
         SUM(CAST(cy AS HUGEINT) * (cy - 1)) AS d2x2
  FROM ys
)
SELECT xa.n AS n_docs, xa.n_x_values, ya.n_y_values,
       CASE WHEN (CAST(xa.n AS HUGEINT) * (xa.n - 1) - xa.d1x2) > 0
             AND (CAST(xa.n AS HUGEINT) * (xa.n - 1) - ya.d2x2) > 0
            THEN ROUND(2.0 * CAST(pq.p - pq.q AS DOUBLE)
                 / (sqrt(CAST(CAST(xa.n AS HUGEINT) * (xa.n - 1) - xa.d1x2 AS DOUBLE))
                    * sqrt(CAST(CAST(xa.n AS HUGEINT) * (xa.n - 1) - ya.d2x2 AS DOUBLE))),
                 6)
       END AS kendall_tau
FROM xa CROSS JOIN ya CROSS JOIN pq
"""


def pl_trimmed_mean(spark, sf_dir):
    """Per-source 5%-trimmed mean document length in exact e6
    microunits — the outlier-robust location twin of pl_len_hist's
    moments.  EXACT GRID-INTERVAL CLAMP: each (value, count) cell
    keeps ``clamp(cum, [k_lo, n-k_hi]) - clamp(cum-c, ...)`` copies —
    integer arithmetic over the value grid, no per-doc rank, no
    float; ONE half-up integer division emits the microunit mean."""
    from spatialdata_spark.pipeline.textstats import trimmed_mean_lengths

    return trimmed_mean_lengths(_read(spark, sf_dir, "documents"), trim_pct=5)


PL_TRIMMED_MEAN_SQL = r"""
WITH f AS (
  SELECT source AS grp, CAST(n_chars AS BIGINT) AS v, CAST(COUNT(*) AS BIGINT) AS c
  FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL GROUP BY 1, 2
), cum AS (
  SELECT grp, v, c,
         CAST(SUM(c) OVER (PARTITION BY grp ORDER BY v) AS BIGINT) AS cm,
         CAST(SUM(c) OVER (PARTITION BY grp) AS BIGINT) AS n
  FROM f
), k AS (
  SELECT grp, v, n,
         GREATEST(0, LEAST(cm, n - (5 * n) // 100)
                     - GREATEST(cm - c, (5 * n) // 100)) AS kept
  FROM cum
), agg AS (
  SELECT grp, MAX(n) AS n_docs, CAST(SUM(kept) AS BIGINT) AS n_kept,
         SUM(CAST(kept AS HUGEINT) * v) AS sum_kept
  FROM k GROUP BY grp
)
SELECT grp AS source, n_docs, n_kept,
       CASE WHEN sum_kept >= 0
            THEN CAST((sum_kept * 2000000 + n_kept) // (n_kept * 2) AS BIGINT)
            ELSE -CAST(((-sum_kept) * 2000000 + n_kept) // (n_kept * 2) AS BIGINT)
       END AS trimmed_mean_e6
FROM agg ORDER BY source
"""


def pl_yule_k(spark, sf_dir):
    """Corpus-level Yule's K (lexical repetitiveness, x10^4) in exact
    e6 microunits from the token frequency spectrum — the
    repetition-at-the-vocabulary-level gate next to pl_token_entropy.
    K = 10^4 * (sum(tf^2) - N) / N^2 over the type-frequency table;
    all sums DECIMAL-exact, ONE half-up integer division emits."""
    from spatialdata_spark.pipeline.textstats import yule_k

    return yule_k(_read(spark, sf_dir, "documents"))


PL_YULE_K_SQL = r"""
WITH tok AS (
  SELECT t FROM (
    SELECT unnest(string_split_regex(LOWER(TRIM(text)), '\s+')) AS t
    FROM documents
  ) WHERE t <> ''
), counts AS (
  SELECT t, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY 1
), agg AS (
  SELECT CAST(SUM(tf) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_types,
         SUM(CAST(tf AS HUGEINT) * tf) AS s2
  FROM counts
)
SELECT n_tokens, n_types,
       CAST(((s2 - n_tokens) * 10000 * 2000000
             + CAST(n_tokens AS HUGEINT) * n_tokens)
            // (CAST(n_tokens AS HUGEINT) * n_tokens * 2) AS BIGINT)
         AS yule_k_e6
FROM agg
"""


def st_event_transitions(spark, sf_dir):
    """First-order event-type transition matrix (the Markov-chain view
    of user behavior) over the events table — per-user (ts, event_id)
    ordering (the id tie-break pins simultaneous events on any
    engine), |types|^2-sized output; frac is ONE division of exact
    counts, 6 dp."""
    from spatialdata_spark.operators.temporal import event_transitions

    return event_transitions(_read(spark, sf_dir, "events"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Dict order matters: the correctness driver oracles the FIRST 50
    # entries; each key appears once (tests/test_registry_keys.py).
    # Round-15 head, mechanically per the rotation rule:
    #   (1) new registrations: NONE (optimization round — no features);
    #   (2) queries executing code modified in r14/r15 — the set the
    #       r14 verdict flagged as unverified (its head froze BEFORE the
    #       r14 optimization commits).  The r14 join restructures
    #       (q03/q05/q10/q18), the circle-aggregation family, the
    #       grid-join/fractions family, and every consumer of the
    #       operators the two optimization rounds rewrote: aggregate.py
    #       (SQL-consolidated cover/refine, hoisted _pip/_intersects/
    #       _frac), raster.py (keyed-factory Arrow kernels), rasterize
    #       (polyfill kernel cache), spatial_query (ring/clip/refine
    #       lru factories), transform (_rewrite_wkb/_bounds),
    #       vectorize (_ngon + grouped-map caches), measures
    #       (centroid UDF), and the entry-side _img_long/_img_tiles
    #       plan memo.  That is the full ag_*/rt_*/rv_* families, the
    #       UDF-executing sq_* rows, AND the dedup/similarity rewrites
    #       that landed after the first draft of this head
    #       (ngram_jaccard_join SQL consolidation — including the
    #       shingle-separator alignment with the registered oracle,
    #       '' -> chr(30) — minhash_band_candidates' keyed signature
    #       factory + SQL band join, and pl_knn_cosine's
    #       broadcast-subquery query vector) = 60 candidates for 50
    #       slots.  Spill to the r16 queue: the FIVE expression-only sq
    #       rows (sq_bbox_identity/rotation/scale/_3d, sq_multibox —
    #       pure Catalyst, no factory or join change on their path) and
    #       the FIVE weakest-risk factory-consumer sq rows (multipart/
    #       bbox_shapes/multibox_rotated/raster_rotated/raster_3d —
    #       kernels pinned by unit tests; zero semantic risk next to
    #       the dedup rewrites).
    #   (3) stale-row backfill: none fits this round (the modified-code
    #       set fills the head); queue unchanged otherwise —
    #       pl_semantic_dedup remains the oldest stale green.
    return {
        # --- (2a) the r14-restructured joins, verified-after for the
        # first time by this head ---
        "q03_shipping": q03_shipping,
        "q05_local_supplier": q05_local_supplier,
        "q10_returned_items": q10_returned_items,
        "q18_large_volume": q18_large_volume,
        # --- (2b) circle-aggregation + fractions family (aggregate.py
        # rewrites in both optimization rounds) ---
        "ag_points_by_circles_count": ag_points_by_circles_count,
        "ag_points_by_circles_sum": ag_points_by_circles_sum,
        "ag_points_by_circles_mean": ag_points_by_circles_mean,
        "ag_points_by_circles_max": ag_points_by_circles_max,
        "ag_points_categorical": ag_points_categorical,
        "ag_points_by_darts": ag_points_by_darts,
        "ag_fractions": ag_fractions,
        "ag_fractions_value": ag_fractions_value,
        "ag_fractions_concave": ag_fractions_concave,
        "ag_points_by_boxes": ag_points_by_boxes,
        "ag_points_by_labels": ag_points_by_labels,
        "ag_centroids_labels": ag_centroids_labels,
        "ag_extent": ag_extent,
        "ag_zonal_image": ag_zonal_image,
        # --- (2c) raster family (keyed-factory kernels, tile memo) ---
        "rt_affine_resample": rt_affine_resample,
        "rt_zonal_tiles": rt_zonal_tiles,
        "rt_zonal_quantiles": rt_zonal_quantiles,
        "rt_zonal_3d": rt_zonal_3d,
        "rt_halo_boxsum": rt_halo_boxsum,
        "rt_map_tiles": rt_map_tiles,
        "rt_bbox_tiles": rt_bbox_tiles,
        "rt_bbox_tiles_3d": rt_bbox_tiles_3d,
        "rt_pyramid_sum": rt_pyramid_sum,
        "rt_unpad_extent": rt_unpad_extent,
        "rt_export_tiles": rt_export_tiles,
        "rt_dataset_tiles": rt_dataset_tiles,
        # --- (2d) rasterize/vectorize family (kernel caches, hoisted
        # wkb/area UDFs, _ngon factory) ---
        "rv_to_polygons": rv_to_polygons,
        "rv_to_circles": rv_to_circles,
        "rv_rasterize_count": rv_rasterize_count,
        "rv_rasterize_cat": rv_rasterize_cat,
        "rv_rasterize_bins": rv_rasterize_bins,
        "rv_rasterize_circle_fill": rv_rasterize_circle_fill,
        "rv_rasterize_polyfill": rv_rasterize_polyfill,
        "rv_relabel": rv_relabel,
        "rv_transform_points": rv_transform_points,
        "rv_transform_shapes": rv_transform_shapes,
        # --- (2e) spatial-query rows that execute the rewritten
        # factories (ring-PIP, clip, polygon refine, raster crop) ---
        "sq_polygon_concave": sq_polygon_concave,
        "sq_polygon_points": sq_polygon_points,
        "sq_polygon_clip": sq_polygon_clip,
        "sq_polygon_clip_holes": sq_polygon_clip_holes,
        "sq_polygon_shapes": sq_polygon_shapes,
        # --- (2f) dedup/similarity rewrites (r15: ngram SQL
        # consolidation + separator-oracle alignment, minhash signature
        # factory + SQL band join, knn broadcast subquery) ---
        "pl_ngram_jaccard": pl_ngram_jaccard,
        "pl_minhash_dedup": pl_minhash_dedup,
        "pl_minhash_recall": pl_minhash_recall,
        "pl_dedup_keep_best": pl_dedup_keep_best,
        "pl_knn_cosine": pl_knn_cosine,
        # ===== round-15 driver head ends here (first 50) =====
        # --- modified-code spill to the r16 queue (expression-only
        # paths, then the weakest-risk factory-consumer sq rows, then
        # pl_semantic_dedup and the r8-stale tail) ---
        "sq_bbox_identity": sq_bbox_identity,
        "sq_bbox_rotation": sq_bbox_rotation,
        "sq_bbox_scale": sq_bbox_scale,
        "sq_bbox_3d": sq_bbox_3d,
        "sq_multibox": sq_multibox,
        "sq_multipart_shapes": sq_multipart_shapes,
        "sq_bbox_shapes": sq_bbox_shapes,
        "sq_multibox_rotated": sq_multibox_rotated,
        "sq_raster_rotated": sq_raster_rotated,
        "sq_raster_3d": sq_raster_3d,
        "pl_semantic_dedup": pl_semantic_dedup,
        # --- the displaced round-14 head ---
        "q_promo_share": q_promo_share,
        "q_order_priority": q_order_priority,
        "q_idle_customers": q_idle_customers,
        "pl_mad_lengths": pl_mad_lengths,
        "pl_simpson_diversity": pl_simpson_diversity,
        "pl_kendall_tau": pl_kendall_tau,
        "pl_trimmed_mean": pl_trimmed_mean,
        "pl_yule_k": pl_yule_k,
        "st_event_transitions": st_event_transitions,
        "st_rolling_window": st_rolling_window,
        "st_sessionize": st_sessionize,
        "st_tumbling": st_tumbling,
        "pl_bigram_entropy": pl_bigram_entropy,
        "pl_bloom_decon": pl_bloom_decon,
        "pl_bpe_encode": pl_bpe_encode,
        "pl_bpe_train": pl_bpe_train,
        "pl_burstiness": pl_burstiness,
        "pl_c4_rules": pl_c4_rules,
        "pl_cdc_chunks": pl_cdc_chunks,
        "pl_cms_topk": pl_cms_topk,
        "pl_containment": pl_containment,
        "pl_embed_pool": pl_embed_pool,
        "pl_gopher_rules": pl_gopher_rules,
        "pl_gram_matrix": pl_gram_matrix,
        "pl_hapax_ratio": pl_hapax_ratio,
        "pl_hash_split": pl_hash_split,
        "pl_hll_distinct": pl_hll_distinct,
        "pl_kmv_distinct": pl_kmv_distinct,
        "pl_label_fstat": pl_label_fstat,
        "pl_lang_temperature": pl_lang_temperature,
        "pl_len_hist": pl_len_hist,
        "pl_ngram_novelty": pl_ngram_novelty,
        "pl_norm_hist": pl_norm_hist,
        "pl_para_dedup": pl_para_dedup,
        "pl_token_entropy": pl_token_entropy,
        "st_topn_window": st_topn_window,
        "pl_sent_stats": pl_sent_stats,
        "pl_winnow": pl_winnow,
        "st_props_json": st_props_json,
        "pl_score_norm": pl_score_norm,
        "st_cohort_matrix": st_cohort_matrix,
        "st_inter_event": st_inter_event,
        "st_markov_transitions": st_markov_transitions,
        "pl_vocab_coverage": pl_vocab_coverage,
        "q_top_parts_per_supplier": q_top_parts_per_supplier,
        "q_order_gap": q_order_gap,
        "st_funnel_time": st_funnel_time,
        "st_anomaly_mad": st_anomaly_mad,
        "q_customer_ltv_deciles": q_customer_ltv_deciles,
        "q_revenue_running": q_revenue_running,
        # --- the displaced round-13 head ---
        "q_rfm_segments": q_rfm_segments,
        "pl_spearman_corr": pl_spearman_corr,
        "pl_chao1_richness": pl_chao1_richness,
        "st_mann_kendall": st_mann_kendall,
        "pl_vocab_overlap": pl_vocab_overlap,
        "pl_length_quantiles": pl_length_quantiles,
        "pl_bigram_lm": pl_bigram_lm,
        "pl_stupid_backoff": pl_stupid_backoff,
        "pl_unigram_lm": pl_unigram_lm,
        "pl_ppl_buckets": pl_ppl_buckets,
        "pl_curation_funnel": pl_curation_funnel,
        "pl_cooccur_pmi": pl_cooccur_pmi,
        "pl_source_overlap": pl_source_overlap,
        "pl_span_cut": pl_span_cut,
        "pl_simhash_recall": pl_simhash_recall,
        "pl_ndcg": pl_ndcg,
        "pl_sq_int8": pl_sq_int8,
        "pl_pq_adc": pl_pq_adc,
        "pl_ann_recall": pl_ann_recall,
        "pl_modularity": pl_modularity,
        "pl_jsd_sources": pl_jsd_sources,
        "pl_lev_neardup": pl_lev_neardup,
        "pl_target_encode": pl_target_encode,
        "st_cramers_drift": st_cramers_drift,
        "st_wau_mau": st_wau_mau,
        "pl_bm25": pl_bm25,
        "pl_rrf_hybrid": pl_rrf_hybrid,
        "pl_rank_corr": pl_rank_corr,
        "pl_distinct_ngrams": pl_distinct_ngrams,
        "pl_chi2_tokens": pl_chi2_tokens,
        "pl_idf_keywords": pl_idf_keywords,
        "pl_dsir_weights": pl_dsir_weights,
        "pl_heaps_curve": pl_heaps_curve,
        "pl_embed_dedup": pl_embed_dedup,
        "pl_rouge_pairs": pl_rouge_pairs,
        "q11_important_stock": q11_important_stock,
        "q12_priority_lines": q12_priority_lines,
        "q20_excess_suppliers": q20_excess_suppliers,
        "q21_waiting_supplier": q21_waiting_supplier,
        "q_cube_revenue": q_cube_revenue,
        "q_pivot_revenue": q_pivot_revenue,
        "st_anomaly": st_anomaly,
        "st_cum_dau": st_cum_dau,
        "st_funnel": st_funnel,
        "st_gap_fill": st_gap_fill,
        "st_retention": st_retention,
        # --- historical tail: the rest of the registry ---
        # --- round-12 registrations (displaced from the head by the
        # r13 rotation) ---
        "q_revenue_growth": q_revenue_growth,
        "pl_cvm_lengths": pl_cvm_lengths,
        "st_weekday_profile": st_weekday_profile,
        "pl_theil_index": pl_theil_index,
        "pl_mutual_info": pl_mutual_info,
        # --- round-11 head keys not placed above.  Historical r11
        # rotation rationale:
        # the three r11-new queries; q_assoc_rules + pl_ppr_seeds
        # (persist-audit fixes; the 2-consumer cases _copurchase_edges
        # and pl_wcc were audited and deliberately left bare — see
        # their code comments), pl_ks_matrix (approx-mode refactor),
        # pl_ece (out-of-range loud error), pl_image_dhash AND
        # pl_image_neardup (both execute the changed image_dhash
        # kernel); then all 26 r4-stale + the 15 r5 rows. ---
        # --- (r11 1) new in round 11 ---
        "st_acf": st_acf,
        "pl_cliffs_delta": pl_cliffs_delta,
        "pl_hhi": pl_hhi,
        # --- (2) code/oracle modified this round ---
        "q_assoc_rules": q_assoc_rules,
        "pl_ppr_seeds": pl_ppr_seeds,
        "pl_ks_matrix": pl_ks_matrix,
        "pl_ece": pl_ece,
        "pl_image_dhash": pl_image_dhash,
        "pl_image_neardup": pl_image_neardup,
        # --- (3a) backfill: all 26 r4-checked rows (oldest) ---
        "pl_ivf_probe": pl_ivf_probe,
        "pl_language_id": pl_language_id,
        "pl_lsh_topk": pl_lsh_topk,
        "pl_minhash_cc": pl_minhash_cc,
        "pl_minhash_expr": pl_minhash_expr,
        "pl_multimodal_features": pl_multimodal_features,
        "pl_quality_score": pl_quality_score,
        "pl_resize_images": pl_resize_images,
        "pl_simhash": pl_simhash,
        "pl_simhash_neardup": pl_simhash_neardup,
        "pl_text_stats": pl_text_stats,
        "pl_token_count": pl_token_count,
        "st_distinct_users_daily": st_distinct_users_daily,
        "st_session_native": st_session_native,
        "st_sliding": st_sliding,
        "st_topk_per_user": st_topk_per_user,
        "st_value_quantiles": st_value_quantiles,
        # --- (3b) backfill: all 14 named r5 rows + rv_to_circles ---
        "pl_chunk_overlap": pl_chunk_overlap,
        "pl_quota_cap": pl_quota_cap,
        "pl_stratified_sample": pl_stratified_sample,
        "rq_filter_var": rq_filter_var,
        "rq_get_values_obsm": rq_get_values_obsm,
        # ===== round-11 driver head ends here (first 50) =====
        # --- round-10 head keys not placed above ---
        "pl_mcc": pl_mcc,
        "pl_wcc": pl_wcc,
        "pl_triangles": pl_triangles,
        "pl_graph_stats": pl_graph_stats,
        "pl_link_pred": pl_link_pred,
        "pl_pr_curve": pl_pr_curve,
        "pl_mwu_lengths": pl_mwu_lengths,
        "pl_token_gini": pl_token_gini,
        "st_cusum": st_cusum,
        "pl_log_odds": pl_log_odds,
        "pl_centroid_cosine": pl_centroid_cosine,
        "pl_benford": pl_benford,
        "pl_dup_profile": pl_dup_profile,
        "pl_kripp": pl_kripp,
        "st_ewma": st_ewma,
        "q01_pricing_summary": q01_pricing_summary,
        "q04_order_priority": q04_order_priority,
        "q06_forecasting": q06_forecasting,
        "q07_volume_shipping": q07_volume_shipping,
        "q08_market_share": q08_market_share,
        "q13_customer_distribution": q13_customer_distribution,
        "q14_promo_effect": q14_promo_effect,
        "q15_top_supplier": q15_top_supplier,
        "q16_parts_supplier_relationship": q16_parts_supplier_relationship,
        "q17_small_quantity": q17_small_quantity,
        "q19_discounted_revenue": q19_discounted_revenue,
        "q22_global_sales_opportunity": q22_global_sales_opportunity,
        "q_rollup_revenue": q_rollup_revenue,
        "pl_cosine_pairs": pl_cosine_pairs,
        "pl_dedup_exact": pl_dedup_exact,
        "pl_fingerprint": pl_fingerprint,
        "pl_frame_sample": pl_frame_sample,
        "pl_ivf_exact": pl_ivf_exact,
        # --- round-9 head keys not placed above ---
        # --- (1) new in round 9 ---
        "pl_kneser_ney": pl_kneser_ney,
        "pl_brier": pl_brier,
        # --- (2) code/oracle modified this round ---
        "pl_kcore": pl_kcore,
        "pl_kappa": pl_kappa,
        "pl_ks_lengths": pl_ks_lengths,
        "pl_confusion": pl_confusion,
        "pl_hits": pl_hits,
        "pl_random_walks": pl_random_walks,
        "pl_label_prop": pl_label_prop,
        "pl_hop_dist": pl_hop_dist,
        "pl_pagerank": pl_pagerank,
        # --- (3) rest of the 2f2bdae set ---
        "st_scd2": st_scd2,
        "st_psi_drift": st_psi_drift,
        "pl_woe_iv": pl_woe_iv,
        "pl_calibration": pl_calibration,
        # --- (4) oldest greens (r3-checked), 34 rows ---
        "rq_concat_tables": rq_concat_tables,
        "rq_element_instances": rq_element_instances,
        "rq_filter_by_table": rq_filter_by_table,
        "rq_filter_labels": rq_filter_labels,
        "rq_get_values_xlong": rq_get_values_xlong,
        "rq_join_inner_element": rq_join_inner_element,
        "rq_join_left": rq_join_left,
        "rq_join_left_exclusive": rq_join_left_exclusive,
        "rq_join_right": rq_join_right,
        "rq_join_right_exclusive": rq_join_right_exclusive,
        "st_moving_avg": st_moving_avg,
        # --- r8 head (keys already placed above keep their position;
        # the rest follow in r8 order) ---
        "pl_zipf_slope": pl_zipf_slope,
        "pl_encoding_quality": pl_encoding_quality,
        "pl_script_profile": pl_script_profile,
        "pl_key_skew": pl_key_skew,
        "pl_embed_outliers": pl_embed_outliers,
        "pl_hard_negatives": pl_hard_negatives,
        "pl_nb_score": pl_nb_score,
        "pl_auc_rank": pl_auc_rank,
        "pl_hdr_quantiles": pl_hdr_quantiles,
        "pl_phrase_search": pl_phrase_search,
        "pl_multi_phrase": pl_multi_phrase,
        "pl_bpe_fertility": pl_bpe_fertility,
        "pl_auc_by_source": pl_auc_by_source,
        "pl_lift": pl_lift,
        "pl_bootstrap_ci": pl_bootstrap_ci,
        # --- re-check: oracle SUM cast to BIGINT this round (hash-red r7
        # was a DuckDB HUGEINT->float64 fetch dtype, values were equal) ---
        # --- modified since last driver check: minhash persist rework r5
        # (last check r4); kmeans/knn last checked r6 ---
        "pl_kmeans": pl_kmeans,
        "pl_knn_classify": pl_knn_classify,
        # --- stale greens: r2/r3-checked aggregate family + TPC-H head ---
        # --- stale greens: r3-checked spatial/relational query rows ---
        # (the round-9 head ended here; superseded by the r10 head)
        # --- round-7 head (all driver-green r7) ---
        "pl_pca": pl_pca,
        # --- cumulative greens ---
        # displaced to the round-9 head: the two remaining r3-checked
        # rq_ rows, then rotation continues by oldest-check-first
        "pl_shard_shuffle": pl_shard_shuffle,
        "pl_interleave": pl_interleave,
        "pl_boilerplate": pl_boilerplate,
        "pl_weighted_sample": pl_weighted_sample,
        "pl_tfidf_pairs": pl_tfidf_pairs,
        "pl_dup_spans": pl_dup_spans,
        "pl_mix_epochs": pl_mix_epochs,
        "pl_repetition": pl_repetition,
        "pl_pii_redact": pl_pii_redact,
        "pl_decontaminate": pl_decontaminate,
        "pl_dedup_cross": pl_dedup_cross,
        "pl_vocab_topk": pl_vocab_topk,
        "pl_pack_blocks": pl_pack_blocks,
        "pl_corpus_stats": pl_corpus_stats,
        "pl_audio_energy": pl_audio_energy,
        "pl_video_decode": pl_video_decode,
        "pl_cluster_purity": pl_cluster_purity,
        "q02_min_cost_supplier": q02_min_cost_supplier,
        "q09_product_profit": q09_product_profit,
        "st_asof_attrib": st_asof_attrib,
        "st_interval_conversions": st_interval_conversions,
    }


def oracle_sql() -> dict[str, str]:
    return {
        # --- round 14: the r13-banked candidates, SQL moved verbatim
        # from tests/test_r14_candidate_oracles.py (cross-engine-green
        # 18/18 at sf0.001 + sf0.01 before registration) ---
        "q_promo_share": Q_PROMO_SHARE_SQL,
        "q_order_priority": Q_ORDER_PRIORITY_SQL,
        "q_idle_customers": Q_IDLE_CUSTOMERS_SQL,
        "pl_mad_lengths": PL_MAD_LENGTHS_SQL,
        "pl_simpson_diversity": PL_SIMPSON_DIVERSITY_SQL,
        "pl_kendall_tau": PL_KENDALL_TAU_SQL,
        "pl_trimmed_mean": PL_TRIMMED_MEAN_SQL,
        "pl_yule_k": PL_YULE_K_SQL,
        "st_event_transitions": ST_EVENT_TRANSITIONS_SQL,
        # --- round 13: the r12-banked candidates, SQL moved verbatim
        # from tests/test_r13_candidate_oracles.py (cross-engine-green
        # 12/12 at sf0.001 + sf0.01 before registration) ---
        "q_rfm_segments": Q_RFM_SEGMENTS_SQL,
        "pl_spearman_corr": PL_SPEARMAN_CORR_SQL,
        "pl_chao1_richness": PL_CHAO1_RICHNESS_SQL,
        "st_mann_kendall": ST_MANN_KENDALL_SQL,
        "pl_vocab_overlap": PL_VOCAB_OVERLAP_SQL,
        "pl_length_quantiles": PL_LENGTH_QUANTILES_SQL,
        # --- round 12: the r11-banked candidates, SQL moved verbatim
        # from tests/test_r12_candidate_oracles.py (cross-engine-green
        # at sf0.001 + sf0.01 before registration) ---
        "q_revenue_growth": Q_REVENUE_GROWTH_SQL,
        "pl_cvm_lengths": PL_CVM_LENGTHS_SQL,
        "st_weekday_profile": ST_WEEKDAY_PROFILE_SQL,
        "pl_theil_index": PL_THEIL_INDEX_SQL,
        "pl_mutual_info": PL_MUTUAL_INFO_SQL,
        # --- round 10 ---
        "pl_mcc": PL_MCC_SQL,
        "pl_pr_curve": PL_PR_CURVE_SQL,
        "pl_ece": PL_ECE_SQL,
        "pl_mwu_lengths": PL_MWU_LENGTHS_SQL,
        "pl_token_gini": PL_TOKEN_GINI_SQL,
        "st_cusum": ST_CUSUM_SQL,
        "pl_wcc": PL_WCC_SQL,
        "pl_log_odds": PL_LOG_ODDS_SQL,
        "pl_centroid_cosine": PL_CENTROID_COSINE_SQL,
        "pl_benford": _benford_sql(),
        "pl_dup_profile": PL_DUP_PROFILE_SQL,
        "pl_ks_matrix": PL_KS_MATRIX_SQL,
        "pl_kripp": _kripp_sql(),
        "st_ewma": ST_EWMA_SQL,
        "q_assoc_rules": Q_ASSOC_RULES_SQL,
        "st_acf": ST_ACF_SQL,
        "pl_cliffs_delta": PL_CLIFFS_SQL,
        "pl_hhi": PL_HHI_SQL,
        # --- round 8 ---
        "pl_zipf_slope": PL_ZIPF_SLOPE_SQL,
        "pl_distinct_ngrams": PL_DISTINCT_NGRAMS_SQL,
        "pl_encoding_quality": PL_ENCODING_QUALITY_SQL,
        "pl_script_profile": PL_SCRIPT_PROFILE_SQL,
        "pl_key_skew": PL_KEY_SKEW_SQL,
        "pl_embed_outliers": PL_EMBED_OUTLIERS_SQL,
        "pl_hard_negatives": PL_HARD_NEGATIVES_SQL,
        "pl_nb_score": PL_NB_SCORE_SQL,
        "pl_auc_rank": PL_AUC_RANK_SQL,
        "pl_calibration": PL_CALIBRATION_SQL,
        "pl_hdr_quantiles": PL_HDR_QUANTILES_SQL,
        "pl_phrase_search": PL_PHRASE_SEARCH_SQL,
        "pl_multi_phrase": PL_MULTI_PHRASE_SQL,
        "pl_label_prop": PL_LABEL_PROP_SQL,
        "st_scd2": ST_SCD2_SQL,
        "pl_bpe_fertility": PL_BPE_FERTILITY_SQL,
        "pl_minhash_recall": _minhash_recall_sql(),
        "pl_stupid_backoff": PL_STUPID_BACKOFF_SQL,
        "pl_kneser_ney": PL_KNESER_NEY_SQL,
        "pl_image_dhash": PL_IMAGE_DHASH_SQL,
        "pl_image_neardup": PL_IMAGE_NEARDUP_SQL,
        "pl_brier": PL_BRIER_SQL,
        "st_cramers_drift": ST_CRAMERS_DRIFT_SQL,
        "pl_ndcg": PL_NDCG_SQL,
        "pl_chi2_tokens": PL_CHI2_TOKENS_SQL,
        "pl_ks_lengths": PL_KS_LENGTHS_SQL,
        "st_psi_drift": ST_PSI_DRIFT_SQL,
        "pl_simhash_recall": _simhash_recall_sql(),
        "pl_triangles": PL_TRIANGLES_SQL,
        "pl_graph_stats": PL_GRAPH_STATS_SQL,
        "pl_link_pred": PL_LINK_PRED_SQL,
        "pl_rrf_hybrid": PL_RRF_HYBRID_SQL,
        "pl_target_encode": PL_TARGET_ENCODE_SQL,
        "pl_woe_iv": PL_WOE_IV_SQL,
        "pl_auc_by_source": PL_AUC_BY_SOURCE_SQL,
        "pl_rank_corr": PL_RANK_CORR_SQL,
        "pl_random_walks": _random_walks_sql(),
        "pl_kcore": _kcore_sql(),
        "pl_hop_dist": _hop_dist_sql(),
        "pl_confusion": _confusion_sql(),
        "pl_kappa": _kappa_sql(),
        "pl_modularity": PL_MODULARITY_SQL,
        "pl_lift": PL_LIFT_SQL,
        "pl_ppr_seeds": _ppr_seeds_sql(),
        "pl_hits": _hits_sql(),
        "pl_bootstrap_ci": _bootstrap_ci_sql(),
        # --- pre-round-8 ---
        "pl_burstiness": PL_BURSTINESS_SQL,
        "pl_cooccur_pmi": PL_COOCCUR_PMI_SQL,
        "st_inter_event": ST_INTER_EVENT_SQL,
        "pl_len_hist": PL_LEN_HIST_SQL,
        "pl_label_fstat": PL_LABEL_FSTAT_SQL,
        "st_markov_transitions": ST_MARKOV_TRANSITIONS_SQL,
        "pl_vocab_coverage": PL_VOCAB_COVERAGE_SQL,
        "q_top_parts_per_supplier": Q_TOP_PARTS_SQL,
        "pl_hapax_ratio": PL_HAPAX_RATIO_SQL,
        "pl_norm_hist": PL_NORM_HIST_SQL,
        "q_order_gap": Q_ORDER_GAP_SQL,
        "st_funnel_time": ST_FUNNEL_TIME_SQL,
        "st_anomaly_mad": ST_ANOMALY_MAD_SQL,
        "q_customer_ltv_deciles": Q_LTV_DECILES_SQL,
        "pl_bigram_entropy": PL_BIGRAM_ENTROPY_SQL,
        "pl_rouge_pairs": PL_ROUGE_PAIRS_SQL,
        "q_revenue_running": Q_REVENUE_RUNNING_SQL,
        "pl_heaps_curve": PL_HEAPS_CURVE_SQL,
        # pl_pca has NO oracle by design (eigendecomposition is not
        # SQL-expressible) — the driver records the rows-only check.
        "pl_hash_split": PL_HASH_SPLIT_SQL,
        "pl_pagerank": PL_PAGERANK_SQL,
        "pl_curation_funnel": PL_CURATION_FUNNEL_SQL,
        "pl_token_entropy": PL_TOKEN_ENTROPY_SQL,
        "pl_jsd_sources": PL_JSD_SOURCES_SQL,
        "st_wau_mau": ST_WAU_MAU_SQL,
        "pl_bloom_decon": PL_BLOOM_DECON_SQL,
        "pl_cms_topk": PL_CMS_TOPK_SQL,
        "pl_gram_matrix": PL_GRAM_MATRIX_SQL,
        "st_topn_window": ST_TOPN_WINDOW_SQL,
        "pl_sent_stats": PL_SENT_STATS_SQL,
        "pl_c4_rules": PL_C4_RULES_SQL,
        "pl_ngram_novelty": PL_NGRAM_NOVELTY_SQL,
        "pl_bigram_lm": PL_BIGRAM_LM_SQL,
        "pl_source_overlap": PL_SOURCE_OVERLAP_SQL,
        "pl_hll_distinct": PL_HLL_DISTINCT_SQL,
        "pl_winnow": PL_WINNOW_SQL,
        "pl_cdc_chunks": PL_CDC_CHUNKS_SQL,
        "pl_dsir_weights": PL_DSIR_WEIGHTS_SQL,
        "st_props_json": ST_PROPS_JSON_SQL,
        "pl_embed_pool": PL_EMBED_POOL_SQL,
        "pl_score_norm": PL_SCORE_NORM_SQL,
        "q01_pricing_summary": Q01_SQL,
        "q03_shipping": Q03_SQL,
        "q05_local_supplier": Q05_SQL,
        "q06_forecasting": Q06_SQL,
        "q04_order_priority": Q04_SQL,
        "q10_returned_items": Q10_SQL,
        "q14_promo_effect": Q14_SQL,
        "q18_large_volume": Q18_SQL,
        "q19_discounted_revenue": Q19_SQL,
        "q07_volume_shipping": Q07_SQL,
        "q08_market_share": Q08_SQL,
        "q13_customer_distribution": Q13_SQL,
        "q15_top_supplier": Q15_SQL,
        "q17_small_quantity": Q17_SQL,
        "q16_parts_supplier_relationship": Q16_SQL,
        "q22_global_sales_opportunity": Q22_SQL,
        "q_rollup_revenue": Q_ROLLUP_SQL,
        "st_moving_avg": ST_MOVING_AVG_SQL,
        "sq_bbox_identity": SQ_BBOX_IDENTITY_SQL,
        "sq_bbox_3d": SQ_BBOX_3D_SQL,
        "sq_bbox_scale": SQ_BBOX_SCALE_SQL,
        "sq_bbox_rotation": SQ_BBOX_ROTATION_SQL,
        "sq_multibox": SQ_MULTIBOX_SQL,
        "sq_multibox_rotated": SQ_MULTIBOX_ROT_SQL,
        "sq_raster_rotated": SQ_RASTER_ROT_SQL,
        "sq_polygon_clip": _sq_polygon_clip_sql(),
        "sq_polygon_points": SQ_POLYGON_POINTS_SQL,
        "sq_polygon_concave": SQ_POLYGON_CONCAVE_SQL,
        "sq_bbox_shapes": SQ_BBOX_SHAPES_SQL,
        "sq_polygon_shapes": SQ_POLYGON_SHAPES_SQL,
        "sq_multipart_shapes": SQ_MULTIPART_SHAPES_SQL,
        "sq_polygon_clip_holes": SQ_POLYGON_CLIP_HOLES_SQL,
        "rq_join_left": RQ_JOIN_LEFT_SQL,
        "rq_join_inner_element": RQ_JOIN_INNER_SQL,
        "rq_join_left_exclusive": RQ_JOIN_LEFT_EXCL_SQL,
        "rq_join_right": RQ_JOIN_RIGHT_SQL,
        "rq_join_right_exclusive": RQ_JOIN_RIGHT_EXCL_SQL,
        "rq_get_values_xlong": RQ_GET_VALUES_SQL,
        "rq_filter_by_table": RQ_FILTER_TABLE_SQL,
        "rq_element_instances": RQ_ELEMENT_INSTANCES_SQL,
        "rq_filter_labels": RQ_FILTER_LABELS_SQL,
        "rq_concat_tables": RQ_CONCAT_SQL,
        "ag_points_by_circles_count": AG_COUNT_SQL,
        "ag_points_by_circles_sum": AG_SUM_SQL,
        "ag_points_by_circles_mean": AG_MEAN_SQL,
        "ag_points_by_circles_max": AG_MAX_SQL,
        "ag_points_categorical": AG_CAT_SQL,
        "ag_points_by_boxes": AG_POINTS_BOXES_SQL,
        "ag_points_by_darts": _ag_darts_sql(),
        "ag_fractions": AG_FRACTIONS_SQL,
        "ag_fractions_concave": AG_FRACTIONS_CONCAVE_SQL,
        "pl_stratified_sample": PL_STRATIFIED_SAMPLE_SQL,
        "pl_quota_cap": PL_QUOTA_CAP_SQL,
        "st_asof_attrib": ST_ASOF_ATTRIB_SQL,
        "st_interval_conversions": ST_INTERVAL_CONVERSIONS_SQL,
        "pl_bm25": PL_BM25_SQL,
        "pl_chunk_overlap": PL_CHUNK_OVERLAP_SQL,
        "pl_lev_neardup": PL_LEV_NEARDUP_SQL,
        "pl_mix_epochs": PL_MIX_EPOCHS_SQL,
        "pl_kmeans": PL_KMEANS_SQL,
        "pl_semantic_dedup": PL_SEMANTIC_DEDUP_SQL,
        "pl_knn_classify": PL_KNN_CLASSIFY_SQL,
        "pl_bpe_train": PL_BPE_TRAIN_SQL,
        "pl_bpe_encode": PL_BPE_ENCODE_SQL,
        "pl_shard_shuffle": PL_SHARD_SHUFFLE_SQL,
        "pl_interleave": PL_INTERLEAVE_SQL,
        "pl_ppl_buckets": PL_PPL_BUCKETS_SQL,
        "q_cube_revenue": Q_CUBE_REVENUE_SQL,
        "st_rolling_window": ST_ROLLING_WINDOW_SQL,
        "pl_boilerplate": PL_BOILERPLATE_SQL,
        "pl_gopher_rules": PL_GOPHER_RULES_SQL,
        "pl_containment": PL_CONTAINMENT_SQL,
        "pl_kmv_distinct": PL_KMV_DISTINCT_SQL,
        "pl_para_dedup": PL_PARA_DEDUP_SQL,
        "pl_lang_temperature": PL_LANG_TEMPERATURE_SQL,
        "st_cohort_matrix": ST_COHORT_MATRIX_SQL,
        "pl_weighted_sample": PL_WEIGHTED_SAMPLE_SQL,
        "st_gap_fill": ST_GAP_FILL_SQL,
        "st_cum_dau": ST_CUM_DAU_SQL,
        "q_pivot_revenue": Q_PIVOT_REVENUE_SQL,
        "pl_unigram_lm": PL_UNIGRAM_LM_SQL,
        "pl_idf_keywords": PL_IDF_KEYWORDS_SQL,
        "pl_dedup_keep_best": _dedup_keep_best_sql(),
        "pl_tfidf_pairs": PL_TFIDF_PAIRS_SQL,
        "pl_dup_spans": _dup_spans_sql(),
        "pl_span_cut": _span_cut_sql(),
        "ag_fractions_value": AG_FRACTIONS_VALUE_SQL,
        "ag_centroids_labels": AG_CENTROIDS_SQL,
        "ag_extent": AG_EXTENT_SQL,
        "ag_zonal_image": AG_ZONAL_SQL,
        "rv_rasterize_count": RV_RASTERIZE_SQL,
        "rv_rasterize_cat": RV_RASTERIZE_CAT_SQL,
        "rv_rasterize_circle_fill": RV_CIRCLE_FILL_SQL,
        "rv_rasterize_polyfill": RV_RASTERIZE_POLYFILL_SQL,
        "rv_to_circles": RV_TO_CIRCLES_SQL,
        "rv_to_polygons": RV_TO_POLYGONS_SQL,
        "rv_relabel": RV_RELABEL_SQL,
        "rv_rasterize_bins": RV_RASTERIZE_BINS_SQL,
        "rv_transform_points": RV_TRANSFORM_SQL,
        "rv_transform_shapes": _transform_shapes_sql(),
        "rt_map_tiles": RT_MAP_TILES_SQL,
        "rt_bbox_tiles": RT_BBOX_TILES_SQL,
        "rt_bbox_tiles_3d": RT_BBOX_TILES_3D_SQL,
        "sq_raster_3d": SQ_RASTER_3D_SQL,
        "rt_zonal_3d": RT_ZONAL_3D_SQL,
        "rq_get_values_obsm": RQ_GET_VALUES_OBSM_SQL,
        "rq_filter_var": RQ_FILTER_VAR_SQL,
        "ag_points_by_labels": AG_POINTS_BY_LABELS_SQL,
        "rt_pyramid_sum": RT_PYRAMID_SQL,
        "rt_halo_boxsum": RT_HALO_SQL,
        "rt_zonal_tiles": RT_ZONAL_SQL,
        "rt_unpad_extent": RT_UNPAD_SQL,
        "rt_affine_resample": RT_AFFINE_SQL,
        "rt_export_tiles": RT_EXPORT_TILES_SQL,
        "pl_dedup_exact": PL_DEDUP_SQL,
        "pl_text_stats": PL_TEXT_STATS_SQL,
        "pl_fingerprint": PL_FINGERPRINT_SQL,
        "pl_token_count": PL_TOKEN_COUNT_SQL,
        "pl_knn_cosine": PL_KNN_SQL,
        "pl_cosine_pairs": PL_COSINE_PAIRS_SQL,
        "pl_ngram_jaccard": PL_NGRAM_JACCARD_SQL,
        "pl_quality_score": PL_QUALITY_SQL,
        "pl_language_id": PL_LANGUAGE_ID_SQL,
        "pl_ivf_exact": PL_KNN_SQL,
        "pl_ivf_probe": PL_IVF_PROBE_SQL,
        "pl_lsh_topk": PL_LSH_TOPK_SQL,
        "pl_embed_dedup": PL_EMBED_DEDUP_SQL,
        "pl_minhash_dedup": _minhash_cand_sql(),
        "pl_minhash_expr": _minhash_cand_sql(),
        "pl_minhash_cc": _minhash_cc_sql(),
        "pl_simhash": _simhash_sql(),
        "pl_simhash_neardup": _simhash_neardup_sql(),
        "pl_multimodal_features": PL_MULTIMODAL_SQL,
        "pl_resize_images": PL_RESIZE_SQL,
        "pl_frame_sample": PL_FRAME_SAMPLE_SQL,
        "pl_repetition": PL_REPETITION_SQL,
        "pl_pii_redact": PL_PII_REDACT_SQL,
        "pl_decontaminate": PL_DECONTAMINATE_SQL,
        "pl_sq_int8": PL_SQ_INT8_SQL,
        "pl_pq_adc": PL_PQ_ADC_SQL,
        "pl_dedup_cross": PL_DEDUP_CROSS_SQL,
        "pl_vocab_topk": PL_VOCAB_TOPK_SQL,
        "pl_ann_recall": PL_ANN_RECALL_SQL,
        "pl_pack_blocks": PL_PACK_BLOCKS_SQL,
        "pl_corpus_stats": PL_CORPUS_STATS_SQL,
        "rt_zonal_quantiles": RT_ZONAL_QUANTILES_SQL,
        "rt_dataset_tiles": RT_DATASET_TILES_SQL,
        "st_funnel": ST_FUNNEL_SQL,
        "st_retention": ST_RETENTION_SQL,
        "st_anomaly": ST_ANOMALY_SQL,
        "pl_audio_energy": PL_AUDIO_ENERGY_SQL,
        "pl_video_decode": PL_VIDEO_DECODE_SQL,
        "pl_cluster_purity": PL_CLUSTER_PURITY_SQL,
        "q02_min_cost_supplier": Q02_SQL,
        "q09_product_profit": Q09_SQL,
        "q11_important_stock": Q11_SQL,
        "q12_priority_lines": Q12_SQL,
        "q20_excess_suppliers": Q20_SQL,
        "q21_waiting_supplier": Q21_SQL,
        "st_session_native": ST_SESSION_NATIVE_SQL,
        "st_distinct_users_daily": ST_DISTINCT_USERS_SQL,
        "st_value_quantiles": ST_QUANTILES_SQL,
        "st_tumbling": ST_TUMBLING_SQL,
        "st_sliding": ST_SLIDING_SQL,
        "st_sessionize": ST_SESSIONIZE_SQL,
        "st_topk_per_user": ST_TOPK_SQL,
    }
