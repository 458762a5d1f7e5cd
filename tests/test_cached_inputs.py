"""Operators must not drop cached data they do not own.

Binding a persisted frame through ``spark.sql(text, df=frame)``
unpersists it on pyspark 4.1: ``SQLStringFormatter.clear()`` drops the
frame's temp view with ``catalog.dropTempView``, and dropping a view
uncaches the view's plan.  Afterwards the consuming plan has no
``InMemoryRelation`` and a caller's own persisted input is evicted
(checked below with a direct probe).  The fixed-name
``createOrReplaceTempView`` the operators use today does not uncache;
these checks keep that true when the view mechanism is replaced.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as em  # noqa: E402
from spatialdata_spark.operators.aggregate import aggregate_points_by_circles  # noqa: E402


def _cache_manager(spark):
    return spark._jsparkSession.sharedState().cacheManager()


def _cached_leaves(df) -> int:
    leaves = df._jdf.queryExecution().withCachedData().collectLeaves()
    return sum(leaves.apply(i).nodeName() == "InMemoryRelation" for i in range(leaves.size()))


@pytest.fixture()
def clean_cache(spark):
    yield spark
    spark.catalog.clearCache()


@pytest.mark.parametrize(
    "name",
    ["ag_points_by_circles_count", "ag_points_categorical", "pl_ngram_jaccard", "pl_minhash_dedup"],
)
def test_operator_plan_keeps_its_persisted_stages(clean_cache, sf_dir, name):
    df = em.queries()[name](clean_cache, sf_dir)
    assert _cached_leaves(df) == 2, f"{name}: persisted stages lost from the plan"


def test_caller_persisted_input_stays_cached(clean_cache, sf_dir):
    spark = clean_cache
    points = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .selectExpr("(l_extendedprice / 1000.0D) AS x", "l_quantity AS y")
        .persist()
    )
    aggregate_points_by_circles(points, em._circles(spark, sf_dir), cell_size=0.85)
    assert _cache_manager(spark).lookupCachedData(points._jdf).isDefined()


def test_sql_formatter_binding_uncaches(clean_cache, sf_dir):
    """The trap itself: if this starts passing the other way (pyspark
    stops uncaching on view drop), ``spark.sql(text, df=...)`` becomes
    safe for persisted inputs."""
    spark = clean_cache
    frame = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select("l_quantity").persist()
    spark.sql("SELECT count(*) FROM {t}", t=frame)
    assert not _cache_manager(spark).lookupCachedData(frame._jdf).isDefined()
