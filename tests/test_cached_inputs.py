"""Operators must not drop cached data they do not own.

The operators bind their inputs with ``spark.sql(text, **frames)``.
``SQLStringFormatter.clear()`` drops each bound frame's temp view with
``catalog.dropTempView`` after analysis, and on pyspark 4.1 dropping a
view uncaches any cache entry whose plan matches the view's (checked
below with a direct probe).  So an operator never binds a caller's
frame or its own persisted stage as it is, only frames computed from
them.  These checks pin both halves: the operator plans keep their
``InMemoryRelation`` leaves, a repeated call reuses the stage blocks the
previous call materialized, and a caller's persisted, materialized input
keeps its cache entry AND its blocks (a re-persist would keep the entry
but lose the blocks).
Binding through the formatter also leaves no view behind in the
session catalog, which is pinned here too.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as em  # noqa: E402
from spatialdata_spark.operators.aggregate import (  # noqa: E402
    aggregate_points_by_circles,
    grid_join_shapes_shapes,
)
from spatialdata_spark.pipeline.dedup import (  # noqa: E402
    minhash_band_candidates,
    ngram_jaccard_join,
)
from spatialdata_spark.pipeline.similarity import cosine_topk_subquery  # noqa: E402


def _cache_manager(spark):
    return spark._jsparkSession.sharedState().cacheManager()


def _cached_leaves(df, loaded: bool = False) -> int:
    """``InMemoryRelation`` leaves of ``df``'s plan; with ``loaded``,
    only those whose blocks are already materialized."""
    leaves = df._jdf.queryExecution().withCachedData().collectLeaves()
    return sum(
        leaf.nodeName() == "InMemoryRelation" and (not loaded or leaf.cacheBuilder().isCachedColumnBuffersLoaded())
        for leaf in (leaves.apply(i) for i in range(leaves.size()))
    )


def _cached_partitions(df) -> int:
    """Materialized partitions of ``df``'s current cache entry (0 when
    it has none, or when the entry was re-registered and not yet
    filled)."""
    entry = _cache_manager(df.sparkSession).lookupCachedData(df._jdf)
    if entry.isEmpty():
        return 0
    rdd_id = entry.get().cachedRepresentation().cacheBuilder().cachedColumnBuffers().id()
    infos = df.sparkSession.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.numCachedPartitions() for i in infos if i.id() == rdd_id)


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
    # the next call's plan reads the blocks this run materializes
    # (binding the stage itself would uncache them and recompute)
    df.write.format("noop").mode("overwrite").save()
    again = em.queries()[name](clean_cache, sf_dir)
    assert _cached_leaves(again, loaded=True) == 2, f"{name}: a repeated call dropped the materialized stage"


def test_caller_persisted_input_stays_cached(clean_cache, sf_dir):
    spark = clean_cache
    points = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .selectExpr("(l_extendedprice / 1000.0D) AS x", "l_quantity AS y")
        .persist()
    )
    aggregate_points_by_circles(points, em._circles(spark, sf_dir), cell_size=0.85)
    assert _cache_manager(spark).lookupCachedData(points._jdf).isDefined()


def _circles_shapes(spark, sf_dir):
    shapes = em._circles(spark, sf_dir).where("radius > 0")
    return [shapes], lambda: aggregate_points_by_circles(em._points(spark, sf_dir), shapes, cell_size=0.85)


def _grid_join_values_by(spark, sf_dir):
    values = em._vrect_shapes(spark, sf_dir).where("shape_id >= 0")
    by = em._by_boxes_shapes(spark).where("shape_id >= 0")
    box = frozenset({"box"})
    return [values, by], lambda: grid_join_shapes_shapes(
        values, by, cell_size=30.0, values_kinds=box, by_kinds=box
    )


def _ngram_docs(spark, sf_dir):
    docs = em._read(spark, sf_dir, "documents").where("doc_id >= 0")
    return [docs], lambda: ngram_jaccard_join(docs)


def _minhash_docs(spark, sf_dir):
    docs = em._read(spark, sf_dir, "documents").where("doc_id >= 0")
    return [docs], lambda: minhash_band_candidates(docs)


def _knn_embeddings_query(spark, sf_dir):
    emb = em._read(spark, sf_dir, "embeddings")
    embeddings, query = emb.where("vec_id != 0"), emb.where("vec_id = 0")
    return [embeddings, query], lambda: cosine_topk_subquery(embeddings, query, k=20)


CASES = [_circles_shapes, _grid_join_values_by, _ngram_docs, _minhash_docs, _knn_embeddings_query]


@pytest.mark.parametrize("case", CASES)
def test_caller_persisted_inputs_keep_their_blocks(clean_cache, sf_dir, case):
    """Each caller input of the spark.sql-bound operators is persisted
    and materialized first; building the operator's plan must leave its
    cached partition count unchanged."""
    inputs, construct = case(clean_cache, sf_dir)
    for df in inputs:
        df.persist().count()
    before = [_cached_partitions(df) for df in inputs]
    assert all(before)
    construct()
    assert [_cached_partitions(df) for df in inputs] == before


@pytest.mark.parametrize("case", CASES)
def test_operators_leave_no_temp_views(clean_cache, sf_dir, case):
    """Building a plan leaves the session catalog as it found it: no
    operator-named view shadows a caller's view of the same name or
    keeps its input plan alive for the session.  A fresh session per
    case, so views left by earlier tests cannot hide a leak."""
    session = clean_cache.newSession()
    before = sorted(t.name for t in session.catalog.listTables())
    case(session, sf_dir)[1]()
    assert sorted(t.name for t in session.catalog.listTables()) == before


def test_sql_formatter_binding_uncaches(clean_cache, sf_dir):
    """The trap itself: if this starts passing the other way (pyspark
    stops uncaching on view drop), ``spark.sql(text, df=...)`` becomes
    safe for persisted inputs."""
    spark = clean_cache
    frame = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select("l_quantity").persist()
    spark.sql("SELECT count(*) FROM {t}", t=frame)
    assert not _cache_manager(spark).lookupCachedData(frame._jdf).isDefined()
