"""The co-partitioned iterative-graph path (the 100 TB frontier
contract): with ``session.single_host`` patched to ``False`` (the
cluster plan) the edge-side table of every iterative op is
hash-partitioned by its per-round join key ONCE (explicit partition
count + eager materialization, so the cached plan's partitioning is
FINAL), and every per-iteration join is exchange-free on the edge
side — only the node-sized frontier moves.

Two guarantees, both checked here:

* VALUES: both frontier strategies produce identical results (the
  fixed-point integer contract makes this exact, not approximate).
* PLANS: the per-round plan must not touch an exchange on its way from
  the join down to the edge-side cache scan, and the live exchange
  count of the returned plan must be CONSTANT in the round count
  (each round's state is materialized, so the returned plan is the
  last round's — structurally identical to every round; an edge-side
  re-shuffle regression would add an exchange to it and fail loudly).

Plan inspection walks the REAL plan tree via py4j rather than grepping
``toString`` — AQE prints cached relations' internal "Final Plan"
sections at misleading indentation, and auto-broadcast of test-sized
tables would mask the shuffle structure, so the fixture also disables
broadcast thresholds to simulate tables too big to broadcast.
"""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spatialdata_spark import session  # noqa: E402
from spatialdata_spark.pipeline.graph import (  # noqa: E402
    graph_stats,
    hits,
    hop_distances,
    kcore_rounds,
    label_propagation,
    link_prediction,
    pagerank,
    pagerank_weighted,
    triangle_count,
)


def _random_edges(spark, seed=7, n=40, m=120):
    import random

    rng = random.Random(seed)
    seen = set()
    while len(seen) < m:
        a, b = rng.randrange(n), rng.randrange(n)
        if a != b:
            seen.add((a, b))
    return spark.createDataFrame(sorted(seen), ["src", "dst"])


@pytest.fixture()
def cluster_mode(spark, monkeypatch):
    saved = {
        "spark.sql.autoBroadcastJoinThreshold": spark.conf.get(
            "spark.sql.autoBroadcastJoinThreshold"
        ),
        "spark.sql.adaptive.autoBroadcastJoinThreshold": spark.conf.get(
            "spark.sql.adaptive.autoBroadcastJoinThreshold", "-1"
        ),
    }
    monkeypatch.setattr(session, "single_host", lambda s: False)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    spark.catalog.clearCache()
    yield spark
    for k, v in saved.items():
        spark.conf.set(k, v)
    spark.catalog.clearCache()


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _root(df):
    p = df._jdf.queryExecution().executedPlan()
    if p.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        p = p.initialPlan()
    return p


def _live_exchanges(df) -> int:
    """Shuffle exchanges the returned plan would actually run —
    cached-relation internals (already materialized) excluded."""

    def walk(p):
        name = p.getClass().getSimpleName()
        if name == "InMemoryTableScanExec":
            return 0
        if name == "AdaptiveSparkPlanExec":
            return walk(p.initialPlan())
        n = 1 if name == "ShuffleExchangeExec" else 0
        ch = p.children()
        for i in range(ch.size()):
            n += walk(ch.apply(i))
        return n

    return walk(_root(df))


def _edge_scan_join_paths(df, marker: str):
    """Node-name paths from the plan root to every cache scan whose
    output contains ``marker`` (a column only the edge-side table has).
    """
    found = []

    def walk(p, path):
        name = p.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            walk(p.initialPlan(), path)
            return
        if name == "InMemoryTableScanExec":
            out = p.output()
            names = {out.apply(i).name() for i in range(out.size())}
            if marker in names:
                found.append(path + [name])
            return
        ch = p.children()
        for i in range(ch.size()):
            walk(ch.apply(i), path + [name])

    walk(_root(df), [])
    return found


def _assert_edge_side_exchange_free(df, marker: str):
    paths = _edge_scan_join_paths(df, marker)
    assert paths, f"no edge cache scan with column '{marker}' found"
    for path in paths:
        # the segment between the governing join and the edge scan:
        # Sort/Filter/Project only — NEVER a shuffle.  (An aggregation
        # between exchange and scan means the exchange moves reduced,
        # node-sized data — that is the sanctioned combiner shape.)
        last_join = max(
            (i for i, n in enumerate(path) if "JoinExec" in n), default=-1
        )
        seg = path[last_join + 1 :]
        if "ShuffleExchangeExec" in seg and "HashAggregateExec" not in seg:
            raise AssertionError(f"edge-side exchange on path: {path}")


def test_copartitioned_path_matches_broadcast_path(spark, cluster_mode, monkeypatch):
    e = _random_edges(spark)
    sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))

    wgt = sym.withColumn("weight", (F.col("src") % 3 + 1).cast("long"))

    monkeypatch.setattr(session, "single_host", lambda s: True)
    expected = {
        "pagerank": _rows(pagerank(sym, k=3)),
        "lpa": _rows(label_propagation(sym, k=3)),
        "kcore": _rows(kcore_rounds(e, k_core=3, rounds=3)),
        "hops": _rows(hop_distances(e, seeds=[0, 1], max_hops=3)),
        "hits": _rows(hits(e, k=2)),
        "ppr": _rows(pagerank_weighted(wgt, k=2, seeds=[0, 1, 2])),
        "tri": _rows(triangle_count(e)),
        "gs": _rows(graph_stats(e)),
        "lp": _rows(link_prediction(e, top_n=20)),
    }
    monkeypatch.setattr(session, "single_host", lambda s: False)
    assert _rows(pagerank(sym, k=3)) == expected["pagerank"]
    assert _rows(label_propagation(sym, k=3)) == expected["lpa"]
    assert _rows(kcore_rounds(e, k_core=3, rounds=3)) == expected["kcore"]
    assert _rows(hop_distances(e, seeds=[0, 1], max_hops=3)) == expected["hops"]
    assert _rows(hits(e, k=2)) == expected["hits"]
    assert _rows(pagerank_weighted(wgt, k=2, seeds=[0, 1, 2])) == expected["ppr"]
    assert _rows(triangle_count(e)) == expected["tri"]
    assert _rows(graph_stats(e)) == expected["gs"]
    assert _rows(link_prediction(e, top_n=20)) == expected["lp"]


def test_pagerank_edge_side_exchange_free(spark, cluster_mode):
    e = _random_edges(spark)
    # pagerank keeps its whole k-round lineage in one lazy plan (ranks
    # are never materialized mid-loop), so rounds accumulate — at
    # EXACTLY ONE exchange per round: the contrib combiner keyed by
    # dst.  The rank frontier inherits the src partitioning through
    # the alias-aware Project (zero exchange) and the cached edge table
    # never re-shuffles.  An edge-side regression adds one more
    # exchange per round and doubles the slope.
    counts = [_live_exchanges(pagerank(e, k=k)) for k in (1, 2, 3)]
    assert counts[1] - counts[0] == counts[2] - counts[1] == 1, counts
    _assert_edge_side_exchange_free(pagerank(e, k=3), "outdeg")


def test_label_prop_edge_side_exchange_free(spark, cluster_mode):
    e = _random_edges(spark)
    # round 1 reads the initial (node-partitioned) label cache, so its
    # carry-forward join saves one exchange; from round 2 on the plan
    # is steady-state — constant live exchanges regardless of k
    counts = [_live_exchanges(label_propagation(e, k=k)) for k in (1, 2, 3)]
    assert counts[1] == counts[2], counts
    _assert_edge_side_exchange_free(label_propagation(e, k=3), "dst")


def test_hop_distances_edge_side_exchange_free(spark, cluster_mode):
    e = _random_edges(spark)
    counts = [
        _live_exchanges(hop_distances(e, [0], max_hops=h)) for h in (1, 2, 3)
    ]
    assert counts[0] == counts[1] == counts[2], counts
    _assert_edge_side_exchange_free(hop_distances(e, [0], max_hops=3), "nbr")


def test_pagerank_weighted_edge_side_exchange_free(spark, cluster_mode):
    e = _random_edges(spark).withColumn(
        "weight", (F.col("src") % 3 + 1).cast("long")
    )
    counts = [
        _live_exchanges(pagerank_weighted(e, k=k)) for k in (1, 2, 3)
    ]
    assert counts[1] - counts[0] == counts[2] - counts[1], counts
    # the src-windowed (src, dst, __w, __wsum) cache never re-shuffles
    _assert_edge_side_exchange_free(pagerank_weighted(e, k=3), "__wsum")


def test_hits_edge_sides_exchange_free(spark, cluster_mode):
    # hits alternates join keys: both persisted layouts (by src for the
    # authority update, by dst for the hub update) must be read without
    # re-exchange.  hits materializes per round, so the returned plan
    # is the final join of two node-sized cached score tables — assert
    # the last round's updates left no live exchange over either edge
    # cache by checking the whole plan has no exchange above a scan
    # carrying the edge columns.
    e = _random_edges(spark)
    df = hits(e, k=2)
    for marker in ("src", "dst"):
        paths = _edge_scan_join_paths(df, marker)
        for path in paths:
            last_join = max(
                (i for i, n in enumerate(path) if "JoinExec" in n), default=-1
            )
            seg = path[last_join + 1 :]
            assert not (
                "ShuffleExchangeExec" in seg and "HashAggregateExec" not in seg
            ), path


def test_kcore_final_plan_is_cache_read(spark, cluster_mode):
    # kcore materializes its survivor state per round: the returned
    # plan is a bare cache read with zero live exchanges, and the
    # per-round decrement work reuses the node-partitioned adjacency
    e = _random_edges(spark)
    for r in (1, 2, 3):
        assert _live_exchanges(kcore_rounds(e, k_core=3, rounds=r)) == 0


def _arm_has_exchange(path):
    last_join = max((i for i, n in enumerate(path) if "JoinExec" in n), default=-1)
    return "ShuffleExchangeExec" in path[last_join + 1 :]


def test_triangle_wedge_arms_reuse_oriented_cache(spark, cluster_mode):
    """The cluster path co-partitions the ORIENTED edge table by the
    wedge apex once: the wedge's y arm reads it exchange-free always;
    with requireAllClusterKeysForCoPartition=false the closing z arm
    (subset-key clustering on `a`) does too — only the x arm re-keys by
    `b`.  1 oriented-table exchange per query instead of 3."""
    from spatialdata_spark.pipeline.graph import triangle_count

    e = _random_edges(spark)
    tri = triangle_count(e)
    arms = [_arm_has_exchange(p) for p in _edge_scan_join_paths(tri, "a")]
    assert len(arms) == 3 and sum(arms) <= 2, arms
    saved = spark.conf.get("spark.sql.requireAllClusterKeysForCoPartition", "true")
    spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    try:
        spark.catalog.clearCache()
        tri2 = triangle_count(e)
        arms2 = [_arm_has_exchange(p) for p in _edge_scan_join_paths(tri2, "a")]
        assert len(arms2) == 3 and sum(arms2) == 1, arms2
    finally:
        spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", saved)


def test_link_prediction_wedge_self_join_zero_exchange(spark, cluster_mode):
    """link_prediction's wedge self-join equi-keys on the apex `w` on
    BOTH arms: the co-partitioned path materializes the neighbor table
    hash-partitioned by `w` once, so the self-join runs with zero
    exchange on either arm — the op's biggest shuffle gone."""
    from spatialdata_spark.pipeline.graph import link_prediction

    e = _random_edges(spark)
    lp = link_prediction(e, top_n=20)
    arms = [_arm_has_exchange(p) for p in _edge_scan_join_paths(lp, "w")]
    # both wedge arms + the nbrs build path(s): no arm between a join
    # and the w-keyed cache scan may shuffle
    assert arms and not any(arms), arms


def test_edge_ops_pre_partitioned_skips_normalizing_distinct(
    spark, cluster_mode, monkeypatch
):
    """pre_partitioned=True over a canonical bucketed-by-u edge list:
    the corpus-sized normalizing distinct (undirected_edges) must not
    run, and values are identical to the default path."""
    import spatialdata_spark.pipeline.graph as G
    from spatialdata_spark.pipeline.graph import (
        graph_stats,
        link_prediction,
        modularity,
        triangle_count,
        undirected_edges,
    )

    e = _random_edges(spark)
    canon = undirected_edges(e, "src", "dst").select(
        F.col("u").cast("long").alias("u"), F.col("v").cast("long").alias("v")
    )
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    pre = canon.repartition(n, "u").persist()
    pre.count()

    labels = canon.select(
        F.col("u").alias("node"), (F.col("u") % 3).alias("label")
    ).union(canon.select(F.col("v").alias("node"), (F.col("v") % 3).alias("label"))).distinct()
    expected = {
        "tri": _rows(triangle_count(e)),
        "gs": _rows(graph_stats(e)),
        "lp": _rows(link_prediction(e, top_n=20)),
        "mod": _rows(modularity(e, labels)),
    }
    calls = []
    real = G.undirected_edges
    monkeypatch.setattr(
        G,
        "undirected_edges",
        lambda df, s="src", d="dst": calls.append(1) or real(df, s, d),
    )
    assert _rows(triangle_count(pre, "u", "v", pre_partitioned=True)) == expected["tri"]
    assert _rows(graph_stats(pre, "u", "v", pre_partitioned=True)) == expected["gs"]
    assert (
        _rows(link_prediction(pre, top_n=20, src_col="u", dst_col="v", pre_partitioned=True))
        == expected["lp"]
    )
    assert (
        _rows(modularity(pre, labels, src_col="u", dst_col="v", pre_partitioned=True))
        == expected["mod"]
    )
    assert calls == []  # the ops trusted the caller's canonical input
    pre.unpersist()


def test_shuffle_partitions_fallback_on_managed_cluster_auto(spark):
    """Databricks-style auto-optimized shuffle sets
    spark.sql.shuffle.partitions to the string "auto" — the
    co-partitioned path must fall back to defaultParallelism, not
    ValueError on the clusters it exists for.  (OSS Spark validates
    the conf as int at set time, so the fake conf stands in.)"""
    from spatialdata_spark.pipeline.graph import _shuffle_partitions

    assert _shuffle_partitions(spark) == int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )

    class _FakeConf:
        def get(self, k, d=None):
            return "auto"

    class _FakeSC:
        defaultParallelism = 7

    class _FakeSpark:
        conf = _FakeConf()
        sparkContext = _FakeSC()

    assert _shuffle_partitions(_FakeSpark()) == 7


def test_pre_partitioned_skips_the_upfront_exchange(
    spark, cluster_mode, monkeypatch
):
    import spatialdata_spark.pipeline.graph as G

    e = _random_edges(spark).select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
    )
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    pre = e.repartition(n, "src")

    calls = []
    real = G._co_partition
    monkeypatch.setattr(
        G, "_co_partition", lambda df, key: calls.append(key) or real(df, key)
    )
    got = _rows(pagerank(pre, k=2, pre_partitioned=True))
    assert calls == []  # the op trusted the caller's bucketing
    assert _rows(pagerank(e, k=2)) == got  # and values are identical
    assert calls == ["src"]  # the default path did repartition
