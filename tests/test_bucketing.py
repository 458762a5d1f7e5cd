"""Bucketed co-located joins: the element<->table equi-join on the
bucket key must plan with ZERO shuffle exchanges (both sides pre-hashed
at write time) — the 100 TB design for the reference's repeated
relational joins (relational_query.py:434-716)."""

from __future__ import annotations

import pandas as pd
import pytest

from spatialdata_spark import session
from spatialdata_spark.sources.bucketing import read_bucketed, write_bucketed


@pytest.fixture()
def bucketed_pair(spark, tmp_path):
    pts = spark.createDataFrame(
        pd.DataFrame({"instance_id": list(range(200)), "x": [float(i) for i in range(200)]})
    )
    obs = spark.createDataFrame(
        pd.DataFrame({"instance_id": list(range(0, 200, 2)), "score": [1.0] * 100})
    )
    write_bucketed(pts, "b_pts", str(tmp_path / "pts"), buckets=8)
    write_bucketed(obs, "b_obs", str(tmp_path / "obs"), buckets=8)
    yield "b_pts", "b_obs"
    spark.sql("DROP TABLE IF EXISTS b_pts")
    spark.sql("DROP TABLE IF EXISTS b_obs")


def test_bucketed_join_has_no_exchange(spark, bucketed_pair):
    a, b = bucketed_pair
    # force the join path (not broadcast) to show the bucket property
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = read_bucketed(spark, a).join(read_bucketed(spark, b), "instance_id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, plan
        assert joined.count() == 100
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_groupby_has_no_exchange(spark, bucketed_pair):
    a, _ = bucketed_pair
    from pyspark.sql import functions as F

    agg = read_bucketed(spark, a).groupBy("instance_id").agg(F.sum("x").alias("s"))
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan
    assert agg.count() == 200


def test_bucketed_data_is_plain_parquet(spark, tmp_path, bucketed_pair):
    """The payload stays engine-portable parquet at the external path."""
    a, _ = bucketed_pair
    loc = spark.sql(f"DESCRIBE FORMATTED {a}").filter("col_name = 'Location'").first()["data_type"]
    df = spark.read.parquet(loc.replace("file:", ""))
    assert df.count() == 200


def test_bucketed_edges_feed_pagerank_pre_partitioned(spark, tmp_path, monkeypatch):
    """The full 100 TB iterative-graph recipe end-to-end: edges written
    ONCE with write_bucketed(src), read back, fed to pagerank in the
    co-partitioned frontier mode with pre_partitioned=True — values
    identical to the broadcast path, and the op adds no repartition of
    its own (the bucketed scan IS the partitioning)."""
    import random

    import pandas as pd
    from pyspark.sql import functions as F

    import spatialdata_spark.pipeline.graph as G

    rng = random.Random(11)
    seen = set()
    while len(seen) < 150:
        a, b = rng.randrange(50), rng.randrange(50)
        if a != b:
            seen.add((a, b))
    edges = spark.createDataFrame(
        pd.DataFrame(sorted(seen), columns=["src", "dst"]).astype("int64")
    )
    expected = sorted(tuple(r) for r in G.pagerank(edges, k=3).collect())

    write_bucketed(
        edges, "b_edges", str(tmp_path / "edges"), buckets=8, bucket_cols="src"
    )
    try:
        monkeypatch.setattr(session, "single_host", lambda s: False)
        calls = []
        real = G._co_partition
        G._co_partition = lambda df, key: calls.append(key) or real(df, key)
        try:
            got = G.pagerank(
                read_bucketed(spark, "b_edges"), k=3, pre_partitioned=True
            )
            rows = sorted(tuple(r) for r in got.collect())
        finally:
            G._co_partition = real
        assert calls == []  # the op trusted the bucketing
        assert rows == expected
    finally:
        spark.sql("DROP TABLE IF EXISTS b_edges")


def test_bucketed_undirected_edges_feed_triangles_pre_partitioned(spark, tmp_path, monkeypatch):
    """The edge⋈edge family's 100 TB recipe end-to-end: the CANONICAL
    undirected edge list written ONCE with write_bucketed(u), read
    back, fed to triangle_count / graph_stats / link_prediction with
    pre_partitioned=True in the co-partitioned frontier mode — values
    identical to the default path, and the normalizing distinct never
    runs (the bucketed canonical table IS the contract)."""
    import random

    import spatialdata_spark.pipeline.graph as G

    rng = random.Random(23)
    seen = set()
    while len(seen) < 150:
        a, b = rng.randrange(50), rng.randrange(50)
        if a != b:
            seen.add((a, b))
    edges = spark.createDataFrame(
        pd.DataFrame(sorted(seen), columns=["src", "dst"]).astype("int64")
    )
    canon = G.undirected_edges(edges, "src", "dst")
    expected = {
        "tri": sorted(tuple(r) for r in G.triangle_count(edges).collect()),
        "gs": sorted(tuple(r) for r in G.graph_stats(edges).collect()),
        "lp": sorted(tuple(r) for r in G.link_prediction(edges, top_n=25).collect()),
    }
    write_bucketed(
        canon, "b_und", str(tmp_path / "und"), buckets=8, bucket_cols="u"
    )
    try:
        monkeypatch.setattr(session, "single_host", lambda s: False)
        real = G.undirected_edges
        calls = []
        G.undirected_edges = lambda df, s="src", d="dst": calls.append(1) or real(df, s, d)
        try:
            bt = read_bucketed(spark, "b_und")
            got_tri = sorted(
                tuple(r)
                for r in G.triangle_count(bt, "u", "v", pre_partitioned=True).collect()
            )
            got_gs = sorted(
                tuple(r)
                for r in G.graph_stats(bt, "u", "v", pre_partitioned=True).collect()
            )
            got_lp = sorted(
                tuple(r)
                for r in G.link_prediction(
                    bt, top_n=25, src_col="u", dst_col="v", pre_partitioned=True
                ).collect()
            )
        finally:
            G.undirected_edges = real
        assert calls == []  # bucketed canonical input: no re-distinct
        assert got_tri == expected["tri"]
        assert got_gs == expected["gs"]
        assert got_lp == expected["lp"]
    finally:
        spark.sql("DROP TABLE IF EXISTS b_und")
        spark.catalog.clearCache()
