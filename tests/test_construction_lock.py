"""Pin the plan-construction thread-safety contract: operators bind
their inputs with ``spark.sql(text, **frames)``, which registers each
frame under a fresh UUID view name and drops it after analysis, so
concurrent library callers on one session can never resolve a view
name against another thread's data — without any construction lock.
Each operator that builds its plan from SQL text runs here from
several threads at once over two distinguishable datasets."""

from __future__ import annotations

import sys
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

from spatialdata_spark.operators.aggregate import aggregate_points_by_circles, grid_join_shapes_shapes
from spatialdata_spark.pipeline.dedup import minhash_band_candidates, ngram_jaccard_join
from spatialdata_spark.pipeline.similarity import cosine_topk_subquery


def test_concurrent_construction_is_cross_wire_free(spark):
    # two clearly distinguishable datasets: one circle, points all
    # inside it; dataset A has 40 points, dataset B has 7
    def mk(n_points):
        pts = spark.range(n_points).select(
            (F.lit(5.0) + (F.col("id") % 3) * 0.1).alias("x"),
            (F.lit(5.0) + (F.col("id") % 5) * 0.1).alias("y"),
        )
        shp = spark.sql(
            "SELECT 1 AS shape_id, 'circle' AS kind, CAST(NULL AS BINARY) AS wkb, "
            "2.0D AS minx, 2.0D AS miny, 8.0D AS maxx, 8.0D AS maxy, 3.0D AS radius"
        )
        return pts, shp

    a_pts, a_shp = mk(40)
    b_pts, b_shp = mk(7)

    def run(args):
        pts, shp, expect = args
        df = aggregate_points_by_circles(pts, shp, cell_size=0.5)
        rows = df.collect()
        return expect, {r["by_id"]: r["n"] for r in rows}

    jobs = [(a_pts, a_shp, 40), (b_pts, b_shp, 7)] * 4
    with ThreadPoolExecutor(max_workers=4) as pool:
        for expect, got in pool.map(run, jobs):
            assert got == {1: expect}, f"expected {{1: {expect}}}, got {got}"


def _grid_join(spark, n):
    # n value boxes inside one by-box; ids offset by n so the two
    # datasets share no id
    values = spark.range(n).selectExpr(
        f"id + {n} AS shape_id", "'box' AS kind", "CAST(NULL AS BINARY) AS wkb",
        "1.0D + (id % 3) AS minx", "1.0D AS miny", "2.0D + (id % 3) AS maxx", "2.0D AS maxy", "0.0D AS radius",
    )
    by = spark.sql(
        f"SELECT {n} AS shape_id, 'box' AS kind, CAST(NULL AS BINARY) AS wkb, "
        "0.0D AS minx, 0.0D AS miny, 10.0D AS maxx, 10.0D AS maxy, 0.0D AS radius"
    )
    box = frozenset({"box"})
    return lambda: grid_join_shapes_shapes(values, by, cell_size=2.0, values_kinds=box, by_kinds=box)


def _docs(spark, n):
    # doc pairs with identical text: near-duplicates under any threshold
    text = " ".join(f"w{n}x{i}" for i in range(12))
    return spark.createDataFrame([(n, text), (n + 1, text), (n + 2, "unrelated words here only")], "doc_id long, text string")


def _ngram(spark, n):
    docs = _docs(spark, n)
    return lambda: ngram_jaccard_join(docs)


def _minhash(spark, n):
    docs = _docs(spark, n)
    return lambda: minhash_band_candidates(docs, num_hashes=16, num_bands=4)


def _knn(spark, n):
    emb = spark.range(n).selectExpr(
        f"id + {n} AS vec_id", "array(CAST(1.0 AS FLOAT), CAST(id AS FLOAT), CAST(id * id AS FLOAT)) AS embedding"
    )
    query = spark.sql("SELECT array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT), CAST(3.0 AS FLOAT)) AS embedding")
    return lambda: cosine_topk_subquery(emb, query, k=3)


@pytest.mark.parametrize("make", [_grid_join, _ngram, _minhash, _knn])
def test_concurrent_construction_other_operators(spark, make):
    """Dataset A and B give different results serially; built and run
    from eight threads at once (more than the cores, with a short
    switch interval so constructions interleave), each job must still
    get its own."""
    builds = {n: make(spark, n) for n in (40, 7)}
    switch = sys.getswitchinterval()
    try:
        expected = {n: sorted(map(tuple, build().collect())) for n, build in builds.items()}
        assert expected[40] != expected[7] and expected[40] and expected[7]

        def run(n):
            return n, sorted(map(tuple, builds[n]().collect()))

        sys.setswitchinterval(1e-5)
        with ThreadPoolExecutor(max_workers=8) as pool:
            results = list(pool.map(run, [40, 7] * 4, timeout=600))
        assert len(results) == 8
        for n, got in results:
            assert got == expected[n], f"dataset {n}: expected {expected[n]}, got {got}"
    finally:
        sys.setswitchinterval(switch)
        spark.catalog.clearCache()
