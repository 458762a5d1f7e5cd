"""Cross-engine checks for the registry rows of rounds 12-15, in one
place: each (query, SF) pair runs on Spark and through its DuckDB oracle
on the same parquet, compared with ``tests.parity.compare`` (the
registry's own comparison).

Registered rows are checked against ``oracle_sql()``, so a missing key
or a drifted oracle fails here before a registry-wide check.  Draft rows
(implemented, not yet registered) carry their SQL below until they are
registered, when it moves into ``__spark_entry__`` verbatim.

The ``tests/test_r1N_candidate_oracles.py`` files bind these checks to
their scale factors under their existing test ids.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.parity import compare, duckdb_conn  # noqa: E402

# registered rows, by the round that registered them
REGISTERED = {
    "r12": [
        "q_revenue_growth",
        "pl_cvm_lengths",
        "st_weekday_profile",
        "pl_theil_index",
        "pl_mutual_info",
    ],
    "r13": [
        "q_rfm_segments",
        "pl_spearman_corr",
        "pl_chao1_richness",
        "st_mann_kendall",
        "pl_vocab_overlap",
        "pl_length_quantiles",
    ],
    "r14": [
        "q_promo_share",
        "q_order_priority",
        "q_idle_customers",
        "pl_mad_lengths",
        "pl_simpson_diversity",
        "pl_kendall_tau",
        "pl_trimmed_mean",
        "pl_yule_k",
        "st_event_transitions",
    ],
}

DRAFTS = ["mcnemar", "runs_test", "topk_mass", "order_size_hist"]


def _check(spark, name, sf_dir, fn, sql):
    sdf = fn(spark, sf_dir).toPandas()
    odf = duckdb_conn(sf_dir).execute(sql).fetchdf()
    ok, msg = compare(sdf, odf)
    assert ok, f"{name} @ {sf_dir}: {msg}"


def registered_cross_engine(round_tag: str, sf_dirs: list[str]):
    """The test for one round's registered rows."""

    @pytest.mark.parametrize("name", REGISTERED[round_tag])
    @pytest.mark.parametrize("sf_dir", sf_dirs)
    def test(spark, name, sf_dir):
        import __spark_entry__ as em

        q = em.queries()
        o = em.oracle_sql()
        assert name in q, f"{name} missing from queries()"
        assert name in o, f"{name} missing from oracle_sql()"
        _check(spark, name, sf_dir, q[name], o[name])

    return test


def draft_cross_engine(sf_dirs: list[str]):
    """The test for the draft rows: library call vs draft SQL."""

    @pytest.mark.parametrize("name", DRAFTS)
    @pytest.mark.parametrize("sf_dir", sf_dirs)
    def test(spark, name, sf_dir):
        fn, sql = _case(name)
        _check(spark, name, sf_dir, fn, sql)

    return test


MCNEMAR_SQL = r"""
WITH c AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         CASE WHEN n_chars >= 500 THEN 1 ELSE 0 END AS pa,
         CASE WHEN LEN(string_split_regex(LOWER(TRIM(text)), '\s+')) >= 100
              THEN 1 ELSE 0 END AS pb
  FROM documents
  WHERE lang IS NOT NULL AND n_chars IS NOT NULL AND text IS NOT NULL
)
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN pa = y AND pb = y THEN 1 ELSE 0 END) AS BIGINT) AS n_both_right,
       CAST(SUM(CASE WHEN pa <> y AND pb <> y THEN 1 ELSE 0 END) AS BIGINT) AS n_both_wrong,
       CAST(SUM(CASE WHEN pa = y AND pb <> y THEN 1 ELSE 0 END) AS BIGINT) AS n_a_only,
       CAST(SUM(CASE WHEN pa <> y AND pb = y THEN 1 ELSE 0 END) AS BIGINT) AS n_b_only,
       CASE WHEN SUM(CASE WHEN pa = y AND pb <> y THEN 1 ELSE 0 END)
               + SUM(CASE WHEN pa <> y AND pb = y THEN 1 ELSE 0 END) > 0 THEN
         CAST((CAST(SUM(CASE WHEN pa = y AND pb <> y THEN 1 ELSE 0 END)
                    - SUM(CASE WHEN pa <> y AND pb = y THEN 1 ELSE 0 END) AS HUGEINT)
               * (SUM(CASE WHEN pa = y AND pb <> y THEN 1 ELSE 0 END)
                  - SUM(CASE WHEN pa <> y AND pb = y THEN 1 ELSE 0 END)) * 2000000
               + (SUM(CASE WHEN pa = y AND pb <> y THEN 1 ELSE 0 END)
                  + SUM(CASE WHEN pa <> y AND pb = y THEN 1 ELSE 0 END)))
              // (CAST(SUM(CASE WHEN pa = y AND pb <> y THEN 1 ELSE 0 END)
                      + SUM(CASE WHEN pa <> y AND pb = y THEN 1 ELSE 0 END) AS HUGEINT) * 2)
              AS BIGINT) END AS chi2_e6
FROM c
"""

ST_RUNS_SQL = r"""
WITH daily AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events WHERE ts IS NOT NULL GROUP BY 1
), vals AS (
  SELECT n AS v, CAST(COUNT(*) AS BIGINT) AS c FROM daily GROUP BY 1
), cum AS (
  SELECT v, CAST(SUM(c) OVER (ORDER BY v) AS BIGINT) AS cm,
         CAST(SUM(c) OVER () AS BIGINT) AS d
  FROM vals
), med AS (
  SELECT MIN(CASE WHEN cm >= (d + 1) // 2 THEN v END) AS med, MAX(d) AS dtot FROM cum
), signs AS (
  SELECT day, CASE WHEN n > med THEN 1 ELSE 0 END AS s
  FROM daily CROSS JOIN med WHERE n <> med
), seq AS (
  SELECT s, CASE WHEN LAG(s) OVER (ORDER BY day) IS NULL THEN 1
                 WHEN s <> LAG(s) OVER (ORDER BY day) THEN 1 ELSE 0 END AS nr
  FROM signs
), agg AS (
  SELECT CAST(SUM(s) AS BIGINT) AS a, CAST(SUM(1 - s) AS BIGINT) AS b,
         CAST(COALESCE(SUM(nr), 0) AS BIGINT) AS r
  FROM seq
)
SELECT med.dtot AS n_days, med.med AS median, a AS n_above, b AS n_below, r AS n_runs,
       CASE WHEN a > 0 AND b > 0 THEN
         CAST(((CAST(a AS HUGEINT) + b + 2 * CAST(a AS HUGEINT) * b) * 2000000 + (a + b))
              // (CAST(a + b AS HUGEINT) * 2) AS BIGINT) END AS mu_e6,
       CASE WHEN a > 0 AND b > 0
             AND 2 * CAST(a AS HUGEINT) * b * (2 * CAST(a AS HUGEINT) * b - a - b) > 0 THEN
         ROUND(CAST(CAST(r AS HUGEINT) * (a + b) - (a + b) - 2 * CAST(a AS HUGEINT) * b AS DOUBLE)
               * sqrt(CAST(a + b - 1 AS DOUBLE))
               / sqrt(CAST(2 * CAST(a AS HUGEINT) * b
                           * (2 * CAST(a AS HUGEINT) * b - a - b) AS DOUBLE)), 6)
       END AS z
FROM agg CROSS JOIN med
"""

# CROSS-ENGINE SHAPE CAVEAT (the MANN_KENDALL_SQL precedent): on an
# empty/all-NULL events table this SQL emits one row of NULLs while the
# Spark side emits one row whose n_days/median come from an empty
# broadcast (also NULL) — both engines agree on the degenerate row, and
# fixtures always carry events, so the branch is never exercised.

PL_TOPK_MASS_SQL = r"""
WITH tok AS (
  SELECT t FROM (
    SELECT unnest(string_split_regex(LOWER(TRIM(text)), '\s+')) AS t FROM documents
  ) WHERE t <> ''
), counts AS (
  SELECT t, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY 1
), tot AS (SELECT CAST(SUM(tf) AS BIGINT) AS total FROM counts),
ranked AS (
  SELECT tf, ROW_NUMBER() OVER (ORDER BY tf DESC, t ASC) AS rn FROM counts
  QUALIFY rn <= 1000
), ks AS (SELECT * FROM (VALUES (10), (100), (1000)) AS v(k))
SELECT CAST(k AS BIGINT) AS k,
       CAST(SUM(CASE WHEN rn <= k THEN 1 ELSE 0 END) AS BIGINT) AS n_top_types,
       CAST(SUM(CASE WHEN rn <= k THEN tf ELSE 0 END) AS BIGINT) AS covered_tokens,
       CAST((SUM(CASE WHEN rn <= k THEN CAST(tf AS HUGEINT) ELSE 0 END) * 2000000 + total)
            // (CAST(total AS HUGEINT) * 2) AS BIGINT) AS coverage_e6
FROM ks CROSS JOIN ranked CROSS JOIN tot
GROUP BY k, total ORDER BY k
"""


def _case(name):
    import __spark_entry__ as entrymod
    from pyspark.sql import functions as F

    from spatialdata_spark.operators.temporal import runs_test_daily
    from spatialdata_spark.pipeline.classify import mcnemar_test
    from spatialdata_spark.pipeline.textstats import topk_mass

    def mcnemar_frame(spark, sf):
        docs = spark.read.parquet(f"{sf}/documents.parquet")
        return mcnemar_test(
            docs.select(
                (F.col("lang") == "en").cast("int").alias("label"),
                (F.col("n_chars") >= 500).cast("int").alias("pred_a"),
                (
                    F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+")) >= 100
                ).cast("int").alias("pred_b"),
            )
        )

    return {
        "mcnemar": (mcnemar_frame, MCNEMAR_SQL),
        "runs_test": (
            lambda spark, sf: runs_test_daily(
                spark.read.parquet(f"{sf}/events.parquet")
            ),
            ST_RUNS_SQL,
        ),
        "topk_mass": (
            lambda spark, sf: topk_mass(
                spark.read.parquet(f"{sf}/documents.parquet")
            ),
            PL_TOPK_MASS_SQL,
        ),
        "order_size_hist": (
            entrymod.q_order_size_hist,
            entrymod.Q_ORDER_SIZE_HIST_SQL,
        ),
    }[name]
