"""Pinned regression for the LIVE re-scan audit (r12 verdict #8 → r13):
no registry query may scan any parquet input >= 3 times AT RUNTIME
without an explicit justification entry here.

Why runtime and not plan text: the compiled plan over-reports in two
ways the audit walker credits (tools/rescan_audit.py docstring) —
AQE stage reuse materializes canonically-identical exchange subtrees
once even when the initial plan repeats them (ag_points_by_boxes:
3 compile-time scans per input, 1 runtime), and a persisted subtree
executes once at cache materialization.  A *genuine* >= 3x pair means
a corpus-sized first aggregation is replayed once per output component
— harmless at local[32] where spare cores hide it, an N x corpus-IO
multiplier at the 1000-executor design point.  The r12/r13 fix batches
took the registry from 41 flagged pairs to ZERO.

The walk executes every registry query once at sf0.001 (the same cost
class as the whole-registry oracle parity gate) and clears the cache
between queries so per-call persists don't leak across rows.

Non-vacuousness pins: a synthetic 3-consumer un-persisted plan must be
flagged; a union of canonically identical aggregations must be credited
as ONE runtime scan (the AQE-reuse case); a persisted 3-consumer plan
must report zero extra scans.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.rescan_audit import _live_scans  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"

# {(query, input_basename): rationale} — justified survivors only; an
# entry here must cite the in-code comment carrying the same rationale
# (the aggregate.py quantized-projection precedent).  Currently EMPTY:
# the r13 batch cleared the whole queue.
JUSTIFIED: dict[tuple[str, str], str] = {}


def test_registry_runtime_rescans(spark):
    """Parallelized WITHOUT weakening the audit's cache isolation (r15
    suite-runtime fix).  The isolation requirement: no query may plan
    against a cache entry another query registered — CacheManager
    substitutes ANY canonically-matching subtree at planning time, so
    even cross-family queries can silently satisfy a scan from a
    sibling's persist (ag_zonal_image's persisted aggregate is exactly
    the subtree under _img_long, which every rt_*/rv_* query compiles).
    Scheme: construct each query serially (so every persist a
    construction registers is attributed to that query) and watch
    CacheManager —

    * a construction that REGISTERS a persist runs solo immediately and
      the cache is cleared, exactly the old per-query semantics;
    * non-persisting queries accumulate and execute concurrently
      against a PROVABLY EMPTY CacheManager (asserted) — also exactly
      the old semantics, since their own runs create no entries.

    Every persist in this codebase is a construction-time call, so the
    empty-cache invariant holds through each concurrent batch.  Only
    the non-persisting subset parallelizes (persisters keep their solo
    runs by construction), so the win is bounded — measured ~5 min,
    comparable to serial; the value of this scheme is that the
    ISOLATION IS ASSERTED rather than assumed, where the earlier
    family-wave draft demonstrably under-counted (a persisted aggregate
    is a canonical subtree of other families' plans and CacheManager
    substitutes it at planning time)."""
    from concurrent.futures import ThreadPoolExecutor

    import __spark_entry__ as em

    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    flagged = []
    batch: list = []

    def audit(name, counts):
        for base, c in sorted(counts.items()):
            if c >= 3 and (name, base) not in JUSTIFIED:
                flagged.append((name, base, c))

    def flush():
        if not batch:
            return
        assert cache_mgr.isEmpty(), "cache must be empty before a concurrent batch"
        with ThreadPoolExecutor(max_workers=8) as pool:
            for name, counts in pool.map(lambda nd: (nd[0], _live_scans(nd[1])), batch):
                audit(name, counts)
        batch.clear()
        spark.catalog.clearCache()

    for name, fn in sorted(em.queries().items()):
        df = fn(spark, SF_DIR)
        if not cache_mgr.isEmpty():
            # this construction persisted something: isolate its run
            audit(name, _live_scans(df))
            spark.catalog.clearCache()
        else:
            batch.append((name, df))
            if len(batch) >= 64:
                flush()
    flush()
    assert not flagged, (
        "runtime re-scans >= 3x without a JUSTIFIED entry (persist the "
        f"shared first aggregation or justify in-code + here): {flagged}"
    )


def test_walker_flags_unpersisted_three_consumer_plan(spark):
    """Non-vacuousness: three consumers of one un-persisted NARROW
    shared subtree (a projection — no exchange below the divergence
    point, so AQE stage reuse has nothing to merge and each union
    branch replays the scan).  This is exactly the flagged production
    class: consumers diverging below any exchange boundary."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    per = docs.select("source", F.length("text").alias("L"))
    a = per.agg(F.sum("L").alias("v"))
    b = per.filter(F.col("L") > 10).agg(F.count(F.lit(1)).alias("v"))
    c = per.agg(F.max("L").alias("v"))
    out = a.unionByName(b).unionByName(c)
    counts = _live_scans(out)
    assert counts.get("documents.parquet", 0) >= 3, counts


def test_walker_credits_aqe_stage_reuse(spark):
    """A union of canonically IDENTICAL branches materializes its
    shuffle stage once — the walker must not over-count it."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    per = docs.groupBy("source").agg(F.count(F.lit(1)).alias("c"))
    out = per.unionByName(per).unionByName(per)
    counts = _live_scans(out)
    assert counts.get("documents.parquet", 0) == 1, counts


def test_walker_credits_persisted_subtree(spark):
    """The three-consumer shape from the first pin, persisted: every
    consumer reads the cache, so no file scan is counted per-consumer
    (the materialization scan is deliberately un-counted — the r12
    InMemoryTableScan convention)."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    per = docs.groupBy("source").agg(F.count(F.lit(1)).alias("c")).persist()
    try:
        a = per.agg(F.sum("c").alias("v"))
        b = per.filter(F.col("c") > 1).agg(F.count(F.lit(1)).alias("v"))
        c = per.agg(F.max("c").alias("v"))
        out = a.unionByName(b).unionByName(c)
        counts = _live_scans(out)
        assert counts.get("documents.parquet", 0) == 0, counts
    finally:
        per.unpersist()
