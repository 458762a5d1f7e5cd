"""Deduplication operators for large-scale document pipelines.

Beyond-reference scope (BASELINE.json north star): exact dedup,
MinHash+LSH near-dup, SimHash, n-gram Jaccard verification.

Scale design:

* exact_dedup — hash-groupBy; one shuffle on the 128-bit digest, never
  on the document text (project the digest first, then group).
* minhash_band_candidates — shingle → 31-bit hashes → k minhashes
  (Arrow-batched numpy, one pass) → band slices → self-join per band.
  The join is an equi-join on (band, slice): candidate pairs only, no n².
  Bucket skew (boilerplate docs) is the known hazard — AQE skew-join
  plus an optional bucket-size cap handle it.
* simhash — 62-bit fingerprint; near-dup = Hamming distance ≤ k via
  bit_count(xor) on candidate pairs from 4-way table split (each
  16-bit block equal in at least one block if distance ≤ 3).
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.storagelevel import StorageLevel

from spatialdata_spark import session

_MERSENNE = (1 << 61) - 1


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical documents: ``(keep_id, digest, n_dups)``.

    The canonical representative is the minimum id (deterministic).
    """
    return (
        docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("digest"))
        .groupBy("digest")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def _hash_params(num_hashes: int, seed: int = 42) -> tuple[np.ndarray, np.ndarray]:
    """Universal-hash params sized so that a*h+b stays inside int64:
    a < 2^31, shingle hashes < 2^31, so a*h + b < 2^62 + 2^61 < 2^63."""
    rng = np.random.default_rng(seed)
    a = rng.integers(1, 1 << 31, size=num_hashes, dtype=np.int64)
    b = rng.integers(0, _MERSENNE - 1, size=num_hashes, dtype=np.int64)
    return a, b


def connected_components(
    edges: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iterations: int = 25,
) -> DataFrame:
    """Connected components of an undirected edge list via alternating
    large-star / small-star rounds (the MapReduce CC algorithm of
    Kiveris et al., "Connected Components in MapReduce and Beyond" —
    public algorithm).  Returns ``(node, component)`` where component is
    the minimum node id of the component; singleton nodes that appear in
    no edge are absent (they are their own component).

    Each round is two shuffles on the node key; convergence is
    O(log n) rounds, so web-scale near-dup graphs finish in a handful
    of passes.  Every round materializes (persist + count) so the loop
    has a real convergence check and bounded lineage.
    """
    # canonical parent edges (large endpoint -> small endpoint), no loops.
    # localCheckpoint (not persist): each round builds on the previous
    # round's result, and without lineage truncation the logical plan
    # doubles every iteration until plan rendering alone exhausts the
    # driver heap.  On a cluster, plain checkpoint() to reliable storage
    # is the fault-tolerant variant of the same move.
    e = (
        edges.select(
            F.greatest(F.col(a_col), F.col(b_col)).alias("u"),
            F.least(F.col(a_col), F.col(b_col)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    converged = False
    for _ in range(max_iterations):
        # -- large-star: attach every strictly-larger neighbor of n to
        # the minimum of N(n) ∪ {n} (operates on the symmetrized graph)
        sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
        mins = mins.select("u", F.least("mn", "u").alias("m"))
        ls = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # -- small-star: attach every neighbor <= n (and n itself) to the
        # minimum of the small neighborhood (operates on canonical edges)
        mins2 = ls.groupBy("u").agg(F.min("v").alias("m"))
        ss = (
            ls.join(mins2, "u")
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .unionByName(ls.join(mins2, "u").select(F.col("u").alias("a"), F.col("m").alias("b")))
            .select(
                F.greatest(F.col("a"), F.col("b")).alias("u"),
                F.least(F.col("a"), F.col("b")).alias("v"),
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint()
        )
        # convergence: the edge multiset is stable (same count and same
        # content — checked with an order-independent checksum)
        chk = F.expr("bit_xor(xxhash64(u, v))").alias("chk")  # order-independent, overflow-free (edges are distinct)
        stats_new = ss.agg(F.count(F.lit(1)).alias("n"), chk).first()
        stats_old = e.agg(F.count(F.lit(1)).alias("n"), chk).first()
        e = ss
        if stats_new["n"] == stats_old["n"] and stats_new["chk"] == stats_old["chk"]:
            converged = True
            break
    if not converged:
        # without a fixpoint the "every edge points at the root"
        # invariant below does not hold — labels would silently be
        # wrong, so fail loudly instead
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "rounds; raise max_iterations (expected rounds ~ O(log n))"
        )
    # at the fixpoint every edge points directly at the component root
    out = e.select(F.col("u").alias("node"), F.col("v").alias("component")).unionByName(
        e.select(F.col("v").alias("node"), F.col("v").alias("component"))
    ).distinct()
    # a root also appears as a non-root member of nothing; keep min per node
    return out.groupBy("node").agg(F.min("component").alias("component"))


def ngram_jaccard_join(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.2,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Exact word-n-gram Jaccard similarity for every doc pair sharing at
    least one shingle — entirely JVM-side (no Python UDF).

    Plan: tokenize with built-in ``split``/``filter``, build distinct
    n-gram shingles with ``transform(sequence(...))``, explode, self-join
    on the shingle string, count intersections per pair, then
    ``jaccard = |A∩B| / (|A| + |B| - |A∩B|)``.  Pairs below ``threshold``
    are dropped; pairs with an empty intersection never materialize, so
    the work is proportional to shared-shingle co-occurrence, not n².

    Scale notes: the self-join shuffles on the shingle value; boilerplate
    shingles (headers, licenses) are the skew hazard at 100 TB — pass
    ``max_shingle_freq`` to drop shingles shared by more than that many
    documents before the join (standard in large-scale dedup; documented
    approximation, exact when None).  Shingle strings could be hashed to
    64-bit with ``xxhash64`` to shrink shuffle width at scale.

    Reference analog: this is the exact verification counterpart of the
    reference-free MinHash path (see ``minhash_band_candidates``).
    """
    spark = docs.sparkSession
    if session.single_host(spark):
        # single-row-group local inputs scan as one task; the shingle
        # HOF expression below is the heavy stage, so spread it first
        docs = docs.repartition(spark.sparkContext.defaultParallelism)
    # Plan construction consolidated into two spark.sql parses (r15,
    # guide §5-driver): the former Column-op chain cost ~350 py4j round
    # trips ≈ 0.1 s of driver time per action.  The SQL reproduces the
    # exact same expressions (split/filter tokenizer, sequence+transform
    # shingler with the chr(30) separator, CASE fallback, double-cast
    # Jaccard), so the physical plan and every result bit are unchanged.
    # The parses bind their inputs as arguments, and spark.sql drops
    # each bound view after analysis, uncaching any cached plan it
    # matches: neither the caller's docs nor the persisted shingle
    # table is bound as it is, only projections computed from them.
    sep = "\x1e"
    words = docs.selectExpr(
        f"`{id_col}` AS _id", f"filter(split(`{text_col}`, '\\\\s+'), x -> x != '') AS _w"
    )
    grams = ", ".join(f"element_at(_w, i + {j + 1})" for j in range(n))
    # materialization barrier: the interpreted HOF shingle expression is
    # consumed by four branches (a, b, and both size lookups); without
    # the persist Catalyst inlines it into every scan AND its pushed
    # filters, evaluating it ~10x per document
    doc_sh = spark.sql(
        f"""
SELECT _id,
       CASE WHEN size(_w) >= {n}
            THEN array_distinct(transform(sequence(0, size(_w) - {n}),
                                          i -> concat_ws('{sep}', {grams})))
            ELSE CAST(array() AS array<string>) END AS _sh
FROM {{words}}""",
        words=words,
    ).persist()
    if max_shingle_freq is not None:
        exploded_cte = f"""
  SELECT e._id, e.g FROM {{shingles}} e
  LEFT SEMI JOIN (SELECT g FROM {{shingles}}
                  GROUP BY g HAVING COUNT(1) <= {int(max_shingle_freq)}) k
  ON e.g = k.g"""
    else:
        exploded_cte = "SELECT * FROM {shingles}"
    return spark.sql(
        f"""
WITH exploded AS ({exploded_cte}),
inter AS (
  SELECT a._id AS id_a, b._id AS id_b, COUNT(1) AS n_inter
  FROM exploded a JOIN exploded b ON a.g = b.g
  WHERE a._id < b._id
  GROUP BY a._id, b._id
),
sizes AS (SELECT * FROM {{sizes}})
SELECT id_a, id_b, jaccard
FROM (
  SELECT inter.id_a, inter.id_b,
         (CAST(inter.n_inter AS DOUBLE) / ((sa.n_sh + sb.n_sh) - inter.n_inter)) AS jaccard
  -- per-doc sizes: not broadcast — unbounded at scale; AQE picks BHJ when small
  FROM inter JOIN sizes sa ON inter.id_a = sa._id
             JOIN sizes sb ON inter.id_b = sb._id
)
WHERE jaccard >= {threshold!r}D""",
        shingles=doc_sh.selectExpr("_id", "explode(_sh) AS g"),
        sizes=doc_sh.selectExpr("_id", "size(_sh) AS n_sh"),
    )


def ngram_containment_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    tau_pct: int = 50,
    max_gram_df: int = 100,
) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT |A∩B| / |A|: the subset/quote
    detector Jaccard misses when sizes differ (a paragraph fully
    copied into a 100x larger page has tiny Jaccard but containment
    ~1 from the paragraph's side — Broder's "containment" resemblance
    complement).  Emits ordered pairs ``(id_a, id_b)`` where at least
    ``tau_pct`` percent of A's distinct word-n-grams also occur in B
    (both directions of a pair appear when both qualify).

    Exactness: the threshold test is the integer cross-multiplication
    ``100 * shared >= tau_pct * n_grams_a`` — no division, replays
    bit-exactly in SQL.

    Scale shape: pair generation is an equi-join ON THE GRAM, and
    grams with document frequency > ``max_gram_df`` are dropped first
    (stated contract, same df-cap as ``tfidf_cosine_pairs`` — a
    corpus-boilerplate gram would pair everything with everything:
    quadratic AND meaningless), so join blocks are df-bounded, never
    corpus².  Sizes are computed BEFORE the cap so containment keeps
    its exact denominator.  Output:
    ``(id_a, id_b, n_shared, n_grams_a)``.
    """
    spark = docs.sparkSession
    if session.single_host(spark):
        docs = docs.repartition(spark.sparkContext.defaultParallelism)
    words = F.filter(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"), lambda x: x != "")
    doc_sh = docs.select(F.col(id_col).alias("_id"), words.alias("_w")).select(
        "_id",
        F.when(
            F.size("_w") >= n,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.size("_w") - n),
                    lambda i: F.concat_ws(" ", *[F.element_at("_w", i + j + 1) for j in range(n)]),
                )
            ),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("_sh"),
    )
    # same materialization barrier as ngram_jaccard_join: the shingle
    # HOF feeds the explode AND the size lookup
    doc_sh = doc_sh.persist()
    sizes = doc_sh.select("_id", F.size("_sh").cast("long").alias("n_grams"))
    exploded = doc_sh.select("_id", F.explode("_sh").alias("g"))
    keep = (
        exploded.groupBy("g")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") <= int(max_gram_df))
        .select("g")
    )
    capped = exploded.join(keep, "g", "left_semi")
    a = capped.select(F.col("_id").alias("id_a"), "g")
    b = capped.select(F.col("_id").alias("id_b"), "g")
    shared = (
        a.join(b, "g")
        .filter(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    sa = sizes.select(F.col("_id").alias("id_a"), F.col("n_grams").alias("n_grams_a"))
    return (
        shared.join(sa, "id_a")  # per-doc sizes: AQE picks BHJ when small
        .filter(F.lit(100) * F.col("n_shared") >= F.lit(int(tau_pct)) * F.col("n_grams_a"))
        .select("id_a", "id_b", "n_shared", "n_grams_a")
    )


def simhash_near_duplicates(fps: DataFrame, max_hamming: int = 3, id_col: str = "doc_id") -> DataFrame:
    """Near-dup pairs by Hamming distance via 4-block LSH: if dist<=3,
    at least one 16-bit block matches exactly — equi-join per block."""
    def _mask(i: int) -> int:
        m = 0xFFFF << (16 * i)
        return m - (1 << 64) if m >= (1 << 63) else m  # signed int64 literal

    blocks = fps.select(
        F.col(id_col),
        F.col("simhash"),
        F.posexplode(
            F.array(*[((F.col("simhash").bitwiseAND(F.lit(_mask(i)))).alias(f"b{i}")) for i in range(4)])
        ).alias("block_idx", "block_val"),
    )
    l, r = blocks.alias("l"), blocks.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.block_idx") == F.col("r.block_idx"))
            & (F.col("l.block_val") == F.col("r.block_val"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.bit_count(F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))).alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return cand.filter(F.col("hamming") <= max_hamming)


# ---------------------------------------------------------------------------
# Expression-only (no-UDF) minhash / simhash family.
#
# These variants compute the shingle hashes with 31-bit polynomial
# rolling hashes over character code points, entirely in Catalyst
# integer expressions: every intermediate fits in int64 without
# wraparound (h < 2^31, base < 2^20 -> h*B + cp < 2^52; a*h + b <
# 2^62 + 2^61 < 2^63), so they are safe under ANSI arithmetic and —
# because the math is plain integer +,*,% — bit-for-bit reproducible by
# any SQL engine, which is what makes an exact DuckDB oracle possible.
# ---------------------------------------------------------------------------

#: two independent 31-bit polynomial hash channels (base, modulus);
#: moduli are primes < 2^31 so a*h+b below stays inside int64
_H31 = ((1000003, 2147483647), (999979, 2147483629))


def _padded_text(text_col: str, k: int):
    """Documents shorter than the shingle width are right-padded with
    spaces to exactly k chars, as :func:`_shingle31_np` does (rpad
    alone would truncate longer docs)."""
    c = F.col(text_col)
    return F.when(F.length(c) < k, F.rpad(c, k, " ")).otherwise(c)


def _shingle31_expr(text_col: str, k: int, channel: int = 0):
    """array<long> of the 31-bit rolling-polynomial hashes of every
    char-k-shingle: h_i = sum_j cp(i+j) * B^(k-1-j) mod P.

    The code points are materialized once per document with
    ``split(t, '')`` + ``ascii`` — ``substr(i, 1)`` per shingle
    position would rescan the string from the start each time
    (O(len^2 * k) character work per document); array indexing keeps
    the whole expression linear in ``len * k``."""
    B, P = _H31[channel]
    t = _padded_text(text_col, k)
    cps = F.transform(F.split(t, ""), lambda c: F.ascii(c).cast("long"))
    # precomputed B^j mod P turns the Horner chain (k sequential
    # mul+add+mod steps) into a k-term dot product with ONE trailing
    # mod: cp <= 0x10FFFF and B^j mod P < 2^31, so the running sum
    # stays under k * 2^52 — no 64-bit overflow, and the modular value
    # is identical to the iterated form (what the DuckDB oracle replays)
    pw = [pow(B, k - 1 - j, P) for j in range(k)]

    def _sh(cp_arr):
        def _h(i):
            s = F.lit(0).cast("long")
            for j in range(k):
                s = s + F.element_at(cp_arr, i + F.lit(j)) * F.lit(pw[j])
            return s % F.lit(P)

        return F.transform(F.sequence(F.lit(1), F.size(cp_arr) - F.lit(k - 1)), _h)

    # bind the code-point array once via a single-element transform so
    # it is not re-evaluated per shingle position
    return F.element_at(F.transform(F.array(cps), _sh), 1)


def _shingle31_np(text: str, k: int, channel: int = 0) -> np.ndarray:
    """Vectorized numpy replica of :func:`_shingle31_expr` — verified
    element-for-element identical (code points via utf-32, space
    padding, same dot-product-mod form), so results computed here stay
    replayable by the same ANSI-SQL oracle."""
    B, P = _H31[channel]
    if len(text) < k:
        text = text + " " * (k - len(text))
    cps = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
    w = np.lib.stride_tricks.sliding_window_view(cps, k)
    pw = np.array([pow(B, k - 1 - j, P) for j in range(k)], dtype=np.int64)
    return (w @ pw) % P


@lru_cache(maxsize=64)
def _minhash_sig_udf(num_hashes: int, shingle_k: int, seed: int):
    """Keyed factory for the signature kernel: the pandas_udf captures
    the (num_hashes, seed)-derived hash parameters in its closure, so a
    plain module singleton can't replace it — the lru_cache pays the
    pickle + registration (~4 ms: median of 60 builds against a reused
    UDF, 4 cores) once per parameter set per process instead of per
    plan construction."""
    a, b = _hash_params(num_hashes, seed)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _sig(texts):
        import pandas as pd

        # whole-batch vectorization: concatenate every document's
        # shingle-hash vector once, then each hash channel is one
        # (mul, add, reduce) sweep + a per-document minimum via
        # minimum.reduceat — no per-document python loop in the hot part
        hs = [_shingle31_np(t or "", shingle_k) for t in texts]
        if not hs:
            return pd.Series([])
        bounds = np.zeros(len(hs), dtype=np.int64)
        np.cumsum([len(h) for h in hs[:-1]], out=bounds[1:])
        h31 = np.concatenate(hs) if len(hs) > 1 else hs[0]
        sigs = np.empty((len(a), len(hs)), dtype=np.int64)
        for m in range(len(a)):
            # exact Mersenne reduction of a*h+b (< 2^63) mod 2^61-1:
            # mask+shift+conditional-subtract replaces the int64 divide
            x = a[m] * h31 + b[m]
            x = (x & _MERSENNE) + (x >> 61)
            x -= (x >= _MERSENNE) * _MERSENNE
            sigs[m] = np.minimum.reduceat(x, bounds)
        return pd.Series(list(sigs.T))

    return _sig


def minhash_band_candidates(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    num_bands: int = 8,
    shingle_k: int = 5,
    seed: int = 42,
) -> DataFrame:
    """LSH band candidates ``(id_a, id_b, n_bands)`` — bit-identical to
    :func:`minhash_band_candidates_sql` (same 31-bit polynomial shingle
    hashes, same universal-hash minima, same band join), with the
    signature computed in one vectorized numpy pass per document inside
    an Arrow batch instead of a Catalyst HOF expression.  This is the
    default path: ~4x the expression path's throughput at the cost of
    one well-audited Python boundary; the ``_sql`` twin exists for
    pure-expression plans and both replay against the same oracle.
    """
    rows_per_band = max(1, num_hashes // num_bands)
    spark = docs.sparkSession
    local = session.single_host(spark)
    # project to the two columns the signature needs BEFORE any shuffle:
    # the repartition (and on a cluster, the scan itself) then moves only
    # (id, text), never the documents table's other columns
    docs = docs.select(F.col(id_col), F.col(text_col))
    if local:
        docs = docs.repartition(spark.sparkContext.defaultParallelism)

    minh = docs.select(
        F.col(id_col), _minhash_sig_udf(num_hashes, shingle_k, seed)(F.col(text_col)).alias("sig")
    )
    # Plan construction is CONSOLIDATED to one spark.sql parse below the
    # signature step (r15, guide §5-driver): the band-slice Column chain
    # + self-join + groupBy cost ~245 py4j round trips ≈ 0.1-0.4 s of
    # driver time per action; the SQL reproduces the identical
    # expressions (same slice offsets, same join conjuncts, same
    # aggregate) so the physical plan is unchanged.
    iq = f"`{id_col}`"
    slices = ", ".join(
        f"slice(sig, {i * rows_per_band + 1}, {rows_per_band})"
        for i in range(num_hashes // rows_per_band)
    )
    # The parses bind the signature table, which computes a column and
    # so matches no cache entry; spark.sql drops each bound view after
    # analysis, uncaching any cached plan it matches, so the persisted
    # band table is never bound itself: the self-join re-derives both
    # sides from the same text, and the cache manager substitutes the
    # persisted copy.
    bands_sql = (
        f"SELECT {iq}, t.band, t.sig FROM {{minh}} "
        f"LATERAL VIEW posexplode(array({slices})) t AS band, sig"
    )
    # persist the band table: the self-join consumes it twice (build +
    # stream side), and without a persist each side re-runs the whole
    # signature UDF.  This is the standard LSH shape at any scale — the
    # cached rows are (id, band, sig) triples, ~200 bytes/doc, far below
    # the text they index, and MEMORY_AND_DISK spills instead of OOMing
    # on a cluster.  Spark's LRU eviction reclaims it after the query.
    spark.sql(bands_sql, minh=minh).persist(StorageLevel.MEMORY_AND_DISK)
    bhint = "/*+ BROADCAST(r) */ " if local else ""
    return spark.sql(
        f"SELECT {bhint}l.{iq} AS id_a, r.{iq} AS id_b, COUNT(1) AS n_bands\n"
        f"FROM ({bands_sql}) l JOIN ({bands_sql}) r\n"
        f"  ON l.band = r.band AND l.sig = r.sig AND l.{iq} < r.{iq}\n"
        f"GROUP BY l.{iq}, r.{iq}",
        minh=minh,
    )


def minhash_band_candidates_sql(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    num_bands: int = 8,
    shingle_k: int = 5,
    seed: int = 42,
) -> DataFrame:
    """LSH band candidates ``(id_a, id_b, n_bands)`` with **no Python
    anywhere in the plan** — the expression-parity twin of
    :func:`minhash_band_candidates`.

    Relational shape: shingle-hash explode → broadcast cross join with
    the (num_hashes) universal-hash params → per-(doc, hash) min →
    per-(doc, band) ordered signature slice → self-equi-join on
    (band, slice).  Joining on the slice *values* (not a re-hash of
    them) keeps the whole pipeline reproducible in ANSI SQL.  Three
    shuffles, all on doc-sized keys; band skew is bounded because a
    bucket is a full 4-minima match.
    """
    rows_per_band = max(1, num_hashes // num_bands)
    a, b = _hash_params(num_hashes, seed)
    spark = docs.sparkSession
    if session.single_host(spark):
        # single-row-group local inputs scan as one task; the shingle
        # expression is the heavy stage, so spread it first
        docs = docs.repartition(spark.sparkContext.defaultParallelism)
    sh = docs.select(F.col(id_col), F.explode(_shingle31_expr(text_col, shingle_k)).alias("h"))
    # All num_hashes minima as *wide aggregation columns* over the
    # shingle rows: map-side combinable, so the only shuffle carries one
    # num_hashes-wide row per document — versus a params cross join,
    # which multiplies the shingle rows by num_hashes before the
    # aggregate and dominates the runtime at scale.
    aggs = [
        F.min((F.col("h") * F.lit(int(a[m])) + F.lit(int(b[m]))) % F.lit(_MERSENNE)).alias(f"v{m}")
        for m in range(num_hashes)
    ]
    minh_wide = sh.groupBy(id_col).agg(*aggs)
    band_arrays = F.array(
        *[
            F.array(*[F.col(f"v{i * rows_per_band + j}") for j in range(rows_per_band)])
            for i in range(num_hashes // rows_per_band)
        ]
    )
    bands = minh_wide.select(
        F.col(id_col), F.posexplode(band_arrays).alias("band", "sig")
    )
    l, r = bands.alias("l"), bands.alias("r")
    return (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.sig") == F.col("r.sig"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .groupBy(F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_bands"))
    )


def simhash_signatures_sql(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", shingle_k: int = 4
) -> DataFrame:
    """62-bit SimHash fingerprints ``(doc_id, simhash)`` as pure
    Catalyst expressions.

    Bits 0..30 vote on channel-0 shingle-hash bits, bits 31..61 on
    channel 1; bit b is set when strictly more shingles have it set
    than clear.  The fingerprint stays below 2^62, so the power-of-two
    summation is ANSI-safe, and the 4x16-bit block LSH applies
    unchanged (62 bits split as 16/16/16/14)."""
    sh = docs.select(
        F.col(id_col),
        F.explode(
            F.arrays_zip(
                _shingle31_expr(text_col, shingle_k, 0).alias("h1"),
                _shingle31_expr(text_col, shingle_k, 1).alias("h2"),
            )
        ).alias("z"),
    ).select(id_col, F.col("z.h1").alias("h1"), F.col("z.h2").alias("h2"))
    votes = [
        F.sum(
            F.shiftright(F.col("h1" if bit < 31 else "h2"), bit % 31).bitwiseAND(F.lit(1)) * 2 - 1
        ).alias(f"v{bit}")
        for bit in range(62)
    ]
    fp = None
    for bit in range(62):
        term = F.when(F.col(f"v{bit}") > 0, F.lit(1 << bit)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return sh.groupBy(id_col).agg(*votes).select(F.col(id_col), fp.alias("simhash"))


def exact_dedup_cross(
    corpus: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalize: bool = True,
) -> DataFrame:
    """Cross-corpus exact dedup: drop corpus documents whose
    (optionally whitespace/case-normalized) text also appears in
    ``reference`` — the exact-match complement of n-gram
    decontamination (train/test leakage removal).

    A broadcast anti-join on the md5 digest: only 16-byte digests of
    the (small) reference side move, the corpus text never shuffles.
    """
    def digest(col):
        t = F.col(col)
        if normalize:
            t = F.lower(F.regexp_replace(t, r"\s+", " "))
        return F.md5(t)

    ref_digests = reference.select(digest(text_col).alias("__digest")).distinct()
    return corpus.withColumn("__digest", digest(text_col)).join(
        F.broadcast(ref_digests), "__digest", "left_anti"
    ).drop("__digest")


def levenshtein_neardup(
    docs: DataFrame,
    max_distance: int = 10,
    prefix_chars: int = 60,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
) -> DataFrame:
    """Edit-distance near-duplicate pairs on document prefixes with
    lossless pigeonhole segment blocking (PassJoin, Li/Deng/Feng 2011)
    — the title/short-text dedup everybody runs where shingle methods
    are too coarse.

    Blocking argument (exact, not approximate): each prefix of length
    ``l`` is split into ``k = max_distance + 1`` contiguous segments by
    the even scheme (first ``k - l%k`` segments of length ``l//k``,
    then ``l%k`` of length ``l//k + 1``).  If ``ed(s, r) <= d`` then an
    optimal alignment applies at most ``d`` edits, so at least one of
    the ``d+1`` segments of ``s`` is untouched and therefore occurs in
    ``r`` VERBATIM, at a start shifted by at most the net insertions
    before it — i.e. within ``±d`` of its position in ``s``.  Also
    ``| |s| - |r| | <= d``.  So: the shorter side ``s`` contributes one
    index row per segment keyed ``(lang, |s|, seg_idx, seg_text)``; the
    probing side ``r`` emits, for every candidate indexed length
    ``l ∈ [|r|-d, |r|]`` and every segment index, the substrings of
    ``r`` at starts within the ±d window around that scheme's segment
    start, under the same key.  The equi-join on the key generates
    every qualifying pair at least once (equal lengths are generated
    from both directions and deduplicated).  Block sizes are bounded by
    the frequency of each (length, idx, segment-text) — vocabulary-
    shaped, NOT corpus/constant — so candidate volume scales with the
    n-gram frequency profile, never Σ per-length-block².

    The candidate join is a plain equi-join: on local masters the
    (smaller) index side is broadcast-hinted; on a cluster the hint is
    withheld — both sides scale with the corpus and AQE must pick the
    strategy from runtime stats.  ``levenshtein`` (JVM-side, the same
    function DuckDB ships) refines once per distinct candidate pair.

    Output: ``(id_a, id_b, distance)`` with ``id_a < id_b``.
    """
    d = int(max_distance)
    if d < 0:
        raise ValueError("max_distance must be >= 0")
    k = d + 1
    pre = F.substring(F.col(text_col), 1, prefix_chars)
    # persist: a BOUNDED-width projection (id, lang, <= prefix_chars
    # chars, length — ~70 bytes/doc, NOT the corpus text) consumed by
    # the index build, the probe build, and both refine-side prefix
    # lookups; un-cached, each replayed the full text scan (4 live
    # scans, tools/rescan_audit.py).  PER-CALL ACCUMULATION (the
    # _approx_rank_bins contract): LRU-reclaimed; clearCache()
    # reclaims eagerly.
    base = docs.select(
        F.col(id_col).alias("__id"),
        F.col(lang_col).alias("__lang"),
        pre.alias("__pre"),
        F.length(pre).cast("int").alias("__len"),
    ).persist()

    def seg_geom(l, i):
        # even partition of a length-l string into k segments: lengths
        # and 1-based starts for (python-literal) segment index i
        a = F.floor(l / k).cast("int")
        b = (l % k).cast("int")
        seg_len = a + F.when(F.lit(i) >= F.lit(k) - b, 1).otherwise(0)
        seg_pos = (
            F.lit(1) + F.lit(i) * a + F.greatest(F.lit(0), F.lit(i) - (F.lit(k) - b))
        ).cast("int")
        return seg_pos, seg_len

    # index side: each doc's own segments, keyed by its own length.
    # Only the id rides along — at ~(d+1)^2 emitted rows per probing
    # doc, carrying the 60-char prefix through the candidate join would
    # multiply the shuffled bytes ~1000x; prefixes re-join AFTER the
    # pair dedupe, where only distinct candidate pairs remain.
    idx_segs = []
    for i in range(k):
        p, ln = seg_geom(F.col("__len"), i)
        idx_segs.append(
            F.struct(F.lit(i).alias("i"), F.col("__pre").substr(p, ln).alias("seg"))
        )
    idx = base.select(
        F.col("__lang"),
        F.col("__len").alias("__l"),
        F.col("__id").alias("id_l"),
        F.explode(F.array(*idx_segs)).alias("__s"),
    ).select("__lang", "__l", F.col("__s.i").alias("__i"), F.col("__s.seg").alias("__seg"), "id_l")

    # probe side: for every candidate indexed length l <= |r| within d,
    # every segment index, every start in the ±d shift window
    probe = (
        base.select(
            "__lang", "__id", "__pre", "__len",
            F.explode(
                F.sequence(F.greatest(F.lit(0), F.col("__len") - d), F.col("__len"))
            ).alias("__l"),
        )
        .select(
            "__lang", "__id", "__pre", "__len", "__l",
            F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("__i"),
        )
    )
    # seg geometry for a column-valued segment index
    a = F.floor(F.col("__l") / k).cast("int")
    b = (F.col("__l") % k).cast("int")
    l_i = a + F.when(F.col("__i") >= F.lit(k) - b, 1).otherwise(0)
    p_i = (
        F.lit(1) + F.col("__i") * a + F.greatest(F.lit(0), F.col("__i") - (F.lit(k) - b))
    ).cast("int")
    # shift bound tightened by the length difference Δ = |r| - l: with
    # #ins - #del = Δ and #ins + #del <= d, an untouched segment's
    # start in r moves by at most ⌊(d-Δ)/2⌋ left / ⌊(d+Δ)/2⌋ right —
    # about half the naive ±d window, still lossless
    delta = F.col("__len") - F.col("__l")
    q_lo = F.greatest(F.lit(1), p_i - F.floor((d - delta) / 2).cast("int"))
    q_hi = F.when(l_i == 0, q_lo).otherwise(
        F.least(
            F.col("__len") - l_i + 1,
            p_i + F.floor((d + delta) / 2).cast("int"),
        )
    )
    probe = probe.withColumn("__li", l_i).select(
        "__lang", "__l", "__i",
        F.col("__id").alias("id_r"), F.col("__pre").alias("pre_r"),
        F.explode(F.sequence(q_lo, q_hi)).alias("__q"),
        "__li",
    ).select(
        "__lang", "__l", "__i",
        F.col("pre_r").substr(F.col("__q"), F.col("__li")).alias("__seg"),
        "id_r",
    )

    local = session.single_host(docs.sparkSession)
    if local:
        idx = F.broadcast(idx)
    pair_ids = (
        idx.join(probe, ["__lang", "__l", "__i", "__seg"])
        .filter(F.col("id_l") != F.col("id_r"))
        .select(
            F.least("id_l", "id_r").alias("id_a"),
            F.greatest("id_l", "id_r").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    pre_a = base.select(F.col("__id").alias("id_a"), F.col("__pre").alias("__pre_a"))
    pre_b = base.select(F.col("__id").alias("id_b"), F.col("__pre").alias("__pre_b"))
    if local:
        pre_a, pre_b = F.broadcast(pre_a), F.broadcast(pre_b)
    pairs = (
        pair_ids.join(pre_a, "id_a")
        .join(pre_b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.levenshtein("__pre_a", "__pre_b").alias("distance"),
        )
        .filter(F.col("distance") <= d)
    )
    return pairs


def dedup_keep_best(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    num_bands: int = 8,
) -> DataFrame:
    """Materialize MinHash near-dup clusters into a KEEP decision: one
    representative per connected component — the longest text, smallest
    id on ties (the stand-in for "highest quality"); documents in no
    cluster keep themselves.  This is the step that turns candidate
    pairs into an actual deduplicated corpus.

    Plan: LSH band candidates -> large-star/small-star connected
    components (both existing, checkpointed); the (node, component)
    labels — near-dup-population-sized, far smaller than the corpus —
    join back broadcast-gated; the representative falls out of ONE
    aggregation via a lexicographic struct max (length, -id), with
    map-side partial combine, not a per-component sort.

    Output: ``(component, keep_id, cluster_size)``, one row per
    cluster (singletons included, ``cluster_size = 1``).
    """
    cand = minhash_band_candidates(
        docs, text_col=text_col, id_col=id_col,
        num_hashes=num_hashes, num_bands=num_bands,
    )
    comp = connected_components(cand, "id_a", "id_b")
    spark = docs.sparkSession
    if session.single_host(spark):
        comp = F.broadcast(comp)
    labeled = (
        docs.select(F.col(id_col), F.length(F.col(text_col)).alias("__len"))
        .join(comp, F.col(id_col) == F.col("node"), "left")
        .select(
            F.coalesce(F.col("component"), F.col(id_col)).alias("component"),
            F.col(id_col),
            "__len",
        )
    )
    best = labeled.groupBy("component").agg(
        F.max(
            F.struct(
                F.col("__len").alias("l"),
                (-F.col(id_col)).alias("negid"),
                F.col(id_col).alias("keep"),
            )
        ).alias("__b"),
        F.count(F.lit(1)).alias("cluster_size"),
    )
    return best.select(
        "component", F.col("__b.keep").alias("keep_id"), "cluster_size"
    )


def duplicate_spans(
    docs: DataFrame,
    gram_chars: int = 25,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Duplicated-substring span detection — the corpus-level "exact
    substring dedup" primitive (Lee et al., "Deduplicating Training
    Data Makes Language Models Better"): find every maximal region of
    every document whose ``gram_chars``-grams also occur elsewhere in
    the corpus (or again in the same document), the spans that exact
    substring dedup would cut.

    Distributed shape (the suffix-array of the paper is single-node;
    the standard cluster form is gram-hash bucketing): every char
    position emits one 62-bit rolling-hash (two independent 31-bit
    polynomial channels combined — the SQL-replayable shingle machinery
    of the MinHash path, so the oracle is value-exact); hashes seen
    more than once form a vocabulary-sized set joined back; a
    per-document window merges surviving positions whose gram
    intervals overlap into maximal spans.  Work is linear in
    corpus characters, the window is keyed by document (no hotspot).

    Output: ``(doc_id, span_start, span_len, n_grams)`` with 1-based
    ``span_start``; ``n_grams`` = duplicated gram positions inside the
    span.  Hash collisions (~2^-62 per pair) could in principle mark a
    false span — the oracle replays identical hashes, so parity is
    exact either way.
    """
    from pyspark.sql.window import Window

    k = int(gram_chars)
    p2 = _H31[1][1]

    # the two-channel hash via the vectorized numpy replica of
    # _shingle31_expr (verified element-identical, same SQL oracle):
    # the expression form's per-position 25-term HOF dot product costs
    # ~10 s of interpreted-eval/codegen overhead at any input size
    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _gram_hashes(texts):
        import pandas as pd

        # ndarrays go straight through Arrow — no per-element boxing
        return pd.Series(
            [
                _shingle31_np(t or "", k, 0) * p2 + _shingle31_np(t or "", k, 1)
                for t in texts
            ]
        )

    spark = docs.sparkSession
    if session.single_host(spark):
        # single-row-group local inputs scan as one task; spread the
        # Arrow kernel first (same contract as minhash)
        docs = docs.repartition(spark.sparkContext.defaultParallelism)
    grams = docs.select(
        F.col(id_col),
        F.posexplode(_gram_hashes(F.col(text_col))).alias("__p0", "__h"),
    ).select(id_col, (F.col("__p0") + 1).alias("__pos"), "__h")
    dup = grams.groupBy("__h").agg(F.count(F.lit(1)).alias("__n")).filter(
        F.col("__n") > 1
    ).select("__h")
    marked = grams.join(dup, "__h").select(id_col, "__pos")
    w = Window.partitionBy(id_col).orderBy("__pos")
    spans = (
        marked.withColumn("__prev", F.lag("__pos").over(w))
        .withColumn(
            "__new",
            F.when(
                F.col("__prev").isNull() | (F.col("__pos") - F.col("__prev") > k), 1
            ).otherwise(0),
        )
        .withColumn("__span", F.sum("__new").over(w))
        .groupBy(id_col, "__span")
        .agg(
            F.min("__pos").alias("span_start"),
            (F.max("__pos") + k - F.min("__pos")).alias("span_len"),
            F.count(F.lit(1)).alias("n_grams"),
        )
        .select(
            id_col,
            F.col("span_start").cast("long").alias("span_start"),
            F.col("span_len").cast("long").alias("span_len"),
            "n_grams",
        )
    )
    return spans


def remove_duplicate_spans(
    docs: DataFrame,
    gram_chars: int = 25,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The CUT pass of exact substring dedup (Lee et al.): rewrite each
    document with its non-canonical duplicated regions removed, keeping
    the corpus-wide FIRST occurrence (minimal ``(doc_id, pos)``) of
    every duplicated gram.

    Pipeline: the same two-channel gram hashes as
    :func:`duplicate_spans`; per hash, one window marks the canonical
    occurrence; surviving cut positions merge into disjoint intervals
    per document (gap > gram_chars starts a new interval, so intervals
    are disjoint by construction); the kept text BETWEEN intervals is
    reassembled order-preserving with a sorted array join.  Every
    stage is keyed by hash or by document — no hotspot key at any
    corpus size.

    RESCAN-JUSTIFIED(documents, 3): three corpus passes is the floor —
    (a) the gram pass that builds the duplicated-gram table, (b) the
    gram pass that marks non-canonical occurrences against it (the
    per-position gram stream is LARGER than the corpus, so caching it
    to fuse (a)/(b) is the documented corpus-sized-cache negative),
    (c) the text pass that rebuilds kept segments (one LEFT join —
    pass-through documents ride the same join, see below).  The
    pre-fix plan ran SIX (tools/rescan_audit.py).

    Output: ``(doc_id, clean_text, n_cut_chars)`` for EVERY input
    document (documents with nothing to cut pass through verbatim).
    """
    from pyspark.sql.window import Window

    k = int(gram_chars)
    p2 = _H31[1][1]

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _gram_hashes(texts):
        import pandas as pd

        return pd.Series(
            [
                _shingle31_np(t or "", k, 0) * p2 + _shingle31_np(t or "", k, 1)
                for t in texts
            ]
        )

    spark = docs.sparkSession
    src = docs
    if session.single_host(spark):
        src = src.repartition(spark.sparkContext.defaultParallelism)
    grams = src.select(
        F.col(id_col),
        F.posexplode(_gram_hashes(F.col(text_col))).alias("__p0", "__h"),
    ).select(id_col, (F.col("__p0") + 1).alias("__pos"), "__h")

    # canonical = global first (doc_id, pos) per hash; every OTHER
    # occurrence of a duplicated hash is a cut position.  The canonical
    # falls out of an AGGREGATION (min over a lexicographic struct,
    # map-side combinable), NOT a per-hash row_number window — a
    # boilerplate gram occurring millions of times corpus-wide would
    # funnel a window through one reducer, while partial minima keep
    # every hot hash map-side.  Only DUPLICATED hashes (n > 1) join
    # back: the join's build side is the duplicated-gram vocabulary.
    dup_first = (
        grams.groupBy("__h")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.min(
                F.struct(F.col(id_col).alias("d"), F.col("__pos").alias("p"))
            ).alias("__first"),
        )
        .filter(F.col("__n") > 1)
        .select("__h", "__first")
    )
    cuts = (
        grams.join(dup_first, "__h")
        .filter(
            (F.col(id_col) != F.col("__first.d"))
            | (F.col("__pos") != F.col("__first.p"))
        )
        .select(id_col, "__pos")
    )

    wd = Window.partitionBy(id_col).orderBy("__pos")
    # persist: interval rows exist only for documents WITH cuts
    # (duplicate-region-sized); without the cache the mid and tail
    # consumers each replay BOTH gram passes — the UDF hashing of the
    # whole corpus twice more (6 live scans pre-fix,
    # tools/rescan_audit.py).  PER-CALL ACCUMULATION (the
    # _approx_rank_bins contract): LRU-reclaimed; clearCache()
    # reclaims eagerly.
    spans = (
        cuts.withColumn("__prev", F.lag("__pos").over(wd))
        .withColumn(
            "__new",
            F.when(
                F.col("__prev").isNull() | (F.col("__pos") - F.col("__prev") > k), 1
            ).otherwise(0),
        )
        .withColumn("__span", F.sum("__new").over(wd))
        .groupBy(id_col, "__span")
        .agg(
            F.min("__pos").alias("__s"),
            (F.max("__pos") + k).alias("__e"),  # end-exclusive
        )
        .persist()
    )

    # kept segments between the (disjoint, sorted) cut intervals
    ws = Window.partitionBy(id_col).orderBy("__s")
    segs = spans.select(
        id_col,
        F.coalesce(F.lag("__e").over(ws), F.lit(1)).alias("__ks"),
        F.col("__s").alias("__ke"),
        F.col("__e").alias("__tail_from"),
        F.row_number().over(Window.partitionBy(id_col).orderBy(F.desc("__s"))).alias("__rlast"),
    )
    base = docs.select(F.col(id_col), F.col(text_col).alias("__text"))
    mid = segs.select(id_col, "__ks", "__ke")
    tail = segs.filter(F.col("__rlast") == 1).select(
        id_col, F.col("__tail_from").alias("__ks"), F.lit(None).cast("long").alias("__ke")
    )
    # ONE text pass: base LEFT JOIN the (cached, span-sized) kept-
    # segment rows — a document with no cuts gets the NULL-keyed row,
    # whose piece is the whole text, so the old separate pass-through
    # join is gone.  AQE picks the join strategy on the id.
    cutrows = mid.unionByName(tail)
    start = F.coalesce(F.col("__ks"), F.lit(1))
    pieces = (
        base.join(cutrows, id_col, "left")
        .select(
            id_col,
            F.length("__text").alias("__olen"),
            start.alias("__ks"),
            F.col("__text").substr(
                start.cast("int"),
                F.coalesce(
                    (F.col("__ke") - F.col("__ks")).cast("int"),
                    (F.length("__text") - start + 1).cast("int"),
                ),
            ).alias("__piece"),
        )
    )
    rebuilt = pieces.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("__ks"), F.col("__piece")))),
                lambda x: x["__piece"],
            ),
            "",
        ).alias("__clean"),
        F.max("__olen").alias("__olen"),
    )
    # NULL text: no pieces survive collect_list, so __clean would be
    # "" — restore the NULL (original length is NULL exactly then)
    clean = F.when(F.col("__olen").isNull(), F.lit(None).cast("string")).otherwise(
        F.col("__clean")
    )
    return rebuilt.select(
        id_col,
        clean.alias("clean_text"),
        (F.col("__olen") - F.length(clean)).cast("long").alias("n_cut_chars"),
    )


def rouge_recall_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """ROUGE-N recall for candidate ``(id_a, id_b)`` pairs — the
    summarization/near-dup eval metric as a pure relational plan:
    ``recall = Σ_g min(c_a(g), c_b(g)) / Σ_g c_b(g)`` over MULTISET
    word-n-gram counts (Lin 2004), with ``b`` the reference side.

    Plan: one (doc, gram) count table (map-side combine); the
    reference side equi-joins the pair list on ``id_b`` and the
    candidate counts join back LEFT on ``(id_a, gram)`` — every join
    is keyed, work is bounded by pair-gram hits, and nothing is
    ever all-pairs.  Exact integers + one final division (9 dp).

    Output: ``(id_a, id_b, n_ref_grams, n_overlap, rougen_recall)``.
    """
    from .filters import word_ngrams, word_tokens

    # persist: the (doc, gram) count table feeds BOTH join sides
    # (reference `gb`, candidate `ga`) and divergent column pruning
    # defeats AQE exchange reuse between them — un-cached, each side
    # replays the corpus n-gram explode (3 live scans with the pair
    # spine, tools/rescan_audit.py).  PER-CALL ACCUMULATION (the
    # _approx_rank_bins contract): LRU-reclaimed; clearCache()
    # reclaims eagerly.
    grams = (
        docs.select(
            F.col(id_col).alias("__d"),
            F.explode(word_ngrams(word_tokens(text_col), n)).alias("__g"),
        )
        .groupBy("__d", "__g")
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
        .persist()
    )
    gb = grams.select(
        F.col("__d").alias("id_b"), "__g", F.col("__c").alias("__cb")
    )
    ga = grams.select(
        F.col("__d").alias("id_a"), "__g", F.col("__c").alias("__ca")
    )
    j = (
        pairs.join(gb, "id_b")
        .join(ga, ["id_a", "__g"], "left")
        .select(
            "id_a",
            "id_b",
            "__cb",
            F.least(F.coalesce("__ca", F.lit(0)), F.col("__cb")).alias("__ov"),
        )
    )
    return j.groupBy("id_a", "id_b").agg(
        F.sum("__cb").cast("long").alias("n_ref_grams"),
        F.sum("__ov").cast("long").alias("n_overlap"),
        F.round(F.sum("__ov") / F.sum("__cb"), 9).alias("rougen_recall"),
    )


def minhash_recall(
    docs: DataFrame,
    threshold_num: int = 1,
    threshold_den: int = 2,
    num_hashes: int = 32,
    num_bands: int = 8,
    shingle_k: int = 5,
    seed: int = 42,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Recall of the MinHash-LSH candidate generator against the EXACT
    shingle-Jaccard ground truth at ``threshold_num/threshold_den`` —
    the "measure, don't guess" harness for the dedup family (the
    textual twin of the ANN ``ann_recall`` metric): how many true
    near-dup pairs does the banding actually surface?

    Exact side: distinct 31-bit shingle-hash sets (the signature's own
    universe, so the comparison isolates banding loss, not hashing
    loss); pair intersections come from a shingle-keyed equi-join —
    pairs materialize only for documents SHARING a shingle, never
    all-pairs — and the threshold test cross-multiplies
    ``den * |A∩B| >= num * |A∪B|`` in exact integers.  Intended for
    eval slices by the same stated contract as the brute-force k-NN
    baseline (ground truth at corpus scale is the thing being avoided).

    Output: one row ``(n_true, n_cand, n_hit, recall, precision)``
    (9 dp) — recall says what the banding misses, precision what the
    downstream exact-verify stage pays for.
    """
    spark = docs.sparkSession
    base = docs.select(F.col(id_col).alias("__d"), F.col(text_col).alias("__t"))
    # persist: SLICE-bounded by the stated eval-slice contract — the
    # shingle stream feeds both equi-join sides and the size table,
    # and each un-cached consumer re-hashed the whole slice (part of
    # the 8x, tools/rescan_audit.py).  PER-CALL ACCUMULATION (the
    # _approx_rank_bins contract): LRU-reclaimed; clearCache()
    # reclaims eagerly.
    sh = base.select(
        "__d", F.explode(F.array_distinct(_shingle31_expr("__t", shingle_k))).alias("__h")
    ).persist()
    sizes = sh.groupBy("__d").agg(F.count(F.lit(1)).cast("long").alias("__n"))
    a = sh.select(F.col("__d").alias("id_a"), "__h")
    b = sh.select(F.col("__d").alias("id_b"), "__h")
    inter = (
        a.join(b, "__h")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("__i"))
    )
    sa = sizes.select(F.col("__d").alias("id_a"), F.col("__n").alias("__na"))
    sb = sizes.select(F.col("__d").alias("id_b"), F.col("__n").alias("__nb"))
    true_pairs = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(
            F.lit(int(threshold_den)) * F.col("__i")
            >= F.lit(int(threshold_num))
            * (F.col("__na") + F.col("__nb") - F.col("__i"))
        )
        .select("id_a", "id_b")
        # persist: true-pair-sized; the hit semi-join and the n_true
        # count both consume it — un-cached, each replayed the full
        # shingle equi-join
        .persist()
    )
    cand = minhash_band_candidates(
        docs,
        text_col=text_col,
        id_col=id_col,
        num_hashes=num_hashes,
        num_bands=num_bands,
        shingle_k=shingle_k,
        seed=seed,
    ).select("id_a", "id_b").persist()
    cand_probe = cand
    if session.single_host(spark):
        # candidate pairs are near-dup-count-sized, orders below the
        # corpus; on a cluster AQE picks the semi-join strategy
        cand_probe = F.broadcast(cand_probe)
    hit = true_pairs.join(cand_probe, ["id_a", "id_b"], "left_semi")
    n_true = true_pairs.agg(F.count(F.lit(1)).cast("long").alias("n_true"))
    n_cand = cand.agg(F.count(F.lit(1)).cast("long").alias("n_cand"))
    n_hit = hit.agg(F.count(F.lit(1)).cast("long").alias("n_hit"))
    return (
        n_true.crossJoin(F.broadcast(n_cand))
        .crossJoin(F.broadcast(n_hit))
        .select(
            "n_true",
            "n_cand",
            "n_hit",
            F.round(
                F.when(F.col("n_true") > 0, F.col("n_hit") / F.col("n_true"))
                .otherwise(F.lit(1.0)),
                9,
            ).alias("recall"),
            F.round(
                F.when(F.col("n_cand") > 0, F.col("n_hit") / F.col("n_cand"))
                .otherwise(F.lit(1.0)),
                9,
            ).alias("precision"),
        )
    )


def simhash_recall(
    fps: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
) -> DataFrame:
    """Recall of the 4-block SimHash LSH candidate generator against
    the exact all-pairs Hamming ground truth at ``max_hamming`` — the
    SimHash twin of :func:`minhash_recall`.  For ``max_hamming <= 3``
    the pigeonhole guarantees recall 1.0 (3 differing bits cannot
    touch all 4 16-bit blocks), pinned by test; above 3 the block
    join is genuinely lossy and this measures by how much.

    Ground truth is a brute-force all-pairs XOR popcount — the same
    eval-slice contract as every exact baseline in this module (the
    quadratic is the thing the LSH avoids at corpus scale).

    Output: one row ``(n_true, n_hit, recall)``, recall 9 dp.

    The fingerprint input and the true-pair table are PERSISTED
    (slice-bounded by the eval-slice contract / pair-sized): both
    all-pairs sides, the LSH candidate generator, the hit semi-join,
    and the n_true count otherwise each replayed the fingerprint
    lineage (6 live scans, tools/rescan_audit.py).  PER-CALL
    ACCUMULATION (the _approx_rank_bins contract): LRU-reclaimed;
    clearCache() reclaims eagerly.
    """
    fps = fps.persist()
    a = fps.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("__ha"))
    b = fps.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("__hb"))
    true_pairs = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .filter(
            F.bit_count(F.col("__ha").bitwiseXOR(F.col("__hb")))
            <= int(max_hamming)
        )
        .select("id_a", "id_b")
        .persist()
    )
    cand = simhash_near_duplicates(
        fps, max_hamming=max_hamming, id_col=id_col
    ).select("id_a", "id_b")
    if session.single_host(fps.sparkSession):
        cand = F.broadcast(cand)
    hit = true_pairs.join(cand, ["id_a", "id_b"], "left_semi")
    n_true = true_pairs.agg(F.count(F.lit(1)).cast("long").alias("n_true"))
    n_hit = hit.agg(F.count(F.lit(1)).cast("long").alias("n_hit"))
    return n_true.crossJoin(F.broadcast(n_hit)).select(
        "n_true",
        "n_hit",
        F.round(
            F.when(F.col("n_true") > 0, F.col("n_hit") / F.col("n_true"))
            .otherwise(F.lit(1.0)),
            9,
        ).alias("recall"),
    )


def duplication_profile(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-group duplication report: how much of each source is exact
    duplicate mass — the dedup triage table that decides WHERE the
    cleanup budget goes (a source that is 40% duplicates gets the
    near-dup ladder; a clean one doesn't need it).

    Per group: ``n_docs``, ``n_dup_docs`` (docs whose md5 digest —
    :func:`exact_dedup`'s convention — appears more than once ANYWHERE
    in the corpus: cross-source duplication counts against both
    sources, the honest attribution), ``n_cross_dup`` (the subset
    whose digest also appears in ANOTHER group — contamination, not
    internal boilerplate), and the exact-count ratio ``dup_rate``,
    6 dp.

    NULL-text convention (explicit, like :func:`exact_dedup`'s): a
    NULL text has no digest — ``md5(NULL)`` is NULL and the digest
    join drops NULL keys on both engines — so NULL-text docs are
    EXCLUDED from ``n_docs`` and every count here.  A NULL text
    carries no duplication signal; callers profiling corpora with
    NULL-text rows should count them separately (they are a data-
    quality problem, not a duplication one).

    Plan: one digest-keyed aggregation carrying per-digest total and
    distinct-group counts (map-side combinable; digest-cardinality-
    sized), one broadcast-friendly join back onto the doc->digest
    projection, one group rollup.  Never the text twice: the digest is
    computed in the first scan's projection.
    """
    d = docs.select(
        F.col(group_col).alias("__g"),
        F.md5(F.col(text_col)).alias("digest"),
    )
    per_digest = d.groupBy("digest").agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.count_distinct("__g").cast("long").alias("__ng"),
    )
    j = d.join(per_digest, "digest")
    return (
        j.groupBy(F.col("__g").alias(group_col))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum((F.col("__n") > 1).cast("long")).cast("long").alias("n_dup_docs"),
            F.sum((F.col("__ng") > 1).cast("long")).cast("long").alias("n_cross_dup"),
        )
        .select(
            group_col,
            "n_docs",
            "n_dup_docs",
            "n_cross_dup",
            F.round(F.col("n_dup_docs") / F.col("n_docs"), 6).alias("dup_rate"),
        )
        .orderBy(group_col)
    )
