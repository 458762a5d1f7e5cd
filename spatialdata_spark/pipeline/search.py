"""Inverted-index text search as pure relational plans.

The index is the classic positional posting table ``(token, doc_id,
pos)`` — in Spark a long-format DataFrame, NOT a driver-side
dictionary, so it builds with one map-side explode and serves queries
with joins.  At 100 TB the index is written bucketed by ``token`` so
every probe is a bucket-pruned scan plus a co-located join; here the
probe side (the query's tokens) is a literal handful of rows, so each
lookup is one pushed-down IN-filter over the posting table.

Phrase matching is the standard positional-join form: a phrase
``t0 t1 ... t(k-1)`` matches at position ``p`` of a document iff the
postings contain ``(ti, doc, p+i)`` for every i — k-1 equi-joins on
``(doc, pos)``, each after a pushed token filter, never a regex scan
over the corpus text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spatialdata_spark.session import local_frame

__all__ = [
    "inverted_index",
    "multi_phrase_search",
    "phrase_search",
    "rank_correlation",
    "rrf_fuse",
]


def inverted_index(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Positional posting table ``(token, doc_id, pos)`` over
    lowercased whitespace tokens — one map-side ``posexplode``, no
    shuffle (write it bucketed by ``token`` to serve point lookups
    with partition pruning at scale)."""
    from spatialdata_spark.pipeline.filters import word_tokens

    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(word_tokens(text_col)).alias("pos", "token"),
        )
        .filter(F.col("token") != "")
        .select("token", "doc_id", "pos")
    )


def phrase_search(
    docs: DataFrame,
    phrase: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact phrase occurrences via positional posting joins:
    ``(doc_id, n_matches)`` for every document containing the phrase
    (lowercased whitespace tokenization, the corpus convention).

    Plan: the posting stream filters to the phrase's token SET before
    anything else (a pushed-down IN over the scan — the corpus text
    never leaves the scan task otherwise); the k-gram adjacency is
    k-1 equi-joins on ``(doc_id, pos + i)``, all between
    already-token-filtered streams that share the (doc, pos) keying;
    one final per-document count.  Work is proportional to the
    postings of the phrase's tokens, not to corpus size.
    """
    toks = [t for t in phrase.lower().split() if t]
    if not toks:
        raise ValueError("empty phrase")
    post = inverted_index(docs, text_col=text_col, id_col=id_col).filter(
        F.col("token").isin(list(set(toks)))
    )
    cur = (
        post.filter(F.col("token") == toks[0])
        .select("doc_id", F.col("pos").alias("p0"))
    )
    for i, t in enumerate(toks[1:], start=1):
        nxt = post.filter(F.col("token") == t).select(
            F.col("doc_id").alias("__d"), F.col("pos").alias("__p")
        )
        cur = cur.join(
            nxt,
            (cur["doc_id"] == nxt["__d"]) & (nxt["__p"] == cur["p0"] + i),
        ).select("doc_id", "p0")
    return cur.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_matches")
    )


def multi_phrase_search(
    docs: DataFrame,
    phrases: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Match MANY phrases in one pass — the relational analog of an
    Aho-Corasick scan, and the shape a benchmark-decontamination or
    denylist pass wants (thousands of patterns, one corpus read).

    One join regardless of pattern count: phrases explode to
    ``(phrase_id, offset, token)`` (pattern-table-sized, broadcast);
    postings filter to the union of pattern tokens via a broadcast
    semi-join; a match at start position ``p`` exists iff all
    ``len(phrase)`` offsets align — one groupBy on
    ``(doc, phrase, p = pos - offset)`` counting DISTINCT offsets,
    then a count==length filter.  Corpus work is proportional to the
    postings of pattern tokens, never to |patterns| x |corpus|.

    Output: ``(doc_id, phrase_id, phrase, n_matches)`` for every
    (document, phrase) with at least one occurrence.
    """
    if not phrases:
        raise ValueError("empty phrase list")
    spark = docs.sparkSession
    rows = []
    for pid, ph in enumerate(phrases):
        toks = [t for t in ph.lower().split() if t]
        if not toks:
            raise ValueError(f"empty phrase at index {pid}")
        rows += [(pid, ph, i, t, len(toks)) for i, t in enumerate(toks)]
    pat = local_frame(
        spark,
        rows, ["phrase_id", "phrase", "offset", "token", "plen"]
    )
    post = inverted_index(docs, text_col=text_col, id_col=id_col)
    post = post.join(
        F.broadcast(pat.select("token").distinct()), "token", "left_semi"
    )
    hits = post.join(F.broadcast(pat), "token").select(
        "doc_id",
        "phrase_id",
        "phrase",
        "plen",
        (F.col("pos") - F.col("offset")).alias("__start"),
        "offset",
    )
    starts = (
        hits.filter(F.col("__start") >= 0)
        .groupBy("doc_id", "phrase_id", "phrase", "plen", "__start")
        .agg(F.count_distinct("offset").alias("__k"))
        .filter(F.col("__k") == F.col("plen"))
    )
    return starts.groupBy("doc_id", "phrase_id", "phrase").agg(
        F.count(F.lit(1)).cast("long").alias("n_matches")
    )


def rrf_fuse(
    rankings: "dict[str, DataFrame]",
    k: int = 60,
    id_col: str = "doc_id",
    top_n: "int | None" = None,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR 2009)
    of named rank lists — the standard hybrid-retrieval combiner for a
    sparse (BM25) and a dense (embedding) ranker, robust to the two
    score scales being incomparable because only RANKS enter:

        rrf(d) = sum_lists 1 / (k + rank_list(d))

    Each input DataFrame is ``(id_col, rank)`` with 1-based integer
    ranks; a document absent from a list contributes 0 for it.

    Exactness: the score is a FIXED-ARITY sum of exact-integer
    reciprocals built in the dict's iteration order — deterministic
    IEEE arithmetic, not a shuffled float aggregation — so it replays
    bit-exactly in SQL.  The final rank orders by the unrounded score
    with an id tie-break.

    Plan: one full-outer equi-join per list on the id (rank lists are
    RESULT-sized, orders below the corpus — at retrieval scale each is
    a per-query top-k, so the join and the final rank window are
    metadata work; the corpus is never touched here).

    Output: ``(id, rank_<name>..., rrf_score, rrf_rank)`` sorted by
    ``rrf_rank``; ``top_n`` keeps the head.
    """
    from functools import reduce

    from pyspark.sql.window import Window

    named = [
        (name, df.select(F.col(id_col), F.col("rank").cast("long").alias(f"rank_{name}")))
        for name, df in rankings.items()
    ]
    fused = reduce(lambda a, b: a.join(b, id_col, "full_outer"), [df for _, df in named])
    score = reduce(
        lambda acc, c: acc + F.coalesce(1.0 / (F.lit(int(k)) + F.col(c)), F.lit(0.0)),
        [f"rank_{name}" for name, _ in named],
        F.lit(0.0),
    )
    w = Window.orderBy(F.col("__rrf").desc(), F.col(id_col))
    out = (
        fused.withColumn("__rrf", score)
        .withColumn("rrf_rank", F.row_number().over(w).cast("long"))
        .select(
            id_col,
            *[f"rank_{name}" for name, _ in named],
            F.round(F.col("__rrf"), 6).alias("rrf_score"),
            "rrf_rank",
        )
    )
    if top_n is not None:
        out = out.filter(F.col("rrf_rank") <= int(top_n))
    return out.orderBy("rrf_rank")


def rank_correlation(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Spearman rank agreement between two rank lists (the retrieval
    diagnostic behind :func:`rrf_fuse`: if two rankers agree everywhere,
    fusing them adds nothing) plus Spearman's footrule ``sum |ra - rb|``
    — computed over the ids present in BOTH lists.

    Inputs are ``(id, rank)`` with DISTINCT 1-based ranks per list
    (``row_number`` output — the tie-free contract; with ties, rank
    upstream with a deterministic tie-break as this repo's rankers do).

    Exactness: every sufficient statistic (rank sums, squares, cross
    products, footrule) is an order-free DECIMAL(38,0) integer sum; the
    only floats are the final two square roots and one division —
    fixed-arity IEEE, bit-replayable in SQL with the same association.
    The joined rank table is RESULT-sized (per-query top-k at retrieval
    scale), so this is metadata work end to end.

    Output: one row ``(n, d_foot, rho_spearman)``, 6 dp; ``rho`` NULL
    when a variance term is zero (n < 2 or constant ranks).
    """
    dec = "decimal(38,0)"
    j = ranked_a.select(
        F.col(id_col), F.col("rank").cast("long").alias("__ra")
    ).join(
        ranked_b.select(F.col(id_col), F.col("rank").cast("long").alias("__rb")),
        id_col,
    )
    s = j.agg(
        F.count(F.lit(1)).cast(dec).alias("__n"),
        F.sum(F.col("__ra").cast(dec)).alias("__sx"),
        F.sum(F.col("__rb").cast(dec)).alias("__sy"),
        F.sum((F.col("__ra") * F.col("__ra")).cast(dec)).alias("__sxx"),
        F.sum((F.col("__rb") * F.col("__rb")).cast(dec)).alias("__syy"),
        F.sum((F.col("__ra") * F.col("__rb")).cast(dec)).alias("__sxy"),
        F.sum(F.abs(F.col("__ra") - F.col("__rb")).cast(dec)).alias("__df"),
    )
    num = (F.col("__n") * F.col("__sxy") - F.col("__sx") * F.col("__sy")).cast(
        "double"
    )
    dx = (F.col("__n") * F.col("__sxx") - F.col("__sx") * F.col("__sx")).cast(
        "double"
    )
    dy = (F.col("__n") * F.col("__syy") - F.col("__sy") * F.col("__sy")).cast(
        "double"
    )
    return s.select(
        F.col("__n").cast("long").alias("n"),
        F.col("__df").cast("long").alias("d_foot"),
        F.when(
            (dx > 0) & (dy > 0),
            F.round(num / (F.sqrt(dx) * F.sqrt(dy)), 6),
        ).alias("rho_spearman"),
    )


def ndcg_at_k(
    ranked: DataFrame,
    truth: DataFrame,
    k: int = 20,
    id_col: str = "doc_id",
    rank_col: str = "rank",
    rel_col: str = "rel",
) -> DataFrame:
    """nDCG@k (Järvelin & Kekäläinen 2002) of a system ranking against
    graded relevance — the ranking-quality companion of the recall
    harnesses (recall asks "did the right ids surface"; nDCG asks
    "in the right ORDER, weighted by grade").

    ``DCG = sum_{r<=k} rel_r / ln(r + 1)``; ``IDCG`` the same sum over
    the ideal ordering (rel desc, id tie-break); ``ndcg = DCG/IDCG``.
    THE NATURAL-LOG CONVENTION, deliberately: the log base cancels in
    the ratio, and ``log2`` is avoided because Spark computes it as
    ``ln(x)/ln(2)`` while a SQL engine's libm ``log2`` can differ in
    the last ulp — ``LN`` alone is the family's established
    cross-engine primitive.  Items missing from ``truth`` count as
    relevance 0 (ranked noise dilutes DCG, the standard convention).

    Both inputs are RESULT-sized (top-k lists / graded truth set), so
    every join and window here is metadata-scale — and both are
    PERSISTED: the truth set feeds the DCG join AND the ideal-ordering
    window, and each un-cached replay re-ran the caller's full
    ground-truth scoring scan (the pl_ndcg 8x,
    tools/rescan_audit.py).  PER-CALL ACCUMULATION (the
    _approx_rank_bins contract): LRU-reclaimed; clearCache() reclaims
    eagerly.  Output: one row
    ``(k, n_ranked, dcg_ln, idcg_ln, ndcg)``, 6 dp; NULL ndcg when the
    truth set has no positive grades.
    """
    from pyspark.sql.window import Window

    ranked = ranked.persist()
    truth = truth.persist()
    r = (
        ranked.filter(F.col(rank_col) <= int(k))
        .join(truth.select(id_col, rel_col), id_col, "left")
        .select(
            F.col(rank_col).alias("__r"),
            F.coalesce(F.col(rel_col), F.lit(0)).cast("long").alias("__rel"),
        )
    )
    dcg = r.agg(
        F.count(F.lit(1)).cast("long").alias("n_ranked"),
        F.sum(F.col("__rel") / F.log(F.col("__r") + 1)).alias("__dcg"),
    )
    iw = Window.orderBy(F.desc("__rel"), F.col(id_col))
    ideal = (
        truth.select(id_col, F.col(rel_col).cast("long").alias("__rel"))
        .withColumn("__r", F.row_number().over(iw))
        .filter(F.col("__r") <= int(k))
    )
    idcg = ideal.agg(F.sum(F.col("__rel") / F.log(F.col("__r") + 1)).alias("__idcg"))
    return (
        dcg.crossJoin(F.broadcast(idcg))
        .select(
            F.lit(int(k)).alias("k"),
            "n_ranked",
            F.round(F.col("__dcg"), 6).alias("dcg_ln"),
            F.round(F.col("__idcg"), 6).alias("idcg_ln"),
            F.when(
                F.col("__idcg") > 0, F.round(F.col("__dcg") / F.col("__idcg"), 6)
            ).alias("ndcg"),
        )
    )
