"""Text analysis operators: quality scoring, token counting, language ID,
document fingerprinting.  All hot-path expressions are JVM-side builtins
(regexp/length/split); only language-ID needs a (vectorized) UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spatialdata_spark import session

# tiny per-language stopword lists for the n-gram/stopword heuristic
_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "was"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "von", "mit", "den", "ein"],
    "fr": ["le", "la", "et", "les", "des", "est", "pas", "pour", "que", "une"],
    "es": ["el", "la", "de", "que", "los", "una", "por", "con", "para", "es"],
}


def text_stats(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document quality features — pure Catalyst expressions:
    char count, token count, punctuation ratio, digit ratio, uppercase
    ratio, mean word length, stopword ratio (en)."""
    t = F.col(text_col)
    n_chars = F.length(t)
    # whitespace tokenization; empty string -> 0 tokens
    tokens = F.split(F.trim(t), r"\s+")
    n_tokens = F.when(F.length(F.trim(t)) == 0, 0).otherwise(F.size(tokens))
    n_punct = n_chars - F.length(F.regexp_replace(t, r"[.,;:!?'\"()\[\]{}-]", ""))
    n_digit = n_chars - F.length(F.regexp_replace(t, r"[0-9]", ""))
    n_upper = n_chars - F.length(F.regexp_replace(t, r"[A-Z]", ""))
    n_space = n_chars - F.length(F.regexp_replace(t, r" ", ""))
    sw = _STOPWORDS["en"]
    lower_padded = F.concat(F.lit(" "), F.lower(t), F.lit(" "))
    n_stop = None
    for w in sw:
        c = (F.length(lower_padded) - F.length(F.regexp_replace(lower_padded, rf"\b{w}\b", ""))) / len(w)
        n_stop = c if n_stop is None else n_stop + c
    return docs.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        (n_punct / F.greatest(n_chars, F.lit(1))).alias("punct_ratio"),
        (n_digit / F.greatest(n_chars, F.lit(1))).alias("digit_ratio"),
        (n_upper / F.greatest(n_chars, F.lit(1))).alias("upper_ratio"),
        ((n_chars - n_space) / F.greatest(n_tokens, F.lit(1))).alias("mean_word_len"),
        F.round(n_stop / F.greatest(n_tokens, F.lit(1)), 9).alias("stopword_ratio"),
    )


def quality_score(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Composite quality score in [0,1]: rewards stopword presence and
    sane word lengths, penalizes punctuation/digit soup.  Heuristic in
    the spirit of C4/Gopher text-quality rules."""
    s = text_stats(docs, text_col, id_col)
    score = (
        F.lit(1.0)
        - F.least(F.lit(1.0), F.col("punct_ratio") * 4)
        * F.lit(0.25)
        - F.least(F.lit(1.0), F.col("digit_ratio") * 5) * F.lit(0.25)
        + F.least(F.lit(0.25), F.col("stopword_ratio"))
        - F.when((F.col("mean_word_len") < 3) | (F.col("mean_word_len") > 12), 0.25).otherwise(0.0)
    )
    return s.select(id_col, F.greatest(F.lit(0.0), F.least(F.lit(1.0), score)).alias("quality"))


def token_count_bpe_ish(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Token count with a BPE-ish regex (GPT-2 style word/number/punct
    splitting) — a JVM regexp, no UDF."""
    pattern = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"
    toks = F.regexp_extract_all(F.col(text_col), F.lit(pattern), F.lit(0))
    return docs.select(F.col(id_col), F.size(toks).alias("n_bpe_tokens"))


def language_id(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Stopword-vote language ID over {en,de,fr,es} (+'unknown') — pure
    Catalyst expressions, no Python UDF.

    A language scores one point per stopword present as a
    whitespace-delimited token (padded-substring test on the
    whitespace-normalized lowercase text).  The winner needs >=2 hits;
    ties resolve to the earlier language in {en,de,fr,es} order.
    """
    lp = F.concat(
        F.lit(" "),
        F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "),
        F.lit(" "),
    )
    langs = list(_STOPWORDS)
    hit_cols = {}
    for lang in langs:
        h = None
        for w in _STOPWORDS[lang]:
            c = F.when(F.instr(lp, f" {w} ") > 0, 1).otherwise(0)
            h = c if h is None else h + c
        hit_cols[lang] = h
    scored = docs.select(
        F.col(id_col), *[hit_cols[lang].alias(f"__h_{lang}") for lang in langs]
    )
    pred = None
    for i, lang in enumerate(langs):
        me = F.col(f"__h_{lang}")
        cond = me >= 2
        for j, other in enumerate(langs):
            if j < i:
                cond = cond & (me > F.col(f"__h_{other}"))  # earlier lang wins ties
            elif j > i:
                cond = cond & (me >= F.col(f"__h_{other}"))
        branch = F.when(cond, lang)
        pred = branch if pred is None else pred.when(cond, lang)
    pred = pred.otherwise("unknown")
    return scored.select(F.col(id_col), pred.alias("lang_pred"))


def vocab_topk(
    docs: DataFrame,
    k: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus vocabulary: top-k tokens by total frequency with document
    frequency — the canonical (token)-keyed aggregate with map-side
    combine; top-k is a ``TakeOrdered``, never a full sort shuffle.
    Ties order lexicographically for determinism."""
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    exploded = docs.select(F.col(id_col), F.explode(toks).alias("token"))
    return (
        exploded.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.countDistinct(id_col).alias("df"),
        )
        .orderBy(F.desc("tf"), F.asc("token"))
        .limit(k)
    )


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Okapi BM25 relevance of every document against a fixed query
    term set (Robertson & Walker's published ranking function) — the
    seed-based curation primitive: score a 100 TB crawl against a
    handful of quality-seed terms and keep the tail above a threshold.

    Plan: one token explode filtered to the query terms (the filter
    collapses the exploded volume to |terms|-matched rows BEFORE any
    shuffle), one (doc, term) count with map-side combine, document
    frequencies as a |terms|-row broadcast, and the corpus constants
    (N, avgdl) as a 1-row cross join.  No UDFs, no full-vocabulary
    aggregate — work is bounded by query-term hits, not corpus tokens.

    Output: ``(doc_id, score)`` for documents matching >=1 term.
    """
    from spatialdata_spark.pipeline.filters import word_tokens

    terms = sorted(set(query_terms))
    toks = word_tokens(text_col)
    base = docs.select(
        F.col(id_col),
        toks.alias("__toks"),
        F.when(F.length(F.trim(F.col(text_col))) == 0, 0)
        .otherwise(F.size(toks))
        .alias("__len"),
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("__n"), F.avg("__len").alias("__avgdl")
    )
    hits = base.select(
        id_col, "__len", F.explode("__toks").alias("__t")
    ).filter(F.col("__t").isin(terms))
    # persist: the (doc, term) hit counts are query-term-hit-bounded;
    # the document-frequency rollup and the scoring join both consume
    # them — un-cached, each replayed the corpus tokenization (3 live
    # scans, tools/rescan_audit.py).  PER-CALL ACCUMULATION (the
    # _approx_rank_bins contract): LRU-reclaimed; clearCache()
    # reclaims eagerly.
    tf = hits.groupBy(id_col, "__len", "__t").agg(
        F.count(F.lit(1)).alias("__tf")
    ).persist()
    df = tf.groupBy("__t").agg(F.count(F.lit(1)).alias("__df"))
    scored = (
        tf.join(F.broadcast(df), "__t")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "__idf",
            F.log((F.col("__n") - F.col("__df") + 0.5) / (F.col("__df") + 0.5) + 1.0),
        )
        .withColumn(
            "__s",
            F.col("__idf")
            * (F.col("__tf") * (k1 + 1.0))
            / (F.col("__tf") + k1 * (1.0 - b + b * F.col("__len") / F.col("__avgdl"))),
        )
    )
    return scored.groupBy(id_col).agg(F.sum("__s").alias("score"))


def unigram_lm_score(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document mean negative log-likelihood under the corpus's own
    add-one-smoothed unigram language model — the classic cheap
    LM-quality filter (a gibberish/boilerplate document scores far from
    the corpus mode; CCNet-style pipelines threshold exactly this
    before the expensive 5-gram model).

    ``p(w) = (c(w) + 1) / (T + V)`` with ``c`` the corpus token count,
    ``T`` total tokens, ``V`` vocabulary size;
    ``nll(doc) = -mean(ln p(w_i))``.

    Plan: one token explode, a token-count aggregation (map-side
    combine; result is VOCABULARY-sized, not corpus-sized) PERSISTED —
    the corpus constants ``T``/``V`` derive from the cached count
    table, so the model-build pass scans the corpus ONCE (the
    pre-persist form ran a separate totals explode: 3 corpus scans per
    nll evaluation, tools/rescan_audit.py) — the counts joined back
    (AQE picks the strategy — a 100 TB crawl's vocabulary may outgrow
    a broadcast), corpus constants as a 1-row
    cross join, then a per-document mean with map-side combine.  Two
    corpus passes total: model build + scoring — the structural floor
    for score-corpus-under-its-own-model without a corpus-sized cache.
    Empty documents are excluded (no tokens, no likelihood).
    PER-CALL ACCUMULATION (the _approx_rank_bins contract): the
    vocabulary persist is never unpersisted here — one cache entry per
    distinct input plan, LRU-reclaimed; clearCache() reclaims eagerly.
    """
    from .filters import word_tokens

    base = docs.filter(F.length(F.trim(F.col(text_col))) > 0).select(
        F.col(id_col), word_tokens(text_col).alias("__toks")
    )
    tok = base.select(id_col, F.explode("__toks").alias("__t"))
    # persist: vocabulary-sized; totals AND the scoring join both
    # consume it — without the cache each consumer replays the full
    # corpus tokenization (the rescan-audit class)
    counts = tok.groupBy("__t").agg(F.count(F.lit(1)).alias("__c")).persist()
    totals = counts.agg(
        F.sum("__c").alias("__T"), F.count(F.lit(1)).alias("__V")
    )
    # alias-qualified refs: an unqualified __T would trip Spark's
    # ambiguous-reference check after the crossJoin
    scored = tok.join(counts, "__t").crossJoin(F.broadcast(totals.alias("tot")))
    nll = -F.log(
        (F.col("__c") + F.lit(1.0)) / (F.col("tot.__T") + F.col("tot.__V"))
    )
    return scored.groupBy(id_col).agg(F.round(F.avg(nll), 6).alias("nll"))


def perplexity_buckets(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet's head/middle/tail split: bucket documents by the
    terciles of their unigram-LM negative log-likelihood (head = the
    third closest to the corpus mode, the part CCNet keeps for
    training).  The tercile thresholds are a 1-row aggregate
    broadcast back — model state, like every threshold in this
    module.  Spark's exact ``percentile`` matches DuckDB's
    ``quantile_cont`` bit-for-bit on DOUBLE input (linear
    interpolation, same definition), so the bucket boundaries replay
    exactly.  At 100 TB the exact global percentile becomes
    ``approx_percentile`` (the documented sketch substitution — the
    same swap the zonal-quantile family documents); the plan shape is
    unchanged.

    The per-document nll table is PERSISTED: the tercile aggregate and
    the bucket projection both consume it, and without the cache each
    replays the full two-pass LM subtree (6 corpus scans in the
    pre-persist compiled plan, tools/rescan_audit.py).  Rows are
    (id, double) — the SMALL projection of the corpus, the opposite of
    the corpus-sized-projection negative precedent (aggregate.py).
    PER-CALL ACCUMULATION (the _approx_rank_bins contract): never
    unpersisted here — one cache entry per distinct input plan,
    LRU-reclaimed; clearCache() reclaims eagerly."""
    nll = unigram_lm_score(docs, text_col, id_col).persist()
    qs = nll.agg(
        F.percentile("nll", F.lit(1.0 / 3)).alias("t1"),
        F.percentile("nll", F.lit(2.0 / 3)).alias("t2"),
    )
    out = nll.crossJoin(F.broadcast(qs.alias("q")))
    bucket = (
        F.when(F.col("nll") <= F.col("q.t1"), F.lit("head"))
        .when(F.col("nll") <= F.col("q.t2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return out.select(id_col, "nll", bucket.alias("bucket"))


def idf_keywords(
    docs: DataFrame,
    top_k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``k`` TF-IDF keywords per document (``tf * ln(N / df)``,
    ties broken by token) — per-document keyword extraction, the
    complement of :func:`bm25_scores` (which scores docs against FIXED
    seed terms; this ranks each doc's OWN vocabulary).

    Plan: token explode -> (doc, token) counts with map-side combine;
    document frequencies are a second aggregation over the tf table
    (vocabulary-sized) joined back; the corpus size is
    a 1-row cross join; a per-document window takes the top k.  The
    window key is the document — maximally fine-grained, so no reducer
    hotspot at any corpus size.

    Output: ``(doc_id, keyword, score, rank)`` with rank 1..k.
    """
    from pyspark.sql.window import Window

    from .filters import word_tokens

    base = docs.filter(F.length(F.trim(F.col(text_col))) > 0).select(
        F.col(id_col), word_tokens(text_col).alias("__toks")
    )
    tok = base.select(id_col, F.explode("__toks").alias("__t"))
    # persist: the (doc, token) tf table feeds the df rollup AND the
    # scoring join, and divergent column pruning defeats AQE exchange
    # reuse between the two — un-cached, each replays the corpus
    # tokenize + aggregate (3 live scans, tools/rescan_audit.py).  The
    # doc-count derives from the cache too (every non-blank doc has
    # >= 1 token), closing the third scan.  CONTRACT NOTE: N is the
    # number of DISTINCT non-blank documents — duplicate doc_id rows
    # already collapse in the tf/df tables, so counting input ROWS
    # (the pre-r13 form) would be inconsistent with the counts it
    # normalizes; the registered oracle counts DISTINCT to match.
    # PER-CALL ACCUMULATION (the _approx_rank_bins contract):
    # LRU-reclaimed; clearCache() reclaims eagerly.
    tf = tok.groupBy(id_col, "__t").agg(F.count(F.lit(1)).alias("__tf")).persist()
    n_docs = tf.agg(F.count_distinct(F.col(id_col)).alias("__n"))
    df = tf.groupBy("__t").agg(F.count(F.lit(1)).alias("__df"))
    score = F.col("__tf") * F.log(F.col("__n").cast("double") / F.col("__df"))
    w = Window.partitionBy(id_col).orderBy(score.desc(), F.col("__t").asc())
    return (
        tf.join(df, "__t")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= top_k)
        .select(
            id_col,
            F.col("__t").alias("keyword"),
            F.round(score, 6).alias("score"),
            "rank",
        )
    )


def tfidf_cosine_pairs(
    docs: DataFrame,
    threshold: float = 0.2,
    max_df: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Document-pair cosine similarity in sparse TF-IDF space — the
    token-space complement of the dense embedding near-dup family
    (catches templated/boilerplate similarity that embeddings smooth
    over and shingles fragment).

    Stated contract: tokens with document frequency > ``max_df`` are
    excluded from the vector space (the standard stopword/skew cap —
    a corpus-stopword token would otherwise pair every document with
    every other: quadratic blow-up AND a meaningless signal).  Within
    the capped vocabulary the computation is exact.

    Plan: tf per (doc, token) with map-side combine; df as a
    vocabulary-sized aggregate joined back; norms per
    document (map-side combine); the candidate self-join is an
    equi-join ON THE TOKEN, so pair generation is Σ per-token-df² with
    df ≤ max_df — bounded blocks, never corpus².  Output:
    ``(id_a, id_b, cosine)`` with id_a < id_b, cosine ≥ threshold,
    rounded to 6 dp.
    """
    from .filters import word_tokens

    base = docs.filter(F.length(F.trim(F.col(text_col))) > 0).select(
        F.col(id_col), word_tokens(text_col).alias("__toks")
    )
    n_docs = base.agg(F.count(F.lit(1)).alias("__n"))
    tok = base.select(id_col, F.explode("__toks").alias("__t"))
    tf = tok.groupBy(id_col, "__t").agg(F.count(F.lit(1)).alias("__tf"))
    df = tf.groupBy("__t").agg(F.count(F.lit(1)).alias("__df")).filter(
        F.col("__df") <= max_df
    )
    w = (
        tf.join(df, "__t")
        .crossJoin(F.broadcast(n_docs))
        .select(
            id_col,
            "__t",
            (F.col("__tf") * F.log(F.col("__n").cast("double") / F.col("__df"))).alias("__w"),
        )
    )
    # the weights feed the self-join (twice) and both norm lookups:
    # persist so the token explode + tf aggregation run once, not 5x
    # (same contract as the minhash band table; ~24 B/row, df-capped)
    w = w.persist()
    norms = w.groupBy(id_col).agg(F.sqrt(F.sum(F.col("__w") * F.col("__w"))).alias("__norm"))
    l = w.select(F.col(id_col).alias("id_a"), F.col("__t"), F.col("__w").alias("__wa"))
    r = w.select(F.col(id_col).alias("id_b"), F.col("__t"), F.col("__w").alias("__wb"))
    dots = (
        l.join(r, "__t")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("__wa") * F.col("__wb")).alias("__dot"))
    )
    na = norms.select(F.col(id_col).alias("id_a"), F.col("__norm").alias("__na"))
    nb = norms.select(F.col(id_col).alias("id_b"), F.col("__norm").alias("__nb"))
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(F.col("__dot") / (F.col("__na") * F.col("__nb")), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def gopher_rules(
    docs: DataFrame,
    min_words: int = 20,
    max_words: int = 100_000,
    min_mean_len: int = 3,
    max_mean_len: int = 10,
    min_stopwords: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: tuple = (),
) -> DataFrame:
    """Gopher-style document quality gate (Rae et al. 2021 §A1.1):
    per-document rule flags plus the conjunction, every signal an
    INTEGER and every threshold test a cross-multiplication — no
    division, so the gate replays bit-exactly in ANSI SQL at any scale.

    Rules (each emitted as its own 0/1 flag):

    * ``r_words``     — ``min_words <= n_words <= max_words``
    * ``r_mean_len``  — mean word length in ``[min_mean_len,
      max_mean_len]``: ``min*n_words <= n_word_chars <= max*n_words``
    * ``r_symbols``   — symbol-to-word ratio (``#`` or ``...``)
      ``<= 0.1``: ``10*n_sym <= n_words``
    * ``r_alpha``     — ``>= 80%`` of words contain a letter:
      ``5*n_alpha_words >= 4*n_words``
    * ``r_stopwords`` — at least ``min_stopwords`` distinct English
      stopwords present

    Distributed shape: one narrow projection, pure Catalyst
    expressions (split/length/contains), no explode, no shuffle, no
    Python — the gate fuses into whatever scan feeds it.
    """
    t = F.lower(F.trim(F.col(text_col)))
    tokens = F.split(t, r"\s+")
    n_words = F.when(F.length(t) == 0, F.lit(0)).otherwise(F.size(tokens)).cast("long")
    n_word_chars = F.aggregate(
        tokens, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    )
    n_hash = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
    n_ellipsis = (
        F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))
    ) / 3
    n_sym = (n_hash + n_ellipsis).cast("long")
    n_alpha_words = F.size(
        F.filter(tokens, lambda w: w.rlike("[a-z]"))
    ).cast("long")
    padded = F.concat(F.lit(" "), t, F.lit(" "))
    stops = ["the", "be", "to", "of", "and", "that", "have", "with"]
    n_stop_distinct = None
    for w in stops:
        c = F.contains(padded, F.lit(f" {w} ")).cast("long")
        n_stop_distinct = c if n_stop_distinct is None else n_stop_distinct + c
    r_words = (n_words >= min_words) & (n_words <= max_words)
    r_mean_len = (F.lit(int(min_mean_len)) * n_words <= n_word_chars) & (
        n_word_chars <= F.lit(int(max_mean_len)) * n_words
    )
    r_symbols = F.lit(10) * n_sym <= n_words
    r_alpha = F.lit(5) * n_alpha_words >= F.lit(4) * n_words
    r_stop = n_stop_distinct >= int(min_stopwords)
    return docs.select(
        F.col(id_col),
        n_words.alias("n_words"),
        n_word_chars.alias("n_word_chars"),
        n_sym.alias("n_sym"),
        n_alpha_words.alias("n_alpha_words"),
        n_stop_distinct.alias("n_stop_distinct"),
        r_words.cast("int").alias("r_words"),
        r_mean_len.cast("int").alias("r_mean_len"),
        r_symbols.cast("int").alias("r_symbols"),
        r_alpha.cast("int").alias("r_alpha"),
        r_stop.cast("int").alias("r_stopwords"),
        (r_words & r_mean_len & r_symbols & r_alpha & r_stop)
        .cast("int")
        .alias("passes"),
        *[F.col(c) for c in keep_cols],
    )


def kmv_distinct(
    docs: DataFrame,
    k: int = 64,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """KMV (k-minimum-values) distinct-token-count sketch per group —
    the approximate COUNT(DISTINCT) that a 100 TB corpus report needs
    (the exact count shuffles the full vocabulary per group; the
    sketch ships k values).  Unlike HLL, the KMV sketch is a pure
    order statistic of a deterministic hash, so THE WHOLE ESTIMATE
    REPLAYS BIT-EXACTLY IN ANSI SQL: tokens hash with the repo's
    31-bit polynomial (Horner over code points, mod P=2^31-1, shifted
    to [1, P]), and the estimator is integer division
    ``(k-1) * P DIV h_k`` on the k-th smallest distinct hash
    (Bar-Yossef et al. 2002; Beyer et al. 2007 unbiased form).
    Groups with fewer than ``k`` distinct hashes report the exact
    count (the sketch IS the set there).

    Two-stage k-smallest (the ``quota_cap`` shape): an Arrow per-batch
    local min-k bounds what shuffles to ``k x batches`` per group
    (pigeonhole: a globally kept hash is in its batch's min-k), then
    the exact window ranks survivors — no group ever funnels its full
    distinct-hash set through one reducer.

    Output: ``(group, n_used, kth_hash, est_distinct)`` — all BIGINT.
    """
    from pyspark.sql.window import Window

    B, P = 1000003, 2147483647
    toks = (
        docs.select(
            F.col(group_col).alias("__g"),
            F.explode(
                F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
            ).alias("__tok"),
        )
        .filter(F.col("__tok") != "")
        .distinct()
    )
    h = F.aggregate(
        F.split(F.col("__tok"), ""),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * B + F.ascii(c)) % P,
    ) + 1
    hashed = toks.select("__g", h.alias("__h")).distinct()

    kk = int(k)

    def _local_min(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf
                continue
            yield (
                pdf.sort_values("__h", kind="mergesort")
                .groupby("__g", sort=False)
                .head(kk)
            )

    capped = hashed.mapInPandas(_local_min, schema=hashed.schema)
    w = Window.partitionBy("__g").orderBy("__h")
    ranked = capped.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") <= kk
    )
    sk = ranked.groupBy("__g").agg(
        F.count(F.lit(1)).cast("long").alias("n_used"),
        F.max("__h").cast("long").alias("kth_hash"),
    )
    est = F.when(F.col("n_used") < kk, F.col("n_used")).otherwise(
        F.expr(f"CAST(({kk - 1} * {P}L) DIV kth_hash AS BIGINT)")
    )
    return sk.select(
        F.col("__g").alias(group_col),
        "n_used",
        "kth_hash",
        est.cast("long").alias("est_distinct"),
    )


def hll_distinct(
    docs: DataFrame,
    p: int = 10,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """HyperLogLog distinct-token estimate per group (Flajolet et al.
    2007) — the fixed-size mergeable sketch for COUNT(DISTINCT) at
    100 TB: registers aggregate map-side (``groupBy(bucket).max(rho)``
    partial-combines inside each scan task), the shuffle carries at
    most ``m = 2^p`` rows per group regardless of cardinality, and
    sketches from different corpora merge by register max.

    Unlike most HLL implementations, THIS ONE REPLAYS EXACTLY IN ANSI
    SQL: the token hash is the first 60 bits of ``md5`` parsed from
    hex (identical in Spark ``conv(substring(md5(x),1,15),16,10)`` and
    DuckDB ``('0x'||substr(md5(x),1,15))::BIGINT``), the register value
    is derived from the minimal-width binary string (``bin`` in both
    engines), and the harmonic denominator is accumulated as the exact
    integer ``sum(2^(51-rho))`` (every term is a dyadic integer
    ``<= 2^50``; the int64 sum is order-independent, so no
    float-summation divergence) — the only float ops are one final
    division and, in the small-range branch, one ``ln``.

    Registers: ``bucket = h >> (60-p)`` (top ``p`` bits), ``w`` = the
    remaining ``60-p`` bits, ``rho = (60-p)+1 - bitlength(w)`` (and
    ``61-p`` when ``w = 0``).  Estimate: the standard bias-corrected
    harmonic mean ``alpha_m * m^2 / sum_j 2^(-M_j)`` with the
    small-range linear-counting correction ``m * ln(m / V)`` when
    ``E <= 2.5 m`` and some register is empty (V = empty registers).

    Output: ``(group, n_filled, est_hll)`` — BIGINT, BIGINT, DOUBLE
    rounded to 9 dp.
    """
    m = 1 << p
    wbits = 60 - p
    if p == 10:
        alpha = 0.7213 / (1.0 + 1.079 / m)
    elif p == 4:
        alpha = 0.673
    elif p == 5:
        alpha = 0.697
    elif p == 6:
        alpha = 0.709
    else:
        alpha = 0.7213 / (1.0 + 1.079 / m)
    toks = docs.select(
        F.col(group_col).alias("__g"),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("__tok"),
    ).filter(F.col("__tok") != "")
    h = F.conv(F.substring(F.md5(F.col("__tok")), 1, 15), 16, 10).cast("long")
    hashed = toks.select("__g", h.alias("__h"))
    w = F.col("__h").bitwiseAND(F.lit((1 << wbits) - 1))
    rho = F.when(w == 0, F.lit(wbits + 1)).otherwise(
        F.lit(wbits + 1) - F.length(F.bin(w))
    )
    regs = (
        hashed.select(
            "__g",
            F.shiftright(F.col("__h"), wbits).alias("__bucket"),
            rho.alias("__rho"),
        )
        .groupBy("__g", "__bucket")
        .agg(F.max("__rho").alias("__mj"))
    )
    # exact-integer harmonic denominator, scaled by 2^(wbits+1):
    # each register contributes 2^(wbits+1-mj), an empty one 2^(wbits+1)
    contrib = F.pow(F.lit(2.0), F.lit(wbits + 1) - F.col("__mj")).cast("long")
    sk = regs.groupBy("__g").agg(
        F.count(F.lit(1)).cast("long").alias("n_filled"),
        F.sum(contrib).cast("long").alias("__denom_part"),
    )
    scale = float(1 << (wbits + 1))
    denom = (
        F.col("__denom_part")
        + (F.lit(m).cast("long") - F.col("n_filled")) * F.lit(1 << (wbits + 1)).cast("long")
    ).cast("double")
    raw = F.lit(alpha * m * m * scale) / denom
    zeros = (F.lit(m).cast("long") - F.col("n_filled")).cast("double")
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros),
    ).otherwise(raw)
    return sk.select(
        F.col("__g").alias(group_col),
        "n_filled",
        F.round(est, 9).alias("est_hll"),
    )


def bigram_lm_score(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document mean negative log-likelihood under the corpus's
    own add-one-smoothed BIGRAM language model — one rung up the
    CCNet quality ladder from :func:`unigram_lm_score` (CCNet proper
    uses a 5-gram KenLM; the bigram form captures local word order
    with the same relational shape).

    ``p(b | a) = (c(ab) + 1) / (c(a) + V)`` with ``c(ab)`` the corpus
    bigram count, ``c(a)`` the corpus unigram count and ``V`` the
    unigram vocabulary size; ``nll(doc) = -mean(ln p)`` over the
    document's bigrams, rounded to 6 dp (the established oracle
    precision for LM scores).

    Plan: the model is built in ONE corpus pass — a combined-order
    gram explode (bigrams + unigrams in the same flatMap, the KenLM
    count-file idiom; a unigram never contains a space so the orders
    cannot collide) counted once and PERSISTED (vocabulary-sized);
    the bigram table, unigram table, and the V constant all derive
    from the cache (the pre-persist form ran separate explodes — 4
    corpus scans per evaluation, tools/rescan_audit.py).  The scoring
    pass joins back; corpus constants ride a 1-row
    cross join; the final per-document mean combines map-side.  Two
    corpus passes total — the score-under-own-model floor.  Documents
    with fewer than two tokens emit no row (no bigram, no likelihood).
    PER-CALL ACCUMULATION (the _approx_rank_bins contract) on the
    gram-count persist: LRU-reclaimed; clearCache() reclaims eagerly.
    """
    from .filters import word_ngrams, word_tokens

    base = docs.filter(F.length(F.trim(F.col(text_col))) > 0).select(
        F.col(id_col), word_tokens(text_col).alias("__toks")
    )
    bg = base.select(
        id_col, F.explode(word_ngrams(F.col("__toks"), 2)).alias("__g")
    ).withColumn("__a", F.substring_index(F.col("__g"), " ", 1))
    # ONE model pass: both orders in one explode, counted together,
    # persisted (distinct-gram-sized); every model table reads the cache
    cnt = (
        base.select(
            F.explode(
                F.concat(word_ngrams(F.col("__toks"), 2), F.col("__toks"))
            ).alias("__g")
        )
        .groupBy("__g")
        .agg(F.count(F.lit(1)).alias("__c"))
        .persist()
    )
    c2 = cnt.filter(F.col("__g").contains(" ")).select(
        "__g", F.col("__c").alias("__c2")
    )
    c1 = cnt.filter(~F.col("__g").contains(" ")).select(
        F.col("__g").alias("__a"), F.col("__c").alias("__c1")
    )
    totals = cnt.filter(~F.col("__g").contains(" ")).agg(
        F.count(F.lit(1)).alias("__V")
    )
    scored = (
        bg.join(c2, "__g")
        .join(c1, "__a")
        .crossJoin(F.broadcast(totals.alias("tot")))
    )
    nll = -F.log(
        (F.col("__c2") + F.lit(1.0)) / (F.col("__c1") + F.col("tot.__V"))
    )
    return scored.groupBy(id_col).agg(
        F.round(F.avg(nll), 6).alias("nll_bigram")
    )


def kmv_source_overlap(
    docs: DataFrame,
    k: int = 64,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Pairwise source-overlap (Jaccard) matrix from fixed-size KMV
    sketches — "how much does corpus A share with corpus B" for every
    source pair, without ever joining token sets corpus-to-corpus.
    Each source keeps its ``k`` minimum distinct token hashes (the
    :func:`kmv_distinct` order statistic, same 31-bit polynomial
    hash); for a pair the k smallest hashes of the sketch UNION form
    the sample ``D`` and ``J ≈ |D ∩ A ∩ B| / |D|`` (Beyer et al.
    2007's union/intersection estimator).  Everything downstream of
    the per-source sketch is SKETCH-sized — ``(n_sources² × k)``
    rows regardless of corpus size — and the whole estimate replays
    bit-exactly in SQL (integer order statistics, one 9 dp ratio).

    Output: ``(s1, s2, n_union_k, n_common, est_jaccard)`` with
    ``s1 < s2``.
    """
    from pyspark.sql.window import Window

    B, P = 1000003, 2147483647
    toks = (
        docs.select(
            F.col(group_col).alias("__g"),
            F.explode(
                F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
            ).alias("__tok"),
        )
        .filter(F.col("__tok") != "")
        .distinct()
    )
    h = F.aggregate(
        F.split(F.col("__tok"), ""),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * B + F.ascii(c)) % P,
    ) + 1
    hashed = toks.select("__g", h.alias("__h")).distinct()
    w = Window.partitionBy("__g").orderBy("__h")
    # persist: the sketch is (n_sources x k) rows — trivially small —
    # but its lineage is the full corpus tokenize + distinct; the
    # source list, both pair-join sides, and the union each replayed
    # it (6 live scans, tools/rescan_audit.py).  PER-CALL ACCUMULATION
    # (the _approx_rank_bins contract): LRU-reclaimed; clearCache()
    # reclaims eagerly.
    sk = (
        hashed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= int(k))
        .select("__g", "__h")
        .persist()
    )
    srcs = sk.select(F.col("__g").alias("s1")).distinct()
    pairs = srcs.crossJoin(
        srcs.select(F.col("s1").alias("s2"))
    ).filter(F.col("s1") < F.col("s2"))
    ra = pairs.join(
        sk.select(F.col("__g").alias("s1"), F.col("__h").alias("h")), "s1"
    ).select("s1", "s2", "h", F.lit(1).alias("i1"), F.lit(0).alias("i2"))
    rb = pairs.join(
        sk.select(F.col("__g").alias("s2"), F.col("__h").alias("h")), "s2"
    ).select("s1", "s2", "h", F.lit(0).alias("i1"), F.lit(1).alias("i2"))
    u = (
        ra.union(rb)
        .groupBy("s1", "s2", "h")
        .agg(F.max("i1").alias("i1"), F.max("i2").alias("i2"))
    )
    wp = Window.partitionBy("s1", "s2").orderBy("h")
    d = u.withColumn("__rn", F.row_number().over(wp)).filter(
        F.col("__rn") <= int(k)
    )
    return d.groupBy("s1", "s2").agg(
        F.count(F.lit(1)).cast("long").alias("n_union_k"),
        F.sum(F.col("i1") * F.col("i2")).cast("long").alias("n_common"),
        F.round(
            F.sum(F.col("i1") * F.col("i2")) / F.count(F.lit(1)), 9
        ).alias("est_jaccard"),
    )


def cms_topk(
    docs: DataFrame,
    d: int = 4,
    w: int = 1024,
    topk: int = 30,
    text_col: str = "text",
) -> DataFrame:
    """Count–Min sketch token-frequency estimates for the corpus's
    top-``topk`` tokens (Cormode & Muthukrishnan 2005) — the
    fixed-size frequency sketch a 100 TB stream aggregates instead of
    the full vocabulary: ``d x w`` counters, each row a different
    hash, point estimate = min over rows of the probed counter (a
    one-sided >= overestimate).

    Everything is deterministic integer arithmetic, so the sketch,
    the probe, and the estimate all replay bit-exactly in ANSI SQL:
    bucket hashing is the same Kirsch–Mitzenmacher double-hash over
    disjoint 60-bit md5 slices the Bloom filter uses (``bucket_j =
    (h1 mod w + j * (h2 mod w + 1)) mod w``).

    Plan: the exact per-token count table is vocabulary-sized
    (map-side combine); the sketch aggregates it to ``d*w`` rows
    (counter table, broadcast); the top-k tokens (count desc, token
    asc — deterministic) come from ``orderBy().limit()``, which
    Catalyst compiles to ``TakeOrderedAndProject`` — per-partition
    top-k merged at the driver, never a single-reducer global sort —
    and probe the counter table with a map-side join and a min
    aggregate.  At stream scale the counter table would aggregate
    straight off the token stream with identical semantics — summing
    exact per-token counts into buckets is associative either way.

    Output: ``(token, c_true, c_cms)`` with ``c_cms >= c_true``.
    """
    ww = int(w)
    counts = (
        docs.select(
            F.explode(
                F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
            ).alias("__tok")
        )
        .filter(F.col("__tok") != "")
        .groupBy("__tok")
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
    )

    def _buckets(col):
        h1 = F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")
        h2 = F.conv(F.substring(F.md5(col), 16, 15), 16, 10).cast("long")
        step = h2 % ww + 1
        return [(h1 % ww + j * step) % ww for j in range(int(d))]

    rows = counts.select(
        "__c",
        F.posexplode(F.array(*_buckets(F.col("__tok")))).alias(
            "__row", "__bucket"
        ),
    )
    sketch = rows.groupBy("__row", "__bucket").agg(
        F.sum("__c").alias("__cell")
    )
    top = counts.orderBy(F.desc("__c"), F.asc("__tok")).limit(int(topk))
    probes = top.select(
        "__tok",
        "__c",
        F.posexplode(F.array(*_buckets(F.col("__tok")))).alias(
            "__row", "__bucket"
        ),
    )
    est = (
        probes.join(F.broadcast(sketch), ["__row", "__bucket"])
        .groupBy("__tok", "__c")
        .agg(F.min("__cell").cast("long").alias("c_cms"))
    )
    return est.select(
        F.col("__tok").alias("token"),
        F.col("__c").alias("c_true"),
        "c_cms",
    )


def sentence_stats(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document sentence-length distribution: fragments split on
    terminal-punctuation runs (``[.!?]+`` — the RE2∩Java common
    dialect, no lookbehind), a sentence = a fragment with at least one
    word; reports sentence count, mean and max words per sentence,
    and the count of run-on sentences (>= 30 words, a Gopher-adjacent
    quality signal).

    Entirely per-row array expressions — no explode, no shuffle, no
    Python: the pass fuses into the parquet scan.  Documents with no
    sentence emit no row (a mean over zero sentences is undefined).
    """
    frags = F.split(F.col(text_col), r"[.!?]+")
    words = F.filter(
        F.transform(
            frags,
            lambda s: F.size(
                F.filter(F.split(F.trim(s), r"\s+"), lambda t: t != "")
            ),
        ),
        lambda c: c > 0,
    )
    n_sent = F.size(words)
    total = F.aggregate(
        words, F.lit(0).cast("long"), lambda a, c: a + c
    )
    longest = F.array_max(words)
    run_on = F.size(F.filter(words, lambda c: c >= 30))
    return (
        docs.select(
            F.col(id_col),
            n_sent.cast("long").alias("n_sentences"),
            total.alias("__tot"),
            longest.cast("long").alias("max_words"),
            run_on.cast("long").alias("n_run_on"),
        )
        .filter(F.col("n_sentences") > 0)
        .select(
            id_col,
            "n_sentences",
            F.round(F.col("__tot") / F.col("n_sentences"), 9).alias(
                "mean_words"
            ),
            "max_words",
            "n_run_on",
        )
    )


def token_entropy(
    docs: DataFrame, group_col: str = "source", text_col: str = "text"
) -> DataFrame:
    """Per-group Shannon entropy of the token distribution plus
    type-token ratio — the corpus-diversity diagnostics a data-mixture
    report leads with (low entropy = templated/boilerplate-heavy
    source).

    ``H = ln(N) - (1/N) * sum_t c_t * ln(c_t)`` over the group's
    token counts — one vocabulary-sized count table with map-side
    combine, then one group-sized aggregation; nats, rounded to 6 dp
    (the repo's established LM-score precision: float-sum order
    effects sit far below the rounding).

    Output: ``(group, n_tokens, n_types, ttr, entropy)``.
    """
    counts = (
        docs.select(
            F.col(group_col).alias("__g"),
            F.explode(
                F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
            ).alias("__tok"),
        )
        .filter(F.col("__tok") != "")
        .groupBy("__g", "__tok")
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
    )
    agg = counts.groupBy("__g").agg(
        F.sum("__c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.col("__c") * F.log("__c")).alias("__clogc"),
    )
    ent = F.log(F.col("n_tokens")) - F.col("__clogc") / F.col("n_tokens")
    return agg.select(
        F.col("__g").alias(group_col),
        "n_tokens",
        "n_types",
        F.round(F.col("n_types") / F.col("n_tokens"), 9).alias("ttr"),
        F.round(ent, 6).alias("entropy"),
    )


def jsd_sources(
    docs: DataFrame, group_col: str = "source", text_col: str = "text"
) -> DataFrame:
    """Jensen–Shannon divergence between each source's unigram
    distribution ``P`` and the whole-corpus distribution ``Q`` — the
    data-mixture "how far is this source from the blend" diagnostic
    (the distance DoReMi-style reweighting monitors).

    Uses the ``p = 0`` closed form so only a source's OWN tokens ever
    materialize: for tokens absent from the source, the entire
    contribution to ``KL(Q || M)`` collapses to ``ln 2 * (1 - sum_
    {p>0} q)``, so ``JSD = 0.5 * sum_{p>0} [p ln(2p/(p+q)) +
    q ln(2q/(p+q))] + 0.5 ln 2 * (1 - sum_{p>0} q)`` — no dense
    (source x vocabulary) matrix.  Bits-free (nats), 6 dp.

    Plan: one corpus count table and one per-source count table (both
    vocabulary-sized, map-side combine), an equi-join between them,
    scalar totals on a 1-row cross join, one per-source aggregation.

    Output: ``(group, n_tokens, jsd)`` — JSD in [0, ln 2].
    """
    import math

    toks = (
        docs.select(
            F.col(group_col).alias("__g"),
            F.explode(
                F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
            ).alias("__tok"),
        )
        .filter(F.col("__tok") != "")
    )
    # persist: the (source, token) count table is the single
    # corpus-sized aggregation; the corpus counts, scalar total, and
    # per-source totals all DERIVE from it (sums of the same exact
    # int64 counts), so the corpus is tokenized ONCE (the pre-persist
    # form replayed it for each derivative: 4 live scans,
    # tools/rescan_audit.py).  (sources x vocabulary)-sized rows.
    # PER-CALL ACCUMULATION (the _approx_rank_bins contract):
    # LRU-reclaimed; clearCache() reclaims eagerly.
    sc = toks.groupBy("__g", "__tok").agg(
        F.count(F.lit(1)).cast("long").alias("__cs")
    ).persist()
    cc = sc.groupBy("__tok").agg(
        F.sum("__cs").cast("long").alias("__cc")
    )
    totals = sc.agg(F.sum("__cs").cast("long").alias("__N"))
    stot = sc.groupBy("__g").agg(F.sum("__cs").cast("long").alias("__Ns"))
    j = (
        sc.join(cc, "__tok")
        .join(stot, "__g")
        .crossJoin(F.broadcast(totals.alias("tot")))
    )
    p = F.col("__cs") / F.col("__Ns")
    q = F.col("__cc") / F.col("tot.__N")
    term = p * F.log(F.lit(2.0) * p / (p + q)) + q * F.log(
        F.lit(2.0) * q / (p + q)
    )
    agg = j.groupBy("__g", "__Ns").agg(
        F.sum(term).alias("__t"), F.sum(q).alias("__qcov")
    )
    jsd = F.lit(0.5) * F.col("__t") + F.lit(0.5 * math.log(2.0)) * (
        F.lit(1.0) - F.col("__qcov")
    )
    return agg.select(
        F.col("__g").alias(group_col),
        F.col("__Ns").alias("n_tokens"),
        F.round(jsd, 6).alias("jsd"),
    )


def curation_funnel(
    docs: DataFrame,
    min_words: int = 40,
    min_stopwords: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
) -> DataFrame:
    """End-to-end corpus-curation funnel — the composition a real
    training-data pipeline runs, as ONE declarative plan: (1) the
    Gopher quality gate (:func:`gopher_rules`), (2) exact keep-first
    deduplication (md5 digest, min doc id wins), (3) the CCNet
    head/middle LM cut (:func:`perplexity_buckets` terciles — the
    tail tercile drops).  Per-source survivor counts at every stage,
    so the output is the attrition report data teams actually read.

    Stage semantics are conjunctive: ``n_quality`` counts gate
    passers, ``n_unique`` gate passers that are also their digest
    group's keeper (dedup runs corpus-wide, not post-gate), ``n_kept``
    additionally in the head/middle NLL terciles (empty documents
    have no likelihood and never reach ``n_kept``).

    Distributed shape: the gate is a zero-shuffle projection fused
    into the scan; dedup adds one digest-keyed aggregation
    (map-side combine) whose join back is broadcast-gated (AQE
    decides on a cluster); the LM stage is the `unigram_lm` /
    tercile plan (vocabulary-sized tables, 1-row threshold
    broadcast); the funnel itself is one group-sized aggregation.
    Exact percentile swaps to ``approx_percentile`` at 100 TB (the
    documented sketch substitution).

    RESCAN-JUSTIFIED(documents, 3): three corpus passes is this
    query's structural floor — (a) the gate+digest projection (the
    PERSISTED ``g`` table: doc-keyed metadata rows; the keep-first
    keeper derives from the cache, not a second digest scan), (b) the
    LM model-build pass, (c) the LM scoring pass (the
    unigram_lm_score two-pass floor).  The pre-fix plan ran EIGHT
    (tools/rescan_audit.py); collapsing below three would need a
    corpus-sized text cache — the documented negative precedent
    (aggregate.py).  PER-CALL ACCUMULATION (the _approx_rank_bins
    contract) on the ``g`` persist: LRU-reclaimed, clearCache() for
    eager reclamation.

    Output: ``(group, n_total, n_quality, n_unique, n_kept)``.
    """
    base = docs.withColumn("__digest", F.md5(F.col(text_col)))
    # persist: doc-keyed METADATA rows (id, group, digest, passes) —
    # the keeper aggregation and the funnel join both consume it;
    # without the cache each replays the gopher feature scan
    g = gopher_rules(
        base,
        min_words=min_words,
        min_stopwords=min_stopwords,
        text_col=text_col,
        id_col=id_col,
        keep_cols=(group_col, "__digest"),
    ).select(id_col, group_col, "__digest", "passes").persist()
    # keep-first keeper from the CACHED gate table (g carries every
    # document — `passes` is a flag, not a filter — so dedup is still
    # corpus-wide, as documented above)
    dmin = g.groupBy("__digest").agg(F.min(id_col).alias("__keeper"))
    pb = perplexity_buckets(docs, text_col=text_col, id_col=id_col).select(
        id_col, "bucket"
    )
    if session.single_host(docs.sparkSession):
        dmin = F.broadcast(dmin)
        pb = F.broadcast(pb)
    j = g.join(dmin, "__digest").join(pb, id_col, "left")
    uniq = (F.col(id_col) == F.col("__keeper")).cast("long")
    headmid = F.col("bucket").isin("head", "middle").cast("long")
    return j.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.sum("passes").cast("long").alias("n_quality"),
        F.sum(F.col("passes") * uniq).cast("long").alias("n_unique"),
        F.sum(F.col("passes") * uniq * F.coalesce(headmid, F.lit(0)))
        .cast("long")
        .alias("n_kept"),
    )


def token_burstiness(
    docs: DataFrame,
    topk: int = 30,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Dispersion (variance-to-mean ratio, "burstiness") of the
    top-``topk`` tokens' per-document counts — the template/boilerplate
    detector at the token level: a token that appears 40 times in a
    handful of documents and nowhere else (D >> 1) is navigation
    chrome; an evenly spread token (D ≈ 1, Poisson) is prose.

    Exactly integer until the final division: over all ``N`` corpus
    documents (zeros included), ``D = (N * Σc² - (Σc)²) / (N * Σc)``
    — both sums accumulate int64 from per-(token, doc) counts, so
    Spark's aggregation order cannot diverge from SQL.  9 dp.

    Plan: one (token, doc)-keyed count (map-side combine), one
    token-keyed fold to (tf, df, Σc²) — vocabulary-sized — a 1-row
    N broadcast, and ``TakeOrderedAndProject`` top-k.

    Output: ``(token, tf, df, burstiness)``.
    """
    per_doc = (
        docs.select(
            F.col(id_col).alias("__d"),
            F.explode(
                F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
            ).alias("__tok"),
        )
        .filter(F.col("__tok") != "")
        .groupBy("__tok", "__d")
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
    )
    per_tok = per_doc.groupBy("__tok").agg(
        F.sum("__c").cast("long").alias("tf"),
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum(F.col("__c") * F.col("__c")).cast("long").alias("__s2"),
    )
    ndocs = docs.agg(F.count(F.lit(1)).cast("long").alias("__N"))
    top = (
        per_tok.crossJoin(F.broadcast(ndocs))
        .orderBy(F.desc("tf"), F.asc("__tok"))
        .limit(int(topk))
    )
    disp = (
        F.col("__N") * F.col("__s2") - F.col("tf") * F.col("tf")
    ) / (F.col("__N") * F.col("tf"))
    return top.select(
        F.col("__tok").alias("token"),
        "tf",
        "df",
        F.round(disp, 9).alias("burstiness"),
    )


def cooccurrence_pmi(
    docs: DataFrame,
    topk: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Pointwise mutual information of document-level co-occurrence
    for every pair of the corpus's top-``topk`` tokens — the word-
    association statistic behind collocation mining and embedding
    objectives (PMI matrix factorization).

    ``PMI(a,b) = ln(n_ab * N / (n_a * n_b))`` over document counts
    (presence, not frequency); pairs that never co-occur emit no row
    (PMI undefined at -inf).  6 dp.

    Plan: the top-k membership table is ``topk``-rows and broadcast;
    the per-document presence stream filters against it BEFORE any
    shuffle (work bounded by topk-token hits) and is PERSISTED — both
    self-join sides read the cache (the pre-persist form re-tokenized
    the corpus once per side: 5 live scans, tools/rescan_audit.py);
    the pair count is one doc-keyed self-join of that bounded stream
    (<= topk rows per doc on each side) plus one pair-keyed
    aggregation — never a vocabulary² pair space.

    RESCAN-JUSTIFIED(documents, 3): three corpus passes is the floor —
    (a) the document-frequency ranking pass that picks the top-k,
    (b) the filtered-presence pass (dependent on (a)'s output),
    (c) the zero-column N count (parquet metadata-weight).  Collapsing
    (a)/(b) would need the corpus-sized distinct-presence table cached
    — the documented negative precedent (aggregate.py).  PER-CALL
    ACCUMULATION (the _approx_rank_bins contract) on the filtered-
    presence persist: LRU-reclaimed; clearCache() reclaims eagerly.

    Output: ``(tok_a, tok_b, n_a, n_b, n_ab, pmi)`` with
    ``tok_a < tok_b``.
    """
    pres = (
        docs.select(
            F.col(id_col).alias("__d"),
            F.explode(
                F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
            ).alias("__tok"),
        )
        .filter(F.col("__tok") != "")
        .distinct()
    )
    dfreq = pres.groupBy("__tok").agg(
        F.count(F.lit(1)).cast("long").alias("__df")
    )
    top = dfreq.orderBy(F.desc("__df"), F.asc("__tok")).limit(int(topk))
    ndocs = docs.agg(F.count(F.lit(1)).cast("long").alias("__N"))
    # persist: both pair-join sides consume t (topk-bounded rows)
    t = pres.join(
        F.broadcast(top.select(F.col("__tok"), F.col("__df"))), "__tok"
    ).persist()
    a = t.select(
        F.col("__d"),
        F.col("__tok").alias("tok_a"),
        F.col("__df").alias("n_a"),
    )
    b = t.select(
        F.col("__d").alias("__d2"),
        F.col("__tok").alias("tok_b"),
        F.col("__df").alias("n_b"),
    )
    pairs = (
        a.join(b, (F.col("__d") == F.col("__d2")) & (F.col("tok_a") < F.col("tok_b")))
        .groupBy("tok_a", "tok_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
    )
    out = pairs.crossJoin(F.broadcast(ndocs))
    pmi = F.log(
        F.col("n_ab").cast("double")
        * F.col("__N")
        / (F.col("n_a") * F.col("n_b"))
    )
    return out.select(
        "tok_a", "tok_b", "n_a", "n_b", "n_ab", F.round(pmi, 6).alias("pmi")
    )


def zipf_slope(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    top_r: int = 100,
) -> DataFrame:
    """Per-group Zipf (rank-frequency power-law) fit: the OLS slope of
    ``ln(count)`` against ``ln(rank)`` over the group's ``top_r`` most
    frequent tokens — natural text sits near -1; templated/boilerplate
    sources flatten, spammy keyword-stuffed ones steepen.  The
    companion diagnostic to :func:`token_entropy` and the Heaps curve.

    Plan: one vocabulary-sized count table (map-side combine), one
    rank window per group truncated to ``top_r`` rows (deterministic
    token tie-break), then a group-sized closed-form OLS aggregation —
    the per-group regression sums run over <= ``top_r`` rows.  6 dp
    (the repo's LM-score precision: float-sum order effects over
    <=100 summands sit far below the rounding).

    Output: ``(group, n_ranked, slope, intercept)``.
    """
    from pyspark.sql.window import Window

    counts = (
        docs.select(
            F.col(group_col).alias("__g"),
            F.explode(
                F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
            ).alias("__tok"),
        )
        .filter(F.col("__tok") != "")
        .groupBy("__g", "__tok")
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
    )
    w = Window.partitionBy("__g").orderBy(F.desc("__c"), F.col("__tok"))
    ranked = counts.withColumn("__r", F.row_number().over(w)).filter(
        F.col("__r") <= int(top_r)
    )
    x = F.log(F.col("__r").cast("double"))
    y = F.log(F.col("__c").cast("double"))
    agg = ranked.groupBy("__g").agg(
        F.count(F.lit(1)).cast("long").alias("n_ranked"),
        F.sum(x).alias("__sx"),
        F.sum(y).alias("__sy"),
        F.sum(x * x).alias("__sxx"),
        F.sum(x * y).alias("__sxy"),
    )
    n = F.col("n_ranked").cast("double")
    den = n * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    slope = (n * F.col("__sxy") - F.col("__sx") * F.col("__sy")) / den
    intercept = (F.col("__sy") - slope * F.col("__sx")) / n
    # a single ranked token has no slope (OLS denominator 0): NULL,
    # not an ANSI divide-by-zero
    return agg.select(
        F.col("__g").alias(group_col),
        "n_ranked",
        F.when(F.col("n_ranked") > 1, F.round(slope, 6)).alias("slope"),
        F.when(F.col("n_ranked") > 1, F.round(intercept, 6)).alias(
            "intercept"
        ),
    )


def distinct_ngrams(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    max_n: int = 3,
) -> DataFrame:
    """Per-group distinct-n diversity (Li et al. 2016): the ratio of
    DISTINCT word n-grams to total n-grams for n = 1..``max_n`` — the
    standard generation-diversity / mode-collapse metric, and for a
    training corpus a direct duplication pressure gauge (low distinct-2
    means the same phrases repeat everywhere).

    Plan: ONE corpus pass — every order's grams ride the same explode
    as ``(n, gram)`` structs (the combined-order count idiom the LM
    family uses), so the (group, n, gram) count and the per-(group, n)
    rollup each combine map-side over a single scan (the old
    one-explode-per-n form scanned the corpus ``max_n`` times,
    tools/rescan_audit.py).  Exact integers + one final division.

    STATED TRADE (the mutual_information/cliffs_delta precedent): at
    local[32]/sf0.1 the one-scan form measures ~10.5 s vs ~5.8 s for
    the 3-scan form, because the three 1/3-size shuffles ride spare
    cores in parallel over a ~200 MB file; at the 1000-executor design
    point every scan saturates the cluster, so max_n corpus scans cost
    max_n x the corpus IO and the single pass is the correct plan.  (A
    struct-free variant deriving n from the gram's word count measured
    within 6% — not worth diverging from the tagging idiom.)

    Output: ``(group, n, total_grams, distinct_grams, distinct_ratio)``.
    """
    from spatialdata_spark.pipeline.filters import word_ngrams, word_tokens

    toks = word_tokens(text_col)
    def _tag(order):
        # NOTE: a two-parameter lambda here would make F.transform bind
        # the ELEMENT INDEX to the second arg — the order must be
        # captured by closure, not by a default-argument parameter
        return F.transform(
            word_ngrams(toks, order),
            lambda g: F.struct(F.lit(order).alias("n"), g.alias("__gram")),
        )

    tagged = [_tag(n) for n in range(1, int(max_n) + 1)]
    grams = docs.select(
        F.col(group_col).alias("__g"),
        F.explode(F.concat(*tagged)).alias("__t"),
    ).select(
        "__g", F.col("__t.n").alias("n"), F.col("__t.__gram").alias("__gram")
    )
    per = grams.groupBy("__g", "n", "__gram").agg(
        F.count(F.lit(1)).cast("long").alias("__c")
    )
    out = per.groupBy("__g", "n").agg(
        F.sum("__c").cast("long").alias("total_grams"),
        F.count(F.lit(1)).cast("long").alias("distinct_grams"),
    )
    return out.select(
        F.col("__g").alias(group_col),
        "n",
        "total_grams",
        "distinct_grams",
        F.round(F.col("distinct_grams") / F.col("total_grams"), 9).alias(
            "distinct_ratio"
        ),
    )


def encoding_quality(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document encoding-health signals: U+FFFD replacement
    characters (the mojibake tombstone a lossy transcode leaves
    behind), C0 control characters other than tab/newline/carriage
    return, and the non-ASCII fraction — the cheap pre-filter that
    catches double-encoded or binary-contaminated documents before
    they poison tokenizer training.

    Pure per-row expressions — zero shuffle, zero explode, zero
    Python; the whole pass fuses into the parquet scan.

    Output: ``(id, n_chars, n_replacement, n_control, ascii_ratio,
    enc_ok)`` with ``enc_ok = 0`` when any replacement character or
    control character is present.
    """
    t = F.col(text_col)
    n = F.length(t)
    n_repl = n - F.length(F.regexp_replace(t, "�", ""))
    n_ctrl = n - F.length(
        F.regexp_replace(t, r"[\x00-\x08\x0B\x0C\x0E-\x1F]", "")
    )
    n_ascii = F.length(F.regexp_replace(t, r"[^\x00-\x7F]", ""))
    return docs.select(
        F.col(id_col),
        n.cast("long").alias("n_chars"),
        n_repl.cast("long").alias("n_replacement"),
        n_ctrl.cast("long").alias("n_control"),
        F.round(
            F.when(n > 0, n_ascii / n).otherwise(F.lit(1.0)), 9
        ).alias("ascii_ratio"),
        ((n_repl == 0) & (n_ctrl == 0)).cast("int").alias("enc_ok"),
    )


def script_profile(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document writing-script profile: character-class fractions
    for Latin, Cyrillic, Greek, CJK, Arabic, Hebrew, and digits — the
    multilingual-corpus report column that catches wrong-language
    routing and transliteration damage where token-level language ID
    cannot (it sees words, not alphabets).

    Pure per-row regexp-strip counting — zero shuffle, zero explode,
    zero Python; fuses into the parquet scan.  Character classes are
    contiguous Unicode ranges (RE2∩Java syntax, no properties), so the
    same expression replays in any engine.

    Output: ``(id, n_alpha, latin_frac, cyrillic_frac, greek_frac,
    cjk_frac, arabic_frac, hebrew_frac, digit_frac)`` with fractions
    over the TEXT length (not just letters), 9 dp.
    """
    t = F.col(text_col)
    n = F.length(t)

    def frac(pattern: str):
        cnt = n - F.length(F.regexp_replace(t, pattern, ""))
        return F.round(F.when(n > 0, cnt / n).otherwise(F.lit(0.0)), 9)

    classes = {
        "latin_frac": r"[A-Za-zÀ-ɏ]",
        "cyrillic_frac": r"[Ѐ-ӿ]",
        "greek_frac": r"[Ͱ-Ͽ]",
        "cjk_frac": r"[぀-ヿ一-鿿가-힯]",
        "arabic_frac": r"[؀-ۿ]",
        "hebrew_frac": r"[֐-׿]",
        "digit_frac": r"[0-9]",
    }
    alpha = n - F.length(
        F.regexp_replace(
            t,
            r"[A-Za-zÀ-ɏͰ-ϿЀ-ӿ֐-׿"
            r"؀-ۿ぀-ヿ一-鿿가-힯]",
            "",
        )
    )
    return docs.select(
        F.col(id_col),
        alpha.cast("long").alias("n_alpha"),
        *[frac(p).alias(name) for name, p in classes.items()],
    )


def key_skew(
    df: DataFrame, key_col: str, top_k: int = 10
) -> tuple[DataFrame, DataFrame]:
    """Partition-skew diagnostic for a prospective shuffle/join key:
    the heavy-hitter keys plus the Gini coefficient of the key's
    row-count distribution — the number that says whether a groupBy or
    join on this key needs salting / AQE skew handling BEFORE the job
    runs, not after one straggler task times out.

    Plan: one map-side-combinable count per key; the summary is
    key-cardinality-sized (exact Gini via the sorted-rank identity
    ``G = (2*sum(i*c_i)/(n*sum(c)) - (n+1)/n)`` with ONE rank window
    over the count table — the key table, not the data, gets sorted);
    heavy hitters are a TakeOrderedAndProject top-k, no global sort.

    Returns ``(heavy, summary)``: heavy = ``(key, n_rows, share)`` for
    the top ``top_k`` keys; summary = one row ``(n_keys, n_rows,
    max_share, gini)``, 9 dp.
    """
    from pyspark.sql.window import Window

    counts = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows")
    )
    tot = counts.agg(
        F.sum("n_rows").cast("long").alias("__t"),
        F.count(F.lit(1)).cast("long").alias("__k"),
        F.max("n_rows").cast("long").alias("__mx"),
    )
    heavy = (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "key",
            "n_rows",
            F.round(F.col("n_rows") / F.col("__t"), 9).alias("share"),
        )
        .orderBy(F.desc("n_rows"), "key")
        .limit(int(top_k))
    )
    w = Window.orderBy("n_rows", "key")
    ranked = counts.withColumn("__i", F.row_number().over(w))
    summary = (
        ranked.agg(
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.max("n_rows").cast("long").alias("__mx"),
            F.sum(F.col("__i") * F.col("n_rows")).cast("long").alias("__ic"),
        )
        .select(
            "n_keys",
            "n_rows",
            F.round(F.col("__mx") / F.col("n_rows"), 9).alias("max_share"),
            F.round(
                2.0 * F.col("__ic") / (F.col("n_keys") * F.col("n_rows"))
                - (F.col("n_keys") + 1.0) / F.col("n_keys"),
                9,
            ).alias("gini"),
        )
    )
    return heavy, summary


def hdr_quantiles(
    df: DataFrame,
    value_col: str,
    quantiles: tuple[float, ...] = (0.5, 0.9, 0.99),
    scale: int = 1_000_000,
    sub_bits: int = 5,
) -> DataFrame:
    """Deterministic mergeable quantile sketch — the engine-native swap
    for exact percentiles at corpus scale (this repo's exact-percentile
    queries document "approx_percentile at 100 TB"; this is the
    deterministic, SQL-replayable version of that swap).

    HDR-histogram-style buckets on INTEGER arithmetic only: a value
    maps to ``(e, sub)`` with ``e`` the bit length of
    ``floor(x * scale)`` (via the ``bin()`` string — no float log, so
    no libm boundary flips between engines) and ``sub`` the top
    ``sub_bits`` mantissa bits (integer shift).  Relative error is
    bounded by ``2^-sub_bits`` (~3% at the default 5); the bucket
    table is at most ``63 * 2^sub_bits`` rows per sketch — mergeable
    by plain count addition, the same fixed-size-state contract as
    the HLL/KMV/CMS sketches in this module.

    Plan: one map-side-combinable bucket count; quantile extraction is
    a cumulative window over the SORTED BUCKET TABLE (<= ~2k rows —
    metadata at any corpus size; the corpus itself is never sorted).
    Nonpositive values all land in bucket (0, 0) reported as 0; NULL
    values are filtered out before bucketization (they carry no
    magnitude — counting them as 0 would shift every quantile).

    Output: one row per requested quantile ``(q, n, est)`` with
    ``est`` the bucket lower bound back in value units, 9 dp.
    """
    from pyspark.sql.window import Window

    m = F.floor(F.col(value_col) * F.lit(int(scale))).cast("long")
    pos = F.when(m > 0, m).otherwise(F.lit(0))
    e = F.when(pos > 0, F.length(F.bin(pos))).otherwise(F.lit(0))
    shift = F.greatest(e - F.lit(1 + int(sub_bits)), F.lit(0))
    staged = df.filter(F.col(value_col).isNotNull()).select(
        pos.alias("__pos"), e.alias("__e"), shift.alias("__sh")
    )
    # integer right shift == DIV 2^sh for nonnegative values — no float
    buckets = staged.select(
        "__e",
        F.expr("shiftright(__pos, cast(__sh AS int))").alias("__sub"),
        "__sh",
    ).groupBy("__e", "__sub", "__sh").agg(
        F.count(F.lit(1)).cast("long").alias("__c")
    )
    w = Window.orderBy("__e", "__sub")
    cum = buckets.withColumn("__cum", F.sum("__c").over(w)).withColumn(
        "__lb", F.expr("shiftleft(__sub, cast(__sh AS int))")
    )
    tot = cum.agg(F.max("__cum").cast("long").alias("__n"))
    qdf = df.sparkSession.createDataFrame(
        [(float(q),) for q in quantiles], ["q"]
    )
    # smallest bucket whose cumulative count reaches ceil(q * n)
    probe = (
        cum.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(qdf))
        .filter(F.col("__cum") >= F.ceil(F.col("q") * F.col("__n")))
        .groupBy("q")
        .agg(
            F.max("__n").alias("n"),
            F.min(F.struct("__e", "__sub", "__lb")).alias("__b"),
        )
    )
    return probe.select(
        "q",
        F.col("n").cast("long"),
        F.round(F.col("__b.__lb") / float(scale), 9).alias("est"),
    )


def stupid_backoff_score(
    docs: DataFrame,
    alpha_num: int = 4,
    alpha_den: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    train_docs: DataFrame | None = None,
) -> DataFrame:
    """Per-document mean log-score under the corpus's own Stupid
    Backoff bigram model (Brants et al. 2007) — THE web-scale LM
    smoothing: no discounting mass to normalize (scores, not
    probabilities), so the whole model is two count tables and the
    backoff is a CASE expression.  The top rung of this repo's
    quality ladder (unigram -> add-one bigram -> Stupid Backoff).

    ``S(b|a) = c(ab)/c(a)`` when ``c(ab) > 0``, else
    ``alpha * c(b)/N`` with ``alpha = alpha_num/alpha_den`` (0.4 as
    published); ``score(doc) = mean(ln S)`` over bigrams, 6 dp.  The
    backoff branch is reached through a LEFT join on the bigram
    table — unseen continuations never materialize rows.

    ``train_docs`` (default: ``docs`` itself — the CCNet own-corpus
    convention) holds the corpus the counts come from; pass a separate
    slice to score held-out text, where the backoff branch actually
    fires (scoring the training corpus itself can never hit it —
    every observed bigram has ``c(ab) > 0`` by construction).  Scored
    tokens absent even from the UNIGRAM table keep the row's bigram
    unscored (inner join on the scored side's unigrams) — full-OOV
    handling belongs to the add-one model, not to backoff.

    Plan identical to :func:`bigram_lm_score`: the model is built in
    ONE train-corpus pass (combined-order gram explode counted once,
    PERSISTED, distinct-gram-sized — the pre-persist form ran separate
    bigram/unigram/totals explodes: 5 corpus scans per evaluation,
    tools/rescan_audit.py); the context, continuation, and N tables
    all derive from the cache; vocabulary-sized joins, 1-row constants,
    map-side-combining per-document mean.  Two corpus passes total.
    PER-CALL ACCUMULATION (the _approx_rank_bins contract) on the
    gram-count persist: LRU-reclaimed; clearCache() reclaims eagerly.
    """
    from .filters import word_ngrams, word_tokens

    tr = train_docs if train_docs is not None else docs
    base = docs.filter(F.length(F.trim(F.col(text_col))) > 0).select(
        F.col(id_col), word_tokens(text_col).alias("__toks")
    )
    tbase = tr.filter(F.length(F.trim(F.col(text_col))) > 0).select(
        word_tokens(text_col).alias("__toks")
    )
    bg = base.select(
        id_col, F.explode(word_ngrams(F.col("__toks"), 2)).alias("__g")
    ).withColumn("__a", F.substring_index(F.col("__g"), " ", 1)).withColumn(
        "__b", F.substring_index(F.col("__g"), " ", -1)
    )
    # ONE model pass: both orders in one explode, counted together,
    # persisted; c2/c1/cb/N all read the cache
    cnt = (
        tbase.select(
            F.explode(
                F.concat(word_ngrams(F.col("__toks"), 2), F.col("__toks"))
            ).alias("__g")
        )
        .groupBy("__g")
        .agg(F.count(F.lit(1)).alias("__c"))
        .persist()
    )
    c2 = cnt.filter(F.col("__g").contains(" ")).select(
        "__g", F.col("__c").alias("__c2")
    )
    cu = cnt.filter(~F.col("__g").contains(" ")).select(
        F.col("__g").alias("__t2"), F.col("__c").alias("__cu")
    )
    c1 = cu.select(F.col("__t2").alias("__a"), F.col("__cu").alias("__c1"))
    cb = cu.select(F.col("__t2").alias("__b"), F.col("__cu").alias("__cb"))
    totals = cu.agg(F.sum("__cu").alias("__N"))
    scored = (
        bg.join(c2, "__g", "left")
        .join(c1, "__a")
        .join(cb, "__b")
        .crossJoin(F.broadcast(totals.alias("tot")))
    )
    alpha = F.lit(alpha_num) / F.lit(alpha_den)
    s = F.when(
        F.col("__c2").isNotNull(), F.col("__c2") / F.col("__c1")
    ).otherwise(alpha * F.col("__cb") / F.col("tot.__N"))
    return scored.groupBy(id_col).agg(
        F.round(F.avg(F.log(s)), 6).alias("sb_score")
    )


def kneser_ney_score(
    docs: DataFrame,
    d_num: int = 3,
    d_den: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    train_docs: DataFrame | None = None,
) -> DataFrame:
    """Per-document mean log-probability under an INTERPOLATED
    Kneser-Ney bigram model (Kneser & Ney 1995; the interpolated form
    of Chen & Goodman 1999 §3 with one fixed discount) — the top rung
    of this repo's smoothing ladder (unigram -> add-one bigram ->
    Stupid Backoff -> KN): unlike backoff-to-frequency, the lower-order
    distribution is the CONTINUATION probability ("how many contexts
    does this word follow?"), the fix for the "San Francisco problem"
    where a frequent-but-context-bound word steals backoff mass.

    With ``D = d_num/d_den`` (0.75 published default) and train-corpus
    statistics ``c(ab)`` (bigram count), ``ctx(a) = sum_b c(ab)``,
    ``n1p(a) = |{b : c(ab) > 0}|``, ``n1b(b) = |{a : c(ab) > 0}|``,
    ``n1tot = |{(a,b) : c(ab) > 0}|``::

        pc(b)   = n1b(b) / n1tot                       (continuation)
        P(b|a)  = max(c(ab) - D, 0)/ctx(a)
                  + (D * n1p(a) / ctx(a)) * pc(b)       (seen context)
                = pc(b)                                 (unseen context)

    ``score(doc) = mean(ln P)`` over bigrams, 6 dp (the family's
    documented absorption of ln()/mean-order last-ulp differences —
    every sufficient statistic above is an exact integer, and P is a
    fixed-arity double expression per row).

    ``train_docs`` defaults to ``docs`` (own-corpus scoring); pass a
    held-out slice to make the unseen-context branch fire.  A bigram
    whose CONTINUATION word appears nowhere in training is dropped
    (inner join on ``n1b``) — full-OOV handling belongs to the add-one
    model, the family convention (:func:`stupid_backoff_score`).

    Plan: all four statistic tables are vocabulary-/type-sized with
    map-side combine (``n1p``/``ctx`` share one aggregation over the
    bigram-type table), joins between them, a 1-row type total —
    the corpus is scanned once per side and never shuffles.
    """
    from .filters import word_ngrams, word_tokens

    tr = train_docs if train_docs is not None else docs
    base = docs.filter(F.length(F.trim(F.col(text_col))) > 0).select(
        F.col(id_col), word_tokens(text_col).alias("__toks")
    )
    tbase = tr.filter(F.length(F.trim(F.col(text_col))) > 0).select(
        word_tokens(text_col).alias("__toks")
    )
    bg = (
        base.select(
            id_col, F.explode(word_ngrams(F.col("__toks"), 2)).alias("__g")
        )
        .withColumn("__a", F.substring_index(F.col("__g"), " ", 1))
        .withColumn("__b", F.substring_index(F.col("__g"), " ", -1))
    )
    tbg = (
        tbase.select(F.explode(word_ngrams(F.col("__toks"), 2)).alias("__g"))
        .withColumn("__a", F.substring_index(F.col("__g"), " ", 1))
        .withColumn("__b", F.substring_index(F.col("__g"), " ", -1))
    )
    c2 = tbg.groupBy("__a", "__b").agg(F.count(F.lit(1)).alias("__c2"))
    # persist the bigram-TYPE table: three statistics derive from it
    c2 = c2.persist()
    ctx = c2.groupBy("__a").agg(
        F.sum("__c2").alias("__ctx"), F.count(F.lit(1)).alias("__n1p")
    )
    n1b = c2.groupBy("__b").agg(F.count(F.lit(1)).alias("__n1b"))
    n1tot = c2.agg(F.count(F.lit(1)).alias("__nt"))
    scored = (
        bg.join(c2, ["__a", "__b"], "left")
        .join(ctx, "__a", "left")
        .join(n1b, "__b")
        .crossJoin(F.broadcast(n1tot))
    )
    d = F.lit(int(d_num)) / F.lit(int(d_den))
    pcont = F.col("__n1b") / F.col("__nt")
    p = F.when(
        F.col("__ctx").isNotNull(),
        F.greatest(F.coalesce(F.col("__c2"), F.lit(0)) - d, F.lit(0.0))
        / F.col("__ctx")
        + (d * F.col("__n1p") / F.col("__ctx")) * pcont,
    ).otherwise(pcont)
    return scored.groupBy(id_col).agg(
        F.round(F.avg(F.log(p)), 6).alias("kn_score")
    )


def chi2_tokens(
    docs: DataFrame,
    label_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 10,
    min_df: int = 2,
) -> DataFrame:
    """Per-label top-``top_k`` discriminative tokens by the one-vs-rest
    chi-squared statistic over document presence counts — the classic
    feature-selection / "what words characterize this source" report
    (Yang & Pedersen 1997).

    For token t and label L, the 2x2 presence table is ``a`` (docs of
    L containing t), ``b`` (other docs containing t), ``c`` (docs of L
    without t), ``d`` (the rest), and
    ``chi2 = N*(ad-bc)^2 / ((a+b)(c+d)(a+c)(b+d))``.

    Plan: presence pairs come from ONE map-side explode of
    ``array_distinct`` (within-doc dedup never shuffles); the
    (token, label) count table is vocabulary-sized with map-side
    combine; the per-token total is a window SHARING a token-keyed
    exchange of that table (no aggregate-aggregate join); label doc
    counts and the corpus total are tiny broadcasts.  The ranking
    window orders by the ROUNDED statistic with a token tie-break, so
    the top-k set is deterministic on any engine.  All counts are
    exact int64 (``a*d`` bounded by N^2 — exact below ~3e9 documents,
    the same bound its siblings document); the statistic goes through
    DOUBLE only in the final ratio, 6 dp.

    Output: ``(label, token, df_label, chi2, rank)``.
    """
    from pyspark.sql.window import Window

    from .filters import word_tokens

    presence = docs.filter(F.length(F.trim(F.col(text_col))) > 0).select(
        F.col(label_col).alias("label"),
        F.col(id_col),
        F.explode(F.array_distinct(word_tokens(text_col))).alias("token"),
    )
    ct = presence.groupBy("token", "label").agg(
        F.count(F.lit(1)).cast("long").alias("a")
    )
    tok_w = Window.partitionBy("token")
    ct = ct.withColumn("ab", F.sum("a").over(tok_w))
    # persist: label-cardinality rows; the corpus total DERIVES from
    # the cache (sum of the same exact counts), so the doc-count pass
    # runs once (3 live scans pre-fix, tools/rescan_audit.py).
    # PER-CALL ACCUMULATION (the _approx_rank_bins contract):
    # LRU-reclaimed; clearCache() reclaims eagerly.
    label_docs = (
        docs.filter(F.length(F.trim(F.col(text_col))) > 0)
        .groupBy(F.col(label_col).alias("label"))
        .agg(F.count(F.lit(1)).cast("long").alias("ac"))
        .persist()
    )
    n_tot = label_docs.agg(F.sum("ac").cast("long").alias("n"))
    j = (
        ct.filter(F.col("ab") >= int(min_df))
        .join(F.broadcast(label_docs), "label")
        .crossJoin(F.broadcast(n_tot))
    )
    a = F.col("a")
    b = F.col("ab") - a
    c = F.col("ac") - a
    d = F.col("n") - F.col("ab") - c
    det = (a * d - b * c).cast("double")
    den = ((a + b) * (c + d)).cast("double") * ((a + c) * (b + d)).cast("double")
    # a margin of zero (token in every doc / label owning the corpus)
    # means no discriminative power: chi2 = 0 by convention (det is 0
    # too; the ratio is 0/0 and ANSI division would reject it)
    chi2 = F.when(
        den > 0,
        F.round(F.col("n").cast("double") * det * det / den, 6),
    ).otherwise(F.lit(0.0))
    scored = j.select(
        "label",
        "token",
        a.alias("df_label"),
        chi2.alias("chi2"),
    )
    rk = Window.partitionBy("label").orderBy(F.desc("chi2"), F.asc("token"))
    return (
        scored.withColumn("rank", F.row_number().over(rk))
        .filter(F.col("rank") <= int(top_k))
    )


def ks_2sample(
    docs: DataFrame,
    value_col: str = "n_chars",
    group_col: str = "source",
    group_a: str = "src0",
    group_b: str = "src1",
) -> DataFrame:
    """EXACT two-sample Kolmogorov-Smirnov statistic between two
    groups' distributions of an integer-valued column — the
    distribution-shift gate for "did this shard's length/score profile
    drift from the reference slice".

    ``D = max_v |F_a(v) - F_b(v)|`` evaluated on the merged distinct
    value grid; the comparison cross-multiplies to exact integers
    (``|cum_a*n_b - cum_b*n_a|``), so the statistic is
    order-independent and bit-exact on any engine (int64-safe below
    ~3e9 rows per group, the module's documented bound).

    Plan: one value-keyed count aggregation (map-side combine) —
    the only corpus-sized shuffle; the cumulative window runs over the
    DISTINCT VALUE GRID (value-domain-sized, e.g. every observed
    document length: thousands of rows at ANY corpus size), which is
    why the single-partition window is safe; totals are a 1-row
    broadcast.

    Output: one row ``(n_a, n_b, ks_num, ks_den, ks_stat)`` with
    ``ks_stat = ks_num/ks_den`` rounded to 9 dp.
    """
    from pyspark.sql.window import Window

    v = F.col(value_col)
    # NULL values are DROPPED: a NULL would become a grid point whose
    # position differs by engine (Spark windows sort NULLS FIRST, SQL
    # engines commonly NULLS LAST), shifting every cumulative count —
    # and "smallest value" is not a meaningful KS semantics for NULL
    filt = (
        docs.filter(F.col(group_col).isin([group_a, group_b]))
        .filter(v.isNotNull())
        .select(
            v.alias("val"),
            F.when(F.col(group_col) == group_a, 1).otherwise(0).alias("__ia"),
        )
    )
    counts = filt.groupBy("val").agg(
        F.sum("__ia").cast("long").alias("ca"),
        F.sum(1 - F.col("__ia")).cast("long").alias("cb"),
    )
    w = Window.orderBy("val").rowsBetween(Window.unboundedPreceding, 0)
    cum = counts.select(
        "val",
        F.sum("ca").over(w).alias("cum_a"),
        F.sum("cb").over(w).alias("cum_b"),
    )
    tot = counts.agg(
        F.sum("ca").cast("long").alias("n_a"),
        F.sum("cb").cast("long").alias("n_b"),
    )
    # an empty group (usually a typo'd group name) fails LOUDLY at
    # execution, naming the missing group — ks_den = n_a*n_b = 0 would
    # otherwise yield a silent NULL ks_stat (or an ANSI division
    # error), contrary to the repo's reject-loudly convention
    err = F.concat(
        F.lit("ks_2sample: empty group — "),
        F.when(
            F.coalesce(F.col("n_a"), F.lit(0)) == 0,
            F.lit(f"group_a='{group_a}' has no rows; "),
        ).otherwise(F.lit("")),
        F.when(
            F.coalesce(F.col("n_b"), F.lit(0)) == 0,
            F.lit(f"group_b='{group_b}' has no rows; "),
        ).otherwise(F.lit("")),
        F.lit(f"check the '{group_col}' names and '{value_col}' for NULLs"),
    )
    def g(col):
        # the loud empty-group error guards EVERY output column (the
        # herfindahl pattern): attached to one column only, Catalyst's
        # column pruning would silently bypass it under a narrower
        # select; the NULL condition of an all-empty input also lands
        # in the raising branch
        return F.when((F.col("n_a") > 0) & (F.col("n_b") > 0), col).otherwise(
            F.raise_error(err)
        )

    return (
        cum.crossJoin(F.broadcast(tot))
        .agg(
            F.max("n_a").alias("n_a"),
            F.max("n_b").alias("n_b"),
            F.max(
                F.abs(F.col("cum_a") * F.col("n_b") - F.col("cum_b") * F.col("n_a"))
            ).alias("ks_num"),
            F.max(F.col("n_a") * F.col("n_b")).alias("ks_den"),
        )
        .select(
            g(F.col("n_a")).alias("n_a"),
            g(F.col("n_b")).alias("n_b"),
            g(F.col("ks_num")).alias("ks_num"),
            g(F.col("ks_den")).alias("ks_den"),
            g(F.round(F.col("ks_num") / F.col("ks_den"), 9)).alias("ks_stat"),
        )
    )


def mann_whitney_u(
    docs: DataFrame,
    value_col: str = "n_chars",
    group_col: str = "source",
    group_a: str = "src0",
    group_b: str = "src1",
) -> DataFrame:
    """EXACT Mann-Whitney U (Wilcoxon rank-sum) statistic between two
    groups' distributions of an integer-valued column — the
    location-shift companion of :func:`ks_2sample` (KS reacts to ANY
    CDF gap; U asks the curation question directly: "if I draw one doc
    from each group, how often is A's value larger?").

    Midrank tie handling with NO floats: the average rank of the
    ``cnt_v`` rows sharing value ``v`` is ``cum_before + (cnt_v+1)/2``,
    so DOUBLED rank sums stay integer —
    ``2*R_a = sum_v ca_v * (2*cum_before_v + cnt_v + 1)`` — and
    ``u2_a = 2*R_a - n_a*(n_a+1)`` is the exact doubled U statistic,
    an order-free int64.  The effect size (the probability estimate
    above, ties counted half — literally the AUC of "value predicts
    group") is ``u2_a / (2*n_a*n_b)``, ONE division, 6 dp.

    Plan: identical to ks_2sample — one value-keyed count aggregation
    (map-side combine, the only corpus-sized shuffle), then the
    cumulative window over the DISTINCT VALUE GRID (value-domain-sized
    at any corpus scale), totals a 1-row broadcast.  NULL values
    dropped, empty groups fail LOUDLY (both the ks_2sample
    conventions).

    Output: one row ``(n_a, n_b, u2_a, auc_ab)``.
    """
    from pyspark.sql.window import Window

    v = F.col(value_col)
    filt = (
        docs.filter(F.col(group_col).isin([group_a, group_b]))
        .filter(v.isNotNull())
        .select(
            v.alias("val"),
            F.when(F.col(group_col) == group_a, 1).otherwise(0).alias("__ia"),
        )
    )
    counts = filt.groupBy("val").agg(
        F.sum("__ia").cast("long").alias("ca"),
        F.sum(1 - F.col("__ia")).cast("long").alias("cb"),
    )
    w = Window.orderBy("val").rowsBetween(Window.unboundedPreceding, 0)
    cum = counts.select(
        "ca",
        (F.col("ca") + F.col("cb")).alias("__ct"),
        (F.sum(F.col("ca") + F.col("cb")).over(w) - (F.col("ca") + F.col("cb")))
        .cast("long")
        .alias("__before"),
    )
    tot = counts.agg(
        F.sum("ca").cast("long").alias("n_a"),
        F.sum("cb").cast("long").alias("n_b"),
    )
    err = F.concat(
        F.lit("mann_whitney_u: empty group — "),
        F.when(
            F.coalesce(F.col("n_a"), F.lit(0)) == 0,
            F.lit(f"group_a='{group_a}' has no rows; "),
        ).otherwise(F.lit("")),
        F.when(
            F.coalesce(F.col("n_b"), F.lit(0)) == 0,
            F.lit(f"group_b='{group_b}' has no rows; "),
        ).otherwise(F.lit("")),
        F.lit(f"check the '{group_col}' names and '{value_col}' for NULLs"),
    )
    r2a = F.sum(
        F.col("ca") * (2 * F.col("__before") + F.col("__ct") + 1)
    ).cast("long")
    def g(col):
        # per-column loud-error guard (the herfindahl pattern): a
        # single-column raise is prunable under a narrower select
        return F.when((F.col("n_a") > 0) & (F.col("n_b") > 0), col).otherwise(
            F.raise_error(err)
        )

    return (
        cum.crossJoin(F.broadcast(tot))
        .agg(
            F.max("n_a").alias("n_a"),
            F.max("n_b").alias("n_b"),
            (r2a - F.max("n_a") * (F.max("n_a") + 1)).cast("long").alias("u2_a"),
        )
        .select(
            g(F.col("n_a")).alias("n_a"),
            g(F.col("n_b")).alias("n_b"),
            g(F.col("u2_a")).alias("u2_a"),
            g(
                F.round(F.col("u2_a") / (2.0 * F.col("n_a") * F.col("n_b")), 6)
            ).alias("auc_ab"),
        )
    )


def token_gini(
    docs: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Gini coefficient of the corpus token-frequency distribution —
    the one-number concentration report ("is this corpus a handful of
    boilerplate tokens or a broad vocabulary?"), the distributional
    companion of :func:`zipf_slope` (the slope fits the shape; Gini
    integrates the inequality).

    With type frequencies sorted ascending ``x_1 <= ... <= x_n``::

        gini = (2 * sum_i i*x_i - (n+1) * sum_i x_i) / (n * sum_i x_i)

    Exactness: the numerator is an exact integer (DECIMAL(38,0) inside
    the sums — rank*count products reach vocab_size * corpus_tokens —
    BIGINT at the edge; equal frequencies make the rank assignment
    among ties irrelevant to the sum, so ``row_number`` over
    ``(count, token)`` is deterministic AND order-free in value);
    ``gini`` is ONE division, 6 dp.  Tokenization is the module
    convention: ``split(lower(trim(text)), '\\s+')``.

    Plan: one token-keyed count (map-side combine, the corpus-sized
    shuffle), then the rank window over the VOCABULARY-sized type
    table — thousands of rows at any corpus size, the documented
    single-partition-window absorption.

    Output: one row ``(n_types, total_tokens, gini_num, gini)``;
    empty corpus fails loudly.
    """
    from pyspark.sql.window import Window

    dec = "decimal(38,0)"
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    counts = (
        docs.select(F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    w = Window.orderBy("tf", "token")
    ranked = counts.select(
        F.col("tf"), F.row_number().over(w).cast("long").alias("__i")
    )
    agg = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum("tf").cast("long").alias("total_tokens"),
        F.sum(F.col("__i").cast(dec) * F.col("tf").cast(dec)).alias("__ix"),
        F.sum(F.col("tf").cast(dec)).alias("__sx"),
    )
    num = (
        2 * F.col("__ix") - (F.col("n_types") + 1).cast(dec) * F.col("__sx")
    )
    err = F.lit("token_gini: empty corpus (no tokens)")

    def g(col):
        # per-column loud-error guard (the herfindahl pattern): a
        # single-column raise is prunable under a narrower select
        return F.when(
            (F.col("n_types") > 0) & (F.col("total_tokens") > 0), col
        ).otherwise(F.raise_error(err))

    return agg.select(
        g(F.col("n_types")).alias("n_types"),
        g(F.col("total_tokens")).alias("total_tokens"),
        g(num.cast("long")).alias("gini_num"),
        g(
            F.round(
                num.cast("double")
                / (F.col("n_types").cast("double") * F.col("total_tokens")),
                6,
            )
        ).alias("gini"),
    )


def log_odds_tokens(
    docs: DataFrame,
    group_col: str = "source",
    group_a: str = "src0",
    group_b: str = "src1",
    text_col: str = "text",
    min_count: int = 5,
    top_k: int = 20,
) -> DataFrame:
    """Z-scored log-odds-ratio of token usage between two groups with a
    symmetric +1 Dirichlet prior (Monroe, Colaresi & Quinn 2008,
    "Fightin' Words" — the uninformative-prior variant): THE standard
    "which words distinguish corpus A from corpus B" report, where raw
    frequency ratios overweight rare words and chi-square overweights
    common ones::

        delta_w = ln((y_a + 1) / (n_a + V - y_a - 1))
                - ln((y_b + 1) / (n_b + V - y_b - 1))
        z_w     = delta_w / sqrt(1/(y_a + 1) + 1/(y_b + 1))

    with ``y_g`` the token's count in group g, ``n_g`` the group's
    token total and ``V`` the union vocabulary size (computed BEFORE
    the ``min_count`` report filter — the prior must not depend on the
    reporting threshold).

    Exactness: every input statistic is an exact int64 count from ONE
    token-keyed conditional aggregation; delta/z are fixed-arity
    doubles (two ln, one sqrt — the family's documented absorption),
    6 dp.  The report keeps tokens with ``y_a + y_b >= min_count`` and
    emits the ``top_k`` by ``(round(|z|, 6) DESC, token)`` — ordering
    on the ROUNDED score so a last-ulp libm difference cannot reorder
    the cut; token tie-break pins equal scores.

    Plan: one corpus-sized explode + token-keyed count (map-side
    combine), then everything runs on the vocabulary-sized table; the
    top-k is a TakeOrdered, never a full sort shuffle.

    Output: ``(token, y_a, y_b, delta, z)``.
    """
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    both = docs.filter(F.col(group_col).isin([group_a, group_b])).select(
        F.when(F.col(group_col) == group_a, 1).otherwise(0).alias("__ia"),
        F.explode(toks).alias("token"),
    )
    counts = both.groupBy("token").agg(
        F.sum("__ia").cast("long").alias("y_a"),
        F.sum(1 - F.col("__ia")).cast("long").alias("y_b"),
    )
    tot = counts.agg(
        F.sum("y_a").cast("long").alias("__na"),
        F.sum("y_b").cast("long").alias("__nb"),
        F.count(F.lit(1)).cast("long").alias("__v"),
    )
    j = counts.crossJoin(F.broadcast(tot)).filter(
        F.col("y_a") + F.col("y_b") >= int(min_count)
    )
    la = F.log(
        (F.col("y_a") + 1)
        / (F.col("__na") + F.col("__v") - F.col("y_a") - 1).cast("double")
    )
    lb = F.log(
        (F.col("y_b") + 1)
        / (F.col("__nb") + F.col("__v") - F.col("y_b") - 1).cast("double")
    )
    delta = la - lb
    z = delta / F.sqrt(1.0 / (F.col("y_a") + 1) + 1.0 / (F.col("y_b") + 1))
    scored = j.select(
        "token",
        "y_a",
        "y_b",
        F.round(delta, 6).alias("delta"),
        F.round(z, 6).alias("z"),
        F.round(F.abs(z), 6).alias("__az"),
    )
    return (
        scored.orderBy(F.desc("__az"), F.col("token"))
        .limit(int(top_k))
        .select("token", "y_a", "y_b", "delta", "z")
    )


def benford_deviation(
    df: DataFrame,
    value_col: str = "n_chars",
) -> DataFrame:
    """Leading-digit distribution of a positive INTEGER column against
    Benford's law — the classic fabricated-or-truncated-data screen
    for numeric metadata columns (naturally-growing quantities follow
    ``P(d) = log10(1 + 1/d)``; uniform or clipped generators don't).

    Exactness: the leading digit of an INTEGER comes from one string
    cast + substr — no float log10 anywhere near the digit extraction
    (a ``floor(v / 10^floor(log10 v))`` formulation can mis-extract at
    power-of-ten boundaries where libm log10 differs in the last ulp).
    Counts are exact int64; the expected Benford fraction is a
    LITERAL per digit (computed once in Python — both engines compare
    against the identical constant); the deviation per digit is one
    subtraction, 6 dp.  Rows with NULL or non-positive values are
    DROPPED (Benford is defined on positive magnitudes; zero has no
    leading digit).

    Plan: one digit-keyed conditional count (map-side combine, 9-row
    result) + a 1-row total broadcast — the flattest shape.

    Output: ``(digit, n, frac, benford_frac, dev)`` for digits 1-9
    (absent digits report n=0), plus the ``mad`` column repeated per
    row is deliberately NOT emitted — consumers sum ``abs(dev)``/9.
    """
    import math

    v = F.col(value_col)
    base = df.filter(v.isNotNull() & (v > 0)).select(
        F.substring(v.cast("string"), 1, 1).cast("int").alias("__d")
    )
    counts = base.groupBy("__d").agg(F.count(F.lit(1)).cast("long").alias("n"))
    digits = base.sparkSession.range(1, 10).select(F.col("id").cast("int").alias("digit"))
    tot = counts.agg(F.sum("n").cast("long").alias("__t"))
    bf = F.array(*[F.lit(round(math.log10(1 + 1 / d), 6)) for d in range(1, 10)])
    j = (
        digits.join(counts.withColumnRenamed("__d", "digit"), "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"),
            F.col("__t"),
        )
    )
    frac = F.when(F.col("__t") > 0, F.round(F.col("n") / F.col("__t"), 6))
    bfrac = F.element_at(bf, F.col("digit"))
    return j.select(
        "digit",
        "n",
        frac.alias("frac"),
        bfrac.alias("benford_frac"),
        F.when(
            F.col("__t") > 0, F.round(F.col("n") / F.col("__t") - bfrac, 6)
        ).alias("dev"),
    ).orderBy("digit")


def _grouped_value_cumulatives(counts: DataFrame):
    """Shared scaffolding for the grid-cumulative drift family
    (:func:`ks_matrix` / :func:`cliffs_delta`): densify the
    ``(__g, val, __c)`` counts onto the full distinct-value grid x
    group set and attach the per-group INCLUSIVE cumulative.  Returns
    ``(cum, tot)``: ``cum = (__g, val, __c, __cum)`` with zero-filled
    ``__c``, ``tot = (__g, __n)``.  Every table here is
    (value domain x groups)-sized — metadata at any corpus scale — so
    the joins BROADCAST by contract; a sort-merge join here would
    smell like corpus work.

    PER-CALL ACCUMULATION (the _approx_rank_bins contract): the
    ``counts`` persist below is never unpersisted here — the
    one-evaluation guarantee must hold through the caller's later lazy
    job — so each call on a DISTINCT input plan adds one
    MEMORY_AND_DISK cache entry (same plan re-uses its entry),
    LRU-reclaimed; sessions scoring many corpora reclaim eagerly with
    ``spark.catalog.clearCache()``."""
    from pyspark.sql.window import Window

    # persist: the grid, the group set, the densify join, and the
    # totals each replay the caller's corpus-sized grouped count
    # otherwise (8 live scans in both cliffs_delta and ks_matrix,
    # tools/rescan_audit.py); counts is (groups x value-grid)-sized
    counts = counts.persist()
    grid = counts.select("val").distinct()
    groups = counts.select("__g").distinct()
    dense = grid.crossJoin(F.broadcast(groups)).join(
        F.broadcast(counts), ["__g", "val"], "left"
    )
    w = Window.partitionBy("__g").orderBy("val").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = dense.select(
        "__g",
        "val",
        F.coalesce(F.col("__c"), F.lit(0)).cast("long").alias("__c"),
        F.sum(F.coalesce(F.col("__c"), F.lit(0))).over(w).cast("long").alias("__cum"),
    )
    tot = counts.groupBy("__g").agg(F.sum("__c").cast("long").alias("__n"))
    return cum, tot


def ks_matrix(
    docs: DataFrame,
    value_col: str = "n_chars",
    group_col: str = "source",
    approx: bool = False,
    n_bins: int = 256,
) -> DataFrame:
    """EXACT pairwise two-sample KS statistic between EVERY pair of
    groups — the full drift MATRIX :func:`ks_2sample` gives one cell
    of ("which shards disagree about the length profile, and how
    much"), the triage view a multi-source ingest reviews before
    reweighting.

    Same cross-multiplied integer contract as the single-pair op:
    ``ks_num = max_v |cum_a(v)*n_b - cum_b(v)*n_a|`` over the SHARED
    distinct value grid, ``ks_den = n_a*n_b`` — order-free, bit-exact
    on any engine.

    Plan: one (group, value)-keyed count (the only corpus-sized
    shuffle), densified to the groups x grid table (grid-sized join,
    conditional cumulative window PER GROUP — each partition is one
    group's grid), then the pair join runs on the densified table
    keyed by value: work is pairs x grid, both metadata-sized at any
    corpus scale (groups are tens, the grid is the value domain).
    NULL values dropped (the ks_2sample convention); groups with no
    rows simply don't appear.

    Output: ``(group_a, group_b, n_a, n_b, ks_num, ks_den, ks_stat)``
    for ``group_a < group_b``, ks_stat 9 dp.

    The exact grid is the value DOMAIN — fine for integer metadata
    columns (doc lengths x tens of sources, the registry framing) but
    corpus-distinct-sized for a continuous/high-cardinality column,
    where the broadcast densify and the one-partition-per-group
    cumulative window stop being metadata work.  ``approx=True`` IS
    the at-extreme-scale swap (the calibration/lift/pr_curve
    precedent): ``approx_percentile`` computes ``n_bins - 1`` edge
    values in ONE map-side-combinable GK-sketch scan (accuracy
    1/10000), every value folds onto its bin with one array-HOF
    comparison sweep (no n_bins-term expression ladder, no sort), and
    the SAME exact machinery runs on the n_bins-bounded grid.
    Semantics shift, documented: the statistic becomes the KS distance
    between the BINNED ECDFs — the max is taken at bin edges only, so
    ``ks_stat`` is a lower bound of the exact value that converges as
    bins refine; ``ks_num/ks_den`` stay exact integers FOR the binned
    distributions.  Like the sketch-edge modes elsewhere, approx mode
    reads the input twice (edge scan + count scan) instead of
    persisting a corpus-sized lineage, so it assumes a deterministic
    input (a source table, not an uncached ``sample()``).
    """
    v = F.col(value_col)
    filtered = docs.filter(v.isNotNull() & F.col(group_col).isNotNull())
    if approx:
        nb = int(n_bins)
        if nb < 2:
            # one bin makes every ECDF identical and every pair report
            # ks_stat = 0.0 ("no drift anywhere") — silently useless,
            # so fail loudly (the acf_daily max_lag convention)
            raise ValueError(f"ks_matrix: approx mode needs n_bins >= 2 (got {nb})")
        qs = [k / nb for k in range(1, nb)]
        edges = (
            filtered.agg(
                F.percentile_approx(v.cast("double"), qs, 10_000).alias("__e")
            ).first()["__e"]
            or []
        )
        # dedupe (heavy ties repeat edges; a repeated edge is a no-op
        # bin) while preserving sorted order
        edges = sorted(set(float(e) for e in edges))
        # bin = 1 + sum_e [v > e]: one aggregate over the edge-array
        # literal — expression size independent of n_bins
        val_expr = F.aggregate(
            F.array(*[F.lit(e) for e in edges]),
            F.lit(1).cast("long"),
            lambda acc, e: acc + F.when(v.cast("double") > e, 1).otherwise(0),
        )
    else:
        val_expr = v
    counts = filtered.groupBy(
        F.col(group_col).alias("__g"), val_expr.alias("val")
    ).agg(F.count(F.lit(1)).cast("long").alias("__c"))
    cum, tot = _grouped_value_cumulatives(counts)
    a = (
        cum.join(F.broadcast(tot), "__g")
        .select(
            F.col("__g").alias("group_a"),
            "val",
            F.col("__cum").alias("__ca"),
            F.col("__n").alias("n_a"),
        )
    )
    b = (
        cum.join(F.broadcast(tot), "__g")
        .select(
            F.col("__g").alias("group_b"),
            "val",
            F.col("__cum").alias("__cb"),
            F.col("__n").alias("n_b"),
        )
    )
    pairs = a.join(F.broadcast(b), "val").filter(
        F.col("group_a") < F.col("group_b")
    )
    agg = pairs.groupBy("group_a", "group_b").agg(
        F.max("n_a").cast("long").alias("n_a"),
        F.max("n_b").cast("long").alias("n_b"),
        F.max(
            F.abs(F.col("__ca") * F.col("n_b") - F.col("__cb") * F.col("n_a"))
        )
        .cast("long")
        .alias("ks_num"),
    )
    return agg.select(
        "group_a",
        "group_b",
        "n_a",
        "n_b",
        "ks_num",
        (F.col("n_a") * F.col("n_b")).cast("long").alias("ks_den"),
        F.round(
            F.col("ks_num") / (F.col("n_a") * F.col("n_b")).cast("double"), 9
        ).alias("ks_stat"),
    ).orderBy("group_a", "group_b")


def cliffs_delta(
    docs: DataFrame,
    value_col: str = "n_chars",
    group_col: str = "source",
) -> DataFrame:
    """EXACT Cliff's delta between EVERY pair of groups — the ordinal
    effect-size matrix that tells a reviewer how BIG the length-profile
    gap :func:`ks_matrix` / :func:`mann_whitney_u` flag actually is::

        delta = (#(x > y) - #(x < y)) / (n_a * n_b)

    over all cross pairs (x from group_a, y from group_b): +1 means
    every a-doc outranks every b-doc, 0 means stochastic equality.
    Unlike a standardized mean difference, delta is distribution-free
    and outlier-immune — the right effect size for heavy-tailed doc
    lengths.

    Exactness: pair counts come from grouped value counts and a
    per-group cumulative over the shared distinct value grid — NEVER
    pair enumeration::

        gt = sum_v ca(v) * cumB(< v)      (strictly-below mass)
        lt = sum_v ca(v) * (n_b - cumB(<= v))
        ties = n_a*n_b - gt - lt

    all order-free integer sums (DECIMAL inside — ``gt`` can reach
    ``n_a*n_b``; the emitted counts fit int64 while ``n_a*n_b < 2^63``,
    the mann_whitney_u bound), and ``delta`` is ONE division of exact
    integers, 6 dp.  The magnitude label (Romano 2006 thresholds:
    negligible < 0.147 <= small < 0.33 <= medium < 0.474 <= large) is
    cut on the ROUNDED |delta| — both engines compare the same 6-dp
    double against the same literal, so libm can never flip a label.

    Plan: the ks_matrix shape — one (group, value)-keyed count (the
    only corpus-sized shuffle), grid x groups densify + per-group
    cumulative window (value-domain-sized), one broadcast pair join on
    the grid.  NULL values/groups dropped (the ks_matrix convention).

    Output: ``(group_a, group_b, n_a, n_b, gt_pairs, lt_pairs, delta,
    magnitude)`` for group_a < group_b, ordered.
    """
    dec = "decimal(38,0)"
    v = F.col(value_col)
    counts = (
        docs.filter(v.isNotNull() & F.col(group_col).isNotNull())
        .groupBy(F.col(group_col).alias("__g"), v.alias("val"))
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
    )
    cum, tot = _grouped_value_cumulatives(counts)
    a = cum.join(F.broadcast(tot), "__g").select(
        F.col("__g").alias("group_a"),
        "val",
        F.col("__c").alias("__ca"),
        F.col("__n").alias("n_a"),
    )
    b = cum.join(F.broadcast(tot), "__g").select(
        F.col("__g").alias("group_b"),
        "val",
        F.col("__c").alias("__cb"),
        F.col("__cum").alias("__cumb"),
        F.col("__n").alias("n_b"),
    )
    pairs = a.join(F.broadcast(b), "val").filter(F.col("group_a") < F.col("group_b"))
    agg = pairs.groupBy("group_a", "group_b").agg(
        F.max("n_a").cast("long").alias("n_a"),
        F.max("n_b").cast("long").alias("n_b"),
        F.sum(F.col("__ca").cast(dec) * (F.col("__cumb") - F.col("__cb")).cast(dec))
        .alias("__gt"),
        F.sum(F.col("__ca").cast(dec) * (F.col("n_b") - F.col("__cumb")).cast(dec))
        .alias("__lt"),
    )
    delta = F.round(
        (F.col("__gt") - F.col("__lt")).cast("double")
        / (F.col("n_a").cast(dec) * F.col("n_b").cast(dec)).cast("double"),
        6,
    )
    mag = F.abs(F.col("delta"))
    return (
        agg.select(
            "group_a",
            "group_b",
            "n_a",
            "n_b",
            F.col("__gt").cast("long").alias("gt_pairs"),
            F.col("__lt").cast("long").alias("lt_pairs"),
            delta.alias("delta"),
        )
        .select(
            "*",
            F.when(mag < 0.147, "negligible")
            .when(mag < 0.33, "small")
            .when(mag < 0.474, "medium")
            .otherwise("large")
            .alias("magnitude"),
        )
        .orderBy("group_a", "group_b")
    )


def herfindahl_index(
    docs: DataFrame,
    group_col: str = "source",
) -> DataFrame:
    """Herfindahl-Hirschman concentration of a corpus over its groups —
    the one-row "is one source dominating the mix?" gate a training-mix
    reviewer reads before :func:`ks_matrix` tells them WHICH sources
    drifted::

        hhi        = sum_g (c_g / N)^2          (1/k .. 1)
        hhi_norm   = (k*sum_sq - N^2) / (N^2*(k-1))   (0 .. 1)
        eff_groups = N^2 / sum_sq               (the "equivalent number
                                                 of equal sources")

    Exactness: ``sum_sq = sum c_g^2`` and ``N^2`` are exact integers
    (DECIMAL inside; ``sum_sq`` is emitted as int64 and fits while
    ``N < 3e9`` — past that read the ratio columns only), and every
    ratio is ONE division of exact integers, 6 dp — identical doubles
    on any engine.  ``hhi_norm`` is NULL when k = 1 (a one-group
    corpus has no normalized form; hhi = 1 already says everything).
    NULL groups dropped, empty corpus raises loudly (the module's
    conventions).

    Plan: one group-keyed count (the only corpus-sized work) + one
    1-row rollup over the groups-sized table.  Flat at any scale.

    Output: one row ``(n_docs, n_groups, sum_sq, top_share, hhi,
    hhi_norm, eff_groups)``; ``top_share`` is the largest group's
    fraction, 6 dp.
    """
    dec = "decimal(38,0)"
    per = (
        docs.filter(F.col(group_col).isNotNull())
        .groupBy(F.col(group_col).alias("__g"))
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
    )
    agg = per.agg(
        F.sum("__c").cast(dec).alias("__n"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum(F.col("__c").cast(dec) * F.col("__c").cast(dec)).alias("__sq"),
        F.max("__c").cast(dec).alias("__top"),
    )
    err = F.lit("herfindahl_index: empty corpus (no non-NULL groups)")
    n2 = F.col("__n") * F.col("__n")
    k = F.col("n_groups").cast(dec)

    def g(col):
        # the loud empty-corpus error guards EVERY output column:
        # attached to one column only, Catalyst's column pruning would
        # silently bypass it under a narrower select
        return F.when(F.col("__n") > 0, col).otherwise(F.raise_error(err))

    return agg.select(
        g(F.col("__n").cast("long")).alias("n_docs"),
        g(F.col("n_groups")).alias("n_groups"),
        g(F.col("__sq").cast("long")).alias("sum_sq"),
        g(
            F.round(F.col("__top").cast("double") / F.col("__n").cast("double"), 6)
        ).alias("top_share"),
        g(F.round(F.col("__sq").cast("double") / n2.cast("double"), 6)).alias("hhi"),
        g(
            F.when(
                F.col("n_groups") > 1,
                F.round(
                    (k * F.col("__sq") - n2).cast("double")
                    / (n2 * (k - 1)).cast("double"),
                    6,
                ),
            )
        ).alias("hhi_norm"),
        g(F.round(n2.cast("double") / F.col("__sq").cast("double"), 6)).alias(
            "eff_groups"
        ),
    )


def cramer_von_mises_2sample(
    docs: DataFrame,
    value_col: str = "n_chars",
    group_col: str = "source",
    group_a: str = "src0",
    group_b: str = "src1",
) -> DataFrame:
    """EXACT two-sample Cramér-von Mises statistic between two groups'
    distributions of an integer-valued column — the WHOLE-CURVE
    companion of :func:`ks_2sample` (KS reads only the single largest
    ECDF gap; CvM integrates the SQUARED gap over every observation,
    so a broad mild drift that never spikes — the kind a re-mixed
    corpus produces — scores high here while slipping under a KS
    threshold).  r12 registry candidate (the library-level-first
    modularity precedent).

    THE INTEGER-RATIONAL CONTRACT: with ``d_v = cum_a(v)*n_b -
    cum_b(v)*n_a`` (the ks_2sample cross-multiplied gap) and ``m_v =
    ca_v + cb_v`` the merged multiplicity, Anderson's T collapses to
    ONE exact rational::

        T = sum_v m_v * d_v^2 / (n_a * n_b * (n_a + n_b)^2)

    numerator and denominator accumulate in DECIMAL(38,0) (the
    numerator is bounded by N*(n_a*n_b)^2; the 38-digit budget must
    also cover the FINAL ``num * 2e6`` emit, so the exact contract
    holds to ~10^6 rows per group — past that the emit raises LOUDLY
    instead of leaking a silent NULL), and the output is ONE half-up
    integer division to int64 microunits (``cvm_e6``) — no floating
    point anywhere.

    Plan: identical to ks_2sample — one value-keyed count (the only
    corpus-sized shuffle), the cumulative window over the DISTINCT
    VALUE GRID, totals a 1-row broadcast.  NULL values dropped, empty
    groups fail LOUDLY on every output column (both conventions).

    Output: one row ``(n_a, n_b, cvm_e6)``; consumers wanting the
    float divide by 1e6.
    """
    from pyspark.sql.window import Window

    dec = "decimal(38,0)"
    v = F.col(value_col)
    filt = (
        docs.filter(F.col(group_col).isin([group_a, group_b]))
        .filter(v.isNotNull())
        .select(
            v.alias("val"),
            F.when(F.col(group_col) == group_a, 1).otherwise(0).alias("__ia"),
        )
    )
    counts = filt.groupBy("val").agg(
        F.sum("__ia").cast("long").alias("ca"),
        F.sum(1 - F.col("__ia")).cast("long").alias("cb"),
    )
    w = Window.orderBy("val").rowsBetween(Window.unboundedPreceding, 0)
    cum = counts.select(
        "ca",
        "cb",
        F.sum("ca").over(w).cast("long").alias("__cuma"),
        F.sum("cb").over(w).cast("long").alias("__cumb"),
    )
    tot = counts.agg(
        F.sum("ca").cast("long").alias("n_a"),
        F.sum("cb").cast("long").alias("n_b"),
    )
    d = (
        F.col("__cuma").cast(dec) * F.col("n_b").cast(dec)
        - F.col("__cumb").cast(dec) * F.col("n_a").cast(dec)
    )
    m = (F.col("ca") + F.col("cb")).cast(dec)
    agg = (
        cum.crossJoin(F.broadcast(tot))
        .agg(
            F.max("n_a").cast("long").alias("n_a"),
            F.max("n_b").cast("long").alias("n_b"),
            F.sum(m * d * d).alias("__num"),
        )
    )
    den = (
        F.col("n_a").cast(dec)
        * F.col("n_b").cast(dec)
        * (F.col("n_a") + F.col("n_b")).cast(dec)
        * (F.col("n_a") + F.col("n_b")).cast(dec)
    )
    err = F.lit(
        f"cramer_von_mises_2sample: empty group — check group names"
        f" '{group_a}'/'{group_b}' in '{group_col}' and '{value_col}' for NULLs"
    )

    def g(col):
        # loud empty-group error on EVERY column (the herfindahl
        # pattern): a single-column raise is prunable
        return F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0), col
        ).otherwise(F.raise_error(err))

    # e6_signed raises loudly if the *2e6 emit overflows 38 digits —
    # a silent NULL under non-ANSI decimal otherwise (num >= 0 always
    # here, so the signed form is the same half-up division)
    from spatialdata_spark.functions.exact import e6_signed

    e6 = e6_signed("__num", "__den", "cramer_von_mises_2sample")
    return agg.withColumn("__den", den).select(
        g(F.col("n_a")).alias("n_a"),
        g(F.col("n_b")).alias("n_b"),
        g(e6).alias("cvm_e6"),
    )


def theil_index(
    docs: DataFrame,
    group_col: str = "source",
) -> DataFrame:
    """Theil T concentration of a corpus over its groups — the
    entropy-based companion of :func:`herfindahl_index` (HHI weights
    big groups quadratically; Theil is the information-theoretic form
    that decomposes, so mixture dashboards often track both)::

        T      = sum_g (c_g / N) * ln(c_g * k / N)     in [0, ln k]
        T_norm = T / ln(k)                             in [0, 1]

    r12 registry candidate (the library-level-first modularity
    precedent).

    Float contract (the jsd_sources / cooccur_pmi precedent, both
    registry-green): every ln argument is one division of exact
    integers — identical doubles on any engine — and the sum has
    GROUP-count arity (tens), so 6-dp rounding absorbs libm's
    last-ulp latitude exactly as it does for JSD.  ``T_norm`` is NULL
    when k = 1 (ln 1 = 0; a one-group corpus has T = 0 and no
    normalized form — the hhi_norm convention).  NULL groups dropped;
    an empty corpus raises loudly on EVERY output column (the
    herfindahl per-column pattern).

    Plan: one group-keyed count (the only corpus-sized work) + one
    1-row rollup over the groups-sized table — the herfindahl shape.

    Output: one row ``(n_docs, n_groups, theil, theil_norm)``.
    """
    # persist: totals + the term sum replay the corpus-sized group
    # count otherwise (3 live scans, tools/rescan_audit.py); the group
    # table is groups-sized.  PER-CALL ACCUMULATION (the
    # _approx_rank_bins contract): never unpersisted — one cache entry
    # per distinct input plan, LRU-reclaimed; clearCache() for eager
    # reclamation between corpora
    per = (
        docs.filter(F.col(group_col).isNotNull())
        .groupBy(F.col(group_col).alias("__g"))
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
        .persist()
    )
    tot = per.agg(
        F.sum("__c").cast("long").alias("__n"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
    )
    term = (F.col("__c") / F.col("__n")) * F.log(
        F.col("__c") * F.col("n_groups") / F.col("__n")
    )
    # GLOBAL agg (not a groupBy): it always yields one row, so the
    # empty-corpus raise below stays evaluable when `per` is empty —
    # a groupBy over zero rows would return zero rows and silently
    # bypass the guard (the acf_daily lag-spine lesson)
    tsum = per.crossJoin(F.broadcast(tot)).agg(F.sum(term).alias("__t"))
    agg = tot.crossJoin(F.broadcast(tsum))
    err = F.lit("theil_index: empty corpus (no non-NULL groups)")

    def g(col):
        return F.when(F.col("__n") > 0, col).otherwise(F.raise_error(err))

    return agg.select(
        g(F.col("__n")).alias("n_docs"),
        g(F.col("n_groups")).alias("n_groups"),
        g(F.round(F.col("__t"), 6)).alias("theil"),
        g(
            F.when(
                F.col("n_groups") > 1,
                F.round(F.col("__t") / F.log(F.col("n_groups").cast("double")), 6),
            )
        ).alias("theil_norm"),
    )


def mutual_information(
    docs: DataFrame,
    row_col: str = "source",
    col_col: str = "lang",
) -> DataFrame:
    """Mutual information (nats) between two categorical metadata
    columns — the association gate that answers "does source predict
    language?" before a mixture reweighting treats them as
    independent axes; the information-theoretic counterpart of
    :func:`cramers_v` (drift family) on the same contingency table.
    r12 registry candidate (the library-level-first modularity
    precedent)::

        MI  = sum_ij (n_ij/N) * ln(n_ij * N / (n_i * n_j))
        NMI = MI / sqrt(H_row * H_col)        (0 .. 1; NULL if either
                                               margin is degenerate)
        H   = -sum (n/N) ln(n/N)

    Float contract (the jsd_sources / theil_index precedent): every
    ln argument is a ratio of exact int64 counts — identical doubles
    on any engine — and all sums have CONTINGENCY-CELL arity
    (categories², tens), so 6-dp rounding absorbs libm's last-ulp
    latitude.  NULL rows in either column are DROPPED; an empty table
    raises loudly on EVERY output column (per-column guard over a
    global always-one-row aggregation).

    Plan: one (row, col)-keyed count — the only corpus-sized work —
    then margins and entropies on the cell table (metadata-sized at
    any corpus scale; margins broadcast back onto cells).

    Output: one row ``(n_docs, n_rows, n_cols, mi, h_row, h_col,
    nmi)``.
    """
    # persist: margins, totals, and the three entropy rollups replay
    # the corpus-sized contingency count otherwise (9 live scans,
    # tools/rescan_audit.py); the cell table is categories²-sized.
    # PER-CALL ACCUMULATION (the _approx_rank_bins contract): never
    # unpersisted — one cache entry per distinct input plan,
    # LRU-reclaimed; clearCache() for eager reclamation between corpora
    cells = (
        docs.filter(F.col(row_col).isNotNull() & F.col(col_col).isNotNull())
        .groupBy(F.col(row_col).alias("__r"), F.col(col_col).alias("__c"))
        .agg(F.count(F.lit(1)).cast("long").alias("__cn"))
        .persist()
    )
    rm = cells.groupBy("__r").agg(F.sum("__cn").cast("long").alias("__nr"))
    cm = cells.groupBy("__c").agg(F.sum("__cn").cast("long").alias("__nc"))
    tot = cells.agg(
        F.sum("__cn").cast("long").alias("__N"),
        F.count_distinct("__r").cast("long").alias("n_rows"),
        F.count_distinct("__c").cast("long").alias("n_cols"),
    )
    j = (
        cells.join(F.broadcast(rm), "__r")
        .join(F.broadcast(cm), "__c")
        .crossJoin(F.broadcast(tot))
    )
    mi_term = (F.col("__cn") / F.col("__N")) * F.log(
        F.col("__cn") * F.col("__N") / (F.col("__nr") * F.col("__nc"))
    )
    # global aggs: always one row even on an empty cell table, so the
    # empty-input raise stays evaluable (the theil/acf lesson)
    mi_sum = j.agg(F.sum(mi_term).alias("__mi"))
    hr = (
        rm.crossJoin(F.broadcast(tot))
        .agg(F.sum(-(F.col("__nr") / F.col("__N")) * F.log(F.col("__nr") / F.col("__N"))).alias("__hr"))
    )
    hc = (
        cm.crossJoin(F.broadcast(tot))
        .agg(F.sum(-(F.col("__nc") / F.col("__N")) * F.log(F.col("__nc") / F.col("__N"))).alias("__hc"))
    )
    agg = (
        tot.crossJoin(F.broadcast(mi_sum))
        .crossJoin(F.broadcast(hr))
        .crossJoin(F.broadcast(hc))
    )
    err = F.lit(
        f"mutual_information: empty table (no rows with non-NULL"
        f" '{row_col}' and '{col_col}')"
    )

    def g(col):
        return F.when(F.col("__N") > 0, col).otherwise(F.raise_error(err))

    return agg.select(
        g(F.col("__N")).alias("n_docs"),
        g(F.col("n_rows")).alias("n_rows"),
        g(F.col("n_cols")).alias("n_cols"),
        g(F.round(F.col("__mi"), 6)).alias("mi"),
        g(F.round(F.col("__hr"), 6)).alias("h_row"),
        g(F.round(F.col("__hc"), 6)).alias("h_col"),
        g(
            F.when(
                (F.col("__hr") > 0) & (F.col("__hc") > 0),
                F.round(
                    F.col("__mi") / (F.sqrt(F.col("__hr")) * F.sqrt(F.col("__hc"))),
                    6,
                ),
            )
        ).alias("nmi"),
    )


def spearman_corr(
    docs: DataFrame,
    x_col: str = "n_chars",
    text_col: str = "text",
) -> DataFrame:
    """Spearman rank correlation (tie-corrected: Pearson on midranks)
    between an integer metadata column and the per-document whitespace
    token count — the monotone-association gate ("does char length
    rank-track token count?") a curation reviewer reads before using
    one as a proxy for the other.  r13 registry candidate (the
    library-level-first modularity precedent).

    THE INTEGER CONTRACT: with doubled midranks ``R2(v) = 2*cum_before
    + cnt(v) + 1`` (integers even under ties — the mann_whitney_u
    device) the rank-Pearson collapses to exact integer sums::

        rho = (N*C - A*Ay) / sqrt((N*B - A^2) * (N*By - Ay^2))

        A  = sum_v cnt_v * R2x(v)          (= 2 * sum of x-midranks)
        B  = sum_v cnt_v * R2x(v)^2        (= 4 * sum of squares)
        C  = sum_{cells} cnt_xy * R2x * R2y (= 4 * sum of products)

    (the 2/4 factors cancel) — every term DECIMAL(38,0)-exact; the
    binding term is ``N*B <= 4*N^4`` (doubled midranks ``<= 2N``,
    squared ``<= 4N^2``, count-weighted sum ``<= 4N^3``), which stays
    under 1e38 while ``N < ~2.2e9`` rows, and the emit is ONE division of an
    exact integer by the product of two correctly-rounded sqrts of
    exact integers — identical doubles on any engine (the theil/jsd
    float convention), 6 dp.  NULL x / NULL text dropped.  ``rho`` is
    NULL when either variance is zero (a constant column has no rank
    order — the hhi_norm convention); an EMPTY input raises loudly on
    every output column (per-column guard over a global always-one-row
    aggregation).

    Plan: one (x, y)-cell count — the only corpus-sized shuffle — then
    margins + cumulative windows over the two VALUE GRIDS
    (value-domain-sized at any corpus scale; the ks_2sample
    single-partition-window absorption) broadcast back onto the
    realized cell table.

    Output: one row ``(n_docs, n_x_values, n_y_values, spearman)``.
    """
    from pyspark.sql.window import Window

    dec = "decimal(38,0)"
    y = F.size(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
    base = docs.filter(
        F.col(x_col).isNotNull() & F.col(text_col).isNotNull()
    ).select(F.col(x_col).cast("long").alias("__x"), y.cast("long").alias("__y"))
    # persist: the x-margin, y-margin, and the C product sum each
    # consume the (x, y) cell table — without the cache each replays
    # the corpus-sized first aggregation (5 live scans,
    # tools/rescan_audit.py).  Value-pair-sized rows.  PER-CALL
    # ACCUMULATION (the _approx_rank_bins contract): LRU-reclaimed;
    # clearCache() reclaims eagerly.
    cells = base.groupBy("__x", "__y").agg(
        F.count(F.lit(1)).cast("long").alias("__cxy")
    ).persist()
    xg = cells.groupBy("__x").agg(F.sum("__cxy").cast("long").alias("__cx"))
    yg = cells.groupBy("__y").agg(F.sum("__cxy").cast("long").alias("__cy"))
    wx = Window.orderBy("__x").rowsBetween(Window.unboundedPreceding, 0)
    wy = Window.orderBy("__y").rowsBetween(Window.unboundedPreceding, 0)
    xr = xg.select(
        "__x",
        "__cx",
        (2 * (F.sum("__cx").over(wx) - F.col("__cx")) + F.col("__cx") + 1)
        .cast("long")
        .alias("__r2x"),
    )
    yr = yg.select(
        "__y",
        "__cy",
        (2 * (F.sum("__cy").over(wy) - F.col("__cy")) + F.col("__cy") + 1)
        .cast("long")
        .alias("__r2y"),
    )
    xa = xr.agg(
        F.sum("__cx").cast("long").alias("__n"),
        F.count(F.lit(1)).cast("long").alias("n_x_values"),
        F.sum(F.col("__cx").cast(dec) * F.col("__r2x").cast(dec)).alias("__a"),
        F.sum(
            F.col("__cx").cast(dec) * F.col("__r2x").cast(dec) * F.col("__r2x").cast(dec)
        ).alias("__b"),
    )
    ya = yr.agg(
        F.count(F.lit(1)).cast("long").alias("n_y_values"),
        F.sum(F.col("__cy").cast(dec) * F.col("__r2y").cast(dec)).alias("__ay"),
        F.sum(
            F.col("__cy").cast(dec) * F.col("__r2y").cast(dec) * F.col("__r2y").cast(dec)
        ).alias("__by"),
    )
    # the value grids are domain-sized: broadcast them onto the cells
    ca = (
        cells.join(F.broadcast(xr.select("__x", "__r2x")), "__x")
        .join(F.broadcast(yr.select("__y", "__r2y")), "__y")
        .agg(
            F.sum(
                F.col("__cxy").cast(dec)
                * F.col("__r2x").cast(dec)
                * F.col("__r2y").cast(dec)
            ).alias("__c")
        )
    )
    agg = xa.crossJoin(F.broadcast(ya)).crossJoin(F.broadcast(ca))
    n = F.col("__n").cast(dec)
    num = n * F.col("__c") - F.col("__a") * F.col("__ay")
    dx = n * F.col("__b") - F.col("__a") * F.col("__a")
    dy = n * F.col("__by") - F.col("__ay") * F.col("__ay")
    err = F.lit(
        f"spearman_corr: empty input (no rows with non-NULL"
        f" '{x_col}' and '{text_col}')"
    )
    ov = F.lit(
        "spearman_corr: DECIMAL(38,0) overflow in the rank sums"
        " (N exceeds the ~2.2e9-row exact bound: N*B <= 4*N^4 < 1e38)"
    )

    def g(col):
        # per-column empty-input guard (the herfindahl pattern) PLUS
        # the loud overflow raise: a NULL num/dx/dy with N > 0 can only
        # be a non-ANSI decimal overflow (the e6_signed lesson)
        return F.when(F.col("__n").isNull() | (F.col("__n") == 0), F.raise_error(err)).when(
            num.isNull() | dx.isNull() | dy.isNull(), F.raise_error(ov)
        ).otherwise(col)

    rho = F.when(
        (dx > 0) & (dy > 0),
        F.round(
            num.cast("double") / (F.sqrt(dx.cast("double")) * F.sqrt(dy.cast("double"))),
            6,
        ),
    )
    return agg.select(
        g(F.col("__n")).alias("n_docs"),
        g(F.col("n_x_values")).alias("n_x_values"),
        g(F.col("n_y_values")).alias("n_y_values"),
        g(rho).alias("spearman"),
    )


def chao1_richness(
    docs: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Chao1 vocabulary-richness estimate of the corpus — "how many
    word types would we see with infinite sampling?" (Chao 1984,
    bias-corrected form), the coverage companion of :func:`zipf_slope`
    / :func:`heaps_fit` (those fit the growth curve; Chao1 bounds its
    asymptote from the singleton/doubleton counts alone)::

        chao1 = V + f1 * (f1 - 1) / (2 * (f2 + 1))

    with ``V`` the observed type count, ``f1``/``f2`` the number of
    types seen exactly once/twice — defined for every corpus (the
    +1-corrected denominator never vanishes).  Exactness: all four
    inputs are exact int64 counts from ONE token-keyed aggregation;
    ``chao1_e6 = (V*den + f1*(f1-1)) / den`` with ``den = 2*(f2+1)``
    is ONE half-up integer division to int64 microunits via the shared
    :func:`~spatialdata_spark.functions.exact.e6_signed` emit (loud on
    overflow).  Tokenization is the module convention:
    ``split(lower(trim(text)), '\\s+')`` — WITHOUT the empty-token
    filter most tokenizing functions here apply: a blank/whitespace-only
    document contributes one empty-string token (the ``token_gini``
    form, and what the registered DuckDB oracle computes), so blank
    docs count toward ``n_types``/``f1``/``total_tokens``.  An empty
    corpus raises loudly on every output column (the herfindahl
    pattern).

    Plan: one token-keyed count (map-side combine, the corpus-sized
    shuffle) + one 1-row rollup over the VOCABULARY-sized type table.
    Flat at any scale.

    Output: one row ``(n_types, total_tokens, f1, f2, chao1_e6)``;
    consumers wanting the float divide by 1e6.
    """
    from spatialdata_spark.functions.exact import e6_signed

    dec = "decimal(38,0)"
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    counts = (
        docs.select(F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    agg = counts.agg(
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum("tf").cast("long").alias("total_tokens"),
        F.sum(F.when(F.col("tf") == 1, 1).otherwise(0)).cast("long").alias("f1"),
        F.sum(F.when(F.col("tf") == 2, 1).otherwise(0)).cast("long").alias("f2"),
    )
    err = F.lit("chao1_richness: empty corpus (no tokens)")

    def g(col):
        # per-column empty-corpus guard (the herfindahl pattern)
        return F.when(
            F.coalesce(F.col("n_types"), F.lit(0)) > 0, col
        ).otherwise(F.raise_error(err))

    withnd = agg.select(
        "n_types",
        "total_tokens",
        "f1",
        "f2",
        (
            F.col("n_types").cast(dec) * (F.lit(2).cast(dec) * (F.col("f2").cast(dec) + 1))
            + F.col("f1").cast(dec) * (F.col("f1").cast(dec) - 1)
        ).alias("__num"),
        (F.lit(2).cast(dec) * (F.col("f2").cast(dec) + 1)).alias("__den"),
    )
    return withnd.select(
        g(F.col("n_types")).alias("n_types"),
        g(F.col("total_tokens")).alias("total_tokens"),
        g(F.col("f1")).alias("f1"),
        g(F.col("f2")).alias("f2"),
        g(e6_signed("__num", "__den", "chao1_richness")).alias("chao1_e6"),
    )


def vocab_overlap_exact(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """EXACT pairwise source vocabulary overlap (Jaccard on token-type
    sets) — the exact twin of :func:`kmv_source_overlap` (that one
    estimates from k-minimum-value sketches and is the documented
    at-extreme-scale swap; this one is the registry-exact contract on
    real vocabularies)::

        J(a, b) = |V_a ∩ V_b| / (|V_a| + |V_b| - |V_a ∩ V_b|)

    Exactness: every count is an exact int64 from ONE (source, token)
    distinct + rollups; ``jaccard`` is ONE division, 9 dp (the KMV
    ratio convention).

    Plan — NO token-keyed self-join anywhere (a vocab⋈vocab join
    would be the classic corpus-sized shuffle join): the per-token
    source LIST (bounded by the source count, tens) explodes to its
    ordered pairs with an expression-only ``transform``/``slice``
    comprehension, then one (s1, s2)-keyed count; per-source type
    counts broadcast onto the sources²-sized pair grid.  A source pair
    sharing NO token is absent from the output (its J is 0; emitting
    the zero grid would need a sources² spine — callers who want it
    cross-join the distinct source list).  NULL groups/texts dropped;
    a single-source or empty corpus yields an EMPTY result (a
    legitimate no-pairs grid — the cliffs_delta convention), never an
    error.

    Output: ``(s1, s2, n_a_types, n_b_types, n_common, jaccard)``
    with ``s1 < s2``, ordered by (s1, s2).
    """
    toks = (
        docs.filter(F.col(group_col).isNotNull() & F.col(text_col).isNotNull())
        .select(
            F.col(group_col).alias("__g"),
            F.explode(
                F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
            ).alias("__tok"),
        )
        .filter(F.col("__tok") != "")
        .distinct()
    )
    # persist: VOCABULARY-sized (one row per token type, each carrying
    # its bounded source list); the per-source type counts derive from
    # the cache (explode + count — each (token, source) appears once
    # in the set), so the corpus is tokenized ONCE (the pre-persist
    # form replayed it for each of the two per-broadcast joins and the
    # pair pass: 3 live scans, tools/rescan_audit.py).  PER-CALL
    # ACCUMULATION (the _approx_rank_bins contract): LRU-reclaimed;
    # clearCache() reclaims eagerly.
    by_tok = toks.groupBy("__tok").agg(
        F.sort_array(F.collect_set("__g")).alias("__gs")
    ).persist()
    per = (
        by_tok.select(F.explode("__gs").alias("__g"))
        .groupBy("__g")
        .agg(F.count(F.lit(1)).cast("long").alias("__v"))
    )
    pairs = (
        by_tok.filter(F.size("__gs") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(__gs, (x, i) ->"
                    " transform(slice(__gs, i + 2, size(__gs)),"
                    " y -> struct(x AS s1, y AS s2))))"
                )
            ).alias("__p")
        )
        .groupBy(F.col("__p.s1").alias("s1"), F.col("__p.s2").alias("s2"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    return (
        pairs.join(
            F.broadcast(per.select(F.col("__g").alias("s1"), F.col("__v").alias("n_a_types"))),
            "s1",
        )
        .join(
            F.broadcast(per.select(F.col("__g").alias("s2"), F.col("__v").alias("n_b_types"))),
            "s2",
        )
        .select(
            "s1",
            "s2",
            "n_a_types",
            "n_b_types",
            "n_common",
            F.round(
                F.col("n_common")
                / (F.col("n_a_types") + F.col("n_b_types") - F.col("n_common")),
                9,
            ).alias("jaccard"),
        )
        .orderBy("s1", "s2")
    )


def length_quantiles_exact(
    docs: DataFrame,
    group_col: str = "source",
    value_col: str = "n_chars",
    percents: tuple[int, ...] = (50, 90, 99),
) -> DataFrame:
    """EXACT per-group percentiles of an integer column — the exact
    twin of :func:`hdr_quantiles` (that one is the mergeable-sketch
    at-extreme-scale swap; this is the registry-exact contract): the
    length-distribution report a mixture reviewer reads per source.

    THE INTEGER CONTRACT (type-1 / lower quantile): ``p%`` of group
    ``g`` with ``n_g`` rows is the SMALLEST observed value whose
    cumulative count reaches ``ceil(p * n_g / 100)`` — every quantity
    an exact int64 (``ceil`` as ``(p*n + 99) div 100``), no float
    ``q`` anywhere, so the emit is bit-identical on any engine and
    NEVER interpolates between observations.

    Plan: one (group, value)-keyed count — the only corpus-sized
    shuffle — then the cumulative window runs per group over its
    DISTINCT VALUE GRID (value-domain-sized at any corpus scale, the
    ks_2sample absorption) and each percentile is a conditional min
    over that grid.  NULL groups/values dropped; an empty corpus
    yields an empty grid (the vocab_overlap convention).

    Output: one row per group ``(group, n_docs, p<P> ...)`` ordered by
    group.
    """
    from pyspark.sql.window import Window

    bad = [p for p in percents if not (isinstance(p, int) and 1 <= p <= 100)]
    if bad:
        raise ValueError(
            f"length_quantiles_exact: percents must be integers in [1, 100]"
            f" (got {bad}) — a float quantile like 0.99 truncates to 0 and"
            f" an out-of-range p would emit a silent all-NULL column"
        )
    f = (
        docs.filter(F.col(group_col).isNotNull() & F.col(value_col).isNotNull())
        .groupBy(F.col(group_col).alias("grp"), F.col(value_col).cast("long").alias("__v"))
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
    )
    w = Window.partitionBy("grp").orderBy("__v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wg = Window.partitionBy("grp")
    cum = f.select(
        "grp",
        "__v",
        F.sum("__c").over(w).cast("long").alias("__cum"),
        F.sum("__c").over(wg).cast("long").alias("__n"),
    )
    aggs = [F.max("__n").alias("n_docs")]
    for p in percents:
        # integer ceil — a float (p*n+99)/100 could misround at scale
        target = F.expr(f"CAST(({int(p)} * __n + 99) DIV 100 AS BIGINT)")
        aggs.append(
            F.min(F.when(F.col("__cum") >= target, F.col("__v"))).alias(f"p{int(p)}")
        )
    return cum.groupBy("grp").agg(*aggs).orderBy("grp")


def mad_lengths(
    docs: DataFrame,
    group_col: str = "source",
    value_col: str = "n_chars",
) -> DataFrame:
    """Per-group EXACT lower median and median absolute deviation of an
    integer column — the robust-statistics companion of
    :func:`length_quantiles_exact` (quantiles describe the tails; the
    MAD is the standard outlier-resistant spread gauge a curation
    reviewer reads before setting length clip thresholds).  r14
    registry candidate (the library-level-first modularity precedent).

    THE INTEGER CONTRACT (the length_quantiles_exact type-1
    convention): ``median(g)`` is the SMALLEST observed value whose
    cumulative count reaches ``ceil(n_g / 2)``; ``mad(g)`` is the same
    lower median over the integer deviations ``|v - median(g)|`` —
    every quantity an exact int64 (``ceil`` via integer ``div``), no
    interpolation anywhere, so the emit is bit-identical on any
    engine.

    Plan: ONE corpus (group, value)-keyed count, PERSISTED — it feeds
    the median window pass AND the deviation re-grid, and un-cached
    each replays the corpus scan (the tools/rescan_audit.py class);
    the table is value-grid-sized (distinct values per group), safe to
    cache at any corpus scale.  Both cumulative windows run per group
    over the DISTINCT VALUE GRID (the ks_2sample absorption); the
    deviation re-grid is a grid->grid aggregation.  PER-CALL
    ACCUMULATION (the _approx_rank_bins contract): LRU-reclaimed;
    clearCache() reclaims eagerly.

    Output: one row per group ``(group, n_docs, median, mad)``,
    ordered by group; empty corpus yields an empty frame (the
    length_quantiles convention).
    """
    from pyspark.sql.window import Window

    f = (
        docs.filter(F.col(group_col).isNotNull() & F.col(value_col).isNotNull())
        .groupBy(F.col(group_col).alias("grp"), F.col(value_col).cast("long").alias("__v"))
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
        .persist()
    )
    w = Window.partitionBy("grp").orderBy("__v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wg = Window.partitionBy("grp")
    cum = f.select(
        "grp",
        "__v",
        F.sum("__c").over(w).cast("long").alias("__cum"),
        F.sum("__c").over(wg).cast("long").alias("__n"),
    )
    half = F.expr("CAST((__n + 1) DIV 2 AS BIGINT)")  # ceil(n/2), exact
    meds = cum.groupBy("grp").agg(
        F.max("__n").alias("n_docs"),
        F.min(F.when(F.col("__cum") >= half, F.col("__v"))).alias("median"),
    )
    dev = (
        f.join(F.broadcast(meds), "grp")
        .groupBy("grp", F.abs(F.col("__v") - F.col("median")).alias("__d"))
        .agg(F.sum("__c").cast("long").alias("__c"))
    )
    wd = Window.partitionBy("grp").orderBy("__d").rowsBetween(
        Window.unboundedPreceding, 0
    )
    dcum = dev.select(
        "grp",
        "__d",
        F.sum("__c").over(wd).cast("long").alias("__cum"),
        F.sum("__c").over(Window.partitionBy("grp")).cast("long").alias("__n"),
    )
    mads = dcum.groupBy("grp").agg(
        F.min(
            F.when(F.col("__cum") >= F.expr("CAST((__n + 1) DIV 2 AS BIGINT)"), F.col("__d"))
        ).alias("mad")
    )
    return (
        meds.join(F.broadcast(mads), "grp")
        .select(F.col("grp").alias(group_col), "n_docs", "median", "mad")
        .orderBy(group_col)
    )


def simpson_diversity(
    docs: DataFrame,
    group_col: str = "source",
    cat_col: str = "lang",
) -> DataFrame:
    """Per-group Simpson concentration and Shannon evenness over a
    categorical column — the within-group diversity gauge ("is source
    X monolingual?") complementing :func:`theil_index` (that one
    measures BETWEEN-group concentration of the size profile; this
    measures WITHIN-group category mixing).  r14 registry candidate.

    Exactness: Simpson's lambda (the probability two draws without
    replacement share a category) is a ratio of exact int64 sums::

        lambda = sum_i n_i * (n_i - 1) / (N * (N - 1))

    emitted as exact microunits via
    :func:`~spatialdata_spark.functions.exact.e6_signed` (loud on
    overflow; NULL for the degenerate N < 2 group — a single document
    has no pair to draw, the hhi_norm convention).  Shannon entropy
    and evenness follow the mutual_information float convention: every
    ln argument is a ratio of exact counts, sums have CATEGORY arity,
    6-dp rounding absorbs libm's last-ulp latitude; ``evenness`` is
    NULL when the group has one category.  NULL groups/categories
    dropped; empty corpus yields an empty frame.

    Plan: one (group, category)-keyed count — the only corpus-sized
    shuffle — then two category-grid-sized rollups (margins broadcast
    back).  Flat at any corpus scale.

    Output: ``(group, n_docs, n_cats, simpson_e6, shannon, evenness)``
    ordered by group.
    """
    from spatialdata_spark.functions.exact import e6_signed

    cells = (
        docs.filter(F.col(group_col).isNotNull() & F.col(cat_col).isNotNull())
        .groupBy(F.col(group_col).alias("grp"), F.col(cat_col).alias("__cat"))
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
    )
    dec = "decimal(38,0)"
    per = cells.groupBy("grp").agg(
        F.sum("__c").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_cats"),
        F.sum(F.col("__c").cast(dec) * (F.col("__c").cast(dec) - 1)).alias("__num"),
    )
    sh = (
        cells.join(F.broadcast(per.select("grp", F.col("n_docs").alias("__N"))), "grp")
        .groupBy("grp")
        .agg(
            F.sum(
                -(F.col("__c") / F.col("__N")) * F.log(F.col("__c") / F.col("__N"))
            ).alias("__h")
        )
    )
    out = per.join(F.broadcast(sh), "grp").select(
        F.col("grp").alias(group_col),
        "n_docs",
        "n_cats",
        F.when(F.col("n_docs") >= 2, e6_signed("__num", "CAST(n_docs AS DECIMAL(38,0)) * (CAST(n_docs AS DECIMAL(38,0)) - 1)", "simpson_diversity")).alias("simpson_e6"),
        F.round(F.col("__h"), 6).alias("shannon"),
        F.when(
            F.col("n_cats") > 1,
            F.round(F.col("__h") / F.log(F.col("n_cats").cast("double")), 6),
        ).alias("evenness"),
    )
    return out.orderBy(group_col)


def kendall_tau(
    docs: DataFrame,
    x_col: str = "n_chars",
    text_col: str = "text",
) -> DataFrame:
    """Kendall's tau-b (tie-corrected) between an integer metadata
    column and the per-document whitespace token count — the
    concordance twin of :func:`spearman_corr` (same axes, same
    monotone-association question; tau-b weights every discordant PAIR
    equally where Spearman squares rank gaps).  r14 registry
    candidate.

    THE INTEGER CONTRACT: over the realized (x, y) cell table with
    counts ``c``, concordant/discordant pair totals are exact int64
    dominance sums::

        P = sum_cells c(x,y) * T(<x, <y)      (concordant)
        Q = sum_cells c(x,y) * (T(<x) - T(<x, <=y))   (discordant)
        tau_b = (P - Q) / sqrt((D0 - D1) * (D0 - D2))

    with ``D0 = n(n-1)/2`` and ``D1``/``D2`` the same form over the
    x/y tie margins.  The 2D dominance prefix ``T`` comes from a DENSE
    value grid (|X| x |Y| rows — value-DOMAIN-product-sized, never
    corpus-sized): per-x cumulative over y, then per-y cumulative over
    x, and each realized cell joins the dense prefix at (ix-1, iy-1)
    and (ix-1, iy).  Every term DECIMAL(38,0)-exact; the binding term
    ``(D0-D1)*(D0-D2) <= n^4 / 4`` stays under 1e38 while
    ``N < ~2.4e9`` rows (the spearman_corr bound class), and the emit
    is ONE division of an exact integer by the product of two
    correctly-rounded sqrts of exact integers — identical doubles on
    any engine, 6 dp.  NULL x / NULL text dropped.  ``tau`` is NULL
    when either margin is constant (no rank order); an EMPTY input
    raises loudly on every output column; a NULL P/Q/D with rows
    present raises the overflow error (the spearman ov pattern).

    AT-EXTREME-DOMAIN SWAP (stated): the dense grid is |X|*|Y| rows —
    integer length-like domains keep it small (thousands x hundreds),
    but for high-cardinality real-valued axes use
    :func:`spearman_corr`, which touches only REALIZED cells.

    Output: one row ``(n_docs, n_x_values, n_y_values, kendall_tau)``.
    """
    from pyspark.sql.window import Window

    dec = "decimal(38,0)"
    y = F.size(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
    base = docs.filter(
        F.col(x_col).isNotNull() & F.col(text_col).isNotNull()
    ).select(F.col(x_col).cast("long").alias("__x"), y.cast("long").alias("__y"))
    # persist: the realized cell table feeds the two margin rollups,
    # the dense-grid left join and the final dominance sum (the
    # tools/rescan_audit.py class); value-pair-sized rows.  PER-CALL
    # ACCUMULATION (the _approx_rank_bins contract): LRU-reclaimed;
    # clearCache() reclaims eagerly.
    cells = base.groupBy("__x", "__y").agg(
        F.count(F.lit(1)).cast("long").alias("__cxy")
    ).persist()
    xg = cells.groupBy("__x").agg(F.sum("__cxy").cast("long").alias("__cx"))
    yg = cells.groupBy("__y").agg(F.sum("__cxy").cast("long").alias("__cy"))
    xs = xg.select(
        "__x", "__cx", F.row_number().over(Window.orderBy("__x")).alias("__ix")
    )
    ys = yg.select(
        "__y", "__cy", F.row_number().over(Window.orderBy("__y")).alias("__iy")
    )
    # dense |X| x |Y| grid (value-domain-product-sized): realized
    # counts fill in by left join, absent cells are zero
    dense = (
        xs.select("__x", "__ix")
        .crossJoin(ys.select("__y", "__iy"))
        .join(cells, ["__x", "__y"], "left")
        .select("__ix", "__iy", F.coalesce("__cxy", F.lit(0)).alias("__c"))
    )
    wyc = Window.partitionBy("__ix").orderBy("__iy").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wxc = Window.partitionBy("__iy").orderBy("__ix").rowsBetween(
        Window.unboundedPreceding, 0
    )
    # persist: the dense 2D prefix is consumed by BOTH shifted joins
    # below; grid-sized.  Same accumulation contract as `cells`.
    cum2d = (
        dense.withColumn("__cy2", F.sum("__c").over(wyc))
        .withColumn("__c2d", F.sum("__cy2").over(wxc).cast("long"))
        .select("__ix", "__iy", "__c2d")
        .persist()
    )
    # x-margin strict prefix T(<x) on the x grid
    wx = Window.orderBy("__ix").rowsBetween(Window.unboundedPreceding, -1)
    xpre = xs.select(
        "__ix", F.coalesce(F.sum("__cx").over(wx), F.lit(0)).cast("long").alias("__txlt")
    )
    rc = (
        cells.join(xs.select("__x", "__ix"), "__x")
        .join(ys.select("__y", "__iy"), "__y")
    )
    d11 = cum2d.select(
        F.col("__ix").alias("__jx"), F.col("__iy").alias("__jy"), F.col("__c2d").alias("__tless")
    )
    d10 = cum2d.select(
        F.col("__ix").alias("__kx"), F.col("__iy").alias("__ky"), F.col("__c2d").alias("__tlesseq")
    )
    # the dense prefix is value-grid-sized (metadata by the stated
    # domain contract — the at-extreme-domain swap is spearman_corr),
    # so both shifted-key joins broadcast it instead of shuffling the
    # realized-cell side (plan-guard: no shuffle join where a
    # broadcast fits)
    j = (
        rc.join(F.broadcast(d11), (F.col("__jx") == F.col("__ix") - 1) & (F.col("__jy") == F.col("__iy") - 1), "left")
        .join(F.broadcast(d10), (F.col("__kx") == F.col("__ix") - 1) & (F.col("__ky") == F.col("__iy")), "left")
        .join(F.broadcast(xpre), "__ix")
        .select(
            F.col("__cxy").cast(dec).alias("__c"),
            F.coalesce("__tless", F.lit(0)).cast(dec).alias("__tl"),
            (F.col("__txlt").cast(dec) - F.coalesce("__tlesseq", F.lit(0)).cast(dec)).alias("__td"),
        )
    )
    pq = j.agg(
        F.sum(F.col("__c") * F.col("__tl")).alias("__p"),
        F.sum(F.col("__c") * F.col("__td")).alias("__q"),
    )
    xa = xs.agg(
        F.sum("__cx").cast("long").alias("__n"),
        F.count(F.lit(1)).cast("long").alias("n_x_values"),
        F.sum(F.col("__cx").cast(dec) * (F.col("__cx").cast(dec) - 1)).alias("__d1x2"),
    )
    ya = ys.agg(
        F.count(F.lit(1)).cast("long").alias("n_y_values"),
        F.sum(F.col("__cy").cast(dec) * (F.col("__cy").cast(dec) - 1)).alias("__d2x2"),
    )
    agg = xa.crossJoin(F.broadcast(ya)).crossJoin(F.broadcast(pq))
    n = F.col("__n").cast(dec)
    d0x2 = n * (n - 1)  # 2*D0
    dx = d0x2 - F.col("__d1x2")  # 2*(D0-D1), exact
    dy = d0x2 - F.col("__d2x2")
    num = F.col("__p") - F.col("__q")
    err = F.lit(
        f"kendall_tau: empty input (no rows with non-NULL"
        f" '{x_col}' and '{text_col}')"
    )
    ov = F.lit(
        "kendall_tau: DECIMAL(38,0) overflow in the dominance sums"
        " (N exceeds the ~2.4e9-row exact bound: (2D0)^2 <= N^4 < 4e38)"
    )

    def g(col):
        # per-column empty-input guard (the herfindahl pattern) PLUS
        # the loud overflow raise (the spearman ov pattern): NULL
        # num/dx/dy with N > 0 can only be non-ANSI decimal overflow
        return F.when(F.col("__n").isNull() | (F.col("__n") == 0), F.raise_error(err)).when(
            num.isNull() | dx.isNull() | dy.isNull(), F.raise_error(ov)
        ).otherwise(col)

    # tau_b = (P-Q) / sqrt(D0-D1) / sqrt(D0-D2); the /2 factors cancel
    # against the doubled D terms: (P-Q) / (sqrt(2(D0-D1))*sqrt(2(D0-D2))/2)
    tau = F.when(
        (dx > 0) & (dy > 0),
        F.round(
            F.lit(2.0) * num.cast("double")
            / (F.sqrt(dx.cast("double")) * F.sqrt(dy.cast("double"))),
            6,
        ),
    )
    return agg.select(
        g(F.col("__n")).alias("n_docs"),
        g(F.col("n_x_values")).alias("n_x_values"),
        g(F.col("n_y_values")).alias("n_y_values"),
        g(tau).alias("kendall_tau"),
    )


def trimmed_mean_lengths(
    docs: DataFrame,
    group_col: str = "source",
    value_col: str = "n_chars",
    trim_pct: int = 5,
) -> DataFrame:
    """Per-group EXACT trimmed mean of an integer column — the
    outlier-clipped location estimate between :func:`mad_lengths`
    (robust spread) and the raw mean: drop the lowest and highest
    ``trim_pct`` percent OF ROWS (by count, ties resolved by value
    order) and average the rest.  r14 registry candidate.

    THE INTEGER CONTRACT: ``lo = (trim_pct * n) DIV 100`` rows are
    removed from each tail; the kept mass per distinct value is the
    interval-overlap clamp ``kept(v) = max(0, min(cum(v), n - lo) -
    max(cum(v) - c(v), lo))`` — pure int64 window arithmetic over the
    value grid, and the emit is the exact microunit division
    ``sum_kept / n_kept`` via
    :func:`~spatialdata_spark.functions.exact.e6_signed` (loud on
    overflow).  No float ever touches the trim boundary, so boundary
    rows resolve identically on any engine.

    Plan: one corpus (group, value)-keyed count (the
    length_quantiles_exact shape), then the cumulative window on the
    value grid and one grid-sized rollup.  Flat at any corpus scale.

    Output: ``(group, n_docs, n_kept, trimmed_mean_e6)`` ordered by
    group; groups where the trim removes everything (n <= 2*lo can
    not happen for trim_pct < 50 and n >= 1) keep n_kept >= 1.
    """
    from pyspark.sql.window import Window

    from spatialdata_spark.functions.exact import e6_signed

    if not (isinstance(trim_pct, int) and 0 <= trim_pct < 50):
        raise ValueError(
            f"trimmed_mean_lengths: trim_pct must be an integer in [0, 50)"
            f" (got {trim_pct!r}) — 50+ would trim every row and a float"
            f" silently truncates"
        )
    dec = "decimal(38,0)"
    f = (
        docs.filter(F.col(group_col).isNotNull() & F.col(value_col).isNotNull())
        .groupBy(F.col(group_col).alias("grp"), F.col(value_col).cast("long").alias("__v"))
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
    )
    w = Window.partitionBy("grp").orderBy("__v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wg = Window.partitionBy("grp")
    cum = f.select(
        "grp",
        "__v",
        "__c",
        F.sum("__c").over(w).cast("long").alias("__cum"),
        F.sum("__c").over(wg).cast("long").alias("__n"),
    )
    lo = F.expr(f"CAST(({int(trim_pct)} * __n) DIV 100 AS BIGINT)")
    kept = F.greatest(
        F.lit(0).cast("long"),
        F.least(F.col("__cum"), F.col("__n") - lo)
        - F.greatest(F.col("__cum") - F.col("__c"), lo),
    )
    agg = cum.groupBy("grp").agg(
        F.max("__n").alias("n_docs"),
        F.sum(kept).cast("long").alias("n_kept"),
        F.sum(kept.cast(dec) * F.col("__v").cast(dec)).alias("__sum_kept"),
    )
    return agg.select(
        F.col("grp").alias(group_col),
        "n_docs",
        "n_kept",
        e6_signed(
            "__sum_kept", "CAST(n_kept AS DECIMAL(38,0))", "trimmed_mean_lengths"
        ).alias("trimmed_mean_e6"),
    ).orderBy(group_col)


def yule_k(
    docs: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Yule's characteristic K of the corpus vocabulary — the
    repeat-rate richness constant (Yule 1944) completing the
    vocabulary-diagnostics family (:func:`chao1_richness` bounds the
    asymptote, :func:`zipf_slope` fits the rank curve, K measures the
    repeat concentration and is famously length-insensitive)::

        K = 10^4 * (S2 - N) / N^2,   S2 = sum_i f_i^2

    over token frequencies ``f_i``.  Exactness: S2 and N are exact
    int64/decimal sums from ONE token-keyed aggregation and the emit
    is the exact microunit division ``10^4 * (S2 - N) / N^2`` via
    :func:`~spatialdata_spark.functions.exact.e6_signed` (loud on
    overflow; the bound ``10^4 * S2 * 2e6 <= 2e10 * N^2 < 1e38`` holds
    while ``N < ~2e13`` tokens).  Tokenization is the module
    convention WITH the empty-token filter (the chao1 docstring
    documents the two conventions; K follows the majority form).  An
    empty corpus raises loudly on every output column.

    Plan: one token-keyed count (map-side combine) + one 1-row rollup
    over the vocabulary-sized type table.  Flat at any corpus scale.

    Output: one row ``(n_tokens, n_types, yule_k_e6)``.
    """
    from spatialdata_spark.functions.exact import e6_signed

    dec = "decimal(38,0)"
    toks = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"), lambda x: x != ""
    )
    counts = (
        docs.select(F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    agg = counts.agg(
        F.sum("tf").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.col("tf").cast(dec) * F.col("tf").cast(dec)).alias("__s2"),
    )
    err = F.lit("yule_k: empty corpus (no tokens)")

    def g(col):
        # per-column empty-corpus guard (the herfindahl pattern)
        return F.when(
            F.coalesce(F.col("n_tokens"), F.lit(0)) > 0, col
        ).otherwise(F.raise_error(err))

    num = "(__s2 - CAST(n_tokens AS DECIMAL(38,0))) * 10000"
    den = "CAST(n_tokens AS DECIMAL(38,0)) * CAST(n_tokens AS DECIMAL(38,0))"
    return agg.select(
        g(F.col("n_tokens")).alias("n_tokens"),
        g(F.col("n_types")).alias("n_types"),
        g(e6_signed(num, den, "yule_k")).alias("yule_k_e6"),
    )


def topk_mass(
    docs: DataFrame,
    text_col: str = "text",
    ks: tuple[int, ...] = (10, 100, 1000),
) -> DataFrame:
    """Top-k token-mass coverage — what fraction of the corpus token
    stream the k most frequent types carry, for each requested k: the
    head-concentration curve that complements :func:`zipf_slope` (the
    fitted tail law) and :func:`token_gini` (the whole-distribution
    inequality number) with the operational question a tokenizer/vocab
    budget asks ("how much of the stream do 1000 types cover?").
    r15 registry candidate.

    DETERMINISM CONTRACT: types rank by ``(tf DESC, token ASC)`` — the
    token tie-break pins the k-boundary under frequency ties on any
    engine (the rounded-score-ordering lesson).  ``coverage_e6`` is
    the exact half-up microunit ratio ``covered/total`` via
    :func:`~spatialdata_spark.functions.exact.e6_signed`; when the
    vocabulary has fewer than k types, ``n_top_types < k`` and the
    coverage is the full mass (the k-grid row still emits).
    Tokenization is the module convention with the empty-token filter
    (the yule_k form).  ``ks`` must be positive ints, validated
    loudly; an empty corpus raises loudly on every output column.

    Plan: one token-keyed count (map-side combine, the only
    corpus-sized work); the top-max(k) selection is a distributed
    TakeOrdered (never a global single-partition window over the
    vocabulary) and the per-k conditional rollup runs on <= max(k)
    rows; the 1-row total broadcasts.  The persisted tf table serves
    BOTH the total and the top-k scan (tools/rescan_audit.py class;
    per-call accumulation + clearCache() contract as heaps_law).

    Output: one row per k ``(k, n_top_types, covered_tokens,
    coverage_e6)`` ordered by k.
    """
    from pyspark.sql.window import Window

    from spatialdata_spark.functions.exact import e6_signed

    if not ks or any((not isinstance(k, int)) or k <= 0 for k in ks):
        raise ValueError(f"topk_mass: ks must be positive ints, got {ks!r}")
    ks = tuple(sorted(set(ks)))
    toks = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"), lambda x: x != ""
    )
    # persist: the vocabulary-sized tf table feeds the 1-row total AND
    # the top-k selection (the heaps_law tf-table precedent)
    counts = (
        docs.select(F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .persist()
    )
    total = counts.agg(
        F.sum("tf").cast("long").alias("__total"),
        F.count(F.lit(1)).cast("long").alias("__types"),
    )
    top = counts.orderBy(F.desc("tf"), F.asc("token")).limit(max(ks))
    wr = Window.orderBy(F.desc("tf"), F.asc("token"))
    ranked = top.select(
        "tf", F.row_number().over(wr).cast("long").alias("__rn")
    )
    grid = ranked.agg(
        *[
            F.sum(F.when(F.col("__rn") <= k, F.col("tf")).otherwise(F.lit(0)))
            .cast("long")
            .alias(f"__cov_{k}")
            for k in ks
        ],
        *[
            F.sum(F.when(F.col("__rn") <= k, F.lit(1)).otherwise(F.lit(0)))
            .cast("long")
            .alias(f"__nt_{k}")
            for k in ks
        ],
    )
    rows = grid.crossJoin(F.broadcast(total)).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).cast("long").alias("k"),
                        F.col(f"__nt_{k}").alias("n_top_types"),
                        F.col(f"__cov_{k}").alias("covered_tokens"),
                    )
                    for k in ks
                ]
            )
        ).alias("__r"),
        "__total",
    ).select("__r.*", "__total")
    err = F.lit("topk_mass: empty corpus (no tokens)")

    def g(col):
        # per-column empty-corpus guard (the herfindahl pattern)
        return F.when(
            F.coalesce(F.col("__total"), F.lit(0)) > 0, col
        ).otherwise(F.raise_error(err))

    return rows.select(
        g(F.col("k")).alias("k"),
        g(F.col("n_top_types")).alias("n_top_types"),
        g(F.col("covered_tokens")).alias("covered_tokens"),
        g(
            e6_signed(
                "CAST(covered_tokens AS DECIMAL(38,0))",
                "CAST(__total AS DECIMAL(38,0))",
                "topk_mass",
            )
        ).alias("coverage_e6"),
    ).orderBy("k")
