"""Corpus-hygiene operators for training-data pipelines: within-document
repetition signals (Gopher-style), PII redaction, and benchmark
decontamination via word-n-gram overlap.

All hot paths are JVM-side Catalyst expressions (split / explode /
higher-order functions / regexp) — no Python UDFs.  Scale notes per
function; the common theme is that per-document signals shuffle only on
``(doc_id, gram)`` with map-side partial aggregation, and the
decontamination join broadcasts the (small) benchmark side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spatialdata_spark import session


def word_tokens(text_col: str = "text"):
    """Lowercased whitespace tokens of a text column (expression)."""
    return F.split(F.lower(F.trim(F.col(text_col))), r"\s+")


def word_ngrams(tokens_col, n: int):
    """Word n-grams of a token-array column as space-joined strings —
    a higher-order ``transform`` over a ``sequence`` of start offsets
    (empty array when the document has fewer than ``n`` tokens, since
    Spark's ``sequence(a, b)`` runs *descending* when a > b)."""
    sz = F.size(tokens_col)
    grams = F.transform(
        F.sequence(F.lit(0), sz - n),
        lambda i: F.concat_ws(" ", F.slice(tokens_col, i + 1, n)),
    )
    return F.when(sz >= n, grams).otherwise(F.array().cast("array<string>"))


def repetition_stats(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Within-document repetition signals in the spirit of the Gopher
    quality rules (Rae et al. 2021): fraction of mass in the most
    frequent unigram / bigram and the distinct-token ratio.

    Unigrams and bigrams are tagged and exploded in ONE pass, so the
    whole operator is a single ``(doc_id, kind, gram)`` shuffle chain
    with map-side combine and **no join at all** — both keyed by the
    document, embarrassingly parallel at any corpus size.  Output
    columns: ``top_unigram_frac``, ``distinct_ratio``,
    ``top_bigram_frac``.
    """
    toks = word_tokens(text_col)
    base = docs.select(F.col(id_col), toks.alias("__toks"))
    tagged = F.concat(
        F.transform(F.col("__toks"), lambda t: F.struct(F.lit(1).alias("kind"), t.alias("g"))),
        F.transform(
            word_ngrams(F.col("__toks"), 2),
            lambda g: F.struct(F.lit(2).alias("kind"), g.alias("g")),
        ),
    )
    grams = base.select(id_col, F.explode(tagged).alias("__t")).select(
        id_col, F.col("__t.kind").alias("__kind"), F.col("__t.g").alias("__g")
    )
    cnt = grams.groupBy(id_col, "__kind", "__g").count()
    is_uni = F.col("__kind") == 1
    uni_cnt = F.when(is_uni, F.col("count"))
    big_cnt = F.when(~is_uni, F.col("count"))
    return cnt.groupBy(id_col).agg(
        (F.max(uni_cnt) / F.sum(uni_cnt)).alias("top_unigram_frac"),
        (F.count(uni_cnt) / F.sum(uni_cnt)).alias("distinct_ratio"),
        F.coalesce(F.max(big_cnt) / F.sum(big_cnt), F.lit(0.0)).alias("top_bigram_frac"),
    )


# PII patterns chosen from the RE2 ∩ java.util.regex common dialect (no
# lookaround, no backreferences) so the same pattern string runs in both
# Spark and DuckDB/RE2-based engines.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ip": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
    "phone": r"\+[0-9][0-9-]{7,}[0-9]",
}


def pii_redact(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Redact emails, IPv4 addresses and international phone numbers;
    emit match counts and the redacted text.  Pure ``regexp_extract_all``
    / ``regexp_replace`` expressions — a linear scan per document with no
    shuffle at all (narrow map), which is the right shape for a 100 TB
    pass.  Order matters: emails before IPs (an email's host part can
    contain a dotted quad), phones last.
    """
    t = F.col(text_col)
    counts = {
        k: F.size(F.regexp_extract_all(t, F.lit(p), F.lit(0))).alias(f"n_{k}s")
        for k, p in PII_PATTERNS.items()
    }
    red = F.regexp_replace(t, PII_PATTERNS["email"], "<EMAIL>")
    red = F.regexp_replace(red, PII_PATTERNS["ip"], "<IP>")
    red = F.regexp_replace(red, PII_PATTERNS["phone"], "<PHONE>")
    return docs.select(
        F.col(id_col),
        counts["email"],
        counts["ip"],
        counts["phone"],
        red.alias("redacted"),
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing at least
    one word-``n``-gram with a benchmark/eval set (the published
    GPT-3/PaLM contamination procedure, shrunk from 13-grams to ``n``).

    The benchmark side (eval sets are tiny relative to a training
    corpus) is reduced to its distinct gram set and **broadcast** into a
    map-side left join that flags each corpus gram; one ``doc_id``
    aggregate then counts total and shared grams together — no all-pairs
    work, no shuffle of the corpus text, and no aggregate-aggregate join
    that would sort-merge at scale.  Returns ``doc_id, n_shared,
    n_grams, contaminated_frac`` for contaminated documents only.
    """
    toks = word_tokens(text_col)
    bgrams = (
        benchmark.select(F.explode(word_ngrams(toks, n)).alias("__g"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    cgrams = (
        corpus.select(F.col(id_col), F.explode(word_ngrams(toks, n)).alias("__g"))
        .distinct()
    )
    flagged = cgrams.join(F.broadcast(bgrams), "__g", "left")
    out = flagged.groupBy(id_col).agg(
        F.sum(F.coalesce("__hit", F.lit(0))).alias("n_shared"),
        F.count(F.lit(1)).alias("n_grams"),
    )
    return out.filter(F.col("n_shared") > 0).select(
        id_col,
        "n_shared",
        "n_grams",
        (F.col("n_shared") / F.col("n_grams")).alias("contaminated_frac"),
    )


def pack_blocks(
    docs: DataFrame,
    block_tokens: int = 2048,
    stream_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """GPT-style concat-then-chunk sequence packing: documents in each
    stream concatenate in ``id`` order and split into fixed
    ``block_tokens`` windows.  Emits each document's token offset, its
    block id, and whether it spans a block boundary.

    One window cumsum per stream — the partition key is the stream, so
    a corpus shards across streams; within a stream the running sum is
    the same scan a packing dataloader does.  (For single-stream
    corpora at extreme scale, range-partitioned prefix sums are the
    standard follow-up; streams are the natural shard here.)
    """
    from pyspark.sql.window import Window

    toks = word_tokens(text_col)
    n_tok = (
        F.when(F.length(F.trim(F.col(text_col))) == 0, 0)
        .otherwise(F.size(toks))
        .cast("long")
    )
    w = Window.partitionBy(stream_col).orderBy(id_col)
    out = docs.select(F.col(id_col), F.col(stream_col), n_tok.alias("n_tokens"))
    out = out.withColumn("token_start", F.sum("n_tokens").over(w) - F.col("n_tokens"))
    blk = F.floor(F.col("token_start") / block_tokens)
    end_blk = F.floor((F.col("token_start") + F.greatest(F.col("n_tokens") - 1, F.lit(0))) / block_tokens)
    return out.select(
        id_col,
        stream_col,
        "n_tokens",
        "token_start",
        blk.cast("long").alias("block_id"),
        (end_blk != blk).alias("spans_boundary"),
    )


def corpus_stats(
    docs: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    lang_col: str = "lang",
) -> DataFrame:
    """Per-(source, lang) corpus report card: doc count, distinct-text
    count (exact-dup signal), mean length and mean token count — the
    summary a data-curation dashboard reads.  One grouped aggregate
    with map-side combine; everything else is expressions."""
    t = F.col(text_col)
    toks = word_tokens(text_col)
    n_tok = F.when(F.length(F.trim(t)) == 0, 0).otherwise(F.size(toks))
    return (
        docs.groupBy(source_col, lang_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct(F.md5(t)).alias("n_distinct"),
            F.avg(F.length(t)).alias("mean_chars"),
            F.avg(n_tok).alias("mean_tokens"),
        )
    )


def stratified_sample(
    docs: DataFrame,
    rates_permille: dict[str, int],
    default_permille: int = 1000,
    stream_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-stream downsampling to target rates — the
    data-mixing primitive of corpus assembly (language/source
    rebalancing before training).

    A document is kept iff ``lehmer(id) % 1000 < rate_permille`` for
    its stream: the Lehmer/Park-Miller step ``(id % (2^31-1)) * 48271
    % (2^31-1)`` is a full-period multiplicative hash whose products
    stay under 2^47, so the arithmetic is exact int64 at ANY id scale
    (a 2^32-sized multiplier would overflow int64 once ids pass 2^31).
    Expression-only, no shuffle at all — the filter composes with the
    scan and pushes into the parquet read of a 100 TB corpus; the
    rates map enters the plan as a literal CASE, not a join.
    """
    m = F.lit(2147483647)
    state = (F.col(id_col) % m) * F.lit(48271) % m
    bucket = state % F.lit(1000)
    rate = F.lit(default_permille)
    for k, v in sorted(rates_permille.items()):
        rate = F.when(F.col(stream_col) == k, F.lit(int(v))).otherwise(rate)
    return docs.withColumn("__bucket", bucket).filter(F.col("__bucket") < rate).drop(
        "__bucket"
    )


def shard_shuffle(
    docs: DataFrame,
    n_shards: int = 32,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic global shuffle for training-data loading: every
    document gets a shard and a position inside it, with the order
    decorrelated from the id order.

    Two chained Lehmer/Park-Miller steps (products < 2^47, exact int64
    at any id scale): the first picks the shard, the second the
    within-shard sort key (so adjacent ids land in different shards
    AND at unrelated positions — the property a training loader needs
    from a "global shuffle" without ever materializing one).  The
    window partitions by SHARD: ``n_shards`` is the parallelism knob —
    at corpus scale you size it so a shard is one output file
    (O(100k) shards for 100 TB), which keeps every sort task-sized;
    no global ordering step exists anywhere in the plan.  Ties on the
    sort key break by id — fully deterministic, rerun-stable."""
    from pyspark.sql.window import Window

    m = F.lit(2147483647)
    s1 = (F.col(id_col) % m) * F.lit(48271) % m
    out = docs.withColumn("__s1", s1).withColumn(
        "shard", (F.col("__s1") % F.lit(int(n_shards))).cast("int")
    ).withColumn("__s2", (F.col("__s1") * F.lit(48271)) % m)
    w = Window.partitionBy("shard").orderBy("__s2", id_col)
    return (
        out.withColumn(
            "pos_in_shard", (F.row_number().over(w) - 1).cast("long")
        )
        .drop("__s1", "__s2")
    )


def interleave_weighted(
    docs: DataFrame,
    weights: dict[str, int],
    n_shards: int = 4,
    stream_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic weighted round-robin interleave of streams — the
    dataset-mixing schedule a training loader consumes (w_s documents
    from stream s per round, repeating until the first stream runs
    out of complete rounds).

    Computed PER SHARD (Lehmer shard assignment, same hash family as
    ``shard_shuffle``): every rank/window partitions by
    ``(shard, stream)``, so parallelism scales with ``n_shards`` and
    no stream ever funnels through one reducer — at corpus scale you
    size ``n_shards`` so a shard is one loader file, exactly the
    ``shard_shuffle`` contract.  Within a shard, positions are
    closed-form integer arithmetic (``round * W + offset_s + slot``),
    dense ``0..R*W-1`` — no global sort exists anywhere.  Streams not
    in ``weights`` are excluded (the mixing schedule defines the
    corpus).  Exhaustion follows the first-exhausted rule per shard:
    R = min_s floor(n_s / w_s) complete rounds."""
    from pyspark.sql.window import Window

    streams = sorted(weights)
    total_w = sum(int(weights[s]) for s in streams)
    offsets: dict[str, int] = {}
    acc = 0
    for s in streams:
        offsets[s] = acc
        acc += int(weights[s])

    m = F.lit(2147483647)
    s1 = (F.col(id_col) % m) * F.lit(48271) % m
    base = (
        docs.filter(F.col(stream_col).isin(streams))
        .withColumn("__s1", s1)
        .withColumn("shard", (F.col("__s1") % F.lit(int(n_shards))).cast("int"))
        .withColumn("__s2", (F.col("__s1") * F.lit(48271)) % m)
    )
    w_expr = F.lit(int(weights[streams[0]]))
    off_expr = F.lit(offsets[streams[0]])
    for s in streams[1:]:
        w_expr = F.when(F.col(stream_col) == s, F.lit(int(weights[s]))).otherwise(w_expr)
        off_expr = F.when(F.col(stream_col) == s, F.lit(offsets[s])).otherwise(off_expr)
    win = Window.partitionBy("shard", stream_col).orderBy("__s2", id_col)
    ranked = (
        base.withColumn("__k", (F.row_number().over(win) - 1).cast("long"))
        .withColumn("__w", w_expr.cast("long"))
        .withColumn("__r", F.floor(F.col("__k") / F.col("__w")))
        .withColumn("__slot", F.col("__k") % F.col("__w"))
    )
    rounds = (
        ranked.groupBy("shard", stream_col)
        .agg(F.count(F.lit(1)).alias("n"), F.first("__w").alias("w"))
        .groupBy("shard")
        .agg(F.min(F.floor(F.col("n") / F.col("w"))).alias("__R"))
    )
    # shard-count rows: unconditionally broadcastable model state.
    # aliases: rounds shares lineage with ranked, so unqualified
    # column references are ambiguous after the self-derived join
    out = (
        ranked.alias("rk")
        .join(F.broadcast(rounds.alias("ro")), F.col("rk.shard") == F.col("ro.shard"))
        .filter(F.col("rk.__r") < F.col("ro.__R"))
    )
    pos = (
        F.col("rk.__r") * F.lit(total_w)
        + off_expr.cast("long")
        + F.col("rk.__slot")
    ).cast("long")
    return (
        out.withColumn("pos_in_shard", pos)
        .select("rk.*", "pos_in_shard")
        .drop("__s1", "__s2", "__k", "__w", "__r", "__slot")
    )


def boilerplate_remove(
    docs: DataFrame,
    seg_words: int = 3,
    min_docs: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style boilerplate removal at segment granularity: split
    each document into consecutive non-overlapping ``seg_words``-word
    segments (the "lines/paragraphs" of a corpus whose documents carry
    no line structure), drop every segment that occurs verbatim in at
    least ``min_docs`` DISTINCT documents (headers, footers, cookie
    banners — content repeated across pages, as opposed to the
    within/cross-document duplicated SPANS that
    :func:`~spatialdata_spark.pipeline.dedup.remove_duplicate_spans`
    cuts), and reassemble the survivors in order.

    Distributed shape: segments explode narrow on the document; the
    distinct-document count is two map-side-combinable aggregations
    (``(seg, doc)`` dedup, then per-seg count — never a window); only
    the *flagged* vocabulary joins back (AQE picks the join strategy —
    at corpus scale the boilerplate set is
    vocabulary-sized, orders smaller than the corpus); reassembly is
    one per-document aggregation over sorted structs.  At 100 TB the
    exact distinct count swaps for the same two-stage shape with the
    first stage pre-hashed — the plan is unchanged.

    Output: ``(doc_id, clean_text, n_removed)`` for every input
    document (``clean_text = ''`` when everything was boilerplate).
    """
    W = int(seg_words)
    toks = word_tokens(text_col)
    n = F.size(toks)
    n_segs = F.when(n <= 0, 0).otherwise(F.floor((n - 1) / W) + 1)
    segs = docs.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), (n_segs - 1).cast("int")),
                lambda i: F.concat_ws(" ", F.slice(toks, i * W + 1, W)),
            )
        ).alias("__i", "__seg"),
    )
    boiler = (
        segs.select("__seg", id_col)
        .distinct()
        .groupBy("__seg")
        .agg(F.count(F.lit(1)).alias("__d"))
        .filter(F.col("__d") >= int(min_docs))
        .select("__seg", F.lit(1).alias("__b"))
    )
    marked = segs.join(boiler, "__seg", "left")
    kept = F.when(
        F.col("__b").isNull(), F.struct(F.col("__i").alias("i"), F.col("__seg").alias("s"))
    )
    return (
        marked.groupBy(id_col)
        .agg(
            F.array_sort(F.collect_list(kept)).alias("__kept"),
            F.sum(F.coalesce(F.col("__b"), F.lit(0))).cast("long").alias("n_removed"),
        )
        .select(
            id_col,
            F.concat_ws(
                " ", F.transform(F.col("__kept"), lambda x: x["s"])
            ).alias("clean_text"),
            "n_removed",
        )
    )


def paragraph_dedup(
    docs: DataFrame,
    seg_words: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style global keep-first paragraph dedup: every
    ``seg_words``-word segment keeps only its FIRST occurrence in the
    corpus (ordered by ``(doc_id, position)``); later repeats — across
    documents AND within one — are cut and the survivors reassembled
    in order.  Complements :func:`boilerplate_remove` (which drops a
    segment EVERYWHERE once ``min_docs`` documents share it; here the
    canonical copy survives).

    Exactness: the first-occurrence rule is a single map-side-
    combinable ``MIN`` over the integer position code
    ``doc_id * 2^20 + index`` (documented bound: < 2^20 segments per
    document — a million words — and ``doc_id < 2^43``), so the
    survivor set replays bit-exactly in SQL.

    Shape: segments explode narrow; one aggregation keyed by the
    segment builds the canonical table (vocabulary-sized, joins back;
    AQE picks the join strategy);
    reassembly is one per-document sorted-struct aggregation — the
    ``boilerplate_remove`` plan with a keep-first rule instead of a
    df threshold."""
    W = int(seg_words)
    toks = word_tokens(text_col)
    n = F.size(toks)
    n_segs = F.when(n <= 0, 0).otherwise(F.floor((n - 1) / W) + 1)
    segs = docs.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), (n_segs - 1).cast("int")),
                lambda i: F.concat_ws(" ", F.slice(toks, i * W + 1, W)),
            )
        ).alias("__i", "__seg"),
    ).withColumn(
        "__code", F.col(id_col).cast("long") * F.lit(1 << 20) + F.col("__i")
    )
    canon = segs.groupBy("__seg").agg(F.min("__code").alias("__first"))
    marked = segs.join(canon, "__seg")
    kept = F.when(
        F.col("__code") == F.col("__first"),
        F.struct(F.col("__i").alias("i"), F.col("__seg").alias("s")),
    )
    return (
        marked.groupBy(id_col)
        .agg(
            F.array_sort(F.collect_list(kept)).alias("__kept"),
            F.sum((F.col("__code") != F.col("__first")).cast("long")).alias(
                "n_removed"
            ),
        )
        .select(
            id_col,
            F.concat_ws(
                " ", F.transform(F.col("__kept"), lambda x: x["s"])
            ).alias("clean_text"),
            "n_removed",
        )
    )


def lang_temperature_weights(
    docs: DataFrame,
    lang_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Temperature-based multilingual sampling proportions (the
    mT5/XLM-R recipe at alpha = 0.5): ``p_lang ∝ count^alpha`` — the
    low-resource boost that keeps a training mix from being swamped by
    the head language.  alpha is FIXED at 0.5 because ``sqrt`` is
    exactly specified by IEEE 754 (correctly rounded in every engine),
    unlike ``pow`` whose libm differences would break replayability;
    the final share is rounded to 9 dp.  One language-keyed count (a
    handful of groups, map-side combinable) and a broadcast scalar
    total — metadata-sized at any corpus scale."""
    counts = docs.groupBy(lang_col).agg(F.count(F.lit(1)).alias("n_docs"))
    tot = counts.agg(F.sum(F.sqrt(F.col("n_docs").cast("double"))).alias("__t"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            lang_col,
            F.col("n_docs").cast("long").alias("n_docs"),
            F.round(
                F.sqrt(F.col("n_docs").cast("double")) / F.col("__t"), 9
            ).alias("sample_weight"),
        )
    )


def weighted_sample(
    docs: DataFrame,
    weights: dict[str, int],
    k: int,
    default_weight: int = 1,
    stratum_col: str = "source",
    stream_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Deterministic weighted sampling without replacement: keep the
    ``k`` documents of each stratum with the smallest *priority*,
    where a document of integer weight ``w`` draws ``w`` independent
    hash priorities and keeps the minimum — the integer-exact analog
    of Efraimidis–Spirakis A-ES keys (P(selected) grows with ``w``;
    every arithmetic step stays under 2^47, so the sample replays
    bit-identically in any engine at any id scale; no floating-point
    ``u^(1/w)`` whose last-ulp could flip the k-th boundary).

    Weights must be small integers (≤ 8): the ``w`` draws are an
    ``array_min`` over a ``transform``'ed ``sequence`` — pure
    expression, no row explosion.  Selection reuses the
    :func:`quota_cap` two-stage shape: an Arrow per-batch local top-k
    (pigeonhole-lossless) bounds what shuffles to ``k × batches`` per
    stratum, then one exact ``row_number`` window ranks the
    survivors — a crawl-dump stratum never funnels its full row count
    through one reducer.

    Output: ``(id, stratum, stream, priority)``.
    """
    if any(int(v) > 8 or int(v) < 1 for v in weights.values()) or not (
        1 <= int(default_weight) <= 8
    ):
        raise ValueError("weights must be integers in [1, 8]")
    from pyspark.sql.window import Window

    m = F.lit(2147483647)
    w_expr = F.lit(int(default_weight))
    for s, v in sorted(weights.items()):
        w_expr = F.when(F.col(stream_col) == s, F.lit(int(v))).otherwise(w_expr)

    def _pri(j):
        # two chained Lehmer steps over the (id, draw) pair; id*8+j is
        # injective for w <= 8
        s1 = (F.col(id_col) * 8 + j) % m * F.lit(48271) % m
        return s1 * F.lit(48271) % m

    priority = F.array_min(F.transform(F.sequence(F.lit(0), w_expr - 1), _pri))
    base = docs.select(
        F.col(id_col),
        F.col(stratum_col),
        F.col(stream_col),
        priority.cast("long").alias("priority"),
    )
    kk = int(k)

    def _local_top(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf
                continue
            tmp = pdf.sort_values(["priority", id_col], kind="mergesort")
            rank = tmp.groupby([stratum_col], sort=False, dropna=False).cumcount()
            yield tmp[rank.values < kk][list(pdf.columns)]

    pruned = base.mapInPandas(_local_top, schema=base.schema)
    w = Window.partitionBy(stratum_col).orderBy(
        F.col("priority").asc(), F.col(id_col).asc()
    )
    return (
        pruned.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= kk)
        .drop("__r")
    )


def quota_cap(
    docs: DataFrame,
    quotas: dict[str, int],
    default_quota: int,
    stream_col: str = "lang",
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-(group, stream) quota capping: keep the best ``quota`` docs
    of each (source, lang) cell, ranked by length (the stand-in for a
    quality score) with id as the deterministic tiebreak — the mixing
    knob that stops one crawl dump from swamping a training mix.

    Two stages, because a single ``row_number`` window would sort every
    row of a cell in ONE reducer task (window functions have no
    map-side combine) and a crawl-dump cell has billions of rows:

    1. **Local pre-truncation, zero shuffle**: an Arrow ``mapInPandas``
       pass keeps, per input batch, only each cell's local top-quota
       under the same (length desc, id asc) order.  The global
       top-quota of a cell is contained in the union of its per-batch
       top-quotas (pigeonhole: a globally kept row is in its batch's
       top-quota too), so this drops nothing — but it bounds what
       reaches the shuffle to ``quota × batches`` rows per cell, and
       the full corpus never shuffles.
    2. The exact ``row_number`` window over ``(group, stream)`` on the
       survivors — now a small, evenly keyed exchange.

    Adding the real quality column changes only the ORDER BY (both
    stages)."""
    from pyspark.sql.window import Window

    quotas_map = {str(k): int(v) for k, v in quotas.items()}
    dq = int(default_quota)

    def _local_cap(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf
                continue
            ln = pdf[text_col].str.len().fillna(-1)
            tmp = pdf.assign(__ln=ln).sort_values(
                ["__ln", id_col], ascending=[False, True], kind="mergesort"
            )
            rank = tmp.groupby([group_col, stream_col], sort=False, dropna=False).cumcount()
            q = tmp[stream_col].map(quotas_map).fillna(dq).astype("int64")
            yield tmp[rank.values < q.values][list(pdf.columns)]

    capped = docs.mapInPandas(_local_cap, schema=docs.schema)

    w = Window.partitionBy(group_col, stream_col).orderBy(
        F.length(F.col(text_col)).desc(), F.col(id_col).asc()
    )
    quota = F.lit(dq)
    for k, v in sorted(quotas.items()):
        quota = F.when(F.col(stream_col) == k, F.lit(int(v))).otherwise(quota)
    return (
        capped.withColumn("__rank", F.row_number().over(w))
        .filter(F.col("__rank") <= quota)
        .drop("__rank")
    )


def chunk_with_overlap(
    docs: DataFrame,
    chunk_tokens: int = 128,
    stride: int = 96,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sliding-window chunking of each document's token stream
    (context-window preparation with overlap, the RAG/training-prep
    primitive): chunk ``i`` covers tokens ``[i*stride, i*stride +
    chunk_tokens)``; the last chunk may be short; empty docs emit no
    chunks.

    Expression-only — a ``sequence`` of chunk starts exploded per
    document, narrow on the document (no shuffle at all), so it
    composes with the scan of an arbitrarily large corpus.  Emits
    ``(doc_id, chunk_idx, start_tok, n_chunk_tokens, chunk_text)``.
    """
    if stride <= 0 or chunk_tokens <= 0:
        raise ValueError("chunk_tokens and stride must be positive")
    toks = word_tokens(text_col)
    n = F.when(F.length(F.trim(F.col(text_col))) == 0, 0).otherwise(F.size(toks))
    base = docs.select(F.col(id_col), toks.alias("__toks"), n.alias("__n"))
    # chunk starts: 0, stride, ... up to the last start < n
    n_chunks = F.when(F.col("__n") <= 0, 0).otherwise(
        F.floor((F.col("__n") - 1) / stride) + 1
    )
    out = base.filter(F.col("__n") > 0).select(
        id_col,
        "__toks",
        "__n",
        F.explode(F.sequence(F.lit(0), (n_chunks - 1).cast("int"))).alias("chunk_idx"),
    )
    start = (F.col("chunk_idx") * stride).cast("long")
    size = F.least(F.lit(chunk_tokens).cast("long"), F.col("__n") - start)
    return out.select(
        id_col,
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        start.alias("start_tok"),
        size.alias("n_chunk_tokens"),
        F.concat_ws(
            " ", F.slice("__toks", (start + 1).cast("int"), size.cast("int"))
        ).alias("chunk_text"),
    )


def mix_epochs(
    docs: DataFrame,
    epochs: dict[str, int],
    default_epochs: int = 1,
    stream_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic epoch-weighted mixing: emit each document
    ``epochs[stream]`` times with an epoch index — the >1x repetition
    half of data mixing (stratified_sample is the <1x half).  A pure
    ``sequence`` explode, narrow on the document, zero shuffles; the
    epoch map enters the plan as a literal CASE.

    Rates below 1 drop the stream entirely (0 copies).  Spark's
    ``sequence(1, 0)`` would run DESCENDING and emit [1, 0] — two
    copies instead of none — so streams with ``reps < 1`` are filtered
    out before the explode (matching ``generate_series(1, 0)`` = empty
    in the SQL oracle).
    """
    if int(default_epochs) < 0 or any(int(v) < 0 for v in epochs.values()):
        raise ValueError("epoch counts must be >= 0")
    reps = F.lit(int(default_epochs))
    for k, v in sorted(epochs.items()):
        reps = F.when(F.col(stream_col) == k, F.lit(int(v))).otherwise(reps)
    return (
        docs.withColumn("__reps", reps.cast("int"))
        .filter(F.col("__reps") >= 1)
        .withColumn("epoch", F.explode(F.sequence(F.lit(1), F.col("__reps"))))
        .drop("__reps")
        .withColumn("epoch", F.col("epoch").cast("long"))
    )


def dsir_weights(
    docs: DataFrame,
    target_lang: str = "en",
    n_buckets: int = 1024,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """DSIR importance weights (Xie et al., NeurIPS 2023 "Data
    Selection for Language Models via Importance Resampling"): score
    every document by the log-likelihood ratio of its hashed-bigram
    features under a *target* distribution (here: the ``target_lang``
    slice) vs the *raw* corpus distribution.  Documents whose feature
    profile resembles the target get high weights; sampling
    ``exp(weight)``-proportionally reshapes the raw corpus toward the
    target domain.

    Features are word bigrams hashed into ``n_buckets`` buckets with
    the engine-common md5 hash (first 60 hex-parsed bits, mod
    ``n_buckets``) so the whole computation — bucket counts,
    add-1-smoothed log ratios, per-document sums — replays exactly in
    DuckDB.  The per-bucket log-ratio

        ``lr[b] = ln( (c_t[b]+1) / (n_t+m)  /  ((c_r[b]+1) / (n_r+m)) )``

    is precomputed once (a ``n_buckets``-row table, broadcast), and the
    document weight is ``sum_b count_in_doc[b] * lr[b]`` — grouped
    per (doc, bucket) first so the float sum runs over at most
    ``n_buckets`` terms.

    Scale: the bigram explode is map-side; the two bucket-count
    aggregations are ``n_buckets``-sized (map-side combinable); the
    only join against document-sized data is broadcast
    (``n_buckets`` rows).  Nothing document-sized is ever collected.

    Output: ``(id, n_bigrams, dsir_logweight)`` — weight rounded to
    6 dp (the float-sum parity precedent of the BM25/unigram-LM
    oracles).
    """
    m = int(n_buckets)
    toks = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"), lambda x: x != ""
    )
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat(
                F.element_at(toks, i.cast("int")),
                F.lit(" "),
                F.element_at(toks, (i + 1).cast("int")),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bg = docs.select(
        F.col(id_col),
        F.col(lang_col).alias("__lang"),
        F.explode(bigrams).alias("__bg"),
    )
    h = F.conv(F.substring(F.md5(F.col("__bg")), 1, 15), 16, 10).cast("long")
    bucketed = bg.select(id_col, "__lang", F.pmod(h, F.lit(m)).alias("__bkt"))

    # persist: the n_buckets-row (1024) bucket-count table is consumed
    # by the totals rollup and the log-ratio projection — un-cached,
    # each replays the corpus bigram explode (3 live scans,
    # tools/rescan_audit.py).  PER-CALL ACCUMULATION (the
    # _approx_rank_bins contract): LRU-reclaimed; clearCache() reclaims
    # eagerly.
    raw_counts = bucketed.groupBy("__bkt").agg(
        F.count(F.lit(1)).cast("long").alias("__cr"),
        F.sum((F.col("__lang") == target_lang).cast("long")).alias("__ct"),
    ).persist()
    totals = raw_counts.agg(
        F.sum("__cr").alias("__nr"), F.sum("__ct").alias("__nt")
    )
    lr_tbl = raw_counts.crossJoin(F.broadcast(totals)).select(
        "__bkt",
        (
            F.log((F.col("__ct") + 1).cast("double"))
            - F.log((F.col("__nt") + m).cast("double"))
            - F.log((F.col("__cr") + 1).cast("double"))
            + F.log((F.col("__nr") + m).cast("double"))
        ).alias("__lr"),
    )
    if session.single_host(docs.sparkSession):
        lr_tbl = F.broadcast(lr_tbl)
    doc_bkt = bucketed.groupBy(id_col, "__bkt").agg(
        F.count(F.lit(1)).cast("long").alias("__cnt")
    )
    # buckets never seen in the corpus cannot appear in any document,
    # so the inner join is lossless
    return (
        doc_bkt.join(lr_tbl, "__bkt")
        .groupBy(id_col)
        .agg(
            F.sum("__cnt").cast("long").alias("n_bigrams"),
            F.round(F.sum(F.col("__cnt") * F.col("__lr")), 6).alias(
                "dsir_logweight"
            ),
        )
    )


def c4_rules(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """C4 line- and page-level cleaning rules (Raffel et al. 2020,
    JMLR §2.2 — the cleaning pass behind the C4 corpus): a line
    survives iff it ends in a terminal punctuation mark (``.!?"``),
    holds at least five words, and does not mention ``javascript``;
    the page survives iff it contains no ``lorem ipsum``, no curly
    brace, and at least three sentences remain in the kept lines
    (sentence count = terminal-punctuation occurrences).

    Entirely per-row higher-order expressions over the line array —
    no explode, no shuffle, no Python: a 100 TB crawl cleans in a
    single map-side pass glued to the parquet scan, and the whole
    predicate replays in ANSI SQL (``list_filter`` twin).

    Output: ``(doc_id, n_lines, n_kept_lines, kept_chars,
    n_sentences, keep_doc)``.
    """
    lines = F.split(F.col(text_col), "\n")

    def _kept(l):
        t = F.trim(l)
        return (
            (t != "")
            & t.rlike('[.!?"]$')
            & (F.size(F.split(t, r"\s+")) >= 5)
            & ~F.contains(F.lower(t), F.lit("javascript"))
        )

    kept = F.filter(lines, _kept)
    joined = F.array_join(kept, "\n")
    n_sent = F.length(joined) - F.length(
        F.regexp_replace(joined, r"[.!?]", "")
    )
    keep_doc = (
        ~F.contains(F.lower(F.col(text_col)), F.lit("lorem ipsum"))
        & ~F.contains(F.col(text_col), F.lit("{"))
        & (n_sent >= 3)
    )
    return docs.select(
        F.col(id_col),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept_lines"),
        F.length(joined).cast("long").alias("kept_chars"),
        n_sent.cast("long").alias("n_sentences"),
        keep_doc.cast("int").alias("keep_doc"),
    )


def ngram_novelty(
    docs: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a document's
    DISTINCT word n-grams whose first corpus owner (minimum doc_id
    over every document containing the gram) is the document itself —
    the standard "how much genuinely new text does this shard add"
    curation diagnostic (the document-level dual of keep-first
    paragraph dedup).

    Plan: one distinct (doc, gram) explode; first-owner is a single
    map-side-combinable MIN per gram (the result is gram-VOCABULARY-
    sized, not corpus-sized); AQE picks the join-back strategy; one
    per-document aggregation.  Documents
    with fewer than ``n`` tokens emit no row.
    """
    grams = (
        docs.select(
            F.col(id_col).alias("__d"),
            F.explode(word_ngrams(word_tokens(text_col), n)).alias("__g"),
        )
        .distinct()
    )
    first = grams.groupBy("__g").agg(F.min("__d").alias("__first"))
    return (
        grams.join(first, "__g")
        .groupBy("__d")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum((F.col("__d") == F.col("__first")).cast("long"))
            .cast("long")
            .alias("n_novel"),
        )
        .select(
            F.col("__d").alias(id_col),
            "n_grams",
            "n_novel",
            F.round(F.col("n_novel") / F.col("n_grams"), 9).alias("novelty"),
        )
    )


def bloom_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    m_bits: int = 1 << 18,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Bloom-filter benchmark decontamination — the 100 TB form of
    :func:`decontaminate`: instead of broadcasting the benchmark's
    full distinct n-gram SET (which grows with the eval suite), the
    benchmark compresses to an ``m``-bit / ``k``-hash Bloom filter
    (Bloom 1970; the Dolma/CCNet-style contamination pre-filter), a
    FIXED-size structure regardless of how many eval sets are pooled.
    A corpus gram is flagged iff all ``k`` probe bits are set — a
    superset of the exact hits (one-sided error), so the output is a
    conservative pre-filter feeding the exact join only on survivors.

    The whole filter is deterministic and relational, so it replays
    bit-exactly in ANSI SQL: probes use Kirsch–Mitzenmacher double
    hashing ``bit_j = (h1 mod m + j * (h2 mod m + 1)) mod m`` over two
    disjoint 60-bit slices of ``md5(gram)`` (the same hex-parse
    identity the HLL sketch pins: Spark ``conv(substring(md5, ...),
    16, 10)`` == DuckDB ``('0x' || substr(md5, ...))::BIGINT``).

    Plan: benchmark grams -> k probes -> DISTINCT set-bit table
    (<= m rows — broadcast whatever the eval corpus size); corpus
    grams probe with a map-side join and one per-(doc, gram) AND
    reduction; one per-document aggregate.  The corpus text never
    shuffles; the only data-sized exchange is the distinct (doc,
    gram) pair stream, identical to the exact path.

    Output: ``(doc_id, n_grams, n_maybe, bloom_frac)`` for documents
    with at least one flagged gram.
    """
    m = int(m_bits)
    toks = word_tokens(text_col)

    def _probes():
        h1 = F.conv(F.substring(F.md5(F.col("__g")), 1, 15), 16, 10).cast(
            "long"
        )
        h2 = F.conv(F.substring(F.md5(F.col("__g")), 16, 15), 16, 10).cast(
            "long"
        )
        step = h2 % m + 1
        return F.array(*[(h1 % m + j * step) % m for j in range(int(k))])

    bits = (
        benchmark.select(F.explode(word_ngrams(toks, n)).alias("__g"))
        .distinct()
        .select(F.explode(_probes()).alias("__bit"))
        .distinct()
        .withColumn("__set", F.lit(1))
    )
    cpair = (
        corpus.select(
            F.col(id_col), F.explode(word_ngrams(toks, n)).alias("__g")
        )
        .distinct()
        .select(F.col(id_col), "__g", F.explode(_probes()).alias("__bit"))
    )
    per_gram = (
        cpair.join(F.broadcast(bits), "__bit", "left")
        .groupBy(id_col, "__g")
        .agg(
            (F.sum(F.coalesce("__set", F.lit(0))) == F.count(F.lit(1)))
            .cast("long")
            .alias("__maybe")
        )
    )
    out = per_gram.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_grams"),
        F.sum("__maybe").cast("long").alias("n_maybe"),
    )
    return out.filter(F.col("n_maybe") > 0).select(
        id_col,
        "n_grams",
        "n_maybe",
        F.round(F.col("n_maybe") / F.col("n_grams"), 9).alias("bloom_frac"),
    )


def hash_split(
    df: DataFrame,
    weights: dict[str, float] | None = None,
    id_col: str = "doc_id",
    salt: int = 42,
    bucket: Column | None = None,
) -> DataFrame:
    """Deterministic train/val/test assignment: each row lands in a
    split by ``xxhash64(id, salt) mod 1e6`` against cumulative weight
    thresholds — the standard leakage-safe corpus split (a row's split
    is a pure function of its id: stable across runs, machines,
    repartitions, and incremental corpus growth, which a random
    ``df.randomSplit`` is NOT).

    Pure projection — zero shuffle, fuses into the scan; the split
    column can feed a partitioned write so each split lands in its
    own files.

    Output: the input columns plus ``split``.

    ``bucket`` overrides the default ``xxhash64``-derived bucket with a
    caller-supplied integer Column in ``[0, 1e6)`` — used where the
    assignment must replay bit-exactly in engines without xxhash64
    (e.g. the Knuth multiplicative hash in the driver oracle).
    """
    w = weights or {"train": 0.9, "val": 0.05, "test": 0.05}
    total = float(sum(w.values()))
    m = 1_000_000
    if bucket is None:
        bucket = F.pmod(F.xxhash64(F.col(id_col), F.lit(int(salt))), F.lit(m))
    expr = None
    cum = 0.0
    items = list(w.items())
    for name, frac in items[:-1]:
        cum += frac / total
        cond = bucket < int(cum * m)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = items[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(last)
    return df.withColumn("split", expr)
