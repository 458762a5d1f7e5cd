"""Distributed BPE tokenizer training and encoding.

The classic Sennrich/Gage byte-pair-encoding loop re-expressed in the
shape a 100 TB corpus needs:

* Pair statistics are computed over the **distinct-word frequency
  table**, not the corpus (the standard BPE-training optimization —
  the word table is vocabulary-sized and shrinks by Zipf no matter how
  large the corpus is), with a map-side-combining SUM on symbol-pair
  keys.
* Each round's winning merge is one collected row (model state), and
  applying it is a **broadcast map** — a single string ``replace`` per
  word, no shuffle.  ``n_merges`` rounds means ``n_merges``
  vocabulary-sized aggregations; the corpus itself is only touched
  once (to build the word table) plus once more at encode time.

Merge-application semantics are the HuggingFace-trainer ones: scan the
symbol sequence left to right, merge on match, continue after the
merged pair (non-overlapping).  That is EXACTLY what SQL's standard
``replace(s, find, rep)`` does, so the whole loop replays in ANSI SQL.

The symbol-sequence encoding is the part that makes ``replace`` safe:
symbols are separated by TWO spaces with single-space guards at both
ends (`` a  b  c ``).  A merge rewrites ``' a  b '`` → ``' ab '``:
the pattern's leading space + double interior gap can only match a
complete symbol pair (a symbol with extra characters breaks the
double-space run), and the replacement consumes one guard space while
leaving the other, so the neighbours' separators survive — runs merge
exactly like the left-to-right scan (`` a  a  a `` → `` aa  a ``).

Ties on pair count break by ``(left ASC, right ASC)`` binary
collation — deterministic in both engines.

Reference: the reference engine has no tokenizer surface; this covers
the training-data-pipeline extension (the tokenizer-training batch job
that precedes token counting in ``textstats.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["bpe_word_table", "bpe_train", "bpe_token_counts", "bpe_fertility"]


def bpe_word_table(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Distinct-word frequency table with the initial character-level
    symbol sequence (double-space separated, single-space guards)."""
    words = (
        docs.filter(F.length(F.trim(F.col(text_col))) > 0)
        .select(
            F.explode(
                F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
            ).alias("w")
        )
        .filter(F.length("w") > 0)
    )
    wf = words.groupBy("w").agg(F.count(F.lit(1)).alias("freq"))
    seq = F.concat(
        F.lit(" "),
        F.rtrim(F.regexp_replace(F.col("w"), "(.)", "$1  ")),
        F.lit(" "),
    )
    return wf.select("w", "freq", seq.alias("seq"))


def _pair_counts(wf: DataFrame) -> DataFrame:
    """Adjacent-symbol pair counts weighted by word frequency —
    a vocabulary-sized map-side-combining aggregation."""
    syms = F.split(F.trim(F.col("seq")), "  ")
    pairs = F.when(
        F.size(syms) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(syms) - 2),
            lambda i: F.struct(
                F.element_at(syms, (i + 1).cast("int")).alias("l"),
                F.element_at(syms, (i + 2).cast("int")).alias("r"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))
    return (
        wf.select("freq", F.explode(pairs).alias("p"))
        .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.sum("freq").alias("cnt"))
    )


def _apply_merge(col, l: str, r: str):
    """``' l  r ' -> ' lr '`` on the double-space symbol encoding.

    Built with Column literals (``F.replace``) rather than a SQL string
    parsed by ``F.expr`` so symbols containing quotes or backslashes are
    passed through byte-for-byte — Spark SQL string literals process
    backslash escapes, which would silently mutate a pattern derived
    from text like ``C:\\path``."""
    pat = F.lit(" " + l + "  " + r + " ")
    rep = F.lit(" " + l + r + " ")
    return F.replace(col, pat, rep)


def _accept_batch(top, kth_cnt, exhaustive, known_symbols):
    """Longest prefix of the (cnt DESC, l ASC, r ASC)-sorted candidate
    list that is PROVABLY the next merges of the sequential argmax loop.

    Soundness argument (each accepted candidate C after the first):

    * C shares no symbol with earlier accepted merges, so its own count
      is unchanged by applying them.
    * Any surviving pair that shares a symbol with an accepted merge can
      only *decrease*; by sort position its old count is already
      ``<= C.cnt`` (a larger conflicting pair would have stopped the
      scan before C), so it cannot overtake C.
    * A pair *created* by an accepted merge ``(a,b)`` is bounded by the
      old count of an adjacent pair ``(p,a)``/``(b,n)`` — itself a
      conflicting pair, so again ``<= C.cnt``.  Equality would let the
      new pair tie C and win on the (unknowable here) lexicographic
      order of the fresh merged symbol, so the scan stops if ANY pair
      with ``cnt == C.cnt`` shares a symbol with the accepted set; the
      candidate list provably contains all such pairs only when
      ``C.cnt > kth_cnt`` (or the whole pair table was collected).
    * If a merged string equals an ALREADY EXISTING symbol (``('a','bc')``
      when symbol ``'abc'`` exists), pairs containing that symbol can
      *increase* (old count plus spawned occurrences), breaking the
      bound — the batch stops right after such a merge
      (``known_symbols`` tracks every symbol string ever seen).

    The first candidate is always the true argmax, so every round
    makes progress."""
    accepted = []
    used: set = set()
    for i, row in enumerate(top):
        l, r, cnt = row["l"], row["r"], int(row["cnt"])
        if l in used or r in used or (l + r) in used:
            break
        if used:
            if not exhaustive and cnt <= kth_cnt:
                break
            tie = any(
                int(d["cnt"]) == cnt
                and (d["l"] in used or d["r"] in used)
                for d in top[i + 1 :]
            )
            if tie:
                break
        accepted.append((l, r, cnt))
        used.update((l, r, l + r))
        if (l + r) in known_symbols:
            break
    return accepted


def bpe_train(
    docs: DataFrame,
    n_merges: int = 4,
    text_col: str = "text",
    batch: int = 16,
    rewrite_every: int = 16,
):
    """Learn ``n_merges`` BPE merges.  Returns ``(merges_df, wf)``:
    ``merges_df`` has ``(rank, left, right, merged, cnt)`` — the model,
    always ``n_merges`` rows regardless of corpus size; ``wf`` is the
    word table with the fully merged symbol sequences (the encode-time
    input).

    Scale shape (the corpus is only ever touched once, to build the
    word table; everything below is vocabulary-sized):

    * **Incremental pair counts** (the Sennrich cache, distributed):
      the pair-count table is materialized ONCE, then maintained by
      delta — applying merge ``(l,r)`` only changes pairs inside words
      whose sequence contains `` l  r ``, so each round re-counts just
      that filtered slice (old pairs negative, post-merge pairs
      positive) and folds the delta in with a pair-table-sized
      aggregation.  No per-round explode over the full vocabulary.
    * **Batched non-conflicting merges**: each round collects the
      top-``4*batch`` pairs and accepts the longest prefix that
      provably equals the sequential argmax order (see
      ``_accept_batch``), so one round ≈ many merges; per-round cost is
      flat in the round index.
    * The word table itself is rewritten (map-side ``replace``, no
      shuffle) lazily and re-materialized only every ``rewrite_every``
      accepted merges, so lineage stays flat without a per-merge pass.
      ``localCheckpoint`` stands in for a cluster checkpoint dir.
    """
    spark = docs.sparkSession
    wf_base = bpe_word_table(docs, text_col).localCheckpoint()
    pc = (
        _pair_counts(wf_base)
        .select("l", "r", F.col("cnt").cast("long").alias("cnt"))
        .localCheckpoint()
    )
    known_symbols = {
        row["s"]
        for row in wf_base.select(
            F.explode(F.split(F.trim(F.col("seq")), "  ")).alias("s")
        )
        .distinct()
        .collect()
    }
    merges: list = []
    pending: list = []

    def _with_pending(df: DataFrame) -> DataFrame:
        col = F.col("seq")
        for l, r in pending:
            col = _apply_merge(col, l, r)
        return df.withColumn("seq", col)

    while len(merges) < n_merges:
        want = min(batch, n_merges - len(merges))
        k = max(4 * want, 16)
        top = (
            pc.orderBy(F.desc("cnt"), F.asc("l"), F.asc("r"))
            .limit(k)
            .collect()
        )
        if not top:
            break
        exhaustive = len(top) < k
        kth_cnt = int(top[-1]["cnt"])
        accepted = _accept_batch(top, kth_cnt, exhaustive, known_symbols)[:want]
        wf_cur = _with_pending(wf_base)
        match = None
        for l, r, _ in accepted:
            c = F.contains(F.col("seq"), F.lit(" " + l + "  " + r + " "))
            match = c if match is None else (match | c)
        affected_old = wf_cur.filter(match)
        merged_col = F.col("seq")
        for l, r, _ in accepted:
            merged_col = _apply_merge(merged_col, l, r)
        affected_new = affected_old.withColumn("seq", merged_col)
        delta = _pair_counts(affected_new).select(
            "l", "r", F.col("cnt").cast("long").alias("cnt")
        ).unionByName(
            _pair_counts(affected_old).select(
                "l", "r", (-F.col("cnt")).cast("long").alias("cnt")
            )
        )
        pc = (
            pc.unionByName(delta)
            .groupBy("l", "r")
            .agg(F.sum("cnt").alias("cnt"))
            .filter(F.col("cnt") > 0)
            .localCheckpoint()
        )
        for l, r, cnt in accepted:
            merges.append((len(merges) + 1, l, r, l + r, cnt))
            known_symbols.add(l + r)
            pending.append((l, r))
        if len(pending) >= rewrite_every:
            wf_base = _with_pending(wf_base).localCheckpoint()
            pending = []
    wf = _with_pending(wf_base)
    merges_df = spark.createDataFrame(
        merges, "rank INT, left STRING, right STRING, merged STRING, cnt BIGINT"
    )
    return merges_df, wf


def bpe_token_counts(
    docs: DataFrame,
    wf_merged: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Encode-time token counting: per-document BPE token totals under
    the trained merges.  The per-doc word multiset joins the merged
    word table (vocabulary-sized); tokens per word = symbol count of
    the merged sequence."""
    doc_words = (
        docs.filter(F.length(F.trim(F.col(text_col))) > 0)
        .select(
            id_col,
            F.explode(
                F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
            ).alias("w"),
        )
        .filter(F.length("w") > 0)
        .groupBy(id_col, "w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    lut = wf_merged.select(
        "w", F.size(F.split(F.trim(F.col("seq")), "  ")).alias("n_syms")
    )
    return (
        doc_words.join(lut, "w")
        .groupBy(id_col)
        .agg(F.sum(F.col("n") * F.col("n_syms")).alias("n_bpe_tokens"))
    )


def bpe_fertility(
    docs: DataFrame,
    wf_merged: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Tokenizer fertility report per group (conventionally language):
    BPE tokens per word and characters per BPE token — THE tokenizer-
    equity diagnostic for a multilingual corpus (a language whose
    fertility is 2x the corpus mean pays 2x the sequence length for
    the same text; mT5/XLM-R rebalance exactly this).

    Same shape as :func:`bpe_token_counts`: the per-group word multiset
    LEFT-joins the vocabulary-sized merged word table and reduces to
    one row per group — exact integers until the two
    final divisions.  Words absent from ``wf_merged`` (held-out /
    cross-corpus input) are NOT silently dropped: they are excluded
    from the ratio sums (their segmentation is unknown) but surfaced
    as ``n_oov_words`` so coverage is visible.

    Output: ``(group, n_words, n_tokens, n_chars, n_oov_words,
    tokens_per_word, chars_per_token)``, 6 dp.
    """
    gw = (
        docs.filter(F.length(F.trim(F.col(text_col))) > 0)
        .select(
            F.col(group_col).alias("__g"),
            F.explode(
                F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
            ).alias("w"),
        )
        .filter(F.length("w") > 0)
        .groupBy("__g", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    lut = wf_merged.select(
        "w",
        F.size(F.split(F.trim(F.col("seq")), "  ")).cast("long").alias("n_syms"),
        F.length("w").cast("long").alias("n_chars_w"),
    )
    agg = (
        gw.join(lut, "w", "left")
        .groupBy("__g")
        .agg(
            F.sum(F.when(F.col("n_syms").isNotNull(), F.col("n")).otherwise(0))
            .cast("long")
            .alias("n_words"),
            F.sum(F.col("n") * F.coalesce(F.col("n_syms"), F.lit(0)))
            .cast("long")
            .alias("n_tokens"),
            F.sum(F.col("n") * F.coalesce(F.col("n_chars_w"), F.lit(0)))
            .cast("long")
            .alias("n_chars"),
            F.sum(F.when(F.col("n_syms").isNull(), F.col("n")).otherwise(0))
            .cast("long")
            .alias("n_oov_words"),
        )
    )
    return agg.select(
        F.col("__g").alias(group_col),
        "n_words",
        "n_tokens",
        "n_chars",
        "n_oov_words",
        F.round(
            F.when(F.col("n_words") > 0, F.col("n_tokens") / F.col("n_words")), 6
        ).alias("tokens_per_word"),
        F.round(
            F.when(F.col("n_tokens") > 0, F.col("n_chars") / F.col("n_tokens")), 6
        ).alias("chars_per_token"),
    )
