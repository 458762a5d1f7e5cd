"""Classifier-based corpus curation, fully relational.

The modern curation recipe (DCLM, FineWeb-Edu) is: train a cheap text
classifier on a small labeled slice, score the whole corpus, keep the
top slice.  Everything here stays inside the engine's exactness
contract:

* **Naive Bayes training is count aggregation** — the one classical
  text classifier whose sufficient statistics are order-free integer
  sums, so a distributed train is bit-equal to a sequential one (no
  SGD order dependence).  The model is a vocabulary-sized table, the
  classic broadcast shape.
* **Scoring** is one token explode + one broadcast model join + one
  per-document sum of log-ratios (floats only in the final sum,
  reported at 6 dp — the repo's LM-score precision).
* **AUC** is computed EXACTLY by the Mann-Whitney rank identity on
  the score-count table: ties get the textbook average rank via
  ``2*avg_rank = 2*cum_before + n + 1`` (kept in integers until the
  single final division), and the only sort is over DISTINCT scores —
  the score table, never the corpus.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spatialdata_spark import session

__all__ = [
    "auc_rank",
    "brier_decomposition",
    "calibration_bins",
    "cohens_kappa",
    "confusion_stats",
    "expected_calibration_error",
    "krippendorff_alpha",
    "lift_table",
    "mcc_stats",
    "poisson_bootstrap_ci",
    "pr_curve",
    "nb_score",
    "nb_train",
    "target_encode_kfold",
    "woe_iv",
]


def nb_train(
    docs: DataFrame,
    label_col: str = "label",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """Train a binary (0/1) multinomial Naive Bayes model: per-token
    counts under each class plus class token totals — pure integer
    aggregation (one explode, one vocabulary-sized groupBy with
    map-side combine), so the trained model is identical under any
    partitioning.

    Returns ``(model, totals)``: model = ``(token, c0, c1)`` integer
    counts; totals = one row ``(n0, n1, v)`` with class token totals
    and the add-one vocabulary size.
    """
    toks = docs.select(
        F.col(label_col).alias("__y"),
        F.explode(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        ).alias("__tok"),
    ).filter(F.col("__tok") != "")
    model = toks.groupBy(F.col("__tok").alias("token")).agg(
        F.sum(F.when(F.col("__y") == 0, 1).otherwise(0))
        .cast("long")
        .alias("c0"),
        F.sum(F.when(F.col("__y") == 1, 1).otherwise(0))
        .cast("long")
        .alias("c1"),
    )
    totals = model.agg(
        F.sum("c0").cast("long").alias("n0"),
        F.sum("c1").cast("long").alias("n1"),
        F.count(F.lit(1)).cast("long").alias("v"),
    )
    return model, totals


def nb_score(
    docs: DataFrame,
    model: DataFrame,
    totals: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Per-document mean log-likelihood ratio ``log P(tok|1) -
    log P(tok|0)`` under the add-one model (mean, not sum, so the
    score is length-comparable — the quality-ladder convention).
    Unseen tokens contribute the OOV ratio ``log((n0+v)/(n1+v))``
    (both classes back off to 1/(n+v)), kept by scoring through a
    LEFT join against the broadcast model.

    ``passthrough`` columns (functionally dependent on the id, e.g. a
    label) ride through the per-document aggregation as extra group
    keys — carrying them here avoids a corpus-sized join-back later.

    Output: ``(id, *passthrough, n_tokens, llr_mean)``, 6 dp.
    """
    toks = docs.select(
        F.col(id_col).alias("__id"),
        *[F.col(c) for c in passthrough],
        F.explode(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        ).alias("token"),
    ).filter(F.col("token") != "")
    joined = toks.join(model, "token", "left").crossJoin(F.broadcast(totals))
    llr = F.log(
        (F.coalesce(F.col("c1"), F.lit(0)) + 1.0) / (F.col("n1") + F.col("v"))
    ) - F.log(
        (F.coalesce(F.col("c0"), F.lit(0)) + 1.0) / (F.col("n0") + F.col("v"))
    )
    return (
        joined.groupBy("__id", *passthrough)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(llr).alias("__s"),
        )
        .select(
            F.col("__id").alias(id_col),
            *passthrough,
            "n_tokens",
            F.round(F.col("__s") / F.col("n_tokens"), 6).alias("llr_mean"),
        )
    )


def auc_rank(
    scored: DataFrame,
    score_col: str = "score",
    label_col: str = "label",
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """EXACT ROC AUC by the Mann–Whitney rank-sum identity, with the
    textbook average-rank treatment of ties — computed entirely on the
    score-COUNT table (one groupBy per distinct score, one window over
    that table ordered by score, integer arithmetic until the single
    final division; the corpus itself is never globally sorted).

    ``AUC = (R1 - n1*(n1+1)/2) / (n0*n1)`` with ``R1`` the rank sum of
    the positives; per tie group ``2*avg_rank = 2*cum_before + n + 1``.
    The rank-sum accumulates ~2*N*rank ≈ 2*N² — past int64 once N
    approaches ~3e9 rows — so the product and its sum are carried in
    DECIMAL(38,0): exact at any corpus size, no silent wraparound.

    ``group_cols`` computes one AUC PER GROUP (per-language classifier
    QA — a global AUC can hide a subgroup where the score is inverted):
    the count table gains the group keys, the cumulative window
    partitions by them (each partition is that group's distinct-score
    table, so no global sort appears anywhere), and the output carries
    one row per group.

    Output: ``(*group_cols, n_pos, n_neg, auc)``, 9 dp; one row per
    group (one total with no groups).
    """
    from pyspark.sql.window import Window

    gc = [F.col(c) for c in group_cols]
    g = scored.groupBy(*gc, F.col(score_col).alias("__s")).agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum(F.when(F.col(label_col) == 1, 1).otherwise(0))
        .cast("long")
        .alias("__p"),
    )
    w = (
        Window.partitionBy(*group_cols).orderBy("__s")
        if group_cols
        else Window.orderBy("__s")
    ).rowsBetween(Window.unboundedPreceding, -1)
    ranked = g.withColumn("__cum", F.coalesce(F.sum("__n").over(w), F.lit(0)))
    # 2 * rank-sum contribution of this tie group's positives, in
    # DECIMAL(38,0): ~2*N*rank is bounded by ~2*N^2, past int64 near
    # N ~ 3e9 scored rows — decimal keeps EXACT exact at any scale
    two_r = F.col("__p").cast("decimal(38,0)") * (
        2 * F.col("__cum") + F.col("__n") + 1
    )
    agg = ranked.groupBy(*group_cols).agg(
        F.sum("__p").cast("long").alias("n_pos"),
        F.sum(F.col("__n") - F.col("__p")).cast("long").alias("n_neg"),
        F.sum(two_r).cast("decimal(38,0)").alias("__2r1"),
    )
    return agg.select(
        *group_cols,
        "n_pos",
        "n_neg",
        # single-class inputs have no ranking to score: NULL, not a
        # divide-by-zero (ANSI mode throws on bare division)
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            F.round(
                (
                    F.col("__2r1")
                    - F.col("n_pos").cast("decimal(38,0)")
                    * (F.col("n_pos") + 1)
                ).cast("double")
                / (2.0 * F.col("n_pos") * F.col("n_neg")),
                9,
            ),
        ).alias("auc"),
    )


def _approx_rank_bins(b: DataFrame, n_bins: int, descending: bool):
    """At-extreme-scale bin assignment WITHOUT the global ntile sort —
    the swap this module's rank-binned reports (calibration / lift /
    PR curve) document: ``approx_percentile`` computes the n_bins-1
    edge scores in ONE scan-level aggregation (GK sketch, map-side
    combinable — no sort, no single-partition window anywhere), the
    edge list is a driver-collected model-sized scalar row (the
    sanctioned k-centroids-shaped collect), and assignment is a
    closed-form comparison ladder.

    Semantics shift, documented: bins are approximately equal-count
    (sketch accuracy 1/10000), and assignment is BY VALUE — score ties
    share a bin instead of being split by the id tie-break, which is
    what a threshold report means operationally anyway (you can't
    deploy a threshold that splits ties).  Heavy ties can leave a bin
    empty; downstream cumulative logic is unaffected.  The exact-ntile
    mode stays the default and the oracle contract.

    ``b`` must carry the score as ``__s`` (NULLs already dropped).
    Returns the bin Column (1-based; bin 1 = highest scores when
    ``descending``).

    The scored lineage is persisted BEFORE the edge aggregation so the
    edge sketch and the subsequent bin assignment read ONE evaluation
    of ``b`` — a nondeterministic upstream (``sample()``, an uncached
    shuffle re-read after executor loss) would otherwise bin rows
    against edges computed from a different draw.  Same LRU contract
    as the minhash band-table persist: (id, score, label)-sized rows,
    MEMORY_AND_DISK, reclaimed after the query.

    PER-CALL ACCUMULATION, stated: the persist cannot be unpersisted
    here — the one-evaluation guarantee must hold through the CALLER'S
    later aggregation job, which only runs when the caller's lazy
    result is collected.  Repeated approx-mode calls in one long-lived
    session therefore accumulate one cache entry per DISTINCT input
    plan (Spark's CacheManager keys by analyzed plan, so re-running the
    same calibration/lift/pr_curve query re-uses its entry rather than
    adding one); entries are MEMORY_AND_DISK and reclaimed by LRU
    eviction under memory pressure.  A session that scores MANY
    distinct corpora through approx mode and wants the space back
    eagerly should call ``spark.catalog.clearCache()`` between corpora.
    """
    nb = int(n_bins)
    qs = [k / nb for k in range(1, nb)]
    b = b.persist(StorageLevel.MEMORY_AND_DISK)
    edges = b.agg(
        F.percentile_approx("__s", qs, 10_000).alias("__e")
    ).first()["__e"]
    col = F.lit(1)
    for e in edges or []:
        cond = (F.col("__s") <= F.lit(e)) if descending else (F.col("__s") > F.lit(e))
        col = col + F.when(cond, 1).otherwise(0)
    return col.cast("long")


def calibration_bins(
    scored: DataFrame,
    n_bins: int = 10,
    score_col: str = "llr_mean",
    label_col: str = "label",
    id_col: str = "doc_id",
    approx: bool = False,
) -> DataFrame:
    """Reliability table for a scored + labeled corpus: rank the rows
    by score into ``n_bins`` equal-count bins (ntile) and report each
    bin's size, positive count, positive fraction, and mean score —
    the classifier-curation companion of :func:`auc_rank` (does a
    higher quality score actually mean a higher P(label)?).

    Determinism: the ntile orders by ``(score, id)`` — the id
    tie-break pins bin assignment under score ties on any engine.
    NULL-score rows are DROPPED before binning (engines disagree on
    NULL sort position — Spark defaults NULLS FIRST, SQL engines
    commonly NULLS LAST — so excluding them is the only
    cross-engine-stable contract; a NULL score carries no calibration
    signal anyway).
    The ntile is a global sort of the SCORED table (score + label +
    id only, never the text); ``approx=True`` IS the at-extreme-scale
    swap — approx_percentile bin edges with closed-form by-value
    assignment, no sort and no single-partition window anywhere (see
    :func:`_approx_rank_bins` for the documented semantic shift).

    Output: ``(bin, n_docs, n_pos, frac_pos, mean_score)``, 6 dp.
    """
    from pyspark.sql.window import Window

    b = scored.select(
        F.col(id_col),
        F.col(label_col).cast("long").alias("__y"),
        F.col(score_col).alias("__s"),
    ).filter(F.col("__s").isNotNull())
    if approx:
        b = b.withColumn("bin", _approx_rank_bins(b, int(n_bins), descending=False))
    else:
        w = Window.orderBy("__s", id_col)
        b = b.withColumn("bin", F.ntile(int(n_bins)).over(w))
    return (
        b.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("__y").cast("long").alias("n_pos"),
            F.round(F.avg("__s"), 6).alias("mean_score"),
        )
        .select(
            "bin",
            "n_docs",
            "n_pos",
            F.round(F.col("n_pos") / F.col("n_docs"), 6).alias("frac_pos"),
            "mean_score",
        )
        .orderBy("bin")
    )


def target_encode_kfold(
    df: DataFrame,
    cat_col: str,
    label_col: str,
    n_folds: int = 5,
    prior_weight: int = 20,
    id_col: str = "doc_id",
    salt: int = 42,
    fold=None,
) -> DataFrame:
    """Leakage-safe k-fold target encoding (the m-estimate / empirical-
    Bayes smoothed form): each row's category is replaced by the mean
    label of the category computed over the OTHER folds only, shrunk
    toward the global mean by ``prior_weight`` pseudo-observations —
    out-of-fold, so the encoding never sees the row's own label, and
    deterministic, because the fold is a pure hash of the id (the
    :func:`~spatialdata_spark.pipeline.filters.hash_split` contract:
    stable across runs, repartitions, and corpus growth).

        te = (s_cat - s_cat_fold + prior_weight * global_mean)
             / (n_cat - n_cat_fold + prior_weight)

    Plan: ONE corpus aggregation to the ``(category, fold)`` count/sum
    table (metadata-sized: |C| * k rows), a category rollup joined
    within that small table, then one broadcast join back onto the
    corpus — the corpus is scanned twice, shuffled never (the agg is
    map-side combinable; the join-back broadcasts).  Every statistic
    is an exact int64 count/sum; the encoding itself is a fixed-arity
    double expression — deterministic IEEE, bit-replayable in SQL with
    the same association.

    ``fold`` overrides the default ``xxhash64``-derived fold with a
    caller-supplied integer Column in ``[0, n_folds)`` (e.g. a Knuth
    multiplicative hash for engines without xxhash64).

    NULL labels follow standard SQL SUM semantics on every engine:
    the row counts toward ``n_cat``/``n_oof`` but contributes 0 to the
    label sum — i.e. a NULL label shrinks the encoding exactly like a
    0 label.  Filter NULLs upstream if that is not the intent.

    Output: ``(id, category, fold, n_oof, te)`` with ``te`` 6 dp.
    """
    spark = df.sparkSession
    k = int(n_folds)
    if fold is None:
        fold = F.pmod(F.xxhash64(F.col(id_col), F.lit(int(salt))), F.lit(k))
    rows = df.select(
        F.col(id_col).alias("__id"),
        F.col(cat_col).alias("__cat"),
        F.col(label_col).cast("long").alias("__y"),
        fold.cast("long").alias("fold"),
    )
    # persist: the (category, fold) table is metadata-sized (|C| * k
    # rows) but its lineage is the corpus aggregation — the category
    # rollup, the global total, and the oof join each replayed it
    # (4 live scans, tools/rescan_audit.py).  PER-CALL ACCUMULATION
    # (the _approx_rank_bins contract): LRU-reclaimed; clearCache()
    # reclaims eagerly.
    cf = rows.groupBy("__cat", "fold").agg(
        F.count(F.lit(1)).cast("long").alias("__n_cf"),
        F.sum("__y").cast("long").alias("__s_cf"),
    ).persist()
    c = cf.groupBy("__cat").agg(
        F.sum("__n_cf").cast("long").alias("__n_c"),
        F.sum("__s_cf").cast("long").alias("__s_c"),
    )
    g = cf.agg(
        F.sum("__n_cf").cast("long").alias("__n"),
        F.sum("__s_cf").cast("long").alias("__s"),
    )
    oof = (
        cf.join(c, "__cat")
        .crossJoin(g)
        .select(
            "__cat",
            "fold",
            (F.col("__n_c") - F.col("__n_cf")).alias("n_oof"),
            (F.col("__s_c") - F.col("__s_cf")).alias("__s_oof"),
            (F.col("__s") / F.col("__n")).alias("__prior"),
        )
    )
    if session.single_host(spark):
        oof = F.broadcast(oof)
    pw = F.lit(int(prior_weight))
    return (
        rows.join(oof, ["__cat", "fold"])
        .select(
            F.col("__id").alias(id_col),
            F.col("__cat").alias(cat_col),
            "fold",
            "n_oof",
            F.round(
                (F.col("__s_oof") + pw * F.col("__prior"))
                / (F.col("n_oof") + pw),
                6,
            ).alias("te"),
        )
    )


def woe_iv(
    df: DataFrame,
    cat_col: str,
    label_col: str,
) -> DataFrame:
    """Weight-of-evidence table with information-value parts (Siddiqi's
    credit-scorecard standard, the categorical-predictor strength
    screen): per category,

        woe = ln( ((pos_c + 0.5) / (pos + 0.5*K))
                / ((neg_c + 0.5) / (neg + 0.5*K)) )
        iv_part = (p_c - q_c) * woe

    with ``K`` the category count — 0.5-smoothed so zero cells stay
    finite.  ``iv_part`` is reported per category (exact per-row
    expression); the total IV is the caller's one-line sum, kept out of
    the output so no order-dependent float aggregation enters the
    contract.

    Plan: one map-side-combinable conditional-count aggregation to the
    category table, one 1-row cross join for the totals — category-
    cardinality-sized end to end after the single corpus scan.

    Output: ``(category, n_pos, n_neg, woe, iv_part)``, 6 dp.
    """
    # NULL labels are DROPPED (they belong to neither class; keeping
    # them would diverge from any SQL replay whose CASE maps NULL to a
    # class) — filter upstream if NULL should mean negative
    rows = df.select(
        F.col(cat_col).alias("category"),
        F.col(label_col).cast("long").alias("__y"),
    ).filter(F.col("__y").isNotNull())
    per = rows.groupBy("category").agg(
        F.sum("__y").cast("long").alias("n_pos"),
        F.sum(F.lit(1) - F.col("__y")).cast("long").alias("n_neg"),
    )
    tot = per.agg(
        F.sum("n_pos").cast("long").alias("__p"),
        F.sum("n_neg").cast("long").alias("__q"),
        F.count(F.lit(1)).cast("long").alias("__k"),
    )
    p_c = (F.col("n_pos") + 0.5) / (F.col("__p") + 0.5 * F.col("__k"))
    q_c = (F.col("n_neg") + 0.5) / (F.col("__q") + 0.5 * F.col("__k"))
    woe = F.log(p_c / q_c)
    return per.crossJoin(tot).select(
        "category",
        "n_pos",
        "n_neg",
        F.round(woe, 6).alias("woe"),
        F.round((p_c - q_c) * woe, 6).alias("iv_part"),
    )


def confusion_stats(
    df: DataFrame,
    label_col: str = "label",
    pred_col: str = "pred",
) -> DataFrame:
    """Per-class confusion statistics for a multi-class prediction
    table: one row per class appearing in truth or prediction, with
    exact ``tp / fp / fn`` counts and 6-dp ``precision / recall / f1``
    — the eval companion of :func:`auc_rank` (AUC ranks scores;
    this grades a hard assignment).

    Plan: ONE map-side-combinable count over ``(label, pred)`` (the
    confusion matrix, class²-sized metadata) and two class-sized
    rollups joined back — the corpus is scanned once and never
    shuffled beyond the matrix aggregation.  Ratios are single
    divisions of exact int64 counts; a class with no predictions
    (precision) or no truth rows (recall) reports NULL, and f1 is
    NULL unless both are defined and nonzero-summed.
    """
    # rows with a NULL truth or prediction are DROPPED: equality joins
    # never match NULL, so a NULL class would surface as an all-zero
    # garbage row while its real counts silently vanish — excluding the
    # rows keeps every emitted count reconcilable with the matrix
    m = (
        df.select(
            F.col(label_col).alias("__t"), F.col(pred_col).alias("__p")
        )
        .filter(F.col("__t").isNotNull() & F.col("__p").isNotNull())
        .groupBy("__t", "__p")
        .agg(F.count(F.lit(1)).cast("long").alias("__n"))
        .persist()
    )
    classes = (
        m.select(F.col("__t").alias("class"))
        .union(m.select(F.col("__p").alias("class")))
        .distinct()
    )
    tp = m.filter(F.col("__t") == F.col("__p")).select(
        F.col("__t").alias("class"), F.col("__n").alias("tp")
    )
    truth = m.groupBy(F.col("__t").alias("class")).agg(
        F.sum("__n").cast("long").alias("__nt")
    )
    pred = m.groupBy(F.col("__p").alias("class")).agg(
        F.sum("__n").cast("long").alias("__np")
    )
    # every rollup is class-sized metadata: broadcast-hint the three
    # join-backs so the plan never sorts/shuffles them (AQE would
    # convert at runtime anyway — the hint is plan hygiene)
    j = (
        classes.join(F.broadcast(tp), "class", "left")
        .join(F.broadcast(truth), "class", "left")
        .join(F.broadcast(pred), "class", "left")
        .select(
            "class",
            F.coalesce(F.col("tp"), F.lit(0)).cast("long").alias("tp"),
            (F.coalesce(F.col("__np"), F.lit(0)) - F.coalesce(F.col("tp"), F.lit(0)))
            .cast("long")
            .alias("fp"),
            (F.coalesce(F.col("__nt"), F.lit(0)) - F.coalesce(F.col("tp"), F.lit(0)))
            .cast("long")
            .alias("fn"),
            F.col("__nt"),
            F.col("__np"),
        )
    )
    precision = F.when(
        F.col("__np") > 0, F.round(F.col("tp") / F.col("__np"), 6)
    )
    recall = F.when(F.col("__nt") > 0, F.round(F.col("tp") / F.col("__nt"), 6))
    f1 = F.when(
        (F.col("__np") > 0)
        & (F.col("__nt") > 0)
        & (F.col("__np") + F.col("__nt") > 0),
        F.round(2.0 * F.col("tp") / (F.col("__np") + F.col("__nt")), 6),
    )
    return j.select(
        "class", "tp", "fp", "fn",
        precision.alias("precision"),
        recall.alias("recall"),
        f1.alias("f1"),
    )


def cohens_kappa(
    df: DataFrame,
    pred_a: str,
    pred_b: str,
) -> DataFrame:
    """Cohen's kappa agreement between two raters/classifiers over the
    same rows (Cohen 1960) — THE redundancy check before trusting two
    cheap labelers to cross-validate each other:

        kappa = (po - pe) / (1 - pe)
        po = sum_k n_kk / n          (observed agreement)
        pe = sum_k (a_k * b_k) / n²  (chance agreement from marginals)

    Exactness: everything up to the final division stays integer —
    ``po`` and ``pe`` share the denominator ``n²``, so
    ``kappa = (n * sum n_kk - sum a_k b_k) / (n² - sum a_k b_k)`` is
    one division of two DECIMAL(38,0) order-free sums.  NULL when the
    denominator is 0 (both raters constant and identical marginals).

    NULL handling: rows where EITHER rater is NULL are dropped before
    aggregation, matching :func:`confusion_stats`'s convention — under
    SQL semantics NULL==NULL agreements never count toward ``po`` while
    a NULL class's marginals land on two non-matching full-outer rows,
    silently skewing po/pe/kappa; filtering keeps ``n`` honest.

    Plan: one ``(a, b)`` count (class²-sized), marginal rollups within
    that metadata table.  Output: one row ``(n, po, pe, kappa)``,
    6 dp.
    """
    dec = "decimal(38,0)"
    m = (
        df.select(F.col(pred_a).alias("__a"), F.col(pred_b).alias("__b"))
        .where(F.col("__a").isNotNull() & F.col("__b").isNotNull())
        .groupBy("__a", "__b")
        .agg(F.count(F.lit(1)).cast("long").alias("__n"))
        .persist()
    )
    am = m.groupBy("__a").agg(F.sum("__n").cast("long").alias("__ka"))
    bm = m.groupBy(F.col("__b").alias("__a")).agg(
        F.sum("__n").cast("long").alias("__kb")
    )
    cross = am.join(bm, "__a", "full_outer").select(
        (
            F.coalesce(F.col("__ka"), F.lit(0)).cast(dec)
            * F.coalesce(F.col("__kb"), F.lit(0)).cast(dec)
        ).alias("__ab")
    )
    stats = (
        m.agg(
            F.sum("__n").cast(dec).alias("__t"),
            F.sum(F.when(F.col("__a") == F.col("__b"), F.col("__n")))
            .cast(dec)
            .alias("__agree"),
        )
        .crossJoin(cross.agg(F.sum("__ab").cast(dec).alias("__sab")))
    )
    agree = F.coalesce(F.col("__agree"), F.lit(0).cast(dec))
    num = (F.col("__t") * agree - F.col("__sab")).cast("double")
    den = (F.col("__t") * F.col("__t") - F.col("__sab")).cast("double")
    return stats.select(
        F.col("__t").cast("long").alias("n"),
        F.round(agree.cast("double") / F.col("__t").cast("double"), 6).alias("po"),
        F.round(
            F.col("__sab").cast("double")
            / (F.col("__t").cast("double") * F.col("__t").cast("double")),
            6,
        ).alias("pe"),
        F.when(den != 0, F.round(num / den, 6)).alias("kappa"),
    )


def lift_table(
    scored: DataFrame,
    n_bins: int = 10,
    score_col: str = "llr_mean",
    label_col: str = "label",
    id_col: str = "doc_id",
    approx: bool = False,
) -> DataFrame:
    """Cumulative gains / lift table — the "if I keep only the top X%
    by this score, what fraction of the good documents do I capture?"
    report that decides a curation threshold.  Bin 1 holds the HIGHEST
    scores (ntile over ``(score DESC, id)``; NULL scores dropped, same
    cross-engine contract as :func:`calibration_bins`); each row
    reports the bin and everything cumulative down to it:

        gain = cum_pos / total_pos
        lift = (cum_pos / cum_docs) / (total_pos / total_docs)

    Exactness: counts are int64; the cumulative window runs over the
    ``n_bins``-row bin table (metadata — the corpus sort is the one
    ntile, identical cost to calibration_bins); each ratio is a single
    division, 6 dp; lift simplifies to the cross-multiplied integer
    form ``(cum_pos * total_docs) / (cum_docs * total_pos)`` in
    DECIMAL so it replays exactly.

    ``approx=True`` swaps the global ntile sort for approx_percentile
    edges with by-value assignment (the at-extreme-scale mode — see
    :func:`_approx_rank_bins`).

    Output: ``(bin, n_docs, n_pos, cum_docs, cum_pos, gain, lift)``.
    """
    from pyspark.sql.window import Window

    dec = "decimal(38,0)"
    b = scored.select(
        F.col(id_col),
        F.col(label_col).cast("long").alias("__y"),
        F.col(score_col).alias("__s"),
    ).filter(F.col("__s").isNotNull())
    if approx:
        b = b.withColumn("bin", _approx_rank_bins(b, int(n_bins), descending=True))
    else:
        w = Window.orderBy(F.col("__s").desc(), id_col)
        b = b.withColumn("bin", F.ntile(int(n_bins)).over(w).cast("long"))
    per = b.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("__y").cast("long").alias("n_pos"),
    )
    cw = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    tot = per.agg(
        F.sum("n_docs").cast("long").alias("__td"),
        F.sum("n_pos").cast("long").alias("__tp"),
    )
    cum = (
        per.withColumn("cum_docs", F.sum("n_docs").over(cw).cast("long"))
        .withColumn("cum_pos", F.sum("n_pos").over(cw).cast("long"))
        .crossJoin(F.broadcast(tot))
    )
    return cum.select(
        "bin",
        "n_docs",
        "n_pos",
        "cum_docs",
        "cum_pos",
        F.when(F.col("__tp") > 0, F.round(F.col("cum_pos") / F.col("__tp"), 6)).alias(
            "gain"
        ),
        F.when(
            (F.col("__tp") > 0) & (F.col("cum_docs") > 0),
            F.round(
                (F.col("cum_pos").cast(dec) * F.col("__td").cast(dec)).cast("double")
                / (F.col("cum_docs").cast(dec) * F.col("__tp").cast(dec)).cast(
                    "double"
                ),
                6,
            ),
        ).alias("lift"),
    ).orderBy("bin")


#: Poisson(1) CDF thresholds on the [0, 1e6) hash grid: multiplicity m
#: is the count of thresholds <= u, clamped at 6 (P(X>6) ~ 8e-5).
_POISSON1_CDF_M6 = (367879, 735758, 919698, 981011, 996340, 999405)


def poisson_bootstrap_ci(
    df: DataFrame,
    value_col: str,
    id_col: str = "doc_id",
    n_boot: int = 200,
    alpha: float = 0.05,
    salt: int = 42,
    bucket_of=None,
) -> DataFrame:
    """Percentile bootstrap confidence interval for the MEAN of an
    integer-valued column — by the POISSON BOOTSTRAP (each row enters
    replicate ``b`` with multiplicity ~ Poisson(1), the standard
    at-scale substitute for multinomial resampling: no global
    coordination, one pass over ``corpus x n_boot``).

    Determinism (the whole point here): the multiplicity is a PURE
    HASH of ``(id, b, salt)`` mapped through the Poisson(1) CDF on an
    integer grid — replicates are identical across runs, retries, and
    engines.  ``bucket_of(id_col, b_col) -> Column in [0, 1e6)``
    overrides the default ``xxhash64`` bucket (the
    :func:`~spatialdata_spark.pipeline.filters.hash_split` contract —
    pass a Knuth-multiplicative form for engines without xxhash64).

    Exactness: the value must be integer-valued; each replicate's sum
    and count are DECIMAL(38,0) order-free sums, its mean ONE double
    division; the percentile CI picks order statistics from the
    ``n_boot``-row replicate-mean table by rank (floor/ceil of
    ``alpha/2``-quantile positions — no interpolation, deterministic).

    Output: one row ``(n_rows, mean, n_boot, ci_lo, ci_hi)``, 6 dp.
    """
    from pyspark.sql.window import Window

    dec = "decimal(38,0)"
    spark = df.sparkSession
    rows = df.select(
        F.col(id_col).alias("__id"), F.col(value_col).cast("long").alias("__x")
    )
    b = rows.crossJoin(
        spark.range(1, int(n_boot) + 1).select(F.col("id").alias("__b"))
    )
    if bucket_of is None:
        u = F.pmod(F.xxhash64(F.col("__id"), F.col("__b"), F.lit(int(salt))), F.lit(1000000))
    else:
        u = bucket_of(F.col("__id"), F.col("__b"))
    m = F.lit(6)
    for i, thr in enumerate(reversed(_POISSON1_CDF_M6)):
        m = F.when(u < F.lit(thr), F.lit(6 - i - 1)).otherwise(m)
    reps = (
        b.withColumn("__m", m.cast("long"))
        .groupBy("__b")
        .agg(
            F.sum(F.col("__m").cast(dec)).alias("__n"),
            F.sum((F.col("__m") * F.col("__x")).cast(dec)).alias("__s"),
        )
        .filter(F.col("__n") > 0)
        .select(
            "__b",
            (F.col("__s").cast("double") / F.col("__n").cast("double")).alias("__mean"),
        )
    )
    ranked = reps.withColumn(
        "__r", F.row_number().over(Window.orderBy("__mean", "__b"))
    ).persist()
    n_reps = ranked.count()
    import math

    lo_r = max(1, math.floor((n_reps + 1) * (alpha / 2)))
    hi_r = min(n_reps, math.ceil((n_reps + 1) * (1 - alpha / 2)))
    lo = ranked.filter(F.col("__r") == lo_r).select(F.col("__mean").alias("__lo"))
    hi = ranked.filter(F.col("__r") == hi_r).select(F.col("__mean").alias("__hi"))
    full = rows.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        (
            F.sum(F.col("__x").cast(dec)).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("__fm"),
    )
    return (
        full.crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .select(
            "n_rows",
            F.round(F.col("__fm"), 6).alias("mean"),
            F.lit(int(n_boot)).cast("long").alias("n_boot"),
            F.round(F.col("__lo"), 6).alias("ci_lo"),
            F.round(F.col("__hi"), 6).alias("ci_hi"),
        )
    )


def brier_decomposition(
    scored: DataFrame,
    n_bins: "int | None" = None,
    prob_col: str = "p_e6",
    label_col: str = "label",
    scale: int = 10**6,
) -> DataFrame:
    """Murphy (1973) decomposition of the Brier score over ``n_bins``
    equal-width probability bins — the canonical "is my classifier
    mis-calibrated or just undiscriminating?" split::

        brier = reliability - resolution + uncertainty
        uncertainty = ybar (1 - ybar)                     (data, not model)
        reliability = (1/N) sum_k n_k (pbar_k - ybar_k)^2 (calibration gap)
        resolution  = (1/N) sum_k n_k (ybar_k - ybar)^2   (discrimination)

    Exactness: predictions arrive as integer MICRO-probabilities
    (``prob_col`` in [0, scale] — the fixed-point contract every
    probability-like column in this repo uses), so every sufficient
    statistic is exact: N, N_pos, per-bin (n_k, pos_k, sum_p) int64,
    and the raw squared error ``sum (p - scale*y)^2`` an order-free
    DECIMAL(38,0) — ``brier`` is therefore one deterministic division.
    reliability/resolution are fixed-arity per-bin doubles summed over
    the BIN table (6-dp rounding absorbs the last-ulp order
    sensitivity of the float sum, the family convention).

    ``n_bins=None`` (default) groups by DISTINCT forecast value —
    Murphy's original form, where the identity holds EXACTLY (pinned
    in pytest); the bin table is distinct-forecast-sized (the
    vocabulary contract).  An integer ``n_bins`` gives the practical
    equal-width report, bin ``k = p * n_bins // (scale + 1)`` — there
    the identity acquires the within-bin variance/covariance terms
    (Stephenson 2008), so brier != rel - res + unc in general:
    documented, not a bug.

    Output: ONE row ``(n, n_pos, brier, uncertainty, reliability,
    resolution)``, 6 dp.
    """
    dec = "decimal(38,0)"
    sc = int(scale)
    p = F.col(prob_col).cast("long")
    y = F.col(label_col).cast("long")
    if n_bins is None:
        rows = scored.select(p.alias("__p"), y.alias("__y")).withColumn(
            "__bin", F.col("__p")
        )
    else:
        rows = scored.select(
            p.alias("__p"),
            y.alias("__y"),
            (p * int(n_bins)).cast("long").alias("__pk"),
        ).withColumn("__bin", F.expr(f"__pk DIV {sc + 1}"))
    per_bin = rows.groupBy("__bin").agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum("__y").cast("long").alias("__pos"),
        F.sum(F.col("__p").cast(dec)).cast(dec).alias("__sp"),
    )
    # NOTE: names must differ beyond case from per_bin's __n — Spark's
    # resolver is case-insensitive, "__n"/"__N" would be ambiguous
    totals = rows.agg(
        F.count(F.lit(1)).cast("long").alias("__tot"),
        F.sum("__y").cast("long").alias("__tpos"),
        F.sum(
            ((F.col("__p") - F.lit(sc) * F.col("__y")).cast(dec)
             * (F.col("__p") - F.lit(sc) * F.col("__y")).cast(dec))
        )
        .cast(dec)
        .alias("__se"),
    )
    j = per_bin.crossJoin(F.broadcast(totals))
    # per-bin calibration gap and discrimination terms (fixed-arity
    # doubles; ybar enters as the exact Npos/N ratio)
    pbar_k = F.col("__sp").cast("double") / (F.lit(float(sc)) * F.col("__n"))
    ybar_k = F.col("__y_k")
    j = j.withColumn("__y_k", F.col("__pos") / F.col("__n")).withColumn(
        "__ybar", F.col("__tpos") / F.col("__tot")
    )
    rel_part = F.col("__n") * (pbar_k - ybar_k) * (pbar_k - ybar_k)
    res_part = (
        F.col("__n")
        * (ybar_k - F.col("__ybar"))
        * (ybar_k - F.col("__ybar"))
    )
    return (
        j.agg(
            F.max("__tot").alias("n"),
            F.max("__tpos").alias("n_pos"),
            F.round(
                F.max(F.col("__se").cast("double"))
                / (F.max("__tot") * float(sc) * float(sc)),
                6,
            ).alias("brier"),
            F.round(
                (F.max("__tpos") / F.max("__tot"))
                * (F.lit(1.0) - F.max("__tpos") / F.max("__tot")),
                6,
            ).alias("uncertainty"),
            F.round(F.sum(rel_part) / F.max("__tot"), 6).alias("reliability"),
            F.round(F.sum(res_part) / F.max("__tot"), 6).alias("resolution"),
        )
    )


def mcc_stats(
    df: DataFrame,
    label_col: str = "label",
    pred_col: str = "pred",
) -> DataFrame:
    """Matthews correlation coefficient for a binary prediction table —
    the single-number grade that stays honest under class imbalance
    (accuracy and F1 both saturate when one class dominates; MCC is the
    Pearson correlation of the 2x2 confusion matrix and only rewards
    doing better than the marginals)::

        mcc = (tp*tn - fp*fn)
              / sqrt((tp+fp)(tp+fn)(tn+fp)(tn+fn))

    Exactness: tp/fp/fn/tn are ONE map-side-combinable conditional
    count over the corpus (exact int64); the numerator multiplies in
    DECIMAL(38,0) (n^2-sized, exact at any corpus size) and the
    denominator is computed in the FACTORED form
    ``sqrt(tp+fp) * sqrt(tp+fn) * sqrt(tn+fp) * sqrt(tn+fn)`` — each
    factor is an exact int64 margin, so no intermediate ever exceeds
    n (the n^4 product form would overflow even DECIMAL(38,0) past
    ~3e9 rows and silently NULL the score); four sqrts + three
    multiplies + one division of doubles, 6 dp.  NULL label/pred rows
    are DROPPED (the confusion_stats convention); labels/preds must
    be 0/1.  NULL mcc when any margin is zero (a constant truth or
    constant prediction carries no correlation signal — 0/0 by
    construction).

    Plan: one aggregation, no joins, no shuffle beyond the 1-row
    combine.  Output: one row ``(n, tp, fp, fn, tn, mcc)``.
    """
    dec = "decimal(38,0)"
    y = F.col(label_col).cast("long")
    p = F.col(pred_col).cast("long")
    base = df.filter(
        F.col(label_col).isNotNull() & F.col(pred_col).isNotNull()
    ).select(y.alias("__y"), p.alias("__p"))
    agg = base.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(((F.col("__y") == 1) & (F.col("__p") == 1)).cast("long"))
        .cast("long")
        .alias("tp"),
        F.sum(((F.col("__y") == 0) & (F.col("__p") == 1)).cast("long"))
        .cast("long")
        .alias("fp"),
        F.sum(((F.col("__y") == 1) & (F.col("__p") == 0)).cast("long"))
        .cast("long")
        .alias("fn"),
        F.sum(((F.col("__y") == 0) & (F.col("__p") == 0)).cast("long"))
        .cast("long")
        .alias("tn"),
    )
    tp, fp, fn, tn = (F.col(c).cast(dec) for c in ("tp", "fp", "fn", "tn"))
    num = tp * tn - fp * fn
    m1, m2, m3, m4 = (tp + fp), (tp + fn), (tn + fp), (tn + fn)
    den = (
        F.sqrt(m1.cast("double"))
        * F.sqrt(m2.cast("double"))
        * F.sqrt(m3.cast("double"))
        * F.sqrt(m4.cast("double"))
    )
    return agg.select(
        "n",
        "tp",
        "fp",
        "fn",
        "tn",
        F.when(
            (m1 > 0) & (m2 > 0) & (m3 > 0) & (m4 > 0),
            F.round(num.cast("double") / den, 6),
        ).alias("mcc"),
    )


def pr_curve(
    scored: DataFrame,
    n_bins: int = 10,
    score_col: str = "llr_mean",
    label_col: str = "label",
    id_col: str = "doc_id",
    approx: bool = False,
) -> DataFrame:
    """Precision/recall/F1 sweep over score-rank thresholds — the
    threshold-picking report for classifier curation ("keep everything
    the model scores in the top k/n: what precision and recall does
    that buy?"), the operating-curve companion of :func:`lift_table`
    (lift reports density ratios; this reports the P/R trade).

    Rows are ntiled into ``n_bins`` equal-count bins by ``(score DESC,
    id)`` (the id tie-break pins assignment under score ties on any
    engine; NULL scores are DROPPED, the calibration_bins convention).
    Bin ``k``'s row reports the operating point "predict positive above
    this threshold": cumulative kept rows and kept positives through
    bin ``k``, and the exact-count ratios

        precision_k = tp_k / kept_k      recall_k = tp_k / total_pos
        f1_k = 2 tp_k / (kept_k + total_pos)

    each ONE division of exact int64 counts, 6 dp.  The cumulative
    window runs over the n_bins-sized bin table.  NULL
    precision/recall/f1 when the denominator is zero (no positives in
    the corpus).

    ``approx=True`` swaps the global ntile sort for approx_percentile
    edges with by-value assignment (the at-extreme-scale mode — see
    :func:`_approx_rank_bins`).

    Output: ``(bin, n_kept, n_pos_kept, precision, recall, f1)``,
    ordered by bin.
    """
    from pyspark.sql.window import Window

    b = scored.select(
        F.col(id_col),
        F.col(label_col).cast("long").alias("__y"),
        F.col(score_col).alias("__s"),
    ).filter(F.col("__s").isNotNull())
    if approx:
        b = b.withColumn("bin", _approx_rank_bins(b, int(n_bins), descending=True))
    else:
        w = Window.orderBy(F.desc("__s"), F.col(id_col))
        b = b.withColumn("bin", F.ntile(int(n_bins)).over(w))
    per = b.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum("__y").cast("long").alias("__pos"),
    )
    cw = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = per.select(
        "bin",
        F.sum("__n").over(cw).cast("long").alias("n_kept"),
        F.sum("__pos").over(cw).cast("long").alias("n_pos_kept"),
    )
    tot = per.agg(F.sum("__pos").cast("long").alias("__tpos"))
    j = cum.crossJoin(F.broadcast(tot))
    return j.select(
        "bin",
        "n_kept",
        "n_pos_kept",
        F.when(
            F.col("n_kept") > 0,
            F.round(F.col("n_pos_kept") / F.col("n_kept"), 6),
        ).alias("precision"),
        F.when(
            F.col("__tpos") > 0,
            F.round(F.col("n_pos_kept") / F.col("__tpos"), 6),
        ).alias("recall"),
        F.when(
            F.col("n_kept") + F.col("__tpos") > 0,
            F.round(
                2.0 * F.col("n_pos_kept") / (F.col("n_kept") + F.col("__tpos")), 6
            ),
        ).alias("f1"),
    ).orderBy("bin")


def expected_calibration_error(
    scored: DataFrame,
    n_bins: int = 10,
    prob_col: str = "p_e6",
    label_col: str = "label",
    scale: int = 10**6,
) -> DataFrame:
    """Expected calibration error (Naeini 2015) over equal-WIDTH
    probability bins — the one-number companion of
    :func:`brier_decomposition`'s reliability term (ECE weights the
    per-bin |accuracy - confidence| gap by bin mass; reliability
    squares it)::

        ece = sum_k (n_k / N) * |acc_k - conf_k|

    Exactness: with integer micro-probabilities (the ``p_e6``
    fixed-point contract), the per-bin gap collapses to an EXACT
    integer — ``|sum_y_k * scale - sum_p_k|`` — because
    ``n_k/N * |pos_k/n_k - sum_p_k/(n_k*scale)|
    = |pos_k*scale - sum_p_k| / (N*scale)``: the bin count cancels.
    So ``ece_num = sum_k |pos_k*scale - sum_p_k|`` is an order-free
    int64 sum (DECIMAL inside, BIGINT out) and ``ece`` is ONE division,
    6 dp.  Bin = ``least(n_bins-1, p*n_bins div scale)`` — equal width,
    closed form, no sort anywhere.  NULL prob/label rows are DROPPED;
    a probability OUTSIDE ``[0, scale]`` on a row that would otherwise
    be counted raises loudly (the module's ks_2sample/token_gini
    convention) — a negative ``p_e6`` would otherwise mint a phantom
    negative bin and an over-scale one would clamp silently into the
    top bin, both corrupting ``n_bins_used`` and ``ece_num`` without a
    trace.  The guard deliberately skips rows the NULL drop already
    excludes: a corrupt probability on a NULL-label row contributes
    nothing and must not fail the job.

    Plan: one map-side-combinable aggregation to the n_bins-sized
    table, one 1-row rollup — the flattest shape in the family.

    Output: one row ``(n, n_bins_used, ece_num, ece)``.
    """
    dec = "decimal(38,0)"
    sc = int(scale)
    nb = int(n_bins)
    p_raw = F.col(prob_col).cast("long")
    y = F.col(label_col).cast("long")
    # NULL-prob AND NULL-label rows pass through unvalidated (the
    # documented DROP applies to them — a corrupt probability on a row
    # the contract already excludes must not fail the job); only a
    # row that would otherwise be COUNTED raises on out-of-range
    p = (
        F.when(p_raw.isNull() | y.isNull(), p_raw)
        .when((p_raw >= 0) & (p_raw <= sc), p_raw)
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"expected_calibration_error: {prob_col} outside [0, {sc}]: "),
                    p_raw.cast("string"),
                )
            )
        )
    )
    base = scored.filter(p.isNotNull() & y.isNotNull()).select(
        # integer `div` keeps the bin edge exact (a double `/` could
        # mis-bin boundary probabilities by one ulp)
        F.least(
            F.lit(nb - 1).cast("long"),
            F.expr(f"CAST({prob_col} AS BIGINT) * {nb} div {sc}").cast("long"),
        ).alias("__b"),
        p.alias("__p"),
        y.alias("__y"),
    )
    per = base.groupBy("__b").agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum("__y").cast(dec).alias("__pos"),
        F.sum("__p").cast(dec).alias("__sp"),
    )
    gap = F.abs(F.col("__pos") * F.lit(sc) - F.col("__sp"))
    return per.agg(
        F.sum("__n").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_bins_used"),
        F.sum(gap).cast("long").alias("ece_num"),
        F.round(
            F.sum(gap).cast("double") / (F.sum("__n") * float(sc)), 6
        ).alias("ece"),
    )


def krippendorff_alpha(
    ratings: DataFrame,
    unit_col: str = "unit",
    rater_col: str = "rater",
    value_col: str = "value",
) -> DataFrame:
    """Krippendorff's alpha for NOMINAL data — the agreement
    coefficient that generalizes :func:`cohens_kappa` to ANY number of
    raters with MISSING ratings (the real multi-labeler QA setting:
    three cheap classifiers label overlapping but not identical doc
    subsets; is their agreement better than chance?).

    Standard coincidence-matrix formulation (Krippendorff 2004): for
    each unit with ``m_u >= 2`` ratings, every ordered pair of ratings
    within the unit contributes ``1/(m_u - 1)`` to the coincidence
    cell ``(v, v')``.  For nominal data::

        alpha = 1 - D_o / D_e
        D_o   = sum_{v != v'} o(v,v')          (observed disagreement)
        D_e   = sum_{v != v'} n_v * n_v' / (n - 1)

    Exactness: every sufficient statistic is an exact int64 count
    (per-(unit, value) counts, unit sizes ``m_u``, value margins);
    each unit's disagreement contribution is the rational
    ``(m_u^2 - sum_v k_v^2) / (m_u - 1)`` — ONE fixed-arity division
    of exact integers per unit (a common-denominator integer form
    would need the product of all distinct ``m_u - 1`` values and
    explodes), summed as double — the family's documented absorption,
    same shape as the JSD/PSI term sums; alpha is one final division,
    6 dp.  A pytest pin replays the full computation in exact
    ``fractions.Fraction`` arithmetic.

    NULL unit/rater/value rows are dropped; duplicate (unit, rater)
    rows must be resolved upstream (the last-write-wins decision is
    the caller's).  Output: one row ``(n_units, n, alpha)``; NULL
    alpha when D_e = 0 (a single value category or n < 2 — agreement
    is undefined, not perfect).

    Plan: one (unit, value)-keyed count, one unit-sized rollup for
    ``m_u``, one value-margin rollup — every table after the first
    aggregation is unit- or category-sized; no pair enumeration
    anywhere (within-unit pair counts come from ``m_u`` and the
    per-(unit, value) counts algebraically).
    """
    base = ratings.filter(
        F.col(unit_col).isNotNull()
        & F.col(rater_col).isNotNull()
        & F.col(value_col).isNotNull()
    ).select(F.col(unit_col).alias("__u"), F.col(value_col).alias("__v"))
    # persist: every downstream statistic (unit sizes, the join, the
    # per-unit rollup, margins) replays this first aggregation's FULL
    # ratings scan otherwise — 12 corpus scans in the live plan
    # (tools/rescan_audit.py).  Rows are (unit, value)-aggregated
    # (a few per unit), MEMORY_AND_DISK, the minhash band-table LRU
    # contract.  PER-CALL ACCUMULATION (the _approx_rank_bins
    # contract): never unpersisted here — one cache entry per DISTINCT
    # input plan, LRU-reclaimed; sessions scoring many corpora reclaim
    # eagerly with spark.catalog.clearCache().
    uv = (
        base.groupBy("__u", "__v")
        .agg(F.count(F.lit(1)).cast("long").alias("__k"))
        .persist()
    )
    mu = uv.groupBy("__u").agg(F.sum("__k").cast("long").alias("__m"))
    multi = mu.filter(F.col("__m") >= 2)
    # NO broadcast hint: `multi` is UNIT-sized (one row per rated
    # unit — corpus scale), and both sides are already keyed by the
    # unit; `mu` derives from `uv`'s aggregation, so the shuffled join
    # reuses uv's hash layout rather than shipping the unit table to
    # every executor
    j = uv.join(multi, "__u")
    # observed disagreement per unit: pairs across different values =
    # (m^2 - sum_v k_v^2) / 2; coincidence scaling divides by (m - 1).
    per_unit = j.groupBy("__u", "__m").agg(
        F.sum(F.col("__k") * F.col("__k")).cast("long").alias("__sk2")
    )
    do_term = (
        (F.col("__m") * F.col("__m") - F.col("__sk2")).cast("double")
        / (F.col("__m") - 1)
    )
    do_agg = per_unit.agg(
        F.count(F.lit(1)).cast("long").alias("n_units"),
        F.sum("__m").cast("long").alias("n"),
        F.sum(do_term).alias("__do"),
    )
    margins = j.groupBy("__v").agg(F.sum("__k").cast("long").alias("__nv"))
    de_agg = margins.agg(
        F.sum(F.col("__nv").cast("decimal(38,0)") * F.col("__nv").cast("decimal(38,0)"))
        .cast("double")
        .alias("__sv2")
    )
    out = do_agg.crossJoin(F.broadcast(de_agg))
    n = F.col("n").cast("double")
    de = (n * n - F.col("__sv2")) / (n - 1)
    return out.select(
        "n_units",
        "n",
        F.when(
            (F.col("n") >= 2) & (de > 0),
            F.round(F.lit(1.0) - F.col("__do") / de, 6),
        ).alias("alpha"),
    )


def mcnemar_test(
    df: DataFrame,
    label_col: str = "label",
    pred_a_col: str = "pred_a",
    pred_b_col: str = "pred_b",
) -> DataFrame:
    """McNemar's paired test for comparing two classifiers on the SAME
    examples — the curation-stack A/B grade ("is the new quality
    filter actually better, or did it just get different examples
    right?").  Accuracy deltas mislead on paired data; McNemar reads
    only the DISAGREEMENT cells::

        b = #(A right, B wrong)    c = #(A wrong, B right)
        chi2 = (b - c)^2 / (b + c)

    r15 registry candidate (the library-level-first modularity
    precedent).

    Exactness: all five counts are ONE map-side-combinable conditional
    aggregation (exact int64); chi2 is an exact integer rational
    emitted as half-up int64 microunits via :func:`e6_signed`
    (``(b-c)^2`` in DECIMAL(38,0) — exact at any corpus size), NULL
    when ``b + c = 0`` (identical disagreement behavior carries no
    signal).  NULL label/pred rows are DROPPED (the confusion_stats
    convention); labels/preds must be 0/1.

    Plan: one aggregation, no joins, no shuffle beyond the 1-row
    combine — scale-safe at any corpus size.

    Output: one row ``(n, n_both_right, n_both_wrong, n_a_only,
    n_b_only, chi2_e6)`` where n_a_only = b, n_b_only = c.
    """
    from spatialdata_spark.functions.exact import e6_signed

    y = F.col(label_col).cast("long")
    pa = F.col(pred_a_col).cast("long")
    pb = F.col(pred_b_col).cast("long")
    base = df.filter(
        F.col(label_col).isNotNull()
        & F.col(pred_a_col).isNotNull()
        & F.col(pred_b_col).isNotNull()
    ).select(
        (pa == y).cast("long").alias("__ra"),
        (pb == y).cast("long").alias("__rb"),
    )
    agg = base.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(((F.col("__ra") == 1) & (F.col("__rb") == 1)).cast("long"))
        .cast("long")
        .alias("n_both_right"),
        F.sum(((F.col("__ra") == 0) & (F.col("__rb") == 0)).cast("long"))
        .cast("long")
        .alias("n_both_wrong"),
        F.sum(((F.col("__ra") == 1) & (F.col("__rb") == 0)).cast("long"))
        .cast("long")
        .alias("n_a_only"),
        F.sum(((F.col("__ra") == 0) & (F.col("__rb") == 1)).cast("long"))
        .cast("long")
        .alias("n_b_only"),
    )
    chi2 = e6_signed(
        "CAST(n_a_only - n_b_only AS DECIMAL(38,0))"
        " * CAST(n_a_only - n_b_only AS DECIMAL(38,0))",
        "CAST(n_a_only + n_b_only AS DECIMAL(38,0))",
        "mcnemar_test",
    )
    return agg.select(
        "n",
        "n_both_right",
        "n_both_wrong",
        "n_a_only",
        "n_b_only",
        F.when(F.col("n_a_only") + F.col("n_b_only") > 0, chi2).alias("chi2_e6"),
    )
