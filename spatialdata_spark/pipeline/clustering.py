"""Embedding clustering: fixed-point Lloyd's k-means, SemDeDup-style
semantic near-dup removal, and exact brute-force k-NN classification.

The 100 TB shapes these are built for:

* **k-means** — the model state (k x dim centroids) is always
  driver-metadata-sized no matter how large the corpus is, so each
  Lloyd iteration is one *unconditionally* broadcast join (k*dim
  literals, not a data-sized side) followed by a map-side-combining
  aggregation whose key space is ``k * dim`` — the reduce stage shrinks
  with the model, never with the data.  Iterations re-literalize the
  centroid table through the driver (the same metadata-sized
  ``collect`` contract as the IVF sampler in ``similarity.py``), so
  the lineage stays one-join-deep regardless of ``n_iter``.
* **semantic dedup** — the SemDeDup recipe (Abbas et al. 2023):
  cluster first, then compare pairs only *within* a cluster, so the
  candidate join is an equi-join on the cluster id and per-block work
  is (n/k)^2 instead of n^2.  A skewed giant cluster is the known
  failure mode at corpus scale; ``max_cluster_size`` implements the
  mitigation — oversized clusters re-split by a secondary id-hash
  before the pair stage, bounding per-task pair work by cap^2
  (see :func:`_with_subblocks`).
* **k-NN** — exact brute force by stated contract (the parity
  baseline for the ANN family in ``similarity.py``); the pair space
  is the documented n_test x n_train quadratic.

Everything is computed in **fixed-point integer arithmetic**
(components quantized to ``floor(x * 100 + 0.5)``; centroids carry an
extra x1024 sub-integer resolution): integer sums are exact in any
accumulation order, so Spark's partial-aggregate ordering and the
oracle's single-threaded ordering cannot diverge by even one ulp —
assignments, thresholds and inertia values replay bit-exactly in
ANSI SQL.  The cosine threshold compares ``scale * dot^2`` against
``round(threshold^2 * scale) * |a|^2 * |b|^2`` (both BIGINT), which
is exactly ``cos >= threshold`` for positive dots at the stated
quantization — no division, no floats.

Reference parity: the reference has no clustering operators (its
scope stops at spatial aggregation); these cover the
training-data-pipeline surface (semantic dedup over an embedding
column) that a 100 TB corpus build needs alongside the MinHash/LSH
family in ``dedup.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spatialdata_spark import session

__all__ = [
    "quantize_long",
    "kmeans_lloyd",
    "semantic_dedup_kmeans",
    "knn_classify",
    "pool_embeddings",
    "gram_matrix",
    "pca_project",
    "label_fstat",
    "embed_outliers",
    "hard_negatives",
]

#: sub-integer resolution carried by centroid coordinates.  Points are
#: compared against centroids in the common x(Q*CSCALE) grid.
CSCALE = 1024


def quantize_long(
    embeddings: DataFrame,
    q: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Long-format fixed-point view: one row per (id, pos) with
    ``val = floor(x * q + 0.5)`` as BIGINT.  ``floor`` on the shared
    IEEE double product is deterministic across engines (unlike
    ``round``, whose half-way rule differs)."""
    return embeddings.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "x"),
    ).select(
        "id",
        "pos",
        F.floor(F.col("x") * q + F.lit(0.5)).cast("long").alias("val"),
    )


def _assign(points_long: DataFrame, centroids: DataFrame) -> DataFrame:
    """One Lloyd assignment: argmin_j sum_d (CSCALE*val - cval)^2 with
    ties to the smallest cluster id.  The centroid side is k*dim rows —
    model state, broadcast unconditionally (this is NOT a data-sized
    side; see module docstring)."""
    d = (
        points_long.join(F.broadcast(centroids), "pos")
        .groupBy("id", "j")
        .agg(
            F.sum(
                (F.col("val") * CSCALE - F.col("cval"))
                * (F.col("val") * CSCALE - F.col("cval"))
            ).alias("dist")
        )
    )
    return d.groupBy("id").agg(
        F.min(F.struct("dist", "j")).alias("m")
    ).select("id", F.col("m.j").alias("cluster"), F.col("m.dist").alias("dist"))


def _update(
    points_long: DataFrame, assign: DataFrame, prev: DataFrame
) -> DataFrame:
    """New centroids: per-(cluster, pos) integer mean re-quantized to
    the CSCALE grid — ``floor(CSCALE * S / n + 0.5)`` on the exact
    BIGINT sum.  Clusters that lost every member keep their previous
    coordinates (COALESCE against ``prev``), so k never shrinks."""
    upd = (
        points_long.join(assign.select("id", "cluster"), "id")
        .groupBy(F.col("cluster").alias("j"), "pos")
        .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
        .select(
            "j",
            "pos",
            F.floor(F.lit(float(CSCALE)) * F.col("s") / F.col("n") + F.lit(0.5))
            .cast("long")
            .alias("cval_new"),
        )
    )
    return (
        prev.join(upd, ["j", "pos"], "left")
        .select("j", "pos", F.coalesce("cval_new", "cval").alias("cval"))
    )


def quantize_wide(
    embeddings: DataFrame,
    q: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Wide fixed-point view: (id, qv array<long>) — the Arrow-path
    input (no x dim explode; one Arrow batch carries whole vectors)."""
    return embeddings.select(
        F.col(id_col).alias("id"),
        F.transform(
            F.col(vec_col).cast("array<double>"),
            lambda x: F.floor(x * q + F.lit(0.5)).cast("long"),
        ).alias("qv"),
    )


def _assign_arrow(qw: DataFrame, cent) -> DataFrame:
    """Arrow-path assignment: per-batch int64 GEMM against the model
    matrix captured in the closure (k*dim — model state, shipped once
    per task like a broadcast variable).  numpy integer matmul is
    exact, and ``argmin`` takes the FIRST minimum — the same
    (dist, j) tie rule as the expression twin, so results are
    bit-identical.  Data movement: O(n*dim) input rows, no join."""
    import numpy as np

    C = np.asarray(cent, dtype=np.int64)  # (k, dim), CSCALE grid
    c2 = (C * C).sum(axis=1)

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["qv"].to_numpy()).astype(np.int64) * CSCALE
            d = (X * X).sum(axis=1)[:, None] - 2 * (X @ C.T) + c2[None, :]
            j = d.argmin(axis=1)
            yield pd.DataFrame(
                {
                    "id": pdf["id"].to_numpy(),
                    "cluster": j.astype(np.int32),
                    "dist": d[np.arange(len(j)), j],
                }
            )

    return qw.mapInPandas(gen, "id long, cluster int, dist long")


def _update_arrow(qw: DataFrame, cent) -> list:
    """One Lloyd round, Arrow path: a single pass assigns each batch
    and emits per-batch per-cluster partial sums (k*dim rows per
    batch — the ideal map-side combine), reduced on the k*dim key
    space; the division back to the CSCALE grid happens driver-side
    on exact BIGINT totals.  Empty clusters keep their previous
    coordinates."""
    import math

    import numpy as np

    C = np.asarray(cent, dtype=np.int64)
    k, dim = C.shape
    c2 = (C * C).sum(axis=1)

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["qv"].to_numpy()).astype(np.int64)
            Xs = X * CSCALE
            d = (Xs * Xs).sum(axis=1)[:, None] - 2 * (Xs @ C.T) + c2[None, :]
            j = d.argmin(axis=1)
            out = {"j": [], "pos": [], "s": [], "n": []}
            for jj in np.unique(j):
                m = j == jj
                S = X[m].sum(axis=0)
                out["j"].extend([int(jj)] * dim)
                out["pos"].extend(range(dim))
                out["s"].extend(S.tolist())
                out["n"].extend([int(m.sum())] * dim)
            yield pd.DataFrame(out)

    partials = qw.mapInPandas(gen, "j int, pos int, s long, n long")
    totals = (
        partials.groupBy("j", "pos")
        .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
        .collect()
    )
    new = C.copy()
    for r in totals:
        new[r["j"], r["pos"]] = int(
            math.floor(float(CSCALE) * r["s"] / r["n"] + 0.5)
        )
    return new


def _literalize(spark: SparkSession, centroids: DataFrame) -> DataFrame:
    """Collect the k*dim model state through the driver and re-emit it
    as a literal frame: keeps every iteration's plan one join deep
    (metadata-sized collect — the same contract as the IVF sampler)."""
    rows = [(int(r["j"]), int(r["pos"]), int(r["cval"])) for r in centroids.collect()]
    return spark.createDataFrame(rows, "j INT, pos INT, cval LONG")


def kmeans_lloyd(
    embeddings: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    q: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "arrow",
):
    """Fixed-point Lloyd's k-means.  Deterministic init: the k rows
    with the smallest ids are the seed centroids (data-derived, same
    contract as the ANN codebooks).  Runs ``n_iter`` (assign, update)
    rounds, then one final assignment against the trained centroids.

    ``method='arrow'`` (production): per-batch int64 GEMM against the
    model matrix — O(n*dim) data movement per iteration, partial sums
    combined on a k*dim key space.  ``method='expr'``: the pure
    DataFrame-expression twin (long-format broadcast join), the
    SQL-replayable shape the oracle mirrors.  Both are exact integer
    arithmetic and return BIT-IDENTICAL results (a pinned test
    asserts it) — only the physical plan differs.

    Returns ``(assignments, centroids)``: assignments has
    ``(id, cluster, dist)`` (dist = exact squared distance in the
    quantized grid, BIGINT); centroids has ``(j, pos, cval)``.
    """
    spark = embeddings.sparkSession
    if method == "expr":
        pts = quantize_long(embeddings, q, id_col, vec_col)
        # pts is read n_iter+1 times: cache once (scan-sized, spills)
        pts = pts.persist()
        seed_ids = [
            r["id"]
            for r in pts.select("id").distinct().orderBy("id").limit(k).collect()
        ]
        # map seed ids -> dense 0..k-1 via a literal lookup (k rows)
        lookup = spark.createDataFrame(
            [(int(v), int(j)) for j, v in enumerate(seed_ids)], "id LONG, j INT"
        )
        init = (
            pts.join(F.broadcast(lookup), "id")
            .select("j", "pos", (F.col("val") * CSCALE).alias("cval"))
        )
        centroids = _literalize(spark, init)
        for _ in range(n_iter):
            a = _assign(pts, centroids)
            centroids = _literalize(spark, _update(pts, a, centroids))
        final = _assign(pts, centroids)
        return final, centroids

    import numpy as np

    qw = quantize_wide(embeddings, q, id_col, vec_col).persist()
    seeds = (
        qw.select("id", "qv")
        .orderBy("id")
        .limit(k)
        .collect()
    )
    C = (
        np.stack([np.asarray(r["qv"], dtype=np.int64) for r in seeds])
        * CSCALE
    )
    for _ in range(n_iter):
        C = _update_arrow(qw, C)
    final = _assign_arrow(qw, C)
    cent_rows = [
        (int(j), int(p), int(C[j, p]))
        for j in range(C.shape[0])
        for p in range(C.shape[1])
    ]
    centroids = spark.createDataFrame(cent_rows, "j INT, pos INT, cval LONG")
    return final, centroids


def _with_subblocks(
    withc: DataFrame, assign: DataFrame, max_cluster_size: int
) -> DataFrame:
    """Giant-cluster mitigation: clusters above ``max_cluster_size``
    are re-split into ``ceil(size / cap)`` sub-blocks by a secondary
    hash of the id, BEFORE the pair stage.  Pair work per task is then
    bounded by ``cap^2`` no matter how skewed the clustering came out
    (the known SemDeDup failure mode: one basin swallows most of the
    corpus and its pair block is quadratic in the corpus).  Pairs are
    only tested *within* a sub-block — the documented contract under
    the cap is within-sub-block pairs, a deterministic subset of the
    within-cluster pairs (SemDeDup is itself already a within-cluster
    approximation of all-pairs).  Cluster sizes are a k-row aggregate
    (model-sized, broadcast); the block id is a map-side hash — no
    extra shuffle beyond the pair stage's own."""
    sizes = assign.groupBy("cluster").agg(F.count(F.lit(1)).alias("csz"))
    nb = F.ceil(F.col("csz") / F.lit(max_cluster_size)).cast("long")
    return (
        withc.join(F.broadcast(sizes), "cluster")
        .withColumn(
            "blk",
            F.when(nb > 1, F.pmod(F.xxhash64(F.col("id")), nb)).otherwise(
                F.lit(0)
            ),
        )
        .drop("csz")
    )


def semantic_dedup_kmeans(
    embeddings: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    threshold: float = 0.92,
    q: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "arrow",
    max_cluster_size: int | None = None,
) -> DataFrame:
    """SemDeDup: cluster, then drop every vector that has a
    lower-id cluster-mate with quantized cosine >= threshold.
    The threshold test is pure BIGINT (see module docstring), so the
    survivor set replays exactly in SQL.  Returns the surviving rows
    of ``embeddings`` plus their ``cluster``.

    ``method='arrow'`` (production): per-cluster int64 GEMM inside an
    ``applyInPandas`` kernel — the pair space never materializes as
    rows, only O(n*dim) moves through the cluster shuffle.  (SemDeDup's
    stated contract is that k scales with the corpus so clusters stay
    task-sized — the paper uses k=50k at LAION scale.)
    ``method='expr'``: the long-format pair join the oracle mirrors
    (O(pairs*dim) join rows — fine at the oracle scales, not the 100 TB
    plan).  Both compute the same exact integers; a pinned test asserts
    the survivor sets are identical.

    ``max_cluster_size`` bounds per-task pair work when the clustering
    comes out skewed: oversized clusters are re-split by a secondary
    id-hash into blocks of at most ~cap expected rows and pairs are
    tested within a block (see :func:`_with_subblocks`).  ``None``
    (default) keeps the pure within-cluster contract."""
    spark = embeddings.sparkSession
    scale = 10_000
    coeff = int(round(threshold * threshold * scale))
    assign, _ = kmeans_lloyd(embeddings, k, n_iter, q, id_col, vec_col, method)
    if method == "arrow":
        import numpy as np

        qw = quantize_wide(embeddings, q, id_col, vec_col)
        withc = qw.join(assign.select("id", "cluster"), "id")

        def _dups(pdf):
            import pandas as pd

            if not len(pdf):
                return pd.DataFrame({"dup_id": np.array([], dtype=np.int64)})
            X = np.stack(pdf["qv"].to_numpy()).astype(np.int64)
            ids = pdf["id"].to_numpy()
            o = np.argsort(ids)
            X, ids = X[o], ids[o]
            # int64 wraps SILENTLY on overflow: guard both the GEMM
            # (dim * max|x|^2) and the threshold products
            # (scale|coeff * G^2) with exact Python-int bounds, and
            # drop to arbitrary-precision object arithmetic (np.dot
            # supports object dtype; matmul does not) when a bound is
            # crossed — exactness is the documented contract here.
            m = int(np.abs(X).max(initial=0))
            if m and X.shape[1] * m * m >= 2**63:
                Xo = X.astype(object)
                G = Xo.dot(Xo.T)
            else:
                G = X @ X.T
            n2 = np.diagonal(G).copy()
            ia, ib = np.triu_indices(len(ids), 1)
            d = G[ia, ib]
            gmax = int(np.abs(G).max())
            if G.dtype == np.int64 and max(scale, coeff) * gmax * gmax >= 2**63:
                d = d.astype(object)
                n2 = n2.astype(object)
            hit = (
                (d > 0) & (scale * d * d >= coeff * n2[ia] * n2[ib])
            ).astype(bool)
            return pd.DataFrame({"dup_id": np.unique(ids[ib[hit]])})

        if max_cluster_size is not None:
            withc = _with_subblocks(withc, assign, max_cluster_size)
            grouped = withc.groupBy("cluster", "blk")
        else:
            grouped = withc.groupBy("cluster")
        dup = (
            grouped.applyInPandas(_dups, "dup_id long")
            .select(F.col("dup_id").alias(id_col))
        )
    else:
        pts = quantize_long(embeddings, q, id_col, vec_col)
        withc = pts.join(assign.select("id", "cluster"), "id")
        if max_cluster_size is not None:
            withc = _with_subblocks(withc, assign, max_cluster_size)
        else:
            withc = withc.withColumn("blk", F.lit(0))
        # pair dot products and squared norms — all exact BIGINT
        a = withc.select(
            "cluster", "blk", F.col("id").alias("id_a"), "pos",
            F.col("val").alias("va"),
        )
        b = withc.select(
            "cluster", "blk", F.col("id").alias("id_b"), "pos",
            F.col("val").alias("vb"),
        )
        dots = (
            a.join(b, ["cluster", "blk", "pos"])
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("cluster", "id_a", "id_b")
            .agg(F.sum(F.col("va") * F.col("vb")).alias("dot"))
        )
        n2 = withc.groupBy("id").agg(
            F.sum(F.col("val") * F.col("val")).alias("n2")
        )
        dup = (
            dots.join(
                n2.select(F.col("id").alias("id_a"), F.col("n2").alias("na2")),
                "id_a",
            )
            .join(
                n2.select(F.col("id").alias("id_b"), F.col("n2").alias("nb2")),
                "id_b",
            )
            .filter(
                (F.col("dot") > 0)
                & (F.lit(scale) * F.col("dot") * F.col("dot")
                   >= F.lit(coeff) * F.col("na2") * F.col("nb2"))
            )
            .select(F.col("id_b").alias(id_col))
            .distinct()
        )
    if session.single_host(spark):
        dup = F.broadcast(dup)
    return (
        embeddings.join(dup, id_col, "left_anti")
        .join(
            assign.select(F.col("id").alias(id_col), "cluster"), id_col
        )
    )


def knn_classify(
    embeddings: DataFrame,
    k_neighbors: int = 5,
    test_mod: int = 5,
    q: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Exact k-NN majority-vote classification.  Deterministic split:
    ids with ``id % test_mod == 0`` are the test set, the rest train.
    Distances are exact BIGINT in the quantized grid; the k-th
    neighbor boundary is totally ordered by ``(dist, train_id)`` and
    the vote by ``(-count, label)`` — no float, no tie ambiguity.
    Brute force O(n_test * n_train) by stated contract (the parity
    baseline the ANN recall harness measures against)."""
    qv = embeddings.select(
        F.col(id_col).alias("id"),
        F.col(label_col).alias("label"),
        F.transform(
            F.col(vec_col).cast("array<double>"),
            lambda x: F.floor(x * q + F.lit(0.5)).cast("long"),
        ).alias("qv"),
    )
    test = qv.filter(F.col("id") % test_mod == 0).select(
        F.col("id").alias("test_id"),
        F.col("label").alias("true_label"),
        F.col("qv").alias("tv"),
    )
    train = qv.filter(F.col("id") % test_mod != 0).select(
        F.col("id").alias("train_id"),
        F.col("label").alias("train_label"),
        F.col("qv").alias("rv"),
    )
    # shallow HOF (one zip_with + one aggregate) stays codegen-friendly;
    # integer sums are order-independent so any evaluation order is exact
    dist = F.aggregate(
        F.zip_with(F.col("tv"), F.col("rv"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    pairs = test.crossJoin(train).select(
        "test_id", "true_label", "train_id", "train_label", dist.alias("dist")
    )
    from pyspark.sql.window import Window

    # window partitioned by TEST VECTOR — maximally fine-grained, no
    # reducer hotspot at any corpus size
    w = Window.partitionBy("test_id").orderBy("dist", "train_id")
    topk = pairs.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= k_neighbors
    )
    votes = topk.groupBy("test_id", "true_label", "train_label").agg(
        F.count(F.lit(1)).alias("c")
    )
    return (
        votes.groupBy("test_id", "true_label")
        .agg(F.min(F.struct((-F.col("c")).alias("nc"), F.col("train_label").alias("l"))).alias("m"))
        .select(
            "test_id",
            "true_label",
            F.col("m.l").alias("pred_label"),
            (F.col("m.l") == F.col("true_label")).cast("int").alias("correct"),
        )
    )


def pool_embeddings(
    embeddings: DataFrame,
    q: int = 100,
    group_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact per-group mean pooling of embedding vectors (class
    centroids / document-from-chunk pooling) in the module's
    fixed-point arithmetic: components quantize exactly as
    :func:`quantize_long` (``floor(x*q + 0.5)`` — deterministic across
    engines), the per-(group, dim) sum is exact int64 (order-free, so
    Spark's partial aggregation cannot diverge from a sequential SQL
    replay), and the mean divides once at the end.

    Long-format output ``(group, pos, n_vecs, mean_val)`` — reassemble
    to ``array<double>`` with ``array_agg(mean_val ORDER BY pos)``
    when a wide vector is needed.  Scale: one map-side explode, one
    hash aggregation keyed (group, dim) — ``n_groups * dim`` result
    rows; nothing is collected, nothing shuffles full vectors.
    int64 bound: ``|sum| <= n_rows * q * max|x| * 1`` — raise ``q``
    only with corpus bounds in mind (q=100 holds to ~10^14 rows of
    unit-norm embeddings).
    """
    longv = embeddings.select(
        F.col(group_col).alias("__grp"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "x"),
    ).select(
        "__grp",
        "pos",
        F.floor(F.col("x") * q + F.lit(0.5)).cast("long").alias("val"),
    )
    out = (
        longv.groupBy("__grp", "pos")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.sum("val").alias("__s"),
        )
        .select(
            F.col("__grp").alias(group_col),
            "pos",
            "n_vecs",
            F.round(F.col("__s") / (F.col("n_vecs") * float(q)), 9).alias(
                "mean_val"
            ),
        )
    )
    return out


def gram_matrix(
    embeddings: DataFrame,
    q: int = 100,
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact fixed-point Gram matrix ``X^T X`` of the embedding
    corpus (upper triangle incl. diagonal) — the single-pass
    sufficient statistic behind PCA / whitening / linear probing at
    100 TB: the corpus is read once, each task reduces its batches to
    a ``dim x dim`` integer matrix with one numpy GEMM, and only
    those dim²-sized partials shuffle (the final aggregation input is
    ``batches x dim(dim+1)/2`` rows regardless of corpus size).

    Components quantize exactly as :func:`quantize_long`
    (``floor(x*q + 0.5)``, deterministic across engines) and every
    accumulation is int64 — order-free, so Spark's partial
    aggregation is bit-equal to a sequential SQL replay.  int64
    bound: ``|sum| <= n_rows * (q * max|x|)²`` — q=100 on unit-scale
    embeddings holds to ~10^13 rows; raise q only with corpus bounds
    in mind (the same contract as :func:`pool_embeddings`).

    Output: ``(pos_i, pos_j, gram)`` with ``pos_i <= pos_j``,
    0-based, ``gram`` the exact integer sum of quantized products.
    """
    import numpy as np
    import pandas as pd

    qq = float(q)

    def _partials(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            Q = np.floor(X * qq + 0.5).astype(np.int64)
            G = Q.T @ Q
            iu, ju = np.triu_indices(G.shape[0])
            yield pd.DataFrame(
                {"pos_i": iu, "pos_j": ju, "gram": G[iu, ju]}
            )

    part = embeddings.select(vec_col).mapInPandas(
        _partials, schema="pos_i long, pos_j long, gram long"
    )
    return part.groupBy("pos_i", "pos_j").agg(
        F.sum("gram").cast("long").alias("gram")
    )


def pca_project(
    embeddings: DataFrame,
    k: int = 4,
    q: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Distributed PCA in two corpus passes, completing the
    :func:`gram_matrix` story: pass 1 reduces the corpus to its exact
    fixed-point sufficient statistics (the dim x dim Gram matrix plus
    per-dimension sums — both int64-exact, both dim²-sized partials),
    the covariance eigendecomposition runs driver-side on that
    dim x dim matrix (model-sized, like every centroid/threshold in
    this module), and pass 2 projects every vector onto the top-``k``
    axes with one numpy GEMM per Arrow batch.

    Covariance uses the quantized grid: ``C = (Q^T Q - n * m m^T) /
    (n - 1)`` with ``m`` the quantized column mean — deterministic
    given the corpus (the int64 statistics are order-free; the only
    float work happens once, driver-side).  Component signs are fixed
    by making each eigenvector's largest-magnitude entry positive, so
    output is reproducible run to run.

    Returns ``(projected, eigvals, components)``: ``projected`` has
    ``(id, pc)`` with ``pc`` an ``array<double>`` of length ``k``
    (projection of the CENTERED quantized vector, in quantized-grid
    units); ``eigvals``/``components`` are driver-side numpy arrays
    (descending variance order).
    """
    import numpy as np
    import pandas as pd

    qq = float(q)
    gm = gram_matrix(embeddings, q=q, vec_col=vec_col)

    def _sums(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            Q = np.floor(X * qq + 0.5).astype(np.int64)
            yield pd.DataFrame(
                {
                    "pos": np.arange(Q.shape[1], dtype=np.int64),
                    "s": Q.sum(axis=0),
                    "n": np.int64(Q.shape[0]),
                }
            )

    sm = (
        embeddings.select(vec_col)
        .mapInPandas(_sums, schema="pos long, s long, n long")
        .groupBy("pos")
        .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
        .collect()
    )
    dim = len(sm)
    n = int(sm[0]["n"])
    sums = np.zeros(dim, dtype=np.int64)
    for r in sm:
        sums[int(r["pos"])] = int(r["s"])
    G = np.zeros((dim, dim), dtype=np.float64)
    for r in gm.collect():
        G[int(r["pos_i"]), int(r["pos_j"])] = float(r["gram"])
        G[int(r["pos_j"]), int(r["pos_i"])] = float(r["gram"])
    m = sums / n
    C = (G - n * np.outer(m, m)) / max(n - 1, 1)
    w, v = np.linalg.eigh(C)
    order = np.argsort(w)[::-1][: int(k)]
    eigvals = w[order]
    comps = v[:, order]
    # deterministic sign: largest-|entry| of each component positive
    for j in range(comps.shape[1]):
        i = int(np.argmax(np.abs(comps[:, j])))
        if comps[i, j] < 0:
            comps[:, j] = -comps[:, j]
    V = comps.copy()
    mu = m.copy()

    def _project(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            Q = np.floor(X * qq + 0.5).astype(np.float64)
            P = (Q - mu) @ V
            yield pd.DataFrame(
                {"id": pdf[id_col].to_numpy(), "pc": list(P)}
            )

    projected = (
        embeddings.select(id_col, vec_col)
        .mapInPandas(_project, schema="id long, pc array<double>")
        .withColumnRenamed("id", id_col)
    )
    return projected, eigvals, comps


def label_fstat(
    embeddings: DataFrame,
    q: int = 100,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-dimension one-way ANOVA F statistic between label groups —
    the embedding-QA / feature-selection diagnostic ("which dimensions
    actually separate the classes").  Sufficient statistics are exact
    int64 on the :func:`quantize_long` grid (per-(dim, label) count /
    sum / sum-of-squares, map-side combinable, ``dim x k`` rows
    total); the F ratio's float work happens once per dimension over
    ``k`` label terms (6 dp — the float-sum magnitudes sit orders
    below the rounding, the `jsd_sources` precedent).

    ``F = [SSB/(k-1)] / [SSW/(N-k)]`` with ``SSB = Σ_g S_g²/n_g −
    S²/N`` and ``SSW = Q − Σ_g S_g²/n_g`` over quantized values.

    Output: ``(pos, n_labels, f_stat)`` — one row per dimension.
    """
    longv = embeddings.select(
        F.col(label_col).alias("__g"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "x"),
    ).select(
        "__g",
        "pos",
        F.floor(F.col("x") * q + F.lit(0.5)).cast("long").alias("v"),
    )
    per = longv.groupBy("pos", "__g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").alias("s"),
        F.sum(F.col("v") * F.col("v")).alias("qq"),
    )
    agg = per.groupBy("pos").agg(
        F.count(F.lit(1)).cast("long").alias("n_labels"),
        F.sum("n").cast("long").alias("N"),
        F.sum("s").cast("long").alias("S"),
        F.sum("qq").cast("long").alias("Q"),
        F.sum(
            F.col("s").cast("double") * F.col("s") / F.col("n")
        ).alias("sb"),
    )
    ssb = F.col("sb") - F.col("S").cast("double") * F.col("S") / F.col("N")
    ssw = F.col("Q") - F.col("sb")
    fstat = (ssb / (F.col("n_labels") - 1)) / (
        ssw / (F.col("N") - F.col("n_labels"))
    )
    return agg.select(
        "pos", "n_labels", F.round(fstat, 6).alias("f_stat")
    )


def embed_outliers(
    embeddings: DataFrame,
    q: int = 100,
    group_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-group centroid-distance outlier scores: each vector's exact
    squared distance to its own group's integer centroid — the
    standard embedding-QA pass that surfaces mislabeled, degenerate,
    or contaminated vectors (large ``d2`` within a tight class).

    Exactness: vectors quantize to the module's int64 grid; the
    centroid is the n-scaled integer form (``n * c_pos = sum_pos`` —
    no division, so no rounding disagreement anywhere): ``n^2 * d2 =
    sum_pos (n * x_pos - s_pos)^2`` is EXACT int64 arithmetic and the
    reported ``d2 = that / n^2`` divides once at the end.  Order-free
    integer sums -> bit-equal to a sequential SQL replay.

    Plan: one map-side explode to (group, pos) long format; the
    centroid-sum table is (n_groups x dim)-sized with map-side
    combine; the joined-back table is model-sized at any corpus
    scale; one per-vector aggregation.  int64 bound: |n*x - s|
    <= 2*n*q*max|x|, so the per-vector squared sum is <=
    4*dim*q^2*n^2 — ~2*10^6 rows per group at dim=64/q=100.  Beyond
    that, swap the n-scaled form for DECIMAL(38) intermediates or a
    float centroid with a documented tolerance (the exact form is the
    oracle-parity configuration, not a hard ceiling).

    Output: ``(id, group, d2)`` with ``d2`` rounded to 6 dp.
    """
    longv = embeddings.select(
        F.col(id_col).alias("__id"),
        F.col(group_col).alias("__grp"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "x"),
    ).select(
        "__id",
        "__grp",
        "pos",
        F.floor(F.col("x") * q + F.lit(0.5)).cast("long").alias("val"),
    )
    cent = longv.groupBy("__grp", "pos").agg(
        F.sum("val").alias("__s"),
        F.count(F.lit(1)).cast("long").alias("__n"),
    )
    # n is constant per group; keep it on every (group, pos) row so the
    # join stays single-key model-sized.
    diff = longv.join(cent, ["__grp", "pos"]).select(
        "__id",
        "__grp",
        "__n",
        (F.col("__n") * F.col("val") - F.col("__s")).alias("__d"),
    )
    out = diff.groupBy("__id", "__grp", "__n").agg(
        F.sum(F.col("__d") * F.col("__d")).alias("__ss")
    )
    return out.select(
        F.col("__id").alias(id_col),
        F.col("__grp").alias(group_col),
        F.round(
            F.col("__ss")
            / (F.col("__n") * F.col("__n") * float(q) * float(q)),
            6,
        ).alias("d2"),
    )


def hard_negatives(
    embeddings: DataFrame,
    q: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: for every vector,
    its NEAREST neighbor carrying a DIFFERENT label — the pair a
    contrastive loss learns most from, and the standard metric-learning
    batch-construction step.

    Exactness: squared distances on the quantized int64 grid (the
    :func:`knn_classify` arithmetic); the winner per anchor is one
    lexicographic struct-MIN over ``(dist, neg_id)`` — total order, no
    tie ambiguity, map-side combinable.  Brute force
    O(n * n) by the same stated contract as :func:`knn_classify` (the
    parity baseline; the scale path blocks the pair space through the
    IVF/LSH bucketers in ``pipeline/similarity.py``).

    Output: ``(anchor, anchor_label, negative, neg_label, d2)`` with
    ``d2`` in original (unquantized) units, 6 dp.
    """
    qv = embeddings.select(
        F.col(id_col).alias("id"),
        F.col(label_col).alias("label"),
        F.transform(
            F.col(vec_col).cast("array<double>"),
            lambda x: F.floor(x * q + F.lit(0.5)).cast("long"),
        ).alias("qv"),
    )
    a = qv.select(
        F.col("id").alias("anchor"),
        F.col("label").alias("anchor_label"),
        F.col("qv").alias("av"),
    )
    b = qv.select(
        F.col("id").alias("__nid"),
        F.col("label").alias("__nlab"),
        F.col("qv").alias("bv"),
    )
    d2 = F.aggregate(
        F.zip_with(F.col("av"), F.col("bv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    pairs = a.join(b, F.col("anchor_label") != F.col("__nlab")).select(
        "anchor",
        "anchor_label",
        F.struct(
            d2.alias("d2"), F.col("__nid").alias("nid"), F.col("__nlab").alias("nl")
        ).alias("__cand"),
    )
    best = pairs.groupBy("anchor", "anchor_label").agg(
        F.min("__cand").alias("__b")
    )
    return best.select(
        "anchor",
        "anchor_label",
        F.col("__b.nid").alias("negative"),
        F.col("__b.nl").alias("neg_label"),
        F.round(F.col("__b.d2") / float(q * q), 6).alias("d2"),
    )
