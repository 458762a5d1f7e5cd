"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — the dot product is a
``zip_with``/``aggregate`` expression (JVM-side, no Python).  Scale
path: LSH random-hyperplane bucketing (signed projections) so the
candidate set per query is a bucket join, not the full corpus; IVF
(k-means coarse quantizer) follows the same join shape.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spatialdata_spark import session


def _dot_expr(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def _norm_expr(a):
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))


def cosine_topk_query(
    embeddings: DataFrame,
    query_vector,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k most-cosine-similar rows to one query vector.

    The query vector is a literal array (broadcast in the plan);
    ordering ties break on id for determinism.
    """
    q = [float(v) for v in query_vector]
    qn = float(np.sqrt(np.sum(np.asarray(q) ** 2)))
    qcol = F.array(*[F.lit(v) for v in q])
    dot = _dot_expr(F.col(vec_col).cast("array<double>"), qcol)
    sim = dot / (_norm_expr(F.col(vec_col).cast("array<double>")) * F.lit(qn))
    return (
        embeddings.select(F.col(id_col), sim.alias("cosine"))
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def cosine_topk_subquery(
    embeddings: DataFrame,
    query: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k rows most cosine-similar to a single-row ``query`` frame.

    Same math as :func:`cosine_topk_query`, but the query vector is a
    broadcast 1-row subquery inside the plan rather than a literal
    array collected on the driver: one action instead of two (no
    ``.first()`` job per plan construction), and the plan carries one
    broadcast instead of a dim-sized literal.  The dot/norm aggregates
    are the same sequential ``aggregate`` expressions, so per-row
    cosine values match the literal-array path bit-for-bit; only the
    query-norm summation order differs from the old numpy norm (one
    ulp at most — callers ranking on cosine should have margins far
    above that, as the brute-force corpus here does).

    The parse binds the corpus cross-joined with the query vector, not
    the caller's frames: spark.sql drops each bound view after
    analysis, and dropping a view uncaches any cached plan it matches,
    so a bare ``embeddings`` or ``query`` would evict the caller's
    persisted copy."""
    q = query.selectExpr(
        f"CAST(`{vec_col}` AS array<double>) AS __qv",
        f"sqrt(aggregate(transform(CAST(`{vec_col}` AS array<double>), x -> x * x), 0.0D, (acc, v) -> acc + v)) AS __qn",
    )
    return embeddings.sparkSession.sql(
        f"""
SELECT `{id_col}`,
       aggregate(zip_with(CAST(`{vec_col}` AS array<double>), __qv, (x, y) -> x * y),
                 0.0D, (acc, v) -> acc + v)
       / (sqrt(aggregate(transform(CAST(`{vec_col}` AS array<double>), x -> x * x),
               0.0D, (acc, v) -> acc + v)) * __qn) AS cosine
FROM {{pairs}}
ORDER BY cosine DESC, `{id_col}`
LIMIT {int(k)}""",
        pairs=embeddings.crossJoin(q.hint("broadcast")),
    )


def random_hyperplane_buckets(
    embeddings: DataFrame,
    num_planes: int = 8,
    dim: int | None = None,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes=None,
) -> DataFrame:
    """LSH bucket id per vector: sign pattern of ``num_planes`` random
    projections packed into an int — expressions only, planes are
    literals folded into the plan.  Pass ``planes`` (num_planes x dim)
    to use an explicit plane set instead of the seeded gaussian draw —
    e.g. data-derived planes that an external oracle can reproduce."""
    if planes is not None:
        planes = np.asarray(planes, dtype=float)
        num_planes = len(planes)
    else:
        if dim is None:
            first = embeddings.select(F.size(vec_col).alias("d")).first()
            dim = int(first["d"])
        rng = np.random.default_rng(seed)
        planes = rng.standard_normal((num_planes, dim))
    bucket = F.lit(0)
    v = F.col(vec_col).cast("array<double>")
    for i in range(num_planes):
        pcol = F.array(*[F.lit(float(x)) for x in planes[i]])
        bit = (_dot_expr(v, pcol) > 0).cast("int")
        bucket = bucket + (bit * F.lit(1 << i))
    return embeddings.select(F.col(id_col), F.col(vec_col), bucket.alias("bucket"))


def lsh_bucketed_topk(
    embeddings: DataFrame,
    k: int = 5,
    num_planes: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes=None,
    method: str = "arrow",
) -> DataFrame:
    """Approximate all-pairs top-k: candidates restricted to the same
    hyperplane bucket — the self-join shuffles on ``bucket``, so work is
    Σ bucket² instead of n².  Recall improves with multiple plane sets
    (union of several seeds) — callers can union results.

    ``method='arrow'`` (default) buckets via the batched GEMM path;
    ``'expr'`` uses the pure-expression twin (SQL-replayable, used by
    the oracle queries)."""
    bucket_fn = random_hyperplane_buckets_arrow if method == "arrow" else random_hyperplane_buckets
    bucketed = bucket_fn(embeddings, num_planes, None, seed, id_col, vec_col, planes)
    a = bucketed.select(F.col("bucket"), F.col(id_col).alias("id_a"), F.col(vec_col).cast("array<double>").alias("va"))
    b = bucketed.select(F.col("bucket"), F.col(id_col).alias("id_b"), F.col(vec_col).cast("array<double>").alias("vb"))
    pairs = a.join(b, "bucket").filter(F.col("id_a") != F.col("id_b"))
    sim = _dot_expr(F.col("va"), F.col("vb")) / (_norm_expr(F.col("va")) * _norm_expr(F.col("vb")))
    scored = pairs.select("id_a", "id_b", sim.alias("cosine"))
    w = Window.partitionBy("id_a").orderBy(F.desc("cosine"), F.col("id_b"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k).drop("rank")


def cosine_pairs_blocked(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_size: int = 1000,
) -> DataFrame:
    """All-pairs cosine >= threshold via **block-partitioned matrix
    multiply** — the scale path for exact pairwise similarity.

    Vectors group into id-blocks (collect_list per block: one shuffle
    of the vectors); the small blocks table self-joins on
    ``blk_a <= blk_b`` and each block pair computes a dense numpy GEMM
    inside ``mapInPandas``, emitting only pairs over the threshold.
    Work is n²/2 flops but batched as matrix products (BLAS) instead of
    per-pair expression evaluation — orders of magnitude faster than a
    zip_with/aggregate dot per row, and each task is one block pair, so
    a cluster scales it linearly.  Output: (id_a, id_b, cosine),
    id_a < id_b.
    """
    import pandas as pd
    from pyspark.sql import types as T

    emb = embeddings.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        F.floor(F.col(id_col) / block_size).alias("blk"),
    )
    blocks = emb.groupBy("blk").agg(F.collect_list(F.struct("id", "v")).alias("items"))
    l = blocks.select(F.col("blk").alias("blk_a"), F.col("items").alias("items_a"))
    r = blocks.select(F.col("blk").alias("blk_b"), F.col("items").alias("items_b"))
    bp = l.join(r, F.col("blk_a") <= F.col("blk_b"))

    out_schema = T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def _gemm(iterator):
        for pdf in iterator:
            for row in pdf.itertuples(index=False):
                ia = np.array([it["id"] for it in row.items_a], dtype=np.int64)
                va = np.array([it["v"] for it in row.items_a])
                ib = np.array([it["id"] for it in row.items_b], dtype=np.int64)
                vb = np.array([it["v"] for it in row.items_b])
                # dot first, then divide by the norm product — the same
                # formula shape as cosine oracles (dot/(|a||b|))
                sim = (va @ vb.T) / np.outer(
                    np.linalg.norm(va, axis=1), np.linalg.norm(vb, axis=1)
                )
                ga, gb = np.nonzero(sim >= threshold)
                if len(ga) == 0:
                    continue
                id_a, id_b = ia[ga], ib[gb]
                keep = id_a < id_b
                yield pd.DataFrame(
                    {"id_a": id_a[keep], "id_b": id_b[keep], "cosine": sim[ga, gb][keep]}
                )

    return bp.mapInPandas(_gemm, out_schema)


def ivf_assign(
    embeddings: DataFrame,
    n_cells: int = 16,
    sample_size: int = 2048,
    n_iter: int = 5,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, np.ndarray]:
    """IVF coarse quantizer: k-means centroids fitted driver-side on a
    bounded sample (numpy Lloyd iterations — centroid count and dim are
    tiny), then every vector is assigned to its nearest centroid in one
    Arrow-batched pass (a (batch, k) matmul per batch; centroids ride
    along in the closure as a broadcast literal).

    Returns (assigned DataFrame with a ``cell`` column, centroids).
    """
    import pandas as pd
    from pyspark.sql import types as T

    rng = np.random.default_rng(seed)
    # A *random* training sample: limit().collect() alone takes the first
    # rows of the first partitions, which on cluster-sorted storage are
    # all one cluster and wreck the quantizer.  sample() draws uniformly
    # across partitions; the slight over-draw is trimmed driver-side
    # with a seeded shuffle so the result is unbiased and deterministic.
    # fraction and seed go by keyword: pyspark reads a positional float
    # as withReplacement and then shifts the arguments, so
    # sample(frac, seed=seed) plans a random seed.
    total = embeddings.count()
    frac = min(1.0, (sample_size * 1.3 + 64) / max(total, 1))
    rows = embeddings.select(F.col(vec_col).cast("array<double>")).sample(fraction=frac, seed=seed).collect()
    sample = np.array([r[0] for r in rows])
    if len(sample) > sample_size:
        sample = sample[rng.permutation(len(sample))[:sample_size]]
    k = min(n_cells, len(sample))
    centroids = sample[rng.choice(len(sample), size=k, replace=False)]
    for _ in range(n_iter):
        d = ((sample[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for j in range(k):
            m = assign == j
            if m.any():
                centroids[j] = sample[m].mean(axis=0)

    cen = centroids.copy()

    @F.pandas_udf(T.IntegerType())
    def _nearest(vs):
        out = []
        for batch in np.array_split(np.array(vs.tolist()), max(1, len(vs) // 4096)):
            d = ((batch[:, None, :] - cen[None, :, :]) ** 2).sum(axis=2)
            out.extend(d.argmin(axis=1).tolist())
        return pd.Series(out, dtype="int32")

    assigned = embeddings.select(
        F.col(id_col), F.col(vec_col), _nearest(F.col(vec_col).cast("array<double>")).alias("cell")
    )
    return assigned, centroids


def ivf_exemplar_assign(
    embeddings: DataFrame,
    exemplars,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Expression-only IVF assignment against a *fixed codebook*: cell =
    argmax cosine(v, exemplar_i), ties to the higher cell index (the
    struct-max rule).  No Python in the plan — the codebook rides as
    array literals — so the assignment is exactly reproducible by a SQL
    oracle, unlike the k-means quantizer in :func:`ivf_assign` (which
    remains the production training path)."""
    v = F.col(vec_col).cast("array<double>")
    vn = _norm_expr(v)
    structs = []
    for i, c in enumerate(exemplars):
        c = [float(x) for x in c]
        ccol = F.array(*[F.lit(x) for x in c])
        cn = float(np.sqrt(sum(x * x for x in c)))
        structs.append(
            F.struct((_dot_expr(v, ccol) / (vn * F.lit(cn))).alias("cos"), F.lit(i).alias("cell"))
        )
    best = F.array_max(F.array(*structs))
    return embeddings.select(F.col(id_col), F.col(vec_col), best["cell"].alias("cell"))


def ivf_topk_query(
    assigned: DataFrame,
    centroids: np.ndarray,
    query_vector,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF query: rank centroids by distance to the query, scan only the
    ``nprobe`` nearest cells (a pushdown-able ``cell IN (...)`` filter —
    at scale the assigned table is partitioned/bucketed by cell, so this
    is partition pruning), brute-force cosine within the probed cells.
    ``nprobe >= n_cells`` degenerates to exact search (the oracle case).
    """
    q = np.asarray(query_vector, dtype=float)
    order = np.argsort(((centroids - q[None, :]) ** 2).sum(axis=1))
    probe = [int(c) for c in order[:nprobe]]
    qn = float(np.sqrt((q * q).sum()))
    qcol = F.array(*[F.lit(float(v)) for v in q])
    v = F.col(vec_col).cast("array<double>")
    sim = _dot_expr(v, qcol) / (_norm_expr(v) * F.lit(qn))
    return (
        assigned.filter(F.col("cell").isin(probe))
        .select(F.col(id_col), sim.alias("cosine"))
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def embedding_cosine_dedup(
    embeddings: DataFrame,
    threshold: float = 0.95,
    num_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes=None,
    method: str = "arrow",
) -> DataFrame:
    """Embedding near-dup removal: keep rows with no higher-id
    bucket-mate above the cosine threshold.  Pass ``planes`` for an
    externally reproducible bucket assignment and ``method='expr'``
    for the SQL-replayable projection twin (oracle parity); the
    default Arrow GEMM bucketing is the production path."""
    bucket_fn = random_hyperplane_buckets_arrow if method == "arrow" else random_hyperplane_buckets
    # persist: the bucketed table feeds both self-join sides —
    # un-cached, each replays the corpus scan plus the
    # num_planes-projection GEMM (3 live scans with the anti-join
    # base, tools/rescan_audit.py), and divergent column pruning
    # defeats AQE exchange reuse.  PER-CALL ACCUMULATION (the
    # _approx_rank_bins contract): LRU-reclaimed; clearCache()
    # reclaims eagerly.
    bucketed = bucket_fn(embeddings, num_planes, None, 42, id_col, vec_col, planes=planes).persist()
    a = bucketed.select("bucket", F.col(id_col).alias("id_a"), F.col(vec_col).cast("array<double>").alias("va"))
    b = bucketed.select("bucket", F.col(id_col).alias("id_b"), F.col(vec_col).cast("array<double>").alias("vb"))
    sim = _dot_expr(F.col("va"), F.col("vb")) / (_norm_expr(F.col("va")) * _norm_expr(F.col("vb")))
    dup_ids = (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", sim.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    if session.single_host(embeddings.sparkSession):
        dup_ids = F.broadcast(dup_ids)
    # the keep-side anti-join deliberately reads the RAW input (the
    # bucketed table carries only (id, vec, bucket) — the output
    # contract is every original column), so the plan is 2 scans:
    # the persisted bucketed materialization + this pruned base
    return embeddings.join(dup_ids, id_col, "left_anti")


def int8_quantize(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Global per-dimension min/max scalar quantization to int8 codes
    in [-127, 127] — the compressed representation used by e.g. FAISS
    ``SQ8`` indexes.

    The per-dimension bounds are a 64-row aggregate collected into one
    array row, PERSISTED (one row — every consumer of the code table
    re-evaluates the quantizer, and without the cache each replay
    re-scans the full corpus just to recompute the bounds: the
    pl_sq_int8 4x, tools/rescan_audit.py) and **broadcast**; code
    assignment is then a narrow map (``transform`` over dimension
    indices).  At 100 TB the only shuffle is the tiny bounds aggregate
    — the vectors themselves never move.  Quantization uses ``floor``
    (identical IEEE semantics across engines) so codes are
    integer-exact and replayable in SQL.  PER-CALL ACCUMULATION (the
    _approx_rank_bins contract): LRU-reclaimed; clearCache() reclaims
    eagerly.
    """
    v = F.col(vec_col).cast("array<double>")
    dims = embeddings.select(F.posexplode(v).alias("dim", "val"))
    mm = dims.groupBy("dim").agg(F.min("val").alias("mn"), F.max("val").alias("mx"))
    bounds = (
        mm.agg(
            F.array_sort(F.collect_list(F.struct("dim", "mn"))).alias("amn"),
            F.array_sort(F.collect_list(F.struct("dim", "mx"))).alias("amx"),
        )
        .select(
            F.transform("amn", lambda s: s["mn"]).alias("__mns"),
            F.transform("amx", lambda s: s["mx"]).alias("__mxs"),
        )
        .persist()
    )
    mns, mxs = F.col("__mns"), F.col("__mxs")
    code = F.transform(
        F.sequence(F.lit(0), F.size(v) - 1),
        lambda i: F.when(
            F.element_at(mxs, i + 1) == F.element_at(mns, i + 1), F.lit(0).cast("long")
        ).otherwise(
            F.floor(
                (F.element_at(v, i + 1) - F.element_at(mns, i + 1))
                / (F.element_at(mxs, i + 1) - F.element_at(mns, i + 1))
                * 254
            )
            - 127
        ),
    )
    return embeddings.crossJoin(F.broadcast(bounds)).select(
        F.col(id_col), code.alias("code")
    )


def sq_int8_topk(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k by int8 asymmetric-distance (dot product in code space)
    against the row with ``id_col == query_id``.  Scores are exact
    integers, so ordering and oracle comparison are bit-stable.  The
    query's code row is broadcast; scoring is a narrow map and top-k is
    a ``TakeOrdered`` (no full sort shuffle)."""
    codes = int8_quantize(embeddings, id_col, vec_col)
    qcode = codes.filter(F.col(id_col) == query_id).select(
        F.col("code").alias("__qcode")
    )
    scored = codes.filter(F.col(id_col) != query_id).crossJoin(F.broadcast(qcode))
    qscore = F.aggregate(
        F.zip_with(F.col("code"), F.col("__qcode"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        scored.select(F.col(id_col), qscore.alias("qscore"))
        .orderBy(F.desc("qscore"), F.col(id_col))
        .limit(k)
    )


def pq_adc_topk(
    embeddings: DataFrame,
    query_id: int = 0,
    m: int = 4,
    ksub: int = 16,
    k: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization ANN with asymmetric-distance (ADC) scoring,
    composed over the int8 scalar-quantized codes so every distance is
    an exact integer (bit-stable across engines).

    The codebook of each of the ``m`` subspaces is the *data-derived
    fixed* sub-codes of rows ``1..ksub`` (same convention as the IVF
    exemplar quantizer — the k-means-trained variant lives in the recall
    pytest).  The codebook and the query's ADC lookup table are tiny and
    enter the plan as **literal arrays** (the broadcast-codebook shape
    real PQ uses), so encode + ADC are narrow maps over the code column
    and top-k is a ``TakeOrdered`` — the vectors shuffle nowhere.

    Ties in centroid assignment break to the smallest centroid index via
    the integer key ``d2 * 32 + k`` (valid while ``ksub <= 32``).
    """
    if ksub > 32:
        raise ValueError("ksub must be <= 32 for the d2*32+k tie-break key")
    codes = int8_quantize(embeddings, id_col, vec_col)
    # one tiny job fetches codebook + query codes together (the codes
    # subtree otherwise re-plans per collect)
    head = {
        r[id_col]: r
        for r in codes.filter(
            F.col(id_col).between(1, ksub) | (F.col(id_col) == query_id)
        ).collect()
    }
    cb_rows = [head[i] for i in range(1, ksub + 1) if i in head]
    qrow = head.get(query_id)
    if len(cb_rows) != ksub or qrow is None:
        raise ValueError("codebook rows 1..ksub or query row missing")
    d = len(qrow["code"])
    dsub = d // m
    # relational assignment: sub-codes explode to (id, j, subcode) and
    # broadcast-join the 64-row codebook — each joined pair evaluates
    # ONE short zip_with (JVM codegen-friendly) instead of a giant
    # ksub*m-wide nested literal expression that falls back to
    # interpreted eval (measured ~2.6 ms/row); map-side partial min
    # keeps the (id, j) argmin shuffle tiny
    spark = embeddings.sparkSession
    cb_data = []
    qd_data = []
    for j in range(m):
        q_j = list(qrow["code"])[j * dsub : (j + 1) * dsub]
        for kk, r in enumerate(cb_rows):
            c = list(r["code"])[j * dsub : (j + 1) * dsub]
            cb_data.append((j, kk, [int(x) for x in c]))
            qd_data.append((j, kk, int(sum((int(a) - int(b)) ** 2 for a, b in zip(q_j, c)))))
    cb_df = spark.createDataFrame(cb_data, ["j", "k", "c"])
    qd_df = spark.createDataFrame(qd_data, ["j", "k", "qd2"])
    subcodes = codes.filter(F.col(id_col) > ksub).select(
        F.col(id_col),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(j).alias("j"),
                    F.slice(F.col("code"), j * dsub + 1, dsub).alias("sc"),
                )
                for j in range(m)
            ])
        ).alias("__s"),
    ).select(id_col, F.col("__s.j").alias("j"), F.col("__s.sc").alias("sc"))
    d2 = F.aggregate(
        F.zip_with(F.col("sc"), F.col("c"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    assigned = (
        subcodes.join(F.broadcast(cb_df), "j")
        .select(id_col, "j", (d2 * 32 + F.col("k")).alias("__key"))
        .groupBy(id_col, "j")
        .agg(F.min("__key").alias("__key"))
        .withColumn("k", (F.col("__key") % 32).cast("long"))
    )
    return (
        assigned.join(F.broadcast(qd_df), ["j", "k"])
        .groupBy(id_col)
        .agg(F.sum("qd2").alias("adc"))
        .orderBy(F.asc("adc"), F.col(id_col))
        .limit(k)
    )


def ann_recall(
    approx_topk: DataFrame,
    exact_topk: DataFrame,
    id_col: str = "vec_id",
) -> DataFrame:
    """Recall@k of an approximate top-k result against the exact one:
    |approx ∩ exact| / |exact| — the standard ANN quality metric, as a
    broadcast semi-join + two scalar counts (evaluation sets are top-k
    sized, so this is driver-light at any corpus scale).

    Both inputs are PERSISTED (k rows each): the exact side feeds the
    semi-join AND the denominator count, and each un-cached replay
    re-ran its full scoring scan (the pl_ann_recall 6x,
    tools/rescan_audit.py).  PER-CALL ACCUMULATION (the
    _approx_rank_bins contract): LRU-reclaimed; clearCache() reclaims
    eagerly."""
    approx_topk = approx_topk.persist()
    exact_topk = exact_topk.persist()
    inter = approx_topk.select(id_col).join(
        F.broadcast(exact_topk.select(id_col)), id_col, "left_semi"
    )
    hits = inter.agg(F.count(F.lit(1)).alias("n_hit"))
    total = exact_topk.agg(F.count(F.lit(1)).alias("n_exact"))
    return hits.crossJoin(F.broadcast(total)).select(
        F.col("n_hit"),
        F.col("n_exact"),
        (F.col("n_hit") / F.col("n_exact")).alias("recall"),
    )


def random_hyperplane_buckets_arrow(
    embeddings: DataFrame,
    num_planes: int = 8,
    dim: int | None = None,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes=None,
) -> DataFrame:
    """Arrow fast path of :func:`random_hyperplane_buckets`: one numpy
    matmul per batch ((batch, d) @ (d, planes) -> sign bits), a narrow
    map with no shuffle.  The expression path evaluates ~``planes*d``
    interpreted lambda ops per row (~2 ms/row measured at d=64, p=8) —
    fine for oracled queries, not for a billion-vector corpus; this is
    the production default.  Sign decisions match the expression path
    unless a projection lands within float round-off of zero (the
    expression folds left-to-right, the GEMM pairwise)."""
    import pandas as pd
    from pyspark.sql import types as T

    if planes is not None:
        planes = np.asarray(planes, dtype=float)
        num_planes = len(planes)
    else:
        if dim is None:
            first = embeddings.select(F.size(vec_col).alias("d")).first()
            dim = int(first["d"])
        rng = np.random.default_rng(seed)
        planes = rng.standard_normal((num_planes, dim))
    pt = planes.T.copy()
    weights = (1 << np.arange(num_planes)).astype(np.int64)
    schema = T.StructType(
        [f for f in embeddings.schema.fields if f.name in (id_col, vec_col)]
        + [T.StructField("bucket", T.IntegerType())]
    )

    def gen(iterator):
        for pdf in iterator:
            v = np.array([np.asarray(x, dtype=float) for x in pdf[vec_col]])
            if len(v):
                bits = (v @ pt) > 0
                bucket = (bits @ weights).astype("int32")
            else:
                bucket = np.array([], dtype="int32")
            yield pd.DataFrame(
                {id_col: pdf[id_col], vec_col: pdf[vec_col], "bucket": bucket}
            )

    return embeddings.select(id_col, vec_col).mapInPandas(gen, schema)


def centroid_cosine(
    embeddings: DataFrame,
    q: int = 100,
    group_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Pairwise cosine similarity between GROUP CENTROIDS — the
    source/cluster drift report ("are src0's and src1's embedding
    centroids pointing the same way?"), the group-level companion of
    the per-vector kNN family.

    Exactness hinge: the cosine of two MEAN vectors equals the cosine
    of the two SUM vectors (the 1/n factors cancel in both the dot
    product and the norms), so no division happens until the very end.
    Components quantize to the module's fixed-point grid
    (``floor(x*q + 0.5)`` int64 — deterministic across engines),
    per-(group, dim) sums are exact int64, the pairwise dot and the
    squared norms accumulate in DECIMAL(38,0) (sum-vector products
    clear int64 at corpus scale), and only the final
    ``dot / (sqrt(|a|^2) * sqrt(|b|^2))`` is floating point — two
    sqrts and two ops, 6 dp.

    Plan: one map-side explode + one (group, dim)-keyed aggregation —
    the only corpus-sized work; everything after runs on the
    groups x dim sum table (model-sized, broadcast-hinted self-join on
    ``pos``), output ``groups^2 / 2`` rows.

    Output: ``(label_a, label_b, dot_num, cos)`` for ``a < b`` pairs,
    with ``dot_num`` the exact int64 sum-vector dot product.

    ``dot_num`` int64 fit bound (the modularity-``q_den`` convention):
    the sum-vector dot is at most ``dims * (n_g * q * max|x|)^2``, so
    with unit-normalized components (|x| <= 1) it fits int64 while
    ``n_g * q * sqrt(dims) < 3e9`` — e.g. q=100, dims=64 → ~3.8M rows
    per group.  Past that, Spark's non-ANSI DECIMAL→BIGINT cast would
    NULL silently while DuckDB's HUGEINT→BIGINT errors — a cross-
    engine divergence — so callers at that scale should read ``cos``
    (computed from the uncast DECIMAL) and ignore ``dot_num``, or
    lower ``q``.
    """
    dec = "decimal(38,0)"
    longv = embeddings.select(
        F.col(group_col).alias("__g"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "x"),
    ).select(
        "__g",
        "pos",
        F.floor(F.col("x") * int(q) + F.lit(0.5)).cast("long").alias("v"),
    )
    sums = (
        longv.groupBy("__g", "pos")
        .agg(F.sum("v").cast("long").alias("s"))
        .persist()
    )
    norms = sums.groupBy("__g").agg(
        F.sum(F.col("s").cast(dec) * F.col("s").cast(dec)).alias("__n2")
    )
    a = sums.select(F.col("__g").alias("label_a"), "pos", F.col("s").alias("__sa"))
    b = sums.select(F.col("__g").alias("label_b"), "pos", F.col("s").alias("__sb"))
    dots = (
        a.join(F.broadcast(b), "pos")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            F.sum(F.col("__sa").cast(dec) * F.col("__sb").cast(dec)).alias("__dot")
        )
    )
    na = norms.select(F.col("__g").alias("label_a"), F.col("__n2").alias("__na2"))
    nb = norms.select(F.col("__g").alias("label_b"), F.col("__n2").alias("__nb2"))
    return (
        dots.join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .select(
            "label_a",
            "label_b",
            F.col("__dot").cast("long").alias("dot_num"),
            F.when(
                (F.col("__na2") > 0) & (F.col("__nb2") > 0),
                F.round(
                    F.col("__dot").cast("double")
                    / (
                        F.sqrt(F.col("__na2").cast("double"))
                        * F.sqrt(F.col("__nb2").cast("double"))
                    ),
                    6,
                ),
            ).alias("cos"),
        )
    )
