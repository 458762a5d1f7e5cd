"""Scaling smoke: drive the heavy operators at 1x/4x/8x the sf0.1 row
count (self-union with key offsets — same value distributions, more
rows) and report wall time per scale.  The check: time grows ~linearly
for the operators whose work is data-proportional (cell-cover zonal agg,
polygon query, rasterize, dedup), which is the property that carries to
a 1000-executor cluster where per-executor row counts stay constant.

    python tools/scale_smoke.py [max_mult] [case ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from spatialdata_spark import session  # noqa: E402
from spatialdata_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def replicate(df: DataFrame, mult: int, id_cols: list[str]) -> DataFrame:
    """Union `mult` shifted copies: id columns offset per copy so joins
    and groupings see distinct keys, coordinates untouched so spatial
    density (points per cell) is what actually scales."""
    out = None
    for i in range(mult):
        c = df
        for col in id_cols:
            c = c.withColumn(col, F.col(col) + F.lit(i * 100_000_000))
        out = c if out is None else out.unionByName(c)
    return out


def main(max_mult: int = 8, only: list[str] | None = None) -> None:
    spark = get_spark("scale-smoke")
    spark.sparkContext.setLogLevel("ERROR")

    from spatialdata_spark.operators.aggregate import aggregate_points_by_circles
    from spatialdata_spark.operators.spatial_query import polygon_query_points
    from spatialdata_spark.operators.temporal import asof_join, interval_join
    from spatialdata_spark.pipeline.dedup import (
        duplicate_spans,
        exact_dedup,
        levenshtein_neardup,
        remove_duplicate_spans,
    )
    from spatialdata_spark.pipeline.filters import (
        bloom_decontaminate,
        chunk_with_overlap,
        ngram_novelty,
        quota_cap,
    )
    from spatialdata_spark.operators.temporal import rolling_active_users
    from spatialdata_spark.pipeline.clustering import gram_matrix
    from spatialdata_spark.pipeline.textstats import chao1_richness, cliffs_delta, cramer_von_mises_2sample, curation_funnel, herfindahl_index, kendall_tau, length_quantiles_exact, mad_lengths, mutual_information, simpson_diversity, spearman_corr, theil_index, trimmed_mean_lengths, vocab_overlap_exact, yule_k, topk_mass
    from spatialdata_spark.operators.rasterize import rasterize_points

    from spatialdata_spark.pipeline.clustering import (
        embed_outliers,
        kmeans_lloyd,
        pca_project,
        semantic_dedup_kmeans,
    )
    from spatialdata_spark.operators.temporal import scd2_intervals
    from spatialdata_spark.pipeline.classify import (
        calibration_bins,
        cohens_kappa,
        confusion_stats,
        nb_score,
        nb_train,
        target_encode_kfold,
    )
    from spatialdata_spark.pipeline.classify import (
        brier_decomposition,
        lift_table,
        poisson_bootstrap_ci,
    )
    from spatialdata_spark.pipeline.dedup import rouge_recall_pairs
    from spatialdata_spark.pipeline.graph import (
        graph_stats,
        hits,
        hop_distances,
        kcore_rounds,
        label_propagation,
        link_prediction,
        modularity,
        pagerank,
        pagerank_weighted,
        random_walks,
        triangle_count,
        undirected_edges,
    )
    from spatialdata_spark.dataloader import ImageTilesDataset
    from spatialdata_spark.operators.raster import RasterMeta, long_to_tiles
    from spatialdata_spark.pipeline.dedup import simhash_near_duplicates
    from spatialdata_spark.pipeline.multimodal import image_dhash
    from spatialdata_spark.pipeline.search import (
        multi_phrase_search,
        ndcg_at_k,
        phrase_search,
    )
    from spatialdata_spark.operators.temporal import cramers_v_drift, psi_drift
    from spatialdata_spark.pipeline.classify import (
        expected_calibration_error,
        krippendorff_alpha,
        mcc_stats,
        pr_curve,
    )
    from spatialdata_spark.pipeline.dedup import (
        connected_components,
        duplication_profile,
    )
    from spatialdata_spark.pipeline.similarity import centroid_cosine
    from spatialdata_spark.operators.temporal import acf_daily, cusum_drift, event_transitions, ewma_daily, mann_kendall_daily, runs_test_daily, weekday_profile
    from spatialdata_spark.pipeline.similarity import embedding_cosine_dedup
    from spatialdata_spark.pipeline.textstats import (
        benford_deviation,
        bm25_scores,
        chi2_tokens,
        distinct_ngrams,
        idf_keywords,
        hdr_quantiles,
        kneser_ney_score,
        ks_2sample,
        ks_matrix,
        log_odds_tokens,
        mann_whitney_u,
        stupid_backoff_score,
        token_gini,
        zipf_slope,
    )

    _nb_cache = {}

    def _nb_model(spark_):
        if "m" not in _nb_cache:
            labeled = docs0.select(
                "doc_id", (F.col("doc_id") % 2).alias("label"), "text"
            )
            m, t = nb_train(labeled)
            _nb_cache["m"] = (m.persist(), t.persist())
            _nb_cache["m"][0].count()
        return _nb_cache["m"]

    def _pr_edges(spark_, m):
        li = spark_.read.parquet(f"{SF_DIR}/lineitem.parquet")
        fwd = (
            replicate(li.select("l_partkey", "l_suppkey"), m, ["l_partkey", "l_suppkey"])
            .select(
                F.col("l_partkey").cast("long").alias("src"),
                (F.col("l_suppkey").cast("long") + F.lit(10**12)).alias("dst"),
            )
            .distinct()
        )
        return fwd.union(
            fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )

    def _copurchase(m):
        # offset BOTH keys per copy -> m disjoint graph copies: triangle
        # work must scale linearly, not with the m^1.5 worst case
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        r = replicate(
            li.select("l_orderkey", "l_partkey"), m, ["l_orderkey", "l_partkey"]
        )
        op = r.select(
            F.col("l_orderkey").alias("o"), F.col("l_partkey").cast("long").alias("p")
        ).distinct()
        a, b = op.alias("a"), op.alias("b")
        return a.join(
            b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p"))
        ).select(F.col("a.p").alias("src"), F.col("b.p").alias("dst"))

    def _copurchase_w(m):
        # weighted double cover of the replicated co-purchase graph
        # (shared-order count as edge weight), same key offsets as
        # _copurchase so the m copies stay disjoint islands
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        r = replicate(
            li.select("l_orderkey", "l_partkey"), m, ["l_orderkey", "l_partkey"]
        )
        op = r.select(
            F.col("l_orderkey").alias("o"), F.col("l_partkey").cast("long").alias("p")
        ).distinct()
        a, b = op.alias("a"), op.alias("b")
        und = (
            a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
            .groupBy(F.col("a.p").alias("src"), F.col("b.p").alias("dst"))
            .agg(F.count(F.lit(1)).cast("long").alias("weight"))
        )
        return und.union(
            und.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "weight")
        )

    def _assoc_m(m):
        # replicated baskets (disjoint key spaces per copy): pair and
        # item tables grow x mult, fan-out per order constant
        import tempfile

        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        r = replicate(
            li.select(
                "l_orderkey", "l_linenumber", "l_partkey", "l_quantity",
                "l_extendedprice", "l_returnflag", "l_linestatus", "l_shipdate",
            ),
            m,
            ["l_orderkey", "l_partkey"],
        )
        base = tempfile.mkdtemp(prefix="smoke_assoc_")
        r.write.mode("overwrite").parquet(f"{base}/lineitem.parquet")
        return entrymod.q_assoc_rules(spark, base).count()

    def _revgrowth_m(m):
        # fact tables replicated on orderkey (custkey untouched): the
        # nation x month OUTPUT GRID stays fixed while revenue mass
        # scales x m — the grid-shape contract (the only corpus-sized
        # work is the fact join + one keyed aggregation; the lag window
        # runs on the saturated metadata-sized grid)
        import shutil
        import tempfile

        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
        rl = replicate(
            li.select("l_orderkey", "l_extendedprice", "l_discount"),
            m,
            ["l_orderkey"],
        )
        ro = replicate(
            orders.select("o_orderkey", "o_custkey", "o_orderdate"),
            m,
            ["o_orderkey"],
        )
        base = tempfile.mkdtemp(prefix="smoke_revgrowth_")
        rl.write.mode("overwrite").parquet(f"{base}/lineitem.parquet")
        ro.write.mode("overwrite").parquet(f"{base}/orders.parquet")
        for t in ("customer", "nation"):
            shutil.copy(f"{SF_DIR}/{t}.parquet", f"{base}/{t}.parquet")
        return entrymod.q_revenue_growth(spark, base).count()

    def _promo_m(m):
        # lineitem replicated on orderkey, part copied: the month
        # OUTPUT GRID stays fixed while revenue mass scales x m (the
        # revenue_growth grid-shape contract)
        import shutil
        import tempfile

        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        rl = replicate(
            li.select("l_orderkey", "l_partkey", "l_shipdate", "l_extendedprice", "l_discount"),
            m,
            ["l_orderkey"],
        )
        base = tempfile.mkdtemp(prefix="smoke_promo_")
        rl.write.mode("overwrite").parquet(f"{base}/lineitem.parquet")
        shutil.copy(f"{SF_DIR}/part.parquet", f"{base}/part.parquet")
        return entrymod.q_promo_share(spark, base).count()

    def _osh_m(m):
        # lineitem replicated on l_orderkey: m x orders at identical
        # per-order line counts, so the histogram VALUES are stable
        # while the order mass scales x m
        import tempfile

        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        rl = replicate(li.select("l_orderkey"), m, ["l_orderkey"])
        base = tempfile.mkdtemp(prefix="smoke_osh_")
        rl.write.mode("overwrite").parquet(f"{base}/lineitem.parquet")
        return entrymod.q_order_size_hist(spark, base).count()

    def _orderprio_m(m):
        # both fact tables replicated on orderkey so semi-join
        # matches stay per-copy-consistent; the year x priority
        # OUTPUT GRID stays fixed while order mass scales x m
        import tempfile

        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
        rl = replicate(
            li.select("l_orderkey", "l_returnflag"), m, ["l_orderkey"]
        )
        ro = replicate(
            orders.select("o_orderkey", "o_orderdate", "o_orderpriority"),
            m,
            ["o_orderkey"],
        )
        base = tempfile.mkdtemp(prefix="smoke_orderprio_")
        rl.write.mode("overwrite").parquet(f"{base}/lineitem.parquet")
        ro.write.mode("overwrite").parquet(f"{base}/orders.parquet")
        return entrymod.q_order_priority(spark, base).count()

    def _idle_m(m):
        # customers and orders replicated with matching custkey
        # offsets: the anti-join and the balance gate stay per-copy
        # consistent (the positive-balance average is unchanged under
        # replication), the segment grid saturates
        import tempfile

        cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")
        orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
        rc = replicate(cust, m, ["c_custkey"])
        ro = replicate(
            orders.select("o_orderkey", "o_custkey"), m, ["o_orderkey", "o_custkey"]
        )
        base = tempfile.mkdtemp(prefix="smoke_idle_")
        rc.write.mode("overwrite").parquet(f"{base}/customer.parquet")
        ro.write.mode("overwrite").parquet(f"{base}/orders.parquet")
        return entrymod.q_idle_customers(spark, base).count()

    def _rfm_m(m):
        # customers replicated on custkey (orders on orderkey too so
        # counts stay per-copy-constant): the ntile sorts grow x m —
        # the documented exact-ntile cost — while the segment grid
        # stays <= 125 rows
        import tempfile

        orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
        ro = replicate(
            orders.select(
                "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                "o_orderdate", "o_orderpriority",
            ),
            m,
            ["o_orderkey", "o_custkey"],
        )
        base = tempfile.mkdtemp(prefix="smoke_rfm_")
        ro.write.mode("overwrite").parquet(f"{base}/orders.parquet")
        return entrymod.q_rfm_segments(spark, base).count()

    def _copurchase_strong(m):
        # parts sharing >= 2 orders, per-copy disjoint key spaces: the
        # thresholded multi-component graph pl_wcc runs on
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        r = replicate(
            li.select("l_orderkey", "l_partkey"), m, ["l_orderkey", "l_partkey"]
        )
        op = r.select(
            F.col("l_orderkey").alias("o"), F.col("l_partkey").cast("long").alias("p")
        ).distinct()
        a, b = op.alias("a"), op.alias("b")
        return (
            a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
            .groupBy(F.col("a.p").alias("id_a"), F.col("b.p").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("__c"))
            .filter(F.col("__c") >= 2)
            .select("id_a", "id_b")
        )

    def _bipartite(m):
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        r = replicate(
            li.select("l_partkey", "l_suppkey"), m, ["l_partkey", "l_suppkey"]
        )
        return r.select(
            F.col("l_partkey").cast("long").alias("src"),
            (F.col("l_suppkey").cast("long") + F.lit(10**12)).alias("dst"),
        ).distinct()

    def _brand_labels(m):
        part = spark.read.parquet(f"{SF_DIR}/part.parquet")
        return replicate(
            part.select(
                F.col("p_partkey").cast("long").alias("node"),
                F.col("p_brand").alias("label"),
            ),
            m,
            ["node"],
        )

    def _dataset_tiles_sum(m):
        # regions x mult over a FIXED 256x256 scene (the training-sweep
        # shape: more windows, same image): the tile join and crop
        # assembly grow with regions, the packed tile table doesn't
        import numpy as np
        import pandas as pd

        img = (
            spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
            .groupBy(
                (F.col("l_orderkey") % 256).alias("y"),
                ((F.col("l_orderkey") * 7 + F.col("l_linenumber")) % 256).alias("x"),
            )
            .agg(F.sum(F.col("l_quantity") * 100).cast("long").alias("value"))
        )
        meta = RasterMeta(height=256, width=256, tile=32, dtype="i8")
        tiles = long_to_tiles(img, meta)
        regions = replicate(
            spark.read.parquet(f"{SF_DIR}/part.parquet")
            .filter(F.col("p_partkey") <= 500)
            .select(
                F.col("p_partkey").cast("long").alias("region_id"),
                ((F.col("p_partkey") * 37) % 224 + 16).cast("double").alias("cy"),
                ((F.col("p_partkey") * 59) % 224 + 16).cast("double").alias("cx"),
            ),
            m,
            ["region_id"],
        )
        ds = ImageTilesDataset(tiles, meta, regions, tile_px=32)

        @F.pandas_udf("long")
        def _crop_sum(data):
            return pd.Series(
                [int(np.frombuffer(bytes(b), dtype="<i8").sum()) for b in data]
            )

        return (
            ds.dataframe()
            .select(_crop_sum("data").alias("s"))
            .agg(F.sum("s"))
            .collect()
        )

    def _media_variants(m):
        # doc ids offset by 1e8 per copy (8-divisible, so group roles
        # are preserved): every copy is a fresh disjoint family of
        # planted exact dups + one sub-threshold Hamming variant
        docs_m = replicate(docs0.select("doc_id"), m, ["doc_id"])
        return entrymod._png_media_variants(spark, SF_DIR, docs=docs_m)

    def _copart(fn):
        # force the cluster (co-partitioned frontier) path for one case
        single_host = session.single_host
        session.single_host = lambda s: False
        try:
            return fn()
        finally:
            session.single_host = single_host

    def _heaps_curve_of(d):
        # mirrors pl_heaps_curve over a replicated docs frame (the
        # registry callable reads a fixed sf_dir and cannot replicate)
        from pyspark.sql.window import Window

        toks = (
            d.select(
                "doc_id",
                F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok"),
            )
            .filter(F.col("tok") != "")
        )
        tf = toks.groupBy("doc_id", "tok").agg(
            F.count(F.lit(1)).cast("long").alias("__c")
        ).persist()
        first = tf.groupBy("tok").agg(F.min("doc_id").alias("__fd"))
        new_per_doc = first.groupBy(F.col("__fd").alias("doc_id")).agg(
            F.count(F.lit(1)).cast("long").alias("__new")
        )
        tok_per_doc = tf.groupBy("doc_id").agg(
            F.sum("__c").cast("long").alias("__ntok")
        )
        base = (
            d.select("doc_id")
            .join(new_per_doc, "doc_id", "left")
            .join(tok_per_doc, "doc_id", "left")
            .withColumn("decile", F.ntile(10).over(Window.orderBy("doc_id")).cast("long"))
        )
        return base.groupBy("decile").agg(
            F.sum(F.coalesce("__new", F.lit(0))).cast("long").alias("n_new_types"),
        )

    def _rouge_pairs_of(d):
        from pyspark.sql.window import Window

        w = Window.partitionBy("source").orderBy("doc_id")
        return (
            d.select("source", "doc_id")
            .withColumn("id_b", F.lead("doc_id").over(w))
            .filter(F.col("id_b").isNotNull())
            .select(F.col("doc_id").alias("id_a"), "id_b")
        )

    pts0 = entrymod._points(spark, SF_DIR)
    circles0 = entrymod._circles(spark, SF_DIR)
    docs0 = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    ev0 = entrymod._events(spark, SF_DIR)
    emb0 = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")

    results: dict[str, dict[str, float]] = {}
    for mult in [1, 4, max_mult]:
        pts = replicate(pts0, mult, ["l_orderkey"])
        docs = replicate(docs0, mult, ["doc_id"])
        # user_id offset per copy: key cardinality grows with the data,
        # rows-per-key constant — the 1000-executor shape.  doc_id-only
        # replication (quota_cap) grows the (source, lang) CELLS x mult
        # instead: the adversarial shape for the window stage.
        ev = replicate(ev0, mult, ["event_id", "user_id"])
        # vec_id offset per copy: the corpus grows, k stays fixed —
        # cluster sizes grow x mult, the adversarial shape for the
        # within-cluster pair stage (production contract: k scales
        # with the corpus so clusters stay task-sized)
        emb = replicate(emb0, mult, ["vec_id"])
        views = (
            ev.filter(F.col("event_type") == "view")
            .groupBy("user_id", "ts")
            .agg(F.max("event_id").alias("view_id"))
        )
        purchases = ev.filter(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "ts"
        )
        clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")

        cases = {
            # circles fixed, point density x mult: boundary work ∝ points
            "zonal_circles": lambda: aggregate_points_by_circles(pts, circles0).count(),
            "polygon_query": lambda: polygon_query_points(pts, entrymod._TRI).count(),
            "rasterize": lambda: rasterize_points(pts, 0.0, 0.0, 5.0).count(),
            "exact_dedup": lambda: exact_dedup(docs).count(),
            "asof_join": lambda: asof_join(
                purchases, views, keys=["user_id"], ts_col="ts", right_payload=["view_id"]
            ).count(),
            "interval_join": lambda: interval_join(
                clicks, purchases, keys=["user_id"], ts_col="ts", width_seconds=3600
            ).count(),
            "chunk_overlap": lambda: chunk_with_overlap(
                docs, chunk_tokens=128, stride=96
            ).count(),
            "quota_cap": lambda: quota_cap(
                docs, quotas={"en": 50}, default_quota=20
            ).count(),
            "lev_neardup": lambda: levenshtein_neardup(docs, max_distance=5).count(),
            "triangles": lambda: triangle_count(_copurchase(mult))
            .agg(F.sum("n_triangles"))
            .collect(),
            "graph_stats": lambda: graph_stats(_copurchase(mult)).collect(),
            # the degree cap IS the scale knob (wedge work <= n*C(cap,2),
            # linear in disjoint copies); uncapped, the sf0.1 co-purchase
            # graph's ~105 avg degree makes the candidate table
            # wedge-quadratic — the exact blow-up the cap exists to stop
            "link_pred": lambda: link_prediction(
                _copurchase(mult), max_degree=32, top_n=100
            ).count(),
            "random_walks": lambda: random_walks(
                _copurchase(mult), walk_len=4, walks_per_node=1
            ).count(),
            "kcore": lambda: kcore_rounds(
                _copurchase(mult), k_core=60, rounds=3
            ).count(),
            "hop_dist": lambda: hop_distances(
                _copurchase(mult), seeds=[1, 2, 3, 4, 5], max_hops=2
            ).count(),
            # the one global ntile sort — the documented calibration cost
            "calibration": lambda: calibration_bins(
                docs.select(
                    "doc_id",
                    F.col("n_chars").alias("llr_mean"),
                    (F.col("lang") == "en").cast("int").alias("label"),
                )
            )
            .agg(F.sum("n_pos"))
            .collect(),
            "target_encode": lambda: target_encode_kfold(
                ev.select(
                    "event_id",
                    "event_type",
                    (F.col("value") > 100).cast("int").alias("label"),
                ),
                "event_type",
                "label",
                id_col="event_id",
            ).count(),
            "confusion": lambda: confusion_stats(
                docs.select(
                    "lang", (F.col("n_chars") % 7).cast("string").alias("pred")
                ),
                label_col="lang",
                pred_col="pred",
            ).count(),
            # one Lloyd round + final assign: work ∝ n*k per iteration
            "kmeans": lambda: kmeans_lloyd(emb, k=8, n_iter=1)[0]
            .agg(F.sum("dist"))
            .collect(),
            # self-union plants exact duplicates across copies: the
            # dup set is maximal, every pair test fires.  k grows with
            # the corpus (the SemDeDup contract — clusters stay
            # task-sized); a fixed-k run is the documented quadratic
            # worst case, not the operating point
            "semantic_dedup": lambda m=mult: semantic_dedup_kmeans(
                emb, k=8 * m, n_iter=1, threshold=0.35
            ).count(),
            # self-union makes EVERY gram duplicated (all positions
            # survive the >1 filter): the worst-case marked-position
            # volume, still linear in corpus characters
            "dup_spans": lambda: duplicate_spans(docs, gram_chars=25).count(),
            # self-union: every non-canonical copy is cut end-to-end.
            # NOT .count(): the optimizer would eliminate the unique-key
            # left join and skip the whole pipeline — aggregate the cut
            # sizes so the rebuild actually runs
            "span_cut": lambda: remove_duplicate_spans(docs, gram_chars=25)
            .agg(F.sum("n_cut_chars"))
            .collect(),
            # benchmark side FIXED (the r1 docs slice), corpus x mult:
            # the bloom bit table stays broadcast-sized while the
            # probing gram stream grows linearly
            "bloom_decon": lambda: bloom_decontaminate(
                docs.filter(F.col("source") != "src0"),
                docs0.filter(F.col("source") == "src0"),
                n=3,
            )
            .agg(F.sum("n_maybe"))
            .collect(),
            # user-days x mult (distinct users grow, activity span
            # constant): contribution explode is 35 rows per user-day,
            # strictly linear
            "wau_mau": lambda: rolling_active_users(ev, windows=(7, 28))
            .agg(F.sum("n_active"))
            .collect(),
            # corpus x mult, dim fixed: per-task GEMM partials are
            # dim^2-sized regardless of rows — linear scan, flat shuffle
            "gram_matrix": lambda: gram_matrix(emb)
            .agg(F.sum("gram"))
            .collect(),
            # gram table x mult (self-union: every gram's first owner
            # is in copy 0, join-back fan-out maximal)
            "ngram_novelty": lambda: ngram_novelty(docs, n=3)
            .agg(F.sum("n_novel"))
            .collect(),
            # the one-plan composite: gate (scan-fused) + digest agg +
            # LM stage + tercile threshold; self-union maximizes the
            # dedup drop (every copy is a duplicate of copy 0)
            "curation_funnel": lambda: curation_funnel(docs)
            .agg(F.sum("n_kept"))
            .collect(),
            # edges x mult with disjoint key spaces per copy (the graph
            # grows as mult islands): rank table grows with nodes, the
            # per-iteration join+agg volume with edges — both linear
            "pagerank": lambda m=mult: pagerank(
                _pr_edges(spark, m), k=3
            )
            .agg(F.sum("rank_fp"))
            .collect(),
            # corpus x mult, dim fixed: pass 1 reduces to dim^2-sized
            # statistics (the gram_matrix shape), pass 2 is one GEMM
            # per batch — strictly scan-proportional
            "pca": lambda: pca_project(emb, k=4)[0]
            .agg(F.sum(F.element_at("pc", 1)))
            .collect(),
            # groups x mult (labels offset per copy): the centroid
            # table stays model-sized per group, per-vector work flat
            "embed_outliers": lambda m=mult: embed_outliers(
                replicate(
                    emb0.withColumn("label", F.col("label").cast("long")),
                    m,
                    ["vec_id", "label"],
                )
            )
            .agg(F.sum("d2"))
            .collect(),
            # vocab saturates under self-union (same tokens repeat):
            # the count table stops growing, the rank window is
            # top_r-bounded per group — sub-linear by design
            "zipf_slope": lambda: zipf_slope(docs)
            .agg(F.sum("slope"))
            .collect(),
            # gram tables saturate under self-union for the same
            # reason (every copy contributes the same grams)
            "distinct_ngrams": lambda: distinct_ngrams(docs)
            .agg(F.sum("distinct_grams"))
            .collect(),
            # consecutive same-source pairs x mult; the (doc, gram)
            # count table and the pair join grow linearly — never
            # all-pairs
            "rouge_pairs": lambda: rouge_recall_pairs(
                docs, _rouge_pairs_of(docs)
            )
            .agg(F.sum("rougen_recall"))
            .collect(),
            # (doc, token) tf table grows x mult but the persisted
            # single materialization replaces the per-consumer corpus
            # replays (r13 rescan fix) — every downstream rollup is
            # tf-linear
            "idf_keywords": lambda: idf_keywords(docs, top_k=3)
            .agg(F.sum("score"))
            .collect(),
            # query-term hit table is term-df-bounded; the corpus is
            # scanned once into the persisted tf (r13 rescan fix)
            "bm25": lambda: bm25_scores(docs, ["the", "data", "of"])
            .agg(F.sum("score"))
            .collect(),
            # vocabulary saturates under self-union; the persisted
            # (doc, token) tf grows x mult, both rollups tf-linear
            "heaps_curve": lambda: _heaps_curve_of(docs)
            .agg(F.sum("n_new_types"))
            .collect(),
            # bucket self-join work is Σ bucket² which grows x mult²
            # WITHIN a bucket only if copies collide — id offsets keep
            # vectors identical so buckets DO collide: the documented
            # worst case for LSH dedup; threshold keeps pairs bounded
            "embed_dedup": lambda: embedding_cosine_dedup(
                emb, threshold=0.95, num_planes=8
            ).count(),
            # postings of the phrase's tokens grow x mult; the corpus
            # text never leaves the scan (pushed token IN-filter)
            "phrase_search": lambda: phrase_search(docs, "the data of")
            .agg(F.sum("n_matches"))
            .collect(),
            # same replicated graph as pagerank: per-round vote table
            # is edge-linear, winner table node-sized
            "label_propagation": lambda m=mult: label_propagation(
                _pr_edges(spark, m), k=3
            )
            .agg(F.sum("label"))
            .collect(),
            # events x mult with user cardinality growing (the
            # 1000-executor shape): one per-key sort, run rollup linear
            "scd2": lambda: scd2_intervals(ev)
            .agg(F.sum("n_events"))
            .collect(),
            # model trained once on the FIXED 1x slice (vocabulary-
            # sized, broadcast); scoring the grown corpus is one
            # explode + broadcast join + per-doc agg — linear
            "nb_score": lambda: nb_score(docs, *_nb_model(spark))
            .agg(F.sum("llr_mean"))
            .collect(),
            # bucket table fixed-size (<= 63 * 2^5 rows) at ANY corpus
            # size: counts partial-combine map-side, the only sort is
            # over the bucket table
            "hdr_quantiles": lambda: hdr_quantiles(
                docs.select(F.col("n_chars").cast("double").alias("x")), "x"
            ).collect(),
            # pattern table broadcast; corpus work ∝ postings of the
            # pattern tokens
            "multi_phrase": lambda: multi_phrase_search(
                docs, ["the data", "a big run", "of the"]
            )
            .agg(F.sum("n_matches"))
            .collect(),
            # vocab saturates under self-union: the (token, label)
            # table stops growing, only the presence explode scales —
            # linear scan, sub-linear shuffle
            "chi2_tokens": lambda: chi2_tokens(docs, top_k=5)
            .agg(F.sum("chi2"))
            .collect(),
            # value grid saturates (lengths repeat across copies): the
            # cumulative window input is fixed-size, the count agg is
            # the only corpus-proportional stage
            "ks_lengths": lambda: ks_2sample(docs)
            .agg(F.sum("ks_stat"))
            .collect(),
            # category-cardinality-sized after one conditional-count
            # aggregation — the flattest possible shape
            "psi_drift": lambda: psi_drift(ev, "2024-01-16")
            .agg(F.sum("psi_part"))
            .collect(),
            # same single-aggregation shape, category x 2 grid after
            "cramers_drift": lambda: cramers_v_drift(
                ev, "2024-01-16"
            ).collect(),
            # count tables saturate under self-union (same bigrams
            # repeat); scoring explode + broadcast joins are linear
            "stupid_backoff": lambda: stupid_backoff_score(
                docs.filter(F.col("doc_id") % 2 == 1),
                train_docs=docs.filter(F.col("doc_id") % 2 == 0),
            )
            .agg(F.sum("sb_score"))
            .collect(),
            # real PNG encode+decode per row (the documented multimodal
            # custom-op tax) + one hash-keyed group: strictly linear
            "image_dhash": lambda m=mult: image_dhash(
                replicate(entrymod._png_media(spark, SF_DIR), m, ["media_id"])
            )
            .filter(F.col("decode_ok"))
            .groupBy("dhash")
            .count()
            .count(),
            # same saturation shape; the four KN statistic tables are
            # all type-/vocabulary-sized
            "kneser_ney": lambda: kneser_ney_score(
                docs.filter(F.col("doc_id") % 2 == 1),
                train_docs=docs.filter(F.col("doc_id") % 2 == 0),
            )
            .agg(F.sum("kn_score"))
            .collect(),
            # --- round-9 additions: the r8 tail + the frontier paths ---
            # seeds fixed, graph x mult disjoint islands: only copy 0
            # holds the seeds, but the weighted split and per-round
            # join/agg volume still scale with edges — linear ceiling
            "ppr_seeds": lambda m=mult: pagerank_weighted(
                _copurchase_w(m), k=2, seeds=[1, 2, 3, 4, 5]
            )
            .agg(F.sum("rank_fp"))
            .collect(),
            # bipartite part->supplier x mult: per-round score joins
            # edge-linear, two driver scalars per round
            "hits": lambda m=mult: hits(_bipartite(m), k=3)
            .agg(F.sum("hub_fp"))
            .collect(),
            # labels node-sized x mult, edge scan once: linear
            "modularity": lambda m=mult: modularity(
                _copurchase(m), _brand_labels(m)
            ).collect(),
            # one global ntile sort (the documented lift/calibration
            # cost) + cumulative window over the bin table
            "lift": lambda: lift_table(
                docs.select(
                    "doc_id",
                    F.col("n_chars").alias("llr_mean"),
                    (F.col("lang") == "en").cast("int").alias("label"),
                ),
                n_bins=10,
            )
            .agg(F.sum("n_pos"))
            .collect(),
            # replicate-explode is bounded by n_boot x rows: linear,
            # the (b, sum, n) table is n_boot-sized before the sort
            "bootstrap_ci": lambda: poisson_bootstrap_ci(
                docs, "n_chars", n_boot=100
            ).collect(),
            # one corpus scan to the distinct-forecast table (101 rows
            # in this framing) — flattest shape
            "brier": lambda: brier_decomposition(
                docs.select(
                    ((F.col("n_chars") % 101) * 10000).cast("long").alias("p_e6"),
                    (F.col("lang") == "en").cast("int").alias("label"),
                )
            ).collect(),
            # class²-sized matrix + marginals — flattest shape
            "kappa": lambda: cohens_kappa(
                docs.select(
                    "lang", (F.col("n_chars") % 7).cast("string").alias("pred")
                ),
                "lang",
                "pred",
            ).collect(),
            # the CLUSTER frontier path on local[32]: the edge table
            # co-partitions once (one build exchange) and every round's
            # join is exchange-free on the edge side; compare with
            # "pagerank" (broadcast path) above — the absolute numbers
            # favor broadcast on one box, the MARGINAL cost per round is
            # what carries to 1000 executors
            "pagerank_copart": lambda m=mult: _copart(
                lambda: pagerank(_pr_edges(spark, m), k=3)
                .agg(F.sum("rank_fp"))
                .collect()
            ),
            # same, but the caller pre-bucketed the edges (the
            # write_bucketed shape): the op skips its up-front exchange
            "pagerank_copart_pre": lambda m=mult: _copart(
                lambda: pagerank(
                    _pr_edges(spark, m).repartition(
                        int(spark.conf.get("spark.sql.shuffle.partitions")),
                        "src",
                    ),
                    k=3,
                    pre_partitioned=True,
                )
                .agg(F.sum("rank_fp"))
                .collect()
            ),
            # --- round-10 additions: the r9 tail + the edge⋈edge
            # co-partition contract ---
            # regions x mult over one fixed scene: the dataloader sweep
            "dataset_tiles": lambda m=mult: _dataset_tiles_sum(m),
            # fresh planted-dup families per copy: the exact-collapse
            # groupBy and the pigeonhole band join both grow with the
            # image corpus, never with group-size^2 (reps collapse
            # first); refine work ∝ genuine candidate pairs
            "image_neardup": lambda m=mult: (
                lambda h: simhash_near_duplicates(
                    h.groupBy("dhash")
                    .agg(F.min("media_id").alias("doc_id"))
                    .select("doc_id", F.col("dhash").alias("simhash")),
                    max_hamming=3,
                ).count()
            )(image_dhash(_media_variants(m)).filter(F.col("decode_ok"))),
            # ranked list fixed (k=20 rows), graded truth x mult: one
            # truth scan + rel-desc top-k, the k-bounded join after
            "ndcg": lambda: ndcg_at_k(
                spark.range(1, 21).select(
                    F.col("id").alias("doc_id"), F.col("id").cast("int").alias("rank")
                ),
                docs.select(
                    "doc_id", (F.col("n_chars") % 4).cast("int").alias("rel")
                ),
                k=20,
            ).collect(),
            # the edge⋈edge co-partition contract: canonical edges
            # pre-partitioned by u, oriented cache co-partitioned by
            # the wedge apex — 1 oriented-table exchange, not 3
            "triangles_copart_pre": lambda m=mult: _copart(
                lambda: triangle_count(
                    undirected_edges(_copurchase(m)).repartition(
                        int(spark.conf.get("spark.sql.shuffle.partitions")), "u"
                    ),
                    "u",
                    "v",
                    pre_partitioned=True,
                )
                .agg(F.sum("n_triangles"))
                .collect()
            ),
            # link_prediction's wedge self-join at zero exchange (both
            # arms read the w-partitioned neighbor cache)
            "link_pred_copart": lambda m=mult: _copart(
                lambda: link_prediction(
                    _copurchase(m), max_degree=32, top_n=100
                ).count()
            ),
            # graph_stats' double cover laid out by u once (cluster
            # path): first degree join moves only the degree table
            "graph_stats_copart": lambda m=mult: _copart(
                lambda: graph_stats(_copurchase(m)).collect()
            ),
            # modularity's first endpoint label join exchange-free off
            # the u-partitioned edge layout (cluster path)
            "modularity_copart": lambda m=mult: _copart(
                lambda: modularity(_copurchase(m), _brand_labels(m)).collect()
            ),
            # --- the round-10 operator tail ---
            # one conditional-count aggregation: the flattest shape
            "mcc": lambda: mcc_stats(
                docs.select(
                    (F.col("lang") == "en").cast("int").alias("label"),
                    (F.col("n_chars") >= 500).cast("int").alias("pred"),
                )
            ).collect(),
            # one global ntile sort over skinny rows (the documented
            # calibration/lift cost), cumulative window over 10 bins
            "pr_curve": lambda: pr_curve(
                docs.select(
                    "doc_id",
                    F.col("n_chars").alias("llr_mean"),
                    (F.col("lang") == "en").cast("int").alias("label"),
                ),
                n_bins=10,
            )
            .agg(F.sum("n_pos_kept"))
            .collect(),
            # bin-keyed count, 10-row rollup — flat
            "ece": lambda: expected_calibration_error(
                docs.select(
                    ((F.col("n_chars") % 101) * 10000).cast("long").alias("p_e6"),
                    (F.col("lang") == "en").cast("int").alias("label"),
                )
            ).collect(),
            # value grid saturates under self-union (same lengths
            # repeat): the rank window input is fixed-size
            "mwu_lengths": lambda: mann_whitney_u(docs).collect(),
            # vocab saturates under self-union: the rank window runs
            # over a fixed-size type table, only the count agg scales
            "token_gini": lambda: token_gini(docs).collect(),
            # day-calendar-sized after one count — flat
            "cusum": lambda: cusum_drift(ev).collect(),
            # same shape: day-keyed count then lag pairs on the tiny
            # calendar table — flat
            "ewma": lambda: ewma_daily(ev).collect(),
            # order-key equi-join pair generation (<= 7 lines/order,
            # constant fan-out) + item-sized broadcast join-backs
            "assoc_rules": lambda m=mult: entrymod.q_assoc_rules(
                spark, SF_DIR
            ).count() if m == 1 else _assoc_m(m),
            # CC over m disjoint strong-copurchase islands: per-round
            # edge work linear, rounds ~ O(log component-diameter)
            "wcc": lambda m=mult: connected_components(
                _copurchase_strong(m), "id_a", "id_b"
            ).count(),
            # vocab saturates; the z computation runs on the type table
            "log_odds": lambda: log_odds_tokens(docs).collect(),
            # one explode + (label, dim)-keyed agg — corpus-linear scan
            # to a model-sized table, label^2/2 output rows
            "centroid_cosine": lambda m=mult: centroid_cosine(
                replicate(
                    emb0.withColumn("label", F.col("label").cast("long")),
                    m,
                    ["vec_id"],
                )
            ).count(),
            # digit-keyed conditional count, 9-row result — flattest
            "benford": lambda: benford_deviation(docs).collect(),
            # value grid + group set both saturate under self-union:
            # the pairwise stage runs on a fixed-size dense table
            "ks_matrix": lambda: ks_matrix(docs).collect(),
            # the case the exact grid CANNOT absorb: a synthetic
            # continuous score distinct per row (offset doc_ids keep it
            # distinct under self-union, so the exact grid would grow
            # linearly) — approx=True bounds the grid at n_bins, so
            # only the two corpus scans (edge sketch + bin count) scale
            "ks_matrix_approx": lambda: ks_matrix(
                docs.withColumn(
                    "score",
                    (F.col("doc_id") * 2654435761 % 1000003) / 1000003.0
                    + F.col("n_chars") / 1e9,
                ),
                value_col="score",
                approx=True,
            ).collect(),
            # three synthetic raters over doc_id x mult units: one
            # (unit, value) count, unit-/category-sized rollups after
            "kripp": lambda m=mult: krippendorff_alpha(
                docs.select(F.col("doc_id").alias("unit"), F.lit("a").alias("rater"),
                            (F.col("lang") == "en").cast("string").alias("value"))
                .unionByName(
                    docs.filter(F.col("doc_id") % 5 != 0).select(
                        F.col("doc_id").alias("unit"), F.lit("b").alias("rater"),
                        (F.col("n_chars") >= 500).cast("string").alias("value"))
                )
            ).collect(),
            # digest-keyed agg + join-back;
            # self-union makes EVERY doc a duplicate — worst-case dup
            # mass, still digest-linear
            "dup_profile": lambda: duplication_profile(docs).collect(),
            # day-keyed count then calendar-sized lag join — flat (the
            # cusum/ewma shape; self-union scales counts, not days)
            "acf": lambda: acf_daily(ev).collect(),
            # value grid + group set saturate under self-union: the
            # densify + pair join run on a fixed-size table
            "cliffs_delta": lambda: cliffs_delta(docs).collect(),
            # group-keyed count + 1-row rollup — the flattest shape
            "hhi": lambda: herfindahl_index(docs).collect(),
            # r12 candidates: same grid/calendar shapes as ks_2sample /
            # cusum — value grid and the 7-day spine saturate
            "cvm": lambda: cramer_von_mises_2sample(docs).collect(),
            "theil": lambda: theil_index(docs).collect(),
            "mutual_info": lambda: mutual_information(docs).collect(),
            "weekday_profile": lambda: weekday_profile(ev).collect(),
            # fact joins scale, the nation x month grid saturates
            "revenue_growth": lambda m=mult: entrymod.q_revenue_growth(
                spark, SF_DIR
            ).count() if m == 1 else _revgrowth_m(m),
            # r13 candidates: the (x, y) cell table and both value
            # grids saturate under self-union (the ks_2sample shape)
            "spearman": lambda: spearman_corr(docs).collect(),
            # token-keyed count + vocabulary-sized rollup (gini shape)
            "chao1": lambda: chao1_richness(docs).collect(),
            # day-keyed count then calendar-sized pair join — flat
            # (the acf shape; self-union scales counts, not days)
            "mann_kendall": lambda: mann_kendall_daily(ev).collect(),
            # r14 candidates: (group, value) grid saturates under
            # self-union — both median windows run on the fixed grid
            "mad_lengths": lambda: mad_lengths(docs).collect(),
            # (group, category) cells saturate; rollups category-sized
            "simpson": lambda: simpson_diversity(docs).collect(),
            # realized cells AND the dense |X|x|Y| grid saturate under
            # self-union (same value domains every copy) — the only
            # corpus-proportional stage is the first keyed count
            "kendall": lambda: kendall_tau(docs).collect(),
            # fact join scales, the month output grid saturates
            "promo_share": lambda m=mult: entrymod.q_promo_share(
                spark, SF_DIR
            ).count() if m == 1 else _promo_m(m),
            # left_semi on the fact table scales; year x priority
            # output grid saturates
            "order_priority": lambda m=mult: entrymod.q_order_priority(
                spark, SF_DIR
            ).count() if m == 1 else _orderprio_m(m),
            # anti-join + decimal gate scale; segment grid saturates
            "idle_customers": lambda m=mult: entrymod.q_idle_customers(
                spark, SF_DIR
            ).count() if m == 1 else _idle_m(m),
            # lead window per (replicated, disjoint) user stream;
            # the |types|^2 transition matrix saturates
            "event_transitions": lambda: event_transitions(
                replicate(ev0, mult, ["event_id", "user_id"])
            ).collect(),
            # value grid saturates; the trim clamp is grid arithmetic
            "trimmed_mean": lambda: trimmed_mean_lengths(docs).collect(),
            # token-keyed count + vocabulary-sized rollup (chao1 shape)
            "yule_k": lambda: yule_k(docs).collect(),
            # per-customer rollup scales; ntiles sort the customer-
            # sized projection; the segment grid is <= 125 rows
            "rfm": lambda m=mult: entrymod.q_rfm_segments(
                spark, SF_DIR
            ).count() if m == 1 else _rfm_m(m),
            # (source, token) distinct + per-token source-list pair
            # explode — vocab and source set both saturate
            "vocab_overlap": lambda: vocab_overlap_exact(docs).collect(),
            # (group, value) count + per-group value-grid window
            "length_quantiles": lambda: length_quantiles_exact(docs).collect(),
            # r15 candidates: one conditional-count aggregation — the
            # mcc/flattest shape (paired-prediction framing inline)
            "mcnemar": lambda: __import__(
                "spatialdata_spark.pipeline.classify", fromlist=["mcnemar_test"]
            ).mcnemar_test(
                docs.select(
                    (F.col("lang") == "en").cast("int").alias("label"),
                    (F.col("n_chars") >= 500).cast("int").alias("pred_a"),
                    (F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+")) >= 100)
                    .cast("int")
                    .alias("pred_b"),
                )
            ).collect(),
            # day-keyed count then calendar-sized median + lag — flat
            # (the cusum shape; self-union scales counts, not days)
            "runs_test": lambda: runs_test_daily(ev).collect(),
            # token-keyed count scales; top-k selection is a bounded
            # TakeOrdered and the k-grid rollup runs on <= 1000 rows
            "topk_mass": lambda: topk_mass(docs).collect(),
            # per-order rollup scales; basket-size histogram saturates
            "order_size_hist": lambda m=mult: entrymod.q_order_size_hist(
                spark, SF_DIR
            ).count() if m == 1 else _osh_m(m),
        }
        if only:
            cases = {k: v for k, v in cases.items() if k in only}
        for name, fn in cases.items():
            best = None
            for _ in range(2):
                t0 = time.perf_counter()
                fn()
                dt = time.perf_counter() - t0
                best = dt if best is None or dt < best else best
            results.setdefault(name, {})[f"{mult}x"] = round(best, 2)
            # drop caches between cases: the iterative ops materialize
            # per-round state, and 30+ case×scale points in one 8 GiB
            # driver otherwise accumulate until a broadcast build OOMs
            # (the smoke measures per-case cost, not co-residency)
            spark.catalog.clearCache()
            _nb_cache.clear()
    print(json.dumps({"sf_dir": SF_DIR, "results": results}))
    spark.stop()


if __name__ == "__main__":
    main(
        int(sys.argv[1]) if len(sys.argv) > 1 else 8,
        sys.argv[2:] or None,
    )
