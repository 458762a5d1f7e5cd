"""Correctness tests for the pipeline/dedup/similarity utility
operators not covered by the driver oracle queries."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F


def _docs(spark):
    base = "the quick brown fox jumps over the lazy dog and keeps running through the field"
    rows = [
        (1, base),
        (2, base),  # exact dup of 1
        (3, base.replace("lazy", "sleepy")),  # near dup of 1
        (4, "completely different content about spark dataframes and shuffles everywhere"),
        (5, "short"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_simhash_near_duplicates(spark):
    from spatialdata_spark.pipeline.dedup import simhash_near_duplicates, simhash_signatures_sql

    fps = simhash_signatures_sql(_docs(spark))
    out = simhash_near_duplicates(fps, max_hamming=3)
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert (1, 2) in pairs  # identical docs -> hamming 0
    assert all(a < b for a, b in pairs)


def test_embedding_cosine_dedup(spark):
    from spatialdata_spark.pipeline.similarity import embedding_cosine_dedup

    rng = np.random.default_rng(3)
    base = rng.standard_normal(16)
    other = rng.standard_normal(16)
    rows = [
        (1, [float(v) for v in base]),
        (2, [float(v) for v in base * 2.0]),  # same direction -> cosine 1
        (3, [float(v) for v in other]),
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = sorted(r["vec_id"] for r in embedding_cosine_dedup(emb, threshold=0.95, num_planes=2).collect())
    assert out == [1, 3]


def cosine_self_join_topk(embeddings, k):
    """All-pairs brute-force top-k neighbours by cosine, ``(id_a, id_b,
    cosine)``: the truth that the blocked join must reproduce."""
    from pyspark.sql.window import Window

    from spatialdata_spark.pipeline.similarity import _dot_expr, _norm_expr

    a = embeddings.select(F.col("vec_id").alias("id_a"), F.col("embedding").cast("array<double>").alias("va"))
    b = embeddings.select(F.col("vec_id").alias("id_b"), F.col("embedding").cast("array<double>").alias("vb"))
    sim = _dot_expr(F.col("va"), F.col("vb")) / (_norm_expr(F.col("va")) * _norm_expr(F.col("vb")))
    scored = a.join(b, F.col("id_a") != F.col("id_b")).select("id_a", "id_b", sim.alias("cosine"))
    w = Window.partitionBy("id_a").orderBy(F.desc("cosine"), F.col("id_b"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k).drop("rank")


def test_cosine_self_join_topk_matches_blocked(spark):
    from spatialdata_spark.pipeline.similarity import cosine_pairs_blocked

    rng = np.random.default_rng(5)
    rows = [(i, [float(v) for v in rng.standard_normal(8)]) for i in range(30)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    brute = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in cosine_self_join_topk(emb, k=29).collect()
        if r["id_a"] < r["id_b"]
    }
    blocked = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in cosine_pairs_blocked(emb, threshold=-2.0, block_size=7).collect()
    }
    assert set(blocked) == set(brute)
    for key in blocked:
        assert abs(blocked[key] - brute[key]) < 1e-12


def test_multimodal_plumbing(spark):
    from spatialdata_spark.pipeline.multimodal import extract_features, resize_images, sample_video_frames

    rows = [
        (1, "image", b"imgpayload", "image/fake", 32, 32, None),
        (2, "video", b"vidpayload", "video/fake", 64, 64, 3500),
    ]
    media = spark.createDataFrame(
        rows, ["media_id", "kind", "payload", "mime", "width", "height", "duration_ms"]
    )
    feats = {r["media_id"]: r for r in extract_features(media).collect()}
    # non-PNG payload: sha256 stub features, decode_ok False
    assert len(feats[1]["feature"]) == 8 and not feats[1]["decode_ok"]
    resized = resize_images(media, 8, 8).collect()
    assert len(resized) == 1 and resized[0]["width"] == 8
    frames = sample_video_frames(media, every_ms=1000).collect()
    assert [r["frame_ts_ms"] for r in frames] == [0, 1000, 2000, 3000]


def test_image_dhash_matches_python(spark):
    import hashlib

    import numpy as np
    import pytest

    from spatialdata_spark.pipeline.codecs import png_encode
    from spatialdata_spark.pipeline.multimodal import image_dhash

    # two real PNGs with known gradients + one undecodable payload
    y, x = np.mgrid[0:4, 0:4]
    a = np.stack([(3 * x + y) % 256] * 3, axis=-1).astype(np.uint8)
    b = np.stack([(255 - 5 * x - 2 * y) % 256] * 3, axis=-1).astype(np.uint8)
    rows = [
        (1, "image", png_encode(a), "image/png", 4, 4, None),
        (2, "image", png_encode(b), "image/png", 4, 4, None),
        (3, "image", b"not a png", "image/fake", 4, 4, None),
        (4, "image", png_encode(a), "image/png", 4, 4, None),  # dup of 1
    ]
    from spatialdata_spark.pipeline.multimodal import MEDIA_SCHEMA

    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r["media_id"]: r for r in image_dhash(media).collect()}

    def ref(arr):
        gray = arr.astype(np.int64).sum(axis=-1) // 3
        bits = (gray[:, 1:] > gray[:, :-1]).flatten()
        return sum(int(v) << i for i, v in enumerate(bits))

    assert got[1]["decode_ok"] and got[1]["dhash"] == ref(a)
    assert got[2]["decode_ok"] and got[2]["dhash"] == ref(b)
    assert got[1]["dhash"] == ref(a) == 0b111111111111  # ascending rows
    assert got[2]["dhash"] == 0  # descending gradient: every bit 0
    assert got[4]["dhash"] == got[1]["dhash"]  # identical image -> dup
    # undecodable payload: deterministic sha-stub, flagged
    assert not got[3]["decode_ok"]
    digest = hashlib.sha256(b"not a png").digest()
    assert got[3]["dhash"] == int.from_bytes(digest[:8], "big") >> 1
    # oversize guard: a DECODABLE image violating (w-1)*h <= 63 fails
    # LOUDLY — a missing upstream resize is a pipeline misconfiguration,
    # not a bad input row; silently stubbing it (decode_ok=False for an
    # image that decoded fine) made un-resized corpora dedup to zero
    # duplicate groups with no error
    big = np.zeros((16, 16, 3), dtype=np.uint8)
    media_big = spark.createDataFrame(
        [(9, "image", png_encode(big), "image/png", 16, 16, None)], MEDIA_SCHEMA
    )
    with pytest.raises(Exception, match="image_dhash"):
        image_dhash(media_big).collect()
    # alpha planes stay OUT of the grayscale: RGBA hashes like its RGB
    # slice ((r+g+b)//3, alpha dropped); gray+alpha uses the luma plane
    alpha = np.random.RandomState(7).randint(0, 256, size=(4, 4), dtype=np.uint8)
    rgba = np.concatenate([a, alpha[..., None]], axis=-1).astype(np.uint8)
    la = np.stack([(3 * x + y).astype(np.uint8) % 256, alpha], axis=-1)
    media_alpha = spark.createDataFrame(
        [
            (21, "image", png_encode(rgba), "image/png", 4, 4, None),
            (22, "image", png_encode(la), "image/png", 4, 4, None),
        ],
        MEDIA_SCHEMA,
    )
    got_a = {r["media_id"]: r for r in image_dhash(media_alpha).collect()}
    assert got_a[21]["decode_ok"] and got_a[21]["dhash"] == ref(a)
    lref_gray = (3 * x + y).astype(np.int64) % 256
    lref_bits = (lref_gray[:, 1:] > lref_gray[:, :-1]).flatten()
    assert got_a[22]["dhash"] == sum(int(v) << i for i, v in enumerate(lref_bits))


def test_relabel_by_partition(spark):
    from spatialdata_spark.operators.rasterize import relabel_by_partition

    df = spark.createDataFrame([(0, 0, 1), (0, 1, 1), (1, 0, 0)], ["y", "x", "label"]).repartition(2)
    out = relabel_by_partition(df).collect()
    assert all(r["label"] == 0 for r in out if r["x"] == 0 and r["y"] == 1)
    nonzero = [r["label"] for r in out if r["label"] != 0]
    assert all(v >= 1 for v in nonzero)


def test_shapes_to_circles_and_ngon(spark):
    import math

    from spatialdata_spark.operators.vectorize import (
        boxes_to_shapes,
        circles_to_polygon_shapes,
        shapes_to_circles,
    )

    boxes = boxes_to_shapes(
        spark.createDataFrame([(1, 0.0, 0.0, 4.0, 9.0)], ["shape_id", "minx", "miny", "maxx", "maxy"])
    )
    circ = shapes_to_circles(boxes).collect()[0]
    assert abs(circ["radius"] - math.sqrt(36.0 / math.pi)) < 1e-9
    assert (circ["x"], circ["y"]) == (2.0, 4.5)

    ngon = circles_to_polygon_shapes(
        spark.createDataFrame([(1, 5.0, 5.0, 2.0)], ["shape_id", "x", "y", "radius"]), n_vertices=64
    ).collect()[0]
    from spatialdata_spark.geometry import predicates as P
    from spatialdata_spark.geometry import wkb as W

    kind, rings = W.decode(bytes(ngon["wkb"]))
    # 64-gon area approaches pi*r^2 from below
    assert kind == "polygon" and 0.95 * math.pi * 4 < P.polygon_area(rings) < math.pi * 4


def test_salted_join_matches_plain_join(spark):
    from spatialdata_spark.functions import salted_join

    # heavily skewed: 90% of rows share key 1
    big = spark.createDataFrame(
        [(1 if i % 10 else i, i) for i in range(1000)], ["k", "v"]
    )
    small = spark.createDataFrame([(1, "hot"), (7, "cold"), (999, "rare")], ["k", "name"])
    for how in ["inner", "left"]:
        got = salted_join(big, small, ["k"], how=how).orderBy("v").collect()
        want = big.join(small, ["k"], how).orderBy("v").collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_salted_join_rejects_outer(spark):
    import pytest

    from spatialdata_spark.functions import salted_join

    df = spark.range(1)
    with pytest.raises(ValueError):
        salted_join(df, df, ["id"], how="full")


def test_two_phase_count_matches_groupby(spark):
    from spatialdata_spark.functions import two_phase_count

    df = spark.createDataFrame([(i % 3, i) for i in range(500)], ["k", "v"])
    got = {r["k"]: r["n"] for r in two_phase_count(df, ["k"]).collect()}
    want = {r["k"]: r["count"] for r in df.groupBy("k").count().collect()}
    assert got == want


def test_ngram_jaccard_join_known_values(spark):
    from spatialdata_spark.pipeline.dedup import ngram_jaccard_join

    out = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_join(_docs(spark), threshold=0.0).collect()
    }
    assert out[(1, 2)] == 1.0  # identical docs
    # docs 1 and 3 differ by one word; 15 tokens -> 13 trigrams each,
    # of which 3 contain the changed word -> |A∩B|=10, union=16
    assert abs(out[(1, 3)] - 10 / 16) < 1e-12
    assert (1, 4) not in out  # nothing shared


def test_language_id_discriminates(spark):
    from spatialdata_spark.pipeline.textstats import language_id

    rows = [
        (1, "the cat is in the house and it was happy"),
        (2, "der Hund ist nicht mit der Katze und das ist gut"),
        (3, "le chat est pour la maison et les oiseaux ne sont pas la"),
        (4, "el perro es de la casa y los gatos que estan con el"),
        (5, "xyzzy plugh quux"),  # no stopwords -> unknown
        (6, "the"),  # single hit < 2 -> unknown
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r["lang_pred"] for r in language_id(df).collect()}
    assert got == {1: "en", 2: "de", 3: "fr", 4: "es", 5: "unknown", 6: "unknown"}


def test_rasterize_polygons_fill_square(spark):
    from spatialdata_spark.geometry.wkb import encode_polygon
    from spatialdata_spark.operators.rasterize import rasterize_polygons_fill

    ring = np.array([[0.5, 0.5], [10.5, 0.5], [10.5, 10.5], [0.5, 10.5]])
    rows = [(7, "polygon", bytes(encode_polygon([ring])), 0.5, 0.5, 10.5, 10.5, None)]
    shapes = spark.createDataFrame(
        rows, "shape_id long, kind string, wkb binary, minx double, miny double, maxx double, maxy double, radius double"
    )
    out = rasterize_polygons_fill(shapes).collect()
    # integer pixels strictly inside [0.5, 10.5]^2: 1..10 on both axes
    assert len(out) == 100
    assert all(1 <= r["x"] <= 10 and 1 <= r["y"] <= 10 and r["label"] == 7 for r in out)


def test_rasterize_circles_fill_matches_polygon_path(spark):
    from spatialdata_spark.operators.rasterize import rasterize_circles_fill
    from spatialdata_spark.operators.vectorize import circles_to_shapes

    circles = spark.createDataFrame(
        [(1, 10.2, 7.7, 4.0), (2, 3.1, 3.9, 2.5)], ["shape_id", "x", "y", "radius"]
    )
    expr_px = {
        (r["y"], r["x"], r["label"]) for r in rasterize_circles_fill(circles).collect()
    }
    # the mapInPandas path hits its circle branch for point-kind shapes
    from spatialdata_spark.operators.rasterize import rasterize_polygons_fill

    udf_px = {
        (r["y"], r["x"], r["label"])
        for r in rasterize_polygons_fill(circles_to_shapes(circles)).collect()
    }
    assert expr_px == udf_px


def test_ivf_full_probe_equals_exact(spark):
    from spatialdata_spark.pipeline.similarity import (
        cosine_topk_query,
        ivf_assign,
        ivf_topk_query,
    )

    rng = np.random.default_rng(9)
    # three well-separated clusters
    centers = rng.standard_normal((3, 12)) * 10
    rows = [
        (i, [float(v) for v in centers[i % 3] + rng.standard_normal(12) * 0.3])
        for i in range(120)
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = [float(v) for v in centers[1] + 0.1]

    assigned, centroids = ivf_assign(emb, n_cells=3, sample_size=120)
    exact = [r["vec_id"] for r in cosine_topk_query(emb, q, k=10).collect()]
    full = [r["vec_id"] for r in ivf_topk_query(assigned, centroids, q, k=10, nprobe=3).collect()]
    assert full == exact  # nprobe = n_cells degenerates to exact search

    # probing one cell of a well-separated clustering still finds the
    # same top-10 (the query's own cluster has 40 > 10 members)
    one = [r["vec_id"] for r in ivf_topk_query(assigned, centroids, q, k=10, nprobe=1).collect()]
    assert set(one) & set(exact), "nprobe=1 found none of the exact top-k"
    assert len(set(one) & set(exact)) >= 8


def test_approx_count_distinct_accuracy(spark):
    """HLL sketch (the scale path for distinct counts — no exact dedup
    shuffle) stays within its advertised error of the exact count."""
    df = spark.range(200_000).select((F.col("id") % 57_123).alias("u"))
    exact = df.select(F.countDistinct("u")).first()[0]
    approx = df.select(F.approx_count_distinct("u", rsd=0.02)).first()[0]
    assert exact == 57_123
    assert abs(approx - exact) / exact < 0.06  # 3x rsd guard band


def test_ngram_jaccard_shingle_freq_cap(spark):
    from spatialdata_spark.pipeline.dedup import ngram_jaccard_join

    # cap=1 drops every shared shingle before the join -> no pairs survive
    out = ngram_jaccard_join(_docs(spark), threshold=0.0, max_shingle_freq=1)
    assert out.count() == 0


def test_connected_components_chain_and_random(spark):
    from spatialdata_spark.pipeline.dedup import connected_components

    # transitive 3-chain: A~B, B~C, A!~C must collapse to one component
    edges = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], ["id_a", "id_b"])
    out = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}

    # random graph cross-checked against a plain union-find
    rng = np.random.default_rng(7)
    e = [(int(a), int(b)) for a, b in rng.integers(0, 200, size=(300, 2)) if a != b]
    parent = list(range(200))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in e:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {n: find(n) for n in set(x for p in e for x in p)}
    got = {
        r["node"]: r["component"]
        for r in connected_components(spark.createDataFrame(e, ["id_a", "id_b"])).collect()
    }
    assert got == expected


def test_ivf_sampling_unbiased_on_sorted_input(spark):
    """k-means seeding must survive cluster-sorted storage: with the old
    limit().collect() sample the training set was 100% cluster 0 and
    nprobe=1 recall on a cluster-2 query collapsed."""
    from spatialdata_spark.pipeline.similarity import (
        cosine_topk_query,
        ivf_assign,
        ivf_topk_query,
    )

    rng = np.random.default_rng(11)
    centers = rng.standard_normal((3, 12)) * 10
    # rows sorted by cluster, one partition, sample_size < first cluster
    rows = [
        (c * 100 + i, [float(v) for v in centers[c] + rng.standard_normal(12) * 0.3])
        for c in range(3)
        for i in range(100)
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"]).coalesce(1)
    assigned, centroids = ivf_assign(emb, n_cells=3, sample_size=60)
    # every true cluster must own a centroid: the true center nearest
    # each returned centroid covers all three (a repeat, and with it a
    # missing cluster, is the split-centroid layout)
    nearest = [int(((centers - c) ** 2).sum(axis=1).argmin()) for c in centroids]
    layout = f"centroid -> nearest true center: {nearest}"
    assert sorted(nearest) == [0, 1, 2], layout
    q = [float(v) for v in centers[2] + 0.1]
    exact = [r["vec_id"] for r in cosine_topk_query(emb, q, k=10).collect()]
    one = [r["vec_id"] for r in ivf_topk_query(assigned, centroids, q, k=10, nprobe=1).collect()]
    # the old biased limit() sample collapsed this to ~0; any healthy
    # quantizer lands 6+ of 10
    assert len(set(one) & set(exact)) >= 5, f"{layout}; nprobe=1 top-10 {sorted(one)}, exact {sorted(exact)}"


def test_ivf_assign_is_deterministic(spark):
    """The k-means training sample is seeded, so two calls on the same
    input fit the same centroids in the same order."""
    from spatialdata_spark.pipeline.similarity import ivf_assign

    rng = np.random.default_rng(5)
    centers = rng.standard_normal((4, 8)) * 10
    rows = [
        (c * 100 + i, [float(v) for v in centers[c] + rng.standard_normal(8) * 0.5])
        for c in range(4)
        for i in range(100)
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    _, first = ivf_assign(emb, n_cells=4, sample_size=80)
    _, second = ivf_assign(emb, n_cells=4, sample_size=80)
    np.testing.assert_array_equal(first, second)


def test_shingle_numpy_matches_expression_bitwise(spark):
    """The Arrow fast path's numpy shingle hashes must equal the
    Catalyst expression element-for-element — this equality is what
    lets pl_minhash_dedup reuse the expression pipeline's bit-exact
    DuckDB oracle.  Exercises unicode, padding, repeats, and both hash
    channels over adversarial strings."""
    import numpy as np

    from spatialdata_spark.pipeline.dedup import _shingle31_expr, _shingle31_np

    rng = np.random.default_rng(17)
    alphabet = list("abcXYZ012 \t.,;") + ["é", "ü", "Ω", "中", "😀", " "]
    texts = ["", "a", "abcd", " " * 7, "aaaaaaaaaa"]
    for n in (5, 23, 200):
        for _ in range(8):
            texts.append("".join(rng.choice(alphabet, n)))
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["i", "text"])
    for channel, k in ((0, 5), (1, 4)):
        got = {
            r["i"]: r["sh"]
            for r in df.select("i", _shingle31_expr("text", k, channel).alias("sh")).collect()
        }
        for i, t in enumerate(texts):
            exp = _shingle31_np(t, k, channel).tolist()
            assert got[i] == exp, (channel, k, t)


def test_minhash_arrow_equals_expression_pipeline(spark):
    """End-to-end: the Arrow band-candidate set equals the
    expression-only pipeline's on the same corpus."""
    from spatialdata_spark.pipeline.dedup import (
        minhash_band_candidates,
        minhash_band_candidates_sql,
    )

    texts = [
        ("doc-%d" % i, ("the quick brown fox %d " % (i % 7)) * 3 + "tail%d" % (i % 5))
        for i in range(60)
    ]
    docs = spark.createDataFrame(texts, ["name", "text"]).withColumn(
        "doc_id", F.monotonically_increasing_id()
    )
    a = {(r["id_a"], r["id_b"], r["n_bands"]) for r in minhash_band_candidates(docs, num_hashes=16, num_bands=4).collect()}
    b = {(r["id_a"], r["id_b"], r["n_bands"]) for r in minhash_band_candidates_sql(docs, num_hashes=16, num_bands=4).collect()}
    assert a == b and len(a) > 0


def test_repetition_stats(spark):
    from spatialdata_spark.pipeline.filters import repetition_stats

    df = spark.createDataFrame(
        [(1, "a a a b"), (2, "x y"), (3, "solo")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    # doc 1: 4 tokens, top unigram 'a' x3, 2 distinct, top bigram 'a a' x2 of 3
    assert abs(out[1]["top_unigram_frac"] - 3 / 4) < 1e-12
    assert abs(out[1]["distinct_ratio"] - 2 / 4) < 1e-12
    assert abs(out[1]["top_bigram_frac"] - 2 / 3) < 1e-12
    # doc 2: all distinct, one bigram
    assert abs(out[2]["top_unigram_frac"] - 1 / 2) < 1e-12
    assert out[2]["distinct_ratio"] == 1.0
    assert out[2]["top_bigram_frac"] == 1.0
    # doc 3: single token -> no bigrams -> 0.0
    assert out[3]["top_bigram_frac"] == 0.0


def test_pii_redact(spark):
    from spatialdata_spark.pipeline.filters import pii_redact

    df = spark.createDataFrame(
        [
            (1, "mail a.b+c@foo-bar.example.org and 192.168.0.1 then +1-555-123-4567 done"),
            (2, "nothing sensitive here"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in pii_redact(df).collect()}
    assert (out[1]["n_emails"], out[1]["n_ips"], out[1]["n_phones"]) == (1, 1, 1)
    assert out[1]["redacted"] == "mail <EMAIL> and <IP> then <PHONE> done"
    assert (out[2]["n_emails"], out[2]["n_ips"], out[2]["n_phones"]) == (0, 0, 0)
    assert out[2]["redacted"] == "nothing sensitive here"


def test_decontaminate(spark):
    from spatialdata_spark.pipeline.filters import decontaminate

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps high"),   # shares 'the quick brown' etc.
            (2, "completely unrelated text body here"),
            (3, "quick brown fox runs away"),        # shares 'quick brown fox'
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(100, "the quick brown fox sat down")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in decontaminate(corpus, bench, n=3).collect()}
    assert set(out) == {1, 3}  # doc 2 is clean and absent
    # doc 1 grams: 'the quick brown','quick brown fox','brown fox jumps','fox jumps high'
    assert out[1]["n_grams"] == 4 and out[1]["n_shared"] == 2
    assert out[3]["n_shared"] == 1
    assert abs(out[1]["contaminated_frac"] - 0.5) < 1e-12


def test_sq_int8_topk_ranks_like_exact_on_separable_data(spark):
    from spatialdata_spark.pipeline.similarity import int8_quantize, sq_int8_topk

    rng = np.random.default_rng(7)
    base = rng.normal(size=8)
    rows = [(0, [float(v) for v in base])]
    # ids 1..5: decreasing similarity to id 0
    for i in range(1, 6):
        rows.append((i, [float(v) for v in base + rng.normal(scale=0.3 * i, size=8)]))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    codes = {r["vec_id"]: r["code"] for r in int8_quantize(emb).collect()}
    assert all(-127 <= c <= 127 for code in codes.values() for c in code)
    top = [r["vec_id"] for r in sq_int8_topk(emb, query_id=0, k=2).collect()]
    assert top[0] == 1  # nearest true neighbor survives quantization


def test_pq_adc_matches_exact_neighbor(spark):
    from spatialdata_spark.pipeline.similarity import pq_adc_topk

    rng = np.random.default_rng(11)
    # 64-dim corpus: ids 1..16 are the codebook rows, id 0 the query,
    # id 40 a planted near-duplicate of the query
    rows = []
    for i in range(60):
        rows.append((i, [float(v) for v in rng.normal(size=64)]))
    qv = np.asarray(rows[0][1])
    rows.append((40 + 60, None))  # replaced below
    rows = rows[:-1]
    rows[40] = (40, [float(v) for v in qv + rng.normal(scale=0.05, size=64)])
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = pq_adc_topk(emb, query_id=0, k=5).collect()
    assert [r["vec_id"] for r in out][0] == 40  # planted neighbor ranks first
    assert all(out[i]["adc"] <= out[i + 1]["adc"] for i in range(len(out) - 1))


def test_exact_dedup_cross(spark):
    from spatialdata_spark.pipeline.dedup import exact_dedup_cross

    corpus = spark.createDataFrame(
        [(1, "Shared   Text"), (2, "unique text")], ["doc_id", "text"]
    )
    ref = spark.createDataFrame([(9, "shared text")], ["doc_id", "text"])
    out = [r["doc_id"] for r in exact_dedup_cross(corpus, ref).collect()]
    assert out == [2]  # doc 1 matches after whitespace/case normalization
    raw = exact_dedup_cross(corpus, ref, normalize=False)
    assert sorted(r["doc_id"] for r in raw.collect()) == [1, 2]


def test_vocab_topk(spark):
    from spatialdata_spark.pipeline.textstats import vocab_topk

    docs = spark.createDataFrame(
        [(1, "a b a"), (2, "a c")], ["doc_id", "text"]
    )
    rows = vocab_topk(docs, k=2).collect()
    assert (rows[0]["token"], rows[0]["tf"], rows[0]["df"]) == ("a", 3, 2)
    assert (rows[1]["token"], rows[1]["tf"], rows[1]["df"]) == ("b", 1, 1)  # tie -> lexicographic


def test_ann_recall(spark):
    from spatialdata_spark.pipeline.similarity import ann_recall

    approx = spark.createDataFrame([(1,), (2,), (3,)], ["vec_id"])
    exact = spark.createDataFrame([(1,), (3,), (4,), (5,)], ["vec_id"])
    r = ann_recall(approx, exact).first()
    assert (r["n_hit"], r["n_exact"]) == (2, 4) and abs(r["recall"] - 0.5) < 1e-12


def test_lsh_arrow_matches_expression_buckets(spark):
    from spatialdata_spark.pipeline.similarity import (
        random_hyperplane_buckets,
        random_hyperplane_buckets_arrow,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = {r["vec_id"]: r["bucket"] for r in random_hyperplane_buckets(emb).collect()}
    b = {r["vec_id"]: r["bucket"] for r in random_hyperplane_buckets_arrow(emb).collect()}
    assert a == b


def test_pack_blocks(spark):
    from spatialdata_spark.pipeline.filters import pack_blocks

    docs = spark.createDataFrame(
        [
            (1, "en", "a b c"),        # 3 tokens, start 0, block 0
            (2, "en", "d e f g"),      # start 3, crosses the 4-token boundary
            (3, "en", "h"),            # start 7, block 1
            (10, "de", "x y"),         # separate stream restarts at 0
        ],
        ["doc_id", "lang", "text"],
    )
    out = {r["doc_id"]: r for r in pack_blocks(docs, block_tokens=4).collect()}
    assert (out[1]["token_start"], out[1]["block_id"], out[1]["spans_boundary"]) == (0, 0, False)
    assert (out[2]["token_start"], out[2]["block_id"], out[2]["spans_boundary"]) == (3, 0, True)
    assert (out[3]["token_start"], out[3]["block_id"], out[3]["spans_boundary"]) == (7, 1, False)
    assert (out[10]["token_start"], out[10]["block_id"]) == (0, 0)


def test_corpus_stats(spark):
    from spatialdata_spark.pipeline.filters import corpus_stats

    docs = spark.createDataFrame(
        [
            (1, "s0", "en", "one two"),
            (2, "s0", "en", "one two"),   # exact dup
            (3, "s0", "en", "three"),
        ],
        ["doc_id", "source", "lang", "text"],
    )
    r = corpus_stats(docs).first()
    assert (r["n_docs"], r["n_distinct"]) == (3, 2)
    assert abs(r["mean_tokens"] - 5 / 3) < 1e-12


def test_stratified_sample_deterministic_and_rated(spark):
    from spatialdata_spark.pipeline.filters import stratified_sample

    docs = spark.createDataFrame(
        [(i, "en" if i % 3 == 0 else "de", f"doc {i}") for i in range(3000)],
        ["doc_id", "lang", "text"],
    )
    kept = stratified_sample(docs, {"en": 200, "de": 800}).select("doc_id", "lang")
    a = sorted(r["doc_id"] for r in kept.collect())
    b = sorted(r["doc_id"] for r in kept.collect())
    assert a == b  # deterministic, not RNG sampling
    by_lang = {r["lang"]: r["n"] for r in kept.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    # Lehmer buckets are uniform: rates land near target (binomial 5-sigma)
    assert abs(by_lang["en"] / 1000 - 0.2) < 0.07
    assert abs(by_lang["de"] / 2000 - 0.8) < 0.05
    # ids far past 2^31 must not overflow the arithmetic
    big = spark.createDataFrame(
        [(2**40 + i, "en", "x") for i in range(10)], ["doc_id", "lang", "text"]
    )
    stratified_sample(big, {"en": 500}).collect()  # no overflow / no raise


def test_quota_cap_keeps_best_per_cell(spark):
    from spatialdata_spark.pipeline.filters import quota_cap

    docs = spark.createDataFrame(
        [
            (1, "s0", "en", "aaaaaa"),
            (2, "s0", "en", "bbbb"),
            (3, "s0", "en", "cc"),
            (4, "s0", "de", "dddd"),
            (5, "s0", "de", "ee"),
            (6, "s1", "en", "f"),
        ],
        ["doc_id", "source", "lang", "text"],
    )
    kept = sorted(
        (r["source"], r["lang"], r["doc_id"])
        for r in quota_cap(docs, quotas={"en": 2}, default_quota=1).collect()
    )
    # en cells keep their 2 longest, de keeps 1, s1/en keeps its only doc
    assert kept == [("s0", "de", 4), ("s0", "en", 1), ("s0", "en", 2), ("s1", "en", 6)]


def test_bm25_ranks_rare_terms_and_tf(spark):
    from spatialdata_spark.pipeline.textstats import bm25_scores

    docs = spark.createDataFrame(
        [
            (1, "rare common common common"),
            (2, "common common common common"),
            (3, "common rare rare other other"),
            (4, "other other other other"),
        ],
        ["doc_id", "text"],
    )
    s = {r["doc_id"]: r["score"] for r in bm25_scores(docs, ["rare", "common"]).collect()}
    assert 4 not in s  # no query term -> no row
    # the rare term's idf dominates: both rare-bearing docs outrank the
    # common-only doc (doc 1 edges doc 3 on length normalization)
    assert s[1] > s[2] and s[3] > s[2]
    assert s[2] > 0  # common-only still scores (idf small but positive)


def test_chunk_with_overlap_windows(spark):
    from spatialdata_spark.pipeline.filters import chunk_with_overlap

    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(10))), (2, "a b"), (3, "")],
        ["doc_id", "text"],
    )
    rows = {
        (r["doc_id"], r["chunk_idx"]): r
        for r in chunk_with_overlap(docs, chunk_tokens=4, stride=3).collect()
    }
    # doc 1: starts 0,3,6,9 -> 4 chunks, last is 1 token
    assert [rows[(1, i)]["start_tok"] for i in range(4)] == [0, 3, 6, 9]
    assert rows[(1, 0)]["chunk_text"] == "t0 t1 t2 t3"
    assert rows[(1, 3)]["chunk_text"] == "t9"
    assert rows[(1, 3)]["n_chunk_tokens"] == 1
    assert rows[(2, 0)]["chunk_text"] == "a b"
    assert (3, 0) not in rows  # empty doc emits nothing


def test_levenshtein_neardup_blocking_is_lossless(spark):
    from spatialdata_spark.pipeline.dedup import levenshtein_neardup

    docs = spark.createDataFrame(
        [
            (1, "en", "the quick brown fox jumps"),
            (2, "en", "the quick brown fox jumped"),   # distance 2
            (3, "en", "completely different sentence"),
            (4, "de", "the quick brown fox jumps"),    # other lang: never paired
            (5, "en", "the quick brown fox"),          # shorter by 6 (deletion tail)
        ],
        ["doc_id", "lang", "text"],
    )
    got = {
        (r["id_a"], r["id_b"]): r["distance"]
        for r in levenshtein_neardup(docs, max_distance=8).collect()
    }
    assert got[(1, 2)] == 2
    assert got[(1, 5)] == 6
    assert all(4 not in k for k in got)


def test_levenshtein_neardup_matches_bruteforce_on_random_edits(spark):
    """Pin PassJoin candidate losslessness: every pair within the edit
    threshold must survive the segment blocking.  Random base strings
    are mutated with random insert/delete/substitute edits (including
    front-edits that shift all positions — the case plain same-index
    segment blocking misses) and the full operator output is compared
    against a brute-force all-pairs Levenshtein in Python."""
    import random

    from spatialdata_spark.pipeline.dedup import levenshtein_neardup

    rng = random.Random(20260814)
    alpha = "abcdefgh "

    def mutate(s, n_edits):
        s = list(s)
        for _ in range(n_edits):
            op = rng.choice("ids")
            pos = rng.randrange(len(s) + (1 if op == "i" else 0)) if s or op == "i" else 0
            if op == "i":
                s.insert(pos, rng.choice(alpha))
            elif op == "d" and s:
                del s[pos]
            else:
                if s:
                    s[pos] = rng.choice(alpha)
        return "".join(s)

    rows, next_id = [], 1
    for b in range(12):
        base = "".join(rng.choice(alpha) for _ in range(rng.randrange(3, 55)))
        for _ in range(rng.randrange(1, 4)):
            rows.append((next_id, "en", mutate(base, rng.randrange(0, 7))))
            next_id += 1
    # a few degenerate docs: empty and very short
    rows += [(next_id, "en", ""), (next_id + 1, "en", "ab"), (next_id + 2, "en", "ba")]

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    d, plen = 5, 40
    expect = {}
    pres = [(i, t[:plen]) for i, _, t in rows]
    for x in range(len(pres)):
        for y in range(x + 1, len(pres)):
            dist = lev(pres[x][1], pres[y][1])
            if dist <= d:
                a, b = sorted((pres[x][0], pres[y][0]))
                expect[(a, b)] = dist

    docs = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    got = {
        (r["id_a"], r["id_b"]): r["distance"]
        for r in levenshtein_neardup(docs, max_distance=d, prefix_chars=plen).collect()
    }
    assert got == expect


def test_mix_epochs_repeats_deterministically(spark):
    from spatialdata_spark.pipeline.filters import mix_epochs

    docs = spark.createDataFrame(
        [(1, "en"), (2, "de"), (3, "fr")], ["doc_id", "lang"]
    )
    rows = sorted(
        (r["doc_id"], r["epoch"])
        for r in mix_epochs(docs, {"en": 3, "de": 2}).collect()
    )
    assert rows == [(1, 1), (1, 2), (1, 3), (2, 1), (2, 2), (3, 1)]


def test_mix_epochs_zero_rate_drops_stream(spark):
    """A 0-epoch stream emits NOTHING: sequence(1, 0) would run
    descending in Spark ([1, 0] = two copies) while the SQL oracle's
    generate_series(1, 0) is empty — the guard filters reps < 1 before
    the explode.  Negative rates are rejected outright."""
    import pytest as _pytest

    from spatialdata_spark.pipeline.filters import mix_epochs

    docs = spark.createDataFrame(
        [(1, "en"), (2, "de"), (3, "fr")], ["doc_id", "lang"]
    )
    rows = sorted(
        (r["doc_id"], r["epoch"])
        for r in mix_epochs(docs, {"en": 2, "de": 0}).collect()
    )
    assert rows == [(1, 1), (1, 2), (3, 1)]
    assert mix_epochs(docs, {}, default_epochs=0).count() == 0
    with _pytest.raises(ValueError):
        mix_epochs(docs, {"en": -1})


def test_unigram_lm_score_hand_computed(spark):
    import math

    from spatialdata_spark.pipeline.textstats import unigram_lm_score

    docs = spark.createDataFrame(
        [(1, "a b b"), (2, "b c"), (3, "   ")], ["doc_id", "text"]
    )
    got = {r["doc_id"]: r["nll"] for r in unigram_lm_score(docs).collect()}
    # corpus: a,b,b,b,c -> T=5 V=3; p(a)=p(c)=2/8, p(b)=4/8
    exp1 = -(math.log(0.25) + 2 * math.log(0.5)) / 3
    exp2 = -(math.log(0.5) + math.log(0.25)) / 2
    assert got[1] == round(exp1, 6)
    assert got[2] == round(exp2, 6)
    assert 3 not in got  # blank docs excluded


def test_idf_keywords_ranks_rare_tokens(spark):
    from spatialdata_spark.pipeline.textstats import idf_keywords

    docs = spark.createDataFrame(
        [
            (1, "common rare1 common common"),
            (2, "common rare2"),
            (3, "common other"),
        ],
        ["doc_id", "text"],
    )
    rows = idf_keywords(docs, top_k=2).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append((r["rank"], r["keyword"], r["score"]))
    # 'common' is in every doc -> idf = ln(1) = 0; rare tokens outrank it
    assert sorted(by_doc[1])[0][1] == "rare1"
    assert sorted(by_doc[2])[0][1] == "rare2"
    top1 = dict((d, sorted(v)[0]) for d, v in by_doc.items())
    assert top1[3][1] == "other"
    assert all(len(v) == 2 for v in by_doc.values())
    # score of an every-doc token is exactly 0 at any tf
    zero = [r for r in rows if r["keyword"] == "common"]
    assert zero and all(r["score"] == 0.0 for r in zero)


def test_dedup_keep_best_representatives(spark):
    from spatialdata_spark.pipeline.dedup import dedup_keep_best

    near_a = "the quick brown fox jumps over the lazy dog " * 4
    near_b = near_a[:-6] + "cat "  # same shingle mass, near-dup of a
    docs = spark.createDataFrame(
        [
            (1, near_a),
            (2, near_b),
            (3, "completely unrelated content that stands alone xyz"),
        ],
        ["doc_id", "text"],
    )
    rows = {r["component"]: r for r in dedup_keep_best(docs, num_bands=8).collect()}
    assert rows[3]["keep_id"] == 3 and rows[3]["cluster_size"] == 1
    assert 1 in rows and rows[1]["cluster_size"] == 2
    # longest text wins (near_a is 2 chars shorter than near_b? compute)
    exp_keep = 1 if len(near_a) > len(near_b) else (2 if len(near_b) > len(near_a) else 1)
    assert rows[1]["keep_id"] == exp_keep


def test_duplicate_spans_known_layout(spark):
    from spatialdata_spark.pipeline.dedup import duplicate_spans

    shared = "0123456789abcdefghij"  # 20 chars, appears in docs 1 and 2
    docs = spark.createDataFrame(
        [
            (1, "AAAA" + shared + "BBBBBBBBBB"),
            (2, "CCCCCCC" + shared + "DDDD"),
            (3, "unique text with nothing repeated anywhere at all!"),
        ],
        ["doc_id", "text"],
    )
    k = 10
    rows = {
        r["doc_id"]: r for r in duplicate_spans(docs, gram_chars=k).collect()
    }
    # the shared 20-char region yields 20-k+1 = 11 duplicated gram
    # starts in each doc, merging into ONE span of exactly 20 chars
    assert rows[1]["span_start"] == 5 and rows[1]["span_len"] == 20
    assert rows[2]["span_start"] == 8 and rows[2]["span_len"] == 20
    assert rows[1]["n_grams"] == 11 and rows[2]["n_grams"] == 11
    assert 3 not in rows


def test_duplicate_spans_intra_document_repeat(spark):
    from spatialdata_spark.pipeline.dedup import duplicate_spans

    # one doc that repeats its own prefix: both occurrences are spans
    docs = spark.createDataFrame(
        [(1, "xyzw" * 5 + "-filler-" + "xyzw" * 5)], ["doc_id", "text"]
    )
    rows = sorted(
        (r["span_start"], r["span_len"])
        for r in duplicate_spans(docs, gram_chars=8).collect()
    )
    assert len(rows) >= 1  # periodic text self-overlaps into >=1 span
    assert rows[0][0] == 1


def test_quota_cap_two_stage_equals_single_window(spark):
    """The Arrow pre-truncation must be invisible: across many input
    partitions and adversarial tie patterns, the two-stage quota_cap
    equals the plain single-window reference computed inline."""
    import random

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from spatialdata_spark.pipeline.filters import quota_cap

    rng = random.Random(11)
    rows = []
    for i in range(400):
        src = rng.choice(["web", "books"])
        lang = rng.choice(["en", "de", "fr"])
        # many exact length ties to stress the id tiebreak
        text = "x" * rng.choice([5, 5, 5, 10, 10, 50, rng.randrange(1, 80)])
        rows.append((i, src, lang, text))
    docs = spark.createDataFrame(
        rows, ["doc_id", "source", "lang", "text"]
    ).repartition(8)

    quotas, dq = {"en": 7, "de": 3}, 5
    got = sorted(
        r["doc_id"] for r in quota_cap(docs, quotas=quotas, default_quota=dq).collect()
    )
    w = Window.partitionBy("source", "lang").orderBy(
        F.length("text").desc(), F.col("doc_id").asc()
    )
    q = F.lit(dq)
    for k, v in sorted(quotas.items()):
        q = F.when(F.col("lang") == k, F.lit(v)).otherwise(q)
    want = sorted(
        r["doc_id"]
        for r in docs.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= q)
        .collect()
    )
    assert got == want


def test_remove_duplicate_spans_keeps_first_occurrence(spark):
    from spatialdata_spark.pipeline.dedup import remove_duplicate_spans

    shared = "0123456789abcdefghij"  # 20 chars
    docs = spark.createDataFrame(
        [
            (1, "AAAA" + shared + "BBBB"),      # canonical (lowest doc_id)
            (2, "CCC" + shared + "DDDD"),       # copy -> cut
            (3, "plain unique text that repeats nothing at all here"),
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in remove_duplicate_spans(docs, gram_chars=10).collect()}
    assert rows[1]["clean_text"] == "AAAA" + shared + "BBBB"  # first kept verbatim
    assert rows[1]["n_cut_chars"] == 0
    assert rows[2]["clean_text"] == "CCC" + "DDDD"            # span excised
    assert rows[2]["n_cut_chars"] == 20
    assert rows[3]["n_cut_chars"] == 0


def test_remove_duplicate_spans_intra_doc(spark):
    from spatialdata_spark.pipeline.dedup import remove_duplicate_spans

    rep = "qwertyuiopas"  # 12 chars, repeated twice inside one doc
    docs = spark.createDataFrame([(1, rep + "-MID-" + rep)], ["doc_id", "text"])
    rows = remove_duplicate_spans(docs, gram_chars=12).collect()
    assert rows[0]["clean_text"] == rep + "-MID-"
    assert rows[0]["n_cut_chars"] == 12


def test_tfidf_cosine_pairs_hand_computed(spark):
    import math

    from spatialdata_spark.pipeline.textstats import tfidf_cosine_pairs

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),
            (2, "alpha beta delta"),
            (3, "omega psi chi"),
        ],
        ["doc_id", "text"],
    )
    got = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in tfidf_cosine_pairs(docs, threshold=0.01, max_df=3).collect()
    }
    # idf: alpha/beta df=2 -> ln(3/2); others df=1 -> ln(3)
    w2, w1 = math.log(3 / 2), math.log(3)
    dot = 2 * w2 * w2
    nrm = math.sqrt(2 * w2 * w2 + w1 * w1)
    assert got[(1, 2)] == round(dot / (nrm * nrm), 6)
    assert (1, 3) not in got and (2, 3) not in got


def test_tfidf_cosine_pairs_df_cap_drops_stopwords(spark):
    from spatialdata_spark.pipeline.textstats import tfidf_cosine_pairs

    # 'the' in every doc; with max_df=2 it leaves the vector space, so
    # docs sharing ONLY 'the' never pair
    docs = spark.createDataFrame(
        [(1, "the foo"), (2, "the bar"), (3, "the baz")],
        ["doc_id", "text"],
    )
    assert tfidf_cosine_pairs(docs, threshold=0.0, max_df=2).count() == 0


def _toy_embeddings(spark):
    """Two tight groups far apart + one planted near-duplicate pair:
    hand-checkable k-means and SemDeDup behavior."""
    import numpy as np

    rng = np.random.default_rng(7)
    rows = []
    for i in range(10):  # group A near +1 on dim 0
        v = rng.normal(0, 0.2, 8)
        v[0] += 1.0
        rows.append((i, [float(x) for x in v], 0))
    for i in range(10, 20):  # group B near -1 on dim 0
        v = rng.normal(0, 0.2, 8)
        v[0] -= 1.0
        rows.append((i, [float(x) for x in v], 1))
    # planted near-dup of vector 3 (same direction, tiny perturbation)
    base = np.array(rows[3][1])
    rows.append((20, [float(x) for x in base + 0.001], 0))
    return spark.createDataFrame(
        rows, "vec_id LONG, embedding ARRAY<FLOAT>, label INT"
    )


def test_kmeans_separates_planted_groups(spark):
    from spatialdata_spark.pipeline.clustering import kmeans_lloyd

    emb = _toy_embeddings(spark)
    assign, cents = kmeans_lloyd(emb, k=2, n_iter=2)
    got = {r["id"]: r["cluster"] for r in assign.collect()}
    a_clusters = {got[i] for i in range(10)}
    b_clusters = {got[i] for i in range(10, 20)}
    assert len(a_clusters) == 1 and len(b_clusters) == 1
    assert a_clusters != b_clusters
    assert got[20] in a_clusters  # the near-dup follows its twin
    # centroids stay k*dim model state
    assert cents.count() == 2 * 8


def test_kmeans_deterministic_across_runs(spark):
    from spatialdata_spark.pipeline.clustering import kmeans_lloyd

    emb = _toy_embeddings(spark)
    a1, _ = kmeans_lloyd(emb, k=2, n_iter=2)
    a2, _ = kmeans_lloyd(emb, k=2, n_iter=2)
    r1 = sorted(map(tuple, a1.collect()))
    r2 = sorted(map(tuple, a2.collect()))
    assert r1 == r2  # fixed-point arithmetic: bit-identical reruns


def test_semantic_dedup_drops_planted_neardup_only(spark):
    from spatialdata_spark.pipeline.clustering import semantic_dedup_kmeans

    emb = _toy_embeddings(spark)
    out = semantic_dedup_kmeans(emb, k=2, n_iter=2, threshold=0.999)
    ids = sorted(r["vec_id"] for r in out.collect())
    # vec 20 is cosine ~1.0 with vec 3; nothing else in the toy set is
    # above 0.999 (within-group cosines dip below via the perturbations)
    assert 20 not in ids and 3 in ids
    assert len(ids) == 20


def test_knn_classify_planted_groups_perfect(spark):
    from spatialdata_spark.pipeline.clustering import knn_classify

    emb = _toy_embeddings(spark)
    out = knn_classify(emb, k_neighbors=3, test_mod=5).collect()
    # test ids: 0,5,10,15,20 — labels recoverable from the groups
    assert len(out) == 5
    assert all(r["correct"] == 1 for r in out)


def test_kmeans_arrow_equals_expr_bit_exact(spark):
    """The Arrow int64-GEMM path and the expression twin are the same
    integer arithmetic — assignments, distances and centroids must be
    BIT-IDENTICAL (this is what lets the production path keep the SQL
    oracle)."""
    from spatialdata_spark.pipeline.clustering import kmeans_lloyd

    emb = _toy_embeddings(spark)
    aa, ca = kmeans_lloyd(emb, k=3, n_iter=2, method="arrow")
    ae, ce = kmeans_lloyd(emb, k=3, n_iter=2, method="expr")
    assert sorted(map(tuple, aa.collect())) == sorted(map(tuple, ae.collect()))
    assert sorted(map(tuple, ca.collect())) == sorted(map(tuple, ce.collect()))


def test_semantic_dedup_arrow_equals_expr(spark):
    from spatialdata_spark.pipeline.clustering import semantic_dedup_kmeans

    emb = _toy_embeddings(spark)
    sa = semantic_dedup_kmeans(emb, k=2, n_iter=2, threshold=0.9, method="arrow")
    se = semantic_dedup_kmeans(emb, k=2, n_iter=2, threshold=0.9, method="expr")
    ia = sorted(r["vec_id"] for r in sa.collect())
    ie = sorted(r["vec_id"] for r in se.collect())
    assert ia == ie


def test_semantic_dedup_subblock_cap_twin_parity(spark):
    """With max_cluster_size set, the arrow and expr paths must agree
    on the (within-sub-block) survivor set, and a capped run must be a
    superset of the uncapped survivors (blocks only REMOVE pairs)."""
    from spatialdata_spark.pipeline.clustering import semantic_dedup_kmeans

    emb = _toy_embeddings(spark)
    sa = semantic_dedup_kmeans(
        emb, k=2, n_iter=2, threshold=0.9, method="arrow", max_cluster_size=4
    )
    se = semantic_dedup_kmeans(
        emb, k=2, n_iter=2, threshold=0.9, method="expr", max_cluster_size=4
    )
    ia = sorted(r["vec_id"] for r in sa.collect())
    ie = sorted(r["vec_id"] for r in se.collect())
    assert ia == ie
    uncapped = sorted(
        r["vec_id"]
        for r in semantic_dedup_kmeans(
            emb, k=2, n_iter=2, threshold=0.9, method="arrow"
        ).collect()
    )
    assert set(uncapped) <= set(ia)


def test_semantic_dedup_arrow_exact_under_int64_overflow(spark):
    """Unnormalized huge-magnitude embeddings push scale*dot^2 far past
    int64: the Arrow kernel must drop to arbitrary-precision arithmetic
    instead of wrapping silently.  Expected survivors computed with
    pure Python ints (exact by construction)."""
    import numpy as np

    from spatialdata_spark.pipeline.clustering import semantic_dedup_kmeans

    rng = np.random.default_rng(11)
    vecs = {}
    for i in range(8):
        vecs[i] = [float(x) for x in rng.normal(0, 1e7, 6)]
    # planted near-dup pairs at huge magnitude (cos ~ 1 with id 0, 2)
    vecs[8] = [x * 1.001 + 3.0 for x in vecs[0]]
    vecs[9] = [x * 0.999 - 2.0 for x in vecs[2]]
    emb = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], ["vec_id", "embedding"]
    )
    out = semantic_dedup_kmeans(
        emb, k=2, n_iter=2, threshold=0.9, method="arrow"
    )
    got = sorted(r["vec_id"] for r in out.collect())

    # exact reference: same quantization + threshold test in Python ints
    import math

    q, scale = 100, 10_000
    coeff = int(round(0.9 * 0.9 * scale))
    qv = {
        i: [int(math.floor(x * q + 0.5)) for x in v] for i, v in vecs.items()
    }
    # the operator's own cluster assignment (pair test is within-cluster)
    from spatialdata_spark.pipeline.clustering import kmeans_lloyd

    assign, _ = kmeans_lloyd(emb, k=2, n_iter=2, method="arrow")
    clusters = {r["id"]: r["cluster"] for r in assign.collect()}
    assert len(clusters) == 10
    dropped = set()
    for a in sorted(vecs):
        for b in sorted(vecs):
            if a >= b or clusters[a] != clusters[b]:
                continue
            d = sum(x * y for x, y in zip(qv[a], qv[b]))
            na = sum(x * x for x in qv[a])
            nb = sum(x * x for x in qv[b])
            if d > 0 and scale * d * d >= coeff * na * nb:
                dropped.add(b)
    expected = sorted(set(vecs) - dropped)
    assert got == expected
    # sanity: the overflow regime is actually exercised
    gmax = max(sum(x * x for x in qv[i]) for i in vecs)
    assert scale * gmax * gmax >= 2**63


def test_gopher_rules_hand_computed(spark):
    from spatialdata_spark.pipeline.textstats import gopher_rules

    docs = spark.createDataFrame(
        [
            # 6 words, all alpha, mean len (3+3+5+3+3+4)/6=3.5, 'the'+'and'
            (1, "the cat sat and the mat"),
            # symbol soup: 3 hashes for 4 words -> r_symbols fails
            (2, "alpha # # # beta gamma delta"),
            # numbers only -> r_alpha fails (0 of 3 words has a letter)
            (3, "123 456 789"),
            (4, ""),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in gopher_rules(docs, min_words=2, min_stopwords=2).collect()
    }
    assert out[1]["n_words"] == 6
    assert out[1]["n_word_chars"] == 18
    assert out[1]["n_stop_distinct"] == 2  # 'the', 'and'
    assert out[1]["passes"] == 1
    assert out[2]["n_sym"] == 3
    assert out[2]["r_symbols"] == 0 and out[2]["passes"] == 0
    assert out[3]["n_alpha_words"] == 0
    assert out[3]["r_alpha"] == 0
    assert out[4]["n_words"] == 0 and out[4]["passes"] == 0


def test_ngram_containment_asymmetric(spark):
    """A quote fully contained in a larger doc: containment fires from
    the small side only (the case Jaccard misses)."""
    from spatialdata_spark.pipeline.dedup import ngram_containment_pairs

    quote = "alpha beta gamma delta epsilon"
    filler = " ".join(f"w{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, quote), (2, filler + " " + quote + " " + filler.replace("w", "v"))],
        ["doc_id", "text"],
    )
    out = {
        (r["id_a"], r["id_b"]): (r["n_shared"], r["n_grams_a"])
        for r in ngram_containment_pairs(docs, n=3, tau_pct=50).collect()
    }
    # doc1 has 3 distinct 3-grams, all present in doc2
    assert out[(1, 2)] == (3, 3)
    # doc2's gram set is ~80 grams; 3 shared < 50% -> no (2,1) pair
    assert (2, 1) not in out


def test_paragraph_dedup_keep_first(spark):
    """Global keep-first: the canonical copy (smallest (doc_id, pos))
    survives; later repeats across AND within documents are cut."""
    from spatialdata_spark.pipeline.filters import paragraph_dedup

    docs = spark.createDataFrame(
        [
            (1, "aa bb cc dd ee ff"),          # segs: 'aa bb cc', 'dd ee ff'
            (2, "aa bb cc xx yy zz"),          # first seg repeats doc1's
            (3, "dd ee ff dd ee ff"),          # repeats doc1's + itself
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: (r["clean_text"], r["n_removed"])
        for r in paragraph_dedup(docs, seg_words=3).collect()
    }
    assert out[1] == ("aa bb cc dd ee ff", 0)
    assert out[2] == ("xx yy zz", 1)
    assert out[3] == ("", 2)


def test_lang_temperature_weights_sqrt(spark):
    import math

    from spatialdata_spark.pipeline.filters import lang_temperature_weights

    docs = spark.createDataFrame(
        [(i, "x", "en" if i < 9 else "fr") for i in range(10)],
        ["doc_id", "text", "lang"],
    )
    out = {r["lang"]: r.asDict() for r in lang_temperature_weights(docs).collect()}
    tot = math.sqrt(9) + math.sqrt(1)
    assert out["en"]["n_docs"] == 9
    assert abs(out["en"]["sample_weight"] - 3 / tot) < 1e-9
    assert abs(out["fr"]["sample_weight"] - 1 / tot) < 1e-9
    # the boost: en is 90% of docs but only 75% of the sample
    assert out["en"]["sample_weight"] < 0.9


def test_paragraph_dedup_matches_python_reference_random(spark):
    """Randomized corpus: keep-first semantics pinned against a
    driver-side reference over every (doc, segment) occurrence."""
    import random

    from spatialdata_spark.pipeline.filters import paragraph_dedup

    rng = random.Random(3)
    vocab = [f"w{i}" for i in range(12)]
    texts = {
        d: " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 17)))
        for d in range(30)
    }
    docs = spark.createDataFrame(list(texts.items()), ["doc_id", "text"])

    seen = set()
    expected = {}
    for d in sorted(texts):
        # split('\s+') on an empty/whitespace string yields [''] in both
        # engines, so an empty doc carries ONE empty segment — the same
        # contract as boilerplate_remove and its oracle
        ws = texts[d].lower().strip().split() or [""]
        segs = [" ".join(ws[i : i + 3]) for i in range(0, len(ws), 3)]
        kept, removed = [], 0
        for s in segs:
            if s in seen:
                removed += 1
            else:
                seen.add(s)
                kept.append(s)
        expected[d] = (" ".join(kept), removed)

    got = {
        r["doc_id"]: (r["clean_text"], r["n_removed"])
        for r in paragraph_dedup(docs, seg_words=3).collect()
    }
    assert got == expected


def test_containment_matches_python_reference_random(spark):
    import random

    from spatialdata_spark.pipeline.dedup import ngram_containment_pairs

    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(8)]
    texts = {
        d: " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 12)))
        for d in range(25)
    }
    docs = spark.createDataFrame(list(texts.items()), ["doc_id", "text"])
    grams = {
        d: {
            " ".join(ws[i : i + 3])
            for i in range(len(ws) - 2)
        }
        for d, t in texts.items()
        for ws in [[w for w in t.lower().split() if w]]
    }
    expected = set()
    for a in grams:
        for b in grams:
            if a == b or not grams[a]:
                continue
            sh = len(grams[a] & grams[b])
            if sh and 100 * sh >= 30 * len(grams[a]):
                expected.add((a, b, sh, len(grams[a])))
    got = {
        (r["id_a"], r["id_b"], r["n_shared"], r["n_grams_a"])
        for r in ngram_containment_pairs(
            docs, n=3, tau_pct=30, max_gram_df=10**6
        ).collect()
    }
    assert got == expected


def test_kmv_distinct_exact_below_k_and_estimator(spark):
    from spatialdata_spark.pipeline.textstats import kmv_distinct

    docs = spark.createDataFrame(
        [
            (1, "aa bb cc aa", "s1"),
            (2, "bb dd", "s1"),
            (3, " ".join(f"t{i}" for i in range(40)), "s2"),
        ],
        ["doc_id", "text", "source"],
    )
    out = {r["source"]: r.asDict() for r in kmv_distinct(docs, k=8).collect()}
    # s1 has 4 distinct tokens < k -> exact
    assert out["s1"]["n_used"] == 4
    assert out["s1"]["est_distinct"] == 4
    # s2 has 40 distinct tokens: estimator path, order-of-magnitude sane
    assert out["s2"]["n_used"] == 8
    P = 2147483647
    assert out["s2"]["est_distinct"] == (7 * P) // out["s2"]["kth_hash"]
    assert 10 <= out["s2"]["est_distinct"] <= 200


def test_bpe_train_hand_computed_merges(spark):
    """Sennrich's canonical low/lower/newest example: merge order and
    counts are hand-derivable."""
    from spatialdata_spark.pipeline.bpe import bpe_token_counts, bpe_train

    docs = spark.createDataFrame(
        [
            (1, "low lower lowest low low"),
            (2, "new newer newest new"),
            (3, "low new low"),
        ],
        ["doc_id", "text"],
    )
    merges, wf = bpe_train(docs, n_merges=4)
    got = [(r["rank"], r["left"], r["right"], r["merged"], r["cnt"]) for r in merges.orderBy("rank").collect()]
    # l+o appears in low(5)+lower(1)+lowest(1)=7; then lo+w same 7;
    # e+w in new(3)+newer+newest... wait new='n e w': e+w count =
    # 3+1+1=5 (new, newer, newest); then n+ew=5
    assert got == [
        (1, "l", "o", "lo", 7),
        (2, "lo", "w", "low", 7),
        (3, "e", "w", "ew", 5),
        (4, "n", "ew", "new", 5),
    ]
    counts = {r["doc_id"]: r["n_bpe_tokens"] for r in bpe_token_counts(docs, wf).collect()}
    # doc1: low(1) lower(low,e,r=3) lowest(low,e,s,t=4) low low -> 10
    assert counts == {1: 10, 2: 9, 3: 3}


def test_bpe_merge_respects_symbol_boundaries(spark):
    """A learned pair must not merge inside longer symbols: pair (a,b)
    with words 'ab' and 'abc' — after (a,b) merges, 'c' stays its own
    symbol and (ab,c) is a DIFFERENT pair."""
    from spatialdata_spark.pipeline.bpe import bpe_train

    docs = spark.createDataFrame(
        [(1, "ab ab ab abc xy")], ["doc_id", "text"]
    )
    merges, wf = bpe_train(docs, n_merges=2)
    got = [(r["left"], r["right"], r["cnt"]) for r in merges.orderBy("rank").collect()]
    assert got[0] == ("a", "b", 4)  # 3x 'ab' + 1x 'abc'
    assert got[1] == ("ab", "c", 1)
    seqs = {r["w"]: r["seq"] for r in wf.collect()}
    assert seqs["abc"] == " abc "
    assert seqs["xy"] == " x  y "


def test_bpe_run_merging_left_to_right(spark):
    """'aaaa' under pair (a,a): left-to-right non-overlapping scan
    gives (aa)(aa); odd runs leave the tail single: 'aaa' -> (aa)(a)."""
    from spatialdata_spark.pipeline.bpe import bpe_train

    docs = spark.createDataFrame([(1, "aaaa aaa")], ["doc_id", "text"])
    merges, wf = bpe_train(docs, n_merges=1)
    seqs = {r["w"]: r["seq"] for r in wf.collect()}
    assert seqs["aaaa"] == " aa  aa "
    assert seqs["aaa"] == " aa  a "


def _bpe_train_naive(words):
    """Driver-side sequential Sennrich loop — the semantics oracle the
    distributed batched/incremental trainer must reproduce exactly.
    ``words``: dict word -> freq.  Returns (merges, final symbol seqs)."""
    seqs = {w: list(w) for w in words}
    merges = []
    while True:
        counts: dict = {}
        for w, syms in seqs.items():
            f = words[w]
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        (l, r), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((l, r, cnt))
        for w, syms in seqs.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            seqs[w] = out
        yield merges[-1], {w: s[:] for w, s in seqs.items()}


def test_bpe_batched_incremental_matches_sequential(spark):
    """The batched + delta-maintained trainer must emit EXACTLY the
    sequential argmax merge order, on a corpus engineered with ties,
    runs, symbol-string collisions ('a','bc' vs existing 'abc'), and
    quote/backslash characters (the F.expr escaping hazard)."""
    import random

    from spatialdata_spark.pipeline.bpe import bpe_train

    rng = random.Random(7)
    alphabet = list("abcde") + ["'", "\\"]
    texts = []
    for _ in range(120):
        n = rng.randint(1, 6)
        texts.append(
            " ".join(
                "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 7)))
                for _ in range(n)
            )
        )
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )

    words: dict = {}
    for t in texts:
        for w in t.lower().split():
            words[w] = words.get(w, 0) + 1

    n_merges = 48
    expected, final_seqs = [], None
    for (l, r, cnt), snap in _bpe_train_naive(words):
        expected.append((l, r, l + r, cnt))
        final_seqs = snap
        if len(expected) == n_merges:
            break

    merges, wf = bpe_train(docs, n_merges=n_merges, batch=8, rewrite_every=8)
    got = [
        (x["left"], x["right"], x["merged"], x["cnt"])
        for x in merges.orderBy("rank").collect()
    ]
    assert got == expected
    seqs = {x["w"]: x["seq"] for x in wf.collect()}
    for w, syms in final_seqs.items():
        assert seqs[w] == " " + "  ".join(syms) + " ", w


def test_shard_shuffle_deterministic_partition(spark):
    from spatialdata_spark.pipeline.filters import shard_shuffle

    df = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    out = shard_shuffle(df, n_shards=8)
    rows = out.collect()
    assert len(rows) == 1000
    # every doc exactly once, shards within range
    assert sorted(r["doc_id"] for r in rows) == list(range(1000))
    assert all(0 <= r["shard"] < 8 for r in rows)
    # positions dense per shard: 0..n_s-1
    from collections import defaultdict

    per = defaultdict(list)
    for r in rows:
        per[r["shard"]].append(r["pos_in_shard"])
    for s, ps in per.items():
        assert sorted(ps) == list(range(len(ps)))
    # decorrelated from id order: consecutive ids land in different
    # shards more often than not, and position != id rank
    m = {r["doc_id"]: r for r in rows}
    same = sum(1 for i in range(999) if m[i]["shard"] == m[i + 1]["shard"])
    assert same < 500
    # rerun-stable
    again = {r["doc_id"]: (r["shard"], r["pos_in_shard"]) for r in shard_shuffle(df, n_shards=8).collect()}
    assert again == {k: (v["shard"], v["pos_in_shard"]) for k, v in m.items()}


def test_interleave_weighted_schedule(spark):
    from spatialdata_spark.pipeline.filters import interleave_weighted

    rows = [(i, "en" if i % 3 else "code") for i in range(120)]
    docs = spark.createDataFrame(rows, ["doc_id", "lang"])
    out = interleave_weighted(
        docs, weights={"code": 1, "en": 2}, n_shards=2
    ).collect()
    from collections import defaultdict

    per = defaultdict(list)
    for r in out:
        per[r["shard"]].append((r["pos_in_shard"], r["lang"]))
    assert set(per) == {0, 1}
    for shard, items in per.items():
        items.sort()
        # dense positions 0..R*3-1
        assert [p for p, _ in items] == list(range(len(items)))
        assert len(items) % 3 == 0
        # every round is exactly [code, en, en]
        for i in range(0, len(items), 3):
            assert [l for _, l in items[i : i + 3]] == ["code", "en", "en"]
    # first-exhausted: total kept <= input, deterministic rerun
    again = interleave_weighted(docs, weights={"code": 1, "en": 2}, n_shards=2).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))


def test_perplexity_buckets_tercile_sizes(spark):
    from spatialdata_spark.pipeline.textstats import perplexity_buckets

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = perplexity_buckets(docs).collect()
    from collections import Counter

    sizes = Counter(r["bucket"] for r in out)
    n = len(out)
    # terciles: each bucket within a few rows of n/3 (ties on rounded
    # nll can shift the boundary slightly)
    for b in ("head", "middle", "tail"):
        assert abs(sizes[b] - n / 3) < n * 0.05, sizes
    # head has the lowest nll values
    head_max = max(r["nll"] for r in out if r["bucket"] == "head")
    tail_min = min(r["nll"] for r in out if r["bucket"] == "tail")
    assert head_max <= tail_min


def test_c4_rules_each_rule_isolated(spark):
    from spatialdata_spark.pipeline.filters import c4_rules

    docs = spark.createDataFrame(
        [
            # 3 kept sentences -> keep_doc
            (1, "One two three four five.\nSix seven eight nine ten!\nA b c d e?"),
            # line too short (4 words) -> dropped line, 0 sentences
            (2, "One two three four."),
            # no terminal punctuation -> dropped
            (3, "one two three four five six seven"),
            # javascript line dropped even though well-formed
            (4, "Please enable javascript to view this page today."),
            # lorem ipsum kills the page even with 3 good lines
            (5, "lorem ipsum dolor sit amet now.\nOne two three four five.\nSix seven eight nine ten."),
            # curly brace kills the page
            (6, "Alpha beta gamma delta epsilon.\nOne two three four five.\nSix seven eight nine ten. {"),
            # empty text
            (7, ""),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in c4_rules(docs).collect()}
    assert rows[1]["n_kept_lines"] == 3 and rows[1]["keep_doc"] == 1
    assert rows[2]["n_kept_lines"] == 0 and rows[2]["keep_doc"] == 0
    assert rows[3]["n_kept_lines"] == 0
    assert rows[4]["n_kept_lines"] == 0
    # page gates: lines kept but the page flag is 0
    assert rows[5]["n_kept_lines"] == 3 and rows[5]["keep_doc"] == 0
    assert rows[6]["keep_doc"] == 0
    assert rows[7]["n_lines"] == 1 and rows[7]["n_kept_lines"] == 0
    # sentence counting: doc 1 has one terminal mark per kept line
    assert rows[1]["n_sentences"] == 3


def test_ngram_novelty_matches_python_reference_random(spark):
    import random

    from spatialdata_spark.pipeline.filters import ngram_novelty

    rng = random.Random(77)
    vocab = [f"w{i}" for i in range(12)]
    docs = [
        (d, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 15))))
        for d in range(40)
    ]
    n = 3
    gram_sets = {}
    for d, t in docs:
        toks = t.split()
        gram_sets[d] = {
            " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
        }
    first = {}
    for d in sorted(gram_sets):
        for g in gram_sets[d]:
            first.setdefault(g, d)
    exp = {
        d: (
            len(gs),
            sum(1 for g in gs if first[g] == d),
        )
        for d, gs in gram_sets.items()
        if gs
    }
    out = {
        r["doc_id"]: (r["n_grams"], r["n_novel"])
        for r in ngram_novelty(
            spark.createDataFrame(docs, "doc_id long, text string"), n=n
        ).collect()
    }
    assert out == exp


def test_bigram_lm_hand_computed(spark):
    import math

    from spatialdata_spark.pipeline.textstats import bigram_lm_score

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b"), (3, "c"), (4, "")],
        "doc_id long, text string",
    )
    # corpus: tokens a,b,a,b,a,b,c -> c1: a=3,b=3,c=1; V=3
    # bigrams: doc1 [a b, b a, a b], doc2 [a b] -> c2: "a b"=3, "b a"=1
    p_ab = (3 + 1) / (3 + 3)
    p_ba = (1 + 1) / (3 + 3)
    exp1 = -(math.log(p_ab) * 2 + math.log(p_ba)) / 3
    exp2 = -math.log(p_ab)
    out = {r["doc_id"]: r["nll_bigram"] for r in bigram_lm_score(docs).collect()}
    assert set(out) == {1, 2}  # doc3 has no bigram, doc4 empty
    assert out[1] == round(exp1, 6)
    assert out[2] == round(exp2, 6)


def test_kmv_source_overlap_identical_disjoint_and_reference(spark):
    import random

    from spatialdata_spark.pipeline.textstats import kmv_source_overlap

    # identical sources -> J=1; disjoint -> J=0
    docs = spark.createDataFrame(
        [
            (1, "x y z q r", "A"),
            (2, "x y z q r", "B"),
            (3, "m n o p s", "C"),
        ],
        "doc_id long, text string, source string",
    )
    out = {
        (r["s1"], r["s2"]): (r["n_common"], r["n_union_k"], r["est_jaccard"])
        for r in kmv_source_overlap(docs, k=8).collect()
    }
    assert out[("A", "B")][2] == 1.0
    assert out[("A", "C")][2] == 0.0
    assert out[("B", "C")][2] == 0.0

    # randomized: estimator equals the python replay of the same
    # order statistics (not merely close — the sketch is deterministic)
    B, P = 1000003, 2147483647

    def ph(t):
        h = 0
        for c in t:
            h = (h * B + ord(c)) % P
        return h + 1

    rng = random.Random(5)
    vocab = [f"t{i}" for i in range(300)]
    rows, sets = [], {}
    for si, s in enumerate(["S1", "S2", "S3"]):
        toks = set(rng.sample(vocab, 120))
        sets[s] = {ph(t) for t in toks}
        rows.append((si, " ".join(sorted(toks)), s))
    k = 16
    exp = {}
    for a in sets:
        for b in sets:
            if a < b:
                d = sorted(sets[a] | sets[b])[:k]
                common = sum(1 for h in d if h in sets[a] and h in sets[b])
                exp[(a, b)] = (common, len(d), round(common / len(d), 9))
    got = {
        (r["s1"], r["s2"]): (r["n_common"], r["n_union_k"], r["est_jaccard"])
        for r in kmv_source_overlap(
            spark.createDataFrame(rows, "doc_id long, text string, source string"),
            k=k,
        ).collect()
    }
    assert got == exp


def test_bloom_decontaminate_superset_and_reference(spark):
    """Bloom flags are a superset of exact hits (one-sided error) and
    match a hashlib-md5 python reference bloom bit-for-bit."""
    import hashlib
    import random

    from spatialdata_spark.pipeline.filters import (
        bloom_decontaminate,
        decontaminate,
    )

    rng = random.Random(7)
    # unicode words exercise the utf-8 byte identity of the md5 path
    vocab = [f"w{i}" for i in range(36)] + ["héllo", "中文词", "ωμέγα", "naïve"]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 25))))
        for i in range(1, 31)
    ]
    corpus = spark.createDataFrame(rows[:20], ["doc_id", "text"])
    bench = spark.createDataFrame(rows[20:], ["doc_id", "text"])

    m, k, n = 1 << 12, 3, 3
    out = {
        r["doc_id"]: (r["n_grams"], r["n_maybe"])
        for r in bloom_decontaminate(
            corpus, bench, n=n, m_bits=m, k=k
        ).collect()
    }
    exact = {
        r["doc_id"]: r["n_shared"]
        for r in decontaminate(corpus, bench, n=n).collect()
    }
    # superset: every exact hit is a bloom hit, count-wise
    for d, n_shared in exact.items():
        assert d in out and out[d][1] >= n_shared

    # python reference bloom
    def grams(text):
        ts = text.lower().strip().split()
        return {
            " ".join(ts[i : i + n]) for i in range(len(ts) - n + 1)
        }

    def probes(g):
        hx = hashlib.md5(g.encode()).hexdigest()
        h1, h2 = int(hx[:15], 16), int(hx[15:30], 16)
        step = h2 % m + 1
        return [(h1 % m + j * step) % m for j in range(k)]

    bits = set()
    for _, t in rows[20:]:
        for g in grams(t):
            bits.update(probes(g))
    ref = {}
    for d, t in rows[:20]:
        gs = grams(t)
        if not gs:
            continue
        maybe = sum(1 for g in gs if all(p in bits for p in probes(g)))
        if maybe:
            ref[d] = (len(gs), maybe)
    assert out == ref


def test_cms_topk_overestimates_and_reference(spark):
    """CMS estimates dominate true counts and equal a python
    reference sketch exactly."""
    import hashlib
    import random
    from collections import Counter

    from spatialdata_spark.pipeline.textstats import cms_topk

    rng = random.Random(11)
    vocab = [f"t{i}" for i in range(56)] + ["café", "東京", "Ångström", "søren"]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(30)))
        for i in range(1, 21)
    ]
    d, w, topk = 3, 64, 10
    out = {
        r["token"]: (r["c_true"], r["c_cms"])
        for r in cms_topk(
            spark.createDataFrame(rows, ["doc_id", "text"]),
            d=d,
            w=w,
            topk=topk,
        ).collect()
    }
    counts = Counter()
    for _, t in rows:
        counts.update(t.lower().strip().split())

    def buckets(tok):
        hx = hashlib.md5(tok.encode()).hexdigest()
        h1, h2 = int(hx[:15], 16), int(hx[15:30], 16)
        step = h2 % w + 1
        return [(j, (h1 % w + j * step) % w) for j in range(d)]

    cells = Counter()
    for tok, c in counts.items():
        for cell in buckets(tok):
            cells[cell] += c
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:topk]
    ref = {
        tok: (c, min(cells[cell] for cell in buckets(tok)))
        for tok, c in top
    }
    assert out == ref
    assert all(cms >= true for true, cms in out.values())


def test_gram_matrix_numpy_reference(spark):
    import numpy as np

    from spatialdata_spark.pipeline.clustering import gram_matrix

    rng = np.random.default_rng(3)
    X = rng.normal(size=(50, 8)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(50)],
        "vec_id long, embedding array<float>",
    )
    out = {
        (r["pos_i"], r["pos_j"]): r["gram"]
        for r in gram_matrix(df, q=100).collect()
    }
    Q = np.floor(X.astype(np.float64) * 100 + 0.5).astype(np.int64)
    G = Q.T @ Q
    assert len(out) == 8 * 9 // 2
    for (i, j), v in out.items():
        assert i <= j and v == G[i, j]


def test_sentence_stats_hand_cases(spark):
    from spatialdata_spark.pipeline.textstats import sentence_stats

    rows = [
        (1, "One two three. Four five! Six?"),
        (2, "..."),  # no sentences -> no row
        (3, "a " * 35 + "."),  # one 35-word run-on
    ]
    out = {
        r["doc_id"]: r
        for r in sentence_stats(
            spark.createDataFrame(rows, ["doc_id", "text"])
        ).collect()
    }
    assert set(out) == {1, 3}
    assert out[1]["n_sentences"] == 3
    assert out[1]["mean_words"] == round((3 + 2 + 1) / 3, 9)
    assert out[1]["max_words"] == 3
    assert out[1]["n_run_on"] == 0
    assert out[3]["n_sentences"] == 1
    assert out[3]["max_words"] == 35
    assert out[3]["n_run_on"] == 1


def test_topn_window_pandas_reference(spark):
    import datetime
    import random

    import __spark_entry__ as entrymod

    rng = random.Random(5)
    rows = [
        (
            i,
            datetime.datetime(2024, 1, 1 + rng.randint(0, 2), rng.randint(0, 23)),
            rng.randint(1, 12),
            "click",
            1.0,
            "{}",
        )
        for i in range(300)
    ]
    ev = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    from pyspark.sql import functions as F

    daily = (
        ev.groupBy(
            F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"),
            "user_id",
        )
        .count()
        .collect()
    )
    ref = {}
    per_day = {}
    for r in daily:
        per_day.setdefault(r["day"], []).append((-r["count"], r["user_id"]))
    for day, lst in per_day.items():
        for rk, (negc, uid) in enumerate(sorted(lst)[:5], start=1):
            ref[(day, uid)] = (-negc, rk)

    fake_read = lambda s, d, t: ev  # noqa: E731
    orig = entrymod._read
    entrymod._read = fake_read
    try:
        out = {
            (r["day"], r["user_id"]): (r["n_events"], r["rk"])
            for r in entrymod.st_topn_window(spark, "unused").collect()
        }
    finally:
        entrymod._read = orig
    assert out == ref


def test_token_entropy_python_reference(spark):
    import math
    import random
    from collections import Counter

    from spatialdata_spark.pipeline.textstats import token_entropy

    rng = random.Random(13)
    vocab = [f"w{i}" for i in range(25)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(5, 40))),
         rng.choice(["a", "b", "c"]))
        for i in range(1, 40)
    ]
    out = {
        r["source"]: r
        for r in token_entropy(
            spark.createDataFrame(rows, ["doc_id", "text", "source"])
        ).collect()
    }
    by_src = {}
    for _, t, s in rows:
        by_src.setdefault(s, Counter()).update(t.lower().split())
    for s, cnt in by_src.items():
        n = sum(cnt.values())
        ent = math.log(n) - sum(c * math.log(c) for c in cnt.values()) / n
        assert out[s]["n_tokens"] == n
        assert out[s]["n_types"] == len(cnt)
        assert abs(out[s]["entropy"] - ent) < 1e-6
        assert out[s]["ttr"] == round(len(cnt) / n, 9)


def test_jsd_sources_dense_reference(spark):
    """The p=0 closed form equals the dense textbook JSD (full vocab,
    zero-p terms included)."""
    import math
    import random
    from collections import Counter

    from spatialdata_spark.pipeline.textstats import jsd_sources

    rng = random.Random(17)
    vocab = [f"w{i}" for i in range(30)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(5, 30))),
         rng.choice(["a", "b"]))
        for i in range(1, 30)
    ]
    out = {
        r["source"]: r["jsd"]
        for r in jsd_sources(
            spark.createDataFrame(rows, ["doc_id", "text", "source"])
        ).collect()
    }
    corpus = Counter()
    by_src = {}
    for _, t, s in rows:
        ts = t.lower().split()
        corpus.update(ts)
        by_src.setdefault(s, Counter()).update(ts)
    N = sum(corpus.values())
    for s, cnt in by_src.items():
        ns = sum(cnt.values())
        jsd = 0.0
        for tok, cq in corpus.items():
            q = cq / N
            p = cnt.get(tok, 0) / ns
            m = (p + q) / 2
            if p > 0:
                jsd += 0.5 * p * math.log(p / m)
            jsd += 0.5 * q * math.log(q / m)
        assert abs(out[s] - jsd) < 1e-6, (s, out[s], jsd)


def test_rolling_active_users_bruteforce(spark):
    import datetime
    import random

    from spatialdata_spark.operators.temporal import rolling_active_users

    rng = random.Random(23)
    rows = [
        (
            i,
            datetime.datetime(2024, 2, 1 + rng.randint(0, 20), 12),
            rng.randint(1, 9),
            "e",
            0.0,
            "{}",
        )
        for i in range(200)
    ]
    ev = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    out = {
        (r["day"], r["window_days"]): r["n_active"]
        for r in rolling_active_users(ev, windows=(3, 7)).collect()
    }
    ud = {(r[1].date(), r[2]) for r in rows}
    days = sorted({d for d, _ in ud})
    lo, hi = days[0], days[-1]
    ref = {}
    d = lo
    while d <= hi:
        for w in (3, 7):
            users = {
                u
                for dd, u in ud
                if dd <= d and (d - dd).days <= w - 1
            }
            if users:
                ref[(d.strftime("%Y-%m-%d"), w)] = len(users)
        d += datetime.timedelta(days=1)
    assert out == ref


def test_curation_funnel_composes_verified_stages(spark):
    """The one-plan funnel equals the composition of its individually
    oracle-verified stages, and stage counts are monotone."""
    from spatialdata_spark.pipeline.textstats import (
        curation_funnel,
        gopher_rules,
        perplexity_buckets,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .limit(200)
        .cache()
    )
    out = {
        r["source"]: r
        for r in curation_funnel(docs, min_words=40, min_stopwords=1).collect()
    }
    passes = {
        r["doc_id"]: r["passes"]
        for r in gopher_rules(docs, min_words=40, min_stopwords=1).collect()
    }
    buckets = {
        r["doc_id"]: r["bucket"] for r in perplexity_buckets(docs).collect()
    }
    rows = docs.select("doc_id", "source", "text").collect()
    keeper = {}
    for r in sorted(rows, key=lambda r: r["doc_id"]):
        keeper.setdefault(r["text"], r["doc_id"])
    ref = {}
    for r in rows:
        s = r["source"]
        st = ref.setdefault(s, [0, 0, 0, 0])
        st[0] += 1
        p = passes[r["doc_id"]]
        st[1] += p
        u = p and keeper[r["text"]] == r["doc_id"]
        st[2] += 1 if u else 0
        st[3] += (
            1
            if u and buckets.get(r["doc_id"]) in ("head", "middle")
            else 0
        )
    for s, r in out.items():
        got = [r["n_total"], r["n_quality"], r["n_unique"], r["n_kept"]]
        assert got == ref[s], (s, got, ref[s])
        assert got[0] >= got[1] >= got[2] >= got[3]


def test_pca_project_numpy_reference(spark):
    """Distributed two-pass PCA equals a driver-side numpy PCA on the
    same quantized data (eigvals exactly-ordered, projections equal
    under the fixed sign convention)."""
    import numpy as np

    from spatialdata_spark.pipeline.clustering import pca_project

    rng = np.random.default_rng(29)
    # anisotropic cloud so the spectrum is unambiguous
    A = rng.normal(size=(6, 6))
    X = (rng.normal(size=(120, 6)) @ A).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(120)],
        "vec_id long, embedding array<float>",
    )
    proj, eigvals, comps = pca_project(df, k=3, q=100)
    out = {r["vec_id"]: np.array(r["pc"]) for r in proj.collect()}

    Q = np.floor(X.astype(np.float64) * 100 + 0.5)
    mu = Q.mean(axis=0)
    C = (Q - mu).T @ (Q - mu) / (len(Q) - 1)
    w, v = np.linalg.eigh(C)
    order = np.argsort(w)[::-1][:3]
    ref_vals, ref_v = w[order], v[:, order]
    for j in range(3):
        i = int(np.argmax(np.abs(ref_v[:, j])))
        if ref_v[i, j] < 0:
            ref_v[:, j] = -ref_v[:, j]
    assert np.allclose(eigvals, ref_vals, rtol=1e-9)
    assert np.allclose(comps, ref_v, rtol=1e-9, atol=1e-9)
    P = (Q - mu) @ ref_v
    for i in range(120):
        assert np.allclose(out[i], P[i], rtol=1e-9, atol=1e-9)


def test_token_burstiness_python_reference(spark):
    import random
    from collections import Counter

    from spatialdata_spark.pipeline.textstats import token_burstiness

    rng = random.Random(31)
    vocab = [f"w{i}" for i in range(15)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 50))))
        for i in range(1, 26)
    ]
    out = {
        r["token"]: r
        for r in token_burstiness(
            spark.createDataFrame(rows, ["doc_id", "text"]), topk=10
        ).collect()
    }
    per_tok = {}
    for _, t in rows:
        for tok, c in Counter(t.lower().split()).items():
            st = per_tok.setdefault(tok, [0, 0, 0])  # tf, df, s2
            st[0] += c
            st[1] += 1
            st[2] += c * c
    N = len(rows)
    top = sorted(per_tok.items(), key=lambda kv: (-kv[1][0], kv[0]))[:10]
    assert set(out) == {tok for tok, _ in top}
    for tok, (tf, df, s2) in top:
        r = out[tok]
        assert (r["tf"], r["df"]) == (tf, df)
        assert r["burstiness"] == round((N * s2 - tf * tf) / (N * tf), 9)


def test_cooccurrence_pmi_python_reference(spark):
    import math
    import random

    from spatialdata_spark.pipeline.textstats import cooccurrence_pmi

    rng = random.Random(37)
    vocab = [f"w{i}" for i in range(12)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 15))))
        for i in range(1, 31)
    ]
    out = {
        (r["tok_a"], r["tok_b"]): r
        for r in cooccurrence_pmi(
            spark.createDataFrame(rows, ["doc_id", "text"]), topk=6
        ).collect()
    }
    pres = [set(t.lower().split()) for _, t in rows]
    dfreq = {}
    for s in pres:
        for tok in s:
            dfreq[tok] = dfreq.get(tok, 0) + 1
    top = sorted(dfreq.items(), key=lambda kv: (-kv[1], kv[0]))[:6]
    N = len(rows)
    ref = {}
    for i, (a, na) in enumerate(top):
        for b, nb in top[i + 1 :]:
            x, y = (a, b) if a < b else (b, a)
            nx, ny = (na, nb) if a < b else (nb, na)
            nab = sum(1 for s in pres if a in s and b in s)
            if nab:
                ref[(x, y)] = (nx, ny, nab, round(math.log(nab * 1.0 * N / (nx * ny)), 6))
    assert set(out) == set(ref)
    for k, (na, nb, nab, pmi) in ref.items():
        r = out[k]
        assert (r["n_a"], r["n_b"], r["n_ab"]) == (na, nb, nab)
        assert abs(r["pmi"] - pmi) < 2e-6


def test_inter_event_numpy_reference(spark):
    import datetime
    import random

    import numpy as np

    import __spark_entry__ as entrymod

    rng = random.Random(41)
    rows = [
        (
            i,
            datetime.datetime(2024, 3, 1) + datetime.timedelta(seconds=rng.randint(0, 500000), microseconds=rng.randint(0, 999999)),
            rng.randint(1, 6),
            rng.choice(["a", "b"]),
            0.0,
            "{}",
        )
        for i in range(200)
    ]
    ev = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    orig = entrymod._read
    entrymod._read = lambda s, d, t: ev
    try:
        out = {
            r["event_type"]: r
            for r in entrymod.st_inter_event(spark, "unused").collect()
        }
    finally:
        entrymod._read = orig
    by_user = {}
    for eid, ts, uid, et, _, _ in rows:
        by_user.setdefault(uid, []).append((ts, eid, et))
    gaps = {}
    for uid, lst in by_user.items():
        lst.sort()
        for (t0, _, _), (t1, _, et1) in zip(lst, lst[1:]):
            us = round((t1 - t0).total_seconds() * 1e6)
            gaps.setdefault(et1, []).append(us)
    for et, g in gaps.items():
        a = np.array(sorted(g), dtype=float)
        assert out[et]["n_gaps"] == len(g)
        assert out[et]["p50_us"] == round(float(np.percentile(a, 50)), 6)
        assert out[et]["p90_us"] == round(float(np.percentile(a, 90)), 6)


def test_label_fstat_numpy_reference(spark):
    import numpy as np

    from spatialdata_spark.pipeline.clustering import label_fstat

    rng = np.random.default_rng(43)
    # dim 0 separates the classes strongly; dim 1-3 are noise
    labels = rng.integers(0, 3, size=80)
    X = rng.normal(size=(80, 4))
    X[:, 0] += labels * 3.0
    df = spark.createDataFrame(
        [(int(i), [float(v) for v in X[i]], int(labels[i])) for i in range(80)],
        "vec_id long, embedding array<float>, label int",
    )
    out = {r["pos"]: r["f_stat"] for r in label_fstat(df, q=100).collect()}
    Q = np.floor(X.astype(np.float64) * 100 + 0.5)
    for d in range(4):
        groups = [Q[labels == g, d] for g in range(3)]
        N = len(Q)
        k = 3
        S = Q[:, d].sum()
        sb = sum(g.sum() ** 2 / len(g) for g in groups)
        ssb = sb - S * S / N
        ssw = (Q[:, d] ** 2).sum() - sb
        f = (ssb / (k - 1)) / (ssw / (N - k))
        assert abs(out[d] - f) < 1e-5, (d, out[d], f)
    assert out[0] > 50 and all(out[d] < 10 for d in (1, 2, 3))


def test_markov_transitions_python_reference(spark):
    import datetime
    import random

    import __spark_entry__ as entrymod

    rng = random.Random(47)
    rows = [
        (
            i,
            datetime.datetime(2024, 4, 1) + datetime.timedelta(seconds=i * 17 + rng.randint(0, 5)),
            rng.randint(1, 5),
            rng.choice(["x", "y", "z"]),
            0.0,
            "{}",
        )
        for i in range(150)
    ]
    ev = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    orig = entrymod._read
    entrymod._read = lambda s, d, t: ev
    try:
        out = {
            (r["prev"], r["cur"]): (r["n_trans"], r["p_trans"])
            for r in entrymod.st_markov_transitions(spark, "u").collect()
        }
    finally:
        entrymod._read = orig
    by_user = {}
    for eid, ts, uid, et, _, _ in rows:
        by_user.setdefault(uid, []).append((ts, eid, et))
    counts = {}
    for lst in by_user.values():
        lst.sort()
        for (_, _, a), (_, _, b) in zip(lst, lst[1:]):
            counts[(a, b)] = counts.get((a, b), 0) + 1
    tots = {}
    for (a, _), n in counts.items():
        tots[a] = tots.get(a, 0) + n
    ref = {k: (n, round(n / tots[k[0]], 9)) for k, n in counts.items()}
    assert out == ref


def test_vocab_coverage_python_reference(spark):
    import random
    from collections import Counter

    import __spark_entry__ as entrymod

    rng = random.Random(53)
    # zipf-ish: token i drawn with weight 1/(i+1)
    vocab = [f"w{i}" for i in range(50)]
    wts = [1.0 / (i + 1) for i in range(50)]
    rows = [
        (i, " ".join(rng.choices(vocab, weights=wts, k=40)))
        for i in range(1, 21)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    orig = entrymod._read
    entrymod._read = lambda s, d, t: docs
    try:
        out = {
            r["coverage"]: r["n_tokens"]
            for r in entrymod.pl_vocab_coverage(spark, "u").collect()
        }
    finally:
        entrymod._read = orig
    cnt = Counter()
    for _, t in rows:
        cnt.update(t.split())
    ordered = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
    tot = sum(cnt.values())
    ref = {}
    for p in (0.5, 0.9, 0.99):
        cum = 0
        for rk, (_, tf) in enumerate(ordered, start=1):
            cum += tf
            if cum >= p * tot:
                ref[p] = rk
                break
    assert out == ref


def test_hapax_ratio_python_reference(spark):
    import random
    from collections import Counter

    import __spark_entry__ as entrymod

    rng = random.Random(59)
    vocab = [f"w{i}" for i in range(40)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 12))),
         rng.choice(["a", "b"]))
        for i in range(1, 25)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    orig = entrymod._read
    entrymod._read = lambda s, d, t: docs
    try:
        out = {
            r["source"]: r
            for r in entrymod.pl_hapax_ratio(spark, "u").collect()
        }
    finally:
        entrymod._read = orig
    by_src = {}
    for _, t, s in rows:
        by_src.setdefault(s, Counter()).update(t.split())
    for s, cnt in by_src.items():
        hap = sum(1 for c in cnt.values() if c == 1)
        assert out[s]["n_types"] == len(cnt)
        assert out[s]["n_hapax"] == hap
        assert out[s]["hapax_ratio"] == round(hap / len(cnt), 9)


def test_top_parts_per_supplier_reference(spark):
    import __spark_entry__ as entrymod

    rows = [
        # supp 1: parts 10 (rev 100), 11 (50), 12 (50), 13 (10)
        (1, 10, 100.0, 0.0),
        (1, 11, 50.0, 0.0),
        (1, 12, 100.0, 0.5),
        (1, 13, 10.0, 0.0),
        # supp 2: single part
        (2, 20, 30.0, 0.0),
    ]
    li = spark.createDataFrame(
        rows, ["l_suppkey", "l_partkey", "l_extendedprice", "l_discount"]
    )
    orig = entrymod._read
    entrymod._read = lambda s, d, t: li
    try:
        out = {
            (r["l_suppkey"], r["l_partkey"]): r
            for r in entrymod.q_top_parts_per_supplier(spark, "u").collect()
        }
    finally:
        entrymod._read = orig
    # supp 1 total 210; ties on 50 resolve by partkey asc: 11 before 12
    assert set(out) == {(1, 10), (1, 11), (1, 12), (2, 20)}
    assert out[(1, 10)]["rk"] == 1 and out[(1, 10)]["revenue"] == 100.0
    assert out[(1, 11)]["rk"] == 2 and out[(1, 12)]["rk"] == 3
    assert out[(1, 10)]["supp_share"] == round(100.0 / 210.0, 9)
    assert out[(2, 20)]["supp_share"] == 1.0


def test_norm_hist_counts_total(spark):
    import numpy as np

    import __spark_entry__ as entrymod

    rng = np.random.default_rng(61)
    X = rng.normal(size=(90, 8))
    X[:30] *= 0.1  # degenerate small-norm block the histogram must show
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(90)],
        "vec_id long, embedding array<float>",
    )
    orig = entrymod._read
    entrymod._read = lambda s, d, t: df
    try:
        out = {
            r["bucket"]: r["n_vecs"]
            for r in entrymod.pl_norm_hist(spark, "u").collect()
        }
    finally:
        entrymod._read = orig
    Q = np.floor(X * 100 + 0.5).astype(np.int64)
    n2 = (Q * Q).sum(axis=1)
    ref = {}
    for b in n2 // 50:
        ref[int(b)] = ref.get(int(b), 0) + 1
    assert out == ref
    assert sum(out.values()) == 90 and len(out) >= 2


def test_order_gap_numpy_reference(spark):
    import datetime
    import random

    import numpy as np

    import __spark_entry__ as entrymod

    rng = random.Random(67)
    orders = [
        (
            i,
            rng.randint(1, 8),
            datetime.datetime(2024, 1, 1) + datetime.timedelta(days=rng.randint(0, 200)),
        )
        for i in range(120)
    ]
    odf = spark.createDataFrame(orders, ["o_orderkey", "o_custkey", "o_orderdate"])
    segs = [(c, rng.choice(["S1", "S2"])) for c in range(1, 9)]
    cdf = spark.createDataFrame(segs, ["c_custkey", "c_mktsegment"])
    orig = entrymod._read
    entrymod._read = lambda s, d, t: odf if t == "orders" else cdf
    try:
        out = {
            r["c_mktsegment"]: r
            for r in entrymod.q_order_gap(spark, "u").collect()
        }
    finally:
        entrymod._read = orig
    by_cust = {}
    for ok, ck, od in orders:
        by_cust.setdefault(ck, []).append((od.date(), ok))
    seg_of = dict(segs)
    gaps = {}
    for ck, lst in by_cust.items():
        lst.sort()
        for (d0, _), (d1, _) in zip(lst, lst[1:]):
            gaps.setdefault(seg_of[ck], []).append((d1 - d0).days)
    for s, g in gaps.items():
        a = np.array(sorted(g), dtype=float)
        assert out[s]["n_gaps"] == len(g)
        assert out[s]["p50_days"] == round(float(np.percentile(a, 50)), 6)
        assert out[s]["p90_days"] == round(float(np.percentile(a, 90)), 6)


def test_funnel_time_reference(spark):
    import datetime

    import __spark_entry__ as entrymod

    base = datetime.datetime(2024, 5, 1)
    rows = [
        # user 1: signup then purchase 2h later -> 7200s gap
        (1, base, 1, "signup", 0.0, "{}"),
        (2, base + datetime.timedelta(hours=2), 1, "purchase", 0.0, "{}"),
        # user 2: purchase BEFORE signup (excluded), one after (1h)
        (3, base - datetime.timedelta(hours=1), 2, "purchase", 0.0, "{}"),
        (4, base, 2, "signup", 0.0, "{}"),
        (5, base + datetime.timedelta(hours=1), 2, "purchase", 0.0, "{}"),
        # user 3: signup, no purchase -> not converted
        (6, base, 3, "signup", 0.0, "{}"),
        # user 4: purchase, no signup -> not converted
        (7, base, 4, "purchase", 0.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    orig = entrymod._read
    entrymod._read = lambda s, d, t: ev
    try:
        r = entrymod.st_funnel_time(spark, "u").collect()[0]
    finally:
        entrymod._read = orig
    assert r["n_converted"] == 2
    gaps = sorted([7200e6, 3600e6])
    assert r["p50_us"] == round((gaps[0] + gaps[1]) / 2, 6)


def test_anomaly_mad_reference(spark):
    import datetime

    import numpy as np

    import __spark_entry__ as entrymod

    # type "e": 9 quiet days of ~10 events, 1 burst day of 60
    rows = []
    eid = 0
    for d in range(10):
        n = 60 if d == 7 else 10 + (d % 3)
        for _ in range(n):
            rows.append(
                (eid, datetime.datetime(2024, 6, 1 + d, 12), 1, "e", 0.0, "{}")
            )
            eid += 1
    ev = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    orig = entrymod._read
    entrymod._read = lambda s, d, t: ev
    try:
        out = {
            r["day"]: r for r in entrymod.st_anomaly_mad(spark, "u").collect()
        }
    finally:
        entrymod._read = orig
    ns = np.array([60 if d == 7 else 10 + (d % 3) for d in range(10)], float)
    med = float(np.percentile(np.sort(ns), 50))
    mad = float(np.percentile(np.sort(np.abs(ns - med)), 50))
    flagged = {d: int(n > med + 3 * mad) for d, n in enumerate(ns)}
    assert len(out) == 10
    for d in range(10):
        r = out[f"2024-06-{1+d:02d}"]
        assert r["is_anomaly"] == flagged[d]
        assert r["med"] == round(med, 6) and r["mad"] == round(mad, 6)
    assert out["2024-06-08"]["is_anomaly"] == 1


def test_ltv_deciles_reference(spark):
    import __spark_entry__ as entrymod

    # 20 customers with ltv = custkey * 10 -> decile d holds customers
    # ranked (d-1)*2+1..d*2 by ltv desc
    rows = [(i, float(c * 10), c) for i, c in enumerate(range(1, 21))]
    o = spark.createDataFrame(rows, ["o_orderkey", "o_totalprice", "o_custkey"])
    orig = entrymod._read
    entrymod._read = lambda s, d, t: o
    try:
        out = {
            r["decile"]: r
            for r in entrymod.q_customer_ltv_deciles(spark, "u").collect()
        }
    finally:
        entrymod._read = orig
    assert len(out) == 10
    # decile 1 = top-2 customers (200, 190)
    assert out[1]["n_customers"] == 2
    assert out[1]["max_ltv"] == 200.0 and out[1]["min_ltv"] == 190.0
    assert out[1]["avg_ltv"] == 195.0
    assert out[10]["max_ltv"] == 20.0 and out[10]["min_ltv"] == 10.0


def test_bigram_entropy_python_reference(spark):
    import math
    import random
    from collections import Counter

    import __spark_entry__ as entrymod

    rng = random.Random(71)
    vocab = [f"w{i}" for i in range(10)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(2, 30))),
         rng.choice(["a", "b"]))
        for i in range(1, 25)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    orig = entrymod._read
    entrymod._read = lambda s, d, t: docs
    try:
        out = {
            r["source"]: r
            for r in entrymod.pl_bigram_entropy(spark, "u").collect()
        }
    finally:
        entrymod._read = orig
    by_src = {}
    for _, t, s in rows:
        ts = t.split()
        by_src.setdefault(s, Counter()).update(zip(ts, ts[1:]))
    for s, cnt in by_src.items():
        ca = Counter()
        for (a, _), c in cnt.items():
            ca[a] += c
        T = sum(cnt.values())
        h = sum(c * (math.log(ca[a]) - math.log(c)) for (a, _), c in cnt.items()) / T
        assert out[s]["n_bigrams"] == T
        assert abs(out[s]["h_cond"] - h) < 1e-6


def test_hash_split_deterministic_and_proportional(spark):
    from spatialdata_spark.pipeline.filters import hash_split

    docs = spark.range(0, 5000).withColumnRenamed("id", "doc_id")
    a = {r["doc_id"]: r["split"] for r in hash_split(docs).collect()}
    b = {r["doc_id"]: r["split"] for r in hash_split(docs).collect()}
    assert a == b  # stable across runs
    from collections import Counter

    c = Counter(a.values())
    assert set(c) == {"train", "val", "test"}
    assert abs(c["train"] / 5000 - 0.9) < 0.02
    assert abs(c["val"] / 5000 - 0.05) < 0.02
    # growing the corpus must not move existing rows between splits
    bigger = spark.range(0, 8000).withColumnRenamed("id", "doc_id")
    big = {r["doc_id"]: r["split"] for r in hash_split(bigger).collect()}
    assert all(big[k] == v for k, v in a.items())
    # different salt reshuffles
    alt = {r["doc_id"]: r["split"] for r in hash_split(docs, salt=7).collect()}
    assert alt != a


def test_hash_split_bucket_override_matches_python(spark):
    """The caller-supplied bucket Column (the SQL-replayable Knuth
    multiplicative hash used by the pl_hash_split oracle) must assign
    exactly the splits the pure-Python replay predicts."""
    from pyspark.sql import functions as F

    from spatialdata_spark.pipeline.filters import hash_split

    docs = spark.range(0, 3000).withColumnRenamed("id", "doc_id")
    bucket = (
        F.pmod(
            F.pmod(F.col("doc_id"), F.lit(2147483648)) * F.lit(2654435761),
            F.lit(2147483648),
        )
        % F.lit(1000000)
    )
    got = {r["doc_id"]: r["split"] for r in hash_split(docs, bucket=bucket).collect()}

    def expect(i):
        b = ((i % 2147483648) * 2654435761) % 2147483648 % 1000000
        return "train" if b < 900000 else ("val" if b < 950000 else "test")

    assert got == {i: expect(i) for i in range(3000)}


def test_rouge_recall_pairs_reference(spark):
    import random
    from collections import Counter

    from spatialdata_spark.pipeline.dedup import rouge_recall_pairs

    rng = random.Random(73)
    vocab = [f"w{i}" for i in range(8)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 25))))
        for i in range(1, 13)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    pr = [(i, i + 1) for i in range(1, 12)]
    pairs = spark.createDataFrame(pr, ["id_a", "id_b"])
    out = {
        (r["id_a"], r["id_b"]): r
        for r in rouge_recall_pairs(docs, pairs, n=2).collect()
    }

    def bigrams(t):
        ws = t.split()
        return Counter(zip(ws, ws[1:]))

    txt = dict(rows)
    for a, b in pr:
        ca, cb = bigrams(txt[a]), bigrams(txt[b])
        ref = sum(cb.values())
        ov = sum(min(ca.get(g, 0), c) for g, c in cb.items())
        r = out[(a, b)]
        assert r["n_ref_grams"] == ref and r["n_overlap"] == ov
        assert r["rougen_recall"] == round(ov / ref, 9)
    # identical texts -> recall 1.0
    same = spark.createDataFrame([(1, rows[0][1]), (2, rows[0][1])], ["doc_id", "text"])
    p1 = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
    assert rouge_recall_pairs(same, p1, n=2).collect()[0]["rougen_recall"] == 1.0


def test_revenue_running_reference(spark):
    import datetime

    import __spark_entry__ as entrymod

    li = spark.createDataFrame(
        [
            (1, 100.0, 0.0, datetime.datetime(2024, 1, 5)),
            (1, 50.0, 0.5, datetime.datetime(2024, 2, 5)),
            (2, 80.0, 0.0, datetime.datetime(2024, 1, 9)),
        ],
        ["l_orderkey", "l_extendedprice", "l_discount", "l_shipdate"],
    )
    o = spark.createDataFrame([(1, 10), (2, 20)], ["o_orderkey", "o_custkey"])
    c = spark.createDataFrame([(10, 1), (20, 2)], ["c_custkey", "c_nationkey"])
    n = spark.createDataFrame([(1, "NA"), (2, "NB")], ["n_nationkey", "n_name"])
    tables = {"lineitem": li, "orders": o, "customer": c, "nation": n}
    orig = entrymod._read
    entrymod._read = lambda s, d, t: tables[t]
    try:
        out = {
            (r["n_name"], r["month"]): (r["revenue"], r["cum_revenue"])
            for r in entrymod.q_revenue_running(spark, "u").collect()
        }
    finally:
        entrymod._read = orig
    assert out[("NA", "2024-01")] == (100.0, 100.0)
    assert out[("NA", "2024-02")] == (25.0, 125.0)
    assert out[("NB", "2024-01")] == (80.0, 80.0)


def test_heaps_curve_reference(spark):
    import random
    from collections import Counter

    import __spark_entry__ as entrymod

    rng = random.Random(79)
    vocab = [f"w{i}" for i in range(60)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 20))))
        for i in range(1, 41)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    orig = entrymod._read
    entrymod._read = lambda s, d, t: docs
    try:
        out = {
            r["decile"]: r
            for r in entrymod.pl_heaps_curve(spark, "u").collect()
        }
    finally:
        entrymod._read = orig
    seen = set()
    per_doc = {}
    for i, t in rows:
        ws = t.split()
        new = {w for w in ws if w not in seen}
        seen |= new
        per_doc[i] = (len(ws), len(new))
    # ntile(10) over 40 docs: 4 per decile in id order
    ids = sorted(per_doc)
    for d in range(1, 11):
        chunk = ids[(d - 1) * 4 : d * 4]
        assert out[d]["n_docs"] == 4
        assert out[d]["n_tokens"] == sum(per_doc[i][0] for i in chunk)
        assert out[d]["n_new_types"] == sum(per_doc[i][1] for i in chunk)
    assert sum(r["n_new_types"] for r in out.values()) == len(seen)


def test_pagerank_matches_integer_reference(spark):
    """Fixed-point PageRank must reproduce a sequential pure-Python
    power iteration with identical integer arithmetic on a random
    directed graph (including dangling-in nodes)."""
    import random

    from spatialdata_spark.pipeline.graph import pagerank

    rng = random.Random(97)
    nodes = list(range(1, 31))
    edges = sorted({(rng.choice(nodes), rng.choice(nodes)) for _ in range(120)})
    # a node that only appears as a source (no in-edges -> teleport only)
    edges.append((99, 1))
    edf = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["node"]: r["rank_fp"] for r in pagerank(edf, k=3).collect()}

    scale, dn, dd, k = 10**9, 85, 100, 3
    ns = sorted({s for s, _ in edges} | {d for _, d in edges})
    n = len(ns)
    outdeg = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    base = (dd - dn) * scale // (dd * n)
    rank = {v: scale // n for v in ns}
    for _ in range(k):
        incoming = {v: 0 for v in ns}
        for s, d in edges:
            incoming[d] += rank[s] // outdeg[s]
        rank = {v: base + dn * incoming[v] // dd for v in ns}
    assert got == rank


def test_zipf_slope_reference(spark):
    """Closed-form OLS over the rank/frequency pairs, replicated in
    pure Python on a synthetic Zipfian corpus."""
    import math
    import random
    from collections import Counter

    from spatialdata_spark.pipeline.textstats import zipf_slope

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(200)]
    # zipf-ish sampling: token i with weight 1/(i+1)
    weights = [1.0 / (i + 1) for i in range(200)]
    rows = [
        (i, "s0", " ".join(rng.choices(vocab, weights, k=80)))
        for i in range(40)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    out = zipf_slope(docs, top_r=50).collect()
    assert len(out) == 1
    r = out[0]
    cnt = Counter(t for _, _, tx in rows for t in tx.split())
    ranked = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:50]
    xs = [math.log(i + 1) for i in range(len(ranked))]
    ys = [math.log(c) for _, c in ranked]
    n = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxx, sxy = sum(x * x for x in xs), sum(x * y for x, y in zip(xs, ys))
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    inter = (sy - slope * sx) / n
    assert r["n_ranked"] == 50
    assert abs(r["slope"] - slope) < 1e-5
    assert abs(r["intercept"] - inter) < 1e-5
    assert -2.0 < r["slope"] < -0.3  # zipf-ish corpus: negative power law


def test_distinct_ngrams_reference(spark):
    import random

    from spatialdata_spark.pipeline.textstats import distinct_ngrams

    rng = random.Random(5)
    vocab = [f"t{i}" for i in range(30)]
    rows = [
        (i, "a" if i % 2 else "b", " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 15))))
        for i in range(60)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    out = {(r["source"], r["n"]): r for r in distinct_ngrams(docs, max_n=3).collect()}
    for src in ("a", "b"):
        for n in (1, 2, 3):
            grams = []
            for _, s, tx in rows:
                if s != src:
                    continue
                ws = tx.split()
                grams += [" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)]
            if not grams:
                assert (src, n) not in out
                continue
            r = out[(src, n)]
            assert r["total_grams"] == len(grams)
            assert r["distinct_grams"] == len(set(grams))
            assert abs(r["distinct_ratio"] - len(set(grams)) / len(grams)) < 1e-9


def test_encoding_quality_signals(spark):
    from spatialdata_spark.pipeline.textstats import encoding_quality

    rows = [
        (1, "clean ascii text"),
        (2, "bad � byte �"),
        (3, "ctrl\x00here\x07"),
        (4, "tabs\tand\nnewlines\rok"),
        (5, "café résumé"),
        (6, ""),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in encoding_quality(docs).collect()}
    assert out[1]["enc_ok"] == 1 and out[1]["n_replacement"] == 0
    assert out[2]["n_replacement"] == 2 and out[2]["enc_ok"] == 0
    assert out[3]["n_control"] == 2 and out[3]["enc_ok"] == 0
    assert out[4]["enc_ok"] == 1 and out[4]["n_control"] == 0
    assert out[5]["enc_ok"] == 1
    assert abs(out[5]["ascii_ratio"] - (len(rows[4][1]) - 3) / len(rows[4][1])) < 1e-9
    assert out[6]["ascii_ratio"] == 1.0 and out[6]["enc_ok"] == 1


def test_embed_outliers_matches_numpy(spark):
    import numpy as np

    from spatialdata_spark.pipeline.clustering import embed_outliers

    rng = np.random.default_rng(3)
    rows = []
    for i in range(120):
        lab = int(i % 4)
        v = rng.normal(loc=lab, scale=0.5, size=8).astype(float)
        rows.append((i, lab, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, ["vec_id", "label", "embedding"])
    out = {r["vec_id"]: r for r in embed_outliers(emb, q=100).collect()}
    X = np.array([r[2] for r in rows])
    Q = np.floor(X * 100 + 0.5).astype(np.int64)
    labs = np.array([r[1] for r in rows])
    for lab in range(4):
        idx = np.where(labs == lab)[0]
        s = Q[idx].sum(axis=0)
        n = len(idx)
        for i in idx:
            d = n * Q[i] - s
            d2 = float((d.astype(object) ** 2).sum()) / (n * n * 100.0 * 100.0)
            assert abs(out[int(i)]["d2"] - round(d2, 6)) < 1e-9
            assert out[int(i)]["label"] == lab


def test_phrase_search_matches_python(spark):
    import random

    from spatialdata_spark.pipeline.search import phrase_search

    rng = random.Random(21)
    vocab = ["the", "quick", "brown", "fox", "dog", "a"]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 40))))
        for i in range(80)
    ]
    rows.append((900, "The Quick  brown fox"))  # case + multi-space
    rows.append((901, "quick brown quick brown quick"))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    for phrase in ["quick brown", "the quick brown", "dog", "quick brown quick"]:
        got = {
            r["doc_id"]: r["n_matches"]
            for r in phrase_search(docs, phrase).collect()
        }
        want = {}
        pt = phrase.split()
        for i, tx in rows:
            ws = tx.lower().split()
            n = sum(
                1
                for j in range(len(ws) - len(pt) + 1)
                if ws[j : j + len(pt)] == pt
            )
            if n:
                want[i] = n
        assert got == want, phrase


def test_label_propagation_reference(spark):
    """Two dense communities joined by one bridge edge: LPA must give
    each clique one label and match a sequential synchronous replay."""
    import itertools

    from spatialdata_spark.pipeline.graph import label_propagation

    cliq_a = list(range(1, 7))
    cliq_b = list(range(10, 16))
    und = list(itertools.combinations(cliq_a, 2)) + list(
        itertools.combinations(cliq_b, 2)
    ) + [(6, 10)]
    edges = [(a, b) for a, b in und] + [(b, a) for a, b in und]
    edf = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["node"]: r["label"] for r in label_propagation(edf, k=3).collect()}

    # sequential synchronous replay with the same (count, min-label) rule
    nodes = sorted({n for e in edges for n in e})
    lab = {n: n for n in nodes}
    for _ in range(3):
        new = {}
        for v in nodes:
            cnt = {}
            for s, d in edges:
                if d == v:
                    cnt[lab[s]] = cnt.get(lab[s], 0) + 1
            if cnt:
                best = max(cnt.items(), key=lambda kv: (kv[1], -kv[0]))
                new[v] = best[0]
            else:
                new[v] = lab[v]
        lab = new
    assert got == lab
    assert len({got[n] for n in cliq_a}) == 1
    assert len({got[n] for n in cliq_b}) == 1


def test_scd2_intervals_reference(spark):
    from datetime import datetime, timedelta

    from spatialdata_spark.operators.temporal import scd2_intervals

    t0 = datetime(2026, 1, 1)
    rows = [
        # user 1: A A B B A  -> 3 runs
        (1, 1, t0 + timedelta(hours=0), "A"),
        (2, 1, t0 + timedelta(hours=1), "A"),
        (3, 1, t0 + timedelta(hours=2), "B"),
        (4, 1, t0 + timedelta(hours=3), "B"),
        (5, 1, t0 + timedelta(hours=4), "A"),
        # user 2: single run; ts tie broken by event_id
        (6, 2, t0, "X"),
        (7, 2, t0, "X"),
    ]
    ev = spark.createDataFrame(rows, ["event_id", "user_id", "ts", "event_type"])
    out = sorted(
        scd2_intervals(ev).collect(),
        key=lambda r: (r["user_id"], r["valid_from"]),
    )
    u1 = [r for r in out if r["user_id"] == 1]
    assert [(r["event_type"], r["n_events"]) for r in u1] == [
        ("A", 2),
        ("B", 2),
        ("A", 1),
    ]
    assert u1[0]["valid_to"] == u1[1]["valid_from"]
    assert u1[1]["valid_to"] == u1[2]["valid_from"]
    assert u1[2]["valid_to"] is None
    u2 = [r for r in out if r["user_id"] == 2]
    assert len(u2) == 1 and u2[0]["n_events"] == 2 and u2[0]["valid_to"] is None


def test_scd2_intervals_tie_deterministic(spark):
    """Attr change AT a timestamp tie: two runs share valid_from, so the
    valid_to lead must be ordered by the run id, not valid_from — the
    earlier run gets the zero-width [t, t) interval, deterministically
    (advisor-reproduced case: (t,A),(t,B),(t2,C))."""
    from datetime import datetime, timedelta

    from spatialdata_spark.operators.temporal import scd2_intervals

    t0 = datetime(2026, 1, 1)
    t2 = t0 + timedelta(hours=1)
    rows = [(1, 1, t0, "A"), (2, 1, t0, "B"), (3, 1, t2, "C")]
    ev = spark.createDataFrame(rows, ["event_id", "user_id", "ts", "event_type"])
    for _ in range(3):  # stable across repeated runs
        out = sorted(
            scd2_intervals(ev).collect(),
            key=lambda r: (r["valid_from"], r["event_type"]),
        )
        assert [
            (r["event_type"], r["valid_from"], r["valid_to"], r["n_events"])
            for r in out
        ] == [("A", t0, t0, 1), ("B", t0, t2, 1), ("C", t2, None, 1)]


def test_script_profile_signals(spark):
    from spatialdata_spark.pipeline.textstats import script_profile

    rows = [
        (1, "hello world"),
        (2, "привет мир"),
        (3, "你好世界"),
        (4, "mixed привет abc 123"),
        (5, ""),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in script_profile(docs).collect()}
    assert out[1]["latin_frac"] == round(10 / 11, 9)
    assert out[1]["cyrillic_frac"] == 0.0
    assert out[2]["cyrillic_frac"] == round(9 / 10, 9)
    assert out[3]["cjk_frac"] == 1.0
    assert out[4]["latin_frac"] == round(8 / 20, 9)
    assert out[4]["cyrillic_frac"] == round(6 / 20, 9)
    assert out[4]["digit_frac"] == round(3 / 20, 9)
    assert out[4]["n_alpha"] == 14
    assert out[5]["latin_frac"] == 0.0 and out[5]["n_alpha"] == 0


def test_key_skew_reference(spark):
    from spatialdata_spark.pipeline.textstats import key_skew

    # keys: 'a' x 50, 'b' x 30, 'c' x 15, 'd' x 5
    rows = (
        [("a",)] * 50 + [("b",)] * 30 + [("c",)] * 15 + [("d",)] * 5
    )
    df = spark.createDataFrame(rows, ["k"])
    heavy, summary = key_skew(df, "k", top_k=2)
    h = heavy.collect()
    assert [(r["key"], r["n_rows"]) for r in h] == [("a", 50), ("b", 30)]
    assert h[0]["share"] == 0.5
    s = summary.collect()[0]
    assert s["n_keys"] == 4 and s["n_rows"] == 100
    assert s["max_share"] == 0.5
    # gini via the same sorted-rank identity, ascending counts
    cs = sorted([50, 30, 15, 5])
    n = len(cs)
    ic = sum((i + 1) * c for i, c in enumerate(cs))
    gini = 2 * ic / (n * sum(cs)) - (n + 1) / n
    assert abs(s["gini"] - gini) < 1e-9


def test_scd2_intervals_property(spark):
    """Random event streams: interval rollup must partition each key's
    ordered events into maximal equal-value runs."""
    import random
    from datetime import datetime, timedelta

    from spatialdata_spark.operators.temporal import scd2_intervals

    rng = random.Random(13)
    t0 = datetime(2026, 3, 1)
    rows = []
    eid = 0
    for u in range(1, 9):
        for j in range(rng.randint(1, 25)):
            eid += 1
            rows.append(
                (eid, u, t0 + timedelta(minutes=j), rng.choice("ABC"))
            )
    ev = spark.createDataFrame(rows, ["event_id", "user_id", "ts", "event_type"])
    out = scd2_intervals(ev).collect()
    by_user = {}
    for r in sorted(rows, key=lambda x: (x[1], x[2], x[0])):
        by_user.setdefault(r[1], []).append(r)
    for u, evs in by_user.items():
        runs = []
        for _, _, ts, a in evs:
            if runs and runs[-1][0] == a:
                runs[-1][2] += 1
            else:
                runs.append([a, ts, 1])
        got = sorted(
            [r for r in out if r["user_id"] == u],
            key=lambda r: r["valid_from"],
        )
        assert [(g["event_type"], g["n_events"]) for g in got] == [
            (a, c) for a, _, c in runs
        ]
        assert [g["valid_from"] for g in got] == [ts for _, ts, _ in runs]
        for a, b in zip(got, got[1:]):
            assert a["valid_to"] == b["valid_from"]
        assert got[-1]["valid_to"] is None


def test_hard_negatives_matches_numpy(spark):
    import numpy as np

    from spatialdata_spark.pipeline.clustering import hard_negatives

    rng = np.random.default_rng(7)
    rows = []
    for i in range(60):
        lab = int(i % 3)
        v = rng.normal(loc=lab * 2.0, scale=0.8, size=6)
        rows.append((i, lab, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, ["vec_id", "label", "embedding"])
    out = {r["anchor"]: r for r in hard_negatives(emb, q=100).collect()}
    Q = np.floor(np.array([r[2] for r in rows]) * 100 + 0.5).astype(np.int64)
    labs = np.array([r[1] for r in rows])
    assert len(out) == 60
    for i in range(60):
        cands = [
            (int(((Q[i] - Q[j]) ** 2).sum()), j)
            for j in range(60)
            if labs[j] != labs[i]
        ]
        d2, j = min(cands)
        r = out[i]
        assert r["negative"] == j
        assert r["neg_label"] == int(labs[j])
        assert abs(r["d2"] - round(d2 / 10000.0, 6)) < 1e-9


def test_minhash_recall_bounds_and_planted_dups(spark):
    """Planted near-identical pairs must be ground-truth pairs; recall
    is within [0, 1]; and with bands = hashes (rows-per-band 1, the
    permissive extreme) every true pair is a candidate -> recall 1."""
    import random

    from spatialdata_spark.pipeline.dedup import minhash_recall

    rng = random.Random(31)
    vocab = [f"tok{i}" for i in range(300)]
    rows = []
    for i in range(40):
        words = [rng.choice(vocab) for _ in range(30)]
        rows.append((2 * i, " ".join(words)))
        if i % 2 == 0:  # planted near-dup: one word changed
            w2 = list(words)
            w2[5] = "XYZ"
            rows.append((2 * i + 1, " ".join(w2)))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    r = minhash_recall(
        docs, threshold_num=1, threshold_den=2, num_hashes=16, num_bands=16
    ).collect()[0]
    assert r["n_true"] >= 20  # every planted pair clears jaccard 0.5
    assert r["n_hit"] == r["n_true"]  # 1-row bands surface every true pair
    assert r["recall"] == 1.0
    r2 = minhash_recall(
        docs, threshold_num=1, threshold_den=2, num_hashes=16, num_bands=4
    ).collect()[0]
    assert 0.0 <= r2["recall"] <= 1.0
    assert r2["n_hit"] <= r2["n_true"]
    assert r2["n_hit"] <= r2["n_cand"]
    assert 0.0 <= r2["precision"] <= 1.0
    # 4-row bands are stricter than 1-row bands: never more candidates
    assert r2["n_cand"] <= r["n_cand"]


def test_multi_phrase_search_matches_python(spark):
    import random

    from spatialdata_spark.pipeline.search import multi_phrase_search

    rng = random.Random(41)
    vocab = ["the", "data", "of", "a", "big", "run"]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(2, 30))))
        for i in range(70)
    ]
    rows.append((800, "the data the data the"))  # repeated-token phrase
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    phrases = ["the data", "big run", "data the data", "of"]
    got = {
        (r["doc_id"], r["phrase_id"]): r["n_matches"]
        for r in multi_phrase_search(docs, phrases).collect()
    }
    want = {}
    for i, tx in rows:
        ws = tx.lower().split()
        for pid, ph in enumerate(phrases):
            pt = ph.split()
            n = sum(
                1
                for j in range(len(ws) - len(pt) + 1)
                if ws[j : j + len(pt)] == pt
            )
            if n:
                want[(i, pid)] = n
    assert got == want
    assert got[(800, 2)] == 1  # overlapping repeated-token pattern


def test_nb_train_score_matches_python(spark):
    import math
    import random
    from collections import Counter

    from spatialdata_spark.pipeline.classify import nb_score, nb_train

    rng = random.Random(55)
    good = ["science", "theory", "result", "method", "the", "a"]
    bad = ["click", "buy", "free", "win", "the", "a"]
    labeled = []
    for i in range(60):
        y = i % 2
        vocab = good if y else bad
        labeled.append((i, y, " ".join(rng.choice(vocab) for _ in range(20))))
    ldf = spark.createDataFrame(labeled, ["doc_id", "label", "text"])
    model, totals = nb_train(ldf)
    test = [(100 + j, " ".join(rng.choice(good + bad) for _ in range(15))) for j in range(20)]
    test.append((999, "unseenword anotherunseen"))
    tdf = spark.createDataFrame(test, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in nb_score(tdf, model, totals).collect()}

    c0, c1 = Counter(), Counter()
    for _, y, tx in labeled:
        (c1 if y else c0).update(tx.split())
    n0, n1 = sum(c0.values()), sum(c1.values())
    v = len(set(c0) | set(c1))
    for i, tx in test:
        ws = tx.lower().split()
        s = sum(
            math.log((c1.get(t, 0) + 1) / (n1 + v))
            - math.log((c0.get(t, 0) + 1) / (n0 + v))
            for t in ws
        )
        assert out[i]["n_tokens"] == len(ws)
        assert abs(out[i]["llr_mean"] - round(s / len(ws), 6)) < 1e-9
    # good-vocab docs score above bad-vocab docs
    gdoc = spark.createDataFrame(
        [(1, "science theory result"), (2, "click buy free win")],
        ["doc_id", "text"],
    )
    sc = {r["doc_id"]: r["llr_mean"] for r in nb_score(gdoc, model, totals).collect()}
    assert sc[1] > 0 > sc[2]


def test_auc_rank_matches_reference(spark):
    import random

    from spatialdata_spark.pipeline.classify import auc_rank

    rng = random.Random(77)
    # scores with deliberate ties
    rows = [
        (round(rng.choice([0.1, 0.2, 0.3, 0.5, 0.8]), 3) + 0.1 * (i % 2), i % 2)
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, ["score", "label"])
    r = auc_rank(df).collect()[0]

    # reference: average-rank Mann-Whitney
    svals = sorted(rows)
    ranks = {}
    i = 0
    srt = sorted(rows, key=lambda x: x[0])
    while i < len(srt):
        j = i
        while j < len(srt) and srt[j][0] == srt[i][0]:
            j += 1
        avg = (i + 1 + j) / 2  # ranks i+1..j
        for k in range(i, j):
            ranks[k] = avg
        i = j
    r1 = sum(ranks[k] for k in range(len(srt)) if srt[k][1] == 1)
    n1 = sum(1 for _, y in rows if y == 1)
    n0 = len(rows) - n1
    auc = (r1 - n1 * (n1 + 1) / 2) / (n0 * n1)
    assert r["n_pos"] == n1 and r["n_neg"] == n0
    assert abs(r["auc"] - round(auc, 9)) < 1e-12
    # sanity: perfect separation -> AUC 1
    perfect = spark.createDataFrame(
        [(float(i), 1 if i >= 50 else 0) for i in range(100)], ["score", "label"]
    )
    assert auc_rank(perfect).collect()[0]["auc"] == 1.0


def test_hdr_quantiles_error_bound_and_reference(spark):
    import random

    from spatialdata_spark.pipeline.textstats import hdr_quantiles

    rng = random.Random(19)
    vals = [rng.lognormvariate(0, 1.5) for _ in range(5000)]
    df = spark.createDataFrame([(v,) for v in vals], ["x"])
    out = {r["q"]: r for r in hdr_quantiles(df, "x", (0.5, 0.9, 0.99)).collect()}
    svals = sorted(vals)
    for q in (0.5, 0.9, 0.99):
        exact = svals[min(len(svals) - 1, max(0, -(-int(q * len(svals) * 1) // 1) - 1))]
        # textbook lower-ceil index
        idx = max(0, -(-q * len(svals)) // 1 - 1)
        exact = svals[int(idx)]
        r = out[q]
        assert r["n"] == 5000
        # bucket lower bound: est <= exact < est * (1 + 2^-5) * 2/ (loose)
        assert r["est"] <= exact * (1 + 1e-9)
        assert exact <= r["est"] * (1 + 2 ** -5) * 1.001 + 1e-6


def test_hdr_quantiles_python_replay(spark):
    """Bucketization replays exactly in pure Python integer arithmetic
    (the SQL-oracle form)."""
    import random

    from spatialdata_spark.pipeline.textstats import hdr_quantiles

    rng = random.Random(3)
    vals = [rng.uniform(0, 100) for _ in range(2000)] + [0.0, -5.0]
    df = spark.createDataFrame([(v,) for v in vals], ["x"])
    out = {r["q"]: r["est"] for r in hdr_quantiles(df, "x", (0.25, 0.75)).collect()}

    import math
    scale, sb = 1_000_000, 5
    buckets = {}
    for v in vals:
        m = math.floor(v * scale)
        p = m if m > 0 else 0
        e = p.bit_length()
        sh = max(e - 1 - sb, 0)
        key = (e, p >> sh, sh)
        buckets[key] = buckets.get(key, 0) + 1
    items = sorted(buckets.items())
    n = len(vals)
    for q in (0.25, 0.75):
        cum = 0
        target = math.ceil(q * n)
        for (e, sub, sh), c in items:
            cum += c
            if cum >= target:
                assert out[q] == round((sub << sh) / scale, 9)
                break


def test_bpe_fertility_hand_computed(spark):
    from spatialdata_spark.pipeline.bpe import bpe_fertility, bpe_train

    docs = spark.createDataFrame(
        [
            (1, "en", "low lower lowest low low"),
            (2, "en", "new newer newest new"),
            (3, "de", "low new low"),
        ],
        ["doc_id", "lang", "text"],
    )
    _, wf = bpe_train(docs, n_merges=4)
    out = {r["lang"]: r for r in bpe_fertility(docs, wf).collect()}
    # after merges lo+w -> low, n+ew -> new:
    # en: low=1, lower=3 (low,e,r), lowest=4, new=1, newer=3, newest=4
    # doc1 tokens: 1+3+4+1+1 = 10 over 5 words; doc2: 1+3+4+1 = 9 over 4
    en = out["en"]
    assert en["n_words"] == 9 and en["n_tokens"] == 19
    assert en["n_chars"] == sum(len(w) for w in "low lower lowest low low new newer newest new".split())
    assert en["tokens_per_word"] == round(19 / 9, 6)
    de = out["de"]
    assert de["n_words"] == 3 and de["n_tokens"] == 3  # low new low all single tokens
    assert de["chars_per_token"] == round(9 / 3, 6)
    assert en["n_oov_words"] == 0 and de["n_oov_words"] == 0

    # held-out input: words absent from wf_merged are excluded from the
    # ratio sums but surfaced as n_oov_words, never silently dropped
    held = spark.createDataFrame(
        [(4, "fr", "low unseen unseen new"), (5, "xx", "totally novel")],
        ["doc_id", "lang", "text"],
    )
    hout = {r["lang"]: r for r in bpe_fertility(held, wf).collect()}
    fr = hout["fr"]
    assert fr["n_words"] == 2 and fr["n_oov_words"] == 2
    assert fr["n_tokens"] == 2 and fr["tokens_per_word"] == 1.0
    xx = hout["xx"]  # all-OOV group: zero coverage, NULL ratios
    assert xx["n_words"] == 0 and xx["n_oov_words"] == 2
    assert xx["tokens_per_word"] is None and xx["chars_per_token"] is None


def test_stupid_backoff_matches_python(spark):
    import math
    import random
    from collections import Counter

    from spatialdata_spark.pipeline.textstats import stupid_backoff_score

    rng = random.Random(83)
    vocab = [f"w{i}" for i in range(25)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(2, 30))))
        for i in range(50)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r["sb_score"] for r in stupid_backoff_score(docs).collect()}

    c2, c1 = Counter(), Counter()
    for _, tx in rows:
        ws = tx.split()
        c1.update(ws)
        c2.update(zip(ws, ws[1:]))
    N = sum(c1.values())
    for i, tx in rows:
        ws = tx.split()
        pairs = list(zip(ws, ws[1:]))
        if not pairs:
            assert i not in out
            continue
        logs = []
        for a, b in pairs:
            if c2[(a, b)] > 0:
                logs.append(math.log(c2[(a, b)] / c1[a]))
            else:
                logs.append(math.log(0.4 * c1[b] / N))
        assert abs(out[i] - round(sum(logs) / len(logs), 6)) < 1e-9


def test_kneser_ney_matches_python(spark):
    import math
    import random
    from collections import Counter

    from spatialdata_spark.pipeline.textstats import kneser_ney_score

    rng = random.Random(29)
    vocab = [f"w{i}" for i in range(20)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(2, 25))))
        for i in range(60)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    train = docs.filter(F.col("doc_id") % 2 == 0)
    score = docs.filter(F.col("doc_id") % 2 == 1)
    out = {
        r["doc_id"]: r["kn_score"]
        for r in kneser_ney_score(score, train_docs=train).collect()
    }

    c2 = Counter()
    for i, tx in rows:
        if i % 2 == 0:
            ws = tx.split()
            c2.update(zip(ws, ws[1:]))
    ctx, n1p, n1b = Counter(), Counter(), Counter()
    for (a, b), c in c2.items():
        ctx[a] += c
        n1p[a] += 1
        n1b[b] += 1
    nt = len(c2)
    D = 3 / 4
    for i, tx in rows:
        if i % 2 == 0:
            continue
        ws = tx.split()
        logs = []
        for a, b in zip(ws, ws[1:]):
            if n1b[b] == 0:
                continue  # OOV continuation dropped (family convention)
            pc = n1b[b] / nt
            if ctx[a] > 0:
                p = max(c2[(a, b)] - D, 0.0) / ctx[a] + (D * n1p[a] / ctx[a]) * pc
            else:
                p = pc
            logs.append(math.log(p))
        if not logs:
            assert i not in out
            continue
        assert abs(out[i] - round(sum(logs) / len(logs), 6)) < 1e-9
    # interpolation sanity: probabilities over the full vocab sum to 1
    # for any seen context (the property stupid backoff gives up)
    a = max(ctx, key=ctx.get)
    conts = {b for (x, b) in c2 if x == a}
    total = sum(
        max(c2[(a, b)] - D, 0.0) / ctx[a] + (D * n1p[a] / ctx[a]) * (n1b[b] / nt)
        for b in n1b
    )
    # every continuation of every context is in n1b, so the sum over
    # n1b's support is the full conditional mass
    assert conts <= set(n1b)
    assert abs(total - 1.0) < 1e-9


def test_stupid_backoff_heldout_hits_backoff(spark):
    """Held-out scoring: a bigram unseen in training must take the
    alpha * c(b)/N backoff branch."""
    import math

    from spatialdata_spark.pipeline.textstats import stupid_backoff_score

    train = spark.createDataFrame(
        [(1, "aa bb aa bb cc"), (2, "bb cc aa")], ["doc_id", "text"]
    )
    # 'cc bb' never occurs in training; all tokens are in-vocabulary
    ev = spark.createDataFrame([(10, "cc bb aa")], ["doc_id", "text"])
    out = stupid_backoff_score(ev, train_docs=train).collect()
    assert len(out) == 1
    # train counts: c1: aa=3, bb=3, cc=2; N=8
    # bigrams of train: (aa,bb)x2, (bb,aa)x1, (bb,cc)x2, (cc,aa)x1
    # eval: (cc,bb) unseen -> 0.4 * c(bb)/N = 0.4*3/8 ; (bb,aa) seen -> 1/3
    want = (math.log(0.4 * 3 / 8) + math.log(1 / 3)) / 2
    assert abs(out[0]["sb_score"] - round(want, 6)) < 1e-9


def test_graph_and_auc_degenerate_inputs(spark):
    import pytest as _pt

    from pyspark.sql import types as T

    from spatialdata_spark.pipeline.classify import auc_rank
    from spatialdata_spark.pipeline.graph import label_propagation, pagerank

    empty = spark.createDataFrame(
        [], T.StructType([T.StructField("src", T.LongType()), T.StructField("dst", T.LongType())])
    )
    with _pt.raises(ValueError, match="empty edge list"):
        pagerank(empty)
    assert label_propagation(empty, k=2).count() == 0
    # single-class scores: AUC undefined -> NULL (n0*n1 = 0), not a crash
    one_class = spark.createDataFrame([(0.5, 1), (0.7, 1)], ["score", "label"])
    r = auc_rank(one_class).collect()[0]
    assert r["n_pos"] == 2 and r["n_neg"] == 0 and r["auc"] is None
    # self-loop-only graph: pagerank total mass stays bounded
    loops = spark.createDataFrame([(1, 1), (2, 2)], ["src", "dst"])
    ranks = {x["node"]: x["rank_fp"] for x in pagerank(loops, k=2).collect()}
    assert set(ranks) == {1, 2} and sum(ranks.values()) <= 10**9


def test_zipf_slope_single_token_group(spark):
    from spatialdata_spark.pipeline.textstats import zipf_slope

    docs = spark.createDataFrame(
        [(1, "solo", "word word word"), (2, "multi", "a b a c a b")],
        ["doc_id", "source", "text"],
    )
    out = {r["source"]: r for r in zipf_slope(docs).collect()}
    assert out["solo"]["n_ranked"] == 1 and out["solo"]["slope"] is None
    assert out["multi"]["slope"] is not None


def test_simhash_recall_pigeonhole_and_lossy(spark):
    """At max_hamming<=3 the 4-block join is provably lossless
    (recall 1.0); at 4+ an adversarial signature pair differing by
    exactly one bit in EVERY block is a true pair with no matching
    block -> recall < 1 on that corpus."""
    from spatialdata_spark.pipeline.dedup import simhash_recall

    base = 0x123456789ABCDEF0  # arbitrary int64 pattern (< 2^63)
    rows = [(1, base)]
    # distances 1..3: flip bits inside one block only
    rows.append((2, base ^ 0b1))
    rows.append((3, base ^ 0b110))
    rows.append((4, base ^ 0b10100000000))
    docs = spark.createDataFrame(rows, ["doc_id", "simhash"])
    r = simhash_recall(docs, max_hamming=3).collect()[0]
    assert r["n_true"] >= 3 and r["recall"] == 1.0

    # one flipped bit per 16-bit block: hamming 4, zero matching blocks
    spread = base ^ ((1 << 0) | (1 << 16) | (1 << 32) | (1 << 48))
    docs2 = spark.createDataFrame([(1, base), (2, spread)], ["doc_id", "simhash"])
    r2 = simhash_recall(docs2, max_hamming=4).collect()[0]
    assert r2["n_true"] == 1 and r2["n_hit"] == 0 and r2["recall"] == 0.0


def test_chi2_tokens_reference(spark):
    """chi2 per (label, token) must equal the textbook 2x2 statistic
    computed by an independent Python pass over the same corpus."""
    from collections import defaultdict

    from spatialdata_spark.pipeline.textstats import chi2_tokens

    docs = [
        (1, "alpha beta gamma", "A"),
        (2, "alpha alpha delta", "A"),
        (3, "beta delta", "A"),
        (4, "gamma gamma epsilon", "B"),
        (5, "epsilon zeta", "B"),
        (6, "alpha epsilon", "B"),
        (7, "zeta zeta beta", "B"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text", "source"])
    out = chi2_tokens(df, top_k=100, min_df=1).collect()

    # independent reference: presence counts
    pres = defaultdict(set)
    label_of = {}
    for i, t, s in docs:
        label_of[i] = s
        for w in set(t.lower().split()):
            pres[w].add(i)
    n = len(docs)
    n_label = defaultdict(int)
    for i, s in label_of.items():
        n_label[s] += 1
    expected = {}
    for w, ds in pres.items():
        for lab in n_label:
            a = sum(1 for d in ds if label_of[d] == lab)
            b = len(ds) - a
            c = n_label[lab] - a
            d = n - a - b - c
            det = float(a * d - b * c)
            chi2 = n * det * det / float((a + b) * (c + d) * (a + c) * (b + d))
            if a > 0 or b > 0:
                expected[(lab, w)] = round(chi2, 6)
    got = {(r["label"], r["token"]): r["chi2"] for r in out}
    # chi2_tokens emits every (label, token) with the token present
    # somewhere; the label side covers all labels per token
    for key, v in got.items():
        assert abs(v - expected[key]) < 1e-9, (key, v, expected[key])
    # ranks: per label, descending rounded chi2 with token tiebreak
    for lab in n_label:
        rows = sorted(
            [r for r in out if r["label"] == lab], key=lambda r: r["rank"]
        )
        keys = [(-r["chi2"], r["token"]) for r in rows]
        assert keys == sorted(keys)


def test_chi2_tokens_min_df_prunes(spark):
    from spatialdata_spark.pipeline.textstats import chi2_tokens

    df = spark.createDataFrame(
        [(1, "rare common", "A"), (2, "common", "B")],
        ["doc_id", "text", "source"],
    )
    toks = {
        r["token"] for r in chi2_tokens(df, top_k=10, min_df=2).collect()
    }
    assert toks == {"common"}


def test_ks_2sample_reference(spark):
    """Exact KS vs a brute-force CDF comparison on the value grid."""
    from spatialdata_spark.pipeline.textstats import ks_2sample

    va = [3, 5, 5, 7, 9, 11, 11, 13]
    vb = [4, 5, 8, 8, 10, 12]
    rows = [(i, v, "src0") for i, v in enumerate(va)] + [
        (100 + i, v, "src1") for i, v in enumerate(vb)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "n_chars", "source"])
    out = ks_2sample(df).collect()[0]
    na, nb = len(va), len(vb)
    grid = sorted(set(va) | set(vb))
    dnum = max(
        abs(sum(1 for x in va if x <= v) * nb - sum(1 for x in vb if x <= v) * na)
        for v in grid
    )
    assert out["n_a"] == na and out["n_b"] == nb
    assert out["ks_num"] == dnum and out["ks_den"] == na * nb
    assert abs(out["ks_stat"] - round(dnum / (na * nb), 9)) < 1e-12


def test_ks_2sample_identical_is_zero(spark):
    from spatialdata_spark.pipeline.textstats import ks_2sample

    rows = [(i, v, s) for s in ("src0", "src1") for i, v in enumerate([1, 2, 2, 9])]
    df = spark.createDataFrame(rows, ["doc_id", "n_chars", "source"])
    out = ks_2sample(df).collect()[0]
    assert out["ks_num"] == 0 and out["ks_stat"] == 0.0


def test_ks_2sample_empty_group_fails_loudly(spark):
    # a typo'd group name must NOT yield a silent NULL ks_stat — the
    # operator raises at execution, naming the missing group
    import pytest

    from spatialdata_spark.pipeline.textstats import ks_2sample

    df = spark.createDataFrame(
        [(1, 10, "src0"), (2, 20, "src0")], ["doc_id", "n_chars", "source"]
    )
    with pytest.raises(Exception, match="ks_2sample: empty group.*src1"):
        ks_2sample(df, group_a="src0", group_b="src1").collect()


def test_calibration_bins_matches_python(spark):
    import random

    from spatialdata_spark.pipeline.classify import calibration_bins

    rng = random.Random(91)
    # deliberate score ties so the (score, id) tie-break is exercised
    rows = [(i, rng.choice([1, 2, 3, 5, 8, 13]), rng.randrange(2)) for i in range(137)]
    df = spark.createDataFrame(rows, ["doc_id", "llr_mean", "label"])
    out = {r["bin"]: r for r in calibration_bins(df, n_bins=5).collect()}

    # reference: SQL-standard ntile over (score, id)
    srt = sorted(rows, key=lambda r: (r[1], r[0]))
    n, k = len(srt), 5
    base, extra = divmod(n, k)
    bins, pos = {}, 0
    for b in range(1, k + 1):
        size = base + (1 if b <= extra else 0)
        bins[b] = srt[pos : pos + size]
        pos += size
    assert set(out) == set(bins)
    for b, members in bins.items():
        assert out[b]["n_docs"] == len(members)
        assert out[b]["n_pos"] == sum(y for _, _, y in members)
        assert out[b]["frac_pos"] == round(
            sum(y for _, _, y in members) / len(members), 6
        )
        assert abs(
            out[b]["mean_score"] - round(sum(s for _, s, _ in members) / len(members), 6)
        ) < 1e-9
    # monotone bin numbering follows score order
    assert out[1]["mean_score"] <= out[5]["mean_score"]


def test_calibration_bins_composes_with_nb_passthrough(spark):
    import random

    from spatialdata_spark.pipeline.classify import calibration_bins, nb_score, nb_train

    rng = random.Random(17)
    good = ["science", "theory", "result", "method", "the"]
    bad = ["click", "buy", "free", "win", "the"]
    labeled = [
        (i, i % 2, " ".join(rng.choice(good if i % 2 else bad) for _ in range(12)))
        for i in range(80)
    ]
    ldf = spark.createDataFrame(labeled, ["doc_id", "label", "text"])
    model, totals = nb_train(ldf)
    scored = nb_score(ldf, model, totals, passthrough=("label",))
    assert set(scored.columns) == {"doc_id", "label", "n_tokens", "llr_mean"}
    cal = calibration_bins(scored, n_bins=4).collect()
    assert [r["bin"] for r in cal] == [1, 2, 3, 4]
    assert sum(r["n_docs"] for r in cal) == 80
    assert sum(r["n_pos"] for r in cal) == 40
    # NB separates the synthetic classes: top bin nearly all positive
    assert cal[-1]["frac_pos"] > 0.9 > cal[0]["frac_pos"]


def _random_graph(seed=23, n=40, m=160):
    import random

    rng = random.Random(seed)
    edges = set()
    while len(edges) < m:
        a, b = rng.randrange(n), rng.randrange(n)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    return sorted(edges)


def test_triangle_count_matches_python(spark):
    from itertools import combinations

    from spatialdata_spark.pipeline.graph import triangle_count

    und = _random_graph()
    es = set(und)
    # feed edges in MIXED directions with duplicates — canonicalization contract
    rows = [(a, b) for a, b in und] + [(b, a) for a, b in und[::3]]
    df = spark.createDataFrame(rows, ["src", "dst"])
    out = {r["node_id"]: r for r in triangle_count(df).collect()}

    nodes = sorted({x for e in und for x in e})
    adj = {v: set() for v in nodes}
    for a, b in und:
        adj[a].add(b)
        adj[b].add(a)
    tri = {v: 0 for v in nodes}
    for v in nodes:
        for x, y in combinations(sorted(adj[v]), 2):
            if (min(x, y), max(x, y)) in es:
                tri[v] += 1
    assert set(out) == set(nodes)
    for v in nodes:
        d = len(adj[v])
        assert out[v]["degree"] == d
        assert out[v]["n_triangles"] == tri[v]
        if d >= 2:
            assert abs(out[v]["clustering"] - round(2 * tri[v] / (d * (d - 1)), 6)) < 1e-9
        else:
            assert out[v]["clustering"] is None
    assert sum(tri.values()) % 3 == 0


def test_graph_stats_matches_python(spark):
    from itertools import combinations

    from spatialdata_spark.pipeline.graph import graph_stats

    und = _random_graph(seed=77, n=30, m=90)
    es = set(und)
    df = spark.createDataFrame(und, ["src", "dst"])
    r = graph_stats(df).collect()[0]

    nodes = sorted({x for e in und for x in e})
    adj = {v: set() for v in nodes}
    for a, b in und:
        adj[a].add(b)
        adj[b].add(a)
    wedges = sum(len(adj[v]) * (len(adj[v]) - 1) // 2 for v in nodes)
    ntri = (
        sum(
            1
            for v in nodes
            for x, y in combinations(sorted(adj[v]), 2)
            if (min(x, y), max(x, y)) in es
        )
        // 3
    )
    assert r["n_nodes"] == len(nodes)
    assert r["n_edges"] == len(und)
    assert r["n_wedges"] == wedges
    assert r["n_triangles"] == ntri
    assert abs(r["transitivity"] - round(3 * ntri / wedges, 6)) < 1e-9
    # assortativity: Pearson of endpoint degrees over the double cover
    pairs = [(len(adj[a]), len(adj[b])) for a, b in und]
    pairs += [(y, x) for x, y in pairs]
    m2 = len(pairs)
    sx = sum(x for x, _ in pairs)
    sxx = sum(x * x for x, _ in pairs)
    sxy = sum(x * y for x, y in pairs)
    num, den = m2 * sxy - sx * sx, m2 * sxx - sx * sx
    assert abs(r["assortativity"] - round(num / den, 6)) < 1e-9


def test_triangle_count_degenerate(spark):
    from spatialdata_spark.pipeline.graph import graph_stats, triangle_count

    # a path graph has wedges but zero triangles; a lone edge has neither
    path = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], ["src", "dst"])
    out = {r["node_id"]: r for r in triangle_count(path).collect()}
    assert all(r["n_triangles"] == 0 for r in out.values())
    assert out[2]["clustering"] == 0.0 and out[1]["clustering"] is None
    r = graph_stats(path).collect()[0]
    assert (r["n_wedges"], r["n_triangles"], r["transitivity"]) == (2, 0, 0.0)
    lone = spark.createDataFrame([(7, 8)], ["src", "dst"])
    r = graph_stats(lone).collect()[0]
    assert r["n_wedges"] == 0 and r["transitivity"] is None
    # regular graph (triangle): assortativity denominator 0 -> NULL
    k3 = spark.createDataFrame([(1, 2), (2, 3), (1, 3)], ["src", "dst"])
    r = graph_stats(k3).collect()[0]
    assert r["n_triangles"] == 1 and r["transitivity"] == 1.0
    assert r["assortativity"] is None


def test_rrf_fuse_matches_python(spark):
    from spatialdata_spark.pipeline.search import rrf_fuse

    sparse = [(10, 1), (11, 2), (12, 3), (13, 4)]
    dense = [(12, 1), (14, 2), (10, 3), (15, 4), (11, 5)]
    out = rrf_fuse(
        {
            "sparse": spark.createDataFrame(sparse, ["doc_id", "rank"]),
            "dense": spark.createDataFrame(dense, ["doc_id", "rank"]),
        },
        k=60,
    ).collect()

    ref = {}
    for d, r in sparse:
        ref[d] = ref.get(d, 0.0) + 1 / (60 + r)
    for d, r in dense:
        ref[d] = ref.get(d, 0.0) + 1 / (60 + r)
    order = sorted(ref, key=lambda d: (-ref[d], d))
    assert [r["doc_id"] for r in out] == order
    for row in out:
        assert abs(row["rrf_score"] - round(ref[row["doc_id"]], 6)) < 1e-9
    got = {r["doc_id"]: r for r in out}
    # absent-from-one-list documents carry a NULL rank but still score
    assert got[13]["rank_dense"] is None and got[13]["rank_sparse"] == 4
    assert got[14]["rank_sparse"] is None and got[14]["rank_dense"] == 2
    # doc in both lists beats single-list docs with comparable ranks
    assert got[10]["rrf_rank"] < got[13]["rrf_rank"]
    # top_n cuts on the fused rank
    top2 = rrf_fuse(
        {
            "sparse": spark.createDataFrame(sparse, ["doc_id", "rank"]),
            "dense": spark.createDataFrame(dense, ["doc_id", "rank"]),
        },
        k=60,
        top_n=2,
    ).collect()
    assert [r["doc_id"] for r in top2] == order[:2]


def test_link_prediction_matches_python(spark):
    from itertools import combinations

    from spatialdata_spark.pipeline.graph import link_prediction

    und = _random_graph(seed=31, n=25, m=60)
    es = set(und)
    df = spark.createDataFrame(und, ["src", "dst"])
    out = link_prediction(df, top_n=1000).collect()

    nodes = sorted({x for e in und for x in e})
    adj = {v: set() for v in nodes}
    for a, b in und:
        adj[a].add(b)
        adj[b].add(a)
    ref = {}
    for x, y in combinations(nodes, 2):
        if (x, y) in es:
            continue
        cn = len(adj[x] & adj[y])
        if cn:
            ref[(x, y)] = cn
    got = {(r["x"], r["y"]): r for r in out}
    assert set(got) == set(ref)
    for (x, y), r in got.items():
        dx, dy = len(adj[x]), len(adj[y])
        assert r["common_neighbors"] == ref[(x, y)]
        assert (r["deg_x"], r["deg_y"]) == (dx, dy)
        assert r["pref_attachment"] == dx * dy
        assert abs(r["jaccard"] - round(ref[(x, y)] / (dx + dy - ref[(x, y)]), 6)) < 1e-9
    # output ordering: descending common neighbors, then (x, y)
    keys = [(-r["common_neighbors"], r["x"], r["y"]) for r in out]
    assert keys == sorted(keys)
    # top_n cuts after the total-order sort
    top5 = link_prediction(df, top_n=5).collect()
    assert [(r["x"], r["y"]) for r in top5] == [(r["x"], r["y"]) for r in out[:5]]


def test_link_prediction_hub_exclusion(spark):
    from spatialdata_spark.pipeline.graph import link_prediction

    # star: hub 0 connected to 1..6; spokes share ONLY the hub
    star = [(0, i) for i in range(1, 7)]
    df = spark.createDataFrame(star, ["src", "dst"])
    full = link_prediction(df, top_n=100).collect()
    assert len(full) == 15 and all(r["common_neighbors"] == 1 for r in full)
    # capping below the hub degree removes every candidate
    assert link_prediction(df, max_degree=5, top_n=100).count() == 0


def test_target_encode_kfold_matches_python(spark):
    import random

    from spatialdata_spark.pipeline.classify import target_encode_kfold

    rng = random.Random(63)
    rows = [
        (i, rng.choice("abcd"), 1 if rng.random() < 0.4 else 0) for i in range(300)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "cat", "label"])
    # deterministic fold everyone can replay: id mod k
    out = {
        r["doc_id"]: r
        for r in target_encode_kfold(
            df, "cat", "label", n_folds=5, prior_weight=20,
            fold=F.pmod(F.col("doc_id"), F.lit(5)),
        ).collect()
    }

    from collections import defaultdict

    n_cf, s_cf = defaultdict(int), defaultdict(int)
    for i, c, y in rows:
        n_cf[(c, i % 5)] += 1
        s_cf[(c, i % 5)] += y
    n_c = defaultdict(int)
    s_c = defaultdict(int)
    for (c, f), n in n_cf.items():
        n_c[c] += n
        s_c[c] += s_cf[(c, f)]
    n = len(rows)
    s = sum(y for _, _, y in rows)
    prior = s / n
    for i, c, y in rows:
        f = i % 5
        noof = n_c[c] - n_cf[(c, f)]
        te = (s_c[c] - s_cf[(c, f)] + 20 * prior) / (noof + 20)
        r = out[i]
        assert r["cat"] == c and r["fold"] == f and r["n_oof"] == noof
        assert abs(r["te"] - round(te, 6)) < 1e-9
    # leakage check: a category entirely inside ONE fold must fall back
    # to (nearly) the prior for its own rows
    solo = spark.createDataFrame(
        [(0, "x", 1), (5, "x", 1), (1, "y", 0), (6, "y", 0), (7, "y", 1)],
        ["doc_id", "cat", "label"],
    )
    enc = {
        r["doc_id"]: r
        for r in target_encode_kfold(
            solo, "cat", "label", n_folds=5, prior_weight=10,
            fold=F.pmod(F.col("doc_id"), F.lit(5)),
        ).collect()
    }
    # rows 0,1 are fold 0 = ALL of category x -> n_oof 0, te == prior
    assert enc[0]["n_oof"] == 0
    assert abs(enc[0]["te"] - round(3 / 5, 6)) < 1e-9


def test_woe_iv_matches_python(spark):
    import math
    import random

    from spatialdata_spark.pipeline.classify import woe_iv

    rng = random.Random(8)
    rows = [
        (rng.choice(["p", "q", "r"]), 1 if rng.random() < 0.3 else 0)
        for _ in range(400)
    ] + [("onlypos", 1), ("onlyneg", 0)]  # zero cells stay finite
    df = spark.createDataFrame(rows, ["cat", "label"])
    out = {r["category"]: r for r in woe_iv(df, "cat", "label").collect()}

    from collections import Counter

    pos, neg = Counter(), Counter()
    for c, y in rows:
        (pos if y else neg)[c] += 1
    cats = set(pos) | set(neg)
    P, Q, K = sum(pos.values()), sum(neg.values()), len(cats)
    assert set(out) == cats
    for c in cats:
        pc = (pos[c] + 0.5) / (P + 0.5 * K)
        qc = (neg[c] + 0.5) / (Q + 0.5 * K)
        woe = math.log(pc / qc)
        r = out[c]
        assert (r["n_pos"], r["n_neg"]) == (pos[c], neg[c])
        assert abs(r["woe"] - round(woe, 6)) < 1e-9
        assert abs(r["iv_part"] - round((pc - qc) * woe, 6)) < 1e-9
    assert out["onlypos"]["woe"] > 0 > out["onlyneg"]["woe"]
    # iv_part is nonnegative by construction (p-q and woe share sign)
    assert all(r["iv_part"] >= 0 for r in out.values())


def test_auc_rank_grouped_matches_reference(spark):
    import random

    from spatialdata_spark.pipeline.classify import auc_rank

    rng = random.Random(19)
    rows = []
    for grp, flip in (("a", False), ("b", True)):
        for i in range(150):
            y = i % 2
            # group b has an INVERTED score direction
            s = (i % 7) + (3 if (y != flip) else 0) + rng.choice([0, 1])
            rows.append((grp, float(s), y))
    df = spark.createDataFrame(rows, ["src", "score", "label"])
    out = {r["src"]: r for r in auc_rank(df, group_cols=("src",)).collect()}

    def ref_auc(sub):
        srt = sorted(sub, key=lambda x: x[0])
        ranks, i = {}, 0
        while i < len(srt):
            j = i
            while j < len(srt) and srt[j][0] == srt[i][0]:
                j += 1
            for k2 in range(i, j):
                ranks[k2] = (i + 1 + j) / 2
            i = j
        r1 = sum(ranks[k2] for k2 in range(len(srt)) if srt[k2][1] == 1)
        n1 = sum(1 for _, y in sub if y == 1)
        n0 = len(sub) - n1
        return (r1 - n1 * (n1 + 1) / 2) / (n0 * n1)

    for grp in ("a", "b"):
        sub = [(s, y) for g, s, y in rows if g == grp]
        assert abs(out[grp]["auc"] - round(ref_auc(sub), 9)) < 1e-12
    assert out["a"]["auc"] > 0.5 > out["b"]["auc"]
    # grouped totals partition the global counts
    g = auc_rank(df).collect()[0]
    assert g["n_pos"] == out["a"]["n_pos"] + out["b"]["n_pos"]


def test_rank_correlation_matches_python(spark):
    import math
    import random

    from spatialdata_spark.pipeline.search import rank_correlation

    rng = random.Random(5)
    ids = list(range(40))
    perm = ids[:]
    rng.shuffle(perm)
    a = [(i, r + 1) for r, i in enumerate(ids)]
    b = [(i, r + 1) for r, i in enumerate(perm)] + [(999, 41)]  # extra id: inner join drops
    ra = spark.createDataFrame(a, ["doc_id", "rank"])
    rb = spark.createDataFrame(b, ["doc_id", "rank"])
    out = rank_correlation(ra, rb).collect()[0]

    am = dict(a)
    bm = dict(b)
    common = sorted(set(am) & set(bm))
    xs = [am[i] for i in common]
    ys = [bm[i] for i in common]
    n = len(common)
    sx, sy = sum(xs), sum(ys)
    sxx = sum(x * x for x in xs)
    syy = sum(y * y for y in ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    rho = (n * sxy - sx * sy) / (
        math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy)
    )
    dfoot = sum(abs(x - y) for x, y in zip(xs, ys))
    assert out["n"] == n and out["d_foot"] == dfoot
    assert abs(out["rho_spearman"] - round(rho, 6)) < 1e-9
    # identical lists -> rho 1, footrule 0
    same = rank_correlation(ra, ra).collect()[0]
    assert same["rho_spearman"] == 1.0 and same["d_foot"] == 0
    # reversed -> rho -1
    rev = spark.createDataFrame(
        [(i, len(ids) - r) for i, r in a], ["doc_id", "rank"]
    )
    assert rank_correlation(ra, rev).collect()[0]["rho_spearman"] == -1.0
    # single-row overlap: variance 0 -> NULL
    one = spark.createDataFrame([(0, 1)], ["doc_id", "rank"])
    assert rank_correlation(one, one).collect()[0]["rho_spearman"] is None


def test_random_walks_matches_python(spark):
    from spatialdata_spark.pipeline.graph import random_walks

    und = _random_graph(seed=47, n=20, m=45)
    df = spark.createDataFrame(und, ["src", "dst"])
    L, W, SALT = 4, 2, 42
    out = random_walks(df, walk_len=L, walks_per_node=W, salt=SALT).collect()

    nodes = sorted({x for e in und for x in e})
    adj = {v: [] for v in nodes}
    for a, b in und:
        adj[a].append(b)
        adj[b].append(a)
    for v in adj:
        adj[v].sort()
    M31, K = 2147483648, 2654435761

    def nxt(node, t, w):
        h0 = ((node % M31) * K + t * 40503 + w * 69069 + SALT) % M31
        h = (h0 * K) % M31
        return adj[node][h % len(adj[node])]

    ref = {}
    for v in nodes:
        for w in range(W):
            cur = v
            ref[(v, w, 0)] = cur
            for t in range(1, L + 1):
                cur = nxt(cur, t, w)
                ref[(v, w, t)] = cur
    got = {(r["start"], r["walk_no"], r["step"]): r["node"] for r in out}
    assert got == ref
    # every walk is complete and stays on real edges
    es = {frozenset(e) for e in und}
    for v in nodes:
        for w in range(W):
            path = [ref[(v, w, t)] for t in range(L + 1)]
            assert path[0] == v
            for a, b in zip(path, path[1:]):
                assert frozenset((a, b)) in es
    # determinism: a second run is bit-identical
    again = {
        (r["start"], r["walk_no"], r["step"]): r["node"]
        for r in random_walks(df, walk_len=L, walks_per_node=W, salt=SALT).collect()
    }
    assert again == got
    # a different salt gives a different corpus
    other = {
        (r["start"], r["walk_no"], r["step"]): r["node"]
        for r in random_walks(df, walk_len=L, walks_per_node=W, salt=7).collect()
    }
    assert other != got


def test_kcore_rounds_matches_python(spark):
    from spatialdata_spark.pipeline.graph import kcore_rounds

    und = _random_graph(seed=99, n=30, m=70)
    df = spark.createDataFrame(und, ["src", "dst"])
    K, R = 3, 4
    out = {r["node"]: r["degree"] for r in kcore_rounds(df, k_core=K, rounds=R).collect()}

    # reference replicates the BOUNDED-ROUND semantics exactly: each
    # round drops every node below K simultaneously, R rounds total
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    alive = set(adj)
    for _ in range(R):
        alive = {v for v in alive if len(adj[v] & alive) >= K}
    assert set(out) == alive
    for v in alive:
        assert out[v] == len(adj[v] & alive)
    # bounded-round superset contract: fewer rounds keep at least as many
    partial = {r["node"] for r in kcore_rounds(df, k_core=K, rounds=1).collect()}
    assert alive <= partial
    # fixpoint on a small graph: triangle survives its own 2-core, the
    # pendant path peels away over successive rounds
    tri = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], ["src", "dst"]
    )
    got = {r["node"] for r in kcore_rounds(tri, k_core=2, rounds=3).collect()}
    assert got == {1, 2, 3}


def test_hop_distances_matches_python(spark):
    from collections import deque

    from spatialdata_spark.pipeline.graph import hop_distances

    und = _random_graph(seed=13, n=35, m=50)
    df = spark.createDataFrame(und, ["src", "dst"])
    seeds, H = [0, 7, 19], 3
    out = {(r["seed"], r["node"]): r["dist"] for r in hop_distances(df, seeds, max_hops=H).collect()}

    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    ref = {}
    for s in seeds:
        dist = {s: 0}
        q = deque([s])
        while q:
            v = q.popleft()
            if dist[v] == H:
                continue
            for w in adj.get(v, ()):
                if w not in dist:
                    dist[w] = dist[v] + 1
                    q.append(w)
        for v, d in dist.items():
            ref[(s, v)] = d
    assert out == ref


def test_calibration_bins_drops_null_scores(spark):
    from spatialdata_spark.pipeline.classify import calibration_bins

    rows = [(i, float(i), i % 2) for i in range(20)] + [
        (100, None, 1),
        (101, None, 0),
    ]
    df = spark.createDataFrame(rows, "doc_id long, llr_mean double, label int")
    out = calibration_bins(df, n_bins=4).collect()
    # NULL-score rows excluded entirely (engines disagree on NULL sort
    # position, so they can't deterministically bin)
    assert sum(r["n_docs"] for r in out) == 20
    assert sum(r["n_pos"] for r in out) == 10
    assert all(r["mean_score"] is not None for r in out)


def test_confusion_stats_matches_python(spark):
    import random

    from spatialdata_spark.pipeline.classify import confusion_stats

    rng = random.Random(3)
    rows = [(rng.choice("abc"), rng.choice("abd")) for _ in range(300)]
    df = spark.createDataFrame(rows, ["label", "pred"])
    out = {r["class"]: r for r in confusion_stats(df).collect()}

    classes = {c for r in rows for c in r}
    assert set(out) == classes
    for c in classes:
        tp = sum(1 for t, p in rows if t == c and p == c)
        fp = sum(1 for t, p in rows if t != c and p == c)
        fn = sum(1 for t, p in rows if t == c and p != c)
        r = out[c]
        assert (r["tp"], r["fp"], r["fn"]) == (tp, fp, fn)
        npred, ntruth = tp + fp, tp + fn
        assert r["precision"] == (round(tp / npred, 6) if npred else None)
        assert r["recall"] == (round(tp / ntruth, 6) if ntruth else None)
        if npred and ntruth:
            assert abs(r["f1"] - round(2 * tp / (npred + ntruth), 6)) < 1e-9
    # 'c' never predicted -> precision NULL; 'd' never true -> recall NULL
    assert out["c"]["precision"] is None and out["c"]["recall"] is not None
    assert out["d"]["recall"] is None and out["d"]["precision"] is not None


def test_cohens_kappa_matches_python(spark):
    import random

    from spatialdata_spark.pipeline.classify import cohens_kappa

    rng = random.Random(29)
    rows = []
    for _ in range(500):
        a = rng.choice("xyz")
        b = a if rng.random() < 0.7 else rng.choice("xyz")
        rows.append((a, b))
    df = spark.createDataFrame(rows, ["rater_a", "rater_b"])
    out = cohens_kappa(df, "rater_a", "rater_b").collect()[0]

    from collections import Counter

    n = len(rows)
    agree = sum(1 for a, b in rows if a == b)
    ca, cb = Counter(a for a, _ in rows), Counter(b for _, b in rows)
    sab = sum(ca[k] * cb.get(k, 0) for k in ca)
    po, pe = agree / n, sab / (n * n)
    kappa = (n * agree - sab) / (n * n - sab)
    assert out["n"] == n
    assert abs(out["po"] - round(po, 6)) < 1e-9
    assert abs(out["pe"] - round(pe, 6)) < 1e-9
    assert abs(out["kappa"] - round(kappa, 6)) < 1e-9
    assert (po - pe) / (1 - pe) - kappa < 1e-12  # same identity
    # perfect agreement -> kappa 1; constant identical raters -> NULL
    same = spark.createDataFrame([(c, c) for c in "xyzxyz"], ["a", "b"])
    assert cohens_kappa(same, "a", "b").collect()[0]["kappa"] == 1.0
    const = spark.createDataFrame([("x", "x")] * 5, ["a", "b"])
    assert cohens_kappa(const, "a", "b").collect()[0]["kappa"] is None
    # rows where EITHER rater is NULL are dropped (the confusion_stats
    # convention): n counts only complete pairs, and the NULL rows do
    # not skew po/pe through phantom marginals
    with_nulls = spark.createDataFrame(
        [(c, c) for c in "xyzxyz"] + [(None, "x"), ("y", None), (None, None)],
        "a string, b string",
    )
    r = cohens_kappa(with_nulls, "a", "b").collect()[0]
    assert r["n"] == 6 and r["kappa"] == 1.0


def test_modularity_matches_python(spark):
    import random

    from spatialdata_spark.pipeline.graph import label_propagation, modularity

    # two dense cliques + one bridge: strong community structure
    cliqueA = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    cliqueB = [(a, b) for a in range(10, 15) for b in range(a + 1, 15)]
    und = cliqueA + cliqueB + [(4, 10)]
    df = spark.createDataFrame(und, ["src", "dst"])
    good = spark.createDataFrame(
        [(v, 0 if v < 5 else 1) for v in list(range(5)) + list(range(10, 15))],
        ["node", "label"],
    )
    mdf = modularity(df, good)
    # OUTPUT SCHEMA CONTRACT: no DecimalType (DuckDB pandas-materializes
    # DECIMAL as float64, Spark as Decimal objects — the driver hash
    # diverges on the serialized form; r8+r9 red) and no DoubleType
    # (the r8 rounded-double textual-form hazard).  Pure integers only.
    from pyspark.sql.types import DecimalType, DoubleType

    bad = [
        f.name
        for f in mdf.schema.fields
        if isinstance(f.dataType, (DecimalType, DoubleType))
    ]
    assert not bad, f"modularity output must be integer-only, got {bad}"
    out = mdf.collect()[0]

    m = len(und)
    lab = {v: (0 if v < 5 else 1) for v in list(range(5)) + list(range(10, 15))}
    in_c = sum(1 for a, b in und if lab[a] == lab[b])
    from collections import Counter

    degc = Counter()
    for a, b in und:
        degc[lab[a]] += 1
        degc[lab[b]] += 1
    sd2 = sum(d * d for d in degc.values())
    qn, qd = 4 * m * in_c - sd2, 4 * m * m
    # reference half-away-from-zero microunits (python Fraction-free:
    # the magnitudes are tiny here)
    exp_e6 = (1 if qn >= 0 else -1) * ((2 * abs(qn) * 10**6 + qd) // (2 * qd))
    assert out["m"] == m
    assert int(out["q_num"]) == qn
    assert int(out["q_den"]) == qd
    # the score column is an exact BIGINT — no floating point in the
    # contract (closes the r8 rounded-double hash hazard)
    assert isinstance(out["modularity_e6"], int)
    assert out["modularity_e6"] == exp_e6
    assert out["modularity_e6"] > 300_000  # real structure scores high
    # the all-one-community labeling scores ZERO exactly
    ugly = good.select("node", F.lit(7).alias("label"))
    z = modularity(df, ugly).collect()[0]
    assert int(z["q_num"]) == 0 and z["modularity_e6"] == 0
    # a random labeling scores worse than the true communities
    rng = random.Random(4)
    rand = spark.createDataFrame(
        [(v, rng.randrange(2)) for v in lab], ["node", "label"]
    )
    assert (
        modularity(df, rand).collect()[0]["modularity_e6"] < out["modularity_e6"]
    )
    # LPA labels on this graph recover the cliques -> same modularity
    lpa = label_propagation(
        df.union(df.select(F.col("dst").alias("src"), F.col("src").alias("dst"))),
        k=3,
    )
    assert modularity(df, lpa).collect()[0]["modularity_e6"] == out["modularity_e6"]
    # NO DoubleType anywhere in the output schema — the guard for the
    # exact-rational-pair contract
    assert all(f.dataType.typeName() != "double" for f in modularity(df, good).schema)


def test_pagerank_weighted_matches_python(spark):
    import random

    from spatialdata_spark.pipeline.graph import pagerank, pagerank_weighted

    rng = random.Random(11)
    nodes = list(range(1, 15))
    edges = sorted(
        {(rng.choice(nodes), rng.choice(nodes)) for _ in range(40)}
    )
    wedges = [(a, b, rng.randrange(1, 9)) for a, b in edges]
    df = spark.createDataFrame(wedges, ["src", "dst", "weight"])
    got = {r["node"]: r["rank_fp"] for r in pagerank_weighted(df, k=2).collect()}

    scale, dn, dd = 10**9, 85, 100
    ns = sorted({v for a, b, _ in wedges for v in (a, b)})
    n = len(ns)
    W = {}
    for a, _, w in wedges:
        W[a] = W.get(a, 0) + w
    base = ((dd - dn) * scale) // (dd * n)
    rank = {v: scale // n for v in ns}
    for _ in range(2):
        inc = {v: 0 for v in ns}
        for a, b, w in wedges:
            inc[b] += (rank[a] * w) // W[a]
        rank = {v: base + (dn * inc[v]) // dd for v in ns}
    assert got == rank
    # all-1 weights reproduce the unweighted operator exactly
    ones = spark.createDataFrame(
        [(a, b, 1) for a, b in edges], ["src", "dst", "weight"]
    )
    plain = {
        r["node"]: r["rank_fp"]
        for r in pagerank(
            spark.createDataFrame(edges, ["src", "dst"]), k=2
        ).collect()
    }
    assert {
        r["node"]: r["rank_fp"] for r in pagerank_weighted(ones, k=2).collect()
    } == plain
    # non-positive weights rejected loudly
    import pytest as _pytest

    badw = spark.createDataFrame([(1, 2, 0)], ["src", "dst", "weight"])
    with _pytest.raises(ValueError, match="non-positive"):
        pagerank_weighted(badw, k=1)


def test_pagerank_personalized_concentrates_on_seeds(spark):
    from spatialdata_spark.pipeline.graph import pagerank_weighted

    # chain 1-2-3-4-5-6 (both directions), seed at node 1
    chain = [(i, i + 1, 1) for i in range(1, 6)]
    chain += [(b, a, w) for a, b, w in chain]
    df = spark.createDataFrame(chain, ["src", "dst", "weight"])
    got = {
        r["node"]: r["rank_fp"]
        for r in pagerank_weighted(df, k=3, seeds=[1]).collect()
    }
    # python replay of the personalized recurrence
    scale, dn, dd = 10**9, 85, 100
    ns = list(range(1, 7))
    W = {v: 0 for v in ns}
    for a, _, w in chain:
        W[a] += w
    base = {v: ((dd - dn) * scale) // dd if v == 1 else 0 for v in ns}
    rank = {v: scale if v == 1 else 0 for v in ns}
    for _ in range(3):
        inc = {v: 0 for v in ns}
        for a, b, w in chain:
            inc[b] += (rank[a] * w) // W[a]
        rank = {v: base[v] + (dn * inc[v]) // dd for v in ns}
    assert got == rank
    # mass concentrates on the seed's side of the chain (the seed
    # itself donates all its mass to node 2 each round, so 2 may
    # legitimately outrank 1 — concentration, not monotone decay)
    assert got[6] == min(got.values())
    assert got[1] + got[2] > got[5] + got[6]
    assert got[2] > got[5] and got[3] > got[6]


def test_hits_matches_python(spark):
    import random

    from spatialdata_spark.pipeline.graph import hits

    rng = random.Random(21)
    # bipartite: parts 1..8 -> suppliers 101..104
    edges = sorted(
        {(rng.randrange(1, 9), rng.randrange(101, 105)) for _ in range(18)}
    )
    df = spark.createDataFrame(edges, ["src", "dst"])
    K, S = 3, 10**6
    out = {r["node"]: (r["hub_fp"], r["auth_fp"]) for r in hits(df, k=K, scale=S).collect()}

    ns = sorted({v for e in edges for v in e})
    h = {v: S for v in ns}
    a = {v: 0 for v in ns}
    for _ in range(K):
        a_raw = {v: 0 for v in ns}
        for u, v in edges:
            a_raw[v] += h[u]
        amax = max(a_raw.values())
        a = {v: (a_raw[v] * S) // amax for v in ns}
        h_raw = {v: 0 for v in ns}
        for u, v in edges:
            h_raw[u] += a[v]
        hmax = max(h_raw.values())
        h = {v: (h_raw[v] * S) // hmax for v in ns}
    assert out == {v: (h[v], a[v]) for v in ns}
    # bipartite separation: suppliers are pure authorities, parts pure hubs
    for v in ns:
        if v > 100:
            assert out[v][0] == 0 and out[v][1] > 0
        else:
            assert out[v][1] == 0 and out[v][0] > 0
    # the top authority is the max by construction: exactly `scale`
    assert max(x[1] for x in out.values()) == S


def test_lift_table_matches_python(spark):
    import random

    from spatialdata_spark.pipeline.classify import lift_table

    rng = random.Random(41)
    # higher score -> more likely positive, with ties
    rows = []
    for i in range(200):
        s = rng.choice([1, 2, 3, 5, 8])
        rows.append((i, s, 1 if rng.random() < s / 10 else 0))
    df = spark.createDataFrame(rows, ["doc_id", "llr_mean", "label"])
    out = {r["bin"]: r for r in lift_table(df, n_bins=5).collect()}

    srt = sorted(rows, key=lambda r: (-r[1], r[0]))
    n, k = len(srt), 5
    base, extra = divmod(n, k)
    bins, pos = {}, 0
    for b in range(1, k + 1):
        size = base + (1 if b <= extra else 0)
        bins[b] = srt[pos : pos + size]
        pos += size
    td = n
    tp = sum(y for _, _, y in rows)
    cd = cp = 0
    for b in range(1, k + 1):
        nd = len(bins[b])
        np_ = sum(y for _, _, y in bins[b])
        cd += nd
        cp += np_
        r = out[b]
        assert (r["n_docs"], r["n_pos"], r["cum_docs"], r["cum_pos"]) == (
            nd,
            np_,
            cd,
            cp,
        )
        assert abs(r["gain"] - round(cp / tp, 6)) < 1e-9
        assert abs(r["lift"] - round((cp * td) / (cd * tp), 6)) < 1e-9
    # the final row always has gain 1 and lift 1
    assert out[5]["gain"] == 1.0 and out[5]["lift"] == 1.0
    # the top bin of a score correlated with the label lifts above 1
    assert out[1]["lift"] > 1.0


def test_poisson_bootstrap_ci_matches_python(spark):
    import math
    import random

    from spatialdata_spark.pipeline.classify import (
        _POISSON1_CDF_M6,
        poisson_bootstrap_ci,
    )

    rng = random.Random(6)
    rows = [(i, rng.randrange(50, 150)) for i in range(300)]
    df = spark.createDataFrame(rows, ["doc_id", "val"])

    # injectable Knuth bucket so the replay is engine-free
    def bucket(idc, bc):
        return F.pmod(
            F.pmod(
                F.pmod(idc * 1000003 + bc * 10007 + 77, F.lit(2147483648))
                * F.lit(2654435761),
                F.lit(2147483648),
            ),
            F.lit(1000000),
        )

    B, ALPHA = 120, 0.05
    out = poisson_bootstrap_ci(
        df, "val", n_boot=B, alpha=ALPHA, bucket_of=bucket
    ).collect()[0]

    def py_bucket(i, b):
        return (((i * 1000003 + b * 10007 + 77) % 2147483648) * 2654435761) % 2147483648 % 1000000

    def mult(u):
        return sum(1 for t in _POISSON1_CDF_M6 if u >= t)

    means = []
    for b in range(1, B + 1):
        n = s = 0
        for i, x in rows:
            m = mult(py_bucket(i, b))
            n += m
            s += m * x
        if n:
            means.append(s / n)
    means.sort()
    nr = len(means)
    lo = means[max(1, math.floor((nr + 1) * ALPHA / 2)) - 1]
    hi = means[min(nr, math.ceil((nr + 1) * (1 - ALPHA / 2))) - 1]
    full = sum(x for _, x in rows) / len(rows)
    assert out["n_rows"] == 300 and out["n_boot"] == B
    assert abs(out["mean"] - round(full, 6)) < 1e-9
    assert abs(out["ci_lo"] - round(lo, 6)) < 1e-9
    assert abs(out["ci_hi"] - round(hi, 6)) < 1e-9
    # the interval brackets the sample mean and is nondegenerate
    assert out["ci_lo"] < out["mean"] < out["ci_hi"]
    # determinism: bit-identical on a second run
    again = poisson_bootstrap_ci(
        df, "val", n_boot=B, alpha=ALPHA, bucket_of=bucket
    ).collect()[0]
    assert again == out


def test_round8_null_and_degenerate_contracts(spark):
    import pytest

    from spatialdata_spark.pipeline.classify import confusion_stats, woe_iv
    from spatialdata_spark.pipeline.graph import hits, kcore_rounds
    from spatialdata_spark.pipeline.textstats import ks_2sample

    # ks_2sample drops NULL values instead of binning them at an
    # engine-dependent end of the grid
    rows = [(i, v, s) for s in ("src0", "src1") for i, v in enumerate([1, 2, None, 9])]
    df = spark.createDataFrame(rows, "doc_id long, n_chars long, source string")
    out = ks_2sample(df).collect()[0]
    assert out["n_a"] == 3 and out["n_b"] == 3 and out["ks_num"] == 0

    # woe_iv drops NULL labels from both classes
    wdf = spark.createDataFrame(
        [("p", 1), ("p", 0), ("p", None)], "cat string, label int"
    )
    w = woe_iv(wdf, "cat", "label").collect()[0]
    assert (w["n_pos"], w["n_neg"]) == (1, 1)

    # confusion_stats drops NULL truth/pred rows: no garbage NULL class
    cdf = spark.createDataFrame(
        [("en", "en"), (None, "en"), ("de", None)], "label string, pred string"
    )
    conf = {r["class"]: r for r in confusion_stats(cdf).collect()}
    assert set(conf) == {"en"}
    assert (conf["en"]["tp"], conf["en"]["fp"], conf["en"]["fn"]) == (1, 0, 0)

    # hits rejects k=0 loudly instead of crashing on a None join
    with pytest.raises(ValueError, match="k must be >= 1"):
        hits(spark.createDataFrame([(1, 2)], ["src", "dst"]), k=0)

    # kcore keeps a survivor whose last neighbors were peeled: star
    # center passes k=2 in round 1, leaves don't — center stays with
    # its now-zero degree under the bounded-round superset contract
    star = spark.createDataFrame([(0, i) for i in range(1, 4)], ["src", "dst"])
    got = {r["node"]: r["degree"] for r in kcore_rounds(star, k_core=2, rounds=1).collect()}
    assert got == {0: 0}


def test_brier_decomposition_matches_python(spark):
    import random

    from spatialdata_spark.pipeline.classify import brier_decomposition

    rng = random.Random(17)
    # probabilities correlated with labels so resolution is nonzero
    rows = []
    for i in range(400):
        p = rng.randrange(0, 1000001)
        y = 1 if rng.random() < p / 1e6 else 0
        rows.append((i, p, y))
    df = spark.createDataFrame(rows, ["doc_id", "p_e6", "label"])

    def ref(binner):
        N = len(rows)
        npos = sum(y for _, _, y in rows)
        ybar = npos / N
        brier = sum((p / 1e6 - y) ** 2 for _, p, y in rows) / N
        bins = {}
        for _, p, y in rows:
            k = binner(p)
            n, pos, sp = bins.get(k, (0, 0, 0))
            bins[k] = (n + 1, pos + y, sp + p)
        rel = sum(
            n * (sp / 1e6 / n - pos / n) ** 2 for n, pos, sp in bins.values()
        ) / N
        res = sum(n * (pos / n - ybar) ** 2 for n, pos, sp in bins.values()) / N
        return N, npos, brier, rel, res, ybar * (1 - ybar)

    # distinct-forecast mode: Murphy's original, identity EXACT
    out = brier_decomposition(df).collect()[0]
    N, npos, brier, rel, res, unc = ref(lambda p: p)
    assert out["n"] == N and out["n_pos"] == npos
    assert abs(out["brier"] - round(brier, 6)) < 2e-6
    assert abs(out["reliability"] - round(rel, 6)) < 2e-6
    assert abs(out["resolution"] - round(res, 6)) < 2e-6
    assert abs(out["uncertainty"] - round(unc, 6)) < 2e-6
    assert abs(brier - (rel - res + unc)) < 1e-12  # the exact identity
    assert (
        abs(out["brier"] - (out["reliability"] - out["resolution"] + out["uncertainty"]))
        < 5e-6
    )
    # binned mode: parts match the binned reference; the identity
    # deliberately does NOT hold (within-bin terms — documented)
    outb = brier_decomposition(df, n_bins=10).collect()[0]
    N, npos, brier, rel, res, unc = ref(lambda p: p * 10 // 1000001)
    assert abs(outb["reliability"] - round(rel, 6)) < 2e-6
    assert abs(outb["resolution"] - round(res, 6)) < 2e-6
    assert abs(outb["brier"] - round(brier, 6)) < 2e-6


def test_cramers_v_drift_matches_python(spark):
    import math
    import random

    import pytest

    from spatialdata_spark.operators.temporal import cramers_v_drift

    rng = random.Random(31)
    cats = ["click", "view", "purchase", "refund"]
    rows = []
    for i in range(500):
        before = rng.random() < 0.5
        # drift the mix: purchases much likelier after the boundary
        w = [4, 3, 1, 1] if before else [2, 2, 5, 1]
        cat = rng.choices(cats, weights=w)[0]
        ts = "2024-01-10 00:00:00" if before else "2024-01-20 00:00:00"
        rows.append((i, cat, ts))
    df = spark.createDataFrame(rows, ["event_id", "event_type", "ts_s"]).select(
        "event_id", "event_type", F.to_timestamp("ts_s").alias("ts")
    )
    out = cramers_v_drift(df, "2024-01-16").collect()[0]

    from collections import Counter

    n = Counter((c, t.startswith("2024-01-10")) for _, c, t in rows)
    r = Counter()
    cmarg = Counter()
    for (c, j), v in n.items():
        r[c] += v
        cmarg[j] += v
    N = len(rows)
    chi2 = 0.0
    for c in r:
        for j in cmarg:
            num = N * n.get((c, j), 0) - r[c] * cmarg[j]
            chi2 += (num * num) / (N * r[c] * cmarg[j])
    v = math.sqrt(chi2 / (N * (min(len(r), len(cmarg)) - 1)))
    assert out["n"] == N and out["n_categories"] == len(r)
    assert abs(out["chi2"] - round(chi2, 6)) < 1e-6
    assert abs(out["cramers_v"] - round(v, 6)) < 1e-6
    assert 0.2 < out["cramers_v"] < 0.8  # the planted drift is visible
    # single-period input: V undefined, NULL not a crash
    one = df.filter(F.col("ts") < F.to_timestamp(F.lit("2024-01-16")))
    assert cramers_v_drift(one, "2024-01-16").collect()[0]["cramers_v"] is None
    # unparseable boundary fails loudly driver-side
    with pytest.raises(ValueError, match="cramers_v_drift"):
        cramers_v_drift(df, "yesterday-ish")
    # NULL convention (same as cohens_kappa): NULL-category and NULL-ts
    # rows are excluded up front — a NULL category's grid equi-join
    # never matches (SQL NULL semantics), so its cells would coalesce
    # to 0 while its margin still contributed, inflating chi2; a NULL
    # ts would silently classify as 'current'
    with_nulls = df.unionByName(
        spark.createDataFrame(
            [
                (9001, None, "2024-01-10 00:00:00"),
                (9002, "click", None),
                (9003, None, None),
            ],
            ["event_id", "event_type", "ts_s"],
        ).select("event_id", "event_type", F.to_timestamp("ts_s").alias("ts"))
    )
    out_n = cramers_v_drift(with_nulls, "2024-01-16").collect()[0]
    assert out_n["n"] == N and out_n["n_categories"] == len(r)
    assert out_n["chi2"] == out["chi2"] and out_n["cramers_v"] == out["cramers_v"]


def test_ndcg_at_k_matches_python(spark):
    import math

    from spatialdata_spark.pipeline.search import ndcg_at_k

    ranked = spark.createDataFrame(
        [(10, 1), (11, 2), (12, 3), (99, 4)], ["doc_id", "rank"]
    )
    truth = spark.createDataFrame(
        [(10, 3), (11, 1), (12, 2), (13, 3)], ["doc_id", "rel"]
    )
    out = ndcg_at_k(ranked, truth, k=4).collect()[0]
    dcg = 3 / math.log(2) + 1 / math.log(3) + 2 / math.log(4) + 0 / math.log(5)
    # ideal: rel desc, id tie-break -> 3(id10), 3(id13), 2(id12), 1(id11)
    idcg = (
        3 / math.log(2) + 3 / math.log(3) + 2 / math.log(4) + 1 / math.log(5)
    )
    assert out["n_ranked"] == 4
    assert abs(out["dcg_ln"] - round(dcg, 6)) < 1e-9
    assert abs(out["idcg_ln"] - round(idcg, 6)) < 1e-9
    assert abs(out["ndcg"] - round(dcg / idcg, 6)) < 1e-9
    # a perfect ranking of the graded set scores exactly 1
    perfect = spark.createDataFrame(
        [(10, 1), (13, 2), (12, 3), (11, 4)], ["doc_id", "rank"]
    )
    assert ndcg_at_k(perfect, truth, k=4).collect()[0]["ndcg"] == 1.0
    # empty-grade truth: NULL, not a crash
    zeros = truth.select("doc_id", (F.col("rel") * 0).alias("rel"))
    assert ndcg_at_k(ranked, zeros, k=4).collect()[0]["ndcg"] is None


def test_mcc_matches_python(spark):
    import math
    import random

    from spatialdata_spark.pipeline.classify import mcc_stats

    rng = random.Random(17)
    rows = [
        (
            1 if rng.random() < 0.3 else 0,
            1 if rng.random() < 0.4 else 0,
        )
        for _ in range(400)
    ]
    # correlate: flip pred toward label half the time
    rows = [(y, y if rng.random() < 0.5 else p) for y, p in rows]
    df = spark.createDataFrame(rows, ["label", "pred"])
    out = mcc_stats(df).collect()[0]
    tp = sum(1 for y, p in rows if y == 1 and p == 1)
    fp = sum(1 for y, p in rows if y == 0 and p == 1)
    fn = sum(1 for y, p in rows if y == 1 and p == 0)
    tn = sum(1 for y, p in rows if y == 0 and p == 0)
    assert (out["tp"], out["fp"], out["fn"], out["tn"]) == (tp, fp, fn, tn)
    # factored denominator: sqrt per margin, never the n^4 product
    # (which would overflow DECIMAL(38,0) past ~3e9 rows)
    den = (
        math.sqrt(tp + fp)
        * math.sqrt(tp + fn)
        * math.sqrt(tn + fp)
        * math.sqrt(tn + fn)
    )
    exp = round((tp * tn - fp * fn) / den, 6)
    assert abs(out["mcc"] - exp) < 1e-9
    assert out["mcc"] > 0  # planted correlation is positive
    # constant prediction: a zero margin -> NULL mcc, never a crash
    const = spark.createDataFrame([(1, 1), (0, 1)], ["label", "pred"])
    assert mcc_stats(const).collect()[0]["mcc"] is None
    # NULL rows dropped (the confusion_stats convention)
    with_null = df.unionByName(
        spark.createDataFrame([(None, 1), (1, None)], "label int, pred int")
    )
    out2 = mcc_stats(with_null).collect()[0]
    assert out2["n"] == 400 and out2["mcc"] == out["mcc"]


def test_pr_curve_matches_python(spark):
    import random

    from spatialdata_spark.pipeline.classify import pr_curve

    rng = random.Random(23)
    rows = [(i, rng.randrange(1000), 1 if rng.random() < 0.3 else 0) for i in range(500)]
    df = spark.createDataFrame(rows, ["doc_id", "llr_mean", "label"])
    got = {r["bin"]: r for r in pr_curve(df, n_bins=10).collect()}

    # python ntile over (score desc, id)
    s = sorted(rows, key=lambda r: (-r[1], r[0]))
    n = len(s)
    base, extra = divmod(n, 10)
    bins, pos = {}, {}
    idx = 0
    for b in range(1, 11):
        size = base + (1 if b <= extra else 0)
        chunk = s[idx : idx + size]
        idx += size
        bins[b] = len(chunk)
        pos[b] = sum(r[2] for r in chunk)
    tpos = sum(pos.values())
    kept = pkept = 0
    for b in range(1, 11):
        kept += bins[b]
        pkept += pos[b]
        r = got[b]
        assert r["n_kept"] == kept and r["n_pos_kept"] == pkept
        assert abs(r["precision"] - round(pkept / kept, 6)) < 1e-9
        assert abs(r["recall"] - round(pkept / tpos, 6)) < 1e-9
        assert abs(r["f1"] - round(2 * pkept / (kept + tpos), 6)) < 1e-9
    assert got[10]["recall"] == 1.0  # keeping everything recalls all


def test_ece_matches_python(spark):
    import random

    from spatialdata_spark.pipeline.classify import expected_calibration_error

    rng = random.Random(5)
    rows = []
    for _ in range(600):
        p = rng.randrange(0, 1_000_001)
        y = 1 if rng.random() < p / 1e6 else 0  # roughly calibrated
        rows.append((p, y))
    df = spark.createDataFrame(rows, ["p_e6", "label"])
    out = expected_calibration_error(df, n_bins=10).collect()[0]
    per = {}
    for p, y in rows:
        b = min(9, p * 10 // 1_000_000)
        n, pos, sp = per.get(b, (0, 0, 0))
        per[b] = (n + 1, pos + y, sp + p)
    ece_num = sum(abs(pos * 10**6 - sp) for _, pos, sp in per.values())
    assert out["n"] == 600 and out["n_bins_used"] == len(per)
    assert out["ece_num"] == ece_num
    assert abs(out["ece"] - round(ece_num / (600 * 1e6), 6)) < 1e-9
    assert out["ece"] < 0.2  # calibrated-by-construction data scores low
    # a maximally miscalibrated forecast scores ~1
    bad = spark.createDataFrame(
        [(1_000_000, 0)] * 50 + [(0, 1)] * 50, ["p_e6", "label"]
    )
    assert expected_calibration_error(bad).collect()[0]["ece"] == 1.0
    # out-of-range probability on a COUNTED row: loud error
    import pytest

    oor = spark.createDataFrame(
        [(500_000, 1), (-5, 0)], "p_e6: long, label: int"
    )
    with pytest.raises(Exception, match="outside"):
        expected_calibration_error(oor).collect()
    # ...but NOT on a row the NULL drop already excludes
    dropped = spark.createDataFrame(
        [(500_000, 1), (-5, None), (None, 0)], "p_e6: long, label: int"
    )
    ok = expected_calibration_error(dropped).collect()[0]
    assert ok["n"] == 1


def test_mann_whitney_u_matches_python(spark):
    import random

    from spatialdata_spark.pipeline.textstats import mann_whitney_u

    rng = random.Random(11)
    rows = [("src0", rng.randrange(50)) for _ in range(300)] + [
        ("src1", rng.randrange(30, 80)) for _ in range(200)
    ]
    df = spark.createDataFrame(
        [(i, s, v) for i, (s, v) in enumerate(rows)],
        ["doc_id", "source", "n_chars"],
    )
    out = mann_whitney_u(df).collect()[0]

    vals = sorted(v for _, v in rows)
    # midranks via doubled ranks
    from collections import Counter

    cnt = Counter(vals)
    start = {}
    c = 0
    for v in sorted(cnt):
        start[v] = c
        c += cnt[v]
    r2a = sum(
        2 * start[v] + cnt[v] + 1 for s, v in rows if s == "src0"
    )
    n_a = sum(1 for s, _ in rows if s == "src0")
    n_b = len(rows) - n_a
    u2 = r2a - n_a * (n_a + 1)
    assert out["n_a"] == n_a and out["n_b"] == n_b
    assert out["u2_a"] == u2
    assert abs(out["auc_ab"] - round(u2 / (2 * n_a * n_b), 6)) < 1e-9
    # src1 is shifted higher -> A "wins" less than half the time
    assert out["auc_ab"] < 0.5
    # identical groups -> auc exactly 1/2 (midranks make it exact)
    same = spark.createDataFrame(
        [(i, "src0", i % 10) for i in range(40)]
        + [(i + 100, "src1", i % 10) for i in range(40)],
        ["doc_id", "source", "n_chars"],
    )
    assert mann_whitney_u(same).collect()[0]["auc_ab"] == 0.5
    # empty group fails loudly
    import pytest

    with pytest.raises(Exception, match="mann_whitney_u"):
        mann_whitney_u(df.filter(F.col("source") == "src0")).collect()


def test_token_gini_matches_python(spark):
    from collections import Counter

    from spatialdata_spark.pipeline.textstats import token_gini

    texts = [
        "the the the quick brown fox",
        "the lazy dog and the cat",
        "a a b",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["doc_id", "text"])
    out = token_gini(df).collect()[0]
    cnt = Counter(w for t in texts for w in t.lower().strip().split())
    xs = sorted(cnt.values())
    n = len(xs)
    tot = sum(xs)
    num = 2 * sum((i + 1) * x for i, x in enumerate(xs)) - (n + 1) * tot
    assert out["n_types"] == n and out["total_tokens"] == tot
    assert out["gini_num"] == num
    assert abs(out["gini"] - round(num / (n * tot), 6)) < 1e-9
    # uniform frequencies -> gini exactly 0
    uni = spark.createDataFrame([(0, "a b c d")], ["doc_id", "text"])
    z = token_gini(uni).collect()[0]
    assert z["gini_num"] == 0 and z["gini"] == 0.0


def test_cusum_drift_matches_python(spark):
    from spatialdata_spark.operators.temporal import cusum_drift

    # 6 quiet days then 4 loud days: the change point is day 6's end
    rows = []
    eid = 0
    for d in range(1, 11):
        n = 10 if d <= 6 else 40
        for _ in range(n):
            rows.append((eid, f"2024-01-{d:02d} 12:00:00"))
            eid += 1
    df = spark.createDataFrame(rows, ["event_id", "ts_s"]).select(
        "event_id", F.to_timestamp("ts_s").alias("ts")
    )
    out = {r["day"]: r for r in cusum_drift(df).collect()}
    counts = {f"2024-01-{d:02d}": (10 if d <= 6 else 40) for d in range(1, 11)}
    N, D = sum(counts.values()), len(counts)
    s = 0
    exp = {}
    for day in sorted(counts):
        s += counts[day] * D - N
        exp[day] = s
    peak = max(abs(v) for v in exp.values())
    for day, v in exp.items():
        assert out[day]["cusum_num"] == v
        assert out[day]["is_peak"] == (abs(v) == peak)
    assert exp["2024-01-10"] == 0  # S_D = 0 identically
    assert out["2024-01-06"]["is_peak"]  # the planted change point
    # NULL ts rows are dropped, not misclassified
    with_null = df.unionByName(
        spark.createDataFrame([(9999, None)], "event_id long, ts timestamp")
    )
    out2 = {r["day"]: r["cusum_num"] for r in cusum_drift(with_null).collect()}
    assert out2 == {d: r["cusum_num"] for d, r in out.items()}


def test_connected_components_strong_copurchase_shape(spark):
    """Direct pin for the CC operator over a planted multi-component
    graph: three disjoint chains + one triangle — every node labels
    with its component's minimum id, singletons absent."""
    from spatialdata_spark.pipeline.dedup import connected_components

    edges = [
        (1, 2), (2, 3), (3, 4),          # chain -> comp 1
        (10, 11), (11, 12),              # chain -> comp 10
        (20, 21), (21, 22), (20, 22),    # triangle -> comp 20
    ]
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10, 12: 10,
        20: 20, 21: 20, 22: 20,
    }


def test_log_odds_tokens_matches_python(spark):
    import math
    from collections import Counter

    from spatialdata_spark.pipeline.textstats import log_odds_tokens

    a_texts = ["alpha alpha beta common common", "alpha gamma common"]
    b_texts = ["delta delta beta common common", "delta epsilon common common"]
    rows = [(i, "src0", t) for i, t in enumerate(a_texts)] + [
        (i + 10, "src1", t) for i, t in enumerate(b_texts)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    got = {r["token"]: r for r in log_odds_tokens(df, min_count=2, top_k=10).collect()}

    ca = Counter(w for t in a_texts for w in t.split())
    cb = Counter(w for t in b_texts for w in t.split())
    na, nb = sum(ca.values()), sum(cb.values())
    vocab = set(ca) | set(cb)
    V = len(vocab)
    for w in vocab:
        ya, yb = ca.get(w, 0), cb.get(w, 0)
        if ya + yb < 2:
            assert w not in got
            continue
        d = math.log((ya + 1) / (na + V - ya - 1)) - math.log(
            (yb + 1) / (nb + V - yb - 1)
        )
        z = d / math.sqrt(1 / (ya + 1) + 1 / (yb + 1))
        r = got[w]
        assert r["y_a"] == ya and r["y_b"] == yb
        assert abs(r["delta"] - round(d, 6)) < 1e-9
        assert abs(r["z"] - round(z, 6)) < 1e-9
    # direction: group-exclusive words score with the right sign
    assert got["alpha"]["z"] > 0 and got["delta"]["z"] < 0
    # a balanced word sits near zero
    assert abs(got["common"]["z"]) < abs(got["alpha"]["z"])


def test_centroid_cosine_matches_python(spark):
    import math

    from spatialdata_spark.pipeline.similarity import centroid_cosine

    rows = [
        (1, [1.0, 0.0, 0.0], 0),
        (2, [0.8, 0.2, 0.0], 0),
        (3, [0.0, 1.0, 0.0], 1),
        (4, [0.0, 0.9, 0.1], 1),
        (5, [0.5, 0.5, 0.0], 2),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    got = {
        (r["label_a"], r["label_b"]): r for r in centroid_cosine(df).collect()
    }
    import numpy as np

    sums = {}
    for _, v, lab in rows:
        q = [int(math.floor(x * 100 + 0.5)) for x in v]
        sums[lab] = [a + b for a, b in zip(sums.get(lab, [0, 0, 0]), q)]
    for (a, b), r in got.items():
        dot = sum(x * y for x, y in zip(sums[a], sums[b]))
        na = math.sqrt(sum(x * x for x in sums[a]))
        nb = math.sqrt(sum(x * x for x in sums[b]))
        assert r["dot_num"] == dot
        assert abs(r["cos"] - round(dot / (na * nb), 6)) < 1e-9
    # orthogonal-ish groups score low, the diagonal group sits between
    assert got[(0, 1)]["cos"] < 0.3
    assert got[(0, 2)]["cos"] > 0.6 and got[(1, 2)]["cos"] > 0.6
    # cosine of means == cosine of sums: group sizes don't matter
    doubled = df.unionByName(
        spark.createDataFrame(
            [(10, [1.0, 0.0, 0.0], 0), (11, [0.8, 0.2, 0.0], 0)],
            ["vec_id", "embedding", "label"],
        )
    )
    got2 = {
        (r["label_a"], r["label_b"]): r["cos"]
        for r in centroid_cosine(doubled).collect()
    }
    assert got2[(1, 2)] == got[(1, 2)]["cos"]  # untouched pair identical


def test_rank_binned_reports_approx_mode(spark):
    """approx=True on calibration_bins / lift_table / pr_curve is the
    at-extreme-scale mode: NO global sort and NO single-partition
    window in the plan (approx_percentile edges + a comparison
    ladder), totals conserved exactly, bins value-monotone and
    roughly equal-count."""
    import random

    from spatialdata_spark.pipeline.classify import (
        calibration_bins,
        lift_table,
        pr_curve,
    )

    rng = random.Random(41)
    rows = [(i, rng.random() * 1000, 1 if rng.random() < 0.3 else 0) for i in range(2000)]
    df = spark.createDataFrame(rows, ["doc_id", "llr_mean", "label"])
    n, npos = len(rows), sum(r[2] for r in rows)

    for fn, desc in ((calibration_bins, False), (lift_table, True), (pr_curve, True)):
        out = fn(df, n_bins=10, approx=True)
        plan = out._jdf.queryExecution().executedPlan().toString()
        # the corpus-sized global ntile sort must be GONE (the
        # n_bins-row cumulative window in lift/pr is metadata-sized
        # and intentional)
        assert "ntile" not in plan, f"{fn.__name__}: corpus ntile survived"
        rows_out = out.collect()
        assert 1 <= len(rows_out) <= 10
        if fn is calibration_bins:
            assert sum(r["n_docs"] for r in rows_out) == n
            assert sum(r["n_pos"] for r in rows_out) == npos
            # roughly equal bins (continuous scores, sketch acc 1e-4)
            sizes = [r["n_docs"] for r in rows_out]
            assert max(sizes) <= 2 * min(sizes)
        else:
            last = max(rows_out, key=lambda r: r["bin"])
            cum_docs = last["cum_docs"] if fn is lift_table else last["n_kept"]
            cum_pos = last["cum_pos"] if fn is lift_table else last["n_pos_kept"]
            assert cum_docs == n  # cumulative docs through the last bin
            assert cum_pos == npos
    # value-monotone assignment: every row in lift bin k scores >= every
    # row in bin k+1 (by-value edges cannot interleave)
    from spatialdata_spark.pipeline.classify import _approx_rank_bins

    b = df.select("doc_id", F.col("llr_mean").alias("__s")).filter(
        F.col("__s").isNotNull()
    )
    assigned = b.withColumn("bin", _approx_rank_bins(b, 10, descending=True))
    stats = (
        assigned.groupBy("bin")
        .agg(F.min("__s").alias("lo"), F.max("__s").alias("hi"))
        .orderBy("bin")
        .collect()
    )
    for prev, cur in zip(stats, stats[1:]):
        assert prev["lo"] >= cur["hi"]


def test_benford_deviation_matches_python(spark):
    import math
    import random

    from spatialdata_spark.pipeline.textstats import benford_deviation

    rng = random.Random(13)
    # log-uniform magnitudes follow Benford closely
    vals = [int(10 ** (rng.random() * 5)) + 1 for _ in range(3000)]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], ["doc_id", "n_chars"])
    got = {r["digit"]: r for r in benford_deviation(df).collect()}
    from collections import Counter

    cnt = Counter(int(str(v)[0]) for v in vals)
    n = len(vals)
    assert set(got) == set(range(1, 10))
    for d in range(1, 10):
        r = got[d]
        assert r["n"] == cnt.get(d, 0)
        assert abs(r["frac"] - round(cnt.get(d, 0) / n, 6)) < 1e-9
        bf = round(math.log10(1 + 1 / d), 6)
        assert r["benford_frac"] == bf
        assert abs(r["dev"] - round(cnt.get(d, 0) / n - bf, 6)) < 1e-9
    # log-uniform data deviates little from Benford
    mad = sum(abs(got[d]["dev"]) for d in range(1, 10)) / 9
    assert mad < 0.02
    # a clipped/uniform generator deviates hard (the screen's point)
    uni = spark.createDataFrame(
        [(i, 500 + i % 100) for i in range(1000)], ["doc_id", "n_chars"]
    )
    got_u = {r["digit"]: r for r in benford_deviation(uni).collect()}
    assert got_u[5]["frac"] == 1.0  # every value leads with 5
    # NULL / non-positive rows are dropped, absent digits report n=0
    edge = spark.createDataFrame(
        [(1, 123), (2, None), (3, 0), (4, -7)], "doc_id long, n_chars long"
    )
    got_e = {r["digit"]: r["n"] for r in benford_deviation(edge).collect()}
    assert got_e == {1: 1, 2: 0, 3: 0, 4: 0, 5: 0, 6: 0, 7: 0, 8: 0, 9: 0}


def test_duplication_profile_matches_python(spark):
    from spatialdata_spark.pipeline.dedup import duplication_profile

    rows = [
        # src0: 4 docs, one internal dup pair
        (1, "src0", "aaa"), (2, "src0", "aaa"), (3, "src0", "bbb"), (4, "src0", "ccc"),
        # src1: 3 docs, one cross-source dup with src0's "ccc"
        (5, "src1", "ccc"), (6, "src1", "ddd"), (7, "src1", "eee"),
        # src2: clean
        (8, "src2", "fff"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    got = {r["source"]: r for r in duplication_profile(df).collect()}
    # src0: dups = {1,2 (internal), 4 (cross)} -> 3; cross = {4}
    assert (got["src0"]["n_docs"], got["src0"]["n_dup_docs"], got["src0"]["n_cross_dup"]) == (4, 3, 1)
    assert got["src0"]["dup_rate"] == 0.75
    # src1: dups = {5} (cross with src0) -> 1; cross = {5}
    assert (got["src1"]["n_docs"], got["src1"]["n_dup_docs"], got["src1"]["n_cross_dup"]) == (3, 1, 1)
    # src2: clean
    assert (got["src2"]["n_dup_docs"], got["src2"]["n_cross_dup"]) == (0, 0)


def test_ks_matrix_matches_pairwise_python(spark):
    import random
    from collections import Counter

    from spatialdata_spark.pipeline.textstats import ks_matrix

    rng = random.Random(29)
    srcs = {"src0": (0, 40), "src1": (20, 60), "src2": (0, 40), "src3": (50, 90)}
    rows = []
    i = 0
    for s, (lo, hi) in srcs.items():
        for _ in range(rng.randint(40, 80)):
            rows.append((i, s, rng.randint(lo, hi)))
            i += 1
    df = spark.createDataFrame(rows, ["doc_id", "source", "n_chars"])
    got = {(r["group_a"], r["group_b"]): r for r in ks_matrix(df).collect()}
    assert len(got) == 6  # C(4,2)

    def ks(a_vals, b_vals):
        na, nb = len(a_vals), len(b_vals)
        ca, cb = Counter(a_vals), Counter(b_vals)
        grid = sorted(set(a_vals) | set(b_vals))
        cum_a = cum_b = best = 0
        for v in grid:
            cum_a += ca.get(v, 0)
            cum_b += cb.get(v, 0)
            best = max(best, abs(cum_a * nb - cum_b * na))
        return na, nb, best

    by_src = {}
    for _, s, v in rows:
        by_src.setdefault(s, []).append(v)
    for (a, b), r in got.items():
        na, nb, num = ks(by_src[a], by_src[b])
        assert (r["n_a"], r["n_b"], r["ks_num"], r["ks_den"]) == (na, nb, num, na * nb)
        assert abs(r["ks_stat"] - round(num / (na * nb), 9)) < 1e-12
    # identically-distributed ranges score lower than disjoint-ish ones
    assert got[("src0", "src2")]["ks_stat"] < got[("src0", "src3")]["ks_stat"]
    # the matrix agrees with the single-pair op on every cell
    from spatialdata_spark.pipeline.textstats import ks_2sample

    one = ks_2sample(df, group_a="src1", group_b="src3").collect()[0]
    assert got[("src1", "src3")]["ks_num"] == one["ks_num"]


def test_ks_matrix_approx_high_cardinality(spark):
    """approx=True on a continuous double column: the grid is bounded
    by n_bins, totals match the exact mode, and the binned statistic is
    a lower bound of the exact one that tightens as bins refine —
    pinned against a python reference fed the SAME sketch edges."""
    import random
    from collections import Counter

    import pyspark.sql.functions as F

    from spatialdata_spark.pipeline.textstats import ks_matrix

    rng = random.Random(31)
    rows = []
    i = 0
    for s, (mu, sd) in {"src0": (0.0, 1.0), "src1": (0.8, 1.0), "src2": (0.0, 2.5)}.items():
        for _ in range(400):
            rows.append((i, s, rng.gauss(mu, sd)))  # every value distinct w.p. 1
            i += 1
    df = spark.createDataFrame(rows, ["doc_id", "source", "score"])

    exact = {(r["group_a"], r["group_b"]): r for r in ks_matrix(df, value_col="score").collect()}
    n_bins = 64
    approx = {
        (r["group_a"], r["group_b"]): r
        for r in ks_matrix(df, value_col="score", approx=True, n_bins=n_bins).collect()
    }
    assert set(approx) == set(exact) and len(approx) == 3

    # python reference: same edges as the operator's own sketch call
    qs = [k / n_bins for k in range(1, n_bins)]
    edges = sorted(
        set(
            df.agg(F.percentile_approx(F.col("score").cast("double"), qs, 10_000)).first()[0]
        )
    )

    def binof(x):
        return 1 + sum(1 for e in edges if x > e)

    by_src = {}
    for _, s, x in rows:
        by_src.setdefault(s, []).append(binof(x))
    for (a, b), r in approx.items():
        ca, cb = Counter(by_src[a]), Counter(by_src[b])
        na, nb = len(by_src[a]), len(by_src[b])
        cum_a = cum_b = best = 0
        for v in sorted(set(by_src[a]) | set(by_src[b])):
            cum_a += ca.get(v, 0)
            cum_b += cb.get(v, 0)
            best = max(best, abs(cum_a * nb - cum_b * na))
        assert (r["n_a"], r["n_b"], r["ks_num"], r["ks_den"]) == (na, nb, best, na * nb)
        # binned KS never exceeds the exact KS (max over fewer cut points)
        assert r["ks_stat"] <= exact[(a, b)]["ks_stat"] + 1e-12
        # and with 64 equal-count bins over 400-row groups it is close
        assert r["ks_stat"] >= exact[(a, b)]["ks_stat"] - 0.08

    # the grid the downstream machinery saw is n_bins-bounded
    assert all(1 <= bv <= n_bins for vals in by_src.values() for bv in vals)
    # a 1-bin "matrix" would report zero drift everywhere: loud error
    import pytest

    with pytest.raises(ValueError, match="n_bins"):
        ks_matrix(df, value_col="score", approx=True, n_bins=1)


def test_krippendorff_alpha_matches_fractions(spark):
    import random
    from collections import Counter
    from fractions import Fraction

    from spatialdata_spark.pipeline.classify import krippendorff_alpha

    rng = random.Random(37)
    rows = []
    for u in range(200):
        truth = "en" if rng.random() < 0.4 else "other"
        rows.append((u, "truth", truth))
        if rng.random() < 0.8:  # rater B misses 20% of units
            rows.append((u, "b", truth if rng.random() < 0.8 else ("other" if truth == "en" else "en")))
        if rng.random() < 0.6:  # rater C misses 40%
            rows.append((u, "c", truth if rng.random() < 0.7 else ("other" if truth == "en" else "en")))
    df = spark.createDataFrame(rows, ["unit", "rater", "value"])
    out = krippendorff_alpha(df).collect()[0]

    # exact replay in Fractions (the canonical coincidence formulation)
    by_unit = {}
    for u, _, v in rows:
        by_unit.setdefault(u, []).append(v)
    multi = {u: vs for u, vs in by_unit.items() if len(vs) >= 2}
    n = sum(len(vs) for vs in multi.values())
    do = Fraction(0)
    margins = Counter()
    for vs in multi.values():
        m = len(vs)
        cnt = Counter(vs)
        margins.update(cnt)
        do += Fraction(m * m - sum(k * k for k in cnt.values()), m - 1)
    de = Fraction(n * n - sum(k * k for k in margins.values()), n - 1)
    exp = 1 - do / de
    assert out["n_units"] == len(multi) and out["n"] == n
    assert abs(out["alpha"] - round(float(exp), 6)) < 1e-6
    assert 0.2 < out["alpha"] < 0.9  # planted noisy-but-real agreement
    # perfect agreement scores exactly 1
    perfect = spark.createDataFrame(
        [(u, r, "en" if u % 2 else "other") for u in range(20) for r in ("a", "b")],
        ["unit", "rater", "value"],
    )
    assert krippendorff_alpha(perfect).collect()[0]["alpha"] == 1.0
    # a single value category: D_e = 0 -> NULL, not a crash
    const = spark.createDataFrame(
        [(u, r, "en") for u in range(5) for r in ("a", "b")],
        ["unit", "rater", "value"],
    )
    assert krippendorff_alpha(const).collect()[0]["alpha"] is None
    # single-rating units are excluded from n
    plus_single = df.unionByName(
        spark.createDataFrame([(9999, "truth", "en")], ["unit", "rater", "value"])
    )
    out2 = krippendorff_alpha(plus_single).collect()[0]
    assert out2["n"] == n and out2["alpha"] == out["alpha"]


def test_ewma_daily_matches_python_exactly(spark):
    import datetime
    from fractions import Fraction

    from spatialdata_spark.operators.temporal import ewma_daily

    import pytest

    # 50 calendar days (so the 40-lag truncation genuinely fires):
    # a level shift at day 7, a 5-day OUTAGE at days 20-24 (the level
    # must decay through the gap), then steady state
    counts = (
        [10, 12, 11, 9, 10, 11]
        + [40, 42, 41, 39, 40, 38, 41]
        + [40] * 6
        + [0] * 5  # outage: no events at all
        + [40] * 26
    )
    assert len(counts) == 50
    day0 = datetime.date(2024, 2, 1)
    rows = []
    eid = 0
    for d, n in enumerate(counts):
        day = day0 + datetime.timedelta(days=d)
        for _ in range(n):
            rows.append((eid, f"{day.isoformat()} 08:00:00"))
            eid += 1
    df = spark.createDataFrame(rows, ["event_id", "ts_s"]).select(
        "event_id", F.to_timestamp("ts_s").alias("ts")
    )
    out = {r["day"]: r for r in ewma_daily(df).collect()}
    # zero-event days are DENSIFIED into the output
    assert len(out) == 50

    # exact rational replay with the 40-lag truncation: E_i =
    # sum_{i-40 < j <= i} n_j * 2^-(i-j+1), half-up e6
    for i in range(1, len(counts) + 1):
        e = sum(
            Fraction(counts[j - 1], 2 ** (i - j + 1))
            for j in range(max(1, i - 39), i + 1)
        )
        me6_exact = e * 10**6
        exp = (me6_exact.numerator * 2 + me6_exact.denominator) // (
            2 * me6_exact.denominator
        )
        day = (day0 + datetime.timedelta(days=i - 1)).isoformat()
        assert out[day]["n_events"] == counts[i - 1]
        assert out[day]["ewma_e6"] == exp
    # the smoothed level lags the raw shift: day 7's ewma sits between
    # the old and new raw levels
    assert 10 * 10**6 < out["2024-02-07"]["ewma_e6"] < 40 * 10**6
    # the outage DECAYS the level: by the gap's last day it is far
    # below the pre-outage level (5 halvings ~ 3% left)
    assert out["2024-02-24"]["ewma_e6"] < 2 * 10**6
    # steady state approaches the raw level (sum of the geometric
    # tail: within 1 of 40 after 26 steady days)
    assert abs(out["2024-03-21"]["ewma_e6"] / 1e6 - 40) < 1
    # output schema is integer-only (the modularity_e6 convention)
    from pyspark.sql.types import DecimalType, DoubleType

    bad = [
        f.name
        for f in ewma_daily(df).schema.fields
        if isinstance(f.dataType, (DecimalType, DoubleType))
    ]
    assert not bad, bad
    # shiftleft wraps its shift count mod 64 — out-of-range lag depths
    # must fail loudly, not produce garbage weights
    with pytest.raises(ValueError, match="max_lag"):
        ewma_daily(df, max_lag=64)


def test_assoc_rules_matches_python(spark, tmp_path):
    """Market-basket support/confidence/lift over planted baskets:
    exact counts and ratios vs a sequential replay, deterministic
    top-k cut."""
    import itertools
    from collections import Counter

    import __spark_entry__ as entrymod

    baskets = {
        1: [10, 20, 30],
        2: [10, 20],
        3: [10, 20, 40],
        4: [20, 30],
        5: [10, 40],
        6: [50],
    }
    rows = [
        (o, 1 + i, p, 1.0, 1.0, "N", "O", "1996-01-01")
        for o, parts in baskets.items()
        for i, p in enumerate(parts)
    ]
    df = spark.createDataFrame(
        rows,
        [
            "l_orderkey",
            "l_linenumber",
            "l_partkey",
            "l_quantity",
            "l_extendedprice",
            "l_returnflag",
            "l_linestatus",
            "l_shipdate",
        ],
    )
    sf = str(tmp_path / "sf")
    import os

    os.makedirs(sf, exist_ok=True)
    df.write.mode("overwrite").parquet(f"{sf}/lineitem.parquet")
    out = [
        (r["ante"], r["cons"], r["pair_n"], r["support"], r["confidence"], r["lift"])
        for r in entrymod.q_assoc_rules(spark, sf).collect()
    ]

    n_orders = len(baskets)
    item = Counter(p for parts in baskets.values() for p in set(parts))
    pair = Counter(
        (a, b)
        for parts in baskets.values()
        for a, b in itertools.permutations(set(parts), 2)
    )
    exp = sorted(
        (
            (a, b, n, round(n / n_orders, 6), round(n / item[a], 6),
             round(n * n_orders / (item[a] * item[b]), 6))
            for (a, b), n in pair.items()
        ),
        key=lambda t: (-t[2], t[0], t[1]),
    )[:20]
    assert out == exp
    # sanity on a known rule: 10 and 20 co-occur in 3 of 6 orders
    got = {(a, b): (s, c, l) for a, b, n, s, c, l in out}
    assert got[(10, 20)] == (0.5, 0.75, 1.125)


def test_cliffs_delta_matches_bruteforce(spark):
    import itertools
    import random

    from spatialdata_spark.pipeline.textstats import cliffs_delta

    rng = random.Random(7)
    rows = []
    i = 0
    for s, (lo, hi) in {"s0": (0, 40), "s1": (20, 60), "s2": (0, 40)}.items():
        for _ in range(rng.randint(30, 60)):
            rows.append((i, s, rng.randint(lo, hi)))
            i += 1
    df = spark.createDataFrame(rows, ["doc_id", "source", "n_chars"])
    got = {(r["group_a"], r["group_b"]): r for r in cliffs_delta(df).collect()}
    by = {}
    for _, s, v in rows:
        by.setdefault(s, []).append(v)
    assert len(got) == 3
    for a, b in itertools.combinations(sorted(by), 2):
        gt = sum(1 for x in by[a] for y in by[b] if x > y)
        lt = sum(1 for x in by[a] for y in by[b] if x < y)
        r = got[(a, b)]
        assert (r["gt_pairs"], r["lt_pairs"], r["n_a"], r["n_b"]) == (
            gt,
            lt,
            len(by[a]),
            len(by[b]),
        )
        assert abs(r["delta"] - round((gt - lt) / (len(by[a]) * len(by[b])), 6)) < 1e-12
    # shifted ranges read as a large effect, identical ones as negligible
    assert got[("s0", "s1")]["magnitude"] == "large"
    assert got[("s0", "s2")]["magnitude"] == "negligible"
    # antisymmetry sanity via a flipped two-group frame
    flip = spark.createDataFrame(
        [(i, {"s0": "s1", "s1": "s0"}.get(s, s), v) for i, s, v in rows if s != "s2"],
        ["doc_id", "source", "n_chars"],
    )
    r2 = cliffs_delta(flip).collect()[0]
    assert r2["delta"] == -got[("s0", "s1")]["delta"]


def test_herfindahl_index_closed_form(spark):
    from collections import Counter

    import pytest

    from spatialdata_spark.pipeline.textstats import herfindahl_index

    rows = [(i, f"s{i % 4}") for i in range(100)] + [(1000 + i, "s0") for i in range(60)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    r = herfindahl_index(df).collect()[0]
    c = Counter(s for _, s in rows)
    N = sum(c.values())
    sq = sum(v * v for v in c.values())
    k = len(c)
    assert (r["n_docs"], r["n_groups"], r["sum_sq"]) == (N, k, sq)
    assert r["hhi"] == round(sq / N**2, 6)
    assert r["hhi_norm"] == round((k * sq - N * N) / (N * N * (k - 1)), 6)
    assert r["eff_groups"] == round(N * N / sq, 6)
    assert r["top_share"] == round(max(c.values()) / N, 6)
    # one group: hhi = 1, hhi_norm NULL by contract
    one = herfindahl_index(
        spark.createDataFrame([(1, "only"), (2, "only")], ["doc_id", "source"])
    ).collect()[0]
    assert one["hhi"] == 1.0 and one["hhi_norm"] is None and one["eff_groups"] == 1.0
    # NULL groups dropped
    holey = herfindahl_index(
        spark.createDataFrame([(1, "a"), (2, None), (3, "b")], ["doc_id", "source"])
    ).collect()[0]
    assert holey["n_docs"] == 2
    # empty corpus raises loudly — on EVERY column, so a narrowed
    # select can't prune the guard away
    empty = spark.createDataFrame([(1, None)], "doc_id: long, source: string")
    with pytest.raises(Exception, match="empty corpus"):
        herfindahl_index(empty).collect()
    with pytest.raises(Exception, match="empty corpus"):
        herfindahl_index(empty).select("hhi", "eff_groups").collect()


def test_acf_daily_matches_fractions(spark):
    import datetime
    from fractions import Fraction
    from math import floor

    import pytest

    from spatialdata_spark.operators.temporal import acf_daily

    base = datetime.datetime(2024, 1, 1)
    ev = []
    for d in range(60):
        n = 5 + (d % 7) * 3 + (d // 20)  # weekly cycle + slow trend
        if d in (13, 14):
            n = 0  # outage: densified zeros must enter the series
        for j in range(n):
            ev.append((len(ev), base + datetime.timedelta(days=d, hours=j % 24)))
    ev.append((len(ev), None))  # NULL ts dropped by contract
    edf = spark.createDataFrame(ev, ["event_id", "ts"])
    got = acf_daily(edf, max_lag=9).collect()
    cnt = [0] * 60
    for _, t in ev:
        if t is not None:
            cnt[(t - base).days] += 1
    T, S, Q = len(cnt), sum(cnt), sum(x * x for x in cnt)
    assert len(got) == 9
    for r in got:
        k = r["lag"]
        P = sum(cnt[t] * cnt[t + k] for t in range(T - k))
        A, B = sum(cnt[: T - k]), sum(cnt[k:])
        num = T * T * P - T * S * (A + B) + (T - k) * S * S
        den = T * T * Q - T * S * S
        exact = Fraction(num, den)
        e6 = floor(abs(exact) * 10**6 + Fraction(1, 2)) * (1 if exact >= 0 else -1)
        assert (r["acf_e6"], r["n_pairs"]) == (e6, T - k), f"lag {k}"
    by_lag = {r["lag"]: r["acf_e6"] for r in got}
    # the built-in weekly cycle surfaces as the lag-7 maximum
    assert by_lag[7] == max(by_lag.values())
    # a constant series has no ACF: loud error, not NaN
    const = spark.createDataFrame(
        [(i, base + datetime.timedelta(days=i % 10)) for i in range(40)],
        ["event_id", "ts"],
    )
    with pytest.raises(Exception, match="zero variance"):
        acf_daily(const, max_lag=3).collect()
    with pytest.raises(ValueError, match="max_lag"):
        acf_daily(edf, max_lag=0)
    # empty and single-day series raise loudly too (the lag spine
    # keeps the guard evaluable even when no lag has pairs)
    empty = spark.createDataFrame([(1, None)], "event_id: long, ts: timestamp")
    with pytest.raises(Exception, match="empty series"):
        acf_daily(empty, max_lag=3).collect()
    oneday = spark.createDataFrame(
        [(i, base + datetime.timedelta(hours=i)) for i in range(5)],
        ["event_id", "ts"],
    )
    with pytest.raises(Exception, match="zero variance"):
        acf_daily(oneday, max_lag=3).collect()
    # lags past the span are dropped, not zero-filled
    twoday = spark.createDataFrame(
        [(0, base), (1, base), (2, base + datetime.timedelta(days=1))],
        ["event_id", "ts"],
    )
    assert [r["lag"] for r in acf_daily(twoday, max_lag=5).collect()] == [1]


def test_cramer_von_mises_matches_fractions(spark):
    """r12 registry candidate: exact integer-rational CvM — pinned
    against the Fractions grid form AND the textbook per-observation
    Anderson form (they are algebraically identical)."""
    import random
    from collections import Counter
    from fractions import Fraction
    from math import floor

    import pytest

    from spatialdata_spark.pipeline.textstats import cramer_von_mises_2sample

    rng = random.Random(5)
    A = [rng.randint(0, 50) for _ in range(120)]
    B = [rng.randint(10, 60) for _ in range(80)]
    rows = [(i, "src0", v) for i, v in enumerate(A)] + [
        (1000 + i, "src1", v) for i, v in enumerate(B)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source", "n_chars"])
    r = cramer_von_mises_2sample(df).collect()[0]
    ca, cb = Counter(A), Counter(B)
    na, nb = len(A), len(B)
    cuma = cumb = num = 0
    for v in sorted(set(A) | set(B)):
        cuma += ca.get(v, 0)
        cumb += cb.get(v, 0)
        d = cuma * nb - cumb * na
        num += (ca.get(v, 0) + cb.get(v, 0)) * d * d
    T = Fraction(num, na * nb * (na + nb) ** 2)
    assert (r["n_a"], r["n_b"], r["cvm_e6"]) == (na, nb, floor(T * 10**6 + Fraction(1, 2)))
    # the grid form IS Anderson's per-observation form
    Traw = Fraction(0)
    for x in A + B:
        g = Fraction(sum(1 for t in A if t <= x), na) - Fraction(
            sum(1 for t in B if t <= x), nb
        )
        Traw += g * g
    assert Traw * Fraction(na * nb, (na + nb) ** 2) == T
    # identical distributions score exactly 0; disjoint ones score high
    same = spark.createDataFrame(
        [(i, "src0", i % 20) for i in range(100)]
        + [(1000 + i, "src1", i % 20) for i in range(100)],
        ["doc_id", "source", "n_chars"],
    )
    assert cramer_von_mises_2sample(same).collect()[0]["cvm_e6"] == 0
    # empty group raises loudly even under a narrowed select
    with pytest.raises(Exception, match="empty group"):
        cramer_von_mises_2sample(df, group_a="nope").select("cvm_e6").collect()


def test_weekday_profile_matches_fractions(spark):
    """r12 registry candidate: ISO-weekday profile with exact dev_e6 /
    chi2_e6 rationals; empty series raises on every column."""
    import datetime
    from fractions import Fraction
    from math import floor

    import pytest

    from spatialdata_spark.operators.temporal import weekday_profile

    base = datetime.datetime(2024, 1, 1)  # a Monday
    ev = []
    for d in range(56):
        for j in range(5 + (d % 7) * 2):
            ev.append((len(ev), base + datetime.timedelta(days=d, hours=j)))
    ev.append((len(ev), None))  # NULL ts dropped
    df = spark.createDataFrame(ev, ["event_id", "ts"])
    rows = weekday_profile(df).collect()
    cnt = {d: 0 for d in range(1, 8)}
    for _, t in ev:
        if t is not None:
            cnt[t.isoweekday()] += 1
    N = sum(cnt.values())
    x2 = Fraction(sum((7 * o - N) ** 2 for o in cnt.values()), 7 * N)
    x2_e6 = floor(x2 * 10**6 + Fraction(1, 2))
    assert [r["dow"] for r in rows] == list(range(1, 8))
    for r in rows:
        d = r["dow"]
        dev = Fraction(7 * cnt[d] - N, 7 * N)
        dev_e6 = floor(abs(dev) * 10**6 + Fraction(1, 2)) * (1 if dev >= 0 else -1)
        assert (r["n_events"], r["dev_e6"], r["chi2_e6"]) == (cnt[d], dev_e6, x2_e6)
        assert r["frac"] == round(cnt[d] / N, 6)
    # a perfectly uniform week scores chi2 exactly 0
    uni = spark.createDataFrame(
        [(i, base + datetime.timedelta(days=i % 7)) for i in range(70)],
        ["event_id", "ts"],
    )
    assert all(r["chi2_e6"] == 0 and r["dev_e6"] == 0 for r in weekday_profile(uni).collect())
    # empty series raises on every column, even narrowed
    empty = spark.createDataFrame([(1, None)], "event_id: long, ts: timestamp")
    with pytest.raises(Exception, match="empty series"):
        weekday_profile(empty).select("frac").collect()


def test_theil_index_closed_form(spark):
    """r12 registry candidate: Theil T concentration — closed-form
    python replay (same float op order), hhi-style edge conventions."""
    import math
    from collections import Counter

    import pytest

    from spatialdata_spark.pipeline.textstats import theil_index

    rows = [(i, f"s{i % 4}") for i in range(100)] + [
        (1000 + i, "s0") for i in range(60)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    r = theil_index(df).collect()[0]
    c = Counter(s for _, s in rows)
    N, k = sum(c.values()), len(c)
    T = sum((v / N) * math.log(v * k / N) for v in c.values())
    assert (r["n_docs"], r["n_groups"]) == (N, k)
    assert r["theil"] == round(T, 6)
    assert r["theil_norm"] == round(T / math.log(k), 6)
    # perfectly uniform groups: T = 0 exactly; one group: norm is NULL
    uni = theil_index(
        spark.createDataFrame([(i, f"s{i % 5}") for i in range(50)], ["doc_id", "source"])
    ).collect()[0]
    assert uni["theil"] == 0.0 and uni["theil_norm"] == 0.0
    one = theil_index(
        spark.createDataFrame([(1, "x"), (2, "x")], ["doc_id", "source"])
    ).collect()[0]
    assert one["theil"] == 0.0 and one["theil_norm"] is None
    # empty corpus raises on every column, even narrowed
    empty = spark.createDataFrame([(1, None)], "doc_id: long, source: string")
    with pytest.raises(Exception, match="empty corpus"):
        theil_index(empty).select("theil").collect()


def test_mutual_information_matches_python(spark):
    """r12 registry candidate: contingency MI/NMI in nats — python
    replay with the same float shape; independence and identity edges."""
    import math
    import random
    from collections import Counter

    import pytest

    from spatialdata_spark.pipeline.textstats import mutual_information

    rng = random.Random(9)
    rows = []
    for i in range(400):
        r = f"s{rng.randrange(5)}"
        c = (
            f"l{rng.randrange(3)}"
            if r != "s0"
            else ("l0" if rng.random() < 0.8 else f"l{rng.randrange(3)}")
        )
        rows.append((i, r, c))
    rows.append((9999, None, "l0"))  # NULL rows dropped
    df = spark.createDataFrame(rows, ["doc_id", "source", "lang"])
    out = mutual_information(df).collect()[0]
    cnt = Counter((r, c) for _, r, c in rows if r is not None)
    N = sum(cnt.values())
    rm, cm = Counter(), Counter()
    for (r, c), n in cnt.items():
        rm[r] += n
        cm[c] += n
    MI = sum((n / N) * math.log(n * N / (rm[r] * cm[c])) for (r, c), n in cnt.items())
    HR = sum(-(n / N) * math.log(n / N) for n in rm.values())
    HC = sum(-(n / N) * math.log(n / N) for n in cm.values())
    assert (out["n_docs"], out["n_rows"], out["n_cols"]) == (N, 5, 3)
    assert out["mi"] == round(MI, 6)
    assert out["h_row"] == round(HR, 6) and out["h_col"] == round(HC, 6)
    assert out["nmi"] == round(MI / (math.sqrt(HR) * math.sqrt(HC)), 6)
    # independent columns: MI exactly 0; identical columns: NMI exactly 1
    ind = spark.createDataFrame(
        [(i, f"s{i % 4}", f"l{(i // 4) % 3}") for i in range(120)],
        ["doc_id", "source", "lang"],
    )
    assert mutual_information(ind).collect()[0]["mi"] == 0.0
    same = spark.createDataFrame(
        [(i, f"x{i % 4}", f"x{i % 4}") for i in range(80)],
        ["doc_id", "source", "lang"],
    )
    assert mutual_information(same).collect()[0]["nmi"] == 1.0
    # empty table raises on every column, even narrowed
    empty = spark.createDataFrame(
        [(1, None, "a")], "doc_id: long, source: string, lang: string"
    )
    with pytest.raises(Exception, match="empty table"):
        mutual_information(empty).select("mi").collect()


def test_single_column_select_still_raises_on_empty_input(spark):
    # r12 regression pin (SURVEY round-11 note #11): the empty-input
    # loud error must guard EVERY output column — attached to one
    # column only, Catalyst's column pruning would silently bypass it
    # under a hand-narrowed select.  Each operator below is driven
    # with a degenerate input AND a one-column select per column.
    import pytest

    from spatialdata_spark.pipeline.textstats import (
        ks_2sample,
        mann_whitney_u,
        token_gini,
    )

    one_group = spark.createDataFrame(
        [(1, 10, "src0"), (2, 20, "src0")], ["doc_id", "n_chars", "source"]
    )
    ks = ks_2sample(one_group)
    for c in ks.columns:
        with pytest.raises(Exception, match="ks_2sample: empty group"):
            ks.select(c).collect()
    mwu = mann_whitney_u(one_group)
    for c in mwu.columns:
        with pytest.raises(Exception, match="mann_whitney_u: empty group"):
            mwu.select(c).collect()
    no_tokens = spark.createDataFrame([], "doc_id INT, text STRING")
    tg = token_gini(no_tokens)
    for c in tg.columns:
        with pytest.raises(Exception, match="token_gini: empty corpus"):
            tg.select(c).collect()


def test_r13_candidates_raise_per_column_on_empty_input(spark):
    # family convention, pinned from birth: the empty-input loud error
    # survives a hand-narrowed one-column select (per-column g() over a
    # global always-one-row aggregation)
    import pytest

    from spatialdata_spark.pipeline.textstats import chao1_richness, spearman_corr

    empty = spark.createDataFrame([], "doc_id INT, n_chars BIGINT, text STRING")
    sp = spearman_corr(empty)
    for c in sp.columns:
        with pytest.raises(Exception, match="spearman_corr: empty input"):
            sp.select(c).collect()
    ch = chao1_richness(empty)
    for c in ch.columns:
        with pytest.raises(Exception, match="chao1_richness: empty corpus"):
            ch.select(c).collect()


def test_spearman_perfect_monotone_is_one(spark):
    from spatialdata_spark.pipeline.textstats import spearman_corr

    rows = [(i, i + 1, " ".join("w" for _ in range(i + 1))) for i in range(12)]
    df = spark.createDataFrame(rows, ["doc_id", "n_chars", "text"])
    r = spearman_corr(df).collect()[0]
    assert r["spearman"] == 1.0
    anti = [(i, 100 - i, " ".join("w" for _ in range(i + 1))) for i in range(12)]
    r2 = spearman_corr(
        spark.createDataFrame(anti, ["doc_id", "n_chars", "text"])
    ).collect()[0]
    assert r2["spearman"] == -1.0


def test_length_quantiles_rejects_bad_percents(spark):
    import pytest

    from spatialdata_spark.pipeline.textstats import length_quantiles_exact

    df = spark.createDataFrame([(1, "a", 10)], ["doc_id", "source", "n_chars"])
    with pytest.raises(ValueError, match="percents"):
        length_quantiles_exact(df, percents=(50, 999))
    with pytest.raises(ValueError, match="percents"):
        length_quantiles_exact(df, percents=(0.99,))


def test_r14_candidate_edges(spark):
    """Edge pins for the r14 candidates: kendall raises loudly on
    EVERY column of an empty input (the herfindahl per-column
    pattern) and returns exactly +/-1 on perfect monotone data;
    mad_lengths and simpson_diversity yield EMPTY frames on an empty
    corpus (the length_quantiles convention — per-group reports have
    no spine to raise from)."""
    import pytest

    from spatialdata_spark.pipeline.textstats import (
        kendall_tau,
        mad_lengths,
        simpson_diversity,
    )

    empty = spark.createDataFrame(
        [], "doc_id INT, source STRING, lang STRING, n_chars BIGINT, text STRING"
    )
    kt = kendall_tau(empty)
    for c in kt.columns:
        with pytest.raises(Exception, match="kendall_tau: empty input"):
            kt.select(c).collect()
    assert mad_lengths(empty).count() == 0
    assert simpson_diversity(empty).count() == 0

    mono = [(i, i, " ".join("w" for _ in range(i + 1))) for i in range(10)]
    df = spark.createDataFrame(mono, ["doc_id", "n_chars", "text"])
    assert kendall_tau(df).collect()[0]["kendall_tau"] == 1.0
    anti = [(i, 100 - i, " ".join("w" for _ in range(i + 1))) for i in range(10)]
    df2 = spark.createDataFrame(anti, ["doc_id", "n_chars", "text"])
    assert kendall_tau(df2).collect()[0]["kendall_tau"] == -1.0
    # constant x margin: no rank order, tau is NULL (not a raise)
    const = [(i, 5, " ".join("w" for _ in range(i + 1))) for i in range(10)]
    df3 = spark.createDataFrame(const, ["doc_id", "n_chars", "text"])
    assert kendall_tau(df3).collect()[0]["kendall_tau"] is None


def test_idf_keywords_distinct_doc_contract(spark):
    """N in the IDF is the number of DISTINCT non-blank documents (the
    r13 one-scan contract): duplicate doc_id rows collapse in tf/df,
    so they must not inflate N either — scores on a frame with a
    duplicated row equal scores on the deduplicated frame with the
    duplicate's token counts merged."""
    from spatialdata_spark.pipeline.textstats import idf_keywords

    rows = [
        (1, "alpha beta"),
        (1, "alpha gamma"),  # duplicate doc_id: merges into doc 1
        (2, "beta beta delta"),
        (3, "epsilon"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    merged = [
        (1, "alpha beta alpha gamma"),
        (2, "beta beta delta"),
        (3, "epsilon"),
    ]
    df2 = spark.createDataFrame(merged, ["doc_id", "text"])
    a = sorted(map(tuple, idf_keywords(df, top_k=10).collect()))
    b = sorted(map(tuple, idf_keywords(df2, top_k=10).collect()))
    assert a == b, (a, b)
