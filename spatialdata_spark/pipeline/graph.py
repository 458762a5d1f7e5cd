"""Distributed graph analytics on DataFrames.

The connected-components machinery (large-star/small-star) lives with
its consumer in ``pipeline/dedup.py``; this module holds the general
graph operators, starting with PageRank (Brin & Page 1998) — the
canonical iterative link-analysis algorithm and the classic "needs a
real distributed engine" workload.

Design notes (the repo's standing exactness contract):

* **Fixed-point int64 arithmetic end-to-end.**  Float PageRank is
  summation-order-dependent, so a shuffled partial aggregation could
  never replay bit-exactly in a sequential SQL engine.  Ranks here are
  integers on a ``scale``-denominated grid; every per-iteration sum is
  an int64 sum (order-free) and every division is integer (floor)
  division — the whole power iteration replays EXACTLY in DuckDB with
  plain ``//`` arithmetic, unrolled one CTE per iteration.
* **Per-iteration shape**: ranks are a NODE-sized table (orders
  smaller than the edge table — the dimension/vocabulary contract used
  throughout this repo).  Each iteration is one rank⋈edge join
  followed by one map-side-combinable SUM per destination.  The edge
  table is scanned k times but never re-shuffled: see the frontier
  contract below.
* **The frontier contract (who moves per round).**  Two physical
  strategies, selected by :func:`spatialdata_spark.session.single_host`:

  - *broadcast* (one host): the node-sized frontier/rank table
    broadcasts into each round's join — zero exchanges anywhere, right
    while a single machine holds the graph.
  - *co-partitioned* (a cluster): the edge-side table is
    hash-partitioned by its per-round join key ONCE
    (``repartition(key)`` + persist — or skipped entirely when the
    caller passes ``pre_partitioned=True`` over a table bucketed with
    :func:`spatialdata_spark.sources.bucketing.write_bucketed`), so
    every iteration's join is EXCHANGE-FREE on the edge side; only the
    node-sized frontier moves per round.  At 100 TB the edge table is
    the one thing that must not re-shuffle k times — a billion-node
    frontier exchange is ~1% of one edge exchange.
* **No driver-side data**: the only collect is the node COUNT (one
  scalar, needed for the teleport term).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spatialdata_spark import session


def _co_partition(df: DataFrame, key: str) -> DataFrame:
    """Hash-partition an edge-side table by its per-round join key with
    an EXPLICIT partition count (``REPARTITION_BY_NUM``): AQE is free
    to coalesce a count-less ``repartition(key)``, which would report a
    partitioning downstream joins can't line up with.  Pinned to
    ``spark.sql.shuffle.partitions`` so the frontier side's
    ENSURE_REQUIREMENTS exchange lands on the same count."""
    return df.repartition(_shuffle_partitions(df.sparkSession), key)


def _shuffle_partitions(spark) -> int:
    """``spark.sql.shuffle.partitions`` as an int.  Managed clusters
    can set that conf to the string ``"auto"`` (auto-optimized
    shuffle) — fall back to ``defaultParallelism`` there rather than
    crash the co-partitioned path that exists FOR those clusters."""
    raw = spark.conf.get("spark.sql.shuffle.partitions", "200")
    try:
        return int(raw)
    except (TypeError, ValueError):
        return int(spark.sparkContext.defaultParallelism)


def _finalize_cache(df: DataFrame) -> DataFrame:
    """Persist + materialize an edge-side table NOW: an un-finalized
    AQE plan inside ``InMemoryRelation`` reports UNKNOWN partitioning,
    so every per-round join above it would re-exchange the cached edge
    table — the exact failure the co-partitioned path exists to avoid.
    Materializing finalizes the cached plan, whose hash partitioning
    every round then reuses exchange-free."""
    df = df.persist()
    df.count()
    return df

__all__ = [
    "graph_stats",
    "hits",
    "hop_distances",
    "kcore_rounds",
    "label_propagation",
    "link_prediction",
    "modularity",
    "pagerank",
    "pagerank_weighted",
    "random_walks",
    "triangle_count",
    "undirected_edges",
]


def pagerank(
    edges: DataFrame,
    k: int = 3,
    scale: int = 10**9,
    damping_num: int = 85,
    damping_den: int = 100,
    src_col: str = "src",
    dst_col: str = "dst",
    pre_partitioned: bool = False,
) -> DataFrame:
    """``k`` unrolled power iterations of fixed-point PageRank over a
    directed edge list (pass each undirected edge in both directions).

    Every node starts at ``scale // N``; one iteration is::

        rank'(v) = B + (damping_num * sum_{u->v} (rank(u) // outdeg(u)))
                       // damping_den
        B        = ((damping_den - damping_num) * scale)
                       // (damping_den * N)

    All quantities are int64 (ranks are bounded by ``scale``, so the
    damped sum is bounded by ``damping_num * scale`` — far inside
    int64 at the default ``scale=1e9``), hence bit-exact under any
    aggregation order and replayable as plain SQL.  Dangling inputs
    are supported (a node with no in-edges gets the teleport term
    ``B`` alone); rank mass lost to floor division and to dangling
    out-edges is NOT redistributed — the same convention the SQL
    replay uses, documented so both sides agree exactly.

    Returns ``(node, rank_fp)`` with ``rank_fp`` the int64 fixed-point
    rank after ``k`` iterations.

    ``pre_partitioned=True`` declares that ``edges`` is already
    hash-partitioned/bucketed by ``src_col`` with canonical LONG
    columns (e.g. read back via ``sources.bucketing.read_bucketed``) —
    the co-partitioned path then skips its one up-front repartition,
    making round 1 exchange-free on the edge side too.
    """
    spark = edges.sparkSession
    bcast = session.single_host(spark)
    e = edges.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
    )
    if not (bcast or pre_partitioned):
        # co-partition ONCE by the per-round join key: every
        # iteration's rank⋈edge join then reuses this partitioning with
        # zero exchange on the edge side (the 100 TB contract)
        e = _co_partition(e, "src")
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        # referenced by every iteration's teleport join AND the rank
        # lineage: persist so the distinct runs once, not O(k) times
        .persist()
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("outdeg"))
    # edge+outdeg is reused by every iteration: persist so the distinct
    # and degree aggregations run once, not k times.  (In the
    # co-partitioned path the src-keyed groupBy and join both reuse the
    # repartition above, so `ed` comes out src-partitioned for free —
    # and is materialized up front so the cached partitioning is FINAL
    # before round 1 plans against it.)
    ed = e.join(deg, "src")
    ed = _finalize_cache(ed) if not bcast else ed.persist()
    n_nodes = nodes.count()
    if n_nodes == 0:
        raise ValueError("pagerank: empty edge list (no nodes)")
    base = ((damping_den - damping_num) * scale) // (damping_den * n_nodes)
    ranks = nodes.withColumn("rank_fp", F.lit(scale // n_nodes).cast("long"))
    for _ in range(int(k)):
        r = ranks.select(F.col("node").alias("src"), "rank_fp")
        if bcast:
            r = F.broadcast(r)
        contrib = (
            ed.join(r, "src")
            .select("dst", F.expr("rank_fp DIV outdeg").alias("__c"))
            .groupBy("dst")
            .agg(F.sum("__c").alias("__in"))
        )
        if bcast:
            contrib = F.broadcast(contrib)
        ranks = nodes.join(
            contrib, nodes["node"] == contrib["dst"], "left"
        ).select(
            "node",
            (
                F.lit(base)
                + F.expr(
                    f"({damping_num} * coalesce(__in, 0L)) DIV {damping_den}"
                )
            ).cast("long").alias("rank_fp"),
        )
    return ranks


def label_propagation(
    edges: DataFrame,
    k: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    pre_partitioned: bool = False,
) -> DataFrame:
    """``k`` unrolled rounds of deterministic label propagation
    (Raghavan 2007) — community detection by iterated neighborhood
    majority vote, the cheap complement to the connected-components
    operator (CC merges everything reachable; LPA splits a component
    into densely-linked communities).

    Determinism (the classic LPA pitfall is random tie-breaking):
    labels start as the node id; each round every node adopts the
    label with the highest count among its in-neighbors, ties broken
    by SMALLEST label, and a node with no in-edges keeps its label.
    Every step is a count + an argmin/argmax over integer pairs —
    order-free, so the rounds replay exactly in SQL (one CTE pair per
    round).

    Per-round plan: one node-sized label join onto the edge list
    (frontier contract — broadcast on local masters; co-partitioned
    path on clusters: the edge list is src-partitioned once + persisted
    so every round's vote join is exchange-free on the edge side, and
    ``pre_partitioned=True`` skips even that one repartition over a
    bucketed input) and ONE combined aggregation keyed (dst, label)
    followed by a lexicographic struct-max per dst — the
    (count, -label) argmax is a single map-side-combinable MAX of a
    struct, never a window.

    Returns ``(node, label)`` after ``k`` rounds.
    """
    spark = edges.sparkSession
    bcast = session.single_host(spark)
    e = edges.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
    )
    if not bcast:
        if not pre_partitioned:
            e = _co_partition(e, "src")
        # scanned k times: persist + materialize so every round reads
        # the finalized co-partitioned cache instead of re-deriving
        # (and re-exchanging) the edges
        e = _finalize_cache(e)
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    labels = nodes.withColumn("label", F.col("node"))
    prev = None
    for _ in range(int(k)):
        # each round reads `labels` twice (the vote join and the
        # carry-forward coalesce) — persist the node-sized table so the
        # lineage does not double per round (2^k recompute otherwise);
        # materialize it, then RELEASE the prior round's cache (safe:
        # every consumer of the prior round now reads this round's
        # populated cache) so cached state stays one-frontier-sized
        # instead of growing linearly with k for the session's lifetime
        labels = labels.persist()
        labels.count()
        if prev is not None:
            prev.unpersist()
        prev = labels
        lab = labels.select(F.col("node").alias("src"), "label")
        if bcast:
            lab = F.broadcast(lab)
        votes = (
            e.join(lab, "src")
            .groupBy("dst", "label")
            .agg(F.count(F.lit(1)).cast("long").alias("__c"))
        )
        # argmax by (count, -label): max count, ties -> smallest label
        best = votes.groupBy("dst").agg(
            F.max(F.struct(F.col("__c"), (-F.col("label")).alias("__nl"))).alias(
                "__b"
            )
        ).select("dst", (-F.col("__b.__nl")).alias("__winner"))
        if bcast:
            best = F.broadcast(best)
        labels = labels.join(
            best, labels["node"] == best["dst"], "left"
        ).select(
            "node",
            F.coalesce(F.col("__winner"), F.col("label")).alias("label"),
        )
    return labels


def undirected_edges(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Canonical undirected edge table ``(u, v)`` with ``u < v``:
    self-loops dropped, both input directions collapsed to one row.
    The distinct is the only shuffle — keyed on the canonical pair, so
    duplicate sightings of an edge land in the same partition."""
    e = edges.select(
        F.least(F.col(src_col), F.col(dst_col)).cast("long").alias("u"),
        F.greatest(F.col(src_col), F.col(dst_col)).cast("long").alias("v"),
    )
    return e.filter(F.col("u") != F.col("v")).distinct()


def _degrees(und: DataFrame) -> DataFrame:
    """Node degree table from a canonical undirected edge list — two
    projections unioned, one map-side-combinable count."""
    return (
        und.select(F.col("u").alias("node"))
        .union(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )


def _canonical_und(
    edges: DataFrame, src_col: str, dst_col: str, pre_partitioned: bool
) -> DataFrame:
    """The canonical undirected edge list for the edge⋈edge family.

    ``pre_partitioned=True`` declares the input IS already canonical —
    ``src_col < dst_col``, distinct, self-loop-free, LONG columns (e.g.
    read back via ``sources.bucketing.read_bucketed`` from a table
    bucketed by ``src_col``) — so the corpus-sized normalizing
    ``distinct`` exchange is skipped and, because a no-op cast over a
    LONG column folds away, the bucket layout survives the rename and
    feeds the downstream degree join exchange-free on the edge side.
    """
    if pre_partitioned:
        return edges.select(
            F.col(src_col).cast("long").alias("u"),
            F.col(dst_col).cast("long").alias("v"),
        )
    return undirected_edges(edges, src_col, dst_col)


def triangle_count(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    pre_partitioned: bool = False,
) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient over an
    undirected graph (pass edges in either or both directions).

    Spark shape — the degree-ordered orientation of Suri & Vassilvitskii
    (WWW 2011, "Counting Triangles and the Curse of the Last Reducer"):
    orient every undirected edge from its lower-``(degree, id)`` endpoint
    to the higher, making the adjacency out-degree of EVERY node at most
    O(sqrt(m)) regardless of skew — the celebrity node that breaks the
    naive wedge join stops being a wedge apex.  Triangles are then one
    self-join (wedge ``a->b->c``) plus one closing equi-join against the
    oriented edge list (``a->c``); each triangle is found exactly once
    because the orientation is acyclic.  Total wedge work is O(m^1.5)
    worst-case, the optimal bound for exact counting.  The oriented edge
    table is read three times, so it is persisted once.

    Counting is orientation-invariant, so the SQL oracle can replay the
    same numbers with the simpler id-ordered orientation — exact integer
    equality, no float tolerance.

    ``pre_partitioned=True`` declares ``edges`` is already the canonical
    undirected list bucketed by ``src_col`` (see :func:`_canonical_und`)
    — the normalizing distinct is skipped and the degree join reuses the
    bucket layout.  Independently, the co-partitioned (cluster) path
    hash-partitions the ORIENTED table by its wedge apex ``a`` once and
    materializes it, so the wedge's ``y`` arm (keyed on ``y.a``) reads
    the cache exchange-free, and with
    ``spark.sql.requireAllClusterKeysForCoPartition=false`` the closing
    ``z`` arm (keys ``(z.a, z.b)`` — partitioning by the subset ``a``
    still clusters correctly) does too; only the ``x`` arm re-keys by
    ``b`` — 1 oriented-table exchange per query instead of 3.

    Returns ``(node_id, degree, n_triangles, clustering)`` for every
    node; ``clustering = 2*T / (d*(d-1))`` rounded to 6 dp, NULL for
    degree-0/1 nodes.
    """
    und = _canonical_und(edges, src_col, dst_col, pre_partitioned)
    deg = _degrees(und).persist()
    spark = edges.sparkSession
    bcast = session.single_host(spark)
    bdeg = F.broadcast(deg) if bcast else deg
    keyed = (
        und.join(bdeg.select(F.col("node").alias("u"), F.col("degree").alias("__du")), "u")
        .join(bdeg.select(F.col("node").alias("v"), F.col("degree").alias("__dv")), "v")
    )
    u_first = (F.col("__du") < F.col("__dv")) | (
        (F.col("__du") == F.col("__dv")) & (F.col("u") < F.col("v"))
    )
    oriented = keyed.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("b"),
    )
    if bcast:
        oriented = oriented.persist()
    else:
        # cluster path: one explicit hash layout by the wedge apex,
        # finalized so every arm's reuse is exchange-free (an
        # un-finalized cache reports UNKNOWN partitioning — see
        # _finalize_cache)
        oriented = _finalize_cache(_co_partition(oriented, "a"))
    x, y, z = oriented.alias("x"), oriented.alias("y"), oriented.alias("z")
    tri = (
        x.join(y, F.col("x.b") == F.col("y.a"))
        .join(z, (F.col("z.a") == F.col("x.a")) & (F.col("z.b") == F.col("y.b")))
        .select(F.col("x.a").alias("n1"), F.col("x.b").alias("n2"), F.col("y.b").alias("n3"))
    )
    per_node = (
        tri.select(
            F.explode(F.array(F.col("n1"), F.col("n2"), F.col("n3"))).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    return (
        deg.join(per_node, "node", "left")
        .select(
            F.col("node").alias("node_id"),
            "degree",
            F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long").alias("n_triangles"),
            F.when(
                F.col("degree") >= 2,
                F.round(
                    2.0
                    * F.coalesce(F.col("n_triangles"), F.lit(0))
                    / (F.col("degree") * (F.col("degree") - 1)),
                    6,
                ),
            ).alias("clustering"),
        )
    )


def graph_stats(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    pre_partitioned: bool = False,
) -> DataFrame:
    """One-row whole-graph summary: node/edge/wedge/triangle counts,
    global transitivity ``3*T / wedges``, and degree assortativity
    (Newman 2002) — the Pearson correlation of endpoint degrees over
    the directed double cover (each undirected edge counted both ways,
    which makes the two marginals identical, the standard convention).

    Exactness: every sufficient statistic (wedge count, degree sums,
    degree cross-products) accumulates in DECIMAL(38,0) — order-free
    integer sums with no int64 ceiling even at celebrity-node degrees —
    and only the final ratios are cast to DOUBLE (one deterministic
    IEEE division each, then ROUND 6).  The triangle count reuses
    :func:`triangle_count`'s oriented join.

    Plan: the stats are one aggregation over the node-sized degree
    table plus one over the degree-joined edge list — the corpus-sized
    object here is the edge table, scanned a bounded number of times
    and shuffled only on its own keys.

    ``pre_partitioned=True`` declares ``edges`` is already the canonical
    undirected list (see :func:`_canonical_und`) — bucketed input skips
    the normalizing distinct here AND inside the triangle reuse (which
    always receives canonical input from this function, so its own
    re-distinct is skipped unconditionally).

    Returns ``(n_nodes, n_edges, n_wedges, n_triangles, transitivity,
    assortativity)``.
    """
    und = _canonical_und(edges, src_col, dst_col, pre_partitioned).persist()
    deg = _degrees(und).persist()
    spark = edges.sparkSession
    dec = "decimal(38,0)"
    # d*(d-1) summed in DECIMAL and halved ONCE at the end — never a
    # double intermediate (d*(d-1) is always even, so the halving is
    # exact)
    node_stats = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        (
            F.sum(
                F.col("degree").cast(dec) * (F.col("degree").cast(dec) - 1)
            )
            / 2
        ).alias("n_wedges"),
    )
    n_tri = (
        # und IS canonical here by construction — never re-distinct it
        triangle_count(und, "u", "v", pre_partitioned=True)
        .agg((F.sum("n_triangles") / 3).cast("long").alias("n_triangles"))
    )
    bcast = session.single_host(spark)
    bdeg = F.broadcast(deg) if bcast else deg
    both = und.union(und.select(F.col("v").alias("u"), F.col("u").alias("v")))
    if not bcast:
        # cluster path: lay the double cover out by u once — the first
        # degree join then moves only the node-sized degree table; the
        # second (keyed v) is the one unavoidable edge-sized exchange
        both = _finalize_cache(_co_partition(both, "u"))
    dd = (
        both.join(bdeg.select(F.col("node").alias("u"), F.col("degree").alias("__dx")), "u")
        .join(bdeg.select(F.col("node").alias("v"), F.col("degree").alias("__dy")), "v")
    )
    esums = dd.agg(
        F.count(F.lit(1)).cast(dec).alias("__m2"),
        F.sum(F.col("__dx").cast(dec)).alias("__sx"),
        F.sum((F.col("__dx") * F.col("__dx")).cast(dec)).alias("__sxx"),
        F.sum((F.col("__dx") * F.col("__dy")).cast(dec)).alias("__sxy"),
    )
    num = (F.col("__m2") * F.col("__sxy") - F.col("__sx") * F.col("__sx")).cast("double")
    den = (F.col("__m2") * F.col("__sxx") - F.col("__sx") * F.col("__sx")).cast("double")
    return (
        node_stats.crossJoin(n_tri)
        .crossJoin(esums)
        .select(
            "n_nodes",
            (F.col("__m2") / 2).cast("long").alias("n_edges"),
            F.col("n_wedges").cast("long").alias("n_wedges"),
            "n_triangles",
            F.when(
                F.col("n_wedges") > 0,
                F.round(
                    3.0 * F.col("n_triangles") / F.col("n_wedges").cast("double"), 6
                ),
            ).alias("transitivity"),
            F.when(den != 0, F.round(num / den, 6)).alias("assortativity"),
        )
    )


def link_prediction(
    edges: DataFrame,
    max_degree: int = 1000,
    top_n: int = 100,
    src_col: str = "src",
    dst_col: str = "dst",
    pre_partitioned: bool = False,
) -> DataFrame:
    """Link-prediction candidate scoring (Liben-Nowell & Kleinberg
    2003): for every NON-edge pair at distance 2, the classic exact
    features — common-neighbor count, preferential attachment
    ``deg(x)*deg(y)``, and neighborhood Jaccard — keeping the
    ``top_n`` candidates by common neighbors.

    Skew bound: candidate pairs are enumerated per common neighbor
    ``w`` (``C(deg(w), 2)`` pairs each), which no orientation trick can
    cap — a hub apex is quadratic by definition.  So apexes with
    ``degree > max_degree`` are EXCLUDED from the enumeration, the
    standard link-prediction mitigation (a million-degree hub's
    "common neighbor" signal is noise anyway — its wedges connect
    everything to everything).  Exactness is preserved relative to the
    stated semantics: ``common_neighbors`` counts common neighbors OF
    DEGREE <= max_degree, and the oracle replicates the same filter, so
    the replay is exact-integer equality.  Jaccard uses the filtered
    count over the unfiltered union size — a lower bound, documented.

    The final top-n orders by ``(common_neighbors DESC, x, y)`` — a
    total order — and runs as ``orderBy().limit()``, which Spark
    executes as per-partition top-n + driver merge (TakeOrderedAndProject),
    never a full sort of the wedge-sized candidate table.

    ``pre_partitioned=True`` declares ``edges`` is already the canonical
    undirected list bucketed by ``src_col`` (see :func:`_canonical_und`)
    — the normalizing distinct is skipped.  Independently, the
    co-partitioned (cluster) path hash-partitions the apex-keyed
    neighbor table by ``w`` once and materializes it: the wedge
    self-join's equi-key IS ``w`` on both arms, so the join runs with
    ZERO exchange (both arms read the same finalized cache layout) —
    the single biggest shuffle in the op at corpus scale.

    Output: ``(x, y, common_neighbors, deg_x, deg_y, pref_attachment,
    jaccard)``, 6 dp.
    """
    und = _canonical_und(edges, src_col, dst_col, pre_partitioned).persist()
    deg = _degrees(und).persist()
    spark = edges.sparkSession
    bcast = session.single_host(spark)
    bdeg = F.broadcast(deg) if bcast else deg
    apex_ok = bdeg.filter(F.col("degree") <= int(max_degree)).select(
        F.col("node").alias("w")
    )
    nbrs = (
        und.select(F.col("u").alias("w"), F.col("v").alias("x"))
        .union(und.select(F.col("v").alias("w"), F.col("u").alias("x")))
        .join(apex_ok, "w")
    )
    if not bcast:
        nbrs = _finalize_cache(_co_partition(nbrs, "w"))
    a, b = nbrs.alias("a"), nbrs.alias("b")
    cand = (
        a.join(b, (F.col("a.w") == F.col("b.w")) & (F.col("a.x") < F.col("b.x")))
        .groupBy(F.col("a.x").alias("x"), F.col("b.x").alias("y"))
        .agg(F.count(F.lit(1)).cast("long").alias("common_neighbors"))
    )
    non_edges = cand.join(
        und, (cand["x"] == und["u"]) & (cand["y"] == und["v"]), "left_anti"
    )
    scored = (
        non_edges.join(bdeg.select(F.col("node").alias("x"), F.col("degree").alias("deg_x")), "x")
        .join(bdeg.select(F.col("node").alias("y"), F.col("degree").alias("deg_y")), "y")
        .select(
            "x",
            "y",
            "common_neighbors",
            "deg_x",
            "deg_y",
            (F.col("deg_x") * F.col("deg_y")).cast("long").alias("pref_attachment"),
            F.round(
                F.col("common_neighbors")
                / (F.col("deg_x") + F.col("deg_y") - F.col("common_neighbors")),
                6,
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(
        F.col("common_neighbors").desc(), F.col("x"), F.col("y")
    ).limit(int(top_n))


def random_walks(
    edges: DataFrame,
    walk_len: int = 4,
    walks_per_node: int = 1,
    salt: int = 42,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Uniform random-walk corpus for graph embeddings (DeepWalk,
    Perozzi 2014; node2vec's p=q=1 case) — ``walks_per_node`` walks of
    ``walk_len`` steps from every node, with the "randomness" a PURE
    HASH of ``(node, step, walk_no, salt)``: walks are deterministic,
    so a re-run (or a failed-task retry, or the SQL oracle) reproduces
    the corpus bit-for-bit — the same replayability contract as
    :func:`~spatialdata_spark.pipeline.filters.hash_split`, and the
    property task-retry-under-speculation silently breaks for
    ``rand()``-driven walks.

    The step hash is two rounds of Knuth multiplicative mixing kept
    inside int64 (inputs reduced mod 2^31 first), then reduced mod the
    node's degree to index into its id-sorted adjacency list.

    Plan: adjacency = the undirected edge list in both directions with
    a per-node ``row_number`` index and degree (built once, persisted).
    Each step is ONE node-sized broadcast-gated degree lookup + ONE
    equi-join on ``(node, idx)`` against the adjacency — at scale,
    hash-partition the adjacency by node once and every step's join
    reuses the partitioning (the PageRank co-partitioning contract).
    The walk table never exceeds ``nodes * walks_per_node`` rows.

    Output: ``(start, walk_no, step, node)``, steps 0..walk_len — long
    format, one row per visited position (feed to a skip-gram builder
    or ``collect_list`` per walk).
    """
    from pyspark.sql.window import Window

    spark = edges.sparkSession
    und = undirected_edges(edges, src_col, dst_col)
    adj = (
        und.select(F.col("u").alias("node"), F.col("v").alias("nbr"))
        .union(und.select(F.col("v").alias("node"), F.col("u").alias("nbr")))
        .withColumn(
            "idx",
            F.row_number().over(Window.partitionBy("node").orderBy("nbr")) - 1,
        )
        .persist()
    )
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).cast("long").alias("deg")).persist()
    bdeg = F.broadcast(deg) if session.single_host(spark) else deg
    m31 = 2147483648
    knuth = 2654435761
    starts = deg.select(F.col("node").alias("start")).crossJoin(
        spark.range(int(walks_per_node)).select(F.col("id").alias("walk_no"))
    )
    cur = starts.select("start", "walk_no", F.col("start").alias("node"))
    out = cur.select("start", "walk_no", F.lit(0).cast("long").alias("step"), "node")
    step_caches = []
    for t in range(1, int(walk_len) + 1):
        h0 = F.pmod(
            F.pmod(F.col("node"), F.lit(m31)) * F.lit(knuth)
            + F.lit(t) * F.lit(40503)
            + F.col("walk_no") * F.lit(69069)
            + F.lit(int(salt)),
            F.lit(m31),
        )
        h = F.pmod(h0 * F.lit(knuth), F.lit(m31))
        step = (
            cur.join(bdeg, "node")
            .withColumn("__idx", F.pmod(h, F.col("deg")))
            .join(
                adj.select(
                    F.col("node"),
                    F.col("idx").alias("__idx"),
                    F.col("nbr").alias("__next"),
                ),
                ["node", "__idx"],
            )
        )
        # cur is read twice (the output union and the next step's join):
        # persist so branch t does not recompute joins 1..t-1 — the
        # r8 persist discipline, kept because per-step materialization
        # of the GROWING union would cost O(L²) cache writes (measured
        # 2.6x at the 1x smoke before this form)
        cur = step.select(
            "start", "walk_no", F.col("__next").alias("node")
        ).persist()
        step_caches.append(cur)
        out = out.union(
            cur.select("start", "walk_no", F.lit(t).cast("long").alias("step"), "node")
        )
    # ONE materialization of the finished walk table (populating every
    # per-step cache along the way), then release the per-step caches —
    # consumers read the walk cache; per-step state no longer lives for
    # the session's lifetime
    out = out.persist()
    out.count()
    for c in step_caches:
        c.unpersist()
    return out


def kcore_rounds(
    edges: DataFrame,
    k_core: int = 3,
    rounds: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Bounded-round k-core peeling (Seidman 1983 cores; the dense-
    subgraph extraction behind "keep the strongly co-occurring items"):
    each round drops every node whose degree WITHIN the surviving
    subgraph is below ``k_core``, then recomputes degrees.  After
    ``rounds`` rounds the survivor set is a SUPERSET of the true k-core
    that equals it once a round removes nobody — bounded-round by
    contract (the repo's unrolled-iteration convention: deterministic,
    SQL-replayable one CTE pair per round, no driver-side convergence
    loop; callers needing the fixpoint raise ``rounds`` — peeling
    removes at least one node per non-converged round, so
    ``rounds = n`` is always exact).

    Per-round plan — DEAD-NODE DECREMENTS, not re-scans: peeling never
    recomputes degrees from the edge table.  The standing state is the
    node-sized ``(node, degree-within-surviving-subgraph)`` table; each
    round splits it into dead (< k) and alive, semi-joins the dead set
    against the ONCE-persisted adjacency double cover to count, per
    surviving neighbor, how many of its edges just vanished, and
    subtracts.  Per-round work is proportional to the DEAD-INCIDENT
    edges (which shrink geometrically), not to the full edge set —
    and every join/aggregation is keyed by node, so on the
    co-partitioned (cluster) path the node-partitioned adjacency cache
    is reused by every round with zero exchange on the edge side.
    Bit-identical to recompute-from-scratch peeling: degree(x) in the
    subgraph induced by alive_r equals its prior-round degree minus its
    edges into the just-dead set (earlier dead already subtracted,
    dead-dead edges touch no surviving row).

    Returns ``(node, degree)`` for the surviving nodes with their
    final within-subgraph degree (a final-round survivor whose last
    neighbors were just peeled is reported with degree 0 — the
    bounded-round superset contract).
    """
    spark = edges.sparkSession
    bcast = session.single_host(spark)
    kc = int(k_core)
    if kc < 1:
        raise ValueError(f"kcore_rounds: k_core must be >= 1 (got {kc})")
    und = undirected_edges(edges, src_col, dst_col)
    adj = (
        und.select(F.col("u").alias("node"), F.col("v").alias("nbr"))
        .union(und.select(F.col("v").alias("node"), F.col("u").alias("nbr")))
    )
    if not bcast:
        # the double cover mixes src and dst so it can never inherit a
        # single-key bucketing from the input: one inherent build-time
        # exchange, amortized over every round
        adj = _finalize_cache(_co_partition(adj, "node"))
    else:
        adj = adj.persist()
    # full-graph degrees: on the co-partitioned path this groupBy reuses
    # the node partitioning — zero exchange
    alive_deg = adj.groupBy("node").agg(
        F.count(F.lit(1)).cast("long").alias("degree")
    )
    prev = None
    for _ in range(int(rounds)):
        # materialize the standing state, then release the prior
        # round's cache — cached state stays one-node-table-sized
        alive_deg = alive_deg.persist()
        alive_deg.count()
        if prev is not None:
            prev.unpersist()
        prev = alive_deg
        dead = alive_deg.filter(F.col("degree") < kc).select("node")
        alive = alive_deg.filter(F.col("degree") >= kc)
        d = F.broadcast(dead) if bcast else dead
        decr = (
            adj.join(d, "node", "left_semi")
            .groupBy(F.col("nbr").alias("node"))
            .agg(F.count(F.lit(1)).cast("long").alias("__dec"))
        )
        if bcast:
            decr = F.broadcast(decr)
        alive_deg = alive.join(decr, "node", "left").select(
            "node",
            (F.col("degree") - F.coalesce(F.col("__dec"), F.lit(0)))
            .cast("long")
            .alias("degree"),
        )
    # the survivor state is fully cached by the last round's
    # materialization — the adjacency cache is no longer needed
    alive_deg = alive_deg.persist()
    alive_deg.count()
    if prev is not None:
        prev.unpersist()
    adj.unpersist()
    return alive_deg


def hop_distances(
    edges: DataFrame,
    seeds: "list[int]",
    max_hops: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Multi-source BFS hop distances, ``max_hops`` unrolled rounds:
    ``(seed, node, dist)`` for every node within ``max_hops`` of a seed
    — the bounded-radius closeness/reachability primitive (distance-to-
    curated-seed features, blast-radius queries).

    Exact and order-free: each round is one frontier⋈edges join plus
    one MIN aggregation merging the new candidates with the standing
    distances (``min(dist)`` is order-independent — no race on which
    path found a node first), so ``max_hops`` CTE pairs replay it
    exactly in SQL.  Work per round ≤ |frontier-incident edges| x
    |seeds touching them|; the distance table is bounded by
    ``|seeds| * |reachable nodes|`` — choose seeds accordingly (the
    all-pairs case is deliberately NOT offered).

    Plan: the directed double cover is built once and persisted — on
    the co-partitioned (cluster) path it is hash-partitioned by node
    first, so every round's frontier⋈adjacency join is exchange-free on
    the adjacency side and only the seed×frontier-sized distance table
    moves.  (The double cover mixes src and dst, so it can never
    inherit a single-key bucketing from the input — its one build-time
    exchange is inherent and amortized over all rounds.)
    """
    spark = edges.sparkSession
    bcast = session.single_host(spark)
    und = undirected_edges(edges, src_col, dst_col)
    adj = (
        und.select(F.col("u").alias("node"), F.col("v").alias("nbr"))
        .union(und.select(F.col("v").alias("node"), F.col("u").alias("nbr")))
    )
    adj = _finalize_cache(_co_partition(adj, "node")) if not bcast else adj.persist()
    seed_df = session.local_frame(
        spark,
        [(int(s),) for s in seeds], ["seed"]
    ).select(F.col("seed").cast("long").alias("seed"))
    dist = seed_df.select(
        "seed", F.col("seed").alias("node"), F.lit(0).cast("long").alias("dist")
    )
    prev = None
    for _ in range(int(max_hops)):
        # persist + materialize the standing distances (read twice: the
        # grow join and the merge union), then release the prior
        # round's cache — only the live distance table stays cached
        dist = dist.persist()
        dist.count()
        if prev is not None:
            prev.unpersist()
        prev = dist
        grown = dist.join(adj, "node").select(
            "seed", F.col("nbr").alias("node"), (F.col("dist") + 1).alias("dist")
        )
        dist = (
            dist.union(grown)
            .groupBy("seed", "node")
            .agg(F.min("dist").cast("long").alias("dist"))
        )
    return dist


def modularity(
    edges: DataFrame,
    labels: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
    label_col: str = "label",
    pre_partitioned: bool = False,
) -> DataFrame:
    """Newman-Girvan modularity of a node labeling over an undirected
    graph — THE quality score for :func:`label_propagation`'s
    communities (Q near 0: no better than chance; ~0.3+: real
    structure).

    EXACT RATIONAL FORM: with ``m`` undirected edges, ``in_c`` the
    intra-community edge count and ``deg_c`` the community degree sum,

        Q = sum_c [ in_c/m - (deg_c/(2m))^2 ]
          = (4m * sum_c in_c - sum_c deg_c^2) / (4m^2)

    so the numerator and denominator are order-free integer sums that
    ride along in the output (as BIGINT — DECIMAL(38,0) inside the
    aggregation only) for a bit-exact replay.
    The convenience score is emitted as ``modularity_e6`` — Q in exact
    integer MICROUNITS (``round_half_away_from_zero(q_num * 10^6 /
    q_den)``), computed with pure integer arithmetic so every engine
    produces the identical BIGINT: NO floating point anywhere in the
    contract.  (A rounded DOUBLE here was the repo's one observed
    value-identical hash-red — Spark's BigDecimal HALF_UP round-trip
    and a libm rounding path can disagree in textual form without
    disagreeing in value; integers cannot.)  Consumers wanting the
    float divide by 1e6.

    Plan: one label join per edge endpoint (labels are the node-sized
    table; AQE picks the join strategy), one conditional count for
    ``in_c``, one community-sized rollup for ``deg_c`` — the edge table
    is scanned once.  ``pre_partitioned=True`` declares ``edges`` is already the
    canonical undirected list bucketed by ``src_col`` (see
    :func:`_canonical_und`): the normalizing distinct is skipped and
    the first label join reuses the bucket layout edge-side
    exchange-free when the labels do not broadcast — the second
    (keyed ``v``) is the one unavoidable edge-sized exchange, the
    family's documented two-endpoint-join shape.  Un-bucketed input
    gets NO explicit repartition: modularity scans the edges once, so
    there is no reuse to pay a layout for — the join's own exchange is
    already minimal (unlike the iterative ops, where the layout
    amortizes over rounds).

    Output: one row ``(m, q_num, q_den, modularity_e6)``; NULL
    modularity_e6 for an empty edge set.
    """
    dec = "decimal(38,0)"
    und = _canonical_und(edges, src_col, dst_col, pre_partitioned)
    lab = labels.select(
        F.col(node_col).cast("long").alias("__n"), F.col(label_col).alias("__l")
    )
    # persist: the labeled edge list (2 label columns only) feeds the
    # m/in_c aggregate AND the community-degree rollup — un-cached,
    # the old union-of-two-projections shape replayed the whole
    # edge-build + double label join three times (6 lineitem + 6 part
    # scans on the co-purchase graph, tools/rescan_audit.py).
    # PER-CALL ACCUMULATION (the _approx_rank_bins contract):
    # LRU-reclaimed; clearCache() reclaims eagerly.
    j = (
        und.join(lab.select(F.col("__n").alias("u"), F.col("__l").alias("__lu")), "u")
        .join(lab.select(F.col("__n").alias("v"), F.col("__l").alias("__lv")), "v")
        .select("__lu", "__lv")
        .persist()
    )
    base = j.agg(
        F.count(F.lit(1)).cast(dec).alias("__m"),
        F.coalesce(
            F.sum(F.when(F.col("__lu") == F.col("__lv"), 1)), F.lit(0)
        )
        .cast(dec)
        .alias("__in"),
    )
    # community degree sums from the edge list's own endpoints: every
    # edge contributes 1 to each endpoint's community degree — ONE
    # pass over the cached label pairs (explode, not a two-sided
    # union, so the edge list is consumed once)
    degc = (
        j.select(F.explode(F.array(F.col("__lu"), F.col("__lv"))).alias("__c"))
        .groupBy("__c")
        .agg(F.count(F.lit(1)).cast(dec).alias("__d"))
        .agg(F.sum(F.col("__d") * F.col("__d")).cast(dec).alias("__sd2"))
    )
    out = base.crossJoin(degc)
    q_num = (4 * F.col("__m") * F.col("__in") - F.col("__sd2")).cast(dec)
    q_den = (4 * F.col("__m") * F.col("__m")).cast(dec)
    # DECIMAL stays INSIDE the computation; the OUTPUT casts the
    # rationals to BIGINT (q_den = 4m² fits int64 to m ≈ 1.5e9 edges).
    # Raw DECIMAL(38,0) output columns are a cross-engine hash hazard:
    # DuckDB's pandas materialization of DECIMAL is float64 while
    # Spark's is decimal.Decimal, so any serialized-value hash diverges
    # even when the values are identical (the r8/r9 hash-red mechanism).
    named = out.select(
        F.col("__m").cast("long").alias("m"),
        q_num.alias("q_num"),
        q_den.alias("q_den"),
    )
    # round-half-away-from-zero((q_num * 1e6) / q_den) in pure integer
    # arithmetic: operate on |q_num| so `div` truncation == floor on
    # both engines, reapply the sign.  (2a + b) div (2b) is HALF_UP for
    # non-negative a, b > 0.
    me6_mag = F.expr(
        "(2 * abs(q_num) * CAST(1000000 AS DECIMAL(38,0)) + q_den) div (2 * q_den)"
    )
    sign = F.when(F.col("q_num") < 0, F.lit(-1)).otherwise(F.lit(1)).cast("long")
    return named.select(
        "m",
        F.col("q_num").cast("long").alias("q_num"),
        F.col("q_den").cast("long").alias("q_den"),
        F.when(F.col("m") > 0, sign * me6_mag).cast("long").alias("modularity_e6"),
    )


def pagerank_weighted(
    edges: DataFrame,
    k: int = 3,
    scale: int = 10**9,
    damping_num: int = 85,
    damping_den: int = 100,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "weight",
    seeds: "list[int] | None" = None,
    pre_partitioned: bool = False,
) -> DataFrame:
    """Weighted / personalized fixed-point PageRank — :func:`pagerank`
    with two production extensions, same exactness contract (integer
    floor arithmetic end-to-end, bit-replayable as unrolled SQL):

    * **Edge weights** (``weight_col``, positive integers — e.g. the
      co-purchase COUNT instead of mere existence): a node's rank
      splits over out-edges proportionally, ``(rank(u) * w_uv) //
      W_u`` with ``W_u`` u's total out-weight.  Bound: ``rank * w``
      must stay in int64 — ``w <= ~9e9`` at the default scale,
      documented, far above any count this engine feeds it.
    * **Personalization** (``seeds``): the teleport term lands ONLY on
      the seed set (Page 1999's personalized vector), turning global
      importance into importance RELATIVE to the seeds — the
      "expand from curated examples" primitive.  Ranks start uniform
      over seeds, 0 elsewhere.

    Zero-weight/negative edges are rejected loudly (they would divide
    rank mass into nothing).  ``seeds=None`` + all-1 weights gives
    exactly :func:`pagerank`'s distribution (pinned by test).

    Returns ``(node, rank_fp)``.  The frontier contract (module notes)
    applies: broadcast path on local masters; co-partitioned path on
    clusters, where the src-windowed edge table is src-partitioned
    once (the out-weight window ITSELF needs that exchange, so it is
    free) and every round's rank join reuses it exchange-free;
    ``pre_partitioned=True`` declares the input already src-bucketed.
    """
    spark = edges.sparkSession
    bcast = session.single_host(spark)
    e = edges.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
        F.col(weight_col).cast("long").alias("__w"),
    )
    if not (bcast or pre_partitioned):
        e = _co_partition(e, "src")
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    from pyspark.sql.window import Window

    # out-weight via a window, not a self-join (lineage-dedup safe);
    # same physical shape: one hash partition by src.  NOTE the column
    # names differ beyond case — Spark's resolver is case-insensitive,
    # so "__w"/"__W" would be ONE column and the withColumn a REPLACE
    ed = e.withColumn(
        "__wsum", F.sum("__w").over(Window.partitionBy("src")).cast("long")
    )
    ed = _finalize_cache(ed) if not bcast else ed.persist()
    n_nodes = nodes.count()
    if n_nodes == 0:
        raise ValueError("pagerank_weighted: empty edge list (no nodes)")
    bad = e.filter((F.col("__w").isNull()) | (F.col("__w") <= 0)).count()
    if bad:
        raise ValueError(f"pagerank_weighted: {bad} non-positive/null weights")
    if seeds is not None:
        seed_df = session.local_frame(
            spark,
            [(int(s),) for s in seeds], ["node"]
        ).select(F.col("node").cast("long").alias("node"))
        n_tele = len(set(int(s) for s in seeds))
        init = nodes.join(F.broadcast(seed_df), "node", "left_semi").withColumn(
            "rank_fp", F.lit(scale // n_tele).cast("long")
        )
        ranks = nodes.join(init.select("node", "rank_fp"), "node", "left").select(
            "node", F.coalesce(F.col("rank_fp"), F.lit(0)).cast("long").alias("rank_fp")
        )
        tele = nodes.join(F.broadcast(seed_df), "node", "left_semi").select(
            "node",
            F.lit(
                ((damping_den - damping_num) * scale) // (damping_den * n_tele)
            ).alias("__b"),
        )
    else:
        ranks = nodes.withColumn("rank_fp", F.lit(scale // n_nodes).cast("long"))
        tele = nodes.select(
            "node",
            F.lit(
                ((damping_den - damping_num) * scale) // (damping_den * n_nodes)
            ).alias("__b"),
        )
    tele = tele.persist()
    for _ in range(int(k)):
        r = ranks.select(F.col("node").alias("src"), "rank_fp")
        if session.single_host(spark):
            r = F.broadcast(r)
        contrib = (
            ed.join(r, "src")
            .select("dst", F.expr("(rank_fp * __w) DIV __wsum").alias("__c"))
            .groupBy("dst")
            .agg(F.sum("__c").alias("__in"))
        )
        if session.single_host(spark):
            contrib = F.broadcast(contrib)
        ranks = (
            nodes.join(tele, "node", "left")
            .join(contrib, nodes["node"] == contrib["dst"], "left")
            .select(
                "node",
                (
                    F.coalesce(F.col("__b"), F.lit(0))
                    + F.expr(
                        f"({damping_num} * coalesce(__in, 0L)) DIV {damping_den}"
                    )
                )
                .cast("long")
                .alias("rank_fp"),
            )
        )
    return ranks


def hits(
    edges: DataFrame,
    k: int = 3,
    scale: int = 10**6,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """``k`` unrolled rounds of fixed-point HITS (Kleinberg 1999) —
    hubs & authorities over a directed edge list, the natural scorer
    for BIPARTITE graphs (a part↔supplier edge list scores parts as
    hubs and suppliers as authorities in one pass, where PageRank
    needs the symmetrized walk).

    Exactness: the update ``a(v) = sum_{u->v} h(u)``, ``h(u) =
    sum_{u->v} a(v)`` runs in DECIMAL(38,0) order-free sums; in place
    of the float L2 normalization, each round rescales by the integer
    floor ``x * scale // max(x)`` — max is order-free, so the whole
    iteration is deterministic and replays exactly (the classic HITS
    ranking is normalization-invariant, only the scale convention
    differs from the L2 textbook form — documented).

    Plan per round: one node-sized score join onto the edge list in
    each direction + one map-side-combinable SUM + one scalar MAX to
    the driver (two scalars per round — the same driver-scalar budget
    as pagerank's node count).  The frontier contract applies, with
    the HITS twist that rounds alternate join keys: the co-partitioned
    path keeps TWO persisted edge layouts (by src for the authority
    update, by dst for the hub update — 2x edge cache, the price of
    exchange-free rounds in both directions).

    Returns ``(node, hub_fp, auth_fp)`` as int64 in ``[0, scale]``.
    """
    spark = edges.sparkSession
    bcast = session.single_host(spark)
    dec = "decimal(38,0)"
    e = edges.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
    )
    if bcast:
        e_by_src = e_by_dst = e.persist()
    else:
        e_by_src = _finalize_cache(_co_partition(e, "src"))
        e_by_dst = _finalize_cache(_co_partition(e, "dst"))
    nodes = (
        e_by_src.select(F.col("src").alias("node"))
        .union(e_by_src.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    if int(k) < 1:
        raise ValueError("hits: k must be >= 1 (no k=0 fixed point is defined)")
    if nodes.count() == 0:
        raise ValueError("hits: empty edge list (no nodes)")
    hub = nodes.withColumn("h", F.lit(int(scale)).cast("long"))
    auth = None
    prev_a = prev_h = None
    for _ in range(int(k)):
        hsrc = hub.select(F.col("node").alias("src"), "h")
        if bcast:
            hsrc = F.broadcast(hsrc)
        a_raw = (
            e_by_src.join(hsrc, "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("h").cast(dec)).alias("__s"))
            .persist()
        )
        # the max collect below materializes a_raw's cache; once it has,
        # the prior round's h_raw (a_raw's only lineage input that was
        # cached) can be released — cached state stays two-tables-sized
        # instead of growing linearly with k for the session's lifetime
        amax = int(a_raw.agg(F.max("__s")).collect()[0][0])
        if prev_h is not None:
            prev_h.unpersist()
        auth = nodes.join(a_raw, "node", "left").select(
            "node",
            F.coalesce(
                F.expr(f"CAST((__s * {int(scale)}) DIV {amax} AS BIGINT)"),
                F.lit(0),
            ).alias("a"),
        )
        adst = auth.select(F.col("node").alias("dst"), "a")
        if bcast:
            adst = F.broadcast(adst)
        h_raw = (
            e_by_dst.join(adst, "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum(F.col("a").cast(dec)).alias("__s"))
            .persist()
        )
        hmax = int(h_raw.agg(F.max("__s")).collect()[0][0])
        if prev_a is not None:
            prev_a.unpersist()
        prev_a, prev_h = a_raw, h_raw
        hub = nodes.join(h_raw, "node", "left").select(
            "node",
            F.coalesce(
                F.expr(f"CAST((__s * {int(scale)}) DIV {hmax} AS BIGINT)"),
                F.lit(0),
            ).alias("h"),
        )
    return (
        hub.join(auth, "node")
        .select("node", F.col("h").alias("hub_fp"), F.col("a").alias("auth_fp"))
    )
