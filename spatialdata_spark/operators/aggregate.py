"""Zonal aggregation: values (points/shapes/image) grouped by regions
(shapes/labels).

Reference: src/spatialdata/_core/operations/aggregate.py —
entry :28-213, shapes path (sjoin/overlay + pandas groupby) :312-493,
raster path (xrspatial.zonal_stats) :248-309, fractions weighting
:373-450.

Spark-first plan:

* The spatial join uses a **grid-cell equi-join**: each shape is
  exploded to the grid cells its bbox covers; each point hashes to
  exactly one cell; the join is a plain equi-join on ``(cell_x,
  cell_y)`` that shuffles on the grid key (or broadcasts the exploded
  shape side when small).  A point lands in one cell, so no
  dedup is needed for points×shapes.  This replaces the reference's
  R-tree sjoin and is the strategy that survives 100 TB — no cartesian
  product, skew handled by AQE + cell sizing.
* Exact refine: circles by a pure-expression distance test; polygons by
  an Arrow-batched point-in-polygon UDF over candidates only.
* The aggregation itself is ``groupBy(by_id).agg(...)`` — map-side
  partial aggregation for free.
* Categorical values produce a long-form ``(by_id, category, n)``
  result (the sparse-matrix equivalent of the reference's COO AnnData).
* ``fractions=True`` weights shape values by
  ``area(intersection)/area(value_shape)`` (aggregate.py:373-450),
  computed with the convex-clip kernel.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spatialdata_spark import session

AGG_FUNCS = {"sum": F.sum, "mean": F.avg, "count": F.count, "min": F.min, "max": F.max}

# per-edge half-plane coefficients of a convex single-ring polygon:
# interior test is  ex*(y - y1) - ey*(x - x1) > 0  for every edge (CCW)
_HP_FIELD = T.StructField(
    "__hp",
    T.ArrayType(
        T.StructType(
            [
                T.StructField("ex", T.DoubleType()),
                T.StructField("ey", T.DoubleType()),
                T.StructField("x1", T.DoubleType()),
                T.StructField("y1", T.DoubleType()),
            ]
        )
    ),
)


def _ring_halfplanes(ring: np.ndarray):
    """(ex, ey, x1, y1) per edge for a convex ring, CCW-normalized;
    zero-length edges (closing duplicate) skipped.  None if degenerate."""
    r = np.asarray(ring, dtype=float)
    if len(r) > 1 and np.array_equal(r[0], r[-1]):
        r = r[:-1]
    if len(r) < 3:
        return None
    area = 0.0
    for i in range(len(r)):
        x1, y1 = r[i]
        x2, y2 = r[(i + 1) % len(r)]
        area += x1 * y2 - x2 * y1
    if area == 0.0:
        return None
    if area < 0:
        r = r[::-1]
    out = []
    for i in range(len(r)):
        x1, y1 = r[i]
        x2, y2 = r[(i + 1) % len(r)]
        ex, ey = x2 - x1, y2 - y1
        if ex == 0.0 and ey == 0.0:
            continue
        out.append((float(ex), float(ey), float(x1), float(y1)))
    return out


def attach_convex_halfplanes(shapes: DataFrame) -> DataFrame:
    """Add a ``__hp`` column to a shapes frame: half-plane edge
    coefficients for convex single-ring polygons (None for circles,
    concave rings, holes, multipolygons).

    One Arrow pass over the *dimension* side only — per shape, not per
    candidate pair — so the downstream spatial-join refine of convex
    polygons stays entirely JVM-side no matter how many billions of
    candidate pairs the fact side produces.
    """
    from spatialdata_spark.geometry import wkb as W
    from spatialdata_spark.operators.spatial_query import _is_convex

    schema = T.StructType(list(shapes.schema.fields) + [_HP_FIELD])

    def gen(iterator):
        for pdf in iterator:
            hps = []
            for buf, kind in zip(pdf["wkb"], pdf["kind"]):
                hp = None
                if buf is not None and kind == "polygon":
                    gk, geom = W.decode(bytes(buf))
                    if gk == "polygon" and len(geom) == 1:
                        ring = np.asarray(geom[0], dtype=float)
                        closed = ring[:-1] if len(ring) > 1 and np.array_equal(ring[0], ring[-1]) else ring
                        if _is_convex(closed):
                            hp = _ring_halfplanes(ring)
                hps.append(hp)
            pdf["__hp"] = hps
            yield pdf

    return shapes.mapInPandas(gen, schema)


def aggregate_points_by_circles(
    points: DataFrame,
    shapes: DataFrame,
    value_col: str | None = None,
    agg_func: str = "count",
    cell_size: float | None = None,
) -> DataFrame:
    """Zonal aggregation of points into circles via **cell-cover
    decomposition** — the scale path for dense data.

    Points are pre-aggregated per fine grid cell (map-side combinable,
    one small shuffle).  Each circle's covering cells split into
    fully-inside cells, which contribute their pre-aggregated cell
    statistic with *no per-point work*, and boundary cells, where the
    exact in-circle test runs on candidate points only.  All tests are
    Catalyst expressions (no Python).  Work scales with
    circle *perimeter* instead of area — on overlap-dense data this
    replaces billions of candidate pairs with tens of millions.

    Decomposable statistics only (count/sum/mean/min/max); mean is
    computed as total_sum/total_count so results are bit-identical to a
    direct per-point aggregation for integer-valued doubles.

    Plan construction is CONSOLIDATED into two ``spark.sql`` parses
    that bind their input frames as arguments (r15, guide §5-driver):
    the former DataFrame-op chain cost ~800 py4j round trips ≈
    0.3-0.45 s of driver time per action; the SQL text below
    reproduces the exact same expressions (same literals via
    ``{x!r}D``, same operation order, same hints) so the physical plan
    — and every result bit — is unchanged.  The plan shape itself is
    documented inline; the r14 A/B numbers justifying each hint are in
    OPTIMIZATION_r14.md.
    """
    if agg_func not in AGG_FUNCS:
        raise ValueError(f"agg_func {agg_func!r}; supported: {sorted(AGG_FUNCS)}")
    if cell_size is None:
        # balance boundary exact-tests (∝ h) against full-cell rows
        # (∝ 1/h²); r/6 sits at the flat bottom of the measured curve
        r_avg = shapes.agg(F.avg("radius")).first()[0] or 1.0
        cell_size = max(float(r_avg) / 6.0, 1e-12)
    h = float(cell_size)
    spark = points.sparkSession
    par = spark.sparkContext.defaultParallelism
    local = session.single_host(spark)

    # Inputs bind as ``spark.sql`` arguments, whose views are dropped
    # after analysis — and dropping a view uncaches any cached plan it
    # matches.  So neither a caller's frame nor the persisted cover is
    # ever bound as it is, only frames computed from them (the first
    # projection, the cover's two filters), which match no cache entry.
    # The doubled braces in the f-strings below are the placeholders.
    circ = shapes.selectExpr(
        "shape_id", "((minx + maxx) / 2) AS ccx", "((miny + maxy) / 2) AS ccy", "radius AS r"
    )

    # --- the cell cover: circles project to (ccx, ccy, r), explode to
    # covering grid cells, classified fully-inside (__full) vs boundary.
    # The full test shrinks the radius by a tiny epsilon, so a point
    # whose floor(x/h) cell is off by one float ulp is never claimed by
    # a full cell: it falls to a boundary cell and gets the exact test.
    # The cover is SQL text rather than Column trees because each Column
    # operation is a py4j round trip (~0.28 s of construction per action
    # for the Column form, profiled r14).  In local mode a small
    # parquet input is often a single row group, so the scan — and
    # everything narrow above it — runs in one task; the REPARTITION
    # hint (same round-robin exchange df.repartition(n) builds) spreads
    # the dim side before the explode.  The fact side is spread by the
    # boundary join's ENSURE_REQUIREMENTS exchange.
    hs = f"{h!r}D"
    eps = f"({1e-9 * h!r}D + 1.0E-12D * ((abs(ccx) + abs(ccy)) + r))"
    dxn = f"greatest((__qx * {hs}) - ccx, ccx - ((__qx * {hs}) + {hs}), 0.0D)"
    dyn = f"greatest((__qy * {hs}) - ccy, ccy - ((__qy * {hs}) + {hs}), 0.0D)"
    dxf = f"greatest(ccx - (__qx * {hs}), ((__qx * {hs}) + {hs}) - ccx)"
    dyf = f"greatest(ccy - (__qy * {hs}), ((__qy * {hs}) + {hs}) - ccy)"
    spread = f"/*+ REPARTITION({par}) */ " if local else ""
    cells_sql = f"""
SELECT *,
       (((r - {eps}) > 0.0D) AND ((({dxf} * {dxf}) + ({dyf} * {dyf})) <= ((r - {eps}) * (r - {eps})))) AS __full
FROM (
  SELECT * FROM (
    SELECT *, explode(sequence(floor((ccy - r) / {hs}), floor((ccy + r) / {hs}))) AS __qy
    FROM (
      SELECT *, explode(sequence(floor((ccx - r) / {hs}), floor((ccx + r) / {hs}))) AS __qx
      FROM (SELECT {spread}* FROM {{circ}})
    )
  )
  WHERE (({dxn} * {dxn}) + ({dyn} * {dyn})) <= (r * r)
)"""
    # persist: the cover feeds both the full-cell and boundary branches;
    # without it the explode subtree is computed twice per action
    # (MEMORY_AND_DISK, slim rows ∝ dim side — safe at scale, ~20% win)
    cells = spark.sql(cells_sql, circ=circ).persist()

    categorical = value_col is not None and dict(points.dtypes).get(value_col) == "string"
    vq = f"`{value_col}`" if value_col else None

    if categorical:
        # the category string itself is the grouping code.  r14 carried a
        # dictionary-encode here (int code through the boundary probe);
        # r15 removed it: building the dictionary costs a FULL EXTRA PASS
        # over the fact table (distinct + single-partition window) plus a
        # broadcast join on every fact row and three driver-side broadcast
        # builds per action, all to narrow one shuffle's rows by a few
        # bytes — net negative at every scale measured (interleaved A/B:
        # categorical med 2.50 → 1.64 s combined with the fp pre-agg
        # below).  Results identical for non-NULL categories (the code
        # was decoded back to the string before output anyway); a NULL
        # category now forms its own group — standard SQL GROUP BY
        # semantics, matching the DuckDB oracle — where the old
        # dictionary inner-join silently dropped those points.
        keep = ["x", "y", f"{vq} AS __code"]
    else:
        keep = ["x", "y"] + ([vq] if value_col and value_col not in ("x", "y") else [])
    pt = points.selectExpr(*keep, f"floor(x / {h!r}D) AS __qx", f"floor(y / {h!r}D) AS __qy")

    # partial-aggregation schema shared by the full-cell and boundary paths
    if value_col is None or categorical:
        partial, pcols, final = "COUNT(1) AS __n", ["__n"], "SUM(__n) AS n"
    elif agg_func == "count":
        partial, pcols, final = f"COUNT({vq}) AS __n", ["__n"], f"SUM(__n) AS `count_{value_col}`"
    elif agg_func == "sum":
        partial, pcols, final = f"SUM({vq}) AS __s", ["__s"], f"SUM(__s) AS `sum_{value_col}`"
    elif agg_func == "mean":
        partial, pcols, final = (
            f"SUM({vq}) AS __s, COUNT({vq}) AS __n",
            ["__s", "__n"],
            f"(SUM(__s) / SUM(__n)) AS `mean_{value_col}`",
        )
    elif agg_func == "min":
        partial, pcols, final = f"MIN({vq}) AS __m", ["__m"], f"MIN(__m) AS `min_{value_col}`"
    else:  # max
        partial, pcols, final = f"MAX({vq}) AS __m", ["__m"], f"MAX(__m) AS `max_{value_col}`"

    ck = ", __code" if categorical else ""  # categorical grouping key
    ca_cols = ", ".join([f"ca.{c}" for c in (["__code"] if categorical else []) + pcols])
    bp_keys = "bc.shape_id" + (", pt.__code" if categorical else "")
    # per-shape combine of the partial columns (associative re-grouping of
    # the same partials the final agg consumes — exact for count/min/max;
    # sum/mean reorder a double summation that is already
    # shuffle-order-nondeterministic in the final agg)
    _comb = {"__m": "MIN" if agg_func == "min" else "MAX"}
    fp_combine = ", ".join(f"{_comb.get(c, 'SUM')}({c}) AS {c}" for c in pcols)
    # Plan shape (r14, verified in plans/):
    # * cell_agg (ca): per-cell pre-aggregation straight off the scan —
    #   the partial agg is map-side (guide §2.3), so only ~cell-count
    #   partials cross the exchange.
    # * full-cell branch: build side = the per-cell aggregate
    #   (grid-bounded), stream side = the full-cell cover (∝ dim side ×
    #   area/h²).  The un-hinted plan broadcast the COVER (1.6M-row
    #   hash relation built per action); locally the hint flips it to
    #   the ~cell-count side.  On a cluster both sides' sizes are
    #   data-dependent, so the hint is local-gated and AQE picks the
    #   strategy from runtime stats.
    # * boundary branch: SHUFFLED HASH join on the cell key — the
    #   boundary cover is perimeter-proportional but unbounded at scale
    #   (never a safe broadcast), and the hint avoids both the
    #   per-action driver-side hash-relation build of a broadcast AND
    #   the sort of a sort-merge join; the fact side's
    #   ENSURE_REQUIREMENTS exchange doubles as the local fan-out (r14
    #   A/B: broadcast 2.93s, SHJ 2.21s, un-hinted 20.6s).  Skew at
    #   cluster scale: the build side is the boundary cover, whose rows
    #   per cell key are bounded by the shapes overlapping one cell —
    #   grid-quantized, not value-skewed — and AQE's skew-join splitting
    #   (enabled in session.py) also rewrites ShuffledHashJoin since
    #   Spark 3.2, so a hot cell splits instead of OOMing the build.
    bhint = "/*+ BROADCAST(ca) */ " if local else ""
    # fp is PRE-AGGREGATED to shape granularity before the union (r15):
    # without it the full-cell join's output (∝ dim side × area/h² rows)
    # flows raw into the final union-aggregate stage, which cannot start
    # until the boundary branch's shuffle finishes — the two branches
    # serialize.  The per-shape GROUP BY puts a map-side partial below a
    # ~shape-count exchange, so the fp stage runs CONCURRENTLY with the
    # boundary stage and the final agg merges two tiny inputs
    # (interleaved A/B: count med 1.63 → 1.16 s, categorical 2.50 → 1.64).
    # The local REPARTITION pins the boundary shuffle at defaultParallelism:
    # AQE coalesces it by map-output bytes (16 tasks at sf0.1), blind to
    # the 52M-row probe explosion *inside* the join.  Local-gated like the
    # broadcast hint — at cluster scale the map outputs are large enough
    # that AQE's byte-based coalescing is the right owner.
    repi = f"/*+ REPARTITION({par}, __qx, __qy) */ " if local else ""
    main_sql = f"""
WITH ca AS (SELECT __qx, __qy{ck}, {partial} FROM {{pt}} GROUP BY __qx, __qy{ck}),
fp AS (
  SELECT shape_id{ck}, {fp_combine}
  FROM (
    SELECT {bhint}f.shape_id, {ca_cols}
    FROM (SELECT shape_id, __qx, __qy FROM {{full}}) f
    JOIN ca ON f.__qx = ca.__qx AND f.__qy = ca.__qy
  )
  GROUP BY shape_id{ck}
),
bp AS (
  SELECT /*+ SHUFFLE_HASH(bc) */ {bp_keys}, {partial}
  FROM (SELECT {repi}* FROM {{pt}}) pt
  JOIN (SELECT {repi}shape_id, ccx, ccy, r, __qx, __qy FROM {{edge}}) bc
    ON pt.__qx = bc.__qx AND pt.__qy = bc.__qy
  WHERE (((pt.x - bc.ccx) * (pt.x - bc.ccx)) + ((pt.y - bc.ccy) * (pt.y - bc.ccy))) <= (bc.r * bc.r)
  GROUP BY bc.shape_id{ck}
)
SELECT shape_id AS by_id{ck}, {final}
FROM (SELECT * FROM fp UNION ALL SELECT * FROM bp)
GROUP BY shape_id{ck}"""
    if categorical:
        main_sql = f"SELECT by_id, n, __code AS category FROM ({main_sql}\n)"
    return spark.sql(main_sql, pt=pt, full=cells.where("__full"), edge=cells.where("NOT __full"))


def _estimate_cell_size(shapes: DataFrame) -> float:
    """One tiny agg over the dim-side bbox columns: cell ≈ 2× mean bbox
    extent, so a typical shape explodes to ~1-4 cells."""
    row = shapes.agg(
        F.avg(F.col("maxx") - F.col("minx")).alias("w"),
        F.avg(F.col("maxy") - F.col("miny")).alias("h"),
    ).first()
    w = row["w"] or 1.0
    h = row["h"] or 1.0
    return max(float(w), float(h)) * 2.0 or 1.0


# module-level: a pandas_udf created inside the join function was
# re-pickled and re-registered on every plan construction (~4 ms
# each: median of 60 builds against a reused UDF, 4 cores)
@F.pandas_udf(T.BooleanType())
def _pip(x_s, y_s, wkb_s):
    import pandas as pd

    from spatialdata_spark.geometry import predicates as P
    from spatialdata_spark.geometry import wkb as W

    out = np.zeros(len(x_s), dtype=bool)
    if len(x_s):
        xs = x_s.to_numpy()
        ys = y_s.to_numpy()
        # group rows by identical geometry to vectorize over points
        codes, uniques = pd.factorize(wkb_s)
        for gi, buf in enumerate(uniques):
            if buf is None:
                continue
            mask = codes == gi
            kind, geom = W.decode(bytes(buf))
            if kind == "polygon":
                out[mask] = P.points_in_polygon(xs[mask], ys[mask], geom)
            elif kind == "multipolygon":
                out[mask] = P.points_in_multipolygon(xs[mask], ys[mask], geom)
    return pd.Series(out)


def grid_join_points_shapes(
    points: DataFrame,
    shapes: DataFrame,
    cell_size: float | None = None,
    refine: bool = True,
    point_id_cols: list[str] | None = None,
    all_circles: bool = False,
) -> DataFrame:
    """Candidate-generation + refine spatial join of points into shapes.

    Returns points columns + ``shape_id`` (inner join semantics: only
    matched pairs).  Broadcast is left to Catalyst/AQE: the exploded
    shape side is usually far below the broadcast threshold.
    """
    if cell_size is None:
        cell_size = _estimate_cell_size(shapes)
    cs = float(cell_size)
    spark = points.sparkSession
    if session.single_host(spark):
        # single-row-group local inputs scan as one task; spread both
        # sides so the candidate join fans out on all cores (the
        # cell-key hash also satisfies the join's distribution if the
        # shape side is too big to broadcast)
        par = spark.sparkContext.defaultParallelism
        points = points.repartition(par)
        shapes = shapes.repartition(par)

    kinds = _shape_kinds(shapes) if refine else frozenset()
    needs_hp = refine and not all_circles and kinds != {"point"}
    if needs_hp:
        # one Arrow pass per SHAPE (dim side, pre-fanout): convex
        # polygons get half-plane coefficients so their refine below is
        # a JVM forall over candidates — Python PIP only for the
        # concave/multipart remainder
        shapes = attach_convex_halfplanes(shapes)
    hp_cols = ["__hp"] if needs_hp else []
    sh = (
        shapes.withColumn("__cx", F.explode(F.sequence(F.floor(F.col("minx") / cs), F.floor(F.col("maxx") / cs))))
        .withColumn("__cy", F.explode(F.sequence(F.floor(F.col("miny") / cs), F.floor(F.col("maxy") / cs))))
        .select("shape_id", "kind", "wkb", "minx", "miny", "maxx", "maxy", "radius", *hp_cols, "__cx", "__cy")
    )
    pt = points.withColumn("__cx", F.floor(F.col("x") / cs)).withColumn("__cy", F.floor(F.col("y") / cs))
    cand = pt.join(sh, ["__cx", "__cy"]).drop("__cx", "__cy")

    drop_cols = ["kind", "wkb", "minx", "miny", "maxx", "maxy", "radius", *hp_cols]
    bbox_hit = (
        (F.col("x") >= F.col("minx"))
        & (F.col("x") <= F.col("maxx"))
        & (F.col("y") >= F.col("miny"))
        & (F.col("y") <= F.col("maxy"))
    )
    if not refine:
        # bbox-only refine (still exact for bbox semantics)
        return cand.filter(bbox_hit).drop(*drop_cols)

    # exact refine — circles: expression-only distance test (no UDF)
    ccx = (F.col("minx") + F.col("maxx")) / 2
    ccy = (F.col("miny") + F.col("maxy")) / 2
    dx = F.col("x") - ccx
    dy = F.col("y") - ccy
    circle_hit = (dx * dx + dy * dy) <= (F.col("radius") * F.col("radius"))

    if all_circles:
        # caller guarantees kind=='point' everywhere: the whole refine
        # stays expression-only (no Python boundary in the plan)
        return cand.filter(circle_hit).drop(*drop_cols)

    # Three disjoint refine branches unioned so the Arrow PIP evaluates
    # ONLY on candidates of concave/multipart shapes (Spark extracts
    # Python UDFs out of when/otherwise into an eval node over every
    # input row — a single conditional filter would still pay the Arrow
    # round-trip for the convex majority):
    #   circles  -> expression distance test
    #   convex   -> JVM bbox + forall over precomputed half-planes
    #   other    -> JVM bbox prefilter, then Arrow PIP on what's left
    is_circle = F.col("kind") == "point"
    if not needs_hp:
        # only circle kinds present: no __hp column, no polygon branches
        return cand.filter(is_circle & circle_hit).drop(*drop_cols)
    circ_part = cand.filter(is_circle & circle_hit)
    poly = cand.filter(~is_circle).filter(bbox_hit)
    hp_hit = F.forall(
        F.col("__hp"),
        lambda s: (s["ex"] * (F.col("y") - s["y1"]) - s["ey"] * (F.col("x") - s["x1"])) > 0,
    )
    conv_part = poly.filter(F.col("__hp").isNotNull()).filter(hp_hit)
    rest_part = poly.filter(F.col("__hp").isNull()).filter(
        _pip(F.col("x"), F.col("y"), F.col("wkb"))
    )
    refined = circ_part.unionByName(conv_part).unionByName(rest_part)
    return refined.drop(*drop_cols)


def _shape_kinds(df: DataFrame) -> frozenset[str]:
    """Distinct geometry kinds of a shapes table (tiny dim-side job)."""
    return frozenset(r[0] for r in df.select("kind").distinct().collect())


def grid_join_shapes_shapes(
    values: DataFrame,
    by: DataFrame,
    cell_size: float | None = None,
    predicate: str = "intersects",
    values_kinds: frozenset[str] | None = None,
    by_kinds: frozenset[str] | None = None,
) -> DataFrame:
    """shapes×shapes candidate join + exact intersects refine
    (reference: aggregate.py:420-427 ``by.sjoin(values)``).

    Both sides explode their bboxes to covering cells and equi-join on
    the cell key.  Duplicate pairs from multi-cell overlap are removed
    with the **reference-point rule** (keep a pair only in the cell
    containing the top-left corner of the bbox intersection) — pure
    expressions, no dedup shuffle.  The exact refine is expression-only
    for box/circle pairs; the geometry UDF runs only when a polygon
    kind is present.
    """
    if cell_size is None:
        cell_size = _estimate_cell_size(by)
    cs = float(cell_size)
    spark = values.sparkSession
    if values_kinds is None:
        values_kinds = _shape_kinds(values)
    if by_kinds is None:
        by_kinds = _shape_kinds(by)
    exprable_kinds = values_kinds <= {"box", "point"} and by_kinds <= {"box", "point"}

    css = f"{cs!r}D"

    def cells(df: DataFrame, p: str) -> DataFrame:
        return (
            df.selectExpr(
                f"shape_id AS {p}_id", f"kind AS {p}_kind", f"wkb AS {p}_wkb",
                f"minx AS {p}_minx", f"miny AS {p}_miny", f"maxx AS {p}_maxx",
                f"maxy AS {p}_maxy", f"radius AS {p}_radius",
            )
            .selectExpr("*", f"explode(sequence(floor({p}_minx / {css}), floor({p}_maxx / {css}))) AS __cx")
            .selectExpr("*", f"explode(sequence(floor({p}_miny / {css}), floor({p}_maxy / {css}))) AS __cy")
        )

    if exprable_kinds:
        # Expression-only pairs (box/circle): the whole candidate join +
        # exact refine is ONE spark.sql parse over the two cell covers
        # (r15, guide §5-driver — the Column-tree construction of this
        # branch cost ~0.3 s of py4j round trips per action; the SQL
        # reproduces the identical expressions).  The covers, not the
        # caller's frames, are what spark.sql binds: it drops each bound
        # view after analysis, and dropping a view uncaches a cached
        # plan it matches — a bare frame, or its all-column rename,
        # would evict a caller's persisted input.  No local round-robin
        # spread here: the refine is a codegen filter, and the two
        # spread exchanges (each with the retry-safety pre-sort, guide
        # §2.5) cost more than the single-task evaluation saves (r14
        # A/B on ag_fractions).

        # circle centers (for kind='point' rows bbox is center±radius)
        vcx = "((v_minx + v_maxx) / 2)"
        vcy = "((v_miny + v_maxy) / 2)"
        bcx = "((b_minx + b_maxx) / 2)"
        bcy = "((b_miny + b_maxy) / 2)"
        dxc = f"({vcx} - {bcx})"
        dyc = f"({vcy} - {bcy})"
        rr = "(v_radius + b_radius)"

        def circ_box(ccx: str, ccy: str, r: str, x0: str, y0: str, x1: str, y1: str) -> str:
            # circle vs box: distance from circle center to the box
            dx = f"greatest(({x0} - {ccx}), ({ccx} - {x1}), 0.0D)"
            dy = f"greatest(({y0} - {ccy}), ({ccy} - {y1}), 0.0D)"
            return f"((({dx} * {dx}) + ({dy} * {dy})) <= ({r} * {r}))"

        circ_circ = f"((({dxc} * {dxc}) + ({dyc} * {dyc})) <= ({rr} * {rr}))"
        hit = (
            "CASE WHEN ((v_kind = 'point') AND (b_kind = 'point')) THEN " + circ_circ
            + " WHEN ((v_kind = 'point') AND (b_kind = 'box')) THEN "
            + circ_box(vcx, vcy, "v_radius", "b_minx", "b_miny", "b_maxx", "b_maxy")
            + " WHEN ((v_kind = 'box') AND (b_kind = 'point')) THEN "
            + circ_box(bcx, bcy, "b_radius", "v_minx", "v_miny", "v_maxx", "v_maxy")
            + " ELSE true END"  # box×box: bbox overlap already exact
        )
        # reference point = top-left corner of the bbox intersection; it
        # lies in exactly one grid cell, and both sides' cell sets cover
        # it — pure-expression dedup of multi-cell candidate duplicates
        return spark.sql(
            f"""
SELECT v_id, v_kind, v_wkb, v_minx, v_miny, v_maxx, v_maxy, v_radius,
       b_id, b_kind, b_wkb, b_minx, b_miny, b_maxx, b_maxy, b_radius
FROM {{v}} v
JOIN {{b}} b USING (__cx, __cy)
WHERE (v_maxx >= b_minx) AND (v_minx <= b_maxx) AND (v_maxy >= b_miny) AND (v_miny <= b_maxy)
  AND ((floor(greatest(v_minx, b_minx) / {css}) = __cx) AND (floor(greatest(v_miny, b_miny) / {css}) = __cy))
  AND ({hit})""",
            v=cells(values, "v"),
            b=cells(by, "b"),
        )

    if session.single_host(spark):
        # see grid_join_points_shapes: spread single-task local scans —
        # the polygon Python refine runs downstream and the fan-out is
        # load-bearing for the Arrow stage.
        par = spark.sparkContext.defaultParallelism
        values = values.repartition(par)
        by = by.repartition(par)

    v = cells(values, "v")
    b = cells(by, "b")
    # reference point = top-left corner of the bbox intersection; it lies
    # in exactly one grid cell, and both sides' cell sets cover it
    ref_x = F.greatest(F.col("v_minx"), F.col("b_minx"))
    ref_y = F.greatest(F.col("v_miny"), F.col("b_miny"))
    cand = (
        v.join(b, ["__cx", "__cy"])
        .filter(  # bbox overlap prefilter
            (F.col("v_maxx") >= F.col("b_minx"))
            & (F.col("v_minx") <= F.col("b_maxx"))
            & (F.col("v_maxy") >= F.col("b_miny"))
            & (F.col("v_miny") <= F.col("b_maxy"))
        )
        .filter((F.floor(ref_x / cs) == F.col("__cx")) & (F.floor(ref_y / cs) == F.col("__cy")))
        .drop("__cx", "__cy")
    )

    return cand.filter(
        _intersects(
            F.col("v_wkb"), F.col("b_wkb"), F.col("v_kind"), F.col("b_kind"), F.col("v_radius"), F.col("b_radius")
        )
    )


# module-level: a pandas_udf created inside the operator re-pickles and
# re-registers the function on every plan construction (~4 ms each:
# median of 60 builds against a reused UDF, 4 cores)
@F.pandas_udf(T.DoubleType())
def _frac(v_wkb, b_wkb, v_kind, b_kind, v_radius, b_radius):
    import pandas as pd

    from spatialdata_spark.geometry import predicates as P
    from spatialdata_spark.geometry import wkb as W

    out = []
    for vw, bw, vk, bk, vr, br in zip(v_wkb, b_wkb, v_kind, b_kind, v_radius, b_radius):
        v_polys = _as_polys(W, vk, vw, vr)
        b_polys = _as_polys(W, bk, bw, br)
        va = P.multipolygon_area(v_polys)
        if va == 0:
            out.append(0.0)
            continue
        # arbitrary simple by-regions (convex straight to the
        # Sutherland–Hodgman kernel, concave via ear-clip
        # triangulation, holes subtract); a multi-part "by"
        # contributes the sum over its disjoint parts
        inter = sum(
            P.intersection_area(v_rings, b_rings)
            for v_rings in v_polys
            for b_rings in b_polys
        )
        out.append(inter / va)
    return pd.Series(out)


@F.pandas_udf(T.BooleanType())
def _intersects(v_wkb, b_wkb, v_kind, b_kind, v_radius, b_radius):
    import pandas as pd

    from spatialdata_spark.geometry import predicates as P
    from spatialdata_spark.geometry import wkb as W

    out = []
    for vw, bw, vk, bk, vr, br in zip(v_wkb, b_wkb, v_kind, b_kind, v_radius, b_radius):
        # circle vs polygon uses the exact disk test (no 32-gon
        # approximation) so SQL oracles match bit-exactly
        if vk == "point" and bk != "point":
            _, c = W.decode(bytes(vw))
            out.append(P.polygons_intersect_circle(_as_polys(W, bk, bw, br), float(c[0]), float(c[1]), float(vr)))
            continue
        if bk == "point" and vk != "point":
            _, c = W.decode(bytes(bw))
            out.append(P.polygons_intersect_circle(_as_polys(W, vk, vw, vr), float(c[0]), float(c[1]), float(br)))
            continue
        va = _as_polys(W, vk, vw, vr)
        ba = _as_polys(W, bk, bw, br)
        out.append(P.polygons_intersect(va, ba))
    return pd.Series(out)


def _as_polys(W, kind: str, wkb_buf: bytes, radius) -> list:
    """Any shape as a multipolygon-with-holes ``[[exterior, *holes], ...]``;
    circles become 32-gons (reference buffers circles to polygons,
    aggregate.py:365-368).  All parts and interior rings participate in
    the exact refine — a multipolygon whose second part alone touches
    the region must still match."""
    k, geom = W.decode(bytes(wkb_buf))
    if k == "point":
        return [[W.regular_polygon(float(geom[0]), float(geom[1]), float(radius))]]
    if k == "polygon":
        return [geom]
    return geom


def aggregate_points_by_shapes(
    points: DataFrame,
    shapes: DataFrame,
    value_col: str | None = None,
    agg_func: str = "count",
    cell_size: float | None = None,
    all_circles: bool = False,
) -> DataFrame:
    """aggregate(points, by=shapes): spatial join then groupBy
    (reference: aggregate.py:28-213, shapes/points path :312-493).

    Output: ``(by_id, <agg>)`` long form — one row per region with >=1
    matched point.  Categorical value columns aggregate per category:
    ``(by_id, category, n)``.
    """
    if agg_func not in AGG_FUNCS:
        raise ValueError(f"agg_func {agg_func!r}; supported: {sorted(AGG_FUNCS)}")
    if all_circles:
        # circles admit the cell-cover decomposition: per-cell
        # pre-aggregation + boundary-only exact tests (see
        # aggregate_points_by_circles) — typically orders of magnitude
        # fewer candidate pairs than join-then-group on dense data
        return aggregate_points_by_circles(points, shapes, value_col, agg_func, cell_size)
    keep = ["x", "y"] + ([value_col] if value_col and value_col not in ("x", "y") else [])
    joined = grid_join_points_shapes(points.select(*keep), shapes, cell_size=cell_size, all_circles=all_circles)

    if value_col is None:
        return joined.groupBy("shape_id").agg(F.count(F.lit(1)).alias("n")).withColumnRenamed("shape_id", "by_id")

    vtype = dict(joined.dtypes).get(value_col)
    if vtype == "string":
        # categorical: long-form counts (sparse COO analog, :454-488)
        return (
            joined.groupBy("shape_id", value_col)
            .agg(F.count(F.lit(1)).alias("n"))
            .withColumnRenamed("shape_id", "by_id")
            .withColumnRenamed(value_col, "category")
        )
    agg = AGG_FUNCS[agg_func](F.col(value_col)).alias(f"{agg_func}_{value_col}")
    return joined.groupBy("shape_id").agg(agg).withColumnRenamed("shape_id", "by_id")


def aggregate_shapes_by_shapes(
    values: DataFrame,
    by: DataFrame,
    value_col: str | None = None,
    agg_func: str = "count",
    fractions: bool = False,
    cell_size: float | None = None,
    values_kinds: frozenset[str] | None = None,
    by_kinds: frozenset[str] | None = None,
) -> DataFrame:
    """aggregate(shapes, by=shapes) with optional area-fraction weighting.

    fractions=True: weight = area(v ∩ b) / area(v) for arbitrary simple
    ``by`` polygons (the reference's exact-overlay semantics,
    aggregate.py:428-432): convex exteriors clip directly with
    Sutherland–Hodgman, concave ones ear-clip into interior-disjoint
    triangles whose clip areas sum exactly, and holes subtract
    (geometry.predicates.intersection_area).  Box×box pairs compute the
    weight as a pure rectangle-clip expression — no Python in the plan.
    """
    # kind discovery is two tiny driver jobs; callers that know their
    # geometry kinds (e.g. all boxes) pass them to skip the round trips
    if values_kinds is None:
        values_kinds = _shape_kinds(values)
    if by_kinds is None:
        by_kinds = _shape_kinds(by)
    joined = grid_join_shapes_shapes(
        values, by, cell_size=cell_size, values_kinds=values_kinds, by_kinds=by_kinds
    )

    if fractions and values_kinds <= {"box"} and by_kinds <= {"box"}:
        ix = F.greatest(F.least(F.col("v_maxx"), F.col("b_maxx")) - F.greatest(F.col("v_minx"), F.col("b_minx")), F.lit(0.0))
        iy = F.greatest(F.least(F.col("v_maxy"), F.col("b_maxy")) - F.greatest(F.col("v_miny"), F.col("b_miny")), F.lit(0.0))
        varea = (F.col("v_maxx") - F.col("v_minx")) * (F.col("v_maxy") - F.col("v_miny"))
        joined = joined.withColumn(
            "__w", F.when(varea > 0, ix * iy / varea).otherwise(F.lit(0.0))
        )
    elif fractions:
        joined = joined.withColumn(
            "__w",
            _frac(
                F.col("v_wkb"), F.col("b_wkb"), F.col("v_kind"), F.col("b_kind"), F.col("v_radius"), F.col("b_radius")
            ),
        )

    pairs = joined.select("v_id", "b_id", *(["__w"] if fractions else []))

    if value_col is not None:
        vals = values.select(F.col("shape_id").alias("v_id"), F.col(value_col))
        pairs = pairs.join(vals, "v_id")

    if value_col is None:
        if fractions:
            return pairs.groupBy("b_id").agg(F.sum("__w").alias("n")).withColumnRenamed("b_id", "by_id")
        return pairs.groupBy("b_id").agg(F.count(F.lit(1)).alias("n")).withColumnRenamed("b_id", "by_id")

    col = F.col(value_col) * F.col("__w") if fractions else F.col(value_col)
    if agg_func not in AGG_FUNCS:
        raise ValueError(f"agg_func {agg_func!r}")
    # under fractions, 'count' means sum of weights (aggregate.py:373-384)
    if fractions and agg_func == "count":
        out = pairs.groupBy("b_id").agg(F.sum("__w").alias(f"count_{value_col}"))
    else:
        out = pairs.groupBy("b_id").agg(AGG_FUNCS[agg_func](col).alias(f"{agg_func}_{value_col}"))
    return out.withColumnRenamed("b_id", "by_id")


def aggregate_image_by_labels(
    image_long: DataFrame,
    labels_long: DataFrame,
    agg_func: str = "mean",
) -> DataFrame:
    """Per-channel zonal stats of an image over a label mask — a pure
    pixel equi-join + groupBy (reference: aggregate.py:248-309 wraps
    xrspatial.zonal_stats; on Spark this is just relational algebra).

    Inputs are long-form ``(c,y,x,value)`` and ``(y,x,label)``; output
    ``(label, c, <agg>)``.  Background label 0 is dropped.
    """
    if agg_func not in AGG_FUNCS:
        raise ValueError(f"agg_func {agg_func!r}")
    # 3D volumes join on the full (z, y, x) pixel key (reference
    # Labels3DModel zonal stats) — same relational plan, one more key
    keys = ["y", "x"]
    if "z" in image_long.columns and "z" in labels_long.columns:
        keys = ["z", "y", "x"]
    joined = image_long.join(labels_long.filter(F.col("label") != 0), keys)
    return (
        joined.groupBy("label", "c")
        .agg(AGG_FUNCS[agg_func](F.col("value")).alias(f"{agg_func}_value"))
    )


def aggregate_points_by_labels(
    points: DataFrame,
    labels_long: DataFrame,
    value_col: str | None = None,
    agg_func: str = "count",
) -> DataFrame:
    """Zonal aggregation of points over a labels raster (reference
    aggregate.py:28-213 with ``by`` a Labels2DModel): each point bins to
    its integer pixel, the pixel looks up its label, background 0 drops.

    Plan: points pre-aggregate per pixel FIRST (map-side combinable
    groupBy on the pixel key), so the pixel join carries at most one row
    per occupied pixel instead of one per point; then one equi-join to
    the label pixels and a final groupBy(label).  At 100 TB the pixel
    pre-aggregation is what keeps the join input bounded by raster area
    rather than point count.

    Output ``(label, n[, <agg>_value])``.
    """
    if agg_func not in AGG_FUNCS:
        raise ValueError(f"agg_func {agg_func!r}")
    px = points.select(
        F.floor(F.col("y")).cast("long").alias("y"),
        F.floor(F.col("x")).cast("long").alias("x"),
        *([F.col(value_col).alias("__v")] if value_col else []),
    )
    per_pixel = px.groupBy("y", "x").agg(
        F.count(F.lit(1)).alias("__n"),
        *([F.sum("__v").alias("__s")] if value_col else []),
    )
    joined = per_pixel.join(labels_long.filter(F.col("label") != 0), ["y", "x"])
    aggs = [F.sum("__n").alias("n")]
    if value_col:
        if agg_func == "count":
            pass
        elif agg_func == "sum":
            aggs.append(F.sum("__s").alias("sum_value"))
        elif agg_func == "mean":
            aggs.append((F.sum("__s") / F.sum("__n")).alias("mean_value"))
        else:
            raise ValueError(
                f"agg_func {agg_func!r} needs per-point rows; only count/sum/mean "
                "are pixel-preaggregable"
            )
    return joined.groupBy("label").agg(*aggs)
