"""Spatial query operators: bounding-box / polygon / multi-box queries.

Reference: src/spatialdata/_core/query/spatial_query.py —
points bbox :618-743 (fast paths :668-701), shapes bbox :746-800,
raster bbox :537-615, polygon query :874-975, multi-box :421-437.

Spark-first design:

* The transform-case analysis (:268-321) runs on the driver over tiny
  matrices; the data-side work is emitted as Catalyst expressions.
* Identity / axis-aligned transforms: the query box is inverse-mapped
  to intrinsic coordinates on the driver, and the filter is a bare
  conjunctive range predicate — pushed down to parquet row groups.
* General (rotated/sheared) transforms: coordinates are projected
  through the affine *as expressions* and filtered in target space —
  still whole-stage codegen, no Python boundary.
* Shapes: pruning uses the denormalized (minx..maxy) bbox columns —
  the columnar stand-in for the reference's R-tree — followed by an
  exact-geometry refine; circles refine with a pure-expression
  distance test, polygons with an Arrow-batched UDF.
* Bounds convention: point coordinate masks are EXCLUSIVE (> and <),
  matching spatial_query.py:434; raster/integer queries are inclusive
  slices; shape bbox overlap tests are inclusive (R-tree `intersects`).
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import lru_cache

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spatialdata_spark.functions.affine import affine_exprs
from spatialdata_spark.transformations import BaseTransformation, Identity


@dataclass
class BoundingBoxRequest:
    """Validated bbox request (reference: spatial_query.py:359-377)."""

    axes: tuple[str, ...]
    min_coordinate: np.ndarray
    max_coordinate: np.ndarray

    def __post_init__(self):
        self.min_coordinate = np.asarray(self.min_coordinate, dtype=float)
        self.max_coordinate = np.asarray(self.max_coordinate, dtype=float)
        if len(self.axes) != len(self.min_coordinate) or len(self.axes) != len(self.max_coordinate):
            raise ValueError("axes / min / max length mismatch")
        for ax in self.axes:
            if ax not in ("x", "y", "z"):
                raise ValueError(f"Invalid query axis {ax!r} (spatial axes only)")
        if (self.min_coordinate > self.max_coordinate).any():
            raise ValueError("min_coordinate must be <= max_coordinate")


def _affine_2d(transformation: BaseTransformation, axes: tuple[str, ...]) -> np.ndarray:
    m = transformation.to_affine_matrix(axes, axes)
    # query-case legality (reference spatial_query.py:268-321): only
    # invertible data→CS transforms admit a spatial query — reject
    # singular matrices with a domain error, not a numpy traceback
    if abs(float(np.linalg.det(m[:-1, :-1]))) < 1e-12:
        raise ValueError(
            f"Transformation to axes {axes} is singular (rank-deficient); "
            "spatial queries require an invertible transform."
        )
    return m


def _is_axis_aligned(m: np.ndarray) -> bool:
    linear = m[:-1, :-1]
    return bool(np.all(linear == np.diag(np.diag(linear))))


def _intrinsic_box(m_inv: np.ndarray, mins: np.ndarray, maxs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Map a target-CS box through an inverse affine; valid for
    axis-aligned transforms (per-axis rescale, sign-flip aware)."""
    d = len(mins)
    corners = np.array([mins, maxs])
    diag = np.diag(m_inv[:d, :d])
    t = m_inv[:d, d]
    a = corners[0] * diag + t
    b = corners[1] * diag + t
    return np.minimum(a, b), np.maximum(a, b)


def bounding_box_query_points(
    df: DataFrame,
    axes: tuple[str, ...],
    min_coordinate,
    max_coordinate,
    transformation: BaseTransformation | None = None,
) -> DataFrame:
    """Filter points to an axis-aligned box given in the target CS.

    Returns rows in intrinsic coordinates (filtered, not projected),
    like the reference.  Exclusive bounds.
    """
    req = BoundingBoxRequest(tuple(axes), min_coordinate, max_coordinate)
    t = transformation or Identity()
    m = _affine_2d(t, req.axes)

    if _is_axis_aligned(m):
        # fast path (reference :668-701): rewrite the box, filter raw
        # columns -> predicate pushdown to parquet
        m_inv = np.linalg.inv(m)
        lo, hi = _intrinsic_box(m_inv, req.min_coordinate, req.max_coordinate)
        cond = None
        for i, ax in enumerate(req.axes):
            c = (F.col(ax) > F.lit(float(lo[i]))) & (F.col(ax) < F.lit(float(hi[i])))
            cond = c if cond is None else (cond & c)
        return df.filter(cond)

    # general path: project coordinates through the affine as expressions
    exprs = affine_exprs(m, req.axes, req.axes)
    cond = None
    for i, ax in enumerate(req.axes):
        c = (exprs[ax] > F.lit(float(req.min_coordinate[i]))) & (exprs[ax] < F.lit(float(req.max_coordinate[i])))
        cond = c if cond is None else (cond & c)
    return df.filter(cond)


def bounding_box_query_multibox(
    df: DataFrame,
    axes: tuple[str, ...],
    min_coordinates,
    max_coordinates,
    transformation: BaseTransformation | None = None,
) -> DataFrame:
    """N boxes at once (DataLoader tile sweep, reference :421-437,585-593).

    The boxes become a broadcast DataFrame range-joined against the
    points; output gains a ``box_id`` column (a point can match several
    boxes).  At scale this is the idiomatic plan: tiny dim broadcast,
    no shuffle of the fact side.
    """
    req_axes = tuple(axes)
    mins = np.asarray(min_coordinates, dtype=float)
    maxs = np.asarray(max_coordinates, dtype=float)
    t = transformation or Identity()
    m = _affine_2d(t, req_axes)
    spark = df.sparkSession
    cols = ["box_id"] + [f"__lo_{ax}" for ax in req_axes] + [f"__hi_{ax}" for ax in req_axes]

    if _is_axis_aligned(m):
        # rewrite every box into intrinsic coordinates; the filter runs
        # on the raw columns (pushdown-friendly)
        m_inv = np.linalg.inv(m)
        rows = []
        for i in range(len(mins)):
            lo, hi = _intrinsic_box(m_inv, mins[i], maxs[i])
            rows.append((i, *[float(v) for v in lo], *[float(v) for v in hi]))
        boxes = spark.createDataFrame(rows, cols)
        probe = {ax: F.col(ax) for ax in req_axes}
        joined = df.join(F.broadcast(boxes), _multibox_cond(req_axes, probe))
        return joined.drop(*[c for c in cols if c != "box_id"])

    # general affine: project the point coordinates through the forward
    # affine as expressions and range-join against the boxes in target
    # space — exact for any invertible transform, still one broadcast
    # join with zero Python in the plan
    rows = [
        (i, *[float(v) for v in mins[i]], *[float(v) for v in maxs[i]]) for i in range(len(mins))
    ]
    boxes = spark.createDataFrame(rows, cols)
    exprs = affine_exprs(m, req_axes, req_axes)
    proj = df.select("*", *[exprs[ax].alias(f"__t_{ax}") for ax in req_axes])
    probe = {ax: F.col(f"__t_{ax}") for ax in req_axes}
    joined = proj.join(F.broadcast(boxes), _multibox_cond(req_axes, probe))
    return joined.drop(*[c for c in cols if c != "box_id"], *[f"__t_{ax}" for ax in req_axes])


def _multibox_cond(req_axes: tuple[str, ...], probe: dict) -> Column:
    cond = None
    for ax in req_axes:
        c = (probe[ax] > F.col(f"__lo_{ax}")) & (probe[ax] < F.col(f"__hi_{ax}"))
        cond = c if cond is None else (cond & c)
    return cond


def _box_overlap_cond(qminx: float, qminy: float, qmaxx: float, qmaxy: float) -> Column:
    return (
        (F.col("maxx") >= F.lit(qminx))
        & (F.col("minx") <= F.lit(qmaxx))
        & (F.col("maxy") >= F.lit(qminy))
        & (F.col("miny") <= F.lit(qmaxy))
    )


def _polygon_refine_udf(ring: np.ndarray):
    """Exact shape-vs-query-ring intersect test (Arrow batched).
    Circles (kind point + radius) use the exact disk-vs-ring test.
    Cached per ring bytes (same contract as _ring_pip_udf): the
    pandas_udf pickle+registration is paid once per distinct ring."""
    r = np.ascontiguousarray(np.asarray(ring, dtype=float))
    return _polygon_refine_udf_cached(r.tobytes(), len(r))


@lru_cache(maxsize=64)
def _polygon_refine_udf_cached(ring_bytes: bytes, n: int):
    ring_arr = np.frombuffer(ring_bytes, dtype=float).reshape(n, 2).copy()

    @F.pandas_udf(T.BooleanType())
    def _refine(wkb_s, radius_s):
        import pandas as pd

        from spatialdata_spark.geometry import predicates as P
        from spatialdata_spark.geometry import wkb as W

        out = []
        for buf, radius in zip(wkb_s, radius_s):
            if buf is None:
                out.append(False)
                continue
            kind, geom = W.decode(bytes(buf))
            if kind == "point":
                out.append(P.ring_intersects_circle(ring_arr, float(geom[0]), float(geom[1]), float(radius or 0.0)))
            elif kind == "polygon":
                # hole-aware: a query ring nested wholly inside an
                # interior ring does not intersect the polygon
                out.append(P.polygons_intersect([geom], [[ring_arr]]))
            else:
                out.append(P.polygons_intersect(geom, [[ring_arr]]))
        return pd.Series(out)

    return _refine


def bounding_box_query_shapes(
    df: DataFrame,
    axes: tuple[str, ...],
    min_coordinate,
    max_coordinate,
    transformation: BaseTransformation | None = None,
    exact: bool = True,
) -> DataFrame:
    """Shapes whose geometry intersects the query box.

    bbox-column prefilter (columnar R-tree analog, reference :746-800)
    + exact refine.  Circles refine with a pure-expression
    closest-point distance test; polygons with the geometry UDF only
    when the box is rotated in intrinsic space (axis-aligned boxes need
    no refine beyond bbox overlap for the prefilter=query-box case —
    bbox overlap is exact for axis-aligned boxes vs axis-aligned bboxes
    only as a *candidate* test, so polygons still refine).
    """
    req = BoundingBoxRequest(tuple(axes), min_coordinate, max_coordinate)
    t = transformation or Identity()
    m = _affine_2d(t, req.axes)

    if _is_axis_aligned(m):
        m_inv = np.linalg.inv(m)
        lo, hi = _intrinsic_box(m_inv, req.min_coordinate, req.max_coordinate)
        qminx, qminy = lo[req.axes.index("x")], lo[req.axes.index("y")]
        qmaxx, qmaxy = hi[req.axes.index("x")], hi[req.axes.index("y")]
        ring = np.array([[qminx, qminy], [qmaxx, qminy], [qmaxx, qmaxy], [qminx, qmaxy]])
    else:
        # inverse-map the box corners -> rotated query polygon in intrinsic CS
        m_inv = np.linalg.inv(m)
        ix, iy = req.axes.index("x"), req.axes.index("y")
        corners = np.array(
            [
                [req.min_coordinate[ix], req.min_coordinate[iy]],
                [req.max_coordinate[ix], req.min_coordinate[iy]],
                [req.max_coordinate[ix], req.max_coordinate[iy]],
                [req.min_coordinate[ix], req.max_coordinate[iy]],
            ]
        )
        # build (x,y)-ordered inverse
        d = len(req.axes)
        lin = m_inv[:d, :d]
        tvec = m_inv[:d, d]
        xy = np.array([[lin[ix, ix], lin[ix, iy]], [lin[iy, ix], lin[iy, iy]]])
        ring = corners @ xy.T + np.array([tvec[ix], tvec[iy]])
        qminx, qminy = ring.min(axis=0)
        qmaxx, qmaxy = ring.max(axis=0)

    pre = df.filter(_box_overlap_cond(float(qminx), float(qminy), float(qmaxx), float(qmaxy)))
    if not exact:
        return pre

    # exact refine: circles via expression distance test to the box ring's
    # bbox (for axis-aligned ring this is exact circle-vs-rect)
    if _is_axis_aligned(m):
        cx = (F.col("minx") + F.col("maxx")) / 2
        cy = (F.col("miny") + F.col("maxy")) / 2
        dx = F.greatest(F.lit(float(qminx)) - cx, F.lit(0.0), cx - F.lit(float(qmaxx)))
        dy = F.greatest(F.lit(float(qminy)) - cy, F.lit(0.0), cy - F.lit(float(qmaxy)))
        circle_hit = (dx * dx + dy * dy) <= (F.col("radius") * F.col("radius"))
        poly_refine = _polygon_refine_udf(ring)
        return pre.filter(
            F.when(F.col("kind") == "point", circle_hit).otherwise(poly_refine(F.col("wkb"), F.col("radius")))
        )
    poly_refine = _polygon_refine_udf(ring)
    return pre.filter(poly_refine(F.col("wkb"), F.col("radius")))


def polygon_query_points(
    df: DataFrame,
    polygon_ring: np.ndarray,
    transformation: BaseTransformation | None = None,
) -> DataFrame:
    """Points inside a query polygon (reference :895-923).

    The polygon is inverse-mapped to intrinsic coordinates on the
    driver; the plan is bbox range prefilter (pushdown) + exact
    point-in-polygon pandas UDF on survivors only.
    """
    ring = np.asarray(polygon_ring, dtype=float)
    t = transformation or Identity()
    m = _affine_2d(t, ("x", "y"))
    m_inv = np.linalg.inv(m)
    ring_i = ring @ m_inv[:2, :2].T + m_inv[:2, 2]
    if (ring_i[0] == ring_i[-1]).all():
        ring_i = ring_i[:-1]
    minx, miny = ring_i.min(axis=0)
    maxx, maxy = ring_i.max(axis=0)

    pre = df.filter(
        (F.col("x") > F.lit(float(minx)))
        & (F.col("x") < F.lit(float(maxx)))
        & (F.col("y") > F.lit(float(miny)))
        & (F.col("y") < F.lit(float(maxy)))
    )

    if _is_convex(ring_i):
        # convex fast path: strict half-plane conjunction as Catalyst
        # expressions — whole-stage codegen, no Python worker round-trip
        return pre.filter(_halfplane_cond(ring_i))

    inside = _ring_pip_udf(ring_i.tobytes(), len(ring_i))
    return pre.filter(inside(F.col("x"), F.col("y")))


@lru_cache(maxsize=64)
def _ring_pip_udf(ring_bytes: bytes, n: int):
    """Point-in-ring pandas UDF, cached per ring: creating a pandas_udf
    re-pickles and re-registers the function on every plan construction
    (~4 ms each: median of 60 builds against a reused UDF, 4 cores);
    repeated queries against the same polygon amortize it."""
    ring = np.frombuffer(ring_bytes, dtype=float).reshape(n, 2).copy()

    @F.pandas_udf(T.BooleanType())
    def _inside(x_s, y_s):
        import pandas as pd

        from spatialdata_spark.geometry import predicates as P

        return pd.Series(P.points_in_ring(x_s.to_numpy(), y_s.to_numpy(), ring))

    return _inside


def _is_convex(ring: np.ndarray) -> bool:
    n = len(ring)
    sign = 0
    for i in range(n):
        o, a, b = ring[i], ring[(i + 1) % n], ring[(i + 2) % n]
        cr = (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])
        if abs(cr) < 1e-12:
            continue
        s = 1 if cr > 0 else -1
        if sign == 0:
            sign = s
        elif s != sign:
            return False
    return True


def _halfplane_cond(ring: np.ndarray):
    """Strict-interior test for a convex ring as a column expression:
    for the CCW ring, cross((p2-p1), (p-p1)) > 0 on every edge."""
    n = len(ring)
    area = 0.0
    for i in range(n):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % n]
        area += x1 * y2 - x2 * y1
    r = ring if area > 0 else ring[::-1]
    cond = None
    for i in range(n):
        x1, y1 = r[i]
        x2, y2 = r[(i + 1) % n]
        c = (
            F.lit(float(x2 - x1)) * (F.col("y") - F.lit(float(y1)))
            - F.lit(float(y2 - y1)) * (F.col("x") - F.lit(float(x1)))
        ) > F.lit(0.0)
        cond = c if cond is None else (cond & c)
    return cond


def polygon_query_shapes(
    df: DataFrame,
    polygon_ring: np.ndarray,
    transformation: BaseTransformation | None = None,
    clip: bool = False,
) -> DataFrame:
    """Shapes intersecting a query polygon (reference :926-975).

    ``clip=True`` replaces each returned geometry with its intersection
    against the query polygon, mirroring the reference's
    ``queried_shapes.clip(polygon_gdf)``: circles are polygonized first
    (the reference buffers them via ``to_polygons``), bbox columns are
    recomputed from the clipped ring, ``kind`` becomes ``polygon`` and
    ``radius`` is cleared.  The clip kernel is Sutherland–Hodgman
    against a convex ring; concave query rings are ear-clipped into
    interior-disjoint triangles first, so the clipped geometry comes
    back as a multipolygon of pieces whose areas sum exactly.  Interior
    rings survive the clip: each hole is clipped against the same piece
    and emitted as an interior ring, so recomputing area from the
    returned WKB reproduces ``clip_area`` (matches ``gpd.clip``).
    """
    ring = np.asarray(polygon_ring, dtype=float)
    t = transformation or Identity()
    m = _affine_2d(t, ("x", "y"))
    m_inv = np.linalg.inv(m)
    ring_i = ring @ m_inv[:2, :2].T + m_inv[:2, 2]
    minx, miny = ring_i.min(axis=0)
    maxx, maxy = ring_i.max(axis=0)
    pre = df.filter(_box_overlap_cond(float(minx), float(miny), float(maxx), float(maxy)))
    refine = _polygon_refine_udf(ring_i)

    # circles: exact expression test — closest point on circle center vs ring
    # is not expression-friendly for arbitrary rings; use UDF for all kinds
    # except when the circle's bbox is fully inside the ring bbox AND the
    # ring is the bbox itself (cheap case handled by bbox query).
    out = pre.filter(refine(F.col("wkb"), F.col("radius")))
    if not clip:
        return out
    ring_arr = np.ascontiguousarray(np.asarray(ring_i, dtype=float))
    _clip = _clip_udf_cached(ring_arr.tobytes(), len(ring_arr))
    return _finish_clip(out, _clip)


@lru_cache(maxsize=64)
def _clip_udf_cached(ring_bytes: bytes, n: int):
    """Sutherland–Hodgman clip kernel, cached per query ring (the
    pandas_udf pickle+registration is paid once per distinct ring)."""
    ring_arr = np.frombuffer(ring_bytes, dtype=float).reshape(n, 2).copy()
    # concave query rings: ear-clip into interior-disjoint triangles and
    # clip against each — the pieces form a multipolygon whose areas sum
    # exactly (triangles share only boundary)
    if _is_convex(ring_arr):
        clip_rings = [ring_arr]
    else:
        from spatialdata_spark.geometry.predicates import ear_clip_triangulate

        clip_rings = ear_clip_triangulate(ring_arr)

    clip_schema = T.StructType(
        [
            T.StructField("wkb", T.BinaryType()),
            T.StructField("minx", T.DoubleType()),
            T.StructField("miny", T.DoubleType()),
            T.StructField("maxx", T.DoubleType()),
            T.StructField("maxy", T.DoubleType()),
            T.StructField("area", T.DoubleType()),
        ]
    )

    @F.pandas_udf(clip_schema)
    def _clip(wkb_s, radius_s):
        import pandas as pd

        from spatialdata_spark.geometry import predicates as P
        from spatialdata_spark.geometry import wkb as W

        rows = []
        for buf, radius in zip(wkb_s, radius_s):
            kind, geom = W.decode(bytes(buf))
            if kind == "point":
                parts = [[W.regular_polygon(float(geom[0]), float(geom[1]), float(radius or 0.0))]]
            elif kind == "polygon":
                parts = [geom]
            else:
                parts = geom
            clipped = []
            area = 0.0
            for rings in parts:
                # exterior ring clipped against each (convex) clip piece;
                # clipped holes come along as interior rings of their
                # piece, so WKB-derived area equals reported clip_area
                for piece in clip_rings:
                    c = P.clip_polygon_convex(rings[0], piece)
                    if len(c) < 3 or abs(P.ring_area(c)) == 0:
                        continue
                    piece_rings = [c]
                    piece_area = abs(P.ring_area(c))
                    for hole in rings[1:]:
                        hc = P.clip_polygon_convex(hole, piece)
                        if len(hc) >= 3 and abs(P.ring_area(hc)) > 0:
                            piece_rings.append(hc)
                            piece_area -= abs(P.ring_area(hc))
                    if piece_area <= 1e-12:
                        continue  # piece swallowed by its holes
                    clipped.append(piece_rings)
                    area += piece_area
            if not clipped:
                rows.append((None, None, None, None, None, None))
                continue
            allpts = np.vstack([rings[0] for rings in clipped])
            wkb_out = (
                W.encode_polygon(clipped[0]) if len(clipped) == 1 else W.encode_multipolygon(clipped)
            )
            rows.append(
                (
                    wkb_out,
                    float(allpts[:, 0].min()),
                    float(allpts[:, 1].min()),
                    float(allpts[:, 0].max()),
                    float(allpts[:, 1].max()),
                    float(area),
                )
            )
        return pd.DataFrame(rows, columns=["wkb", "minx", "miny", "maxx", "maxy", "area"])

    return _clip


def _finish_clip(out: DataFrame, _clip) -> DataFrame:
    clipped = out.withColumn("__c", _clip(F.col("wkb"), F.col("radius")))
    keep = [c for c in out.columns if c not in ("wkb", "minx", "miny", "maxx", "maxy", "radius", "kind")]
    return (
        clipped.filter(F.col("__c.wkb").isNotNull())
        .select(
            *keep,
            F.lit("polygon").alias("kind"),
            F.col("__c.wkb").alias("wkb"),
            F.col("__c.minx").alias("minx"),
            F.col("__c.miny").alias("miny"),
            F.col("__c.maxx").alias("maxx"),
            F.col("__c.maxy").alias("maxy"),
            F.lit(None).cast("double").alias("radius"),
            F.col("__c.area").alias("clip_area"),
        )
    )


def bounding_box_query_raster_long(
    df: DataFrame,
    axes: tuple[str, ...],
    min_coordinate,
    max_coordinate,
    transformation: BaseTransformation | None = None,
) -> DataFrame:
    """Long-form raster bbox query = inclusive integer range filter
    (reference :537-615 does integer slicing on chunked arrays)."""
    req = BoundingBoxRequest(tuple(axes), min_coordinate, max_coordinate)
    t = transformation or Identity()
    m = _affine_2d(t, req.axes)
    m_inv = np.linalg.inv(m)
    if _is_axis_aligned(m):
        lo, hi = _intrinsic_box(m_inv, req.min_coordinate, req.max_coordinate)
    else:
        # general affine (rotation/shear): inverse-map every query-box
        # corner and slice the intrinsic axis-aligned bounds of the
        # result — the reference's corners rule
        # (_core/query/spatial_query.py:537-615, corner helper
        # _core/query/_utils.py:95-110): rasters are cropped to the
        # enclosing box, not masked to the exact rotated region.
        lo, hi = _corners_bbox(m_inv, req.min_coordinate, req.max_coordinate)
    cond = None
    for i, ax in enumerate(req.axes):
        c = (F.col(ax) >= F.lit(int(np.floor(lo[i])))) & (F.col(ax) <= F.lit(int(np.ceil(hi[i]))))
        cond = c if cond is None else (cond & c)
    return df.filter(cond)


def _corners_bbox(m_inv: np.ndarray, mins: np.ndarray, maxs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Axis-aligned intrinsic bounds of a target-CS box under an
    arbitrary invertible affine: map all 2^d corners, take min/max."""
    d = len(mins)
    lin = m_inv[:d, :d]
    tvec = m_inv[:d, d]
    corners = np.array(
        [[(maxs if (i >> k) & 1 else mins)[k] for k in range(d)] for i in range(1 << d)]
    )
    mapped = corners @ lin.T + tvec
    return mapped.min(axis=0), mapped.max(axis=0)
