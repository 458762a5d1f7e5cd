"""Pure-numpy computational geometry used by the exact-refine stage.

The reference delegates these to shapely/geopandas (R-tree prefilter +
exact predicate, reference: src/spatialdata/_core/query/spatial_query.py:788,949
and _core/operations/aggregate.py:420-432).  Our Spark plans do the
cheap pruning with bbox *columns* (Catalyst range predicates) and call
these kernels only inside Arrow-batched pandas UDFs for the surviving
candidates.

All polygons are numpy rings ((n,2) float arrays); polygon = list of
rings (ring 0 exterior, rest holes); multipolygon = list of polygons.
"""

from __future__ import annotations

import numpy as np


def ring_area(ring: np.ndarray) -> float:
    """Signed shoelace area (positive = CCW)."""
    x, y = ring[:, 0], ring[:, 1]
    return 0.5 * float(np.sum(x * np.roll(y, -1) - np.roll(x, -1) * y))


def polygon_area(rings: list[np.ndarray]) -> float:
    if not rings:
        return 0.0
    area = abs(ring_area(rings[0]))
    for hole in rings[1:]:
        area -= abs(ring_area(hole))
    return area


def multipolygon_area(polys: list[list[np.ndarray]]) -> float:
    return float(sum(polygon_area(p) for p in polys))


def ring_centroid(ring: np.ndarray) -> tuple[float, float, float]:
    """(cx, cy, signed_area) of a closed ring via the standard formula."""
    x, y = ring[:, 0], ring[:, 1]
    xn, yn = np.roll(x, -1), np.roll(y, -1)
    cross = x * yn - xn * y
    a = 0.5 * float(np.sum(cross))
    if abs(a) < 1e-300:
        return float(x.mean()), float(y.mean()), 0.0
    cx = float(np.sum((x + xn) * cross) / (6.0 * a))
    cy = float(np.sum((y + yn) * cross) / (6.0 * a))
    return cx, cy, a


def polygon_centroid(rings: list[np.ndarray]) -> tuple[float, float]:
    """Area-weighted centroid; holes subtract."""
    num_x = num_y = den = 0.0
    for i, ring in enumerate(rings):
        cx, cy, a = ring_centroid(ring)
        w = abs(a) * (1.0 if i == 0 else -1.0)
        num_x += cx * w
        num_y += cy * w
        den += w
    if den == 0.0:
        return float(rings[0][:, 0].mean()), float(rings[0][:, 1].mean())
    return num_x / den, num_y / den


def points_in_ring(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Vectorized even-odd (ray casting) point-in-polygon over many points.

    Boundary behavior follows the crossing-number convention (points
    exactly on a horizontal edge may go either way — matches shapely's
    `covers` closely enough for interior-dominant workloads).
    """
    x1, y1 = ring[:-1, 0], ring[:-1, 1]
    x2, y2 = ring[1:, 0], ring[1:, 1]
    if not (ring[0] == ring[-1]).all():
        x1 = np.append(x1, ring[-1, 0])
        y1 = np.append(y1, ring[-1, 1])
        x2 = np.append(x2, ring[0, 0])
        y2 = np.append(y2, ring[0, 1])
    px = px[:, None]
    py = py[:, None]
    cond = ((y1 <= py) & (py < y2)) | ((y2 <= py) & (py < y1))
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x1 + (py - y1) * (x2 - x1) / np.where(y2 == y1, np.inf, y2 - y1)
    crossings = np.sum(cond & (px < xint), axis=1)
    return (crossings % 2) == 1


def points_in_polygon(px: np.ndarray, py: np.ndarray, rings: list[np.ndarray]) -> np.ndarray:
    inside = points_in_ring(px, py, rings[0])
    for hole in rings[1:]:
        inside &= ~points_in_ring(px, py, hole)
    return inside


def points_in_multipolygon(px: np.ndarray, py: np.ndarray, polys: list[list[np.ndarray]]) -> np.ndarray:
    out = np.zeros(len(px), dtype=bool)
    for rings in polys:
        out |= points_in_polygon(px, py, rings)
    return out


def _segments_intersect(p1, p2, p3, p4) -> bool:
    d1 = np.cross(p4 - p3, p1 - p3)
    d2 = np.cross(p4 - p3, p2 - p3)
    d3 = np.cross(p2 - p1, p3 - p1)
    d4 = np.cross(p2 - p1, p4 - p1)
    if ((d1 > 0) != (d2 > 0)) and ((d3 > 0) != (d4 > 0)):
        return True

    def on_seg(a, b, c):
        return (
            min(a[0], b[0]) <= c[0] <= max(a[0], b[0])
            and min(a[1], b[1]) <= c[1] <= max(a[1], b[1])
        )

    if d1 == 0 and on_seg(p3, p4, p1):
        return True
    if d2 == 0 and on_seg(p3, p4, p2):
        return True
    if d3 == 0 and on_seg(p1, p2, p3):
        return True
    return bool(d4 == 0 and on_seg(p1, p2, p4))


def rings_intersect(a: np.ndarray, b: np.ndarray) -> bool:
    """Exact polygon-intersects test on two exterior rings: any edge pair
    crosses, or one contains a vertex of the other."""
    amin = a.min(axis=0)
    amax = a.max(axis=0)
    bmin = b.min(axis=0)
    bmax = b.max(axis=0)
    if (amin > bmax).any() or (bmin > amax).any():
        return False
    if points_in_ring(b[:1, 0], b[:1, 1], a)[0] or points_in_ring(a[:1, 0], a[:1, 1], b)[0]:
        return True
    a_closed = a if (a[0] == a[-1]).all() else np.vstack([a, a[:1]])
    b_closed = b if (b[0] == b[-1]).all() else np.vstack([b, b[:1]])
    for i in range(len(a_closed) - 1):
        e1min = np.minimum(a_closed[i], a_closed[i + 1])
        e1max = np.maximum(a_closed[i], a_closed[i + 1])
        if (e1min > bmax).any() or (bmin > e1max).any():
            continue
        for j in range(len(b_closed) - 1):
            if _segments_intersect(a_closed[i], a_closed[i + 1], b_closed[j], b_closed[j + 1]):
                return True
    return False


def _rings_edges_cross(a: np.ndarray, b: np.ndarray) -> bool:
    """Any edge of closed ring a crosses/touches any edge of closed ring b."""
    bmin = b.min(axis=0)
    bmax = b.max(axis=0)
    a_closed = a if (a[0] == a[-1]).all() else np.vstack([a, a[:1]])
    b_closed = b if (b[0] == b[-1]).all() else np.vstack([b, b[:1]])
    for i in range(len(a_closed) - 1):
        e1min = np.minimum(a_closed[i], a_closed[i + 1])
        e1max = np.maximum(a_closed[i], a_closed[i + 1])
        if (e1min > bmax).any() or (bmin > e1max).any():
            continue
        for j in range(len(b_closed) - 1):
            if _segments_intersect(a_closed[i], a_closed[i + 1], b_closed[j], b_closed[j + 1]):
                return True
    return False


def polygons_intersect(a: list[list[np.ndarray]], b: list[list[np.ndarray]]) -> bool:
    """Exact intersects test between two (multi)polygons with holes.

    Each argument is a list of polygon parts, each part a list of rings
    (exterior first, then holes).  Closures intersect iff any ring edges
    cross/touch, or a vertex of one lies inside the other (hole-aware,
    so geometry nested wholly inside a hole does NOT intersect).
    Reference semantics: geopandas sjoin predicate="intersects"
    (spatialdata _core/operations/aggregate.py joins on intersects).
    """
    a_pts = np.vstack([r for rings in a for r in rings])
    b_pts = np.vstack([r for rings in b for r in rings])
    if (a_pts.min(axis=0) > b_pts.max(axis=0)).any() or (b_pts.min(axis=0) > a_pts.max(axis=0)).any():
        return False
    for rings in a:
        for ring in rings:
            if points_in_multipolygon(ring[:, 0], ring[:, 1], b).any():
                return True
    for rings in b:
        for ring in rings:
            if points_in_multipolygon(ring[:, 0], ring[:, 1], a).any():
                return True
    for rings_a in a:
        for ra in rings_a:
            for rings_b in b:
                for rb in rings_b:
                    if _rings_edges_cross(ra, rb):
                        return True
    return False


def polygons_intersect_circle(polys: list[list[np.ndarray]], cx: float, cy: float, r: float) -> bool:
    """Exact disk-vs-(multi)polygon-with-holes: center inside the polygon
    (hole-aware), or some ring edge within r of the center."""
    if points_in_multipolygon(np.array([cx]), np.array([cy]), polys)[0]:
        return True
    return any(
        _ring_edge_within(ring, cx, cy, r) for rings in polys for ring in rings
    )


def _ring_edge_within(ring: np.ndarray, cx: float, cy: float, r: float) -> bool:
    closed = ring if (ring[0] == ring[-1]).all() else np.vstack([ring, ring[:1]])
    a = closed[:-1]
    b = closed[1:]
    ab = b - a
    ap = np.array([cx, cy]) - a
    denom = (ab * ab).sum(axis=1)
    t = np.clip(np.divide((ap * ab).sum(axis=1), denom, out=np.zeros_like(denom), where=denom > 0), 0.0, 1.0)
    closest = a + ab * t[:, None]
    d2 = ((closest - np.array([cx, cy])) ** 2).sum(axis=1)
    return bool((d2 <= r * r).any())


def ring_intersects_circle(ring: np.ndarray, cx: float, cy: float, r: float) -> bool:
    """Exact disk-vs-polygon intersection: the center is inside the
    ring, or some ring edge comes within r of the center."""
    if points_in_ring(np.array([cx]), np.array([cy]), ring)[0]:
        return True
    closed = ring if (ring[0] == ring[-1]).all() else np.vstack([ring, ring[:1]])
    a = closed[:-1]
    b = closed[1:]
    ab = b - a
    ap = np.array([cx, cy]) - a
    denom = (ab * ab).sum(axis=1)
    t = np.clip(np.divide((ap * ab).sum(axis=1), denom, out=np.zeros_like(denom), where=denom > 0), 0.0, 1.0)
    closest = a + ab * t[:, None]
    d2 = ((closest - np.array([cx, cy])) ** 2).sum(axis=1)
    return bool((d2 <= r * r).any())


def clip_polygon_convex(subject: np.ndarray, clip: np.ndarray) -> np.ndarray:
    """Sutherland–Hodgman: clip ``subject`` ring by a CONVEX ``clip`` ring.

    Returns the clipped ring (possibly empty).  Used for
    intersection-area / fractions weighting when the "by" regions are
    convex (axis-aligned boxes, circles-as-ngons, convex cells); the
    general concave case falls back to grid sampling.
    """
    clip = clip if ring_area(clip) > 0 else clip[::-1]  # ensure CCW
    clip_closed = clip if (clip[0] == clip[-1]).all() else np.vstack([clip, clip[:1]])
    output = [p for p in (subject[:-1] if (subject[0] == subject[-1]).all() else subject)]
    for i in range(len(clip_closed) - 1):
        if not output:
            return np.empty((0, 2))
        a, b = clip_closed[i], clip_closed[i + 1]
        edge = b - a
        input_pts = output
        output = []
        prev = input_pts[-1]
        prev_side = np.cross(edge, prev - a)
        for cur in input_pts:
            cur_side = np.cross(edge, cur - a)
            if cur_side >= 0:
                if prev_side < 0:
                    t = prev_side / (prev_side - cur_side)
                    output.append(prev + t * (cur - prev))
                output.append(cur)
            elif prev_side >= 0:
                t = prev_side / (prev_side - cur_side)
                output.append(prev + t * (cur - prev))
            prev, prev_side = cur, cur_side
    return np.array(output) if output else np.empty((0, 2))


def intersection_area_convex(subject_rings: list[np.ndarray], clip_ring: np.ndarray) -> float:
    """Area of subject ∩ clip where clip is convex (holes subtract)."""
    total = 0.0
    for i, ring in enumerate(subject_rings):
        clipped = clip_polygon_convex(ring, clip_ring)
        if len(clipped) >= 3:
            a = abs(ring_area(clipped))
            total += a if i == 0 else -a
    return max(total, 0.0)


def intersection_area(subject_rings: list[np.ndarray], clip_rings: list[np.ndarray]) -> float:
    """Area of subject ∩ clip for ARBITRARY simple clip polygons
    (reference ``gpd.overlay`` semantics, _core/operations/
    aggregate.py:428-432): a convex clip exterior goes straight to the
    Sutherland–Hodgman kernel; a concave one is ear-clipped into
    interior-disjoint triangles whose per-triangle convex-clip areas
    sum exactly.  Clip holes subtract the same way (a hole lies inside
    the exterior, so area(v ∩ clip) = area(v ∩ ext) − Σ area(v ∩ hole))."""

    def against(ring: np.ndarray) -> float:
        r = ring[:-1] if (ring[0] == ring[-1]).all() else ring
        if is_convex(r):
            return intersection_area_convex(subject_rings, r)
        return sum(
            intersection_area_convex(subject_rings, tri)
            for tri in ear_clip_triangulate(r)
        )

    total = against(clip_rings[0])
    for hole in clip_rings[1:]:
        total -= against(hole)
    return max(total, 0.0)


def is_convex(ring: np.ndarray) -> bool:
    r = ring[:-1] if (ring[0] == ring[-1]).all() else ring
    n = len(r)
    if n < 4:
        return True
    sign = 0
    for i in range(n):
        c = np.cross(r[(i + 1) % n] - r[i], r[(i + 2) % n] - r[(i + 1) % n])
        if c != 0:
            if sign == 0:
                sign = 1 if c > 0 else -1
            elif (c > 0) != (sign > 0):
                return False
    return True


def ear_clip_triangulate(ring: np.ndarray) -> list[np.ndarray]:
    """Triangulate a simple (non-self-intersecting) polygon ring by ear
    clipping — the textbook O(n^2) algorithm, fine for query rings.
    Returns interior-disjoint (3, 2) triangles covering the polygon.

    Ear validity is the classic rule: a convex vertex forms an ear iff
    no *reflex* vertex lies in the closed candidate triangle — the
    closed test matters when a reflex vertex sits exactly on the ear
    diagonal (an L-shaped ring), where an open test would accept a
    diagonal that crosses the boundary.  Raises on degenerate input
    rather than returning a partial cover.
    """
    pts = np.asarray(ring, dtype=float)
    if (pts[0] == pts[-1]).all():
        pts = pts[:-1]
    if ring_area(pts) < 0:
        pts = pts[::-1]
    idx = list(range(len(pts)))
    tris: list[np.ndarray] = []

    def cross(o, a, b):
        return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])

    def reflex_set(ids):
        n = len(ids)
        out = set()
        for k in range(n):
            a, b, c = pts[ids[(k - 1) % n]], pts[ids[k]], pts[ids[(k + 1) % n]]
            if cross(a, b, c) < 0:
                out.add(ids[k])
        return out

    while len(idx) > 3:
        reflex = reflex_set(idx)
        n = len(idx)
        for k in range(n):
            i0, i1, i2 = idx[(k - 1) % n], idx[k], idx[(k + 1) % n]
            a, b, c = pts[i0], pts[i1], pts[i2]
            if cross(a, b, c) <= 0:
                continue  # reflex or collinear vertex, not an ear tip
            blocked = any(
                j not in (i0, i1, i2)
                and cross(a, b, pts[j]) >= 0
                and cross(b, c, pts[j]) >= 0
                and cross(c, a, pts[j]) >= 0
                for j in reflex
            )
            if blocked:
                continue
            tris.append(np.array([a, b, c]))
            idx.pop(k)
            break
        else:
            raise ValueError("ear clipping failed: ring is degenerate or self-intersecting")
    tris.append(pts[idx])
    return tris
