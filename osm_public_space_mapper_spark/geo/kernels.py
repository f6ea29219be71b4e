"""Vectorized geometry kernels (pure numpy, from scratch).

These replace the reference's Shapely scalar library (SURVEY.md §2.4):
area      → shoelace                 (reference: analyse_access.py:247-248, 331)
intersects/contains → even-odd PIP + segment tests
            (reference: analyse_access.py:119,159,230,246; clean_data.py:250,367,382)

Geometry representation ("parts" encoding, SURVEY.md §1.3):
  point        parts = [[[x, y]]]
  linestring   parts = [path]                 path  = ndarray (K, 2)
  polygon      parts = [exterior, hole, ...]  rings = ndarray (K, 2), unclosed OK
  multipolygon parts = rings of all member polygons, ring orientation:
               exterior CCW-positive area, hole negative (signed shoelace)

Even-odd PIP over *all* rings of a (multi)polygon is containment-correct for
properly nested rings, so multipolygon-with-holes needs no ring grouping.
"""

from __future__ import annotations

import numpy as np

_CHUNK = 4_000_000  # max broadcast cells per PIP chunk


def ring_signed_area(ring: np.ndarray) -> float:
    """Signed shoelace area of one ring (K,2). CCW positive."""
    x, y = ring[:, 0], ring[:, 1]
    x2, y2 = np.roll(x, -1), np.roll(y, -1)
    return float(0.5 * np.sum(x * y2 - x2 * y))


def polygon_area(rings: list[np.ndarray]) -> float:
    """Area of polygon/multipolygon given rings with signed orientation.

    Rings need not be oriented: we sum |exterior| − |holes| only when
    orientation is meaningful; for un-oriented input use even-odd area via
    abs of the signed sum, which is correct for non-overlapping rings.
    """
    return abs(sum(ring_signed_area(r) for r in rings))


def _edges_of_rings(rings: list[np.ndarray]) -> tuple[np.ndarray, np.ndarray]:
    """Concatenate all ring edges → (P0, P1) arrays of shape (E, 2)."""
    p0s, p1s = [], []
    for r in rings:
        r = np.asarray(r, dtype=np.float64)
        if len(r) < 3:
            continue
        if not np.array_equal(r[0], r[-1]):
            r = np.vstack([r, r[:1]])
        p0s.append(r[:-1])
        p1s.append(r[1:])
    if not p0s:
        return np.zeros((0, 2)), np.zeros((0, 2))
    return np.concatenate(p0s), np.concatenate(p1s)


def points_in_polygon(px: np.ndarray, py: np.ndarray, rings: list[np.ndarray]) -> np.ndarray:
    """Even-odd (crossing-number) point-in-polygon, vectorized points × edges.

    Returns bool array (N,). Points exactly on a horizontal edge follow the
    half-open rule (consistent, deterministic across partitionings).
    """
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    p0, p1 = _edges_of_rings(rings)
    n, e = len(px), len(p0)
    if e == 0 or n == 0:
        return np.zeros(n, dtype=bool)
    # EXACT edge pruning against the query-point window: the +x crossing ray
    # of a point with qy ∈ [ymin, ymax] can only hit edges whose y-range
    # straddles that band and whose x-max lies right of the leftmost point.
    # Big polygons fan out to every covering cell with their FULL ring
    # (operators/joins.py explode), so per-cell PIP otherwise pays O(points ×
    # total-ring-edges) — this cuts it to the edges in the cell's y-band.
    ymin, ymax, xmin = py.min(), py.max(), px.min()
    eymin = np.minimum(p0[:, 1], p1[:, 1])
    eymax = np.maximum(p0[:, 1], p1[:, 1])
    keep = (eymin <= ymax) & (eymax > ymin) & (np.maximum(p0[:, 0], p1[:, 0]) > xmin)
    p0, p1 = p0[keep], p1[keep]
    e = len(p0)
    if e == 0:
        return np.zeros(n, dtype=bool)
    inside = np.zeros(n, dtype=bool)
    step = max(1, _CHUNK // max(e, 1))
    for s in range(0, n, step):
        qx = px[s : s + step, None]
        qy = py[s : s + step, None]
        y0, y1 = p0[None, :, 1], p1[None, :, 1]
        x0, x1 = p0[None, :, 0], p1[None, :, 0]
        cond = (y0 <= qy) != (y1 <= qy)  # edge straddles the horizontal ray
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = x0 + (qy - y0) * (x1 - x0) / (y1 - y0)
        crossings = np.sum(cond & (qx < xint), axis=1)
        inside[s : s + step] = (crossings % 2) == 1
    return inside


def segments_intersect(a0: np.ndarray, a1: np.ndarray, b0: np.ndarray, b1: np.ndarray) -> np.ndarray:
    """Pairwise-broadcastable proper/improper segment intersection test.

    a0,a1: (N,2); b0,b1: (M,2) → bool (N,M).
    """
    a0 = a0[:, None, :]
    a1 = a1[:, None, :]
    b0 = b0[None, :, :]
    b1 = b1[None, :, :]

    def cross(o, p, q):
        return (p[..., 0] - o[..., 0]) * (q[..., 1] - o[..., 1]) - (p[..., 1] - o[..., 1]) * (
            q[..., 0] - o[..., 0]
        )

    d1 = cross(b0, b1, a0)
    d2 = cross(b0, b1, a1)
    d3 = cross(a0, a1, b0)
    d4 = cross(a0, a1, b1)
    proper = ((d1 > 0) != (d2 > 0)) & ((d3 > 0) != (d4 > 0))

    def on_seg(o, p, q):  # q collinear with o-p and within bbox
        return (
            (np.minimum(o[..., 0], p[..., 0]) <= q[..., 0])
            & (q[..., 0] <= np.maximum(o[..., 0], p[..., 0]))
            & (np.minimum(o[..., 1], p[..., 1]) <= q[..., 1])
            & (q[..., 1] <= np.maximum(o[..., 1], p[..., 1]))
        )

    touch = (
        ((d1 == 0) & on_seg(b0, b1, a0))
        | ((d2 == 0) & on_seg(b0, b1, a1))
        | ((d3 == 0) & on_seg(a0, a1, b0))
        | ((d4 == 0) & on_seg(a0, a1, b1))
    )
    return proper | touch


def point_segment_dist(px: np.ndarray, py: np.ndarray, s0: np.ndarray, s1: np.ndarray) -> np.ndarray:
    """Distance from points (N,) to segments (M,2)-(M,2) → (N,M)."""
    p = np.stack([np.asarray(px, float), np.asarray(py, float)], axis=1)[:, None, :]
    d = (s1 - s0)[None, :, :]
    w = p - s0[None, :, :]
    seg_len2 = np.sum(d * d, axis=2)
    t = np.clip(np.divide(np.sum(w * d, axis=2), np.where(seg_len2 == 0, 1, seg_len2)), 0.0, 1.0)
    proj = s0[None, :, :] + t[..., None] * d
    return np.sqrt(np.sum((p - proj) ** 2, axis=2))


def geoms_intersect(parts_a: list[np.ndarray], kind_a: str, parts_b: list[np.ndarray], kind_b: str) -> bool:
    """Exact intersects test between two geometries in parts encoding.

    Handles the predicate uses in the reference (point/linestring/polygon
    combinations at analyse_access.py:119,159 and clean_data.py:250,367).
    Multi-kinds are first-class: multipoint = all its points, multilinestring
    = all its paths (reference ShapelyGeometry alias utils/geometry_element.py:8).
    """
    poly_kinds = ("polygon", "multipolygon")
    point_kinds = ("point", "multipoint")

    def verts(parts):
        return np.concatenate([np.asarray(p, float).reshape(-1, 2) for p in parts])

    def edges(parts, closed):
        if closed:
            return _edges_of_rings(parts)
        p0s, p1s = [], []
        for p in parts:
            p = np.asarray(p, float)
            if len(p) >= 2:
                p0s.append(p[:-1])
                p1s.append(p[1:])
        if not p0s:
            return np.zeros((0, 2)), np.zeros((0, 2))
        return np.concatenate(p0s), np.concatenate(p1s)

    va, vb = verts(parts_a), verts(parts_b)
    # vertex containment fast paths
    if kind_a in poly_kinds:
        if points_in_polygon(vb[:, 0], vb[:, 1], parts_a).any():
            return True
    if kind_b in poly_kinds:
        if points_in_polygon(va[:, 0], va[:, 1], parts_b).any():
            return True
    if kind_a in point_kinds and kind_b in point_kinds:
        return bool((np.abs(va[:, None, :] - vb[None, :, :]).sum(axis=2) == 0).any())
    ea0, ea1 = edges(parts_a, kind_a in poly_kinds)
    eb0, eb1 = edges(parts_b, kind_b in poly_kinds)
    if len(ea0) and len(eb0):
        return bool(segments_intersect(ea0, ea1, eb0, eb1).any())
    # point vs line: on-segment test
    if kind_a in point_kinds and len(eb0):
        return bool((point_segment_dist(va[:, 0], va[:, 1], eb0, eb1) < 1e-9).any())
    if kind_b in point_kinds and len(ea0):
        return bool((point_segment_dist(vb[:, 0], vb[:, 1], ea0, ea1) < 1e-9).any())
    return False


def simplify_ring(ring: np.ndarray, tol: float) -> np.ndarray:
    """Cyclic Douglas-Peucker: drop vertices whose removal moves the boundary
    by < tol. Raster staircases from curved (disc-close) boundaries survive
    vectorize_mask's exact collinear collapse but carry no information beyond
    the pixel lattice — at tol < px/2 this collapses them to sparse chains
    (measured ~2-4× fewer layer vertices) without moving the boundary more
    than sub-pixel. Areas are NOT computed from rings (mask_area is the
    source of truth), so simplification only affects payload size and
    downstream vector-kernel cost."""
    ring = np.asarray(ring, dtype=np.float64)
    n = len(ring)
    if n <= 4 or tol <= 0:
        return ring
    # anchors: vertex 0 and the farthest vertex from it (cycle split)
    k = int(((ring - ring[0]) ** 2).sum(axis=1).argmax())
    if k == 0:
        return ring
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[k] = True
    # iterative DP over (lo, hi) RANGES of one wrapped index sequence —
    # no per-segment index-array materialization (r04: the stack previously
    # copied an index slice per split, dominating cost on multi-thousand-
    # vertex staircase rings)
    wrapped = np.concatenate([np.arange(n), [0]])  # 0..n-1,0 (cycle closed)
    pts = ring[wrapped]
    px_, py_ = pts[:, 0], pts[:, 1]
    stack = [(0, k), (k, n)]
    while stack:
        lo, hi = stack.pop()
        if hi - lo <= 1:
            continue
        ax, ay = px_[lo], py_[lo]
        bx, by = px_[hi], py_[hi]
        mx = px_[lo + 1 : hi]
        my = py_[lo + 1 : hi]
        abx, aby = bx - ax, by - ay
        L = np.hypot(abx, aby)
        if L < 1e-12:
            d = np.hypot(mx - ax, my - ay)
        else:
            d = np.abs((mx - ax) * aby - (my - ay) * abx) / L
        j = int(d.argmax())
        if d[j] > tol:
            split = lo + 1 + j
            keep[wrapped[split]] = True
            stack.append((lo, split))
            stack.append((split, hi))
    out = ring[keep]
    return out if len(out) >= 3 else ring
