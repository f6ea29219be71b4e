"""Raster-space geometry backend (pure numpy, from scratch).

The reference does all polygon boolean ops (union / difference / intersection,
12 unary_union sites, 9-pass overlay cascade) and morphological smoothing
(buffer(+d).buffer(−d)) with Shapely (SURVEY.md §2.4, §2.5 J3-J11). This
engine computes them on per-cell raster masks at a fixed resolution and
vectorizes the result back to polygons — exactly the raster↔vector tiling
operator the north rule asks for, and robust by construction.

Reference behaviours mapped here:
  smoothing buffer(+r).buffer(−r) → binary close with a disc kernel
    (analyse_traffic_area.py:192-199,278-282,285)
  union / difference / intersection → mask |, &~, &
    (clean_data.py:248,251,306-361; analyse_access.py:188,228,286,323)
  interior-ring (enclosed area) detection → hole rings from vectorize_mask
    (analyse_access.py:176-198)

Buffers with cap/join styles (analyse_traffic_area.py:167,208,228-230;
helpers.py:6-22) are not here: geo/offset.py turns every buffered line and
ring into convex pieces and rasterizes them (`pieces_mask`).

All functions operate on boolean masks of shape (H, W); pixel (r, c) covers
world rect [ox + c·px, ox + (c+1)·px) × [oy + r·px, oy + (r+1)·px).
"""

from __future__ import annotations

import numpy as np

from .kernels import ring_signed_area, points_in_polygon


class Grid:
    """World↔pixel mapping for one raster tile."""

    def __init__(self, ox: float, oy: float, px: float, width: int, height: int):
        self.ox, self.oy, self.px = float(ox), float(oy), float(px)
        self.w, self.h = int(width), int(height)

    @classmethod
    def from_bbox(cls, xmin: float, ymin: float, xmax: float, ymax: float, px: float) -> "Grid":
        w = max(1, int(np.ceil((xmax - xmin) / px)))
        h = max(1, int(np.ceil((ymax - ymin) / px)))
        return cls(xmin, ymin, px, w, h)

    def empty(self) -> np.ndarray:
        return np.zeros((self.h, self.w), dtype=bool)

    def world_to_pix(self, x: np.ndarray, y: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        return (np.asarray(x) - self.ox) / self.px, (np.asarray(y) - self.oy) / self.px

    def pix_to_world(self, cx: np.ndarray, cy: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        return self.ox + np.asarray(cx) * self.px, self.oy + np.asarray(cy) * self.px


def rasterize_polygon(grid: Grid, rings: list[np.ndarray], out: np.ndarray | None = None) -> np.ndarray:
    """Even-odd scanline fill of a (multi)polygon → bool mask.

    O(H·E) intersection work + span fills; no per-pixel PIP.
    `out`: optional pre-zeroed (grid.h, grid.w) bool scratch buffer to fill
    instead of allocating (batch callers reuse buffers across rows).
    """
    mask = grid.empty() if out is None else out
    p0s, p1s = [], []
    for r in rings:
        r = np.asarray(r, dtype=np.float64)
        if len(r) < 3:
            continue
        if not np.array_equal(r[0], r[-1]):
            r = np.vstack([r, r[:1]])
        gx, gy = grid.world_to_pix(r[:, 0], r[:, 1])
        pts = np.stack([gx, gy], axis=1)
        p0s.append(pts[:-1])
        p1s.append(pts[1:])
    if not p0s:
        return mask
    p0 = np.concatenate(p0s)
    p1 = np.concatenate(p1s)
    y0, y1 = p0[:, 1], p1[:, 1]
    x0, x1 = p0[:, 0], p1[:, 0]
    for row in range(grid.h):
        yc = row + 0.5
        cond = (y0 <= yc) != (y1 <= yc)
        if not cond.any():
            continue
        with np.errstate(divide="ignore", invalid="ignore"):
            xi = x0[cond] + (yc - y0[cond]) * (x1[cond] - x0[cond]) / (y1[cond] - y0[cond])
        xi = np.sort(xi)
        for i in range(0, len(xi) - 1, 2):
            lo = max(0, int(np.ceil(xi[i] - 0.5)))
            hi = min(grid.w - 1, int(np.floor(xi[i + 1] - 0.5)))
            if hi >= lo:
                mask[row, lo : hi + 1] = True
    return mask


def _dilate_1d(mask: np.ndarray, r: int, axis: int) -> np.ndarray:
    """Binary dilation by a length-(2r+1) segment along `axis` (vectorized
    sliding-window OR)."""
    if r <= 0:
        return mask
    pad = [(0, 0), (0, 0)]
    pad[axis] = (r, r)
    big = np.pad(mask, pad)
    win = np.lib.stride_tricks.sliding_window_view(big, 2 * r + 1, axis=axis)
    return win.any(axis=-1)


def dilate(mask: np.ndarray, radius_px: float) -> np.ndarray:
    """Binary dilation by the disc dx² + dy² ≤ radius_px²: the union over
    |dy| ≤ radius of row-shifted horizontal segments of half-width
    floor(sqrt(radius² − dy²))."""
    if radius_px <= 0 or not mask.any():
        return mask.copy()
    r = int(np.floor(radius_px))
    out = _dilate_1d(mask, r, 1).copy()  # dy = 0
    h = mask.shape[0]
    for dy in range(1, r + 1):
        rx = np.sqrt(radius_px * radius_px - dy * dy)
        row = _dilate_1d(mask, int(np.floor(rx)), 1)
        out[dy:] |= row[: h - dy]
        out[: h - dy] |= row[dy:]
    return out


def erode(mask: np.ndarray, radius_px: float) -> np.ndarray:
    if radius_px <= 0:
        return mask.copy()
    return ~dilate(~mask, radius_px)


def close(mask: np.ndarray, r: float) -> np.ndarray:
    """Morphological close with a disc (buffer +r, −r) — the smoothing
    pattern at analyse_traffic_area.py:278-282.

    Pads by the radius first so dilation is not clipped at the tile border
    (otherwise the following erosion eats real area at the edges)."""
    pad = int(np.ceil(max(r, 0))) + 2
    return erode(dilate(np.pad(mask, pad), r), r)[pad:-pad, pad:-pad]


def mask_area(mask: np.ndarray, px: float) -> float:
    return float(mask.sum()) * px * px


def vectorize_mask(grid: Grid, mask: np.ndarray) -> list[list[np.ndarray]]:
    """Binary mask → polygons (marching pixel-edge boundary tracing).

    Returns a list of polygons; each polygon is [exterior, hole, ...] rings in
    world coordinates. Interior-on-left orientation; holes detected by signed
    area and assigned to the smallest containing exterior. Deterministic.
    """
    if not mask.any():
        return []
    h, w = mask.shape
    pad = np.zeros((h + 2, w + 2), dtype=bool)
    pad[1:-1, 1:-1] = mask
    # directed boundary edges keyed by start vertex (vertices in padded pixel coords)
    # for each true pixel with false neighbour, emit edge with interior on left
    t = pad
    up_open = t & ~np.roll(t, 1, axis=0)     # false above → edge (x,y)→(x+1,y)
    right_open = t & ~np.roll(t, -1, axis=1)  # false right → (x+1,y)→(x+1,y+1)
    down_open = t & ~np.roll(t, -1, axis=0)   # false below → (x+1,y+1)→(x,y+1)
    left_open = t & ~np.roll(t, 1, axis=1)    # false left  → (x,y+1)→(x,y)

    edges: dict[tuple[int, int], list[tuple[int, int]]] = {}

    def add(frm, to):
        edges.setdefault(frm, []).append(to)

    for (opens, mk) in (
        (up_open, lambda r, c: ((c, r), (c + 1, r))),
        (right_open, lambda r, c: ((c + 1, r), (c + 1, r + 1))),
        (down_open, lambda r, c: ((c + 1, r + 1), (c, r + 1))),
        (left_open, lambda r, c: ((c, r + 1), (c, r))),
    ):
        rs, cs = np.nonzero(opens)
        for r, c in zip(rs.tolist(), cs.tolist()):
            frm, to = mk(r, c)
            add(frm, to)

    rings_px: list[np.ndarray] = []
    # deterministic start order
    starts = sorted(edges.keys())
    used: set[tuple[tuple[int, int], tuple[int, int]]] = set()
    for start in starts:
        for first in list(edges.get(start, ())):
            if (start, first) in used:
                continue
            ring = [start]
            cur, prev = first, start
            used.add((start, first))
            while cur != start:
                ring.append(cur)
                outs = edges[cur]
                if len(outs) == 1:
                    nxt = outs[0]
                else:
                    # saddle: prefer left turn relative to incoming direction
                    dx, dy = cur[0] - prev[0], cur[1] - prev[1]
                    # left turn in (x, y-down) = clockwise rotation (dy, -dx)... pick by cross product
                    def turn(o):
                        ox_, oy_ = o[0] - cur[0], o[1] - cur[1]
                        return dx * oy_ - dy * ox_  # >0 = right in y-down; prefer min
                    cand = [o for o in outs if (cur, o) not in used]
                    if not cand:
                        cand = outs
                    nxt = min(cand, key=lambda o: (turn(o), o))
                used.add((cur, nxt))
                prev, cur = cur, nxt
            rings_px.append(np.asarray(ring, dtype=np.float64))

    # unpad, drop collinear vertices (exact: staircase runs along one axis
    # collapse to segment endpoints — same polygon, far fewer points), scale
    out_rings = []
    for r in rings_px:
        r = r - 1.0  # remove pad offset
        if len(r) > 3:
            prev = np.roll(r, 1, axis=0)
            nxt = np.roll(r, -1, axis=0)
            cross = (r[:, 0] - prev[:, 0]) * (nxt[:, 1] - prev[:, 1]) - (
                r[:, 1] - prev[:, 1]
            ) * (nxt[:, 0] - prev[:, 0])
            keep = cross != 0
            if keep.sum() >= 3:
                r = r[keep]
        wx, wy = grid.pix_to_world(r[:, 0], r[:, 1])
        ring_w = np.stack([wx, wy], axis=1)
        out_rings.append(ring_w)

    # group holes into containing exteriors. In (x, y-down) pixel frame our
    # exteriors have one sign; compute signed area and split.
    signed = [ring_signed_area(r) for r in out_rings]
    ext_idx = [i for i, s in enumerate(signed) if s > 0]  # exteriors trace CCW (positive)
    hole_idx = [i for i, s in enumerate(signed) if s <= 0]
    polys: list[list[np.ndarray]] = [[out_rings[i]] for i in sorted(ext_idx)]
    order = sorted(range(len(polys)), key=lambda k: abs(ring_signed_area(polys[k][0])))
    for hi in hole_idx:
        v = out_rings[hi][0]
        placed = False
        for k in order:  # smallest containing exterior first
            if points_in_polygon(np.array([v[0]]), np.array([v[1]]), [polys[k][0]])[0]:
                polys[k].append(out_rings[hi])
                placed = True
                break
        if not placed:  # boundary-degenerate: attach to largest
            if polys:
                polys[order[-1] if order else 0].append(out_rings[hi])
    return polys
