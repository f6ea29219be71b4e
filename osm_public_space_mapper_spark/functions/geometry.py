"""Geometry column functions: Arrow-vectorized pandas UDFs where the maths
needs numpy, pure Catalyst expressions where it does not.

st_project: EPSG:4326 → EPSG:3035
  (reference clean_data.py:117-126 via pyproj)
bbox_expr: per-row bbox struct, Catalyst array_min/array_max over the
  flattened points — sargable prefilter for bbox crop / cell cover
  (reference clean_data.py:366-370)
st_area: shoelace area (reference significance thresholds,
  analyse_access.py:247-248,331)
cell_expr / cover_expr: Catalyst cell-index encode of a point / of every
  cell a bbox covers, for join bucketing (same ids as cells.grid).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..cells.grid import cell_side
from ..geo.arrowgeom import flat_to_list, series_to_flat
from ..geo.laea import laea_forward

GEOM_TYPE = T.ArrayType(T.ArrayType(T.ArrayType(T.DoubleType())))


@pandas_udf(GEOM_TYPE)
def st_project(geom: pd.Series) -> pd.Series:
    coords, po, qo = series_to_flat(geom)
    if coords.shape[0]:
        x, y = laea_forward(coords[:, 0], coords[:, 1])
        coords = np.stack([x, y], axis=1)
    out = flat_to_list(coords, po, qo)
    res = pd.Series(out, index=geom.index)
    res[geom.isna()] = None
    return res


def bbox_expr(geom: Column) -> Column:
    """geom → struct(xmin, ymin, xmax, ymax), in Catalyst: array_min /
    array_max over the flattened point list. The fields are NULL for a NULL
    or empty-parts geometry, so its `cover_expr` is NULL too and explodes to
    zero rows."""
    pts = F.flatten(geom)
    xs = F.transform(pts, lambda p: p[0])
    ys = F.transform(pts, lambda p: p[1])
    return F.struct(
        F.array_min(xs).alias("xmin"),
        F.array_min(ys).alias("ymin"),
        F.array_max(xs).alias("xmax"),
        F.array_max(ys).alias("ymax"),
    )


@pandas_udf(T.DoubleType())
def st_area(geom: pd.Series) -> pd.Series:
    """Even-odd shoelace area per row (abs of signed ring sum)."""
    coords, po, qo = series_to_flat(geom)
    n = len(geom)
    out = np.zeros(n)
    if coords.shape[0]:
        # signed area per part via vectorized shoelace with reduceat
        x, y = coords[:, 0], coords[:, 1]
        x2 = np.empty_like(x)
        y2 = np.empty_like(y)
        # next-vertex within each part (wrap at part boundaries)
        for i in range(len(qo) - 1):  # parts loop (parts are few per geom)
            s, e = qo[i], qo[i + 1]
            if e - s >= 3:
                x2[s:e] = np.roll(x[s:e], -1)
                y2[s:e] = np.roll(y[s:e], -1)
            else:
                x2[s:e] = x[s:e]
                y2[s:e] = y[s:e]
        cross = x * y2 - x2 * y
        part_starts = qo[:-1]
        nonempty_parts = np.diff(qo) > 0
        part_area = np.zeros(len(part_starts))
        if nonempty_parts.any():
            part_area[nonempty_parts] = (
                np.add.reduceat(cross, part_starts[nonempty_parts]) * 0.5
            )
        part_area = np.where(np.diff(qo) >= 3, part_area, 0.0)
        if len(part_area):
            idx = np.minimum(po[:-1], len(part_area) - 1)
            row_sum = np.add.reduceat(part_area, idx)
            row_sum = np.where(np.diff(po) > 0, row_sum, 0.0)
            out = np.abs(row_sum[:n])
    return pd.Series(out, index=geom.index)


_IX_MASK = (1 << 29) - 1


def _cell_id(res: int, ix: Column, iy: Column) -> Column:
    """int64 cell id from long grid indices: the [res:6][ix:29][iy:29]
    two's-complement layout of cells.grid.encode_cells."""
    return (
        F.lit(res << 58)
        .cast("long")
        .bitwiseOR(F.shiftleft(ix.bitwiseAND(F.lit(_IX_MASK)), 29))
        .bitwiseOR(iy.bitwiseAND(F.lit(_IX_MASK)))
    )


def _grid_index(v: Column, res: int) -> Column:
    return F.floor(v / F.lit(cell_side(res))).cast("long")


def cell_expr(res: int):
    """(x, y) LAEA metres → int64 cell id with NO Python boundary. Same
    arithmetic as cells.grid.encode_cells — FLOOR(double/double) is
    IEEE-identical in numpy and whole-stage codegen, and the mask/shift
    layout is the same two's-complement int64 math — so the ids are
    bit-identical (asserted in tests/test_image_joins.py)."""

    def _cell(x, y):
        return _cell_id(res, _grid_index(x, res), _grid_index(y, res))

    return _cell


def cover_expr(res: int, halo: int = 0):
    """bbox bounds → array<long> of every cell id at `res` the bbox touches,
    plus `halo` rings, in Catalyst (explode target).

    Same ids and order as cells.grid.cover_bbox: ix in the outer loop, iy in
    the inner one, like the numpy meshgrid 'ij' ravel. Used to fan polygons
    out onto join cells; halo=1 adds the seam ring so per-cell kernels see
    cross-boundary geometry (SURVEY.md §4.2.1). NULL bounds (see
    `bbox_expr`) give a NULL array."""

    def _cover(xmin, ymin, xmax, ymax):
        ixs = F.sequence(_grid_index(xmin, res) - halo, _grid_index(xmax, res) + halo)
        iys = F.sequence(_grid_index(ymin, res) - halo, _grid_index(ymax, res) + halo)
        return F.flatten(F.transform(ixs, lambda ix: F.transform(iys, lambda iy: _cell_id(res, ix, iy))))

    return _cover


def st_buffer_udf(dist: float, cap_style: str = "round", join_style: str = "round",
                  px: float | None = None):
    """geom (+ geom_kind) → buffered polygon geometry, the column-level
    buffer op (reference utils/helpers.py:6-22 buffer_list_of_elements and
    every e.geom.buffer(...) site; SURVEY §2.4/§2.8 st_buffer).

    Built on the geo/offset.py vector band kernel: line buffers are the
    union of edge rectangles + joint wedges + caps; polygon buffers are the
    filled mask ∪/∖ the boundary band (negative dist erodes). The convex
    pieces are composited on an adaptive local raster (px defaults to
    max(extent/1024, |dist|/8)) and vectorized back to rings — the engine's
    raster↔vector bridge, bounded per geometry, no shared state.

    Batch behavior (r04): raster dims are quantized up to multiples of 64 so
    scratch mask buffers repeat across the rows of an Arrow batch and are
    reused (zeroed in place) instead of allocated per geometry, and output
    rings pass through geo/kernels.simplify_ring at sub-pixel tolerance —
    safe here because each buffered geometry is standalone (unlike layer
    rings, whose shared boundary chains must never be simplified
    independently), and it collapses the raster staircase to sparse chains
    (~2-4× fewer vertices in the shipped payload).
    """
    from ..geo.kernels import simplify_ring
    from ..geo.offset import boundary_band_pieces, buffer_line_pieces, pieces_mask
    from ..geo.raster import Grid, rasterize_polygon, vectorize_mask

    half = abs(float(dist))

    @pandas_udf(GEOM_TYPE)
    def _buf(geom: pd.Series, kind: pd.Series) -> pd.Series:
        scratch: dict = {}

        def get_buf(h: int, w: int, slot: int) -> np.ndarray:
            key = (h, w, slot)
            b = scratch.get(key)
            if b is None:
                b = np.zeros((h, w), dtype=bool)
                scratch[key] = b
            else:
                b[:] = False
            return b

        out = []
        for parts, k in zip(geom, kind):
            part_list = [] if parts is None else list(parts)
            rings = [
                np.stack([np.asarray(q, dtype=np.float64) for q in p])
                for p in part_list
                if len(p) >= 2
            ]
            if not rings or half == 0.0:
                out.append([[list(map(float, q)) for q in p] for p in part_list])
                continue
            allc = np.concatenate(rings)
            xmin, ymin = allc.min(axis=0) - 2 * half - 1
            xmax, ymax = allc.max(axis=0) + 2 * half + 1
            res = px if px is not None else max((max(xmax - xmin, ymax - ymin)) / 1024.0, half / 8.0)
            w64 = -(-max(1, int(np.ceil((xmax - xmin) / res))) // 64) * 64
            h64 = -(-max(1, int(np.ceil((ymax - ymin) / res))) // 64) * 64
            grid = Grid(xmin, ymin, res, w64, h64)
            is_line = k in ("linestring", "multilinestring")
            if is_line:
                pieces = []
                for r in rings:
                    pieces.extend(buffer_line_pieces(r, half, cap_style, join_style))
                mask = pieces_mask(grid, pieces, out=get_buf(grid.h, grid.w, 0))
            else:
                mask = rasterize_polygon(grid, rings, out=get_buf(grid.h, grid.w, 0))
                pieces = []
                for r in rings:
                    pieces.extend(boundary_band_pieces(r, half, join_style))
                band = pieces_mask(grid, pieces, out=get_buf(grid.h, grid.w, 1))
                if dist > 0:
                    np.logical_or(mask, band, out=mask)
                else:
                    np.logical_and(mask, ~band, out=mask)
            polys = vectorize_mask(grid, mask)
            tol = 0.45 * res
            out.append(
                [simplify_ring(ring, tol).tolist() for poly in polys for ring in poly]
            )
        return pd.Series(out, index=geom.index)

    return _buf


def st_clip_convex_udf(window_ring: "list[list[float]]"):
    """geom (+ geom_kind) → geometry clipped to a CONVEX window ring at
    VECTOR precision (Sutherland–Hodgman for rings, Liang–Barsky for
    polylines — geo/kernels.clip_ring_convex/clip_path_convex). The exact
    payload-path counterpart of the overlay kernel's raster J10 crop
    (reference crop_defined_space_to_bounding_box, clean_data.py:365-398):
    output vertices are input vertices and true edge-intersection points,
    no raster lattice. Polygon parts are clipped per ring (intersection
    with a convex set distributes over exterior∖holes); empty parts drop;
    a fully-clipped geometry becomes an empty parts array."""
    from ..geo.kernels import clip_path_convex, clip_ring_convex

    win = np.asarray(window_ring, dtype=np.float64)

    @pandas_udf(GEOM_TYPE)
    def _clip(geom: pd.Series, kind: pd.Series) -> pd.Series:
        out = []
        for parts, k in zip(geom, kind):
            part_list = [] if parts is None else list(parts)
            res = []
            is_line = k in ("linestring", "multilinestring")
            for p in part_list:
                arr = np.asarray([np.asarray(q, dtype=np.float64) for q in p])
                if len(arr) < 2:
                    continue
                if is_line:
                    res.extend(sub.tolist() for sub in clip_path_convex(arr, win))
                else:
                    c = clip_ring_convex(arr, win)
                    if len(c):
                        res.append(c.tolist())
            out.append(res)
        return pd.Series(out, index=geom.index)

    return _clip
