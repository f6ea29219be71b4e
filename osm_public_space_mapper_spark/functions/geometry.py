"""Geometry column functions: pure Catalyst expressions where the maths
allows it, Arrow-vectorized pandas UDFs where it needs numpy.

laea_expr / st_project: EPSG:4326 → EPSG:3035 per point / per vertex in
  Catalyst (reference clean_data.py:117-126 via pyproj)
bbox_expr: per-row bbox struct, Catalyst array_min/array_max over the
  flattened points — sargable prefilter for bbox crop / cell cover
  (reference clean_data.py:366-370)
cell_expr / cover_expr: Catalyst cell-index encode of a point / of every
  cell a bbox covers, for join bucketing (same ids as cells.grid).
st_buffer_udf: per-geometry buffer, a pandas UDF over the geo/offset band
  kernel (reference utils/helpers.py:6-22).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..cells.grid import cell_side
from ..geo import laea as L

GEOM_TYPE = T.ArrayType(T.ArrayType(T.ArrayType(T.DoubleType())))


def laea_expr(lon: Column, lat: Column) -> Column:
    """(lon, lat) EPSG:4326 degrees → struct(x, y) EPSG:3035 metres, in
    Catalyst: geo/laea.laea_forward term for term, its constants folded in
    as literals. JVM Math and numpy may differ in the last ulp, so the two
    agree to ~1e-9 m, not bit for bit."""
    sin_phi = F.sin(F.radians(lat))
    esin = F.lit(L._E) * sin_phi
    q = F.lit(1.0 - L._E2) * (
        sin_phi / (1.0 - F.lit(L._E2) * sin_phi * sin_phi)
        - F.lit(1.0 / (2.0 * L._E)) * F.log((1.0 - esin) / (1.0 + esin))
    )
    beta = F.asin(F.greatest(F.lit(-1.0), F.least(F.lit(1.0), q / F.lit(L._QP))))
    dlon = F.radians(lon) - F.lit(L._LON0)
    cos_b, sin_b, cos_l = F.cos(beta), F.sin(beta), F.cos(dlon)
    b = F.lit(L._RQ) * F.sqrt(2.0 / (1.0 + F.lit(L._SIN_B1) * sin_b + F.lit(L._COS_B1) * cos_b * cos_l))
    return F.struct(
        (b * F.lit(L._D) * cos_b * F.sin(dlon) + F.lit(L._FE)).alias("x"),
        (b / F.lit(L._D) * (F.lit(L._COS_B1) * sin_b - F.lit(L._SIN_B1) * cos_b * cos_l) + F.lit(L._FN)).alias("y"),
    )


def st_project(geom: Column) -> Column:
    """Project every vertex of a geometry with `laea_expr`. A NULL geom
    stays NULL and an empty parts array stays empty."""

    def _vertex(p):
        xy = laea_expr(p[0], p[1])
        return F.array(xy["x"], xy["y"])

    return F.transform(geom, lambda part: F.transform(part, _vertex))


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
