"""Hierarchical 64-bit cell index over the EPSG:3035 (LAEA) plane.

Plays the role of H3 in the north rule. True icosahedral H3 is not required by
any reference semantic (the reference has no spatial index at all — its only
"index" is a prepared-geometry cache, analyse_access.py:156); what the engine
needs is an equal-area, hierarchical, integer-keyed bucket space usable as a
Spark partition/join key. A square grid on an equal-area projection gives
exactly that, from scratch:

  side(res) = 2^(18 − res) metres
  res 7  → 2048 m  (4.19 km² — the "H3 resolution-7 bucket" equivalent,
                    H3 res-7 hexes average 5.16 km²)
  res 14 → 16 m    (fine join-bucket resolution)

Cell id layout (int64): [res:6 bits][ix:29 bits][iy:29 bits] — sortable,
parent = child with ix,iy right-shifted. All functions numpy-vectorized and
called from Arrow pandas UDFs (no per-row Python in the Spark plan).
"""

from __future__ import annotations

import numpy as np

RES_COARSE = 7   # partition-pruning bucket (≈ H3 res 7)
RES_FINE = 14    # join bucket (16 m)

_IX_BITS = 29
_IX_MASK = (1 << _IX_BITS) - 1


def cell_side(res: int) -> float:
    """Cell edge length in metres at resolution `res`."""
    return float(2 ** (18 - res))


def pack_cells(res, ix, iy) -> np.ndarray:
    """Resolution and int64 grid indices (scalars or broadcastable arrays)
    → int64 cell ids in the [res:6][ix:29][iy:29] layout."""
    return (np.asarray(res, np.int64) << 58) | ((ix & _IX_MASK) << _IX_BITS) | (iy & _IX_MASK)


def encode_cells(x: np.ndarray, y: np.ndarray, res: int) -> np.ndarray:
    """(x, y) LAEA metres → int64 cell ids at `res`."""
    side = cell_side(res)
    ix = np.floor(np.asarray(x, np.float64) / side).astype(np.int64)
    iy = np.floor(np.asarray(y, np.float64) / side).astype(np.int64)
    return pack_cells(res, ix, iy)


def decode_cells(cells: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """int64 cell ids → (res, ix, iy)."""
    cells = np.asarray(cells, np.int64)
    res = (cells >> 58) & 0x3F
    ix = (cells >> _IX_BITS) & _IX_MASK
    iy = cells & _IX_MASK
    return res, ix, iy


def cell_bbox(cells: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Cell ids → (xmin, ymin, xmax, ymax) in LAEA metres."""
    res, ix, iy = decode_cells(cells)
    side = np.float64(2.0) ** (18 - res)
    xmin = ix * side
    ymin = iy * side
    return xmin, ymin, xmin + side, ymin + side


def neighbors(cells: np.ndarray, ring: int = 1) -> np.ndarray:
    """All cells within `ring` king-moves of each input cell (incl. self).

    Returns shape (N, (2·ring+1)²)."""
    res, ix, iy = decode_cells(np.asarray(cells, np.int64))
    offs = np.arange(-ring, ring + 1, dtype=np.int64)
    dx, dy = np.meshgrid(offs, offs, indexing="ij")
    return pack_cells(res[:, None], ix[:, None] + dx.ravel(), iy[:, None] + dy.ravel())


def cover_bbox(xmin: float, ymin: float, xmax: float, ymax: float, res: int, halo: int = 0) -> np.ndarray:
    """All cell ids at `res` overlapping the bbox (optionally + halo cells).

    Used to explode polygons onto their covering join cells (SURVEY.md §2.5):
    cross-cell geometry is handled by the halo so per-cell kernels see every
    geometry that can touch the cell."""
    side = cell_side(res)
    ix0 = int(np.floor(xmin / side)) - halo
    ix1 = int(np.floor(xmax / side)) + halo
    iy0 = int(np.floor(ymin / side)) - halo
    iy1 = int(np.floor(ymax / side)) + halo
    ixs = np.arange(ix0, ix1 + 1, dtype=np.int64)
    iys = np.arange(iy0, iy1 + 1, dtype=np.int64)
    gx, gy = np.meshgrid(ixs, iys, indexing="ij")
    return pack_cells(res, gx.ravel(), gy.ravel())


def parent_cells(cells: np.ndarray, parent_res: int) -> np.ndarray:
    """Cell ids → ancestor ids at coarser `parent_res`."""
    res, ix, iy = decode_cells(np.asarray(cells, np.int64))
    shift = (res - parent_res).astype(np.int64)
    return pack_cells(parent_res, ix >> shift, iy >> shift)
