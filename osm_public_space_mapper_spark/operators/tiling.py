"""Raster↔vector tiling (north rule): per-cell class masks cut from the
overlay kernel's own rasters, with a round-trip check back to the vector
layer.

This module owns the packed class-mask row that every layer row, tile and
sliced tile carries: the six `MASK_FIELDS`

  mask     the (mask_h, mask_w) bool mask, `pack`ed: row-major, MSB first
           (np.packbits), the last byte zero-padded;
  mask_w, mask_h  its width and height in pixels;
  ox, oy   the world origin of pixel (0, 0) on the global px lattice;
  px       the pixel side (m);

written with `pack` and read back with `unpack` (numpy) or, per point, with
`streaming/geofence.mask_word_bit` (Catalyst). Pixel (r, c) covers
[ox + c·px, ox + (c+1)·px) × [oy + r·px, oy + (r+1)·px).

Each tile row is one (tile cell, space_category, access) mask. The overlay
kernel rasterizes every class once on the global px lattice and vectorizes
the layer's rings from those same masks; each layer row keeps its mask
(`overlay_core.LAYER_SCHEMA`), and the tiles are slices of it
(`subdivide_tiles`). So a point lookup in a tile mask equals the vector PIP
answer, and re-rasterizing the layer's rings onto a tile (`mask_vector_iou`,
the test oracle) gives the tile back exactly (IoU 1.0) whenever px divides
the overlay cell side.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..geo.arrowgeom import np_parts
from ..geo.raster import Grid, rasterize_polygon

TILE_RES_DEFAULT = 10  # 256 m tiles

MASK_FIELDS = (
    T.StructField("mask", T.BinaryType()),
    T.StructField("mask_w", T.IntegerType()),
    T.StructField("mask_h", T.IntegerType()),
    T.StructField("ox", T.DoubleType()),
    T.StructField("oy", T.DoubleType()),
    T.StructField("px", T.DoubleType()),
)
# a mask row: one class of one cell (the slicer's and the mask join's input)
MASK_COLS = ("tile_cell", "space_category", "access", *(f.name for f in MASK_FIELDS))
TILE_SCHEMA = T.StructType(
    [
        T.StructField("tile_cell", T.LongType()),
        T.StructField("space_category", T.StringType()),
        T.StructField("access", T.StringType()),
        *MASK_FIELDS,
        T.StructField("mask_hash", T.StringType()),
        T.StructField("area", T.DoubleType()),
    ]
)


def pack(mask: np.ndarray) -> bytes:
    """(h, w) 0/1 mask → the row's ``mask`` bytes."""
    return np.packbits(mask, axis=None).tobytes()


def unpack(row) -> np.ndarray:
    """Mask row (``mask``, ``mask_w``, ``mask_h``) → (mask_h, mask_w) bool mask."""
    h, w = int(row.mask_h), int(row.mask_w)
    return np.unpackbits(np.frombuffer(row.mask, dtype=np.uint8), count=w * h).reshape(h, w).view(bool)


def subdivide_tiles(tiles: DataFrame, group_res: int) -> DataFrame:
    """Cut each cell's class mask into its descendants' masks at `group_res`.

    The one slicer from a mask row (`MASK_COLS`, ``tile_cell`` the row's
    cell) to tile rows (`TILE_SCHEMA`): it cuts the layer's kernel masks into
    tiles (`rasterize_tiles`) and the tiles into the raster PIP join's
    groups. That join's parallelism is bounded by its group count, so
    slicing res-10 tiles to res 13 multiplies it by 4^3 at constant payload.

    A child cell [cx0, cx1) × [cy0, cy1) takes the pixel window
    floor((cx0 − ox)/px) … ceil((cx1 − ox)/px), the same in y, relative to
    the row's own origin. The window is zero-padded where it runs past the
    source mask (a kernel mask is cropped to the analysis bbox), and when
    `px` does not divide the child side it also holds the pixels that
    straddle the child's edges (they appear in both neighbours). Empty
    slices are dropped; each slice carries its ``mask_hash`` (sha1 of the
    packed bytes) and ``area`` (m²)."""

    def _slice(batches):
        import hashlib

        from ..cells.grid import cell_side, decode_cells, pack_cells
        from ..geo.raster import mask_area

        side = cell_side(group_res)
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                w, h, px = int(row.mask_w), int(row.mask_h), float(row.px)
                mask = unpack(row)
                res, ix, iy = decode_cells(np.array([row.tile_cell], dtype=np.int64))
                shift = group_res - int(res[0])
                k = np.arange(1 << shift, dtype=np.int64)
                gx, gy = (ix[0] << shift) | k, (iy[0] << shift) | k
                x0s = np.floor((gx * side - row.ox) / px).astype(int)
                x1s = np.ceil(((gx + 1) * side - row.ox) / px).astype(int)
                y0s = np.floor((gy * side - row.oy) / px).astype(int)
                y1s = np.ceil(((gy + 1) * side - row.oy) / px).astype(int)
                for cx, x0, x1 in zip(gx, x0s, x1s):
                    for cy, y0, y1 in zip(gy, y0s, y1s):
                        ya, ye, xa, xe = max(y0, 0), min(y1, h), max(x0, 0), min(x1, w)
                        if ye <= ya or xe <= xa or not mask[ya:ye, xa:xe].any():
                            continue
                        sub = np.zeros((y1 - y0, x1 - x0), dtype=bool)
                        sub[ya - y0:ye - y0, xa - x0:xe - x0] = mask[ya:ye, xa:xe]
                        packed = pack(sub)
                        out.append((
                            int(pack_cells(group_res, cx, cy)), row.space_category, row.access, packed,
                            int(x1 - x0), int(y1 - y0), row.ox + x0 * px, row.oy + y0 * px, px,
                            hashlib.sha1(packed).hexdigest(), mask_area(sub, px),
                        ))
            yield pd.DataFrame(out, columns=TILE_SCHEMA.fieldNames())

    return tiles.select(*MASK_COLS).mapInPandas(_slice, TILE_SCHEMA)


def rasterize_tiles(layer: DataFrame, tile_res: int = TILE_RES_DEFAULT, px: float = 0.25) -> DataFrame:
    """layer (overlay output) → per-tile class masks: each layer row's
    kernel mask cut into its res-`tile_res` descendants (`subdivide_tiles`,
    with `overlay_cell` as the row's cell).

    No shuffle and no second rasterization. Raises when a layer row's px is
    not `px`, or its cell is finer than `tile_res` (a tile must lie inside
    one overlay cell)."""
    cell = F.col("overlay_cell")
    res = F.shiftright(cell, 58)
    wrong = (F.col("px") != F.lit(px)) | (res > F.lit(tile_res))
    msg = F.format_string(
        f"rasterize_tiles(tile_res={tile_res}, px={px}): layer row at px %s, overlay res %s",
        F.col("px"), res,
    )
    return subdivide_tiles(layer.withColumn("tile_cell", F.when(wrong, F.raise_error(msg)).otherwise(cell)), tile_res)


def mask_vector_iou(row, geoms: list) -> float:
    """IoU between a tile mask and the re-rasterized vector polygons."""
    m = unpack(row)
    grid = Grid(row.ox, row.oy, row.px, int(row.mask_w), int(row.mask_h))
    v = grid.empty()
    for g in geoms:
        v |= rasterize_polygon(grid, np_parts(g))
    inter = float((m & v).sum())
    union = float((m | v).sum())
    return inter / union if union else 1.0
