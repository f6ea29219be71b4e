"""Raster↔vector tiling (north rule): per-cell class masks cut from the
overlay kernel's own rasters, with a round-trip check back to the vector
layer.

Each output row is one (tile cell, space_category, access) mask, bit-packed.
The overlay kernel rasterizes every class once on the global px lattice and
vectorizes the layer's rings from those same masks; each layer row keeps its
mask (`plans/pipeline.overlay_stage`), and the tiles are slices of it. So a
point lookup in a tile mask equals the vector PIP answer, and re-rasterizing
the layer's rings onto a tile (`mask_vector_iou`, the test oracle) gives the
tile back exactly (IoU 1.0) whenever px divides the overlay cell side.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..geo.arrowgeom import np_parts
from ..geo.raster import Grid, rasterize_polygon
from .joins import subdivide_tiles

TILE_RES_DEFAULT = 10  # 256 m tiles


def rasterize_tiles(layer: DataFrame, tile_res: int = TILE_RES_DEFAULT, px: float = 0.25) -> DataFrame:
    """layer (overlay output) → per-tile class masks: each layer row's
    kernel mask cut into its res-`tile_res` descendants
    (`joins.subdivide_tiles`, with `overlay_cell` as the row's cell).

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


def unpack_mask(row) -> tuple[Grid, np.ndarray]:
    """Tile row → (Grid, bool mask) for verification / point lookup."""
    h, w = int(row.mask_h), int(row.mask_w)
    bits = np.unpackbits(np.frombuffer(row.mask, dtype=np.uint8), count=h * w)
    grid = Grid(row.ox, row.oy, row.px, w, h)
    return grid, bits.reshape(h, w).astype(bool)


def mask_vector_iou(row, geoms: list) -> float:
    """IoU between a tile mask and the re-rasterized vector polygons."""
    grid, m = unpack_mask(row)
    v = grid.empty()
    for g in geoms:
        v |= rasterize_polygon(grid, np_parts(g))
    inter = float((m & v).sum())
    union = float((m | v).sum())
    return inter / union if union else 1.0
