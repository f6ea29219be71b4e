"""Raster↔vector tiling (north rule): rasterize polygon classes to per-cell
masks, round-trip back to vector with IoU verification.

Each output row is one (tile cell, space_category, access) mask, bit-packed.
Masks are exactly consistent with the vector layer by construction (the layer
polygons trace pixel edges of the same grid family), so a point-lookup into a
tile mask equals the vector PIP answer — tests assert IoU ≥ 0.99 both ways.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..cells.grid import cell_bbox as cell_bbox_np
from ..functions.geometry import bbox_expr, cover_expr
from ..geo.arrowgeom import np_parts
from ..geo.raster import Grid, mask_area, rasterize_polygon, vectorize_mask

TILE_RES_DEFAULT = 10  # 256 m tiles


_TILE_SCHEMA = T.StructType(
    [
        T.StructField("tile_cell", T.LongType()),
        T.StructField("space_category", T.StringType()),
        T.StructField("access", T.StringType()),
        T.StructField("mask", T.BinaryType()),
        T.StructField("mask_w", T.IntegerType()),
        T.StructField("mask_h", T.IntegerType()),
        T.StructField("ox", T.DoubleType()),
        T.StructField("oy", T.DoubleType()),
        T.StructField("px", T.DoubleType()),
        T.StructField("mask_hash", T.StringType()),
        T.StructField("area", T.DoubleType()),
    ]
)


def rasterize_tiles(layer: DataFrame, tile_res: int = TILE_RES_DEFAULT, px: float = 0.25) -> DataFrame:
    """layer (overlay output) → per-tile class masks."""
    cover = cover_expr(tile_res, halo=0)
    exploded = layer.withColumn("_bbox", bbox_expr(F.col("geom"))).withColumn(
        "tile_cell",
        F.explode(cover(F.col("_bbox.xmin"), F.col("_bbox.ymin"), F.col("_bbox.xmax"), F.col("_bbox.ymax"))),
    ).select("tile_cell", "space_category", "access", "geom")

    def _tile(pdf: pd.DataFrame) -> pd.DataFrame:
        cell = int(pdf["tile_cell"].iloc[0])
        xmin, ymin, xmax, ymax = (float(v[0]) for v in cell_bbox_np(np.array([cell])))
        grid = Grid.from_bbox(xmin, ymin, xmax, ymax, px)
        rows = {k: [] for k in ("tile_cell", "space_category", "access", "mask", "mask_w",
                                 "mask_h", "ox", "oy", "px", "mask_hash", "area")}
        for (cat, acc), grp in pdf.groupby(["space_category", "access"], sort=True):
            m = grid.empty()
            for g in grp["geom"]:
                m |= rasterize_polygon(grid, np_parts(g))
            if not m.any():
                continue
            packed = np.packbits(m, axis=None).tobytes()
            rows["tile_cell"].append(cell)
            rows["space_category"].append(cat)
            rows["access"].append(acc)
            rows["mask"].append(packed)
            rows["mask_w"].append(grid.w)
            rows["mask_h"].append(grid.h)
            rows["ox"].append(grid.ox)
            rows["oy"].append(grid.oy)
            rows["px"].append(px)
            rows["mask_hash"].append(hashlib.sha1(packed).hexdigest())
            rows["area"].append(mask_area(m, px))
        return pd.DataFrame(rows)

    return exploded.groupBy("tile_cell").applyInPandas(_tile, _TILE_SCHEMA)


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
