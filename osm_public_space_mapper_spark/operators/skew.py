"""Explicit skew handling: salting + two-stage aggregation (north rule).

Dense urban cells make cell-keyed aggregations skewed (FIXTURES.md puts ~20%
of images in 2 hotspot cells). AQE's skew-join handles joins at runtime; for
aggregations the engine additionally provides *explicit* salting: the group
key is widened with a salt derived from a uniform hash, partials are
aggregated per (key, salt), then finals per key — two shuffles, both uniform.

`salted_count` applies the pattern to count(*), `merged_layer` to the
geometry-union aggregation A1 (clean_data.py:282-303):
ring lists combine per (category, access, salt), then concatenate per
(category, access) — unions of disjoint per-cell geometry are exact
concatenations, so the two-stage result equals the single-stage one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_SALT_BUCKETS = 16


def with_salt(df: DataFrame, n_buckets: int = DEFAULT_SALT_BUCKETS, cols: list[str] | None = None) -> DataFrame:
    """Deterministic salt column from a hash of all (or given) columns."""
    basis = [F.col(c) for c in (cols or df.columns)]
    return df.withColumn("_salt", F.pmod(F.xxhash64(*basis), F.lit(n_buckets)))


def salted_count(df: DataFrame, key_cols: list[str], n_buckets: int = DEFAULT_SALT_BUCKETS) -> DataFrame:
    """count(*) per key via salted two-stage aggregation."""
    salted = with_salt(df, n_buckets)
    partial = salted.groupBy(*key_cols, "_salt").agg(F.count("*").alias("_partial"))
    return partial.groupBy(*key_cols).agg(F.sum("_partial").alias("n"))


def merged_layer(layer: DataFrame, n_buckets: int = DEFAULT_SALT_BUCKETS) -> DataFrame:
    """A1 global merge: one row per (space_category, access) with all rings.

    Per-cell layer rows are spatially disjoint (each kernel crops to its cell
    core), so geometry union == ring concatenation — expressed as a salted
    two-stage collect+flatten. Output geometry is the engine's standard
    multipolygon parts encoding."""
    partial = (
        with_salt(layer, n_buckets, cols=["overlay_cell"])
        .groupBy("space_category", "access", "_salt")
        .agg(
            F.flatten(F.collect_list("geom")).alias("_rings"),
            F.sum("area").alias("_area"),
        )
    )
    return (
        partial.groupBy("space_category", "access")
        .agg(
            F.flatten(F.collect_list("_rings")).alias("geom"),
            F.round(F.sum("_area"), 6).alias("area"),
        )
    )


def geom_union_agg(df: DataFrame, key_cols: list[str], px: float = 0.25,
                   n_buckets: int = DEFAULT_SALT_BUCKETS) -> DataFrame:
    """General geometry union aggregation for OVERLAPPING inputs.

    `merged_layer` handles the engine's common case (per-cell outputs are
    disjoint ⇒ union == concat). This UDAF-shaped operator handles arbitrary
    overlap: per group, rasterize every geometry onto one lattice-aligned
    grid (resolution `px`, the engine's standard raster exactness contract),
    OR the masks, vectorize back to even-odd rings. Two-stage and salted like
    every other skewed aggregation: partial ring-collect per (key, salt),
    final rasterized union per key (the raster OR is associative, so the
    grouping is exact).

    Returns one row per key: (key_cols..., geom, area)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from ..geo.arrowgeom import np_parts
    from ..geo.kernels import polygon_area
    from ..geo.raster import Grid, rasterize_polygon, vectorize_mask

    partial = (
        with_salt(df, n_buckets, cols=key_cols + ["geom"])
        .groupBy(*key_cols, "_salt")
        .agg(F.flatten(F.collect_list("geom")).alias("_rings"))
    )

    out_schema = T.StructType(
        [next(f for f in df.schema.fields if f.name == c) for c in key_cols]
        + [
            T.StructField("geom", T.ArrayType(T.ArrayType(T.ArrayType(T.DoubleType())))),
            T.StructField("area", T.DoubleType()),
        ]
    )

    def _union(pdf: pd.DataFrame) -> pd.DataFrame:
        rings: list[np.ndarray] = []
        for g in pdf["_rings"]:
            rings.extend(np_parts(g))
        rings = [r for r in rings if len(r) >= 3]
        if not rings:
            row = {c: [pdf[c].iloc[0]] for c in key_cols}
            row["geom"] = [[]]
            row["area"] = [0.0]
            return pd.DataFrame(row)
        pts = np.concatenate(rings)
        xmin = np.floor(pts[:, 0].min() / px) * px - px
        ymin = np.floor(pts[:, 1].min() / px) * px - px
        xmax = np.ceil(pts[:, 0].max() / px) * px + px
        ymax = np.ceil(pts[:, 1].max() / px) * px + px
        grid = Grid.from_bbox(xmin, ymin, xmax, ymax, px)
        mask = grid.empty()
        for r in rings:
            mask |= rasterize_polygon(grid, [r])
        polys = vectorize_mask(grid, mask)
        out_rings = [ring for poly in polys for ring in poly]
        area = sum(abs(polygon_area([ring])) * (1 if i == 0 else -1)
                   for poly in polys for i, ring in enumerate(poly))
        row = {c: [pdf[c].iloc[0]] for c in key_cols}
        row["geom"] = [[r.tolist() for r in out_rings]]
        row["area"] = [round(float(area), 6)]
        return pd.DataFrame(row)

    return partial.groupBy(*key_cols).applyInPandas(_union, out_schema)
