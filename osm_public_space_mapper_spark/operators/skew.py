"""Explicit skew handling: salting + two-stage aggregation (north rule).

Dense urban cells make cell-keyed aggregations skewed (FIXTURES.md puts ~20%
of images in 2 hotspot cells). AQE's skew-join handles joins at runtime; for
aggregations the engine additionally provides *explicit* salting: the group
key is widened with a salt derived from a uniform hash, partials are
aggregated per (key, salt), then finals per key — two shuffles, both uniform.

`merged_layer` applies the pattern to the geometry-union aggregation A1
(clean_data.py:282-303): ring lists combine per (category, access, salt),
then concatenate per (category, access) — unions of disjoint per-cell geometry are exact
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

