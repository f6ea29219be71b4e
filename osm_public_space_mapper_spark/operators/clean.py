"""Scan-side cleaning / normalization operators (SURVEY.md §2.2).

Each reference soft-delete-then-compact pass (ignore=True + list rebuild,
clean_data.py:69-72,141-144) is a plain Catalyst `filter`; Catalyst pushes
these to the parquet scan for free (§4.2). Counts that the reference printed
become `observe()` metrics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import predicates as P
from ..functions.geometry import st_project


def init_attribute_columns(df: DataFrame) -> DataFrame:
    """Adds the nullable pipeline attribute columns (GeometryElement schema,
    reference utils/geometry_element.py:11-31)."""
    for col in ("space_type", "access", "access_derived_from", "space_category"):
        if col not in df.columns:
            df = df.withColumn(col, F.lit(None).cast("string"))
    return df


def drop_invalid_geometries(df: DataFrame) -> DataFrame:
    """reference clean_data.py:18-30 — unparseable relations → Invalid."""
    return df.filter(F.col("geom").isNotNull() & F.col("geom_kind").isNotNull())


def drop_empty_geometries(df: DataFrame) -> DataFrame:
    """reference clean_data.py:33-37 (count print → observe metric)."""
    return df.filter(F.size("geom") > 0)


def drop_elements_without_tags(df: DataFrame) -> DataFrame:
    """reference clean_data.py:40-53."""
    return df.filter(F.size("tags") > 0)


def drop_points_apart_from_entrances(df: DataFrame) -> DataFrame:
    """reference clean_data.py:56-72."""
    return df.filter(~(P.is_point() & ~P.is_entrance()))


def drop_irrelevant_elements_based_on_tags(df: DataFrame) -> DataFrame:
    """reference clean_data.py:129-236: non-groundlevel, then three tag passes
    from which buildings are exempt (split/union-back = when(is_building, keep))."""
    df = df.filter(~P.is_non_groundlevel())

    building = P.is_building()
    relevant_keys = [
        "highway", "public_transport", "railway", "barrier", "amenity", "leisure",
        "natural", "water", "parking", "embankment", "landuse", "footway", "bridge",
        "place", "construction", "parking_space", "man_made",
    ]
    has_relevant = F.lit(False)
    for k in relevant_keys:
        has_relevant = has_relevant | P.has(k)
    df = df.filter(building | has_relevant)

    df = df.filter(building | ~P.has("boundary"))

    relevant_amenity = ["fountain", "shelter", "parking", "parking_space", "bus_station",
                        "grave_yard", "biergarten", "motorcycle_parking", "public_bath"]
    irrelevant_values = {
        "natural": ["tree_row"],
        "landuse": ["commercial", "retail", "residential", "industrial", "education"],
        "place": ["neighbourhood", "city_block", "locality", "quarter"],
        "indoor": ["yes", "room"],
        "highway": ["corridor", "proposed"],
    }
    exclude = F.lit(False)
    for k, vals in irrelevant_values.items():
        exclude = exclude | P.tin(k, *vals)
    exclude = exclude | (P.has("amenity") & ~P.tin("amenity", *relevant_amenity))
    return df.filter(building | ~exclude)


def clean_geometries(df: DataFrame) -> DataFrame:
    """reference clean_data.py:75-114:
    - MultiPolygon(1) → Polygon relabel (clean_data.py:82-93)
    - false polygons (highway/barrier/wall, not area=yes) → LineString of the
      exterior ring, explicitly closed (clean_data.py:95-111)."""
    df = df.withColumn(
        "geom_kind",
        F.when(P.is_multipolygon() & (F.size("geom") == 1), "polygon").otherwise(F.col("geom_kind")),
    )
    false_poly = (P.is_highway_polygon() | P.is_barrier_polygon() | P.is_wall_polygon()) & ~P.is_area()
    # exterior ring → closed path
    closed_ring = F.array(
        F.when(
            F.element_at(F.col("geom"), 1)[0] == F.element_at(F.element_at(F.col("geom"), 1), -1),
            F.element_at(F.col("geom"), 1),
        ).otherwise(F.concat(F.element_at(F.col("geom"), 1), F.array(F.element_at(F.col("geom"), 1)[0])))
    )
    df = df.withColumn("geom", F.when(false_poly, closed_ring).otherwise(F.col("geom")))
    df = df.withColumn("geom_kind", F.when(false_poly, "linestring").otherwise(F.col("geom_kind")))
    return df


def project_geometries(df: DataFrame) -> DataFrame:
    """EPSG:4326 → EPSG:3035 (reference clean_data.py:117-126)."""
    return df.withColumn("geom", st_project(F.col("geom")))


def clean_chain(df: DataFrame) -> DataFrame:
    """The full scan-side chain in reference order
    (full_data_analysis.py:28-53)."""
    df = init_attribute_columns(df)
    df = drop_invalid_geometries(df)
    df = drop_empty_geometries(df)
    df = drop_elements_without_tags(df)
    df = drop_points_apart_from_entrances(df)
    df = drop_irrelevant_elements_based_on_tags(df)
    df = clean_geometries(df)
    df = project_geometries(df)
    return df


def clean_chain_with_metrics(df: DataFrame):
    """clean_chain + an Observation carrying the reference's diagnostic
    counts (A4; the reference prints the empty-geometry count,
    clean_data.py:34-36). Returns (cleaned_df, observation); metrics are
    available after any action on the result."""
    from pyspark.sql import Observation

    obs = Observation("clean_metrics")
    df = df.observe(
        obs,
        F.count(F.lit(1)).alias("n_input"),
        F.sum(F.when(F.col("geom").isNull() | F.col("geom_kind").isNull(), 1).otherwise(0)).alias("n_invalid"),
        F.sum(F.when(F.col("geom").isNotNull() & (F.size("geom") == 0), 1).otherwise(0)).alias("n_empty"),
        F.sum(F.when(F.size("tags") == 0, 1).otherwise(0)).alias("n_untagged"),
    )
    return clean_chain(df), obs


def drop_road_rail_walking(df: DataFrame) -> DataFrame:
    """reference clean_data.py:239-240 (null space_type survives)."""
    return df.filter(
        F.col("space_type").isNull() | ~F.col("space_type").isin("road", "rail", "walking area")
    )

