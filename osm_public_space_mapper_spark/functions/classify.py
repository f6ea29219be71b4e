"""Classification / attribute-derivation operators (SURVEY.md §2.3).

All pure Catalyst expressions. Write-once ("first-writer-wins") attribute
semantics from the reference (utils/geometry_element.py:48-73) map to
`F.coalesce(existing, new)` — stage order IS the precedence rule. The single
overwrite exception (parking access, analyse_traffic_area.py:22-24 +
geometry_element.py:61-64) is a plain assignment on every non-building row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .predicates import (
    has,
    is_construction,
    is_parking_polygon,
    is_pedestrian_way,
    is_platform_polygon,
    is_point,
    is_rail,
    is_shared_cycleway_footway,
    tag,
)

ACCESS_YES_VALUES = ["yes", "permissive", "public"]
ACCESS_NO_VALUES = ["private", "no", "permit", "key", "military", "residents"]
ACCESS_RESTRICTED_VALUES = ["children", "customers"]
RESTRICTED_ACCESS_KEYS = ["fee", "opening_hours", "max_age", "min_age", "female", "male", "charge", "seasonal"]


def _set_once(df: DataFrame, col: str, value: Column, source: Column | None = None, source_col: str = "access_derived_from") -> DataFrame:
    """first-writer-wins assignment; optionally stamps the provenance column
    (also write-once) when this stage is the writer. Both are one projection:
    the stamp reads `col` before this assignment, and `value` must not read
    `source_col`."""
    cols = {col: F.coalesce(F.col(col), value)}
    if source is not None:
        cols[source_col] = F.coalesce(F.col(source_col), F.when(F.col(col).isNull() & value.isNotNull(), source))
    return df.withColumns(cols)


def _has_restriction_tag() -> Column:
    """analyse_access.py:27-31 — any restricted key present with value != 'no',
    opening_hours exempt when exactly '24/7'."""
    cond = F.lit(False)
    for key in RESTRICTED_ACCESS_KEYS:
        this = has(key) & (tag(key) != "no")
        if key == "opening_hours":
            this = this & (tag(key) != "24/7")
        cond = cond | this
    return cond


def interpret_tags(df: DataFrame) -> DataFrame:
    """Access classification from access/foot + restriction keys
    (reference analyse_access.py:10-49)."""
    acc = tag("access")
    foot = tag("foot")
    restricted = _has_restriction_tag()
    new_access = F.when(
        has("access") | has("foot"),
        F.when(acc.isin(ACCESS_NO_VALUES) | foot.isin(ACCESS_NO_VALUES), "no")
        .when(
            acc.isin(ACCESS_YES_VALUES) | foot.isin(ACCESS_YES_VALUES),
            F.when(restricted, "restricted").otherwise("yes"),
        )
        .when(acc.isin(ACCESS_RESTRICTED_VALUES) | foot.isin(ACCESS_RESTRICTED_VALUES), "restricted")
        .otherwise(F.when(restricted, "restricted")),
    ).otherwise(F.when(restricted, "restricted"))
    return _set_once(df, "access", new_access, F.lit("tags"))


def set_traffic_space_type(df: DataFrame) -> DataFrame:
    """Traffic space types incl. the parking access overwrite
    (reference analyse_traffic_area.py:10-28)."""
    new_type = (
        F.when(is_pedestrian_way() | is_shared_cycleway_footway(), "walking area")
        .when(is_platform_polygon(), "public transport stop")
        .when(is_parking_polygon(), "parking")
        .when(is_rail() & ~is_point(), "rail")
        .when(has("highway") & ~is_point(), "road")
    )
    df = _set_once(df, "space_type", new_type)
    # the ONLY access overwrite in the pipeline: parking polygons force 'no';
    # the reference splits buildings off before this stage, so they keep theirs
    parking = is_parking_polygon() & ~F.col("space_type").eqNullSafe("building")
    return df.withColumns({
        "access": F.when(parking, "no").otherwise(F.col("access")),
        "access_derived_from": F.when(
            parking, F.coalesce(F.col("access_derived_from"), F.lit("space type"))
        ).otherwise(F.col("access_derived_from")),
    })


# --- road width estimation (analyse_traffic_area.py:94-161 + regional_defaults.py) ---

from ..config import VIENNA, RegionalConfig  # noqa: E402  (regional width tables)


def road_width(region: RegionalConfig | None = None) -> Column:
    """Estimated road width expression under `region`'s width tables
    (default: the reference's Vienna/RSV values). Implements the reference's
    *intended* semantics (analyse_traffic_area.py:156-161 reads loop var `e`
    instead of `element` — a latent bug; we read the element's own tags)."""
    region = region or VIENNA
    uni = has("oneway")
    base = F.lit(None).cast("double")
    chain = None
    for hwy, (bi_w, uni_w) in region.highway_default_widths.items():
        if hwy == "everything else":
            continue
        val = F.when(uni, F.lit(float(uni_w))).otherwise(F.lit(float(bi_w)))
        chain = F.when(tag("highway") == hwy, val) if chain is None else chain.when(tag("highway") == hwy, val)
    bi_d, uni_d = region.highway_default_widths["everything else"]
    base = chain.otherwise(F.when(uni, F.lit(float(uni_d))).otherwise(F.lit(float(bi_d))))

    normal_lanes = F.when(uni, F.lit(1.0)).otherwise(F.lit(2.0))
    lanes = F.expr("try_cast(tags['lanes'] as double)")
    width = F.when(
        lanes.isNotNull() & (lanes != normal_lanes), base * lanes / normal_lanes
    ).otherwise(base)

    # cycleway additions: skipped when highway value itself is a cycleway-keys member
    cyc_add = F.lit(0.0)
    for key, vals in region.cycleway_default_widths.items():
        add_chain = None
        for v, wdt in vals.items():
            add_chain = (
                F.when(tag(key) == v, F.lit(float(wdt)))
                if add_chain is None
                else add_chain.when(tag(key) == v, F.lit(float(wdt)))
            )
        cyc_add = cyc_add + F.coalesce(add_chain, F.lit(0.0))
    width = F.when(
        tag("highway").isin(list(region.cycleway_default_widths.keys())), width
    ).otherwise(width + cyc_add)

    width = F.when(
        tag("highway").isin(list(region.highway_types_with_parking)),
        width + F.lit(region.default_parking_width),
    ).otherwise(width)

    return F.coalesce(
        F.expr("try_cast(tags['width:carriageway'] as double)"),
        F.expr("try_cast(tags['width'] as double)"),
        width,
    )


def set_missing_space_types(df: DataFrame) -> DataFrame:
    """construction, else first-present of the ordered key list
    (reference analyse_space_type.py:23-43; key order is the tie-break)."""
    new_type = F.coalesce(
        F.when(is_construction(), "construction"),
        tag("leisure"),
        tag("amenity"),
        tag("natural"),
        tag("place"),
        tag("landuse"),
        tag("man_made"),
    )
    return _set_once(df, "space_type", new_type)


SPACE_TYPES_WITH_ACCESS = [
    "public transport stop", "park", "playground", "dog_park", "fitness_station",
    "square", "track", "brownfield", "bus_station", "forest", "sand", "garden", "heath",
    "recreation_ground", "scree", "greenfield", "walking area", "grassland",
    "village_green", "wood", "cemetery", "grass", "pitch", "beach", "bridge",
    "common", "island", "marina", "pier", "water_park", "religious", "shelter",
]
SPACE_TYPES_RESTRICTED = [
    "outdoor_seating", "sports_centre", "swimming_pool", "biergarten",
    "miniature_golf", "stadium", "horse_riding",
]
SPACE_TYPES_NO_ACCESS = [
    "allotments", "construction", "landfill", "military", "flowerbed", "fountain",
    "water", "wetland", "storage", "farmland", "orchard", "plant_nursery", "planter",
    "vineyard", "harbour", "resort", "garages", "stage", "reservoir", "scrub", "shrubbery",
    "greenhouse_horticulture", "meadow", "nature_reserve",
]


def assumed_access() -> Column:
    """Access assumed from the space type (reference analyse_access.py:348-384,
    incl. the final 'unknown' fallback); NULL for a NULL space type."""
    st = F.col("space_type")
    return F.when(
        st.isNotNull(),
        F.when(st.isin(SPACE_TYPES_WITH_ACCESS), "yes")
        .when(st.isin(SPACE_TYPES_RESTRICTED), "restricted")
        .when(st.isin(SPACE_TYPES_NO_ACCESS), "no")
        .otherwise("unknown"),
    )


SPACE_CATEGORIES: dict[str, list[str]] = {
    "greenspace": ["dog_park", "flowerbed", "grass", "park", "sand", "village_green", "garden", "planter",
                   "grassland", "scrub", "meadow", "wood", "allotments", "beach", "recreation_ground",
                   "islet", "forest", "heath", "nature_reserve", "greenfield", "shrubbery"],
    "play and sports": ["playground", "pitch", "fitness_station", "track", "miniature_golf", "horse_riding"],
    "water": ["fountain", "water", "wetland", "swimming_pool"],
    "road": ["road", "parking"],
    "rail": ["rail"],
    "open space": ["public transport stop", "square", "scree", "bridge", "pier", "marina", "outdoor_seating", "biergarten"],
    "building": ["building"],
    "inaccessible enclosed area": ["inaccessible enclosed area"],
    "walking area": ["walking area"],
    "construction": ["construction"],
}


def set_space_category(df: DataFrame) -> DataFrame:
    """space_type → category; fallback = the space_type itself
    (reference clean_data.py:255-279)."""
    chain = None
    for cat, types in SPACE_CATEGORIES.items():
        cond = F.col("space_type").isin(types)
        chain = F.when(cond, cat) if chain is None else chain.when(cond, cat)
    return df.withColumn("space_category", chain.otherwise(F.col("space_type")))


def uncategorized_space_type_warnings(df: DataFrame) -> DataFrame:
    """A5 warning side output (reference clean_data.py:269-278): distinct
    space types that fell through the category table, with counts. The
    reference prints the set to stdout; the engine returns it as a DataFrame
    so a pipeline can sink it (filter-side-output), keeping the main path
    untouched."""
    all_categorized = sorted({t for types in SPACE_CATEGORIES.values() for t in types})
    return (
        df.filter(F.col("space_type").isNotNull() & ~F.col("space_type").isin(all_categorized))
        .groupBy("space_type")
        .agg(F.count("*").alias("n_elements"))
        .withColumn("warning", F.lit("no space category given"))
    )


def unassumed_access_warnings(df: DataFrame) -> DataFrame:
    """A5 warning side output (reference analyse_access.py:380-384): space
    types whose access could not be assumed (fell through to 'unknown')."""
    known = SPACE_TYPES_WITH_ACCESS + SPACE_TYPES_RESTRICTED + SPACE_TYPES_NO_ACCESS
    return (
        df.filter(
            F.col("access").isNull()
            & F.col("space_type").isNotNull()
            & ~F.col("space_type").isin(known)
        )
        .groupBy("space_type")
        .agg(F.count("*").alias("n_elements"))
        .withColumn("warning", F.lit("no access categorized"))
    )

