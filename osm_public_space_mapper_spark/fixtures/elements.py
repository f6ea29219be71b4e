"""Synthetic Vienna-extract-shaped OSM element table (FIXTURES.md §1).

Deterministic (seed 42), no external data. Mirrors the composition of the
reference's Rabenhof extract so every classifier rule fires
(reference bbox: data_analysis/full_data_analysis.py:17; rule tables in
utils/osm_element.py, data_analysis/analyse_access.py,
data_analysis/analyse_traffic_area.py, data_analysis/clean_data.py).

Coordinates are generated in fraction space (fx, fy ∈ [0,1]) of the Rabenhof
bbox and emitted as EPSG:4326 lon/lat.
"""

from __future__ import annotations

import numpy as np

# Rabenhof bbox (reference full_data_analysis.py:17)
BBOX_4326 = dict(
    left=16.39885944803246,
    right=16.405590927719924,
    bottom=48.19436970139387,
    top=48.198866317671815,
)


def _fx(fx: float) -> float:
    return float(BBOX_4326["left"] + fx * (BBOX_4326["right"] - BBOX_4326["left"]))


def _fy(fy: float) -> float:
    return float(BBOX_4326["bottom"] + fy * (BBOX_4326["top"] - BBOX_4326["bottom"]))


def _rect(x0, y0, x1, y1):
    """Closed rectangle ring in lon/lat from fraction coords."""
    return [
        [_fx(x0), _fy(y0)],
        [_fx(x1), _fy(y0)],
        [_fx(x1), _fy(y1)],
        [_fx(x0), _fy(y1)],
        [_fx(x0), _fy(y0)],
    ]


def _line(*pts):
    return [[_fx(x), _fy(y)] for x, y in pts]


def _pt(x, y):
    return [[_fx(x), _fy(y)]]


def generate_elements() -> list[dict]:
    """Returns rows: {element_id, geom_kind, geom, tags}. geom=None → invalid."""
    rows: list[dict] = []
    eid = [0]

    def add(kind, parts, tags):
        eid[0] += 1
        rows.append({"element_id": eid[0], "geom_kind": kind, "geom": parts, "tags": tags})

    # --- buildings --------------------------------------------------------
    add("polygon", [_rect(0.30, 0.30, 0.38, 0.38)], {"building": "yes"})
    add("polygon", [_rect(0.55, 0.52, 0.65, 0.60)], {"building": "apartments"})
    add("polygon", [_rect(0.42, 0.30, 0.46, 0.34)], {"building:part": "yes"})
    add("multipolygon", [_rect(0.48, 0.30, 0.52, 0.34)], {"building:levels": "4"})  # simple-mpoly → polygon
    add("polygon", [_rect(0.30, 0.42, 0.34, 0.46)], {"building": "roof"})  # NOT building
    add("polygon", [_rect(0.36, 0.42, 0.40, 0.46)], {"building": "no"})  # NOT building
    # building passage through Building B (highway + tunnel=building_passage)
    add("linestring", [_line((0.60, 0.48), (0.60, 0.64))], {"highway": "footway", "tunnel": "building_passage"})

    # --- green / leisure / water -----------------------------------------
    add("polygon", [_rect(0.05, 0.55, 0.28, 0.90)], {"leisure": "park"})  # greenspace yes
    add("polygon", [_rect(0.05, 0.05, 0.15, 0.15)], {"leisure": "garden", "access": "private"})  # greenspace no
    add("polygon", [_rect(0.17, 0.05, 0.24, 0.12)], {"landuse": "grass"})  # greenspace yes
    add("polygon", [_rect(0.26, 0.05, 0.33, 0.12)], {"natural": "wood"})  # greenspace yes
    add("polygon", [_rect(0.08, 0.60, 0.14, 0.66)], {"leisure": "playground"})  # play yes
    add("polygon", [_rect(0.16, 0.60, 0.22, 0.66)], {"leisure": "pitch", "access": "customers"})  # play restricted
    add("polygon", [_rect(0.08, 0.70, 0.14, 0.76)], {"leisure": "sports_centre"})  # play restricted
    add("polygon", [_rect(0.16, 0.70, 0.22, 0.76)], {"leisure": "horse_riding"})  # play restricted
    add("polygon", [_rect(0.08, 0.80, 0.14, 0.86)], {"natural": "water"})  # water no
    add("polygon", [_rect(0.16, 0.80, 0.20, 0.84)], {"amenity": "fountain"})  # water no
    add("polygon", [_rect(0.35, 0.05, 0.40, 0.10)], {"leisure": "swimming_pool"})  # water restricted? no-list
    add("polygon", [_rect(0.42, 0.05, 0.47, 0.10)], {"place": "square"})  # open space yes
    add("polygon", [_rect(0.49, 0.05, 0.54, 0.10)], {"landuse": "meadow"})  # greenspace no (no-access list)

    # --- access-combo probes (all leisure=park so they survive filters) ---
    add("polygon", [_rect(0.56, 0.05, 0.58, 0.07)], {"leisure": "park", "access": "yes", "fee": "yes"})  # restricted
    add("polygon", [_rect(0.60, 0.05, 0.62, 0.07)], {"leisure": "park", "access": "yes", "opening_hours": "24/7"})  # yes
    add("polygon", [_rect(0.64, 0.05, 0.66, 0.07)], {"leisure": "park", "access": "yes", "opening_hours": "Mo-Fr 08:00-18:00"})  # restricted
    add("polygon", [_rect(0.68, 0.05, 0.70, 0.07)], {"leisure": "park", "foot": "private"})  # no
    add("polygon", [_rect(0.72, 0.05, 0.74, 0.07)], {"leisure": "park", "access": "customers"})  # restricted
    add("polygon", [_rect(0.76, 0.05, 0.78, 0.07)], {"leisure": "park", "fee": "yes"})  # restricted (no access key)
    add("polygon", [_rect(0.80, 0.05, 0.82, 0.07)], {"leisure": "park", "access": "yes", "seasonal": "no"})  # yes
    add("polygon", [_rect(0.84, 0.05, 0.86, 0.07)], {"leisure": "park", "access": "permissive"})  # yes
    add("polygon", [_rect(0.88, 0.05, 0.90, 0.07)], {"leisure": "park", "foot": "customers"})  # restricted

    # --- roads (linestrings, various width rules) -------------------------
    add("linestring", [_line((0.0, 0.50), (1.0, 0.50))], {"highway": "primary"})  # base 6.5 + parking 6.5
    add("linestring", [_line((0.0, 0.44), (1.0, 0.44))], {"highway": "residential", "lanes": "3"})  # 4.5*3/2+6.5
    add("linestring", [_line((0.45, 0.0), (0.45, 1.0))], {"highway": "secondary", "oneway": "yes"})  # uni 3.8+6.5
    add("linestring", [_line((0.52, 0.0), (0.52, 0.42))], {"highway": "service"})  # 4.5
    add("linestring", [_line((0.0, 0.38), (0.28, 0.38))], {"highway": "tertiary", "cycleway:right": "lane"})  # 5.25+1.5+6.5
    add("linestring", [_line((0.0, 0.34), (0.28, 0.34))], {"highway": "unclassified", "width": "7.5"})  # explicit width
    add("linestring", [_line((0.0, 0.30), (0.28, 0.30))], {"highway": "residential", "width:carriageway": "5"})
    add("linestring", [_line((0.0, 0.26), (0.28, 0.26))], {"highway": "cycleway"})  # 2.0, no cycleway add
    add("linestring", [_line((0.0, 0.22), (0.28, 0.22))], {"highway": "busway"})  # everything-else 5.25
    add("polygon", [_rect(0.60, 0.44, 0.66, 0.47)], {"highway": "residential", "area": "yes"})  # highway polygon kept

    # --- pedestrian -------------------------------------------------------
    add("linestring", [_line((0.05, 0.93), (0.95, 0.93))], {"highway": "footway"})
    add("linestring", [_line((0.30, 0.55), (0.30, 0.93))], {"highway": "path"})
    add("linestring", [_line((0.70, 0.93), (0.70, 0.98))], {"highway": "steps"})
    add("linestring", [_line((0.35, 0.93), (0.35, 0.98))], {"highway": "living_street"})
    add("linestring", [_line((0.40, 0.93), (0.40, 0.98))], {"highway": "cycleway", "segregated": "no"})  # shared → walking
    add("linestring", [_line((0.445, 0.48), (0.455, 0.52))], {"highway": "footway", "footway": "crossing"})  # crossing
    add("polygon", [_rect(0.74, 0.90, 0.80, 0.96)], {"highway": "pedestrian", "area": "yes"})  # walking polygon

    # --- rail / platforms / parking ---------------------------------------
    add("linestring", [_line((0.90, 0.0), (0.90, 1.0))], {"railway": "rail"})  # barrier + rail
    add("linestring", [_line((0.0, 0.56), (1.0, 0.56))], {"railway": "tram", "embedded": "yes"})  # rail, NOT barrier
    add("polygon", [_rect(0.93, 0.40, 0.98, 0.60)], {"landuse": "railway"})  # rail polygon + barrier
    add("polygon", [_rect(0.84, 0.44, 0.88, 0.50)], {"public_transport": "platform"})  # pt stop
    add("polygon", [_rect(0.50, 0.64, 0.56, 0.70)], {"amenity": "parking"})  # parking, access no (overwrite)
    add("polygon", [_rect(0.58, 0.64, 0.62, 0.68)], {"amenity": "parking_space", "access": "yes"})  # still no

    # --- barriers & enclosed-area topology --------------------------------
    # inaccessible enclosed fence ring with a gate (gate default no)
    fence1 = _rect(0.70, 0.70, 0.85, 0.85)
    add("linestring", [fence1], {"barrier": "fence"})
    add("point", [_pt(0.70, 0.775)], {"barrier": "gate"})
    add("polygon", [_rect(0.74, 0.74, 0.81, 0.81)], {"leisure": "garden"})  # inside fence1 → access no
    # accessible fence ring with a crossing point on it (entrance default yes).
    # NB: highway/footway LINESTRINGS are classified road/walking-area and
    # dropped before interpret_barriers (full_data_analysis.py:93 vs :103), so
    # only point entrances (gates, crossings) reach the barrier join — matching
    # the reference's effective semantics.
    fence2 = _rect(0.05, 0.25, 0.18, 0.40)
    add("linestring", [fence2], {"barrier": "fence"})
    add("point", [_pt(0.05, 0.32)], {"highway": "crossing"})  # entrance on fence2, default yes
    add("linestring", [_line((0.02, 0.32), (0.10, 0.32))], {"highway": "footway"})  # walking area through fence2
    add("linestring", [_line((0.60, 0.75), (0.75, 0.75))], {"barrier": "wall"})
    add("linestring", [_line((0.60, 0.78), (0.75, 0.78))], {"barrier": "hedge"})
    add("polygon", [_rect(0.40, 0.75, 0.44, 0.79)], {"barrier": "fence"})  # false polygon → linestring
    add("polygon", [_rect(0.46, 0.75, 0.50, 0.79)], {"barrier": "wall"})  # false polygon → linestring
    add("linestring", [_line((0.0, 0.02), (1.0, 0.02))], {"highway": "motorway"})  # barrier + road

    # --- construction ------------------------------------------------------
    add("polygon", [_rect(0.66, 0.30, 0.72, 0.36)], {"landuse": "construction"})
    add("polygon", [_rect(0.74, 0.30, 0.80, 0.36)], {"construction": "yes"})

    # --- non-groundlevel (dropped) -----------------------------------------
    add("polygon", [_rect(0.30, 0.16, 0.34, 0.20)], {"leisure": "park", "level": "1"})
    add("polygon", [_rect(0.36, 0.16, 0.40, 0.20)], {"leisure": "park", "level": "0;1"})  # kept (0 in list)
    add("linestring", [_line((0.42, 0.16), (0.46, 0.16))], {"highway": "footway", "tunnel": "yes"})
    add("polygon", [_rect(0.48, 0.16, 0.52, 0.20)], {"amenity": "parking", "parking": "underground"})
    add("polygon", [_rect(0.54, 0.16, 0.58, 0.20)], {"leisure": "park", "location": "underground"})
    add("polygon", [_rect(0.60, 0.16, 0.64, 0.20)], {"leisure": "park", "level": "a;b"})  # unparseable → kept

    # --- irrelevant (dropped) ----------------------------------------------
    add("linestring", [_line((0.0, 0.98), (1.0, 0.98))], {"boundary": "administrative"})
    add("polygon", [_rect(0.66, 0.16, 0.70, 0.20)], {"landuse": "residential"})
    add("polygon", [_rect(0.72, 0.16, 0.76, 0.20)], {"place": "locality"})
    add("polygon", [_rect(0.78, 0.16, 0.82, 0.20)], {"leisure": "park", "indoor": "yes"})
    add("linestring", [_line((0.84, 0.16), (0.88, 0.16))], {"natural": "tree_row"})
    add("linestring", [_line((0.90, 0.16), (0.94, 0.16))], {"highway": "proposed"})
    add("polygon", [_rect(0.90, 0.10, 0.94, 0.14)], {"amenity": "restaurant"})  # amenity not whitelisted
    add("polygon", [_rect(0.95, 0.10, 0.98, 0.14)], {"amenity": "restaurant", "building": "yes"})  # building exempt
    add("polygon", [_rect(0.90, 0.04, 0.94, 0.08)], {"name": "nameless lot"})  # no relevant key

    # --- untagged / empty / invalid (≈40% untagged per FIXTURES.md) --------
    rng = np.random.RandomState(42)
    n_untagged = 60
    for i in range(n_untagged):
        x, y = (float(v) for v in rng.uniform(0.01, 0.99, 2))
        if i % 5 == 0:
            add("linestring", [_line((x, y), (min(x + 0.02, 0.99), y))], {})
        else:
            add("point", [_pt(x, y)], {})
    for _ in range(4):
        add("polygon", [], {"leisure": "park"})  # empty geometry
    for _ in range(3):
        add(None, None, {"type": "route"})  # invalid (unparseable relation)

    # --- multi-geometry kinds (reference ShapelyGeometry alias,
    #     utils/geometry_element.py:8) -------------------------------------
    # two-outer-ring multipolygon park: both rects must land greenspace/yes
    add("multipolygon", [_rect(0.86, 0.62, 0.89, 0.65), _rect(0.91, 0.62, 0.94, 0.65)],
        {"leisure": "park"})
    # multilinestring fence: reference is_linestring() is strict
    # (type==LineString), so this is NOT a barrier / NOT dropped as a
    # linestring — it flows through with zero area, must not crash kernels
    add("multilinestring", [_line((0.86, 0.68), (0.94, 0.68)), _line((0.86, 0.69), (0.94, 0.69))],
        {"barrier": "fence"})
    # multipoint gate: not a point entrance under strict kinds; zero-area
    add("multipoint", [_pt(0.87, 0.68), _pt(0.93, 0.68)], {"barrier": "gate"})

    return rows


def elements_to_spark(spark, rows: list[dict] | None = None):
    """Build the `elements` DataFrame with the engine schema (SURVEY.md §1.3).

    The rows go through a pandas frame, as in `images_to_spark`. In a
    session with Arrow enabled (`get_spark`'s) the frame is a
    `LocalRelation`: a scan starts no Python worker, and Catalyst's
    `ConvertToLocalRelation` folds the whole `classify_stage` projection
    into one `LocalTableScan` at optimization time, so no classify code is
    generated. A source that is not local (PBF, parquet) still runs that
    projection per row. Each `tags` map keeps its dict's insertion order."""
    import pandas as pd
    from pyspark.sql import types as T

    if rows is None:
        rows = generate_elements()
    schema = T.StructType(
        [
            T.StructField("element_id", T.LongType(), False),
            T.StructField("geom_kind", T.StringType(), True),
            T.StructField("geom", T.ArrayType(T.ArrayType(T.ArrayType(T.DoubleType()))), True),
            T.StructField("tags", T.MapType(T.StringType(), T.StringType()), False),
        ]
    )
    return spark.createDataFrame(pd.DataFrame(rows, columns=schema.fieldNames()), schema)
