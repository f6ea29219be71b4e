"""Vienna-fixture classification tests (SURVEY.md §5.2 layer 2).

Runs the engine's clean+classify stages on the synthetic Rabenhof-shaped
elements table and asserts per-row (space_type, access, space_category)
equality against the independent python transliteration of the reference rule
tables (tests/rules_oracle.py)."""

import pytest
from pyspark.sql import functions as F

import rules_oracle as O
from osm_public_space_mapper_spark.fixtures.elements import generate_elements, elements_to_spark
from osm_public_space_mapper_spark.functions import classify
from osm_public_space_mapper_spark.operators import clean
from osm_public_space_mapper_spark.plans.pipeline import classify_stage


def oracle_pipeline(rows):
    """Reference-order classification for every fixture row that survives the
    clean chain (mirrors full_data_analysis.py:28-68,134-145)."""
    out = {}
    for r in rows:
        kind, tags = r["geom_kind"], r["tags"]
        if kind is None or r["geom"] is None or len(r["geom"]) == 0:
            continue
        if len(tags) == 0:
            continue
        if kind == "point" and not O.is_entrance(kind, tags):
            continue
        if O.is_non_groundlevel(tags):
            continue
        building = O.is_building(kind, tags)
        if not building:
            relevant = ["highway", "public_transport", "railway", "barrier", "amenity", "leisure",
                        "natural", "water", "parking", "embankment", "landuse", "footway", "bridge",
                        "place", "construction", "parking_space", "man_made"]
            if not any(k in tags for k in relevant):
                continue
            if "boundary" in tags:
                continue
            irrelevant_values = {
                "natural": {"tree_row"},
                "landuse": {"commercial", "retail", "residential", "industrial", "education"},
                "place": {"neighbourhood", "city_block", "locality", "quarter"},
                "indoor": {"yes", "room"},
                "highway": {"corridor", "proposed"},
            }
            relevant_amenity = ["fountain", "shelter", "parking", "parking_space", "bus_station",
                                "grave_yard", "biergarten", "motorcycle_parking", "public_bath"]
            if any(tags.get(k) in v for k, v in irrelevant_values.items()):
                continue
            if "amenity" in tags and tags["amenity"] not in relevant_amenity:
                continue
        # clean_geometries: simple-multipolygon → polygon, false polygon → linestring
        if kind == "multipolygon" and len(r["geom"]) == 1:
            kind = "polygon"
        false_poly = (
            ("highway" in tags and kind == "polygon")
            or (tags.get("barrier") in ("fence", "hedge") and kind == "polygon")
            or (tags.get("barrier") == "wall" and "building" not in tags and kind == "polygon")
        ) and tags.get("area") != "yes"
        if false_poly:
            kind = "linestring"
        if building:
            out[r["element_id"]] = ("building", "undefined", "building")
            continue
        access = O.interpret_tags_access(tags)
        st, access_ow = O.traffic_space_type(kind, tags)
        if access_ow is not None:
            access = access_ow
        if st is None:
            st = O.missing_space_type(tags)
        if access is None and st is not None:
            access = O.assumed_access(st)
        out[r["element_id"]] = (st, access, O.space_category(st) if st else None)
    return out


@pytest.fixture(scope="module")
def classified(spark):
    # building rows carry their stamp; the write-once stages keep it
    both = classify_stage(elements_to_spark(spark))
    both = classify.set_missing_space_types(both)
    both = both.withColumn("access", F.coalesce("access", classify.assumed_access()))
    both = classify.set_space_category(both)
    rows = both.select("element_id", "space_type", "access", "space_category").collect()
    return {r.element_id: (r.space_type, r.access, r.space_category) for r in rows}


def test_classification_matches_oracle_per_row(classified):
    expected = oracle_pipeline(generate_elements())
    assert set(classified.keys()) == set(expected.keys())
    mismatches = {
        eid: (classified[eid], expected[eid])
        for eid in expected
        if classified[eid] != expected[eid]
    }
    assert not mismatches, f"{len(mismatches)} mismatches: {mismatches}"


def test_spot_checks(classified):
    # building
    assert classified[1] == ("building", "undefined", "building")
    # park with fee → greenspace restricted
    assert classified[21] == ("park", "restricted", "greenspace")
    # 24/7 park stays yes
    assert classified[22] == ("park", "yes", "greenspace")
    # parking polygon force-overwrites access=yes → no, category road
    assert classified[52] == ("parking", "no", "road")
    # meadow → no-access list
    assert classified[20] == ("meadow", "no", "greenspace")


def test_barrier_access_provenance(spark):
    """Rows whose access is written by the barrier join are stamped
    access_derived_from='barrier'; tags-derived rows keep 'tags'
    (write-once — reference analyse_access.py:24-49,81-149)."""
    from osm_public_space_mapper_spark.functions import predicates as P
    from osm_public_space_mapper_spark.operators.barriers import interpret_barriers

    rest = classify_stage(elements_to_spark(spark)).filter(~F.col("_building"))
    rest = clean.drop_road_rail_walking(rest)
    before = {r.element_id: (r.access, r.access_derived_from)
              for r in rest.select("element_id", "access", "access_derived_from").collect()}
    out = interpret_barriers(rest)
    rows = out.filter(P.is_barrier()).select(
        "element_id", "access", "access_derived_from"
    ).collect()
    assert rows, "fixture must contain barrier rows"
    resolved_here = [r for r in rows if before[r.element_id][0] is None]
    assert resolved_here, "fixture must contain barriers without tags-derived access"
    for r in resolved_here:
        assert r.access is not None
        assert r.access_derived_from == "barrier", (r.element_id, r.access_derived_from)
    for r in rows:
        if before[r.element_id][0] is not None:  # write-once: tags provenance kept
            assert r.access_derived_from == before[r.element_id][1]


def test_warning_side_outputs(spark):
    """A5: uncategorized space types surface as warning rows, not prints."""
    df = spark.createDataFrame(
        [("park", "yes"), ("weird_thing", None), ("weird_thing", None), ("road", "no")],
        "space_type string, access string",
    )
    cat = {r.space_type: r.n_elements for r in classify.uncategorized_space_type_warnings(df).collect()}
    assert cat == {"weird_thing": 2}
    acc = {r.space_type: r.n_elements for r in classify.unassumed_access_warnings(df).collect()}
    assert acc == {"weird_thing": 2}


def test_road_width_matches_oracle(spark):
    rest = classify_stage(elements_to_spark(spark)).filter(~F.col("_building"))
    widths = {
        r.element_id: r.width
        for r in rest.filter(F.col("space_type") == "road")
        .withColumn("width", classify.road_width())
        .select("element_id", "width")
        .collect()
    }
    rows = {r["element_id"]: r for r in generate_elements()}
    for eid, w in widths.items():
        expected = O.road_width(rows[eid]["tags"])
        assert abs(w - expected) < 1e-9, (eid, w, expected, rows[eid]["tags"])
    assert len(widths) >= 8


def test_road_width_under_second_region(spark):
    """The regional config surface (reference regional_defaults.py:6-55):
    swapping the street-width table must shift estimated widths exactly, with
    no operator edits. A doubled-residential region widens residential rows
    by the bi/uni delta (scaled by any lanes factor) and leaves others
    untouched; explicit width tags still win."""
    from osm_public_space_mapper_spark.config import VIENNA

    region2 = VIENNA.with_highway_widths({"residential": (9.0, 7.2)})
    assert VIENNA.highway_default_widths["residential"] == (4.5, 3.6)  # default untouched

    rest = classify_stage(elements_to_spark(spark)).filter(~F.col("_building"))
    roads = rest.filter(F.col("space_type") == "road")
    both = roads.select(
        "element_id",
        "tags",
        classify.road_width().alias("w_vienna"),
        classify.road_width(region2).alias("w_region2"),
    ).collect()
    assert len(both) >= 8
    n_res = 0
    for r in both:
        tags = r.tags or {}
        if "width" in tags or "width:carriageway" in tags:
            assert r.w_region2 == r.w_vienna  # explicit tag wins in any region
        elif tags.get("highway") == "residential":
            n_res += 1
            uni = "oneway" in tags
            base_v, base_2 = (3.6, 7.2) if uni else (4.5, 9.0)
            lanes = tags.get("lanes")
            factor = float(lanes) / (1.0 if uni else 2.0) if lanes else 1.0
            if lanes and factor == 1.0:
                factor = 1.0
            assert abs((r.w_region2 - r.w_vienna) - (base_2 - base_v) * factor) < 1e-9, (
                r.element_id, tags, r.w_vienna, r.w_region2
            )
        else:
            assert r.w_region2 == r.w_vienna, (r.element_id, tags)
    assert n_res >= 1  # fixture actually exercises the overridden type


def test_pipeline_road_area_shifts_with_region(spark):
    """End-to-end: the full classify→overlay pipeline under a wider street
    table must grow the traffic-area layer (and its share of the fixed bbox)
    — the width knob reaches the raster buffer kernel."""
    from osm_public_space_mapper_spark.config import VIENNA
    from osm_public_space_mapper_spark.fixtures.elements import BBOX_4326, elements_to_spark as _els
    from osm_public_space_mapper_spark.operators.overlay_core import OverlayConfig
    from osm_public_space_mapper_spark.plans.pipeline import (
        projected_bbox_ring,
        release_overlay_records,
        run_pipeline,
    )

    ring = projected_bbox_ring(
        BBOX_4326["left"], BBOX_4326["bottom"], BBOX_4326["right"], BBOX_4326["top"]
    )
    env = (float(ring[:, 0].min()), float(ring[:, 1].min()),
           float(ring[:, 0].max()), float(ring[:, 1].max()))
    cfg = OverlayConfig(px=0.5, margin=64.0, bbox=env, bbox_ring=ring)

    def traffic_area(region):
        layer = run_pipeline(_els(spark), cfg, overlay_res=8, region=region)
        rows = layer.filter(F.col("space_category") == "traffic area").collect()
        release_overlay_records(layer)
        return sum(r.area for r in rows)

    base = traffic_area(None)  # Vienna default
    wide = traffic_area(VIENNA.with_highway_widths({
        "residential": (9.0, 7.2), "primary": (13.0, 7.6), "everything else": (10.5, 7.2),
    }))
    assert base > 0
    assert wide > base * 1.2, (base, wide)  # doubled widths → clearly larger traffic layer


def test_pipeline_pedestrian_width_reaches_overlay_kernel(spark):
    """r04 (ADVICE): pedestrian_way_default_width must reach the overlay
    kernel's J8 building-cropper band (reference analyse_traffic_area.py:273
    ties the building buffer to it), not just the classify-stage width
    tables. A much wider pedestrian width buffers building croppers wider →
    more road area cropped away → the traffic layer SHRINKS."""
    from dataclasses import replace as dc_replace

    from osm_public_space_mapper_spark.config import VIENNA
    from osm_public_space_mapper_spark.fixtures.elements import BBOX_4326, elements_to_spark as _els
    from osm_public_space_mapper_spark.operators.overlay_core import OverlayConfig
    from osm_public_space_mapper_spark.plans.pipeline import (
        projected_bbox_ring,
        release_overlay_records,
        run_pipeline,
    )

    ring = projected_bbox_ring(
        BBOX_4326["left"], BBOX_4326["bottom"], BBOX_4326["right"], BBOX_4326["top"]
    )
    env = (float(ring[:, 0].min()), float(ring[:, 1].min()),
           float(ring[:, 0].max()), float(ring[:, 1].max()))
    cfg = OverlayConfig(px=0.5, margin=64.0, bbox=env, bbox_ring=ring)

    def traffic_area(region):
        layer = run_pipeline(_els(spark), cfg, overlay_res=8, region=region)
        rows = layer.filter(F.col("space_category") == "traffic area").collect()
        release_overlay_records(layer)
        return sum(r.area for r in rows)

    base = traffic_area(VIENNA)
    wide_ped = traffic_area(dc_replace(VIENNA, pedestrian_way_default_width=8.0))
    assert base > 0
    # net effect is damped (the road close radius also grows with the same
    # knob and re-fills some cropped pixels) but must be clearly negative:
    # measured −1.6% on the fixture
    assert wide_ped < base * 0.99, (base, wide_ped)


def test_clean_chain_metrics(spark):
    from osm_public_space_mapper_spark.operators.clean import clean_chain, clean_chain_with_metrics

    df, obs = clean_chain_with_metrics(elements_to_spark(spark))
    rows = sorted(map(repr, df.collect()))  # the action materializes the observation
    m = obs.get
    assert m["n_invalid"] == 3
    assert m["n_empty"] == 4
    assert m["n_untagged"] == 60
    assert m["n_input"] == 150  # 147 + 3 multi-kind rows (r02)
    # the metrics variant is the plain chain plus an observation
    assert rows and rows == sorted(map(repr, clean_chain(elements_to_spark(spark)).collect()))
