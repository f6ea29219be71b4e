"""End-to-end pipeline tests on the Vienna-shaped fixture (SURVEY.md §5.2).

Checks the reference's own verification artifacts, re-expressed:
- completeness: per-cell covered-area gap < 0.01 m² (export_data.py:10-17)
- non-null category/access on every output row
- the (space_category, access) inventory
- semantic probes: known points must land in known (category, access) —
  exercises classification, buffering, barrier/enclosed-area logic, the
  overlay cascade and bbox crop in one assertion each.
"""

import numpy as np
import pytest

from osm_public_space_mapper_spark.fixtures.elements import BBOX_4326, elements_to_spark
from osm_public_space_mapper_spark.geo.arrowgeom import np_parts
from osm_public_space_mapper_spark.geo.kernels import points_in_polygon
from osm_public_space_mapper_spark.geo.laea import laea_forward
from osm_public_space_mapper_spark.operators import joins, tiling
from osm_public_space_mapper_spark.operators.overlay_core import OverlayConfig
from osm_public_space_mapper_spark.plans.pipeline import (
    build_overlay_records,
    classify_stage,
    overlay_stage,
    projected_bbox_ring,
    release_overlay_records,
    run_pipeline,
)


def _frac_to_proj(fx, fy):
    lon = BBOX_4326["left"] + fx * (BBOX_4326["right"] - BBOX_4326["left"])
    lat = BBOX_4326["bottom"] + fy * (BBOX_4326["top"] - BBOX_4326["bottom"])
    x, y = laea_forward(np.array([lon]), np.array([lat]))
    return float(x[0]), float(y[0])


@pytest.fixture(scope="module")
def layer(fixture_layer):
    return fixture_layer.collect()


def _lookup(layer_rows, fx, fy):
    """(category, access) pairs of output polygons containing the probe."""
    x, y = _frac_to_proj(fx, fy)
    hits = []
    for r in layer_rows:
        rings = np_parts(r.geom)
        if rings and points_in_polygon(np.array([x]), np.array([y]), rings)[0]:
            hits.append((r.space_category, r.access))
    return sorted(set(hits))


def test_completeness_and_nonnull(layer):
    assert len(layer) > 0
    for r in layer:
        assert r.space_category is not None
        assert r.access is not None
        assert abs(r.completeness_gap) < 0.01  # A6 tolerance per cell window
        assert r.area > 0


def test_inventory(layer):
    inv = {(r.space_category, r.access) for r in layer}
    expected = {
        ("building", "undefined"),
        ("construction", "no"),
        ("greenspace", "yes"),
        ("greenspace", "no"),
        ("greenspace", "restricted"),
        ("open space", "yes"),
        ("play and sports", "yes"),
        ("play and sports", "restricted"),
        ("traffic area", "no"),
        ("water", "no"),
        ("water", "restricted"),
        ("undefined space", "yes"),
        ("undefined space", "no"),
    }
    assert expected <= inv, f"missing: {expected - inv}; extra: {inv - expected}"


def test_probes(layer):
    # building A interior
    assert _lookup(layer, 0.34, 0.34) == [("building", "undefined")]
    # park interior (away from roads/playgrounds)
    assert _lookup(layer, 0.24, 0.87) == [("greenspace", "yes")]
    # private garden
    assert _lookup(layer, 0.10, 0.10) == [("greenspace", "no")]
    # playground inside park: play wins the cascade over greenspace
    assert _lookup(layer, 0.11, 0.63) == [("play and sports", "yes")]
    # pitch access=customers
    assert _lookup(layer, 0.19, 0.63) == [("play and sports", "restricted")]
    # water
    assert _lookup(layer, 0.11, 0.83) == [("water", "no")]
    # primary road centreline → traffic area
    assert _lookup(layer, 0.62, 0.50) == [("traffic area", "no")]
    # parking polygon → road category → traffic area, access no
    assert _lookup(layer, 0.53, 0.67) == [("traffic area", "no")]
    # garden inside the inaccessible fence ring → access transferred to 'no'
    assert _lookup(layer, 0.775, 0.775) == [("greenspace", "no")]
    # between fence1 and its inner garden → inaccessible enclosed area → undefined space/no
    assert _lookup(layer, 0.72, 0.72) == [("undefined space", "no")]
    # inside the ACCESSIBLE fence2 ring (crossing point entrance) → plain undefined/yes
    assert _lookup(layer, 0.12, 0.35) == [("undefined space", "yes")]
    # empty area → undefined space yes
    assert _lookup(layer, 0.50, 0.89) == [("undefined space", "yes")]
    # multipolygon park with TWO outer rings: both rects paint greenspace/yes
    assert _lookup(layer, 0.875, 0.635) == [("greenspace", "yes")]
    assert _lookup(layer, 0.925, 0.635) == [("greenspace", "yes")]
    # multilinestring fence / multipoint gate contribute zero area (strict
    # reference kinds) — the spot where they sit stays undefined space
    assert _lookup(layer, 0.875, 0.685) == [("undefined space", "yes")]


def test_total_area_matches_bbox(layer):
    ring = projected_bbox_ring(BBOX_4326["left"], BBOX_4326["bottom"], BBOX_4326["right"], BBOX_4326["top"])
    from osm_public_space_mapper_spark.geo.kernels import ring_signed_area

    bbox_area = abs(ring_signed_area(ring))
    total = sum(r.area for r in layer)
    assert abs(total - bbox_area) / bbox_area < 0.002


def _overlay_cfg(px):
    ring = projected_bbox_ring(BBOX_4326["left"], BBOX_4326["bottom"], BBOX_4326["right"], BBOX_4326["top"])
    env = (float(ring[:, 0].min()), float(ring[:, 1].min()), float(ring[:, 0].max()), float(ring[:, 1].max()))
    return OverlayConfig(px=px, margin=64.0, bbox=env, bbox_ring=ring)


def test_layer_build_plans_have_no_python_eval(spark):
    """bbox and cell cover are Catalyst: past the checkpointed records, the
    only Python in the overlay, tiling and PIP-explode plans is their
    per-group kernels, never a scalar ArrowEvalPython node."""
    records = build_overlay_records(classify_stage(elements_to_spark(spark)))
    try:
        layer = overlay_stage(records, _overlay_cfg(0.5), overlay_res=8)
        plans = {
            "overlay_stage": layer,
            "rasterize_tiles": tiling.rasterize_tiles(layer, tile_res=10, px=0.5),
            "explode_layer_to_cells": joins.explode_layer_to_cells(layer, 13),
        }
        for name, df in plans.items():
            plan = df._jdf.queryExecution().optimizedPlan().toString()
            assert plan.count("ArrowEvalPython") == 0, name
    finally:
        release_overlay_records(records)


def test_release_overlay_records(spark, tmp_path):
    """build → materialize → release puts the session back at its pre-build
    persistent-RDD count; the materialized copy stays readable."""
    jsc = spark.sparkContext._jsc.sc()
    base = jsc.getPersistentRDDs().size()
    layer = run_pipeline(elements_to_spark(spark), _overlay_cfg(1.0), overlay_res=8)
    assert jsc.getPersistentRDDs().size() == base + 1  # the records' localCheckpoint
    layer.write.parquet(str(tmp_path / "layer"))
    release_overlay_records(layer)
    assert jsc.getPersistentRDDs().size() == base
    assert spark.read.parquet(str(tmp_path / "layer")).count() > 0


def test_overlay_record_roles(spark):
    """The fixture's records per role. A building passage keeps its road or
    pedestrian record, and a platform its element record."""
    records = build_overlay_records(classify_stage(elements_to_spark(spark)))
    try:
        rows = records.select("element_id", "role").collect()
    finally:
        release_overlay_records(records)
    ids = {}
    for r in rows:
        ids.setdefault(r.role, []).append(r.element_id)
    assert {role: len(v) for role, v in ids.items()} == {
        "barrier_inacc": 5, "building": 5, "element": 31, "passage": 1,
        "pedestrian": 8, "platform": 1, "rail": 3, "road": 12,
    }
    assert set(ids["passage"]) <= set(ids["road"]) | set(ids["pedestrian"])
    assert set(ids["platform"]) <= set(ids["element"])
