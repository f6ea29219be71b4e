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

from osm_public_space_mapper_spark.fixtures.elements import BBOX_4326, elements_to_spark, generate_elements
from osm_public_space_mapper_spark.functions.geometry import laea_expr, st_project
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
    run_pipeline,
)
from osm_public_space_mapper_spark.session import release


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


def test_laea_expr_matches_laea_forward(spark):
    """The Catalyst projection agrees with the numpy one to 1e-6 m over
    EPSG:3035's area of use and on every fixture vertex."""
    lon, lat = np.meshgrid(np.linspace(-35.5, 44.8, 41), np.linspace(24.6, 84.7, 31))
    pts = np.stack([lon.ravel(), lat.ravel()], axis=1)
    fixture = [q for r in generate_elements() if r["geom"] for part in r["geom"] for q in part]
    pts = np.concatenate([pts, np.asarray(fixture, np.float64)])
    df = spark.createDataFrame([(float(a), float(b)) for a, b in pts], "lon double, lat double")
    got = np.array([(r.xy.x, r.xy.y) for r in df.select(laea_expr(df.lon, df.lat).alias("xy")).collect()])
    x, y = laea_forward(pts[:, 0], pts[:, 1])
    assert np.abs(got - np.stack([x, y], axis=1)).max() <= 1e-6


def test_st_project_keeps_null_and_empty(spark):
    df = spark.createDataFrame(
        [(1, None), (2, []), (3, [[[10.0, 52.0]]])], "id int, geom array<array<array<double>>>"
    )
    rows = {r.id: r.g for r in df.select("id", st_project(df.geom).alias("g")).collect()}
    assert rows[1] is None and rows[2] == []
    assert np.allclose(rows[3], [[[4321000.0, 3210000.0]]], rtol=0, atol=1e-6)


def test_parking_building_keeps_building_access(spark):
    """A building tagged amenity=parking is split off before the parking
    access overwrite in the reference, so it keeps access 'undefined'."""
    ring = [[16.400, 48.195], [16.401, 48.195], [16.401, 48.196], [16.400, 48.196], [16.400, 48.195]]
    rows = [
        {"element_id": 1, "geom_kind": "polygon", "geom": [ring], "tags": {"building": "yes", "amenity": "parking"}},
        {"element_id": 2, "geom_kind": "polygon", "geom": [ring], "tags": {"amenity": "parking", "access": "yes"}},
    ]
    got = {
        r.element_id: (r._building, r.space_type, r.access, r.access_derived_from)
        for r in classify_stage(elements_to_spark(spark, rows)).collect()
    }
    assert got == {
        1: (True, "building", "undefined", "undefined"),
        2: (False, "parking", "no", "tags"),
    }


def test_layer_build_plans_have_no_python_eval(spark, fixture_layer, tmp_path):
    """Projection, bbox and cell cover are Catalyst: the classified frame
    scans the elements once with no Python node. Over the local fixture
    frame Catalyst folds the whole classify stage into its one
    LocalTableScan; over the same rows stored as parquet (the scale path,
    which does not fold) it is one file scan. Past the checkpointed records
    the only Python in the overlay, tiling and PIP-explode plans is their
    per-group kernels, never a scalar ArrowEvalPython node. Tiles are cut
    from the stored layer's masks row by row: no shuffle, no grouped
    kernel."""
    local = elements_to_spark(spark)
    local.write.parquet(str(tmp_path / "elements"))
    stored = spark.read.parquet(str(tmp_path / "elements"))
    for source, scan in ((local, "LocalTableScan"), (stored, "FileScan parquet")):
        plan = classify_stage(source)._jdf.queryExecution().executedPlan().toString()
        assert plan.count("ArrowEvalPython") == 0, scan
        assert plan.count("Scan ExistingRDD") == 0, scan
        assert plan.count(scan) == 1, scan
    records = build_overlay_records(classify_stage(local))
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
        release(records)
    plan = tiling.rasterize_tiles(fixture_layer, tile_res=10, px=0.25)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 0
    assert plan.count("FlatMapGroupsInPandas") == 0


def test_elements_frame_is_a_local_relation(spark):
    """The fixture frame goes through Arrow into a LocalRelation (no Python
    RDD to scan) and holds the generated rows; `tags` compares as a dict,
    since a map's entry order is not part of its value."""
    df = elements_to_spark(spark)
    assert df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName() == "LocalRelation"
    got = [(r.element_id, r.geom_kind, r.geom, dict(r.tags)) for r in df.collect()]
    assert got == [(r["element_id"], r["geom_kind"], r["geom"], r["tags"]) for r in generate_elements()]


def test_session_has_origin_capture_off(spark):
    """`get_spark` turns PySpark's per-call origin capture off (see its
    docstring for what that gives up)."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


# py4j commands Python sends for elements_to_spark → classify_stage →
# build_overlay_records on the fixture: 7.1 k measured with origin capture off
# and the withColumn chains merged; 21.6 k with capture on and the elements
# built as a Python RDD (4 cores)
RECORDS_PY4J_BUDGET = 14_000


def test_records_build_py4j_budget(spark, monkeypatch):
    """Building the fixture's overlay records stays on the JVM: the number of
    py4j commands Python sends stays under RECORDS_PY4J_BUDGET."""
    import py4j.clientserver

    sent = []
    send = py4j.clientserver.ClientServerConnection.send_command

    def counted(self, *args, **kwargs):
        sent.append(1)
        return send(self, *args, **kwargs)

    monkeypatch.setattr(py4j.clientserver.ClientServerConnection, "send_command", counted)
    records = build_overlay_records(classify_stage(elements_to_spark(spark)))
    monkeypatch.undo()
    try:
        assert len(sent) <= RECORDS_PY4J_BUDGET
    finally:
        release(records)


def test_release_overlay_records(spark, tmp_path):
    """build → materialize → release puts the session back at its pre-build
    persistent-RDD count; the materialized copy stays readable."""
    jsc = spark.sparkContext._jsc.sc()
    base = jsc.getPersistentRDDs().size()
    layer = run_pipeline(elements_to_spark(spark), _overlay_cfg(1.0), overlay_res=8)
    assert jsc.getPersistentRDDs().size() == base + 1  # the records' localCheckpoint
    layer.write.parquet(str(tmp_path / "layer"))
    release(layer)
    assert jsc.getPersistentRDDs().size() == base
    assert spark.read.parquet(str(tmp_path / "layer")).count() > 0


def test_polygon_layer_is_one_pinned_session_build(spark, tmp_path, monkeypatch):
    """The entry's fixture layer is built in the session and pinned: one
    persistent RDD (the records behind it released), which survives
    clearCache(), and no layer copy written under the temp dir."""
    import tempfile

    import __spark_entry__ as E

    def ids():
        return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keys()}

    monkeypatch.setattr(E, "_LAYER_CACHE", {})
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    before = ids()
    layer = E._polygon_layer(spark)
    try:
        # compare id sets, not counts: Spark's context cleaner can drop RDDs
        # that earlier tests left unreferenced while the layer builds
        new = ids() - before
        assert len(new) == 1
        spark.catalog.clearCache()
        assert new <= ids()
        assert layer.count() > 0
        assert not list(tmp_path.glob("ospm_layer_*"))
    finally:
        release(layer)
    assert not new & ids()


def test_overlay_record_roles(spark):
    """The fixture's records per role. A building passage keeps its road or
    pedestrian record, and a platform its element record."""
    records = build_overlay_records(classify_stage(elements_to_spark(spark)))
    try:
        rows = records.select("element_id", "role").collect()
    finally:
        release(records)
    ids = {}
    for r in rows:
        ids.setdefault(r.role, []).append(r.element_id)
    assert {role: len(v) for role, v in ids.items()} == {
        "barrier_inacc": 5, "building": 5, "element": 31, "passage": 1,
        "pedestrian": 8, "platform": 1, "rail": 3, "road": 12,
    }
    assert set(ids["passage"]) <= set(ids["road"]) | set(ids["pedestrian"])
    assert set(ids["platform"]) <= set(ids["element"])


def test_run_overlay_kernel_without_spark():
    """The overlay kernel on a hand-built group frame, no Spark session: one
    res-8 cell holding a 40 m building and a 6 m road line crossing it. Each
    row's mask holds exactly its area, the masks partition the cell's core,
    and the building keeps every pixel the road crosses."""
    import pandas as pd

    from osm_public_space_mapper_spark.cells.grid import cell_bbox, encode_cells
    from osm_public_space_mapper_spark.operators.overlay_core import run_overlay
    from osm_public_space_mapper_spark.operators.tiling import unpack

    px = 1.0
    cell = int(encode_cells(np.array([4_800_100.0]), np.array([2_800_100.0]), 8)[0])
    x0, y0, x1, y1 = (float(v[0]) for v in cell_bbox(np.array([cell])))
    cx, cy = (x0 + x1) / 2, (y0 + y1) / 2
    square = [[cx - 20, cy - 20], [cx + 20, cy - 20], [cx + 20, cy + 20], [cx - 20, cy + 20], [cx - 20, cy - 20]]
    base = dict(overlay_cell=cell, access_tags=None, assumed_access=None, cap_style="square")
    pdf = pd.DataFrame([
        dict(base, element_id=2, role="road", geom_kind="linestring", geom=[[[x0 + 100, cy], [x1 - 100, cy]]],
             space_category="road", buf_width=6.0),
        dict(base, element_id=1, role="building", geom_kind="polygon", geom=[square],
             space_category="building", buf_width=0.0),
    ])
    rows = run_overlay(pdf, OverlayConfig(px=px, margin=16.0, bbox=(x0, y0, x1, y1)))
    masks = {}
    for r in rows.itertuples(index=False):
        m = unpack(r)
        assert m.sum() * px * px == r.area
        masks[(r.space_category, r.access)] = m
    building, road = masks[("building", "undefined")], masks[("traffic area", "no")]
    assert (sum(m.astype(int) for m in masks.values()) <= 1).all()
    assert rows["area"].sum() == rows["core_area"].iloc[0] == (x1 - x0) * (y1 - y0)
    assert (rows["completeness_gap"] == 0).all()
    assert building.sum() * px * px == 40 * 40
    assert road.any() and not (building & road).any()


def _barrier_ring_interior(angle_deg, px, shift):
    """A7 on a hand-built group frame, no Spark session: one closed 60 m
    square barrier_inacc ring turned by `angle_deg`, its centre moved by
    `shift` off the res-8 cell centre (which lies on the pixel lattice).
    Returns the enclosed 'undefined space' / 'no' area."""
    import pandas as pd

    from osm_public_space_mapper_spark.cells.grid import cell_bbox, encode_cells
    from osm_public_space_mapper_spark.operators.overlay_core import run_overlay

    cell = int(encode_cells(np.array([4_800_100.0]), np.array([2_800_100.0]), 8)[0])
    x0, y0, x1, y1 = (float(v[0]) for v in cell_bbox(np.array([cell])))
    cx, cy = (x0 + x1) / 2 + shift[0], (y0 + y1) / 2 + shift[1]
    a = np.deg2rad(angle_deg)
    rot = np.array([[np.cos(a), -np.sin(a)], [np.sin(a), np.cos(a)]])
    corners = np.array([[-30.0, -30.0], [30.0, -30.0], [30.0, 30.0], [-30.0, 30.0], [-30.0, -30.0]])
    ring = (corners @ rot.T + [cx, cy]).tolist()
    pdf = pd.DataFrame([dict(
        overlay_cell=cell, element_id=1, role="barrier_inacc", geom_kind="linestring", geom=[ring],
        space_category=None, access_tags=None, assumed_access=None, buf_width=0.0, cap_style="square",
    )])
    rows = run_overlay(pdf, OverlayConfig(px=px, margin=16.0, bbox=(cx - 50, cy - 50, cx + 50, cy + 50)))
    return rows.set_index(["space_category", "access"])["area"][("undefined space", "no")]


@pytest.mark.parametrize("px", [1.0, 0.5, 0.25])
@pytest.mark.parametrize("angle_deg", [0, 20, 45, 60])
def test_barrier_ring_encloses_its_interior(angle_deg, px):
    """The buffered barrier line (one pixel wide, square caps) must close at
    every corner of a ring turned off the pixel axes, so the enclosed row
    holds the (60 − px)² interior. The square sits off the pixel lattice;
    the lattice-centred case is the known tie below."""
    area = _barrier_ring_interior(angle_deg, px, (0.13, 0.37))
    assert abs(area / (60 - px) ** 2 - 1) < 0.005


@pytest.mark.xfail(
    strict=True,
    reason="geo/offset.pieces_mask takes every pixel whose centre lies exactly on a piece edge, "
    "so a one-pixel line along pixel edges (0°) or pixel diagonals (45°) covers the wrong pixel count",
)
@pytest.mark.parametrize("px", [1.0, 0.5, 0.25])
@pytest.mark.parametrize("angle_deg", [0, 45])
def test_barrier_ring_on_pixel_lattice_encloses_its_interior(angle_deg, px):
    """The same ring centred on the pixel lattice: at 0° its edges lie on
    pixel edges and at 45° run through pixel centres, where the edge tie
    rule decides the line's width (58² m² instead of 59² at 0° / px 1.0)."""
    area = _barrier_ring_interior(angle_deg, px, (0.0, 0.0))
    assert abs(area / (60 - px) ** 2 - 1) < 0.005
