"""Salted two-stage aggregation, GeoJSON export, pipeline resume
(SURVEY.md §5.2 layers 5-6; north rule salting + lineage requirements)."""

import json

import pytest
from pyspark.sql import functions as F

from osm_public_space_mapper_spark.fixtures.elements import BBOX_4326, elements_to_spark
from osm_public_space_mapper_spark.fixtures.images import generate_images, images_to_spark
from osm_public_space_mapper_spark.operators import joins, skew
from osm_public_space_mapper_spark.operators.overlay_core import OverlayConfig
from osm_public_space_mapper_spark.plans.pipeline import projected_bbox_ring, run_pipeline
from osm_public_space_mapper_spark.sources.geojson import save_geojson
from osm_public_space_mapper_spark.tables.icelite import IceliteTable


@pytest.fixture(scope="module")
def layer(fixture_layer):
    return fixture_layer


def test_salted_count_equals_plain(spark):
    imgs = images_to_spark(spark, generate_images(5000, seed=7, with_pixels=False))
    imgs = joins.with_cells(joins.project_points(joins.with_geotag(imgs)))
    plain = {r.cell: r.n for r in imgs.groupBy("cell").agg(F.count("*").alias("n")).collect()}
    salted = {r.cell: r.n for r in skew.salted_count(imgs, ["cell"]).collect()}
    assert plain == salted
    # the fixture really is skewed: hottest cell ≫ median
    counts = sorted(plain.values())
    assert counts[-1] > 5 * counts[len(counts) // 2]


def test_merged_layer_two_stage_union(spark, layer):
    merged = skew.merged_layer(layer).collect()
    keys = {(r.space_category, r.access) for r in merged}
    per_cell = layer.groupBy("space_category", "access").agg(
        F.round(F.sum("area"), 6).alias("area")
    ).collect()
    assert keys == {(r.space_category, r.access) for r in per_cell}
    areas_merged = {(r.space_category, r.access): r.area for r in merged}
    areas_plain = {(r.space_category, r.access): r.area for r in per_cell}
    for k in areas_plain:
        assert abs(areas_merged[k] - areas_plain[k]) < 1e-6


def test_geojson_export(spark, layer, tmp_path):
    merged = skew.merged_layer(layer).collect()
    out = str(tmp_path / "public_space.geojson")
    fc = save_geojson(merged, out)
    with open(out) as f:
        loaded = json.load(f)
    assert loaded["type"] == "FeatureCollection"
    assert len(loaded["features"]) == len(merged)
    for feat in loaded["features"]:
        assert feat["properties"]["space_category"] is not None
        assert feat["properties"]["access"] is not None
        coords = feat["geometry"]["coordinates"]
        assert coords and coords[0]
        # all coordinates inside (slightly padded) Rabenhof bbox in 4326
        for poly in coords:
            for ring in poly:
                for lon, lat in ring:
                    assert 16.39 < lon < 16.41 and 48.19 < lat < 48.20


def test_pipeline_resume_via_icelite(spark, layer, tmp_path):
    """Kill-after-stage-k simulation: commit a subset of overlay cells, then
    resume — identical final table, completed partitions skipped."""
    table = IceliteTable(str(tmp_path / "layer_tbl"))
    cells = sorted(r.overlay_cell for r in layer.select("overlay_cell").distinct().collect())
    assert len(cells) >= 2
    first = cells[: len(cells) // 2]
    # partial run commits only some cells (simulated crash after stage k)
    table.commit(layer.filter(F.col("overlay_cell").isin(first)), "overlay_cell", stage="overlay")
    done = table.completed_partitions("overlay")
    assert done == {str(c) for c in first}
    # resume: full dataset offered, only missing partitions written
    table.commit_resumable(layer, "overlay_cell", stage="overlay")
    back = table.read(spark)
    assert back.count() == layer.count()
    # lineage covers every partition exactly once
    parts = [m["partition"] for m in table.lineage()]
    assert sorted(parts) == sorted(str(c) for c in cells)
    # content equality with the in-memory layer (area multiset)
    a1 = sorted(round(r.area, 6) for r in layer.select("area").collect())
    a2 = sorted(round(r.area, 6) for r in back.select("area").collect())
    assert a1 == a2


def test_salted_pip_join_equals_unsalted(spark, layer):
    """Regression: salted join keys must co-locate with mask rows (a
    bigint/int `_salt` type mismatch silently dropped ~half the groups)."""
    from osm_public_space_mapper_spark.fixtures.images import synth_images_spark
    from osm_public_space_mapper_spark.operators import tiling

    imgs = synth_images_spark(spark, 50000)
    imgs = joins.with_cells(joins.project_points(joins.with_geotag(imgs))).cache()
    tiles = tiling.rasterize_tiles(layer, tile_res=10, px=0.25).cache()
    h = {}
    for salt in (0, 8):
        a = joins.pip_join_raster(imgs, tiles, salt=salt)
        assert a.count() == 50000
        h[salt] = a.agg(
            F.expr("bit_xor(xxhash64(image_id, space_category, access))").alias("h")
        ).collect()[0]["h"]
    assert h[0] == h[8]


def test_geojsonl_distributed_sink(spark, layer, tmp_path):
    """Executor-side GeoJSONL writer produces the same feature set as the
    driver-side FeatureCollection export (scale sink parity)."""
    from osm_public_space_mapper_spark.sources.geojson import write_geojsonl

    merged_df = skew.merged_layer(layer)
    out = str(tmp_path / "layer_geojsonl")
    write_geojsonl(merged_df, out)
    lines = spark.read.text(out).collect()
    got = {}
    for r in lines:
        feat = json.loads(r.value)
        k = (feat["properties"]["space_category"], feat["properties"]["access"])
        got[k] = feat["geometry"]["coordinates"]
    fc = save_geojson(merged_df.collect(), str(tmp_path / "fc.geojson"))
    expected = {
        (f["properties"]["space_category"], f["properties"]["access"]): f["geometry"]["coordinates"]
        for f in fc["features"]
    }
    assert set(got) == set(expected)
    for k in expected:
        assert got[k] == expected[k], k


def test_icelite_time_travel(spark, tmp_path):
    """Snapshot reads: VERSION AS OF semantics over the snapshot log."""
    t = IceliteTable(str(tmp_path / "tt"))
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string").withColumn(
        "p", F.col("id") % 2
    )
    s1 = t.commit(df1, "p", stage="one")
    df2 = spark.createDataFrame([(3, "c")], "id long, v string").withColumn("p", F.col("id") % 2)
    s2 = t.commit(df2, "p", stage="two")
    assert t.read(spark).count() == 3
    assert t.read(spark, snapshot_id=s1["snapshot_id"]).count() == 2
    assert t.read(spark, snapshot_id=s2["snapshot_id"]).count() == 3
    ids1 = {r.id for r in t.read(spark, snapshot_id=s1["snapshot_id"]).collect()}
    assert ids1 == {1, 2}


def test_geom_union_agg_overlapping(spark):
    """General union for OVERLAPPING geometries: two 10x10 squares with 50%
    overlap union to area 150 (raster exactness at lattice-aligned edges);
    disjoint pair unions to plain sum."""
    from osm_public_space_mapper_spark.operators.skew import geom_union_agg

    def rect(x0, y0, x1, y1):
        return [[[x0, y0], [x1, y0], [x1, y1], [x0, y1]]]

    rows = [
        ("a", rect(0.0, 0.0, 10.0, 10.0)),
        ("a", rect(5.0, 0.0, 15.0, 10.0)),   # overlaps the first
        ("b", rect(0.0, 0.0, 10.0, 10.0)),
        ("b", rect(20.0, 0.0, 30.0, 10.0)),  # disjoint
    ]
    df = spark.createDataFrame(rows, "k string, geom array<array<array<double>>>")
    out = {r.k: r.area for r in geom_union_agg(df, ["k"], px=0.25).collect()}
    assert abs(out["a"] - 150.0) < 1.0
    assert abs(out["b"] - 200.0) < 1.0
