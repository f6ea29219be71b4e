"""Bucketed co-located PIP join: both sides stored bucketBy(tile_cell) →
the shuffle-hash mask join of pip_join_raster plans with NO Exchange and no
Python node, and its output equals the shuffle path exactly."""

import pytest
from pyspark.sql import functions as F

from osm_public_space_mapper_spark.fixtures.elements import BBOX_4326, elements_to_spark
from osm_public_space_mapper_spark.fixtures.images import synth_images_spark
from osm_public_space_mapper_spark.operators import joins, tiling
from osm_public_space_mapper_spark.operators.overlay_core import OverlayConfig
from osm_public_space_mapper_spark.plans.pipeline import projected_bbox_ring, run_pipeline
from osm_public_space_mapper_spark.tables.bucketed import images_with_tile_cell, save_bucketed

# physical-plan node names of every Python-worker operator
PYTHON_NODES = ("EvalPython", "MapInPandas", "MapInArrow", "FlatMapCoGroupsIn")


@pytest.fixture(scope="module")
def tiles_df(fixture_layer):
    return tiling.rasterize_tiles(fixture_layer, tile_res=10, px=0.25)


def test_bucketed_pip_join_no_exchange(spark, tiles_df):
    """Unsalted co-located case: both sides bucketed by tile_cell → the
    shuffle-hash join consumes the stored partitioning, plan has ZERO
    Exchange (so no BroadcastExchange either: the batch lane is
    broadcast-free) and no Python node. (Salting widens the join key to
    (tile_cell, _salt), which the tile_cell bucket layout can't satisfy —
    skewed runs shuffle again, never wider than the salt fan-out.)"""
    images = joins.with_cells(joins.project_points(joins.with_geotag(synth_images_spark(spark, 20000))))
    images = images_with_tile_cell(images)

    save_bucketed(images, "bk_images", "tile_cell", n_buckets=16)
    # store the mask side pre-subdivided at the join granularity so its
    # bucket layout matches the join key
    save_bucketed(joins.subdivide_tiles(tiles_df, 13), "bk_tiles", "tile_cell", n_buckets=16)

    bi, bt = spark.table("bk_images"), spark.table("bk_tiles")
    assigned = joins.pip_join_raster(bi, bt, tile_res=13, salt=0)
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[:2000]
    assert "BroadcastExchange" not in plan, plan[:2000]
    assert not [n for n in PYTHON_NODES if n in plan], plan[:2000]
    assert "Bucketed: true" in plan, plan[:2000]

    # identical output vs the shuffle path (salted AND unsalted) on the
    # same inputs
    got = {(r.image_id, r.space_category, r.access) for r in assigned.collect()}
    for salt in (0, 8):
        expected = {
            (r.image_id, r.space_category, r.access)
            for r in joins.pip_join_raster(images, tiles_df, salt=salt).collect()
        }
        assert got == expected, f"salt={salt}"
    assert len(got) == 20000
