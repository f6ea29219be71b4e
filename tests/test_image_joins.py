"""J12 PIP join + J13 kNN + tiling vs numpy brute-force oracles
(SURVEY.md §5.2 layers 3, and FIXTURES.md §3 expected_assignments /
expected_knn / expected_tiles)."""

import numpy as np
import pytest

from osm_public_space_mapper_spark.fixtures.elements import BBOX_4326, elements_to_spark
from osm_public_space_mapper_spark.fixtures.images import generate_images, images_to_spark
from osm_public_space_mapper_spark.geo.arrowgeom import np_parts
from osm_public_space_mapper_spark.geo.kernels import points_in_polygon
from osm_public_space_mapper_spark.geo.laea import laea_forward
from osm_public_space_mapper_spark.operators.overlay_core import OverlayConfig
from osm_public_space_mapper_spark.operators import joins, tiling
from osm_public_space_mapper_spark.operators.imageops import image_features, verify_invariants
from osm_public_space_mapper_spark.plans.pipeline import projected_bbox_ring, run_pipeline

N_IMAGES = 1500


@pytest.fixture(scope="module")
def layer_df(fixture_layer):
    return fixture_layer


@pytest.fixture(scope="module")
def images_df(spark):
    pdf = generate_images(N_IMAGES, seed=7, with_pixels=False)
    df = images_to_spark(spark, pdf)
    df = joins.with_geotag(df)
    df = joins.project_points(df)
    df = joins.with_cells(df, res=joins.JOIN_RES_DEFAULT)
    return df.cache()


def _layer_numpy(layer_rows):
    return [
        (int(r.polygon_id) if hasattr(r, "polygon_id") else None, r.space_category, r.access, np_parts(r.geom))
        for r in layer_rows
    ]


def test_pip_join_matches_bruteforce(spark, layer_df, images_df):
    assigned = joins.pip_join(images_df, layer_df).collect()
    engine = {r.image_id: (r.space_category, r.access) for r in assigned}

    # numpy brute force: each image against EVERY layer polygon
    layer_rows = layer_df.collect()
    pts = images_df.select("image_id", "x", "y").collect()
    ids = [r.image_id for r in pts]
    xs = np.array([r.x for r in pts])
    ys = np.array([r.y for r in pts])
    oracle = {}
    for r in layer_rows:
        rings = np_parts(r.geom)
        hit = points_in_polygon(xs, ys, rings)
        for i in np.nonzero(hit)[0]:
            # layer polygons are non-overlapping; one hit per image
            assert ids[i] not in oracle, f"overlap at {ids[i]}"
            oracle[ids[i]] = (r.space_category, r.access)

    assert engine == oracle
    # geotags are inside the bbox, so every image must be assigned
    assert len(engine) == N_IMAGES


def test_pip_raster_equals_vector(spark, layer_df, images_df):
    """The tile-mask fast path (pip_join_raster) must agree with the exact
    vector PIP join on every image — masks and rings share one lattice."""
    vector = {
        r.image_id: (r.space_category, r.access)
        for r in joins.pip_join(images_df, layer_df).collect()
    }
    tiles = tiling.rasterize_tiles(layer_df, tile_res=10, px=0.25)
    raster = {
        r.image_id: (r.space_category, r.access)
        for r in joins.pip_join_raster(images_df, tiles).collect()
    }
    assert raster == vector


@pytest.mark.parametrize("px", [0.3, 0.25])
def test_subdivided_raster_join_equals_unsubdivided(spark, layer_df, images_df, px):
    """Slicing the tile masks to res-13 sub-cells loses and adds no
    assignment, also when px does not divide the 32 m sub-cell side
    (0.3 m: 106.67 pixels per sub-cell)."""
    tiles = tiling.rasterize_tiles(layer_df, tile_res=10, px=px).cache()
    try:
        def assigned(**kw):
            out = joins.pip_join_raster(images_df, tiles, **kw).select("image_id", "space_category", "access")
            return sorted(tuple(r) for r in out.collect())

        whole = assigned(tile_res=10, group_res=10)
        assert len(whole) > 0.99 * N_IMAGES
        assert assigned(tile_res=10, group_res=13) == whole
    finally:
        tiles.unpersist()


def test_pip_assignment_distribution(spark, layer_df, images_df):
    assigned = joins.pip_join(images_df, layer_df)
    counts = {(r.space_category, r.access): r.n for r in
              assigned.groupBy("space_category", "access").count().withColumnRenamed("count", "n").collect()}
    assert sum(counts.values()) == N_IMAGES
    assert counts[("undefined space", "yes")] > 0
    assert counts[("traffic area", "no")] > 0


def test_knn_matches_bruteforce(spark, layer_df, images_df):
    cents = joins.walkable_centroids(layer_df).collect()
    cent_xy = np.array([[r.cx, r.cy] for r in cents])
    cent_pid = np.array([r.polygon_id for r in cents])
    k = 3
    assert len(cents) >= k

    cents_df = joins.walkable_centroids(layer_df)
    knn = joins.knn_join(images_df, cents_df, k=k, res=9, ring=2).collect()
    engine = {}
    for r in knn:
        engine.setdefault(r.image_id, []).append((r.rank, int(r.polygon_id), r.dist))
    for v in engine.values():
        v.sort()

    pts = images_df.select("image_id", "x", "y").collect()
    for r in pts:
        d = np.hypot(cent_xy[:, 0] - r.x, cent_xy[:, 1] - r.y)
        order = np.lexsort((cent_pid, d))[:k]
        expected = [(i + 1, int(cent_pid[j]), float(d[j])) for i, j in enumerate(order)]
        got = engine[r.image_id]
        assert [e[1] for e in expected] == [g[1] for g in got], (r.image_id, expected, got)
        for e, g in zip(expected, got):
            assert abs(e[2] - g[2]) < 1e-9


def test_knn_ring_escalation_sparse(spark, layer_df, images_df):
    """Sparse-region fallback: at ring=1 some images provably can't see k
    candidates (or their k-th candidate isn't within the covered radius);
    with max_ring set the join escalates and returns the exact brute-force
    answer anyway — at a coarser res where ring=1 alone is insufficient."""
    cents_df = joins.walkable_centroids(layer_df)
    cents = cents_df.collect()
    cent_xy = np.array([[r.cx, r.cy] for r in cents])
    cent_pid = np.array([r.polygon_id for r in cents])
    k = 3
    # res=12 → tiny cells: ring 1 covers ~meters, guaranteed too small
    knn = joins.knn_join(images_df, cents_df, k=k, res=12, ring=1, max_ring=64).collect()
    engine = {}
    for r in knn:
        engine.setdefault(r.image_id, []).append((r.rank, int(r.polygon_id), r.dist))
    pts = images_df.select("image_id", "x", "y").collect()
    assert len(engine) == len(pts)  # nobody silently dropped
    for r in pts:
        d = np.hypot(cent_xy[:, 0] - r.x, cent_xy[:, 1] - r.y)
        order = np.lexsort((cent_pid, d))[:k]
        expected = [int(cent_pid[j]) for j in order]
        got = [g[1] for g in sorted(engine[r.image_id])]
        # beyond max_ring escalation stops; only assert for rows whose k-th
        # true neighbor lies inside the final guaranteed radius
        from osm_public_space_mapper_spark.cells.grid import cell_side

        if float(np.sort(d)[k - 1]) <= 64 * cell_side(12):
            assert expected == got, (r.image_id, expected, got)


def test_knn_escalation_checkpoint_flat_plan(spark, layer_df, images_df, tmp_path):
    """3+ escalation levels with an Icelite checkpoint: same exact answer as
    the in-memory union path, but the returned frame's plan is a flat
    parquet scan — no Window/Join/Exchange nodes from earlier levels
    (otherwise the union tree deepens with every level and the anti-join
    chain recomputes at scale), plus per-level lineage in the stage table."""
    cents_df = joins.walkable_centroids(layer_df)
    k = 3
    # res=12, ring=1 → escalation runs rings 1, 4, 16, 64 (4 levels)
    plain = joins.knn_join(images_df, cents_df, k=k, res=12, ring=1, max_ring=64)
    ckpt = joins.knn_join(
        images_df, cents_df, k=k, res=12, ring=1, max_ring=64,
        checkpoint_dir=str(tmp_path / "knn_ckpt"),
    )
    key = lambda r: (r.image_id, r.rank, int(r.polygon_id))
    assert sorted(map(key, ckpt.collect())) == sorted(map(key, plain.collect()))

    plan = ckpt._jdf.queryExecution().executedPlan().toString()
    for node in ("Window", "SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin", "Exchange"):
        assert node not in plan, f"checkpointed kNN plan still contains {node}"

    from osm_public_space_mapper_spark.tables.icelite import IceliteTable

    lin = IceliteTable(str(tmp_path / "knn_ckpt")).lineage()
    stages = {m["stage"] for m in lin}
    assert len(stages) >= 3, stages  # one stage per escalation level
    assert all(m["row_count"] > 0 for m in lin)

    # exact resume (r04): re-invoking with the SAME checkpoint_dir is the
    # advertised recovery path — commit_resumable must skip every
    # (stage, rank) partition already in the manifest, so the reread table
    # carries no duplicated rows
    spark.catalog.clearCache()  # drop the ad-hoc path's union caches first
    rerun = joins.knn_join(
        images_df, cents_df, k=k, res=12, ring=1, max_ring=64,
        checkpoint_dir=str(tmp_path / "knn_ckpt"),
    )
    assert sorted(map(key, rerun.collect())) == sorted(map(key, plain.collect()))

    # and the checkpointed escalation released its per-level caches
    # (VERDICT r03 #4)
    assert spark.sparkContext._jsc.sc().getPersistentRDDs().size() == 0


def test_tiles_roundtrip_iou(spark, layer_df):
    tiles = tiling.rasterize_tiles(layer_df, tile_res=10, px=0.25)
    tile_rows = tiles.collect()
    assert len(tile_rows) > 0
    layer_rows = layer_df.collect()
    by_key = {}
    for r in layer_rows:
        by_key.setdefault((r.space_category, r.access), []).append(r.geom)
    for tr in tile_rows[:40]:
        iou = tiling.mask_vector_iou(tr, by_key[(tr.space_category, tr.access)])
        assert iou >= 0.99, (tr.space_category, tr.access, iou)
    # deterministic hashes: rerun and compare
    tiles2 = {(r.tile_cell, r.space_category, r.access): r.mask_hash
              for r in tiling.rasterize_tiles(layer_df, tile_res=10, px=0.25).collect()}
    tiles1 = {(r.tile_cell, r.space_category, r.access): r.mask_hash for r in tile_rows}
    assert tiles1 == tiles2


def test_image_invariants_and_features(spark):
    pdf = generate_images(60, seed=3, with_pixels=True)
    df = images_to_spark(spark, pdf)
    source = images_to_spark(spark, generate_images(60, seed=3, with_pixels=True))
    inv = verify_invariants(df, source=source).collect()
    assert len(inv) == 60
    assert all(r.pixels_ok for r in inv)
    assert all(r.caption_ok for r in inv)
    assert all(r.psnr_db >= 40.0 for r in inv)
    feats = image_features(df).collect()
    assert len(feats) == 60
    assert all(0.0 <= r.mean_r <= 255.0 for r in feats)
    # determinism
    f2 = {r.image_id: (r.mean_r, r.luma_std) for r in image_features(df).collect()}
    f1 = {r.image_id: (r.mean_r, r.luma_std) for r in feats}
    assert f1 == f2


def test_caption_corruption_is_detected(spark):
    """The caption invariant must go red when a caption is mutated in flight
    (the r01 check compared a caption to itself — vacuously true)."""
    pdf = generate_images(20, seed=3, with_pixels=True)
    source = images_to_spark(spark, pdf.copy())
    corrupted = pdf.copy()
    corrupted.loc[7, "caption"] = corrupted.loc[7, "caption"] + " CORRUPTED"
    corrupted.loc[13, "caption"] = ""
    df = images_to_spark(spark, corrupted)
    inv = {r.image_id: r.caption_ok for r in verify_invariants(df, source=source).collect()}
    bad = {pdf.loc[7, "image_id"], pdf.loc[13, "image_id"]}
    assert all(not inv[i] for i in bad)
    assert all(ok for i, ok in inv.items() if i not in bad)
    # no reference captions at all -> refuse to run a vacuous check
    import pytest as _pytest

    with _pytest.raises(ValueError):
        verify_invariants(df)


def test_jpeg_rows_hold_lossy_invariant(spark):
    """jpeg_frac fixture rows flow through the full Spark invariant path:
    decode -> q90 re-encode -> decode holds the BASELINE.json lossy bar
    (PSNR >= 40 dB) because re-quantization of lattice pixels is
    near-idempotent; features and phash run clean on jpeg rows too."""
    pdf = generate_images(50, seed=11, with_pixels=True, jpeg_frac=0.4)
    assert (pdf["fmt"] == "jpeg").sum() >= 10
    df = images_to_spark(spark, pdf)
    source = images_to_spark(
        spark, generate_images(50, seed=11, with_pixels=True, jpeg_frac=0.4)
    )
    inv = verify_invariants(df, source=source).collect()
    assert len(inv) == 50
    assert all(r.pixels_ok for r in inv)
    assert all(r.psnr_db >= 40.0 for r in inv)
    feats = image_features(df).collect()
    assert len(feats) == 50


def test_project_points_udf_runs_once_uncached(spark):
    # on an un-cached image frame both mask-join plans must evaluate
    # project_points' pandas UDF in ONE node: the join's inferred
    # isnotnull(tile_cell) filter must not carry a second copy of it
    # below the projection
    from osm_public_space_mapper_spark.streaming.geofence import pip_join_expr

    images = joins.with_cells(joins.project_points(joins.with_geotag(
        images_to_spark(spark, generate_images(200, seed=7, with_pixels=False))
    )))
    masks = spark.createDataFrame(
        [(13 << 58, "park", "yes", bytes([255]), 2, 4, 0.0, 0.0, 0.5)],
        "tile_cell long, space_category string, access string, mask binary,"
        " mask_w int, mask_h int, ox double, oy double, px double",
    )
    for out in (pip_join_expr(images, masks), joins.pip_join_raster(images, masks, tile_res=13, group_res=13)):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("ArrowEvalPython") == 1, plan


def test_cell_expr_matches_encode_cells(spark):
    # r06: the pure-Catalyst cell encoder must be bit-identical to the
    # numpy encode_cells the pandas UDF wrapped — including negative
    # coordinates (two's-complement masking) and cell-edge floors
    import numpy as np

    from osm_public_space_mapper_spark.cells.grid import encode_cells
    from osm_public_space_mapper_spark.functions.geometry import cell_expr

    from pyspark.sql import functions as F

    rng = np.random.RandomState(11)
    xs = np.concatenate([rng.uniform(-5e6, 5e6, 500), np.array([0.0, -0.0, 64.0, -64.0, 63.9999999])])
    ys = np.concatenate([rng.uniform(-5e6, 5e6, 500), np.array([0.0, 128.0, -128.0, 1e-9, -1e-9])])
    df = spark.createDataFrame(
        [(float(x), float(y)) for x, y in zip(xs, ys)], "x double, y double"
    )
    for res in (7, 12, 13):
        got = [r.c for r in df.select(cell_expr(res)(F.col("x"), F.col("y")).alias("c")).collect()]
        want = encode_cells(xs, ys, res).tolist()
        assert got == want, f"res {res}"


def test_bbox_and_cover_expr_match_numpy(spark):
    # the Catalyst bbox + cell cover must give exactly the numpy min/max bbox
    # and cells.grid.cover_bbox ids, in cover_bbox's order — including
    # bounds on cell edges (k·side), negative and -0.0 coordinates, a single
    # point, multi-part polygons; an empty-parts geometry covers nothing.
    # The halo cover of a point's degenerate bbox is cells.grid.neighbors of
    # its cell, in the same order (the kNN candidate cells)
    from osm_public_space_mapper_spark.cells.grid import cover_bbox, encode_cells, neighbors
    from osm_public_space_mapper_spark.functions.geometry import bbox_expr, cover_expr

    from pyspark.sql import functions as F

    rng = np.random.RandomState(5)
    geoms = [
        [[[1024.0, -2048.0]]],  # single point on an edge at every res
        [[[-0.0, -0.0], [512.0, -0.0], [512.0, 256.0], [-0.0, -0.0]]],
        [[[-4096.0, 1024.0], [-3072.0, 1024.0], [-3072.0, 2048.0], [-4096.0, 1024.0]],
         [[100.0, 100.0], [131.5, 100.0], [131.5, 160.25], [100.0, 100.0]]],
        [[[63.9999999, -16.0000001], [64.0, -16.0], [64.0000001, -15.9999999]]],
    ]
    for _ in range(20):
        c = rng.uniform(-2e4, 2e4, 2)
        geoms.append([(c + rng.uniform(-300, 300, (rng.randint(1, 7), 2))).tolist()
                      for _ in range(rng.randint(1, 4))])
    geoms.append([])  # empty parts
    df = spark.createDataFrame(list(enumerate(geoms)), "id long, geom array<array<array<double>>>")
    df = df.withColumn("b", bbox_expr(F.col("geom")))

    want_bb = {}
    for i, g in enumerate(geoms):
        if g:
            pts = np.concatenate([np.asarray(p, np.float64) for p in g])
            want_bb[i] = (*pts.min(axis=0), *pts.max(axis=0))
    got_bb = {r.id: tuple(r.b) for r in df.collect()}
    assert got_bb == {**want_bb, len(geoms) - 1: (None,) * 4}

    def covers(cover, *bounds):
        rows = df.select("id", F.explode(cover(*(F.col(f"b.{c}") for c in bounds))).alias("cell")).collect()
        got = {}
        for r in rows:  # explode keeps each row's array order
            got.setdefault(r.id, []).append(r.cell)
        return got

    for res in (8, 10, 13, 14):
        for halo in (0, 1, 2):
            cover = cover_expr(res, halo)
            want = {i: cover_bbox(*bb, res, halo).tolist() for i, bb in want_bb.items()}
            assert covers(cover, "xmin", "ymin", "xmax", "ymax") == want, (res, halo)
            want = {i: neighbors(encode_cells([bb[0]], [bb[1]], res), halo)[0].tolist() for i, bb in want_bb.items()}
            assert covers(cover, "xmin", "ymin", "xmin", "ymin") == want, (res, halo, "point")
