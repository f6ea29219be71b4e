"""Vector offset/buffer kernel (geo/offset.py) vs numpy brute-force oracles.

Round caps/joins have an exact oracle (true point-to-segment distance);
mitre joins are checked analytically on rotated squares (where the mitre
dilation is a closed-form bigger square) and against containment bounds
(round ⊆ bevel ⊆ mitre ⊆ round∪mitre-wedges)."""

import numpy as np
import pytest

from osm_public_space_mapper_spark.geo.arrowgeom import np_parts
from osm_public_space_mapper_spark.geo.kernels import polygon_area
from osm_public_space_mapper_spark.geo.offset import (
    boundary_band_pieces,
    buffer_line_pieces,
    dilate_rings_mask,
    erode_rings_mask,
    pieces_mask,
    rasterize_lines_vector,
)
from osm_public_space_mapper_spark.geo.raster import Grid, rasterize_polygon


def _grid():
    return Grid.from_bbox(0.0, 0.0, 40.0, 40.0, 0.25)


def _seg_dist(px, py, a, b):
    d = b - a
    len2 = float(d @ d)
    t = np.clip(((px - a[0]) * d[0] + (py - a[1]) * d[1]) / len2, 0.0, 1.0)
    return np.hypot(px - (a[0] + t * d[0]), py - (a[1] + t * d[1]))


def _dist_mask(grid, path, half):
    """Exact round-cap/round-join buffer: distance to the polyline ≤ half."""
    cy, cx = np.mgrid[0 : grid.h, 0 : grid.w]
    wx, wy = grid.pix_to_world(cx + 0.5, cy + 0.5)
    dist = np.full(wx.shape, np.inf)
    for i in range(len(path) - 1):
        dist = np.minimum(dist, _seg_dist(wx, wy, path[i], path[i + 1]))
    return dist <= half


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_round_line_buffer_matches_distance_oracle(seed):
    rng = np.random.RandomState(seed)
    grid = _grid()
    path = rng.uniform(6, 34, size=(6, 2))
    half = 1.7
    got = pieces_mask(grid, buffer_line_pieces(path, half, "round", "round"))
    want = _dist_mask(grid, path, half)
    # shapely-style fans are inscribed polygons: allow a thin boundary film
    diff = got ^ want
    assert diff.sum() / max(1, want.sum()) < 0.01
    # fans never overshoot the true disc
    assert not (got & ~want).sum() > 0.002 * want.sum()


def test_flat_and_square_caps():
    grid = _grid()
    path = np.array([[10.0, 20.0], [30.0, 20.0]])
    half = 2.0
    flat = pieces_mask(grid, buffer_line_pieces(path, half, "flat"))
    square = pieces_mask(grid, buffer_line_pieces(path, half, "square"))
    rnd = pieces_mask(grid, buffer_line_pieces(path, half, "round"))
    px_area = 0.25 * 0.25
    assert abs(flat.sum() * px_area - 20 * 4) < 1.5
    assert abs(square.sum() * px_area - 24 * 4) < 1.5  # extended by half each end
    assert abs(rnd.sum() * px_area - (20 * 4 + np.pi * 4)) < 1.5
    assert not (flat & ~square).any()  # flat ⊆ square
    assert not (flat & ~rnd).any()


@pytest.mark.parametrize("angle_deg", [0, 30, 45])
def test_mitre_dilation_of_rotated_square(angle_deg):
    """Mitre dilation of a square by r = bigger square with side s+2r at any
    rotation — the property a square structuring element violates off-axis."""
    grid = _grid()
    s, r = 10.0, 1.8
    a = np.deg2rad(angle_deg)
    R = np.array([[np.cos(a), -np.sin(a)], [np.sin(a), np.cos(a)]])
    base = np.array([[-s / 2, -s / 2], [s / 2, -s / 2], [s / 2, s / 2], [-s / 2, s / 2]])
    ring = base @ R.T + 20.0
    mask = rasterize_polygon(grid, [ring])
    dil = dilate_rings_mask(grid, mask, [ring], r, "mitre")
    px_area = 0.25 * 0.25
    want_area = (s + 2 * r) ** 2
    # same-lattice oracle: rasterize the analytic outer square, so pixel
    # quantization cancels; only a boundary film may differ
    outer = base * ((s + 2 * r) / s) @ R.T + 20.0
    want_mask = rasterize_polygon(grid, [outer])
    assert (dil ^ want_mask).sum() * px_area / want_area < 0.01, angle_deg
    assert abs(dil.sum() * px_area - want_area) / want_area < 0.03, angle_deg
    # the mitre corner pixel (diagonal beyond r from the vertex) is covered
    corner_dir = (R @ np.array([1.0, 1.0])) / np.sqrt(2.0)
    corner_pt = (ring[2] + corner_dir * (r * np.sqrt(2.0) * 0.9))
    gx, gy = grid.world_to_pix(np.array([corner_pt[0]]), np.array([corner_pt[1]]))
    assert dil[int(gy[0]), int(gx[0])]
    # a round dilation would NOT cover it
    dil_round = dilate_rings_mask(grid, mask, [ring], r, "round")
    assert not dil_round[int(gy[0]), int(gx[0])]
    assert abs(dil_round.sum() * px_area - (s ** 2 + 4 * s * r + np.pi * r * r)) / want_area < 0.02


def test_mitre_erosion_of_rotated_square():
    grid = _grid()
    s, r = 12.0, 1.5
    a = np.deg2rad(30)
    R = np.array([[np.cos(a), -np.sin(a)], [np.sin(a), np.cos(a)]])
    base = np.array([[-s / 2, -s / 2], [s / 2, -s / 2], [s / 2, s / 2], [-s / 2, s / 2]])
    ring = base @ R.T + 20.0
    mask = rasterize_polygon(grid, [ring])
    er = erode_rings_mask(grid, mask, [ring], r, "mitre")
    px_area = 0.25 * 0.25
    want = (s - 2 * r) ** 2
    assert abs(er.sum() * px_area - want) / want < 0.015
    # close (dilate then erode on the dilated rings' analytic form) is
    # identity for a convex polygon: dilate's band subtracted back
    dil = dilate_rings_mask(grid, mask, [ring], r, "mitre")
    outer = base * ((s + 2 * r) / s) @ R.T + 20.0
    closed = erode_rings_mask(grid, dil, [outer], r, "mitre")
    assert (closed ^ mask).sum() * px_area < 0.6  # px-film only


def test_hole_ring_band_shrinks_hole():
    """Dilation of a polygon with a hole: the hole shrinks by r (band goes
    into the hole) with no orientation bookkeeping."""
    grid = _grid()
    ext = np.array([[5.0, 5.0], [35.0, 5.0], [35.0, 35.0], [5.0, 35.0]])
    hole = np.array([[15.0, 15.0], [25.0, 15.0], [25.0, 25.0], [15.0, 25.0]])
    mask = rasterize_polygon(grid, [ext, hole])
    dil = dilate_rings_mask(grid, mask, [ext, hole], 2.0, "mitre")
    cy, cx = grid.world_to_pix(np.array([20.0]), np.array([16.0]))[0], None
    gx, gy = grid.world_to_pix(np.array([20.0, 20.0]), np.array([16.0, 20.0]))
    assert dil[int(gy[0]), int(gx[0])]  # 1 m into the old hole now covered
    assert not dil[int(gy[1]), int(gx[1])]  # hole centre still open (r=2 < 5)


def test_vector_line_join_styles_nested():
    grid = _grid()
    path = np.array([[8.0, 8.0], [20.0, 24.0], [32.0, 10.0]])
    w = 4.0
    bevel = rasterize_lines_vector(grid, [path], w, "flat", "bevel")
    mitre = rasterize_lines_vector(grid, [path], w, "flat", "mitre")
    rnd = rasterize_lines_vector(grid, [path], w, "flat", "round")
    assert not (bevel & ~mitre).any()  # bevel ⊆ mitre
    assert not (bevel & ~rnd).any()    # bevel ⊆ round
    assert mitre.sum() >= rnd.sum()    # mitre covers the arc + spike


def _area(geom):
    """Even-odd area of a collected geometry (abs of the signed ring sum)."""
    return polygon_area(np_parts(geom))


def test_st_buffer_udf_line_and_polygon(spark):
    """Column-level st_buffer: line square-cap buffer area ≈ analytic;
    polygon positive/negative buffers grow/shrink by the band."""
    import pandas as pd
    from pyspark.sql import functions as F

    from osm_public_space_mapper_spark.functions.geometry import st_buffer_udf

    line = [[[5.0, 20.0], [25.0, 20.0]]]                       # 20 m segment
    square = [[[10.0, 10.0], [30.0, 10.0], [30.0, 30.0], [10.0, 30.0]]]
    df = spark.createDataFrame(
        pd.DataFrame({
            "gid": [1, 2],
            "geom_kind": ["linestring", "polygon"],
            "geom": [line, square],
        })
    )
    buf = st_buffer_udf(2.0, cap_style="square", join_style="mitre", px=0.1)
    out = df.withColumn("bgeom", buf(F.col("geom"), F.col("geom_kind"))).collect()
    areas = {r.gid: _area(r.bgeom) for r in out}
    assert abs(areas[1] - 24 * 4) < 2.0            # (20+2+2) × 4 square caps
    assert abs(areas[2] - 24 * 24) < 3.0           # mitre dilation of square

    neg = st_buffer_udf(-3.0, join_style="mitre", px=0.1)
    out2 = df.filter(F.col("gid") == 2).withColumn(
        "bgeom", neg(F.col("geom"), F.col("geom_kind"))
    ).collect()
    assert abs(_area(out2[0].bgeom) - 14 * 14) < 3.0      # erosion by 3


def test_st_buffer_udf_batch_scratch_reuse_no_crosstalk(spark):
    """r04 batch scratch-buffer reuse: many same-quantized-extent geometries
    in ONE Arrow batch share (zeroed) mask buffers — every row must still
    get its own correct result, with no pixels leaking from the previous
    row. Mixed sizes force both buffer reuse and fresh allocation."""
    import pandas as pd
    from pyspark.sql import functions as F

    from osm_public_space_mapper_spark.functions.geometry import st_buffer_udf

    def square(cx, cy, half):
        return [[[cx - half, cy - half], [cx + half, cy - half],
                 [cx + half, cy + half], [cx - half, cy + half]]]

    rows = []
    # 6 same-size squares at different origins (reused buffers) + 2 bigger
    for i in range(6):
        rows.append((i, square(100.0 * i, 50.0, 10.0), 24.0))   # (20+4)²
    rows.append((6, square(0.0, 500.0, 30.0), 64.0))            # (60+4)²
    rows.append((7, square(900.0, 900.0, 5.0), 14.0))           # (10+4)²
    df = spark.createDataFrame(
        pd.DataFrame({
            "gid": [r[0] for r in rows],
            "geom_kind": ["polygon"] * len(rows),
            "geom": [r[1] for r in rows],
            "expect_side": [r[2] for r in rows],
        })
    ).coalesce(1)  # one partition → one Arrow batch → buffers actually reused
    buf = st_buffer_udf(2.0, join_style="mitre", px=0.1)
    out = df.withColumn("bgeom", buf(F.col("geom"), F.col("geom_kind"))).collect()
    for r in out:
        barea = _area(r.bgeom)
        assert abs(barea - r.expect_side ** 2) < 3.0, (r.gid, barea, r.expect_side ** 2)
