"""Kernel unit tests (pure numpy — no Spark): SURVEY.md §5.2 layer 1."""

import numpy as np

from osm_public_space_mapper_spark.geo.laea import laea_forward, laea_inverse
from osm_public_space_mapper_spark.geo.kernels import (
    points_in_polygon,
    polygon_area,
    ring_signed_area,
    segments_intersect,
    geoms_intersect,
)
from osm_public_space_mapper_spark.geo.raster import (
    Grid,
    close_open,
    dilate,
    erode,
    mask_area,
    rasterize_lines,
    rasterize_polygon,
    vectorize_mask,
)
from osm_public_space_mapper_spark.cells.grid import (
    cell_bbox,
    cell_side,
    cover_bbox,
    decode_cells,
    encode_cells,
    neighbors,
    parent_cells,
)


def test_laea_center_maps_to_false_origin():
    x, y = laea_forward(np.array([10.0]), np.array([52.0]))
    assert abs(x[0] - 4321000.0) < 1e-6
    assert abs(y[0] - 3210000.0) < 1e-6


def test_laea_roundtrip():
    rng = np.random.RandomState(0)
    lon = rng.uniform(-10, 30, 500)
    lat = rng.uniform(35, 70, 500)
    x, y = laea_forward(lon, lat)
    lo, la = laea_inverse(x, y)
    assert np.abs(lo - lon).max() < 1e-9
    assert np.abs(la - lat).max() < 1e-9


def test_laea_equal_area_property():
    # a 0.01°×0.01° quad at two very different latitudes must keep its area
    def quad_area(lon0, lat0):
        lons = np.array([lon0, lon0 + 0.01, lon0 + 0.01, lon0])
        lats = np.array([lat0, lat0, lat0 + 0.01, lat0 + 0.01])
        x, y = laea_forward(lons, lats)
        return abs(ring_signed_area(np.stack([x, y], axis=1)))

    a1 = quad_area(16.4, 48.2)
    # spherical truth: area ∝ cos(lat); compare against ellipsoidal expectation loosely
    expected = (0.01 * 111320) ** 2 * np.cos(np.deg2rad(48.2))
    assert abs(a1 - expected) / expected < 0.01


def test_shoelace_and_pip():
    sq = np.array([[0, 0], [10, 0], [10, 10], [0, 10]], float)
    assert abs(ring_signed_area(sq) - 100.0) < 1e-12
    assert abs(polygon_area([sq]) - 100.0) < 1e-12
    hole = np.array([[4, 4], [6, 4], [6, 6], [4, 6]], float)
    assert abs(polygon_area([sq, hole[::-1]]) - 96.0) < 1e-12
    px = np.array([5.0, 5.0, -1.0, 4.5])
    py = np.array([5.0, 1.0, 5.0, 4.5])
    inside = points_in_polygon(px, py, [sq, hole])
    assert inside.tolist() == [False, True, False, False]


def test_segments_intersect():
    a0 = np.array([[0.0, 0.0]])
    a1 = np.array([[10.0, 10.0]])
    b0 = np.array([[0.0, 10.0], [20.0, 20.0]])
    b1 = np.array([[10.0, 0.0], [30.0, 20.0]])
    out = segments_intersect(a0, a1, b0, b1)
    assert out.tolist() == [[True, False]]


def test_geoms_intersect_line_polygon():
    sq = [np.array([[0, 0], [10, 0], [10, 10], [0, 10]], float)]
    line_in = [np.array([[-5, 5], [5, 5]], float)]
    line_out = [np.array([[-5, -5], [-1, -1]], float)]
    assert geoms_intersect(line_in, "linestring", sq, "polygon")
    assert not geoms_intersect(line_out, "linestring", sq, "polygon")
    pt_in = [np.array([[3.0, 3.0]])]
    assert geoms_intersect(pt_in, "point", sq, "polygon")


def test_raster_roundtrip_and_morphology():
    g = Grid.from_bbox(0, 0, 100, 100, 0.5)
    ext = np.array([[10, 10], [90, 10], [90, 90], [10, 90]], float)
    hole = np.array([[40, 40], [60, 40], [60, 60], [40, 60]], float)
    m = rasterize_polygon(g, [ext, hole])
    assert abs(mask_area(m, 0.5) - 6000.0) < 60  # < 1% error at 0.5 m px
    polys = vectorize_mask(g, m)
    assert len(polys) == 1 and len(polys[0]) == 2  # exterior + hole
    areas = sorted(abs(ring_signed_area(r)) for r in polys[0])
    assert abs(areas[1] - 6400) < 64 and abs(areas[0] - 400) < 16
    # closing fills the 20m hole when radius ≥ 10m
    closed = close_open(m, close_r=11 / 0.5, open_r=0)
    assert abs(mask_area(closed, 0.5) - 6400.0) < 120
    # erode ∘ dilate identity-ish on large mask
    m2 = erode(dilate(m, 4), 4)
    assert abs(mask_area(m2, 0.5) - mask_area(m, 0.5)) < 150


def test_rasterize_lines_cap_styles():
    g = Grid.from_bbox(0, 0, 100, 100, 0.5)
    path = [np.array([[20, 50], [80, 50]], float)]
    flat = mask_area(rasterize_lines(g, path, 10.0, "flat"), 0.5)
    square = mask_area(rasterize_lines(g, path, 10.0, "square"), 0.5)
    round_ = mask_area(rasterize_lines(g, path, 10.0, "round"), 0.5)
    assert abs(flat - 600) < 12
    assert abs(square - 700) < 14
    assert abs(round_ - (600 + np.pi * 25)) < 14


def test_cells_roundtrip_hierarchy():
    rng = np.random.RandomState(1)
    x = rng.uniform(4.7e6, 4.9e6, 1000)
    y = rng.uniform(2.7e6, 2.9e6, 1000)
    c7 = encode_cells(x, y, 7)
    c14 = encode_cells(x, y, 14)
    res, ix, iy = decode_cells(c7)
    assert (res == 7).all()
    assert (parent_cells(c14, 7) == c7).all()
    xmin, ymin, xmax, ymax = cell_bbox(c7)
    assert ((x >= xmin) & (x < xmax) & (y >= ymin) & (y < ymax)).all()
    assert neighbors(c14[:3], 1).shape == (3, 9)
    assert cell_side(7) == 2048.0
    cov = cover_bbox(xmin[0], ymin[0], xmax[0] - 1e-9, ymax[0] - 1e-9, 14)
    assert len(cov) == 128 * 128  # 2048/16 per axis

