"""Property + golden tests for the NumPy cell kernels (no Spark needed)."""

import numpy as np
import pytest

from geolake_spark import cells

RNG = np.random.RandomState(42)
LAT = RNG.uniform(-89.9, 89.9, 500)
LON = RNG.uniform(-179.9, 179.9, 500)


def test_grid_cell_contains_point():
    for res in (0, 5, 9, 15):
        c = cells.grid_cell(LAT, LON, res)
        s, n, w, e = cells.cell_bounds(c)
        assert np.all((LAT >= s) & (LAT <= n) & (LON >= w) & (LON <= e))
        assert np.all(cells.cell_res(c) == res)


def test_parent_containment_exact():
    c9 = cells.grid_cell(LAT, LON, 9)
    for pres in (5, 7, 8):
        p = cells.cell_parent(c9, pres)
        assert np.array_equal(p, cells.grid_cell(LAT, LON, pres))
        s, n, w, e = cells.cell_bounds(c9)
        ps, pn, pw, pe = cells.cell_bounds(p)
        assert np.all((s >= ps) & (n <= pn) & (w >= pw) & (e <= pe))


def test_children_partition_parent():
    c = int(cells.grid_cell(np.array([10.0]), np.array([25.0]), 6)[0])
    kids = cells.cell_children(c)
    assert len(kids) == 4
    assert np.all(cells.cell_parent(kids, 6) == c)


def test_covering_bbox_includes_member_points():
    cov = set(cells.cells_covering_bbox(-20, 30, -60, 20, 6).tolist())
    m = (LAT >= -20) & (LAT <= 30) & (LON >= -60) & (LON <= 20)
    pts = cells.grid_cell(LAT[m], LON[m], 6)
    assert set(pts.tolist()) <= cov


def test_covering_bbox_antimeridian():
    cov = set(cells.cells_covering_bbox(-10, 10, 170, -170, 5).tolist())
    pts = cells.grid_cell(np.array([0.0, 5.0]), np.array([179.5, -179.5]), 5)
    assert set(pts.tolist()) <= cov


def test_k_ring_size_and_wrap():
    c = int(cells.grid_cell(np.array([0.0]), np.array([0.0]), 7)[0])
    assert len(cells.k_ring(c, 0)) == 1
    assert len(cells.k_ring(c, 3)) == 49
    edge = int(cells.grid_cell(np.array([0.0]), np.array([-179.99]), 7)[0])
    assert len(cells.k_ring(edge, 1)) == 9  # wraps, no loss
    pole = int(cells.grid_cell(np.array([89.9]), np.array([0.0]), 7)[0])
    assert len(cells.k_ring(pole, 1)) == 6  # clamped at the pole row


def test_haversine_goldens():
    assert abs(cells.haversine_km(0, 0, 0, 1)[()] - 111.195) < 0.01
    d = cells.haversine_km(51.5074, -0.1278, 48.8566, 2.3522)
    assert abs(d - 343.56) < 0.5  # London-Paris
    assert cells.haversine_km(10, 20, 10, 20)[()] == 0.0


def test_tile_goldens():
    xt, yt = cells.tile_xy(np.array([51.5074]), np.array([-0.1278]), 12)
    assert (int(xt[0]), int(yt[0])) == (2046, 1362)  # London z12 (known)
    xt, yt = cells.tile_xy(np.array([0.0]), np.array([0.0]), 0)
    assert (int(xt[0]), int(yt[0])) == (0, 0)
    xt, yt = cells.tile_xy(np.array([89.9, -89.9]), np.array([0.0, 0.0]), 4)
    assert int(yt[0]) == 0 and int(yt[1]) == 15  # clamped to mercator domain


def test_pip_square_with_hole():
    sq = np.array([[0, 0], [10, 0], [10, 10], [0, 10]], float)
    hole = np.array([[4, 4], [6, 4], [6, 6], [4, 6]], float)
    la = np.array([5.0, 5.0, 11.0, 1.0, 4.5])
    lo = np.array([2.0, 5.0, 5.0, 1.0, 4.5])
    r = cells.points_in_polygon(la, lo, [sq, hole])
    assert list(r) == [True, False, False, True, False]


def test_pip_concave():
    c_shape = np.array([[0, 0], [30, 0], [30, 40], [0, 40], [0, 30],
                        [20, 30], [20, 10], [0, 10]], float)
    # (lat, lon): inside the notch -> outside polygon
    assert not cells.points_in_polygon(
        np.array([20.0]), np.array([10.0]), [c_shape])[0]
    assert cells.points_in_polygon(
        np.array([5.0]), np.array([10.0]), [c_shape])[0]


def test_s2_levels_and_parents():
    ids12 = cells.s2_cell_id(LAT, LON, 12)
    assert np.all(cells.s2_level(ids12) == 12)
    ids8 = cells.s2_cell_id(LAT, LON, 8)
    assert np.array_equal(cells.s2_parent(ids12, 8), ids8)


def test_s2_locality_and_distinctness():
    a = cells.s2_cell_id(np.array([51.50]), np.array([-0.10]), 10)
    b = cells.s2_cell_id(np.array([51.501]), np.array([-0.101]), 10)
    c = cells.s2_cell_id(np.array([-33.9]), np.array([18.4]), 10)
    assert a[0] == b[0] != c[0]
    # distinct faces for the 6 axis directions
    pts = [(0, 0), (0, 90), (90, 0), (0, 180), (0, -90), (-90, 0)]
    faces = {int(cells.s2_cell_id(np.array([la]), np.array([lo]), 5)
                 .astype(np.uint64)[0]) >> 61 for la, lo in pts}
    assert faces == {0, 1, 2, 3, 4, 5}


def test_s2_ids_well_distributed():
    ids = cells.s2_cell_id(LAT, LON, 12)
    assert len(np.unique(ids)) > 480  # near-unique for 500 random points


# ------------------------------------------------------------- quadkey

def _ref_quadkey(lat, lon, zoom):
    """independent loop implementation of the Bing algorithm"""
    import math
    lat = max(min(lat, cells.MERCATOR_MAX_LAT), -cells.MERCATOR_MAX_LAT)
    n = 1 << zoom
    x = min(max(int(math.floor((lon + 180.0) / 360.0 * n)), 0), n - 1)
    lr = math.radians(lat)
    y = min(max(int(math.floor(
        (1.0 - math.log(math.tan(lr) + 1.0 / math.cos(lr))
         / math.pi) / 2.0 * n)), 0), n - 1)
    digits = []
    for k in range(zoom - 1, -1, -1):
        digits.append(str(((y >> k) & 1) * 2 + ((x >> k) & 1)))
    return "".join(digits)


def test_quadkey_matches_reference_loop(spark):
    import duckdb
    from pyspark.sql import functions as F

    from geolake_spark.functions import geo as g
    pts = [(40.0, -105.0), (0.0, 0.0), (-33.9, 151.2), (85.5, 179.9),
           (-89.0, -179.9), (47.61, -122.33)]
    df = spark.createDataFrame([(i, a, b) for i, (a, b) in enumerate(pts)],
                               "i long, lat double, lon double")
    for zoom in (1, 3, 7):
        got = {r.i: r.qk for r in df.select(
            "i", g.quadkey_col(F.col("lat"), F.col("lon"),
                               zoom).alias("qk")).collect()}
        exp = {i: _ref_quadkey(a, b, zoom) for i, (a, b) in enumerate(pts)}
        assert got == exp
        vals = ", ".join(f"({i}, {a!r}, {b!r})"
                         for i, (a, b) in enumerate(pts))
        ora = dict(duckdb.sql(
            f"SELECT i, {cells.quadkey_sql('lat', 'lon', zoom)} "
            f"FROM (VALUES {vals}) t(i, lat, lon)").fetchall())
        assert ora == exp


def test_quadkey_prefix_is_parent_tile(spark):
    from pyspark.sql import functions as F

    from geolake_spark.functions import geo as g
    df = spark.createDataFrame([(40.0, -105.0), (-3.0, 12.0)],
                               "lat double, lon double")
    out = df.select(
        g.quadkey_col(F.col("lat"), F.col("lon"), 8).alias("q8"),
        g.quadkey_col(F.col("lat"), F.col("lon"), 3).alias("q3")).collect()
    for r in out:
        assert r.q8[:3] == r.q3 and len(r.q8) == 8
