"""PIP + kNN joins vs brute-force NumPy oracles on the synthetic pages table
(all 6 polygon fixtures: convex, concave, hole, reference bbox, antimeridian,
wide band)."""

import numpy as np
import pandas as pd
import pytest

from geolake_spark import cells
from geolake_spark.operators import joins
from geolake_spark.sources import synth


@pytest.fixture(scope="module")
def pages_pdf(pages):
    return pages.select("url", "lat", "lon").toPandas()


def brute_pip(pages_pdf, polys):
    exp = set()
    for p in polys:
        rings = [np.asarray(r, float) for r in p["rings"]]
        lon = joins._norm_lon_for(rings, pages_pdf["lon"].to_numpy())
        hit = cells.points_in_polygon(pages_pdf["lat"].to_numpy(), lon, rings)
        for u in pages_pdf["url"][hit]:
            exp.add((u, p["polygon_id"]))
    return exp


def test_pip_join_matches_brute_force(pages, pages_pdf):
    polys = synth.polygon_specs()
    got = {(r["url"], r["polygon_id"]) for r in
           joins.pip_join(pages, polys).select("url", "polygon_id").collect()}
    assert got == brute_pip(pages_pdf, polys)


def test_pip_join_res_invariance(pages, pages_pdf):
    """Result must not depend on the prefilter resolution."""
    polys = synth.polygon_specs()[:3]
    exp = brute_pip(pages_pdf, polys)
    for res in (5, 8):
        got = {(r["url"], r["polygon_id"]) for r in
               joins.pip_join(pages, polys, res=res)
               .select("url", "polygon_id").collect()}
        assert got == exp, f"res={res}"


def test_pip_join_cell_col_equals_default(pages, pages_pdf):
    """A precomputed cell column must give the identical result to the
    lat/lon path — regression for the round-1 bug where a res-5 cell column
    was joined against a res-7 cover and silently matched nothing."""
    from geolake_spark.functions.geo import grid_cell_col
    import pyspark.sql.functions as F
    polys = synth.polygon_specs()
    exp = brute_pip(pages_pdf, polys)
    for r in (5, 7):
        with_cell = pages.withColumn(
            "cell_pre", grid_cell_col(F.col("lat"), F.col("lon"), r))
        # res inferred from the column's ids
        got = {(row["url"], row["polygon_id"]) for row in
               joins.pip_join(with_cell, polys, cell_col="cell_pre")
               .select("url", "polygon_id").collect()}
        assert got == exp, f"inferred res={r}"
        assert len(got) > 0
    # explicit mismatching res must raise, not silently return empty
    with_cell = pages.withColumn(
        "cell_pre", grid_cell_col(F.col("lat"), F.col("lon"), 5))
    with pytest.raises(ValueError, match="resolution"):
        joins.pip_join(with_cell, polys, res=7, cell_col="cell_pre")


def test_pip_cover_classification():
    """Interior cells must contain no polygon edge; together interior+boundary
    cover every member point's cell."""
    polys = synth.polygon_specs()
    cover = joins.build_pip_cover(polys, res=6)
    segs_by_pid = {p["polygon_id"]: joins._segments(
        [np.asarray(r, float) for r in p["rings"]]) for p in polys}
    for _, row in cover[cover.interior].iterrows():
        s, n, w, e = cells.cell_bounds(np.int64(row["cell"]))
        pid = row["polygon_id"]
        rings = [np.asarray(r, float) for r in
                 next(p for p in polys if p["polygon_id"] == pid)["rings"]]
        if joins._crosses_antimeridian(rings) and w < 0:
            w, e = w + 360.0, e + 360.0
        assert not joins._segs_intersect_rect(segs_by_pid[pid],
                                              float(w), float(e),
                                              float(s), float(n))


def test_knn_matches_brute_force(spark, pages, pages_pdf):
    probes = pd.DataFrame({
        "query_id": [1, 2, 3],
        "lat": [10.0, -40.0, 65.0],
        "lon": [25.0, 120.0, -100.0]})
    out = joins.knn_join_table(pages, spark.createDataFrame(probes), k=4,
                               res=5)
    res = (out.select("query_id", "url", "rank").toPandas()
           .sort_values(["query_id", "rank"]))
    for _, pr in probes.iterrows():
        d = cells.haversine_km(pages_pdf["lat"].to_numpy(),
                               pages_pdf["lon"].to_numpy(),
                               pr["lat"], pr["lon"])
        exp = [u for _, u in sorted(zip(d, pages_pdf["url"]))[:4]]
        got = list(res[res["query_id"] == pr["query_id"]]["url"])
        assert got == exp


def test_knn_table_matches_brute_force(spark, pages, pages_pdf):
    """Probe-table kNN vs brute force, 60 probes spread worldwide
    including polar/antimeridian."""
    from geolake_spark.functions.geo import geocode_lat_col, geocode_lon_col
    import pyspark.sql.functions as F
    probes = (spark.range(60)
              .select(F.col("id").alias("query_id"),
                      geocode_lat_col(F.col("id") + 1000000).alias("lat"),
                      geocode_lon_col(F.col("id") + 1000000).alias("lon")))
    out = joins.knn_join_table(pages, probes, k=4, res=5)
    got = (out.select("query_id", "url", "rank").toPandas()
           .sort_values(["query_id", "rank"]))
    probes_pd = probes.toPandas()
    assert sorted(got["query_id"].unique()) == sorted(probes_pd["query_id"])
    for _, pr in probes_pd.iterrows():
        d = cells.haversine_km(pages_pdf["lat"].to_numpy(),
                               pages_pdf["lon"].to_numpy(),
                               pr["lat"], pr["lon"])
        exp = [u for _, u in sorted(zip(d, pages_pdf["url"]))[:4]]
        mine = list(got[got["query_id"] == pr["query_id"]]["url"])
        assert mine == exp, f"probe {pr['query_id']}"


def test_knn_table_over_pole_exact(spark):
    """Regression (round-3 advisor, medium): the pruning lower bound must
    never exceed the true great-circle distance.  Geodesics swing poleward
    of their endpoints, so for a probe at lat 85 the point at (85, 180) is
    ~1112 km away OVER the pole while the round-2 parallel-arc "bound"
    claimed ~1470 km — its cell got pruned, theta overstated, and the
    exactness certificate confirmed the wrong (decoy) neighbor."""
    # Geometry that makes the old bound decide wrongly: k=1 and an
    # 8-point decoy cell at ~1167 km, so even after the candidate target
    # doubles to 8 on the way to the world-covering radius, the kept-set
    # upper bound U ~ 1330 km falls between the over-pole point's true
    # distance (1112) and the old overstated bound (~1450) — old code
    # pruned the over-pole cell at the base-res re-rank, certified against
    # theta_b ~ 1450, and returned a decoy.  Far-south fillers keep the
    # histogram non-trivial.
    decoy_lats = [74.5, 74.3, 74.45, 74.40, 74.35, 74.48, 74.42, 74.37]
    pdf = pd.DataFrame({
        "url": ["overpole"] + [f"decoy{i}" for i in range(8)]
               + [f"far{i}" for i in range(8)],
        "lat": [85.0] + decoy_lats + [-60.0 + 2.0 * i for i in range(8)],
        "lon": [179.99] + [0.0] * 8 + [15.0 * i - 120.0 for i in range(8)]})
    pts = spark.createDataFrame(pdf)
    probes = spark.createDataFrame(
        pd.DataFrame({"query_id": [1], "lat": [85.0], "lon": [0.0]}))
    out = (joins.knn_join_table(pts, probes, k=1, res=5)
           .orderBy("rank").collect())
    d = cells.haversine_km(pdf["lat"].to_numpy(), pdf["lon"].to_numpy(),
                           85.0, 0.0)
    assert [r["url"] for r in out] == ["overpole"]
    assert abs(out[0]["dist_km"] - sorted(d)[0]) < 1e-6


def test_knn_table_k_exceeds_points(spark):
    """k > |points| resolves via world coverage and returns all points; an
    empty probe table gives an empty frame with the result columns."""
    pdf = pd.DataFrame({"url": ["a", "b"], "lat": [10.0, -50.0],
                        "lon": [20.0, 170.0]})
    pts = spark.createDataFrame(pdf)
    probes = spark.createDataFrame(
        pd.DataFrame({"query_id": [1], "lat": [0.0], "lon": [0.0]}))
    out = joins.knn_join_table(pts, probes, k=5, res=4).collect()
    assert len(out) == 2
    empty = joins.knn_join_table(pts, probes.limit(0), k=5, res=4)
    assert empty.columns == ["query_id", "q_lat", "q_lon", "url",
                             "dist_km", "rank"]
    assert empty.count() == 0


def test_knn_table_face_bound_exact(spark):
    """Regression: the certificate must use the exact great-circle distance
    to the box's faces.  The probe's first res-5 box ends at lat 2.1125;
    O sits just beyond that north face, F inside the box is 5e-5 km
    farther than O, and the literal 111.195 km/deg face bound (312.735937
    km, above the exact 312.73573) certified F."""
    q_lat, q_lon = -0.7, 0.7
    o_lat = 2.1125 + 1e-6
    d_f = 312.735890
    f_lat = -3.5
    hav = lambda x: np.sin(x / 2.0) ** 2  # noqa: E731
    p1, p2 = np.radians(q_lat), np.radians(f_lat)
    b = np.degrees(2.0 * np.arcsin(np.sqrt(
        (hav(d_f / cells.EARTH_RADIUS_KM) - hav(p2 - p1))
        / (np.cos(p1) * np.cos(p2)))))
    pdf = pd.DataFrame({"url": ["d1", "d2", "O", "F"],
                        "lat": [1.40, -2.81, o_lat, f_lat],
                        "lon": [2.81, -1.40, q_lon, q_lon + b]})
    d = cells.haversine_km(pdf["lat"].to_numpy(), pdf["lon"].to_numpy(),
                           q_lat, q_lon)
    assert abs(d[3] - d_f) < 1e-6 and d[2] < d[3] < 312.735937
    probes = spark.createDataFrame(
        pd.DataFrame({"query_id": [1], "lat": [q_lat], "lon": [q_lon]}))
    out = joins.knn_join_table(spark.createDataFrame(pdf), probes, k=1,
                               res=5).collect()
    assert [r["url"] for r in out] == [pdf["url"][int(np.argmin(d))]]
    assert abs(out[0]["dist_km"] - d.min()) < 1e-6


def test_knn_deterministic_tiebreak(spark):
    """Equidistant points resolve by id ordering."""
    pdf = pd.DataFrame({"url": ["b", "a", "c"],
                        "lat": [1.0, 1.0, -1.0],
                        "lon": [0.0, 0.0, 0.0]})
    df = spark.createDataFrame(pdf)
    probes = pd.DataFrame({"query_id": [1], "lat": [0.0], "lon": [0.0]})
    out = joins.knn_join_table(df, spark.createDataFrame(probes), k=3,
                               res=3)
    got = [r["url"] for r in out.orderBy("rank").collect()]
    assert got[:2] == ["a", "b"]  # same distance -> url ascending


def test_knn_table_adaptive_res_matches_brute_force(spark, pages, pages_pdf):
    """The default resolution (no ``res`` given) stays exact."""
    from geolake_spark.functions.geo import geocode_lat_col, geocode_lon_col
    import pyspark.sql.functions as F
    probes = (spark.range(12)
              .select(F.col("id").alias("query_id"),
                      geocode_lat_col(F.col("id") + 77000).alias("lat"),
                      geocode_lon_col(F.col("id") + 77000).alias("lon")))
    out = joins.knn_join_table(pages, probes, k=3)
    got = (out.select("query_id", "url", "rank").toPandas()
           .sort_values(["query_id", "rank"]))
    for _, pr in probes.toPandas().iterrows():
        d = cells.haversine_km(pages_pdf["lat"].to_numpy(),
                               pages_pdf["lon"].to_numpy(),
                               pr["lat"], pr["lon"])
        exp = [u for _, u in sorted(zip(d, pages_pdf["url"]))[:3]]
        assert list(got[got["query_id"] == pr["query_id"]]["url"]) == exp


def test_meridian_segment_dist_sound_and_tight(spark):
    """The shared lower bound behind kNN pruning AND the box certificate:
    for random (probe, meridian segment, lon gap) configurations — polar,
    over-pole, equatorial, degenerate — the computed distance never
    exceeds the distance to ANY segment point (soundness) and matches the
    dense-sampled minimum up to sampling error (it is analytically
    exact)."""
    import pyspark.sql.functions as F
    rng = np.random.RandomState(17)
    n = 250
    lat_a = rng.uniform(-89.9, 89.9, n)
    lat_b = rng.uniform(-89.9, 89.9, n)
    pdf = pd.DataFrame({
        "q_lat": rng.uniform(-89.9, 89.9, n),
        "dlam": np.concatenate([rng.uniform(0.0, 180.0, n - 3),
                                [0.0, 179.999, 90.0]]),
        "lat_s": np.minimum(lat_a, lat_b),
        "lat_n": np.maximum(lat_a, lat_b)})
    df = spark.createDataFrame(pdf)
    out = (df.withColumn("d", joins._meridian_segment_dist(
        F.col("q_lat"), F.col("dlam"), F.col("lat_s"), F.col("lat_n")))
        .toPandas())
    for _, r in out.iterrows():
        lats = np.linspace(r["lat_s"], r["lat_n"], 600)
        sampled = cells.haversine_km(
            np.full_like(lats, r["q_lat"]), np.zeros_like(lats),
            lats, np.full_like(lats, r["dlam"])).min()
        assert r["d"] <= sampled + 1e-6, r.to_dict()       # sound
        assert sampled - r["d"] <= 5.0, r.to_dict()        # exact (tight)


# ---------------------------------------------------------------------------
# Radius (within-distance) join
# ---------------------------------------------------------------------------


def _brute_radius(pages_pdf, probes_pd, radius_km):
    exp = set()
    for _, pr in probes_pd.iterrows():
        d = cells.haversine_km(pages_pdf["lat"].to_numpy(),
                               pages_pdf["lon"].to_numpy(),
                               pr["lat"], pr["lon"])
        for u in pages_pdf["url"][d <= radius_km]:
            exp.add((int(pr["query_id"]), u))
    return exp


@pytest.mark.parametrize("radius_km", [150.0, 800.0, 4000.0])
def test_radius_join_matches_brute_force(spark, pages, pages_pdf, radius_km):
    """Hostile probe set: equator, mid-lat, near-pole (over-pole reach),
    antimeridian straddle — every (probe, point) pair within R and none
    outside, vs the NumPy haversine brute force."""
    probes_pd = pd.DataFrame({
        "query_id": [0, 1, 2, 3, 4, 5],
        "lat": [0.0, 37.5, -41.0, 89.3, 64.0, -89.9],
        "lon": [0.0, -122.0, 174.8, 10.0, 179.95, -45.0]})
    probes = spark.createDataFrame(probes_pd)
    out = joins.radius_join(pages, probes, radius_km)
    got = set((int(q), u) for q, u in
              out.select("query_id", "url").toPandas().itertuples(index=False))
    assert got == _brute_radius(pages_pdf, probes_pd, radius_km)


def test_radius_join_no_duplicate_pairs(spark, pages):
    probes = spark.createDataFrame(
        pd.DataFrame({"query_id": [7], "lat": [89.0], "lon": [0.0]}))
    out = joins.radius_join(pages, probes, 2500.0)
    n = out.count()
    assert out.select("query_id", "url").distinct().count() == n


def test_radius_join_boundary_inclusive(spark):
    """A point exactly AT distance R is kept; epsilon past it is dropped."""
    pts = spark.createDataFrame(pd.DataFrame({
        "url": ["in", "edge", "out"],
        "lat": [10.0, 10.0, 10.0],
        "lon": [20.0, 20.0, 20.0]}))
    probe_lat, probe_lon = 10.0, 21.0
    d_edge = float(cells.haversine_km(10.0, 20.0, probe_lat, probe_lon))
    probes = spark.createDataFrame(pd.DataFrame(
        {"query_id": [0], "lat": [probe_lat], "lon": [probe_lon]}))
    kept = joins.radius_join(pts, probes, d_edge).count()
    dropped = joins.radius_join(pts, probes, d_edge * (1 - 1e-9)).count()
    assert kept == 3 and dropped == 0


def test_radius_cover_sound_random(spark):
    """Property: for random probes and radii, every point within R falls in
    a cover cell (cover is a superset of the disc)."""
    rng = np.random.default_rng(42)
    for _ in range(200):
        plat = float(rng.uniform(-90, 90))
        plon = float(rng.uniform(-180, 180))
        r_km = float(rng.uniform(1.0, 12000.0))
        cover = set(cells.radius_cover(plat, plon, r_km,
                                       cells.radius_res(r_km)))
        rv = int(next(iter(cover)) >> 56)
        assert all((c >> 56) == rv for c in cover)
        # sample points on the disc boundary and interior
        for frac in (0.2, 0.9, 0.999, 1.0):
            for brg in np.linspace(0, 2 * np.pi, 13):
                ang = (r_km * frac) / cells.EARTH_RADIUS_KM
                la1, lo1 = np.radians(plat), np.radians(plon)
                la2 = np.arcsin(np.sin(la1) * np.cos(ang)
                                + np.cos(la1) * np.sin(ang) * np.cos(brg))
                lo2 = lo1 + np.arctan2(
                    np.sin(brg) * np.sin(ang) * np.cos(la1),
                    np.cos(ang) - np.sin(la1) * np.sin(la2))
                qlat = float(np.degrees(la2))
                qlon = float(((np.degrees(lo2) + 180.0) % 360.0) - 180.0)
                # guard: destination formula + haversine roundtrip can land
                # epsilon OUTSIDE R; only in-disc points must be covered
                if float(cells.haversine_km(plat, plon, qlat, qlon)) > r_km:
                    continue
                c = int(cells.grid_cell(np.array([qlat]), np.array([qlon]),
                                        rv)[0])
                assert c in cover, (plat, plon, r_km, qlat, qlon)
