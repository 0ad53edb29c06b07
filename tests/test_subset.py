"""GeoQuery pipeline (P1-P7) on the synthetic obs cube vs pandas oracle."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geolake_spark.model import GeoQuery
from geolake_spark.operators import subset


@pytest.fixture(scope="module")
def obs(spark, synth_paths):
    return spark.read.parquet(synth_paths["obs"])


@pytest.fixture(scope="module")
def obs_pdf(obs):
    return obs.toPandas()


def test_attribute_filters_prune(obs, obs_pdf):
    out = subset.apply_filters(obs, {"resolution": "0.1", "version": "v1"})
    exp = obs_pdf[(obs_pdf.resolution == "0.1") & (obs_pdf.version == "v1")]
    assert out.count() == len(exp)


def test_variable_projection(obs, obs_pdf):
    out = subset.select_variables(obs, ["tas"])
    assert out.count() == (obs_pdf["var"] == "tas").sum()
    # wide table: a variable that is also a key column is projected once
    wide = subset.select_variables(obs.drop("var"), ["lat", "value"])
    assert wide.columns == ["ts", "lon", "level", "lat", "value"]


def test_bbox(obs, obs_pdf):
    out = subset.apply_area(obs, {"north": 10.6, "south": 10.0,
                                  "east": 25.2, "west": 24.0})
    exp = obs_pdf[(obs_pdf.lat >= 10.0) & (obs_pdf.lat <= 10.6)
                  & (obs_pdf.lon >= 24.0) & (obs_pdf.lon <= 25.2)]
    assert out.count() == len(exp)


def test_bbox_0_360_normalized(obs):
    # reference fixture uses east=260/west=240 on 0..360 (fixtures.py:12-16)
    out = subset.apply_area(obs, {"north": -85, "south": -90,
                                  "east": 260, "west": 240})
    assert out.count() == 0  # obs grid lives at lat 10-11


def test_bbox_full_globe_span(obs, obs_pdf):
    """{west: 0, east: 360} means ALL longitudes, not the single meridian
    the 0..360 normalization would otherwise collapse it to."""
    out = subset.apply_area(obs, {"north": 90, "south": -90,
                                  "east": 360, "west": 0})
    assert out.count() == len(obs_pdf)


def test_location_nearest(obs, obs_pdf):
    out = subset.apply_location(obs, {"latitude": 10.2, "longitude": 25.1})
    got = out.select("lat", "lon").distinct().collect()
    assert len(got) == 1
    assert (got[0]["lat"], got[0]["lon"]) == (10.0, 25.0)  # nearest grid point


def test_time_slice(obs, obs_pdf):
    out = subset.apply_time(obs, {"start": "2021-06-01", "stop": "2021-06-30"})
    exp = obs_pdf[(obs_pdf.ts >= "2021-06-01") & (obs_pdf.ts <= "2021-06-30")]
    assert out.count() == len(exp)


def test_time_combinatorial(obs, obs_pdf):
    sel = {"year": [2021], "month": [3, 6], "day": [23, 27], "hour": [6]}
    out = subset.apply_time(obs, sel)
    t = obs_pdf.ts.dt
    exp = obs_pdf[t.year.isin([2021]) & t.month.isin([3, 6])
                  & t.day.isin([23, 27]) & t.hour.isin([6])]
    assert out.count() == len(exp) > 0


def test_vertical_slice_and_nearest(obs, obs_pdf):
    out = subset.apply_vertical(obs, {"start": 400.0, "stop": 900.0})
    assert out.count() == obs_pdf.level.isin([500.0, 850.0]).sum()
    near = subset.apply_vertical(obs, 600.0)  # nearest -> 500
    assert set(r[0] for r in near.select("level").distinct().collect()) == {500.0}


def test_full_pipeline_fixed_order(obs, obs_pdf):
    q = GeoQuery.parse({
        "variable": "tas",
        "resolution": "0.1",
        "area": {"north": 10.6, "south": 10.0, "east": 25.2, "west": 24.0},
        "time": {"year": [2021], "hour": [0, 6]},
        "vertical": 600.0,
    })
    out = subset.subset(obs, q)
    t = obs_pdf.ts.dt
    exp = obs_pdf[(obs_pdf["var"] == "tas") & (obs_pdf.resolution == "0.1")
                  & (obs_pdf.lat.between(10.0, 10.6)) & (obs_pdf.lon.between(24.0, 25.2))
                  & t.year.isin([2021]) & t.hour.isin([0, 6])
                  & (obs_pdf.level == 500.0)]
    assert out.count() == len(exp) > 0


def test_apply_location_matches_brute_force(obs, obs_pdf):
    """One plan for any probe count picks, per probe, the grid point NumPy
    picks: smallest distance, ties to the smaller lat, then the smaller
    lon.  Checked on 150 random probes, on probes midway between grid
    points, and on two probes at one point (its rows come back once), over
    a frame whose null-coordinate rows are never chosen."""
    from geolake_spark.cells import haversine_km
    null = F.lit(None).cast("double")
    frame = (obs.unionByName(obs.limit(1).withColumn("lat", null))
             .unionByName(obs.limit(1).withColumn("lon", null)))
    grid = obs_pdf[["lat", "lon"]].drop_duplicates().to_numpy()

    def check(lats, lons):
        want = set()
        for plat, plon in zip(lats, lons):
            d = haversine_km(grid[:, 0], grid[:, 1], plat, plon)
            i = np.lexsort((grid[:, 1], grid[:, 0], d))[0]
            want.add((grid[i, 0], grid[i, 1]))
        out = subset.apply_location(frame, {"latitude": lats,
                                            "longitude": lons})
        assert out.columns == frame.columns
        rows = [tuple(r) for r in out.select("lat", "lon").collect()]
        assert set(rows) == want
        at = pd.Series(list(zip(obs_pdf.lat, obs_pdf.lon))).isin(want)
        assert len(rows) == int(at.sum())
        return want

    rng = np.random.RandomState(11)
    check(list(np.round(rng.uniform(9.5, 11.5, 150), 4)),
          list(np.round(rng.uniform(23.5, 26.5, 150), 4)))
    # midway on a meridian, on a parallel, and amid four points (the
    # poleward pair is nearer on the sphere, and tied)
    assert check([10.25], [25.0]) == {(10.0, 25.0)}
    assert check([11.0], [25.25]) == {(11.0, 25.0)}
    assert check([10.25], [25.25]) == {(10.5, 25.0)}
    assert check([10.9, 10.9], [25.4, 25.4]) == {(11.0, 25.5)}


def test_apply_time_rejects_non_temporal_axis(spark):
    """Round 4: a string/numeric ts column must raise (the reference
    blacklists non-standard-calendar datasets, datastore.py:133-138 —
    silent implicit casts are the Spark analogue of that wrong-rows
    failure), while date/timestamp axes pass."""
    import pytest
    from pyspark.sql import functions as F

    from geolake_spark.operators import subset as sub
    df_str = spark.createDataFrame([("2024-01-01",)], ["ts"])
    with pytest.raises(TypeError, match="non-temporal"):
        sub.apply_time(df_str, {"start": "2024-01-01"})
    df_ok = df_str.select(F.col("ts").cast("timestamp"))
    assert sub.apply_time(df_ok, {"start": "2024-01-01"}).count() == 1
