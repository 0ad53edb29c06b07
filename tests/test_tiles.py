"""Tile materialization: the geo column stack, the one-phase rollup,
regrid, GeoJSON export, partitioned writes."""

import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from geolake_spark import cells
from geolake_spark.functions import geo
from geolake_spark.operators import tiles

GEO_COLS = ([f"cell_r{r}" for r in cells.PACK_RESOLUTIONS]
            + ["h3_cells", "s2_cell", "tile_x", "tile_y"])


def _with_unlocated(spark, pages):
    """The pages' url/lat/lon plus one row without lat and one without lon."""
    unlocated = spark.createDataFrame(
        [("no-lat", None, 20.0), ("no-lon", 10.0, None)],
        "url string, lat double, lon double")
    return pages.select("url", "lat", "lon").unionByName(unlocated)


def test_with_geo_columns_matches_numpy(spark, pages):
    """Every derived column equals its NumPy kernel; a row with a null
    coordinate gets no cell, S2 id or tile."""
    out = geo.with_geo_columns(_with_unlocated(spark, pages))
    pdf = out.where(F.col("lat").isNotNull() & F.col("lon").isNotNull()) \
        .toPandas()
    lat, lon = pdf["lat"].to_numpy(), pdf["lon"].to_numpy()
    assert len(pdf) == pages.count()
    cell_cols = [f"cell_r{r}" for r in cells.PACK_RESOLUTIONS]
    for r, c in zip(cells.PACK_RESOLUTIONS, cell_cols):
        assert np.array_equal(pdf[c].to_numpy(), cells.grid_cell(lat, lon, r))
    assert [list(v) for v in pdf["h3_cells"]] == pdf[cell_cols].values.tolist()
    assert np.array_equal(pdf["s2_cell"].to_numpy(),
                          cells.s2_cell_id(lat, lon, level=12))
    xt, yt = cells.tile_xy(lat, lon, 8)
    assert np.array_equal(pdf["tile_x"].to_numpy(), xt)
    assert np.array_equal(pdf["tile_y"].to_numpy(), yt)
    assert (pdf["tile_z"] == 8).all()
    unlocated = out.where(F.col("url").isin("no-lat", "no-lon")).collect()
    assert len(unlocated) == 2
    for row in unlocated:
        assert all(row[c] is None for c in GEO_COLS), row


def test_rollup_tiles_matches_numpy_one_shuffle(spark, pages):
    """The counts equal a NumPy group-by of cells.tile_xy over the located
    pages (unlocated pages land in no tile), from one shuffle."""
    out = tiles.rollup_tiles(_with_unlocated(spark, pages), 7)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    got = {(r["tile_x"], r["tile_y"]): r["page_count"] for r in out.collect()}
    pdf = pages.select("lat", "lon").toPandas()
    xt, yt = cells.tile_xy(pdf["lat"].to_numpy(), pdf["lon"].to_numpy(), 7)
    keys, counts = np.unique(np.stack([xt, yt], axis=1), axis=0,
                             return_counts=True)
    assert got == {(int(x), int(y)): int(c) for (x, y), c in zip(keys, counts)}


def test_regrid_values_match_pandas(spark, pages):
    df = pages.withColumn("value", F.col("lat") * 2 + F.col("lon"))
    out = tiles.regrid(df, zoom=5, value_col="value", operator="nanmean")
    got = {(r["tile_x"], r["tile_y"]): r["value"] for r in out.collect()}
    pdf = df.select("lat", "lon", "value").toPandas()
    xt, yt = cells.tile_xy(pdf["lat"].to_numpy(), pdf["lon"].to_numpy(), 5)
    pdf["tx"], pdf["ty"] = xt, yt
    exp = pdf.groupby(["tx", "ty"])["value"].mean()
    assert len(got) == len(exp)
    for (tx, ty), v in exp.items():
        assert abs(got[(tx, ty)] - v) < 1e-9


def test_geojson_export_is_valid_features(spark, pages):
    stats = tiles.rollup_tiles(pages, 4)
    feats = [json.loads(r["feature"]) for r in
             tiles.tiles_geojson(stats).collect()]
    assert len(feats) == stats.count()
    f = feats[0]
    assert f["type"] == "Feature" and f["geometry"]["type"] == "Polygon"
    ring = f["geometry"]["coordinates"][0]
    assert len(ring) == 5 and ring[0] == ring[-1]  # closed ring
    assert "page_count" in f["properties"]
    # tile polygon must contain the tile's own bounds midpoint
    lons = [p[0] for p in ring]; lats = [p[1] for p in ring]
    assert min(lons) >= -180 and max(lons) <= 180
    assert min(lats) >= -86 and max(lats) <= 86


def test_write_tiles_partition_layout(spark, pages, tmp_path):
    out = str(tmp_path / "tiles")
    tiles.write_tiles(pages.limit(200), out, zoom=3)
    back = spark.read.parquet(out)
    assert back.count() == 200
    import os
    zdirs = [d for d in os.listdir(out) if d.startswith("tile_z=")]
    assert zdirs == ["tile_z=3"]
    xdirs = os.listdir(os.path.join(out, "tile_z=3"))
    assert all(d.startswith("tile_x=") for d in xdirs if not d.startswith("_"))


def test_pyramid_levels_consistent(spark, pages):
    pyr = tiles.build_pyramid(pages, max_zoom=6, min_zoom=3)
    pdf = pyr.toPandas()
    total = pages.count()
    for z, grp in pdf.groupby("tile_z"):
        assert grp["page_count"].sum() == total  # every level covers all pages
    # every parent equals the sum of its children
    z6 = pdf[pdf.tile_z == 6]
    z5 = pdf[pdf.tile_z == 5].set_index(["tile_x", "tile_y"])["page_count"]
    child_sum = (z6.assign(px=z6.tile_x // 2, py=z6.tile_y // 2)
                 .groupby(["px", "py"])["page_count"].sum())
    assert child_sum.to_dict() == z5.to_dict()
