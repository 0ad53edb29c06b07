"""Raster<->vector tile materialization (north-rule W4 analogue).

geolake's ``to_regular`` regrids a curvilinear cube onto a regular grid
(/root/reference/datastore/workflow/workflow.py:157-167).  Here the regular
grid is the Web-Mercator tile pyramid: every page lands in a (z, x, y) tile,
per-tile aggregates are materialized, and writes are partitioned by z/x/y —
empty tiles are naturally absent (reference skips empty cubes,
executor/app/main.py:138-143).

Skew: urban tiles are orders of magnitude hotter than rural ones
(zipf hosts -> city clusters).  The tile count is algebraic, so one
``groupBy`` is enough: the map-side partial count cuts a hot tile down to one
row per task before the shuffle, and no reducer receives a mega-tile's pages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geolake_spark.functions.geo import LAT, LON, tile_x_col, tile_y_col


def assign_tiles(df: DataFrame, zoom: int) -> DataFrame:
    return (df.withColumn("tile_z", F.lit(zoom))
            .withColumn("tile_x", tile_x_col(F.col(LON), zoom))
            .withColumn("tile_y", tile_y_col(F.col(LAT), zoom)))


def rollup_tiles(df: DataFrame, zoom: int) -> DataFrame:
    """Exact per-tile page count ``page_count``; a page without a location
    lands in no tile."""
    located = df.where(F.col(LAT).isNotNull() & F.col(LON).isNotNull())
    return (assign_tiles(located, zoom)
            .groupBy("tile_z", "tile_x", "tile_y")
            .agg(F.count("*").alias("page_count")))


def regrid(df: DataFrame, zoom: int, value_col: str = "value",
           operator: str = "mean") -> DataFrame:
    """geolake ``to_regular`` (workflow.py:157-167): resample point values
    onto the regular tile grid — per-tile aggregate of ``value_col``.
    Operators mirror the resample whitelist (nan-variants skip NaN)."""
    from geolake_spark.operators.aggregates import _resolve_agg
    agg_fn, nan_skipping = _resolve_agg(operator)
    tiled = assign_tiles(df, zoom)
    val = F.col(value_col)
    if nan_skipping:
        val = F.when(F.isnan(val), F.lit(None)).otherwise(val)
    return (tiled.groupBy("tile_z", "tile_x", "tile_y")
            .agg(agg_fn(val).alias(value_col),
                 F.count("*").alias("n_points")))


def write_tiles(df: DataFrame, path: str, zoom: int) -> None:
    """Materialize tile-partitioned parquet, replacing whatever is at
    ``path``: path/tile_z=/tile_x=/tile_y=/."""
    (assign_tiles(df, zoom)
     .repartition("tile_x", "tile_y")  # co-locate a tile's rows -> 1 file/tile
     .write.mode("overwrite")
     .partitionBy("tile_z", "tile_x", "tile_y")
     .parquet(path))


def build_pyramid(df: DataFrame, max_zoom: int, min_zoom: int = 0) -> DataFrame:
    """Full tile pyramid z in [min_zoom, max_zoom] in ONE raw-data pass.

    The finest level aggregates the raw points; every coarser level
    aggregates its children's *aggregates* (parent tile = x>>1, y>>1 —
    exact, since Web-Mercator tiles nest) — at scale this is the difference
    between one 100TB scan and (max_zoom - min_zoom + 1) of them.
    """
    levels = [rollup_tiles(df, max_zoom)]
    cur = levels[0]
    for z in range(max_zoom - 1, min_zoom - 1, -1):
        cur = (cur.select(F.lit(z).alias("tile_z"),
                          F.shiftright(F.col("tile_x"), 1).alias("tile_x"),
                          F.shiftright(F.col("tile_y"), 1).alias("tile_y"),
                          "page_count")
               .groupBy("tile_z", "tile_x", "tile_y")
               .agg(F.sum("page_count").alias("page_count")))
        levels.append(cur)
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out


def tiles_geojson(tile_stats: DataFrame) -> DataFrame:
    """Vector export of tile aggregates as GeoJSON feature strings —
    geolake's GeoJSON sink analogue (executor/app/main.py:119-121)."""
    n = F.pow(F.lit(2.0), F.col("tile_z"))
    lon_w = F.col("tile_x") / n * 360.0 - 180.0
    lon_e = (F.col("tile_x") + 1) / n * 360.0 - 180.0
    # inverse Web-Mercator for tile row edges
    lat_n = F.degrees(F.atan(F.sinh(F.lit(float(3.141592653589793))
                                    * (1 - 2 * F.col("tile_y") / n))))
    lat_s = F.degrees(F.atan(F.sinh(F.lit(float(3.141592653589793))
                                    * (1 - 2 * (F.col("tile_y") + 1) / n))))
    geom = F.to_json(F.struct(
        F.lit("Polygon").alias("type"),
        F.array(F.array(
            F.array(lon_w, lat_s), F.array(lon_e, lat_s), F.array(lon_e, lat_n),
            F.array(lon_w, lat_n), F.array(lon_w, lat_s))).alias("coordinates")))
    props = F.to_json(F.struct(*[F.col(c) for c in tile_stats.columns]))
    return tile_stats.select(
        F.concat(F.lit('{"type":"Feature","geometry":'), geom,
                 F.lit(',"properties":'), props, F.lit("}")).alias("feature"))
