"""Per-request output-format routing (reference: GeoQuery carries ``format``
and the executor picks the sink per request — geoquery.py:17,
executor/app/main.py:115-121).

Formats:

* ``parquet`` (default) — columnar snapshot, the engine's native sink;
* ``json``    — Spark's line-delimited JSON sink;
* ``geojson`` — vector features as text: tile frames when the result has
  ``tile_z/tile_x/tile_y`` columns (reuses the tile sink), otherwise Point
  features from ``lat``/``lon`` columns with all other columns as
  properties.

Every sink is a distributed Spark write (one file part per partition) —
no driver-side collection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geolake_spark.functions.geo import LAT, LON

FORMATS = ("parquet", "json", "geojson")


def points_geojson(df: DataFrame) -> DataFrame:
    """Point-feature strings: geometry from lat/lon, every other column in
    ``properties`` (JVM to_json — no Python in the row path)."""
    props_cols = [c for c in df.columns if c not in (LAT, LON)]
    geom = F.to_json(F.struct(
        F.lit("Point").alias("type"),
        F.array(F.col(LON), F.col(LAT)).alias("coordinates")))
    props = F.to_json(F.struct(*[F.col(c) for c in props_cols]))
    return df.select(
        F.concat(F.lit('{"type":"Feature","geometry":'), geom,
                 F.lit(',"properties":'), props, F.lit("}")).alias("feature"))


def write_result(df: DataFrame, path: str, format: str | None = None) -> None:
    fmt = (format or "parquet").lower()
    if fmt == "parquet":
        df.write.mode("overwrite").parquet(path)
    elif fmt == "json":
        df.write.mode("overwrite").json(path)
    elif fmt == "geojson":
        if {"tile_z", "tile_x", "tile_y"} <= set(df.columns):
            from geolake_spark.operators.tiles import tiles_geojson
            feats = tiles_geojson(df)
        elif {LAT, LON} <= set(df.columns):
            feats = points_geojson(df)
        else:
            raise ValueError("geojson needs tile_z/x/y or lat/lon columns")
        feats.write.mode("overwrite").text(path)
    else:
        raise ValueError(f"unknown format {format!r}; one of {FORMATS}")
