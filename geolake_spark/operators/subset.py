"""The geolake query pipeline (P1-P7) over a long-form DataFrame.

Applies a :class:`~geolake_spark.model.GeoQuery` in the reference's fixed
operator order — filters -> variable select -> area|location -> time ->
vertical (/root/reference/datastore/datastore/datastore.py:418-456).  The
order is preserved deliberately (SURVEY.md §7 "non-standard semantics"), but
since every step is a declarative filter, Catalyst is free to push/reorder
the physical plan — partition pruning and parquet predicate pushdown come
for free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geolake_spark.functions.geo import LAT, LON, bbox_filter, haversine_col
from geolake_spark.model import GeoQuery

# Column conventions for "cube-like" long-form tables (FIXTURES.md §4)
TS, LEVEL, VAR = "ts", "level", "var"


def apply_filters(df: DataFrame, filters: dict) -> DataFrame:
    """Attribute equality filters — geolake's partition predicates
    (datastore.py:420-423).  On a partitioned table these prune files."""
    for k, v in filters.items():
        df = df.filter(F.col(k).isin(v) if isinstance(v, (list, tuple))
                       else (F.col(k) == F.lit(v)))
    return df


def select_variables(df: DataFrame, variables: list[str]) -> DataFrame:
    """Variable projection (datastore.py:426-428).  Long-form tables carry a
    ``var`` discriminator column -> a filter; wide tables -> column prune."""
    if VAR in df.columns:
        return df.filter(F.col(VAR).isin(variables))
    keys = [c for c in (TS, LAT, LON, LEVEL)
            if c in df.columns and c not in variables]
    return df.select(*keys, *variables)


def apply_area(df: DataFrame, area: dict) -> DataFrame:
    """geobbox (datastore.py:429-431); keys north/south/east/west.
    Longitudes given on 0..360 are normalized to -180..180 first; a span
    covering the full circle ({west: 0, east: 360}) keeps every longitude
    instead of degenerating to a single meridian."""
    lat_only = F.col(LAT).between(area["south"], area["north"])
    if area["east"] - area["west"] >= 360.0:
        return df.filter(lat_only)

    def norm(x: float) -> float:
        return x - 360.0 if x > 180.0 else x
    return df.filter(bbox_filter(F.col(LAT), F.col(LON),
                                 south=area["south"], north=area["north"],
                                 west=norm(area["west"]), east=norm(area["east"])))


def apply_location(df: DataFrame, location: dict) -> DataFrame:
    """Nearest-gridpoint select per requested location (datastore.py:432-434,
    method="nearest"): for each (lat, lon) probe keep the rows of the single
    nearest distinct grid point.

    One plan for any probe count: the probe table ``(_pid, _plat, _plon)``
    is broadcast and cross joined with the distinct grid points (on a
    gridded product far fewer than the rows), each probe keeps the minimum
    ``(distance, lat, lon)`` struct (ties go to the smaller lat, then the
    smaller lon), and a left-semi join keeps ``df``'s rows at the chosen
    points, in ``df``'s column order.  A point chosen by several probes is
    kept once; a row with a null coordinate is never chosen.
    """
    lats = location["latitude"]
    lons = location["longitude"]
    if not isinstance(lats, (list, tuple)):
        lats, lons = [lats], [lons]
    # a literal table: no Python-side RDD, so no Python worker starts
    probes = df.sparkSession.range(1).select(F.inline(F.array(*[
        F.struct(F.lit(i).alias("_pid"), F.lit(float(la)).alias("_plat"),
                 F.lit(float(lo)).alias("_plon"))
        for i, (la, lo) in enumerate(zip(lats, lons))])))
    d = haversine_col(F.col(LAT), F.col(LON), F.col("_plat"), F.col("_plon"))
    near = (df.select(LAT, LON)
            .filter(F.col(LAT).isNotNull() & F.col(LON).isNotNull())
            .distinct()
            .crossJoin(F.broadcast(probes))
            .groupBy("_pid")
            .agg(F.min(F.struct(d.alias("_d"), LAT, LON)).alias("_n"))
            .select(F.col(f"_n.{LAT}").alias("_nlat"),
                    F.col(f"_n.{LON}").alias("_nlon")))
    on = (F.col(LAT) == F.col("_nlat")) & (F.col(LON) == F.col("_nlon"))
    return df.join(F.broadcast(near), on, "left_semi")


def apply_time(df: DataFrame, time: dict) -> DataFrame:
    """Slice {start, stop} (datastore.py:458-466) or combinatorial
    {year, month, day, hour} membership (datastore.py:435-443).

    The time axis must be a real temporal type: the reference blacklists
    non-standard-calendar (cftime.DatetimeNoLeap) datasets outright
    (datastore.py:133-138) rather than let calendar-naive slicing return
    wrong rows; the Spark analogue of that failure is a string/numeric
    ``ts`` column silently compared through implicit casts."""
    from pyspark.sql import types as _T
    dt = df.schema[TS].dataType
    if not isinstance(dt, (_T.TimestampType, _T.TimestampNTZType,
                           _T.DateType)):
        raise TypeError(
            f"time column {TS!r} has non-temporal type {dt.simpleString()}; "
            f"cast it to timestamp at the source adapter (non-standard "
            f"calendars are unsupported, as in the reference)")
    if "start" in time or "stop" in time:
        if time.get("start") is not None:
            df = df.filter(F.col(TS) >= F.lit(time["start"]).cast("timestamp"))
        if time.get("stop") is not None:
            df = df.filter(F.col(TS) <= F.lit(time["stop"]).cast("timestamp"))
        return df
    parts = {"year": F.year, "month": F.month, "day": F.dayofmonth, "hour": F.hour}
    for key, fn in parts.items():
        if key in time and time[key] is not None:
            vals = time[key] if isinstance(time[key], (list, tuple)) else [time[key]]
            df = df.filter(fn(F.col(TS)).isin([int(v) for v in vals]))
    return df


def apply_vertical(df: DataFrame, vertical) -> DataFrame:
    """Slice {start, stop} -> range; scalar/list -> nearest level
    (datastore.py:444-455, method="nearest").  Nearest is resolved against
    the distinct level axis (tiny) and applied as an IN filter."""
    if isinstance(vertical, dict):
        return df.filter(F.col(LEVEL).between(float(vertical["start"]),
                                              float(vertical["stop"])))
    wanted = vertical if isinstance(vertical, (list, tuple)) else [vertical]
    levels = [r[0] for r in df.select(LEVEL).distinct().collect()]  # axis, not data
    chosen = sorted({min(levels, key=lambda lv: (abs(lv - float(w)), lv))
                     for w in wanted})
    return df.filter(F.col(LEVEL).isin(chosen))


def subset(df: DataFrame, query: GeoQuery | dict | str) -> DataFrame:
    """Full pipeline in the reference's fixed order (datastore.py:418-456)."""
    q = query if isinstance(query, GeoQuery) else GeoQuery.parse(query)
    if q.filters:
        df = apply_filters(df, q.filters)
    if q.variable:
        df = select_variables(df, q.variable)
    if q.area is not None:
        df = apply_area(df, q.area)
    if q.location is not None:
        df = apply_location(df, q.location)
    if q.time is not None:
        df = apply_time(df, q.time)
    if q.vertical is not None:
        df = apply_vertical(df, q.vertical)
    return df
