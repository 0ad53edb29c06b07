"""Gap-based trip (session) segmentation over a point-event stream.

The geospatial analogue of web-log sessionization: each entity's events,
ordered by time, are cut into *trips* wherever the gap to the previous
event exceeds ``gap_minutes``; trips are then rolled up into per-trip
summaries (point count, time span, great-circle path length).

Spark plan — ONE shuffle end to end:

* :func:`segment_trips` runs a single window over
  ``partitionBy(entity) orderBy(ts, id)`` computing the lag gap, the
  new-trip flag, the running trip index, and the per-step haversine km.
* :func:`trip_stats` groups on ``(entity, trip_seq)``.  The rows are
  already hash-partitioned on ``entity`` — a subset of the grouping
  keys — so Catalyst satisfies the aggregate's distribution without a
  second exchange and the partial aggregation is map-side.  At 100 TB
  the cost is one shuffle of the point table, same as any per-entity
  window; skewed entities are bounded by per-entity event volume, not
  corpus size.

Determinism contract (shared with the DuckDB oracle): ordering is total
via the ``(ts, id)`` tie-break, gaps compare in integer microseconds
(``unix_micros`` / ``epoch_us``), and the step distance reuses the exact
haversine formula from :mod:`geolake_spark.cells`.

Reference analogue: none — geolake (reference ``datastore/``) has no
event sessionization; this is part of the training-data/telemetry
pipeline surface SURVEY §2.9/§6 mandates beyond the reference.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.geo import haversine_col


def _micros(ts_col: str) -> Column:
    """Integer epoch microseconds.  Parquet timestamps load as
    TIMESTAMP_NTZ, which ``unix_micros`` rejects; the session timezone
    is pinned to UTC (session.py:32) so the cast is an exact epoch
    mapping — identical to DuckDB ``epoch_us`` on naive timestamps."""
    return F.unix_micros(F.col(ts_col).cast("timestamp"))


def segment_trips(events: DataFrame, gap_minutes: float = 480.0,
                  entity_col: str = "user_id", ts_col: str = "ts",
                  id_col: str = "event_id", lat_col: str = "lat",
                  lon_col: str = "lon") -> DataFrame:
    """Label each point with its ``trip_seq`` (1-based per entity) and
    the great-circle ``step_km`` from the previous point of the SAME
    trip (0.0 on trip starts).

    All added columns come from one window; everything stays in
    whole-stage codegen (no Python UDFs).
    """
    w = Window.partitionBy(entity_col).orderBy(ts_col, id_col)
    us = _micros(ts_col)
    prev_us = F.lag(us).over(w)
    gap_us = int(round(gap_minutes * 60.0 * 1_000_000))
    new_trip = (prev_us.isNull()
                | ((us - prev_us) > F.lit(gap_us))).cast("bigint")
    out = events.withColumn("_new_trip", new_trip)
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    step = F.when(
        F.col("_new_trip") == 1, F.lit(0.0)
    ).otherwise(haversine_col(
        F.lag(F.col(lat_col)).over(w), F.lag(F.col(lon_col)).over(w),
        F.col(lat_col), F.col(lon_col)))
    return (out
            .withColumn("trip_seq", F.sum("_new_trip").over(wrun))
            .withColumn("step_km", step)
            .drop("_new_trip"))


def trip_stats(events: DataFrame, gap_minutes: float = 480.0,
               entity_col: str = "user_id", ts_col: str = "ts",
               id_col: str = "event_id", lat_col: str = "lat",
               lon_col: str = "lon") -> DataFrame:
    """Per-trip rollup: ``(entity, trip_seq, n_points, start_ts, end_ts,
    duration_us, path_km)``.

    ``duration_us`` stays integer microseconds (exact); ``path_km`` is
    the sum of in-trip haversine steps.  Grouping keys extend the
    window's partition key, so this adds NO shuffle beyond
    :func:`segment_trips`'s one.
    """
    pts = segment_trips(events, gap_minutes, entity_col, ts_col,
                        id_col, lat_col, lon_col)
    us = _micros(ts_col)
    return (pts.groupBy(entity_col, "trip_seq")
            .agg(F.count(F.lit(1)).alias("n_points"),
                 F.min(ts_col).alias("start_ts"),
                 F.max(ts_col).alias("end_ts"),
                 (F.max(us) - F.min(us)).alias("duration_us"),
                 F.sum("step_km").alias("path_km")))


def trip_stats_sql(table: str, lat_sql: str, lon_sql: str,
                   gap_minutes: float = 480.0,
                   entity_col: str = "user_id", ts_col: str = "ts",
                   id_col: str = "event_id") -> str:
    """ANSI-SQL twin of :func:`trip_stats` (DuckDB oracle).

    ``lat_sql``/``lon_sql`` are expressions over the base table's
    columns (the oracles pass the deterministic geocode formulas).
    """
    from ..cells import haversine_sql
    gap_us = int(round(gap_minutes * 60.0 * 1_000_000))
    return f"""
WITH pts AS (
  SELECT {entity_col}, {id_col}, {ts_col},
         epoch_us({ts_col}) AS us,
         {lat_sql} AS lat, {lon_sql} AS lon
  FROM {table}
), lagd AS (
  SELECT *, lag(us) OVER w AS pus,
         lag(lat) OVER w AS plat, lag(lon) OVER w AS plon
  FROM pts
  WINDOW w AS (PARTITION BY {entity_col} ORDER BY {ts_col}, {id_col})
), flags AS (
  SELECT *, CASE WHEN pus IS NULL OR us - pus > {gap_us}
                 THEN 1 ELSE 0 END AS nt
  FROM lagd
), seq AS (
  SELECT *,
         sum(nt) OVER (PARTITION BY {entity_col}
                       ORDER BY {ts_col}, {id_col}
                       ROWS UNBOUNDED PRECEDING) AS trip_seq,
         CASE WHEN nt = 1 THEN 0.0
              ELSE {haversine_sql('plat', 'plon', 'lat', 'lon')}
         END AS step_km
  FROM flags
)
SELECT {entity_col}, trip_seq, count(*) AS n_points,
       min({ts_col}) AS start_ts, max({ts_col}) AS end_ts,
       max(us) - min(us) AS duration_us, sum(step_km) AS path_km
FROM seq
GROUP BY {entity_col}, trip_seq
"""


def od_matrix(events: DataFrame, res: int, gap_minutes: float = 480.0,
              entity_col: str = "user_id", ts_col: str = "ts",
              id_col: str = "event_id", lat_col: str = "lat",
              lon_col: str = "lon") -> DataFrame:
    """Origin-destination flow matrix: ``(src_cell, dst_cell, n_trips)``
    — each trip contributes one flow from its first point's cell to its
    last point's cell (grid res ``res``).  The mobility-analytics
    staple (commute matrices, tile-to-tile demand).

    Plan: segment_trips' one window shuffle, an arg-min/arg-max struct
    aggregate per trip (reuses the window's hash partitioning — no new
    exchange), then one partial-agg'd groupBy on the (src, dst) cell
    pair.  Counts are integers; the cells come from the same grid
    expression as every rollup — the DuckDB oracle replays it exactly.
    """
    from ..functions.geo import grid_cell_col
    pts = segment_trips(events, gap_minutes, entity_col, ts_col,
                        id_col, lat_col, lon_col)
    key = F.struct(F.col(ts_col), F.col(id_col),
                   F.col(lat_col).alias("lat"), F.col(lon_col).alias("lon"))
    ends = (pts.groupBy(entity_col, "trip_seq")
            .agg(F.min(key).alias("_o"), F.max(key).alias("_d")))
    src = grid_cell_col(F.col("_o.lat"), F.col("_o.lon"), res)
    dst = grid_cell_col(F.col("_d.lat"), F.col("_d.lon"), res)
    return (ends.select(src.alias("src_cell"), dst.alias("dst_cell"))
            .groupBy("src_cell", "dst_cell")
            .agg(F.count(F.lit(1)).alias("n_trips")))


def od_matrix_sql(table: str, lat_sql: str, lon_sql: str, res: int,
                  gap_minutes: float = 480.0,
                  entity_col: str = "user_id", ts_col: str = "ts",
                  id_col: str = "event_id") -> str:
    """DuckDB twin of :func:`od_matrix` (same window segmentation, same
    struct arg-min/arg-max, same cell arithmetic)."""
    from ..cells import grid_cell_sql
    gap_us = int(round(gap_minutes * 60.0 * 1_000_000))
    return f"""
WITH _od_pts AS (
  SELECT {entity_col}, {id_col}, {ts_col}, epoch_us({ts_col}) AS us,
         {lat_sql} AS lat, {lon_sql} AS lon
  FROM {table}
), _od_lag AS (
  SELECT *, lag(us) OVER w AS pus FROM _od_pts
  WINDOW w AS (PARTITION BY {entity_col} ORDER BY {ts_col}, {id_col})
), _od_seq AS (
  SELECT *, sum(CASE WHEN pus IS NULL OR us - pus > {gap_us}
                     THEN 1 ELSE 0 END)
            OVER (PARTITION BY {entity_col} ORDER BY {ts_col}, {id_col}
                  ROWS UNBOUNDED PRECEDING) AS trip_seq
  FROM _od_lag
), _od_ends AS (
  SELECT {entity_col}, trip_seq,
         min({{'t': {ts_col}, 'i': {id_col}, 'lat': lat, 'lon': lon}}) AS o,
         max({{'t': {ts_col}, 'i': {id_col}, 'lat': lat, 'lon': lon}}) AS d
  FROM _od_seq GROUP BY 1, 2
)
SELECT {grid_cell_sql('o.lat', 'o.lon', res)} AS src_cell,
       {grid_cell_sql('d.lat', 'd.lon', res)} AS dst_cell,
       count(*) AS n_trips
FROM _od_ends GROUP BY 1, 2"""


def funnel_counts(events: DataFrame, steps: list[str],
                  entity_col: str = "user_id", ts_col: str = "ts",
                  id_col: str = "event_id",
                  type_col: str = "event_type") -> DataFrame:
    """Ordered-funnel conversion: ONE row ``(n_entities, step1_users,
    step2_users, ...)`` where ``stepK_users`` counts entities whose
    event-type sequence (ordered by ``(ts, id)``) contains
    ``steps[0..k-1]`` as a subsequence — the product-analytics staple
    (view -> click -> purchase).

    Plan: one groupBy(entity) collecting the sorted type array (the
    only shuffle), then the subsequence match is a chain of
    array_position/slice expressions (first occurrence of step k AFTER
    step k-1's position) — pure codegen, integer output, replayed
    exactly by the DuckDB twin."""
    assert len(steps) >= 1
    key = F.struct(F.col(ts_col), F.col(id_col),
                   F.col(type_col).alias("typ"))
    per = (events.groupBy(entity_col)
           .agg(F.transform(F.array_sort(F.collect_list(key)),
                            lambda s: s["typ"]).alias("_types")))
    types = F.col("_types")
    pos = F.array_position(types, steps[0])
    positions = [pos]
    for s in steps[1:]:
        prev = positions[-1]
        rel = F.array_position(
            F.slice(types, (prev + 1).cast("int"),
                    F.greatest(F.size(types) - prev.cast("int"),
                               F.lit(0)).cast("int")), s)
        positions.append(
            F.when((prev > 0) & (rel > 0), prev + rel).otherwise(F.lit(0)))
    marked = per.select(
        *[p.alias(f"_p{i}") for i, p in enumerate(positions)])
    aggs = [F.count(F.lit(1)).alias("n_entities")]
    for i, s in enumerate(steps):
        aggs.append(F.sum((F.col(f"_p{i}") > 0).cast("bigint"))
                    .alias(f"step{i + 1}_users"))
    return marked.groupBy().agg(*aggs)


def funnel_counts_sql(table: str, steps: list[str],
                      entity_col: str = "user_id", ts_col: str = "ts",
                      id_col: str = "event_id",
                      type_col: str = "event_type") -> str:
    """DuckDB twin of :func:`funnel_counts` (list_position + slicing;
    NULL-absent positions coalesce to 0 to match Spark's contract)."""
    def esc(s: str) -> str:
        return s.replace("'", "''")
    pos_exprs = [f"coalesce(list_position(types, '{esc(steps[0])}'), 0)"]
    for i, s in enumerate(steps[1:], start=1):
        prev = f"p{i - 1}"
        pos_exprs.append(
            f"(CASE WHEN {prev} > 0 AND coalesce(list_position("
            f"types[{prev} + 1:len(types)], '{esc(s)}'), 0) > 0 "
            f"THEN {prev} + list_position(types[{prev} + 1:len(types)], "
            f"'{esc(s)}') ELSE 0 END)")
    # build p0..pk through chained CTE projections (each depends on prev)
    chain = f"SELECT types, {pos_exprs[0]} AS p0 FROM _fn_types"
    for i in range(1, len(steps)):
        chain = (f"SELECT types, "
                 + ", ".join(f"p{j}" for j in range(i))
                 + f", {pos_exprs[i]} AS p{i} FROM ({chain})")
    sums = ", ".join(
        f"sum(CASE WHEN p{i} > 0 THEN 1 ELSE 0 END) AS step{i + 1}_users"
        for i in range(len(steps)))
    return f"""
WITH _fn_types AS (
  SELECT {entity_col},
         list({type_col} ORDER BY {ts_col}, {id_col}) AS types
  FROM {table} GROUP BY {entity_col}
)
SELECT count(*) AS n_entities, {sums} FROM ({chain})"""


def retention_matrix(events: DataFrame, bucket_days: int = 7,
                     entity_col: str = "user_id",
                     ts_col: str = "ts") -> DataFrame:
    """Cohort retention: ``(cohort_bucket, bucket_offset, n_active)`` —
    entities grouped by the time bucket of their FIRST event (cohort),
    counted in every later bucket they were active in (offset 0 = the
    cohort bucket itself).  Buckets are ``bucket_days``-wide integer
    epoch-day divisions — all-integer arithmetic, exact oracle.

    Plan: one groupBy(entity, bucket) distinct-activity tier (partial-
    agg'd), a window min for the cohort (reuses the entity hash
    partitioning), then the (cohort, offset) count — no distinct-count
    shuffle of raw events."""
    us = _micros(ts_col)
    bucket = F.floor(us / F.lit(86_400_000_000 * bucket_days)) \
        .cast("bigint")
    active = (events.select(F.col(entity_col).alias("_e"),
                            bucket.alias("_b"))
              .groupBy("_e", "_b").agg(F.count(F.lit(1)).alias("_n")))
    w = Window.partitionBy("_e")
    withc = active.withColumn("_cohort", F.min("_b").over(w))
    return (withc.select(F.col("_cohort").alias("cohort_bucket"),
                         (F.col("_b") - F.col("_cohort"))
                         .alias("bucket_offset"))
            .groupBy("cohort_bucket", "bucket_offset")
            .agg(F.count(F.lit(1)).alias("n_active")))


def retention_matrix_sql(table: str, bucket_days: int = 7,
                         entity_col: str = "user_id",
                         ts_col: str = "ts") -> str:
    """DuckDB twin (same integer bucket arithmetic)."""
    div = 86_400_000_000 * bucket_days
    return f"""
WITH _rt_a AS (
  SELECT {entity_col} AS e,
         cast(floor(epoch_us({ts_col}) / {div}) as bigint) AS b
  FROM {table} GROUP BY 1, 2
), _rt_c AS (
  SELECT e, b, min(b) OVER (PARTITION BY e) AS cohort FROM _rt_a
)
SELECT cohort AS cohort_bucket, b - cohort AS bucket_offset,
       count(*) AS n_active
FROM _rt_c GROUP BY 1, 2"""


# ---------------------------------------------------------------------------
# Geofencing — enter/exit transition detection over polygon fences
# ---------------------------------------------------------------------------
# The standard mobility/telemetry primitive (geofence alerting): given a
# set of polygon fences and a point-event stream, emit one row per
# entity state TRANSITION — the first observation inside any fence and
# every subsequent boundary crossing.  Fence membership is decided at
# cell granularity: the fences rasterize once through
# spatial.polygon_raster_cells (even-odd ray-cast over cell centers) and
# an event is "inside" iff its res-cell is a fence cell.  That makes the
# whole operator integer-exact (no float PIP at probe time) and turns
# the membership test into a broadcast hash join against the small
# rasterized fence set.
#
# Scale shape: ONE broadcast join (fence raster is polygons-sized, not
# events-sized) + ONE window shuffle on the entity key — the same
# single-shuffle budget as segment_trips; at 10^12 events the cost is
# the per-entity window everyone already pays for sessionization.
# Union semantics: overlapping fences collapse to min(polygon_id) per
# cell; a fence-to-fence move without leaving fenced area emits nothing
# (in_fence never flips).  Trailing presence emits no exit.
#
# Reference analogue: none (geolake has no event streams); this extends
# the mobility surface mandated beyond the reference (SURVEY §6).


def geofence_events(events: DataFrame, fence_cells: DataFrame, res: int,
                    entity_col: str = "user_id", ts_col: str = "ts",
                    id_col: str = "event_id", lat_col: str = "lat",
                    lon_col: str = "lon",
                    broadcast_fences: bool = True) -> DataFrame:
    """``(entity, ts, event_id, kind, fence_id)`` enter/exit transitions.

    ``fence_cells`` is ``(polygon_id, cell)`` as produced by
    :func:`geolake_spark.operators.spatial.polygon_raster_cells` at the
    same ``res`` used to bucket the events here.  ``kind`` is ``enter``
    (first in-fence observation of a run, including an entity's very
    first event) or ``exit`` (first out-of-fence observation after an
    in-fence run); ``fence_id`` is the fence entered, or for exits the
    fence just left.
    """
    from ..functions.geo import grid_cell_col

    fence = (fence_cells.groupBy("cell")
             .agg(F.min("polygon_id").alias("fence_id")))
    ev = events.select(
        F.col(entity_col).alias("entity"), F.col(ts_col).alias("ts"),
        F.col(id_col).alias("event_id"),
        grid_cell_col(F.col(lat_col), F.col(lon_col), res).alias("cell"))
    # broadcast is right for normal fence sets; a continental polygon
    # rasterized at res 9 is millions of cells — pass
    # broadcast_fences=False there and let AQE pick the shuffle join
    flagged = ev.join(F.broadcast(fence) if broadcast_fences else fence,
                      "cell", "left")
    w = Window.partitionBy("entity").orderBy("ts", "event_id")
    in_f = F.when(F.col("fence_id").isNotNull(), 1).otherwise(0)
    out = (flagged.withColumn("in_fence", in_f)
           .withColumn("prev_in", F.lag("in_fence").over(w))
           .withColumn("prev_fence", F.lag("fence_id").over(w)))
    enter = (F.col("in_fence") == 1) & (F.col("prev_in").isNull()
                                        | (F.col("prev_in") == 0))
    exit_ = (F.col("in_fence") == 0) & (F.col("prev_in") == 1)
    return (out.filter(enter | exit_)
            .select("entity", "ts", "event_id",
                    F.when(F.col("in_fence") == 1, F.lit("enter"))
                    .otherwise(F.lit("exit")).alias("kind"),
                    F.when(F.col("in_fence") == 1, F.col("fence_id"))
                    .otherwise(F.col("prev_fence")).alias("fence_id")))


def geofence_events_sql(events_sql: str, fence_cells_sql: str, res: int,
                        entity_col: str = "user_id", ts_col: str = "ts",
                        id_col: str = "event_id", lat_col: str = "lat",
                        lon_col: str = "lon") -> str:
    """DuckDB mirror of :func:`geofence_events` (same cell bucketing,
    same min-fence collapse, same lag-window transition predicate)."""
    from .. import cells

    cell = cells.grid_cell_sql(lat_col, lon_col, res)
    return f"""
WITH _gf_fence AS (
  SELECT cell, min(polygon_id) AS fence_id
  FROM ({fence_cells_sql}) GROUP BY cell
), _gf_ev AS (
  SELECT {entity_col} AS entity, {ts_col} AS ts, {id_col} AS event_id,
         {cell} AS cell
  FROM ({events_sql})
), _gf_flag AS (
  SELECT v.entity, v.ts, v.event_id, f.fence_id,
         CASE WHEN f.fence_id IS NULL THEN 0 ELSE 1 END AS in_fence
  FROM _gf_ev v LEFT JOIN _gf_fence f ON v.cell = f.cell
), _gf_lag AS (
  SELECT entity, ts, event_id, fence_id, in_fence,
         lag(in_fence) OVER w AS prev_in,
         lag(fence_id) OVER w AS prev_fence
  FROM _gf_flag
  WINDOW w AS (PARTITION BY entity ORDER BY ts, event_id)
)
SELECT entity, ts, event_id,
       CASE WHEN in_fence = 1 THEN 'enter' ELSE 'exit' END AS kind,
       CASE WHEN in_fence = 1 THEN fence_id ELSE prev_fence END AS fence_id
FROM _gf_lag
WHERE (in_fence = 1 AND (prev_in IS NULL OR prev_in = 0))
   OR (in_fence = 0 AND prev_in = 1)"""


# ---------------------------------------------------------------------------
# Flow field — per-cell movement-direction histogram.  The aggregate
# mobility "vector field" tiles render (commute directionality, crawl-
# referral geography): every consecutive per-entity event pair becomes a
# step from its ORIGIN cell, classified into one of 8 compass octants
# (or 'stay') purely by sign/magnitude comparisons — no trig, no float
# accumulation, so counts are integer-exact and the DuckDB oracle is a
# straight replay.  Plan: the same single entity-window shuffle as
# segment_trips, then one partial-agg'd integer groupBy(cell, octant).
# ---------------------------------------------------------------------------


def _octant(dlat: Column, dlon: Column) -> Column:
    alat, alon = F.abs(dlat), F.abs(dlon)
    return (F.when((dlat == 0) & (dlon == 0), "stay")
            .when(alat > alon, F.when(dlat > 0, "N").otherwise("S"))
            .when(alon > alat, F.when(dlon > 0, "E").otherwise("W"))
            .when((dlat > 0) & (dlon > 0), "NE")
            .when((dlat > 0) & (dlon < 0), "NW")
            .when((dlat < 0) & (dlon > 0), "SE")
            .otherwise("SW"))


def flow_octants(events: DataFrame, res: int,
                 entity_col: str = "user_id", ts_col: str = "ts",
                 id_col: str = "event_id", lat_col: str = "lat",
                 lon_col: str = "lon") -> DataFrame:
    """``(cell, octant, n_steps)``: consecutive-event steps counted by
    compass octant from each step's origin cell."""
    from pyspark.sql import Window

    from ..functions.geo import grid_cell_col
    w = Window.partitionBy(entity_col).orderBy(F.col(ts_col),
                                               F.col(id_col))
    stepped = (events.select(
        F.col(lat_col).alias("_lat"), F.col(lon_col).alias("_lon"),
        F.lag(lat_col).over(w).alias("_plat"),
        F.lag(lon_col).over(w).alias("_plon"))
        .filter(F.col("_plat").isNotNull()))
    cell = grid_cell_col(F.col("_plat"), F.col("_plon"), res)
    oct_ = _octant(F.col("_lat") - F.col("_plat"),
                   F.col("_lon") - F.col("_plon"))
    return (stepped.select(cell.alias("cell"), oct_.alias("octant"))
            .groupBy("cell", "octant")
            .agg(F.count(F.lit(1)).alias("n_steps")))


def flow_octants_sql(table: str, lat_expr: str, lon_expr: str, res: int,
                     entity_col: str = "user_id", ts_col: str = "ts",
                     id_col: str = "event_id") -> str:
    """DuckDB mirror of :func:`flow_octants` (identical comparison
    ladder; IEEE subtraction is exact in both engines)."""
    from .. import cells
    cell = cells.grid_cell_sql("_plat", "_plon", res)
    return f"""
WITH _fo_e AS (
  SELECT {lat_expr} AS _lat, {lon_expr} AS _lon, {entity_col} AS _ent,
         {ts_col} AS _ts, {id_col} AS _id
  FROM {table}
), _fo_s AS (
  SELECT _lat, _lon,
         lag(_lat) OVER w AS _plat, lag(_lon) OVER w AS _plon
  FROM _fo_e
  WINDOW w AS (PARTITION BY _ent ORDER BY _ts, _id)
), _fo_d AS (
  SELECT {cell} AS cell, _lat - _plat AS dlat, _lon - _plon AS dlon
  FROM _fo_s WHERE _plat IS NOT NULL
)
SELECT cell,
       CASE WHEN dlat = 0 AND dlon = 0 THEN 'stay'
            WHEN abs(dlat) > abs(dlon) THEN
                 CASE WHEN dlat > 0 THEN 'N' ELSE 'S' END
            WHEN abs(dlon) > abs(dlat) THEN
                 CASE WHEN dlon > 0 THEN 'E' ELSE 'W' END
            WHEN dlat > 0 AND dlon > 0 THEN 'NE'
            WHEN dlat > 0 AND dlon < 0 THEN 'NW'
            WHEN dlat < 0 AND dlon > 0 THEN 'SE'
            ELSE 'SW' END AS octant,
       count(*) AS n_steps
FROM _fo_d
GROUP BY 1, 2"""


# ---------------------------------------------------------------------------
# Stay points — cell-dwell runs.  The mobility-mining primitive (Zheng
# et al.'s stay-point detection, here at cell granularity so it is
# deterministic and join-free): consecutive same-cell observations of an
# entity form a RUN; runs dwelling at least ``min_minutes`` are stay
# points.  Plan: the lag + running-sum run segmentation runs in one
# entity window (two chained window functions, one shuffle) and the
# per-run rollup groups on (entity, run) — a superset of the window's
# hash partitioning, so no second exchange (the trip_stats precedent).
# Dwell compares in integer microseconds.
# ---------------------------------------------------------------------------


def stay_points(events: DataFrame, res: int, min_minutes: float = 30.0,
                entity_col: str = "user_id", ts_col: str = "ts",
                id_col: str = "event_id", lat_col: str = "lat",
                lon_col: str = "lon") -> DataFrame:
    """``(entity, cell, enter_ts, leave_ts, n_events, dwell_us)`` for
    same-cell runs with dwell >= ``min_minutes``."""
    from pyspark.sql import Window

    from ..functions.geo import grid_cell_col
    cell = grid_cell_col(F.col(lat_col), F.col(lon_col), res)
    base = events.select(
        F.col(entity_col).alias("entity"), F.col(ts_col).alias("ts"),
        F.col(id_col).alias("event_id"), cell.alias("cell"))
    w = Window.partitionBy("entity").orderBy(F.col("ts"),
                                             F.col("event_id"))
    stepped = base.withColumn(
        "_new", F.coalesce((F.lag("cell").over(w) != F.col("cell"))
                           .cast("int"), F.lit(1)))
    w2 = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    runs = stepped.withColumn("_run", F.sum("_new").over(w2))
    out = (runs.groupBy("entity", "_run", "cell")
           .agg(F.min("ts").alias("enter_ts"), F.max("ts").alias("leave_ts"),
                F.count(F.lit(1)).alias("n_events")))
    dwell = (_micros("leave_ts") - _micros("enter_ts"))
    return (out.withColumn("dwell_us", dwell)
            .filter(F.col("dwell_us") >= int(min_minutes * 60_000_000))
            .drop("_run"))


def stay_points_sql(table: str, lat_expr: str, lon_expr: str, res: int,
                    min_minutes: float = 30.0,
                    entity_col: str = "user_id", ts_col: str = "ts",
                    id_col: str = "event_id") -> str:
    """DuckDB mirror of :func:`stay_points`.  DuckDB can't nest lag()
    inside a running-sum window, so the lag and the cumulative sum live
    in separate CTE stages (the robots.py lesson)."""
    from .. import cells
    cell = cells.grid_cell_sql(lat_expr, lon_expr, res)
    return f"""
WITH _sp_e AS (
  SELECT {entity_col} AS entity, {ts_col} AS ts, {id_col} AS event_id,
         {cell} AS cell
  FROM {table}
), _sp_l AS (
  SELECT entity, ts, event_id, cell,
         CASE WHEN lag(cell) OVER w IS NULL
                OR lag(cell) OVER w <> cell THEN 1 ELSE 0 END AS _new
  FROM _sp_e
  WINDOW w AS (PARTITION BY entity ORDER BY ts, event_id)
), _sp_r AS (
  SELECT entity, ts, cell,
         sum(_new) OVER (PARTITION BY entity ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) AS _run
  FROM _sp_l
)
SELECT entity, cell, min(ts) AS enter_ts, max(ts) AS leave_ts,
       count(*) AS n_events,
       epoch_us(max(ts)) - epoch_us(min(ts)) AS dwell_us
FROM _sp_r
GROUP BY entity, _run, cell
HAVING epoch_us(max(ts)) - epoch_us(min(ts)) >= {int(min_minutes * 60_000_000)}"""


# ---------------------------------------------------------------------------
# Co-visitation — the bipartite (entity x cell) projection onto cells:
# how many entities visited BOTH cells (place-similarity / related-
# places).  Reuses the capped bucket-pairs machinery (entities are the
# buckets, their DISTINCT visited cells the members, dedupe=False turns
# the pair stream into per-entity multiplicity 1 -> the groupBy counts
# entities).  An entity visiting k cells emits k^2/2 pairs — the cap
# bounds power users exactly like a hot LSH bucket.
# ---------------------------------------------------------------------------


def covisit_pairs(events: DataFrame, res: int, min_common: int = 2,
                  entity_col: str = "user_id", lat_col: str = "lat",
                  lon_col: str = "lon",
                  entity_cap: int | None = 4096) -> DataFrame:
    """``(cell_a, cell_b, n_entities)`` with cell_a < cell_b: entities
    that visited both res-cells, for pairs with >= ``min_common``."""
    from geolake_spark.operators.dedup import _bucket_pairs

    from ..functions.geo import grid_cell_col
    visits = (events.select(
        F.col(entity_col).alias("_cv_ent"),
        grid_cell_col(F.col(lat_col), F.col(lon_col), res).alias("id"))
        .distinct())
    pairs = _bucket_pairs(visits, ["_cv_ent"], cap=entity_cap,
                          dedupe=False)
    return (pairs.groupBy(F.col("id_a").alias("cell_a"),
                          F.col("id_b").alias("cell_b"))
            .agg(F.count(F.lit(1)).alias("n_entities"))
            .filter(F.col("n_entities") >= min_common))


def covisit_pairs_sql(table: str, lat_expr: str, lon_expr: str, res: int,
                      min_common: int = 2,
                      entity_col: str = "user_id") -> str:
    """DuckDB mirror (self-join restatement of the pair stream)."""
    from .. import cells
    cell = cells.grid_cell_sql(lat_expr, lon_expr, res)
    return f"""
WITH _cv_v AS (
  SELECT DISTINCT {entity_col} AS ent, {cell} AS cell
  FROM {table}
)
SELECT a.cell AS cell_a, b.cell AS cell_b, count(*) AS n_entities
FROM _cv_v a JOIN _cv_v b ON a.ent = b.ent AND a.cell < b.cell
GROUP BY 1, 2
HAVING count(*) >= {min_common}"""


def transition_counts(events: DataFrame, gap_minutes: float | None = None,
                      entity_col: str = "user_id", ts_col: str = "ts",
                      id_col: str = "event_id",
                      type_col: str = "event_type") -> DataFrame:
    """First-order Markov transition matrix of the clickstream:
    ``(from_type, to_type, transitions)`` counting consecutive
    event-type pairs per entity in (ts, id) order — the flow diagram /
    Markov-chain input every product-analytics stack computes.

    ``gap_minutes`` cuts chains at session boundaries (a pair whose
    time gap exceeds it is not a transition); ``None`` counts every
    consecutive pair.  One window shuffle on the entity + one
    map-side-combined groupBy on the (from, to) pair; counts are
    integers, bit-exact across engines."""
    w = Window.partitionBy(entity_col).orderBy(ts_col, id_col)
    us = _micros(ts_col)
    prev_type = F.lag(type_col).over(w)
    prev_us = F.lag(us).over(w)
    keep = prev_type.isNotNull()
    if gap_minutes is not None:
        gap_us = int(round(gap_minutes * 60.0 * 1_000_000))
        keep = keep & ((us - prev_us) <= F.lit(gap_us))
    return (events
            .select(prev_type.alias("from_type"),
                    F.col(type_col).alias("to_type"),
                    keep.alias("_keep"))
            .filter(F.col("_keep"))
            .groupBy("from_type", "to_type")
            .agg(F.count(F.lit(1)).alias("transitions")))


def transition_counts_sql(table: str, gap_minutes: float | None = None,
                          entity_col: str = "user_id", ts_col: str = "ts",
                          id_col: str = "event_id",
                          type_col: str = "event_type") -> str:
    """DuckDB mirror of :func:`transition_counts`."""
    gap_pred = ""
    if gap_minutes is not None:
        gap_us = int(round(gap_minutes * 60.0 * 1_000_000))
        gap_pred = f" AND (us - prev_us) <= {gap_us}"
    return f"""
WITH _tr_l AS (
  SELECT {type_col} AS to_type,
         lag({type_col}) OVER w AS from_type,
         epoch_us({ts_col}) AS us,
         lag(epoch_us({ts_col})) OVER w AS prev_us
  FROM ({table})
  WINDOW w AS (PARTITION BY {entity_col} ORDER BY {ts_col}, {id_col})
)
SELECT from_type, to_type, count(*) AS transitions
FROM _tr_l WHERE from_type IS NOT NULL{gap_pred}
GROUP BY 1, 2"""


def attribution(events: DataFrame, conversion_type: str = "purchase",
                touch_types: tuple[str, ...] = ("view", "click"),
                lookback_minutes: float = 10_080.0,
                entity_col: str = "user_id", ts_col: str = "ts",
                id_col: str = "event_id",
                type_col: str = "event_type") -> DataFrame:
    """Marketing-style conversion attribution: one row per conversion
    event with its FIRST-touch and LAST-touch channel inside the
    lookback window — ``(event_id, user_id, ts, first_touch,
    last_touch)``, nulls when no touch preceded the conversion.

    Both models come from ONE Window node: min/max over
    ``struct(epoch_us, event_id, type)`` (a deterministic arg-min/max —
    ties on identical microseconds break on the unique event id, so the
    result is total-order exact, unlike ``first``/``last`` whose
    intra-peer order is unspecified) over a RANGE frame of integer
    microseconds ``[ts - lookback, ts - 1]`` — the time-bounded frame a
    rows-based window can't express.  Touches enter the frame as nulls
    when the row is not a touch type; min/max skip nulls.  The frame is
    bounded by the lookback, so per-row state is bounded regardless of
    how long an entity's history is."""
    us = _micros(ts_col)
    lb_us = int(round(lookback_minutes * 60.0 * 1_000_000))
    w = (Window.partitionBy(entity_col).orderBy(us)
         .rangeBetween(-lb_us, -1))
    is_touch = F.col(type_col).isin(*touch_types)
    touch = F.when(is_touch, F.struct(
        us.alias("us"), F.col(id_col).alias("id"),
        F.col(type_col).alias("t")))
    # both extrema in ONE select so CollapseWindow fuses them into a
    # single Window node (chained withColumn leaves two); either way
    # the entity hash exchange happens once
    return (events
            .select(F.col(id_col), F.col(entity_col), F.col(ts_col),
                    F.col(type_col),
                    F.min(touch).over(w).alias("_ft"),
                    F.max(touch).over(w).alias("_lt"))
            .filter(F.col(type_col) == conversion_type)
            .select(F.col(id_col).alias("event_id"),
                    F.col(entity_col).alias("user_id"),
                    F.col(ts_col).alias("ts"),
                    F.col("_ft.t").alias("first_touch"),
                    F.col("_lt.t").alias("last_touch")))


def attribution_sql(table: str, conversion_type: str = "purchase",
                    touch_types: tuple[str, ...] = ("view", "click"),
                    lookback_minutes: float = 10_080.0,
                    entity_col: str = "user_id", ts_col: str = "ts",
                    id_col: str = "event_id",
                    type_col: str = "event_type") -> str:
    """DuckDB mirror of :func:`attribution` — same struct-extrema
    RANGE-frame window (DuckDB struct min/max is lexicographic, the
    paragraph_dedup precedent)."""
    lb_us = int(round(lookback_minutes * 60.0 * 1_000_000))
    tlist = ", ".join(f"'{t}'" for t in touch_types)
    return f"""
WITH _at_w AS (
  SELECT {id_col} AS event_id, {entity_col} AS user_id, {ts_col} AS ts,
         {type_col} AS etype,
         min(CASE WHEN {type_col} IN ({tlist}) THEN
               struct_pack(us := epoch_us({ts_col}), id := {id_col},
                           t := {type_col}) END) OVER w AS ft,
         max(CASE WHEN {type_col} IN ({tlist}) THEN
               struct_pack(us := epoch_us({ts_col}), id := {id_col},
                           t := {type_col}) END) OVER w AS lt
  FROM ({table})
  WINDOW w AS (PARTITION BY {entity_col} ORDER BY epoch_us({ts_col})
               RANGE BETWEEN {lb_us} PRECEDING AND 1 PRECEDING)
)
SELECT event_id, user_id, ts, ft.t AS first_touch, lt.t AS last_touch
FROM _at_w WHERE etype = '{conversion_type}'"""


def simplify_track(events: DataFrame, eps_microdeg: int,
                   entity_col: str = "user_id", ts_col: str = "ts",
                   id_col: str = "event_id", lat_col: str = "lat",
                   lon_col: str = "lon") -> DataFrame:
    """Radial-distance polyline simplification (the standard cheap
    pre-pass of every trajectory pipeline, e.g. before Douglas-Peucker):
    walk each entity's points in (ts, id) order, keep a point iff its
    planar distance from the LAST KEPT point reaches ``eps_microdeg``
    (integer microdegrees), always keep the first and last point.
    Returns ``(entity, event_id, ts_us, ilat, ilon)`` of kept points.

    The keep decision depends on the last KEPT point — inherently
    sequential — so the operator is a per-entity sorted fold: ONE
    groupBy(entity) shuffle, then an F.aggregate over the sorted struct
    array, all JVM codegen (no Python).  Distances compare squared
    integer-microdegree deltas — bit-exact, no trig — which the DuckDB
    oracle replays point-by-point with a recursive CTE.  Per-entity
    state is the entity's own track; segment with ``segment_trips``
    first when single entities span millions of points (stated)."""
    eps2 = int(eps_microdeg) * int(eps_microdeg)
    us = _micros(ts_col)
    ila = F.round(F.col(lat_col) * 1e6, 0).cast("bigint")
    ilo = F.round(F.col(lon_col) * 1e6, 0).cast("bigint")
    pt = F.struct(us.alias("us"),
                  F.col(id_col).cast("bigint").alias("id"),
                  ila.alias("la"), ilo.alias("lo"))
    g = (events.groupBy(F.col(entity_col).alias("entity"))
         .agg(F.array_sort(F.collect_list(pt)).alias("pts")))
    pt_t = "struct<us:bigint,id:bigint,la:bigint,lo:bigint>"
    acc_t = (f"struct<la:bigint,lo:bigint,last:{pt_t},"
             f"lastkept:boolean,kept:array<{pt_t}>>")

    def _mk(la, lo, last, lastkept, kept):
        return F.struct(la.alias("la"), lo.alias("lo"),
                        last.alias("last"), lastkept.alias("lastkept"),
                        kept.alias("kept"))

    def merge(acc, x):
        dla = x["la"] - acc["la"]
        dlo = x["lo"] - acc["lo"]
        far = (dla * dla + dlo * dlo) >= F.lit(eps2)
        return (F.when(acc.isNull(),
                       _mk(x["la"], x["lo"], x, F.lit(True), F.array(x)))
                .when(far,
                      _mk(x["la"], x["lo"], x, F.lit(True),
                          F.concat(acc["kept"], F.array(x))))
                .otherwise(
                    _mk(acc["la"], acc["lo"], x, F.lit(False),
                        acc["kept"])))

    kept = F.aggregate(
        F.col("pts"), F.lit(None).cast(acc_t), merge,
        lambda acc: F.when(acc["lastkept"], acc["kept"])
        .otherwise(F.concat(acc["kept"], F.array(acc["last"]))))
    return (g.select("entity", F.explode(kept).alias("p"))
            .select("entity", F.col("p.id").alias("event_id"),
                    F.col("p.us").alias("ts_us"),
                    F.col("p.la").alias("ilat"),
                    F.col("p.lo").alias("ilon")))


def simplify_track_sql(table: str, eps_microdeg: int,
                       lat_expr: str = "lat", lon_expr: str = "lon",
                       entity_col: str = "user_id", ts_col: str = "ts",
                       id_col: str = "event_id") -> str:
    """DuckDB mirror of :func:`simplify_track`: the fold replayed as a
    recursive CTE stepping one position per entity per round (rounds =
    longest track; fine at oracle scale)."""
    eps2 = int(eps_microdeg) * int(eps_microdeg)
    return f"""
WITH RECURSIVE _st_p AS (
  SELECT {entity_col} AS entity, epoch_us({ts_col}) AS us,
         cast({id_col} AS BIGINT) AS id,
         cast(round(({lat_expr}) * 1000000) AS BIGINT) AS la,
         cast(round(({lon_expr}) * 1000000) AS BIGINT) AS lo,
         row_number() OVER (PARTITION BY {entity_col}
                            ORDER BY {ts_col}, {id_col}) AS pos
  FROM ({table})
), _st_r AS (
  SELECT entity, pos, us, id, la, lo,
         la AS kla, lo AS klo, true AS kept
  FROM _st_p WHERE pos = 1
  UNION ALL
  SELECT p.entity, p.pos, p.us, p.id, p.la, p.lo,
         CASE WHEN (p.la - r.kla) * (p.la - r.kla)
                 + (p.lo - r.klo) * (p.lo - r.klo) >= {eps2}
              THEN p.la ELSE r.kla END,
         CASE WHEN (p.la - r.kla) * (p.la - r.kla)
                 + (p.lo - r.klo) * (p.lo - r.klo) >= {eps2}
              THEN p.lo ELSE r.klo END,
         (p.la - r.kla) * (p.la - r.kla)
           + (p.lo - r.klo) * (p.lo - r.klo) >= {eps2}
  FROM _st_r r JOIN _st_p p ON p.entity = r.entity AND p.pos = r.pos + 1
), _st_last AS (
  SELECT entity, max(pos) AS pos FROM _st_p GROUP BY entity
)
SELECT entity, id AS event_id, us AS ts_us, la AS ilat, lo AS ilon
FROM _st_r WHERE kept
UNION ALL
SELECT r.entity, r.id, r.us, r.la, r.lo
FROM _st_r r JOIN _st_last l ON l.entity = r.entity AND l.pos = r.pos
WHERE NOT r.kept"""


def rfm_scores(events: DataFrame, n_tiles: int = 5,
               entity_col: str = "user_id", ts_col: str = "ts",
               id_col: str = "event_id",
               value_col: str = "value") -> DataFrame:
    """RFM customer scoring (recency / frequency / monetary, the
    classic CRM segmentation): per entity, last-activity micros, event
    count, and value sum, each bucketed into ``n_tiles`` quantile tiles
    (1 = worst, n = best; recency reversed so most-recent scores
    highest).  Returns ``(entity, r, f, m, rfm)`` with ``rfm`` the
    concatenated digit code.

    Determinism: ntile over a TOTAL order — each ORDER BY ends with the
    entity id, so equal metrics tie-break identically in both engines.
    The monetary sum is a float sum ORDERED by a sorted fold?  No: it
    feeds only an ORDER BY, and the per-entity sum is over that
    entity's own rows (DuckDB sums the same handful of doubles in list
    order after a sort — instead we make it exact by summing CENTS:
    ``round(value*100)`` per event, integer-summed)."""
    from pyspark.sql import Window
    us = _micros(ts_col)
    cents = F.round(F.col(value_col) * 100.0, 0).cast("bigint")
    per = (events.groupBy(F.col(entity_col).alias("entity"))
           .agg(F.max(us).alias("last_us"),
                F.count(F.lit(1)).alias("n_events"),
                F.sum(cents).alias("cents")))
    r = F.ntile(n_tiles).over(
        Window.orderBy(F.col("last_us").asc(), F.col("entity").asc()))
    f = F.ntile(n_tiles).over(
        Window.orderBy(F.col("n_events").asc(), F.col("entity").asc()))
    m = F.ntile(n_tiles).over(
        Window.orderBy(F.col("cents").asc(), F.col("entity").asc()))
    out = per.select("entity", r.alias("r"), f.alias("f"), m.alias("m"))
    return out.select(
        "entity", "r", "f", "m",
        F.concat(F.col("r").cast("string"), F.col("f").cast("string"),
                 F.col("m").cast("string")).alias("rfm"))


def rfm_scores_sql(table: str, n_tiles: int = 5,
                   entity_col: str = "user_id", ts_col: str = "ts",
                   id_col: str = "event_id",
                   value_col: str = "value") -> str:
    """DuckDB mirror of :func:`rfm_scores`."""
    return f"""
WITH _rfm_p AS (
  SELECT {entity_col} AS entity,
         max(epoch_us({ts_col})) AS last_us,
         count(*) AS n_events,
         sum(cast(round({value_col} * 100.0) AS BIGINT)) AS cents
  FROM ({table}) GROUP BY 1
), _rfm_t AS (
  SELECT entity,
         ntile({n_tiles}) OVER (ORDER BY last_us ASC, entity ASC) AS r,
         ntile({n_tiles}) OVER (ORDER BY n_events ASC, entity ASC) AS f,
         ntile({n_tiles}) OVER (ORDER BY cents ASC, entity ASC) AS m
  FROM _rfm_p
)
SELECT entity, r, f, m,
       cast(r AS VARCHAR) || cast(f AS VARCHAR) || cast(m AS VARCHAR)
         AS rfm
FROM _rfm_t"""


def track_hausdorff(events: DataFrame, res: int, min_common: int = 1,
                    max_points: int = 256, cell_cap: int | None = 1024,
                    entity_col: str = "user_id", ts_col: str = "ts",
                    id_col: str = "event_id", lat_col: str = "lat",
                    lon_col: str = "lon") -> DataFrame:
    """Discrete symmetric Hausdorff distance between entity tracks —
    the trajectory-similarity join (commute twins, convoy detection,
    GPS-trace dedup).  Candidate pairs are entities sharing >=
    ``min_common`` res-cells (grid blocking — never all-pairs); for each
    candidate, H = max(h(A,B), h(B,A)) with h the max-over-A of
    min-over-B squared integer-microdegree distance.  Returns
    ``(ent_a, ent_b, n_common, hausdorff_d2)``.

    Scale shape: blocking is ONE distinct + one bucket-pair shuffle
    (``cell_cap`` kills degenerate mega-cells — a stadium cell with k
    entities is k^2/2 candidates; stated recall trade, same contract as
    covisit_pairs).  Tracks are truncated to the first ``max_points`` in
    (ts, id) order BEFORE collection (a streaming row_number window —
    a million-point entity never fills an agg buffer) so per-pair work
    is bounded by max_points^2 inside ONE whole-stage-codegen HOF — all
    int64, no trig, no Python.  Entities with million-point tracks
    should be pre-thinned with :func:`simplify_track` (stated).
    Reference analogue: none (geolake joins points to polygons, not
    tracks to tracks); the grid-blocked candidate shape mirrors the
    cell-cover equi-join of operators/joins.py ``radius_join``."""
    from geolake_spark.operators.dedup import _bucket_pairs

    from ..functions.geo import grid_cell_col

    us = _micros(ts_col)
    pt = F.struct(us.alias("us"),
                  F.col(id_col).cast("bigint").alias("rid"),
                  F.round(F.col(lat_col) * 1e6, 0).cast("bigint").alias("la"),
                  F.round(F.col(lon_col) * 1e6, 0).cast("bigint").alias("lo"))
    src = events.select(F.col(entity_col).alias("ent"), pt.alias("p"),
                        grid_cell_col(F.col(lat_col), F.col(lon_col),
                                      res).alias("cell"))
    # truncate BEFORE collecting: a row_number window keeps the first
    # max_points per entity so a million-point track never materializes
    # in a single collect_list buffer (the window streams; the later
    # groupBy reuses its entity hash partitioning — still one shuffle)
    wtrunc = Window.partitionBy("ent").orderBy(F.col("p.us"),
                                               F.col("p.rid"))
    trunc = (src.select("ent", "p")
             .withColumn("_tk_r", F.row_number().over(wtrunc))
             .filter(F.col("_tk_r") <= max_points))
    tracks = (trunc.groupBy("ent")
              .agg(F.transform(
                  F.array_sort(F.collect_list("p")),
                  lambda s: F.struct(s["la"].alias("la"),
                                     s["lo"].alias("lo"))).alias("pts")))
    visits = src.select("cell", F.col("ent").alias("id")).distinct()
    cand = (_bucket_pairs(visits, ["cell"], cap=cell_cap, dedupe=False)
            .groupBy(F.col("id_a").alias("ent_a"),
                     F.col("id_b").alias("ent_b"))
            .agg(F.count(F.lit(1)).alias("n_common"))
            .filter(F.col("n_common") >= min_common))

    def _directed(pa, pb):
        return F.array_max(F.transform(pa, lambda a: F.array_min(
            F.transform(pb, lambda b: (a["la"] - b["la"])
                        * (a["la"] - b["la"])
                        + (a["lo"] - b["lo"]) * (a["lo"] - b["lo"])))))

    j = (cand
         .join(tracks.select(F.col("ent").alias("ent_a"),
                             F.col("pts").alias("_pa")), "ent_a")
         .join(tracks.select(F.col("ent").alias("ent_b"),
                             F.col("pts").alias("_pb")), "ent_b"))
    h = F.greatest(_directed(F.col("_pa"), F.col("_pb")),
                   _directed(F.col("_pb"), F.col("_pa")))
    return j.select("ent_a", "ent_b", "n_common",
                    h.alias("hausdorff_d2"))


def track_hausdorff_sql(table: str, lat_expr: str, lon_expr: str, res: int,
                        min_common: int = 1, max_points: int = 256,
                        entity_col: str = "user_id", ts_col: str = "ts",
                        id_col: str = "event_id") -> str:
    """DuckDB mirror of :func:`track_hausdorff` (self-join restatement
    of the pair stream; no cell cap — size the oracle corpus below it,
    the covisit_pairs contract)."""
    from .. import cells
    cell = cells.grid_cell_sql(lat_expr, lon_expr, res)
    d2 = ("(a.la - b.la) * (a.la - b.la) + (a.lo - b.lo) * (a.lo - b.lo)")
    return f"""
WITH _th_p AS (
  SELECT {entity_col} AS ent, epoch_us({ts_col}) AS us,
         cast({id_col} AS BIGINT) AS rid,
         cast(round(({lat_expr}) * 1000000) AS BIGINT) AS la,
         cast(round(({lon_expr}) * 1000000) AS BIGINT) AS lo,
         {cell} AS cell
  FROM ({table})
), _th_tr AS (
  SELECT ent,
         list_transform(
           (list(struct_pack(us := us, rid := rid, la := la, lo := lo)
                 ORDER BY us, rid))[1:{max_points}],
           s -> struct_pack(la := s.la, lo := s.lo)) AS pts
  FROM _th_p GROUP BY 1
), _th_v AS (
  SELECT DISTINCT cell, ent FROM _th_p
), _th_c AS (
  SELECT a.ent AS ent_a, b.ent AS ent_b, count(*) AS n_common
  FROM _th_v a JOIN _th_v b ON a.cell = b.cell AND a.ent < b.ent
  GROUP BY 1, 2 HAVING count(*) >= {min_common}
)
SELECT c.ent_a, c.ent_b, c.n_common,
       greatest(
         list_max(list_transform(ta.pts, a ->
           list_min(list_transform(tb.pts, b -> {d2})))),
         list_max(list_transform(tb.pts, a ->
           list_min(list_transform(ta.pts, b -> {d2}))))
       ) AS hausdorff_d2
FROM _th_c c
JOIN _th_tr ta ON ta.ent = c.ent_a
JOIN _th_tr tb ON tb.ent = c.ent_b"""


def cohort_ltv(events: DataFrame, bucket_days: int = 7,
               entity_col: str = "user_id", ts_col: str = "ts",
               value_col: str = "value") -> DataFrame:
    """Cohort lifetime-value curves: ``(cohort_bucket, bucket_offset,
    cohort_users, cum_cents, ltv_per_user)`` — entities cohorted by the
    bucket of their FIRST event, revenue accumulated per cohort over
    bucket offsets (the classic LTV-by-age table).  Money is integer
    cents end to end; ``ltv_per_user`` is the single fixed division
    rounded 9 dp.  Offsets with no activity are absent (sparse — the
    running total at each present offset is still exact).

    Plan: one (entity, bucket) partial-agg'd rollup, a window min for
    the cohort on the same entity hash, the (cohort, offset) rollup,
    then a cumulative window over the cohort's few offsets — no raw
    event row crosses more than the first shuffle."""
    us = _micros(ts_col)
    bucket = F.floor(us / F.lit(86_400_000_000 * bucket_days)) \
        .cast("bigint")
    cents = F.round(F.col(value_col) * 100, 0).cast("bigint")
    tier = (events.select(F.col(entity_col).alias("_e"),
                          bucket.alias("_b"), cents.alias("_c"))
            .groupBy("_e", "_b").agg(F.sum("_c").alias("_cents")))
    wc = Window.partitionBy("_e")
    tier = tier.withColumn("_cohort", F.min("_b").over(wc))
    sizes = (tier.filter(F.col("_b") == F.col("_cohort"))
             .groupBy(F.col("_cohort").alias("cohort_bucket"))
             .agg(F.count(F.lit(1)).alias("cohort_users")))
    per = (tier.select(F.col("_cohort").alias("cohort_bucket"),
                       (F.col("_b") - F.col("_cohort"))
                       .alias("bucket_offset"), "_cents")
           .groupBy("cohort_bucket", "bucket_offset")
           .agg(F.sum("_cents").alias("_bucket_cents")))
    wcum = (Window.partitionBy("cohort_bucket").orderBy("bucket_offset")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = per.withColumn("cum_cents", F.sum("_bucket_cents").over(wcum))
    out = cum.join(sizes, "cohort_bucket")
    ltv = F.round(F.col("cum_cents").cast("double")
                  / F.col("cohort_users").cast("double"), 9)
    return out.select("cohort_bucket", "bucket_offset", "cohort_users",
                      "cum_cents", ltv.alias("ltv_per_user"))


def cohort_ltv_sql(table: str, bucket_days: int = 7,
                   entity_col: str = "user_id", ts_col: str = "ts",
                   value_col: str = "value") -> str:
    """DuckDB twin of :func:`cohort_ltv` (same integer arithmetic)."""
    div = 86_400_000_000 * bucket_days
    return f"""
WITH _lv_t AS (
  SELECT {entity_col} AS e,
         cast(floor(epoch_us({ts_col}) / {div}) as bigint) AS b,
         sum(cast(round(({value_col}) * 100) AS BIGINT)) AS cents
  FROM {table} GROUP BY 1, 2
), _lv_c AS (
  SELECT e, b, cents, min(b) OVER (PARTITION BY e) AS cohort FROM _lv_t
), _lv_s AS (
  SELECT cohort AS cohort_bucket, count(*) AS cohort_users
  FROM _lv_c WHERE b = cohort GROUP BY 1
), _lv_p AS (
  SELECT cohort AS cohort_bucket, b - cohort AS bucket_offset,
         sum(cents) AS bucket_cents
  FROM _lv_c GROUP BY 1, 2
), _lv_m AS (
  SELECT cohort_bucket, bucket_offset,
         sum(bucket_cents) OVER (PARTITION BY cohort_bucket
                                 ORDER BY bucket_offset
                                 ROWS UNBOUNDED PRECEDING) AS cum_cents
  FROM _lv_p
)
SELECT m.cohort_bucket, m.bucket_offset, s.cohort_users, m.cum_cents,
       round(m.cum_cents::DOUBLE / s.cohort_users::DOUBLE, 9)
         AS ltv_per_user
FROM _lv_m m JOIN _lv_s s USING (cohort_bucket)"""


def collapse_repeats(events: DataFrame, within_seconds: float,
                     entity_col: str = "user_id", ts_col: str = "ts",
                     id_col: str = "event_id",
                     payload_cols: list[str] | None = None) -> DataFrame:
    """Telemetry retransmission filter: drop an event identical to the
    entity's PREVIOUS event (same ``payload_cols``, default: all
    non-key columns) arriving within ``within_seconds`` — the
    at-least-once-delivery cleanup before any counting.  A repeat
    after the window, or any payload change, is kept (it is new
    information).  Keeps the FIRST of each run; one lag window on the
    entity hash, integer-microsecond gap arithmetic, no Python."""
    if payload_cols is None:
        payload_cols = [c for c in events.columns
                        if c not in (entity_col, ts_col, id_col)]
    us = _micros(ts_col)
    w = Window.partitionBy(entity_col).orderBy(ts_col, id_col)
    payload = F.struct(*[F.col(c) for c in payload_cols])
    prev_p = F.lag(payload).over(w)
    prev_t = F.lag(us).over(w)
    gap_us = int(within_seconds * 1_000_000)
    dup = (prev_p.isNotNull() & (prev_p == payload)
           & ((us - prev_t) <= gap_us))
    return (events.withColumn("_cr_dup", dup)
            .filter(~F.coalesce(F.col("_cr_dup"), F.lit(False)))
            .drop("_cr_dup"))


def collapse_repeats_sql(table: str, within_seconds: float,
                         payload_cols: list[str],
                         entity_col: str = "user_id", ts_col: str = "ts",
                         id_col: str = "event_id") -> str:
    """DuckDB mirror of :func:`collapse_repeats`."""
    gap_us = int(within_seconds * 1_000_000)
    pay = ", ".join(f"{c} := {c}" for c in payload_cols)
    return f"""
SELECT * EXCLUDE (_cr_p, _cr_t) FROM (
  SELECT *,
         lag(struct_pack({pay})) OVER w AS _cr_p,
         lag(epoch_us({ts_col})) OVER w AS _cr_t
  FROM ({table})
  WINDOW w AS (PARTITION BY {entity_col} ORDER BY {ts_col}, {id_col})
)
WHERE NOT coalesce(_cr_p IS NOT NULL
                   AND _cr_p = struct_pack({pay})
                   AND epoch_us({ts_col}) - _cr_t <= {gap_us}, false)"""


def funnel_within(events: DataFrame, steps: list[str],
                  within_minutes: float, entity_col: str = "user_id",
                  ts_col: str = "ts", type_col: str = "event_type",
                  ) -> DataFrame:
    """Time-constrained conversion funnel: how far each entity gets
    through ``steps`` when every subsequent step must land within
    ``within_minutes`` of the previous one (the product-analytics
    "view -> cart -> purchase inside an hour" question —
    :func:`funnel_counts` is the unconstrained variant).  Greedy
    earliest-match semantics: the first qualifying event advances the
    stage and restarts the clock.  Returns ``(entity, stages,
    converted)``.

    The sequential scan is a per-entity sorted fold over step-type
    events only (the isin filter prunes inside the scan), with BOTH
    the element and the accumulator packed into single int64s —
    element ``us*16 + step_index``, accumulator ``stage*2^55 +
    deadline_us`` — so the identical fold runs in DuckDB, whose
    two-arg list_reduce cannot carry a struct accumulator (its
    struct-literal fields evaluate sequentially — the hist-sketch
    pitfall) but folds scalars exactly; the init rides as a prepended
    element.  Bounds: <= 15 steps, epoch microseconds < 2^55 (year
    3111), per-entity step-event volume bounds the collected array
    (cap upstream, the ewma contract)."""
    k = len(steps)
    if not (0 < k <= 15):
        raise ValueError("funnel_within supports 1..15 steps")
    t_us = int(within_minutes * 60 * 1_000_000)
    si = None
    for i, s in enumerate(steps):
        cond = F.col(type_col) == s
        si = F.when(cond, F.lit(i)) if si is None else si.when(cond, i)
    us = _micros(ts_col)
    packed = (us * 16 + si).cast("bigint")
    base = (events.filter(F.col(type_col).isin(list(steps)))
            .select(F.col(entity_col).alias("entity"),
                    packed.alias("_fw_p")))
    big = F.lit(1 << 55).cast("bigint")

    # integer decode via shifts — Column `/` is DOUBLE division and
    # loses exactness past 2^53 (acc reaches ~2^59)
    def step(acc, x):
        s = F.shiftright(acc, 55)
        d = acc.bitwiseAND(F.lit((1 << 55) - 1))
        xu = F.shiftright(x, 4)
        xi = x.bitwiseAND(F.lit(15))
        hit = ((s < k) & (xi == s)
               & ((s == F.lit(0)) | (xu <= d)))
        return F.when(hit, (s + 1) * big + xu + t_us).otherwise(acc)

    fold = F.aggregate(F.array_sort(F.collect_list("_fw_p")),
                       F.lit(0).cast("bigint"), step)
    stages = F.shiftright(fold, 55)
    return (base.groupBy("entity")
            .agg(stages.alias("stages"))
            .select("entity", "stages",
                    (F.col("stages") == k).alias("converted")))


def funnel_within_sql(table: str, steps: list[str],
                      within_minutes: float, entity_col: str = "user_id",
                      ts_col: str = "ts",
                      type_col: str = "event_type") -> str:
    """DuckDB mirror of :func:`funnel_within` (identical packed fold;
    init prepended because 2-arg list_reduce seeds from element 1)."""
    k = len(steps)
    t_us = int(within_minutes * 60 * 1_000_000)
    big = 1 << 55
    arms = " ".join(f"WHEN '{s}' THEN {i}" for i, s in enumerate(steps))
    in_list = ", ".join(f"'{s}'" for s in steps)
    return f"""
WITH _fw_b AS (
  SELECT {entity_col} AS entity,
         epoch_us({ts_col}) * 16
           + (CASE {type_col} {arms} END) AS p
  FROM ({table}) WHERE {type_col} IN ({in_list})
), _fw_f AS (
  SELECT entity,
         list_reduce(list_prepend(cast(0 AS BIGINT),
                                  list(p ORDER BY p)),
           (acc, x) -> CASE
             WHEN (acc // {big}) < {k}
                  AND x % 16 = acc // {big}
                  AND (acc // {big} = 0 OR x // 16 <= acc % {big})
             THEN (acc // {big} + 1) * {big} + x // 16 + {t_us}
             ELSE acc END) AS acc
  FROM _fw_b GROUP BY 1
)
SELECT entity, acc // {big} AS stages,
       acc // {big} = {k} AS converted
FROM _fw_f"""
