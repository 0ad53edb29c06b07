"""Spatial joins: point-in-polygon broadcast join and exact kNN box join.

North-rule operators (BASELINE.json:6,14; SURVEY.md §2.3 J1/J2).  Design:

* **PIP join** — polygons are a small dimension.  On the driver we cover
  each polygon's bbox with grid cells at an adaptively-chosen prefilter
  resolution and *classify* every cover cell as INTERIOR (wholly inside ->
  no exact test) or BOUNDARY (an edge passes through -> exact refine).  The
  cover table — including per-row polygon EDGE ARRAYS for boundary cells —
  is broadcast and equi-joined against the pages' cell column (broadcast
  hash join, zero shuffle of the fact table); boundary rows then ray-cast
  inline via higher-order functions over the edge arrays, which keeps the
  stage in whole-stage codegen at any polygon complexity.
* **kNN join** (``knn_join_table``) — the probe table is collected to the
  driver and one per-cell histogram aggregation sizes a lat/lon search box
  per probe; candidates come from a broadcast range-box join keyed on
  latitude bands (codegen predicates), then haversine + windowed top-k.
  Exactness is certified per probe by the exact great-circle distance to
  the box's nearest open face (kth distance <= that bound); only failing
  probes re-expand.  Deterministic tie-break on (distance, id).

Reference analogues: geobbox region masking
(/root/reference/datastore/datastore/datastore.py:429-431) and nearest-location
selection (datastore.py:432-434,444-455).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from geolake_spark import cells
from geolake_spark.functions.geo import grid_cell_col, haversine_col

DEFAULT_PIP_RES = 7
DEFAULT_KNN_RES = 6

# ---------------------------------------------------------------------------
# Point-in-polygon
# ---------------------------------------------------------------------------


def _segments(rings: list[np.ndarray]) -> np.ndarray:
    """(m, 4) array of [x1, y1, x2, y2] for all ring edges."""
    segs = []
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64)
        if not np.array_equal(r[0], r[-1]):
            r = np.vstack([r, r[:1]])
        segs.append(np.hstack([r[:-1], r[1:]]))
    return np.vstack(segs)


def _seg_hits_rects(seg: np.ndarray, w: np.ndarray, e: np.ndarray,
                    s: np.ndarray, n: np.ndarray) -> np.ndarray:
    """One segment vs many rects (vectorized Liang-Barsky): bool per rect."""
    x1, y1, x2, y2 = (float(v) for v in seg)
    dx, dy = x2 - x1, y2 - y1
    t0 = np.zeros_like(w)
    t1 = np.ones_like(w)
    ok = np.ones_like(w, dtype=bool)
    for p, q in ((-dx, x1 - w), (dx, e - x1), (-dy, y1 - s), (dy, n - y1)):
        if p == 0.0:
            ok &= ~(q < 0)
            continue
        r = q / p
        if p < 0:
            t0 = np.maximum(t0, r)
        else:
            t1 = np.minimum(t1, r)
    return ok & (t0 <= t1)


def _segs_intersect_rect(segs: np.ndarray, w: float, e: float,
                         s: float, n: float) -> bool:
    """Any segment overlaps the [w,e]x[s,n] rect (scalar convenience)."""
    wa = np.array([w]); ea = np.array([e]); sa = np.array([s]); na = np.array([n])
    for seg in segs:
        if _seg_hits_rects(seg, wa, ea, sa, na)[0]:
            return True
    return False


def _crosses_antimeridian(rings: list[np.ndarray]) -> bool:
    shell = np.asarray(rings[0], dtype=np.float64)
    return float(shell[:, 0].max()) > 180.0


def _norm_lon_for(rings: list[np.ndarray], lon: np.ndarray) -> np.ndarray:
    """Polygons crossing the antimeridian use lon > 180 coordinates; shift
    western-hemisphere points into that frame."""
    if _crosses_antimeridian(rings):
        return np.where(lon < 0.0, lon + 360.0, lon)
    return lon


def choose_pip_res(polygons: list[dict], max_cover_cells: int = 8192) -> int:
    """Smallest resolution whose estimated total bbox cover fits the budget.

    The cover table is broadcast and built on the driver — it must stay small
    even for continent-sized polygons; finer refinement is cheap because the
    boundary ray-cast is inline codegen, not Python."""
    for res in range(9, 1, -1):
        nx, ny = cells.grid_dims(res)
        total = 0
        for p in polygons:
            rings = [np.asarray(r, dtype=np.float64) for r in p["rings"]]
            s, n, w, e = cells.polygon_bbox(rings)
            total += max(1, int((e - w) / 360.0 * nx) + 1) * \
                max(1, int((n - s) / 180.0 * ny) + 1)
        if total <= max_cover_cells:
            return res
    return 2


def build_pip_cover(polygons: list[dict], res: int = DEFAULT_PIP_RES) -> pd.DataFrame:
    """(cell, polygon_id, interior) candidate table, driver-side.

    ``polygons``: [{polygon_id, rings: [[[lon,lat],...], ...]}, ...].
    """
    rows = {"cell": [], "polygon_id": [], "interior": [],
            "edges": [], "shift": []}
    for poly in polygons:
        rings = [np.asarray(r, dtype=np.float64) for r in poly["rings"]]
        south, north, west, east = cells.polygon_bbox(rings)
        if east > 180.0:  # stored in >180 frame; convert to wrap form
            cover = cells.cells_covering_bbox(south, north, west, east - 360.0, res)
        else:
            cover = cells.cells_covering_bbox(south, north, west, east, res)
        segs = _segments(rings)
        cs, cn, cw, ce = cells.cell_bounds(cover)
        if _crosses_antimeridian(rings):
            shift = cw < 0.0
            cw = np.where(shift, cw + 360.0, cw)
            ce = np.where(shift, ce + 360.0, ce)
        # vectorized classification: boundary = any edge crosses the cell
        # rect; else interior iff the cell center is inside.  Everything is
        # array-at-a-time over the cover (segments are few).
        boundary = np.zeros(len(cover), dtype=bool)
        for seg in segs:
            boundary |= _seg_hits_rects(seg, cw, ce, cs, cn)
        center_in = cells.points_in_polygon((cs + cn) / 2.0, (cw + ce) / 2.0, rings)
        keep = boundary | (center_in & ~boundary)
        edge_list = [[float(v) for v in seg] for seg in segs]  # [x1,y1,x2,y2]
        shift = bool(_crosses_antimeridian(rings))
        for c, b in zip(cover[keep], boundary[keep]):
            rows["cell"].append(int(c))
            rows["polygon_id"].append(poly["polygon_id"])
            rows["interior"].append(not b)
            rows["edges"].append(edge_list if b else [])
            rows["shift"].append(shift)
    return pd.DataFrame(rows)


# Cover DataFrames are cached per (session, polygon set, res): building one
# via createDataFrame(pandas-with-nested-arrays) costs >1s of driver time
# (pickle serialization), while a pyarrow parquet round-trip through tmpfs is
# ~50ms and the cached read is free on reuse.
_COVER_CACHE: dict = {}


def _cover_df(spark: SparkSession, cover_pdf: pd.DataFrame,
              polygons: list[dict], res: int) -> DataFrame:
    import hashlib
    import json
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    key = (id(spark._jsparkSession),
           hashlib.md5(json.dumps([(p["polygon_id"], p["rings"])
                                   for p in polygons], sort_keys=True)
                       .encode()).hexdigest(), res)
    if key in _COVER_CACHE:
        return _COVER_CACHE[key]
    tbl = pa.table({
        "cell": pa.array(cover_pdf["cell"], pa.int64()),
        "polygon_id": pa.array(cover_pdf["polygon_id"], pa.int64()),
        "interior": pa.array(cover_pdf["interior"], pa.bool_()),
        "edges": pa.array(list(cover_pdf["edges"]),
                          pa.list_(pa.list_(pa.float64()))),
        "shift": pa.array(cover_pdf["shift"], pa.bool_()),
    })
    base = os.environ.get("GEOLAKE_LOCAL_DIR", "/dev/shm/spark-tmp")
    os.makedirs(base, exist_ok=True)
    path = os.path.join(base, f"pip-cover-{key[1]}-{res}.parquet")
    if not os.path.exists(path):
        pq.write_table(tbl, path)
    df = spark.read.parquet(path)
    _COVER_CACHE[key] = df
    return df


def pip_join(points: DataFrame, polygons: list[dict],
             res: int | None = None,
             lat_col: str = "lat", lon_col: str = "lon",
             cell_col: str | None = None) -> DataFrame:
    """points x polygons -> points rows + ``polygon_id`` (inner, 1 row per
    containing polygon).

    Physical shape: broadcast equi-join on the grid cell; INTERIOR cover
    cells pass through untested; BOUNDARY cells refine with the exact
    ray-cast evaluated as higher-order functions over the broadcast edge
    arrays (whole-stage codegen at any polygon complexity).

    ``cell_col``: use a precomputed cell-id column instead of deriving one
    from lat/lon.  Cell ids encode their resolution in the high bits
    (``cells.py``: ``id = res<<56 | iy<<28 | ix``), so the polygon cover
    MUST be built at that same resolution or the equi-join silently matches
    nothing.  The resolution is therefore sampled from the data and, when
    ``res`` is also given, validated against it (raises on mismatch).
    """
    spark = points.sparkSession
    if cell_col is not None and points.isStreaming and res is None:
        # no batch to sample from — a silently-guessed resolution is the
        # exact empty-join bug this validation exists to prevent
        raise ValueError(
            f"streaming input with cell_col={cell_col!r} requires an "
            f"explicit res= (cell ids embed their resolution; a mismatched "
            f"cover matches nothing)")
    if cell_col is not None and not points.isStreaming:
        sample = (points.where(F.col(cell_col).isNotNull())
                  .select(F.col(cell_col).alias("_c")).head(1))
        if sample:
            data_res = int(sample[0]["_c"]) >> cells._RES_SHIFT
            if res is None:
                res = data_res
            elif res != data_res:
                raise ValueError(
                    f"cell_col {cell_col!r} holds resolution-{data_res} ids "
                    f"but res={res} was requested — the cover would never "
                    f"match; pass matching res or omit it")
    if res is None:
        res = choose_pip_res(polygons) if cell_col is None else DEFAULT_PIP_RES
    cover_pdf = build_pip_cover(polygons, res)
    cell = (F.col(cell_col) if cell_col else
            grid_cell_col(F.col(lat_col), F.col(lon_col), res))
    pts = points.withColumn("_cell", cell)
    lat, lon = F.col(lat_col), F.col(lon_col)

    # ONE scan, one broadcast join.  Boundary cover rows carry the polygon's
    # edge array [x1,y1,x2,y2]*; interior rows carry [].  The exact ray-cast
    # runs as higher-order functions over that array — the generated code
    # stays tiny and fully whole-stage-codegen regardless of vertex count
    # (an inlined per-edge CASE ladder blows the JVM's 64KB method limit and
    # silently drops the stage to interpreted mode — measured 5-10x slower).
    # Arithmetic mirrors cells.points_in_ring exactly (same IEEE double ops,
    # same order): crossing iff (y1 > lat) != (y2 > lat) and
    # lon < x1 + (lat - y1) * (x2 - x1) / (y2 - y1); odd crossings = inside.
    cov = F.broadcast(_cover_df(spark, cover_pdf, polygons, res))
    joined = (pts.join(cov, pts["_cell"] == cov["cell"], "inner")
              .drop("cell", "_cell"))
    lon2 = F.when(F.col("shift") & (lon < 0.0), lon + F.lit(360.0)).otherwise(lon)
    x1 = lambda e: F.element_at(e, 1)
    y1 = lambda e: F.element_at(e, 2)
    x2 = lambda e: F.element_at(e, 3)
    y2 = lambda e: F.element_at(e, 4)
    crossing = F.aggregate(
        F.filter(F.col("edges"),
                 lambda e: (y1(e) > lat) != (y2(e) > lat)),
        F.lit(0),
        lambda acc, e: acc + F.when(
            lon2 < x1(e) + ((lat - y1(e)) * (x2(e) - x1(e))) / (y2(e) - y1(e)),
            F.lit(1)).otherwise(F.lit(0)))
    inside = (crossing % 2) == 1
    return (joined.filter(F.when(F.col("interior"), F.lit(True)).otherwise(inside))
            .drop("interior", "edges", "shift"))


# ---------------------------------------------------------------------------
# kNN join (histogram-sized box join, exact)
# ---------------------------------------------------------------------------


_N_BANDS = 36  # 5-degree latitude bands: the box join's equi-key


def _meridian_segment_dist(q_lat, dlam, lat_s, lat_n):
    """EXACT great-circle min distance (km) from a point at latitude
    ``q_lat`` to a meridian segment [lat_s, lat_n] whose longitude gap from
    the point is ``dlam`` degrees (all Column expressions).

    Distance along the segment has a single stationary point at the
    geodesic foot latitude tan(phi*) = tan(phi1)/cos(dlam), computed as
    atan2(sin phi1, cos phi1 cos dlam) so the over-pole regime
    (cos dlam <= 0) clamps toward +-90; the minimum is attained at the
    clamped foot or a segment endpoint, all of which are actual points of
    the segment — so the min of their haversines is exact (sound and
    tight; in particular it does NOT collapse to 0 for segments reaching
    a pole: the limit is the probe's colatitude, the true over-pole cost)."""
    phi1 = F.radians(q_lat)
    foot = F.degrees(F.atan2(F.sin(phi1), F.cos(phi1) * F.cos(F.radians(dlam))))
    cands = [F.least(F.greatest(foot, lat_s), lat_n), lat_n, lat_s]
    return F.least(*[haversine_col(q_lat, F.lit(0.0), c, dlam) for c in cands])


def _box_sizes(probes: list, k: int, res: int,
               cell_counts: dict[int, int], k_world: int) -> dict:
    """Per-probe Chebyshev radius (in res-cells) from the per-cell histogram:
    expand on the driver (no Spark actions) until the disk holds >= 2k
    points.  ``probes``: (query_id, lat, lon) rows."""
    out = {}
    for qid, lat, lon in probes:
        center = int(cells.grid_cell(np.array([lat]), np.array([lon]), res)[0])
        kc = 1
        while kc < k_world:
            total = sum(cell_counts.get(int(c), 0)
                        for c in cells.k_ring(center, kc))
            if total >= 2 * k:
                break
            kc *= 2
        out[qid] = min(kc + 1, k_world)
    return out


def knn_join_table(points: DataFrame, probes: DataFrame, k: int,
                   res: int = DEFAULT_KNN_RES,
                   lat_col: str = "lat", lon_col: str = "lon",
                   id_cols: list[str] | None = None) -> DataFrame:
    """Exact k nearest ``points`` per probe (SURVEY.md §2.3 J2).

    ``probes``: DataFrame (query_id, lat, lon), named by ``lat_col`` and
    ``lon_col`` like the points.  It is collected to the driver, which
    sizes and certifies every probe's box: the join is meant for probe
    tables of a few hundred rows (no caller uses more than 400).
    Returns (query_id, q_lat, q_lon, *id_cols, dist_km, rank), ties
    broken on (dist, id_cols).

    Physical shape: ONE per-cell histogram ``collect`` at ``res`` sizes a
    lat/lon search box per probe (:func:`_box_sizes`); candidates come
    from a broadcast range-box join keyed on 5-degree latitude bands; then
    haversine and a windowed top-k.  Exactness is certified per probe: a
    point outside the box is at least as far as the box's nearest open
    face, so kth distance <= that face distance proves the top-k.  Probes
    that fail double their box radius; a radius of ``ny`` cells covers the
    world, so the loop ends.
    """
    spark = points.sparkSession
    id_cols = id_cols or ["url"]
    nx, ny = cells.grid_dims(res)
    k_world = max(nx // 2 + 1, ny)
    deg_per_cell = 180.0 / ny
    band_w = 180.0 / _N_BANDS

    probe_rows = probes.select("query_id", lat_col, lon_col).collect()
    lat, lon = F.col(lat_col), F.col(lon_col)
    hist = (points.groupBy(grid_cell_col(lat, lon, res).alias("c"))
            .count().collect())
    cell_counts = {int(r["c"]): int(r["count"]) for r in hist
                   if r["c"] is not None}
    radius = _box_sizes(probe_rows, k, res, cell_counts, k_world)

    box_schema = T.StructType(
        [probes.schema["query_id"]]
        + [T.StructField(c, T.DoubleType())
           for c in ("q_lat", "q_lon", "dlat", "dlon")])
    out_schema = T.StructType(
        box_schema.fields[:3] + [points.schema[c] for c in id_cols]
        + [T.StructField("dist_km", T.DoubleType()),
           T.StructField("rank", T.IntegerType())])
    q_lat, q_lon = F.col("q_lat"), F.col("q_lon")
    lat_n, lat_s = q_lat + F.col("dlat"), q_lat - F.col("dlat")
    # Every point outside the box crosses one of its open faces on the way
    # to the probe.  Beyond the north or south face the meridian arc to
    # that face is the minimum; beyond an east or west face the exact
    # meridian-segment distance is (distance grows with the lon gap at a
    # fixed latitude).  F.least skips the nulls of closed faces, so a box
    # with no open face (it covers the world) has a null bound.
    bound = F.least(
        F.when(lat_n < 90.0, haversine_col(q_lat, q_lon, lat_n, q_lon)),
        F.when(lat_s > -90.0, haversine_col(q_lat, q_lon, lat_s, q_lon)),
        F.when(F.col("dlon") < 180.0, _meridian_segment_dist(
            q_lat, F.col("dlon"), F.greatest(lat_s, F.lit(-90.0)),
            F.least(lat_n, F.lit(90.0)))))

    def band(x):
        return F.least(F.greatest(F.floor((x + 90.0) / band_w), F.lit(0)),
                       F.lit(_N_BANDS - 1)).cast("int")

    # Latitude-band equi-key: the pure range-box condition makes this a
    # BroadcastNestedLoopJoin (|points| x |probes| predicate evaluations).
    # A point inside the lat box lies in one of the box's bands (floor is
    # monotone), so joining on the band with the box predicates as residual
    # filter yields the identical candidate set from a BroadcastHashJoin.
    pts = (points.select(lat_col, lon_col, *id_cols)
           .withColumn("_band", band(lat)))
    dlon_wrap = F.least(F.abs(lon - q_lon), F.lit(360.0) - F.abs(lon - q_lon))
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist_km").asc(), *[F.col(c).asc() for c in id_cols])

    out: list = []
    todo = probe_rows
    while todo:
        boxes = []
        for qid, la, lo in todo:
            half = radius[qid] * deg_per_cell
            dlon = half / max(math.cos(math.radians(min(abs(la) + half, 89.9))),
                              1e-6)
            boxes.append((qid, float(la), float(lo),
                          min(half, 180.0), min(dlon, 180.0)))
        box = spark.createDataFrame(boxes, box_schema)
        bounds = dict(box.select("query_id", bound).collect())
        cand = F.broadcast(box.withColumn("_band", F.explode(
            F.sequence(band(lat_s), band(lat_n)))))
        found: dict = {qid: [] for qid, _, _ in todo}
        for r in (pts.join(cand, "_band")
                  .filter((lat >= lat_s) & (lat <= lat_n)
                          & (dlon_wrap <= F.col("dlon")))
                  .withColumn("dist_km", haversine_col(lat, lon, q_lat, q_lon))
                  .withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k)
                  .select(*out_schema.names).collect()):
            found[r["query_id"]].append(r)
        unresolved = []
        for qid, la, lo in todo:
            mine, b = found[qid], bounds[qid]
            if b is None or (len(mine) >= k
                             and max(r["dist_km"] for r in mine) <= b):
                out += mine
            else:
                radius[qid] *= 2
                unresolved.append((qid, la, lo))
        todo = unresolved
    return spark.createDataFrame(out, out_schema)


# ---------------------------------------------------------------------------
# Radius (within-distance) join
# ---------------------------------------------------------------------------


def radius_join(points: DataFrame, probes: DataFrame, radius_km: float,
                res: int | None = None,
                lat_col: str = "lat", lon_col: str = "lon",
                id_cols: list[str] | None = None,
                max_cover: int = 256) -> DataFrame:
    """Exact within-distance spatial join (distance-band join, SURVEY.md
    §2.3 family; reference nearest-select analogue datastore.py:444-455
    generalized from 1-NN to "all points within R").

    For every probe row, returns every point whose great-circle distance is
    <= ``radius_km``.  Shape at scale:

    1. a vectorized Arrow-batched cover UDF maps each probe to the cell ids
       of a SOUND disc cover (:func:`geolake_spark.cells.radius_cover` —
       haversine-identity lon bound, pole-safe, antimeridian-safe, coarsened
       to quad parents so the per-probe cover is <= ``max_cover`` cells);
    2. covers explode and equi-join the points' cell column — ONE shuffle
       hash join per cover resolution actually present (in practice one:
       coarsened tiers only appear for near-pole probes).  AQE skew-join
       splits hot urban cells; no per-probe driver work anywhere;
    3. exact ``haversine <= R`` refine, fully inside whole-stage codegen.

    A point lands in exactly one cell per res and a probe's cover is a
    distinct cell set at one res, so (probe, point) pairs are emitted at
    most once — no distinct needed.  ``res=None`` picks the finest res whose
    cell height >= R (:func:`geolake_spark.cells.radius_res`), giving ~9-15
    cover cells per probe and a candidate area ~9 R^2 vs the disc's pi R^2.

    ``probes``: (query_id, lat, lon).  Returns (query_id, q_lat, q_lon,
    *id_cols, dist_km).
    """
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    id_cols = id_cols or ["url"]
    base_res = cells.radius_res(radius_km) if res is None else int(res)

    @pandas_udf(T.ArrayType(T.LongType()))
    def cover_udf(lat: pd.Series, lon: pd.Series) -> pd.Series:
        return pd.Series([
            cells.radius_cover(float(la), float(lo), radius_km, base_res,
                               max_cover=max_cover)
            for la, lo in zip(lat.to_numpy(), lon.to_numpy())])

    cov = (probes.select("query_id",
                         F.col(lat_col).alias("q_lat"),
                         F.col(lon_col).alias("q_lon"))
           .withColumn("cell", F.explode(
               cover_udf(F.col("q_lat"), F.col("q_lon"))))
           .localCheckpoint(eager=True))  # reused by the res-tier scan below

    # Cover resolutions actually present: driver-sized (<= GRID_MAX_RES+1).
    res_vals = sorted(r["r"] for r in
                      cov.select(F.shiftright("cell", 56).alias("r"))
                      .distinct().collect())
    pts = points.select(F.col(lat_col).alias("p_lat"),
                        F.col(lon_col).alias("p_lon"), *id_cols)
    cand = None
    for rv in res_vals:
        tier = (cov.filter(F.shiftright("cell", 56) == int(rv))
                .join(pts.withColumn("cell", grid_cell_col(
                    F.col("p_lat"), F.col("p_lon"), int(rv))), "cell"))
        cand = tier if cand is None else cand.unionByName(tier)
    if cand is None:  # empty probe table
        return (cov.select("query_id", "q_lat", "q_lon")
                .join(pts, F.lit(False))
                .withColumn("dist_km", F.lit(0.0))
                .select("query_id", "q_lat", "q_lon", *id_cols, "dist_km"))
    return (cand
            .withColumn("dist_km", haversine_col(
                F.col("q_lat"), F.col("q_lon"),
                F.col("p_lat"), F.col("p_lon")))
            .filter(F.col("dist_km") <= F.lit(float(radius_km)))
            .select("query_id", "q_lat", "q_lon", *id_cols, "dist_km"))
