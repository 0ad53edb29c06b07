"""Vectorized NumPy geo-cell kernels (no external geo libraries).

This module is the numeric core of the engine: everything here operates on
NumPy arrays so the Spark layer can wrap it in Arrow-batched pandas UDFs
(no per-row Python — BASELINE.json `input_hint`).

Two cell systems:

1. ``grid_cell`` — a hierarchical equirectangular quad grid, the engine's
   "H3-analogous" index (reference analogue: geolake's spatial subsetting via
   ``geobbox``, /root/reference/datastore/datastore/datastore.py:429-431).
   Resolution ``r`` divides the world into ``2^(r+3) x 2^(r+2)`` cells
   (res 0 = 8x4 cells of 45 degrees; each cell splits into 4 children, so
   parent/child containment is EXACT — the property H3's aperture-7 only
   approximates).  IDs pack ``(res, iy, ix)`` into an int64:
   ``id = res<<56 | iy<<28 | ix``.  The same function is expressible in pure
   SQL floor arithmetic, which is what lets the DuckDB oracle verify every
   cell-dependent query bit-for-bit.  We deliberately chose this scheme over
   a from-scratch H3 port: H3's icosahedral base-cell tables are not
   reproducible from first principles, and exact nesting is what the
   engine actually relies on for pruning (documented deviation, SURVEY.md §7
   "Known-hard items").

2. ``s2_cell_id`` — canonical S2 cell ids (face + quadratic ST + Hilbert
   curve), implemented from the published s2geometry algorithm, vectorized.
   Used for the ``s2_cell`` column of the pages data model (SURVEY.md §1.3).

Plus: haversine distance, Web-Mercator tile math (slippy z/x/y), and
ray-casting point-in-polygon — all array-at-a-time.
"""

from __future__ import annotations

import numpy as np

# ---------------------------------------------------------------------------
# Hierarchical quad grid ("geocell") — res 0..15
# ---------------------------------------------------------------------------

GRID_MAX_RES = 15
_RES_SHIFT = 56
_IY_SHIFT = 28
_IX_MASK = (1 << 28) - 1
_IY_MASK = (1 << 28) - 1

# Default packed resolutions for the pages data model (mirrors the
# "H3 res 5-9 packed" requirement of BASELINE.json north_star).
PACK_RESOLUTIONS = (5, 6, 7, 8, 9)


def grid_dims(res: int) -> tuple[int, int]:
    """(nx, ny) cell counts at resolution ``res``."""
    return 8 << res, 4 << res


def grid_cell(lat, lon, res: int) -> np.ndarray:
    """Vectorized (lat, lon) -> int64 cell id at ``res``.

    Exactly mirrors the SQL form (used by the DuckDB oracle)::

        res*2^56 + least(floor((90-lat)/180*ny), ny-1)*2^28
                 + least(floor((lon+180)/360*nx), nx-1)
    """
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    nx, ny = grid_dims(res)
    ix = np.minimum(np.floor((lon + 180.0) / 360.0 * nx), nx - 1).astype(np.int64)
    iy = np.minimum(np.floor((90.0 - lat) / 180.0 * ny), ny - 1).astype(np.int64)
    ix = np.maximum(ix, 0)
    iy = np.maximum(iy, 0)
    return (np.int64(res) << _RES_SHIFT) | (iy << _IY_SHIFT) | ix


def cell_res(cell) -> np.ndarray:
    return (np.asarray(cell, dtype=np.int64) >> _RES_SHIFT).astype(np.int64)


def cell_ixy(cell) -> tuple[np.ndarray, np.ndarray]:
    c = np.asarray(cell, dtype=np.int64)
    return (c & _IX_MASK), ((c >> _IY_SHIFT) & _IY_MASK)


def cell_parent(cell, parent_res: int) -> np.ndarray:
    """Exact ancestor at ``parent_res`` (bit-shift; containment guaranteed)."""
    c = np.asarray(cell, dtype=np.int64)
    res = cell_res(c)
    if np.any(res < parent_res):
        raise ValueError("parent_res must be <= cell res")
    shift = (res - parent_res).astype(np.int64)
    ix, iy = cell_ixy(c)
    return (np.int64(parent_res) << _RES_SHIFT) | ((iy >> shift) << _IY_SHIFT) | (ix >> shift)


def cell_children(cell: int) -> np.ndarray:
    """The four direct children of a scalar cell id."""
    res = int(cell_res(cell))
    if res >= GRID_MAX_RES:
        raise ValueError("max resolution reached")
    ix, iy = (int(v) for v in cell_ixy(cell))
    out = []
    for dy in (0, 1):
        for dx in (0, 1):
            out.append(
                ((res + 1) << _RES_SHIFT)
                | ((2 * iy + dy) << _IY_SHIFT)
                | (2 * ix + dx)
            )
    return np.array(out, dtype=np.int64)


def cell_bounds(cell) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """(lat_south, lat_north, lon_west, lon_east) of each cell."""
    c = np.asarray(cell, dtype=np.int64)
    res = cell_res(c)
    nx = (8 << res).astype(np.float64)
    ny = (4 << res).astype(np.float64)
    ix, iy = cell_ixy(c)
    lon_w = ix / nx * 360.0 - 180.0
    lon_e = (ix + 1) / nx * 360.0 - 180.0
    lat_n = 90.0 - iy / ny * 180.0
    lat_s = 90.0 - (iy + 1) / ny * 180.0
    return lat_s, lat_n, lon_w, lon_e


def cells_covering_bbox(south: float, north: float, west: float, east: float,
                        res: int) -> np.ndarray:
    """All cell ids at ``res`` intersecting the bbox (inclusive edges).

    ``west > east`` is interpreted as an antimeridian-crossing box.
    Mirrors geolake's geobbox semantics (datastore.py:429-431) at the
    index level.
    """
    nx, ny = grid_dims(res)
    iy0 = max(0, min(int(np.floor((90.0 - north) / 180.0 * ny)), ny - 1))
    iy1 = max(0, min(int(np.floor((90.0 - south) / 180.0 * ny)), ny - 1))
    ys = np.arange(iy0, iy1 + 1, dtype=np.int64)

    def xrange(w: float, e: float) -> np.ndarray:
        ix0 = max(0, min(int(np.floor((w + 180.0) / 360.0 * nx)), nx - 1))
        ix1 = max(0, min(int(np.floor((e + 180.0) / 360.0 * nx)), nx - 1))
        return np.arange(ix0, ix1 + 1, dtype=np.int64)

    if west <= east:
        xs = xrange(west, east)
    else:  # antimeridian crossing: [west,180] U [-180,east]
        xs = np.unique(np.concatenate([xrange(west, 180.0), xrange(-180.0, east)]))
    gx, gy = np.meshgrid(xs, ys)
    return ((np.int64(res) << _RES_SHIFT)
            | (gy.ravel() << _IY_SHIFT) | gx.ravel()).astype(np.int64)


def k_ring(cell: int, k: int) -> np.ndarray:
    """All cells within Chebyshev distance ``k`` (the (2k+1)^2 disk),
    with longitude wraparound and latitude clamping.

    The kNN join sizes its search boxes from histogram counts over these
    disks (SURVEY.md §2.3 J2; reference nearest-select analogue
    datastore.py:444-455).
    """
    res = int(cell_res(cell))
    nx, ny = grid_dims(res)
    ix, iy = (int(v) for v in cell_ixy(cell))
    dxs = np.arange(-k, k + 1, dtype=np.int64)
    dys = np.arange(-k, k + 1, dtype=np.int64)
    gx, gy = np.meshgrid((ix + dxs) % nx, iy + dys)
    keep = (gy >= 0) & (gy < ny)
    gx, gy = gx[keep], gy[keep]
    ids = (np.int64(res) << _RES_SHIFT) | (gy << _IY_SHIFT) | gx
    return np.unique(ids)


def pack_cells(lat, lon, resolutions=PACK_RESOLUTIONS) -> np.ndarray:
    """(n,) lat/lon -> (n, len(resolutions)) int64 packed cell-id matrix."""
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    return np.stack([grid_cell(lat, lon, r) for r in resolutions], axis=1)


def grid_cell_sql(lat_expr: str, lon_expr: str, res: int) -> str:
    """The exact SQL equivalent of :func:`grid_cell` (ANSI; runs identically
    in Spark SQL and DuckDB — the oracle-parity contract)."""
    nx, ny = grid_dims(res)
    return (
        f"({res} * 72057594037927936"
        f" + least(greatest(cast(floor((90.0 - ({lat_expr})) / 180.0 * {ny}) as bigint), 0), {ny - 1}) * 268435456"
        f" + least(greatest(cast(floor((({lon_expr}) + 180.0) / 360.0 * {nx}) as bigint), 0), {nx - 1}))"
    )


# ---------------------------------------------------------------------------
# Haversine (great-circle) distance
# ---------------------------------------------------------------------------

EARTH_RADIUS_KM = 6371.0


def haversine_km(lat1, lon1, lat2, lon2) -> np.ndarray:
    """Vectorized great-circle distance in km (identical formula is used in
    the SQL oracle: 2*R*asin(sqrt(...)))."""
    la1, lo1, la2, lo2 = (np.radians(np.asarray(a, dtype=np.float64))
                          for a in (lat1, lon1, lat2, lon2))
    dlat = la2 - la1
    dlon = lo2 - lo1
    h = np.sin(dlat / 2.0) ** 2 + np.cos(la1) * np.cos(la2) * np.sin(dlon / 2.0) ** 2
    return 2.0 * EARTH_RADIUS_KM * np.arcsin(np.sqrt(np.minimum(h, 1.0)))


def haversine_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    """SQL form of :func:`haversine_km` (Spark & DuckDB compatible).
    The least(..., 1.0) clamp matches the NumPy/column forms — without it a
    near-antipodal pair can round h slightly above 1 and yield NaN."""
    return (
        f"(2.0 * {EARTH_RADIUS_KM} * asin(sqrt(least("
        f"pow(sin((radians({lat2}) - radians({lat1})) / 2), 2)"
        f" + cos(radians({lat1})) * cos(radians({lat2}))"
        f" * pow(sin((radians({lon2}) - radians({lon1})) / 2), 2), 1.0))))"
    )


# ---------------------------------------------------------------------------
# Great-circle disc covers (radius-join candidate generation)
# ---------------------------------------------------------------------------


def radius_res(radius_km: float) -> int:
    """Default cover resolution for a ``radius_km`` disc: the finest res
    whose cell HEIGHT is >= the radius, so the disc spans <= ~3 latitude
    rows of cells (cover ~9-15 cells away from the poles)."""
    dlat_deg = np.degrees(radius_km / EARTH_RADIUS_KM)
    if dlat_deg <= 0:
        return GRID_MAX_RES
    r = int(np.floor(np.log2(max(45.0 / dlat_deg, 1.0))))
    return max(0, min(GRID_MAX_RES, r))


def radius_cover(lat: float, lon: float, radius_km: float, res: int,
                 max_cover: int = 256) -> np.ndarray:
    """Cell ids (single res per call, possibly coarsened) whose union is a
    SUPERSET of the great-circle disc of ``radius_km`` around (lat, lon).

    Soundness (this is the radius-join candidate cover, so it must never
    miss a reachable point):

    * latitude band ``|dphi| <= R/R_E`` — the meridian arc is a lower bound
      on great-circle distance, so every reachable point lies in the band;
    * longitude half-width from the haversine identity
      ``hav(d) = hav(dphi) + cos(phi1) cos(phi2) hav(dlam)`` =>
      ``sin(dlam/2) <= sin(R/(2 R_E)) / sqrt(cos(phi1) cos(phi2_min))``
      with ``cos(phi2_min)`` the smallest cosine over the band.  The naive
      parallel-arc bound (``dlam <= R / (111 cos phi)``) UNDERestimates the
      reachable lon gap because geodesics cut poleward of their endpoints
      (the same trap
      :func:`~geolake_spark.operators.joins._meridian_segment_dist`
      documents) — the identity bound is exact.  When the band
      touches a pole the denominator hits 0 and the cover degrades to
      all-longitudes for the band, which subsumes over-pole reachability.

    Coarsens to exact quad-parents (res-1, res-2, ...) until the cover is
    <= ``max_cover`` cells, so polar probes cannot explode the candidate
    row count.  Antimeridian wrap handled in ix arithmetic.
    """
    dlat = float(np.degrees(radius_km / EARTH_RADIUS_KM))
    s = float(np.sin(radius_km / (2.0 * EARTH_RADIUS_KM)))
    res = max(0, min(GRID_MAX_RES, int(res)))
    while True:
        nx, ny = grid_dims(res)
        lat_s, lat_n = max(-90.0, lat - dlat), min(90.0, lat + dlat)
        iy0 = max(0, min(int(np.floor((90.0 - lat_n) / 180.0 * ny)), ny - 1))
        iy1 = max(0, min(int(np.floor((90.0 - lat_s) / 180.0 * ny)), ny - 1))
        denom = np.cos(np.radians(lat)) * min(np.cos(np.radians(lat_s)),
                                              np.cos(np.radians(lat_n)))
        if denom <= 0.0 or s * s >= denom:
            xs = np.arange(nx, dtype=np.int64)
        else:
            dlam = float(np.degrees(2.0 * np.arcsin(min(1.0, s / np.sqrt(denom)))))
            if dlam >= 180.0:
                xs = np.arange(nx, dtype=np.int64)
            else:
                w = ((lon - dlam + 180.0) % 360.0) - 180.0
                e = ((lon + dlam + 180.0) % 360.0) - 180.0
                ix0 = max(0, min(int(np.floor((w + 180.0) / 360.0 * nx)), nx - 1))
                ix1 = max(0, min(int(np.floor((e + 180.0) / 360.0 * nx)), nx - 1))
                if ix0 <= ix1:
                    xs = np.arange(ix0, ix1 + 1, dtype=np.int64)
                else:  # antimeridian crossing
                    xs = np.concatenate([np.arange(ix0, nx, dtype=np.int64),
                                         np.arange(0, ix1 + 1, dtype=np.int64)])
        n_cells = (iy1 - iy0 + 1) * len(xs)
        if n_cells <= max_cover or res == 0:
            ys = np.arange(iy0, iy1 + 1, dtype=np.int64)
            gx, gy = np.meshgrid(xs, ys)
            return ((np.int64(res) << _RES_SHIFT)
                    | (gy.ravel() << _IY_SHIFT) | gx.ravel()).astype(np.int64)
        res -= 1


# ---------------------------------------------------------------------------
# Web-Mercator (slippy-map) tiles — the raster<->vector materialization grid
# ---------------------------------------------------------------------------

MERCATOR_MAX_LAT = 85.05112878


def tile_xy(lat, lon, zoom: int) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized slippy-map tile (x, y) at ``zoom``; lat clamped to the
    Web-Mercator domain.  Mirrors geolake's ``to_regular`` regridding
    (workflow.py:157-167) onto the standard tile pyramid."""
    lat = np.clip(np.asarray(lat, dtype=np.float64), -MERCATOR_MAX_LAT, MERCATOR_MAX_LAT)
    lon = np.asarray(lon, dtype=np.float64)
    n = float(1 << zoom)
    xt = np.floor((lon + 180.0) / 360.0 * n)
    lat_r = np.radians(lat)
    yt = np.floor((1.0 - np.log(np.tan(lat_r) + 1.0 / np.cos(lat_r)) / np.pi) / 2.0 * n)
    xt = np.clip(xt, 0, n - 1).astype(np.int64)
    yt = np.clip(yt, 0, n - 1).astype(np.int64)
    return xt, yt


def tile_x_sql(lon_expr: str, zoom: int) -> str:
    n = 1 << zoom
    return (f"least(greatest(cast(floor((({lon_expr}) + 180.0) / 360.0 * {n}) as bigint), 0), {n - 1})")


def tile_y_sql(lat_expr: str, zoom: int) -> str:
    n = 1 << zoom
    clamped = f"least(greatest({lat_expr}, -{MERCATOR_MAX_LAT}), {MERCATOR_MAX_LAT})"
    return (
        f"least(greatest(cast(floor((1.0 - ln(tan(radians({clamped}))"
        f" + 1.0 / cos(radians({clamped}))) / pi()) / 2.0 * {n}) as bigint), 0), {n - 1})"
    )


# ---------------------------------------------------------------------------
# Geohash — the base-32 interleaved-bit cell scheme (public algorithm:
# Niemeyer 2008; en.wikipedia.org/wiki/Geohash).  Encoded as pure integer
# math so the NumPy kernel, the Spark Column (functions/geo.geohash_col)
# and the DuckDB SQL below are bit-identical: quantize lat/lon once to
# their full bit widths, Morton-interleave (lon first), emit 5-bit chars.
# ---------------------------------------------------------------------------

GEOHASH32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash_widths(precision: int) -> tuple[int, int, int]:
    """(total_bits, lon_bits, lat_bits) — lon gets the extra odd bit."""
    n = 5 * precision
    return n, (n + 1) // 2, n // 2


def geohash(lat, lon, precision: int = 7) -> np.ndarray:
    """Vectorized geohash strings.  Quantization is a single floor per
    axis (equivalent to the classic per-bit bisection, without the loop);
    the +90/+180 shift-scale-floor form matches tile_xy's convention."""
    n, nlon, nlat = geohash_widths(precision)
    lonq = np.minimum(np.floor((np.asarray(lon, dtype=np.float64) + 180.0)
                               / 360.0 * float(1 << nlon)),
                      (1 << nlon) - 1).astype(np.int64)
    latq = np.minimum(np.floor((np.asarray(lat, dtype=np.float64) + 90.0)
                               / 180.0 * float(1 << nlat)),
                      (1 << nlat) - 1).astype(np.int64)
    v = np.zeros_like(lonq)
    for j in range(nlon):
        v |= ((lonq >> (nlon - 1 - j)) & 1) << (n - 1 - 2 * j)
    for j in range(nlat):
        v |= ((latq >> (nlat - 1 - j)) & 1) << (n - 2 - 2 * j)
    abc = np.array(list(GEOHASH32))
    out = abc[(v >> (5 * (precision - 1))) & 31]
    for c in range(1, precision):
        out = np.char.add(out, abc[(v >> (5 * (precision - 1 - c))) & 31])
    return out


def geohash_decode(hashes, precision: int | None = None):
    """(lat, lon) cell centers from geohash strings (vectorized inverse
    of :func:`geohash`): chars -> interleaved integer -> de-interleave
    -> dequantize to the cell midpoint."""
    hs = np.asarray(hashes)
    if precision is None:
        precision = len(str(hs.flat[0]))
    n, nlon, nlat = geohash_widths(precision)
    idx = {c: i for i, c in enumerate(GEOHASH32)}
    v = np.zeros(hs.shape, dtype=np.int64)
    for c in range(precision):
        chars = np.array([idx[str(h)[c]] for h in hs.flat],
                         dtype=np.int64).reshape(hs.shape)
        v = (v << 5) | chars
    lonq = np.zeros_like(v)
    latq = np.zeros_like(v)
    for j in range(nlon):
        lonq |= ((v >> (n - 1 - 2 * j)) & 1) << (nlon - 1 - j)
    for j in range(nlat):
        latq |= ((v >> (n - 2 - 2 * j)) & 1) << (nlat - 1 - j)
    lon = (lonq.astype(np.float64) + 0.5) / float(1 << nlon) * 360.0 - 180.0
    lat = (latq.astype(np.float64) + 0.5) / float(1 << nlat) * 180.0 - 90.0
    return lat, lon


def geohash_sql(lat_expr: str, lon_expr: str, precision: int = 7) -> str:
    """DuckDB twin of :func:`geohash` (same float op order, then exact
    integer bit math via ``>>``/``&``/``<<``)."""
    n, nlon, nlat = geohash_widths(precision)
    lonq = (f"cast(least(floor((({lon_expr}) + 180.0) / 360.0 * "
            f"{float(1 << nlon)}), {(1 << nlon) - 1}) as bigint)")
    latq = (f"cast(least(floor((({lat_expr}) + 90.0) / 180.0 * "
            f"{float(1 << nlat)}), {(1 << nlat) - 1}) as bigint)")
    terms = [f"(((lq >> {nlon - 1 - j}) & 1) << {n - 1 - 2 * j})"
             for j in range(nlon)]
    terms += [f"(((tq >> {nlat - 1 - j}) & 1) << {n - 2 - 2 * j})"
              for j in range(nlat)]
    chars = [f"substr('{GEOHASH32}', "
             f"cast(((v >> {5 * (precision - 1 - c)}) & 31) as int) + 1, 1)"
             for c in range(precision)]
    return (f"(SELECT {' || '.join(chars)} FROM (SELECT "
            f"{' | '.join(terms)} AS v FROM (SELECT {lonq} AS lq, "
            f"{latq} AS tq) qz) qv)")


# ---------------------------------------------------------------------------
# Ray-casting point-in-polygon (vectorized points x polygon)
# ---------------------------------------------------------------------------

def points_in_ring(lat, lon, ring: np.ndarray) -> np.ndarray:
    """Even-odd ray cast of n points against one ring.

    ``ring``: (m, 2) array of [lon, lat] vertices (closed or open).
    Returns bool (n,).  Points exactly on an edge follow even-odd parity
    (deterministic; golden outputs freeze the behavior).
    """
    x = np.asarray(lon, dtype=np.float64)
    y = np.asarray(lat, dtype=np.float64)
    vx = ring[:, 0]
    vy = ring[:, 1]
    if vx[0] != vx[-1] or vy[0] != vy[-1]:
        vx = np.append(vx, vx[0])
        vy = np.append(vy, vy[0])
    inside = np.zeros(x.shape, dtype=bool)
    for i in range(len(vx) - 1):
        x1, y1, x2, y2 = vx[i], vy[i], vx[i + 1], vy[i + 1]
        if y1 == y2:
            continue
        cond = ((y1 > y) != (y2 > y))
        with np.errstate(invalid="ignore"):
            xin = x1 + (y - y1) * (x2 - x1) / (y2 - y1)
        inside ^= cond & (x < xin)
    return inside


def points_in_polygon(lat, lon, rings: list[np.ndarray]) -> np.ndarray:
    """Even-odd over all rings: ring 0 = shell, others = holes."""
    acc = np.zeros(np.asarray(lat).shape, dtype=bool)
    for ring in rings:
        acc ^= points_in_ring(lat, lon, np.asarray(ring, dtype=np.float64))
    return acc


def polygon_bbox(rings: list[np.ndarray]) -> tuple[float, float, float, float]:
    """(south, north, west, east) of the shell ring."""
    shell = np.asarray(rings[0], dtype=np.float64)
    return (float(shell[:, 1].min()), float(shell[:, 1].max()),
            float(shell[:, 0].min()), float(shell[:, 0].max()))


# ---------------------------------------------------------------------------
# Canonical S2 cell ids (face + quadratic ST + Hilbert), vectorized.
# Public algorithm per s2geometry (Apache-2.0); implemented from the
# published spec, no library available in this sandbox (SURVEY.md §7).
# ---------------------------------------------------------------------------

_S2_LOOKUP_BITS = 4
_S2_SWAP = 0x01
_S2_INVERT = 0x02
_S2_POS_TO_IJ = np.array([
    [0, 1, 3, 2],
    [0, 2, 3, 1],
    [3, 2, 0, 1],
    [3, 1, 0, 2],
], dtype=np.int64)
_S2_POS_TO_ORIENT = np.array([_S2_SWAP, 0, 0, _S2_INVERT | _S2_SWAP], dtype=np.int64)


def _build_s2_lookup() -> np.ndarray:
    """lookup_pos[(ij << 2) | orient] = (pos << 2) | new_orient, 4 bits/axis."""
    lookup = np.zeros(1 << (2 * _S2_LOOKUP_BITS + 2), dtype=np.int64)

    def init(level: int, i: int, j: int, orig: int, orient: int, pos: int) -> None:
        if level == _S2_LOOKUP_BITS:
            ij = (i << _S2_LOOKUP_BITS) | j
            lookup[(ij << 2) | orig] = (pos << 2) | orient
            return
        for sub in range(4):
            ij = _S2_POS_TO_IJ[orient][sub]
            init(level + 1, (i << 1) | (ij >> 1), (j << 1) | (ij & 1),
                 orig, orient ^ int(_S2_POS_TO_ORIENT[sub]), (pos << 2) | sub)

    for o in range(4):
        init(0, 0, 0, o, o, 0)
    return lookup


_S2_LOOKUP = _build_s2_lookup()
_S2_MAX_LEVEL = 30


def _s2_face_uv(lat, lon):
    lat_r = np.radians(np.asarray(lat, dtype=np.float64))
    lon_r = np.radians(np.asarray(lon, dtype=np.float64))
    x = np.cos(lat_r) * np.cos(lon_r)
    y = np.cos(lat_r) * np.sin(lon_r)
    z = np.sin(lat_r)
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    face = np.where(ax >= ay,
                    np.where(ax >= az, 0, 2),
                    np.where(ay >= az, 1, 2))
    face = face + np.where(
        (np.select([face == 0, face == 1], [x, y], default=z)) < 0, 3, 0)
    # u, v per face (s2geometry ValidFaceXYZtoUV).  np.select evaluates every
    # branch, so unselected faces divide by ~0 — silence and let select pick.
    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        return _s2_face_uv_select(face, x, y, z)


def _s2_face_uv_select(face, x, y, z):
    u = np.select(
        [face == 0, face == 1, face == 2, face == 3, face == 4],
        [y / x, -x / y, -x / z, z / x, z / y],
        default=-y / z)
    v = np.select(
        [face == 0, face == 1, face == 2, face == 3, face == 4],
        [z / x, z / y, -y / z, y / x, -x / y],
        default=-x / z)
    return face.astype(np.int64), u, v


def _s2_uv_to_st(u: np.ndarray) -> np.ndarray:
    """Quadratic projection (s2geometry S2_QUADRATIC_PROJECTION)."""
    with np.errstate(invalid="ignore"):
        return np.where(u >= 0.0,
                        0.5 * np.sqrt(1.0 + 3.0 * u),
                        1.0 - 0.5 * np.sqrt(1.0 - 3.0 * u))


def s2_cell_id(lat, lon, level: int = 12) -> np.ndarray:
    """Vectorized canonical S2 cell id at ``level`` (0..30)."""
    face, u, v = _s2_face_uv(lat, lon)
    limit = 1 << _S2_MAX_LEVEL
    i = np.clip((_s2_uv_to_st(u) * limit).astype(np.int64), 0, limit - 1)
    j = np.clip((_s2_uv_to_st(v) * limit).astype(np.int64), 0, limit - 1)

    n = face.astype(np.uint64) << np.uint64(60)
    bits = (face & _S2_SWAP).astype(np.int64)
    mask = (1 << _S2_LOOKUP_BITS) - 1
    for k in range(7, -1, -1):
        i4 = (i >> (k * _S2_LOOKUP_BITS)) & mask
        j4 = (j >> (k * _S2_LOOKUP_BITS)) & mask
        bits += (i4 << (_S2_LOOKUP_BITS + 2)) + (j4 << 2)
        bits = _S2_LOOKUP[bits]
        n |= (bits >> 2).astype(np.uint64) << np.uint64(k * 2 * _S2_LOOKUP_BITS)
        bits &= (_S2_SWAP | _S2_INVERT)
    leaf = n * np.uint64(2) + np.uint64(1)
    if level >= _S2_MAX_LEVEL:
        return leaf.astype(np.int64)
    lsb = np.uint64(1) << np.uint64(2 * (_S2_MAX_LEVEL - level))
    return ((leaf & ~(lsb - np.uint64(1))) | lsb).astype(np.int64)


def s2_cell_sql_query(points_sql: str, id_col: str = "doc_id",
                      level: int = 12) -> str:
    """Full SQL (DuckDB) computing the canonical S2 cell id per row of
    ``points_sql`` (columns: id_col, lat, lon) — the value-level oracle for
    :func:`s2_cell_id`.  The Hilbert fold is unrolled into 8 CTE steps over
    the inlined 4096-entry lookup table; HUGEINT emulates the uint64 leaf
    arithmetic (ids wrap to negative int64 exactly as the NumPy kernel's
    astype does).  Verified bit-identical on 100k points (libm sin/cos/sqrt
    agree between NumPy and DuckDB on this platform)."""
    lookup = ", ".join(str(int(v)) for v in _S2_LOOKUP)
    lsb = 1 << (2 * (_S2_MAX_LEVEL - level))
    steps = []
    prev = "s_init"
    for k in range(7, -1, -1):
        shift_ij = 1 << (4 * k)
        shift_n = 1 << (8 * k)
        lx = (f"list_extract(lk.l, cast(bits + ((i // {shift_ij}) % 16) * 64 "
              f"+ ((j // {shift_ij}) % 16) * 4 + 1 as int))")
        steps.append(
            f"s_{k} AS (SELECT {id_col}, i, j, {lx} % 4 AS bits, "
            f"n + ({lx} // 4)::HUGEINT * {shift_n} AS n FROM {prev}, lk)")
        prev = f"s_{k}"
    return f"""
WITH lk AS (SELECT [{lookup}] AS l),
pts AS ({points_sql}),
xyz AS (SELECT {id_col}, cos(radians(lat))*cos(radians(lon)) AS x,
  cos(radians(lat))*sin(radians(lon)) AS y, sin(radians(lat)) AS z FROM pts),
fc AS (SELECT *, CASE WHEN abs(x) >= abs(y)
  THEN (CASE WHEN abs(x) >= abs(z) THEN 0 ELSE 2 END)
  ELSE (CASE WHEN abs(y) >= abs(z) THEN 1 ELSE 2 END) END AS f0 FROM xyz),
fc2 AS (SELECT *, f0 + CASE WHEN
  (CASE WHEN f0 = 0 THEN x WHEN f0 = 1 THEN y ELSE z END) < 0
  THEN 3 ELSE 0 END AS face FROM fc),
uv AS (SELECT *, CASE face WHEN 0 THEN y/x WHEN 1 THEN -x/y WHEN 2 THEN -x/z
    WHEN 3 THEN z/x WHEN 4 THEN z/y ELSE -y/z END AS u,
  CASE face WHEN 0 THEN z/x WHEN 1 THEN z/y WHEN 2 THEN -y/z
    WHEN 3 THEN y/x WHEN 4 THEN -x/y ELSE -x/z END AS v FROM fc2),
st AS (SELECT *,
  CASE WHEN u >= 0 THEN 0.5*sqrt(1+3*u) ELSE 1-0.5*sqrt(1-3*u) END AS su,
  CASE WHEN v >= 0 THEN 0.5*sqrt(1+3*v) ELSE 1-0.5*sqrt(1-3*v) END AS sv
  FROM uv),
s_init AS (SELECT {id_col},
  least(greatest(cast(floor(su*1073741824) as bigint), 0), 1073741823) AS i,
  least(greatest(cast(floor(sv*1073741824) as bigint), 0), 1073741823) AS j,
  face % 2 AS bits, face::HUGEINT * 1152921504606846976 AS n FROM st),
{", ".join(steps)},
leaf AS (SELECT {id_col}, n*2 + 1 AS lf FROM {prev}),
masked AS (SELECT {id_col}, lf - (lf % {lsb})
  + CASE WHEN ((lf // {lsb}) % 2) = 1 THEN 0 ELSE {lsb} END AS idu FROM leaf)
SELECT {id_col}, cast(CASE WHEN idu >= 9223372036854775808::HUGEINT
  THEN idu - 18446744073709551616::HUGEINT ELSE idu END AS BIGINT) AS s2_cell
FROM masked"""


def s2_level(cell_id) -> np.ndarray:
    """Level of an S2 cell id (from its lowest set bit)."""
    c = np.asarray(cell_id, dtype=np.uint64)
    lsb = c & (~c + np.uint64(1))
    return (_S2_MAX_LEVEL - (np.log2(lsb.astype(np.float64)) / 2.0)).astype(np.int64)


def s2_parent(cell_id, level: int) -> np.ndarray:
    c = np.asarray(cell_id, dtype=np.uint64)
    lsb = np.uint64(1) << np.uint64(2 * (_S2_MAX_LEVEL - level))
    return ((c & ~(lsb - np.uint64(1))) | lsb).astype(np.int64)


def quadkey_sql(lat_expr: str, lon_expr: str, zoom: int) -> str:
    """DuckDB/SparkSQL mirror of ``geo.quadkey_col``.  NB the tile
    exprs are inlined per bit — wrap precomputed tx/ty columns when
    composing by hand (``quadkey_from_xy_sql``)."""
    return quadkey_from_xy_sql(tile_x_sql(lon_expr, zoom),
                               tile_y_sql(lat_expr, zoom), zoom)


def quadkey_from_xy_sql(x_expr: str, y_expr: str, zoom: int) -> str:
    terms = []
    for j in range(zoom):
        terms.append(f"((({x_expr}) >> {j}) & 1) << {2 * j}")
        terms.append(f"((({y_expr}) >> {j}) & 1) << {2 * j + 1}")
    morton = " | ".join(f"({t})" for t in terms)
    return f"lpad(to_base({morton}, 4), {zoom}, '0')"
