"""Deterministic synthetic tables (seed=42 everywhere — FIXTURES.md).

* ``pages`` — Common-Crawl-style fact table, exactly the BASELINE.json
  ``input_hint`` shape: (url string, warc_ts timestamp, html binary,
  text string, lang string).  Hosts are zipf-distributed over a pool and each
  host geocodes onto one of ~50 "city" clusters -> realistic power-law H3-cell
  skew (SURVEY.md §7 risk 3).  ``text`` is written as ``extract_text(html)``
  at generation time, so the engine's extractor must reproduce it
  byte-identically (the per-row invariant).
* ``polygons`` — admin-region-like rings: convex, concave, one with a hole,
  the reference workflow-fixture bbox {north:-85, south:-90, east:260,
  west:240} (/root/reference/datastore/tests/workflow/fixtures.py:12-16),
  and an antimeridian-crossing box.
* ``query_points`` — kNN probes incl. the reference location fixture
  (lat=10, lon=25 — /root/reference/datastore/geoquery/tests/test_geoquery.py:9-14).
* ``obs`` — long-form DataCube equivalent for resample/average/vertical tests.

Generation is NumPy-vectorized and written with pyarrow; no Spark needed.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from geolake_spark.functions.geo import LAT, LON
from geolake_spark.functions.text import extract_text_bytes

SEED = 42
N_HOSTS = 1000
N_CITIES = 50
LANGS = np.array(["en", "it", "de", "fr", "es"])
LANG_WEIGHTS = np.array([0.62, 0.12, 0.10, 0.09, 0.07])

_WORDS = np.array(
    ("the and is of it that for with this from data lake spark tile query "
     "cell page crawl web index join point polygon raster vector city map "
     "region zoom level snapshot commit partition shuffle skew broadcast "
     "il che di per der und ist nicht le et est les el que los").split())


def _host_pool(rng: np.random.RandomState) -> np.ndarray:
    tlds = np.array(["com", "org", "net", "io", "eu"])
    names = rng.choice(_WORDS, size=(N_HOSTS, 2))
    return np.array([f"{a}-{b}.{t}" for (a, b), t in
                     zip(names, rng.choice(tlds, N_HOSTS))])


def _city_centers(rng: np.random.RandomState) -> tuple[np.ndarray, np.ndarray]:
    lat = rng.uniform(-65, 70, N_CITIES)
    lon = rng.uniform(-175, 175, N_CITIES)
    return lat, lon


def make_html(title: str, body_words: np.ndarray) -> bytes:
    body = " ".join(body_words)
    return (
        f"<html><head><title>{title}</title>"
        f"<script>var x = 1; // {title}</script>"
        f"<style>body {{ margin: 0 }}</style></head>"
        f"<body><!-- gen --><h1>{title}</h1><p>{body} &amp; more</p>"
        f"</body></html>").encode("utf-8")


def gen_pages(n_rows: int, seed: int = SEED) -> pa.Table:
    rng = np.random.RandomState(seed)
    hosts = _host_pool(rng)
    city_lat, city_lon = _city_centers(rng)

    # zipf host popularity -> power-law spatial skew through host->city map
    ranks = rng.zipf(1.3, size=n_rows) % N_HOSTS
    host_idx = ranks.astype(np.int64)
    host = hosts[host_idx]
    city = host_idx % N_CITIES
    lat = np.clip(city_lat[city] + rng.normal(0, 0.8, n_rows), -89.9, 89.9)
    lon = np.clip(city_lon[city] + rng.normal(0, 0.8, n_rows), -179.9, 179.9)

    path_a = rng.randint(0, 10_000_000, n_rows)
    url = np.array([f"https://{h}/p/{p}" for h, p in zip(host, path_a)])
    # dedupe collisions deterministically so url is unique
    _, first = np.unique(url, return_index=True)
    dup_mask = np.ones(n_rows, dtype=bool)
    dup_mask[first] = False
    url[dup_mask] = [f"{u}?r={i}" for i, u in zip(np.nonzero(dup_mask)[0], url[dup_mask])]

    base = np.datetime64("2024-01-01T00:00:00")
    warc_ts = base + rng.randint(0, 365 * 24 * 3600, n_rows).astype("timedelta64[s]")
    lang = rng.choice(LANGS, size=n_rows, p=LANG_WEIGHTS)

    n_words = rng.randint(20, 120, n_rows)
    html = []
    text = []
    for i in range(n_rows):
        words = rng.choice(_WORDS, n_words[i])
        h = make_html(f"page {i} {host[i]}", words)
        html.append(h)
        text.append(extract_text_bytes(h))

    return pa.table({
        "url": pa.array(url, pa.string()),
        "warc_ts": pa.array(warc_ts.astype("datetime64[us]"), pa.timestamp("us")),
        "html": pa.array(html, pa.binary()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(lang, pa.string()),
        LAT: pa.array(lat, pa.float64()),
        LON: pa.array(lon, pa.float64()),
    })


# Polygon set: fixed, small (broadcast dimension). rings = [ring][vertex][lon,lat]
def polygon_specs() -> list[dict]:
    return [
        {"polygon_id": 1, "name": "ref_fixture_bbox",  # fixtures.py:12-16 (east/west given 0..360)
         "rings": [[[240 - 360, -90], [260 - 360, -90], [260 - 360, -85],
                    [240 - 360, -85], [240 - 360, -90]]]},
        {"polygon_id": 2, "name": "convex_pentagon",
         "rings": [[[-10, 30], [10, 28], [15, 45], [0, 55], [-14, 46], [-10, 30]]]},
        {"polygon_id": 3, "name": "concave_c",
         "rings": [[[100, -10], [130, -10], [130, 30], [100, 30], [100, 20],
                    [120, 20], [120, 0], [100, 0], [100, -10]]]},
        {"polygon_id": 4, "name": "with_hole",
         "rings": [[[-80, -20], [-40, -20], [-40, 20], [-80, 20], [-80, -20]],
                   [[-70, -10], [-50, -10], [-50, 10], [-70, 10], [-70, -10]]]},
        {"polygon_id": 5, "name": "antimeridian_box",
         "rings": [[[170, -20], [190, -20], [190, 20], [170, 20], [170, -20]]]},
        {"polygon_id": 6, "name": "big_north_band",
         "rings": [[[-179, 40], [179, 40], [179, 70], [-179, 70], [-179, 40]]]},
    ]


def gen_polygons() -> pa.Table:
    specs = polygon_specs()
    rows = {"polygon_id": [], "name": [], "rings": [],
            "min_lon": [], "min_lat": [], "max_lon": [], "max_lat": []}
    for s in specs:
        shell = np.array(s["rings"][0], dtype=np.float64)
        rows["polygon_id"].append(s["polygon_id"])
        rows["name"].append(s["name"])
        rows["rings"].append(s["rings"])
        rows["min_lon"].append(float(shell[:, 0].min()))
        rows["min_lat"].append(float(shell[:, 1].min()))
        rows["max_lon"].append(float(shell[:, 0].max()))
        rows["max_lat"].append(float(shell[:, 1].max()))
    ring_type = pa.list_(pa.list_(pa.list_(pa.float64())))
    return pa.table({
        "polygon_id": pa.array(rows["polygon_id"], pa.int64()),
        "name": pa.array(rows["name"], pa.string()),
        "rings": pa.array(rows["rings"], ring_type),
        "min_lon": pa.array(rows["min_lon"], pa.float64()),
        "min_lat": pa.array(rows["min_lat"], pa.float64()),
        "max_lon": pa.array(rows["max_lon"], pa.float64()),
        "max_lat": pa.array(rows["max_lat"], pa.float64()),
    })


def gen_query_points(n: int = 20, seed: int = SEED) -> pa.Table:
    rng = np.random.RandomState(seed + 7)
    lat = rng.uniform(-70, 70, n)
    lon = rng.uniform(-175, 175, n)
    lat[0], lon[0] = 10.0, 25.0  # reference location fixture
    return pa.table({
        "query_id": pa.array(np.arange(n, dtype=np.int64)),
        LAT: pa.array(lat, pa.float64()),
        LON: pa.array(lon, pa.float64()),
        "k": pa.array(np.full(n, 5, dtype=np.int32)),
    })


def gen_obs(seed: int = SEED) -> pa.Table:
    """Hourly 2-variable gridded obs over 2 years x small grid x 4 levels,
    with NaNs (nan-agg semantics, workflow.py:12-21) and partition attrs."""
    rng = np.random.RandomState(seed + 13)
    ts = np.arange(np.datetime64("2021-01-01T00"), np.datetime64("2023-01-01T00"),
                   np.timedelta64(6, "h"))  # 6-hourly keeps size sane
    lats = np.array([10.0, 10.5, 11.0])
    lons = np.array([25.0, 25.5])
    levels = np.array([1000.0, 850.0, 500.0, 250.0])
    variables = np.array(["tas", "pr"])
    T_, La, Lo, Le, V = np.meshgrid(np.arange(len(ts)), np.arange(3),
                                    np.arange(2), np.arange(4), np.arange(2),
                                    indexing="ij")
    n = T_.size
    t_i, la_i, lo_i, le_i, v_i = (a.ravel() for a in (T_, La, Lo, Le, V))
    value = (np.sin(t_i / 17.0) * 10 + lats[la_i] + lons[lo_i] / 10
             + levels[le_i] / 100 + v_i * 100)
    nan_mask = rng.rand(n) < 0.02
    value = value.copy()
    value[nan_mask] = np.nan
    return pa.table({
        "ts": pa.array(ts[t_i].astype("datetime64[us]"), pa.timestamp("us")),
        LAT: pa.array(lats[la_i], pa.float64()),
        LON: pa.array(lons[lo_i], pa.float64()),
        "level": pa.array(levels[le_i], pa.float64()),
        "var": pa.array(variables[v_i], pa.string()),
        "value": pa.array(value, pa.float64()),
        "resolution": pa.array(np.where(la_i % 2 == 0, "0.1", "0.25"), pa.string()),
        "version": pa.array(np.where(v_i == 0, "v1", "v2"), pa.string()),
    })


SF_ROWS = {"0.001": 500, "0.01": 5000, "0.1": 50000, "1": 500000,
           "4": 4_000_000}


# Multi-script word pools for the unicode corpus (round 4): a real web
# corpus is mostly non-ASCII, and until r4 one non-ASCII doc per Arrow
# batch pushed the whole batch onto the per-token Python path — this
# corpus makes that cost visible in bench and guards the text/dedup
# kernels against ASCII-only blind spots.  Deterministic, no external
# data: fixed in-source pools per script.
_SCRIPT_WORDS = {
    "en": _WORDS,
    "ru": np.array(("данные озеро спарк плитка запрос ячейка страница сеть "
                    "индекс соединение точка многоугольник растр вектор "
                    "город карта регион масштаб снимок раздел перекос").split()),
    "zh": np.array(("数据 湖泊 火花 瓦片 查询 单元 页面 爬取 网络 索引 连接 "
                    "点 多边形 栅格 向量 城市 地图 区域 缩放 快照 分区 倾斜").split()),
    "ja": np.array(("データ 湖 スパーク タイル クエリ セル ページ クロール "
                    "ウェブ インデックス 結合 ポイント ポリゴン ラスター "
                    "ベクトル 都市 地図 領域 ズーム スナップショット").split()),
    "el": np.array(("δεδομένα λίμνη σπινθήρας πλακίδιο ερώτημα κελί σελίδα "
                    "ιστός ευρετήριο ένωση σημείο πολύγωνο πόλη χάρτης "
                    "περιοχή ζουμ στιγμιότυπο διαμέρισμα").split()),
    "de": np.array(("straße größe fußgänger gebäude flächennutzung gewässer "
                    "verknüpfung punkt vieleck stadt karte region maßstab "
                    "übersicht häufigkeit schlüssel spalte zeile wörter").split()),
}
_SCRIPT_LANGS = np.array(list(_SCRIPT_WORDS))
# ~50% ASCII / 50% non-ASCII, mirroring a mixed web crawl
_SCRIPT_WEIGHTS = np.array([0.50, 0.14, 0.13, 0.09, 0.07, 0.07])


def gen_docs_multiscript(n_rows: int, seed: int = SEED,
                         id_offset: int = 0) -> pa.Table:
    """(doc_id, text, lang) with ~50% non-ASCII docs across 5 scripts.
    Also sprinkles Unicode whitespace (NBSP / ideographic space) between
    some words so the tokenizer's multi-byte whitespace handling is
    exercised, not just multi-byte letters."""
    rng = np.random.RandomState(seed + 23)
    lang = rng.choice(_SCRIPT_LANGS, size=n_rows, p=_SCRIPT_WEIGHTS)
    n_words = rng.randint(20, 120, n_rows)
    seps = np.array([" ", " ", " ", " ", " ", "　"])
    texts = []
    for i in range(n_rows):
        pool = _SCRIPT_WORDS[lang[i]]
        words = pool[rng.randint(0, len(pool), n_words[i])]
        sep = seps[rng.randint(0, len(seps))]
        texts.append(sep.join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(id_offset, id_offset + n_rows,
                                     dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(lang, pa.string()),
    })


EMB_DIM = 64


def gen_embeddings(n_rows: int, dim: int = EMB_DIM, n_clusters: int = 256,
                   seed: int = SEED + 9) -> pa.Table:
    """Clustered unit-ish embeddings (vec_id, embedding array<double>) for
    ANN-at-scale benchmarks: a mixture of ``n_clusters`` spherical Gaussians
    so IVF lists have real structure to find."""
    rng = np.random.RandomState(seed)
    centers = rng.randn(n_clusters, dim)
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    assign = rng.randint(0, n_clusters, n_rows)
    # per-coordinate sd 0.05 -> cluster-noise NORM ~ 0.05*sqrt(dim) = 0.4
    # against unit centers: in-cluster cosine ~ 0.93, cross-cluster ~ 0 —
    # the neighbor structure real embedding spaces have.  (A first cut used
    # sd 0.25, whose noise norm 2.0 swamped the unit centers: vectors were
    # near-uniform on the sphere and no IVF could reach recall 0.9.)
    v = centers[assign] + 0.05 * rng.randn(n_rows, dim)
    flat = v.reshape(-1)
    return pa.table({
        "vec_id": pa.array(np.arange(n_rows, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(flat, pa.float64()), dim).cast(pa.list_(pa.float64())),
    })


def ensure_embeddings(base_dir: str, n_rows: int, dim: int = EMB_DIM) -> str:
    out = os.path.join(base_dir, f"embeddings_{n_rows}_{dim}_v2.parquet")
    if not os.path.exists(out):
        chunk = 250_000
        writer = None
        for start in range(0, n_rows, chunk):
            n = min(chunk, n_rows - start)
            tbl = gen_embeddings(n, dim, seed=SEED + 9 + start // chunk)
            tbl = tbl.set_column(0, "vec_id",
                                 pa.array(np.arange(start, start + n,
                                                    dtype=np.int64)))
            if writer is None:
                writer = pq.ParquetWriter(out, tbl.schema)
            for batch in tbl.to_batches(max_chunksize=max(n // 16, 10000)):
                writer.write_batch(batch)
        writer.close()
    return out


def ensure_local_tables(base_dir: str, sf: str = "0.01") -> dict[str, str]:
    """Materialize the synthetic tables under ``base_dir/sf{sf}/`` once;
    returns {table: path}.  Idempotent (keyed by a manifest of params)."""
    out_dir = os.path.join(base_dir, f"sf{sf}")
    os.makedirs(out_dir, exist_ok=True)
    manifest_path = os.path.join(out_dir, "_synth_manifest.json")
    params = {"seed": SEED, "rows": SF_ROWS[sf], "version": 4}
    paths = {t: os.path.join(out_dir, f"{t}.parquet")
             for t in ("pages", "polygons", "query_points", "obs")}
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            if json.load(f) == params and all(os.path.exists(p) for p in paths.values()):
                return paths
    # small row groups -> many parquet splits -> real scan parallelism
    # (a single row group would serialize the whole scan onto one task)
    pq.write_table(gen_pages(SF_ROWS[sf]), paths["pages"],
                   row_group_size=max(SF_ROWS[sf] // 64, 2000))
    pq.write_table(gen_polygons(), paths["polygons"])
    pq.write_table(gen_query_points(), paths["query_points"])
    pq.write_table(gen_obs(), paths["obs"])
    with open(manifest_path, "w") as f:
        json.dump(params, f)
    return paths
