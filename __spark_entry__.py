"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship geo pipeline on sf0.001;
``queries()`` exposes one callable per implemented operator (SURVEY.md §2);
``oracle_sql()`` gives the DuckDB-equivalent SQL for every SQL-expressible
query (same column names, floats rounded to 6 dp, ints cast to bigint on
both sides so value-hashes align).

Geo queries derive (lat, lon) from integer ids with *pure int64 arithmetic*
(geolake_spark.functions.geo.geocode_*), so Spark and DuckDB compute
bit-identical coordinates and every spatial operator gets a true value-level
oracle.  Cell ids / tiles use the same closed-form floor math on both sides
(geolake_spark.cells.grid_cell_sql / tile_*_sql).
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from geolake_spark import cells, metrics
from geolake_spark.functions import geo, sim
from geolake_spark.functions import text as tx
from geolake_spark.model import GeoQuery
from geolake_spark.operators import (aggregates, ann, blooms, curation, dedup, graph,
                                     joins, links, robots, search, sketches,
                                     spatial, subset, tiles, trips)
from geolake_spark.pipeline import curate_pages
from geolake_spark.streaming import ingest as st_ingest

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _docs_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + deterministic arithmetic geocode (oracle-parity columns)."""
    d = _t(spark, sf_dir, "documents")
    return (d.withColumn("lat", geo.geocode_lat(F.col("doc_id")))
            .withColumn("lon", geo.geocode_lon(F.col("doc_id"))))


def _events_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return (e.withColumn("lat", geo.geocode_lat(F.col("event_id")))
            .withColumn("lon", geo.geocode_lon(F.col("event_id"))))


_DOCS_GEO_SQL = (
    "SELECT doc_id, text, lang, "
    f"{geo.geocode_lat_sql('doc_id')} AS lat, "
    f"{geo.geocode_lon_sql('doc_id')} AS lon FROM documents")

_EVENTS_GEO_SQL = (
    "SELECT event_id, ts, user_id, event_type, value, "
    f"{geo.geocode_lat_sql('event_id')} AS lat, "
    f"{geo.geocode_lon_sql('event_id')} AS lon FROM events")

# PIP oracle rectangles (lon/lat). Rectangle PIP via even-odd ray-casting is
# the half-open box lat in [s, n), lon in [w, e) — the oracle encodes exactly
# that.  Chosen to overlap the geocode city clusters.
_RECTS = [
    {"polygon_id": 101, "rings": [[[-60.0, -40.0], [20.0, -40.0], [20.0, 30.0],
                                   [-60.0, 30.0], [-60.0, -40.0]]]},
    {"polygon_id": 102, "rings": [[[60.0, -70.0], [170.0, -70.0], [170.0, 10.0],
                                   [60.0, 10.0], [60.0, -70.0]]]},
    {"polygon_id": 103, "rings": [[[-170.0, 35.0], [-60.0, 35.0], [-60.0, 69.0],
                                   [-170.0, 69.0], [-170.0, 35.0]]]},
]

_KNN_PROBES = [(1, 10.0, 25.0),    # reference location fixture (test_geoquery.py:9-14)
               (2, 48.0, 2.0),
               (3, -30.0, 150.0)]

# ---------------------------------------------------------------------------
# flagship entry
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship slice (SURVEY.md §7 M2): documents -> geocode -> cell assign
    -> PIP broadcast join -> per-tile rollup, on sf0.001."""
    docs = _docs_geo(spark, "/root/testdata/sf0.001")
    hit = joins.pip_join(docs, _RECTS, res=6)
    tiled = tiles.assign_tiles(hit, zoom=6)
    return (tiled.groupBy("polygon_id", "tile_z", "tile_x", "tile_y")
            .agg(F.count("*").alias("page_count"))
            .orderBy("polygon_id", "tile_x", "tile_y"))


# ---------------------------------------------------------------------------
# queries (spark side)
# ---------------------------------------------------------------------------


def q_geo_bbox(spark, sf_dir):
    d = _docs_geo(spark, sf_dir)
    out = d.filter(geo.bbox_filter(F.col("lat"), F.col("lon"),
                                   south=-20.0, north=45.0, west=-30.0, east=60.0))
    return out.select("doc_id", F.round("lat", 6).alias("lat_r"),
                      F.round("lon", 6).alias("lon_r"))


def q_geo_bbox_antimeridian(spark, sf_dir):
    d = _docs_geo(spark, sf_dir)
    out = d.filter(geo.bbox_filter(F.col("lat"), F.col("lon"),
                                   south=-50.0, north=50.0, west=150.0, east=-150.0))
    return out.select("doc_id")


def q_cell_histogram(spark, sf_dir):
    d = _docs_geo(spark, sf_dir)
    return (d.withColumn("cell_r7", geo.grid_cell_col(F.col("lat"), F.col("lon"), 7))
            .groupBy("cell_r7").agg(F.count("*").alias("n_docs")))


def q_cell_parent_rollup(spark, sf_dir):
    """res-9 cells rolled up to their res-5 ancestors via bit-shift parent —
    the packed-array containment property as a query."""
    d = _docs_geo(spark, sf_dir)
    c9 = geo.grid_cell_col(F.col("lat"), F.col("lon"), 9)
    ix = c9.bitwiseAND(F.lit((1 << 28) - 1))
    iy = F.shiftright(c9, 28).bitwiseAND(F.lit((1 << 28) - 1))
    parent = (F.lit(5) * F.lit(1 << 56).cast("bigint")
              + F.shiftright(iy, 4) * F.lit(1 << 28).cast("bigint")
              + F.shiftright(ix, 4))
    return (d.withColumn("cell_r5", parent)
            .groupBy("cell_r5").agg(F.count("*").alias("n_docs")))


def q_pip_rect_join(spark, sf_dir):
    d = _docs_geo(spark, sf_dir)
    return (joins.pip_join(d, _RECTS, res=6)
            .select("doc_id", "polygon_id"))


def q_knn_docs(spark, sf_dir):
    d = _docs_geo(spark, sf_dir)
    probes = pd.DataFrame(_KNN_PROBES, columns=["query_id", "lat", "lon"])
    out = joins.knn_join_table(d, spark.createDataFrame(probes), k=5, res=5,
                               id_cols=["doc_id"])
    return out.select("query_id", "doc_id",
                      F.round("dist_km", 6).alias("dist_km"),
                      F.col("rank").cast("bigint").alias("rank"))


def q_knn_table(spark, sf_dir):
    """distributed probe-TABLE kNN (J2 at scale): 400 probes as a DataFrame,
    histogram-sized box join: one res-5 cell histogram sizes each probe's
    lat/lon box, a broadcast latitude-band box join + haversine + windowed
    top-k ranks the candidates, and the probes whose kth distance exceeds
    their box's nearest open face double the box and rerun together; no
    Spark job per probe (VERDICT r01 #5)."""
    d = _docs_geo(spark, sf_dir)
    probes = (spark.range(400)
              .select(F.col("id").alias("query_id"),
                      geo.geocode_lat(F.col("id") + 1000000).alias("lat"),
                      geo.geocode_lon(F.col("id") + 1000000).alias("lon")))
    out = joins.knn_join_table(d, probes, k=5, res=5, id_cols=["doc_id"])
    return out.select("query_id", "doc_id",
                      F.round("dist_km", 6).alias("dist_km"),
                      F.col("rank").cast("bigint").alias("rank"))


def q_radius_join(spark, sf_dir):
    """within-distance (distance-band) join: 400 probe table x docs, all
    pairs <= 300 km.  Sound disc-cover cells -> one equi-join shuffle ->
    haversine refine (operators/joins.py radius_join); oracle is the exact
    cross-join + haversine filter."""
    d = _docs_geo(spark, sf_dir)
    probes = (spark.range(400)
              .select(F.col("id").alias("query_id"),
                      geo.geocode_lat(F.col("id") + 1000000).alias("lat"),
                      geo.geocode_lon(F.col("id") + 1000000).alias("lon")))
    out = joins.radius_join(d, probes, radius_km=300.0, id_cols=["doc_id"])
    return out.select("query_id", "doc_id",
                      F.round("dist_km", 6).alias("dist_km"))


def q_range_join(spark, sf_dir):
    """interval join (J5): events bucket-joined to 25 overlapping value
    bands [i*20, i*20+30] — bucketized equi-join + BETWEEN refine, the
    fact table never shuffles on a theta condition."""
    from geolake_spark.operators import ranges
    ev = _t(spark, sf_dir, "events")
    bands = spark.range(25).select(
        F.col("id").alias("band_id"),
        (F.col("id") * 20.0).alias("lo"),
        (F.col("id") * 20.0 + 30.0).alias("hi"))
    j = ranges.range_join(ev, bands, "value")
    return (j.groupBy("band_id")
            .agg(F.count("*").alias("n_events"),
                 F.round(F.sum("value"), 4).alias("sum_value")))


def q_asof_join(spark, sf_dir):
    """as-of join (J5/point-in-time): for each click, the user's most recent
    purchase value at or before the click — union + carry-forward window
    (one shuffle on user_id); DuckDB native ASOF JOIN is the oracle."""
    from geolake_spark.operators import ranges
    ev = _t(spark, sf_dir, "events")
    clicks = (ev.filter(F.col("event_type") == "click")
              .select("event_id", "user_id", "ts"))
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .groupBy("user_id", "ts")
                 .agg(F.max("value").alias("pval")))
    out = ranges.asof_join(clicks, purchases, on="ts", by="user_id",
                           right_cols=["pval"])
    return out.select("event_id", "user_id",
                      F.round("pval_r", 6).alias("last_purchase_value"))


def q_tile_rollup(spark, sf_dir):
    d = _docs_geo(spark, sf_dir)
    return tiles.rollup_tiles(d, zoom=8)


def q_s2_cell_count(spark, sf_dir):
    """canonical S2 level-12 ids (pandas-UDF Hilbert kernel) — full
    value-level oracle: the DuckDB side re-derives the ids with the Hilbert
    fold unrolled into SQL CTEs over the inlined lookup table
    (cells.s2_cell_sql_query, verified bit-identical on 100k points)."""
    d = _docs_geo(spark, sf_dir)
    return (d.withColumn("s2_cell", geo.s2_cell_udf(F.col("lat"), F.col("lon")))
            .groupBy("s2_cell").agg(F.count("*").alias("n_docs")))


def q_geoquery_subset(spark, sf_dir):
    ev = _events_geo(spark, sf_dir)
    q = GeoQuery.parse({
        "area": {"north": 70.0, "south": -20.0, "east": 100.0, "west": -100.0},
        "time": {"year": [2024], "day": [3, 5, 10, 23], "hour": [3, 15]},
        "event_type": "purchase",   # extra key -> filters (geoquery.py:31-38)
    })
    out = subset.subset(ev, q)
    return out.select("event_id", "event_type",
                      F.round("value", 6).alias("value_r"))


def q_resample_daily_max(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select("event_type", "ts", "value")
    out = aggregates.resample(ev, operator="nanmax", frequency="1D",
                              keys=["event_type"])
    return out.select("event_type", "bucket_start",
                      F.round("value", 6).alias("max_value"))


def q_resample_hourly_right(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select("event_type", "ts", "value")
    out = aggregates.resample(ev, operator="nanmean", frequency="1H",
                              keys=["event_type"], closed="right")
    return out.select("event_type", "bucket_start",
                      F.round("value", 6).alias("mean_value"))


def q_time_combinatorial(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = subset.apply_time(ev, {"year": [2024], "month": [1],
                                 "day": [5, 10, 23], "hour": [3, 15]})
    return (out.groupBy("event_type")
            .agg(F.count("*").alias("n_events"),
                 F.round(F.sum("value"), 6).alias("sum_value")))


def q_dim_average(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select("event_type", "ts", "value")
    out = aggregates.average(ev, dim="ts")
    return out.select("event_type", F.round("value", 6).alias("value"))


def q_vertical_nearest(spark, sf_dir):
    """nearest-level select (P6/J3): derive a level axis, pick nearest to 600
    (-> 500), aggregate."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "level", F.element_at(F.array(F.lit(1000.0), F.lit(850.0),
                                      F.lit(500.0), F.lit(250.0)),
                              (F.col("user_id") % 4 + 1).cast("int")))
    out = subset.apply_vertical(ev, 600.0)
    return (out.groupBy("level")
            .agg(F.count("*").alias("n_events"),
                 F.round(F.avg("value"), 6).alias("avg_value")))


def q_tpch_q1(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
                 F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4)
                 .alias("sum_disc_price"),
                 F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
                 F.round(F.avg("l_discount"), 6).alias("avg_disc"),
                 F.count("*").alias("count_order")))


def q_top_revenue_orders(spark, sf_dir):
    cu = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    rev = (li.groupBy("l_orderkey")
           .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
                .alias("rev")))
    j = (o.join(F.broadcast(cu), o.o_custkey == cu.c_custkey)
         .filter(F.col("c_mktsegment") == "BUILDING")
         .join(rev, o.o_orderkey == rev.l_orderkey))
    return (j.select("o_orderkey", F.round("rev", 4).alias("revenue"),
                     "o_orderdate")
            .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
            .limit(10))


def q_region_order_stats(spark, sf_dir):
    cu = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    na = _t(spark, sf_dir, "nation")
    re = _t(spark, sf_dir, "region")
    j = (o.join(F.broadcast(cu), o.o_custkey == cu.c_custkey)
         .join(F.broadcast(na), cu.c_nationkey == na.n_nationkey)
         .join(F.broadcast(re), na.n_regionkey == re.r_regionkey))
    return (j.groupBy("r_name")
            .agg(F.count("*").alias("n_orders"),
                 F.round(F.sum("o_totalprice"), 4).alias("total_price")))


def q_token_counts(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", tx.token_count_col(F.col("text")).alias("n_tokens"))


def q_lang_id(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return (d.withColumn("lang_pred", tx.lang_id_col(F.col("text")))
            .groupBy("lang", "lang_pred").agg(F.count("*").alias("n_docs")))


def q_quality_scores(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", tx.quality_score_col(F.col("text")).alias("quality"))


def q_repetition_scores(spark, sf_dir):
    """Gopher-style within-doc repetition gates (Rae et al. 2021 App. A):
    duplicate-trigram coverage + most-common-word share, both pure JVM
    HOF expressions (functions/text.py)."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        tx.dup_ngram_frac_col(F.col("text"), 3).alias("dup_trigram_frac"),
        tx.top_word_frac_col(F.col("text")).alias("top_word_frac"))


def _docs_pii(spark, sf_dir):
    """Deterministic PII-bearing corpus derived from the documents table:
    a 1-in-5 doc_id slice with an email, a phone number and an IPv4
    spliced mid-text (all parameterized by doc_id so every row differs).
    Mirrored exactly by :func:`_docs_pii_sql`."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    did = F.col("doc_id").cast("string")
    return (d.filter(F.col("doc_id") % 5 == 0)
            .select("doc_id",
                    F.concat(
                        F.substring(F.col("text"), 1, 30),
                        F.lit(" contact user"), did,
                        F.lit("@example.com or +1 (555) 123-"),
                        F.lpad((F.col("doc_id") % 10000).cast("string"),
                               4, "0"),
                        F.lit(" at 10."),
                        (F.col("doc_id") % 256).cast("string"),
                        F.lit(".0."),
                        ((F.col("doc_id") * 7) % 256).cast("string"),
                        F.lit(" "),
                        F.expr("substring(text, 31)")).alias("text")))


def _docs_pii_sql() -> str:
    return (
        "SELECT doc_id, substr(text, 1, 30) || ' contact user' || "
        "cast(doc_id as varchar) || '@example.com or +1 (555) 123-' || "
        "lpad(cast(doc_id % 10000 as varchar), 4, '0') || ' at 10.' || "
        "cast(doc_id % 256 as varchar) || '.0.' || "
        "cast((doc_id * 7) % 256 as varchar) || ' ' || substr(text, 31) "
        "AS text FROM documents WHERE doc_id % 5 = 0")


def q_pii_scrub(spark, sf_dir):
    """PII redaction (email/IPv4/phone -> placeholder tokens) as a pure
    JVM regexp_replace chain, plus per-pattern match counts on the
    original text — the identical Java-regex/RE2-subset patterns run in
    DuckDB, so the value-hash oracle proves byte-identical scrubbing."""
    d = _docs_pii(spark, sf_dir)
    counts = tx.pii_count_cols(F.col("text"))
    return d.select("doc_id",
                    tx.pii_scrub_col(F.col("text")).alias("scrubbed"),
                    *[v.alias(k) for k, v in counts.items()])


def _docs_para(spark, sf_dir):
    """Paragraphised corpus: a 1-in-3 doc_id slice split into three
    paragraphs, the middle one a boilerplate string shared by every
    doc_id with the same value mod 7 (so paragraph dedup keeps exactly
    one copy per residue).  Mirrored by :func:`_docs_para_sql`."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return (d.filter(F.col("doc_id") % 3 == 0)
            .select("doc_id",
                    F.concat_ws(
                        "\n\n",
                        F.substring(F.col("text"), 1, 60),
                        F.concat(F.lit("shared boilerplate paragraph "),
                                 (F.col("doc_id") % 7).cast("string")),
                        F.expr("substring(text, 61)")).alias("text")))


def _docs_para_sql() -> str:
    return ("SELECT doc_id, substr(text, 1, 60) || chr(10) || chr(10) || "
            "'shared boilerplate paragraph ' || cast(doc_id % 7 as varchar)"
            " || chr(10) || chr(10) || substr(text, 61) AS text "
            "FROM documents WHERE doc_id % 3 = 0")


def q_paragraph_dedup(spark, sf_dir):
    """C4-style global paragraph dedup: every paragraph that repeats an
    earlier (smaller (doc_id, pos)) occurrence anywhere in the corpus is
    removed and the doc text rebuilt; fully-duplicated docs disappear.
    Oracle: the same winner-per-md5-fingerprint recipe in DuckDB SQL
    (curation.paragraph_dedup_sql)."""
    return curation.paragraph_dedup(_docs_para(spark, sf_dir))


def q_domain_cap(spark, sf_dir):
    """Per-source cap — at most 5 docs per source, first-5 by doc_id,
    via the skew-aware two-phase window (salted local top-cap, then
    global rank).  Oracle: the naive single row_number window, which the
    two-phase plan is row-identical to by construction."""
    d = _t(spark, sf_dir, "documents")
    return (curation.capped_by_key(d, "source", "doc_id", cap=5)
            .select("doc_id", "source", "rank_in_key"))


# per-stratum sampling rates for q_det_sample / its oracle (module level
# so the Spark thresholds and the SQL literals come from the same dict)
_SAMPLE_RATES = {"en": 0.25, "zh": 0.6}
_SAMPLE_BASE_RATE = 0.1


def q_det_sample(spark, sf_dir):
    """Deterministic stratified sampling: keep iff
    knuth_hash(doc_id) < rate(lang)·2^31 — reproducible across re-runs,
    resumes and cluster sizes (unlike df.sample's RNG), pure narrow
    filter pushed into the scan.  Oracle: the identical integer
    arithmetic as a DuckDB WHERE clause."""
    d = _t(spark, sf_dir, "documents")
    return (curation.deterministic_sample(
        d, rate=_SAMPLE_BASE_RATE, strata_col="lang", rates=_SAMPLE_RATES)
        .select("doc_id", "lang"))


def _docs_full(spark, sf_dir):
    """Corpus for the full composed pipeline: every doc restructured into
    four paragraphs — lead text, a boilerplate paragraph shared per
    doc_id%7 residue, a PII sentence (email + phone parameterized by
    doc_id, so UNIQUE before scrubbing but IDENTICAL after — the scrub ->
    paragraph-dedup composition collapses them), and the tail text.
    lang/source survive for the gate/cap/sample stages.  Mirrored by
    :func:`_docs_full_sql`."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    return d.select(
        "doc_id", "lang", "source",
        F.concat_ws(
            "\n\n",
            F.substring(F.col("text"), 1, 60),
            F.concat(F.lit("shared boilerplate paragraph "),
                     (F.col("doc_id") % 7).cast("string")),
            F.concat(F.lit("contact user"), did,
                     F.lit("@example.com or +1 (555) 123-"),
                     F.lpad((F.col("doc_id") % 10000).cast("string"),
                            4, "0")),
            F.expr("substring(text, 61)")).alias("text"))


def _docs_full_sql() -> str:
    sep = "chr(10) || chr(10)"
    return (
        f"SELECT doc_id, lang, source, "
        f"substr(text, 1, 60) || {sep} || "
        f"'shared boilerplate paragraph ' || cast(doc_id % 7 as varchar) "
        f"|| {sep} || 'contact user' || cast(doc_id as varchar) || "
        f"'@example.com or +1 (555) 123-' || "
        f"lpad(cast(doc_id % 10000 as varchar), 4, '0') || {sep} || "
        f"substr(text, 61) AS text FROM documents")


_CURATE_FULL_LANGS = ("en", "de", "zh")
_CURATE_FULL_MINQ = 0.15
_CURATE_FULL_CAP = 15
_CURATE_FULL_RATE = 0.7
_CURATE_FULL_RATES = {"en": 0.5}


def q_curate_full(spark, sf_dir):
    """The WIDE composed curation pipeline — every optional stage of
    curate_pages except MinHash (which q_curate_keep oracles): lang
    allowlist -> PII scrub -> paragraph dedup (the scrubbed PII
    sentences, unique before redaction, collapse to one survivor here)
    -> quality gate -> exact dedup -> per-source cap -> stratified
    deterministic sample.  Oracle: the identical stage chain as nested
    DuckDB CTEs."""
    kept = curate_pages(
        _docs_full(spark, sf_dir),
        langs=list(_CURATE_FULL_LANGS), scrub_pii=True,
        paragraph_sep="\n\n", min_quality=_CURATE_FULL_MINQ,
        near_threshold=None, domain_cap=("source", _CURATE_FULL_CAP),
        sample_rate=_CURATE_FULL_RATE, sample_rates=_CURATE_FULL_RATES)
    return (kept.select("doc_id", "lang", "source", "quality",
                        "token_count").orderBy("doc_id"))


def _curate_full_oracle() -> str:
    langs = ", ".join(f"'{x}'" for x in _CURATE_FULL_LANGS)
    pd_sql = curation.paragraph_dedup_sql(
        "scrubbed", "text", extra_cols=", t.lang, t.source")
    tok = ("cast(case when length(trim(text)) = 0 then 0 else "
           "len(regexp_split_to_array(trim(text), '\\s+')) end as bigint)")
    samp = curation.deterministic_sample_sql(
        "doc_id", rate=_CURATE_FULL_RATE, strata_col="lang",
        rates=_CURATE_FULL_RATES)
    return f"""
WITH langf AS (
    SELECT * FROM ({_docs_full_sql()}) WHERE lang IN ({langs})
), scrubbed AS (
    SELECT doc_id, lang, source, {tx.pii_scrub_sql('text')} AS text
    FROM langf
), pd AS (
    SELECT * FROM ({pd_sql})
), qual AS (
    SELECT * FROM (
        SELECT *, {tx.quality_score_sql('text')} AS quality FROM pd)
    WHERE quality >= {_CURATE_FULL_MINQ}
), ex AS (
    SELECT q.* FROM qual q
    JOIN (SELECT md5(text) AS fp, min(doc_id) AS keep_id
          FROM qual GROUP BY 1) w ON q.doc_id = w.keep_id
), capped AS (
    SELECT * FROM ex
    QUALIFY row_number() OVER (PARTITION BY source ORDER BY doc_id)
            <= {_CURATE_FULL_CAP}
)
SELECT doc_id, lang, source, quality, {tok} AS token_count
FROM capped WHERE {samp} ORDER BY doc_id
"""


def q_winnow_overlap(spark, sf_dir):
    """Winnowing-fingerprint substring-overlap candidates (Schleimer et
    al. SIGMOD'03) — detects a long passage copied between otherwise-
    unrelated docs, which whole-doc MinHash misses by design.  Oracle:
    the identical token-FNV -> k-gram-combination -> window-min ->
    distinct -> co-occurrence-count chain in DuckDB."""
    d = _t(spark, sf_dir, "documents")
    return dedup.winnow_overlap_pairs(d, k=3, w=8, min_shared=2)


def _winnow_oracle(w: int = 8, min_shared: int = 2) -> str:
    c1, c2, c3 = sim._SHINGLE_C
    fnv = _fnv_sql("s")
    return f"""
WITH toks AS ({_TOKS_SQL}),
th AS (
  SELECT doc_id, list_transform(w,
    s -> cast({fnv} % {sim.M31} AS BIGINT)) AS t FROM toks),
g AS (
  SELECT doc_id, list_transform(range(1, greatest(len(t) - 2, 0) + 1),
    i -> (t[i] * {c1} + t[i+1] * {c2} + t[i+2] * {c3}) % {sim.M31}) AS gh
  FROM th),
fps AS (
  SELECT DISTINCT doc_id,
    unnest(list_transform(range(1, len(gh) - {w} + 2),
                          i -> list_min(gh[i:i+{w - 1}]))) AS fp
  FROM g WHERE len(gh) >= {w})
SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared_fps
FROM fps a JOIN fps b USING (fp) WHERE a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING count(*) >= {min_shared}"""


_URL_TLDS = ("com", "org", "co.uk", "com.au", "net")


def _docs_urls(spark, sf_dir):
    """Deterministic URL corpus derived from documents: scheme, optional
    subdomain, site, a TLD cycled over 1- and 2-level suffixes, and a
    path of doc_id%4 segments.  Mirrored by :func:`_docs_urls_sql`."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    tlds = F.array(*[F.lit(t) for t in _URL_TLDS])
    tld = F.element_at(tlds, (F.col("doc_id") % len(_URL_TLDS) + 1).cast("int"))
    sub = F.when(F.col("doc_id") % 3 == 0, F.lit("www."))\
        .when(F.col("doc_id") % 3 == 1, F.lit("cdn.static."))\
        .otherwise(F.lit(""))
    path = F.when(F.col("doc_id") % 4 == 0, F.lit(""))\
        .when(F.col("doc_id") % 4 == 1, F.lit("/a"))\
        .when(F.col("doc_id") % 4 == 2, F.lit("/a/b"))\
        .otherwise(F.lit("/a/b/c"))
    return d.select(
        "doc_id",
        F.concat(F.lit("https://"), sub, F.lit("site"),
                 (F.col("doc_id") % 40).cast("string"), F.lit("."), tld,
                 path, F.lit("?ref=x")).alias("url"))


def _docs_urls_sql() -> str:
    n = len(_URL_TLDS)
    tlds = "[" + ", ".join(f"'{t}'" for t in _URL_TLDS) + "]"
    return (
        f"SELECT doc_id, 'https://' || "
        f"(CASE WHEN doc_id % 3 = 0 THEN 'www.' "
        f"WHEN doc_id % 3 = 1 THEN 'cdn.static.' ELSE '' END) || "
        f"'site' || cast(doc_id % 40 as varchar) || '.' || "
        f"{tlds}[cast(doc_id % {n} as int) + 1] || "
        f"(CASE WHEN doc_id % 4 = 0 THEN '' WHEN doc_id % 4 = 1 THEN '/a' "
        f"WHEN doc_id % 4 = 2 THEN '/a/b' ELSE '/a/b/c' END) || '?ref=x' "
        f"AS url FROM documents")


def _docs_urls_messy(spark, sf_dir):
    """Deterministic MESSY URL corpus — the same logical pages spelled the
    way a crawl sees them: mixed-case scheme/host, default and non-default
    ports, tracking params, shuffled param order, trailing slashes,
    fragments.  Mirrored bit-for-bit by :func:`_docs_urls_messy_sql`."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    scheme = F.when(i % 11 == 0, F.lit("HTTPS"))\
        .when(i % 7 == 0, F.lit("http")).otherwise(F.lit("https"))
    base = F.concat(F.lit("www.site"), (i % 40).cast("string"), F.lit(".com"))
    host = F.when(i % 5 == 0, F.upper(base)).otherwise(base)
    port = F.when(i % 13 == 0, F.lit(":8080"))\
        .when((i % 6 == 0) & (i % 7 == 0), F.lit(":80"))\
        .when(i % 6 == 0, F.lit(":443")).otherwise(F.lit(""))
    path = F.when(i % 4 == 0, F.lit("")).when(i % 4 == 1, F.lit("/a"))\
        .when(i % 4 == 2, F.lit("/a/b")).otherwise(F.lit("/a/b/c"))
    slash = F.when(i % 3 == 0, F.lit("/")).otherwise(F.lit(""))
    query = F.when(i % 5 == 1, F.lit("?b=2&a=1"))\
        .when(i % 5 == 2, F.lit("?utm_source=tw&a=1"))\
        .when(i % 5 == 3, F.lit("?a=1&utm_campaign=x&b=2"))\
        .when(i % 5 == 4, F.lit("?utm_medium=email")).otherwise(F.lit(""))
    frag = F.when(i % 4 == 0, F.lit("#frag")).otherwise(F.lit(""))
    return d.select("doc_id", F.concat(
        scheme, F.lit("://"), host, port, path, slash, query, frag
    ).alias("url"))


def _docs_urls_messy_sql() -> str:
    return (
        "SELECT doc_id, "
        "(CASE WHEN doc_id % 11 = 0 THEN 'HTTPS' "
        " WHEN doc_id % 7 = 0 THEN 'http' ELSE 'https' END) || '://' || "
        "(CASE WHEN doc_id % 5 = 0 "
        " THEN upper('www.site' || cast(doc_id % 40 as varchar) || '.com') "
        " ELSE 'www.site' || cast(doc_id % 40 as varchar) || '.com' END) || "
        "(CASE WHEN doc_id % 13 = 0 THEN ':8080' "
        " WHEN doc_id % 6 = 0 AND doc_id % 7 = 0 THEN ':80' "
        " WHEN doc_id % 6 = 0 THEN ':443' ELSE '' END) || "
        "(CASE WHEN doc_id % 4 = 0 THEN '' WHEN doc_id % 4 = 1 THEN '/a' "
        " WHEN doc_id % 4 = 2 THEN '/a/b' ELSE '/a/b/c' END) || "
        "(CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END) || "
        "(CASE WHEN doc_id % 5 = 1 THEN '?b=2&a=1' "
        " WHEN doc_id % 5 = 2 THEN '?utm_source=tw&a=1' "
        " WHEN doc_id % 5 = 3 THEN '?a=1&utm_campaign=x&b=2' "
        " WHEN doc_id % 5 = 4 THEN '?utm_medium=email' ELSE '' END) || "
        "(CASE WHEN doc_id % 4 = 0 THEN '#frag' ELSE '' END) AS url "
        "FROM documents")


def _docs_html(spark, sf_dir):
    """Deterministic HTML wrapping of the documents corpus — scripts with
    '<'/'&&'/fake close tags, styles, comments hiding markup, entities,
    multi-line layout — mirrored bit-for-bit by :func:`_docs_html_sql`."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    i = F.col("doc_id")
    nl = F.lit("\n")
    title = F.concat(F.lit("Page "), i.cast("string"),
                     F.when(i % 3 == 0, F.lit(" - news")).otherwise(F.lit("")))
    script = F.when(i % 2 == 0, F.lit(
        '<script type="text/javascript">if (a<b && c>d) { s="</div>"; }'
        '</script>')).otherwise(F.lit(""))
    style = F.when(i % 4 == 1,
                   F.lit("<style>p > a {color:#333}</style>")) \
        .otherwise(F.lit(""))
    comment = F.when(i % 5 == 2,
                     F.lit("<!-- hidden <p>not text</p>\n second line -->")) \
        .otherwise(F.lit(""))
    body = F.concat(F.lit('<h1 class="t">'), title, F.lit("</h1>"), nl,
                    F.lit("<p>"), F.substring(F.col("text"), 1, 120),
                    F.lit(" &amp; more&nbsp;&lt;end&gt;</p>"))
    return d.select("doc_id", F.concat(
        F.lit("<html><head><title>"), nl, F.lit("  "), title,
        F.lit("</title>"), script, style, F.lit("</head>"), nl,
        comment, F.lit("<body>"), body, F.lit("</body></html>")
    ).alias("html"))


_DOCS_HTML_SQL = (
    "SELECT doc_id, "
    "'<html><head><title>' || chr(10) || '  ' || "
    "('Page ' || cast(doc_id as varchar) || "
    " (CASE WHEN doc_id % 3 = 0 THEN ' - news' ELSE '' END)) || "
    "'</title>' || "
    "(CASE WHEN doc_id % 2 = 0 THEN "
    "'<script type=\"text/javascript\">if (a<b && c>d) { s=\"</div>\"; }"
    "</script>' ELSE '' END) || "
    "(CASE WHEN doc_id % 4 = 1 THEN '<style>p > a {color:#333}</style>' "
    " ELSE '' END) || '</head>' || chr(10) || "
    "(CASE WHEN doc_id % 5 = 2 THEN "
    "'<!-- hidden <p>not text</p>' || chr(10) || ' second line -->' "
    " ELSE '' END) || "
    "'<body>' || '<h1 class=\"t\">' || "
    "('Page ' || cast(doc_id as varchar) || "
    " (CASE WHEN doc_id % 3 = 0 THEN ' - news' ELSE '' END)) || "
    "'</h1>' || chr(10) || '<p>' || substr(text, 1, 120) || "
    "' &amp; more&nbsp;&lt;end&gt;</p>' || '</body></html>' AS html "
    "FROM documents")


def q_chunk_docs(spark, sf_dir):
    """RAG/pretraining chunking (operators/curation.chunk_documents):
    overlapping token windows (width 40, stride 30), one row per chunk,
    ids traceable to the source doc."""
    d = _t(spark, sf_dir, "documents")
    return curation.chunk_documents(d, width=40, stride=30)


def q_bloom_join(spark, sf_dir):
    """Bloom-pre-reduced selective join (operators/blooms.py): orders
    are filtered in the SCAN stage by the high-balance customers' bloom
    words (one plan literal) before the real join removes the rare false
    positives — exact by construction, so the oracle is the plain join."""
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_totalprice")
    c = (_t(spark, sf_dir, "customer")
         .filter(F.col("c_acctbal") > 9000)
         .select(F.col("c_custkey").alias("custkey"), "c_mktsegment"))
    j = blooms.bloom_filtered_join(o, c, "custkey")
    return (j.groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.round(F.sum("o_totalprice"), 4).alias("revenue")))


def q_nfc_text(spark, sf_dir):
    """Unicode NFC normalization (functions/text.py make_normalize_udf):
    decomposed combining marks, Hangul jamo, and already-composed forms
    collapse to NFC before hashing/dedup.  Suffixes are built from
    chr()/chr codes in BOTH engines so the raw bytes really are
    decomposed on the way in; the oracle normalizes with DuckDB's
    nfc_normalize (utf8proc) — verified to agree with Python's
    unicodedata on these forms."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    i = F.col("doc_id")
    # explicit chr() codes — a combining mark pasted into source could
    # be silently recomposed by an editor; chr(769) cannot
    suffix = (F.when(i % 4 == 0, F.lit("e" + chr(769)))
              .when(i % 4 == 1, F.lit(chr(4352) + chr(4449)))
              .when(i % 4 == 2, F.lit("A" + chr(778)))
              .otherwise(F.lit(chr(233))))
    raw = F.concat(F.substring(F.col("text"), 1, 40), F.lit(" "), suffix)
    norm = tx.nfc_normalize_col(raw)
    return d.select(
        "doc_id", norm.alias("text_nfc"),
        (F.length(raw) - F.length(norm)).cast("bigint").alias("chars_saved"))


def q_interpolate_daily(spark, sf_dir):
    """Time-series gap filling (operators/aggregates.interpolate_gaps):
    per-user daily grid from first to last event, values linearly
    interpolated between surrounding observations — the temporal twin of
    the W4 spatial regrid.  Two window passes, no joins, no float sums."""
    ev = _t(spark, sf_dir, "events")
    return aggregates.interpolate_gaps(ev, step="1 day")


def q_corpus_profile(spark, sf_dir):
    """Corpus profiling: per-source EXACT token-count percentiles
    (Spark `percentile` and DuckDB `quantile_cont` share the linear-
    interpolation definition) + doc counts and mean quality."""
    d = _t(spark, sf_dir, "documents")
    t = F.trim(F.col("text"))
    tc = F.when(F.length(t) == 0, F.lit(0)) \
        .otherwise(F.size(F.split(t, r"\s+"))).cast("bigint")
    d = d.withColumn("tc", tc)
    pct = F.percentile("tc", F.lit([0.25, 0.5, 0.75, 0.95]))
    # avg over BIGINTs (exact integer sum, order-free) — an avg over
    # doubles would be float-summation-order dependent and break parity
    return (d.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.round(pct[0], 6).alias("tc_p25"),
                 F.round(pct[1], 6).alias("tc_p50"),
                 F.round(pct[2], 6).alias("tc_p75"),
                 F.round(pct[3], 6).alias("tc_p95"),
                 F.round(F.avg("n_chars"), 6).alias("avg_chars")))


def q_pagerank(spark, sf_dir):
    """PageRank over a deterministic synthetic link graph (docs link to
    (id*7 + j*131) % 500 for j = 1..id%4; id%4==0 docs are dangling) —
    operators/graph.py, deterministic mode: per-dst and dangling sums
    fold in sorted order so the unrolled-CTE DuckDB oracle replays all
    10 iterations bit-identically."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    k = F.col("doc_id") % 4
    edges = (d.select(F.col("doc_id").alias("src"),
                      F.explode(F.when(k >= 1, F.sequence(F.lit(1), k))
                                .otherwise(F.array().cast("array<bigint>")))
                      .alias("j"))
             .select("src", ((F.col("src") * 7 + F.col("j") * 131) % 500)
                     .alias("dst")))
    out = graph.pagerank(edges, n_iter=10, deterministic=True)
    return out.select("node", F.round("rank", 9).alias("rank"))


def q_lm_perplexity(spark, sf_dir):
    """CCNet-style quality signal: per-doc perplexity under a hashed
    bigram LM fit on the corpus (operators/curation.py lm_*).  The
    oracle refits both count tables and rescores bit-identically."""
    d = _t(spark, sf_dir, "documents")
    c1, c2 = curation.lm_fit(d)
    return d.select("doc_id",
                    curation.lm_perplexity_col(F.col("text"), c1, c2)
                    .alias("perplexity"))


def q_dsir_select(spark, sf_dir):
    """DSIR data selection (operators/curation.py): fit target/raw
    hashed-unigram models (target = src0 docs), score ln-likelihood
    ratios via the plan-literal fold, Gumbel-top-k resample 100 docs.
    The oracle refits and reselects the exact row set in DuckDB."""
    d = _t(spark, sf_dir, "documents")
    target = d.filter(F.col("source") == "src0")
    lr = curation.dsir_fit(target, d, n_features=4096)
    return curation.dsir_select(d, lr, k=100)


def q_html_extract(spark, sf_dir):
    """WET-style HTML -> text extraction (functions/text.py html_strip):
    drop script/style/comments, strip tags, decode entities, collapse
    whitespace — one codegen regexp_replace chain, plus the <title>."""
    h = _docs_html(spark, sf_dir)
    stripped = tx.html_strip_col(F.col("html"))
    return h.select(
        "doc_id", tx.html_title_col(F.col("html")).alias("title"),
        stripped.alias("page_text"),
        F.size(F.split(stripped, r"\s+")).cast("bigint").alias("n_tokens"))


def _docs_links(spark, sf_dir):
    """Deterministic crawl slice (url, html) with hyperlinks — absolute
    (with tracking params), root-relative, protocol-relative, plus
    dropped shapes (fragment, javascript:, directory-relative,
    single-quoted href) — mirrored bit-for-bit by ``_DOCS_LINKS_SQL``."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    s = i.cast("string")
    url = F.concat(F.lit("https://WWW.Site"), (i % 23).cast("string"),
                   F.lit(".example"), (i % 5).cast("string"),
                   F.lit(".com:443/p/"), s)
    tgt = (i * 7 + 1) % 1000
    a_abs = F.concat(
        F.lit('<a href="https://site'), (tgt % 23).cast("string"),
        F.lit(".example"), (tgt % 5).cast("string"),
        F.lit(".com/p/"), tgt.cast("string"),
        F.lit('?utm_source=feed&b=2&a=1">story</a>'))
    a_rel = F.concat(F.lit('<a class="nav" href="/about/'),
                     (i % 11).cast("string"), F.lit('">about us</a>'))
    a_proto = F.when(i % 3 == 0, F.concat(
        F.lit('<a href="//cdn.assets'), (i % 4).cast("string"),
        F.lit('.net/lib">cdn</a>'))).otherwise(F.lit(""))
    a_drop = F.concat(
        F.lit('<a href="#top">top</a><a href="javascript:void(0)">x</a>'),
        F.when(i % 2 == 0, F.lit('<a href="rel/path.html">rel</a>'))
        .otherwise(F.lit("")),
        F.lit("<a href='https://singlequoted.example9.com/'>sq</a>"))
    html = F.concat(F.lit("<html><body><p>doc "), s, F.lit("</p>\n"),
                    a_abs, F.lit("\n"), a_rel, a_proto, a_drop,
                    F.lit("</body></html>"))
    return d.select("doc_id", url.alias("url"), html.alias("html"))


_DOCS_LINKS_SQL = (
    "SELECT doc_id, "
    "'https://WWW.Site' || cast(doc_id % 23 as varchar) || '.example' || "
    "cast(doc_id % 5 as varchar) || '.com:443/p/' || "
    "cast(doc_id as varchar) AS url, "
    "'<html><body><p>doc ' || cast(doc_id as varchar) || '</p>' || chr(10) "
    "|| '<a href=\"https://site' || cast(((doc_id*7+1) % 1000) % 23 as varchar) "
    "|| '.example' || cast(((doc_id*7+1) % 1000) % 5 as varchar) "
    "|| '.com/p/' || cast((doc_id*7+1) % 1000 as varchar) "
    "|| '?utm_source=feed&b=2&a=1\">story</a>' || chr(10) "
    "|| '<a class=\"nav\" href=\"/about/' || cast(doc_id % 11 as varchar) "
    "|| '\">about us</a>' "
    "|| (CASE WHEN doc_id % 3 = 0 THEN '<a href=\"//cdn.assets' || "
    "cast(doc_id % 4 as varchar) || '.net/lib\">cdn</a>' ELSE '' END) "
    "|| '<a href=\"#top\">top</a><a href=\"javascript:void(0)\">x</a>' "
    "|| (CASE WHEN doc_id % 2 = 0 THEN '<a href=\"rel/path.html\">rel</a>' "
    "ELSE '' END) "
    "|| '<a href=''https://singlequoted.example9.com/''>sq</a>' "
    "|| '</body></html>' AS html "
    "FROM documents")


def q_page_links(spark, sf_dir):
    """Per-link rows from raw HTML (operators/links.page_links):
    double-quoted hrefs extracted by one codegen regex, resolved against
    the page URL (absolute / protocol-relative / root-relative;
    fragments, javascript:/mailto: and directory-relative drop), then
    canonicalized.  No UDFs anywhere — the 10^12-page extraction path
    stays in whole-stage codegen."""
    return links.page_links(_docs_links(spark, sf_dir))


def q_link_graph(spark, sf_dir):
    """Registered-domain link graph (operators/links.link_graph):
    (src, dst, weight) edges; self-domain navigation drops out, the only
    shuffle is the partial-agg'd (src, dst) groupBy."""
    return links.link_graph(_docs_links(spark, sf_dir), grain="domain")


def q_link_pagerank(spark, sf_dir):
    """End-to-end web-graph authority: HTML -> link extraction ->
    domain edges -> PageRank (deterministic mode), the full crawl-side
    pipeline in one plan.  The oracle replays extraction AND all 6
    power iterations bit-identically (sorted folds both sides)."""
    edges = links.link_graph(_docs_links(spark, sf_dir), grain="domain")
    out = graph.pagerank(edges.select("src", "dst"), n_iter=6,
                         deterministic=True)
    return out.select("node", F.round("rank", 9).alias("rank"))


def _docs_crawl(spark, sf_dir):
    """Deterministic crawl-policy corpus: pages with <meta name="robots">
    in both attribute orders (plus uppercase and 'none'-shorthand
    variants and a viewport decoy) and <link rel="canonical"> in both
    orders (absolute-messy and root-relative hrefs, behind a stylesheet
    decoy).  Mirrored bit-for-bit by ``_DOCS_CRAWL_SQL``."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    i = F.col("doc_id")
    url = F.concat(F.lit("https://site"), (i % 5).cast("string"),
                   F.lit(".example.com/p/"), i.cast("string"))
    m = i % 8
    robots = (F.when(m == 0, F.lit(
        '<META NAME="robots" CONTENT="NOINDEX, FOLLOW">'))
        .when(m == 4, F.lit('<meta name="robots" content="noindex, follow">'))
        .when((m == 1) | (m == 5),
              F.lit('<meta content="INDEX, NoFollow" name="robots">'))
        .when((m == 2) | (m == 6),
              F.lit('<meta name="viewport" content="width=device-width">'))
        .when(m == 7, F.lit('<meta name="robots" content=" none ">'))
        .otherwise(F.lit("")))
    grp = (i - i % 6).cast("string")
    canon = (F.when(i % 3 == 0, F.concat(
        F.lit('<link rel="canonical" href="HTTPS://Site'),
        (i % 5).cast("string"), F.lit(".Example.COM:443/p/"), grp,
        F.lit('?utm_source=feed">')))
        .when(i % 3 == 1, F.concat(
            F.lit('<link href="/p/'), grp, F.lit('" rel="canonical">')))
        .otherwise(F.lit("")))
    html = F.concat(
        F.lit("<html><head>"), robots,
        F.lit('<link rel="stylesheet" href="/css/m.css">'), canon,
        F.lit("</head><body><p>"), F.substring(F.col("text"), 1, 40),
        F.lit("</p></body></html>"))
    return d.select("doc_id", url.alias("url"), html.alias("html"))


_DOCS_CRAWL_SQL = (
    "SELECT doc_id, "
    "'https://site' || cast(doc_id % 5 as varchar) || '.example.com/p/' || "
    "cast(doc_id as varchar) AS url, "
    "'<html><head>' || "
    "(CASE doc_id % 8 "
    "WHEN 0 THEN '<META NAME=\"robots\" CONTENT=\"NOINDEX, FOLLOW\">' "
    "WHEN 4 THEN '<meta name=\"robots\" content=\"noindex, follow\">' "
    "WHEN 1 THEN '<meta content=\"INDEX, NoFollow\" name=\"robots\">' "
    "WHEN 5 THEN '<meta content=\"INDEX, NoFollow\" name=\"robots\">' "
    "WHEN 2 THEN '<meta name=\"viewport\" content=\"width=device-width\">' "
    "WHEN 6 THEN '<meta name=\"viewport\" content=\"width=device-width\">' "
    "WHEN 7 THEN '<meta name=\"robots\" content=\" none \">' "
    "ELSE '' END) || "
    "'<link rel=\"stylesheet\" href=\"/css/m.css\">' || "
    "(CASE doc_id % 3 "
    "WHEN 0 THEN '<link rel=\"canonical\" href=\"HTTPS://Site' || "
    "cast(doc_id % 5 as varchar) || '.Example.COM:443/p/' || "
    "cast(doc_id - doc_id % 6 as varchar) || '?utm_source=feed\">' "
    "WHEN 1 THEN '<link href=\"/p/' || "
    "cast(doc_id - doc_id % 6 as varchar) || '\" rel=\"canonical\">' "
    "ELSE '' END) || "
    "'</head><body><p>' || substr(text, 1, 40) || '</p></body></html>'"
    " AS html "
    "FROM documents")


def _docs_main(spark, sf_dir):
    """Deterministic block-structured page corpus for the main-content
    oracle: link-dominated nav + footer, a real paragraph, a too-short
    paragraph, a content div with one inline link, and (even ids) a
    script whose body hides a fake '</div>'.  Mirrored bit-for-bit by
    ``_DOCS_MAIN_SQL``."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    i = F.col("doc_id")
    w = F.split(F.trim(F.col("text")), " ")
    script = F.when(i % 2 == 0, F.lit(
        "<script>var nav = '</div>'; track();</script>")).otherwise(F.lit(""))
    html = F.concat(
        F.lit("<html><head><title>Page</title>"), script,
        F.lit('</head><body><div class="nav"><a href="/">Home</a> '
              '<a href="/arch">Archive</a> <a href="/about">About</a></div>'),
        F.lit("<p>"), F.concat_ws(" ", F.slice(w, 1, 15)), F.lit(".</p>"),
        F.lit("<p>"), F.concat_ws(" ", F.slice(w, 16, 2)), F.lit("</p>"),
        F.lit("<div>"), F.concat_ws(" ", F.slice(w, 5, 12)),
        F.lit(' <a href="/rel">related story</a> '),
        F.concat_ws(" ", F.slice(w, 3, 4)), F.lit("</div>"),
        F.lit('<div class="footer"><a href="/p">Privacy</a> &amp; '
              '<a href="/t">Terms</a></div></body></html>'))
    return d.select("doc_id", html.alias("html"))


_DOCS_MAIN_SQL = (
    "SELECT doc_id, "
    "'<html><head><title>Page</title>' || "
    "(CASE WHEN doc_id % 2 = 0 THEN "
    "'<script>var nav = ''</div>''; track();</script>' ELSE '' END) || "
    "'</head><body><div class=\"nav\"><a href=\"/\">Home</a> "
    "<a href=\"/arch\">Archive</a> <a href=\"/about\">About</a></div>' || "
    "'<p>' || coalesce(array_to_string(w[1:15], ' '), '') || '.</p>' || "
    "'<p>' || coalesce(array_to_string(w[16:17], ' '), '') || '</p>' || "
    "'<div>' || coalesce(array_to_string(w[5:16], ' '), '') || "
    "' <a href=\"/rel\">related story</a> ' || "
    "coalesce(array_to_string(w[3:6], ' '), '') || '</div>' || "
    "'<div class=\"footer\"><a href=\"/p\">Privacy</a> &amp; "
    "<a href=\"/t\">Terms</a></div></body></html>' AS html "
    "FROM (SELECT doc_id, str_split(trim(text), ' ') AS w FROM documents)")


def q_main_content(spark, sf_dir):
    """Boilerplate removal (functions/text.main_content_col): Arc90 /
    jusText block heuristic — script/style/comment spans dropped
    document-wide, blocks kept iff >= 25 visible chars AND integer link
    density 3*anchor_chars <= text_chars.  Pure codegen HOFs, zero
    shuffle, zero Python — a map-only stage on the page scan."""
    h = _docs_main(spark, sf_dir)
    return h.select("doc_id",
                    tx.main_content_col(F.col("html")).alias("text"))


def q_crawl_policies(spark, sf_dir):
    """Per-page crawl policy (operators/links.crawl_policies): robots
    directives (both attribute orders, 'none' shorthand) + canonical
    target resolved and canonicalized — a pure map stage, zero shuffle,
    zero Python; at 100 TB it rides the page-scan partitioning."""
    return links.crawl_policies(_docs_crawl(spark, sf_dir))


def q_canonical_collapse(spark, sf_dir):
    """Canonical-declared duplicate collapse (operators/links.
    canonical_collapse): indexable pages grouped on the effective
    canonical target — ONE shuffle with constant per-key agg state, so
    a site-wide canonical hot key is a partial-agg'd counter, not a
    memory risk."""
    return links.canonical_collapse(_docs_crawl(spark, sf_dir))


def q_anchor_index(spark, sf_dir):
    """Anchor-text index (operators/links.anchor_index): anchor terms
    aggregated per canonical link target — one extraction scan, one
    (target, term) groupBy whose map-side partial agg absorbs hub-key
    skew.  Self-links dropped (a page's navigation can't vote for
    itself)."""
    return links.anchor_index(_docs_links(spark, sf_dir))


def q_kwic(spark, sf_dir):
    """Keyword-in-context snippets (functions/text.kwic_col): 3 tokens
    of context around the first 'spark' hit per doc — the search-result
    presentation tier; pure codegen, no shuffle."""
    d = _t(spark, sf_dir, "documents")
    snip = tx.kwic_col(F.col("text"), "spark", window=3)
    return (d.select("doc_id", snip.alias("snippet"))
            .filter(F.col("snippet") != ""))


def q_readability(spark, sf_dir):
    """Flesch-Kincaid readability (functions/text.readability_cols):
    integer word/sentence/vowel-group counts + the grade as a fixed
    sequence of exact-ratio double ops — oracle-identical."""
    d = _t(spark, sf_dir, "documents")
    cols = tx.readability_cols(F.col("text"))
    return d.select("doc_id", *[v.alias(k) for k, v in cols.items()])


def q_crawl_diff(spark, sf_dir):
    """Snapshot-to-snapshot crawl diff (operators/links.crawl_diff):
    added/gone/changed/unchanged per canonical URL — one full-outer
    join on md5-fingerprinted sides; the recrawl scheduler's input."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    i = F.col("doc_id")
    url = F.concat(F.lit("https://site"), (i % 5).cast("string"),
                   F.lit(".example.com/p/"), i.cast("string"))
    old = d.filter(i % 9 != 0).select(url.alias("url"), "text")
    new = d.filter(i % 7 != 3).select(
        url.alias("url"),
        F.when(i % 5 == 2, F.concat(F.col("text"), F.lit(" updated")))
        .otherwise(F.col("text")).alias("text"))
    return links.crawl_diff(old, new)


_CRAWL_DIFF_URL = ("'https://site' || cast(doc_id % 5 as varchar) || "
                   "'.example.com/p/' || cast(doc_id as varchar)")
_CRAWL_DIFF_OLD = (f"SELECT {_CRAWL_DIFF_URL} AS url, text "
                   "FROM documents WHERE doc_id % 9 <> 0")
_CRAWL_DIFF_NEW = (f"SELECT {_CRAWL_DIFF_URL} AS url, "
                   "(CASE WHEN doc_id % 5 = 2 THEN text || ' updated' "
                   "ELSE text END) AS text "
                   "FROM documents WHERE doc_id % 7 <> 3")


def q_host_report(spark, sf_dir):
    """Per-host crawl-compliance rollup (operators/links.host_report):
    page/noindex/nofollow/canonical/indexable counts — one groupBy on
    host with constant agg state (mega-hosts are partial-agg'd
    counters)."""
    return links.host_report(_docs_crawl(spark, sf_dir))


def q_cocitation(spark, sf_dir):
    """Co-citation similarity (operators/graph.cocitation_pairs, Small
    1973): domain pairs cited by the same source domains — reuses the
    dedup in-bucket HOF pair kernel (one shuffle, no two-sided
    self-join) over the url-grain link graph."""
    edges = links.link_graph(_docs_links(spark, sf_dir),
                             grain="domain")
    return graph.cocitation_pairs(edges.select("src", "dst"),
                                  min_shared=2)


def q_hits(spark, sf_dir):
    """HITS hubs/authorities (operators/graph.hits) over the extracted
    domain link graph — PageRank's companion ranking; 6 iterations of
    sorted-fold sums and L2 normalizations replayed bit-identically by
    the unrolled MATERIALIZED-CTE oracle."""
    edges = links.link_graph(_docs_links(spark, sf_dir), grain="domain")
    out = graph.hits(edges.select("src", "dst"), n_iter=6)
    return out.select("node", F.round("hub", 9).alias("hub"),
                      F.round("authority", 9).alias("authority"))


def q_polygon_raster(spark, sf_dir):
    """Vector -> raster rasterization (operators/spatial.py
    polygon_raster_cells): a polygon TABLE (deterministic triangles
    around each doc's geocode; odd doc_ids left OPEN to exercise the
    implicit closing edge) rasterizes to (polygon_id, cell) rows whose
    centers pass the even-odd ray-cast — bbox, candidate grid, and the
    crossing test all pure codegen HOFs, no driver collect, no UDF."""
    d = _docs_geo(spark, sf_dir)
    lat, lon = F.col("lat"), F.col("lon")
    p1 = F.array(lon, lat + 0.9)
    p2 = F.array(lon + 0.7, lat - 0.5)
    p3 = F.array(lon - 0.8, lat - 0.3)
    ring = F.when(F.col("doc_id") % 2 == 0, F.array(p1, p2, p3, p1)) \
        .otherwise(F.array(p1, p2, p3))
    polys = d.select(F.col("doc_id").alias("polygon_id"),
                     F.array(ring).alias("rings"))
    return spatial.polygon_raster_cells(polys, res=6)


_POLY_RASTER_SQL_SRC = (
    "SELECT doc_id AS polygon_id, "
    "CASE WHEN doc_id % 2 = 0 THEN "
    "[[[lon, lat + 0.9], [lon + 0.7, lat - 0.5], [lon - 0.8, lat - 0.3], "
    "[lon, lat + 0.9]]] ELSE "
    "[[[lon, lat + 0.9], [lon + 0.7, lat - 0.5], [lon - 0.8, lat - 0.3]]] "
    f"END AS rings FROM ({_DOCS_GEO_SQL})")


_SD_BOILER = ("subscribe to our newsletter for daily updates special "
              "offers and breaking news alerts")


def q_substring_dedup(spark, sf_dir):
    """Exact substring dedup with span REMOVAL (operators/curation.py
    remove_duplicate_spans, Lee et al. 2022): every doc_id%3==0 doc
    carries the same boilerplate footer — its k-token windows are
    corpus-duplicated, so the footer (and any naturally repeated
    k-window in the base text) is cut from every document while unique
    prose survives.  The oracle replays tokenization, md5 window
    fingerprints, the dup set, and the coverage filter."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.col("text"),
                 F.when(F.col("doc_id") % 3 == 0,
                        F.lit(" " + _SD_BOILER)).otherwise(F.lit("")))
        .alias("text"))
    return curation.remove_duplicate_spans(d, k=6)


def q_temperature_mix(spark, sf_dir):
    """Temperature-flattened source mix (operators/curation.py
    temperature_mix, alpha=0.5): per-source keep rates from count^0.5
    shares, applied as the deterministic hash sample — the oracle
    recomputes counts, the sorted sequential denom fold (sqrt is IEEE
    exact-rounded in both engines), the rates, and the identical
    integer-threshold filter."""
    d = _t(spark, sf_dir, "documents")
    return curation.temperature_mix(d, "source", target_rows=200) \
        .select("doc_id", "source")


def q_hist_quantiles(spark, sf_dir):
    """Mergeable histogram quantile sketch (operators/sketches.py): the
    100 TB percentile path — binning in the scan stage, the shuffle
    carries <= nbins integer rows per group, quantiles interpolate in
    the landing bin via a deterministic fold the oracle replays with
    list_reduce.  Accuracy vs exact percentiles is asserted in
    tests/test_sketches.py (<= one bin width)."""
    e = _t(spark, sf_dir, "events")
    sk = sketches.hist_sketch(e, "value", lo=0.0, hi=500.0, nbins=128,
                              group_cols=["event_type"])
    return sketches.hist_quantiles(sk, [0.25, 0.5, 0.9, 0.99],
                                   lo=0.0, hi=500.0, nbins=128,
                                   group_cols=["event_type"])


_LANGMIX_SQL_SRC = (
    "SELECT doc_id, substr(text, 1, 80) || chr(10) || chr(10) || "
    "(CASE doc_id % 4 "
    "WHEN 0 THEN 'der hund und die katze ist nicht hier' "
    "WHEN 1 THEN 'le chat et le chien est dans les arbres' "
    "WHEN 2 THEN 'el perro que ladra de noche los asusta' "
    "ELSE 'il cane che corre di notte per la casa' END) "
    "|| chr(10) || chr(10) || substr(text, 81, 40) AS text "
    "FROM documents")


def q_language_mixture(spark, sf_dir):
    """Mixed-language page profiling (operators/curation.py
    language_mixture): paragraph-grained lang-id rolled up to dominant
    language + share + language count per doc — whole-doc lang-id
    mislabels exactly these pages.  Corpus plants one foreign paragraph
    per doc (de/fr/es/it by doc_id%4) inside english text."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    i = F.col("doc_id")
    foreign = (F.when(i % 4 == 0,
                      F.lit("der hund und die katze ist nicht hier"))
               .when(i % 4 == 1,
                     F.lit("le chat et le chien est dans les arbres"))
               .when(i % 4 == 2,
                     F.lit("el perro que ladra de noche los asusta"))
               .otherwise(F.lit("il cane che corre di notte per la casa")))
    mixed = d.select("doc_id", F.concat_ws(
        "\n\n", F.substring(F.col("text"), 1, 80), foreign,
        F.substring(F.col("text"), 81, 40)).alias("text"))
    return curation.language_mixture(mixed)


def _docs_pages(spark, sf_dir):
    """Deterministic multi-line PAGE corpus for the C4 line-filter oracle
    (the raw documents are single-line word salad): five lines per doc
    built from word slices — a clean keeper, a too-short line, a line
    whose terminal punctuation cycles by doc_id%3 ("!", "?", none), a
    javascript boilerplate line, and a 5-word line that only terminates
    properly for doc_id%4==0 — plus page-level poison appended for some
    ids (lorem-ipsum for %17==0, a curly-brace code line for %13==1).
    Mirrored bit-for-bit by :func:`_docs_pages_sql`."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    i = F.col("doc_id")
    w = F.split(F.trim(F.col("text")), " ")
    nl = F.lit("\n")
    l1 = F.concat(F.concat_ws(" ", F.slice(w, 1, 6)), F.lit("."))
    l2 = F.concat_ws(" ", F.slice(w, 7, 2))
    l3 = F.concat(F.concat_ws(" ", F.slice(w, 3, 7)),
                  F.when(i % 3 == 0, F.lit("!"))
                  .when(i % 3 == 1, F.lit("?")).otherwise(F.lit("")))
    l4 = F.lit("Please enable JavaScript to view the comments powered by widgets.")
    l5 = F.concat(F.concat_ws(" ", F.slice(w, 5, 5)),
                  F.when(i % 4 == 0, F.lit('"')).otherwise(F.lit(";")))
    tail = F.concat(
        F.when(i % 17 == 0,
               F.lit("\nLorem ipsum dolor sit amet consectetur adipiscing.")
               ).otherwise(F.lit("")),
        F.when(i % 13 == 1,
               F.lit("\nwindow.dataLayer = { push: true };")
               ).otherwise(F.lit("")))
    text = F.concat(l1, nl, l2, nl, l3, nl, l4, nl, l5, tail)
    return d.select("doc_id", text.alias("text"))


def _docs_pages_sql() -> str:
    """DuckDB mirror of :func:`_docs_pages` (doc_id, text)."""
    return (
        "SELECT doc_id, "
        "coalesce(array_to_string(w[1:6], ' '), '') || '.' || chr(10) || "
        "coalesce(array_to_string(w[7:8], ' '), '') || chr(10) || "
        "coalesce(array_to_string(w[3:9], ' '), '') || "
        "(CASE doc_id % 3 WHEN 0 THEN '!' WHEN 1 THEN '?' ELSE '' END) "
        "|| chr(10) || "
        "'Please enable JavaScript to view the comments powered by widgets.'"
        " || chr(10) || "
        "coalesce(array_to_string(w[5:9], ' '), '') || "
        "(CASE WHEN doc_id % 4 = 0 THEN '\"' ELSE ';' END) || "
        "(CASE WHEN doc_id % 17 = 0 THEN chr(10) || "
        "'Lorem ipsum dolor sit amet consectetur adipiscing.' ELSE '' END) || "
        "(CASE WHEN doc_id % 13 = 1 THEN chr(10) || "
        "'window.dataLayer = { push: true };' ELSE '' END) AS text "
        "FROM (SELECT doc_id, str_split(trim(text), ' ') AS w FROM documents)")


def q_c4_filter(spark, sf_dir):
    """C4 line-level cleaning (operators/curation.c4_line_filter; Raffel
    et al. 2020 heuristics): keep >=5-word lines ending in terminal
    punctuation without "javascript"; drop pages with <3 kept lines, or
    containing lorem-ipsum / a curly brace.  One codegen map stage —
    zero shuffle, zero Python; at 100 TB it rides the scan partitioning."""
    return curation.c4_line_filter(_docs_pages(spark, sf_dir))


def q_containment(spark, sf_dir):
    """Asymmetric shingle containment (operators/dedup.containment_pairs;
    Broder 1997): C(A->B) = |S(A)∩S(B)|/|S(A)| — catches a doc embedded
    in a larger doc, which symmetric Jaccard dilutes away.  Shares the
    single-shuffle exact intersection core with ngram_jaccard."""
    d = _t(spark, sf_dir, "documents")
    return dedup.containment_pairs(d, n=3, threshold=0.3)


def q_postings(spark, sf_dir):
    """Inverted-index build (operators/search.build_postings): one
    tokenize scan, one (term, doc) agg shuffle, then document frequency
    as a window over the already-aggregated index rows — the exchange
    moves index entries, not tokens.  Positions are 0-based token
    offsets (phrase/proximity payload), comma-joined ascending."""
    d = _t(spark, sf_dir, "documents")
    return search.build_postings(d, min_df=2)


def q_index_search(spark, sf_dir):
    """Top-k retrieval over MATERIALIZED postings rows
    (operators/search.index_topk): query-time cost is index-shaped —
    no tokenization, no df window; tf/df were paid once at build time
    (jobs/text_index.py, bucket-pruned by read_index_for_terms).  Here
    the index is built inline so the oracle can replay it."""
    d = _t(spark, sf_dir, "documents")
    idx = search.build_postings(d, min_df=2)
    return search.index_topk(idx, _BM25_TERMS, n_docs=d.count(), k=15)


def q_hybrid_search(spark, sf_dir):
    """Hybrid retrieval fusion (operators/search.rrf_fuse): BM25 list
    fused with a second lexical list by reciprocal-rank — integer
    ranks, fixed reciprocal-sum sequence."""
    d = _t(spark, sf_dir, "documents")
    a = search.bm25_scores(d, _BM25_TERMS)
    b = search.bm25_scores(d, ["hash", "batch"])
    return search.rrf_fuse(a, b, k=60, top_k=25)


def q_semdedup(spark, sf_dir):
    """SemDeDup (operators/ann.semdedup_keep; Abbas et al. 2023):
    cluster embeddings (formula centers, subspace-sequential L2 so the
    oracle replays membership bit-identically), then within each cluster
    drop any vector with a lower-id neighbor at cosine >= tau.  The
    quadratic pair cost is bounded per cluster; the self-join shuffles
    on list_id only."""
    e = _t(spark, sf_dir, "embeddings")
    cc = ann.demo_ivf_centers(dim=64, nlist=16)
    return ann.semdedup_keep(e, cc, tau=0.35)


def _semdedup_sql(dim: int = 64, nlist: int = 16, dsub: int = 4,
                  tau: float = 0.35) -> str:
    """DuckDB replay of semdedup_keep: formula-center assignment via the
    subspace-sequential nested-fold L2 (the _ivfpq_sql parity contract),
    then within-cluster pairs at round(cosine, 6) >= tau decide drops."""
    m = dim // dsub

    def d2c(v: str, l: str) -> str:
        t = (f"(({v}[s*{dsub}+d+1] - cc[({l})*{dim} + s*{dsub} + d + 1]) * "
             f"({v}[s*{dsub}+d+1] - cc[({l})*{dim} + s*{dsub} + d + 1]))")
        inner = (f"list_reduce(list_transform(range({dsub}), d -> {t}), "
                 f"(a, b) -> a + b)")
        return (f"list_reduce(list_transform(range({m}), s -> {inner}), "
                f"(a, b) -> a + b)")

    dl = f"list_transform(range({nlist}), l -> {d2c('embedding', 'l')})"
    return f"""
WITH _sd_cc AS (
    SELECT {ann.demo_ivf_centers_sql(dim, nlist)} AS cc
), _sd_enc AS (
    SELECT vec_id, cast(embedding AS DOUBLE[]) AS v,
           cast(list_position({dl}, list_min({dl})) - 1 AS INTEGER)
             AS list_id
    FROM embeddings, _sd_cc
), _sd_drop AS (
    SELECT DISTINCT b.vec_id
    FROM _sd_enc a JOIN _sd_enc b USING (list_id)
    WHERE a.vec_id < b.vec_id
      AND round(list_cosine_similarity(a.v, b.v), 6) >= {tau}
)
SELECT e.vec_id, e.list_id
FROM _sd_enc e ANTI JOIN _sd_drop d ON e.vec_id = d.vec_id"""


_ROBOTS_BODIES = [
    # one body per host index 0..6 — covers empty file, wildcard + '$'
    # patterns, Allow-overrides, agent-specific shadowing, empty
    # Disallow, an invalid rule before any User-agent line, Sitemap
    # lines (group-independent) and Crawl-delay (group-scoped, min wins,
    # junk values dropped)
    "",
    ("Sitemap: https://site1.example.com/sitemap.xml\n"
     "User-agent: *\nCrawl-delay: 1.5\nDisallow: /tmp/\nAllow: /tmp/ok\n"
     "Disallow: /*?sess=\nCrawl-delay: 0.5"),
    ("User-agent: googlebot\nDisallow: /priv\nCrawl-delay: 2\n\n"
     "User-agent: *\nAllow: /priv/pub\nDisallow: /priv\n"
     "Sitemap: https://site2.example.com/sm/a.xml\n"
     "Sitemap: https://site2.example.com/sm/b.xml"),
    ("# no star group here\nUser-agent: othercrawler\nDisallow: /\n"
     "Crawl-delay: 9"),
    "User-agent: *\nDisallow: /p/2$",
    "User-agent: *\nDisallow:\nCrawl-delay: abc",
    "Disallow: /orphan\nCrawl-delay: 3",
]
# (prefix, embed_id): the '$'-anchored rule needs an EXACT '/p/2' path,
# so that branch does not embed the doc id (duplicate URLs collapse in
# the groupBy identically in both engines)
_ROBOTS_PATHS = [("/tmp/ok/file", True), ("/tmp/x", True),
                 ("/p/2", False), ("/a?sess=1&id=", True),
                 ("/priv/pub/z", True)]


def _robots_tables(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    host = F.concat(F.lit("site"), (i % 7).cast("string"),
                    F.lit(".example.com"))
    body = F.lit(None).cast("string")
    expr = F.lit(_ROBOTS_BODIES[-1])
    for h in range(len(_ROBOTS_BODIES) - 2, -1, -1):
        expr = F.when(i % 7 == h, F.lit(_ROBOTS_BODIES[h])).otherwise(expr)
    rb = (d.filter(i < 7)
          .select(host.alias("host"), expr.alias("robots_txt")))
    def branch(p: int) -> "F.Column":
        pre, embed = _ROBOTS_PATHS[p]
        return (F.concat(F.lit(pre), i.cast("string")) if embed
                else F.lit(pre))

    pexpr = branch(len(_ROBOTS_PATHS) - 1)
    for p in range(len(_ROBOTS_PATHS) - 2, -1, -1):
        pexpr = F.when(i % 5 == p, branch(p)).otherwise(pexpr)
    pages = d.select(F.concat(F.lit("https://"), host, pexpr).alias("url"))
    return pages, rb


def _robots_sql_tables() -> tuple[str, str]:
    def lit(s: str) -> str:
        return "'" + s.replace("'", "''").replace("\n", "' || chr(10) || '") + "'"
    body = "CASE doc_id % 7 " + " ".join(
        f"WHEN {h} THEN {lit(b)}" for h, b in enumerate(_ROBOTS_BODIES[:-1])
    ) + f" ELSE {lit(_ROBOTS_BODIES[-1])} END"
    def pb(p: int) -> str:
        pre, embed = _ROBOTS_PATHS[p]
        return (f"'{pre}' || cast(doc_id as varchar)" if embed
                else f"'{pre}'")

    path = "CASE doc_id % 5 " + " ".join(
        f"WHEN {p} THEN {pb(p)}" for p in range(len(_ROBOTS_PATHS) - 1)
    ) + f" ELSE {pb(len(_ROBOTS_PATHS) - 1)} END"
    host = "'site' || cast(doc_id % 7 as varchar) || '.example.com'"
    rb = (f"SELECT {host} AS host, ({body}) AS robots_txt "
          f"FROM documents WHERE doc_id < 7")
    pages = (f"SELECT 'https://' || {host} || ({path}) AS url "
             f"FROM documents")
    return pages, rb


def q_robots_check(spark, sf_dir):
    """robots.txt permission evaluation (operators/robots.robots_check):
    bodies parsed relationally (lag + running-sum window recovers RFC
    9309 groups, most-specific-group agent selection), '*'/'$' patterns
    compiled to per-rule regexes by codegen escaping, longest-match /
    Allow-wins precedence via a single struct max.  The rules side is
    per-host — broadcast-sized next to the page table at crawl scale."""
    pages, rb = _robots_tables(spark, sf_dir)
    return robots.robots_check(pages, rb)


def _docs_sitemaps(spark, sf_dir):
    """Deterministic sitemap corpus: one urlset per doc with a fresh
    /new/ URL (whitespace-padded <loc>, lastmod), plus for some ids a
    robots-disallowed /tmp/ URL and a messy-absolute duplicate of an
    already-crawled /p/2 page.  Mirrored by ``_DOCS_SITEMAPS_SQL``."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    host = F.concat(F.lit("site"), (i % 7).cast("string"),
                    F.lit(".example.com"))
    e1 = F.concat(F.lit("<url><loc>\n  https://"), host, F.lit("/new/"),
                  i.cast("string"), F.lit(" \n</loc><lastmod>2026-0"),
                  (i % 9 + 1).cast("string"),
                  F.lit("-15</lastmod></url>"))
    e2 = F.when(i % 4 == 0, F.concat(
        F.lit("<url><loc>https://"), host, F.lit("/tmp/x"),
        i.cast("string"), F.lit("</loc></url>"))).otherwise(F.lit(""))
    e3 = F.when(i % 5 == 2, F.concat(
        F.lit("<url><loc>HTTPS://"), F.upper(host),
        F.lit(":443/p/2</loc></url>"))).otherwise(F.lit(""))
    xml = F.concat(F.lit('<?xml version="1.0"?><urlset>'),
                   e1, e2, e3, F.lit("</urlset>"))
    return d.select(host.alias("host"), xml.alias("xml"))


_DOCS_SITEMAPS_SQL = (
    "SELECT 'site' || cast(doc_id % 7 as varchar) || '.example.com' AS host, "
    "'<?xml version=\"1.0\"?><urlset>' || "
    "'<url><loc>' || chr(10) || '  https://site' || "
    "cast(doc_id % 7 as varchar) || '.example.com/new/' || "
    "cast(doc_id as varchar) || ' ' || chr(10) || "
    "'</loc><lastmod>2026-0' || cast(doc_id % 9 + 1 as varchar) || "
    "'-15</lastmod></url>' || "
    "(CASE WHEN doc_id % 4 = 0 THEN '<url><loc>https://site' || "
    "cast(doc_id % 7 as varchar) || '.example.com/tmp/x' || "
    "cast(doc_id as varchar) || '</loc></url>' ELSE '' END) || "
    "(CASE WHEN doc_id % 5 = 2 THEN '<url><loc>HTTPS://SITE' || "
    "cast(doc_id % 7 as varchar) || '.EXAMPLE.COM:443/p/2</loc></url>' "
    "ELSE '' END) || '</urlset>' AS xml "
    "FROM documents")


def q_sitemap_entries(spark, sf_dir):
    """Sitemap urlset parsing (operators/links.sitemap_entries): one
    regexp_extract_all over the XML body, per-entry <loc>/<lastmod>
    extraction with the explicit whitespace class — codegen map stage,
    no shuffle."""
    return links.sitemap_entries(_docs_sitemaps(spark, sf_dir))


def q_crawl_frontier(spark, sf_dir):
    """End-to-end crawl-frontier discovery: sitemap entries ->
    canonicalize + distinct -> anti-join the already-crawled set ->
    robots.txt permission gate; emits the allowed new URLs.  At crawl
    scale the seen-set anti-join is the one real shuffle (bloom
    pre-filterable); the robots side stays broadcast-sized."""
    sm = _docs_sitemaps(spark, sf_dir)
    pages, rb = _robots_tables(spark, sf_dir)
    ent = links.sitemap_entries(sm)
    cand = (ent.select(tx.url_canonical_col(F.col("url")).alias("url"))
            .filter(F.col("url") != "").distinct())
    seen = (pages.select(tx.url_canonical_col(F.col("url")).alias("url"))
            .distinct())
    new = cand.join(seen, "url", "left_anti")
    return (robots.robots_check(new, rb)
            .filter(F.col("allowed")).select("url"))


def _crawl_frontier_sql() -> str:
    pages_sql, rb_sql = _robots_sql_tables()
    ent = links.sitemap_entries_sql(_DOCS_SITEMAPS_SQL)
    canon = tx.url_canonical_sql("url")
    gated = robots.robots_check_sql("SELECT url FROM _cf_n", rb_sql)
    return f"""
WITH _cf_e AS ({ent}),
_cf_c AS (SELECT DISTINCT {canon} AS url FROM _cf_e
          WHERE {canon} <> ''),
_cf_s AS (SELECT DISTINCT {canon} AS url FROM ({pages_sql})),
_cf_n AS (SELECT url FROM _cf_c ANTI JOIN _cf_s USING (url))
SELECT url FROM ({gated}) WHERE allowed"""


def q_robots_sitemaps(spark, sf_dir):
    """Sitemap: directive extraction (operators/robots.robots_sitemaps)
    — group-INDEPENDENT per RFC 9309 §2.3; feeds links.sitemap_entries
    after fetch."""
    _pages, rb = _robots_tables(spark, sf_dir)
    return robots.robots_sitemaps(rb)


def q_crawl_delays(spark, sf_dir):
    """Crawl-delay extraction (operators/robots.robots_crawl_delays):
    group-scoped with the most-specific agent selection; several
    applicable values -> the minimum; junk values try-cast away."""
    _pages, rb = _robots_tables(spark, sf_dir)
    return robots.robots_crawl_delays(rb)


def q_phrase_search(spark, sf_dir):
    """Exact phrase query (operators/search.phrase_hits): positional
    postings built only for the phrase's terms (isin prunes in the
    tokenize scan), k-1 broadcast-able doc_id joins intersect start
    positions via codegen HOFs.  The oracle recomputes hits by a direct
    windowed scan of the token array — different algorithm, same answer."""
    d = _t(spark, sf_dir, "documents")
    return search.phrase_hits(d, ["slow", "hash", "batch"])


def _parts_fuzzy(spark, sf_dir):
    """DISTINCT part names (min partkey as id — the raw table repeats a
    tiny name vocabulary, which would drown the typo tier in dist-0
    pairs) + planted typos: every 4th name re-appears with one character
    DELETED at a key-derived position, every 4th+1 with one character
    SUBSTITUTED by 'x'.  Mirrored by :func:`_parts_fuzzy_sql`."""
    p = (_t(spark, sf_dir, "part")
         .groupBy("p_name").agg(F.min("p_partkey").alias("p_partkey"))
         .select("p_partkey", "p_name"))
    k, nm = F.col("p_partkey"), F.col("p_name")
    ln = F.length(nm)
    pos = (k % ln + 1).cast("int")
    deleted = F.concat(nm.substr(F.lit(1), pos - 1), nm.substr(pos + 1, ln))
    substituted = F.concat(nm.substr(F.lit(1), pos - 1), F.lit("x"),
                           nm.substr(pos + 1, ln))
    orig = p.select(k.alias("id"), nm.alias("name"))
    corr = (p.withColumn(
        "name", F.when(k % 4 == 0, deleted).otherwise(substituted))
        .filter((k % 4 == 0) | (k % 4 == 1))
        .select((k + 1000000).alias("id"), "name"))
    return orig.unionAll(corr)


def _parts_fuzzy_sql() -> str:
    pos = "(p_partkey % length(p_name) + 1)"
    base = ("SELECT min(p_partkey) AS p_partkey, p_name "
            "FROM part GROUP BY p_name")
    return (
        f"SELECT p_partkey AS id, p_name AS name FROM ({base}) "
        "UNION ALL "
        "SELECT p_partkey + 1000000 AS id, "
        f"(CASE WHEN p_partkey % 4 = 0 THEN "
        f"substring(p_name, 1, {pos} - 1) || "
        f"substring(p_name, {pos} + 1, length(p_name)) "
        f"ELSE substring(p_name, 1, {pos} - 1) || 'x' || "
        f"substring(p_name, {pos} + 1, length(p_name)) END) AS name "
        f"FROM ({base}) WHERE p_partkey % 4 IN (0, 1)")


def q_crawl_depth(spark, sf_dir):
    """Multi-source BFS (operators/graph.bfs_depths): minimum hop count
    from the seed set over a directed graph — the crawl-depth /
    distance-from-homepage feature.  Frontier-sized joins + per-round
    lineage truncation + empty-frontier early exit; integer-exact, the
    oracle replays it with a recursive CTE."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    edges = d.select(
        F.concat(F.lit("n"), (i % 101).cast("string")).alias("src"),
        F.concat(F.lit("n"), ((i * 7 + 3) % 101).cast("string"))
        .alias("dst"))
    seeds = d.filter(i < 2).select(
        F.concat(F.lit("n"), i.cast("string")).alias("node"))
    return graph.bfs_depths(edges, seeds, max_depth=8)


_CRAWL_DEPTH_EDGES_SQL = (
    "SELECT 'n' || cast(doc_id % 101 as varchar) AS src, "
    "'n' || cast((doc_id * 7 + 3) % 101 as varchar) AS dst "
    "FROM documents")
_CRAWL_DEPTH_SEEDS_SQL = (
    "SELECT 'n' || cast(doc_id as varchar) AS node "
    "FROM documents WHERE doc_id < 2")


def q_fuzzy_pairs(spark, sf_dir):
    """Typo-tolerant matching (operators/dedup.fuzzy_pairs): q-gram
    blocking with a hot-gram df cap, sound DISTINCT-gram count filter
    (one edit kills <= q gram types), length filter, exact Levenshtein
    verify — the entity-resolution filter-and-refine (Gravano et al.
    2001) over part names with planted deletions/substitutions."""
    return dedup.fuzzy_pairs(_parts_fuzzy(spark, sf_dir), max_dist=2)


def q_lag_features(spark, sf_dir):
    """Per-user ML lag features (operators/aggregates.lag_features):
    previous-3 values + microsecond gap to the prior event in one
    Window node — the feature-engineering staple; total (ts, value)
    order makes it oracle-identical."""
    e = _t(spark, sf_dir, "events")
    return aggregates.lag_features(e, "user_id", "ts", "value")


def q_drift(spark, sf_dir):
    """Distribution drift (operators/aggregates.distribution_drift):
    per-bin counts of event values in two snapshot halves over shared
    baseline-defined edges — integer-exact; the PSI/KL finisher is
    consumer-side (the PMI precedent)."""
    e = _t(spark, sf_dir, "events")
    old = e.filter(F.col("event_id") % 2 == 0)
    new = (e.filter(F.col("event_id") % 2 == 1)
           .withColumn("value", F.col("value") * F.lit(1.1)))
    return aggregates.distribution_drift(old, new, "value", nbins=12)


def q_getis_ord(spark, sf_dir):
    """Getis-Ord Gi* hotspots (operators/spatial.getis_ord): per-cell
    z-like score from INTEGER neighborhood sums + two exact global
    ratios — no float accumulation anywhere, bit-identical oracle."""
    return spatial.getis_ord(_docs_geo(spark, sf_dir), res=5)


def q_morans_i(spark, sf_dir):
    """Global Moran's I (operators/spatial.morans_i): spatial
    autocorrelation of per-cell doc counts under queen weights — two-
    level sorted folds (per-src then across the grid-bounded cell set)
    keep every float addition sequence total while staying distributed."""
    return spatial.morans_i(_docs_geo(spark, sf_dir), res=5)


def q_ewma(spark, sf_dir):
    """Recency-weighted user activity (operators/aggregates.ewma_last):
    per-user EWMA of event values in (ts, value) order with alpha=0.5
    (binary-exact) — the fold order is total, both engines replay it
    bit-identically."""
    e = _t(spark, sf_dir, "events")
    return aggregates.ewma_last(e, "user_id", "ts", "value")


def q_mad_outliers(spark, sf_dir):
    """Robust anomaly detection (operators/aggregates.mad_outliers):
    per-event-type |x - median| > 3 * MAD — two exact-percentile
    aggregations broadcast back, zero Python; rounded-6dp medians in
    the comparison so interpolation ulps can't flip boundary rows."""
    e = _t(spark, sf_dir, "events")
    return aggregates.mad_outliers(e, "value", ["event_type"])


def q_completions(spark, sf_dir):
    """Query autocomplete (operators/search.completions): top-3 corpus
    terms per 4-char prefix by total frequency — one token shuffle into
    the term counts, then a window over the vocabulary-sized table."""
    return search.completions(_t(spark, sf_dir, "documents"),
                              prefix_len=4, k=3)


def q_fuzzy_components(spark, sf_dir):
    """Fuzzy entity resolution end-to-end: q-gram/Levenshtein pairs ->
    O(log n) star-contraction connected components — typo clusters
    collapse to their min-id canonical (the near_dup_components pattern
    over a different pair generator)."""
    pairs = dedup.fuzzy_pairs(_parts_fuzzy(spark, sf_dir), max_dist=2)
    return dedup.connected_components(pairs)


def q_similar_pairs(spark, sf_dir):
    """Vector-space more-like-this (operators/search.similar_pairs):
    TF-IDF-ish cosine via the inverted index — tf/df rational weights
    (no libm log in the contract), sorted-sequential folds for dot and
    norms, stop-terms (df > max_df) dropped BEFORE the candidate
    self-join (the shingle-tier skew guard)."""
    d = _t(spark, sf_dir, "documents")
    return search.similar_pairs(d, min_score=0.85)


def q_retention(spark, sf_dir):
    """Cohort retention (operators/trips.retention_matrix): users
    bucketed by first-event week, counted per later active week —
    all-integer bucket arithmetic, one activity groupBy + a window min
    reusing its partitioning."""
    return trips.retention_matrix(_t(spark, sf_dir, "events"),
                                  bucket_days=7)


def q_sq_topk(spark, sf_dir):
    """int8 scalar quantization (operators/ann.py sq_*): per-dim
    min/max training is ONE order-free aggregate scan — so the oracle
    replays TRAINING, encoding, and the integer-fold quantized top-k
    end to end (no demo codebooks needed).  The scan side is a 4x-
    compressed int array; distances are exact integers."""
    emb = _t(spark, sf_dir, "embeddings")
    mins, maxs = ann.sq_train(emb, dim=64)
    enc = ann.sq_encode(emb, mins, maxs)
    probes = (emb.filter(F.col("vec_id") % 61 == 0)
              .selectExpr("vec_id as probe_id", "embedding as probe_vec"))
    return ann.sq_topk_table(enc, probes, k=10, mins=mins, maxs=maxs)


def q_funnel(spark, sf_dir):
    """Ordered-funnel conversion (operators/trips.funnel_counts):
    users whose event sequence contains view -> click -> purchase as a
    subsequence, one row of integer stage counts; one groupBy(user)
    shuffle, the subsequence match is a codegen array_position/slice
    chain the oracle replays with list_position."""
    return trips.funnel_counts(_t(spark, sf_dir, "events"),
                               ["view", "click", "purchase"])


def q_idw_grid(spark, sf_dir):
    """IDW regridding (operators/spatial.idw_to_grid, deterministic
    mode): 100 stations (geocoded docs, value = doc_id % 97) scatter to
    their sound disc covers, the exact center-distance refine fixes
    membership, and each res-4 cell folds 1/d^2 weighted sums in sorted
    station order — the oracle uses a different (generous) cover and
    still hash-matches, proving membership comes from the refine."""
    d = (_docs_geo(spark, sf_dir)
         .filter(F.col("doc_id") % 5 == 0)
         .select(F.col("doc_id").alias("station_id"), "lat", "lon",
                 (F.col("doc_id") % 97).cast("double").alias("value")))
    return spatial.idw_to_grid(d, res=4, radius_km=800.0,
                               deterministic=True)


def q_cooccurrence(spark, sf_dir):
    """Doc-level term co-occurrence (operators/search.py
    cooccurrence_counts): upper-triangle pairs generated INSIDE one HOF
    over each doc's sorted/distinct/capped term array (the dedup
    bucket-pairs trick), one partial-agg'd pair groupBy; all-integer
    output so the oracle is exact — PMI is the consumer-side log
    finisher (pytest)."""
    d = _t(spark, sf_dir, "documents")
    return search.cooccurrence_counts(d, max_terms=24, min_count=2)


def q_od_matrix(spark, sf_dir):
    """Origin-destination flows (operators/trips.od_matrix): each trip's
    first->last point becomes one (src_cell, dst_cell) flow at res 4 —
    the commute-matrix staple; integer counts, one window shuffle plus
    one pair groupBy; arg-min/arg-max struct endpoints replayed by the
    oracle's struct min/max."""
    return trips.od_matrix(_events_geo(spark, sf_dir), res=4)


def q_zonal_stats(spark, sf_dir):
    """Zonal statistics via the raster path: triangles rasterize to
    cells (polygon_raster_cells), the res-6 event histogram joins on the
    cell id, and each polygon sums the event mass its cells hold — the
    classic raster<->vector round trip with no per-point PIP re-test."""
    d = _docs_geo(spark, sf_dir)
    lat, lon = F.col("lat"), F.col("lon")
    p1 = F.array(lon, lat + 0.9)
    p2 = F.array(lon + 0.7, lat - 0.5)
    p3 = F.array(lon - 0.8, lat - 0.3)
    polys = (d.filter(F.col("doc_id") % 7 == 0)
             .select(F.col("doc_id").alias("polygon_id"),
                     F.array(F.array(p1, p2, p3, p1)).alias("rings")))
    raster = spatial.polygon_raster_cells(polys, res=6)
    hist = spatial.dense_cells(_events_geo(spark, sf_dir), res=6)
    return (raster.join(hist, "cell")
            .groupBy("polygon_id")
            .agg(F.count(F.lit(1)).alias("n_cells_hit"),
                 F.sum("n_points").alias("n_events")))


def q_geofence(spark, sf_dir):
    """Geofence enter/exit stream (operators/trips.geofence_events):
    the zonal-stats triangles rasterize once (even-odd ray-cast over
    cell centers), then per-user transitions come from a broadcast
    fence-cell join + one lag window — integer cell membership, so the
    DuckDB oracle replays it exactly."""
    d = _docs_geo(spark, sf_dir)
    lat, lon = F.col("lat"), F.col("lon")
    p1 = F.array(lon, lat + 0.9)
    p2 = F.array(lon + 0.7, lat - 0.5)
    p3 = F.array(lon - 0.8, lat - 0.3)
    polys = (d.filter(F.col("doc_id") % 7 == 0)
             .select(F.col("doc_id").alias("polygon_id"),
                     F.array(F.array(p1, p2, p3, p1)).alias("rings")))
    fences = spatial.polygon_raster_cells(polys, res=6)
    return trips.geofence_events(_events_geo(spark, sf_dir), fences, res=6)


def q_catchment(spark, sf_dir):
    """k-ring catchment aggregation (operators/spatial.catchment_counts,
    H3 gridDisk pattern): every 13th doc is a POI; event mass within its
    res-5 Chebyshev-2 disk rolls up via per-cell pre-counts + one hash
    join — zero-catchment POIs still appear."""
    pois = (_docs_geo(spark, sf_dir).filter(F.col("doc_id") % 13 == 0)
            .select(F.col("doc_id").alias("poi_id"), "lat", "lon"))
    return spatial.catchment_counts(pois, _events_geo(spark, sf_dir),
                                    res=5, k=2)


def q_ohlc(spark, sf_dir):
    """Hourly OHLC bars per event type (operators/aggregates.ohlc_bars):
    one map-side-combined groupBy; open/close via struct extrema with a
    (ts, value) total order so the oracle is value-hash exact."""
    e = _t(spark, sf_dir, "events")
    return aggregates.ohlc_bars(e, "ts", "value", ["event_type"])


def q_flow_octants(spark, sf_dir):
    """Per-cell movement-direction histogram (operators/trips.
    flow_octants): consecutive per-user steps classified into compass
    octants by pure sign/magnitude comparisons — integer counts, one
    window + one integer groupBy."""
    return trips.flow_octants(_events_geo(spark, sf_dir), res=5)


def q_polygon_overlap(spark, sf_dir):
    """Raster-space polygon x polygon overlap join (operators/spatial.
    polygon_overlap_pairs): shared-res-6-cell counts via the capped
    bucket-pairs machinery; oracle recomputes by raster self-join."""
    d = _docs_geo(spark, sf_dir)
    lat, lon = F.col("lat"), F.col("lon")
    p1 = F.array(lon, lat + 0.9)
    p2 = F.array(lon + 0.7, lat - 0.5)
    p3 = F.array(lon - 0.8, lat - 0.3)
    polys = d.select(F.col("doc_id").alias("polygon_id"),
                     F.array(F.array(p1, p2, p3, p1)).alias("rings"))
    return spatial.polygon_overlap_pairs(polys, res=6, min_cells=2)


def q_strip_boilerplate(spark, sf_dir):
    """Per-host template removal (operators/curation.strip_boilerplate):
    7 synthetic hosts each stamp a newsletter paragraph on 90% of their
    pages; the >= 50%-of-host threshold strips it everywhere while the
    10% unstamped pages prove per-host counting (not global)."""
    d = _t(spark, sf_dir, "documents")
    host = F.concat(F.lit("h"), (F.col("doc_id") % 7).cast("string"))
    url = F.concat(F.lit("https://"), host, F.lit(".example/p/"),
                   F.col("doc_id").cast("string"))
    boiler = F.concat(F.lit("subscribe to "), host,
                      F.lit(" newsletter today"))
    text = F.when(F.col("doc_id") % 10 != 9,
                  F.concat(F.col("text"), F.lit("\n\n"), boiler)) \
        .otherwise(F.col("text"))
    df = d.select("doc_id", url.alias("url"), text.alias("text"))
    return curation.strip_boilerplate(df, min_frac=0.5, min_pages=2) \
        .select("doc_id", "text")


_BOILER_SQL_SRC = (
    "SELECT doc_id, 'https://h' || cast(doc_id % 7 AS VARCHAR) || "
    "'.example/p/' || cast(doc_id AS VARCHAR) AS url, "
    "CASE WHEN doc_id % 10 <> 9 THEN text || chr(10) || chr(10) || "
    "'subscribe to h' || cast(doc_id % 7 AS VARCHAR) || "
    "' newsletter today' ELSE text END AS text FROM documents")


def q_stay_points(spark, sf_dir):
    """Cell-dwell stay points (operators/trips.stay_points): each user
    cycles among 3 home cities (geocode keyed on user_id*16 + event_id%3
    — shared with the oracle) so same-cell runs exist; dwell >= 10 h
    keeps multi-event stays and drops lone pings."""
    e = _t(spark, sf_dir, "events")
    key = F.col("user_id") * 16 + F.col("event_id") % 3
    ev = (e.withColumn("lat", geo.geocode_lat(key))
          .withColumn("lon", geo.geocode_lon(key)))
    return trips.stay_points(ev, res=4, min_minutes=600.0)


def q_covisit(spark, sf_dir):
    """Cell co-visitation (operators/trips.covisit_pairs): the bipartite
    user x cell projection via the capped bucket-pairs machinery —
    entities are buckets, distinct visited cells the members."""
    return trips.covisit_pairs(_events_geo(spark, sf_dir), res=2,
                               min_common=5)


def q_cell_smooth(spark, sf_dir):
    """Heatmap smoothing (operators/spatial.smooth_cells): the res-5
    event histogram box-blurred over each cell's 3x3 neighborhood —
    scatter to arithmetic neighbor ids (wrap/clamp) + one integer-sum
    groupBy; halo cells appear with their neighbor mass."""
    e = _events_geo(spark, sf_dir)
    hist = spatial.dense_cells(e, res=5)
    return spatial.smooth_cells(hist, res=5)


def q_spatial_clusters(spark, sf_dir):
    """Grid-density clustering (operators/spatial.py): events bucket
    into res-4 cells, cells with >= 2 points are dense, touching dense
    cells (8-neighborhood, antimeridian wrap) merge via the O(log n)
    star-contraction CC; label = min cell id.  The oracle replays the
    same arithmetic neighbors with a RECURSIVE min-label CTE."""
    return spatial.grid_clusters(_events_geo(spark, sf_dir),
                                 res=4, min_pts=2)


def q_spatial_cluster_stats(spark, sf_dir):
    """Per-cluster rollup of q_spatial_clusters: (cluster_id, n_cells,
    n_points) — the 'name the urban blobs' aggregate."""
    return spatial.cluster_stats(_events_geo(spark, sf_dir),
                                 res=4, min_pts=2)


def q_anchor_texts(spark, sf_dir):
    """Anchor-text aggregation (functions/text.py anchor_text_pairs_col):
    what the web calls each destination — (dst domain, anchor, n_links),
    the classic link-text relevance signal.  href and anchor come from
    the SAME regex so the arrays align match-for-match; inner tags strip
    and whitespace collapses before aggregation."""
    d = _docs_links(spark, sf_dir)
    pair = F.explode(tx.anchor_text_pairs_col(F.col("html"))).alias("p")
    rows = d.select("url", pair).select(
        "url", F.col("p.href").alias("href"),
        F.col("p.anchor").alias("anchor"))
    dst = tx.registered_domain_col(tx.url_canonical_col(
        tx.resolve_link_col(F.col("href"), F.col("url"))))
    return (rows.withColumn("dst", dst)
            .filter(F.col("dst") != "")
            .groupBy("dst", "anchor")
            .agg(F.count(F.lit(1)).alias("n_links")))


def q_url_canonical(spark, sf_dir):
    """crawl-URL canonicalization: case, default ports, tracking params,
    param order, trailing slash and fragments collapse to one key
    (functions/text.py url_canonical_col; contract in the module docstring)."""
    u = _docs_urls_messy(spark, sf_dir)
    return u.select("doc_id", "url",
                    tx.url_canonical_col(F.col("url")).alias("canon_url"))


def q_canonical_dedup(spark, sf_dir):
    """exact dedup on the canonical-URL key: variant spellings of the same
    logical page collapse; keeper = min doc_id (deterministic)."""
    u = _docs_urls_messy(spark, sf_dir)
    return (u.withColumn("canon_url", tx.url_canonical_col(F.col("url")))
            .groupBy("canon_url")
            .agg(F.count("*").alias("n_variants"),
                 F.min("doc_id").alias("keep_id")))


def q_url_anatomy(spark, sf_dir):
    """URL anatomy for per-domain mixing/caps: host (userinfo/port
    stripped), registrable domain (two-level-TLD aware), path depth —
    pure JVM regex/array expressions, identical patterns in the DuckDB
    oracle."""
    u = _docs_urls(spark, sf_dir)
    return u.select(
        "doc_id", "url",
        tx.url_host_col(F.col("url")).alias("host"),
        tx.registered_domain_col(F.col("url")).alias("domain"),
        tx.url_path_depth_col(F.col("url")).alias("path_depth"))


def q_pack_sequences(spark, sf_dir):
    """GPT-style sequence-packing plan: per-doc spans after concatenating
    token streams in deterministic (shard, id) order and cutting every
    256 tokens — the tokenizer-feed layout computed WITHOUT reading any
    text past the token count.  Oracle: the identical cumulative-sum
    window arithmetic in DuckDB."""
    d = _t(spark, sf_dir, "documents")
    counted = d.select("doc_id",
                       tx.token_count_col(F.col("text")).alias("n_tokens"))
    return curation.pack_sequences(counted, seq_len=256, n_shards=8)


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination report (GPT-3 App. C shape): the
    "benchmark" is the 20-token prefix of every 31st document — derived
    identically in Spark and in the DuckDB oracle — so every source doc
    (and its near-duplicates) must be flagged via shared 5-grams while
    unrelated word-salad docs stay clean.  Broadcast bench-gram probe;
    see operators/curation.py:decontaminate_report for the 100 TB plan."""
    d = _t(spark, sf_dir, "documents")
    bench = (d.filter(F.col("doc_id") % 31 == 0)
             .select(F.array_join(
                 F.slice(F.split(F.trim(F.col("text")), r"\s+"), 1, 20),
                 " ").alias("text")))
    return curation.decontaminate_report(d, bench, n=5)


def q_pq_topk(spark, sf_dir):
    """Product-quantization ADC top-k (Jégou et al. 2011): vectors encode
    to m=16 one-byte codes (16x scan shrink at 100 TB), probes carry a
    broadcast lookup table, scoring is a pure-JVM fold over the code
    array.  Formula codebooks so the DuckDB oracle replays encode + ADC
    bit-for-bit; TRAINED-codebook recall is pytest-asserted
    (operators/ann.py, parity contract in the module comment)."""
    e = _t(spark, sf_dir, "embeddings")
    cb = ann.demo_pq_codebooks(dim=64, m=16, ksub=64)
    enc = ann.pq_encode(e, cb)
    probes = (e.filter(F.col("vec_id") % 100 == 7)
              .select(F.col("vec_id").alias("probe_id"),
                      F.col("embedding").alias("probe_vec")))
    return ann.pq_topk_table(enc, probes, k=10, codebooks=cb)


def _pq_sql(dim: int = 64, m: int = 16, ksub: int = 64, k: int = 10) -> str:
    dsub = dim // m
    # squared-L2 between subspace s of vector expr v and centroid j —
    # inner sum is a sequential list_reduce (the parity contract)
    def d2(v: str, j: str) -> str:
        t = (f"(({v}[s*{dsub}+d+1] - cb[((s*{ksub}+({j}))*{dsub})+d+1]) * "
             f"({v}[s*{dsub}+d+1] - cb[((s*{ksub}+({j}))*{dsub})+d+1]))")
        return (f"list_reduce(list_transform(range({dsub}), d -> {t}), "
                f"(a, b) -> a + b)")

    dl = f"list_transform(range({ksub}), j -> {d2('embedding', 'j')})"
    codes = (f"list_transform(range({m}), s -> "
             f"(list_position({dl}, list_min({dl})) - 1))")
    adc = (f"list_reduce(list_transform(range({m}), s -> "
           f"{d2('p.probe_vec', 'c.codes[s+1]')}), (a, b) -> a + b)")
    return f"""
WITH _pq_cb AS (
    SELECT {ann.demo_pq_codebooks_sql(dim, m, ksub)} AS cb
), _pq_codes AS (
    SELECT vec_id, {codes} AS codes FROM embeddings, _pq_cb
), _pq_probes AS (
    SELECT vec_id AS probe_id, embedding AS probe_vec FROM embeddings
    WHERE vec_id % 100 = 7
), _pq_scored AS (
    SELECT p.probe_id, c.vec_id, round({adc}, 6) AS adc_dist
    FROM _pq_codes c, _pq_probes p, _pq_cb
)
SELECT probe_id, vec_id, adc_dist,
       cast(row_number() OVER (PARTITION BY probe_id
            ORDER BY adc_dist ASC, vec_id ASC) as int) AS rank
FROM _pq_scored
QUALIFY rank <= {k}
"""


def q_ivfpq_topk(spark, sf_dir):
    """IVF-PQ (FAISS IndexIVFPQ shape, non-residual): coarse quantizer
    routes each probe to nprobe=4 of nlist=16 inverted lists; ADC scores
    only the routed lists' codes (operators/ann.py ivfpq_*).  Formula
    centers + codebooks so the oracle replays assignment, routing, and
    ADC bit-for-bit."""
    e = _t(spark, sf_dir, "embeddings")
    cc = ann.demo_ivf_centers(dim=64, nlist=16)
    cb = ann.demo_pq_codebooks(dim=64, m=16, ksub=64)
    enc = ann.ivfpq_encode(e, cc, cb)
    probes = (e.filter(F.col("vec_id") % 100 == 7)
              .select(F.col("vec_id").alias("probe_id"),
                      F.col("embedding").alias("probe_vec")))
    return ann.ivfpq_topk_table(enc, probes, k=10, nprobe=4,
                                centers=cc, codebooks=cb)


def _ivfpq_sql(dim: int = 64, m: int = 16, ksub: int = 64,
               nlist: int = 16, nprobe: int = 4, k: int = 10) -> str:
    dsub = dim // m

    # subspace-shaped squared L2 to coarse center l (the parity contract:
    # nested sequential folds, matching the NumPy UDF's subspace loop)
    def d2c(v: str, l: str) -> str:
        t = (f"(({v}[s*{dsub}+d+1] - cc[({l})*{dim} + s*{dsub} + d + 1]) * "
             f"({v}[s*{dsub}+d+1] - cc[({l})*{dim} + s*{dsub} + d + 1]))")
        inner = (f"list_reduce(list_transform(range({dsub}), d -> {t}), "
                 f"(a, b) -> a + b)")
        return (f"list_reduce(list_transform(range({m}), s -> {inner}), "
                f"(a, b) -> a + b)")

    def d2(v: str, j: str) -> str:
        t = (f"(({v}[s*{dsub}+d+1] - cb[((s*{ksub}+({j}))*{dsub})+d+1]) * "
             f"({v}[s*{dsub}+d+1] - cb[((s*{ksub}+({j}))*{dsub})+d+1]))")
        return (f"list_reduce(list_transform(range({dsub}), d -> {t}), "
                f"(a, b) -> a + b)")

    dl_assign = f"list_transform(range({nlist}), l -> {d2c('embedding', 'l')})"
    dl = f"list_transform(range({ksub}), j -> {d2('embedding', 'j')})"
    codes = (f"list_transform(range({m}), s -> "
             f"(list_position({dl}, list_min({dl})) - 1))")
    routed = (f"list_transform(list_slice(list_sort("
              f"list_transform(range({nlist}), l -> "
              f"{{'d': {d2c('probe_vec', 'l')}, 'l': l}})), 1, {nprobe}), "
              f"s -> s.l)")
    adc = (f"list_reduce(list_transform(range({m}), s -> "
           f"{d2('p.probe_vec', 'c.codes[s+1]')}), (a, b) -> a + b)")
    return f"""
WITH _ipq_cb AS (
    SELECT {ann.demo_pq_codebooks_sql(dim, m, ksub)} AS cb
), _ipq_cc AS (
    SELECT {ann.demo_ivf_centers_sql(dim, nlist)} AS cc
), _ipq_codes AS (
    SELECT vec_id,
           (list_position({dl_assign}, list_min({dl_assign})) - 1)
             AS list_id,
           {codes} AS codes
    FROM embeddings, _ipq_cb, _ipq_cc
), _ipq_routed AS (
    SELECT probe_id, probe_vec, unnest({routed}) AS list_id
    FROM (SELECT vec_id AS probe_id, embedding AS probe_vec
          FROM embeddings WHERE vec_id % 100 = 7), _ipq_cc
), _ipq_scored AS (
    SELECT p.probe_id, c.vec_id, round({adc}, 6) AS adc_dist
    FROM _ipq_codes c JOIN _ipq_routed p USING (list_id), _ipq_cb
)
SELECT probe_id, vec_id, adc_dist,
       cast(row_number() OVER (PARTITION BY probe_id
            ORDER BY adc_dist ASC, vec_id ASC) as int) AS rank
FROM _ipq_scored
QUALIFY rank <= {k}
"""


def q_pq_rerank(spark, sf_dir):
    """Two-stage retrieval: PQ/ADC shortlist (40) over the compressed
    code table, exact squared-L2 re-rank of the shortlist only (top 10)
    — the production recipe that keeps exact math off the corpus scan
    (operators/ann.py:pq_rerank_topk)."""
    e = _t(spark, sf_dir, "embeddings")
    cb = ann.demo_pq_codebooks(dim=64, m=16, ksub=64)
    enc = ann.pq_encode(e, cb)
    probes = (e.filter(F.col("vec_id") % 100 == 7)
              .select(F.col("vec_id").alias("probe_id"),
                      F.col("embedding").alias("probe_vec")))
    return ann.pq_rerank_topk(e, enc, probes, k=10, shortlist=40,
                              codebooks=cb)


def _pq_rerank_sql(k: int = 10, shortlist: int = 40) -> str:
    # ::DOUBLE before subtracting — DuckDB keeps FLOAT-FLOAT in single
    # precision, Spark casts the arrays to double first
    exact = ("list_reduce(list_transform(range(64), i -> "
             "(e.embedding[i+1]::DOUBLE - p.probe_vec[i+1]::DOUBLE) * "
             "(e.embedding[i+1]::DOUBLE - p.probe_vec[i+1]::DOUBLE)), "
             "(a, b) -> a + b)")
    return f"""
WITH _pr_cand AS (
    SELECT probe_id, vec_id FROM ({_pq_sql(k=shortlist)})
), _pr_probes AS (
    SELECT vec_id AS probe_id, embedding AS probe_vec FROM embeddings
    WHERE vec_id % 100 = 7
), _pr_scored AS (
    SELECT c.probe_id, c.vec_id, round({exact}, 6) AS l2_dist
    FROM _pr_cand c
    JOIN embeddings e USING (vec_id)
    JOIN _pr_probes p USING (probe_id)
)
SELECT probe_id, vec_id, l2_dist,
       cast(row_number() OVER (PARTITION BY probe_id
            ORDER BY l2_dist ASC, vec_id ASC) as int) AS rank
FROM _pr_scored
QUALIFY rank <= {k}
"""


_BM25_TERMS = ["spark", "window", "merge"]


def q_bm25(spark, sf_dir):
    """BM25 relevance search over the documents corpus: corpus stats (N,
    avgdl, per-term df) from ONE aggregate scan broadcast-cross-joined
    into a codegen scoring scan — two corpus scans, no driver collect
    (operators/search.py)."""
    d = _t(spark, sf_dir, "documents")
    return search.bm25_scores(d, _BM25_TERMS)


def q_champion_topk(spark, sf_dir):
    """Champion-list top-k retrieval (operators/search.champion_topk):
    each query term keeps only its top-c postings by tf before scoring —
    index-pruned approximate retrieval (Manning IR §7.1.3); c=8 is
    deliberately tight so the champion prune is exercised, and the
    oracle replays rank, rational weights, and the term-ordered sum."""
    d = _t(spark, sf_dir, "documents")
    return search.champion_topk(d, _BM25_TERMS, k=15, c=8)


def q_classifier_scores(spark, sf_dir):
    """Model-based quality filtering (CCNet/GPT-3 recipe): linear
    classifier over hashing-trick bag-of-words features, inference as ONE
    whole-stage-codegen JVM expression (weights ride the plan as an
    array literal; md5-prefix bucket hash is bit-identical in DuckDB, so
    the oracle replays the exact model — functions/text.py)."""
    d = _t(spark, sf_dir, "documents")
    w = tx.demo_classifier_weights(4096)
    return d.select(
        "doc_id",
        tx.hashed_bow_score_col(F.col("text"), w, bias=0.25)
        .alias("clf_score"))


def _bench_prefix_sql() -> str:
    return ("SELECT array_to_string("
            "regexp_split_to_array(trim(text), '\\s+')[1:20], ' ') AS text "
            "FROM documents WHERE doc_id % 31 = 0")


def q_gopher_gates(spark, sf_dir):
    """The remaining Gopher document-shape gates (Rae et al. 2021 App. A)
    beyond quality/repetition: mean word length, symbol-to-word ratio,
    bullet/ellipsis line fractions, alphabetic-word fraction, stopword
    count — all JVM HOF/regex expressions, DuckDB-mirrored."""
    d = _t(spark, sf_dir, "documents")
    cols = tx.gopher_gate_cols(F.col("text"))
    return d.select("doc_id", *[v.alias(k) for k, v in cols.items()])


def q_script_mix(spark, sf_dir):
    """Per-script character fractions (Latin/Cyrillic/Greek/Han) over the
    multiscript corpus — the language-mix audit for claimed-lang vs
    actual-script mismatches.  Identical regex ranges in DuckDB
    (\\x{...} RE2 escapes)."""
    d = _docs_uni(spark, sf_dir)
    cols = tx.script_fraction_cols(F.col("text"))
    return d.select("doc_id", *[v.alias(k) for k, v in cols.items()])


def q_exact_dedup(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return dedup.exact_dedup(d)


def q_ngram_jaccard(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(d, n=3, threshold=0.2)


def q_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup candidates — full value-level oracle: the DuckDB
    side re-derives the FNV-1a token hashes, the arithmetic shingle-hash
    combination, the seeded permutations (inlined constants) and the
    band-equality candidate generation (see _minhash_lsh_oracle)."""
    d = _t(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(d, threshold=0.35)


def q_near_dup_components(spark, sf_dir):
    """MinHash-LSH pairs -> connected components (min-label propagation) —
    what a dedup pipeline actually keeps: one canonical representative per
    near-dup cluster.  Oracle: the minhash pair SQL feeds a DuckDB
    RECURSIVE CTE computing min-reachable-id per node."""
    d = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(d, threshold=0.35)
    return (dedup.connected_components(pairs)
            .select(F.col("id").alias("doc_id"),
                    F.col("component").cast("bigint").alias("component")))


def q_near_dup_keep(spark, sf_dir):
    """The full near-dedup pipeline a corpus user runs: MinHash pairs ->
    components -> drop every non-representative member (anti-join)."""
    d = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(d, threshold=0.35)
    return (dedup.dedup_keep(d, pairs)
            .select("doc_id", "lang").orderBy("doc_id"))


def q_minhash_incremental(spark, sf_dir):
    """Delta near-dedup: pairs involving at least one NEW doc (odd ids),
    never old x old — old-only band buckets are semi-join-pruned and the
    in-bucket old x old filter sits inside the pair HOF
    (dedup.minhash_lsh_pairs_incremental).  Oracle: the full batch pair
    SQL filtered to rows touching the new half — the operator's defining
    invariant (incr == batch(all) - batch(old)) expressed directly."""
    d = _t(spark, sf_dir, "documents")
    old = d.filter(F.col("doc_id") % 2 == 0)
    new = d.filter(F.col("doc_id") % 2 == 1)
    return dedup.minhash_lsh_pairs_incremental(new, old, threshold=0.35)


def q_curate_keep(spark, sf_dir):
    """The COMPOSED training-data curation pipeline
    (geolake_spark.pipeline.curate_pages): lang allowlist -> quality gate
    -> exact dedup -> MinHash near-dup keep, with quality/token_count
    columns.  Oracle: the same funnel in DuckDB — quality_score_sql gate,
    md5 min-id representative CTE, the minhash pair SQL composed over the
    filtered base, RECURSIVE min-label components, anti-filter."""
    d = _t(spark, sf_dir, "documents")
    kept = curate_pages(d, langs=["en", "de", "zh"], min_quality=0.2,
                        near_threshold=0.35)
    return (kept.select("doc_id", "lang", "quality", "token_count")
            .orderBy("doc_id"))


# Python str.split()'s full whitespace set (the byte-mask tokenizer's
# contract, sim.py _UWS3 + ASCII): cycled deterministically through the
# multiscript corpus below so every separator the tokenizer handles is
# value-oracled, not just pytest-covered.
_UWS_CHARS = ["\t", "\n", "\x0b", "\x0c", "\r", "\x1c", "\x1d",
              "\x1e", "\x1f", " ", "\x85", "\xa0", "\u1680",
              "\u2000", "\u2001", "\u2002", "\u2003", "\u2004",
              "\u2005", "\u2006", "\u2007", "\u2008", "\u2009",
              "\u200a", "\u2028", "\u2029", "\u202f", "\u205f",
              "\u3000"]
# already-lowercase non-ASCII words (2-4 byte UTF-8 incl. a supplementary-
# plane char) + an uppercase ASCII word exercising lower(); lowercase on
# purpose for the non-ASCII parts so Python's and DuckDB's lower() cannot
# diverge (final-sigma / dotted-I locale edge cases)
_UNI_WORDS = ("привет мир", "你好世界文档", "κόσμος 𝄞clef MIXEDCase")


def _docs_uni(spark, sf_dir):
    """Deterministic multiscript corpus derived from the documents table:
    a 1-in-4 doc_id slice with Cyrillic/CJK/Greek words spliced mid-text,
    separated by Unicode whitespace cycled over the FULL Python split set,
    plus planted near-dups (tail words appended, doc_id + 1000000).
    Mirrored exactly by :func:`_docs_uni_sql` — the oracle's value-hash
    compare is what proves the two derivations (and then the two MinHash/
    SimHash pipelines) agree byte-for-byte."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    wsarr = F.array(*[F.lit(c) for c in _UWS_CHARS])

    def pick(off):
        idx = ((F.col("doc_id") + off) % len(_UWS_CHARS) + 1).cast("int")
        return F.element_at(wsarr, idx)

    w1, w2, w3 = _UNI_WORDS
    injected = (d.filter(F.col("doc_id") % 4 == 0)
                .select("doc_id",
                        F.concat(F.substring(F.col("text"), 1, 40),
                                 pick(0), F.lit(w1), pick(7), F.lit(w2),
                                 pick(13), F.lit(w3), pick(19),
                                 F.expr("substring(text, 41)"))
                        .alias("text")))
    dups = (injected.filter(F.col("doc_id") % 20 == 0)
            .select((F.col("doc_id") + 1000000).alias("doc_id"),
                    F.concat(F.col("text"),
                             F.lit(" extra near dup tail words here"))
                    .alias("text")))
    return injected.unionByName(dups)


def _docs_uni_sql() -> str:
    """DuckDB mirror of :func:`_docs_uni` (doc_id, text)."""
    n = len(_UWS_CHARS)
    ws_list = "[" + ", ".join(f"chr({ord(c)})" for c in _UWS_CHARS) + "]"

    def pick(off: int) -> str:
        return f"{ws_list}[cast((doc_id + {off}) % {n} AS INT) + 1]"

    w1, w2, w3 = _UNI_WORDS
    inj = (f"substr(text, 1, 40) || {pick(0)} || '{w1}' || {pick(7)} || "
           f"'{w2}' || {pick(13)} || '{w3}' || {pick(19)} || "
           f"substr(text, 41)")
    return (f"SELECT doc_id, {inj} AS text FROM documents "
            f"WHERE doc_id % 4 = 0 "
            f"UNION ALL "
            f"SELECT doc_id + 1000000 AS doc_id, "
            f"{inj} || ' extra near dup tail words here' AS text "
            f"FROM documents WHERE doc_id % 20 = 0")


def q_minhash_lsh_uni(spark, sf_dir):
    """MinHash+LSH over the multiscript corpus — the UTF-8 byte-mask
    tokenizer's value oracle: the DuckDB side tokenizes on the full
    Unicode whitespace set and FNV-hashes UTF-8 BYTES (round-5 VERDICT
    task; until now the non-ASCII path had only pytest coverage)."""
    return dedup.minhash_lsh_pairs(_docs_uni(spark, sf_dir), threshold=0.35)


def q_simhash_uni(spark, sf_dir):
    """SimHash over the multiscript corpus (same UTF-8 oracle rationale;
    bands > max_hamming keeps the all-pairs SQL exact)."""
    return dedup.simhash_pairs(_docs_uni(spark, sf_dir), max_hamming=8)


def q_simhash(spark, sf_dir):
    """SimHash near-dup at hamming <= 8 with 9 bands (> max_hamming =>
    provably total recall), so the all-pairs DuckDB Hamming filter is an
    exact value-level oracle (see _simhash_oracle)."""
    d = _t(spark, sf_dir, "documents")
    return dedup.simhash_pairs(d, max_hamming=8)


def q_embedding_topk(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    probes = (e.filter(F.col("vec_id") < 3)
              .select(F.col("vec_id").alias("probe_id"),
                      F.col("embedding").cast("array<double>").alias("probe_vec")))
    v = e.withColumn("embedding", F.col("embedding").cast("array<double>"))
    out = ann.cosine_topk(v, probes, k=5)
    return out.select("probe_id", "vec_id", "cosine",
                      F.col("rank").cast("bigint").alias("rank"))


def q_embedding_neardup(spark, sf_dir):
    """exact all-pairs cosine >= 0.35 (brute force is the oracle-checked
    baseline; the LSH-bucketed scale path is q_embedding_neardup_lsh)."""
    e = (_t(spark, sf_dir, "embeddings")
         .select(F.col("vec_id"), F.col("embedding").cast("array<double>").alias("v")))
    a = e.select(F.col("vec_id").alias("id_a"), F.col("v").alias("v_a"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("v").alias("v_b"))
    return (a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
            .withColumn("cosine", F.round(sim.cosine_col(F.col("v_a"), F.col("v_b")), 6))
            .filter(F.col("cosine") >= 0.35)
            .select("id_a", "id_b", "cosine"))


def q_embedding_neardup_lsh(spark, sf_dir):
    """multi-table random-hyperplane LSH near-dup: seeded hyperplanes are
    inlined into the DuckDB oracle, which replicates candidate generation
    (band tables + bucket cap) exactly — full value-level oracle."""
    e = _t(spark, sf_dir, "embeddings")
    return dedup.embedding_neardup_pairs(
        e.withColumn("embedding", F.col("embedding").cast("array<double>")),
        threshold=0.35, dim=64)


def q_fingerprints(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", tx.fingerprint_col(F.col("text")).alias("fp"))


def q_tile_pyramid(spark, sf_dir):
    """multi-zoom pyramid (z4..z6) built by parent aggregation of child
    tiles — one raw scan for all levels."""
    ev = _events_geo(spark, sf_dir)
    out = tiles.build_pyramid(ev, max_zoom=6, min_zoom=4)
    return out.select(F.col("tile_z").cast("int").alias("tile_z"),
                      "tile_x", "tile_y", "page_count")


def q_rolling_avg(spark, sf_dir):
    """analytic window with a rows frame (§2.5): 3-event trailing mean of
    value per user, deterministic order (ts, event_id)."""
    ev = _t(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(-2, 0))
    return (ev.withColumn("rolling_avg", F.round(F.avg("value").over(w), 6))
            .select("event_id", "user_id", "rolling_avg"))


def q_tile_distinct_users(spark, sf_dir):
    """per-tile exact distinct counts (§2.4 A5): distinct users per z6 tile."""
    ev = _events_geo(spark, sf_dir)
    t = tiles.assign_tiles(ev, zoom=6)
    return (t.groupBy("tile_z", "tile_x", "tile_y")
            .agg(F.count_distinct("user_id").alias("n_users"),
                 F.count("*").alias("n_events")))


def q_regrid_values(spark, sf_dir):
    """geolake to_regular analogue (W4): event values regridded onto the
    z6 tile pyramid (per-tile nan-skipping mean)."""
    ev = _events_geo(spark, sf_dir)
    out = tiles.regrid(ev, zoom=6, value_col="value", operator="nanmean")
    return out.select("tile_z", "tile_x", "tile_y",
                      F.round("value", 6).alias("mean_value"), "n_points")


def q_hll_users(spark, sf_dir):
    """HyperLogLog distinct users per event type (operators/sketches.py)
    next to the exact count — deterministic register math, so the DuckDB
    oracle replays the sketch bit-identically."""
    ev = _t(spark, sf_dir, "events")
    approx = sketches.approx_distinct_hll(ev, "user_id", ["event_type"], p=9)
    exact = (ev.groupBy("event_type")
             .agg(F.count_distinct("user_id").alias("n_exact")))
    return exact.join(approx, "event_type")


def q_cms_heavy_users(spark, sf_dir):
    """Count-min heavy hitters (operators/sketches.py): users with
    estimated event count >= 80, exact count alongside (est >= exact
    always — the CMS one-sided error, visible in the result)."""
    ev = _t(spark, sf_dir, "events")
    sk = sketches.cms_sketch(ev, "user_id", depth=4, width=1024)
    cand = ev.select("user_id").distinct()
    est = sketches.cms_estimate(sk, cand, "user_id", depth=4, width=1024)
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_exact"))
    return (est.join(exact, "user_id")
            .filter(F.col("est_count") >= 80)
            .select("user_id", "est_count", "n_exact"))


def q_geohash_rollup(spark, sf_dir):
    """Geohash cells (functions/geo.geohash_col — one codegen expression,
    no UDF) as the third cell scheme next to the res-grid and S2: per-cell
    doc counts at precision 4."""
    d = _docs_geo(spark, sf_dir)
    # group on the 8-byte integer cell; stringify AFTER aggregation so
    # only distinct cells pay the base-32 concat (2x at 256M rows)
    return (d.withColumn("ghi", geo.geohash_int_col(F.col("lat"),
                                                    F.col("lon"), 4))
            .groupBy("ghi").agg(F.count(F.lit(1)).alias("n_docs"),
                                F.round(F.avg("lat"), 6).alias("avg_lat"))
            .select(geo.geohash_from_int_col(F.col("ghi"), 4).alias("gh4"),
                    "n_docs", "avg_lat"))


def q_trip_stats(spark, sf_dir):
    """Gap-based trip segmentation + per-trip rollup (operators/trips.py):
    one window shuffle, shuffle-free rollup, integer-microsecond gaps."""
    ev = _events_geo(spark, sf_dir)
    out = trips.trip_stats(ev, gap_minutes=480.0)
    return out.select("user_id", "trip_seq", "n_points", "start_ts",
                      "end_ts", "duration_us",
                      F.round("path_km", 4).alias("path_km"))


def q_json_props(spark, sf_dir):
    """JSON scalar functions (§2.8): extract props.k, aggregate."""
    ev = _t(spark, sf_dir, "events")
    return (ev.withColumn("k", F.get_json_object("props", "$.k").cast("bigint"))
            .groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.avg("k"), 6).alias("avg_k"),
                 F.max("k").alias("max_k")))


def q_cube_doc_stats(spark, sf_dir):
    """grouping sets / cube (SURVEY §2.4 A5 — native Catalyst partial+final
    hash aggregation)."""
    d = _t(spark, sf_dir, "documents")
    return (d.cube("lang", "source")
            .agg(F.count("*").alias("n_docs"),
                 F.round(F.avg("n_chars"), 6).alias("avg_chars")))


def q_customers_without_orders(spark, sf_dir):
    """anti join (SURVEY §2.3 J6 — the checkpoint-resume primitive):
    customers with no urgent-priority order."""
    cu = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return (cu.join(o, cu.c_custkey == o.o_custkey, "left_anti")
            .select("c_custkey", "c_name"))


def q_customer_semijoin(spark, sf_dir):
    """semi join: customers having >= 1 urgent-priority order."""
    cu = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return (cu.join(o, cu.c_custkey == o.o_custkey, "left_semi")
            .select("c_custkey", "c_mktsegment"))


def q_media_meta(spark, sf_dir):
    """multimodal plumbing: binary payload -> typed metadata via Arrow
    mapInPandas (deterministic fake decode — SQL-mirrorable, so the whole
    mapInPandas path gets a value-level oracle)."""
    from geolake_spark.functions import media
    d = (_t(spark, sf_dir, "documents")
         .select("doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")))
    out = media.decode_image_meta(d)
    return out.select("doc_id", F.col("meta.format").alias("format"),
                      F.col("meta.byte_len").alias("byte_len"),
                      F.col("meta.width").cast("bigint").alias("width"),
                      F.col("meta.height").cast("bigint").alias("height"))


def q_media_features(spark, sf_dir):
    """byte-histogram feature extraction (embedding stand-in) + grouped
    feature norms — value-level oracle: DuckDB re-derives the histogram
    per byte bucket and emulates the float32 quantization of the feature
    array (see oracle)."""
    from geolake_spark.functions import media, sim
    d = (_t(spark, sf_dir, "documents")
         .select("doc_id", "lang", F.encode(F.col("text"), "UTF-8").alias("payload")))
    out = media.extract_image_features(d, dim=16)
    return (out.withColumn("fnorm", F.round(sim.norm_col(
        F.col("features").cast("array<double>")), 6))
        .groupBy("lang").agg(F.count("*").alias("n"),
                             F.round(F.avg("fnorm"), 6).alias("avg_fnorm")))


def q_ivf_topk(spark, sf_dir):
    """IVF ANN with nprobe = n_clusters: probing every inverted list makes
    the result provably exact, so the brute-force SQL top-k is a full
    value-level oracle for the IVF machinery (centroid training, list
    assignment UDF, probe routing, per-list search, merge + rank).
    Approximate recall at nprobe < n_clusters is asserted separately in
    tests/test_ann.py."""
    e = _t(spark, sf_dir, "embeddings")
    probes = (e.filter(F.col("vec_id") < 3)
              .select(F.col("vec_id").alias("probe_id"),
                      F.col("embedding").cast("array<double>").alias("probe_vec")))
    v = e.withColumn("embedding", F.col("embedding").cast("array<double>"))
    return ann.ivf_topk(v, probes, k=5, n_clusters=16, nprobe=16)


def q_ivf_table(spark, sf_dir):
    """Distributed probe-TABLE IVF (ann.ivf_topk_table): probes explode to
    their nprobe nearest lists via an Arrow routing UDF and candidates come
    from a list_id equi-join — no driver collect (the 100 TB probe-table
    path).  nprobe = n_clusters again makes the result provably exact, so
    the same brute-force SQL top-k fully value-checks the routing UDF,
    list assignment and merge/rank."""
    e = _t(spark, sf_dir, "embeddings")
    probes = (e.filter(F.col("vec_id") < 3)
              .select(F.col("vec_id").alias("probe_id"),
                      F.col("embedding").cast("array<double>").alias("probe_vec")))
    v = e.withColumn("embedding", F.col("embedding").cast("array<double>"))
    centers = ann.sample_centers(v, n_clusters=16)
    return ann.ivf_topk_table(v, probes, k=5, nprobe=16, centers=centers)


def _docs_sent(spark, sf_dir):
    """Sentence-structured corpus (documents.text has no punctuation):
    3-5 sentences per doc by pure int arithmetic, mirrored by
    ``_DOCS_SENT_SQL`` — exercises multi-terminator runs, question/
    exclamation splits, and an unterminated tail."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    t = F.concat(
        F.lit("Topic "), (i % 7).cast("string"),
        F.lit(" intro. Details follow "), (i % 5).cast("string"),
        F.lit("! Any questions? Wrap up "), (i % 3).cast("string"),
        F.lit("."),
        F.when(i % 4 == 0, F.lit(" Tail thought without terminator"))
        .otherwise(F.lit("")),
        F.when(i % 6 == 2, F.lit(" Extra exclaim! And more? Yes..."))
        .otherwise(F.lit("")))
    return d.select("doc_id", t.alias("text"))


_DOCS_SENT_SQL = (
    "SELECT doc_id, 'Topic ' || cast(doc_id % 7 AS varchar) || "
    "' intro. Details follow ' || cast(doc_id % 5 AS varchar) || "
    "'! Any questions? Wrap up ' || cast(doc_id % 3 AS varchar) || '.' "
    "|| (CASE WHEN doc_id % 4 = 0 THEN ' Tail thought without terminator' "
    "ELSE '' END) "
    "|| (CASE WHEN doc_id % 6 = 2 THEN ' Extra exclaim! And more? Yes...' "
    "ELSE '' END) AS text FROM documents")


# encoding-damage snippets planted into the mojibake corpus; the SQL
# twin rebuilds each one chr-by-chr so both engines append identical
# code points (pasting multibyte residues into SQL literals risks a
# silent editor/transcoding divergence)
_MOJI_SNIPS = {
    "resid": " cafÃ© said â€™",  # caf+Ã© + â€™
    "repl": " bad�char",                             # U+FFFD
    "ctrl": " ctl\x01end",                                # C0 control
}


def _sql_chrs(s: str) -> str:
    return " || ".join(f"chr({ord(c)})" for c in s)


def _docs_moji(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    i = F.col("doc_id")
    t = F.concat(
        F.col("text"),
        F.when(i % 11 == 3, F.lit(_MOJI_SNIPS["resid"]))
        .otherwise(F.lit("")),
        F.when(i % 13 == 5, F.lit(_MOJI_SNIPS["repl"]))
        .otherwise(F.lit("")),
        F.when(i % 17 == 2, F.lit(_MOJI_SNIPS["ctrl"]))
        .otherwise(F.lit("")))
    return d.select("doc_id", t.alias("text"))


_DOCS_MOJI_SQL = (
    "SELECT doc_id, text "
    f"|| (CASE WHEN doc_id % 11 = 3 THEN {_sql_chrs(_MOJI_SNIPS['resid'])} "
    "ELSE '' END) "
    f"|| (CASE WHEN doc_id % 13 = 5 THEN {_sql_chrs(_MOJI_SNIPS['repl'])} "
    "ELSE '' END) "
    f"|| (CASE WHEN doc_id % 17 = 2 THEN {_sql_chrs(_MOJI_SNIPS['ctrl'])} "
    "ELSE '' END) AS text FROM documents")


def q_sentences(spark, sf_dir):
    """Sentence segmentation + lead-3 extractive baseline
    (functions/text.sentences_col / lead_sentences_col): terminator-run
    split, per-sentence trim/strip, first-3 join — all codegen array
    HOFs, zero Python."""
    d = _docs_sent(spark, sf_dir)
    return d.select(
        "doc_id",
        F.size(tx.sentences_col(F.col("text"))).alias("n_sentences"),
        tx.lead_sentences_col(F.col("text"), 3).alias("lead3"))


def q_mojibake(spark, sf_dir):
    """Encoding-damage gate (functions/text.mojibake_cols): U+FFFD,
    double-encoding residue bigrams, C0 controls — three regexp_count
    scans per row, map-only (the corpus-hygiene filter that precedes
    any web-text training run)."""
    d = _docs_moji(spark, sf_dir)
    cols = tx.mojibake_cols(F.col("text"))
    return d.select("doc_id", *[v.alias(k) for k, v in cols.items()])


# double-mod (997/1009 before the node modulus) so the edge pair is
# NOT a function of doc_id mod 60 — the single-mod form degenerates to
# <=60 possible edges and a triangle-free graph (a worthless oracle)
_TRI_EDGES_SQL = ("SELECT (doc_id*doc_id + 3*doc_id) % 997 % 60 AS src, "
                  "(doc_id*doc_id*5 + doc_id*13 + 7) % 1009 % 60 AS dst "
                  "FROM documents")
_KCORE_EDGES_SQL = (
    "SELECT (doc_id*doc_id + 3*doc_id) % 997 % 40 AS src, "
    "(doc_id*doc_id*5 + doc_id*13 + 7) % 1009 % 40 AS dst FROM documents")


def q_triangles(spark, sf_dir):
    """Per-node triangle counts (operators/graph.triangle_counts, Suri
    & Vassilvitskii WWW'11): degree-ordered orientation kills the
    last-reducer hub blowup; wedges stream through the two-level
    posexplode and close against the canonical edge set with one join.
    Integer-exact."""
    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    edges = d.select(((i * i + 3 * i) % 997 % 60).alias("src"),
                     ((i * i * 5 + i * 13 + 7) % 1009 % 60).alias("dst"))
    return graph.triangle_counts(edges)


def q_clustering(spark, sf_dir):
    """Local clustering coefficients (operators/graph.
    clustering_coefficients): one fixed rational finisher over the
    degree-ordered triangle plan — no extra shuffle."""
    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    edges = d.select(((i * i + 3 * i) % 997 % 60).alias("src"),
                     ((i * i * 5 + i * 13 + 7) % 1009 % 60).alias("dst"))
    return graph.clustering_coefficients(edges)


def q_kcore(spark, sf_dir):
    """k-core decomposition (operators/graph.k_core, Seidman 1983):
    iterative degree peel to the 14-core of the arithmetic graph —
    partial peel at sf0.01 (26 of 40 nodes survive), converged rounds
    are no-ops so the 10-round oracle unroll replays it exactly."""
    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    edges = d.select(((i * i + 3 * i) % 997 % 40).alias("src"),
                     ((i * i * 5 + i * 13 + 7) % 1009 % 40).alias("dst"))
    return graph.k_core(edges, k=14, n_iter=10)


def q_transitions(spark, sf_dir):
    """Clickstream Markov transition matrix
    (operators/trips.transition_counts): consecutive event-type pairs
    per user in (ts, id) order, chains cut at 60-min session gaps —
    one entity window + one pair groupBy."""
    return trips.transition_counts(_t(spark, sf_dir, "events"),
                                   gap_minutes=60.0)


def q_attribution(spark, sf_dir):
    """First/last-touch conversion attribution
    (operators/trips.attribution): per purchase, the min/max
    struct(epoch_us, id, type) over a RANGE frame of the 120 preceding
    minutes — deterministic arg-extrema, both models in ONE Window
    node."""
    return trips.attribution(_t(spark, sf_dir, "events"),
                             lookback_minutes=120.0)


_SSSP_EDGES_SQL = (
    "SELECT doc_id % 80 AS src, (doc_id*13 + 7) % 80 AS dst, "
    "doc_id % 9 + 1 AS w FROM documents "
    "UNION ALL SELECT doc_id % 80, (doc_id*29 + 11) % 80, "
    "doc_id % 5 + 1 FROM documents")
_SSSP_SEEDS_SQL = "SELECT doc_id AS node FROM documents WHERE doc_id < 2"


def q_sssp(spark, sf_dir):
    """Hop-bounded weighted shortest paths
    (operators/graph.weighted_sssp): distributed Bellman-Ford, 6
    relaxation rounds from 2 seeds — join + groupBy-min per round with
    per-round lineage truncation; integer costs, exact."""
    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    edges = (d.select((i % 80).alias("src"), ((i * 13 + 7) % 80).alias("dst"),
                      (i % 9 + 1).alias("w"))
             .unionAll(d.select((i % 80).alias("src"),
                                ((i * 29 + 11) % 80).alias("dst"),
                                (i % 5 + 1).alias("w"))))
    seeds = d.filter(i < 2).select(i.alias("node"))
    return graph.weighted_sssp(edges, seeds, n_iter=6)


# WKT corpora: coordinates are INTEGERS + dyadic decimal suffixes
# formatted identically by both engines (never format a computed
# double into text — engine float-to-string rules differ); every 19th
# doc is a non-POINT / non-POLYGON line to exercise the garbage path
_DOCS_WKT_POINTS_SQL = (
    "SELECT doc_id, CASE WHEN doc_id % 19 = 4 "
    "THEN 'LINESTRING (0 0, 1 1)' "
    "ELSE 'POINT (' || cast(doc_id % 340 - 170 AS varchar) || '.25 ' "
    "|| cast((doc_id * 7) % 140 - 70 AS varchar) || '.5)' END AS wkt "
    "FROM documents")

_DOCS_WKT_POLYS_SQL = (
    "SELECT doc_id AS polygon_id, "
    "'POLYGON ((' "
    "|| cast(doc_id % 300 - 150 AS varchar) || '.0 ' "
    "|| cast((doc_id * 3) % 120 - 60 AS varchar) || '.0, ' "
    "|| cast(doc_id % 300 - 148 AS varchar) || '.0 ' "
    "|| cast((doc_id * 3) % 120 - 60 AS varchar) || '.0, ' "
    "|| cast(doc_id % 300 - 148 AS varchar) || '.0 ' "
    "|| cast((doc_id * 3) % 120 - 58 AS varchar) || '.0, ' "
    "|| cast(doc_id % 300 - 150 AS varchar) || '.0 ' "
    "|| cast((doc_id * 3) % 120 - 58 AS varchar) || '.0))' AS wkt "
    "FROM documents")


def q_wkt_points(spark, sf_dir):
    """WKT POINT ingestion (functions/geo.wkt_point_col): regexp parse
    + try_cast (garbage rows -> NULLs, never a job failure under ANSI
    mode) + grid-cell assignment — the text-format read side of the
    GeoJSON sink."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    wkt = F.when(i % 19 == 4, F.lit("LINESTRING (0 0, 1 1)")).otherwise(
        F.concat(F.lit("POINT ("), (i % 340 - 170).cast("string"),
                 F.lit(".25 "), ((i * 7) % 140 - 70).cast("string"),
                 F.lit(".5)")))
    lon, lat = geo.wkt_point_col(wkt)
    return d.select("doc_id", lon.alias("lon"), lat.alias("lat"),
                    geo.grid_cell_col(lat, lon, 5).alias("cell"))


def q_wkt_raster(spark, sf_dir):
    """WKT POLYGON -> raster chain (geo.wkt_polygon_rings_col feeding
    spatial.polygon_raster_cells): innermost-paren ring extraction and
    coordinate parse entirely in codegen HOFs, then the audited
    even-odd rasterizer — proving external vector text drops straight
    into the grid machinery."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    x0 = (i % 300 - 150).cast("string")
    x1 = (i % 300 - 148).cast("string")
    y0 = ((i * 3) % 120 - 60).cast("string")
    y1 = ((i * 3) % 120 - 58).cast("string")
    wkt = F.concat(
        F.lit("POLYGON (("), x0, F.lit(".0 "), y0, F.lit(".0, "),
        x1, F.lit(".0 "), y0, F.lit(".0, "),
        x1, F.lit(".0 "), y1, F.lit(".0, "),
        x0, F.lit(".0 "), y1, F.lit(".0))"))
    polys = d.select(F.col("doc_id").alias("polygon_id"),
                     geo.wkt_polygon_rings_col(wkt).alias("rings"))
    return spatial.polygon_raster_cells(polys, res=6)


def _wkt_polys(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    x0 = (i % 300 - 150).cast("string")
    x1 = (i % 300 - 148).cast("string")
    y0 = ((i * 3) % 120 - 60).cast("string")
    y1 = ((i * 3) % 120 - 58).cast("string")
    wkt = F.concat(
        F.lit("POLYGON (("), x0, F.lit(".0 "), y0, F.lit(".0, "),
        x1, F.lit(".0 "), y0, F.lit(".0, "),
        x1, F.lit(".0 "), y1, F.lit(".0, "),
        x0, F.lit(".0 "), y1, F.lit(".0))"))
    return d.select(F.col("doc_id").alias("polygon_id"),
                    geo.wkt_polygon_rings_col(wkt).alias("rings"))


# dense crossing-grid corpus for segment intersections: alternating
# ~0.5-deg horizontal/vertical segments scattered over a few degrees —
# planted structure verified (165 proper crossings at sf0.01)
_SEGS_X_SQL = (
    "SELECT doc_id AS seg_id, "
    "CASE WHEN doc_id % 2 = 0 THEN (doc_id*3 % 211)/100.0 "
    "ELSE (doc_id*11 % 211)/100.0 END AS x1, "
    "CASE WHEN doc_id % 2 = 0 THEN (doc_id*7 % 397)/100.0 "
    "ELSE (doc_id*13 % 397)/100.0 END AS y1, "
    "CASE WHEN doc_id % 2 = 0 THEN (doc_id*3 % 211)/100.0 + 0.5 "
    "ELSE (doc_id*11 % 211)/100.0 END AS x2, "
    "CASE WHEN doc_id % 2 = 0 THEN (doc_id*7 % 397)/100.0 "
    "ELSE (doc_id*13 % 397)/100.0 + 0.5 END AS y2 "
    "FROM documents WHERE doc_id % 3 = 0")


_DOCS_WKT_DST_SQL = (
    "SELECT doc_id AS polygon_id, "
    "'POLYGON ((' "
    "|| cast(doc_id * 11 % 300 - 150 AS varchar) || '.0 ' "
    "|| cast(doc_id * 13 % 120 - 60 AS varchar) || '.0, ' "
    "|| cast(doc_id * 11 % 300 - 146 AS varchar) || '.0 ' "
    "|| cast(doc_id * 13 % 120 - 60 AS varchar) || '.0, ' "
    "|| cast(doc_id * 11 % 300 - 146 AS varchar) || '.0 ' "
    "|| cast(doc_id * 13 % 120 - 57 AS varchar) || '.0, ' "
    "|| cast(doc_id * 11 % 300 - 150 AS varchar) || '.0 ' "
    "|| cast(doc_id * 13 % 120 - 57 AS varchar) || '.0))' AS wkt "
    "FROM documents WHERE doc_id % 5 = 0")


def _wkt_dst_polys(spark, sf_dir):
    d = (_t(spark, sf_dir, "documents").select("doc_id")
         .filter(F.col("doc_id") % 5 == 0))
    i = F.col("doc_id")
    x0 = (i * 11 % 300 - 150).cast("string")
    x1 = (i * 11 % 300 - 146).cast("string")
    y0 = (i * 13 % 120 - 60).cast("string")
    y1 = (i * 13 % 120 - 57).cast("string")
    wkt = F.concat(
        F.lit("POLYGON (("), x0, F.lit(".0 "), y0, F.lit(".0, "),
        x1, F.lit(".0 "), y0, F.lit(".0, "),
        x1, F.lit(".0 "), y1, F.lit(".0, "),
        x0, F.lit(".0 "), y1, F.lit(".0))"))
    return d.select(F.col("doc_id").alias("polygon_id"),
                    geo.wkt_polygon_rings_col(wkt).alias("rings"))


def q_areal_transfer(spark, sf_dir):
    """Areal interpolation (operators/spatial.areal_transfer): source
    polygon values split across destination zones by shared-cell
    proportion — two zero-shuffle rasterizations, one cell equi-join,
    src-ordered folds."""
    src = (_wkt_polys(spark, sf_dir)
           .withColumn("value", (F.col("polygon_id") % 100 + 1)
                       .cast("double")))
    return spatial.areal_transfer(src, _wkt_dst_polys(spark, sf_dir),
                                  res=6)


def q_segment_intersections(spark, sf_dir):
    """Un-noded crossing detection (operators/spatial.
    segment_intersections): bbox-cell-blocked candidate self-join, then
    exact integer orientation tests — proper crossings only; the
    crossing point is one fixed float sequence."""
    d = (_t(spark, sf_dir, "documents").select("doc_id")
         .filter(F.col("doc_id") % 3 == 0))
    i = F.col("doc_id")
    h = (i % 2 == 0)
    x1 = F.when(h, (i * 3 % 211) / 100.0).otherwise((i * 11 % 211) / 100.0)
    y1 = F.when(h, (i * 7 % 397) / 100.0).otherwise((i * 13 % 397) / 100.0)
    segs = d.select(i.alias("seg_id"), x1.alias("x1"), y1.alias("y1"),
                    F.when(h, x1 + 0.5).otherwise(x1).alias("x2"),
                    F.when(h, y1).otherwise(y1 + 0.5).alias("y2"))
    return spatial.segment_intersections(segs, res=7)


def q_stitch(spark, sf_dir):
    """Polyline assembly (operators/spatial.stitch_segments): exact
    endpoint identity packed into one int64 node key, transitive
    closure via O(log n) star-contraction CC."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    g = F.expr("doc_id div 10")
    x1 = (i % 10) * 0.01 + (g % 30) * 1.0
    x2 = (i % 10 + 1) * 0.01 + (g % 30) * 1.0
    y = (g * 7 % 90) * 1.0
    segs = d.select(i.alias("seg_id"), x1.alias("x1"), y.alias("y1"),
                    x2.alias("x2"), y.alias("y2"))
    return spatial.stitch_segments(segs)


def q_redirects(spark, sf_dir):
    """Redirect/canonical chain resolution (operators/links.
    resolve_redirects): path doubling over the mapping-sized table —
    6 rounds cover 64-hop chains; cycles and over-length chains come
    back flagged unresolved with NULL target (stated contract)."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    e1 = d.filter(i % 8 != 0).select(i.alias("src"), (i - 1).alias("dst"))
    e2 = d.filter(i % 24 == 0).select(i.alias("src"), (i + 4).alias("dst"))
    return links.resolve_redirects(e1.unionAll(e2), rounds=4)


def q_interval_overlaps(spark, sf_dir):
    """Interval x interval overlap join (operators/ranges.
    interval_overlap_join): bucketized hash equi-join, each pair
    emitted exactly once via overlap-start bucket ownership (no
    distinct shuffle)."""
    from geolake_spark.operators import ranges
    d = _t(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    left = (d.filter(i % 2 == 0)
            .select(i.alias("l_id"), ((i * 3 % 997) * 1.0).alias("lo"),
                    ((i * 3 % 997) * 1.0 + 2.0).alias("hi")))
    right = (d.filter(i % 2 == 1)
             .select(i.alias("r_id"), ((i * 7 % 997) * 1.0).alias("lo"),
                     ((i * 7 % 997) * 1.0 + 3.0).alias("hi")))
    return ranges.interval_overlap_join(left, right)


def _iv_overlap_sql() -> str:
    from geolake_spark.operators import ranges
    # NB: DuckDB "* 1.0" yields DECIMAL (not DOUBLE) — cast explicitly
    left = ("SELECT doc_id AS l_id, cast(doc_id*3 % 997 AS DOUBLE) AS lo, "
            "cast(doc_id*3 % 997 AS DOUBLE) + 2.0 AS hi FROM documents "
            "WHERE doc_id % 2 = 0")
    right = ("SELECT doc_id AS r_id, cast(doc_id*7 % 997 AS DOUBLE) AS lo, "
             "cast(doc_id*7 % 997 AS DOUBLE) + 3.0 AS hi FROM documents "
             "WHERE doc_id % 2 = 1")
    return ranges.interval_overlap_join_sql(left, right,
                                            right_cols="r.r_id")


def q_collapse_repeats(spark, sf_dir):
    """Retransmission filter (operators/trips.collapse_repeats): drop
    events repeating the entity's previous payload within the window —
    one lag window, no Python.  Corpus plants repeats by coarsening
    event_type/value."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts",
        (F.col("event_id") % 3).alias("sig"))
    return trips.collapse_repeats(ev, within_seconds=3600.0,
                                  payload_cols=["sig"])


def q_funnel_within(spark, sf_dir):
    """Time-constrained funnel (operators/trips.funnel_within): greedy
    earliest-match stages with a per-step deadline — element AND
    accumulator packed into int64s so the identical fold replays in
    DuckDB (struct-accumulator folds are unsafe there)."""
    return trips.funnel_within(_t(spark, sf_dir, "events"),
                               ["view", "click", "purchase"],
                               within_minutes=360.0)


def q_cohort_ltv(spark, sf_dir):
    """Cohort LTV curves (operators/trips.cohort_ltv): integer-cents
    revenue accumulated per first-event cohort over bucket offsets —
    one event-tier shuffle, the rest windows over rollup-sized rows."""
    return trips.cohort_ltv(_t(spark, sf_dir, "events"), bucket_days=7)


def q_score_calibration(spark, sf_dir):
    """Per-group percent-rank calibration (operators/curation.
    normalize_by_group): quality scores re-expressed as within-host
    quantiles so one global threshold cuts every host at the same
    depth — exact rational (rank-1)/(n-1)."""
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type",
                                            "value")
    return curation.normalize_by_group(ev, "value", "event_type")


def q_skew_report(spark, sf_dir):
    """Shuffle-skew diagnostic (metrics.skew_report): heaviest key
    values with row share and skew ratio vs the mean key — one
    partial-agg'd groupBy + a broadcast totals row, report-sized
    output."""
    return metrics.skew_report(_t(spark, sf_dir, "events"),
                               ["event_type"], top_k=20)


def q_polygon_stats(spark, sf_dir):
    """Exact polygon area + centroid (operators/spatial.
    polygon_area_centroid): integer-microdegree shoelace with
    decimal(38,0) reductions — zero shuffle, one codegen HOF chain per
    polygon, value-hash exact vs HUGEINT in DuckDB."""
    return spatial.polygon_area_centroid(_wkt_polys(spark, sf_dir))


# local-walk corpus for track simplification: points jitter +-0.1 deg
# around the user's home geocode, with a 20-deg excursion every 17th
# event — small moves get thinned, jumps always survive
_EVENTS_WALK_SQL = (
    "SELECT event_id, ts, user_id, "
    f"{geo.geocode_lat_sql('user_id')} "
    "+ ((event_id * 37) % 200 - 100) / 1000.0 "
    "+ (CASE WHEN event_id % 17 = 0 THEN 20.0 ELSE 0.0 END) AS lat, "
    f"{geo.geocode_lon_sql('user_id')} "
    "+ ((event_id * 53) % 200 - 100) / 1000.0 AS lon "
    "FROM events")


def _events_walk(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    i = F.col("event_id")
    lat = (geo.geocode_lat(F.col("user_id"))
           + ((i * 37) % 200 - 100) / F.lit(1000.0)
           + F.when(i % 17 == 0, F.lit(20.0)).otherwise(F.lit(0.0)))
    lon = (geo.geocode_lon(F.col("user_id"))
           + ((i * 53) % 200 - 100) / F.lit(1000.0))
    return e.select("event_id", "ts", "user_id", lat.alias("lat"),
                    lon.alias("lon"))


def q_simplify_track(spark, sf_dir):
    """Radial-distance track simplification
    (operators/trips.simplify_track): per-entity sorted fold keeping
    points >= 0.05 deg (squared integer microdegrees) from the last
    kept one, first/last always kept — one groupBy shuffle, all-JVM
    sequential aggregate; the oracle replays the walk with a recursive
    CTE."""
    return trips.simplify_track(_events_walk(spark, sf_dir),
                                eps_microdeg=50_000)


# keyword corpus: the base vocabulary is ~27 words present in most
# docs (df-filtered out at max_df 0.5); two planted tags per doc give
# a rare high-scorer (tf 1, df ~5) and a commoner runner-up (tf 2,
# df ~38) so the tf/df ranking and tie-breaks are actually exercised
_DOCS_KW_SQL = (
    "SELECT doc_id, text || ' tag' || cast(doc_id % 97 AS varchar) "
    "|| ' tag' || cast(doc_id % 13 AS varchar) "
    "|| 'b tag' || cast(doc_id % 13 AS varchar) || 'b' AS text "
    "FROM documents")


def q_keywords(spark, sf_dir):
    """Per-doc keyword extraction (operators/search.keywords_topk):
    tf/df rational ranking (no libm log), df from a window over the
    aggregated postings, stopwords dropped by corpus statistics,
    rank<=k as WindowGroupLimit."""
    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    text = F.concat(F.col("text"),
                    F.lit(" tag"), (i % 97).cast("string"),
                    F.lit(" tag"), (i % 13).cast("string"), F.lit("b"),
                    F.lit(" tag"), (i % 13).cast("string"), F.lit("b"))
    return search.keywords_topk(d.select("doc_id", text.alias("text")),
                                k=2)


def q_chunk_dedup(spark, sf_dir):
    """Content-defined chunk dedup (operators/dedup.duplicate_chunks):
    md5-bucket chunk boundaries depend only on local tokens, so the
    boilerplate footer planted on every 3rd doc chunks identically
    regardless of position and surfaces as corpus-duplicated chunks.
    One doc-keyed window shuffle (chunk rollup extends its key) + one
    chunk-hash groupBy."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.col("text"),
                 F.when(F.col("doc_id") % 3 == 0,
                        F.lit(" " + _SD_BOILER)).otherwise(F.lit("")))
        .alias("text"))
    return dedup.duplicate_chunks(d, avg_tokens=8, min_docs=2)


_SEGS_SQL = (
    "SELECT doc_id AS seg_id, "
    f"{geo.geocode_lon_sql('doc_id')} AS x1, "
    f"{geo.geocode_lat_sql('doc_id')} AS y1, "
    f"{geo.geocode_lon_sql('doc_id')} + ((doc_id % 7) - 3) * 0.3 AS x2, "
    f"{geo.geocode_lat_sql('doc_id')} + ((doc_id % 5) - 2) * 0.3 AS y2 "
    "FROM documents")


def q_nearest_segment(spark, sf_dir):
    """Map-matching snap (operators/spatial.nearest_segment): every
    event point to its nearest road segment — segments rasterize their
    bbox + one-cell halo, the join is cell-local, distance is the
    clamped-projection formula in one fixed float op sequence, argmin
    via struct min."""
    segs = _docs_geo(spark, sf_dir).select(
        F.col("doc_id").alias("seg_id"),
        F.col("lon").alias("x1"), F.col("lat").alias("y1"),
        (F.col("lon") + ((F.col("doc_id") % 7) - 3) * 0.3).alias("x2"),
        (F.col("lat") + ((F.col("doc_id") % 5) - 2) * 0.3).alias("y2"))
    pts = _events_geo(spark, sf_dir).select(
        F.col("event_id").alias("point_id"), "lat", "lon")
    return spatial.nearest_segment(pts, segs, res=4)


def q_ab_test(spark, sf_dir):
    """Two-proportion A/B z-scores (operators/aggregates.ab_zscores):
    per event-type conversion by user-id-parity variants — distinct-
    entity rollups joined at metrics-size; the z formula is a fixed op
    sequence whose only transcendental is IEEE-exact sqrt."""
    e = _t(spark, sf_dir, "events").withColumn(
        "variant", F.when(F.col("user_id") % 2 == 0, F.lit("A"))
        .otherwise(F.lit("B")))
    return aggregates.ab_zscores(e)


def q_crawl_budget(spark, sf_dir):
    """Hamilton largest-remainder crawl-slot allocation
    (operators/links.crawl_budget): integer-exact proportional split
    of 1000 slots across hosts — floor shares via `div` (never double
    division), leftover slots by remainder rank; sums to exactly the
    budget."""
    return links.crawl_budget(_docs_links(spark, sf_dir), 1000)


def q_rfm(spark, sf_dir):
    """RFM customer segmentation (operators/trips.rfm_scores):
    recency/frequency/monetary quantile tiles — per-entity rollup sums
    integer CENTS (no float-order hazard), ntile over total orders
    (entity tie-break)."""
    return trips.rfm_scores(_t(spark, sf_dir, "events"), n_tiles=5)


def q_cusum(spark, sf_dir):
    """Two-sided CUSUM change-point detection per user
    (operators/aggregates.cusum_alarms): the reflected-walk identity
    (prefix sum minus running min) turns the sequential fold into two
    cumulative windows — one shuffle, exact integer cents."""
    return aggregates.cusum_alarms(_t(spark, sf_dir, "events"),
                                   target_cents=1000, slack_cents=200,
                                   threshold_cents=5000)


# clustered-walk corpus for track similarity: users share one of 8
# neighborhood homes (user_id % 8) so grid blocking finds candidate
# pairs; per-event jitter keeps tracks distinct but comparable
_EVENTS_CLUSTERED_SQL = (
    "SELECT event_id, ts, user_id, "
    f"{geo.geocode_lat_sql('(user_id % 8)')} "
    "+ ((event_id * 37) % 200 - 100) / 1000.0 AS lat, "
    f"{geo.geocode_lon_sql('(user_id % 8)')} "
    "+ ((event_id * 53) % 200 - 100) / 1000.0 AS lon "
    "FROM events")


def _events_clustered(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    i = F.col("event_id")
    grp = F.col("user_id") % 8
    lat = geo.geocode_lat(grp) + ((i * 37) % 200 - 100) / F.lit(1000.0)
    lon = geo.geocode_lon(grp) + ((i * 53) % 200 - 100) / F.lit(1000.0)
    return e.select("event_id", "ts", "user_id", lat.alias("lat"),
                    lon.alias("lon"))


def q_track_hausdorff(spark, sf_dir):
    """Trajectory-similarity join (operators/trips.track_hausdorff):
    grid-blocked candidate pairs, then symmetric discrete Hausdorff
    over integer-microdegree tracks in one codegen HOF."""
    return trips.track_hausdorff(_events_clustered(spark, sf_dir),
                                 res=6, min_common=2, max_points=64)


_DELAYS_SQL = (
    "SELECT DISTINCT 'www.site' || cast(doc_id % 23 AS varchar) "
    "|| '.example' || cast(doc_id % 5 AS varchar) || '.com' AS host, "
    "(doc_id % 23 + doc_id % 5) % 4 + 1 AS crawl_delay FROM documents")


def q_fetch_schedule(spark, sf_dir):
    """Politeness scheduler (operators/robots.fetch_schedule): per-host
    URL serialization crawl_delay seconds apart, hosts parallel — one
    host-partitioned window + broadcast delay lookup; integer-exact
    fetch_at_us."""
    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    delays = d.select(
        F.concat(F.lit("www.site"), (i % 23).cast("string"),
                 F.lit(".example"), (i % 5).cast("string"),
                 F.lit(".com")).alias("host"),
        ((i % 23 + i % 5) % 4 + 1).alias("crawl_delay")).distinct()
    return robots.fetch_schedule(_docs_links(spark, sf_dir), delays,
                                 default_delay_s=2)


def q_rendezvous(spark, sf_dir):
    """Rendezvous-hash shard routing (operators/dedup.rendezvous_shards,
    Thaler-Ravishankar HRW): argmax over per-shard md5 weights in one
    map-side HOF fold — growing the ring moves only ~1/(n+1) of keys
    (invariant-tested)."""
    return dedup.rendezvous_shards(_t(spark, sf_dir, "documents"),
                                   n_shards=7)


# link corpus whose targets RESOLVE to member pages (the _docs_links
# corpus never self-references: www/port/params make every page an
# orphan, which would leave the anti-join untested)
_DOCS_LINKS_PLAIN_SQL = (
    "SELECT doc_id, "
    "'https://s' || cast(doc_id % 23 AS varchar) || '.example.com/p/' "
    "|| cast(doc_id AS varchar) AS url, "
    "'<p>x</p><a href=\"https://s' "
    "|| cast(((doc_id*7+1) % 1000) % 23 AS varchar) "
    "|| '.example.com/p/' || cast((doc_id*7+1) % 1000 AS varchar) "
    "|| '\">next</a>' AS html FROM documents")


def _docs_links_plain(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    t = (i * 7 + 1) % 1000
    url = F.concat(F.lit("https://s"), (i % 23).cast("string"),
                   F.lit(".example.com/p/"), i.cast("string"))
    html = F.concat(F.lit('<p>x</p><a href="https://s'),
                    (t % 23).cast("string"), F.lit(".example.com/p/"),
                    t.cast("string"), F.lit('">next</a>'))
    return d.select("doc_id", url.alias("url"), html.alias("html"))


def q_orphan_pages(spark, sf_dir):
    """Unreachable crawl tail (operators/links.orphan_pages): canonical
    pages with zero in-links — one anti-join against the distinct
    url-grain link-target set (bloom-prunable at crawl scale).  On the
    self-referencing corpus roughly half the pages ARE targets, so the
    anti-join genuinely discriminates."""
    return links.orphan_pages(_docs_links_plain(spark, sf_dir))


def q_coverage_gaps(spark, sf_dir):
    """Facility dead zones (operators/spatial.coverage_gaps): res-4
    cells with >=2 events and no facility (every 5th doc geocode)
    within Chebyshev 1 — per-cell pre-collapse, then ONE anti-join of
    occupied cells vs the exploded POI disks (never events x POIs)."""
    ev = _events_geo(spark, sf_dir)
    pois = _docs_geo(spark, sf_dir).filter(F.col("doc_id") % 5 == 0)
    return spatial.coverage_gaps(ev, pois, res=4, k=1, min_pts=2)


def q_quadkey_rollup(spark, sf_dir):
    """Bing quadkey histogram (functions/geo.quadkey_col): loop-free
    Morton shift-OR chain + one base-4 conv, grouped at zoom 6 with the
    zoom-3 ancestor as a string PREFIX — the property that makes
    quadkeys the sort/partition key of choice for tile pyramids
    (prefix range scan = subtree read)."""
    e = _events_geo(spark, sf_dir)
    qk = geo.quadkey_col(F.col("lat"), F.col("lon"), 6)
    return (e.select(qk.alias("qk"))
            .groupBy("qk").agg(F.count(F.lit(1)).alias("n"))
            .select("qk", F.substring("qk", 1, 3).alias("parent"), "n"))


def q_imp_click(spark, sf_dir):
    """Interval join of impressions x clicks
    (streaming/ingest.impression_click_join): views and clicks of the
    same user within 30 minutes.  The SAME operator runs as a
    watermarked stream-stream join (state expired past imp_ts + window;
    test_streaming_sessions proves availableNow == this batch plan)."""
    e = _t(spark, sf_dir, "events")
    imps = (e.filter(F.col("event_type") == "view")
            .select(F.col("event_id").alias("imp_id"), "user_id",
                    F.col("ts").alias("imp_ts")))
    clicks = (e.filter(F.col("event_type") == "click")
              .select(F.col("event_id").alias("click_id"), "user_id",
                      F.col("ts").alias("click_ts")))
    return st_ingest.impression_click_join(imps, clicks,
                                           attribution_window="30 minutes")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "geo_bbox": q_geo_bbox,
        "geo_bbox_antimeridian": q_geo_bbox_antimeridian,
        "cell_histogram": q_cell_histogram,
        "cell_parent_rollup": q_cell_parent_rollup,
        "pip_rect_join": q_pip_rect_join,
        "knn_docs": q_knn_docs,
        "knn_table": q_knn_table,
        "radius_join": q_radius_join,
        "range_join": q_range_join,
        "asof_join": q_asof_join,
        "tile_rollup": q_tile_rollup,
        "s2_cell_count": q_s2_cell_count,
        "geoquery_subset": q_geoquery_subset,
        "resample_daily_max": q_resample_daily_max,
        "resample_hourly_right": q_resample_hourly_right,
        "time_combinatorial": q_time_combinatorial,
        "dim_average": q_dim_average,
        "vertical_nearest": q_vertical_nearest,
        "tpch_q1": q_tpch_q1,
        "top_revenue_orders": q_top_revenue_orders,
        "region_order_stats": q_region_order_stats,
        "token_counts": q_token_counts,
        "lang_id": q_lang_id,
        "quality_scores": q_quality_scores,
        "repetition_scores": q_repetition_scores,
        "pii_scrub": q_pii_scrub,
        "paragraph_dedup": q_paragraph_dedup,
        "domain_cap": q_domain_cap,
        "det_sample": q_det_sample,
        "curate_full": q_curate_full,
        "winnow_overlap": q_winnow_overlap,
        "pack_sequences": q_pack_sequences,
        "decontaminate": q_decontaminate,
        "classifier_scores": q_classifier_scores,
        "bm25_search": q_bm25,
        "champion_topk": q_champion_topk,
        "pq_topk": q_pq_topk,
        "ivfpq_topk": q_ivfpq_topk,
        "pq_rerank": q_pq_rerank,
        "url_anatomy": q_url_anatomy,
        "url_canonical": q_url_canonical,
        "html_extract": q_html_extract,
        "polygon_raster": q_polygon_raster,
        "substring_dedup": q_substring_dedup,
        "hist_quantiles": q_hist_quantiles,
        "temperature_mix": q_temperature_mix,
        "spatial_clusters": q_spatial_clusters,
        "spatial_cluster_stats": q_spatial_cluster_stats,
        "cell_smooth": q_cell_smooth,
        "od_matrix": q_od_matrix,
        "zonal_stats": q_zonal_stats,
        "geofence": q_geofence,
        "ohlc": q_ohlc,
        "catchment": q_catchment,
        "flow_octants": q_flow_octants,
        "polygon_overlap": q_polygon_overlap,
        "stay_points": q_stay_points,
        "covisit": q_covisit,
        "strip_boilerplate": q_strip_boilerplate,
        "cooccurrence": q_cooccurrence,
        "idw_grid": q_idw_grid,
        "funnel": q_funnel,
        "sq_topk": q_sq_topk,
        "retention": q_retention,
        "language_mixture": q_language_mixture,
        "page_links": q_page_links,
        "anchor_texts": q_anchor_texts,
        "link_graph": q_link_graph,
        "link_pagerank": q_link_pagerank,
        "dsir_select": q_dsir_select,
        "lm_perplexity": q_lm_perplexity,
        "pagerank": q_pagerank,
        "corpus_profile": q_corpus_profile,
        "interpolate_daily": q_interpolate_daily,
        "nfc_text": q_nfc_text,
        "bloom_join": q_bloom_join,
        "chunk_docs": q_chunk_docs,
        "canonical_dedup": q_canonical_dedup,
        "gopher_gates": q_gopher_gates,
        "script_mix": q_script_mix,
        "exact_dedup": q_exact_dedup,
        "ngram_jaccard": q_ngram_jaccard,
        "minhash_lsh": q_minhash_lsh,
        "near_dup_components": q_near_dup_components,
        "near_dup_keep": q_near_dup_keep,
        "curate_keep": q_curate_keep,
        "minhash_incremental": q_minhash_incremental,
        "simhash": q_simhash,
        "minhash_lsh_uni": q_minhash_lsh_uni,
        "simhash_uni": q_simhash_uni,
        "embedding_topk": q_embedding_topk,
        "embedding_neardup": q_embedding_neardup,
        "embedding_neardup_lsh": q_embedding_neardup_lsh,
        "fingerprints": q_fingerprints,
        "tile_pyramid": q_tile_pyramid,
        "rolling_avg": q_rolling_avg,
        "tile_distinct_users": q_tile_distinct_users,
        "regrid_values": q_regrid_values,
        "trip_stats": q_trip_stats,
        "geohash_rollup": q_geohash_rollup,
        "hll_users": q_hll_users,
        "cms_heavy_users": q_cms_heavy_users,
        "json_props": q_json_props,
        "cube_doc_stats": q_cube_doc_stats,
        "customers_without_orders": q_customers_without_orders,
        "customer_semijoin": q_customer_semijoin,
        "media_meta": q_media_meta,
        "media_features": q_media_features,
        "ivf_topk": q_ivf_topk,
        "ivf_table": q_ivf_table,
        "c4_filter": q_c4_filter,
        "containment": q_containment,
        "postings": q_postings,
        "index_search": q_index_search,
        "hybrid_search": q_hybrid_search,
        "semdedup": q_semdedup,
        "crawl_policies": q_crawl_policies,
        "canonical_collapse": q_canonical_collapse,
        "phrase_search": q_phrase_search,
        "robots_check": q_robots_check,
        "main_content": q_main_content,
        "sitemap_entries": q_sitemap_entries,
        "crawl_frontier": q_crawl_frontier,
        "anchor_index": q_anchor_index,
        "robots_sitemaps": q_robots_sitemaps,
        "crawl_delays": q_crawl_delays,
        "similar_pairs": q_similar_pairs,
        "fuzzy_pairs": q_fuzzy_pairs,
        "fuzzy_components": q_fuzzy_components,
        "completions": q_completions,
        "mad_outliers": q_mad_outliers,
        "ewma": q_ewma,
        "morans_i": q_morans_i,
        "getis_ord": q_getis_ord,
        "drift": q_drift,
        "lag_features": q_lag_features,
        "crawl_depth": q_crawl_depth,
        "hits": q_hits,
        "host_report": q_host_report,
        "cocitation": q_cocitation,
        "crawl_diff": q_crawl_diff,
        "kwic": q_kwic,
        "readability": q_readability,
        "sentences": q_sentences,
        "mojibake": q_mojibake,
        "triangles": q_triangles,
        "clustering": q_clustering,
        "transitions": q_transitions,
        "attribution": q_attribution,
        "imp_click_join": q_imp_click,
        "sssp": q_sssp,
        "kcore": q_kcore,
        "wkt_points": q_wkt_points,
        "wkt_raster": q_wkt_raster,
        "quadkey_rollup": q_quadkey_rollup,
        "simplify_track": q_simplify_track,
        "keywords": q_keywords,
        "coverage_gaps": q_coverage_gaps,
        "chunk_dedup": q_chunk_dedup,
        "nearest_segment": q_nearest_segment,
        "ab_test": q_ab_test,
        "crawl_budget": q_crawl_budget,
        "rfm": q_rfm,
        "fetch_schedule": q_fetch_schedule,
        "rendezvous": q_rendezvous,
        "orphan_pages": q_orphan_pages,
        "cusum": q_cusum,
        "track_hausdorff": q_track_hausdorff,
        "polygon_stats": q_polygon_stats,
        "segment_intersections": q_segment_intersections,
        "skew_report": q_skew_report,
        "score_calibration": q_score_calibration,
        "cohort_ltv": q_cohort_ltv,
        "funnel_within": q_funnel_within,
        "interval_overlaps": q_interval_overlaps,
        "collapse_repeats": q_collapse_repeats,
        "areal_transfer": q_areal_transfer,
        "redirects": q_redirects,
        "stitch_segments": q_stitch,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------


def _hav_sql(lat2: str, lon2: str) -> str:
    return cells.haversine_sql("lat", "lon", lat2, lon2)


# FNV-1a over a string in pure SQL (DuckDB): identical to sim._hash_shingles
# for ASCII text (ord == utf-8 byte; the synthetic documents are ASCII).
# HUGEINT emulates uint64 wraparound.
_W64 = "18446744073709551616::HUGEINT"


def _fnv_sql(s: str) -> str:
    return ("list_reduce(list_prepend(14695981039346656037::HUGEINT, "
            f"list_transform(range(1, length({s})+1), "
            f"i -> ord(substr({s}, i, 1))::HUGEINT)), "
            f"(h, b) -> (xor(h, b) * 1099511628211) % {_W64})")


def _fnv_sql_utf8(s: str) -> str:
    """FNV-1a over the UTF-8 BYTES of a string — the exact kernel of
    sim._hash_shingles / _fnv_flat for ANY text, not just ASCII.  Code
    points (DuckDB ``unicode()``) expand to their UTF-8 byte sequences
    arithmetically (1-4 bytes by range), then the same HUGEINT fold as
    :func:`_fnv_sql`.  This is the value oracle for the round-4 byte-mask
    tokenizer, which previously had only pytest coverage."""
    cps = (f"list_transform(range(1, length({s})+1), "
           f"i -> unicode(substr({s}, i, 1)))")
    utf8 = (f"flatten(list_transform({cps}, cp -> "
            "CASE WHEN cp < 128 THEN [cp] "
            "WHEN cp < 2048 THEN [192 + cp // 64, 128 + cp % 64] "
            "WHEN cp < 65536 THEN [224 + cp // 4096, 128 + (cp // 64) % 64, "
            "128 + cp % 64] "
            "ELSE [240 + cp // 262144, 128 + (cp // 4096) % 64, "
            "128 + (cp // 64) % 64, 128 + cp % 64] END))")
    return ("list_reduce(list_prepend(14695981039346656037::HUGEINT, "
            f"list_transform({utf8}, b -> b::HUGEINT)), "
            f"(h, b) -> (xor(h, b) * 1099511628211) % {_W64})")


_TOKS_SQL = (
    "SELECT doc_id, CASE WHEN length(trim(lower(text))) = 0 "
    "THEN []::VARCHAR[] "
    "ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS w "
    "FROM documents")

# Python str.split()'s FULL whitespace set as an RE2 class (the chars the
# engine's UTF-8 byte-mask tokenizer breaks on: ASCII \t-\r, \x1c-\x1f,
# space, and the _UWS3 multi-byte set — sim.py:164-170); empty strings
# from leading/trailing separators are filtered, which is exactly
# str.split()'s no-empty-tokens behavior.
_UNI_WS_RE = (r"[\t\n\x0B\x0C\r\x1C\x1D\x1E\x1F \x{85}\x{A0}\x{1680}"
              r"\x{2000}-\x{200A}\x{2028}\x{2029}\x{202F}\x{205F}\x{3000}]+")


def _toks_sql_uni(docs_rel: str) -> str:
    return (f"SELECT doc_id, list_filter(regexp_split_to_array(lower(text), "
            f"'{_UNI_WS_RE}'), x -> x <> '') AS w FROM {docs_rel}")


def _minhash_lsh_oracle(num_perm: int = 64, bands: int = 16,
                        threshold: float = 0.35,
                        docs_sql: str | None = None,
                        utf8: bool = False) -> str:
    """Mirrors dedup.minhash_lsh_pairs exactly: FNV-1a TOKEN hashes mod
    2^31-1, shingle hashes by arithmetic combination of the n token hashes
    (the engine never builds shingle strings — neither does the oracle),
    seeded 30-bit permutation constants inlined (products < 2^61 — plain
    BIGINT, no wrap emulation), band-equality candidates, similarity
    filter.

    ``docs_sql`` swaps the corpus (any SELECT yielding doc_id, text);
    ``utf8=True`` hashes the UTF-8 BYTES of each token and tokenizes on
    Python's full Unicode whitespace set — the value oracle for the
    engine's byte-mask tokenizer on non-ASCII corpora."""
    a, b = sim._perm_params31(num_perm, seed=1)
    c1, c2, c3 = sim._SHINGLE_C
    r = num_perm // bands
    perm_vals = ", ".join(f"({i}, {int(a[i])}, {int(b[i])})"
                          for i in range(num_perm))
    sentinel = "[" + ", ".join(["9223372036854775807"] * num_perm) + "]"
    docs_rel = f"({docs_sql})" if docs_sql else "documents"
    toks = _toks_sql_uni(docs_rel) if utf8 else (
        _TOKS_SQL if docs_sql is None
        else _TOKS_SQL.replace("FROM documents", f"FROM {docs_rel}"))
    fnv = _fnv_sql_utf8("s") if utf8 else _fnv_sql("s")
    return f"""
WITH toks AS ({toks}),
th AS (
  SELECT doc_id, list_transform(w,
    s -> cast({fnv} % {sim.M31} AS BIGINT)) AS t FROM toks),
shl AS (
  SELECT doc_id, list_transform(range(1, greatest(len(t) - 2, 0) + 1),
    i -> (t[i] * {c1} + t[i+1] * {c2} + t[i+2] * {c3}) % {sim.M31}) AS sh
  FROM th),
hx AS (SELECT doc_id, unnest(sh) AS h FROM shl WHERE len(sh) > 0),
perms(pi, a, b) AS (VALUES {perm_vals}),
sig_long AS (
  SELECT doc_id, pi, min((a * h + b) % {sim.M31}) AS sp
  FROM hx CROSS JOIN perms GROUP BY doc_id, pi),
sigs0 AS (SELECT doc_id, list(cast(sp as bigint) ORDER BY pi) AS sig
  FROM sig_long GROUP BY doc_id),
sigs AS (SELECT d.doc_id, coalesce(s.sig, {sentinel}) AS sig
  FROM {docs_rel} d LEFT JOIN sigs0 s USING (doc_id)),
banded AS (
  SELECT doc_id, sig, b.band_id,
    array_to_string(list_slice(sig, b.band_id * {r} + 1,
                               b.band_id * {r} + {r}), ',') AS band_key
  FROM sigs CROSS JOIN (SELECT unnest(range({bands})) AS band_id) b),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
  FROM banded a JOIN banded c
  ON a.band_id = c.band_id AND a.band_key = c.band_key
  WHERE a.doc_id < c.doc_id)
SELECT id_a, id_b, round(list_sum(list_transform(range(1, {num_perm + 1}),
  i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END))
  / {float(num_perm)}, 6) AS sig_sim
FROM cand JOIN sigs sa ON sa.doc_id = id_a JOIN sigs sb ON sb.doc_id = id_b
WHERE list_sum(list_transform(range(1, {num_perm + 1}),
  i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END))
  / {float(num_perm)} >= {threshold}"""


def _simhash_oracle(max_hamming: int = 8, docs_sql: str | None = None,
                    utf8: bool = False) -> str:
    """Mirrors dedup.simhash_pairs: per-token FNV-1a, bitwise majority
    signature (uint64->int64 wrap emulated), all-pairs Hamming filter —
    a faithful oracle for the operator because bands > max_hamming makes
    the banded candidate set provably total-recall (pigeonhole).
    ``docs_sql`` / ``utf8``: same semantics as _minhash_lsh_oracle."""
    bit_vals = ", ".join(f"({i}, {1 << i}::HUGEINT)" for i in range(64))
    docs_rel = f"({docs_sql})" if docs_sql else "documents"
    toks = _toks_sql_uni(docs_rel) if utf8 else (
        _TOKS_SQL if docs_sql is None
        else _TOKS_SQL.replace("FROM documents", f"FROM {docs_rel}"))
    fnv = _fnv_sql_utf8("s") if utf8 else _fnv_sql("s")
    return f"""
WITH toks AS ({toks}),
hx AS (
  SELECT doc_id, len(w) AS ntok,
    unnest(list_transform(w, s -> {fnv})) AS h
  FROM toks WHERE len(w) > 0),
bits(bi, pw) AS (VALUES {bit_vals}),
bitcnt AS (
  SELECT doc_id, ntok, bi, pw,
    sum(CASE WHEN (h // pw) % 2 = 1 THEN 1 ELSE 0 END) AS cnt
  FROM hx CROSS JOIN bits GROUP BY 1, 2, 3, 4),
sigs_h AS (
  SELECT doc_id, sum(CASE WHEN 2 * cnt > ntok THEN pw ELSE 0::HUGEINT END) AS s
  FROM bitcnt GROUP BY 1),
sigs AS (
  SELECT d.doc_id, cast(coalesce(CASE WHEN h.s >= 9223372036854775808::HUGEINT
    THEN h.s - {_W64} ELSE h.s END, 0) AS BIGINT) AS simhash
  FROM {docs_rel} d LEFT JOIN sigs_h h USING (doc_id))
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  cast(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}"""


def _embedding_neardup_lsh_oracle() -> str:
    """Replicates q_embedding_neardup_lsh candidate generation exactly: the
    seeded hyperplanes are computed here and inlined as SQL literals, the
    band tables become a UNION ALL, the bucket cap a QUALIFY window."""
    n_planes, n_tables = sim.rh_params(0.35)
    planes = sim.rh_planes(64, n_tables, n_planes, seed=dedup.DEFAULT_LSH_SEED)
    unions = " UNION ALL ".join(
        f"SELECT vec_id, v, {ti} AS table_id, ({expr}) AS bucket FROM e"
        for ti, expr in enumerate(sim.rh_bucket_sql("v", planes)))
    return (
        "WITH e AS (SELECT vec_id, cast(embedding as double[]) AS v "
        "FROM embeddings), "
        f"banded AS ({unions}), "
        f"capped AS (SELECT * FROM banded QUALIFY count(*) OVER "
        f"(PARTITION BY table_id, bucket) <= {dedup.DEFAULT_BUCKET_CAP}), "
        "cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b "
        "FROM capped a JOIN capped b USING (table_id, bucket) "
        "WHERE a.vec_id < b.vec_id) "
        "SELECT id_a, id_b, "
        "round(list_cosine_similarity(ea.v, eb.v), 6) AS cosine "
        "FROM cand JOIN e ea ON ea.vec_id = id_a "
        "JOIN e eb ON eb.vec_id = id_b "
        "WHERE round(list_cosine_similarity(ea.v, eb.v), 6) >= 0.35")


def oracle_sql() -> dict[str, str]:
    docs = f"({_DOCS_GEO_SQL})"
    evg = f"({_EVENTS_GEO_SQL})"
    cell7 = cells.grid_cell_sql("lat", "lon", 7)
    cell5 = cells.grid_cell_sql("lat", "lon", 5)

    rect_values = ", ".join(
        f"({r['polygon_id']}, {r['rings'][0][0][0]}, {r['rings'][0][2][0]}, "
        f"{r['rings'][0][0][1]}, {r['rings'][0][2][1]})" for r in _RECTS)

    probe_values = ", ".join(f"({q}, {la}, {lo})" for q, la, lo in _KNN_PROBES)

    return {
        "geo_bbox": (
            f"SELECT doc_id, round(lat, 6) AS lat_r, round(lon, 6) AS lon_r "
            f"FROM {docs} d WHERE lat BETWEEN -20.0 AND 45.0 "
            f"AND lon BETWEEN -30.0 AND 60.0"),
        "geo_bbox_antimeridian": (
            f"SELECT doc_id FROM {docs} d WHERE lat BETWEEN -50.0 AND 50.0 "
            f"AND (lon BETWEEN 150.0 AND 180.0 OR lon BETWEEN -180.0 AND -150.0)"),
        "cell_histogram": (
            f"SELECT {cell7} AS cell_r7, count(*) AS n_docs "
            f"FROM {docs} d GROUP BY 1"),
        "cell_parent_rollup": (
            f"SELECT {cell5} AS cell_r5, count(*) AS n_docs "
            f"FROM {docs} d GROUP BY 1"),
        "pip_rect_join": (
            f"SELECT d.doc_id, r.polygon_id FROM {docs} d "
            f"JOIN (VALUES {rect_values}) AS r(polygon_id, w, e, s, n) "
            f"ON d.lat >= r.s AND d.lat < r.n AND d.lon >= r.w AND d.lon < r.e"),
        "knn_docs": (
            f"SELECT query_id, doc_id, round(dist, 6) AS dist_km, "
            f"cast(rank as bigint) AS rank FROM ("
            f"  SELECT p.query_id, d.doc_id, {_hav_sql('p.q_lat', 'p.q_lon')} AS dist, "
            f"  row_number() OVER (PARTITION BY p.query_id "
            f"    ORDER BY {_hav_sql('p.q_lat', 'p.q_lon')} ASC, d.doc_id ASC) AS rank "
            f"  FROM {docs} d CROSS JOIN (VALUES {probe_values}) "
            f"    AS p(query_id, q_lat, q_lon)) WHERE rank <= 5"),
        "knn_table": (
            f"SELECT query_id, doc_id, round(dist, 6) AS dist_km, "
            f"cast(rank as bigint) AS rank FROM ("
            f"  SELECT p.query_id, d.doc_id, {_hav_sql('p.q_lat', 'p.q_lon')} AS dist, "
            f"  row_number() OVER (PARTITION BY p.query_id "
            f"    ORDER BY {_hav_sql('p.q_lat', 'p.q_lon')} ASC, d.doc_id ASC) AS rank "
            f"  FROM {docs} d CROSS JOIN ("
            f"    SELECT pid AS query_id, "
            f"    {geo.geocode_lat_sql('pid + 1000000')} AS q_lat, "
            f"    {geo.geocode_lon_sql('pid + 1000000')} AS q_lon "
            f"    FROM range(400) t(pid)) p) WHERE rank <= 5"),
        "radius_join": (
            f"SELECT p.query_id, d.doc_id, "
            f"round({_hav_sql('p.q_lat', 'p.q_lon')}, 6) AS dist_km "
            f"FROM {docs} d CROSS JOIN ("
            f"  SELECT pid AS query_id, "
            f"  {geo.geocode_lat_sql('pid + 1000000')} AS q_lat, "
            f"  {geo.geocode_lon_sql('pid + 1000000')} AS q_lon "
            f"  FROM range(400) t(pid)) p "
            f"WHERE {_hav_sql('p.q_lat', 'p.q_lon')} <= 300.0"),
        "range_join": (
            "SELECT b.band_id, count(*) AS n_events, "
            "round(cast(sum(e.value) as double), 4) AS sum_value "
            "FROM events e JOIN (SELECT bid AS band_id, bid * 20.0 AS lo, "
            "  bid * 20.0 + 30.0 AS hi FROM range(25) t(bid)) b "
            "ON e.value BETWEEN b.lo AND b.hi GROUP BY 1"),
        "asof_join": (
            "SELECT l.event_id, l.user_id, "
            "round(r.pval, 6) AS last_purchase_value "
            "FROM (SELECT event_id, user_id, ts FROM events "
            "  WHERE event_type = 'click') l "
            "ASOF LEFT JOIN (SELECT user_id, ts, max(value) AS pval "
            "  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2) r "
            "ON l.user_id = r.user_id AND l.ts >= r.ts"),
        "tile_rollup": (
            f"SELECT cast(8 as int) AS tile_z, {cells.tile_x_sql('lon', 8)} AS tile_x, "
            f"{cells.tile_y_sql('lat', 8)} AS tile_y, count(*) AS page_count "
            f"FROM {docs} d GROUP BY 1, 2, 3"),
        "s2_cell_count": (
            f"SELECT s2_cell, count(*) AS n_docs FROM ("
            f"{cells.s2_cell_sql_query(_DOCS_GEO_SQL, 'doc_id', 12)}"
            f") GROUP BY 1"),
        "geoquery_subset": (
            f"SELECT event_id, event_type, round(value, 6) AS value_r "
            f"FROM {evg} e WHERE event_type = 'purchase' "
            f"AND lat BETWEEN -20.0 AND 70.0 AND lon BETWEEN -100.0 AND 100.0 "
            f"AND year(ts) IN (2024) AND day(ts) IN (3, 5, 10, 23) "
            f"AND hour(ts) IN (3, 15)"),
        "resample_daily_max": (
            "SELECT event_type, cast(date_trunc('day', ts) as timestamp) AS bucket_start, "
            "round(max(value), 6) AS max_value FROM events GROUP BY 1, 2"),
        "resample_hourly_right": (
            "SELECT event_type, cast(date_trunc('hour', ts - interval 1 microsecond)"
            " as timestamp) AS bucket_start, "
            "round(avg(value), 6) AS mean_value FROM events GROUP BY 1, 2"),
        "time_combinatorial": (
            "SELECT event_type, count(*) AS n_events, round(sum(value), 6) AS sum_value "
            "FROM events WHERE year(ts) IN (2024) AND month(ts) IN (1) "
            "AND day(ts) IN (5, 10, 23) AND hour(ts) IN (3, 15) GROUP BY 1"),
        "dim_average": (
            "SELECT event_type, round(avg(value), 6) AS value FROM events GROUP BY 1"),
        "vertical_nearest": (
            "SELECT level, count(*) AS n_events, round(avg(value), 6) AS avg_value "
            "FROM (SELECT cast(CASE cast(user_id % 4 as int) WHEN 0 THEN 1000.0 "
            "WHEN 1 THEN 850.0 WHEN 2 THEN 500.0 ELSE 250.0 END as double) AS level, value "
            "FROM events) WHERE level = 500.0 GROUP BY 1"),
        "tpch_q1": (
            "SELECT l_returnflag, l_linestatus, "
            "round(cast(sum(l_quantity) as double), 4) AS sum_qty, "
            "round(cast(sum(l_extendedprice) as double), 4) AS sum_base_price, "
            "round(cast(sum(l_extendedprice * (1 - l_discount)) as double), 4) AS sum_disc_price, "
            "round(avg(l_quantity), 6) AS avg_qty, "
            "round(avg(l_discount), 6) AS avg_disc, "
            "count(*) AS count_order "
            "FROM lineitem WHERE l_shipdate <= timestamp '1998-09-02' GROUP BY 1, 2"),
        "top_revenue_orders": (
            "SELECT o_orderkey, round(cast(rev as double), 4) AS revenue, o_orderdate "
            "FROM (SELECT o.o_orderkey, o.o_orderdate, "
            "  sum(l.l_extendedprice * (1 - l.l_discount)) AS rev "
            "  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
            "  JOIN lineitem l ON o.o_orderkey = l.l_orderkey "
            "  WHERE c.c_mktsegment = 'BUILDING' GROUP BY 1, 2) "
            "ORDER BY revenue DESC, o_orderkey ASC LIMIT 10"),
        "region_order_stats": (
            "SELECT r.r_name, count(*) AS n_orders, "
            "round(cast(sum(o.o_totalprice) as double), 4) AS total_price "
            "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
            "JOIN nation n ON c.c_nationkey = n.n_nationkey "
            "JOIN region r ON n.n_regionkey = r.r_regionkey GROUP BY 1"),
        "token_counts": (
            "SELECT doc_id, cast(case when length(trim(text)) = 0 then 0 else "
            "len(regexp_split_to_array(trim(text), '\\s+')) end as bigint) AS n_tokens "
            "FROM documents"),
        "lang_id": (
            f"SELECT lang, {tx.lang_id_sql('text')} AS lang_pred, "
            f"count(*) AS n_docs FROM documents GROUP BY 1, 2"),
        "quality_scores": (
            f"SELECT doc_id, {tx.quality_score_sql('text')} AS quality FROM documents"),
        "repetition_scores": (
            f"SELECT doc_id, {tx.dup_ngram_frac_sql('text', 3)} AS dup_trigram_frac, "
            f"{tx.top_word_frac_sql('text')} AS top_word_frac FROM documents"),
        "pii_scrub": (
            f"SELECT doc_id, {tx.pii_scrub_sql('text')} AS scrubbed, "
            + ", ".join(f"{v} AS {k}"
                        for k, v in tx.pii_count_sqls("text").items())
            + f" FROM ({_docs_pii_sql()})"),
        "paragraph_dedup": curation.paragraph_dedup_sql(
            f"({_docs_para_sql()})"),
        "domain_cap": (
            "SELECT doc_id, source, "
            "cast(row_number() OVER (PARTITION BY source ORDER BY doc_id) "
            "as int) AS rank_in_key FROM documents "
            "QUALIFY rank_in_key <= 5"),
        "det_sample": (
            "SELECT doc_id, lang FROM documents WHERE "
            + curation.deterministic_sample_sql(
                "doc_id", rate=_SAMPLE_BASE_RATE, strata_col="lang",
                rates=_SAMPLE_RATES)),
        "curate_full": _curate_full_oracle(),
        "winnow_overlap": _winnow_oracle(),
        "gopher_gates": (
            "SELECT doc_id, " + ", ".join(
                f"{v} AS {k}"
                for k, v in tx.gopher_gate_sqls("text").items())
            + " FROM documents"),
        "script_mix": (
            "SELECT doc_id, " + ", ".join(
                f"{v} AS {k}"
                for k, v in tx.script_fraction_sqls("text").items())
            + f" FROM ({_docs_uni_sql()})"),
        "url_anatomy": (
            f"SELECT doc_id, url, {tx.url_host_sql('url')} AS host, "
            f"{tx.registered_domain_sql('url')} AS domain, "
            f"{tx.url_path_depth_sql('url')} AS path_depth "
            f"FROM ({_docs_urls_sql()})"),
        "lm_perplexity": curation.lm_sql(
            "SELECT doc_id, text FROM documents"),
        "chunk_docs": curation.chunk_documents_sql(
            "documents", width=40, stride=30),
        "bloom_join": (
            "SELECT c.c_mktsegment, count(*) AS n_orders, "
            "round(sum(o.o_totalprice), 4) AS revenue "
            "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
            "WHERE c.c_acctbal > 9000 GROUP BY 1"),
        "nfc_text": (
            "SELECT doc_id, nfc_normalize(raw) AS text_nfc, "
            "cast(length(raw) - length(nfc_normalize(raw)) as bigint) "
            "AS chars_saved FROM ("
            "SELECT doc_id, substr(text, 1, 40) || ' ' || "
            "(CASE WHEN doc_id % 4 = 0 THEN 'e' || chr(769) "
            " WHEN doc_id % 4 = 1 THEN chr(4352) || chr(4449) "
            " WHEN doc_id % 4 = 2 THEN 'A' || chr(778) "
            " ELSE chr(233) END) AS raw FROM documents) q"),
        "interpolate_daily": aggregates.interpolate_gaps_sql(
            "events", step="1 day"),
        "corpus_profile": (
            "SELECT source, count(*) AS n_docs, "
            "round(quantile_cont(tc, 0.25), 6) AS tc_p25, "
            "round(quantile_cont(tc, 0.5), 6) AS tc_p50, "
            "round(quantile_cont(tc, 0.75), 6) AS tc_p75, "
            "round(quantile_cont(tc, 0.95), 6) AS tc_p95, "
            "round(avg(n_chars), 6) AS avg_chars FROM ("
            "SELECT source, n_chars, cast(case when length(trim(text)) = 0 "
            "then 0 else len(regexp_split_to_array(trim(text), '\\s+')) end "
            "as bigint) AS tc FROM documents) GROUP BY source"),
        "polygon_raster": spatial.polygon_raster_cells_sql(
            _POLY_RASTER_SQL_SRC, res=6),
        "substring_dedup": curation.remove_duplicate_spans_sql(
            "SELECT doc_id, text || (CASE WHEN doc_id % 3 = 0 THEN "
            f"' {_SD_BOILER}' ELSE '' END) AS text FROM documents", k=6),
        "temperature_mix": (
            "SELECT doc_id, source FROM ("
            + curation.temperature_mix_sql(
                "SELECT doc_id, source FROM documents", "source",
                target_rows=200) + ")"),
        "hist_quantiles": sketches.hist_quantiles_sql(
            "events", "value", [0.25, 0.5, 0.9, 0.99],
            lo=0.0, hi=500.0, nbins=128, group_cols=["event_type"]),
        "sq_topk": ann.sq_sql("vec_id % 61 = 0", dim=64, k=10),
        "retention": trips.retention_matrix_sql("events", bucket_days=7),
        "language_mixture": curation.language_mixture_sql(_LANGMIX_SQL_SRC),
        "funnel": trips.funnel_counts_sql(
            "events", ["view", "click", "purchase"]),
        "idw_grid": spatial.idw_to_grid_sql(
            f"SELECT doc_id AS station_id, lat, lon, "
            f"cast(doc_id % 97 as double) AS value FROM ({_DOCS_GEO_SQL}) "
            f"WHERE doc_id % 5 = 0", res=4, radius_km=800.0),
        "cooccurrence": search.cooccurrence_counts_sql(
            "SELECT doc_id, text FROM documents",
            max_terms=24, min_count=2),
        "od_matrix": trips.od_matrix_sql(
            "events", geo.geocode_lat_sql("event_id"),
            geo.geocode_lon_sql("event_id"), res=4),
        "zonal_stats": (
            "SELECT r.polygon_id, count(*) AS n_cells_hit, "
            "sum(h.n_points) AS n_events FROM ("
            + spatial.polygon_raster_cells_sql(
                "SELECT doc_id AS polygon_id, "
                "[[[lon, lat + 0.9], [lon + 0.7, lat - 0.5], "
                "[lon - 0.8, lat - 0.3], [lon, lat + 0.9]]] AS rings "
                f"FROM ({_DOCS_GEO_SQL}) WHERE doc_id % 7 = 0", res=6)
            + ") r JOIN ("
            + spatial.dense_cells_sql(_EVENTS_GEO_SQL, res=6)
            + ") h ON r.cell = h.cell GROUP BY r.polygon_id"),
        "stay_points": trips.stay_points_sql(
            "events", geo.geocode_lat_sql("user_id * 16 + event_id % 3"),
            geo.geocode_lon_sql("user_id * 16 + event_id % 3"),
            res=4, min_minutes=600.0),
        "covisit": trips.covisit_pairs_sql(
            "events", geo.geocode_lat_sql("event_id"),
            geo.geocode_lon_sql("event_id"), res=2, min_common=5),
        "strip_boilerplate": curation.strip_boilerplate_sql(
            f"({_BOILER_SQL_SRC})", min_frac=0.5, min_pages=2),
        "catchment": spatial.catchment_counts_sql(
            f"SELECT doc_id AS poi_id, lat, lon FROM ({_DOCS_GEO_SQL}) "
            "WHERE doc_id % 13 = 0",
            _EVENTS_GEO_SQL, res=5, k=2),
        "ohlc": aggregates.ohlc_bars_sql(
            "SELECT * FROM events", "ts", "value", ["event_type"]),
        "flow_octants": trips.flow_octants_sql(
            "events", geo.geocode_lat_sql("event_id"),
            geo.geocode_lon_sql("event_id"), res=5),
        "polygon_overlap": spatial.polygon_overlap_pairs_sql(
            "SELECT doc_id AS polygon_id, "
            "[[[lon, lat + 0.9], [lon + 0.7, lat - 0.5], "
            "[lon - 0.8, lat - 0.3], [lon, lat + 0.9]]] AS rings "
            f"FROM ({_DOCS_GEO_SQL})", res=6, min_cells=2),
        "geofence": trips.geofence_events_sql(
            _EVENTS_GEO_SQL,
            spatial.polygon_raster_cells_sql(
                "SELECT doc_id AS polygon_id, "
                "[[[lon, lat + 0.9], [lon + 0.7, lat - 0.5], "
                "[lon - 0.8, lat - 0.3], [lon, lat + 0.9]]] AS rings "
                f"FROM ({_DOCS_GEO_SQL}) WHERE doc_id % 7 = 0", res=6),
            res=6),
        "cell_smooth": spatial.smooth_cells_sql(
            spatial.dense_cells_sql(_EVENTS_GEO_SQL, res=5), res=5),
        "spatial_clusters": spatial.grid_clusters_sql(
            _EVENTS_GEO_SQL, res=4, min_pts=2),
        "spatial_cluster_stats": spatial.cluster_stats_sql(
            _EVENTS_GEO_SQL, res=4, min_pts=2),
        "page_links": links.page_links_sql(_DOCS_LINKS_SQL),
        "anchor_texts": (
            "SELECT dst, anchor, count(*) AS n_links FROM ("
            "SELECT "
            + tx.registered_domain_sql(tx.url_canonical_sql(
                tx.resolve_link_sql("p.href", "url")))
            + " AS dst, p.anchor AS anchor "
            f"FROM ({_DOCS_LINKS_SQL}) d, "
            f"unnest({tx.anchor_text_pairs_sql('html')}) AS u(p)"
            ") WHERE dst <> '' GROUP BY dst, anchor"),
        "link_graph": links.link_graph_sql(_DOCS_LINKS_SQL, grain="domain"),
        "link_pagerank": (
            "SELECT node, round(rank, 9) AS rank FROM ("
            + graph.pagerank_sql(
                "SELECT src, dst FROM ("
                + links.link_graph_sql(_DOCS_LINKS_SQL, grain="domain")
                + ")", n_iter=6)
            + ") t"),
        "pagerank": (
            "SELECT node, round(rank, 9) AS rank FROM ("
            + graph.pagerank_sql(
                "SELECT doc_id AS src, (doc_id * 7 + j * 131) % 500 AS dst"
                " FROM (SELECT doc_id, unnest(range(1, (doc_id % 4) + 1))"
                " AS j FROM documents)", n_iter=10)
            + ") t"),
        "dsir_select": curation.dsir_sql(
            "SELECT doc_id, text, source FROM documents",
            "source = 'src0'", k=100, n_features=4096),
        "html_extract": (
            f"SELECT doc_id, {tx.html_title_sql('html')} AS title, "
            f"{tx.html_strip_sql('html')} AS page_text, "
            f"len(regexp_split_to_array({tx.html_strip_sql('html')}, "
            f"'\\s+'))::BIGINT AS n_tokens "
            f"FROM ({_DOCS_HTML_SQL}) h"),
        "url_canonical": (
            f"SELECT doc_id, url, {tx.url_canonical_sql('url')} AS canon_url "
            f"FROM ({_docs_urls_messy_sql()})"),
        "canonical_dedup": (
            f"SELECT {tx.url_canonical_sql('url')} AS canon_url, "
            f"count(*) AS n_variants, min(doc_id) AS keep_id "
            f"FROM ({_docs_urls_messy_sql()}) GROUP BY 1"),
        "bm25_search": search.bm25_scores_sql(
            "SELECT doc_id, text FROM documents", _BM25_TERMS),
        "champion_topk": search.champion_topk_sql(
            "SELECT doc_id, text FROM documents", _BM25_TERMS, k=15, c=8),
        "pq_topk": _pq_sql(),
        "ivfpq_topk": _ivfpq_sql(),
        "pq_rerank": _pq_rerank_sql(),
        "classifier_scores": (
            f"WITH _clf_w AS (SELECT "
            f"{tx.demo_classifier_weights_sql(4096)} AS w) "
            f"SELECT doc_id, "
            f"{tx.hashed_bow_score_sql('text', 'w', 4096, bias=0.25)} "
            f"AS clf_score FROM documents, _clf_w"),
        "decontaminate": curation.decontaminate_report_sql(
            "SELECT doc_id, text FROM documents", _bench_prefix_sql(), n=5),
        "pack_sequences": curation.pack_sequences_sql(
            "(SELECT doc_id, cast(case when length(trim(text)) = 0 "
            "then 0 else len(regexp_split_to_array(trim(text), "
            "'\\s+')) end as bigint) AS n_tokens FROM documents)",
            seq_len=256, n_shards=8),
        "exact_dedup": (
            "SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS dup_count "
            "FROM documents GROUP BY 1"),
        "ngram_jaccard": (
            "WITH words AS (SELECT doc_id, "
            "  regexp_split_to_array(trim(lower(text)), '\\s+') AS w FROM documents), "
            "shingled AS (SELECT DISTINCT doc_id, unnest(list_transform("
            "  range(1, greatest(len(w) - 2, 0) + 1), "
            "  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh FROM words), "
            "filtered AS (SELECT doc_id, sh FROM shingled "
            "  QUALIFY count(*) OVER (PARTITION BY sh) <= 1000), "
            "sizes AS (SELECT doc_id, count(*) AS set_size FROM filtered GROUP BY 1), "
            "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
            "  count(*) AS inter_size FROM filtered a JOIN filtered b USING (sh) "
            "  WHERE a.doc_id < b.doc_id GROUP BY 1, 2) "
            "SELECT id_a, id_b, round(cast(inter_size as double) "
            "  / (sa.set_size + sb.set_size - inter_size), 6) AS jaccard "
            "FROM inter JOIN sizes sa ON sa.doc_id = id_a "
            "JOIN sizes sb ON sb.doc_id = id_b "
            "WHERE cast(inter_size as double) "
            "  / (sa.set_size + sb.set_size - inter_size) >= 0.2"),
        "embedding_topk": (
            "SELECT probe_id, vec_id, cosine, cast(rank as bigint) AS rank FROM ("
            "  SELECT p.vec_id AS probe_id, e.vec_id, "
            "  round(list_cosine_similarity(cast(e.embedding as double[]), "
            "    cast(p.embedding as double[])), 6) AS cosine, "
            "  row_number() OVER (PARTITION BY p.vec_id ORDER BY "
            "    list_cosine_similarity(cast(e.embedding as double[]), "
            "    cast(p.embedding as double[])) DESC, e.vec_id ASC) AS rank "
            "  FROM embeddings e CROSS JOIN "
            "    (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 3) p) "
            "WHERE rank <= 5"),
        "embedding_neardup": (
            "SELECT a.vec_id AS id_a, b.vec_id AS id_b, "
            "round(list_cosine_similarity(cast(a.embedding as double[]), "
            "  cast(b.embedding as double[])), 6) AS cosine "
            "FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id "
            "WHERE round(list_cosine_similarity(cast(a.embedding as double[]), "
            "  cast(b.embedding as double[])), 6) >= 0.35"),
        "minhash_lsh": _minhash_lsh_oracle(),
        "near_dup_components": f"""
WITH RECURSIVE pairs AS ({_minhash_lsh_oracle()}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs),
r AS (
  SELECT src AS id, src AS label FROM edges
  UNION
  SELECT e.src AS id, r.label FROM edges e JOIN r ON r.id = e.dst)
SELECT id AS doc_id, cast(min(label) AS BIGINT) AS component
FROM r GROUP BY id""",
        "near_dup_keep": f"""
WITH RECURSIVE pairs AS ({_minhash_lsh_oracle()}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs),
r AS (
  SELECT src AS id, src AS label FROM edges
  UNION
  SELECT e.src AS id, r.label FROM edges e JOIN r ON r.id = e.dst),
comp AS (SELECT id, min(label) AS component FROM r GROUP BY id)
SELECT d.doc_id, d.lang FROM documents d
WHERE d.doc_id NOT IN (SELECT id FROM comp WHERE id != component)
ORDER BY d.doc_id""",
        "curate_keep": f"""
WITH RECURSIVE fil AS (
  SELECT doc_id, text, lang, {tx.quality_score_sql('text')} AS quality
  FROM documents
  WHERE lang IN ('en', 'de', 'zh')
    AND {tx.quality_score_sql('text')} >= 0.2),
reps AS (SELECT min(doc_id) AS doc_id FROM fil GROUP BY md5(text)),
base AS (SELECT f.* FROM fil f JOIN reps USING (doc_id)),
pairs AS ({_minhash_lsh_oracle(docs_sql="SELECT doc_id, text FROM base")}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs),
r AS (
  SELECT src AS id, src AS label FROM edges
  UNION
  SELECT e.src AS id, r.label FROM edges e JOIN r ON r.id = e.dst),
comp AS (SELECT id, min(label) AS component FROM r GROUP BY id)
SELECT b.doc_id, b.lang, b.quality,
       cast(case when length(trim(b.text)) = 0 then 0 else
            len(regexp_split_to_array(trim(b.text), '\\s+')) end
            as bigint) AS token_count
FROM base b
WHERE b.doc_id NOT IN (SELECT id FROM comp WHERE id != component)
ORDER BY b.doc_id""",
        "minhash_incremental": f"""
WITH pairs AS ({_minhash_lsh_oracle()})
SELECT id_a, id_b, sig_sim FROM pairs
WHERE id_a % 2 = 1 OR id_b % 2 = 1""",
        "simhash": _simhash_oracle(),
        "minhash_lsh_uni": _minhash_lsh_oracle(docs_sql=_docs_uni_sql(),
                                               utf8=True),
        "simhash_uni": _simhash_oracle(docs_sql=_docs_uni_sql(), utf8=True),
        "embedding_neardup_lsh": _embedding_neardup_lsh_oracle(),
        "fingerprints": ("SELECT doc_id, md5(text) AS fp FROM documents"),
        "tile_pyramid": (
            f"WITH base AS (SELECT {cells.tile_x_sql('lon', 6)} AS tx, "
            f"{cells.tile_y_sql('lat', 6)} AS ty, count(*) AS c "
            f"FROM ({_EVENTS_GEO_SQL}) e GROUP BY 1, 2) "
            "SELECT cast(6 as int) AS tile_z, tx AS tile_x, ty AS tile_y, "
            "cast(c as bigint) AS page_count FROM base "
            "UNION ALL SELECT cast(5 as int), tx // 2, ty // 2, "
            "cast(sum(c) as bigint) FROM base GROUP BY 2, 3 "
            "UNION ALL SELECT cast(4 as int), tx // 4, ty // 4, "
            "cast(sum(c) as bigint) FROM base GROUP BY 2, 3"),
        "rolling_avg": (
            "SELECT event_id, user_id, round(avg(value) OVER ("
            "PARTITION BY user_id ORDER BY ts, event_id "
            "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS rolling_avg "
            "FROM events"),
        "tile_distinct_users": (
            f"SELECT cast(6 as int) AS tile_z, {cells.tile_x_sql('lon', 6)} AS tile_x, "
            f"{cells.tile_y_sql('lat', 6)} AS tile_y, "
            f"count(DISTINCT user_id) AS n_users, count(*) AS n_events "
            f"FROM ({_EVENTS_GEO_SQL}) e GROUP BY 1, 2, 3"),
        "regrid_values": (
            f"SELECT cast(6 as int) AS tile_z, {cells.tile_x_sql('lon', 6)} AS tile_x, "
            f"{cells.tile_y_sql('lat', 6)} AS tile_y, "
            f"round(avg(value), 6) AS mean_value, count(*) AS n_points "
            f"FROM ({_EVENTS_GEO_SQL}) e GROUP BY 1, 2, 3"),
        "cms_heavy_users": sketches.cms_heavy_hitters_sql(
            "events", "user_id", threshold=80, depth=4, width=1024,
            out_col="user_id"),
        "hll_users": (
            "SELECT e.event_type, e.n_exact, a.approx_distinct FROM "
            "(SELECT event_type, count(DISTINCT user_id) AS n_exact "
            "FROM events GROUP BY 1) e JOIN ("
            + sketches.hll_sql("events", "user_id", ["event_type"], p=9)
            + ") a USING (event_type)"),
        "geohash_rollup": (
            f"SELECT {cells.geohash_sql('lat', 'lon', 4)} AS gh4, "
            f"count(*) AS n_docs, round(avg(lat), 6) AS avg_lat "
            f"FROM ({_DOCS_GEO_SQL}) d GROUP BY 1"),
        "trip_stats": (
            "SELECT user_id, trip_seq, n_points, start_ts, end_ts, "
            "duration_us, round(path_km, 4) AS path_km FROM ("
            + trips.trip_stats_sql(
                "events", geo.geocode_lat_sql("event_id"),
                geo.geocode_lon_sql("event_id"), gap_minutes=480.0)
            + ") t"),
        "json_props": (
            "SELECT event_type, count(*) AS n, "
            "round(avg(cast(json_extract_string(props, '$.k') as bigint)), 6) AS avg_k, "
            "cast(max(cast(json_extract_string(props, '$.k') as bigint)) as bigint) AS max_k "
            "FROM events GROUP BY 1"),
        "cube_doc_stats": (
            "SELECT lang, source, count(*) AS n_docs, "
            "round(avg(n_chars), 6) AS avg_chars "
            "FROM documents GROUP BY CUBE (lang, source)"),
        "customers_without_orders": (
            "SELECT c_custkey, c_name FROM customer c WHERE NOT EXISTS "
            "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey "
            "AND o.o_orderpriority = '1-URGENT')"),
        "customer_semijoin": (
            "SELECT c_custkey, c_mktsegment FROM customer c WHERE EXISTS "
            "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey "
            "AND o.o_orderpriority = '1-URGENT')"),
        "media_features": (
            "WITH bytes AS (SELECT doc_id, lang, length(text) AS n, "
            "  unnest(list_transform(range(1, length(text)+1), "
            "  i -> ord(substr(text, i, 1)) % 16)) AS bkt "
            "  FROM documents WHERE length(text) > 0), "
            "hist AS (SELECT doc_id, lang, n, bkt, count(*) AS c "
            "  FROM bytes GROUP BY 1, 2, 3, 4), "
            "f AS (SELECT doc_id, round(sqrt(sum(pow(cast(cast("
            "  cast(c AS DOUBLE) / n AS FLOAT) AS DOUBLE), 2))), 6) AS fnorm "
            "  FROM hist GROUP BY 1), "
            "per_doc AS (SELECT d.lang, coalesce(f.fnorm, 0.0) AS fnorm "
            "  FROM documents d LEFT JOIN f USING (doc_id)) "
            "SELECT lang, count(*) AS n, round(avg(fnorm), 6) AS avg_fnorm "
            "FROM per_doc GROUP BY 1"),
        "ivf_topk": (
            "SELECT probe_id, vec_id, cosine, cast(rank as bigint) AS rank FROM ("
            "  SELECT p.vec_id AS probe_id, e.vec_id, "
            "  round(list_cosine_similarity(cast(e.embedding as double[]), "
            "    cast(p.embedding as double[])), 6) AS cosine, "
            "  row_number() OVER (PARTITION BY p.vec_id ORDER BY "
            "    list_cosine_similarity(cast(e.embedding as double[]), "
            "    cast(p.embedding as double[])) DESC, e.vec_id ASC) AS rank "
            "  FROM embeddings e CROSS JOIN "
            "    (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 3) p) "
            "WHERE rank <= 5"),
        "ivf_table": (
            "SELECT probe_id, vec_id, cosine, cast(rank as bigint) AS rank FROM ("
            "  SELECT p.vec_id AS probe_id, e.vec_id, "
            "  round(list_cosine_similarity(cast(e.embedding as double[]), "
            "    cast(p.embedding as double[])), 6) AS cosine, "
            "  row_number() OVER (PARTITION BY p.vec_id ORDER BY "
            "    list_cosine_similarity(cast(e.embedding as double[]), "
            "    cast(p.embedding as double[])) DESC, e.vec_id ASC) AS rank "
            "  FROM embeddings e CROSS JOIN "
            "    (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 3) p) "
            "WHERE rank <= 5"),
        "media_meta": (
            "SELECT doc_id, 'unknown' AS format, "
            "cast(octet_length(encode(text)) as bigint) AS byte_len, "
            "cast(octet_length(encode(text)) % 640 + 1 as bigint) AS width, "
            "cast((octet_length(encode(text)) // 640) % 480 + 1 as bigint) AS height "
            "FROM documents"),
        "c4_filter": curation.c4_line_filter_sql(_docs_pages_sql()),
        "containment": (
            "WITH words AS (SELECT doc_id, "
            "  regexp_split_to_array(trim(lower(text)), '\\s+') AS w FROM documents), "
            "shingled AS (SELECT DISTINCT doc_id, unnest(list_transform("
            "  range(1, greatest(len(w) - 2, 0) + 1), "
            "  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh FROM words), "
            "filtered AS (SELECT doc_id, sh FROM shingled "
            "  QUALIFY count(*) OVER (PARTITION BY sh) <= 1000), "
            "sizes AS (SELECT doc_id, count(*) AS set_size FROM filtered GROUP BY 1), "
            "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
            "  count(*) AS inter_size FROM filtered a JOIN filtered b USING (sh) "
            "  WHERE a.doc_id < b.doc_id GROUP BY 1, 2) "
            "SELECT id_a, id_b, "
            "  round(cast(inter_size as double) / sa.set_size, 6) AS cont_a, "
            "  round(cast(inter_size as double) / sb.set_size, 6) AS cont_b "
            "FROM inter JOIN sizes sa ON sa.doc_id = id_a "
            "JOIN sizes sb ON sb.doc_id = id_b "
            "WHERE greatest(round(cast(inter_size as double) / sa.set_size, 6), "
            "  round(cast(inter_size as double) / sb.set_size, 6)) >= 0.3"),
        "postings": search.build_postings_sql(
            "SELECT * FROM documents", min_df=2),
        "hybrid_search": search.rrf_fuse_sql(
            search.bm25_scores_sql(
                "SELECT doc_id, text FROM documents", _BM25_TERMS),
            search.bm25_scores_sql(
                "SELECT doc_id, text FROM documents", ["hash", "batch"]),
            k=60, top_k=25),
        "index_search": search.index_topk_sql(
            search.build_postings_sql("SELECT * FROM documents", min_df=2),
            _BM25_TERMS, "SELECT count(*) FROM documents", k=15),
        "semdedup": _semdedup_sql(),
        "crawl_policies": links.crawl_policies_sql(_DOCS_CRAWL_SQL),
        "canonical_collapse": links.canonical_collapse_sql(_DOCS_CRAWL_SQL),
        "phrase_search": search.phrase_hits_sql(
            "SELECT * FROM documents", ["slow", "hash", "batch"]),
        "robots_check": robots.robots_check_sql(*_robots_sql_tables()),
        "main_content": (f"SELECT doc_id, {tx.main_content_sql('html')} "
                         f"AS text FROM ({_DOCS_MAIN_SQL})"),
        "sitemap_entries": links.sitemap_entries_sql(_DOCS_SITEMAPS_SQL),
        "crawl_frontier": _crawl_frontier_sql(),
        "anchor_index": links.anchor_index_sql(_DOCS_LINKS_SQL),
        "robots_sitemaps": robots.robots_sitemaps_sql(
            _robots_sql_tables()[1]),
        "crawl_delays": robots.robots_crawl_delays_sql(
            _robots_sql_tables()[1]),
        "similar_pairs": search.similar_pairs_sql(
            "SELECT * FROM documents", min_score=0.85),
        "fuzzy_pairs": dedup.fuzzy_pairs_sql(_parts_fuzzy_sql(),
                                             max_dist=2),
        "fuzzy_components": f"""
WITH RECURSIVE pairs AS ({dedup.fuzzy_pairs_sql(_parts_fuzzy_sql(),
                                                max_dist=2)}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs),
r AS (
  SELECT src AS id, src AS label FROM edges
  UNION
  SELECT e.src AS id, r.label FROM edges e JOIN r ON r.id = e.dst)
SELECT id, cast(min(label) AS BIGINT) AS component
FROM r GROUP BY id""",
        "completions": search.completions_sql("SELECT * FROM documents",
                                              prefix_len=4, k=3),
        "mad_outliers": aggregates.mad_outliers_sql(
            "SELECT * FROM events", "value", ["event_type"]),
        "ewma": aggregates.ewma_last_sql("SELECT * FROM events",
                                         "user_id", "ts", "value"),
        "morans_i": spatial.morans_i_sql(_DOCS_GEO_SQL, res=5),
        "getis_ord": spatial.getis_ord_sql(_DOCS_GEO_SQL, res=5),
        "lag_features": aggregates.lag_features_sql(
            "SELECT * FROM events", "user_id", "ts", "value"),
        "drift": aggregates.distribution_drift_sql(
            "SELECT * FROM events WHERE event_id % 2 = 0",
            "SELECT event_id, value * 1.1 AS value FROM events "
            "WHERE event_id % 2 = 1", "value", nbins=12),
        "crawl_depth": graph.bfs_depths_sql(_CRAWL_DEPTH_EDGES_SQL,
                                            _CRAWL_DEPTH_SEEDS_SQL,
                                            max_depth=8),
        "host_report": links.host_report_sql(_DOCS_CRAWL_SQL),
        "crawl_diff": links.crawl_diff_sql(_CRAWL_DIFF_OLD,
                                           _CRAWL_DIFF_NEW),
        "kwic": (f"SELECT doc_id, {tx.kwic_sql('text', 'spark')} "
                 f"AS snippet FROM documents "
                 f"WHERE {tx.kwic_sql('text', 'spark')} <> ''"),
        "readability": ("SELECT doc_id, " + ", ".join(
            f"{v} AS {k}" for k, v in tx.readability_sql("text").items())
            + " FROM documents"),
        "sentences": (
            f"SELECT doc_id, len({tx.sentences_sql('text')}) "
            f"AS n_sentences, {tx.lead_sentences_sql('text', 3)} AS lead3 "
            f"FROM ({_DOCS_SENT_SQL})"),
        "mojibake": ("SELECT doc_id, " + ", ".join(
            f"{v} AS {k}" for k, v in tx.mojibake_sql("text").items())
            + f" FROM ({_DOCS_MOJI_SQL})"),
        "triangles": graph.triangle_counts_sql(_TRI_EDGES_SQL),
        "clustering": graph.clustering_coefficients_sql(_TRI_EDGES_SQL),
        "transitions": trips.transition_counts_sql(
            "SELECT * FROM events", gap_minutes=60.0),
        "attribution": trips.attribution_sql(
            "SELECT * FROM events", lookback_minutes=120.0),
        "imp_click_join": st_ingest.impression_click_join_sql(
            "SELECT event_id AS imp_id, user_id, ts AS imp_ts "
            "FROM events WHERE event_type = 'view'",
            "SELECT event_id AS click_id, user_id, ts AS click_ts "
            "FROM events WHERE event_type = 'click'",
            window_minutes=30),
        "sssp": graph.weighted_sssp_sql(_SSSP_EDGES_SQL, _SSSP_SEEDS_SQL,
                                        n_iter=6),
        "kcore": graph.k_core_sql(_KCORE_EDGES_SQL, k=14, n_iter=10),
        "wkt_points": (
            "SELECT doc_id, "
            f"{geo.wkt_point_sql('wkt')[0]} AS lon, "
            f"{geo.wkt_point_sql('wkt')[1]} AS lat, "
            + cells.grid_cell_sql(geo.wkt_point_sql('wkt')[1],
                                  geo.wkt_point_sql('wkt')[0], 5)
            + f" AS cell FROM ({_DOCS_WKT_POINTS_SQL})"),
        "wkt_raster": spatial.polygon_raster_cells_sql(
            "SELECT polygon_id, "
            + geo.wkt_polygon_rings_sql("wkt")
            + f" AS rings FROM ({_DOCS_WKT_POLYS_SQL})", res=6),
        "simplify_track": trips.simplify_track_sql(
            _EVENTS_WALK_SQL, eps_microdeg=50_000),
        "keywords": search.keywords_topk_sql(_DOCS_KW_SQL, k=2),
        "rfm": trips.rfm_scores_sql("SELECT * FROM events", n_tiles=5),
        "orphan_pages": links.orphan_pages_sql(_DOCS_LINKS_PLAIN_SQL),
        "fetch_schedule": robots.fetch_schedule_sql(
            _DOCS_LINKS_SQL, _DELAYS_SQL, default_delay_s=2),
        "rendezvous": dedup.rendezvous_shards_sql(
            "SELECT * FROM documents", n_shards=7),
        "ab_test": aggregates.ab_zscores_sql(
            "SELECT *, CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END "
            "AS variant FROM events"),
        "crawl_budget": links.crawl_budget_sql(_DOCS_LINKS_SQL, 1000),
        "nearest_segment": spatial.nearest_segment_sql(
            f"SELECT event_id AS point_id, lat, lon "
            f"FROM ({_EVENTS_GEO_SQL})", _SEGS_SQL, res=4),
        "chunk_dedup": dedup.duplicate_chunks_sql(
            "SELECT doc_id, text || (CASE WHEN doc_id % 3 = 0 THEN "
            f"' {_SD_BOILER}' ELSE '' END) AS text FROM documents",
            avg_tokens=8, min_docs=2),
        "coverage_gaps": spatial.coverage_gaps_sql(
            _EVENTS_GEO_SQL,
            f"SELECT * FROM ({_DOCS_GEO_SQL}) WHERE doc_id % 5 = 0",
            res=4, k=1, min_pts=2),
        "quadkey_rollup": (
            f"WITH _qk_b AS (SELECT {cells.tile_x_sql('lon', 6)} AS tx, "
            f"{cells.tile_y_sql('lat', 6)} AS ty "
            f"FROM ({_EVENTS_GEO_SQL})), "
            f"_qk AS (SELECT "
            f"{cells.quadkey_from_xy_sql('tx', 'ty', 6)} AS qk "
            f"FROM _qk_b) "
            f"SELECT qk, substr(qk, 1, 3) AS parent, count(*) AS n "
            f"FROM _qk GROUP BY 1, 2"),
        "cocitation": graph.cocitation_pairs_sql(
            "SELECT src, dst FROM ("
            + links.link_graph_sql(_DOCS_LINKS_SQL, grain="domain")
            + ")", min_shared=2),
        "hits": (
            "SELECT node, round(hub, 9) AS hub, "
            "round(authority, 9) AS authority FROM ("
            + graph.hits_sql(
                "SELECT src, dst FROM ("
                + links.link_graph_sql(_DOCS_LINKS_SQL, grain="domain")
                + ")", n_iter=6)
            + ")"),
        "cusum": aggregates.cusum_alarms_sql(
            "SELECT * FROM events", target_cents=1000, slack_cents=200,
            threshold_cents=5000),
        "track_hausdorff": trips.track_hausdorff_sql(
            _EVENTS_CLUSTERED_SQL, "lat", "lon", res=6, min_common=2,
            max_points=64),
        "polygon_stats": spatial.polygon_area_centroid_sql(
            "SELECT polygon_id, "
            + geo.wkt_polygon_rings_sql("wkt")
            + f" AS rings FROM ({_DOCS_WKT_POLYS_SQL})"),
        "segment_intersections": spatial.segment_intersections_sql(
            _SEGS_X_SQL, res=7),
        "score_calibration": curation.normalize_by_group_sql(
            "SELECT event_id, event_type, value FROM events",
            "value", "event_type"),
        "skew_report": metrics.skew_report_sql(
            "SELECT * FROM events", ["event_type"], top_k=20),
        "cohort_ltv": trips.cohort_ltv_sql("events", bucket_days=7),
        "funnel_within": trips.funnel_within_sql(
            "SELECT * FROM events", ["view", "click", "purchase"],
            within_minutes=360.0),
        "interval_overlaps": _iv_overlap_sql(),
        "areal_transfer": spatial.areal_transfer_sql(
            "SELECT polygon_id, "
            + geo.wkt_polygon_rings_sql("wkt")
            + " AS rings, cast(polygon_id % 100 + 1 AS DOUBLE) AS value"
            + f" FROM ({_DOCS_WKT_POLYS_SQL})",
            "SELECT polygon_id, "
            + geo.wkt_polygon_rings_sql("wkt")
            + f" AS rings FROM ({_DOCS_WKT_DST_SQL})", res=6),
        "collapse_repeats": trips.collapse_repeats_sql(
            "SELECT user_id, event_id, ts, event_id % 3 AS sig "
            "FROM events", within_seconds=3600.0, payload_cols=["sig"]),
        "stitch_segments": spatial.stitch_segments_sql(
            "SELECT doc_id AS seg_id, "
            "(doc_id % 10) * 0.01 + ((doc_id // 10) % 30) * 1.0 AS x1, "
            "((doc_id // 10) * 7 % 90) * 1.0 AS y1, "
            "(doc_id % 10 + 1) * 0.01 + ((doc_id // 10) % 30) * 1.0 AS x2, "
            "((doc_id // 10) * 7 % 90) * 1.0 AS y2 FROM documents"),
        "redirects": links.resolve_redirects_sql(
            "SELECT doc_id AS src, doc_id - 1 AS dst FROM documents "
            "WHERE doc_id % 8 <> 0 UNION ALL "
            "SELECT doc_id, doc_id + 4 FROM documents "
            "WHERE doc_id % 24 = 0", rounds=4),
    }
