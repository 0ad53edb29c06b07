"""Custom stateful streaming ops: state persists across micro-batches."""

import os

import pytest
from pyspark.sql import functions as F

from geolake_spark.streaming import ingest, stateful

from conftest import ROOT


def _start(df, out, ckpt):
    return (df.writeStream.format("parquet")
            .option("path", out).option("checkpointLocation", ckpt)
            .outputMode("append").trigger(availableNow=True).start())


def test_host_stats_accumulate_across_batches(spark, pages, tmp_path):
    drop = str(tmp_path / "drop")
    pages.repartition(4).write.parquet(drop)  # 4 files -> multiple batches
    stream = ingest.read_pages_stream(spark, drop, max_files_per_trigger=1)
    stats = stateful.host_crawl_stats(stream)
    q = (stats.writeStream.format("memory").queryName("hstats")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = (spark.sql("select host, max(pages) as pages from hstats group by host")
           .toPandas().set_index("host")["pages"].to_dict())
    exp = (pages.withColumn("host", F.regexp_extract("url", r"https?://([^/]+)/", 1))
           .groupBy("host").count().toPandas().set_index("host")["count"].to_dict())
    assert got == exp  # final state equals the batch answer per host


def test_streaming_dedup_drops_cross_batch_repeats(spark, pages, tmp_path):
    drop = str(tmp_path / "drop")
    half = pages.limit(150)
    half.write.parquet(drop)                      # batch 1
    half.write.mode("append").parquet(drop)       # batch 2 = exact repeats
    stream = ingest.read_pages_stream(spark, drop, max_files_per_trigger=1)
    deduped = stateful.streaming_exact_dedup(stream)
    q = _start(deduped, str(tmp_path / "out"), str(tmp_path / "ckpt"))
    q.awaitTermination(180)
    out = spark.read.parquet(str(tmp_path / "out"))
    n_unique = half.select("text").distinct().count()
    assert out.select("fp").distinct().count() == n_unique
    assert out.count() == n_unique  # repeats dropped, incl. across batches


def test_streaming_dedup_state_is_bounded(spark, pages, tmp_path):
    """With max_state below the unique count the per-host seen-set stays
    capped: evicted (oldest) fingerprints re-emit when repeated — bounded
    memory is the stated trade (VERDICT r01 #8: unbounded state)."""
    drop = str(tmp_path / "drop")
    one_host = (pages.limit(40)
                .withColumn("url", F.concat(F.lit("https://h.example/p"),
                                            F.monotonically_increasing_id())))
    one_host.write.parquet(drop)                     # batch 1: 40 unique
    one_host.write.mode("append").parquet(drop)      # batch 2: repeats
    stream = ingest.read_pages_stream(spark, drop, max_files_per_trigger=1)
    deduped = stateful.streaming_exact_dedup(stream, max_state=10,
                                             ttl_minutes=60.0)
    q = _start(deduped, str(tmp_path / "out"), str(tmp_path / "ckpt"))
    q.awaitTermination(180)
    out = spark.read.parquet(str(tmp_path / "out"))
    n_unique = one_host.select("text").distinct().count()
    # every unique text emitted at least once; evictions may re-emit
    assert out.select("fp").distinct().count() == n_unique
    assert out.count() > n_unique  # proof the cap actually evicted
    assert out.count() <= 2 * n_unique


def test_streaming_neardup_matches_batch_pairs(spark, pages, tmp_path):
    """Streaming MinHash near-dup (round 4): pairs found across micro-
    batches must equal the batch operator's pairs on the same corpus
    (modulo per-band duplicate emissions, removed by a distinct)."""
    from pyspark.sql import functions as F

    from geolake_spark.operators import dedup

    drop = str(tmp_path / "drop")
    base = pages.limit(120).selectExpr("url as doc_id", "text")
    near = (base.limit(30)
            .selectExpr("concat(doc_id, '#d') as doc_id",
                        "concat(text, ' tail tail') as text"))
    # batch 1 = originals, batch 2 = near-dups -> pairs MUST cross batches
    base.write.parquet(drop)
    near.write.mode("append").parquet(drop)
    stream = (spark.readStream.schema("doc_id string, text string")
              .option("maxFilesPerTrigger", 1).parquet(drop))
    out = stateful.streaming_neardup_pairs(stream, threshold=0.5)
    q = (out.writeStream.format("memory").queryName("ndpairs")
         .outputMode("append").trigger(availableNow=True).start())
    assert q.awaitTermination(180)  # False = still running -> partial data
    got = {(r["id_a"], r["id_b"]) for r in
           spark.sql("select distinct id_a, id_b from ndpairs").collect()}
    corpus = base.unionByName(near)
    exp = {(r["id_a"], r["id_b"]) for r in
           dedup.minhash_lsh_pairs(corpus, threshold=0.5).collect()}
    dedup.release_caches()
    assert got == exp and len(exp) >= 30


def test_exact_once_pairs_collapses_band_duplicates(spark, pages, tmp_path):
    """A pair sharing several band buckets emits once per bucket upstream;
    chained through exact_once_pairs the RAW sink rows (no test-side
    distinct) must equal the batch operator's pairs exactly — count, ids
    and sig_sim (round-5 VERDICT task)."""
    from pyspark.sql import functions as F

    from geolake_spark.operators import dedup

    drop = str(tmp_path / "drop")
    base = pages.limit(100).selectExpr("url as doc_id", "text")
    near = (base.limit(25)
            .selectExpr("concat(doc_id, '#d') as doc_id",
                        "concat(text, ' tail tail') as text"))
    base.write.parquet(drop)
    near.write.mode("append").parquet(drop)
    stream = (spark.readStream.schema("doc_id string, text string")
              .option("maxFilesPerTrigger", 1).parquet(drop))
    out = stateful.exact_once_pairs(
        stateful.streaming_neardup_pairs(stream, threshold=0.5))
    q = (out.writeStream.format("memory").queryName("eopairs")
         .outputMode("append").trigger(availableNow=True).start())
    assert q.awaitTermination(180)
    raw = [(r["id_a"], r["id_b"], r["sig_sim"]) for r in
           spark.sql("select id_a, id_b, sig_sim from eopairs").collect()]
    exp = {(r["id_a"], r["id_b"], r["sig_sim"]) for r in
           dedup.minhash_lsh_pairs(base.unionByName(near),
                                   threshold=0.5).collect()}
    dedup.release_caches()
    assert len(raw) == len(set(raw)), "duplicate emissions survived"
    assert set(raw) == exp and len(exp) >= 25


def test_curate_stream_gates_plus_dedup(spark, pages, tmp_path):
    """The streaming gate stack drops the same rows the batch gates drop,
    and the stateful dedup still kills cross-batch repeats: final output
    == batch-filtered distinct urls (synthetic pages are unique bodies)."""
    drop = str(tmp_path / "drop_curate")
    # plant a cross-batch duplicate: copy of an existing page, new url
    dup = (pages.limit(1)
           .withColumn("url", F.concat(F.col("url"), F.lit("#copy"))))
    pages.unionByName(dup).repartition(4).write.parquet(drop)
    stream = ingest.read_pages_stream(spark, drop, max_files_per_trigger=1)
    kept = stateful.curate_stream(stream, min_quality=0.05,
                                  max_dup_trigram=0.9)
    q = (kept.writeStream.format("memory").queryName("curated")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = {r.url for r in spark.sql("select url from curated").collect()}
    from geolake_spark.functions import text as tx
    batch_kept = (pages.filter(
        tx.quality_score_col(F.col("text")) >= 0.05)
        .filter(tx.dup_ngram_frac_col(F.col("text"), 3) <= 0.9))
    exp = {r.url for r in batch_kept.select("url").collect()}
    # one of {original, #copy} survives for the planted dup; which one
    # depends on micro-batch order, so compare modulo that pair
    base_url = dup.select("url").first().url[:-5]
    assert len(got & {base_url, base_url + "#copy"}) == 1
    got_rest = got - {base_url, base_url + "#copy"}
    exp_rest = exp - {base_url}
    assert got_rest == exp_rest


def test_streaming_geofence_matches_batch(spark, tmp_path):
    """Per-entity walks split across time-ordered micro-batches: the
    streaming operator's cross-batch state must reproduce the batch
    geofence_events output exactly (enter on first in-fence observation,
    exit carries the fence just left, runs never re-emit)."""
    import datetime as dt

    from geolake_spark.functions import geo
    from geolake_spark.operators import trips

    t0 = dt.datetime(2024, 3, 1)
    cell = spark.range(1).select(
        geo.grid_cell_col(F.lit(10.0), F.lit(10.0), 4).alias("cell")
    ).collect()[0].cell
    fences = spark.createDataFrame([(7, cell)], "polygon_id long, cell long")
    # 3 users x 8 steps alternating in/out at varying cadence
    rows = []
    eid = 0
    for u in (1, 2, 3):
        for i in range(8):
            inside = (i // u) % 2 == 1          # different walk per user
            lat, lon = (10.0, 10.0) if inside else (-50.0, -50.0)
            rows.append((u, eid, t0 + dt.timedelta(minutes=i), lat, lon))
            eid += 1
    ev = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, "
        "lat double, lon double")
    batch = {(r.entity, r.event_id): (r.kind, r.fence_id)
             for r in trips.geofence_events(ev, fences, res=4).collect()}

    # two time-split files -> two micro-batches; per-entity arrival order
    # respects event time
    drop = str(tmp_path / "gdrop")
    ev.filter("ts < timestamp'2024-03-01 00:04:00'") \
        .coalesce(1).write.mode("append").parquet(drop)
    ev.filter("ts >= timestamp'2024-03-01 00:04:00'") \
        .coalesce(1).write.mode("append").parquet(drop)
    stream = (spark.readStream.schema(ev.schema)
              .option("maxFilesPerTrigger", 1).parquet(drop))
    out = stateful.streaming_geofence(stream, fences, res=4)
    q = (out.writeStream.format("memory").queryName("gfence")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = {(r.entity, r.event_id): (r.kind, r.fence_id)
           for r in spark.sql("select * from gfence").collect()}
    assert got == batch and len(batch) > 4


def test_streaming_cusum_matches_batch(spark, tmp_path):
    """Final per-entity streaming CUSUM summary == the batch operator
    (update mode; multi-micro-batch via time-split files)."""
    import datetime as dt

    from geolake_spark.operators import aggregates

    t0 = dt.datetime(2024, 3, 1)
    rows = []
    eid = 0
    for u in (1, 2, 3):
        for i in range(30):
            # user 2 drifts high in the second half; user 3 drifts low
            base = 10.0
            if u == 2 and i >= 15:
                base = 14.0
            if u == 3 and i >= 15:
                base = 6.0
            rows.append((u, eid, t0 + dt.timedelta(minutes=i),
                         base + ((eid * 7) % 5) / 100.0))
            eid += 1
    ev = spark.createDataFrame(rows, "user_id long, event_id long, "
                               "ts timestamp, value double")
    kw = dict(target_cents=1000, slack_cents=100, threshold_cents=800)
    batch = {r.entity: (r.n_obs, r.max_hi, r.max_lo, r.n_alarms,
                        r.first_alarm_id)
             for r in aggregates.cusum_alarms(ev, **kw).collect()}
    assert any(v[3] > 0 for v in batch.values())      # alarms planted
    assert any(v[3] == 0 for v in batch.values())     # and a quiet user

    drop = str(tmp_path / "cdrop")
    ev.filter("ts < timestamp'2024-03-01 00:10:00'") \
        .coalesce(1).write.mode("append").parquet(drop)
    ev.filter("ts >= timestamp'2024-03-01 00:10:00' and "
              "ts < timestamp'2024-03-01 00:20:00'") \
        .coalesce(1).write.mode("append").parquet(drop)
    ev.filter("ts >= timestamp'2024-03-01 00:20:00'") \
        .coalesce(1).write.mode("append").parquet(drop)
    stream = (spark.readStream.schema(ev.schema)
              .option("maxFilesPerTrigger", 1).parquet(drop))
    out = stateful.streaming_cusum(stream, **kw)
    q = (out.writeStream.format("memory").queryName("cusumq")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(180)
    # latest update per entity = the one with the highest n_obs
    got = {r.entity: (r.n_obs, r.max_hi, r.max_lo, r.n_alarms,
                      r.first_alarm_id)
           for r in spark.sql(
               "select * from (select *, row_number() over "
               "(partition by entity order by n_obs desc) as rk "
               "from cusumq) where rk = 1").collect()}
    assert got == batch


def test_monitor_job_state_survives_restart(spark, tmp_path, monkeypatch):
    """jobs/monitor.py run twice: the second invocation processes ONLY
    the new file and CONTINUES the per-entity statistics from the
    checkpoint — final summary == the batch operator on all rows."""
    import datetime as dt
    import runpy
    import sys

    from pyspark.sql import SparkSession

    from geolake_spark.operators import aggregates

    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    t0 = dt.datetime(2024, 3, 1)
    rows = [(u, u * 100 + i, t0 + dt.timedelta(minutes=i),
             10.0 + (4.0 if i >= 10 else 0.0))
            for u in (1, 2) for i in range(20)]
    ev = spark.createDataFrame(rows, "user_id long, event_id long, "
                               "ts timestamp, value double")
    drop = str(tmp_path / "drop")
    first = ev.filter("ts < timestamp'2024-03-01 00:10:00'")
    second = ev.filter("ts >= timestamp'2024-03-01 00:10:00'")
    first.coalesce(1).write.mode("append").parquet(drop)

    out, ckpt = str(tmp_path / "alarms"), str(tmp_path / "ckpt")
    argv = ["monitor.py", "--events", drop, "--output", out,
            "--checkpoint", ckpt, "--target-cents", "1000",
            "--slack-cents", "100", "--threshold-cents", "800",
            "--cores", "4"]
    monkeypatch.setattr(sys, "argv", argv)
    runpy.run_path(os.path.join(ROOT, "jobs/monitor.py"), run_name="__main__")
    mid = {r.entity: r.n_obs for r in spark.read.parquet(out).collect()}
    assert mid == {1: 10, 2: 10}         # first half only

    second.coalesce(1).write.mode("append").parquet(drop)
    runpy.run_path(os.path.join(ROOT, "jobs/monitor.py"), run_name="__main__")
    latest = {}
    for r in spark.read.parquet(out).collect():
        if r.entity not in latest or r.n_obs > latest[r.entity].n_obs:
            latest[r.entity] = r
    batch = {r.entity: r for r in aggregates.cusum_alarms(
        ev, target_cents=1000, slack_cents=100,
        threshold_cents=800).collect()}
    for e in (1, 2):
        got, exp = latest[e], batch[e]
        assert (got.n_obs, got.max_hi, got.max_lo, got.n_alarms,
                got.first_alarm_id) == \
            (exp.n_obs, exp.max_hi, exp.max_lo, exp.n_alarms,
             exp.first_alarm_id)
    assert any(r.n_alarms > 0 for r in batch.values())
