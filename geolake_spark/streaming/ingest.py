"""Streaming page ingest: readStream over a parquet drop directory ->
event-time windowed per-cell counts -> append-mode parquet sink.

Late data is handled with a watermark on ``warc_ts``.  The sinks are plain
append-mode parquet writes (no snapshot commit); a restarted stream resumes
from its streaming checkpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geolake_spark.functions.geo import LAT, LON, grid_cell_col

PAGES_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("warc_ts", T.TimestampType()),
    T.StructField("html", T.BinaryType()),
    T.StructField("text", T.StringType()),
    T.StructField("lang", T.StringType()),
    T.StructField(LAT, T.DoubleType()),
    T.StructField(LON, T.DoubleType()),
])


def read_pages_stream(spark: SparkSession, drop_dir: str,
                      max_files_per_trigger: int = 4) -> DataFrame:
    return (spark.readStream.schema(PAGES_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(drop_dir))


def windowed_cell_counts(pages: DataFrame, res: int = 5,
                         window: str = "1 hour",
                         watermark: str = "2 hours") -> DataFrame:
    """Per (event-time window, cell) page counts with late-data handling."""
    return (pages
            .withWatermark("warc_ts", watermark)
            .withColumn("cell", grid_cell_col(F.col(LAT), F.col(LON), res))
            .groupBy(F.window("warc_ts", window).alias("w"), "cell")
            .agg(F.count("*").alias("page_count"))
            .select(F.col("w.start").alias("window_start"), "cell", "page_count"))


def start_cell_count_stream(spark: SparkSession, drop_dir: str, out_dir: str,
                            checkpoint_dir: str, res: int = 5):
    """append-mode sink: finalized (window, cell) counts to parquet."""
    counts = windowed_cell_counts(read_pages_stream(spark, drop_dir), res=res)
    return (counts.writeStream
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .start())


def sessionized_counts(events: DataFrame, gap: str = "8 hours",
                       entity_col: str = "user_id", ts_col: str = "ts",
                       watermark: str = "1 day") -> DataFrame:
    """Event-time session windows — the streaming twin of the batch trip
    segmentation (operators/trips.py): an entity's events merge into one
    session while consecutive gaps stay under ``gap`` (native
    ``session_window`` state merging, JVM-side); the watermark finalizes
    a session once no on-time event can still extend it.  State is one
    open session per active entity — bounded by current activity, not by
    history length.  Boundary nuance vs the batch operator: the batch
    cut is strictly-greater-than ``gap``, session_window merges strictly-
    less-than — a gap EXACTLY equal to ``gap`` differs (measure-zero on
    real timestamps; documented contract)."""
    return (events
            .withWatermark(ts_col, watermark)
            .groupBy(F.col(entity_col),
                     F.session_window(F.col(ts_col), gap).alias("s"))
            .agg(F.count(F.lit(1)).alias("n_points"),
                 F.min(ts_col).alias("start_ts"),
                 F.max(ts_col).alias("end_ts"))
            .select(entity_col, "start_ts", "end_ts", "n_points"))


def start_session_stream(spark: SparkSession, drop_dir: str, out_dir: str,
                         checkpoint_dir: str, schema: T.StructType,
                         gap: str = "8 hours", watermark: str = "1 day"):
    """append-mode sink: finalized (entity, session) rollups to parquet."""
    ev = (spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 4).parquet(drop_dir))
    return (sessionized_counts(ev, gap=gap, watermark=watermark)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .start())


def term_counts_windowed(docs: DataFrame, text_col: str = "text",
                         ts_col: str = "ts", window: str = "1 hour",
                         watermark: str = "1 day",
                         min_len: int = 4) -> DataFrame:
    """Event-time-windowed term counts ``(window_start, token, cnt)`` —
    the trending-terms feed.  Works on batch AND streaming frames
    (count finalizes at the watermark; state per open window is bounded
    by the distinct-token count).  Tokens are lowercased whitespace
    splits of length >= ``min_len`` (drops stopword-sized noise).
    Finish downstream with a per-window rank to get top-k trending."""
    src = docs.withWatermark(ts_col, watermark) if docs.isStreaming \
        else docs
    tok = F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")) \
        .alias("token")
    toks = (src.filter(F.length(F.trim(F.col(text_col))) > 0)
            .select(F.col(ts_col), tok)
            .filter(F.length("token") >= min_len))
    return (toks.groupBy(F.window(ts_col, window).alias("w"), "token")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .select(F.col("w.start").alias("window_start"),
                    "token", "cnt"))


def trending_topk(term_counts: DataFrame, k: int = 10) -> DataFrame:
    """Per-window top-k over a (window_start, token, cnt) table —
    deterministic (cnt desc, token asc)."""
    from pyspark.sql import Window as W
    w = W.partitionBy("window_start").orderBy(F.col("cnt").desc(),
                                              F.col("token").asc())
    return (term_counts.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def impression_click_join(impressions: DataFrame, clicks: DataFrame,
                          attribution_window: str = "30 minutes",
                          watermark: str = "1 hour",
                          user_col: str = "user_id") -> DataFrame:
    """Stream-stream ad attribution: every (impression, click) pair of
    the same user where the click lands in ``[imp_ts, imp_ts +
    attribution_window]``.  Expects ``(imp_id, user_id, imp_ts)`` x
    ``(click_id, user_id, click_ts)``.

    On streams this is Spark's watermarked interval join: the time-bound
    predicate lets the engine EXPIRE buffered rows once the other side's
    watermark passes ``imp_ts + window`` — per-key state is bounded by
    (event rate x window), not by history.  Inner-join matches emit as
    found (no watermark hold), so an ``availableNow`` run equals the
    batch result on the same input.  On batch DataFrames the same code
    is a plain range join (``withWatermark`` is a no-op) — ONE operator,
    both planners, which is the parity test's whole trick."""
    i = (impressions.withWatermark("imp_ts", watermark)
         .select(F.col("imp_id"), F.col(user_col).alias("_iu"),
                 F.col("imp_ts")))
    c = (clicks.withWatermark("click_ts", watermark)
         .select(F.col("click_id"), F.col(user_col).alias("_cu"),
                 F.col("click_ts")))
    cond = ((F.col("_iu") == F.col("_cu"))
            & (F.col("click_ts") >= F.col("imp_ts"))
            & (F.col("click_ts") <= F.col("imp_ts")
               + F.expr(f"INTERVAL {attribution_window}")))
    return (i.join(c, cond)
            .select("imp_id", "click_id", F.col("_iu").alias(user_col),
                    "imp_ts", "click_ts"))


def impression_click_join_sql(imps_sql: str, clicks_sql: str,
                              window_minutes: int = 30,
                              user_col: str = "user_id") -> str:
    """DuckDB mirror of :func:`impression_click_join` (integer-
    microsecond bound — exact)."""
    us = window_minutes * 60 * 1_000_000
    return f"""
SELECT i.imp_id, c.click_id, i.{user_col}, i.imp_ts, c.click_ts
FROM ({imps_sql}) i JOIN ({clicks_sql}) c
  ON i.{user_col} = c.{user_col}
 AND epoch_us(c.click_ts) >= epoch_us(i.imp_ts)
 AND epoch_us(c.click_ts) <= epoch_us(i.imp_ts) + {us}"""
