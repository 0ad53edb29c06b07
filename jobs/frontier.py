#!/usr/bin/env python
"""spark-submit entrypoint: crawl-frontier discovery -> politeness plan.

    spark-submit --py-files geolake_spark.zip jobs/frontier.py \
        --sitemaps /path/sitemaps.parquet --pages /path/pages.parquet \
        --robots /path/robots.parquet --table /path/frontier \
        [--agent mybot] [--default-delay 1] [--start-us 0] \
        [--buckets 8] [--resume]

The full discovery chain a polite crawler runs between two fetch
rounds, end to end over already-fetched control files (fetching itself
is out of scope here — sitemap XML and robots.txt bodies arrive as
parquet columns, the same seam jobs/crawl_audit.py uses):

  1. parse sitemap urlsets     (links.sitemap_entries)
  2. canonicalize + dedup      (text.url_canonical_col)
  3. drop already-crawled URLs (anti-join vs the pages table)
  4. robots.txt permission     (robots.robots_check, RFC 9309)
  5. per-host Crawl-delay      (robots.robots_crawl_delays)
  6. serialized fetch plan     (robots.fetch_schedule)

and commits ``(url, host, slot, fetch_at_us, bucket)`` through the
snapshot layer partitioned by ``bucket = pmod(xxhash64(host), N)`` so a
host's serialized schedule lands in ONE shard (a fetcher worker owns
whole hosts); re-run with --resume skips committed buckets.

Scale shape: sitemap parsing and canonicalization are map-only codegen
over the sitemap scan; the seen-set anti-join is the one frontier-sized
shuffle (bloom pre-filterable at 10^12 pages); robots rules and delays
are per-host (broadcast-sized); the schedule is one window per host.
The summary prints the discovery funnel.
"""

from __future__ import annotations

import argparse


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sitemaps", required=True,
                    help="parquet with an xml column of urlset bodies")
    ap.add_argument("--pages", required=True,
                    help="parquet of already-crawled pages (url column)")
    ap.add_argument("--robots", required=True,
                    help="parquet with (host, robots_txt)")
    ap.add_argument("--table", required=True)
    ap.add_argument("--agent", default="*")
    ap.add_argument("--default-delay", type=int, default=1)
    ap.add_argument("--start-us", type=int, default=0)
    ap.add_argument("--buckets", type=int, default=8)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--cores", type=int, default=None)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from geolake_spark.catalog import IcebergishTable
    from geolake_spark.functions import text as tx
    from geolake_spark.operators import links, robots
    from geolake_spark.session import get_spark
    from geolake_spark.write import write_snapshot

    spark = get_spark("frontier", cores=args.cores)
    sitemaps = spark.read.parquet(args.sitemaps)
    pages = spark.read.parquet(args.pages)
    rb = spark.read.parquet(args.robots)

    ent = links.sitemap_entries(sitemaps, key_cols=())
    funnel = {"sitemap_entries": ent.count()}

    cand = (ent.select(tx.url_canonical_col(F.col("url")).alias("url"))
            .filter(F.col("url") != "").distinct())
    funnel["candidates"] = cand.count()

    seen = (pages.select(tx.url_canonical_col(F.col("url")).alias("url"))
            .distinct())
    new = cand.join(seen, "url", "left_anti")
    funnel["new_urls"] = new.count()

    allowed = (robots.robots_check(new, rb, agent=args.agent)
               .filter(F.col("allowed")).select("url"))
    funnel["robots_allowed"] = allowed.count()

    delays = robots.robots_crawl_delays(rb, agent=args.agent)
    plan = robots.fetch_schedule(allowed, delays,
                                 default_delay_s=args.default_delay,
                                 start_us=args.start_us)
    out = plan.withColumn("bucket",
                          F.pmod(F.xxhash64("host"), args.buckets))
    table = IcebergishTable(args.table)
    summary = write_snapshot(out, table, ["bucket"], resume=args.resume)
    committed = table.read(spark)
    funnel["scheduled"] = committed.count()
    funnel["hosts"] = committed.select("host").distinct().count()
    print({**funnel, **summary})
    spark.stop()


if __name__ == "__main__":
    main()
