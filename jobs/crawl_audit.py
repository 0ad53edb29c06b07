#!/usr/bin/env python
"""spark-submit entrypoint: crawl-policy audit + main-content refinery.

    spark-submit --py-files geolake_spark.zip jobs/crawl_audit.py \
        --pages /path/pages.parquet --table /path/audited \
        [--robots /path/robots.parquet] [--agent mybot] \
        [--main-content] [--buckets 8] [--resume]

The compliance pass every crawl corpus needs before training-data
curation: evaluate each page's in-page policies (<meta name="robots">,
<link rel="canonical">) and, when a robots table (host, robots_txt) is
given, the host's robots.txt permission for --agent.  Pages that are
noindex, robots-disallowed, or canonical-shadowed (a DIFFERENT page is
the declared canonical keeper) are dropped; survivors optionally get
boilerplate-stripped main text (--main-content replaces ``text`` with
functions/text.main_content_col output) and are committed through the
snapshot layer partitioned by ``bucket = pmod(xxhash64(url), N)`` —
re-run with --resume skips committed buckets (checkpoint restart, the
jobs/ingest.py contract).

Scale shape: policies, the canonical-shadow drop and main content are
map-only codegen over the page scan; the robots join is per-host
(broadcast-sized).  The summary reports the drop funnel per gate.
"""

from __future__ import annotations

import argparse


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True)
    ap.add_argument("--table", required=True)
    ap.add_argument("--robots", default=None,
                    help="parquet with (host, robots_txt); omit to skip "
                         "the robots.txt gate")
    ap.add_argument("--agent", default="*")
    ap.add_argument("--main-content", action="store_true",
                    help="replace text with boilerplate-stripped main "
                         "content (Arc90/jusText block heuristic)")
    ap.add_argument("--buckets", type=int, default=8)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--cores", type=int, default=None)
    args = ap.parse_args()

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from geolake_spark.catalog import IcebergishTable
    from geolake_spark.functions import text as tx
    from geolake_spark.operators import links, robots
    from geolake_spark.session import get_spark
    from geolake_spark.write import write_snapshot

    spark = get_spark("crawl_audit", cores=args.cores)
    pages = spark.read.parquet(args.pages)
    if isinstance(pages.schema["html"].dataType, T.BinaryType):
        pages = pages.withColumn("html", F.col("html").cast("string"))

    funnel = {"rows_in": pages.count()}

    pol = links.crawl_policies(pages)
    pages = (pages.join(pol.select("url", "noindex", "canonical_url"),
                        "url"))
    pages = pages.filter(~F.col("noindex"))
    funnel["rows_indexable"] = pages.count()

    # canonical shadowing: drop a page that declares a DIFFERENT page as
    # its canonical (the declared target is the keeper) — map-only, no
    # join; pages with no canonical tag or a self-canonical stay
    own = tx.url_canonical_col(F.col("url"))
    pages = pages.filter((F.col("canonical_url") == "")
                         | (F.col("canonical_url") == own))
    funnel["rows_canonical_keepers"] = pages.count()

    if args.robots:
        rb = spark.read.parquet(args.robots)
        allowed = (robots.robots_check(pages.select("url"), rb,
                                       agent=args.agent)
                   .filter(F.col("allowed")).select("url"))
        pages = pages.join(allowed, "url", "left_semi")
        funnel["rows_robots_allowed"] = pages.count()

    if args.main_content:
        pages = pages.withColumn("text",
                                 tx.main_content_col(F.col("html")))

    out = (pages.drop("noindex", "canonical_url")
           .withColumn("bucket", F.pmod(F.xxhash64("url"), args.buckets)))
    table = IcebergishTable(args.table)
    summary = write_snapshot(out, table, ["bucket"], resume=args.resume)
    kept = table.read(spark).count()
    print({**funnel, "rows_committed": kept, **summary})
    spark.stop()


if __name__ == "__main__":
    main()
