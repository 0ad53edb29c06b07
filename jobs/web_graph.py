#!/usr/bin/env python
"""spark-submit entrypoint: materialize the web link graph (+ PageRank).

    spark-submit --py-files geolake_spark.zip jobs/web_graph.py \
        --pages /path/pages.parquet --table /path/webgraph \
        [--grain domain|url] [--resume] [--pagerank-out /path/pr]

Extracts hyperlinks from the crawl's raw HTML (url + html columns),
aggregates them to (src, dst, weight) edges and commits them through the
snapshot layer partitioned by ``bucket = pmod(xxhash64(src), N)`` — the
edge table is resumable exactly like the corpus tables (re-run with
--resume skips committed buckets).  With --pagerank-out, runs PageRank
over the committed edge table (reading it back, so a resumed build and
a fresh build rank identically) and writes (node, rank) parquet.

The pages ``html`` column may be binary (the synth pages schema per
BASELINE.json input_hint) or string; binary is decoded as UTF-8.
"""

from __future__ import annotations

import argparse


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True)
    ap.add_argument("--table", required=True)
    ap.add_argument("--grain", default="domain", choices=["domain", "url"])
    ap.add_argument("--buckets", type=int, default=8)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--pagerank-out", default=None)
    ap.add_argument("--pagerank-iters", type=int, default=10)
    ap.add_argument("--cores", type=int, default=None)
    args = ap.parse_args()

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from geolake_spark.catalog import IcebergishTable
    from geolake_spark.operators import graph, links
    from geolake_spark.session import get_spark
    from geolake_spark.write import write_snapshot

    spark = get_spark("web_graph", cores=args.cores)
    pages = spark.read.parquet(args.pages)
    if isinstance(pages.schema["html"].dataType, T.BinaryType):
        pages = pages.withColumn("html", F.col("html").cast("string"))

    edges = links.link_graph(pages, grain=args.grain).withColumn(
        "bucket", F.pmod(F.xxhash64("src"), args.buckets))
    table = IcebergishTable(args.table)
    summary = write_snapshot(edges, table, ["bucket"], resume=args.resume)
    out = {"edges": table.read(spark).count(), **summary}

    if args.pagerank_out:
        committed = table.read(spark)
        ranks = graph.pagerank(committed.select("src", "dst"),
                               n_iter=args.pagerank_iters)
        ranks.write.mode("overwrite").parquet(args.pagerank_out)
        out["nodes_ranked"] = spark.read.parquet(args.pagerank_out).count()

    print(out)
    spark.stop()


if __name__ == "__main__":
    main()
