#!/usr/bin/env python
"""spark-submit entrypoint: materialize a positional inverted index.

    spark-submit --py-files geolake_spark.zip jobs/text_index.py \
        --input /path/corpus.parquet --table /path/index \
        [--min-df 2] [--champions 0] [--buckets 8] [--resume]

Builds the (term, df_count, doc_id, tf, positions) postings rows
(operators/search.build_postings) and commits them through the snapshot
layer partitioned by ``bucket = pmod(xxhash64(term), N)`` — term-hash
bucketing co-locates each term's full posting list in one partition, so
a phrase/BM25 reader prunes to the buckets of its query terms and never
scans the rest of the index.  Re-run with --resume skips committed
buckets (checkpoint restart, the jobs/ingest.py contract).

--champions K > 0 applies index pruning: keep only each term's top-K
postings by (tf desc, doc_id asc) — the classic champion-list tier for
approximate top-k retrieval; K=0 keeps the full index.

Scale shape: tokenize+posexplode is map-only; the (term, doc) agg is
the one token-volume shuffle (partial agg collapses repeats per task);
document frequency is a window over already-aggregated index rows.
"""

from __future__ import annotations

import argparse


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--table", required=True)
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--min-df", type=int, default=1)
    ap.add_argument("--champions", type=int, default=0,
                    help="keep only each term's top-K postings by tf "
                         "(0 = full index)")
    ap.add_argument("--buckets", type=int, default=8)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--cores", type=int, default=None)
    args = ap.parse_args()

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from geolake_spark.catalog import IcebergishTable
    from geolake_spark.operators import search
    from geolake_spark.session import get_spark
    from geolake_spark.write import write_snapshot

    spark = get_spark("text_index", cores=args.cores)
    docs = spark.read.parquet(args.input)
    postings = search.build_postings(docs, text_col=args.text_col,
                                     id_col=args.id_col,
                                     min_df=args.min_df)
    if args.champions > 0:
        w = Window.partitionBy("term").orderBy(
            F.col("tf").desc(), F.col("doc_id").asc())
        postings = (postings
                    .withColumn("_rk", F.row_number().over(w))
                    .filter(F.col("_rk") <= args.champions).drop("_rk"))
    out = postings.withColumn(
        "bucket", F.pmod(F.xxhash64("term"), args.buckets))
    table = IcebergishTable(args.table)
    summary = write_snapshot(out, table, ["bucket"], resume=args.resume)
    stats = table.read(spark).agg(
        F.count(F.lit(1)).alias("postings"),
        F.countDistinct("term").alias("terms")).collect()[0]
    print({"postings": stats.postings, "terms": stats.terms, **summary})
    spark.stop()


if __name__ == "__main__":
    main()
