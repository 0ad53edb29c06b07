#!/usr/bin/env python
"""spark-submit entrypoint: exact kNN join.

    spark-submit --py-files geolake_spark.zip jobs/knn.py \
        --pages /path/pages.parquet --probes /path/query_points.parquet \
        --output /path/out --k 5
"""

from __future__ import annotations

import argparse


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True)
    ap.add_argument("--probes", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--k", type=int, default=5)
    ap.add_argument("--res", type=int, default=6)
    ap.add_argument("--cores", type=int, default=None)
    args = ap.parse_args()

    from geolake_spark.operators import joins
    from geolake_spark.session import get_spark

    spark = get_spark("knn", cores=args.cores)
    pages = spark.read.parquet(args.pages)
    probes = spark.read.parquet(args.probes)
    out = joins.knn_join_table(pages, probes, k=args.k, res=args.res)
    out.write.mode("overwrite").parquet(args.output)
    print({"rows": spark.read.parquet(args.output).count()})
    spark.stop()


if __name__ == "__main__":
    main()
