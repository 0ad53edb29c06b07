#!/usr/bin/env python
"""spark-submit entrypoint: table maintenance (compaction + metadata GC).

    spark-submit --py-files geolake_spark.zip jobs/maintain.py \
        --table /path/table [--target-files 1] [--min-files 2] \
        [--keep-snapshots 2] [--dry-run]

The nightly OPTIMIZE every write-heavy table needs: every live
partition whose manifest lists more than ``--min-files`` data files is
rewritten to ``--target-files`` larger ones (catalog.compact_partition —
fresh files, count-verified before the commit, lineage metrics
preserved, one snapshot per compacted partition, the old files deleted
by that commit), then snapshot metadata older than the newest
``--keep-snapshots`` is garbage-collected (catalog.expire_snapshots).
``--dry-run`` reports the plan without touching anything.

Scale shape: the plan comes from manifests (metadata, no listing), each
compaction is one partition-sized Spark job, and GC is pure driver-side
metadata — the table's other partitions are never read.
"""

from __future__ import annotations

import argparse


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--table", required=True)
    ap.add_argument("--target-files", type=int, default=1)
    ap.add_argument("--min-files", type=int, default=2,
                    help="compact only partitions with more data files "
                         "than this")
    ap.add_argument("--keep-snapshots", type=int, default=2)
    ap.add_argument("--dry-run", action="store_true")
    ap.add_argument("--cores", type=int, default=None)
    args = ap.parse_args()

    from geolake_spark.catalog import IcebergishTable
    from geolake_spark.session import get_spark

    table = IcebergishTable(args.table)
    ms = table.manifests()
    plan = [(m["partition"], len(m["files"])) for m in ms
            if len(m["files"]) > args.min_files]
    summary = {"partitions_scanned": len(ms),
               "to_compact": len(plan), "compacted": 0, "rows": 0,
               "expired_snapshots": 0, "dry_run": args.dry_run}
    if args.dry_run:
        print({**summary, "plan": plan})
        return

    spark = get_spark("maintain", cores=args.cores)
    for part, _n in plan:
        info = table.compact_partition(spark, part,
                                       target_files=args.target_files)
        summary["compacted"] += 1
        summary["rows"] += info["rows"]
    gc = table.expire_snapshots(keep_last=args.keep_snapshots)
    summary["expired_snapshots"] = gc["removed_snapshots"]
    print(summary)
    spark.stop()


if __name__ == "__main__":
    main()
