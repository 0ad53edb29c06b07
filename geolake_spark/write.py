"""Snapshot-committed, resumable partitioned writes.

``write_snapshot`` is the engine's sink: partition the DataFrame, write each
planned partition's parquet under the Iceberg-style layout, record a manifest
(row count + cell histogram) per partition, commit atomically.  Every table
file is zstd-compressed, and a table with ``lat``/``lon`` stores each file's
rows sorted by their res-9 grid cell, so neighbouring pages sit together and
the cell, tile and S2 columns form dictionary/RLE runs (Iceberg's table sort
order and its default zstd codec).  On restart,
``resume=True`` anti-joins the planned partitions against the committed ones
and writes only the remainder (BASELINE.json "resumable from Iceberg-snapshot
checkpoints"; reference analogue: request state machine
/root/reference/datastore/dbmanager/dbmanager.py:42-49,102-132).
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Sequence
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from geolake_spark.catalog import IcebergishTable
from geolake_spark.functions.geo import LAT, LON, grid_cell_col
from geolake_spark.metrics import partition_metrics


def write_bucketed(df: DataFrame, table_name: str, bucket_cols: list[str],
                   n_buckets: int = 32, sort_cols: list[str] | None = None,
                   mode: str = "overwrite") -> None:
    """Bucketed managed table for shuffle-free co-located joins.

    Two tables bucketed by the same key/count join with NO Exchange on
    either side (verified by plan in tests) — the 100TB answer to repeated
    big-x-big joins on a stable key (e.g. pages and link-graph edges both
    bucketed by url hash): the shuffle is paid once at write time, every
    downstream join reads co-located buckets.  At cluster scale pick
    n_buckets ~= 2-4x total executor cores.
    """
    (df.write.mode(mode)
     .bucketBy(n_buckets, *bucket_cols)
     .sortBy(*(sort_cols or bucket_cols))
     .format("parquet")
     .saveAsTable(table_name))


def write_snapshot(df: DataFrame, table: IcebergishTable,
                   partition_cols: list[str],
                   resume: bool = False,
                   repartition: bool = True) -> dict:
    """Write df into the table, one snapshot. Returns a summary dict.

    The whole write is ONE distributed job (partitionBy write of fresh
    files) plus ONE metrics aggregation over the written files —
    planned/committed partition reconciliation happens on partition
    *values* (metadata), never on data rows.

    ``repartition=False`` keeps the incoming partitioning, so each file
    holds exactly the rows of one task (layout.zorder_write range-partitions
    by (partition, z-value), and a hash repartition here would scramble
    that clustering).  The order inside a file is still the writer's own:
    the grid-cell order, when the frame has ``lat`` and ``lon``.
    """
    if not os.path.exists(os.path.join(table.meta_dir, "table-spec.json")):
        table.init(df.schema.json(), partition_cols)
    spec_cols = table.table_spec()["partition_cols"]
    if list(partition_cols) != spec_cols:
        raise ValueError(
            f"partition columns {list(partition_cols)} differ from the "
            f"table's {spec_cols}")

    committed = table.committed_partitions() if resume else []
    skip_keys = {tuple(p[c] for c in partition_cols) for p in committed}

    work = df
    if skip_keys:
        # metadata-level anti-join as TYPED null-safe equality literals (the
        # committed JSON round-trips bool/int/float/str/null exactly, while
        # the earlier string-key compare broke on Python-vs-Spark renderings
        # — 'True' vs 'true' — and a null made the ~isin predicate null,
        # silently dropping the rows).  exceptAll/left_anti against a lifted
        # partition DF would shuffle the fact table; a literal predicate
        # prunes at the scan.  Partition counts are metadata-bounded.
        import functools
        import operator
        def match(key: tuple):
            return functools.reduce(operator.and_, [
                F.col(c).eqNullSafe(F.lit(v))
                for c, v in zip(partition_cols, key)])
        any_committed = functools.reduce(operator.or_,
                                         [match(k) for k in skip_keys])
        work = work.filter(~any_committed)

    metrics = _write_partitions(work, table, partition_cols, repartition)
    return _commit(table, metrics, len(skip_keys))


def _commit(table: IcebergishTable, metrics: list[dict], skipped: int,
            remove: Sequence[dict] = ()) -> dict:
    """Commit written manifests and removed partitions as one snapshot
    (none when there is nothing to change); the write summary."""
    return {"snapshot_id": (table.commit(metrics, remove)
                            if metrics or remove
                            else table.current_snapshot_id()),
            "written_partitions": len(metrics), "skipped_partitions": skipped,
            "rows": sum(m["row_count"] for m in metrics)}


def _write_partitions(work: DataFrame, table: IcebergishTable,
                      partition_cols: list[str],
                      repartition: bool = True) -> list[dict]:
    """Write ``work`` as fresh files under the table's data dir; return one
    manifest per written partition, uncommitted, listing its ``files``.
    Spark writes and names them in a hidden staging dir; they then move to
    the same relative path under ``data_dir``.  If anything fails, the
    files already moved are deleted before the error propagates, so no
    file that no manifest lists stays under ``data_dir``.

    Files are zstd-compressed.  With ``lat`` and ``lon``, each file's rows
    are sorted by their res-9 grid cell (nulls first).  The sort keeps the
    partition columns as its prefix, so it stands in for the sort Spark's
    partitioned write plans anyway instead of adding one; the cell id is a
    few arithmetic ops inside whole-stage codegen."""
    laid_out = (work.repartition(*[F.col(c) for c in partition_cols])
                if repartition else work)
    if LAT in work.columns and LON in work.columns:
        laid_out = laid_out.sortWithinPartitions(
            *partition_cols, grid_cell_col(F.col(LAT), F.col(LON), 9))
    # hidden parent: listings of data/ skip it (a hidden root makes Spark warn)
    stage = os.path.join(table.data_dir, ".stage", uuid.uuid4().hex)
    moved: list[str] = []
    try:
        (laid_out.write.partitionBy(*partition_cols)
         .option("compression", "zstd").parquet(stage))
        # metrics and file lists from the files just written: avoids
        # re-running the whole upstream pipeline (pandas-UDF enrichment is
        # expensive) and doubles as a read-back validation of the write.
        schema = StructType.fromJson(table.table_spec()["schema"])
        back = work.sparkSession.read.schema(schema).parquet(stage)
        metrics = partition_metrics(back, partition_cols)
        for m in metrics:
            files = sorted(os.path.relpath(unquote(urlparse(u).path), stage)
                           for u in m["files"])
            for f in files:
                os.renames(os.path.join(stage, f),
                           os.path.join(table.data_dir, f))
                moved.append(f)
            m["files"] = files
            m["byte_size"] = sum(os.path.getsize(
                os.path.join(table.data_dir, f)) for f in files)
    except BaseException:
        for f in moved:
            os.remove(os.path.join(table.data_dir, f))
        raise
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    return metrics


def merge_snapshot(updates: DataFrame, table: IcebergishTable,
                   key_cols: list[str],
                   deletes: DataFrame | None = None) -> dict:
    """Copy-on-write MERGE (Iceberg/Delta ``MERGE INTO`` analogue): upsert
    ``updates`` by ``key_cols`` and optionally remove ``deletes`` keys,
    rewriting ONLY the table partitions the touched keys live in.

    Semantics (one new snapshot):

    * a current row whose key matches an update row is REPLACED,
    * an update row with an unseen key is INSERTED,
    * a current row whose key is in ``deletes`` (key_cols + partition
      cols) is REMOVED,
    * every row in an untouched partition is untouched — its files and
      manifests carry over to the new snapshot verbatim.

    Scale shape: the affected-partition set comes from a distinct on the
    partition columns (metadata-sized collect); the current-state read is
    MANIFEST-PRUNED to those partitions, so a 10-partition merge against
    a 100k-partition table scans 10 partitions; the anti-join runs over
    that slice only, with the updates side broadcastable when small.
    This is exactly the copy-on-write granularity trade Iceberg v1 makes
    (file-level there, partition-level here — our manifest unit).  Fresh
    files leave the lazily read current slice intact until the commit.

    Contract: a key's partition values must not change across merges
    (standard CoW-merge constraint — a moved key must be deleted from
    its old partition explicitly via ``deletes``).  A key present in
    BOTH ``updates`` and ``deletes`` resolves update-wins (the old row
    is removed, the update row lands) — matched-delete-then-insert, the
    upsert reading of that conflict.

    Reference analogue: none — geolake's sink is append/overwrite only
    (executor writes whole products); MERGE extends the lakehouse
    surface (SURVEY §2 S9-S11) the way engines users expect.
    """
    spark = updates.sparkSession
    part_cols = table.table_spec()["partition_cols"]
    touched = updates.select(*part_cols)
    if deletes is not None:
        touched = touched.unionByName(deletes.select(*part_cols))
    affected = {tuple(r[c] for c in part_cols)
                for r in touched.distinct().collect()}
    live = {tuple(m["partition"][c] for c in part_cols)
            for m in table.manifests()}
    hit = affected & live

    merged = updates
    if hit:
        current = table.read(
            spark, partition_filter=lambda p:
            tuple(p[c] for c in part_cols) in hit)
        keys = updates.select(*key_cols)
        if deletes is not None:
            keys = keys.unionByName(deletes.select(*key_cols))
        survivors = current.join(keys.distinct(), key_cols, "left_anti")
        merged = survivors.unionByName(updates.select(*current.columns))
    n_deleted = 0
    if deletes is not None:
        n_deleted = (table.read(spark, partition_filter=lambda p:
                                tuple(p[c] for c in part_cols) in hit)
                     .join(deletes.select(*key_cols).distinct(),
                           key_cols, "left_semi").count()) if hit else 0

    metrics = _write_partitions(merged, table, part_cols)
    # a partition whose rows were ALL deleted has nothing in `merged`, so
    # no manifest replaces it — the same commit drops it
    written = {tuple(m["partition"][c] for c in part_cols) for m in metrics}
    emptied = [dict(zip(part_cols, k)) for k in sorted(hit - written)]
    out = _commit(table, metrics, 0, emptied)
    if emptied:
        out["dropped_partitions"] = len(emptied)
    out["merged_partitions"] = len(affected)
    out["deleted_rows"] = n_deleted
    return out
