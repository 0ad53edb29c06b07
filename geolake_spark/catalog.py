"""Iceberg-style table layer: snapshots, per-partition manifests, atomic
commit, checkpoint resume.

No Iceberg jars exist in this sandbox (SURVEY.md §4), so the layout is
emulated with the same contract Iceberg gives a job:

    table_root/
      metadata/
        version-hint.txt          # current snapshot id (atomic swap target)
        snap-<id>.json            # snapshot: schema, partition spec, manifest list
        manifest-<id>-<part>.json # per-partition lineage: files, row counts,
                                  # cell histogram, min/max stats
      data/
        <partition_path>/part-*.parquet

Commit protocol (one routine, ``IcebergishTable.commit``):
  1. write data files under data/<partition>/ (task output)
  2. write manifest JSONs for the added partitions
  3. create snap-N.json EXCLUSIVELY, listing every live manifest minus the
     replaced and removed partitions plus the added ones — so adds and
     removes land in ONE snapshot, and a writer that loses the race for N
     gets CommitConflictError instead of overwriting the winner
  4. atomically rename a temp version-hint over version-hint.txt
  5. delete the data directories of removed partitions

Resume = anti-join of planned partition values against partitions already in
the current snapshot (SURVEY.md §2.3 J6; BASELINE.json "resumable from
checkpoint with per-partition lineage + metrics").  The reference analogue is
the request state machine PENDING->DONE in Postgres
(/root/reference/datastore/dbmanager/dbmanager.py:42-49) — here the lakehouse
metadata itself is the checkpoint.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


class CommitConflictError(RuntimeError):
    """Another writer committed the snapshot id this commit was building."""


def _key(partition: dict) -> str:
    return json.dumps(partition, sort_keys=True)


class IcebergishTable:
    def __init__(self, root: str):
        self.root = root
        self.meta_dir = os.path.join(root, "metadata")
        self.data_dir = os.path.join(root, "data")

    # -- metadata primitives ------------------------------------------------

    def _hint_path(self) -> str:
        return os.path.join(self.meta_dir, "version-hint.txt")

    def current_snapshot_id(self) -> int | None:
        try:
            with open(self._hint_path()) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return None

    def _snap_path(self, snap_id: int) -> str:
        return os.path.join(self.meta_dir, f"snap-{snap_id}.json")

    def snapshot(self, snap_id: int | None = None) -> dict | None:
        sid = snap_id if snap_id is not None else self.current_snapshot_id()
        if sid is None:
            return None
        with open(self._snap_path(sid)) as f:
            return json.load(f)

    def _live(self, snap: dict | None) -> dict[str, tuple[str, dict]]:
        """``snap``'s live manifests keyed by partition, in manifest-list
        order: partition key -> (manifest file name, manifest)."""
        out = {}
        for name in (snap["manifest_list"] if snap else []):
            with open(os.path.join(self.meta_dir, name)) as f:
                man = json.load(f)
            out[_key(man["partition"])] = (name, man)
        return out

    def manifests(self, snap_id: int | None = None) -> list[dict]:
        return [m for _, m in self._live(self.snapshot(snap_id)).values()]

    def committed_partitions(self, snap_id: int | None = None) -> list[dict]:
        """Partition-value dicts present in the current snapshot."""
        return [m["partition"] for m in self.manifests(snap_id)]

    def history(self) -> list[dict]:
        """Snapshot log, oldest -> newest (metadata only): follow
        parent_id links from the current hint; stops at the first
        expired (deleted) ancestor."""
        out = []
        sid = self.current_snapshot_id()
        while sid is not None:
            try:
                s = self.snapshot(sid)
            except FileNotFoundError:
                break  # ancestor expired by expire_snapshots()
            out.append({k: s[k] for k in
                        ("snapshot_id", "parent_id", "timestamp_ms",
                         "summary")})
            sid = s["parent_id"]
        return list(reversed(out))

    # -- maintenance ---------------------------------------------------------

    def compact_partition(self, spark: SparkSession, partition: dict,
                          target_files: int = 1) -> dict:
        """Rewrite one partition's files into ``target_files`` larger
        ones and commit a new snapshot — the small-files maintenance op
        (Iceberg ``rewrite_data_files`` analogue).  Row content is
        unchanged: the rewrite is verified by count BEFORE the
        destructive swap, and the manifest keeps its lineage metrics
        (row_count, cell_histogram) with only byte_size refreshed."""
        path = self.partition_path(partition)
        before = [m for m in self.manifests() if m["partition"] == partition]
        if not before:
            raise ValueError(f"unknown partition: {partition}")
        man = dict(before[0])
        df = spark.read.parquet(path)
        n_before = df.count()
        tmp = path + f".compact-{uuid.uuid4().hex[:8]}"
        df.coalesce(target_files).write.parquet(tmp)
        if spark.read.parquet(tmp).count() != n_before:
            shutil.rmtree(tmp)
            raise RuntimeError("compaction row-count mismatch; aborted "
                               "before swap")
        old = path + f".pre-compact-{uuid.uuid4().hex[:8]}"
        os.rename(path, old)
        os.rename(tmp, path)
        shutil.rmtree(old)
        man["byte_size"] = sum(
            os.path.getsize(os.path.join(path, f))
            for f in os.listdir(path) if not f.startswith("."))
        snap_id = self.commit([man])
        files = len([f for f in os.listdir(path)
                     if f.endswith(".parquet")])
        return {"snapshot_id": snap_id, "rows": n_before, "files": files}

    def expire_snapshots(self, keep_last: int = 2) -> dict:
        """Metadata garbage collection: drop snapshot JSONs older than
        the newest ``keep_last`` plus any manifest no retained snapshot
        references.  Data files are never touched here (partition
        overwrite already replaces them in place).  ``history()``/
        ``diff()`` remain valid for retained snapshots only."""
        if keep_last < 1:
            raise ValueError(f"keep_last must be at least 1, got {keep_last}")
        hist = self.history()
        keep = [h["snapshot_id"] for h in hist[-keep_last:]]
        referenced: set[str] = set()
        for sid in keep:
            referenced |= set(self.snapshot(sid)["manifest_list"])
        removed_snaps = 0
        for h in hist:
            if h["snapshot_id"] not in keep:
                os.remove(self._snap_path(h["snapshot_id"]))
                removed_snaps += 1
        removed_manifests = 0
        for f in os.listdir(self.meta_dir):
            if f.startswith("manifest-") and f not in referenced:
                os.remove(os.path.join(self.meta_dir, f))
                removed_manifests += 1
        return {"removed_snapshots": removed_snaps,
                "removed_manifests": removed_manifests,
                "retained": keep}

    def diff(self, from_snap: int | None,
             to_snap: int | None = None) -> dict:
        """Partition-level diff between two snapshots — METADATA ONLY
        (manifest identity), no data scan.  ``from_snap=None`` diffs
        against the empty table.  A partition counts as *rewritten*
        when both snapshots carry it but under different manifests
        (dynamic partition overwrite committed new files for it).

        Note on time travel: partition overwrites REPLACE data files in
        place (unlike Iceberg's immutable file sets), so old snapshots
        retain lineage/metrics but not readable old data — diff and
        history are the supported archaeology, read-at-snapshot is
        deliberately not offered."""
        a = self._live(self.snapshot(from_snap)
                       if from_snap is not None else None)
        b = self._live(self.snapshot(to_snap))
        added = sorted(k for k in b if k not in a)
        removed = sorted(k for k in a if k not in b)
        rewritten = sorted(k for k in a if k in b and a[k][0] != b[k][0])
        unchanged = sorted(k for k in a if k in b and a[k][0] == b[k][0])
        rows = (sum(m["row_count"] for _, m in b.values())
                - sum(m["row_count"] for _, m in a.values()))
        return {
            "added": [b[k][1]["partition"] for k in added],
            "removed": [a[k][1]["partition"] for k in removed],
            "rewritten": [b[k][1]["partition"] for k in rewritten],
            "unchanged": len(unchanged),
            "row_delta": rows,
        }

    # -- write path ----------------------------------------------------------

    def init(self, schema_json: str, partition_cols: list[str]) -> None:
        os.makedirs(self.meta_dir, exist_ok=True)
        os.makedirs(self.data_dir, exist_ok=True)
        spec = {"schema": json.loads(schema_json), "partition_cols": partition_cols}
        with open(os.path.join(self.meta_dir, "table-spec.json"), "w") as f:
            json.dump(spec, f, indent=1)

    def table_spec(self) -> dict:
        with open(os.path.join(self.meta_dir, "table-spec.json")) as f:
            return json.load(f)

    def partition_path(self, partition: dict) -> str:
        parts = [f"{k}={v}" for k, v in partition.items()]
        return os.path.join(self.data_dir, *parts)

    def commit(self, add: list[dict], remove: Sequence[dict] = ()) -> int:
        """The one snapshot writer: a new snapshot whose manifest list is
        the current one with ``add``'s partitions replaced or appended and
        ``remove``'s partitions dropped, then the hint swap, then removal
        of the dropped partitions' data directories.  Raises
        CommitConflictError, leaving the winner untouched, when another
        writer has already committed the same snapshot id."""
        prev = self.snapshot()
        snap_id = (prev["snapshot_id"] + 1) if prev else 1
        live = self._live(prev)
        added = {_key(m["partition"]) for m in add}
        dropped = [live[k][1]["partition"] for k in map(_key, remove)
                   if k in live and k not in added]
        gone = added | {_key(p) for p in dropped}
        names = []
        for m in add:
            name = f"manifest-{snap_id}-{uuid.uuid4().hex[:8]}.json"
            with open(os.path.join(self.meta_dir, name), "w") as f:
                json.dump(m, f)
            names.append(name)
        summary = {"added_partitions": len(add)}
        if dropped:
            summary["dropped_partitions"] = len(dropped)
        snap = {
            "snapshot_id": snap_id,
            "parent_id": prev["snapshot_id"] if prev else None,
            "timestamp_ms": int(time.time() * 1000),
            "manifest_list": [name for k, (name, _) in live.items()
                              if k not in gone] + names,
            "summary": summary,
        }
        try:
            with open(self._snap_path(snap_id), "x") as f:
                json.dump(snap, f, indent=1)
        except FileExistsError:
            for name in names:
                os.remove(os.path.join(self.meta_dir, name))
            raise CommitConflictError(
                f"{self.root}: snapshot {snap_id} was committed by another "
                "writer") from None
        tmp = self._hint_path() + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            f.write(str(snap_id))
        os.replace(tmp, self._hint_path())  # the atomic swap
        for p in dropped:
            shutil.rmtree(self.partition_path(p), ignore_errors=True)
        return snap_id

    # -- read path -----------------------------------------------------------

    def read(self, spark: SparkSession,
             partition_filter=None) -> DataFrame:
        """Manifest-driven scan: only paths of live (optionally filtered)
        partitions are handed to the reader — partition pruning happens at
        the metadata level, mirroring geolake's attribute filters
        (datastore.py:420-423)."""
        parts = self.committed_partitions()
        if partition_filter is not None:
            parts = [p for p in parts if partition_filter(p)]
        if not parts:
            raise ValueError(f"{self.root}: no live partitions (empty table "
                             "or all pruned)")
        return self._scan(spark, parts)

    def _scan(self, spark: SparkSession, partitions: list[dict]) -> DataFrame:
        """The one reader over table data: exactly these partitions'
        directories, typed by the table-spec schema (no footer inference).
        No partitions -> an empty frame with that schema."""
        schema = StructType.fromJson(self.table_spec()["schema"])
        return (spark.read.schema(schema).option("basePath", self.data_dir)
                .parquet(*[self.partition_path(p) for p in partitions]))

    def read_changes(self, spark: SparkSession, from_snap: int | None,
                     to_snap: int | None = None) -> DataFrame:
        """Incremental (CDC-style) scan: only partitions ADDED or
        REWRITTEN since ``from_snap`` reach the reader, planned purely
        from manifest metadata (:meth:`diff`) — the consumer contract
        that lets a downstream job re-process a 10^12-row table's few
        changed partitions instead of the whole table.  Rewritten
        partitions are re-read WHOLE and reflect the CURRENT files:
        partition overwrite replaces data in place, so per-row deltas
        and read-at-old-snapshot are deliberately not offered (the
        :meth:`diff` time-travel note).  Nothing changed -> an empty
        DataFrame with the table schema."""
        d = self.diff(from_snap, to_snap)
        return self._scan(spark, d["added"] + d["rewritten"])

    def stats_prune(self, col: str, lo=None, hi=None) -> tuple[list, int]:
        """Data skipping on manifest column stats: (kept manifests,
        skipped count) for the predicate ``lo <= col <= hi`` (either
        bound optional).  A partition is skipped only when its recorded
        [min, max] provably misses the range; missing stats (older
        manifests, non-numeric columns) keep the partition — pruning is
        an optimization, never a filter."""
        kept, skipped = [], 0
        for m in self.manifests():
            cs = m.get("column_stats", {}).get(col)
            if (cs is not None and cs["min"] is not None
                    and ((hi is not None and cs["min"] > hi)
                         or (lo is not None and cs["max"] < lo))):
                skipped += 1
            else:
                kept.append(m)
        return kept, skipped

    def read_where(self, spark: SparkSession, col: str,
                   lo=None, hi=None) -> DataFrame:
        """Manifest-stat-pruned range scan: partitions whose column
        min/max misses ``[lo, hi]`` never reach the reader (the Iceberg
        data-skipping move, at our partition granularity); the residual
        row filter still applies on the survivors, pushed down to the
        parquet scan."""
        kept, _ = self.stats_prune(col, lo, hi)
        df = self._scan(spark, [m["partition"] for m in kept])
        if lo is not None:
            df = df.filter(F.col(col) >= F.lit(lo))
        if hi is not None:
            df = df.filter(F.col(col) <= F.lit(hi))
        return df

    def stats(self) -> dict:
        """Table-level statistics from manifests only (no data scan) — the
        geolake `estimate` analogue (datastore.py:363-394)."""
        ms = self.manifests()
        return {
            "partitions": len(ms),
            "rows": sum(m["row_count"] for m in ms),
            "bytes": sum(m["byte_size"] for m in ms),
        }
