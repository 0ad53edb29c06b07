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
        <col>=<value>/part-*.parquet  # fresh files only, named by Spark

Commit protocol (one routine, ``IcebergishTable.commit``):
  1. write fresh data files (``write._write_partitions``)
  2. write manifest JSONs for the added partitions, each listing its files
  3. create snap-N.json EXCLUSIVELY, listing every live manifest minus the
     replaced and removed partitions plus the added ones — so adds and
     removes land in ONE snapshot, and a writer that loses the race for N
     gets CommitConflictError (its manifests and files deleted) instead
     of overwriting the winner
  4. atomically rename a temp version-hint over version-hint.txt
  5. delete the replaced and removed manifests' files that the new
     snapshot does not list
Readers read exactly the files the snapshot's manifests list, so a write
that has not committed is never read.

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

    def manifests(self) -> list[dict]:
        """The current snapshot's live manifests."""
        return [m for _, m in self._live(self.snapshot()).values()]

    def committed_partitions(self) -> list[dict]:
        """Partition-value dicts present in the current snapshot."""
        return [m["partition"] for m in self.manifests()]

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
        (Iceberg ``rewrite_data_files`` analogue).  The rewrite goes
        through the one writer (fresh files, each re-sorted by grid cell
        when the table has lat/lon and re-compressed with zstd, whatever
        layout and codec the old files had) and is verified by row
        count before the commit; the manifest keeps its lineage metrics
        (row_count, cell_histogram, column_stats) with only ``files`` and
        ``byte_size`` swapped, and the commit deletes the old files."""
        from geolake_spark.write import _write_partitions
        _, man = self._live(self.snapshot()).get(_key(partition), (0, None))
        if man is None:
            raise ValueError(f"unknown partition: {partition}")
        new = _write_partitions(
            self._scan(spark, [man]).coalesce(target_files), self,
            self.table_spec()["partition_cols"], repartition=False)
        rows = sum(m["row_count"] for m in new)
        if rows != man["row_count"]:
            self._delete_files(new)
            raise RuntimeError(
                f"{self.root}: compaction of {partition} rewrote {rows} rows "
                f"of {man['row_count']}; aborted before the commit")
        snap_id = self.commit([{**man, "files": new[0]["files"],
                                "byte_size": new[0]["byte_size"]}])
        return {"snapshot_id": snap_id, "rows": rows,
                "files": len(new[0]["files"])}

    def expire_snapshots(self, keep_last: int = 2) -> dict:
        """Metadata garbage collection: drop snapshot JSONs older than
        the newest ``keep_last`` plus any manifest no retained snapshot
        references.  Data files are never touched here: ``commit``
        deletes the files its snapshot stops listing, so older snapshots
        keep metadata only.  ``history()``/``diff()`` remain valid for
        retained snapshots only."""
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
        (a write committed new files for it).

        Note on time travel: ``commit`` deletes the files its snapshot
        stops listing, so old snapshots retain lineage/metrics but not
        readable old data — diff and history are the supported
        archaeology, read-at-snapshot is not offered."""
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

    def commit(self, add: list[dict], remove: Sequence[dict] = ()) -> int:
        """The one snapshot writer: a new snapshot whose manifest list is
        the current one with ``add``'s partitions replaced or appended and
        ``remove``'s partitions dropped, then the hint swap, then deletion
        of the replaced and dropped manifests' ``files`` (paths relative
        to ``data_dir``) that ``add`` does not list.  Raises
        CommitConflictError, leaving the winner untouched and deleting
        ``add``'s manifests and files, when another writer has already
        committed the same snapshot id."""
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
            self._delete_files(add)
            raise CommitConflictError(
                f"{self.root}: snapshot {snap_id} was committed by another "
                "writer") from None
        tmp = self._hint_path() + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            f.write(str(snap_id))
        os.replace(tmp, self._hint_path())  # the atomic swap
        self._delete_files([m for k, (_, m) in live.items() if k in gone],
                           keep={f for m in add for f in m["files"]})
        return snap_id

    def _delete_files(self, manifests: list[dict], keep=frozenset()) -> None:
        for f in {f for m in manifests for f in m["files"]} - keep:
            os.remove(os.path.join(self.data_dir, f))

    # -- read path -----------------------------------------------------------

    def read(self, spark: SparkSession,
             partition_filter=None) -> DataFrame:
        """Manifest-driven scan: only paths of live (optionally filtered)
        partitions are handed to the reader — partition pruning happens at
        the metadata level, mirroring geolake's attribute filters
        (datastore.py:420-423)."""
        ms = self.manifests()
        if partition_filter is not None:
            ms = [m for m in ms if partition_filter(m["partition"])]
        if not ms:
            raise ValueError(f"{self.root}: no live partitions (empty table "
                             "or all pruned)")
        return self._scan(spark, ms)

    def _scan(self, spark: SparkSession, manifests: list[dict]) -> DataFrame:
        """The one reader over table data: exactly the files these
        manifests list, typed by the table-spec schema (no footer
        inference).  No manifests -> an empty frame with that schema."""
        schema = StructType.fromJson(self.table_spec()["schema"])
        return (spark.read.schema(schema).option("basePath", self.data_dir)
                .parquet(*[os.path.join(self.data_dir, f)
                           for m in manifests for f in m["files"]]))

    def read_changes(self, spark: SparkSession,
                     from_snap: int | None) -> DataFrame:
        """Incremental (CDC-style) scan: only partitions ADDED or
        REWRITTEN between ``from_snap`` and the current snapshot reach the
        reader, planned purely from manifest metadata (:meth:`diff`) — the
        consumer contract that lets a downstream job re-process a
        10^12-row table's few changed partitions instead of the whole
        table.  Rewritten partitions are re-read WHOLE, from the files the
        current snapshot lists: ``commit`` deletes the files its snapshot
        stops listing, so per-row deltas and reads at an older snapshot
        are not offered (the :meth:`diff` time-travel note).  Nothing
        changed -> an empty DataFrame with the table schema."""
        a = self._live(self.snapshot(from_snap)
                       if from_snap is not None else None)
        b = self._live(self.snapshot())
        return self._scan(spark, [m for k, (name, m) in b.items()
                                  if k not in a or a[k][0] != name])

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
        df = self._scan(spark, kept)
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
