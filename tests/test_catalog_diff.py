"""Snapshot history + metadata-only diff (catalog.IcebergishTable)."""

import os

import pandas as pd
from pyspark.sql import functions as F

from geolake_spark.catalog import IcebergishTable
from geolake_spark.write import write_snapshot

from conftest import ROOT


def _df(spark, shards, rows_per=10, start=0):
    rows = [(start + s * rows_per + i, s, 0.0, 0.0)
            for s in shards for i in range(rows_per)]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["id", "shard", "lat", "lon"]))


def test_history_and_diff(spark, tmp_path):
    t = IcebergishTable(str(tmp_path / "t"))
    write_snapshot(_df(spark, [0, 1]), t, ["shard"])          # snap 1
    write_snapshot(_df(spark, [1, 2], rows_per=5, start=100),
                   t, ["shard"])                              # snap 2

    hist = t.history()
    assert [h["snapshot_id"] for h in hist] == [1, 2]
    assert hist[0]["parent_id"] is None and hist[1]["parent_id"] == 1

    d = t.diff(1, 2)
    assert d["added"] == [{"shard": 2}]
    assert d["removed"] == []
    assert d["rewritten"] == [{"shard": 1}]      # overwritten partition
    assert d["unchanged"] == 1                   # shard 0 untouched
    # snap1: 10+10 rows; snap2: shard0 10 + shard1 5 + shard2 5
    assert d["row_delta"] == 20 - 20

    d0 = t.diff(None, 1)
    assert sorted(p["shard"] for p in d0["added"]) == [0, 1]
    assert d0["row_delta"] == 20


def test_diff_defaults_to_current(spark, tmp_path):
    t = IcebergishTable(str(tmp_path / "t"))
    write_snapshot(_df(spark, [0]), t, ["shard"])
    write_snapshot(_df(spark, [1]), t, ["shard"])
    d = t.diff(1)
    assert d["added"] == [{"shard": 1}] and d["unchanged"] == 1


def test_compact_partition(spark, tmp_path):
    t = IcebergishTable(str(tmp_path / "t"))
    df = _df(spark, [0], rows_per=40).repartition(8)
    write_snapshot(df, t, ["shard"], repartition=False)
    import glob, os
    part = os.path.join(t.data_dir, "shard=0")
    n_files_before = len(glob.glob(os.path.join(part, "*.parquet")))
    assert n_files_before > 1
    man_before = t.manifests()[0]

    info = t.compact_partition(spark, {"shard": 0}, target_files=1)
    assert info["files"] == 1 and info["rows"] == 40
    assert len(glob.glob(os.path.join(part, "*.parquet"))) == 1
    # content identical, lineage metrics preserved, snapshot advanced
    back = t.read(spark)
    assert back.count() == 40
    man_after = t.manifests()[0]
    assert man_after["row_count"] == man_before["row_count"]
    assert man_after["cell_histogram"] == man_before["cell_histogram"]
    d = t.diff(info["snapshot_id"] - 1, info["snapshot_id"])
    assert d["rewritten"] == [{"shard": 0}] and d["row_delta"] == 0


def test_expire_snapshots(spark, tmp_path):
    import os
    t = IcebergishTable(str(tmp_path / "t"))
    for i in range(4):
        write_snapshot(_df(spark, [i]), t, ["shard"])
    assert len(t.history()) == 4
    out = t.expire_snapshots(keep_last=2)
    assert out["removed_snapshots"] == 2 and out["retained"] == [3, 4]
    # history stops at the expiry horizon; current reads still work
    assert [h["snapshot_id"] for h in t.history()] == [3, 4]
    assert t.read(spark).count() == 4 * 10
    # every retained manifest file still exists
    for m in (set(t.snapshot(3)["manifest_list"])
              | set(t.snapshot(4)["manifest_list"])):
        assert os.path.exists(os.path.join(t.meta_dir, m))


def test_expire_snapshots_rejects_keep_last_below_one(spark, tmp_path):
    import pytest
    t = IcebergishTable(str(tmp_path / "t"))
    write_snapshot(_df(spark, [0]), t, ["shard"])
    with pytest.raises(ValueError, match="got 0"):
        t.expire_snapshots(keep_last=0)
    assert [h["snapshot_id"] for h in t.history()] == [1]


def test_read_changes_incremental_scan(spark, tmp_path):
    t = IcebergishTable(str(tmp_path / "t"))
    write_snapshot(_df(spark, [0, 1]), t, ["shard"])          # snap 1
    write_snapshot(_df(spark, [1, 2], rows_per=5, start=100),
                   t, ["shard"])                              # snap 2

    inc = t.read_changes(spark, 1)
    # shard 1 rewritten + shard 2 added: current files, shard 0 skipped
    assert sorted(r.shard for r in inc.select("shard")
                  .distinct().collect()) == [1, 2]
    assert inc.count() == 10                      # 5 + 5 current rows
    assert all(r.id >= 100 for r in inc.select("id").collect())
    # the scan plans only the changed partition directories
    dirs = {f.rsplit("/", 2)[1] for f in inc.inputFiles()}
    assert dirs == {"shard=1", "shard=2"}

    # nothing changed since the current snapshot -> empty, schema kept
    empty = t.read_changes(spark, t.current_snapshot_id())
    assert empty.count() == 0
    assert set(empty.columns) == {"id", "shard", "lat", "lon"}

    # from the empty table: everything is a change
    assert t.read_changes(spark, None).count() == 20


def test_maintain_job_compacts_and_gcs(spark, tmp_path, monkeypatch):
    """jobs/maintain.py: fragmented partitions get rewritten, snapshot
    metadata beyond the horizon is GC'd, rows unchanged."""
    import glob
    import os
    import runpy
    import sys

    from pyspark.sql import SparkSession

    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    t = IcebergishTable(str(tmp_path / "t"))
    write_snapshot(_df(spark, [0], rows_per=40).repartition(6), t,
                   ["shard"], repartition=False)         # fragmented
    write_snapshot(_df(spark, [1], rows_per=8), t, ["shard"])
    write_snapshot(_df(spark, [2], rows_per=8), t, ["shard"])
    assert len(glob.glob(os.path.join(t.data_dir, "shard=0",
                                      "*.parquet"))) > 2

    argv = ["maintain.py", "--table", str(tmp_path / "t"),
            "--min-files", "2", "--keep-snapshots", "2", "--cores", "4"]
    monkeypatch.setattr(sys, "argv", argv + ["--dry-run"])
    runpy.run_path(os.path.join(ROOT, "jobs/maintain.py"), run_name="__main__")
    # dry run touched nothing
    assert len(glob.glob(os.path.join(t.data_dir, "shard=0",
                                      "*.parquet"))) > 2

    monkeypatch.setattr(sys, "argv", argv)
    runpy.run_path(os.path.join(ROOT, "jobs/maintain.py"), run_name="__main__")
    assert len(glob.glob(os.path.join(t.data_dir, "shard=0",
                                      "*.parquet"))) == 1
    total = spark.read.parquet(t.data_dir).count()
    assert total == 40 + 8 + 8                    # rows unchanged
    assert len(t.history()) <= 2                  # metadata GC'd
