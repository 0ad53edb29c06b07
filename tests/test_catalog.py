"""Iceberg-style table layer: atomic commit, manifest metrics, resume,
estimate/admission."""

import json
import os

import pytest
from pyspark.sql import functions as F

from geolake_spark.catalog import IcebergishTable
from geolake_spark.plans import estimate
from geolake_spark.write import write_snapshot

from conftest import ROOT


@pytest.fixture()
def table(tmp_path):
    return IcebergishTable(str(tmp_path / "tbl"))


def _sample(spark, langs):
    rows = [(f"u{i}-{lg}", lg, float(i % 60 - 30), float(i % 300 - 150))
            for lg in langs for i in range(20)]
    return spark.createDataFrame(rows, ["url", "lang", "lat", "lon"])


def test_commit_and_read(spark, table):
    df = _sample(spark, ["en", "de"])
    info = write_snapshot(df, table, ["lang"])
    assert info["written_partitions"] == 2 and info["rows"] == 40
    back = table.read(spark)
    assert back.count() == 40
    assert set(r["lang"] for r in back.select("lang").distinct().collect()) \
        == {"en", "de"}


def test_manifest_metrics(spark, table):
    write_snapshot(_sample(spark, ["en"]), table, ["lang"])
    m = table.manifests()
    assert len(m) == 1
    assert m[0]["row_count"] == 20
    assert sum(m[0]["cell_histogram"].values()) == 20
    assert m[0]["byte_size"] > 0


def test_resume_skips_committed(spark, table):
    write_snapshot(_sample(spark, ["en"]), table, ["lang"])
    info = write_snapshot(_sample(spark, ["en", "fr", "it"]), table,
                          ["lang"], resume=True)
    assert info["skipped_partitions"] == 1          # en already committed
    assert info["written_partitions"] == 2          # fr, it only
    assert table.read(spark).count() == 60
    assert table.stats()["rows"] == 60


def test_snapshot_log_and_partition_pruned_read(spark, table):
    write_snapshot(_sample(spark, ["en"]), table, ["lang"])
    write_snapshot(_sample(spark, ["fr"]), table, ["lang"], resume=True)
    assert table.current_snapshot_id() == 2
    assert table.snapshot()["parent_id"] == 1
    pruned = table.read(spark, partition_filter=lambda p: p["lang"] == "fr")
    assert pruned.count() == 20


def test_estimate_and_admission(spark, table):
    write_snapshot(_sample(spark, ["en"]), table, ["lang"])
    n = table.stats()["bytes"]
    assert n > 0
    estimate.admit(n)  # small -> admitted
    with pytest.raises(estimate.TooBigRequestError):
        estimate.admit(11 * 1024 ** 3)  # > 10 GB default cap
    with pytest.raises(estimate.TooBigRequestError):
        estimate.admit(0)  # empty result rejected (dataset.py:264-267)


def test_human_size_floor():
    assert estimate.human_size(1) == (0.01, "B") or estimate.human_size(1)[0] >= 0.01
    val, unit = estimate.human_size(5 * 1024 ** 2)
    assert (val, unit) == (5.0, "MB")


def test_plan_stats_estimate(spark):
    df = spark.range(1000).withColumn("x", F.rand(seed=1))
    assert estimate.estimate_df_bytes(df) > 0


def test_merge_snapshot_upsert(spark, table):
    from geolake_spark.write import merge_snapshot
    write_snapshot(_sample(spark, ["en", "de", "fr"]), table, ["lang"])
    pre = {json.dumps(m["partition"], sort_keys=True): m["manifest_list"]
           if "manifest_list" in m else None for m in table.manifests()}
    pre_snap = table.current_snapshot_id()
    # update one en row, insert a new en key — de/fr untouched
    ups = spark.createDataFrame(
        [("u0-en", "en", 99.0, 99.0), ("NEW-en", "en", 1.0, 1.0)],
        ["url", "lang", "lat", "lon"])
    info = merge_snapshot(ups, table, key_cols=["url"])
    assert info["merged_partitions"] == 1
    back = table.read(spark)
    assert back.count() == 61                      # 60 + 1 insert
    row = back.filter(F.col("url") == "u0-en").collect()[0]
    assert row.lat == 99.0                         # replaced, not duplicated
    assert back.filter(F.col("url") == "NEW-en").count() == 1
    # metadata: only the en partition's manifest changed
    d = table.diff(pre_snap)
    assert [p["lang"] for p in d["rewritten"]] == ["en"]
    assert d["unchanged"] == 2


def test_merge_snapshot_new_partition_and_delete(spark, table):
    from geolake_spark.write import merge_snapshot
    write_snapshot(_sample(spark, ["en", "de"]), table, ["lang"])
    # insert a brand-new partition + delete ALL de rows -> de dropped
    ups = spark.createDataFrame([("x-it", "it", 0.0, 0.0)],
                                ["url", "lang", "lat", "lon"])
    dels = spark.createDataFrame(
        [(f"u{i}-de", "de") for i in range(20)], ["url", "lang"])
    pre_snap = table.current_snapshot_id()
    de_files = [os.path.join(table.data_dir, f) for m in table.manifests()
                if m["partition"]["lang"] == "de" for f in m["files"]]
    info = merge_snapshot(ups, table, key_cols=["url"], deletes=dels)
    assert info["deleted_rows"] == 20
    assert info["dropped_partitions"] == 1
    # upsert and drop land as ONE snapshot
    assert table.current_snapshot_id() == info["snapshot_id"] == pre_snap + 1
    back = table.read(spark)
    assert back.filter(F.col("lang") == "de").count() == 0
    assert back.filter(F.col("lang") == "it").count() == 1
    assert back.count() == 21
    # de's files physically gone, manifests consistent
    assert de_files and not any(map(os.path.exists, de_files))
    assert {m["partition"]["lang"] for m in table.manifests()} == {"en", "it"}


def test_merge_snapshot_partial_delete(spark, table):
    from geolake_spark.write import merge_snapshot
    write_snapshot(_sample(spark, ["en"]), table, ["lang"])
    dels = spark.createDataFrame([("u3-en", "en")], ["url", "lang"])
    info = merge_snapshot(
        spark.createDataFrame([], "url string, lang string, lat double, "
                              "lon double"),
        table, key_cols=["url"], deletes=dels)
    assert info["deleted_rows"] == 1
    back = table.read(spark)
    assert back.count() == 19
    assert back.filter(F.col("url") == "u3-en").count() == 0


def test_commit_conflict_leaves_winner(table, monkeypatch):
    """A writer that loses the race for snapshot N gets a named error; the
    winner's snap-N.json, the hint and the manifest set stay as they were."""
    from geolake_spark.catalog import CommitConflictError
    table.init('{"type": "struct", "fields": []}', ["lang"])
    table.commit([{"partition": {"lang": "en"}, "row_count": 1,
                   "files": []}])
    stale = table.snapshot()
    won = table.commit([{"partition": {"lang": "de"}, "row_count": 2,
                         "files": []}])
    with open(table._snap_path(won)) as f:
        won_json = f.read()
    metadata = sorted(os.listdir(table.meta_dir))
    loser = IcebergishTable(table.root)
    # the loser planned its commit on the snapshot before the winner's
    monkeypatch.setattr(loser, "snapshot", lambda snap_id=None: stale)
    with pytest.raises(CommitConflictError, match=f"snapshot {won}"):
        loser.commit([{"partition": {"lang": "fr"}, "row_count": 3,
                       "files": []}])
    assert table.current_snapshot_id() == won
    with open(table._snap_path(won)) as f:
        assert f.read() == won_json
    assert sorted(os.listdir(table.meta_dir)) == metadata


def _data_files(table):
    return {os.path.relpath(os.path.join(d, f), table.data_dir)
            for d, _, fs in os.walk(table.data_dir) for f in fs}


def test_write_snapshot_loser_leaves_winner(spark, table, monkeypatch):
    """A real write that loses the commit race raises the named error,
    and neither its rows nor its files reach the table."""
    from geolake_spark.catalog import CommitConflictError
    write_snapshot(_sample(spark, ["en"]), table, ["lang"])
    stale = table.snapshot()
    write_snapshot(_sample(spark, ["de"]), table, ["lang"])
    files = _data_files(table)
    loser = IcebergishTable(table.root)
    # the loser planned its commit on the snapshot before the winner's
    monkeypatch.setattr(loser, "snapshot", lambda snap_id=None: stale)
    lost = spark.createDataFrame([("loser", "de", 0.0, 0.0)],
                                 ["url", "lang", "lat", "lon"])
    with pytest.raises(CommitConflictError, match="snapshot 2"):
        write_snapshot(lost, loser, ["lang"])
    assert table.current_snapshot_id() == 2
    de = table.read(spark, partition_filter=lambda p: p["lang"] == "de")
    assert sorted(r.url for r in de.collect()) == \
        sorted(f"u{i}-de" for i in range(20))
    assert _data_files(table) == files


def test_failed_write_removes_moved_files(spark, table, monkeypatch):
    """A write that fails after moving some of its files under data/
    deletes them before the error propagates: data/ keeps exactly the
    files the last snapshot lists."""
    write_snapshot(_sample(spark, ["en"]), table, ["lang"])
    renames, calls = os.renames, []

    def fail_second(src, dst):
        calls.append(dst)
        if len(calls) == 2:
            raise OSError("disk full")
        renames(src, dst)
    monkeypatch.setattr(os, "renames", fail_second)
    with pytest.raises(OSError, match="disk full"):
        write_snapshot(_sample(spark, ["de", "fr"]), table, ["lang"])
    assert len(calls) == 2
    assert table.current_snapshot_id() == 1
    assert _data_files(table) == {f for m in table.manifests()
                                  for f in m["files"]}


def _file_layout(table, rel):
    """(column-chunk codecs, res-9 cell keys in file order with nulls
    first) of one data file, read with pyarrow."""
    import numpy as np
    import pyarrow.parquet as pq

    from geolake_spark import cells
    pf = pq.ParquetFile(os.path.join(table.data_dir, rel))
    md = pf.metadata
    codecs = {md.row_group(g).column(c).compression
              for g in range(md.num_row_groups)
              for c in range(md.num_columns)}
    t = pf.read(columns=["lat", "lon"])
    lat = t.column("lat").to_numpy(zero_copy_only=False)
    lon = t.column("lon").to_numpy(zero_copy_only=False)
    null = np.isnan(lat) | np.isnan(lon)
    key = np.where(null, np.iinfo(np.int64).min,
                   cells.grid_cell(np.where(null, 0.0, lat),
                                   np.where(null, 0.0, lon), 9))
    return codecs, key


def test_geo_files_are_cell_sorted_and_zstd(spark, table):
    """Every committed file is zstd and, with lat/lon, sorted by its res-9
    grid cell (nulls first); a compaction rewrites an unsorted snappy file
    that way too; a table without lat/lon still round-trips."""
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T
    rng = random.Random(7)
    rows = [(f"u{i}", ("en", "de")[i % 2], rng.uniform(-80, 80),
             rng.uniform(-179, 179)) for i in range(300)]
    rows.append(("nolat", "en", None, 5.0))
    schema = T.StructType([T.StructField("url", T.StringType()),
                           T.StructField("lang", T.StringType()),
                           T.StructField("lat", T.DoubleType()),
                           T.StructField("lon", T.DoubleType())])
    write_snapshot(spark.createDataFrame(rows, schema), table, ["lang"])
    for m in table.manifests():
        for f in m["files"]:
            codecs, key = _file_layout(table, f)
            assert codecs == {"ZSTD"}
            assert (key[1:] >= key[:-1]).all()
    back = table.read(spark).select("url", "lang", "lat", "lon")
    assert sorted(map(tuple, back.collect())) == sorted(rows)

    # a partition planted unsorted and snappy, as an older writer left it
    fr = [(f"v{i}", rng.uniform(-80, 80), rng.uniform(-179, 179))
          for i in range(200)]
    rel = "lang=fr/part-old.snappy.parquet"
    os.makedirs(os.path.join(table.data_dir, "lang=fr"))
    pq.write_table(pa.table({"url": [r[0] for r in fr],
                             "lat": [r[1] for r in fr],
                             "lon": [r[2] for r in fr]}),
                   os.path.join(table.data_dir, rel), compression="snappy")
    codecs, key = _file_layout(table, rel)
    assert codecs == {"SNAPPY"} and not (key[1:] >= key[:-1]).all()
    table.commit([{"partition": {"lang": "fr"}, "row_count": len(fr),
                   "files": [rel]}])
    table.compact_partition(spark, {"lang": "fr"})
    (man,) = [m for m in table.manifests() if m["partition"]["lang"] == "fr"]
    assert rel not in man["files"]
    assert not os.path.exists(os.path.join(table.data_dir, rel))
    for f in man["files"]:
        codecs, key = _file_layout(table, f)
        assert codecs == {"ZSTD"}
        assert (key[1:] >= key[:-1]).all()
    back = table.read(spark, partition_filter=lambda p: p["lang"] == "fr")
    assert sorted(map(tuple, back.select("url", "lat", "lon").collect())) \
        == sorted(fr)

    plain = IcebergishTable(table.root + "-plain")
    rows = [(f"u{i}", ("en", "de")[i % 2], i) for i in range(50)]
    write_snapshot(spark.createDataFrame(rows, ["url", "lang", "n"]),
                   plain, ["lang"])
    back = plain.read(spark).select("url", "lang", "n")
    assert sorted(map(tuple, back.collect())) == sorted(rows)


def test_uncommitted_write_is_not_read(spark, table):
    """Files of a write that has not committed change no read: neither a
    scan planned before the write nor a fresh read of the snapshot."""
    from geolake_spark.write import _write_partitions
    write_snapshot(_sample(spark, ["en"]), table, ["lang"])
    planned = table.read(spark)
    _write_partitions(spark.createDataFrame(
        [("new-en", "en", 0.0, 0.0)], ["url", "lang", "lat", "lon"]),
        table, ["lang"])
    committed = sorted(f"u{i}-en" for i in range(20))
    assert sorted(r.url for r in planned.collect()) == committed
    assert sorted(r.url for r in table.read(spark).collect()) == committed


def test_write_snapshot_refuses_other_partition_cols(spark, table):
    """Partition columns that differ from the table spec are refused before
    anything is written, so the table keeps reading."""
    write_snapshot(_sample(spark, ["en"]), table, ["lang"])
    files = sorted(os.listdir(table.data_dir))
    with pytest.raises(ValueError, match=r"\['url'\].*\['lang'\]"):
        write_snapshot(_sample(spark, ["de"]), table, ["url"])
    assert sorted(os.listdir(table.data_dir)) == files
    assert table.current_snapshot_id() == 1
    assert table.read(spark).count() == 20


def test_odd_partition_values_round_trip(spark, table):
    """Null, boolean and '/'-containing partition values survive a write,
    a resume, a merge and a compaction."""
    from geolake_spark.write import merge_snapshot
    schema = "url string, lang string, flag boolean, lat double, lon double"
    parts = [(None, True), ("a b/c", False), ("en", None)]
    rows = {f"u{i}": (*parts[i % 3], float(i), 0.0) for i in range(12)}

    def check():
        got = {r.url: (r.lang, r.flag, r.lat, r.lon)
               for r in table.read(spark).collect()}
        assert got == rows

    def frame(rs):
        return spark.createDataFrame([(u, *v) for u, v in rs.items()],
                                     schema)
    info = write_snapshot(frame(rows), table, ["lang", "flag"])
    assert info["written_partitions"] == 3
    check()
    again = write_snapshot(frame(rows), table, ["lang", "flag"],
                           resume=True)
    assert again["written_partitions"] == 0
    assert again["skipped_partitions"] == 3
    ups = {"u0": (None, True, 50.0, 5.0), "new": ("a b/c", False, 1.0, 1.0)}
    merge_snapshot(frame(ups), table, key_cols=["url"])
    rows.update(ups)
    check()
    for p in table.committed_partitions():
        table.compact_partition(spark, p)
    check()
    assert len(table.committed_partitions()) == 3


def test_column_stats_data_skipping(spark, table):
    from geolake_spark.catalog import IcebergishTable  # noqa: F401
    # lat ranges are disjoint per partition: en -30..-11, de 10..29
    rows = [(f"u{i}", "en", float(-30 + i), 0.0) for i in range(20)]
    rows += [(f"v{i}", "de", float(10 + i), 0.0) for i in range(20)]
    df = spark.createDataFrame(rows, ["url", "lang", "lat", "lon"])
    write_snapshot(df, table, ["lang"])
    # manifests carry numeric min/max/nulls
    m = {mm["partition"]["lang"]: mm["column_stats"]
         for mm in table.manifests()}
    assert m["en"]["lat"] == {"min": -30.0, "max": -11.0, "nulls": 0}
    assert m["de"]["lat"] == {"min": 10.0, "max": 29.0, "nulls": 0}
    # range hits only de -> en partition is skipped without a file read
    kept, skipped = table.stats_prune("lat", lo=0.0)
    assert skipped == 1 and [k["partition"]["lang"] for k in kept] == ["de"]
    out = table.read_where(spark, "lat", lo=0.0, hi=15.0)
    assert out.count() == 6                       # residual filter applies
    assert set(r.lang for r in out.select("lang").distinct().collect()) \
        == {"de"}
    # no stats for the column -> never prunes
    kept, skipped = table.stats_prune("nonexistent", lo=0.0)
    assert skipped == 0 and len(kept) == 2
    # fully-pruned read returns an empty frame with the table schema
    empty = table.read_where(spark, "lat", lo=1e9)
    assert empty.count() == 0
    assert set(empty.columns) == {"url", "lang", "lat", "lon"}


def test_merge_upsert_job(spark, tmp_path, monkeypatch):
    """jobs/merge_upsert.py end-to-end: recrawl replaces, insert lands,
    tombstone deletes — untouched partition's manifest carries over."""
    import runpy
    import sys

    from pyspark.sql import SparkSession
    monkeypatch.setattr(SparkSession, "stop", lambda self: None)

    table = str(tmp_path / "tbl")
    write_snapshot(_sample(spark, ["en", "de"]), IcebergishTable(table),
                   ["lang"])
    ups = str(tmp_path / "delta.parquet")
    dels = str(tmp_path / "tombs.parquet")
    spark.createDataFrame([("u0-en", "en", 77.0, 0.0),
                           ("fresh-en", "en", 1.0, 1.0)],
                          ["url", "lang", "lat", "lon"]).write.parquet(ups)
    spark.createDataFrame([("u1-en", "en")],
                          ["url", "lang"]).write.parquet(dels)
    argv = ["merge_upsert.py", "--table", table, "--updates", ups,
            "--deletes", dels, "--key-cols", "url", "--cores", "4"]
    monkeypatch.setattr(sys, "argv", argv)
    runpy.run_path(os.path.join(ROOT, "jobs/merge_upsert.py"),
                   run_name="__main__")

    t = IcebergishTable(table)
    back = t.read(spark)
    assert back.count() == 40                    # 40 - 1 del + 1 insert
    assert back.filter(F.col("url") == "u0-en").collect()[0].lat == 77.0
    assert back.filter(F.col("url") == "u1-en").count() == 0
    assert back.filter(F.col("url") == "fresh-en").count() == 1
    assert back.filter(F.col("lang") == "de").count() == 20
