"""Request/job state machine + format sinks + file-driven catalog.

Mirrors the reference lifecycle (dbmanager.py:42-49,102-132;
api/app/main.py:214-357): submit -> PENDING/RUNNING -> DONE (download) /
FAILED (reason) / TIMEOUT (job-tag cancel), persisted across manager
restarts."""

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from geolake_spark.api import Catalog, Dataset, Product
from geolake_spark.requests import RequestManager, RequestStatus
from geolake_spark.sinks import write_result


@pytest.fixture()
def catalog(spark, synth_paths, tmp_path):
    cat = Catalog(spark, store_dir=str(tmp_path / "store"))
    ds = Dataset("web", description="crawl tables")
    ds.products["pages"] = Product(
        "pages", lambda s: s.read.parquet(synth_paths["pages"]))
    cat.register(ds)
    return cat


def test_request_lifecycle_done(catalog, spark):
    rid = catalog.submit_execute("web", "pages",
                                 {"filters": {"lang": "en"}})
    status = catalog.requests.wait(rid, timeout_s=120)
    assert status == RequestStatus.DONE.value
    path = catalog.download(rid, as_zip=False)
    out = spark.read.parquet(path)
    assert out.count() > 0
    assert set(out.select("lang").distinct().toPandas()["lang"]) == {"en"}
    req = catalog.requests.get_request(rid)
    assert req.size_bytes and req.size_bytes > 0
    assert req.estimate_size_bytes and req.estimate_size_bytes > 0
    # request listing by user, with human-formatted sizes in the rows
    # (round-3: mirrors the reference's request rows carrying the
    # pre-run estimate and final size)
    rows = catalog.get_requests()
    assert [r.request_id for r in rows] == [rid]
    assert rows[0].estimate_human and rows[0].estimate_human.split()[1] in (
        "bytes", "KB", "MB", "GB")
    assert rows[0].size_human and float(rows[0].size_human.split()[0]) > 0


def test_download_as_zip_single_artifact(catalog, spark, tmp_path):
    """A multi-partition result downloads as ONE zip artifact whose members
    reproduce the directory (reference executor zips >1-file results,
    executor/app/main.py:127-195)."""
    import zipfile
    rid = catalog.submit_execute("web", "pages", {})
    assert catalog.requests.wait(rid, timeout_s=120) == RequestStatus.DONE.value
    dirpath = catalog.download(rid, as_zip=False)
    zpath = catalog.download(rid, as_zip=True)
    assert zpath.endswith(f"request-{rid}.zip") and os.path.exists(zpath)
    with zipfile.ZipFile(zpath) as z:
        names = z.namelist()
        assert len([n for n in names if n.endswith(".parquet")]) >= 1
        extract_dir = tmp_path / "unzipped"
        z.extractall(extract_dir)
    disk_files = sorted(os.path.relpath(os.path.join(dp, fn), dirpath)
                        for dp, _, fns in os.walk(dirpath) for fn in fns)
    assert sorted(names) == disk_files
    assert (spark.read.parquet(str(extract_dir)).count()
            == spark.read.parquet(dirpath).count())
    # cached: second call reuses the artifact
    assert catalog.download(rid, as_zip=True) == zpath


def test_download_auto_zip_default(catalog, spark, tmp_path):
    """Round 4: the DEFAULT download mirrors the reference exactly — a
    multi-data-file result auto-zips, a single-file result stays bare
    (executor/app/main.py:186-195 zips iff len(paths) > 1)."""
    import os

    rid = catalog.submit_execute("web", "pages", {})
    assert catalog.requests.wait(rid, timeout_s=120) == RequestStatus.DONE.value
    dirpath = catalog.download(rid, as_zip=False)
    n_data = len([fn for dp, _, fns in os.walk(dirpath) for fn in fns
                  if fn != "_SUCCESS" and not fn.startswith(".")])
    got = catalog.download(rid)
    if n_data > 1:
        assert got.endswith(".zip") and os.path.exists(got)
    else:
        assert got == dirpath

    # force a single-file result via coalesce(1): stays bare by default
    def plan():
        return spark.range(5).coalesce(1)
    rid2 = catalog.requests.submit(plan, "web", "pages")
    assert catalog.requests.wait(rid2, timeout_s=120) == RequestStatus.DONE.value
    bare = catalog.download(rid2)
    assert not bare.endswith(".zip")
    assert spark.read.parquet(bare).count() == 5


def test_request_worker_thread_exits_clean(catalog):
    """PySpark 4 removed SparkContext.clearJobGroup; until round 4 every
    request worker thread died with AttributeError in its finally block
    (the state machine survived, masking it).  Assert the worker thread
    raises nothing at all."""
    import threading

    seen = []
    orig = threading.excepthook
    threading.excepthook = lambda a: seen.append(a)
    try:
        rid = catalog.submit_execute("web", "pages", {"filters": {"lang": "en"}})
        assert catalog.requests.wait(rid, timeout_s=120) == RequestStatus.DONE.value
        for t in threading.enumerate():  # the worker, unless already done
            if t.name == f"geolake-req-{rid}":
                t.join(timeout=30)
    finally:
        threading.excepthook = orig
    assert not seen, f"request worker raised: {seen}"


def test_request_failure_reason(catalog):
    rid = catalog.requests.submit(
        lambda: (_ for _ in ()).throw(RuntimeError("boom")),
        "web", "pages")
    status = catalog.requests.wait(rid, timeout_s=60)
    assert status == RequestStatus.FAILED.value
    _, reason = catalog.get_request_status(rid)
    assert "boom" in reason or "TypeError" in reason
    with pytest.raises(FileNotFoundError):
        catalog.download(rid)


def test_request_timeout_cancels_job_group(catalog, spark, synth_paths):
    """A deliberately slow plan (sleepy pandas UDF) must land in TIMEOUT via
    Spark job-tag cancellation, not run to completion."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def slow(v: pd.Series) -> pd.Series:
        time.sleep(30)
        return v

    def plan():
        df = spark.read.parquet(synth_paths["pages"])
        return df.select(slow(F.col("lat")).alias("x"))

    rid = catalog.requests.submit(plan, "web", "pages", timeout_s=2.0)
    status = catalog.requests.wait(rid, timeout_s=90)
    assert status == RequestStatus.TIMEOUT.value


def test_timeout_cancels_only_its_own_manager(spark, tmp_path):
    """Two managers each hold a request 1.  A's timeout cancels A's jobs
    only: B's request, running at the same time, still finishes."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def sleepy(v: pd.Series) -> pd.Series:
        time.sleep(6)
        return v

    def plan():
        return spark.range(1).select(sleepy(F.col("id")).alias("x"))

    a = RequestManager(spark, str(tmp_path / "a"))
    b = RequestManager(spark, str(tmp_path / "b"))
    rid_b = b.submit(plan, "web", "pages")
    deadline = time.time() + 60
    while (not spark.sparkContext.statusTracker().getActiveJobsIds()
           and time.time() < deadline):
        time.sleep(0.05)
    rid_a = a.submit(plan, "web", "pages", timeout_s=1.0)
    assert rid_a == rid_b == 1
    assert a.wait(rid_a, timeout_s=90) == RequestStatus.TIMEOUT.value
    assert b.wait(rid_b, timeout_s=90) == RequestStatus.DONE.value, \
        b.get_request_status(rid_b)


def test_request_store_survives_restart(catalog, spark):
    rid = catalog.submit_execute("web", "pages", {"filters": {"lang": "en"}})
    assert (catalog.requests.wait(rid, timeout_s=120)
            == RequestStatus.DONE.value), catalog.get_request_status(rid)
    reloaded = RequestManager(spark, catalog.requests.store_dir)
    assert reloaded.get_request_status(rid)[0] == RequestStatus.DONE.value
    assert os.path.exists(reloaded.download(rid))


def test_format_sinks(catalog, spark, tmp_path):
    """GeoQuery.format routes the result sink (geoquery.py:17;
    executor/app/main.py:115-121): parquet | json | geojson."""
    rid = catalog.submit_execute(
        "web", "pages", {"filters": {"lang": "de"}, "format": "json"})
    assert catalog.requests.wait(rid, timeout_s=120) == "DONE"
    rows = spark.read.json(catalog.download(rid, as_zip=False))
    assert rows.count() > 0

    rid2 = catalog.submit_execute(
        "web", "pages", {"filters": {"lang": "de"}, "format": "geojson"})
    assert catalog.requests.wait(rid2, timeout_s=120) == "DONE"
    feats = [json.loads(r["value"]) for r in
             spark.read.text(catalog.download(rid2, as_zip=False)).collect()]
    assert feats and all(f["type"] == "Feature" and
                         f["geometry"]["type"] == "Point" for f in feats)

    with pytest.raises(ValueError, match="format"):
        write_result(spark.range(1), str(tmp_path / "x"), "netcdf")

    # a ``variable`` list naming a key column (lat) projects it once, so
    # every sink writes instead of failing on a duplicate column
    for fmt in ("parquet", "json", "geojson"):
        rid = catalog.submit_execute(
            "web", "pages", {"variable": ["lat", "url"],
                             "filters": {"lang": "de"}, "format": fmt})
        assert catalog.requests.wait(rid, timeout_s=120) == "DONE", \
            catalog.get_request_status(rid)


def test_requests_manager_created_once_across_threads(spark, tmp_path):
    """Two first async calls at once share one RequestManager."""
    import sys
    import threading
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for i in range(20):
            cat = Catalog(spark, store_dir=str(tmp_path / f"store{i}"))
            start = threading.Barrier(2, timeout=30)
            got = []

            def first_call():
                start.wait()
                got.append(cat.requests)

            threads = [threading.Thread(target=first_call) for _ in range(2)]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=30)
                assert not t.is_alive()
            assert len(got) == 2 and got[0] is got[1]
    finally:
        sys.setswitchinterval(switch)


def test_warm_cache_preopens_products(spark, synth_paths):
    """Startup metadata warm-up (reference on_startup.py:9-15 +
    catalog/cache.py:15-22): after warm_cache, metadata reads never re-open
    the product."""
    calls = {"n": 0}

    def loader(s):
        calls["n"] += 1
        return s.read.parquet(synth_paths["pages"])

    cat = Catalog(spark)
    ds = Dataset("web")
    ds.products["pages"] = Product("pages", loader)
    cat.register(ds)
    assert cat.warm_cache() == [("web", "pages")]
    assert calls["n"] == 1
    meta = cat.product_metadata("web", "pages")
    assert calls["n"] == 1  # cache hit — loader not re-invoked
    assert ("url", "string") in meta["schema"]


def test_catalog_from_yaml(spark, synth_paths, tmp_path):
    """File-driven catalog with roles, templated paths and per-product size
    limits (reference catalog/catalog.yaml + era5_downscaled.yaml shapes)."""
    data_dir = os.path.dirname(synth_paths["pages"])
    cat_file = tmp_path / "catalog.yaml"
    cat_file.write_text(f"""
metadata:
  version: 0.1
  parameters:
    DATA_DIR:
      type: str
      default: {data_dir}
datasets:
  web:
    description: crawl tables
    products:
      pages:
        description: common-crawl style pages
        path: "{{{{ DATA_DIR }}}}/pages.parquet"
        maximum_query_size_gb: 2.0
  internal:
    description: restricted
    role: internal
    products:
      pages:
        path: "{{{{ DATA_DIR }}}}/pages.parquet"
""")
    cat = Catalog.from_file(spark, str(cat_file))
    assert cat.list_datasets() == ["web"]                    # role hidden
    assert cat.list_datasets(roles=["internal"]) == ["internal", "web"]
    assert cat.list_datasets(roles=["admin"]) == ["internal", "web"]
    with pytest.raises(PermissionError):
        cat.dataset_info("internal")
    meta = cat.product_metadata("web", "pages")
    assert meta["maximum_query_size_gb"] == 2.0
    assert ("lang", "string") in meta["schema"]
    out = cat.execute("web", "pages", {"filters": {"lang": "en"}})
    assert out.count() > 0
