"""Async request/job state machine (the reference's flagship UX).

Mirrors the reference's request tracking (PENDING -> RUNNING -> DONE /
FAILED / TIMEOUT persisted per request, polled via ``GET /requests*`` and
fetched via ``GET /download/{id}``; /root/reference/datastore/dbmanager/
dbmanager.py:42-49,102-132 and api/app/main.py:256-357) as a Spark-first
library component:

* each request runs in a daemon thread under its own **Spark job group**
  and a job tag unique to its manager, so a timeout cancels the actual
  cluster work (``sparkContext.cancelJobsWithTag``) — not just the
  bookkeeping, and never another manager's request with the same id;
* results are written as parquet snapshots under the store directory and
  surfaced as ``download_uri`` + ``size_bytes`` (the reference's Download
  row, dbmanager.py Download model);
* the request table itself persists as a JSON-lines file so a restarted
  driver still serves status/download for completed work (the reference
  keeps it in Postgres; a driver-side file is the library analogue — at
  cluster scale this would be any shared KV/DB, the state machine is
  identical).
"""

from __future__ import annotations

import json
import os
import threading
import time
import traceback
import uuid
from dataclasses import asdict, dataclass, field
from enum import Enum

from pyspark.sql import DataFrame, SparkSession


class RequestStatus(str, Enum):
    """dbmanager.py:42-49 (auto-enum there; stable strings here)."""
    PENDING = "PENDING"
    RUNNING = "RUNNING"
    DONE = "DONE"
    FAILED = "FAILED"
    TIMEOUT = "TIMEOUT"


@dataclass
class Request:
    request_id: int
    dataset: str
    product: str
    query: dict | None
    user_id: str = "anonymous"
    status: str = RequestStatus.PENDING.value
    created_on: float = field(default_factory=time.time)
    last_update: float = field(default_factory=time.time)
    fail_reason: str | None = None
    estimate_size_bytes: int | None = None
    download_uri: str | None = None
    size_bytes: int | None = None

    @staticmethod
    def _human(n: int | None) -> str | None:
        if n is None:
            return None
        from geolake_spark.plans.estimate import human_size
        val, unit = human_size(n)
        return f"{val} {unit}"

    @property
    def estimate_human(self) -> str | None:
        """Pre-run size estimate, unit-formatted like the reference's
        request rows (api_utils.py size formatting)."""
        return self._human(self.estimate_size_bytes)

    @property
    def size_human(self) -> str | None:
        """Final materialized size, unit-formatted."""
        return self._human(self.size_bytes)


class RequestManager:
    """Submit, track, time out and download query jobs.

    ``submit`` takes a zero-arg callable returning a DataFrame (built lazily
    by the caller — Catalog.execute/run_workflow plans), returns the request
    id immediately and materializes the result in the background.
    """

    def __init__(self, spark: SparkSession, store_dir: str):
        self.spark = spark
        self.store_dir = store_dir
        os.makedirs(store_dir, exist_ok=True)
        self._lock = threading.Lock()
        self._requests: dict[int, Request] = {}
        self._next_id = 1
        # request ids restart at 1 in every manager: the cancel tag adds
        # this manager's own part so it reaches only its own request's jobs
        self._tag_prefix = f"geolake-req-{uuid.uuid4().hex}"
        self._load()

    # -- persistence ----------------------------------------------------------

    @property
    def _store_file(self) -> str:
        return os.path.join(self.store_dir, "requests.jsonl")

    def _load(self) -> None:
        if not os.path.exists(self._store_file):
            return
        with open(self._store_file) as f:
            for line in f:
                if line.strip():
                    r = Request(**json.loads(line))
                    # a restart orphans in-flight work: surface it as FAILED
                    if r.status in (RequestStatus.PENDING.value,
                                    RequestStatus.RUNNING.value):
                        r.status = RequestStatus.FAILED.value
                        r.fail_reason = "driver restarted mid-request"
                    self._requests[r.request_id] = r
        if self._requests:
            self._next_id = max(self._requests) + 1

    def _flush(self) -> None:
        tmp = self._store_file + ".tmp"
        with open(tmp, "w") as f:
            for r in self._requests.values():
                f.write(json.dumps(asdict(r)) + "\n")
        os.replace(tmp, self._store_file)

    def _update(self, req: Request, **kw) -> None:
        with self._lock:
            for k, v in kw.items():
                setattr(req, k, v)
            req.last_update = time.time()
            self._flush()

    # -- submission -----------------------------------------------------------

    def submit(self, plan, dataset: str, product: str,
               query: dict | None = None, user_id: str = "anonymous",
               estimate_size_bytes: int | None = None,
               timeout_s: float | None = None,
               result_format: str | None = None) -> int:
        """Run ``plan()`` (-> DataFrame) in the background; returns the id.

        The thread runs its Spark jobs in group ``geolake-req-<id>`` and
        tags them with ``<manager tag>-<id>``; on timeout a timer cancels
        the jobs with that tag, which aborts the running stages
        cluster-wide and fails the write.  ``result_format`` routes the
        sink (parquet | json | geojson — sinks.write_result)."""
        with self._lock:
            rid = self._next_id
            self._next_id += 1
            req = Request(request_id=rid, dataset=dataset, product=product,
                          query=query, user_id=user_id,
                          estimate_size_bytes=estimate_size_bytes)
            self._requests[rid] = req
            self._flush()
        group = f"geolake-req-{rid}"
        tag = f"{self._tag_prefix}-{rid}"
        timed_out = threading.Event()

        def cancel():
            timed_out.set()
            self.spark.sparkContext.cancelJobsWithTag(tag)

        timer = threading.Timer(timeout_s, cancel) if timeout_s else None

        def run():
            out_path = os.path.join(self.store_dir, f"request-{rid}")
            try:
                self._update(req, status=RequestStatus.RUNNING.value)
                self.spark.sparkContext.setJobGroup(
                    group, f"request {rid} ({dataset}/{product})",
                    interruptOnCancel=True)
                self.spark.sparkContext.addJobTag(tag)
                if timer:
                    timer.start()
                df = plan()
                if not isinstance(df, DataFrame):
                    raise TypeError("plan() must return a DataFrame")
                from geolake_spark.sinks import write_result
                write_result(df, out_path, result_format)
                size = sum(os.path.getsize(os.path.join(dp, fn))
                           for dp, _, fns in os.walk(out_path) for fn in fns)
                self._update(req, status=RequestStatus.DONE.value,
                             download_uri=out_path, size_bytes=size)
            except Exception as exc:  # noqa: BLE001 — job boundary
                if timed_out.is_set():
                    self._update(req, status=RequestStatus.TIMEOUT.value,
                                 fail_reason=f"timed out after {timeout_s}s")
                else:
                    self._update(req, status=RequestStatus.FAILED.value,
                                 fail_reason="".join(
                                     traceback.format_exception_only(exc))
                                 .strip()[:1000])
            finally:
                if timer:
                    timer.cancel()
                # this worker thread dies right after: release any dedup
                # tiers the plan persisted under it (the result is already
                # written to disk, nothing re-reads the plan), otherwise
                # they'd only be reclaimed by a later dead-thread sweep
                from geolake_spark.operators.dedup import release_caches
                release_caches()
                # PySpark 4 removed SparkContext.clearJobGroup — calling it
                # raised AttributeError in every worker thread's finally
                # (harmless to the state machine, but each request ended in
                # a stack trace).  Clearing the thread-local job properties
                # is the supported equivalent (null removes the property).
                sc = self.spark.sparkContext
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                sc.setLocalProperty("spark.job.interruptOnCancel", None)
                sc.clearJobTags()

        threading.Thread(target=run, name=group, daemon=True).start()
        return rid

    # -- polling / download (api/app/main.py:256-357) --------------------------

    def get_request(self, request_id: int) -> Request:
        return self._requests[request_id]

    def get_request_status(self, request_id: int) -> tuple[str, str | None]:
        r = self._requests[request_id]
        return r.status, r.fail_reason

    def get_requests(self, user_id: str | None = None) -> list[Request]:
        return [r for r in sorted(self._requests.values(),
                                  key=lambda r: r.request_id)
                if user_id is None or r.user_id == user_id]

    def get_request_size(self, request_id: int) -> int | None:
        return self._requests[request_id].size_bytes

    def download(self, request_id: int, as_zip: bool | None = None) -> str:
        """Result location for a DONE request (GET /download/{id});
        raises for any other state — mirrors the 404 path.

        ``as_zip=None`` (the default) mirrors the reference executor's
        behavior exactly: a result with MORE than one data file is packaged
        into ONE zip artifact, a single-file result is returned bare
        (executor/app/main.py:186-195 zips iff len(paths) > 1).  Bookkeeping
        files (``_SUCCESS``, dotfiles) don't count toward the threshold but
        ARE included in the zip so the directory round-trips.  Explicit
        ``True``/``False`` forces either form; the zip is built once and
        cached next to the result."""
        r = self._requests[request_id]
        if r.status != RequestStatus.DONE.value or not r.download_uri:
            raise FileNotFoundError(
                f"request {request_id} is {r.status}, no result to download")
        if as_zip is None:
            data_files = [fn for dp, _, fns in os.walk(r.download_uri)
                          for fn in fns
                          if fn != "_SUCCESS" and not fn.startswith(".")]
            as_zip = len(data_files) > 1
        if not as_zip:
            return r.download_uri
        zpath = os.path.join(self.store_dir, f"request-{request_id}.zip")
        if not os.path.exists(zpath):
            import zipfile
            tmp = zpath + ".tmp"
            with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
                for dp, _, fns in os.walk(r.download_uri):
                    for fn in sorted(fns):
                        full = os.path.join(dp, fn)
                        z.write(full, os.path.relpath(full, r.download_uri))
            os.replace(tmp, zpath)
        return zpath

    def wait(self, request_id: int, timeout_s: float = 300.0) -> str:
        """Block until the request leaves PENDING/RUNNING; returns status."""
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            st, _ = self.get_request_status(request_id)
            if st not in (RequestStatus.PENDING.value,
                          RequestStatus.RUNNING.value):
                return st
            time.sleep(0.05)
        raise TimeoutError(f"request {request_id} still running")
