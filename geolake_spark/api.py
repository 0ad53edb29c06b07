"""Library facade mirroring the reference's REST control plane as calls.

Endpoint -> function map (SURVEY.md §2.12; /root/reference/api/app/main.py):

* ``GET  /datasets``                         -> :meth:`Catalog.list_datasets`
* ``GET  /datasets/{d}``                     -> :meth:`Catalog.dataset_info`
* ``GET  /datasets/{d}/{p}/metadata``        -> :meth:`Catalog.product_metadata`
* ``POST /datasets/{d}/{p}/estimate``        -> :meth:`Catalog.estimate`
* ``POST /datasets/{d}/{p}/execute``         -> :meth:`Catalog.execute` (sync,
  lazy DataFrame) / :meth:`Catalog.submit_execute` (async request id)
* ``POST /datasets/workflow``                -> :meth:`Catalog.run_workflow` /
  :meth:`Catalog.submit_workflow`
* ``GET  /requests``                          -> :meth:`Catalog.get_requests`
* ``GET  /requests/{id}/status``              -> :meth:`Catalog.get_request_status`
* ``GET  /download/{id}``                     -> :meth:`Catalog.download`

Role-based visibility follows the reference (datastore.py:396-416): a
dataset with a ``role`` is hidden unless the caller's roles include it or
the caller is "admin".  ``execute`` applies the estimate-then-admit guard
(dataset.py:253-267) before running.  Async submission runs the plan under
a per-request Spark job group with PENDING/RUNNING/DONE/FAILED/TIMEOUT
tracking (requests.py; reference dbmanager.py:42-49,102-132), honouring the
query's ``format`` for the result sink (executor/app/main.py:115-121).

``Catalog.from_file`` loads a YAML/JSON catalog tree (datasets -> products
with roles, size limits and ``{{ PARAM }}``-templated paths — reference
catalog/catalog.yaml, era5_downscaled.yaml).
"""

from __future__ import annotations

import json
import os
import threading
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from geolake_spark.model import GeoQuery, TaskList
from geolake_spark.operators import subset
from geolake_spark.plans import estimate as est
from geolake_spark.plans.workflow import Workflow
from geolake_spark.requests import RequestManager


@dataclass
class Product:
    product_id: str
    loader: Callable[[SparkSession], DataFrame]
    description: str = ""
    maximum_query_size_gb: float = est.DEFAULT_MAX_REQUEST_SIZE_GB
    # filename-pattern products only: (spark, attr_filters) -> DataFrame
    # with non-matching FILES pruned before the scan (adapters.read_patterned)
    attr_loader: Callable[[SparkSession, dict], DataFrame] | None = None


@dataclass
class Dataset:
    dataset_id: str
    products: dict[str, Product] = field(default_factory=dict)
    description: str = ""
    role: str | None = None  # None = public (datastore.py:396-416)


class Catalog:
    def __init__(self, spark: SparkSession, store_dir: str | None = None):
        self.spark = spark
        self._datasets: dict[str, Dataset] = {}
        self._store_dir = store_dir
        self._requests: RequestManager | None = None
        self._requests_lock = threading.Lock()
        self._meta_cache: dict[tuple, dict] = {}

    @property
    def requests(self) -> RequestManager:
        with self._requests_lock:
            if self._requests is None:
                if self._store_dir is None:
                    raise ValueError("async requests need a store_dir "
                                     "(Catalog(spark, store_dir=...))")
                self._requests = RequestManager(self.spark, self._store_dir)
            return self._requests

    # -- file-driven catalog (reference catalog/catalog.yaml tree) ------------

    @classmethod
    def from_file(cls, spark: SparkSession, path: str,
                  parameters: dict[str, str] | None = None,
                  store_dir: str | None = None) -> "Catalog":
        """Load a YAML/JSON catalog: ``datasets.<id>`` with description /
        role / ``products.<id>`` carrying a templated ``path``, ``format``
        and ``maximum_query_size_gb`` (mirrors catalog.yaml:1-13 +
        era5_downscaled.yaml:1-12 with parquet/json sources instead of
        NetCDF drivers).  ``{{ NAME }}`` placeholders resolve from
        ``parameters`` (defaults declared in ``metadata.parameters``,
        reference cache.py CACHE_DIR pattern); ``CATALOG_DIR`` is implicit."""
        import json as _json
        with open(path) as f:
            text = f.read()
        if path.endswith((".yaml", ".yml")):
            import yaml
            data = yaml.safe_load(text)
        else:
            data = _json.loads(text)
        params = {"CATALOG_DIR": os.path.dirname(os.path.abspath(path))}
        for name, spec in (data.get("metadata", {})
                           .get("parameters", {}) or {}).items():
            if isinstance(spec, dict) and "default" in spec:
                params[name] = str(spec["default"])
        params.update(parameters or {})

        def template(s: str) -> str:
            for k, v in params.items():
                s = s.replace("{{ " + k + " }}", v).replace(
                    "{{" + k + "}}", v)
            return s

        cat = cls(spark, store_dir=store_dir)
        for ds_id, ds_spec in (data.get("datasets", {}) or {}).items():
            ds = Dataset(dataset_id=ds_id,
                         description=str(ds_spec.get("description", "")).strip(),
                         role=ds_spec.get("role"))
            for p_id, p_spec in (ds_spec.get("products", {}) or {}).items():
                p_path = template(p_spec["path"])
                p_fmt = p_spec.get("format", "parquet")
                # a {field}-templated final path component is a filename
                # pattern (reference netcdf.py:8-60 / test_catalog.yaml:20):
                # name parts lift into columns, attr filters prune files
                p_pattern = p_spec.get("pattern")
                if p_pattern is None and "{" in os.path.basename(p_path):
                    p_pattern = os.path.basename(p_path)
                    p_dir = os.path.dirname(p_path)
                else:
                    p_dir = p_path
                if p_pattern:
                    from geolake_spark.sources.adapters import read_patterned

                    def loader(spark, _d=p_dir, _pt=p_pattern, _f=p_fmt):
                        return read_patterned(spark, _d, _pt, _f)

                    def attr_loader(spark, attr_filters, _d=p_dir,
                                    _pt=p_pattern, _f=p_fmt):
                        return read_patterned(spark, _d, _pt, _f,
                                              attr_filters)
                else:
                    attr_loader = None

                    def loader(spark, _p=p_path, _f=p_fmt):
                        return spark.read.format(_f).load(_p)

                ds.products[p_id] = Product(
                    product_id=p_id, loader=loader,
                    description=str(p_spec.get("description", "")).strip(),
                    maximum_query_size_gb=float(p_spec.get(
                        "maximum_query_size_gb",
                        est.DEFAULT_MAX_REQUEST_SIZE_GB)),
                    attr_loader=attr_loader)
            cat.register(ds)
        return cat

    # -- registration (the intake-YAML analogue) -----------------------------

    def register(self, dataset: Dataset) -> None:
        self._datasets[dataset.dataset_id] = dataset

    def add_product(self, dataset_id: str, product: Product,
                    description: str = "", role: str | None = None) -> None:
        ds = self._datasets.setdefault(
            dataset_id, Dataset(dataset_id, description=description, role=role))
        ds.products[product.product_id] = product

    # -- read endpoints -------------------------------------------------------

    def _visible(self, ds: Dataset, roles: list[str] | None) -> bool:
        if ds.role is None:
            return True
        roles = roles or []
        return "admin" in roles or ds.role in roles

    def list_datasets(self, roles: list[str] | None = None) -> list[str]:
        return [d for d, ds in sorted(self._datasets.items())
                if self._visible(ds, roles)]

    def dataset_info(self, dataset_id: str,
                     roles: list[str] | None = None) -> dict:
        ds = self._datasets[dataset_id]
        if not self._visible(ds, roles):
            raise PermissionError(f"dataset {dataset_id!r} requires role "
                                  f"{ds.role!r}")
        return {"dataset_id": ds.dataset_id, "description": ds.description,
                "products": sorted(ds.products)}

    def product_metadata(self, dataset_id: str, product_id: str,
                         roles: list[str] | None = None) -> dict:
        ds = self._datasets[dataset_id]
        if not self._visible(ds, roles):
            raise PermissionError(dataset_id)
        key = (dataset_id, product_id)
        if key in self._meta_cache:
            return self._meta_cache[key]
        p = ds.products[product_id]
        df = p.loader(self.spark)
        meta = {"product_id": p.product_id, "description": p.description,
                "schema": [(f.name, f.dataType.simpleString())
                           for f in df.schema.fields],
                "maximum_query_size_gb": p.maximum_query_size_gb}
        self._meta_cache[key] = meta
        return meta

    def warm_cache(self, roles: list[str] | None = None) -> list[tuple]:
        """Pre-open every visible product once and cache its metadata —
        the reference warms product schema/coords at API startup
        (api/app/callbacks/on_startup.py:9-15 backed by the offline
        generator catalog/cache.py:15-22) so metadata endpoints never pay a
        cold file-open.  Returns the cached (dataset, product) keys."""
        warmed = []
        for ds_id in self.list_datasets(roles=roles or ["admin"]):
            for p_id in sorted(self._datasets[ds_id].products):
                self.product_metadata(ds_id, p_id, roles=roles or ["admin"])
                warmed.append((ds_id, p_id))
        return warmed

    # -- query endpoints ------------------------------------------------------

    def _load(self, dataset_id: str, product_id: str,
              roles: list[str] | None,
              attr_filters: dict | None = None) -> tuple[DataFrame, Product]:
        ds = self._datasets[dataset_id]
        if not self._visible(ds, roles):
            raise PermissionError(dataset_id)
        p = ds.products[product_id]
        if attr_filters and p.attr_loader is not None:
            # pattern products prune whole FILES from the scan when the
            # query filters on pattern-derived attributes (the same filters
            # still apply row-level downstream — harmless re-check)
            return p.attr_loader(self.spark, attr_filters), p
        return p.loader(self.spark), p

    def _plan(self, dataset_id: str, product_id: str,
              query: GeoQuery | dict | str, roles: list[str] | None
              ) -> tuple[GeoQuery, DataFrame, int, Product]:
        """Parse, load (attribute filters prune pattern files), subset and
        size one request: (query, result, estimated bytes, product)."""
        q = query if isinstance(query, GeoQuery) else GeoQuery.parse(query)
        df, p = self._load(dataset_id, product_id, roles,
                           attr_filters=q.filters or None)
        result = subset.subset(df, q)
        return q, result, est.estimate_df_bytes(result), p

    def estimate(self, dataset_id: str, product_id: str,
                 query: GeoQuery | dict | str,
                 roles: list[str] | None = None) -> dict:
        """Metadata-only size estimate (datastore.py:363-394 + unit
        formatting with the 0.01 floor, api_utils.py:33-73)."""
        _, _, n, _ = self._plan(dataset_id, product_id, query, roles)
        val, unit = est.human_size(n)
        return {"value": val, "units": unit, "bytes": n}

    def execute(self, dataset_id: str, product_id: str,
                query: GeoQuery | dict | str,
                roles: list[str] | None = None) -> DataFrame:
        """Estimate-then-execute with the GB admission guard
        (dataset.py:253-267); returns the lazy result DataFrame."""
        _, result, n, p = self._plan(dataset_id, product_id, query, roles)
        est.admit(n, max_gb=p.maximum_query_size_gb)
        return result

    def run_workflow(self, tasklist: TaskList | list | dict | str,
                     roles: list[str] | None = None) -> DataFrame:
        """TaskList execution (no size guard — faithful to dataset.py:300-358)."""
        def load(spark, dataset_id, product_id):
            df, _ = self._load(dataset_id, product_id, roles)
            return df
        wf = (Workflow(tasklist, load) if isinstance(tasklist, TaskList)
              else Workflow.from_json(tasklist, load))
        return wf.result(self.spark)

    # -- async request endpoints (main.py:214-357) -----------------------------

    def submit_execute(self, dataset_id: str, product_id: str,
                       query: GeoQuery | dict | str,
                       roles: list[str] | None = None,
                       user_id: str = "anonymous",
                       timeout_s: float | None = None) -> int:
        """POST /execute async flavour: admission-check the plan, then hand
        it to the request manager; the query's ``format`` picks the sink."""
        q, result, n, p = self._plan(dataset_id, product_id, query, roles)
        est.admit(n, max_gb=p.maximum_query_size_gb)
        return self.requests.submit(
            lambda: result, dataset_id, product_id,
            query=json.loads(q.to_json()), user_id=user_id,
            estimate_size_bytes=n, timeout_s=timeout_s,
            result_format=q.format)

    def submit_workflow(self, tasklist: TaskList | list | dict | str,
                        roles: list[str] | None = None,
                        user_id: str = "anonymous",
                        timeout_s: float | None = None) -> int:
        return self.requests.submit(
            lambda: self.run_workflow(tasklist, roles),
            "workflow", "workflow", user_id=user_id, timeout_s=timeout_s)

    def get_requests(self, user_id: str | None = None):
        return self.requests.get_requests(user_id)

    def get_request_status(self, request_id: int):
        return self.requests.get_request_status(request_id)

    def download(self, request_id: int, as_zip: bool | None = None) -> str:
        return self.requests.download(request_id, as_zip=as_zip)
