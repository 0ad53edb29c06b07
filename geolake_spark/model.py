"""Declarative query & workflow task models.

Reimplements the semantics of the reference's ``GeoQuery``
(/root/reference/datastore/geoquery/geoquery.py:9-55) and ``TaskList``
(/root/reference/datastore/geoquery/task.py:10-63) as plain dataclasses:

* unknown JSON keys fold into ``filters`` (geoquery.py:31-38),
* ``area`` and ``location`` are mutually exclusive (geoquery.py:22-29),
* vertical may be scalar, list, or {start, stop} slice (geoquery.py:40-45),
* time may be a {start, stop} slice or combinatorial
  {year, month, day, hour} lists (datastore.py:435-443),
* task ids must be unique and the DAG acyclic with all deps defined
  (task.py:23-31, workflow.py:184-205).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Any

_KNOWN_KEYS = {"variable", "time", "area", "location", "vertical", "filters",
               "format"}


class GeoQueryError(ValueError):
    pass


@dataclass
class GeoQuery:
    variable: list[str] | None = None
    time: dict[str, Any] | None = None
    area: dict[str, float] | None = None          # {north, south, east, west}
    location: dict[str, Any] | None = None        # {latitude, longitude} scalar|list
    vertical: float | list[float] | dict[str, float] | None = None
    filters: dict[str, Any] = field(default_factory=dict)
    format: str | None = None                     # result format (geoquery.py:17)

    def __post_init__(self) -> None:
        if self.area is not None and self.location is not None:
            # geoquery.py:22-29 — mutual exclusion, validated at parse time
            raise GeoQueryError("area and location are mutually exclusive")
        if isinstance(self.variable, str):
            self.variable = [self.variable]
        if self.location is not None:
            # each latitude pairs with one longitude; a scalar is one probe
            n_lat, n_lon = (len(v) if isinstance(v, (list, tuple)) else 1
                            for v in (self.location["latitude"],
                                      self.location["longitude"]))
            if n_lat != n_lon:
                raise GeoQueryError(
                    f"location has {n_lat} latitudes and {n_lon} longitudes")
            if n_lat == 0:
                raise GeoQueryError("location has no probes")

    @classmethod
    def parse(cls, payload: str | dict) -> "GeoQuery":
        data = dict(json.loads(payload) if isinstance(payload, str) else payload)
        filters = dict(data.pop("filters", {}) or {})
        extras = {k: v for k, v in data.items() if k not in _KNOWN_KEYS}
        for k in extras:  # geoquery.py:31-38 — extras fold into filters
            filters[k] = data.pop(k)
        return cls(filters=filters, **data)

    def to_json(self) -> str:
        return json.dumps({
            "variable": self.variable, "time": self.time, "area": self.area,
            "location": self.location, "vertical": self.vertical,
            "filters": self.filters, "format": self.format}, sort_keys=True)


@dataclass
class Task:
    id: str
    op: str
    args: dict[str, Any] = field(default_factory=dict)
    use: list[str] = field(default_factory=list)

    @classmethod
    def parse(cls, data: dict) -> "Task":
        return cls(id=str(data["id"]), op=data["op"],
                   args=dict(data.get("args", {}) or {}),
                   use=list(data.get("use", []) or []))


@dataclass
class TaskList:
    tasks: list[Task]

    @classmethod
    def parse(cls, payload: str | dict | list) -> "TaskList":
        data = json.loads(payload) if isinstance(payload, str) else payload
        if isinstance(data, dict):
            data = data.get("tasks", data)
        tasks = [Task.parse(t) for t in data]
        ids = [t.id for t in tasks]
        if len(set(ids)) != len(ids):  # task.py:26-31
            raise GeoQueryError("task ids must be unique")
        return cls(tasks=tasks)
