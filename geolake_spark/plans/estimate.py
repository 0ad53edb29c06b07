"""Estimate-then-execute admission control.

Reference semantics (/root/reference/api/app/endpoint_handlers/dataset.py:253-267,
datastore.py:21,363-394, api_utils.py:33-73): estimate the result size from
metadata before running, reject queries above ``maximum_query_size_gb``
(default 10 GB), floor the human-readable size at 0.01 units.

Here the estimate is the size Catalyst's optimized plan statistics give for
the request's DataFrame (``sizeInBytes``, :func:`estimate_df_bytes`) —
metadata only, never a data scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

DEFAULT_MAX_REQUEST_SIZE_GB = 10.0  # datastore.py:21
_UNITS = [("TB", 1024 ** 4), ("GB", 1024 ** 3), ("MB", 1024 ** 2),
          ("KB", 1024), ("B", 1)]


class TooBigRequestError(ValueError):
    pass


def estimate_df_bytes(df: DataFrame) -> int:
    """Catalyst plan statistics (metadata-only)."""
    plan = df._jdf.queryExecution().optimizedPlan()
    return int(plan.stats().sizeInBytes())


def human_size(n_bytes: float) -> tuple[float, str]:
    """Unit formatting with the reference's 0.01 floor (api_utils.py:71-72)."""
    for unit, scale in _UNITS:
        if n_bytes >= scale or unit == "B":
            val = round(n_bytes / scale, 2)
            return (max(val, 0.01), unit) if n_bytes > 0 else (0.0, unit)
    return (0.0, "B")


def admit(estimated_bytes: int,
          max_gb: float = DEFAULT_MAX_REQUEST_SIZE_GB) -> None:
    """Raise if the estimate exceeds the cap (dataset.py:253-263).  An empty
    estimate is rejected too (dataset.py:264-267 rejects empty results)."""
    if estimated_bytes <= 0:
        raise TooBigRequestError("estimated result is empty")
    if estimated_bytes / 1024 ** 3 > max_gb:
        val, unit = human_size(estimated_bytes)
        raise TooBigRequestError(
            f"estimated size {val} {unit} exceeds maximum {max_gb} GB")
