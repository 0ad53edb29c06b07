"""Per-partition lineage metrics: row counts + cell histograms.

north_rule: "resumable from checkpoint with per-partition lineage + metrics"
(BASELINE.json:14; SURVEY.md §2.4 A4).  Computed with one distributed
aggregation per commit — never a driver-side loop over rows.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geolake_spark.functions.geo import grid_cell_col

HISTOGRAM_RES = 5


def _spark_order(v):
    """Sort key matching Spark's double ordering: NaN above every number."""
    return (isinstance(v, float) and math.isnan(v), v)


def partition_metrics(df: DataFrame, partition_cols: list[str],
                      lat_col: str = "lat", lon_col: str = "lon") -> list[dict]:
    """One dict per partition: {partition, row_count, cell_histogram,
    column_stats}.

    cell_histogram: res-5 grid-cell -> row count (the coarse spatial
    fingerprint recorded in every manifest).  column_stats: per numeric
    column min/max/null-count — the Iceberg-style data-skipping payload
    (catalog.read_where prunes partitions whose [min, max] misses the
    predicate range without opening a file).  Strings are deliberately
    excluded: a truncated string max is NOT an upper bound (Iceberg solves
    this with truncate+increment; numeric + epoch-micro predicates carry
    the pruning value here).

    Both come from ONE (partition, cell) group-by; the driver reduces its
    rows per partition: counts and null counts add, min of mins, max of
    maxes (in Spark's order, where NaN is the largest double).
    """
    num = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
           T.FloatType, T.DoubleType)
    stat_cols = [f.name for f in df.schema.fields
                 if isinstance(f.dataType, num)
                 and f.name not in partition_cols]
    has_geo = lat_col in df.columns and lon_col in df.columns
    cell = (grid_cell_col(F.col(lat_col), F.col(lon_col), HISTOGRAM_RES)
            if has_geo else F.lit(-1))
    aggs = [F.count("*").alias("cnt")]
    for c in stat_cols:
        aggs += [F.min(c).alias(f"mn_{c}"), F.max(c).alias(f"mx_{c}"),
                 F.sum(F.col(c).isNull().cast("long")).alias(f"nl_{c}")]
    agg = (df.withColumn("_hcell", cell)
           .groupBy(*partition_cols, "_hcell").agg(*aggs))
    rows = agg.collect()  # size = partitions x occupied coarse cells (small)
    out: dict[tuple, dict] = {}
    for r in rows:
        key = tuple(r[c] for c in partition_cols)
        entry = out.setdefault(key, {
            "partition": {c: r[c] for c in partition_cols},
            "row_count": 0, "cell_histogram": {},
            "column_stats": {c: {"min": None, "max": None, "nulls": 0}
                             for c in stat_cols}})
        entry["row_count"] += r["cnt"]
        entry["cell_histogram"][str(r["_hcell"])] = r["cnt"]
        for c in stat_cols:
            st = entry["column_stats"][c]
            mn, mx = r[f"mn_{c}"], r[f"mx_{c}"]
            if mn is not None:  # else the cell holds only nulls of c
                st["min"] = mn if st["min"] is None else min(
                    st["min"], mn, key=_spark_order)
                st["max"] = mx if st["max"] is None else max(
                    st["max"], mx, key=_spark_order)
            st["nulls"] += r[f"nl_{c}"]
    return list(out.values())


def skew_report(df: DataFrame, key_cols: list[str],
                top_k: int = 20) -> DataFrame:
    """Shuffle-skew diagnostic for a planned groupBy/join key: the
    ``top_k`` heaviest key values with ``(key..., n_rows, row_frac,
    skew_ratio)`` — ``row_frac`` the key's share of all rows and
    ``skew_ratio = n_rows / mean_rows_per_key`` (a ratio >> number of
    tasks means one task sorts that key alone while the rest idle; the
    cue to salt, cap, or broadcast).  Run it BEFORE committing to a
    partitioning at 100 TB — the capped_by_key / AQE-skew-join
    decision wants this number, not a guess.

    Plan: one partial-agg'd groupBy over the keys plus one totals row
    broadcast back — the report is top_k rows, never a collect of the
    key space.  Fractions are fixed single-division doubles rounded
    9 dp (oracle-exact)."""
    counts = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("n_rows"))
    totals = counts.agg(F.sum("n_rows").alias("_t_rows"),
                        F.count(F.lit(1)).alias("_t_keys"))
    j = counts.crossJoin(F.broadcast(totals))
    frac = F.round(F.col("n_rows").cast("double")
                   / F.col("_t_rows").cast("double"), 9)
    ratio = F.round(F.col("n_rows").cast("double")
                    / (F.col("_t_rows").cast("double")
                       / F.col("_t_keys").cast("double")), 9)
    return (j.select(*key_cols, "n_rows", frac.alias("row_frac"),
                     ratio.alias("skew_ratio"))
            .orderBy(F.col("n_rows").desc(), *key_cols)
            .limit(top_k))


def skew_report_sql(table_sql: str, key_exprs: list[str],
                    top_k: int = 20) -> str:
    """DuckDB mirror of :func:`skew_report`."""
    keys = ", ".join(key_exprs)
    return f"""
WITH _sk_c AS (
  SELECT {keys}, count(*) AS n_rows FROM ({table_sql}) GROUP BY {keys}
), _sk_t AS (
  SELECT sum(n_rows) AS t_rows, count(*) AS t_keys FROM _sk_c
)
SELECT {keys}, n_rows,
       round(n_rows::DOUBLE / t_rows::DOUBLE, 9) AS row_frac,
       round(n_rows::DOUBLE / (t_rows::DOUBLE / t_keys::DOUBLE), 9)
         AS skew_ratio
FROM _sk_c CROSS JOIN _sk_t
ORDER BY n_rows DESC, {keys}
LIMIT {top_k}"""
