"""Source-adapter normalization chain (reference WRF/NetCDF preprocessing).

Mirrors the reference driver's per-file pipeline
(/root/reference/drivers/intake_geokube/wrf.py:35-97) as DataFrame
transforms:

* ``rename_coords`` — XTIME/XLAT/XLONG -> time/latitude/longitude-style
  renames from a mapping (wrf.py:35-44; catalog ``mapping`` arg,
  netcdf.py:22).
* ``collapse_curvilinear`` — 2-d curvilinear lat/lon collapsed to 1-d axes
  by row/column mean (wrf.py:47-63): every (i, j) point's lat is replaced by
  the mean lat of its row i, lon by the mean lon of its column j.
* ``choose_variables`` — keep/skip variable sets (wrf.py:82-97).
* ``add_projection`` — attach the CRS as metadata (wrf.py:66-79:
  grid_mapping_name latitude_longitude == EPSG:4326 here).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from geolake_spark.functions.geo import LAT, LON

CRS = "EPSG:4326"


def rename_coords(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
    """{old_name: new_name} column renames; missing olds are ignored
    (schema-on-read tolerance, netcdf.py:22 mapping semantics)."""
    for old, new in mapping.items():
        if old in df.columns:
            df = df.withColumnRenamed(old, new)
    return df


def collapse_curvilinear(df: DataFrame, row_col: str = "i",
                         col_col: str = "j") -> DataFrame:
    """Replace 2-d curvilinear coordinates with their 1-d axis means —
    window averages over the grid-row / grid-column (no driver collect)."""
    w_row = Window.partitionBy(row_col)
    w_col = Window.partitionBy(col_col)
    return (df.withColumn(LAT, F.avg(LAT).over(w_row))
            .withColumn(LON, F.avg(LON).over(w_col)))


def choose_variables(df: DataFrame, variables: list[str] | None = None,
                     skip: list[str] | None = None,
                     var_col: str = "var") -> DataFrame:
    """Keep or drop variable sets (mutually exclusive like the reference,
    wrf.py:82-97).  Long-form tables filter on the var column; wide tables
    prune columns."""
    if variables is not None and skip is not None:
        raise ValueError("variables and skip are mutually exclusive")
    if var_col in df.columns:
        if variables is not None:
            return df.filter(F.col(var_col).isin(variables))
        if skip is not None:
            return df.filter(~F.col(var_col).isin(skip))
        return df
    keys = [c for c in df.columns]
    if variables is not None:
        keep = [c for c in keys if c in variables or c in
                ("ts", LAT, LON, "level")]
        return df.select(*keep)
    if skip is not None:
        return df.select(*[c for c in keys if c not in skip])
    return df


def add_projection(df: DataFrame, crs: str = CRS) -> DataFrame:
    """Attach the CRS as a constant metadata column (the reference attaches
    a grid-mapping coordinate; a table property serves the same contract)."""
    return df.withColumn("crs", F.lit(crs))


# ---------------------------------------------------------------------------
# Filename-pattern sources (reference drivers/intake_geokube/netcdf.py:8-60
# `pattern` arg; drivers/tests/resources/test_catalog.yaml:20): name parts
# like ``{var}_ens_spread_{res}deg.nc`` lift into attribute columns, and
# attribute filters prune FILES before any scan — the foreign-file-drop
# analogue of partition pruning.
# ---------------------------------------------------------------------------


def pattern_regex(pattern: str) -> tuple[str, list[str]]:
    """``{var}_ens_spread_{res}deg.nc`` -> (anchored regex with one group
    per field, field names).  Fields match non-greedily so literal
    separators between them bind first."""
    import re
    fields: list[str] = []
    parts: list[str] = []
    i = 0
    for m in re.finditer(r"\{(\w+)\}", pattern):
        parts.append(re.escape(pattern[i:m.start()]))
        parts.append("(.*?)")
        fields.append(m.group(1))
        i = m.end()
    parts.append(re.escape(pattern[i:]))
    return "^" + "".join(parts) + "$", fields


def default_lister(directory: str) -> list[str]:
    """Deterministic lister (lexicographic basenames).  The lister seam
    exists because the 100 TB layout is an object store: a bucket lister
    plugs in via ``read_patterned(list_files=...)`` without touching the
    pruning/scan logic."""
    import os
    return sorted(os.listdir(directory))


def read_patterned(spark, directory: str, pattern: str,
                   fmt: str = "parquet",
                   attr_filters: dict | None = None,
                   list_files=None) -> DataFrame:
    """Read a directory of pattern-named files with name parts as columns.

    * files are enumerated and matched DRIVER-SIDE via ``list_files``
      (a ``directory -> iterable of basenames`` callable, default
      :func:`default_lister`; inject an object-store lister here);
      ``attr_filters`` ({field: value-or-list}) drops non-matching files
      before Spark ever sees them — scan-level pruning exactly like the
      reference's partition-attribute handling (unknown filter keys are
      ignored here and applied row-level by the subset operator
      downstream);
    * the surviving files load as ONE multi-path scan (full parallelism,
      not a union of per-file plans);
    * attribute columns derive from ``input_file_name()`` via a JVM
      ``regexp_extract`` on the percent-DECODED basename
      (``input_file_name`` returns a URI, so a name with spaces/'%'/
      non-ASCII would otherwise silently miss the regex and yield empty
      attrs; literal '+' is pre-escaped so URLDecoder's plus-as-space
      rule can't corrupt it) — ordinary codegen columns, no Python in
      the scan path;
    * ``attr_filters`` that prune EVERY pattern-matching file return an
      empty DataFrame with the product's schema (same contract as a
      fully-selective row filter); FileNotFoundError is reserved for a
      directory where nothing matches the pattern at all.
    """
    import os
    import re
    regex, fields = pattern_regex(pattern)
    rx = re.compile(regex)
    chosen = []
    matched_all = []
    for fn in sorted((list_files or default_lister)(directory)):
        m = rx.match(fn)
        if not m:
            continue
        matched_all.append(os.path.join(directory, fn))
        attrs = dict(zip(fields, m.groups()))
        keep = True
        for k, v in (attr_filters or {}).items():
            if k in attrs:
                allowed = (v if isinstance(v, (list, tuple, set)) else [v])
                if attrs[k] not in {str(x) for x in allowed}:
                    keep = False
                    break
        if keep:
            chosen.append(os.path.join(directory, fn))

    def _with_attrs(df: DataFrame) -> DataFrame:
        raw = F.element_at(F.split(F.input_file_name(), "/"), -1)
        base = F.url_decode(F.replace(raw, F.lit("+"), F.lit("%2B")))
        for i, name in enumerate(fields):
            df = df.withColumn(name, F.regexp_extract(base, regex, i + 1))
        return df

    # a multi-file product accumulates schema over time (new columns in
    # new files); mergeSchema makes the scan expose the union schema so a
    # pruned subset and the full product agree on shape.  Footer-only work
    # for parquet.
    reader = spark.read.format(fmt)
    if fmt == "parquet":
        reader = reader.option("mergeSchema", "true")
    if not chosen:
        if not matched_all:
            raise FileNotFoundError(
                f"no files under {directory} match pattern {pattern!r}")
        # valid product, fully-selective filter -> empty result, full
        # schema.  Inferred over ALL pattern-matching files, not just the
        # first: with evolving parquet schemas the empty result must match
        # the shape a row-matching load would produce.  ``limit(0)`` keeps
        # it a plan whose size statistic is 0 bytes, so the estimate says
        # empty (an empty Python-side frame is sized at Long.MaxValue).
        return _with_attrs(reader.load(matched_all)).limit(0)
    return _with_attrs(reader.load(chosen))
