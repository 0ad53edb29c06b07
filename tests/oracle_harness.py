"""Local replica of the driver's correctness gate: run each queries() entry
on Spark and its oracle_sql() on DuckDB at sf0.01; compare row count, schema
(column names), and an order-insensitive value hash (rows sorted, floats
pre-rounded by the queries themselves)."""

from __future__ import annotations

import hashlib
import math
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return f"{v:.6f}"
        return f"{v:.6f}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def table_hash(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted("\x1f".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def run(sf_dir: str, only: list[str] | None = None):
    from conftest import ROOT
    sys.path.insert(0, ROOT)
    import __spark_entry__ as entrymod
    from geolake_spark.session import get_spark

    spark = get_spark(cores=8)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
        except Exception as exc:
            failures.append(name)
            print(f"FAIL  {name:28s} spark error: {exc}")
            continue
        if name not in oracles:
            print(f"rows  {name:28s} {len(rows):7d} rows (no oracle)")
            continue
        try:
            res = con.sql(oracles[name])
            ocols = [c for c in res.columns]
            orows = res.fetchall()
        except Exception as exc:
            failures.append(name)
            print(f"FAIL  {name:28s} duckdb error: {exc}")
            continue
        ok_n = len(rows) == len(orows)
        ok_s = sorted(cols) == sorted(ocols)
        ok_h = (table_hash(rows, cols) == table_hash(orows, ocols)) if ok_s else False
        status = "OK   " if (ok_n and ok_s and ok_h) else "FAIL "
        if status.startswith("FAIL"):
            failures.append(name)
        print(f"{status} {name:28s} rows {len(rows):6d}/{len(orows):<6d} "
              f"schema {'OK' if ok_s else str((cols, ocols))} hash {'OK' if ok_h else 'MISMATCH'}")
        if not ok_h and ok_s and len(rows) and len(orows):
            # first differing line for debugging
            order = sorted(range(len(cols)), key=lambda i: cols[i])
            a = sorted("\x1f".join(norm_cell(r[i]) for i in order) for r in rows)
            oorder = sorted(range(len(ocols)), key=lambda i: ocols[i])
            b = sorted("\x1f".join(norm_cell(r[i]) for i in oorder) for r in orows)
            for x, y in zip(a, b):
                if x != y:
                    print(f"       spark: {x[:160]}")
                    print(f"       duck : {y[:160]}")
                    break
            else:
                if len(a) != len(b):
                    print(f"       length diff {len(a)} vs {len(b)}")
    spark.stop()
    print("FAILURES:", failures if failures else "none")
    return failures


if __name__ == "__main__":
    only = sys.argv[2].split(",") if len(sys.argv) > 2 else None
    run(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01", only)
