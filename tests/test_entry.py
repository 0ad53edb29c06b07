"""Smoke test of the driver contract module."""

import __spark_entry__ as entrymod


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"polygon_id", "tile_z", "tile_x", "tile_y", "page_count"} \
        <= set(df.columns)


def test_every_query_has_matching_oracle_columns():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 25


def test_queries_run_at_sf0001(spark):
    """every queries() entry must at least execute on the smallest sf."""
    for name, fn in entrymod.queries().items():
        df = fn(spark, "/root/testdata/sf0.001")
        assert df.count() >= 0, name
