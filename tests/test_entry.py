"""Smoke tests for the driver contract (__spark_entry__.py)."""

from __future__ import annotations

import __spark_entry__ as entrymod


def test_entry_runs_and_returns_rows(spark):
    df = entrymod.entry(spark)
    rows = df.limit(5).collect()
    assert df.schema.fieldNames()[:4] == ["event_id", "stock_symbol", "local_time", "close"]
    assert len(rows) > 0


def test_every_query_has_shape(spark):
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert qs, "no queries declared"
    # every oracle key must have a query
    assert set(oracles) <= set(qs)


def test_queries_run_at_sf0001(spark):
    for name, fn in entrymod.queries().items():
        df = fn(spark, "/root/testdata/sf0.001")
        df.limit(1).collect()  # schema + execution smoke


def test_cli_list_and_unknown():
    from big_data_engineering_financial_analysis_spark.__main__ import main

    assert main(["--list"]) == 0
    assert main(["no_such_query"]) == 2
