"""Regression tests for the round-7 review findings: NULL-keyed unique
checks, NULL-volume oracle parity and compaction crash recovery."""

from __future__ import annotations

import os

import pandas as pd


def test_check_unique_ignores_null_keys(spark):
    from big_data_engineering_financial_analysis_spark.operators.validation import check_unique

    df = spark.createDataFrame(
        [(1,), (None,), (None,), (2,), (2,)], "id int"
    )
    r = check_unique(df, ["id"]).first()
    # two NULL-keyed rows are NOT duplicates; the real duplicate pair is 2
    assert r["n_violations"] == 1
    assert r["n_checked"] == 3


def test_vwap_oracle_survives_null_volume(spark, tmp_path):
    """A props row without 'k' must not NULL-poison the oracle's
    cumulative fold (Spark's sum skips NULLs; the FILTER mirrors it)."""
    import duckdb

    from big_data_engineering_financial_analysis_spark.plans.registry import ORACLES, QUERIES

    import datetime as dt

    rows = [
        (1, dt.datetime(2024, 1, 1, 0, 0), 5, "view", 10.0, '{"k": 3}'),
        (2, dt.datetime(2024, 1, 1, 0, 1), 5, "view", 12.0, "{}"),
        (3, dt.datetime(2024, 1, 1, 0, 2), 5, "view", 14.0, '{"k": 1}'),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    )
    sf = str(tmp_path / "sf_null_k")
    ev.write.parquet(os.path.join(sf, "events.parquet"))

    got = (
        QUERIES["vwap_obv"](spark, sf)
        .toPandas()
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{sf}/events.parquet/*.parquet'"
    )
    exp = (
        con.execute(ORACLES["vwap_obv"])
        .fetchdf()
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    assert list(got["vwap"]) == list(exp["vwap"])
    # and the value itself: the NULL bar leaves the running VWAP unchanged
    assert got["vwap"].iloc[1] == got["vwap"].iloc[0]
    assert not pd.isna(got["vwap"].iloc[2])


def test_compaction_crash_recovery(spark, tmp_path):
    from big_data_engineering_financial_analysis_spark.sources.dataset import (
        compact_dataset,
        read_dataset,
        recover_compaction,
        write_sharded,
    )
    from big_data_engineering_financial_analysis_spark.sources.parquet import load_table

    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents")
    path = str(tmp_path / "ds")
    write_sharded(docs, path, ["lang"], ["doc_id"])
    n = read_dataset(spark, path).count()

    # crash between the two renames: only the aside copy exists
    os.rename(path, path + "._pre_compact")
    recover_compaction(path)
    assert read_dataset(spark, path).count() == n

    # crash after the swap: stale aside copy beside a live dataset
    os.makedirs(path + "._pre_compact")
    compact_dataset(spark, path, ["lang"], ["doc_id"])  # heals, then compacts
    assert not os.path.exists(path + "._pre_compact")
    assert read_dataset(spark, path).count() == n
