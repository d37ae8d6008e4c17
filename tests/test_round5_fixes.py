"""Regression tests for the round-4 advisor findings: the vwap oracle's
empty-fold guard, empty-table validation reports, and compaction
stage-dir orphans."""

from __future__ import annotations

import os

import pandas as pd


def test_vwap_oracle_survives_leading_null_volume(spark, tmp_path):
    """A symbol whose FIRST tick has no volume used to crash the oracle:
    DuckDB's list_reduce errors on the empty filtered list.  The CASE
    guard must return NULL there (matching Spark's all-NULL-frame sum)."""
    import datetime as dt

    import duckdb

    from big_data_engineering_financial_analysis_spark.plans.registry import ORACLES, QUERIES

    rows = [
        (1, dt.datetime(2024, 1, 1, 0, 0), 5, "view", 10.0, "{}"),
        (2, dt.datetime(2024, 1, 1, 0, 1), 5, "view", 12.0, '{"k": 3}'),
        (3, dt.datetime(2024, 1, 1, 0, 2), 5, "view", 14.0, '{"k": 1}'),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    )
    sf = str(tmp_path / "sf_leading_null")
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
        con.execute(ORACLES["vwap_obv"])  # used to raise here
        .fetchdf()
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    assert pd.isna(got["vwap"].iloc[0]) and pd.isna(exp["vwap"].iloc[0])
    assert list(got["vwap"])[1:] == list(exp["vwap"])[1:]


def test_validation_checks_report_zero_on_empty_table(spark):
    """SUM over zero rows is NULL; the report contract is count(*) FILTER
    semantics — an empty table has 0 violations / 0 checked."""
    from big_data_engineering_financial_analysis_spark.operators.validation import (
        check_accepted,
        check_in_range,
        check_not_null,
        check_unique,
        quality_report,
    )

    empty = spark.createDataFrame([], "id int, v double, s string")
    rep = quality_report(
        [
            check_not_null(empty, "id"),
            check_in_range(empty, "v", 0.0, 1.0),
            check_accepted(empty, "s", ["a", "b"]),
            check_unique(empty, ["id"]),
        ]
    ).collect()
    assert len(rep) == 4
    for r in rep:
        assert r["n_violations"] == 0, r
        assert r["n_checked"] == 0, r


def test_compaction_reaps_orphaned_stage_dirs(spark, tmp_path):
    """A crash during the staged rewrite (before any rename) must not
    leak a full-dataset-sized _compact_* orphan forever — and healing
    one dataset must not reap a SIBLING dataset's in-flight stage."""
    from big_data_engineering_financial_analysis_spark.sources.dataset import (
        compact_dataset,
        read_dataset,
        recover_compaction,
        write_sharded,
    )
    from big_data_engineering_financial_analysis_spark.sources.parquet import load_table

    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents").limit(50)
    path = str(tmp_path / "ds")
    write_sharded(docs, path, ["lang"], ["doc_id"])
    n = read_dataset(spark, path).count()

    # simulate a crash mid-write: a stage dir exists, no rename happened
    orphan = str(tmp_path / "_compact_ds_deadbeef")
    os.makedirs(os.path.join(orphan, "data"))
    # a sibling dataset's in-flight stage must survive the heal
    sibling = str(tmp_path / "_compact_other_cafe")
    os.makedirs(sibling)

    recover_compaction(path)
    assert not os.path.exists(orphan)
    assert os.path.exists(sibling)

    # full compaction still works and leaves zero stage dirs behind
    compact_dataset(spark, path, ["lang"], ["doc_id"])
    assert read_dataset(spark, path).count() == n
    leftovers = [
        d for d in os.listdir(str(tmp_path)) if d.startswith("_compact_ds_")
    ]
    assert leftovers == []
