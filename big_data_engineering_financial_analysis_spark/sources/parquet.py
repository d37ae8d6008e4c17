"""Batch parquet sources over the driver test tables (TESTDATA.md).

Replaces the reference's at-rest store (QuestDB table ``stock_data``,
db/init_questdb.sql:1-21) with columnar parquet: predicate pushdown +
column pruning reach the scan via Catalyst, and the daily-partition pruning
QuestDB did (``PARTITION BY DAY``) maps to ``partitionBy(to_date(ts))`` on
write (see :func:`write_timeseries`).
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one test table with schema normalization.

    ``events.ts`` is physically TIMESTAMP(NANOS), which Spark cannot map to
    its (microsecond) TimestampType.  We read nanos as long
    (``spark.sql.legacy.parquet.nanosAsLong`` — set here too because the
    driver may hand us a session built without it) and integer-divide to
    microseconds, which matches DuckDB's read of the same file (DuckDB
    truncates ns -> us, verified against pyarrow's raw int64 values).
    """
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # a non-UTC session would shift every collected timestamp relative
        # to DuckDB's naive reading of the same files
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # Spark 4.1 reads parquet TIMESTAMP(NANOS) as TIMESTAMP_NTZ (the legacy
    # nanosAsLong flag no longer applies).  Normalize every NTZ column to
    # the session-local TimestampType: the session is pinned UTC, so the
    # wall-clock values are unchanged and still match DuckDB's naive read,
    # while time functions that require TIMESTAMP (unix_micros, window)
    # keep resolving.
    ntz_cols = [c for c, dtype in df.dtypes if dtype == "timestamp_ntz"]
    if ntz_cols:
        # The NTZ -> TIMESTAMP cast reinterprets wall-clock values in the
        # session timezone; it is value-preserving ONLY under UTC.  A
        # misconfigured session must fail loudly here, not silently shift
        # every event timestamp relative to DuckDB's naive read.
        tz = spark.conf.get("spark.sql.session.timeZone")
        if tz != "UTC":
            raise RuntimeError(
                f"load_table({name!r}): session timeZone is {tz!r} but NTZ "
                f"columns {ntz_cols} require UTC for a value-preserving cast"
            )
        for col_name in ntz_cols:
            df = df.withColumn(col_name, F.col(col_name).cast("timestamp"))
    return df


class _LazyTables(Mapping):
    """Read-only mapping of table name -> DataFrame over :data:`TABLES`
    that reads each parquet table on FIRST access (r13):
    ``spark.read.parquet`` costs ~60-90 ms of driver work per table
    (footer/schema resolution), and the eager ten-table dict charged
    every consumer for all ten — measured ~0.4 s of the
    ``local_supplier_volume`` construction for four tables the query
    never touches.  Keys, ``in``, ``len()`` and iteration answer from
    :data:`TABLES` without reading anything; a value is read when it is
    first asked for and memoized."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self._spark, self._sf_dir = spark, sf_dir
        self._loaded: dict[str, DataFrame] = {}

    def __getitem__(self, name: str) -> DataFrame:
        if name not in self._loaded:
            if name not in TABLES:
                raise KeyError(name)
            self._loaded[name] = load_table(self._spark, self._sf_dir, name)
        return self._loaded[name]

    def __contains__(self, name: object) -> bool:
        return name in TABLES

    def __iter__(self) -> Iterator[str]:
        return iter(TABLES)

    def __len__(self) -> int:
        return len(TABLES)


def load_tables(spark: SparkSession, sf_dir: str) -> Mapping[str, DataFrame]:
    return _LazyTables(spark, sf_dir)


def candles_from_events(
    spark: SparkSession, sf_dir: str, symbols: list[str] | None = None
) -> DataFrame:
    """Map the synthetic ``events`` table onto the candle-stream shape.

    FIXTURES.md assigns ``user_id`` -> symbol key, ``ts`` -> local_time,
    ``value`` -> close, which makes every reference window operator (W1-W9)
    testable against a SQL oracle.  Column names keep the candle vocabulary
    so downstream operators read naturally.

    ``symbols`` prunes to a symbol set on the native int ``user_id``
    BEFORE the string mapping: a filter on ``CAST(user_id AS STRING)``
    cannot be pushed into the parquet scan (the cast blocks source
    filters), whereas ``user_id IN (...)`` reaches PushedFilters.
    """
    ev = load_table(spark, sf_dir, "events")
    if symbols is not None:
        ev = ev.filter(F.col("user_id").isin([int(s) for s in symbols]))
    return ev.select(
        F.col("event_id"),
        F.col("user_id").cast("string").alias("stock_symbol"),
        F.col("ts").alias("local_time"),
        F.col("value").alias("close"),
        F.col("event_type"),
    )


def write_timeseries(df: DataFrame, path: str, time_col: str = "local_time") -> None:
    """Append a time-series table partitioned by day.

    Mirrors QuestDB's ``PARTITION BY DAY`` + designated timestamp
    (db/init_questdb.sql:20-21): date partition directories give the same
    time-range partition pruning for the serving queries.
    """
    (
        df.withColumn("dt", F.to_date(F.col(time_col)))
        .repartition("dt")
        .write.mode("append")
        .partitionBy("dt")
        .parquet(path)
    )
