"""REST aggregates over the enriched table (SURVEY §2.3, §2.5, §3.2).

Re-expresses the reference's Django REST aggregation API
(services/aggregator_django/aggregator/views.py) as Catalyst plans:
``avg|highest|lowest`` of any enriched column over a symbol + time window
(:25-86), the 14-aggregate summary (:61-86), and the multi-symbol variant
which the reference runs as a client-side loop issuing one SQL query per
symbol (:281-289) and we run as a single grouped aggregate.
``plans/api.py`` validates requests and calls these.

All of these are filter + hash-aggregate shapes: predicate pushdown prunes
the scan to the symbol/time range, partial aggregation runs map-side, and
the shuffle carries one row per group.  The dashboard's panels are raw SQL
and live in ``plans/dashboard.py``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

AGGREGATIONS = {"avg": F.avg, "highest": F.max, "lowest": F.min}


def _window_filter(
    df: DataFrame,
    symbol: str | None,
    time_col: str,
    start=None,
    end=None,
    symbol_col: str = "stock_symbol",
) -> DataFrame:
    """Equality + time-range predicates (P3/P4) — both push down to the scan."""
    if symbol is not None:
        df = df.filter(F.col(symbol_col) == symbol)
    if start is not None:
        df = df.filter(F.col(time_col) >= F.lit(start))
    if end is not None:
        df = df.filter(F.col(time_col) <= F.lit(end))
    return df


def aggregate_field(
    df: DataFrame,
    aggregation: str,
    field: str,
    symbol: str,
    start=None,
    end=None,
    time_col: str = "local_time",
    symbol_col: str = "stock_symbol",
) -> DataFrame:
    """A1/A2: one scalar aggregate of one field over a symbol+time window.

    ``aggregation`` uses the reference API vocabulary (views.py:127):
    avg | highest | lowest.  The field name is validated against the frame
    schema, mirroring the serializer whitelist (serializers.py:3-19).
    """
    if aggregation not in AGGREGATIONS:
        raise ValueError(f"aggregation must be one of {sorted(AGGREGATIONS)}")
    if field not in df.columns:
        raise ValueError(f"unknown field {field!r}")
    agg = AGGREGATIONS[aggregation]
    return _window_filter(df, symbol, time_col, start, end, symbol_col).agg(
        agg(field).alias(f"{aggregation}_{field}")
    )


_SUMMARY_FIELDS = ["close", "sma_5", "ema_10", "rsi_10"]


def _summary_aggs() -> list[Column]:
    """The 14 aggregate expressions of the summarize endpoint (views.py:61-86)."""
    aggs: list[Column] = []
    for f in _SUMMARY_FIELDS:
        aggs += [
            F.avg(f).alias(f"avg_{f}"),
            F.max(f).alias(f"max_{f}"),
            F.min(f).alias(f"min_{f}"),
        ]
    aggs += [F.max("gain").alias("max_gain"), F.max("loss").alias("max_loss")]
    return aggs


def summarize(
    df: DataFrame,
    symbol: str,
    start=None,
    end=None,
    time_col: str = "local_time",
    symbol_col: str = "stock_symbol",
) -> DataFrame:
    """A3: 14-aggregate single-symbol summary — one pass, one row."""
    return _window_filter(df, symbol, time_col, start, end, symbol_col).agg(*_summary_aggs())


def summarize_multiple(
    df: DataFrame,
    symbols: list[str],
    start=None,
    end=None,
    time_col: str = "local_time",
    symbol_col: str = "stock_symbol",
) -> DataFrame:
    """A4/J2: the multi-symbol summary as ONE grouped aggregate.

    The reference loops symbols client-side re-running the SQL per symbol
    (views.py:281-289) — N scans.  A single ``groupBy(symbol)`` does it in
    one scan + one partial/final hash aggregate regardless of N.
    """
    return (
        _window_filter(df, None, time_col, start, end, symbol_col)
        .filter(F.col(symbol_col).isin(symbols))
        .groupBy(symbol_col)
        .agg(*_summary_aggs())
    )
