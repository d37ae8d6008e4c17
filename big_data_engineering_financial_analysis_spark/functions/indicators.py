"""Batch technical-indicator enrichment — the computational core of the reference.

The reference computes these in driver-side pandas inside ``foreachBatch``
(services/stream-processing/app/consumer.py:107-155): per symbol, ordered by
event time, it derives

  SMA_5        close.rolling(5).mean()                 (NaN until 5 rows)
  EMA_10       close.ewm(span=10, adjust=False, min_periods=10).mean()
  delta        close.diff()
  gain/loss    delta.clip(lower=0) / -delta.clip(upper=0)
  avg_gain_10  gain.rolling(10).mean()                 (NaN until 11th row,
  avg_loss_10  loss.rolling(10).mean()                  because delta row 1
                                                        is NaN)
  rs           avg_gain_10 / avg_loss_10.replace({0: None})
  RSI_10       100 - 100 / (1 + rs)
  signal       BUY  if SMA5 > EMA10 and RSI < 70
               SELL if SMA5 < EMA10 and RSI > 30
               else HOLD;  any-NaN -> HOLD             (consumer.py:143-152)

Here the same math is the per-symbol recursion ``streaming.state.step``,
the kernel the streaming pipeline already runs: :func:`enrich` groups the
candles by symbol and runs it over each key's time-sorted rows from an
empty state, in an Arrow-batched ``applyInPandas`` stage.  That is O(rows)
per symbol, parallel across symbols, and bit-identical to the stream by
construction.  The DuckDB ``ENRICHED_CTE`` oracle (plans/registry.py)
spells the same math as window expressions; the fidelity points it and
the kernel share with the reference:

* **min_periods gating.**  Every rolling mean is NULL until its window is
  full (pandas ``rolling(n)``), the EMA until ``EMA_SPAN`` rows.
* **NULL-propagating clip.**  pandas ``clip`` keeps NaN; the first row's
  delta, gain and loss are NULL.
* **Zero divisor.**  ``avg_loss_10 == 0`` gives a NULL ``rs`` and RSI, not
  100 (the reference's ``.replace({0: None})``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from big_data_engineering_financial_analysis_spark.operators.partitioning import spread_by
from big_data_engineering_financial_analysis_spark.streaming.state import (
    enrich_group,
    enriched_ddl,
)


def enrich(
    df: DataFrame,
    symbol_col: str = "stock_symbol",
    time_col: str = "local_time",
    close_col: str = "close",
) -> DataFrame:
    """Full enrichment: candle rows in, the input columns plus sma_5,
    ema_10, delta, gain, loss, avg_gain_10, avg_loss_10, rs, rsi_10 and
    signal out.

    One output row per input row.  Rows of one symbol with the same time
    are all enriched, in stable time order.  A row with a NULL or NaN
    close comes out with NULL indicators and ``HOLD`` and does not advance
    the recursion: the next row's delta and EMA continue from the last
    usable close.  The window/fold kernel this replaced did not skip such
    a row: its frames counted it, so SMA, delta and RSI went NULL for the
    next 4, 1 and 10 rows; a NULL close kept the EMA of the rows before
    it, and a NaN close turned the EMA NaN for the rest of the series.
    See ``streaming/state.py``.
    """
    schema = enriched_ddl(df.schema)

    def run(pdf):
        return enrich_group(pdf, time_col, close_col)

    # Pin the stage's parallelism on small inputs (see spread_by): AQE
    # would coalesce the few-MB candle shuffle to one partition and
    # serialize the per-key Python loop.  Value-neutral: rows only move
    # between partitions, and each key's output depends on its rows only.
    return spread_by(df, symbol_col).groupBy(symbol_col).applyInPandas(run, schema=schema)


def with_indicators(
    df: DataFrame,
    symbol_col: str = "stock_symbol",
    time_col: str = "local_time",
    close_col: str = "close",
) -> DataFrame:
    """:func:`enrich` without the ``signal`` column."""
    return enrich(df, symbol_col=symbol_col, time_col=time_col, close_col=close_col).drop("signal")
