"""Oracles the benchmark computes itself, without the package.

* ILP line keys, so received lines can be matched to the input rows;
* the reference pandas indicator recipe (the streaming consumer's
  ``rolling``/``ewm`` code), for the backfill store sample.

Nothing here imports Spark.
"""

from __future__ import annotations

import math
from datetime import datetime

import numpy as np
import pandas as pd

ILP_PREFIX = "stock_data,stock_symbol="


def ilp_key(line: str) -> tuple[str, int]:
    """(symbol, epoch nanoseconds) of one ILP line."""
    if not line.startswith(ILP_PREFIX):
        raise ValueError(f"not a stock_data ILP line: {line[:60]!r}")
    sym = line[len(ILP_PREFIX): line.index(" ")]
    return sym, int(line.rsplit(" ", 1)[1])


#: Relative tolerance of :func:`same_value`: summation-order rounding.
REL_TOL = 1e-9


def same_value(a, b) -> bool:
    """Equal up to summation-order rounding; NULL and NaN are equal."""
    a_missing = a is None or (isinstance(a, float) and math.isnan(a))
    b_missing = b is None or (isinstance(b, float) and math.isnan(b))
    if a_missing or b_missing:
        return a_missing and b_missing
    return math.isclose(float(a), float(b), rel_tol=REL_TOL, abs_tol=1e-12)


def reference_enrich(pdf: pd.DataFrame) -> pd.DataFrame:
    """The reference recipe for ONE symbol's candles (any order)."""
    pdf = pdf.sort_values("local_time", kind="stable").reset_index(drop=True)
    close = pdf["close"]
    pdf["sma_5"] = close.rolling(window=5).mean()
    pdf["ema_10"] = close.ewm(span=10, adjust=False, min_periods=10).mean()
    pdf["delta"] = close.diff()
    pdf["gain"] = pdf["delta"].clip(lower=0) + 0.0
    pdf["loss"] = -pdf["delta"].clip(upper=0) + 0.0
    pdf["avg_gain_10"] = pdf["gain"].rolling(window=10).mean()
    pdf["avg_loss_10"] = pdf["loss"].rolling(window=10).mean()
    pdf["rs"] = pdf["avg_gain_10"] / pdf["avg_loss_10"].replace({0: np.nan})
    pdf["rsi_10"] = 100 - (100 / (1 + pdf["rs"]))
    nan = pdf[["sma_5", "ema_10", "rsi_10"]].isna().any(axis=1)
    buy = (pdf["sma_5"] > pdf["ema_10"]) & (pdf["rsi_10"] < 70)
    sell = (pdf["sma_5"] < pdf["ema_10"]) & (pdf["rsi_10"] > 30)
    pdf["signal"] = np.select([nan, buy, sell], ["HOLD", "BUY", "SELL"], default="HOLD")
    return pdf


INDICATORS = ["sma_5", "ema_10", "delta", "gain", "loss", "avg_gain_10",
              "avg_loss_10", "rs", "rsi_10"]

#: The dashboard panels' fixed range (plans/dashboard.py).
PANEL_RANGE = (datetime(2024, 1, 5), datetime(2024, 1, 20))


def panel_counts(ref: pd.DataFrame) -> dict[str, int]:
    """Row count of each of the 8 dashboard panels over the enriched
    reference frame (all symbols)."""
    s42 = ref[ref["stock_symbol"] == "42"]
    lo, hi = PANEL_RANGE
    in_range = s42[(s42["local_time"] >= lo) & (s42["local_time"] <= hi)]
    return {
        "panel_price_series": len(s42),
        "panel_indicator_series": len(in_range),
        "panel_gain_loss": len(s42),
        "panel_latest_signal": min(1, len(s42)),
        "panel_close_stats": 1,
        "panel_candlestick": int(((in_range["sma_5"] > 0) & (in_range["ema_10"] > 0)).sum()),
        "panel_avg_gain_pivot": 1,
        "panel_avg_loss_pivot": 1,
    }
