"""Pandas-parity tests for the indicator kernel (SURVEY §5.2 item 2).

Oracle = the reference's exact pandas recipe
(services/stream-processing/app/consumer.py:107-155): rolling/ewm/diff/clip
with default min_periods, the zero-divisor guard, and the NaN->HOLD signal
rule.  Fixtures follow FIXTURES.md A1 edge-coverage requirements: warm-up
windows, a monotone-rise symbol (zero-loss streak -> rs NULL -> RSI NULL),
a flat-price streak, and out-of-order input.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from big_data_engineering_financial_analysis_spark.functions.indicators import enrich

NUM_COLS = [
    "sma_5", "ema_10", "delta", "gain", "loss",
    "avg_gain_10", "avg_loss_10", "rs", "rsi_10",
]


def reference_recipe(pdf: pd.DataFrame) -> pd.DataFrame:
    """Verbatim re-expression of consumer.py:107-155 (the oracle)."""
    out = []
    for _, g in pdf.sort_values(["stock_symbol", "local_time"]).groupby("stock_symbol"):
        g = g.reset_index(drop=True)
        close = g["close"]
        g["sma_5"] = close.rolling(window=5).mean()
        g["ema_10"] = close.ewm(span=10, adjust=False, min_periods=10).mean()
        g["delta"] = close.diff()
        g["gain"] = g["delta"].clip(lower=0)
        g["loss"] = -g["delta"].clip(upper=0)
        g["avg_gain_10"] = g["gain"].rolling(window=10).mean()
        g["avg_loss_10"] = g["loss"].rolling(window=10).mean()
        g["rs"] = g["avg_gain_10"] / g["avg_loss_10"].replace({0: None})
        g["rsi_10"] = 100 - (100 / (1 + g["rs"]))

        def sig(row):
            if pd.isna(row["sma_5"]) or pd.isna(row["ema_10"]) or pd.isna(row["rsi_10"]):
                return "HOLD"
            if row["sma_5"] > row["ema_10"] and row["rsi_10"] < 70:
                return "BUY"
            if row["sma_5"] < row["ema_10"] and row["rsi_10"] > 30:
                return "SELL"
            return "HOLD"

        g["signal"] = g.apply(sig, axis=1)
        # pin numeric dtypes per group: a short group leaves whole columns
        # all-NA (object after replace), and concat of mixed all-NA entries
        # is a pandas FutureWarning (dtype inference change)
        out.append(g.astype({c: "float64" for c in NUM_COLS}))
    return pd.concat(out).reset_index(drop=True)


@pytest.fixture(scope="module")
def candles() -> pd.DataFrame:
    rng = np.random.default_rng(42)
    rows = []
    t0 = pd.Timestamp("2024-03-01")
    # random walk
    px = 100.0
    for i in range(40):
        px *= 1 + rng.normal(0, 0.02)
        rows.append(("WALK", t0 + pd.Timedelta(minutes=i), px))
    # monotone rise: zero-loss streak -> avg_loss_10 == 0 -> rs/RSI NULL
    px = 50.0
    for i in range(25):
        px *= 1.01
        rows.append(("RISE", t0 + pd.Timedelta(minutes=i), px))
    # flat streak: delta == 0 -> gain == loss == 0
    for i in range(20):
        rows.append(("FLAT", t0 + pd.Timedelta(minutes=i), 7.0))
    # short series: never leaves warm-up
    for i in range(4):
        rows.append(("SHORT", t0 + pd.Timedelta(minutes=i), 1.0 + i))
    # gap in minutes: row-count windows must ignore wall-clock gaps
    for i in range(15):
        rows.append(("GAP", t0 + pd.Timedelta(minutes=i * 17), 10.0 + (i % 3)))
    pdf = pd.DataFrame(rows, columns=["stock_symbol", "local_time", "close"])
    return pdf.sample(frac=1.0, random_state=7).reset_index(drop=True)  # out-of-order


def _compare(result: pd.DataFrame, oracle: pd.DataFrame):
    result = result.sort_values(["stock_symbol", "local_time"]).reset_index(drop=True)
    oracle = oracle.sort_values(["stock_symbol", "local_time"]).reset_index(drop=True)
    for c in NUM_COLS:
        np.testing.assert_allclose(
            result[c].to_numpy(dtype=float),
            oracle[c].to_numpy(dtype=float),
            rtol=1e-9, atol=1e-12, equal_nan=True, err_msg=c,
        )
    assert (result["signal"] == oracle["signal"]).all()


def test_window_enrich_matches_reference_recipe(spark, candles):
    result = enrich(spark.createDataFrame(candles)).toPandas()
    _compare(result, reference_recipe(candles))


def test_zero_loss_streak_yields_null_rsi(spark, candles):
    result = enrich(spark.createDataFrame(candles)).toPandas()
    rise = result[result.stock_symbol == "RISE"].sort_values("local_time")
    tail = rise.iloc[10:]  # past warm-up
    assert (tail["avg_loss_10"] == 0).all()
    assert tail["rs"].isna().all()
    assert tail["rsi_10"].isna().all()
    assert (tail["signal"] == "HOLD").all()


def test_warmup_gating(spark, candles):
    result = enrich(spark.createDataFrame(candles)).toPandas()
    walk = result[result.stock_symbol == "WALK"].sort_values("local_time").reset_index(drop=True)
    assert walk["sma_5"].iloc[:4].isna().all() and walk["sma_5"].iloc[4:].notna().all()
    assert walk["ema_10"].iloc[:9].isna().all() and walk["ema_10"].iloc[9:].notna().all()
    assert pd.isna(walk["delta"].iloc[0]) and walk["delta"].iloc[1:].notna().all()
    # delta NaN on row 1 -> rolling(10) over gain satisfied first at row 11
    assert walk["avg_gain_10"].iloc[:10].isna().all() and walk["avg_gain_10"].iloc[10:].notna().all()
