"""Trend/cross-sectional TA semantics on crafted fixtures.

The oracle queries prove engine-vs-DuckDB agreement on the sf0.01 corpus;
these pin the intended math on adversarial inputs (flat ranges, inside
bars, zero-span symbols, rank ties) against independent pandas models.
"""

from __future__ import annotations

import datetime as dt
import math

import pandas as pd

from big_data_engineering_financial_analysis_spark.functions import indicators_ta as ta

T0 = dt.datetime(2024, 1, 1)


def _isnull(v):
    return v is None or (isinstance(v, float) and math.isnan(v))


def _bars(spark, ohlc, symbol="A"):
    rows = [
        {
            "stock_symbol": symbol,
            "bucket": T0 + dt.timedelta(hours=i),
            "open": float(o),
            "high": float(h),
            "low": float(l),
            "close": float(c),
        }
        for i, (o, h, l, c) in enumerate(ohlc)
    ]
    return spark.createDataFrame(rows)


def _synthetic_ohlc(n, seed_phase=0.0):
    out = []
    for i in range(n):
        mid = 100 + 10 * math.sin(i / 4.0 + seed_phase) + 0.2 * i
        out.append((mid - 0.5, mid + 1.5, mid - 1.5, mid + 0.5))
    return out


def _col(df, name, order=("stock_symbol", "bucket")):
    pdf = df.toPandas().sort_values(list(order)).reset_index(drop=True)
    return list(pdf[name])


def test_adx_matches_pandas_wilder(spark):
    ohlc = _synthetic_ohlc(40)
    out = ta.with_adx_dmi(_bars(spark, ohlc), n=14)
    pdf = pd.DataFrame(ohlc, columns=["open", "high", "low", "close"])
    ph, pl, pc = pdf.high.shift(1), pdf.low.shift(1), pdf.close.shift(1)
    up, dn = pdf.high - ph, pl - pdf.low
    plus_dm = ((up > dn) & (up > 0)).astype(float) * up
    minus_dm = ((dn > up) & (dn > 0)).astype(float) * dn
    plus_dm.iloc[0] = minus_dm.iloc[0] = 0.0
    tr = pd.concat(
        [pdf.high - pdf.low, (pdf.high - pc).abs(), (pdf.low - pc).abs()], axis=1
    ).max(axis=1)
    tr.iloc[0] = pdf.high.iloc[0] - pdf.low.iloc[0]

    def rma(s, n=14):
        m = s.ewm(alpha=1.0 / n, adjust=False).mean()
        return m.where(pd.Series(range(1, len(s) + 1), index=s.index) >= n)

    atr, sp, sm = rma(tr), rma(plus_dm), rma(minus_dm)
    plus_di, minus_di = 100 * sp / atr, 100 * sm / atr
    dx = 100 * (plus_di - minus_di).abs() / (plus_di + minus_di)
    sub = dx.dropna()
    adx = sub.ewm(alpha=1.0 / 14, adjust=False).mean()
    adx = adx.where(pd.Series(range(1, len(sub) + 1), index=sub.index) >= 14)
    adx = adx.reindex(range(40))

    for name, exp in [
        ("atr", atr),
        ("plus_di", plus_di),
        ("minus_di", minus_di),
        ("adx", adx),
    ]:
        got = _col(out, name)
        for i in range(40):
            if pd.isna(exp[i]):
                assert _isnull(got[i]), (name, i)
            else:
                assert got[i] == pytest_approx(exp[i]), (name, i)


def pytest_approx(v):
    import pytest

    return pytest.approx(v, rel=1e-9, abs=1e-9)


def test_adx_di_bounded_and_gated(spark):
    out = ta.with_adx_dmi(_bars(spark, _synthetic_ohlc(35)), n=14).toPandas()
    assert out.plus_di.dropna().between(0, 100).all()
    assert out.minus_di.dropna().between(0, 100).all()
    assert out.adx.dropna().between(0, 100).all()
    s = out.sort_values("bucket").reset_index(drop=True)
    assert s.atr[:13].isna().all() and s.atr[13:].notna().all()


def test_ichimoku_matches_pandas(spark):
    ohlc = _synthetic_ohlc(60)
    out = ta.with_ichimoku(
        _bars(spark, ohlc), tenkan_n=9, kijun_n=26, senkou_n=52, shift=26
    )
    pdf = pd.DataFrame(ohlc, columns=["open", "high", "low", "close"])

    def mid(n):
        return (pdf.high.rolling(n).max() + pdf.low.rolling(n).min()) / 2

    tenkan, kijun = mid(9), mid(26)
    exp = {
        "tenkan": tenkan,
        "kijun": kijun,
        "senkou_a": ((tenkan + kijun) / 2).shift(26),
        "senkou_b": mid(52).shift(26),
        "chikou": pdf.close.shift(-26),
    }
    for name, series in exp.items():
        got = _col(out, name)
        for i in range(60):
            if pd.isna(series[i]):
                assert _isnull(got[i]), (name, i)
            else:
                assert got[i] == pytest_approx(series[i]), (name, i)


def test_heikin_ashi_recursion_exact(spark):
    ohlc = _synthetic_ohlc(25)
    out = ta.with_heikin_ashi(_bars(spark, ohlc))
    ha_close = [(o + h + l + c) / 4.0 for o, h, l, c in ohlc]
    ha_open = [(ohlc[0][0] + ohlc[0][3]) / 2.0]
    for i in range(1, 25):
        ha_open.append((ha_open[i - 1] + ha_close[i - 1]) / 2.0)
    got_open = _col(out, "ha_open")
    got_close = _col(out, "ha_close")
    # same fold order -> bit-identical, not just approximately equal
    assert got_open == ha_open
    assert got_close == ha_close
    got_high = _col(out, "ha_high")
    for i, (o, h, l, c) in enumerate(ohlc):
        assert got_high[i] == max(h, ha_open[i], ha_close[i])


def test_xsec_momentum_ranks_and_buckets(spark):
    # 3 symbols, 8 bars; returns diverge by construction
    frames = []
    for sym, slope in [("A", 1.0), ("B", 0.0), ("C", -1.0)]:
        ohlc = [(100 + slope * i,) * 4 for i in range(8)]
        frames.append(_bars(spark, ohlc, symbol=sym))
    bars = frames[0].union(frames[1]).union(frames[2])
    out = ta.xsec_momentum(bars, lookback=5, n_buckets=3).toPandas()
    # first 5 bars have no trailing return -> excluded
    assert set(out.bucket.dt.hour) == {5, 6, 7}
    last = out[out.bucket.dt.hour == 7].set_index("stock_symbol")
    assert last.loc["A", "mom_rank"] == 1 and last.loc["A", "position"] == "LONG"
    assert last.loc["B", "mom_rank"] == 2 and last.loc["B", "position"] == "FLAT"
    assert last.loc["C", "mom_rank"] == 3 and last.loc["C", "position"] == "SHORT"
    assert (out.n_universe == 3).all()


def test_xsec_momentum_tie_breaks_by_symbol(spark):
    # identical flat series -> identical returns -> rank by symbol name
    frames = [
        _bars(spark, [(100.0,) * 4 for _ in range(6)], symbol=s) for s in "ZYX"
    ]
    bars = frames[0].union(frames[1]).union(frames[2])
    out = ta.xsec_momentum(bars, lookback=5, n_buckets=3).toPandas()
    ranks = out.set_index("stock_symbol")["mom_rank"].to_dict()
    assert ranks == {"X": 1, "Y": 2, "Z": 3}


def test_sharpe_sortino_matches_pandas(spark):
    ohlc = _synthetic_ohlc(40)
    out = ta.with_sharpe_sortino(_bars(spark, ohlc), window=20)
    closes = pd.Series([c for _, _, _, c in ohlc])
    ret = closes / closes.shift(1) - 1
    mu = ret.rolling(20).mean()
    sd = ret.rolling(20).std()
    downside = (ret.clip(upper=0.0) ** 2).rolling(20).mean() ** 0.5
    ann = math.sqrt(252.0)
    for name, series in [
        ("sharpe", ann * mu / sd),
        ("sortino", ann * mu / downside),
    ]:
        got = _col(out, name)
        for i in range(40):
            if pd.isna(series[i]):
                assert _isnull(got[i]), (name, i)
            else:
                assert got[i] == pytest_approx(series[i]), (name, i)


def test_volume_profile_bins_and_poc(spark):
    rows = [
        {"stock_symbol": "A", "close": float(px), "volume": float(v)}
        for px, v in [(10, 1), (10, 2), (19, 5), (20, 100), (15, 3)]
    ] + [
        # zero price span -> single bin 0
        {"stock_symbol": "B", "close": 50.0, "volume": 7.0},
        {"stock_symbol": "B", "close": 50.0, "volume": 9.0},
    ]
    out = ta.volume_profile(spark.createDataFrame(rows), n_bins=10).toPandas()
    a = out[out.stock_symbol == "A"].set_index("bin")
    # range [10, 20], 10 bins of width 1; px == max lands in the last bin
    assert a.loc[0, "bin_volume"] == 3  # the two 10.0 ticks
    assert a.loc[9, "bin_volume"] == 105  # 19 and 20 share the top bin
    assert a.loc[5, "bin_volume"] == 3
    assert a.loc[9, "is_poc"] == 1 and a.loc[0, "is_poc"] == 0
    assert a.loc[0, "price_lo"] == 10.0 and a.loc[9, "price_hi"] == 20.0
    b = out[out.stock_symbol == "B"]
    assert list(b.bin) == [0] and int(b.bin_volume.iloc[0]) == 16
    assert int(b.is_poc.iloc[0]) == 1


def test_volume_profile_null_close_ticks_dropped(spark):
    """A NULL close carries no price: its tick must vanish, not get
    silently parked in the top bin (round-5 review finding)."""
    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("stock_symbol", T.StringType()),
            T.StructField("close", T.DoubleType()),
            T.StructField("volume", T.DoubleType()),
        ]
    )
    rows = [("A", 10.0, 1.0), ("A", 20.0, 2.0), ("A", None, 999.0)]
    out = ta.volume_profile(
        spark.createDataFrame(rows, schema), n_bins=10
    ).toPandas()
    # the NULL tick contributes to no bin: totals exclude its volume
    assert int(out.bin_volume.sum()) == 3
    assert int(out.n_ticks.sum()) == 2
    # extremes (and thus bin edges) come from non-NULL closes only
    assert out.price_lo.min() == 10.0 and out.price_hi.max() == 20.0


def _cells(df, names, order=("stock_symbol", "bucket")):
    pdf = df.toPandas().sort_values(list(order)).reset_index(drop=True)
    out = []
    for _, row in pdf.iterrows():
        out.append(tuple("<null>" if _isnull(row[n]) else row[n] for n in names))
    return out


def _adx_reference(ohlc, n=14):
    """Wilder DMI/ADX as pandas ``ewm(alpha=1/n, adjust=False)`` RMAs;
    ``ignore_na=True`` skips a NaN DX the way ``collect_list`` skips a
    NULL."""
    import numpy as np

    pdf = pd.DataFrame(ohlc, columns=["open", "high", "low", "close"])
    h, l, c = pdf["high"], pdf["low"], pdf["close"]
    ph, pl, pc = h.shift(1), l.shift(1), c.shift(1)
    up, dn = h - ph, pl - l
    # NaN comparisons are False: the first bar's DMs fall through to 0.0
    plus_dm = pd.Series(np.where((up > dn) & (up > 0), up, 0.0))
    minus_dm = pd.Series(np.where((dn > up) & (dn > 0), dn, 0.0))
    tr = pd.concat([h - l, (h - pc).abs(), (l - pc).abs()], axis=1).max(axis=1)

    def rma(s):
        return s.ewm(alpha=1.0 / n, adjust=False, min_periods=n, ignore_na=True).mean()

    atr = rma(tr).where(lambda a: a != 0.0)
    plus_di, minus_di = (100.0 * rma(plus_dm)) / atr, (100.0 * rma(minus_dm)) / atr
    den = (plus_di + minus_di).where(plus_di + minus_di != 0.0)
    pdf["dx"] = (100.0 * (plus_di - minus_di).abs()) / den
    pdf["adx"] = rma(pdf["dx"])
    return pdf


def test_adx_flat_stretch_parity(spark):
    # a flat stretch zeroes the raw DMs and TR mid-series; the ADX fold
    # must match the pandas reference exactly through it.  DX is NULL only
    # in the leading warm-up rows: the Wilder-smoothed DMs stay positive
    # through the flat stretch, and the fold cannot reach an interior NULL
    # DX (both smoothed DMs, or ATR, exactly 0 after a non-zero value) on
    # a series this short
    ohlc = _synthetic_ohlc(20) + [(100.0, 100.0, 100.0, 100.0)] * 10 + _synthetic_ohlc(15)
    bars = _bars(spark, ohlc)
    cols = ["dx", "adx"]
    ref = [
        tuple("<null>" if _isnull(row[n]) else row[n] for n in cols)
        for _, row in _adx_reference(ohlc).iterrows()
    ]
    assert _cells(ta.with_adx_dmi(bars), cols) == ref


def test_volume_profile_fractional_volumes_round_half_up(spark):
    """Per-tick floor(v+0.5): fractional volumes round, never truncate
    (a bare double->bigint cast would zero out every 0.7-share tick)."""
    rows = [
        {"stock_symbol": "A", "close": 10.0, "volume": 0.7},
        {"stock_symbol": "A", "close": 10.0, "volume": 0.7},
        {"stock_symbol": "A", "close": 20.0, "volume": 2.5},
    ]
    out = ta.volume_profile(spark.createDataFrame(rows), n_bins=10).toPandas()
    a = out[out.stock_symbol == "A"].set_index("bin")
    assert a.loc[0, "bin_volume"] == 2  # 0.7 -> 1 each, not 0
    assert a.loc[9, "bin_volume"] == 3  # 2.5 -> 3 (half-up)


def test_volume_profile_poc_tie_breaks_low_bin(spark):
    rows = [
        {"stock_symbol": "A", "close": 10.0, "volume": 5.0},
        {"stock_symbol": "A", "close": 20.0, "volume": 5.0},
    ]
    out = ta.volume_profile(spark.createDataFrame(rows), n_bins=10).toPandas()
    poc = out[out.is_poc == 1]
    assert list(poc.bin) == [0]
