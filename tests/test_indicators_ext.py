"""Extended-indicator semantics on crafted fixtures.

The oracle queries prove engine-vs-DuckDB agreement on the sf0.01 corpus;
these tests pin the *intended* math on adversarial inputs the corpus does
not contain (flat windows, zero volume, timestamp ties) against
independent pandas models.
"""

from __future__ import annotations

import datetime as dt
import math

import pandas as pd
import pytest

from big_data_engineering_financial_analysis_spark.functions import indicators_ext as ix

T0 = dt.datetime(2024, 1, 1)


def _isnull(v):
    return v is None or (isinstance(v, float) and math.isnan(v))


def _candles(spark, closes, volumes=None, symbol="A", id0=0):
    rows = [
        {
            "event_id": id0 + i,
            "stock_symbol": symbol,
            "local_time": T0 + dt.timedelta(minutes=i),
            "close": float(c),
            "volume": float(volumes[i]) if volumes is not None else 1.0,
        }
        for i, c in enumerate(closes)
    ]
    return spark.createDataFrame(rows)


def _col(df, name, order=("stock_symbol", "event_id")):
    pdf = df.toPandas().sort_values(list(order)).reset_index(drop=True)
    return list(pdf[name])


def test_macd_matches_pandas_ewm(spark):
    closes = [100 + 7 * math.sin(i / 3.0) + 0.3 * i for i in range(40)]
    out = ix.with_macd(_candles(spark, closes))
    s = pd.Series(closes)
    ema12 = s.ewm(span=12, adjust=False).mean().where(pd.Series(range(1, 41)) >= 12)
    ema26 = s.ewm(span=26, adjust=False).mean().where(pd.Series(range(1, 41)) >= 26)
    macd = ema12 - ema26
    # signal: EMA9 over the non-null macd subsequence, gated at 9 values
    sub = macd.dropna()
    sig = sub.ewm(span=9, adjust=False).mean()
    sig = sig.where(pd.Series(range(1, len(sub) + 1), index=sub.index) >= 9)
    got = _col(out, "macd_signal")
    exp = sig.reindex(range(40))
    for i in range(40):
        if pd.isna(exp[i]):
            assert _isnull(got[i]), i
        else:
            assert got[i] == pytest.approx(exp[i], rel=1e-12), i
    got_macd = _col(out, "macd")
    for i in range(40):
        if pd.isna(macd[i]):
            assert _isnull(got_macd[i])
        else:
            assert got_macd[i] == pytest.approx(macd[i], rel=1e-12)


def test_bollinger_flat_window_null_pct_b(spark):
    # 25 identical closes: sd == 0 -> upper == lower -> %B NULL (guarded),
    # bandwidth 0, mid == close
    out = ix.with_bollinger(_candles(spark, [50.0] * 25)).toPandas()
    last = out.sort_values("event_id").iloc[-1]
    assert last["bb_mid"] == 50.0
    assert last["bb_upper"] == 50.0
    assert last["bb_pct_b"] is None or pd.isna(last["bb_pct_b"])
    assert last["bb_bandwidth"] == 0.0
    # gating: rows 0..18 have no band at all
    assert out.sort_values("event_id")["bb_mid"].isna().sum() == 19


def test_bollinger_matches_pandas(spark):
    closes = [100 + 5 * math.sin(i / 2.0) + i * 0.1 for i in range(30)]
    out = ix.with_bollinger(_candles(spark, closes))
    s = pd.Series(closes)
    mid = s.rolling(20).mean()
    sd = s.rolling(20).std(ddof=1)
    got = _col(out, "bb_upper")
    for i in range(30):
        exp = mid[i] + 2 * sd[i]
        if pd.isna(exp):
            assert _isnull(got[i])
        else:
            assert got[i] == pytest.approx(exp, rel=1e-12)


def test_stochastic_flat_and_model(spark):
    closes = [10.0] * 16
    out = ix.with_stochastic(_candles(spark, closes)).toPandas()
    lastk = out.sort_values("event_id")["pct_k"]
    # hi == lo -> NULL %K everywhere (even once the window fills)
    assert lastk.isna().all()

    closes = [float((i * 37) % 20 + 1) for i in range(30)]
    out2 = ix.with_stochastic(_candles(spark, closes))
    s = pd.Series(closes)
    lo, hi = s.rolling(14).min(), s.rolling(14).max()
    exp_k = 100 * (s - lo) / (hi - lo)
    exp_d = exp_k.rolling(3).mean()
    gk, gd = _col(out2, "pct_k"), _col(out2, "pct_d")
    for i in range(30):
        if pd.isna(exp_k[i]):
            assert _isnull(gk[i])
        else:
            assert gk[i] == pytest.approx(exp_k[i], rel=1e-12)
        if pd.isna(exp_d[i]):
            assert _isnull(gd[i])
        else:
            assert gd[i] == pytest.approx(exp_d[i], rel=1e-12)


def test_vwap_obv_hand_example(spark):
    closes = [10.0, 12.0, 11.0, 11.0, 13.0]
    vols = [2.0, 3.0, 0.0, 5.0, 1.0]
    out = ix.with_vwap_obv(_candles(spark, closes, vols))
    vwap = _col(out, "vwap")
    # cumulative sum(price*vol)/sum(vol)
    assert vwap[0] == pytest.approx(10.0)
    assert vwap[1] == pytest.approx((20 + 36) / 5)
    assert vwap[2] == pytest.approx((20 + 36) / 5)  # zero-volume bar: unchanged
    obv = _col(out, "obv")
    # first bar 0; +3 (up), 0 (down but vol 0), 0 (flat), +1 (up)
    assert obv == [0.0, 3.0, 3.0, 3.0, 4.0]


def test_vwap_zero_volume_prefix_null(spark):
    out = ix.with_vwap_obv(_candles(spark, [10.0, 11.0], [0.0, 0.0])).toPandas()
    assert out["vwap"].isna().all()


def test_volatility_constant_prices_zero(spark):
    out = ix.with_volatility(_candles(spark, [42.0] * 25)).toPandas()
    s = out.sort_values("event_id")
    # log returns all 0 -> stddev 0 from row 20 (return series starts row 1)
    assert s["roll_vol"].iloc[-1] == 0.0
    assert s["ann_vol"].iloc[-1] == 0.0
    assert s["log_return"].iloc[0] is None or pd.isna(s["log_return"].iloc[0])


def test_volatility_matches_pandas(spark):
    closes = [100 * math.exp(0.01 * math.sin(i)) for i in range(30)]
    out = ix.with_volatility(_candles(spark, closes))
    s = pd.Series(closes)
    lr = (s / s.shift(1)).apply(math.log)
    exp = lr.rolling(20).std(ddof=1) * math.sqrt(252)
    got = _col(out, "ann_vol")
    for i in range(30):
        if pd.isna(exp[i]):
            assert _isnull(got[i])
        else:
            assert got[i] == pytest.approx(exp[i], rel=1e-12)


def test_drawdown_curve(spark):
    closes = [10.0, 12.0, 9.0, 11.0, 8.0]
    out = ix.with_drawdown(_candles(spark, closes))
    dd = _col(out, "drawdown")
    assert dd[0] == 0.0
    assert dd[1] == 0.0  # new high
    assert dd[2] == pytest.approx(9 / 12 - 1)
    assert dd[3] == pytest.approx(11 / 12 - 1)
    assert dd[4] == pytest.approx(8 / 12 - 1)
    assert min(dd) == pytest.approx(8 / 12 - 1)  # MDD


def test_tie_break_on_event_id(spark):
    # two rows with the SAME timestamp: ordering must follow event_id, so
    # the running max sees 20 before 5
    rows = _candles(spark, [20.0, 5.0])  # same symbol, ts differ by a minute
    # force identical timestamps
    import pyspark.sql.functions as F

    rows = rows.withColumn("local_time", F.lit(T0))
    out = ix.with_drawdown(rows)
    dd = _col(out, "drawdown")
    assert dd == [0.0, pytest.approx(5 / 20 - 1)]


def test_ohlc_bars_hand_example(spark):
    import pyspark.sql.functions as F

    closes = [10.0, 12.0, 9.0, 11.0]
    vols = [1.0, 2.0, 3.0, 4.0]
    df = _candles(spark, closes, vols)
    # rows 0-1 in minute 0... wait each row is 1 minute apart; squeeze
    # rows 0,1 into minute 0 and rows 2,3 into minute 1 via 30s spacing
    df = df.withColumn(
        "local_time",
        F.expr("timestamp '2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0, event_id*30)"),
    )
    out = ix.ohlc_bars(df).toPandas().sort_values("bucket").reset_index(drop=True)
    assert len(out) == 2
    b0, b1 = out.iloc[0], out.iloc[1]
    assert (b0["open"], b0["high"], b0["low"], b0["close"]) == (10.0, 12.0, 10.0, 12.0)
    assert b0["volume"] == 3.0 and b0["n_ticks"] == 2
    assert (b1["open"], b1["high"], b1["low"], b1["close"]) == (9.0, 11.0, 9.0, 11.0)


def test_ohlc_open_close_tie_break(spark):
    import pyspark.sql.functions as F

    # ALL ticks at the identical timestamp: open/close must follow event_id
    df = _candles(spark, [5.0, 7.0, 6.0]).withColumn("local_time", F.lit(T0))
    out = ix.ohlc_bars(df, volume_col=None).toPandas()
    assert len(out) == 1
    assert out.iloc[0]["open"] == 5.0 and out.iloc[0]["close"] == 6.0


def test_rolling_corr_perfect_and_anti(spark):
    import pandas as pd

    n = 25
    xs = [float(i) for i in range(n)]
    bx = ix.ohlc_bars(_candles(spark, xs), volume_col=None)
    # y = -2x + 3: perfectly anti-correlated
    by = ix.ohlc_bars(_candles(spark, [-2 * v + 3 for v in xs]), volume_col=None)
    out = (
        ix.rolling_corr(bx, by)
        .toPandas()
        .sort_values("bucket")
        .reset_index(drop=True)
    )
    assert out["corr"].iloc[: 19].isna().all()  # min_periods gate
    tail = out["corr"].iloc[19:]
    assert (abs(tail + 1.0) < 1e-9).all()


def test_rolling_corr_constant_side_null(spark):
    n = 25
    bx = ix.ohlc_bars(_candles(spark, [float(i) for i in range(n)]), volume_col=None)
    by = ix.ohlc_bars(_candles(spark, [4.0] * n), volume_col=None)
    out = ix.rolling_corr(bx, by).toPandas()
    assert out["corr"].isna().all()  # zero variance -> nullif guard


def test_vwap_obv_null_volume_policy(spark):
    # corrupt/unparseable volume -> NULL: the bar contributes nothing to
    # VWAP (sum skips NULLs) and nothing to OBV (signed term is NULL)
    closes = [10.0, 12.0, 14.0]
    df = _candles(spark, closes, [2.0, 0.0, 4.0])
    import pyspark.sql.functions as F

    df = df.withColumn(
        "volume", F.when(F.col("event_id") == 1, None).otherwise(F.col("volume"))
    )
    out = ix.with_vwap_obv(df)
    vwap, obv = _col(out, "vwap"), _col(out, "obv")
    assert vwap[0] == 10.0
    assert vwap[1] == 10.0          # null-volume bar: unchanged
    assert vwap[2] == pytest.approx((20 + 56) / 6)
    assert obv == [0.0, 0.0, 4.0]   # null signed term skipped by sum


def test_rolling_corr_pairs_matrix_shape_and_values(spark):
    """Three symbols: B = 2A + 1 (corr +1 with A), C = -A (corr -1 with
    A and B).  Every unordered pair appears exactly once and each
    window is keyed on the pair."""
    import itertools

    a = [1.0, 2.0, 4.0, 3.0, 5.0, 7.0]
    rows = []
    for sym, series in (
        ("A", a),
        ("B", [2 * v + 1 for v in a]),
        ("C", [-v for v in a]),
    ):
        for i, v in enumerate(series):
            rows.append({
                "stock_symbol": sym,
                "bucket": T0 + dt.timedelta(days=i),
                "close": float(v),
            })
    bars = spark.createDataFrame(rows)
    out = ix.rolling_corr_pairs(bars, window=3).toPandas()
    pairs = set(map(tuple, out[["sym_x", "sym_y"]].drop_duplicates().values))
    assert pairs == set(itertools.combinations("ABC", 2))
    full = out[out["corr"].notna()]
    # 6 buckets, window 3 -> 4 full windows per pair
    assert len(full) == 4 * 3
    by = {(r.sym_x, r.sym_y): r.corr for r in full.itertuples()}
    assert by[("A", "B")] == pytest.approx(1.0)
    assert by[("A", "C")] == pytest.approx(-1.0)
    assert by[("B", "C")] == pytest.approx(-1.0)


def test_rolling_corr_pairs_window_is_pair_partitioned(spark):
    """The scale contract: the physical plan's window spec is keyed on
    (sym_x, sym_y) — no global single-reducer sort anywhere."""
    rows = [
        {"stock_symbol": s, "bucket": T0 + dt.timedelta(days=i), "close": float(i + j)}
        for j, s in enumerate(("A", "B"))
        for i in range(3)
    ]
    out = ix.rolling_corr_pairs(spark.createDataFrame(rows), window=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    spec = [ln for ln in plan.splitlines() if "windowspecdefinition" in ln]
    assert spec, plan
    assert all("sym_x" in ln and "sym_y" in ln for ln in spec)


def _bars(spark, rows):
    return spark.createDataFrame(rows)


def test_atr_wilder_recursion_and_first_bar(spark):
    """First bar's TR is high-low (no prior close); ATR is the
    ewm(alpha=1/n, adjust=False) recursion over TR, NULL before n bars."""
    n = 4
    rows = []
    highs = [10.0, 12.0, 11.0, 15.0, 13.0, 14.0]
    lows = [8.0, 9.0, 9.5, 11.0, 10.0, 11.5]
    closes = [9.0, 11.0, 10.0, 14.0, 11.0, 13.0]
    for i in range(len(highs)):
        rows.append({
            "stock_symbol": "A",
            "bucket": T0 + dt.timedelta(days=i),
            "high": highs[i], "low": lows[i], "close": closes[i],
        })
    out = ix.with_atr_keltner(_bars(spark, rows), n_atr=n, n_ema=3)
    got = {r["bucket"]: r for r in out.collect()}
    # independent model
    trs, prev = [], None
    for h, l, c in zip(highs, lows, closes):
        trs.append(h - l if prev is None else max(h - l, abs(h - prev), abs(l - prev)))
        prev = c
    atr = None
    alpha = 1.0 / n
    for i, tr in enumerate(trs):
        atr = tr if atr is None else atr * (1 - alpha) + tr * alpha
        row = got[T0 + dt.timedelta(days=i)]
        assert row["tr"] == pytest.approx(tr)
        if i + 1 < n:
            assert _isnull(row["atr"])
        else:
            assert row["atr"] == pytest.approx(atr)
    # Keltner bands bracket the mid symmetrically by 2*ATR
    last = got[T0 + dt.timedelta(days=len(highs) - 1)]
    assert last["kc_upper"] - last["kc_mid"] == pytest.approx(2 * last["atr"])
    assert last["kc_mid"] - last["kc_lower"] == pytest.approx(2 * last["atr"])


def test_rolling_beta_recovers_linear_relation(spark):
    """y = 2x + noise-free intercept 0.01 -> beta exactly 2, alpha 0.01
    once the window fills; the benchmark symbol never appears in the
    output."""
    rows = []
    px_b, px_y = 100.0, 50.0
    moves = [0.01, -0.02, 0.015, 0.03, -0.01, 0.02, -0.005]
    for i, m in enumerate(moves):
        rows.append({"stock_symbol": "BENCH", "bucket": T0 + dt.timedelta(days=i), "close": px_b})
        rows.append({"stock_symbol": "Y", "bucket": T0 + dt.timedelta(days=i), "close": px_y})
        px_b *= (1 + m)
        px_y *= (1 + 2 * m + 0.01)
    out = ix.rolling_beta(_bars(spark, rows), "BENCH", window=3).collect()
    assert {r["stock_symbol"] for r in out} == {"Y"}
    gated = [r for r in out if r["beta"] is not None]
    assert gated, "window never filled"
    for r in gated:
        assert r["beta"] == pytest.approx(2.0, abs=1e-9)
        assert r["alpha"] == pytest.approx(0.01, abs=1e-9)


def test_rolling_beta_constant_benchmark_is_null(spark):
    """Zero-variance benchmark window -> NULL beta via the nullif guard."""
    rows = []
    for i in range(5):
        rows.append({"stock_symbol": "BENCH", "bucket": T0 + dt.timedelta(days=i), "close": 100.0})
        rows.append({"stock_symbol": "Y", "bucket": T0 + dt.timedelta(days=i), "close": 50.0 + i})
    out = ix.rolling_beta(_bars(spark, rows), "BENCH", window=3).collect()
    assert out and all(_isnull(r["beta"]) for r in out)


def test_pairs_spread_z_flat_spread_and_pair_partition(spark):
    """A constant-ratio pair has zero spread variance -> NULL z (nullif);
    a moving pair gets a finite z once the window fills.  Windows are
    keyed on the pair, so the flat pair cannot dilute the moving one."""
    rows = []
    for i in range(6):
        rows.append({"stock_symbol": "A", "bucket": T0 + dt.timedelta(days=i), "close": 10.0})
        rows.append({"stock_symbol": "B", "bucket": T0 + dt.timedelta(days=i), "close": 20.0})
        rows.append({"stock_symbol": "C", "bucket": T0 + dt.timedelta(days=i), "close": 10.0 * (1.1 ** i)})
    out = ix.pairs_spread_z(_bars(spark, rows), window=3).collect()
    ab = [r for r in out if (r["sym_x"], r["sym_y"]) == ("A", "B")]
    ac = [r for r in out if (r["sym_x"], r["sym_y"]) == ("A", "C")]
    assert len(ab) == 6 and len(ac) == 6
    # flat pair: spread defined, z NULL everywhere (sd = 0)
    assert all(r["spread"] == pytest.approx(math.log(0.5)) for r in ab)
    assert all(_isnull(r["spread_z"]) for r in ab)
    # moving pair: z defined once 3 bars accumulate
    gated = [r for r in sorted(ac, key=lambda r: r["bucket"])][2:]
    assert all(r["spread_z"] is not None for r in gated)


def test_pairs_spread_z_nonpositive_price_guard(spark):
    """Non-positive close yields NULL spread, and the NULL doesn't count
    toward the window gate."""
    rows = []
    closes = [10.0, -1.0, 10.0, 10.0, 10.0]
    for i, c in enumerate(closes):
        rows.append({"stock_symbol": "A", "bucket": T0 + dt.timedelta(days=i), "close": c})
        rows.append({"stock_symbol": "B", "bucket": T0 + dt.timedelta(days=i), "close": 5.0 + i})
    out = {r["bucket"]: r for r in ix.pairs_spread_z(_bars(spark, rows), window=2).collect()}
    assert _isnull(out[T0 + dt.timedelta(days=1)]["spread"])
    # day 2's window frame is [day1, day2] -> only 1 valid spread -> NULL mu
    assert _isnull(out[T0 + dt.timedelta(days=2)]["spread_mu"])
    assert out[T0 + dt.timedelta(days=3)]["spread_mu"] is not None


def test_ohlc_grouped_matches_window_form(spark):
    """r12 optimization: the volume-free grouped min_by/max_by form must
    equal the row_number/count window form cell-for-cell.  The volume
    path still runs the window form, so feeding a dummy volume column and
    dropping it reconstructs the old plan over the same data."""
    import pyspark.sql.functions as F

    closes = [10.0, 12.0, 9.0, 11.0, 11.0, 3.0, 8.0]
    df = _candles(spark, closes).unionByName(
        _candles(spark, list(reversed(closes)), symbol="B", id0=100)
    )
    # squeeze several ticks per minute bucket (20s spacing) + exact ties
    df = df.withColumn(
        "local_time",
        F.expr(
            "timestamp '2024-01-01 00:00:00'"
            " + make_interval(0,0,0,0,0,0, (event_id % 90) * 20)"
        ),
    ).drop("volume")
    grouped = ix.ohlc_bars(df, volume_col=None)
    # an INT dummy volume routes to the legacy row_number/count window
    # form (r13: a DOUBLE volume now takes the grouped order-pinned fold)
    window = ix.ohlc_bars(
        df.withColumn("one", F.lit(1)), volume_col="one"
    ).drop("volume")
    key = ["stock_symbol", "bucket"]
    g = grouped.toPandas().sort_values(key).reset_index(drop=True)
    w = window.toPandas().sort_values(key).reset_index(drop=True)
    assert list(g.columns) == list(w.columns)
    assert g.equals(w)


def test_ohlc_volume_grouped_matches_window_form(spark):
    """r13 optimization: the double-volume grouped form (min_by/max_by +
    order-pinned collect_list fold) must equal the old row_number/count
    window form BIT-FOR-BIT — including the FP addition order, probed
    with order-sensitive magnitudes ([1e16, 1.0, -1e16] sums to 0.0 in
    (time, id) order and to 1.0 reversed) and NULL volumes."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window as W

    closes = [10.0, 12.0, 9.0, 11.0, 11.0, 3.0, 8.0, 5.0, 6.0]
    vols = [1e16, 1.0, -1e16, None, 0.25, 1e16, -1.0, -1e16, None]
    df = _candles(spark, closes).unionByName(
        _candles(spark, list(reversed(closes)), symbol="B", id0=100)
    )
    # squeeze several ticks per minute bucket (20s spacing) so the
    # order-sensitive volumes land in one bucket in a known order
    df = (
        df.withColumn(
            "local_time",
            F.expr(
                "timestamp '2024-01-01 00:00:00'"
                " + make_interval(0,0,0,0,0,0, (event_id % 90) * 20)"
            ),
        )
        .withColumn(
            "volume",
            F.element_at(
                F.array(*[F.lit(v).cast("double") for v in vols]),
                (F.col("event_id") % F.lit(len(vols))).cast("int") + 1,
            ),
        )
    )
    grouped = ix.ohlc_bars(df)  # double volume -> r13 grouped fold

    # the pre-r13 window form, verbatim
    b = df.withColumn("bucket", F.date_trunc("minute", F.col("local_time")))
    w_ = W.partitionBy("stock_symbol", "bucket").orderBy("local_time", "event_id")
    part = W.partitionBy("stock_symbol", "bucket")
    b = b.withColumn("rn", F.row_number().over(w_)).withColumn(
        "cnt", F.count(F.lit(1)).over(part)
    )
    legacy = b.groupBy("stock_symbol", "bucket").agg(
        F.max(F.when(F.col("rn") == 1, F.col("close"))).alias("open"),
        F.max("close").alias("high"),
        F.min("close").alias("low"),
        F.max(F.when(F.col("rn") == F.col("cnt"), F.col("close"))).alias("close"),
        F.count(F.lit(1)).alias("n_ticks"),
        F.sum("volume").alias("volume"),
    )
    key = ["stock_symbol", "bucket"]
    g = grouped.toPandas().sort_values(key).reset_index(drop=True)
    le = legacy.toPandas().sort_values(key).reset_index(drop=True)
    assert list(g.columns) == list(le.columns)
    assert g.equals(le)
    # schema parity (nullable double volume either way)
    assert grouped.schema["volume"].dataType.simpleString() == "double"
