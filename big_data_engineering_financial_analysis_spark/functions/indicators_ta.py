"""Trend / cross-sectional technical analysis: ADX, Ichimoku, Heikin-Ashi,
cross-sectional momentum, rolling Sharpe/Sortino, volume profile.

Widens the indicator surface beyond ``functions/indicators_ext.py``
(MACD/Bollinger/stochastic/VWAP/OBV/volatility/ATR), with the same
design rules:

* one ``PARTITION BY symbol ORDER BY time`` window family per operator —
  a single Exchange, parallelism = #symbols; the only operator that
  re-keys is :func:`xsec_momentum`, whose second window is keyed on the
  time bucket (cross-sectional by construction — parallelism = #buckets,
  per-reducer work = #symbols, which is small and bounded);
* min_periods gating via ``count(...) OVER frame >= n``;
* recursions (Wilder smoothing, the Heikin-Ashi open) via the same
  ``aggregate()`` HOF fold as ``ema_10`` — identical FP evaluation order
  to the DuckDB ``list_reduce`` oracles;
* everything JVM-side in whole-stage-codegen-able expressions;
* one implementation per indicator.  The folds re-reduce the whole
  prefix per row, O(history²) per key: sized for the registry's candle
  frames (at most 99 rows per key in the shipped data).

Formulas are the standard public ones (Wilder 1978 for DMI/ADX; the
usual Ichimoku 9/26/52 parameterization).  Wilder's own seeding uses the
mean of the first ``n`` observations; the engine seeds every RMA fold
with the first observation instead — the established convention of
``with_atr_keltner`` — so all Wilder-smoothed series share one fold
primitive and one oracle shape.  The two converge geometrically and the
gate hides the first ``n`` rows either way.

Reference scope note: the reference computes only SMA/EMA/RSI/signal
(services/stream-processing/app/consumer.py:107-155); these extend the
same enrichment surface users of a financial engine expect.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from big_data_engineering_financial_analysis_spark.operators.partitioning import spread_by
from big_data_engineering_financial_analysis_spark.functions.indicators_ext import (
    TRADING_DAYS,
    _ema_fold,
)


def _wilder(src: str, n: int, hist) -> Column:
    """Wilder RMA fold over the non-null prefix, gated at ``n`` values.
    O(history²) per key (:func:`_ema_fold`)."""
    return F.when(
        F.count(src).over(hist) >= n,
        _ema_fold(F.collect_list(src).over(hist), 1.0 / n),
    )


def with_adx_dmi(
    bars: DataFrame,
    symbol_col: str = "stock_symbol",
    time_col: str = "bucket",
    n: int = 14,
) -> DataFrame:
    """Wilder DMI(+DI/-DI) and ADX over OHLC bars.

    ``+DM = high - prev_high`` when that exceeds both 0 and the down
    move, else 0 (symmetrically for ``-DM``); first bar contributes 0 to
    both.  TR is the ATR true range.  +DI/-DI are 100 * RMA(DM)/RMA(TR);
    DX = 100 * |+DI - -DI| / (+DI + -DI); ADX is the RMA of the non-null
    DX prefix, gated at ``n`` DX observations (so ADX appears ~2n bars
    in).  collect_list skips NULLs, so the ADX fold consumes exactly the
    non-null DX prefix — the oracle mirrors with ``list(dx) FILTER (dx
    IS NOT NULL)``.

    Scale: every frame rides one ``PARTITION BY symbol ORDER BY time``
    sort — a single Exchange; per-reducer work is one symbol's bar count.
    """
    # pin window parallelism on small inputs (spread_by doc)
    bars = spread_by(bars, symbol_col)
    w = Window.partitionBy(symbol_col).orderBy(time_col)
    hist = w.rowsBetween(Window.unboundedPreceding, 0)
    prev_h = F.lag("high", 1).over(w)
    prev_l = F.lag("low", 1).over(w)
    prev_c = F.lag("close", 1).over(w)

    up = F.col("high") - prev_h
    dn = prev_l - F.col("low")
    plus_dm = F.when(prev_h.isNull(), F.lit(0.0)).otherwise(
        F.when((up > dn) & (up > 0), up).otherwise(F.lit(0.0))
    )
    minus_dm = F.when(prev_l.isNull(), F.lit(0.0)).otherwise(
        F.when((dn > up) & (dn > 0), dn).otherwise(F.lit(0.0))
    )
    tr = F.when(prev_c.isNull(), F.col("high") - F.col("low")).otherwise(
        F.greatest(
            F.col("high") - F.col("low"),
            F.abs(F.col("high") - prev_c),
            F.abs(F.col("low") - prev_c),
        )
    )
    bars = (
        bars.withColumn("plus_dm", plus_dm)
        .withColumn("minus_dm", minus_dm)
        .withColumn("tr", tr)
        .withColumn("atr", _wilder("tr", n, hist))
        .withColumn("s_plus", _wilder("plus_dm", n, hist))
        .withColumn("s_minus", _wilder("minus_dm", n, hist))
    )
    plus_di = F.lit(100.0) * F.col("s_plus") / F.nullif(F.col("atr"), F.lit(0.0))
    minus_di = F.lit(100.0) * F.col("s_minus") / F.nullif(F.col("atr"), F.lit(0.0))
    bars = bars.withColumn("plus_di", plus_di).withColumn("minus_di", minus_di)
    dx = (
        F.lit(100.0)
        * F.abs(F.col("plus_di") - F.col("minus_di"))
        / F.nullif(F.col("plus_di") + F.col("minus_di"), F.lit(0.0))
    )
    bars = bars.withColumn("dx", dx).withColumn("adx", _wilder("dx", n, hist))
    return bars.drop("s_plus", "s_minus")


def with_ichimoku(
    bars: DataFrame,
    symbol_col: str = "stock_symbol",
    time_col: str = "bucket",
    tenkan_n: int = 9,
    kijun_n: int = 26,
    senkou_n: int = 52,
    shift: int = 26,
) -> DataFrame:
    """Ichimoku cloud: conversion/base lines, leading spans, lagging span.

    Pure window functions — midpoints of rolling high/low ranges, a
    ``lag`` for the cloud projection (the span value *displayed at* each
    bar was computed ``shift`` bars earlier) and a ``lead`` for the
    lagging span (the close ``shift`` bars ahead, i.e. today's close
    plotted back).  No recursion, no UDF; one window family, one
    Exchange.
    """
    # pin window parallelism on small inputs (spread_by doc)
    bars = spread_by(bars, symbol_col)
    w = Window.partitionBy(symbol_col).orderBy(time_col)

    def midpoint(n_bars: int) -> Column:
        frame = w.rowsBetween(-(n_bars - 1), 0)
        return F.when(
            F.count("close").over(frame) >= n_bars,
            (F.max("high").over(frame) + F.min("low").over(frame)) / 2.0,
        )

    bars = (
        bars.withColumn("tenkan", midpoint(tenkan_n))
        .withColumn("kijun", midpoint(kijun_n))
        .withColumn("senkou_b_raw", midpoint(senkou_n))
    )
    return (
        bars.withColumn(
            "senkou_a", F.lag((F.col("tenkan") + F.col("kijun")) / 2.0, shift).over(w)
        )
        .withColumn("senkou_b", F.lag("senkou_b_raw", shift).over(w))
        .withColumn("chikou", F.lead("close", shift).over(w))
        .drop("senkou_b_raw")
    )


def with_heikin_ashi(
    bars: DataFrame,
    symbol_col: str = "stock_symbol",
    time_col: str = "bucket",
) -> DataFrame:
    """Heikin-Ashi smoothed candles.

    ``ha_close = (o+h+l+c)/4`` is row-local.  ``ha_open`` is the one
    recursion: ``ha_open[t] = (ha_open[t-1] + ha_close[t-1]) / 2``,
    seeded with ``(open[1] + close[1]) / 2`` — an ``aggregate()`` fold
    whose input is the ha_close prefix *excluding* the current row and
    whose init is the per-symbol seed (``first(...)`` over the ordered
    window).  The empty prefix on the first bar returns the seed, which
    is exactly the recursion's base case.  The oracle mirrors by
    prepending the seed to the (possibly NULL → ``[]``) DuckDB list and
    letting ``list_reduce`` treat it as the init element.

    ha_high/ha_low fold the raw extremes against the smoothed open/close.
    One window family keyed on the symbol — a single Exchange.  The fold
    re-reduces the prefix per row, O(history²) per key: sized for the
    registry's ≤ 99 bars per key.
    """
    # pin window parallelism on small inputs (spread_by doc)
    bars = spread_by(bars, symbol_col)
    w = Window.partitionBy(symbol_col).orderBy(time_col)
    hist = w.rowsBetween(Window.unboundedPreceding, 0)
    prefix = w.rowsBetween(Window.unboundedPreceding, -1)

    bars = bars.withColumn(
        "ha_close",
        (F.col("open") + F.col("high") + F.col("low") + F.col("close")) / 4.0,
    )
    seed = (F.first("open").over(hist) + F.first("close").over(hist)) / 2.0
    bars = bars.withColumn(
        "ha_open",
        F.aggregate(
            F.collect_list("ha_close").over(prefix),
            seed,
            lambda acc, x: (acc + x) / F.lit(2.0),
        ),
    )
    return bars.withColumn(
        "ha_high", F.greatest("high", "ha_open", "ha_close")
    ).withColumn("ha_low", F.least("low", "ha_open", "ha_close"))


def xsec_momentum(
    bars: DataFrame,
    symbol_col: str = "stock_symbol",
    time_col: str = "bucket",
    lookback: int = 5,
    n_buckets: int = 10,
) -> DataFrame:
    """Cross-sectional momentum: rank symbols by trailing return each bar.

    Stage 1 (symbol-keyed window): trailing ``lookback``-bar simple
    return per symbol.  Stage 2 (time-keyed window): rank the universe
    at each bar by that return (desc, symbol tie-break) and cut into
    ``n_buckets`` arithmetic quantile buckets — computed as
    ``floor((rank-1)*n/count) + 1`` rather than ``ntile`` so the oracle
    can mirror the exact arithmetic (Spark's double→bigint cast
    truncates while DuckDB's rounds; ``floor`` agrees everywhere).
    ``LONG``/``SHORT`` flag the top/bottom bucket.

    Scale: the re-key from symbol to time is inherent to cross-sectional
    ranking (two Exchanges, unavoidable); the second shuffle's reducer
    work is one bar's universe — #symbols rows, small by construction.
    Rows with no trailing return (first ``lookback`` bars) are excluded
    before ranking so every bucket at every bar is fully populated.
    """
    # pin window parallelism on small inputs (spread_by doc)
    bars = spread_by(bars, symbol_col)
    w = Window.partitionBy(symbol_col).orderBy(time_col)
    ret = F.col("close") / F.nullif(F.lag("close", lookback).over(w), F.lit(0.0)) - 1.0
    scored = bars.withColumn("mom_ret", ret).filter(F.col("mom_ret").isNotNull())

    # pin the stage-2 (time-keyed) ranking window's parallelism as well
    # (r13): measured isolated min-of-5 — 8 cores 2.08 -> 1.05 s, 32
    # cores 1.41 -> 1.34 s (the r12 round had measured only the 32-core
    # config, where AQE collapse hurts least).  Value-neutral: the rank
    # key (mom_ret desc, symbol) is total within a bar.
    scored = spread_by(scored, time_col)
    xw = Window.partitionBy(time_col).orderBy(F.col("mom_ret").desc(), symbol_col)
    xp = Window.partitionBy(time_col)
    # EFFECTIVE buckets = min(n_buckets, universe): with fewer symbols
    # than buckets the top bucket is unreachable (floor((n-1)*b/n)+1 == b
    # needs n >= b), so the SHORT leg silently vanished for any bar whose
    # universe was smaller than n_buckets — 5 symbols at the default 10
    # never shorted.  Capping degrades deciles to quantiles-of-the-
    # universe, keeping both legs populated at every universe size.
    b_eff = F.least(F.lit(n_buckets), F.col("n_universe"))
    scored = (
        scored.withColumn("mom_rank", F.row_number().over(xw))
        .withColumn("n_universe", F.count(F.lit(1)).over(xp))
        .withColumn(
            "mom_bucket",
            F.floor((F.col("mom_rank") - 1) * b_eff / F.col("n_universe")) + 1,
        )
    )
    return scored.withColumn(
        "position",
        F.when(F.col("mom_bucket") == 1, F.lit("LONG"))
        .when(F.col("mom_bucket") == b_eff, F.lit("SHORT"))
        .otherwise(F.lit("FLAT")),
    )


def with_sharpe_sortino(
    bars: DataFrame,
    symbol_col: str = "stock_symbol",
    time_col: str = "bucket",
    window: int = 20,
    periods_per_year: int = TRADING_DAYS,
) -> DataFrame:
    """Rolling annualized Sharpe and Sortino ratios over simple returns.

    Sharpe = mean/stddev_samp of the last ``window`` returns, scaled by
    sqrt(periods).  Sortino replaces the denominator with the downside
    deviation ``sqrt(avg(min(ret,0)^2))``.  Zero-risk windows yield NULL
    (``nullif`` guard), matching the oracle.  One symbol-keyed window
    family — single Exchange.
    """
    # pin window parallelism on small inputs (spread_by doc)
    bars = spread_by(bars, symbol_col)
    w = Window.partitionBy(symbol_col).orderBy(time_col)
    frame = w.rowsBetween(-(window - 1), 0)
    ret = F.col("close") / F.nullif(F.lag("close", 1).over(w), F.lit(0.0)) - 1.0
    bars = bars.withColumn("ret", ret)
    gate = F.count("ret").over(frame) >= window
    mu = F.when(gate, F.avg("ret").over(frame))
    sd = F.when(gate, F.stddev_samp("ret").over(frame))
    # null-preserving min(ret, 0): Spark's least and DuckDB's both skip
    # NULLs, but keeping NULL rows NULL on both sides makes the frame
    # contents identical by construction rather than by gate argument
    down_sq = F.when(
        F.col("ret").isNotNull(),
        F.pow(F.least(F.col("ret"), F.lit(0.0)), 2),
    )
    downside = F.when(gate, F.sqrt(F.avg(down_sq).over(frame)))
    # math.sqrt is IEEE correctly-rounded, bit-identical to SQL sqrt();
    # ** 0.5 would go through pow() with no such guarantee
    ann = math.sqrt(float(periods_per_year))
    return (
        bars.withColumn("ret_mu", mu)
        .withColumn("ret_sd", sd)
        .withColumn("sharpe", F.lit(ann) * mu / F.nullif(sd, F.lit(0.0)))
        .withColumn("sortino", F.lit(ann) * mu / F.nullif(downside, F.lit(0.0)))
    )


def volume_profile(
    ticks: DataFrame,
    symbol_col: str = "stock_symbol",
    close_col: str = "close",
    volume_col: str = "volume",
    n_bins: int = 20,
) -> DataFrame:
    """Per-symbol volume-at-price histogram with the point of control.

    Bins each symbol's price range [min_close, max_close] into
    ``n_bins`` equal-width buckets and sums traded volume per bucket;
    the POC is the highest-volume bucket (volume desc, bin asc
    tie-break).  Volume is summed as BIGINT after a per-tick
    ``floor(v + 0.5)`` half-up rounding — pure FP ops, identical on any
    engine (a bare double→int CAST truncates in Spark but rounds in
    DuckDB) — so the per-bin totals are exact regardless of
    partial-aggregation order.  Integer-valued volumes (the common
    exchange feed) pass through unchanged; fractional volumes lose
    sub-share precision by contract, documented here.

    Scale: per-symbol price extremes come from a grouped aggregate
    (symbols × 2 doubles) broadcast back onto the tick stream — no
    whole-partition window sort over the ticks; then one grouped
    aggregate keyed (symbol, bin) and a final window over #bins rows per
    symbol.  Two small shuffles, both keyed by symbol.

    NULL closes carry no price information, so their ticks are dropped
    before binning (min/max already skip NULLs on every engine).  The
    previous behavior — NULL close → NULL raw_bin → NULL-skipping
    ``least`` silently parking the tick in the TOP bin — was a
    surprising artifact, flagged in round-5 review.
    """
    ticks = ticks.filter(F.col(close_col).isNotNull())
    extremes = ticks.groupBy(symbol_col).agg(
        F.min(close_col).alias("px_min"), F.max(close_col).alias("px_max")
    )
    t = ticks.join(F.broadcast(extremes), symbol_col)
    span = F.col("px_max") - F.col("px_min")
    raw_bin = F.floor(
        (F.col(close_col) - F.col("px_min")) / F.nullif(span, F.lit(0.0)) * n_bins
    )
    t = t.withColumn(
        "bin",
        F.when(span == 0, F.lit(0)).otherwise(
            F.least(raw_bin, F.lit(n_bins - 1))
        ).cast("int"),
    )
    prof = t.groupBy(symbol_col, "bin").agg(
        # px_min/px_max are constant per symbol; min() is deterministic
        # under any partial-aggregation order, unlike first()
        F.min("px_min").alias("px_min"),
        F.max("px_max").alias("px_max"),
        F.sum(F.floor(F.col(volume_col) + F.lit(0.5))).alias("bin_volume"),
        F.count(F.lit(1)).alias("n_ticks"),
    )
    prof = prof.withColumn(
        "price_lo",
        F.col("px_min") + F.col("bin") * (F.col("px_max") - F.col("px_min")) / n_bins,
    ).withColumn(
        "price_hi",
        F.col("px_min")
        + (F.col("bin") + 1) * (F.col("px_max") - F.col("px_min")) / n_bins,
    )
    pw = Window.partitionBy(symbol_col).orderBy(F.col("bin_volume").desc(), "bin")
    return prof.withColumn(
        "is_poc", (F.row_number().over(pw) == 1).cast("int")
    ).drop("px_min", "px_max")
