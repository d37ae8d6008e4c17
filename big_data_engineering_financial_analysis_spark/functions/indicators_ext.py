"""Extended technical-indicator family beyond the reference's four.

The reference's pipeline computes SMA/EMA/RSI/signal
(services/stream-processing/app/consumer.py:107-155).  A user of a
financial-analysis engine expects the rest of the standard toolkit; this
module adds the canonical ones as Catalyst window expressions (the
pipeline's own SMA/EMA/RSI run through the per-key recursion of
``streaming/state.py`` instead):

* one ``PARTITION BY symbol ORDER BY time, id`` window family — a single
  Exchange; every frame aggregate rides the same sort, so Catalyst plans
  one WindowExec pass per frame group and parallelism = #symbols;
* min_periods gating via ``count(...) OVER (same frame) >= n`` (pandas
  ``rolling(n)`` semantics — NULL until the window is full);
* EMA recursions via an ``aggregate()`` HOF fold (:func:`_ema_fold`;
  identical FP evaluation order to pandas ``ewm(adjust=False)`` and the
  DuckDB ``list_reduce`` oracle);
* everything stays JVM-side in whole-stage-codegen-able expressions —
  no Python in the data path.

Ordering is ``(time, id)`` — strictly deterministic even on candle streams
with timestamp ties, which ROWS frames otherwise resolve arbitrarily.

Indicators (all standard public formulas):

  MACD         ema_12 - ema_26; signal = EMA_9 of the MACD series
               (folded over non-null MACD values, gated at 9)
  Bollinger    mid = SMA_20, band = mid +/- 2 * stddev_samp_20;
               %B and bandwidth derived
  Stochastic   %K = 100 * (close - min_14) / (max_14 - min_14); %D = SMA_3(%K)
  VWAP         running sum(close*volume) / sum(volume) per symbol
  OBV          running sum of volume signed by the close-to-close delta
  Volatility   stddev_samp of 20 log returns, annualized by sqrt(252)
  Drawdown     close / running-max(close) - 1 (per-row curve; min = MDD)
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from big_data_engineering_financial_analysis_spark.operators.partitioning import spread_by

TRADING_DAYS = 252


def _ema_fold(values: Column, alpha: float) -> Column:
    """EMA via aggregate() HOF over the full per-key history prefix.

    Seeded with the first observation, then
    ``ema = prev * (1 - alpha) + x * alpha`` — identical recursion (and
    identical floating-point evaluation order) to pandas
    ``ewm(adjust=False)`` and to the DuckDB ``list_reduce`` oracle.
    O(history) per row, so O(history²) per key: sized for the registry's
    candle frames (at most 99 rows per key in the shipped data), not for
    long histories.
    """
    beta = 1.0 - alpha
    return F.aggregate(
        values,
        F.lit(None).cast("double"),
        lambda acc, x: F.when(acc.isNull(), x).otherwise(acc * F.lit(beta) + x * F.lit(alpha)),
    )


def _w(symbol_col: str, time_col: str, id_col: str):
    w = Window.partitionBy(symbol_col).orderBy(time_col, id_col)
    return w, w.rowsBetween(Window.unboundedPreceding, 0)


def _gated_ema(close_col: str, span: int, hist) -> Column:
    """EMA(span) over the full history prefix, NULL until ``span`` rows."""
    alpha = 2.0 / (span + 1.0)
    return F.when(
        F.count(close_col).over(hist) >= span,
        _ema_fold(F.collect_list(close_col).over(hist), alpha),
    )


def with_macd(
    df: DataFrame,
    symbol_col: str = "stock_symbol",
    time_col: str = "local_time",
    id_col: str = "event_id",
    close_col: str = "close",
    fast: int = 12,
    slow: int = 26,
    signal: int = 9,
) -> DataFrame:
    """MACD(fast, slow) + signal EMA + histogram.

    The signal line folds over ``collect_list(macd)`` — Spark's
    collect_list skips NULLs, so the fold consumes exactly the non-null
    MACD prefix (the oracle mirrors with ``list(macd) FILTER (macd IS NOT
    NULL)``), gated on ``count(macd) >= signal`` non-null observations.

    The fast and slow EMAs fold over ONE shared close-prefix column
    (r12 optimization round): Spark does not common-subexpression-
    eliminate identical window expressions, so two ``_gated_ema`` calls
    would materialize the O(history) ``collect_list`` array — the
    dominant per-row buffer cost — twice per row.  Same fold, same
    inputs: values are unchanged.
    """
    # pin window parallelism on small inputs (spread_by doc)
    df = spread_by(df, symbol_col)
    _, hist = _w(symbol_col, time_col, id_col)
    # fixed temp names would silently overwrite-and-drop a caller column
    # of the same name (advice r12) — refuse loudly instead
    for tmp in ("_close_n", "_close_hist"):
        if tmp in df.columns:
            raise ValueError(
                f"with_macd uses {tmp!r} as an internal temp column; "
                "rename the input column"
            )
    df = df.withColumn("_close_n", F.count(close_col).over(hist)).withColumn(
        "_close_hist", F.collect_list(close_col).over(hist)
    )

    def gated(span: int) -> Column:
        return F.when(
            F.col("_close_n") >= span,
            _ema_fold(F.col("_close_hist"), 2.0 / (span + 1.0)),
        )

    df = (
        df.withColumn(f"ema_{fast}", gated(fast))
        .withColumn(f"ema_{slow}", gated(slow))
        .withColumn("macd", F.col(f"ema_{fast}") - F.col(f"ema_{slow}"))
        .drop("_close_n", "_close_hist")
    )
    alpha = 2.0 / (signal + 1.0)
    df = df.withColumn(
        "macd_signal",
        F.when(
            F.count("macd").over(hist) >= signal,
            _ema_fold(F.collect_list("macd").over(hist), alpha),
        ),
    )
    return df.withColumn("macd_hist", F.col("macd") - F.col("macd_signal"))


def with_bollinger(
    df: DataFrame,
    symbol_col: str = "stock_symbol",
    time_col: str = "local_time",
    id_col: str = "event_id",
    close_col: str = "close",
    window: int = 20,
    k: float = 2.0,
) -> DataFrame:
    """Bollinger bands: SMA(window) +/- k * sample stddev, plus %B and
    bandwidth.  Degenerate flat windows (stddev 0) yield NULL %B via the
    nullif guard rather than a division blow-up."""
    # pin window parallelism on small inputs (spread_by doc)
    df = spread_by(df, symbol_col)
    w, _ = _w(symbol_col, time_col, id_col)
    frame = w.rowsBetween(-(window - 1), 0)
    full = F.count(close_col).over(frame) >= window
    mid = F.when(full, F.avg(close_col).over(frame))
    sd = F.when(full, F.stddev_samp(close_col).over(frame))
    df = (
        df.withColumn("bb_mid", mid)
        .withColumn("bb_sd", sd)
        .withColumn("bb_upper", F.col("bb_mid") + F.lit(k) * F.col("bb_sd"))
        .withColumn("bb_lower", F.col("bb_mid") - F.lit(k) * F.col("bb_sd"))
    )
    width = F.col("bb_upper") - F.col("bb_lower")
    return (
        df.withColumn(
            "bb_pct_b",
            (F.col(close_col) - F.col("bb_lower")) / F.nullif(width, F.lit(0.0)),
        )
        .withColumn("bb_bandwidth", width / F.nullif(F.col("bb_mid"), F.lit(0.0)))
        .drop("bb_sd")
    )


def with_stochastic(
    df: DataFrame,
    symbol_col: str = "stock_symbol",
    time_col: str = "local_time",
    id_col: str = "event_id",
    close_col: str = "close",
    k_window: int = 14,
    d_window: int = 3,
) -> DataFrame:
    """Stochastic oscillator on a close-only stream: %K over the trailing
    ``k_window`` closes, %D = SMA(d_window) of %K (gated on d_window
    non-null %K values)."""
    # pin window parallelism on small inputs (spread_by doc)
    df = spread_by(df, symbol_col)
    w, _ = _w(symbol_col, time_col, id_col)
    kf = w.rowsBetween(-(k_window - 1), 0)
    df_frame = w.rowsBetween(-(d_window - 1), 0)
    full = F.count(close_col).over(kf) >= k_window
    lo = F.when(full, F.min(close_col).over(kf))
    hi = F.when(full, F.max(close_col).over(kf))
    df = df.withColumn(
        "pct_k",
        F.lit(100.0) * (F.col(close_col) - lo) / F.nullif(hi - lo, F.lit(0.0)),
    )
    return df.withColumn(
        "pct_d",
        F.when(F.count("pct_k").over(df_frame) >= d_window, F.avg("pct_k").over(df_frame)),
    )


def with_vwap_obv(
    df: DataFrame,
    symbol_col: str = "stock_symbol",
    time_col: str = "local_time",
    id_col: str = "event_id",
    close_col: str = "close",
    volume_col: str = "volume",
) -> DataFrame:
    """Running VWAP and on-balance volume per symbol.

    OBV signs each bar's volume by the close-to-close delta (first bar and
    flat bars contribute 0 — the CASE falls through to the 0 branch on a
    NULL delta, matching the standard definition).
    """
    # pin window parallelism on small inputs (spread_by doc)
    df = spread_by(df, symbol_col)
    w, hist = _w(symbol_col, time_col, id_col)
    close, vol = F.col(close_col), F.col(volume_col)
    # the lag must be materialized before it can feed another window's
    # aggregate (Spark rejects nested window expressions)
    df = df.withColumn("__delta", close - F.lag(close, 1).over(w)).withColumn(
        "vwap",
        F.sum(close * vol).over(hist) / F.nullif(F.sum(vol).over(hist), F.lit(0.0)),
    )
    d = F.col("__delta")
    signed = F.when(d > 0, vol).when(d < 0, -vol).otherwise(F.lit(0.0))
    return df.withColumn("obv", F.sum(signed).over(hist)).drop("__delta")


def with_volatility(
    df: DataFrame,
    symbol_col: str = "stock_symbol",
    time_col: str = "local_time",
    id_col: str = "event_id",
    close_col: str = "close",
    window: int = 20,
    periods_per_year: int = TRADING_DAYS,
) -> DataFrame:
    """Log returns + rolling sample stddev of the last ``window`` returns,
    annualized.  Non-positive prices yield NULL returns (guarded ln)."""
    # pin window parallelism on small inputs (spread_by doc)
    df = spread_by(df, symbol_col)
    w, _ = _w(symbol_col, time_col, id_col)
    close = F.col(close_col)
    prev = F.lag(close, 1).over(w)
    log_ret = F.when((close > 0) & (prev > 0), F.log(close / prev))
    df = df.withColumn("log_return", log_ret)
    frame = w.rowsBetween(-(window - 1), 0)
    vol = F.when(
        F.count("log_return").over(frame) >= window,
        F.stddev_samp("log_return").over(frame),
    )
    # math.sqrt, not ** 0.5: correctly-rounded IEEE, bit-identical to
    # SQL sqrt() (the indicators_ta convention)
    ann = math.sqrt(float(periods_per_year))
    return df.withColumn("roll_vol", vol).withColumn(
        "ann_vol", F.col("roll_vol") * F.lit(ann)
    )


def ohlc_bars(
    df: DataFrame,
    symbol_col: str = "stock_symbol",
    time_col: str = "local_time",
    id_col: str = "event_id",
    close_col: str = "close",
    volume_col: str | None = "volume",
    bar: str = "minute",
) -> DataFrame:
    """Resample a tick stream to per-``bar`` OHLC(V) candles.

    open/close are the first/last tick by the composite ``(time, id)``
    key within the bar (deterministic under timestamp ties).

    Two physically different but value-identical forms (r12 optimization
    round, guide §2.3 "aggregate before you shuffle"):

    * ``volume_col is None`` (every TA bar family): ONE grouped aggregate
      with ``min_by``/``max_by`` keyed on ``struct(time, id)``.  All five
      aggregates (min_by/max/min/max_by/count) partial-combine map-side,
      so the (symbol, bucket) Exchange carries one bar per bucket per map
      partition instead of every tick — at the 100 TB target the shuffle
      shrinks by the ticks-per-bar ratio, and the per-tick window Sort of
      the old form disappears.  Selection-only aggregates move raw close
      values (no FP accumulation), so results are bit-identical to the
      window form; struct ordering is field-by-field with NULLs first,
      exactly the old ``ORDER BY time, id`` NULLS FIRST.  Equality is
      pinned by tests/test_indicators_ext.py::test_ohlc_grouped_matches_window_form.
    * with a DOUBLE volume column (r13): the SAME single grouped
      aggregate, with ``sum(volume)`` replaced by an order-pinned fold —
      ``aggregate(array_sort(collect_list(struct(time, id, volume))))``
      seeded NULL, skipping NULLs, adding in ascending (time, id) order.
      That is bit-for-bit the old window form's accumulation (rows
      arrived at the final aggregate sorted by the window's
      (symbol, bucket, time, id) sort and ``sum`` added them in
      encounter order), but the per-tick Sort + Window pass disappear
      and the exchange carries one partial buffer per bucket per map
      partition instead of whole tick rows.  The collect_list buffer is
      bounded by ticks-per-bar, the same per-group state the window sort
      held.  Equality is pinned by
      tests/test_indicators_ext.py::test_ohlc_volume_grouped_matches_window_form.
    * with a NON-double volume column (no registry caller): the original
      row_number/count window + conditional-max aggregate, preserving
      ``sum``'s engine-native result type (e.g. long for int volumes),
      which the double-typed fold would silently widen.
    """
    df = df.withColumn("bucket", F.date_trunc(bar, F.col(time_col)))
    key = F.struct(F.col(time_col), F.col(id_col))
    if volume_col is None:
        return df.groupBy(symbol_col, "bucket").agg(
            F.min_by(F.col(close_col), key).alias("open"),
            F.max(close_col).alias("high"),
            F.min(close_col).alias("low"),
            F.max_by(F.col(close_col), key).alias("close"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
    from pyspark.sql import types as T

    if isinstance(df.schema[volume_col].dataType, T.DoubleType):
        ticks = F.array_sort(
            F.collect_list(
                F.struct(
                    F.col(time_col).alias("t"),
                    F.col(id_col).alias("i"),
                    F.col(volume_col).alias("v"),
                )
            )
        )
        vol = F.aggregate(
            ticks,
            F.lit(None).cast("double"),
            # exactly Spark sum(): skip NULLs, seed with the first
            # non-NULL, then left-to-right addition in (time, id) order
            lambda acc, x: F.when(x["v"].isNull(), acc).otherwise(
                F.when(acc.isNull(), x["v"]).otherwise(acc + x["v"])
            ),
        )
        return df.groupBy(symbol_col, "bucket").agg(
            F.min_by(F.col(close_col), key).alias("open"),
            F.max(close_col).alias("high"),
            F.min(close_col).alias("low"),
            F.max_by(F.col(close_col), key).alias("close"),
            F.count(F.lit(1)).alias("n_ticks"),
            vol.alias("volume"),
        )
    w = Window.partitionBy(symbol_col, "bucket").orderBy(time_col, id_col)
    part = Window.partitionBy(symbol_col, "bucket")
    df = df.withColumn("rn", F.row_number().over(w)).withColumn(
        "cnt", F.count(F.lit(1)).over(part)
    )
    return df.groupBy(symbol_col, "bucket").agg(
        F.max(F.when(F.col("rn") == 1, F.col(close_col))).alias("open"),
        F.max(close_col).alias("high"),
        F.min(close_col).alias("low"),
        F.max(F.when(F.col("rn") == F.col("cnt"), F.col(close_col))).alias("close"),
        F.count(F.lit(1)).alias("n_ticks"),
        F.sum(volume_col).alias("volume"),
    )


def rolling_corr(
    bars_x: DataFrame,
    bars_y: DataFrame,
    time_col: str = "bucket",
    close_col: str = "close",
    window: int = 20,
) -> DataFrame:
    """Rolling Pearson correlation between two aligned close series.

    Inner-joins the two bar frames on ``time_col`` and computes the
    textbook sums formulation over the trailing ``window`` bars:

      corr = (n*Sxy - Sx*Sy) / (sqrt(n*Sxx - Sx^2) * sqrt(n*Syy - Sy^2))

    The explicit-sums form (not the builtin ``corr``) keeps both engines
    on the identical FP expression — Spark's and DuckDB's native corr use
    different co-moment recurrences.  Degenerate windows (either side
    constant) yield NULL via the nullif guard.

    SCOPE: one aligned pair — the window is deliberately global
    (unpartitioned) because the output IS one series; fine for the
    single-pair contract, but do not feed many pairs through it.  For a
    correlation matrix use :func:`rolling_corr_pairs`, whose window is
    keyed on the pair.
    """
    x = bars_x.select(time_col, F.col(close_col).alias("x"))
    y = bars_y.select(time_col, F.col(close_col).alias("y"))
    j = x.join(y, time_col)
    w = Window.orderBy(time_col).rowsBetween(-(window - 1), 0)
    # PAIRWISE null gate: a row where either side is NULL must vanish
    # from EVERY sum and the count — gating on count(x) alone mixes a
    # 19-row Sy with a 20-row Sxx and emits a plausible wrong corr
    # (rolling_beta / pairs_spread_z already defend this way); output
    # x/y stay raw, only the window inputs are shadowed
    both = F.col("x").isNotNull() & F.col("y").isNotNull()
    xv, yv = F.when(both, F.col("x")), F.when(both, F.col("y"))
    n = F.count(xv).over(w)
    sx, sy = F.sum(xv).over(w), F.sum(yv).over(w)
    sxx = F.sum(xv * xv).over(w)
    syy = F.sum(yv * yv).over(w)
    sxy = F.sum(xv * yv).over(w)
    num = n * sxy - sx * sy
    den = F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    return j.withColumn(
        "corr",
        F.when(n >= window, num / F.nullif(den, F.lit(0.0))),
    )


def rolling_corr_pairs(
    bars: DataFrame,
    symbol_col: str = "stock_symbol",
    time_col: str = "bucket",
    close_col: str = "close",
    window: int = 20,
) -> DataFrame:
    """Rolling Pearson correlation for EVERY symbol pair — the
    correlation-matrix generalization of :func:`rolling_corr` (which
    serves the single-pair contract and therefore lives on one global
    window).

    Pairs come from a self-join of the bar frame on ``time_col`` with
    ``sym_x < sym_y`` (each unordered pair once); the rolling window is
    PARTITIONED BY the pair, so at scale every pair's series sorts and
    folds on its own reducer — no global single-reducer sort anywhere.
    The explicit-sums formulation and NULL/degenerate-window semantics
    are identical to :func:`rolling_corr`.

    Scale: the time-equi-join shuffles on ``time_col``; the window
    shuffles on the pair key.  Output is |pairs| x |buckets| — for a
    universe of S symbols that is S²/2 series, which is the point: the
    work is embarrassingly parallel over pairs, bounded per-reducer by
    one series' length.
    """
    x = bars.select(
        F.col(symbol_col).alias("sym_x"), time_col, F.col(close_col).alias("x")
    )
    y = bars.select(
        F.col(symbol_col).alias("sym_y"), time_col, F.col(close_col).alias("y")
    )
    j = x.join(y, time_col).filter(F.col("sym_x") < F.col("sym_y"))
    w = (
        Window.partitionBy("sym_x", "sym_y")
        .orderBy(time_col)
        .rowsBetween(-(window - 1), 0)
    )
    # pairwise null gate — same rationale as rolling_corr
    both = F.col("x").isNotNull() & F.col("y").isNotNull()
    xv, yv = F.when(both, F.col("x")), F.when(both, F.col("y"))
    n = F.count(xv).over(w)
    sx, sy = F.sum(xv).over(w), F.sum(yv).over(w)
    sxx = F.sum(xv * xv).over(w)
    syy = F.sum(yv * yv).over(w)
    sxy = F.sum(xv * yv).over(w)
    num = n * sxy - sx * sy
    den = F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    return j.withColumn(
        "corr",
        F.when(n >= window, num / F.nullif(den, F.lit(0.0))),
    )


def with_drawdown(
    df: DataFrame,
    symbol_col: str = "stock_symbol",
    time_col: str = "local_time",
    id_col: str = "event_id",
    close_col: str = "close",
) -> DataFrame:
    """Per-row drawdown curve: close / running-max(close) - 1 (<= 0).
    ``min(drawdown)`` per symbol is the maximum drawdown."""
    # pin window parallelism on small inputs (spread_by doc)
    df = spread_by(df, symbol_col)
    _, hist = _w(symbol_col, time_col, id_col)
    run_max = F.max(close_col).over(hist)
    return df.withColumn("run_max", run_max).withColumn(
        "drawdown", F.col(close_col) / F.nullif(run_max, F.lit(0.0)) - F.lit(1.0)
    )


def with_atr_keltner(
    bars: DataFrame,
    symbol_col: str = "stock_symbol",
    time_col: str = "bucket",
    n_atr: int = 14,
    n_ema: int = 20,
    mult: float = 2.0,
) -> DataFrame:
    """Wilder ATR + Keltner channels over OHLC bars.

    True range folds the gap against the prior close:
    ``tr = greatest(high-low, |high-prev_close|, |low-prev_close|)``
    (first bar: plain ``high-low``).  ATR is Wilder smoothing — the
    RMA recursion ``atr = prev*(1-1/n) + tr/n`` — implemented with the
    engine's standard EMA fold (``ewm(alpha=1/n, adjust=False)``
    seeding: first observation seeds the recursion) and gated NULL
    until ``n_atr`` bars.  Keltner mid is the gated EMA(n_ema) of
    close; the band half-width is ``mult * atr``.

    Scale: one window family keyed on the symbol — a single Exchange
    shared by the lag, the fold and the EMA; per-reducer work bounded
    by one symbol's bar count (bars, not ticks — the OHLC resample
    upstream has already collapsed tick volume).
    """
    # pin window parallelism on small inputs (spread_by doc)
    bars = spread_by(bars, symbol_col)
    w = Window.partitionBy(symbol_col).orderBy(time_col)
    hist = w.rowsBetween(Window.unboundedPreceding, 0)
    prev = F.lag("close", 1).over(w)
    tr = F.when(prev.isNull(), F.col("high") - F.col("low")).otherwise(
        F.greatest(
            F.col("high") - F.col("low"),
            F.abs(F.col("high") - prev),
            F.abs(F.col("low") - prev),
        )
    )
    bars = bars.withColumn("tr", tr)
    alpha = 1.0 / n_atr
    atr = F.when(
        F.count("tr").over(hist) >= n_atr,
        _ema_fold(F.collect_list("tr").over(hist), alpha),
    )
    bars = bars.withColumn("atr", atr)
    mid = F.when(
        F.count("close").over(hist) >= n_ema,
        _ema_fold(F.collect_list("close").over(hist), 2.0 / (n_ema + 1.0)),
    )
    return (
        bars.withColumn("kc_mid", mid)
        .withColumn("kc_upper", F.col("kc_mid") + F.lit(mult) * F.col("atr"))
        .withColumn("kc_lower", F.col("kc_mid") - F.lit(mult) * F.col("atr"))
    )


def rolling_beta(
    bars: DataFrame,
    benchmark_symbol: str,
    symbol_col: str = "stock_symbol",
    time_col: str = "bucket",
    close_col: str = "close",
    window: int = 20,
    bench_bars: DataFrame | None = None,
) -> DataFrame:
    """Rolling CAPM beta/alpha of every symbol against one benchmark.

    Simple returns ``close/prev - 1`` per side (symbol windows keyed on
    the symbol; the benchmark series is computed once), equi-joined on
    the bar bucket, then the explicit-sums regression over the trailing
    ``window`` aligned return pairs:

      beta  = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2)      (x = benchmark)
      alpha = (Sy - beta*Sx) / n

    NULL until ``window`` pairs; degenerate (constant-benchmark)
    windows NULL via the nullif guard.  Explicit sums — not the builtin
    ``covar``/``regr_slope`` — keep Spark and DuckDB on the identical
    FP expression.

    Scale: the benchmark side is one series (broadcastable); the join
    shuffles symbols on ``time_col`` once and the rolling window re-keys
    on the symbol — per-reducer state is one symbol's bar history.

    Pass ``bench_bars`` (the benchmark's own bar frame, typically from
    a symbol-pushed scan) to keep the benchmark branch off the
    all-symbol plan: without it, deriving the 1-symbol series by
    filtering ``bars`` forces the full OHLC resample to run twice (the
    10x audit measured 14 s vs 4 s at sf1x for exactly this reason).
    """
    w = Window.partitionBy(symbol_col).orderBy(time_col)

    def with_ret(df: DataFrame) -> DataFrame:
        return df.withColumn(
            "ret",
            F.col(close_col) / F.nullif(F.lag(close_col, 1).over(w), F.lit(0.0))
            - 1.0,
        )

    if bench_bars is None:
        bench_bars = bars.filter(F.col(symbol_col) == benchmark_symbol)
    bench = with_ret(bench_bars).select(time_col, F.col("ret").alias("x"))
    syms = with_ret(
        bars.filter(F.col(symbol_col) != benchmark_symbol)
    ).select(symbol_col, time_col, F.col("ret").alias("y"))
    j = syms.join(F.broadcast(bench), time_col).filter(
        F.col("x").isNotNull() & F.col("y").isNotNull()
    )
    wr = (
        Window.partitionBy(symbol_col)
        .orderBy(time_col)
        .rowsBetween(-(window - 1), 0)
    )
    n = F.count("x").over(wr)
    sx, sy = F.sum("x").over(wr), F.sum("y").over(wr)
    sxx = F.sum(F.col("x") * F.col("x")).over(wr)
    sxy = F.sum(F.col("x") * F.col("y")).over(wr)
    beta = F.when(
        n >= window, (n * sxy - sx * sy) / F.nullif(n * sxx - sx * sx, F.lit(0.0))
    )
    j = j.withColumn("beta", beta)
    return j.withColumn(
        "alpha", (sy - F.col("beta") * sx) / F.when(n >= window, n)
    )


def pairs_spread_z(
    bars: DataFrame,
    symbol_col: str = "stock_symbol",
    time_col: str = "bucket",
    close_col: str = "close",
    window: int = 20,
) -> DataFrame:
    """Pairs-trading signal: rolling z-score of the log price spread for
    every symbol pair.

    ``spread = ln(x) - ln(y)`` (guarded positive prices) over the
    time-aligned self-join with ``sym_x < sym_y``; z-score against the
    trailing ``window`` bars' mean/sample-stddev of the spread, NULL
    until the window fills and on zero-variance windows.

    Scale: identical shape to :func:`rolling_corr_pairs` — the
    equi-join shuffles on ``time_col``, the window re-keys on the pair,
    so the S^2/2 spread series fold in parallel, one pair per reducer
    slot, per-reducer state bounded by one series.
    """
    x = bars.select(
        F.col(symbol_col).alias("sym_x"), time_col, F.col(close_col).alias("x")
    )
    y = bars.select(
        F.col(symbol_col).alias("sym_y"), time_col, F.col(close_col).alias("y")
    )
    j = x.join(y, time_col).filter(F.col("sym_x") < F.col("sym_y"))
    spread = F.when(
        (F.col("x") > 0) & (F.col("y") > 0), F.log("x") - F.log("y")
    )
    j = j.withColumn("spread", spread)
    w = (
        Window.partitionBy("sym_x", "sym_y")
        .orderBy(time_col)
        .rowsBetween(-(window - 1), 0)
    )
    full = F.count("spread").over(w) >= window
    mu = F.when(full, F.avg("spread").over(w))
    sd = F.when(full, F.stddev_samp("spread").over(w))
    return j.withColumn("spread_mu", mu).withColumn(
        "spread_z", (F.col("spread") - mu) / F.nullif(sd, F.lit(0.0))
    )
