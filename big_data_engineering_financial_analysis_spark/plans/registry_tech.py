"""Registry: extended technical-indicator queries + DuckDB oracles.

Widens the reference's indicator surface (consumer.py:107-155 computes
SMA/EMA/RSI/signal only) with the rest of the standard financial toolkit —
MACD, Bollinger bands, stochastic oscillator, VWAP, OBV, rolling
volatility, drawdown — over the same events-as-candles mapping as
``plans/registry.py`` (user_id -> symbol, ts -> time, value -> close;
volume parsed from the JSON ``props.k`` field, exercising the engine's
JSON-decode scalar path in a batch plan).

All windows order by ``(local_time, event_id)`` — deterministic under
timestamp ties, unlike bare time ordering — and every derived double is
rounded to 6 dp on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from big_data_engineering_financial_analysis_spark.functions import indicators_ext as ix
from big_data_engineering_financial_analysis_spark.sources.parquet import load_table

#: Shared candle mapping with a JSON-parsed volume column.
_CANDLES_CTE = """
WITH candles AS (
  SELECT event_id, CAST(user_id AS VARCHAR) AS stock_symbol,
         ts AS local_time, value AS close,
         CAST(json_extract_string(props, '$.k') AS DOUBLE) AS volume
  FROM events
)
"""

_WH = (
    "PARTITION BY stock_symbol ORDER BY local_time, event_id "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
)


def _candles(
    spark: SparkSession, sf_dir: str, symbols: list[int] | None = None
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    if symbols is not None:
        # prune on the native int column so the predicate reaches the scan
        ev = ev.filter(F.col("user_id").isin(symbols))
    return ev.select(
        F.col("event_id"),
        F.col("user_id").cast("string").alias("stock_symbol"),
        F.col("ts").alias("local_time"),
        F.col("value").alias("close"),
        F.get_json_object("props", "$.k").cast("double").alias("volume"),
    )


def _round6(df: DataFrame, cols: list[str]) -> DataFrame:
    for c in cols:
        df = df.withColumn(c, F.round(F.col(c), 6))
    return df


_KEY = ["event_id", "stock_symbol", "local_time", "close"]


def q_macd(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = ix.with_macd(_candles(spark, sf_dir).drop("volume"))
    cols = ["ema_12", "ema_26", "macd", "macd_signal", "macd_hist"]
    return _round6(out.select(*_KEY, *cols), cols)


def q_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = ix.with_bollinger(_candles(spark, sf_dir).drop("volume"))
    cols = ["bb_mid", "bb_upper", "bb_lower", "bb_pct_b", "bb_bandwidth"]
    return _round6(out.select(*_KEY, *cols), cols)


def q_stochastic(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = ix.with_stochastic(_candles(spark, sf_dir).drop("volume"))
    cols = ["pct_k", "pct_d"]
    return _round6(out.select(*_KEY, *cols), cols)


def q_vwap_obv(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = ix.with_vwap_obv(_candles(spark, sf_dir))
    cols = ["vwap", "obv"]
    return _round6(out.select(*_KEY, "volume", *cols), cols)


def q_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = ix.with_volatility(_candles(spark, sf_dir).drop("volume"))
    cols = ["log_return", "roll_vol", "ann_vol"]
    return _round6(out.select(*_KEY, *cols), cols)


def q_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    curve = ix.with_drawdown(_candles(spark, sf_dir).drop("volume"))
    return curve.groupBy("stock_symbol").agg(
        F.round(F.min("drawdown"), 6).alias("max_drawdown"),
        F.round(F.max("close"), 6).alias("peak_close"),
        F.count(F.lit(1)).alias("n"),
    )


def q_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ix.ohlc_bars(_candles(spark, sf_dir))


#: Symbol universe for the correlation-matrix query (15 pairs).
CORR_PAIR_SYMBOLS = [3, 7, 11, 23, 42, 57]


def q_rolling_corr_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs rolling correlation — the correlation-matrix shape.
    Unlike the single-pair ``ix.rolling_corr`` (global window by contract),
    every window here is PARTITIONED BY (sym_x, sym_y), so pairs
    parallelize across reducers."""
    bars = ix.ohlc_bars(
        _candles(spark, sf_dir, symbols=CORR_PAIR_SYMBOLS),
        volume_col=None,
        bar="day",
    )
    out = ix.rolling_corr_pairs(bars, window=10)
    return out.select(
        "sym_x", "sym_y", "bucket", "x", "y", F.round("corr", 6).alias("corr")
    )


def q_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ranking-window family in one pass: rank / dense_rank /
    percent_rank / cume_dist are peer-based (deterministic under close
    ties); ntile depends on row order, so it ranks over the unique
    (close, event_id) key.  One Exchange on symbol; two sort orders."""
    from pyspark.sql import Window

    c = _candles(spark, sf_dir).drop("volume")
    w_peer = Window.partitionBy("stock_symbol").orderBy("close")
    w_uniq = Window.partitionBy("stock_symbol").orderBy("close", "event_id")
    return c.select(
        "event_id",
        "stock_symbol",
        "close",
        F.rank().over(w_peer).alias("rnk"),
        F.dense_rank().over(w_peer).alias("drnk"),
        F.round(F.percent_rank().over(w_peer), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w_peer), 6).alias("cume"),
        F.ntile(4).over(w_uniq).alias("quartile"),
    )


def q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score spike detection per symbol: |close - mean_20| >
    3 * stddev_20 over the trailing window EXCLUDING the current row (a
    self-inclusive window dilutes the spike it is testing).  The anomaly
    rule every monitoring pipeline starts from; same one-Exchange window
    family as the indicators."""
    from pyspark.sql import Window

    c = _candles(spark, sf_dir).drop("volume")
    w = Window.partitionBy("stock_symbol").orderBy("local_time", "event_id")
    prior = w.rowsBetween(-20, -1)
    full = F.count("close").over(prior) >= 20
    mu = F.when(full, F.avg("close").over(prior))
    sd = F.when(full, F.stddev_samp("close").over(prior))
    z = (F.col("close") - mu) / F.nullif(sd, F.lit(0.0))
    out = (
        c.withColumn("zscore", F.round(z, 6))
        .withColumn(
            "is_anomaly",
            F.when(z.isNotNull(), (F.abs(z) > 3.0).cast("int")),
        )
    )
    return out.select(*_KEY, "zscore", "is_anomaly")


def q_robust_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD (robust) anomaly flags: modified z-score 0.6745 *
    (close - median_20) / MAD_20 over the PRIOR 20 rows, |z| > 3.5
    (Iglewicz-Hoaglin).  Spark has no framed-window median, so the window
    collects a sorted array and the median/MAD are row-local array
    expressions — exact, engine-mirrorable, and immune to the mean/stddev
    masking that motivates robust statistics in the first place."""
    from pyspark.sql import Window

    c = _candles(spark, sf_dir).drop("volume")
    w = Window.partitionBy("stock_symbol").orderBy("local_time", "event_id")
    prior = w.rowsBetween(-20, -1)

    def arr_median(arr):
        n = F.size(arr)
        odd = F.element_at(arr, ((n + 1) / 2).cast("int"))
        even = (
            F.element_at(arr, (n / 2).cast("int"))
            + F.element_at(arr, (n / 2 + 1).cast("int"))
        ) / 2.0
        return F.when(n % 2 == 1, odd).otherwise(even)

    c = c.withColumn(
        "__arr",
        F.when(
            F.count("close").over(prior) >= 20,
            F.array_sort(F.collect_list("close").over(prior)),
        ),
    )
    med = arr_median(F.col("__arr"))
    c = c.withColumn("med", med).withColumn(
        "mad",
        arr_median(
            F.array_sort(
                F.transform(F.col("__arr"), lambda x: F.abs(x - F.col("med")))
            )
        ),
    )
    z = F.lit(0.6745) * (F.col("close") - F.col("med")) / F.nullif(
        F.col("mad"), F.lit(0.0)
    )
    out = (
        c.withColumn("robust_z", F.round(z, 6))
        .withColumn(
            "is_anomaly", F.when(z.isNotNull(), (F.abs(z) > 3.5).cast("int"))
        )
    )
    return out.select(
        *_KEY, F.round("med", 6).alias("med"), F.round("mad", 6).alias("mad"),
        "robust_z", "is_anomaly",
    )


QUERIES = {
    "macd_12_26": q_macd,
    "rank_functions": q_rank_functions,
    "anomaly_zscore": q_anomaly_zscore,
    "robust_anomaly": q_robust_anomaly,
    "ohlc_bars": q_ohlc_bars,
    "rolling_corr_pairs": q_rolling_corr_pairs,
    "bollinger_20": q_bollinger,
    "stochastic_14": q_stochastic,
    "vwap_obv": q_vwap_obv,
    "volatility_20": q_volatility,
    "max_drawdown": q_max_drawdown,
}

#: Shared OHLC resample CTE chain (row_number / cnt formulation — the
#: composite (time, id) selection key DuckDB's arg_min cannot express).
_OHLC_CTE = """,
b1 AS (
  SELECT candles.*, date_trunc('minute', local_time) AS bucket FROM candles
),
b2 AS (
  SELECT b1.*,
    row_number() OVER (PARTITION BY stock_symbol, bucket
                       ORDER BY local_time, event_id) AS rn,
    count(*) OVER (PARTITION BY stock_symbol, bucket) AS cnt
  FROM b1
),
bars AS (
  SELECT stock_symbol, bucket,
         max(CASE WHEN rn = 1 THEN close END) AS open,
         max(close) AS high, min(close) AS low,
         max(CASE WHEN rn = cnt THEN close END) AS close,
         count(*) AS n_ticks, sum(volume) AS volume
  FROM b2 GROUP BY stock_symbol, bucket
)
"""

ORACLES: dict[str, str] = {
    "robust_anomaly": _CANDLES_CTE
    + """,
r1 AS (
  SELECT candles.* EXCLUDE (volume),
    CASE WHEN count(close) OVER wp >= 20
         THEN list_sort(list(close) OVER wp) END AS arr
  FROM candles
  WINDOW wp AS (PARTITION BY stock_symbol ORDER BY local_time, event_id
                ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
),
r2 AS (
  SELECT r1.*,
    CASE WHEN len(arr) % 2 = 1 THEN arr[CAST((len(arr) + 1) / 2 AS INT)]
         ELSE (arr[CAST(len(arr) / 2 AS INT)]
               + arr[CAST(len(arr) / 2 + 1 AS INT)]) / 2.0 END AS med
  FROM r1
),
r3 AS (
  SELECT r2.*, list_sort(list_transform(arr, x -> abs(x - med))) AS dev
  FROM r2
),
r4 AS (
  SELECT r3.*,
    CASE WHEN len(dev) % 2 = 1 THEN dev[CAST((len(dev) + 1) / 2 AS INT)]
         ELSE (dev[CAST(len(dev) / 2 AS INT)]
               + dev[CAST(len(dev) / 2 + 1 AS INT)]) / 2.0 END AS mad
  FROM r3
),
r5 AS (
  SELECT r4.*, 0.6745 * (close - med) / nullif(mad, 0.0) AS z FROM r4
)
SELECT event_id, stock_symbol, local_time, close,
       round(med, 6) AS med, round(mad, 6) AS mad,
       round(z, 6) AS robust_z,
       CASE WHEN z IS NOT NULL THEN CAST(abs(z) > 3.5 AS INT) END AS is_anomaly
FROM r5
""",

    "anomaly_zscore": _CANDLES_CTE
    + """,
a1 AS (
  SELECT candles.* EXCLUDE (volume),
    CASE WHEN count(close) OVER wp >= 20 THEN avg(close) OVER wp END AS mu,
    CASE WHEN count(close) OVER wp >= 20 THEN stddev_samp(close) OVER wp END AS sd
  FROM candles
  WINDOW wp AS (PARTITION BY stock_symbol ORDER BY local_time, event_id
                ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
),
a2 AS (SELECT a1.*, (close - mu) / nullif(sd, 0) AS z FROM a1)
SELECT event_id, stock_symbol, local_time, close,
       round(z, 6) AS zscore,
       CASE WHEN z IS NOT NULL THEN CAST(abs(z) > 3.0 AS INT) END AS is_anomaly
FROM a2
""",

    "rank_functions": _CANDLES_CTE
    + """
SELECT event_id, stock_symbol, close,
       rank() OVER wp AS rnk,
       dense_rank() OVER wp AS drnk,
       round(percent_rank() OVER wp, 6) AS pct_rank,
       round(cume_dist() OVER wp, 6) AS cume,
       ntile(4) OVER wu AS quartile
FROM candles
WINDOW wp AS (PARTITION BY stock_symbol ORDER BY close),
       wu AS (PARTITION BY stock_symbol ORDER BY close, event_id)
""",
    "ohlc_bars": _CANDLES_CTE
    + _OHLC_CTE
    + """
SELECT stock_symbol, bucket, open, high, low, close, n_ticks, volume
FROM bars
""",
    "rolling_corr_pairs": _CANDLES_CTE.replace(
        "FROM events", "FROM events WHERE user_id IN (3, 7, 11, 23, 42, 57)"
    )
    + _OHLC_CTE.replace("date_trunc('minute'", "date_trunc('day'")
    + """,
j AS (
  SELECT a.stock_symbol AS sym_x, b.stock_symbol AS sym_y,
         a.bucket, a.close AS x, b.close AS y,
         CASE WHEN a.close IS NULL OR b.close IS NULL THEN NULL ELSE a.close END AS xv,
         CASE WHEN a.close IS NULL OR b.close IS NULL THEN NULL ELSE b.close END AS yv
  FROM bars a JOIN bars b USING (bucket)
  WHERE a.stock_symbol < b.stock_symbol
),
c AS (
  SELECT sym_x, sym_y, bucket, x, y,
    count(xv) OVER w AS n, sum(xv) OVER w AS sx, sum(yv) OVER w AS sy,
    sum(xv * xv) OVER w AS sxx, sum(yv * yv) OVER w AS syy,
    sum(xv * yv) OVER w AS sxy
  FROM j
  WINDOW w AS (PARTITION BY sym_x, sym_y ORDER BY bucket
               ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
)
SELECT sym_x, sym_y, bucket, x, y,
  round(CASE WHEN n >= 10 THEN
    (n * sxy - sx * sy)
      / nullif(sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy), 0)
  END, 6) AS corr
FROM c
""",
    "macd_12_26": _CANDLES_CTE
    + f""",
m1 AS (
  SELECT candles.* EXCLUDE (volume),
    CASE WHEN count(close) OVER wh >= 12 THEN
      list_reduce(list(close) OVER wh,
                  (acc, x) -> acc * (1.0 - 2.0 / 13.0) + x * (2.0 / 13.0))
    END AS ema_12,
    CASE WHEN count(close) OVER wh >= 26 THEN
      list_reduce(list(close) OVER wh,
                  (acc, x) -> acc * (1.0 - 2.0 / 27.0) + x * (2.0 / 27.0))
    END AS ema_26
  FROM candles WINDOW wh AS ({_WH})
),
m2 AS (SELECT m1.*, ema_12 - ema_26 AS macd FROM m1),
m3 AS (
  SELECT m2.*,
    CASE WHEN count(macd) OVER wh >= 9 THEN
      list_reduce(list(macd) FILTER (macd IS NOT NULL) OVER wh,
                  (acc, x) -> acc * (1.0 - 2.0 / 10.0) + x * (2.0 / 10.0))
    END AS macd_signal
  FROM m2 WINDOW wh AS ({_WH})
)
SELECT event_id, stock_symbol, local_time, close,
       round(ema_12, 6) AS ema_12, round(ema_26, 6) AS ema_26,
       round(macd, 6) AS macd, round(macd_signal, 6) AS macd_signal,
       round(macd - macd_signal, 6) AS macd_hist
FROM m3
""",
    "bollinger_20": _CANDLES_CTE
    + """,
b1 AS (
  SELECT candles.* EXCLUDE (volume),
    CASE WHEN count(close) OVER w20 >= 20 THEN avg(close) OVER w20 END AS bb_mid,
    CASE WHEN count(close) OVER w20 >= 20 THEN stddev_samp(close) OVER w20 END AS bb_sd
  FROM candles
  WINDOW w20 AS (PARTITION BY stock_symbol ORDER BY local_time, event_id
                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
),
b2 AS (
  SELECT b1.*, bb_mid + 2.0 * bb_sd AS bb_upper, bb_mid - 2.0 * bb_sd AS bb_lower
  FROM b1
)
SELECT event_id, stock_symbol, local_time, close,
       round(bb_mid, 6) AS bb_mid,
       round(bb_upper, 6) AS bb_upper,
       round(bb_lower, 6) AS bb_lower,
       round((close - bb_lower) / nullif(bb_upper - bb_lower, 0), 6) AS bb_pct_b,
       round((bb_upper - bb_lower) / nullif(bb_mid, 0), 6) AS bb_bandwidth
FROM b2
""",
    "stochastic_14": _CANDLES_CTE
    + """,
s1 AS (
  SELECT candles.* EXCLUDE (volume),
    100.0 * (close - CASE WHEN count(close) OVER w14 >= 14 THEN min(close) OVER w14 END)
      / nullif(CASE WHEN count(close) OVER w14 >= 14 THEN max(close) OVER w14 END
               - CASE WHEN count(close) OVER w14 >= 14 THEN min(close) OVER w14 END, 0)
      AS pct_k
  FROM candles
  WINDOW w14 AS (PARTITION BY stock_symbol ORDER BY local_time, event_id
                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
)
SELECT event_id, stock_symbol, local_time, close,
       round(pct_k, 6) AS pct_k,
       round(CASE WHEN count(pct_k) OVER w3 >= 3 THEN avg(pct_k) OVER w3 END, 6) AS pct_d
FROM s1
WINDOW w3 AS (PARTITION BY stock_symbol ORDER BY local_time, event_id
              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
""",
    "vwap_obv": _CANDLES_CTE
    + f""",
v1 AS (
  SELECT candles.*,
    close - lag(close) OVER (PARTITION BY stock_symbol
                             ORDER BY local_time, event_id) AS delta
  FROM candles
)
SELECT event_id, stock_symbol, local_time, close, volume,
       -- sequential left fold, not SUM() OVER: Spark's unbounded-preceding
       -- frame accumulates row-by-row in sort order while DuckDB's windowed
       -- SUM may tree-aggregate — the ulp difference flips 6-dp rounding on
       -- ~1e-4 of rows.  The fold reproduces Spark's FP addition order.
       -- FILTER mirrors Spark's NULL-skipping sum: one NULL volume would
       -- otherwise NULL-poison the fold for every subsequent row
       -- the CASE guards list_reduce against an empty list (DuckDB errors
       -- on one), which happens when a symbol's leading tick(s) all have
       -- NULL volume; Spark's sum over an all-NULL frame is NULL, and so
       -- is the guarded expression
       round(CASE WHEN count(close * volume) OVER wh > 0
                  THEN list_reduce(list(close * volume)
                                     FILTER (close * volume IS NOT NULL) OVER wh,
                                   (a, x) -> a + x)
             END
             / nullif(sum(volume) OVER wh, 0), 6) AS vwap,
       round(sum(CASE WHEN delta > 0 THEN volume
                      WHEN delta < 0 THEN -volume
                      ELSE 0.0 END) OVER wh, 6) AS obv
FROM v1 WINDOW wh AS ({_WH})
""",
    "volatility_20": _CANDLES_CTE
    + """,
r1 AS (
  SELECT candles.* EXCLUDE (volume),
    CASE WHEN close > 0 AND lag(close) OVER w > 0
         THEN ln(close / lag(close) OVER w) END AS log_return
  FROM candles
  WINDOW w AS (PARTITION BY stock_symbol ORDER BY local_time, event_id)
),
r2 AS (
  SELECT r1.*,
    CASE WHEN count(log_return) OVER w20 >= 20
         THEN stddev_samp(log_return) OVER w20 END AS roll_vol
  FROM r1
  WINDOW w20 AS (PARTITION BY stock_symbol ORDER BY local_time, event_id
                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
)
SELECT event_id, stock_symbol, local_time, close,
       round(log_return, 6) AS log_return,
       round(roll_vol, 6) AS roll_vol,
       round(roll_vol * sqrt(252.0), 6) AS ann_vol
FROM r2
""",
    "max_drawdown": _CANDLES_CTE
    + f""",
d1 AS (
  SELECT stock_symbol, close,
         close / nullif(max(close) OVER wh, 0) - 1.0 AS drawdown
  FROM candles WINDOW wh AS ({_WH})
)
SELECT stock_symbol,
       round(min(drawdown), 6) AS max_drawdown,
       round(max(close), 6) AS peak_close,
       count(*) AS n
FROM d1 GROUP BY stock_symbol
""",
}


# ---------------------------------------------------------------------------
# round-5 additions: ATR/Keltner, CAPM beta, pairs spread z-score
# ---------------------------------------------------------------------------

#: Benchmark symbol for the CAPM beta query.
BETA_BENCHMARK = 42


def q_atr_keltner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilder ATR(14) + Keltner(EMA20, 2*ATR) over daily OHLC bars for
    the whole symbol universe — linear in symbols, one window Exchange."""
    bars = ix.ohlc_bars(
        _candles(spark, sf_dir).drop("volume"), volume_col=None, bar="day"
    )
    out = ix.with_atr_keltner(bars, time_col="bucket")
    cols = ["tr", "atr", "kc_mid", "kc_upper", "kc_lower"]
    return _round6(
        out.select("stock_symbol", "bucket", "close", *cols), cols + ["close"]
    )


def q_beta_capm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling CAPM beta/alpha of every symbol vs the benchmark symbol
    over daily simple returns; the benchmark series is broadcast AND
    scanned separately with the symbol predicate pushed to parquet, so
    the all-symbol OHLC resample runs once, not twice."""
    bars = ix.ohlc_bars(
        _candles(spark, sf_dir).drop("volume"), volume_col=None, bar="day"
    )
    bench_bars = ix.ohlc_bars(
        _candles(spark, sf_dir, symbols=[BETA_BENCHMARK]).drop("volume"),
        volume_col=None,
        bar="day",
    )
    out = ix.rolling_beta(
        bars, str(BETA_BENCHMARK), window=10, bench_bars=bench_bars
    )
    return out.select(
        "stock_symbol",
        "bucket",
        F.round("x", 6).alias("x"),
        F.round("y", 6).alias("y"),
        F.round("beta", 6).alias("beta"),
        F.round("alpha", 6).alias("alpha"),
    )


def q_pairs_spread_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score of the log price spread for every pair in the
    correlation universe — the stat-arb entry signal; windows keyed on
    the pair like ``rolling_corr_pairs``."""
    bars = ix.ohlc_bars(
        _candles(spark, sf_dir, symbols=CORR_PAIR_SYMBOLS),
        volume_col=None,
        bar="day",
    )
    out = ix.pairs_spread_z(bars, window=10)
    return out.select(
        "sym_x",
        "sym_y",
        "bucket",
        F.round("spread", 6).alias("spread"),
        F.round("spread_mu", 6).alias("spread_mu"),
        F.round("spread_z", 6).alias("spread_z"),
    )


_OHLC_DAY = _OHLC_CTE.replace("date_trunc('minute'", "date_trunc('day'")

QUERIES.update(
    {
        "atr_keltner": q_atr_keltner,
        "beta_capm": q_beta_capm,
        "pairs_spread_z": q_pairs_spread_z,
    }
)

ORACLES.update(
    {
        "atr_keltner": _CANDLES_CTE
        + _OHLC_DAY
        + """,
k1 AS (
  SELECT stock_symbol, bucket, high, low, close,
         lag(close) OVER (PARTITION BY stock_symbol ORDER BY bucket)
           AS prev_close
  FROM bars
),
k2 AS (
  SELECT k1.*,
    CASE WHEN prev_close IS NULL THEN high - low
         ELSE greatest(high - low, abs(high - prev_close),
                       abs(low - prev_close)) END AS tr
  FROM k1
),
k3 AS (
  SELECT stock_symbol, bucket, close, tr,
    CASE WHEN count(tr) OVER wh >= 14 THEN
      list_reduce(list(tr) OVER wh,
                  (acc, x) -> acc * (1.0 - 1.0 / 14.0) + x * (1.0 / 14.0))
    END AS atr,
    CASE WHEN count(close) OVER wh >= 20 THEN
      list_reduce(list(close) OVER wh,
                  (acc, x) -> acc * (1.0 - 2.0 / 21.0) + x * (2.0 / 21.0))
    END AS kc_mid
  FROM k2
  WINDOW wh AS (PARTITION BY stock_symbol ORDER BY bucket
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT stock_symbol, bucket, round(close, 6) AS close, round(tr, 6) AS tr,
       round(atr, 6) AS atr, round(kc_mid, 6) AS kc_mid,
       round(kc_mid + 2.0 * atr, 6) AS kc_upper,
       round(kc_mid - 2.0 * atr, 6) AS kc_lower
FROM k3
""",
        "beta_capm": _CANDLES_CTE
        + _OHLC_DAY
        + f""",
r AS (
  SELECT stock_symbol, bucket,
         close / nullif(lag(close) OVER (PARTITION BY stock_symbol
                                         ORDER BY bucket), 0) - 1.0 AS ret
  FROM bars
),
bx AS (SELECT bucket, ret AS x FROM r
       WHERE stock_symbol = '{BETA_BENCHMARK}'),
yy AS (SELECT stock_symbol, bucket, ret AS y FROM r
       WHERE stock_symbol <> '{BETA_BENCHMARK}'),
j AS (
  SELECT yy.stock_symbol, yy.bucket, x, y
  FROM yy JOIN bx USING (bucket)
  WHERE x IS NOT NULL AND y IS NOT NULL
),
c AS (
  SELECT stock_symbol, bucket, x, y,
    count(x) OVER w AS n, sum(x) OVER w AS s_x, sum(y) OVER w AS s_y,
    sum(x * x) OVER w AS s_xx, sum(x * y) OVER w AS s_xy
  FROM j
  WINDOW w AS (PARTITION BY stock_symbol ORDER BY bucket
               ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
),
b AS (
  SELECT c.*,
    CASE WHEN n >= 10 THEN
      (n * s_xy - s_x * s_y) / nullif(n * s_xx - s_x * s_x, 0)
    END AS beta
  FROM c
)
SELECT stock_symbol, bucket, round(x, 6) AS x, round(y, 6) AS y,
       round(beta, 6) AS beta,
       round((s_y - beta * s_x) / (CASE WHEN n >= 10 THEN n END), 6) AS alpha
FROM b
""",
        "pairs_spread_z": _CANDLES_CTE.replace(
            "FROM events",
            "FROM events WHERE user_id IN (3, 7, 11, 23, 42, 57)",
        )
        + _OHLC_DAY
        + """,
j AS (
  SELECT a.stock_symbol AS sym_x, b.stock_symbol AS sym_y,
         a.bucket, a.close AS x, b.close AS y
  FROM bars a JOIN bars b USING (bucket)
  WHERE a.stock_symbol < b.stock_symbol
),
s1 AS (
  SELECT j.*,
    CASE WHEN x > 0 AND y > 0 THEN ln(x) - ln(y) END AS spread
  FROM j
),
s2 AS (
  SELECT s1.*,
    CASE WHEN count(spread) OVER w >= 10 THEN avg(spread) OVER w END AS mu,
    CASE WHEN count(spread) OVER w >= 10
         THEN stddev_samp(spread) OVER w END AS sd
  FROM s1
  WINDOW w AS (PARTITION BY sym_x, sym_y ORDER BY bucket
               ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
)
SELECT sym_x, sym_y, bucket, round(spread, 6) AS spread,
       round(mu, 6) AS spread_mu,
       round((spread - mu) / nullif(sd, 0.0), 6) AS spread_z
FROM s2
""",
    }
)


# ---------------------------------------------------------------------------
# round-5 additions (2): winsorization, historical VaR / expected shortfall
# ---------------------------------------------------------------------------


def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-symbol winsorization of tick closes at the exact p05/p95
    (linear interpolation — DuckDB ``quantile_cont``): outliers clamp to
    the threshold, with a flag.  Thresholds are one grouped aggregate
    joined back broadcast (group-count-sized); at 100 TB swap
    ``percentile`` for ``percentile_approx`` and keep the same shape."""
    c = _candles(spark, sf_dir).drop("volume")
    th = c.groupBy("stock_symbol").agg(
        F.percentile("close", F.lit(0.05)).alias("lo"),
        F.percentile("close", F.lit(0.95)).alias("hi"),
    )
    j = c.join(F.broadcast(th), "stock_symbol")
    clamped = F.least(F.greatest(F.col("close"), F.col("lo")), F.col("hi"))
    return j.select(
        "event_id",
        "stock_symbol",
        F.round("close", 6).alias("close"),
        F.round("lo", 6).alias("lo"),
        F.round("hi", 6).alias("hi"),
        F.round(clamped, 6).alias("clamped"),
        ((F.col("close") < F.col("lo")) | (F.col("close") > F.col("hi")))
        .cast("int")
        .alias("is_clamped"),
    )


def q_historical_var(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Historical VaR(95) and expected shortfall per symbol over daily
    log returns: VaR = exact p05 of the return distribution, ES = mean
    of the tail at or below it.  One bar resample, one threshold
    aggregate, one conditional re-aggregate."""
    bars = ix.ohlc_bars(
        _candles(spark, sf_dir).drop("volume"), volume_col=None, bar="day"
    )
    w = Window.partitionBy("stock_symbol").orderBy("bucket")
    prev = F.lag("close", 1).over(w)
    ret = F.when((F.col("close") > 0) & (prev > 0), F.log(F.col("close") / prev))
    rets = bars.withColumn("ret", ret)
    th = rets.groupBy("stock_symbol").agg(
        F.percentile("ret", F.lit(0.05)).alias("var95"),
        F.count("ret").alias("n_rets"),
    )
    j = rets.join(F.broadcast(th), "stock_symbol")
    return (
        j.groupBy("stock_symbol", "var95", "n_rets")
        .agg(
            F.avg(F.when(F.col("ret") <= F.col("var95"), F.col("ret"))).alias(
                "es95"
            )
        )
        .select(
            "stock_symbol",
            "n_rets",
            F.round("var95", 6).alias("var95"),
            F.round("es95", 6).alias("es95"),
        )
    )


QUERIES.update(
    {
        "winsorize": q_winsorize,
        "historical_var": q_historical_var,
    }
)

ORACLES.update(
    {
        "winsorize": _CANDLES_CTE
        + """,
th AS (
  SELECT stock_symbol,
         quantile_cont(close, 0.05) AS lo,
         quantile_cont(close, 0.95) AS hi
  FROM candles GROUP BY stock_symbol
)
SELECT event_id, c.stock_symbol, round(close, 6) AS close,
       round(lo, 6) AS lo, round(hi, 6) AS hi,
       round(least(greatest(close, lo), hi), 6) AS clamped,
       CAST(close < lo OR close > hi AS INT) AS is_clamped
FROM candles c JOIN th USING (stock_symbol)
""",
        "historical_var": _CANDLES_CTE
        + _OHLC_DAY
        + """,
r AS (
  SELECT stock_symbol, bucket, close,
         lag(close) OVER (PARTITION BY stock_symbol ORDER BY bucket)
           AS prev
  FROM bars
),
rr AS (
  SELECT stock_symbol,
         CASE WHEN close > 0 AND prev > 0 THEN ln(close / prev) END AS ret
  FROM r
),
th AS (
  SELECT stock_symbol, quantile_cont(ret, 0.05) AS var95,
         count(ret) AS n_rets
  FROM rr GROUP BY stock_symbol
)
SELECT rr.stock_symbol, any_value(n_rets) AS n_rets,
       round(any_value(var95), 6) AS var95,
       round(avg(ret) FILTER (ret <= var95), 6) AS es95
FROM rr JOIN th USING (stock_symbol)
GROUP BY rr.stock_symbol
""",
    }
)


# ---------------------------------------------------------------------------
# round-5 additions (3): dense-calendar forward fill
# ---------------------------------------------------------------------------


def q_calendar_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed asfreq+ffill: densify every symbol's daily bars onto
    its own observed calendar span and forward-fill closes; the fill is
    an O(1)-per-row running aggregate sharing the join's key
    partitioning."""
    from big_data_engineering_financial_analysis_spark.operators.timegrid import (
        calendar_ffill,
    )

    bars = ix.ohlc_bars(
        _candles(spark, sf_dir).drop("volume"), volume_col=None, bar="day"
    )
    out = calendar_ffill(bars, value_cols=("close",))
    return out.select(
        "stock_symbol", "bucket", F.round("close", 6).alias("close"), "is_filled"
    )


QUERIES["calendar_ffill"] = q_calendar_ffill

ORACLES["calendar_ffill"] = (
    _CANDLES_CTE
    + _OHLC_DAY
    + """,
span AS (
  SELECT stock_symbol, min(bucket) AS t0, max(bucket) AS t1
  FROM bars GROUP BY 1
),
grid AS (
  SELECT stock_symbol,
         unnest(generate_series(t0, t1, INTERVAL 1 DAY)) AS bucket
  FROM span
),
g2 AS (
  SELECT g.stock_symbol, g.bucket, b.close
  FROM grid g LEFT JOIN bars b USING (stock_symbol, bucket)
),
f AS (
  SELECT stock_symbol, bucket,
         CAST(close IS NULL AS INT) AS is_filled,
         last_value(close IGNORE NULLS)
           OVER (PARTITION BY stock_symbol ORDER BY bucket
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS close
  FROM g2
)
SELECT stock_symbol, bucket, round(close, 6) AS close, is_filled FROM f
"""
)


# ---------------------------------------------------------------------------
# round-5 additions (4): signal backtest with equity curve
# ---------------------------------------------------------------------------


def q_backtest_equity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector backtest of the SMA5>EMA10 crossover on daily bars: the
    position is YESTERDAY's signal (lag 1 — no lookahead), strategy
    return = position x daily return, equity = exp of the RUNNING sum
    of log growth.  Running window aggregates accumulate in frame
    order, so the equity curve is FP-deterministic and engine-exact —
    the reason the curve uses a running log-sum rather than a grouped
    product.  Everything rides one (symbol)-keyed window family."""
    from pyspark.sql import Window as W

    bars = ix.ohlc_bars(
        _candles(spark, sf_dir).drop("volume"), volume_col=None, bar="day"
    )
    w = W.partitionBy("stock_symbol").orderBy("bucket")
    hist = w.rowsBetween(W.unboundedPreceding, 0)
    frame5 = w.rowsBetween(-4, 0)
    close = F.col("close")
    sma5 = F.when(F.count(close).over(frame5) >= 5, F.avg(close).over(frame5))
    ema10 = F.when(
        F.count(close).over(hist) >= 10,
        ix._ema_fold(F.collect_list(close).over(hist), 2.0 / 11.0),
    )
    b = (
        bars.withColumn("sma_5", sma5)
        .withColumn("ema_10", ema10)
        .withColumn(
            "pos_raw",
            F.when(F.col("sma_5") > F.col("ema_10"), 1).otherwise(0),
        )
    )
    b = b.withColumn("pos", F.coalesce(F.lag("pos_raw", 1).over(w), F.lit(0)))
    b = b.withColumn("ret", close / F.nullif(F.lag(close, 1).over(w), F.lit(0.0)) - 1.0)
    strat = F.col("pos") * F.col("ret")
    logg = F.when(strat.isNull(), F.lit(0.0)).when(
        strat > -1.0, F.log(F.lit(1.0) + strat)
    )
    b = b.withColumn("__logg", logg).withColumn(
        "equity", F.exp(F.sum("__logg").over(hist))
    )
    return b.select(
        "stock_symbol",
        "bucket",
        F.round("close", 6).alias("close"),
        "pos",
        F.round("ret", 6).alias("ret"),
        F.round("equity", 6).alias("equity"),
    )


QUERIES["backtest_equity"] = q_backtest_equity

ORACLES["backtest_equity"] = (
    _CANDLES_CTE
    + _OHLC_DAY
    + f""",
s1 AS (
  SELECT stock_symbol, bucket, close,
    CASE WHEN count(close) OVER w5 >= 5 THEN avg(close) OVER w5 END AS sma_5,
    CASE WHEN count(close) OVER wh >= 10 THEN
      list_reduce(list(close) OVER wh,
                  (acc, x) -> acc * (1.0 - 2.0 / 11.0) + x * (2.0 / 11.0))
    END AS ema_10,
    close / nullif(lag(close) OVER ws, 0) - 1.0 AS ret
  FROM bars
  WINDOW ws AS (PARTITION BY stock_symbol ORDER BY bucket),
         w5 AS (ws ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
         wh AS (ws ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
s2 AS (
  SELECT s1.*, CASE WHEN sma_5 > ema_10 THEN 1 ELSE 0 END AS pos_raw
  FROM s1
),
s3 AS (
  SELECT s2.*,
    coalesce(lag(pos_raw) OVER (PARTITION BY stock_symbol ORDER BY bucket),
             0) AS pos
  FROM s2
),
s4 AS (
  SELECT s3.*,
    CASE WHEN pos * ret IS NULL THEN CAST(0.0 AS DOUBLE)
         WHEN pos * ret > -1.0 THEN ln(1.0 + pos * ret) END AS logg
  FROM s3
),
s5 AS (
  SELECT s4.*,
    exp(sum(logg) OVER (PARTITION BY stock_symbol ORDER BY bucket
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      AS equity
  FROM s4
)
SELECT stock_symbol, bucket, round(close, 6) AS close, pos,
       round(ret, 6) AS ret, round(equity, 6) AS equity
FROM s5
"""
)


# ---------------------------------------------------------------------------
# round-5 additions (5): Black-Scholes option pricing surface
# ---------------------------------------------------------------------------

import math as _math  # noqa: E402

from big_data_engineering_financial_analysis_spark.operators.options import (  # noqa: E402
    black_scholes_sql,
)

BS_T_YEARS = 30.0 / 365.0
BS_RATE = 0.02
_SQRT252 = _math.sqrt(252.0)
_BS = black_scholes_sql("close", "strike", "ann_vol", BS_T_YEARS, BS_RATE)


def q_black_scholes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-the-money 30-day option surface over daily bars: sigma is the
    trailing-10 realized vol (annualized), strike the rounded spot.
    The normal CDF is the A&S polynomial via SHARED SQL fragments
    (operators/options.py) evaluated by F.expr — the same text the
    oracle runs, so prices are bit-identical.  Entirely row-local after
    the vol window: pricing scales as a pure map."""
    bars = ix.ohlc_bars(
        _candles(spark, sf_dir).drop("volume"), volume_col=None, bar="day"
    )
    w = Window.partitionBy("stock_symbol").orderBy("bucket")
    prev = F.lag("close", 1).over(w)
    ret = F.when(
        (F.col("close") > 0) & (prev > 0), F.log(F.col("close") / prev)
    )
    b = bars.withColumn("ret", ret)
    frame = w.rowsBetween(-9, 0)
    vol = F.when(
        F.count("ret").over(frame) >= 10, F.stddev_samp("ret").over(frame)
    )
    b = (
        b.withColumn("ann_vol", vol * F.lit(_SQRT252))
        .filter(F.col("ann_vol").isNotNull() & (F.col("ann_vol") > 0))
        .withColumn("strike", F.expr("CAST(round(close, 0) AS DOUBLE)"))
        # near-zero spots round to a 0 strike: un-priceable, drop
        .filter((F.col("close") > 0) & (F.col("strike") > 0))
    )
    return b.selectExpr(
        "stock_symbol",
        "bucket",
        "round(close, 6) AS close",
        "strike",
        "round(ann_vol, 6) AS sigma",
        f"round({_BS['call']}, 6) AS call_px",
        f"round({_BS['put']}, 6) AS put_px",
        f"round({_BS['delta_call']}, 6) AS delta_call",
    )


QUERIES["black_scholes"] = q_black_scholes

ORACLES["black_scholes"] = (
    _CANDLES_CTE
    + _OHLC_DAY
    + f""",
v1 AS (
  SELECT stock_symbol, bucket, close,
    CASE WHEN close > 0
          AND lag(close) OVER ws > 0
         THEN ln(close / lag(close) OVER ws) END AS ret
  FROM bars
  WINDOW ws AS (PARTITION BY stock_symbol ORDER BY bucket)
),
v2 AS (
  SELECT v1.*,
    CASE WHEN count(ret) OVER w10 >= 10
         THEN stddev_samp(ret) OVER w10 END * {_SQRT252!r} AS ann_vol
  FROM v1
  WINDOW w10 AS (PARTITION BY stock_symbol ORDER BY bucket
                 ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
),
v3 AS (
  SELECT stock_symbol, bucket, close, ann_vol,
         CAST(round(close, 0) AS DOUBLE) AS strike
  FROM v2 WHERE ann_vol IS NOT NULL AND ann_vol > 0
    AND close > 0 AND CAST(round(close, 0) AS DOUBLE) > 0
)
SELECT stock_symbol, bucket, round(close, 6) AS close, strike,
       round(ann_vol, 6) AS sigma,
       round({_BS["call"]}, 6) AS call_px,
       round({_BS["put"]}, 6) AS put_px,
       round({_BS["delta_call"]}, 6) AS delta_call
FROM v3
"""
)
