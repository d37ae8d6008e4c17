"""Query registry: named queries + matching DuckDB oracle SQL.

This is the driver contract surface (``__spark_entry__.py`` re-exports it):
every operator from SURVEY §2 appears here as a ``(spark, sf_dir) ->
DataFrame`` callable plus an equivalent ANSI-SQL string DuckDB can evaluate
over the same parquet tables.  Conventions that make the hash comparison
meaningful:

* every computed column is aliased identically on both sides;
* derived doubles are rounded (6 dp; large money sums 2 dp) on BOTH sides,
  because floating-point summation order is engine-specific;
* parameterized queries (symbol, time range, k) pin fixed parameter values
  so both sides evaluate the same instance;
* ties at top-k boundaries are broken by a unique key column.

The ``events`` table stands in for the reference's candle stream
(FIXTURES.md: user_id -> symbol, ts -> local_time, value -> close), so the
indicator pipeline (consumer.py:107-155) is checkable against SQL.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_engineering_financial_analysis_spark.functions.indicators import enrich
from big_data_engineering_financial_analysis_spark.operators.windows import (
    feature_windows,
    last_per_group,
    latest_per_key,
    minmax_scale,
)
from big_data_engineering_financial_analysis_spark.plans import analytics, dashboard, serving
from big_data_engineering_financial_analysis_spark.sources.parquet import (
    candles_from_events,
    load_table,
    load_tables,
)

QueryFn = Callable[[SparkSession, str], DataFrame]

INDICATOR_COLS = [
    "sma_5",
    "ema_10",
    "delta",
    "gain",
    "loss",
    "avg_gain_10",
    "avg_loss_10",
    "rs",
    "rsi_10",
]

# ---------------------------------------------------------------------------
# Shared DuckDB CTE: the full indicator pipeline over events-as-candles.
# Mirrors the indicator kernel (streaming/state.py step) expression by
# expression (same constants, same summation order, same NULL gating) so
# results agree to the last few ulps; outputs are rounded at each query's
# final SELECT.
# ---------------------------------------------------------------------------

ENRICHED_CTE = """
WITH candles AS (
  SELECT event_id, CAST(user_id AS VARCHAR) AS stock_symbol,
         ts AS local_time, value AS close, event_type
  FROM events
),
ind1 AS (
  SELECT candles.*,
    CASE WHEN count(close) OVER w5 >= 5 THEN avg(close) OVER w5 END AS sma_5,
    CASE WHEN count(close) OVER wh >= 10 THEN
      list_reduce(list(close) OVER wh,
                  (acc, x) -> acc * (1.0 - 2.0 / 11.0) + x * (2.0 / 11.0))
    END AS ema_10,
    close - lag(close) OVER w AS delta
  FROM candles
  WINDOW w  AS (PARTITION BY stock_symbol ORDER BY local_time),
         w5 AS (w ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
         wh AS (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
ind2 AS (
  SELECT ind1.*,
    CASE WHEN delta IS NOT NULL THEN greatest(delta, 0) + 0.0 END AS gain,
    CASE WHEN delta IS NOT NULL THEN -least(delta, 0) + 0.0 END AS loss
  FROM ind1
),
ind3 AS (
  SELECT ind2.*,
    CASE WHEN count(delta) OVER w10 >= 10 THEN avg(gain) OVER w10 END AS avg_gain_10,
    CASE WHEN count(delta) OVER w10 >= 10 THEN avg(loss) OVER w10 END AS avg_loss_10
  FROM ind2
  WINDOW w10 AS (PARTITION BY stock_symbol ORDER BY local_time
                 ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
),
ind4 AS (SELECT ind3.*, avg_gain_10 / nullif(avg_loss_10, 0) AS rs FROM ind3),
ind5 AS (SELECT ind4.*, 100 - 100 / (1 + rs) AS rsi_10 FROM ind4),
enriched AS (
  SELECT ind5.*,
    CASE WHEN sma_5 IS NULL OR ema_10 IS NULL OR rsi_10 IS NULL THEN 'HOLD'
         WHEN sma_5 > ema_10 AND rsi_10 < 70 THEN 'BUY'
         WHEN sma_5 < ema_10 AND rsi_10 > 30 THEN 'SELL'
         ELSE 'HOLD' END AS signal
  FROM ind5
)
"""


def _enriched(spark: SparkSession, sf_dir: str, symbols: list[str] | None = None) -> DataFrame:
    """Enriched events-as-candles, optionally pruned to a symbol set.

    The prune runs in the scan (see :func:`candles_from_events`);
    pre-filtering on the grouping key commutes with the per-symbol
    enrichment, so results are identical to filtering afterwards.
    """
    return enrich(candles_from_events(spark, sf_dir, symbols))


def _round6(df: DataFrame, cols: list[str]) -> DataFrame:
    for c in cols:
        df = df.withColumn(c, F.round(F.col(c), 6))
    return df


# Fixed parameters for the parameterized serving queries (see module doc).
SYMBOL = "42"
SYMBOLS = ["7", "23", "42", "99"]
T_START = "2024-01-05 00:00:00"
T_END = "2024-01-20 00:00:00"
LOOKBACK = 10

# ---------------------------------------------------------------------------
# Query callables
# ---------------------------------------------------------------------------


def q_enrich_indicators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: full indicator + signal pipeline (W1-W7, consumer.py:107-155)."""
    out = _enriched(spark, sf_dir).select(
        "event_id", "stock_symbol", "local_time", "close", *INDICATOR_COLS, "signal"
    )
    return _round6(out, INDICATOR_COLS)


def q_enrich_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming row contract of the indicator kernel
    (``streaming.state.process_group``), run in batch via applyInPandas
    and checked against the same SQL oracle as enrich_indicators.

    The stream drops (symbol, time) ties (first-writer-wins) while the
    window oracle enriches every row, so the input is deduped to the
    min-event_id row per (symbol, time) FIRST and the oracle (below)
    applies the identical dedup — keeping the equivalence valid on any
    dataset, not just fixtures that happen to have unique keys.
    """
    from big_data_engineering_financial_analysis_spark.operators.windows import last_per_group
    from big_data_engineering_financial_analysis_spark.streaming.state import (
        SymbolState,
        enriched_ddl,
        process_group,
    )

    candles = last_per_group(
        candles_from_events(spark, sf_dir),
        ["stock_symbol", "local_time"],
        "event_id",
        ascending=True,  # min-event_id row, no negated helper column
    )

    def run(pdf):
        return process_group(SymbolState(), pdf, "local_time", "close")

    out = candles.groupBy("stock_symbol").applyInPandas(
        run, schema=enriched_ddl(candles.schema)
    ).select(
        "event_id", "stock_symbol", "local_time", "close", *INDICATOR_COLS, "signal"
    )
    return _round6(out, INDICATOR_COLS)


def q_signal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W7: BUY/SELL/HOLD CASE rule with any-NULL -> HOLD guard."""
    return _enriched(spark, sf_dir).select("event_id", "stock_symbol", "local_time", "signal")


def q_last_per_minute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W8: last-row-per-(key, minute) dedup by rank (consumer.py:195-197),
    with a deterministic event_id tiebreak instead of arrival order."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "minute", F.date_trunc("minute", F.col("ts"))
    )
    return last_per_group(ev, ["user_id", "minute"], "event_id").select(
        "event_id", "user_id", "minute", "value"
    )


def q_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W9: latest row per key (dashboard.json:604 generalized) with an
    event_id tiebreak so (key, ts) ties cannot flake the oracle."""
    ev = load_table(spark, sf_dir, "events")
    return latest_per_key(
        ev, "user_id", "ts", ["value", "event_type"], tiebreak_col="event_id"
    ).select(
        "user_id",
        F.col("ts").alias("last_ts"),
        F.col("value").alias("last_value"),
        F.col("event_type").alias("last_event_type"),
    )


def q_feature_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W10: LSTM sliding lookback windows (AI-LSTM/...py:34-37), summarized
    to scalars (len/sum/first/last) so the oracle needs no array hashing."""
    ev = load_table(spark, sf_dir, "events")
    fw = feature_windows(ev, "user_id", "ts", "value", lookback=LOOKBACK)
    return fw.select(
        "user_id",
        F.col("ts").alias("local_time"),
        F.col("label"),
        F.size("features").cast("long").alias("f_len"),
        F.round(
            F.aggregate("features", F.lit(0.0), lambda acc, x: acc + x), 6
        ).alias("f_sum"),
        F.element_at("features", 1).alias("f_first"),
        F.element_at("features", -1).alias("f_last"),
    )


def q_minmax_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10: global min-max scaling without a driver collect."""
    ev = load_table(spark, sf_dir, "events")
    return minmax_scale(ev, "value").select(
        "event_id", "value", F.round(F.col("scaled"), 6).alias("scaled")
    )


def q_api_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: REST aggregate endpoint, avg of an enriched field over a
    symbol + trailing window (views.py:25-35)."""
    out = serving.aggregate_field(
        _enriched(spark, sf_dir, [SYMBOL]), "avg", "rsi_10", SYMBOL, T_START, T_END
    )
    return out.select(F.round(F.col("avg_rsi_10"), 6).alias("avg_rsi_10"))


_SUMMARY_OUT = [
    "avg_close", "max_close", "min_close",
    "avg_sma_5", "max_sma_5", "min_sma_5",
    "avg_ema_10", "max_ema_10", "min_ema_10",
    "avg_rsi_10", "max_rsi_10", "min_rsi_10",
    "max_gain", "max_loss",
]


def q_summarize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: the 14-aggregate single-symbol summary (views.py:61-86)."""
    out = serving.summarize(_enriched(spark, sf_dir, [SYMBOL]), SYMBOL, T_START, T_END)
    return _round6(out, _SUMMARY_OUT)


def q_summarize_multiple(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/J2: multi-symbol summary as ONE grouped aggregate instead of the
    reference's per-symbol query loop (views.py:281-289)."""
    out = serving.summarize_multiple(_enriched(spark, sf_dir, SYMBOLS), SYMBOLS, T_START, T_END)
    return _round6(out, _SUMMARY_OUT)


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.pricing_summary(load_table(spark, sf_dir, "lineitem"))


def q_pricing_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.pricing_rollup(load_table(spark, sf_dir, "lineitem"))


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.shipping_priority(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.local_supplier_volume(load_tables(spark, sf_dir))


def q_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.top_orders(load_table(spark, sf_dir, "orders"))


def q_event_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.event_type_stats(load_table(spark, sf_dir, "events"))


def q_events_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.events_union(load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# Oracle SQL (DuckDB dialect, runs over pre-registered table views)
# ---------------------------------------------------------------------------

_IND_ROUND = ", ".join(f"round({c}, 6) AS {c}" for c in INDICATOR_COLS)

_SUMMARY_SQL = """
  round(avg(close), 6)  AS avg_close,  round(max(close), 6)  AS max_close,
  round(min(close), 6)  AS min_close,
  round(avg(sma_5), 6)  AS avg_sma_5,  round(max(sma_5), 6)  AS max_sma_5,
  round(min(sma_5), 6)  AS min_sma_5,
  round(avg(ema_10), 6) AS avg_ema_10, round(max(ema_10), 6) AS max_ema_10,
  round(min(ema_10), 6) AS min_ema_10,
  round(avg(rsi_10), 6) AS avg_rsi_10, round(max(rsi_10), 6) AS max_rsi_10,
  round(min(rsi_10), 6) AS min_rsi_10,
  round(max(gain), 6)   AS max_gain,   round(max(loss), 6)   AS max_loss
"""

ORACLES: dict[str, str] = {
    "enrich_indicators": ENRICHED_CTE
    + f"SELECT event_id, stock_symbol, local_time, close, {_IND_ROUND}, signal FROM enriched",
    # same pipeline, but over min-event_id-per-(symbol,time) deduped input
    # (mirrors the kernel's first-writer-wins tie handling; see the query)
    "enrich_incremental": ENRICHED_CTE.replace(
        "  FROM events\n",
        """  FROM (SELECT * FROM events
          QUALIFY row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id) = 1)
""",
    )
    + f"SELECT event_id, stock_symbol, local_time, close, {_IND_ROUND}, signal FROM enriched",
    "signal_rule": ENRICHED_CTE
    + "SELECT event_id, stock_symbol, local_time, signal FROM enriched",
    "last_per_minute": """
        SELECT event_id, user_id, minute, value FROM (
          SELECT event_id, user_id, date_trunc('minute', ts) AS minute, value,
                 row_number() OVER (PARTITION BY user_id, date_trunc('minute', ts)
                                    ORDER BY event_id DESC) AS rn
          FROM events
        ) WHERE rn = 1
    """,
    "latest_per_key": """
        SELECT user_id, ts AS last_ts, value AS last_value,
               event_type AS last_event_type
        FROM events
        QUALIFY row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) = 1
    """,
    "feature_windows": f"""
        SELECT user_id, local_time, label, f_len,
               round(f_sum, 6) AS f_sum, f_first, f_last
        FROM (
          SELECT user_id, ts AS local_time, value AS label,
                 count(value)       OVER wf AS f_len,
                 sum(value)         OVER wf AS f_sum,
                 first_value(value) OVER wf AS f_first,
                 last_value(value)  OVER wf AS f_last
          FROM events
          WINDOW wf AS (PARTITION BY user_id ORDER BY ts
                        ROWS BETWEEN {LOOKBACK} PRECEDING AND 1 PRECEDING)
        ) WHERE f_len = {LOOKBACK}
    """,
    "minmax_scale": """
        SELECT event_id, value,
               round((value - min(value) OVER ())
                     / nullif(max(value) OVER () - min(value) OVER (), 0), 6) AS scaled
        FROM events
    """,
    "api_avg": ENRICHED_CTE
    + f"""SELECT round(avg(rsi_10), 6) AS avg_rsi_10 FROM enriched
         WHERE stock_symbol = '{SYMBOL}'
           AND local_time >= TIMESTAMP '{T_START}' AND local_time <= TIMESTAMP '{T_END}'""",
    "summarize": ENRICHED_CTE
    + f"""SELECT {_SUMMARY_SQL} FROM enriched
         WHERE stock_symbol = '{SYMBOL}'
           AND local_time >= TIMESTAMP '{T_START}' AND local_time <= TIMESTAMP '{T_END}'""",
    "summarize_multiple": ENRICHED_CTE
    + f"""SELECT stock_symbol, {_SUMMARY_SQL} FROM enriched
         WHERE stock_symbol IN ({", ".join(repr(s) for s in SYMBOLS)})
           AND local_time >= TIMESTAMP '{T_START}' AND local_time <= TIMESTAMP '{T_END}'
         GROUP BY stock_symbol""",
    "pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2)      AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
               round(avg(l_quantity), 6)      AS avg_qty,
               round(avg(l_extendedprice), 6) AS avg_price,
               round(avg(l_discount), 6)      AS avg_disc,
               count(*)                       AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """,
    "pricing_rollup": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty, count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    "shipping_priority": """
        SELECT l_orderkey, o_orderdate,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1997-06-01'
          AND l_shipdate  > TIMESTAMP '1997-06-01'
        GROUP BY l_orderkey, o_orderdate
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
    """,
    "local_supplier_volume": """
        SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1997-01-01'
        GROUP BY n_name
    """,
    "top_orders": """
        SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
    "event_type_stats": """
        SELECT event_type, count(*) AS n,
               round(sum(value), 2) AS sum_value,
               round(avg(value), 6) AS avg_value,
               count(DISTINCT user_id) AS n_users
        FROM events GROUP BY event_type
    """,
    "events_union": """
        SELECT event_id, ts, user_id, event_type, value, 'purchase' AS src
        FROM events WHERE event_type = 'purchase'
        UNION ALL
        SELECT event_id, ts, user_id, event_type, value, 'error_hi' AS src
        FROM events WHERE event_type = 'error' AND value > 100
    """,
}

QUERIES: dict[str, QueryFn] = {
    "enrich_indicators": q_enrich_indicators,
    "enrich_incremental": q_enrich_incremental,
    "signal_rule": q_signal,
    "last_per_minute": q_last_per_minute,
    "latest_per_key": q_latest_per_key,
    "feature_windows": q_feature_windows,
    "minmax_scale": q_minmax_scale,
    "api_avg": q_api_avg,
    "summarize": q_summarize,
    "summarize_multiple": q_summarize_multiple,
    "pricing_summary": q_pricing_summary,
    "pricing_rollup": q_pricing_rollup,
    "shipping_priority": q_shipping_priority,
    "local_supplier_volume": q_local_supplier_volume,
    "top_orders": q_top_orders,
    "event_type_stats": q_event_type_stats,
    "events_union": q_events_union,
}

# training-data pipeline queries (dedup / similarity / text / binary)
from big_data_engineering_financial_analysis_spark.plans import registry_datapipe as _datapipe  # noqa: E402

QUERIES.update(_datapipe.QUERIES)
ORACLES.update(_datapipe.ORACLES)

# dashboard SQL suite + extended relational coverage
from big_data_engineering_financial_analysis_spark.plans import registry_ext as _ext  # noqa: E402

QUERIES.update(_ext.QUERIES)
ORACLES.update(_ext.build_oracles())

# extended technical-indicator family (MACD / Bollinger / stochastic /
# VWAP / OBV / volatility / drawdown)
from big_data_engineering_financial_analysis_spark.plans import registry_tech as _tech  # noqa: E402

QUERIES.update(_tech.QUERIES)
ORACLES.update(_tech.ORACLES)

# document ranking (TF-IDF keywords, BM25 retrieval)
from big_data_engineering_financial_analysis_spark.plans import registry_ranking as _rank  # noqa: E402

QUERIES.update(_rank.QUERIES)
ORACLES.update(_rank.ORACLES)

# scale techniques (KMV sketch, Bloom-pruned semijoin, Z-order audit)
from big_data_engineering_financial_analysis_spark.plans import registry_scale as _scale  # noqa: E402

QUERIES.update(_scale.QUERIES)
ORACLES.update(_scale.ORACLES)

# trend/cross-sectional TA (ADX, Ichimoku, Heikin-Ashi, momentum deciles,
# Sharpe/Sortino, volume profile) + Q7/Q18-shape join analytics
from big_data_engineering_financial_analysis_spark.plans import registry_ta as _ta  # noqa: E402

QUERIES.update(_ta.QUERIES)
ORACLES.update(_ta.ORACLES)

#: The paper's queries, by the SURVEY §3 entry point that serves them.
#: They lead ``QUERIES``, so a correctness check over the first 50
#: registered queries always covers them; the rest follow in
#: registration order.
PAPER_QUERIES: dict[str, list[str]] = {
    "streaming job (§3.1)": [
        "enrich_indicators", "enrich_incremental", "signal_rule",
        "last_per_minute", "latest_per_key", "ilp_lines",
    ],
    "REST API (§3.2)": ["api_avg", "summarize", "summarize_multiple"],
    "dashboard (§3.3)": [*dashboard.PANEL_SQL],
    "LSTM data prep (§3.4)": ["feature_windows", "minmax_scale", "lstm_dataset"],
}
_PAPER_ORDER = [name for names in PAPER_QUERIES.values() for name in names]
QUERIES = {name: QUERIES[name] for name in _PAPER_ORDER} | {
    name: fn for name, fn in QUERIES.items() if name not in _PAPER_ORDER
}
