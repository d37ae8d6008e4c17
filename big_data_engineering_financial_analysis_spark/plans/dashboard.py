"""The Grafana dashboard query suite, executed through ``spark.sql``.

The reference dashboard issues eight raw SQL statements over QuestDB
(grafana/dashboards/dashboard.json:132,264,396,522,604,689,806,891,976).
This module registers the enriched candle table as a temp view named
``stock_data`` (the reference's table name, db/init_questdb.sql:1) and runs
the same statements — adapted to the events-as-candles fixture columns —
through Spark's SQL API.  Catalyst produces identical plans for SQL and
DataFrame formulations; carrying the suite as literal SQL demonstrates the
``spark.sql`` surface and keeps the dashboard contract testable verbatim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

VIEW = "stock_data"

#: panel name -> the SQL the dashboard would issue against the engine.
#: Parameters are pinned (symbol 42 / the 4-symbol IN list, fixed window)
#: exactly like plans/registry.py; rounding applied in-query on both sides.
PANEL_SQL: dict[str, str] = {
    # dashboard.json:132 — price time series for one symbol
    "panel_price_series": """
        SELECT local_time, close FROM stock_data
        WHERE stock_symbol = '42'
    """,
    # dashboard.json:264/396 — indicator time series
    "panel_indicator_series": """
        SELECT local_time, round(sma_5, 6) AS sma_5, round(ema_10, 6) AS ema_10
        FROM stock_data
        WHERE stock_symbol = '42'
          AND local_time >= TIMESTAMP '2024-01-05 00:00:00'
          AND local_time <= TIMESTAMP '2024-01-20 00:00:00'
    """,
    # dashboard.json:522 — gain/loss bar feed
    "panel_gain_loss": """
        SELECT local_time, round(gain, 6) AS gain, round(loss, 6) AS loss
        FROM stock_data
        WHERE stock_symbol = '42'
    """,
    # dashboard.json:604 — current signal stat; the signal tiebreak makes
    # a time tie deterministic over the selected columns alone
    "panel_latest_signal": """
        SELECT stock_symbol, local_time, signal FROM stock_data
        WHERE stock_symbol = '42'
        ORDER BY local_time DESC, signal DESC LIMIT 1
    """,
    # dashboard.json:689 — global close stats
    "panel_close_stats": """
        SELECT round(max(close), 6) AS max_close, round(avg(close), 6) AS avg_close,
               round(min(close), 6) AS min_close
        FROM stock_data WHERE stock_symbol = '42'
    """,
    # dashboard.json:806 — candlestick feed with positive-indicator guard
    "panel_candlestick": """
        SELECT local_time, close, round(sma_5, 6) AS sma_5, round(ema_10, 6) AS ema_10
        FROM stock_data
        WHERE stock_symbol = '42'
          AND local_time >= TIMESTAMP '2024-01-05 00:00:00'
          AND local_time <= TIMESTAMP '2024-01-20 00:00:00'
          AND sma_5 > 0 AND ema_10 > 0
        ORDER BY local_time
    """,
    # dashboard.json:891/976 — conditional-average pivots over an IN-list
    "panel_avg_gain_pivot": """
        SELECT
          round(avg(CASE WHEN stock_symbol = '1' THEN gain END), 6) AS avg_gain_1,
          round(avg(CASE WHEN stock_symbol = '2' THEN gain END), 6) AS avg_gain_2,
          round(avg(CASE WHEN stock_symbol = '3' THEN gain END), 6) AS avg_gain_3,
          round(avg(CASE WHEN stock_symbol = '4' THEN gain END), 6) AS avg_gain_4
        FROM stock_data
        WHERE stock_symbol IN ('1', '2', '3', '4')
    """,
    "panel_avg_loss_pivot": """
        SELECT
          round(avg(CASE WHEN stock_symbol = '1' THEN loss END), 6) AS avg_loss_1,
          round(avg(CASE WHEN stock_symbol = '2' THEN loss END), 6) AS avg_loss_2,
          round(avg(CASE WHEN stock_symbol = '3' THEN loss END), 6) AS avg_loss_3,
          round(avg(CASE WHEN stock_symbol = '4' THEN loss END), 6) AS avg_loss_4
        FROM stock_data
        WHERE stock_symbol IN ('1', '2', '3', '4')
    """,
}

#: symbols each panel touches — used to prune the scan before enrichment
#: (native-typed predicate reaches parquet; see registry._enriched).
PANEL_SYMBOLS: dict[str, list[str]] = {
    "panel_price_series": ["42"],
    "panel_indicator_series": ["42"],
    "panel_gain_loss": ["42"],
    "panel_latest_signal": ["42"],
    "panel_close_stats": ["42"],
    "panel_candlestick": ["42"],
    "panel_avg_gain_pivot": ["1", "2", "3", "4"],
    "panel_avg_loss_pivot": ["1", "2", "3", "4"],
}


def run_panel(spark: SparkSession, enriched: DataFrame, panel: str) -> DataFrame:
    """Register the enriched frame as ``stock_data`` and run one panel."""
    enriched.createOrReplaceTempView(VIEW)
    return spark.sql(PANEL_SQL[panel])
