"""Registry part 3: dashboard SQL suite + extended relational coverage
(semi/anti joins, per-group ranking, sessionization, event-time buckets,
percentiles, scalar subqueries, ILP sink formatting)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_engineering_financial_analysis_spark.plans import analytics_ext, dashboard
from big_data_engineering_financial_analysis_spark.sources.parquet import load_table

# _enriched lives in registry.py; import lazily to avoid a cycle
def _enriched(spark, sf_dir, symbols=None):
    from big_data_engineering_financial_analysis_spark.plans.registry import _enriched as impl

    return impl(spark, sf_dir, symbols)


# ---------------------------------------------------------------------------
# dashboard panels (spark.sql surface)
# ---------------------------------------------------------------------------


def _panel_fn(panel: str):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        enriched = _enriched(spark, sf_dir, dashboard.PANEL_SYMBOLS[panel])
        return dashboard.run_panel(spark, enriched, panel)

    run.__name__ = f"q_{panel}"
    run.__doc__ = f"Grafana {panel} via spark.sql (plans/dashboard.py)."
    return run


# ---------------------------------------------------------------------------
# skip-and-serve: the dashboard served through the sharded + zone-mapped
# at-rest layout (sources/dataset.py + sources/zonemap.py) instead of a
# flat parquet scan — the engine-native analogue of the reference serving
# its panels from QuestDB's daily-partitioned stock_data table
# (db/init_questdb.sql:20-21).
# ---------------------------------------------------------------------------

#: symbols written into the serving dataset (multi-partition on purpose:
#: partition pruning on stock_symbol composes with zone-map file skipping
#: on local_time)
SHARD_SYMBOLS = ["1", "2", "3", "4", "42"]
#: small per-file row cap so each symbol partition holds several
#: time-sorted files — the zone map needs >1 file per partition to have
#: anything to skip at test scale; at 100 TB the same knob bounds file
#: size instead
SHARD_MAX_RECORDS = 20

#: Layout/enrichment version baked into the serving store's _ready.json
#: marker.  Bump whenever the ENRICHMENT LOGIC or the STORE LAYOUT
#: changes (new indicator columns, different partition/sort scheme,
#: sidecar format): a store left in the shared tempdir by an OLDER
#: engine version then fails the marker check and is rewritten, instead
#: of the serve-only rows silently benching/verifying against stale
#: data (ADVICE r7).  1 = r6 layout (17-col enriched, stock_symbol
#: partitions, local_time sort + zonemap).
SHARD_LAYOUT_VERSION = 1


def sharded_panel_dataset(spark: SparkSession, sf_dir: str) -> str:
    """Write (overwrite) the enriched-candle serving dataset for
    ``sf_dir`` and return its path: Hive-partitioned by stock_symbol,
    within-file-sorted on local_time, zone-map manifest on local_time.

    Enrichment runs BEFORE the write on each symbol's full history —
    exactly like the reference's consumer, which lands already-enriched
    rows in QuestDB — so serving-time range reads need no window
    recomputation.  Deterministic and idempotent per (sf_dir) call.
    """
    from big_data_engineering_financial_analysis_spark.sources.dataset import write_sharded
    from big_data_engineering_financial_analysis_spark.sources.zonemap import build_zonemap

    path = _serving_store_path(sf_dir)
    enriched = _enriched(spark, sf_dir, SHARD_SYMBOLS)
    write_sharded(
        enriched,
        path,
        partition_cols=["stock_symbol"],
        sort_cols=["local_time"],
        max_records_per_file=SHARD_MAX_RECORDS,
    )
    build_zonemap(path, ["local_time"])
    return path


def ensure_sharded_panel_dataset(spark: SparkSession, sf_dir: str) -> str:
    """Idempotent-cheap variant of :func:`sharded_panel_dataset`: write
    the serving dataset ONLY if absent or written under a different
    config, else return the existing path untouched.  This is the
    serving-path contract — the store is written once at ingest and then
    queried many times — and what lets the serve-only registry twins be
    benched without the write masking the pruned-read latency
    (round-6 verdict ask #7)."""
    import json
    import os

    path = _serving_store_path(sf_dir)
    marker = os.path.join(path, "_ready.json")
    want = {
        "layout_version": SHARD_LAYOUT_VERSION,
        "symbols": SHARD_SYMBOLS,
        "max_records": SHARD_MAX_RECORDS,
    }
    try:
        with open(marker) as fh:
            if json.load(fh) == want:
                return path
    except (OSError, ValueError):
        pass
    sharded_panel_dataset(spark, sf_dir)
    with open(marker, "w") as fh:
        json.dump(want, fh)
    return path


def _serving_store_path(sf_dir: str) -> str:
    """THE serving-store location for ``sf_dir`` — single definition so
    the writer (`sharded_panel_dataset`) and the ensure-marker guard
    (`ensure_sharded_panel_dataset`) can never drift apart: the marker's
    whole contract is that it guards exactly the directory the writer
    wrote."""
    import os
    import tempfile

    return os.path.join(
        tempfile.gettempdir(),
        "bdefa_sharded",
        os.path.basename(os.path.normpath(sf_dir)),
        "stock_data",
    )


#: zone-map time bounds each panel's SQL carries (the pinned dashboard
#: range); panels without a time predicate read every file of their
#: symbol partition — Hive pruning still applies, the zone map has
#: nothing to cut
PANEL_TIME_BOUNDS: dict[str, tuple[str | None, str | None]] = {
    "panel_indicator_series": ("2024-01-05 00:00:00", "2024-01-20 00:00:00"),
    "panel_candlestick": ("2024-01-05 00:00:00", "2024-01-20 00:00:00"),
}


def run_panel_sharded(spark: SparkSession, sf_dir: str, panel: str) -> DataFrame:
    """Serve ANY dashboard panel through the sharded + zone-mapped store:
    file-level skipping on the panel's time bounds (when it has them),
    Hive partition pruning on stock_symbol, residual filters in the
    panel's own SQL.  Result contract: identical to the flat-scan panel
    (pruning is an optimization, never a semantics change) — equality +
    skip-count proofs in tests/test_sharded_panel.py."""
    import datetime as dt

    from big_data_engineering_financial_analysis_spark.sources.zonemap import read_pruned_multi

    path = ensure_sharded_panel_dataset(spark, sf_dir)
    lo_s, hi_s = PANEL_TIME_BOUNDS.get(panel, (None, None))
    lo = dt.datetime.fromisoformat(lo_s) if lo_s else None
    hi = dt.datetime.fromisoformat(hi_s) if hi_s else None
    df = read_pruned_multi(spark, path, [("local_time", lo, hi)])
    return dashboard.run_panel(spark, df, panel)


def _panel_sharded_fn(panel: str):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return run_panel_sharded(spark, sf_dir, panel)

    run.__name__ = f"q_{panel}_sharded"
    run.__doc__ = (
        f"Grafana {panel} served skip-and-serve through the sharded + "
        "zone-mapped store (write staged once by "
        "ensure_sharded_panel_dataset; this query is serve-only)."
    )
    return run


def q_panel_price_series_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serve-only twin of ``panel_price_series_sharded``: identical
    pruned-read + projection, but the dataset write is staged via
    :func:`ensure_sharded_panel_dataset` (idempotent, once per sf_dir)
    instead of rewritten per call — so its bench time IS the pruned-read
    latency the skip-and-serve layer exists to deliver."""
    import datetime as dt

    from big_data_engineering_financial_analysis_spark.plans.registry import T_END, T_START
    from big_data_engineering_financial_analysis_spark.sources.zonemap import read_pruned_multi

    path = ensure_sharded_panel_dataset(spark, sf_dir)
    lo = dt.datetime.fromisoformat(T_START)
    hi = dt.datetime.fromisoformat(T_END)
    df = read_pruned_multi(spark, path, [("local_time", lo, hi)])
    return (
        df.filter(F.col("stock_symbol") == "42")
        .select(
            "local_time",
            "close",
            F.round("sma_5", 6).alias("sma_5"),
            F.round("ema_10", 6).alias("ema_10"),
        )
    )


def q_panel_price_series_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grafana price/indicator series served skip-and-serve: the query
    plans only the files whose local_time zone intersects the panel's
    range (zone-map manifest) inside only the sym=42 partition directory
    (Hive partition pruning) — file skipping proven by
    ``tests/test_sharded_panel.py``.  Result contract: identical to the
    flat-scan ``panel_indicator_series``-style twin (pruning is an
    optimization, never a semantics change)."""
    import datetime as dt

    from big_data_engineering_financial_analysis_spark.plans.registry import T_END, T_START
    from big_data_engineering_financial_analysis_spark.sources.zonemap import read_pruned_multi

    path = sharded_panel_dataset(spark, sf_dir)
    lo = dt.datetime.fromisoformat(T_START)
    hi = dt.datetime.fromisoformat(T_END)
    df = read_pruned_multi(spark, path, [("local_time", lo, hi)])
    return (
        df.filter(F.col("stock_symbol") == "42")
        .select(
            "local_time",
            "close",
            F.round("sma_5", 6).alias("sma_5"),
            F.round("ema_10", 6).alias("ema_10"),
        )
    )


# ---------------------------------------------------------------------------
# extended analytics
# ---------------------------------------------------------------------------


def q_order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics_ext.order_priority_check(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )


def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics_ext.customers_without_orders(
        load_table(spark, sf_dir, "customer"), load_table(spark, sf_dir, "orders")
    )


def q_top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics_ext.top_orders_per_customer(load_table(spark, sf_dir, "orders"))


def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics_ext.promo_revenue_ratio(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


def q_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics_ext.returned_items(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


def q_parts_above_avg_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics_ext.parts_above_avg_price(load_table(spark, sf_dir, "part"))


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics_ext.sessionize(load_table(spark, sf_dir, "events"))


def q_tumbling_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics_ext.tumbling_window_stats(load_table(spark, sf_dir, "events"))


def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics_ext.value_percentiles(load_table(spark, sf_dir, "events"))


def q_time_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics_ext.time_functions(load_table(spark, sf_dir, "events"))


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/asof.py): each purchase event picks up the
    latest prior-or-equal 'view' value of the same user.  Oracle: DuckDB's
    native ASOF LEFT JOIN — two completely different formulations, same
    result."""
    from big_data_engineering_financial_analysis_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    views = ev.filter(F.col("event_type") == "view").select("user_id", "ts", "value")
    out = asof_join(purchases, views, "user_id", "ts", ["value"])
    return out.select(
        "event_id",
        "user_id",
        F.col("ts").alias("local_time"),
        "value",
        F.col("value_asof").alias("last_view_value"),
    )


def q_range_join_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketized range join (operators/asof.py): same-user event pairs
    within 10 minutes, time-ordered.  Oracle: plain inequality join."""
    from big_data_engineering_financial_analysis_spark.operators.asof import range_join_pairs

    ev = load_table(spark, sf_dir, "events")
    return range_join_pairs(ev, "user_id", "ts", "event_id", max_gap_s=600)


def q_trailing_time_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics_ext.trailing_time_avg(load_table(spark, sf_dir, "events"))


def q_value_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics_ext.value_quartiles(load_table(spark, sf_dir, "events"))


def q_pricing_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics_ext.pricing_cube(load_table(spark, sf_dir, "lineitem"))


def q_ilp_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics_ext.ilp_lines(_enriched(spark, sf_dir, ["7", "23"]))


def q_nation_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join coverage: every nation with its customer/order
    activity, zeros preserved via coalesce (nations without customers stay
    in the result — the join family the core queries don't touch)."""
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    cust_orders = (
        customer.join(
            orders.groupBy("o_custkey").agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum("o_totalprice").alias("total_spend"),
            ),
            customer.c_custkey == F.col("o_custkey"),
            "left",
        )
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.coalesce(F.col("n_orders"), F.lit(0))).alias("n_orders"),
            F.round(F.sum(F.coalesce(F.col("total_spend"), F.lit(0.0))), 2).alias("total_spend"),
        )
    )
    return nation.join(
        cust_orders, nation.n_nationkey == F.col("c_nationkey"), "left"
    ).select(
        "n_nationkey",
        "n_name",
        F.coalesce(F.col("n_customers"), F.lit(0)).alias("n_customers"),
        F.coalesce(F.col("n_orders"), F.lit(0)).alias("n_orders"),
        F.coalesce(F.col("total_spend"), F.lit(0.0)).alias("total_spend"),
    )


def q_salted_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase aggregation (operators/skew.py), oracle-checked
    against the PLAIN single-phase SQL — proving salting changes the plan,
    not the answer."""
    from big_data_engineering_financial_analysis_spark.operators.skew import salted_agg

    ev = load_table(spark, sf_dir, "events")
    return salted_agg(ev, "event_type", "event_id")


def q_lstm_dataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W10/F10 composition: per-key min-max scaled series with the
    reference's 80/20 chronological train/test split
    (AI-LSTM notebook cell 4: first 80% train, remainder test)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    wall = Window.partitionBy("user_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(wall))
        .withColumn("mn", F.min("value").over(wall))
        .withColumn("mx", F.max("value").over(wall))
        .select(
            "user_id",
            F.col("ts").alias("local_time"),
            F.col("value").alias("label"),
            F.round(
                (F.col("value") - F.col("mn")) / F.nullif(F.col("mx") - F.col("mn"), F.lit(0.0)),
                6,
            ).alias("scaled_label"),
            (F.col("rn") <= F.floor(F.lit(0.8) * F.col("n"))).cast("int").alias("train_flag"),
        )
    )


def q_exact_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users and exact interpolated median per event type:
    count_distinct + percentile, deterministic, hash-checked against
    DuckDB."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_users"),
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# oracles
# ---------------------------------------------------------------------------

#: dashboard panel SQL runs unchanged on the DuckDB side — just swap the
#: view name (enriched CTE provides the same columns).
def _panel_oracle(panel: str) -> str:
    from big_data_engineering_financial_analysis_spark.plans.registry import ENRICHED_CTE

    return ENRICHED_CTE + dashboard.PANEL_SQL[panel].replace("stock_data", "enriched")


_GAP_US = analytics_ext.SESSION_GAP_MIN * 60 * 1_000_000

ORACLES: dict[str, str] = {
    "scd2_pit_join": """
        WITH dim AS (
          SELECT s_suppkey, s_acctbal,
                 TIMESTAMP '1995-01-01' AS valid_from,
                 CAST(NULL AS TIMESTAMP) AS valid_to
          FROM supplier WHERE s_suppkey % 5 <> 0
          UNION ALL
          SELECT s_suppkey, s_acctbal,
                 TIMESTAMP '1995-01-01', TIMESTAMP '1996-06-01'
          FROM supplier WHERE s_suppkey % 5 = 0
          UNION ALL
          SELECT s_suppkey, s_acctbal + 100.0,
                 TIMESTAMP '1996-06-01', CAST(NULL AS TIMESTAMP)
          FROM supplier WHERE s_suppkey % 5 = 0
        ),
        facts AS (
          SELECT l_suppkey, o_orderdate
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        )
        SELECT year(o_orderdate) AS yr, count(*) AS n,
               round(sum(s_acctbal), 2) AS sum_bal,
               count(DISTINCT s_suppkey) AS n_suppliers
        FROM facts JOIN dim
          ON l_suppkey = s_suppkey
         AND o_orderdate >= valid_from
         AND (valid_to IS NULL OR o_orderdate < valid_to)
        GROUP BY yr
    """,

    "cohort_retention": """
        WITH signup AS (
          SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
          FROM events WHERE event_type = 'signup' GROUP BY user_id
        ),
        activity AS (
          SELECT DISTINCT user_id, date_trunc('week', ts) AS activity_week
          FROM events
        )
        SELECT cohort_week, activity_week, count(*) AS n_users
        FROM signup JOIN activity USING (user_id)
        WHERE activity_week >= cohort_week
        GROUP BY cohort_week, activity_week
    """,

    "funnel_analysis": """
        WITH t1 AS (
          SELECT user_id, min(ts) AS t1 FROM events
          WHERE event_type = 'view' GROUP BY user_id
        ),
        t2 AS (
          SELECT e.user_id, min(e.ts) AS t2
          FROM events e JOIN t1 USING (user_id)
          WHERE e.event_type = 'click' AND e.ts > t1.t1
          GROUP BY e.user_id
        ),
        t3 AS (
          SELECT e.user_id, min(e.ts) AS t3
          FROM events e JOIN t2 USING (user_id)
          WHERE e.event_type = 'purchase' AND e.ts > t2.t2
          GROUP BY e.user_id
        )
        SELECT '1:view' AS step, count(*) AS n_users FROM t1
        UNION ALL
        SELECT '2:view>click', count(*) FROM t2
        UNION ALL
        SELECT '3:view>click>purchase', count(*) FROM t3
    """,
    "temporal_split": """
        SELECT CASE WHEN ts < TIMESTAMP '2024-01-20 00:00:00' THEN 'train'
                    WHEN ts < TIMESTAMP '2024-01-22 00:00:00' THEN 'embargo'
                    ELSE 'test' END AS role,
               count(*) AS n,
               count(DISTINCT user_id) AS n_symbols,
               min(ts) AS first_ts,
               max(ts) AS last_ts
        FROM events GROUP BY role
    """,

    "salted_topk_orders": """
        WITH ranked AS (
          SELECT o_custkey, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders
        )
        SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS o_totalprice, rn
        FROM ranked WHERE rn <= 3
    """,

    "data_quality_report": """
        SELECT 'not_null:o_custkey' AS check,
               count(*) FILTER (o_custkey IS NULL) AS n_violations,
               count(*) AS n_checked
        FROM orders
        UNION ALL
        SELECT 'in_range:value',
               count(*) FILTER (value IS NOT NULL AND (value < 0.0 OR value > 1000.0)),
               count(*) FILTER (value IS NOT NULL)
        FROM events
        UNION ALL
        SELECT 'accepted:o_orderstatus',
               count(*) FILTER (o_orderstatus IS NOT NULL
                                AND o_orderstatus NOT IN ('O', 'F', 'P')),
               count(*) FILTER (o_orderstatus IS NOT NULL)
        FROM orders
        UNION ALL
        SELECT 'unique:o_orderkey',
               count(o_orderkey) - count(DISTINCT o_orderkey),
               count(o_orderkey)
        FROM orders
        UNION ALL
        SELECT 'ref:l_orderkey',
               count(*) FILTER (o_orderkey IS NULL),
               count(*)
        FROM (SELECT l_orderkey FROM lineitem WHERE l_orderkey IS NOT NULL) l
        LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
          ON l_orderkey = o_orderkey
        UNION ALL
        SELECT 'ref:o_custkey',
               count(*) FILTER (c IS NULL),
               count(*)
        FROM (SELECT o_custkey FROM orders WHERE o_custkey IS NOT NULL) od
        LEFT JOIN (SELECT DISTINCT c_custkey AS c FROM customer) cu
          ON o_custkey = c
    """,

    "unpivot_close_stats": """
        WITH wide AS (
          SELECT CAST(user_id AS VARCHAR) AS stock_symbol,
                 round(min(value), 6) AS min_close,
                 round(max(value), 6) AS max_close,
                 round(avg(value), 6) AS avg_close
          FROM events WHERE user_id IN (7, 23, 42, 99)
          GROUP BY stock_symbol
        )
        SELECT stock_symbol, metric, value
        FROM wide UNPIVOT (value FOR metric IN (min_close, max_close, avg_close))
    """,

    "incremental_rollup": """
        SELECT event_type, count(value) AS n,
               round(sum(value), 2) AS sum_v,
               round(min(value), 6) AS min_v,
               round(max(value), 6) AS max_v,
               round(sum(value) / nullif(count(value), 0), 6) AS avg_v
        FROM events GROUP BY event_type
    """,

    # expected-result construction (independent of the join algorithm):
    # surviving originals ∪ repriced update batch
    "orders_upsert": """
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey % 7 <> 0
        UNION ALL
        SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
               o_totalprice * 1.1 AS o_totalprice, o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey % 7 = 0
    """,
    # SCD2 expected output by case: untouched current rows (incl. the
    # value-identical re-delivery, which must NOT version-bump) ∪ closed-out
    # changed rows ∪ their new versions ∪ brand-new keys
    "supplier_scd2": """
        SELECT s_suppkey, s_name, s_nationkey, s_acctbal,
               TIMESTAMP '1995-01-01' AS valid_from, CAST(NULL AS TIMESTAMP) AS valid_to
        FROM supplier WHERE s_suppkey % 5 <> 0
        UNION ALL
        SELECT s_suppkey, s_name, s_nationkey, s_acctbal,
               TIMESTAMP '1995-01-01', TIMESTAMP '1996-06-01'
        FROM supplier WHERE s_suppkey % 5 = 0
        UNION ALL
        SELECT s_suppkey, s_name, s_nationkey, s_acctbal + 100.0,
               TIMESTAMP '1996-06-01', CAST(NULL AS TIMESTAMP)
        FROM supplier WHERE s_suppkey % 5 = 0
        UNION ALL
        SELECT s_suppkey + 1000000, 'NEW#' || CAST(s_suppkey AS VARCHAR), s_nationkey, 0.0,
               TIMESTAMP '1996-06-01', CAST(NULL AS TIMESTAMP)
        FROM supplier WHERE s_suppkey % 3 = 0
    """,
    "order_priority_check": """
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders o
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1996-04-01'
          AND EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_shipdate > o.o_orderdate)
        GROUP BY o_orderpriority
    """,
    "customers_without_orders": """
        SELECT c_nationkey, count(*) AS n_customers, min(c_custkey) AS min_custkey
        FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        GROUP BY c_nationkey
    """,
    "top_orders_per_customer": """
        SELECT o_custkey, o_orderkey, o_totalprice,
               CAST(rnk AS BIGINT) AS rnk
        FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey) AS rnk
          FROM orders
        ) WHERE rnk <= 3
    """,
    "promo_revenue": """
        SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                      THEN l_extendedprice * (1 - l_discount)
                                      ELSE 0.0 END)
                     / sum(l_extendedprice * (1 - l_discount)), 6) AS promo_revenue_pct
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1996-02-01'
    """,
    "returned_items": """
        SELECT c_custkey, c_name, c_nationkey,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1996-07-01'
        GROUP BY c_custkey, c_name, c_nationkey
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
    """,
    "parts_above_avg_price": """
        SELECT p_partkey, p_name, p_retailprice, avg_price
        FROM part CROSS JOIN (SELECT round(avg(p_retailprice), 6) AS avg_price FROM part)
        WHERE p_retailprice > avg_price
    """,
    "sessionize": f"""
        WITH flagged AS (
          SELECT user_id, ts, value,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {_GAP_US}
                      THEN 1 ELSE 0 END AS is_new
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ),
        sess AS (
          SELECT user_id, ts, value,
                 CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS session_id
          FROM flagged
        )
        SELECT user_id, session_id, count(*) AS n_events,
               min(ts) AS session_start, max(ts) AS session_end,
               round(sum(value), 6) AS session_value
        FROM sess GROUP BY user_id, session_id
    """,
    "tumbling_window_stats": """
        SELECT time_bucket(INTERVAL '60 minutes', ts) AS bucket_start, event_type,
               count(*) AS n, round(sum(value), 6) AS sum_value
        FROM events GROUP BY 1, 2
    """,
    "value_percentiles": """
        SELECT event_type,
               round(quantile_cont(value, 0.5), 6)  AS p50,
               round(quantile_cont(value, 0.9), 6)  AS p90,
               round(quantile_cont(value, 0.99), 6) AS p99
        FROM events GROUP BY event_type
    """,
    "time_functions": """
        SELECT event_id,
               epoch_us(ts) AS epoch_us,
               epoch_us(ts) * 1000 AS epoch_ns,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS time_str,
               date_trunc('hour', ts) AS hour_bucket,
               CAST(dayofweek(ts) + 1 AS BIGINT) AS dow
        FROM events
    """,
    "asof_join": """
        SELECT l.event_id, l.user_id, l.ts AS local_time, l.value,
               r.value AS last_view_value
        FROM (SELECT event_id, user_id, ts, value FROM events
              WHERE event_type = 'purchase') l
        ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
                        WHERE event_type = 'view') r
          ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
    "range_join_pairs": """
        SELECT a.user_id, a.event_id AS id_a, b.event_id AS id_b,
               a.ts AS t_a, b.ts AS t_b
        FROM events a JOIN events b
          ON a.user_id = b.user_id
         AND (a.ts < b.ts OR (a.ts = b.ts AND a.event_id < b.event_id))
         AND epoch_us(b.ts) - epoch_us(a.ts) <= 600000000
    """,
    "trailing_time_avg": """
        SELECT event_id, user_id, ts AS local_time,
               count(*) OVER wr AS n_trailing,
               round(avg(value) OVER wr, 6) AS avg_trailing
        FROM events
        WINDOW wr AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                      RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
    "value_quartiles": """
        SELECT event_type, quartile, count(*) AS n,
               min(value) AS min_value, max(value) AS max_value
        FROM (
          SELECT event_type, value,
                 CAST(ntile(4) OVER (PARTITION BY event_type
                                     ORDER BY value, event_id) AS BIGINT) AS quartile
          FROM events
        )
        GROUP BY event_type, quartile
    """,
    "pricing_cube": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty, count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    "lstm_dataset": """
        SELECT user_id, ts AS local_time, value AS label,
               round((value - mn) / nullif(mx - mn, 0.0), 6) AS scaled_label,
               CAST(CASE WHEN rn <= floor(0.8 * n) THEN 1 ELSE 0 END AS INTEGER) AS train_flag
        FROM (
          SELECT user_id, ts, value,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn,
                 count(*)   OVER (PARTITION BY user_id) AS n,
                 min(value) OVER (PARTITION BY user_id) AS mn,
                 max(value) OVER (PARTITION BY user_id) AS mx
          FROM events
        )
    """,
    "nation_customer_orders": """
        WITH co AS (
          SELECT c_nationkey, count(*) AS n_customers,
                 CAST(sum(coalesce(n_orders, 0)) AS BIGINT) AS n_orders,
                 round(sum(coalesce(total_spend, 0.0)), 2) AS total_spend
          FROM customer
          LEFT JOIN (SELECT o_custkey, count(*) AS n_orders,
                            sum(o_totalprice) AS total_spend
                     FROM orders GROUP BY o_custkey) o
            ON c_custkey = o_custkey
          GROUP BY c_nationkey
        )
        SELECT n_nationkey, n_name,
               coalesce(n_customers, 0) AS n_customers,
               coalesce(n_orders, 0) AS n_orders,
               coalesce(total_spend, 0.0) AS total_spend
        FROM nation LEFT JOIN co ON n_nationkey = c_nationkey
    """,
    "salted_event_stats": """
        SELECT event_type, count(*) AS n,
               round(sum(value), 2) AS sum_value,
               round(sum(value) / count(*), 6) AS avg_value,
               min(value) AS min_value, max(value) AS max_value
        FROM events GROUP BY event_type
    """,
    "exact_distinct": """
        SELECT event_type,
               count(DISTINCT user_id) AS n_users,
               round(quantile_cont(value, 0.5), 6) AS p50,
               count(*) AS n
        FROM events GROUP BY event_type
    """,
}


def _ilp_oracle() -> str:
    from big_data_engineering_financial_analysis_spark.plans.registry import ENRICHED_CTE

    num = lambda c: f"coalesce(printf('%.6f', {c}), 'nan')"
    return ENRICHED_CTE + f"""
        SELECT event_id,
               printf('stock_data,stock_symbol=%s close=%s,sma_5=%s,ema_10=%s,rsi_10=%s,signal="%s" %d',
                      stock_symbol, {num("close")}, {num("sma_5")}, {num("ema_10")},
                      {num("rsi_10")}, signal, epoch_us(local_time) * 1000) AS line
        FROM enriched
        WHERE stock_symbol IN ('7', '23')
    """


# ---------------------------------------------------------------------------
# incremental ingest: keyed upsert + SCD2 (operators/merge.py)
# ---------------------------------------------------------------------------


def q_orders_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-wins MERGE: a synthetic update batch (every 7th order,
    repriced +10% and statused 'U') replaces matching rows of orders."""
    from big_data_engineering_financial_analysis_spark.operators.merge import upsert

    orders = load_table(spark, sf_dir, "orders")
    updates = (
        orders.filter(F.col("o_orderkey") % 7 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 1.1)
        .withColumn("o_orderstatus", F.lit("U"))
    )
    return upsert(orders, updates, ["o_orderkey"])


SCD2_EFFECTIVE = "1996-06-01"
SCD2_BASE = "1995-01-01"


def q_supplier_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 apply on the supplier dim: every 5th supplier's balance
    moves (+100 -> close + new version), every (5k+1)th is re-delivered
    unchanged (no-op, no phantom version), every 3rd spawns a brand-new
    key (insert)."""
    from big_data_engineering_financial_analysis_spark.operators.merge import scd2_apply

    sup = load_table(spark, sf_dir, "supplier")
    dim = sup.withColumn("valid_from", F.lit(SCD2_BASE).cast("timestamp")).withColumn(
        "valid_to", F.lit(None).cast("timestamp")
    )
    changed = sup.filter(F.col("s_suppkey") % 5 == 0).withColumn(
        "s_acctbal", F.col("s_acctbal") + 100.0
    )
    noop = sup.filter(F.col("s_suppkey") % 5 == 1)
    fresh = sup.filter(F.col("s_suppkey") % 3 == 0).select(
        (F.col("s_suppkey") + 1000000).alias("s_suppkey"),
        F.concat(F.lit("NEW#"), F.col("s_suppkey").cast("string")).alias("s_name"),
        F.col("s_nationkey"),
        F.lit(0.0).alias("s_acctbal"),
    )
    changes = changed.unionByName(noop).unionByName(fresh)
    return scd2_apply(
        dim, changes, "s_suppkey",
        ["s_name", "s_nationkey", "s_acctbal"], SCD2_EFFECTIVE,
    )


def q_unpivot_close_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long reshape (§2.8 set ops family): per-symbol close stats
    unpivoted to (symbol, metric, value) rows — DataFrame.unpivot is the
    Spark-native melt; the oracle uses DuckDB's UNPIVOT."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isin([7, 23, 42, 99])
    )
    wide = (
        ev.groupBy(F.col("user_id").cast("string").alias("stock_symbol"))
        .agg(
            F.round(F.min("value"), 6).alias("min_close"),
            F.round(F.max("value"), 6).alias("max_close"),
            F.round(F.avg("value"), 6).alias("avg_close"),
        )
    )
    return wide.unpivot(
        ids=["stock_symbol"],
        values=["min_close", "max_close", "avg_close"],
        variableColumnName="metric",
        valueColumnName="value",
    )


def q_data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative table audit (operators/validation.py): null / range /
    domain / uniqueness / referential checks compiled to conditional
    aggregates and anti-join counts — the whole report is a handful of
    map-side-combined jobs with only check-sized rows leaving executors."""
    from big_data_engineering_financial_analysis_spark.operators.validation import (
        check_accepted,
        check_in_range,
        check_not_null,
        check_ref_integrity,
        check_unique,
        quality_report,
    )

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    customer = load_table(spark, sf_dir, "customer")
    events = load_table(spark, sf_dir, "events")
    return quality_report([
        check_not_null(orders, "o_custkey"),
        check_in_range(events, "value", 0.0, 1000.0),
        check_accepted(orders, "o_orderstatus", ["O", "F", "P"]),
        check_unique(orders, ["o_orderkey"]),
        check_ref_integrity(lineitem, "l_orderkey", orders, "o_orderkey"),
        check_ref_integrity(orders, "o_custkey", customer, "c_custkey"),
    ])


def q_salted_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase top-3 orders per customer
    (operators/skew.salted_topk_per_group) — paired with the NAIVE
    single-window oracle to prove the salted plan is result-identical."""
    from big_data_engineering_financial_analysis_spark.operators.skew import (
        salted_topk_per_group,
    )

    orders = load_table(spark, sf_dir, "orders")
    out = salted_topk_per_group(
        orders.select("o_custkey", "o_orderkey", "o_totalprice"),
        keys=["o_custkey"], order_col="o_totalprice", k=3,
        tiebreak_col="o_orderkey",
    )
    return out.select(
        "o_custkey", "o_orderkey",
        F.round("o_totalprice", 2).alias("o_totalprice"), "rn",
    )


def q_funnel_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel over the event stream: users who viewed,
    then clicked AFTER the first view, then purchased AFTER that click.
    Each stage is a keyed min-aggregate joined on user — co-partitioned
    shuffles whose input shrinks every stage (classic funnel pruning)."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    t1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id").agg(F.min("ts").alias("t1"))
    )
    t2 = (
        ev.filter(F.col("event_type") == "click")
        .join(t1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id").agg(F.min("ts").alias("t2"))
    )
    t3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(t2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id").agg(F.min("ts").alias("t3"))
    )
    def stage(name, frame):
        return frame.agg(
            F.lit(name).alias("step"), F.count(F.lit(1)).alias("n_users")
        )
    return (
        stage("1:view", t1)
        .unionByName(stage("2:view>click", t2))
        .unionByName(stage("3:view>click>purchase", t3))
    )


def q_temporal_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe time-series split: train strictly before the cutoff,
    an embargo gap (dropped), test strictly after — the split every
    walk-forward financial model needs (random splits leak lookahead)."""
    ev = load_table(spark, sf_dir, "events")
    role = (
        F.when(F.col("ts") < "2024-01-20 00:00:00", "train")
        .when(F.col("ts") < "2024-01-22 00:00:00", "embargo")
        .otherwise("test")
    )
    return (
        ev.withColumn("role", role)
        .groupBy("role")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("user_id").alias("n_symbols"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
    )


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users bucketed by the week of their first
    signup event, counted in every later week they show any activity —
    two keyed aggregates + one user-keyed join (the classic retention
    matrix in tall form)."""
    ev = load_table(spark, sf_dir, "events")
    signup = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.date_trunc("week", F.min("ts")).alias("cohort_week"))
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("activity_week")
    ).distinct()
    return (
        signup.join(activity, "user_id")
        .filter(F.col("activity_week") >= F.col("cohort_week"))
        .groupBy("cohort_week", "activity_week")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def q_scd2_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time fact lookup against the SCD2 supplier dim: each
    lineitem joins the supplier VERSION valid at its order date, so the
    +100 balance restatement after 1996-06-01 shows only in later years
    (operators/merge.pit_join — the anti-leakage join SCD2 exists for)."""
    from big_data_engineering_financial_analysis_spark.operators.merge import pit_join

    dim = q_supplier_scd2(spark, sf_dir)
    facts = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey")
        .join(
            load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
    )
    j = pit_join(facts, dim, "l_suppkey", "s_suppkey", "o_orderdate")
    return j.groupBy(F.year("o_orderdate").alias("yr")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("s_acctbal"), 2).alias("sum_bal"),
        F.count_distinct("s_suppkey").alias("n_suppliers"),
    )


ROLLUP_CUTOFF = "2024-01-15 00:00:00"


def q_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MV refresh parity: history is split at a cutoff into a
    base partial table and a delta batch; the merged partials must equal
    the oracle's direct full-history GROUP BY (operators/incremental.py —
    count/sum/min/max merge, avg derived at read)."""
    from big_data_engineering_financial_analysis_spark.operators.incremental import (
        finalize,
        merge_partials,
        to_partials,
    )

    ev = load_table(spark, sf_dir, "events")
    base = to_partials(ev.filter(F.col("ts") < ROLLUP_CUTOFF), ["event_type"], "value")
    delta = to_partials(ev.filter(F.col("ts") >= ROLLUP_CUTOFF), ["event_type"], "value")
    out = finalize(merge_partials(base, delta, ["event_type"]))
    return out.select(
        "event_type",
        "n",
        F.round("sum_v", 2).alias("sum_v"),
        F.round("min_v", 6).alias("min_v"),
        F.round("max_v", 6).alias("max_v"),
        F.round("avg_v", 6).alias("avg_v"),
    )


QUERIES = {
    "orders_upsert": q_orders_upsert,
    "incremental_rollup": q_incremental_rollup,
    "unpivot_close_stats": q_unpivot_close_stats,
    "data_quality_report": q_data_quality_report,
    "salted_topk_orders": q_salted_topk_orders,
    "funnel_analysis": q_funnel_analysis,
    "temporal_split": q_temporal_split,
    "cohort_retention": q_cohort_retention,
    "scd2_pit_join": q_scd2_pit_join,
    "supplier_scd2": q_supplier_scd2,
    "order_priority_check": q_order_priority_check,
    "customers_without_orders": q_customers_without_orders,
    "top_orders_per_customer": q_top_orders_per_customer,
    "promo_revenue": q_promo_revenue,
    "returned_items": q_returned_items,
    "parts_above_avg_price": q_parts_above_avg_price,
    "sessionize": q_sessionize,
    "tumbling_window_stats": q_tumbling_window_stats,
    "value_percentiles": q_value_percentiles,
    "time_functions": q_time_functions,
    "ilp_lines": q_ilp_lines,
    "lstm_dataset": q_lstm_dataset,
    "exact_distinct": q_exact_distinct,
    "nation_customer_orders": q_nation_customer_orders,
    "salted_event_stats": q_salted_event_stats,
    "asof_join": q_asof_join,
    "range_join_pairs": q_range_join_pairs,
    "trailing_time_avg": q_trailing_time_avg,
    "value_quartiles": q_value_quartiles,
    "pricing_cube": q_pricing_cube,
}
for _panel in dashboard.PANEL_SQL:
    QUERIES[_panel] = _panel_fn(_panel)
QUERIES["panel_price_series_sharded"] = q_panel_price_series_sharded
QUERIES["panel_price_series_serve"] = q_panel_price_series_serve
# skip-and-serve twins for the TIME-BOUNDED panel families (the zone map
# has a range to cut); the symbol-only panels serve through the same
# store via run_panel_sharded with Hive pruning alone — proven by pytest
# equality, not separate registry rows
for _panel in PANEL_TIME_BOUNDS:
    QUERIES[f"{_panel}_sharded"] = _panel_sharded_fn(_panel)


def _sharded_panel_oracle() -> str:
    """Flat-scan twin of the skip-and-serve panel: pruning must never
    change results, so the oracle is the plain enriched CTE + filters."""
    from big_data_engineering_financial_analysis_spark.plans.registry import (
        ENRICHED_CTE,
        T_END,
        T_START,
    )

    return ENRICHED_CTE + f"""
        SELECT local_time, close, round(sma_5, 6) AS sma_5,
               round(ema_10, 6) AS ema_10
        FROM enriched
        WHERE stock_symbol = '42'
          AND local_time >= TIMESTAMP '{T_START}'
          AND local_time <= TIMESTAMP '{T_END}'
    """


def build_oracles() -> dict[str, str]:
    out = dict(ORACLES)
    out["ilp_lines"] = _ilp_oracle()
    for panel in dashboard.PANEL_SQL:
        out[panel] = _panel_oracle(panel)
    out["panel_price_series_sharded"] = _sharded_panel_oracle()
    # serve-only + sharded twins: pruning never changes results, so the
    # oracles are the flat-scan panel oracles verbatim
    out["panel_price_series_serve"] = _sharded_panel_oracle()
    for panel in PANEL_TIME_BOUNDS:
        out[f"{panel}_sharded"] = _panel_oracle(panel)
    return out


# ---------------------------------------------------------------------------
# driver-round-5: behavioral Markov transition matrix
# ---------------------------------------------------------------------------


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event-type
    sequence: P(next | current) from lead() pairs.  One keyed window
    (partitioned by user — the sequence owner) + one grouped count;
    probabilities are exact integer ratios, so the matrix is
    engine-exact without any fold tricks."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("next_type", F.lead("event_type", 1).over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("cur"), F.col("next_type").alias("nxt")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = Window.partitionBy("cur")
    return pairs.select(
        "cur",
        "nxt",
        "n",
        F.round(F.col("n") / F.sum("n").over(tot), 6).alias("prob"),
    )


QUERIES["event_transitions"] = q_event_transitions

ORACLES["event_transitions"] = """
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM events
),
pairs AS (
  SELECT event_type AS cur, next_type AS nxt, count(*) AS n
  FROM seq WHERE next_type IS NOT NULL
  GROUP BY 1, 2
)
SELECT cur, nxt, n,
       round(n / (sum(n) OVER (PARTITION BY cur)), 6) AS prob
FROM pairs
"""


# ---------------------------------------------------------------------------
# driver-round-5: A/B experiment readout (Welch's t)
# ---------------------------------------------------------------------------


def q_ab_test_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment readout in one scan: deterministic variant assignment
    (user parity — stand-in for the real assignment column), per-variant
    count/mean/sample-variance as conditional aggregates, then Welch's
    t statistic and Welch-Satterthwaite degrees of freedom as row-local
    arithmetic on the 1-row aggregate.  The pattern every experimentation
    pipeline runs at fact scale: ONE map-side-combined aggregate, O(1)
    result."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    a = F.col("user_id") % 2 == 0
    agg = ev.agg(
        F.count(F.when(a, 1)).alias("n_a"),
        F.count(F.when(~a, 1)).alias("n_b"),
        F.avg(F.when(a, F.col("value"))).alias("mean_a"),
        F.avg(F.when(~a, F.col("value"))).alias("mean_b"),
        # var = sd*sd (never pow(): libm pow can differ in the last ulp)
        (
            F.stddev_samp(F.when(a, F.col("value")))
            * F.stddev_samp(F.when(a, F.col("value")))
        ).alias("var_a"),
        (
            F.stddev_samp(F.when(~a, F.col("value")))
            * F.stddev_samp(F.when(~a, F.col("value")))
        ).alias("var_b"),
    )
    se_a = F.col("var_a") / F.col("n_a")
    se_b = F.col("var_b") / F.col("n_b")
    t = (F.col("mean_a") - F.col("mean_b")) / F.sqrt(se_a + se_b)
    df_w = (se_a + se_b) * (se_a + se_b) / (
        se_a * se_a / (F.col("n_a") - 1) + se_b * se_b / (F.col("n_b") - 1)
    )
    return agg.select(
        "n_a",
        "n_b",
        F.round("mean_a", 6).alias("mean_a"),
        F.round("mean_b", 6).alias("mean_b"),
        F.round(t, 6).alias("t_stat"),
        F.round(df_w, 4).alias("welch_df"),
    )


QUERIES["ab_test_welch"] = q_ab_test_welch

ORACLES["ab_test_welch"] = """
WITH agg AS (
  SELECT
    count(*) FILTER (user_id % 2 = 0) AS n_a,
    count(*) FILTER (user_id % 2 <> 0) AS n_b,
    avg(value) FILTER (user_id % 2 = 0) AS mean_a,
    avg(value) FILTER (user_id % 2 <> 0) AS mean_b,
    stddev_samp(value) FILTER (user_id % 2 = 0)
      * stddev_samp(value) FILTER (user_id % 2 = 0) AS var_a,
    stddev_samp(value) FILTER (user_id % 2 <> 0)
      * stddev_samp(value) FILTER (user_id % 2 <> 0) AS var_b
  FROM events WHERE event_type = 'purchase'
)
SELECT n_a, n_b, round(mean_a, 6) AS mean_a, round(mean_b, 6) AS mean_b,
  round((mean_a - mean_b)
        / sqrt(var_a / n_a + var_b / n_b), 6) AS t_stat,
  round((var_a / n_a + var_b / n_b) * (var_a / n_a + var_b / n_b)
        / ((var_a / n_a) * (var_a / n_a) / (n_a - 1)
           + (var_b / n_b) * (var_b / n_b) / (n_b - 1)), 4) AS welch_df
FROM agg
"""
