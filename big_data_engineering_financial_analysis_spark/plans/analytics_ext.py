"""Extended analytical operator coverage: semi/anti joins, per-group
ranking, sessionization, event-time buckets, exact percentiles, scalar
subqueries, and the reference's ILP sink formatting.

None of these exist in the reference's serving surface (it has no joins at
all, SURVEY §2.4), but a complete engine needs the full relational operator
set; each shape here is chosen to exercise one Spark plan family and stay
SQL-oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SESSION_GAP_MIN = 30


def order_priority_check(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """TPC-H Q4 shape: EXISTS as a LEFT SEMI join.

    Orders in a quarter that have at least one line shipped after the
    order date, counted per priority.  The semi join keeps the orders-side
    row at most once — no post-join dedup, half the shuffle of an inner
    join + distinct.
    """
    o = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-04-01"))
    )
    li = lineitem.select("l_orderkey", "l_shipdate")
    matched = o.join(
        li,
        (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return matched.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


def customers_without_orders(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """NOT EXISTS as a LEFT ANTI join: customers with no orders, per nation."""
    no_orders = customer.join(
        orders.select("o_custkey"), customer.c_custkey == F.col("o_custkey"), "left_anti"
    )
    return no_orders.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.min("c_custkey").alias("min_custkey"),
    )


def top_orders_per_customer(orders: DataFrame, k: int = 3) -> DataFrame:
    """Per-group top-k by rank — the ranking family beyond W8/W9.

    ``row_number`` (not dense_rank) with a key tiebreak keeps output
    deterministic for the oracle.
    """
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("o_custkey", "o_orderkey", "o_totalprice", F.col("rnk").cast("long").alias("rnk"))
    )


def promo_revenue_ratio(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """TPC-H Q14 shape: conditional-sum ratio over a pruned dim join.

    ``part`` is SF-scaled (200k rows/SF — ~2e10 at 100 TB), so it
    carries NO broadcast hint: the planner broadcasts the 2-column
    projection while it is under the size threshold and AQE falls back
    to a shuffled join at scale instead of forcing an OOM-sized
    broadcast.  The month filter on lineitem is pushed to the scan."""
    li = lineitem.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01")) & (F.col("l_shipdate") < F.lit("1996-02-01"))
    ).select("l_partkey", "l_extendedprice", "l_discount")
    joined = li.join(part.select("p_partkey", "p_type"), li.l_partkey == F.col("p_partkey"))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return joined.agg(
        F.round(
            F.lit(100.0)
            * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0)))
            / F.sum(rev),
            6,
        ).alias("promo_revenue_pct")
    )


def returned_items(customer: DataFrame, orders: DataFrame, lineitem: DataFrame, k: int = 20) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returns, top-k customers.

    ``customer`` is fact-scale (150k rows/SF), so no broadcast hint —
    small-side broadcast is the planner's call, shuffled join at SF."""
    li = lineitem.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01")) & (F.col("o_orderdate") < F.lit("1996-07-01"))
    ).select("o_orderkey", "o_custkey")
    rev = F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(customer.select("c_custkey", "c_name", "c_nationkey"), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_name", "c_nationkey")
        .agg(rev.alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(k)
    )


def parts_above_avg_price(part: DataFrame) -> DataFrame:
    """Scalar-subquery shape: parts priced above the global average.

    The average is a 1-row aggregate broadcast back over the scan (no
    driver collect); average rounded before comparison so the predicate
    cuts identically in the oracle.
    """
    stats = part.agg(F.round(F.avg("p_retailprice"), 6).alias("avg_price"))
    return (
        part.crossJoin(F.broadcast(stats))
        .filter(F.col("p_retailprice") > F.col("avg_price"))
        .select("p_partkey", "p_name", "p_retailprice", "avg_price")
    )


def sessionize(events: DataFrame, gap_minutes: int = SESSION_GAP_MIN) -> DataFrame:
    """Gap-based sessionization: lag + conditional cumsum session ids.

    The standard batch formulation (streaming uses ``session_window``):
    a new session starts where the gap to the previous event exceeds the
    threshold; the running sum of starts numbers the sessions per user.
    One shuffle (by user), two window passes over the same partitioning.
    """
    from big_data_engineering_financial_analysis_spark.operators.partitioning import spread_by

    # pin the window's parallelism on small inputs (r13, 8-core probe —
    # spread_by doc).  Per-user rows stay co-located and (ts)-sorted, so
    # the session numbering and the session_value accumulation order are
    # unchanged: value-neutral.
    events = spread_by(events, "user_id")
    w = Window.partitionBy("user_id").orderBy("ts")
    gap_us = gap_minutes * 60 * 1_000_000
    prev = F.lag(F.col("ts")).over(w)
    is_new = F.when(
        prev.isNull() | (F.unix_micros(F.col("ts")) - F.unix_micros(prev) > gap_us), 1
    ).otherwise(0)
    with_sess = events.withColumn(
        "session_id", F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return with_sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.round(F.sum("value"), 6).alias("session_value"),
    )


def tumbling_window_stats(events: DataFrame, minutes: int = 60) -> DataFrame:
    """Event-time tumbling-window aggregation (T4) in batch form.

    ``window(ts, ...)`` is the same operator Structured Streaming uses with
    a watermark; in batch it is a plain derived grouping column.
    """
    return (
        events.groupBy(
            F.window("ts", f"{minutes} minutes").start.alias("bucket_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
    )


def value_percentiles(events: DataFrame) -> DataFrame:
    """Exact percentiles per group (linear interpolation — matches
    DuckDB ``quantile_cont``).  At 100 TB swap for ``percentile_approx``
    and accept sketch error; the exact form is the oracle-checkable one."""
    return events.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
    )


def trailing_time_avg(events: DataFrame, window_s: int = 3600) -> DataFrame:
    """Time-based RANGE window: trailing 1-hour mean per key.

    The reference's rolling windows are row-count frames (SURVEY §2.6);
    this is the wall-clock variant — ``RANGE BETWEEN <interval> PRECEDING``
    over a numeric epoch ordering so Spark and the oracle agree exactly on
    frame membership (interval semantics vary across engines; epoch
    microseconds do not).
    """
    from big_data_engineering_financial_analysis_spark.operators.partitioning import spread_by

    # pin the window's parallelism on small inputs (r13, 8-core probe —
    # spread_by doc); frame membership and in-frame order per key are
    # unchanged: value-neutral
    events = spread_by(events, "user_id")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-window_s * 1_000_000, 0)
    )
    return events.select(
        "event_id",
        "user_id",
        F.col("ts").alias("local_time"),
        F.count(F.lit(1)).over(w).alias("n_trailing"),
        F.round(F.avg("value").over(w), 6).alias("avg_trailing"),
    )


def value_quartiles(events: DataFrame) -> DataFrame:
    """ntile(4) per event_type WITHOUT the per-type single-reducer sort.

    The literal spelling — ``ntile(4) OVER (PARTITION BY event_type
    ORDER BY value, event_id)`` — moves each type's FULL input to one
    reducer chain and sorts it there: with ~10 types at 100 TB that is
    ten tasks sorting ~10 TB each (the same funnel the token-budget
    mixture had before its two-pass rewrite).  Distributed form:

    1. :func:`~..operators.export.global_index` over
       ``(event_type, value)`` with the ``event_id`` tiebreak — the
       range-partitioned two-pass rank, where every partition sorts only
       its own slice and types are contiguous in index order.
    2. Per-type ``(start, n)`` from a types-sized aggregate, broadcast
       back; the 1-based within-type rank is ``idx − start + 1``.
    3. ntile's bucket arithmetic recovers the quartile exactly: the
       first ``n % 4`` buckets hold ``n DIV 4 + 1`` rows, the rest
       ``n DIV 4`` — all integer ``DIV``, no float drift at 1e12 rows.

    The unique-key tiebreak keeps ntile deterministic under value ties;
    ordering is nulls-last on every key (global_index pins it), which is
    the oracle's ANSI default — the old window form was only
    nulls-compatible because testdata has none.  Parity with the literal
    ntile window is pytest-pinned (tests/test_export.py)."""
    from ..operators.export import global_index

    idx = global_index(
        events.select("event_type", "value", "event_id"),
        order_cols=["event_type", "value"],
        id_col="event_id",
        index_col="_gidx",
    )
    spans = idx.groupBy("event_type").agg(
        F.min("_gidx").alias("_start"), F.count(F.lit(1)).alias("_n")
    )
    # Null-SAFE join key: groupBy keeps a NULL event_type as its own
    # group (so does the oracle's PARTITION BY), but a plain equi-join
    # would never match it back — NULL-type rows would silently vanish.
    # eqNullSafe is still a hash-joinable equi-key (no BNLJ).
    spans = spans.withColumnRenamed("event_type", "_span_type")
    return (
        idx.join(
            F.broadcast(spans),
            F.col("event_type").eqNullSafe(F.col("_span_type")),
        )
        .drop("_span_type")
        .withColumn("_r", F.col("_gidx") - F.col("_start") + F.lit(1))
        .withColumn(
            "quartile",
            F.expr(
                "CAST(CASE WHEN _r <= (_n DIV 4 + 1) * (_n % 4)"
                "  THEN (_r - 1) DIV (_n DIV 4 + 1) + 1"
                "  ELSE (_n % 4)"
                "    + (_r - (_n DIV 4 + 1) * (_n % 4) - 1) DIV (_n DIV 4)"
                "    + 1 END AS BIGINT)"
            ),
        )
        .groupBy("event_type", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
    )


def pricing_cube(lineitem: DataFrame, cutoff: str = "1998-09-02") -> DataFrame:
    """CUBE grouping-sets: all 4 grouping combinations in one pass."""
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit(cutoff))
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def time_functions(events: DataFrame) -> DataFrame:
    """Scalar time-function surface (F1-F4): epoch extraction, formatting,
    truncation — pinned to the wire formats the reference uses."""
    return events.select(
        "event_id",
        F.unix_micros("ts").alias("epoch_us"),
        (F.unix_micros("ts") * 1000).alias("epoch_ns"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("time_str"),
        F.date_trunc("hour", "ts").alias("hour_bucket"),
        F.dayofweek("ts").cast("long").alias("dow"),
    )


def ilp_lines(enriched: DataFrame) -> DataFrame:
    """InfluxDB Line Protocol formatting of enriched rows (K4/U3).

    The reference formats each row in Python
    (services/kafka-to-questdb/consumer.py:67-79):
    ``stock_data,stock_symbol=<sym> close=...,sma_5=...,signal="..." <ns>``.
    Here it is a single ``format_string`` expression — C-style %.6f keeps
    the text identical across engines (printf in the oracle).  NULL
    indicators render as the literal ``nan`` like the reference's float
    str() of NaN would.  ``event_id`` is carried through when the input
    has one (the test tables); candles parsed from the Kafka wire
    (``sources.kafka.parse_candle_json``) have none and get ``line`` only.
    """
    # Spark format_string renders a NULL arg as the text "null" (it does
    # not null the result), so the NULL case must be branched before
    # formatting; DuckDB printf nulls the result -> coalesce there.
    num = lambda c: F.when(
        F.col(c).isNotNull(), F.format_string("%.6f", F.col(c))
    ).otherwise(F.lit("nan"))
    ids = ["event_id"] if "event_id" in enriched.columns else []
    return enriched.select(
        *ids,
        F.format_string(
            'stock_data,stock_symbol=%s close=%s,sma_5=%s,ema_10=%s,rsi_10=%s,signal="%s" %d',
            F.col("stock_symbol"),
            num("close"),
            num("sma_5"),
            num("ema_10"),
            num("rsi_10"),
            F.col("signal"),
            F.unix_micros("local_time") * 1000,
        ).alias("line"),
    )
