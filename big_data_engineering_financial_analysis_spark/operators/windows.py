"""Ranking / per-group-selection / feature-window operators (SURVEY §2.6-2.8).

W8  last-row-per-(symbol,time) — reference ``groupby(...).tail(1)``
    (consumer.py:195-197).  The reference keeps *arrival* order among
    duplicates (nondeterministic); here a deterministic tiebreaker column is
    required so results are stable and oracle-checkable.
W9  latest-row-per-symbol — reference ``ORDER BY local_time DESC LIMIT 1``
    (grafana dashboard.json:604), generalized to per-key via ``max_by``.
W10 sliding feature windows for the LSTM data prep
    (AI-LSTM/LSTM_Stock_Market_Prediction.py:34-37): per key, features =
    previous ``lookback`` closes, label = current close.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def last_per_group(
    df: DataFrame, keys: list[str], order_col: str, ascending: bool = False
) -> DataFrame:
    """Keep the row with the max (or min, ``ascending=True``) ``order_col``
    per key group (W8).

    One shuffle on ``keys``; ``row_number`` over a per-group sort — at scale
    this is the standard dedup-by-rank pattern and AQE handles skewed keys.
    ``ascending`` spares min-per-group callers a synthesized negated
    helper column (which risks colliding with or leaking into schemas).
    """
    from big_data_engineering_financial_analysis_spark.operators.partitioning import spread_by

    # pin the rank window's parallelism on small inputs (r13: the r12
    # round measured this family neutral at 32 cores only; re-probed at
    # 8 AND 32 cores isolated min-of-5 — last_per_minute 0.79 -> 0.58 s
    # at 8 cores.  Selection-only: value-neutral.)
    df = spread_by(df, *keys)
    order = F.col(order_col).asc() if ascending else F.col(order_col).desc()
    w = Window.partitionBy(*keys).orderBy(order)
    return (
        df.withColumn("__lpg_rn", F.row_number().over(w))
        .filter(F.col("__lpg_rn") == 1)
        .drop("__lpg_rn")
    )


def latest_per_key(
    df: DataFrame,
    key: str,
    time_col: str,
    value_cols: list[str],
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Latest value(s) per key (W9).

    Without ``tiebreak_col``: a single ``max_by`` hash aggregate — partial
    aggregation runs map-side, so the shuffle carries one row per key per
    mapper.  This path requires unique (key, time) pairs; on ties max_by
    picks an arbitrary row.  With ``tiebreak_col``: deterministic
    window-rank selection ordered by (time desc, tiebreak desc) — one full
    shuffle, but stable on any data.
    """
    if tiebreak_col is None:
        aggs = [F.max(time_col).alias(time_col)] + [
            F.expr(f"max_by(`{c}`, `{time_col}`)").alias(c) for c in value_cols
        ]
        return df.groupBy(key).agg(*aggs)
    from big_data_engineering_financial_analysis_spark.operators.partitioning import spread_by

    # pin the rank window's parallelism on small inputs (r13; the max_by
    # branch above needs nothing — its partial aggregation is map-side)
    df = spread_by(df, key)
    w = Window.partitionBy(key).orderBy(
        F.col(time_col).desc(), F.col(tiebreak_col).desc()
    )
    return (
        df.withColumn("__lpk_rn", F.row_number().over(w))
        .filter(F.col("__lpk_rn") == 1)
        .select(key, time_col, *value_cols)
    )


def feature_windows(
    df: DataFrame,
    key_col: str,
    time_col: str,
    value_col: str,
    lookback: int = 60,
) -> DataFrame:
    """Per-key sliding lookback windows (W10): ``features`` array + label.

    ``collect_list`` over ``ROWS BETWEEN lookback PRECEDING AND 1 PRECEDING``
    preserves frame order, so ``features[i]`` is the i-th oldest close —
    matching the reference's ``scaled_data[i-60:i]`` slices.  Rows without a
    full window are dropped (``size == lookback``), like ``range(60, len)``.
    """
    from big_data_engineering_financial_analysis_spark.operators.partitioning import spread_by

    # pin the window's parallelism on small inputs (r13: isolated
    # min-of-5 0.75 -> 0.49 s at 8 cores, 0.80 -> 0.48 s at 32; the
    # per-row collect_list buffer makes this the heaviest of the light
    # window family).  Frame contents per key are unchanged: value-neutral.
    df = spread_by(df, key_col)
    w = (
        Window.partitionBy(key_col)
        .orderBy(time_col)
        .rowsBetween(-lookback, -1)
    )
    return (
        df.withColumn("features", F.collect_list(F.col(value_col)).over(w))
        .withColumn("label", F.col(value_col))
        .filter(F.size("features") == lookback)
    )


def minmax_scale(df: DataFrame, value_col: str, out_col: str = "scaled") -> DataFrame:
    """Min-max scaling (reference AI-LSTM/...py:29-31) without a collect.

    Global min/max via a single aggregate, joined back with a broadcast
    cross join (1 row) — stays fully distributed.
    """
    stats = df.agg(
        F.min(value_col).alias("__mms_mn"), F.max(value_col).alias("__mms_mx")
    )
    return (
        df.crossJoin(F.broadcast(stats))
        .withColumn(
            out_col,
            (F.col(value_col) - F.col("__mms_mn"))
            / F.nullif(F.col("__mms_mx") - F.col("__mms_mn"), F.lit(0)),
        )
        .drop("__mms_mn", "__mms_mx")
    )
