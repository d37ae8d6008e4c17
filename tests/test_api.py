"""REST API semantics (plans/api.py): shapes, validation, trailing window."""

from __future__ import annotations

from datetime import datetime

import pytest

from big_data_engineering_financial_analysis_spark.functions.indicators import enrich
from big_data_engineering_financial_analysis_spark.plans import api
from big_data_engineering_financial_analysis_spark.sources import feeder

NOW = datetime(2024, 1, 1, 1, 0, 0)


@pytest.fixture(scope="module")
def enriched(spark):
    return enrich(feeder.candles_df(spark, minutes=60)).cache()


def test_aggregate_response_shape(enriched):
    resp = api.handle_aggregate(
        enriched,
        {"aggregation": "avg", "field": "close", "stock_symbol": "BTCIRT", "period_minutes": 30},
        NOW,
    )
    assert resp["stock_symbol"] == "BTCIRT" and resp["aggregation"] == "avg"
    assert isinstance(resp["value"], float)


def test_aggregate_highest_vs_lowest(enriched):
    hi = api.handle_aggregate(
        enriched, {"aggregation": "highest", "field": "close", "stock_symbol": "BTCIRT"}, NOW
    )
    lo = api.handle_aggregate(
        enriched, {"aggregation": "lowest", "field": "close", "stock_symbol": "BTCIRT"}, NOW
    )
    assert hi["value"] >= lo["value"]


def test_validation_errors(enriched):
    with pytest.raises(api.ValidationError):
        api.handle_aggregate(enriched, {"aggregation": "median", "stock_symbol": "X"}, NOW)
    with pytest.raises(api.ValidationError):
        api.handle_aggregate(
            enriched, {"aggregation": "avg", "field": "dropme", "stock_symbol": "X"}, NOW
        )
    with pytest.raises(api.ValidationError):
        api.handle_aggregate(enriched, {"aggregation": "avg"}, NOW)
    with pytest.raises(api.ValidationError):
        api.handle_aggregate(
            enriched, {"aggregation": "avg", "stock_symbol": "X", "period_minutes": -5}, NOW
        )
    with pytest.raises(api.ValidationError):
        api.handle_aggregate(
            enriched, {"aggregation": "avg", "stock_symbol": "X", "period_minutes": True}, NOW
        )
    for symbol in (["a"], {"a": 1}):
        with pytest.raises(api.ValidationError):
            api.handle_aggregate(enriched, {"aggregation": "avg", "stock_symbol": symbol}, NOW)
    with pytest.raises(api.ValidationError):
        api.handle_summarize_multiple(enriched, {"stock_symbols": ["BTCIRT", {}]}, NOW)


def test_summarize_has_14_aggregates(enriched):
    resp = api.handle_summarize(enriched, {"stock_symbol": "BTCIRT", "period_minutes": 60}, NOW)
    assert len(resp["summary"]) == 14
    assert resp["summary"]["max_close"] >= resp["summary"]["min_close"]


def test_summarize_multiple_single_pass(enriched):
    resp = api.handle_summarize_multiple(
        enriched,
        {"stock_symbols": ["BTCIRT", "ETHIRT", "NOPE"], "period_minutes": 60},
        NOW,
    )
    assert set(resp["results"]) == {"BTCIRT", "ETHIRT", "NOPE"}
    assert resp["results"]["NOPE"] is None
    assert resp["results"]["BTCIRT"]["avg_close"] is not None
