"""REST aggregation API — request/response semantics without the HTTP.

The reference serves three POST endpoints through Django
(services/aggregator_django/aggregator/views.py):

  /api/aggregate/           one aggregation of one field over a trailing
                            window (views.py:122-177)
  /api/summarize/           the 14-aggregate summary (views.py:185-237)
  /api/summarize/multiple/  summary per symbol, run as a client-side loop
                            of single-symbol queries (views.py:245-305)

This module is the engine-side equivalent: validated request dicts in,
response dicts (the reference's JSON shapes) out, with Catalyst doing the
aggregation.  The web layer is a thin wrapper over these three functions:
``plans/http_api.py`` serves them over the standard library's
``http.server``.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame

from big_data_engineering_financial_analysis_spark.plans import serving
from big_data_engineering_financial_analysis_spark.functions.timeutil import trailing_window
from big_data_engineering_financial_analysis_spark.schemas import API_FIELD_WHITELIST

AGGREGATIONS = tuple(serving.AGGREGATIONS)

#: the longest trailing window, a thousand 365-day years: ``now - period``
#: stays inside ``datetime``'s range for any ``now`` after year 1000, where
#: a larger period could overflow ``trailing_window``
MAX_PERIOD_MINUTES = 1000 * 365 * 24 * 60


class ValidationError(ValueError):
    """Request rejected — mirrors the serializer 400s (serializers.py:15-31)."""


def _is_symbol(value) -> bool:
    return isinstance(value, str) and value != ""


def _validate(request: dict, enriched_cols: list[str]) -> dict:
    agg = request.get("aggregation")
    if agg not in AGGREGATIONS:
        raise ValidationError(f"aggregation must be one of {AGGREGATIONS}")
    field = request.get("field", "close")
    whitelist = [c for c in API_FIELD_WHITELIST if c in enriched_cols] or enriched_cols
    if field not in whitelist:
        raise ValidationError(f"field must be one of {sorted(whitelist)}")
    period = request.get("period_minutes", 60)
    # bool is an int subclass: reject ``true`` before the int check
    if isinstance(period, bool) or not isinstance(period, int) or not 0 < period <= MAX_PERIOD_MINUTES:
        raise ValidationError(f"period_minutes must be an int in 1..{MAX_PERIOD_MINUTES}")
    if not _is_symbol(request.get("stock_symbol")):
        raise ValidationError("stock_symbol must be a non-empty string")
    return {"aggregation": agg, "field": field, "period_minutes": period,
            "stock_symbol": request["stock_symbol"]}


def handle_aggregate(enriched: DataFrame, request: dict, now: datetime) -> dict:
    """POST /api/aggregate/ — response shape of views.py:154-177."""
    req = _validate(request, enriched.columns)
    start, end = trailing_window(now, req["period_minutes"])
    out = serving.aggregate_field(
        enriched, req["aggregation"], req["field"], req["stock_symbol"], start, end
    ).collect()[0]
    value = out[0]
    return {
        "stock_symbol": req["stock_symbol"],
        "aggregation": req["aggregation"],
        "field": req["field"],
        "period_minutes": req["period_minutes"],
        "start_time": start.isoformat(sep=" "),
        "end_time": end.isoformat(sep=" "),
        "value": None if value is None else float(value),
    }


def _summary_dict(row) -> dict:
    d = row.asDict()
    return {k: (None if v is None else float(v)) for k, v in d.items() if k != "stock_symbol"}


def handle_summarize(enriched: DataFrame, request: dict, now: datetime) -> dict:
    """POST /api/summarize/ — the 14-aggregate response (views.py:185-237)."""
    req = _validate({**request, "aggregation": "avg"}, enriched.columns)
    start, end = trailing_window(now, req["period_minutes"])
    row = serving.summarize(enriched, req["stock_symbol"], start, end).collect()[0]
    return {
        "stock_symbol": req["stock_symbol"],
        "period_minutes": req["period_minutes"],
        "summary": _summary_dict(row),
    }


def handle_summarize_multiple(enriched: DataFrame, request: dict, now: datetime) -> dict:
    """POST /api/summarize/multiple/ — ONE grouped aggregate instead of the
    reference's per-symbol query loop (views.py:281-289)."""
    symbols = request.get("stock_symbols")
    if not symbols or not isinstance(symbols, list) or not all(map(_is_symbol, symbols)):
        raise ValidationError("stock_symbols must be a non-empty list of non-empty strings")
    req = _validate({**request, "aggregation": "avg", "stock_symbol": symbols[0]}, enriched.columns)
    start, end = trailing_window(now, req["period_minutes"])
    rows = serving.summarize_multiple(enriched, symbols, start, end).collect()
    found = {r["stock_symbol"]: _summary_dict(r) for r in rows}
    return {
        "period_minutes": req["period_minutes"],
        "results": {s: found.get(s) for s in symbols},  # absent symbol -> None
    }
