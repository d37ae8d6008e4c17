"""The benchmark's own tests: metric names, generators, oracles, and a
tiny run of each workload.

    python3 -m pytest perfbench/tests -q

The workload smokes start a Spark child each (about half a minute).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from datetime import datetime, timedelta

import pandas as pd
import pytest

from perfbench import backfill, gen, oracle, run, stream_live
from perfbench.common import ROOT, percentile

BENCHMARK_JSON = os.path.join(ROOT, "BENCHMARK.json")


def _benchmark() -> dict:
    with open(BENCHMARK_JSON) as f:
        return json.load(f)


# --- BENCHMARK.json against what run.py prints ---------------------------


def test_printed_metrics_are_declared():
    bench = _benchmark()
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == run.END_TO_END
    assert layers == run.PER_LAYER
    declared = [w["name"] for w in bench["workloads"]]
    assert set(declared) <= set(run.NAMES) and len(declared) == len(set(declared))


def test_benchmark_json_contract():
    bench = _benchmark()
    assert set(bench) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    assert bench["command"] == ["python3", "perfbench/run.py"]
    assert bench["paths"] == ["perfbench"]
    assert 1 <= bench["run_seconds"] <= 60
    setup = [m for m in bench["end_to_end"] if m["name"] == "setup_s"]
    assert setup == [{"name": "setup_s", "unit": "s", "better": "lower",
                      "bound": max(m["bound"] for m in bench["end_to_end"])}]
    for m in bench["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    for m in bench["per_layer"]:
        assert set(m) == {"name", "unit", "better"}


def test_metrics_fill_unexercised_layers_with_zero():
    layers = {name: 1.0 for name in {**run.LAYERS["all"], **run.LAYERS["backfill"]}}
    values = run.metrics("backfill", {"layers": layers}, trace=True)
    assert list(values) == list(run.PER_LAYER)
    assert values["enrich.s"] == 1.0 and values["stream.batch_ms"] == 0.0
    with pytest.raises(RuntimeError, match="not measured"):
        run.metrics("stream_live", {"layers": layers}, trace=True)


def test_refuses_to_run_without_the_package(tmp_path):
    """A directory holding only the benchmark gives a nonzero exit and no
    result line."""
    import shutil

    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(BENCHMARK_JSON, tmp_path / "BENCHMARK.json")
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "backfill", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert "correct" not in proc.stdout


# --- generators -----------------------------------------------------------


def test_stream_ticks_are_seeded_and_shaped():
    a = gen.stream_ticks(7, 200, 2, 4, 30)
    b = gen.stream_ticks(7, 200, 2, 4, 30)
    assert a.files == b.files
    line = a.files[0][0][1]
    assert line == json.dumps(json.loads(line))
    assert a.files[0] != gen.stream_ticks(8, 200, 2, 4, 30).files[0]
    n_rows = 200 * 36
    assert len(a.rows) == n_rows
    assert 0.01 < a.n_dups / n_rows < 0.03
    assert a.late and all(k[1] >= a.live0 for k in a.late)
    for key in a.late:
        delay = a.first_file[key] - key[1]
        assert gen.LATE_DELAY[0] <= delay <= gen.LATE_DELAY[1]


# --- oracles --------------------------------------------------------------


def test_ilp_key():
    line = "stock_data,stock_symbol=SYM0001 close=1.5,open=1.0 1704412800000000000"
    assert oracle.ilp_key(line) == ("SYM0001", 1704412800000000000)
    with pytest.raises(ValueError):
        oracle.ilp_key("other,x=1 y=2 3")


def test_same_value():
    assert oracle.same_value(1.0, 1.0 + 1e-12)
    assert oracle.same_value(None, float("nan"))
    assert not oracle.same_value(None, 0.0)
    assert not oracle.same_value(1.0, 1.001)


def test_percentile_matches_numpy_linear():
    import numpy as np

    xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0]
    for q in (0, 10, 50, 90, 100):
        assert percentile(xs, q) == pytest.approx(np.percentile(xs, q))


def test_reference_enrich_recipe():
    closes = [10.0, 11.0, 10.5, 12.0, 11.5, 11.0, 12.5, 13.0, 12.0, 12.5, 13.5, 14.0]
    t0 = datetime(2024, 1, 5)
    pdf = pd.DataFrame({"local_time": [t0 + timedelta(minutes=i) for i in range(12)],
                        "close": closes})
    out = oracle.reference_enrich(pdf.iloc[::-1].copy())
    assert out["sma_5"].iloc[4] == pytest.approx(sum(closes[:5]) / 5)
    assert out["ema_10"].isna().sum() == 9
    assert out["signal"].iloc[0] == "HOLD"
    assert set(out["signal"]) <= {"BUY", "SELL", "HOLD"}


def test_panel_counts_follow_panel_range():
    t = [datetime(2024, 1, 4, 23, 58) + timedelta(minutes=i) for i in range(4)]
    ref = pd.DataFrame({"stock_symbol": ["42"] * 4, "local_time": t,
                        "sma_5": [1.0, None, 2.0, 3.0], "ema_10": [1.0, 1.0, None, 3.0]})
    counts = oracle.panel_counts(ref)
    assert counts["panel_price_series"] == 4
    assert counts["panel_indicator_series"] == 2
    assert counts["panel_candlestick"] == 1


def _progress(batch_id, rows, ms, dedup_updated=0):
    return {"batchId": batch_id, "numInputRows": rows,
            "durationMs": {"triggerExecution": ms, "latestOffset": 1, "getBatch": 2},
            "stateOperators": [
                {"operatorName": "dedupeWithinWatermark", "numRowsUpdated": dedup_updated,
                 "numRowsTotal": 10, "memoryUsedBytes": 100},
                {"operatorName": "applyInPandasWithState", "numRowsTotal": 5,
                 "memoryUsedBytes": 50},
            ]}


def test_trace_layers_set_traced_against_untraced_batches():
    progress = [_progress(3, 999, 1), _progress(4, 100, 1000, 90),
                _progress(5, 200, 1100, 190), _progress(6, 0, 5)]
    spans = [{"name": "ilp.write", "start": 0.0, "end": 0.5, "attrs": {"epoch": 5}},
             {"name": "ilp.write", "start": 0.0, "end": 9.0, "attrs": {"epoch": 3}}]
    layers = stream_live._trace_layers(progress, 3, spans)
    assert layers["n_batches"] == 2 and layers["dedup_kept"] == 280
    assert layers["trace.overhead_pct"] == pytest.approx(10.0)
    assert layers["ilp.write_ms"] == 500.0
    assert layers["source.list_ms"] == 3
    assert layers["state.dedup.rows"] == 10 and layers["state.enrich.rows"] == 5


# --- tiny runs of each workload ----------------------------------------------


def _check_run(workload: str, res: dict) -> None:
    assert res["attempted"] > 0
    assert res["failed"] == 0, res["notes"]
    e2e = run.metrics(workload, res, trace=False)
    assert all(v > 0 for v in e2e.values()), e2e
    layers = run.metrics(workload, res, trace=True)
    assert layers["session.start_s"] > 0


def test_smoke_stream_live(tmp_path, monkeypatch):
    monkeypatch.setattr(stream_live, "N_SYMBOLS", 100)
    monkeypatch.setattr(stream_live, "N_WARM", 2)
    monkeypatch.setattr(stream_live, "N_BACKLOG", 3)
    monkeypatch.setattr(stream_live, "RATE", 4.0)
    # 16 live ticks: late rows need more than LATE_DELAY of them
    res = stream_live.run(5, 4.0, True, str(tmp_path))
    _check_run("stream_live", res)
    assert res["layers"]["ilp.conns_per_batch"] > 0
    assert res["layers"]["state.dropped_late"] > 0
    assert res["notes"]["late_miscount"] == 0


def test_smoke_backfill(tmp_path, monkeypatch):
    monkeypatch.setattr(backfill, "N_MINUTES", 1100)
    monkeypatch.setattr(backfill, "N_WARM", 1)
    monkeypatch.setattr(backfill, "MIN_RUNS", 1)
    res = backfill.run(5, 0.1, True, str(tmp_path))
    _check_run("backfill", res)
    assert res["layers"]["panel_ms.panel_candlestick"] > 0
