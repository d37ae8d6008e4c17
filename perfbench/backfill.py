"""backfill: ``pipeline.run_batch`` over a history of 1-minute candles.

The reference's 5-symbol universe (1, 2, 3, 4, 42) gets ``N_MINUTES``
candles each, overlapping the dashboard panels' fixed range, so all 8
panels return rows.  ``run_batch`` enriches with ``enrich`` (the window
kernel whose EMA fold is O(history^2) per symbol), writes the
day-partitioned store, reads it back and runs the panels.  Set-up runs it
``N_WARM`` times; then it repeats for the run's seconds (at least ``MIN_RUNS``
times), each time into a fresh store.  The run times give the latency
percentiles; the median run gives ``backfill_rows_per_s``.

Checked: every run's panel row counts, and a sample of the first store's
enriched rows against the reference pandas recipe.
"""

from __future__ import annotations

import io
import os
import random
import time

import pandas as pd

from perfbench import gen
from perfbench.common import Child, median, percentile
from perfbench.oracle import INDICATORS, panel_counts, reference_enrich, same_value

N_MINUTES = 3000
#: backfills run during set-up; run times keep falling for several runs
#: as the JVM compiles the fold's generated code
N_WARM = 4
MIN_RUNS = 3
N_SAMPLE = 300


def _runs(child: Child, wd: str, tag: str, seconds: float, interleave: bool = False) -> list[dict]:
    """Backfills for ``seconds``; with ``interleave`` every second one
    runs with spans on (marked ``traced``)."""
    out = []
    t_end = time.perf_counter() + seconds
    while len(out) < max(MIN_RUNS, 2 * interleave) or time.perf_counter() < t_end:
        traced = interleave and len(out) % 2 == 1
        if interleave:
            child.call("trace", on=traced)
        r = child.call("run", timeout=170, out_dir=os.path.join(wd, f"out-{tag}{len(out)}"))
        out.append({**r, "traced": traced})
    return out


def _reference(lines: list[str]) -> pd.DataFrame:
    df = pd.read_json(io.StringIO("\n".join(lines)), lines=True, dtype={"stock_symbol": str})
    df["local_time"] = pd.to_datetime(df["local_time"])
    return pd.concat(
        [reference_enrich(g.copy()) for _, g in df.groupby("stock_symbol")],
        ignore_index=True,
    )


def _sample_mismatches(ref: pd.DataFrame, store: str, seed: int) -> int:
    """Enriched rows of the written store that differ from the reference."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET TimeZone='UTC'")
        got = con.execute(
            "SELECT * REPLACE (local_time::TIMESTAMP AS local_time) "
            f"FROM read_parquet('{store}/*/*.parquet', hive_partitioning=true)"
        ).df()
    finally:
        con.close()
    if len(got) != len(ref):
        return abs(len(got) - len(ref)) + N_SAMPLE
    got = got.set_index(["stock_symbol", "local_time"])
    idx = random.Random(seed).sample(range(len(ref)), min(N_SAMPLE, len(ref)))
    bad = 0
    for i in idx:
        want = ref.iloc[i]
        key = (want["stock_symbol"], want["local_time"])
        if key not in got.index:
            bad += 1
            continue
        row = got.loc[key]
        ok = row["signal"] == want["signal"] and all(
            same_value(row[c], want[c]) for c in ["close", *INDICATORS]
        )
        bad += not ok
    return bad


def run(seed: int, seconds: float, trace: bool, wd: str) -> dict:
    lines = gen.history(seed, gen.BACKFILL_SYMBOLS, N_MINUTES, gen.BACKFILL_T0)
    candles = os.path.join(wd, "candles.json")
    with open(candles, "w") as f:
        f.writelines(ln + "\n" for ln in lines)

    child = Child("backfill", wd, {})
    try:
        setup = child.call(
            "setup", timeout=170, candles_path=candles, warm_out=os.path.join(wd, "out-warm"),
            n_warm=N_WARM,
        )
        setup_s = time.perf_counter() - child.t_launch
        runs = _runs(child, wd, "a", seconds)
        run_ms = [r["s"] * 1000.0 for r in runs]
        peak_rss = child.peak_rss_mb
        layers = {}
        if trace:
            runs_b = _runs(child, wd, "b", seconds, interleave=True)
            child.call("trace", on=True)
            layers = child.call(
                "layers", timeout=170, out_dir=os.path.join(wd, "out-a0"),
                rewrite_dir=os.path.join(wd, "rewrite"),
            )
            layers["trace.overhead_pct"] = (
                median([r["s"] for r in runs_b if r["traced"]])
                / median([r["s"] for r in runs_b if not r["traced"]]) - 1.0
            ) * 100.0
            runs += runs_b
        layers["session.start_s"] = setup["session_s"]
    finally:
        child.close()

    ref = _reference(lines)
    want = panel_counts(ref)
    failed = sum(
        1 for r in runs for p, n in want.items() if r["counts"].get(p) != n
    )
    failed += _sample_mismatches(ref, os.path.join(wd, "out-a0", "stock_data"), seed)
    return {
        "attempted": len(runs) * len(want) + min(N_SAMPLE, len(ref)),
        "failed": failed,
        "notes": {"runs": len(runs), "rows": len(lines)},
        "e2e": {
            "setup_s": setup_s,
            "peak_rss_mb": peak_rss,
            "latency_p50_ms": median(run_ms),
            "latency_p90_ms": percentile(run_ms, 90),
            "throughput_per_s": len(lines) / median(run_ms) * 1000.0,
        },
        "layers": layers,
    }
