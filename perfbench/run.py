"""Pipeline benchmark: live candle stream and batch backfill.

    python3 perfbench/run.py --workload stream_live --seed 1 --seconds 20 --trace 0

Any working directory works; paths resolve from this file.  Inputs come
from ``--seed``; the program under test runs in a child process
(``perfbench/child.py``) and every output is checked against an oracle the
benchmark computes itself.  The last stdout line is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` -- the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.  A
traced run also writes its spans to ``.perfbench_work/traces/``.  See
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.common import PACKAGE, ROOT  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench_work")

PANELS = [
    "panel_price_series", "panel_indicator_series", "panel_gain_loss",
    "panel_latest_signal", "panel_close_stats", "panel_candlestick",
    "panel_avg_gain_pivot", "panel_avg_loss_pivot",
]

#: End-to-end metric -> unit.  Every workload reports every one of them;
#: what latency and throughput count differs per workload (NAMES).
END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
    "throughput_per_s": "1/s",
}

#: The workload's own name of each generic end-to-end metric, printed
#: beside it.
NAMES = {
    "stream_live": {
        "latency_p50_ms": "stream_lag_p50_ms", "latency_p90_ms": "stream_lag_p90_ms",
        "throughput_per_s": "catchup_rows_per_s",
    },
    "backfill": {
        "latency_p50_ms": "backfill_run_p50_ms", "latency_p90_ms": "backfill_run_p90_ms",
        "throughput_per_s": "backfill_rows_per_s",
    },
}

#: Per-layer metric -> unit, by the workload that exercises the layer.  A
#: traced run reports every per-layer metric; those of layers its
#: workload does not call read 0.
LAYERS = {
    "all": {"session.start_s": "s", "trace.overhead_pct": "%"},
    "stream_live": {
        "source.list_ms": "ms", "stream.plan_ms": "ms", "stream.commit_ms": "ms",
        "stream.batch_ms": "ms", "state.commit_ms": "ms", "ilp.write_ms": "ms",
        "ilp.conns_per_batch": "count", "stream.rows_per_batch": "count",
        "state.update_ms": "ms", "ilp.bytes_per_row": "B",
        "state.enrich.rows": "count", "state.dedup.rows": "count",
        "state.memory_bytes": "B", "state.dropped_late": "count",
        "gen.late_rows": "count", "gen.late_ms": "ms", "stream.lag_drift": "ratio",
    },
    "backfill": {
        "enrich.s": "s", "store.write_s": "s",
        **{f"panel_ms.{p}": "ms" for p in PANELS},
    },
}
PER_LAYER = {name: unit for layer in LAYERS.values() for name, unit in layer.items()}


def _workload(name: str):
    from perfbench import backfill, stream_live

    return {"stream_live": stream_live, "backfill": backfill}[name]


def _workdir(workload: str) -> str:
    """A fresh work directory; leftovers of earlier runs are removed."""
    os.makedirs(WORK, exist_ok=True)
    for name in os.listdir(WORK):
        if name.startswith("run-"):
            shutil.rmtree(os.path.join(WORK, name), ignore_errors=True)
    wd = os.path.join(WORK, f"run-{workload}")
    os.makedirs(wd)
    return wd


def _write_trace(workload: str, seed: int, res: dict, wd: str) -> str:
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    dump = {"workload": workload, "seed": seed, "layers": res["layers"],
            "notes": res["notes"]}
    child_spans = os.path.join(wd, "child_spans.json")
    if os.path.exists(child_spans):
        with open(child_spans) as f:
            dump["spans"] = json.load(f)["spans"]
    path = os.path.join(WORK, "traces", f"{workload}-seed{seed}.json")
    with open(path, "w") as f:
        json.dump(dump, f)
    return path


def metrics(workload: str, res: dict, trace: bool) -> dict[str, float]:
    """The metrics a run prints: every end-to-end one, or with ``trace``
    every per-layer one.  Raises if the workload left one of its own
    unmeasured."""
    if not trace:
        units, values = END_TO_END, res["e2e"]
        own = set(units)
    else:
        units, values = PER_LAYER, res["layers"]
        own = set(LAYERS["all"]) | set(LAYERS[workload])
    missing = sorted(own - set(values))
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    return {name: float(values.get(name, 0.0)) for name in units}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(NAMES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    wd = _workdir(args.workload)
    try:
        res = _workload(args.workload).run(args.seed, args.seconds, bool(args.trace), wd)
        values = metrics(args.workload, res, bool(args.trace))
    except Exception:
        traceback.print_exc()
        print(f"perfbench: {args.workload} failed; child log in {wd}", file=sys.stderr)
        return 1

    units = PER_LAYER if args.trace else END_TO_END
    print(f"workload {args.workload}  seed {args.seed}  seconds {args.seconds:g}  "
          f"trace {args.trace}  {json.dumps(res['notes'])}")
    if args.trace:
        print(f"  spans written to {_write_trace(args.workload, args.seed, res, wd)}")
    aliases = {} if args.trace else NAMES[args.workload]
    for name, unit in units.items():
        label = f"{name} ({aliases[name]})" if name in aliases else name
        print(f"  {label:44s} {values[name]:14.4f} {unit}")
    print(f"  {'fail_rate':44s} {res['failed'] / res['attempted']:14.6f} "
          f"({res['failed']} of {res['attempted']})")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {n: {"value": values[n], "unit": u} for n, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
