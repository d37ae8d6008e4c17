"""stream_live: Kafka-wire candle ticks through the streaming enrichment to ILP.

Phases, all against one streaming query and one checkpoint:

1. warm-up (part of set-up): ``N_WARM`` ticks are drained, then the query
   stops;
2. backlog: ``N_BACKLOG`` ticks are staged while the query is down and
   drained by the restarted query -> ``catchup_rows_per_s``;
3. live: an open loop publishes ``RATE`` ticks a second, each as
   ``SHARDS`` files evenly spaced in time, a file holding the candles of
   every ``SHARDS``-th symbol.  Each ILP line's lag runs from its file's
   due time to its receipt -> ``stream_lag_p50_ms`` /
   ``stream_lag_p90_ms``.

A traced run switches spans on for the live phase.  The sink traces only
the odd micro-batches, so traced and untraced batches of one phase give
the tracing overhead.
"""

from __future__ import annotations

import calendar
import os
import selectors
import socket
import threading
import time

from perfbench import gen
from perfbench.common import Child, median, percentile, sleep_until
from perfbench.oracle import ilp_key

N_SYMBOLS = 1000
N_WARM = 3
N_BACKLOG = 60
#: ticks per second in the live phase: 500 rows/s.  A micro-batch costs
#: much the same whether it holds one tick or three (the keyed state's
#: work is per symbol), about 2.5 s on 4 cores; at one tick a second a
#: host slowed by a third no longer kept up, the backlog grew, and the
#: lags with it.  Half that rate leaves room for such a slowdown.
RATE = 0.5
#: files per live tick.  A micro-batch spans several seconds, so with one
#: file per tick a run's lags would come from a handful of due times, and
#: p90 from one of them; spreading each tick over 10 files gives ~100 due
#: times in a 20-second phase at the same rows per second.
SHARDS = 10
#: ``stream.lag_drift`` above this flags a growing backlog: the live rate
#: is more than the pipeline sustains, and the lags depend on run length.
LAG_DRIFT_LIMIT = 1.5

T0_NS = calendar.timegm(gen.STREAM_T0.timetuple()) * 10**9


class IlpReceiver:
    """The ILP endpoint: one selector thread accepting every connection
    and stamping each received line with its arrival time."""

    def __init__(self) -> None:
        self._srv = socket.socket()
        self._srv.bind(("127.0.0.1", 0))
        self._srv.listen(64)
        self._srv.setblocking(False)
        self.port = self._srv.getsockname()[1]
        self._sel = selectors.DefaultSelector()
        self._sel.register(self._srv, selectors.EVENT_READ)
        self._lock = threading.Lock()
        self.lines: list[tuple[float, str]] = []
        self.conns = 0
        self.nbytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="ilp-receiver", daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        bufs: dict = {}
        while not self._stop.is_set():
            for key, _ in self._sel.select(timeout=0.05):
                sock = key.fileobj
                if sock is self._srv:
                    conn, _ = sock.accept()
                    conn.setblocking(False)
                    self._sel.register(conn, selectors.EVENT_READ)
                    bufs[conn] = b""
                    self.conns += 1
                    continue
                data = sock.recv(1 << 16)
                t = time.perf_counter()
                if not data:
                    self._sel.unregister(sock)
                    sock.close()
                    data, bufs[sock] = bufs.pop(sock), b""
                    if data:  # an unterminated last line
                        self._add(t, [data])
                    continue
                *done, bufs[sock] = (bufs[sock] + data).split(b"\n")
                self.nbytes += len(data)
                self._add(t, done)
        for key in list(self._sel.get_map().values()):
            key.fileobj.close()
        self._sel.close()

    def _add(self, t: float, lines: list[bytes]) -> None:
        with self._lock:
            self.lines.extend((t, ln.decode()) for ln in lines)

    def count(self) -> int:
        with self._lock:
            return len(self.lines)

    def snapshot(self) -> list[tuple[float, str]]:
        with self._lock:
            return list(self.lines)

    def wait_for(self, n: int, timeout: float, child: Child) -> float:
        """Block until ``n`` lines have arrived; returns the arrival time
        of the ``n``-th line."""
        deadline = time.perf_counter() + timeout
        while self.count() < n:
            if time.perf_counter() > deadline:
                raise TimeoutError(f"ILP receiver got {self.count()} of {n} lines")
            sleep_until(time.perf_counter() + 0.01, child)
        with self._lock:
            return max(t for t, _ in self.lines[:n])

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def _put(ticks: gen.Ticks, k: int, stage: str, src: str, shard: dict | None = None,
         j: int = 0) -> None:
    """Publish tick ``k`` as one file atomically (write aside, then
    rename); with ``shard``, only the rows of symbols in shard ``j``."""
    name = f"tick-{k:06d}-{j:02d}.json"
    rows = ticks.files[k] if shard is None else [
        (key, line) for key, line in ticks.files[k] if shard[key[0]] == j
    ]
    with open(os.path.join(stage, name), "w") as f:
        f.writelines(line + "\n" for _, line in rows)
    os.rename(os.path.join(stage, name), os.path.join(src, name))


def _due(i: int, j: int) -> float:
    """Seconds from the live phase's start to shard ``j`` of its tick ``i``."""
    return (i + j / SHARDS) / RATE


def _live(ticks, first: int, n: int, stage: str, src: str, shard: dict, child: Child):
    """Open loop: shard ``j`` of tick ``first + i`` is due at
    ``t0 + _due(i, j)``.  Returns (t0, lateness of each write in seconds)."""
    t0 = time.perf_counter() + 0.2
    late = []
    for i in range(n):
        for j in range(SHARDS):
            due = t0 + _due(i, j)
            sleep_until(due, child)
            _put(ticks, first + i, stage, src, shard, j)
            late.append(time.perf_counter() - due)
    return t0, late


def _tick_of(line: str) -> tuple[str, int]:
    sym, ns = ilp_key(line)
    return sym, (ns - T0_NS) // (60 * 10**9)


def _lags_ms(lines, ticks, shard: dict, first: int, n: int, t0: float) -> list[tuple[int, float]]:
    """(live tick index, lag) of every received line whose row is first
    carried by one of the live ticks ``first .. first + n - 1``."""
    out = []
    for t, ln in lines:
        key = _tick_of(ln)
        k = ticks.first_file.get(key)
        if k is not None and first <= k < first + n and key not in ticks.late:
            i = k - first
            out.append((i, (t - (t0 + _due(i, shard[key[0]]))) * 1000.0))
    return out


def _check(ticks, lines, child: Child, wd: str) -> dict:
    """Compare the received lines with the batch kernel over the rows the
    stream must keep: every resend dropped (first writer wins), every
    late row dropped unless its micro-batch still held older rows of its
    symbol; the kept late rows are taken from what arrived."""
    got: dict = {}
    extra = 0
    for _, ln in lines:
        key = _tick_of(ln)
        if key not in ticks.rows or key in got:
            extra += 1
        else:
            got[key] = ln
    kept = [k for k in ticks.rows if k not in ticks.late or k in got]
    missing = sum(1 for k in kept if k not in got)
    rows_path = os.path.join(wd, "oracle_rows.json")
    out_path = os.path.join(wd, "oracle_lines.txt")
    with open(rows_path, "w") as f:
        f.writelines(ticks.rows[k] + "\n" for k in kept)
    child.call("oracle", timeout=170, rows_path=rows_path, out_path=out_path)
    with open(out_path) as f:
        want = {_tick_of(ln): ln for ln in f.read().splitlines()}
    wrong = sum(1 for k, ln in got.items() if want.get(k) != ln)
    late_kept = sum(1 for k in ticks.late if k in got)
    return {"extra": extra, "missing": missing, "wrong": wrong, "late_kept": late_kept}


def _trace_layers(progress: list[dict], after_batch: int, spans: list[dict]) -> dict:
    """Per-layer figures over the data batches after ``after_batch``:
    medians of their times, the state sizes after the last one, the rows
    the dedup state let through (``dedup_kept``), and the tracing
    overhead, set between the traced (odd) and untraced (even) batches."""
    batches = [
        p for p in progress if p["batchId"] > after_batch and p["numInputRows"] > 0
    ]

    def dur(p, *keys):
        return sum(p["durationMs"].get(k, 0) for k in keys)

    def ops(p, field, name=None):
        return sum(
            op.get(field, 0) for op in p["stateOperators"]
            if name is None or name in op["operatorName"].lower()
        )

    def batch_ms(odd):
        return median([dur(p, "triggerExecution") for p in batches if p["batchId"] % 2 == odd])

    last = progress[-1]
    return {
        "source.list_ms": median([dur(p, "latestOffset", "getBatch") for p in batches]),
        "stream.plan_ms": median([dur(p, "queryPlanning") for p in batches]),
        "stream.commit_ms": median([dur(p, "walCommit", "commitOffsets") for p in batches]),
        "stream.batch_ms": median([dur(p, "triggerExecution") for p in batches]),
        "state.commit_ms": median([ops(p, "commitTimeMs") for p in batches]),
        "state.update_ms": median([ops(p, "allUpdatesTimeMs") for p in batches]),
        "stream.rows_per_batch": median([p["numInputRows"] for p in batches]),
        "state.enrich.rows": ops(last, "numRowsTotal", "pandas"),
        "state.dedup.rows": ops(last, "numRowsTotal", "dedup"),
        "state.memory_bytes": ops(last, "memoryUsedBytes"),
        "ilp.write_ms": median([
            (s["end"] - s["start"]) * 1000.0 for s in spans
            if s["name"] == "ilp.write" and s["attrs"]["epoch"] > after_batch
        ]),
        "trace.overhead_pct": (batch_ms(1) / batch_ms(0) - 1.0) * 100.0,
        "dedup_kept": sum(ops(p, "numRowsUpdated", "dedup") for p in batches),
        "n_batches": len(batches),
    }


def run(seed: int, seconds: float, trace: bool, wd: str) -> dict:
    n_live = max(3, int(round(seconds * RATE)))
    ticks = gen.stream_ticks(seed, N_SYMBOLS, N_WARM, N_BACKLOG, n_live)
    src, stage = os.path.join(wd, "src"), os.path.join(wd, "stage")
    os.makedirs(src)
    os.makedirs(stage)
    for k in range(N_WARM):
        _put(ticks, k, stage, src)
    n_sym = len(ticks.symbols)
    shard = {s: i % SHARDS for i, s in enumerate(ticks.symbols)}
    recv = IlpReceiver()
    child = Child("stream_live", wd, {
        "src": src, "checkpoint": os.path.join(wd, "checkpoint"), "ilp_port": recv.port,
    })
    try:
        setup = child.call("setup", timeout=170)
        recv.wait_for(N_WARM * n_sym, 60, child)
        setup_s = time.perf_counter() - child.t_launch

        backlog = range(N_WARM, ticks.live0)
        for k in backlog:
            _put(ticks, k, stage, src)
        t_restart = time.perf_counter()
        child.call("restart")
        t_drained = recv.wait_for(ticks.live0 * n_sym, 120, child)
        catchup = ticks.n_rows(backlog) / (t_drained - t_restart)

        if trace:
            child.call("settle")
            before = child.call("progress")["progress"][-1]["batchId"]
            conns0, bytes0, n0 = recv.conns, recv.nbytes, recv.count()
            child.call("trace", on=True)
        t_live, gen_late = _live(ticks, ticks.live0, n_live, stage, src, shard, child)
        child.call("settle")
        lines = recv.snapshot()
        lags = _lags_ms(lines, ticks, shard, ticks.live0, n_live, t_live)
        peak_rss = child.peak_rss_mb

        layers = {}
        if trace:
            child.call("trace", on=False)
            progress = child.call("progress")["progress"]
            spans = child.call("spans")["spans"]
            layers = _trace_layers(progress, before, spans)
            n_batches = layers.pop("n_batches")
            n_lines = len(lines) - n0
            third = n_live / 3.0
            layers.update({
                "ilp.conns_per_batch": (recv.conns - conns0) / n_batches,
                "ilp.bytes_per_row": (recv.nbytes - bytes0) / max(1, n_lines),
                "state.dropped_late": layers.pop("dedup_kept") - n_lines,
                "gen.late_rows": len(ticks.late),
                "gen.late_ms": max(gen_late) * 1000.0,
                "stream.lag_drift": median([x for i, x in lags if i >= 2 * third])
                / median([x for i, x in lags if i < third]),
            })

        verdict = _check(ticks, lines, child, wd)
        layers["session.start_s"] = setup["session_s"]
    finally:
        child.close()
        recv.close()

    attempted = sum(len(f) for f in ticks.files)
    failed = verdict["extra"] + verdict["missing"] + verdict["wrong"]
    notes = {**verdict, "late_injected": len(ticks.late), "dups": ticks.n_dups}
    if trace:
        # every late row passes the dedup watermark; the keyed enrichment
        # state must drop each one it did not emit (see _check)
        notes["late_miscount"] = abs(
            layers["state.dropped_late"] - (layers["gen.late_rows"] - verdict["late_kept"])
        )
        failed += notes["late_miscount"]
        notes["backlog_growing"] = layers["stream.lag_drift"] > LAG_DRIFT_LIMIT
    return {
        "attempted": attempted,
        "failed": failed,
        "notes": notes,
        "e2e": {
            "setup_s": setup_s,
            "peak_rss_mb": peak_rss,
            "latency_p50_ms": median([x for _, x in lags]),
            "latency_p90_ms": percentile([x for _, x in lags], 90),
            "throughput_per_s": catchup,
        },
        "layers": layers,
    }
