"""Seeded input generators.  The same seed gives the same inputs.

Everything the program receives is produced here: Kafka-wire candle JSON
(one object per line, the format ``sources.kafka.parse_candle_json``
reads).  Nothing here imports Spark.
"""

from __future__ import annotations

import json
import math
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta

WIRE_TIME = "%Y-%m-%d %H:%M:%S"


def _walk(rng: random.Random, n: int, p0: float):
    """``n`` 1-minute OHLCV candles of a geometric random walk."""
    p = p0
    out = []
    for _ in range(n):
        o = p
        p = p * math.exp(rng.gauss(0.0, 0.002))
        c = round(p, 4)
        hi = round(max(o, c) * (1.0 + abs(rng.gauss(0.0, 0.0005))), 4)
        lo = round(min(o, c) * (1.0 - abs(rng.gauss(0.0, 0.0005))), 4)
        out.append((round(o, 4), hi, lo, c, round(rng.uniform(1.0, 1000.0), 3)))
    return out


def candle_json(symbol: str, ts: str, ohlcv) -> str:
    """One wire candle at ``ts`` (formatted as ``WIRE_TIME``): the text
    ``json.dumps`` gives for the dict, built directly as it is the
    generators' hot loop."""
    o, h, lo, c, v = ohlcv
    return (f'{{"stock_symbol": {json.dumps(symbol)}, "local_time": "{ts}", '
            f'"open": {o!r}, "high": {h!r}, "low": {lo!r}, "close": {c!r}, "volume": {v!r}}}')


def history(seed: int, symbols: list[str], n_minutes: int, start: datetime) -> list[str]:
    """``n_minutes`` candles per symbol as wire JSON lines, time-major."""
    rng = random.Random(seed)
    series = {s: _walk(rng, n_minutes, rng.uniform(10.0, 1000.0)) for s in symbols}
    out = []
    for k in range(n_minutes):
        ts = (start + timedelta(minutes=k)).strftime(WIRE_TIME)
        out.extend(candle_json(s, ts, series[s][k]) for s in symbols)
    return out


# --- stream_live ---------------------------------------------------------

STREAM_T0 = datetime(2024, 1, 5)

#: Late rows arrive this many ticks (= event-time minutes) after their
#: own tick: inside the pipeline's 10-minute watermark, and later than a
#: live micro-batch spans (about two ticks), so the keyed state has
#: already passed them.
LATE_DELAY = (4, 5)
#: Duplicate resends arrive in the same tick or up to this many later.
DUP_DELAY = 3
#: Share of candles resent verbatim.
DUP_RATE = 0.02
#: Share of the live phase's candles that arrive ``LATE_DELAY`` ticks late.
LATE_RATE = 0.01


@dataclass
class Ticks:
    """The candle stream, tick by tick.

    ``files[k]`` holds the (key, line) pairs tick ``k`` publishes, in
    file order; a key is (symbol, tick).  ``rows`` maps every key to its
    line (resends are byte-identical), ``first_file[key]`` is the tick
    that first carries it, ``late`` holds the keys withheld from their
    own tick.
    """

    symbols: list[str]
    n_warm: int
    n_backlog: int
    files: list[list[tuple]] = field(default_factory=list)
    rows: dict = field(default_factory=dict)
    first_file: dict = field(default_factory=dict)
    late: set = field(default_factory=set)
    n_dups: int = 0

    @property
    def live0(self) -> int:
        return self.n_warm + self.n_backlog

    def n_rows(self, ticks) -> int:
        return sum(len(self.files[k]) for k in ticks)


def stream_ticks(
    seed: int,
    n_symbols: int,
    n_warm: int,
    n_backlog: int,
    n_live: int,
) -> Ticks:
    """Tick files for warm-up, backlog and live phases.

    About ``DUP_RATE`` of candles are resent verbatim and ``LATE_RATE``
    of the live phase's candles arrive ``LATE_DELAY`` ticks late.  Late
    rows are only drawn inside the live phase, where micro-batches are
    short; the backlog drains as one batch that would sort them back into
    order.
    """
    rng = random.Random(seed)
    n = n_warm + n_backlog + n_live
    symbols = [f"SYM{i:04d}" for i in range(n_symbols)]
    walks = {s: _walk(rng, n, rng.uniform(10.0, 1000.0)) for s in symbols}
    ticks = Ticks(symbols, n_warm, n_backlog, files=[[] for _ in range(n)])
    live0 = n_warm + n_backlog
    for k in range(n):
        ts = (STREAM_T0 + timedelta(minutes=k)).strftime(WIRE_TIME)
        for s in symbols:
            key = (s, k)
            line = candle_json(s, ts, walks[s][k])
            ticks.rows[key] = line
            at = k
            if k >= live0 and rng.random() < LATE_RATE:
                d = rng.randint(*LATE_DELAY)
                if k + d < n:
                    at = k + d
                    ticks.late.add(key)
            ticks.files[at].append((key, line))
            ticks.first_file[key] = at
            if key not in ticks.late and rng.random() < DUP_RATE:
                j = rng.randint(0, DUP_DELAY)
                if k + j < n:
                    ticks.files[k + j].append((key, line))
                    ticks.n_dups += 1
    for f in ticks.files:
        rng.shuffle(f)
    return ticks


# --- backfill ------------------------------------------------------------

#: The reference universe: the dashboard panels read symbol 42 and the
#: pivot IN-list 1..4.
BACKFILL_SYMBOLS = ["1", "2", "3", "4", "42"]
#: Starts half a day before the panels' fixed 2024-01-05..01-20 range.
BACKFILL_T0 = datetime(2024, 1, 4, 12)
