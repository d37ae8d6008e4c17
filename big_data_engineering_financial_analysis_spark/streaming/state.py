"""The indicator kernel: one per-symbol recursion for batch and stream.

The reference recomputes every indicator over the FULL accumulated history
on every micro-batch (services/stream-processing/app/consumer.py:184-192:
``pd.concat`` into an unbounded ``global_data``, global re-sort, per-symbol
re-apply) — O(total²) work over a run and guaranteed driver OOM.  This
module keeps O(1) state per symbol:

    closes   last 4 closes          (SMA-5 needs 5 incl. current)
    gains    last 9 gains           (avg_gain_10 needs 10 incl. current)
    losses   last 9 losses
    ema      running EMA value
    n_seen   observations so far    (warm-up gating)
    n_delta  non-null deltas so far
    last_close, last_time_us        (delta + late-row policy)

:func:`step` advances that state by one row.  It is the ONLY indicator
kernel: batch ``functions.indicators.enrich`` runs it per key from an
empty state (:func:`enrich_group`), the streaming pipelines run it per
key from the checkpointed state (:func:`process_bucket`,
:func:`process_group`), so batch and stream agree bit for bit by
construction.  All of them feed it from one columnar loop over the rows
of one or more keys: a stable sort on (key, int64 µs time), a loop over
the closes as Python floats, and one ``DataFrame`` built from the column
arrays.

State layout of ``enrich_stream``: the states are stored per hash
bucket of the symbol, ``pmod(xxhash64(symbol), N_BUCKETS)``, one state
row per bucket (:func:`bucket_state_ddl`): an array of the bucket's
symbols, each with its state tuple.  Spark's ``applyInPandasWithState``
then frames one group per bucket per micro-batch — decoding the state,
slicing Arrow into pandas, encoding the state — instead of one per
symbol, which cost ~6 s a 1,000-symbol micro-batch on a 4-core host.
Per bucket, the group framing is no longer the fixed cost: the setup of
each Python task was (120-300 ms a task, until ``worker_daemon``
stopped every task re-reading Spark's own zips).  A NULL symbol is a key of its own
inside its bucket.  The registry's ``q_enrich_incremental`` still
keeps one state per symbol (:func:`process_group`).

The arithmetic is the DuckDB ``ENRICHED_CTE`` oracle's (plans/registry.py)
expression by expression: the 5- and 10-row windows summed in event order
then divided, the EMA seeded with the first close, ``+ 0.0`` folding
IEEE -0.0 in the clips.

Row contracts of the two kinds of caller:

* **Batch** (:func:`enrich_group`): one output row per input row.  Ties
  (same symbol and time) are all enriched, in stable time order, as the
  window form ``PARTITION BY symbol ORDER BY time`` does.  A row with a
  NULL or NaN close is emitted with NULL indicators and ``HOLD`` and does
  not advance the state, so the next row's delta is taken against the
  last usable close.  (The retired window/fold kernel let such a row
  blank the windows after it, and a NaN close made its EMA NaN for the
  rest of the series.)  A NaN close itself comes out as NULL, as Arrow's
  pandas conversion maps every NaN to NULL.
* **Stream** (:func:`process_bucket`, :func:`process_group`): first
  writer wins per key — rows at or before the key's last time (late
  rows, duplicates, ties, NULL times) and rows with a NULL/NaN close are
  dropped without a state advance.
  The reference has no watermark — a late row for an already-seen
  (symbol, time) is dropped by the ``already_sent`` set, and a late row
  for an unseen time silently corrupts the recomputation
  (consumer.py:199-205); here lateness is explicit and the bound is
  checkpointable state.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

#: pandas ewm(span=10) smoothing factor: alpha = 2 / (span + 1).
EMA_SPAN = 10
SMA_WINDOW = 5
RSI_WINDOW = 10

BUY, SELL, HOLD = "BUY", "SELL", "HOLD"

ALPHA = 2.0 / (EMA_SPAN + 1.0)
BETA = 1.0 - ALPHA


@dataclass
class SymbolState:
    closes: list = field(default_factory=list)  # last SMA_WINDOW-1
    gains: list = field(default_factory=list)  # last RSI_WINDOW-1
    losses: list = field(default_factory=list)
    ema: float = math.nan
    n_seen: int = 0
    n_delta: int = 0
    last_close: float = math.nan
    last_time_us: int = -(2**62)

    def to_tuple(self) -> tuple:
        return (
            list(self.closes),
            list(self.gains),
            list(self.losses),
            float(self.ema),
            int(self.n_seen),
            int(self.n_delta),
            float(self.last_close),
            int(self.last_time_us),
        )

    @classmethod
    def from_tuple(cls, t) -> "SymbolState":
        return cls(
            closes=list(t[0]),
            gains=list(t[1]),
            losses=list(t[2]),
            ema=t[3],
            n_seen=t[4],
            n_delta=t[5],
            last_close=t[6],
            last_time_us=t[7],
        )


#: Spark DDL for the state tuple (applyInPandasWithState stateStructType).
STATE_DDL = (
    "closes array<double>, gains array<double>, losses array<double>, "
    "ema double, n_seen long, n_delta long, last_close double, last_time_us long"
)

#: Hash buckets of the stream's keyed state (``enrich_stream``): one
#: ``applyInPandasWithState`` group, and one state row, per bucket.
N_BUCKETS = 64


def bucket_state_ddl(symbol_type: str) -> str:
    """Spark DDL of one bucket's state: its symbols' state tuples, each
    with its symbol in front, as one array."""
    return f"symbols array<struct<symbol {symbol_type}, {STATE_DDL}>>"


#: Output columns appended to the input columns.
OUT_COLS = [
    "sma_5", "ema_10", "delta", "gain", "loss",
    "avg_gain_10", "avg_loss_10", "rs", "rsi_10", "signal",
]

#: Output of a row with no usable close (batch only): NULL indicators.
_NO_CLOSE = (math.nan,) * (len(OUT_COLS) - 1) + (HOLD,)


def enriched_ddl(schema) -> str:
    """Spark DDL of ``schema``'s columns followed by the indicator
    columns — the output schema of every ``applyInPandas`` /
    ``applyInPandasWithState`` caller of this kernel."""
    fields = [f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields]
    fields += [f"{c} string" if c == "signal" else f"{c} double" for c in OUT_COLS]
    return ", ".join(fields)


def _advance(state: SymbolState, close: float, time_us: int) -> tuple:
    """Advance ``state`` by one row with a usable close; return the
    indicator values in :data:`OUT_COLS` order."""
    state.n_seen += 1

    # SMA-5: mean of the full window, summed in event order — gated on a
    # full window.
    window = state.closes + [close]
    sma = sum(window) / SMA_WINDOW if len(window) >= SMA_WINDOW else math.nan

    # EMA: seeded with the first close, e = e*beta + x*alpha.
    state.ema = close if state.n_seen == 1 else state.ema * BETA + close * ALPHA
    ema_out = state.ema if state.n_seen >= EMA_SPAN else math.nan

    # delta / gain / loss (NaN-propagating clip)
    if state.n_seen == 1:
        delta = gain = loss = math.nan
    else:
        delta = close - state.last_close
        # "+ 0.0" folds IEEE -0.0 to +0.0, matching the oracle.  NaN clip
        # parity with SQL greatest/least: NaN is LARGER than any numeric,
        # so greatest(NaN, 0) is NaN (max(delta, 0.0) with delta first
        # reproduces it) while least(NaN, 0) is 0.0 — which Python's
        # min() gets wrong (min(nan, 0.0) -> nan), hence the explicit
        # comparison.
        gain = max(delta, 0.0) + 0.0
        loss = (-delta if delta < 0.0 else 0.0) + 0.0
        state.n_delta += 1

    if not math.isnan(delta):
        gwin = state.gains + [gain]
        lwin = state.losses + [loss]
    else:
        gwin, lwin = state.gains, state.losses
    if state.n_delta >= RSI_WINDOW and len(gwin) >= RSI_WINDOW:
        avg_gain = sum(gwin) / RSI_WINDOW
        avg_loss = sum(lwin) / RSI_WINDOW
    else:
        avg_gain = avg_loss = math.nan

    rs = math.nan if (math.isnan(avg_loss) or avg_loss == 0.0) else avg_gain / avg_loss
    rsi = 100.0 - 100.0 / (1.0 + rs) if not math.isnan(rs) else math.nan

    if math.isnan(sma) or math.isnan(ema_out) or math.isnan(rsi):
        signal = HOLD
    elif sma > ema_out and rsi < 70:
        signal = BUY
    elif sma < ema_out and rsi > 30:
        signal = SELL
    else:
        signal = HOLD

    # roll buffers
    state.closes = window[-(SMA_WINDOW - 1):]
    if not math.isnan(delta):
        state.gains = gwin[-(RSI_WINDOW - 1):]
        state.losses = lwin[-(RSI_WINDOW - 1):]
    state.last_close = close
    state.last_time_us = time_us

    return (sma, ema_out, delta, gain, loss, avg_gain, avg_loss, rs, rsi, signal)


def step(state: SymbolState, close: float, time_us: int) -> dict | None:
    """Advance one row; return the enriched output row or None if late
    (at or before the key's last time: first-writer-wins)."""
    if time_us <= state.last_time_us:
        return None
    return dict(zip(OUT_COLS, _advance(state, close, time_us)))


def _enrich_rows(
    states: list, codes: np.ndarray, pdf: pd.DataFrame, time_col: str, close_col: str, stream: bool
) -> pd.DataFrame:
    """The columnar loop behind every caller: row ``i`` belongs to the
    key whose state is ``states[codes[i]]``; ``stream`` picks the row
    contract (module doc).  Rows are taken in a stable sort on (key, µs
    time), so each key sees its own rows in time order, ties in arrival
    order.

    Arrow surfaces a SQL NULL close as NaN in float chunks, so one NaN
    test covers both.  Columns are read and written by name, so names
    that are not Python identifiers (``24h_vol``) pass through intact."""
    time_us = pdf[time_col].to_numpy(dtype="datetime64[us]").view(np.int64)  # NaT -> min
    closes = pdf[close_col].to_numpy(dtype=np.float64, na_value=np.nan)
    order = np.lexsort((time_us, codes))
    keep, rows = [], []
    for i, k, t, c in zip(
        order.tolist(), codes[order].tolist(), time_us[order].tolist(), closes[order].tolist()
    ):
        if c != c:  # NULL or NaN close
            if not stream:
                keep.append(i)
                rows.append(_NO_CLOSE)
            continue
        state = states[k]
        if stream and t <= state.last_time_us:
            continue
        keep.append(i)
        rows.append(_advance(state, c, t))

    keep = np.asarray(keep, dtype=np.intp)
    out = {c: pdf[c].to_numpy()[keep] for c in pdf.columns}
    values = list(zip(*rows)) or [()] * len(OUT_COLS)
    for c, v in zip(OUT_COLS, values):
        out[c] = np.array(v, dtype=object if c == "signal" else np.float64)
    return pd.DataFrame(out)


def _one_key(pdf: pd.DataFrame) -> np.ndarray:
    return np.zeros(len(pdf), dtype=np.intp)


def enrich_group(pdf: pd.DataFrame, time_col: str, close_col: str) -> pd.DataFrame:
    """Batch: enrich one key's full history from an empty state — every
    input row comes out once, in time order."""
    return _enrich_rows([SymbolState()], _one_key(pdf), pdf, time_col, close_col, stream=False)


def process_group(state: SymbolState, pdf: pd.DataFrame, time_col: str, close_col: str) -> pd.DataFrame:
    """Stream: enrich one key's micro-batch rows from (and into) ``state``
    — late/duplicate rows and NULL/NaN closes are dropped, never emitted,
    and never advance the state."""
    return _enrich_rows([state], _one_key(pdf), pdf, time_col, close_col, stream=True)


def process_bucket(
    value: tuple | None, pdf: pd.DataFrame, symbol_col: str, time_col: str, close_col: str
) -> tuple[pd.DataFrame, tuple]:
    """Stream: :func:`process_group` for every symbol of one bucket's
    micro-batch rows at once.  ``value`` is the bucket's state row of
    :func:`bucket_state_ddl`, or None for a new bucket; returns the
    output rows and the new state row.  A symbol the bucket has not seen
    starts from an empty state; a NULL symbol is a key of its own, as
    ``groupBy`` makes it."""
    states = {t[0]: SymbolState.from_tuple(t[1:]) for t in value[0]} if value else {}
    codes, uniques = pd.factorize(pdf[symbol_col], use_na_sentinel=False)
    keys = [None if k != k else k for k in uniques.tolist()]  # NaN -> None
    per_code = [states.setdefault(k, SymbolState()) for k in keys]
    out = _enrich_rows(per_code, codes, pdf, time_col, close_col, stream=True)
    return out, ([(k, *st.to_tuple()) for k, st in states.items()],)
