"""The stream's keyed state is kept per symbol bucket (streaming/state.py
``N_BUCKETS``): one ``applyInPandasWithState`` group and one state row per
bucket, each holding the states of several symbols.

These tests pin that the layout is invisible in the output and visible
in the state store:

* one bucket's rows through ``process_bucket`` give the rows and states
  of ``process_group`` run per symbol;
* over more symbols than buckets, with verbatim resends, rows 4-5
  minutes late, a NULL symbol and a stop/restart from the checkpoint,
  ``enrich_stream`` equals batch ``enrich`` over the first-writer rows;
* the enrichment operator keeps at most ``N_BUCKETS`` state rows.
"""

from __future__ import annotations

import math
import os
import random
from datetime import datetime, timedelta

import numpy as np
import pandas as pd

from big_data_engineering_financial_analysis_spark.functions.indicators import enrich
from big_data_engineering_financial_analysis_spark.schemas import CANDLE_SCHEMA
from big_data_engineering_financial_analysis_spark.streaming.pipeline import enrich_stream
from big_data_engineering_financial_analysis_spark.streaming.state import (
    N_BUCKETS,
    SymbolState,
    process_bucket,
    process_group,
)

T0 = datetime(2024, 1, 1)
MINUTES_PER_BATCH = 10
SYMBOLS = [f"S{i:03d}" for i in range(200)] + [None]


def _candle(rng, prices, sym, minute):
    prices[sym] *= math.exp(rng.gauss(0.0, 0.002))
    c = round(prices[sym], 4)
    return (sym, T0 + timedelta(minutes=minute), c, c, c, c, 1.0)


def _batches(n_batches, seed=3):
    """Micro-batch row lists for every symbol, one candle a minute.

    Each batch after the first also carries verbatim resends of rows
    already sent, in it or in the batch before, and the rows some symbols
    held back from the batch before, which arrive 4-5 minutes behind the
    last time their symbol has seen."""
    rng = random.Random(seed)
    prices = {s: rng.uniform(10.0, 1000.0) for s in SYMBOLS}
    batches, held = [], []
    for b in range(n_batches):
        lo = b * MINUTES_PER_BATCH
        rows, sent = list(held), []
        held = []
        for m in range(lo, lo + MINUTES_PER_BATCH):
            for s in SYMBOLS:
                row = _candle(rng, prices, s, m)
                # minutes lo+4 and lo+5 of a few symbols go out with the
                # next batch, when their symbol's last time is lo+9
                if m - lo in (4, 5) and s is not None and rng.random() < 0.05:
                    held.append(row)
                else:
                    sent.append(row)
        rows += sent
        prev = batches[-1] if batches else []
        rows += rng.sample(sent, 40) + rng.sample(prev, min(40, len(prev)))
        rng.shuffle(rows)
        batches.append(rows)
    return batches


def _first_writer(batches):
    """The rows the stream keeps: per symbol, a row is kept when its time
    is after every time the symbol kept before (batches in order, each
    batch's rows in time order, ties in arrival order)."""
    last, kept = {}, []
    for rows in batches:
        for r in sorted(rows, key=lambda r: r[1]):
            if r[0] not in last or r[1] > last[r[0]]:
                last[r[0]] = r[1]
                kept.append(r)
    return kept


def _publish(spark, src, rows, b):
    """Write one micro-batch as one file; the file source replays in
    mtime order."""
    before = set(os.listdir(src)) if os.path.isdir(src) else set()
    spark.createDataFrame(rows, CANDLE_SCHEMA).coalesce(1).write.mode("append").parquet(src)
    for name in set(os.listdir(src)) - before:
        if name.endswith(".parquet"):
            os.utime(os.path.join(src, name), (1_700_000_000 + b * 60,) * 2)


def _sorted(pdf):
    return pdf.sort_values(["stock_symbol", "local_time"]).reset_index(drop=True)


def test_process_bucket_equals_process_group_per_symbol():
    batches = [pd.DataFrame(rows, columns=CANDLE_SCHEMA.names) for rows in _batches(3)]
    value, states = None, {}
    for pdf in batches:
        out, value = process_bucket(value, pdf, "stock_symbol", "local_time", "close")
        want = []
        for s, g in pdf.groupby("stock_symbol", dropna=False, sort=False):
            st = states.setdefault(None if s != s else s, SymbolState())  # NULL group: NaN
            want.append(process_group(st, g, "local_time", "close"))
        want = pd.concat(want, ignore_index=True)
        pd.testing.assert_frame_equal(_sorted(out), _sorted(want), check_exact=True)
    got = {t[0]: t[1:] for t in value[0]}
    assert set(got) == set(SYMBOLS)
    assert all(repr(got[s]) == repr(st.to_tuple()) for s, st in states.items())


def test_bucketed_stream_equals_batch_over_first_writer_rows(spark, tmp_path):
    assert len(SYMBOLS) > 3 * N_BUCKETS  # buckets hold several symbols
    batches = _batches(4)
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))

    def run(first, last):
        for b in range(first, last):
            _publish(spark, src, batches[b], b)
        stream = spark.readStream.schema(CANDLE_SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
        q = (
            enrich_stream(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        n = sum(1 for p in q.recentProgress if p["numInputRows"] > 0)
        q.stop()
        return n

    # stop after two micro-batches, restart from the checkpoint for two more
    assert run(0, 2) == 2
    assert run(2, 4) == 2

    streamed = _sorted(spark.read.parquet(out).toPandas())
    kept = _first_writer(batches)
    batch = _sorted(enrich(spark.createDataFrame(kept, CANDLE_SCHEMA)).toPandas())

    assert list(streamed.columns) == list(batch.columns)  # no bucket column
    assert len(streamed) == len(kept) < sum(map(len, batches))  # resends dropped
    assert len(kept) < len({r[:2] for rows in batches for r in rows})  # late rows dropped
    assert streamed["stock_symbol"].isna().sum() == 4 * MINUTES_PER_BATCH
    assert (streamed["local_time"] == batch["local_time"]).all()
    assert streamed["stock_symbol"].equals(batch["stock_symbol"])
    for c in ["sma_5", "ema_10", "rsi_10"]:
        np.testing.assert_array_equal(
            streamed[c].to_numpy(dtype=float), batch[c].to_numpy(dtype=float), err_msg=c
        )
    assert (streamed["signal"] == batch["signal"]).all()


def test_enrich_state_rows_capped_by_buckets(spark, tmp_path):
    src = str(tmp_path / "src")
    rows = [(s, T0, 1.0, 1.0, 1.0, 1.0, 1.0) for s in SYMBOLS if s is not None]
    _publish(spark, src, rows, 0)
    stream = spark.readStream.schema(CANDLE_SCHEMA).parquet(src)
    q = (
        enrich_stream(stream)
        .writeStream.format("memory")
        .queryName("bucket_rows_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    ops = q.lastProgress["stateOperators"]
    q.stop()
    assert spark.sql("SELECT count(*) c FROM bucket_rows_out").first()["c"] == len(rows)
    enrich_ops = [op for op in ops if "pandas" in op["operatorName"].lower()]
    assert len(enrich_ops) == 1
    assert 0 < enrich_ops[0]["numRowsTotal"] <= N_BUCKETS
