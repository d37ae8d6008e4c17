"""One indicator kernel for batch and stream (streaming/state.py).

Batch ``enrich`` and the streaming pipelines run the same per-key
recursion; these tests pin the claims that rest on it:

* batch and stream agree bit for bit on 4-decimal random-walk prices, the
  input class on which a separate pandas recipe used to differ in sma_5;
* the kernel's SMA matches Spark's own window ``avg`` bit for bit;
* carrying the state across any chunking of a series changes nothing;
* the batch row contract for ties and NULL/NaN closes;
* Kafka-parsed candles (no ``event_id``) go through ``ilp_lines``;
* the session's default heap fits the host, and the pipeline entry points
  do not import the window-indicator family.
"""

from __future__ import annotations

import math
import os
import random
import subprocess
import sys
from datetime import datetime, timedelta, timezone

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from big_data_engineering_financial_analysis_spark.functions.indicators import enrich
from big_data_engineering_financial_analysis_spark.schemas import CANDLE_SCHEMA
from big_data_engineering_financial_analysis_spark.streaming.state import (
    ALPHA,
    BETA,
    OUT_COLS,
    SymbolState,
    process_group,
    step,
)

NUM_COLS = [c for c in OUT_COLS if c != "signal"]


def _walk_rows(symbols, n, start, seed=7):
    """1-minute candles of a geometric random walk rounded to 4 decimals."""
    rng = random.Random(seed)
    rows = []
    for s in symbols:
        p = rng.uniform(10.0, 1000.0)
        for k in range(n):
            p *= math.exp(rng.gauss(0.0, 0.002))
            c = round(p, 4)
            rows.append((s, start + timedelta(minutes=k), c, c, c, c, 1.0))
    return rows


def _sorted(pdf):
    return pdf.sort_values(["stock_symbol", "local_time"]).reset_index(drop=True)


def test_batch_and_stream_bit_equal_on_4_decimal_walk(spark, tmp_path):
    rows = _walk_rows(["A", "B", "C"], 90, datetime(2024, 1, 1))
    full = spark.createDataFrame(rows, CANDLE_SCHEMA)
    src = str(tmp_path / "src")
    seen: set[str] = set()
    for b in range(3):  # three micro-batches of 30 minutes each
        part = [r for r in rows if b * 30 <= r[1].minute + 60 * r[1].hour < (b + 1) * 30]
        spark.createDataFrame(part, CANDLE_SCHEMA).coalesce(1).write.mode("append").parquet(src)
        # the file source replays in mtime order
        for name in os.listdir(src):
            path = os.path.join(src, name)
            if name.endswith(".parquet") and path not in seen:
                os.utime(path, (1_700_000_000 + b * 60,) * 2)
                seen.add(path)

    from big_data_engineering_financial_analysis_spark.streaming.pipeline import enrich_stream

    stream = spark.readStream.schema(CANDLE_SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
    q = (
        enrich_stream(stream)
        .writeStream.format("memory")
        .queryName("one_kernel_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    n_batches = len(q.recentProgress)
    q.stop()
    assert n_batches >= 3
    streamed = _sorted(spark.sql("SELECT * FROM one_kernel_out").toPandas())
    batch = _sorted(enrich(full).toPandas())
    assert len(streamed) == len(batch) == len(rows)
    for c in ["sma_5", "ema_10", "rsi_10"]:
        np.testing.assert_array_equal(
            streamed[c].to_numpy(dtype=float), batch[c].to_numpy(dtype=float), err_msg=c
        )
    assert (streamed["signal"] == batch["signal"]).all()


def test_kernel_sma_matches_spark_window_avg(spark):
    """The 5-row window summed in event order then divided by 5 is
    exactly Spark's sliding-frame ``avg``."""
    rows = _walk_rows(["A", "B"], 400, datetime(2024, 1, 1), seed=11)
    df = spark.createDataFrame(rows, CANDLE_SCHEMA)
    df.createOrReplaceTempView("walk_candles")
    want = _sorted(
        spark.sql(
            """SELECT stock_symbol, local_time,
                      CASE WHEN count(close) OVER w >= 5 THEN avg(close) OVER w END AS sma_5
               FROM walk_candles
               WINDOW w AS (PARTITION BY stock_symbol ORDER BY local_time
                            ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)"""
        ).toPandas()
    )
    got = _sorted(enrich(df).toPandas())
    np.testing.assert_array_equal(got["sma_5"].to_numpy(dtype=float), want["sma_5"].to_numpy(dtype=float))


def _series_frame(closes):
    t0 = pd.Timestamp("2024-01-01")
    return pd.DataFrame(
        {
            "stock_symbol": "S",
            "local_time": [t0 + pd.Timedelta(minutes=i) for i in range(len(closes))],
            "close": np.asarray(closes, dtype=np.float64),
        }
    )


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.floats(min_value=0.01, max_value=1e6, allow_nan=False, allow_infinity=False),
            st.just(float("nan")),
        ),
        min_size=1,
        max_size=60,
    ),
    st.lists(st.integers(min_value=0, max_value=60), max_size=6),
)
def test_process_group_chunking_is_invisible(closes, cuts):
    """Any split of a series into micro-batches, with the state carried
    between them, gives the rows and state of one call over the whole."""
    pdf = _series_frame(closes)
    whole_state = SymbolState()
    whole = process_group(whole_state, pdf, "local_time", "close")

    bounds = sorted({0, len(pdf), *(c for c in cuts if c < len(pdf))})
    chunk_state = SymbolState()
    parts = [
        process_group(chunk_state, pdf.iloc[a:b], "local_time", "close")
        for a, b in zip(bounds, bounds[1:])
    ]
    chunked = pd.concat(parts, ignore_index=True)
    pd.testing.assert_frame_equal(chunked, whole.reset_index(drop=True), check_exact=True)
    assert repr(chunk_state.to_tuple()) == repr(whole_state.to_tuple())


def test_batch_row_contract_ties_and_unusable_closes(spark):
    t = [datetime(2024, 1, 1) + timedelta(minutes=i) for i in range(14)]
    closes = [10.0, 11.0, 12.0, 11.5, 13.0, 12.0, 14.0, 13.5, 15.0, 14.0, 16.0, 15.5]
    rows = [("X", t[i], c) for i, c in enumerate(closes)]
    rows += [("X", t[12], None), ("X", t[13], float("nan"))]  # unusable closes
    rows += [("X", t[13], 17.0)]  # ties the NaN row's time
    rows += [("Y", t[0], 5.0), ("Y", t[0], 6.0), ("Y", t[1], 7.0)]  # a tie
    df = spark.createDataFrame(rows, "stock_symbol string, local_time timestamp, close double")
    out = enrich(df.repartition(1)).toPandas()

    assert len(out) == len(rows)  # one output row per input row, ties kept
    y = out[out.stock_symbol == "Y"]
    assert sorted(y["close"]) == [5.0, 6.0, 7.0]
    assert y["delta"].notna().sum() == 2  # the tie is enriched, not dropped

    x = out[out.stock_symbol == "X"]
    bad = x[x["close"].isna()]
    assert len(bad) == 2  # a NaN close comes out as NULL like the NULL one
    assert bad[NUM_COLS].isna().all().all()
    assert (bad["signal"] == "HOLD").all()

    # the unusable rows do not advance the state: the last row continues
    # the recursion of the first twelve closes
    state = SymbolState()
    for i, c in enumerate(closes):
        step(state, c, i)
    last = x[x["close"] == 17.0].iloc[0]
    assert last["delta"] == 17.0 - closes[-1]
    assert last["ema_10"] == state.ema * BETA + 17.0 * ALPHA


def test_ilp_lines_formats_kafka_parsed_candles(spark):
    """Candles off the Kafka wire carry no ``event_id``; ILP formatting of
    their enrichment still works and yields one line per candle."""
    from big_data_engineering_financial_analysis_spark.plans.analytics_ext import ilp_lines
    from big_data_engineering_financial_analysis_spark.sources.kafka import parse_candle_json

    wire = [
        f'{{"stock_symbol": "BTCIRT", "local_time": "2024-01-01 00:{m:02d}:00", '
        f'"open": 1.0, "high": 1.0, "low": 1.0, "close": {100.0 + m}, "volume": 1.0}}'
        for m in range(12)
    ]
    raw = spark.createDataFrame([(w,) for w in wire], "value string")
    lines = ilp_lines(enrich(parse_candle_json(raw)))
    assert lines.columns == ["line"]
    got = sorted(r.line for r in lines.collect())
    assert len(got) == 12
    assert got[0].startswith("stock_data,stock_symbol=BTCIRT close=100.000000,sma_5=nan,")
    ns = int(datetime(2024, 1, 1, 0, 11, tzinfo=timezone.utc).timestamp()) * 10**9
    # a rising series has no losses: rs and RSI are NULL, the signal HOLD
    assert got[-1].startswith("stock_data,stock_symbol=BTCIRT close=111.000000,sma_5=109.000000,")
    assert got[-1].endswith(f',rsi_10=nan,signal="HOLD" {ns}')


def test_default_driver_heap_fits_host_ram(spark):
    from big_data_engineering_financial_analysis_spark.session import (
        default_driver_mem,
        physical_ram_mb,
    )

    heap = default_driver_mem()
    assert heap.endswith("m") and 0 < int(heap[:-1]) <= physical_ram_mb()
    if not os.environ.get("SPARK_GRAFT_DRIVER_MEM"):
        assert spark.sparkContext.getConf().get("spark.driver.memory") == heap


def test_pipeline_entry_points_skip_window_indicator_family():
    code = (
        "import sys\n"
        "import big_data_engineering_financial_analysis_spark.pipeline\n"
        "import big_data_engineering_financial_analysis_spark.streaming.pipeline\n"
        "print('big_data_engineering_financial_analysis_spark.functions.indicators_ext' in sys.modules)\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run([sys.executable, "-c", code], cwd=root, capture_output=True, text=True, check=True)
    assert out.stdout.strip() == "False"
