"""Sources: REST poller frame (injected fetch), timezone helpers, JDBC
builder wiring, batch pipeline CLI."""

from __future__ import annotations

import json
from datetime import datetime

import pytest

from big_data_engineering_financial_analysis_spark.functions import timeutil
from big_data_engineering_financial_analysis_spark.sources import rest_poller


def fake_fetch(symbol, from_s, to_s):
    # two candles in the window; poller must keep the LAST (ingest.py:84-88)
    return [
        {"t": to_s - 120, "o": 1, "h": 2, "l": 0.5, "c": 1.5, "v": 10},
        {"t": to_s - 60, "o": 1.5, "h": 2.5, "l": 1.0, "c": 2.0, "v": 20},
    ]


def test_poll_once_keeps_last_candle():
    rows = rest_poller.poll_once(fake_fetch, symbols=["BTCIRT", "ETHIRT"], now_s=1_700_000_000)
    assert len(rows) == 2
    assert all(r["close"] == 2.0 and r["volume"] == 20.0 for r in rows)


def test_poll_forever_bounded_cycles():
    batches = []
    cycles = list(
        rest_poller.poll_forever(
            fake_fetch, batches.append, symbols=["BTCIRT"], interval_s=0, max_cycles=3
        )
    )
    assert cycles == [1, 2, 3]
    assert len(batches) == 3 and all(len(b) == 1 for b in batches)


def test_poll_skips_empty_responses():
    rows = rest_poller.poll_once(lambda s, a, b: [], symbols=["BTCIRT"], now_s=1)
    assert rows == []


def test_tehran_conversion_roundtrip(spark):
    from pyspark.sql import functions as F

    # 2024-01-01 00:00:00 UTC == 2024-01-01 03:30:00 Tehran (UTC+3:30, no DST)
    df = spark.range(1).select(F.lit(1704067200).alias("epoch_s"))
    out = df.select(
        timeutil.epoch_to_local_string(F.col("epoch_s")).alias("local_str")
    )
    row = out.collect()[0]
    assert row.local_str == "2024-01-01 03:30:00"
    # and back: local string -> epoch ns
    back = out.select(timeutil.local_string_to_epoch_ns(F.col("local_str")).alias("ns")).collect()[0]
    assert back.ns == 1704067200 * 1_000_000_000
    # the reference-compat variant treats the naive string as UTC (off by +3:30)
    compat = out.select(
        timeutil.local_string_to_epoch_ns_compat(F.col("local_str")).alias("ns")
    ).collect()[0]
    assert compat.ns - back.ns == int(3.5 * 3600) * 1_000_000_000


def test_trailing_window():
    start, end = timeutil.trailing_window(datetime(2024, 1, 1, 12, 0), 90)
    assert (end - start).total_seconds() == 90 * 60


def test_jdbc_builder_wiring(spark):
    from big_data_engineering_financial_analysis_spark.sources import jdbc

    df = spark.range(3).toDF("x")
    w = jdbc.jdbc_writer(df, jdbc.questdb_url(), "stock_data", num_partitions=2)
    # builder is configured but never .save()d (no DB in container)
    assert w is not None
    r = jdbc.jdbc_reader(
        spark, jdbc.questdb_url(), "stock_data",
        partition_column="x", lower_bound=0, upper_bound=100, num_partitions=4,
    )
    assert r is not None


def test_pipeline_cli_batch(spark, tmp_path, capsys):
    from big_data_engineering_financial_analysis_spark.pipeline import run_batch

    # sf0.01: the panels' pinned symbol '42' exists there (sf0.001 only has
    # users 0-14, so panel results would be legitimately empty)
    counts = run_batch(spark, sf_dir="/root/testdata/sf0.01", out_dir=str(tmp_path))
    assert set(counts) == set(
        __import__("big_data_engineering_financial_analysis_spark.plans.dashboard", fromlist=["PANEL_SQL"]).PANEL_SQL
    )
    assert counts["panel_price_series"] > 0
    # enriched store written date-partitioned
    stored = spark.read.parquet(str(tmp_path / "stock_data"))
    assert "dt" in stored.columns and stored.count() > 0


def _wire_candles(spark, rows):
    """Kafka-wire candles parsed as the stream parses them; ``rows`` are
    ``(symbol, local_time, close)``."""
    from big_data_engineering_financial_analysis_spark.sources.kafka import parse_candle_json

    wire = [
        (json.dumps({"stock_symbol": s, "local_time": t, "open": c, "high": c, "low": c,
                     "close": c, "volume": 1.0}),)
        for s, t, c in rows
    ]
    return parse_candle_json(spark.createDataFrame(wire, "value string"))


def test_pipeline_batch_over_kafka_parsed_candles(spark):
    """Candles off the Kafka wire carry no ``event_id``; every panel runs
    over their enrichment, and the latest-signal panel resolves a time tie
    on the columns it selects."""
    from big_data_engineering_financial_analysis_spark.pipeline import run_batch
    from big_data_engineering_financial_analysis_spark.plans import dashboard

    rows = [(s, f"2024-01-10 00:{m:02d}:00", 100.0 + m % 4)
            for s in ["1", "2", "3", "4", "42"] for m in range(15)]
    rows.append(("42", "2024-01-10 00:14:00", 50.0))  # a second candle in the last minute
    candles = _wire_candles(spark, rows)
    assert "event_id" not in candles.columns

    counts = run_batch(spark, candles=candles)
    assert set(counts) == set(dashboard.PANEL_SQL)
    assert counts["panel_price_series"] == 16
    assert counts["panel_latest_signal"] == 1
    assert counts["panel_avg_gain_pivot"] == counts["panel_avg_loss_pivot"] == 1
    latest = spark.sql(dashboard.PANEL_SQL["panel_latest_signal"]).collect()
    tied = spark.sql(
        f"SELECT signal FROM {dashboard.VIEW} WHERE stock_symbol = '42' "
        "AND local_time = TIMESTAMP '2024-01-10 00:14:00'"
    ).collect()
    assert len(tied) == 2
    assert [(r.local_time.minute, r.signal) for r in latest] == [(14, max(r.signal for r in tied))]


def test_pipeline_batch_panel_subset_in_order(spark):
    """``run_batch(panels=...)`` answers the named panels in that order, each
    with the count its SQL gives on its own; a row-returning panel may
    count 0 while the pivots still return their one row."""
    from big_data_engineering_financial_analysis_spark.pipeline import run_batch
    from big_data_engineering_financial_analysis_spark.plans import dashboard

    # '42' only after the panels' fixed 2024-01-05..20 window
    rows = [(s, f"2024-01-10 00:{m:02d}:00", 100.0 + m % 4) for s in ["1", "2", "3", "4"] for m in range(15)]
    rows += [("42", f"2024-02-01 00:{m:02d}:00", 100.0 + m % 3) for m in range(15)]
    panels = ["panel_avg_loss_pivot", "panel_candlestick", "panel_price_series",
              "panel_indicator_series", "panel_close_stats", "panel_avg_gain_pivot"]

    counts = run_batch(spark, candles=_wire_candles(spark, rows), panels=panels)
    assert list(counts) == panels
    assert counts == {p: spark.sql(dashboard.PANEL_SQL[p]).count() for p in panels}
    assert counts["panel_candlestick"] == counts["panel_indicator_series"] == 0
    assert counts["panel_price_series"] == 15
    assert counts["panel_avg_gain_pivot"] == counts["panel_avg_loss_pivot"] == counts["panel_close_stats"] == 1


# ---------------------------------------------------------------------------
# Real-fetch branch (S1): default_fetch over HTTP against a local stub server
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def udf_stub_server():
    """Minimal UDF-history HTTP endpoint: /ok, /nodata, /error paths."""
    import threading
    from http.server import BaseHTTPRequestHandler, HTTPServer
    from urllib.parse import parse_qs, urlparse

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):
            u = urlparse(self.path)
            qs = parse_qs(u.query)
            if u.path == "/ok":
                body = {
                    "s": "ok",
                    "t": [int(qs["from"][0]) + 60, int(qs["to"][0])],
                    "o": [1.0, 1.5], "h": [2.0, 2.5], "l": [0.5, 1.0],
                    "c": [1.5, 2.0], "v": [10, 20],
                }
            elif u.path == "/nodata":
                body = {"s": "no_data"}
            else:
                body = {"s": "error", "errmsg": "boom"}
            data = json.dumps(body).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def log_message(self, *a):  # quiet
            pass

    srv = HTTPServer(("127.0.0.1", 0), Handler)
    th = threading.Thread(target=srv.serve_forever, daemon=True)
    th.start()
    yield f"http://127.0.0.1:{srv.server_port}"
    srv.shutdown()


def test_default_fetch_parses_candles(udf_stub_server):
    candles = rest_poller.default_fetch("BTCIRT", 100, 220, base_url=f"{udf_stub_server}/ok")
    assert [c["t"] for c in candles] == [160, 220]
    assert candles[-1] == {"t": 220, "o": 1.5, "h": 2.5, "l": 1.0, "c": 2.0, "v": 20}


def test_default_fetch_honors_status_field(udf_stub_server):
    # reference treats s != "ok" as no candles (ingest.py:109-115)
    assert rest_poller.default_fetch("X", 0, 1, base_url=f"{udf_stub_server}/nodata") == []
    assert rest_poller.default_fetch("X", 0, 1, base_url=f"{udf_stub_server}/error") == []


def test_poll_once_over_real_http(udf_stub_server):
    import functools

    fetch = functools.partial(rest_poller.default_fetch, base_url=f"{udf_stub_server}/ok")
    rows = rest_poller.poll_once(fetch, symbols=["BTCIRT"], now_s=1_700_000_000)
    assert len(rows) == 1 and rows[0]["close"] == 2.0 and rows[0]["volume"] == 20.0


# ---------------------------------------------------------------------------
# ILP TCP sink (K4): distributed foreachPartition writer vs a local socket
# ---------------------------------------------------------------------------


@pytest.fixture()
def tcp_sink():
    """Accumulating TCP server; yields (host, port, received_chunks)."""
    import socketserver
    import threading

    received: list[bytes] = []

    class Handler(socketserver.StreamRequestHandler):
        def handle(self):
            data = self.rfile.read()
            if data:
                received.append(data)

    srv = socketserver.ThreadingTCPServer(("127.0.0.1", 0), Handler)
    srv.daemon_threads = True
    th = threading.Thread(target=srv.serve_forever, daemon=True)
    th.start()
    yield "127.0.0.1", srv.server_address[1], received
    srv.shutdown()


def test_send_lines_roundtrip(tcp_sink):
    from big_data_engineering_financial_analysis_spark.sources import ilp

    host, port, received = tcp_sink
    n = ilp.send_lines(["a b 1", "c d 2\n"], host, port)
    assert n == len(b"a b 1\nc d 2\n")
    import time as _t

    for _ in range(50):
        if received:
            break
        _t.sleep(0.05)
    assert b"".join(received) == b"a b 1\nc d 2\n"


def test_write_ilp_distributed_roundtrip(spark, tcp_sink):
    """Batch ILP write: the oracle-checked ilp_lines formatting reaches the
    socket byte-identically, one connection per partition."""
    import time as _t

    from big_data_engineering_financial_analysis_spark.plans import analytics_ext
    from big_data_engineering_financial_analysis_spark.sources import ilp

    host, port, received = tcp_sink
    enriched = spark.createDataFrame(
        [
            (1, "BTCIRT", datetime(2024, 1, 1, 0, 0), 100.0, 99.0, 101.0, 55.0, "BUY"),
            (2, "ETHIRT", datetime(2024, 1, 1, 0, 1), 50.0, None, None, None, "HOLD"),
        ],
        "event_id long, stock_symbol string, local_time timestamp, close double, "
        "sma_5 double, ema_10 double, rsi_10 double, signal string",
    ).repartition(2)
    lines_df = analytics_ext.ilp_lines(enriched)
    expected = {r.line for r in lines_df.collect()}
    ilp.write_ilp(lines_df, host, port)
    for _ in range(100):
        if len(received) >= 2:
            break
        _t.sleep(0.05)
    got = set(b"".join(received).decode().splitlines())
    assert got == expected
    assert len(received) == 2  # one connection per partition


def test_write_ilp_null_line_fails_clean(spark, tcp_sink):
    """A NULL line value must fail the task with a clear ValueError (r9
    review): sending the string 'None' would corrupt the downstream
    table and silently skipping would drop rows."""
    import pytest as _pytest

    from big_data_engineering_financial_analysis_spark.sources import ilp

    host, port, _received = tcp_sink
    df = spark.createDataFrame([("a b 1",), (None,)], "line string")
    with _pytest.raises(Exception, match="NULL ILP line"):
        ilp.write_ilp(df, host, port)


def test_ilp_stream_writer_foreachbatch(spark, tcp_sink, tmp_path):
    """Streaming path: foreachBatch ships each micro-batch over the socket."""
    import time as _t

    from big_data_engineering_financial_analysis_spark.sources import ilp

    host, port, received = tcp_sink
    src = tmp_path / "in"
    src.mkdir()
    (src / "b0.json").write_text('{"line": "stock_data,s=X close=1.0 1"}\n')
    stream = spark.readStream.schema("line string").json(str(src))
    q = (
        stream.writeStream.foreachBatch(ilp.ilp_stream_writer(host, port))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    for _ in range(100):
        if received:
            break
        _t.sleep(0.05)
    assert b"stock_data,s=X close=1.0 1\n" in b"".join(received)


def test_ilp_stream_writer_replays_a_failed_epoch_whole(spark, tcp_sink, tmp_path):
    """At-least-once: a batch that fails after its lines were sent is not
    committed, so a restart from the same checkpoint re-sends that whole
    epoch and nothing else."""
    import collections
    import os
    import time as _t

    from big_data_engineering_financial_analysis_spark.sources import ilp

    host, port, received = tcp_sink
    src = tmp_path / "in"
    src.mkdir()
    epochs = [[f"stock_data,s=E{e} close={i}.0 {e}{i}" for i in range(3)] for e in (0, 1)]
    for e, lines in enumerate(epochs):
        path = src / f"b{e}.json"
        path.write_text("".join(json.dumps({"line": line}) + "\n" for line in lines))
        os.utime(path, (1_700_000_000 + e, 1_700_000_000 + e))  # file order = epoch order

    send = ilp.ilp_stream_writer(host, port)
    crashed = []

    def send_then_crash_once(batch_df, epoch_id):
        send(batch_df, epoch_id)
        if epoch_id == 1 and not crashed:
            crashed.append(epoch_id)
            raise RuntimeError("crash after epoch 1 was sent")

    def start():
        return (
            spark.readStream.schema("line string")
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
            .writeStream.foreachBatch(send_then_crash_once)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )

    with pytest.raises(Exception, match="crash after epoch 1"):
        start().awaitTermination(120)
    assert crashed == [1]
    start().awaitTermination(120)

    want = collections.Counter(epochs[0] + epochs[1] * 2)
    for _ in range(100):
        if sum(chunk.count(b"\n") for chunk in received) >= sum(want.values()):
            break
        _t.sleep(0.05)
    got = collections.Counter(b"".join(received).decode().splitlines())
    assert got == want


def test_load_tables_mapping_reflects_tables_without_reading(spark, tmp_path):
    """Keys, ``in``, ``len()``, ``get()`` and iteration answer from
    TABLES before any access; only asking for a value reads its table."""
    from big_data_engineering_financial_analysis_spark.sources.parquet import TABLES, load_tables
    from tests.conftest import SF_SMALL

    empty = load_tables(spark, str(tmp_path))  # no table files: a read would fail
    assert list(empty) == list(empty.keys()) == TABLES
    assert len(empty) == len(TABLES)
    assert "lineitem" in empty and "stock_data" not in empty
    assert empty.get("stock_data") is None
    with pytest.raises(KeyError):
        empty["stock_data"]

    tables = load_tables(spark, SF_SMALL)
    events = tables.get("events")
    assert events is tables["events"]  # memoized
    assert "ts" in events.columns
