"""The program side of the benchmark: one process that owns the SparkSession.

Started by ``perfbench/run.py`` as ``python3 child.py <workload> <config>``.
It builds the session with ``session.get_spark``, then serves JSON
commands read from stdin, one per line, replying with one JSON line each
on the original stdout.  File descriptor 1 is pointed at stderr before
Spark starts, so nothing the JVM prints can corrupt the replies.

It drives the package only through its public functions and edits no file
of it.  Spans (``perfbench.spans``) wrap each call into a layer; the
benchmark switches them on for the traced phase of a ``--trace 1`` run.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.spans import NullTracer, Tracer  # noqa: E402


def _candles(spark, path: str):
    """Wire JSON lines -> typed candles via the Kafka parse expression."""
    from big_data_engineering_financial_analysis_spark.sources.kafka import parse_candle_json

    return _with_event_id(parse_candle_json(spark.read.schema("value string").text(path)))


def _with_event_id(df):
    """``ilp_lines`` and the latest-signal panel select ``event_id``, a
    column only the test fixtures carry; Kafka-parsed candles get a
    deterministic id from their dedup key instead."""
    from pyspark.sql import functions as F

    return df.withColumn("event_id", F.xxhash64("stock_symbol", "local_time"))


class App:
    def __init__(self, spark, cfg: dict, tracer) -> None:
        self.spark = spark
        self.cfg = cfg
        self.tracer = tracer
        self.trace_spans = Tracer()

    def cmd_trace(self, on: bool) -> dict:
        self.tracer = self.trace_spans if on else NullTracer()
        return {}

    def cmd_spans(self) -> dict:
        return {"spans": self.trace_spans.spans}

    def close(self) -> None:
        pass


class StreamApp(App):
    """text file source -> parse_candle_json -> dedup_stream -> enrich_stream
    -> ilp_lines -> ilp_stream_writer (TCP to the benchmark's receiver)."""

    query = None

    def _start(self):
        from big_data_engineering_financial_analysis_spark.plans.analytics_ext import ilp_lines
        from big_data_engineering_financial_analysis_spark.sources.ilp import ilp_stream_writer
        from big_data_engineering_financial_analysis_spark.sources.kafka import parse_candle_json
        from big_data_engineering_financial_analysis_spark.streaming.pipeline import (
            dedup_stream,
            enrich_stream,
        )

        raw = self.spark.readStream.schema("value string").text(self.cfg["src"])
        enriched = enrich_stream(dedup_stream(parse_candle_json(raw)))
        lines = ilp_lines(_with_event_id(enriched))
        write = ilp_stream_writer("127.0.0.1", self.cfg["ilp_port"])

        def sink(batch_df, epoch_id):
            # only odd batches are traced, so the even ones measure the
            # same phase untraced
            tracer = self.tracer if epoch_id % 2 else NullTracer()
            with tracer.span("ilp.write", epoch=epoch_id):
                write(batch_df, epoch_id)

        return (
            lines.writeStream.foreachBatch(sink)
            .option("checkpointLocation", self.cfg["checkpoint"])
            .start()
        )

    def cmd_setup(self) -> dict:
        """Warm-up: drain the warm-up ticks, then stop, as a deployment
        that is about to restart would."""
        q = self._start()
        q.processAllAvailable()
        q.stop()
        return {}

    def cmd_restart(self) -> dict:
        self.query = self._start()
        return {}

    def cmd_settle(self) -> dict:
        self.query.processAllAvailable()
        return {}

    def cmd_progress(self) -> dict:
        return {"progress": [json.loads(p.json) for p in self.query.recentProgress]}

    def cmd_oracle(self, rows_path: str, out_path: str) -> dict:
        """Batch ``enrich`` + ``ilp_lines`` over the rows the stream should
        have kept (streaming/state.py promises bit-identical output)."""
        from big_data_engineering_financial_analysis_spark.functions.indicators import enrich
        from big_data_engineering_financial_analysis_spark.plans.analytics_ext import ilp_lines

        lines = ilp_lines(enrich(_candles(self.spark, rows_path))).select("line")
        with open(out_path, "w") as f:
            for row in lines.toLocalIterator():
                f.write(row[0] + "\n")
        return {}

    def close(self) -> None:
        if self.query is not None:
            self.query.stop()


class BackfillApp(App):
    """pipeline.run_batch over the reference's 5-symbol universe."""

    def cmd_setup(self, candles_path: str, warm_out: str, n_warm: int) -> dict:
        """Warm-up: ``n_warm`` full backfills, so the timed runs meet a
        warm JVM."""
        from big_data_engineering_financial_analysis_spark.pipeline import run_batch

        self.candles = _candles(self.spark, candles_path)
        for i in range(n_warm):
            run_batch(self.spark, candles=self.candles, out_dir=f"{warm_out}{i}")
        return {}

    def cmd_run(self, out_dir: str) -> dict:
        from big_data_engineering_financial_analysis_spark.pipeline import run_batch

        with self.tracer.span("pipeline.run_batch"):
            t0 = time.perf_counter()
            counts = run_batch(self.spark, candles=self.candles, out_dir=out_dir)
            dt = time.perf_counter() - t0
        return {"s": dt, "counts": counts}

    def cmd_layers(self, out_dir: str, rewrite_dir: str) -> dict:
        """The steps run_batch chains, timed one by one."""
        from big_data_engineering_financial_analysis_spark.functions.indicators import enrich
        from big_data_engineering_financial_analysis_spark.plans import dashboard
        from big_data_engineering_financial_analysis_spark.sources.parquet import write_timeseries

        out = {}
        with self.tracer.span("functions.enrich"):
            t0 = time.perf_counter()
            enrich(self.candles).write.format("noop").mode("overwrite").save()
            out["enrich.s"] = time.perf_counter() - t0
        stored = self.spark.read.parquet(os.path.join(out_dir, "stock_data"))
        with self.tracer.span("sources.write_timeseries"):
            t0 = time.perf_counter()
            write_timeseries(stored, rewrite_dir)
            out["store.write_s"] = time.perf_counter() - t0
        for panel in dashboard.PANEL_SQL:
            with self.tracer.span("plans.dashboard", panel=panel):
                t0 = time.perf_counter()
                dashboard.run_panel(self.spark, stored, panel).count()
                out[f"panel_ms.{panel}"] = (time.perf_counter() - t0) * 1000.0
        return out


APPS = {"stream_live": StreamApp, "backfill": BackfillApp}


def main() -> None:
    proto = os.fdopen(os.dup(1), "w", buffering=1)
    os.dup2(2, 1)

    def reply(msg: dict) -> None:
        proto.write(json.dumps(msg) + "\n")

    workload, cfg_path = sys.argv[1], sys.argv[2]
    with open(cfg_path) as f:
        cfg = json.load(f)

    from big_data_engineering_financial_analysis_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{workload}")
    session_s = time.perf_counter() - t0
    app = APPS[workload](spark, cfg, NullTracer())
    try:
        for line in sys.stdin:
            msg = json.loads(line)
            cmd = msg.pop("cmd")
            if cmd == "exit":
                break
            try:
                out = getattr(app, f"cmd_{cmd}")(**msg)
                if cmd == "setup":
                    out["session_s"] = session_s
                reply(out)
            except Exception:  # report to the benchmark, keep serving
                reply({"error": traceback.format_exc()})
    finally:
        app.close()
        spark.stop()
        if app.trace_spans.spans:
            app.trace_spans.dump("child_spans.json")


if __name__ == "__main__":
    main()
