"""Streaming drain mode: Trigger.AvailableNow over the file-source replay
harness."""

from __future__ import annotations

from big_data_engineering_financial_analysis_spark.schemas import CANDLE_SCHEMA
from big_data_engineering_financial_analysis_spark.sources import feeder


def test_available_now_drains_and_terminates(spark, tmp_path):
    """Trigger.AvailableNow: process everything currently available as
    bounded micro-batches, then stop — the batch-drain mode a scheduled
    ingest job uses instead of a resident stream."""
    from big_data_engineering_financial_analysis_spark.streaming.pipeline import dedup_stream

    src = str(tmp_path / "an_src")
    full = feeder.feed_parquet_batches(spark, src, n_batches=3, minutes_per_batch=10)

    stream = (
        spark.readStream.schema(CANDLE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        dedup_stream(stream)
        .writeStream.format("memory")
        .queryName("an_out")
        .option("checkpointLocation", str(tmp_path / "an_ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive  # drained and self-terminated
    got = spark.sql("SELECT count(*) c FROM an_out").first()["c"]
    exp = full.dropDuplicates(["stock_symbol", "local_time"]).count()
    assert got == exp
