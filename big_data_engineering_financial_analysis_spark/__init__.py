"""PySpark-native analytics engine with the query and data-processing
capabilities of AliAhmadi-Software/Big-Data-Engineering-Financial-Analysis,
re-expressed Spark-first.

The reference is a crypto OHLCV candle pipeline (Kafka -> Spark Structured
Streaming -> driver-side pandas indicators -> Kafka/QuestDB -> Django/Grafana
SQL).  This engine keeps the *semantics* (indicator math, dedup policy,
serving-query surface) but executes everything as Catalyst-planned DataFrame
operators so it scales horizontally instead of collecting to one driver.

Layout
------
- ``session``     SparkSession builder tuned for the target cluster shape.
- ``schemas``     Fixed schemas (candle input, enriched output) — the
                  reference declares these at
                  services/stream-processing/app/consumer.py:235-243 and
                  db/init_questdb.sql:1-21.
- ``functions``   Column-level building blocks: technical indicators
                  (SMA/EMA/RSI/signal), hashing, text metrics, time helpers.
- ``operators``   Dataset-level operators: dedup family, similarity search,
                  window utilities, multimodal column plumbing.
- ``plans``       End-user query set: the serving/aggregation API queries,
                  the Grafana dashboard query suite, analytical join queries.
- ``sources``     Batch/stream source + sink builders (parquet, kafka, rest).
- ``streaming``   Structured Streaming pipeline: stateful incremental
                  indicators, watermarked dedup, checkpointing.
- ``localfs/``    Java sources and jar of the fork-free ``file:`` file
                  system that ``session`` registers.
"""

__version__ = "0.1.0"

from big_data_engineering_financial_analysis_spark.session import get_spark  # noqa: F401
