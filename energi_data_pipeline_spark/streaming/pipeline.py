"""Streaming medallion: the reference pipeline as a real stream.

SURVEY.md §2 closes with the observation that the reference *is* a
micro-batch stream: bronze = offset-tracked source, silver =
stateless incremental transform, gold = sliding window with a
warm-up/lateness protocol.  This module runs exactly that shape on
Structured Streaming:

    readStream(bronze dir)
      -> foreachBatch( silver builders + gold window + upsert )

``foreachBatch`` reuses the *batch* builders (operators.silver/gold)
unchanged — one set of semantics, two execution modes — and the
checkpoint directory replaces the reference's dlt state dir.  The
4-minute warm-up lookback (gold_aggr.py:98) is the batch-side
equivalent of ``withWatermark("time_id", "4 minutes")``; inside
foreachBatch we keep the reference's literal two-predicate protocol
so results are bit-identical with the batch pipeline.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame, SparkSession

from ..io import insert_if_absent, max_watermark, table_path
from ..operators.gold import build_gold
from ..operators.silver import build_dim_time, build_fact
from ..pipelines.medallion import layer_schema, read_pinned

EPOCH = datetime(1970, 1, 1)


def process_batch(spark: SparkSession, warehouse: str,
                  bronze_batch: DataFrame) -> None:
    """One micro-batch: silver upsert then gold window + trim.

    Identical logic to pipelines.medallion but driven by the stream,
    with the same pinned-schema reads and watermarks; watermarks
    still come from the destination tables, so replays (checkpoint
    recovery) are idempotent — the anti-join drops rows a
    half-finished previous batch already wrote.
    """
    fact_dst = read_pinned(spark, warehouse, "silver", "fact_power_system")
    wm = max_watermark(fact_dst, "time_id", EPOCH)
    insert_if_absent(spark, build_dim_time(bronze_batch, watermark=wm),
                     warehouse, "silver", "dim_time", keys=["time_id"])
    insert_if_absent(spark, build_fact(bronze_batch, watermark=wm),
                     warehouse, "silver", "fact_power_system",
                     keys=["time_id"])

    fact = read_pinned(spark, warehouse, "silver", "fact_power_system")
    dim = read_pinned(spark, warehouse, "silver", "dim_time")
    gold_dst = read_pinned(spark, warehouse, "gold", "power_system_5min_avg")
    gwm = max_watermark(gold_dst, "time_id", EPOCH)
    gold = build_gold(fact, dim, watermark=gwm)
    insert_if_absent(spark, gold, warehouse, "gold",
                     "power_system_5min_avg", keys=["time_id"])


def run_streaming(spark: SparkSession, warehouse: str,
                  checkpoint_dir: str, available_now: bool = True):
    """Stream the bronze directory into silver/gold.

    ``available_now=True`` drains everything currently on disk and
    stops (test mode); ``False`` runs continuously, picking up new
    bronze files as the ingest lands them.
    """
    bronze_path = table_path(warehouse, "bronze", "power_system_raw")
    stream = spark.readStream.schema(
        layer_schema(spark, "bronze", "power_system_raw")).parquet(bronze_path)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        process_batch(batch_df.sparkSession, warehouse, batch_df)

    writer = (stream.writeStream.foreachBatch(handle)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    query = writer.start()
    if available_now:
        query.awaitTermination()
    return query
