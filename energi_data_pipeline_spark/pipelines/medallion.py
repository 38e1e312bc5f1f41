"""The medallion pipeline: Spark-native equivalent of the
reference's three entry points (SURVEY.md §3).

Storage model: a warehouse directory of parquet tables in
``bronze/ silver/ gold/`` layers (the reference's DuckDB schemas,
silver_transform.py:19).  Every layer is written with
``insert_if_absent`` (anti-join append = ON CONFLICT DO NOTHING) and
reads incrementally from its own destination watermark
(COALESCE(MAX(time_id), epoch)) — the reference's self-watermarking
protocol, no external state store.

Reads pin each table's schema (derived once from the builders, see
:func:`layer_schema`), so planning a read runs no Spark job, and the
watermarks and silver's stats line come from the key statistics
``insert_if_absent`` records at each commit (io.key_stats).

Scale: no table is partitioned, and the watermark predicate prunes
neither files nor row groups: the timestamps are stored as INT96,
which carries no min/max statistics, so every scan reads the whole
key column (io.max_watermark says why they stay INT96).  dim_time
broadcasts; ``scaled=True`` runs the gold window partitioned by day
with warm-up replay (operators.windows).
"""

from __future__ import annotations

import time
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..io import (export_csv, insert_if_absent, key_stats, max_watermark,
                  read_layer_table)
from ..operators.gold import EXPORT_COLUMNS, build_gold
from ..operators.silver import build_dim_time, build_fact
from ..sources.normalize import BRONZE_FULL_SCHEMA, records_to_bronze
from ..sources.rest import INITIAL_CURSOR, format_cursor

EPOCH = datetime(1970, 1, 1)

#: (layer, table) -> schema, derived on first use by layer_schema
_SCHEMAS: dict[tuple[str, str], StructType] = {}


def layer_schema(spark: SparkSession, layer: str,
                 name: str) -> StructType:
    """The schema of one of the pipeline's four tables, derived once
    from the pipeline's own builders over an empty bronze frame, so
    it cannot drift from what the builders write."""
    if not _SCHEMAS:
        bronze = spark.createDataFrame([], BRONZE_FULL_SCHEMA)
        fact = build_fact(bronze)
        dim = build_dim_time(bronze)
        _SCHEMAS.update({
            ("bronze", "power_system_raw"): bronze.schema,
            ("silver", "dim_time"): dim.schema,
            ("silver", "fact_power_system"): fact.schema,
            ("gold", "power_system_5min_avg"): build_gold(fact, dim).schema,
        })
    return _SCHEMAS[layer, name]


def read_pinned(spark: SparkSession, warehouse: str, layer: str,
                name: str) -> DataFrame | None:
    """``read_layer_table`` with the table's :func:`layer_schema`."""
    return read_layer_table(spark, warehouse, layer, name,
                            schema=layer_schema(spark, layer, name))


def _layer_io(table_format: str):
    """(read_layer_table, insert_if_absent) for the chosen storage
    format.  ``"parquet"`` (default): the rename-based layout, read
    with pinned schemas (:func:`read_pinned`) — correct on any single
    POSIX filesystem, which is the reference's own scope.
    ``"commitlog"``: the put-if-absent commit-log format
    (commitlog.CommitLogTable) for object-store deployments where
    atomic rename does not exist; same layer/table addressing, same
    idempotent-append semantics, plus lock-free multi-writer safety
    (r07 verdict #5)."""
    if table_format == "parquet":
        return read_pinned, insert_if_absent
    if table_format == "commitlog":
        from .. import commitlog

        return commitlog.read_layer_table, commitlog.insert_if_absent
    raise ValueError(f"unknown table_format {table_format!r}")


def run_bronze(spark: SparkSession, warehouse: str, source,
               table_format: str = "parquet") -> int:
    """bronze_ingest.py equivalent: fetch records after the cursor,
    normalize, dedup the cursor-boundary rows, append.

    The cursor is MAX(minutes1_utc) of the bronze table itself —
    the same self-watermark silver/gold already use, which drops the
    reference's external dlt state directory entirely.
    """
    t0 = time.time()
    read_t, insert_t = _layer_io(table_format)
    bronze = read_t(spark, warehouse, "bronze", "power_system_raw")
    cursor = max_watermark(bronze, "minutes1_utc", None)
    cursor_str = format_cursor(cursor) if cursor else INITIAL_CURSOR
    records = source.fetch(cursor_str)
    df = records_to_bronze(spark, records)
    insert_t(spark, df, warehouse, "bronze", "power_system_raw",
             keys=["minutes1_utc"])
    print(f"bronze: {len(records)} records in {time.time() - t0:.2f}s")
    return len(records)


def run_silver(spark: SparkSession, warehouse: str,
               table_format: str = "parquet") -> None:
    """silver_transform.py equivalent: watermark from the fact table,
    dim upsert + fact insert, stats report."""
    read_t, insert_t = _layer_io(table_format)
    bronze = read_t(spark, warehouse, "bronze", "power_system_raw")
    if bronze is None:
        print("silver: no bronze data")
        return
    fact_dst = read_t(spark, warehouse, "silver", "fact_power_system")
    wm = max_watermark(fact_dst, "time_id", EPOCH)

    dim = build_dim_time(bronze, watermark=wm)
    insert_t(spark, dim, warehouse, "silver", "dim_time",
             keys=["time_id"])
    fact = build_fact(bronze, watermark=wm)
    insert_t(spark, fact, warehouse, "silver", "fact_power_system",
             keys=["time_id"])

    total, earliest, latest = key_stats(
        read_t(spark, warehouse, "silver", "fact_power_system"), "time_id")
    print(f"silver: {total} facts, {earliest} .. {latest}")


def run_gold(spark: SparkSession, warehouse: str,
             scaled: bool = False,
             table_format: str = "parquet") -> None:
    """gold_aggr.py equivalent: watermark from the gold table,
    lookback-extended window build, trim, idempotent insert."""
    read_t, insert_t = _layer_io(table_format)
    fact = read_t(spark, warehouse, "silver", "fact_power_system")
    dim = read_t(spark, warehouse, "silver", "dim_time")
    if fact is None or dim is None:
        print("gold: no silver data")
        return
    gold_dst = read_t(spark, warehouse, "gold", "power_system_5min_avg")
    wm = max_watermark(gold_dst, "time_id", EPOCH)
    gold = build_gold(fact, dim, watermark=wm, scaled=scaled)
    insert_t(spark, gold, warehouse, "gold",
             "power_system_5min_avg", keys=["time_id"])
    print("gold: 5-minute moving averages updated")


def export_ml_features(spark: SparkSession, warehouse: str,
                       out_path: str, single_file: bool = True,
                       table_format: str = "parquet") -> None:
    """gold_aggr.py:226-255: ordered 13-column CSV export."""
    read_t, _ = _layer_io(table_format)
    gold = read_t(spark, warehouse, "gold", "power_system_5min_avg")
    export_csv(gold.select(*EXPORT_COLUMNS), out_path,
               order_by=["time_id"], single_file=single_file)


def run_all(spark: SparkSession, warehouse: str, source,
            csv_path: str | None = None,
            table_format: str = "parquet") -> None:
    """Sequential orchestration (the reference's __main__ blocks).

    ``table_format="commitlog"`` runs the whole pipeline on the
    put-if-absent commit-log format (see _layer_io)."""
    run_bronze(spark, warehouse, source, table_format=table_format)
    run_silver(spark, warehouse, table_format=table_format)
    run_gold(spark, warehouse, table_format=table_format)
    if csv_path:
        export_ml_features(spark, warehouse, csv_path,
                           table_format=table_format)
