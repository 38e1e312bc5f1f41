"""JSON record normalization: API names -> snake_case columns.

The reference relies on dlt's implicit schema inference + name
normalization (SURVEY.md §1.3): the API yields ``Minutes1UTC``,
``CO2Emission``, ``ProductionGe100MW`` … while silver SQL reads
``minutes1_utc``, ``co2_emission``, ``production_ge100_mw``
(bronze_ingest.py:8-13 vs silver_transform.py:64,88-101).  This
module makes that normalization explicit and deterministic, and pins
the bronze schema to a StructType so re-inference can never drift.
"""

from __future__ import annotations

import hashlib
import json
import re
from datetime import datetime

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (DoubleType, MapType, StringType,
                               StructField, StructType, TimestampType)


def snake_case(name: str) -> str:
    """camelCase/PascalCase/acronym -> snake_case, matching the dlt
    normalizations the reference depends on:

    >>> snake_case("Minutes1UTC")
    'minutes1_utc'
    >>> snake_case("CO2Emission")
    'co2_emission'
    >>> snake_case("ProductionGe100MW")
    'production_ge100_mw'
    >>> snake_case("ExchangeDK1_DE")
    'exchange_dk1_de'
    """
    s = re.sub(r"([a-z0-9])([A-Z])", r"\1_\2", name)
    s = re.sub(r"([A-Z]+)([A-Z][a-z])", r"\1_\2", s)
    return re.sub(r"__+", "_", s).lower()


#: The 16 bronze measure columns (FIXTURES.md §1); ts parsed from the
#: API's ISO string at minute resolution (bronze_ingest.py:26-30).
MEASURES = [
    "co2_emission", "production_ge100_mw", "production_lt100_mw",
    "solar_power", "offshore_wind_power", "onshore_wind_power",
    "exchange_sum", "exchange_dk1_de", "exchange_dk2_de",
    "exchange_dk1_nl", "exchange_dk1_gb", "exchange_dk1_no",
    "exchange_dk1_se", "exchange_dk2_se", "exchange_dk1_dk2",
]

BRONZE_SCHEMA = StructType(
    [StructField("minutes1_utc", TimestampType())]
    + [StructField(m, DoubleType()) for m in MEASURES])

#: Lineage / drift columns appended to every bronze row, mirroring
#: dlt's implicit behavior the reference depends on (SURVEY §1.3:
#: dlt appends ``_dlt_load_id``/``_dlt_id``; dlt silently WIDENS the
#: schema when the API adds a field — ``dlt.pipeline.run``,
#: bronze_ingest.py:72-75).  A pinned schema must not silently DROP
#: a new API field instead, so unknown keys are quarantined into
#: ``_extras`` and every batch is traceable by ``_load_id``.
BRONZE_LINEAGE_FIELDS = [
    StructField("_extras", MapType(StringType(), StringType())),
    StructField("_load_id", StringType()),
]

BRONZE_FULL_SCHEMA = StructType(
    list(BRONZE_SCHEMA.fields) + BRONZE_LINEAGE_FIELDS)


def batch_load_id(records: list[dict]) -> str:
    """Content-addressed load id: md5 over the canonical JSON of the
    batch.  Deterministic, so a re-ingest of identical content gets
    the same id (idempotency-friendly) while any differing batch is
    uniquely traceable — the analog of dlt's ``_dlt_load_id``."""
    payload = json.dumps(records, sort_keys=True, default=str)
    return hashlib.md5(payload.encode()).hexdigest()[:16]


def normalize_records(records: list[dict],
                      load_id: str | None = None) -> list[dict]:
    """API JSON dicts -> bronze row dicts keyed by
    BRONZE_FULL_SCHEMA's column names (pure Python, no Spark).

    Timestamps arrive as ISO strings with optional Z suffix and are
    truncated to minute resolution exactly like
    bronze_ingest.py:26-30 (fromisoformat + strftime '%Y-%m-%dT%H:%M').

    Keys outside the pinned measure schema are NOT dropped: they are
    captured as strings in the ``_extras`` map (schema drift made
    visible instead of silent loss), and each row carries the batch
    ``_load_id`` so a bad batch can be identified and surgically
    deleted from bronze.
    """
    lid = load_id if load_id is not None else batch_load_id(records)
    known = {f.name for f in BRONZE_SCHEMA.fields}
    normalized = []
    for rec in records:
        row = {snake_case(k): v for k, v in rec.items()}
        ts = row.get("minutes1_utc")
        if isinstance(ts, str):
            ts = datetime.fromisoformat(ts.replace("Z", "+00:00"))
            ts = ts.replace(tzinfo=None)
        if ts is not None:
            ts = ts.replace(second=0, microsecond=0)
        row["minutes1_utc"] = ts
        out = {
            f.name: (float(row[f.name])
                     if isinstance(f.dataType, DoubleType)
                     and row.get(f.name) is not None
                     else row.get(f.name))
            for f in BRONZE_SCHEMA.fields}
        extras = {k: str(v) for k, v in sorted(row.items())
                  if k not in known and v is not None}
        out["_extras"] = extras or None
        out["_load_id"] = lid
        normalized.append(out)
    return normalized


def records_to_bronze(spark: SparkSession, records: list[dict],
                      load_id: str | None = None) -> DataFrame:
    """API JSON dicts -> typed, snake_cased bronze DataFrame
    (:func:`normalize_records`'s rows).

    The batch is built as one ``pyarrow.Table``, which Spark plans as
    an in-driver local relation: no action on it starts Python-worker
    tasks, as a frame made from a list of rows does.  Naive
    timestamps are converted with ``TimestampType().toInternal``, the
    conversion Spark applies to a list of rows (it reads a naive
    datetime in the process's local time zone), so the stored
    instants equal that path's in every process time zone.
    """
    rows = normalize_records(records, load_id)
    # Spark's Arrow form of the schema: the timestamp column is
    # UTC-zoned, so it carries instants, which Spark takes as they are
    arrow = to_arrow_schema(BRONZE_FULL_SCHEMA)
    to_micros = TimestampType().toInternal
    columns = [pa.array([to_micros(r["minutes1_utc"]) for r in rows],
                        arrow.field("minutes1_utc").type)]
    columns += [pa.array([r[f.name] for r in rows], f.type)
                for f in list(arrow)[1:]]
    table = pa.Table.from_arrays(columns, schema=arrow)
    return spark.createDataFrame(table, BRONZE_FULL_SCHEMA)


def normalize_columns(df: DataFrame) -> DataFrame:
    """Rename every column of an inferred DataFrame to snake_case."""
    return df.toDF(*[snake_case(c) for c in df.columns])
