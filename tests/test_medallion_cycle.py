"""The medallion cycle's driver-side fast paths: Arrow-built bronze
batches, schema-pinned layer reads, commit-recorded key statistics,
and the Spark job count of a steady hourly page."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from datetime import datetime
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from energi_data_pipeline_spark import io
from energi_data_pipeline_spark.io import (insert_if_absent, key_stats,
                                           read_layer_table, table_path)
from energi_data_pipeline_spark.pipelines.medallion import (
    layer_schema, read_pinned, run_all)
from energi_data_pipeline_spark.sources.rest import FixtureSource

from .conftest import REPO
from .fixtures import make_power_records

#: (layer, table, key column) of the medallion's four tables
TABLES = [
    ("bronze", "power_system_raw", "minutes1_utc"),
    ("silver", "dim_time", "time_id"),
    ("silver", "fact_power_system", "time_id"),
    ("gold", "power_system_5min_avg", "time_id"),
]

#: Spark jobs one steady hourly page may submit (37 before bronze
#: batches were Arrow-built, reads schema-pinned and watermarks
#: commit-recorded)
MAX_PAGE_JOBS = 18


def _jobs(sc, group: str, fn) -> int:
    """Spark jobs ``fn()`` submits, counted under its own job group."""
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


# ---------------------------------------------------- Arrow bronze batch
_BRONZE_PATHS_SCRIPT = r"""
import json, sys
from datetime import datetime
from pyspark.sql import functions as F
from energi_data_pipeline_spark.session import get_spark
from energi_data_pipeline_spark.sources.normalize import (
    BRONZE_FULL_SCHEMA, normalize_records, records_to_bronze)

base = {"CO2Emission": 81.5, "ProductionGe100MW": 1500,
        "SolarPower": 0.0, "ExchangeDK1_DE": -12.25}
records = [
    # the Copenhagen DST fold: 01:00Z is 03:00 CEST -> 02:00 CET
    {**base, "Minutes1UTC": "2025-10-26T00:59:00"},
    {**base, "Minutes1UTC": "2025-10-26T01:00:00Z"},
    # a naive time Copenhagen shows twice, and one it skips
    {**base, "Minutes1UTC": "2025-10-26T02:30:59.999"},
    {**base, "Minutes1UTC": "2025-03-30T02:30:00"},
    {**base, "Minutes1UTC": datetime(2025, 10, 26, 1, 1, 42)},
    # NULL timestamp, NULL and missing measures
    {**base, "Minutes1UTC": None},
    {"Minutes1UTC": "2025-10-26T01:02:00", "CO2Emission": None},
    # schema drift: an unknown API field lands in _extras
    {**base, "Minutes1UTC": "2025-10-26T01:03:00",
     "GridFrequency": 50.02, "ConnectedArea": "DK1"},
]


def canon(df):
    cols = [F.unix_micros("minutes1_utc").alias("ts")] + df.columns[1:]
    out = []
    for r in df.select(*cols).collect():
        out.append([v.hex() if isinstance(v, float)
                    else sorted(v.items()) if isinstance(v, dict)
                    else v for v in r])
    return sorted(out, key=json.dumps)


spark = get_spark(master="local[1]")
got = {}
for lid in (None, "run-7"):
    arrow = records_to_bronze(spark, records, load_id=lid)
    rows = spark.createDataFrame(normalize_records(records, lid),
                                 BRONZE_FULL_SCHEMA)
    assert arrow.schema == rows.schema, (arrow.schema, rows.schema)
    got[str(lid)] = {"arrow": canon(arrow), "rows": canon(rows)}
spark.stop()
print("RESULT " + json.dumps(got))
"""


@pytest.mark.parametrize("tz", ["UTC", "Europe/Copenhagen"])
def test_arrow_bronze_bit_identical_to_row_path(tz):
    """records_to_bronze (one pyarrow.Table) stores exactly the rows
    the list-of-dicts frame stored, in a process of either time
    zone: Spark reads a naive datetime in the local zone there, and
    the Arrow path must keep those instants."""
    env = {**os.environ, "TZ": tz, "SPARK_DRIVER_MEM": "1g",
           "PYTHONPATH": str(REPO)}
    out = subprocess.run([sys.executable, "-c", _BRONZE_PATHS_SCRIPT],
                         cwd=str(REPO), env=env, capture_output=True,
                         text=True, timeout=300)
    line = next((ln for ln in out.stdout.splitlines()
                 if ln.startswith("RESULT ")), None)
    assert line is not None, out.stderr[-3000:]
    got = json.loads(line[len("RESULT "):])
    for lid, paths in got.items():
        assert paths["arrow"] == paths["rows"], lid
        assert len(paths["arrow"]) == 8
        # the NULL timestamp survives as NULL, the drift key as _extras
        assert sum(r[0] is None for r in paths["arrow"]) == 1
        assert any(r[-2] == [["connected_area", "DK1"],
                             ["grid_frequency", "50.02"]]
                   for r in paths["arrow"])
    assert {r[-1] for r in got["run-7"]["arrow"]} == {"run-7"}


# ------------------------------------------- a backfill plus two pages
@pytest.fixture(scope="module")
def paged(spark, tmp_path_factory):
    """A warehouse after a one-hour backfill and two hourly pages,
    with the Spark jobs each page submitted."""
    records = [r for r in make_power_records()
               if r["Minutes1UTC"] and r["Minutes1UTC"] < "2025-10-25T15"]
    out = SimpleNamespace(wh=str(tmp_path_factory.mktemp("paged") / "wh"),
                          page_jobs=[])
    csv = str(tmp_path_factory.mktemp("paged_csv") / "ml")
    sc = spark.sparkContext
    for k, end in enumerate(["2025-10-25T13", "2025-10-25T14",
                             "2025-10-25T15"]):
        src = FixtureSource([r for r in records if r["Minutes1UTC"] < end])
        out.page_jobs.append(_jobs(
            sc, f"medallion-page-{k}-{id(out)}",
            lambda: run_all(spark, out.wh, src, csv_path=csv)))
    return out


def test_steady_page_job_count(paged):
    """Planning reads, watermarks and the stats line run no Spark
    job, so a steady page's jobs are its writes and their inputs."""
    assert paged.page_jobs[2] <= MAX_PAGE_JOBS, paged.page_jobs


def test_pinned_schemas_equal_written_schemas(spark, paged):
    """The schemas derived from the builders are the ones the
    tables' footers hold, so a pinned read never reinterprets."""
    for layer, name, _ in TABLES:
        inferred = spark.read.parquet(table_path(paged.wh, layer, name))
        pinned = read_pinned(spark, paged.wh, layer, name)
        assert pinned.schema == inferred.schema, (layer, name)
        assert layer_schema(spark, layer, name).names == inferred.columns


def _fresh(spark, path: str, key: str) -> tuple:
    row = spark.read.parquet(path).agg(
        F.count(F.lit(1)), F.min(key), F.max(key)).first()
    return tuple(row)


def test_key_stats_record_tracks_the_tables(spark, paged):
    sc = spark.sparkContext
    # after a backfill and two pages the record equals a fresh
    # count/min/max on all four tables, and serving it runs no job
    for layer, name, key in TABLES:
        df = read_pinned(spark, paged.wh, layer, name)
        got = []
        assert _jobs(sc, f"stats-hit-{name}",
                     lambda: got.append(key_stats(df, key))) == 0, name
        fresh = _fresh(spark, table_path(paged.wh, layer, name), key)
        assert got[0] == fresh and fresh[0] > 150, (name, got, fresh)

    # a cleared record gives the same values
    before = {name: key_stats(read_pinned(spark, paged.wh, layer, name),
                              key) for layer, name, key in TABLES}
    io._KEY_STATS.clear()
    for layer, name, key in TABLES:
        assert key_stats(read_pinned(spark, paged.wh, layer, name),
                         key) == before[name], name

    # a parquet file appended outside insert_if_absent makes the
    # record miss, and the recomputed value includes that file
    path = table_path(paged.wh, "silver", "fact_power_system")
    schema = layer_schema(spark, "silver", "fact_power_system")
    late = datetime(2026, 1, 1, 0, 0)
    spark.createDataFrame(
        [(late,) + (1.0,) * (len(schema) - 1)], schema
    ).write.mode("append").parquet(path)
    df = read_pinned(spark, paged.wh, "silver", "fact_power_system")
    got = []
    assert _jobs(sc, "stats-miss",
                 lambda: got.append(key_stats(df, "time_id"))) > 0
    rows, lo, hi = got[0]
    assert (rows, hi) == (before["fact_power_system"][0] + 1, late)
    assert got[0] == _fresh(spark, path, "time_id")


# ------------------------------------------------------ fail-loud reads
def test_read_layer_table_absent_or_empty_is_none(spark, tmp_path):
    wh = str(tmp_path)
    assert read_layer_table(spark, wh, "silver", "missing") is None
    assert read_layer_table(spark, wh, "silver", "missing",
                            schema="k int") is None
    empty = table_path(wh, "silver", "empty")
    os.makedirs(os.path.join(empty, "_temporary"))
    open(os.path.join(empty, "_SUCCESS"), "w").close()
    assert read_layer_table(spark, wh, "silver", "empty") is None


def test_read_layer_table_raises_on_corrupt_footer(spark, tmp_path):
    """A table that exists but cannot be read raises instead of
    looking absent, so insert_if_absent cannot re-insert its batch."""
    wh = str(tmp_path)
    path = table_path(wh, "silver", "t")
    spark.createDataFrame([(1,), (2,)], "k int").coalesce(1) \
        .write.parquet(path)
    (part,) = [f for f in os.listdir(path) if f.endswith(".parquet")]
    with open(os.path.join(path, part), "r+b") as fh:
        fh.seek(-8, os.SEEK_END)  # footer length, then the PAR1 magic
        fh.write(b"\xff\xff\xff\x7f")
    files = io._data_files(path)

    with pytest.raises(Exception):
        read_layer_table(spark, wh, "silver", "t")
    pinned = read_layer_table(spark, wh, "silver", "t", schema="k int")
    assert pinned is not None
    with pytest.raises(Exception):
        pinned.collect()
    with pytest.raises(Exception):
        insert_if_absent(spark, spark.createDataFrame([(2,), (3,)], "k int"),
                         wh, "silver", "t", keys=["k"])
    assert io._data_files(path) == files
