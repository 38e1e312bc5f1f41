"""Silver layer: bronze -> star schema (dim_time + fact).

Re-expresses silver_transform.py:61-106 as pure DataFrame
transforms.  Both builders take an optional watermark and filter
``ts > watermark``.  Catalyst pushes that predicate into the parquet
scan, but it skips nothing there: no table is partitioned, and the
timestamps are stored as INT96, which carries no min/max statistics
(io.max_watermark says why they stay INT96), so an incremental run
still reads every bronze file.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.timeparts import dow_sunday0, is_weekend, season

#: bronze measure column -> silver fact column
#: (silver_transform.py:88-101; sums expressed as expressions below)
FACT_RENAMES = {
    "co2_emission": "co2_emission",
    "production_ge100_mw": "production_large_plants",
    "production_lt100_mw": "production_small_plants",
    "solar_power": "solar_production",
    "offshore_wind_power": "offshore_wind_production",
    "onshore_wind_power": "onshore_wind_production",
    "exchange_sum": "exchange_sum",
    "exchange_dk1_nl": "exchange_netherlands",
    "exchange_dk1_gb": "exchange_great_brt",
    "exchange_dk1_no": "exchange_norway",
    "exchange_dk1_dk2": "exchange_dk1_dk2",
}


def time_features(ts: Column) -> list[Column]:
    """The dim_time derived columns (silver_transform.py:65-78)."""
    return [
        F.to_date(ts).alias("date"),
        F.hour(ts).cast("int").alias("hour"),
        F.minute(ts).cast("int").alias("minute"),
        dow_sunday0(ts).alias("day_of_week"),
        is_weekend(ts).alias("is_weekend"),
        season(ts).alias("season"),
    ]


def build_dim_time(bronze: DataFrame, ts_col: str = "minutes1_utc",
                   watermark=None) -> DataFrame:
    """``SELECT DISTINCT`` time features (silver_transform.py:61-82).

    Note: like the reference, the dim builder does *not* filter NULL
    keys (the fact builder does) — a NULL-keyed dim row is possible,
    matching silver_transform.py:61-82 vs :104.
    """
    df = bronze
    if watermark is not None:
        df = df.filter(F.col(ts_col) > F.lit(watermark))
    ts = F.col(ts_col)
    return df.select(ts.alias("time_id"), *time_features(ts)).distinct()


def build_fact(bronze: DataFrame, ts_col: str = "minutes1_utc",
               watermark=None) -> DataFrame:
    """Projection / rename / arithmetic + NULL-key filter
    (silver_transform.py:85-106)."""
    df = bronze
    if watermark is not None:
        df = df.filter(F.col(ts_col) > F.lit(watermark))
    df = df.filter(F.col(ts_col).isNotNull())
    cols = [F.col(ts_col).alias("time_id")]
    cols.append(F.col("co2_emission"))
    cols.append(F.col("production_ge100_mw").alias("production_large_plants"))
    cols.append(F.col("production_lt100_mw").alias("production_small_plants"))
    cols.append(F.col("solar_power").alias("solar_production"))
    cols.append(F.col("offshore_wind_power").alias("offshore_wind_production"))
    cols.append(F.col("onshore_wind_power").alias("onshore_wind_production"))
    cols.append(F.col("exchange_sum"))
    cols.append((F.col("exchange_dk1_de") + F.col("exchange_dk2_de"))
                .alias("exchange_germany"))
    cols.append(F.col("exchange_dk1_nl").alias("exchange_netherlands"))
    cols.append(F.col("exchange_dk1_gb").alias("exchange_great_brt"))
    cols.append(F.col("exchange_dk1_no").alias("exchange_norway"))
    cols.append((F.col("exchange_dk1_se") + F.col("exchange_dk2_se"))
                .alias("exchange_sweden"))
    cols.append(F.col("exchange_dk1_dk2"))
    return df.select(*cols)
