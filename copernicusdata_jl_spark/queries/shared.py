"""Fragments every query domain reads: the parquet table loader and the
deterministic geotags of the ``events`` table.

The lat/lon derivation is pure integer/double arithmetic with identical
IEEE ops in Spark and DuckDB — the parity contract every spatial oracle
depends on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# deterministic geotags for `events` — identical arithmetic in Spark & SQL
LAT_SQL = "(CAST((user_id * 37) % 1600 AS DOUBLE) / 10.0 - 80.0 + CAST(event_id % 97 AS DOUBLE) / 1000.0)"


LON_SQL = "(CAST((event_id * 73) % 3600 AS DOUBLE) / 10.0 - 180.0 + CAST(user_id % 89 AS DOUBLE) / 1000.0)"


GEO_EVENTS_SQL = f"(SELECT *, {LAT_SQL} AS lat, {LON_SQL} AS lon FROM events)"


def geotagged_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .withColumn("lat", F.expr(LAT_SQL))
        .withColumn("lon", F.expr(LON_SQL))
    )
