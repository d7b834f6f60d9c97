"""Reusable medallion-pipeline operator library — the engine-native
re-creation of the reference's reusable operator module
(delta_batch_etl/includes/main/python/operations.py:23-166): raw text
reads, bronze transform with ingestion metadata, silver parse via
from_json, clean/quarantine split, status merge-back, and quarantine
repair through a dimension join.

All functions are (DataFrame, ...) -> DataFrame compositions or thin
writers over write_delta; no row-level Python anywhere. Bronze is
partitioned by ingest date and silver by event date, matching the
reference's layout choices (01_raw_to_bronze.py:132; SURVEY.md §4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..reader import read_delta
from ..table import DeltaTable
from ..writer import write_delta

# schema of the raw JSON event payload (parsed into silver)
EVENT_JSON_SCHEMA = (
    "event_id LONG, ts_us LONG, user_id LONG, event_type STRING, reading DOUBLE"
)


def make_raw_json(events: DataFrame) -> DataFrame:
    """Simulate the Kafka feed: one JSON-lines 'value' per event
    (reference utilities.py:45-59 writes hourly JSON files)."""
    return events.select(
        F.to_json(
            F.struct(
                F.col("event_id"),
                (F.unix_micros(F.col("ts").cast("timestamp"))).alias("ts_us"),
                F.col("user_id"),
                F.col("event_type"),
                F.col("value").alias("reading"),
            )
        ).alias("value")
    )


def read_batch_raw(spark: SparkSession, raw_path: str) -> DataFrame:
    """Text scan with declared 1-column schema (reference S3,
    operations.py:63-65)."""
    return spark.read.schema("value STRING").text(raw_path)


def read_batch_delta(spark: SparkSession, delta_path: str) -> DataFrame:
    """Current-version scan of one of our tables (reference S4,
    operations.py:57-58)."""
    return read_delta(spark, delta_path)


def read_batch_bronze(spark: SparkSession, bronze_path: str) -> DataFrame:
    """Bronze rows still awaiting load (reference operations.py:52-53).
    The predicate also prunes, by log stats, the files with no such row."""
    new = "status = 'new'"
    return read_delta(spark, bronze_path, predicate=new).filter(new)


def transform_raw(df: DataFrame) -> DataFrame:
    """Attach ingestion metadata columns (reference P2,
    operations.py:137-144)."""
    return df.select(
        "value",
        F.lit("simulated-kafka").alias("datasource"),
        F.current_timestamp().alias("ingesttime"),
        F.lit("new").alias("status"),
        F.current_timestamp().cast("date").alias("p_ingestdate"),
    )


def batch_writer(
    dataframe: DataFrame,
    partition_column: str | None = None,
    exclude_columns: list[str] | None = None,
):
    """Drop bookkeeping columns and return a save closure (reference S7,
    operations.py:23-36 returns a configured DataFrameWriter; the same
    shape here as a callable bound to our ACID writer)."""
    df = dataframe.drop(*(exclude_columns or []))

    def save(path: str, mode: str = "append") -> int:
        return write_delta(
            df,
            path,
            mode=mode,
            partition_by=[partition_column] if partition_column else None,
        )

    return save


def transform_bronze(df: DataFrame) -> DataFrame:
    """Parse the raw JSON payload into typed silver columns (reference
    from_json + select("value", "nested_json.*") at
    02_bronze_to_silver.py:228-256), keeping the raw value as the
    natural key bridging bronze<->silver."""
    return (
        df.withColumn("nested_json", F.from_json("value", EVENT_JSON_SCHEMA))
        .select("value", "nested_json.*")
        .select(
            "value",
            "event_id",
            F.expr("cast(timestamp_micros(ts_us) as timestamp_ntz)").alias("ts"),
            "user_id",
            "event_type",
            "reading",
            F.to_date(
                F.expr("cast(timestamp_micros(ts_us) as timestamp_ntz)")
            ).alias("p_eventdate"),
        )
    )


def split_clean_quarantine(silver: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Clean/quarantine split on the null-after-parse predicate
    (reference operations.py:41-47: device_id IS NOT NULL / IS NULL)."""
    clean = silver.filter("user_id IS NOT NULL")
    quarantined = silver.filter("user_id IS NULL")
    return clean, quarantined


def update_bronze_table_status(
    spark: SparkSession, bronze_path: str, dataframe: DataFrame, status: str
) -> bool:
    """Mark bronze rows loaded/quarantined by natural-key MERGE on the
    raw value string (reference M1, operations.py:149-166)."""
    bronze = DeltaTable.forPath(spark, bronze_path)
    updated = dataframe.withColumn("status", F.lit(status)).select("value", "status")
    (
        bronze.alias("bronze")
        .merge(updated, "bronze.value = dataframe.value", source_alias="dataframe")
        .whenMatchedUpdate(set={"status": "dataframe.status"})
        .execute()
    )
    return True


def repair_quarantined(
    spark: SparkSession, bronze_path: str, user_dim: DataFrame
) -> DataFrame:
    """Re-parse quarantined bronze rows and recover the missing user_id
    by joining the (broadcast) user dimension on the event key
    (reference J1/J5 repair join, 03_silver_update.py:161-228)."""
    held = "status = 'quarantined'"
    quarantined = read_delta(spark, bronze_path, predicate=held).filter(held)
    parsed = (
        quarantined.withColumn("nested_json", F.from_json("value", EVENT_JSON_SCHEMA))
        .select("value", "nested_json.*")
        .alias("quarantine")
    )
    dim = user_dim.alias("user")
    return (
        parsed.join(
            F.broadcast(dim), F.col("quarantine.event_id") == F.col("user.event_id")
        )
        .select(
            F.col("quarantine.value").alias("value"),
            F.col("quarantine.event_id").alias("event_id"),
            F.expr(
                "cast(timestamp_micros(quarantine.ts_us) as timestamp_ntz)"
            ).alias("ts"),
            F.col("user.user_id").alias("user_id"),
            F.col("quarantine.event_type").alias("event_type"),
            F.col("quarantine.reading").alias("reading"),
            F.to_date(
                F.expr("cast(timestamp_micros(quarantine.ts_us) as timestamp_ntz)")
            ).alias("p_eventdate"),
        )
    )
