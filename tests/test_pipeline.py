"""End-to-end medallion pipeline test: replays the reference's
04_main.py flow (ingest -> bronze -> silver + quarantine repair ->
gold) and asserts the count/status invariants of SURVEY.md §5.1(2)."""

from pyspark.sql import functions as F

from delta_lake_spark import read_delta
from delta_lake_spark.pipeline.medallion import run_pipeline
from delta_lake_spark.pipeline.operations import (
    batch_writer,
    read_batch_bronze,
    repair_quarantined,
    transform_raw,
)
from delta_lake_spark.queries.relational import _events

SF_DIR = "/root/testdata/sf0.001"


def test_full_medallion_pipeline(spark, tmp_path):
    events = _events(spark, SF_DIR)
    n_events = events.count()
    n_corrupt = events.filter(F.col("event_id") % 17 == 0).count()

    paths = run_pipeline(spark, events, str(tmp_path / "medallion"))

    # bronze holds every ingested row, all eventually loaded
    bronze = read_delta(spark, paths["bronze"])
    assert bronze.count() == n_events
    status_counts = {
        r["status"]: r["n"]
        for r in bronze.groupBy("status").agg(F.count("*").alias("n")).collect()
    }
    assert status_counts == {"loaded": n_events}

    # silver holds clean + repaired = everything, with no null user_ids
    silver = read_delta(spark, paths["silver"])
    assert silver.count() == n_events
    assert silver.filter("user_id IS NULL").count() == 0

    # repaired rows recovered the right user ids
    orig = events.select("event_id", F.col("user_id").alias("expected_user"))
    joined = silver.join(orig, "event_id")
    assert joined.filter(F.col("user_id") != F.col("expected_user")).count() == 0
    assert n_corrupt > 0  # the corruption actually exercised the repair path

    # gold aggregates exist for every event type
    gold = read_delta(spark, paths["gold"])
    assert gold.count() == events.select("event_type").distinct().count()
    assert set(gold.columns) == {
        "event_type", "n", "avg_reading", "max_reading", "std_reading",
    }


def test_bronze_reads_skip_fully_loaded_files(spark, tmp_path):
    """Once a day's bronze rows are all loaded, the log's status stats
    prune that day's files from the new-row and quarantine reads."""
    events = _events(spark, SF_DIR).filter("event_id < 200")
    paths = run_pipeline(spark, events, str(tmp_path / "medallion"))
    day0 = set(read_delta(spark, paths["bronze"]).inputFiles())
    assert day0

    day1 = spark.createDataFrame([('{"event_id": 100000}',)], "value string")
    batch_writer(transform_raw(day1), partition_column="p_ingestdate")(paths["bronze"])
    new_rows = read_batch_bronze(spark, paths["bronze"])
    assert new_rows.count() == 1
    assert new_rows.inputFiles() and not day0 & set(new_rows.inputFiles())
    bronze = set(read_delta(spark, paths["bronze"]).inputFiles())
    user_dim = events.select("event_id", "user_id")
    repair = repair_quarantined(spark, paths["bronze"], user_dim)
    assert not bronze & set(repair.inputFiles())
