"""Footer schemas: ``parquet_schema`` must give exactly the schema Spark's
own inference gives (``spark.read.parquet(p).schema``), nested
nullability included, and ``read_parquet`` must read the same rows
without running a Spark job."""

import datetime
import decimal

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from delta_lake_spark.reader import parquet_schema, read_parquet
from test_build_jobs import SF_DIR, jobs_during

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.mark.parametrize("table", TABLES)
def test_footer_schema_equals_inference_on_inputs(spark, table):
    p = f"{SF_DIR}/{table}.parquet"
    df, jobs = jobs_during(spark, table, lambda: read_parquet(spark, p))
    assert jobs == 0
    assert df.schema == spark.read.parquet(p).schema


def test_footer_schema_equals_inference_on_spark_types(spark, tmp_path):
    p = str(tmp_path / "types")
    spark.createDataFrame(
        [
            (
                1, 2, decimal.Decimal("3.25"), datetime.date(2024, 1, 2),
                datetime.datetime(2024, 1, 2, 3, 4, 5),
                datetime.datetime(2024, 1, 2, 3, 4, 5), b"\x00\x01",
                [1, None], {"a": 1.5}, (7, "x", [2.0]),
            )
        ],
        "ti tinyint, si smallint, dec decimal(12,2) not null, d date, "
        "ts timestamp, ntz timestamp_ntz, bin binary, "
        "arr array<int>, m map<string,double>, "
        "st struct<a:int not null,b:string,c:array<double>>",
    ).coalesce(1).write.parquet(p)
    [f] = [x for x in (tmp_path / "types").iterdir() if x.suffix == ".parquet"]
    got = parquet_schema(spark, str(f))
    assert got == spark.read.parquet(str(f)).schema
    # Spark's row metadata stores the writer's nullability; the read
    # schema relaxes it at every level, as inference does
    assert got["dec"].nullable and got["st"].dataType["a"].nullable
    assert read_parquet(spark, str(f)).collect() == spark.read.parquet(str(f)).collect()


def test_footer_schema_equals_inference_on_nanos_and_uint32(spark, tmp_path):
    p = str(tmp_path / "nanos.parquet")
    pq.write_table(
        pa.table(
            {
                "ts": pa.array([1_700_000_000_123_456_789, None], pa.timestamp("ns")),
                "u": pa.array([4_000_000_000, 1], pa.uint32()),
            }
        ),
        p,
    )
    key = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        got = parquet_schema(spark, p)
        assert got == spark.read.parquet(p).schema
        assert [f.dataType.simpleString() for f in got] == ["bigint", "bigint"]
        rows = read_parquet(spark, p).orderBy(F.col("u")).collect()
        assert [tuple(r) for r in rows] == [
            (None, 1), (1_700_000_000_123_456_789, 4_000_000_000)
        ]
    finally:
        spark.conf.set(key, before)


def test_copy_into_takes_the_schema_inference_would(spark, tmp_path):
    """Without mergeSchema, Spark's inference over several files reads
    one footer: the first path in sorted order. copy_into reads that
    same footer, so its table schema is the one inference would give."""
    from delta_lake_spark import read_delta
    from delta_lake_spark.writer import copy_into

    land = tmp_path / "land"
    land.mkdir()
    pq.write_table(pa.table({"x": [1], "y": ["a"]}), str(land / "a.parquet"))
    pq.write_table(pa.table({"x": [2]}), str(land / "b.parquet"))
    files = sorted(str(f) for f in land.iterdir())
    inferred = spark.read.parquet(*reversed(files)).schema
    assert inferred == parquet_schema(spark, files[0])

    table = str(tmp_path / "t")
    _, n = copy_into(spark, table, str(land))
    assert n == 2
    got = read_delta(spark, table)
    assert got.schema == inferred
    assert sorted(map(tuple, got.collect())) == [(1, "a"), (2, None)]
