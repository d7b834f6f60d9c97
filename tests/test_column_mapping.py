"""Column mapping: ALTER TABLE ADD/RENAME/DROP COLUMN as metadata-only
commits (no data rewrite), physical-name indirection on read/write, and
the guard rails (partition/config-referenced columns)."""

import os

import pytest
from pyspark.sql import functions as F

from delta_lake_spark.reader import read_delta
from delta_lake_spark.table import DeltaTable
from delta_lake_spark.writer import write_delta


@pytest.fixture()
def table(spark, tmp_path):
    p = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "id long, name string, val double",
    )
    write_delta(df, p)
    return DeltaTable.forPath(spark, p)


def _data_files(path):
    out = []
    for root, _d, names in os.walk(os.path.join(path, "data")):
        out.extend(os.path.join(root, n) for n in names if n.endswith(".parquet"))
    return sorted(out)


def test_add_column_is_metadata_only(spark, table):
    files_before = _data_files(table.path)
    table.add_columns({"score": "double"})
    assert _data_files(table.path) == files_before
    out = read_delta(spark, table.path)
    assert out.columns == ["id", "name", "val", "score"]
    assert out.filter(F.col("score").isNull()).count() == 3


def test_rename_is_metadata_only_and_files_stay_readable(spark, table):
    files_before = _data_files(table.path)
    table.rename_column("val", "amount")
    assert _data_files(table.path) == files_before
    out = read_delta(spark, table.path)
    assert "amount" in out.columns and "val" not in out.columns
    assert sorted(r.amount for r in out.collect()) == [10.0, 20.0, 30.0]


def test_append_and_mutations_after_rename(spark, table):
    table.rename_column("val", "amount")
    write_delta(
        spark.createDataFrame([(4, "d", 40.0)], "id long, name string, amount double"),
        table.path,
    )
    df = read_delta(spark, table.path)
    assert df.count() == 4
    assert sorted(r.amount for r in df.collect()) == [10.0, 20.0, 30.0, 40.0]

    table.delete("amount >= 40")
    assert read_delta(spark, table.path).count() == 3
    table.update("id = 1", {"amount": "99.0"})
    assert read_delta(spark, table.path).filter("id=1").collect()[0].amount == 99.0

    src = spark.createDataFrame([(2, 111.0)], "id long, amount double").alias("source")
    (
        table.alias("target")
        .merge(src, "target.id = source.id")
        .when_matched_update(set={"amount": "source.amount"})
        .execute()
    )
    assert read_delta(spark, table.path).filter("id=2").collect()[0].amount == 111.0


def test_merge_insert_after_rename(spark, table):
    table.rename_column("val", "amount")
    src = spark.createDataFrame([(9, 900.0)], "id long, amount double").alias("source")
    (
        table.alias("target")
        .merge(src, "target.id = source.id")
        .when_not_matched_insert(
            values={"id": "source.id", "amount": "source.amount"}
        )
        .execute()
    )
    got = {r.id: r.amount for r in read_delta(spark, table.path).collect()}
    assert got[9] == 900.0 and got[1] == 10.0


def test_drop_then_readd_does_not_resurrect(spark, table):
    table.drop_column("val")
    assert read_delta(spark, table.path).columns == ["id", "name"]
    table.add_columns({"val": "double"})
    out = read_delta(spark, table.path)
    assert out.filter(F.col("val").isNotNull()).count() == 0


def test_time_travel_sees_old_schema(spark, table):
    table.rename_column("val", "amount")
    v0 = read_delta(spark, table.path, version=0)
    assert v0.columns == ["id", "name", "val"]
    cur = read_delta(spark, table.path)
    assert cur.columns == ["id", "name", "amount"]


def test_optimize_after_rename_keeps_values(spark, table):
    table.rename_column("val", "amount")
    write_delta(
        spark.createDataFrame([(4, "d", 40.0)], "id long, name string, amount double"),
        table.path,
    )
    table.optimize()
    out = read_delta(spark, table.path)
    assert sorted(r.amount for r in out.collect()) == [10.0, 20.0, 30.0, 40.0]


def test_guard_rails(spark, tmp_path, table):
    with pytest.raises(ValueError):
        table.rename_column("nope", "x")
    with pytest.raises(ValueError):
        table.rename_column("val", "name")  # collision
    with pytest.raises(ValueError):
        table.add_columns({"VAL": "double"})  # case-insensitive duplicate

    # partition column is immovable
    p = str(tmp_path / "parted")
    write_delta(
        spark.createDataFrame([(1, "x")], "id long, part string"),
        p,
        partition_by=["part"],
    )
    pt = DeltaTable.forPath(spark, p)
    with pytest.raises(ValueError):
        pt.rename_column("part", "part2")
    with pytest.raises(ValueError):
        pt.drop_column("part")

    # config-referenced column is immovable
    table.add_constraint("val_pos", "val >= 0")
    with pytest.raises(ValueError):
        table.rename_column("val", "amount")
    with pytest.raises(ValueError):
        table.drop_column("val")


def test_skipping_translates_renamed_predicates(spark, table):
    """Data skipping keys stats by physical name; predicates arrive with
    logical names — a delete on the renamed column must still prune."""
    table.rename_column("val", "amount")
    # append a second file so pruning has something to keep
    write_delta(
        spark.createDataFrame(
            [(10, "z", 1000.0)], "id long, name string, amount double"
        ).coalesce(1),
        table.path,
    )
    from delta_lake_spark.skipping import prune_adds
    from delta_lake_spark.writer import column_mapping, schema_of

    snap = table._log.snapshot()
    colmap = column_mapping(schema_of(snap))
    assert colmap["amount"] == "val"  # physical name frozen at rename
    kept, skipped = prune_adds(
        list(snap.files.values()), "amount >= 1000", colmap=colmap
    )
    assert skipped > 0  # old files provably can't match -> pruned
    touched, read_paths = table._touched_files(
        snap, F.col("amount") >= 1000, "amount >= 1000"
    )
    assert len(touched) == 1  # only the new file
    assert len(read_paths) < len(snap.files)  # read set is the pruned scan


def test_sql_alter_column_forms(spark, tmp_path):
    from delta_lake_spark.catalog import Catalog
    from delta_lake_spark.sql import sql

    p = str(tmp_path / "sqlt")
    write_delta(
        spark.createDataFrame([(1, 5.0)], "id long, v double"), p
    )
    cat = Catalog(spark)
    sql(cat, f"CREATE TABLE smap USING DELTA LOCATION '{p}'")
    sql(cat, "ALTER TABLE smap ADD COLUMNS (extra string, n int)")
    assert read_delta(spark, p).columns == ["id", "v", "extra", "n"]
    sql(cat, "ALTER TABLE smap RENAME COLUMN v TO value")
    assert "value" in read_delta(spark, p).columns
    sql(cat, "ALTER TABLE smap DROP COLUMN n")
    assert "n" not in read_delta(spark, p).columns
    got = spark.sql("SELECT id, value FROM smap").collect()
    assert got[0].value == 5.0


def test_type_widening_int_to_bigint(spark, tmp_path):
    """ALTER COLUMN TYPE widens metadata-only: old int32 files read
    under the bigint schema, later writes store bigint natively, and
    the typeWidening feature gates the table."""
    import pyspark.sql.functions as F

    from delta_lake_spark import read_delta, write_delta
    from delta_lake_spark.log import DeltaLog
    from delta_lake_spark.table import DeltaTable

    path = str(tmp_path / "tw")
    spark.range(5).selectExpr("CAST(id AS INT) AS k", "id AS v").pipe = None
    df = spark.range(5).selectExpr("CAST(id AS INT) AS k", "id AS v")
    write_delta(df, path)
    dt = DeltaTable.forPath(spark, path)
    dt.alter_column_type("k", "BIGINT")

    log = DeltaLog(path)
    snap = log.snapshot()
    assert "typeWidening" in snap.protocol.readerFeatures
    out = read_delta(spark, path)
    assert dict(out.dtypes)["k"] == "bigint"
    assert {r.k for r in out.collect()} == set(range(5))

    # big values beyond int range now writable
    big = spark.range(1).selectExpr(
        "CAST(5000000000 AS BIGINT) AS k", "id AS v"
    )
    write_delta(big, path)
    assert read_delta(spark, path).filter(
        F.col("k") > 4_000_000_000
    ).count() == 1
    # mixed old-narrow + new-wide files still all read
    assert read_delta(spark, path).count() == 6

    # change history recorded in column metadata
    import json

    fields = json.loads(log.snapshot().metadata.schemaString)["fields"]
    kmeta = next(f for f in fields if f["name"] == "k")["metadata"]
    assert kmeta["delta.typeChanges"][0]["fromType"] == "int"
    assert kmeta["delta.typeChanges"][0]["toType"] == "bigint"


def test_type_widening_refuses_narrowing_and_unrelated(spark, tmp_path):
    import pytest

    from delta_lake_spark import write_delta
    from delta_lake_spark.table import DeltaTable

    path = str(tmp_path / "twn")
    write_delta(
        spark.range(3).selectExpr(
            "id AS k", "CAST(id AS DOUBLE) AS d", "CAST(id AS STRING) AS s"
        ),
        path,
    )
    dt = DeltaTable.forPath(spark, path)
    for col, ddl in [("k", "INT"), ("d", "FLOAT"), ("s", "BIGINT"), ("k", "BIGINT")]:
        with pytest.raises(ValueError):
            dt.alter_column_type(col, ddl)


def test_type_widening_decimal_and_sql_form(spark, tmp_path):
    from delta_lake_spark import read_delta, write_delta
    from delta_lake_spark.catalog import Catalog
    from delta_lake_spark.sql import sql

    path = str(tmp_path / "twd")
    write_delta(
        spark.range(3).selectExpr("CAST(id AS DECIMAL(5,2)) AS amt", "id AS k"),
        path,
    )
    cat = Catalog(spark)
    cat.register("tw_t", path)
    sql(cat, "ALTER TABLE tw_t ALTER COLUMN amt TYPE DECIMAL(12, 4)")
    out = read_delta(spark, path)
    assert dict(out.dtypes)["amt"] == "decimal(12,4)"
    assert out.count() == 3
