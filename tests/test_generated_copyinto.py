"""Generated columns (computed at write, validated when supplied) and
COPY INTO (file-level idempotent bulk ingest)."""

import pytest
from pyspark.sql import functions as F

from delta_lake_spark import DeltaTable, read_delta, write_delta
from delta_lake_spark.errors import ConstraintViolationError
from delta_lake_spark.writer import copy_into

SF_DIR = "/root/testdata/sf0.001"


def _orders(spark):
    return spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )


def test_generated_column_computed_and_prunable(spark, tmp_table):
    orders = _orders(spark)
    write_delta(
        orders,
        tmp_table,
        partition_by=["o_year"],
        generated={"o_year": "year(o_orderdate)"},
    )
    got = read_delta(spark, tmp_table)
    assert "o_year" in got.columns
    assert got.filter("o_year <> year(o_orderdate)").count() == 0
    # generated partition column -> partition pruning is sound
    pruned = read_delta(spark, tmp_table, partition_filter={"o_year": 1995})
    assert pruned.count() == orders.filter("year(o_orderdate) = 1995").count()

    # append without the column: computed again
    write_delta(orders.limit(10), tmp_table)
    assert read_delta(spark, tmp_table).filter(
        "o_year <> year(o_orderdate)"
    ).count() == 0


def test_generated_column_validates_supplied_values(spark, tmp_table):
    orders = _orders(spark)
    write_delta(orders, tmp_table, generated={"o_year": "year(o_orderdate)"})
    good = orders.limit(5).withColumn("o_year", F.year("o_orderdate"))
    write_delta(good, tmp_table)  # consistent values pass
    bad = orders.limit(5).withColumn("o_year", F.lit(1900))
    with pytest.raises(ConstraintViolationError):
        write_delta(bad, tmp_table)


def test_generated_column_merge_insert_computes(spark, tmp_table):
    orders = _orders(spark)
    write_delta(orders, tmp_table, generated={"o_year": "year(o_orderdate)"})
    src = (
        orders.limit(5)
        .select(
            (F.col("o_orderkey") + 50_000_000).alias("o_orderkey"),
            "o_custkey",
            "o_orderdate",
            "o_totalprice",
        )
    )
    dt = DeltaTable.forPath(spark, tmp_table)
    (
        dt.alias("t")
        .merge(src, "t.o_orderkey = s.o_orderkey", source_alias="s")
        .whenNotMatchedInsert(
            values={
                "o_orderkey": "s.o_orderkey",
                "o_custkey": "s.o_custkey",
                "o_orderdate": "s.o_orderdate",
                "o_totalprice": "s.o_totalprice",
            }
        )
        .execute()
    )
    got = read_delta(spark, tmp_table)
    inserted = got.filter("o_orderkey >= 50000000")
    assert inserted.count() == 5
    assert inserted.filter("o_year <> year(o_orderdate)").count() == 0


def test_copy_into_idempotent(spark, tmp_table, tmp_path):
    src = str(tmp_path / "landing")
    ev = _orders(spark)
    ev.limit(100).write.parquet(src)

    v1, n1 = copy_into(spark, tmp_table, src)
    assert n1 > 0
    loaded_once = read_delta(spark, tmp_table).count()
    assert loaded_once == 100

    # re-run: nothing new
    v2, n2 = copy_into(spark, tmp_table, src)
    assert n2 == 0
    assert read_delta(spark, tmp_table).count() == 100

    # new file lands -> only it is loaded
    ev.limit(150).write.mode("append").parquet(src)
    _, n3 = copy_into(spark, tmp_table, src)
    assert n3 > 0
    assert read_delta(spark, tmp_table).count() == 250


def test_copy_into_loaded_files_survive_log_cleanup(spark, tmp_table, tmp_path):
    """The loaded-file set is table state: after a checkpoint and log
    cleanup drop the COPY INTO commit, a re-run still loads nothing."""
    from delta_lake_spark.log import DeltaLog

    src = str(tmp_path / "landing")
    _orders(spark).limit(100).write.parquet(src)
    _, n1 = copy_into(spark, tmp_table, src)  # v0
    assert n1 > 0
    extra = _orders(spark).limit(1)
    for _ in range(10):  # v1..v10: the automatic checkpoint lands at v10
        write_delta(extra, tmp_table)
    log = DeltaLog(tmp_table)
    assert log._nearest_checkpoint(log.latest_version()) == 10
    log.cleanup_expired_logs(0)
    assert "COPY INTO" not in [h["operation"] for h in log.history()]
    rows = read_delta(spark, tmp_table).count()
    assert rows == 110

    v, n2 = copy_into(spark, tmp_table, src)
    assert (v, n2) == (10, 0)
    assert read_delta(spark, tmp_table).count() == rows


def test_copy_into_sql(spark, tmp_table, tmp_path):
    from delta_lake_spark.catalog import Catalog
    from delta_lake_spark.sql import sql as dls_sql

    src = str(tmp_path / "landing")
    _orders(spark).limit(50).write.parquet(src)
    copy_into(spark, tmp_table, src)  # create the table

    cat = Catalog(spark)
    cat.register("cp_t", tmp_table)
    out = dls_sql(cat, f"COPY INTO cp_t FROM '{src}'")
    assert out.first()["files_loaded"] == 0  # idempotent through SQL too


def test_identity_column_unique_and_monotonic(spark, tmp_table):
    orders = _orders(spark)
    first = orders.limit(40)
    write_delta(first, tmp_table, identity={"row_id": {"start": 1, "step": 1}})
    got1 = read_delta(spark, tmp_table)
    assert got1.count() == 40
    ids1 = [r["row_id"] for r in got1.select("row_id").collect()]
    assert len(set(ids1)) == 40 and min(ids1) >= 1

    # second append: fresh ids strictly above the recorded high water
    write_delta(orders.limit(25), tmp_table)
    got2 = read_delta(spark, tmp_table)
    assert got2.count() == 65
    ids2 = [r["row_id"] for r in got2.select("row_id").collect()]
    assert len(set(ids2)) == 65
    new_ids = set(ids2) - set(ids1)
    assert min(new_ids) > max(ids1)


def test_identity_column_rejects_explicit_write(spark, tmp_table):
    orders = _orders(spark)
    write_delta(orders.limit(5), tmp_table, identity={"row_id": {}})
    with pytest.raises(ConstraintViolationError):
        write_delta(
            orders.limit(5).withColumn("row_id", F.lit(7).cast("long")), tmp_table
        )


def test_column_defaults_apply_to_new_writes_only(spark, tmp_table):
    """ADD COLUMN ... DEFAULT: existing rows read NULL (metadata-only
    add); writes omitting the column get the default; writes supplying
    it keep their values."""
    from delta_lake_spark import DeltaTable, read_delta, write_delta
    from delta_lake_spark.catalog import Catalog
    from delta_lake_spark.sql import sql

    write_delta(
        spark.createDataFrame([(1, 10.0)], "id long, v double"), tmp_table
    )
    cat = Catalog(spark)
    cat.register("def_t", tmp_table)
    sql(cat, "ALTER TABLE def_t ADD COLUMNS (tier STRING DEFAULT 'bronze')")

    # existing row: NULL (defaults never rewrite data)
    assert read_delta(spark, tmp_table).filter("id = 1").collect()[0].tier is None
    # omitted column -> default
    write_delta(
        spark.createDataFrame([(2, 20.0)], "id long, v double"), tmp_table
    )
    # supplied column -> kept
    write_delta(
        spark.createDataFrame(
            [(3, 30.0, "gold")], "id long, v double, tier string"
        ),
        tmp_table,
    )
    got = {r.id: r.tier for r in read_delta(spark, tmp_table).collect()}
    assert got == {1: None, 2: "bronze", 3: "gold"}

    dt = DeltaTable.forPath(spark, tmp_table)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="must accompany"):
        dt.add_columns({"x": "INT"}, defaults={"y": "1"})
