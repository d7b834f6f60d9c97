"""Deletion vectors and CLONE: row-level deletes without file rewrites
(the 100 TB delete path), DV-aware reads/mutations/CDF/vacuum/restore,
purge, and shallow/deep clone."""

import os

import pytest
from pyspark.sql import functions as F

from delta_lake_spark import DeltaTable, read_delta, write_delta
from delta_lake_spark.cdf import table_changes


def _readings(spark, n=100):
    return spark.range(n).select(
        F.col("id").alias("device_id"),
        (F.col("id") % 5).cast("int").alias("p_device_id"),
        (F.col("id").cast("double") * 2.0).alias("heartrate"),
        F.lit("new").alias("status"),
    )


@pytest.fixture()
def table(spark, tmp_table):
    write_delta(_readings(spark), tmp_table, partition_by=["p_device_id"])
    return DeltaTable.forPath(spark, tmp_table)


def test_dv_delete_no_rewrite(spark, table, tmp_table):
    before = table._log.snapshot()
    table.delete("heartrate >= 100", use_dv=True)
    after = table._log.snapshot()
    # same data files — nothing was rewritten, only DV entries attached
    assert set(after.files) == set(before.files)
    assert any(a.deletionVector for a in after.files.values())
    got = read_delta(spark, tmp_table)
    assert got.count() == 50
    assert got.filter("heartrate >= 100").count() == 0
    # time travel to v0 still sees everything
    assert read_delta(spark, tmp_table, version=0).count() == 100
    # row count accounting subtracts DV cardinality
    assert after.num_records == 50


def test_dv_delete_merges_existing_dv(spark, table, tmp_table):
    table.delete("device_id % 2 = 0", use_dv=True)
    table.delete("device_id % 3 = 0", use_dv=True)
    got = read_delta(spark, tmp_table)
    expect = 100 - len([i for i in range(100) if i % 2 == 0 or i % 3 == 0])
    assert got.count() == expect
    snap = table._log.snapshot()
    total_dv = sum(
        a.deletionVector["cardinality"]
        for a in snap.files.values()
        if a.deletionVector
    )
    assert total_dv == 100 - expect
    assert snap.num_records == expect


def test_dv_table_config_enables_by_default(spark, tmp_table):
    write_delta(_readings(spark), tmp_table)
    t = DeltaTable.forPath(spark, tmp_table)
    t.set_properties({"deletionVectors": "true"})
    before_files = set(t._log.snapshot().files)
    t.delete("device_id < 10")  # no use_dv arg: config decides
    after = t._log.snapshot()
    assert set(after.files) == before_files
    assert read_delta(spark, tmp_table).count() == 90


def test_mutations_on_dv_table(spark, table, tmp_table):
    """MERGE/UPDATE over a table with DVs must not resurrect deleted rows."""
    table.delete("device_id < 20", use_dv=True)
    table.update("device_id >= 90", {"status": "'high'"})
    src = spark.range(5).select(
        (F.col("id") + 10).alias("device_id"),
        F.lit("merged").alias("status"),
    )
    (
        table.alias("t")
        .merge(src, "t.device_id = s.device_id", source_alias="s")
        .whenMatchedUpdate(set={"status": "s.status"})
        .whenNotMatchedInsert(
            values={
                "device_id": "s.device_id",
                "p_device_id": "cast(s.device_id % 5 as int)",
                "heartrate": "cast(s.device_id * 2.0 as double)",
                "status": "s.status",
            }
        )
        .execute()
    )
    got = read_delta(spark, tmp_table)
    # 10..14 were DV-deleted -> not matched -> re-inserted as 'merged'
    assert got.filter("status = 'merged'").count() == 5
    assert got.filter("device_id < 10").count() == 0
    assert got.filter("status = 'high'").count() == 10
    assert got.count() == 85


def test_dv_cdf_emits_only_deleted_rows(spark, table, tmp_table):
    v = table.delete("device_id < 7", use_dv=True)
    ch = table_changes(spark, tmp_table, v, v)
    rows = ch.select("device_id", "_change_type").collect()
    assert {r["_change_type"] for r in rows} == {"delete"}
    assert sorted(r["device_id"] for r in rows) == list(range(7))


def test_dv_restore_and_second_delete_cdf(spark, table, tmp_table):
    v1 = table.delete("device_id < 7", use_dv=True)
    v2 = table.delete("device_id < 10", use_dv=True)
    ch = table_changes(spark, tmp_table, v2, v2)
    assert sorted(r["device_id"] for r in ch.collect()) == [7, 8, 9]
    table.restore(v1)
    assert read_delta(spark, tmp_table).count() == 93
    table.restore(0)
    assert read_delta(spark, tmp_table).count() == 100


def test_purge_then_vacuum_reclaims_sidecars(spark, table, tmp_table):
    table.delete("device_id < 30", use_dv=True)
    spark.conf.set(
        "spark.delta_lake_spark.retentionDurationCheck.enabled", "false"
    )
    try:
        # vacuum BEFORE purge must keep referenced sidecars
        table.vacuum(0)
        assert read_delta(spark, tmp_table).count() == 70
        table.purge_deletion_vectors()
        snap = table._log.snapshot()
        assert not any(a.deletionVector for a in snap.files.values())
        assert read_delta(spark, tmp_table).count() == 70
        deleted = table.vacuum(0)
        assert any(p.startswith("deletion_vectors") for p in deleted)
        assert read_delta(spark, tmp_table).count() == 70
    finally:
        spark.conf.set(
            "spark.delta_lake_spark.retentionDurationCheck.enabled", "true"
        )


def test_optimize_compacts_dv_files(spark, table, tmp_table):
    table.delete("device_id % 2 = 0", use_dv=True)
    table.optimize(cluster_by=["device_id"])
    snap = table._log.snapshot()
    assert not any(a.deletionVector for a in snap.files.values())
    assert read_delta(spark, tmp_table).count() == 50


def test_shallow_clone(spark, table, tmp_table, tmp_path):
    clone_path = str(tmp_path / "clone")
    clone = table.clone(clone_path, shallow=True)
    assert read_delta(spark, clone_path).count() == 100
    # no data bytes copied
    data_files = [
        n
        for root, _d, names in os.walk(clone_path)
        for n in names
        if n.endswith(".parquet")
    ]
    assert data_files == []
    # mutations on the clone do not touch the source
    clone.delete("device_id < 50")
    assert read_delta(spark, clone_path).count() == 50
    assert read_delta(spark, tmp_table).count() == 100
    # source keeps its files even if the clone vacuums aggressively
    spark.conf.set(
        "spark.delta_lake_spark.retentionDurationCheck.enabled", "false"
    )
    try:
        clone.vacuum(0)
    finally:
        spark.conf.set(
            "spark.delta_lake_spark.retentionDurationCheck.enabled", "true"
        )
    assert read_delta(spark, tmp_table).count() == 100
    assert read_delta(spark, clone_path).count() == 50


def test_shallow_clone_carries_dv(spark, table, tmp_table, tmp_path):
    table.delete("device_id < 40", use_dv=True)
    clone_path = str(tmp_path / "clone_dv")
    table.clone(clone_path, shallow=True)
    assert read_delta(spark, clone_path).count() == 60


def test_deep_clone(spark, table, tmp_table, tmp_path):
    clone_path = str(tmp_path / "deep")
    table.clone(clone_path, shallow=False)
    got = read_delta(spark, clone_path)
    assert got.count() == 100
    # deep clone owns its bytes
    data_files = [
        n
        for root, _d, names in os.walk(os.path.join(clone_path, "data"))
        for n in names
        if n.endswith(".parquet")
    ]
    assert data_files


def test_vacuum_dry_run_and_detail_dv_stats(spark, table, tmp_table):
    table.delete("device_id < 25", use_dv=True)
    d = table.detail().collect()[0]
    assert d.numFilesWithDeletionVectors >= 1
    assert d.numDeletedRows == 25
    # overwrite makes the old files unreferenced
    from delta_lake_spark import write_delta

    write_delta(_readings(spark, 10), tmp_table, mode="overwrite")
    spark.conf.set(
        "spark.delta_lake_spark.retentionDurationCheck.enabled", "false"
    )
    try:
        candidates = table.vacuum(0, dry_run=True)
        assert candidates  # old files listed...
        import os

        assert all(
            os.path.exists(os.path.join(tmp_table, p)) for p in candidates
        )  # ...but nothing deleted
        deleted = table.vacuum(0)
        assert sorted(deleted) == sorted(candidates)
    finally:
        spark.conf.set(
            "spark.delta_lake_spark.retentionDurationCheck.enabled", "true"
        )


def test_vacuum_lite_log_driven(spark, table, tmp_table):
    """VACUUM LITE reclaims from the log's remove actions — no
    directory listing — and therefore skips orphans the log never saw,
    which a full VACUUM still catches."""
    import os

    from delta_lake_spark import write_delta

    write_delta(_readings(spark, 10), tmp_table, mode="overwrite")
    # plant an orphan: a crashed writer's staged file, unknown to the log
    orphan = os.path.join(tmp_table, "data", "orphan-000.parquet")
    os.makedirs(os.path.dirname(orphan), exist_ok=True)
    with open(orphan, "wb") as fh:
        fh.write(b"not really parquet")
    old = 1  # mtime in the distant past so retention 0 catches it
    os.utime(orphan, (old, old))

    spark.conf.set(
        "spark.delta_lake_spark.retentionDurationCheck.enabled", "false"
    )
    try:
        lite_candidates = table.vacuum(0, dry_run=True, lite=True)
        full_candidates = table.vacuum(0, dry_run=True)
        assert lite_candidates  # the overwritten files are log-known
        assert set(lite_candidates) <= set(full_candidates)
        assert "data/orphan-000.parquet" in {
            os.path.normpath(p) for p in full_candidates
        }
        assert "data/orphan-000.parquet" not in {
            os.path.normpath(p) for p in lite_candidates
        }
        deleted = table.vacuum(0, lite=True)
        assert sorted(deleted) == sorted(lite_candidates)
        assert not any(
            os.path.exists(os.path.join(tmp_table, p)) for p in deleted
        )
        assert os.path.exists(orphan)  # lite never touches orphans
        # current table still reads fine
        from delta_lake_spark import read_delta

        assert read_delta(spark, tmp_table).count() == 10
    finally:
        spark.conf.set(
            "spark.delta_lake_spark.retentionDurationCheck.enabled", "true"
        )


def test_vacuum_lite_sql_form(spark, table, tmp_table):
    from delta_lake_spark import write_delta
    from delta_lake_spark.catalog import Catalog
    from delta_lake_spark.sql import sql as dls_sql

    write_delta(_readings(spark, 10), tmp_table, mode="overwrite")
    cat = Catalog(spark)
    cat.register("vac_lite_t", tmp_table)
    spark.conf.set(
        "spark.delta_lake_spark.retentionDurationCheck.enabled", "false"
    )
    try:
        out = dls_sql(cat, "VACUUM vac_lite_t LITE RETAIN 0 HOURS").collect()
        assert out[0].files_deleted >= 1
    finally:
        spark.conf.set(
            "spark.delta_lake_spark.retentionDurationCheck.enabled", "true"
        )
