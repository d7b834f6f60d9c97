"""Mutation engine: DELETE / UPDATE / MERGE variants, matching the
reference's usage shapes (SURVEY.md §2.8 M1-M7)."""

import os

import pytest
from pyspark.sql import functions as F

from delta_lake_spark import (
    DeltaTable,
    MergeAmbiguityError,
    read_delta,
    write_delta,
)


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


def test_predicate_delete_prunes_files(spark, table, tmp_table):
    """M5: delete('p_device_id = 4') rewrites only that partition."""
    before = table._log.snapshot()
    files_p4 = {
        p for p, a in before.files.items() if a.partitionValues.get("p_device_id") == "4"
    }
    table.delete("p_device_id = 4")
    after = table._log.snapshot()
    removed = set(before.files) - set(after.files)
    assert removed == files_p4  # only partition-4 files rewritten
    got = read_delta(spark, tmp_table)
    assert got.filter("p_device_id = 4").count() == 0
    assert got.count() == 80


def test_delete_all(spark, table, tmp_table):
    table.delete()
    assert read_delta(spark, tmp_table).count() == 0
    assert read_delta(spark, tmp_table, version=0).count() == 100


def test_update(spark, table, tmp_table):
    table.update("heartrate < 20", {"status": "'low'"})
    got = read_delta(spark, tmp_table)
    assert got.filter("status = 'low'").count() == 10
    assert got.filter("status = 'new'").count() == 90


def test_merge_update_only(spark, table, tmp_table):
    """M1: whenMatchedUpdate, the operations.py:149-166 shape."""
    updates = spark.range(10).select(
        F.col("id").alias("device_id"), F.lit("loaded").alias("new_status")
    )
    (
        table.alias("bronze")
        .merge(updates, "bronze.device_id = src.device_id", source_alias="src")
        .whenMatchedUpdate(set={"status": "src.new_status"})
        .execute()
    )
    got = read_delta(spark, tmp_table)
    assert got.filter("status = 'loaded'").count() == 10
    assert got.count() == 100


def test_update_only_merge_in_one_partition_runs_five_jobs(spark, tmp_table):
    """An update-only MERGE whose touched files share one partition value
    runs five Spark jobs: FIND groups by row and then by file over one
    exchange on the file column, and the rewrite writes the touched rows
    without a partition shuffle, one new file per touched file."""
    from test_build_jobs import jobs_during

    one_part = _readings(spark).filter("p_device_id = 0")
    write_delta(one_part.filter("device_id < 50"), tmp_table, partition_by=["p_device_id"])
    write_delta(one_part.filter("device_id >= 50"), tmp_table)
    dt = DeltaTable.forPath(spark, tmp_table)
    before = set(dt._log.snapshot().files)
    assert len(before) == 2
    src = spark.range(2).select(
        (F.col("id") * 50 + 5).alias("device_id"), F.lit("loaded").alias("new_status")
    )  # one matched row in each file
    merge = (
        dt.alias("t")
        .merge(src, "t.device_id = s.device_id", source_alias="s")
        .whenMatchedUpdate(set={"status": "s.new_status"})
    )
    _, jobs = jobs_during(spark, "update_only_merge", merge.execute)
    assert jobs == 5
    after = set(dt._log.snapshot().files)
    assert len(after) == 2 and not after & before
    got = read_delta(spark, tmp_table)
    assert {r.device_id for r in got.filter("status = 'loaded'").collect()} == {5, 55}
    assert got.count() == 20


def test_merge_delete_only(spark, table, tmp_table):
    """M2: whenMatchedDelete, the utilities.py:61-73 shape."""
    landed = spark.range(30).select(F.col("id").alias("device_id"))
    (
        table.alias("t")
        .merge(landed, "t.device_id = s.device_id", source_alias="s")
        .whenMatchedDelete()
        .execute()
    )
    assert read_delta(spark, tmp_table).count() == 70


def test_merge_full_upsert(spark, table, tmp_table):
    """M3: update + insert in one transaction
    (delta_lake_rapid_start.py:398-420)."""
    upserts = spark.createDataFrame(
        [(5, 1, 999.0, "updated"), (1000, 0, 50.0, "late"), (1001, 1, 60.0, "late")],
        "device_id long, p_device_id int, heartrate double, status string",
    )
    (
        table.alias("health_tracker")
        .merge(upserts, "health_tracker.device_id = upserts.device_id", source_alias="upserts")
        .whenMatchedUpdateAll()
        .whenNotMatchedInsertAll()
        .execute()
    )
    got = read_delta(spark, tmp_table)
    assert got.count() == 102
    assert got.filter("device_id = 5").collect()[0].heartrate == 999.0
    assert got.filter("status = 'late'").count() == 2


def test_merge_insert_values_with_condition(spark, table, tmp_table):
    src = spark.createDataFrame(
        [(2000, 3, 70.0), (2001, 3, -1.0)],
        "device_id long, p_device_id int, heartrate double",
    )
    (
        table.alias("t")
        .merge(src, "t.device_id = s.device_id", source_alias="s")
        .whenNotMatchedInsert(
            values={
                "device_id": "s.device_id",
                "p_device_id": "s.p_device_id",
                "heartrate": "s.heartrate",
                "status": "'inserted'",
            },
            condition="s.heartrate > 0",
        )
        .execute()
    )
    got = read_delta(spark, tmp_table)
    assert got.filter("status = 'inserted'").count() == 1
    assert got.count() == 101


def test_merge_rlike_condition(spark, tmp_table):
    """J4/M4: theta merge on RLIKE (05_compliance.py:100-107)."""
    bronze = spark.createDataFrame(
        [('{"user":"alice","v":1}',), ('{"user":"bob","v":2}',), ('{"user":"eve","v":3}',)],
        "value string",
    )
    write_delta(bronze, tmp_table)
    dt = DeltaTable.forPath(spark, tmp_table)
    deletions = spark.createDataFrame([("alice",), ("eve",)], "user_id string")
    (
        dt.alias("bronze")
        .merge(deletions, "bronze.value RLIKE d.user_id", source_alias="d")
        .whenMatchedDelete()
        .execute()
    )
    got = read_delta(spark, tmp_table).collect()
    assert len(got) == 1 and "bob" in got[0].value


def _parquet_files(root):
    return {
        os.path.join(d, n)
        for d, _dirs, names in os.walk(root)
        for n in names
        if n.endswith(".parquet")
    }


def test_merge_ambiguity_raises(spark, table, tmp_table):
    """Multi-match under an update clause fails in FIND, before anything
    is staged: no new version and no new parquet file."""
    dup_src = spark.createDataFrame(
        [(1, "a"), (1, "b"), (500, "c")], "device_id long, new_status string"
    )
    version, files = table.version(), _parquet_files(tmp_table)
    with pytest.raises(MergeAmbiguityError):
        (
            table.alias("t")
            .merge(dup_src, "t.device_id = s.device_id", source_alias="s")
            .whenMatchedUpdate(set={"status": "s.new_status"})
            .whenNotMatchedInsertAll()
            .execute()
        )
    assert table.version() == version
    assert _parquet_files(tmp_table) == files


def test_merge_update_insert_plan_shape(spark, table, tmp_table, monkeypatch):
    """An update + insert MERGE makes two passes: one inner join (FIND:
    touched files and the multi-match check in one collect), then one
    full outer join (REWRITE). No semi/anti join, no limit probe."""
    DataFrame = type(spark.range(1))  # the concrete (classic) class

    hows, limits = [], []
    join, limit = DataFrame.join, DataFrame.limit

    def spy_join(self, other, on=None, how=None):
        hows.append(how)
        return join(self, other, on, how)

    def spy_limit(self, num):
        limits.append(num)
        return limit(self, num)

    monkeypatch.setattr(DataFrame, "join", spy_join)
    monkeypatch.setattr(DataFrame, "limit", spy_limit)
    src = spark.createDataFrame(
        [(3, 0, 1.0, "updated"), (1000, 0, 2.0, "inserted")],
        "device_id long, p_device_id int, heartrate double, status string",
    )
    (
        table.alias("t")
        .merge(src, "t.device_id = s.device_id", source_alias="s")
        .whenMatchedUpdate(set={"status": "s.status"})
        .whenNotMatchedInsert(
            values={
                "device_id": "s.device_id",
                "p_device_id": "s.p_device_id",
                "heartrate": "s.heartrate",
                "status": "s.status",
            }
        )
        .execute()
    )
    monkeypatch.undo()
    assert hows == ["inner", "full"]
    assert limits == []
    got = read_delta(spark, tmp_table)
    assert got.count() == 101
    assert {r.device_id for r in got.filter("status != 'new'").collect()} == {3, 1000}


def test_merge_untouched_files_not_rewritten(spark, table):
    """Touched-file pruning: merging updates for one partition leaves the
    other partitions' files in place (SURVEY.md §4 MERGE pruning)."""
    before = set(table._log.snapshot().files)
    updates = spark.createDataFrame([(0, "x")], "device_id long, new_status string")
    (
        table.alias("t")
        .merge(updates, "t.device_id = s.device_id AND t.p_device_id = 0", source_alias="s")
        .whenMatchedUpdate(set={"status": "s.new_status"})
        .execute()
    )
    after = set(table._log.snapshot().files)
    untouched_kept = before & after
    # only partition-0 file(s) rewritten; >= other 4 partitions untouched
    assert len(before - after) <= len(before) - 4
    assert len(untouched_kept) >= 4


def test_time_travel_scrub_and_restore(spark, table, tmp_table):
    """M7: read old version, scrub a column, upsert back
    (delta_lake_rapid_start.py:595-629)."""
    table.delete("device_id < 10")  # v1
    old = read_delta(spark, tmp_table, version=0).filter("device_id < 10")
    scrubbed = old.withColumn("status", F.lit(None).cast("string"))
    (
        table.alias("t")
        .merge(scrubbed, "t.device_id = s.device_id", source_alias="s")
        .whenMatchedUpdateAll()
        .whenNotMatchedInsertAll()
        .execute()
    )
    got = read_delta(spark, tmp_table)
    assert got.count() == 100
    assert got.filter("status IS NULL").count() == 10


def test_restore_version(spark, table, tmp_table):
    table.delete("p_device_id = 1")
    table.restore(0)
    assert read_delta(spark, tmp_table).count() == 100


def test_optimize_compacts_small_files(spark, tmp_table):
    for i in range(5):
        write_delta(
            spark.range(i * 10, (i + 1) * 10).select(F.col("id")), tmp_table
        )
    dt = DeltaTable.forPath(spark, tmp_table)
    before = dt._log.snapshot().num_files
    dt.optimize(target_file_bytes=1024 * 1024)
    after_snap = dt._log.snapshot()
    assert after_snap.num_files < before
    assert read_delta(spark, tmp_table).count() == 50
    hist = dt.history().collect()
    assert hist[0].operation == "OPTIMIZE"


def test_check_constraints_enforced_on_all_write_paths(spark, tmp_table):
    """ADD CONSTRAINT validates existing data; violating append, MERGE,
    and UPDATE are all rejected at commit time; passing writes commit;
    DROP CONSTRAINT lifts enforcement."""
    import pytest as _pytest

    from delta_lake_spark.errors import ConstraintViolationError

    write_delta(
        spark.createDataFrame([(1, 10.0), (2, 20.0)], "id long, v double"),
        tmp_table,
    )
    dt = DeltaTable.forPath(spark, tmp_table)
    dt.add_constraint("v_positive", "v > 0")

    # adding a constraint current data violates must fail
    with _pytest.raises(ConstraintViolationError):
        dt.add_constraint("v_small", "v < 15")

    # violating append rejected; no partial commit
    with _pytest.raises(ConstraintViolationError):
        write_delta(
            spark.createDataFrame([(3, -1.0)], "id long, v double"), tmp_table
        )
    assert read_delta(spark, tmp_table).count() == 2

    # passing append commits
    write_delta(spark.createDataFrame([(3, 3.0)], "id long, v double"), tmp_table)
    assert read_delta(spark, tmp_table).count() == 3

    # violating UPDATE rejected
    with _pytest.raises(ConstraintViolationError):
        dt.update("id = 1", {"v": "-5.0"})

    # violating MERGE rejected
    src = spark.createDataFrame([(2, -9.0)], "id long, v double")
    with _pytest.raises(ConstraintViolationError):
        (
            dt.alias("t")
            .merge(src, "t.id = s.id", source_alias="s")
            .whenMatchedUpdateAll()
            .execute()
        )
    assert {r.id: r.v for r in read_delta(spark, tmp_table).collect()} == {
        1: 10.0, 2: 20.0, 3: 3.0
    }

    # NULL passes (SQL CHECK semantics)
    write_delta(
        spark.createDataFrame([(4, None)], "id long, v double"), tmp_table
    )
    assert read_delta(spark, tmp_table).count() == 4

    # drop lifts enforcement
    dt.drop_constraint("v_positive")
    write_delta(spark.createDataFrame([(5, -1.0)], "id long, v double"), tmp_table)
    assert read_delta(spark, tmp_table).count() == 5


def test_table_changes_cdf(spark, tmp_table):
    """CDF via per-commit file diffs: append -> inserts; DELETE ->
    deletes; MERGE update -> delete(old)+insert(new); OPTIMIZE -> no
    changes."""
    from delta_lake_spark.cdf import table_changes

    write_delta(
        spark.createDataFrame([(1, 10.0), (2, 20.0), (3, 30.0)], "id long, v double"),
        tmp_table,
    )  # v0
    write_delta(
        spark.createDataFrame([(4, 40.0)], "id long, v double"), tmp_table
    )  # v1 append
    dt = DeltaTable.forPath(spark, tmp_table)
    dt.delete("id = 2")  # v2
    src = spark.createDataFrame([(3, 99.0)], "id long, v double")
    (
        dt.alias("t").merge(src, "t.id = s.id", source_alias="s")
        .whenMatchedUpdateAll()
        .execute()
    )  # v3 update
    dt.optimize(target_file_bytes=1)  # v4 (dataChange=False) or no-op

    ch = table_changes(spark, tmp_table, 1).collect()
    by_ver = {}
    for r in ch:
        by_ver.setdefault(r._commit_version, []).append((r._change_type, r.id, r.v))
    assert sorted(by_ver[1]) == [("insert", 4, 40.0)]
    assert sorted(by_ver[2]) == [("delete", 2, 20.0)]
    assert sorted(by_ver[3]) == [("delete", 3, 30.0), ("insert", 3, 99.0)]
    assert 4 not in by_ver  # compaction moves rows, changes nothing

    # range filtering
    only2 = table_changes(spark, tmp_table, 2, 2).collect()
    assert [(r._change_type, r.id) for r in only2] == [("delete", 2)]

    # invalid ranges raise
    import pytest as _pytest

    from delta_lake_spark.errors import VersionNotFoundError

    with _pytest.raises(VersionNotFoundError):
        table_changes(spark, tmp_table, 99)


def test_merge_schema_evolution(spark, table, tmp_table):
    """withSchemaEvolution: a source column absent from the target is
    appended to the table schema; untouched/unmatched rows read null."""
    src = spark.range(95, 105).select(
        F.col("id").alias("device_id"),
        F.lit("fw2").alias("firmware"),  # new column
        F.lit("synced").alias("status"),
    )
    (
        table.alias("t")
        .merge(src, "t.device_id = s.device_id", source_alias="s")
        .withSchemaEvolution()
        .whenMatchedUpdateAll()
        .whenNotMatchedInsert(
            values={
                "device_id": "s.device_id",
                "p_device_id": "cast(s.device_id % 5 as int)",
                "firmware": "s.firmware",
                "status": "s.status",
            }
        )
        .execute()
    )
    got = read_delta(spark, tmp_table)
    assert "firmware" in got.columns
    assert got.count() == 105
    assert got.filter("firmware = 'fw2'").count() == 10  # 5 updated + 5 inserted
    assert got.filter("firmware IS NULL").count() == 95
    # updated rows kept their target-only column values
    assert got.filter(
        "device_id >= 95 AND device_id < 100 AND heartrate IS NULL"
    ).count() == 0
    # plain appends against the evolved schema still work
    write_delta(_readings(spark, 3), tmp_table)
    assert read_delta(spark, tmp_table).count() == 108


def test_merge_without_evolution_rejects_new_columns_silently_ignored(
    spark, table
):
    """Without withSchemaEvolution, MERGE keeps the target schema: a
    source-only column never appears in the table."""
    src = spark.range(3).select(
        F.col("id").alias("device_id"), F.lit("x").alias("extra_col")
    )
    (
        table.alias("t")
        .merge(src, "t.device_id = s.device_id", source_alias="s")
        .whenMatchedUpdate(set={"status": "'touched'"})
        .execute()
    )
    got = table.toDF()
    assert "extra_col" not in got.columns
    assert got.filter("status = 'touched'").count() == 3


def test_optimize_partition_scoped(spark, tmp_table):
    """OPTIMIZE WHERE p = v touches only that partition's files — the
    daily-compaction pattern."""
    df = spark.range(2000).select(
        F.col("id"), (F.col("id") % 4).cast("int").alias("p")
    ).repartition(6)
    write_delta(df, tmp_table, partition_by=["p"])
    dt = DeltaTable.forPath(spark, tmp_table)
    before = dt._log.snapshot()
    other = {
        path for path, a in before.files.items()
        if a.partitionValues.get("p") != "2"
    }
    dt.optimize(cluster_by=["id"], partition_filter={"p": 2})
    after = dt._log.snapshot()
    # every non-p=2 file untouched; p=2 files rewritten
    assert other <= set(after.files)
    assert {
        path for path, a in after.files.items()
        if a.partitionValues.get("p") == "2"
    }.isdisjoint(before.files.keys() - other)
    assert read_delta(spark, tmp_table).count() == 2000


def test_optimize_cluster_by_keeps_ranges_on_partitioned_table(spark, tmp_table):
    """cluster_by on a partitioned table: each partition's rows are
    range-partitioned and sorted on the clustering column and written in
    that layout, so a partition holds several sorted files with disjoint
    ranges rather than one file spanning all of them."""
    import pyarrow.parquet as pq

    df = spark.range(200_000).select(
        F.col("id"),
        (F.col("id") % 2).cast("int").alias("g"),
        (F.col("id") * 7919 % 200_000).alias("k"),  # a permutation of the ids
    )
    write_delta(df, tmp_table, partition_by=["g"])
    dt = DeltaTable.forPath(spark, tmp_table)
    dt.optimize(target_file_bytes=200_000, cluster_by=["k"])
    ranges: dict[str, list] = {}
    for a in dt._log.snapshot().files.values():
        ranges.setdefault(a.partitionValues["g"], []).append(
            (a.stats["minValues"]["k"], a.stats["maxValues"]["k"])
        )
        k = pq.read_table(os.path.join(tmp_table, a.path), columns=["k"])["k"]
        assert k.to_pylist() == sorted(k.to_pylist())
    assert sorted(ranges) == ["0", "1"]
    for spans in ranges.values():
        spans.sort()
        assert len(spans) > 1
        assert all(hi < lo for (_, hi), (lo, _) in zip(spans, spans[1:]))
    assert read_delta(spark, tmp_table).count() == 200_000


def test_optimize_bin_pack_writes_target_sized_files_per_partition(spark, tmp_table):
    """Bin-packing a partition's small files writes ceil(total / target)
    files into that partition, not one."""
    for i in range(6):
        write_delta(
            spark.range(i * 1000, (i + 1) * 1000).select(
                "id", (F.col("id") % 2).cast("int").alias("g")
            ),
            tmp_table,
            partition_by=["g"],
        )
    dt = DeltaTable.forPath(spark, tmp_table)
    sizes: dict[str, list[int]] = {}
    for a in dt._log.snapshot().files.values():
        sizes.setdefault(a.partitionValues["g"], []).append(a.size)
    target = 2 * max(max(v) for v in sizes.values()) + 2  # every file is small
    dt.optimize(target_file_bytes=target)
    counts: dict[str, int] = {}
    for a in dt._log.snapshot().files.values():
        counts[a.partitionValues["g"]] = counts.get(a.partitionValues["g"], 0) + 1
    want = {g: -(-sum(v) // target) for g, v in sizes.items()}
    assert all(n > 1 for n in want.values())
    assert counts == want
    assert read_delta(spark, tmp_table).count() == 6000


def test_auto_compact_on_write(spark, tmp_path):
    """autoCompact=true: once small live files reach minNumFiles, the
    append triggers a follow-on dataChange=False OPTIMIZE commit."""
    from delta_lake_spark.reader import read_delta
    from delta_lake_spark.table import DeltaTable
    from delta_lake_spark.writer import write_delta

    p = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame([(0, 0.0)], "id long, v double").coalesce(1), p
    )
    dt = DeltaTable.forPath(spark, p)
    dt.set_properties({"autoCompact": "true", "autoCompact.minNumFiles": "4"})

    for i in range(1, 4):
        write_delta(
            spark.createDataFrame([(i, i * 1.0)], "id long, v double").coalesce(1),
            p,
        )
    snap = dt._log.snapshot()
    assert snap.num_files == 1, f"expected compaction, files={snap.num_files}"
    ops = [h["operation"] for h in dt._log.history()]
    assert "OPTIMIZE" in ops
    got = sorted(r.id for r in read_delta(spark, p).collect())
    assert got == [0, 1, 2, 3]


def test_table_changes_includes_version_zero(spark, tmp_table):
    """Reading changes from 0 must surface the table-creation commit's
    rows as inserts (a consumer bootstrapping from 0 loses them
    otherwise)."""
    from delta_lake_spark.cdf import table_changes

    write_delta(
        spark.createDataFrame([(1, 10.0), (2, 20.0)], "id long, v double"),
        tmp_table,
    )  # v0
    write_delta(
        spark.createDataFrame([(3, 30.0)], "id long, v double"), tmp_table
    )  # v1
    ch = table_changes(spark, tmp_table, 0).collect()
    v0 = sorted((r._change_type, r.id) for r in ch if r._commit_version == 0)
    assert v0 == [("insert", 1), ("insert", 2)]
    assert {r.id for r in ch if r._commit_version == 1} == {3}


def test_table_changes_keyed_reports_updates(spark, tmp_table):
    """Keyed CDC: a MERGE update surfaces as update_preimage +
    update_postimage; pure inserts and deletes keep their types; an
    ambiguous multi-row key falls back to delete + insert."""
    from delta_lake_spark.cdf import table_changes_keyed

    write_delta(
        spark.createDataFrame(
            [(1, 10.0), (2, 20.0), (3, 30.0)], "id long, v double"
        ),
        tmp_table,
    )  # v0
    dt = DeltaTable.forPath(spark, tmp_table)
    src = spark.createDataFrame([(2, 99.0), (4, 40.0)], "id long, v double")
    (
        dt.alias("t").merge(src, "t.id = s.id", source_alias="s")
        .whenMatchedUpdateAll()
        .whenNotMatchedInsertAll()
        .execute()
    )  # v1: update id=2, insert id=4
    dt.delete("id = 1")  # v2

    ch = table_changes_keyed(spark, tmp_table, ["id"], 0).collect()
    by = {}
    for r in ch:
        by.setdefault(r._commit_version, []).append((r._change_type, r.id, r.v))
    assert sorted(by[0]) == [("insert", 1, 10.0), ("insert", 2, 20.0), ("insert", 3, 30.0)]
    assert sorted(by[1]) == [
        ("insert", 4, 40.0),
        ("update_postimage", 2, 99.0),
        ("update_preimage", 2, 20.0),
    ]
    assert sorted(by[2]) == [("delete", 1, 10.0)]


def test_row_count_metadata_only_and_analyze(spark, tmp_table):
    """row_count answers from log arithmetic (numRecords minus DV
    cardinality); ANALYZE records stats readable without a scan and via
    the SQL form."""
    from delta_lake_spark.catalog import Catalog
    from delta_lake_spark.sql import sql

    write_delta(
        spark.createDataFrame(
            [(i, float(i)) for i in range(50)], "id long, v double"
        ),
        tmp_table,
    )
    dt = DeltaTable.forPath(spark, tmp_table)
    assert dt.row_count() == 50
    dt.delete("id < 10", use_dv=True)  # DV delete: files keep numRecords
    assert dt.row_count() == 40

    cat = Catalog(spark)
    cat.register("an_t", tmp_table)
    sql(cat, "ANALYZE TABLE an_t COMPUTE STATISTICS FOR COLUMNS id, v")
    st = {r.column: r for r in dt.statistics().collect()}
    assert st["id"].row_count == 40
    assert st["id"].null_count == 0
    assert st["id"].min == "10"
    # the stats commit is dataChange=False metadata: no files changed
    snap = dt._log.snapshot()
    assert "dls.tableStats" in snap.metadata.configuration


def test_replace_where_atomic_and_validated(spark, tmp_table):
    """replaceWhere: one commit, straddling files keep non-matching
    rows, predicate-violating input is rejected before any write."""
    import pytest as _pytest

    write_delta(
        spark.createDataFrame(
            [(i, "a" if i < 5 else "b", float(i)) for i in range(10)],
            "id long, grp string, v double",
        ).coalesce(1),  # ONE file straddling both groups
        tmp_table,
    )
    dt = DeltaTable.forPath(spark, tmp_table)
    v0 = dt._log.snapshot().version

    new_a = spark.createDataFrame(
        [(100, "a", 777.0)], "id long, grp string, v double"
    )
    v1 = dt.replace_where(new_a, "grp = 'a'")
    assert v1 == v0 + 1  # single atomic commit

    rows = {(r.id, r.grp, r.v) for r in read_delta(spark, tmp_table).collect()}
    assert (100, "a", 777.0) in rows
    assert all(g == "b" for (_i, g, _v) in rows if _i != 100)
    assert len(rows) == 6  # 5 'b' survivors from the straddling file + new row

    with _pytest.raises(ValueError, match="violates predicate"):
        dt.replace_where(
            spark.createDataFrame([(7, "b", 1.0)], "id long, grp string, v double"),
            "grp = 'a'",
        )


def test_append_only_table_blocks_mutations(spark, tmp_table):
    """delta.appendOnly: appends and insert-only MERGE land; anything
    that removes or changes rows (DELETE/UPDATE/MERGE-matched/
    overwrite/replaceWhere/RESTORE) raises; layout-only OPTIMIZE stays
    allowed; unsetting the property re-enables mutations."""
    import pytest as _pytest

    from delta_lake_spark.errors import AppendOnlyTableError

    df = spark.range(10).select(F.col("id"), (F.col("id") * 2).alias("v"))
    write_delta(df, tmp_table, properties={"delta.appendOnly": "true"})
    dt = DeltaTable.forPath(spark, tmp_table)

    # appends still work
    write_delta(
        spark.range(10, 20).select("id", (F.col("id") * 2).alias("v")), tmp_table
    )
    assert read_delta(spark, tmp_table).count() == 20

    with _pytest.raises(AppendOnlyTableError):
        dt.delete("id < 5")
    with _pytest.raises(AppendOnlyTableError):
        dt.delete("id < 5", use_dv=True)
    with _pytest.raises(AppendOnlyTableError):
        dt.update("id < 5", {"v": "v + 1"})
    with _pytest.raises(AppendOnlyTableError):
        write_delta(df, tmp_table, mode="overwrite")
    with _pytest.raises(AppendOnlyTableError):
        dt.replace_where(
            spark.range(3).select("id", F.lit(0).alias("v")), "id < 3"
        )
    with _pytest.raises(AppendOnlyTableError):
        dt.restore(0)

    src = spark.range(15, 25).select("id", F.lit(9).alias("v"))
    with _pytest.raises(AppendOnlyTableError):
        (
            dt.merge(src.alias("s"), "target.id = s.id")
            .when_matched_update_all()
            .execute()
        )
    # insert-only merge is a pure append: allowed
    (
        dt.merge(src.alias("s"), "target.id = s.id")
        .when_not_matched_insert_all()
        .execute()
    )
    assert read_delta(spark, tmp_table).count() == 25
    dt.optimize(target_file_bytes=1 << 30)  # layout-only: allowed

    dt.unset_properties(["delta.appendOnly"])
    dt.delete("id >= 20")
    assert read_delta(spark, tmp_table).count() == 20


def test_merge_not_matched_by_source_sync(spark, table, tmp_table):
    """whenNotMatchedBySource: one MERGE is a full two-way sync —
    matched rows update, new rows insert, and target rows absent from
    the source get deprecated (update) or deleted."""
    # source: devices 50..119 (50-99 match; 100-119 are new)
    src = spark.range(50, 120).select(
        F.col("id").alias("device_id"),
        (F.col("id") % 5).cast("int").alias("p_device_id"),
        (F.col("id") * 3.0).alias("heartrate"),
        F.lit("synced").alias("status"),
    )
    (
        table.alias("t")
        .merge(src, "t.device_id = s.device_id", source_alias="s")
        .whenMatchedUpdate(set={"status": "s.status"})
        .whenNotMatchedInsertAll()
        .whenNotMatchedBySourceDelete(condition="t.device_id < 20")
        .whenNotMatchedBySourceUpdate(set={"status": "'stale'"})
        .execute()
    )
    got = read_delta(spark, tmp_table)
    rows = {r.device_id: r.status for r in got.collect()}
    # 0-19 deleted; 20-49 marked stale; 50-99 synced; 100-119 inserted
    assert len(rows) == 100
    assert all(d not in rows for d in range(20))
    assert all(rows[d] == "stale" for d in range(20, 50))
    assert all(rows[d] == "synced" for d in range(50, 120))


def test_merge_by_source_only_clause_touches_unmatched_files(spark, table, tmp_table):
    """A MERGE with ONLY a by-source clause must rewrite files that the
    source semi-join never touches (the rows that match nothing are the
    whole point)."""
    src = spark.range(0).select(
        F.col("id").alias("device_id"),
        (F.col("id") % 5).cast("int").alias("p_device_id"),
        (F.col("id") * 1.0).alias("heartrate"),
        F.lit("x").alias("status"),
    )
    (
        table.alias("t")
        .merge(src, "t.device_id = s.device_id", source_alias="s")
        .whenNotMatchedBySourceUpdate(set={"status": "'orphaned'"})
        .execute()
    )
    got = read_delta(spark, tmp_table)
    assert got.filter("status = 'orphaned'").count() == 100
    # first-true clause semantics: delete wins where its condition holds
    src2 = spark.range(90, 95).select(
        F.col("id").alias("device_id"),
        (F.col("id") % 5).cast("int").alias("p_device_id"),
        (F.col("id") * 1.0).alias("heartrate"),
        F.lit("keep").alias("status"),
    )
    (
        DeltaTable.forPath(spark, tmp_table)
        .alias("t")
        .merge(src2, "t.device_id = s.device_id", source_alias="s")
        .whenNotMatchedBySourceDelete(condition="t.device_id >= 80")
        .whenNotMatchedBySourceUpdate(set={"status": "'old'"})
        .execute()
    )
    got2 = read_delta(spark, tmp_table)
    # unmatched >= 80: 80-89 and 95-99 deleted (90-94 matched src2)
    assert got2.count() == 100 - 15
    assert got2.filter("status = 'old'").count() == 80  # 0-79
    assert got2.filter("status = 'keep'").count() == 0  # no matched clause


def test_merge_by_source_only_multimatch_no_duplication(spark, table, tmp_table):
    """A by-source-only MERGE whose source matches a target row MORE THAN
    ONCE must not duplicate that row: matched rows are untouched by
    whenNotMatchedBySource, so each must survive exactly once even when
    its file is rewritten for by-source updates."""
    # two source rows for device_id=1 (multi-match), none for the rest
    src = spark.createDataFrame(
        [(1, "a"), (1, "b")], "device_id long, tag string"
    )
    (
        table.alias("t")
        .merge(src, "t.device_id = s.device_id", source_alias="s")
        .whenNotMatchedBySourceUpdate(set={"status": "'orphaned'"})
        .execute()
    )
    got = read_delta(spark, tmp_table)
    assert got.count() == 100  # no duplicates, no losses
    assert got.filter("device_id = 1").count() == 1
    assert got.filter("device_id = 1").collect()[0].status == "new"  # untouched
    assert got.filter("status = 'orphaned'").count() == 99


def test_merge_delete_only_multimatch(spark, table, tmp_table):
    """Delete-only matched merges allow multi-match (Delta semantics:
    the result is deterministic). A row whose matches all fail the
    delete condition must survive exactly once; a row where ANY match
    fires the delete must be dropped."""
    src = spark.createDataFrame(
        [(1, 5), (1, 7), (2, 100), (2, 3)],
        "device_id long, threshold int",
    )
    (
        table.alias("t")
        .merge(src, "t.device_id = s.device_id", source_alias="s")
        .whenMatchedDelete(condition="s.threshold > 50")
        .execute()
    )
    got = read_delta(spark, tmp_table)
    # device 2 had one firing match (threshold=100) -> deleted;
    # device 1's matches never fire -> kept exactly once
    assert got.filter("device_id = 2").count() == 0
    assert got.filter("device_id = 1").count() == 1
    assert got.count() == 99


def test_table_changes_by_timestamp(spark, tmp_table):
    """CDF timestamp addressing: startingTimestamp resolves to the first
    commit after that time (exact-time commit included), honoring
    in-commit timestamps."""
    from delta_lake_spark.cdf import table_changes
    from delta_lake_spark.log import DeltaLog

    write_delta(
        _readings(spark, 5), tmp_table,
        properties={"delta.enableInCommitTimestamps": "true"},
    )
    write_delta(_readings(spark, 3), tmp_table)  # v1
    write_delta(_readings(spark, 2), tmp_table)  # v2
    log = DeltaLog(tmp_table)
    t1 = log.commit_timestamp(1)

    # from exactly v1's time: v1 and v2 changes
    got = table_changes(spark, tmp_table, starting_timestamp=t1)
    assert sorted(
        {r._commit_version for r in got.collect()}
    ) == [1, 2]
    # from just after v1: only v2
    got2 = table_changes(spark, tmp_table, starting_timestamp=t1 + 1)
    assert {r._commit_version for r in got2.collect()} == {2}
    # bounded window [v0 time, v1 time]
    t0 = log.commit_timestamp(0)
    got3 = table_changes(
        spark, tmp_table, starting_timestamp=t0, ending_timestamp=t1
    )
    assert sorted({r._commit_version for r in got3.collect()}) == [0, 1]
    import pytest

    with pytest.raises(ValueError):
        table_changes(
            spark, tmp_table, from_version=0, starting_timestamp=t0
        )
