"""Optimistic concurrency: racing appends serialize through the atomic
create-if-absent commit; losers retry and land on later versions."""

from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

from delta_lake_spark import read_delta, write_delta


def test_concurrent_appends_all_land(spark, tmp_table):
    write_delta(spark.range(10).select(F.col("id")), tmp_table)

    def append(i: int) -> int:
        df = spark.range(i * 100, i * 100 + 10).select(F.col("id"))
        return write_delta(df, tmp_table)

    with ThreadPoolExecutor(max_workers=4) as pool:
        versions = list(pool.map(append, range(1, 5)))

    # every append won a distinct version and no rows were lost
    assert sorted(versions) == [1, 2, 3, 4]
    assert read_delta(spark, tmp_table).count() == 50


def _inject_competitor_before_commit(dt_log, competitor_actions):
    """Wrap log.commit so the first attempt loses the race: a competing
    writer (fresh DeltaLog handle) lands the same version first."""
    from delta_lake_spark.log import DeltaLog

    original = dt_log.commit
    state = {"injected": False}

    def racing_commit(version, actions):
        if not state["injected"]:
            state["injected"] = True
            DeltaLog(dt_log.table_path).commit(version, competitor_actions)
        return original(version, actions)

    dt_log.commit = racing_commit


def test_mutation_losing_race_raises_not_silent(spark, tmp_table):
    """A DELETE that loses the commit race must raise (its rewrite was
    computed against a stale snapshot), never blind-retry."""
    import pytest as _pytest

    from delta_lake_spark import DeltaTable, read_delta, write_delta
    from delta_lake_spark.errors import ConcurrentModificationError
    from delta_lake_spark.log import AddFile, CommitInfo

    write_delta(spark.range(100).selectExpr("id", "id % 5 AS g"), tmp_table)
    dt = DeltaTable.forPath(spark, tmp_table)
    competitor = [
        CommitInfo(operation="APPEND").to_action(),
        AddFile(path="data/competitor.parquet", numRecords=1, size=1).to_action(),
    ]
    _inject_competitor_before_commit(dt._log, competitor)
    with _pytest.raises(ConcurrentModificationError):
        dt.delete("g = 3")
    # caller re-runs against the new snapshot and succeeds
    dt2 = DeltaTable.forPath(spark, tmp_table)
    # drop the phantom competitor file so the table stays readable
    from delta_lake_spark.log import RemoveFile

    dt2._log.commit(
        dt2.version() + 1,
        [
            CommitInfo(operation="CLEANUP").to_action(),
            RemoveFile(path="data/competitor.parquet").to_action(),
        ],
    )
    DeltaTable.forPath(spark, tmp_table).delete("g = 3")
    assert read_delta(spark, tmp_table).count() == 80


def test_append_losing_race_retries_when_metadata_unchanged(
    spark, tmp_table, monkeypatch
):
    """An append that loses the commit race retries and lands AFTER the
    competitor when table metadata is unchanged; both appends survive."""
    import os
    import shutil

    import delta_lake_spark.writer as W
    from delta_lake_spark import read_delta, write_delta
    from delta_lake_spark.log import AddFile, CommitInfo, DeltaLog

    write_delta(spark.range(10), tmp_table)  # v0
    snap = DeltaLog(tmp_table).snapshot()
    src_rel = next(iter(snap.files))
    comp_rel = "data/competitor_append.parquet"
    shutil.copy(
        os.path.join(tmp_table, src_rel), os.path.join(tmp_table, comp_rel)
    )
    n_comp = snap.files[src_rel].numRecords

    state = {"raced": False}

    class RacingLog(DeltaLog):
        def commit(self, version, actions):
            if not state["raced"]:
                state["raced"] = True
                DeltaLog(self.table_path).commit(
                    version,
                    [
                        CommitInfo(operation="APPEND").to_action(),
                        AddFile(path=comp_rel, numRecords=n_comp, size=1).to_action(),
                    ],
                )
            return super().commit(version, actions)

    monkeypatch.setattr(W, "DeltaLog", RacingLog)
    write_delta(spark.range(10, 30), tmp_table)  # loses v1, retries at v2
    assert state["raced"]
    assert read_delta(spark, tmp_table).count() == 10 + 20 + n_comp


def test_append_racing_schema_change_raises(spark, tmp_table, monkeypatch):
    """An append racing a concurrent METADATA change must surface the
    conflict — its staged files were validated against the old schema."""
    import pytest as _pytest

    import delta_lake_spark.writer as W
    from delta_lake_spark import write_delta
    from delta_lake_spark.errors import ConcurrentModificationError
    from delta_lake_spark.log import CommitInfo, DeltaLog, Metadata

    write_delta(spark.range(10), tmp_table)  # v0
    old_meta = DeltaLog(tmp_table).snapshot().metadata

    state = {"raced": False}

    class RacingLog(DeltaLog):
        def commit(self, version, actions):
            if not state["raced"]:
                state["raced"] = True
                new_meta = Metadata(
                    schemaString=old_meta.schemaString,
                    partitionColumns=old_meta.partitionColumns,
                    configuration={"constraint.c1": "id >= 0"},
                    id=old_meta.id,
                    createdTime=old_meta.createdTime,
                )
                DeltaLog(self.table_path).commit(
                    version,
                    [
                        CommitInfo(operation="ADD CONSTRAINT").to_action(),
                        new_meta.to_action(),
                    ],
                )
            return super().commit(version, actions)

    monkeypatch.setattr(W, "DeltaLog", RacingLog)
    with _pytest.raises(ConcurrentModificationError):
        write_delta(spark.range(10, 20), tmp_table)


def test_delete_rebases_over_concurrent_optimize(spark, tmp_table):
    """Conflict RESOLUTION: a DELETE racing a layout-only commit
    (dataChange=False, disjoint files) rebases and lands instead of
    raising."""
    import os
    import shutil

    from delta_lake_spark import DeltaTable, read_delta, write_delta
    from delta_lake_spark.log import AddFile, CommitInfo, DeltaLog, RemoveFile

    write_delta(
        spark.range(100).selectExpr("id", "CAST(id % 5 AS INT) AS g"),
        tmp_table,
        partition_by=["g"],
    )
    dt = DeltaTable.forPath(spark, tmp_table)
    snap = dt._log.snapshot()
    # competitor "compacts" one g=0 file (disjoint from our g=3 delete)
    g0 = next(
        p for p, a in snap.files.items() if a.partitionValues.get("g") == "0"
    )
    comp_rel = "data/compacted_g0.parquet"
    shutil.copy(os.path.join(tmp_table, g0), os.path.join(tmp_table, comp_rel))
    competitor = [
        CommitInfo(operation="OPTIMIZE").to_action(),
        RemoveFile(path=g0, dataChange=False).to_action(),
        AddFile(
            path=comp_rel,
            partitionValues={"g": "0"},
            numRecords=snap.files[g0].numRecords,
            size=snap.files[g0].size,
            stats=snap.files[g0].stats,
            dataChange=False,
        ).to_action(),
    ]
    _inject_competitor_before_commit(dt._log, competitor)
    dt.delete("g = 3")  # must rebase, not raise
    got = read_delta(spark, tmp_table)
    assert got.count() == 80
    assert got.filter("g = 0").count() == 20


def test_optimize_rebases_over_concurrent_append(spark, tmp_table):
    """A compaction racing an append rebases (appends can't invalidate
    a rewrite of files the append didn't touch)."""
    import os
    import shutil

    from delta_lake_spark import DeltaTable, read_delta, write_delta
    from delta_lake_spark.log import AddFile, CommitInfo

    write_delta(spark.range(50).selectExpr("id").repartition(4), tmp_table)
    dt = DeltaTable.forPath(spark, tmp_table)
    snap = dt._log.snapshot()
    src_rel = next(iter(snap.files))
    comp_rel = "data/competitor_append2.parquet"
    shutil.copy(os.path.join(tmp_table, src_rel), os.path.join(tmp_table, comp_rel))
    n_comp = snap.files[src_rel].numRecords
    competitor = [
        CommitInfo(operation="APPEND").to_action(),
        AddFile(
            path=comp_rel,
            numRecords=n_comp,
            size=snap.files[src_rel].size,
            stats=snap.files[src_rel].stats,
        ).to_action(),
    ]
    _inject_competitor_before_commit(dt._log, competitor)
    dt.optimize()  # must rebase, not raise
    assert read_delta(spark, tmp_table).count() == 50 + n_comp


def test_mutation_racing_remove_only_delete_raises(spark, tmp_table):
    """Concurrent-delete-read rule: a winner that REMOVED (dataChange=
    True) a file this mutation read must conflict — FIND/anti-join
    decisions were made against rows that no longer exist."""
    import pytest as _pytest

    from delta_lake_spark import DeltaTable, write_delta
    from delta_lake_spark.errors import ConcurrentModificationError
    from delta_lake_spark.log import CommitInfo, RemoveFile

    write_delta(spark.range(100).selectExpr("id").repartition(4), tmp_table)
    dt = DeltaTable.forPath(spark, tmp_table)
    snap = dt._log.snapshot()
    # competitor deletes a whole file (remove-only, dataChange=True);
    # our predicate (id % 2 = 0 is outside the skipping subset) reads
    # every file, including the victim
    victim = next(iter(snap.files))
    competitor = [
        CommitInfo(operation="DELETE").to_action(),
        RemoveFile(path=victim).to_action(),
    ]
    _inject_competitor_before_commit(dt._log, competitor)
    with _pytest.raises(ConcurrentModificationError):
        dt.update("id % 2 = 0", {"id": "id + 1000"})


def test_mutation_racing_dv_delete_on_read_file_raises(spark, tmp_table):
    """A winner that re-adds a file this mutation read with a new
    deletion vector (a DV delete) conflicts like one that removed it:
    rows FIND saw are gone, even in a file the mutation did not touch."""
    from dataclasses import replace

    from delta_lake_spark import DeltaTable, write_delta
    from delta_lake_spark.errors import ConcurrentModificationError
    from delta_lake_spark.log import CommitInfo

    for start in (0, 10, 20):  # three files, one per commit
        write_delta(spark.range(start, start + 10), tmp_table)
    dt = DeltaTable.forPath(spark, tmp_table)
    snap = dt._log.snapshot()
    victim = next(
        a for a in snap.files.values() if a.stats["minValues"]["id"] == 20
    )
    competitor = [
        CommitInfo(operation="DELETE").to_action(),
        replace(
            victim, deletionVector={"path": "deletion_vectors/x", "cardinality": 1}
        ).to_action(),
    ]
    _inject_competitor_before_commit(dt._log, competitor)
    # `%` defeats stats pruning: FIND reads all three files, touches one
    with pytest.raises(ConcurrentModificationError):
        dt.update("id % 100 = 5", {"id": "id + 1000"})


def test_partition_disjoint_delete_rebases_over_remove(spark, tmp_table):
    """A remove-only winner in partition g=0 does NOT conflict with a
    delete whose pruned read set is partition g=3 only — the read-set
    tracking keeps disjoint-partition mutations concurrent."""
    from delta_lake_spark import DeltaTable, read_delta, write_delta
    from delta_lake_spark.log import CommitInfo, RemoveFile

    write_delta(
        spark.range(100).selectExpr("id", "CAST(id % 5 AS INT) AS g"),
        tmp_table,
        partition_by=["g"],
    )
    dt = DeltaTable.forPath(spark, tmp_table)
    snap = dt._log.snapshot()
    g0 = next(
        p for p, a in snap.files.items() if a.partitionValues.get("g") == "0"
    )
    competitor = [
        CommitInfo(operation="DELETE").to_action(),
        RemoveFile(path=g0).to_action(),
    ]
    n_victim = snap.files[g0].numRecords
    _inject_competitor_before_commit(dt._log, competitor)
    dt.delete("g = 3")  # read set pruned to g=3 -> must rebase, not raise
    got = read_delta(spark, tmp_table)
    assert got.filter("g = 3").count() == 0
    # competitor's remove of one g=0 file held through the rebase
    assert got.filter("g = 0").count() == 20 - n_victim
    assert got.count() == 80 - n_victim


@pytest.mark.parametrize("mutation", ["delete", "update", "replace_where"])
def test_mutation_racing_optimize_after_find_raises(
    spark, tmp_table, monkeypatch, mutation
):
    """A predicate mutation reads its touched files from the snapshot it
    pinned and commits against it: an OPTIMIZE that compacts those files
    between FIND and REWRITE surfaces as a conflict, and the table stays
    at the OPTIMIZE's version."""
    from delta_lake_spark import DeltaTable, write_delta
    from delta_lake_spark.errors import ConcurrentModificationError

    for start in (0, 10, 20):  # three files, one per commit
        write_delta(spark.range(start, start + 10), tmp_table)
    dt = DeltaTable.forPath(spark, tmp_table)
    find = DeltaTable._touched_files
    optimized = []

    def find_then_optimize(self, *args, **kwargs):
        found = find(self, *args, **kwargs)
        optimized.append(DeltaTable.forPath(spark, tmp_table).optimize())
        return found

    monkeypatch.setattr(DeltaTable, "_touched_files", find_then_optimize)
    run = {
        "delete": lambda: dt.delete("id < 5"),
        "update": lambda: dt.update("id < 5", {"id": "id + 100"}),
        "replace_where": lambda: dt.replace_where(spark.range(3), "id < 5"),
    }[mutation]
    with pytest.raises(ConcurrentModificationError):
        run()
    assert optimized == [3]
    assert dt.version() == 3


def test_restore_racing_append_raises(spark, tmp_table, monkeypatch):
    """RESTORE commits its file diff against the snapshot it read: an
    append that lands in between must conflict, never survive a
    "restored" table whose content differs from the target version."""
    import delta_lake_spark.table as T
    from delta_lake_spark import DeltaTable, read_delta, write_delta
    from delta_lake_spark.errors import ConcurrentModificationError

    write_delta(spark.range(3), tmp_table)  # v0
    write_delta(spark.range(3, 6), tmp_table)  # v1
    check = T.check_append_only

    def append_then_check(snap, operation):
        write_delta(spark.range(100, 103), tmp_table)  # v2, after the read
        check(snap, operation)

    monkeypatch.setattr(T, "check_append_only", append_then_check)
    dt = DeltaTable.forPath(spark, tmp_table)
    with pytest.raises(ConcurrentModificationError):
        dt.restore(0)
    assert dt.version() == 2  # nothing committed after the append
    assert read_delta(spark, tmp_table).count() == 9


def _race_after_staging(monkeypatch, competitor):
    """Wrap writer.stage_files so ``competitor`` commits once, right
    after the racing write has staged its files and before it commits
    (the competitor's own writes stage normally)."""
    import delta_lake_spark.writer as W

    stage = W.stage_files
    state = {"raced": False}

    def stage_then_race(*args, **kwargs):
        adds = stage(*args, **kwargs)
        if not state["raced"]:
            state["raced"] = True
            competitor()
        return adds

    monkeypatch.setattr(W, "stage_files", stage_then_race)
    return state


def test_append_racing_add_constraint_raises(spark, tmp_table, monkeypatch):
    """An append validated against a snapshot without a constraint must
    not commit after a concurrent ADD CONSTRAINT its rows break."""
    from delta_lake_spark import DeltaTable, read_delta, write_delta
    from delta_lake_spark.errors import ConcurrentModificationError

    write_delta(spark.range(10), tmp_table)  # v0
    dt = DeltaTable.forPath(spark, tmp_table)
    state = _race_after_staging(
        monkeypatch, lambda: dt.add_constraint("small", "id < 10")
    )
    with pytest.raises(ConcurrentModificationError):
        write_delta(spark.range(10, 20), tmp_table)
    assert state["raced"]
    assert dt.version() == 1  # only the constraint committed
    assert read_delta(spark, tmp_table).filter("id >= 10").count() == 0


def test_overwrite_racing_append_raises(spark, tmp_table, monkeypatch):
    """An overwrite replaces the files it read: a concurrent append must
    conflict, never survive next to the overwrite's rows."""
    from delta_lake_spark import read_delta, write_delta
    from delta_lake_spark.errors import ConcurrentModificationError
    from delta_lake_spark.log import DeltaLog

    write_delta(spark.range(3), tmp_table)  # v0
    _race_after_staging(
        monkeypatch, lambda: write_delta(spark.range(10, 13), tmp_table)
    )
    with pytest.raises(ConcurrentModificationError):
        write_delta(spark.range(100, 105), tmp_table, mode="overwrite")
    assert DeltaLog(tmp_table).latest_version() == 1
    got = sorted(r.id for r in read_delta(spark, tmp_table).collect())
    assert got == [0, 1, 2, 10, 11, 12]  # v0 plus the append


def test_write_read_version_is_validated_snapshot(spark, tmp_table, monkeypatch):
    """A write that rebases over a concurrent append records, as its
    readVersion, the version it validated against — not the version it
    happened to land after."""
    from delta_lake_spark import read_delta, write_delta
    from delta_lake_spark.log import DeltaLog

    write_delta(spark.range(3), tmp_table)  # v0
    _race_after_staging(
        monkeypatch, lambda: write_delta(spark.range(10, 13), tmp_table)
    )
    assert write_delta(spark.range(20, 23), tmp_table) == 2
    history = {h["version"]: h for h in DeltaLog(tmp_table).history()}
    assert history[1]["readVersion"] == 0  # the competitor
    assert history[2]["readVersion"] == 0
    assert read_delta(spark, tmp_table).count() == 9


def test_same_epoch_writers_race_loser_raises(spark, tmp_table, monkeypatch):
    """Two writers of one streaming epoch (a zombie query and its
    restart) both pass the replay check, then race: the winner records
    the epoch in the table's txn state, so the loser's rebase raises
    instead of appending the epoch twice. A writer that reads the
    winner's snapshot raises before it commits."""
    from delta_lake_spark import read_delta, write_delta
    from delta_lake_spark.errors import ConcurrentModificationError
    from delta_lake_spark.log import DeltaLog

    epoch = {"txnAppId": "sink", "txnVersion": 5}
    write_delta(spark.range(3), tmp_table)  # v0
    state = _race_after_staging(
        monkeypatch,
        lambda: write_delta(
            spark.range(10, 13), tmp_table, operation_parameters=epoch
        ),
    )
    with pytest.raises(ConcurrentModificationError):
        write_delta(spark.range(10, 13), tmp_table, operation_parameters=epoch)
    assert state["raced"]
    assert DeltaLog(tmp_table).latest_version() == 1  # only the winner
    assert DeltaLog(tmp_table).snapshot().txns == {"sink": 5}
    with pytest.raises(ConcurrentModificationError):
        write_delta(spark.range(10, 13), tmp_table, operation_parameters=epoch)
    assert read_delta(spark, tmp_table).count() == 6


def test_identity_appends_race_loser_raises(spark, tmp_table, monkeypatch):
    """Two identity appends staged against the same high-water mark hold
    the same id range: the loser raises (the winner's new mark changed
    the metadata), and every committed identity value stays unique."""
    from delta_lake_spark import read_delta, write_delta
    from delta_lake_spark.errors import ConcurrentModificationError
    from delta_lake_spark.log import DeltaLog

    write_delta(
        spark.range(5).selectExpr("id AS v"),
        tmp_table,
        identity={"row_id": {"start": 1, "step": 1}},
    )  # v0
    _race_after_staging(
        monkeypatch,
        lambda: write_delta(spark.range(5, 10).selectExpr("id AS v"), tmp_table),
    )
    with pytest.raises(ConcurrentModificationError):
        write_delta(spark.range(10, 15).selectExpr("id AS v"), tmp_table)
    assert DeltaLog(tmp_table).latest_version() == 1
    rows = read_delta(spark, tmp_table).collect()
    assert sorted(r.v for r in rows) == list(range(10))
    ids = [r.row_id for r in rows]
    assert len(set(ids)) == len(ids) == 10


def test_analyze_racing_append_raises(spark, tmp_table, monkeypatch):
    """ANALYZE scans one snapshot and commits against it: an append that
    lands between the stats scan and the commit makes it raise instead
    of recording a rowCount that leaves the append out."""
    from delta_lake_spark import DeltaTable, write_delta
    from delta_lake_spark.errors import ConcurrentModificationError

    write_delta(spark.range(10), tmp_table)  # v0
    dt = DeltaTable.forPath(spark, tmp_table)
    frame = type(spark.range(1))  # the session's concrete DataFrame class
    collect = frame.collect
    state = {"raced": False}

    def collect_then_append(self):
        rows = collect(self)
        if not state["raced"] and "__rows" in self.columns:  # the stats scan
            state["raced"] = True
            write_delta(spark.range(10, 13), tmp_table)  # v1
        return rows

    monkeypatch.setattr(frame, "collect", collect_then_append)
    with pytest.raises(ConcurrentModificationError):
        dt.analyze()
    monkeypatch.undo()
    assert state["raced"]
    assert dt.version() == 1
    assert "dls.tableStats" not in dt._log.snapshot().metadata.configuration


def test_commit_store_seam_is_pluggable(spark, tmp_path):
    """The log's only storage primitive is put_if_absent: a store that
    vetoes a version makes commit raise ConcurrentModificationError; a
    recording store sees exactly one call per commit."""
    from delta_lake_spark.errors import ConcurrentModificationError
    from delta_lake_spark.log import CommitInfo, CommitStore, DeltaLog

    calls = []

    class Recording(CommitStore):
        def put_if_absent(self, target, payload):
            calls.append(target)
            return super().put_if_absent(target, payload)

    class Vetoing(CommitStore):
        def put_if_absent(self, target, payload):
            return False

    path = str(tmp_path / "cs")
    log = DeltaLog(path, commit_store=Recording())
    log.commit(0, [CommitInfo(operation="CREATE").to_action()])
    log.commit(1, [CommitInfo(operation="WRITE").to_action()])
    assert len(calls) == 2 and calls[0].endswith("00000000000000000000.json")

    vet = DeltaLog(path, commit_store=Vetoing())
    import pytest

    with pytest.raises(ConcurrentModificationError):
        vet.commit(2, [CommitInfo(operation="WRITE").to_action()])
    # the real log is untouched by the vetoed attempt
    assert DeltaLog(path).latest_version() == 1


# ---------------------------------------------------------------------------
# Session-state registry concurrency + cache-retention contracts
# (operators/_cache.py, used by the funnel in queries/llm.py). These pin
# the two round-8 review findings: (1) a repeat q147 invocation must NOT
# lose its fresh report caches to the release of the previous
# invocation's plan-identical frames (uncacheQuery matches by plan
# equality), and (2) two concurrent FIRST invocations of the shared
# funnel chain must build it exactly once — the loser of the old
# unguarded race leaked its persisted frames until session end.
# ---------------------------------------------------------------------------

from tests.conftest import SF_DIR


def test_q147_repeat_invocation_keeps_fresh_caches(spark):
    """Invoke q147 twice in one session: the second run must return
    identical rows AND its per-query report frames must still be
    cached afterwards (storageLevel reflects the live CacheManager
    state — if the registry unpersisted the first run's frames, which
    share the new frames' plans, these would read NONE and the report
    would recompute uncached)."""
    from delta_lake_spark.operators._cache import (
        _REGISTRY,
        clear_session_caches,
    )
    from delta_lake_spark.queries.llm import q147_pretrain_funnel_full

    clear_session_caches(spark)
    try:
        first = q147_pretrain_funnel_full(spark, SF_DIR).collect()
        second_df = q147_pretrain_funnel_full(spark, SF_DIR)
        second = second_df.collect()
        assert sorted(map(tuple, first)) == sorted(map(tuple, second))
        frames = _REGISTRY[id(spark)]["groups"]["q147"]
        assert len(frames) == 2, "the group must hold one invocation's pair"
        for f in frames:
            lvl = f.storageLevel
            assert lvl.useMemory or lvl.useDisk, (
                "a fresh frame lost its cache to the previous "
                f"invocation's unpersist: {lvl}"
            )
    finally:
        clear_session_caches(spark)


def test_funnel_concurrent_first_invocations_build_once(spark):
    """Two threads race the FIRST _funnel_core invocation: the session
    memo's per-key claim must run exactly one build, hand both callers
    the same memoized result tuple, and leave no orphaned persisted
    frames behind (the persistent-RDD census returns to its pre-test
    size once the memo is cleared)."""
    import threading

    from delta_lake_spark.operators._cache import clear_session_caches
    from delta_lake_spark.queries import llm

    clear_session_caches(spark)
    persistent_before = len(spark.sparkContext._jsc.getPersistentRDDs())
    builds = []
    orig = llm._funnel_build

    def counting_build(spark_, sf_dir, near_dup):
        builds.append(near_dup)
        return orig(spark_, sf_dir, near_dup)

    llm._funnel_build = counting_build
    results = [None, None]
    errors = []

    def run(i):
        try:
            results[i] = llm._funnel_core(spark, SF_DIR)
        except BaseException as e:  # pragma: no cover - surfaced below
            errors.append(e)

    try:
        threads = [
            threading.Thread(target=run, args=(i,)) for i in range(2)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errors, errors
        assert len(builds) == 1, f"chain built {len(builds)} times"
        assert results[0] is results[1], "callers got different chains"
    finally:
        llm._funnel_build = orig
        clear_session_caches(spark)
    persistent_after = len(spark.sparkContext._jsc.getPersistentRDDs())
    assert persistent_after == persistent_before, (
        f"leaked persisted frames: {persistent_before} -> "
        f"{persistent_after}"
    )


def test_memo_claims_one_build_and_retries_after_failure():
    """get_or_build, the claim code behind the session memo and the
    fixture memo: a second caller of a key that is being built waits
    for that ONE build and gets its value; a build that raises
    re-raises in the caller waiting on it, and the next call builds
    again instead of serving the failure."""
    import sys
    import threading

    from delta_lake_spark.operators._cache import get_or_build

    table: dict = {}
    lock = threading.Lock()
    builds = []

    def race(key, result):
        """Run two callers of ``key`` with the second one provably
        waiting on the first one's build; return what each got."""
        started, release, waiting = (threading.Event() for _ in range(3))

        def build():
            builds.append(key)
            started.set()
            release.wait(10)
            if isinstance(result, BaseException):
                raise result
            return result

        class SignalingEvent(threading.Event):
            def wait(self, timeout=None):
                waiting.set()
                return super().wait(timeout)

        got = [None, None]

        def call(i):
            try:
                got[i] = get_or_build(table, lock, key, build)
            except RuntimeError as e:
                got[i] = e

        owner = threading.Thread(target=call, args=(0,))
        owner.start()
        assert started.wait(10)
        table[key]["event"] = SignalingEvent()
        waiter = threading.Thread(target=call, args=(1,))
        waiter.start()
        assert waiting.wait(10), "the second caller did not wait"
        release.set()
        owner.join(10)
        waiter.join(10)
        assert not owner.is_alive() and not waiter.is_alive()
        return got

    assert race("k", "value") == ["value", "value"]
    assert builds == ["k"], f"one key built {len(builds)} times"

    failure = RuntimeError("build failed")
    assert race("bad", failure) == [failure, failure]
    assert builds == ["k", "bad"]
    assert "bad" not in table, "a failed build must release its claim"
    assert get_or_build(table, lock, "bad", lambda: "retried") == "retried"

    # stress: many more callers than cores over a few keys, with a short
    # switch interval; every key is built exactly once
    stress: dict = {}
    built, served = [], []

    def counted(key):
        built.append(key)
        return key

    def hammer(i):
        key = i % 4
        value = get_or_build(stress, lock, key, lambda: counted(key))
        served.append((key, value))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        callers = [
            threading.Thread(target=hammer, args=(i,)) for i in range(32)
        ]
        for t in callers:
            t.start()
        for t in callers:
            t.join(10)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in callers)
    assert sorted(built) == [0, 1, 2, 3]
    assert sorted(served) == sorted((i % 4, i % 4) for i in range(32))
