"""Row tracking: stable ``_row_id`` / ``_row_commit_version`` metadata
columns backed by per-file baseRowId ranges and the ``delta.rowTracking``
domain-metadata high-water mark (rowtracking.py).

Invariants under test (the Delta rowTracking feature's contract):
  - ids are unique and dense-fresh on append, allocated above the
    high-water mark, which only ever grows (no reuse after delete);
  - every rewrite path (DELETE / UPDATE / MERGE / OPTIMIZE / PURGE /
    replaceWhere) preserves surviving rows' ids via materialized
    columns; DV deletes and RESTORE preserve them for free;
  - UPDATE/MERGE-update keeps the id but moves _row_commit_version to
    the committing version; untouched rows keep both;
  - a lost commit race reassigns id ranges above the winner's mark
    instead of reusing them.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from delta_lake_spark import DeltaTable, read_delta, write_delta
from delta_lake_spark.log import DeltaLog, DomainMetadata
from delta_lake_spark.rowtracking import ROW_TRACKING_DOMAIN, high_water_mark


def _ids(spark, path):
    return {
        r["id"]: (r["_row_id"], r["_row_commit_version"])
        for r in read_delta(spark, path, row_ids=True).collect()
    }


@pytest.fixture()
def rt_table(spark, tmp_path):
    path = os.path.join(str(tmp_path), "rt")
    df = spark.range(0, 100).select(F.col("id"), (F.col("id") * 2).alias("v"))
    write_delta(df, path, properties={"delta.enableRowTracking": "true"})
    return path


def test_append_assigns_unique_ids_and_advances_hwm(spark, rt_table):
    snap = DeltaLog(rt_table).snapshot()
    assert high_water_mark(snap) == 99
    assert snap.protocol.minWriterVersion == 7
    assert {"rowTracking", "domainMetadata"} <= set(snap.protocol.writerFeatures)
    ids = _ids(spark, rt_table)
    got = sorted(v[0] for v in ids.values())
    assert got == list(range(100))
    assert all(v[1] == 0 for v in ids.values())

    write_delta(
        spark.range(100, 150).select(F.col("id"), F.lit(0).alias("v")), rt_table
    )
    snap2 = DeltaLog(rt_table).snapshot()
    assert high_water_mark(snap2) == 149
    ids2 = _ids(spark, rt_table)
    assert sorted(v[0] for v in ids2.values()) == list(range(150))
    assert all(ids2[k] == ids[k] for k in ids)  # old rows untouched


def test_enable_on_existing_table_backfills(spark, tmp_path):
    path = os.path.join(str(tmp_path), "plain")
    write_delta(spark.range(0, 40).select("id"), path)
    # in-commit timestamps turned on in the same commit: one protocol
    # action must carry both features
    DeltaTable(spark, path).set_properties(
        {"delta.enableRowTracking": "true", "delta.enableInCommitTimestamps": "true"}
    )
    snap = DeltaLog(path).snapshot()
    assert {"rowTracking", "domainMetadata", "inCommitTimestamp"} <= set(
        snap.protocol.writerFeatures
    )
    assert all(a.baseRowId is not None for a in snap.files.values())
    assert all(not a.dataChange for a in snap.files.values())  # metadata-only
    ids = _ids(spark, path)
    assert sorted(v[0] for v in ids.values()) == list(range(40))


def test_delete_rewrite_preserves_survivors(spark, rt_table):
    base = _ids(spark, rt_table)
    DeltaTable(spark, rt_table).delete("id >= 80")
    after = _ids(spark, rt_table)
    assert set(after) == set(range(80))
    assert all(after[k] == base[k] for k in after)
    # deleted ids are never reused by the next append
    write_delta(spark.range(200, 210).select("id", F.lit(0).alias("v")), rt_table)
    fresh = {v[0] for k, v in _ids(spark, rt_table).items() if k >= 200}
    dead = {base[k][0] for k in range(80, 100)}
    assert not (fresh & dead)


def test_update_keeps_id_bumps_commit_version(spark, rt_table):
    base = _ids(spark, rt_table)
    v = DeltaTable(spark, rt_table).update("id < 10", {"v": "v + 1000"})
    after = _ids(spark, rt_table)
    assert all(after[k][0] == base[k][0] for k in after)
    assert all(after[k][1] == v for k in range(10))
    assert all(after[k][1] == base[k][1] for k in range(10, 100))


def test_merge_preserves_updates_and_assigns_fresh_inserts(spark, rt_table):
    base = _ids(spark, rt_table)
    dt = DeltaTable(spark, rt_table)
    src = spark.range(95, 110).select(F.col("id"), F.lit(7).alias("v"))
    v = (
        dt.merge(src.alias("s"), "target.id = s.id")
        .when_matched_update_all()
        .when_not_matched_insert_all()
        .execute()
    )
    after = _ids(spark, rt_table)
    assert set(after) == set(range(110))
    for k in range(95, 100):  # updated: same id, new commit version
        assert after[k][0] == base[k][0] and after[k][1] == v
    for k in range(0, 95):  # untouched rows in rewritten files keep both
        assert after[k] == base[k]
    all_ids = [x[0] for x in after.values()]
    assert len(set(all_ids)) == len(all_ids)
    assert all(after[k][0] > 99 for k in range(100, 110))  # fresh range

    # a source that matches no target row: nothing is rewritten, every
    # source row is inserted with a fresh id, existing rows keep theirs
    files = set(dt._log.snapshot().files)
    src = spark.range(200, 205).select(F.col("id"), F.lit(8).alias("v"))
    v2 = (
        dt.merge(src.alias("s"), "target.id = s.id")
        .when_matched_update_all()
        .when_not_matched_insert_all()
        .execute()
    )
    assert files <= set(dt._log.snapshot().files)
    final = _ids(spark, rt_table)
    assert set(final) == set(range(110)) | set(range(200, 205))
    assert all(final[k] == after[k] for k in after)
    fresh = [final[k][0] for k in range(200, 205)]
    assert len(set(fresh)) == 5 and min(fresh) > max(all_ids)
    assert all(final[k][1] == v2 for k in range(200, 205))


def test_optimize_and_purge_and_dv_delete_stable(spark, rt_table):
    dt = DeltaTable(spark, rt_table)
    base = _ids(spark, rt_table)
    dt.optimize(target_file_bytes=1 << 30)
    assert _ids(spark, rt_table) == base
    dt.delete("id = 5", use_dv=True)  # no rewrite: file bytes untouched
    after = _ids(spark, rt_table)
    assert set(after) == set(base) - {5}
    assert all(after[k] == base[k] for k in after)
    dt.purge_deletion_vectors()
    assert _ids(spark, rt_table) == after


def test_restore_restores_ids(spark, rt_table):
    dt = DeltaTable(spark, rt_table)
    base = _ids(spark, rt_table)
    v0 = dt.version()
    dt.delete("id < 50")
    dt.restore(v0)
    assert _ids(spark, rt_table) == base


def test_checkpoint_roundtrips_domains_and_base_row_ids(spark, rt_table):
    log = DeltaLog(rt_table)
    log.write_checkpoint()
    cold = DeltaLog(rt_table)  # fresh snapshot cache -> reads the checkpoint
    snap = cold.snapshot()
    assert high_water_mark(snap) == 99
    assert all(a.baseRowId is not None for a in snap.files.values())
    assert all(a.defaultRowCommitVersion == 0 for a in snap.files.values())


def test_lost_race_reassigns_ranges_not_reuses(spark, rt_table):
    """A mutation that loses its commit race to an append must rebase
    with ids above the WINNER's high-water mark (content-neutral
    OPTIMIZE rebases over appends)."""
    dt = DeltaTable(spark, rt_table)
    log = dt._log
    original = log.commit
    state = {"injected": False}

    def racing_commit(version, actions):
        if not state["injected"]:
            state["injected"] = True
            # competitor append takes ids 100..149 at this version
            write_delta(
                spark.range(300, 350).select("id", F.lit(0).alias("v")),
                rt_table,
            )
        return original(version, actions)

    log.commit = racing_commit
    dt.optimize(target_file_bytes=1 << 30)
    log.commit = original

    snap = DeltaLog(rt_table).snapshot()
    assert high_water_mark(snap) >= 249  # 100 append + 100 reassigned rewrite
    ids = _ids(spark, rt_table)
    got = [v[0] for v in ids.values()]
    assert len(set(got)) == len(got)  # no id landed twice
    assert {v[0] for k, v in ids.items() if k < 100} == set(range(100))


def test_domain_metadata_replay_and_removal(tmp_path, spark):
    path = os.path.join(str(tmp_path), "dm")
    write_delta(spark.range(3).select("id"), path)
    log = DeltaLog(path)
    log.commit(
        1, [DomainMetadata("my.domain", json.dumps({"k": 1})).to_action()]
    )
    assert DeltaLog(path).snapshot().domains["my.domain"] == '{"k": 1}'
    log.commit(2, [DomainMetadata("my.domain", removed=True).to_action()])
    assert "my.domain" not in DeltaLog(path).snapshot().domains


def test_concurrent_domain_write_conflicts(spark, rt_table):
    """A winner that wrote a USER domain this mutation also writes must
    conflict (not silently last-writer-win)."""
    from delta_lake_spark.errors import ConcurrentModificationError

    dt = DeltaTable(spark, rt_table)
    log = dt._log
    snap = log.snapshot()
    actions = [
        DomainMetadata("app.cursor", '{"v":"ours"}').to_action(),
    ]
    original = log.commit
    state = {"injected": False}

    def racing_commit(version, commit_actions):
        if not state["injected"]:
            state["injected"] = True
            DeltaLog(rt_table).commit(
                version,
                [DomainMetadata("app.cursor", '{"v":"winner"}').to_action()],
            )
        return original(version, commit_actions)

    log.commit = racing_commit
    with pytest.raises(ConcurrentModificationError):
        log.commit_from(snap, actions, [], content_neutral=True)
    log.commit = original


def test_plain_table_unaffected(spark, tmp_path):
    """Without the property nothing changes: no domain, no baseRowId,
    no protocol upgrade, reader errors on row_ids request? No — columns
    come back null (feature off = ids undefined, not an error)."""
    path = os.path.join(str(tmp_path), "off")
    write_delta(spark.range(5).select("id"), path)
    snap = DeltaLog(path).snapshot()
    assert snap.domains == {}
    assert all(a.baseRowId is None for a in snap.files.values())
    assert snap.protocol.minWriterVersion == 2
    rows = read_delta(spark, path, row_ids=True).collect()
    assert all(r["_row_id"] is None for r in rows)
