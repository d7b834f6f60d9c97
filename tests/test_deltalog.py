"""Pure-Python unit tests for the transaction log (no Spark needed)."""

import json
import os

import pytest

from delta_lake_spark.errors import (
    ConcurrentModificationError,
    TableNotFoundError,
    VersionNotFoundError,
)
from delta_lake_spark.log import AddFile, CommitInfo, DeltaLog, Metadata, RemoveFile

SCHEMA = json.dumps(
    {
        "type": "struct",
        "fields": [
            {"name": "id", "type": "long", "nullable": True, "metadata": {}},
        ],
    }
)


def _commit_v0(log: DeltaLog, files=("a.parquet", "b.parquet")):
    actions = [
        CommitInfo(operation="WRITE").to_action(),
        Metadata(schemaString=SCHEMA).to_action(),
    ]
    actions += [AddFile(path=p, numRecords=10, size=100).to_action() for p in files]
    return log.commit(0, actions)


def test_commit_and_snapshot(tmp_path):
    log = DeltaLog(str(tmp_path / "t"))
    assert not log.exists()
    v = _commit_v0(log)
    assert v == 0
    snap = log.snapshot()
    assert snap.version == 0
    assert set(snap.files) == {"a.parquet", "b.parquet"}
    assert snap.num_records == 20


def test_version_monotonicity_and_replay(tmp_path):
    log = DeltaLog(str(tmp_path / "t"))
    _commit_v0(log)
    v1 = log.commit(
        1,
        [
            CommitInfo(operation="DELETE").to_action(),
            RemoveFile(path="a.parquet").to_action(),
            AddFile(path="c.parquet", numRecords=5, size=50).to_action(),
        ]
    )
    assert v1 == 1
    assert set(log.snapshot().files) == {"b.parquet", "c.parquet"}
    # time travel to v0 still sees the original file set
    assert set(log.snapshot(0).files) == {"a.parquet", "b.parquet"}


def test_concurrent_commit_conflict(tmp_path):
    log = DeltaLog(str(tmp_path / "t"))
    _commit_v0(log)
    log2 = DeltaLog(str(tmp_path / "t"))  # second writer, stale view
    actions = [CommitInfo(operation="WRITE").to_action()]
    log.commit(1, actions)
    with pytest.raises(ConcurrentModificationError):
        log2.commit(1, actions)
    # re-resolving the version from the log lands the next one
    assert log2.commit(log2.latest_version() + 1, actions) == 2


def test_missing_version_raises(tmp_path):
    log = DeltaLog(str(tmp_path / "t"))
    _commit_v0(log)
    with pytest.raises(VersionNotFoundError):
        log.snapshot(7)


def test_not_a_table(tmp_path):
    log = DeltaLog(str(tmp_path / "nope"))
    with pytest.raises(TableNotFoundError):
        log.latest_version()


def test_history_newest_first(tmp_path):
    log = DeltaLog(str(tmp_path / "t"))
    _commit_v0(log)
    log.commit(1, [CommitInfo(operation="DELETE").to_action()])
    hist = log.history()
    assert [h["version"] for h in hist] == [1, 0]
    assert hist[0]["operation"] == "DELETE"
    assert hist[1]["operation"] == "WRITE"


def test_snapshot_cache_incremental(tmp_path):
    log = DeltaLog(str(tmp_path / "t"))
    _commit_v0(log)
    log.snapshot()
    for i in range(5):
        log.commit(
            i + 1,
            [
                CommitInfo(operation="APPEND").to_action(),
                AddFile(path=f"x{i}.parquet", numRecords=1, size=10).to_action(),
            ]
        )
    snap = log.snapshot()
    assert snap.version == 5
    assert len(snap.files) == 7


def test_relocatable_log(tmp_path):
    src = str(tmp_path / "t1")
    log = DeltaLog(src)
    _commit_v0(log)
    dst = str(tmp_path / "t2")
    os.rename(src, dst)
    snap = DeltaLog(dst).snapshot()
    assert set(snap.files) == {"a.parquet", "b.parquet"}


def test_checkpoint_written_at_interval_and_used_cold(tmp_path):
    log = DeltaLog(str(tmp_path / "t"), checkpoint_interval=5)
    _commit_v0(log)
    for i in range(1, 13):
        log.commit(
            i,
            [
                CommitInfo(operation="WRITE").to_action(),
                AddFile(path=f"f{i}.parquet", numRecords=1, size=10).to_action(),
            ]
        )
    # checkpoints exist at 5 and 10; _last_checkpoint points at 10
    assert os.path.exists(log._checkpoint_file(5))
    assert os.path.exists(log._checkpoint_file(10))
    with open(log._last_checkpoint_file()) as fh:
        assert json.load(fh)["version"] == 10

    # cold-cache replay starts from the checkpoint, not version 0
    cold = DeltaLog(str(tmp_path / "t"), checkpoint_interval=5)
    reads = []
    orig = cold._read_actions
    cold._read_actions = lambda v: reads.append(v) or orig(v)
    snap = cold.snapshot()
    assert snap.version == 12
    assert reads == [11, 12]  # only the tail after checkpoint 10
    assert set(snap.files) == {"a.parquet", "b.parquet"} | {
        f"f{i}.parquet" for i in range(1, 13)
    }


def test_checkpoint_respects_removes_and_time_travel(tmp_path):
    log = DeltaLog(str(tmp_path / "t"), checkpoint_interval=2)
    _commit_v0(log)
    log.commit(
        1,
        [
            CommitInfo(operation="DELETE").to_action(),
            RemoveFile(path="a.parquet").to_action(),
        ],
    )
    log.commit(
        2,
        [
            CommitInfo(operation="WRITE").to_action(),
            AddFile(path="c.parquet", numRecords=5, size=50).to_action(),
        ],
    )
    cold = DeltaLog(str(tmp_path / "t"), checkpoint_interval=2)
    assert set(cold.snapshot().files) == {"b.parquet", "c.parquet"}
    # time travel to a version BEFORE the newest checkpoint still works
    cold2 = DeltaLog(str(tmp_path / "t"), checkpoint_interval=2)
    assert set(cold2.snapshot(0).files) == {"a.parquet", "b.parquet"}
    assert set(cold2.snapshot(1).files) == {"b.parquet"}


def test_parquet_checkpoint_roundtrip_and_legacy_json(spark, tmp_table):
    """Checkpoints are parquet (typed add columns; metaData/protocol in
    the footer metadata); cold replay from one must reproduce the exact
    snapshot; legacy .checkpoint.json files stay readable."""
    import json as _json
    import os

    from delta_lake_spark import read_delta, write_delta
    from delta_lake_spark.log import DeltaLog

    for i in range(4):
        write_delta(
            spark.range(i * 10, i * 10 + 10).selectExpr("id"),
            tmp_table,
            operation_parameters={"txnAppId": f"app{i % 2}", "txnVersion": i},
        )
    log = DeltaLog(tmp_table)
    v = log.write_checkpoint()
    assert os.path.exists(
        os.path.join(tmp_table, "_delta_log", f"{v:020d}.checkpoint.parquet")
    )
    # cold log handle resolves through the parquet checkpoint
    cold = DeltaLog(tmp_table)
    snap = cold.snapshot()
    assert snap.version == v
    assert read_delta(spark, tmp_table).count() == 40
    warm_files = {p: a.to_action() for p, a in log.snapshot().files.items()}
    cold_files = {p: a.to_action() for p, a in snap.files.items()}
    assert warm_files == cold_files
    assert log.snapshot().txns == snap.txns == {"app0": 2, "app1": 3}

    # legacy JSON checkpoint (as written by round-1 tables) still reads
    legacy = os.path.join(
        tmp_table, "_delta_log", f"{v:020d}.checkpoint.json"
    )
    with open(legacy, "w", encoding="utf-8") as fh:
        fh.write(_json.dumps(snap.protocol.to_action()) + "\n")
        fh.write(_json.dumps(snap.metadata.to_action()) + "\n")
        for a in snap.files.values():
            fh.write(_json.dumps(a.to_action()) + "\n")
        for app_id, txn_version in snap.txns.items():
            fh.write(
                _json.dumps({"txn": {"appId": app_id, "version": txn_version}})
                + "\n"
            )
    os.remove(
        os.path.join(tmp_table, "_delta_log", f"{v:020d}.checkpoint.parquet")
    )
    legacy_cold = DeltaLog(tmp_table)
    assert {
        p: a.to_action() for p, a in legacy_cold.snapshot().files.items()
    } == warm_files
    assert legacy_cold.snapshot().txns == {"app0": 2, "app1": 3}


def test_cleanup_expired_logs(spark, tmp_table):
    """Commits older than the newest checkpoint and past retention are
    deleted; replay from the checkpoint still works; time travel to
    cleaned versions raises."""
    import os

    import pytest as _pytest

    from delta_lake_spark import read_delta, write_delta
    from delta_lake_spark.errors import VersionNotFoundError
    from delta_lake_spark.log import DeltaLog

    for i in range(5):
        write_delta(spark.range(i * 10, i * 10 + 10), tmp_table)
    log = DeltaLog(tmp_table)
    ckpt_v = log.write_checkpoint()  # checkpoint at v4
    write_delta(spark.range(100, 110), tmp_table)  # v5 tail commit

    # age the old commit files past retention
    for v in range(ckpt_v):
        p = os.path.join(tmp_table, "_delta_log", f"{v:020d}.json")
        os.utime(p, (1, 1))
    deleted = DeltaLog(tmp_table).cleanup_expired_logs(retention_millis=60_000)
    assert len(deleted) == ckpt_v  # v0..v3 gone, v4 + v5 kept

    cold = DeltaLog(tmp_table)
    assert cold.snapshot().version == 5
    assert read_delta(spark, tmp_table).count() == 60
    with _pytest.raises(VersionNotFoundError):
        cold.snapshot(1)  # cleaned version no longer replayable


def test_in_commit_timestamps_monotonic_and_protocol(spark, tmp_path):
    """inCommitTimestamp feature: enabling the property upgrades the
    protocol, stamps every later commit with a strictly-monotonic
    timestamp inside commitInfo (even when the wall clock steps
    backwards), records enablement provenance, and drives history +
    TIMESTAMP AS OF resolution."""
    from delta_lake_spark import log as dlog
    from delta_lake_spark.log import DeltaLog
    from delta_lake_spark.table import DeltaTable
    from delta_lake_spark.writer import write_delta

    path = str(tmp_path / "ict")
    df = spark.range(5).withColumnRenamed("id", "k")
    write_delta(df, path)
    dt = DeltaTable.forPath(spark, path)
    v_enable = dt.set_properties({"delta.enableInCommitTimestamps": "true"})

    log = DeltaLog(path)
    snap = log.snapshot()
    assert "inCommitTimestamp" in snap.protocol.writerFeatures
    conf = snap.metadata.configuration
    assert conf["delta.inCommitTimestampEnablementVersion"] == str(v_enable)
    enable_ict = log.commit_timestamp(v_enable)
    assert conf["delta.inCommitTimestampEnablementTimestamp"] == str(enable_ict)

    # wall clock stepping BACKWARDS must not break monotonicity
    real = dlog._utc_millis
    try:
        dlog._utc_millis = lambda: real() - 60_000
        v2 = write_delta(df, path)
    finally:
        dlog._utc_millis = real
    v3 = write_delta(df, path)
    t1, t2, t3 = (log.commit_timestamp(v) for v in (v_enable, v2, v3))
    assert t1 < t2 < t3
    assert t2 == t1 + 1  # clamped to prev+1, not the (earlier) clock

    # history surfaces the ICT, not the raw wall clock
    hist = {h["version"]: h["timestamp"] for h in log.history()}
    assert hist[v2] == t2

    # TIMESTAMP AS OF resolves against ICT boundaries exactly
    assert log.version_at_timestamp(t2) == v2
    assert log.version_at_timestamp(t3 - 1) == v2
    assert log.version_at_timestamp(t3) == v3


def test_ict_monotonic_across_expired_commit_jsons(spark, tmp_path):
    """ICT monotonicity must survive log retention: when the previous
    commit's JSON has expired behind a checkpoint, the new ICT clamps
    against the latestIct persisted in _last_checkpoint instead of
    regressing to the (possibly earlier) wall clock."""
    import os

    from delta_lake_spark import log as dlog
    from delta_lake_spark.log import DeltaLog
    from delta_lake_spark.writer import write_delta

    path = str(tmp_path / "ictexp")
    df = spark.range(3).withColumnRenamed("id", "k")
    write_delta(
        df, path, properties={"delta.enableInCommitTimestamps": "true"}
    )
    v1 = write_delta(df, path)
    log = DeltaLog(path)
    log.write_checkpoint(v1)
    t1 = log.commit_timestamp(v1)
    with open(log._last_checkpoint_file()) as fh:
        assert json.load(fh)["latestIct"] == t1

    # simulate retention expiry of every commit JSON behind the checkpoint
    for v in range(v1 + 1):
        os.remove(log._version_file(v))
    real = dlog._utc_millis
    try:
        dlog._utc_millis = lambda: real() - 3_600_000  # clock 1h behind
        v2 = write_delta(df, path)
    finally:
        dlog._utc_millis = real
    fresh = DeltaLog(path)
    t2 = fresh.commit_timestamp(v2)
    assert t2 == t1 + 1  # clamped against the checkpointed ICT


def test_in_commit_timestamps_at_creation(spark, tmp_path):
    """A table created with the property on carries the writer feature
    from version 0 and stamps the creation commit."""
    from delta_lake_spark.log import DeltaLog
    from delta_lake_spark.writer import write_delta

    path = str(tmp_path / "ict0")
    df = spark.range(3).withColumnRenamed("id", "k")
    write_delta(
        df, path, properties={"delta.enableInCommitTimestamps": "true"}
    )
    log = DeltaLog(path)
    assert "inCommitTimestamp" in log.snapshot().protocol.writerFeatures
    assert log.commit_timestamp(0) is not None
    acts = list(log._read_actions(0))
    assert "commitInfo" in acts[0]  # spec position: commitInfo first
    assert "inCommitTimestamp" in acts[0]["commitInfo"]


def test_multipart_checkpoint_roundtrip(spark, tmp_path):
    """A multi-part checkpoint replays to the same snapshot as the
    single-file form; a torn part set falls back to log replay."""
    import glob
    import os

    from delta_lake_spark.log import DeltaLog
    from delta_lake_spark.writer import write_delta

    path = str(tmp_path / "mp")
    for i in range(4):
        write_delta(
            spark.range(i * 10, i * 10 + 10).withColumnRenamed("id", "k"),
            path,
            operation_parameters={"txnAppId": "sink", "txnVersion": i},
        )
    log = DeltaLog(path)
    expected_files = set(log.snapshot().files)
    v = log.write_checkpoint(parts=3)
    parts = glob.glob(
        os.path.join(path, "_delta_log", f"{v:020d}.checkpoint.*.*.parquet")
    )
    assert len(parts) == 3

    fresh = DeltaLog(path)
    snap = fresh.snapshot()
    assert set(snap.files) == expected_files
    assert snap.metadata is not None
    assert snap.txns == {"sink": 3}
    from delta_lake_spark import read_delta

    assert read_delta(spark, path).count() == 40

    # torn set: delete one part -> checkpoint invisible, replay still works
    os.remove(parts[0])
    torn = DeltaLog(path)
    assert torn._checkpoint_part_files(v) == []
    assert torn._nearest_checkpoint(v) is None
    assert set(torn.snapshot().files) == expected_files  # replayed
    assert torn.snapshot().txns == {"sink": 3}


def test_multipart_checkpoint_rejects_mixed_generations(spark, tmp_path):
    """Leftover parts from a DIFFERENT-part-count checkpoint generation
    at the same version must never be stitched into a valid set (e.g.
    part 1-of-2 plus part 3-of-3 has len==declared but silently drops
    adds). Mixed sets read as no-checkpoint; a complete set matching the
    _last_checkpoint 'parts' field still resolves."""
    import glob
    import os
    import shutil

    from delta_lake_spark.log import DeltaLog
    from delta_lake_spark.writer import write_delta

    path = str(tmp_path / "mixed")
    for i in range(4):
        write_delta(
            spark.range(i * 10, i * 10 + 10).withColumnRenamed("id", "k"),
            path,
        )
    log = DeltaLog(path)
    expected_files = set(log.snapshot().files)
    v = log.write_checkpoint(parts=3)
    parts3 = sorted(
        glob.glob(
            os.path.join(path, "_delta_log", f"{v:020d}.checkpoint.*.*.parquet")
        )
    )
    assert len(parts3) == 3
    ldir = os.path.join(path, "_delta_log")

    # 1) adversarial: part 1-of-2 + part 3-of-3 (len==2 tricked the old
    #    len(found)==declared check) -> must read as no checkpoint
    stash = str(tmp_path / "stash")
    os.makedirs(stash)
    for p in parts3:
        shutil.copy(p, stash)
    os.remove(parts3[0])
    os.remove(parts3[1])
    fake = os.path.join(ldir, f"{v:020d}.checkpoint.0000000001.0000000002.parquet")
    shutil.copy(parts3[2], fake)
    os.remove(os.path.join(ldir, "_last_checkpoint"))
    torn = DeltaLog(path)
    assert torn._checkpoint_part_files(v) == []
    assert set(torn.snapshot().files) == expected_files  # replayed, not dropped

    # 2) complete 3-part set + stray 1-of-2 leftover, pointer says 3 parts
    for p in parts3:
        shutil.copy(os.path.join(stash, os.path.basename(p)), p)
    with open(os.path.join(ldir, "_last_checkpoint"), "w") as fh:
        json.dump({"version": v, "parts": 3}, fh)
    ok = DeltaLog(path)
    assert len(ok._checkpoint_part_files(v)) == 3
    assert set(ok.snapshot().files) == expected_files

    # 3) two COMPLETE generations, no pointer to arbitrate -> ambiguous,
    #    fall back to replay
    fake2 = os.path.join(ldir, f"{v:020d}.checkpoint.0000000002.0000000002.parquet")
    shutil.copy(parts3[2], fake2)
    os.remove(os.path.join(ldir, "_last_checkpoint"))
    amb = DeltaLog(path)
    assert amb._checkpoint_part_files(v) == []
    assert set(amb.snapshot().files) == expected_files


def test_multipart_checkpoint_auto_split_threshold(spark, tmp_path):
    """Above CKPT_ROWS_PER_PART add entries the writer auto-splits."""
    from delta_lake_spark.log import CommitInfo, DeltaLog, Metadata

    path = str(tmp_path / "mpauto")
    log = DeltaLog(path)
    # synthesize a table with many small adds without writing data
    meta = Metadata(schemaString='{"type":"struct","fields":[]}')
    adds = [
        {"add": {"path": f"data/f{i}.parquet", "size": 1,
                 "modificationTime": 0, "dataChange": True,
                 "partitionValues": {}}}
        for i in range(30)
    ]
    log.commit(
        0, [CommitInfo(operation="CREATE").to_action(), meta.to_action(), *adds]
    )
    log.CKPT_ROWS_PER_PART = 10
    v = log.write_checkpoint()
    import glob
    import os

    parts = glob.glob(
        os.path.join(path, "_delta_log", f"{v:020d}.checkpoint.*.*.parquet")
    )
    assert len(parts) == 3
    assert len(DeltaLog(path).snapshot().files) == 30


def test_checkpoint_bounds_cold_start_under_churn(tmp_path):
    """The checkpoint fast path: after heavy churn (history >> live
    set), a cold snapshot must resolve from checkpoint + tail ONLY —
    no JSON read at or below the checkpoint version — and reproduce
    the exact live file set (see SCALING.md measured table; this
    guards the structure, timing is the microbench's job)."""
    from delta_lake_spark.log import AddFile, CommitInfo, DeltaLog, Metadata, RemoveFile

    path = str(tmp_path / "churn")
    log = DeltaLog(path, checkpoint_interval=0)
    n = 500
    adds = [
        AddFile(path=f"data/f{i:05d}.parquet", size=1, numRecords=1).to_action()
        for i in range(n)
    ]
    log.commit(0, [CommitInfo(operation="WRITE").to_action(),
                   Metadata(schemaString=SCHEMA).to_action()] + adds)
    # churn: rewrite the same 100-file slice 6 times
    for c in range(1, 7):
        acts = [CommitInfo(operation="OPTIMIZE").to_action()]
        old = (
            [f"data/f{i:05d}.parquet" for i in range(100)]
            if c == 1
            else [f"data/rw{c-1}-{i:05d}.parquet" for i in range(100)]
        )
        acts += [RemoveFile(path=p).to_action() for p in old]
        acts += [
            AddFile(path=f"data/rw{c}-{i:05d}.parquet", size=1, numRecords=1).to_action()
            for i in range(100)
        ]
        log.commit(c, acts)
    expected = set(log.snapshot().files)
    ckpt_v = log.write_checkpoint(parts=3)  # multi-part at the head (v6)
    log.commit(7, [CommitInfo(operation="WRITE").to_action(),
                   AddFile(path="data/tail.parquet", size=1, numRecords=1).to_action()])
    expected.add("data/tail.parquet")

    cold = DeltaLog(path, checkpoint_interval=0)
    reads: list[int] = []
    orig = cold._read_actions
    cold._read_actions = lambda v: (reads.append(v), orig(v))[1]
    snap = cold.snapshot()
    assert set(snap.files) == expected
    assert reads == [7]  # only the tail after the multi-part checkpoint
    assert ckpt_v == 6
