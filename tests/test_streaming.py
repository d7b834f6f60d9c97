"""Structured Streaming increment: availableNow drain with checkpointed
exactly-once across calls, and watermarked windowed aggregation."""

from pyspark.sql import functions as F

from delta_lake_spark.queries.relational import _events
from delta_lake_spark.streaming.incremental import (
    run_windowed_stream,
    stream_table_to_table,
    windowed_event_counts,
)

SF_DIR = "/root/testdata/sf0.001"


def _write_chunk(spark, events, path, lo, hi):
    events.filter((F.col("event_id") >= lo) & (F.col("event_id") < hi)).write.mode(
        "append"
    ).parquet(path)


def test_incremental_stream_exactly_once(spark, tmp_path):
    events = _events(spark, SF_DIR).select(
        "event_id", "user_id", "event_type", "value"
    )
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    ckpt = str(tmp_path / "ckpt")
    schema = "event_id long, user_id long, event_type string, value double"

    _write_chunk(spark, events, src, 0, 400)
    stream_table_to_table(spark, src, dst, ckpt, schema=schema)
    assert spark.read.parquet(dst).count() == 400

    # second drain sees ONLY the new files (checkpointed bookkeeping —
    # no status column, no MERGE-away, unlike the reference's hand-rolled
    # lifecycle)
    _write_chunk(spark, events, src, 400, 650)
    stream_table_to_table(spark, src, dst, ckpt, schema=schema)
    got = spark.read.parquet(dst)
    assert got.count() == 650
    assert got.select("event_id").distinct().count() == 650


def test_windowed_counts_match_batch(spark, tmp_path):
    events = _events(spark, SF_DIR)
    src = str(tmp_path / "wsrc")
    events.write.parquet(src)

    streamed = run_windowed_stream(
        spark,
        src,
        str(tmp_path / "wckpt"),
        schema="event_id long, ts timestamp_ntz, user_id long, event_type string, value double, props string",
        query_name="t_windowed",
    )
    batch = windowed_event_counts(events)
    s = {(r.window_start, r.event_type): r.n for r in streamed.collect()}
    b = {(r.window_start, r.event_type): r.n for r in batch.collect()}
    assert s == b and len(s) > 0


def test_stateful_sessionize_stream_matches_batch(spark, tmp_path):
    """applyInPandasWithState sessionization must emit exactly the batch
    sessions, minus each user's final (still-open) session which stays
    in state at end-of-stream."""
    from delta_lake_spark.streaming.sessionize import (
        sessionize_batch,
        sessionize_stream,
    )

    ev = _events(spark, "/root/testdata/sf0.001")
    src = str(tmp_path / "sess_src")
    ev.write.parquet(src)

    batch = sessionize_batch(ev, gap_minutes=30).toPandas()
    streamed = sessionize_stream(
        spark,
        src,
        str(tmp_path / "sess_ckpt"),
        schema="event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string",
        gap_minutes=30,
        query_name="t_sessions",
    ).toPandas()

    # contract: every streamed session is EXACTLY a batch session; every
    # non-tail batch session is emitted; a tail (per-user last) session is
    # emitted iff its event-time timeout provably fired before the final
    # watermark (session_end + gap <= max event ts).
    import pandas as pd

    key = ["user_id", "session_start"]
    merged = batch.merge(streamed, on=key, suffixes=("_b", "_s"), how="outer", indicator=True)
    assert not (merged["_merge"] == "right_only").any(), "streamed session not in batch"
    both = merged[merged["_merge"] == "both"]
    assert (both["n_events_b"].values == both["n_events_s"].values).all()
    assert (abs(both["total_value_b"].values - both["total_value_s"].values) < 1e-6).all()
    assert (both["session_end_b"].values == both["session_end_s"].values).all()

    tails = set(batch.loc[batch.groupby("user_id")["session_end"].idxmax()].set_index(key).index)
    max_ts = batch["session_end"].max()
    gap = pd.Timedelta(minutes=30)
    missing = merged[merged["_merge"] == "left_only"]
    for row in missing.itertuples():
        k = (row.user_id, row.session_start)
        assert k in tails, f"non-tail batch session missing from stream: {k}"
        assert row.session_end_b + gap >= max_ts, "timed-out tail was not emitted"
    assert len(streamed) > 0 and len(streamed) <= len(batch)


def test_delta_table_as_streaming_source(spark, tmp_path):
    """write_delta appends become streaming micro-batches exactly once."""
    from delta_lake_spark import write_delta
    from delta_lake_spark.streaming.incremental import stream_delta_appends

    table = str(tmp_path / "stream_tbl")
    target = str(tmp_path / "stream_out")
    ckpt = str(tmp_path / "stream_tbl_ckpt")
    write_delta(spark.range(0, 100).selectExpr("id", "id * 2 AS v"), table)

    first = stream_delta_appends(spark, table, target, ckpt)
    assert first.count() == 100

    write_delta(spark.range(100, 150).selectExpr("id", "id * 2 AS v"), table)
    write_delta(spark.range(150, 160).selectExpr("id", "id * 2 AS v"), table)

    second = stream_delta_appends(spark, table, target, ckpt)
    assert second.count() == 160  # accumulated; 60 new rows processed
    assert second.agg({"id": "max"}).first()[0] == 159

    # nothing new -> no duplicates (exactly-once bookkeeping)
    third = stream_delta_appends(spark, table, target, ckpt)
    assert third.count() == 160
    assert third.select("id").distinct().count() == 160


def test_dedup_stream_exactly_once_under_duplication(spark, tmp_path):
    """dropDuplicatesWithinWatermark: a tripled at-least-once feed must
    come out exactly once per key; state is watermark-bounded."""
    from delta_lake_spark.streaming.incremental import run_dedup_stream

    events = _events(spark, SF_DIR)
    src = str(tmp_path / "dup_src")
    tripled = events.unionByName(events).unionByName(events)
    tripled.write.parquet(src)
    out = run_dedup_stream(
        spark,
        src,
        str(tmp_path / "dup_ckpt"),
        schema="event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string",
        key_cols=["event_id"],
        query_name="t_dedup_stream",
    )
    n_src = events.count()
    assert out.count() == n_src
    assert out.select("event_id").distinct().count() == n_src


def test_stream_into_delta_exactly_once(spark, tmp_path):
    """Delta as streaming sink: incremental drains append once each;
    replaying epochs after checkpoint loss must NOT duplicate rows
    (txnAppId/txnVersion bookkeeping in the commit log)."""
    import shutil

    from delta_lake_spark import read_delta
    from delta_lake_spark.streaming.incremental import stream_into_delta

    events = _events(spark, SF_DIR).select(
        "event_id", "user_id", "event_type", "value"
    )
    src = str(tmp_path / "sink_src")
    tbl = str(tmp_path / "sink_tbl")
    ckpt = str(tmp_path / "sink_ckpt")
    schema = "event_id long, user_id long, event_type string, value double"

    _write_chunk(spark, events, src, 0, 300)
    stream_into_delta(spark, src, tbl, ckpt, schema)
    n1 = read_delta(spark, tbl).count()
    assert n1 == events.filter("event_id < 300").count()

    # second drain: only the new chunk lands
    _write_chunk(spark, events, src, 300, 500)
    stream_into_delta(spark, src, tbl, ckpt, schema)
    n2 = read_delta(spark, tbl).count()
    assert n2 == events.filter("event_id < 500").count()

    # checkpoint loss -> epochs replay from 0; committed epochs skip
    shutil.rmtree(ckpt)
    stream_into_delta(spark, src, tbl, ckpt, schema)
    assert read_delta(spark, tbl).count() == n2


def test_stream_into_delta_replay_after_log_cleanup_skips(spark, tmp_path):
    """Committed epochs are table state, not history: once a checkpoint
    and log cleanup drop the commit JSONs, a replayed epoch still finds
    its epoch recorded and skips, with no new rows and no new version."""
    import shutil

    from delta_lake_spark import read_delta
    from delta_lake_spark.log import DeltaLog
    from delta_lake_spark.streaming.incremental import stream_into_delta

    events = _events(spark, SF_DIR).select(
        "event_id", "user_id", "event_type", "value"
    )
    src = str(tmp_path / "src")
    tbl = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    schema = "event_id long, user_id long, event_type string, value double"

    _write_chunk(spark, events, src, 0, 300)
    stream_into_delta(spark, src, tbl, ckpt, schema)  # epoch 0 -> v0
    _write_chunk(spark, events, src, 300, 500)
    stream_into_delta(spark, src, tbl, ckpt, schema)  # epoch 1 -> v1
    log = DeltaLog(tbl)
    log.write_checkpoint()
    log.cleanup_expired_logs(0)
    assert [h["version"] for h in log.history()] == [1]  # epoch 0's JSON gone
    n, version = read_delta(spark, tbl).count(), log.latest_version()

    shutil.rmtree(ckpt)  # restart from scratch: epoch 0 replays
    stream_into_delta(spark, src, tbl, ckpt, schema)
    assert read_delta(spark, tbl).count() == n
    assert DeltaLog(tbl).latest_version() == version
    assert DeltaLog(tbl).snapshot().txns == {"dls_stream": 1}


def test_stream_drain_timeout_stops_query(spark, tmp_path):
    """A drain that outlives its timeout stops its query and raises,
    rather than returning while the query still writes the table."""
    import pytest

    from delta_lake_spark.streaming.incremental import stream_into_delta

    events = _events(spark, SF_DIR).select(
        "event_id", "user_id", "event_type", "value"
    )
    src = str(tmp_path / "src")
    for lo in range(0, 500, 100):
        _write_chunk(spark, events, src, lo, lo + 100)
    schema = "event_id long, user_id long, event_type string, value double"
    with pytest.raises(TimeoutError):
        stream_into_delta(
            spark,
            src,
            str(tmp_path / "tbl"),
            str(tmp_path / "ckpt"),
            schema,
            timeout_sec=0.001,
        )
    assert spark.streams.active == []


def test_cdf_streaming_source_exactly_once(spark, tmp_path):
    """Incremental CDF drain: each call processes only new commits; the
    accumulated feed equals a full table_changes read; a drain with no
    new commits adds nothing."""
    from delta_lake_spark.cdf import table_changes
    from delta_lake_spark.streaming.incremental import stream_table_changes
    from delta_lake_spark.table import DeltaTable
    from delta_lake_spark.writer import write_delta

    p = str(tmp_path / "t")
    out = str(tmp_path / "feed")
    write_delta(
        spark.createDataFrame([(i, i * 10.0) for i in range(6)], "id long, v double"),
        p,
    )
    t = DeltaTable.forPath(spark, p)
    t.delete("id >= 4")  # v1: deletes

    feed1 = stream_table_changes(spark, p, out)
    assert feed1.filter("_change_type = 'delete'").count() == 2
    n1 = feed1.count()

    # no new commits: drain is a no-op
    feed1b = stream_table_changes(spark, p, out)
    assert feed1b.count() == n1

    # new commits: only their changes are appended
    write_delta(spark.createDataFrame([(100, 1.0)], "id long, v double"), p)
    t.update("id = 0", {"v": "999.0"})
    feed2 = stream_table_changes(spark, p, out)
    full = table_changes(spark, p, 1)
    cols = sorted(feed2.columns)
    a = sorted(map(tuple, feed2.select(*cols).collect()))
    b = sorted(map(tuple, full.select(*cols).collect()))
    assert a == b
    # update appears as delete(old)+insert(new) in the incremental feed
    upd = feed2.filter("_commit_version = 3").collect()
    kinds = sorted(r._change_type for r in upd)
    assert kinds == ["delete", "insert"]

    # layout-only commit advances the resume point without rows
    t.optimize()
    feed3 = stream_table_changes(spark, p, out)
    assert feed3.count() == feed2.count()


def test_stream_stream_join_equals_batch(spark, tmp_path):
    """The interval join must produce identical rows under a genuine
    two-source stream-stream plan and under plain batch execution."""
    from delta_lake_spark.queries.relational import _events
    from delta_lake_spark.streaming.incremental import (
        interval_join_events,
        run_stream_stream_join,
    )

    ev = _events(spark, "/root/testdata/sf0.001")
    src = str(tmp_path / "src")
    ev.write.parquet(src)

    streamed = run_stream_stream_join(
        spark,
        src,
        str(tmp_path / "ckpt"),
        schema="event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string",
        query_name="t_ssj",
        within_minutes=120,
    )
    batch = interval_join_events(
        ev.filter("event_type = 'view'"),
        ev.filter("event_type = 'purchase'"),
        within_minutes=120,
    )
    a = sorted(map(tuple, streamed.collect()))
    b = sorted(map(tuple, batch.collect()))
    assert a == b and len(a) > 0


def test_stream_merge_upsert_exactly_once(spark, tmp_path):
    """CDC-style streaming MERGE sink: per-batch upsert keyed on id,
    last-row-per-key within a batch, exactly-once across drains."""
    from delta_lake_spark.reader import read_delta
    from delta_lake_spark.streaming.incremental import stream_merge_into_delta

    src = str(tmp_path / "src")
    tbl = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    schema = "id long, ts long, v string"

    spark.createDataFrame(
        [(1, 10, "a"), (2, 10, "b"), (2, 20, "b2")], schema
    ).write.parquet(src)
    stream_merge_into_delta(spark, src, tbl, ckpt, schema, key_col="id")
    got = {r.id: (r.ts, r.v) for r in read_delta(spark, tbl).collect()}
    assert got == {1: (10, "a"), 2: (20, "b2")}  # last per key wins

    # second drain with no new files: no-op, no duplicates
    stream_merge_into_delta(spark, src, tbl, ckpt, schema, key_col="id")
    assert read_delta(spark, tbl).count() == 2

    # CDC updates + inserts in a later batch
    spark.createDataFrame(
        [(1, 30, "a3"), (3, 30, "c")], schema
    ).write.mode("append").parquet(src)
    stream_merge_into_delta(spark, src, tbl, ckpt, schema, key_col="id")
    got = {r.id: (r.ts, r.v) for r in read_delta(spark, tbl).collect()}
    assert got == {1: (30, "a3"), 2: (20, "b2"), 3: (30, "c")}

    # epoch bookkeeping: MERGE commit carries txnAppId/txnVersion
    from delta_lake_spark.table import DeltaTable

    hist = DeltaTable.forPath(spark, tbl)._log.history()
    assert any(
        (h.get("operationParameters") or {}).get("txnAppId") == "dls_stream_merge"
        for h in hist
        if h.get("operation") == "MERGE"
    )


def test_stream_merge_dedup_winner_is_latest_by_ts(spark, tmp_path):
    """Within a micro-batch, the per-key winner must be the row with the
    greatest event time — even when the timestamp is NOT the first
    non-key column (struct-max would otherwise pick by column order)."""
    import os

    from delta_lake_spark import read_delta
    from delta_lake_spark.streaming.incremental import stream_merge_into_delta

    src = str(tmp_path / "src")
    tbl = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    schema = "id long, label string, ts timestamp"
    # label sorts AGAINST ts: naive column-order struct max would pick
    # 'z-old' (label leads the struct), but the ts=2 row must win
    spark.createDataFrame(
        [
            (1, "z-old", "2024-01-01 00:00:01"),
            (1, "a-new", "2024-01-01 00:00:02"),
        ],
        "id long, label string, ts string",
    ).selectExpr("id", "label", "CAST(ts AS TIMESTAMP) AS ts").write.parquet(
        src, mode="overwrite"
    )
    stream_merge_into_delta(
        spark, src, tbl, ckpt, schema, key_col="id", ts_col="ts"
    )
    got = read_delta(spark, tbl).collect()
    assert len(got) == 1 and got[0].label == "a-new"


def test_stream_rate_limited_batches_drain_fully(spark, tmp_path):
    """maxFilesPerTrigger caps each micro-batch but availableNow still
    drains the whole backlog — multiple batches, complete output."""
    import os

    from delta_lake_spark.streaming.incremental import stream_table_to_table

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    # 6 separate files
    for i in range(6):
        spark.range(i * 10, i * 10 + 10).selectExpr("id").coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream_table_to_table(
        spark, src, dst, ckpt, schema="id long", max_files_per_trigger=2
    )
    assert spark.read.parquet(dst).count() == 60
    # the checkpoint recorded multiple rate-limited batches
    offsets = os.listdir(os.path.join(ckpt, "offsets"))
    assert len(offsets) >= 3


def test_stream_static_enrich_matches_batch(spark, tmp_path):
    """Stream-static left join drains to the same rows as the batch
    join, and the static side is broadcast (stateless enrichment)."""
    from delta_lake_spark.streaming.incremental import stream_static_enrich

    ev = _events(spark, SF_DIR)
    src = str(tmp_path / "src")
    ev.write.parquet(src)
    dim = spark.createDataFrame(
        [(i, f"seg{i % 3}") for i in range(1, 200)], ["user_id", "segment"]
    )
    out = stream_static_enrich(
        spark,
        src,
        dim,
        on="user_id",
        schema="event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string",
        query_name="t_enrich",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    batch = ev.join(dim, "user_id", "left")
    assert out.count() == ev.count()  # left join: no fanout, no loss
    got = {(r.event_id, r.segment) for r in out.select("event_id", "segment").collect()}
    exp = {(r.event_id, r.segment) for r in batch.select("event_id", "segment").collect()}
    assert got == exp


def test_stream_outer_join_equals_batch_with_nulls(spark, tmp_path):
    """LEFT OUTER stream-stream join: stream == batch row-for-row, and
    unmatched views genuinely emit NULL purchase rows (the watermark
    eviction path, exercised via the far-future sentinel)."""
    from datetime import timedelta

    from delta_lake_spark.queries.relational import _events
    from delta_lake_spark.streaming.incremental import (
        interval_join_events_outer,
        run_stream_stream_outer_join,
    )

    ev = _events(spark, "/root/testdata/sf0.001")
    max_ts = ev.agg(F.max("ts").alias("m")).collect()[0].m
    sentinels = spark.createDataFrame(
        [
            (-1, max_ts + timedelta(hours=12), -1, "view", 0.0, "{}"),
            (-2, max_ts + timedelta(hours=12), -1, "purchase", 0.0, "{}"),
        ],
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string",
    )
    src = str(tmp_path / "src")
    ev.unionByName(sentinels).write.parquet(src)

    streamed = run_stream_stream_outer_join(
        spark,
        src,
        str(tmp_path / "ckpt"),
        schema="event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string",
        query_name="t_ssoj",
        within_minutes=30,
    )
    batch = interval_join_events_outer(
        ev.filter("event_type = 'view'"),
        ev.filter("event_type = 'purchase'"),
        within_minutes=30,
    )
    a = sorted(map(tuple, streamed.collect()), key=str)
    b = sorted(map(tuple, batch.collect()), key=str)
    assert a == b and len(a) > 0
    nulls = [r for r in a if r[2] is None]
    assert len(nulls) > 0  # eviction path actually fired


def test_stream_dedup_into_corpus_incremental(spark, tmp_path):
    """Streaming corpus build: re-submitted docs are dropped against the
    corpus-so-far, novel docs land, draining again is a no-op, and each
    batch is one transactional append."""
    import os

    from delta_lake_spark.log import DeltaLog
    from delta_lake_spark.streaming.incremental import stream_dedup_into_corpus

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    src = str(tmp_path / "src")
    os.makedirs(src)
    stage = str(tmp_path / "stage")
    batches = [
        docs,
        docs.selectExpr("doc_id + 1000 AS doc_id", "text"),  # all dups
        docs.selectExpr("doc_id + 2000 AS doc_id", "text || ' x' AS text"),
    ]
    for i, b in enumerate(batches):
        d = f"{stage}/b{i}"
        b.coalesce(1).write.parquet(d)
        part = next(f for f in os.listdir(d) if f.endswith(".parquet"))
        os.replace(f"{d}/{part}", f"{src}/b{i}.parquet")

    table = str(tmp_path / "corpus")
    out = stream_dedup_into_corpus(
        spark, src, table, str(tmp_path / "ckpt"),
        schema="doc_id long, text string",
    )
    n_docs = docs.count()
    ids = {r.doc_id for r in out.select("doc_id").collect()}
    assert len(ids) == 2 * n_docs
    assert all(i < 1000 or i >= 2000 for i in ids)  # batch-2 dups dropped

    # draining again with the same checkpoint: nothing new
    out2 = stream_dedup_into_corpus(
        spark, src, table, str(tmp_path / "ckpt"),
        schema="doc_id long, text string",
    )
    assert out2.count() == 2 * n_docs
    # each original batch appended exactly once (3 streaming commits)
    ops = [
        h.get("operationParameters", {}).get("txnVersion")
        for h in DeltaLog(table).history()
        if (h.get("operationParameters") or {}).get("txnAppId")
        == "dls_corpus_dedup"
    ]
    assert sorted(v for v in ops if v is not None) == [0, 1, 2]


def _crashed_checkpoint_copy(ckpt: str, dest: str) -> int:
    """Build the checkpoint state a crash BETWEEN the table commit and
    the streaming checkpoint commit leaves behind: the offsets/<epoch>
    intent exists but the commits/<epoch> completion marker does not,
    so a restarted process replays that epoch. Copies the checkpoint
    (a restart is a fresh process — in-session Spark caches the commit
    log, so mutating the live dir trips its concurrent-use guard) and
    drops the newest commit marker. Returns the torn epoch id."""
    import os
    import shutil

    shutil.copytree(ckpt, dest)
    commits = os.path.join(dest, "commits")
    epochs = sorted(
        int(f) for f in os.listdir(commits) if not f.startswith(".")
    )
    last = epochs[-1]
    os.remove(os.path.join(commits, str(last)))
    crc = os.path.join(commits, f".{last}.crc")  # hadoop checksum sidecar:
    if os.path.exists(crc):  # left behind, the rewrite would throw
        os.remove(crc)  # FileAlreadyExistsException
    return last


def test_stream_into_delta_crash_restart_no_dupes(spark, tmp_path):
    """Kill-and-restart-from-checkpoint for the delta sink: an epoch
    committed to the TABLE but torn from the streaming checkpoint is
    replayed on restart and must be skipped by the (txnAppId, epoch)
    bookkeeping — no duplicate rows, no lost rows, no extra commit."""
    from delta_lake_spark import read_delta
    from delta_lake_spark.log import DeltaLog
    from delta_lake_spark.streaming.incremental import stream_into_delta

    events = _events(spark, SF_DIR).select(
        "event_id", "user_id", "event_type", "value"
    )
    src = str(tmp_path / "crash_src")
    tbl = str(tmp_path / "crash_tbl")
    ckpt = str(tmp_path / "crash_ckpt")
    schema = "event_id long, user_id long, event_type string, value double"

    _write_chunk(spark, events, src, 0, 400)
    stream_into_delta(spark, src, tbl, ckpt, schema)
    expected = events.filter("event_id < 400").count()
    assert read_delta(spark, tbl).count() == expected
    n_commits = DeltaLog(tbl).latest_version() + 1

    ckpt2 = str(tmp_path / "crash_ckpt_recovered")
    torn = _crashed_checkpoint_copy(ckpt, ckpt2)
    stream_into_delta(spark, src, tbl, ckpt2, schema)  # restart: replays torn epoch
    assert read_delta(spark, tbl).count() == expected  # no dupes, no loss
    assert DeltaLog(tbl).latest_version() + 1 == n_commits  # epoch skipped

    # and the stream still makes progress after recovery
    _write_chunk(spark, events, src, 400, 600)
    stream_into_delta(spark, src, tbl, ckpt2, schema)
    assert read_delta(spark, tbl).count() == events.filter("event_id < 600").count()
    assert torn >= 0


def test_stream_dedup_into_corpus_crash_restart(spark, tmp_path):
    """Kill-and-restart-from-checkpoint for the streaming corpus dedup
    sink: the replayed epoch must neither re-append its documents nor
    drop documents from later epochs."""
    import os

    from delta_lake_spark.log import DeltaLog
    from delta_lake_spark.streaming.incremental import stream_dedup_into_corpus

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    src = str(tmp_path / "src")
    os.makedirs(src)
    stage = str(tmp_path / "stage")
    batches = [
        docs,
        docs.selectExpr("doc_id + 1000 AS doc_id", "text"),  # all dups
        docs.selectExpr("doc_id + 2000 AS doc_id", "text || ' y' AS text"),
    ]
    for i, b in enumerate(batches):
        d = f"{stage}/b{i}"
        b.coalesce(1).write.parquet(d)
        part = next(f for f in os.listdir(d) if f.endswith(".parquet"))
        os.replace(f"{d}/{part}", f"{src}/b{i}.parquet")

    table = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    out = stream_dedup_into_corpus(
        spark, src, table, ckpt, schema="doc_id long, text string"
    )
    n_docs = docs.count()
    assert out.count() == 2 * n_docs
    versions_before = DeltaLog(table).latest_version()

    ckpt2 = str(tmp_path / "ckpt_recovered")
    _crashed_checkpoint_copy(ckpt, ckpt2)
    out2 = stream_dedup_into_corpus(
        spark, src, table, ckpt2, schema="doc_id long, text string"
    )
    ids = {r.doc_id for r in out2.select("doc_id").collect()}
    assert len(ids) == 2 * n_docs  # replay appended nothing
    assert all(i < 1000 or i >= 2000 for i in ids)
    assert DeltaLog(table).latest_version() == versions_before
    # txn bookkeeping still shows each epoch exactly once
    ops = [
        (h.get("operationParameters") or {}).get("txnVersion")
        for h in DeltaLog(table).history()
        if (h.get("operationParameters") or {}).get("txnAppId")
        == "dls_corpus_dedup"
    ]
    assert sorted(v for v in ops if v is not None) == [0, 1, 2]


def test_stream_corpus_with_text_index_stays_searchable(spark, tmp_path):
    """Streaming indexed ingestion: after the drain the inverted index
    holds EXACTLY the corpus ids (the CDF sync trailed every batch),
    served BM25 equals an ad-hoc recompute over the final corpus, and
    re-draining the same checkpoint changes nothing."""
    import os

    from delta_lake_spark import read_delta
    from delta_lake_spark.log import DeltaLog
    from delta_lake_spark.operators.text import (
        _text_index_tables,
        bm25_topk,
        query_text_index,
    )
    from delta_lake_spark.streaming.incremental import (
        stream_corpus_with_text_index,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    src = str(tmp_path / "src")
    os.makedirs(src)
    stage = str(tmp_path / "stage")
    batches = [
        docs,
        docs.selectExpr("doc_id + 5000 AS doc_id", "text || ' novel' AS text"),
    ]
    for i, b in enumerate(batches):
        d = f"{stage}/b{i}"
        b.coalesce(1).write.parquet(d)
        part = next(f for f in os.listdir(d) if f.endswith(".parquet"))
        os.replace(f"{d}/{part}", f"{src}/b{i}.parquet")

    table = str(tmp_path / "corpus")
    idx = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    out = stream_corpus_with_text_index(
        spark, src, table, idx, ckpt, schema="doc_id long, text string"
    )
    corpus_ids = {r.doc_id for r in out.select("doc_id").collect()}
    _, t_lengths = _text_index_tables(idx)
    index_ids = {
        r.doc_id for r in read_delta(spark, t_lengths).select("doc_id").collect()
    }
    assert index_ids == corpus_ids and len(corpus_ids) == 2 * docs.count()

    queries = spark.createDataFrame(
        [(1, "hash join"), (2, "novel stream")], "query_id long, qtext string"
    )
    served = sorted(map(tuple, query_text_index(queries, idx, k=10).collect()))
    adhoc = sorted(
        map(tuple, bm25_topk(out, queries, "text", "doc_id", k=10).collect())
    )
    assert served == adhoc and len(served) == 20

    v_before = DeltaLog(table).latest_version()
    stream_corpus_with_text_index(
        spark, src, table, idx, ckpt, schema="doc_id long, text string"
    )
    assert DeltaLog(table).latest_version() == v_before  # drained: no-op


def test_stream_corpus_with_text_index_pins_the_version_it_builds(
    spark, tmp_path, monkeypatch
):
    """The sink builds the index from the corpus version it pins: a doc
    committed between the build's corpus read and the pin reaches the
    index through the next batch's sync instead of being skipped."""
    import os

    import delta_lake_spark.reader as reader
    from delta_lake_spark.operators.text import _text_index_tables
    from delta_lake_spark.streaming.incremental import (
        stream_corpus_with_text_index,
    )
    from delta_lake_spark.writer import write_delta

    schema = "doc_id long, text string"
    src = str(tmp_path / "src")
    os.makedirs(src)
    stage = str(tmp_path / "stage")
    for i in range(2):
        d = f"{stage}/b{i}"
        spark.createDataFrame(
            [(10 * i + j, f"batch {i} doc {j} words") for j in range(3)], schema
        ).coalesce(1).write.parquet(d)
        part = next(f for f in os.listdir(d) if f.endswith(".parquet"))
        os.replace(f"{d}/{part}", f"{src}/b{i}.parquet")

    table = str(tmp_path / "corpus")
    idx = str(tmp_path / "index")
    real = reader.read_delta
    raced = []

    def racing(session, path, *args, **kwargs):
        df = real(session, path, *args, **kwargs)
        if path == table and not raced:  # a competitor commits once
            raced.append(True)
            write_delta(
                spark.createDataFrame([(999, "competitor doc words")], schema),
                table,
                mode="append",
            )
        return df

    monkeypatch.setattr(reader, "read_delta", racing)
    stream_corpus_with_text_index(
        spark, src, table, idx, str(tmp_path / "ckpt"), schema=schema
    )
    lengths = real(spark, _text_index_tables(idx)[1])
    assert raced and 999 in {r.doc_id for r in lengths.collect()}


def test_stream_corpus_with_vocab_sketch_tracks_and_is_replay_safe(
    spark, tmp_path
):
    """Streaming sketched ingestion: after the drain the stored
    registers reproduce the whole-corpus HLL estimate bit for bit (the
    incremental max-merges lost nothing), and re-draining the same
    checkpoint moves neither the corpus version nor the estimates."""
    import os

    from pyspark.sql import functions as F

    from delta_lake_spark.log import DeltaLog
    from delta_lake_spark.operators.sketches import (
        estimate_hll_state,
        hll_distinct,
    )
    from delta_lake_spark.streaming.incremental import (
        stream_corpus_with_vocab_sketch,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "lang", "text")
    src = str(tmp_path / "src")
    os.makedirs(src)
    stage = str(tmp_path / "stage")
    batches = [
        docs,
        docs.selectExpr(
            "doc_id + 5000 AS doc_id", "lang", "text || ' novel' AS text"
        ),
    ]
    for i, b in enumerate(batches):
        d = f"{stage}/b{i}"
        b.coalesce(1).write.parquet(d)
        part = next(f for f in os.listdir(d) if f.endswith(".parquet"))
        os.replace(f"{d}/{part}", f"{src}/b{i}.parquet")

    table = str(tmp_path / "corpus")
    state = str(tmp_path / "vocab_state")
    ckpt = str(tmp_path / "ckpt")
    out = stream_corpus_with_vocab_sketch(
        spark, src, table, state, ckpt,
        schema="doc_id long, lang string, text string",
    )
    served = {
        r.lang: r.est_distinct
        for r in estimate_hll_state(spark, state, ["lang"]).collect()
    }
    toks = out.select(
        "lang",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias(
            "term"
        ),
    )
    full = {
        r.lang: r.est_distinct
        for r in hll_distinct(toks, "term", ["lang"]).collect()
    }
    assert served == full and len(served) == 5

    v_before = DeltaLog(table).latest_version()
    stream_corpus_with_vocab_sketch(
        spark, src, table, state, ckpt,
        schema="doc_id long, lang string, text string",
    )
    assert DeltaLog(table).latest_version() == v_before
    again = {
        r.lang: r.est_distinct
        for r in estimate_hll_state(spark, state, ["lang"]).collect()
    }
    assert again == served


def test_stream_media_keyframes_replay_noop(spark, tmp_path):
    """Re-draining the same source through the media+keyframe sink
    (same checkpoint) must append nothing to either table — the
    (txnAppId, epoch) guard covers BOTH the corpus and the derived
    keyframe appends."""
    import os

    from delta_lake_spark.operators.multimodal import synthesize_gif_corpus
    from delta_lake_spark.reader import read_delta
    from delta_lake_spark.streaming.incremental import (
        stream_media_with_keyframes,
    )

    docs = spark.range(8).select(F.col("id").alias("doc_id"))
    src = str(tmp_path / "src")
    os.makedirs(src)
    d = str(tmp_path / "stage")
    synthesize_gif_corpus(docs).coalesce(1).write.parquet(d)
    part = next(f for f in os.listdir(d) if f.endswith(".parquet"))
    os.replace(f"{d}/{part}", f"{src}/b0.parquet")

    media = str(tmp_path / "media")
    kf = str(tmp_path / "kf")
    ckpt = str(tmp_path / "ckpt")
    out1 = stream_media_with_keyframes(
        spark, src, media, kf, ckpt,
        schema="media_id long, content binary", txn_app_id="t-replay",
    ).count()
    out2 = stream_media_with_keyframes(
        spark, src, media, kf, ckpt,
        schema="media_id long, content binary", txn_app_id="t-replay",
    ).count()
    assert out1 == out2
    assert read_delta(spark, media).count() == 8
    # 8 media, frames = 1 + id % 4 -> 1+2+3+4 repeated twice = 20
    assert out1 == 20


def test_streaming_span_screen_sequencing_and_replay(spark, tmp_path):
    """On-arrival substring screening: batch 2 must screen against
    batch 1's text (the index absorbs each epoch), replaying the
    drained stream appends nothing, and the corpus lands exactly
    once."""
    import os

    from delta_lake_spark.operators.dedup import build_substring_index
    from delta_lake_spark.reader import read_delta
    from delta_lake_spark.streaming.incremental import (
        stream_docs_with_span_screen,
    )

    boiler = "alpha beta gamma delta epsilon"
    hist = spark.createDataFrame(
        [(100, f"history {boiler} closing words here")],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "idx")
    build_substring_index(hist, "text", "doc_id", idx, k=5)

    b1 = [(1, f"one {boiler} tail"), (2, "fresh unshared text one here")]
    b2 = [
        (10, f"ten {boiler} ending"),              # dup vs history
        (11, "fresh unshared text one here also"), # 5-gram dup vs b1 doc 2
        (12, "totally novel closing line okay"),
    ]
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i, rows in enumerate((b1, b2)):
        d = str(tmp_path / f"stage{i}")
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.parquet(d)
        part = next(f for f in os.listdir(d) if f.endswith(".parquet"))
        os.replace(f"{d}/{part}", f"{src}/b{i}.parquet")
        os.utime(f"{src}/b{i}.parquet", (1_700_000_000 + i,) * 2)

    corpus = str(tmp_path / "corpus")
    spans_path = str(tmp_path / "spans")
    ckpt = str(tmp_path / "ckpt")
    spans = stream_docs_with_span_screen(
        spark, src, corpus, idx, spans_path, ckpt, txn_app_id="t_sss"
    )
    got = {r.doc_id for r in spans.collect()}
    assert 1 in got and 10 in got  # boiler matches across epochs
    assert 11 in got  # batch 2 screened against BATCH 1's text
    assert 2 not in got and 12 not in got
    n_spans = spans.count()
    n_corpus = read_delta(spark, corpus).count()
    assert n_corpus == 5

    # drained replay: no new files -> nothing appended anywhere
    again = stream_docs_with_span_screen(
        spark, src, corpus, idx, spans_path, ckpt, txn_app_id="t_sss"
    )
    assert again.count() == n_spans
    assert read_delta(spark, corpus).count() == n_corpus


def test_stream_warc_ingestion_provenance_and_replay(spark, tmp_path):
    """Streaming WARC ingestion: batch 2's duplicate of a batch-1 URL
    is rejected with dup_source='state' (NOT 'batch' — the sequencing
    is observable), within-batch losers get 'batch', replaying the
    drained stream appends nothing, and a fresh-checkpoint re-drain is
    a no-op thanks to the (txnAppId, epoch) guard."""
    import os

    from pyspark.sql import functions as F

    from delta_lake_spark.operators.multimodal import (
        synthesize_crawl_warc_corpus,
    )
    from delta_lake_spark.streaming.incremental import stream_warc_ingestion

    # messy_url buckets by id%97 and form by id%4 (<=2 -> /p/, else
    # /other/): 100 and 197 share (b=3, /p/) within batch 1; 294
    # duplicates it from batch 2; 391 is (b=3, /other/) — novel.
    b1 = [(100, "alpha text"), (197, "beta text"), (5, "gamma text")]
    b2 = [(294, "delta text"), (391, "epsilon text")]
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i, rows in enumerate((b1, b2)):
        d = str(tmp_path / f"stage{i}")
        synthesize_crawl_warc_corpus(
            spark.createDataFrame(rows, "doc_id long, text string")
        ).coalesce(1).write.parquet(d)
        part = next(f for f in os.listdir(d) if f.endswith(".parquet"))
        os.replace(f"{d}/{part}", f"{src}/b{i}.parquet")
        os.utime(f"{src}/b{i}.parquet", (1_700_000_000 + i,) * 2)

    verdicts_path = str(tmp_path / "verdicts")
    ckpt = str(tmp_path / "ckpt")
    out = stream_warc_ingestion(
        spark, src, verdicts_path, ckpt, txn_app_id="t_warc"
    )
    got = {r.media_id: r for r in out.collect()}
    assert len(got) == 5
    assert got[100].kept and got[100].dup_source is None
    assert got[5].kept
    assert not got[197].kept and got[197].dup_source == "batch"
    assert not got[294].kept and got[294].dup_source == "state"
    assert got[391].kept  # same bucket, different canonical path
    assert got[100].url_norm == got[294].url_norm
    assert got[100].registered_domain == "site-3.com"
    assert got[100].n_chars > 0

    # drained replay: nothing new
    n = out.count()
    again = stream_warc_ingestion(
        spark, src, verdicts_path, ckpt, txn_app_id="t_warc"
    )
    assert again.count() == n
    # fresh checkpoint over the same files: the epoch guard makes the
    # re-drain a no-op (appends are NOT idempotent without it)
    third = stream_warc_ingestion(
        spark, src, verdicts_path, str(tmp_path / "ckpt2"),
        txn_app_id="t_warc",
    )
    assert third.count() == n
    assert third.filter(F.col("kept")).count() == 3


def test_decayed_state_replay_guard(spark, tmp_path):
    """A re-drained epoch (fresh checkpoint over the same files) must
    NOT double-count: bucket adds are non-idempotent, so the
    (txnAppId, epoch) guard is what makes restart safe."""
    import datetime
    import os
    import shutil

    from delta_lake_spark.streaming.incremental import (
        estimate_decayed_state,
        stream_decayed_event_state,
    )

    d0 = datetime.datetime(2026, 2, 1, 10, 0, 0)
    rows = [
        (1, d0, "click"),
        (2, d0 - datetime.timedelta(days=7), "click"),
        (3, d0, "view"),
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string")
    src = str(tmp_path / "src")
    os.makedirs(src)
    stage = str(tmp_path / "stage")
    df.coalesce(1).write.parquet(stage)
    part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
    os.replace(f"{stage}/{part}", f"{src}/b0.parquet")
    state = str(tmp_path / "state")
    schema = "event_id long, ts timestamp, event_type string"
    stream_decayed_event_state(
        spark, src, state, str(tmp_path / "ck1"), schema,
        half_life_days=7, txn_app_id="t-replay",
    )
    first = {
        r.etype: (r.n_events, r.score_fixed)
        for r in estimate_decayed_state(spark, state, 4).collect()
    }
    assert first == {"click": (2, 16 + 8), "view": (1, 16)}
    # fresh checkpoint, same files: epoch 0 replays, guard must skip
    stream_decayed_event_state(
        spark, src, state, str(tmp_path / "ck2"), schema,
        half_life_days=7, txn_app_id="t-replay",
    )
    second = {
        r.etype: (r.n_events, r.score_fixed)
        for r in estimate_decayed_state(spark, state, 4).collect()
    }
    assert second == first
    # exceeding the fixed-point capacity fails loudly, never wraps.
    # A fresh app id + checkpoint re-lands b0 (epoch guard is per app)
    # and adds one more age-0 click, leaving buckets click={age0:3,
    # age1:2}, view={age0:2}. At horizon 62 click = 3*2^62 + 2*2^61
    # = 2^64 > 2^63-1 -> the decimal carry raises at the long cast.
    import pytest as _pytest

    extra = spark.createDataFrame(
        [(4, d0, "click")], "event_id long, ts timestamp, event_type string"
    )
    stage2 = str(tmp_path / "stage2")
    extra.coalesce(1).write.parquet(stage2)
    part2 = next(f for f in os.listdir(stage2) if f.endswith(".parquet"))
    os.replace(f"{stage2}/{part2}", f"{src}/b1.parquet")
    stream_decayed_event_state(
        spark, src, state, str(tmp_path / "ck3"), schema,
        half_life_days=7, txn_app_id="t-replay-2",
    )
    with _pytest.raises(Exception, match="fixed-point sum exceeds"):
        estimate_decayed_state(spark, state, 62).collect()
    # the guard is per-horizon, not a table poison: low horizons serve
    third = {
        r.etype: r.score_fixed
        for r in estimate_decayed_state(spark, state, 4).collect()
    }
    assert third == {"click": 3 * 16 + 2 * 8, "view": 2 * 16}
    shutil.rmtree(src, ignore_errors=True)
