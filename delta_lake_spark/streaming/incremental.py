"""Structured Streaming increment: the checkpointed incremental loads
the reference hand-rolls with its bronze ``status`` bookkeeping
(SURVEY.md §2.10 — 01_raw_to_bronze.py:216-227 contrasts the batch
course with the streaming variant; untilStreamIsReady at
utilities.py:78-84 is its only streaming touch-point).

``stream_table_to_table`` replaces the status lifecycle: a file-source
stream over a directory of parquet (or our table's data files) with a
checkpoint directory remembers exactly which files were processed, and
``Trigger.availableNow`` drains everything pending then stops —
the modern equivalent of the reference's "ingest N hours then MERGE
the slice away" loop, with exactly-once bookkeeping for free.

``windowed_event_counts`` adds the watermarked tumbling-window
aggregation for late data.

Every query here runs through ``_drain``: an availableNow trigger, then
a bounded wait that stops the query and raises TimeoutError rather than
hand back a half-drained sink.

The versioned-table sinks are exactly-once through Delta's transaction
identifiers. Each micro-batch commit records its (txnAppId, epoch) as a
``txn`` action in the table's snapshot state (``Snapshot.txns``), which
survives checkpoints and log cleanup. A replayed epoch finds its
txnAppId already at or past the epoch and skips (``_committed``);
``DeltaLog.commit_from`` checks the same state inside the commit, so two
writers of one epoch (a zombie query and its restart) never both land.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from ..log import DeltaLog


def _drain(writer: DataStreamWriter, timeout_sec: float) -> None:
    """Start ``writer`` as an availableNow query and wait until it has
    drained its backlog. A query still running after ``timeout_sec`` is
    stopped and raises TimeoutError."""
    q = writer.trigger(availableNow=True).start()
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(
            f"streaming query {q.name or q.id} did not drain in {timeout_sec}s"
        )


def _committed(table_path: str, txn_app_id: str, epoch_id: int) -> bool:
    """True when the table already records ``txn_app_id`` at or past
    ``epoch_id``: the epoch is a replay of a committed batch (Delta's
    idempotent-sink rule over the snapshot's transaction identifiers)."""
    log = DeltaLog(table_path)
    return log.exists() and log.snapshot().txns.get(txn_app_id, -1) >= epoch_id


def stream_table_to_table(
    spark: SparkSession,
    source_dir: str,
    target_dir: str,
    checkpoint_dir: str,
    schema: str | None = None,
    transform=None,
    timeout_sec: int = 120,
    max_files_per_trigger: int | None = None,
) -> None:
    """Drain all pending files from source_dir into a parquet sink with
    availableNow semantics; incremental across calls via the checkpoint.

    ``max_files_per_trigger`` bounds each micro-batch (backpressure /
    admission control): with availableNow the stream still drains the
    FULL backlog, but in rate-limited batches — at scale this is what
    keeps a catch-up run from planning one enormous batch whose state
    and shuffle exceed executor memory.

    The sink is plain parquet here (Structured Streaming's file sink
    maintains its own exactly-once manifest under _spark_metadata);
    convert_to_delta can lift the result into a versioned table.
    """
    reader = spark.readStream
    if schema:
        reader = reader.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    src = reader.parquet(source_dir)
    if transform is not None:
        src = transform(src)
    _drain(
        src.writeStream.format("parquet")
        .option("path", target_dir)
        .option("checkpointLocation", checkpoint_dir),
        timeout_sec,
    )


def windowed_event_counts(
    events: DataFrame,
    window_duration: str = "1 hour",
    watermark_delay: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Watermarked tumbling-window counts per event_type — works on a
    streaming OR batch DataFrame (same expression, Catalyst plans the
    stateful version under a stream)."""
    # watermarks require TIMESTAMP (with-tz) event time; session tz is
    # pinned UTC by the events loader so this cast is instant-preserving
    events = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        events.withWatermark(ts_col, watermark_delay)
        .groupBy(F.window(ts_col, window_duration).alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
        )
    )


def stream_static_enrich(
    spark: SparkSession,
    source_dir: str,
    dim_df: DataFrame,
    on: str | list[str],
    schema: str,
    how: str = "left",
    query_name: str = "dls_enrich",
    checkpoint_dir: str | None = None,
    timeout_sec: int = 120,
) -> DataFrame:
    """Stream-static join: every micro-batch joins against the CURRENT
    snapshot of a static dimension — the standard streaming enrichment
    (events + user/customer attributes). The dimension is BROADCAST into
    each micro-batch's tasks, so the stream side never shuffles and no
    state store is involved (stream-static joins are stateless by
    definition: only the stream side is unbounded). Drains the parquet
    source as an availableNow stream into a memory sink and returns the
    enriched rows."""
    src = spark.readStream.schema(schema).parquet(source_dir)
    joined = src.join(F.broadcast(dim_df), on, how)
    writer = (
        joined.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    _drain(writer, timeout_sec)
    return spark.table(query_name)


def run_windowed_stream(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    schema: str,
    query_name: str = "dls_windowed_counts",
    timeout_sec: int = 120,
) -> DataFrame:
    """Run the watermarked windowed aggregation over a parquet directory
    as an availableNow stream into an in-memory sink; returns the result
    as a DataFrame once the stream drains."""
    src = spark.readStream.schema(schema).parquet(source_dir)
    agg = windowed_event_counts(src)
    _drain(
        agg.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("complete")
        .option("checkpointLocation", checkpoint_dir),
        timeout_sec,
    )
    return spark.table(query_name)


def stream_into_delta(
    spark: SparkSession,
    source_dir: str,
    table_path: str,
    checkpoint_dir: str,
    schema: str,
    txn_app_id: str = "dls_stream",
    transform=None,
    timeout_sec: int = 120,
) -> None:
    """Versioned table as a streaming SINK with end-to-end exactly-once:
    foreachBatch appends each micro-batch transactionally, recording
    (txnAppId, txnVersion=epoch) as the commit's ``txn`` action — the
    idempotent-write pattern of Delta's streaming sink. A batch retried
    after a crash between the table commit and the checkpoint write
    finds its epoch in the snapshot's txns and skips, so replays never
    duplicate rows."""
    from ..writer import write_delta

    def _write_batch(batch_df, epoch_id: int) -> None:
        if _committed(table_path, txn_app_id, epoch_id):
            return  # crash-retry replay of a committed epoch
        write_delta(
            batch_df,
            table_path,
            mode="append",
            operation="STREAMING UPDATE",
            operation_parameters={
                "txnAppId": txn_app_id,
                "txnVersion": epoch_id,
                "outputMode": "Append",
            },
        )

    src = spark.readStream.schema(schema).parquet(source_dir)
    if transform is not None:
        src = transform(src)
    _drain(
        src.writeStream.foreachBatch(_write_batch)
        .option("checkpointLocation", checkpoint_dir),
        timeout_sec,
    )


def run_dedup_stream(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    schema: str,
    key_cols: list[str] | tuple[str, ...] = ("event_id",),
    watermark_delay: str = "2 hours",
    ts_col: str = "ts",
    query_name: str = "dls_dedup",
    timeout_sec: int = 120,
) -> DataFrame:
    """Exactly-once event dedup under at-least-once delivery:
    ``dropDuplicatesWithinWatermark`` keeps each key's state only until
    the watermark passes it, so state size is bounded by the delay
    window — the scale-safe form of streaming dedup (a plain
    dropDuplicates on an unbounded stream grows state forever).
    availableNow drain into a memory sink; returns the deduped rows."""
    src = spark.readStream.schema(schema).parquet(source_dir)
    src = src.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    deduped = src.withWatermark(ts_col, watermark_delay).dropDuplicatesWithinWatermark(
        list(key_cols)
    )
    _drain(
        deduped.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir),
        timeout_sec,
    )
    return spark.table(query_name)


def stream_delta_appends(
    spark: SparkSession,
    table_path: str,
    target_dir: str,
    checkpoint_dir: str,
    transform=None,
    timeout_sec: int = 120,
) -> DataFrame:
    """Use a versioned delta table as a STREAMING SOURCE for appended
    rows: drains all data files not yet seen by this checkpoint into a
    parquet file sink (whose _spark_metadata manifest plus the source
    checkpoint give end-to-end exactly-once), then returns the
    accumulated sink contents.

    Semantics: append-only, like Delta's own streaming source default —
    every write_delta() append lands new files under data/<commit-id>/,
    and Spark's file source + checkpoint remembers exactly which files
    were processed, so each call processes only the NEW appends.
    OPTIMIZE commits (dataChange=False) rewrite old rows into new files,
    which an append-only file source would re-emit — stream from tables
    mutated by appends only, or drain before compacting (Delta's own
    source has the same restriction and raises on non-append changes).
    """
    import json as _json

    from pyspark.sql.types import StructType

    log = DeltaLog(table_path)
    snap = log.snapshot()
    schema = StructType.fromJson(_json.loads(snap.metadata.schemaString))

    src = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(os.path.join(table_path, "data"))
    )
    if transform is not None:
        src = transform(src)
    _drain(
        src.writeStream.format("parquet")
        .option("path", target_dir)
        .option("checkpointLocation", checkpoint_dir),
        timeout_sec,
    )
    return spark.read.schema(src.schema).parquet(target_dir)


def stream_table_changes(
    spark: SparkSession,
    table_path: str,
    target_dir: str,
    from_version: int = 1,
) -> DataFrame:
    """Use the CHANGE DATA FEED as an incremental streaming source
    (availableNow semantics): each call drains the change rows of every
    commit not yet processed into ``target_dir`` and returns the
    accumulated feed (table columns + _change_type + _commit_version).

    Exactly-once without side state: each drain stages its output under
    a temp dir, then atomically renames it to ``batch-<from>-<to>``; the
    resume point is derived from the existing batch directory names, so
    a crash before the rename re-processes (staging leftovers are
    ignored), and a crash after it skips — never duplicates. At scale
    each drain reads only the files touched by the new commits (the CDF
    diff cost model), not the table.
    """
    import re as _re
    import shutil as _shutil
    import uuid as _uuid

    from ..cdf import table_changes
    from ..errors import VersionNotFoundError
    from ..writer import schema_of

    os.makedirs(target_dir, exist_ok=True)
    done = [
        _re.match(r"batch-(\d+)-(\d+)$", d) for d in os.listdir(target_dir)
    ]
    last = max((int(m.group(2)) for m in done if m), default=from_version - 1)
    # staging leftovers from a crashed drain are dead: remove them
    for d in os.listdir(target_dir):
        if d.startswith("_tmp-"):
            _shutil.rmtree(os.path.join(target_dir, d), ignore_errors=True)

    log = DeltaLog(table_path)
    latest = log.latest_version()
    if latest > last:
        try:
            changes = table_changes(spark, table_path, last + 1, latest)
        except VersionNotFoundError:
            changes = None  # only layout/metadata commits in the range
        batch = os.path.join(target_dir, f"batch-{last + 1}-{latest}")
        if changes is not None:
            tmp = os.path.join(target_dir, f"_tmp-{_uuid.uuid4().hex[:12]}")
            changes.write.parquet(tmp)
            os.rename(tmp, batch)
        else:
            os.makedirs(batch)  # empty marker advances the resume point

    has_files = any(
        n.endswith(".parquet")
        for _r, _d, names in os.walk(target_dir)
        for n in names
    )
    # the feed's schema is what table_changes writes: the table's
    # columns, then the change type and version
    schema = (
        schema_of(log.snapshot())
        .add("_change_type", "string")
        .add("_commit_version", "long")
    )
    if not has_files:  # only empty markers so far: typed empty feed
        return spark.createDataFrame([], schema)
    return (
        spark.read.schema(schema)
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(target_dir)
    )


def interval_join_events(
    logins: DataFrame,
    purchases: DataFrame,
    within_minutes: int = 30,
    state_horizon: str = "2 hours",
) -> DataFrame:
    """Event-time interval join (stream-stream join): each login pairs
    with that user's purchases in [login.ts, login.ts + within]. The
    same expression runs on batch or streaming inputs; under a stream,
    the watermarks plus the time-range condition bound BOTH join-state
    buffers to the horizon, so state size follows event-time skew, not
    stream lifetime — the requirement for an unbounded 100 TB/day feed.

    Inner-join rows emit as soon as both sides arrive (append mode);
    the watermark only evicts state, it never delays output.
    """
    l = logins.select(
        F.col("event_id").alias("login_id"),
        "user_id",
        F.col("ts").cast("timestamp").alias("l_ts"),
    ).withWatermark("l_ts", state_horizon)
    p = purchases.select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").cast("timestamp").alias("p_ts"),
    ).withWatermark("p_ts", state_horizon)
    return l.join(
        p,
        F.expr(
            "user_id = p_user AND p_ts >= l_ts "
            f"AND p_ts <= l_ts + interval {int(within_minutes)} minutes"
        ),
        "inner",
    ).select("user_id", "login_id", "purchase_id")


def interval_join_events_outer(
    logins: DataFrame,
    purchases: DataFrame,
    within_minutes: int = 30,
    state_horizon: str = "2 hours",
) -> DataFrame:
    """LEFT OUTER event-time interval join: every login emits exactly
    once — matched rows as soon as both sides arrive, unmatched rows
    with NULL purchase columns once the watermark passes the end of the
    login's match window (the state store can then prove no purchase
    can still arrive).

    Same bounded-state design as interval_join_events; the outer side
    additionally REQUIRES the watermark to progress past each login's
    window before its null row can be emitted — callers draining a
    finite feed must advance the watermark beyond the last real event
    (see run_stream_stream_outer_join's sentinel) or trailing unmatched
    logins stay buffered waiting for late purchases.
    """
    l = logins.select(
        F.col("event_id").alias("login_id"),
        "user_id",
        F.col("ts").cast("timestamp").alias("l_ts"),
    ).withWatermark("l_ts", state_horizon)
    p = purchases.select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").cast("timestamp").alias("p_ts"),
    ).withWatermark("p_ts", state_horizon)
    return l.join(
        p,
        F.expr(
            "user_id = p_user AND p_ts >= l_ts "
            f"AND p_ts <= l_ts + interval {int(within_minutes)} minutes"
        ),
        "leftOuter",
    ).select("user_id", "login_id", "purchase_id")


def run_stream_stream_outer_join(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    schema: str,
    left_type: str = "view",
    right_type: str = "purchase",
    within_minutes: int = 30,
    query_name: str = "dls_stream_outer_join",
    timeout_sec: int = 120,
) -> DataFrame:
    """Drive interval_join_events_outer over a finite feed. The source
    is expected to carry one far-future sentinel row per side (user_id <
    0, ts beyond every real window) so the final watermark advances past
    all real logins and their unmatched NULL rows flush; sentinels are
    dropped from the output."""
    logins = (
        spark.readStream.schema(schema)
        .parquet(source_dir)
        .filter(F.col("event_type") == left_type)
    )
    purchases = (
        spark.readStream.schema(schema)
        .parquet(source_dir)
        .filter(F.col("event_type") == right_type)
    )
    joined = interval_join_events_outer(logins, purchases, within_minutes)
    _drain(
        joined.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir),
        timeout_sec,
    )
    return spark.table(query_name).filter(F.col("user_id") >= 0)


def run_stream_stream_join(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    schema: str,
    left_type: str = "view",
    right_type: str = "purchase",
    within_minutes: int = 30,
    query_name: str = "dls_stream_join",
    timeout_sec: int = 120,
) -> DataFrame:
    """Drive interval_join_events as a genuine stream-stream join: two
    independent streaming sources over the same event feed (filtered to
    the two event types), availableNow drain into a memory sink."""
    logins = (
        spark.readStream.schema(schema)
        .parquet(source_dir)
        .filter(F.col("event_type") == left_type)
    )
    purchases = (
        spark.readStream.schema(schema)
        .parquet(source_dir)
        .filter(F.col("event_type") == right_type)
    )
    joined = interval_join_events(logins, purchases, within_minutes)
    _drain(
        joined.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir),
        timeout_sec,
    )
    return spark.table(query_name)


def stream_merge_into_delta(
    spark: SparkSession,
    source_dir: str,
    table_path: str,
    checkpoint_dir: str,
    schema: str,
    key_col: str,
    txn_app_id: str = "dls_stream_merge",
    transform=None,
    timeout_sec: int = 120,
    ts_col: str | None = None,
) -> None:
    """Streaming UPSERT into a versioned table: foreachBatch runs a
    MERGE (update-on-match, insert-on-miss) per micro-batch — the CDC
    apply pattern. Exactly-once like stream_into_delta: (txnAppId,
    epoch) is recorded in the MERGE commit and a crash-retried epoch is
    skipped, so a replayed batch can neither double-insert nor
    re-update.

    Within a micro-batch the source is deduplicated to ONE row per key
    — the standard guard against multi-match MERGE ambiguity in CDC
    streams. Pass ``ts_col`` (the event-time column) to make the winner
    the row with the greatest timestamp: the max-by struct comparison
    orders by its FIRST field, so the event-time column is placed first
    explicitly; without ``ts_col`` the winner is max by the remaining
    columns in order (deterministic, but not time-based)."""
    from ..table import DeltaTable
    from ..writer import write_delta

    def _apply_batch(batch_df, epoch_id: int) -> None:
        if _committed(table_path, txn_app_id, epoch_id):
            return  # crash-retry replay of a committed epoch
        exists = DeltaLog(table_path).exists()

        cols = [c for c in batch_df.columns if c != key_col]
        if ts_col is not None and ts_col in cols:
            # struct max compares fields left-to-right: event time FIRST
            # so the winner is truly last-by-timestamp, not whichever
            # column happens to lead the schema
            cols = [ts_col] + [c for c in cols if c != ts_col]
        latest = (
            batch_df.groupBy(key_col)
            .agg(F.max(F.struct(*[F.col(c) for c in cols])).alias("__s"))
            .select(key_col, *[F.col(f"__s.{c}").alias(c) for c in cols])
            .select(*batch_df.columns)  # restore the source column order
        )
        if not exists:
            write_delta(
                latest,
                table_path,
                mode="append",
                operation="STREAMING MERGE",
                operation_parameters={
                    "txnAppId": txn_app_id,
                    "txnVersion": epoch_id,
                },
            )
            return
        dt = DeltaTable.forPath(spark, table_path)
        (
            dt.alias("t")
            .merge(latest, f"t.{key_col} = s.{key_col}", source_alias="s")
            .when_matched_update_all()
            .when_not_matched_insert_all()
            .execute(
                operation_parameters={
                    "txnAppId": txn_app_id,
                    "txnVersion": epoch_id,
                }
            )
        )

    src = spark.readStream.schema(schema).parquet(source_dir)
    if transform is not None:
        src = transform(src)
    _drain(
        src.writeStream.foreachBatch(_apply_batch)
        .option("checkpointLocation", checkpoint_dir),
        timeout_sec,
    )


def stream_dedup_into_corpus(
    spark: SparkSession,
    source_dir: str,
    table_path: str,
    checkpoint_dir: str,
    schema: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    txn_app_id: str = "dls_corpus_dedup",
    timeout_sec: int = 120,
) -> DataFrame:
    """Streaming INCREMENTAL DEDUP: each micro-batch of documents is
    exact-deduped within itself (min id per normalized text), then
    deduped against the corpus-so-far (bloom pre-filter + exact
    anti-join — dedup_against_corpus), and only the genuinely-new
    documents append to the versioned corpus table. Exactly-once via
    the (txnAppId, epoch) idempotent-append pattern, so a crash-retried
    batch never re-inserts.

    This is the arrival path of a training corpus at 100 TB: the corpus
    only ever grows by deduplicated appends, each batch's join work is
    bounded by the bloom residue, and the whole history stays
    time-travelable. The result (the final corpus) is independent of
    how the feed was batched as long as batches arrive in id order —
    first writer wins either way.

    Returns the final corpus DataFrame.
    """
    from pyspark.sql import Window

    from ..operators.dedup import dedup_against_corpus, normalize_text
    from ..reader import read_delta
    from ..writer import write_delta

    def _write_batch(batch_df, epoch_id: int) -> None:
        if _committed(table_path, txn_app_id, epoch_id):
            return  # replayed epoch
        exists = DeltaLog(table_path).exists()

        # within-batch exact dedup: min id per normalized text
        w = Window.partitionBy(normalize_text(text_col)).orderBy(
            F.col(id_col).asc()
        )
        local = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        if exists:
            corpus = read_delta(spark, table_path)
            fresh = dedup_against_corpus(local, corpus, text_col, id_col)
        else:
            fresh = local
        write_delta(
            fresh,
            table_path,
            mode="append",
            operation="STREAMING DEDUP APPEND",
            operation_parameters={
                "txnAppId": txn_app_id,
                "txnVersion": epoch_id,
                "outputMode": "Append",
            },
        )

    src = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(source_dir)
    _drain(
        src.writeStream.foreachBatch(_write_batch)
        .option("checkpointLocation", checkpoint_dir),
        timeout_sec,
    )
    return read_delta(spark, table_path)


def stream_corpus_with_text_index(
    spark: SparkSession,
    source_dir: str,
    table_path: str,
    index_path: str,
    checkpoint_dir: str,
    schema: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    txn_app_id: str = "dls_corpus_text_index",
    timeout_sec: int = 120,
) -> DataFrame:
    """Streaming corpus ingestion that stays SEARCHABLE as it lands:
    each micro-batch appends idempotently to the versioned corpus (the
    (txnAppId, epoch) pattern — crash-retried batches never re-insert)
    and then drives ``sync_text_index_from_cdf``, so the persistent
    BM25 inverted index trails the corpus by at most one commit. Both
    halves are independently replay-safe (epoch-tagged appends;
    version-pinned sync whose delete/re-index steps are idempotent), so
    the composition is too — a crash at ANY point replays into the same
    final corpus + index state.

    At scale this is the arrival loop of a production retrieval corpus:
    ingestion cost is the batch append, index maintenance cost is the
    batch's own postings (table_changes-bounded), and query batches hit
    ``query_text_index`` with zero corpus re-tokenization.

    The corpus table must exist with the change feed readable from v0
    (our tables always are) and the index is built lazily on the first
    batch. Returns the final corpus DataFrame."""
    from ..operators.text import build_text_index, sync_text_index_from_cdf
    from ..reader import read_delta
    from ..writer import write_delta

    def _write_batch(batch_df, epoch_id: int) -> None:
        if not _committed(table_path, txn_app_id, epoch_id):
            write_delta(
                batch_df,
                table_path,
                mode="append",
                operation="STREAMING INDEXED APPEND",
                operation_parameters={
                    "txnAppId": txn_app_id,
                    "txnVersion": epoch_id,
                    "outputMode": "Append",
                },
            )
        # index maintenance: build on first sight, then CDF-sync — the
        # sync is a no-op when the pin already covers the corpus head,
        # so replays cost one version compare
        if not DeltaLog(f"{index_path}/postings").exists():
            # build from the version it pins: a commit landing between
            # a latest read and a later pin would never be indexed
            v = DeltaLog(table_path).latest_version()
            build_text_index(
                read_delta(spark, table_path, version=v),
                text_col,
                id_col,
                index_path,
                corpus_version=v,
            )
        else:
            sync_text_index_from_cdf(
                spark, table_path, index_path, text_col, id_col
            )

    src = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(source_dir)
    _drain(
        src.writeStream.foreachBatch(_write_batch)
        .option("checkpointLocation", checkpoint_dir),
        timeout_sec,
    )
    return read_delta(spark, table_path)


def stream_corpus_with_vocab_sketch(
    spark: SparkSession,
    source_dir: str,
    table_path: str,
    state_path: str,
    checkpoint_dir: str,
    schema: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "lang",
    txn_app_id: str = "dls_corpus_vocab_sketch",
    timeout_sec: int = 120,
) -> DataFrame:
    """Streaming corpus ingestion with trailing VOCABULARY observability:
    each micro-batch appends idempotently to the versioned corpus (same
    (txnAppId, epoch) guard as the indexed sink) and then max-merges the
    batch's HLL registers into the persistent sketch state, so per-group
    distinct-token estimates are servable with zero corpus access while
    data lands. Replay safety needs NO extra machinery on the sketch
    half: max-merge is idempotent, so a crash-retried batch folds in as
    a no-op whether or not its corpus append was skipped — the one
    place the trailing-maintenance pattern comes for free.

    At scale the maintenance cost per batch is the batch's own register
    aggregation (<= groups x 2^p rows shuffled) and a rewrite of the
    KB-sized state table. Returns the final corpus DataFrame."""
    from ..operators.sketches import build_hll_state, update_hll_state
    from ..reader import read_delta
    from ..writer import write_delta
    from pyspark.sql import functions as F

    def _toks(df: DataFrame) -> DataFrame:
        return df.select(
            group_col,
            F.explode(
                F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
            ).alias("term"),
        )

    def _write_batch(batch_df, epoch_id: int) -> None:
        if not _committed(table_path, txn_app_id, epoch_id):
            write_delta(
                batch_df,
                table_path,
                mode="append",
                operation="STREAMING SKETCHED APPEND",
                operation_parameters={
                    "txnAppId": txn_app_id,
                    "txnVersion": epoch_id,
                    "outputMode": "Append",
                },
            )
        if not DeltaLog(state_path).exists():
            build_hll_state(
                _toks(read_delta(spark, table_path)),
                state_path,
                "term",
                [group_col],
            )
        else:
            # idempotent by construction: re-merging a replayed batch's
            # registers cannot move any register
            update_hll_state(
                _toks(batch_df), state_path, "term", [group_col]
            )

    src = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(source_dir)
    _drain(
        src.writeStream.foreachBatch(_write_batch)
        .option("checkpointLocation", checkpoint_dir),
        timeout_sec,
    )
    return read_delta(spark, table_path)


def stream_media_with_keyframes(
    spark: SparkSession,
    source_dir: str,
    table_path: str,
    keyframe_path: str,
    checkpoint_dir: str,
    schema: str,
    threshold: float = 40.0,
    txn_app_id: str = "dls_media_keyframes",
    timeout_sec: int = 120,
) -> DataFrame:
    """Streaming MEDIA ingestion with on-arrival keyframe decode: each
    micro-batch appends its binary payloads idempotently to the
    versioned media corpus AND appends that batch's decoded keyframe
    rows (gif_keyframes: full LZW decode + luma-delta shot detection,
    map-only) to a keyframe table — the landing pattern of a video
    training pipeline, where the expensive decode happens once per
    payload as it arrives, never as a backfill scan. Unlike the HLL
    sink, the derived append is NOT naturally idempotent, so BOTH
    tables carry the (txnAppId, epoch) replay guard — a crash-retried
    batch skips both appends together.

    At scale each epoch costs the batch's own decode (payloads stay on
    executors; Arrow batches) plus two log commits. Returns the final
    keyframe DataFrame."""
    from ..operators.multimodal import gif_keyframes
    from ..reader import read_delta
    from ..writer import write_delta

    def _write_batch(batch_df, epoch_id: int) -> None:
        params = {
            "txnAppId": txn_app_id,
            "txnVersion": epoch_id,
            "outputMode": "Append",
        }
        if not _committed(table_path, txn_app_id, epoch_id):
            write_delta(
                batch_df,
                table_path,
                mode="append",
                operation="STREAMING MEDIA APPEND",
                operation_parameters=params,
            )
        if not _committed(keyframe_path, txn_app_id, epoch_id):
            write_delta(
                gif_keyframes(batch_df, threshold=threshold),
                keyframe_path,
                mode="append",
                operation="STREAMING KEYFRAME APPEND",
                operation_parameters=params,
            )

    src = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(source_dir)
    _drain(
        src.writeStream.foreachBatch(_write_batch)
        .option("checkpointLocation", checkpoint_dir),
        timeout_sec,
    )
    return read_delta(spark, keyframe_path)


def stream_docs_with_span_screen(
    spark: SparkSession,
    source_dir: str,
    corpus_path: str,
    index_path: str,
    spans_path: str,
    checkpoint_dir: str,
    schema: str = "doc_id long, text string",
    txn_app_id: str = "dls_span_screen",
    timeout_sec: int = 120,
) -> DataFrame:
    """Streaming document ingestion with ON-ARRIVAL exact-substring
    screening — the incremental Lee-et-al dedup a landing zone runs:
    each micro-batch (1) appends its documents idempotently to the
    versioned corpus, (2) probes its duplicated spans against the
    PERSISTENT gram index as of the previous epoch plus the batch
    itself (spans_against_index: batch-bounded, existence-semantics)
    and appends them to a spans table, then (3) lets the index absorb
    the batch. The corpus and spans appends carry the (txnAppId,
    epoch) replay guard; the index update needs none — its known-ids
    registry makes replays no-ops. The index update runs LAST so a
    crash-retried epoch re-probes against the SAME pre-batch index
    state (update-first would make the replayed probe see the batch
    as already stored and flag every gram).

    Requires the gram index to exist (build_substring_index) — its
    frozen k governs every epoch. At scale each epoch costs the
    batch's own gram pass plus postings pruned to the batch's gram
    set; the corpus never re-aggregates. Returns the spans table."""
    from ..operators.dedup import (
        spans_against_index,
        update_substring_index,
    )
    from ..reader import read_delta
    from ..writer import write_delta

    def _write_batch(batch_df, epoch_id: int) -> None:
        params = {
            "txnAppId": txn_app_id,
            "txnVersion": epoch_id,
            "outputMode": "Append",
        }
        if not _committed(corpus_path, txn_app_id, epoch_id):
            write_delta(
                batch_df,
                corpus_path,
                mode="append",
                operation="STREAMING DOC APPEND",
                operation_parameters=params,
            )
        if not _committed(spans_path, txn_app_id, epoch_id):
            write_delta(
                spans_against_index(
                    batch_df, "text", "doc_id", index_path
                ),
                spans_path,
                mode="append",
                operation="STREAMING SPAN APPEND",
                operation_parameters=params,
            )
        # LAST: absorb the batch into the index (replay-idempotent via
        # the known-ids registry — see ordering note in the docstring)
        update_substring_index(batch_df, "text", "doc_id", index_path)

    src = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(source_dir)
    _drain(
        src.writeStream.foreachBatch(_write_batch)
        .option("checkpointLocation", checkpoint_dir),
        timeout_sec,
    )
    return read_delta(spark, spans_path)


def stream_warc_ingestion(
    spark: SparkSession,
    source_dir: str,
    verdicts_path: str,
    checkpoint_dir: str,
    schema: str = "media_id long, payload binary",
    txn_app_id: str = "dls_warc_ingest",
    timeout_sec: int = 120,
) -> DataFrame:
    """STREAMING web ingestion — the q277 pipeline composed through
    the replay-guarded incremental pattern (the q209/q237 precedent):
    WARC shards arrive as files, and each micro-batch runs the
    on-arrival record walk + HTML text extraction + URL
    canonicalization, then URL-level dedup against BOTH the batch
    (min-id keeper per canonical URL) and the PERSISTED canonical-URL
    state (the kept rows of the verdicts table so far). Every page
    gets a verdict row — kept, or rejected with its provenance
    (``dup_source`` = 'state' for a URL already in the corpus, checked
    first; 'batch' for a within-batch loser) — so the sequencing is
    OBSERVABLE: replaying both batches as one would turn every 'state'
    into a 'batch'.

    Exactly-once via the (txnAppId, epoch) idempotent-append guard; a
    crash-retried epoch re-reads the SAME pre-batch state because the
    epoch's own append is skipped on replay. 100-TB shape: the decode/
    extract/normalize stages are map-only; per epoch one batch-keyed
    aggregation plus one join against the state's distinct canonical
    URLs (at scale that relation is the batch's bloom/bucket residue,
    not a full scan — the corpus grows append-only and stays
    time-travelable). Returns the verdicts table: (media_id, url_norm,
    registered_domain, n_chars, kept boolean, dup_source string)."""
    from ..operators.multimodal import decode_warc_records
    from ..operators.web import html_extract_text, normalize_urls
    from ..reader import read_delta
    from ..writer import write_delta

    def _write_batch(batch_df, epoch_id: int) -> None:
        if _committed(verdicts_path, txn_app_id, epoch_id):
            return  # replayed epoch
        exists = DeltaLog(verdicts_path).exists()

        recs = decode_warc_records(
            batch_df, include_payload=True
        ).filter(F.col("warc_type") == "response")
        extracted = html_extract_text(recs, "payload_text", "media_id")
        urls = normalize_urls(
            recs.select("media_id", "target_uri"),
            "target_uri",
            "media_id",
        )
        pages = extracted.join(urls, "media_id").select(
            "media_id", "url_norm", "registered_domain", "n_chars"
        )
        keeper = pages.groupBy("url_norm").agg(
            F.min("media_id").alias("__keep_id")
        )
        pages = pages.join(keeper, "url_norm")
        if exists:
            seen = (
                read_delta(spark, verdicts_path)
                .filter(F.col("kept"))
                .select("url_norm")
                .distinct()
                .withColumn("__seen", F.lit(True))
            )
            pages = pages.join(seen, "url_norm", "left")
        else:
            pages = pages.withColumn(
                "__seen", F.lit(None).cast("boolean")
            )
        verdicts = pages.select(
            "media_id",
            "url_norm",
            "registered_domain",
            "n_chars",
            (
                F.col("__seen").isNull()
                & (F.col("media_id") == F.col("__keep_id"))
            ).alias("kept"),
            F.when(F.col("__seen").isNotNull(), F.lit("state"))
            .when(
                F.col("media_id") != F.col("__keep_id"), F.lit("batch")
            )
            .alias("dup_source"),
        )
        write_delta(
            verdicts,
            verdicts_path,
            mode="append",
            operation="STREAMING WARC INGEST",
            operation_parameters={
                "txnAppId": txn_app_id,
                "txnVersion": epoch_id,
                "outputMode": "Append",
            },
        )

    src = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(source_dir)
    _drain(
        src.writeStream.foreachBatch(_write_batch)
        .option("checkpointLocation", checkpoint_dir),
        timeout_sec,
    )
    return read_delta(spark, verdicts_path)


def stream_chat_ingestion(
    spark: SparkSession,
    source_dir: str,
    verdicts_path: str,
    checkpoint_dir: str,
    schema: str = "doc_id long, convo string",
    txn_app_id: str = "dls_chat_ingest",
    timeout_sec: int = 120,
) -> DataFrame:
    """STREAMING SFT transcript ingestion — the post-training arrival
    path through the replay-guarded incremental pattern (the
    q284/q209/q237 precedent): transcript shards arrive as files, and
    each micro-batch runs the on-arrival format audit
    (conversation_stats: strict alternation + trainable final turn),
    role-aware serialization, and EXACT conversation dedup against
    BOTH the batch (min-id keeper per serialization key) and the
    PERSISTED key state (the kept rows of the verdicts table so far).
    Every transcript gets a verdict row — kept, or rejected with its
    provenance: ``format_ok`` false (audit failure — format-failed
    rows never claim a dedup key), ``dup_source`` = 'state' (key
    already ingested by an earlier batch) or 'batch' (within-batch
    loser) — so the epoch sequencing is observable exactly like the
    WARC tier. Exactly-once via the (txnAppId, epoch)
    idempotent-append guard. 100-TB shape: audit and serialization
    are map-only; per epoch one key-keyed aggregation plus one join
    against the state's distinct keys. The key is md5 of the
    serialization (engine-portable, oracle-replayable; swap xxhash64
    at scale — collisions would hit both engines identically).
    Returns the verdicts table: (doc_id, conv_key, format_ok, kept,
    dup_source)."""
    from ..operators.chat import conversation_stats, serialize_conversations
    from ..reader import read_delta
    from ..writer import write_delta

    def _write_batch(batch_df, epoch_id: int) -> None:
        if _committed(verdicts_path, txn_app_id, epoch_id):
            return  # replayed epoch
        exists = DeltaLog(verdicts_path).exists()

        stats = conversation_stats(batch_df, "convo", "doc_id").select(
            "doc_id",
            F.coalesce(
                F.col("alternation_ok") & F.col("ends_with_assistant"),
                F.lit(False),
            ).alias("format_ok"),
        )
        keyed = (
            serialize_conversations(batch_df, "convo", "doc_id")
            .select("doc_id", F.md5("conv_text").alias("conv_key"))
            .join(stats, "doc_id")
        )
        keeper = (
            keyed.filter("format_ok")
            .groupBy("conv_key")
            .agg(F.min("doc_id").alias("__keep_id"))
        )
        keyed = keyed.join(keeper, "conv_key", "left")
        if exists:
            seen = (
                read_delta(spark, verdicts_path)
                .filter(F.col("kept"))
                .select("conv_key")
                .distinct()
                .withColumn("__seen", F.lit(True))
            )
            keyed = keyed.join(seen, "conv_key", "left")
        else:
            keyed = keyed.withColumn(
                "__seen", F.lit(None).cast("boolean")
            )
        verdicts = keyed.select(
            "doc_id",
            "conv_key",
            "format_ok",
            (
                F.col("format_ok")
                & F.col("__seen").isNull()
                & (F.col("doc_id") == F.col("__keep_id"))
            ).alias("kept"),
            F.when(~F.col("format_ok"), F.lit(None).cast("string"))
            .when(F.col("__seen").isNotNull(), F.lit("state"))
            .when(F.col("doc_id") != F.col("__keep_id"), F.lit("batch"))
            .alias("dup_source"),
        )
        write_delta(
            verdicts,
            verdicts_path,
            mode="append",
            operation="STREAMING CHAT INGEST",
            operation_parameters={
                "txnAppId": txn_app_id,
                "txnVersion": epoch_id,
                "outputMode": "Append",
            },
        )

    src = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(source_dir)
    _drain(
        src.writeStream.foreachBatch(_write_batch)
        .option("checkpointLocation", checkpoint_dir),
        timeout_sec,
    )
    return read_delta(spark, verdicts_path)


def stream_decayed_event_state(
    spark: SparkSession,
    source_dir: str,
    state_path: str,
    checkpoint_dir: str,
    schema: str,
    type_col: str = "event_type",
    ts_col: str = "ts",
    half_life_days: int = 7,
    txn_app_id: str = "dls_decayed_events",
    timeout_sec: int = 120,
) -> None:
    """Streaming maintenance of the fixed-point decay state: each
    micro-batch reduces to (type, calendar half-life bucket, exact
    count) rows — bounded by types x buckets-in-batch — and appends
    them to the state table behind the standard (txnAppId, epoch)
    replay guard (counts are NOT idempotent, so a crash-retried batch
    must skip). Decay weights are NOT applied here: the state stores
    calendar buckets (epoch-days div half_life), so the reference
    point can keep moving as data arrives and
    :func:`estimate_decayed_state` weights against the CURRENT max
    bucket at read time — a decayed score that never needs the raw
    events again.
    """
    from ..writer import write_delta
    from pyspark.sql import functions as F

    def _write_batch(batch_df, epoch_id: int) -> None:
        if _committed(state_path, txn_app_id, epoch_id):
            return  # replayed epoch: adds must not re-land
        buckets = (
            batch_df.select(
                F.col(type_col).alias("etype"),
                F.expr(
                    f"datediff(to_date({ts_col}), DATE '1970-01-01')"
                    f" div {int(half_life_days)}"
                ).alias("bucket"),
            )
            .groupBy("etype", "bucket")
            .agg(F.count("*").cast("long").alias("n"))
        )
        write_delta(
            buckets,
            state_path,
            mode="append",
            operation="STREAMING DECAY BUCKETS",
            operation_parameters={
                "txnAppId": txn_app_id,
                "txnVersion": epoch_id,
                "outputMode": "Append",
            },
        )

    src = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(source_dir)
    _drain(
        src.writeStream.foreachBatch(_write_batch)
        .option("checkpointLocation", checkpoint_dir),
        timeout_sec,
    )


def estimate_decayed_state(
    spark: SparkSession,
    state_path: str,
    horizon_halflives: int = 40,
) -> DataFrame:
    """Serve per-type decayed scores from the bucket state alone: the
    reference is the state's CURRENT max bucket, each bucket's weight
    is 2^(horizon - age) as an exact long (0 beyond the horizon), and
    the reported score is one IEEE division — the streaming-state
    mirror of operators/events.decayed_event_rates, bit-exact
    against a batch replay of the same calendar-bucket arithmetic.
    The weighted sum is carried in decimal(38,0) (exact, order-free,
    cannot wrap) and the cast back to the long ``score_fixed`` raises
    loudly if the total exceeds 2^63-1 — exceeding the fixed-point
    contract fails instead of wrapping silently.
    Returns (etype, n_events, score_fixed, score)."""
    from ..reader import read_delta
    from pyspark.sql import functions as F

    if not 1 <= horizon_halflives <= 62:
        raise ValueError(
            f"horizon_halflives must be in [1, 62], got {horizon_halflives}"
        )
    h = int(horizon_halflives)
    state = read_delta(spark, state_path)
    ref = state.agg(F.max("bucket").alias("__ref"))
    # per-row product and the sum both in decimal(38,0): n * 2^(h-age)
    # can itself exceed 2^63 for a heavy bucket at high horizons.
    w = F.when(
        (F.col("__ref") - F.col("bucket") >= 0)
        & (F.col("__ref") - F.col("bucket") <= h),
        F.expr(
            f"CAST(n AS DECIMAL(38,0))"
            f" * CAST(shiftleft(CAST(1 AS BIGINT), {h} - (__ref - bucket))"
            f"        AS DECIMAL(38,0))"
        ),
    ).otherwise(F.lit(0).cast("decimal(38,0)"))
    guarded = F.when(
        F.col("__sf_dec") > F.lit(2 ** 63 - 1).cast("decimal(38,0)"),
        F.raise_error(
            F.concat(
                F.lit(
                    "estimate_decayed_state: fixed-point sum exceeds"
                    " 2^63-1 at horizon_halflives="
                    + str(h)
                    + " — lower the horizon; overflowing sum="
                ),
                F.col("__sf_dec").cast("string"),
            )
        ).cast("long"),
    ).otherwise(F.col("__sf_dec").cast("long"))
    return (
        state.crossJoin(F.broadcast(ref))
        .select("etype", "n", w.alias("__w"))
        .groupBy("etype")
        .agg(
            F.sum("n").cast("long").alias("n_events"),
            F.sum("__w").alias("__sf_dec"),
        )
        .select(
            "etype",
            "n_events",
            guarded.alias("score_fixed"),
            F.round(
                F.col("__sf_dec").cast("double") / F.lit(float(2 ** h)),
                9,
            ).alias("score"),
        )
    )
