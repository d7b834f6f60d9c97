"""Sessionization: split each user's event stream into sessions at
inactivity gaps.

Two implementations with identical semantics:

  - ``sessionize_batch``: pure built-in composition (lag window ->
    new-session flag -> running sum -> groupBy) — fully ANSI-SQL
    expressible, so it carries the DuckDB oracle.
  - ``sessionize_stream``: the custom stateful streaming operator the
    built-in operators can't express incrementally —
    ``applyInPandasWithState`` with per-user session state and
    event-time timeouts. Closed sessions are emitted as soon as the
    gap (or the watermark-driven timeout) proves no more events can
    join them; the still-open tail session per user stays in state.

Scale notes: state is O(active users) with a few scalars per key —
the canonical keyed-state shape; the batch variant's only shuffle is
the per-user window/groupBy which co-partitions on user_id once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .incremental import _drain

SESSION_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, "
    "n_events long, total_value double"
)
_STATE_SCHEMA = "start long, end long, n long, total double"


def sessionize_batch(
    events: DataFrame,
    gap_minutes: int = 30,
    ts_col: str = "ts",
    user_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Sessions per user: a new session starts when the gap to the
    previous event exceeds ``gap_minutes``. Returns one row per session:
    (user_id, session_start, session_end, n_events, total_value)."""
    ts = F.col(ts_col).cast("timestamp")
    w = Window.partitionBy(user_col).orderBy("__ts")
    gapped = events.select(
        F.col(user_col), ts.alias("__ts"), F.col(value_col).alias("__v")
    ).withColumn("__prev", F.lag("__ts").over(w))
    flagged = gapped.withColumn(
        "__new",
        (
            F.col("__prev").isNull()
            | (
                F.col("__ts").cast("long") - F.col("__prev").cast("long")
                > gap_minutes * 60
            )
        ).cast("long"),
    )
    numbered = flagged.withColumn(
        "__sid", F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        numbered.groupBy(user_col, "__sid")
        .agg(
            F.min("__ts").alias("session_start"),
            F.max("__ts").alias("session_end"),
            F.count("*").alias("n_events"),
            F.sum("__v").alias("total_value"),
        )
        .drop("__sid")
    )


def _make_session_fn(gap_us: int, sentinel_type: str | None = None):
    """Build the applyInPandasWithState function: folds a user's events
    into sessions, emitting every session that is provably closed and
    keeping the open tail in state until the event-time timeout fires.

    ``sentinel_type``: event_type value marking FLUSH sentinels — rows
    that only push event time forward (closing any session the gap has
    passed) and never join or open a session. Feeding one far-future
    sentinel per user makes the emitted set deterministic (== batch
    sessionization), which is what the oracle-checked q59 uses.

    State timestamps are MICROseconds (full parquet timestamp
    precision); only the timeout registration rounds to Spark's ms
    clock, rounded UP so it never fires before the gap elapses."""

    def fn(key, pdf_iter, state):
        import pandas as pd

        def emit(rows):
            return pd.DataFrame(
                rows,
                columns=[
                    "user_id",
                    "session_start",
                    "session_end",
                    "n_events",
                    "total_value",
                ],
            )

        (user_id,) = key
        if state.hasTimedOut:
            s, e, n, total = state.get
            state.remove()
            yield emit(
                [
                    (
                        user_id,
                        pd.Timestamp(s, unit="us"),
                        pd.Timestamp(e, unit="us"),
                        n,
                        total,
                    )
                ]
            )
            return

        events = pd.concat(list(pdf_iter)).sort_values("ts")
        ts_us = (events["ts"].astype("int64") // 1_000).tolist()
        vals = events["value"].tolist()
        types = (
            events["event_type"].tolist()
            if sentinel_type is not None
            else [None] * len(ts_us)
        )

        cur = state.get if state.exists else None  # (start, end, n, total)
        closed = []
        for t, v, et in zip(ts_us, vals, types):
            if sentinel_type is not None and et == sentinel_type:
                # flush sentinel: advances event time only — close the
                # open session if the gap has provably passed
                if cur is not None and t - cur[1] > gap_us:
                    closed.append(cur)
                    cur = None
                continue
            if cur is None:
                cur = (t, t, 1, float(v))
            elif t - cur[1] > gap_us:
                closed.append(cur)
                cur = (t, t, 1, float(v))
            else:
                cur = (cur[0], max(cur[1], t), cur[2] + 1, cur[3] + float(v))
        if cur is not None:
            state.update(cur)
            state.setTimeoutTimestamp(-((cur[1] + gap_us) // -1000))
        elif state.exists:
            state.remove()
        yield emit(
            [
                (
                    user_id,
                    pd.Timestamp(s, unit="us"),
                    pd.Timestamp(e, unit="us"),
                    n,
                    total,
                )
                for s, e, n, total in closed
            ]
        )

    return fn


def sessionize_stream(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    schema: str,
    gap_minutes: int = 30,
    query_name: str = "dls_sessions",
    timeout_sec: int = 120,
    flush_sentinel: str | None = None,
) -> DataFrame:
    """Run stateful sessionization over a parquet directory as an
    availableNow stream into a memory sink; returns the emitted (closed)
    sessions. The per-user tail session remains in state — it is not
    provably over until more data or watermark movement closes it —
    UNLESS ``flush_sentinel`` names an event_type whose rows act as
    pure time-advancers: feed one far-future sentinel per user and the
    emitted set equals batch sessionization exactly."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    src = (
        spark.readStream.schema(schema)
        .parquet(source_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "0 seconds")
    )
    out = src.groupBy("user_id").applyInPandasWithState(
        _make_session_fn(gap_minutes * 60 * 1_000_000, flush_sentinel),
        outputStructType=SESSION_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    _drain(
        out.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir),
        timeout_sec,
    )
    return spark.table(query_name)
