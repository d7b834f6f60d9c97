"""Delta-format mutation queries: each builds a versioned table in a
scratch directory, applies mutations through the engine (MERGE / DELETE
/ schema evolution / OPTIMIZE / time travel), then returns a DataFrame
summarizing the post-state. The DuckDB oracle expresses the expected
post-state RELATIONALLY from the source tables (SURVEY.md §5.2), so the
whole ACID path — log commits, file rewrites, snapshot resolution — is
value-checked, not just row-counted.

Scratch tables live under /tmp/dls_query_tables/<name>, recreated per
run for determinism.
"""

from __future__ import annotations

import os
import shutil
from datetime import timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..reader import read_delta
from ..table import DeltaTable
from ..writer import write_delta
from .relational import _dec, _events, _t

_SCRATCH = "/tmp/dls_query_tables"


def _fresh(name: str) -> str:
    path = os.path.join(_SCRATCH, name)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(_SCRATCH, exist_ok=True)
    return path


# --------------------------------------------------------------------------
# q50 MERGE full upsert (M3) -> aggregate post-state
# --------------------------------------------------------------------------

def q50_delta_merge_upsert(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    path = _fresh("merge_upsert")
    write_delta(orders, path)

    updates = orders.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        "o_custkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") + 1000.0).alias("o_totalprice"),
        "o_orderdate",
        "o_orderpriority",
    )
    inserts = orders.filter(F.col("o_orderkey") % 11 == 0).select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        "o_custkey",
        F.lit("N").alias("o_orderstatus"),
        "o_totalprice",
        "o_orderdate",
        F.lit("9-NEW").alias("o_orderpriority"),
    )
    source = updates.unionByName(inserts)

    dt = DeltaTable.forPath(spark, path)
    (
        dt.alias("t")
        .merge(source, "t.o_orderkey = s.o_orderkey", source_alias="s")
        .whenMatchedUpdateAll()
        .whenNotMatchedInsertAll()
        .execute()
    )
    return (
        read_delta(spark, path)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.sum(_dec("o_totalprice")).cast("double").alias("total"),
        )
    )


_Q50_SQL = """
WITH upd AS (
  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus, o_totalprice + 1000.0 AS o_totalprice,
         o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 7 = 0
),
ins AS (
  SELECT o_orderkey + 10000000 AS o_orderkey, o_custkey, 'N' AS o_orderstatus,
         o_totalprice, o_orderdate, '9-NEW' AS o_orderpriority
  FROM orders WHERE o_orderkey % 11 = 0
),
final AS (
  SELECT * FROM orders WHERE o_orderkey % 7 <> 0
  UNION ALL SELECT * FROM upd
  UNION ALL SELECT * FROM ins
)
SELECT o_orderstatus, COUNT(*) AS n,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM final GROUP BY o_orderstatus
"""


# --------------------------------------------------------------------------
# q51 DELETE + time travel (M5 + S6) -> current and v0 counts
# --------------------------------------------------------------------------

def q51_delta_delete_timetravel(spark, sf_dir):
    ev = _events(spark, sf_dir)
    path = _fresh("delete_tt")
    write_delta(ev, path)
    DeltaTable.forPath(spark, path).delete("event_type = 'error'")
    cur = read_delta(spark, path).count()
    v0 = read_delta(spark, path, version=0).count()
    return spark.createDataFrame(
        [(cur, v0)], "current_count long, v0_count long"
    )


_Q51_SQL = """
SELECT
  (SELECT COUNT(*) FROM events WHERE event_type <> 'error') AS current_count,
  (SELECT COUNT(*) FROM events) AS v0_count
"""


# --------------------------------------------------------------------------
# q52 MERGE delete-only with status semantics (M1/M2 bronze-status shape)
# --------------------------------------------------------------------------

def q52_delta_status_merge(spark, sf_dir):
    """The reference's bronze status lifecycle (operations.py:149-166):
    mark loaded rows, quarantine negatives, count by status."""
    ev = _events(spark, sf_dir).withColumn("status", F.lit("new"))
    path = _fresh("status_merge")
    write_delta(ev, path)
    dt = DeltaTable.forPath(spark, path)

    clean = _events(spark, sf_dir).filter(F.col("value") >= 1).select("event_id")
    (
        dt.alias("bronze")
        .merge(clean, "bronze.event_id = clean.event_id", source_alias="clean")
        .whenMatchedUpdate(set={"status": "'loaded'"})
        .execute()
    )
    bad = _events(spark, sf_dir).filter(F.col("value") < 1).select("event_id")
    (
        dt.alias("bronze")
        .merge(bad, "bronze.event_id = bad.event_id", source_alias="bad")
        .whenMatchedUpdate(set={"status": "'quarantined'"})
        .execute()
    )
    return (
        read_delta(spark, path)
        .groupBy("status")
        .agg(F.count("*").alias("n"))
    )


_Q52_SQL = """
SELECT CASE WHEN value >= 1 THEN 'loaded' ELSE 'quarantined' END AS status,
       COUNT(*) AS n
FROM events GROUP BY 1
"""


# --------------------------------------------------------------------------
# q53 schema evolution append (S11) -> null/non-null counts per column
# --------------------------------------------------------------------------

def q53_delta_schema_evolution(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    path = _fresh("schema_evo")
    write_delta(docs.filter(F.col("doc_id") % 2 == 0), path)
    evolved = docs.filter(F.col("doc_id") % 2 == 1).withColumn(
        "quality_tier", F.when(F.col("n_chars") > 300, "long").otherwise("short")
    )
    write_delta(evolved, path, merge_schema=True)
    got = read_delta(spark, path)
    return got.groupBy("quality_tier").agg(
        F.count("*").alias("n"), F.sum("n_chars").alias("total_chars")
    )


_Q53_SQL = """
SELECT CASE WHEN doc_id % 2 = 1 THEN (CASE WHEN n_chars > 300 THEN 'long' ELSE 'short' END) END AS quality_tier,
       COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY 1
"""


# --------------------------------------------------------------------------
# q54 OPTIMIZE preserves data (compaction no-op on content)
# --------------------------------------------------------------------------

def q54_delta_optimize_roundtrip(spark, sf_dir):
    ev = _events(spark, sf_dir)
    path = _fresh("optimize_rt")
    for i in range(5):  # five small appends -> many small files
        write_delta(ev.filter(F.col("event_id") % 5 == i), path)
    dt = DeltaTable.forPath(spark, path)
    before_files = dt._log.snapshot().num_files
    dt.optimize(target_file_bytes=64 * 1024 * 1024)
    after_files = dt._log.snapshot().num_files
    assert after_files < before_files, "compaction must reduce file count"
    return (
        read_delta(spark, path)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(_dec("value")).cast("double").alias("sum_value"),
        )
    )


_Q54_SQL = """
SELECT event_type, COUNT(*) AS n,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY event_type
"""


# --------------------------------------------------------------------------
# q55 convert-to-delta on partitioned parquet (S12) + partition-pruned read
# --------------------------------------------------------------------------

def q55_delta_convert_parquet(spark, sf_dir):
    ev = _events(spark, sf_dir).withColumn(
        "p_type", F.col("event_type")
    )
    path = _fresh("convert")
    ev.write.partitionBy("p_type").parquet(path)
    DeltaTable.convertToDelta(spark, path, "p_type string")
    got = read_delta(spark, path, partition_filter={"p_type": "purchase"})
    return got.groupBy("p_type").agg(
        F.count("*").alias("n"),
        F.sum(_dec("value")).cast("double").alias("sum_value"),
    )


_Q55_SQL = """
SELECT event_type AS p_type, COUNT(*) AS n,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events WHERE event_type = 'purchase' GROUP BY 1
"""


# --------------------------------------------------------------------------
# q56 rollback-by-reinsert from old version (M6, 05_compliance.py:203-209)
# --------------------------------------------------------------------------

def q56_delta_rollback_reinsert(spark, sf_dir):
    ev = _events(spark, sf_dir)
    path = _fresh("rollback")
    write_delta(ev, path)  # v0
    dt = DeltaTable.forPath(spark, path)
    dt.delete("user_id = 7")  # v1: GDPR-style delete
    # restore user 7's purchase rows from v0 (INSERT INTO ... VERSION AS OF)
    old = read_delta(spark, path, version=0).filter(
        (F.col("user_id") == 7) & (F.col("event_type") == "purchase")
    )
    write_delta(old, path)  # v2 append
    return (
        read_delta(spark, path)
        .filter(F.col("user_id") == 7)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )


_Q56_SQL = """
SELECT event_type, COUNT(*) AS n
FROM events WHERE user_id = 7 AND event_type = 'purchase'
GROUP BY event_type
"""


# --------------------------------------------------------------------------
# q57 streaming availableNow windowed aggregation (SURVEY §2.10 increment)
# --------------------------------------------------------------------------

def q57_streaming_windowed_counts(spark, sf_dir):
    """Watermarked tumbling-window counts computed by an actual
    Structured Streaming query (availableNow drain into a memory sink);
    the batch-SQL oracle proves stream==batch equivalence."""
    from ..streaming.incremental import run_windowed_stream

    ev = _events(spark, sf_dir)
    path = _fresh("stream_src")
    ev.write.parquet(path)
    out = run_windowed_stream(
        spark,
        path,
        _fresh("stream_ckpt"),
        schema="event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string",
        query_name="q57_windowed",
    )
    return out.select(
        F.col("window_start").cast("timestamp_ntz").alias("window_start"),
        "event_type",
        "n",
    )


_Q57_SQL = """
SELECT date_trunc('hour', ts) AS window_start, event_type, COUNT(*) AS n
FROM events GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# q58/q59 sessionization: batch composition (oracle-checked) + the custom
# stateful streaming operator (applyInPandasWithState)
# --------------------------------------------------------------------------

def q58_sessionize(spark, sf_dir):
    """Inactivity-gap sessionization, batch form (lag -> flag -> running
    sum -> groupBy): one shuffle on user_id; ANSI-SQL oracle."""
    from ..streaming.sessionize import sessionize_batch

    out = sessionize_batch(_events(spark, sf_dir), gap_minutes=30)
    return out.select(
        "user_id",
        F.col("session_start").cast("timestamp_ntz").alias("session_start"),
        F.col("session_end").cast("timestamp_ntz").alias("session_end"),
        "n_events",
        F.round("total_value", 6).alias("total_value"),
    )


_Q58_SQL = """
WITH ordered AS (
  SELECT user_id, ts, value,
    lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
  FROM events
),
flagged AS (
  SELECT user_id, ts, value,
    CASE WHEN prev IS NULL OR epoch(ts) - epoch(prev) > 1800 THEN 1 ELSE 0 END AS new_s
  FROM ordered
),
numbered AS (
  SELECT user_id, ts, value,
    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
  COUNT(*) AS n_events, ROUND(SUM(value), 6) AS total_value
FROM numbered GROUP BY user_id, sid
"""


def q59_sessionize_stateful_stream(spark, sf_dir):
    """ALL sessions emitted by the applyInPandasWithState operator
    draining the events table as an availableNow stream: one far-future
    flush sentinel per user deterministically closes each tail session,
    so the emitted set equals batch sessionization and carries the q58
    islands oracle (stream==batch also asserted in tests)."""
    from ..streaming.sessionize import sessionize_stream

    ev = _events(spark, sf_dir)
    path = _fresh("session_src")
    flush_ts = F.max("ts") + F.expr("INTERVAL 30 DAYS")
    sentinels = ev.groupBy("user_id").agg(
        flush_ts.alias("ts"),
        F.lit(None).cast("long").alias("event_id"),
        F.lit("__flush__").alias("event_type"),
        F.lit(0.0).alias("value"),
        F.lit(None).cast("string").alias("props"),
    )
    ev.unionByName(sentinels.select(*ev.columns)).write.parquet(path)
    out = sessionize_stream(
        spark,
        path,
        _fresh("session_ckpt"),
        schema="event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string",
        gap_minutes=30,
        query_name="q59_sessions",
        flush_sentinel="__flush__",
    )
    return out.select(
        "user_id",
        F.col("session_start").cast("timestamp_ntz").alias("session_start"),
        F.col("session_end").cast("timestamp_ntz").alias("session_end"),
        "n_events",
        F.round("total_value", 6).alias("total_value"),
    )


# --------------------------------------------------------------------------
# q60 change data feed: delete commit -> exact deleted rows (CDF read side)
# --------------------------------------------------------------------------

def q60_cdf_deletes(spark, sf_dir):
    """table_changes over a GDPR-style delete: the feed must contain
    exactly the deleted rows, tagged delete @ the deleting version."""
    from ..cdf import table_changes

    ev = _events(spark, sf_dir).select("event_id", "user_id", "event_type")
    path = _fresh("cdf_del")
    write_delta(ev, path)                                   # v0
    DeltaTable.forPath(spark, path).delete("event_type = 'error'")  # v1
    ch = table_changes(spark, path, 1, 1)
    return ch.select(
        "event_id", "user_id", "event_type", "_change_type",
        F.col("_commit_version").cast("long").alias("_commit_version"),
    )


_Q60_SQL = """
SELECT event_id, user_id, event_type,
       'delete' AS _change_type, CAST(1 AS BIGINT) AS _commit_version
FROM events WHERE event_type = 'error'
"""


# --------------------------------------------------------------------------
# q61 deletion-vector DELETE: two stacked DVs, no file rewrites (M5 at scale)
# --------------------------------------------------------------------------

def q61_delta_dv_delete(spark, sf_dir):
    """DELETE via deletion vectors — the scattered-delete path that at
    100 TB costs one scan + a tiny sidecar instead of a table rewrite.
    Two stacked DV deletes exercise sidecar merging; the post-state is
    value-checked against the relational complement."""
    ev = _events(spark, sf_dir)
    path = _fresh("dv_delete")
    write_delta(ev, path)
    dt = DeltaTable.forPath(spark, path)
    dt.delete("event_type = 'error'", use_dv=True)
    dt.delete("value < 0.1", use_dv=True)
    assert set(dt._log.snapshot().files) == set(dt._log.snapshot(0).files), \
        "DV delete must not rewrite data files"
    return (
        read_delta(spark, path)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
    )


_Q61_SQL = """
SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 6) AS total_value
FROM events
WHERE COALESCE(event_type = 'error', FALSE) = FALSE
  AND COALESCE(value < 0.1, FALSE) = FALSE
GROUP BY event_type
"""


# --------------------------------------------------------------------------
# q62 shallow CLONE: zero-copy fork, divergent mutation isolated from source
# --------------------------------------------------------------------------

def q62_delta_clone_diverge(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    path = _fresh("clone_src")
    write_delta(orders, path)
    clone_path = os.path.join(_SCRATCH, "clone_dst")
    shutil.rmtree(clone_path, ignore_errors=True)
    clone = DeltaTable.forPath(spark, path).clone(clone_path, shallow=True)
    clone.delete("o_orderstatus = 'F'")
    src_rows = read_delta(spark, path).count()
    return (
        read_delta(spark, clone_path)
        .agg(
            F.count("*").alias("clone_rows"),
            F.sum(_dec("o_totalprice")).cast("double").alias("clone_total"),
        )
        .select(
            F.lit(src_rows).cast("long").alias("source_rows"),
            "clone_rows",
            "clone_total",
        )
    )


_Q62_SQL = """
SELECT (SELECT COUNT(*) FROM orders) AS source_rows,
       COUNT(*) AS clone_rows,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS clone_total
FROM orders WHERE o_orderstatus <> 'F'
"""


# --------------------------------------------------------------------------
# q63 OPTIMIZE ZORDER BY: Morton layout, content-preserving, prunable reads
# --------------------------------------------------------------------------

def q63_delta_zorder_layout(spark, sf_dir):
    """Z-order rewrite then a skipping-pruned point read on one of the
    clustered dimensions; value-checked so the layout change is proven
    content-preserving."""
    ev = _events(spark, sf_dir).select("event_id", "user_id", "event_type", "value")
    path = _fresh("zorder")
    write_delta(ev, path)
    dt = DeltaTable.forPath(spark, path)
    dt.optimize(target_file_bytes=64 * 1024, zorder_by=["user_id", "value"])
    got = read_delta(spark, path, predicate="user_id = 42")
    return (
        got.filter("user_id = 42")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
    )


_Q63_SQL = """
SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 6) AS total_value
FROM events WHERE user_id = 42 GROUP BY event_type
"""


# --------------------------------------------------------------------------
# q64 streaming dedup within watermark: exactly-once under at-least-once
# --------------------------------------------------------------------------

def q64_streaming_dedup(spark, sf_dir):
    """Each event delivered twice (simulated at-least-once feed); the
    watermark-bounded streaming dedup must reconstruct exactly the
    original table — the batch group-by oracle proves it."""
    from ..streaming.incremental import run_dedup_stream

    ev = _events(spark, sf_dir)
    path = _fresh("dedup_stream_src")
    ev.unionByName(ev).write.parquet(path)  # duplicate every event
    out = run_dedup_stream(
        spark,
        path,
        _fresh("dedup_stream_ckpt"),
        schema="event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string",
        key_cols=["event_id"],
        query_name="q64_dedup",
    )
    return out.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 6).alias("total_value"),
    )


_Q64_SQL = """
SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 6) AS total_value
FROM events GROUP BY event_type
"""


# --------------------------------------------------------------------------
# q65 COPY INTO: file-level idempotent ingest (double-run loads once)
# --------------------------------------------------------------------------

def q65_copy_into_idempotent(spark, sf_dir):
    """COPY INTO run twice over the same landing directory must load the
    data exactly once (file-level bookkeeping in the commit log)."""
    from ..writer import copy_into

    orders = _t(spark, sf_dir, "orders")
    landing = _fresh("copy_landing")
    orders.write.parquet(landing)
    path = _fresh("copy_into_t")
    copy_into(spark, path, landing)
    _, n_second = copy_into(spark, path, landing)
    assert n_second == 0, "second COPY INTO must load no files"
    return (
        read_delta(spark, path)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.sum(_dec("o_totalprice")).cast("double").alias("total"),
        )
    )


_Q65_SQL = """
SELECT o_orderstatus, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders GROUP BY o_orderstatus
"""


# --------------------------------------------------------------------------
# q66 streaming INTO a versioned table: exactly-once sink via epoch txns
# --------------------------------------------------------------------------

def q66_streaming_delta_sink(spark, sf_dir):
    """Two availableNow drains into the same versioned table, then a
    checkpoint-loss replay — the epoch bookkeeping must keep the table
    equal to exactly one copy of the source (batch group-by oracle)."""
    import shutil

    from ..streaming.incremental import stream_into_delta

    ev = _events(spark, sf_dir).select("event_id", "user_id", "event_type", "value")
    src = _fresh("sink_src")
    tbl = _fresh("sink_tbl")
    ckpt = _fresh("sink_ckpt")
    schema = "event_id long, user_id long, event_type string, value double"

    half = ev.filter("event_id % 2 = 0")
    rest = ev.filter("event_id % 2 = 1")
    half.write.parquet(src)
    stream_into_delta(spark, src, tbl, ckpt, schema, txn_app_id="q66")
    rest.write.mode("append").parquet(src)
    stream_into_delta(spark, src, tbl, ckpt, schema, txn_app_id="q66")
    shutil.rmtree(ckpt)  # lose the checkpoint: epochs replay, must skip
    stream_into_delta(spark, src, tbl, ckpt, schema, txn_app_id="q66")

    return (
        read_delta(spark, tbl)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
    )


_Q66_SQL = """
SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 6) AS total_value
FROM events GROUP BY event_type
"""


def q75_delta_column_mapping(spark, sf_dir):
    """ALTER TABLE lifecycle through column mapping: rename + drop +
    add column are metadata-only commits (no file rewritten); appends
    and a predicate delete on the RENAMED column then run against the
    mapped schema. The oracle reproduces the expected post-state
    relationally, so physical-name indirection is value-checked."""
    cust = _t(spark, sf_dir, "customer")
    path = _fresh("column_mapping")
    write_delta(cust, path)

    dt = DeltaTable.forPath(spark, path)
    dt.rename_column("c_acctbal", "balance")
    dt.drop_column("c_nationkey")
    dt.add_columns({"tier": "string"})

    extra = cust.filter(F.col("c_custkey") % 10 == 0).select(
        (F.col("c_custkey") + 1_000_000).alias("c_custkey"),
        "c_name",
        (F.col("c_acctbal") * 2).alias("balance"),
        "c_mktsegment",
        F.lit("X").alias("tier"),
    )
    write_delta(extra, path)
    dt.delete("balance < 0")

    return (
        read_delta(spark, path)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n"),
            F.sum(_dec("balance")).cast("double").alias("total"),
            F.count("tier").alias("n_tier"),
        )
    )


_Q75_SQL = """
WITH base AS (
  SELECT c_custkey, c_name, c_acctbal AS balance, c_mktsegment,
         CAST(NULL AS VARCHAR) AS tier
  FROM customer
),
appended AS (
  SELECT c_custkey + 1000000 AS c_custkey, c_name,
         c_acctbal * 2 AS balance, c_mktsegment, 'X' AS tier
  FROM customer WHERE c_custkey % 10 = 0
),
allr AS (SELECT * FROM base UNION ALL SELECT * FROM appended)
SELECT c_mktsegment, COUNT(*) AS n,
  CAST(SUM(CAST(balance AS DECIMAL(18,2))) AS DOUBLE) AS total,
  COUNT(tier) AS n_tier
FROM allr WHERE balance >= 0
GROUP BY c_mktsegment
"""


def q78_cdf_streaming_drain(spark, sf_dir):
    """CDF as an incremental streaming source: two drains (one after the
    delete commit, one after a later append) accumulate the same feed a
    full table_changes read produces — exactly-once across drains is
    value-checked by the oracle's relational reconstruction."""
    import shutil as _shutil

    from ..streaming.incremental import stream_table_changes

    ev = _events(spark, sf_dir).select("event_id", "user_id", "event_type")
    path = _fresh("cdf_stream")
    feed_dir = os.path.join(_SCRATCH, "cdf_stream_feed")
    _shutil.rmtree(feed_dir, ignore_errors=True)

    write_delta(ev, path)                                            # v0
    DeltaTable.forPath(spark, path).delete("event_type = 'error'")   # v1
    stream_table_changes(spark, path, feed_dir)                      # drain 1
    late = ev.filter(F.col("event_type") == "purchase").withColumn(
        "event_id", F.col("event_id") + 10_000_000
    )
    write_delta(late, path)                                          # v2
    feed = stream_table_changes(spark, path, feed_dir)               # drain 2
    return feed.select(
        "event_id", "user_id", "event_type", "_change_type",
        F.col("_commit_version").cast("long").alias("_commit_version"),
    )


_Q78_SQL = """
SELECT event_id, user_id, event_type,
       'delete' AS _change_type, CAST(1 AS BIGINT) AS _commit_version
FROM events WHERE event_type = 'error'
UNION ALL
SELECT event_id + 10000000 AS event_id, user_id, event_type,
       'insert' AS _change_type, CAST(2 AS BIGINT) AS _commit_version
FROM events WHERE event_type = 'purchase'
"""


def q117_stream_outer_join(spark, sf_dir):
    """Stream-stream LEFT OUTER interval join: every view event pairs
    with the same user's purchases within 30 minutes, or emits a NULL
    purchase once the watermark proves none can arrive. A far-future
    sentinel row per side advances the final watermark so trailing
    unmatched views flush; the batch LEFT JOIN oracle proves
    stream==batch row-for-row, nulls included."""
    from ..streaming.incremental import run_stream_stream_outer_join

    ev = _events(spark, sf_dir)
    max_ts = ev.agg(F.max("ts").alias("m")).collect()[0].m
    sentinels = spark.createDataFrame(
        [
            (-1, max_ts + timedelta(hours=12), -1, "view", 0.0, "{}"),
            (-2, max_ts + timedelta(hours=12), -1, "purchase", 0.0, "{}"),
        ],
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string",
    )
    path = _fresh("ssoj_src")
    ev.unionByName(sentinels).write.parquet(path)
    return run_stream_stream_outer_join(
        spark,
        path,
        _fresh("ssoj_ckpt"),
        schema="event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string",
        within_minutes=30,
        query_name="q117_ssoj",
    )


_Q117_SQL = """
SELECT l.user_id, l.event_id AS login_id, p.event_id AS purchase_id
FROM events l LEFT JOIN events p
  ON l.user_id = p.user_id
 AND p.event_type = 'purchase'
 AND p.ts >= l.ts AND p.ts <= l.ts + INTERVAL 30 MINUTE
WHERE l.event_type = 'view'
"""


def q126_streaming_corpus_dedup(spark, sf_dir):
    """Streaming incremental corpus build: three document batches drain
    through a foreachBatch dedup sink — batch 1 the originals, batch 2
    verbatim re-submissions (must ALL be dropped against the corpus),
    batch 3 novel suffixed docs (must all land). Exactly-once appends;
    the final corpus is the oracle-checked result."""
    import os as _os

    from ..streaming.incremental import stream_dedup_into_corpus

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    src = _fresh("scd_src")
    _os.makedirs(src, exist_ok=True)
    staging = _fresh("scd_stage")
    batches = [
        docs,
        docs.select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text", "source"
        ),
        docs.select(
            (F.col("doc_id") + 200000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" novel")).alias("text"),
            "source",
        ),
    ]
    # one FLAT parquet file per batch, in arrival order (the file
    # source batches by modification time, maxFilesPerTrigger=1)
    for i, b in enumerate(batches):
        d = f"{staging}/b{i}"
        b.coalesce(1).write.parquet(d)
        part = next(
            f for f in _os.listdir(d) if f.endswith(".parquet")
        )
        _os.replace(f"{d}/{part}", f"{src}/b{i}.parquet")

    out = stream_dedup_into_corpus(
        spark,
        src,
        _fresh("scd_corpus"),
        _fresh("scd_ckpt"),
        schema="doc_id long, text string, source string",
        txn_app_id="q126",
    )
    return out.select("doc_id", "source")


_Q126_SQL = """
SELECT doc_id, source FROM documents
UNION ALL
SELECT doc_id + 200000 AS doc_id, source FROM documents
"""


def q152_streaming_indexed_corpus(spark, sf_dir):
    """Streaming ingestion with trailing index maintenance: two
    document batches drain through the indexed-append sink (idempotent
    corpus appends + CDF-driven inverted-index sync per epoch), then
    BM25 top-k is served FROM the stored postings. The oracle recomputes
    BM25 over the final corpus, value-checking the whole
    stream -> corpus -> index -> serve loop."""
    import os as _os

    from ..operators.text import query_text_index
    from ..streaming.incremental import stream_corpus_with_text_index

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    src = _fresh("sti_src")
    _os.makedirs(src, exist_ok=True)
    staging = _fresh("sti_stage")
    batches = [
        docs,
        docs.select(
            (F.col("doc_id") + 200000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" novel")).alias("text"),
        ),
    ]
    for i, b in enumerate(batches):
        d = f"{staging}/b{i}"
        b.coalesce(1).write.parquet(d)
        part = next(f for f in _os.listdir(d) if f.endswith(".parquet"))
        _os.replace(f"{d}/{part}", f"{src}/b{i}.parquet")

    idx = _fresh("sti_index")
    stream_corpus_with_text_index(
        spark,
        src,
        _fresh("sti_corpus"),
        idx,
        _fresh("sti_ckpt"),
        schema="doc_id long, text string",
        txn_app_id="q152",
    )
    queries = spark.createDataFrame(
        [(1, "hash join merge"), (2, "novel stream window")],
        "query_id long, qtext string",
    )
    return query_text_index(queries, idx, k=10).select(
        "query_id", "doc_id", F.col("rank").cast("long").alias("rank"), "score"
    )


def q167_streaming_vocab_sketch(spark, sf_dir):
    """Streaming ingestion with trailing HLL vocabulary maintenance:
    two document batches drain through the sketched-append sink
    (idempotent corpus appends + per-batch register max-merge), then
    per-language distinct-token estimates serve FROM the stored
    registers with zero corpus access. The oracle recomputes the HLL
    formula over the final corpus — a green row proves the
    stream -> corpus -> registers -> serve loop lands on exactly the
    whole-corpus sketch, i.e. the incremental merges lost nothing."""
    import os as _os

    from ..operators.sketches import estimate_hll_state
    from ..streaming.incremental import stream_corpus_with_vocab_sketch

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    src = _fresh("svs_src")
    _os.makedirs(src, exist_ok=True)
    staging = _fresh("svs_stage")
    batches = [
        docs,
        docs.select(
            (F.col("doc_id") + 200000).alias("doc_id"),
            "lang",
            F.concat(F.col("text"), F.lit(" novel")).alias("text"),
        ),
    ]
    for i, b in enumerate(batches):
        d = f"{staging}/b{i}"
        b.coalesce(1).write.parquet(d)
        part = next(f for f in _os.listdir(d) if f.endswith(".parquet"))
        _os.replace(f"{d}/{part}", f"{src}/b{i}.parquet")

    state = _fresh("svs_state")
    stream_corpus_with_vocab_sketch(
        spark,
        src,
        _fresh("svs_corpus"),
        state,
        _fresh("svs_ckpt"),
        schema="doc_id long, lang string, text string",
        txn_app_id="q167",
    )
    return estimate_hll_state(spark, state, ["lang"], p=10)


def _gen_q167_sql() -> str:
    from ..operators.sketches import hll_distinct_sql

    toks = (
        r"(SELECT lang, unnest(string_split_regex(trim(lower(text)), "
        r"'\s+')) AS term FROM ("
        r"SELECT lang, text FROM documents "
        r"UNION ALL SELECT lang, text || ' novel' AS text FROM documents"
        r") corpus) toks"
    )
    return hll_distinct_sql(toks, "term", ["lang"], p=10)


_Q167_SQL = _gen_q167_sql()


_Q152_SQL = r"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 200000 AS doc_id, text || ' novel' AS text FROM documents
),
q AS (
  SELECT * FROM (VALUES
    (1, 'hash join merge'),
    (2, 'novel stream window')
  ) AS t(query_id, qtext)
),
qterms AS (
  SELECT DISTINCT query_id,
         unnest(list_distinct(string_split_regex(lower(qtext), '\s+'))) AS term
  FROM q
),
term_set AS (SELECT DISTINCT term FROM qterms),
stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         AVG(CAST(len(string_split_regex(lower(COALESCE(text, '')), '\s+'))
             AS DOUBLE)) AS avgdl
  FROM corpus
),
toks AS (
  SELECT doc_id,
         CAST(len(string_split_regex(lower(COALESCE(text, '')), '\s+'))
           AS DOUBLE) AS dl,
         unnest(string_split_regex(lower(COALESCE(text, '')), '\s+')) AS term
  FROM corpus
),
postings AS (
  SELECT doc_id, dl, term, CAST(COUNT(*) AS DOUBLE) AS tf
  FROM toks JOIN term_set USING (term)
  GROUP BY doc_id, dl, term
),
dfreq AS (
  SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM postings GROUP BY term
),
weights AS (
  SELECT p.doc_id, p.term,
    ln((s.n - f.df + 0.5) / (f.df + 0.5) + 1.0)
      * (p.tf * 2.2)
      / (p.tf + 1.2 * (0.25 + 0.75 * p.dl / s.avgdl)) AS w
  FROM postings p JOIN dfreq f USING (term), stats s
),
scored AS (
  SELECT qt.query_id, w.doc_id, ROUND(SUM(w.w), 6) AS score
  FROM weights w JOIN qterms qt USING (term)
  GROUP BY qt.query_id, w.doc_id
)
SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, rank, score FROM (
  SELECT query_id, doc_id, score,
    ROW_NUMBER() OVER (PARTITION BY query_id
      ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored
) WHERE rank <= 10
"""


def q79_stream_stream_join(spark, sf_dir):
    """Genuine stream-stream interval join (two streaming sources,
    watermark-bounded state, append mode): views paired with the same
    user's purchases within 30 minutes. The batch-SQL oracle proves
    stream==batch row-for-row."""
    from ..streaming.incremental import run_stream_stream_join

    ev = _events(spark, sf_dir)
    path = _fresh("ssj_src")
    ev.write.parquet(path)
    return run_stream_stream_join(
        spark,
        path,
        _fresh("ssj_ckpt"),
        schema="event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string",
        within_minutes=30,
        query_name="q79_ssj",
    )


_Q79_SQL = """
SELECT l.user_id, l.event_id AS login_id, p.event_id AS purchase_id
FROM events l JOIN events p
  ON l.user_id = p.user_id
 AND l.event_type = 'view' AND p.event_type = 'purchase'
 AND p.ts >= l.ts AND p.ts <= l.ts + INTERVAL 30 MINUTE
"""


def q80_streaming_merge_upsert(spark, sf_dir):
    """CDC apply pattern: a streaming MERGE sink upserts two drained
    micro-batch rounds (base load, then updates + inserts) into a
    versioned table, exactly-once per epoch. The oracle reconstructs the
    expected upserted state relationally."""
    from ..streaming.incremental import stream_merge_into_delta

    schema = (
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string"
    )
    ev = _events(spark, sf_dir)
    src = _fresh("smerge_src")
    tbl = _fresh("smerge_tbl")
    ckpt = _fresh("smerge_ckpt")

    ev.write.parquet(src)
    stream_merge_into_delta(
        spark, src, tbl, ckpt, schema, key_col="event_id", txn_app_id="q80",
        ts_col="ts",
    )
    upd = ev.filter(F.col("event_id") % 5 == 0).withColumn(
        "value", F.col("value") + 1000
    ).withColumn("event_type", F.lit("upd"))
    ins = ev.filter(F.col("event_id") % 7 == 0).withColumn(
        "event_id", F.col("event_id") + 10_000_000
    )
    upd.unionByName(ins).write.mode("append").parquet(src)
    stream_merge_into_delta(
        spark, src, tbl, ckpt, schema, key_col="event_id", txn_app_id="q80",
        ts_col="ts",
    )
    return (
        read_delta(spark, tbl)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
    )


_Q80_SQL = """
WITH upd AS (
  SELECT 'upd' AS event_type, value + 1000 AS value
  FROM events WHERE event_id % 5 = 0
),
base AS (SELECT event_type, value FROM events WHERE event_id % 5 <> 0),
ins AS (SELECT event_type, value FROM events WHERE event_id % 7 = 0),
allr AS (
  SELECT * FROM base UNION ALL SELECT * FROM upd UNION ALL SELECT * FROM ins
)
SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 6) AS total_value
FROM allr GROUP BY event_type
"""


def q84_partitioned_write_pruned_read(spark, sf_dir):
    """Partitioned delta write (S7) + partition-pruned read: the scan
    receives ONLY the requested partition's files from the log (asserted
    on the file list, not just the result), so the oracle checks both
    the layout bookkeeping and the pruned values."""
    ev = _events(spark, sf_dir)
    path = _fresh("part_write")
    write_delta(ev, path, partition_by=["event_type"])

    dt = DeltaTable.forPath(spark, path)
    snap = dt._log.snapshot()
    want = {
        p
        for p, a in snap.files.items()
        if a.partitionValues.get("event_type") == "purchase"
    }
    assert want and all(
        a.partitionValues.get("event_type") is not None
        for a in snap.files.values()
    ), "partition values must be recorded for every file"

    pruned = read_delta(
        spark, path, partition_filter={"event_type": "purchase"}
    )
    return pruned.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 6).alias("total_value"),
    )


_Q84_SQL = """
SELECT user_id, COUNT(*) AS n, ROUND(SUM(value), 6) AS total_value
FROM events WHERE event_type = 'purchase'
GROUP BY user_id
"""


def q85_generated_partition_pruning(spark, sf_dir):
    """Generated partition column (p_date = cast(ts as date), computed
    by the WRITER, validated if supplied) + partition-pruned read on the
    derived key — the reference's daily-partition pattern made sound:
    pruning on p_date is always correct because the writer enforces the
    generation expression. The oracle derives the same date in SQL."""
    ev = _events(spark, sf_dir)
    path = _fresh("gen_part")
    write_delta(
        ev,
        path,
        partition_by=["p_date"],
        generated={"p_date": "cast(ts as date)"},
    )
    dt = DeltaTable.forPath(spark, path)
    snap = dt._log.snapshot()
    dates = sorted(
        {a.partitionValues.get("p_date") for a in snap.files.values()}
    )
    target = dates[len(dates) // 2]  # a middle day, deterministic
    pruned = read_delta(spark, path, partition_filter={"p_date": target})
    return pruned.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 6).alias("total_value"),
    )


# the events span fixed dates; recompute the same middle day in SQL
_Q85_SQL = """
WITH days AS (
  SELECT DISTINCT CAST(ts AS DATE) AS d FROM events
),
ranked AS (
  SELECT d, ROW_NUMBER() OVER (ORDER BY d) - 1 AS rn,
         COUNT(*) OVER () AS total
  FROM days
),
target AS (SELECT d FROM ranked WHERE rn = total // 2)
SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 6) AS total_value
FROM events WHERE CAST(ts AS DATE) = (SELECT d FROM target)
GROUP BY event_type
"""


def q100_cdc_keyed_updates(spark, sf_dir):
    """Keyed CDC (Delta CDF change-type parity): a MERGE that updates
    every urgent order must surface as update_preimage/update_postimage
    pairs keyed by order key — not raw delete+insert. The oracle
    reconstructs the expected change summary relationally."""
    from ..cdf import table_changes_keyed

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    path = _fresh("cdc_keyed")
    write_delta(orders, path)  # v0
    dt = DeltaTable.forPath(spark, path)
    src = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey",
        "o_orderpriority",
        (F.col("o_totalprice") + 1).alias("o_totalprice"),
    )
    (
        dt.alias("t")
        .merge(src, "t.o_orderkey = s.o_orderkey", source_alias="s")
        .whenMatchedUpdateAll()
        .whenNotMatchedInsertAll()
        .execute()
    )  # v1
    ch = table_changes_keyed(spark, path, ["o_orderkey"], 1, 1)
    return ch.groupBy("_change_type").agg(
        F.count("*").alias("n"),
        F.round(F.sum("o_totalprice"), 4).alias("total"),
    )


_Q100_SQL = """
WITH urgent AS (SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderpriority = '1-URGENT')
SELECT 'update_preimage' AS _change_type, COUNT(*) AS n,
       ROUND(SUM(o_totalprice), 4) AS total FROM urgent
UNION ALL
SELECT 'update_postimage', COUNT(*), ROUND(SUM(o_totalprice + 1), 4) FROM urgent
"""


def q102_replace_where(spark, sf_dir):
    """Selective overwrite (replaceWhere): urgent orders are atomically
    replaced with a repriced copy in ONE commit; other rows untouched,
    straddling files rewritten keeping non-matching rows."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    path = _fresh("replace_where")
    write_delta(orders, path)  # v0
    dt = DeltaTable.forPath(spark, path)
    repriced = orders.filter(F.col("o_orderpriority") == "1-URGENT").withColumn(
        "o_totalprice", F.col("o_totalprice") + 1000
    )
    dt.replace_where(repriced, "o_orderpriority = '1-URGENT'")  # v1, atomic
    assert dt._log.snapshot().version == 1  # one commit, not delete+append
    return (
        read_delta(spark, path)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("o_totalprice"), 4).alias("total"),
        )
    )


_Q102_SQL = """
SELECT o_orderpriority, COUNT(*) AS n,
       ROUND(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                      THEN o_totalprice + 1000 ELSE o_totalprice END), 4) AS total
FROM orders GROUP BY o_orderpriority
"""


def q101_analyze_statistics(spark, sf_dir):
    """ANALYZE TABLE statistics commit: one aggregation pass computes
    per-column null/min/max/ndv + row count, recorded in the log as a
    dataChange=False commit; statistics() reads them back without a
    scan. Exact NDV here so the oracle can recompute it relationally."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    path = _fresh("analyze_stats")
    write_delta(orders, path)
    dt = DeltaTable.forPath(spark, path)
    dt.analyze(columns=["o_orderkey", "o_orderpriority"], exact_ndv=True)
    return dt.statistics().select("column", "null_count", "ndv", "row_count")


_Q101_SQL = """
SELECT 'o_orderkey' AS column,
       CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_count,
       CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS ndv,
       COUNT(*) AS row_count
FROM orders
UNION ALL
SELECT 'o_orderpriority',
       CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
       COUNT(*)
FROM orders
"""


def q112_row_tracking(spark, sf_dir):
    """Row tracking end-to-end (rowtracking.py): documents are written
    sorted into ONE file, so ``_row_id`` equals the rank of doc_id at
    v0. A deletion-vector DELETE then leaves ids untouched (file bytes
    unchanged), and an UPDATE rewrite preserves surviving ids via the
    materialized hidden columns while moving the updated rows'
    ``_row_commit_version`` to the UPDATE's commit (v2). The oracle
    recomputes all of it relationally: row_number over doc_id order
    minus one, rcv by the update predicate."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    path = _fresh("row_tracking")
    write_delta(
        docs.repartition(1).sortWithinPartitions("doc_id"),
        path,
        properties={"delta.enableRowTracking": "true"},
    )  # v0: baseRowId 0, id = position in doc_id order
    dt = DeltaTable.forPath(spark, path)
    dt.delete("lang <> 'en'", use_dv=True)  # v1: no rewrite, ids stable
    dt.update("n_chars < 200", {"n_chars": "-1"})  # v2: rewrite keeps ids
    return read_delta(spark, path, row_ids=True).select(
        "doc_id", "_row_id", "_row_commit_version", "n_chars"
    )


_Q112_SQL = """
WITH ids AS (
  SELECT doc_id, lang, n_chars,
         ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS rid
  FROM documents
)
SELECT doc_id,
       CAST(rid AS BIGINT) AS _row_id,
       CAST(CASE WHEN n_chars < 200 THEN 2 ELSE 0 END AS BIGINT)
         AS _row_commit_version,
       CASE WHEN n_chars < 200 THEN -1 ELSE n_chars END AS n_chars
FROM ids
WHERE lang = 'en'
"""


def q111_stream_static_enrich(spark, sf_dir):
    """Stream-static broadcast enrichment: the events stream picks up
    customer market segment per micro-batch (stateless stream-static
    left join), then the drained result is aggregated per segment. The
    batch-SQL oracle proves stream==batch equivalence."""
    from ..streaming.incremental import stream_static_enrich

    ev = _events(spark, sf_dir)
    path = _fresh("enrich_src")
    ev.write.parquet(path)
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = stream_static_enrich(
        spark,
        path,
        cust,
        on="user_id",
        schema="event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string",
        query_name="q111_enrich",
        checkpoint_dir=_fresh("enrich_ckpt"),
    )
    return enriched.groupBy(
        F.coalesce("c_mktsegment", F.lit("none")).alias("segment")
    ).agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 6).alias("total_value"),
    )


_Q111_SQL = """
SELECT COALESCE(c.c_mktsegment, 'none') AS segment, COUNT(*) AS n,
  ROUND(SUM(e.value), 6) AS total_value
FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1
"""


def q134_incremental_gold_maintenance(spark, sf_dir):
    """Incremental gold-aggregate maintenance from CDF — the
    materialized-view pattern that makes 100 TB pipelines cheap: instead
    of recomputing the per-type aggregate after every mutation, apply
    the table_changes feed as SIGNED deltas (insert -> +1/+value,
    delete -> -1/-value) on top of the version-0 base aggregate. The
    change feed is bounded by what the mutations touched, so the
    maintenance cost scales with the delta, not the table. The oracle
    recomputes the FINAL table state relationally and aggregates it
    fresh — any drift between the incremental path and a full recompute
    (lost change rows, double counting, wrong signs) fails the hash.

    Mutations exercised: a predicate DELETE (drops a whole group), then
    a MERGE upsert whose source both re-inserts previously-deleted rows
    (with +10 repricing) and appends a brand-new 'synthetic' group."""
    from ..cdf import table_changes

    ev = _events(spark, sf_dir).select("event_id", "user_id", "event_type", "value")
    path = _fresh("gold_incr")
    write_delta(ev, path)  # v0
    base = (
        read_delta(spark, path, version=0)
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("cnt"),
            # decimal-staged (module convention, cf. q50): the base, the
            # signed deltas, and the final re-aggregate all fold exact
            # decimals, so the incremental path cannot drift from the
            # oracle's fresh full aggregate by summation order
            F.sum(_dec("value")).alias("total"),
        )
    )

    dt = DeltaTable.forPath(spark, path)
    dt.delete("event_type = 'error'")  # v1
    upd = ev.filter(F.col("event_id") % 13 == 0).select(
        "event_id", "user_id", "event_type",
        (F.col("value") + 10.0).alias("value"),
    )
    ins = ev.filter(F.col("event_id") % 17 == 0).select(
        (F.col("event_id") + 10_000_000).alias("event_id"),
        "user_id",
        F.lit("synthetic").alias("event_type"),
        "value",
    )
    (
        dt.alias("t")
        .merge(upd.unionByName(ins), "t.event_id = s.event_id", source_alias="s")
        .whenMatchedUpdateAll()
        .whenNotMatchedInsertAll()
        .execute()
    )  # v2

    sign = F.when(
        F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
    ).otherwise(F.lit(-1))
    delta = (
        table_changes(spark, path, 1, 2)
        .groupBy("event_type")
        .agg(
            F.sum(sign).cast("long").alias("cnt"),
            F.sum(_dec("value") * sign).alias("total"),
        )
    )
    return (
        base.unionByName(delta, allowMissingColumns=False)
        .groupBy("event_type")
        .agg(F.sum("cnt").alias("cnt"), F.sum("total").alias("total"))
        .filter(F.col("cnt") > 0)
        .select(
            "event_type",
            "cnt",
            F.round("total", 4).cast("double").alias("total"),
        )
    )


_Q134_SQL = """
WITH t1 AS (
  SELECT event_id, user_id, event_type, value
  FROM events WHERE event_type <> 'error'
),
s AS (
  SELECT event_id, user_id, event_type, value + 10.0 AS value
  FROM events WHERE event_id % 13 = 0
  UNION ALL
  SELECT event_id + 10000000, user_id, 'synthetic', value
  FROM events WHERE event_id % 17 = 0
),
f AS (
  SELECT * FROM t1 WHERE event_id NOT IN (SELECT event_id FROM s)
  UNION ALL SELECT * FROM s
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS cnt,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 4) AS DOUBLE) AS total
FROM f GROUP BY event_type
"""


def q209_streaming_media_keyframes(spark, sf_dir):
    """Streaming media ingestion with ON-ARRIVAL keyframe decode: two
    GIF batches drain through the media sink (idempotent corpus append
    + per-epoch LZW decode + luma-delta shot detection into a keyframe
    table), then keyframes are served FROM the stored table. The
    oracle restates every frame of BOTH batches arithmetically — a
    lost epoch, double decode, or replay duplicate changes the row
    set and fails the gate."""
    import os as _os

    from ..streaming.incremental import stream_media_with_keyframes

    from ..operators.multimodal import synthesize_gif_corpus

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    src = _fresh("smk_src")
    _os.makedirs(src, exist_ok=True)
    staging = _fresh("smk_stage")
    batches = [
        synthesize_gif_corpus(docs),
        synthesize_gif_corpus(
            docs.select((F.col("doc_id") + 200000).alias("doc_id"))
        ),
    ]
    for i, b in enumerate(batches):
        d = f"{staging}/b{i}"
        b.coalesce(1).write.parquet(d)
        part = next(f for f in _os.listdir(d) if f.endswith(".parquet"))
        _os.replace(f"{d}/{part}", f"{src}/b{i}.parquet")

    kf = stream_media_with_keyframes(
        spark,
        src,
        _fresh("smk_media"),
        _fresh("smk_kf"),
        _fresh("smk_ckpt"),
        schema="media_id long, content binary",
        threshold=40.0,
        txn_app_id="q209",
    )
    return kf.select(
        "media_id", "frame_id",
        F.round("mean_gray", 9).alias("mean_gray"),
        F.round("delta", 9).alias("delta"),
        "is_keyframe",
    )


_Q209_SQL = """
WITH ids AS (
  SELECT doc_id FROM documents
  UNION ALL SELECT doc_id + 200000 FROM documents
),
f AS (
  SELECT doc_id, j,
    CAST((doc_id * 17 + ((doc_id + j) % 4) * 73) % 256 AS DOUBLE) AS g
  FROM ids, UNNEST(range(0, 1 + doc_id % 4)) AS t(j)
),
d AS (
  SELECT doc_id, j, g,
    abs(g - LAG(g) OVER (PARTITION BY doc_id ORDER BY j)) AS dl
  FROM f
)
SELECT doc_id AS media_id, CAST(j AS INTEGER) AS frame_id,
  ROUND(g, 9) AS mean_gray,
  ROUND(COALESCE(dl, 0.0), 9) AS delta,
  (dl IS NULL OR dl >= 40.0) AS is_keyframe
FROM d
"""


def q237_streaming_span_screen(spark, sf_dir):
    """Streaming exact-substring screening: the gram index is built
    over the historical corpus (doc_id >= 100), then two document
    batches (ids 0-49, then 50-99) drain through the span-screen sink
    — each batch's duplicated spans are detected ON ARRIVAL against
    index + batch and appended behind a replay guard, and the index
    absorbs the batch afterward, so batch 2 screens against batch 1's
    text too. The oracle restates both epochs' span sets relationally
    (sequencing included: a probe run against the wrong index
    generation changes the span set and fails the gate)."""
    import os as _os

    from ..operators.dedup import build_substring_index
    from ..streaming.incremental import stream_docs_with_span_screen

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    idx = _fresh("sss_idx")
    build_substring_index(
        docs.filter(F.col("doc_id") >= 100), "text", "doc_id", idx, k=8
    )
    src = _fresh("sss_src")
    _os.makedirs(src, exist_ok=True)
    staging = _fresh("sss_stage")
    batches = [
        docs.filter(F.col("doc_id") < 50),
        docs.filter((F.col("doc_id") >= 50) & (F.col("doc_id") < 100)),
    ]
    for i, b in enumerate(batches):
        d = f"{staging}/b{i}"
        b.coalesce(1).write.parquet(d)
        part = next(
            f for f in _os.listdir(d) if f.endswith(".parquet")
        )
        _os.replace(f"{d}/{part}", f"{src}/b{i}.parquet")
        # pin strictly increasing mtimes: the file source orders
        # epochs by (mtime, path), and same-second writes would
        # leave the batch sequencing to the path tiebreak alone
        _os.utime(f"{src}/b{i}.parquet", (1_700_000_000 + i, 1_700_000_000 + i))
    spans = stream_docs_with_span_screen(
        spark,
        src,
        _fresh("sss_corpus"),
        idx,
        _fresh("sss_spans"),
        _fresh("sss_ckpt"),
        txn_app_id="q237",
    )
    spans = spans.localCheckpoint(eager=True)
    return spans


_Q237_SQL = """
WITH words AS (
  SELECT doc_id,
    [x FOR x IN string_split_regex(lower(trim(text)), '\\s+') IF x <> ''] AS ws
  FROM documents
),
grams AS (
  SELECT doc_id, i AS pos, md5(array_to_string(ws[i:i + 7], ' ')) AS g
  FROM words, UNNEST(range(1, len(ws) - 8 + 2)) t(i)
  WHERE len(ws) >= 8
),
starts AS (
  SELECT doc_id, pos FROM grams WHERE doc_id < 50 AND (
    g IN (SELECT g FROM grams WHERE doc_id >= 100)
    OR g IN (SELECT g FROM grams WHERE doc_id < 50
             GROUP BY g HAVING COUNT(*) >= 2))
  UNION ALL
  SELECT doc_id, pos FROM grams
  WHERE doc_id >= 50 AND doc_id < 100 AND (
    g IN (SELECT g FROM grams WHERE doc_id >= 100 OR doc_id < 50)
    OR g IN (SELECT g FROM grams WHERE doc_id >= 50 AND doc_id < 100
             GROUP BY g HAVING COUNT(*) >= 2))
),
flagged AS (
  SELECT doc_id, pos,
    CASE WHEN lag(pos) OVER w IS NULL OR pos > lag(pos) OVER w + 8
         THEN 1 ELSE 0 END AS f
  FROM starts WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
isl AS (
  SELECT doc_id, pos, SUM(f) OVER (PARTITION BY doc_id ORDER BY pos) AS gp
  FROM flagged
)
SELECT doc_id, CAST(MIN(pos) AS INTEGER) AS start_pos,
       CAST(MAX(pos) + 7 AS INTEGER) AS end_pos,
       CAST(MAX(pos) + 8 - MIN(pos) AS INTEGER) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_grams
FROM isl GROUP BY doc_id, gp
"""


def q256_streaming_decayed_rates(spark, sf_dir):
    """Streaming fixed-point decay maintenance: events drain through
    two replay-guarded micro-batches that append (type, calendar
    half-life bucket, exact count) rows to a Delta state table; the
    report is then served FROM STATE ALONE, weighting each bucket
    2^(horizon - age) against the state's current max bucket — the
    oracle-pinnable streaming EWMA (counts are not idempotent, so the
    epoch guard is what makes replay safe). Bit-exact against the
    batch replay of the same calendar-bucket arithmetic
    (streaming/incremental.py stream_decayed_event_state /
    estimate_decayed_state)."""
    import os as _os

    from ..streaming.incremental import (
        estimate_decayed_state,
        stream_decayed_event_state,
    )

    events = _t(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type"
    )
    src = _fresh("decay_src")
    _os.makedirs(src, exist_ok=True)
    staging = _fresh("decay_stage")
    batches = [
        events.filter(F.col("event_id") % 2 == 0),
        events.filter(F.col("event_id") % 2 == 1),
    ]
    for i, b in enumerate(batches):
        d = f"{staging}/b{i}"
        b.coalesce(1).write.parquet(d)
        part = next(f for f in _os.listdir(d) if f.endswith(".parquet"))
        _os.replace(f"{d}/{part}", f"{src}/b{i}.parquet")
        _os.utime(
            f"{src}/b{i}.parquet", (1_700_000_000 + i, 1_700_000_000 + i)
        )
    state = _fresh("decay_state")
    stream_decayed_event_state(
        spark,
        src,
        state,
        _fresh("decay_ckpt"),
        "event_id long, ts timestamp, event_type string",
        half_life_days=7,
        txn_app_id="q256",
    )
    out = estimate_decayed_state(spark, state, horizon_halflives=40)
    out = out.localCheckpoint(eager=True)
    return out


_Q256_SQL = """
WITH b AS (
  SELECT event_type AS etype,
    ((CAST(ts AS DATE) - DATE '1970-01-01') // 7) AS bucket
  FROM events
),
ref AS (SELECT MAX(bucket) AS r FROM b)
SELECT etype, CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(SUM(CASE WHEN ref.r - bucket >= 0 AND ref.r - bucket <= 40
    THEN CAST(1 AS BIGINT) << CAST(40 - (ref.r - bucket) AS INTEGER)
    ELSE 0 END) AS BIGINT) AS score_fixed,
  ROUND(CAST(CAST(SUM(CASE WHEN ref.r - bucket >= 0 AND ref.r - bucket <= 40
    THEN CAST(1 AS BIGINT) << CAST(40 - (ref.r - bucket) AS INTEGER)
    ELSE 0 END) AS BIGINT) AS DOUBLE) / 1099511627776.0, 9) AS score
FROM b CROSS JOIN ref GROUP BY etype
"""



def q284_streaming_warc_ingestion(spark, sf_dir):
    """Streaming web ingestion end to end: crawl WARC shards (messy
    URLs + HTML bodies, the q277 construction) drain through TWO
    file-source micro-batches (ids < 250, then the rest) of the
    replay-guarded incremental pattern — on-arrival record walk, HTML
    extraction, URL canonicalization, then URL dedup against the batch
    AND the persisted canonical-URL state, every page receiving a
    verdict row with its rejection provenance. The oracle restates
    both epochs relationally — dup_source distinguishes 'state'
    (canonical URL already ingested by an EARLIER batch) from 'batch'
    (within-batch loser), so processing both batches as one would flip
    verdicts and fail the gate (streaming/incremental.py
    stream_warc_ingestion)."""
    import os as _os

    from ..operators.multimodal import synthesize_crawl_warc_corpus
    from ..streaming.incremental import stream_warc_ingestion

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    src = _fresh("warc_src")
    _os.makedirs(src, exist_ok=True)
    staging = _fresh("warc_stage")
    batches = [
        docs.filter(F.col("doc_id") < 250),
        docs.filter(F.col("doc_id") >= 250),
    ]
    for i, b in enumerate(batches):
        d = f"{staging}/b{i}"
        synthesize_crawl_warc_corpus(b).coalesce(1).write.parquet(d)
        part = next(
            f for f in _os.listdir(d) if f.endswith(".parquet")
        )
        _os.replace(f"{d}/{part}", f"{src}/b{i}.parquet")
        # pin strictly increasing mtimes (file-source epoch order)
        _os.utime(
            f"{src}/b{i}.parquet",
            (1_700_000_000 + i, 1_700_000_000 + i),
        )
    verdicts = stream_warc_ingestion(
        spark,
        src,
        _fresh("warc_verdicts"),
        _fresh("warc_ckpt"),
        txn_app_id="q284",
    )
    verdicts = verdicts.localCheckpoint(eager=True)
    return verdicts


_Q284_SQL = r"""
WITH pages AS (
  SELECT doc_id,
    doc_id % 97 AS b,
    CASE WHEN doc_id < 250 THEN 0 ELSE 1 END AS batch,
    '<html><head><title>Doc</title>'
    || '<style type="text/css">p { color: red; }</style>'
    || '<script>var x = 1 < 2 && doc;</script></head>'
    || '<body><!-- comment ' || CAST(doc_id AS VARCHAR) || ' -->'
    || '<h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1>'
    || '<p class="main">' || text || '</p>'
    || '<p>Fish &amp; chips &lt;tag&gt; &quot;q&quot; &#39;s&#39;'
    || ' &amp;lt;kept&amp;gt;</p></body></html>' AS html
  FROM documents
),
x AS (
  SELECT doc_id, batch,
    'http://site-' || CAST(b AS VARCHAR) || '.com'
    || CASE WHEN doc_id % 4 <= 2
       THEN '/p/' || CAST(b AS VARCHAR) || '?a=1&b=2'
       ELSE '/other/' || CAST(b AS VARCHAR) END AS url_norm,
    'site-' || CAST(b AS VARCHAR) || '.com' AS registered_domain,
    CAST(LENGTH(trim(regexp_replace(regexp_replace(regexp_replace(
         regexp_replace(regexp_replace(regexp_replace(regexp_replace(
         regexp_replace(regexp_replace(regexp_replace(
      html,
      '(?is)<script\b[^>]*>.*?</script>', ' ', 'g'),
      '(?is)<style\b[^>]*>.*?</style>', ' ', 'g'),
      '(?s)<!--.*?-->', ' ', 'g'),
      '<[^>]*>', ' ', 'g'),
      '&lt;', '<', 'g'),
      '&gt;', '>', 'g'),
      '&quot;', '"', 'g'),
      '&#39;', CHR(39), 'g'),
      '&amp;', '&', 'g'),
      '\s+', ' ', 'g'))) AS BIGINT) AS n_chars
  FROM pages
),
w AS (
  SELECT doc_id, batch, url_norm, registered_domain, n_chars,
    MIN(doc_id) OVER (PARTITION BY url_norm, batch) AS bmin,
    MIN(batch) OVER (PARTITION BY url_norm) AS fbatch
  FROM x
)
SELECT doc_id AS media_id, url_norm, registered_domain, n_chars,
  (batch = fbatch AND doc_id = bmin) AS kept,
  CASE WHEN batch > fbatch THEN 'state'
       WHEN doc_id <> bmin THEN 'batch' END AS dup_source
FROM w
"""


def q310_streaming_chat_ingestion(spark, sf_dir):
    """Streaming SFT transcript ingestion end to end: the q305
    grouped conversations — plus a trailing-user corruption on every
    7th transcript (a format-audit failure: no trainable final turn)
    — drain through TWO file-source micro-batches split by id PARITY
    (even ids first), so each identical-twin pair (members 0/1 of a
    group) straddles the batch boundary and the second twin's
    rejection provenance MUST read 'state' (persisted-key dedup), not
    'batch'. On-arrival per epoch: format audit, role-aware
    serialization, md5 key, exact dedup against batch + state,
    verdict rows with provenance; exactly-once via the (txnAppId,
    epoch) guard. The oracle restates both epochs relationally —
    collapsing them into one batch would flip every 'state' verdict
    and fail the gate (streaming/incremental.py
    stream_chat_ingestion)."""
    import os as _os

    from ..streaming.incremental import stream_chat_ingestion
    from .llm import _Q305_JSON_SPARK

    convo = (
        f"concat(substring(({_Q305_JSON_SPARK}), 1,"
        f" length(({_Q305_JSON_SPARK})) - 1),"
        " IF(doc_id % 7 = 0,"
        " ',{\"role\":\"user\",\"content\":\"trailing '"
        " || CAST(doc_id AS STRING) || '\"}', ''),"
        " ']')"
    )
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(convo).alias("convo")
    )
    src = _fresh("chat_src")
    _os.makedirs(src, exist_ok=True)
    staging = _fresh("chat_stage")
    batches = [
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
    ]
    for i, b in enumerate(batches):
        d = f"{staging}/b{i}"
        b.coalesce(1).write.parquet(d)
        part = next(
            f for f in _os.listdir(d) if f.endswith(".parquet")
        )
        _os.replace(f"{d}/{part}", f"{src}/b{i}.parquet")
        _os.utime(
            f"{src}/b{i}.parquet",
            (1_700_000_000 + i, 1_700_000_000 + i),
        )
    verdicts = stream_chat_ingestion(
        spark,
        src,
        _fresh("chat_verdicts"),
        _fresh("chat_ckpt"),
        txn_app_id="q310",
    )
    verdicts = verdicts.localCheckpoint(eager=True)
    return verdicts


def _q310_sql() -> str:
    from .llm import _Q305_CONV_CTE

    corrupt = (
        "\n    || CASE WHEN doc_id % 7 = 0 THEN chr(10)"
        " || 'user: trailing ' || CAST(doc_id AS VARCHAR)"
        " ELSE '' END"
    )
    cte = _Q305_CONV_CTE.replace(
        " AS text\n  FROM documents", corrupt + " AS text\n  FROM documents"
    )
    return f"""
WITH {cte},
k AS (
  SELECT doc_id, md5(text) AS conv_key,
    CAST(doc_id % 2 AS INTEGER) AS batch,
    doc_id % 7 <> 0 AS fok
  FROM conv
),
w AS (
  SELECT doc_id, conv_key, batch,
    MIN(doc_id) OVER (PARTITION BY conv_key, batch) AS bmin,
    MIN(batch) OVER (PARTITION BY conv_key) AS fbatch
  FROM k WHERE fok
)
SELECT k.doc_id, k.conv_key, k.fok AS format_ok,
  COALESCE(k.batch = w.fbatch AND k.doc_id = w.bmin, FALSE) AS kept,
  CASE WHEN NOT k.fok THEN NULL
       WHEN k.batch > w.fbatch THEN 'state'
       WHEN k.doc_id <> w.bmin THEN 'batch' END AS dup_source
FROM k LEFT JOIN w ON k.doc_id = w.doc_id
"""


QUERIES = {
    "q310_streaming_chat_ingestion": q310_streaming_chat_ingestion,
    "q284_streaming_warc_ingestion": q284_streaming_warc_ingestion,
    "q256_streaming_decayed_rates": q256_streaming_decayed_rates,
    "q237_streaming_span_screen": q237_streaming_span_screen,
    "q209_streaming_media_keyframes": q209_streaming_media_keyframes,
    "q134_incremental_gold_maintenance": q134_incremental_gold_maintenance,
    "q50_delta_merge_upsert": q50_delta_merge_upsert,
    "q51_delta_delete_timetravel": q51_delta_delete_timetravel,
    "q52_delta_status_merge": q52_delta_status_merge,
    "q53_delta_schema_evolution": q53_delta_schema_evolution,
    "q54_delta_optimize_roundtrip": q54_delta_optimize_roundtrip,
    "q55_delta_convert_parquet": q55_delta_convert_parquet,
    "q56_delta_rollback_reinsert": q56_delta_rollback_reinsert,
    "q57_streaming_windowed_counts": q57_streaming_windowed_counts,
    "q58_sessionize": q58_sessionize,
    "q59_sessionize_stateful_stream": q59_sessionize_stateful_stream,
    "q60_cdf_deletes": q60_cdf_deletes,
    "q61_delta_dv_delete": q61_delta_dv_delete,
    "q62_delta_clone_diverge": q62_delta_clone_diverge,
    "q63_delta_zorder_layout": q63_delta_zorder_layout,
    "q64_streaming_dedup": q64_streaming_dedup,
    "q65_copy_into_idempotent": q65_copy_into_idempotent,
    "q66_streaming_delta_sink": q66_streaming_delta_sink,
    "q75_delta_column_mapping": q75_delta_column_mapping,
    "q78_cdf_streaming_drain": q78_cdf_streaming_drain,
    "q79_stream_stream_join": q79_stream_stream_join,
    "q117_stream_outer_join": q117_stream_outer_join,
    "q126_streaming_corpus_dedup": q126_streaming_corpus_dedup,
    "q152_streaming_indexed_corpus": q152_streaming_indexed_corpus,
    "q167_streaming_vocab_sketch": q167_streaming_vocab_sketch,
    "q80_streaming_merge_upsert": q80_streaming_merge_upsert,
    "q84_partitioned_write_pruned_read": q84_partitioned_write_pruned_read,
    "q85_generated_partition_pruning": q85_generated_partition_pruning,
    "q100_cdc_keyed_updates": q100_cdc_keyed_updates,
    "q101_analyze_statistics": q101_analyze_statistics,
    "q102_replace_where": q102_replace_where,
    "q111_stream_static_enrich": q111_stream_static_enrich,
    "q112_row_tracking": q112_row_tracking,
}

ORACLE_SQL = {
    "q310_streaming_chat_ingestion": _q310_sql(),
    "q284_streaming_warc_ingestion": _Q284_SQL,
    "q256_streaming_decayed_rates": _Q256_SQL,
    "q237_streaming_span_screen": _Q237_SQL,
    "q209_streaming_media_keyframes": _Q209_SQL,
    "q134_incremental_gold_maintenance": _Q134_SQL,
    "q57_streaming_windowed_counts": _Q57_SQL,
    "q58_sessionize": _Q58_SQL,
    # q59 emits the SAME session set as q58 once flush sentinels close
    # every tail session — the islands SQL is its exact oracle
    "q59_sessionize_stateful_stream": _Q58_SQL,
    "q50_delta_merge_upsert": _Q50_SQL,
    "q51_delta_delete_timetravel": _Q51_SQL,
    "q52_delta_status_merge": _Q52_SQL,
    "q53_delta_schema_evolution": _Q53_SQL,
    "q54_delta_optimize_roundtrip": _Q54_SQL,
    "q55_delta_convert_parquet": _Q55_SQL,
    "q56_delta_rollback_reinsert": _Q56_SQL,
    "q60_cdf_deletes": _Q60_SQL,
    "q61_delta_dv_delete": _Q61_SQL,
    "q62_delta_clone_diverge": _Q62_SQL,
    "q63_delta_zorder_layout": _Q63_SQL,
    "q64_streaming_dedup": _Q64_SQL,
    "q65_copy_into_idempotent": _Q65_SQL,
    "q66_streaming_delta_sink": _Q66_SQL,
    "q75_delta_column_mapping": _Q75_SQL,
    "q78_cdf_streaming_drain": _Q78_SQL,
    "q79_stream_stream_join": _Q79_SQL,
    "q117_stream_outer_join": _Q117_SQL,
    "q126_streaming_corpus_dedup": _Q126_SQL,
    "q152_streaming_indexed_corpus": _Q152_SQL,
    "q167_streaming_vocab_sketch": _Q167_SQL,
    "q80_streaming_merge_upsert": _Q80_SQL,
    "q84_partitioned_write_pruned_read": _Q84_SQL,
    "q85_generated_partition_pruning": _Q85_SQL,
    "q100_cdc_keyed_updates": _Q100_SQL,
    "q101_analyze_statistics": _Q101_SQL,
    "q102_replace_where": _Q102_SQL,
    "q111_stream_static_enrich": _Q111_SQL,
    "q112_row_tracking": _Q112_SQL,
}
