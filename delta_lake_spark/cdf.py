"""Change data feed: row-level changes between table versions.

``table_changes(spark, path, from_version, to_version)`` returns every
row inserted or deleted by each commit in the range, tagged with
``_change_type`` ('insert' | 'delete') and ``_commit_version`` — the
read side of Delta's CDF, computed WITHOUT write-time change files:

For one commit, the net row changes are exactly the multiset difference
between the files it added and the files it removed (a rewrite carries
unchanged rows into both sides, where exceptAll cancels them):

    inserts = rows(added files)  EXCEPT ALL  rows(removed files)
    deletes = rows(removed files) EXCEPT ALL rows(added files)

An UPDATE therefore appears as delete(old row) + insert(new row).

Scale: each commit's diff touches only the files that commit changed —
an append diffs nothing (removed set empty, exceptAll short-circuits to
a plain scan), a MERGE diffs only its rewritten files. dataChange=False
commits (OPTIMIZE/clustering) are skipped entirely — they move rows
between files without changing the table's contents.

Caveat: the removed files must still exist (not VACUUMed) — same
retention rule as time travel.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import os

from .errors import VersionNotFoundError
from .log import AddFile, DeltaLog
from .reader import scan_adds
from .writer import schema_of


def _to_change_millis(ts: str | int) -> int:
    from .reader import _to_millis

    return _to_millis(ts)


def table_changes(
    spark: SparkSession,
    path: str,
    from_version: int | None = None,
    to_version: int | None = None,
    starting_timestamp: str | int | None = None,
    ending_timestamp: str | int | None = None,
) -> DataFrame:
    """Row-level changes committed in versions [from_version, to_version]
    (inclusive; to_version defaults to latest). Returns the table columns
    plus _change_type and _commit_version.

    Timestamp addressing (Delta's startingTimestamp/endingTimestamp):
    ``starting_timestamp`` resolves to the FIRST commit at-or-after that
    time, ``ending_timestamp`` to the last commit at-or-before it —
    both honor in-commit timestamps when the table has them."""
    path = os.path.abspath(path)
    log = DeltaLog(path)
    latest = log.latest_version()
    if starting_timestamp is not None:
        if from_version is not None:
            raise ValueError(
                "pass from_version OR starting_timestamp, not both"
            )
        ms = _to_change_millis(starting_timestamp)
        try:
            # last commit at-or-before the time; changes begin AFTER it
            # unless that commit is exactly at the requested time
            v = log.version_at_timestamp(ms)
            at = log.commit_timestamp(v)
            from_version = v if at == ms else v + 1
        except VersionNotFoundError:
            from_version = 0  # time precedes the table: every change
    if from_version is None:
        raise ValueError("need from_version or starting_timestamp")
    if ending_timestamp is not None:
        if to_version is not None:
            raise ValueError(
                "pass to_version OR ending_timestamp, not both"
            )
        to_version = log.version_at_timestamp(
            _to_change_millis(ending_timestamp)
        )
    if to_version is None:
        to_version = latest
    if from_version < 0 or to_version > latest or from_version > to_version:
        raise VersionNotFoundError(
            f"invalid change range [{from_version}, {to_version}] "
            f"(latest version is {latest})"
        )

    per_version: list[DataFrame] = []
    # version 0 is included: the table-creation commit's rows are inserts
    # (Delta CDF surfaces them when reading changes from 0); it has no
    # predecessor snapshot, so its diff is simply its added files
    for v in range(from_version, to_version + 1):
        added: list[AddFile] = []
        removed_paths: list[str] = []
        data_change = False
        for action in log._read_actions(v):
            if "add" in action:
                add = AddFile.from_action(action["add"])
                added.append(add)
                data_change = data_change or add.dataChange
            elif "remove" in action:
                removed_paths.append(action["remove"]["path"])
                data_change = data_change or action["remove"].get(
                    "dataChange", True
                )
        if not data_change or (not added and not removed_paths):
            continue

        prev = log.snapshot(v - 1) if v > 0 else None
        # a re-added path (deletion-vector change) replaces its previous
        # state on replay: diff it as removed(prev DV) + added(new DV)
        if prev is not None:
            for add in added:
                if add.path in prev.files and add.path not in removed_paths:
                    removed_paths.append(add.path)
            removed = [prev.files[p] for p in removed_paths if p in prev.files]
        else:
            removed = []
        schema_snap = log.snapshot(v)

        # scan_adds applies deletion vectors, so a DV-delete commit
        # diffs as exactly its newly deleted rows
        add_df = scan_adds(spark, path, added, schema_snap) if added else None
        rem_df = scan_adds(spark, path, removed, prev) if removed else None
        cols = [f.name for f in add_df.schema.fields] if add_df is not None else [
            f.name for f in rem_df.schema.fields
        ]

        def tag(df: DataFrame, kind: str) -> DataFrame:
            return df.select(*cols).withColumn(
                "_change_type", F.lit(kind)
            ).withColumn("_commit_version", F.lit(v).cast("long"))

        if add_df is not None and rem_df is not None:
            inserts = tag(add_df.exceptAll(rem_df.select(*cols)), "insert")
            deletes = tag(rem_df.select(*cols).exceptAll(add_df.select(*cols)), "delete")
            per_version.append(inserts.unionByName(deletes, allowMissingColumns=True))
        elif add_df is not None:
            per_version.append(tag(add_df, "insert"))
        else:
            per_version.append(tag(rem_df, "delete"))

    if not per_version:
        raise VersionNotFoundError(
            f"no data-changing commits in [{from_version}, {to_version}]"
        )
    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), per_version
    )


def table_changes_keyed(
    spark: SparkSession,
    path: str,
    key_cols: list[str],
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Delta-CDF-shaped changes: like table_changes, but when a commit
    deletes and inserts rows sharing the same key, the pair is reported
    as ``update_preimage`` + ``update_postimage`` (real Delta's change
    types for UPDATE/MERGE commits) instead of delete + insert.

    Without write-time change files the pairing needs a key — the same
    natural/primary key a MERGE would use. Per commit: deletes and
    inserts are matched on the key (full-outer join keyed by commit +
    key, a shuffle proportional to that commit's changed rows only);
    both-sides -> update pre/post, delete-only -> delete, insert-only ->
    insert. Multi-row-per-key commits fall back to delete + insert for
    that key (ambiguous pairing is never guessed).
    """
    ch = table_changes(spark, path, from_version, to_version)
    data_cols = [
        c for c in ch.columns if c not in ("_change_type", "_commit_version")
    ]
    counts = ch.groupBy("_commit_version", *key_cols, "_change_type").agg(
        F.count("*").alias("__n")
    )
    # keys safe to pair: exactly one delete and one insert in the commit
    paired = (
        counts.groupBy("_commit_version", *key_cols)
        .agg(
            F.sum(F.when(F.col("_change_type") == "delete", F.col("__n"))).alias("__d"),
            F.sum(F.when(F.col("_change_type") == "insert", F.col("__n"))).alias("__i"),
        )
        .filter((F.col("__d") == 1) & (F.col("__i") == 1))
        .select("_commit_version", *key_cols)
    )
    upgraded = ch.join(paired, ["_commit_version", *key_cols], "left_semi").select(
        *data_cols,
        F.when(F.col("_change_type") == "delete", F.lit("update_preimage"))
        .otherwise(F.lit("update_postimage"))
        .alias("_change_type"),
        "_commit_version",
    )
    passthrough = ch.join(paired, ["_commit_version", *key_cols], "left_anti").select(
        *data_cols, "_change_type", "_commit_version"
    )
    return upgraded.unionByName(passthrough)
