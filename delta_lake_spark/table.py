"""DeltaTable handle: the mutation API surface of the engine.

Re-creates the ``delta.tables.DeltaTable`` API the reference drives
(SURVEY.md §3.3): ``forPath``, ``toDF``, ``alias``, ``merge`` builder
(M1-M4), ``delete`` (M5), ``update``, ``history`` (M9/D9), ``vacuum``
(M8), ``detail`` (D8), plus ``optimize`` (compaction) and ``restore``.

Execution model (Spark-first, SURVEY.md §4 "MERGE touched-file pruning"):
every mutation is three distributed phases —
  1. FIND: one scan with ``_metadata.file_path`` to learn which files
     contain affected rows (Catalyst pushes the predicate into the
     parquet scan, so this prunes with row-group stats);
  2. REWRITE: read ONLY the touched files, apply the change as a plain
     DataFrame transform, stage new parquet in parallel;
  3. COMMIT: one atomic log entry (remove touched + add staged).
Every mutation pins one snapshot and reads only from it: FIND, REWRITE
and any validation scan take that snapshot's file list, never the
latest one. Two helpers build every commit from it: _commit_rewrite
(MERGE, DELETE, UPDATE, replaceWhere, OPTIMIZE, PURGE) and
_commit_schema (schema, constraint, property and feature changes). Both
commit at the version after the pinned one, never blindly at latest+1.
Optimistic concurrency with conflict RESOLUTION has one implementation,
``DeltaLog.commit_from``, which also commits RESTORE, CLONE and every
``write_delta``: a lost commit race rebases and retries only when the
winner provably cannot invalidate this mutation (metadata unchanged, our
touched files byte-identical, and — for predicate mutations — no
concurrent dataChange adds, since an append may hold rows the predicate
should have seen); anything else surfaces as
ConcurrentModificationError and the caller re-runs against the new
snapshot. _commit_schema alone commits directly and never rebases.
Untouched files are never read or rewritten — at 100 TB a MERGE that
touches 0.1% of files costs 0.1% of a table rewrite plus one scan of
the join's pruned candidate set.
"""

from __future__ import annotations

import os
import time
from dataclasses import replace
from typing import Any, Iterable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .errors import (
    MergeAmbiguityError,
    RetentionSafetyError,
    TableNotFoundError,
)
from . import rowtracking
from .log import ICT_PROP, AddFile, CommitInfo, DeltaLog, RemoveFile, _utc_millis
from .reader import FILE_COL as _FILE_COL
from .reader import ROW_COL as _ROW_COL
from .reader import DV_SCHEMA, file_uri, read_delta, scan_adds
from .writer import (
    check_append_only,
    column_mapping,
    enforce_constraints,
    schema_of,
    stage_files,
    write_order,
)

DEFAULT_RETENTION_HOURS = 168  # 7 days, matching Delta's default
RETENTION_CHECK_CONF = "spark.delta_lake_spark.retentionDurationCheck.enabled"
DV_CONF = "deletionVectors"  # table configuration key: "true" => DV deletes

_ACTION_COL = "__dls_action"
_SRC_COL = "__dls_src"

# operationMetrics names (removed, added) where Delta's differ from
# the numRemovedFiles / numAddedFiles every other rewrite records
_FILE_METRICS = {
    "MERGE": ("numTargetFilesRemoved", "numTargetFilesAdded"),
    "PURGE": ("numFilesPurged", "numFilesAdded"),
}


_INT_WIDTH = {"byte": 1, "short": 2, "integer": 3, "long": 4}


def _is_type_widening(old, new) -> bool:
    """True when every value representable in ``old`` reads losslessly
    under ``new`` from existing parquet files (Delta typeWidening)."""
    from pyspark.sql.types import DecimalType

    if old == new:
        return False
    on, nn = old.typeName(), new.typeName()
    if on in _INT_WIDTH and nn in _INT_WIDTH:
        return _INT_WIDTH[nn] > _INT_WIDTH[on]
    if on == "float" and nn == "double":
        return True
    if isinstance(old, DecimalType) and isinstance(new, DecimalType):
        return (
            new.scale >= old.scale
            and new.precision - new.scale >= old.precision - old.scale
            and (new.precision, new.scale) != (old.precision, old.scale)
        )
    return False


def _as_column(cond: str | Column | None) -> Column | None:
    if cond is None:
        return None
    return F.expr(cond) if isinstance(cond, str) else cond


def _pruned_adds(snap, cond_str: str | None) -> list[AddFile]:
    """The files of ``snap`` whose log stats may hold rows matching
    ``cond_str`` (data skipping; every file when there is no SQL string).
    Stats are keyed by PHYSICAL names, so under columnMapping a renamed
    logical column is translated before min/max are consulted."""
    from .skipping import prune_adds

    adds, _ = prune_adds(
        list(snap.files.values()), cond_str, colmap=column_mapping(schema_of(snap))
    )
    return adds


def _keep_unmatched(df: DataFrame, match: Column) -> DataFrame:
    return df.filter(~match)


def _first_firing(*groups: tuple[Column | None, list]) -> Column:
    """Action id of the first clause whose guard and condition both hold,
    over ``(guard, [(action id, clause), ...])`` groups in order; -1 = no
    clause applies (keep the row as-is)."""
    chain = None
    for guard, clauses in groups:
        for i, clause in clauses:
            pred = _as_column(clause.get("condition"))
            if guard is not None:
                pred = guard if pred is None else guard & pred
            if pred is None:
                pred = F.lit(True)
            branch = (pred, F.lit(i))
            chain = F.when(*branch) if chain is None else chain.when(*branch)
    return F.lit(-1) if chain is None else chain.otherwise(F.lit(-1))


class MergeBuilder:
    """Accumulates WHEN MATCHED / WHEN NOT MATCHED clauses, then executes.

    Mirrors the reference's builder usage exactly
    (operations.py:149-166; delta_lake_rapid_start.py:398-420;
    utilities.py:61-73). Conditions may be SQL strings or Columns,
    including non-equi/RLIKE predicates (J4, 05_compliance.py:100-107) —
    Spark plans those as broadcast-nested-loop joins on its own.
    Clause order matters: the first clause whose condition holds wins,
    per Delta semantics.

    A MERGE with a matched update clause runs in two passes. FIND is one
    collect over one exchange: the target, with file and row ids, joined
    to the source and hash-partitioned on the file column; matches are
    counted per row and folded to the largest count per file, both on
    that partitioning, which gives the touched files and the multi-match
    check (``MergeAmbiguityError``) together. REWRITE is one outer join
    of the touched files with the source (``left``, or ``full`` when
    insert clauses exist); each row takes the first clause that fires
    among the matched, by-source and insert clauses. Without insert
    clauses every rewritten row comes from a touched file, so a MERGE
    whose touched files share one partition value is written without a
    partition shuffle (see ``stage_files``). COMMIT swaps the touched
    files for the staged ones. Without an update clause a target row may
    match several source rows, so the rewrite keeps each matched row once
    through a semi join, and an anti join handles the rest.
    """

    def __init__(self, table: "DeltaTable", source: DataFrame, condition: str | Column):
        self._table = table
        self._source = source
        self._condition = condition
        self._matched: list[dict[str, Any]] = []
        self._not_matched: list[dict[str, Any]] = []
        self._not_matched_by_source: list[dict[str, Any]] = []
        self._evolve = False

    def with_schema_evolution(self):
        """MERGE schema evolution: source columns absent from the target
        are appended to the table schema by this merge; pre-existing rows
        read back as null for them (delta-spark's withSchemaEvolution)."""
        self._evolve = True
        return self

    # snake_case and delta-spark camelCase spellings both supported
    def when_matched_update(self, set: dict[str, str | Column], condition=None):
        self._matched.append({"kind": "update", "set": dict(set), "condition": condition})
        return self

    def when_matched_update_all(self, condition=None):
        self._matched.append({"kind": "update_all", "condition": condition})
        return self

    def when_matched_delete(self, condition=None):
        self._matched.append({"kind": "delete", "condition": condition})
        return self

    def when_not_matched_insert(self, values: dict[str, str | Column], condition=None):
        self._not_matched.append({"kind": "insert", "values": dict(values), "condition": condition})
        return self

    def when_not_matched_insert_all(self, condition=None):
        self._not_matched.append({"kind": "insert_all", "condition": condition})
        return self

    def when_not_matched_by_source_update(
        self, set: dict[str, str | Column], condition=None
    ):
        """Target rows with NO matching source row: update in place.
        Conditions/values may reference target columns only (there is
        no source row to read) — delta-spark's
        whenNotMatchedBySourceUpdate, the clause that makes one MERGE a
        full two-way sync (upsert + deprecate-missing)."""
        self._not_matched_by_source.append(
            {"kind": "update", "set": dict(set), "condition": condition}
        )
        return self

    def when_not_matched_by_source_delete(self, condition=None):
        """Target rows with NO matching source row: delete."""
        self._not_matched_by_source.append(
            {"kind": "delete", "condition": condition}
        )
        return self

    whenMatchedUpdate = when_matched_update
    whenMatchedUpdateAll = when_matched_update_all
    whenMatchedDelete = when_matched_delete
    whenNotMatchedInsert = when_not_matched_insert
    whenNotMatchedInsertAll = when_not_matched_insert_all
    whenNotMatchedBySourceUpdate = when_not_matched_by_source_update
    whenNotMatchedBySourceDelete = when_not_matched_by_source_delete
    withSchemaEvolution = with_schema_evolution

    # ---------- execution ----------

    def _source_col(self, name: str) -> Column:
        alias = self._table._source_alias
        if alias:
            return F.col(f"{alias}.{name}")
        return self._source[name]

    def _output_cols(
        self,
        schema: StructType,
        new_names: set[str],
        t_alias: str,
        clauses: list[tuple[int, dict[str, Any]]],
        rt: bool,
        target: bool = True,
    ) -> list[Column]:
        """One select list for rows whose ``_ACTION_COL`` names the clause
        that fired (``clauses`` pairs each clause with its action id). An
        update or insert clause sets the columns it names; every other
        value is the target row's own: null for evolved columns, for rows
        with no target side, and with ``target=False`` (source-only
        frames). With row tracking, rows keep their row id and updated
        rows take this commit's version (null materialized -> the new
        file's default); inserted rows get fresh ids: baseRowId +
        position."""
        src_names = set(self._source.columns)
        fired = {
            i: F.col(_ACTION_COL) == i for i, c in clauses if c["kind"] != "delete"
        }
        cols = []
        for f in schema.fields:
            name, dtype = f.name, f.dataType
            base = (
                F.col(f"{t_alias}.{name}")
                if target and name not in new_names
                else F.lit(None).cast(dtype)
            )
            chain = None
            for i, clause in clauses:
                kind = clause["kind"]
                if kind in ("update", "insert"):
                    given = clause["set" if kind == "update" else "values"]
                    v = _as_column(given.get(name))
                elif kind in ("update_all", "insert_all") and name in src_names:
                    # SET * / INSERT * map source columns; the rest keep
                    # the target's value (an insert has none: null)
                    v = self._source_col(name)
                else:
                    v = None
                if v is None:
                    continue
                branch = (fired[i], v.cast(dtype))
                chain = F.when(*branch) if chain is None else chain.when(*branch)
            cols.append((base if chain is None else chain.otherwise(base)).alias(name))
        if rt:
            if target:
                row_id = F.col(f"{t_alias}.{rowtracking.ROW_ID}")
                commit = F.col(f"{t_alias}.{rowtracking.ROW_COMMIT}")
                updated = [
                    i for i, c in clauses if c["kind"] in ("update", "update_all")
                ]
                if updated:
                    commit = F.when(
                        F.col(_ACTION_COL).isin(updated), F.lit(None).cast("long")
                    ).otherwise(commit)
            else:
                row_id = commit = F.lit(None).cast("long")
            cols += [
                row_id.alias(rowtracking.MAT_ROW_ID),
                commit.alias(rowtracking.MAT_ROW_COMMIT),
            ]
        return cols

    def execute(self, operation_parameters: dict[str, Any] | None = None) -> int:
        t = self._table
        snap = t._log.snapshot()
        schema = schema_of(snap)
        new_fields: list = []
        if self._evolve:
            from pyspark.sql.types import StructField

            tbl_names = {f.name for f in schema.fields}
            new_fields = [
                StructField(f.name, f.dataType, True)
                for f in self._source.schema.fields
                if f.name not in tbl_names
            ]
            if new_fields:
                schema = StructType(list(schema.fields) + new_fields)
        new_names = {f.name for f in new_fields}
        t_alias = t._alias or "target"
        # the marker is non-null exactly on rows that have a source side
        src = self._source.withColumn(_SRC_COL, F.lit(True))
        if t._source_alias:
            src = src.alias(t._source_alias)
        cond = _as_column(self._condition)

        bys = self._not_matched_by_source
        if self._matched or bys:
            # insert-only MERGE is a pure append and stays allowed
            check_append_only(snap, "MERGE with matched clauses")
        rt = rowtracking.enabled(snap)
        # action ids: matched clauses, then by-source clauses, then inserts
        n_m, n_b = len(self._matched), len(bys)
        matched = list(enumerate(self._matched))
        by_source = [(n_m + j, c) for j, c in enumerate(bys)]
        inserts = [(n_m + n_b + k, c) for k, c in enumerate(self._not_matched)]
        delete_ids = [i for i, c in matched + by_source if c["kind"] == "delete"]
        # an update clause makes multi-match an error, which is what lets
        # one outer join stand for the whole rewrite (see FIND below)
        updates = any(c["kind"] != "delete" for c in self._matched)
        action = F.col(_ACTION_COL)
        bys_fire = None
        if bys:
            bys_fire = F.lit(False)
            for clause in bys:
                ci = _as_column(clause.get("condition"))
                bys_fire = bys_fire | (ci if ci is not None else F.lit(True))

        touched: list[str] = []
        if (self._matched or bys) and snap.files:
            with_file = scan_adds(
                t.spark,
                t.path,
                [snap.files[p] for p in sorted(snap.files)],
                snap,
                with_meta=True,
            ).alias(t_alias)
            uri_to_log = {file_uri(t.path, p): p for p in snap.files}
            file_col = F.col(f"{t_alias}.{_FILE_COL}").alias(_FILE_COL)
            if updates:
                # FIND, one exchange: the matches per target row, folded
                # to the largest per file; both groupings run on the one
                # hash partitioning by file. A file is touched when it holds a
                # matched row (or, with by-source clauses, an unmatched
                # row one of them fires on); any row matched twice is
                # ambiguous under an update clause.
                keys = [file_col, F.col(f"{t_alias}.{_ROW_COL}").alias(_ROW_COL)]
                per_file = [F.max("n").alias("n")]
                if bys:
                    keys.append(F.coalesce(bys_fire, F.lit(False)).alias("fire"))
                    unmatched_fire = F.col("fire") & (F.col("n") == 0)
                    per_file.append(F.max(unmatched_fire).alias("fire"))
                found = (
                    with_file.join(src, cond, "left" if bys else "inner")
                    .repartition(F.col(f"{t_alias}.{_FILE_COL}"))
                    .groupBy(*keys)
                    .agg(F.count(_SRC_COL).alias("n"))
                    .groupBy(_FILE_COL)
                    .agg(*per_file)
                )
                if bys:
                    found = found.filter((F.col("n") > 0) | F.col("fire"))
                rows = found.collect()
                if any(r["n"] > 1 for r in rows):
                    raise MergeAmbiguityError(
                        "MERGE: a target row matched multiple source rows "
                        "while an update clause is present"
                    )
                touched = sorted(uri_to_log[r[_FILE_COL]] for r in rows)
            else:
                touched_set: set[str] = set()
                if self._matched:
                    # only matched clauses mutate rows that DO match the
                    # source; a by-source-only merge leaves matched rows
                    # untouched, so those files need no rewrite (and no scan)
                    touched_rows = (
                        with_file.join(src, cond, "left_semi")
                        .select(file_col)
                        .distinct()
                        .collect()
                    )
                    touched_set = {uri_to_log[r[_FILE_COL]] for r in touched_rows}
                if bys:
                    # by-source clauses mutate target rows that match NOTHING
                    # in the source, so files untouched by the semi-join may
                    # still need a rewrite: any file holding an anti-join row
                    # where some clause condition fires
                    bys_rows = (
                        with_file.join(src, cond, "left_anti")
                        .filter(bys_fire)
                        .select(file_col)
                        .distinct()
                        .collect()
                    )
                    touched_set |= {uri_to_log[r[_FILE_COL]] for r in bys_rows}
                touched = sorted(touched_set)

        def out_cols(clauses, target=True):
            return self._output_cols(schema, new_names, t_alias, clauses, rt, target)

        def inserted(source_only: DataFrame) -> DataFrame:
            return (
                source_only.withColumn(_ACTION_COL, _first_firing((None, inserts)))
                .filter(action >= 0)
                .select(*out_cols(inserts, target=False))
            )

        outputs: list[DataFrame] = []
        t_touched = (
            scan_adds(
                t.spark,
                t.path,
                [snap.files[p] for p in touched],
                snap,
                with_meta=True,
                row_ids=rt,
            ).alias(t_alias)
            if touched
            else None
        )
        if updates:
            # REWRITE, one outer join of the touched files with the source.
            # Once FIND has passed, each target row has at most one match
            # and every file holding a matched row is touched, so a source
            # row with no match in the touched files has none anywhere.
            if t_touched is not None:
                has_target = F.col(f"{t_alias}.{_FILE_COL}").isNotNull()
                has_source = F.col(_SRC_COL).isNotNull()
                rows = t_touched.join(src, cond, "full" if inserts else "left")
                rows = rows.withColumn(
                    _ACTION_COL,
                    _first_firing(
                        (has_target & has_source, matched),
                        (~has_source, by_source),
                        (~has_target, inserts),
                    ),
                )
                keep = None
                if inserts:  # source-only rows survive only when inserted
                    keep = has_target | (action >= 0)
                if delete_ids:
                    survives = ~action.isin(delete_ids)
                    keep = survives if keep is None else keep & survives
                if keep is not None:
                    rows = rows.filter(keep)
                outputs.append(rows.select(*out_cols(matched + by_source + inserts)))
            elif inserts:  # nothing matched: every source row is source-only
                outputs.append(inserted(src))
        else:
            if t_touched is not None:
                # No update clause, so multi-match is legal and every
                # surviving matched row keeps its current values: rebuild
                # from the target side alone. left_semi emits each target
                # row exactly once even when >1 source row matches.
                kept = t_touched.join(src, cond, "left_semi")
                if self._matched:  # all of them deletes here
                    # drop rows where ANY matching source row fires a
                    # delete clause (the result is deterministic)
                    del_keys = (
                        t_touched.join(src, cond, "inner")
                        .filter(_first_firing((None, matched)) >= 0)
                        .select(
                            F.col(f"{t_alias}.{_FILE_COL}").alias(_FILE_COL),
                            F.col(f"{t_alias}.{_ROW_COL}").alias(_ROW_COL),
                        )
                        .distinct()
                    )
                    kept = kept.join(del_keys, [_FILE_COL, _ROW_COL], "left_anti")
                outputs.append(kept.select(*out_cols([])))
                unmatched = t_touched.join(src, cond, "left_anti").withColumn(
                    _ACTION_COL, _first_firing((None, by_source))
                )
                if delete_ids:
                    unmatched = unmatched.filter(~action.isin(delete_ids))
                outputs.append(unmatched.select(*out_cols(by_source)))
            if inserts:
                target = scan_adds(t.spark, t.path, list(snap.files.values()), snap)
                outputs.append(
                    inserted(src.join(target.alias(t_alias), cond, "left_anti"))
                )

        if not outputs:
            return snap.version

        new_data = outputs[0]
        for o in outputs[1:]:
            new_data = new_data.unionByName(o)

        from .writer import fill_generated

        new_data = fill_generated(new_data, snap.metadata.configuration)
        enforce_constraints(new_data, snap.metadata.configuration)
        from .writer import with_physical_names

        schema = with_physical_names(schema, snap.metadata.configuration)
        adds = stage_files(
            new_data,
            t.path,
            list(snap.metadata.partitionColumns),
            schema=schema,
            # without inserts every row comes from a touched file
            sources=None if inserts else [snap.files[p] for p in touched],
        )
        return t._commit_rewrite(
            snap,
            "MERGE",
            {
                "predicate": str(self._condition),
                "matchedClauses": [c["kind"] for c in self._matched],
                "notMatchedClauses": [c["kind"] for c in self._not_matched],
                "notMatchedBySourceClauses": [
                    c["kind"] for c in self._not_matched_by_source
                ],
                **(operation_parameters or {}),
            },
            touched,
            adds,
            extra_actions=(
                [replace(snap.metadata, schemaString=schema.json()).to_action()]
                if new_fields
                else []
            ),
        )


class DeltaTable:
    """Handle over one versioned table (``DeltaTable.forPath`` analogue)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = os.path.abspath(path)
        self._log = DeltaLog(self.path)
        self._alias: str | None = None
        self._source_alias: str | None = None
        if not self._log.exists():
            raise TableNotFoundError(f"{path} is not a delta_lake_spark table")

    # ---------- constructors ----------

    @classmethod
    def forPath(cls, spark: SparkSession, path: str) -> "DeltaTable":
        return cls(spark, path)

    for_path = forPath

    @classmethod
    def isDeltaTable(cls, spark: SparkSession, path: str) -> bool:
        return DeltaLog(path).exists()

    @classmethod
    def convertToDelta(
        cls, spark: SparkSession, parquet_path: str, partition_schema: str | None = None
    ) -> "DeltaTable":
        from .writer import convert_to_delta

        convert_to_delta(spark, parquet_path, partition_schema)
        return cls(spark, parquet_path)

    # ---------- reading ----------

    def alias(self, name: str) -> "DeltaTable":
        out = DeltaTable(self.spark, self.path)
        out._alias = name
        return out

    def toDF(self, version: int | None = None, row_ids: bool = False) -> DataFrame:
        df = read_delta(self.spark, self.path, version=version, row_ids=row_ids)
        return df.alias(self._alias) if self._alias else df

    to_df = toDF

    def version(self) -> int:
        return self._log.latest_version()

    # ---------- metadata ----------

    def history(self) -> DataFrame:
        import json as _json

        rows = [
            (
                h["version"],
                h.get("timestamp"),
                h.get("operation"),
                _json.dumps(h.get("operationParameters") or {}),
                _json.dumps(h.get("operationMetrics") or {}),
                h.get("readVersion"),
            )
            for h in self._log.history()
        ]
        return self.spark.createDataFrame(
            rows,
            "version long, timestamp long, operation string, "
            "operationParameters string, operationMetrics string, readVersion long",
        )

    def detail(self) -> DataFrame:
        snap = self._log.snapshot()
        dv_adds = [a for a in snap.files.values() if a.deletionVector]
        return self.spark.createDataFrame(
            [
                (
                    "delta_lake_spark",
                    snap.metadata.id,
                    self.path,
                    snap.metadata.partitionColumns,
                    snap.num_files,
                    snap.size_bytes,
                    snap.metadata.createdTime,
                    len(dv_adds),
                    sum(
                        int(a.deletionVector.get("cardinality", 0)) for a in dv_adds
                    ),
                    snap.protocol.minReaderVersion,
                    snap.protocol.minWriterVersion,
                    sorted(snap.protocol.readerFeatures),
                    [
                        c.strip()
                        for c in snap.metadata.configuration.get(
                            "delta.clusteringColumns", ""
                        ).split(",")
                        if c.strip()
                    ],
                )
            ],
            "format string, id string, location string, "
            "partitionColumns array<string>, numFiles long, sizeInBytes long, "
            "createdTime long, numFilesWithDeletionVectors long, "
            "numDeletedRows long, minReaderVersion long, minWriterVersion long, "
            "tableFeatures array<string>, clusteringColumns array<string>",
        )

    def files(self) -> DataFrame:
        """Queryable file inventory of the current snapshot (the shape of
        an Iceberg-style ``files`` metadata table): path, size, rows,
        partition values, deletion-vector state. Driver cost is O(#files)
        metadata only — no data is read."""
        import json as _json

        snap = self._log.snapshot()
        rows = [
            (
                a.path,
                a.size,
                a.numRecords,
                _json.dumps(a.partitionValues or {}),
                a.deletionVector is not None,
                int((a.deletionVector or {}).get("cardinality", 0)),
            )
            for a in snap.files.values()
        ]
        return self.spark.createDataFrame(
            rows,
            "path string, size_bytes long, num_records long, "
            "partition_values string, has_deletion_vector boolean, "
            "deleted_rows long",
        )

    # ---------- mutations ----------

    def _commit_rewrite(
        self,
        snap,
        operation: str,
        params: dict[str, Any],
        removed: list[str],
        adds: list[AddFile],
        data_change: bool = True,
        read_paths: list[str] | None = None,
        extra_actions: Iterable[dict[str, Any]] = (),
    ) -> int:
        """COMMIT of a rewrite read from ``snap``: one log entry that swaps
        the ``removed`` files for the staged ``adds``, checked against
        ``snap`` by DeltaLog.commit_from. Staged files get fresh disjoint
        baseRowId ranges when row tracking is on (the id source for rows
        whose materialized __dls_row_id is null, e.g. MERGE inserts).
        ``data_change=False`` marks a layout-only rewrite (OPTIMIZE,
        PURGE), which may rebase over concurrent appends."""
        removed_key, added_key = _FILE_METRICS.get(
            operation, ("numRemovedFiles", "numAddedFiles")
        )
        actions = [
            CommitInfo(
                operation=operation,
                operationParameters=params,
                readVersion=snap.version,
                operationMetrics={removed_key: len(removed), added_key: len(adds)},
            ).to_action(),
            *extra_actions,
        ]
        rt = rowtracking.enabled(snap)
        if rt and adds:
            rt_acts, _ = rowtracking.assign_fresh_ids(
                adds, rowtracking.high_water_mark(snap), snap.version + 1
            )
            actions += rt_acts
        now = _utc_millis()
        actions += [
            RemoveFile(p, deletionTimestamp=now, dataChange=data_change).to_action()
            for p in removed
        ]
        actions += [a.to_action() for a in adds]
        return self._log.commit_from(
            snap,
            actions,
            removed,
            content_neutral=not data_change,
            read_paths=read_paths,
            rt_adds=adds if rt else None,
        )

    def _restage(
        self, snap, adds: list[AddFile], transform=None, data_change: bool = True
    ) -> list[AddFile]:
        """REWRITE: read ``adds`` as of ``snap`` (deletion vectors
        applied), apply ``transform`` and stage the result as new files,
        in ``transform``'s layout when ``adds`` share one partition value.
        With row tracking the rows carry their ids into the new files."""
        rt = rowtracking.enabled(snap)
        df = scan_adds(self.spark, self.path, adds, snap, row_ids=rt)
        if transform is not None:
            df = transform(df)
        if rt:
            df = rowtracking.materialize(df)
        return stage_files(
            df,
            self.path,
            list(snap.metadata.partitionColumns),
            data_change=data_change,
            schema=schema_of(snap),
            sources=adds,
        )

    def _rewrite_matching(
        self, snap, condition: str | Column, transform
    ) -> tuple[list[str], list[str], list[AddFile]]:
        """FIND -> REWRITE of a predicate mutation (DELETE, UPDATE,
        replaceWhere), both against ``snap``: the files holding rows that
        match ``condition`` are rewritten through ``transform(df, match)``,
        where ``match`` is the condition with null read as false. Returns
        (touched paths, read paths, staged adds); nothing is staged when
        no row matches."""
        cond = _as_column(condition)
        touched, read_paths = self._touched_files(
            snap, cond, condition if isinstance(condition, str) else None
        )
        if not touched:
            return [], read_paths, []
        match = F.coalesce(cond, F.lit(False))
        adds = self._restage(
            snap, [snap.files[p] for p in touched], lambda df: transform(df, match)
        )
        return touched, read_paths, adds

    def _touched_files(
        self, snap, cond: Column, cond_str: str | None = None
    ) -> tuple[list[str], list[str]]:
        """Exact touched-file discovery in ``snap``: one scan with
        _metadata.file_path, pre-pruned by log stats when the condition
        is a simple SQL string (data skipping — at scale the FIND scan
        touches only files whose min/max ranges overlap the predicate).
        Returns (touched paths, read paths): the second is the pruned scan
        set, which bounds the concurrent-delete-read conflict check in
        DeltaLog.commit_from."""
        adds = _pruned_adds(snap, cond_str)
        if not adds:
            return [], []
        df = scan_adds(self.spark, self.path, adds, snap, with_meta=True)
        rows = df.filter(cond).select(_FILE_COL).distinct().collect()
        uri_to_log = {file_uri(self.path, a.path): a.path for a in adds}
        return (
            sorted(uri_to_log[r[_FILE_COL]] for r in rows),
            [a.path for a in adds],
        )

    def delete(
        self, condition: str | Column | None = None, use_dv: bool | None = None
    ) -> int:
        """Predicate delete (M5; reference delta_lake_rapid_start.py:585-587).

        Only files containing matching rows are rewritten; a predicate on
        the partition column therefore touches exactly that partition's
        files (partition-pruned delete, SURVEY.md §4).

        ``use_dv=True`` (or table configuration ``deletionVectors=true``)
        switches to deletion vectors: instead of rewriting touched files,
        commit a (file, row position) sidecar marking rows deleted. At
        100 TB, deleting 0.01% of rows scattered across every file costs
        one scan + a tiny sidecar write instead of a full-table rewrite;
        ``purge_deletion_vectors()`` (REORG APPLY PURGE) folds them back
        into clean files later.
        """
        snap = self._log.snapshot()
        check_append_only(snap, "DELETE")
        if use_dv is None:
            use_dv = snap.metadata.configuration.get(DV_CONF, "").lower() == "true"
        if condition is None:
            touched = read_paths = sorted(snap.files)
            adds = []
        elif use_dv:
            return self._dv_delete(
                _as_column(condition),
                condition if isinstance(condition, str) else None,
                snap,
            )
        else:
            touched, read_paths, adds = self._rewrite_matching(
                snap, condition, _keep_unmatched
            )
            if not touched:
                return snap.version
        return self._commit_rewrite(
            snap,
            "DELETE",
            {"predicate": str(condition)},
            touched,
            adds,
            read_paths=read_paths,
        )

    def _dv_delete(self, cond: Column, cond_str: str | None, snap) -> int:
        """DELETE via deletion vectors: no data file is rewritten.

        FIND is the same stats-pruned scan as the rewrite path, but the
        output is the matching (file, row position) set, written as one
        parquet sidecar per commit. Touched files are re-added pointing
        at the sidecar; when a file already carries a DV the old deleted
        set is folded into the new sidecar (the scan excluded those rows,
        so old and new sets are disjoint and cardinalities add)."""
        import uuid as _uuid

        adds = _pruned_adds(snap, cond_str)
        if not adds:
            return snap.version

        df = scan_adds(self.spark, self.path, adds, snap, with_meta=True)
        uri_map = self.spark.createDataFrame(
            [(file_uri(self.path, a.path), a.path) for a in adds],
            f"{_FILE_COL} string, path string",
        )
        new_dv = (
            df.filter(F.coalesce(cond, F.lit(False)))
            .select(_FILE_COL, F.col(_ROW_COL).alias("row_index"))
            .join(F.broadcast(uri_map), _FILE_COL)
            .select("path", "row_index")
        )
        new_counts = {
            r["path"]: r["count"]
            for r in new_dv.groupBy("path").count().collect()
        }
        if not new_counts:
            return snap.version

        by_path = {a.path: a for a in adds}
        touched = sorted(new_counts)
        # carry over prior DV rows of touched files into the new sidecar,
        # rekeyed to the current add path (a cloned file's old sidecar is
        # keyed by the source table's path, recorded in deletionVector.key)
        carried: list[DataFrame] = [new_dv]
        old_card: dict[str, int] = {}
        prior: dict[str, list[tuple[str, str]]] = {}  # sidecar -> [(old_key, new_key)]
        for p in touched:
            a = by_path[p]
            if a.deletionVector:
                old_key = a.deletionVector.get("key", a.path)
                prior.setdefault(a.deletionVector["path"], []).append((old_key, p))
                old_card[p] = int(a.deletionVector.get("cardinality", 0))
        for sidecar, keymap in prior.items():
            sc_abs = (
                sidecar if os.path.isabs(sidecar) else os.path.join(self.path, sidecar)
            )
            rekey = self.spark.createDataFrame(
                keymap, "path string, __dls_newpath string"
            )
            carried.append(
                self.spark.read.schema(DV_SCHEMA)
                .parquet(sc_abs)
                .join(F.broadcast(rekey), "path")
                .select(F.col("__dls_newpath").alias("path"), "row_index")
            )
        dv_rows = carried[0]
        for c in carried[1:]:
            dv_rows = dv_rows.unionByName(c)

        dv_rel = os.path.join("deletion_vectors", _uuid.uuid4().hex[:16])
        dv_rows.write.parquet(os.path.join(self.path, dv_rel))

        now = _utc_millis()
        actions: list[dict[str, Any]] = [
            CommitInfo(
                operation="DELETE",
                operationParameters={"predicate": str(cond_str or cond), "mode": "dv"},
                readVersion=snap.version,
                operationMetrics={
                    "numDeletedRows": sum(new_counts.values()),
                    "numDeletionVectorsAdded": len(touched),
                },
            ).to_action()
        ]
        actions.extend(self._feature_upgrade(snap, "deletionVectors"))
        for p in touched:
            a = by_path[p]
            actions.append(
                AddFile(
                    path=a.path,
                    partitionValues=a.partitionValues,
                    size=a.size,
                    numRecords=a.numRecords,
                    stats=a.stats,
                    modificationTime=now,
                    dataChange=True,
                    deletionVector={
                        "path": dv_rel,
                        "cardinality": new_counts[p] + old_card.get(p, 0),
                    },
                    # file bytes are untouched, so row ids survive a DV
                    # delete with zero extra work
                    baseRowId=a.baseRowId,
                    defaultRowCommitVersion=a.defaultRowCommitVersion,
                ).to_action()
            )
        return self._log.commit_from(
            snap,
            actions,
            touched,
            content_neutral=False,
            read_paths=[a.path for a in adds],
        )

    def purge_deletion_vectors(self) -> int:
        """REORG TABLE ... APPLY (PURGE): rewrite every file that carries
        a deletion vector into a clean file (dataChange=False — the
        table's logical content is unchanged), so sidecars become
        unreferenced and VACUUM can reclaim them."""
        snap = self._log.snapshot()
        dv_adds = [a for a in snap.files.values() if a.deletionVector]
        if not dv_adds:
            return snap.version
        adds = self._restage(snap, dv_adds, data_change=False)
        return self._commit_rewrite(
            snap, "PURGE", {}, [a.path for a in dv_adds], adds, data_change=False
        )

    def clone(self, target_path: str, shallow: bool = True) -> "DeltaTable":
        """CLONE: create an independent table at ``target_path``.

        Shallow clone is metadata-only — version 0 of the clone references
        the source's CURRENT data files by absolute path (zero bytes
        copied; at 100 TB this is how you fork a table for experiments).
        Writes/mutations on the clone stage new files locally and never
        touch the source; the clone's VACUUM only walks its own directory
        so source files are never reclaimed by the clone. Deep clone
        copies the data through a staged write."""
        from .log import Metadata

        target_path = os.path.abspath(target_path)
        snap = self._log.snapshot()
        target_log = DeltaLog(target_path)
        if target_log.exists():
            raise ValueError(f"{target_path} is already a table")

        if not shallow:
            from .writer import write_delta

            write_delta(
                self.toDF(),
                target_path,
                mode="append",
                partition_by=list(snap.metadata.partitionColumns),
                operation="CLONE",
                operation_parameters={"source": self.path, "shallow": False},
            )
            return DeltaTable(self.spark, target_path)

        def _abs(p: str) -> str:
            return p if os.path.isabs(p) else os.path.join(self.path, p)

        meta = Metadata(
            schemaString=snap.metadata.schemaString,
            partitionColumns=list(snap.metadata.partitionColumns),
            configuration=dict(snap.metadata.configuration),
            name=snap.metadata.name,
        )
        actions: list[dict[str, Any]] = [
            CommitInfo(
                operation="CLONE",
                operationParameters={
                    "source": self.path,
                    "sourceVersion": snap.version,
                    "shallow": True,
                },
                operationMetrics={"numCopiedFiles": 0, "numReferencedFiles": len(snap.files)},
            ).to_action(),
            snap.protocol.to_action(),  # clone inherits the feature set
            meta.to_action(),
        ]
        for a in snap.files.values():
            dv = None
            if a.deletionVector:
                dv = dict(
                    a.deletionVector,
                    path=_abs(a.deletionVector["path"]),
                    key=a.deletionVector.get("key", a.path),
                )
            actions.append(
                AddFile(
                    path=_abs(a.path),
                    partitionValues=a.partitionValues,
                    size=a.size,
                    numRecords=a.numRecords,
                    stats=a.stats,
                    modificationTime=a.modificationTime,
                    dataChange=True,
                    deletionVector=dv,
                ).to_action()
            )
        target_log.commit_from(None, actions)
        return DeltaTable(self.spark, target_path)

    def update(self, condition: str | Column, set: dict[str, str | Column]) -> int:
        """UPDATE t SET ... WHERE ... via touched-file rewrite."""
        from .writer import apply_generated

        snap = self._log.snapshot()
        check_append_only(snap, "UPDATE")
        conf = snap.metadata.configuration

        def assign(df: DataFrame, match: Column) -> DataFrame:
            # one projection: every new value reads the row's old values
            cols = {
                f.name: F.when(match, _as_column(set[f.name]).cast(f.dataType))
                .otherwise(F.col(f.name))
                for f in schema_of(snap).fields
                if f.name in set
            }
            if rowtracking.enabled(snap):
                # updated rows keep their id but take THIS commit's
                # version (materialized null -> falls back to the new
                # file's defaultRowCommitVersion)
                cols[rowtracking.ROW_COMMIT] = F.when(
                    match, F.lit(None).cast("long")
                ).otherwise(F.col(rowtracking.ROW_COMMIT))
            out = apply_generated(df.withColumns(cols), conf)
            enforce_constraints(out, conf)
            return out

        touched, read_paths, adds = self._rewrite_matching(snap, condition, assign)
        if not touched:
            return snap.version
        return self._commit_rewrite(
            snap,
            "UPDATE",
            {"predicate": str(condition)},
            touched,
            adds,
            read_paths=read_paths,
        )

    def merge(
        self,
        source: DataFrame,
        condition: str | Column,
        source_alias: str | None = None,
    ) -> MergeBuilder:
        """Start a MERGE. ``condition`` may reference the target through
        this handle's ``alias()`` (default alias: ``target``) and the
        source through ``source_alias`` (or an alias already applied to
        the source DataFrame by the caller)."""
        self._source_alias = source_alias
        return MergeBuilder(self, source, condition)

    # ---------- maintenance ----------

    def vacuum(
        self,
        retention_hours: float = DEFAULT_RETENTION_HOURS,
        dry_run: bool = False,
        lite: bool = False,
    ) -> list[str]:
        """Physically delete files unreferenced by the CURRENT version and
        older than the retention window (M8; reference
        05_compliance.py:295-336). Refuses retention below 168h unless
        ``spark.delta_lake_spark.retentionDurationCheck.enabled=false``,
        mirroring Delta's safety flag. Returns deleted paths; old-version
        time travel whose files were removed now raises
        DataFileLostError (reader.py). ``dry_run=True`` (VACUUM ... DRY
        RUN) lists the candidates without deleting anything.

        ``lite=True`` (VACUUM ... LITE): candidates come from the
        transaction log's ``remove`` actions instead of a full directory
        listing — at object-store scale a recursive LIST over 10^6+ keys
        is the expensive operation, while the log already knows every
        file a commit removed and when. LITE cannot reclaim orphans the
        log never saw (files staged by crashed writers before their
        commit); run a full VACUUM occasionally for those."""
        check_enabled = (
            str(self.spark.conf.get(RETENTION_CHECK_CONF, "true")).lower() != "false"
        )
        if retention_hours < DEFAULT_RETENTION_HOURS and check_enabled:
            raise RetentionSafetyError(
                f"retention {retention_hours}h < {DEFAULT_RETENTION_HOURS}h; set "
                f"{RETENTION_CHECK_CONF}=false to override"
            )
        snap = self._log.snapshot()
        live = {os.path.normpath(p) for p in snap.files}
        # deletion-vector sidecar dirs referenced by the current snapshot
        # are live too (their part files would otherwise look unreferenced)
        live_dv_dirs = {
            os.path.normpath(a.deletionVector["path"])
            for a in snap.files.values()
            if a.deletionVector
        }
        cutoff = time.time() - retention_hours * 3600
        deleted: list[str] = []
        if lite:
            # log-driven candidates: every `remove` action across the
            # log whose deletionTimestamp is past retention and whose
            # path isn't live again (re-added by RESTORE) — no LIST
            seen: set[str] = set()
            for v in self._log._versions():
                try:
                    acts = self._log._read_actions(v)
                except OSError:
                    continue  # expired commit behind a checkpoint
                for action in acts:
                    if "remove" not in action:
                        continue
                    rel = os.path.normpath(action["remove"]["path"])
                    if rel in live or rel in seen:
                        continue
                    ts = action["remove"].get("deletionTimestamp")
                    if ts is not None and ts / 1000.0 > cutoff:
                        continue
                    seen.add(rel)
                    abs_f = os.path.join(self.path, rel)
                    if os.path.exists(abs_f):
                        if not dry_run:
                            os.unlink(abs_f)
                        deleted.append(rel)
            return deleted
        for root, _dirs, names in os.walk(self.path):
            if "_delta_log" in root:
                continue
            for name in names:
                if not name.endswith(".parquet"):
                    continue
                abs_f = os.path.join(root, name)
                rel = os.path.normpath(os.path.relpath(abs_f, self.path))
                if rel in live:
                    continue
                if any(
                    rel == d or rel.startswith(d + os.sep) for d in live_dv_dirs
                ):
                    continue
                if os.path.getmtime(abs_f) <= cutoff:
                    if not dry_run:
                        os.unlink(abs_f)
                    deleted.append(rel)
        if dry_run:
            return deleted
        # drop now-empty data dirs
        for root, dirs, names in os.walk(os.path.join(self.path, "data"), topdown=False):
            if not dirs and not names:
                try:
                    os.rmdir(root)
                except OSError:
                    pass
        return deleted

    def optimize(
        self,
        target_file_bytes: int = 128 * 1024 * 1024,
        small_file_bytes: int | None = None,
        cluster_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
        zorder_bits: int = 6,
        partition_filter: dict[str, object] | None = None,
    ) -> int:
        """Bin-packing compaction: rewrite each partition's small files
        into ~target-size files, committed with dataChange=False so
        downstream incremental readers ignore it. (BASELINE.json approach
        line: compaction/vacuum; not present in the reference itself.)

        ``cluster_by``: range-cluster the rewritten rows on these columns
        (repartitionByRange + in-file sort), so each output file covers a
        tight min/max range and stats-based data skipping on those columns
        prunes most files — the single-dimension form of Z-ordering.

        ``zorder_by``: Morton-interleave the quantile-bucket bits of
        SEVERAL columns into one sort key (zorder.py), so skipping prunes
        on any clustered column, not just the first. With either
        clustering option, ALL files in the partition are rewritten
        (clustering is a layout change, not just small-file cleanup).

        ``partition_filter`` ({partition col: value}) scopes the whole
        operation to matching partitions — the daily pattern at scale:
        compact/re-cluster just the partition that took today's small
        appends instead of touching the other 10^3 partitions."""
        if cluster_by and zorder_by:
            raise ValueError("pass cluster_by OR zorder_by, not both")
        snap = self._log.snapshot()
        if cluster_by is None and zorder_by is None:
            # clustered table (delta.clusteringColumns, Delta's liquid-
            # clustering declaration): a bare OPTIMIZE re-clusters on
            # the table-declared columns, so ingestion jobs never need
            # to repeat the layout choice at every call site
            declared = snap.metadata.configuration.get(
                "delta.clusteringColumns"
            )
            if declared:
                cols = [c.strip() for c in declared.split(",") if c.strip()]
                if len(cols) == 1:
                    cluster_by = cols
                elif cols:
                    zorder_by = cols
        small_file_bytes = small_file_bytes or target_file_bytes // 2
        clustering = bool(cluster_by or zorder_by)
        wanted = None
        if partition_filter:
            wanted = {
                k: (None if v is None else str(v))
                for k, v in partition_filter.items()
            }
        by_part: dict[tuple, list] = {}
        for add in snap.files.values():
            if wanted is not None and not all(
                add.partitionValues.get(k) == v for k, v in wanted.items()
            ):
                continue
            if clustering or add.size < small_file_bytes:
                key = tuple(sorted(add.partitionValues.items()))
                by_part.setdefault(key, []).append(add)

        zcol = None
        if zorder_by:
            from .zorder import zvalue_expr

            zcol = zvalue_expr(
                scan_adds(self.spark, self.path, list(snap.files.values()), snap),
                zorder_by,
                bits=zorder_bits,
            )

        # constant within one partition's rewrite; leading with it keeps
        # the in-file sort through the partitioned write
        pv_order = write_order(list(snap.metadata.partitionColumns))
        removes: list[str] = []
        all_adds: list[AddFile] = []
        for adds in by_part.values():
            if len(adds) < 2 and not clustering:
                continue
            total = sum(a.size for a in adds)
            n_out = max(1, -(-total // target_file_bytes))

            def layout(df: DataFrame) -> DataFrame:
                if zcol is not None:
                    return (
                        df.withColumn("__dls_z", zcol)
                        .repartitionByRange(n_out, "__dls_z")
                        .sortWithinPartitions(*pv_order, "__dls_z")
                        .drop("__dls_z")
                    )
                if cluster_by:
                    return df.repartitionByRange(
                        n_out, *cluster_by
                    ).sortWithinPartitions(*pv_order, *cluster_by)
                return df.coalesce(n_out)

            all_adds += self._restage(snap, adds, layout, data_change=False)
            removes += [a.path for a in adds]
        if not removes:
            return snap.version
        return self._commit_rewrite(
            snap,
            "OPTIMIZE",
            {
                "targetFileBytes": target_file_bytes,
                "clusterBy": cluster_by or [],
                "zorderBy": zorder_by or [],
            },
            removes,
            all_adds,
            data_change=False,
        )

    # ---------- CHECK constraints ----------

    def add_constraint(self, name: str, expr: str) -> int:
        """ALTER TABLE ADD CONSTRAINT name CHECK (expr): validate the
        CURRENT data satisfies it, then record it in table configuration
        so every future write/merge/update enforces it at commit time."""
        snap = self._log.snapshot()
        key = f"constraint.{name}"
        if key in snap.metadata.configuration:
            raise ValueError(f"constraint {name} already exists")
        enforce_constraints(
            scan_adds(self.spark, self.path, list(snap.files.values()), snap),
            {key: expr},
        )
        return self._commit_schema(
            snap,
            "ADD CONSTRAINT",
            {"name": name, "expr": expr},
            configuration={**snap.metadata.configuration, key: expr},
        )

    def drop_constraint(self, name: str) -> int:
        snap = self._log.snapshot()
        key = f"constraint.{name}"
        if key not in snap.metadata.configuration:
            raise ValueError(f"constraint {name} does not exist")
        conf = {k: v for k, v in snap.metadata.configuration.items() if k != key}
        return self._commit_schema(
            snap, "DROP CONSTRAINT", {"name": name}, configuration=conf
        )

    # ---------- schema evolution (ALTER TABLE ... COLUMN) ----------

    def _commit_schema(
        self,
        snap,
        operation: str,
        params: dict[str, Any],
        schema: StructType | None = None,
        configuration: dict[str, str] | None = None,
        extra_actions: Iterable[dict[str, Any]] = (),
    ) -> int:
        """Metadata commit built from ``snap``: a new schema and/or
        configuration (an unchanged schema keeps ``snap``'s schemaString
        byte for byte), plus ``extra_actions`` such as protocol changes.
        It lands at the version right after ``snap`` or raises
        ConcurrentModificationError: a metadata change is never rebased,
        since the caller validated it against ``snap`` (and version
        provenance such as typeChanges' tableVersion names that version)."""
        snap.protocol.check_write_support(self.path)
        changes: dict[str, Any] = {}
        if schema is not None:
            changes["schemaString"] = schema.json()
        if configuration is not None:
            changes["configuration"] = configuration
        return self._log.commit(
            snap.version + 1,
            [
                CommitInfo(
                    operation=operation,
                    operationParameters=params,
                    readVersion=snap.version,
                ).to_action(),
                *extra_actions,
                replace(snap.metadata, **changes).to_action(),
            ],
        )

    def _feature_upgrade(self, snap, feature: str) -> list[dict[str, Any]]:
        """Protocol action adding a reader feature, or [] when the table
        already declares it (committed alongside the enabling change)."""
        if feature in snap.protocol.readerFeatures:
            return []
        return [snap.protocol.with_features(reader=[feature]).to_action()]

    def _assert_column_alterable(self, snap, col: str, action: str) -> None:
        import re as _re

        if col in snap.metadata.partitionColumns:
            raise ValueError(f"cannot {action} partition column {col}")
        for k, v in snap.metadata.configuration.items():
            for prefix in ("constraint.", "generated.", "identity."):
                if not k.startswith(prefix):
                    continue
                target = k[len(prefix):]
                if target.lower() == col.lower() or _re.search(
                    rf"\b{_re.escape(col)}\b", str(v), _re.IGNORECASE
                ):
                    raise ValueError(
                        f"cannot {action} column {col}: referenced by table "
                        f"configuration {k!r}"
                    )

    def _mapped_schema(self, snap, schema):
        """Freeze every field's current name as its physical name (first
        RENAME/DROP upgrades the table to columnMapping.mode=name — the
        names already on disk become the immutable physical names)."""
        from pyspark.sql.types import StructField, StructType

        from .writer import MAPPING_MODE_KEY, PHYSICAL_KEY, physical_name

        conf = dict(snap.metadata.configuration)
        if conf.get(MAPPING_MODE_KEY) == "name":
            return schema, conf
        conf[MAPPING_MODE_KEY] = "name"
        frozen = StructType(
            [
                StructField(
                    f.name,
                    f.dataType,
                    f.nullable,
                    {**(f.metadata or {}), PHYSICAL_KEY: physical_name(f)},
                )
                for f in schema.fields
            ]
        )
        return frozen, conf

    def add_columns(
        self, columns: dict[str, str], defaults: dict[str, str] | None = None
    ) -> int:
        """ALTER TABLE ADD COLUMNS ({name: ddl type}). Metadata-only:
        existing files simply lack the column and readers surface NULL
        (the parquet scan fills missing fields); no data is rewritten.
        Under column mapping, new columns get fresh physical names so a
        re-added name never resurrects dropped data.

        ``defaults`` ({name: sql expr}) records a column DEFAULT: future
        writes that omit the column get the expression computed JVM-side
        (apply_defaults); existing rows still read NULL — Delta's
        allowColumnDefaults semantics, where defaults apply to new
        writes only."""
        from pyspark.sql.types import StructField, StructType

        from .writer import DEFAULT_PREFIX, with_physical_names

        snap = self._log.snapshot()
        schema = schema_of(snap)
        existing = {f.name.lower() for f in schema.fields}
        new_fields = []
        for name, ddl in columns.items():
            if name.lower() in existing:
                raise ValueError(f"column {name} already exists")
            dt = StructType.fromDDL(f"`{name}` {ddl}").fields[0].dataType
            new_fields.append(StructField(name, dt, True))
        for name in defaults or {}:
            if name not in columns:
                raise ValueError(
                    f"default for {name!r} must accompany its ADD COLUMN"
                )
        new_schema = with_physical_names(
            StructType(list(schema.fields) + new_fields),
            snap.metadata.configuration,
        )
        configuration = None
        if defaults:
            configuration = {
                **snap.metadata.configuration,
                **{DEFAULT_PREFIX + c: e for c, e in defaults.items()},
            }
        return self._commit_schema(
            snap,
            "ADD COLUMNS",
            {"columns": dict(columns), **({"defaults": dict(defaults)} if defaults else {})},
            schema=new_schema,
            configuration=configuration,
        )

    def drop_feature(self, feature: str) -> int:
        """ALTER TABLE DROP FEATURE — remove a table feature from the
        protocol so pre-feature clients can use the table again, with
        the safety gates Delta applies: a feature whose TRACES are still
        in the table is not droppable until those traces are gone.

          - deletionVectors: requires purge_deletion_vectors first (a
            live DV sidecar would silently resurrect deleted rows for
            a reader that ignores the feature);
          - inCommitTimestamp / rowTracking: the enabling property is
            switched off in the same commit; historical commit fields
            are harmless to feature-unaware readers;
          - columnMapping / typeWidening: refused — data files depend
            on them permanently (physical names; narrow on-disk types).
        """
        snap = self._log.snapshot()
        features = set(snap.protocol.readerFeatures) | set(
            snap.protocol.writerFeatures
        )
        if feature not in features:
            raise ValueError(f"table does not declare feature {feature!r}")
        if feature in ("columnMapping", "typeWidening"):
            raise ValueError(
                f"feature {feature!r} cannot be dropped: existing data "
                "files depend on it (physical column names / narrow "
                "on-disk types)"
            )
        conf = dict(snap.metadata.configuration)
        if feature == "deletionVectors":
            if any(a.deletionVector for a in snap.files.values()):
                raise ValueError(
                    "cannot drop deletionVectors while files carry DV "
                    "sidecars; run purge_deletion_vectors() first"
                )
            conf.pop("delta.enableDeletionVectors", None)
        elif feature == "inCommitTimestamp":
            conf.pop(ICT_PROP, None)
            conf.pop("delta.inCommitTimestampEnablementVersion", None)
            conf.pop("delta.inCommitTimestampEnablementTimestamp", None)
        elif feature == "rowTracking":
            conf.pop("delta.enableRowTracking", None)
        return self._commit_schema(
            snap,
            "DROP FEATURE",
            {"feature": feature},
            configuration=conf,
            extra_actions=[snap.protocol.without_feature(feature).to_action()],
        )

    def alter_column_type(self, name: str, new_type_ddl: str) -> int:
        """ALTER TABLE ALTER COLUMN ... TYPE — Delta type widening
        (``typeWidening`` table feature): a metadata-only schema change
        to a strictly WIDER type. Existing files keep their narrow
        physical type; Spark's vectorized parquet reader up-casts at
        scan time (int32 files under a bigint schema, float under
        double, decimal under higher precision), so no data moves.
        Narrowing or unrelated conversions are refused — they would
        corrupt reads of existing files. The per-column change history
        is recorded in the field metadata (``delta.typeChanges``)."""
        from pyspark.sql.types import StructField, StructType

        snap = self._log.snapshot()
        schema = schema_of(snap)
        match = [f for f in schema.fields if f.name.lower() == name.lower()]
        if not match:
            raise ValueError(f"no such column {name}")
        f0 = match[0]
        new_dt = StructType.fromDDL(f"`x` {new_type_ddl}").fields[0].dataType
        if not _is_type_widening(f0.dataType, new_dt):
            raise ValueError(
                f"{f0.dataType.simpleString()} -> {new_dt.simpleString()} "
                "is not a widening conversion; only byte/short/int->"
                "bigger ints, float->double, and decimal precision/scale "
                "growth keep existing files readable"
            )
        self._assert_column_alterable(snap, f0.name, "alter the type of")
        meta = dict(f0.metadata or {})
        changes = list(meta.get("delta.typeChanges", []))
        changes.append(
            {
                "fromType": f0.dataType.simpleString(),
                "toType": new_dt.simpleString(),
                "tableVersion": snap.version + 1,
            }
        )
        meta["delta.typeChanges"] = changes
        new_schema = StructType(
            [
                StructField(f.name, new_dt, f.nullable, meta)
                if f.name == f0.name
                else f
                for f in schema.fields
            ]
        )
        return self._commit_schema(
            snap,
            "ALTER COLUMN TYPE",
            {
                "column": name,
                "from": f0.dataType.simpleString(),
                "to": new_dt.simpleString(),
            },
            schema=new_schema,
            extra_actions=self._feature_upgrade(snap, "typeWidening"),
        )

    def rename_column(self, old: str, new: str) -> int:
        """ALTER TABLE RENAME COLUMN old TO new — metadata-only via
        column mapping (Delta columnMapping.mode=name): the field keeps
        its physical parquet name, only the logical name changes, so no
        file is rewritten and every existing file stays readable."""
        from pyspark.sql.types import StructField, StructType

        snap = self._log.snapshot()
        schema = schema_of(snap)
        match = [f for f in schema.fields if f.name.lower() == old.lower()]
        if not match:
            raise ValueError(f"no such column {old}")
        if any(f.name.lower() == new.lower() for f in schema.fields):
            raise ValueError(f"column {new} already exists")
        self._assert_column_alterable(snap, match[0].name, "rename")
        frozen, conf = self._mapped_schema(snap, schema)
        new_schema = StructType(
            [
                StructField(new, f.dataType, f.nullable, f.metadata)
                if f.name == match[0].name
                else f
                for f in frozen.fields
            ]
        )
        return self._commit_schema(
            snap, "RENAME COLUMN", {"from": old, "to": new},
            schema=new_schema,
            configuration=conf,
            extra_actions=self._feature_upgrade(snap, "columnMapping"),
        )

    def drop_column(self, name: str) -> int:
        """ALTER TABLE DROP COLUMN — metadata-only: the field leaves the
        logical schema; its bytes stay in the files (invisible to every
        reader) until files are naturally rewritten. Upgrades the table
        to column mapping so a future ADD COLUMN with the same name maps
        to a fresh physical name and never resurrects the old values."""
        from pyspark.sql.types import StructType

        snap = self._log.snapshot()
        schema = schema_of(snap)
        match = [f for f in schema.fields if f.name.lower() == name.lower()]
        if not match:
            raise ValueError(f"no such column {name}")
        if len(schema.fields) == 1:
            raise ValueError("cannot drop the only column of a table")
        self._assert_column_alterable(snap, match[0].name, "drop")
        frozen, conf = self._mapped_schema(snap, schema)
        new_schema = StructType(
            [f for f in frozen.fields if f.name != match[0].name]
        )
        return self._commit_schema(
            snap, "DROP COLUMN", {"column": name},
            schema=new_schema,
            configuration=conf,
            extra_actions=self._feature_upgrade(snap, "columnMapping"),
        )

    def replace_where(self, df: DataFrame, predicate: str) -> int:
        """Selective overwrite (Delta's ``replaceWhere``): atomically
        replace exactly the rows matching ``predicate`` with ``df``, in
        ONE commit — delete-matching + append as a single transaction,
        so readers never observe the gap between them.

        Every incoming row must satisfy the predicate (enforced with a
        limit(1) probe, not a full count); files straddling the
        predicate are rewritten keeping their non-matching rows
        (arbitrary-predicate replaceWhere, not just partition-aligned).
        FIND is stats/partition-pruned like DELETE, so a
        partition-aligned predicate touches only that partition's files.
        """
        from .writer import apply_generated

        snap = self._log.snapshot()
        check_append_only(snap, "replaceWhere overwrite")
        schema = schema_of(snap)
        cond = _as_column(predicate)
        bad = df.filter(~F.coalesce(cond, F.lit(False))).limit(1).collect()
        if bad:
            raise ValueError(
                f"replace_where: incoming row violates predicate {predicate!r}: "
                f"{bad[0]}"
            )
        touched, read_paths, adds = self._rewrite_matching(
            snap, predicate, _keep_unmatched
        )
        new_df = apply_generated(
            df.select(
                *[F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields
                  if f.name in df.columns]
            ),
            snap.metadata.configuration,
        )
        enforce_constraints(new_df, snap.metadata.configuration)
        new_adds = stage_files(
            new_df,
            self.path,
            list(snap.metadata.partitionColumns),
            schema=schema,
        )
        return self._commit_rewrite(
            snap,
            "WRITE",
            {"mode": "Overwrite", "predicate": predicate},
            touched,
            adds + new_adds,
            read_paths=read_paths,
        )

    def partitions(self) -> DataFrame:
        """Per-partition inventory (Iceberg's ``partitions`` metadata
        table shape): partition values, file count, row count, bytes —
        O(#files) driver-side log arithmetic, no data read. Raises on an
        unpartitioned table."""
        import json as _json

        snap = self._log.snapshot()
        pcols = list(snap.metadata.partitionColumns)
        if not pcols:
            raise ValueError(f"table {self.path} is not partitioned")
        agg: dict[tuple, list[int]] = {}
        for a in snap.files.values():
            key = tuple(a.partitionValues.get(c) for c in pcols)
            n_rows = (a.numRecords or 0) - int(
                (a.deletionVector or {}).get("cardinality", 0)
            )
            cur = agg.setdefault(key, [0, 0, 0])
            cur[0] += 1
            cur[1] += n_rows
            cur[2] += a.size
        rows = [
            (_json.dumps(dict(zip(pcols, k))), v[0], v[1], v[2])
            for k, v in sorted(agg.items(), key=lambda kv: str(kv[0]))
        ]
        return self.spark.createDataFrame(
            rows,
            "partition string, num_files long, num_rows long, size_bytes long",
        )

    def row_count(self) -> int | None:
        """Metadata-only row count: sum of per-file numRecords minus
        deletion-vector cardinalities — O(#files) driver arithmetic, no
        scan (the answer a 100 TB COUNT(*) should come from). Returns
        None when any file lacks numRecords (pre-stats writer) so the
        caller falls back to a scan instead of trusting a partial sum."""
        snap = self._log.snapshot()
        total = 0
        for a in snap.files.values():
            if a.numRecords is None:
                return None
            total += a.numRecords - int((a.deletionVector or {}).get("cardinality", 0))
        return total

    def analyze(
        self, columns: list[str] | None = None, exact_ndv: bool = False
    ) -> int:
        """ANALYZE TABLE ... COMPUTE STATISTICS: one aggregation pass
        computing per-column null_count / min / max / ndv plus the table
        row count, committed as a dataChange=False statistics commit
        (table property ``dls.tableStats``) so planners and users read
        them from the log without scanning. ``exact_ndv=False`` (default)
        uses HyperLogLog approx_count_distinct — at 100 TB an exact
        distinct per column is a full shuffle per column, while HLL is
        one map-side pass; pass True when exact cardinalities matter
        more than cost. The scan and the commit use one snapshot: a
        write that lands in between makes ANALYZE raise
        ConcurrentModificationError rather than record stats of an older
        version. Returns the committed version."""
        import json as _json

        snap = self._log.snapshot()
        schema = schema_of(snap)
        cols = columns or [f.name for f in schema.fields]
        df = scan_adds(self.spark, self.path, list(snap.files.values()), snap)
        ndv = (
            (lambda c: F.count_distinct(F.col(c)))
            if exact_ndv
            else (lambda c: F.approx_count_distinct(F.col(c)))
        )
        aggs = [F.count(F.lit(1)).alias("__rows")]
        for c in cols:
            aggs.extend(
                [
                    F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"__nc_{c}"),
                    F.min(c).alias(f"__min_{c}"),
                    F.max(c).alias(f"__max_{c}"),
                    ndv(c).alias(f"__ndv_{c}"),
                ]
            )
        row = df.agg(*aggs).collect()[0]  # one row of stats — not data
        stats = {
            "rowCount": row["__rows"],
            "columns": {
                c: {
                    "nullCount": int(row[f"__nc_{c}"] or 0),
                    "min": str(row[f"__min_{c}"]) if row[f"__min_{c}"] is not None else None,
                    "max": str(row[f"__max_{c}"]) if row[f"__max_{c}"] is not None else None,
                    "ndv": int(row[f"__ndv_{c}"] or 0),
                }
                for c in cols
            },
        }
        props = {"dls.tableStats": _json.dumps(stats, separators=(",", ":"))}
        return self._commit_schema(
            snap,
            "SET TBLPROPERTIES",
            {"properties": props},
            configuration={**snap.metadata.configuration, **props},
        )

    def statistics(self) -> DataFrame:
        """Statistics recorded by the last ANALYZE as a relation:
        (column, null_count, min, max, ndv, row_count). Raises if the
        table was never analyzed."""
        import json as _json

        raw = self._log.snapshot().metadata.configuration.get("dls.tableStats")
        if not raw:
            raise ValueError(
                f"table {self.path} has no statistics; run analyze() first"
            )
        st = _json.loads(raw)
        rows = [
            (c, v["nullCount"], v["min"], v["max"], v["ndv"], st["rowCount"])
            for c, v in sorted(st["columns"].items())
        ]
        return self.spark.createDataFrame(
            rows,
            "column string, null_count long, min string, max string, "
            "ndv long, row_count long",
        )

    def set_properties(self, props: dict[str, str]) -> int:
        """ALTER TABLE SET TBLPROPERTIES: merge keys into table
        configuration (e.g. ``{"deletionVectors": "true"}`` flips
        DELETE to deletion-vector mode for all writers).

        Enabling ``delta.enableRowTracking`` on an existing table
        upgrades the protocol (rowTracking + domainMetadata writer
        features) and BACKFILLS: every live file is re-added
        (dataChange=False — a metadata-only commit, no bytes move) with
        a fresh disjoint ``baseRowId`` range, so ``_row_id`` is defined
        for pre-existing rows too."""
        from .log import _ict_enabled

        snap = self._log.snapshot()
        conf = {**snap.metadata.configuration, **{k: str(v) for k, v in props.items()}}
        writer_features: list[str] = []
        if _ict_enabled(conf) and not _ict_enabled(snap.metadata.configuration):
            writer_features.append("inCommitTimestamp")
        backfill_actions: list[dict[str, Any]] = []
        if rowtracking.enabled(conf) and not rowtracking.enabled(snap):
            writer_features += rowtracking.ROW_TRACKING_FEATURES
            backfill = [
                replace(a, dataChange=False)
                for a in snap.files.values()
                if a.baseRowId is None
            ]
            backfill_actions, _ = rowtracking.assign_fresh_ids(
                backfill, rowtracking.high_water_mark(snap), snap.version + 1
            )
            backfill_actions += [a.to_action() for a in backfill]
        protocol = (
            [snap.protocol.with_features(writer=writer_features).to_action()]
            if writer_features
            else []
        )
        return self._commit_schema(
            snap,
            "SET TBLPROPERTIES",
            {"properties": dict(props)},
            configuration=conf,
            extra_actions=protocol + backfill_actions,
        )

    def unset_properties(self, keys: list[str]) -> int:
        """ALTER TABLE UNSET TBLPROPERTIES."""
        snap = self._log.snapshot()
        conf = {
            k: v for k, v in snap.metadata.configuration.items() if k not in set(keys)
        }
        return self._commit_schema(
            snap,
            "UNSET TBLPROPERTIES",
            {"properties": list(keys)},
            configuration=conf,
        )

    def restore(self, version: int) -> int:
        """RESTORE to an earlier version: commit the file-set diff so the
        table content equals that snapshot (history is preserved). The
        diff is taken against the current snapshot and committed against
        it, so a concurrent data change makes RESTORE raise instead of
        landing a mix of both."""
        old = self._log.snapshot(version)
        cur = self._log.snapshot()
        check_append_only(cur, "RESTORE")
        now = _utc_millis()
        # a path present in both but with a different deletion vector must
        # be re-added with the old DV state (re-add replaces on replay)
        adds = [
            a
            for p, a in old.files.items()
            if p not in cur.files or cur.files[p].deletionVector != a.deletionVector
        ]
        removes = [p for p in cur.files if p not in old.files]
        actions: list[dict[str, Any]] = [
            CommitInfo(
                operation="RESTORE",
                operationParameters={"version": version},
                readVersion=cur.version,
            ).to_action()
        ]
        actions.extend(RemoveFile(p, deletionTimestamp=now).to_action() for p in removes)
        actions.extend(a.to_action() for a in adds)
        # a re-added path replaces its current entry, so a winner that
        # changed it conflicts just like one that changed a removed path
        replaced = removes + [a.path for a in adds if a.path in cur.files]
        return self._log.commit_from(cur, actions, replaced, content_neutral=False)
