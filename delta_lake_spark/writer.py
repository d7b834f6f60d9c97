"""ACID write path: stage parquet via Spark, then atomically commit.

Covers the reference's sinks (SURVEY.md §2.1/2.8):
  - S7 append + partitionBy   (reference operations.py:23-36)
  - S8 overwrite              (reference user.py:88-89)
  - S11 mergeSchema evolution (reference delta_lake_rapid_start.py:565-571)
  - M10 schema enforcement    (reference delta_lake_rapid_start.py:544-563)
  - S12 convert parquet->delta(reference delta_lake_rapid_start.py:159-164)

Layout: every commit stages its files under ``data/<commit-id>/`` inside
the table directory (Spark writes them fully in parallel on executors);
the commit then records table-relative paths in the log. Data files KEEP
all columns, including partition columns — partition directories exist
only to split files by partition value (so file-level pruning works) and
to recover ``partitionValues`` for the log. Readers always receive an
explicit file list from the log, never a directory listing, so there is
no partition-inference ambiguity and no basePath recovery (verified
against Spark 4.1: explicit-file reads do not infer partitions).
"""

from __future__ import annotations

import json
import os
import re
import uuid
from dataclasses import replace
from typing import Any, Callable
from urllib.parse import unquote

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from . import rowtracking
from .errors import (
    AppendOnlyTableError,
    ConcurrentModificationError,
    ConstraintViolationError,
    SchemaMismatchError,
)
from .log import (
    AddFile,
    CommitInfo,
    DeltaLog,
    Metadata,
    Protocol,
    RemoveFile,
    _ict_enabled,
    _utc_millis,
    copy_into_app_id,
)
from .stats import file_stats

PV_DIR_PREFIX = "__pv_"
HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"
CONSTRAINT_PREFIX = "constraint."
GENERATED_PREFIX = "generated."
DEFAULT_PREFIX = "default."


def apply_defaults(
    df: DataFrame, table_schema: "StructType", configuration: dict[str, str]
) -> DataFrame:
    """Column DEFAULT values (Delta's allowColumnDefaults): a write that
    OMITS a defaulted column gets the default expression computed
    JVM-side; a write that supplies the column keeps its values.
    Existing rows are untouched (ADD COLUMN stays metadata-only — they
    read as NULL, matching Delta: defaults apply to new writes only)."""
    from pyspark.sql import functions as F

    for f in table_schema.fields:
        expr = configuration.get(DEFAULT_PREFIX + f.name)
        if expr is not None and f.name not in df.columns:
            df = df.withColumn(f.name, F.expr(expr).cast(f.dataType))
    return df

# ---------------------------------------------------------------------------
# column mapping (Delta's columnMapping.mode=name): the schema's StructField
# metadata carries the PHYSICAL parquet column name, so RENAME/DROP COLUMN
# are metadata-only commits — no data file is ever rewritten. Files written
# before mapping was enabled already store physical == the then-logical
# name; files written after store the immutable physical name.
# ---------------------------------------------------------------------------
PHYSICAL_KEY = "dls.physicalName"
MAPPING_MODE_KEY = "columnMapping.mode"


def physical_name(field) -> str:
    meta = field.metadata or {}
    return meta.get(PHYSICAL_KEY, field.name)


def column_mapping(schema: StructType) -> dict[str, str]:
    """logical name -> physical parquet name (identity without mapping)."""
    return {f.name: physical_name(f) for f in schema.fields}


def physical_schema(schema: StructType) -> StructType:
    from pyspark.sql.types import StructField

    return StructType(
        [
            StructField(physical_name(f), f.dataType, f.nullable)
            for f in schema.fields
        ]
    )


def to_physical(df: DataFrame, schema: StructType) -> DataFrame:
    """Rename a logical-named DataFrame's columns to their physical names
    ahead of a parquet write; passthrough when no mapping exists."""
    mapping = column_mapping(schema)
    if all(l == p for l, p in mapping.items()):
        return df
    return df.select(
        *[
            F.col(c).alias(mapping[c]) if c in mapping else F.col(c)
            for c in df.columns
        ]
    )


def with_physical_names(schema: StructType, configuration: dict[str, str]) -> StructType:
    """When mapping is enabled, assign a fresh immutable physical name to
    every field that lacks one (new columns from schema evolution)."""
    if configuration.get(MAPPING_MODE_KEY) != "name":
        return schema
    from pyspark.sql.types import StructField

    fields = []
    for f in schema.fields:
        if f.metadata and PHYSICAL_KEY in f.metadata:
            fields.append(f)
        else:
            fields.append(
                StructField(
                    f.name,
                    f.dataType,
                    f.nullable,
                    {**(f.metadata or {}), PHYSICAL_KEY: f"col-{uuid.uuid4().hex[:12]}"},
                )
            )
    return StructType(fields)


def apply_generated(df: DataFrame, configuration: dict[str, str]) -> DataFrame:
    """Generated columns (``generated.<col> = <sql expr>`` table config,
    the shape of Delta's ``delta.generationExpression``): compute the
    column when the incoming DataFrame omits it; when the writer supplies
    it, verify it matches the expression (one distributed short-circuit
    probe, null-safe equality) — so a generated partition column like
    ``p_date = cast(ts as date)`` is always consistent and partition
    pruning on it is always sound."""
    for key, expr in configuration.items():
        if not key.startswith(GENERATED_PREFIX):
            continue
        col = key[len(GENERATED_PREFIX):]
        if col not in df.columns:
            df = df.withColumn(col, F.expr(expr))
        else:
            bad = (
                df.filter(~F.col(col).eqNullSafe(F.expr(expr)))
                .limit(1)
                .collect()
            )
            if bad:
                raise ConstraintViolationError(
                    f"generated column {col} does not match its expression "
                    f"({expr}); offending row: {bad[0].asDict()}"
                )
    return df


def enforce_constraints(df: DataFrame, configuration: dict[str, str]) -> None:
    """Raise ConstraintViolationError if any row fails a table CHECK
    constraint (``constraint.<name>`` keys in table configuration, the
    shape of Delta's ``delta.constraints.*``). SQL CHECK semantics: a
    row violates only when the expression evaluates to FALSE (NULL
    passes). One distributed short-circuit probe per constraint."""
    for key, expr in configuration.items():
        if not key.startswith(CONSTRAINT_PREFIX):
            continue
        bad = (
            df.filter(~F.coalesce(F.expr(expr), F.lit(True))).limit(1).collect()
        )
        if bad:
            raise ConstraintViolationError(
                f"CHECK constraint {key[len(CONSTRAINT_PREFIX):]} ({expr}) "
                f"violated by row: {bad[0].asDict()}"
            )


IDENTITY_PREFIX = "identity."


def assign_identity(
    df: DataFrame, configuration: dict[str, str]
) -> tuple[DataFrame, dict[str, dict]]:
    """GENERATED ALWAYS AS IDENTITY columns (``identity.<col>`` config:
    JSON {"start", "step", "highWater"}): every append assigns fresh
    values above the high-water mark. Values are unique and monotonic
    per column but NOT contiguous — ``monotonically_increasing_id``
    spreads tasks across disjoint ranges so assignment needs no shuffle
    and no driver coordination, the same gap semantics Delta documents
    for its identity columns. Returns (df, specs) — the caller records
    the new high water (read from staged file stats) in the same commit.
    Supplying the column explicitly is rejected (ALWAYS semantics)."""
    specs: dict[str, dict] = {}
    for key, raw in configuration.items():
        if not key.startswith(IDENTITY_PREFIX):
            continue
        col = key[len(IDENTITY_PREFIX):]
        spec = json.loads(raw)
        specs[col] = spec
        if col in df.columns:
            raise ConstraintViolationError(
                f"column {col} is GENERATED ALWAYS AS IDENTITY and cannot "
                "be written explicitly"
            )
        step = int(spec.get("step", 1))
        base = int(spec.get("highWater", int(spec.get("start", 1)) - step))
        df = df.withColumn(
            col,
            (
                F.lit(base)
                + (F.monotonically_increasing_id() + 1) * F.lit(step)
            ).cast("long"),
        )
    return df, specs


def fill_generated(df: DataFrame, configuration: dict[str, str]) -> DataFrame:
    """Mutation-path variant of apply_generated: rows synthesized by
    MERGE insert clauses carry NULL for omitted columns — compute those,
    then validate everything (a non-null wrong value still raises)."""
    for key, expr in configuration.items():
        if not key.startswith(GENERATED_PREFIX):
            continue
        col = key[len(GENERATED_PREFIX):]
        if col in df.columns:
            df = df.withColumn(
                col,
                F.coalesce(
                    F.col(col), F.expr(expr).cast(df.schema[col].dataType)
                ),
            )
    return apply_generated(df, configuration)


APPEND_ONLY_CONF = "delta.appendOnly"


def check_append_only(snapshot, operation: str) -> None:
    """Raise when ``delta.appendOnly = true`` and ``operation`` would
    remove or change existing rows (Delta's appendOnly property).
    Callers skip the check for layout-only ops (OPTIMIZE/PURGE) and
    pure appends/inserts, which stay allowed."""
    conf = snapshot.metadata.configuration
    if str(conf.get(APPEND_ONLY_CONF, "")).lower() == "true":
        raise AppendOnlyTableError(
            f"table is append-only ({APPEND_ONLY_CONF}=true): "
            f"{operation} is not allowed"
        )


def schema_of(snapshot) -> StructType:
    return StructType.fromJson(json.loads(snapshot.metadata.schemaString))


def _nullable(schema: StructType) -> StructType:
    """Parquet scans always surface columns as nullable; store the table
    schema that way so written and read schemas agree exactly."""
    from pyspark.sql.types import StructField

    return StructType(
        [StructField(f.name, f.dataType, True, f.metadata) for f in schema.fields]
    )


# safe implicit widening on write (delta-spark's ANSI store-assignment
# behavior: an int column may be appended into a bigint table column)
_UPCAST_CHAINS = [  # simpleString() names
    ["tinyint", "smallint", "int", "bigint"],
    ["float", "double"],
    ["int", "bigint", "double"],
    ["date", "timestamp"],
]


def _can_upcast(src: str, dst: str) -> bool:
    for chain in _UPCAST_CHAINS:
        if src in chain and dst in chain and chain.index(src) < chain.index(dst):
            return True
    # decimal literals (ANSI mode parses 99.0 as decimal(3,1)): exact into
    # double up to 15 significant digits; integral decimals into bigint
    m = re.match(r"decimal\((\d+),(\d+)\)", src)
    if m:
        p, s = int(m.group(1)), int(m.group(2))
        if dst == "double" and p <= 15:
            return True
        if dst == "bigint" and s == 0 and p <= 18:
            return True
    return False


def _align_types(df: DataFrame, table_schema: StructType) -> DataFrame:
    """Cast incoming columns whose types safely widen to the table's
    type; leave true mismatches for _evolve_schema to reject."""
    by_name = {f.name: f for f in table_schema.fields}
    out_cols = []
    changed = False
    for f in df.schema.fields:
        tf = by_name.get(f.name)
        if tf is not None and tf.dataType != f.dataType and _can_upcast(
            f.dataType.simpleString(), tf.dataType.simpleString()
        ):
            out_cols.append(F.col(f.name).cast(tf.dataType).alias(f.name))
            changed = True
        else:
            out_cols.append(F.col(f.name))
    return df.select(*out_cols) if changed else df


def _evolve_schema(
    table_schema: StructType, df_schema: StructType, merge_schema: bool
) -> tuple[StructType, bool]:
    """Schema enforcement (M10) / evolution (S11).

    Returns (final_table_schema, changed). Rules (Delta semantics):
      - common column with different type  -> SchemaMismatchError
      - df column absent from table        -> error unless merge_schema,
        in which case it is appended to the table schema
      - table column absent from df        -> allowed (reader fills null)
    """
    by_name = {f.name: f for f in table_schema.fields}
    extra = []
    for f in df_schema.fields:
        existing = by_name.get(f.name)
        if existing is None:
            extra.append(f)
        elif existing.dataType != f.dataType:
            raise SchemaMismatchError(
                f"column '{f.name}': incoming type {f.dataType.simpleString()} "
                f"!= table type {existing.dataType.simpleString()}"
            )
    if extra and not merge_schema:
        raise SchemaMismatchError(
            "incoming schema has columns not in the table: "
            + ", ".join(f.name for f in extra)
            + " (pass merge_schema=True to evolve)"
        )
    if not extra:
        return table_schema, False
    return StructType(list(table_schema.fields) + extra), True


def _parse_partition_values(
    rel_path: str, partition_by: list[str], prefix: str = PV_DIR_PREFIX
) -> dict[str, str | None]:
    """Recover partition values from ``<prefix>col=value`` path segments
    (``__pv_`` for staged files, none for converted Hive layouts)."""
    values: dict[str, str | None] = {}
    for seg in rel_path.split(os.sep):
        if "=" in seg and seg.startswith(prefix):
            k, _, v = seg.partition("=")
            col = k[len(prefix):]
            if col in partition_by:
                values[col] = None if v == HIVE_NULL else unquote(v)
    return values


def _sweep_adds(
    table_path: str,
    data_dir: str,
    partition_values: Callable[[str], dict[str, str | None]],
    data_change: bool = True,
    collect_stats: bool = True,
) -> list[AddFile]:
    """One AddFile per parquet file under ``data_dir``, with its
    table-relative path, ``partition_values(rel_path)`` and footer stats.
    The footer sweep runs in a thread pool: pyarrow releases the GIL on
    IO, and a commit of thousands of files must not pay per-file latency
    serially on the driver."""
    files: list[str] = []
    for root, _dirs, names in os.walk(data_dir):
        files.extend(
            os.path.join(root, n)
            for n in names
            if n.endswith(".parquet") and not n.startswith(".")
        )
    if collect_stats and files:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(16, len(files))) as pool:
            all_stats = list(pool.map(file_stats, files))
    else:
        all_stats = [(None, None)] * len(files)

    adds: list[AddFile] = []
    for abs_file, (num_records, stats) in zip(files, all_stats):
        rel_file = os.path.relpath(abs_file, table_path)
        adds.append(
            AddFile(
                path=rel_file,
                partitionValues=partition_values(rel_file),
                size=os.path.getsize(abs_file),
                numRecords=num_records,
                stats=stats,
                modificationTime=_utc_millis(),
                dataChange=data_change,
            )
        )
    return adds


def write_order(partition_by: list[str]) -> list[Column]:
    """The partition-directory strings a partitioned ``stage_files``
    write sorts each task's rows by. A layout that sorts within tasks
    leads with these, or Spark replaces its sort with the write's."""
    return [F.col(c).cast("string") for c in partition_by]


def stage_files(
    df: DataFrame,
    table_path: str,
    partition_by: list[str],
    data_change: bool = True,
    collect_stats: bool = True,
    schema: StructType | None = None,
    sources: list[AddFile] | None = None,
) -> list[AddFile]:
    """Write df's data as parquet under data/<commit-id>/ and return the
    AddFile actions (not yet committed). The Spark write is fully
    distributed; only the footer-stat sweep runs on the driver.

    Partitioned stages hash-shuffle on the partition columns first
    (Delta's optimizedWrite), so each partition value is written by one
    task — without it, every upstream task writes a sliver into every
    partition it holds, and a 200-task write into 365 date partitions
    stages 73k files per commit. The shuffle is on the compact pre-write
    rows and AQE coalesces small partitions. Skewed partition values
    remain one-task writes — split such tables by a finer partition key
    or compact afterwards.

    ``sources``: for a rewrite, the live files every row of df comes
    from (None for new rows). When they all share one set of partition
    values there are no slivers to prevent, so the shuffle is skipped
    and df's own layout is written as it is: a MERGE without insert
    clauses, DELETE, UPDATE and PURGE save one pass, and OPTIMIZE keeps
    its bin-packed or clustered files. The shuffle only ever changes the
    file layout, never the rows.

    ``schema`` (the table schema) enables column mapping: logical column
    names are rewritten to their physical parquet names before staging,
    so file stats are keyed by physical name — consistent across renames."""
    if schema is not None:
        df = to_physical(df, schema)
    commit_rel = os.path.join("data", uuid.uuid4().hex[:16])
    abs_dir = os.path.join(table_path, commit_rel)
    if partition_by:
        staged = df
        pvs = {tuple(sorted(a.partitionValues.items())) for a in sources or []}
        if len(pvs) != 1:
            staged = staged.repartition(*[F.col(c) for c in partition_by])
        for c, pv in zip(partition_by, write_order(partition_by)):
            staged = staged.withColumn(PV_DIR_PREFIX + c, pv)
        staged.write.partitionBy(*[PV_DIR_PREFIX + c for c in partition_by]).parquet(
            abs_dir
        )
    else:
        df.write.parquet(abs_dir)

    return _sweep_adds(
        table_path,
        abs_dir,
        lambda rel: _parse_partition_values(rel, partition_by),
        data_change,
        collect_stats,
    )


def write_delta(
    df: DataFrame,
    path: str,
    mode: str = "append",
    partition_by: list[str] | None = None,
    merge_schema: bool = False,
    operation: str | None = None,
    operation_parameters: dict[str, Any] | None = None,
    generated: dict[str, str] | None = None,
    identity: dict[str, dict] | None = None,
    properties: dict[str, str] | None = None,
) -> int:
    """Append to / overwrite a versioned table; returns committed version.

    Equivalent of the reference's
    ``df.write.format("delta").mode(m).partitionBy(c).save(path)``
    (operations.py:23-36). Append stages new files and commits ``add``
    actions; overwrite additionally commits ``remove`` for every prior
    live file (logical delete — the bytes stay for time travel until
    VACUUM).

    Concurrency: the write is validated against one snapshot and
    committed against that same snapshot (DeltaLog.commit_from), so its
    history records the version it read. A lost commit race:
      - append: rebases onto the winner when table metadata is
        unchanged (the staged files stay valid), else raises;
      - overwrite: raises when the winner added, removed or changed any
        data file, or changed metadata — the overwrite replaced only the
        files it read, so committing over a concurrent append would
        leave that append's rows live beside the new ones;
      - table creation: raises (the caller decides who wins).

    ``generated`` (table creation only): {column: sql expr} generated
    columns, recorded in table configuration; every write computes them
    when absent and validates them when supplied (apply_generated).

    ``properties`` (table creation only): initial table configuration,
    e.g. ``{"delta.enableRowTracking": "true"}`` — row tracking assigns
    every staged file a disjoint ``baseRowId`` range and advances the
    ``delta.rowTracking`` high-water mark in the same commit
    (rowtracking.py); a rebase reassigns the ranges above the winner's
    mark, so append races retry safely.

    ``identity`` (table creation only): {column: {"start", "step"}}
    GENERATED ALWAYS AS IDENTITY columns; every append assigns fresh
    unique values above the recorded high-water mark (assign_identity)
    and advances the mark in the same commit's metadata. Two identity
    appends never both commit: the winner's new mark changed the table
    metadata, so the loser raises and its caller re-runs above the new
    mark.
    """
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    log = DeltaLog(path)
    snap = log.snapshot() if log.exists() else None

    metadata: Metadata | None = None
    removed: list[str] = []
    if snap is not None:
        if generated or identity or properties:
            raise ValueError(
                "generated/identity/properties can only be set at table creation"
            )
        snap.protocol.check_write_support(path)
        if mode == "overwrite":
            check_append_only(snap, "overwrite")
            removed = list(snap.files)
        table_schema = schema_of(snap)
        df, id_specs = assign_identity(df, snap.metadata.configuration)
        df = apply_generated(df, snap.metadata.configuration)
        df = apply_defaults(df, table_schema, snap.metadata.configuration)
        df = _align_types(df, table_schema)
        enforce_constraints(df, snap.metadata.configuration)
        final_schema, schema_changed = _evolve_schema(
            table_schema, _nullable(df.schema), merge_schema
        )
        if partition_by is None:
            partition_by = list(snap.metadata.partitionColumns)
        elif list(partition_by) != list(snap.metadata.partitionColumns):
            raise SchemaMismatchError(
                f"partitionBy {partition_by} != table partitioning "
                f"{snap.metadata.partitionColumns}"
            )
        if schema_changed:
            final_schema = with_physical_names(
                final_schema, snap.metadata.configuration
            )
            metadata = replace(snap.metadata, schemaString=final_schema.json())
    else:
        partition_by = list(partition_by or [])
        final_schema = None
        configuration = {
            **{k: str(v) for k, v in (properties or {}).items()},
            **{GENERATED_PREFIX + c: e for c, e in (generated or {}).items()},
        }
        for c, spec in (identity or {}).items():
            configuration[IDENTITY_PREFIX + c] = json.dumps(
                {"start": int(spec.get("start", 1)), "step": int(spec.get("step", 1))}
            )
        df, id_specs = assign_identity(df, configuration)
        df = apply_generated(df, configuration)
        metadata = Metadata(
            schemaString=_nullable(df.schema).json(),
            partitionColumns=partition_by,
            configuration=configuration,
        )

    adds = stage_files(df, path, partition_by, schema=final_schema)

    if id_specs:
        # advance each identity high-water mark to the max actually
        # written (read back from the staged files' footer stats) in the
        # SAME commit, so the next append starts above it
        base_meta = metadata or snap.metadata
        conf = dict(base_meta.configuration)
        id_map = column_mapping(
            StructType.fromJson(json.loads(base_meta.schemaString))
        )
        for col, spec in id_specs.items():
            step = int(spec.get("step", 1))
            prev_hw = int(spec.get("highWater", int(spec.get("start", 1)) - step))
            pcol = id_map.get(col, col)  # stats are keyed by physical name
            maxes = [
                int((a.stats or {}).get("maxValues", {}).get(pcol))
                for a in adds
                if (a.stats or {}).get("maxValues", {}).get(pcol) is not None
            ]
            conf[IDENTITY_PREFIX + col] = json.dumps(
                {
                    "start": int(spec.get("start", 1)),
                    "step": step,
                    "highWater": max(maxes + [prev_hw]),
                }
            )
        metadata = replace(base_meta, configuration=conf)

    conf = (metadata or snap.metadata).configuration
    actions: list[dict[str, Any]] = [
        CommitInfo(
            operation=operation or ("WRITE" if mode == "overwrite" else "APPEND"),
            operationParameters=(operation_parameters or {"mode": mode, "partitionBy": partition_by}),
            readVersion=snap.version if snap else None,
            operationMetrics={
                "numFiles": len(adds),
                "numOutputRows": sum(a.numRecords or 0 for a in adds),
                "numRemovedFiles": len(removed),
            },
        ).to_action()
    ]
    if snap is None:
        proto = Protocol()
        if rowtracking.enabled(conf):
            proto = proto.with_features(writer=rowtracking.ROW_TRACKING_FEATURES)
        if _ict_enabled(conf):
            proto = proto.with_features(writer=["inCommitTimestamp"])
        actions.append(proto.to_action())
    if metadata is not None:
        actions.append(metadata.to_action())
    rt = rowtracking.enabled(conf)
    if rt:
        rt_actions, _ = rowtracking.assign_fresh_ids(
            adds,
            rowtracking.high_water_mark(snap),
            (snap.version + 1) if snap else 0,
        )
        actions.extend(rt_actions)
    now = _utc_millis()
    actions.extend(RemoveFile(p, deletionTimestamp=now).to_action() for p in removed)
    actions.extend(a.to_action() for a in adds)
    version = log.commit_from(
        snap,
        actions,
        removed,
        content_neutral=mode == "append",
        rt_adds=adds if rt else None,
    )

    # post-commit auto-compaction (``autoCompact = true`` table property):
    # when the number of live below-target files reaches
    # ``autoCompact.minNumFiles`` (default 50), fold them with a
    # dataChange=False OPTIMIZE — write paths stay fast (compaction is a
    # separate commit, never blocking the append) and readers stop
    # accumulating small-file overhead without a scheduled job
    if str(conf.get("autoCompact", "")).lower() == "true":
        min_files = int(conf.get("autoCompact.minNumFiles", "50"))
        target = int(conf.get("autoCompact.targetFileBytes", str(64 * 1024 * 1024)))
        small = [a for a in log.snapshot(version).files.values() if a.size < target]
        if len(small) >= min_files:
            from .table import DeltaTable

            try:
                DeltaTable(df.sparkSession, path).optimize(target_file_bytes=target)
            except ConcurrentModificationError:
                pass  # another writer compacted or mutated first; not our data
    return version


def copy_into(
    spark,
    table_path: str,
    source_path: str,
    file_format: str = "parquet",
    schema: str | None = None,
    partition_by: list[str] | None = None,
) -> tuple[int, int]:
    """Idempotent bulk ingest (COPY INTO): append only the source files
    no previous COPY INTO commit has loaded — re-running after a partial
    failure or on a growing landing directory never duplicates rows.
    File-level bookkeeping is table state: each COPY INTO commit records
    one transaction id (``copy_into_app_id``) per loaded file
    (``Snapshot.txns``, derived by DeltaLog.commit_from from
    operationParameters.sourceFiles), so it survives checkpoints and log
    cleanup, and two concurrent loads of one file never both commit.
    Returns (committed version, number of files loaded)."""
    source_path = os.path.abspath(source_path)
    suffix = "." + file_format.lower()
    found: list[str] = []
    if os.path.isfile(source_path):
        found = [source_path]
    else:
        for root, _dirs, names in os.walk(source_path):
            found.extend(
                os.path.join(root, n)
                for n in names
                if n.lower().endswith(suffix) and not n.startswith((".", "_"))
            )
    log = DeltaLog(table_path)
    seen = log.snapshot().txns if log.exists() else {}
    new_files = sorted(f for f in found if copy_into_app_id(f) not in seen)
    if not new_files:
        return (log.latest_version() if log.exists() else -1), 0
    if not schema and suffix == ".parquet":
        from .reader import parquet_schema

        # the first file in sorted order: the one Spark's inference reads
        schema = parquet_schema(spark, new_files[0])
    reader = spark.read
    if schema:
        reader = reader.schema(schema)
    df = reader.format(file_format).load(new_files)
    version = write_delta(
        df,
        table_path,
        mode="append",
        partition_by=partition_by,
        operation="COPY INTO",
        operation_parameters={"source": source_path, "sourceFiles": new_files},
    )
    return version, len(new_files)


def convert_to_delta(
    spark, parquet_path: str, partition_schema: str | None = None
) -> int:
    """In-place convert an existing parquet directory to a versioned table
    (S12; reference ``DeltaTable.convertToDelta`` at
    delta_lake_rapid_start.py:159-164). Metadata-only: enumerates the
    existing files and writes log version 0; no data is rewritten.

    ``partition_schema`` is a DDL string like ``"p_device_id int"`` for
    Hive-partitioned layouts. Converted hive-layout tables are flagged in
    table configuration so the read path reconstructs partition columns
    via Spark's basePath mechanism (their files do NOT contain the
    partition columns, unlike natively written tables).
    """
    parquet_path = os.path.abspath(parquet_path)
    log = DeltaLog(parquet_path)
    if log.exists():
        return log.latest_version()

    part_struct = (
        StructType.fromDDL(partition_schema) if partition_schema else StructType([])
    )
    part_cols = [f.name for f in part_struct.fields]

    adds = _sweep_adds(
        parquet_path,
        parquet_path,
        lambda rel: _parse_partition_values(rel, part_cols, prefix=""),
    )
    if not adds:
        raise SchemaMismatchError(f"no parquet files under {parquet_path}")
    sample_file = os.path.join(parquet_path, adds[0].path)

    from .reader import parquet_schema

    data_schema = parquet_schema(spark, sample_file)
    full_schema = _nullable(StructType(list(data_schema.fields) + list(part_struct.fields)))
    configuration = {"layout": "hive"} if part_cols else {}
    metadata = Metadata(
        schemaString=full_schema.json(),
        partitionColumns=part_cols,
        configuration=configuration,
    )
    commit_info = CommitInfo(
        operation="CONVERT",
        operationParameters={"numFiles": len(adds)},
        operationMetrics={"numConvertedFiles": len(adds)},
    )
    actions = [commit_info.to_action(), Protocol().to_action(), metadata.to_action()]
    actions.extend(a.to_action() for a in adds)
    return log.commit_from(None, actions)
