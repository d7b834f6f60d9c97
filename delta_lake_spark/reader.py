"""Versioned table read path.

Covers (SURVEY.md §2.1): S4 delta scan by path, S5 via catalog, S6
time-travel scan (reference delta_lake_rapid_start.py:256-260). The
snapshot's explicit file list goes straight to Spark's vectorized
parquet reader with the table schema, so Catalyst still gets predicate
pushdown / column pruning / row-group skipping for free; the log only
decides WHICH files exist at the requested version.

Scale note: the plan carries an explicit file list, which is O(#files)
driver-side — the same cost profile as Delta's own snapshot resolution.
Row-group min/max skipping happens executor-side inside the parquet
reader; additionally ``partition_filter`` prunes whole files from the
log's partitionValues before Spark ever sees them (partition pruning,
SURVEY.md §4).

Deletion vectors: an ``add`` entry may carry a ``deletionVector``
sidecar (see log.AddFile). ``scan_adds`` applies it as a left-anti
join on (file, parquet row position) — ``_metadata.row_index`` gives
the position without reading extra columns, and the DV side is tiny
relative to the data (AQE broadcasts it), so a table with deletion
vectors reads at ≈ full scan cost + one small join, never a rewrite.

Schemas: no read runs a Spark job before its action. Every read is
handed its schema from what is already known:
  - a table's schema comes from the log (``scan_adds``);
  - a parquet input file's schema comes from its footer, read on the
    driver and converted by Spark's own ``ParquetToSparkSchemaConverter``
    (``parquet_schema`` / ``read_parquet``), so the session's parquet
    settings apply exactly as in Spark's inference;
  - staged data and sidecars are read with the schema their writer
    used (``DV_SCHEMA`` for deletion vectors).
"""

from __future__ import annotations

import json
import os
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .errors import DataFileLostError
from .log import AddFile, DeltaLog, Snapshot
from .writer import column_mapping, schema_of

# metadata column names threaded through mutation plans
FILE_COL = "__dls_file"
ROW_COL = "__dls_row"
# a deletion-vector sidecar row: (add path as the writing table keyed
# it, parquet row position of the deleted row)
DV_SCHEMA = "path string, row_index long"

_PARQUET = "org.apache.spark.sql.execution.datasources.parquet."


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` infers for one parquet
    file, without the Spark job inference runs: the footer is read on
    the driver with Spark's footer reader and converted by
    ``ParquetFileFormat.readSchemaFromFooter`` with a converter built
    from the session's SQLConf, so Spark's row metadata, nanosAsLong,
    inferTimestampNTZ, binaryAsString and INT96 settings apply as they
    do in inference. Nullable throughout, as a file scan reports it."""
    from py4j.java_gateway import JavaClass

    gw = spark._jvm._gateway_client
    state = spark._jsparkSession.sessionState()
    jpath = JavaClass("org.apache.hadoop.fs.Path", gw)(path)
    footer = JavaClass("org.apache.parquet.hadoop.Footer", gw)(
        jpath,
        JavaClass(_PARQUET + "ParquetFooterReader", gw).readFooter(
            JavaClass("org.apache.parquet.hadoop.util.HadoopInputFile", gw).fromPath(
                jpath, state.newHadoopConf()
            ),
            JavaClass(
                "org.apache.parquet.format.converter.ParquetMetadataConverter", gw
            ).SKIP_ROW_GROUPS,
        ),
    )
    converter = JavaClass(_PARQUET + "ParquetToSparkSchemaConverter", gw)(
        state.conf()
    )
    schema = JavaClass(_PARQUET + "ParquetFileFormat", gw).readSchemaFromFooter(
        footer, converter
    )
    return StructType.fromJson(json.loads(schema.asNullable().json()))


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Read one parquet file with its footer schema (``parquet_schema``):
    the same DataFrame as ``spark.read.parquet(path)``, built without a
    Spark job."""
    return spark.read.schema(parquet_schema(spark, path)).parquet(path)


def file_uri(table_path: str, log_path: str) -> str:
    """The ``_metadata.file_path`` URI Spark will report for a log entry.
    Absolute log paths (shallow clones) are used as-is."""
    p = log_path if os.path.isabs(log_path) else os.path.join(table_path, log_path)
    return "file:" + p


def live_files(table_path: str, snapshot: Snapshot) -> list[str]:
    return [os.path.join(table_path, p) for p in snapshot.files]


def _dv_rows(
    spark: SparkSession, table_path: str, dv_adds: list[AddFile]
) -> DataFrame:
    """Deleted (FILE_COL uri, ROW_COL) pairs for the given adds.

    One read per distinct sidecar, restricted to the files whose CURRENT
    add references it — a shared sidecar may hold stale entries for
    files that were since rewritten or restored, and those must not
    apply."""
    by_sidecar: dict[str, list[AddFile]] = {}
    for a in dv_adds:
        by_sidecar.setdefault(a.deletionVector["path"], []).append(a)
    parts = []
    for sidecar, adds in sorted(by_sidecar.items()):
        sc_abs = sidecar if os.path.isabs(sidecar) else os.path.join(table_path, sidecar)
        # sidecar rows are keyed by the path the WRITING table used; a
        # shallow clone rewrites add paths to absolute but records the
        # original under deletionVector.key
        owners = spark.createDataFrame(
            [
                (a.deletionVector.get("key", a.path), file_uri(table_path, a.path))
                for a in adds
            ],
            "path string, __dls_uri string",
        )
        parts.append(
            spark.read.schema(DV_SCHEMA)
            .parquet(sc_abs)
            .join(owners, "path")
            .select(
                F.col("__dls_uri").alias(FILE_COL),
                F.col("row_index").alias(ROW_COL),
            )
        )
    return reduce(lambda a, b: a.unionByName(b), parts)


def scan_adds(
    spark: SparkSession,
    table_path: str,
    adds: list[AddFile],
    snapshot: Snapshot,
    with_meta: bool = False,
    row_ids: bool = False,
) -> DataFrame:
    """Read a set of log entries as a DataFrame, applying deletion
    vectors. ``with_meta=True`` keeps FILE_COL (the file URI) and
    ROW_COL (parquet row position) for mutation planning.

    ``row_ids=True`` appends the row-tracking metadata columns
    ``_row_id`` / ``_row_commit_version``:
    ``coalesce(materialized __dls_row_id, baseRowId + row position)``,
    resolved via a broadcast join against the O(#files) two-column
    (file, baseRowId) map — no shuffle of the data side, and files
    never rewritten for the sake of ids (see rowtracking.py)."""
    from .rowtracking import MAT_ROW_COMMIT, MAT_ROW_ID, ROW_COMMIT, ROW_ID
    from .writer import physical_schema

    schema = schema_of(snapshot)
    if not adds:
        df = spark.createDataFrame([], schema)
        if with_meta:
            df = df.select(
                "*",
                F.lit(None).cast("string").alias(FILE_COL),
                F.lit(None).cast("long").alias(ROW_COL),
            )
        if row_ids:
            df = df.select(
                "*",
                F.lit(None).cast("long").alias(ROW_ID),
                F.lit(None).cast("long").alias(ROW_COMMIT),
            )
        return df

    # column mapping: files store immutable PHYSICAL names; scan with the
    # physical schema, then alias back to the logical names — a rename /
    # drop never rewrote any file
    mapping = column_mapping(schema)
    needs_map = any(l != p for l, p in mapping.items())

    dv_adds = [a for a in adds if a.deletionVector]
    need_meta = with_meta or bool(dv_adds) or row_ids
    read_schema = physical_schema(schema) if needs_map else schema
    if row_ids:
        # hidden materialized-id columns: present only in rewritten
        # files; schema-on-read fills them with null elsewhere
        from pyspark.sql.types import LongType, StructField

        read_schema = StructType(
            list(read_schema.fields)
            + [
                StructField(MAT_ROW_ID, LongType(), True),
                StructField(MAT_ROW_COMMIT, LongType(), True),
            ]
        )
    reader = spark.read.schema(read_schema)
    if snapshot.metadata.configuration.get("layout") == "hive":
        reader = reader.option("basePath", table_path)
    df = reader.parquet(*[os.path.join(table_path, a.path) for a in adds])
    if need_meta:
        df = df.select(
            "*",
            F.col("_metadata.file_path").alias(FILE_COL),
            F.col("_metadata.row_index").alias(ROW_COL),
        )
    if needs_map:
        keep = [F.col(mapping[f.name]).alias(f.name) for f in schema.fields]
        if row_ids:
            keep += [F.col(MAT_ROW_ID), F.col(MAT_ROW_COMMIT)]
        if need_meta:
            keep += [F.col(FILE_COL), F.col(ROW_COL)]
        df = df.select(*keep)
    if dv_adds:
        df = df.join(
            _dv_rows(spark, table_path, dv_adds), [FILE_COL, ROW_COL], "left_anti"
        )
    if row_ids:
        base_map = F.broadcast(
            spark.createDataFrame(
                [
                    (
                        file_uri(table_path, a.path),
                        a.baseRowId,
                        a.defaultRowCommitVersion,
                    )
                    for a in adds
                ],
                f"{FILE_COL} string, __dls_base long, __dls_dcv long",
            )
        )
        df = (
            df.join(base_map, FILE_COL, "left")
            .withColumn(
                ROW_ID,
                F.coalesce(
                    F.col(MAT_ROW_ID), F.col("__dls_base") + F.col(ROW_COL)
                ),
            )
            .withColumn(
                ROW_COMMIT,
                F.coalesce(F.col(MAT_ROW_COMMIT), F.col("__dls_dcv")),
            )
            .drop(MAT_ROW_ID, MAT_ROW_COMMIT, "__dls_base", "__dls_dcv")
        )
    if need_meta and not with_meta:
        df = df.drop(FILE_COL, ROW_COL)
    return df


def _to_millis(ts: str | int) -> int:
    """Accept epoch millis or an ISO-ish timestamp string (local-naive
    treated as UTC, like our commit timestamps)."""
    if isinstance(ts, int):
        return ts
    from datetime import datetime, timezone

    s = str(ts).strip().replace("T", " ")
    for fmt in ("%Y-%m-%d %H:%M:%S.%f", "%Y-%m-%d %H:%M:%S", "%Y-%m-%d"):
        try:
            return int(
                datetime.strptime(s, fmt).replace(tzinfo=timezone.utc).timestamp() * 1000
            )
        except ValueError:
            continue
    raise ValueError(f"unparseable timestamp {ts!r}")


def read_delta(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    timestamp: str | int | None = None,
    partition_filter: dict[str, object] | None = None,
    predicate: str | None = None,
    row_ids: bool = False,
) -> DataFrame:
    """Read a versioned table as a DataFrame.

    ``version`` pins a time-travel snapshot (``versionAsOf``); the file
    existence check makes post-VACUUM time travel fail loudly, matching
    the reference's expected-failure probe (05_compliance.py:346-354).
    ``partition_filter`` maps partition column -> exact value; files of
    other partitions are pruned from the scan entirely. ``predicate``
    (a conjunctive SQL string) additionally prunes files whose log
    min/max stats prove no row can match — data skipping; the caller
    still applies the real filter to the returned DataFrame.
    ``row_ids=True`` appends the row-tracking ``_row_id`` /
    ``_row_commit_version`` metadata columns (see rowtracking.py).
    """
    from .skipping import prune_adds

    path = os.path.abspath(path)
    log = DeltaLog(path)
    if timestamp is not None:
        if version is not None:
            raise ValueError("pass version OR timestamp, not both")
        version = log.version_at_timestamp(_to_millis(timestamp))
    snap = log.snapshot(version)
    snap.protocol.check_read_support(path)

    adds = list(snap.files.values())
    if partition_filter:
        wanted = {k: (None if v is None else str(v)) for k, v in partition_filter.items()}
        adds = [
            a
            for a in adds
            if all(a.partitionValues.get(k) == v for k, v in wanted.items())
        ]
    adds, _skipped = prune_adds(
        adds, predicate, colmap=column_mapping(schema_of(snap))
    )

    if version is not None:
        files = [os.path.join(path, a.path) for a in adds]
        missing = [f for f in files if not os.path.exists(f)]
        if missing:
            raise DataFileLostError(
                f"version {version} of {path} references {len(missing)} data "
                f"file(s) that no longer exist (vacuumed?): {missing[:3]}"
            )
    return scan_adds(spark, path, adds, snap, row_ids=row_ids)
