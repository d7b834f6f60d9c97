"""Transaction-log core: actions, atomic commit, snapshot replay, history.

A table is a directory of parquet data files plus ``_delta_log/`` holding
one JSON-lines file per version: ``_delta_log/{version:020d}.json``. Each
line is one action object with exactly one of the keys ``metaData``,
``protocol``, ``add``, ``remove``, ``domainMetadata``, ``txn``,
``commitInfo`` — the shape published in the Delta Lake protocol (VLDB
2020 paper; see PAPERS.md). This module is pure Python (no Spark
import) so the ACID layer is unit-testable on its own.

A ``txn`` action ``{"appId", "version", "lastUpdated"}`` records the
newest version an idempotent writer (a streaming sink's epoch, a COPY
INTO source file) committed. It is snapshot state (``Snapshot.txns``),
so it survives checkpoints and log cleanup, and ``commit_from`` checks
it inside the commit: exactly-once needs no history scan.

Design notes for scale:
  - snapshot replay is O(actions since the last checkpoint), cached per
    version, never per-row (BASELINE.md requirement): every
    ``checkpoint_interval`` commits the full live state is written to
    ``{version:020d}.checkpoint.parquet`` (multi-part parquet above
    ``CKPT_ROWS_PER_PART`` adds) with a ``_last_checkpoint`` pointer
    (the Delta protocol's checkpoint, VLDB 2020 §3.2), so cold-cache
    replay of a long-lived table reads one checkpoint + a bounded tail
    instead of the whole history; ``.checkpoint.json`` files are read
    as a legacy format and never written;
  - commit atomicity uses ``os.link`` create-if-absent, the local-FS
    analogue of an object store's put-if-absent — single serialization
    point, optimistic concurrency: every writer commits through
    ``DeltaLog.commit_from``, which rebases a lost race only when the
    winner cannot invalidate the transaction and otherwise raises
    ConcurrentModificationError for the caller to re-run;
  - data files are recorded by table-relative path so the table directory
    is relocatable.

Reference behaviors covered (SURVEY.md §2):
  - versioned tables / time travel resolution: S4, S6
    (reference delta_lake_rapid_start.py:256-260)
  - DESCRIBE HISTORY / DeltaTable.history(): D9
    (reference 05_compliance.py:142-148)
  - DESCRIBE DETAIL: D8 (reference delta_lake_rapid_start.py:156-157)
  - schema enforcement/evolution bookkeeping: M10/S11 (enforced in
    writer.py against the snapshot schema stored here)
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from dataclasses import dataclass, field
from typing import Any, Iterable

from .errors import (
    ConcurrentModificationError,
    TableNotFoundError,
    UnsupportedProtocolError,
    VersionNotFoundError,
)

LOG_DIR = "_delta_log"

# protocol support envelope of THIS engine (Delta-style forward
# compatibility: a table written with features we don't implement must
# be refused loudly, never half-read)
MAX_READER_VERSION = 3
MAX_WRITER_VERSION = 7
SUPPORTED_READER_FEATURES = {"columnMapping", "deletionVectors", "typeWidening"}
SUPPORTED_WRITER_FEATURES = {
    "appendOnly",
    "columnMapping",
    "deletionVectors",
    "checkConstraints",
    "generatedColumns",
    "identityColumns",
    "changeDataFeed",
    "domainMetadata",
    "rowTracking",
    "inCommitTimestamp",
    "typeWidening",
}

# table property that turns on in-commit timestamps (Delta feature
# `inCommitTimestamp`): commit wall-clock recorded INSIDE commitInfo,
# monotonically increasing, so TIMESTAMP AS OF survives object stores
# that rewrite file modification times (log copy/restore/migration)
ICT_PROP = "delta.enableInCommitTimestamps"


def _ict_enabled(conf: dict[str, str]) -> bool:
    return str(conf.get(ICT_PROP, "")).lower() == "true"


def _utc_millis() -> int:
    return int(time.time() * 1000)


@dataclass
class AddFile:
    """An ``add`` action: a data file that is part of the table.

    ``path`` is table-relative for files the table owns; an ABSOLUTE
    path means the file belongs to another table (shallow clone).
    ``deletionVector`` marks rows of this file as logically deleted
    without rewriting it: ``{"path": <sidecar parquet dir, relative or
    absolute>, "cardinality": <number of deleted rows>}``. The sidecar
    holds (path, row_index) pairs; readers anti-join on the parquet
    row position (the protocol shape of Delta's deletion vectors,
    expressed relationally instead of as roaring bitmaps).
    """

    path: str  # table-relative (absolute => shallow-cloned from elsewhere)
    partitionValues: dict[str, str | None] = field(default_factory=dict)
    size: int = 0
    numRecords: int | None = None
    stats: dict[str, Any] | None = None  # {"minValues": {...}, "maxValues": {...}, "nullCount": {...}}
    modificationTime: int = 0
    dataChange: bool = True
    deletionVector: dict[str, Any] | None = None
    # row tracking (writer feature "rowTracking"): the fresh row id of row
    # i in this file is baseRowId + i (parquet row position); ids already
    # materialized into the file's __dls_row_id column take precedence
    baseRowId: int | None = None
    defaultRowCommitVersion: int | None = None

    def to_action(self) -> dict[str, Any]:
        d: dict[str, Any] = {
            "path": self.path,
            "partitionValues": self.partitionValues,
            "size": self.size,
            "modificationTime": self.modificationTime,
            "dataChange": self.dataChange,
        }
        if self.numRecords is not None:
            d["numRecords"] = self.numRecords
        if self.stats is not None:
            d["stats"] = self.stats
        if self.deletionVector is not None:
            d["deletionVector"] = self.deletionVector
        if self.baseRowId is not None:
            d["baseRowId"] = self.baseRowId
        if self.defaultRowCommitVersion is not None:
            d["defaultRowCommitVersion"] = self.defaultRowCommitVersion
        return {"add": d}

    @classmethod
    def from_action(cls, d: dict[str, Any]) -> "AddFile":
        return cls(
            path=d["path"],
            partitionValues=d.get("partitionValues", {}),
            size=d.get("size", 0),
            numRecords=d.get("numRecords"),
            stats=d.get("stats"),
            modificationTime=d.get("modificationTime", 0),
            dataChange=d.get("dataChange", True),
            deletionVector=d.get("deletionVector"),
            baseRowId=d.get("baseRowId"),
            defaultRowCommitVersion=d.get("defaultRowCommitVersion"),
        )


@dataclass
class RemoveFile:
    path: str
    deletionTimestamp: int = 0
    dataChange: bool = True

    def to_action(self) -> dict[str, Any]:
        return {
            "remove": {
                "path": self.path,
                "deletionTimestamp": self.deletionTimestamp,
                "dataChange": self.dataChange,
            }
        }


@dataclass
class Metadata:
    """Table metadata: schema (Spark StructType json string), partitioning,
    free-form configuration. Latest metaData action wins on replay."""

    schemaString: str
    partitionColumns: list[str] = field(default_factory=list)
    configuration: dict[str, str] = field(default_factory=dict)
    id: str = field(default_factory=lambda: uuid.uuid4().hex)
    name: str | None = None
    createdTime: int = field(default_factory=_utc_millis)

    def to_action(self) -> dict[str, Any]:
        return {
            "metaData": {
                "id": self.id,
                "name": self.name,
                "schemaString": self.schemaString,
                "partitionColumns": self.partitionColumns,
                "configuration": self.configuration,
                "createdTime": self.createdTime,
            }
        }

    @classmethod
    def from_action(cls, d: dict[str, Any]) -> "Metadata":
        return cls(
            schemaString=d["schemaString"],
            partitionColumns=d.get("partitionColumns", []),
            configuration=d.get("configuration", {}),
            id=d.get("id", uuid.uuid4().hex),
            name=d.get("name"),
            createdTime=d.get("createdTime", 0),
        )


@dataclass
class Protocol:
    """A ``protocol`` action: the minimum reader/writer capability a
    client needs to correctly use this table. Latest action wins on
    replay; absent = the base protocol (1, 2). Feature names follow
    Delta's table-features shape."""

    minReaderVersion: int = 1
    minWriterVersion: int = 2
    readerFeatures: list[str] = field(default_factory=list)
    writerFeatures: list[str] = field(default_factory=list)

    def to_action(self) -> dict[str, Any]:
        d: dict[str, Any] = {
            "minReaderVersion": self.minReaderVersion,
            "minWriterVersion": self.minWriterVersion,
        }
        if self.readerFeatures:
            d["readerFeatures"] = sorted(self.readerFeatures)
        if self.writerFeatures:
            d["writerFeatures"] = sorted(self.writerFeatures)
        return {"protocol": d}

    @classmethod
    def from_action(cls, d: dict[str, Any]) -> "Protocol":
        return cls(
            minReaderVersion=d.get("minReaderVersion", 1),
            minWriterVersion=d.get("minWriterVersion", 2),
            readerFeatures=list(d.get("readerFeatures", [])),
            writerFeatures=list(d.get("writerFeatures", [])),
        )

    def check_read_support(self, table_path: str) -> None:
        missing = set(self.readerFeatures) - SUPPORTED_READER_FEATURES
        if self.minReaderVersion > MAX_READER_VERSION or missing:
            raise UnsupportedProtocolError(
                f"table {table_path} requires reader version "
                f"{self.minReaderVersion} with features "
                f"{sorted(self.readerFeatures)}; this engine supports "
                f"version <= {MAX_READER_VERSION} with "
                f"{sorted(SUPPORTED_READER_FEATURES)}"
            )

    def check_write_support(self, table_path: str) -> None:
        self.check_read_support(table_path)
        missing = set(self.writerFeatures) - SUPPORTED_WRITER_FEATURES
        if self.minWriterVersion > MAX_WRITER_VERSION or missing:
            raise UnsupportedProtocolError(
                f"table {table_path} requires writer version "
                f"{self.minWriterVersion} with features "
                f"{sorted(self.writerFeatures)}; this engine supports "
                f"version <= {MAX_WRITER_VERSION} with "
                f"{sorted(SUPPORTED_WRITER_FEATURES)}"
            )

    def without_feature(self, feature: str) -> "Protocol":
        rf = sorted(set(self.readerFeatures) - {feature})
        wf = sorted(set(self.writerFeatures) - {feature})
        return Protocol(
            minReaderVersion=self.minReaderVersion,
            minWriterVersion=self.minWriterVersion,
            readerFeatures=rf,
            writerFeatures=wf,
        )

    def with_features(
        self, reader: Iterable[str] = (), writer: Iterable[str] = ()
    ) -> "Protocol":
        rf = sorted(set(self.readerFeatures) | set(reader))
        wf = sorted(set(self.writerFeatures) | set(writer) | set(reader))
        return Protocol(
            minReaderVersion=3 if rf else self.minReaderVersion,
            minWriterVersion=7 if wf else self.minWriterVersion,
            readerFeatures=rf,
            writerFeatures=wf,
        )


@dataclass
class DomainMetadata:
    """A ``domainMetadata`` action: named system/user configuration blob
    carried by the snapshot (Delta's domain metadata table feature).
    Latest action per ``domain`` wins on replay; ``removed=True`` drops
    the domain. Used internally for the row-tracking high-water mark
    (domain ``delta.rowTracking``); arbitrary user domains work too."""

    domain: str
    configuration: str = ""  # opaque string, conventionally JSON
    removed: bool = False

    def to_action(self) -> dict[str, Any]:
        return {
            "domainMetadata": {
                "domain": self.domain,
                "configuration": self.configuration,
                "removed": self.removed,
            }
        }

    @classmethod
    def from_action(cls, d: dict[str, Any]) -> "DomainMetadata":
        return cls(
            domain=d["domain"],
            configuration=d.get("configuration", ""),
            removed=d.get("removed", False),
        )


@dataclass
class CommitInfo:
    operation: str
    operationParameters: dict[str, Any] = field(default_factory=dict)
    timestamp: int = field(default_factory=_utc_millis)
    readVersion: int | None = None
    operationMetrics: dict[str, Any] = field(default_factory=dict)

    def to_action(self) -> dict[str, Any]:
        return {
            "commitInfo": {
                "operation": self.operation,
                "operationParameters": self.operationParameters,
                "timestamp": self.timestamp,
                "readVersion": self.readVersion,
                "operationMetrics": self.operationMetrics,
            }
        }


@dataclass
class Snapshot:
    """Materialized table state at one version: live files + metadata."""

    version: int
    metadata: Metadata
    files: dict[str, AddFile]  # table-relative path -> AddFile
    protocol: Protocol = field(default_factory=Protocol)
    domains: dict[str, str] = field(default_factory=dict)  # domain -> configuration
    txns: dict[str, int] = field(default_factory=dict)  # appId -> version

    @property
    def num_files(self) -> int:
        return len(self.files)

    @property
    def size_bytes(self) -> int:
        return sum(f.size for f in self.files.values())

    @property
    def num_records(self) -> int | None:
        total = 0
        for f in self.files.values():
            if f.numRecords is None:
                return None
            total += f.numRecords
            if f.deletionVector is not None:
                total -= int(f.deletionVector.get("cardinality", 0))
        return total


@dataclass
class _Replay:
    """Table state while log actions are replayed onto it: the one
    action dispatch shared by commit replay and legacy JSON
    checkpoints."""

    files: dict[str, AddFile] = field(default_factory=dict)
    metadata: Metadata | None = None
    protocol: Protocol = field(default_factory=Protocol)
    domains: dict[str, str] = field(default_factory=dict)
    txns: dict[str, int] = field(default_factory=dict)

    @classmethod
    def of(cls, snap: Snapshot) -> "_Replay":
        return cls(
            dict(snap.files),
            snap.metadata,
            snap.protocol,
            dict(snap.domains),
            dict(snap.txns),
        )

    def apply(self, action: dict[str, Any]) -> None:
        if "add" in action:
            add = AddFile.from_action(action["add"])
            self.files[add.path] = add
        elif "remove" in action:
            self.files.pop(action["remove"]["path"], None)
        elif "metaData" in action:
            self.metadata = Metadata.from_action(action["metaData"])
        elif "protocol" in action:
            self.protocol = Protocol.from_action(action["protocol"])
        elif "domainMetadata" in action:
            dm = DomainMetadata.from_action(action["domainMetadata"])
            if dm.removed:
                self.domains.pop(dm.domain, None)
            else:
                self.domains[dm.domain] = dm.configuration
        elif "txn" in action:
            self.txns[action["txn"]["appId"]] = action["txn"]["version"]


def copy_into_app_id(source_file: str) -> str:
    """The txn appId that records a file COPY INTO loaded (version 0)."""
    return f"copyInto:{source_file}"


def _txn_actions(actions: list[dict[str, Any]]) -> list[dict[str, Any]]:
    """The ``txn`` actions a commit records, derived from its commitInfo
    parameters: a streaming sink's (``txnAppId``, ``txnVersion``) epoch,
    and one ``copy_into_app_id`` at version 0 per file a COPY INTO
    loaded (``sourceFiles``)."""
    params = next(
        (
            a["commitInfo"].get("operationParameters") or {}
            for a in actions
            if "commitInfo" in a
        ),
        {},
    )
    txns = [(copy_into_app_id(f), 0) for f in params.get("sourceFiles", ())]
    if "txnAppId" in params and "txnVersion" in params:
        txns.append((params["txnAppId"], params["txnVersion"]))
    now = _utc_millis()
    return [
        {"txn": {"appId": app_id, "version": v, "lastUpdated": now}}
        for app_id, v in txns
    ]


class CommitStore:
    """Atomic create-if-absent for commit files — the ONE primitive the
    log needs from its storage. The local-FS implementation uses
    write-to-temp + ``os.link`` (hard-link creation fails if the target
    exists, atomically). Deploying on an object store means swapping
    this class for the store's conditional write: S3 ``PutObject`` with
    ``If-None-Match: *``, GCS ``x-goog-if-generation-match: 0``, ADLS
    rename-if-absent — nothing else in the engine changes."""

    def put_if_absent(self, target: str, payload: bytes) -> bool:
        """Write ``payload`` at ``target`` iff absent. True on win,
        False when another writer already committed the path."""
        os.makedirs(os.path.dirname(target), exist_ok=True)
        tmp = os.path.join(
            os.path.dirname(target), f".tmp-{uuid.uuid4().hex}.json"
        )
        with open(tmp, "wb") as fh:
            fh.write(payload)
        try:
            os.link(tmp, target)
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)


class DeltaLog:
    """Reader/writer for one table's ``_delta_log`` directory."""

    def __init__(
        self,
        table_path: str,
        checkpoint_interval: int = 10,
        commit_store: CommitStore | None = None,
    ):
        self.table_path = os.path.abspath(table_path)
        self.log_path = os.path.join(self.table_path, LOG_DIR)
        self.checkpoint_interval = checkpoint_interval
        self.commit_store = commit_store or CommitStore()
        self._snapshot_cache: dict[int, Snapshot] = {}

    # ---------- existence / versions ----------

    def exists(self) -> bool:
        # a checkpoint alone proves the table exists: commit JSONs may
        # all have expired behind it (log retention)
        return os.path.isdir(self.log_path) and (
            bool(self._versions())
            or self._nearest_checkpoint(1 << 62) is not None
        )

    def _version_file(self, version: int) -> str:
        return os.path.join(self.log_path, f"{version:020d}.json")

    def _versions(self) -> list[int]:
        if not os.path.isdir(self.log_path):
            return []
        out = []
        for name in os.listdir(self.log_path):
            if name.endswith(".json") and len(name) == 25:
                try:
                    out.append(int(name[:-5]))
                except ValueError:
                    continue
        return sorted(out)

    def latest_version(self) -> int:
        vs = self._versions()
        # an untrimmed log (version 0 still present) cannot have a
        # checkpoint above its newest JSON — skip the checkpoint probe
        # on this hottest metadata path (it costs a second listdir)
        if vs and vs[0] == 0:
            return vs[-1]
        best = vs[-1] if vs else None
        # a checkpoint IS a committed version: a log whose commit JSONs
        # all expired behind a checkpoint must not read as a new table
        # (the next commit would silently restart at version 0)
        ckpt = self._nearest_checkpoint(1 << 62)
        if ckpt is not None and (best is None or ckpt > best):
            best = ckpt
        if best is None:
            raise TableNotFoundError(
                f"{self.table_path} is not a delta_lake_spark table (no {LOG_DIR})"
            )
        return best

    # ---------- reading ----------

    def _read_actions(self, version: int) -> list[dict[str, Any]]:
        path = self._version_file(version)
        if not os.path.exists(path):
            raise VersionNotFoundError(
                f"version {version} does not exist for table {self.table_path}"
            )
        with open(path, "r", encoding="utf-8") as fh:
            return [json.loads(line) for line in fh if line.strip()]

    def snapshot(self, version: int | None = None) -> Snapshot:
        """Replay the log up to ``version`` (default: latest).

        Incremental: reuses the cached snapshot for ``version - 1`` when
        present, so repeated reads replay only new commits — O(#new
        actions), never O(history length) per call.
        """
        if version is None:
            version = self.latest_version()
        if version in self._snapshot_cache:
            return self._snapshot_cache[version]
        if version < 0:
            raise VersionNotFoundError(f"negative version {version}")

        base_version = -1
        state: _Replay | None = None
        # find the nearest cached ancestor to replay from
        for v in sorted(self._snapshot_cache, reverse=True):
            if v < version:
                state = _Replay.of(self._snapshot_cache[v])
                base_version = v
                break
        # cold cache: start from the nearest checkpoint at or below target
        if state is None:
            ckpt_v = self._nearest_checkpoint(version)
            if ckpt_v is not None:
                state = self._read_checkpoint(ckpt_v)
                base_version = ckpt_v
            else:
                state = _Replay()

        for v in range(base_version + 1, version + 1):
            for action in self._read_actions(v):
                state.apply(action)

        if state.metadata is None:
            raise TableNotFoundError(
                f"no metaData action found in log of {self.table_path}"
            )
        snap = Snapshot(
            version=version,
            metadata=state.metadata,
            files=state.files,
            protocol=state.protocol,
            domains=state.domains,
            txns=state.txns,
        )
        self._snapshot_cache[version] = snap
        return snap

    # ---------- checkpoints ----------
    #
    # Parquet is the checkpoint format (the Delta protocol's choice, VLDB
    # 2020 §3.2). The 100 TB win is the snappy-compressed columnar layout:
    # ~18x smaller than JSON-lines (measured: 2.8 MB vs 52 MB at 200k
    # adds), which at 10^6-10^7 entries is the difference between a
    # single small object-store GET and streaming tens of compressed MB
    # before replay can even start. Parse CPU is comparable (stats still
    # carry per-row JSON); the typed columns additionally allow partial
    # column reads (e.g. paths-only for VACUUM reachability). The single
    # metaData/protocol actions ride in the parquet footer's key-value
    # metadata, beside the domainMetadata and txn maps. Legacy
    # .checkpoint.json files remain readable.

    _CKPT_ADD_FIELDS = (
        "path", "partitionValues", "size", "numRecords", "stats",
        "modificationTime", "dataChange", "deletionVector",
        "baseRowId", "defaultRowCommitVersion",
    )

    def _checkpoint_file(self, version: int) -> str:
        return os.path.join(self.log_path, f"{version:020d}.checkpoint.parquet")

    def _legacy_checkpoint_file(self, version: int) -> str:
        return os.path.join(self.log_path, f"{version:020d}.checkpoint.json")

    def _last_checkpoint_file(self) -> str:
        return os.path.join(self.log_path, "_last_checkpoint")

    def _checkpoint_part_files(self, version: int) -> list[str]:
        """Sorted multi-part checkpoint files for ``version``
        ({v}.checkpoint.{part}.{parts}.parquet), [] when absent,
        incomplete, or INCONSISTENT (a torn multi-part write — or
        leftovers from a different-part-count generation at the same
        version — must read as no-checkpoint, falling back to replay).

        Validity requires one single parts value declared by every file,
        part indices exactly {1..parts}, and — when ``_last_checkpoint``
        points at this version with a ``parts`` field — agreement with
        that declared count."""
        if not os.path.isdir(self.log_path):
            return []
        prefix = f"{version:020d}.checkpoint."
        pat = re.compile(
            rf"^{version:020d}\.checkpoint\.(\d{{10}})\.(\d{{10}})\.parquet$"
        )
        # group candidate files by their declared parts count: mixed
        # generations at one version must never be stitched together
        by_parts: dict[int, dict[int, str]] = {}
        for name in os.listdir(self.log_path):
            if not name.startswith(prefix):
                continue
            m = pat.match(name)
            if not m:
                continue
            part, parts = int(m.group(1)), int(m.group(2))
            by_parts.setdefault(parts, {})[part] = os.path.join(
                self.log_path, name
            )
        complete = {
            parts: found
            for parts, found in by_parts.items()
            if set(found) == set(range(1, parts + 1))
        }
        if not complete:
            return []
        # cross-check the parts count _last_checkpoint recorded for this
        # version, if any — the pointer names the authoritative generation
        lc_parts = None
        try:
            with open(self._last_checkpoint_file(), "r", encoding="utf-8") as fh:
                lc = json.load(fh)
            if lc.get("version") == version:
                lc_parts = int(lc["parts"])
        except (OSError, ValueError, KeyError, TypeError):
            lc_parts = None
        if lc_parts is not None:
            found = complete.get(lc_parts)
            return [found[i] for i in sorted(found)] if found else []
        if len(complete) > 1:
            # two complete generations and no pointer to arbitrate:
            # ambiguous — treat as no-checkpoint rather than guess
            return []
        ((parts, found),) = complete.items()
        return [found[i] for i in sorted(found)]

    def _checkpoint_exists(self, version: int) -> bool:
        return (
            os.path.exists(self._checkpoint_file(version))
            or os.path.exists(self._legacy_checkpoint_file(version))
            or bool(self._checkpoint_part_files(version))
        )

    def _nearest_checkpoint(self, version: int) -> int | None:
        """Highest checkpointed version <= ``version``, or None.

        Fast path: the ``_last_checkpoint`` pointer (one read, the common
        current-snapshot case). Fallback: directory listing, for time
        travel behind the newest checkpoint.
        """
        try:
            with open(self._last_checkpoint_file(), "r", encoding="utf-8") as fh:
                v = json.load(fh)["version"]
            if v <= version and self._checkpoint_exists(v):
                return v
        except (OSError, ValueError, KeyError):
            pass
        if not os.path.isdir(self.log_path):
            return None
        best = None
        for name in os.listdir(self.log_path):
            if ".checkpoint." in name and name.endswith((".parquet", ".json")):
                try:
                    v = int(name.split(".")[0])
                except ValueError:
                    continue
                if (
                    v <= version
                    and (best is None or v > best)
                    and self._checkpoint_exists(v)  # parts must be complete
                ):
                    best = v
        return best

    def _read_checkpoint(self, version: int) -> _Replay:
        if os.path.exists(self._checkpoint_file(version)) or (
            self._checkpoint_part_files(version)
        ):
            return self._read_parquet_checkpoint(version)
        return self._read_json_checkpoint(version)

    def _read_parquet_checkpoint(self, version: int) -> _Replay:
        import pyarrow as pa
        import pyarrow.parquet as pq

        if os.path.exists(self._checkpoint_file(version)):
            table = pq.read_table(self._checkpoint_file(version))
        else:
            part_files = self._checkpoint_part_files(version)
            if not part_files:
                raise TableNotFoundError(
                    f"no checkpoint at {version} for {self.table_path}"
                )
            tables = [pq.read_table(p) for p in part_files]
            # every part carries identical schema metadata; concat drops
            # it, so re-attach from the first part
            table = pa.concat_tables(tables).replace_schema_metadata(
                tables[0].schema.metadata
            )
        meta = table.schema.metadata or {}
        raw_md = meta.get(b"delta.metaData")
        if raw_md is None:
            raise TableNotFoundError(
                f"checkpoint {version} of {self.table_path} has no metaData"
            )
        state = _Replay(
            metadata=Metadata.from_action(json.loads(raw_md)["metaData"]),
            protocol=(
                Protocol.from_action(json.loads(meta[b"delta.protocol"])["protocol"])
                if b"delta.protocol" in meta
                else Protocol()
            ),
            domains=json.loads(meta.get(b"delta.domainMetadata", b"{}")),
            txns=json.loads(meta.get(b"delta.txns", b"{}")),
        )
        files = state.files
        present = set(table.column_names)  # pre-rowTracking checkpoints lack columns
        cols = {
            name: table.column(name).to_pylist()
            for name in self._CKPT_ADD_FIELDS
            if name in present
        }
        none_col = [None] * table.num_rows
        loads = json.loads
        for i in range(table.num_rows):
            pv = cols["partitionValues"][i]
            st = cols["stats"][i]
            dv = cols["deletionVector"][i]
            add = AddFile(
                path=cols["path"][i],
                # fast path: unpartitioned tables serialize "{}" everywhere
                partitionValues={} if pv == "{}" else loads(pv),
                size=cols["size"][i],
                numRecords=cols["numRecords"][i],
                stats=loads(st) if st else None,
                modificationTime=cols["modificationTime"][i],
                dataChange=cols["dataChange"][i],
                deletionVector=loads(dv) if dv else None,
                baseRowId=cols.get("baseRowId", none_col)[i],
                defaultRowCommitVersion=cols.get(
                    "defaultRowCommitVersion", none_col
                )[i],
            )
            files[add.path] = add
        return state

    def _read_json_checkpoint(self, version: int) -> _Replay:
        state = _Replay()
        with open(
            self._legacy_checkpoint_file(version), "r", encoding="utf-8"
        ) as fh:
            for line in fh:
                if line.strip():
                    state.apply(json.loads(line))
        if state.metadata is None:
            raise TableNotFoundError(
                f"checkpoint {version} of {self.table_path} has no metaData"
            )
        return state

    # multi-part threshold: at ~10^6 add entries (100 TB at 128 MB
    # files) a single checkpoint file serializes the whole write on one
    # node; parts bound each writer's slice and can be produced by
    # independent executors
    CKPT_ROWS_PER_PART = 250_000

    def write_checkpoint(
        self, version: int | None = None, parts: int | None = None
    ) -> int:
        """Materialize the snapshot at ``version`` (default latest) into a
        parquet checkpoint + ``_last_checkpoint`` pointer. Idempotent; safe
        to re-run (rename-overwrite of identical content).

        ``parts``: write a classic multi-part checkpoint with that many
        slices; defaults to single-file below CKPT_ROWS_PER_PART add
        entries and auto-splits above."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        snap = self.snapshot(version)
        adds = list(snap.files.values())
        table = pa.table(
            {
                "path": pa.array([a.path for a in adds], pa.string()),
                "partitionValues": pa.array(
                    [json.dumps(a.partitionValues, separators=(",", ":")) for a in adds],
                    pa.string(),
                ),
                "size": pa.array([a.size for a in adds], pa.int64()),
                "numRecords": pa.array([a.numRecords for a in adds], pa.int64()),
                "stats": pa.array(
                    [
                        json.dumps(a.stats, separators=(",", ":"))
                        if a.stats is not None
                        else None
                        for a in adds
                    ],
                    pa.string(),
                ),
                "modificationTime": pa.array(
                    [a.modificationTime for a in adds], pa.int64()
                ),
                "dataChange": pa.array([a.dataChange for a in adds], pa.bool_()),
                "deletionVector": pa.array(
                    [
                        json.dumps(a.deletionVector, separators=(",", ":"))
                        if a.deletionVector is not None
                        else None
                        for a in adds
                    ],
                    pa.string(),
                ),
                "baseRowId": pa.array([a.baseRowId for a in adds], pa.int64()),
                "defaultRowCommitVersion": pa.array(
                    [a.defaultRowCommitVersion for a in adds], pa.int64()
                ),
            }
        ).replace_schema_metadata(
            {
                b"delta.metaData": json.dumps(
                    snap.metadata.to_action(), separators=(",", ":")
                ).encode(),
                b"delta.protocol": json.dumps(
                    snap.protocol.to_action(), separators=(",", ":")
                ).encode(),
                b"delta.domainMetadata": json.dumps(
                    snap.domains, separators=(",", ":"), sort_keys=True
                ).encode(),
                b"delta.txns": json.dumps(
                    snap.txns, separators=(",", ":"), sort_keys=True
                ).encode(),
            }
        )
        if parts is None and len(adds) > self.CKPT_ROWS_PER_PART:
            parts = -(-len(adds) // self.CKPT_ROWS_PER_PART)
        if parts and parts > 1:
            # multi-part (classic Delta {v}.checkpoint.{i}.{n}.parquet):
            # each part is an independent slice a different executor
            # could write; every part carries the table-level metadata
            # so any single part identifies the snapshot. Parts land
            # before _last_checkpoint flips, and a torn set (missing
            # part) reads as no-checkpoint -> replay fallback.
            per = -(-max(table.num_rows, 1) // parts)
            for i in range(parts):
                sl = table.slice(i * per, per)
                tmp = os.path.join(
                    self.log_path, f".tmp-ckpt-{uuid.uuid4().hex}.parquet"
                )
                pq.write_table(sl, tmp, compression="snappy")
                os.replace(
                    tmp,
                    os.path.join(
                        self.log_path,
                        f"{snap.version:020d}.checkpoint."
                        f"{i + 1:010d}.{parts:010d}.parquet",
                    ),
                )
            lc = {"version": snap.version, "parts": parts}
        else:
            tmp = os.path.join(
                self.log_path, f".tmp-ckpt-{uuid.uuid4().hex}.parquet"
            )
            pq.write_table(table, tmp, compression="snappy")
            os.replace(tmp, self._checkpoint_file(snap.version))
            lc = {"version": snap.version}
        if _ict_enabled(snap.metadata.configuration):
            # persist the newest issued ICT so monotonicity survives the
            # checkpointed commit JSONs expiring (log retention): a new
            # commit whose predecessor JSON is gone clamps against this
            try:
                ckpt_ict = self.commit_timestamp(snap.version)
            except (OSError, VersionNotFoundError):
                ckpt_ict = None
            if ckpt_ict is not None:
                lc["latestIct"] = ckpt_ict
        tmp2 = os.path.join(self.log_path, f".tmp-lc-{uuid.uuid4().hex}")
        with open(tmp2, "w", encoding="utf-8") as fh:
            json.dump(lc, fh)
        os.replace(tmp2, self._last_checkpoint_file())
        return snap.version

    def cleanup_expired_logs(self, retention_millis: int) -> list[str]:
        """Metadata retention (Delta's logRetentionDuration): delete
        commit files strictly OLDER than the newest checkpoint AND whose
        mtime is past ``retention_millis`` — replay from the checkpoint
        no longer needs them. Time travel to cleaned versions stops
        working, same as Delta. Expired legacy checkpoints behind the
        newest one are removed too. The newest checkpoint and every
        commit at or after it are always kept. Returns deleted paths."""
        import time as _time

        ckpt = self._nearest_checkpoint(self.latest_version())
        if ckpt is None:
            return []
        cutoff = _time.time() - retention_millis / 1000.0
        deleted: list[str] = []
        for name in sorted(os.listdir(self.log_path)):
            full = os.path.join(self.log_path, name)
            try:
                if name.endswith(".json") and len(name) == 25:
                    v = int(name[:-5])
                    if v < ckpt and os.path.getmtime(full) < cutoff:
                        os.remove(full)
                        deleted.append(full)
                elif ".checkpoint." in name and name.endswith(
                    (".parquet", ".json")
                ):
                    v = int(name.split(".")[0])
                    if v < ckpt and os.path.getmtime(full) < cutoff:
                        os.remove(full)
                        deleted.append(full)
            except (ValueError, OSError):
                continue
        if deleted:
            self._snapshot_cache.clear()
        return deleted

    def version_at_timestamp(self, ts_millis: int) -> int:
        """Latest version whose commit timestamp is <= ts_millis
        (TIMESTAMP AS OF resolution). Raises VersionNotFoundError if the
        table's first commit is later than the requested time."""
        best = None
        for v in self._versions():
            for action in self._read_actions(v):
                if "commitInfo" in action:
                    ci = action["commitInfo"]
                    t = ci.get("inCommitTimestamp", ci.get("timestamp"))
                    if t is not None and t <= ts_millis:
                        best = v
                    break
        if best is None:
            raise VersionNotFoundError(
                f"no commit at or before timestamp {ts_millis} for {self.table_path}"
            )
        return best

    def history(self) -> list[dict[str, Any]]:
        """Commit metadata, newest first (DESCRIBE HISTORY, reference D9)."""
        out = []
        for v in reversed(self._versions()):
            info: dict[str, Any] = {"version": v}
            for action in self._read_actions(v):
                if "commitInfo" in action:
                    ci = action["commitInfo"]
                    info.update(
                        {
                            "timestamp": ci.get(
                                "inCommitTimestamp", ci.get("timestamp")
                            ),
                            "operation": ci.get("operation"),
                            "operationParameters": ci.get("operationParameters"),
                            "readVersion": ci.get("readVersion"),
                            "operationMetrics": ci.get("operationMetrics"),
                        }
                    )
            out.append(info)
        return out

    # ---------- committing ----------

    def commit(
        self,
        version: int,
        actions: Iterable[dict[str, Any]],
    ) -> int:
        """Atomically write version file; raise on concurrent commit.

        Uses write-to-temp + ``os.link`` (create-if-absent) so two writers
        racing on the same version cannot both succeed — the local-FS
        analogue of S3 put-if-absent / ADLS rename-if-absent.
        """
        os.makedirs(self.log_path, exist_ok=True)
        target = self._version_file(version)
        actions = self._stamp_in_commit_timestamp(version, list(actions))
        payload = "".join(
            json.dumps(action, separators=(",", ":")) + "\n"
            for action in actions
        ).encode("utf-8")
        if not self.commit_store.put_if_absent(target, payload):
            raise ConcurrentModificationError(
                f"version {version} of {self.table_path} was committed concurrently"
            )
        self._snapshot_cache.pop(version, None)
        if (
            self.checkpoint_interval > 0
            and version > 0
            and version % self.checkpoint_interval == 0
        ):
            self.write_checkpoint(version)
        return version

    def _stamp_in_commit_timestamp(
        self, version: int, actions: list[dict[str, Any]]
    ) -> list[dict[str, Any]]:
        """When in-commit timestamps are enabled for this commit, stamp
        commitInfo.inCommitTimestamp = max(now, previous ICT + 1) —
        strictly monotonic even if the wall clock steps backwards — and
        move commitInfo first (the spec's position requirement, so
        readers resolve a commit's timestamp from its first line). The
        enabling commit itself (metaData in ``actions`` flips the
        property on) is stamped too, and gains the enablement-provenance
        properties the moment the feature turns on mid-history."""
        meta_action = next((a for a in actions if "metaData" in a), None)
        if meta_action is not None:
            conf = meta_action["metaData"].get("configuration", {})
        else:
            if version == 0:
                return actions
            try:
                conf = self.snapshot(version - 1).metadata.configuration
            except TableNotFoundError:
                return actions  # metadata-less log (raw action streams)
        if not _ict_enabled(conf):
            return actions
        prev_ict = None
        if version > 0:
            prev = self.snapshot(version - 1)
            try:
                prev_ict = self.commit_timestamp(version - 1)
            except (OSError, VersionNotFoundError):
                prev_ict = None  # v-1 json expired behind a checkpoint
            if prev_ict is None:
                # fall back to the newest ICT persisted at checkpoint
                # time so monotonicity never regresses to raw wall clock
                try:
                    with open(
                        self._last_checkpoint_file(), "r", encoding="utf-8"
                    ) as fh:
                        prev_ict = int(json.load(fh)["latestIct"])
                except (OSError, ValueError, KeyError, TypeError):
                    prev_ict = None
            prev_conf = prev.metadata.configuration
        else:
            prev_conf = {}
        ict = _utc_millis()
        if prev_ict is not None:
            ict = max(ict, prev_ict + 1)
        ci = next((a for a in actions if "commitInfo" in a), None)
        if ci is None:
            ci = CommitInfo(operation="WRITE").to_action()
            actions = [ci] + actions
        ci["commitInfo"]["inCommitTimestamp"] = ict
        if meta_action is not None and not _ict_enabled(prev_conf):
            # feature flips ON in this commit: record provenance so
            # readers know timestamps before this version are file-based
            c = dict(meta_action["metaData"].get("configuration", {}))
            c["delta.inCommitTimestampEnablementVersion"] = str(version)
            c["delta.inCommitTimestampEnablementTimestamp"] = str(ict)
            meta_action["metaData"]["configuration"] = c
        ordered = [a for a in actions if "commitInfo" in a] + [
            a for a in actions if "commitInfo" not in a
        ]
        return ordered

    def commit_timestamp(self, version: int) -> int | None:
        """The commit's effective timestamp: inCommitTimestamp when the
        feature stamped it, else the commitInfo wall-clock."""
        for action in self._read_actions(version):
            if "commitInfo" in action:
                ci = action["commitInfo"]
                return ci.get("inCommitTimestamp", ci.get("timestamp"))
        return None

    def commit_from(
        self,
        read_snap: Snapshot | None,
        actions: list[dict[str, Any]],
        removed_paths: Iterable[str] = (),
        content_neutral: bool = True,
        read_paths: list[str] | None = None,
        rt_adds: list[AddFile] | None = None,
    ) -> int:
        """Commit a transaction that read ``read_snap``, with conflict
        RESOLUTION, not just detection (Delta's disjoint-file rule). The
        first attempt targets the version right after ``read_snap``, so
        every commit that landed since the transaction read its snapshot
        is checked. ``read_snap=None`` creates the table: the commit
        lands at version 0 or raises, and is never rebased. On a lost
        commit race, rebase and retry iff the winners provably cannot
        invalidate this transaction:

          - table metadata (schema/partitioning/constraints) unchanged;
          - every file this transaction removes/re-adds is
            byte-identical in the new snapshot (path, size, deletion
            vector) — nobody rewrote what we rewrote;
          - for predicate mutations and overwrites
            (content_neutral=False): the winner added no dataChange
            files — a concurrent append/update could contain rows our
            predicate should have affected, which must serialize as a
            conflict — AND removed no file we read, nor re-added one
            with a new deletion vector (Delta's concurrent-delete-read
            rule): a remove-only winner (DELETE dropping whole files,
            RESTORE) invalidates FIND / anti-join decisions made
            against those rows, e.g. a MERGE that skipped inserting a
            source row because it matched a now-deleted target row.
            Layout-only winners (OPTIMIZE, PURGE, metadata commits)
            are always safe to rebase over. Content-neutral commits
            (appends, OPTIMIZE, PURGE) rebase over appends too —
            they ignore files they didn't read.

        Domain metadata: a winner that wrote a domain this commit also
        writes conflicts (last-writer-wins would silently drop the
        winner's state) — EXCEPT the row-tracking high-water mark,
        which is pure allocator state: when ``rt_adds`` (this commit's
        staged files) is passed, the rebase reassigns their baseRowId
        ranges against the winner's advanced mark instead of raising.

        Transaction identifiers: the commit carries one ``txn`` action
        per idempotent write it records (``_txn_actions``). It raises
        when ``read_snap`` already holds that appId at or past the
        version, and on rebase when a winner changed that appId's
        version (Delta's concurrent-transaction rule): two writers of
        one streaming epoch or one COPY INTO file never both commit.
        """
        from . import rowtracking  # rowtracking imports this module

        actions = [*actions, *_txn_actions(actions)]
        our_txns = {
            x["txn"]["appId"]: x["txn"]["version"] for x in actions if "txn" in x
        }
        if read_snap is None:
            return self.commit(0, actions)
        read_snap.protocol.check_write_support(self.table_path)
        for app_id, txn_version in our_txns.items():
            if read_snap.txns.get(app_id, -1) >= txn_version:
                raise ConcurrentModificationError(
                    f"{app_id} version {txn_version} is already committed "
                    f"to {self.table_path}"
                )
        our_domains = {
            x["domainMetadata"]["domain"] for x in actions if "domainMetadata" in x
        }
        version = read_snap.version + 1
        for attempt in range(4):
            try:
                return self.commit(version, actions)
            except ConcurrentModificationError:
                if attempt == 3:
                    raise
                new_snap = self.snapshot()
                if (
                    new_snap.metadata.to_action()
                    != read_snap.metadata.to_action()
                ):
                    raise
                for p in removed_paths:
                    old = read_snap.files.get(p)
                    new = new_snap.files.get(p)
                    if old is None or new is None or old.to_action() != new.to_action():
                        raise
                if any(
                    new_snap.txns.get(a) != read_snap.txns.get(a) for a in our_txns
                ):
                    raise
                if our_domains:
                    for v in range(read_snap.version + 1, new_snap.version + 1):
                        for action in self._read_actions(v):
                            dm = action.get("domainMetadata")
                            if not dm or dm["domain"] not in our_domains:
                                continue
                            if (
                                dm["domain"] != rowtracking.ROW_TRACKING_DOMAIN
                                or rt_adds is None
                            ):
                                raise
                if not content_neutral:
                    # concurrent-delete-read: a winner whose commit
                    # REMOVED (dataChange=True) a file this txn read, or
                    # re-added one with a new deletion vector,
                    # invalidates FIND / anti-join decisions made against
                    # those rows (e.g. a MERGE that skipped inserting a
                    # source row matched to a now-deleted target row).
                    # dataChange=False removals (OPTIMIZE/PURGE moves)
                    # keep every row live in re-added files, so reads
                    # stay valid. read_paths = the stats/partition-pruned
                    # scan set when the caller tracked it; default is
                    # conservative (everything in the read snapshot).
                    read_set = (
                        set(read_paths)
                        if read_paths is not None
                        else set(read_snap.files)
                    )
                    for p, a in new_snap.files.items():
                        if a.dataChange and (
                            p not in read_snap.files
                            or (p in read_set and read_snap.files[p] != a)
                        ):
                            raise
                    for v in range(
                        read_snap.version + 1, new_snap.version + 1
                    ):
                        for action in self._read_actions(v):
                            rm = action.get("remove")
                            if (
                                rm
                                and rm.get("dataChange", True)
                                and rm["path"] in read_set
                            ):
                                raise
                if rt_adds is not None and rowtracking.enabled(new_snap):
                    # the winner may have consumed our id range — rebase
                    # reassigns fresh baseRowIds above its high-water mark
                    rt_acts, _ = rowtracking.assign_fresh_ids(
                        rt_adds,
                        rowtracking.high_water_mark(new_snap),
                        new_snap.version + 1,
                    )
                    add_paths = {a.path for a in rt_adds}
                    actions = [
                        x
                        for x in actions
                        if not (
                            ("add" in x and x["add"]["path"] in add_paths)
                            or x.get("domainMetadata", {}).get("domain")
                            == rowtracking.ROW_TRACKING_DOMAIN
                        )
                    ]
                    actions.extend(rt_acts)
                    actions.extend(a.to_action() for a in rt_adds)
                version = new_snap.version + 1
        raise AssertionError("unreachable")
