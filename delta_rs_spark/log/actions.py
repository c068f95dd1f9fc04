"""Delta transaction-log actions (public Delta protocol).

Re-creates the action model of the reference
(reference: crates/core/src/kernel/models/actions.rs — Add :918,
Remove :967, AddCDCFile :1018, Txn :1042, CommitInfo :1079, Metadata
:21, Protocol :329) as plain Python dataclasses with the protocol's
JSON wire format. One JSON object per line per action in
``_delta_log/<20-digit-version>.json``.

Schema strings use Spark's ``StructType.json()`` serialization, which is
the same field layout the Delta protocol uses ({type:"struct",fields:[
{name,type,nullable,metadata}]}).
"""

from __future__ import annotations

import json
import time
import uuid
from dataclasses import dataclass, field
from typing import Any


def now_ms() -> int:
    return int(time.time() * 1000)


@dataclass
class Protocol:
    min_reader_version: int = 1
    min_writer_version: int = 2
    reader_features: list[str] | None = None
    writer_features: list[str] | None = None

    def to_json(self) -> dict[str, Any]:
        d: dict[str, Any] = {
            "minReaderVersion": self.min_reader_version,
            "minWriterVersion": self.min_writer_version,
        }
        if self.reader_features is not None:
            d["readerFeatures"] = self.reader_features
        if self.writer_features is not None:
            d["writerFeatures"] = self.writer_features
        return {"protocol": d}

    @classmethod
    def from_json(cls, d: dict[str, Any]) -> Protocol:
        return cls(
            d.get("minReaderVersion", 1),
            d.get("minWriterVersion", 2),
            d.get("readerFeatures"),
            d.get("writerFeatures"),
        )


@dataclass
class Metadata:
    schema_string: str
    partition_columns: list[str] = field(default_factory=list)
    configuration: dict[str, str] = field(default_factory=dict)
    id: str = field(default_factory=lambda: str(uuid.uuid4()))
    name: str | None = None
    description: str | None = None
    created_time: int = field(default_factory=now_ms)

    def to_json(self) -> dict[str, Any]:
        return {
            "metaData": {
                "id": self.id,
                "name": self.name,
                "description": self.description,
                "format": {"provider": "parquet", "options": {}},
                "schemaString": self.schema_string,
                "partitionColumns": self.partition_columns,
                "configuration": self.configuration,
                "createdTime": self.created_time,
            }
        }

    @classmethod
    def from_json(cls, d: dict[str, Any]) -> Metadata:
        # DLT pipelines write an initial metaData with NO schemaString
        # (schema arrives with the next commit's metaData). The reference
        # tolerates this (delta-rs issue #1302; fixture
        # crates/test/tests/data/delta-live-table) — replay keeps the
        # LAST metadata, so an empty placeholder schema is never the
        # effective one on a readable table.
        return cls(
            schema_string=d.get("schemaString")
            or '{"type":"struct","fields":[]}',
            partition_columns=d.get("partitionColumns") or [],
            configuration=d.get("configuration") or {},
            id=d.get("id") or str(uuid.uuid4()),
            name=d.get("name"),
            description=d.get("description"),
            created_time=d.get("createdTime") or now_ms(),
        )


@dataclass
class Add:
    path: str  # relative, URL-encoded
    size: int
    modification_time: int
    data_change: bool = True
    partition_values: dict[str, str | None] = field(default_factory=dict)
    stats: str | None = None  # JSON: numRecords/minValues/maxValues/nullCount
    tags: dict[str, str] | None = None
    # DV descriptor (reference: kernel/models/actions.rs:883
    # DeletionVectorDescriptor): storageType 'u'|'i'|'p', pathOrInlineDv,
    # offset, sizeInBytes, cardinality
    deletion_vector: dict[str, Any] | None = None
    # row tracking (PROTOCOL.md "Row Tracking"; kernel actions.rs Add):
    # fresh row id of row i in this file = base_row_id + i; fresh row
    # commit version = default_row_commit_version
    base_row_id: int | None = None
    default_row_commit_version: int | None = None
    # clustered tables (PROTOCOL.md "Clustered Table"; kernel
    # fields.rs:107): "liquid" on files written by a clustering
    # OPTIMIZE, absent on plain appends
    clustering_provider: str | None = None

    def to_json(self) -> dict[str, Any]:
        d: dict[str, Any] = {
            "path": self.path,
            "partitionValues": self.partition_values,
            "size": self.size,
            "modificationTime": self.modification_time,
            "dataChange": self.data_change,
        }
        if self.stats:
            d["stats"] = self.stats
        if self.tags:
            d["tags"] = self.tags
        if self.deletion_vector:
            d["deletionVector"] = self.deletion_vector
        if self.base_row_id is not None:
            d["baseRowId"] = self.base_row_id
        if self.default_row_commit_version is not None:
            d["defaultRowCommitVersion"] = self.default_row_commit_version
        if self.clustering_provider is not None:
            d["clusteringProvider"] = self.clustering_provider
        return {"add": d}

    @classmethod
    def from_json(cls, d: dict[str, Any]) -> Add:
        return cls(
            path=d["path"],
            size=d.get("size", 0),
            modification_time=d.get("modificationTime", 0),
            data_change=d.get("dataChange", True),
            partition_values=d.get("partitionValues") or {},
            stats=d.get("stats"),
            tags=d.get("tags"),
            deletion_vector=d.get("deletionVector"),
            base_row_id=d.get("baseRowId"),
            default_row_commit_version=d.get("defaultRowCommitVersion"),
            clustering_provider=d.get("clusteringProvider"),
        )

    def stats_dict(self) -> dict[str, Any] | None:
        """Parsed stats — parsed fresh per call, deliberately UNCACHED:
        a memo on the Add would retain a parsed dict (~2-3x the JSON
        string it already holds) for every file the planner touches,
        which at millions of adds is GBs of driver memory. Hot paths
        that evaluate several conjuncts per file (data skipping) parse
        once per file per query instead (plans/skipping.py prune_files
        passes the parsed dict down)."""
        if not self.stats:
            return None
        try:
            return json.loads(self.stats)
        except (ValueError, TypeError):
            return None

    def num_records(self) -> int | None:
        s = self.stats_dict()
        return None if s is None else s.get("numRecords")

    def remove(self, ts: int, data_change: bool = True) -> Remove:
        """The tombstone of this file: it carries the deletion vector,
        since file identity under deletionVectors is the (path, dvId)
        pair (PROTOCOL.md), and vacuum retires the DV sidecar with it."""
        return Remove(
            self.path,
            ts,
            data_change,
            self.partition_values,
            self.size,
            deletion_vector=self.deletion_vector,
        )


@dataclass
class Remove:
    path: str
    deletion_timestamp: int = field(default_factory=now_ms)
    data_change: bool = True
    partition_values: dict[str, str | None] | None = None
    size: int | None = None
    # when a DV update tombstones the previous (path, DV) pairing, the
    # remove carries the OLD descriptor (Delta PROTOCOL.md: file identity
    # under deletionVectors is the (path, dvId) pair)
    deletion_vector: dict[str, Any] | None = None

    def to_json(self) -> dict[str, Any]:
        d: dict[str, Any] = {
            "path": self.path,
            "deletionTimestamp": self.deletion_timestamp,
            "dataChange": self.data_change,
        }
        if self.partition_values is not None:
            d["partitionValues"] = self.partition_values
        if self.size is not None:
            d["size"] = self.size
        if self.deletion_vector:
            d["deletionVector"] = self.deletion_vector
        return {"remove": d}

    @classmethod
    def from_json(cls, d: dict[str, Any]) -> Remove:
        return cls(
            path=d["path"],
            deletion_timestamp=d.get("deletionTimestamp", 0),
            data_change=d.get("dataChange", True),
            partition_values=d.get("partitionValues"),
            size=d.get("size"),
            deletion_vector=d.get("deletionVector"),
        )


@dataclass
class AddCDCFile:
    """Change-data file under _change_data/ (reference: actions.rs:1018)."""

    path: str
    size: int
    partition_values: dict[str, str | None] = field(default_factory=dict)

    def to_json(self) -> dict[str, Any]:
        return {
            "cdc": {
                "path": self.path,
                "partitionValues": self.partition_values,
                "size": self.size,
                "dataChange": False,
            }
        }

    @classmethod
    def from_json(cls, d: dict[str, Any]) -> AddCDCFile:
        return cls(d["path"], d.get("size", 0), d.get("partitionValues") or {})


@dataclass
class Txn:
    """Per-app idempotency watermark (reference: actions.rs:1042)."""

    app_id: str
    version: int
    last_updated: int = field(default_factory=now_ms)

    def to_json(self) -> dict[str, Any]:
        return {
            "txn": {
                "appId": self.app_id,
                "version": self.version,
                "lastUpdated": self.last_updated,
            }
        }

    @classmethod
    def from_json(cls, d: dict[str, Any]) -> Txn:
        return cls(d["appId"], d["version"], d.get("lastUpdated") or 0)


@dataclass
class DomainMetadata:
    """Per-domain configuration blob (reference: actions.rs:1128).
    Replay: latest action per domain wins; ``removed=True`` tombstones."""

    domain: str
    configuration: str = ""
    removed: bool = False

    def to_json(self) -> dict[str, Any]:
        return {
            "domainMetadata": {
                "domain": self.domain,
                "configuration": self.configuration,
                "removed": self.removed,
            }
        }

    @classmethod
    def from_json(cls, d: dict[str, Any]) -> DomainMetadata:
        return cls(d["domain"], d.get("configuration") or "", d.get("removed", False))


@dataclass
class Sidecar:
    """V2-checkpoint sidecar file reference (reference: actions.rs:1141):
    a parquet file under _delta_log/_sidecars holding file actions."""

    path: str
    size_in_bytes: int = 0
    modification_time: int = 0
    tags: dict[str, str] | None = None

    def to_json(self) -> dict[str, Any]:
        d: dict[str, Any] = {
            "path": self.path,
            "sizeInBytes": self.size_in_bytes,
            "modificationTime": self.modification_time,
        }
        if self.tags:
            d["tags"] = self.tags
        return {"sidecar": d}

    @classmethod
    def from_json(cls, d: dict[str, Any]) -> Sidecar:
        return cls(
            d["path"],
            d.get("sizeInBytes", 0),
            d.get("modificationTime", 0),
            d.get("tags"),
        )


@dataclass
class CheckpointMetadata:
    """V2 checkpoint self-description (reference: actions.rs:1154)."""

    version: int
    tags: dict[str, str] | None = None

    def to_json(self) -> dict[str, Any]:
        d: dict[str, Any] = {"version": self.version}
        if self.tags:
            d["tags"] = self.tags
        return {"checkpointMetadata": d}

    @classmethod
    def from_json(cls, d: dict[str, Any]) -> CheckpointMetadata:
        return cls(d["version"], d.get("tags"))


@dataclass
class CommitInfo:
    operation: str
    operation_parameters: dict[str, Any] = field(default_factory=dict)
    timestamp: int = field(default_factory=now_ms)
    operation_metrics: dict[str, Any] = field(default_factory=dict)
    read_version: int | None = None
    engine_info: str = "delta_rs_spark/0.1.0"
    client_version: str = "delta_rs_spark.0.1.0"
    user_metadata: str | None = None
    #: extra commitInfo keys from CommitProperties.custom_metadata
    #: (reference transaction/mod.rs merges app_metadata into commitInfo)
    extra: dict[str, Any] = field(default_factory=dict)

    def to_json(self) -> dict[str, Any]:
        d: dict[str, Any] = {
            "timestamp": self.timestamp,
            "operation": self.operation,
            "operationParameters": {
                k: v if isinstance(v, str) else json.dumps(v)
                for k, v in self.operation_parameters.items()
            },
            "operationMetrics": self.operation_metrics,
            "engineInfo": self.engine_info,
            "clientVersion": self.client_version,
        }
        for k, v in self.extra.items():
            d[k] = v
        if self.read_version is not None:
            d["readVersion"] = self.read_version
        if self.user_metadata is not None:
            d["userMetadata"] = self.user_metadata
        return {"commitInfo": d}

    _KNOWN_KEYS = frozenset(
        {
            "operation",
            "operationParameters",
            "timestamp",
            "operationMetrics",
            "readVersion",
            "engineInfo",
            "clientVersion",
            "userMetadata",
        }
    )

    @classmethod
    def from_json(cls, d: dict[str, Any]) -> CommitInfo:
        return cls(
            operation=d.get("operation", "UNKNOWN"),
            operation_parameters=d.get("operationParameters") or {},
            timestamp=d.get("timestamp") or 0,
            operation_metrics=d.get("operationMetrics") or {},
            read_version=d.get("readVersion"),
            engine_info=d.get("engineInfo", ""),
            client_version=d.get("clientVersion", ""),
            user_metadata=d.get("userMetadata"),
            extra={k: v for k, v in d.items() if k not in cls._KNOWN_KEYS},
        )


Action = (
    Protocol
    | Metadata
    | Add
    | Remove
    | AddCDCFile
    | Txn
    | CommitInfo
    | DomainMetadata
    | Sidecar
    | CheckpointMetadata
)

_KEYS = {
    "protocol": Protocol,
    "metaData": Metadata,
    "add": Add,
    "remove": Remove,
    "cdc": AddCDCFile,
    "txn": Txn,
    "commitInfo": CommitInfo,
    "domainMetadata": DomainMetadata,
    "sidecar": Sidecar,
    "checkpointMetadata": CheckpointMetadata,
}


def action_to_line(action: Action) -> str:
    return json.dumps(action.to_json(), separators=(",", ":"))


def parse_action(line: str) -> Action | None:
    obj = json.loads(line)
    for key, cls in _KEYS.items():
        if key in obj:
            return cls.from_json(obj[key])
    return None  # unknown action kinds are ignored (forward compat)
