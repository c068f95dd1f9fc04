"""Snapshot = materialized table state at a version, via log replay.

Mirrors the reference's snapshot machinery
(reference: crates/core/src/kernel/snapshot/mod.rs:1-16 — EagerSnapshot):
start from the newest parquet checkpoint at-or-before the requested
version, then apply newer JSON commits in order. Replay rules: last
Metadata/Protocol win; Add is keyed by path; Remove tombstones an Add
(kept for VACUUM); latest Txn per appId wins.

The log is always tiny relative to data (one JSON line per file per
commit), so driver-side replay is the right call even at 100 TB — the
same choice every Delta implementation makes; checkpoints bound replay
cost to O(files) regardless of commit count.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field
from typing import Any

import pyarrow as pa
import pyarrow.parquet as pq

from delta_rs_spark.log.actions import (
    Action,
    Add,
    CheckpointMetadata,
    CommitInfo,
    DomainMetadata,
    Metadata,
    Protocol,
    Remove,
    Sidecar,
    Txn,
    parse_action,
)

_COMMIT_RE = re.compile(r"^(\d{20})\.json$")
_CHECKPOINT_RE = re.compile(r"^(\d{20})\.checkpoint\.parquet$")
# UUID-named V2 checkpoint (PROTOCOL.md "V2 spec checkpoints":
# n.checkpoint.u.parquet where u is a UUID)
_CHECKPOINT_V2_RE = re.compile(r"^(\d{20})\.checkpoint\.([0-9a-fA-F-]{8,})\.parquet$")
# the V2 spec also allows a JSON top-level checkpoint (delta-spark
# writes these with delta.checkpointPolicy=v2 — reference corpus
# checkpoint-v2-table); sidecars stay parquet either way
_CHECKPOINT_V2_JSON_RE = re.compile(r"^(\d{20})\.checkpoint\.([0-9a-fA-F-]{8,})\.json$")
_COMPACTED_RE = re.compile(r"^(\d{20})\.(\d{20})\.compacted\.json$")


def log_dir(table_path: str) -> str:
    return os.path.join(table_path, "_delta_log")


def commit_file(table_path: str, version: int) -> str:
    return os.path.join(log_dir(table_path), f"{version:020d}.json")


def checkpoint_file(table_path: str, version: int) -> str:
    return os.path.join(log_dir(table_path), f"{version:020d}.checkpoint.parquet")


def find_checkpoint_file(table_path: str, version: int) -> str:
    """Resolve the checkpoint parquet for ``version``: the classic name
    if present, else the lexicographically greatest UUID-named V2
    checkpoint (any complete checkpoint for a version is equivalent per
    the protocol; the max name makes the pick deterministic)."""
    classic = checkpoint_file(table_path, version)
    if os.path.exists(classic):
        return classic
    prefix = f"{version:020d}.checkpoint."
    d = log_dir(table_path)
    names = [f for f in os.listdir(d) if f.startswith(prefix)]
    # prefer parquet V2 checkpoints (columnar read) over JSON ones;
    # any complete checkpoint for a version is equivalent per the spec
    candidates = sorted(f for f in names if _CHECKPOINT_V2_RE.match(f)) or sorted(
        f for f in names if _CHECKPOINT_V2_JSON_RE.match(f)
    )
    if not candidates:
        raise FileNotFoundError(classic)
    return os.path.join(d, candidates[-1])


def is_delta_table(table_path: str) -> bool:
    d = log_dir(table_path)
    if not os.path.isdir(d):
        return False
    return any(
        _COMMIT_RE.match(f)
        or _CHECKPOINT_RE.match(f)
        or _CHECKPOINT_V2_RE.match(f)
        or _CHECKPOINT_V2_JSON_RE.match(f)
        or _COMPACTED_RE.match(f)
        for f in os.listdir(d)
    )


def list_log(table_path: str) -> tuple[list[int], list[int]]:
    """Return (sorted commit versions, sorted checkpoint versions)."""
    d = log_dir(table_path)
    commits: list[int] = []
    checkpoints: list[int] = []
    if not os.path.isdir(d):
        return commits, checkpoints
    for f in os.listdir(d):
        m = _COMMIT_RE.match(f)
        if m:
            commits.append(int(m.group(1)))
            continue
        m = _CHECKPOINT_RE.match(f)
        if m:
            checkpoints.append(int(m.group(1)))
            continue
        m = _CHECKPOINT_V2_RE.match(f) or _CHECKPOINT_V2_JSON_RE.match(f)
        if m:
            checkpoints.append(int(m.group(1)))
    # a version may carry both a classic and a UUID-named checkpoint
    return sorted(commits), sorted(set(checkpoints))


def list_compacted(table_path: str) -> dict[int, int]:
    """start_version -> end_version of ``<s>.<e>.compacted.json`` files
    (reference: crates/core/src/protocol/log_compaction.rs)."""
    d = log_dir(table_path)
    out: dict[int, int] = {}
    if not os.path.isdir(d):
        return out
    for f in os.listdir(d):
        m = _COMPACTED_RE.match(f)
        if m:
            s, e = int(m.group(1)), int(m.group(2))
            if s not in out or e > out[s]:
                out[s] = e
    return out


def compacted_file(table_path: str, start: int, end: int) -> str:
    return os.path.join(log_dir(table_path), f"{start:020d}.{end:020d}.compacted.json")


def latest_version(table_path: str) -> int | None:
    commits, checkpoints = list_log(table_path)
    candidates = commits + checkpoints + list(list_compacted(table_path).values())
    return max(candidates) if candidates else None


def _read_actions(path: str) -> list[Action]:
    """The actions of a newline-delimited JSON log file (a commit, a
    compacted range or a JSON checkpoint)."""
    actions: list[Action] = []
    with open(path, encoding="utf-8") as f:
        for line in f:
            line = line.strip()
            if line:
                a = parse_action(line)
                if a is not None:
                    actions.append(a)
    return actions


def read_commit_actions(table_path: str, version: int) -> list[Action]:
    return _read_actions(commit_file(table_path, version))


def read_commit_meta_actions(table_path: str, version: int) -> list[Action]:
    """Only the commit's CommitInfo + Metadata actions — a cheap
    substring prefilter skips the (possibly 10^5) add/remove lines
    without any JSON parse. For timestamp lookups (version_at_timestamp
    needs Metadata for the ICT enablement keys) on big-table logs."""
    path = commit_file(table_path, version)
    out: list[Action] = []
    with open(path, encoding="utf-8") as f:
        for line in f:
            if '"commitInfo"' not in line and '"metaData"' not in line:
                continue
            a = parse_action(line.strip())
            if isinstance(a, (CommitInfo, Metadata)):
                out.append(a)
    return out


def read_commit_info(table_path: str, version: int):
    """Just the commit's CommitInfo, without materializing its file
    actions — a big-table commit carries tens of thousands of add lines
    and history()/timestamp lookups only need the one commitInfo line
    (writers, including this engine and delta-spark, emit it first, so
    the typical cost is parsing a single line). Returns None when the
    commit has no commitInfo. Raises FileNotFoundError like
    read_commit_actions."""
    path = commit_file(table_path, version)
    with open(path, encoding="utf-8") as f:
        for line in f:
            if '"commitInfo"' not in line:
                continue  # cheap substring scan before any JSON parse
            a = parse_action(line.strip())
            if isinstance(a, CommitInfo):
                return a
    return None


# ---------------------------------------------------------------------------
# Checkpoint parquet (protocol-shaped: one action per row, one struct
# column per action kind; partitionValues as map<string,string>, stats as
# the protocol's JSON string).
# ---------------------------------------------------------------------------

_DV_STRUCT = pa.struct(
    [
        pa.field("storageType", pa.string()),
        pa.field("pathOrInlineDv", pa.string()),
        pa.field("offset", pa.int32()),
        pa.field("sizeInBytes", pa.int32()),
        pa.field("cardinality", pa.int64()),
    ]
)

_CP_SCHEMA = pa.schema(
    [
        pa.field(
            "add",
            pa.struct(
                [
                    pa.field("path", pa.string()),
                    pa.field("partitionValues", pa.map_(pa.string(), pa.string())),
                    pa.field("size", pa.int64()),
                    pa.field("modificationTime", pa.int64()),
                    pa.field("dataChange", pa.bool_()),
                    pa.field("stats", pa.string()),
                    pa.field("tags", pa.map_(pa.string(), pa.string())),
                    pa.field("deletionVector", _DV_STRUCT),
                    pa.field("baseRowId", pa.int64()),
                    pa.field("defaultRowCommitVersion", pa.int64()),
                    pa.field("clusteringProvider", pa.string()),
                ]
            ),
        ),
        pa.field(
            "remove",
            pa.struct(
                [
                    pa.field("path", pa.string()),
                    pa.field("deletionTimestamp", pa.int64()),
                    pa.field("dataChange", pa.bool_()),
                    pa.field("extendedFileMetadata", pa.bool_()),
                    pa.field("partitionValues", pa.map_(pa.string(), pa.string())),
                    pa.field("size", pa.int64()),
                    # retired (path, DV) pairing — vacuum reclaims the
                    # superseded sidecar from this after a checkpoint
                    pa.field("deletionVector", _DV_STRUCT),
                ]
            ),
        ),
        pa.field(
            "metaData",
            pa.struct(
                [
                    pa.field("id", pa.string()),
                    pa.field("name", pa.string()),
                    pa.field("description", pa.string()),
                    pa.field(
                        "format",
                        pa.struct(
                            [
                                pa.field("provider", pa.string()),
                                pa.field("options", pa.map_(pa.string(), pa.string())),
                            ]
                        ),
                    ),
                    pa.field("schemaString", pa.string()),
                    pa.field("partitionColumns", pa.list_(pa.string())),
                    pa.field("configuration", pa.map_(pa.string(), pa.string())),
                    pa.field("createdTime", pa.int64()),
                ]
            ),
        ),
        pa.field(
            "protocol",
            pa.struct(
                [
                    pa.field("minReaderVersion", pa.int32()),
                    pa.field("minWriterVersion", pa.int32()),
                    pa.field("readerFeatures", pa.list_(pa.string())),
                    pa.field("writerFeatures", pa.list_(pa.string())),
                ]
            ),
        ),
        pa.field(
            "txn",
            pa.struct(
                [
                    pa.field("appId", pa.string()),
                    pa.field("version", pa.int64()),
                    pa.field("lastUpdated", pa.int64()),
                ]
            ),
        ),
        pa.field(
            "domainMetadata",
            pa.struct(
                [
                    pa.field("domain", pa.string()),
                    pa.field("configuration", pa.string()),
                    pa.field("removed", pa.bool_()),
                ]
            ),
        ),
    ]
)


# Sidecar parquet files hold ONLY file actions (PROTOCOL.md V2 spec)
_SIDECAR_FILE_SCHEMA = pa.schema([_CP_SCHEMA.field("add"), _CP_SCHEMA.field("remove")])
# V2 top-level checkpoint: the classic action structs plus the two
# V2-only self-description actions
_CP_SCHEMA_V2 = pa.schema(
    list(_CP_SCHEMA)
    + [
        pa.field(
            "sidecar",
            pa.struct(
                [
                    pa.field("path", pa.string()),
                    pa.field("sizeInBytes", pa.int64()),
                    pa.field("modificationTime", pa.int64()),
                ]
            ),
        ),
        pa.field(
            "checkpointMetadata",
            pa.struct(
                [
                    pa.field("version", pa.int64()),
                    pa.field("tags", pa.map_(pa.string(), pa.string())),
                ]
            ),
        ),
    ]
)

# Default file-action count per V2 sidecar file. At 100 TB a snapshot
# holds millions of add actions; one classic checkpoint parquet is a
# serial write AND a serial read on every cold snapshot load — sidecars
# cap each file and let both sides parallelize (the reference's kernel
# reads sidecars concurrently; our read path consumes them per-file).
SIDECAR_TARGET_ACTIONS = 100_000


def write_checkpoint(
    table_path: str,
    snapshot: "Snapshot",
    v2: bool = False,
    sidecar_target_actions: int = SIDECAR_TARGET_ACTIONS,
) -> str:
    """Write a parquet checkpoint of the snapshot state + _last_checkpoint.

    Uses the protocol's typed nested structs (one action per row, one
    struct column per action kind) so external Delta readers — including
    the reference, crates/core/src/protocol/checkpoints.rs — can consume
    it: metaData/protocol are real structs (schemaString,
    partitionColumns, configuration, minReaderVersion, ...), remove
    carries extendedFileMetadata/partitionValues/size.

    ``v2=True`` writes a V2 spec checkpoint (PROTOCOL.md "V2 spec
    checkpoints"; read_checkpoint expands the sidecars): file actions split across
    ≤``sidecar_target_actions``-row parquet sidecars under
    ``_delta_log/_sidecars/``, the UUID-named top-level checkpoint
    carries protocol/metaData/txn/domainMetadata + the sidecar pointers
    + a checkpointMetadata self-description. Requires the
    ``v2Checkpoint`` reader-writer table feature (spec: only readers
    that understand sidecars may see a UUID-named checkpoint).
    """
    rows: list[dict[str, Any]] = []
    if snapshot.protocol:
        p = snapshot.protocol
        rows.append(
            {
                "protocol": {
                    "minReaderVersion": p.min_reader_version,
                    "minWriterVersion": p.min_writer_version,
                    "readerFeatures": p.reader_features,
                    "writerFeatures": p.writer_features,
                }
            }
        )
    if snapshot.metadata:
        m = snapshot.metadata
        rows.append(
            {
                "metaData": {
                    "id": m.id,
                    "name": m.name,
                    "description": m.description,
                    "format": {"provider": "parquet", "options": []},
                    "schemaString": m.schema_string,
                    "partitionColumns": m.partition_columns,
                    "configuration": list((m.configuration or {}).items()),
                    "createdTime": m.created_time,
                }
            }
        )
    for app_id, txn in snapshot.txns.items():
        rows.append({"txn": {"appId": app_id, "version": txn.version, "lastUpdated": txn.last_updated}})
    for dm in snapshot.domain_metadata.values():
        rows.append(
            {
                "domainMetadata": {
                    "domain": dm.domain,
                    "configuration": dm.configuration,
                    "removed": dm.removed,
                }
            }
        )
    # file actions are built COLUMNAR (flat per-field arrays, removes
    # before adds) — at millions of adds the per-row nested-dict path
    # (from_pylist) was ~90% of checkpoint write time
    file_table = _file_actions_arrow(snapshot)
    n_files = file_table.num_rows
    if not v2:
        top = pa.Table.from_pylist(rows, schema=_CP_SCHEMA)
        full_file = pa.table(
            {
                f.name: (
                    file_table.column(f.name)
                    if f.name in ("add", "remove")
                    else pa.nulls(n_files, type=f.type)
                )
                for f in _CP_SCHEMA
            },
            schema=_CP_SCHEMA,
        )
        table = pa.concat_tables([top, full_file])
        path = checkpoint_file(table_path, snapshot.version)
        pq.write_table(table, path)
        with open(os.path.join(log_dir(table_path), "_last_checkpoint"), "w") as f:
            json.dump({"version": snapshot.version, "size": len(rows) + n_files}, f)
        return path

    from delta_rs_spark.log.commit import DeltaError

    proto = snapshot.protocol
    if proto is None or "v2Checkpoint" not in (proto.reader_features or []):
        raise DeltaError(
            "v2 checkpoints require the 'v2Checkpoint' table feature "
            "(dt.alter.add_feature('v2Checkpoint')) — a UUID-named "
            "checkpoint would be invisible to readers without it"
        )
    import uuid

    sidecar_dir = os.path.join(log_dir(table_path), "_sidecars")
    os.makedirs(sidecar_dir, exist_ok=True)
    chunk = max(1, int(sidecar_target_actions))
    n_actions = len(rows) + n_files

    # each sidecar is a ZERO-COPY slice of the columnar file table,
    # written by a thread pool (parquet encode releases the GIL);
    # pointer order stays slice order so removes still precede adds
    def _write_sidecar(i: int) -> dict:
        sc_name = f"{uuid.uuid4()}.parquet"
        sc_path = os.path.join(sidecar_dir, sc_name)
        pq.write_table(file_table.slice(i, chunk), sc_path)
        st = os.stat(sc_path)
        return {
            "sidecar": {
                "path": sc_name,
                "sizeInBytes": st.st_size,
                "modificationTime": int(st.st_mtime * 1000),
            }
        }

    starts = list(range(0, n_files, chunk))
    if len(starts) > 1:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(
            max_workers=min(16, (os.cpu_count() or 4), len(starts))
        ) as ex:
            rows.extend(ex.map(_write_sidecar, starts))
    else:
        rows.extend(_write_sidecar(i) for i in starts)
    rows.insert(0, {"checkpointMetadata": {"version": snapshot.version, "tags": []}})
    table = pa.Table.from_pylist(rows, schema=_CP_SCHEMA_V2)
    path = os.path.join(
        log_dir(table_path),
        f"{snapshot.version:020d}.checkpoint.{uuid.uuid4()}.parquet",
    )
    pq.write_table(table, path)
    with open(os.path.join(log_dir(table_path), "_last_checkpoint"), "w") as f:
        # size counts the LOGICAL actions (file actions live in
        # sidecars); _validate_log skips the local-row-count cross-check
        # when the checkpoint self-describes as V2
        json.dump({"version": snapshot.version, "size": n_actions}, f)
    return path


def _file_actions_arrow(snapshot: "Snapshot"):
    """The snapshot's file actions as a columnar (add, remove) table —
    removes FIRST (a DV-churned path appears as both a tombstone and a
    live add; the path-keyed replay needs the add to win), schema
    ``_SIDECAR_FILE_SCHEMA``. Built from flat per-field arrays: the
    per-row nested-dict path (Table.from_pylist) was ~90% of checkpoint
    write time at 100k+ adds."""
    rm_type = _SIDECAR_FILE_SCHEMA.field("remove").type
    add_type = _SIDECAR_FILE_SCHEMA.field("add").type
    removes = snapshot.tombstones
    adds = list(snapshot.files.values())

    def _dv_struct(objs: list) -> pa.StructArray:
        mask = pa.array([o is None for o in objs], type=pa.bool_())
        return pa.StructArray.from_arrays(
            [
                pa.array([(o or {}).get(f.name) for o in objs], type=f.type)
                for f in _DV_STRUCT
            ],
            fields=list(_DV_STRUCT),
            mask=mask,
        )

    def _struct(typ, columns: dict, n: int) -> pa.StructArray:
        return pa.StructArray.from_arrays(
            [
                columns[f.name]
                if isinstance(columns.get(f.name), pa.Array)
                else pa.array(columns.get(f.name, [None] * n), type=f.type)
                for f in typ
            ],
            fields=list(typ),
        )

    n_r, n_a = len(removes), len(adds)
    rm_struct = _struct(
        rm_type,
        {
            "path": [r.path for r in removes],
            "deletionTimestamp": [r.deletion_timestamp for r in removes],
            "dataChange": [r.data_change for r in removes],
            "extendedFileMetadata": [
                r.partition_values is not None for r in removes
            ],
            "partitionValues": [
                list(r.partition_values.items())
                if r.partition_values is not None
                else None
                for r in removes
            ],
            "size": [r.size for r in removes],
            "deletionVector": _dv_struct([r.deletion_vector for r in removes]),
        },
        n_r,
    )
    add_struct = _struct(
        add_type,
        {
            "path": [a.path for a in adds],
            "partitionValues": [
                list((a.partition_values or {}).items()) for a in adds
            ],
            "size": [a.size for a in adds],
            "modificationTime": [a.modification_time for a in adds],
            "dataChange": [False] * n_a,
            "stats": [a.stats for a in adds],
            "tags": [list(a.tags.items()) if a.tags else None for a in adds],
            "deletionVector": _dv_struct([a.deletion_vector for a in adds]),
            "baseRowId": [a.base_row_id for a in adds],
            "defaultRowCommitVersion": [
                a.default_row_commit_version for a in adds
            ],
            "clusteringProvider": [a.clustering_provider for a in adds],
        },
        n_a,
    )
    rm_part = pa.table(
        {"add": pa.nulls(n_r, type=add_type), "remove": rm_struct},
        schema=_SIDECAR_FILE_SCHEMA,
    )
    add_part = pa.table(
        {"add": add_struct, "remove": pa.nulls(n_a, type=rm_type)},
        schema=_SIDECAR_FILE_SCHEMA,
    )
    return pa.concat_tables([rm_part, add_part]).combine_chunks()


def _dv_dict(raw: dict | None) -> dict[str, Any] | None:
    if not raw or raw.get("storageType") is None:
        return None
    return {k: v for k, v in raw.items() if v is not None}


def read_checkpoint(table_path: str, version: int) -> list[Action]:
    """All actions of the checkpoint at ``version``. V2 sidecar pointers
    are expanded here — fetched with a thread pool (parquet read +
    decompression release the GIL, so the bounded sidecar layout the
    write side ships is actually consumed in parallel; the reference's
    kernel replays checkpoints the same way,
    crates/core/src/kernel/snapshot/stream.rs) and their add/remove
    payload extracted columnar, never as per-row nested dicts. JSON
    top-level V2 checkpoints (delta-spark's checkpointPolicy=v2 output)
    parse line-wise; their sidecars are parquet and expand the same."""
    cp = find_checkpoint_file(table_path, version)
    if cp.endswith(".json"):
        actions = _read_actions(cp)
    else:
        actions = _actions_from_arrow(pq.read_table(cp))
    sidecars = [a for a in actions if isinstance(a, Sidecar)]
    if not sidecars:
        return actions
    out = [a for a in actions if not isinstance(a, Sidecar)]
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(
        max_workers=min(16, (os.cpu_count() or 4), len(sidecars))
    ) as ex:
        for part in ex.map(
            lambda s: read_sidecar_actions(table_path, s.path), sidecars
        ):
            out.extend(part)
    return out


def read_sidecar_actions(table_path: str, sidecar_path: str) -> list[Action]:
    """File actions from a V2-checkpoint sidecar parquet. The path field
    is a file name under _delta_log/_sidecars/ (or an absolute URI)."""
    p = sidecar_path.removeprefix("file://")
    if not os.path.isabs(p):
        p = os.path.join(log_dir(table_path), "_sidecars", p)
    return _actions_from_arrow(pq.read_table(p))


def _actions_from_arrow(table) -> list[Action]:
    """Actions from a checkpoint/sidecar parquet table. The add/remove
    struct columns — millions of rows at 100 TB — are decoded columnar
    (flat per-field arrays, one pass); only the handful of rows carrying
    the OTHER action kinds (protocol/metaData/txn/...) go through the
    per-row dict parser."""
    names = set(table.schema.names)
    # removes BEFORE adds: a DV-churned path appears as both a tombstone
    # (old DV) and a live add (new DV) in the same checkpoint, and the
    # path-keyed replay must let the add win — the writer guarantees the
    # same order row-wise (write_checkpoint emits removes first)
    file_cols = [c for c in ("remove", "add") if c in names]
    other_cols = [c for c in table.schema.names if c not in ("add", "remove")]
    actions: list[Action] = []
    if other_cols:
        rest = table.select(other_cols)
        # prune to rows where at least one non-file action is set —
        # sidecars have none, classic checkpoints have a handful
        import pyarrow.compute as pc

        mask = None
        for c in other_cols:
            v = pc.is_valid(rest.column(c))
            mask = v if mask is None else pc.or_(mask, v)
        rest = rest.filter(mask)
        if rest.num_rows:
            actions.extend(_actions_from_parquet_rows(rest.to_pylist()))
    for col in file_cols:
        arr = table.column(col).combine_chunks()
        if arr.null_count == len(arr):
            continue
        have = {f.name for f in arr.type}
        nulls = [None] * len(arr)
        empties = [[]] * len(arr)

        def f(name):
            if name not in have:
                return nulls
            a = arr.field(name)
            # all-null (no DVs, no tags, no row tracking) and all-empty
            # (unpartitioned tables' partitionValues) columns dominate
            # real checkpoints — skip their per-row materialization
            if a.null_count == len(a):
                return nulls
            if pa.types.is_map(a.type) and a.null_count == 0 and len(a.values) == 0:
                return empties
            return a.to_pylist()

        paths = f("path")
        if col == "add":
            sizes, mtimes = f("size"), f("modificationTime")
            pvs, stats, tags = f("partitionValues"), f("stats"), f("tags")
            dvs, brids, drcvs, cprov = (
                f("deletionVector"),
                f("baseRowId"),
                f("defaultRowCommitVersion"),
                f("clusteringProvider"),
            )
            for i, p in enumerate(paths):
                if p is None:
                    continue
                actions.append(
                    Add(
                        path=p,
                        size=sizes[i] or 0,
                        modification_time=mtimes[i] or 0,
                        data_change=False,
                        partition_values=dict(pvs[i] or []),
                        stats=stats[i],
                        tags=dict(tags[i]) if tags[i] else None,
                        deletion_vector=_dv_dict(dvs[i]),
                        base_row_id=brids[i],
                        default_row_commit_version=drcvs[i],
                        clustering_provider=cprov[i],
                    )
                )
        else:
            dts, dcs = f("deletionTimestamp"), f("dataChange")
            pvs, sizes, dvs = f("partitionValues"), f("size"), f("deletionVector")
            for i, p in enumerate(paths):
                if p is None:
                    continue
                actions.append(
                    Remove(
                        p,
                        dts[i] or 0,
                        dcs[i] if dcs[i] is not None else True,
                        partition_values=(
                            dict(pvs[i]) if pvs[i] is not None else None
                        ),
                        size=sizes[i],
                        deletion_vector=_dv_dict(dvs[i]),
                    )
                )
    return actions


def _actions_from_parquet_rows(rows: list[dict]) -> list[Action]:
    """The non-file actions of checkpoint rows (file actions decode
    columnar in _actions_from_arrow)."""
    actions: list[Action] = []
    for row in rows:
        proto = row.get("protocol")
        meta = row.get("metaData")
        if proto and proto.get("minReaderVersion") is not None:
            actions.append(
                Protocol(
                    proto["minReaderVersion"],
                    proto.get("minWriterVersion") or 2,
                    proto.get("readerFeatures"),
                    proto.get("writerFeatures"),
                )
            )
        elif meta and meta.get("schemaString"):
            actions.append(
                Metadata(
                    schema_string=meta["schemaString"],
                    partition_columns=list(meta.get("partitionColumns") or []),
                    configuration=dict(meta.get("configuration") or []),
                    id=meta.get("id") or "",
                    name=meta.get("name"),
                    description=meta.get("description"),
                    created_time=meta.get("createdTime") or 0,
                )
            )
        elif row.get("txn") and row["txn"].get("appId") is not None:
            t = row["txn"]
            actions.append(Txn(t["appId"], t["version"], t.get("lastUpdated") or 0))
        elif row.get("domainMetadata") and row["domainMetadata"].get("domain"):
            actions.append(DomainMetadata.from_json(row["domainMetadata"]))
        elif row.get("sidecar") and row["sidecar"].get("path"):
            actions.append(Sidecar.from_json(row["sidecar"]))
        elif row.get("checkpointMetadata") and row["checkpointMetadata"].get("version") is not None:
            actions.append(CheckpointMetadata.from_json(row["checkpointMetadata"]))
    return actions


# ---------------------------------------------------------------------------
# Snapshot
# ---------------------------------------------------------------------------


@dataclass
class Snapshot:
    table_path: str
    version: int = -1
    protocol: Protocol | None = None
    metadata: Metadata | None = None
    files: dict[str, Add] = field(default_factory=dict)
    tombstones: list[Remove] = field(default_factory=list)
    txns: dict[str, Txn] = field(default_factory=dict)
    domain_metadata: dict[str, DomainMetadata] = field(default_factory=dict)

    def apply(self, action: Action) -> None:
        if isinstance(action, Protocol):
            self.protocol = action
        elif isinstance(action, Metadata):
            self.metadata = action
        elif isinstance(action, Add):
            self.files[action.path] = action
        elif isinstance(action, Remove):
            self.files.pop(action.path, None)
            self.tombstones.append(action)
        elif isinstance(action, Txn):
            self.txns[action.app_id] = action
        elif isinstance(action, DomainMetadata):
            # latest per domain wins; removed tombstones (actions.rs:1128)
            if action.removed:
                self.domain_metadata.pop(action.domain, None)
            else:
                self.domain_metadata[action.domain] = action

    @property
    def schema_string(self) -> str:
        if self.metadata is None:
            raise ValueError(f"no metadata in log at {self.table_path}")
        return self.metadata.schema_string

    @property
    def partition_columns(self) -> list[str]:
        return self.metadata.partition_columns if self.metadata else []

    @property
    def configuration(self) -> dict[str, str]:
        return self.metadata.configuration if self.metadata else {}

    def num_records(self) -> int | None:
        """Metadata-only row count when every file carries stats
        (reference: python/deltalake/table.py:584-605). Files with a
        deletion vector contribute physical rows minus DV cardinality."""
        total = 0
        for add in self.files.values():
            n = add.num_records()
            if n is None:
                return None
            total += n
            if add.deletion_vector:
                total -= int(add.deletion_vector.get("cardinality") or 0)
        return total


def _read_last_checkpoint(table_path: str) -> dict | None:
    """The _last_checkpoint HINT. An unreadable file degrades to listing
    (it is only a hint); a readable hint that contradicts the log is
    corruption and is surfaced by _validate_log."""
    p = os.path.join(log_dir(table_path), "_last_checkpoint")
    try:
        with open(p, encoding="utf-8") as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def _validate_log(
    table_path: str,
    commits: list[int],
    checkpoints: list[int],
    compacted: dict[int, int],
) -> None:
    """Structural log validation (reference: delta-kernel LogSegment
    rules, exercised by crates/core/tests/it/exotic_tables.rs):

    * commit versions at or above the oldest checkpoint must be
      contiguous — metadata cleanup only ever removes a PREFIX below a
      checkpoint, so a hole above one means a lost commit;
    * without any checkpoint, commits must start at 0 and be contiguous;
    * a readable _last_checkpoint must point at an existing checkpoint.

    The _last_checkpoint ``size`` field is a HINT, never validated:
    real engines write it loosely — in the reference's own corpus,
    latest_not_checkpointed declares 1 vs 4 actual actions,
    table_failed_last_checkpoint_update 6 vs 4 (a stale failed update
    the reader must tolerate by design), and checkpoint_with_partitions
    wrote the BYTE size (15330) into it. The err-log corpus tables that
    carry size mismatches (table_d/e/f) are all rejected for their
    catalogOwned reader feature, not the size field — kernel parity
    holds without the cross-check.
    """
    from delta_rs_spark.log.commit import DeltaError

    covered: set[int] = set()
    for s, e in compacted.items():
        covered.update(range(s, e + 1))
    floor = min(checkpoints) if checkpoints else 0
    if not checkpoints and commits and commits[0] != 0 and not (0 in covered):
        raise DeltaError(
            f"log starts at version {commits[0]} with no checkpoint — "
            "table state is unrecoverable"
        )
    present = set(commits) | covered | set(checkpoints)
    upper = max(present) if present else -1
    for v in range(floor, upper + 1):
        if v not in present:
            raise DeltaError(
                f"missing commit version {v} in _delta_log (versions above "
                "a checkpoint must be contiguous)"
            )
    lc = _read_last_checkpoint(table_path)
    if lc is not None and "version" in lc:
        lc_v = int(lc["version"])
        if lc.get("parts") is not None:
            raise DeltaError("multi-part checkpoints are not supported")
        if lc_v not in checkpoints:
            raise DeltaError(
                f"_last_checkpoint points at version {lc_v} but no such "
                "checkpoint file exists"
            )


# ---------------------------------------------------------------------------
# Replay and the snapshot cache. A snapshot at version N is a base
# snapshot advanced by replay() through N: the base is a cached snapshot
# below N, else the newest checkpoint at or below N, else an empty
# snapshot. DeltaTable.update_incremental advances its own snapshot with
# the same replay(); load_cdf walks its version range one commit at a
# time because it needs each commit's actions, not only the state.
#
# The cache is a process-local memo of replayed snapshots. A Delta log is
# immutable once written — a commit file's content at a given (path,
# version) never changes — so a replayed snapshot can be reused for the
# process's lifetime, and a later version replays only the commits past
# the newest cached one. Without it, every operator in a commit SEQUENCE
# (write -> delete -> update -> merge) plus every post-commit hook
# re-replayed the whole log per step: O(versions^2) replay work per
# sequence, and at 100 TB (millions of add actions per checkpoint) an
# O(files) re-parse per hook invocation.
#
# Safety:
# * entries are validated by the stat identity (inode, mtime_ns, size)
#   of the newest log file the replay consumed — a table that is
#   rmtree'd and recreated at the same path (scratch fixtures) writes a
#   fresh commit file and misses the cache;
# * a cached base whose tail commit is gone (metadata cleanup) falls
#   back to the checkpoint base;
# * the cache stores a pristine instance and hands out shallow
#   per-container copies, so callers that advance their snapshot
#   (update_incremental, load_cdf) never mutate the cached state; Action
#   objects are treated as immutable engine-wide (mutators copy before
#   writing);
# * cross-process writers only ever ADD log files, which changes the
#   resolved target version, never a cached version's content.
_SNAP_CACHE_MAX = 16
_snap_cache: dict[tuple[str, int], tuple[tuple, "Snapshot"]] = {}


def _copy_snapshot(snap: "Snapshot", table_path: str | None = None) -> "Snapshot":
    return Snapshot(
        table_path=table_path if table_path is not None else snap.table_path,
        version=snap.version,
        protocol=snap.protocol,
        metadata=snap.metadata,
        files=dict(snap.files),
        tombstones=list(snap.tombstones),
        txns=dict(snap.txns),
        domain_metadata=dict(snap.domain_metadata),
    )


def _anchor_fingerprint(
    table_path: str,
    version: int,
    commit_set: set[int],
    checkpoints: list[int],
    compacted: dict[int, int],
) -> tuple | None:
    """Stat identity of the newest log file a replay to ``version``
    consumes; None when no single anchor file exists (bypass cache)."""
    if version in commit_set:
        p = commit_file(table_path, version)
    elif version in checkpoints:
        try:
            p = find_checkpoint_file(table_path, version)
        except FileNotFoundError:
            return None
    else:
        ends = [(s, e) for s, e in compacted.items() if e == version]
        if not ends:
            return None
        p = compacted_file(table_path, *max(ends))
    try:
        st = os.stat(p)
    except OSError:
        return None
    return (p, st.st_ino, st.st_mtime_ns, st.st_size)


def _cache_put(key: tuple[str, int], fp: tuple, snap: "Snapshot") -> None:
    if len(_snap_cache) >= _SNAP_CACHE_MAX:
        # evict the oldest-version entries first (they are the least
        # likely to seed an incremental load); ties broken arbitrarily
        for old in sorted(_snap_cache, key=lambda k: k[1])[
            : max(1, _SNAP_CACHE_MAX // 4)
        ]:
            _snap_cache.pop(old, None)
    _snap_cache[key] = (fp, snap)


def clear_snapshot_cache() -> None:
    _snap_cache.clear()


def replay(snap: Snapshot, target: int, compacted: dict[int, int]) -> Snapshot:
    """Advance ``snap`` in place from its version to ``target``. At each
    version a compacted range (``list_compacted``) that starts there and
    ends at or below ``target`` is applied whole (reference:
    protocol/log_compaction.rs read path); otherwise the version's
    commit. Raises FileNotFoundError when a needed commit file is gone."""
    v = snap.version + 1
    while v <= target:
        end = compacted.get(v)
        if end is not None and end <= target:
            actions = _read_actions(compacted_file(snap.table_path, v, end))
        else:
            end = v
            actions = read_commit_actions(snap.table_path, v)
        for a in actions:
            snap.apply(a)
        snap.version = end
        v = end + 1
    return snap


def _cached_base(
    key_path: str,
    target: int,
    commit_set: set[int],
    checkpoints: list[int],
    compacted: dict[int, int],
) -> Snapshot | None:
    """A copy of the newest cached snapshot of this table below
    ``target`` whose anchor file is unchanged (a recreated table or a
    cleaned log invalidates it)."""
    for (p, v0), (fp0, base) in sorted(_snap_cache.items(), key=lambda kv: -kv[0][1]):
        if p != key_path or v0 >= target:
            continue
        if _anchor_fingerprint(key_path, v0, commit_set, checkpoints, compacted) == fp0:
            return _copy_snapshot(base)
    return None


def load_snapshot(table_path: str, version: int | None = None) -> Snapshot:
    """The table state at ``version`` (default: the latest). A cached
    snapshot at exactly that version is returned as a copy; otherwise
    replay() advances a base to it — the newest valid cached snapshot
    below the version, else the newest checkpoint at or below it, else
    an empty snapshot. A cached base whose tail lost a commit falls back
    to the checkpoint base; a checkpoint base whose tail lost a commit
    raises FileNotFoundError."""
    commits, checkpoints = list_log(table_path)
    compacted = list_compacted(table_path)
    if not commits and not checkpoints and not compacted:
        from delta_rs_spark.log.commit import TableNotFoundError

        raise TableNotFoundError(f"not a Delta table (no _delta_log): {table_path}")
    _validate_log(table_path, commits, checkpoints, compacted)
    max_v = max(commits + checkpoints + list(compacted.values()))
    target = max_v if version is None else version
    if version is not None and version > max_v:
        raise ValueError(f"version {version} > latest {max_v}")

    key_path = os.path.abspath(table_path)
    commit_set = set(commits)
    fp = _anchor_fingerprint(key_path, target, commit_set, checkpoints, compacted)
    snap = None
    if fp is not None:
        hit = _snap_cache.get((key_path, target))
        if hit is not None and hit[0] == fp:
            return _copy_snapshot(hit[1], table_path)
        base = _cached_base(key_path, target, commit_set, checkpoints, compacted)
        if base is not None:
            try:
                snap = replay(base, target, compacted)
            except FileNotFoundError:
                pass  # a tail commit was cleaned up: checkpoint base below
    if snap is None:
        snap = Snapshot(table_path=table_path)
        usable_cp = [v for v in checkpoints if v <= target]
        if usable_cp:
            snap.version = max(usable_cp)
            for a in read_checkpoint(table_path, snap.version):
                snap.apply(a)
        replay(snap, target, compacted)
    if fp is None:
        return snap
    _cache_put((key_path, target), fp, snap)
    return _copy_snapshot(snap, table_path)


def commit_timestamp(
    table_path: str, version: int, info: CommitInfo | None = None
) -> int | None:
    """The commit's timestamp in ms: its commitInfo's inCommitTimestamp
    when it carries one (the table's own monotonic clock, PROTOCOL.md
    "In-Commit Timestamps"), else commitInfo.timestamp, else the commit
    file's mtime. ``info`` is the commit's CommitInfo when the caller
    has parsed it already. None when the commit file is gone."""
    try:
        if info is None:
            info = read_commit_info(table_path, version)
        if info is not None:
            ts = info.extra.get("inCommitTimestamp") or info.timestamp
            if ts:
                return int(ts)
        return int(os.path.getmtime(commit_file(table_path, version)) * 1000)
    except FileNotFoundError:
        return None


def version_at_timestamp(table_path: str, ts_ms: int) -> int:
    """Latest version whose commit timestamp <= ts_ms; a timestamp
    before the first commit clamps to the EARLIEST available version
    (reference: table/mod.rs:375 load_with_datetime — its time-travel
    test requests a pre-table timestamp and expects version 0).

    Mid-life ICT enablement (PROTOCOL.md): commits before
    inCommitTimestampEnablementVersion tick on the pre-ICT clock
    (CommitInfo timestamp / file mtime) and commits at-or-after it on
    the ICT clock; the two regimes are searched separately so a
    pre-enablement wall clock running ahead of the ICT clock cannot
    shadow post-enablement versions (or vice versa)."""
    commits, _ = list_log(table_path)
    enable_v: int | None = None
    enable_ts: int | None = None
    seen: list[tuple[int, int]] = []  # (version, commit timestamp)
    for v in commits:
        try:
            # commitInfo + metaData lines only — never the add actions
            actions = read_commit_meta_actions(table_path, v)
        except FileNotFoundError:
            actions = []
        for a in actions:
            if isinstance(a, Metadata):
                cfg = a.configuration or {}
                if "delta.inCommitTimestampEnablementVersion" in cfg:
                    enable_v = int(cfg["delta.inCommitTimestampEnablementVersion"])
                    enable_ts = int(
                        cfg.get("delta.inCommitTimestampEnablementTimestamp", 0)
                    )
        info = next((a for a in actions if isinstance(a, CommitInfo)), None)
        cts = commit_timestamp(table_path, v, info)
        if cts is None:
            continue  # cleaned up mid-listing: not addressable by time
        seen.append((v, cts))
    if enable_v is not None and enable_ts is not None:
        if ts_ms >= enable_ts:
            pool = [(v, t) for v, t in seen if v >= enable_v]
        else:
            pool = [(v, t) for v, t in seen if v < enable_v]
            if not pool:  # ts before enablement on a truncated log
                pool = seen
    else:
        pool = seen
    best = None
    for v, cts in pool:
        if cts <= ts_ms:
            best = v
    if best is None:
        if pool:
            return pool[0][0]
        if commits:
            return commits[0]
        raise ValueError(f"no version at or before timestamp {ts_ms}")
    return best
