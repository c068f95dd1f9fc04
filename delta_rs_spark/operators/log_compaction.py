"""Log compaction — merge a commit range into one reconciled file.

(reference: crates/core/src/protocol/log_compaction.rs; python surface
``dt.compact_logs(start, end)`` in python/deltalake/table.py:1141-1158)

Writes ``<start>.<end>.compacted.json`` with the range's reconciled
actions (last Metadata/Protocol, surviving Adds, tombstones, latest Txn
per app, latest DomainMetadata per domain). Readers prefer the compacted file over replaying the
individual commits; the originals stay on disk for history() and
time travel until metadata cleanup removes them.
"""

from __future__ import annotations

import os

from delta_rs_spark.log import snapshot as snap_mod
from delta_rs_spark.log.actions import (
    Action,
    Add,
    AddCDCFile,
    CommitInfo,
    DomainMetadata,
    Metadata,
    Protocol,
    Remove,
    Txn,
    action_to_line,
)
from delta_rs_spark.log.commit import DeltaError


def compact_logs(table_path: str, start: int | None = None, end: int | None = None) -> str:
    commits, _ = snap_mod.list_log(table_path)
    if not commits:
        raise DeltaError(f"no commits to compact at {table_path}")
    start = commits[0] if start is None else start
    end = commits[-1] if end is None else end
    if start >= end:
        raise DeltaError(f"compaction range must span >1 commit: [{start}, {end}]")
    in_range = [v for v in commits if start <= v <= end]
    if not in_range or in_range[0] != start or in_range[-1] != end:
        raise DeltaError(f"commits missing inside range [{start}, {end}]")

    protocol: Protocol | None = None
    metadata: Metadata | None = None
    adds: dict[str, Add] = {}
    removes: dict[str, Remove] = {}
    txns: dict[str, Txn] = {}
    # latest per domain, removals included: replay applies them to the base
    domains: dict[str, DomainMetadata] = {}
    for v in in_range:
        for a in snap_mod.read_commit_actions(table_path, v):
            if isinstance(a, Protocol):
                protocol = a
            elif isinstance(a, Metadata):
                metadata = a
            elif isinstance(a, Add):
                adds[a.path] = a
                removes.pop(a.path, None)
            elif isinstance(a, Remove):
                if a.path in adds:
                    del adds[a.path]
                removes[a.path] = a
            elif isinstance(a, Txn):
                txns[a.app_id] = a
            elif isinstance(a, DomainMetadata):
                domains[a.domain] = a
            # CommitInfo/AddCDCFile are per-commit facts — not carried

    actions: list[Action] = []
    if protocol:
        actions.append(protocol)
    if metadata:
        actions.append(metadata)
    actions.extend(txns.values())
    actions.extend(domains.values())
    actions.extend(removes.values())
    actions.extend(adds.values())

    path = snap_mod.compacted_file(table_path, start, end)
    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        f.write("\n".join(action_to_line(a) for a in actions) + "\n")
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)
    return path
