"""RESTORE — reset the table to a prior version/timestamp.

(reference: crates/core/src/operations/restore.rs:162 execute; flags
:137-143; python/deltalake/table.py:896-934)

Re-adds files that were live at the target version and removes files
added since; metadata (schema/config) is restored too. Files must still
exist on disk unless ``ignore_missing_files=True`` (pre-vacuum).
"""

from __future__ import annotations

import datetime as dt
import os
from typing import Any

from delta_rs_spark.log import commit as commit_mod
from delta_rs_spark.log import snapshot as snap_mod
from delta_rs_spark.log.actions import CommitInfo, now_ms
from delta_rs_spark.log.commit import DeltaError, TransactionInfo
from delta_rs_spark.operators.util import resolve_add_path


def restore(
    table_path: str,
    target: int | str | dt.datetime,
    ignore_missing_files: bool = False,
    protocol_downgrade_allowed: bool = False,
    commit_properties=None,
    post_commithook_properties=None,
) -> dict[str, Any]:
    current = snap_mod.load_snapshot(table_path)
    if isinstance(target, str):
        from delta_rs_spark.operators.util import parse_rfc3339

        target = parse_rfc3339(target)
    if isinstance(target, dt.datetime):
        version = snap_mod.version_at_timestamp(table_path, int(target.timestamp() * 1000))
    else:
        version = int(target)
    if version >= current.version:
        raise DeltaError(
            f"restore target {version} is not older than current {current.version}"
        )
    old = snap_mod.load_snapshot(table_path, version)

    missing = [
        a.path
        for a in old.files.values()
        if not os.path.exists(resolve_add_path(table_path, a.path))
    ]
    if missing and not ignore_missing_files:
        raise DeltaError(f"{len(missing)} files of version {version} are missing (vacuumed?)")

    ts = now_ms()
    re_adds: list = []
    removes: list = []
    restored = 0
    for path, add in old.files.items():
        cur = current.files.get(path)
        # file identity under deletionVectors is (path, DV): a path whose
        # descriptor changed since the target version (a DV delete) must
        # be tombstoned at its current pairing and re-added at the old one
        if path in missing:
            continue
        if cur is None or cur.deletion_vector != add.deletion_vector:
            if cur is not None:
                removes.append(cur.remove(ts))
            add.data_change = True
            re_adds.append(add)
            restored += 1
    removed = 0
    for path, add in current.files.items():
        if path not in old.files:
            # carry the current DV descriptor so vacuum's dv_tombstoned
            # reclamation can retire the sidecar with the tombstone
            removes.append(add.remove(ts))
            removed += 1
    # removes first: same-path tombstone + re-add pairs replay in order
    actions: list = removes + re_adds
    if old.metadata and current.metadata and old.metadata.schema_string != current.metadata.schema_string:
        actions.append(old.metadata)
    # protocol restore (reference restore.rs:268-295): by default the
    # protocol never downgrades (max of old and current versions); with
    # protocol_downgrade_allowed the restored snapshot's protocol wins
    op_, cp_ = old.protocol, current.protocol
    if op_ and cp_ and (
        op_.min_reader_version != cp_.min_reader_version
        or op_.min_writer_version != cp_.min_writer_version
        or (op_.reader_features or []) != (cp_.reader_features or [])
        or (op_.writer_features or []) != (cp_.writer_features or [])
    ):
        from delta_rs_spark.log.actions import Protocol

        if protocol_downgrade_allowed:
            actions.append(op_)
        else:
            merged = Protocol(
                min_reader_version=max(op_.min_reader_version, cp_.min_reader_version),
                min_writer_version=max(op_.min_writer_version, cp_.min_writer_version),
                reader_features=sorted(
                    set(op_.reader_features or []) | set(cp_.reader_features or [])
                )
                or None,
                writer_features=sorted(
                    set(op_.writer_features or []) | set(cp_.writer_features or [])
                )
                or None,
            )
            actions.append(merged)

    metrics = {
        "numRestoredFiles": restored,
        "numRemovedFiles": removed,
        "numMissingFiles": len(missing),
    }
    op = CommitInfo("RESTORE", {"version": version}, operation_metrics=metrics)
    commit_mod.commit(
        table_path,
        actions,
        op,
        current.version,
        TransactionInfo(
            blind_append=False,
            read_whole_table=True,
        ),
        commit_properties=commit_properties,
        post_commit=post_commithook_properties,
    )
    return metrics
