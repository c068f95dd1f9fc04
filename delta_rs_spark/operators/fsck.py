"""FSCK / repair — drop add-actions whose files are missing on storage.

(reference: crates/core/src/operations/filesystem_check.rs; python
surface python/deltalake/table.py:1265-1316 ``dt.repair``)
"""

from __future__ import annotations

import os
from typing import Any

from delta_rs_spark.log import commit as commit_mod
from delta_rs_spark.log import snapshot as snap_mod
from delta_rs_spark.log.actions import CommitInfo, now_ms
from delta_rs_spark.log.commit import TransactionInfo
from delta_rs_spark.operators.util import resolve_add_path


def _dv_sidecar_missing(table_path: str, add) -> bool:
    """An add whose DV sidecar is gone is unreadable in its correct form
    (dropping just the descriptor would resurrect its deleted rows), so
    FSCK treats it like a missing data file."""
    dv = add.deletion_vector
    if not dv or dv.get("storageType") == "i":
        return False
    from delta_rs_spark.plans.deletion_vectors import dv_file_path

    p = (
        dv_file_path(table_path, dv["pathOrInlineDv"])
        if dv["storageType"] == "u"
        else resolve_add_path(table_path, dv["pathOrInlineDv"])
    )
    return not os.path.exists(p)


def repair(table_path: str, dry_run: bool = False) -> dict[str, Any]:
    snapshot = snap_mod.load_snapshot(table_path)
    ts = now_ms()
    missing = [
        add
        for add in snapshot.files.values()
        if not os.path.exists(resolve_add_path(table_path, add.path))
        or _dv_sidecar_missing(table_path, add)
    ]
    result = {
        "dry_run": dry_run,
        "files_removed": [a.path for a in missing],
    }
    if dry_run or not missing:
        return result
    removes = [a.remove(ts) for a in missing]
    op = CommitInfo(
        "FSCK",
        {"dryRun": dry_run},
        operation_metrics={"numRemovedFiles": len(removes)},
    )
    commit_mod.commit(
        table_path,
        removes,
        op,
        snapshot.version,
        TransactionInfo(blind_append=False, read_whole_table=True),
    )
    return result
