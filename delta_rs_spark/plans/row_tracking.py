"""Row tracking (Delta PROTOCOL.md "Row Tracking"; reference model:
kernel actions.rs Add.base_row_id/default_row_commit_version).

Every add action on a row-tracking table carries ``baseRowId`` (fresh
row id of row i = baseRowId + i) and ``defaultRowCommitVersion``;
uniqueness comes from the table-wide high watermark stored in the
``delta.rowTracking`` domainMetadata (configuration JSON
``{"rowIdHighWaterMark": N}``), bumped atomically in the same commit
that allocates past it. STABLE ids survive rewrites through the two
materialized columns named by the table configuration
(``delta.rowTracking.materializedRowId/RowCommitVersionColumnName``):
a rewrite carries each surviving row's current id/version into those
hidden parquet columns (they are NOT part of the table schema), and a
reader computes

    row_id             = coalesce(materialized_id,  baseRowId + row_index)
    row_commit_version = coalesce(materialized_ver, defaultRowCommitVersion)

That computation is one scan: ``read_snapshot_df(..., keep_row_ids=True)``
binds each row's file key (Spark's raw ``_metadata.file_path``) and row
index, and fills both materialized columns (``fill_row_ids``, a literal
lookup of that key in the files' baseRowId map, keyed per file by
``operators.util.spark_file_uri``: no join, no per-row path parsing and
no job of its own). Every rewrite (DELETE, UPDATE, MERGE, OPTIMIZE, Z-ORDER, REORG)
reads its rows through it and writes them back, so ids survive; a row
the rewrite changes nulls its materialized version, which then falls
back to the rewriting commit's defaultRowCommitVersion.
``DeltaTable.to_df_with_row_ids`` is the same scan with the two columns
renamed.

Scale notes: allocation is O(adds) arithmetic on numRecords stats in
the commit path (no data IO, no snapshot rescan on the happy path — the
caller's snapshot supplies the watermark; OCC retries advance it from
the winning commits already being replayed for conflict checks).
Materialization costs one long column per rewrite output file — only
files a rewrite touches anyway."""

from __future__ import annotations

import json
import zlib
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, functions as F

if TYPE_CHECKING:
    from delta_rs_spark.log.actions import Add
    from delta_rs_spark.log.snapshot import Snapshot

DOMAIN = "delta.rowTracking"
ENABLE_KEY = "delta.enableRowTracking"
MAT_ID_KEY = "delta.rowTracking.materializedRowIdColumnName"
MAT_VER_KEY = "delta.rowTracking.materializedRowCommitVersionColumnName"

ROW_ID_COL = "_row_id"
ROW_VER_COL = "_row_commit_version"


def enabled(configuration: dict | None) -> bool:
    return (configuration or {}).get(ENABLE_KEY, "").lower() == "true"


def materialized_names(configuration: dict | None) -> tuple[str, str]:
    cfg = configuration or {}
    return (
        cfg.get(MAT_ID_KEY, "_row-id-col-unnamed"),
        cfg.get(MAT_VER_KEY, "_row-commit-version-col-unnamed"),
    )


def prepare_create(configuration: dict | None) -> dict | None:
    """Create-time enablement: when delta.enableRowTracking=true, assign
    the two materialized column names (uuid-suffixed per the delta-spark
    convention so they can never collide with user columns; frozen in
    the table configuration for its whole life)."""
    if not enabled(configuration):
        return configuration
    import uuid

    cfg = dict(configuration or {})
    cfg.setdefault(MAT_ID_KEY, f"_row-id-col-{uuid.uuid4()}")
    cfg.setdefault(MAT_VER_KEY, f"_row-commit-version-col-{uuid.uuid4()}")
    return cfg


def high_watermark(snapshot: "Snapshot") -> int:
    """Current rowIdHighWaterMark (-1 when never allocated). Guards
    against regression by also covering the live adds: a restore that
    reinstated an older domain value must never cause id reuse."""
    wm = -1
    dm = snapshot.domain_metadata.get(DOMAIN)
    if dm is not None:
        try:
            wm = int(json.loads(dm.configuration).get("rowIdHighWaterMark", -1))
        except (ValueError, TypeError):
            wm = -1
    for a in snapshot.files.values():
        if a.base_row_id is not None:
            n = a.num_records() or 0
            wm = max(wm, a.base_row_id + max(n - 1, 0))
    return wm


def watermark_action(watermark: int):
    from delta_rs_spark.log.actions import DomainMetadata

    return DomainMetadata(
        DOMAIN, json.dumps({"rowIdHighWaterMark": int(watermark)}), False
    )


def assign_base_row_ids(
    actions: list, watermark: int, commit_version: int
) -> tuple[list, int]:
    """Fresh copies of ``actions`` with every data Add allocated a
    baseRowId range above ``watermark`` (in action order) and stamped
    with ``commit_version``; appends the bumped-watermark domain action
    when anything was allocated. Adds that already carry a baseRowId
    (e.g. RESTORE re-adding historical files, clone-copied actions)
    keep it — their range is already below the watermark.

    Returns (new_actions, new_watermark). Raises when an Add lacks
    numRecords stats — allocation needs the row count."""
    import dataclasses

    from delta_rs_spark.log.actions import Add, DomainMetadata
    from delta_rs_spark.log.commit import DeltaError

    out = []
    wm = watermark
    allocated = False
    for a in actions:
        if isinstance(a, Add) and a.base_row_id is None:
            n = a.num_records()
            if n is None:
                raise DeltaError(
                    f"row tracking requires numRecords stats on every add "
                    f"(missing on {a.path})"
                )
            a = dataclasses.replace(
                a,
                base_row_id=wm + 1,
                default_row_commit_version=commit_version,
            )
            wm += max(int(n), 1)  # empty files still claim one id: bases stay unique
            allocated = True
        elif isinstance(a, Add) and a.default_row_commit_version is None:
            a = dataclasses.replace(a, default_row_commit_version=commit_version)
        out.append(a)
    if allocated:
        # ours supersedes any caller-provided copy (stale watermark must
        # not win the replay — DomainMetadata is latest-wins)
        out = [
            a
            for a in out
            if not (isinstance(a, DomainMetadata) and a.domain == DOMAIN)
        ]
        out.append(watermark_action(wm))
    return out, wm


def advance_watermark_from(winning: list, watermark: int) -> int:
    """Largest watermark implied by a winning commit's actions — OCC
    retries re-allocate above what the winners claimed."""
    from delta_rs_spark.log.actions import Add, DomainMetadata

    wm = watermark
    for a in winning:
        if isinstance(a, DomainMetadata) and a.domain == DOMAIN and not a.removed:
            try:
                wm = max(wm, int(json.loads(a.configuration)["rowIdHighWaterMark"]))
            except (ValueError, KeyError, TypeError):
                pass
        elif isinstance(a, Add) and a.base_row_id is not None:
            n = a.num_records() or 1
            wm = max(wm, a.base_row_id + n - 1)
    return wm


def fill_row_ids(
    df: DataFrame,
    snapshot: "Snapshot",
    table_path: str,
    adds: list["Add"],
    fp_col: str,
    ri_col: str,
) -> DataFrame:
    """``df``, a scan of ``adds`` carrying the two materialized columns,
    each row's file key ``fp_col`` (``_metadata.file_path``) and row
    index ``ri_col``, with both materialized columns filled from the
    row's CURRENT id/version: an existing materialization wins, else
    baseRowId + row_index / defaultRowCommitVersion, looked up by the
    row's file key in a literal (``spark_file_uri`` -> [baseRowId,
    defaultRowCommitVersion]) map: no join,
    no frame and no broadcast job. The map is split into one bucket per
    file, picked by the path's CRC-32, so a row compares about one key
    however many files the scan covers; one map literal is searched
    linearly per row (over 2M rows and 1,000 files: 8.2 s, against
    0.45 s bucketed). The JSON literal is parsed once, when Spark folds
    constants. Only ``read_snapshot_df(..., keep_row_ids=True)`` calls
    this."""
    from delta_rs_spark.operators.util import resolve_add_path, spark_file_uri

    mat_id, mat_ver = materialized_names(snapshot.configuration)
    n = max(len(adds), 1)
    buckets: list[dict] = [{} for _ in range(n)]
    for a in adds:
        p = spark_file_uri(resolve_add_path(table_path, a.path))
        buckets[zlib.crc32(p.encode()) % n][p] = [
            a.base_row_id,
            a.default_row_commit_version,
        ]
    fp = F.col(fp_col)
    ids = F.element_at(
        F.from_json(F.lit(json.dumps(buckets)), "array<map<string,array<bigint>>>"),
        (F.crc32(fp.cast("binary")) % n + 1).cast("int"),
    )[fp]
    return df.withColumn(
        mat_id, F.coalesce(F.col(mat_id), ids[0] + F.col(ri_col))
    ).withColumn(mat_ver, F.coalesce(F.col(mat_ver), ids[1]))
