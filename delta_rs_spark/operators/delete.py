"""DELETE — three-tier predicate delete.

Mirrors the reference's tiers (reference:
crates/core/src/operations/delete.rs): no predicate -> metadata-only
remove-all (:439-455); exactly-evaluable partition-only predicate ->
metadata-only file removal (:472-535); otherwise scan candidate files
(stats pruning), locate the files that actually contain matches via the
``_metadata.file_path`` hidden column, and rewrite only those keeping
``NOT (predicate IS TRUE)`` rows (:583-596) — null-safe exactly like the
reference. CDF rows are emitted when enabled (:598-617).

Scale: phase 1 (util.find_touched_files, one Spark job) collects only
the set of matched file paths and the matched-row count to the driver
(O(files), never O(rows)); phase 2 reads only the touched files and
hands their rows, matched ones tagged "delete", to cdc.write_mutation,
which rewrites the survivors (and, with CDF, writes the deleted rows as
change data) in one pass.
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from delta_rs_spark.log import commit as commit_mod
from delta_rs_spark.log import snapshot as snap_mod
from delta_rs_spark.log.actions import Add, CommitInfo, Remove, now_ms
from delta_rs_spark.log.commit import TransactionInfo
from delta_rs_spark.operators.cdc import (
    CHANGE_TYPE_COL,
    cdf_enabled,
    write_change_data,
    write_mutation,
)
from delta_rs_spark.operators.util import find_touched_files, scanned_add_path
from delta_rs_spark.plans.skipping import (
    col_types_from_schema_json,
    partition_only_predicate,
    prune_files,
)


def candidate_files(snapshot: snap_mod.Snapshot, predicate: str | None) -> list[Add]:
    """The live files whose partition values and stats may hold rows
    matching ``predicate`` — every file when there is none."""
    from delta_rs_spark.plans.column_mapping import snapshot_physical_of

    adds = list(snapshot.files.values())
    if not predicate:
        return adds
    return prune_files(
        adds,
        predicate,
        snapshot.partition_columns,
        col_types_from_schema_json(json.loads(snapshot.schema_string)),
        snapshot_physical_of(snapshot),
    )


def scan_txn(snapshot: snap_mod.Snapshot, candidates: list[Add]) -> TransactionInfo:
    """The read set of a mutation that scanned ``candidates``: every
    candidate file, not only the rewritten ones, so a racing commit that
    removes a scanned file conflicts even when this mutation leaves the
    file alone (or matches nothing at all)."""
    return TransactionInfo(
        blind_append=False,
        read_files={a.path for a in candidates},
        isolation_level=snapshot.configuration.get(
            "delta.isolationLevel", "WriteSerializable"
        ),
    )


def plan_predicate_removal(
    spark: SparkSession,
    snapshot: snap_mod.Snapshot,
    table_path: str,
    predicate: str,
    candidates: list[Add],
) -> tuple[list[Remove], list[Add], int]:
    """Shared by DELETE and replaceWhere: compute (removes, rewrite adds,
    deleted row count) for removing all rows matching predicate from
    its ``candidate_files``."""
    from delta_rs_spark.table import read_snapshot_df

    ts = now_ms()
    col_types = col_types_from_schema_json(json.loads(snapshot.schema_string))

    # tier 2: exact partition-only predicate -> metadata-only removal
    if partition_only_predicate(predicate, snapshot.partition_columns, col_types):
        removes = [
            Remove(a.path, ts, True, a.partition_values, a.size, deletion_vector=a.deletion_vector) for a in candidates
        ]
        # live rows only: a DV'd file's deleted rows are already gone
        n_deleted = sum(
            (a.num_records() or 0)
            - int((a.deletion_vector or {}).get("cardinality") or 0)
            for a in candidates
        )
        return removes, [], n_deleted

    # tier 3: candidate scan -> touched files -> rewrite
    touched, n_deleted = find_touched_files(
        spark, snapshot, table_path, candidates, predicate
    )
    if not touched:
        return [], [], 0
    touched_adds = [a for a in candidates if a.path in touched]

    from delta_rs_spark.plans import row_tracking as rt

    if rt.enabled(snapshot.configuration):
        # survivors are UNMODIFIED: materialize both id and commit
        # version so the rewrite cannot change either
        touched_df = rt.read_with_materialized(
            spark, snapshot, table_path, touched_adds
        )
    else:
        touched_df = read_snapshot_df(spark, snapshot, table_path, files=touched_adds)
    # matched rows are tagged "delete" (change data only), survivors
    # keep a NULL tag (data files only)
    tagged = touched_df.withColumn(
        CHANGE_TYPE_COL,
        F.when(F.expr(predicate), F.lit("delete")).otherwise(
            F.lit(None).cast("string")
        ),
    )
    data_adds, cdc_actions = write_mutation(tagged, snapshot)
    new_adds = data_adds + cdc_actions  # type: ignore[operator]

    removes = [
        Remove(a.path, ts, True, a.partition_values, a.size, deletion_vector=a.deletion_vector) for a in touched_adds
    ]
    return removes, new_adds, n_deleted


# inline DVs above this serialized size go to a deletion_vector_*.bin
# sidecar instead of bloating every future log/checkpoint read
_DV_INLINE_MAX_BYTES = 16 * 1024


def dv_write_enabled(snapshot: snap_mod.Snapshot) -> bool:
    return (
        snapshot.configuration.get("delta.enableDeletionVectors", "").lower()
        == "true"
    )


def group_rows_by_file(
    matched: list, table_path: str, candidates: list[Add]
) -> dict[str, list[int]]:
    """(fp, [row_index]) collect() rows -> {Add.path: row indexes}."""
    known = {a.path for a in candidates}
    by_rel: dict[str, list[int]] = {}
    for r in matched:
        rel = scanned_add_path(r["fp"], table_path, known)
        by_rel.setdefault(rel, []).extend(int(i) for i in r["ris"])
    return by_rel


def dv_mark_rows(
    table_path: str,
    by_rel: dict[str, list[int]],
    candidates: list[Add],
    ts: int,
) -> tuple[list[Remove], list[Add], int]:
    """Mark rows dead via deletion vectors: for each file, merge the new
    row indexes into its existing DV and emit the (remove old pairing,
    add new pairing) action pair; files left with no live rows become
    plain removes. Shared by DELETE (matched rows die) and UPDATE
    (matched rows die here and are re-written with new values)."""
    from delta_rs_spark.plans.deletion_vectors import (
        encode_bitmap_array,
        inline_dv_descriptor,
        load_dv_row_indexes,
        write_dv_file,
    )

    known = {a.path: a for a in candidates}
    removes: list[Remove] = []
    new_adds: list[Add] = []
    n_marked = 0
    for rel, new_rows in by_rel.items():
        a = known[rel]
        n_marked += len(new_rows)
        old_dv = a.deletion_vector
        old_rows = load_dv_row_indexes(table_path, old_dv) if old_dv else []
        all_rows = sorted(set(old_rows) | set(new_rows))
        live = (a.num_records() or 0) - len(all_rows)
        removes.append(
            Remove(
                a.path,
                ts,
                True,
                a.partition_values,
                a.size,
                deletion_vector=old_dv,
            )
        )
        if live <= 0 and a.num_records() is not None:
            continue  # fully dead: plain remove, no re-add
        data = encode_bitmap_array(all_rows)
        if len(data) <= _DV_INLINE_MAX_BYTES:
            desc = inline_dv_descriptor(all_rows)
        else:
            desc = write_dv_file(table_path, all_rows)
        new_adds.append(
            Add(
                path=a.path,
                size=a.size,
                modification_time=ts,
                data_change=True,
                partition_values=a.partition_values,
                stats=a.stats,
                tags=a.tags,
                deletion_vector=desc,
                # re-ADD of the same physical file: its row-id range is
                # part of its identity — dropping it would make the
                # commit hook re-allocate and silently renumber rows
                base_row_id=a.base_row_id,
                default_row_commit_version=a.default_row_commit_version,
            )
        )
    return removes, new_adds, n_marked


def plan_dv_delete(
    spark: SparkSession,
    snapshot: snap_mod.Snapshot,
    table_path: str,
    predicate: str,
    candidates: list[Add],
) -> tuple[list[Remove], list[Add], int]:
    """Soft-delete tier for DV-enabled tables: instead of rewriting the
    surviving rows of every touched file, mark the matched rows in a
    deletion vector and re-add the file with the merged DV (Delta
    PROTOCOL.md "Deletion Vectors"; the remove tombstones the previous
    (path, DV) pairing and carries the old descriptor). Full-file
    matches still become plain removes — a fully-dead file needs no DV.

    Scale: the scan collects only (file, row_index) pairs for NEWLY
    matched rows — O(rows deleted this commit), the quantity DVs exist
    to keep small (bulk deletes should rewrite; that path stays the
    default for tables without the feature). Merging with an existing
    DV unions row-index sets driver-side for the touched files only.
    """
    from delta_rs_spark.table import read_snapshot_df

    ts = now_ms()
    # read_snapshot_df applies existing DVs, so already-deleted rows
    # cannot be re-matched (their indexes are anti-joined out)
    df = read_snapshot_df(
        spark,
        snapshot,
        table_path,
        files=candidates,
        file_path_col="__delta_rs_fp",
        row_index_col="__delta_rs_ri",
    )
    matched = (
        df.filter(F.expr(predicate))
        .groupBy(F.col("__delta_rs_fp").alias("fp"))
        .agg(F.collect_list("__delta_rs_ri").alias("ris"))
        .collect()
    )
    if not matched:
        return [], [], 0

    by_rel = group_rows_by_file(matched, table_path, candidates)
    removes, new_adds, n_deleted = dv_mark_rows(table_path, by_rel, candidates, ts)

    if cdf_enabled(snapshot):
        # change rows only: there is no data file to write
        deleted_df = df.filter(F.expr(predicate)).drop(
            "__delta_rs_fp", "__delta_rs_ri"
        ).withColumn(CHANGE_TYPE_COL, F.lit("delete"))
        new_adds = new_adds + write_change_data(deleted_df, snapshot)  # type: ignore[operator]
    return removes, new_adds, n_deleted


def delete(
    spark: SparkSession,
    table_path: str,
    predicate: str | None,
    commit_properties=None,
    post_commithook_properties=None,
) -> dict[str, Any]:
    snapshot = snap_mod.load_snapshot(table_path)
    from delta_rs_spark.plans.column_mapping import ensure_writable

    ensure_writable(snapshot)
    ts = now_ms()

    if not predicate:
        # tier 1: metadata-only remove-all (reference: delete.rs:439-455)
        adds = list(snapshot.files.values())
        removes = [Remove(a.path, ts, True, a.partition_values, a.size, deletion_vector=a.deletion_vector) for a in adds]
        n_deleted = snapshot.num_records()
        metrics = {
            "num_removed_files": len(removes),
            "num_added_files": 0,
            "num_deleted_rows": n_deleted,
            "num_copied_rows": 0,
        }
        op = CommitInfo("DELETE", {"predicate": predicate or ""}, operation_metrics=metrics)
        commit_mod.commit(
            table_path,
            removes,
            op,
            snapshot.version,
            TransactionInfo(
                blind_append=False,
                read_whole_table=True,
            ),
            commit_properties=commit_properties,
            post_commit=post_commithook_properties,
        )
        return metrics

    col_types = col_types_from_schema_json(json.loads(snapshot.schema_string))
    use_dv = dv_write_enabled(snapshot) and not partition_only_predicate(
        predicate, snapshot.partition_columns, col_types
    )
    candidates = candidate_files(snapshot, predicate)
    plan = plan_dv_delete if use_dv else plan_predicate_removal
    removes, new_adds, n_deleted = plan(
        spark, snapshot, table_path, predicate, candidates
    )
    dv_adds = sum(
        1 for a in new_adds if isinstance(a, Add) and a.deletion_vector
    )
    n_copied = (
        0
        if use_dv
        else sum(a.num_records() or 0 for a in new_adds if isinstance(a, Add))
    )
    metrics = {
        "num_removed_files": len(removes),
        "num_added_files": sum(1 for a in new_adds if isinstance(a, Add)),
        "num_deleted_rows": n_deleted,
        "num_copied_rows": n_copied,
    }
    if use_dv:
        metrics["num_deletion_vectors_added"] = dv_adds
    op = CommitInfo("DELETE", {"predicate": predicate}, operation_metrics=metrics)
    # removes FIRST: a DV update tombstones and re-adds the SAME path in
    # one commit, and snapshot replay is sequential — add-then-remove
    # would drop the re-added file (rewrite deletes have disjoint paths,
    # so the order is free there)
    commit_mod.commit(
        table_path,
        list(removes) + list(new_adds),
        op,
        snapshot.version,
        scan_txn(snapshot, candidates),
        commit_properties=commit_properties,
        post_commit=post_commithook_properties,
    )
    return metrics
