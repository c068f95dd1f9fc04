"""DELETE, and the one predicate-mutation core DELETE and UPDATE share.

``plan_mutation`` plans a mutation of the rows matching a predicate
without committing it; an operator supplies only what a matched row
becomes — DELETE: one ``delete`` change row and no data row; UPDATE
(operators/update.py): an ``update_postimage`` row carrying the
assignments plus an ``update_preimage`` row — and commits the returned
actions from one site. The core runs the reference's tiers (reference:
crates/core/src/operations/delete.rs, update.rs):

* metadata-only removal (DELETE only): no predicate removes every file
  (:439-455); an exactly-evaluable partition-only predicate removes the
  matching files (:472-535);
* copy-on-write: util.find_touched_files (one Spark job) collects the
  files holding a match and the match count to the driver (O(files),
  never O(rows)); one pass over just those files tags each row (NULL for
  a copied row) through one per-row generator, and cdc.write_mutation
  writes the data rows and, with change data feed, the change rows
  (:583-617);
* deletion vectors (``delta.enableDeletionVectors=true``): one
  shuffle-free job collects the matched rows' (file, row_index) pairs,
  ``dv_mark_rows`` marks them dead, and the same tagged rows of just the
  matched set go to cdc.write_mutation; when a write follows, the
  matched rows are pinned so the candidates are scanned once (write
  amplification O(rows matched), beyond the reference, which rewrites
  whole files).

Every rewrite reads its rows with ``keep_row_ids``, so row-tracking ids
survive it; a row the mutation changes takes the committing version.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable, Iterable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from delta_rs_spark.log import commit as commit_mod
from delta_rs_spark.log import snapshot as snap_mod
from delta_rs_spark.log.actions import Add, AddCDCFile, CommitInfo, Remove, now_ms
from delta_rs_spark.log.commit import TransactionInfo
from delta_rs_spark.operators.cdc import CHANGE_TYPE_COL, cdf_enabled, write_mutation
from delta_rs_spark.operators.util import add_paths_of, find_touched_files
from delta_rs_spark.plans.skipping import candidate_files, partition_only_predicate


def scan_txn(
    snapshot: snap_mod.Snapshot, candidates: list[Add], read_whole_table: bool = False
) -> TransactionInfo:
    """The read set of a mutation that scanned ``candidates``: every
    candidate file, not only the rewritten ones, so a racing commit that
    removes a scanned file conflicts even when this mutation leaves the
    file alone (or matches nothing at all). ``read_whole_table``: the
    mutation's result depends on every row of the table, so under
    WriteSerializable a racing append conflicts too. The isolation
    level is the table's ``delta.isolationLevel``."""
    return TransactionInfo(
        blind_append=False,
        read_files={a.path for a in candidates},
        read_whole_table=read_whole_table,
        isolation_level=snapshot.configuration.get(
            "delta.isolationLevel", "WriteSerializable"
        ),
    )


def _live_rows(adds: list[Add]) -> int:
    """Rows the files hold that no deletion vector marks dead."""
    return sum(
        (a.num_records() or 0) - int((a.deletion_vector or {}).get("cardinality") or 0)
        for a in adds
    )


@dataclass
class Mutation:
    """A planned predicate mutation: its actions, not yet committed."""

    dv_tier: bool = False
    removes: list[Remove] = field(default_factory=list)
    # touched files re-added with their merged deletion vectors
    dv_adds: list[Add] = field(default_factory=list)
    data_adds: list[Add] = field(default_factory=list)
    change_files: list[AddCDCFile] = field(default_factory=list)
    n_matched: int = 0
    # live rows in the rewritten files minus the matched ones
    n_copied: int = 0

    @property
    def actions(self) -> list:
        # removes FIRST: the DV tier tombstones and re-adds the SAME path
        # in one commit, and snapshot replay is sequential — add-then-
        # remove would drop the re-added file
        return [*self.removes, *self.dv_adds, *self.data_adds, *self.change_files]


# what a matched row becomes: the change rows it emits, in order. An
# update's first row is its postimage, the one data row among them.
_DELETED = ("delete",)
_UPDATED = ("update_postimage", "update_preimage")


def plan_mutation(
    spark: SparkSession,
    snapshot: snap_mod.Snapshot,
    predicate: str | None,
    candidates: list[Add],
    assign: Callable[[DataFrame, Column], DataFrame] | None = None,
    rules: Sequence = (),
    deletion_vectors: bool | None = None,
) -> Mutation:
    """Plan the mutation of the rows of ``candidates`` (the
    ``candidate_files`` of ``predicate``; None matches every row).

    ``assign`` None deletes the matched rows. Otherwise it updates
    them: ``assign(frame, post)`` returns ``frame`` with the new values
    set on the rows where ``post`` holds (the postimages), every column
    kept in place. ``rules`` (writer.write_rules) gate the written data
    rows. ``deletion_vectors`` picks the soft tier; None follows the
    table's ``delta.enableDeletionVectors``."""
    from delta_rs_spark.table import read_snapshot_df

    table_path, ts = snapshot.table_path, now_ms()
    if assign is None and (
        not predicate
        or partition_only_predicate(predicate, snapshot)
    ):
        return Mutation(removes=[a.remove(ts) for a in candidates], n_matched=_live_rows(candidates))
    if deletion_vectors is None:
        deletion_vectors = dv_write_enabled(snapshot)
    if not candidates:
        return Mutation(dv_tier=deletion_vectors)
    cond = F.expr(predicate) if predicate else F.lit(True)
    if not deletion_vectors:
        touched, n_matched = find_touched_files(
            spark, snapshot, table_path, candidates, predicate
        )
        touched_adds = [a for a in candidates if a.path in touched]
        if not touched_adds:
            return Mutation()
        frame = read_snapshot_df(
            spark, snapshot, table_path, files=touched_adds, keep_row_ids=True
        )
        data_adds, change_files = _write_rows(frame, cond, snapshot, assign, rules)
        return Mutation(
            removes=[a.remove(ts) for a in touched_adds],
            data_adds=data_adds,
            change_files=change_files,
            n_matched=n_matched,
            n_copied=_live_rows(touched_adds) - n_matched,
        )

    # read_snapshot_df applies existing DVs, so already-deleted rows
    # cannot be re-matched; only updated rows are written back to data
    # files, so only they need their row ids
    matched = read_snapshot_df(
        spark,
        snapshot,
        table_path,
        files=candidates,
        file_path_col="__delta_rs_fp",
        row_index_col="__delta_rs_ri",
        keep_row_ids=assign is not None,
    ).filter(cond)
    writes = assign is not None or cdf_enabled(snapshot)
    if writes:
        # the collect below and the write both read the matched rows:
        # pinned, the scan and filter run once (released in the finally;
        # deterministic, so recompute-on-eviction is safe)
        matched = matched.persist()
    try:
        # one shuffle-free job: the (file, row index) pairs come back as
        # Arrow and are grouped by file on the driver
        pairs = (
            matched.select("__delta_rs_fp", "__delta_rs_ri")
            .toArrow()
            .group_by("__delta_rs_fp")
            .aggregate([("__delta_rs_ri", "list")])
        )
        if not pairs.num_rows:
            return Mutation(dv_tier=True)
        removes, dv_adds, n_matched = dv_mark_rows(
            table_path,
            zip(pairs["__delta_rs_fp"].to_pylist(), pairs["__delta_rs_ri_list"].to_pylist()),
            candidates,
            ts,
        )
        data_adds, change_files = (
            _write_rows(
                matched.drop("__delta_rs_fp", "__delta_rs_ri"),
                F.lit(True),
                snapshot,
                assign,
                rules,
            )
            if writes
            else ([], [])
        )
    finally:
        if writes:
            matched.unpersist(False)
    return Mutation(
        dv_tier=True,
        removes=removes,
        dv_adds=dv_adds,
        data_adds=data_adds,
        change_files=change_files,
        n_matched=n_matched,
    )


def _write_rows(frame: DataFrame, hit: Column, snapshot, assign, rules):
    """Write ``frame``'s rows through cdc.write_mutation: a row where
    ``hit`` holds becomes its change rows (see ``_DELETED`` /
    ``_UPDATED``), any other row is copied with a NULL tag. One per-row
    generator, so the frame is read once."""
    from delta_rs_spark.plans.row_tracking import materialized_names
    from delta_rs_spark.writer import gate_rules

    tags = _DELETED if assign is None else _UPDATED
    ct = F.col(CHANGE_TYPE_COL)
    out = frame.select(
        "*",
        F.explode(
            F.when(hit, F.array(*[F.lit(t) for t in tags])).otherwise(
                F.array(F.lit(None).cast("string"))
            )
        ).alias(CHANGE_TYPE_COL),
    )
    if assign is not None:
        out = assign(out, ct.eqNullSafe(F.lit(_UPDATED[0])))
    mat_ver = materialized_names(snapshot.configuration)[1]
    if mat_ver in out.columns:
        # a changed row takes the committing version: a NULL
        # materialized version falls back to the new file's
        # defaultRowCommitVersion (its id stays materialized)
        out = out.withColumn(
            mat_ver, F.when(ct.isNull(), F.col(mat_ver)).otherwise(F.lit(None).cast("long"))
        )
    out, check = gate_rules(out, rules)
    return write_mutation(out, snapshot, validate=check)


# inline DVs above this serialized size go to a deletion_vector_*.bin
# sidecar instead of bloating every future log/checkpoint read
_DV_INLINE_MAX_BYTES = 16 * 1024


def dv_write_enabled(snapshot: snap_mod.Snapshot) -> bool:
    return (
        snapshot.configuration.get("delta.enableDeletionVectors", "").lower()
        == "true"
    )


def dv_mark_rows(
    table_path: str,
    pairs: Iterable[tuple[str, Sequence[int]]],
    candidates: list[Add],
    ts: int,
) -> tuple[list[Remove], list[Add], int]:
    """Mark rows dead via deletion vectors: ``pairs`` holds one
    (scanned file key, [row_index]) entry per file; for each, merge the
    new row indexes into the file's existing DV and emit the (remove
    old pairing, add new pairing) action pair; files left with no live
    rows become plain removes. Shared by DELETE (matched rows die),
    UPDATE (matched rows die here and are re-written with new values)
    and MERGE (acted rows die)."""
    from delta_rs_spark.plans.deletion_vectors import (
        encode_bitmap_array,
        inline_dv_descriptor,
        load_dv_row_indexes,
        write_dv_file,
    )

    pairs = list(pairs)
    paths = add_paths_of(table_path, candidates, [fp for fp, _ in pairs])
    known = {a.path: a for a in candidates}
    removes: list[Remove] = []
    new_adds: list[Add] = []
    n_marked = 0
    for rel, (_, new_rows) in zip(paths, pairs):
        a = known[rel]
        n_marked += len(new_rows)
        old_dv = a.deletion_vector
        old_rows = load_dv_row_indexes(table_path, old_dv) if old_dv else []
        all_rows = sorted(set(old_rows) | set(new_rows))
        live = (a.num_records() or 0) - len(all_rows)
        removes.append(a.remove(ts))
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
    candidates = candidate_files(snapshot, predicate)
    m = plan_mutation(spark, snapshot, predicate, candidates)
    metrics = {
        "num_removed_files": len(m.removes),
        "num_added_files": len(m.dv_adds) + len(m.data_adds),
        "num_deleted_rows": m.n_matched,
        "num_copied_rows": m.n_copied,
    }
    if m.dv_tier:
        metrics["num_deletion_vectors_added"] = len(m.dv_adds)
    commit_mod.commit(
        table_path,
        m.actions,
        CommitInfo("DELETE", {"predicate": predicate or ""}, operation_metrics=metrics),
        snapshot.version,
        scan_txn(snapshot, candidates, read_whole_table=not predicate),
        commit_properties=commit_properties,
        post_commit=post_commithook_properties,
    )
    return metrics
