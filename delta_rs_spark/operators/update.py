"""UPDATE — SET col = expr [WHERE predicate].

An UPDATE is a predicate mutation planned by the one core DELETE shares,
operators/delete.py ``plan_mutation``: the core finds the matched rows
and runs the copy-on-write or the deletion-vector tier; UPDATE supplies
only what a matched row becomes — an ``update_postimage`` row carrying
the assignments (routed to data and change data) plus an
``update_preimage`` row (change data only). Each assigned column is
CASE-guarded on the postimage rows, so the other rows of a rewritten
file are copied through unchanged (reference:
crates/core/src/operations/update.rs:326,357-358; CDF pairs:
operations/cdc.rs). Generated columns the assignments leave alone are
recomputed from the new values, and the table's write rules gate every
written row.
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from delta_rs_spark.log import commit as commit_mod
from delta_rs_spark.log import snapshot as snap_mod
from delta_rs_spark.log.actions import CommitInfo
from delta_rs_spark.log.commit import DeltaError
from delta_rs_spark.operators.delete import plan_mutation, scan_txn
from delta_rs_spark.plans.skipping import candidate_files


def update(
    spark: SparkSession,
    table_path: str,
    updates: dict[str, str],
    predicate: str | None = None,
    commit_properties=None,
    post_commithook_properties=None,
    safe_cast: bool = False,
) -> dict[str, Any]:
    """``safe_cast`` (error_on_type_mismatch=False in the reference's
    update signature): assignment results that cannot cast to the
    target type become NULL for NULLABLE columns instead of erroring;
    non-nullable columns keep the strict cast."""
    from delta_rs_spark.plans.column_mapping import ensure_writable
    from delta_rs_spark.plans.identity import reject_identity_assignment
    from delta_rs_spark.writer import assignment_cast, recompute_generated, write_rules

    if not updates:
        raise DeltaError("update requires at least one column assignment")
    snapshot = snap_mod.load_snapshot(table_path)
    ensure_writable(snapshot)
    for col in updates:
        if col in snapshot.partition_columns:
            raise DeltaError(f"cannot update partition column {col!r}")
    schema = T.StructType.fromJson(json.loads(snapshot.schema_string))
    reject_identity_assignment(updates, schema, "UPDATE")
    fields = {f.name: f for f in schema.fields}

    def assign(df: DataFrame, post: Column) -> DataFrame:
        out = df.select(
            *[
                # cast INSIDE the branch: when/otherwise strict-coerces
                # mismatched branch types, which would bypass safe_cast
                F.when(post, assignment_cast(F.expr(updates[c]), fields[c], safe_cast))
                .otherwise(F.col(c))
                .cast(fields[c].dataType)
                .alias(c)
                if c in updates and c in fields
                else F.col(f"`{c}`")
                for c in df.columns
            ]
        )
        return recompute_generated(out, schema, lambda c: None if c in updates else post)

    candidates = candidate_files(snapshot, predicate)
    m = plan_mutation(
        spark, snapshot, predicate, candidates, assign=assign, rules=write_rules(snapshot)
    )
    metrics = {
        "num_added_files": len(m.data_adds),
        "num_removed_files": len(m.removes),
        "num_updated_rows": m.n_matched,
        "num_copied_rows": m.n_copied,
    }
    if m.dv_tier and m.n_matched:
        metrics["num_deletion_vectors_added"] = len(m.dv_adds)
    commit_mod.commit(
        table_path,
        m.actions,
        CommitInfo("UPDATE", {"predicate": predicate or ""}, operation_metrics=metrics),
        snapshot.version,
        scan_txn(snapshot, candidates),
        commit_properties=commit_properties,
        post_commit=post_commithook_properties,
    )
    return metrics
