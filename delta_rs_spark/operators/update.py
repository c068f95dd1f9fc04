"""UPDATE — SET col = expr [WHERE predicate].

Mirrors the reference (reference: crates/core/src/operations/update.rs
:326,357-358): find files containing matching rows, rewrite them with
each updated column CASE-guarded (``CASE WHEN pred THEN expr ELSE col``)
so non-matching rows in touched files are copied through unchanged.
CDF emits update_preimage/update_postimage pairs
(reference: operations/cdc.rs).
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from delta_rs_spark.log import commit as commit_mod
from delta_rs_spark.log import snapshot as snap_mod
from delta_rs_spark.log.actions import CommitInfo, Remove, now_ms
from delta_rs_spark.log.commit import DeltaError
from delta_rs_spark.operators.cdc import CHANGE_TYPE_COL, cdf_enabled, write_mutation
from delta_rs_spark.operators.util import find_touched_files


def _recompute_generated_cols(df, schema, updates, schema_cols, upd_flag):
    """Recompute generated columns UPDATE did not assign explicitly, from
    the post-update values of the rows the predicate selected (delta-spark
    recomputes generation expressions on UPDATE; reference:
    write/generated_columns.rs applied by merge's _recompute_generated).
    Explicitly assigned generated columns are left to the caller's
    write-rule validation."""
    from delta_rs_spark.writer import GENERATION_KEY

    gen = {
        f.name: (f.metadata or {}).get(GENERATION_KEY)
        for f in schema.fields
        if (f.metadata or {}).get(GENERATION_KEY) and f.name not in updates
    }
    if not gen:
        return df
    keep = [c for c in df.columns if c not in schema_cols]
    return df.select(
        *[
            F.when(upd_flag, F.expr(gen[c])).otherwise(F.col(c)).cast(schema[c].dataType).alias(c)
            if c in gen
            else F.col(c)
            for c in schema_cols
        ],
        *keep,
    )


def _nullable_fields(snapshot):
    from pyspark.sql import types as _T

    sch = _T.StructType.fromJson(json.loads(snapshot.schema_string))
    return {f.name: f for f in sch.fields}


def _assignment_cast(expr, field, dtype, safe: bool):
    """Assignment result -> target type. Safe mode + nullable target:
    try_cast (failed casts become NULL); otherwise strict ANSI cast."""
    if safe and (field is None or field.nullable):
        return expr.try_cast(dtype)
    return expr.cast(dtype)


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
    from delta_rs_spark.table import read_snapshot_df
    from delta_rs_spark.writer import gate_rules, write_rules

    if not updates:
        raise DeltaError("update requires at least one column assignment")
    snapshot = snap_mod.load_snapshot(table_path)
    _tbl_fields = _nullable_fields(snapshot)

    def _ucast(expr, c, dtype):
        return _assignment_cast(expr, _tbl_fields.get(c), dtype, safe_cast)
    from delta_rs_spark.plans.column_mapping import ensure_writable

    ensure_writable(snapshot)
    part_cols = snapshot.partition_columns
    for col in updates:
        if col in part_cols:
            raise DeltaError(f"cannot update partition column {col!r}")
    from delta_rs_spark.plans.identity import reject_identity_assignment

    reject_identity_assignment(
        updates,
        __import__("pyspark.sql.types", fromlist=["T"]).StructType.fromJson(
            json.loads(snapshot.schema_string)
        ),
        "UPDATE",
    )

    from delta_rs_spark.operators.delete import candidate_files, dv_write_enabled, scan_txn

    candidates = candidate_files(snapshot, predicate)
    # every commit of this UPDATE, the no-match ones included, reads them
    txn = scan_txn(snapshot, candidates)
    ts = now_ms()
    cond = F.expr(predicate) if predicate else F.lit(True)

    metrics: dict[str, Any] = {
        "num_added_files": 0,
        "num_removed_files": 0,
        "num_updated_rows": 0,
        "num_copied_rows": 0,
    }
    if candidates and dv_write_enabled(snapshot):
        return _dv_update(
            spark,
            snapshot,
            table_path,
            updates,
            predicate,
            cond,
            candidates,
            txn,
            metrics,
            commit_properties,
            post_commithook_properties,
            safe_cast=safe_cast,
        )

    touched, n_updated = find_touched_files(
        spark, snapshot, table_path, candidates, predicate
    )
    touched_adds = [a for a in candidates if a.path in touched]
    if not touched_adds:
        op = CommitInfo("UPDATE", {"predicate": predicate or ""}, operation_metrics=metrics)
        commit_mod.commit(
            table_path,
            [],
            op,
            snapshot.version,
            txn,
            commit_properties=commit_properties,
            post_commit=post_commithook_properties,
        )
        return metrics

    from delta_rs_spark.plans import row_tracking as rt

    rt_on = rt.enabled(snapshot.configuration)
    if rt_on:
        # rewrite carries every surviving row's id; updated rows null
        # their materialized VERSION below so the reader falls back to
        # this commit's defaultRowCommitVersion (spec: updates keep the
        # row id, take the updating commit's version)
        touched_df = rt.read_with_materialized(spark, snapshot, table_path, touched_adds)
    else:
        touched_df = read_snapshot_df(spark, snapshot, table_path, files=touched_adds)
    cdf_on = cdf_enabled(snapshot)
    schema_cols = [f.name for f in touched_df.schema.fields]
    # CASE-guard every updated column (reference: update.rs:357-358).
    # cond is pinned to the PRE-update row via a marker column so the
    # generated-column recompute below (which sees post-update values)
    # still knows which rows the predicate selected.
    marked = touched_df.withColumn("__delta_rs_upd", cond)
    upd_flag = F.col("__delta_rs_upd")
    if cdf_on:
        # each matched row explodes into an update_postimage row (new
        # values, routed to data + _change_data/) and an
        # update_preimage row (old values, _change_data/ only);
        # unmatched rows carry a NULL tag (data only). The value
        # projection below keys off the tag, so preimage rows keep the
        # pre-update values.
        marked = marked.select(
            "*",
            F.explode(
                F.when(
                    upd_flag,
                    F.array(
                        F.lit("update_postimage"), F.lit("update_preimage")
                    ),
                ).otherwise(F.array(F.lit(None).cast("string")))
            ).alias(CHANGE_TYPE_COL),
        )
        upd_flag = F.col(CHANGE_TYPE_COL).eqNullSafe(F.lit("update_postimage"))
    updated_df = marked.select(
        *[
            # cast INSIDE the branch: when/otherwise strict-coerces
            # mismatched branch types, which would bypass safe_cast
            F.when(
                upd_flag,
                _ucast(F.expr(updates[c]), c, touched_df.schema[c].dataType),
            )
            .otherwise(F.col(c))
            .cast(touched_df.schema[c].dataType)
            .alias(c)
            if c in updates
            else F.col(c)
            for c in schema_cols
        ],
        "__delta_rs_upd",
        *([CHANGE_TYPE_COL] if cdf_on else []),
    )
    updated_df = _recompute_generated_cols(
        updated_df, touched_df.schema, updates, schema_cols, upd_flag
    )
    if rt_on:
        _mat_ver = rt.materialized_names(snapshot.configuration)[1]
        updated_df = updated_df.withColumn(
            _mat_ver,
            F.when(upd_flag, F.lit(None).cast("long")).otherwise(F.col(_mat_ver)),
        )
    updated_df, check = gate_rules(
        updated_df.drop("__delta_rs_upd"), write_rules(snapshot)
    )
    new_adds, cdc_actions = write_mutation(updated_df, snapshot, validate=check)
    # live rows only: DV'd files contribute physical rows minus cardinality
    n_total = sum(
        (a.num_records() or 0)
        - int((a.deletion_vector or {}).get("cardinality") or 0)
        for a in touched_adds
    )

    actions: list = list(new_adds) + list(cdc_actions)
    removes = [Remove(a.path, ts, True, a.partition_values, a.size, deletion_vector=a.deletion_vector) for a in touched_adds]
    actions.extend(removes)
    metrics.update(
        {
            "num_added_files": len(new_adds),
            "num_removed_files": len(removes),
            "num_updated_rows": n_updated,
            "num_copied_rows": int(n_total - n_updated),
        }
    )
    op = CommitInfo(
        "UPDATE", {"predicate": predicate or ""}, operation_metrics=metrics
    )
    commit_mod.commit(
        table_path,
        actions,
        op,
        snapshot.version,
        txn,
        commit_properties=commit_properties,
        post_commit=post_commithook_properties,
    )
    return metrics


def _dv_update(
    spark: SparkSession,
    snapshot,
    table_path: str,
    updates: dict[str, str],
    predicate: str | None,
    cond,
    candidates,
    txn,
    metrics: dict[str, Any],
    commit_properties,
    post_commithook_properties,
    safe_cast: bool = False,
) -> dict[str, Any]:
    """UPDATE via deletion vectors: matched rows are DV-marked dead in
    their files and re-written WITH the new values into fresh files —
    write amplification is O(rows updated), not O(rows in touched
    files). This goes beyond the reference (update.rs rewrites whole
    files) using the same protocol feature its reader honors; the
    rewrite path remains for tables without the feature.
    """
    from delta_rs_spark.operators.delete import (
        dv_mark_rows,
        group_rows_by_file,
    )
    from delta_rs_spark.table import read_snapshot_df

    from delta_rs_spark.plans import row_tracking as rt

    ts = now_ms()
    rt_on = rt.enabled(snapshot.configuration)
    _mat_id, _mat_ver = rt.materialized_names(snapshot.configuration)
    df = read_snapshot_df(
        spark,
        snapshot,
        table_path,
        files=candidates,
        file_path_col="__delta_rs_fp",
        row_index_col="__delta_rs_ri",
        extra_physical_cols=[_mat_id, _mat_ver] if rt_on else None,
    )
    if rt_on:
        # the DV tier rewrites ONLY the updated rows into a new file:
        # they keep their row id (materialized here from the old
        # position) and take the updating commit's version (NULL
        # materialized version -> reader falls back to the new file's
        # defaultRowCommitVersion)
        fmap = rt.file_map_df(spark, candidates, table_path)
        df = (
            df.join(
                F.broadcast(fmap),
                F.col("__delta_rs_fp") == F.col("__rt_fp"),
                "left",
            )
            .withColumn(
                _mat_id,
                F.coalesce(
                    F.col(_mat_id), F.col("__rt_base") + F.col("__delta_rs_ri")
                ),
            )
            .withColumn(_mat_ver, F.lit(None).cast("long"))
            .drop("__rt_fp", "__rt_base", "__rt_ver")
        )
    # the matched set feeds three consumers (row indexes, new rows, CDF);
    # persist so the scan+filter runs once — the collect below
    # materializes it, and persist (unlike localCheckpoint) is released
    # by DataFrame.unpersist in the finally (r13 unpersist contract:
    # operators own their pins; a localCheckpoint pin survives
    # DataFrame.unpersist because it never enters the CacheManager).
    # Recompute-on-eviction is safe: the frame is deterministic
    # (file path + row index from a pinned file set).
    matched_df = df.filter(cond).persist()
    try:
        return _dv_update_commit(
            spark,
            table_path,
            snapshot,
            candidates,
            txn,
            matched_df,
            updates,
            predicate,
            cond,
            metrics,
            safe_cast,
            commit_properties,
            post_commithook_properties,
            ts,
        )
    finally:
        matched_df.unpersist(False)


def _dv_update_commit(
    spark,
    table_path,
    snapshot,
    candidates,
    txn,
    matched_df,
    updates,
    predicate,
    cond,
    metrics,
    safe_cast,
    commit_properties,
    post_commithook_properties,
    ts,
) -> dict[str, Any]:
    from delta_rs_spark.operators.delete import (
        dv_mark_rows,
        group_rows_by_file,
    )
    from delta_rs_spark.writer import gate_rules, write_rules

    rows = (
        matched_df.groupBy(F.col("__delta_rs_fp").alias("fp"))
        .agg(F.collect_list("__delta_rs_ri").alias("ris"))
        .collect()
    )
    if not rows:
        op = CommitInfo(
            "UPDATE", {"predicate": predicate or ""}, operation_metrics=metrics
        )
        commit_mod.commit(
            table_path,
            [],
            op,
            snapshot.version,
            txn,
            commit_properties=commit_properties,
            post_commit=post_commithook_properties,
        )
        return metrics

    by_rel = group_rows_by_file(rows, table_path, candidates)
    removes, dv_adds, n_updated = dv_mark_rows(table_path, by_rel, candidates, ts)

    _tbl_fields = _nullable_fields(snapshot)

    def _ucast(expr, c, dtype):
        return _assignment_cast(expr, _tbl_fields.get(c), dtype, safe_cast)

    base = matched_df.drop("__delta_rs_fp", "__delta_rs_ri")
    schema_cols = [f.name for f in base.schema.fields]
    new_rows = _recompute_generated_cols(
        base.select(
            *[
                _ucast(F.expr(updates[c]), c, base.schema[c].dataType).alias(c)
                if c in updates
                else F.col(c)
                for c in schema_cols
            ]
        ),
        base.schema,
        updates,
        schema_cols,
        F.lit(True),
    )
    if cdf_enabled(snapshot):
        # both images read the pinned matched frame: postimage rows
        # route to data + _change_data/, preimage rows to _change_data/
        new_rows = new_rows.withColumn(
            CHANGE_TYPE_COL, F.lit("update_postimage")
        ).unionByName(base.withColumn(CHANGE_TYPE_COL, F.lit("update_preimage")))
    gated, check = gate_rules(new_rows, write_rules(snapshot))
    new_adds, cdc_actions = write_mutation(gated, snapshot, validate=check)
    actions = list(removes) + list(dv_adds) + new_adds + cdc_actions

    metrics.update(
        {
            "num_added_files": len(new_adds),
            "num_removed_files": len(removes),
            "num_updated_rows": n_updated,
            "num_copied_rows": 0,
            "num_deletion_vectors_added": len(dv_adds),
        }
    )
    op = CommitInfo(
        "UPDATE", {"predicate": predicate or ""}, operation_metrics=metrics
    )
    commit_mod.commit(
        table_path,
        actions,
        op,
        snapshot.version,
        txn,
        commit_properties=commit_properties,
        post_commit=post_commithook_properties,
    )
    return metrics
