"""The one mutation writer: DELETE, UPDATE and MERGE hand
``write_mutation`` one frame of the rows they produce.

Mirrors the reference's write execution, which splits a mutation's
rows into data rows and change rows by ``_change_type`` (reference:
crates/core/src/operations/write/execution.rs:888-905), and its CDC
tracker (operations/cdc.rs:14-51): when
``delta.enableChangeDataFeed=true`` the change rows land as parquet
under ``_change_data/`` and AddCDCFile actions commit alongside the
data actions. ``write_mutation`` alone picks the writer: the fused
one-job data+CDC writer, the two-write fallback for VARIANT tables, or
a data-only write. Readers synthesize insert/delete rows for plain
append / overwrite commits (see operators/cdf.py).
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from delta_rs_spark.log.actions import AddCDCFile
from delta_rs_spark.log.snapshot import Snapshot

CHANGE_TYPE_COL = "_change_type"
CDC_DIR = "_change_data"

# Routing rule for a mutation's rows — the reference's split
# (reference: crates/core/src/operations/write/execution.rs:888-905):
# the data writer takes every row whose _change_type is NOT one of
# these (the column itself is removed before writing) ...
_DATA_EXCLUDE = ("delete", "source_delete", "update_preimage")
# ... and the CDC writer takes the rows whose _change_type IS one of
# these (keeping the column). "insert"/"update_postimage" rows land in
# BOTH sinks — one evaluated row serves the table file and the change
# file.
_CDC_INCLUDE = ("delete", "insert", "update_preimage", "update_postimage")


def is_data_row(ct):
    """Whether a row tagged ``ct`` belongs in a data file: a NULL tag (a
    copied row) or any tag outside _DATA_EXCLUDE. ``ct`` is a Spark
    Column, or a pyarrow array inside the fused writer's tasks."""
    if isinstance(ct, Column):
        return ct.isNull() | ~ct.isin(*_DATA_EXCLUDE)
    import pyarrow as pa
    import pyarrow.compute as pc

    # is_in yields null for a NULL tag
    return pc.fill_null(
        pc.invert(pc.is_in(ct, value_set=pa.array(_DATA_EXCLUDE))), True
    )


def cdf_enabled(snapshot: Snapshot) -> bool:
    return (
        snapshot.configuration.get("delta.enableChangeDataFeed", "false").lower()
        == "true"
    )


def can_fuse_cdc_write(snapshot: Snapshot) -> bool:
    """Whether ``write_mutation`` may use the single-job fused data+CDC
    writer: every table except one with VARIANT columns, which pyarrow
    cannot write inside the fused writer's tasks."""
    return '"variant"' not in (snapshot.schema_string or "").lower()


def write_mutation(
    df: DataFrame, snapshot: Snapshot, validate=None
) -> tuple[list, list[AddCDCFile]]:
    """Write one mutation's rows into ``snapshot``'s table; return (data
    Adds, AddCDCFiles).

    ``df`` holds table columns, plus row tracking's hidden columns when
    the table has them, plus an optional ``_change_type``: NULL for a
    copied row, else insert / delete / update_preimage /
    update_postimage. Its rows are routed by is_data_row and
    _CDC_INCLUDE. Without the column, or on a table without CDF, only
    the data rows are written. ``validate`` (no-arg callable) runs
    after the data files are written to staging and before any leaves
    it; a frame gated by writer.gate_rules is checked over every row by
    the first write."""
    from delta_rs_spark.writer import write_files

    table_path, part_cols = snapshot.table_path, snapshot.partition_columns

    def write_data(data: DataFrame) -> list:
        return write_files(
            data,
            table_path,
            part_cols,
            snapshot.configuration,
            snapshot.schema_string,
            validate=validate,
        )

    ct = F.col(CHANGE_TYPE_COL)
    if CHANGE_TYPE_COL not in df.columns:
        return write_data(df), []
    if not cdf_enabled(snapshot):
        return write_data(df.filter(is_data_row(ct)).drop(CHANGE_TYPE_COL)), []
    if can_fuse_cdc_write(snapshot):
        return write_data_and_change_files(
            df, table_path, part_cols, snapshot, validate=validate
        )
    # VARIANT: two writes read the frame, so it is pinned and both see
    # one evaluation (identity values included)
    df = df.persist()
    try:
        adds = write_data(df.filter(is_data_row(ct)).drop(CHANGE_TYPE_COL))
        return adds, write_change_data(df.filter(ct.isin(*_CDC_INCLUDE)), snapshot)
    finally:
        df.unpersist(False)


def write_data_and_change_files(
    df, table_path: str, part_cols: list[str], snapshot: Snapshot, validate=None
) -> tuple[list, list[AddCDCFile]]:
    """ONE Spark job writes a mutation's rewritten data files AND its
    change-data files from a single evaluation of ``df`` (guide §1.2 /
    §8: decide-and-place in one pass; VERDICT r12 #2).

    ``df`` must carry ``_change_type`` (string): NULL for plain
    survivor/copy rows, else one of insert / delete / update_preimage /
    update_postimage. Rows are routed to the two sinks by the
    reference's rule (see _DATA_EXCLUDE/_CDC_INCLUDE above); each task
    writes both kinds of parquet files itself via pyarrow, so the input
    is scanned exactly once, nothing is persisted, and the mutation
    pays one write job instead of two.

    ``validate`` (no-arg callable) runs after the job has written every
    file into staging and before any file leaves it; if it raises, the
    staging directory is discarded and the error propagates.

    Returns (data Adds with footer stats, AddCDCFiles). Layout is
    byte-compatible with write_files + write_change_data: data files in
    Hive ``k=v`` dirs (partition columns stripped from file contents),
    CDC files under ``_change_data/`` with ``_change_type`` inside and
    row-tracking's hidden materialized columns dropped."""
    import json as _json

    from pyspark.sql import types as T

    from delta_rs_spark.plans import column_mapping as cmap
    from delta_rs_spark.plans.row_tracking import materialized_names
    from delta_rs_spark.writer import _encode_partition_value, data_file_adds

    cfg = snapshot.configuration
    schema = T.StructType.fromJson(_json.loads(snapshot.schema_string))
    hidden = [c for c in df.columns if c in materialized_names(cfg)]
    if cmap.mapping_mode(cfg) != "none":
        df = cmap.rename_to_physical(
            df, schema, extra_cols=hidden + [CHANGE_TYPE_COL]
        )
        phys = cmap.logical_to_physical(schema)
        part_cols = [phys.get(c, c) for c in part_cols]

    pv_names: list[str] = []
    work = df
    if part_cols:
        # co-locate each partition's rows into few tasks (same map-side
        # file-count control as write_files) and carry the DIRECTORY
        # string form of every partition value alongside the row — the
        # Delta serialization of a partition value is its SQL string
        # cast, which Spark's k=v readers parse back
        pv_names = [f"__pv_{i}" for i in range(len(part_cols))]
        work = df.repartition(*[F.col(f"`{c}`") for c in part_cols]).select(
            "*",
            *[
                F.col(f"`{c}`").cast("string").alias(n)
                for c, n in zip(part_cols, pv_names)
            ],
        )

    stage = os.path.join(table_path, f"_staging_fused_{uuid.uuid4().hex}")
    ct_col = CHANGE_TYPE_COL
    data_drop = list(pv_names) + list(part_cols) + [ct_col]
    cdc_drop = list(pv_names) + list(part_cols) + list(hidden)
    n_parts = len(part_cols)
    cdc_include = _CDC_INCLUDE

    def _task(batches):
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        writers: dict = {}  # (kind, pv_tuple) -> (ParquetWriter, path)

        def _write(kind: str, tbl: "pa.Table") -> None:
            drop = data_drop if kind == "d" else cdc_drop
            if n_parts:
                import pandas as pd

                kdf = tbl.select(pv_names).to_pandas()
                grouped = kdf.groupby(pv_names, dropna=False, sort=False)
                for pv_key, idx in grouped.indices.items():
                    if n_parts == 1:
                        pv_key = (pv_key,)
                    pv = tuple(
                        None if (v is None or v != v) else str(v)
                        for v in pv_key
                    )
                    piece = tbl.take(idx).drop_columns(
                        [c for c in drop if c in tbl.column_names]
                    )
                    _append(kind, pv, piece)
            else:
                _append(
                    kind,
                    (),
                    tbl.drop_columns([c for c in drop if c in tbl.column_names]),
                )

        def _append(kind: str, pv: tuple, piece: "pa.Table") -> None:
            if piece.num_rows == 0:
                return
            key = (kind, pv)
            ent = writers.get(key)
            if ent is None:
                fn = os.path.join(
                    stage, f"{kind}-{uuid.uuid4().hex}.snappy.parquet"
                )
                ent = (
                    pq.ParquetWriter(fn, piece.schema, compression="snappy"),
                    fn,
                )
                writers[key] = ent
            ent[0].write_table(piece)

        for batch in batches:
            tbl = pa.Table.from_batches([batch])
            ct = tbl[ct_col]
            # is_in yields null for a NULL tag: no change row
            cdc_mask = pc.fill_null(
                pc.is_in(ct, value_set=pa.array(cdc_include)), False
            )
            _write("d", tbl.filter(is_data_row(ct)))
            _write("c", tbl.filter(cdc_mask))

        out_kind, out_path, out_pv = [], [], []
        for (kind, pv), (w, fn) in writers.items():
            w.close()
            out_kind.append(kind)
            out_path.append(fn)
            out_pv.append(_json.dumps(list(pv)))
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(out_kind, type=pa.string()),
                pa.array(out_path, type=pa.string()),
                pa.array(out_pv, type=pa.string()),
            ],
            names=["kind", "path", "pv"],
        )

    cdc_out_dir = os.path.join(table_path, CDC_DIR)
    moved_data: list[tuple[str, str, dict[str, str | None]]] = []
    cdc_actions: list[AddCDCFile] = []
    os.makedirs(stage, exist_ok=True)
    try:
        file_rows = work.mapInArrow(
            _task, "kind string, path string, pv string"
        ).collect()
        if validate is not None:
            validate()
        for r in file_rows:
            pv_list = _json.loads(r["pv"])
            part_vals = dict(zip(part_cols, pv_list))
            seg = [
                f"{c}={_encode_partition_value(v)}"
                for c, v in zip(part_cols, pv_list)
            ]
            if r["kind"] == "d":
                dst_dir = os.path.join(table_path, *seg) if seg else table_path
                os.makedirs(dst_dir, exist_ok=True)
                dst = os.path.join(
                    dst_dir, f"part-{uuid.uuid4().hex}.snappy.parquet"
                )
                os.rename(r["path"], dst)
                moved_data.append(
                    (dst, os.path.relpath(dst, table_path), part_vals)
                )
            else:
                dst_dir = os.path.join(cdc_out_dir, *seg) if seg else cdc_out_dir
                os.makedirs(dst_dir, exist_ok=True)
                dst = os.path.join(
                    dst_dir, f"cdc-{uuid.uuid4().hex}.snappy.parquet"
                )
                os.rename(r["path"], dst)
                cdc_actions.append(
                    AddCDCFile(
                        path=os.path.relpath(dst, table_path).replace(
                            os.sep, "/"
                        ),
                        size=os.path.getsize(dst),
                        partition_values=part_vals,
                    )
                )
    finally:
        shutil.rmtree(stage, ignore_errors=True)

    adds = data_file_adds(df.sparkSession, moved_data, cfg, snapshot.schema_string)
    return adds, cdc_actions


def write_change_data(change_df: DataFrame, snapshot: Snapshot) -> list[AddCDCFile]:
    """Write change rows (carrying _change_type) under _change_data/
    with Spark's writer, in the fused writer's layout: PHYSICAL column
    names on column-mapped tables (Delta protocol: change data follows
    the table's column mapping; load_cdf renames back); on partitioned
    tables one ``k=v`` directory per partition, the partition columns
    kept out of the files, their values on the AddCDCFile action's
    partitionValues, which load_cdf prunes by (reference
    load_cdf.rs:357-359); row tracking's hidden columns dropped."""
    import json as _json

    from pyspark.sql import types as T

    from delta_rs_spark.plans import column_mapping as cmap
    from delta_rs_spark.plans.row_tracking import materialized_names
    from delta_rs_spark.writer import move_staged

    cfg = snapshot.configuration
    # row tracking's hidden materialized columns ride rewrite frames;
    # change consumers never see physical row ids. The names come from
    # the table CONFIGURATION — a foreign writer may not follow our
    # '_row-id-col-' prefix convention.
    hidden = [c for c in change_df.columns if c in materialized_names(cfg)]
    if hidden:
        change_df = change_df.drop(*hidden)
    part_cols = snapshot.partition_columns
    if cmap.mapping_mode(cfg) != "none":
        schema = T.StructType.fromJson(_json.loads(snapshot.schema_string))
        change_df = cmap.rename_to_physical(
            change_df, schema, extra_cols=[CHANGE_TYPE_COL]
        )
        phys = cmap.logical_to_physical(schema)
        part_cols = [phys.get(c, c) for c in part_cols]
    stage = os.path.join(snapshot.table_path, f"_staging_cdc_{uuid.uuid4().hex}")
    w = change_df.write.mode("overwrite")
    if part_cols:
        w = w.partitionBy(*part_cols)
    try:
        w.parquet(stage)
        moved = move_staged(stage, snapshot.table_path, "cdc", CDC_DIR)
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    return [
        AddCDCFile(
            path=rel.replace(os.sep, "/"),
            size=os.path.getsize(dst),
            partition_values=part_vals,
        )
        for dst, rel, part_vals in moved
    ]
