"""Change-data-file writer shared by DELETE/UPDATE/MERGE/WRITE.

Mirrors the reference's CDC tracker (reference:
crates/core/src/operations/cdc.rs:14-51): when
``delta.enableChangeDataFeed=true``, mutation operators persist the
changed rows (with a ``_change_type`` column) as parquet under
``_change_data/`` and commit AddCDCFile actions alongside the data
actions. Readers synthesize insert/delete rows for plain append /
overwrite commits (see operators/cdf.py).
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame

from delta_rs_spark.log.actions import AddCDCFile
from delta_rs_spark.log.snapshot import Snapshot

CHANGE_TYPE_COL = "_change_type"
CDC_DIR = "_change_data"

# Routing rule for the fused data+CDC write — the reference's split
# (reference: crates/core/src/operations/write/execution.rs:888-905):
# the data writer takes every row whose _change_type is NOT one of
# these (the column itself is removed before writing) ...
_DATA_EXCLUDE = ("delete", "source_delete", "update_preimage")
# ... and the CDC writer takes the rows whose _change_type IS one of
# these (keeping the column). "insert"/"update_postimage" rows land in
# BOTH sinks — one evaluated row serves the table file and the change
# file.
_CDC_INCLUDE = ("delete", "insert", "update_preimage", "update_postimage")


def cdf_enabled(snapshot: Snapshot) -> bool:
    return (
        snapshot.configuration.get("delta.enableChangeDataFeed", "false").lower()
        == "true"
    )


def can_fuse_cdc_write(snapshot: Snapshot) -> bool:
    """Whether the single-job fused data+CDC writer applies to this
    table: every table except one with VARIANT columns, which pyarrow
    cannot write inside the fused writer's tasks. Write rules ride the
    fused write through the ``validate`` hook (writer.gate_rules)."""
    return '"variant"' not in (snapshot.schema_string or "").lower()


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

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from delta_rs_spark.log.actions import Add
    from delta_rs_spark.log.stats import (
        collect_stats_parallel,
        stats_config,
        stats_json,
    )
    from delta_rs_spark.plans import column_mapping as cmap
    from delta_rs_spark.plans.row_tracking import materialized_names
    from delta_rs_spark.writer import _encode_partition_value

    cfg = snapshot.configuration
    schema = T.StructType.fromJson(_json.loads(snapshot.schema_string))
    hidden = [c for c in df.columns if c in materialized_names(cfg)]
    mapped = cmap.mapping_mode(cfg) != "none"
    if mapped:
        df = cmap.rename_to_physical(
            df, schema, extra_cols=hidden + [CHANGE_TYPE_COL]
        )
        phys = cmap.logical_to_physical(schema)
        part_cols = [phys.get(c, c) for c in part_cols]

    pv_names: list[str] = []
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
    else:
        # Size-adaptive output partitioning (guide §6): a frame read
        # from a cache keeps one partition per cached block, which AQE
        # cannot re-coalesce (a 1-file MERGE over a pinned frame once
        # emitted 32+1 tiny files). REBALANCE re-splits by the advisory
        # partition size: tiny rewrites collapse to one file, 100 TB
        # rewrites split to advisory-sized files. Round-robin rebalance
        # sorts before repartitioning (SPARK-23207), so task retries
        # stay deterministic.
        work = df.hint("rebalance")

    stage = os.path.join(table_path, f"_staging_fused_{uuid.uuid4().hex}")
    os.makedirs(stage, exist_ok=True)
    ct_col = CHANGE_TYPE_COL
    data_drop = list(pv_names) + list(part_cols) + [ct_col]
    cdc_drop = list(pv_names) + list(part_cols) + list(hidden)
    n_parts = len(part_cols)
    data_exclude, cdc_include = _DATA_EXCLUDE, _CDC_INCLUDE

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
            # NULL _change_type = plain data row: is_in yields null
            # there, so fill data-side nulls to True, cdc-side to False
            data_mask = pc.fill_null(
                pc.invert(pc.is_in(ct, value_set=pa.array(data_exclude))),
                True,
            )
            cdc_mask = pc.fill_null(
                pc.is_in(ct, value_set=pa.array(cdc_include)), False
            )
            _write("d", tbl.filter(data_mask))
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

    file_rows = work.mapInArrow(
        _task, "kind string, path string, pv string"
    ).collect()

    cdc_out_dir = os.path.join(table_path, CDC_DIR)
    moved_data: list[tuple[str, str, dict[str, str | None]]] = []
    cdc_actions: list[AddCDCFile] = []
    try:
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

    # footer stats for the data files — same contract as write_files
    n_idx, stats_cols = stats_config(cfg)
    if stats_cols and mapped:
        phys = cmap.logical_to_physical(schema)
        stats_cols = [phys.get(c, c) for c in stats_cols]
    stats = collect_stats_parallel([m[0] for m in moved_data], n_idx, stats_cols)
    hidden_stat_cols = set(materialized_names(cfg))
    adds: list[Add] = []
    for (abs_path, rel_path, part_vals), st in zip(moved_data, stats):
        if st is None:
            # the fused path never writes variant columns (can_fuse
            # gate) and never emits 0-row files, so a missing footer
            # stat means an unexpected parse failure — recover the row
            # count directly rather than misreading the file as empty
            import pyarrow.parquet as _pq

            st = {"numRecords": _pq.ParquetFile(abs_path).metadata.num_rows}
        for k in ("minValues", "maxValues", "nullCount"):
            d = st.get(k)
            if d:
                for name in list(d):
                    if name in hidden_stat_cols:
                        del d[name]
        if st.get("numRecords") == 0:
            os.unlink(abs_path)
            continue
        adds.append(
            Add(
                path=rel_path.replace(os.sep, "/"),
                size=os.path.getsize(abs_path),
                modification_time=int(os.path.getmtime(abs_path) * 1000),
                data_change=True,
                partition_values=part_vals,
                stats=stats_json(st),
            )
        )
    return adds, cdc_actions


def write_change_data(change_df: DataFrame, table_path: str) -> list[AddCDCFile]:
    """Write rows (must already carry _change_type) under _change_data/.
    On column-mapped tables CDC files carry PHYSICAL column names like
    the data files (Delta protocol: change data follows the table's
    column mapping); load_cdf renames back.

    On PARTITIONED tables the stage write splits by DUPLICATED partition
    key columns — the real columns stay inside the files (readers stay
    self-contained, no directory decoding on read) while the per-file
    partitionValues land on the AddCDCFile action, which is what lets
    load_cdf prune change files by a partition predicate (reference
    load_cdf.rs:357-359 prunes change_files the same way)."""
    from pyspark.sql import functions as F

    from delta_rs_spark.plans import column_mapping as cmap

    from delta_rs_spark.log import snapshot as snap_mod
    from delta_rs_spark.plans.row_tracking import materialized_names

    try:
        snap = snap_mod.load_snapshot(table_path)
    except Exception:
        snap = None

    # row tracking's hidden materialized columns ride rewrite frames;
    # CDC files carry TABLE columns only (change consumers never see
    # physical row ids). The names come from the table CONFIGURATION
    # (delta.rowTracking.materialized*ColumnName) — a foreign writer may
    # not follow our '_row-id-col-' prefix convention.
    hidden = [
        c
        for c in change_df.columns
        if c in materialized_names(snap.configuration if snap else None)
    ]
    if hidden:
        change_df = change_df.drop(*hidden)

    part_phys: list[str] = []
    try:
        if snap is None:
            raise ValueError("no snapshot")
        mapped = cmap.mapping_mode(snap.configuration) != "none"
        if mapped:
            import json as _json

            from pyspark.sql import types as T

            schema = T.StructType.fromJson(_json.loads(snap.schema_string))
            # rename the table columns, carry _change_type through as-is
            cols = []
            for f in schema.fields:
                c = F.col(f"`{f.name}`")
                pt = cmap._physical_type(f.dataType)
                if isinstance(f.dataType, (T.StructType, T.ArrayType, T.MapType)):
                    c = c.cast(pt)
                cols.append(c.alias(cmap._physical_name(f)))
            change_df = change_df.select(*cols, F.col(CHANGE_TYPE_COL))
            phys = cmap.logical_to_physical(schema)
            part_phys = [phys.get(c, c) for c in snap.partition_columns]
        else:
            part_phys = list(snap.partition_columns)
    except Exception:
        part_phys = []
    stage = os.path.join(table_path, f"_staging_cdc_{uuid.uuid4().hex}")
    stage_keys: list[str] = []
    if part_phys and all(p in change_df.columns for p in part_phys):
        for i, p in enumerate(part_phys):
            change_df = change_df.withColumn(f"__cdc_p_{i}", F.col(f"`{p}`"))
        stage_keys = [f"__cdc_p_{i}" for i in range(len(part_phys))]
        change_df.write.mode("overwrite").partitionBy(*stage_keys).parquet(stage)
    else:
        part_phys = []
        change_df.write.mode("overwrite").parquet(stage)
    out_dir = os.path.join(table_path, CDC_DIR)
    os.makedirs(out_dir, exist_ok=True)
    actions: list[AddCDCFile] = []
    for root, _dirs, files in os.walk(stage):
        for fn in files:
            if not fn.endswith(".parquet"):
                continue
            src = os.path.join(root, fn)
            if os.path.getsize(src) == 0:
                continue
            part_vals: dict[str, str | None] = {}
            rel_dir = os.path.relpath(root, stage)
            dst_dir = out_dir
            if part_phys and rel_dir != ".":
                from delta_rs_spark.writer import (
                    _decode_partition_dir,
                    _encode_partition_value,
                )

                for seg in rel_dir.split(os.sep):
                    k, v = _decode_partition_dir(seg)
                    part_vals[part_phys[int(k.rsplit("_", 1)[1])]] = v
                # delta-spark's CDC layout: nested partition dirs under
                # _change_data/ with the REAL column names
                dst_dir = os.path.join(
                    out_dir,
                    *[
                        f"{c}={_encode_partition_value(v)}"
                        for c, v in part_vals.items()
                    ],
                )
                os.makedirs(dst_dir, exist_ok=True)
            dst = os.path.join(dst_dir, f"cdc-{uuid.uuid4().hex}.snappy.parquet")
            os.rename(src, dst)
            rel = os.path.relpath(dst, table_path).replace(os.sep, "/")
            actions.append(
                AddCDCFile(
                    path=rel, size=os.path.getsize(dst), partition_values=part_vals
                )
            )
    shutil.rmtree(stage, ignore_errors=True)
    return actions
