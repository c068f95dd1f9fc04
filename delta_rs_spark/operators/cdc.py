"""The one mutation writer: DELETE, UPDATE and MERGE hand
``write_mutation`` one frame of the rows they produce.

Mirrors the reference's write execution, which splits a mutation's
rows into data rows and change rows by ``_change_type`` (reference:
crates/core/src/operations/write/execution.rs:888-905), and its CDC
tracker (operations/cdc.rs:14-51): when
``delta.enableChangeDataFeed=true`` the change rows land as parquet
under ``_change_data/`` and AddCDCFile actions commit alongside the
data actions. ``write_mutation`` alone picks the writer: the fused
one-job data+CDC writer for every table with CDF, else a data-only
write. Both stage their files and move them in with
``writer.move_staged``. Readers synthesize insert/delete rows for
plain append / overwrite commits (see operators/cdf.py).
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

    if CHANGE_TYPE_COL in df.columns and cdf_enabled(snapshot):
        return write_data_and_change_files(df, snapshot, validate=validate)
    if CHANGE_TYPE_COL in df.columns:
        df = df.filter(is_data_row(F.col(CHANGE_TYPE_COL))).drop(CHANGE_TYPE_COL)
    adds = write_files(
        df,
        snapshot.table_path,
        snapshot.partition_columns,
        snapshot.configuration,
        snapshot.schema_string,
        validate=validate,
    )
    return adds, []


def write_data_and_change_files(
    df: DataFrame, snapshot: Snapshot, validate=None
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

    Each task writes into Hive ``k=v`` directories under the staging
    directory's ``d/`` (data) and ``c/`` (change data); the driver moves
    both trees in with ``writer.move_staged``, so the layout is
    write_files': data files in ``k=v`` dirs (partition columns
    stripped from file contents), CDC files under ``_change_data/``
    with ``_change_type`` inside and row-tracking's hidden materialized
    columns dropped. VARIANT columns reach the tasks as
    ``struct<value, metadata>`` binaries, which Spark reads back as
    VARIANT.

    Returns (data Adds with footer stats, AddCDCFiles)."""
    import json as _json

    from pyspark.sql import types as T

    from delta_rs_spark.plans import column_mapping as cmap
    from delta_rs_spark.plans.row_tracking import materialized_names
    from delta_rs_spark.writer import _encode_partition_value, data_file_adds, move_staged

    table_path, part_cols = snapshot.table_path, snapshot.partition_columns
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
        # file-count control as write_files) and carry the string form
        # of every partition value alongside the row: the Delta
        # serialization of a partition value is its SQL string cast
        pv_names = [f"__pv_{i}" for i in range(len(part_cols))]
        work = df.repartition(*[F.col(f"`{c}`") for c in part_cols]).select(
            "*",
            *[
                F.col(f"`{c}`").cast("string").alias(n)
                for c, n in zip(part_cols, pv_names)
            ],
        )

    stage = os.path.join(table_path, f"_staging_fused_{uuid.uuid4().hex}")
    data_drop = [*pv_names, *part_cols, CHANGE_TYPE_COL]
    cdc_drop = [*pv_names, *part_cols, *hidden]

    def _task(batches):
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        writers: dict = {}  # (kind, k=v segments) -> ParquetWriter

        def _write(kind: str, tbl: "pa.Table") -> None:
            drop = [c for c in (data_drop if kind == "d" else cdc_drop) if c in tbl.column_names]
            if not pv_names:
                _append((kind,), tbl.drop_columns(drop))
                return
            keys = tbl.select(pv_names).to_pandas()
            groups = keys.groupby(pv_names, dropna=False, sort=False).indices
            for pv, idx in groups.items():
                pv = pv if isinstance(pv, tuple) else (pv,)
                segs = [
                    f"{c}={_encode_partition_value(None if v is None or v != v else v)}"
                    for c, v in zip(part_cols, pv)
                ]
                _append((kind, *segs), tbl.take(idx).drop_columns(drop))

        def _append(segs: tuple, piece: "pa.Table") -> None:
            if piece.num_rows == 0:
                return
            w = writers.get(segs)
            if w is None:
                # directories below the driver's stage only: a task that
                # outlives a failed job must not recreate a removed stage
                d = stage
                for seg in segs:
                    d = os.path.join(d, seg)
                    try:
                        os.mkdir(d)
                    except FileExistsError:
                        pass
                fn = os.path.join(d, f"{uuid.uuid4().hex}.snappy.parquet")
                w = writers[segs] = pq.ParquetWriter(fn, piece.schema, compression="snappy")
            w.write_table(piece)

        for batch in batches:
            tbl = pa.Table.from_batches([batch])
            ct = tbl[CHANGE_TYPE_COL]
            # is_in yields null for a NULL tag: no change row
            cdc_mask = pc.fill_null(pc.is_in(ct, value_set=pa.array(_CDC_INCLUDE)), False)
            _write("d", tbl.filter(is_data_row(ct)))
            _write("c", tbl.filter(cdc_mask))
        for w in writers.values():
            w.close()
        yield from ()

    os.makedirs(stage)
    try:
        work.mapInArrow(_task, "n long").collect()
        if validate is not None:
            validate()
        moved = move_staged(os.path.join(stage, "d"), table_path, "part")
        moved_cdc = move_staged(os.path.join(stage, "c"), table_path, "cdc", CDC_DIR)
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    adds = data_file_adds(df.sparkSession, moved, cfg, snapshot.schema_string)
    return adds, [
        AddCDCFile(
            path=rel.replace(os.sep, "/"),
            size=os.path.getsize(dst),
            partition_values=part_vals,
        )
        for dst, rel, part_vals in moved_cdc
    ]
