"""write_deltalake — append / overwrite / replaceWhere writes.

API mirrors the reference's writer surface
(reference: python/deltalake/writer/writer.py:66-168) but the data plane
is Spark: the DataFrame is written with Spark's parallel parquet writer
into a staging directory (Hive ``k=v`` layout via ``partitionBy`` —
exactly the layout the Delta protocol encodes in Add.path), files are
moved into the table root, per-file stats are collected from parquet
footers only (no data re-read; reference: crates/core/src/writer/stats.rs),
and a single transaction commits the Add/Remove actions.

Scale notes: the write itself is fully distributed (Spark tasks write
files in parallel); only footer-stat collection and the log commit run
on the driver, both O(num files). Partitioned writes hash-repartition by
the partition columns first (reference: write/execution.rs:655-678) so
each partition is produced by few tasks instead of every task writing a
sliver of every partition.
"""

from __future__ import annotations

import os
import shutil
import urllib.parse
import uuid
from dataclasses import replace
from typing import Any, Callable

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from delta_rs_spark.log import commit as commit_mod
from delta_rs_spark.log import snapshot as snap_mod
from delta_rs_spark.log.actions import Add, CommitInfo, Metadata, Txn, now_ms
from delta_rs_spark.log.commit import DeltaError, TransactionInfo
from delta_rs_spark.log.stats import collect_stats_parallel, stats_config, stats_json
from delta_rs_spark.operators.util import local_table_path

_NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"


class TableExistsError(DeltaError):
    pass


class SchemaMismatchError(DeltaError):
    pass


def _signed_arrow_type(t):
    """Delta has no unsigned types: map uintN -> intN at the SAME width
    (the reference's arrow ingest does exactly this, and its safe cast
    errors on overflow — python/tests/test_casting.py pins uint8 value
    200 refusing to become an Int8). Recurses into nested types."""
    import pyarrow as pa

    if pa.types.is_uint8(t):
        return pa.int8()
    if pa.types.is_uint16(t):
        return pa.int16()
    if pa.types.is_uint32(t):
        return pa.int32()
    if pa.types.is_uint64(t):
        return pa.int64()
    if pa.types.is_list(t):
        return pa.list_(_signed_arrow_type(t.value_type))
    if pa.types.is_large_list(t):
        return pa.large_list(_signed_arrow_type(t.value_type))
    if pa.types.is_map(t):
        return pa.map_(_signed_arrow_type(t.key_type), _signed_arrow_type(t.item_type))
    if pa.types.is_struct(t):
        return pa.struct(
            [pa.field(f.name, _signed_arrow_type(f.type), f.nullable) for f in t]
        )
    return t


def _ingest_arrow(table, spark: SparkSession) -> DataFrame:
    """Arrow table -> Spark, preserving integer widths (int8 -> ByteType
    etc. — the to_pandas round-trip used to widen everything to LONG).
    Unsigned columns are overflow-checked into same-width signed."""
    import pyarrow as pa

    signed = pa.schema(
        [
            pa.field(f.name, _signed_arrow_type(f.type), f.nullable)
            for f in table.schema
        ]
    )
    if signed != table.schema:
        try:
            table = table.cast(signed)  # safe: raises on overflow
        except pa.lib.ArrowInvalid as e:
            raise DeltaError(f"Cast error: {e}") from e
    try:
        return spark.createDataFrame(table)
    except Exception:
        # older Spark without direct-arrow createDataFrame
        return spark.createDataFrame(table.to_pandas())


def _to_spark_df(data: Any, spark: SparkSession | None) -> DataFrame:
    if isinstance(data, DataFrame):
        return data
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        raise DeltaError("a SparkSession is required to convert non-Spark input")
    try:
        import pandas as pd

        if isinstance(data, pd.DataFrame):
            return spark.createDataFrame(data)
    except ImportError:
        pass
    try:
        import pyarrow as pa

        if isinstance(data, pa.RecordBatch):
            data = pa.Table.from_batches([data])
        if isinstance(data, pa.RecordBatchReader):
            data = data.read_all()
        if isinstance(data, pa.Table):
            return _ingest_arrow(data, spark)
    except ImportError:
        pass
    return spark.createDataFrame(data)


def _decode_partition_dir(name: str) -> tuple[str, str | None]:
    k, _, v = name.partition("=")
    if v == _NULL_PARTITION:
        return k, None
    return k, urllib.parse.unquote(v)


def _encode_partition_value(v: str | None) -> str:
    if v is None:
        return _NULL_PARTITION
    return urllib.parse.quote(str(v), safe="")


def _spark_stats_fallback(
    spark: SparkSession,
    paths: list[str],
    stats: list,
    num_indexed_cols: int,
    stats_columns: list[str] | None,
) -> list:
    """Per-file Delta stats via one Spark aggregation, for files whose
    parquet footer pyarrow cannot parse (VARIANT logical type). Same
    contract as log.stats.collect_file_stats: numRecords + min/max/
    nullCount for the first-N (or name-selected) TOP-LEVEL columns of
    the files; variant/nested/binary columns carry no min/max (they do
    not in footer stats either). One scan of only the affected files,
    grouped by _metadata.file_path — no driver-side row materialization
    beyond |files| stat rows."""
    from delta_rs_spark.log.stats import _scalar

    todo = [i for i, st in enumerate(stats) if st is None]
    files = spark.read.parquet(*[paths[i] for i in todo])
    # the files' own columns: partition values are directory-encoded,
    # and a read of explicit file paths infers no partition columns
    fields = files.schema.fields
    if stats_columns is not None:
        eligible = [f for f in fields if f.name in set(stats_columns)]
    elif num_indexed_cols < 0:
        eligible = list(fields)
    else:
        eligible = list(fields[:num_indexed_cols])
    atomic = (
        T.NumericType, T.StringType, T.DateType, T.TimestampType,
        T.TimestampNTZType, T.BooleanType,
    )
    stat_fields = [f for f in eligible if isinstance(f.dataType, atomic)]

    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, f in enumerate(stat_fields):
        c = F.col(f"`{f.name}`")
        aggs.append(F.min(c).alias(f"__mn{i}"))
        aggs.append(F.max(c).alias(f"__mx{i}"))
        aggs.append(F.sum(c.isNull().cast("long")).alias(f"__nc{i}"))
    rows = (
        files.groupBy(F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1).alias("__file"))
        .agg(*aggs)
        .collect()
    )
    by_name = {}
    for r in rows:
        d = r.asDict()
        st = {
            "numRecords": int(d["__n"]),
            "minValues": {},
            "maxValues": {},
            "nullCount": {},
        }
        for i, f in enumerate(stat_fields):
            mn, mx = _scalar(d[f"__mn{i}"]), _scalar(d[f"__mx{i}"])
            if mn is not None:
                st["minValues"][f.name] = mn
            if mx is not None:
                st["maxValues"][f.name] = mx
            st["nullCount"][f.name] = int(d[f"__nc{i}"] or 0)
        by_name[d["__file"]] = st
    out = list(stats)
    for i in todo:
        out[i] = by_name.get(os.path.basename(paths[i]))
    return out


def _estimate_rows_for_bytes(df: DataFrame, target_bytes: int) -> int:
    """Rows per file that land near ``target_bytes`` on disk: serialize a
    bounded driver-side sample to an in-memory parquet buffer and scale.
    The sample is <= 1024 rows regardless of table size."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    sample = df.limit(1024).toPandas()
    if sample.empty:
        return 0
    buf = io.BytesIO()
    pq.write_table(pa.Table.from_pandas(sample), buf, compression="snappy")
    bytes_per_row = max(buf.tell() / len(sample), 1.0)
    return max(int(target_bytes / bytes_per_row), 1)


def move_staged(
    stage: str, table_path: str, prefix: str, subdir: str = ""
) -> list[tuple[str, str, dict[str, str | None]]]:
    """Move every parquet file Spark wrote under ``stage`` into
    ``table_path/subdir``, keeping its Hive ``k=v`` directories, as
    ``<prefix>-<uuid>.snappy.parquet``; return (absolute path, path
    relative to the table, partition values) per file. The caller
    removes the staging directory."""
    moved = []
    for root, _dirs, files in os.walk(stage):
        rel_dir = os.path.relpath(root, stage)
        segs = rel_dir.split(os.sep) if rel_dir != "." else []
        part_vals = dict(_decode_partition_dir(seg) for seg in segs)
        dst_dir = os.path.join(table_path, subdir, *segs)
        for fn in files:
            if not fn.endswith(".parquet"):
                continue
            os.makedirs(dst_dir, exist_ok=True)
            dst = os.path.join(dst_dir, f"{prefix}-{uuid.uuid4().hex}.snappy.parquet")
            os.rename(os.path.join(root, fn), dst)
            moved.append((dst, os.path.relpath(dst, table_path), part_vals))
    return moved


def data_file_adds(
    spark: SparkSession,
    moved: list[tuple[str, str, dict[str, str | None]]],
    configuration: dict[str, str] | None,
    table_schema_json: str,
) -> list[Add]:
    """Adds for data files just moved into the table, as (absolute path,
    path relative to the table, partition values): footer stats under
    the table's data-skipping configuration, whose column names are
    translated to the physical names the footers carry on column-mapped
    tables. A file without rows is deleted and gets no Add."""
    from delta_rs_spark.plans import column_mapping as cmap
    from delta_rs_spark.plans.row_tracking import materialized_names

    n_idx, stats_cols = stats_config(configuration)
    if stats_cols and cmap.mapping_mode(configuration or {}) != "none":
        import json as _json

        schema = T.StructType.fromJson(_json.loads(table_schema_json))
        phys = cmap.logical_to_physical(schema)
        stats_cols = [phys.get(c, c) for c in stats_cols]
    paths = [m[0] for m in moved]
    stats = collect_stats_parallel(paths, n_idx, stats_cols)
    if any(st is None for st in stats):
        # pyarrow could not read some footers (VARIANT logical type):
        # compute the same stats with ONE Spark aggregation over just
        # those files — Spark reads its own variant output fine
        stats = _spark_stats_fallback(spark, paths, stats, n_idx, stats_cols)
    # row tracking's hidden materialized columns are physical-only —
    # keep them out of the skipping stats (they are not queryable).
    # Resolve the CONFIGURED names (delta.rowTracking.materialized*
    # ColumnName): a table written by another engine may name them
    # without our '_row-id-col-' prefix convention.
    hidden = set(materialized_names(configuration))
    adds: list[Add] = []
    for (abs_path, rel_path, part_vals), st in zip(moved, stats):
        # a file still without stats after the fallback scanned exactly
        # these paths contributed no rows to the grouped count: empty
        if st is None or st.get("numRecords") == 0:
            os.unlink(abs_path)
            continue
        for k in ("minValues", "maxValues", "nullCount"):
            for name in list(st.get(k) or ()):
                if name in hidden:
                    del st[k][name]
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
    return adds


def write_files(
    df: DataFrame,
    table_path: str,
    partition_by: list[str],
    configuration: dict[str, str] | None,
    table_schema_json: str,
    max_records_per_file: int | None = None,
    writer_properties=None,
    preserve_layout: bool = False,
    validate=None,
) -> list[Add]:
    """Write df as parquet files into the table directory; return Adds.

    ``configuration`` and ``table_schema_json`` are the table's (for a
    create, the ones it is created with): column-mapped tables write
    PHYSICAL column names into parquet, partition dirs, and (via the
    footers) stats keys. The Spark write job is the first and only
    action on ``df``, so a frame gated by ``gate_rules`` is checked
    over every row it writes. ``writer_properties`` maps onto Spark
    parquet writer options (see
    properties.WriterProperties.spark_write_options). ``validate``
    (no-arg callable) runs after the Spark job has written the staging
    directory and before any file leaves it; if it raises, the staging
    directory is discarded and the error propagates."""
    from delta_rs_spark.plans import column_mapping as cmap

    if cmap.mapping_mode(configuration or {}) != "none":
        import json as _json

        schema = T.StructType.fromJson(_json.loads(table_schema_json))
        _extra = [
            c for c in df.columns if c not in {f.name for f in schema.fields}
        ]  # hidden physical columns (row tracking materialization)
        df = cmap.rename_to_physical(df, schema, extra_cols=_extra)
        phys = cmap.logical_to_physical(schema)
        partition_by = [phys.get(c, c) for c in partition_by]

    stage = os.path.join(table_path, f"_staging_{uuid.uuid4().hex}")
    writer = df
    if partition_by and not preserve_layout:
        # co-locate rows of one partition into few tasks (map-side file count
        # control; at cluster scale this is the difference between
        # tasks*partitions files and ~partitions files). preserve_layout
        # callers (z-order) arranged their own partitioning+sort — a hash
        # repartition here would destroy the clustering they just built.
        writer = df.repartition(*partition_by)
    w = writer.write.mode("overwrite")
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", str(max_records_per_file))
    if writer_properties is not None:
        for k, v in writer_properties.spark_write_options().items():
            w = w.option(k, v)
    if partition_by:
        w = w.partitionBy(*partition_by)
    # the stage goes on every path: a failed job, a failed validation
    # or a finished move
    try:
        w.parquet(stage)
        if validate is not None:
            validate()
        moved = move_staged(stage, table_path, "part")
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    return data_file_adds(df.sparkSession, moved, configuration, table_schema_json)


def _merge_schemas(existing: T.StructType, new: T.StructType) -> T.StructType:
    """Existing fields (by position) + brand-new fields appended
    (reference: kernel/schema/cast/merge_schema.rs)."""
    by_name = {f.name: f for f in new.fields}
    fields = []
    for f in existing.fields:
        nf = by_name.get(f.name)
        if nf is not None and nf.dataType != f.dataType:
            if not _can_widen(f.dataType, nf.dataType):
                raise SchemaMismatchError(
                    f"cannot merge column {f.name}: {f.dataType} vs {nf.dataType}"
                )
        fields.append(f)
    existing_names = {f.name for f in existing.fields}
    for f in new.fields:
        if f.name not in existing_names:
            fields.append(T.StructField(f.name, f.dataType, True))
    return T.StructType(fields)


def _can_widen(old: T.DataType, new: T.DataType) -> bool:
    return old == new


GENERATION_KEY = "delta.generationExpression"
INVARIANTS_KEY = "delta.invariants"


def _conform(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Cast/select df to the table schema (missing columns -> null, or the
    column's generation expression when one is declared)
    (reference: kernel/schema/cast/mod.rs:212 cast_record_batch;
    operations/write/generated_columns.rs:20-38)."""
    cols = []
    df_cols = {f.name: f for f in df.schema.fields}
    for f in schema.fields:
        gen_expr = (f.metadata or {}).get(GENERATION_KEY)
        if f.name in df_cols:
            src = df_cols[f.name]
            c = F.col(f.name)
            if src.dataType != f.dataType:
                c = c.cast(f.dataType)
            cols.append(c.alias(f.name))
        elif gen_expr:
            cols.append(F.expr(gen_expr).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    extra = [n for n in df_cols if n not in {f.name for f in schema.fields}]
    if extra:
        raise SchemaMismatchError(
            f"input has columns {extra} not in table schema; pass schema_mode='merge'"
        )
    return df.select(*cols)


def assignment_cast(expr: Column, field: T.StructField, safe: bool) -> Column:
    """An UPDATE or MERGE assignment's result -> its target column's
    type. Safe mode (the reference's error_on_type_mismatch=False) on a
    nullable target: try_cast, so a failed cast becomes NULL; otherwise
    the strict ANSI cast that errors on malformed values."""
    if safe and field.nullable:
        return expr.try_cast(field.dataType)
    return expr.cast(field.dataType)


def recompute_generated(
    df: DataFrame, schema: T.StructType, recompute_when
) -> DataFrame:
    """Recompute each generated column ``c`` of ``schema`` on the rows
    where ``recompute_when(c)`` holds (a Column, or None for never) —
    the rows an UPDATE or MERGE clause produced without assigning ``c``
    itself. Evaluated over the post-assignment projection, so the
    generation expressions see the new values (reference:
    write/generated_columns.rs). Every other column of ``df`` passes
    through in place."""
    conds = {}
    for f in schema.fields:
        gen_expr = (f.metadata or {}).get(GENERATION_KEY)
        cond = recompute_when(f.name) if gen_expr else None
        if cond is not None:
            conds[f.name] = F.when(cond, F.expr(gen_expr)).otherwise(F.col(f.name))
    if not conds:
        return df
    return df.select(
        *[
            conds[c].cast(schema[c].dataType).alias(c) if c in conds else F.col(f"`{c}`")
            for c in df.columns
        ]
    )


def _fails(sql: str) -> Column:
    """A row fails a SQL rule unless the rule is TRUE (NULL fails)."""
    return ~F.expr(sql).eqNullSafe(F.lit(True))


def write_rules(snapshot, schema: T.StructType | None = None) -> list[tuple[str, Column]]:
    """Every rule a committed row must satisfy, as ordered ``(label,
    violated)`` pairs: the table's CHECK constraints, then each field's
    generation expression and invariant (reference:
    crates/core/src/delta_datafusion/data_validation.rs, applied to every
    operation that produces rows). ``schema`` defaults to the snapshot's;
    a write that changes the schema passes the one it writes."""
    import json as _json

    from delta_rs_spark.operators.alter import table_constraints

    rules = [
        (f"CHECK constraint {name!r} ({expr}) violated", _fails(expr))
        for name, expr in table_constraints(snapshot.configuration).items()
    ]
    if schema is None:
        schema = T.StructType.fromJson(_json.loads(snapshot.schema_string))
    for f in schema.fields:
        meta = f.metadata or {}
        gen_expr = meta.get(GENERATION_KEY)
        if gen_expr:
            rules.append(
                (
                    f"generated column {f.name} != {gen_expr}",
                    ~F.col(f.name).eqNullSafe(F.expr(gen_expr).cast(f.dataType)),
                )
            )
        inv = meta.get(INVARIANTS_KEY)
        if inv:
            try:
                expr = _json.loads(inv)["expression"]["expression"]
            except (ValueError, KeyError, TypeError):
                expr = None
            if expr:
                rules.append((f"invariant violated on {f.name}: {expr}", _fails(expr)))
    return rules


def gate_rules(
    df: DataFrame, rules: list[tuple[str, Column]]
) -> tuple[DataFrame, Callable[[], None]]:
    """Make the write job itself check ``rules``: one ``observe()`` with
    one ``max`` per rule on the frame the writer consumes — no persist,
    no extra scan. Returns that frame and the check to pass as the
    writer's ``validate``, which raises the first violated rule's label
    before any file leaves staging. With no rules ``df`` is returned
    unchanged.

    The returned frame's FIRST action must be the write: an observation
    reports the first action that finishes, so an earlier sample
    (``limit().toPandas()``) would check the sample only. Rows whose
    ``_change_type`` keeps them out of data files (preimage and delete
    rows of a mutation frame, see cdc.is_data_row) are not checked. The
    writers shuffle the gated frame directly, so an observation dropped
    with its empty stage (see ``observed_metrics``) means no row reached
    the writer."""
    if not rules:
        return df, lambda: None
    from delta_rs_spark.operators.cdc import CHANGE_TYPE_COL, is_data_row

    live = F.lit(True)
    if CHANGE_TYPE_COL in df.columns:
        live = is_data_row(F.col(CHANGE_TYPE_COL))
    obs = Observation()
    df = df.observe(
        obs,
        *[F.max((live & bad).cast("int")).alias(f"r{i}") for i, (_, bad) in enumerate(rules)],
    )

    def check() -> None:
        got = observed_metrics(obs) or {}
        for i, (label, _) in enumerate(rules):
            if got.get(f"r{i}"):
                raise DeltaError(label)

    return df, check


def observed_metrics(obs: Observation) -> dict[str, Any] | None:
    """``obs.get`` once its action has finished, or None when that action
    reported nothing for it: AQE removes a finished stage that produced
    no rows from the final plan, and an observation inside that stage
    goes unreported (Spark then holds an empty row, which
    ``Observation.get`` cannot convert)."""
    if obs._jo.getRow().size() == 0:
        return None
    return obs.get


def amend_metadata(actions: list, snapshot, **changes) -> None:
    """Apply ``changes`` to the Metadata action ``actions`` already
    queues for this commit, or else queue the snapshot's Metadata with
    them applied."""
    for i in range(len(actions) - 1, -1, -1):
        if isinstance(actions[i], Metadata):
            actions[i] = replace(actions[i], **changes)
            return
    actions.append(replace(snapshot.metadata, **changes))


def write_deltalake(
    table_or_uri: str,
    data: Any,
    *,
    spark: SparkSession | None = None,
    mode: str = "error",
    partition_by: list[str] | str | None = None,
    predicate: str | None = None,
    schema_mode: str | None = None,
    name: str | None = None,
    description: str | None = None,
    configuration: dict[str, str] | None = None,
    max_records_per_file: int | None = None,
    txn_app_id: str | None = None,
    txn_version: int | None = None,
    target_file_size: int | None = None,
    writer_properties=None,
    commit_properties=None,
    post_commithook_properties=None,
    storage_options: dict[str, str] | None = None,
    preserve_layout: bool = False,
    cluster_by: list[str] | str | None = None,
) -> None:
    """Write a DataFrame (Spark/pandas/arrow) to a Delta table.

    ``preserve_layout`` (engine extension, not a reference argument):
    skip the writer's hash-repartition on the partition columns and
    write the caller's task layout verbatim — for callers that arranged
    their own partitioning + within-partition sort (z-order rewrites,
    clustered index builds) which a fresh shuffle would destroy.

    Modes: error | ignore | append | overwrite. ``predicate`` is
    transactional replaceWhere (only valid with overwrite).

    ``target_file_size``/``writer_properties``/``commit_properties``/
    ``post_commithook_properties`` mirror the reference surface
    (python/deltalake/writer/writer.py:66-111); see
    delta_rs_spark.properties for the honored subset.
    ``storage_options`` is accepted for signature parity — this engine
    reads storage credentials from the Spark/Hadoop configuration, so
    entries here are validated as strings but otherwise unused.
    """
    if storage_options is not None and not isinstance(storage_options, dict):
        raise TypeError("storage_options must be a dict[str, str]")
    table_path = local_table_path(table_or_uri)
    df = _to_spark_df(data, spark)
    spark = df.sparkSession
    if isinstance(partition_by, str):
        partition_by = [partition_by]
    partition_by = partition_by or []
    if mode not in ("error", "ignore", "append", "overwrite"):
        raise ValueError(f"invalid mode {mode!r}")
    if schema_mode not in (None, "merge", "overwrite"):
        raise ValueError(f"invalid schema_mode {schema_mode!r}")
    if predicate and mode != "overwrite":
        raise ValueError("predicate (replaceWhere) requires mode='overwrite'")

    exists = snap_mod.is_delta_table(table_path)
    snapshot = snap_mod.load_snapshot(table_path) if exists else None
    if snapshot is not None:
        from delta_rs_spark.plans.column_mapping import (
            ensure_schema_static,
            ensure_writable,
        )

        ensure_writable(snapshot)
        if schema_mode is not None:
            # same restriction as the reference (write/mod.rs:410-415):
            # evolved fields would need fresh columnMapping ids
            ensure_schema_static(snapshot)

    if exists and mode == "error":
        raise TableExistsError(f"table exists: {table_path} (mode='error')")
    if exists and mode == "ignore":
        return

    # idempotent writes via txn watermark (reference: actions.rs:1042)
    if exists and txn_app_id is not None and txn_version is not None:
        prev = snapshot.txns.get(txn_app_id)
        if prev is not None and prev.version >= txn_version:
            return

    from delta_rs_spark.plans import identity as _ident

    actions: list = []
    id_plan: dict[str, dict] = {}
    metrics: dict[str, Any] = {}
    txn_info = TransactionInfo(blind_append=True)

    if snapshot is None:
        from delta_rs_spark.features import required_protocol
        from delta_rs_spark.plans.column_mapping import prepare_mapped_create

        # column mapping on create: assign ids + physical names; protocol
        # features derive from schema + configuration (as in create.rs)
        schema, configuration = prepare_mapped_create(df.schema, configuration)
        from delta_rs_spark.plans.row_tracking import prepare_create as _rt_create

        configuration = _rt_create(configuration)
        metadata = Metadata(
            schema_string=schema.json(),
            partition_columns=partition_by,
            configuration=configuration or {},
            name=name,
            description=description,
        )
        proto = required_protocol(schema.json(), configuration)
        if isinstance(cluster_by, str):
            cluster_by = [cluster_by]
        if cluster_by:
            # create-by-write of a CLUSTERED table (delta-spark liquid
            # clustering): persist the spec + features like create()
            from delta_rs_spark.log.actions import Protocol as _Protocol
            from delta_rs_spark.plans import clustering as _cl

            _cl.validate_cluster_by(cluster_by, schema, partition_by)
            feats = set(proto.writer_features or [])
            feats.update({_cl.FEATURE, "domainMetadata"})
            proto = _Protocol(
                min_reader_version=proto.min_reader_version,
                min_writer_version=7,
                reader_features=proto.reader_features,
                writer_features=sorted(feats),
            )
            actions.append(_cl.domain_action(cluster_by, schema))
        actions.append(proto)
        actions.append(metadata)
        read_version = -1
        table_schema = schema
        part_cols = partition_by
        # create-by-write: identity columns ride df.schema metadata, so
        # their values are the user's initial data — sync the watermark
        # over them (explicit-insert semantics for the defining write)
        for _f in _ident.identity_fields(table_schema):
            if _f.name in df.columns:
                id_plan[_f.name] = {
                    "step": int((_f.metadata or {}).get(_ident.META_STEP, 1)),
                    "explicit": True,
                }
    else:
        read_version = snapshot.version
        table_schema = T.StructType.fromJson(__import__("json").loads(snapshot.schema_string))
        part_cols = snapshot.partition_columns
        if partition_by and partition_by != part_cols:
            raise DeltaError(
                f"partition_by {partition_by} != table partitioning {part_cols}"
            )
        if cluster_by:
            from delta_rs_spark.plans import clustering as _cl

            existing_cl = _cl.clustering_columns(snapshot)
            want = [cluster_by] if isinstance(cluster_by, str) else list(cluster_by)
            if want != (existing_cl or []):
                raise DeltaError(
                    f"cluster_by {want} != table clustering {existing_cl} "
                    "(use alter.set_clustering_columns to re-spec)"
                )
        # configuration on an EXISTING table: create-time keys are
        # normally frozen (the reference applies `configuration` at
        # create only), but an explicit overwrite may MERGE app-level
        # keys atomically with the data swap — sync_ivf_index's
        # recluster needs the retrained centroids and their matching
        # assignments to land in ONE commit (a reader between two
        # commits would probe new lists with old centroids). delta.*
        # keys stay frozen here: changing them can demand a protocol
        # upgrade, which is set_tbl_properties'/add_feature's job.
        merged_config = None
        if configuration is not None and mode == "overwrite":
            cand = {
                **snapshot.configuration,
                **{k: str(v) for k, v in configuration.items()},
            }
            if cand != snapshot.configuration:
                changed = {
                    k
                    for k in configuration
                    if snapshot.configuration.get(k) != str(configuration[k])
                }
                frozen = {k for k in changed if k.startswith("delta.")}
                if frozen:
                    raise DeltaError(
                        f"cannot change reserved table properties {sorted(frozen)} "
                        "via an overwrite write; use set_tbl_properties / "
                        "add_feature (they manage the protocol implications)"
                    )
                merged_config = cand
        if schema_mode == "overwrite":
            if mode != "overwrite":
                raise DeltaError("schema_mode='overwrite' requires mode='overwrite'")
            table_schema = df.schema
            meta = snapshot.metadata
            actions.append(
                replace(
                    meta,
                    schema_string=table_schema.json(),
                    configuration=merged_config or meta.configuration,
                    name=name or meta.name,
                    description=description or meta.description,
                )
            )
            merged_config = None  # emitted with the schema change
        elif schema_mode == "merge":
            merged = _merge_schemas(table_schema, df.schema)
            if merged.json() != table_schema.json():
                meta = snapshot.metadata
                actions.append(
                    replace(
                        meta,
                        schema_string=merged.json(),
                        configuration=merged_config or meta.configuration,
                    )
                )
                merged_config = None
            table_schema = merged
        if merged_config is not None:
            meta = snapshot.metadata
            actions.append(
                replace(
                    meta,
                    configuration=merged_config,
                    name=name or meta.name,
                    description=description or meta.description,
                )
            )
        if _ident.identity_fields(table_schema):
            df, id_plan = _ident.generate(df, table_schema)
        df = _conform(df, table_schema)

    if target_file_size is None and snapshot is not None:
        # honor the table-level default (reference table/config.rs:149)
        tfs = snapshot.configuration.get("delta.targetFileSize")
        if tfs:
            target_file_size = int(tfs)
    if target_file_size and not max_records_per_file:
        # sampled before the gate: the gated frame's first action must
        # be the write itself
        max_records_per_file = _estimate_rows_for_bytes(df, target_file_size)
    check = None
    if snapshot is not None:
        rules = write_rules(snapshot, table_schema)
        if predicate:
            rules.append(
                (f"replaceWhere: input rows violate predicate {predicate!r}", _fails(predicate))
            )
        df, check = gate_rules(df, rules)
    adds = write_files(
        df,
        table_path,
        part_cols,
        snapshot.configuration if snapshot is not None else configuration,
        table_schema.json(),
        max_records_per_file,
        writer_properties=writer_properties,
        preserve_layout=preserve_layout,
        validate=check,
    )
    if id_plan:
        # advance the identity high watermark over the values that just
        # landed (add stats; column-pruned fallback scan) — persisted as
        # field metadata in a Metadata action of THIS commit, so racing
        # identity writers conflict loudly via MetadataChanged
        _new_schema = _ident.watermark_updates(
            id_plan,
            table_schema,
            adds,
            table_path,
            df.sparkSession,
            configuration=(
                snapshot.configuration if snapshot is not None else configuration
            ),
        )
        if _new_schema is not None:
            amend_metadata(actions, snapshot, schema_string=_new_schema)
    actions.extend(adds)
    n_rows = sum(a.num_records() or 0 for a in adds)
    metrics["numFiles"] = len(adds)
    metrics["numOutputRows"] = n_rows
    metrics["numOutputBytes"] = sum(a.size for a in adds)

    if snapshot is not None and mode == "overwrite":
        txn_info = TransactionInfo(
            blind_append=False,
            read_whole_table=True,
        )
        if predicate:
            # transactional replaceWhere (reference: write/mod.rs:228
            # with_replace_where): the rule gate checked every incoming
            # row against the predicate; existing matching rows go
            # (rewritten, never soft-deleted: the new rows replace them)
            from delta_rs_spark.operators.delete import plan_mutation
            from delta_rs_spark.plans.skipping import candidate_files

            removed = plan_mutation(
                spark,
                snapshot,
                predicate,
                candidate_files(snapshot, predicate),
                deletion_vectors=False,
            )
            actions.extend(removed.actions)
            metrics["numRemovedFiles"] = len(removed.removes)
            metrics["numDeletedRows"] = removed.n_matched
        else:
            ts = now_ms()
            actions.extend(a.remove(ts) for a in snapshot.files.values())
            metrics["numRemovedFiles"] = len(snapshot.files)

    if txn_app_id is not None and txn_version is not None:
        actions.append(Txn(txn_app_id, txn_version))
        # register the appId in the transaction's read set so a concurrent
        # commit advancing the same watermark raises
        # ConcurrentTransactionError during retry replay (ADVICE r01:
        # without this, two writers with the same app_id/txn_version could
        # both commit, breaking exactly-once)
        txn_info.app_ids.add(txn_app_id)

    op = CommitInfo(
        operation="WRITE",
        operation_parameters={
            "mode": {"error": "ErrorIfExists", "ignore": "Ignore", "append": "Append", "overwrite": "Overwrite"}[mode],
            **({"predicate": predicate} if predicate else {}),
            **({"partitionBy": part_cols} if part_cols else {}),
        },
        operation_metrics=metrics,
    )
    commit_mod.commit(
        table_path,
        actions,
        op,
        read_version,
        txn_info,
        commit_properties=commit_properties,
        post_commit=post_commithook_properties,
    )
