"""DeltaTable — versioned table handle (reference: python/deltalake/table.py:157).

Scan path: snapshot file list -> partition pruning + stats skipping
(``plans.skipping.candidate_files``, the one pruning entry, keyed on the
snapshot) -> one ``spark.read.parquet`` over the surviving files with
the table schema and ``basePath`` so Hive-layout partition values are
injected as typed columns. ``read_snapshot_df`` is the one reader of
table files: data files, and change-data files for load_cdf. Everything downstream (residual
filters, projection, row-group pruning) is Catalyst's job — the same
split the reference makes between its TableProvider and DataFusion
(crates/core/src/delta_datafusion/table_provider/next/mod.rs:711-814).
"""

from __future__ import annotations

import datetime as dt
import functools
import json
import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from delta_rs_spark.log import snapshot as snap_mod
from delta_rs_spark.log.actions import Add, CommitInfo, Metadata, Protocol
from delta_rs_spark.log.commit import DeltaError
from delta_rs_spark.log.snapshot import Snapshot, load_snapshot
from delta_rs_spark.operators.util import (
    local_table_path,
    resolve_add_path,
    spark_file_uri,
)
from delta_rs_spark.plans.skipping import candidate_files

PartitionFilter = tuple[str, str, Any]  # DNF tuples like the reference (table.py:74-78)


_DNF_OPS = {"=", "!=", ">", ">=", "<", "<=", "in", "not in"}


def _eval_partition_filters(
    adds: list,
    filters,
    partition_columns: list[str],
    schema: "T.StructType",
    physical_of: dict[str, str] | None,
) -> list:
    """Evaluate reference-style DNF partition-filter tuples EXACTLY
    against add.partitionValues. files()/partitions() must not route
    through the scan's SQL pruner: that path keeps files it cannot
    decide (correct for scans, where the predicate re-runs on rows),
    which here silently returned unfiltered file lists for any form the
    SQL parser refuses (NOT IN was the reference-pinned case).
    Validation mirrors the reference's errors (PartitionFilter::try_from,
    pinned in test_table_read.py test_get_files_partitioned_table)."""
    from delta_rs_spark.plans.skipping import _NULL_PARTITION, _coerce

    if filters and isinstance(filters[0], tuple):
        filters = [filters]
    for conj in filters:
        for f in conj:
            bad = DeltaError(f"Invalid partition filter found: {f!r}.")
            if not (isinstance(f, tuple) and len(f) == 3):
                raise bad
            col, op, val = f
            if op not in _DNF_OPS:
                raise bad
            if (op in ("in", "not in")) != isinstance(val, (list, tuple, set)):
                raise bad
            if col not in {s.name for s in schema.fields}:
                raise DeltaError(
                    "Data does not match the schema or partitions of the "
                    f"table: Field '{col}' is not a root table field."
                )
            if col not in partition_columns:
                raise DeltaError(f"Field '{col}' is not a partition column.")

    def _val(a, col):
        key = (physical_of or {}).get(col, col)
        raw = (a.partition_values or {}).get(key)
        return None if raw == _NULL_PARTITION else raw

    def _cmp(raw, op, lit) -> bool:
        if raw is None:
            return False  # NULL never satisfies a comparison
        v = _coerce(raw, lit)
        if v is None:
            return False
        if op == "=":
            return v == lit
        if op == "!=":
            return v != lit
        if op == ">":
            return v > lit
        if op == ">=":
            return v >= lit
        if op == "<":
            return v < lit
        return v <= lit

    def _one(a, f) -> bool:
        col, op, val = f
        raw = _val(a, col)
        if op == "in":
            return any(_cmp(raw, "=", x) for x in val)
        if op == "not in":
            return raw is not None and not any(_cmp(raw, "=", x) for x in val)
        return _cmp(raw, op, val)

    return [
        a
        for a in adds
        if any(all(_one(a, f) for f in conj) for conj in filters)
    ]


def _dnf_to_sql(filters: list[PartitionFilter] | list[list[PartitionFilter]] | None) -> str | None:
    """Convert reference-style DNF partition-filter tuples to a SQL predicate."""
    if not filters:
        return None
    if filters and isinstance(filters[0], tuple):
        filters = [filters]  # single conjunction

    def lit(v: Any) -> str:
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        if isinstance(v, bool):
            return "true" if v else "false"
        return str(v)

    def one(f: PartitionFilter) -> str:
        col, op, val = f
        if op == "in":
            return f"{col} IN ({', '.join(lit(v) for v in val)})"
        if op == "not in":
            return f"{col} NOT IN ({', '.join(lit(v) for v in val)})"
        return f"{col} {op} {lit(val)}"

    disjuncts = [" AND ".join(one(f) for f in conj) for conj in filters]
    return " OR ".join(f"({d})" for d in disjuncts) if len(disjuncts) > 1 else disjuncts[0]


def empty_frame(spark: SparkSession, schema: T.StructType) -> DataFrame:
    """A frame of ``schema`` with no rows: a parquet scan of no files.
    An action over it runs one Spark job (a frame built from an empty
    Python list runs two), and it binds ``_metadata`` and makes every
    field nullable like any other table read. ``read_snapshot_df``
    leaves it without the one-file ``coalesce(1)``: an aggregate over
    it already runs one job."""
    return spark.read.schema(schema).parquet()


def join_row_pairs(
    scan: DataFrame, fp_col: str, ri_col: str, pairs: list, how: str
) -> DataFrame:
    """``scan``'s rows joined (``how``: ``left_anti`` drops the listed
    rows, ``inner`` keeps only them) to the ``(file key, row_index)``
    ``pairs``, matched on the scan's ``fp_col`` (``_metadata.file_path``)
    and ``ri_col`` (``_metadata.row_index``). The pairs' file keys are
    ``operators.util.spark_file_uri`` spellings, so both sides compare
    Spark's own string."""
    pair_df = scan.sparkSession.createDataFrame(pairs, "__pair_fp string, __pair_ri long")
    return scan.join(
        F.broadcast(pair_df),
        (F.col(fp_col) == F.col("__pair_fp")) & (F.col(ri_col) == F.col("__pair_ri")),
        how,
    ).drop("__pair_fp", "__pair_ri")


def read_snapshot_df(
    spark: SparkSession,
    snapshot: Snapshot,
    table_path: str,
    predicate: str | None = None,
    columns: list[str] | None = None,
    files: list[Add] | None = None,
    file_path_col: str | None = None,
    row_index_col: str | None = None,
    keep_row_ids: bool = False,
) -> DataFrame:
    """Build the scan DataFrame for a snapshot (with file skipping).

    ``file_path_col`` / ``row_index_col`` bind each row's file key and
    row index: Spark's raw ``_metadata.file_path`` and
    ``_metadata.row_index``, with no per-row work. The key is the one
    spelling of a scanned row's file: ``operators.util.spark_file_uri``
    computes it for an Add, and ``operators.util.add_paths_of`` maps
    keys back to Adds.

    Files carrying a deletion vector are scanned with both bound and
    anti-joined (``join_row_pairs``) against the decoded (file key,
    row_index) tombstone set — the Spark analogue of the reference's
    per-batch selection vectors
    (crates/core/src/delta_datafusion/table_provider/next/scan/exec.rs:63-108).

    ``keep_row_ids``: on a row-tracking table the frame also carries the
    two materialized row-tracking columns, filled with each row's
    current id and commit version (plans.row_tracking.fill_row_ids) —
    the frame a rewrite writes back so ids survive it. A no-op on other
    tables.

    A read of exactly one file of at most min(
    ``spark.sql.files.maxPartitionBytes``, ``spark.sql.files.openCostInBytes``)
    bytes ends in ``coalesce(1)``. Spark plans a file scan with unknown
    partitioning, so an aggregate, group-by, window or sort above it
    would add an ``Exchange SinglePartition`` that AQE runs as a job of
    its own; ``Coalesce 1`` reports ``SinglePartition``, and the query
    runs in one job with no shuffle. The rule is exact: Spark's
    ``FilePartition.maxSplitBytes`` is never below that minimum, so the
    file is always one split (one task) already, and with a default
    parallelism of 2 or more a read of two or more non-empty files is
    never one partition, so no parallel read is narrowed.
    """
    from delta_rs_spark.plans import column_mapping as cmap
    from delta_rs_spark.plans import row_tracking as rt

    schema = T.StructType.fromJson(json.loads(snapshot.schema_string))
    mapped = cmap.mapping_mode(snapshot.configuration) in ("name", "id")
    phys_of = cmap.logical_to_physical(schema) if mapped else None
    adds = candidate_files(snapshot, predicate, files)
    plain = [a for a in adds if not a.deletion_vector]
    dv_adds = [a for a in adds if a.deletion_vector]
    read_schema = cmap.physical_schema(schema) if mapped else schema
    hidden: list[str] = []
    requested = (file_path_col, row_index_col)
    if keep_row_ids and rt.enabled(snapshot.configuration):
        # hidden physical LONG columns, nullable — parquet files without
        # them yield NULL (Spark schema-on-read fills missing columns);
        # filling them needs each row's file and index
        hidden = list(rt.materialized_names(snapshot.configuration))
        read_schema = T.StructType(
            list(read_schema.fields)
            + [T.StructField(c, T.LongType(), True) for c in hidden]
        )
        file_path_col = file_path_col or "__rt_file"
        row_index_col = row_index_col or "__rt_index"

    def to_logical(part_df: DataFrame) -> DataFrame:
        """Physical -> logical names, preserving bound fp/ri columns."""
        if not mapped:
            return part_df
        extra = [
            c
            for c in (file_path_col, row_index_col, *hidden)
            if c and c in part_df.columns
        ] or None
        return cmap.rename_to_logical(part_df, schema, extra_cols=extra)

    part_phys = [(phys_of or {}).get(pc, pc) for pc in snapshot.partition_columns]

    def read_group(group_adds: list[Add]):
        """One reader per Hive base: a shallow clone's absolute add
        paths live under the SOURCE root, so partitioned scans
        cannot serve clone-local and cloned files with a single
        basePath — group by the directory above the k=v segments
        (table-local files group to table_path itself).

        Foreign layouts (delta-spark under column mapping writes
        random-prefix dirs, NO k=v segments) carry partition values
        ONLY on the add action — those group by their
        partitionValues tuple and the values are injected as typed
        literals (the physical files do not contain the column).

        No file at all reads as a scan of none, its partition columns
        after the data columns as in a Hive-layout read, so an empty
        result has the same columns as a non-empty one."""
        if not group_adds:
            data = [f for f in read_schema.fields if f.name not in part_phys]
            return [
                empty_frame(
                    spark, T.StructType(data + [read_schema[pc] for pc in part_phys])
                )
            ]
        reader = spark.read.schema(read_schema)
        if not snapshot.partition_columns:
            return [reader.parquet(*[resolve_add_path(table_path, a.path) for a in group_adds])]
        groups: dict[tuple, list[str]] = {}
        for a in group_adds:
            p = resolve_add_path(table_path, a.path)
            d = os.path.dirname(p)
            hive = False
            while "=" in os.path.basename(d):
                hive = True
                d = os.path.dirname(d)
            # non-Hive layout: partition values ride the add action —
            # key the group by them so each gets its own literals
            pv_key = (
                None
                if hive
                else tuple(sorted((a.partition_values or {}).items()))
            )
            groups.setdefault((d, pv_key), []).append(p)
        out = []
        for (base, pv_key), ps in groups.items():
            g = (
                spark.read.schema(read_schema)
                .option("basePath", base)
                .parquet(*ps)
            )
            if pv_key is not None:
                pv = dict(pv_key)
                for pc in part_phys:
                    g = g.withColumn(
                        pc,
                        F.lit(pv.get(pc)).cast(read_schema[pc].dataType),
                    )
            out.append(g)
        return out

    def bind(g: DataFrame, fp: str | None, ri: str | None) -> DataFrame:
        """Bound BEFORE any select/union — hidden metadata columns do
        not survive those."""
        if fp:
            g = g.withColumn(fp, F.col("_metadata.file_path"))
        return g.withColumn(ri, F.col("_metadata.row_index")) if ri else g

    parts = []
    if plain or not dv_adds:
        parts = [to_logical(bind(g, file_path_col, row_index_col)) for g in read_group(plain)]
    if dv_adds:
        from delta_rs_spark.plans.deletion_vectors import load_dv_row_indexes

        fp, ri = file_path_col or "__dv_fp", row_index_col or "__dv_ri"
        dv_df = functools.reduce(
            DataFrame.unionByName, [bind(g, fp, ri) for g in read_group(dv_adds)]
        )
        deleted = [
            (spark_file_uri(resolve_add_path(table_path, a.path)), i)
            for a in dv_adds
            for i in load_dv_row_indexes(table_path, a.deletion_vector)
        ]
        keep = [f.name for f in read_schema.fields] + [
            c for c in (file_path_col, row_index_col) if c
        ]
        parts.append(
            to_logical(join_row_pairs(dv_df, fp, ri, deleted, "left_anti").select(*keep))
        )
    df = functools.reduce(DataFrame.unionByName, parts)
    if hidden:
        df = rt.fill_row_ids(
            df, snapshot, table_path, adds, file_path_col, row_index_col
        )
        df = df.drop(*[c for c in (file_path_col, row_index_col) if c not in requested])
    if predicate:
        df = df.filter(F.expr(predicate))
    if columns:
        df = df.select(*columns)
    conf = spark._jsparkSession.sessionState().conf()  # parses size units
    one_split = min(conf.filesMaxPartitionBytes(), conf.filesOpenCostInBytes())
    if len(adds) == 1 and adds[0].size <= one_split:
        df = df.coalesce(1)
    return df


class DeltaTable:
    """Versioned Delta table handle over a local/posix path."""

    #: reader features this engine actually implements; unknown ones in a
    #: v3 protocol mean the table would be silently misread — refuse
    #: (reference: kernel protocol checks; Delta PROTOCOL.md table features)
    SUPPORTED_READER_FEATURES = {
        "deletionVectors",
        "columnMapping",
        "timestampNtz",
        "v2Checkpoint",
        "vacuumProtocolCheck",
        "variantType",  # Spark 4 reads variant natively
        "variantType-preview",
    }

    def __init__(
        self,
        table_uri: str,
        version: int | None = None,
        spark: SparkSession | None = None,
        storage_options: dict[str, str] | None = None,
        without_files: bool = False,
        log_buffer_size: int | None = None,
    ):
        """``storage_options`` mirror the reference kwarg; on Spark they
        belong in the Hadoop connector config (e.g. ``fs.s3a.*``), so
        they are recorded and surfaced, not interpreted here.
        ``without_files=True`` loads metadata without serving the file
        list — file-list APIs raise, like the reference's mode.
        ``log_buffer_size`` is accepted for signature parity (the local
        log reader streams commits; there is no buffer to size)."""
        self.table_uri = local_table_path(table_uri)
        self._spark = spark
        self._storage_options = dict(storage_options or {})
        self._without_files = without_files
        self._snapshot = load_snapshot(self.table_uri, version)
        self._check_read_protocol()

    def _require_files(self) -> None:
        if self._without_files:
            raise DeltaError(
                "table was loaded with without_files=True; file-list APIs "
                "are unavailable"
            )

    def _check_read_protocol(self) -> None:
        p = self._snapshot.protocol
        if p is None:
            return
        from delta_rs_spark.log.commit import DeltaProtocolError

        if p.min_reader_version > 3:
            raise DeltaProtocolError(
                f"table requires minReaderVersion {p.min_reader_version}; "
                "this engine reads up to 3"
            )
        if p.min_reader_version >= 3:
            unsupported = set(p.reader_features or []) - self.SUPPORTED_READER_FEATURES
            if unsupported:
                raise DeltaProtocolError(
                    f"table requires unsupported reader features {sorted(unsupported)}"
                )

    # -- session ----------------------------------------------------------
    @property
    def spark(self) -> SparkSession:
        s = self._spark or SparkSession.getActiveSession()
        if s is None:
            from delta_rs_spark.session import get_spark

            s = get_spark()
        return s

    # -- construction -----------------------------------------------------
    @classmethod
    def is_deltatable(cls, table_uri: str) -> bool:
        return snap_mod.is_delta_table(local_table_path(table_uri))

    @classmethod
    def create(
        cls,
        table_uri: str,
        schema: T.StructType,
        mode: str = "error",
        partition_by: list[str] | str | None = None,
        name: str | None = None,
        description: str | None = None,
        configuration: dict[str, str] | None = None,
        spark: SparkSession | None = None,
        cluster_by: list[str] | str | None = None,
    ) -> "DeltaTable":
        """CREATE [OR REPLACE] TABLE (reference: operations/create.rs;
        python/deltalake/table.py:221-330). ``schema`` may be a Spark
        StructType or the deltalake-style mirror Schema (the reference's
        input type).

        ``cluster_by`` makes a CLUSTERED table (delta-spark liquid
        clustering; the reference accepts the feature,
        kernel/models/actions.rs:799, but never maintains it): the
        columns persist as a ``delta.clustering`` domain and
        ``dt.optimize.cluster()`` Hilbert-clusters by them. Mutually
        exclusive with ``partition_by``."""
        from delta_rs_spark.log import commit as commit_mod
        from delta_rs_spark.log.actions import now_ms
        from delta_rs_spark.log.commit import TransactionInfo
        from delta_rs_spark.schema import Schema as MirrorSchema
        from delta_rs_spark.schema import StructType as MirrorStruct
        from delta_rs_spark.schema import to_spark

        if isinstance(schema, (MirrorSchema, MirrorStruct)):
            schema = to_spark(schema)

        path = local_table_path(table_uri)
        if mode not in ("error", "ignore", "overwrite"):
            raise ValueError(f"invalid create mode {mode!r}")
        if isinstance(partition_by, str):
            partition_by = [partition_by]
        exists = snap_mod.is_delta_table(path)
        if exists and mode == "error":
            raise DeltaError(f"table exists: {path}")
        if exists and mode == "ignore":
            return cls(path, spark=spark)
        read_version = -1
        actions: list = []
        if exists:  # replace
            prev = load_snapshot(path)
            read_version = prev.version
            ts = now_ms()
            actions.extend(a.remove(ts) for a in prev.files.values())
        os.makedirs(path, exist_ok=True)
        # column mapping on create: assign ids + physical names
        # (delta-spark behavior); protocol features derive from
        # schema + configuration (reference create.rs does the same)
        from delta_rs_spark.features import required_protocol
        from delta_rs_spark.plans.column_mapping import prepare_mapped_create

        schema, configuration = prepare_mapped_create(schema, configuration)
        from delta_rs_spark.plans.row_tracking import prepare_create as _rt_create

        configuration = _rt_create(configuration)
        proto = required_protocol(schema.json(), configuration)
        if isinstance(cluster_by, str):
            cluster_by = [cluster_by]
        if cluster_by:
            from delta_rs_spark.plans import clustering as _cl

            _cl.validate_cluster_by(cluster_by, schema, partition_by)
            # clusteredTable + the domainMetadata its spec lives in
            feats = set(proto.writer_features or [])
            feats.update({_cl.FEATURE, "domainMetadata"})
            proto = Protocol(
                min_reader_version=proto.min_reader_version,
                min_writer_version=7,
                reader_features=proto.reader_features,
                writer_features=sorted(feats),
            )
            actions.append(_cl.domain_action(cluster_by, schema))
        actions.insert(0, proto)
        actions.insert(
            1,
            Metadata(
                schema_string=schema.json(),
                partition_columns=partition_by or [],
                configuration=configuration or {},
                name=name,
                description=description,
            ),
        )
        op = CommitInfo(
            operation="CREATE OR REPLACE TABLE" if exists else "CREATE TABLE",
            operation_parameters={
                "mode": mode,
                "partitionBy": partition_by or [],
                **({"clusterBy": cluster_by} if cluster_by else {}),
            },
        )
        commit_mod.commit(
            path, actions, op, read_version, TransactionInfo(blind_append=False, read_whole_table=True)
        )
        return cls(path, spark=spark)

    # -- metadata ---------------------------------------------------------
    def version(self) -> int:
        return self._snapshot.version

    def schema(self) -> T.StructType:
        return T.StructType.fromJson(json.loads(self._snapshot.schema_string))

    def delta_schema(self):
        """The schema as deltalake-compatible mirror classes
        (reference: python/deltalake/schema.py; dt.schema() here stays a
        Spark StructType since Spark is the data plane)."""
        from delta_rs_spark.schema import Schema

        return Schema.from_json(self._snapshot.schema_string)

    def metadata(self) -> Metadata:
        return self._snapshot.metadata

    def protocol(self) -> Protocol:
        return self._snapshot.protocol

    def partition_columns(self) -> list[str]:
        return self._snapshot.partition_columns

    def clustering_columns(self) -> list[str] | None:
        """LOGICAL clustering columns of a CLUSTERED table (delta-spark
        liquid clustering; delta.clustering domain), else None."""
        from delta_rs_spark.plans import clustering as _cl

        return _cl.clustering_columns(self._snapshot)

    def _physical_of(self) -> dict[str, str] | None:
        from delta_rs_spark.plans import column_mapping as cmap

        if cmap.mapping_mode(self._snapshot.configuration) not in ("name", "id"):
            return None
        return cmap.logical_to_physical(self.schema())

    def files(self, partition_filters: list[PartitionFilter] | None = None) -> list[str]:
        self._require_files()
        adds = list(self._snapshot.files.values())
        if partition_filters:
            adds = _eval_partition_filters(
                adds,
                partition_filters,
                self._snapshot.partition_columns,
                T.StructType.fromJson(json.loads(self._snapshot.schema_string)),
                self._physical_of(),
            )
        return [a.path for a in adds]

    def file_uris(self, partition_filters: list[PartitionFilter] | None = None) -> list[str]:
        return [
            resolve_add_path(self.table_uri, p)
            for p in self.files(partition_filters)
        ]

    def partitions(
        self, partition_filters: list[PartitionFilter] | None = None
    ) -> list[dict[str, str | None]]:
        seen: list[dict[str, str | None]] = []
        adds = list(self._snapshot.files.values())
        if partition_filters:
            adds = _eval_partition_filters(
                adds,
                partition_filters,
                self._snapshot.partition_columns,
                T.StructType.fromJson(json.loads(self._snapshot.schema_string)),
                self._physical_of(),
            )
        for a in adds:
            if a.partition_values not in seen:
                seen.append(dict(a.partition_values))
        return seen

    def history(self, limit: int | None = None) -> list[dict[str, Any]]:
        """Commit infos, newest first (reference: table/mod.rs:266)."""
        out: list[dict[str, Any]] = []
        commits, _ = snap_mod.list_log(self.table_uri)
        for v in sorted(commits, reverse=True):
            if limit is not None and len(out) >= limit:
                break
            try:
                # commitInfo line only — never materializes the commit's
                # (possibly 10^5-line) add actions
                ci = snap_mod.read_commit_info(self.table_uri, v)
            except FileNotFoundError:
                continue
            if ci is None:
                out.append({"version": v})
                continue
            entry = {
                "version": v,
                "timestamp": ci.timestamp,
                "operation": ci.operation,
                "operationParameters": ci.operation_parameters,
                "operationMetrics": ci.operation_metrics,
                "readVersion": ci.read_version,
                "engineInfo": ci.engine_info,
                "clientVersion": ci.client_version,
                **ci.extra,
            }
            if ci.user_metadata is not None:
                entry["userMetadata"] = ci.user_metadata
            out.append(entry)
        return out

    def get_add_actions(self, flatten: bool = False):
        """Per-file add actions with stats as a pyarrow table
        (reference: python/deltalake/table.py:1175-1220)."""
        import pyarrow as pa

        rows = []
        for a in self._snapshot.files.values():
            st = a.stats_dict() or {}
            row: dict[str, Any] = {
                "path": a.path,
                "size_bytes": a.size,
                "modification_time": a.modification_time,
                "data_change": a.data_change,
                "num_records": st.get("numRecords"),
            }
            if a.deletion_vector:
                # mirrored from the reference's add-actions view, which
                # carries a deletionVector column (kernel/snapshot tests)
                row["deletion_vector.cardinality"] = int(
                    a.deletion_vector.get("cardinality") or 0
                )
                row["deletion_vector.storage_type"] = a.deletion_vector.get(
                    "storageType"
                )
            if flatten:
                for k, v in (a.partition_values or {}).items():
                    row[f"partition.{k}"] = v
                for k, v in (st.get("minValues") or {}).items():
                    row[f"min.{k}"] = str(v)
                for k, v in (st.get("maxValues") or {}).items():
                    row[f"max.{k}"] = str(v)
                for k, v in (st.get("nullCount") or {}).items():
                    row[f"null_count.{k}"] = v
            else:
                # reference column name is 'partition' (state.rs
                # add-actions schema; test_add_actions_table reads
                # actions_df["partition"].field(...))
                row["partition"] = dict(a.partition_values or {})
                row["min"] = {k: str(v) for k, v in (st.get("minValues") or {}).items()}
                row["max"] = {k: str(v) for k, v in (st.get("maxValues") or {}).items()}
                row["null_count"] = dict(st.get("nullCount") or {})
            rows.append(row)
        return pa.Table.from_pylist(rows)

    def count(self) -> int:
        """Metadata-only row count from file stats; falls back to a scan
        (reference: python/deltalake/table.py:584-605)."""
        n = self._snapshot.num_records()
        if n is not None:
            return n
        return self.to_df().count()

    def get_domain_metadata(self, domain: str) -> str | None:
        """Configuration blob for a metadata domain, or None
        (reference: DomainMetadata, actions.rs:1128)."""
        dm = self._snapshot.domain_metadata.get(domain)
        return dm.configuration if dm else None

    def transaction_version(self, app_id: str) -> int | None:
        txn = self._snapshot.txns.get(app_id)
        return txn.version if txn else None

    # -- time travel ------------------------------------------------------
    def load_as_version(self, version: int | str | dt.datetime) -> None:
        """(reference: python/deltalake/table.py:406-446)"""
        if isinstance(version, int):
            self._snapshot = load_snapshot(self.table_uri, version)
            return
        if isinstance(version, str):
            # reference parity (table_read.py
            # test_load_as_version_datetime_bad_format): a datetime
            # STRING must be RFC3339 with an explicit offset
            from delta_rs_spark.operators.util import parse_rfc3339

            version = parse_rfc3339(version)
        if isinstance(version, dt.datetime):
            ts_ms = int(version.timestamp() * 1000)
            v = snap_mod.version_at_timestamp(self.table_uri, ts_ms)
            self._snapshot = load_snapshot(self.table_uri, v)
            return
        raise TypeError(f"unsupported version spec: {version!r}")

    # -- reads ------------------------------------------------------------
    def to_df(
        self,
        predicate: str | None = None,
        columns: list[str] | None = None,
        partition_filters: list[PartitionFilter] | None = None,
    ) -> DataFrame:
        pred = predicate
        pf = _dnf_to_sql(partition_filters)
        if pf:
            pred = f"({pred}) AND ({pf})" if pred else pf
        return read_snapshot_df(self.spark, self._snapshot, self.table_uri, pred, columns)

    # alias matching reference naming
    to_spark = to_df

    def to_df_with_row_ids(
        self, predicate: str | None = None, columns: list[str] | None = None
    ) -> DataFrame:
        """Scan with row tracking surfaced (PROTOCOL.md "Row Tracking"):
        adds ``_row_id`` / ``_row_commit_version`` columns —
        coalesce(materialized column, baseRowId + row_index) and
        coalesce(materialized version, defaultRowCommitVersion). Stable
        ids: rewrites (DELETE/UPDATE/MERGE/OPTIMIZE) materialize the
        surviving rows' ids into the hidden parquet columns."""
        from delta_rs_spark.plans import row_tracking as rt

        if not rt.enabled(self._snapshot.configuration):
            raise DeltaError(
                "row tracking is not enabled on this table "
                "(delta.enableRowTracking)"
            )
        mat_id, mat_ver = rt.materialized_names(self._snapshot.configuration)
        df = read_snapshot_df(
            self.spark, self._snapshot, self.table_uri, predicate, keep_row_ids=True
        )
        df = df.withColumnRenamed(mat_id, rt.ROW_ID_COL).withColumnRenamed(
            mat_ver, rt.ROW_VER_COL
        )
        if columns:
            df = df.select(*columns, rt.ROW_ID_COL, rt.ROW_VER_COL)
        return df

    def to_pandas(self, **kwargs):
        return self.to_df(**kwargs).toPandas()

    def to_pyarrow_table(self, **kwargs):
        """Arrow-native when Spark supports it (DataFrame.toArrow, Spark
        4) — no pandas hop, so binary/nested/decimal columns survive
        losslessly (reference: python/deltalake/table.py:936-1079)."""
        df = self.to_df(**kwargs)
        if hasattr(df, "toArrow"):
            return df.toArrow()
        import pyarrow as pa

        return pa.Table.from_pandas(df.toPandas(), preserve_index=False)

    def to_pyarrow_dataset(self, **kwargs):
        """A pyarrow dataset over the snapshot's (pruned) file list —
        streams per-file, never materializes the table
        (reference: python/deltalake/table.py:936-1079). Partition
        columns are injected from the Hive paths by pyarrow."""
        import pyarrow.dataset as ds

        if any(a.deletion_vector for a in self._snapshot.files.values()):
            raise DeltaError(
                "to_pyarrow_dataset cannot express deletion-vector filtering; "
                "use to_pyarrow_table() or to_df()"
            )
        if self._physical_of():
            raise DeltaError(
                "to_pyarrow_dataset would expose physical column names on a "
                "column-mapped table; use to_pyarrow_table() or to_df()"
            )
        pf = kwargs.pop("partition_filters", None)
        pred = kwargs.pop("predicate", None)
        uris = self.file_uris(pf)
        part = (
            ds.partitioning(flavor="hive") if self._snapshot.partition_columns else None
        )
        dataset = ds.dataset(
            uris, format="parquet", partitioning=part, partition_base_dir=self.table_uri
        )
        if pred is not None:
            raise ValueError(
                "pass predicates as pyarrow expressions to dataset.to_table(filter=...)"
            )
        return dataset

    def update_incremental(self) -> None:
        """Advance the handle to the latest version by replaying ONLY the
        new tail onto the in-memory snapshot with the loader's own
        replay() (reference: python/deltalake/table.py update_incremental
        — 'incrementally applying new versions'). On a deep log this is
        O(new commits), not the O(checkpoint + tail) replay a cold load
        pays — the difference between a follower polling a busy 100 TB
        table every few seconds and one that reloads millions of add
        actions each poll. Falls back to refresh() when a tail commit is
        missing (metadata cleanup ran concurrently) or the handle has no
        loaded snapshot."""
        snap = self._snapshot
        latest = snap_mod.latest_version(self.table_uri)
        if latest is None or snap is None or snap.version < 0:
            self.refresh()
            return
        if latest <= snap.version:
            return
        try:
            snap_mod.replay(snap, latest, snap_mod.list_compacted(self.table_uri))
        except FileNotFoundError:
            self.refresh()  # gap: cleaned up under us
            return
        # a tail commit may have upgraded the protocol — the same gate
        # the constructor/refresh apply must run here too
        self._check_read_protocol()

    def create_write_transaction(
        self,
        actions: list,
        mode: str = "append",
        partition_by: list[str] | None = None,
        schema: T.StructType | None = None,
    ) -> int:
        """Commit files written OUTSIDE this engine (reference:
        python/deltalake/table.py:1330-1363): each action is an
        ``AddAction``-shaped object or dict with path/size/
        modification_time/data_change/partition_values/stats. Returns
        the committed version."""
        from delta_rs_spark.log import commit as commit_mod
        from delta_rs_spark.log.actions import now_ms
        from delta_rs_spark.log.commit import TransactionInfo
        from delta_rs_spark.plans.column_mapping import ensure_writable

        ensure_writable(self._snapshot)
        if mode not in ("append", "overwrite"):
            raise ValueError(f"invalid mode {mode!r}")
        if partition_by and partition_by != self._snapshot.partition_columns:
            raise DeltaError(
                f"partition_by {partition_by} != table partitioning "
                f"{self._snapshot.partition_columns}"
            )
        if schema is not None and schema.json() != self._snapshot.schema_string:
            raise DeltaError("schema does not match table schema")
        adds = []
        for a in actions:
            get = a.get if isinstance(a, dict) else lambda k, d=None: getattr(a, k, d)
            adds.append(
                Add(
                    path=get("path"),
                    size=get("size") or 0,
                    modification_time=get("modification_time") or now_ms(),
                    data_change=get("data_change", True),
                    partition_values=dict(get("partition_values") or {}),
                    stats=get("stats"),
                )
            )
        commit_actions: list = list(adds)
        if mode == "overwrite":
            ts = now_ms()
            commit_actions += [a.remove(ts) for a in self._snapshot.files.values()]
        op = CommitInfo(
            operation="WRITE",
            operation_parameters={
                "mode": "Append" if mode == "append" else "Overwrite"
            },
            operation_metrics={"numFiles": len(adds)},
        )
        txn = TransactionInfo(
            blind_append=(mode == "append"), read_whole_table=(mode == "overwrite")
        )
        v = commit_mod.commit(self.table_uri, commit_actions, op, self._snapshot.version, txn)
        self.refresh()
        return v

    # -- mutations (delegate to operators) --------------------------------
    def delete(
        self,
        predicate: str | None = None,
        writer_properties=None,  # accepted for signature parity
        commit_properties=None,
        post_commithook_properties=None,
    ) -> dict[str, Any]:
        from delta_rs_spark.operators.delete import delete as _delete

        metrics = _delete(
            self.spark,
            self.table_uri,
            predicate,
            commit_properties=commit_properties,
            post_commithook_properties=post_commithook_properties,
        )
        self._snapshot = load_snapshot(self.table_uri)
        return metrics

    def update(
        self,
        updates: dict[str, str] | None = None,
        new_values: dict[str, Any] | None = None,
        predicate: str | None = None,
        writer_properties=None,  # parquet writer options, parity-accepted
        error_on_type_mismatch: bool = True,
        commit_properties=None,
        post_commithook_properties=None,
    ) -> dict[str, Any]:
        """``updates`` maps columns to SQL expression strings;
        ``new_values`` maps columns to Python literals (reference:
        python/deltalake/table.py:759-789 — exactly one of the two)."""
        from delta_rs_spark.operators.update import update as _update

        if updates is None and new_values is not None:
            updates = {}
            for key, value in new_values.items():
                if isinstance(value, bool):
                    updates[key] = "true" if value else "false"
                elif isinstance(value, (int, float, list)):
                    updates[key] = str(value)
                elif isinstance(value, str):
                    escaped = value.replace("'", "''")
                    updates[key] = f"'{escaped}'"
                elif isinstance(value, dt.datetime):
                    # reference convention: microsecond epoch literal
                    updates[key] = str(int(value.timestamp() * 1_000_000))
                else:
                    raise TypeError(
                        "Invalid datatype provided in new_values, only int, "
                        "float, bool, list, str or datetime are accepted."
                    )
        elif updates is not None and new_values is not None:
            raise ValueError(
                "Passing updates and new_values at same time is not allowed, pick one."
            )
        elif updates is None:
            raise ValueError(
                "Either updates or new_values need to be passed to update the table."
            )
        else:
            for key, value in updates.items():
                if not isinstance(key, str) or not isinstance(value, str):
                    raise TypeError(
                        "The values of the updates parameter must all be SQL "
                        "strings. Did you mean to use the new_values parameter?"
                    )

        metrics = _update(
            self.spark,
            self.table_uri,
            updates,
            predicate,
            commit_properties=commit_properties,
            post_commithook_properties=post_commithook_properties,
            safe_cast=not error_on_type_mismatch,
        )
        self._snapshot = load_snapshot(self.table_uri)
        return metrics

    def merge(
        self,
        source: Any,
        predicate: str,
        source_alias: str | None = None,
        target_alias: str | None = None,
        merge_schema: bool = False,
        error_on_type_mismatch: bool = True,
        writer_properties=None,  # parquet writer options for rewrite files
        streamed_exec: bool = True,  # Spark plans are always lazy/streamed
        max_spill_size: int | None = None,  # Spark manages spill itself
        max_temp_directory_size: int | None = None,
        commit_properties=None,
        post_commithook_properties=None,
    ):
        from delta_rs_spark.operators.merge import TableMerger

        return TableMerger(
            self,
            source,
            predicate,
            source_alias,
            target_alias,
            merge_schema,
            commit_properties,
            post_commithook_properties,
            safe_cast=not error_on_type_mismatch,
        )

    @property
    def optimize(self):
        from delta_rs_spark.operators.optimize import TableOptimizer

        return TableOptimizer(self)

    @property
    def alter(self):
        from delta_rs_spark.operators.alter import TableAlterer

        return TableAlterer(self)

    def vacuum(
        self,
        retention_hours: int | None = None,
        dry_run: bool = True,
        enforce_retention_duration: bool = True,
        full: bool = False,
        keep_versions: list[int] | None = None,
        commit_properties=None,  # accepted for signature parity
        post_commithook_properties=None,
        lite: bool = False,
    ) -> list[str]:
        from delta_rs_spark.operators.vacuum import vacuum as _vacuum

        return _vacuum(
            self.table_uri,
            retention_hours,
            dry_run,
            enforce_retention_duration,
            full,
            keep_versions,
            lite=lite,
        )

    def restore(
        self,
        target: int | str | dt.datetime,
        ignore_missing_files: bool = False,
        protocol_downgrade_allowed: bool = False,
        commit_properties=None,
        post_commithook_properties=None,
    ) -> dict[str, Any]:
        from delta_rs_spark.operators.restore import restore as _restore

        metrics = _restore(
            self.table_uri,
            target,
            ignore_missing_files,
            protocol_downgrade_allowed,
            commit_properties=commit_properties,
            post_commithook_properties=post_commithook_properties,
        )
        self._snapshot = load_snapshot(self.table_uri)
        return metrics

    def diff(
        self,
        key_cols: list[str],
        starting_version: int,
        ending_version: int | None = None,
        compare_cols: list[str] | None = None,
        validate_unique_keys: bool = True,
        partition_filter: str | None = None,
    ) -> DataFrame:
        """Logical insert/update/delete diff between two versions,
        reconstructed from the snapshots themselves (no CDF required;
        see operators/diff.py for the churned-file pruning contract).
        ``partition_filter`` (exact partition-only predicate) scopes
        the diff to matching partitions' churn before any IO."""
        from delta_rs_spark.operators.diff import table_diff

        return table_diff(
            self,
            key_cols,
            starting_version,
            ending_version,
            compare_cols,
            validate_unique_keys,
            partition_filter,
        )

    def repair(
        self,
        dry_run: bool = False,
        commit_properties=None,  # accepted for signature parity
        post_commithook_properties=None,
    ) -> dict[str, Any]:
        from delta_rs_spark.operators.fsck import repair as _repair

        metrics = _repair(self.table_uri, dry_run)
        if not dry_run:
            self._snapshot = load_snapshot(self.table_uri)
        return metrics

    def load_cdf(
        self,
        starting_version: int = 0,
        ending_version: int | None = None,
        starting_timestamp: str | None = None,
        ending_timestamp: str | None = None,
        columns: list[str] | None = None,
        predicate: str | None = None,
        allow_out_of_range: bool = False,
    ) -> DataFrame:
        from delta_rs_spark.operators.cdf import load_cdf as _load_cdf

        return _load_cdf(
            self.spark,
            self.table_uri,
            starting_version,
            ending_version,
            starting_timestamp,
            ending_timestamp,
            columns,
            predicate,
            allow_out_of_range,
        )

    def create_checkpoint(
        self, v2: bool | None = None, sidecar_target_actions: int | None = None
    ) -> None:
        """Checkpoint the current snapshot. ``v2=None`` follows the
        table's ``delta.checkpointPolicy`` property ('v2' + the
        v2Checkpoint feature -> sidecar layout); True forces V2 (raises
        without the feature), False forces classic."""
        if v2 is None:
            proto = self._snapshot.protocol
            v2 = (
                self._snapshot.configuration.get("delta.checkpointPolicy", "classic")
                == "v2"
                and proto is not None
                and "v2Checkpoint" in (proto.reader_features or [])
            )
        kwargs = {}
        if sidecar_target_actions is not None:
            kwargs["sidecar_target_actions"] = sidecar_target_actions
        snap_mod.write_checkpoint(self.table_uri, self._snapshot, v2=v2, **kwargs)

    def compact_logs(self, start: int | None = None, end: int | None = None) -> str:
        from delta_rs_spark.operators.log_compaction import compact_logs as _compact

        return _compact(self.table_uri, start, end)

    def generate(self, mode: str = "symlink_format_manifest") -> None:
        """Write a _symlink_format_manifest for Presto/BigQuery readers
        (reference: python/deltalake/table.py:532-561,
        operations/generate.rs)."""
        if mode != "symlink_format_manifest":
            raise ValueError(f"unsupported generate mode: {mode!r}")
        from delta_rs_spark.operators.generate import generate_symlink_manifest

        generate_symlink_manifest(self.table_uri)

    def deletion_vectors(self):
        """Deletion vectors as a pyarrow table with columns
        ``filepath`` (fully-qualified URI) and ``selection_vector``
        (list<bool>, True = keep) — only DV-carrying files are returned
        (reference: python/deltalake/table.py:486-499; masks are
        materialized in memory, like the reference)."""
        import pyarrow as pa

        from delta_rs_spark.plans.deletion_vectors import load_dv_row_indexes

        paths: list[str] = []
        masks: list[list[bool]] = []
        for a in sorted(self._snapshot.files.values(), key=lambda x: x.path):
            if not a.deletion_vector:
                continue
            deleted = set(load_dv_row_indexes(self.table_uri, a.deletion_vector))
            fs_path = resolve_add_path(self.table_uri, a.path)
            n_physical = a.num_records()
            if n_physical is None:
                import pyarrow.parquet as pq

                n_physical = pq.ParquetFile(fs_path).metadata.num_rows
            paths.append("file://" + fs_path)
            masks.append([i not in deleted for i in range(n_physical)])
        return pa.table(
            {
                "filepath": pa.array(paths, pa.string()),
                "selection_vector": pa.array(masks, pa.list_(pa.bool_())),
            }
        )

    def table_config(self):
        """Loading-time options tuple (reference: table.py:143-146,:203).
        This engine always loads file lists eagerly with stats, so the
        fields report that fixed behavior."""
        from collections import namedtuple

        cfg = namedtuple("DeltaTableConfig", "without_files log_buffer_size skip_stats")
        return cfg(without_files=False, log_buffer_size=8, skip_stats=False)

    def cleanup_metadata(self, retention_hours: int | None = None) -> int:
        from delta_rs_spark.operators.vacuum import cleanup_metadata as _cleanup

        # the loaded snapshot's version is the keep floor (reference
        # cleanup_metadata passes snapshot.version()): a table opened at
        # an old version can never clean that version out from under
        # itself
        return _cleanup(
            self.table_uri, retention_hours, keep_version=self.version()
        )

    def refresh(self) -> None:
        self._snapshot = load_snapshot(self.table_uri)
        self._check_read_protocol()
