"""ALTER surface — constraints, add columns, table properties, metadata.

(reference: crates/core/src/operations/constraints.rs,
drop_constraints.rs, add_column.rs, set_tbl_properties.rs,
update_table_metadata.rs, update_field_metadata.rs; python surface
python/deltalake/table.py:1859-2184 TableAlterer)

Constraints are stored as ``delta.constraints.<name>`` table properties
(the Delta protocol convention); ADD CONSTRAINT validates existing rows
with one Spark scan before committing, and the writer enforces them on
every subsequent write.
"""

from __future__ import annotations

import json
from dataclasses import replace
from typing import Any

from pyspark.sql import functions as F
from pyspark.sql import types as T

from delta_rs_spark.log import commit as commit_mod
from delta_rs_spark.log import snapshot as snap_mod
from delta_rs_spark.log.actions import CommitInfo, Metadata, Protocol
from delta_rs_spark.log.commit import DeltaError, TransactionInfo

CONSTRAINT_PREFIX = "delta.constraints."


def table_constraints(configuration: dict[str, str]) -> dict[str, str]:
    return {
        k.removeprefix(CONSTRAINT_PREFIX): v
        for k, v in configuration.items()
        if k.startswith(CONSTRAINT_PREFIX)
    }


class TableAlterer:
    def __init__(self, dt: Any):
        self.dt = dt

    def _commit_metadata(
        self,
        meta: Metadata,
        operation: str,
        params: dict,
        extra_actions: list | None = None,
    ) -> None:
        snapshot = snap_mod.load_snapshot(self.dt.table_uri)
        op = CommitInfo(operation, params)
        commit_mod.commit(
            self.dt.table_uri,
            list(extra_actions or []) + [meta],
            op,
            snapshot.version,
            TransactionInfo(blind_append=False, read_whole_table=True),
        )
        self.dt.refresh()

    def _meta_copy(self) -> Metadata:
        # refresh first: copying from a stale snapshot would silently drop
        # metadata committed in between (the conflict checker then protects
        # the remaining refresh->commit window)
        self.dt.refresh()
        m = self.dt.metadata()
        return replace(m, configuration=dict(m.configuration))

    def add_constraint(self, constraints: dict[str, str]) -> None:
        """ADD CONSTRAINT name CHECK (expr); validates existing rows first
        (reference: operations/constraints.rs)."""
        meta = self._meta_copy()
        existing = table_constraints(meta.configuration)
        for name, expr in constraints.items():
            if name in existing:
                raise DeltaError(f"constraint {name!r} already exists")
            violations = (
                self.dt.to_df().filter(~F.expr(expr).eqNullSafe(F.lit(True))).limit(1).count()
            )
            if violations:
                raise DeltaError(
                    f"cannot add constraint {name!r}: existing rows violate {expr!r}"
                )
            meta.configuration[CONSTRAINT_PREFIX + name] = expr
        self._commit_metadata(
            meta, "ADD CONSTRAINT", {"constraints": constraints}
        )

    def drop_constraint(self, name: str, raise_if_not_exists: bool = True) -> None:
        meta = self._meta_copy()
        key = CONSTRAINT_PREFIX + name
        if key not in meta.configuration:
            if raise_if_not_exists:
                raise DeltaError(f"constraint {name!r} does not exist")
            return
        del meta.configuration[key]
        self._commit_metadata(meta, "DROP CONSTRAINT", {"name": name})

    def add_columns(self, fields: list[T.StructField]) -> None:
        """ALTER TABLE ADD COLUMNS — new nullable columns appended
        (reference: operations/add_column.rs)."""
        from delta_rs_spark.plans import column_mapping as cmap

        meta = self._meta_copy()
        mapped = cmap.mapping_mode(meta.configuration) != "none"
        max_id = int(meta.configuration.get("delta.columnMapping.maxColumnId", 0))
        schema = T.StructType.fromJson(json.loads(meta.schema_string))
        names = {f.name for f in schema.fields}
        for f in fields:
            if f.name in names:
                raise DeltaError(f"column {f.name!r} already exists")
            new_field = T.StructField(f.name, f.dataType, True, f.metadata)
            if mapped:
                # new fields need fresh columnMapping ids + physical names
                # (delta-spark ALTER behavior; ids continue maxColumnId)
                annotated, max_id = cmap.assign_mapping_metadata(
                    T.StructType([new_field]), start_id=max_id
                )
                new_field = annotated.fields[0]
            schema = schema.add(new_field)
        if mapped:
            meta.configuration["delta.columnMapping.maxColumnId"] = str(max_id)
        meta.schema_string = schema.json()
        self._commit_metadata(
            meta, "ADD COLUMNS", {"columns": [f.name for f in fields]}
        )

    def set_table_properties(self, properties: dict[str, str], raise_if_not_exists: bool = True) -> None:
        from delta_rs_spark.plans import column_mapping as cmap

        meta = self._meta_copy()
        old_mode = cmap.mapping_mode(meta.configuration)
        meta.configuration.update(properties)
        new_mode = cmap.mapping_mode(meta.configuration)
        if new_mode != old_mode:
            # none -> name/id enablement on a LIVE table: the protocol
            # requires every field to carry columnMapping.id/physicalName
            # once the feature is active, so annotate the existing schema
            # (physical name = current name, delta-spark upgrade style —
            # existing parquet files were written with logical names) and
            # record maxColumnId in the SAME commit. Any other transition
            # (name->id, disabling) would orphan the physical names.
            if old_mode != "none" or new_mode not in ("name", "id"):
                raise DeltaError(
                    f"unsupported column mapping transition {old_mode!r} -> {new_mode!r}"
                )
            schema = T.StructType.fromJson(json.loads(meta.schema_string))
            if not all(
                cmap.PHYSICAL_NAME_KEY in (f.metadata or {})
                for f in schema.fields
            ):
                start = int(
                    meta.configuration.get("delta.columnMapping.maxColumnId", 0)
                )
                schema, max_id = cmap.assign_upgrade_metadata(schema, start)
                meta.schema_string = schema.json()
                meta.configuration["delta.columnMapping.maxColumnId"] = str(max_id)
        # enabling a feature-gated property mid-life (DV / CDF / ICT /
        # column mapping) must upgrade the protocol in the SAME commit —
        # otherwise the next write emits feature actions a compliant
        # reader has no contract for
        from delta_rs_spark.features import required_protocol
        from delta_rs_spark.log.actions import Protocol

        extra_actions: list = []
        # mid-life row tracking enablement needs a BACKFILL: existing
        # files have no baseRowId, so re-add them (dataChange=false) in
        # the SAME commit — the commit hook sees the enabling Metadata
        # and allocates every range atomically with the enablement
        from delta_rs_spark.plans import row_tracking as _rt

        if _rt.enabled(meta.configuration) and not _rt.enabled(
            self.dt._snapshot.configuration
        ):
            meta.configuration = dict(_rt.prepare_create(meta.configuration))
            import dataclasses as _dc

            extra_actions.extend(
                _dc.replace(a, data_change=False)
                for a in self.dt._snapshot.files.values()
                if a.base_row_id is None
            )
        wanted = required_protocol(meta.schema_string, meta.configuration)
        cur = self.dt.protocol()
        if wanted.min_writer_version >= 7:
            merged = Protocol(
                min_reader_version=max(
                    wanted.min_reader_version, cur.min_reader_version
                ),
                min_writer_version=max(
                    wanted.min_writer_version, cur.min_writer_version
                ),
                reader_features=sorted(
                    set(wanted.reader_features or [])
                    | set(cur.reader_features or [])
                )
                or None,
                writer_features=sorted(
                    set(wanted.writer_features or [])
                    | set(cur.writer_features or [])
                )
                or None,
            )
            if (
                merged.min_reader_version != cur.min_reader_version
                or merged.min_writer_version != cur.min_writer_version
                or (merged.reader_features or []) != (cur.reader_features or [])
                or (merged.writer_features or []) != (cur.writer_features or [])
            ):
                extra_actions.append(merged)
        self._commit_metadata(
            meta,
            "SET TBLPROPERTIES",
            {"properties": properties},
            extra_actions=extra_actions,
        )

    def set_table_name(self, name: str) -> None:
        meta = self._meta_copy()
        meta.name = name
        self._commit_metadata(meta, "SET TABLE METADATA", {"name": name})

    def set_table_description(self, description: str) -> None:
        meta = self._meta_copy()
        meta.description = description
        self._commit_metadata(meta, "SET TABLE METADATA", {"description": description})

    def set_column_metadata(self, column: str, metadata: dict[str, str]) -> None:
        """Per-column metadata, e.g. comments
        (reference: update_field_metadata.rs)."""
        meta = self._meta_copy()
        schema = T.StructType.fromJson(json.loads(meta.schema_string))
        fields = []
        found = False
        for f in schema.fields:
            if f.name == column:
                merged = dict(f.metadata or {})
                merged.update(metadata)
                fields.append(T.StructField(f.name, f.dataType, f.nullable, merged))
                found = True
            else:
                fields.append(f)
        if not found:
            raise DeltaError(f"no such column: {column}")
        meta.schema_string = T.StructType(fields).json()
        self._commit_metadata(meta, "UPDATE FIELD METADATA", {"column": column})

    def add_feature(self, features: list) -> None:
        """Enable table features — protocol name strings or
        ``TableFeatures`` enum members (reference:
        operations/add_feature.rs, python/src/features.rs).

        Writer-only features (changeDataFeed, domainMetadata, ...) go in
        writerFeatures ONLY; putting them in readerFeatures would make
        the table unreadable for every protocol-compliant reader."""
        from delta_rs_spark.features import (
            READER_WRITER_FEATURES,
            protocol_feature_name,
        )

        features = [protocol_feature_name(f) for f in features]
        reader_new = {f for f in features if f in READER_WRITER_FEATURES}
        snapshot = snap_mod.load_snapshot(self.dt.table_uri)
        proto = snapshot.protocol
        from delta_rs_spark.log.actions import Protocol

        new = Protocol(
            min_reader_version=(
                max(proto.min_reader_version, 3)
                if reader_new or (proto.reader_features or [])
                else proto.min_reader_version
            ),
            min_writer_version=max(proto.min_writer_version, 7),
            reader_features=sorted(set(proto.reader_features or []) | reader_new)
            or None,
            writer_features=sorted(set(proto.writer_features or []) | set(features)),
        )
        op = CommitInfo("ADD FEATURE", {"features": features})
        commit_mod.commit(
            self.dt.table_uri,
            [new],
            op,
            snapshot.version,
            TransactionInfo(blind_append=False, read_whole_table=True),
        )
        self.dt.refresh()

    def set_domain_metadata(self, domain: str, configuration: str) -> None:
        """Write a per-domain configuration blob
        (reference: actions.rs:1128 DomainMetadata)."""
        from delta_rs_spark.log.actions import DomainMetadata

        snapshot = snap_mod.load_snapshot(self.dt.table_uri)
        commit_mod.commit(
            self.dt.table_uri,
            [DomainMetadata(domain, configuration, False)],
            CommitInfo("SET DOMAIN METADATA", {"domain": domain}),
            snapshot.version,
            TransactionInfo(blind_append=True, written_domains={domain}),
        )
        self.dt.refresh()

    def remove_domain_metadata(self, domain: str) -> None:
        from delta_rs_spark.log.actions import DomainMetadata

        snapshot = snap_mod.load_snapshot(self.dt.table_uri)
        commit_mod.commit(
            self.dt.table_uri,
            [DomainMetadata(domain, "", True)],
            CommitInfo("REMOVE DOMAIN METADATA", {"domain": domain}),
            snapshot.version,
            TransactionInfo(blind_append=True, written_domains={domain}),
        )
        self.dt.refresh()

    def set_clustering_columns(self, columns: list[str]) -> None:
        """ALTER TABLE ... CLUSTER BY (delta-spark liquid clustering):
        replace the delta.clustering domain with ``columns`` and upgrade
        the protocol with clusteredTable+domainMetadata if needed. The
        existing data keeps its old layout — run
        ``optimize.cluster(full=True)`` to recluster everything under
        the new spec (delta-spark semantics: CLUSTER BY changes affect
        future OPTIMIZE runs, not existing files)."""
        import json as _json

        from pyspark.sql import types as T

        from delta_rs_spark.plans import clustering as _cl

        snapshot = snap_mod.load_snapshot(self.dt.table_uri)
        schema = T.StructType.fromJson(_json.loads(snapshot.schema_string))
        _cl.validate_cluster_by(columns, schema, snapshot.partition_columns)
        actions: list = []
        proto = snapshot.protocol
        have = set(proto.writer_features or [])
        need = {_cl.FEATURE, "domainMetadata"} - have
        if need or proto.min_writer_version < 7:
            actions.append(
                Protocol(
                    min_reader_version=proto.min_reader_version,
                    min_writer_version=max(proto.min_writer_version, 7),
                    reader_features=proto.reader_features,
                    writer_features=sorted(have | {_cl.FEATURE, "domainMetadata"}),
                )
            )
        actions.append(_cl.domain_action(columns, schema))
        commit_mod.commit(
            self.dt.table_uri,
            actions,
            CommitInfo("CLUSTER BY", {"clusterBy": columns}),
            snapshot.version,
            TransactionInfo(
                blind_append=False,
                read_whole_table=True,
                written_domains={_cl.DOMAIN},
            ),
        )
        self.dt.refresh()
