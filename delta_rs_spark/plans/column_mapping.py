"""Column mapping mode (``delta.columnMapping.mode`` = name | id).

Foreign writers with column mapping enabled store PHYSICAL column names
(``col-<uuid>``) in the parquet files and in Add.partitionValues /
Add.stats, while the logical names live only in the schema's field
metadata (``delta.columnMapping.physicalName`` /
``delta.columnMapping.id``) — reference:
crates/core/src/table/config.rs:127-186 and the Delta protocol's
"Column Mapping" section. Without this translation such tables are
unreadable (or worse, silently all-null).

Read strategy: scan parquet with the PHYSICAL schema, then rename back
to logical via positional struct casts (covers nested fields). ``id``
mode tables always carry physicalName metadata too, so name-based
matching serves both modes — Spark's parquet reader matches by name.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

PHYSICAL_NAME_KEY = "delta.columnMapping.physicalName"
COLUMN_ID_KEY = "delta.columnMapping.id"
MODE_KEY = "delta.columnMapping.mode"


def mapping_mode(configuration: dict[str, str]) -> str:
    return (configuration or {}).get(MODE_KEY, "none")


def snapshot_physical_of(snapshot) -> dict[str, str] | None:
    """logical->physical top-level name map for a snapshot, or None when
    column mapping is off. A snapshot's Add actions key their
    partitionValues/stats by PHYSICAL names, so a logical-name lookup on
    a mapped table silently prunes every file."""
    import json as _json

    if mapping_mode(snapshot.configuration) not in ("name", "id"):
        return None
    schema = T.StructType.fromJson(_json.loads(snapshot.schema_string))
    return logical_to_physical(schema)


#: writer features whose obligations this engine actually honors when
#: committing (constraints/invariants/generated columns are enforced,
#: CDF rows are written, DV removal-by-rewrite is protocol-legal, ...)
SUPPORTED_WRITER_FEATURES = {
    "appendOnly",
    "invariants",
    "checkConstraints",
    "generatedColumns",
    "changeDataFeed",
    "columnMapping",  # writes emit physical names via rename_to_physical
    "timestampNtz",
    "deletionVectors",
    "v2Checkpoint",
    "vacuumProtocolCheck",
    "domainMetadata",
    # r11: commit path allocates baseRowId/defaultRowCommitVersion above
    # the delta.rowTracking watermark; rewrites materialize surviving
    # rows' ids (plans/row_tracking.py)
    "rowTracking",
    # r11: writes generate progression values + advance the field-metadata
    # high watermark; UPDATE/MERGE assignment rejected (plans/identity.py)
    "identityColumns",
    "inCommitTimestamp",  # commit path stamps monotonic ICTs when enabled
    # r12: CLUSTER BY persists the delta.clustering domain, OPTIMIZE
    # cluster()/full+incremental Hilbert-clusters by it and stamps
    # clusteringProvider="liquid" on its outputs (plans/clustering.py);
    # "liquid" is the preview-era spelling of the same feature (reference
    # corpus table_with_liquid_clustering) — clustering_columns() reads
    # its property/domain conventions, so the obligations are met
    "clusteredTable",
    "liquid",
    # Spark 4 writes variant natively (parquet VARIANT logical type);
    # footer stats fall back to writer._spark_stats_fallback because
    # pyarrow 16 cannot parse that footer
    "variantType",
    "variantType-preview",
}


def ensure_writable(configuration_or_snapshot) -> None:
    """Mutation-path gate: refuse tables whose protocol demands writer
    features we don't honor (e.g. rowTracking — committing without the
    feature's obligations corrupts the table for compliant engines).
    Column-mapped tables ARE writable: write_files renames to physical
    columns and the stats/partitionValues keys come out physical (the
    reference writes column-mapped tables too, blocking only schema
    evolution — operations/write/mod.rs:410). Accepts a Snapshot or a
    configuration dict."""
    from delta_rs_spark.log.commit import DeltaError

    snapshot = None
    cfg = configuration_or_snapshot
    if hasattr(cfg, "configuration"):
        snapshot = cfg
        cfg = snapshot.configuration
    proto = snapshot.protocol if snapshot is not None else None
    if proto is not None:
        if proto.min_writer_version > 7:
            raise DeltaError(
                f"table requires minWriterVersion {proto.min_writer_version}; "
                "this engine writes up to 7"
            )
        if proto.min_writer_version >= 7:
            unsupported = set(proto.writer_features or []) - SUPPORTED_WRITER_FEATURES
            if unsupported:
                raise DeltaError(
                    f"table requires unsupported writer features {sorted(unsupported)}"
                )


def _physical_name(field: T.StructField) -> str:
    return (field.metadata or {}).get(PHYSICAL_NAME_KEY, field.name)


def _physical_type(dtype: T.DataType) -> T.DataType:
    if isinstance(dtype, T.StructType):
        return T.StructType(
            [
                T.StructField(
                    _physical_name(f), _physical_type(f.dataType), f.nullable
                )
                for f in dtype.fields
            ]
        )
    if isinstance(dtype, T.ArrayType):
        return T.ArrayType(_physical_type(dtype.elementType), dtype.containsNull)
    if isinstance(dtype, T.MapType):
        return T.MapType(
            _physical_type(dtype.keyType),
            _physical_type(dtype.valueType),
            dtype.valueContainsNull,
        )
    return dtype


def _as_nullable(dtype: T.DataType) -> T.DataType:
    """``dtype`` with every nested field, array element and map value
    nullable, as Spark's parquet read yields it."""
    if isinstance(dtype, T.StructType):
        return T.StructType(
            [
                T.StructField(f.name, _as_nullable(f.dataType), True, f.metadata)
                for f in dtype.fields
            ]
        )
    if isinstance(dtype, T.ArrayType):
        return T.ArrayType(_as_nullable(dtype.elementType), True)
    if isinstance(dtype, T.MapType):
        return T.MapType(_as_nullable(dtype.keyType), _as_nullable(dtype.valueType), True)
    return dtype


def physical_schema(schema: T.StructType) -> T.StructType:
    """Logical table schema -> schema with physical names at every level."""
    return _physical_type(schema)


def logical_to_physical(schema: T.StructType) -> dict[str, str]:
    """Top-level logical -> physical name map (what partitionValues,
    stats, and file-skipping lookups are keyed by)."""
    return {f.name: _physical_name(f) for f in schema.fields}


def rename_to_logical(
    df: DataFrame, schema: T.StructType, extra_cols: list[str] | None = None
) -> DataFrame:
    """Physical-name DataFrame -> logical names, nested fields included
    (positional struct cast renames interior fields for free). The cast
    target keeps every nested field nullable: the parquet read made them
    so, and Spark cannot cast a nullable field to a NOT NULL one.
    ``extra_cols`` are carried through unchanged (e.g. a bound
    file-path column)."""
    cols = []
    for f in schema.fields:
        phys = _physical_name(f)
        c = F.col(f"`{phys}`")
        if isinstance(f.dataType, (T.StructType, T.ArrayType, T.MapType)):
            c = c.cast(_as_nullable(f.dataType))
        cols.append(c.alias(f.name))
    for name in extra_cols or []:
        cols.append(F.col(f"`{name}`"))
    return df.select(*cols)


def ensure_schema_static(configuration_or_snapshot) -> None:
    """Schema-changing paths (schema_mode merge/overwrite, add_columns)
    call this: new fields on a column-mapped table need fresh
    columnMapping ids/physicalNames, which this engine does not assign
    (same restriction as the reference:
    crates/core/src/operations/write/mod.rs:410-415)."""
    from delta_rs_spark.log.commit import DeltaError

    cfg = configuration_or_snapshot
    if hasattr(cfg, "configuration"):
        cfg = cfg.configuration
    if mapping_mode(cfg) != "none":
        raise DeltaError(
            "schema evolution on column-mapped tables is not supported"
        )


def rename_to_physical(
    df: DataFrame, schema: T.StructType, extra_cols: list[str] | None = None
) -> DataFrame:
    """Logical-name DataFrame -> physical names at every level (the
    write-side inverse of rename_to_logical): nested renames ride the
    positional struct cast, to the all-nullable nested type a read
    yields (a rewrite's rows come from one). ``extra_cols`` (e.g. row
    tracking's hidden materialized columns — already physical, never in
    the table schema) pass through unrenamed."""
    cols = []
    for f in schema.fields:
        c = F.col(f"`{f.name}`")
        if isinstance(f.dataType, (T.StructType, T.ArrayType, T.MapType)):
            c = c.cast(_as_nullable(_physical_type(f.dataType)))
        cols.append(c.alias(_physical_name(f)))
    for e in extra_cols or []:
        if e in df.columns:
            cols.append(F.col(f"`{e}`"))
    return df.select(*cols)


def assign_mapping_metadata(
    schema: T.StructType, start_id: int = 0
) -> tuple[T.StructType, int]:
    """Assign fresh columnMapping ids + ``col-<uuid>`` physical names to
    every field at every nesting level (what delta-spark does when a
    table is created with column mapping enabled). Returns the annotated
    schema and the new maxColumnId for the table configuration."""
    import uuid as _uuid

    next_id = start_id

    def walk_type(dt: T.DataType) -> T.DataType:
        if isinstance(dt, T.StructType):
            return walk_struct(dt)
        if isinstance(dt, T.ArrayType):
            return T.ArrayType(walk_type(dt.elementType), dt.containsNull)
        if isinstance(dt, T.MapType):
            return T.MapType(
                walk_type(dt.keyType), walk_type(dt.valueType), dt.valueContainsNull
            )
        return dt

    def walk_struct(st: T.StructType) -> T.StructType:
        nonlocal next_id
        fields = []
        for f in st.fields:
            next_id += 1
            md = dict(f.metadata or {})
            md[COLUMN_ID_KEY] = next_id
            md[PHYSICAL_NAME_KEY] = f"col-{_uuid.uuid4()}"
            fields.append(
                T.StructField(f.name, walk_type(f.dataType), f.nullable, md)
            )
        return T.StructType(fields)

    return walk_struct(schema), next_id


def assign_upgrade_metadata(
    schema: T.StructType, start_id: int = 0
) -> tuple[T.StructType, int]:
    """Annotate an EXISTING table's schema for a none -> name/id mode
    upgrade: fresh columnMapping ids, but physicalName = the current
    field name at every level (delta-spark upgrade semantics — the
    table's existing parquet files were written with logical names, so
    a col-<uuid> physical name would orphan them)."""
    next_id = start_id

    def walk_type(dt: T.DataType) -> T.DataType:
        if isinstance(dt, T.StructType):
            return walk_struct(dt)
        if isinstance(dt, T.ArrayType):
            return T.ArrayType(walk_type(dt.elementType), dt.containsNull)
        if isinstance(dt, T.MapType):
            return T.MapType(
                walk_type(dt.keyType), walk_type(dt.valueType), dt.valueContainsNull
            )
        return dt

    def walk_struct(st: T.StructType) -> T.StructType:
        nonlocal next_id
        fields = []
        for f in st.fields:
            next_id += 1
            md = dict(f.metadata or {})
            md[COLUMN_ID_KEY] = next_id
            md[PHYSICAL_NAME_KEY] = f.name
            fields.append(
                T.StructField(f.name, walk_type(f.dataType), f.nullable, md)
            )
        return T.StructType(fields)

    return walk_struct(schema), next_id


def prepare_mapped_create(
    schema: T.StructType, configuration: dict[str, str] | None
) -> tuple[T.StructType, dict[str, str]]:
    """If the create configuration enables column mapping and the schema
    does not already carry physical names (foreign schema), annotate it
    and record maxColumnId."""
    cfg = dict(configuration or {})
    if mapping_mode(cfg) == "none":
        return schema, cfg
    already = all(
        PHYSICAL_NAME_KEY in (f.metadata or {}) for f in schema.fields
    )
    if not already:
        schema, max_id = assign_mapping_metadata(schema)
        cfg["delta.columnMapping.maxColumnId"] = str(max_id)
    return schema, cfg
