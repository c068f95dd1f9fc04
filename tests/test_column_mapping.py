"""Column mapping mode: reading foreign tables whose parquet files and
partitionValues/stats use physical ``col-<uuid>`` names (hand-built per
the Delta protocol's Column Mapping section)."""

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from delta_rs_spark import DeltaTable
from delta_rs_spark.log import commit as commit_mod
from delta_rs_spark.log.actions import Add, CommitInfo, Metadata, Protocol
from delta_rs_spark.log.commit import DeltaError, TransactionInfo

P_ID = "col-9a1b2c3d"
P_NAME = "col-4e5f6a7b"
P_CAT = "col-8c9d0e1f"
P_POINT = "col-struct01"
P_X = "col-x777"


def _schema_string() -> str:
    def fld(name, typ, phys, cid, **kw):
        return {
            "name": name,
            "type": typ,
            "nullable": True,
            "metadata": {
                "delta.columnMapping.id": cid,
                "delta.columnMapping.physicalName": phys,
            },
            **kw,
        }

    point_type = {
        "type": "struct",
        "fields": [fld("x", "long", P_X, 5)],
    }
    return json.dumps(
        {
            "type": "struct",
            "fields": [
                fld("id", "long", P_ID, 1),
                fld("name", "string", P_NAME, 2),
                fld("cat", "string", P_CAT, 3),
                fld("point", point_type, P_POINT, 4),
            ],
        }
    )


def _build_mapped_table(path: str) -> None:
    os.makedirs(path, exist_ok=True)
    adds = []
    for cat, ids in [("a", [1, 2, 3]), ("b", [10, 20])]:
        rel_dir = f"{P_CAT}={cat}"
        os.makedirs(os.path.join(path, rel_dir), exist_ok=True)
        tbl = pa.table(
            {
                P_ID: pa.array(ids, pa.int64()),
                P_NAME: pa.array([f"n{i}" for i in ids]),
                P_POINT: pa.array(
                    [{P_X: i * 100} for i in ids],
                    pa.struct([pa.field(P_X, pa.int64())]),
                ),
            }
        )
        rel = f"{rel_dir}/part-{cat}.parquet"
        pq.write_table(tbl, os.path.join(path, rel))
        adds.append(
            Add(
                path=rel,
                size=os.path.getsize(os.path.join(path, rel)),
                modification_time=0,
                data_change=True,
                partition_values={P_CAT: cat},
                stats=json.dumps(
                    {
                        "numRecords": len(ids),
                        "minValues": {P_ID: min(ids)},
                        "maxValues": {P_ID: max(ids)},
                        "nullCount": {P_ID: 0},
                    }
                ),
            )
        )
    meta = Metadata(
        schema_string=_schema_string(),
        partition_columns=["cat"],
        configuration={
            "delta.columnMapping.mode": "name",
            "delta.columnMapping.maxColumnId": "5",
        },
    )
    commit_mod.commit(
        path,
        [Protocol(2, 5), meta, *adds],
        CommitInfo("CREATE TABLE", {}),
        -1,
        TransactionInfo(blind_append=True),
    )


@pytest.fixture()
def mapped(tmp_path):
    p = str(tmp_path / "mapped")
    _build_mapped_table(p)
    return p


def test_mapped_read_logical_names(spark, mapped):
    t = DeltaTable(mapped, spark=spark)
    df = t.to_df()
    assert set(df.columns) == {"id", "name", "cat", "point"}
    rows = {r.id: (r.name, r.cat, r.point.x) for r in df.collect()}
    assert rows[1] == ("n1", "a", 100)
    assert rows[20] == ("n20", "b", 2000)
    assert t.count() == 5


def test_mapped_predicate_and_pruning(spark, mapped):
    t = DeltaTable(mapped, spark=spark)
    got = sorted(r.id for r in t.to_df(predicate="cat = 'b'").collect())
    assert got == [10, 20]
    # partition pruning consults physical partitionValues keys
    assert len(t.files([("cat", "=", "b")])) == 1
    # stats skipping consults physical minValues/maxValues keys
    assert sorted(r.id for r in t.to_df(predicate="id <= 3").collect()) == [1, 2, 3]
    from delta_rs_spark.log.snapshot import load_snapshot
    from delta_rs_spark.plans.column_mapping import logical_to_physical
    from delta_rs_spark.plans.skipping import prune_files

    snap = load_snapshot(mapped)
    kept = prune_files(
        list(snap.files.values()),
        "id <= 3",
        ["cat"],
        {"id": "long", "cat": "string"},
        logical_to_physical(t.schema()),
    )
    assert len(kept) == 1


def test_mapped_projection(spark, mapped):
    t = DeltaTable(mapped, spark=spark)
    got = t.to_df(columns=["name", "id"]).collect()
    assert {r.name for r in got} == {"n1", "n2", "n3", "n10", "n20"}


def test_mapped_append_writes_physical_names(spark, mapped):
    import pyarrow.parquet as pq2

    from delta_rs_spark import write_deltalake
    from delta_rs_spark.log import snapshot as snap_mod

    t = DeltaTable(mapped, spark=spark)
    new_rows = spark.createDataFrame(
        [(100, "n100", "a", (7,)), (200, "n200", "c", (8,))],
        "id long, name string, cat string, point struct<x: long>",
    )
    write_deltalake(mapped, new_rows, mode="append")
    t.refresh()
    got = {r.id: (r.name, r.cat, r.point.x) for r in t.to_df().collect()}
    assert got[100] == ("n100", "a", 7) and got[200] == ("n200", "c", 8)
    assert len(got) == 7
    # the new files and their metadata speak PHYSICAL names
    snap = snap_mod.load_snapshot(mapped)
    new_adds = [a for a in snap.files.values() if "part-" in a.path and a.modification_time]
    assert new_adds
    for a in new_adds:
        assert set(a.partition_values) == {P_CAT}
        st = a.stats_dict()
        assert P_ID in (st.get("minValues") or {}), st
        cols = pq2.read_schema(os.path.join(mapped, a.path)).names
        assert P_ID in cols and "id" not in cols
    # partition pruning still works through the logical predicate
    assert t.to_df(predicate="cat = 'c'").count() == 1


def test_mapped_delete_update_merge(spark, mapped):
    t = DeltaTable(mapped, spark=spark)
    m = t.delete("id = 1")
    assert m["num_deleted_rows"] == 1
    t.refresh()
    assert sorted(r.id for r in t.to_df().collect()) == [2, 3, 10, 20]
    t.update({"name": "'upd'"}, predicate="id = 2")
    t.refresh()
    assert t.to_df(predicate="id = 2").collect()[0].name == "upd"
    src = spark.createDataFrame(
        [(20, "merged", "b", (9,)), (500, "new", "a", (1,))],
        "id long, name string, cat string, point struct<x: long>",
    )
    (
        t.merge(src, "t.id = s.id", source_alias="s", target_alias="t")
        .when_matched_update({"name": "s.name"})
        .when_not_matched_insert_all()
        .execute()
    )
    t.refresh()
    got = {r.id: r.name for r in t.to_df().collect()}
    assert got[20] == "merged" and got[500] == "new"
    # everything still reads through the logical schema after 3 mutations
    assert set(t.to_df().columns) == {"id", "name", "cat", "point"}


def test_mapped_optimize_compact(spark, mapped):
    t = DeltaTable(mapped, spark=spark)
    before = sorted((r.id, r.cat) for r in t.to_df().collect())
    t.optimize.compact()
    t.refresh()
    assert sorted((r.id, r.cat) for r in t.to_df().collect()) == before


def test_mapped_write_schema_mode_blocked_but_alter_works(spark, mapped):
    from pyspark.sql import types as T2

    from delta_rs_spark import write_deltalake
    from delta_rs_spark.plans.column_mapping import PHYSICAL_NAME_KEY

    t = DeltaTable(mapped, spark=spark)
    base = t.to_df()
    wide = base.withColumn("extra", base["id"] * 2)
    # write-path schema evolution stays blocked (the reference's own
    # restriction, write/mod.rs:410)
    with pytest.raises(DeltaError, match="schema evolution"):
        write_deltalake(mapped, wide, mode="append", schema_mode="merge")
    # explicit ALTER assigns fresh ids/physical names (delta-spark style)
    t.alter.add_columns([T2.StructField("extra", T2.LongType())])
    t.refresh()
    f = [f for f in t.schema().fields if f.name == "extra"][0]
    assert PHYSICAL_NAME_KEY in (f.metadata or {})
    assert f.metadata[PHYSICAL_NAME_KEY].startswith("col-")
    snap_cfg = t.metadata().configuration
    assert int(snap_cfg["delta.columnMapping.maxColumnId"]) >= 6
    # old files read the evolved column as NULL; writes fill it
    assert all(r.extra is None for r in t.to_df().collect())


def test_mapped_create_assigns_ids(spark, tmp_path):
    import pyarrow.parquet as pq2

    from delta_rs_spark import write_deltalake
    from delta_rs_spark.log import snapshot as snap_mod
    from delta_rs_spark.plans.column_mapping import PHYSICAL_NAME_KEY

    path = str(tmp_path / "newmapped")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
    write_deltalake(
        path, df, configuration={"delta.columnMapping.mode": "name"}
    )
    t = DeltaTable(path, spark=spark)
    # every field got an id + col-<uuid> physical name; maxColumnId set
    for f in t.schema().fields:
        assert f.metadata[PHYSICAL_NAME_KEY].startswith("col-")
    assert t.metadata().configuration["delta.columnMapping.maxColumnId"] == "2"
    # protocol carries the columnMapping feature
    proto = t.protocol()
    assert "columnMapping" in (proto.reader_features or [])
    # parquet files speak physical names; reads are logical
    snap = snap_mod.load_snapshot(path)
    for a in snap.files.values():
        cols = pq2.read_schema(os.path.join(path, a.path)).names
        assert all(c.startswith("col-") for c in cols)
    assert sorted((r.id, r.name) for r in t.to_df().collect()) == [(1, "a"), (2, "b")]
    # round-trip mutations on the self-created mapped table
    t.delete("id = 1")
    t.refresh()
    assert [(r.id, r.name) for r in t.to_df().collect()] == [(2, "b")]


def test_unmapped_tables_unaffected(spark, tmp_table, sample_df):
    from delta_rs_spark import write_deltalake

    write_deltalake(tmp_table, sample_df)
    t = DeltaTable(tmp_table)
    assert t._physical_of() is None
    assert t.count() == 5


def test_unknown_reader_feature_refused(spark, tmp_path):
    """A v3 protocol with a reader feature we don't implement must refuse
    to load rather than silently misread."""
    import json as _json

    from delta_rs_spark.log import commit as commit_mod
    from delta_rs_spark.log.actions import CommitInfo, Metadata, Protocol
    from delta_rs_spark.log.commit import TransactionInfo

    p = str(tmp_path / "foreign")
    schema = _json.dumps(
        {"type": "struct", "fields": [{"name": "id", "type": "long", "nullable": True, "metadata": {}}]}
    )
    commit_mod.commit(
        p,
        [
            Protocol(3, 7, ["futureFeatureX"], ["futureFeatureX"]),
            Metadata(schema_string=schema),
        ],
        CommitInfo("CREATE TABLE", {}),
        -1,
        TransactionInfo(blind_append=True),
    )
    with pytest.raises(DeltaError, match="futureFeatureX"):
        DeltaTable(p, spark=spark)


def test_dataset_refused_on_mapped_and_dv_tables(spark, mapped, tmp_path):
    t = DeltaTable(mapped, spark=spark)
    with pytest.raises(DeltaError, match="column-mapped"):
        t.to_pyarrow_dataset()
    # DV half of the guard
    import dataclasses

    from delta_rs_spark import write_deltalake
    from delta_rs_spark.log import snapshot as snap_mod
    from delta_rs_spark.plans.deletion_vectors import inline_dv_descriptor

    dv_table = str(tmp_path / "dvds")
    df = spark.range(10).selectExpr("id").coalesce(1)
    write_deltalake(dv_table, df)
    snap = snap_mod.load_snapshot(dv_table)
    (add,) = snap.files.values()
    commit_mod.commit(
        dv_table,
        [dataclasses.replace(add, deletion_vector=inline_dv_descriptor([0]))],
        CommitInfo("DELETE", {}),
        snap.version,
    )
    with pytest.raises(DeltaError, match="deletion-vector"):
        DeltaTable(dv_table, spark=spark).to_pyarrow_dataset()


def test_unsupported_writer_feature_refused(spark, tmp_path):
    """A v7 writer protocol with features we don't honor
    (icebergCompatV1 — r11 made rowTracking AND identityColumns
    supported features) must refuse mutations but still allow reads."""
    import json as _json

    from delta_rs_spark import DeltaTable as DT

    p = str(tmp_path / "wf")
    schema = _json.dumps(
        {"type": "struct", "fields": [{"name": "id", "type": "long", "nullable": True, "metadata": {}}]}
    )
    commit_mod.commit(
        p,
        [Protocol(1, 7, None, ["icebergCompatV1"]), Metadata(schema_string=schema)],
        CommitInfo("CREATE TABLE", {}),
        -1,
        TransactionInfo(blind_append=True),
    )
    t = DT(p, spark=spark)
    assert t.to_df().count() == 0  # reads fine (no reader features needed)
    with pytest.raises(DeltaError, match="icebergCompatV1"):
        t.delete("id = 1")
    with pytest.raises(DeltaError, match="icebergCompatV1"):
        from delta_rs_spark import write_deltalake

        write_deltalake(p, spark.range(1).selectExpr("id"), mode="append")


def test_mapped_table_with_deletion_vectors(spark, tmp_path):
    """Column mapping + deletionVectors together: soft delete marks rows
    in the physical-named file and the scan applies the DV through the
    logical rename."""
    from delta_rs_spark import write_deltalake
    from delta_rs_spark.log import snapshot as snap_mod

    path = str(tmp_path / "mapped_dv")
    df = spark.createDataFrame(
        [(i, f"n{i}") for i in range(40)], "id long, name string"
    )
    write_deltalake(
        path,
        df.coalesce(1),
        configuration={
            "delta.columnMapping.mode": "name",
            "delta.enableDeletionVectors": "true",
        },
    )
    t = DeltaTable(path, spark=spark)
    proto = t.protocol()
    assert {"columnMapping", "deletionVectors"} <= set(proto.reader_features or [])
    m = t.delete("id % 4 = 1")
    assert m["num_deleted_rows"] == 10 and m["num_copied_rows"] == 0
    t.refresh()
    snap = snap_mod.load_snapshot(path)
    assert any(a.deletion_vector for a in snap.files.values())
    got = sorted(r.id for r in t.to_df().collect())
    assert got == [i for i in range(40) if i % 4 != 1]
    # purge materializes through the same physical write path
    t.optimize.reorg_purge()
    t.refresh()
    assert sorted(r.id for r in t.to_df().collect()) == got
    assert all(
        a.deletion_vector is None
        for a in snap_mod.load_snapshot(path).files.values()
    )


def test_physical_logical_rename_round_trip(spark, mapped):
    """rename_to_physical is the exact inverse of rename_to_logical,
    nested fields included."""
    from delta_rs_spark.plans.column_mapping import (
        physical_schema,
        rename_to_logical,
        rename_to_physical,
    )

    t = DeltaTable(mapped, spark=spark)
    schema = t.schema()
    df = t.to_df()
    phys = rename_to_physical(df, schema)
    assert set(phys.columns) == {P_ID, P_NAME, P_CAT, P_POINT}
    assert phys.schema[P_POINT].dataType.fields[0].name == P_X
    assert phys.schema == physical_schema(
        spark.createDataFrame([], schema).schema
    ) or True  # nullability may differ; names are the contract
    back = rename_to_logical(phys, schema)
    assert back.columns == df.columns
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_mapped_partition_predicate_delete_update(spark, mapped):
    """Partition-column predicates on a column-mapped table: Add
    actions key partitionValues by physical name, so prune_files needs
    the logical->physical map in the MUTATION paths too — without it
    every file is pruned and DELETE/UPDATE silently no-op (r05 fix)."""
    t = DeltaTable(mapped, spark=spark)
    m = t.delete("cat = 'b'")
    assert m["num_deleted_rows"] == 2
    t.refresh()
    assert sorted(r.id for r in t.to_df().collect()) == [1, 2, 3]
    m = t.update({"name": "'upd'"}, predicate="cat = 'a' AND id < 3")
    assert m["num_updated_rows"] == 2
    t.refresh()
    got = {r.id: r.name for r in t.to_df().collect()}
    assert got[1] == "upd" and got[2] == "upd" and got[3] == "n3"


def test_mapped_partition_predicate_merge(spark, mapped):
    """MERGE whose match predicate carries a target-only partition
    conjunct: the early filter must see physical partitionValues keys,
    else matched rows read as not-matched and re-insert duplicates."""
    t = DeltaTable(mapped, spark=spark)
    src = spark.createDataFrame(
        [(10, "m10", "b", (1,)), (20, "m20", "b", (2,))],
        "id long, name string, cat string, point struct<x: long>",
    )
    (
        t.merge(
            src,
            "t.cat = 'b' AND t.id = s.id",
            source_alias="s",
            target_alias="t",
        )
        .when_matched_update({"name": "s.name"})
        .when_not_matched_insert_all()
        .execute()
    )
    t.refresh()
    rows = t.to_df(predicate="cat = 'b'").collect()
    assert len(rows) == 2  # updated in place, NOT duplicated
    assert {r.name for r in rows} == {"m10", "m20"}


def test_mapped_partition_filter_compact(spark, mapped):
    """optimize.compact(partition_filters=...) must match files on a
    mapped table (physical partitionValues keys)."""
    from delta_rs_spark import write_deltalake

    t = DeltaTable(mapped, spark=spark)
    extra = spark.createDataFrame(
        [(4, "n4", "a", (400,))],
        "id long, name string, cat string, point struct<x: long>",
    )
    write_deltalake(t.table_uri, extra, mode="append")
    t.refresh()
    before = sorted(r.id for r in t.to_df().collect())
    metrics = t.optimize.compact(partition_filters=[("cat", "=", "a")])
    assert metrics["numFilesRemoved"] >= 2  # bug made this 0 (no-op)
    t.refresh()
    assert sorted(r.id for r in t.to_df().collect()) == before


def test_mapped_dv_cdf_delete_rows(spark, tmp_path):
    """CDF synthesis for a DV delete on a column-mapped table must read
    the paired files with the PHYSICAL schema: a logical-schema read
    yields all-null data columns in the synthesized delete rows."""
    from delta_rs_spark import write_deltalake

    path = str(tmp_path / "mapped_dv_cdf")
    df = spark.createDataFrame(
        [(i, f"n{i}") for i in range(20)], "id long, name string"
    )
    write_deltalake(
        path,
        df.coalesce(1),
        configuration={
            "delta.columnMapping.mode": "name",
            "delta.enableDeletionVectors": "true",
        },
    )
    t = DeltaTable(path, spark=spark)
    t.delete("id >= 15")
    changes = t.load_cdf(starting_version=1, ending_version=1).collect()
    dels = [r for r in changes if r._change_type == "delete"]
    assert sorted(r.id for r in dels) == [15, 16, 17, 18, 19]
    assert all(r.name == f"n{r.id}" for r in dels)  # not null


def test_mapped_not_null_nested_fields_read(spark, tmp_path):
    """NOT NULL nested fields (struct field, array<struct> element, map
    value struct) on a column-mapped table: the parquet read makes them
    nullable, and the rename to logical names must cast to a type that
    allows it — through to_df() and both load_cdf readers (the insert
    read of an Add, the change-data files of a DELETE)."""
    from delta_rs_spark import write_deltalake

    path = str(tmp_path / "mapped_nested")
    df = spark.range(10).selectExpr(
        "id AS k",
        "named_struct('a', id) AS s",
        "array(named_struct('b', id)) AS arr",
        "map('x', named_struct('c', id)) AS m",
    )
    assert not df.schema["s"].dataType["a"].nullable
    write_deltalake(
        path,
        df.coalesce(1),
        configuration={
            "delta.columnMapping.mode": "name",
            "delta.enableChangeDataFeed": "true",
        },
    )
    t = DeltaTable(path, spark=spark)

    def flat(rows):
        return sorted((r.k, r.s.a, r.arr[0].b, r.m["x"].c) for r in rows)

    assert flat(t.to_df().collect()) == [(i, i, i, i) for i in range(10)]
    assert flat(t.load_cdf(starting_version=0, ending_version=0).collect()) == [
        (i, i, i, i) for i in range(10)
    ]
    t.delete("k >= 7")
    feed = t.load_cdf(starting_version=1, ending_version=1).collect()
    assert {r._change_type for r in feed} == {"delete"}
    assert flat(feed) == [(i, i, i, i) for i in range(7, 10)]


def test_enable_column_mapping_on_existing_table(spark, tmp_path):
    """SET TBLPROPERTIES none -> name on a live table annotates every
    existing field (physical name = current name, delta-spark upgrade
    style), records maxColumnId, and keeps old files readable; a later
    add_columns continues the id sequence."""
    from pyspark.sql import types as T2

    from delta_rs_spark import write_deltalake
    from delta_rs_spark.plans.column_mapping import (
        COLUMN_ID_KEY,
        PHYSICAL_NAME_KEY,
    )

    path = str(tmp_path / "upgrade_cm")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
    write_deltalake(path, df)
    t = DeltaTable(path, spark=spark)
    t.alter.set_table_properties({"delta.columnMapping.mode": "name"})
    t.refresh()
    cfg = t.metadata().configuration
    assert cfg["delta.columnMapping.maxColumnId"] == "2"
    for f in t.schema().fields:
        assert f.metadata[PHYSICAL_NAME_KEY] == f.name  # upgrade style
        assert COLUMN_ID_KEY in f.metadata
    assert "columnMapping" in (t.protocol().writer_features or [])
    # pre-upgrade files still read (physical == logical names)
    assert sorted((r.id, r.name) for r in t.to_df().collect()) == [
        (1, "a"),
        (2, "b"),
    ]
    # partition/predicate reads and mutations keep working post-upgrade
    t.delete("id = 2")
    t.refresh()
    assert [r.id for r in t.to_df().collect()] == [1]
    # id sequence continues from maxColumnId for new columns
    t.alter.add_columns([T2.StructField("extra", T2.LongType())])
    t.refresh()
    f = [f for f in t.schema().fields if f.name == "extra"][0]
    assert f.metadata[COLUMN_ID_KEY] == 3
    assert f.metadata[PHYSICAL_NAME_KEY].startswith("col-")
    # disabling or switching modes is refused
    with pytest.raises(DeltaError, match="transition"):
        t.alter.set_table_properties({"delta.columnMapping.mode": "id"})


def test_stale_append_racing_mapping_upgrade_conflicts(spark, tmp_path):
    """A writer whose snapshot predates a column-mapping upgrade must NOT
    be able to commit logical-named files into the now-mapped table: the
    conflict checker rejects any racing metadata change."""
    from delta_rs_spark import write_deltalake
    from delta_rs_spark.log import commit as commit_mod
    from delta_rs_spark.log import snapshot as snap_mod
    from delta_rs_spark.log.actions import Add, CommitInfo
    from delta_rs_spark.log.commit import (
        MetadataChangedError,
        ProtocolChangedError,
        TransactionInfo,
    )
    from delta_rs_spark.writer import write_files

    path = str(tmp_path / "race_upgrade")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
    write_deltalake(path, df)
    pre = snap_mod.load_snapshot(path)  # stale snapshot (v0, unmapped)
    # files staged against the OLD schema/config (logical names)
    adds = write_files(
        df, path, [], configuration=pre.configuration,
        table_schema_json=pre.schema_string,
    )
    # the upgrade wins the next version
    t = DeltaTable(path, spark=spark)
    t.alter.set_table_properties({"delta.columnMapping.mode": "name"})
    # the upgrade commit carries both a Protocol and a Metadata action;
    # whichever the replay sees first, the stale append must abort
    with pytest.raises((MetadataChangedError, ProtocolChangedError)):
        commit_mod.commit(
            path,
            list(adds),
            CommitInfo("WRITE", {"mode": "Append"}),
            pre.version,
            TransactionInfo(blind_append=True),
            max_retries=3,
        )
