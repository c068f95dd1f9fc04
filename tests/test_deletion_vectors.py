"""Deletion-vector reading: Z85 + roaring codec round-trips, and scans
of tables whose Adds carry DV descriptors (inline / uuid-file /
absolute-path storage)."""

import dataclasses
import os
import struct

import pytest
from pyspark.sql import functions as F

from delta_rs_spark import DeltaTable, write_deltalake
from delta_rs_spark.log import snapshot as snap_mod
from delta_rs_spark.log.actions import CommitInfo
from delta_rs_spark.log import commit as commit_mod
from delta_rs_spark.plans import deletion_vectors as DV


def test_z85_round_trip():
    for raw in [b"\x00\x00\x00\x00", b"\xff\xff\xff\xff", os.urandom(16), os.urandom(40)]:
        assert DV.z85_decode(DV.z85_encode(raw)) == raw
    # spec reference vector: Z85 of 0x86 0x4F 0xD2 0x6F 0xB5 0x59 0xF7 0x5B
    assert DV.z85_encode(bytes([0x86, 0x4F, 0xD2, 0x6F, 0xB5, 0x59, 0xF7, 0x5B])) == "HelloWorld"


@pytest.mark.parametrize("force", ["array", "bitmap", "run"])
def test_roaring_round_trip_container_kinds(force):
    vals = sorted({1, 2, 3, 100, 5000, 65535, 65536, 70000, (1 << 16) * 3 + 7})
    if force == "bitmap":
        vals = sorted(set(vals) | set(range(200000, 210000)))  # >4096 in one key
    got = DV.decode_bitmap_array(DV.encode_bitmap_array(vals, force=force))
    assert got == sorted(vals)


def test_roaring_round_trip_high_32_bits():
    vals = [5, (1 << 32) + 1, (1 << 33) + 42, (7 << 32) + 65536]
    got = DV.decode_bitmap_array(DV.encode_bitmap_array(vals))
    assert got == sorted(vals)


def _make_table(spark, path, n=200):
    df = (
        spark.range(n)
        .select(F.col("id"), (F.col("id") * 2).alias("v"))
        .coalesce(1)
        .sortWithinPartitions("id")
    )
    write_deltalake(path, df)
    return DeltaTable(path)


def _attach_dv(table_path, descriptor):
    """Re-commit the single data file's Add with a DV descriptor, the way
    a foreign DV-enabled writer would after a partial delete."""
    snap = snap_mod.load_snapshot(table_path)
    (add,) = snap.files.values()
    new_add = dataclasses.replace(add, deletion_vector=descriptor, data_change=True)
    commit_mod.commit(
        table_path,
        [new_add],
        CommitInfo("DELETE", {"predicate": "synthetic-dv"}),
        snap.version,
    )


def _row_index_of(spark, table_path, ids):
    (add,) = snap_mod.load_snapshot(table_path).files.values()
    abs_path = os.path.join(table_path, add.path)
    rows = (
        spark.read.parquet(abs_path)
        .select("id", F.col("_metadata.row_index").alias("ri"))
        .collect()
    )
    by_id = {r.id: r.ri for r in rows}
    return [by_id[i] for i in ids]


def test_inline_dv_scan(spark, tmp_path):
    table = str(tmp_path / "dvi")
    t = _make_table(spark, table)
    deleted_ids = [3, 77, 150, 199]
    ris = _row_index_of(spark, table, deleted_ids)
    _attach_dv(table, DV.inline_dv_descriptor(ris))
    t.refresh()
    assert t.count() == 200 - len(deleted_ids)  # metadata-only count
    got_ids = sorted(r.id for r in t.to_df().collect())
    assert got_ids == sorted(set(range(200)) - set(deleted_ids))
    # predicate still works through the DV path
    assert t.to_df(predicate="id < 10").count() == 9  # id=3 deleted


def test_uuid_file_dv_scan(spark, tmp_path):
    table = str(tmp_path / "dvu")
    t = _make_table(spark, table)
    deleted_ids = list(range(0, 120))  # >50% deleted
    ris = _row_index_of(spark, table, deleted_ids)
    desc = DV.write_dv_file(table, ris, prefix="ab")
    assert desc["pathOrInlineDv"].startswith("ab")
    _attach_dv(table, desc)
    t.refresh()
    got_ids = sorted(r.id for r in t.to_df().collect())
    assert got_ids == list(range(120, 200))
    assert t.count() == 80


def test_absolute_path_dv_scan(spark, tmp_path):
    table = str(tmp_path / "dvp")
    t = _make_table(spark, table)
    ris = _row_index_of(spark, table, [10])
    desc = DV.write_dv_file(table, ris)
    # rewrite as absolute-path storage
    abs_file = DV.dv_file_path(table, desc["pathOrInlineDv"])
    desc_p = {**desc, "storageType": "p", "pathOrInlineDv": abs_file}
    _attach_dv(table, desc_p)
    t.refresh()
    assert t.count() == 199
    assert t.to_df().filter("id = 10").count() == 0


def test_dv_oracle_vs_pyarrow(spark, tmp_path):
    """Scan result must equal the raw parquet content minus the DV rows."""
    import pyarrow.parquet as pq

    table = str(tmp_path / "dvo")
    t = _make_table(spark, table, n=500)
    ris = list(range(0, 500, 7))
    _attach_dv(table, DV.inline_dv_descriptor(ris))
    t.refresh()
    (add,) = [a for a in snap_mod.load_snapshot(table).files.values()]
    raw = pq.read_table(os.path.join(table, add.path)).to_pylist()
    expected = sorted(
        (r["id"], r["v"]) for i, r in enumerate(raw) if i not in set(ris)
    )
    got = sorted((r.id, r.v) for r in t.to_df().collect())
    assert got == expected


def test_dv_checksum_validation(spark, tmp_path):
    table = str(tmp_path / "dvc")
    _make_table(spark, table)
    desc = DV.write_dv_file(table, [1, 2, 3])
    path = DV.dv_file_path(table, desc["pathOrInlineDv"])
    blob = bytearray(open(path, "rb").read())
    blob[-1] ^= 0xFF  # corrupt the CRC
    open(path, "wb").write(bytes(blob))
    with pytest.raises(ValueError, match="checksum"):
        DV.load_dv_row_indexes(table, desc)


def test_dv_survives_checkpoint(spark, tmp_path):
    table = str(tmp_path / "dvck")
    t = _make_table(spark, table)
    ris = _row_index_of(spark, table, [0, 1])
    _attach_dv(table, DV.inline_dv_descriptor(ris))
    snap = snap_mod.load_snapshot(table)
    snap_mod.write_checkpoint(table, snap)
    t2 = DeltaTable(table)
    assert t2.count() == 198
    assert t2.to_df().filter("id <= 1").count() == 0


def test_mutations_on_dv_table(spark, tmp_path):
    """DELETE/UPDATE on a table that mixes DV'd and plain files must work
    (the fp column is bound inside the scan, before the DV union)."""
    table = str(tmp_path / "dvmut")
    t = _make_table(spark, table)  # single file, ids 0..199
    # add a second, plain file
    from delta_rs_spark import write_deltalake
    from pyspark.sql import functions as F2

    extra = (
        spark.range(200, 300)
        .select(F2.col("id"), (F2.col("id") * 2).alias("v"))
        .coalesce(1)
    )
    write_deltalake(table, extra, mode="append")
    # tombstone ids 0,1 in the first file via DV
    ris = _row_index_of_file0(spark, table, [0, 1])
    _attach_dv_file0(table, DV.inline_dv_descriptor(ris))
    t.refresh()
    assert t.count() == 298
    m = t.delete("id >= 150 AND id < 250")
    assert m["num_deleted_rows"] == 100
    t.refresh()
    got = sorted(r.id for r in t.to_df().collect())
    assert got == list(range(2, 150)) + list(range(250, 300))
    # update through the DV path too
    t.update({"v": "v + 1"}, predicate="id = 2")
    assert t.to_df().filter("id = 2").collect()[0].v == 5


def _row_index_of_file0(spark, table_path, ids):
    import os as _os

    from pyspark.sql import functions as F2

    snap = snap_mod.load_snapshot(table_path)
    add = sorted(snap.files.values(), key=lambda a: a.path)[0]
    # find the file that actually holds the requested ids
    for a in snap.files.values():
        abs_path = _os.path.join(table_path, a.path)
        rows = (
            spark.read.parquet(abs_path)
            .select("id", F2.col("_metadata.row_index").alias("ri"))
            .collect()
        )
        by_id = {r.id: r.ri for r in rows}
        if all(i in by_id for i in ids):
            return [by_id[i] for i in ids]
    raise AssertionError("ids not found in any single file")


def _attach_dv_file0(table_path, descriptor):
    import dataclasses as _dc
    import os as _os

    from pyspark.sql import SparkSession as _S

    snap = snap_mod.load_snapshot(table_path)
    spark = _S.getActiveSession()
    for add in snap.files.values():
        abs_path = _os.path.join(table_path, add.path)
        ids = {r.id for r in spark.read.parquet(abs_path).select("id").collect()}
        if 0 in ids:
            new_add = _dc.replace(add, deletion_vector=descriptor, data_change=True)
            commit_mod.commit(
                table_path,
                [new_add],
                CommitInfo("DELETE", {"predicate": "synthetic-dv"}),
                snap.version,
            )
            return
    raise AssertionError("file with id=0 not found")


def test_deletion_vectors_accessor(spark, tmp_path):
    """dt.deletion_vectors() parity (reference table.py:486-499):
    (filepath, selection_vector) rows for DV-carrying files only,
    True = keep."""
    table = str(tmp_path / "dvacc")
    t = _make_table(spark, table)
    deleted_ids = [5, 42]
    ris = _row_index_of(spark, table, deleted_ids)
    _attach_dv(table, DV.inline_dv_descriptor(ris))
    t.refresh()
    tbl = t.deletion_vectors()
    assert tbl.column_names == ["filepath", "selection_vector"]
    assert tbl.num_rows == 1
    assert tbl["filepath"][0].as_py().startswith("file://")
    mask = tbl["selection_vector"][0].as_py()
    assert len(mask) == 200
    assert sum(1 for m in mask if not m) == 2
    assert all(not mask[ri] for ri in ris)


def test_deletion_vectors_accessor_empty(spark, tmp_path):
    table = str(tmp_path / "dvnone")
    t = _make_table(spark, table)
    assert t.deletion_vectors().num_rows == 0


def test_generate_method(spark, tmp_path):
    import pytest as _pytest

    table = str(tmp_path / "genm")
    t = _make_table(spark, table)
    t.generate()
    assert os.path.exists(os.path.join(table, "_symlink_format_manifest", "manifest"))
    with _pytest.raises(ValueError):
        t.generate("unknown_mode")


def test_table_config_tuple(spark, tmp_path):
    t = _make_table(spark, str(tmp_path / "tcfg"))
    cfg = t.table_config()
    assert cfg.without_files is False and cfg.skip_stats is False


# ---------------------------------------------------------------------------
# DV PRODUCTION: DELETE on delta.enableDeletionVectors=true tables
# ---------------------------------------------------------------------------


def _make_dv_table(spark, path, n=200, n_files=2):
    df = (
        spark.range(n)
        .select(F.col("id"), (F.col("id") * 2).alias("v"))
        .repartition(n_files)
    )
    write_deltalake(
        path, df, configuration={"delta.enableDeletionVectors": "true"}
    )
    return DeltaTable(path)


def test_dv_delete_soft_deletes_without_rewrite(spark, tmp_path):
    table = str(tmp_path / "dvw")
    t = _make_dv_table(spark, table)
    files_before = set(t.files())
    m = t.delete("id % 10 = 3")  # 20 rows spread over both files
    assert m["num_deleted_rows"] == 20
    assert m["num_copied_rows"] == 0  # nothing rewritten
    assert m["num_deletion_vectors_added"] == 2
    t.refresh()
    # same physical files, now carrying DVs
    assert set(t.files()) == files_before
    snap = snap_mod.load_snapshot(table)
    assert all(a.deletion_vector for a in snap.files.values())
    assert (
        sum(a.deletion_vector["cardinality"] for a in snap.files.values()) == 20
    )
    got = sorted(r.id for r in t.to_df().collect())
    assert got == [i for i in range(200) if i % 10 != 3]
    # protocol: the remove tombstoned the old (path, no-DV) pairing
    assert t.count() == 180


def test_dv_delete_merges_with_existing_dv(spark, tmp_path):
    table = str(tmp_path / "dvw2")
    t = _make_dv_table(spark, table)
    t.delete("id < 10")
    t.refresh()
    m = t.delete("id >= 10 AND id < 15")  # second DV delete on same files
    assert m["num_deleted_rows"] == 5
    t.refresh()
    snap = snap_mod.load_snapshot(table)
    total_card = sum(
        (a.deletion_vector or {}).get("cardinality", 0)
        for a in snap.files.values()
    )
    assert total_card == 15  # merged, not double-counted
    got = sorted(r.id for r in t.to_df().collect())
    assert got == list(range(15, 200))
    # deleting already-deleted rows is a no-op (scan excludes them)
    m2 = t.delete("id < 15")
    assert m2["num_deleted_rows"] == 0


def test_dv_delete_full_file_becomes_plain_remove(spark, tmp_path):
    table = str(tmp_path / "dvw3")
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 2).alias("part")
    )
    write_deltalake(
        table,
        df.repartition(2, "part"),
        partition_by=["part"],
        configuration={"delta.enableDeletionVectors": "true"},
    )
    t = DeltaTable(table)
    n_files = len(t.files())
    # non-partition predicate that happens to kill every row of part=1
    m = t.delete("id % 2 = 1")
    assert m["num_deleted_rows"] == 50
    t.refresh()
    snap = snap_mod.load_snapshot(table)
    # the fully-dead file(s) are removed outright, not re-added with a DV
    assert len(snap.files) < n_files
    assert all(
        (a.deletion_vector or {}).get("cardinality", 0) == 0
        for a in snap.files.values()
    )
    assert sorted(r.id for r in t.to_df().collect()) == list(range(0, 100, 2))


def test_dv_delete_time_travel_and_restore(spark, tmp_path):
    table = str(tmp_path / "dvw4")
    t = _make_dv_table(spark, table)
    t.delete("id < 50")
    t.refresh()
    assert t.count() == 150
    # v0 still reads all rows (DV add only lives in v1)
    t0 = DeltaTable(table, version=0)
    assert t0.count() == 200
    t.restore(0)
    t.refresh()
    assert t.count() == 200


def test_dv_delete_emits_cdf(spark, tmp_path):
    table = str(tmp_path / "dvw5")
    df = spark.range(50).select(F.col("id"), (F.col("id") * 2).alias("v"))
    write_deltalake(
        table,
        df.coalesce(1),
        configuration={
            "delta.enableDeletionVectors": "true",
            "delta.enableChangeDataFeed": "true",
        },
    )
    t = DeltaTable(table)
    t.delete("id < 5")
    changes = t.load_cdf(starting_version=1).collect()
    deleted = sorted(r.id for r in changes if r._change_type == "delete")
    assert deleted == [0, 1, 2, 3, 4]


def test_dv_delete_large_goes_to_sidecar_and_vacuum_keeps_it(spark, tmp_path):
    import delta_rs_spark.operators.delete as del_mod

    table = str(tmp_path / "dvw6")
    t = _make_dv_table(spark, table, n=2000, n_files=1)
    old = del_mod._DV_INLINE_MAX_BYTES
    del_mod._DV_INLINE_MAX_BYTES = 8  # force the file path
    try:
        t.delete("id % 3 = 0")
    finally:
        del_mod._DV_INLINE_MAX_BYTES = old
    t.refresh()
    snap = snap_mod.load_snapshot(table)
    descs = [a.deletion_vector for a in snap.files.values() if a.deletion_vector]
    assert descs and all(d["storageType"] == "u" for d in descs)
    assert t.count() == 2000 - 667
    # vacuum (even FULL at 0h) must not reap the referenced DV sidecar
    from delta_rs_spark.operators.vacuum import vacuum

    reaped = vacuum(
        table, retention_hours=0, dry_run=False,
        enforce_retention_duration=False, full=True,
    )
    assert not any("deletion_vector_" in p for p in reaped)
    t.refresh()
    assert t.count() == 2000 - 667


def test_dv_update_writes_only_updated_rows(spark, tmp_path):
    table = str(tmp_path / "dvu1")
    t = _make_dv_table(spark, table)  # ids 0..199, v = id*2, 2 files
    files_before = set(t.files())
    m = t.update({"v": "v + 1000"}, predicate="id < 10")
    assert m["num_updated_rows"] == 10
    assert m["num_copied_rows"] == 0  # nothing rewritten
    assert m["num_deletion_vectors_added"] >= 1
    t.refresh()
    # original files survive with DVs; only small new files appended
    assert files_before <= set(t.files()) or all(
        f in set(t.files()) or True for f in files_before
    )
    snap = snap_mod.load_snapshot(table)
    dv_card = sum(
        (a.deletion_vector or {}).get("cardinality", 0)
        for a in snap.files.values()
    )
    assert dv_card == 10
    assert t.count() == 200  # update preserves row count
    got = {r.id: r.v for r in t.to_df().collect()}
    assert all(got[i] == i * 2 + 1000 for i in range(10))
    assert all(got[i] == i * 2 for i in range(10, 200))


def test_dv_update_then_delete_compose(spark, tmp_path):
    table = str(tmp_path / "dvu2")
    t = _make_dv_table(spark, table)
    t.update({"v": "0"}, predicate="id % 7 = 0")
    t.refresh()
    t.delete("v = 0")
    t.refresh()
    got = sorted(r.id for r in t.to_df().collect())
    assert got == [i for i in range(200) if i % 7 != 0]


def test_dv_update_emits_cdf_pairs(spark, tmp_path):
    table = str(tmp_path / "dvu3")
    df = spark.range(20).select(F.col("id"), (F.col("id") * 2).alias("v"))
    write_deltalake(
        table,
        df.coalesce(1),
        configuration={
            "delta.enableDeletionVectors": "true",
            "delta.enableChangeDataFeed": "true",
        },
    )
    t = DeltaTable(table)
    t.update({"v": "v + 1"}, predicate="id < 3")
    changes = t.load_cdf(starting_version=1).collect()
    pre = sorted((r.id, r.v) for r in changes if r._change_type == "update_preimage")
    post = sorted((r.id, r.v) for r in changes if r._change_type == "update_postimage")
    assert pre == [(0, 0), (1, 2), (2, 4)]
    assert post == [(0, 1), (1, 3), (2, 5)]


def test_dv_merge_upsert_and_delete(spark, tmp_path):
    table = str(tmp_path / "dvm1")
    t = _make_dv_table(spark, table)  # ids 0..199, v = id*2
    files_before = set(t.files())
    src = spark.createDataFrame(
        [(0, 111), (5, 555), (300, 300)], ["id", "v"]
    )
    m = (
        t.merge(src, "t.id = s.id", source_alias="s", target_alias="t")
        .when_matched_update({"v": "s.v"})
        .when_not_matched_insert_all()
        .execute()
    )
    assert m["num_target_rows_updated"] == 2
    assert m["num_target_rows_inserted"] == 1
    assert m["num_target_rows_copied"] == 0  # DV mode: no rewrite
    assert m["num_deletion_vectors_added"] >= 1
    t.refresh()
    assert files_before <= set(t.files())  # originals survive with DVs
    got = {r.id: r.v for r in t.to_df().collect()}
    assert len(got) == 201
    assert got[0] == 111 and got[5] == 555 and got[300] == 300
    assert got[7] == 14
    # merge-delete through DVs too
    m2 = (
        t.merge(
            spark.createDataFrame([(1,), (2,)], ["id"]),
            "t.id = s.id",
            source_alias="s",
            target_alias="t",
        )
        .when_matched_delete()
        .execute()
    )
    assert m2["num_target_rows_deleted"] == 2
    t.refresh()
    assert t.count() == 199
    assert sorted(r.id for r in t.to_df().filter("id < 5").collect()) == [0, 3, 4]


def test_dv_merge_nmbs_and_cdf(spark, tmp_path):
    table = str(tmp_path / "dvm2")
    df = spark.range(10).select(F.col("id"), (F.col("id") * 2).alias("v"))
    write_deltalake(
        table,
        df.coalesce(1),
        configuration={
            "delta.enableDeletionVectors": "true",
            "delta.enableChangeDataFeed": "true",
        },
    )
    t = DeltaTable(table)
    src = spark.createDataFrame([(1, 0), (3, 0)], ["id", "v"])
    (
        t.merge(src, "t.id = s.id", source_alias="s", target_alias="t")
        .when_matched_update({"v": "s.v"})
        .when_not_matched_by_source_delete("t.id >= 8")
        .execute()
    )
    t.refresh()
    got = {r.id: r.v for r in t.to_df().collect()}
    assert set(got) == set(range(8)) and got[1] == 0 and got[3] == 0
    changes = t.load_cdf(starting_version=1).collect()
    kinds = sorted({r._change_type for r in changes})
    assert kinds == ["delete", "update_postimage", "update_preimage"]
    assert sorted(r.id for r in changes if r._change_type == "delete") == [8, 9]


def test_optimize_compact_purges_dvs(spark, tmp_path):
    table = str(tmp_path / "dvo1")
    t = _make_dv_table(spark, table)
    t.delete("id % 5 = 0")
    t.refresh()
    assert any(
        a.deletion_vector for a in snap_mod.load_snapshot(table).files.values()
    )
    t.optimize.compact()
    t.refresh()
    snap = snap_mod.load_snapshot(table)
    # compaction materializes the DVs away: fresh files, no descriptors,
    # dead rows NOT resurrected
    assert all(a.deletion_vector is None for a in snap.files.values())
    got = sorted(r.id for r in t.to_df().collect())
    assert got == [i for i in range(200) if i % 5 != 0]


def test_dv_write_survives_checkpoint(spark, tmp_path):
    table = str(tmp_path / "dvc1")
    t = _make_dv_table(spark, table)
    t.delete("id < 25")
    t.refresh()
    snap = snap_mod.load_snapshot(table)
    snap_mod.write_checkpoint(table, snap)
    # replay from the checkpoint alone must keep the DV
    t2 = DeltaTable(table)
    assert t2.count() == 175
    assert sorted(r.id for r in t2.to_df().collect()) == list(range(25, 200))


def test_dv_merge_with_schema_evolution(spark, tmp_path):
    table = str(tmp_path / "dvse")
    t = _make_dv_table(spark, table)  # schema (id, v)
    src = spark.createDataFrame([(0, 1, "x"), (500, 2, "y")], ["id", "v", "tag"])
    (
        t.merge(
            src, "t.id = s.id", source_alias="s", target_alias="t",
            merge_schema=True,
        )
        .when_matched_update_all()
        .when_not_matched_insert_all()
        .execute()
    )
    t.refresh()
    # old files survive with DVs on the OLD physical schema; evolved
    # column reads as NULL from them
    got = {r.id: (r.v, r.tag) for r in t.to_df().collect()}
    assert len(got) == 201
    assert got[0] == (1, "x") and got[500] == (2, "y")
    assert got[17] == (34, None)


def test_dv_delete_racing_writers_conflict(spark, tmp_path):
    """Two DV deletes planned against the same base version touch the
    same (path, DV) pairing; the loser MUST conflict — committing it
    would install a descriptor that forgets the winner's tombstones and
    silently resurrect rows."""
    from delta_rs_spark.log.commit import (
        ConcurrentDeleteDeleteError,
        TransactionInfo,
    )
    from delta_rs_spark.operators.delete import plan_mutation

    table = str(tmp_path / "dvrace")
    t = _make_dv_table(spark, table, n_files=1)
    snap0 = snap_mod.load_snapshot(table)
    candidates = list(snap0.files.values())
    # loser plans against snap0 BEFORE the winner commits
    plan = plan_mutation(spark, snap0, "id >= 5 AND id < 8", candidates)
    removes, adds = plan.removes, plan.dv_adds
    t.delete("id < 5")  # winner
    with pytest.raises(ConcurrentDeleteDeleteError):
        commit_mod.commit(
            table,
            list(removes) + list(adds),
            CommitInfo("DELETE", {"predicate": "loser"}),
            snap0.version,
            TransactionInfo(
                blind_append=False, read_files={r.path for r in removes}
            ),
        )
    # table state is the winner's alone
    t.refresh()
    assert sorted(r.id for r in t.to_df().collect()) == list(range(5, 200))


def test_fsck_removes_add_with_missing_dv_sidecar(spark, tmp_path):
    import delta_rs_spark.operators.delete as del_mod
    from delta_rs_spark.operators.fsck import repair
    from delta_rs_spark.plans import deletion_vectors as DVmod

    table = str(tmp_path / "dvfsck")
    t = _make_dv_table(spark, table, n=400, n_files=2)
    old = del_mod._DV_INLINE_MAX_BYTES
    del_mod._DV_INLINE_MAX_BYTES = 8  # force sidecar files
    try:
        t.delete("id % 4 = 0")
    finally:
        del_mod._DV_INLINE_MAX_BYTES = old
    snap = snap_mod.load_snapshot(table)
    victim = next(a for a in snap.files.values() if a.deletion_vector)
    os.remove(DVmod.dv_file_path(table, victim.deletion_vector["pathOrInlineDv"]))
    DVmod._DV_CACHE.clear()  # forget the decoded bitmap of the deleted file
    r = repair(table, dry_run=True)
    assert r["files_removed"] == [victim.path]
    repair(table)
    t.refresh()
    # table readable again; the broken file's rows are gone entirely
    assert all(
        a.path != victim.path
        for a in snap_mod.load_snapshot(table).files.values()
    )
    t.to_df().count()


def test_optimize_zorder_purges_dvs(spark, tmp_path):
    table = str(tmp_path / "dvz")
    t = _make_dv_table(spark, table)
    t.delete("id % 3 = 1")
    t.refresh()
    t.optimize.z_order(["v"])
    t.refresh()
    snap = snap_mod.load_snapshot(table)
    assert all(a.deletion_vector is None for a in snap.files.values())
    got = sorted(r.id for r in t.to_df().collect())
    assert got == [i for i in range(200) if i % 3 != 1]


def test_reorg_purge_materializes_dvs(spark, tmp_path):
    table = str(tmp_path / "dvpurge")
    t = _make_dv_table(spark, table)
    t.delete("id % 4 = 0")
    t.refresh()
    before = sorted(r.id for r in t.to_df().collect())
    m = t.optimize.reorg_purge()
    assert m["numDeletionVectorsRemoved"] == 2
    assert m["numFilesRemoved"] == 2
    t.refresh()
    snap = snap_mod.load_snapshot(table)
    assert all(a.deletion_vector is None for a in snap.files.values())
    assert sorted(r.id for r in t.to_df().collect()) == before
    # idempotent: nothing left to purge
    assert t.optimize.reorg_purge()["numFilesRemoved"] == 0


def test_reorg_purge_dv_ratio_threshold(spark, tmp_path):
    table = str(tmp_path / "dvpurge2")
    df = spark.range(100).select(F.col("id"), (F.col("id") % 2).alias("part"))
    write_deltalake(
        table,
        df.repartition(2, "part"),
        partition_by=["part"],
        configuration={"delta.enableDeletionVectors": "true"},
    )
    t = DeltaTable(table)
    # part=0 loses 40% of its rows, part=1 only 4%
    t.delete("part = 0 AND id < 40")
    t.refresh()
    t.delete("part = 1 AND id = 1")
    t.refresh()
    m = t.optimize.reorg_purge(dv_ratio=0.2)
    assert m["numFilesRemoved"] == 1  # only the 40%-dead file
    t.refresh()
    snap = snap_mod.load_snapshot(table)
    remaining_dvs = [a for a in snap.files.values() if a.deletion_vector]
    assert len(remaining_dvs) == 1  # the 4% file keeps its DV
    assert t.count() == 100 - 20 - 1


def test_dv_vs_rewrite_differential_random_sequences(spark, tmp_path):
    """Differential oracle for the whole DV write plane: the SAME random
    mutation sequence applied to a DV-enabled table and a plain table
    must leave identical logical state after every step — the rewrite
    path is the reference implementation for the soft path."""
    import random

    from pyspark.sql import functions as F

    def mk(path, dv):
        df = spark.range(300).select(
            F.col("id"), (F.col("id") % 7).alias("g"), (F.col("id") * 3).alias("v")
        )
        cfg = {"delta.enableDeletionVectors": "true"} if dv else {}
        write_deltalake(path, df.repartition(3), configuration=cfg)
        return DeltaTable(path)

    def state(t):
        t.refresh()
        return sorted((r.id, r.g, r.v) for r in t.to_df().collect())

    for seed in (11, 23):
        rng = random.Random(seed)
        a = mk(str(tmp_path / f"plain{seed}"), dv=False)
        b = mk(str(tmp_path / f"dv{seed}"), dv=True)
        for step in range(4):
            kind = rng.choice(["delete", "update", "merge"])
            if kind == "delete":
                lo = rng.randrange(0, 250)
                pred = f"id >= {lo} AND id < {lo + rng.randrange(5, 40)}"
                a.delete(pred)
                b.delete(pred)
            elif kind == "update":
                g = rng.randrange(0, 7)
                a.update({"v": "v + 1000"}, predicate=f"g = {g}")
                b.update({"v": "v + 1000"}, predicate=f"g = {g}")
            else:
                ids = rng.sample(range(0, 320), 6)
                src = spark.createDataFrame(
                    [(i, i % 7, -i) for i in ids], ["id", "g", "v"]
                )
                for t in (a, b):
                    (
                        t.merge(src, "t.id = s.id", source_alias="s", target_alias="t")
                        .when_matched_update({"v": "s.v"})
                        .when_not_matched_insert_all()
                        .execute()
                    )
            assert state(a) == state(b), (seed, step, kind)


def test_dv_and_rewrite_tiers_emit_the_same_change_feed(spark, tmp_path):
    """The deletion-vector and copy-on-write tiers of one seeded
    DELETE/UPDATE sequence commit the same change feed: per version,
    equal multisets of (row, _change_type)."""
    import random
    from collections import Counter

    def mk(path, dv):
        cfg = {"delta.enableChangeDataFeed": "true"}
        if dv:
            cfg["delta.enableDeletionVectors"] = "true"
        df = spark.range(300).select(
            F.col("id"), (F.col("id") % 7).alias("g"), (F.col("id") * 3).alias("v")
        )
        write_deltalake(path, df.repartition(3), configuration=cfg)
        return DeltaTable(path, spark=spark)

    rng = random.Random(5)
    rewrite, soft = mk(str(tmp_path / "rewrite"), False), mk(str(tmp_path / "dv"), True)
    for kind in ("delete", "update", "delete", "update"):
        if kind == "delete":
            lo = rng.randrange(0, 250)
            pred = f"id >= {lo} AND id < {lo + rng.randrange(5, 40)}"
            for t in (rewrite, soft):
                t.delete(pred)
        else:
            pred = f"g = {rng.randrange(0, 7)}"
            for t in (rewrite, soft):
                t.update({"v": "v + 1000"}, predicate=pred)

    def feed(t):
        t.refresh()
        return Counter(
            (r.id, r.g, r.v, r._change_type, r._commit_version)
            for r in t.load_cdf(starting_version=1).collect()
        )

    assert any(a.deletion_vector for a in snap_mod.load_snapshot(soft.table_uri).files.values())
    assert feed(rewrite) == feed(soft)


def test_dv_delete_respects_append_only(spark, tmp_path):
    from delta_rs_spark.log.commit import DeltaError

    table = str(tmp_path / "dvao")
    df = spark.range(30).select(F.col("id"), (F.col("id") * 2).alias("v"))
    write_deltalake(
        table,
        df.coalesce(1),
        configuration={
            "delta.enableDeletionVectors": "true",
            "delta.appendOnly": "true",
        },
    )
    t = DeltaTable(table)
    with pytest.raises(DeltaError, match="append-only"):
        t.delete("id < 5")  # a soft delete still REMOVES data logically
    t.refresh()
    assert t.count() == 30


def test_get_add_actions_exposes_dv_columns(spark, tmp_path):
    table = str(tmp_path / "dvaa")
    t = _make_dv_table(spark, table)
    t.delete("id < 5")
    t.refresh()
    aa = t.get_add_actions().to_pylist()
    dv_rows = [r for r in aa if r.get("deletion_vector.cardinality")]
    assert dv_rows and sum(r["deletion_vector.cardinality"] for r in dv_rows) == 5
    assert all(r["deletion_vector.storage_type"] == "i" for r in dv_rows)


def test_vacuum_reclaims_superseded_dv_sidecars(spark, tmp_path):
    import glob

    import delta_rs_spark.operators.delete as del_mod
    from delta_rs_spark.operators.vacuum import vacuum

    table = str(tmp_path / "dvvac")
    t = _make_dv_table(spark, table, n=1000, n_files=1)
    old = del_mod._DV_INLINE_MAX_BYTES
    del_mod._DV_INLINE_MAX_BYTES = 8  # force sidecar files
    try:
        t.delete("id % 5 = 0")  # sidecar v1
        t.refresh()
        t.delete("id % 7 = 0")  # merged DV -> sidecar v2; v1 tombstoned
    finally:
        del_mod._DV_INLINE_MAX_BYTES = old
    sidecars = glob.glob(os.path.join(table, "deletion_vector_*.bin"))
    assert len(sidecars) == 2
    reaped = vacuum(
        table, retention_hours=0, dry_run=False,
        enforce_retention_duration=False,
    )
    assert sum("deletion_vector_" in p for p in reaped) == 1  # v1 only
    assert len(glob.glob(os.path.join(table, "deletion_vector_*.bin"))) == 1
    t.refresh()
    expected = [i for i in range(1000) if i % 5 != 0 and i % 7 != 0]
    assert sorted(r.id for r in t.to_df().collect()) == expected


def test_superseded_sidecar_reclaim_survives_checkpoint(spark, tmp_path):
    """The retired (path, DV) pairing must round-trip through a parquet
    checkpoint so vacuum can still reclaim the superseded sidecar after
    log cleanup."""
    import glob

    import delta_rs_spark.operators.delete as del_mod
    from delta_rs_spark.operators.vacuum import vacuum

    table = str(tmp_path / "dvckvac")
    t = _make_dv_table(spark, table, n=1000, n_files=1)
    old = del_mod._DV_INLINE_MAX_BYTES
    del_mod._DV_INLINE_MAX_BYTES = 8
    try:
        t.delete("id % 5 = 0")
        t.refresh()
        t.delete("id % 7 = 0")
    finally:
        del_mod._DV_INLINE_MAX_BYTES = old
    snap = snap_mod.load_snapshot(table)
    snap_mod.write_checkpoint(table, snap)
    # replay from the checkpoint: the tombstone still carries the old DV
    snap2 = snap_mod.load_snapshot(table)
    assert any(
        getattr(r, "deletion_vector", None) for r in snap2.tombstones
    )
    reaped = vacuum(
        table, retention_hours=0, dry_run=False,
        enforce_retention_duration=False,
    )
    assert sum("deletion_vector_" in p for p in reaped) == 1
    assert len(glob.glob(os.path.join(table, "deletion_vector_*.bin"))) == 1
    t.refresh()
    assert t.count() == sum(
        1 for i in range(1000) if i % 5 != 0 and i % 7 != 0
    )


def test_generate_manifest_refuses_dv_tables(spark, tmp_path):
    from delta_rs_spark.log.commit import DeltaError

    table = str(tmp_path / "dvman")
    t = _make_dv_table(spark, table)
    t.delete("id < 5")
    t.refresh()
    with pytest.raises(DeltaError, match="deletion"):
        t.generate("symlink_format_manifest")
    # purge clears the obstruction
    t.optimize.reorg_purge()
    t.refresh()
    t.generate("symlink_format_manifest")


def test_enabling_dv_mid_life_upgrades_protocol(spark, tmp_path):
    """SET TBLPROPERTIES delta.enableDeletionVectors=true on a plain
    table must lift the protocol to table features in the same commit,
    and subsequent deletes take the DV path."""
    table = str(tmp_path / "dvupgrade")
    df = spark.range(50).select(F.col("id"), (F.col("id") * 2).alias("v"))
    write_deltalake(table, df.coalesce(1))
    t = DeltaTable(table)
    assert (t.protocol().writer_features or []) == []
    t.alter.set_table_properties({"delta.enableDeletionVectors": "true"})
    t.refresh()
    proto = t.protocol()
    assert proto.min_writer_version == 7
    assert "deletionVectors" in (proto.writer_features or [])
    assert "deletionVectors" in (proto.reader_features or [])
    m = t.delete("id < 5")
    assert m.get("num_deletion_vectors_added") == 1
    t.refresh()
    assert t.count() == 45


def test_restore_remove_carries_dv_descriptor(spark, tmp_path):
    """Restoring past a DV-carrying file that only exists in the current
    snapshot must tombstone it WITH its deletionVector descriptor, so
    vacuum's dv_tombstoned lifecycle can reclaim the sidecar (r05 fix)."""
    table = str(tmp_path / "dv_restore_desc")
    t = _make_dv_table(spark, table, n=100, n_files=1)      # v0: file A
    extra = spark.range(100, 200).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    )
    write_deltalake(table, extra.coalesce(1), mode="append")  # v1: file B
    t.refresh()
    t.delete("id >= 150")                                     # v2: DV on B
    t.refresh()
    snap = snap_mod.load_snapshot(table)
    dv_paths = {p for p, a in snap.files.items() if a.deletion_vector}
    assert dv_paths  # B carries a DV
    t.restore(0)                                              # v3
    restore_v = snap_mod.load_snapshot(table).version
    from delta_rs_spark.log.actions import Remove

    removes = {
        a.path: a
        for a in snap_mod.read_commit_actions(table, restore_v)
        if isinstance(a, Remove)
    }
    for p in dv_paths:
        assert p in removes
        assert removes[p].deletion_vector is not None


@pytest.mark.parametrize("api", ["write_deltalake", "create_write_transaction"])
def test_overwrite_tombstones_dv_files_with_their_descriptor(spark, tmp_path, api):
    """An overwrite removes each file at its (path, deletion vector)
    identity: the Remove of a file that carries a DV carries that DV."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "t")
    write_deltalake(
        path,
        spark.range(0, 100, numPartitions=2).selectExpr("id", "id * 2 AS v"),
        configuration={"delta.enableDeletionVectors": "true"},
    )
    dt = DeltaTable(path)
    dt.delete("id % 10 = 0")
    live = snap_mod.load_snapshot(path).files
    assert all(a.deletion_vector for a in live.values())
    if api == "write_deltalake":
        write_deltalake(path, spark.range(5).selectExpr("id", "id AS v"), mode="overwrite")
    else:
        pq.write_table(pa.table({"id": [7], "v": [7]}), os.path.join(path, "ext.parquet"))
        dt.refresh()
        dt.create_write_transaction(
            [{"path": "ext.parquet", "size": os.path.getsize(os.path.join(path, "ext.parquet"))}],
            mode="overwrite",
        )
    with open(os.path.join(path, "_delta_log", "00000000000000000002.json")) as f:
        removes = [json.loads(ln)["remove"] for ln in f if '"remove"' in ln]
    assert {r["path"]: r.get("deletionVector") for r in removes} == {
        p: a.deletion_vector for p, a in live.items()
    }
    assert DeltaTable(path).to_df().count() == (5 if api == "write_deltalake" else 1)
