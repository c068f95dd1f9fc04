"""DELETE/UPDATE/MERGE (reference test model: python/tests/test_delete.py,
test_update.py, test_merge.py)."""

import pytest
from conftest import persistent_rdds, table_tree
from pyspark.sql import functions as F

from delta_rs_spark import DeltaTable, write_deltalake
from delta_rs_spark.log.commit import DeltaError
from delta_rs_spark.operators.merge import MergeError


def _tbl(tmp_table, df):
    write_deltalake(tmp_table, df)
    return DeltaTable(tmp_table)


def test_delete_all(spark, tmp_table, sample_df):
    t = _tbl(tmp_table, sample_df)
    m = t.delete()
    assert m["num_removed_files"] >= 1 and m["num_added_files"] == 0
    assert t.count() == 0


def test_delete_predicate(spark, tmp_table, sample_df):
    t = _tbl(tmp_table, sample_df)
    m = t.delete("price >= 3")
    assert m["num_deleted_rows"] == 2
    assert sorted(r.id for r in t.to_df().collect()) == ["1", "2", "3"]


def test_delete_partition_metadata_only(spark, tmp_table, lineitem):
    write_deltalake(tmp_table, lineitem, partition_by=["l_returnflag"])
    t = DeltaTable(tmp_table)
    m = t.delete("l_returnflag = 'A'")
    # partition-only predicate -> pure metadata op, nothing rewritten
    assert m["num_added_files"] == 0 and m["num_removed_files"] >= 1
    assert t.to_df(predicate="l_returnflag = 'A'").count() == 0
    assert t.to_df().count() == lineitem.filter("l_returnflag != 'A'").count()


def test_delete_null_semantics(spark, tmp_table):
    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 30.0)], "id long, v double"
    )
    t = _tbl(tmp_table, df)
    t.delete("v > 15")  # null v rows must be KEPT (NOT(pred IS TRUE))
    assert sorted(r.id for r in t.to_df().collect()) == [1, 2]


def test_update(spark, tmp_table, sample_df):
    t = _tbl(tmp_table, sample_df)
    m = t.update({"price": "price * 10"}, predicate="sold >= 3")
    assert m["num_updated_rows"] == 2
    rows = {r.id: r.price for r in t.to_df().collect()}
    assert rows == {"1": 0, "2": 1, "3": 2, "4": 30, "5": 40}


def test_update_no_predicate(spark, tmp_table, sample_df):
    t = _tbl(tmp_table, sample_df)
    m = t.update({"deleted": "true"})
    assert m["num_updated_rows"] == 5
    assert all(r.deleted for r in t.to_df().collect())


def test_update_partition_column_rejected(spark, tmp_table, lineitem):
    write_deltalake(tmp_table, lineitem, partition_by=["l_returnflag"])
    with pytest.raises(DeltaError):
        DeltaTable(tmp_table).update({"l_returnflag": "'X'"})


def test_merge_upsert(spark, tmp_table, sample_df):
    t = _tbl(tmp_table, sample_df)
    src = spark.createDataFrame(
        [("4", 400, 40, False), ("9", 900, 90, False)],
        "id string, price long, sold int, deleted boolean",
    )
    m = (
        t.merge(src, "target.id = source.id")
        .when_matched_update_all()
        .when_not_matched_insert_all()
        .execute()
    )
    assert m["num_target_rows_updated"] == 1
    assert m["num_target_rows_inserted"] == 1
    rows = {r.id: r.price for r in t.to_df().collect()}
    assert rows["4"] == 400 and rows["9"] == 900 and len(rows) == 6


def test_merge_clause_order(spark, tmp_table, sample_df):
    """First matching clause wins (reference: ordered WHEN semantics)."""
    t = _tbl(tmp_table, sample_df)
    src = spark.createDataFrame([("1",), ("2",)], "id string")
    (
        t.merge(src, "target.id = source.id")
        .when_matched_delete(predicate="target.price = 0")
        .when_matched_update({"sold": "target.sold + 100"})
        .execute()
    )
    rows = {r.id: r.sold for r in t.to_df().collect()}
    assert "1" not in rows  # deleted by first clause
    assert rows["2"] == 101  # second clause applied


def test_merge_not_matched_by_source(spark, tmp_table, sample_df):
    t = _tbl(tmp_table, sample_df)
    src = spark.createDataFrame([("1",)], "id string")
    (
        t.merge(src, "target.id = source.id")
        .when_not_matched_by_source_delete(predicate="target.price >= 3")
        .execute()
    )
    assert sorted(r.id for r in t.to_df().collect()) == ["1", "2", "3"]


def test_merge_duplicate_match_error(spark, tmp_table, sample_df):
    t = _tbl(tmp_table, sample_df)
    dup = spark.createDataFrame([("1", 1), ("1", 2)], "id string, price long")
    with pytest.raises(MergeError):
        t.merge(dup, "target.id = source.id").when_matched_update(
            {"price": "source.price"}
        ).execute()


def test_merge_insert_only_rewrites_nothing(spark, tmp_table, sample_df):
    t = _tbl(tmp_table, sample_df)
    src = spark.createDataFrame(
        [("7", 70, 7, False)], "id string, price long, sold int, deleted boolean"
    )
    m = t.merge(src, "target.id = source.id").when_not_matched_insert_all().execute()
    assert m["num_target_files_removed"] == 0
    assert t.count() == 6


def test_merge_insert_partial_columns(spark, tmp_table, sample_df):
    t = _tbl(tmp_table, sample_df)
    src = spark.createDataFrame([("8", 80)], "id string, price long")
    (
        t.merge(src, "target.id = source.id")
        .when_not_matched_insert({"id": "source.id", "price": "source.price"})
        .execute()
    )
    row = [r for r in t.to_df().collect() if r.id == "8"][0]
    assert row.price == 80 and row.sold is None and row.deleted is None


def test_merge_duplicate_noop_source_row_passes(spark, tmp_table):
    """Reference test_merge_when_matched_update_duplicate_with_noop_
    source_row_passes: a duplicate source match that satisfies no matched
    clause predicate is a no-op, not an ambiguity — the firing row wins."""
    write_deltalake(
        tmp_table,
        spark.createDataFrame([(1, 10, False)], "id long, v long, del boolean"),
    )
    t = DeltaTable(tmp_table)
    src = spark.createDataFrame(
        [(1, 11, False), (1, 99, True)], "id long, v long, del boolean"
    )
    m = (
        t.merge(src, "target.id = source.id")
        .when_matched_update({"v": "source.v"}, predicate="source.del = true")
        .execute()
    )
    assert m["num_target_rows_updated"] == 1
    assert {r.id: r.v for r in t.to_df().collect()} == {1: 99}


def test_merge_unconditional_delete_duplicates_pass(spark, tmp_table):
    """Reference test_merge_when_matched_delete_unconditional_duplicates_
    pass: duplicate matches against an unconditional DELETE are
    deterministic (idempotent) and collapse to one delete."""
    write_deltalake(tmp_table, spark.createDataFrame([(1, 1), (2, 2)], "id long, v long"))
    t = DeltaTable(tmp_table)
    src = spark.createDataFrame([(1, 0), (1, 0)], "id long, v long")
    m = t.merge(src, "target.id = source.id").when_matched_delete().execute()
    assert m["num_target_rows_deleted"] == 1
    assert sorted(r.id for r in t.to_df().collect()) == [2]


def test_merge_conditional_delete_duplicates_fail(spark, tmp_table):
    """Reference test_merge_when_matched_delete_conditional_duplicates_
    fail: two source rows both firing a CONDITIONAL delete is ambiguous."""
    write_deltalake(tmp_table, spark.createDataFrame([(1, True)], "id long, del boolean"))
    t = DeltaTable(tmp_table)
    src = spark.createDataFrame([(1, True), (1, True)], "id long, del boolean")
    with pytest.raises(MergeError, match="duplicate relevant WHEN MATCHED"):
        t.merge(src, "target.id = source.id").when_matched_delete(
            "source.del = true"
        ).execute()
    t.refresh()
    assert t.version() == 0  # nothing committed


def test_update_new_values_literals(spark, tmp_table):
    """Reference parity: update(new_values=...) converts Python literals
    to SQL; mixing with updates= or passing neither errors."""
    write_deltalake(
        tmp_table,
        spark.createDataFrame([(1, 10, "x", False)], "id long, v long, s string, b boolean"),
    )
    t = DeltaTable(tmp_table)
    m = t.update(new_values={"v": 99, "s": "it's", "b": True}, predicate="id = 1")
    assert m["num_updated_rows"] == 1
    t.refresh()
    r = t.to_df().collect()[0]
    assert (r.v, r.s, r.b) == (99, "it's", True)
    with pytest.raises(ValueError):
        t.update(updates={"v": "1"}, new_values={"v": 2})
    with pytest.raises(ValueError):
        t.update()
    with pytest.raises(TypeError):
        t.update(updates={"v": 2})  # non-string SQL expr
    with pytest.raises(TypeError):
        t.update(new_values={"v": object()})


def test_constraints_enforced_on_update_and_merge(spark, tmp_path, sample_df):
    """CHECK constraints apply to every operation that produces rows
    (reference DeltaDataChecker), not just appends — UPDATE and MERGE
    must abort without committing when the new values violate one, on a
    change-data-feed table (fused writer), a plain one, and a VARIANT
    change-data-feed table (whose gated frame is pinned and read by two
    writes) alike. A failure leaves no staging dir and no new parquet
    file, and no operation, failed or not, leaves a pinned frame
    behind."""
    from delta_rs_spark.session import drop_cached_intermediates

    def merge(t, rows, insert=False):
        src = spark.createDataFrame(rows, "id string, price long")
        mb = t.merge(src, "t.id = s.id", source_alias="s", target_alias="t")
        mb = mb.when_matched_update({"price": "s.price"})
        if insert:
            mb = mb.when_not_matched_insert({"id": "s.id", "price": "s.price"})
        return mb.execute()

    for cdf, variant in ((False, False), (True, False), (True, True)):
        path = str(tmp_path / f"cdf_{cdf}_variant_{variant}")
        write_deltalake(
            path,
            sample_df.withColumn("doc", F.expr("parse_json(id)")) if variant else sample_df,
            configuration={"delta.enableChangeDataFeed": str(cdf).lower()},
        )
        t = DeltaTable(path)
        t.alter.add_constraint({"price_nonneg": "price >= 0"})
        t.refresh()
        v = t.version()
        drop_cached_intermediates(spark)
        for op in (
            lambda: t.update({"price": "-99"}, predicate="id = '1'"),
            lambda: merge(t, [("2", -50)]),
        ):
            files, _ = table_tree(path)
            with pytest.raises(DeltaError, match="price_nonneg"):
                op()
            after, staging = table_tree(path)
            assert staging == []
            assert {f for f in after - files if f.endswith(".parquet")} == set()
            assert persistent_rdds(spark) == 0
        t.refresh()
        assert t.version() == v  # nothing committed
        assert sorted(r.price for r in t.to_df().collect()) == [0, 1, 2, 3, 4]
        # valid mutations still pass
        t.update({"price": "price + 1"}, predicate="id = '1'")
        assert persistent_rdds(spark) == 0
        merge(t, [("2", 7), ("6", 5)], insert=True)
        assert persistent_rdds(spark) == 0
        t.refresh()
        assert sorted(r.price for r in t.to_df().collect()) == [1, 2, 3, 4, 5, 7]


@pytest.mark.parametrize(
    "cdf, variant", [(True, False), (False, False), (True, True)], ids=["cdf", "plain", "variant_cdf"]
)
def test_failed_write_job_leaves_no_staging(spark, tmp_path, sample_df, cdf, variant):
    """A task failure inside the write job of an UPDATE or a MERGE (the
    fused writer, with and without VARIANT columns, and the data-only
    write) leaves no staging dir — VACUUM never reclaims one — commits nothing
    and leaves no pinned frame."""
    path = str(tmp_path / "t")
    write_deltalake(
        path,
        sample_df.withColumn("doc", F.expr("parse_json(id)")) if variant else sample_df,
        configuration={"delta.enableChangeDataFeed": str(cdf).lower()},
    )
    t = DeltaTable(path)
    v = t.version()
    src = spark.createDataFrame([("2", 7)], "id string, price long")
    for op in (
        lambda: t.update({"price": "raise_error('boom')"}, predicate="id = '1'"),
        lambda: t.merge(src, "t.id = s.id", source_alias="s", target_alias="t")
        .when_matched_update({"price": "raise_error('boom')"})
        .execute(),
    ):
        with pytest.raises(Exception, match="boom"):
            op()
        assert table_tree(path)[1] == []
        assert persistent_rdds(spark) == 0
        t.refresh()
        assert t.version() == v


@pytest.mark.parametrize("cdf", [True, False], ids=["cdf", "plain"])
@pytest.mark.parametrize("op", ["delete", "update", "merge"])
def test_mutation_losing_race_conflicts_cleanly(
    spark, tmp_path, sample_df, monkeypatch, op, cdf
):
    """An OCC conflict at commit: a DELETE of the file the mutation
    rewrites lands between the mutation's snapshot read and its commit.
    The mutation raises (the winner removed a file it also removes, so
    the conflict is delete-delete), the table stays at the winner's
    version, nothing is staged or pinned, and the loser's written files
    are orphans that VACUUM reclaims."""
    from delta_rs_spark.log import commit as C
    from delta_rs_spark.log import snapshot as snap_mod
    from delta_rs_spark.log.commit import ConcurrentDeleteDeleteError

    path = str(tmp_path / "t")
    write_deltalake(
        path, sample_df, configuration={"delta.enableChangeDataFeed": str(cdf).lower()}
    )
    t = DeltaTable(path)
    src = spark.createDataFrame([("1", 7)], "id string, price long")
    mutate = {
        "delete": lambda: t.delete("id = '1'"),
        "update": lambda: t.update({"price": "price + 100"}, predicate="id = '1'"),
        "merge": lambda: t.merge(src, "t.id = s.id", source_alias="s", target_alias="t")
        .when_matched_update({"price": "s.price"})
        .execute(),
    }[op]
    real_commit = C.commit
    winner = []

    def racing_commit(table_path, actions, operation, read_version, *args, **kwargs):
        if not winner:
            winner.append(None)  # the winner's own commit passes through
            winner[0] = DeltaTable(path).delete("id = '1'")
        return real_commit(table_path, actions, operation, read_version, *args, **kwargs)

    monkeypatch.setattr(C, "commit", racing_commit)
    with pytest.raises(ConcurrentDeleteDeleteError):
        mutate()
    monkeypatch.setattr(C, "commit", real_commit)

    assert winner and winner[0]["num_deleted_rows"] == 1
    live = snap_mod.load_snapshot(path)
    assert live.version == 1  # the winner's commit, nothing after it
    assert sorted(r.id for r in DeltaTable(path).to_df().collect()) == ["2", "3", "4", "5"]
    assert table_tree(path)[1] == []
    assert persistent_rdds(spark) == 0
    DeltaTable(path).vacuum(
        retention_hours=0, enforce_retention_duration=False, dry_run=False, full=True
    )
    files, staging = table_tree(path)
    data = {f for f in files if f.endswith(".parquet") and not f.startswith("_delta_log")}
    assert staging == [] and data == set(live.files)


@pytest.mark.parametrize("matched", [True, False], ids=["matched", "no_match"])
@pytest.mark.parametrize("table", ["cdf", "plain", "dv"])
@pytest.mark.parametrize("op", ["delete", "update"])
def test_mutation_read_set_covers_scanned_files(
    spark, tmp_path, monkeypatch, op, table, matched
):
    """DELETE/UPDATE read every candidate file they scan, not only the
    ones they rewrite: a racing UPDATE that rewrites a scanned file the
    mutation leaves alone (file A: ids 1 and 3, whose stats span the
    predicate's key) lands first, and the mutation must conflict —
    whether it rewrote the other file or matched nothing at all."""
    from delta_rs_spark.log import commit as C
    from delta_rs_spark.log import snapshot as snap_mod
    from delta_rs_spark.log.commit import ConcurrentDeleteReadError

    path = str(tmp_path / "t")
    conf = {
        "cdf": {"delta.enableChangeDataFeed": "true"},
        "plain": {},
        "dv": {"delta.enableDeletionVectors": "true"},
    }[table]
    schema = "id string, price long"
    write_deltalake(path, spark.createDataFrame([("1", 0), ("3", 2)], schema).coalesce(1), configuration=conf)
    write_deltalake(path, spark.createDataFrame([("2", 1), ("4", 3)], schema).coalesce(1), mode="append")
    t = DeltaTable(path)
    assert len(t.files()) == 2
    pred = "id = '2'" if matched else "id = '25'"  # '25' sorts inside both files' id ranges
    mutate = {
        "delete": lambda: t.delete(pred),
        "update": lambda: t.update({"price": "price + 100"}, predicate=pred),
    }[op]
    real_commit = C.commit
    winner = []

    def racing_commit(table_path, actions, operation, read_version, *args, **kwargs):
        if not winner:
            winner.append(None)  # the winner's own commit passes through
            winner[0] = DeltaTable(path).update({"price": "100"}, predicate="id = '3'")
        return real_commit(table_path, actions, operation, read_version, *args, **kwargs)

    monkeypatch.setattr(C, "commit", racing_commit)
    with pytest.raises(ConcurrentDeleteReadError):
        mutate()
    monkeypatch.setattr(C, "commit", real_commit)

    assert winner and winner[0]["num_updated_rows"] == 1
    assert snap_mod.load_snapshot(path).version == 2  # the winner's commit
    rows = sorted((r.id, r.price) for r in DeltaTable(path).to_df().collect())
    assert rows == [("1", 0), ("2", 1), ("3", 100), ("4", 3)]
    assert table_tree(path)[1] == []
    assert persistent_rdds(spark) == 0


def test_constraints_enforced_on_dv_update(spark, tmp_path, sample_df):
    """Same enforcement on the deletion-vector UPDATE variant (changed
    rows are appended, not rewritten — they still must satisfy rules)."""
    from delta_rs_spark import write_deltalake

    path = str(tmp_path / "dv_constr")
    write_deltalake(
        path, sample_df,
        configuration={"delta.enableDeletionVectors": "true"},
    )
    t = DeltaTable(path)
    t.alter.add_constraint({"price_nonneg": "price >= 0"})
    t.refresh()
    with pytest.raises(DeltaError, match="price_nonneg"):
        t.update({"price": "-1"}, predicate="id = '2'")
    t.refresh()
    assert sorted(r.price for r in t.to_df().collect()) == [0, 1, 2, 3, 4]


def test_merge_early_filter_partition_in_list(spark, tmp_path):
    """Early filter on a PARTITIONED target with sparse source keys
    (reference merge/filter.rs:324-368 "conjunction between the distinct
    partitions", pinned by its test at :685-707): the partition column
    gets an IN list over the source's distinct values, so partitions
    BETWEEN would over-include are skipped — bucket IN (0, 9) touches 2
    of 10 partition files where bucket BETWEEN 0 AND 9 touches all 10."""
    from delta_rs_spark.plans.skipping import prune_files

    path = str(tmp_path / "part_merge")
    base = spark.range(100).select(
        F.col("id"),
        (F.col("id") % 10).alias("bucket"),
        F.lit("old").alias("val"),
    )
    write_deltalake(path, base.repartition(1), partition_by=["bucket"])
    t = DeltaTable(path, spark=spark)
    assert len(t.files()) == 10

    src = spark.createDataFrame(
        [(0, 0, "new0"), (9, 9, "new9")], "id long, bucket long, val string"
    )
    mb = (
        t.merge(src, "target.bucket = source.bucket AND target.id = source.id")
        .when_matched_update({"val": "source.val"})
    )
    early = mb._strip_target_only_predicate(src, ["bucket"])
    assert "bucket IN (0, 9)" in early
    assert "id >= 0 AND id <= 9" in early
    adds = list(t._snapshot.files.values())
    kept = prune_files(adds, early, ["bucket"], {"bucket": "long", "id": "long"})
    assert len(kept) == 2
    # the old BETWEEN form keeps every partition — the gap this closes
    kept_between = prune_files(
        adds, "bucket >= 0 AND bucket <= 9", ["bucket"],
        {"bucket": "long", "id": "long"},
    )
    assert len(kept_between) == 10

    m = mb.execute()
    assert m["num_target_rows_updated"] == 2
    t.refresh()
    got = {r.id: r.val for r in t.to_df(predicate="val = 'new0' OR val = 'new9'").collect()}
    assert got == {0: "new0", 9: "new9"}
    assert t.count() == 100


def test_merge_early_filter_in_cap_falls_back_to_between(spark, tmp_path, monkeypatch):
    """Past _PARTITION_IN_CAP distinct source partition values the early
    filter falls back to the global min/max BETWEEN (bounded driver
    collect and predicate size)."""
    from delta_rs_spark.operators import merge as merge_mod

    path = str(tmp_path / "cap_merge")
    base = spark.range(40).select(
        F.col("id"), (F.col("id") % 4).alias("bucket"), F.lit("x").alias("val")
    )
    write_deltalake(path, base.repartition(1), partition_by=["bucket"])
    t = DeltaTable(path, spark=spark)
    src = spark.createDataFrame(
        [(1, 1, "a"), (13, 1, "b"), (3, 3, "c")], "id long, bucket long, val string"
    )
    mb = (
        t.merge(src, "target.bucket = source.bucket AND target.id = source.id")
        .when_matched_update({"val": "source.val"})
    )
    monkeypatch.setattr(merge_mod.TableMerger, "_PARTITION_IN_CAP", 1)
    early = mb._strip_target_only_predicate(src, ["bucket"])
    assert "IN" not in early
    assert "bucket >= 1 AND bucket <= 3" in early
    assert "id >= 1 AND id <= 13" in early


def test_merge_early_filter_string_and_date_partitions(spark, tmp_path):
    """IN-list literal formatting: string values quoted (with escaping),
    DATE values as typed literals — both round-trip through the pruning
    parser."""
    from delta_rs_spark.plans.skipping import prune_files

    path = str(tmp_path / "strdate_merge")
    base = spark.createDataFrame(
        [(i, chr(97 + i % 5), f"2024-01-{(i % 5) + 1:02d}") for i in range(20)],
        "id long, cat string, d string",
    ).select("id", "cat", F.col("d").cast("date").alias("d"))
    write_deltalake(path, base.repartition(1), partition_by=["cat", "d"])
    t = DeltaTable(path, spark=spark)
    src = base.filter("cat = 'a' OR cat = 'e'").limit(8)
    mb = (
        t.merge(
            src,
            "target.cat = source.cat AND target.d = source.d AND target.id = source.id",
        ).when_matched_update({"id": "source.id"})
    )
    early = mb._strip_target_only_predicate(src, ["cat", "d"])
    assert "cat IN ('a', 'e')" in early
    assert "DATE '" in early
    adds = list(t._snapshot.files.values())
    kept = prune_files(
        adds, early, ["cat", "d"],
        {"cat": "string", "d": "date", "id": "long"},
    )
    assert 0 < len(kept) < len(adds)
    for a in kept:
        assert a.partition_values["cat"] in {"a", "e"}


def test_merge_early_filter_static_target_conjuncts(spark, tmp_path):
    """Static target-only conjuncts in the join predicate pass through
    to the early filter (reference generalize_filter's NoReference arm):
    't.bucket = 3 AND t.id = s.id' prunes to partition 3 even though the
    source has no partition keys at all."""
    from delta_rs_spark.plans.skipping import prune_files

    path = str(tmp_path / "static_merge")
    base = spark.range(100).select(
        F.col("id"), (F.col("id") % 10).alias("bucket"), F.lit("old").alias("val")
    )
    write_deltalake(path, base.repartition(1), partition_by=["bucket"])
    t = DeltaTable(path, spark=spark)
    src = spark.createDataFrame([(3, "new3"), (13, "new13")], "id long, val string")
    mb = (
        t.merge(src, "target.bucket = 3 AND target.id = source.id")
        .when_matched_update({"val": "source.val"})
    )
    early = mb._strip_target_only_predicate(src, ["bucket"])
    assert "bucket = 3" in early
    assert "id >= 3 AND id <= 13" in early
    adds = list(t._snapshot.files.values())
    kept = prune_files(adds, early, ["bucket"], {"bucket": "long", "id": "long"})
    assert len(kept) == 1 and kept[0].partition_values["bucket"] == "3"
    m = mb.execute()
    assert m["num_target_rows_updated"] == 2
    assert m["num_target_files_scanned"] == 1
    assert m["num_target_files_skipped_during_scan"] == 9
    t.refresh()
    assert {r.id for r in t.to_df(predicate="val like 'new%'").collect()} == {3, 13}


def test_merge_early_filter_static_only(spark, tmp_path):
    """A merge predicate with NO equi-join pairs but a static partition
    conjunct still gets an early filter from the static part alone."""
    path = str(tmp_path / "static_only")
    base = spark.range(20).select(
        F.col("id"), (F.col("id") % 2).alias("bucket"), F.lit("old").alias("val")
    )
    write_deltalake(path, base.repartition(1), partition_by=["bucket"])
    t = DeltaTable(path, spark=spark)
    src = spark.createDataFrame([(99, "x")], "id long, val string")
    mb = t.merge(
        src, "target.bucket = 1 AND target.id > source.id"
    ).when_matched_update({"val": "source.val"})
    early = mb._strip_target_only_predicate(src, ["bucket"])
    assert early == "bucket = 1"


def test_merge_early_filter_nullsafe_pairs(spark, tmp_path):
    """<=> equi-join pairs prune like = when the source side has no
    NULLs, and contribute nothing when it does (a null key matches null
    partitions an IN/BETWEEN would wrongly skip)."""
    path = str(tmp_path / "ns_merge")
    base = spark.range(40).select(
        F.col("id"), (F.col("id") % 4).alias("bucket"), F.lit("old").alias("val")
    )
    write_deltalake(path, base.repartition(1), partition_by=["bucket"])
    t = DeltaTable(path, spark=spark)
    src_nonull = spark.createDataFrame(
        [(1, 1, "a"), (3, 3, "b")], "id long, bucket long, val string"
    )
    mb = t.merge(
        src_nonull, "t.bucket <=> s.bucket AND t.id <=> s.id",
        source_alias="s", target_alias="t",
    ).when_matched_update({"val": "s.val"})
    early = mb._strip_target_only_predicate(src_nonull, ["bucket"])
    assert "bucket IN (1, 3)" in early
    assert "id >= 1 AND id <= 3" in early

    src_null = spark.createDataFrame(
        [(1, 1, "a"), (None, None, "n")], "id long, bucket long, val string"
    )
    mb2 = t.merge(
        src_null, "t.bucket <=> s.bucket AND t.id <=> s.id",
        source_alias="s", target_alias="t",
    ).when_matched_update({"val": "s.val"})
    early2 = mb2._strip_target_only_predicate(src_null, ["bucket"])
    # neither column may prune: the null key could match null rows
    assert early2 is None or ("IN" not in early2 and ">=" not in early2)


def test_scd2_close_insert_new_and_noop(spark, tmp_path):
    """SCD2 via one staged-union MERGE (operators/scd.py): changed keys
    get their current row closed AND a new current version inserted;
    unchanged keys are untouched; brand-new keys insert; history rows
    never move. Two consecutive batches verify re-application."""
    import pyspark.sql.functions as F

    from delta_rs_spark import DeltaTable, write_deltalake
    from delta_rs_spark.operators.scd import apply_scd2

    path = str(tmp_path / "dim")
    seed = spark.createDataFrame(
        [(1, "GOLD", 1, None, True), (2, "SILVER", 1, None, True),
         (3, "BRONZE", 1, None, True)],
        "k int, seg string, effective_from int, effective_to int, is_current boolean",
    )
    write_deltalake(path, seed)

    # batch 2: change k=1, no-op k=2, new k=9
    up = spark.createDataFrame([(1, "PLATINUM"), (2, "SILVER"), (9, "NEW")],
                               "k int, seg string")
    m = apply_scd2(spark, path, up, key="k", attrs=["seg"], batch_version=2)
    rows = {(r.k, r.seg, r.effective_from, r.effective_to, r.is_current)
            for r in DeltaTable(path, spark=spark).to_df().collect()}
    assert rows == {
        (1, "GOLD", 1, 2, False), (1, "PLATINUM", 2, None, True),
        (2, "SILVER", 1, None, True),
        (3, "BRONZE", 1, None, True),
        (9, "NEW", 2, None, True),
    }

    # batch 3: change k=9 again; k=1 unchanged at its NEW value
    up3 = spark.createDataFrame([(9, "NEWER"), (1, "PLATINUM")], "k int, seg string")
    apply_scd2(spark, path, up3, key="k", attrs=["seg"], batch_version=3)
    rows = {(r.k, r.seg, r.effective_from, r.effective_to, r.is_current)
            for r in DeltaTable(path, spark=spark).to_df().collect()}
    assert (9, "NEW", 2, 3, False) in rows and (9, "NEWER", 3, None, True) in rows
    assert (1, "PLATINUM", 2, None, True) in rows  # untouched
    # exactly one current row per key, history intact
    cur = [r for r in rows if r[4]]
    assert sorted(k for k, *_ in cur) == [1, 2, 3, 9]
    # 5 rows after batch 2, +1 new version in batch 3 (the close edits
    # an existing row in place)
    assert len(rows) == 6


@pytest.mark.parametrize("seed", [13, 47])
def test_scd2_random_batch_fuzz(spark, tmp_path, seed):
    """Differential SCD2 fuzz: random update batches (change / no-op /
    new-key mixes) applied through the one-MERGE operator must land
    exactly where an independent pure-Python SCD2 simulator lands —
    full history table compared after every batch."""
    import random

    from delta_rs_spark import DeltaTable, write_deltalake
    from delta_rs_spark.operators.scd import apply_scd2

    rng = random.Random(seed)
    path = str(tmp_path / f"scd_fuzz_{seed}")
    # r10 (verdict #2 NULL sweep): None is a first-class attribute value
    # — the eqNullSafe change detection must treat NULL->x and x->NULL
    # as changes and NULL->NULL as a no-op, exactly like the simulator's
    # Python != does
    segs = ["A", "B", "C", "D", None]

    # model: key -> list of [seg, from, to, current]
    model: dict[int, list[list]] = {
        k: [[segs[k % 4], 1, None, True]] for k in range(20)
    }
    seed_rows = [(k, v[0][0], 1, None, True) for k, v in model.items()]
    write_deltalake(
        path,
        spark.createDataFrame(
            seed_rows,
            "k int, seg string, effective_from int, effective_to int, is_current boolean",
        ),
    )

    next_key = 100
    for batch in range(2, 7):
        ups = {}
        for k in rng.sample(sorted(model), k=rng.randint(3, 8)):
            cur = next(r for r in model[k] if r[3])
            # 50% force a change, else random (may equal current = no-op)
            s = rng.choice([x for x in segs if x != cur[0]]) if rng.random() < 0.5 else rng.choice(segs)
            ups[k] = s
        for _ in range(rng.randint(0, 3)):  # brand-new keys
            ups[next_key] = rng.choice(segs)
            next_key += 1

        up_df = spark.createDataFrame(
            sorted(ups.items()), "k int, seg string"
        )
        apply_scd2(spark, path, up_df, key="k", attrs=["seg"], batch_version=batch)

        for k, s in ups.items():
            if k not in model:
                model[k] = [[s, batch, None, True]]
                continue
            cur = next(r for r in model[k] if r[3])
            if cur[0] != s:
                cur[2], cur[3] = batch, False
                model[k].append([s, batch, None, True])

        nk = lambda row: tuple((x is not None, x) for x in row)  # noqa: E731
        got = sorted(
            (
                (r.k, r.seg, r.effective_from, r.effective_to, r.is_current)
                for r in DeltaTable(path, spark=spark).to_df().collect()
            ),
            key=nk,
        )
        want = sorted(
            (
                (k, seg, f, t, c)
                for k, rows in model.items()
                for seg, f, t, c in rows
            ),
            key=nk,
        )
        assert got == want, f"batch {batch}: diverged"


def test_scd2_intra_batch_duplicate_keys_raise(spark, tmp_path):
    """r08 (VERDICT r07 #6a): a duplicate key inside one update batch
    must fail cleanly, for BOTH duplicate classes: an existing key's
    duplicates trip the merge's own duplicate-match validation
    (MergeError) when the eager check is bypassed, and a brand-new
    key's duplicates — which the merge CANNOT catch (they match
    nothing and would insert two current rows) — trip the eager
    ValueError. Either way the dimension is untouched."""
    from delta_rs_spark.operators.scd import apply_scd2

    path = str(tmp_path / "dim_dup")
    seed = spark.createDataFrame(
        [(1, "GOLD", 1, None, True)],
        "k int, seg string, effective_from int, effective_to int, is_current boolean",
    )
    write_deltalake(path, seed)
    before = {tuple(r) for r in DeltaTable(path, spark=spark).to_df().collect()}

    # duplicate EXISTING key, eager check bypassed -> the merge's
    # duplicate-match validation is the raiser
    dup_existing = spark.createDataFrame(
        [(1, "PLATINUM"), (1, "SILVER")], "k int, seg string"
    )
    with pytest.raises(MergeError, match="duplicate"):
        apply_scd2(
            spark, path, dup_existing, key="k", attrs=["seg"],
            batch_version=2, validate_unique_keys=False,
        )

    # duplicate BRAND-NEW key -> only the eager check can catch it
    dup_new = spark.createDataFrame(
        [(9, "A"), (9, "B")], "k int, seg string"
    )
    with pytest.raises(ValueError, match="duplicate keys"):
        apply_scd2(spark, path, dup_new, key="k", attrs=["seg"], batch_version=2)
    # and the default eager check also covers the existing-key case
    with pytest.raises(ValueError, match="duplicate keys"):
        apply_scd2(spark, path, dup_existing, key="k", attrs=["seg"], batch_version=2)

    after = {tuple(r) for r in DeltaTable(path, spark=spark).to_df().collect()}
    assert after == before  # no partial mutation from any failed apply


def test_scd2_null_business_key_raises(spark, tmp_path):
    """r10 (NULL sweep): a NULL business key can never be matched by a
    later batch (and NULL is the staged forced-insert merge key), so a
    NULL-keyed update row would silently insert a fresh 'current' row
    EVERY batch instead of versioning one — reject it eagerly, with the
    dimension untouched."""
    from delta_rs_spark.operators.scd import apply_scd2

    path = str(tmp_path / "dim_nullkey")
    write_deltalake(
        path,
        spark.createDataFrame(
            [(1, "GOLD", 1, None, True)],
            "k int, seg string, effective_from int, effective_to int, is_current boolean",
        ),
    )
    before = {tuple(r) for r in DeltaTable(path, spark=spark).to_df().collect()}
    bad = spark.createDataFrame([(None, "X"), (2, "Y")], "k int, seg string")
    with pytest.raises(ValueError, match="NULL"):
        apply_scd2(spark, path, bad, key="k", attrs=["seg"], batch_version=2)
    # rejected even when uniqueness validation is off — it's a
    # correctness guard, not a convenience check
    with pytest.raises(ValueError, match="NULL"):
        apply_scd2(
            spark, path, bad, key="k", attrs=["seg"], batch_version=2,
            validate_unique_keys=False,
        )
    after = {tuple(r) for r in DeltaTable(path, spark=spark).to_df().collect()}
    assert after == before


def test_scd2_racing_unrelated_append_conflicts_cleanly(spark, tmp_path, monkeypatch):
    """r08 (VERDICT r07 #6b): an SCD2 apply racing an unrelated blind
    append on the same dimension, pinned at BOTH isolation levels. The
    staged-union MERGE's early filter bounds its read set, so under
    the default WriteSerializable the interleaved blind append is
    ALLOWED (reference conflict_checker semantics) — the merge's
    commit replay retries transparently and both writes land. Under
    delta.isolationLevel=Serializable the same race raises
    ConcurrentAppendError cleanly: the dimension shows only the append
    (no half-applied close/insert) and a plain re-apply succeeds."""
    from delta_rs_spark.log import commit as C
    from delta_rs_spark.log.commit import ConcurrentAppendError
    from delta_rs_spark.operators.scd import apply_scd2

    seed_rows = [(1, "GOLD", 1, None, True), (2, "SILVER", 1, None, True)]
    seed_schema = (
        "k int, seg string, effective_from int, effective_to int, is_current boolean"
    )
    late_rows_py = [(100, "NEWCO", 1, None, True)]
    up = spark.createDataFrame([(1, "PLATINUM")], "k int, seg string")
    real_commit = C.commit

    def run_race(path):
        state = {"injected": False}

        def racing_commit(table_path, actions, op, read_version, *args, **kwargs):
            # deterministic interleave: the unrelated append lands
            # between the merge's snapshot read and its commit attempt
            if op.operation == "MERGE" and not state["injected"]:
                state["injected"] = True
                write_deltalake(
                    path,
                    spark.createDataFrame(late_rows_py, seed_schema),
                    mode="append",
                )
            return real_commit(table_path, actions, op, read_version, *args, **kwargs)

        monkeypatch.setattr(C, "commit", racing_commit)
        try:
            apply_scd2(spark, path, up, key="k", attrs=["seg"], batch_version=2)
        finally:
            monkeypatch.setattr(C, "commit", real_commit)

    def table_rows(path):
        return {(r.k, r.seg, r.effective_from, r.effective_to, r.is_current)
                for r in DeltaTable(path, spark=spark).to_df().collect()}

    applied = {
        (1, "GOLD", 1, 2, False), (1, "PLATINUM", 2, None, True),
        (2, "SILVER", 1, None, True),
        (100, "NEWCO", 1, None, True),
    }

    # --- default WriteSerializable: blind append allowed, merge retries
    ws = str(tmp_path / "dim_race_ws")
    write_deltalake(ws, spark.createDataFrame(seed_rows, seed_schema))
    run_race(ws)  # must NOT raise
    assert table_rows(ws) == applied

    # --- Serializable: the same race is a clean conflict
    sz = str(tmp_path / "dim_race_sz")
    write_deltalake(
        sz,
        spark.createDataFrame(seed_rows, seed_schema),
        configuration={"delta.isolationLevel": "Serializable"},
    )
    with pytest.raises(ConcurrentAppendError):
        run_race(sz)
    assert table_rows(sz) == {  # append landed; merge left no trace
        (1, "GOLD", 1, None, True),
        (2, "SILVER", 1, None, True),
        (100, "NEWCO", 1, None, True),
    }
    # the loser re-applies cleanly against the post-append snapshot
    apply_scd2(spark, sz, up, key="k", attrs=["seg"], batch_version=2)
    assert table_rows(sz) == applied


def test_between_union_conjunct_prunes_exactly():
    """r11: the canonical single-column interval-union spelling
    ``(c BETWEEN a AND b OR c BETWEEN x AND y)`` is ONE servable
    conjunct (the OR sits below top level), evaluated as
    any-interval-overlaps against file min/max; mixed-column unions
    and genuine top-level ORs stay refused."""
    from delta_rs_spark.log.actions import Add
    from delta_rs_spark.plans.skipping import parse_conjuncts, prune_files

    def add(mn, mx):
        import json

        return Add(
            path=f"f_{mn}_{mx}.parquet",
            size=1,
            modification_time=0,
            data_change=True,
            partition_values={},
            stats=json.dumps(
                {
                    "numRecords": 10,
                    "minValues": {"id": mn},
                    "maxValues": {"id": mx},
                    "nullCount": {"id": 0},
                }
            ),
        )

    pred = "(id BETWEEN 1 AND 5 OR id BETWEEN 100 AND 120)"
    cs = parse_conjuncts(pred)
    assert len(cs) == 1 and cs[0].op == "between_any"
    files = [add(3, 4), add(50, 60), add(110, 115), add(5, 99)]
    kept = prune_files(files, pred, [], {"id": "long"})
    assert {a.path for a in kept} == {
        "f_3_4.parquet",
        "f_110_115.parquet",
        "f_5_99.parquet",  # overlaps [1,5] at 5
    }
    # composes with sibling conjuncts under AND
    kept = prune_files(files, pred + " AND id >= 100", [], {"id": "long"})
    assert {a.path for a in kept} == {"f_110_115.parquet"}
    # mixed columns in the arms -> refused (no conjunct, no pruning)
    assert parse_conjuncts("(id BETWEEN 1 AND 5 OR other BETWEEN 9 AND 10)") == []
    # genuine top-level OR still refuses everything
    assert parse_conjuncts("id BETWEEN 1 AND 5 OR id BETWEEN 100 AND 120") == []


def test_merge_interval_union_prunes_multimodal_source(spark, tmp_path):
    """r11: a bimodal merge-source key set (low-id updates + high-id
    appends — the index-maintenance shape) spans the whole table under
    a single min/max BETWEEN, so discovery scanned every file; the
    second-stage interval-union refinement prunes the untouched middle.
    Result correctness AND the skip metric are asserted."""
    from pyspark.sql import functions as F

    from delta_rs_spark import DeltaTable, write_deltalake

    p = str(tmp_path / "t")
    base = spark.range(100_000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    # id-clustered small files so stats pruning has something to prune
    write_deltalake(
        p,
        base.repartition(1).sortWithinPartitions("k"),
        max_records_per_file=5_000,
        preserve_layout=True,
    )
    t = DeltaTable(p, spark=spark)
    n_files = len(t.get_add_actions().to_pylist())
    assert n_files >= 15
    src = spark.createDataFrame(
        [(k, -1) for k in range(200)] + [(k, -2) for k in range(99_900, 100_100)],
        "k long, v long",
    )
    m = (
        t.merge(src, "t.k = s.k", source_alias="s", target_alias="t")
        .when_matched_update({"v": "s.v"})
        .when_not_matched_insert({"k": "s.k", "v": "s.v"})
        .execute()
    )
    assert m["num_target_rows_updated"] == 300
    assert m["num_target_rows_inserted"] == 100
    # the middle files never became candidates
    assert m["num_target_files_skipped_during_scan"] >= n_files - 4, m
    out = t.to_df()
    assert out.count() == 100_100
    assert out.filter("v = -1").count() == 200
    assert out.filter("v = -2").count() == 200
    assert out.filter("k = 50000").first()["v"] == 100_000


# -- merge safe-cast semantics (reference python/tests/test_merge.py
#    test_merge_safe_cast_*; error_on_type_mismatch=False) ---------------


def _cast_tbl(spark, tmp_path, name, rows, schema):
    import os

    p = os.path.join(str(tmp_path), name)
    write_deltalake(p, spark.createDataFrame(rows, schema))
    return p, DeltaTable(p, spark=spark)


def test_merge_safe_cast_uncastable_becomes_null(spark, tmp_path):
    """error_on_type_mismatch=False: an uncastable assignment result
    becomes NULL for a NULLABLE target column — on the matched-update
    leg AND the not-matched-insert leg."""
    _, t = _cast_tbl(spark, tmp_path, "t1", [(1, 10)], "id long, value long")
    src = spark.createDataFrame([(1, "abc"), (2, "def")], "id long, value string")
    (
        t.merge(src, "target.id = source.id", source_alias="source",
                target_alias="target", error_on_type_mismatch=False)
        .when_matched_update({"value": "source.value"})
        .when_not_matched_insert({"id": "source.id", "value": "source.value"})
        .execute()
    )
    assert sorted((r.id, r.value) for r in t.to_df().collect()) == [
        (1, None), (2, None)
    ]


def test_merge_safe_cast_numeric_overflow_becomes_null(spark, tmp_path):
    from pyspark.sql import types as T

    sch = T.StructType([
        T.StructField("id", T.LongType(), True),
        T.StructField("value", T.IntegerType(), True),
    ])
    import os

    p = os.path.join(str(tmp_path), "t2")
    write_deltalake(p, spark.createDataFrame([(1, 10)], sch))
    t = DeltaTable(p, spark=spark)
    src = spark.createDataFrame(
        [(1, 2**31), (2, -(2**31) - 1)], "id long, value long"
    )
    (
        t.merge(src, "target.id = source.id", source_alias="source",
                target_alias="target", error_on_type_mismatch=False)
        .when_matched_update({"value": "source.value"})
        .when_not_matched_insert({"id": "source.id", "value": "source.value"})
        .execute()
    )
    assert sorted((r.id, r.value) for r in t.to_df().collect()) == [
        (1, None), (2, None)
    ]


def test_merge_safe_cast_not_matched_by_source_update(spark, tmp_path):
    _, t = _cast_tbl(
        spark, tmp_path, "t3", [(1, 10), (2, 20)], "id long, value long"
    )
    src = spark.createDataFrame([(1,)], "id long")
    (
        t.merge(src, "target.id = source.id", source_alias="source",
                target_alias="target", error_on_type_mismatch=False)
        .when_not_matched_by_source_update({"value": "'abc'"})
        .execute()
    )
    assert sorted((r.id, r.value) for r in t.to_df().collect()) == [
        (1, 10), (2, None)
    ]


def test_merge_safe_cast_non_nullable_target_still_fails(spark, tmp_path):
    """Safe mode never silently NULLs a NON-nullable column: the cast
    stays strict and the merge errors (reference expects 'Invalid data
    found'; here the strict ANSI cast raises)."""
    import os

    from pyspark.sql import types as T

    sch = T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("value", T.LongType(), False),
    ])
    p = os.path.join(str(tmp_path), "t4")
    write_deltalake(p, spark.createDataFrame([(1, 10)], sch))
    t = DeltaTable(p, spark=spark)
    src = spark.createDataFrame([(1, "abc")], "id long, value string")
    with pytest.raises(Exception):
        (
            t.merge(src, "target.id = source.id", source_alias="source",
                    target_alias="target", error_on_type_mismatch=False)
            .when_matched_update({"value": "source.value"})
            .execute()
        )


def test_merge_type_mismatch_errors_by_default(spark, tmp_path):
    """Default error_on_type_mismatch=True: malformed assignment values
    raise instead of writing NULLs (reference test_unsafe semantics)."""
    _, t = _cast_tbl(spark, tmp_path, "t5", [(1, 10)], "id long, value long")
    src = spark.createDataFrame([(1, "abc")], "id long, value string")
    with pytest.raises(Exception):
        (
            t.merge(src, "target.id = source.id", source_alias="source",
                    target_alias="target")
            .when_matched_update({"value": "source.value"})
            .execute()
        )


def test_update_wrong_types_cast_errors(spark, tmp_path):
    """Default UPDATE with an uncastable assignment errors (reference
    python/tests/test_update.py test_update_wrong_types_cast)."""
    import os

    p = os.path.join(str(tmp_path), "u1")
    write_deltalake(p, spark.createDataFrame([(1, True)], "id long, deleted boolean"))
    t = DeltaTable(p, spark=spark)
    with pytest.raises(Exception):
        t.update(updates={"deleted": "'hello_world'"})


def test_update_safe_cast_nullable_becomes_null(spark, tmp_path):
    """error_on_type_mismatch=False on UPDATE: uncastable results
    become NULL for nullable targets — rewrite tier AND the DV tier."""
    import os

    for name, conf in [
        ("plain", None),
        ("dv", {"delta.enableDeletionVectors": "true"}),
    ]:
        p = os.path.join(str(tmp_path), name)
        df = spark.createDataFrame([(1, 10), (2, 20)], "id long, v long")
        write_deltalake(p, df, configuration=conf)
        t = DeltaTable(p, spark=spark)
        t.update(updates={"v": "'abc'"}, predicate="id = 2",
                 error_on_type_mismatch=False)
        got = sorted((r.id, r.v) for r in t.to_df().collect())
        assert got == [(1, 10), (2, None)], (name, got)
