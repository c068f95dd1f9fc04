"""MERGE internals: num_source_rows and the early filter's bounds are
observed in the one pass that fills the source's pin, whatever the
join predicate; duplicate-match validation and the per-action counts
ride the write frame's observe(). These tests pin the METRIC VALUES
through every branch so the fusion can never drift them, pin that a
failed validation leaves nothing behind, and pin that the source is
evaluated once and cached once."""

import pytest
from conftest import persistent_rdds, table_tree

from delta_rs_spark import DeltaTable, write_deltalake


@pytest.fixture()
def target(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(20).selectExpr("id", "id % 4 AS part", "id * 10 AS v")
    write_deltalake(path, df, partition_by=["part"])
    return path


def _merge(spark, path, source):
    return (
        DeltaTable(path, spark=spark)
        .merge(source, "t.id = s.id", source_alias="s", target_alias="t")
        .when_matched_update({"v": "s.v"})
        .when_not_matched_insert({"id": "s.id", "part": "s.part", "v": "s.v"})
        .execute()
    )


def test_source_count_from_grouped_early_filter(spark, target):
    # equi-join includes the partition column? it does not — the join
    # is on id (a stats column), so the GLOBAL min/max agg runs and
    # carries the count
    src = spark.range(5, 12).selectExpr("id", "id % 4 AS part", "id * 100 AS v")
    m = _merge(spark, target, src)
    assert m["num_source_rows"] == 7
    assert m["num_target_rows_updated"] == 7
    assert m["num_target_rows_inserted"] == 0


def test_source_count_on_partition_join(spark, tmp_path):
    # join ON the partition column -> the grouped (partition-IN) agg
    # path computes the count from per-group sums
    path = str(tmp_path / "p")
    df = spark.range(12).selectExpr("id % 3 AS part", "id AS v")
    write_deltalake(path, df, partition_by=["part"])
    src = spark.range(2).selectExpr("id AS part", "id + 1000 AS v")
    m = (
        DeltaTable(path, spark=spark)
        .merge(src, "t.part = s.part", source_alias="s", target_alias="t")
        .when_matched_update({"v": "s.v"})
        .execute()
    )
    assert m["num_source_rows"] == 2
    # 2 source parts x 4 target rows each, every matched row updated
    assert m["num_target_rows_updated"] == 8


def test_source_count_fallback_without_equi_pairs(spark, target):
    # a predicate with no target=source equi pair: the early filter has
    # no bounds to read, and the count still comes from the pin's fill
    src = spark.range(3).selectExpr(
        "id + 100 AS id", "id % 4 AS part", "id AS v"
    )
    m = (
        DeltaTable(target, spark=spark)
        .merge(src, "t.id > s.id + 1000", source_alias="s", target_alias="t")
        .when_matched_update({"v": "s.v"})
        .when_not_matched_insert({"id": "s.id", "part": "s.part", "v": "s.v"})
        .execute()
    )
    assert m["num_source_rows"] == 3
    assert m["num_target_rows_inserted"] == 3


def test_duplicate_match_validation_still_raises(spark, tmp_path):
    """A duplicate match fails before anything leaves staging, on the
    fused CDF writer and on the plain writer alike: same table version,
    no staging dir, no new data or change file, no pinned frame."""
    from delta_rs_spark.operators.merge import MergeError
    from delta_rs_spark.session import drop_cached_intermediates

    dup = spark.createDataFrame(
        [(5, 1, 1), (5, 1, 2)], "id long, part long, v long"
    )
    for cdf in (False, True):
        path = str(tmp_path / f"cdf_{cdf}")
        write_deltalake(
            path,
            spark.range(20).selectExpr("id", "id % 4 AS part", "id * 10 AS v"),
            partition_by=["part"],
            configuration={"delta.enableChangeDataFeed": str(cdf).lower()},
        )
        version = DeltaTable(path, spark=spark).version()
        files, _ = table_tree(path)
        drop_cached_intermediates(spark)
        with pytest.raises(MergeError):
            _merge(spark, path, dup)
        after, staging = table_tree(path)
        assert DeltaTable(path, spark=spark).version() == version
        assert staging == []
        assert {f for f in after - files if f.endswith(".parquet")} == set()
        assert persistent_rdds(spark) == 0


def test_merge_deleting_every_written_row(spark, target):
    """A merge whose touched files lose every row leaves the write job
    no input, and AQE then drops the observed stage from the plan: the
    counts and the duplicate-match check must still come out right."""
    from delta_rs_spark.operators.merge import MergeError

    def delete_matched(src):
        return (
            DeltaTable(target, spark=spark)
            .merge(src, "t.id = s.id", source_alias="s", target_alias="t")
            .when_matched_delete("s.v >= 0")
            .execute()
        )

    # part 2's file holds ids 2, 6, 10, 14, 18; id 2 matches twice
    dup = spark.createDataFrame(
        [(i, 0) for i in (2, 2, 6, 10, 14, 18)], "id long, v long"
    )
    with pytest.raises(MergeError):
        delete_matched(dup)
    m = delete_matched(spark.range(1, 20, 4).selectExpr("id", "0L AS v"))
    assert m["num_target_rows_deleted"] == 5
    assert m["num_target_rows_copied"] == 0
    assert m["num_target_files_added"] == 0
    got = sorted(r["id"] for r in DeltaTable(target, spark=spark).to_spark().collect())
    assert got == [i for i in range(20) if i % 4 != 1]


def test_nmbs_only_merge_counts(spark, target):
    """Not-matched-by-source clauses only: a target row matched by two
    source rows is still one COPY row (no validation applies), and the
    counts equal the rows each clause produced."""
    src = spark.createDataFrame(
        [(1, 0, 0), (1, 0, 0), (2, 0, 0)], "id long, part long, v long"
    )
    m = (
        DeltaTable(target, spark=spark)
        .merge(src, "t.id = s.id", source_alias="s", target_alias="t")
        .when_not_matched_by_source_delete("t.id >= 15")
        .when_not_matched_by_source_update({"v": "-1"})
        .execute()
    )
    assert m["num_target_rows_deleted"] == 5
    assert m["num_target_rows_updated_by_source_miss"] == 13
    assert m["num_target_rows_copied"] == 2
    assert m["num_target_rows_updated"] == m["num_target_rows_inserted"] == 0
    got = {r["id"]: r["v"] for r in DeltaTable(target, spark=spark).to_spark().collect()}
    assert sorted(got) == list(range(15))
    assert got[1] == 10 and got[2] == 20 and got[0] == got[14] == -1


def test_dv_mode_merge_counts(spark, tmp_path):
    """Deletion-vector table: the pinned frame's first consumer (the
    acted-row collect) carries validation and counts."""
    path = str(tmp_path / "dv")
    write_deltalake(
        path,
        spark.range(20).selectExpr("id", "id * 10 AS v").coalesce(1),
        configuration={"delta.enableDeletionVectors": "true"},
    )
    src = spark.createDataFrame(
        [(3, 1), (4, 1), (5, 0), (30, 7)], "id long, v long"
    )
    m = (
        DeltaTable(path, spark=spark)
        .merge(src, "t.id = s.id", source_alias="s", target_alias="t")
        .when_matched_delete("s.v = 0")
        .when_matched_update({"v": "s.v"})
        .when_not_matched_insert({"id": "s.id", "v": "s.v"})
        .execute()
    )
    assert m["num_target_rows_updated"] == 2
    assert m["num_target_rows_deleted"] == 1
    assert m["num_target_rows_inserted"] == 1
    assert m["num_target_rows_copied"] == 0  # copies stay in the DV'd file
    assert m["num_deletion_vectors_added"] >= 1
    got = {r["id"]: r["v"] for r in DeltaTable(path, spark=spark).to_spark().collect()}
    assert len(got) == 20 and 5 not in got
    assert got[3] == got[4] == 1 and got[30] == 7 and got[6] == 60


def _spy_scans(monkeypatch):
    """Record the file set of every read_snapshot_df call. merge.execute()
    imports read_snapshot_df from the table module at call time, so
    patching the table module intercepts every scan."""
    import delta_rs_spark.table as table_mod

    calls = []
    real = table_mod.read_snapshot_df

    def spy(*args, **kw):
        calls.append(kw.get("files"))
        return real(*args, **kw)

    monkeypatch.setattr(table_mod, "read_snapshot_df", spy)
    return calls


def test_insert_anti_join_scans_only_touched_files(spark, tmp_path, monkeypatch):
    """With matched clauses (and no not-matched-by-source), MERGE scans
    the early filter's candidates once, in its write frame, and rewrites
    only the TOUCHED files (the barrier keeps the others live); its
    inserts are that join's source-only rows. Insert-only merges
    anti-join the candidates. Instrument read_snapshot_df to record the
    file set each caller passes."""
    path = str(tmp_path / "scan")
    # 4 single-file commits -> 4 files with disjoint id ranges
    for lo in (0, 100, 200, 300):
        write_deltalake(
            path,
            spark.range(lo, lo + 100).selectExpr("id", "id AS v").coalesce(1),
            mode="append" if lo else "error",
        )
    dt = DeltaTable(path, spark=spark)
    assert len(dt.files()) == 4
    before = set(dt.files())

    calls = _spy_scans(monkeypatch)

    src = spark.createDataFrame(
        [(150, 1), (900, 9)], "id long, v long"
    )  # one match (file 2), one insert
    m = (
        dt.merge(src, "t.id = s.id", source_alias="s", target_alias="t")
        .when_matched_update({"v": "s.v"})
        .when_not_matched_insert({"id": "s.id", "v": "s.v"})
        .execute()
    )
    assert m["num_target_rows_updated"] == 1
    assert m["num_target_rows_inserted"] == 1
    assert m["num_target_files_removed"] == 1
    # the insert rows are the source-only rows of the write frame's full
    # outer join, so nothing re-scans for them — calls: [candidates]
    assert len(calls) == 1, "insert anti-join must not re-scan files"
    assert len(calls[0]) == m["num_target_files_scanned"] == 3
    assert len(before - set(DeltaTable(path, spark=spark).files())) == 1, (
        "rewrite must replace only the touched file"
    )

    # insert-only merge: no discovery -> anti-join scans the candidates
    calls.clear()
    m2 = (
        DeltaTable(path, spark=spark)
        .merge(
            spark.createDataFrame([(150, 5), (950, 5)], "id long, v long"),
            "t.id = s.id",
            source_alias="s",
            target_alias="t",
        )
        .when_not_matched_insert({"id": "s.id", "v": "s.v"})
        .execute()
    )
    assert m2["num_target_rows_inserted"] == 1  # 150 matches, must not insert
    assert len(calls) == 1 and len(calls[0]) >= 1  # candidates, not []


def test_no_match_merge_inserts_from_source_alone(spark, tmp_path, monkeypatch):
    """Matched clauses, but no candidate row matches: the write frame's
    one scan of the candidate finds every source row unmatched, the
    barrier keeps the file live, and the inserts need no anti-join."""
    path = str(tmp_path / "nomatch")
    # even ids only: odd source keys fall inside the file's min/max, so
    # the file is a candidate, but match no row
    write_deltalake(
        path, spark.range(0, 200, 2).selectExpr("id", "id AS v").coalesce(1)
    )
    calls = _spy_scans(monkeypatch)
    src = spark.createDataFrame([(51, 1), (151, 2)], "id long, v long")
    m = (
        DeltaTable(path, spark=spark)
        .merge(src, "t.id = s.id", source_alias="s", target_alias="t")
        .when_matched_update({"v": "s.v"})
        .when_not_matched_insert({"id": "s.id", "v": "s.v"})
        .execute()
    )
    assert m["num_target_files_scanned"] == 1
    assert m["num_target_rows_inserted"] == 2
    assert m["num_target_rows_updated"] == m["num_target_files_removed"] == 0
    assert len(calls) == 1, "only the write frame may scan the candidates"
    got = {r["id"]: r["v"] for r in DeltaTable(path, spark=spark).to_spark().collect()}
    assert len(got) == 102 and got[51] == 1 and got[151] == 2


def test_nondeterministic_source_is_evaluated_once(spark, tmp_path):
    """A source whose join key comes from rand(seed): the early filter's
    bounds, the join and the counts all read the one evaluation the pin
    holds, so the counts equal what the written rows show."""
    path = str(tmp_path / "t")
    # 4 files of even keys in disjoint ranges
    for lo in range(0, 8000, 2000):
        write_deltalake(
            path,
            spark.range(lo, lo + 2000, 2).selectExpr("id AS k", "0L AS v").coalesce(1),
            mode="append" if lo else "error",
        )
    # unique keys in 1990..4989, about half of them even (present)
    src = spark.range(600).selectExpr(
        "1990 + id * 5 + CAST(floor(rand(7) * 5) AS BIGINT) AS k", "-1L AS v"
    )
    m = (
        DeltaTable(path, spark=spark)
        .merge(src, "t.k = s.k", source_alias="s", target_alias="t")
        .when_matched_update_all()
        .when_not_matched_insert_all()
        .execute()
    )
    rows = DeltaTable(path, spark=spark).to_spark().collect()
    keys = [r.k for r in rows]
    assert len(keys) == len(set(keys))
    written = [r.k for r in rows if r.v == -1]
    assert m["num_source_rows"] == len(written) == 600
    assert m["num_target_rows_updated"] == sum(1 for k in written if k % 2 == 0)
    assert m["num_target_rows_inserted"] == sum(1 for k in written if k % 2)
    assert len(keys) == 4000 + m["num_target_rows_inserted"]
    assert persistent_rdds(spark) == 0


def test_caller_pinned_source_is_not_pinned_twice(spark, target, monkeypatch):
    """A source the caller already cached (the index syncs' shape) is
    read from that cache: MERGE adds no cached copy of its own and
    leaves the caller's entry for the caller to release."""
    from pyspark import StorageLevel

    from delta_rs_spark.operators import merge as merge_mod
    from delta_rs_spark.session import drop_cached_intermediates

    drop_cached_intermediates(spark)
    at_write = []
    real = merge_mod.write_mutation

    def spy(df, *args, **kw):
        at_write.append(persistent_rdds(spark))
        return real(df, *args, **kw)

    monkeypatch.setattr(merge_mod, "write_mutation", spy)
    src = spark.range(5, 12).selectExpr("id", "id % 4 AS part", "id * 100 AS v").persist()
    try:
        m = _merge(spark, target, src)
        assert (m["num_source_rows"], m["num_target_rows_updated"]) == (7, 7)
        assert at_write == [1]
        assert src.storageLevel != StorageLevel.NONE
        assert persistent_rdds(spark) == 1
    finally:
        src.unpersist()
    assert persistent_rdds(spark) == 0
