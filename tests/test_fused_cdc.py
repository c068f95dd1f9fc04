"""Focused tests for the r13 fused data+CDC single-job writer
(operators/cdc.write_data_and_change_files) and the cache-release
contract (session.drop_cached_intermediates)."""

import json
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from delta_rs_spark import DeltaTable, write_deltalake
from delta_rs_spark.operators import cdc


def _fused_writes(monkeypatch):
    """One entry per call of the fused data+CDC writer."""
    calls = []
    real = cdc.write_data_and_change_files

    def spy(*args, **kw):
        calls.append(1)
        return real(*args, **kw)

    monkeypatch.setattr(cdc, "write_data_and_change_files", spy)
    return calls


def _parquet_cols(path):
    return set(pq.ParquetFile(path).schema_arrow.names)


def _data_files(root):
    out = []
    for dirpath, dirnames, files in os.walk(root):
        if "_delta_log" in dirpath or "_change_data" in dirpath:
            continue
        out += [os.path.join(dirpath, f) for f in files if f.endswith(".parquet")]
    return out


def _cdc_files(root):
    cd = os.path.join(root, "_change_data")
    out = []
    for dirpath, _d, files in os.walk(cd):
        out += [os.path.join(dirpath, f) for f in files if f.endswith(".parquet")]
    return out


def test_fused_delete_layout_and_values(spark, tmp_table):
    df = spark.range(0, 40).selectExpr("id", "cast(id as double) AS v")
    write_deltalake(
        tmp_table, df, configuration={"delta.enableChangeDataFeed": "true"}
    )
    t = DeltaTable(tmp_table)
    m = t.delete("id >= 30")
    assert m["num_deleted_rows"] == 10
    assert {r["id"] for r in t.to_spark().collect()} == set(range(30))
    # protocol layout: data files carry ONLY table columns; change
    # files carry table columns + _change_type inside the file
    for f in _data_files(tmp_table):
        assert "_change_type" not in _parquet_cols(f), f
    cdc = _cdc_files(tmp_table)
    assert cdc, "fused delete must emit change files"
    for f in cdc:
        assert "_change_type" in _parquet_cols(f), f
    got = t.load_cdf(starting_version=1, ending_version=1).collect()
    assert {r["id"] for r in got if r["_change_type"] == "delete"} == set(
        range(30, 40)
    )
    # no staging directories left behind
    assert not [d for d in os.listdir(tmp_table) if d.startswith("_staging")]


def test_fused_update_partitioned(spark, tmp_table):
    df = spark.range(0, 30).selectExpr(
        "id", "cast(id % 3 as int) AS part", "cast(id as double) AS v"
    )
    write_deltalake(
        tmp_table,
        df,
        partition_by=["part"],
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    t = DeltaTable(tmp_table)
    m = t.update({"v": "v + 0.5"}, predicate="id < 6")
    assert m["num_updated_rows"] == 6
    got = {r["id"]: r["v"] for r in t.to_spark().collect()}
    assert got[0] == 0.5 and got[5] == 5.5 and got[10] == 10.0
    cdf = t.load_cdf(starting_version=1, ending_version=1).collect()
    pre = {r["id"]: r["v"] for r in cdf if r["_change_type"] == "update_preimage"}
    post = {r["id"]: r["v"] for r in cdf if r["_change_type"] == "update_postimage"}
    assert pre == {i: float(i) for i in range(6)}
    assert post == {i: i + 0.5 for i in range(6)}
    # AddCDCFile actions carry partitionValues (pruning contract)
    log1 = open(
        os.path.join(tmp_table, "_delta_log", "00000000000000000001.json")
    ).read()
    cdc_actions = [
        json.loads(ln)["cdc"] for ln in log1.splitlines() if '"cdc"' in ln
    ]
    assert cdc_actions
    assert all(
        a["partitionValues"].get("part") in {"0", "1", "2"} for a in cdc_actions
    )


def test_fused_merge_upsert_counts_and_cdf(spark, tmp_table):
    write_deltalake(
        tmp_table,
        spark.range(0, 20).selectExpr("id", "cast(0 as long) AS v"),
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    t = DeltaTable(tmp_table)
    src = spark.range(15, 25).selectExpr("id", "cast(9 as long) AS v")
    m = (
        t.merge(src, "t.id = s.id", source_alias="s", target_alias="t")
        .when_matched_update_all()
        .when_not_matched_insert_all()
        .execute()
    )
    assert m["num_target_rows_updated"] == 5
    assert m["num_target_rows_inserted"] == 5
    got = {r["id"]: r["v"] for r in t.to_spark().collect()}
    assert len(got) == 25 and got[15] == 9 and got[24] == 9 and got[0] == 0
    cdf = t.load_cdf(starting_version=1, ending_version=1).collect()
    kinds = {}
    for r in cdf:
        kinds.setdefault(r["_change_type"], set()).add(r["id"])
    assert kinds["insert"] == set(range(20, 25))
    assert kinds["update_preimage"] == set(range(15, 20))
    assert kinds["update_postimage"] == set(range(15, 20))


def test_write_rules_take_the_fused_writer(spark, tmp_table, monkeypatch):
    """A CHECK constraint rides the fused writer's job (the rule gate's
    observe()), so a constrained CDF table fuses, stays correct, and a
    violating UPDATE still fails without committing."""
    from delta_rs_spark.log.commit import DeltaError

    write_deltalake(
        tmp_table,
        spark.range(0, 10).selectExpr("id", "cast(id as double) AS v"),
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    t = DeltaTable(tmp_table)
    t.alter.add_constraint({"v_nonneg": "v >= 0"})
    fused = _fused_writes(monkeypatch)
    t.delete("id >= 8")
    assert len(fused) == 1
    assert {r["id"] for r in t.to_spark().collect()} == set(range(8))
    got = t.load_cdf(starting_version=2, ending_version=2).collect()
    assert {r["id"] for r in got if r["_change_type"] == "delete"} == {8, 9}
    with pytest.raises(DeltaError, match="v_nonneg"):
        t.update({"v": "-1.0"}, predicate="id = 3")
    t.refresh()
    assert t.version() == 2
    assert not [d for d in os.listdir(tmp_table) if d.startswith("_staging")]


def test_rule_gate_skips_preimage_rows(spark, tmp_table):
    """Only rows that reach a data file are checked: an UPDATE that
    repairs a row written before its constraint held commits, although
    the row's preimage (a change-data row) violates the constraint."""
    write_deltalake(
        tmp_table,
        spark.range(0, 4).selectExpr("id", "cast(id - 1 as double) AS v"),
        configuration={
            "delta.enableChangeDataFeed": "true",
            "delta.constraints.v_nonneg": "v >= 0",
        },
    )
    t = DeltaTable(tmp_table)
    t.update({"v": "0.0"}, predicate="v < 0")
    assert {r["id"]: r["v"] for r in t.to_spark().collect()} == {0: 0.0, 1: 0.0, 2: 1.0, 3: 2.0}
    got = t.load_cdf(starting_version=1, ending_version=1).collect()
    assert {(r["_change_type"], r["v"]) for r in got} == {
        ("update_preimage", -1.0),
        ("update_postimage", 0.0),
    }


def test_variant_cdf_mutations_take_the_fused_writer(spark, tmp_table, monkeypatch):
    """DELETE, UPDATE and an upsert MERGE on a VARIANT CDF table take
    the fused writer (its tasks get each VARIANT as a
    struct<value, metadata> of binaries, which pyarrow writes and Spark
    reads back as VARIANT) and emit the same table rows and change
    rows."""
    write_deltalake(
        tmp_table,
        spark.range(0, 10).selectExpr(
            "id", "id AS v", "parse_json(concat('{\"k\":', id, '}')) AS doc"
        ),
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    t = DeltaTable(tmp_table)
    fused = _fused_writes(monkeypatch)

    def kinds(version):
        got = {}
        for r in t.load_cdf(starting_version=version, ending_version=version).collect():
            got[r["_change_type"]] = got.get(r["_change_type"], 0) + 1
        return got

    t.delete("id >= 8")
    assert kinds(1) == {"delete": 2}
    t.update({"v": "v * 10"}, predicate="id = 1")
    assert kinds(2) == {"update_preimage": 1, "update_postimage": 1}
    src = spark.range(5, 12).selectExpr(
        "id", "-id AS v", "parse_json(concat('{\"k\":', -id, '}')) AS doc"
    )
    (
        t.merge(src, "t.id = s.id", source_alias="s", target_alias="t")
        .when_matched_update_all()
        .when_not_matched_insert_all()
        .execute()
    )
    assert kinds(3) == {"insert": 4, "update_preimage": 3, "update_postimage": 3}
    assert len(fused) == 3
    t.refresh()
    got = {
        r["id"]: (r["v"], r["k"])
        for r in t.to_spark().selectExpr("id", "v", "variant_get(doc, '$.k', 'int') AS k").collect()
    }
    want = {i: (i, i) for i in range(5)}
    want[1] = (10, 1)
    want.update({i: (-i, -i) for i in range(5, 12)})
    assert got == want


def test_change_only_write_keeps_partition_columns_out_of_cdc_files(spark, tmp_path):
    """The fused writer lays out CDC files for a VARIANT table's DELETE
    and for a DV table's change-only DELETE alike: partition values in
    ``k=v`` directories and on the AddCDCFile action, never inside the
    file (load_cdf reads them as directory values). Schemas are read
    with Spark, which reads the VARIANT column by its own name."""
    cdf = {"delta.enableChangeDataFeed": "true"}
    for name, extra, conf in (
        ("variant", ["parse_json(concat('{\"k\":', id, '}')) AS doc"], cdf),
        ("dv", [], {**cdf, "delta.enableDeletionVectors": "true"}),
    ):
        path = str(tmp_path / name)
        write_deltalake(
            path,
            spark.range(0, 30).selectExpr("id", "id % 3 AS p", *extra),
            partition_by=["p"],
            configuration=conf,
        )
        t = DeltaTable(path)
        t.delete("id >= 20")
        files = _cdc_files(path)
        assert files, name
        for f in files:
            assert os.path.basename(os.path.dirname(f)).startswith("p="), f
            assert spark.read.parquet(f).columns == [
                "id", *(["doc"] if extra else []), "_change_type"
            ], f
        got = {
            (r["id"], r["p"], r["_change_type"])
            for r in t.load_cdf(starting_version=1, ending_version=1).collect()
        }
        assert got == {(i, i % 3, "delete") for i in range(20, 30)}, name


def test_fused_dv_update_pre_post_images(spark, tmp_table):
    """DV-mode UPDATE with CDF: one fused job writes the updated-row
    files and the pre/post change files; values and CDF rows match the
    legacy two-write semantics."""
    write_deltalake(
        tmp_table,
        spark.range(0, 50).selectExpr("id", "cast(id as double) AS v"),
        configuration={
            "delta.enableChangeDataFeed": "true",
            "delta.enableDeletionVectors": "true",
        },
    )
    t = DeltaTable(tmp_table)
    m = t.update({"v": "v * 10"}, predicate="id < 5")
    assert m["num_updated_rows"] == 5
    got = {r["id"]: r["v"] for r in t.to_spark().collect()}
    assert got[3] == 30.0 and got[10] == 10.0 and len(got) == 50
    cdf = t.load_cdf(starting_version=1, ending_version=1).collect()
    pre = {r["id"]: r["v"] for r in cdf if r["_change_type"] == "update_preimage"}
    post = {r["id"]: r["v"] for r in cdf if r["_change_type"] == "update_postimage"}
    assert pre == {i: float(i) for i in range(5)}
    assert post == {i: i * 10.0 for i in range(5)}


def test_drop_cached_intermediates_releases_plan_pins(spark):
    from delta_rs_spark.functions.text import source_mix
    from delta_rs_spark.session import drop_cached_intermediates

    drop_cached_intermediates(spark)
    df = spark.createDataFrame(
        [("a", "x y z"), ("b", "x"), ("a", "y y")], "source string, text string"
    )
    source_mix(df).write.format("noop").mode("overwrite").save()
    jsc = spark.sparkContext._jsc
    assert jsc.getPersistentRDDs().size() > 0
    n = drop_cached_intermediates(spark)
    assert n > 0
    assert jsc.getPersistentRDDs().size() == 0


def test_drop_cached_intermediates_clears_the_cache_manager(spark):
    """A drop leaves no CacheManager entry behind, so a later frame
    with a dropped pin's plan, never persisted itself, is not cached."""
    from pyspark import StorageLevel

    from delta_rs_spark.session import drop_cached_intermediates

    def frame():
        return spark.range(0, 50).selectExpr("id", "id * 3 AS v")

    pinned = frame().persist()
    pinned.count()
    drop_cached_intermediates(spark)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert frame().storageLevel == StorageLevel.NONE
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0


def test_rebalanced_writes_bound_output_file_count(spark, tmp_table, tmp_path):
    """r13 size-adaptive output partitioning: a mutation whose source is
    a PERSISTED many-partition frame must not emit one tiny file per
    cache partition (the merge used to replace 1 removed file with 33
    adds). Covers the fused CDF write and the plain merge write. A CDF
    DELETE or UPDATE writes without a rebalance: Spark's scan packs the
    small files it rewrites into splits, so it does not emit one file
    per touched file either."""
    df = spark.range(0, 2000).selectExpr("id AS k", "cast(id % 7 as double) AS v")
    write_deltalake(
        tmp_table, df, configuration={"delta.enableChangeDataFeed": "true"}
    )
    src = (
        spark.range(1000, 3000)
        .selectExpr("id AS k", "cast(-1 as double) AS v")
        .repartition(32)
        .persist()
    )
    src.count()
    try:
        m = (
            DeltaTable(tmp_table)
            .merge(src, "t.k = s.k", source_alias="s", target_alias="t")
            .when_matched_update({"v": "s.v"})
            .when_not_matched_insert({"k": "s.k", "v": "s.v"})
            .execute()
        )
    finally:
        src.unpersist()
    assert m["num_target_rows_updated"] == 1000
    assert m["num_target_files_added"] <= 4  # was 33 pre-rebalance
    assert len(_cdc_files(tmp_table)) <= 4

    # non-CDF branch (write_files path)
    t2 = str(tmp_path / "plain")
    write_deltalake(t2, df)
    src2 = spark.range(0, 500).selectExpr(
        "id AS k", "cast(-2 as double) AS v"
    ).repartition(32).persist()
    src2.count()
    try:
        m2 = (
            DeltaTable(t2)
            .merge(src2, "t.k = s.k", source_alias="s", target_alias="t")
            .when_matched_update({"v": "s.v"})
            .execute()
        )
    finally:
        src2.unpersist()
    assert m2["num_target_files_added"] <= 4
    assert m2["num_target_files_added"] <= 4

    # 40 small files, a matching row in each
    cores = spark.sparkContext.defaultParallelism
    for name, op, rows_key in (
        ("delete", lambda t: t.delete("k % 100 = 0"), "num_deleted_rows"),
        ("update", lambda t: t.update({"v": "-1.0"}, predicate="k % 100 = 0"), "num_updated_rows"),
    ):
        small = str(tmp_path / name)
        write_deltalake(
            small,
            spark.range(0, 4000, numPartitions=40).selectExpr(
                "id AS k", "cast(id % 7 as double) AS v"
            ),
            configuration={"delta.enableChangeDataFeed": "true"},
        )
        m = op(DeltaTable(small))
        assert (m["num_removed_files"], m[rows_key]) == (40, 40), name
        assert m["num_added_files"] <= cores and m["num_added_files"] < 40, name
