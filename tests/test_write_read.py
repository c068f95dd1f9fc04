"""Write/read round-trips (reference test model: python/tests/test_writer.py,
test_table_read.py)."""

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from delta_rs_spark import DeltaTable, write_deltalake
from delta_rs_spark.log.commit import DeltaError
from delta_rs_spark.writer import SchemaMismatchError, TableExistsError


def test_roundtrip(spark, tmp_table, sample_df):
    write_deltalake(tmp_table, sample_df)
    dt_ = DeltaTable(tmp_table)
    assert dt_.version() == 0
    assert dt_.count() == 5
    got = sorted((r.id, r.price) for r in dt_.to_df().collect())
    assert got == [("1", 0), ("2", 1), ("3", 2), ("4", 3), ("5", 4)]
    assert dt_.schema()["price"].dataType == T.LongType()


def test_mode_error_and_ignore(spark, tmp_table, sample_df):
    write_deltalake(tmp_table, sample_df)
    with pytest.raises(TableExistsError):
        write_deltalake(tmp_table, sample_df, mode="error")
    write_deltalake(tmp_table, sample_df, mode="ignore")  # no-op
    assert DeltaTable(tmp_table).version() == 0


def test_append_overwrite(spark, tmp_table, sample_df):
    write_deltalake(tmp_table, sample_df)
    write_deltalake(tmp_table, sample_df, mode="append")
    t = DeltaTable(tmp_table)
    assert t.count() == 10
    write_deltalake(tmp_table, sample_df.limit(2), mode="overwrite")
    t.refresh()
    assert t.count() == 2
    assert t.version() == 2


def test_schema_enforcement(spark, tmp_table, sample_df):
    write_deltalake(tmp_table, sample_df)
    bad = sample_df.withColumn("extra", F.lit(1))
    with pytest.raises(SchemaMismatchError):
        write_deltalake(tmp_table, bad, mode="append")


def test_schema_merge(spark, tmp_table, sample_df):
    write_deltalake(tmp_table, sample_df)
    evolved = sample_df.withColumn("extra", F.lit(7))
    write_deltalake(tmp_table, evolved, mode="append", schema_mode="merge")
    t = DeltaTable(tmp_table)
    assert "extra" in [f.name for f in t.schema().fields]
    rows = t.to_df().collect()
    assert len(rows) == 10
    extras = {r.extra for r in rows}
    assert extras == {None, 7}


def test_partitioned_write_and_pruning(spark, tmp_table, lineitem):
    write_deltalake(tmp_table, lineitem, partition_by=["l_returnflag"])
    t = DeltaTable(tmp_table)
    all_files = t.files()
    pruned = t.files([("l_returnflag", "=", "A")])
    assert 0 < len(pruned) < len(all_files)
    n_a = t.to_df(predicate="l_returnflag = 'A'").count()
    assert n_a == lineitem.filter("l_returnflag = 'A'").count()
    # partition values round-trip
    parts = t.partitions()
    assert {p["l_returnflag"] for p in parts} == {"A", "N", "R"}


def test_null_partition_values_write_prune_mutate(spark, tmp_table):
    """r10 (NULL sweep): NULL partition values write the
    __HIVE_DEFAULT_PARTITION__ directory and must be first-class
    through the whole plane — partition-FILE pruning for IS NULL /
    IS NOT NULL / equality predicates (equality must also prune the
    NULL partition: k = 'a' can never match NULL), partitions()
    reporting None, DNF filters, and targeted mutations that touch
    only the NULL partition's files."""
    from delta_rs_spark.plans.skipping import prune_files

    df = spark.createDataFrame(
        [(1, "a", 10), (2, None, 20), (3, "b", 30), (4, None, 40)],
        "id long, k string, v long",
    )
    write_deltalake(tmp_table, df, partition_by=["k"])
    t = DeltaTable(tmp_table)
    adds = list(t._snapshot.files.values())
    assert len(adds) == 3  # a, b, NULL dirs
    assert {p["k"] for p in t.partitions()} == {"a", "b", None}

    null_files = prune_files(adds, "k IS NULL", ["k"])
    assert len(null_files) == 1
    assert "__HIVE_DEFAULT_PARTITION__" in null_files[0].path
    notnull = prune_files(adds, "k IS NOT NULL", ["k"])
    assert len(notnull) == 2
    eq = prune_files(adds, "k = 'a'", ["k"])
    assert len(eq) == 1 and "k=a" in eq[0].path

    assert sorted(r.id for r in t.to_df(predicate="k IS NULL").collect()) == [2, 4]
    # DNF partition filters resolve NULL via the 'in'/'=' forms used by
    # files(); None never equals a value
    assert t.files([("k", "=", "a")]) == [eq[0].path]

    # mutations scoped to the NULL partition rewrite only its file
    t.delete("k IS NULL AND v = 20")
    t.update({"v": "v + 1"}, predicate="k IS NULL")
    got = sorted([(r.id, r.k, r.v) for r in t.to_df().collect()], key=str)
    assert got == sorted(
        [(1, "a", 10), (3, "b", 30), (4, None, 41)], key=str
    )
    for a in DeltaTable(tmp_table)._snapshot.files.values():
        assert a.partition_values["k"] in ("a", "b", None)


def test_stats_skipping(spark, tmp_table, lineitem):
    # several files so min/max skipping can drop some
    write_deltalake(tmp_table, lineitem.repartitionByRange(4, "l_orderkey"))
    t = DeltaTable(tmp_table)
    from delta_rs_spark.plans.skipping import prune_files

    adds = list(t._snapshot.files.values())
    assert len(adds) >= 3
    lo = prune_files(adds, "l_orderkey < 10", [])
    assert len(lo) < len(adds)
    n = t.to_df(predicate="l_orderkey < 10").count()
    assert n == lineitem.filter("l_orderkey < 10").count()


def test_time_travel(spark, tmp_table, sample_df):
    write_deltalake(tmp_table, sample_df)
    write_deltalake(tmp_table, sample_df, mode="append")
    t = DeltaTable(tmp_table)
    assert t.count() == 10
    t.load_as_version(0)
    assert t.count() == 5
    assert t.version() == 0


def test_timestamp_time_travel(spark, tmp_table, sample_df):
    write_deltalake(tmp_table, sample_df)
    t0 = DeltaTable(tmp_table)
    ts0 = t0.history()[-1]["timestamp"]
    write_deltalake(tmp_table, sample_df, mode="append")
    t = DeltaTable(tmp_table)
    t.load_as_version(dt.datetime.fromtimestamp(ts0 / 1000, dt.timezone.utc))
    assert t.version() == 0


def _parquet_files(root):
    return {
        os.path.join(d, n)
        for d, _dirs, names in os.walk(root)
        for n in names
        if n.endswith(".parquet")
    }


def test_replace_where_validation(spark, tmp_table, lineitem):
    """Input rows outside the predicate fail the write before any file
    leaves staging: same version, no new parquet file, no staging dir."""
    write_deltalake(tmp_table, lineitem, partition_by=["l_returnflag"])
    files = _parquet_files(tmp_table)
    bad = lineitem.limit(50)  # mixed flags violate the predicate
    with pytest.raises(DeltaError, match="replaceWhere: input rows violate predicate"):
        write_deltalake(tmp_table, bad, mode="overwrite", predicate="l_returnflag = 'A'")
    assert DeltaTable(tmp_table).version() == 0
    assert _parquet_files(tmp_table) == files
    assert not [d for d in os.listdir(tmp_table) if d.startswith("_staging")]


def test_append_rule_violation_after_size_sample(spark, tmp_table):
    """With delta.targetFileSize set the append samples its first 1,024
    rows to size files; a violation past the sample must still fail the
    write, since the rule check rides the write job, not the sample."""
    write_deltalake(
        tmp_table,
        spark.range(10).selectExpr("id", "id AS v"),
        configuration={"delta.targetFileSize": str(1 << 20)},
    )
    t = DeltaTable(tmp_table)
    t.alter.add_constraint({"v_nonneg": "v >= 0"})
    t.refresh()
    v = t.version()
    late = spark.range(5000).selectExpr(
        "id", "IF(id = 4000, -1, id) AS v"
    ).coalesce(1)
    with pytest.raises(DeltaError, match="v_nonneg"):
        write_deltalake(tmp_table, late, mode="append")
    t.refresh()
    assert t.version() == v


def test_empty_append_to_constrained_partitioned_table(spark, tmp_table):
    """An empty append shuffles nothing into the partitioned write, so
    AQE drops the stage holding the rule check: the append still
    commits (an empty one)."""
    write_deltalake(
        tmp_table,
        spark.range(10).selectExpr("id", "id % 2 AS p", "id AS v"),
        partition_by=["p"],
    )
    t = DeltaTable(tmp_table)
    t.alter.add_constraint({"v_nonneg": "v >= 0"})
    t.refresh()
    v = t.version()
    empty = spark.range(10).selectExpr("id", "id % 2 AS p", "id AS v").filter("id > 100")
    write_deltalake(tmp_table, empty, mode="append")
    t.refresh()
    assert t.version() == v + 1
    assert t.to_df().count() == 10


def test_metadata_count_no_scan(spark, tmp_table, sample_df):
    write_deltalake(tmp_table, sample_df)
    t = DeltaTable(tmp_table)
    assert t._snapshot.num_records() == 5  # pure metadata


def test_txn_idempotent_writes(spark, tmp_table, sample_df):
    write_deltalake(tmp_table, sample_df, txn_app_id="app1", txn_version=1)
    write_deltalake(
        tmp_table, sample_df, mode="append", txn_app_id="app1", txn_version=1
    )  # replay: skipped
    t = DeltaTable(tmp_table)
    assert t.count() == 5
    assert t.transaction_version("app1") == 1
    write_deltalake(
        tmp_table, sample_df, mode="append", txn_app_id="app1", txn_version=2
    )
    t.refresh()
    assert t.count() == 10


def test_get_add_actions_and_history(spark, tmp_table, sample_df):
    write_deltalake(tmp_table, sample_df)
    write_deltalake(tmp_table, sample_df, mode="append")
    t = DeltaTable(tmp_table)
    aa = t.get_add_actions(flatten=True)
    assert aa.num_rows == len(t.files())
    assert "num_records" in aa.column_names
    hist = t.history()
    assert [h["operation"] for h in hist] == ["WRITE", "WRITE"]
    assert hist[0]["version"] == 1


def test_create_table_then_append(spark, tmp_table, sample_df):
    DeltaTable.create(tmp_table, sample_df.schema, partition_by=["id"])
    t = DeltaTable(tmp_table)
    assert t.count() == 0
    assert t.partition_columns() == ["id"]
    write_deltalake(tmp_table, sample_df, mode="append")
    t.refresh()
    assert t.count() == 5


def test_partition_value_encoding_roundtrip(spark, tmp_path):
    """Partition values with URL-hostile characters (reference
    test_partition_encoding_rfc3896): every printable-and-beyond char
    must round-trip through the directory encoding, and partition
    pruning must still hit the encoded directories."""
    vals = ["plain", "a b", "a/b", "a=b", "a%b", "a#b?c", "ümlaut", "日本", "a\tb"]
    # plus the reference's full printable-and-beyond range: chr(32..254)
    vals += ["a" + chr(i) for i in range(32, 255)]
    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id long, strings string")
    table = str(tmp_path / "enc")
    write_deltalake(table, df.coalesce(8), partition_by=["strings"])
    t = DeltaTable(table)
    got = {r.strings for r in t.to_df().collect()}
    assert got == set(vals)
    # pruned read of one hostile value
    one = t.to_df(predicate="strings = 'a=b'").collect()
    assert len(one) == 1 and one[0].id == vals.index("a=b")
    # partition values in table metadata decode back to the raw strings
    parts = {p["strings"] for p in t.partitions()}
    assert parts == set(vals)


def test_data_skipping_stats_config(spark, tmp_path):
    """delta.dataSkippingNumIndexedCols and delta.dataSkippingStatsColumns
    control which columns get min/max stats (reference table/config.rs)."""
    import json as _json

    df = spark.createDataFrame([(1, 2, 3, "x")], "a long, b long, c long, d string")

    t1 = str(tmp_path / "ncols")
    write_deltalake(t1, df, configuration={"delta.dataSkippingNumIndexedCols": "2"})
    write_deltalake(t1, df, mode="append")  # config-aware write path
    for add in DeltaTable(t1)._snapshot.files.values():  # first write too
        st = _json.loads(add.stats) if isinstance(add.stats, str) else add.stats_dict()
        assert set(st["minValues"]) == {"a", "b"}

    t2 = str(tmp_path / "statscols")
    write_deltalake(
        t2, df, configuration={"delta.dataSkippingStatsColumns": "c, d"}
    )
    write_deltalake(t2, df, mode="append")
    add = list(DeltaTable(t2)._snapshot.files.values())[-1]
    st = _json.loads(add.stats) if isinstance(add.stats, str) else add.stats_dict()
    assert set(st["minValues"]) == {"c", "d"}


def test_timestamp_time_travel_clamps(spark, tmp_table, sample_df):
    """Reference time_travel_by_ds: a timestamp before the first commit
    clamps to the earliest version; one after the last gives latest."""
    write_deltalake(tmp_table, sample_df)
    write_deltalake(tmp_table, sample_df, mode="append")
    t = DeltaTable(tmp_table)
    t.load_as_version(dt.datetime(2000, 1, 1, tzinfo=dt.timezone.utc))
    assert t.version() == 0
    t.load_as_version(dt.datetime(2100, 1, 1, tzinfo=dt.timezone.utc))
    assert t.version() == 1


def test_overwrite_merges_app_config_atomically_guards_delta_keys(
    spark, tmp_path
):
    """r11: an explicit overwrite may MERGE app-level table properties
    atomically with the data swap (sync_ivf_index's recluster commits
    retrained centroids + their matching assignments as ONE version —
    a reader between two commits would probe new lists against old
    centroids). Reserved delta.* keys stay frozen on this path: their
    changes can demand protocol upgrades, which set_tbl_properties /
    add_feature own. Same-value configuration stays a no-op."""
    import pytest

    from delta_rs_spark.log.commit import DeltaError

    p = str(tmp_path / "t")
    df = spark.range(5).toDF("id")
    write_deltalake(p, df, configuration={"app.k": "1"})
    v0_meta = DeltaTable(p).metadata()
    assert v0_meta.configuration["app.k"] == "1"

    # same values -> no metadata action, version advances by the write only
    write_deltalake(p, df, mode="overwrite", configuration={"app.k": "1"})
    t = DeltaTable(p)
    assert t.version() == 1
    assert t.metadata().configuration["app.k"] == "1"

    # changed app key lands WITH the overwrite, in one commit
    write_deltalake(
        p, df, mode="overwrite", configuration={"app.k": "2", "app.j": "x"}
    )
    t = DeltaTable(p)
    assert t.version() == 2
    cfg = t.metadata().configuration
    assert cfg["app.k"] == "2" and cfg["app.j"] == "x"
    # time travel still sees the old config at the old version
    assert (
        DeltaTable(p, version=1).metadata().configuration["app.k"] == "1"
    )

    # reserved keys are rejected on this path
    with pytest.raises(DeltaError, match="set_tbl_properties"):
        write_deltalake(
            p,
            df,
            mode="overwrite",
            configuration={"delta.enableChangeDataFeed": "true"},
        )
    # append never rewrites config (create-time semantics preserved)
    write_deltalake(p, df, mode="append", configuration={"app.k": "9"})
    assert DeltaTable(p).metadata().configuration["app.k"] == "2"


def test_decimal_write_and_stats(spark, tmp_path):
    """DECIMAL columns write with real min/max stats. Spark lays out
    precision<=18 decimals as INT64-backed parquet decimals, whose
    pyarrow Statistics.min/max raise ArrowNotImplementedError — the
    collector must decode the raw unscaled ints itself (the reference
    stores decimal stats as f64, writer/stats.rs StatsScalar::Decimal).
    Skipping on the decimal column must work off those stats."""
    import decimal
    import json as _json

    df = spark.createDataFrame(
        [(1, decimal.Decimal("1.25")), (2, decimal.Decimal("987654321.50"))],
        "id long, price decimal(12,2)",
    ).withColumn("big", F.col("price").cast("decimal(38,6)"))
    p = str(tmp_path / "dec")
    write_deltalake(p, df.repartition(2, "id"))
    t = DeltaTable(p)
    got = sorted((r.id, str(r.price)) for r in t.to_df().collect())
    assert got == [(1, "1.25"), (2, "987654321.50")]
    sts = [
        _json.loads(a.stats) for a in t._snapshot.files.values() if a.stats
    ]
    assert sts and all("price" in s["minValues"] and "big" in s["minValues"]
                       for s in sts)
    lo = min(s["minValues"]["price"] for s in sts)
    hi = max(s["maxValues"]["price"] for s in sts)
    assert lo == 1.25 and hi == 987654321.5
    # stats-based skipping prunes the non-matching file
    from delta_rs_spark.plans.skipping import prune_files

    kept = prune_files(
        list(t._snapshot.files.values()), "price > 1000", [],
        {"price": "decimal(12,2)", "big": "decimal(38,6)", "id": "long"},
    )
    assert len(kept) < len(t._snapshot.files)


def test_decimal_arrow_ingest(spark, tmp_path):
    """pyarrow decimal128 input keeps its declared precision/scale."""
    import decimal

    import pyarrow as pa
    import pyspark.sql.types as T

    p = str(tmp_path / "dec_arrow")
    write_deltalake(
        p,
        pa.table({"c": pa.array([decimal.Decimal("1.25")], pa.decimal128(10, 2))}),
        spark=spark,
    )
    t = DeltaTable(p, spark=spark)
    assert t.schema()["c"].dataType == T.DecimalType(10, 2)
    assert str(t.to_df().collect()[0].c) == "1.25"


def test_update_incremental_applies_tail_only(spark, tmp_table, sample_df, monkeypatch):
    """update_incremental applies ONLY the new tail commits to the
    in-memory snapshot (reference table.py update_incremental) — proven
    by poisoning the full-reload path after the handle is built: a
    refresh() would raise, the incremental path must not."""
    from delta_rs_spark.log import snapshot as snap_mod
    from delta_rs_spark import table as table_mod

    write_deltalake(tmp_table, sample_df)
    t = DeltaTable(tmp_table)
    assert t.version() == 0
    write_deltalake(tmp_table, sample_df, mode="append")
    write_deltalake(tmp_table, sample_df, mode="append")

    def _boom(*a, **k):
        raise AssertionError("full reload used where incremental expected")

    monkeypatch.setattr(table_mod, "load_snapshot", _boom)
    monkeypatch.setattr(snap_mod, "load_snapshot", _boom)
    t.update_incremental()
    assert t.version() == 2
    assert t.count() == 15
    # no-op when already at latest
    t.update_incremental()
    assert t.version() == 2


def test_update_incremental_across_compacted_range(spark, tmp_table, sample_df, monkeypatch):
    """update_incremental replays a compacted range whole, as a cold
    load does: with commit 2 gone, only the 1..3 compacted file can
    carry the handle from v0 to v3, and it must land on the cold load's
    files without a full reload."""
    from delta_rs_spark import table as table_mod
    from delta_rs_spark.log import snapshot as snap_mod

    write_deltalake(tmp_table, sample_df)
    t = DeltaTable(tmp_table)
    write_deltalake(tmp_table, sample_df, mode="append")
    DeltaTable(tmp_table).delete("id = '1'")
    write_deltalake(tmp_table, sample_df, mode="append")
    t.compact_logs(1, 3)
    os.remove(snap_mod.commit_file(tmp_table, 2))

    def _boom(*a, **k):
        raise AssertionError("full reload used where incremental expected")

    monkeypatch.setattr(table_mod, "load_snapshot", _boom)
    monkeypatch.setattr(snap_mod, "load_snapshot", _boom)
    t.update_incremental()
    monkeypatch.undo()
    snap_mod.clear_snapshot_cache()
    cold = snap_mod.load_snapshot(tmp_table)
    assert t.version() == cold.version == 3
    assert set(t._snapshot.files) == set(cold.files)
    assert t.count() == 13


def test_update_incremental_protocol_gate(spark, tmp_table, sample_df):
    """A tail commit that upgrades the table to an unsupported READER
    feature must refuse on update_incremental, like open/refresh do."""
    import json as _json
    import os as _os

    from delta_rs_spark.log.commit import DeltaError

    write_deltalake(tmp_table, sample_df)
    t = DeltaTable(tmp_table)
    log = _os.path.join(tmp_table, "_delta_log")
    with open(_os.path.join(log, f"{1:020d}.json"), "w") as f:
        f.write(_json.dumps({"commitInfo": {"timestamp": 1, "operation": "UPGRADE"}}) + "\n")
        f.write(_json.dumps({"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["someFutureFeature"],
            "writerFeatures": ["someFutureFeature"]}}) + "\n")
    with pytest.raises(DeltaError):
        t.update_incremental()


def test_load_as_version_datetime_string_formats(spark, tmp_table, sample_df):
    """String time travel requires an RFC3339 offset (reference
    test_load_as_version_datetime_bad_format pins the rejection of
    naive strings); tz-aware strings and datetimes travel correctly."""
    write_deltalake(tmp_table, sample_df)
    t0 = DeltaTable(tmp_table)
    ts0 = t0.history()[-1]["timestamp"]
    write_deltalake(tmp_table, sample_df, mode="append")

    t = DeltaTable(tmp_table)
    iso = dt.datetime.fromtimestamp(ts0 / 1000, dt.timezone.utc).isoformat()
    t.load_as_version(iso)
    assert t.version() == 0

    for bad in ["2020-05-01T00:47:31", "2020-05-01 00:47:31", "not-a-date"]:
        with pytest.raises(DeltaError, match="Failed to parse datetime string"):
            DeltaTable(tmp_table).load_as_version(bad)


def test_get_add_actions_reference_pins(spark):
    """get_add_actions over the reference's own delta-0.8.0-partitioned
    fixture reproduces the pinned values (test_table_read.py
    test_add_actions_table): 6 files, exact sizes, the 1615555646000
    modification time, and partition values via 'partition.<col>'
    (flatten) / the 'partition' struct (non-flatten)."""
    import pyarrow as pa

    path = "/root/reference/crates/test/tests/data/delta-0.8.0-partitioned"
    if not __import__("os").path.isdir(path):
        pytest.skip("reference corpus not present")
    t = DeltaTable(path)
    flat = pa.table(t.get_add_actions(flatten=True)).sort_by("path")
    assert flat.num_rows == 6
    assert flat["size_bytes"].to_pylist() == [414, 414, 414, 407, 414, 414]
    assert flat["modification_time"].to_pylist() == [1615555646000] * 6
    assert flat["partition.year"].to_pylist() == ["2020"] * 3 + ["2021"] * 3
    assert flat["partition.month"].to_pylist() == ["1", "2", "2", "12", "12", "4"]
    assert flat["partition.day"].to_pylist() == ["1", "3", "5", "20", "4", "5"]
    nested = pa.table(t.get_add_actions(flatten=False)).sort_by("path")
    years = nested["partition"].combine_chunks().field("year").to_pylist()
    assert years == ["2020"] * 3 + ["2021"] * 3


def test_stats_budget_counts_top_level_fields(spark, tmp_path):
    """The dataSkippingNumIndexedCols budget is consumed by distinct
    TOP-LEVEL fields, not parquet leaves (reference writer/stats.rs
    #3172 regression + python test_stats.py test_struct_stats_3172):
    a single nested column with 31 leaves takes ONE slot, so year/
    month/day after it still get min/max stats under the default-32
    budget."""
    import json as _json

    inner = T.StructType(
        [
            T.StructField(str(i), T.StringType() if i > 5 else T.LongType())
            for i in range(2, 33)
        ]
    )
    sch = T.StructType(
        [
            T.StructField("1", T.StringType()),
            T.StructField("nested", T.ArrayType(inner)),
            T.StructField("year", T.LongType()),
            T.StructField("month", T.LongType()),
            T.StructField("day", T.LongType()),
        ]
    )
    df = spark.createDataFrame([("foo", [], 2024, 12, 1)], sch)
    table = str(tmp_path / "t3172")
    write_deltalake(table, df)
    dt_ = DeltaTable(table)
    add = next(iter(dt_._snapshot.files.values()))
    st = _json.loads(add.stats) if isinstance(add.stats, str) else add.stats_dict()
    assert {"1", "year", "month", "day"} <= set(st["minValues"])
    # the add-actions view surfaces the same keys (the reference test's
    # public-API assertion)
    aa = dt_.get_add_actions()
    assert "year" in aa["min"][0].as_py()
    # a tight budget still admits top-level fields one slot each:
    # budget 3 = "1" + nested + year (nested's 31 leaves don't starve it)
    t2 = str(tmp_path / "t3172b")
    write_deltalake(
        t2, df, configuration={"delta.dataSkippingNumIndexedCols": "3"}
    )
    add2 = next(iter(DeltaTable(t2)._snapshot.files.values()))
    st2 = _json.loads(add2.stats) if isinstance(add2.stats, str) else add2.stats_dict()
    assert set(st2["minValues"]) == {"1", "year"}  # nested has no scalar stats


def test_stats_columns_scan_filters_on_unindexed_columns(spark, tmp_path):
    """Filters on columns EXCLUDED from stats must keep every file
    conservatively — never prune on absent stats (reference
    test_stats.py test_stats_usage_3201, incl. the mid-history
    checkpoint)."""
    import datetime as dtm

    table = str(tmp_path / "t3201")
    cfg = {"delta.dataSkippingStatsColumns": "ref_date"}
    df1 = spark.createDataFrame(
        [
            (dtm.datetime(2020, 1, 2), dtm.datetime(2020, 1, 2), 1),
            (dtm.datetime(2020, 1, 3), dtm.datetime(2020, 1, 3), 2),
        ],
        "date timestamp, ref_date timestamp, values long",
    )
    write_deltalake(table, df1, configuration=cfg)
    dt_ = DeltaTable(table)
    dt_.create_checkpoint()
    df2 = spark.createDataFrame(
        [
            (dtm.datetime(2020, 1, 1), dtm.datetime(2020, 1, 1), 3),
            (dtm.datetime(2020, 1, 2), dtm.datetime(2020, 1, 2), 4),
        ],
        "date timestamp, ref_date timestamp, values long",
    )
    write_deltalake(table, df2, mode="append", configuration=cfg)
    dt_ = DeltaTable(table)
    for pred in (
        "date >= timestamp'2020-01-01'",      # NOT in stats columns
        "ref_date >= timestamp'2020-01-01'",  # in stats columns
        "values >= 0",                        # NOT in stats columns
    ):
        assert dt_.to_df(predicate=pred).count() == 4, pred


def test_millisecond_truncated_timestamp_stats_read(spark, tmp_path):
    """Reading with a timestamp predicate over files whose stats a
    foreign writer truncated to milliseconds must not lose rows: a max
    truncated DOWN would wrongly prune a >-bound file, so the stats
    evaluator has to stay conservative at ms granularity (reference
    test_stats.py test_microsecond_truncation_parquet_stats)."""
    import datetime as dtm
    import json as _json

    table = str(tmp_path / "tms")
    b1 = spark.createDataFrame(
        [(1, dtm.datetime(2023, 3, 29, 23, 59, 59, 807126))],
        "p long, dt timestamp",
    )
    write_deltalake(table, b1, partition_by=["p"])
    b2 = spark.createDataFrame(
        [(1, dtm.datetime(2023, 3, 30, 0, 0, 0, 902))], "p long, dt timestamp"
    )
    write_deltalake(table, b2, mode="append", partition_by=["p"])
    dt_ = DeltaTable(table)
    want = ["2023-03-29 23:59:59.807126"]
    got = [
        str(r.dt)
        for r in dt_.to_df(
            predicate="dt <= timestamp'2023-03-30 00:00:00'"
        ).collect()
    ]
    assert got == want
    # simulate the foreign ms-truncated stats the reference test guards
    # against: a compliant writer truncates min DOWN and rounds max UP
    # to milliseconds (reference stats.rs: "for max values we need to
    # round upwards") — re-read must keep every file whose true rows
    # match even though the stats lost microsecond precision
    from delta_rs_spark.log import snapshot as snap_mod

    def _ms_floor(v: str) -> str:
        if "." not in v:
            return v
        base, frac = v.split(".")
        return f"{base}.{frac[:3].ljust(3, '0')}"

    def _ms_ceil(v: str) -> str:
        if "." not in v or v.split(".")[1].ljust(6, "0")[3:] == "000":
            return _ms_floor(v)
        t = dtm.datetime.fromisoformat(v.replace("Z", "+00:00").replace("T", " "))
        t = t.replace(microsecond=(t.microsecond // 1000) * 1000)
        t += dtm.timedelta(milliseconds=1)
        return t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{t.microsecond // 1000:03d}"

    snap = snap_mod.load_snapshot(table)
    for add in snap.files.values():
        st = _json.loads(add.stats)
        st["minValues"]["dt"] = _ms_floor(st["minValues"]["dt"])
        st["maxValues"]["dt"] = _ms_ceil(st["maxValues"]["dt"])
        add.stats = _json.dumps(st)
    from delta_rs_spark.table import read_snapshot_df
    from delta_rs_spark.plans.skipping import prune_files

    kept = prune_files(
        list(snap.files.values()),
        "dt >= timestamp'2023-03-29 23:59:59.807126'",
        snap.partition_columns,
        {"dt": "timestamp", "p": "long"},
    )
    got2 = [
        str(r.dt)
        for r in read_snapshot_df(
            spark, snap, table, files=kept
        ).collect()
        if str(r.dt) >= "2023-03-29 23:59:59.807126"
    ]
    assert sorted(got2) == [
        "2023-03-29 23:59:59.807126",
        "2023-03-30 00:00:00.000902",
    ]
