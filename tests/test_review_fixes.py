"""Regression tests for review-found defects."""

import pytest
from pyspark.sql import functions as F

from delta_rs_spark import DeltaTable, write_deltalake
from delta_rs_spark.log.commit import DeltaError


def test_nmbs_only_merge_no_duplication(spark, tmp_table, sample_df):
    """A target row matched by MULTIPLE source rows must not be duplicated
    when only not-matched-by-source clauses exist (no matched clauses)."""
    write_deltalake(tmp_table, sample_df)
    t = DeltaTable(tmp_table)
    dup_src = spark.createDataFrame([("1",), ("1",), ("1",)], "id string")
    (
        t.merge(dup_src, "target.id = source.id")
        .when_not_matched_by_source_delete(predicate="target.price >= 4")
        .execute()
    )
    rows = [r.id for r in t.to_df().collect()]
    assert sorted(rows) == ["1", "2", "3", "4"]  # id 5 deleted; id 1 NOT tripled


def test_merge_or_predicate_not_overpruned(spark, tmp_table):
    """Early filter must not fire on OR-join predicates (would drop files
    whose rows match only via the second disjunct)."""
    tgt = spark.createDataFrame(
        [(1, 100, "x"), (2, 200, "y")], "a long, b long, tag string"
    )
    write_deltalake(tmp_table, tgt)
    t = DeltaTable(tmp_table)
    # source matches row 2 only via b; source a-range is far from target a
    src = spark.createDataFrame([(999, 200)], "a long, b long")
    m = (
        t.merge(src, "target.a = source.a OR target.b = source.b")
        .when_matched_update({"tag": "'hit'"})
        .when_not_matched_insert({"a": "source.a", "b": "source.b", "tag": "'new'"})
        .execute()
    )
    rows = {r.a: r.tag for r in t.to_df().collect()}
    assert rows[2] == "hit"      # matched via the OR branch
    assert 999 not in rows       # no spurious insert
    assert m["num_target_rows_inserted"] == 0


def test_int_partition_string_literal_delete(spark, tmp_table):
    """DELETE 'part = <string literal>' on an int partition column must not
    take a wrong metadata-only fast path (Spark casts '05' -> 5)."""
    df = spark.createDataFrame([(5, "a"), (5, "b"), (7, "c")], "part int, v string")
    write_deltalake(tmp_table, df, partition_by=["part"])
    t = DeltaTable(tmp_table)
    m = t.delete("part = '05'")
    assert m["num_deleted_rows"] == 2  # rows with part=5, via Spark semantics
    assert sorted(r.v for r in t.to_df().collect()) == ["c"]


def test_int_partition_typed_pruning_exact(spark, tmp_table):
    df = spark.createDataFrame([(5, "a"), (7, "c")], "part int, v string")
    write_deltalake(tmp_table, df, partition_by=["part"])
    t = DeltaTable(tmp_table)
    m = t.delete("part = 5")
    # typed int literal: metadata-only removal fires
    assert m["num_added_files"] == 0 and m["num_deleted_rows"] == 1


def test_create_invalid_mode_rejected(spark, tmp_table, sample_df):
    write_deltalake(tmp_table, sample_df)
    with pytest.raises(ValueError):
        DeltaTable.create(tmp_table, sample_df.schema, mode="append")
    assert DeltaTable(tmp_table).count() == 5  # data untouched


def test_between_pruning_works(spark):
    from delta_rs_spark.log.actions import Add
    from delta_rs_spark.plans.skipping import prune_files, split_conjuncts

    assert split_conjuncts("x BETWEEN 1 AND 5 AND y = 2") == [
        "x BETWEEN 1 AND 5",
        "y = 2",
    ]
    import json

    def add_for(lo, hi):
        return Add(
            path=f"{lo}-{hi}.parquet",
            size=1,
            modification_time=0,
            stats=json.dumps(
                {"numRecords": 2, "minValues": {"x": lo}, "maxValues": {"x": hi}, "nullCount": {"x": 0}}
            ),
        )

    adds = [add_for(0, 3), add_for(10, 20)]
    kept = prune_files(adds, "x BETWEEN 1 AND 5", [])
    assert [a.path for a in kept] == ["0-3.parquet"]


def test_is_null_pruning(spark):
    import json

    from delta_rs_spark.log.actions import Add
    from delta_rs_spark.plans.skipping import prune_files

    no_nulls = Add(
        path="a.parquet", size=1, modification_time=0,
        stats=json.dumps({"numRecords": 5, "minValues": {}, "maxValues": {}, "nullCount": {"x": 0}}),
    )
    some_nulls = Add(
        path="b.parquet", size=1, modification_time=0,
        stats=json.dumps({"numRecords": 5, "minValues": {}, "maxValues": {}, "nullCount": {"x": 3}}),
    )
    kept = prune_files([no_nulls, some_nulls], "x IS NULL", [])
    assert [a.path for a in kept] == ["b.parquet"]


def test_vacuum_reclaims_old_cdc_files(spark, tmp_table, sample_df):
    import os

    write_deltalake(
        tmp_table, sample_df, configuration={"delta.enableChangeDataFeed": "true"}
    )
    t = DeltaTable(tmp_table)
    t.delete("price >= 3")  # writes a _change_data file
    cdc_dir = os.path.join(tmp_table, "_change_data")
    assert os.listdir(cdc_dir)
    deleted = t.vacuum(retention_hours=0, dry_run=False, enforce_retention_duration=False)
    assert any(p.startswith("_change_data/") for p in deleted)
    assert not os.listdir(cdc_dir)


def test_alter_sees_latest_metadata(spark, tmp_table, sample_df):
    write_deltalake(tmp_table, sample_df)
    stale = DeltaTable(tmp_table)  # snapshot at v0
    fresh = DeltaTable(tmp_table)
    fresh.alter.set_table_properties({"delta.appendOnly": "false"})
    stale.alter.set_table_properties({"other.key": "1"})  # must keep appendOnly
    cfg = DeltaTable(tmp_table).metadata().configuration
    assert cfg.get("delta.appendOnly") == "false" and cfg.get("other.key") == "1"


# ---- round-2 ADVICE regressions -------------------------------------------


def test_or_precedence_no_overprune(spark):
    """'a = 1 AND b = 2 OR c = 3' means '(a=1 AND b=2) OR c=3': a file
    whose rows match only the c=3 branch must be KEPT (ADVICE r01 high)."""
    import json

    from delta_rs_spark.log.actions import Add
    from delta_rs_spark.plans.skipping import parse_conjuncts, prune_files

    only_c = Add(
        path="c.parquet", size=1, modification_time=0,
        stats=json.dumps(
            {
                "numRecords": 5,
                "minValues": {"a": 50, "b": 50, "c": 3},
                "maxValues": {"a": 60, "b": 60, "c": 3},
                "nullCount": {"a": 0, "b": 0, "c": 0},
            }
        ),
    )
    pred = "a = 1 AND b = 2 OR c = 3"
    assert parse_conjuncts(pred) == []  # refuses extraction entirely
    assert [x.path for x in prune_files([only_c], pred, [])] == ["c.parquet"]
    # NOT at top level also refuses; IS NOT NULL does not trip the guard
    assert parse_conjuncts("NOT a = 1 AND b = 2") == []
    assert len(parse_conjuncts("a IS NOT NULL AND b = 2")) == 2


def test_writer_populates_txn_app_ids(spark, tmp_table, sample_df, monkeypatch):
    """write_deltalake must put txn_app_id into TransactionInfo.app_ids so
    ConcurrentTransactionError is reachable (ADVICE r01 medium)."""
    from delta_rs_spark.log import commit as commit_mod

    captured = {}
    real_commit = commit_mod.commit

    def spy(table_path, actions, op, read_version, txn_info=None, **kw):
        captured["txn_info"] = txn_info
        return real_commit(table_path, actions, op, read_version, txn_info, **kw)

    monkeypatch.setattr("delta_rs_spark.writer.commit_mod.commit", spy)
    write_deltalake(tmp_table, sample_df, txn_app_id="appX", txn_version=1)
    assert captured["txn_info"].app_ids == {"appX"}


def test_checkpoint_protocol_shaped(spark, tmp_table, sample_df):
    """Checkpoint parquet must carry typed metaData/protocol structs and a
    full remove struct (ADVICE r01 medium) and still round-trip."""
    import pyarrow.parquet as pq

    from delta_rs_spark.log import snapshot as snap_mod

    write_deltalake(tmp_table, sample_df, partition_by=["id"])
    t = DeltaTable(tmp_table)
    t.delete("price >= 4")
    snap = snap_mod.load_snapshot(tmp_table)
    snap_mod.write_checkpoint(tmp_table, snap)
    cp = pq.read_table(snap_mod.checkpoint_file(tmp_table, snap.version))
    names = {f.name for f in cp.schema}
    assert {"add", "remove", "metaData", "protocol", "txn"} <= names
    meta_fields = {f.name for f in cp.schema.field("metaData").type}
    assert {"id", "schemaString", "partitionColumns", "configuration", "createdTime"} <= meta_fields
    proto_fields = {f.name for f in cp.schema.field("protocol").type}
    assert {"minReaderVersion", "minWriterVersion"} <= proto_fields
    rm_fields = {f.name for f in cp.schema.field("remove").type}
    assert {"partitionValues", "size", "extendedFileMetadata"} <= rm_fields
    rows = [r["metaData"] for r in cp.to_pylist() if r.get("metaData") and r["metaData"].get("schemaString")]
    assert rows and rows[0]["partitionColumns"] == ["id"]
    # replay from the checkpoint alone reproduces the table state
    actions = snap_mod.read_checkpoint(tmp_table, snap.version)
    replayed = snap_mod.Snapshot(table_path=tmp_table)
    for a in actions:
        replayed.apply(a)
    assert set(replayed.files) == set(snap.files)
    assert replayed.partition_columns == ["id"]


def test_append_stream_ignores_uncommitted_files(spark, tmp_path, sample_df):
    """Files sitting in the table dir WITHOUT a committed Add action must
    not be streamed (ADVICE r01 medium: phantom rows)."""
    import shutil
    import os

    from delta_rs_spark.streaming.delta_stream import read_append_stream

    table = str(tmp_path / "phantoms")
    write_deltalake(table, sample_df)
    # plant an orphan parquet (simulates an in-flight/failed write)
    committed = [f for f in os.listdir(table) if f.endswith(".parquet")]
    shutil.copy(os.path.join(table, committed[0]), os.path.join(table, "part-orphan.snappy.parquet"))
    stream = read_append_stream(spark, table)
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("phantom_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_ph"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    assert spark.sql("SELECT count(*) FROM phantom_out").collect()[0][0] == 5


def test_merge_equi_pairs_robust(spark, tmp_table, sample_df):
    """Function-wrapped / expression conjuncts must not contribute early
    filter pairs; backquoted ones must (ADVICE-adjacent, VERDICT #5)."""
    write_deltalake(tmp_table, sample_df)
    t = DeltaTable(tmp_table)
    src = spark.createDataFrame([("1",)], "id string")
    m = t.merge(src, "target.`id` = source.`id`")
    assert m._equi_join_pairs() == [("id", "id", False)]
    m2 = t.merge(src, "upper(target.id) = source.id AND target.id = source.id")
    assert m2._equi_join_pairs() == [("id", "id", False)]
    m3 = t.merge(src, "target.id = concat(source.id, '_x')")
    assert m3._equi_join_pairs() == []
    m4 = t.merge(src, "target.id = source.id OR target.id = source.id")
    assert m4._equi_join_pairs() == []


def test_merge_equi_pairs_ast_precision(spark, tmp_table, sample_df):
    """AST-based extraction (VERDICT r1 #9): precedence comes from the
    parser, so an OR nested INSIDE one conjunct no longer disables pairs
    bound by sibling conjuncts, while null-safe equality and
    alias-mismatched attributes still never bind."""
    write_deltalake(tmp_table, sample_df)
    t = DeltaTable(tmp_table)
    src = spark.createDataFrame([("1",)], "id string")
    # OR inside a parenthesized sibling conjunct: (a AND (b OR c)) — the
    # equi pair from `a` is still binding for every matched row
    m = t.merge(src, "target.id = source.id AND (target.id = '1' OR source.id = '2')")
    assert m._equi_join_pairs() == [("id", "id", False)]
    # top-level OR → no binding conjuncts at all
    m2 = t.merge(src, "(target.id = source.id AND target.id = '1') OR source.id = '2'")
    assert m2._equi_join_pairs() == []
    # null-safe equality binds with the nullsafe flag set (the strip
    # phase only prunes on it when the source values contain no NULL)
    m3 = t.merge(src, "target.id <=> source.id")
    assert m3._equi_join_pairs() == [("id", "id", True)]
    # reversed order + odd casing + whitespace
    m4 = t.merge(src, "  SOURCE.id   =  TARGET.`id`  ")
    assert m4._equi_join_pairs() == [("id", "id", False)]
    # 1-part and 3-part attributes never bind
    m5 = t.merge(src, "id = source.id AND cat.target.id = source.id")
    assert m5._equi_join_pairs() == []


# --- r08 ADVICE fixes -------------------------------------------------


def test_zipf_closed_form_survives_int64_overflow(spark):
    """r08 ADVICE #1: v*Syy and Sy^2 in BIGINT wrap once top-term
    frequencies reach ~2e5 (any sf>=1 corpus). The closed form must
    cast every sum to double BEFORE the products. Handcrafted sums for
    a 256-term corpus with freq = 2e8/rank (a ~100B-token corpus) —
    the exact scenario the old code silently corrupted."""
    import math

    from delta_rs_spark.functions.text import _zipf_closed_form

    v = 256
    xq = [round(math.log(r) * 1e6) for r in range(1, v + 1)]
    yq = [round(math.log(2e8 / r) * 1e6) for r in range(1, v + 1)]
    sx, sy = sum(xq), sum(yq)
    sxy = sum(a * b for a, b in zip(xq, yq))
    sxx = sum(a * a for a in xq)
    syy = sum(b * b for b in yq)
    # the overflow scenario is real: both old BIGINT products wrap
    assert v * syy > 2**63 and sy * sy > 2**63
    s = spark.createDataFrame(
        [(v, sx, sy, sxy, sxx, syy)],
        "v long, sx long, sy long, sxy long, sxx long, syy long",
    )
    row = _zipf_closed_form(s).first()
    # double-reference (same IEEE ops the oracle runs)
    num = float(v) * float(sxy) - float(sx) * float(sy)
    denx = float(v) * float(sxx) - float(sx) * float(sx)
    deny = float(v) * float(syy) - float(sy) * float(sy)
    assert row["slope"] == round(num / denx * 1e6) / 1e6
    assert row["r2"] == round(num * num / (denx * deny) * 1e6) / 1e6
    # planted slope -1, near-perfect fit
    assert abs(row["slope"] - (-1.0)) < 1e-3 and row["r2"] > 0.999


def test_rrf_fuse_empty_rankings_raises(spark):
    from delta_rs_spark.functions.retrieval import rrf_fuse

    with pytest.raises(ValueError, match="at least one ranking"):
        rrf_fuse([])


def test_classifier_auc_is_lazy(spark):
    """r08 ADVICE #3: the distinct-score bound check must be part of
    the returned plan, not an eager driver job. A score column whose
    evaluation raises proves no job runs at call time."""
    from pyspark.sql.types import DoubleType

    from delta_rs_spark.functions.text import classifier_auc

    def boom(x):
        raise RuntimeError("executed at call time")

    boom_udf = F.udf(boom, DoubleType())
    df = spark.range(8).select(
        boom_udf("id").alias("score"), (F.col("id") % 2).cast("int").alias("y")
    )
    out = classifier_auc(df)  # must not raise: purely compositional
    with pytest.raises(Exception):
        out.first()  # ...and the plan does evaluate the column


def test_value_percentiles_unique_names_and_exact_ceil(spark):
    """r08 ADVICE #2: p-column names derive from the full decimal
    (0.999 no longer collides with 0.99; 0.005 is not p0) and the rank
    target is integer-exact ceil (double 0.07*100 = 7.000000000000001
    would ceil to 8 and mis-pick the 8th value)."""
    from delta_rs_spark.functions.timeseries import (
        _percentile_name,
        value_percentiles,
    )

    assert _percentile_name(0.5) == "p50"
    assert _percentile_name(0.999) == "p99_9"
    assert _percentile_name(0.005) == "p0_5"
    assert _percentile_name(0.07) == "p7"

    rows = [(i, "a", (i + 1) / 100.0) for i in range(100)]
    df = spark.createDataFrame(rows, ["event_id", "event_type", "value"])
    r = value_percentiles(df, percentiles=(0.07, 0.99, 0.999)).first()
    assert abs(r.p7 - 0.07) < 1e-9  # exact ceil: 7th value, not 8th
    assert abs(r.p99 - 0.99) < 1e-9
    assert abs(r.p99_9 - 1.00) < 1e-9  # ceil(0.999*100) = 100th value
    assert r.coarsened is False

    with pytest.raises(ValueError, match="duplicate percentile"):
        value_percentiles(df, percentiles=(0.99, 0.99))
    with pytest.raises(ValueError, match="out of range"):
        value_percentiles(df, percentiles=(1.5,))


def test_value_percentiles_wide_domain_coarsens(spark):
    """r08 VERDICT #1: an unbounded caller domain (microsecond-scale
    values) must not recreate a corpus-sized single-task window — the
    per-group distinct-cent count is capped in-plan; groups above the
    bound are binned (bin floor) and flagged, groups below stay
    exact."""
    from delta_rs_spark.functions.timeseries import value_percentiles

    wide = [(i, "wide", float(i * 1000)) for i in range(5000)]  # 5000 cents
    narrow = [(9000 + i, "narrow", (i + 1) / 10.0) for i in range(10)]
    df = spark.createDataFrame(wide + narrow, ["event_id", "event_type", "value"])
    out = {r.event_type: r for r in value_percentiles(df, max_distinct_cents=100).collect()}

    w = out["wide"]
    assert w.coarsened is True and w.n == 5000
    # bin width = ceil(span/100) cents; bin-floor under-reads < width
    span = 4999 * 1000 * 100 + 1
    width_dollars = -(-span // 100) / 100.0
    exact_p50 = 2499 * 1000.0  # 2500th smallest value
    assert exact_p50 - width_dollars <= w.p50 <= exact_p50
    exact_p99 = 4949 * 1000.0
    assert exact_p99 - width_dollars <= w.p99 <= exact_p99

    nr = out["narrow"]
    assert nr.coarsened is False and nr.n == 10
    assert abs(nr.p50 - 0.5) < 1e-9 and abs(nr.p99 - 1.0) < 1e-9

    # the coarsened (group, cent) table respects the bound
    from pyspark.sql import functions as SF

    cents = df.select(
        "event_type", SF.floor(SF.col("value") * 100.0).cast("long").alias("c")
    ).distinct()
    assert cents.filter(SF.col("event_type") == "wide").count() == 5000  # input really was wide


def test_value_percentiles_null_group_kept(spark):
    """r09 ADVICE (medium): the grid-enforcement stats join must be
    null-safe — SQL GROUP BY keeps NULL groups, so a NULL `by` key must
    produce a result row (with the default max_distinct_cents, the
    r08 null-unsafe inner join silently dropped it)."""
    from delta_rs_spark.functions.timeseries import value_percentiles

    rows = [(i, None if i < 50 else "a", (i % 10 + 1) / 1.0) for i in range(100)]
    df = spark.createDataFrame(rows, ["event_id", "event_type", "value"])

    out = {r.event_type: r for r in value_percentiles(df).collect()}
    assert set(out) == {None, "a"} and out[None].n == 50
    assert abs(out[None].p50 - 5.0) < 1e-9  # ceil(.5*50)=25th of 5x(1..10)
    assert out[None].coarsened is False

    # the enforcement path must also coarsen a NULL group, not drop it
    wide = [(i, None, float(i * 1000)) for i in range(500)]
    dfw = spark.createDataFrame(
        wide, "event_id long, event_type string, value double"
    )
    w = value_percentiles(dfw, max_distinct_cents=50).first()
    assert w.event_type is None and w.coarsened is True and w.n == 500
