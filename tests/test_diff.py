"""table_diff (operators/diff.py): version-to-version logical diff.

The oracle gate (delta_table_diff_op) pins the insert/update/delete
classification end-to-end; these tests pin the properties the gate's
single-file scratch table cannot witness — churned-file pruning,
physical-churn suppression, DV-descriptor churn, key validation, and
schema evolution across the diffed versions.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from delta_rs_spark import DeltaTable, write_deltalake
from delta_rs_spark.log.commit import DeltaError
from delta_rs_spark.log.snapshot import load_snapshot
from delta_rs_spark.operators.diff import churned_files


def _mk(spark, path, rows, partition_by=None, configuration=None, one_file=False):
    df = spark.createDataFrame(rows, ["k", "part", "val"])
    if one_file:
        df = df.coalesce(1)
    write_deltalake(
        path, df, partition_by=partition_by, configuration=configuration
    )
    return DeltaTable(path, spark=spark)


def test_diff_prunes_untouched_partition_files(spark, tmp_path):
    """Mutating one partition must leave the other partition's files
    OUT of both churned sets — the diff never reads them."""
    path = str(tmp_path / "t")
    rows = [(i, "a" if i % 2 == 0 else "b", i * 10) for i in range(100)]
    dt = _mk(spark, path, rows, partition_by=["part"])
    dt.update({"val": "val + 1"}, predicate="part = 'a' AND k < 10")
    dt.update_incremental()

    old_c, new_c = churned_files(load_snapshot(path, 0), load_snapshot(path, 1))
    assert old_c and new_c
    assert all(a.partition_values.get("part") == "a" for a in old_c + new_c)

    got = {
        (r.k, r.change_type, r.old_val, r.new_val)
        for r in dt.diff(["k"], 0).collect()
    }
    assert got == {(i, "update", i * 10, i * 10 + 1) for i in range(0, 10, 2)}


def test_diff_compaction_only_is_empty(spark, tmp_path):
    """OPTIMIZE between the versions rewrites every row physically but
    changes nothing logically — the diff must be empty (rows joined
    equal on all compared columns are dropped)."""
    path = str(tmp_path / "t")
    dt = _mk(spark, path, [(i, "a", i) for i in range(50)])
    write_deltalake(
        path,
        spark.createDataFrame([(i, "a", i) for i in range(50, 80)], ["k", "part", "val"]),
        mode="append",
    )
    dt.update_incremental()
    dt.optimize.compact()
    dt.update_incremental()
    # the compacted version differs in every file path...
    old_c, new_c = churned_files(load_snapshot(path, 1), load_snapshot(path, 2))
    assert old_c and new_c
    # ...yet the logical diff is empty
    assert dt.diff(["k"], 1, 2).count() == 0
    # and diffing across the append still reports ONLY the inserts
    assert dt.diff(["k"], 0, 2).groupBy("change_type").count().collect()[0][
        "count"
    ] == 30


def test_diff_sees_dv_soft_delete_as_churn(spark, tmp_path):
    """A DV delete keeps the file path and mutates only the DV
    descriptor — same-path files with different DVs must be treated as
    churned on BOTH sides and classify as deletes."""
    path = str(tmp_path / "t")
    dt = _mk(
        spark,
        path,
        [(i, "a", i) for i in range(40)],
        configuration={"delta.enableDeletionVectors": "true"},
    )
    dt.delete("k < 5")
    dt.update_incremental()
    s0, s1 = load_snapshot(path, 0), load_snapshot(path, 1)
    # the soft delete rewrote no data file
    assert set(s0.files) & set(s1.files), "expected a shared-path DV mutation"
    got = {(r.k, r.change_type, r.old_val) for r in dt.diff(["k"], 0).collect()}
    assert got == {(i, "delete", i) for i in range(5)}


def test_diff_duplicate_keys_raise_and_can_be_skipped(spark, tmp_path):
    path = str(tmp_path / "t")
    # one file, so the partial delete rewrites it and the duplicated
    # key is inside the churned row set (spread across files, a fully-
    # matching file is dropped without scanning — no dup in churn)
    dt = _mk(spark, path, [(1, "a", 1), (1, "a", 2), (2, "a", 3)], one_file=True)
    dt.delete("val = 3")
    dt.update_incremental()
    # the guard is IN the plan (no eager driver job at diff() time) and
    # fires lazily on execution
    d = dt.diff(["k"], 0)
    with pytest.raises(Exception, match="unique keys"):
        d.collect()
    # opting out downgrades to keep-one-arbitrary-row-per-key
    rows = dt.diff(["k"], 0, validate_unique_keys=False).collect()
    assert {r.change_type for r in rows} <= {"delete", "update"}


def test_diff_schema_evolution_compares_common_columns(spark, tmp_path):
    path = str(tmp_path / "t")
    dt = _mk(spark, path, [(i, "a", i) for i in range(10)])
    evolved = spark.createDataFrame(
        [(100, "a", 100, "x")], ["k", "part", "val", "extra"]
    )
    write_deltalake(path, evolved, mode="append", schema_mode="merge")
    dt.update_incremental()
    got = {(r.k, r.change_type, r.new_val) for r in dt.diff(["k"], 0).collect()}
    assert got == {(100, "insert", 100)}
    with pytest.raises(DeltaError, match="absent in a version"):
        dt.diff(["k"], 0, compare_cols=["extra"])


def test_diff_version_order_and_key_presence_validated(spark, tmp_path):
    path = str(tmp_path / "t")
    dt = _mk(spark, path, [(1, "a", 1)])
    dt.delete("k = 1")
    dt.update_incremental()
    with pytest.raises(ValueError, match="starting_version"):
        dt.diff(["k"], 1, 0)
    with pytest.raises(DeltaError, match="key column"):
        dt.diff(["nope"], 0)


def _brute_diff(spark, path, v0, v1, key="k", cmp_cols=("part", "val")):
    """Reference diff: full scans of both versions, python dict compare."""
    a = DeltaTable(path, spark=spark, version=v0).to_df().collect()
    b = DeltaTable(path, spark=spark, version=v1).to_df().collect()
    old = {r[key]: tuple(r[c] for c in cmp_cols) for r in a}
    new = {r[key]: tuple(r[c] for c in cmp_cols) for r in b}
    out = set()
    for k in old.keys() | new.keys():
        if k not in new:
            out.add((k, "delete", old[k], None))
        elif k not in old:
            out.add((k, "insert", None, new[k]))
        elif old[k] != new[k]:
            out.add((k, "update", old[k], new[k]))
    return out


@pytest.mark.parametrize(
    "seed,config",
    [(80, None), (81, {"delta.enableDeletionVectors": "true"})],
    ids=["plain", "dv"],
)
def test_diff_differential_fuzz(spark, tmp_path, seed, config):
    """Seeded random DELETE/UPDATE/append/compact sequences; after every
    commit, table_diff against EVERY prior version must equal a brute
    full-scan recompute — including multi-hop spans where intermediate
    churn cancels out (update then delete, rewrite then compact). The
    dv variant runs the same program over soft mutations, so random
    same-path DV-descriptor churn flows through churned_files too."""
    import random

    rng = random.Random(seed)
    path = str(tmp_path / "t")
    rows = [(i, f"p{i % 4}", i * 7 % 100) for i in range(300)]
    dt = _mk(spark, path, rows, partition_by=["part"], configuration=config)

    next_id = 1000
    for step in range(6):
        op = rng.choice(["delete", "update", "append", "compact"])
        if op == "delete":
            dt.delete(f"val % {rng.randint(5, 11)} = {rng.randint(0, 4)}")
        elif op == "update":
            dt.update(
                {"val": f"val + {rng.randint(1, 9)}"},
                predicate=f"k % {rng.randint(3, 7)} = {rng.randint(0, 2)}",
            )
        elif op == "append":
            n = rng.randint(5, 40)
            write_deltalake(
                path,
                spark.createDataFrame(
                    [(next_id + i, f"p{i % 4}", i) for i in range(n)],
                    ["k", "part", "val"],
                ),
                mode="append",
            )
            next_id += n
        else:
            dt.optimize.compact()
        dt.update_incremental()

    latest = dt.version()
    # compact may be a no-op commit-wise; just require a real history
    assert latest >= 2
    for v0 in range(latest + 1):
        for v1 in (latest, min(v0 + 1, latest)):
            if v0 > v1:
                continue
            got = {
                (
                    r.k,
                    r.change_type,
                    None if r.old_part is None and r.old_val is None
                    else (r.old_part, r.old_val),
                    None if r.new_part is None and r.new_val is None
                    else (r.new_part, r.new_val),
                )
                for r in dt.diff(["k"], v0, v1).collect()
            }
            assert got == _brute_diff(spark, path, v0, v1), (
                f"diff({v0} -> {v1}) diverged from full-scan recompute"
            )


def _diff_after_update(spark, path, predicate):
    """``diff(["k"], 0)`` after one UPDATE of a 200-row table: the
    churned file count per side, the Spark jobs ``diff()`` ran, the
    executed plan and the diff frame."""
    from conftest import spark_jobs

    dt = _mk(spark, path, [(i, "a", i) for i in range(200)])
    dt.update({"val": "val + 1"}, predicate=predicate)
    dt.update_incremental()
    old_churn, new_churn = churned_files(load_snapshot(path, 0), load_snapshot(path, 1))
    d, jobs = spark_jobs(spark, lambda: dt.diff(["k"], 0))
    plan = d._jdf.queryExecution().executedPlan().toString()
    return (len(old_churn), len(new_churn)), jobs, plan.split("== Initial Plan ==")[0], d


def test_diff_plan_reuses_aggregation_shuffle(spark, tmp_path):
    """The uniqueness guard lives in a key-grouped aggregation whose
    partitioning the full-outer join must REUSE: exactly one Exchange
    per side, none added for the join (eqNullSafe would repartition on
    (coalesce, isnull) and double the shuffles), and no eager job runs
    at diff() call time. The churn spans 2 files per side, so each side
    scans more than one partition."""
    churn, jobs, plan, d = _diff_after_update(
        spark, str(tmp_path / "t"), "k < 20 OR k >= 180"
    )
    assert min(churn) >= 2
    assert jobs == 0
    assert plan.count("Exchange") == 2
    assert "Python" not in plan
    assert d.count() == 40


def test_diff_of_one_file_churn_has_no_exchange(spark, tmp_path):
    """One churned file per side reads as one partition (the one-file
    coalesce in read_snapshot_df), so the key-grouped aggregations and
    the full-outer join need no shuffle at all."""
    churn, jobs, plan, d = _diff_after_update(spark, str(tmp_path / "t"), "k < 20")
    assert churn == (1, 1)
    assert jobs == 0
    assert plan.count("Exchange") == 0
    assert d.count() == 20


def test_diff_composite_key(spark, tmp_path):
    """Multi-column keys: join condition, guard, and output coalesce
    all iterate key_cols — pin with a 2-col key where the single
    columns are NOT unique but the pair is."""
    path = str(tmp_path / "t")
    rows = [(a, f"g{b}", a * 10 + b) for a in range(5) for b in range(3)]
    dt = _mk(spark, path, rows)  # (k, part) pair unique; k alone is not
    dt.update({"val": "val + 100"}, predicate="k = 2 AND part = 'g1'")
    dt.update_incremental()
    dt.delete("k = 4 AND part = 'g0'")
    dt.update_incremental()
    got = {
        (r.k, r.part, r.change_type, r.old_val, r.new_val)
        for r in dt.diff(["k", "part"], 0).collect()
    }
    assert got == {
        (2, "g1", "update", 21, 121),
        (4, "g0", "delete", 40, None),
    }


def test_diff_null_keyed_unchanged_row_is_not_churn(spark, tmp_path):
    """r08 ADVICE #4: a NULL-keyed row rewritten UNCHANGED (co-located
    in a rewritten file) must drop with the other physical churn — the
    struct-keyed join matches NULL keys field-wise null-safely, so
    'OPTIMIZE diffs as empty' holds for NULL keys too. A genuinely
    changed NULL-keyed row classifies as ONE update, never a spurious
    delete+insert pair."""
    path = str(tmp_path / "t")
    rows = [(i, "a", i * 10) for i in range(10)] + [(None, "a", 99)]
    df = spark.createDataFrame(rows, "k long, part string, val long").coalesce(1)
    write_deltalake(path, df)
    dt = DeltaTable(path, spark=spark)

    # rewrite the file via an update that does NOT touch the NULL row
    dt.update({"val": "val + 1"}, predicate="k = 1")
    dt.update_incremental()
    got = {(r.k, r.change_type) for r in dt.diff(["k"], 0).collect()}
    assert got == {(1, "update")}  # no (None, delete) / (None, insert)

    # now change the NULL-keyed row itself: exactly one UPDATE row
    dt.update({"val": "val + 1"}, predicate="k IS NULL")
    dt.update_incremental()
    nulls = [
        (r.change_type, r.old_val, r.new_val)
        for r in dt.diff(["k"], 1, 2).collect()
    ]
    assert nulls == [("update", 99, 100)]


def test_diff_partition_filter_scopes_churn_before_io(spark, tmp_path):
    """r08 VERDICT #7: partition_filter intersects the churned sets
    with an exact partition-only predicate BEFORE any IO. Proof the
    out-of-filter churn is never scanned: partition 'b' carries a
    DUPLICATE key whose in-plan uniqueness guard would raise if its
    file entered either side of the join."""
    path = str(tmp_path / "t")
    rows = [(i, "a", i * 10) for i in range(10)] + [
        (100, "b", 1),
        (100, "b", 2),  # duplicate key, quarantined in partition b
    ]
    dt = _mk(spark, path, rows, partition_by=["part"])
    dt.update({"val": "val + 1"}, predicate="k < 5 AND part = 'a'")
    dt.update_incremental()
    dt.update({"val": "val + 1"}, predicate="k = 100 AND val = 1")
    dt.update_incremental()

    # unscoped diff scans partition b's churn -> duplicate-key raise
    with pytest.raises(Exception, match="duplicate key"):
        dt.diff(["k"], 0).collect()

    scoped = dt.diff(["k"], 0, partition_filter="part = 'a'")
    got = {(r.k, r.change_type) for r in scoped.collect()}
    assert got == {(i, "update") for i in range(5)}

    # non-partition / inexact predicates are rejected, not approximated
    with pytest.raises(DeltaError, match="partition-only"):
        dt.diff(["k"], 0, partition_filter="val > 3").collect()


def test_diff_column_mapped_table(spark, tmp_path):
    """Column-mapped (name-mode) tables: churned files carry physical
    col-<uuid> parquet names, so the diff's snapshot reads must rename
    to logical before the key join — classification and old_/new_
    values must come out in LOGICAL names."""
    path = str(tmp_path / "cm")
    dt = _mk(
        spark,
        path,
        [(i, "a", i * 10) for i in range(30)],
        configuration={"delta.columnMapping.mode": "name"},
    )
    dt.update({"val": "val + 1"}, predicate="k < 3")
    dt.update_incremental()
    dt.delete("k = 10")
    dt.update_incremental()
    got = {
        (r.k, r.change_type, r.old_val, r.new_val)
        for r in dt.diff(["k"], 0).collect()
    }
    assert got == {(0, "update", 0, 1), (1, "update", 10, 11),
                   (2, "update", 20, 21), (10, "delete", 100, None)}
