"""Spark job counts of one-file mutations, counted by job-id range
(conftest.spark_jobs), on every table shape that routes
cdc.write_mutation or its callers differently: the fused data+CDF
writer (CDF, with and without partitions, and with VARIANT columns,
which its tasks write too), the data-only write (plain), and the
deletion-vector tier — plus a row-tracking CDF table, whose rewrites
fill row ids from a literal lookup and so run the CDF counts. Each bound
is the measured count: DELETE and UPDATE find their touched files in
one job (operators.util.find_touched_files) and write without a
rebalance, and their deletion-vector tier collects the matched rows'
(file, row_index) pairs in one job. MERGE fills its source pin in one
job that also observes the early filter's bounds and the source row
count; it has no discovery pass — its one write frame gates rewrites
per file (the barrier) and validates, counts and names the rewritten
files through observe() — and its write is rebalanced only where it
reads a pinned frame directly (no target file, or DV mode). No
operation may leave a pinned frame behind. Write rules ride the same
write job, so a constrained table runs the unconstrained counts."""

import duckdb
import pytest
from conftest import persistent_rdds, spark_jobs
from pyspark.sql import functions as F

from delta_rs_spark import DeltaTable, write_deltalake

_CDF = {"delta.enableChangeDataFeed": "true"}
_DV = {"delta.enableDeletionVectors": "true"}

# shape -> (configuration, VARIANT column, partitioned, job bounds for
# DELETE, UPDATE, upsert MERGE)
SHAPES = {
    "cdf": (_CDF, False, False, (2, 2, 5)),
    "plain": ({}, False, False, (2, 2, 5)),
    "variant_cdf": (_CDF, True, False, (2, 2, 5)),
    "variant_cdf_partitioned": (_CDF, True, True, (3, 3, 6)),
    "dv_cdf": ({**_CDF, **_DV}, False, False, (2, 2, 9)),
    "dv_plain": (_DV, False, False, (1, 2, 9)),
    "cdf_partitioned": (_CDF, False, True, (3, 3, 6)),
    "plain_partitioned": ({}, False, True, (3, 3, 6)),
    "rt_cdf": ({**_CDF, "delta.enableRowTracking": "true"}, False, False, (2, 2, 5)),
}


def _columns(shape):
    _, variant, partitioned, _ = SHAPES[shape]
    cols = ["id AS k", "id % 7 AS v"]
    if variant:
        cols.append("parse_json(concat('{\"k\":', id, '}')) AS doc")
    if partitioned:
        # one partition per 2,000-key block: each append stays one file
        cols.append("CAST(id DIV 2000 AS INT) AS p")
    return cols


def _table(spark, path, shape="cdf"):
    # 4 files of even keys in disjoint ranges; odd keys are absent
    conf, _, partitioned, _ = SHAPES[shape]
    for lo in range(0, 8000, 2000):
        write_deltalake(
            path,
            spark.range(lo, lo + 2000, 2).selectExpr(*_columns(shape)).coalesce(1),
            mode="append" if lo else "error",
            configuration=None if lo else conf,
            partition_by=["p"] if partitioned and not lo else None,
        )
    return DeltaTable(path, spark=spark)


def _write_plans(monkeypatch):
    """The analyzed plan of every frame MERGE hands to its writer."""
    from delta_rs_spark.operators import merge as merge_mod

    plans = []
    real = merge_mod.write_mutation

    def spy(df, *args, **kw):
        plans.append(df._jdf.queryExecution().analyzed().toString())
        return real(df, *args, **kw)

    monkeypatch.setattr(merge_mod, "write_mutation", spy)
    return plans


@pytest.mark.parametrize("shape", list(SHAPES))
def test_one_file_upsert_job_count(spark, tmp_path, monkeypatch, shape):
    conf, _, partitioned, _ = SHAPES[shape]
    dt = _table(spark, str(tmp_path / "t"), shape)
    plans = _write_plans(monkeypatch)
    src = (
        spark.range(2100, 2500)
        .selectExpr(*_columns(shape))
        .withColumn("v", F.lit(-1).cast("long"))
    )
    m, jobs = spark_jobs(
        spark,
        lambda: dt.merge(src, "t.k = s.k", source_alias="s", target_alias="t")
        .when_matched_update_all()
        .when_not_matched_insert_all()
        .execute(),
    )
    assert (m["num_target_rows_updated"], m["num_target_rows_inserted"]) == (200, 200)
    assert (m["num_target_files_removed"], m["num_target_files_added"]) == (1, 1)
    assert jobs <= SHAPES[shape][3][2], f"one-file upsert ran {jobs} Spark jobs"
    assert persistent_rdds(spark) == 0
    # the write reads the barrier window's exchange, which AQE coalesces;
    # only DV mode's pinned frame needs the rebalance (partitioned
    # writes repartition by partition value)
    (plan,) = plans
    rebalanced = "RebalancePartitions" in plan
    assert rebalanced == (_DV.items() <= conf.items() and not partitioned)


@pytest.mark.parametrize(
    "clauses",
    [("when_not_matched_insert_all",), ("when_matched_update_all", "when_not_matched_insert_all")],
    ids=["insert_only", "no_candidate_upsert"],
)
def test_merge_without_target_files_job_count(spark, tmp_path, monkeypatch, clauses):
    """Source keys beyond every file's range leave no target file: the
    write reads the pinned source directly, so it keeps the rebalance
    that coalesces the cache's partitions into one file."""
    dt = _table(spark, str(tmp_path / "t"))
    plans = _write_plans(monkeypatch)
    src = spark.range(9000, 9400).selectExpr("id AS k", "-1L AS v")

    def merge():
        b = dt.merge(src, "t.k = s.k", source_alias="s", target_alias="t")
        for c in clauses:
            b = getattr(b, c)()
        return b.execute()

    m, jobs = spark_jobs(spark, merge)
    assert (m["num_target_rows_inserted"], m["num_target_files_scanned"]) == (400, 0)
    assert m["num_target_files_added"] == 1
    assert jobs <= 3, f"400-row merge without target files ran {jobs} Spark jobs"
    (plan,) = plans
    assert "RebalancePartitions" in plan
    assert persistent_rdds(spark) == 0


@pytest.mark.parametrize("shape", ["cdf", "dv_plain"])
def test_empty_source_merge_scans_no_file(spark, tmp_path, shape):
    """An empty source matches and inserts nothing, so MERGE reads no
    target file and writes nothing; it still commits a MERGE version
    with all-zero row counts."""
    path = str(tmp_path / "t")
    dt = _table(spark, path, shape)
    before = set(dt.files())
    src = spark.range(0).selectExpr("id AS k", "-1L AS v")
    m, jobs = spark_jobs(
        spark,
        lambda: dt.merge(src, "t.k = s.k", source_alias="s", target_alias="t")
        .when_matched_update_all()
        .when_not_matched_insert_all()
        .execute(),
    )
    assert jobs <= 1, f"empty-source MERGE ran {jobs} Spark jobs"
    expected = {
        "num_source_rows": 0,
        "num_target_rows_inserted": 0,
        "num_target_rows_updated": 0,
        "num_target_rows_deleted": 0,
        "num_target_rows_copied": 0,
        "num_target_rows_updated_by_source_miss": 0,
        "num_target_files_added": 0,
        "num_target_files_removed": 0,
        "num_target_files_scanned": 0,
        "num_target_files_skipped_during_scan": 4,
        "num_output_rows": 0,
    }
    if shape == "dv_plain":
        expected["num_deletion_vectors_added"] = 0
    assert m == expected
    dt = DeltaTable(path, spark=spark)
    assert dt.version() == 4 and set(dt.files()) == before
    entry = dt.history()[0]
    assert (entry["version"], entry["operation"]) == (4, "MERGE")
    assert entry["operationMetrics"] == expected
    assert persistent_rdds(spark) == 0


@pytest.mark.parametrize("shape", list(SHAPES))
def test_one_file_delete_and_update_job_counts(spark, tmp_path, shape):
    dt = _table(spark, str(tmp_path / "t"), shape)
    max_delete, max_update, _ = SHAPES[shape][3]
    m, jobs = spark_jobs(spark, lambda: dt.delete("k >= 2100 AND k < 2400"))
    assert m["num_deleted_rows"] == 150
    assert jobs <= max_delete, f"one-file DELETE ran {jobs} Spark jobs"
    assert persistent_rdds(spark) == 0
    m, jobs = spark_jobs(
        spark, lambda: dt.update({"v": "v + 1"}, predicate="k >= 4100 AND k < 4400")
    )
    assert m["num_updated_rows"] == 150
    assert jobs <= max_update, f"one-file UPDATE ran {jobs} Spark jobs"
    assert persistent_rdds(spark) == 0


def test_constrained_table_job_counts(spark, tmp_path):
    path = str(tmp_path / "t")
    dt = _table(spark, path)
    dt.alter.add_constraint({"v_small": "v < 100"})
    _, jobs = spark_jobs(
        spark,
        lambda: write_deltalake(
            path, spark.range(8000, 9000, 2).selectExpr("id AS k", "id % 7 AS v"), mode="append"
        ),
    )
    assert jobs <= 1, f"500-row append ran {jobs} Spark jobs"
    m, jobs = spark_jobs(spark, lambda: dt.delete("k >= 2100 AND k < 2400"))
    assert m["num_deleted_rows"] == 150
    assert jobs <= 2, f"one-file DELETE ran {jobs} Spark jobs"
    m, jobs = spark_jobs(
        spark, lambda: dt.update({"v": "v + 1"}, predicate="k >= 4100 AND k < 4400")
    )
    assert m["num_updated_rows"] == 150
    assert jobs <= 2, f"one-file UPDATE ran {jobs} Spark jobs"
    src = spark.range(6100, 6500).selectExpr("id AS k", "-1L AS v")
    m, jobs = spark_jobs(
        spark,
        lambda: dt.merge(src, "t.k = s.k", source_alias="s", target_alias="t")
        .when_matched_update_all()
        .when_not_matched_insert_all()
        .execute(),
    )
    assert (m["num_target_rows_updated"], m["num_target_rows_inserted"]) == (200, 200)
    assert jobs <= 5, f"one-file upsert ran {jobs} Spark jobs"


def test_barrier_keeps_candidate_without_match(spark, tmp_path):
    """The early filter's candidates include a file no source key
    matches (the odd key 4101 lies inside the third file's range, but
    the table holds even keys only): the barrier keeps that file live at
    its path and removes only the file the merge acted on."""
    path = str(tmp_path / "t")
    dt = _table(spark, path)
    versions = [set(DeltaTable(path, version=v, spark=spark).files()) for v in (1, 2)]
    (unmatched,) = versions[1] - versions[0]  # the 4000-5998 file
    src = spark.createDataFrame([(2100, -1), (4101, -1)], "k long, v long")
    m = (
        dt.merge(src, "t.k = s.k", source_alias="s", target_alias="t")
        .when_matched_update_all()
        .when_not_matched_insert_all()
        .execute()
    )
    assert (m["num_target_rows_updated"], m["num_target_rows_inserted"]) == (1, 1)
    assert m["num_target_files_scanned"] == 2
    assert m["num_target_files_removed"] == 1
    assert m["num_target_rows_copied"] == 999
    dt.refresh()
    assert unmatched in dt.files()
    assert len(versions[1] - set(dt.files())) == 1
    rows = dt.to_spark()
    assert rows.count() == rows.select("k").distinct().count() == 4001
    assert rows.where("k = 2100").first().v == -1


def test_barrier_commits_removes_when_no_row_reaches_the_write(spark, tmp_path):
    """A merge that deletes every row of its only touched file shuffles
    no row into the partitioned write, so AQE drops the stage holding
    the write frame's observation: the fallback pass must still name
    the rewritten file, or the commit would leave its deleted rows
    live."""
    dt = _table(spark, str(tmp_path / "t"), "plain_partitioned")
    src = spark.range(2000, 4000, 2).selectExpr("id AS k")
    m = (
        dt.merge(src, "t.k = s.k", source_alias="s", target_alias="t")
        .when_matched_delete()
        .execute()
    )
    assert m["num_target_rows_deleted"] == 1000
    assert (m["num_target_files_removed"], m["num_target_files_added"]) == (1, 0)
    dt.refresh()
    assert len(dt.files()) == 3
    rows = dt.to_spark()
    assert rows.count() == rows.select("k").distinct().count() == 3000
    assert rows.where("k >= 2000 AND k < 4000").count() == 0
    files = ", ".join(f"'{p}'" for p in dt.file_uris())
    assert duckdb.sql(f"SELECT count(*) FROM read_parquet([{files}])").fetchone()[0] == 3000
