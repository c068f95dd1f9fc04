"""Spark job counts of one-file mutations on a change-data-feed table,
counted by job-id range (conftest.spark_jobs). MERGE validates and
counts through observe() on its single write frame; DELETE and UPDATE
share the fused data+CDC writer with it. Write rules ride the same
write job, so a constrained table runs the unconstrained counts."""

from conftest import spark_jobs

from delta_rs_spark import DeltaTable, write_deltalake


def _table(spark, path):
    # 4 files of even keys in disjoint ranges; odd keys are absent
    for lo in range(0, 8000, 2000):
        write_deltalake(
            path,
            spark.range(lo, lo + 2000, 2).selectExpr("id AS k", "id % 7 AS v").coalesce(1),
            mode="append" if lo else "error",
            configuration=None if lo else {"delta.enableChangeDataFeed": "true"},
        )
    return DeltaTable(path, spark=spark)


def test_one_file_upsert_job_count(spark, tmp_path):
    dt = _table(spark, str(tmp_path / "t"))
    src = spark.range(2100, 2500).selectExpr("id AS k", "-1L AS v")
    m, jobs = spark_jobs(
        spark,
        lambda: dt.merge(src, "t.k = s.k", source_alias="s", target_alias="t")
        .when_matched_update_all()
        .when_not_matched_insert_all()
        .execute(),
    )
    assert (m["num_target_rows_updated"], m["num_target_rows_inserted"]) == (200, 200)
    assert m["num_target_files_removed"] == 1
    assert jobs <= 11, f"one-file upsert ran {jobs} Spark jobs"


def test_one_file_delete_and_update_job_counts(spark, tmp_path):
    dt = _table(spark, str(tmp_path / "t"))
    m, jobs = spark_jobs(spark, lambda: dt.delete("k >= 2100 AND k < 2400"))
    assert m["num_deleted_rows"] == 150
    assert jobs <= 4, f"one-file DELETE ran {jobs} Spark jobs"
    m, jobs = spark_jobs(
        spark, lambda: dt.update({"v": "v + 1"}, predicate="k >= 4100 AND k < 4400")
    )
    assert m["num_updated_rows"] == 150
    assert jobs <= 4, f"one-file UPDATE ran {jobs} Spark jobs"


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
    assert jobs <= 4, f"one-file DELETE ran {jobs} Spark jobs"
    m, jobs = spark_jobs(
        spark, lambda: dt.update({"v": "v + 1"}, predicate="k >= 4100 AND k < 4400")
    )
    assert m["num_updated_rows"] == 150
    assert jobs <= 4, f"one-file UPDATE ran {jobs} Spark jobs"
    src = spark.range(6100, 6500).selectExpr("id AS k", "-1L AS v")
    m, jobs = spark_jobs(
        spark,
        lambda: dt.merge(src, "t.k = s.k", source_alias="s", target_alias="t")
        .when_matched_update_all()
        .when_not_matched_insert_all()
        .execute(),
    )
    assert (m["num_target_rows_updated"], m["num_target_rows_inserted"]) == (200, 200)
    assert jobs <= 11, f"one-file upsert ran {jobs} Spark jobs"
