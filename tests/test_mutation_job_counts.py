"""Spark job counts of one-file mutations, counted by job-id range
(conftest.spark_jobs), on every table shape that routes
cdc.write_mutation differently: the fused data+CDF writer (CDF, with
and without partitions), the data-only write (plain), the pinned
two-write VARIANT fallback, and the deletion-vector tier. Each bound
is the count before the writers were unified; no operation may leave a
pinned frame behind. MERGE validates and counts through observe() on
its single write frame. Write rules ride the same write job, so a
constrained table runs the unconstrained counts."""

import pytest
from conftest import persistent_rdds, spark_jobs
from pyspark.sql import functions as F

from delta_rs_spark import DeltaTable, write_deltalake

_CDF = {"delta.enableChangeDataFeed": "true"}
_DV = {"delta.enableDeletionVectors": "true"}

# shape -> (configuration, VARIANT column, partitioned, job bounds for
# DELETE, UPDATE, upsert MERGE)
SHAPES = {
    "cdf": (_CDF, False, False, (4, 4, 11)),
    "plain": ({}, False, False, (3, 3, 11)),
    "variant_cdf": (_CDF, True, False, (7, 7, 16)),
    "variant_cdf_partitioned": (_CDF, True, True, (9, 9, 16)),
    "dv_cdf": ({**_CDF, **_DV}, False, False, (3, 5, 14)),
    "dv_plain": (_DV, False, False, (2, 4, 14)),
    "cdf_partitioned": (_CDF, False, True, (4, 4, 11)),
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


@pytest.mark.parametrize("shape", list(SHAPES))
def test_one_file_upsert_job_count(spark, tmp_path, shape):
    dt = _table(spark, str(tmp_path / "t"), shape)
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
    assert m["num_target_files_removed"] == 1
    assert jobs <= SHAPES[shape][3][2], f"one-file upsert ran {jobs} Spark jobs"
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
