"""Spark job counts of log-planned reads, counted by job-id range
(conftest.spark_jobs). A read takes its file list from the log, so Spark
must not list the Add paths again: above
``spark.sql.sources.parallelPartitionDiscovery.threshold`` paths that
listing is a job of its own, and get_spark raises the threshold past any
read. A read with no surviving file, and a change-feed range with no
change, is a scan of no files: one job for an aggregate over it, with
the columns a non-empty read has."""

import pytest
from conftest import spark_job_descriptions, spark_jobs
from pyspark.sql import functions as F

from delta_rs_spark import DeltaTable, write_deltalake
from delta_rs_spark.table import read_snapshot_df

_RT = {"delta.enableRowTracking": "true"}
_CMAP = {
    "delta.columnMapping.mode": "name",
    "delta.minReaderVersion": "2",
    "delta.minWriterVersion": "5",
}


def test_scan_of_many_files_runs_no_listing_job(spark, tmp_path):
    path = str(tmp_path / "t")
    write_deltalake(
        path,
        spark.range(0, 4400).selectExpr("id AS k", "id % 3 AS g").coalesce(1),
        max_records_per_file=100,
    )
    dt = DeltaTable(path, spark=spark)
    assert len(dt.files()) == 44  # above Spark's default threshold of 32
    rows, jobs = spark_job_descriptions(
        spark, lambda: dt.to_df().groupBy("g").count().collect()
    )
    assert sorted((r.g, r["count"]) for r in rows) == [(0, 1467), (1, 1467), (2, 1466)]
    assert not [j for j in jobs if j.startswith("Listing leaf files")], jobs
    assert len(jobs) <= 2, jobs


@pytest.mark.parametrize(
    "conf,partitioned",
    [({}, False), ({}, True), ({**_RT, **_CMAP}, True)],
    ids=["plain", "partitioned", "row_tracking_mapped_partitioned"],
)
def test_read_pruned_to_no_file_runs_one_job(spark, tmp_path, conf, partitioned):
    path = str(tmp_path / "t")
    write_deltalake(
        path,
        spark.range(0, 100).selectExpr("id AS k", "CAST(id % 3 AS INT) AS p"),
        configuration=conf,
        partition_by=["p"] if partitioned else None,
    )
    dt = DeltaTable(path, spark=spark)
    row, jobs = spark_jobs(
        spark,
        lambda: dt.to_df(predicate="k > 1000").agg(F.count("*"), F.sum("k")).collect(),
    )
    assert tuple(row[0]) == (0, None)
    assert jobs <= 1, f"an empty read ran {jobs} Spark jobs"
    snap = dt._snapshot
    for kw in (
        {},
        {"file_path_col": "fp", "row_index_col": "ri"},
        {"keep_row_ids": True},
        {"keep_row_ids": True, "file_path_col": "fp"},
    ):
        empty = read_snapshot_df(spark, snap, path, predicate="k > 1000", **kw)
        full = read_snapshot_df(spark, snap, path, **kw)
        assert empty.schema == full.schema, kw


def test_cdf_range_without_changes_runs_one_job(spark, tmp_path):
    path = str(tmp_path / "t")
    write_deltalake(
        path,
        spark.range(0, 10).selectExpr("id AS k"),
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    dt = DeltaTable(path, spark=spark)
    dt.alter.set_table_properties({"delta.appendOnly": "false"})  # version 1: no data change
    row, jobs = spark_jobs(
        spark,
        lambda: dt.load_cdf(starting_version=1, ending_version=1)
        .agg(F.count("*"), F.sum("k"))
        .collect(),
    )
    assert tuple(row[0]) == (0, None)
    assert jobs <= 1, f"an empty change-feed read ran {jobs} Spark jobs"
    empty = dt.load_cdf(starting_version=1, ending_version=1)
    full = dt.load_cdf(starting_version=0, ending_version=0)
    assert [(f.name, f.dataType) for f in empty.schema] == [
        (f.name, f.dataType) for f in full.schema
    ]


def test_row_ids_over_many_files_run_no_extra_job(spark, tmp_path):
    """40 files share 40 lookup buckets, so some bucket holds several
    paths: every row still gets its own file's baseRowId + row_index."""
    from delta_rs_spark.operators.util import resolve_add_path, spark_file_uri
    from delta_rs_spark.plans import row_tracking as rt

    path = str(tmp_path / "t")
    write_deltalake(
        path,
        spark.range(0, 200).selectExpr("id AS k").coalesce(1),
        configuration=_RT,
        max_records_per_file=5,
    )
    snap = DeltaTable(path, spark=spark)._snapshot
    assert len(snap.files) == 40
    mat_id, mat_ver = rt.materialized_names(snap.configuration)
    df = read_snapshot_df(
        spark, snap, path, file_path_col="fp", row_index_col="ri", keep_row_ids=True
    )
    rows, jobs = spark_jobs(spark, df.collect)
    assert jobs <= 1, f"a row-id scan ran {jobs} Spark jobs"
    by_file = {
        spark_file_uri(resolve_add_path(path, a.path)): (
            a.base_row_id,
            a.default_row_commit_version,
        )
        for a in snap.files.values()
    }
    assert all((r[mat_id] - r.ri, r[mat_ver]) == by_file[r.fp] for r in rows)
    assert sorted(r[mat_id] for r in rows) == list(range(200))


def _four_file_table(spark, path, conf, partitioned):
    """4 one-file appends, keys [100p, 100p + 100) with p = 0..3."""
    for p in range(4):
        write_deltalake(
            path,
            spark.range(100 * p, 100 * p + 100)
            .selectExpr("id AS k", f"CAST({p} AS INT) AS p")
            .coalesce(1),
            mode="append" if p else "error",
            configuration=None if p else conf,
            partition_by=["p"] if partitioned and not p else None,
        )
    return DeltaTable(path, spark=spark)


@pytest.mark.parametrize(
    "conf,partitioned",
    [({}, False), ({}, True), ({**_RT, **_CMAP}, True)],
    ids=["plain", "partitioned", "row_tracking_mapped_partitioned"],
)
def test_one_file_point_read_runs_one_job(spark, tmp_path, conf, partitioned):
    """Skipping (stats on the plain table, partition pruning on the
    others) narrows ``p = 1`` to one file, which reads as one partition
    that reports it: the aggregate above it needs no exchange."""
    path = str(tmp_path / "t")
    dt = _four_file_table(spark, path, conf, partitioned)
    assert len(dt.files()) == 4
    df = dt.to_df(predicate="p = 1")
    assert len(df.inputFiles()) == 1
    row, jobs = spark_jobs(spark, lambda: df.agg(F.count("*"), F.sum("k")).collect())
    assert tuple(row[0]) == (100, sum(range(100, 200)))
    assert jobs <= 1, f"a one-file point read's aggregate ran {jobs} Spark jobs"


def test_one_file_dv_read_runs_only_the_broadcast_job(spark, tmp_path):
    """A one-file read whose file carries a deletion vector: the
    tombstone broadcast is its one extra job."""
    path = str(tmp_path / "t")
    write_deltalake(
        path,
        spark.range(0, 1000).selectExpr("id AS k").coalesce(1),
        configuration={"delta.enableDeletionVectors": "true"},
    )
    dt = DeltaTable(path, spark=spark)
    dt.delete("k % 10 = 0")
    dt.refresh()
    (add,) = dt._snapshot.files.values()
    assert add.deletion_vector
    df = dt.to_df()
    row, jobs = spark_jobs(spark, lambda: df.agg(F.count("*"), F.sum("k")).collect())
    assert tuple(row[0]) == (900, sum(k for k in range(1000) if k % 10))
    assert jobs <= 2, f"a one-file DV read's aggregate ran {jobs} Spark jobs"


def test_one_file_above_one_split_keeps_spark_partitions(spark, tmp_path):
    """A file larger than min(maxPartitionBytes, openCostInBytes) may be
    split, so its read keeps Spark's partitioning: no Coalesce, and more
    than one partition once the split size is below the file size. The
    same file under the default sizes reads as one coalesced partition."""
    path = str(tmp_path / "t")
    write_deltalake(
        path, spark.range(0, 20000).selectExpr("id AS k", "rand(1) AS x").coalesce(1)
    )
    dt = DeltaTable(path, spark=spark)
    (add,) = dt._snapshot.files.values()
    assert add.size > 64 * 1024

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    df = dt.to_df()
    assert "Coalesce" in plan(df) and df.rdd.getNumPartitions() == 1
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "64k")
    try:
        df = dt.to_df()
        assert "Coalesce" not in plan(df)
        assert df.rdd.getNumPartitions() > 1
        assert df.agg(F.count("*")).first()[0] == 20000
    finally:
        spark.conf.set(key, old)
