import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from delta_rs_spark.session import get_spark

    s = get_spark("tests", cpus=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="module", autouse=True)
def _release_analytic_pins():
    """Analytic library functions pin bounded derived frames by design
    (session.drop_cached_intermediates); release them when each module
    ends, so a later module's persistent-RDD checks start from zero
    whatever the test order. A module that never started Spark has
    nothing to release."""
    yield
    from pyspark.sql import SparkSession

    from delta_rs_spark.session import drop_cached_intermediates

    spark = SparkSession.getActiveSession()
    if spark is not None:
        drop_cached_intermediates(spark)


@pytest.fixture
def tmp_table(tmp_path):
    return str(tmp_path / "table")


@pytest.fixture
def sample_df(spark):
    """5-row business table (FIXTURES.md §1.2 / reference conftest.py:305-323)."""
    return spark.createDataFrame(
        [
            ("1", 0, 0, False),
            ("2", 1, 1, False),
            ("3", 2, 2, False),
            ("4", 3, 3, False),
            ("5", 4, 4, False),
        ],
        "id string, price long, sold int, deleted boolean",
    )


@pytest.fixture(scope="session")
def lineitem(spark):
    return spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")


def spark_job_descriptions(spark, fn):
    """Run ``fn()`` and return ``(its result, the description of each
    Spark job it ran)``, newest first; a job without a description
    gives its name.

    Jobs are attributed by job-id range — every job newer than the
    newest one seen before the call — read from the status store after
    the listener bus drains, the same method as perfbench's tracer. Job
    groups are not used, so a group set inside the package cannot hide a
    job."""
    jsc = spark.sparkContext._jsc.sc()

    def jobs():
        jsc.listenerBus().waitUntilEmpty(30_000)
        js = jsc.statusStore().jobsList(None)  # newest first
        return [js.apply(i) for i in range(js.size())]

    seen = max((j.jobId() for j in jobs()), default=-1)
    out = fn()
    return out, [
        j.description().get() if j.description().isDefined() else j.name()
        for j in jobs()
        if j.jobId() > seen
    ]


def spark_jobs(spark, fn):
    """Run ``fn()`` and return ``(its result, Spark jobs it ran)``,
    counted as in ``spark_job_descriptions``."""
    out, jobs = spark_job_descriptions(spark, fn)
    return out, len(jobs)


def persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def table_tree(root):
    """Every file under the table root, and any _staging_* dir."""
    files, staging = set(), []
    for d, dirs, names in os.walk(root):
        staging += [x for x in dirs if x.startswith("_staging")]
        files.update(os.path.relpath(os.path.join(d, n), root) for n in names)
    return files, staging
