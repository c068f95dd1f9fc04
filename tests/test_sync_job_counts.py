"""Spark job counts of one incremental sync on each leg (the source's
change data feed, or the snapshot diff when the source has none), for
the fingerprint, band and IVF index syncs and the incremental
aggregate. Each sync hands MERGE an unpinned source: MERGE pins and
releases its own, so a sync leaves no persistent RDD behind. Each
bound is the measured count; the synced table must still equal one
rebuilt from the source."""

import math

import pytest
from conftest import persistent_rdds, spark_jobs

from delta_rs_spark import DeltaTable, write_deltalake
from delta_rs_spark.operators.incremental import maintain_aggregate
from delta_rs_spark.operators.index_sync import (
    sync_band_index,
    sync_fingerprint_index,
    sync_ivf_index,
)

# sync -> Spark job bound on the (CDF, diff) leg
BOUNDS = {
    "fp": (6, 8),
    "band": (9, 18),
    "ivf": (9, 9),
    "agg": (7, 7),
}


def _source(spark, kind):
    if kind == "ivf":
        rows = [(i, [math.cos(0.1 * i + 0.01 * d) for d in range(8)]) for i in range(60)]
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    if kind == "agg":
        return spark.range(60).selectExpr("id % 5 AS k", "id * 10 AS v")
    rows = [(i, f"document number {i} with a body of several words") for i in range(60)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _churn(spark, path, kind):
    dt = DeltaTable(path, spark=spark)
    if kind == "ivf":
        dt.delete("vec_id < 5")
        dt.update({"embedding": "reverse(embedding)"}, predicate="vec_id % 7 = 0")
        extra = "SELECT 100L AS vec_id, array(1.0D, 0D, 0D, 0D, 0D, 0D, 0D, 0D) AS embedding"
    elif kind == "agg":
        dt.delete("v >= 500")
        dt.update({"v": "v + 1"}, predicate="k = 2")
        extra = "SELECT 7L AS k, 70L AS v"
    else:
        dt.delete("doc_id < 5")
        dt.update({"text": "'a rewritten body for this one document'"}, predicate="doc_id = 7")
        extra = "SELECT 100L AS doc_id, 'a brand new document with its own words' AS text"
    write_deltalake(path, spark.sql(extra), mode="append")


def _sync(spark, kind, src, dst):
    if kind == "fp":
        return sync_fingerprint_index(spark, src, dst)
    if kind == "band":
        return sync_band_index(spark, src, dst, num_perm=32, bands=8, hash_fn="md5")
    if kind == "ivf":
        return sync_ivf_index(spark, src, dst, n_lists=4)
    return maintain_aggregate(spark, src, dst, ["k"], "v")


def _state(spark, kind, path):
    df = DeltaTable(path, spark=spark).to_df()
    cols = {"fp": ["id", "fp"], "band": ["id", "band", "bucket"], "ivf": ["id", "vec"]}
    cols = cols.get(kind, ["k", "total", "n_rows", "n_vals"])
    return sorted(tuple(r) for r in df.select(*cols).collect())


@pytest.mark.parametrize("leg", ["cdf", "diff"])
@pytest.mark.parametrize("kind", list(BOUNDS))
def test_incremental_sync_job_count(spark, tmp_path, kind, leg):
    src, dst, fresh = (str(tmp_path / n) for n in ("src", "dst", "fresh"))
    conf = {"delta.enableChangeDataFeed": "true"} if leg == "cdf" else None
    write_deltalake(src, _source(spark, kind), configuration=conf)
    assert _sync(spark, kind, src, dst)["initialized"]
    _churn(spark, src, kind)
    r, jobs = spark_jobs(spark, lambda: _sync(spark, kind, src, dst))
    assert r["n_change_rows"] > 0 and r["applied_through"] == 3
    assert persistent_rdds(spark) == 0
    assert jobs <= BOUNDS[kind][leg == "diff"], f"{kind} {leg} sync ran {jobs} Spark jobs"
    assert _sync(spark, kind, src, fresh)["initialized"]
    assert _state(spark, kind, dst) == _state(spark, kind, fresh)
