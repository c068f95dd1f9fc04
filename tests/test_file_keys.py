"""One file key for scanned rows: ``operators.util.spark_file_uri``
spells a data file's path exactly as Spark reports it in
``_metadata.file_path``, so DV reads, row-id fills, touched-file
discovery and change-feed pair reads all compare Spark's own string —
under table roots whose names need URI quoting too."""

import os

import pyarrow as pa
import pyarrow.parquet as pq

from delta_rs_spark import DeltaTable, write_deltalake
from delta_rs_spark.log import snapshot as snap_mod
from delta_rs_spark.log.actions import AddCDCFile, Remove
from delta_rs_spark.operators.util import resolve_add_path, spark_file_uri

# Spark's glob characters (? * [ { \) fail inside spark.read.parquet
# whatever the key, so they are not claimed here
_NAMES = [
    "a b",
    "x%41",
    "x%2520",
    "a+b",
    "a#b",
    "k=v",
    "a^b",
    "a|b",
    "a\tb",
    "ünï",
    "a;b:c@d&e$f,g",
    "a'b(c)!~",
    "a b",
    "日本",
]


def test_spark_file_uri_equals_spark_key(spark, tmp_path):
    paths = []
    for i, name in enumerate(_NAMES):
        os.makedirs(tmp_path / name)
        paths.append(str(tmp_path / name / f"part {i}.parquet"))
    # a relative path resolves against the working directory, as in Spark
    os.makedirs(tmp_path / "rel dir")
    paths.append(os.path.relpath(tmp_path / "rel dir" / "f.parquet"))
    for i, p in enumerate(paths):
        pq.write_table(pa.table({"i": [i]}), p)
    rows = spark.read.parquet(*paths).select("i", "_metadata.file_path").collect()
    assert len(rows) == len(paths)
    for r in rows:
        assert spark_file_uri(paths[r.i]) == r.file_path, repr(paths[r.i])


def _file_of(path, snap, key):
    """The Add.path whose parquet file holds ``key`` in column k, read
    with pyarrow (independent of the engine's scan)."""
    hits = [a.path for a in snap.files.values() if key in _keys(path, a.path)]
    assert len(hits) == 1, hits
    return hits[0]


def _keys(path, add_path):
    return pq.read_table(resolve_add_path(path, add_path), columns=["k"])["k"].to_pylist()


def test_dv_row_tracking_cdf_table_under_special_root(spark, tmp_path):
    path = str(tmp_path / "a b%41#c" / "t")
    write_deltalake(
        path,
        spark.range(0, 80).selectExpr("id AS k", "id * 10 AS v").repartition(4, "k"),
        configuration={
            "delta.enableDeletionVectors": "true",
            "delta.enableRowTracking": "true",
            "delta.enableChangeDataFeed": "true",
        },
    )
    dt = DeltaTable(path, spark=spark)
    assert len(dt._snapshot.files) == 4

    def ids():
        return {r.k: r._row_id for r in dt.to_df_with_row_ids().collect()}

    before = ids()

    # DV DELETE, then a read that applies the vectors
    dt.delete("k % 7 = 0")
    del_version = dt.version()
    assert any(a.deletion_vector for a in dt._snapshot.files.values())
    deleted = {k for k in range(80) if k % 7 == 0}
    assert {r.k for r in dt.to_df().collect()} == set(range(80)) - deleted

    # UPDATE keeps every surviving row's id
    dt.update({"v": "v + 1"}, predicate="k % 5 = 0")
    assert ids() == {k: i for k, i in before.items() if k not in deleted}
    assert {r.k: r.v for r in dt.to_df().collect()} == {
        k: k * 10 + (k % 5 == 0) for k in range(80) if k not in deleted
    }

    # MERGE on keys of one file tombstones exactly that file (keys the
    # UPDATE moved to a new file are left out)
    target = _file_of(path, dt._snapshot, 1)
    keys = [k for k in _keys(path, target) if k % 7 and k % 5][:3]
    src = spark.createDataFrame([(k, -k) for k in keys], "k long, v long")
    dt.merge(src, "target.k = source.k", "source", "target").when_matched_update(
        {"v": "source.v"}
    ).execute()
    removed = {
        a.path
        for a in snap_mod.read_commit_actions(path, dt.version())
        if isinstance(a, Remove)
    }
    assert removed == {target}
    got = {r.k: r.v for r in dt.to_df().collect()}
    assert all(got[k] == -k for k in keys)

    # the DV commit's change feed is exactly the deleted rows
    feed = dt.load_cdf(starting_version=del_version, ending_version=del_version).collect()
    assert {r._change_type for r in feed} == {"delete"}
    assert sorted(r.k for r in feed) == sorted(deleted)

    # without CDF the change feed reads the DV pair files: still the
    # deleted rows, read under the same root
    k = next(k for k in range(80) if k % 5 and k not in deleted and k not in keys)
    dt.alter.set_table_properties({"delta.enableChangeDataFeed": "false"})
    dt.delete(f"k = {k}")
    v = dt.version()
    actions = snap_mod.read_commit_actions(path, v)
    assert not any(isinstance(a, AddCDCFile) for a in actions)
    feed = dt.load_cdf(starting_version=v, ending_version=v).collect()
    assert [(r.k, r.v, r._change_type) for r in feed] == [(k, k * 10, "delete")]
