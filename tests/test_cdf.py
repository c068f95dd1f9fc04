"""Change Data Feed (reference test model: python/tests/test_cdf.py)."""

import pytest

from delta_rs_spark import DeltaTable, write_deltalake
from delta_rs_spark.log.commit import DeltaError


CDF_CONF = {"delta.enableChangeDataFeed": "true"}


def test_cdf_insert_delete_update(spark, tmp_table, sample_df):
    write_deltalake(tmp_table, sample_df, configuration=CDF_CONF)
    t = DeltaTable(tmp_table)
    t.delete("price >= 3")          # v1: 2 deletes
    t.update({"sold": "sold + 1"}, predicate="id = '1'")  # v2: update pair

    cdf = t.load_cdf(starting_version=0).collect()
    by_type = {}
    for r in cdf:
        by_type.setdefault(r["_change_type"], []).append(r)
    assert len(by_type["insert"]) == 5          # v0 synthesized from Add
    assert len(by_type["delete"]) == 2
    assert len(by_type["update_preimage"]) == 1
    assert len(by_type["update_postimage"]) == 1
    assert by_type["update_postimage"][0]["sold"] == 1
    versions = {r["_commit_version"] for r in cdf}
    assert versions == {0, 1, 2}


def test_cdf_version_bounds(spark, tmp_table, sample_df):
    write_deltalake(tmp_table, sample_df, configuration=CDF_CONF)
    t = DeltaTable(tmp_table)
    t.delete("price = 0")
    only_v1 = t.load_cdf(starting_version=1, ending_version=1).collect()
    assert {r["_change_type"] for r in only_v1} == {"delete"}


def test_cdf_overwrite_synthesis(spark, tmp_table, sample_df):
    write_deltalake(tmp_table, sample_df, configuration=CDF_CONF)
    write_deltalake(tmp_table, sample_df.limit(2), mode="overwrite")
    t = DeltaTable(tmp_table)
    v1 = t.load_cdf(starting_version=1, ending_version=1).collect()
    types = sorted(r["_change_type"] for r in v1)
    assert types.count("insert") == 2 and types.count("delete") == 5


def test_cdf_predicate_and_columns(spark, tmp_table, sample_df):
    write_deltalake(tmp_table, sample_df, configuration=CDF_CONF)
    t = DeltaTable(tmp_table)
    rows = t.load_cdf(
        predicate="price >= 3", columns=["id", "_change_type"]
    ).collect()
    assert len(rows) == 2
    assert set(rows[0].asDict()) == {"id", "_change_type"}


def test_cdf_allow_out_of_range(spark, tmp_table, sample_df):
    write_deltalake(
        tmp_table, sample_df, configuration={"delta.enableChangeDataFeed": "true"}
    )
    t = DeltaTable(tmp_table)
    with pytest.raises(DeltaError):
        t.load_cdf(starting_version=99)
    assert t.load_cdf(starting_version=99, allow_out_of_range=True).count() == 0


def test_cdf_synthesis_on_dv_commit_is_the_dv_diff(spark, tmp_path):
    """A DV soft delete WITHOUT ChangeDataFeed enabled must synthesize
    exactly the newly-dead rows as deletes — not delete-all of the
    pre-image plus insert-all of the survivors."""
    from pyspark.sql import functions as F

    from delta_rs_spark import DeltaTable, write_deltalake

    table = str(tmp_path / "dvsynth")
    df = spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("v"))
    write_deltalake(
        table,
        df.coalesce(1),
        configuration={"delta.enableDeletionVectors": "true"},
    )
    t = DeltaTable(table)
    t.delete("id < 7")
    t.refresh()
    t.delete("id >= 7 AND id < 10")  # second commit merges the DV
    changes = t.load_cdf(starting_version=1).collect()
    assert all(r._change_type == "delete" for r in changes)
    v1 = sorted(r.id for r in changes if r._commit_version == 1)
    v2 = sorted(r.id for r in changes if r._commit_version == 2)
    assert v1 == list(range(7))
    assert v2 == [7, 8, 9]


def test_cdf_partition_predicate_prunes_files(spark, tmp_path):
    """A partition-scoped load_cdf must read ONLY that partition's
    change files (reference load_cdf.rs:357-359 prunes cdc/add/remove
    specs by the partition-only predicate before reading). Proven the
    hard way: every other partition's data AND cdc files are deleted
    from disk — without file-level pruning the read itself fails."""
    import glob
    import os

    from pyspark.sql import functions as F

    path = str(tmp_path / "cdf_prune")
    base = spark.range(20).select(
        F.col("id"),
        (F.col("id") % 2).cast("string").alias("cat"),
        F.lit(0).alias("n"),
    )
    write_deltalake(
        path, base.repartition(1), partition_by=["cat"], configuration=CDF_CONF
    )
    t = DeltaTable(path, spark=spark)
    # v1: append to both partitions (synthesized inserts from Adds)
    write_deltalake(
        path,
        base.withColumn("id", F.col("id") + 100).repartition(1),
        mode="append",
    )
    # v2: update rows in BOTH partitions -> cdc files in both partitions
    t.update({"n": "n + 1"}, predicate="id >= 100")

    # nuke everything outside cat=1: data files and cdc files alike
    victims = [
        p
        for p in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        if "cat=1" not in p and "__cdc_p_0=1" not in p
    ]
    assert victims, "expected prunable files for cat=0"
    for p in victims:
        os.remove(p)

    got = t.load_cdf(starting_version=1, predicate="cat = '1'").collect()
    by_type = {}
    for r in got:
        by_type.setdefault(r["_change_type"], []).append(r)
    assert len(by_type["insert"]) == 10              # v1 cat=1 appends
    assert len(by_type["update_preimage"]) == 10     # v2 cdc, cat=1 only
    assert len(by_type["update_postimage"]) == 10
    assert all(r["cat"] == "1" for r in got)
    # and the unscoped read now fails — the pruning really was the only
    # thing keeping the missing files out of the plan
    with pytest.raises(Exception):
        t.load_cdf(starting_version=1).collect()


def test_cdf_partition_predicate_full_commit_pruned(spark, tmp_path):
    """A commit whose cdc files ALL live in pruned partitions contributes
    nothing — and must not fall back to Add/Remove synthesis."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "cdf_prune_all")
    base = spark.range(10).select(
        F.col("id"), (F.col("id") % 2).cast("string").alias("cat"), F.lit(0).alias("n")
    )
    write_deltalake(
        path, base.repartition(1), partition_by=["cat"], configuration=CDF_CONF
    )
    t = DeltaTable(path, spark=spark)
    t.update({"n": "n + 1"}, predicate="cat = '0'")   # v1 touches cat=0 only
    got = t.load_cdf(starting_version=1, predicate="cat = '1'").collect()
    assert got == []


def test_cdf_column_mapped_partition_predicate(spark, tmp_path):
    """Change-data files of a column-mapped, partitioned table sit in
    Hive dirs named by the PHYSICAL partition column and hold physical
    column names; the feed reads them like data files. A partition-scoped
    feed returns that partition's rows under logical names after every
    file of the other partition is deleted from disk, and the unscoped
    feed then fails."""
    import glob
    import json
    import os

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from delta_rs_spark.log.snapshot import load_snapshot
    from delta_rs_spark.plans.column_mapping import logical_to_physical

    path = str(tmp_path / "cdf_mapped")
    base = spark.range(20).select(
        F.col("id"), (F.col("id") % 2).cast("string").alias("cat"), F.lit(0).alias("n")
    )
    write_deltalake(
        path,
        base.repartition(1),
        partition_by=["cat"],
        configuration={**CDF_CONF, "delta.columnMapping.mode": "name"},
    )
    t = DeltaTable(path, spark=spark)
    t.update({"n": "n + 1"}, predicate="id >= 10")  # v1: cdc files in both partitions
    schema = T.StructType.fromJson(json.loads(load_snapshot(path).schema_string))
    phys = logical_to_physical(schema)["cat"]
    assert phys != "cat"
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    assert any(f"_change_data{os.sep}{phys}=1{os.sep}" in p for p in files)
    victims = [p for p in files if f"{os.sep}{phys}=1{os.sep}" not in p]
    assert any("_change_data" in p for p in victims)
    for p in victims:
        os.remove(p)

    feed = t.load_cdf(starting_version=1, predicate="cat = '1'")
    assert {"id", "cat", "n", "_change_type"} <= set(feed.columns)
    assert phys not in feed.columns
    got = sorted((r["_change_type"], r["id"], r["cat"], r["n"]) for r in feed.collect())
    odd = range(11, 20, 2)
    assert got == sorted(
        [("update_preimage", i, "1", 0) for i in odd]
        + [("update_postimage", i, "1", 1) for i in odd]
    )
    with pytest.raises(Exception):
        t.load_cdf(starting_version=1).collect()
