"""Log internals + OCC conflicts (reference test model:
crates/test/src/concurrent.rs, python/tests/test_threaded.py)."""

import json
import threading

import pytest

from delta_rs_spark import DeltaTable, write_deltalake
from delta_rs_spark.log import commit as commit_mod
from delta_rs_spark.log import snapshot as snap_mod
from delta_rs_spark.log.actions import (
    Add,
    CommitInfo,
    Metadata,
    Protocol,
    Remove,
    Txn,
    action_to_line,
    parse_action,
)
from delta_rs_spark.log.commit import (
    ConcurrentDeleteDeleteError,
    MetadataChangedError,
    TransactionInfo,
)


def test_action_json_roundtrip():
    for a in [
        Protocol(1, 2),
        Metadata(schema_string="{}", partition_columns=["x"], configuration={"k": "v"}),
        Add("p.parquet", 10, 123, True, {"x": "1"}, stats='{"numRecords":5}'),
        Remove("p.parquet", 456, True),
        Txn("app", 7),
        CommitInfo("WRITE", {"mode": "Append"}),
    ]:
        line = action_to_line(a)
        b = parse_action(line)
        assert type(b) is type(a)
        assert action_to_line(b) == line or isinstance(a, CommitInfo)


def test_unknown_action_ignored():
    assert parse_action(json.dumps({"futureAction": {"x": 1}})) is None


def test_concurrent_appends_both_succeed(spark, tmp_table, sample_df):
    write_deltalake(tmp_table, sample_df)
    errors = []

    def appender():
        try:
            write_deltalake(tmp_table, sample_df, mode="append")
        except Exception as e:  # pragma: no cover
            errors.append(e)

    ts = [threading.Thread(target=appender) for _ in range(4)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errors
    t = DeltaTable(tmp_table)
    assert t.count() == 25
    assert t.version() == 4  # 4 retried appends stacked up


def test_conflict_delete_delete(tmp_table, spark, sample_df):
    write_deltalake(tmp_table, sample_df)
    snap = snap_mod.load_snapshot(tmp_table)
    victim = next(iter(snap.files))
    rm = Remove(victim, 1, True)
    commit_mod.commit(
        tmp_table, [rm], CommitInfo("DELETE", {}), snap.version,
        TransactionInfo(blind_append=False, read_files={victim}),
    )
    # a second writer that had read the same base version and removes the
    # same file must fail with ConcurrentDeleteDelete
    with pytest.raises(ConcurrentDeleteDeleteError):
        commit_mod.commit(
            tmp_table, [Remove(victim, 2, True)], CommitInfo("DELETE", {}),
            snap.version, TransactionInfo(blind_append=False, read_files={victim}),
        )


def test_conflict_metadata_changed(tmp_table, spark, sample_df):
    write_deltalake(tmp_table, sample_df)
    t = DeltaTable(tmp_table)
    base = t.version()
    t.alter.set_table_properties({"foo": "bar"})
    with pytest.raises(MetadataChangedError):
        commit_mod.commit(
            tmp_table, [], CommitInfo("DELETE", {}), base,
            TransactionInfo(blind_append=False, read_whole_table=True),
        )


def test_blind_append_never_conflicts(tmp_table, spark, sample_df):
    write_deltalake(tmp_table, sample_df)
    t = DeltaTable(tmp_table)
    base = t.version()
    t.delete("price = 0")  # concurrent mutation wins first
    # blind append on the stale base version retries and lands
    add = Add("bogus.parquet", 1, 1, True, {}, stats='{"numRecords":0}')
    v = commit_mod.commit(
        tmp_table, [add], CommitInfo("WRITE", {"mode": "Append"}), base,
        TransactionInfo(blind_append=True),
    )
    assert v == base + 2


def test_checkpoint_preserves_tombstones_and_txns(tmp_table, spark, sample_df):
    write_deltalake(tmp_table, sample_df, txn_app_id="x", txn_version=3)
    t = DeltaTable(tmp_table)
    t.delete("price = 0")
    t.create_checkpoint()
    snap = snap_mod.load_snapshot(tmp_table)
    assert snap.txns["x"].version == 3
    assert any(r.path for r in snap.tombstones)


def test_log_compaction_roundtrip(tmp_table, spark, sample_df):
    from delta_rs_spark.operators.log_compaction import compact_logs

    write_deltalake(tmp_table, sample_df)
    t = DeltaTable(tmp_table)
    t.delete("price = 0")                       # v1
    write_deltalake(tmp_table, sample_df, mode="append")  # v2
    path = compact_logs(tmp_table, 0, 2)
    assert path.endswith("00000000000000000000.00000000000000000002.compacted.json")
    # snapshot via the compacted file must equal commit replay
    snap = snap_mod.load_snapshot(tmp_table)
    assert snap.version == 2
    t2 = DeltaTable(tmp_table)
    assert t2.count() == 9  # 5 - 1 + 5
    # later commits still apply on top
    t2.delete("price = 1")
    assert DeltaTable(tmp_table).count() == 7


def test_log_compaction_keeps_domain_metadata(tmp_path):
    """A compacted range carries the latest DomainMetadata per domain,
    removals included, so a replay through it keeps the same domains
    (row-tracking watermark, clustering spec) as commit-by-commit."""
    import os

    from delta_rs_spark.log.actions import DomainMetadata
    from delta_rs_spark.operators.log_compaction import compact_logs

    tp = str(tmp_path / "t")
    commits = [
        [Protocol(1, 2), Metadata(schema_string=json.dumps({"type": "struct", "fields": []}))],
        [DomainMetadata("delta.rowTracking", '{"rowIdHighWaterMark": 41}', False)],
        [DomainMetadata("app.gone", "{}", False)],
        [DomainMetadata("app.gone", "{}", True)],
    ]
    os.makedirs(snap_mod.log_dir(tp))
    for v, acts in enumerate(commits):
        with open(snap_mod.commit_file(tp, v), "w") as f:
            lines = [CommitInfo(operation="WRITE", timestamp=1000 + v)] + acts
            f.write("\n".join(action_to_line(a) for a in lines) + "\n")
    want = snap_mod.load_snapshot(tp).domain_metadata
    compact_logs(tp, 1, 3)
    snap_mod.clear_snapshot_cache()
    got = snap_mod.load_snapshot(tp).domain_metadata
    assert set(got) == set(want) == {"delta.rowTracking"}
    assert got["delta.rowTracking"].configuration == '{"rowIdHighWaterMark": 41}'


def test_log_compaction_bad_range(tmp_table, spark, sample_df):
    from delta_rs_spark.operators.log_compaction import compact_logs

    write_deltalake(tmp_table, sample_df)
    with pytest.raises(Exception):
        compact_logs(tmp_table, 0, 0)
    with pytest.raises(Exception):
        compact_logs(tmp_table, 0, 99)


@pytest.mark.parametrize("store_kind", ["posix", "memcas"])
def test_concurrent_commits_via_logstore(tmp_table, spark, sample_df, store_kind):
    """The commit protocol must behave identically through any LogStore
    impl: N racing blind appends all land, versions are distinct, and
    replay sees every commit (the seam a cloud conditional-put store
    plugs into)."""
    from delta_rs_spark.log.commit import (
        InMemoryCASLogStore,
        PosixHardLinkLogStore,
        TransactionInfo,
    )

    write_deltalake(tmp_table, sample_df)
    store = PosixHardLinkLogStore() if store_kind == "posix" else InMemoryCASLogStore()
    versions = []
    errors = []

    def worker(i):
        try:
            add = Add(f"race-{i}.parquet", 1, 0, True, {}, stats='{"numRecords":1}')
            v = commit_mod.commit(
                tmp_table,
                [add],
                CommitInfo("WRITE", {"mode": "Append"}),
                snap_mod.latest_version(tmp_table),
                TransactionInfo(blind_append=True),
                log_store=store,
            )
            versions.append(v)
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    assert len(set(versions)) == 6
    snap = snap_mod.load_snapshot(tmp_table)
    assert sum(1 for p in snap.files if p.startswith("race-")) == 6


def test_inmemory_cas_rejects_double_claim(tmp_path):
    from delta_rs_spark.log.commit import InMemoryCASLogStore

    store = InMemoryCASLogStore()
    target = str(tmp_path / "00000000000000000001.json")
    store.put_if_absent(target, "{}\n")
    with pytest.raises(FileExistsError):
        store.put_if_absent(target, "{}\n")
    # a different store instance still sees the on-disk object
    with pytest.raises(FileExistsError):
        InMemoryCASLogStore().put_if_absent(target, "{}\n")


class _FakeS3Client:
    """Minimal boto3-shaped S3 stand-in honoring If-None-Match."""

    def __init__(self):
        self.objects = {}

    def put_object(self, Bucket, Key, Body, IfNoneMatch=None):
        path = f"{Bucket}/{Key}"
        if IfNoneMatch == "*" and path in self.objects:
            err = Exception("precondition failed")
            err.response = {"Error": {"Code": "PreconditionFailed"}}
            raise err
        self.objects[path] = Body


def test_s3_conditional_put_logstore_contract():
    from delta_rs_spark.log.commit import S3ConditionalPutLogStore

    client = _FakeS3Client()
    store = S3ConditionalPutLogStore(client=client)
    target = "s3://bucket/table/_delta_log/00000000000000000000.json"
    store.put_if_absent(target, "{}\n")
    assert client.objects["bucket/table/_delta_log/00000000000000000000.json"] == b"{}\n"
    # loser sees the standard lost-the-race signal
    with pytest.raises(FileExistsError):
        store.put_if_absent(target, "{}\n")
    # s3a:// scheme (Spark Hadoop connector URIs) parses too
    store.put_if_absent("s3a://bucket/t/_delta_log/1.json", "{}\n")
    with pytest.raises(ValueError):
        store.put_if_absent("/local/path.json", "{}\n")
