"""DomainMetadata replay + API, V2-checkpoint sidecar reading,
CheckpointMetadata tolerance, SnapshotIsolation conflict semantics."""

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from delta_rs_spark import DeltaTable, write_deltalake
from delta_rs_spark.log import commit as commit_mod
from delta_rs_spark.log import snapshot as snap_mod
from delta_rs_spark.log.actions import (
    Add,
    CheckpointMetadata,
    CommitInfo,
    DomainMetadata,
    Metadata,
    Protocol,
    Sidecar,
    action_to_line,
    parse_action,
)
from delta_rs_spark.log.commit import (
    ConcurrentAppendError,
    ConcurrentDomainMetadataError,
    TransactionInfo,
)


def test_new_action_json_round_trip():
    for a in [
        DomainMetadata("delta.clustering", '{"k":"v"}', False),
        DomainMetadata("gone", removed=True),
        Sidecar("0001.parquet", 123, 456, {"t": "1"}),
        CheckpointMetadata(7, {"a": "b"}),
    ]:
        assert parse_action(action_to_line(a)) == a


def test_domain_metadata_replay_and_api(spark, tmp_table, sample_df):
    write_deltalake(tmp_table, sample_df)
    t = DeltaTable(tmp_table)
    t.alter.set_domain_metadata("app.widget", '{"color":"blue"}')
    t.alter.set_domain_metadata("other", "x")
    t.alter.set_domain_metadata("app.widget", '{"color":"red"}')  # latest wins
    assert t.get_domain_metadata("app.widget") == '{"color":"red"}'
    assert t.get_domain_metadata("other") == "x"
    t.alter.remove_domain_metadata("other")
    assert t.get_domain_metadata("other") is None
    # survives checkpoint + replay
    t.create_checkpoint()
    t2 = DeltaTable(tmp_table)
    assert t2.get_domain_metadata("app.widget") == '{"color":"red"}'
    assert t2.get_domain_metadata("other") is None


def test_concurrent_domain_metadata_conflict(spark, tmp_table, sample_df):
    write_deltalake(tmp_table, sample_df)
    snap = snap_mod.load_snapshot(tmp_table)
    # winner commits domain X at version snap+1
    commit_mod.commit(
        tmp_table,
        [DomainMetadata("X", "w")],
        CommitInfo("SET DOMAIN METADATA", {}),
        snap.version,
        TransactionInfo(blind_append=True, written_domains={"X"}),
    )
    # loser read at snap.version and also writes X -> must conflict on retry
    with pytest.raises(ConcurrentDomainMetadataError):
        commit_mod.commit(
            tmp_table,
            [DomainMetadata("X", "l")],
            CommitInfo("SET DOMAIN METADATA", {}),
            snap.version,
            TransactionInfo(blind_append=True, written_domains={"X"}),
        )
    # a different domain sails through
    commit_mod.commit(
        tmp_table,
        [DomainMetadata("Y", "ok")],
        CommitInfo("SET DOMAIN METADATA", {}),
        snap.version,
        TransactionInfo(blind_append=True, written_domains={"Y"}),
    )


def test_v2_checkpoint_sidecar_read(spark, tmp_path):
    """A hand-built V2-style checkpoint: the checkpoint parquet holds
    checkpointMetadata + sidecar pointers; file actions live in sidecar
    parquet files under _delta_log/_sidecars."""
    table = str(tmp_path / "v2cp")
    # data file via a normal v0 commit
    df = spark.range(10).selectExpr("id", "id * 2 AS v").coalesce(1)
    write_deltalake(table, df)
    snap = snap_mod.load_snapshot(table)
    (add,) = snap.files.values()

    # sidecar parquet carrying the add action
    sidecars = os.path.join(table, "_delta_log", "_sidecars")
    os.makedirs(sidecars, exist_ok=True)
    add_struct = {
        "path": add.path,
        "partitionValues": [],
        "size": add.size,
        "modificationTime": add.modification_time,
        "dataChange": False,
        "stats": add.stats,
    }
    sc_schema = pa.schema(
        [
            pa.field(
                "add",
                pa.struct(
                    [
                        pa.field("path", pa.string()),
                        pa.field("partitionValues", pa.map_(pa.string(), pa.string())),
                        pa.field("size", pa.int64()),
                        pa.field("modificationTime", pa.int64()),
                        pa.field("dataChange", pa.bool_()),
                        pa.field("stats", pa.string()),
                    ]
                ),
            )
        ]
    )
    pq.write_table(
        pa.Table.from_pylist([{"add": add_struct}], schema=sc_schema),
        os.path.join(sidecars, "sc-0001.parquet"),
    )

    # checkpoint parquet at v1 with metadata/protocol + sidecar pointer
    cp_rows = [
        {"checkpointMetadata": {"version": 1}},
        {
            "protocol": {
                "minReaderVersion": snap.protocol.min_reader_version,
                "minWriterVersion": snap.protocol.min_writer_version,
            }
        },
        {
            "metaData": {
                "id": snap.metadata.id,
                "format": {"provider": "parquet", "options": []},
                "schemaString": snap.metadata.schema_string,
                "partitionColumns": [],
                "configuration": [],
                "createdTime": snap.metadata.created_time,
            }
        },
        {"sidecar": {"path": "sc-0001.parquet", "sizeInBytes": 1}},
    ]
    cp_schema = pa.schema(
        [
            pa.field("checkpointMetadata", pa.struct([pa.field("version", pa.int64())])),
            pa.field(
                "protocol",
                pa.struct(
                    [
                        pa.field("minReaderVersion", pa.int32()),
                        pa.field("minWriterVersion", pa.int32()),
                    ]
                ),
            ),
            pa.field(
                "metaData",
                pa.struct(
                    [
                        pa.field("id", pa.string()),
                        pa.field(
                            "format",
                            pa.struct(
                                [
                                    pa.field("provider", pa.string()),
                                    pa.field("options", pa.map_(pa.string(), pa.string())),
                                ]
                            ),
                        ),
                        pa.field("schemaString", pa.string()),
                        pa.field("partitionColumns", pa.list_(pa.string())),
                        pa.field("configuration", pa.map_(pa.string(), pa.string())),
                        pa.field("createdTime", pa.int64()),
                    ]
                ),
            ),
            pa.field(
                "sidecar",
                pa.struct(
                    [pa.field("path", pa.string()), pa.field("sizeInBytes", pa.int64())]
                ),
            ),
        ]
    )
    pq.write_table(
        pa.Table.from_pylist(cp_rows, schema=cp_schema),
        snap_mod.checkpoint_file(table, 1),
    )
    # an empty v1 commit so latest version is 1
    commit_mod.commit(
        table, [], CommitInfo("OPTIMIZE", {}), 0, TransactionInfo(blind_append=True)
    )
    # replay from the V2 checkpoint: file actions come via the sidecar
    replayed = snap_mod.load_snapshot(table, 1)
    assert set(replayed.files) == {add.path}
    assert DeltaTable(table, version=1, spark=spark).to_df().count() == 10


def test_snapshot_isolation_allows_concurrent_appends(spark, tmp_table, sample_df):
    write_deltalake(tmp_table, sample_df)
    snap = snap_mod.load_snapshot(tmp_table)
    # winner appends
    commit_mod.commit(
        tmp_table,
        [Add("w.parquet", 1, 0, True, {}, stats='{"numRecords":1}')],
        CommitInfo("WRITE", {"mode": "Append"}),
        snap.version,
        TransactionInfo(blind_append=True),
    )
    # a whole-table reader under Serializable fails...
    with pytest.raises(ConcurrentAppendError):
        commit_mod.commit(
            tmp_table,
            [Add("l.parquet", 1, 0, True, {}, stats='{"numRecords":1}')],
            CommitInfo("WRITE", {"mode": "Append"}),
            snap.version,
            TransactionInfo(
                blind_append=False, read_whole_table=True, isolation_level="Serializable"
            ),
        )
    # ...but sails through under SnapshotIsolation
    v = commit_mod.commit(
        tmp_table,
        [Add("l.parquet", 1, 0, True, {}, stats='{"numRecords":1}')],
        CommitInfo("WRITE", {"mode": "Append"}),
        snap.version,
        TransactionInfo(
            blind_append=False,
            read_whole_table=True,
            isolation_level="SnapshotIsolation",
        ),
    )
    assert v == snap.version + 2


@pytest.mark.parametrize("op", ["delete_all", "delete_true", "merge_whole_table"])
def test_snapshot_isolation_mutation_commits_past_racing_append(
    spark, tmp_path, monkeypatch, op
):
    """Every mutation reads the table's delta.isolationLevel: under
    SnapshotIsolation a whole-table DELETE (with or without a
    predicate) and a whole-table MERGE that lose the race to an append
    still commit, and the appended rows stay."""
    table = str(tmp_path / "si")
    write_deltalake(
        table,
        spark.range(10).selectExpr("id", "id AS v"),
        configuration={"delta.isolationLevel": "SnapshotIsolation"},
    )
    real_commit = commit_mod.commit
    raced = []

    def racing_commit(path, actions, operation, read_version, *args, **kwargs):
        # the append lands between the mutation's snapshot and its commit
        if operation.operation != "WRITE" and not raced:
            raced.append(operation.operation)
            write_deltalake(
                table, spark.range(100, 103).selectExpr("id", "id AS v"), mode="append"
            )
        return real_commit(path, actions, operation, read_version, *args, **kwargs)

    monkeypatch.setattr(commit_mod, "commit", racing_commit)
    dt = DeltaTable(table, spark=spark)
    if op == "merge_whole_table":
        # not-matched-by-source clauses read every target row
        src = spark.range(5).selectExpr("id", "id AS v")
        (
            dt.merge(src, "t.id = s.id", source_alias="s", target_alias="t")
            .when_matched_delete()
            .when_not_matched_by_source_delete()
            .execute()
        )
    else:
        dt.delete(None if op == "delete_all" else "true")
    assert raced
    dt = DeltaTable(table, spark=spark)
    assert sorted(r.id for r in dt.to_df().collect()) == [100, 101, 102]


def test_querybuilder_no_reregistration(spark, tmp_table, sample_df, monkeypatch):
    from delta_rs_spark import QueryBuilder

    write_deltalake(tmp_table, sample_df)
    qb = QueryBuilder(spark)
    qb.register("tbl", DeltaTable(tmp_table))
    assert qb.execute("SELECT count(*) AS n FROM tbl").collect()[0].n == 5

    calls = {"n": 0}
    import pyspark.sql.classic.dataframe as cdf

    real = cdf.DataFrame.createOrReplaceTempView

    def spy(self, name):
        calls["n"] += 1
        return real(self, name)

    monkeypatch.setattr(cdf.DataFrame, "createOrReplaceTempView", spy)
    qb.execute("SELECT 1")
    assert calls["n"] == 0  # unchanged registrations are not re-created
    qb.register("tbl2", DeltaTable(tmp_table))
    qb.execute("SELECT count(*) FROM tbl2")
    assert calls["n"] == 1  # only the new registration
    # mutation through a registered handle bumps its version -> re-bound
    dt = qb._tables["tbl"]
    dt.delete("price >= 4")
    assert qb.execute("SELECT count(*) AS n FROM tbl").collect()[0].n == 4
    assert calls["n"] == 2  # tbl re-created, tbl2 untouched


def test_append_only_table_enforcement(spark, tmp_path, sample_df):
    """delta.appendOnly=true (reference table/config.rs): appends and
    OPTIMIZE pass; DELETE/UPDATE/overwrite — anything removing data —
    fail; CREATE OR REPLACE (table redefinition) stays allowed."""
    from delta_rs_spark import DeltaTable, write_deltalake
    from delta_rs_spark.log.commit import DeltaError

    table = str(tmp_path / "ao")
    write_deltalake(table, sample_df, configuration={"delta.appendOnly": "true"})
    write_deltalake(table, sample_df, mode="append")
    t = DeltaTable(table)
    assert t.count() == 10
    with pytest.raises(DeltaError, match="append-only"):
        t.delete("price = 0")
    with pytest.raises(DeltaError, match="append-only"):
        t.update(updates={"price": "price + 1"})
    with pytest.raises(DeltaError, match="append-only"):
        write_deltalake(table, sample_df, mode="overwrite")
    # compaction only rearranges files (dataChange=false): allowed
    t.refresh()
    t.optimize.compact()
    t.refresh()
    assert t.count() == 10


ERR_LOG_CORPUS = "/root/reference/crates/core/tests/data_err_logs"


@pytest.mark.skipif(
    not os.path.isdir(ERR_LOG_CORPUS), reason="reference corpus not present"
)
def test_malformed_log_corpus_parity():
    """Structural log validation against the reference's malformed-log
    corpus (crates/core/tests/it/exotic_tables.rs expectations): commit
    gaps above a checkpoint, dangling/corrupt _last_checkpoint, and
    unsupported reader features must all be rejected; cleaned prefixes
    below a checkpoint must still load."""
    from delta_rs_spark import DeltaTable
    from delta_rs_spark.log.commit import DeltaError

    expect_err = {
        "table_a": False,
        "table_b": False,  # missing commit BELOW checkpoint: legal cleanup
        "table_c": True,   # commit gap above checkpoint
        # d/e/f: rejected for the catalogOwned READER feature (r12: their
        # _last_checkpoint size mismatches are a red herring — the
        # reference's own healthy fixtures carry wrong sizes too, so the
        # size field is treated as a hint, never validated)
        "table_d": True,
        "table_e": True,
        "table_f": True,
        "table_h": True,   # gap between 13 and 9999
        "table_i": True,
    }
    for name, should_err in expect_err.items():
        path = os.path.join(ERR_LOG_CORPUS, name)
        if should_err:
            with pytest.raises(DeltaError):
                DeltaTable(path)
        else:
            t = DeltaTable(path)
            assert t.version() == 13, name


def test_in_commit_timestamps(spark, tmp_path):
    """delta.enableInCommitTimestamps: commits carry a monotonic
    inCommitTimestamp that time travel prefers over file mtimes."""
    import os
    import time

    from pyspark.sql import functions as F

    from delta_rs_spark import DeltaTable, write_deltalake
    from delta_rs_spark.log import snapshot as snap_mod
    from delta_rs_spark.log.actions import CommitInfo

    table = str(tmp_path / "ict")
    df = spark.range(5).select(F.col("id"))
    write_deltalake(
        table, df, configuration={"delta.enableInCommitTimestamps": "true"}
    )
    t = DeltaTable(table)
    assert "inCommitTimestamp" in (t.protocol().writer_features or [])
    write_deltalake(table, df, mode="append")
    time.sleep(0.05)
    t.refresh()
    t.delete("id = 0")
    icts = []
    for v in range(0, 3):
        for a in snap_mod.read_commit_actions(table, v):
            if isinstance(a, CommitInfo):
                icts.append(a.extra.get("inCommitTimestamp"))
    assert all(i is not None for i in icts)
    assert icts == sorted(icts) and len(set(icts)) == 3  # strictly monotonic
    # scramble file mtimes: ICT time travel must be unaffected
    for v in range(0, 3):
        p = snap_mod.commit_file(table, v)
        os.utime(p, (1, 1))
    mid = (icts[1] + icts[2]) // 2 if icts[2] - icts[1] > 1 else icts[1]
    assert snap_mod.version_at_timestamp(table, mid) == 1
    assert snap_mod.version_at_timestamp(table, icts[2]) == 2
    assert snap_mod.version_at_timestamp(table, icts[0]) == 0


def test_foreign_ict_differs_from_timestamp(spark, tmp_path):
    """A commitInfo whose inCommitTimestamp differs from its timestamp
    (a foreign ICT writer): the ICT is the commit's time for time
    travel and for the change feed alike — its _commit_timestamp and
    its timestamp bounds."""
    import datetime as dt

    from pyspark.sql import functions as F

    table = str(tmp_path / "ict_foreign")
    df = spark.range(3).select(F.col("id"))
    conf = {
        "delta.enableInCommitTimestamps": "true",
        "delta.enableChangeDataFeed": "true",
    }
    write_deltalake(table, df, configuration=conf)
    write_deltalake(table, df, mode="append")
    ict0 = snap_mod.read_commit_info(table, 0).extra["inCommitTimestamp"]
    ict = (ict0 // 1000 + 2) * 1000  # whole seconds: exact through ISO
    path = snap_mod.commit_file(table, 1)
    with open(path) as f:
        lines = [json.loads(line) for line in f if line.strip()]
    for obj in lines:
        if "commitInfo" in obj:
            obj["commitInfo"]["inCommitTimestamp"] = ict
            obj["commitInfo"]["timestamp"] = ict + 10**9
    with open(path, "w") as f:
        f.write("\n".join(json.dumps(obj) for obj in lines) + "\n")

    assert snap_mod.version_at_timestamp(table, ict) == 1
    t = DeltaTable(table)
    feed = t.load_cdf(starting_version=1)
    stamps = {r.ms for r in feed.selectExpr("unix_millis(_commit_timestamp) AS ms").collect()}
    assert stamps == {ict}
    iso = dt.datetime.fromtimestamp(ict / 1000, dt.timezone.utc).isoformat()
    assert t.load_cdf(starting_version=1, ending_timestamp=iso).count() == 3


def test_required_protocol_feature_split():
    """Feature derivation: reader-writer features land in both lists,
    writer-only ones in writerFeatures alone; nothing -> legacy (1,2)."""
    from delta_rs_spark.features import required_protocol

    p = required_protocol('{"fields": []}', None)
    assert (p.min_reader_version, p.min_writer_version) == (1, 2)
    assert not p.reader_features and not p.writer_features

    p = required_protocol(
        '{"fields": []}',
        {"delta.enableChangeDataFeed": "true"},
    )
    assert p.min_writer_version == 7
    assert p.writer_features == ["changeDataFeed"]
    assert not p.reader_features  # writer-only feature
    assert p.min_reader_version == 1

    p = required_protocol(
        '{"fields": []}',
        {
            "delta.enableDeletionVectors": "true",
            "delta.columnMapping.mode": "name",
            "delta.enableInCommitTimestamps": "true",
        },
    )
    assert (p.min_reader_version, p.min_writer_version) == (3, 7)
    assert p.reader_features == ["columnMapping", "deletionVectors"]
    assert p.writer_features == [
        "columnMapping", "deletionVectors", "inCommitTimestamp",
    ]


def test_ict_midlife_enablement(spark, tmp_path):
    """Enabling delta.enableInCommitTimestamps on an EXISTING table must
    record the enablement version/timestamp in the same metadata commit
    (PROTOCOL.md), and version_at_timestamp must keep the two clock
    regimes separate (pre-enablement: CommitInfo/mtime; after: ICT)."""
    import time

    from pyspark.sql import functions as F

    from delta_rs_spark import DeltaTable, write_deltalake
    from delta_rs_spark.log import snapshot as snap_mod
    from delta_rs_spark.log.actions import CommitInfo, Metadata

    table = str(tmp_path / "ict_mid")
    df = spark.range(5).select(F.col("id"))
    write_deltalake(table, df)                       # v0 (no ICT)
    write_deltalake(table, df, mode="append")        # v1 (no ICT)
    time.sleep(0.02)
    t = DeltaTable(table)
    t.alter.set_table_properties(
        {"delta.enableInCommitTimestamps": "true"}
    )                                                # v2: enabling commit
    metas = [
        a
        for a in snap_mod.read_commit_actions(table, 2)
        if isinstance(a, Metadata)
    ]
    assert metas
    cfg = metas[0].configuration
    assert cfg["delta.inCommitTimestampEnablementVersion"] == "2"
    enable_ts = int(cfg["delta.inCommitTimestampEnablementTimestamp"])
    ict2 = next(
        int(a.extra["inCommitTimestamp"])
        for a in snap_mod.read_commit_actions(table, 2)
        if isinstance(a, CommitInfo)
    )
    assert enable_ts == ict2
    t.refresh()
    t.delete("id = 0")                               # v3: stamped with ICT
    ict3 = next(
        int(a.extra["inCommitTimestamp"])
        for a in snap_mod.read_commit_actions(table, 3)
        if isinstance(a, CommitInfo)
    )
    assert ict3 > ict2
    # pre-enablement commits carry no ICT
    for v in (0, 1):
        assert all(
            "inCommitTimestamp" not in a.extra
            for a in snap_mod.read_commit_actions(table, v)
            if isinstance(a, CommitInfo)
        )
    # regime split: a timestamp >= enablement resolves only among ICT
    # versions, one before it only among pre-ICT versions
    assert snap_mod.version_at_timestamp(table, ict2) == 2
    assert snap_mod.version_at_timestamp(table, ict3) == 3
    pre_ts = next(
        a.timestamp
        for a in snap_mod.read_commit_actions(table, 1)
        if isinstance(a, CommitInfo)
    )
    assert snap_mod.version_at_timestamp(table, pre_ts) <= 1


def _ict_table(spark, path):
    write_deltalake(
        path,
        spark.range(5),
        configuration={"delta.enableInCommitTimestamps": "true"},
    )
    return DeltaTable(path, spark=spark)


def _log_actions(path, kind):
    return [
        (v, a)
        for v in range(snap_mod.latest_version(path) + 1)
        for a in snap_mod.read_commit_actions(path, v)
        if isinstance(a, kind)
    ]


def test_ict_table_stamps_every_commit(spark, tmp_path):
    """Once a table has in-commit timestamps, EVERY commit carries one
    (PROTOCOL.md) — a no-match UPDATE, VACUUM START/END and an ALTER
    included — and the stamps strictly increase."""
    table = str(tmp_path / "ict_all")
    t = _ict_table(spark, table)
    t.update({"id": "id + 1"}, predicate="id = 99")  # matches no row
    t.vacuum(retention_hours=0, enforce_retention_duration=False, dry_run=False)
    t.alter.add_constraint({"id_nonneg": "id >= 0"})
    infos = [a for _, a in _log_actions(table, CommitInfo)]
    ops = [a.operation for a in infos]
    assert ops == ["WRITE", "UPDATE", "VACUUM START", "VACUUM END", "ADD CONSTRAINT"]
    icts = [a.extra.get("inCommitTimestamp") for a in infos]
    assert None not in icts, list(zip(ops, icts))
    assert all(b > a for a, b in zip(icts, icts[1:])), icts


def test_ict_table_alter_records_no_enablement(spark, tmp_path):
    """ALTERs on a table CREATED with in-commit timestamps must not
    record a mid-life enablement: delta.inCommitTimestampEnablement*
    would tell readers the mtime clock ran until that version."""
    table = str(tmp_path / "ict_alter")
    t = _ict_table(spark, table)
    t.alter.add_constraint({"id_nonneg": "id >= 0"})
    t.alter.set_table_properties({"delta.logRetentionDuration": "interval 30 days"})
    metas = _log_actions(table, Metadata)
    assert len(metas) == 3
    assert [
        (v, k)
        for v, m in metas
        for k in m.configuration
        if k.startswith("delta.inCommitTimestampEnablement")
    ] == []


@pytest.mark.parametrize("row_tracking", [False, True], ids=["plain", "row_tracking"])
def test_commit_loads_one_snapshot(spark, tmp_path, monkeypatch, row_tracking):
    """commit() reads table state from ONE base snapshot: at most one
    snapshot load per commit (no post-commit hook fires here), whatever
    the operator passed in its TransactionInfo."""
    table = str(tmp_path / "t")
    cfg = {"delta.enableRowTracking": "true"} if row_tracking else {}
    write_deltalake(table, spark.range(10), configuration=cfg)
    loads: list[tuple[str, int]] = []
    real_commit, real_load = commit_mod.commit, snap_mod.load_snapshot
    active = []

    def counting_load(*args, **kwargs):
        if active:
            active[-1] += 1
        return real_load(*args, **kwargs)

    def spied_commit(table_path, actions, op, *args, **kwargs):
        active.append(0)
        try:
            return real_commit(table_path, actions, op, *args, **kwargs)
        finally:
            loads.append((op.operation, active.pop()))

    monkeypatch.setattr(snap_mod, "load_snapshot", counting_load)
    monkeypatch.setattr(commit_mod, "commit", spied_commit)
    write_deltalake(table, spark.range(10, 20), mode="append")
    t = DeltaTable(table, spark=spark)
    t.update({"id": "id + 1"}, predicate="id = 99")  # matches no row
    t.delete("id = 3")
    t.alter.set_table_properties({"delta.logRetentionDuration": "interval 30 days"})
    t.vacuum(retention_hours=0, enforce_retention_duration=False, dry_run=False)
    assert [op for op, _ in loads] == [
        "WRITE", "UPDATE", "DELETE", "SET TBLPROPERTIES", "VACUUM START", "VACUUM END",
    ]
    assert all(n <= 1 for _, n in loads), loads


# ---------------------------------------------------------------------------
# V2 checkpoint WRITE (r11) — sidecar splitting, UUID naming, feature gate
# ---------------------------------------------------------------------------


def _read_rows(spark, table):
    return sorted(
        (r["id"], r["v"]) for r in DeltaTable(table, spark=spark).to_df().collect()
    )


def test_v2_checkpoint_write_roundtrip(spark, tmp_path):
    """Full V2 write: UUID-named top-level checkpoint + >=2 sidecars;
    after deleting EVERY commit JSON the table replays from the V2
    checkpoint alone — adds, removes, and partition data intact."""
    from delta_rs_spark.log.commit import DeltaError

    table = str(tmp_path / "v2w")
    df = spark.range(20).selectExpr("id", "id * 2 AS v", "id % 2 AS p")
    write_deltalake(table, df, partition_by=["p"], max_records_per_file=5)
    write_deltalake(table, df.where("id < 5"), mode="append", max_records_per_file=2)
    dt = DeltaTable(table, spark=spark)
    dt.delete("id >= 18")  # tombstones in the snapshot
    expected = _read_rows(spark, table)

    dt = DeltaTable(table, spark=spark)
    with pytest.raises(DeltaError, match="v2Checkpoint"):
        dt.create_checkpoint(v2=True)
    dt.alter.add_feature(["v2Checkpoint"])
    dt = DeltaTable(table, spark=spark)
    dt.create_checkpoint(v2=True, sidecar_target_actions=4)

    log = os.path.join(table, "_delta_log")
    v2_names = [f for f in os.listdir(log) if snap_mod._CHECKPOINT_V2_RE.match(f)]
    assert len(v2_names) == 1
    assert not os.path.exists(snap_mod.checkpoint_file(table, dt.version()))
    sidecars = os.listdir(os.path.join(log, "_sidecars"))
    assert len(sidecars) >= 2  # file actions split across parquet sidecars

    # top-level checkpoint holds no add/remove rows, sidecar refs + meta
    top = pq.read_table(os.path.join(log, v2_names[0])).to_pylist()
    assert not any(r.get("add") and r["add"].get("path") for r in top)
    assert not any(r.get("remove") and r["remove"].get("path") for r in top)
    assert sum(1 for r in top if r.get("sidecar") and r["sidecar"].get("path")) == len(
        sidecars
    )
    assert any(
        r.get("checkpointMetadata")
        and r["checkpointMetadata"].get("version") == dt.version()
        for r in top
    )

    # replay from the V2 checkpoint ALONE (every commit JSON removed)
    for f in list(os.listdir(log)):
        if snap_mod._COMMIT_RE.match(f):
            os.unlink(os.path.join(log, f))
    assert _read_rows(spark, table) == expected
    snap = snap_mod.load_snapshot(table)
    assert snap.version == dt.version()
    assert "v2Checkpoint" in snap.protocol.reader_features


def test_v2_checkpoint_auto_via_policy(spark, tmp_path):
    """delta.checkpointPolicy=v2 + the feature -> the post-commit hook
    writes UUID-named V2 checkpoints at the configured interval; without
    the feature the hook silently stays classic."""
    table = str(tmp_path / "v2auto")
    df = spark.range(10).selectExpr("id", "id AS v")
    write_deltalake(
        table,
        df,
        configuration={
            "delta.checkpointInterval": "2",
            "delta.checkpointPolicy": "v2",
        },
    )
    DeltaTable(table, spark=spark).alter.add_feature(["v2Checkpoint"])
    write_deltalake(table, df, mode="append")  # v2 -> interval hit
    log = os.path.join(table, "_delta_log")
    assert any(snap_mod._CHECKPOINT_V2_RE.match(f) for f in os.listdir(log))
    assert not os.path.exists(snap_mod.checkpoint_file(table, 2))

    # policy without the feature: classic fallback, never a failure
    table2 = str(tmp_path / "v2nofeat")
    write_deltalake(
        table2,
        df,
        configuration={
            "delta.checkpointInterval": "1",
            "delta.checkpointPolicy": "v2",
        },
    )
    write_deltalake(table2, df, mode="append")
    log2 = os.path.join(table2, "_delta_log")
    assert not any(snap_mod._CHECKPOINT_V2_RE.match(f) for f in os.listdir(log2))
    assert os.path.exists(snap_mod.checkpoint_file(table2, 1))


def test_v2_checkpoint_preserves_dv_and_travel(spark, tmp_path):
    """V2 checkpoint on a DV table: deletion vectors survive the sidecar
    round-trip; versions BELOW the checkpoint stay reachable while their
    commits remain."""
    table = str(tmp_path / "v2dv")
    df = spark.range(12).selectExpr("id", "id * 3 AS v")
    write_deltalake(
        table, df, configuration={"delta.enableDeletionVectors": "true"}
    )
    dt = DeltaTable(table, spark=spark)
    dt.delete("id IN (2, 5)")  # DV soft-delete
    dt = DeltaTable(table, spark=spark)
    assert dt.version() == 1
    dt.alter.add_feature(["v2Checkpoint"])
    dt = DeltaTable(table, spark=spark)
    dt.create_checkpoint(v2=True, sidecar_target_actions=1)
    expected = sorted(
        r["id"] for r in DeltaTable(table, spark=spark).to_df().collect()
    )
    assert expected == sorted(set(range(12)) - {2, 5})
    # replayed-from-checkpoint read sees the DV
    snap = snap_mod.load_snapshot(table)
    assert any(a.deletion_vector for a in snap.files.values())
    # pre-checkpoint version still time-travels through commit JSONs
    old = DeltaTable(table, version=0, spark=spark).to_df().count()
    assert old == 12


def test_find_checkpoint_prefers_classic_then_max_uuid(spark, tmp_path):
    table = str(tmp_path / "pick")
    write_deltalake(table, spark.range(4).selectExpr("id", "id AS v"))
    dt = DeltaTable(table, spark=spark)
    dt.alter.add_feature(["v2Checkpoint"])
    dt = DeltaTable(table, spark=spark)
    p1 = snap_mod.write_checkpoint(table, dt._snapshot, v2=True)
    p2 = snap_mod.write_checkpoint(table, dt._snapshot, v2=True)
    picked = snap_mod.find_checkpoint_file(table, dt.version())
    assert picked == max(p1, p2)  # deterministic among equivalent V2 cps
    # a classic checkpoint at the same version wins
    snap_mod.write_checkpoint(table, dt._snapshot)
    assert snap_mod.find_checkpoint_file(table, dt.version()) == (
        snap_mod.checkpoint_file(table, dt.version())
    )
    # and the table still reads
    assert DeltaTable(table, spark=spark).to_df().count() == 4


def test_cleanup_reclaims_superseded_checkpoints_and_sidecars(spark, tmp_path):
    """cleanup_metadata deletes expired checkpoints BELOW the newest one
    (classic and V2) and any sidecar no surviving checkpoint references;
    the latest checkpoint + its sidecars survive and the table replays
    from them alone."""
    table = str(tmp_path / "gc")
    write_deltalake(table, spark.range(6).selectExpr("id", "id AS v"))
    dt = DeltaTable(table, spark=spark)
    dt.alter.add_feature(["v2Checkpoint"])
    dt = DeltaTable(table, spark=spark)
    dt.create_checkpoint(v2=True, sidecar_target_actions=1)  # superseded soon
    write_deltalake(table, spark.range(3).selectExpr("id + 50 AS id", "id AS v"),
                    mode="append")
    dt = DeltaTable(table, spark=spark)
    dt.create_checkpoint()  # classic, will also be superseded
    write_deltalake(table, spark.range(2).selectExpr("id + 90 AS id", "id AS v"),
                    mode="append")
    dt = DeltaTable(table, spark=spark)
    dt.create_checkpoint(v2=True, sidecar_target_actions=1)  # the keeper

    log = os.path.join(table, "_delta_log")
    sc_dir = os.path.join(log, "_sidecars")
    n_sc_before = len(os.listdir(sc_dir))
    cps = [f for f in os.listdir(log)
           if snap_mod._CHECKPOINT_RE.match(f) or snap_mod._CHECKPOINT_V2_RE.match(f)]
    assert len(cps) == 3
    removed = dt.cleanup_metadata(retention_hours=0)
    assert removed > 0
    cps_after = [f for f in os.listdir(log)
                 if snap_mod._CHECKPOINT_RE.match(f) or snap_mod._CHECKPOINT_V2_RE.match(f)]
    assert len(cps_after) == 1  # only the newest survives
    assert int(cps_after[0].split(".")[0]) == dt.version()
    # superseded sidecars reclaimed; the keeper's remain
    left = os.listdir(sc_dir)
    assert 0 < len(left) < n_sc_before
    # table still replays fully from the surviving checkpoint
    dt2 = DeltaTable(table, spark=spark)
    assert dt2.to_df().count() == 11
    assert snap_mod.load_snapshot(table).version == dt.version()


def test_read_commit_info_skips_lookalike_lines(tmp_path):
    """read_commit_info / read_commit_meta_actions prefilter lines by
    substring before parsing — an add whose stats string CONTAINS the
    literal '"commitInfo"' or '"metaData"' must not be misread, and the
    real commitInfo is still found even when it is not the first line."""
    import json as _json
    import os as _os

    from delta_rs_spark.log import snapshot as snap_mod
    from delta_rs_spark.log.actions import CommitInfo, Metadata

    t = str(tmp_path / "t")
    log = _os.path.join(t, "_delta_log")
    _os.makedirs(log)
    schema = _json.dumps({"type": "struct", "fields": []})
    tricky_stats = _json.dumps(
        {"numRecords": 1, "minValues": {"s": '{"commitInfo": {"metaData": 1}}'}}
    )
    lines = [
        _json.dumps({"add": {"path": "a.parquet", "partitionValues": {},
                             "size": 1, "modificationTime": 1,
                             "dataChange": True, "stats": tricky_stats}}),
        _json.dumps({"metaData": {"id": "m", "format": {"provider": "parquet",
                     "options": {}}, "schemaString": schema,
                     "partitionColumns": [], "configuration": {},
                     "createdTime": 1}}),
        _json.dumps({"commitInfo": {"timestamp": 777, "operation": "WRITE"}}),
    ]
    with open(_os.path.join(log, f"{0:020d}.json"), "w") as f:
        f.write("\n".join(lines) + "\n")

    ci = snap_mod.read_commit_info(t, 0)
    assert isinstance(ci, CommitInfo) and ci.timestamp == 777
    metas = snap_mod.read_commit_meta_actions(t, 0)
    assert {type(a) for a in metas} == {CommitInfo, Metadata}
    with pytest.raises(FileNotFoundError):
        snap_mod.read_commit_info(t, 5)
