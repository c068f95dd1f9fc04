"""The r12 snapshot cache: load_snapshot memoizes replayed snapshots
per process and extends them incrementally. These tests pin the cache's
CONTRACT — callers must be unable to observe it except as speed:
isolation of returned copies, incremental extension, and invalidation
when a table is recreated at the same path or a commit file is
replaced."""

import json
import os
import shutil

import pytest

from delta_rs_spark.log import snapshot as snap_mod
from delta_rs_spark.log.actions import (
    Add,
    CommitInfo,
    Metadata,
    Protocol,
    action_to_line,
)


def _write_commit(tp: str, v: int, adds: list[str], removes: list[str] = ()):
    lines = [action_to_line(CommitInfo(operation="WRITE", timestamp=1000 + v))]
    if v == 0:
        lines.append(
            action_to_line(Protocol(min_reader_version=1, min_writer_version=2))
        )
        lines.append(
            action_to_line(
                Metadata(
                    schema_string=json.dumps({"type": "struct", "fields": []}),
                    partition_columns=[],
                    configuration={},
                )
            )
        )
    for p in adds:
        lines.append(
            action_to_line(
                Add(
                    path=p,
                    size=1,
                    modification_time=1,
                    data_change=True,
                    partition_values={},
                    stats=None,
                )
            )
        )
    from delta_rs_spark.log.actions import Remove

    for p in removes:
        lines.append(action_to_line(Remove(p, 1000 + v, True, {}, 1)))
    os.makedirs(snap_mod.log_dir(tp), exist_ok=True)
    with open(snap_mod.commit_file(tp, v), "w") as f:
        f.write("\n".join(lines) + "\n")


@pytest.fixture()
def table(tmp_path):
    tp = str(tmp_path / "t")
    _write_commit(tp, 0, ["a.parquet"])
    return tp


def test_cache_hit_returns_isolated_copy(table):
    s1 = snap_mod.load_snapshot(table)
    s2 = snap_mod.load_snapshot(table)
    assert s1 is not s2 and s1.files is not s2.files
    # mutating a returned snapshot (update_incremental-style apply)
    # must not leak into later loads
    s2.files.clear()
    s3 = snap_mod.load_snapshot(table)
    assert set(s3.files) == {"a.parquet"}


def test_incremental_extension_applies_tail_only(table):
    snap_mod.load_snapshot(table)  # seed cache at v0
    _write_commit(table, 1, ["b.parquet"])
    _write_commit(table, 2, [], removes=["a.parquet"])
    s = snap_mod.load_snapshot(table)
    assert s.version == 2
    assert set(s.files) == {"b.parquet"}
    assert [r.path for r in s.tombstones] == ["a.parquet"]
    # versioned loads still reconstruct history exactly
    s0 = snap_mod.load_snapshot(table, 0)
    assert s0.version == 0 and set(s0.files) == {"a.parquet"}


def test_cached_base_with_lost_tail_commit_falls_back_to_checkpoint(table):
    """A cached base whose replay hits a missing commit (cleaned up
    below a newer checkpoint) must fall back to the checkpoint base and
    yield exactly what a cold load does."""
    _write_commit(table, 1, ["b.parquet"])
    for v in range(2, 6):
        _write_commit(table, v, [f"f{v}.parquet"], removes=[f"f{v - 1}.parquet"] if v > 2 else ["a.parquet"])
        if v == 4:
            snap_mod.write_checkpoint(table, snap_mod.load_snapshot(table, 4))
    snap_mod.clear_snapshot_cache()
    snap_mod.load_snapshot(table, 1)  # the only cached base: v1
    os.remove(snap_mod.commit_file(table, 3))
    s = snap_mod.load_snapshot(table, 5)
    snap_mod.clear_snapshot_cache()
    cold = snap_mod.load_snapshot(table, 5)
    assert s.version == cold.version == 5
    assert set(s.files) == set(cold.files) == {"b.parquet", "f5.parquet"}
    assert [r.path for r in s.tombstones] == [r.path for r in cold.tombstones]
    assert (s.metadata, s.protocol) == (cold.metadata, cold.protocol)


def test_recreated_table_at_same_path_misses_cache(table):
    snap_mod.load_snapshot(table)
    shutil.rmtree(table)
    _write_commit(table, 0, ["z.parquet"])  # same version, same byte size class
    s = snap_mod.load_snapshot(table)
    assert set(s.files) == {"z.parquet"}


def test_replaced_commit_file_invalidates(table):
    snap_mod.load_snapshot(table)
    # a foreign writer replacing the newest commit (e.g. test fixtures
    # crafting logs by hand) must be picked up, not served stale
    os.remove(snap_mod.commit_file(table, 0))
    _write_commit(table, 0, ["other.parquet"])
    s = snap_mod.load_snapshot(table)
    assert set(s.files) == {"other.parquet"}


def test_cache_bounded(tmp_path):
    for i in range(snap_mod._SNAP_CACHE_MAX + 8):
        tp = str(tmp_path / f"t{i}")
        _write_commit(tp, 0, [f"f{i}.parquet"])
        snap_mod.load_snapshot(tp)
    assert len(snap_mod._snap_cache) <= snap_mod._SNAP_CACHE_MAX
