"""SHALLOW CLONE — zero-copy table fork.

The Delta protocol allows Add actions to carry ABSOLUTE paths, which is
all a shallow clone is: the new table's version-0 log references the
SOURCE table's data files in place, so cloning costs O(metadata) no
matter the table size — the 100 TB "dev copy of prod" / experiment /
what-if shape (delta-spark's `CREATE TABLE ... SHALLOW CLONE`; the
reference has no equivalent operation — `crates/core/src/operations/
mod.rs` lists none — but its scan, like ours, resolves absolute add
paths per PROTOCOL.md "Add File and Remove File: path").

Isolation properties (pinned in tests/test_clone.py):
 - mutations on the clone rewrite only rows into files under the CLONE
   root and tombstone the absolute references; the source never changes;
 - VACUUM on the clone walks only the clone's directory, so source
   files are structurally unreachable from its delete set (and vice
   versa);
 - deletion-vector descriptors with 'u' (uuid-relative) storage resolve
   against their table's OWN root, so they are rewritten at clone time
   to absolute-path 'p' descriptors (offset/size preserved); inline
   'i' and already-absolute 'p' descriptors pass through.

The clone starts at version 0 with a FRESH table id, the source's
schema, partitioning, configuration (caller-overridable), and the
source's exact protocol (feature flags like deletionVectors must
survive, or the clone would refuse its own inherited DVs).
"""

from __future__ import annotations

import os

from delta_rs_spark.log import commit as commit_mod
from delta_rs_spark.log import snapshot as snap_mod
from delta_rs_spark.log.actions import Add, CommitInfo, Metadata, Protocol
from delta_rs_spark.log.commit import DeltaError, TransactionInfo


def clone_table(
    src_uri: str,
    dst_uri: str,
    version: int | str | None = None,
    shallow: bool = True,
    name: str | None = None,
    description: str | None = None,
    configuration: dict[str, str] | None = None,
    replace: bool = False,
    commit_properties=None,
    post_commithook_properties=None,
) -> None:
    """Create a clone of ``src_uri`` (optionally at a historic
    ``version`` — time-travel clone) at ``dst_uri``.

    ``replace=True`` re-clones onto an EXISTING clone (delta-spark's
    repeated ``CREATE OR REPLACE ... CLONE`` semantics — the "refresh
    the dev copy" loop): one commit on the target tombstones every
    current file and re-references the source's current state, so the
    refreshed clone reads exactly like a fresh clone of today's source.
    Clone-local mutations are REPLACED (that is the delta-spark
    contract), but they stay reachable by time travel to pre-refresh
    versions — the target keeps its table id and version history, and
    the refresh is OCC-committed like any other mutation. The target's
    protocol is never downgraded: versions take the component-wise max
    and feature lists union with the source's.

    CAVEAT (same as delta-spark's): a SHALLOW clone's files still
    belong to the source — VACUUM **on the source** after the source
    tombstones them can delete files the clone references, breaking
    the clone (the source has no registry of its clones). Clones meant
    to outlive the source's retention window should be deep
    (``shallow=False``: files are copied, fully self-contained).
    tests/test_clone.py pins both the failure mode and the deep-clone
    immunity."""
    import hashlib
    import shutil

    from delta_rs_spark.operators.util import (
        encode_abs_add_path,
        local_table_path,
        resolve_add_path,
    )
    from delta_rs_spark.plans.deletion_vectors import dv_file_path

    src = local_table_path(src_uri)
    dst = local_table_path(dst_uri)
    if not snap_mod.is_delta_table(src):
        raise DeltaError(f"clone source is not a Delta table: {src}")
    dst_snap = None
    if snap_mod.is_delta_table(dst):
        if not replace:
            raise DeltaError(
                f"clone target already exists: {dst} (pass replace=True "
                "to refresh it to the source's current state)"
            )
        dst_snap = snap_mod.load_snapshot(dst)
    if version is not None and not isinstance(version, int):
        # timestamp clone: ISO string / datetime, the same resolution
        # as DeltaTable.load_as_version
        if isinstance(version, str):
            from delta_rs_spark.operators.util import parse_rfc3339

            version = parse_rfc3339(version)
        version = snap_mod.version_at_timestamp(
            src, int(version.timestamp() * 1000)
        )
    snapshot = snap_mod.load_snapshot(src, version)
    os.makedirs(dst, exist_ok=True)

    def _salted(rel: str, origin: str, taken: set[str]) -> str:
        """Deep-clone dst path, unique among ``taken``: two source files
        in DIFFERENT foreign directories may flatten to one basename
        (plausible after convert_to_deltalake's preserved layouts) — the
        second copy2 would silently overwrite the first and both adds
        would reference the survivor (r10 ADVICE, medium). Salt with a
        hash of the origin directory until free."""
        n = 8
        while rel in taken:
            digest = hashlib.sha256(origin.encode()).hexdigest()[:n]
            head, _, base = rel.rpartition("/")
            rel = f"{head}/{digest}-{base}" if head else f"{digest}-{base}"
            n += 4  # same-origin re-collision is impossible; grow anyway
        taken.add(rel)
        return rel

    used_rels: set[str] = set()
    if dst_snap is not None and not shallow:
        # deep REFRESH: the previous clone generation's data files are
        # still on disk AND still referenced by the target's tombstoned
        # pre-refresh versions — a fresh _salted run that only tracks
        # this invocation could flatten a different foreign file onto an
        # old name and overwrite bytes time travel still reads (r11
        # ADVICE). Seed with every file already under dst (superset of
        # every historical add) so no copy can land on an existing name.
        for walk_root, walk_dirs, walk_names in os.walk(dst):
            walk_dirs[:] = [d for d in walk_dirs if d != "_delta_log"]
            for n in walk_names:
                used_rels.add(
                    os.path.relpath(os.path.join(walk_root, n), dst).replace(
                        os.sep, "/"
                    )
                )
    dv_copied: dict[str, str] = {}  # source sidecar -> dst abs path
    adds: list[Add] = []
    for a in snapshot.files.values():
        dv = a.deletion_vector
        # resolves relative adds against src AND decodes absolute
        # file:-URI adds (cloning a clone), so chains stay one hop
        src_abs = resolve_add_path(src, a.path)
        if shallow:
            if dv and dv.get("storageType") == "u":
                dv = {
                    **dv,
                    "storageType": "p",
                    "pathOrInlineDv": encode_abs_add_path(
                        dv_file_path(src, dv["pathOrInlineDv"])
                    ),
                }
            # PROTOCOL.md: an absolute reference is a percent-encoded
            # URI, not a raw filesystem path (r10 ADVICE) — external
            # readers decode by spec, ours flags the decode on the
            # scheme (resolve_add_path)
            path = encode_abs_add_path(src_abs)
        else:
            # deep: copy the data file (and DV sidecar) under dst; the
            # clone is self-contained and survives any source vacuum
            if a.path.startswith("file:") or os.path.isabs(a.path):
                # deep clone OF a shallow clone: keep the k=v partition
                # dirs (Hive inference derives partition values from
                # them), drop the foreign root
                comps = [os.path.basename(src_abs)]
                d = os.path.dirname(src_abs)
                while "=" in os.path.basename(d):
                    comps.insert(0, os.path.basename(d))
                    d = os.path.dirname(d)
                rel = "/".join(comps)
            else:
                rel = a.path
            rel = _salted(rel, os.path.dirname(src_abs), used_rels)
            dst_abs = os.path.join(dst, rel)
            os.makedirs(os.path.dirname(dst_abs), exist_ok=True)
            shutil.copy2(src_abs, dst_abs)
            if dv and dv.get("storageType") in ("u", "p"):
                dv_src = (
                    dv_file_path(src, dv["pathOrInlineDv"])
                    if dv["storageType"] == "u"
                    else resolve_add_path(src, dv["pathOrInlineDv"])
                )
                if dv_src in dv_copied:  # shared sidecar: copy once
                    dv_dst = dv_copied[dv_src]
                else:
                    dv_rel = _salted(
                        os.path.basename(dv_src),
                        os.path.dirname(dv_src),
                        used_rels,
                    )
                    dv_dst = os.path.join(dst, dv_rel)
                    shutil.copy2(dv_src, dv_dst)
                    dv_copied[dv_src] = dv_dst
                dv = {
                    **dv,
                    "storageType": "p",
                    "pathOrInlineDv": encode_abs_add_path(dv_dst),
                }
            path = rel
        adds.append(
            Add(
                path=path,
                size=a.size,
                modification_time=a.modification_time,
                data_change=True,
                partition_values=a.partition_values,
                stats=a.stats,
                tags=a.tags,
                deletion_vector=dv,
                # row tracking: the clone preserves row identity — without
                # these the target's commit hook would re-allocate fresh
                # ids that can collide with ids still MATERIALIZED inside
                # the (shared) parquet files
                base_row_id=a.base_row_id,
                default_row_commit_version=a.default_row_commit_version,
            )
        )

    proto = snapshot.protocol or Protocol()
    meta = Metadata(
        schema_string=snapshot.schema_string,
        partition_columns=list(snapshot.partition_columns),
        configuration={**snapshot.configuration, **(configuration or {})},
        name=name,
        description=description,
    )
    removes: list = []
    read_version = -1
    if dst_snap is not None:
        # refresh: keep the target's identity + history; tombstone every
        # current file (DV descriptor included — (path, dvId) is the
        # file identity) and never downgrade the protocol
        from delta_rs_spark.log.actions import now_ms

        meta.id = dst_snap.metadata.id
        old_proto = dst_snap.protocol or Protocol()

        def _feats(a, b):
            if a is None and b is None:
                return None
            return sorted(set(a or []) | set(b or []))

        proto = Protocol(
            min_reader_version=max(
                proto.min_reader_version, old_proto.min_reader_version
            ),
            min_writer_version=max(
                proto.min_writer_version, old_proto.min_writer_version
            ),
            reader_features=_feats(
                proto.reader_features, old_proto.reader_features
            ),
            writer_features=_feats(
                proto.writer_features, old_proto.writer_features
            ),
        )
        ts = now_ms()
        removes = [a.remove(ts) for a in dst_snap.files.values()]
        read_version = dst_snap.version
    op = CommitInfo(
        "CLONE",
        {
            "source": src,
            "sourceVersion": snapshot.version,
            "isShallow": shallow,
            "replace": dst_snap is not None,
        },
        operation_metrics={
            "numClonedFiles": len(adds),
            "clonedBytes": sum(a.size for a in adds),
            "numRemovedFiles": len(removes),
        },
    )
    # domain metadata travels with the clone (delta-spark parity); for
    # row tracking it is load-bearing — the watermark can exceed every
    # add's base range when the source materialized ids through rewrites,
    # so deriving it from the adds alone could re-issue live ids
    domains = [
        dm for dm in snapshot.domain_metadata.values() if not dm.removed
    ]
    commit_mod.commit(
        dst,
        [proto, meta, *domains, *removes, *adds],
        op,
        read_version,
        TransactionInfo(blind_append=False, read_whole_table=True),
        commit_properties=commit_properties,
        post_commit=post_commithook_properties,
    )
