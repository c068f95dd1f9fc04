"""Optimistic-concurrency commit protocol.

Mirrors the reference's transaction machinery
(reference: crates/core/src/kernel/transaction/mod.rs:591 CommitBuilder,
logstore/mod.rs:832-841 rename_if_not_exists,
kernel/transaction/conflict_checker.rs:27-90 conflict classes):

1. serialize actions to ``<version+1>.json.tmp``;
2. atomically publish via ``os.link`` (create-if-absent on every POSIX
   filesystem — the local analogue of the reference's
   ``rename_if_not_exists``; S3-style stores would need a conditional-put
   LogStore, same as the reference's crates/aws);
3. on collision, replay the winning commits against this transaction's
   read set and isolation level; retry up to ``max_retries`` (15) or
   raise the matching concurrency error.

A commit builds on one base snapshot, the table at ``read_version``
(none for a create), which ``commit()`` loads itself. Every table-state
decision reads it or the commit's own Metadata: the append-only check,
the row-id watermark, in-commit timestamps and the post-commit hooks.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field

from delta_rs_spark.log.actions import (
    Action,
    Add,
    CommitInfo,
    Metadata,
    Protocol,
    Remove,
    Txn,
    action_to_line,
    now_ms,
)
from delta_rs_spark.log import snapshot as snap_mod

MAX_RETRIES = 15
CHECKPOINT_INTERVAL_DEFAULT = 100


class DeltaError(Exception):
    pass


class CommitFailedError(DeltaError):
    pass


class ConcurrentAppendError(CommitFailedError):
    """A concurrent commit added files this transaction may have read."""


class ConcurrentDeleteReadError(CommitFailedError):
    """A concurrent commit removed a file this transaction read."""


class ConcurrentDeleteDeleteError(CommitFailedError):
    """A concurrent commit removed a file this transaction also removes."""


class MetadataChangedError(CommitFailedError):
    pass


class ProtocolChangedError(CommitFailedError):
    pass


class ConcurrentTransactionError(CommitFailedError):
    """A concurrent commit advanced the same txn appId watermark."""


class ConcurrentDomainMetadataError(CommitFailedError):
    """A concurrent commit changed a domain this transaction also writes."""


class TableNotFoundError(DeltaError, FileNotFoundError):
    """No ``_delta_log`` at the given path (reference:
    python/deltalake/exceptions.py TableNotFoundError). Doubles as
    FileNotFoundError for callers that predate delta_rs_spark.exceptions."""


class DeltaProtocolError(DeltaError):
    """Table requires reader/writer versions or features this engine does
    not support (reference: DeltaProtocolError)."""


@dataclass
class TransactionInfo:
    """What this transaction read — drives conflict detection. Table
    state (configuration, row-id watermark) is not carried here: commit()
    reads it from the base snapshot at ``read_version``."""

    read_files: set[str] = field(default_factory=set)
    read_whole_table: bool = False
    blind_append: bool = True  # no reads at all (pure append)
    app_ids: set[str] = field(default_factory=set)
    isolation_level: str = "WriteSerializable"
    written_domains: set[str] = field(default_factory=set)


class LogStore:
    """Atomic put-if-absent publisher for commit files (reference:
    logstore/mod.rs:832-841 rename_if_not_exists; the S3 production
    impl is crates/aws's conditional-put/DynamoDB coordination).

    One method is the whole contract: publish `content` at `target`
    atomically, raising FileExistsError iff some other writer won the
    version. Everything else in the commit protocol (conflict replay,
    retries, checkpointing) is store-agnostic.
    """

    def put_if_absent(self, target: str, content: str) -> None:
        raise NotImplementedError


class PosixHardLinkLogStore(LogStore):
    """Local-filesystem store: fsync a temp file, then ``os.link`` —
    create-if-absent on every POSIX filesystem."""

    def put_if_absent(self, target: str, content: str) -> None:
        tmp = f"{target}.{os.getpid()}.{id(content)}.tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            f.write(content)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, target)  # atomic put-if-absent
        finally:
            os.unlink(tmp)


class InMemoryCASLogStore(LogStore):
    """Process-local compare-and-set arbitration (the shape of an S3
    conditional-put / DynamoDB-coordinated store: an external CAS decides
    the winner, then the winner uploads). Useful for tests and as the
    template for a real object-store impl."""

    def __init__(self) -> None:
        import threading

        self._lock = threading.Lock()
        self._claimed: set[str] = set()

    def put_if_absent(self, target: str, content: str) -> None:
        # claim AND publish under the lock, with an atomic rename, so a
        # loser that sees FileExistsError can rely on the winning commit
        # being fully readable (the conflict-replay loop reads it)
        with self._lock:
            if target in self._claimed or os.path.exists(target):
                raise FileExistsError(target)
            tmp = f"{target}.{os.getpid()}.cas.tmp"
            with open(tmp, "w", encoding="utf-8") as f:
                f.write(content)
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, target)
            self._claimed.add(target)


class S3ConditionalPutLogStore(LogStore):
    """Commit arbitration on S3 via conditional PUT (``If-None-Match: *``)
    — the modern production slot the reference fills with
    ``S3LogStore`` (crates/aws/src/logstore/default_logstore.rs; the
    DynamoDB-coordinated variant predates S3 conditional writes and
    remains the legacy alternative).

    The winner's PUT succeeds; every loser gets 412 PreconditionFailed,
    surfaced as ``FileExistsError`` so the store-agnostic commit loop
    (conflict replay + retry) takes over — identical control flow to the
    POSIX store. A boto3-style client can be injected for tests or
    custom credentials; otherwise boto3 is imported lazily (it is not
    bundled in this sandbox).

    Scope note: this arbitrates COMMITS. Snapshot/data reads on an
    object store go through Spark's Hadoop s3a connector; the local
    snapshot loader in log/snapshot.py reads through the filesystem and
    would need an fsspec seam for full remote-log reads.
    """

    def __init__(self, client=None):
        if client is None:
            try:
                import boto3  # not bundled here; production dependency
            except ImportError as e:  # pragma: no cover
                raise ImportError(
                    "S3ConditionalPutLogStore needs boto3 (or pass client=)"
                ) from e
            client = boto3.client("s3")
        self._client = client

    @staticmethod
    def _parse(target: str) -> tuple[str, str]:
        m = re.match(r"^s3a?://([^/]+)/(.+)$", target)
        if not m:
            raise ValueError(f"not an s3:// or s3a:// URI: {target!r}")
        return m.group(1), m.group(2)

    def put_if_absent(self, target: str, content: str) -> None:
        bucket, key = self._parse(target)
        try:
            self._client.put_object(
                Bucket=bucket,
                Key=key,
                Body=content.encode("utf-8"),
                IfNoneMatch="*",
            )
        except Exception as e:
            code = str(
                getattr(e, "response", {}).get("Error", {}).get("Code", "")
            )
            if code in ("PreconditionFailed", "412", "ConditionalRequestConflict"):
                # someone else holds (or is concurrently writing) the
                # version file — standard lost-the-race signal
                raise FileExistsError(target) from e
            raise


_DEFAULT_LOG_STORE: LogStore = PosixHardLinkLogStore()


def set_log_store(store: LogStore) -> LogStore:
    """Swap the global LogStore (returns the previous one)."""
    global _DEFAULT_LOG_STORE
    prev = _DEFAULT_LOG_STORE
    _DEFAULT_LOG_STORE = store
    return prev


def _check_conflicts(winning: list[Action], txn: TransactionInfo, our_removes: set[str]) -> None:
    from delta_rs_spark.log.actions import DomainMetadata

    for a in winning:
        if isinstance(a, Metadata):
            raise MetadataChangedError("concurrent metadata update")
        if isinstance(a, Protocol):
            raise ProtocolChangedError("concurrent protocol update")
        if isinstance(a, Txn) and a.app_id in txn.app_ids:
            raise ConcurrentTransactionError(f"concurrent transaction for appId {a.app_id}")
        if isinstance(a, DomainMetadata) and a.domain in txn.written_domains:
            raise ConcurrentDomainMetadataError(
                f"concurrent domainMetadata update for {a.domain!r}"
            )
        if isinstance(a, Remove):
            if a.path in our_removes:
                raise ConcurrentDeleteDeleteError(f"file removed twice: {a.path}")
            if txn.read_whole_table or a.path in txn.read_files:
                raise ConcurrentDeleteReadError(f"removed file was read: {a.path}")
        if isinstance(a, Add) and a.data_change:
            if txn.blind_append:
                continue  # appends never conflict with blind appends
            if txn.isolation_level == "SnapshotIsolation":
                # weakest level (reference: conflict_checker.rs isolation
                # lattice): concurrent appends never invalidate the read
                # snapshot; only the Remove checks above apply
                continue
            if txn.isolation_level == "Serializable" or txn.read_whole_table:
                raise ConcurrentAppendError(f"concurrent append: {a.path}")
            # WriteSerializable with a bounded read set: an added file
            # cannot be in our read set (it did not exist), so allow.


def commit(
    table_path: str,
    actions: list[Action],
    operation: CommitInfo,
    read_version: int,
    txn_info: TransactionInfo | None = None,
    max_retries: int = MAX_RETRIES,
    log_store: LogStore | None = None,
    commit_properties=None,
    post_commit=None,
) -> int:
    """Write actions as the next commit; returns the committed version.

    The commit builds on the snapshot at ``read_version`` (a create when
    it is negative): delta.appendOnly is checked against that snapshot's
    configuration; row tracking, in-commit timestamps and the post-commit
    hooks follow the configuration of this commit's Metadata action, or
    the snapshot's when it carries none; row ids are allocated above the
    snapshot's high watermark. A snapshot that fails to load fails the
    commit.

    ``commit_properties`` (CommitProperties) merges custom_metadata into
    the commitInfo (userMetadata promoted to the protocol string field),
    overrides the retry budget, and appends app-transaction watermarks
    as ``txn`` actions. ``post_commit`` (PostCommitHookProperties) gates
    the checkpoint hook and expired-log cleanup (reference
    transaction.py:26-77, kernel/transaction/mod.rs:356)."""
    create_checkpoint = True
    cleanup_logs: bool | None = None
    if commit_properties is not None:
        if commit_properties.max_commit_retries is not None:
            max_retries = commit_properties.max_commit_retries
        if commit_properties.custom_metadata:
            extra = dict(commit_properties.custom_metadata)
            um = extra.pop("userMetadata", None)
            if um is not None:
                operation.user_metadata = str(um)
            op_params = extra.pop("operationParameters", None)
            if op_params:
                # merge UNDER the operation's own parameters so commitInfo
                # carries ONE operationParameters object with no duplicate
                # keys — generated parameters win, custom values are
                # stringified like every operationParameters value
                # (reference test_operation_parameters_merge_without_
                # duplicate_json_keys: customBoolean -> "true",
                # customParameter -> '{"from":"metadata"}')
                for k, v in op_params.items():
                    if k not in operation.operation_parameters:
                        operation.operation_parameters[k] = (
                            v
                            if isinstance(v, str)
                            else json.dumps(v, separators=(",", ":"))
                        )
            operation.extra.update(extra)
        for entry in commit_properties.app_transactions or []:
            # (app_id, version) tuple or a Transaction-shaped object
            if hasattr(entry, "app_id"):
                app_id, app_version = entry.app_id, entry.version
            else:
                app_id, app_version = entry
            actions = list(actions) + [Txn(app_id=app_id, version=int(app_version))]
    if post_commit is not None:
        create_checkpoint = post_commit.create_checkpoint
        cleanup_logs = post_commit.cleanup_expired_logs
    txn_info = txn_info or TransactionInfo(blind_append=False, read_whole_table=True)
    store = log_store or _DEFAULT_LOG_STORE
    our_removes = {a.path for a in actions if isinstance(a, Remove)}
    # the base snapshot: every table-state decision below reads it (the
    # caller has just loaded this version, so this is a cache hit)
    read = snap_mod.load_snapshot(table_path, read_version) if read_version >= 0 else None
    read_cfg = read.configuration if read is not None else {}
    # the table config once this commit lands: its own Metadata wins
    meta = next((a for a in actions if isinstance(a, Metadata)), None)
    cfg = (meta.configuration or {}) if meta is not None else read_cfg
    # delta.appendOnly: reject any commit that removes DATA (reference
    # table/config.rs appendOnly + per-operation checks). Removes with
    # dataChange=false (OPTIMIZE's rearrangements) stay allowed, as do
    # table-redefinition commits (CREATE OR REPLACE carries Metadata).
    if (
        read_cfg.get("delta.appendOnly", "").lower() == "true"
        and not operation.operation.startswith("CREATE")
        and any(isinstance(a, Remove) and a.data_change for a in actions)
    ):
        raise DeltaError(
            f"table is append-only (delta.appendOnly=true): "
            f"{operation.operation} would remove data"
        )
    os.makedirs(snap_mod.log_dir(table_path), exist_ok=True)
    attempt_version = read_version + 1

    # row tracking (PROTOCOL.md): when enabled, every data Add gets a
    # baseRowId range above the table's high watermark, stamped with the
    # commit version it actually lands at — so allocation re-runs per
    # attempt, and OCC retries first advance the watermark past whatever
    # the winning commits claimed (scanned below from the same replay
    # that drives conflict checking).
    from delta_rs_spark.plans import row_tracking as _rt

    rt_wm: int | None = None
    if _rt.enabled(cfg) and any(isinstance(a, Add) for a in actions):
        rt_wm = _rt.high_watermark(read) if read is not None else -1

    # in-commit timestamps (Delta PROTOCOL.md "In-Commit Timestamps"):
    # when enabled, the commit's own inCommitTimestamp is the table's
    # clock — monotonically increasing regardless of filesystem mtimes,
    # so timestamp time travel survives log copies/restores
    ict_key = "delta.enableInCommitTimestamps"
    ict_enabled = cfg.get(ict_key, "").lower() == "true"
    # mid-life enablement: when this very commit's Metadata flips the
    # property on an existing table that did not have it, the SAME commit
    # records the enablement version and timestamp — readers use them to
    # know where the mtime clock ends and the ICT clock begins. (A table
    # created with ICT never sets these.)
    enabling_meta = (
        meta
        if ict_enabled
        and read is not None
        and read_cfg.get(ict_key, "").lower() != "true"
        else None
    )

    for _attempt in range(max_retries + 1):
        operation.timestamp = now_ms()
        operation.read_version = read_version if read_version >= 0 else None
        if ict_enabled:
            # strictly above the previous commit's timestamp (None
            # before the first commit)
            prev = snap_mod.commit_timestamp(table_path, attempt_version - 1)
            ict = max(operation.timestamp, (prev or 0) + 1)
            operation.extra["inCommitTimestamp"] = ict
            operation.timestamp = ict
            if enabling_meta is not None:
                enabling_meta.configuration[
                    "delta.inCommitTimestampEnablementVersion"
                ] = str(attempt_version)
                enabling_meta.configuration[
                    "delta.inCommitTimestampEnablementTimestamp"
                ] = str(ict)
        attempt_actions = actions
        if rt_wm is not None:
            attempt_actions, _ = _rt.assign_base_row_ids(
                actions, rt_wm, attempt_version
            )
        lines = [action_to_line(operation)] + [
            action_to_line(a) for a in attempt_actions
        ]
        target = snap_mod.commit_file(table_path, attempt_version)
        try:
            store.put_if_absent(target, "\n".join(lines) + "\n")
            if create_checkpoint:
                _maybe_checkpoint(table_path, attempt_version, cfg)
            _maybe_cleanup_logs(table_path, cleanup_logs, cfg)
            _maybe_autocompact(table_path, operation, cfg)
            return attempt_version
        except FileExistsError:
            # replay winning commit(s), check conflicts, then retry on top
            latest = snap_mod.latest_version(table_path)
            if latest is None or latest < attempt_version:
                # the winner claimed the version but its commit is not
                # visible yet (possible on eventually-visible stores):
                # back off and retry the same version
                import time as _time

                _time.sleep(0.01)
                continue
            for v in range(attempt_version, latest + 1):
                winning = snap_mod.read_commit_actions(table_path, v)
                _check_conflicts(winning, txn_info, our_removes)
                if rt_wm is not None:
                    rt_wm = _rt.advance_watermark_from(winning, rt_wm)
            attempt_version = latest + 1
    raise CommitFailedError(f"exceeded {max_retries} commit retries at {table_path}")


def _maybe_cleanup_logs(
    table_path: str, override: bool | None, cfg: dict[str, str]
) -> None:
    """Post-commit hook: delete expired log files when
    PostCommitHookProperties.cleanup_expired_logs is True, or when it is
    None and the table sets delta.enableExpiredLogCleanup (reference
    transaction.py:33-38 — config decides unless overridden). ``cfg``
    is the table config as of the new commit."""
    enabled = override
    if enabled is None:
        enabled = cfg.get("delta.enableExpiredLogCleanup", "false").lower() == "true"
    if not enabled:
        return
    try:
        from delta_rs_spark.operators.vacuum import cleanup_metadata

        cleanup_metadata(table_path)
    except Exception:
        # log cleanup is an optimization; never fail the commit for it
        pass


def _maybe_checkpoint(table_path: str, version: int, cfg: dict[str, str]) -> None:
    """Post-commit hook: parquet checkpoint every delta.checkpointInterval
    commits (reference: protocol/checkpoints.rs + transaction post-commit).
    ``cfg`` is the table config as of the new commit, so the off-interval
    case (every commit but one in ``checkpointInterval``) decides without
    loading a snapshot."""
    try:
        interval = int(cfg.get("delta.checkpointInterval", CHECKPOINT_INTERVAL_DEFAULT))
        if not (interval > 0 and version > 0 and version % interval == 0):
            return
        snapshot = snap_mod.load_snapshot(table_path, version)
        # delta.checkpointPolicy=v2 (PROTOCOL.md): auto checkpoints use
        # the V2 sidecar layout when the table feature allows; silently
        # classic otherwise (the hook never fails a commit)
        use_v2 = cfg.get("delta.checkpointPolicy", "classic") == "v2" and (
            snapshot.protocol is not None
            and "v2Checkpoint" in (snapshot.protocol.reader_features or [])
        )
        snap_mod.write_checkpoint(table_path, snapshot, v2=use_v2)
    except Exception:
        # checkpointing is an optimization; never fail the commit for it
        pass


#: auto-compact fires once at least this many small files accumulate
AUTOCOMPACT_MIN_FILES = 16


def _maybe_autocompact(
    table_path: str, operation: CommitInfo, cfg: dict[str, str]
) -> None:
    """Post-commit hook: delta.autoOptimize.autoCompact=true compacts
    small files right after the write that crossed the threshold — the
    steady-state answer to streaming/micro-batch ingest fragmenting a
    table (delta-spark's Auto Compaction semantics). ``cfg`` is the table
    config as of the new commit. Guarded against recursion via the
    operation name; needs an active SparkSession (driver-side hooks run
    where writes run)."""
    if operation.operation in ("OPTIMIZE", "REORG") or operation.operation.startswith(
        "VACUUM"
    ):
        return
    if cfg.get("delta.autoOptimize.autoCompact", "").lower() != "true":
        return
    try:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is None:
            return
        snapshot = snap_mod.load_snapshot(table_path)
        target = int(cfg.get("delta.targetFileSize", 128 * 1024 * 1024))
        min_files = int(
            cfg.get("delta.autoOptimize.minNumFiles", AUTOCOMPACT_MIN_FILES)
        )
        small = [a for a in snapshot.files.values() if a.size < target]
        if len(small) < min_files:
            return
        from delta_rs_spark.table import DeltaTable

        DeltaTable(table_path, spark=spark).optimize.compact()
    except Exception:
        # auto-compaction is an optimization; never fail the commit
        pass
