"""OPTIMIZE — bin-packing compaction and Z-order clustering.

Compaction mirrors the reference (reference:
crates/core/src/operations/optimize.rs — plan_compaction_bins_in_stable_order
:1134): files smaller than target_size are compacted, per partition, into
~target-size outputs. On Spark the whole compaction is ONE distributed
job: read every undersized file, write back with ``partitionBy`` +
``maxRecordsPerFile`` so rolling recreates target-size files per
partition — no per-bin driver loop, scales to any partition count.

Z-order mirrors the reference's ``zorder_key`` UDF
(optimize.rs:1511-1650): each clustering column is bucketed to 8 bits
(numerics/dates linearly between min and max via ``width_bucket`` —
min/max come from file stats, no extra scan; other types hash-bucketed),
the bits are interleaved into a Morton key with a vectorized Pandas UDF,
and files are rewritten range-partitioned + sorted by that key so
min/max file stats become selective on all clustered columns.
"""

from __future__ import annotations

from typing import Any

import pandas as pd

from pyspark.sql import functions as F
from pyspark.sql import types as T

from delta_rs_spark.log import commit as commit_mod
from delta_rs_spark.log import snapshot as snap_mod
from delta_rs_spark.log.actions import CommitInfo, now_ms
from delta_rs_spark.log.commit import DeltaError, TransactionInfo
from delta_rs_spark.plans.skipping import candidate_files

DEFAULT_TARGET_SIZE = 256 * 1024 * 1024  # reference default delta.targetFileSize-ish


class TableOptimizer:
    """(reference: python/deltalake/table.py:2191-2358)"""

    def __init__(self, dt: Any):
        self.dt = dt

    def compact(
        self,
        partition_filters: list | None = None,
        target_size: int | None = None,
        max_concurrent_tasks: int | None = None,  # Spark schedules tasks itself
        min_commit_interval: int | None = None,
        writer_properties=None,
        commit_properties=None,
        post_commithook_properties=None,
    ) -> dict[str, Any]:
        from delta_rs_spark.table import _dnf_to_sql, read_snapshot_df
        from delta_rs_spark.writer import write_files

        spark = self.dt.spark
        table_path = self.dt.table_uri
        snapshot = snap_mod.load_snapshot(table_path)
        from delta_rs_spark.plans.column_mapping import ensure_writable

        ensure_writable(snapshot)
        part_cols = snapshot.partition_columns
        target = target_size or int(
            snapshot.configuration.get("delta.targetFileSize", DEFAULT_TARGET_SIZE)
        )
        pred = _dnf_to_sql(partition_filters)
        adds = candidate_files(snapshot, pred)
        small = [a for a in adds if a.size < target]
        # group by partition: a partition with a single small file needs no work
        by_part: dict[tuple, list] = {}
        for a in small:
            by_part.setdefault(tuple(sorted((a.partition_values or {}).items())), []).append(a)
        to_compact = [a for group in by_part.values() if len(group) > 1 for a in group]

        metrics = {
            "numFilesAdded": 0,
            "numFilesRemoved": 0,
            "totalConsideredFiles": len(adds),
            "totalFilesSkipped": len(adds) - len(to_compact),
            "partitionsOptimized": sum(1 for g in by_part.values() if len(g) > 1),
        }
        if not to_compact:
            return metrics

        def compact_files(files: list) -> tuple[list, list]:
            import math as _math

            tb = sum(a.size for a in files)
            tr = sum(a.num_records() or 0 for a in files)
            rows_per_file = max(1, int(tr * target / tb)) if tb and tr else None
            # pure rearrangement: row ids AND commit versions stay
            df = read_snapshot_df(
                spark, snapshot, table_path, files=files, keep_row_ids=True
            )
            # maxRecordsPerFile only SPLITS task outputs — it never merges
            # them, and an unpartitioned write has one task per input
            # file, so without this coalesce "compaction" reproduced the
            # input file count 1:1. Shrink to the target-size bin count.
            n_out = max(1, _math.ceil(tb / target)) if tb else 1
            if n_out < len(files):
                df = df.coalesce(n_out)
            new_adds = write_files(
                df,
                table_path,
                part_cols,
                snapshot.configuration,
                snapshot.schema_string,
                max_records_per_file=rows_per_file,
            )
            for a in new_adds:
                a.data_change = False
            ts = now_ms()
            removes = [a.remove(ts, data_change=False) for a in files]
            return new_adds, removes

        def commit_batch(new_adds: list, removes: list, read_version: int) -> int:
            batch_metrics = {
                **metrics,
                "numFilesAdded": len(new_adds),
                "numFilesRemoved": len(removes),
            }
            op = CommitInfo(
                "OPTIMIZE",
                {"targetSize": target, **({"predicate": pred} if pred else {})},
                operation_metrics=batch_metrics,
            )
            txn = TransactionInfo(
                blind_append=False,
                read_files={r.path for r in removes},
            )
            return commit_mod.commit(
                table_path, list(new_adds) + removes, op, read_version, txn
            )

        if min_commit_interval is None:
            new_adds, removes = compact_files(to_compact)
            metrics["numFilesAdded"] = len(new_adds)
            metrics["numFilesRemoved"] = len(removes)
            commit_batch(new_adds, removes, snapshot.version)
        else:
            # incremental commits (reference optimize.rs min_commit_interval):
            # long compactions publish progress every `interval` seconds, one
            # partition bin at a time, so a crash loses at most one interval
            # of work and concurrent readers see files shrink progressively
            import time as _time

            groups = [g for g in by_part.values() if len(g) > 1]
            read_version = snapshot.version
            pend_adds: list = []
            pend_removes: list = []
            t_last = _time.time()
            for g in groups:
                a, r = compact_files(g)
                pend_adds.extend(a)
                pend_removes.extend(r)
                metrics["numFilesAdded"] += len(a)
                metrics["numFilesRemoved"] += len(r)
                if _time.time() - t_last >= min_commit_interval:
                    read_version = commit_batch(pend_adds, pend_removes, read_version)
                    pend_adds, pend_removes = [], []
                    t_last = _time.time()
            if pend_adds or pend_removes:
                commit_batch(pend_adds, pend_removes, read_version)
        self.dt.refresh()
        return metrics

    def reorg_purge(
        self,
        partition_filters: list | None = None,
        dv_ratio: float = 0.0,
        commit_properties=None,
        post_commithook_properties=None,
    ) -> dict[str, Any]:
        """REORG TABLE ... APPLY (PURGE): rewrite ONLY files carrying
        deletion vectors (optionally only those whose DV cardinality
        fraction >= ``dv_ratio``), materializing accumulated soft
        deletes into clean files and dropping the descriptors. The
        periodic maintenance companion of the DV write path: DELETEs
        stay O(rows deleted) at mutation time, and purge amortizes the
        physical cleanup across whole files at a schedule the table
        owner picks (like delta-spark's REORG; the reference has no DV
        writes to purge). Rows do not change logically, so adds/removes
        commit with dataChange=false (appendOnly tables stay writable,
        like OPTIMIZE)."""
        from delta_rs_spark.table import _dnf_to_sql, read_snapshot_df
        from delta_rs_spark.writer import write_files

        spark = self.dt.spark
        table_path = self.dt.table_uri
        snapshot = snap_mod.load_snapshot(table_path)
        from delta_rs_spark.plans.column_mapping import ensure_writable

        ensure_writable(snapshot)
        part_cols = snapshot.partition_columns
        pred = _dnf_to_sql(partition_filters)
        adds = candidate_files(snapshot, pred)

        def ratio(a) -> float:
            n = a.num_records() or 0
            card = int((a.deletion_vector or {}).get("cardinality") or 0)
            return (card / n) if n else 1.0

        targets = [
            a for a in adds if a.deletion_vector and ratio(a) >= dv_ratio
        ]
        metrics = {
            "numFilesAdded": 0,
            "numFilesRemoved": 0,
            "numDeletionVectorsRemoved": len(targets),
            "totalConsideredFiles": len(adds),
        }
        if not targets:
            return metrics
        # read through the scan: DVs applied, dead rows do not survive
        df = read_snapshot_df(
            spark, snapshot, table_path, files=targets, keep_row_ids=True
        )
        new_adds = write_files(
            df, table_path, part_cols, snapshot.configuration, snapshot.schema_string
        )
        ts = now_ms()
        for a in new_adds:
            a.data_change = False
        removes = [a.remove(ts, data_change=False) for a in targets]
        metrics["numFilesAdded"] = len(new_adds)
        metrics["numFilesRemoved"] = len(removes)
        op = CommitInfo(
            "REORG",
            {"applyPurge": True, **({"predicate": pred} if pred else {})},
            operation_metrics=metrics,
        )
        txn = TransactionInfo(
            blind_append=False,
            read_files={r.path for r in removes},
        )
        commit_mod.commit(
            table_path,
            list(removes) + list(new_adds),
            op,
            snapshot.version,
            txn,
            commit_properties=commit_properties,
            post_commit=post_commithook_properties,
        )
        self.dt.refresh()
        return metrics

    def z_order(
        self,
        columns: list[str],
        partition_filters: list | None = None,
        target_size: int | None = None,
        max_concurrent_tasks: int | None = None,  # Spark schedules tasks itself
        max_spill_size: int | None = None,
        min_commit_interval: int | None = None,  # accepted; z-order is one rewrite
        writer_properties=None,
        commit_properties=None,
        post_commithook_properties=None,
        curve: str = "morton",
        incremental: bool = False,
        min_cube_size: int = 0,
        _provider: str | None = None,
    ) -> dict[str, Any]:
        """``incremental=True`` clusters ONLY files not yet written by a
        clustering run with the same (curve, columns) spec — the 100 TB
        maintenance shape: a full table rewrite per OPTIMIZE is
        impossible at scale, so production reclusters just the data
        that arrived since the last run (delta-spark's ZCube model).
        Every clustering run (full or incremental) tags its outputs
        with the spec and the run's total output bytes; a later
        incremental run skips tagged files unless their run ("cube")
        wrote less than ``min_cube_size`` bytes — undersized cubes from
        small increments are re-merged into the new one instead of
        accreting forever (the minCubeSize analogue). Bucket bounds are
        computed per run over the files it rewrites; each cube is
        internally curve-ordered, which is what per-file min/max stats
        pruning needs — cross-cube order is irrelevant to skipping.
        A file that later gains a deletion vector keeps its tag (its
        live rows keep the curve order); REORG PURGE rewrites drop
        tags, so purged files naturally re-enter the next increment."""
        from delta_rs_spark.table import _dnf_to_sql, read_snapshot_df
        from delta_rs_spark.writer import write_files

        if not columns:
            raise DeltaError("z_order requires at least one column")
        if curve not in ("morton", "hilbert"):
            raise DeltaError(f"unknown space-filling curve {curve!r}")
        # eager, driver-side: 8 bits per dimension must interleave into
        # int64 without touching the sign bit — Morton would otherwise
        # silently invert sort order for half the keyspace, Hilbert
        # would fail mid-job inside the executor UDF
        if len(columns) * 8 > 63:
            raise DeltaError(
                f"z_order supports at most 7 columns (8 bits each in an "
                f"int64 key); got {len(columns)}"
            )
        spark = self.dt.spark
        table_path = self.dt.table_uri
        snapshot = snap_mod.load_snapshot(table_path)
        from delta_rs_spark.plans.column_mapping import ensure_writable

        ensure_writable(snapshot)
        part_cols = snapshot.partition_columns
        for c in columns:
            if c in part_cols:
                raise DeltaError(f"cannot z-order by partition column {c}")

        pred = _dnf_to_sql(partition_filters)
        adds = candidate_files(snapshot, pred)
        spec = f"{curve}:{','.join(columns)}"
        skipped_clustered = 0
        if incremental:
            def _is_stable(a) -> bool:
                tags = a.tags or {}
                if tags.get("optimizeSpec") != spec:
                    return False
                try:
                    cube_bytes = int(tags.get("zcubeBytes", "0"))
                except ValueError:
                    cube_bytes = 0
                return cube_bytes >= min_cube_size

            stable = [a for a in adds if _is_stable(a)]
            skipped_clustered = len(stable)
            adds = [a for a in adds if not _is_stable(a)]
        if not adds:
            return {
                "numFilesAdded": 0,
                "numFilesRemoved": 0,
                "numFilesSkippedAlreadyClustered": skipped_clustered,
            }

        # Z-ORDER is a rearrangement: ids and versions both survive
        df = read_snapshot_df(spark, snapshot, table_path, files=adds, keep_row_ids=True)
        schema = df.schema
        bits = 8
        bucket_cols = []
        for c in columns:
            dtype = schema[c].dataType
            if isinstance(
                dtype,
                (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.FloatType,
                 T.DoubleType, T.DateType, T.TimestampType, T.TimestampNTZType, T.DecimalType),
            ):
                # bounds from file stats (free); fall back to an agg scan
                lo, hi = _column_bounds(adds, c)
                if lo is None or hi is None:
                    row = df.agg(
                        F.min(F.col(c).cast("double")), F.max(F.col(c).cast("double"))
                    ).collect()[0]
                    lo, hi = row[0], row[1]
                if lo is None or hi is None or lo == hi:
                    bucket_cols.append(F.lit(0))
                else:
                    # width_bucket(v, lo, hi, 255) - 1 lands in [0, 255]
                    # for v in [lo, hi] (v == hi -> overflow bucket 256
                    # -> 255, verified empirically) — but clamp BOTH
                    # ends anyway: if a stats-parsed bound ever diverges
                    # from the SQL double cast (decimal/timestamp
                    # rounding), an out-of-range v would yield -1 or 256
                    # and violate the curves' [0, 2^bits) precondition
                    # (-1 >> b is all-ones: max rows would key as if
                    # adjacent to min rows).
                    bucket_cols.append(
                        F.greatest(
                            F.least(
                                (
                                    F.width_bucket(
                                        F.col(c).cast("double"),
                                        F.lit(float(lo)),
                                        F.lit(float(hi)),
                                        F.lit(2**bits - 1),
                                    )
                                    - 1
                                ).cast("long"),
                                F.lit(2**bits - 1).cast("long"),
                            ),
                            F.lit(0).cast("long"),
                        )
                    )
            else:
                bucket_cols.append((F.abs(F.xxhash64(F.col(c))) % (2**bits)).cast("long"))

        n = len(columns)

        @F.pandas_udf(T.LongType())
        def zkey(*cols: pd.Series) -> pd.Series:
            import numpy as np

            arrs = [c.fillna(0).to_numpy(dtype="int64") for c in cols]
            if curve == "hilbert":
                return pd.Series(hilbert_index(arrs, bits))
            out = np.zeros_like(arrs[0])
            for b in range(bits):
                for i, a in enumerate(arrs):
                    out |= ((a >> b) & 1) << (b * n + i)
            return pd.Series(out)

        keyed = df.withColumn("__zkey", zkey(*bucket_cols))
        total_bytes = sum(a.size for a in adds)
        target = target_size or int(
            snapshot.configuration.get("delta.targetFileSize", DEFAULT_TARGET_SIZE)
        )
        n_out = max(1, -(-total_bytes // target))
        sort_keys = ([*part_cols, "__zkey"]) if part_cols else ["__zkey"]
        rewritten = (
            keyed.repartitionByRange(int(n_out), *[F.col(k) for k in sort_keys])
            .sortWithinPartitions(*sort_keys)
            .drop("__zkey")
        )
        # preserve_layout: the range partitioning + within-partition sort
        # IS the z-clustering; write_files' hash repartition would undo it
        new_adds = write_files(
            rewritten,
            table_path,
            part_cols,
            snapshot.configuration,
            snapshot.schema_string,
            preserve_layout=True,
        )
        cube_bytes = sum(a.size for a in new_adds)
        for a in new_adds:
            a.data_change = False
            # stamp the clustering spec + this run's cube size so a
            # later incremental run can tell clustered-and-stable files
            # from new arrivals and from undersized cubes
            a.tags = {
                **(a.tags or {}),
                "optimizeSpec": spec,
                "zcubeBytes": str(cube_bytes),
            }
            if _provider:
                # clustered tables (PROTOCOL.md "Clustered Table"):
                # clustering OPTIMIZE outputs carry the provider
                a.clustering_provider = _provider
        ts = now_ms()
        removes = [a.remove(ts, data_change=False) for a in adds]
        metrics = {
            "numFilesAdded": len(new_adds),
            "numFilesRemoved": len(removes),
            "numFilesSkippedAlreadyClustered": skipped_clustered,
        }
        op = CommitInfo(
            "OPTIMIZE",
            {
                "zOrderBy": columns,
                **({"curve": curve} if curve != "morton" else {}),
                **({"predicate": pred} if pred else {}),
                **({"incremental": True} if incremental else {}),
            },
            operation_metrics=metrics,
        )
        txn = TransactionInfo(
            blind_append=False,
            read_files={r.path for r in removes},
        )
        commit_mod.commit(table_path, list(new_adds) + removes, op, snapshot.version, txn)
        self.dt.refresh()
        return metrics

    def cluster(
        self,
        partition_filters: list | None = None,
        target_size: int | None = None,
        incremental: bool = True,
        min_cube_size: int = 0,
        full: bool = False,
    ) -> dict[str, Any]:
        """OPTIMIZE on a CLUSTERED table (delta-spark liquid clustering):
        Hilbert-cluster by the columns persisted in the table's
        delta.clustering domain. INCREMENTAL by default — exactly
        delta-spark's semantics (OPTIMIZE on a clustered table clusters
        only un-clustered data; ``full=True`` is OPTIMIZE FULL, the
        everything-rewrite used after CLUSTER BY changes). Outputs carry
        ``clusteringProvider="liquid"`` on their add actions.

        The reference accepts the clusteredTable feature
        (kernel/models/actions.rs:799) and parses the clustering domain
        (protocol/mod.rs:717) but has no maintenance implementation —
        this, like clone and identity, is delta-spark parity."""
        from delta_rs_spark.plans import clustering as _cl

        snapshot = snap_mod.load_snapshot(self.dt.table_uri)
        cols = _cl.clustering_columns(snapshot)
        if not cols:
            raise DeltaError(
                "optimize.cluster() requires a clustered table (CREATE "
                "with cluster_by=[...] or ALTER ... CLUSTER BY)"
            )
        return self.z_order(
            cols,
            partition_filters=partition_filters,
            target_size=target_size,
            curve="hilbert",
            incremental=incremental and not full,
            min_cube_size=min_cube_size,
            _provider=_cl.PROVIDER,
        )


def hilbert_index(arrs: list, bits: int):
    """Vectorized n-dimensional Hilbert index (Skilling's transform,
    "Programming the Hilbert curve", AIP Conf. Proc. 707, 2004 — public
    domain): coordinates on a 2^bits grid -> position along the Hilbert
    curve. Unlike Morton's bit interleave, consecutive curve positions
    are always grid neighbors, so equal-size file cuts get tighter
    per-dimension min/max boxes — better stats pruning on box
    predicates at the same write cost (the sort is the expense, and it
    is identical).

    arrs: list of int64 numpy arrays (one per dimension), values in
    [0, 2^bits). Returns an int64 array; requires n*bits <= 63.
    """
    import numpy as np

    n = len(arrs)
    if n * bits > 63:
        raise DeltaError(f"hilbert key would overflow int64: {n} dims x {bits} bits")
    x = [a.astype(np.int64).copy() for a in arrs]
    if n == 1:
        return x[0]
    m = np.int64(1) << (bits - 1)
    # inverse undo excess work (transpose -> Hilbert transpose)
    q = m
    while q > 1:
        p = q - 1
        for i in range(n):
            on = (x[i] & q) != 0
            # invert low bits of x[0] where this axis bit is set,
            # else exchange low bits of x[i] and x[0]
            x[0] = np.where(on, x[0] ^ p, x[0])
            t = np.where(on, 0, (x[0] ^ x[i]) & p)
            x[0] ^= t
            x[i] ^= t
        q >>= 1
    # Gray encode
    for i in range(1, n):
        x[i] ^= x[i - 1]
    t = np.zeros_like(x[0])
    q = m
    while q > 1:
        t = np.where((x[n - 1] & q) != 0, t ^ (q - 1), t)
        q >>= 1
    for i in range(n):
        x[i] ^= t
    # interleave the transposed coords MSB-first, x[0] most significant
    out = np.zeros_like(x[0])
    for b in range(bits - 1, -1, -1):
        for i in range(n):
            out = (out << 1) | ((x[i] >> b) & 1)
    return out


def _column_bounds(adds: list, col: str) -> tuple[float | None, float | None]:
    lo = hi = None
    for a in adds:
        st = a.stats_dict() or {}
        mn = (st.get("minValues") or {}).get(col)
        mx = (st.get("maxValues") or {}).get(col)
        if not isinstance(mn, (int, float)) or not isinstance(mx, (int, float)):
            return None, None
        lo = mn if lo is None else min(lo, mn)
        hi = mx if hi is None else max(hi, mx)
    return lo, hi
