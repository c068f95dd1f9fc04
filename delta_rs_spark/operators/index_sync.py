"""CDF-driven dedup-index synchronization.

The incremental dedup indexes (functions/dedup.py: exact-fingerprint
and MinHash band-bucket) handle APPEND-only growth via their update_*
helpers — but a production corpus table also takes DELETEs (takedowns,
retention) and UPDATEs (re-extraction), and a stale index then vetoes
documents that no longer exist or misses near-dups of rewritten text.
This module keeps an index equal to its source table's CURRENT state by
following the source's change feed — the same composition as
operators/incremental.py's aggregate maintenance, and the loop the
reference's users wire by hand from its primitives: ``load_cdf``
(crates/core/src/operations/load_cdf.rs) for the change stream, MERGE
(operations/merge) for the apply, and the per-application transaction
watermark (``txn`` actions, python/deltalake/table.py
transaction_version) committed ATOMICALLY with the apply for
exactly-once — a replayed sync is a no-op, never a double-apply.

Cost is O(changes), never O(corpus): each sync reads only the CDF range
since the watermark and merges per-document final states; the index is
never rebuilt and the source is never rescanned.

RETROACTIVE (no-CDF) sync: load_cdf requires ``delta.
enableChangeDataFeed`` at write time, but the migration story — "bring
an EXISTING corpus's dedup indexes up to date" — starts with tables
that never had it. ``change_source="diff"`` reconstructs the same
per-document final states from the two snapshots via ``table_diff``
(operators/diff.py): add-action diff prunes unchurned files before any
IO, so the no-CDF path stays O(churn), not O(table). The default
``"auto"`` follows CDF when the source currently has it enabled and
falls back to the diff otherwise. A range whose CDF was enabled
MID-WAY is still correct under "cdf": this engine's load_cdf
SYNTHESIZES pre-enablement commits from their add/remove actions
(operators/cdf.py), and ``_final_states`` reduces the synthesized
same-version insert+delete pairs alive-wins — pinned by
test_fp_index_sync_cdf_enabled_midrange. "diff" remains the cheaper
choice for rewrite-heavy non-CDF ranges (synthesis re-reads whole
rewritten files; the diff compares ONLY the column the index derives
from, so a metadata-only rewrite produces no index churn at all).
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.sql import SparkSession, Window as W
from pyspark.sql import functions as F

from delta_rs_spark.log import snapshot as snap_mod
from delta_rs_spark.log.commit import DeltaError

_CT = "_change_type"
_CV = "_commit_version"


def _final_states(changes, id_col: str):
    """Per-document FINAL state over a CDF range: the latest of
    insert / update_postimage / delete wins (preimages carry no final
    information). A TRUE CDC feed never pairs these kinds for one id
    within one commit (a commit is a single operation on unique keys) —
    but load_cdf's SYNTHESIZED feed for non-CDF commits does: a rewrite
    emits 'insert' for every surviving row of the new file and 'delete'
    for every row of the removed one, so a co-located live row carries
    BOTH at the same version and the alive kind must win (r09: the old
    kind-ASC tiebreak picked 'delete' and would evict live docs). The
    ordering stays total (version DESC, alive-before-delete, kind ASC)
    so the reduction is deterministic by construction."""
    w = W.partitionBy(id_col).orderBy(
        F.col(_CV).desc(),
        F.when(F.col(_CT) == "delete", F.lit(1)).otherwise(F.lit(0)).asc(),
        F.col(_CT).asc(),
    )
    return (
        changes.filter(F.col(_CT).isin("insert", "update_postimage", "delete"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _diff_final_states(
    spark: SparkSession,
    source_path: str,
    applied_version: int,
    latest: int,
    id_col: str,
    text_col: str,
):
    """CDF-free change reconstruction: ``table_diff`` between the
    already-applied snapshot and the latest one, projected onto the CDF
    final-state shape (one row per changed id, ``_change_type`` in
    insert/update_postimage/delete) that both syncs' merge planning
    consumes. The diff compares only ``text_col`` — the single column
    the index derives from — so unrelated-column rewrites produce no
    rows. table_diff's one-row-per-key output IS already final-state
    reduced; no window pass is needed."""
    from delta_rs_spark import DeltaTable

    dt = DeltaTable(source_path, spark=spark, version=latest)
    d = dt.diff(
        [id_col], applied_version, latest, compare_cols=[text_col]
    )
    return d.select(
        F.col(id_col),
        F.when(F.col("change_type") == "delete", F.col(f"old_{text_col}"))
        .otherwise(F.col(f"new_{text_col}"))
        .alias(text_col),
        F.when(F.col("change_type") == "update", F.lit("update_postimage"))
        .otherwise(F.col("change_type"))
        .alias(_CT),
    )


def _resolve_change_source(change_source: str, source_path: str, spark) -> str:
    if change_source not in ("auto", "cdf", "diff"):
        raise DeltaError(
            f"change_source must be 'auto', 'cdf' or 'diff': {change_source!r}"
        )
    if change_source != "auto":
        return change_source
    from delta_rs_spark import DeltaTable

    conf = DeltaTable(source_path, spark=spark).metadata().configuration
    enabled = str(conf.get("delta.enableChangeDataFeed", "")).lower() == "true"
    return "cdf" if enabled else "diff"


def sync_fingerprint_index(
    spark: SparkSession,
    source_path: str,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    app_id: str | None = None,
    change_source: str = "auto",
) -> dict[str, Any]:
    """Keep the exact-dedup index (id, fp) equal to the source table's
    current rows. First call snapshots the source and stamps the
    watermark; later calls merge the change range's per-document final
    states: delete -> index row removed, update -> fp rewritten,
    insert -> row added. One MERGE, watermark rides the same commit.
    ``change_source``: "cdf" follows the change feed, "diff"
    reconstructs changes from the snapshots (no CDF required, still
    O(churn)), "auto" picks by the source's current CDF property.

    Returns {"initialized", "applied_through", "n_change_rows"}."""
    from delta_rs_spark import DeltaTable, write_deltalake
    from delta_rs_spark.functions.dedup import _DEDUP_PARAMS_KEY
    from delta_rs_spark.functions.text import fingerprint
    from delta_rs_spark.operators.cdf import load_cdf
    from delta_rs_spark.properties import CommitProperties

    app_id = app_id or f"delta-rs-spark/fp-index:{os.path.abspath(index_path)}"
    latest = snap_mod.latest_version(source_path)
    if latest is None:
        raise DeltaError(f"not a Delta table: {source_path}")

    if not DeltaTable.is_deltatable(index_path):
        src = DeltaTable(source_path, spark=spark, version=latest).to_df()
        rows = src.select(
            F.col(id_col).alias("id"), fingerprint(text_col).alias("fp")
        )
        write_deltalake(
            index_path,
            rows,
            configuration={_DEDUP_PARAMS_KEY: '{"kind": "fp"}'},
            commit_properties=CommitProperties(app_transactions=[(app_id, latest)]),
        )
        return {"initialized": True, "applied_through": latest, "n_change_rows": 0}

    idx = DeltaTable(index_path, spark=spark)
    last = idx.transaction_version(app_id)
    if last is None:
        raise DeltaError(
            f"{index_path} exists but carries no watermark for {app_id!r}; "
            "refusing to guess the applied version"
        )
    if last >= latest:
        return {"initialized": False, "applied_through": last, "n_change_rows": 0}

    resolved = _resolve_change_source(change_source, source_path, spark)
    if resolved == "cdf":
        changes = load_cdf(
            spark, source_path, starting_version=last + 1, ending_version=latest
        )
        states = _final_states(changes, id_col)
    else:
        states = _diff_final_states(
            spark, source_path, last, latest, id_col, text_col
        )
    finals = states.select(
        F.col(id_col).alias("id"),
        fingerprint(text_col).alias("fp"),
        F.col(_CT).alias("__act"),
    )
    m = (
        idx.merge(
            finals,
            "t.id <=> s.id",
            source_alias="s",
            target_alias="t",
            commit_properties=CommitProperties(app_transactions=[(app_id, latest)]),
        )
        .when_matched_delete(predicate="s.__act = 'delete'")
        .when_matched_update({"fp": "s.fp"})
        .when_not_matched_insert(
            {"id": "s.id", "fp": "s.fp"}, predicate="s.__act != 'delete'"
        )
        .execute()
    )
    return {
        "initialized": False,
        "applied_through": latest,
        "n_change_rows": int(m["num_source_rows"]),
        "metrics": m,
    }


def sync_band_index(
    spark: SparkSession,
    source_path: str,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    app_id: str | None = None,
    num_perm: int = 64,
    bands: int = 16,
    shingle_size: int = 3,
    hash_fn: str = "xx",
    change_source: str = "auto",
) -> dict[str, Any]:
    """Keep the near-dup band index (id, band, bucket) equal to the
    source's current rows. LSH parameters freeze in the index config at
    init (later calls read them back — param args are ignored then,
    like the probe/append helpers). A rewritten doc re-derives ALL its
    band rows (band keys are fixed 0..bands-1, so a matched-update per
    band covers it); a deleted doc contributes one delete row per band.
    One MERGE on (id, band), watermark rides the same commit.
    ``change_source`` as in sync_fingerprint_index ("diff" = no-CDF
    snapshot reconstruction via table_diff, O(churn)).

    Returns {"initialized", "applied_through", "n_change_rows"}."""
    from delta_rs_spark import DeltaTable, write_deltalake
    from delta_rs_spark.functions.dedup import (
        _DEDUP_PARAMS_KEY,
        _band_buckets,
        minhash_signatures,
    )
    from delta_rs_spark.operators.cdf import load_cdf
    from delta_rs_spark.properties import CommitProperties

    app_id = app_id or f"delta-rs-spark/band-index:{os.path.abspath(index_path)}"
    latest = snap_mod.latest_version(source_path)
    if latest is None:
        raise DeltaError(f"not a Delta table: {source_path}")

    if not DeltaTable.is_deltatable(index_path):
        src = DeltaTable(source_path, spark=spark, version=latest).to_df()
        sigs = minhash_signatures(
            src, text_col, id_col, num_perm, shingle_size, hash_fn
        )
        write_deltalake(
            index_path,
            _band_buckets(sigs, num_perm, bands),
            partition_by=["band"],
            configuration={
                _DEDUP_PARAMS_KEY: json.dumps(
                    {
                        "kind": "minhash-bands",
                        "num_perm": num_perm,
                        "bands": bands,
                        "shingle_size": shingle_size,
                        "hash_fn": hash_fn,
                    }
                )
            },
            commit_properties=CommitProperties(app_transactions=[(app_id, latest)]),
        )
        return {"initialized": True, "applied_through": latest, "n_change_rows": 0}

    idx = DeltaTable(index_path, spark=spark)
    last = idx.transaction_version(app_id)
    if last is None:
        raise DeltaError(
            f"{index_path} exists but carries no watermark for {app_id!r}; "
            "refusing to guess the applied version"
        )
    if last >= latest:
        return {"initialized": False, "applied_through": last, "n_change_rows": 0}

    p = json.loads(idx.metadata().configuration[_DEDUP_PARAMS_KEY])
    resolved = _resolve_change_source(change_source, source_path, spark)
    if resolved == "cdf":
        changes = load_cdf(
            spark, source_path, starting_version=last + 1, ending_version=latest
        )
        finals = _final_states(changes, id_col)
    else:
        # persist: the sig/sigless/delete branches below each
        # re-evaluate this frame
        finals = _diff_final_states(
            spark, source_path, last, latest, id_col, text_col
        ).persist()
    live = finals.filter(F.col(_CT) != "delete")
    sigs = minhash_signatures(
        live, text_col, id_col, p["num_perm"], p["shingle_size"], p["hash_fn"]
    )
    upserts = _band_buckets(sigs, p["num_perm"], p["bands"]).select(
        "id", "band", "bucket", F.lit("upsert").alias("__act")
    )
    # A live final state can still yield NO signature: an UPDATE that
    # shrinks a doc below shingle_size produces zero shingles, so
    # minhash_signatures emits no row and no upserts are generated —
    # without an explicit delete its PRE-update band rows would persist,
    # vetoing near-dups against text that no longer exists (the index's
    # contract is "equals the source's CURRENT state"). Anti-join the
    # live ids against the signature ids and emit per-band delete rows
    # exactly like the delete path. (The fp sync is immune: fingerprint
    # is total, every live doc gets a row.) Change-batch sized, so the
    # anti-join rides the same O(changes) cost envelope.
    sigless = live.select(F.col(id_col).alias("id")).join(
        sigs.select("id").distinct(), "id", "left_anti"
    )
    dels = (
        finals.filter(F.col(_CT) == "delete")
        .select(F.col(id_col).alias("id"))
        .unionByName(sigless)
        .select(
            "id",
            F.explode(F.sequence(F.lit(0), F.lit(int(p["bands"]) - 1))).alias("band"),
            F.lit(None).cast("long").alias("bucket"),
            F.lit("delete").alias("__act"),
        )
    )
    try:
        m = (
            idx.merge(
                upserts.unionByName(dels),
                "t.id <=> s.id AND t.band <=> s.band",
                source_alias="s",
                target_alias="t",
                commit_properties=CommitProperties(
                    app_transactions=[(app_id, latest)]
                ),
            )
            .when_matched_delete(predicate="s.__act = 'delete'")
            .when_matched_update({"bucket": "s.bucket"})
            .when_not_matched_insert(
                {"id": "s.id", "band": "s.band", "bucket": "s.bucket"},
                predicate="s.__act != 'delete'",
            )
            .execute()
        )
    finally:
        if resolved == "diff":
            finals.unpersist(False)
    return {
        "initialized": False,
        "applied_through": latest,
        "n_change_rows": int(m["num_source_rows"]),
        "metrics": m,
    }


def ivf_index_balance(
    index_path: str, spark: SparkSession | None = None
) -> dict[str, Any]:
    """Inverted-list occupancy of a materialized IVF index, computed
    from the transaction log's ADD-ACTION STATS ONLY — per-file
    numRecords minus deletion-vector cardinality, grouped by the
    ``list`` partition value. O(files) metadata, zero data IO, so a
    maintenance loop can check drift after every sync at any corpus
    size. Returns ``n_lists`` (configured centroid count),
    ``n_rows`` (live total), ``max_list`` and ``imbalance`` =
    max_list / (n_rows / n_lists) — 1.0 is perfectly uniform; growth
    tracks distribution drift away from the frozen centroids (the
    recall-degradation proxy FAISS users watch to schedule a
    re-train). ``imbalance`` is None when any file lacks numRecords
    stats (foreign writer) — honest unknown, not a guess."""
    import json

    from delta_rs_spark.functions.similarity import _IVF_CENTROIDS_KEY

    snapshot = snap_mod.load_snapshot(index_path)
    n_lists = len(
        json.loads(snapshot.configuration[_IVF_CENTROIDS_KEY])
    )
    counts: dict[str, int] = {}
    for a in snapshot.files.values():
        st = a.stats_dict() or {}
        n = st.get("numRecords")
        if n is None:
            return {
                "n_lists": n_lists,
                "n_rows": None,
                "max_list": None,
                "imbalance": None,
            }
        if a.deletion_vector:
            n -= int(a.deletion_vector.get("cardinality") or 0)
        key = (a.partition_values or {}).get("list")
        counts[key] = counts.get(key, 0) + int(n)
    total = sum(counts.values())
    max_list = max(counts.values(), default=0)
    imbalance = (
        max_list / (total / n_lists) if total > 0 and n_lists > 0 else 1.0
    )
    return {
        "n_lists": n_lists,
        "n_rows": total,
        "max_list": max_list,
        "imbalance": round(imbalance, 4),
    }


def sync_ivf_index(
    spark: SparkSession,
    source_path: str,
    index_path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    app_id: str | None = None,
    n_lists: int = 16,
    change_source: str = "auto",
    imbalance_threshold: float = 4.0,
    recluster: str = "never",
) -> dict[str, Any]:
    """Keep a materialized IVF/ANN index (id, vec, list) equal to its
    source embedding table's CURRENT rows — the same O(changes)
    maintenance loop the fingerprint and band indexes already have
    (r10 verdict: the one genuine 100 TB gap left — ``hybrid_topk``'s
    DEFAULT dense backend could only be rebuilt O(corpus) on churn).
    Same composition the reference's users wire by hand: change stream
    (its load_cdf, crates/core/src/operations/load_cdf.rs) + MERGE
    (operations/merge) + an app-transaction watermark committed
    ATOMICALLY with the apply, so a replayed sync is a no-op.

    First call builds the index from the source snapshot at the
    watermark version (``build_ivf_index`` — one-time O(corpus),
    ``mode='error'`` so a concurrent first-build race loses loudly and
    retries as a reader). Later calls read only the CDF range (or the
    ``table_diff`` reconstruction when the source never enabled CDF —
    ``change_source`` as in ``sync_fingerprint_index``) since the
    watermark, re-assign the changed vectors against the FROZEN config
    centroids (``frozen_centroid_assigner`` — the FAISS add-after-train
    contract: centroids fixed, recall degrades only with distribution
    drift), and apply one MERGE on id: delete -> index row removed,
    update -> (vec, list) rewritten IN PLACE (a vector that moved
    nearer a different centroid migrates to that list's partition via
    the merge rewrite), insert -> row added.

    Cost: the merge scans the candidate files its early filter keeps,
    the rewrite touches only files containing changed ids, and the
    change frame is O(churn) — the
    index is never rebuilt and the source never rescanned.

    DRIFT: every sync ends with ``ivf_index_balance`` (add-action
    stats only, O(files) metadata). When ``imbalance`` exceeds
    ``imbalance_threshold`` the result carries
    ``needs_recluster=True``; with ``recluster='auto'`` the index is
    re-trained in place (``build_ivf_index`` overwrite from the
    source's synced snapshot — an EXPLICIT O(corpus) step, watermark
    preserved on the rebuild commit) — ``'never'`` (default) only
    reports, leaving the scheduling decision to the caller.

    Returns {"initialized", "applied_through", "n_change_rows",
    "imbalance", "needs_recluster", "reclustered"}."""
    import json

    from delta_rs_spark import DeltaTable
    from delta_rs_spark.functions.similarity import (
        _IVF_CENTROIDS_KEY,
        build_ivf_index,
        frozen_centroid_assigner,
    )
    from delta_rs_spark.operators.cdf import load_cdf
    from delta_rs_spark.properties import CommitProperties

    if recluster not in ("never", "auto"):
        raise DeltaError(f"recluster must be 'never' or 'auto': {recluster!r}")
    app_id = app_id or f"delta-rs-spark/ivf-index:{os.path.abspath(index_path)}"
    latest = snap_mod.latest_version(source_path)
    if latest is None:
        raise DeltaError(f"not a Delta table: {source_path}")

    def _result(initialized, n_rows, reclustered=False):
        bal = ivf_index_balance(index_path)
        needs = (
            bal["imbalance"] is not None
            and bal["imbalance"] > imbalance_threshold
        )
        if needs and recluster == "auto" and not reclustered:
            # re-TRAIN, don't re-seed: the default build seeds centroids
            # from the first n_lists ids, which are unchanged under
            # drift — k-means (functions/similarity.kmeans: Lloyd,
            # deterministic seeds + fixed iterations) moves them toward
            # the current mass. Explicit O(corpus), watermark preserved
            # on the rebuild commit. Note real data skew (many
            # near-identical vectors) can keep imbalance above the
            # threshold even after a perfect refit — the reclustered
            # flag stops the loop, the caller sees both facts.
            from delta_rs_spark.functions.similarity import kmeans

            src = DeltaTable(source_path, spark=spark, version=latest).to_df()
            _, C = kmeans(
                src, k=n_lists, vec_col=vec_col, id_col=id_col
            )
            build_ivf_index(
                src,
                index_path,
                n_lists=n_lists,
                vec_col=vec_col,
                id_col=id_col,
                mode="overwrite",
                centroids=[[i, c] for i, c in enumerate(C)],
                commit_properties=CommitProperties(
                    app_transactions=[(app_id, latest)]
                ),
            )
            return _result(initialized, n_rows, reclustered=True)
        return {
            "initialized": initialized,
            "applied_through": latest,
            "n_change_rows": n_rows,
            "imbalance": bal["imbalance"],
            "needs_recluster": needs,
            "reclustered": reclustered,
        }

    if not DeltaTable.is_deltatable(index_path):
        src = DeltaTable(source_path, spark=spark, version=latest).to_df()
        try:
            build_ivf_index(
                src,
                index_path,
                n_lists=n_lists,
                vec_col=vec_col,
                id_col=id_col,
                mode="error",
                commit_properties=CommitProperties(
                    app_transactions=[(app_id, latest)]
                ),
            )
            return _result(True, 0)
        except DeltaError:
            if not DeltaTable.is_deltatable(index_path):
                raise
            # lost the first-build race: a concurrent creator committed
            # v0 (with its own watermark) between our existence check
            # and our commit — continue below as an ordinary sync
            # against the winner's index

    idx = DeltaTable(index_path, spark=spark)
    last = idx.transaction_version(app_id)
    if last is None:
        raise DeltaError(
            f"{index_path} exists but carries no watermark for {app_id!r}; "
            "refusing to guess the applied version"
        )
    if last >= latest:
        return _result(False, 0)

    resolved = _resolve_change_source(change_source, source_path, spark)
    if resolved == "cdf":
        changes = load_cdf(
            spark, source_path, starting_version=last + 1, ending_version=latest
        )
        finals = _final_states(changes, id_col)
    else:
        finals = _diff_final_states(
            spark, source_path, last, latest, id_col, vec_col
        )
    centroids = json.loads(idx.metadata().configuration[_IVF_CENTROIDS_KEY])
    assign = frozen_centroid_assigner(centroids)
    vec_type = finals.schema[vec_col].dataType
    live = finals.filter(F.col(_CT) != "delete").select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        assign(F.col(vec_col)).alias("list"),
        F.lit("upsert").alias("__act"),
    )
    dels = finals.filter(F.col(_CT) == "delete").select(
        F.col(id_col).alias("id"),
        F.lit(None).cast(vec_type).alias("vec"),
        F.lit(None).cast("int").alias("list"),
        F.lit("delete").alias("__act"),
    )
    m = (
        idx.merge(
            live.unionByName(dels),
            "t.id <=> s.id",
            source_alias="s",
            target_alias="t",
            commit_properties=CommitProperties(app_transactions=[(app_id, latest)]),
        )
        .when_matched_delete(predicate="s.__act = 'delete'")
        .when_matched_update({"vec": "s.vec", "list": "s.list"})
        .when_not_matched_insert(
            {"id": "s.id", "vec": "s.vec", "list": "s.list"},
            predicate="s.__act != 'delete'",
        )
        .execute()
    )
    out = _result(False, int(m["num_source_rows"]))
    out["metrics"] = m
    return out
