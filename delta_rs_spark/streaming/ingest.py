"""Continuous corpus ingest: the composed streaming pipeline that ties
the training-data operators together — every micro-batch is deduped
against ALL history via the persisted fingerprint index, filtered by
the ingest gate, appended to the corpus Delta table exactly-once, and
the index is advanced, all inside one foreachBatch.

Per batch (the 100 TB shape — each step is batch-sized, never
corpus-sized):
1. dedup_against_fingerprint_index: left-anti probe of the batch's
   fingerprints against the index (functions/dedup.py) + within-batch
   keep-first;
2. corpus_filter_report gate (functions/text.py): lang / quality /
   length, one codegen scan;
3. append survivors to the corpus table via the exactly-once Delta sink
   txn contract (writer txn app_id/version = streaming batch id, so a
   replayed batch is a no-op);
4. append the survivors' fingerprints to the index — AFTER the corpus
   append, so a crash between the two replays the batch. The index rows
   are read back from the Add files of the corpus commit that carries
   this batch's Txn: one file read, not a second run of the probe and
   gate. When the newest corpus commit is not this call's (a replay the
   Txn made a no-op, or a commit that landed after ours) the survivors
   are recomputed instead; the index has not moved since the corpus
   write, so the probe keeps the same docs — none, when the batch's
   index append had landed before.

``process_corpus_batch`` is the single batch processor; the live
stream (``start_corpus_ingest``) and the deterministic batch replay
(``replay_corpus_ingest``) both call it, so the replay IS the stream's
semantics at fixed micro-batch boundaries — the property the
stream-vs-replay differential test and the driver-gate oracle rely on.
"""

from __future__ import annotations

from collections.abc import Iterable
from functools import partial, reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from delta_rs_spark.log import snapshot as snap_mod


def process_corpus_batch(
    batch_df: DataFrame,
    batch_id: int,
    corpus_path: str,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang: str = "en",
    min_quality: float = 0.0,
    min_tokens: int = 1,
    app_id: str = "corpus-ingest",
    band_index_path: str | None = None,
) -> None:
    """Process ONE ingest micro-batch (shared by the live stream and
    the deterministic replay — see module docstring for the 4 steps)."""
    from delta_rs_spark.functions.dedup import (
        dedup_against_fingerprint_index,
        near_dup_candidates_against_index,
        update_band_index,
        update_fingerprint_index,
    )
    from delta_rs_spark.functions.text import (
        ingest_gate,
        lang_id,
        quality_score,
        token_count,
    )
    from delta_rs_spark.writer import write_deltalake

    spark = batch_df.sparkSession
    fresh = dedup_against_fingerprint_index(
        spark, index_path, batch_df, text_col, id_col
    )
    if band_index_path is not None:
        near = near_dup_candidates_against_index(
            spark, band_index_path, fresh, text_col, id_col
        ).select(F.col("new_id").alias("__nd_id")).distinct()
        fresh = fresh.join(
            F.broadcast(near),
            fresh[id_col] == F.col("__nd_id"),
            "left_anti",
        )
    # The gate is corpus_filter_report's reason == 'kept', applied as a
    # DIRECT filter on `fresh` (r13): the report's canonical-election
    # window is a no-op here — dedup_against_fingerprint_index already
    # kept exactly one (min-id) row per fingerprint, so 'duplicate' can
    # never fire — and the remaining reasons are per-row predicates.
    # The old shape (report -> broadcast kept_ids -> semi join) ran the
    # probe+gate pipeline TWICE per batch (once inside the broadcast
    # job, once in the outer frame) plus a window shuffle; this runs it
    # once. eqNullSafe keeps the report's first-failing-WHEN NULL
    # semantics exactly: a NULL signal fails no gate, as in the report.
    gate = ingest_gate(
        lang_id(text_col), quality_score(text_col), token_count(text_col),
        lang, min_quality, min_tokens,
    )
    fails = reduce(lambda a, b: a | b, [cond.eqNullSafe(True) for _, cond in gate])
    kept = fresh.filter(~fails)
    # exactly-once: the txn (app_id, batch_id) makes replays no-ops
    before = snap_mod.latest_version(corpus_path)
    write_deltalake(
        corpus_path, kept, mode="append", txn_app_id=app_id, txn_version=batch_id
    )
    added = _committed_rows(
        spark, corpus_path, before, app_id, batch_id, [id_col, text_col]
    )
    survivors = kept if added is None else added
    update_fingerprint_index(spark, index_path, survivors, text_col, id_col)
    if band_index_path is not None:
        update_band_index(spark, band_index_path, survivors, text_col, id_col)


def _committed_rows(spark, corpus_path, before, app_id, batch_id, columns):
    """The rows the newest corpus commit added, read from its own Add
    files, when that commit is newer than ``before`` and carries
    ``Txn(app_id, batch_id)``; else None.

    A write the Txn made a no-op leaves the version at ``before``, and
    the newest commit may then be this batch's own from an earlier run
    whose index append also landed: reading it back would index its rows
    a second time, so that case takes None, and the caller's recomputed
    survivors (none, against an index that holds them)."""
    from delta_rs_spark.log.actions import Add, Txn
    from delta_rs_spark.table import read_snapshot_df

    v = snap_mod.latest_version(corpus_path)
    if v == before:
        return None
    actions = snap_mod.read_commit_actions(corpus_path, v)
    if not any(
        isinstance(a, Txn) and (a.app_id, a.version) == (app_id, batch_id)
        for a in actions
    ):
        return None
    return read_snapshot_df(
        spark,
        snap_mod.load_snapshot(corpus_path, v),
        corpus_path,
        columns=columns,
        files=[a for a in actions if isinstance(a, Add)],
    )


def start_corpus_ingest(
    stream_df: DataFrame,
    corpus_path: str,
    index_path: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang: str = "en",
    min_quality: float = 0.0,
    min_tokens: int = 1,
    app_id: str = "corpus-ingest",
    band_index_path: str | None = None,
):
    """Start the ingest stream; returns the StreamingQuery. The
    fingerprint index at ``index_path`` must exist (build it over the
    initial corpus with build_fingerprint_index, or over an empty frame
    for a fresh start). With ``band_index_path`` set (a MinHash band
    index built by build_band_index), each batch is additionally probed
    for NEAR duplicates against all history — candidates are dropped
    before the quality gate, and survivors' band buckets are appended so
    later batches see them. Both probes stay batch-vs-index joins; the
    historical text is never rescanned."""

    process = partial(
        process_corpus_batch, corpus_path=corpus_path, index_path=index_path,
        text_col=text_col, id_col=id_col, lang=lang, min_quality=min_quality,
        min_tokens=min_tokens, app_id=app_id, band_index_path=band_index_path,
    )
    return (
        stream_df.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def replay_corpus_ingest(
    batches: Iterable[DataFrame],
    corpus_path: str,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang: str = "en",
    min_quality: float = 0.0,
    min_tokens: int = 1,
    app_id: str = "corpus-ingest",
    band_index_path: str | None = None,
) -> None:
    """Deterministic batch replay of the ingest stream: run the SAME
    per-batch processor over an explicit sequence of batch frames
    (batch_id = position). Used by the driver-gate oracle query and the
    stream-vs-replay differential test; also the recovery tool for
    re-running a bounded ingest window without the streaming engine."""
    process = partial(
        process_corpus_batch, corpus_path=corpus_path, index_path=index_path,
        text_col=text_col, id_col=id_col, lang=lang, min_quality=min_quality,
        min_tokens=min_tokens, app_id=app_id, band_index_path=band_index_path,
    )
    for batch_id, batch_df in enumerate(batches):
        process(batch_df, batch_id)
