"""Structured Streaming: sources, exactly-once Delta sink, CDF follower,
windows (streaming results must equal their batch replay)."""

import os

import pytest

from delta_rs_spark import DeltaTable, write_deltalake
from delta_rs_spark.log.commit import DeltaError
from delta_rs_spark.sources.tpch import load_events_stream, load_table
from delta_rs_spark.streaming.delta_stream import (
    CdfFollower,
    delta_sink_batch,
    read_append_stream,
    write_stream_to_delta,
)
from delta_rs_spark.streaming.windows import session_aggregates, tumbling_counts

SF = "/root/testdata/sf0.001"


def _events_stream(spark):
    return load_events_stream(spark, SF)


def test_streaming_tumbling_equals_batch(spark, tmp_path):
    stream = tumbling_counts(_events_stream(spark), "1 hour", watermark="1 hour")
    q = (
        stream.writeStream.outputMode("complete")
        .format("memory")
        .queryName("tumbling_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in spark.sql("SELECT * FROM tumbling_out").collect()
    }
    batch = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in tumbling_counts(load_table(spark, SF, "events"), "1 hour").collect()
    }
    assert got == batch


def test_exactly_once_sink_replay(spark, tmp_path, sample_df):
    table = str(tmp_path / "sink")
    sink = delta_sink_batch(table, app_id="q1")
    sink(sample_df, 0)
    sink(sample_df, 0)  # replayed batch after recovery: must be a no-op
    sink(sample_df, 1)
    t = DeltaTable(table)
    assert t.count() == 10
    assert t.transaction_version("q1") == 1


def test_write_stream_to_delta_end_to_end(spark, tmp_path):
    table = str(tmp_path / "events_delta")
    q = write_stream_to_delta(
        _events_stream(spark),
        table,
        checkpoint_location=str(tmp_path / "ckpt2"),
        app_id="ingest",
    )
    q.processAllAvailable()
    q.stop()
    t = DeltaTable(table)
    assert t.count() == load_table(spark, SF, "events").count()
    # restart from the same checkpoint: no duplicate ingestion
    q2 = write_stream_to_delta(
        _events_stream(spark),
        table,
        checkpoint_location=str(tmp_path / "ckpt2"),
        app_id="ingest",
    )
    q2.processAllAvailable()
    q2.stop()
    t.refresh()
    assert t.count() == load_table(spark, SF, "events").count()


def test_read_append_stream(spark, tmp_path, sample_df):
    table = str(tmp_path / "appendonly")
    write_deltalake(table, sample_df)
    write_deltalake(table, sample_df, mode="append")
    stream = read_append_stream(spark, table)
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("tail_out")
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    assert spark.sql("SELECT count(*) FROM tail_out").collect()[0][0] == 10


def test_read_append_stream_rejects_rewritten(spark, tmp_path, sample_df):
    table = str(tmp_path / "rewritten")
    write_deltalake(table, sample_df)
    DeltaTable(table).delete("price = 0")
    with pytest.raises(DeltaError):
        read_append_stream(spark, table)


def test_cdf_follower(spark, tmp_path, sample_df):
    table = str(tmp_path / "cdft")
    write_deltalake(
        table, sample_df, configuration={"delta.enableChangeDataFeed": "true"}
    )
    f = CdfFollower(spark, table)
    first = f.poll()
    assert first is not None
    assert {r["_change_type"] for r in first.collect()} == {"insert"}
    assert f.poll() is None  # caught up
    DeltaTable(table).delete("price >= 3")
    second = f.poll()
    assert {r["_change_type"] for r in second.collect()} == {"delete"}
    assert second.count() == 2


def test_session_window_batch(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, base, 1.0),
        (1, base + dt.timedelta(minutes=10), 2.0),   # same session
        (1, base + dt.timedelta(minutes=70), 3.0),   # new session (gap 60m)
        (2, base, 5.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts_ts timestamp, value double")
    out = session_aggregates(df, "30 minutes").collect()
    by_user = {}
    for r in out:
        by_user.setdefault(r.user_id, []).append(r)
    assert len(by_user[1]) == 2
    assert len(by_user[2]) == 1
    s1 = sorted(by_user[1], key=lambda r: r.session_start)
    assert s1[0].n_events == 2 and s1[0].total_value == 3.0
    assert s1[0].session_end == s1[0].session_start + 10 * 60 + 30 * 60


def test_stateful_dedup_stream(spark, tmp_path, sample_df):
    """Cross-micro-batch exact dedup with applyInPandasWithState: a key
    seen in batch 1 must not be emitted again from batch 2."""
    from delta_rs_spark.streaming.delta_stream import read_append_stream
    from delta_rs_spark.streaming.stateful import dedup_stream

    table = str(tmp_path / "dd_src")
    batch1 = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 3)], "fingerprint string, payload long"
    )
    write_deltalake(table, batch1)
    stream = dedup_stream(read_append_stream(spark, table), "fingerprint")
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("dd_out")
        .option("checkpointLocation", str(tmp_path / "dd_ckpt"))
        .start()
    )
    q.processAllAvailable()
    got1 = {
        r.fingerprint: r.payload for r in spark.sql("SELECT * FROM dd_out").collect()
    }
    assert set(got1) == {"a", "b"}  # one row per key
    # batch 2: duplicate key 'a' plus brand-new key 'c'
    batch2 = spark.createDataFrame(
        [("a", 99), ("c", 4)], "fingerprint string, payload long"
    )
    write_deltalake(table, batch2, mode="append")
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM dd_out").collect()
    by_key = {}
    for r in rows:
        by_key.setdefault(r.fingerprint, []).append(r.payload)
    assert sorted(by_key) == ["a", "b", "c"]
    assert len(by_key["a"]) == 1  # the batch-2 duplicate was dropped
    assert by_key["c"] == [4]


def test_stateful_running_counts(spark, tmp_path):
    from delta_rs_spark.streaming.delta_stream import read_append_stream
    from delta_rs_spark.streaming.stateful import running_counts_stream

    table = str(tmp_path / "rc_src")
    write_deltalake(
        table,
        spark.createDataFrame([("x",), ("x",), ("y",)], "k string"),
    )
    stream = running_counts_stream(read_append_stream(spark, table), "k")
    q = (
        stream.writeStream.outputMode("update")
        .format("memory")
        .queryName("rc_out")
        .option("checkpointLocation", str(tmp_path / "rc_ckpt"))
        .start()
    )
    q.processAllAvailable()
    write_deltalake(table, spark.createDataFrame([("x",)], "k string"), mode="append")
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM rc_out").collect()
    latest = {}
    for r in rows:
        latest[r.k] = max(latest.get(r.k, 0), r.n_seen)
    assert latest == {"x": 3, "y": 1}


def test_upsert_sink_replay_and_merge(spark, tmp_path):
    """Streaming upsert sink: replayed batches no-op (atomic watermark),
    later batches update matched keys and insert new ones."""
    from delta_rs_spark.streaming.delta_stream import delta_upsert_batch

    table = str(tmp_path / "upsert_sink")
    sink = delta_upsert_batch(table, keys=["id"], app_id="cdc")
    b0 = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (2, "b", 2.0)], "id long, tag string, v double"
    )
    sink(b0, 0)
    sink(b0, 0)  # replay after recovery: must be a no-op
    t = DeltaTable(table)
    assert t.count() == 2  # in-batch dup collapsed, replay ignored
    b1 = spark.createDataFrame(
        [(2, "B", 20.0), (3, "c", 3.0)], "id long, tag string, v double"
    )
    sink(b1, 1)
    sink(b1, 1)  # replay again
    t.refresh()
    rows = {r.id: (r.tag, r.v) for r in t.to_df().collect()}
    assert rows == {1: ("a", 1.0), 2: ("B", 20.0), 3: ("c", 3.0)}
    assert t.transaction_version("cdc") == 1


def test_upsert_sink_live_stream(spark, tmp_path, sample_df):
    from delta_rs_spark.streaming.delta_stream import (
        read_append_stream,
        write_stream_upsert_to_delta,
    )

    src = str(tmp_path / "upsert_src")
    write_deltalake(src, sample_df)  # ids "1".."5"
    target = str(tmp_path / "upsert_target")
    q = write_stream_upsert_to_delta(
        read_append_stream(spark, src),
        target,
        keys=["id"],
        checkpoint_location=str(tmp_path / "up_ckpt"),
        app_id="live",
    )
    q.processAllAvailable()
    assert DeltaTable(target).count() == 5
    # append an update for an existing key + a new key
    upd = spark.createDataFrame(
        [("1", 99, 9, False), ("6", 6, 0, False)], sample_df.schema
    )
    write_deltalake(src, upd, mode="append")
    q.processAllAvailable()
    q.stop()
    t = DeltaTable(target)
    rows = {r.id: r.price for r in t.to_df().collect()}
    assert rows["1"] == 99 and rows["6"] == 6
    assert t.count() == 6


def test_watermark_append_mode_closes_windows(spark, tmp_path):
    """Append-mode windowed aggregation only emits windows the watermark
    has closed; late rows beyond the watermark are dropped. (complete
    mode is covered by test_streaming_tumbling_equals_batch)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from delta_rs_spark.streaming.delta_stream import read_append_stream

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    src = str(tmp_path / "wm_src")
    b1 = spark.createDataFrame(
        [(base + dt.timedelta(minutes=m), 1.0) for m in (5, 20, 65)],
        "ts_ts timestamp, value double",
    )
    write_deltalake(src, b1)
    stream = (
        read_append_stream(spark, src)
        .withWatermark("ts_ts", "10 minutes")
        .groupBy(F.window("ts_ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").cast("long").alias("ws"), "n")
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("wm_out")
        .option("checkpointLocation", str(tmp_path / "wm_ckpt"))
        .start()
    )
    q.processAllAvailable()
    emitted1 = {r.ws: r.n for r in spark.sql("SELECT * FROM wm_out").collect()}
    # watermark = 01:05 - 10m = 00:55 -> hour-0 window [00:00,01:00) not
    # yet closed in THIS batch; emission happens on the next batch
    b2 = spark.createDataFrame(
        [
            (base + dt.timedelta(minutes=130), 1.0),  # advances watermark to 02:00
            # watermark is 00:55 entering this batch, but window
            # [00:00,01:00) is still OPEN (end > watermark): row counts
            (base + dt.timedelta(minutes=7), 9.0),
        ],
        "ts_ts timestamp, value double",
    )
    write_deltalake(src, b2, mode="append")
    q.processAllAvailable()
    emitted2 = {r.ws: r.n for r in spark.sql("SELECT * FROM wm_out").collect()}
    h0 = int(base.replace(tzinfo=dt.timezone.utc).timestamp())
    assert h0 in emitted2, emitted2
    assert emitted2[h0] == 3  # hour-0 closed with both on-time rows + the in-grace row
    # batch 3: a row for the now-CLOSED hour-0 window must be dropped,
    # not re-emitted; the 03:30 row closes hour-2
    b3 = spark.createDataFrame(
        [
            (base + dt.timedelta(minutes=30), 5.0),   # beyond watermark AND closed window
            (base + dt.timedelta(minutes=210), 1.0),
        ],
        "ts_ts timestamp, value double",
    )
    write_deltalake(src, b3, mode="append")
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM wm_out").collect()
    assert sum(1 for r in rows if r.ws == h0) == 1  # no re-emission
    h2 = h0 + 2 * 3600
    emitted3 = {r.ws: r.n for r in rows}
    assert emitted3.get(h2) == 1  # the dropped row never reopened state


def test_read_stream_initial_snapshot_respects_dvs(spark, tmp_path):
    """A fresh stream over a table with a DV soft delete must NOT
    resurrect the deleted rows in the initial-snapshot batch."""
    from pyspark.sql import functions as F

    table = str(tmp_path / "dvstream")
    df = spark.range(50).select(F.col("id"), (F.col("id") * 2).alias("v"))
    write_deltalake(
        table,
        df.coalesce(1),
        configuration={"delta.enableDeletionVectors": "true"},
    )
    DeltaTable(table).delete("id < 10")  # DV soft delete
    stream = read_append_stream(spark, table)
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("dv_tail_out")
        .option("checkpointLocation", str(tmp_path / "ckptdv"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = sorted(
        r.id for r in spark.sql("SELECT id FROM dv_tail_out").collect()
    )
    assert got == list(range(10, 50))


def test_read_stream_ignore_changes_tail_applies_dvs(spark, tmp_path):
    """A DV commit consumed MID-STREAM with ignore_changes re-emits the
    re-added file's logical content (survivors only) — duplicates are
    the documented ignore_changes semantics, resurrected rows are not."""
    from pyspark.sql import functions as F

    table = str(tmp_path / "dvtail")
    df = spark.range(40).select(F.col("id"), (F.col("id") * 2).alias("v"))
    write_deltalake(
        table,
        df.coalesce(1),
        configuration={"delta.enableDeletionVectors": "true"},
    )
    stream = read_append_stream(spark, table, ignore_changes=True)
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("dv_tail2")
        .option("checkpointLocation", str(tmp_path / "ckpttail"))
        .start()
    )
    q.processAllAvailable()  # batch 0: initial snapshot, 40 rows
    DeltaTable(table).delete("id < 15")  # DV soft delete mid-stream
    q.processAllAvailable()  # batch 1: re-emitted file minus dead rows
    q.stop()
    got = [r.id for r in spark.sql("SELECT id FROM dv_tail2").collect()]
    assert len(got) == 40 + 25  # snapshot + survivors (dupes expected)
    # no resurrected rows in the tail batch: ids < 15 appear exactly once
    from collections import Counter

    c = Counter(got)
    assert all(c[i] == 1 for i in range(15))
    assert all(c[i] == 2 for i in range(15, 40))


def test_corpus_ingest_pipeline_end_to_end(spark, tmp_path):
    """foreachBatch ingest loop: dedup-vs-index -> gate -> exactly-once
    corpus append -> index advance."""
    from pyspark.sql import functions as F

    from delta_rs_spark.functions.dedup import build_fingerprint_index
    from delta_rs_spark.streaming.ingest import start_corpus_ingest

    corpus = str(tmp_path / "corpus")
    index = str(tmp_path / "fpidx")
    src = str(tmp_path / "src")
    # seed corpus: 3 english docs; index built over it
    seed = spark.createDataFrame(
        [(i, "the cat and the dog went to the market " * 3) for i in range(3)],
        ["doc_id", "text"],
    )
    write_deltalake(corpus, seed)
    build_fingerprint_index(seed, index)
    # incoming stream: a dup of doc 0 (same text), two fresh english
    # docs, one junk doc
    rows = [
        (100, seed.collect()[0].text),
        (101, "the sun and the moon is that with was the sky " * 3),
        (102, "a boat of the river to and is was that with " * 3),
        (103, "zz qq"),
    ]
    batch = spark.createDataFrame(rows, ["doc_id", "text"])
    batch.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = start_corpus_ingest(
        stream, corpus, index, str(tmp_path / "ckpt"),
        min_quality=0.0, min_tokens=5,
    )
    q.processAllAvailable()
    q.stop()
    t = DeltaTable(corpus)
    got = sorted(r.doc_id for r in t.to_df().collect())
    # dup 100 dropped (same fp as 0), junk 103 dropped (too short /
    # lang), fresh 101+102 ingested
    assert got == [0, 1, 2, 101, 102]
    # index advanced: replaying the same batch ingests nothing
    from delta_rs_spark.functions.dedup import (
        dedup_against_fingerprint_index,
    )

    assert dedup_against_fingerprint_index(spark, index, batch).count() <= 1


def test_ingest_gate_matches_corpus_filter_report(spark, tmp_path):
    """The r13 direct-filter gate in process_corpus_batch must keep
    EXACTLY the docs corpus_filter_report labels 'kept' on the probe
    survivors — one doc per failure reason (lang, low_quality,
    too_short, too_long) plus kept docs and an index dup, so every
    WHEN branch of the report is exercised against the inline filter."""
    from delta_rs_spark.functions.dedup import (
        build_fingerprint_index,
        dedup_against_fingerprint_index,
    )
    from delta_rs_spark.functions.text import corpus_filter_report
    from delta_rs_spark.streaming.ingest import process_corpus_batch

    corpus = str(tmp_path / "corpus")
    index = str(tmp_path / "fpidx")
    en = "the cat and the dog went to the market with a boat " * 3
    seed = spark.createDataFrame([(0, en)], ["doc_id", "text"])
    write_deltalake(corpus, seed)
    build_fingerprint_index(seed, index)
    rows = [
        (100, en),  # index dup: dropped by the probe, not the gate
        (101, "the sun and the moon is that with was the sky " * 4),  # kept
        (102, "le chat et le chien la le un une est " * 5),  # lang
        (103, "zz qq ww ee rr tt yy uu ii oo pp aa ss dd ff gg hh jj kk ll " * 2),  # low_quality
        (104, "the cat is big"),  # too_short (min_tokens=10)
        (105, "the and is was to of that it with for " * 12),  # kept
    ]
    batch = spark.createDataFrame(rows, ["doc_id", "text"])
    process_corpus_batch(
        batch, 0, corpus, index, min_quality=0.4, min_tokens=10
    )
    got = sorted(
        r.doc_id for r in DeltaTable(corpus).to_df().collect() if r.doc_id >= 100
    )
    # reference semantics: report over the probe survivors, reason='kept'
    # (the live index advanced during ingest, so probe a fresh
    # seed-only index to reconstruct what the batch saw)
    idx2 = str(tmp_path / "fpidx2")
    build_fingerprint_index(seed, idx2)
    fresh = dedup_against_fingerprint_index(spark, idx2, batch)
    rep = corpus_filter_report(fresh, min_quality=0.4, min_tokens=10)
    want = sorted(
        r.doc_id for r in rep.filter("reason = 'kept'").collect()
    )
    assert got == want
    assert 101 in got and 105 in got
    assert all(d not in got for d in (100, 102, 104))


def test_read_append_stream_starting_version(spark, tmp_path, sample_df):
    """startingVersion=N tails from version N on with NO initial
    snapshot (delta-spark source semantics)."""
    table = str(tmp_path / "sv_tail")
    write_deltalake(table, sample_df)                       # v0: 5 rows
    write_deltalake(table, sample_df, mode="append")        # v1: 5 rows
    write_deltalake(table, sample_df, mode="append")        # v2: 5 rows
    stream = read_append_stream(spark, table, starting_version=1)
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("sv_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_sv"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    # v1 + v2 only — v0's snapshot rows are skipped
    assert spark.sql("SELECT count(*) FROM sv_out").collect()[0][0] == 10


def test_read_append_stream_max_files_per_trigger(spark, tmp_path, sample_df):
    """maxFilesPerTrigger splits the catch-up tail into bounded
    micro-batches instead of one unthrottled batch."""
    table = str(tmp_path / "mft_tail")
    write_deltalake(table, sample_df.coalesce(1))            # v0
    for _ in range(4):                                       # v1..v4
        write_deltalake(table, sample_df.coalesce(1), mode="append")
    stream = read_append_stream(
        spark, table, starting_version=1, max_files_per_trigger=1
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("mft_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_mft"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    assert spark.sql("SELECT count(*) FROM mft_out").collect()[0][0] == 20
    # the tail was consumed across multiple micro-batches (one version
    # each with 1-file commits), not a single catch-up batch
    batches = [
        p for p in q.recentProgress if p["numInputRows"] > 0
    ]
    assert len(batches) >= 3


def test_read_append_stream_starting_version_zero_capped(spark, tmp_path, sample_df):
    """startingVersion=0 + maxFilesPerTrigger: the WHOLE history replays
    as commit batches (not one snapshot batch), capped from the very
    first batch (r05 advice: the _prev<0 guard disabled the cap and the
    start<0 branch wrongly took the snapshot path)."""
    table = str(tmp_path / "sv0_cap")
    write_deltalake(table, sample_df.coalesce(1))            # v0
    for _ in range(3):                                       # v1..v3
        write_deltalake(table, sample_df.coalesce(1), mode="append")
    stream = read_append_stream(
        spark, table, starting_version=0, max_files_per_trigger=1
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("sv0_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_sv0"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    # all four versions' rows arrive (v0 included — replayed as a commit,
    # not skipped, not snapshot-deduplicated)
    assert spark.sql("SELECT count(*) FROM sv0_out").collect()[0][0] == 20
    # and the catch-up was split: 1-file commits under a 1-file cap means
    # >= 3 separate non-empty micro-batches, the first one capped too
    batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(batches) >= 3
    assert max(p["numInputRows"] for p in batches) <= 5


def test_corpus_ingest_with_near_dup_stage(spark, tmp_path):
    """Ingest with BOTH indexes: a near-duplicate of history (one word
    changed — same fp fails, band probe catches it) is dropped; a fresh
    doc passes; both indexes advance so a later batch sees the fresh
    doc's bands."""
    from delta_rs_spark.functions.dedup import (
        build_band_index,
        build_fingerprint_index,
        near_dup_candidates_against_index,
    )
    from delta_rs_spark.streaming.ingest import start_corpus_ingest

    corpus = str(tmp_path / "corpus2")
    fpidx = str(tmp_path / "fpidx2")
    bandidx = str(tmp_path / "bandidx2")
    base_text = "the cat and the dog went to the busy market to buy " \
        "fresh fish and red apples for the long winter season ahead"
    seed = spark.createDataFrame([(0, base_text)], ["doc_id", "text"])
    write_deltalake(corpus, seed)
    build_fingerprint_index(seed, fpidx)
    build_band_index(seed, bandidx, num_perm=32, bands=16, hash_fn="md5")
    near_text = base_text.replace("red apples", "green apples")
    fresh_text = "a boat sailed down the wide river was that with is " \
        "of to and carrying grain beans timber wool salt iron and tea"
    rows = [(200, near_text), (201, fresh_text)]
    src = str(tmp_path / "src2")
    spark.createDataFrame(rows, ["doc_id", "text"]).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = start_corpus_ingest(
        stream, corpus, fpidx, str(tmp_path / "ckpt2"),
        min_quality=0.0, min_tokens=5, band_index_path=bandidx,
    )
    q.processAllAvailable()
    q.stop()
    got = sorted(r.doc_id for r in DeltaTable(corpus).to_df().collect())
    assert got == [0, 201]  # near-dup 200 dropped, fresh 201 ingested
    # 201's bands were appended: a re-probe of its text now hits history
    again = near_dup_candidates_against_index(
        spark, bandidx, spark.createDataFrame([(300, fresh_text)], ["doc_id", "text"])
    )
    assert {r.index_id for r in again.collect()} >= {201}


def test_resample_gap_fill_semantics(spark):
    """Gap rows appear with n_events=0 and carry the previous bucket's
    value; each key densifies over its own [min, max] range only. The
    test releases the frame's checkpoint blocks itself: left to the
    JVM's cleanup, they outlive the test by a varying number of tests."""
    import datetime as dt

    from delta_rs_spark.functions.timeseries import resample_gap_fill
    from delta_rs_spark.session import drop_cached_intermediates

    rows = [
        (1, dt.datetime(2024, 1, 1, 0, 10), 1.00),
        (1, dt.datetime(2024, 1, 1, 0, 50), 2.00),   # same bucket: sums
        (1, dt.datetime(2024, 1, 1, 3, 5), 4.00),    # 2 gap hours before
        (2, dt.datetime(2024, 1, 1, 5, 0), 7.50),    # single-bucket key
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    got = sorted(
        (r.user_id, r.bucket_ts, r.n_events, r.filled_cents)
        for r in resample_gap_fill(df, bucket="hour", by="user_id").collect()
    )
    drop_cached_intermediates(spark)
    h0 = int(dt.datetime(2024, 1, 1, 0, 0, tzinfo=dt.timezone.utc).timestamp())
    assert got == [
        (1, h0, 2, 300),              # 1.00 + 2.00 in cents
        (1, h0 + 3600, 0, 300),       # gap: forward-filled
        (1, h0 + 7200, 0, 300),
        (1, h0 + 10800, 1, 400),
        (2, h0 + 18000, 1, 750),
    ]


def test_corpus_ingest_stream_equals_replay(spark, tmp_path):
    """r06 verdict #5 differential: the LIVE ingest stream (file source,
    mtime-pinned batch order, maxFilesPerTrigger=1, availableNow) must
    commit exactly the corpus the deterministic batch replay
    (replay_corpus_ingest) produces from the same batch sequence — the
    property that lets the driver-gate oracle stand in for the stream."""
    import os

    from delta_rs_spark.functions.dedup import build_fingerprint_index
    from delta_rs_spark.streaming.ingest import (
        replay_corpus_ingest,
        start_corpus_ingest,
    )

    base = "the sun and the moon is that with was the sky "
    batches_rows = [
        # b0: two keepers, one junk, an intra-batch dup pair (20/21)
        [(20, base * 3), (21, base * 3), (22, "a boat of the river to and is was that " * 3), (23, "zz qq")],
        # b1: cross-batch dup of 20, a fresh keeper, a dup of the junk
        # doc (never indexed -> re-gated and re-rejected)
        [(30, base * 3), (31, "the cat and the dog went to the market " * 3), (32, "zz qq")],
        # b2: dup of b1's keeper + one fresh
        [(40, "the cat and the dog went to the market " * 3), (41, "the king and the queen of the north is " * 3)],
    ]
    frames = [
        spark.createDataFrame(rows, ["doc_id", "text"]) for rows in batches_rows
    ]

    # --- replay path
    r_corpus, r_index = str(tmp_path / "r_corpus"), str(tmp_path / "r_idx")
    build_fingerprint_index(frames[0].limit(0), r_index)
    replay_corpus_ingest(frames, r_corpus, r_index, min_quality=0.0, min_tokens=5)

    # --- live stream path: one parquet file per batch, mtimes pin order
    s_corpus, s_index = str(tmp_path / "s_corpus"), str(tmp_path / "s_idx")
    build_fingerprint_index(frames[0].limit(0), s_index)
    src = str(tmp_path / "stream_src")
    os.makedirs(src)
    for b, fr in enumerate(frames):
        stage = str(tmp_path / f"stage{b}")
        fr.coalesce(1).write.parquet(stage)
        part = next(p for p in os.listdir(stage) if p.endswith(".parquet"))
        dst = os.path.join(src, f"b{b}.parquet")
        os.rename(os.path.join(stage, part), dst)
        os.utime(dst, (1_600_000_000 + b * 100,) * 2)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_corpus_ingest(
        stream, s_corpus, s_index, str(tmp_path / "ckpt"),
        min_quality=0.0, min_tokens=5,
    )
    q.processAllAvailable()
    q.stop()

    got = sorted(
        (r.doc_id, r.text) for r in DeltaTable(s_corpus).to_df().collect()
    )
    want = sorted(
        (r.doc_id, r.text) for r in DeltaTable(r_corpus).to_df().collect()
    )
    assert got == want
    # sanity on the semantics themselves: intra-batch keep-first (20
    # beats 21), cross-batch index veto (30, 40 dropped), junk never
    # ingested, never indexed
    assert [d for d, _ in want] == [20, 22, 31, 41]
    # and the fp indexes agree with each other too
    gi = sorted(r.fp for r in DeltaTable(s_index).to_df().collect())
    ri = sorted(r.fp for r in DeltaTable(r_index).to_df().collect())
    assert gi == ri


def test_two_watermark_rule_lag_filter_current_eviction(spark, tmp_path):
    """r08: pins the SPARK-24634 two-watermark contract the
    q_events_late_watermark oracle replays — late events are filtered
    against the PREVIOUS batch's watermark while eviction uses the
    current one. Batch 2's 10:59 row has window_end (11:00) <= the
    current watermark (11:30) but > the previous one (10:00): it must
    be ADMITTED and merged into the still-live window; the 02:00 row
    (window_end 03:00 <= previous wm) must be dropped."""
    import os

    from pyspark.sql import functions as F

    root = str(tmp_path / "lagwm")
    os.makedirs(f"{root}/in")
    batches = {
        0: ["2024-01-01 10:00:05"],
        1: ["2024-01-01 11:30:05"],
        2: ["2024-01-01 10:59:00", "2024-01-01 02:00:00", "2024-01-01 23:00:00"],
    }
    for b, times in batches.items():
        df = spark.createDataFrame([(t,) for t in times], ["s"]).select(
            F.col("s").cast("timestamp").alias("ts_ts")
        )
        stg = f"{root}/stage{b}"
        df.coalesce(1).write.parquet(stg)
        part = next(p for p in os.listdir(stg) if p.endswith(".parquet"))
        os.rename(f"{stg}/{part}", f"{root}/in/b{b}.parquet")
        os.utime(f"{root}/in/b{b}.parquet", (1_600_000_000 + b * 100,) * 2)
    src = (
        spark.readStream.schema("ts_ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{root}/in")
    )
    agg = (
        src.withWatermark("ts_ts", "0 seconds")
        .groupBy(F.window("ts_ts", "1 hour").alias("w"))
        .count()
        .select(F.col("w.start").cast("string").alias("ws"), "count")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("lagwm_sink")
        .outputMode("append")
        .option("checkpointLocation", f"{root}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    dropped = sum(
        (p["stateOperators"][0]["numRowsDroppedByWatermark"] if p["stateOperators"] else 0)
        for p in q.recentProgress
    )
    got = {r.ws: r["count"] for r in spark.table("lagwm_sink").collect()}
    spark.catalog.dropTempView("lagwm_sink")
    assert got == {
        "2024-01-01 10:00:00": 2,  # lag-admitted 10:59 row merged in
        "2024-01-01 11:00:00": 1,
    }, got  # [23:00,24:00) withheld: its end is past the final wm (23:00)
    assert dropped == 1  # the 02:00 straggler, beyond the lagged wm


def test_stream_gates_drop_their_memory_sinks(spark):
    """r08 verdict hygiene item: the stateful-dedup and late-watermark
    gates must not leave their per-invocation memory-sink tables in the
    catalog after returning (three bench invocations used to retain
    three result tables each)."""
    import delta_rs_spark.queries_streaming  # noqa: F401  (registers gates)
    from delta_rs_spark.queries import registry

    sf_dir = "/root/testdata/sf0.001"
    reg = registry()
    for name in ("llm_stream_stateful_dedup", "q_events_late_watermark"):
        out = reg[name][0](spark, sf_dir)
        assert out.count() >= 0  # gate ran; result survives the drop
    leaked = [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith(("stateful_dedup_gate_", "late_watermark_gate_"))
    ]
    assert not leaked, leaked


def test_session_window_merge_evict_split_rules(spark, tmp_path):
    """r09: pins the session-window state rules the
    q_events_session_watermark oracle replays, probed on this engine
    build — (a) touching proto-sessions [a,b)+[b,c) MERGE (gap boundary
    inclusive); (b) eviction during a data batch is NON-strict (end <=
    current watermark) and runs AFTER the batch's rows merged; (c) an
    admitted late row whose would-be partner session was already
    evicted starts a NEW session (the split no batch replay shows). If
    a Spark upgrade changes any of these, this fails readably instead
    of as a gate hash-diff."""
    import os

    from pyspark.sql import functions as F

    def run(name, batches):
        root = str(tmp_path / name)
        os.makedirs(f"{root}/in")
        for b, rows in batches.items():
            df = spark.createDataFrame(rows, ["sec", "user_id"]).select(
                F.timestamp_seconds(F.col("sec")).alias("ts_ts"), "user_id"
            )
            stg = f"{root}/stage{b}"
            df.coalesce(1).write.parquet(stg)
            part = next(p for p in os.listdir(stg) if p.endswith(".parquet"))
            os.rename(f"{stg}/{part}", f"{root}/in/b{b}.parquet")
            os.utime(f"{root}/in/b{b}.parquet", (1_600_000_000 + b * 100,) * 2)
        src = (
            spark.readStream.schema("ts_ts timestamp, user_id string")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{root}/in")
        )
        agg = (
            src.withWatermark("ts_ts", "0 seconds")
            .groupBy(F.session_window("ts_ts", "10 minutes").alias("w"), "user_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                "user_id",
                F.col("w.start").cast("long").alias("s"),
                F.col("w.end").cast("long").alias("e"),
                "n",
            )
        )
        q = (
            agg.writeStream.format("memory")
            .queryName(f"sessrules_{name}")
            .outputMode("append")
            .option("checkpointLocation", f"{root}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = sorted(
            (r.user_id, r.s, r.e, r.n)
            for r in spark.table(f"sessrules_{name}").collect()
        )
        spark.catalog.dropTempView(f"sessrules_{name}")
        return got

    # (a) touch-merge: [1000,1600) + [1600,2200) become ONE session
    got = run("touch", {0: [(1000, "u1"), (1600, "u1")], 1: [(90000, "u9")]})
    assert ("u1", 1000, 2200, 2) in got, got

    # (b)+(c): u1's [1000,1600) evicted at end == wm (non-strict) during
    # the u3 batch; the later-admitted 1100 row (proto end 1700 > lagged
    # wm 1600) cannot rejoin it and forms a SEPARATE session
    got = run(
        "split",
        {0: [(1000, "u1"), (1600, "u2")], 1: [(50000, "u3")], 2: [(1100, "u1")]},
    )
    assert got == [
        ("u1", 1000, 1600, 1),
        ("u1", 1100, 1700, 1),
        ("u2", 1600, 2200, 1),
    ], got


def test_dedup_within_watermark_rules(spark, tmp_path):
    """r09: pins the dropDuplicatesWithinWatermark state rules the
    q_events_dedup_within_watermark oracle replays, probed on this
    engine build — (a) late input drops against the LAGGED watermark,
    non-strict (SPARK-24634: E@1121 > lagged 1120 is admitted even
    though the current wm is 1125; R@1120 == lagged drops; D@900
    drops); (b) duplicates drop against live state WITHOUT extending
    its expiry (G re-emits: its 1040 duplicate did not move the 1100
    expiry past wm 1120); (c) eviction runs at END of batch with that
    batch's watermark, non-strict on expiry (A: expiry 1100 <= wm
    1120 at end of the I batch -> re-emits at 1300; H: expiry 1320
    alive -> 1310 dup drops). If a Spark upgrade changes any of
    these, this fails readably instead of as a gate hash-diff."""
    import os

    from pyspark.sql import functions as F

    from delta_rs_spark.streaming.stateful import dedup_within_watermark

    root = str(tmp_path / "ddwwrules")
    os.makedirs(f"{root}/in")
    batches = {
        0: [("A", 1000), ("G", 1000)],
        1: [("G", 1040), ("H", 1220)],   # wm during next batch: 1120
        2: [("I", 1225)],                # end-of-batch eviction: A, G out
        3: [
            ("A", 1300),  # re-emit (evicted)
            ("G", 1300),  # re-emit (no expiry extension by the 1040 dup)
            ("H", 1310),  # drop (state alive: expiry 1320 > wm 1125)
            ("D", 900),   # drop (<= lagged wm 1120)
            ("R", 1120),  # drop (== lagged wm, non-strict)
            ("E", 1121),  # EMIT (> lagged wm 1120, though < current 1125)
        ],
    }
    for b, rows in batches.items():
        df = spark.createDataFrame(rows, ["k", "sec"]).select(
            "k", F.timestamp_seconds(F.col("sec")).alias("ts_ts")
        )
        stg = f"{root}/stage{b}"
        df.coalesce(1).write.parquet(stg)
        part = next(p for p in os.listdir(stg) if p.endswith(".parquet"))
        os.rename(f"{stg}/{part}", f"{root}/in/b{b}.parquet")
        os.utime(f"{root}/in/b{b}.parquet", (1_600_000_000 + b * 100,) * 2)
    src = (
        spark.readStream.schema("k string, ts_ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{root}/in")
    )
    out = dedup_within_watermark(src, keys="k", ts_col="ts_ts", delay="100 seconds")
    q = (
        out.writeStream.format("memory")
        .queryName("ddwwrules_sink")
        .outputMode("append")
        .option("checkpointLocation", f"{root}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (r.k, int(r.ts_ts.timestamp())) for r in spark.table("ddwwrules_sink").collect()
    )
    spark.catalog.dropTempView("ddwwrules_sink")
    assert got == [
        ("A", 1000),
        ("A", 1300),
        ("E", 1121),
        ("G", 1000),
        ("G", 1300),
        ("H", 1220),
        ("I", 1225),
    ], got


def test_stream_stream_join_rules(spark, tmp_path):
    """r09: pins the stream-stream inner-join rules the
    q_events_stream_stream_join oracle replays, probed on this engine
    build — with per-side 100 s watermarks and the band rt in
    [lt, lt+200s]: (a) the global watermark is the MIN of the two
    sides' (max event time - delay); (b) late input drops against the
    LAGGED global watermark, non-strict (d@901 <= 4900 drops; e@4900
    == lagged wm drops; c@4950 > 4900 admits); (c) state eviction is
    calibrated against that filter, so an admitted straggler on EITHER
    side still finds its surviving partners (c pairs with the batch-0
    left row; LEFT straggler f@4930 pairs with the batch-0 right row);
    (d) the band bounds are inclusive (b pairs at rt == lt+200). If a
    Spark upgrade changes any of these, this fails readably instead of
    as a gate hash-diff."""
    import os

    from pyspark.sql import functions as F

    from delta_rs_spark.streaming.joins import stream_stream_interval_join

    root = str(tmp_path / "ssjrules")
    L = {
        0: [("a", 1000), ("b", 1000), ("c", 4900), ("d", 800), ("e", 4850),
            ("z", 5000)],
        1: [("z", 5100)],
        2: [("f", 4930)],
    }
    R = {
        0: [("a", 1100), ("f", 4960), ("z2", 5000)],
        1: [("b", 1200), ("z2", 5100)],
        2: [("c", 4950), ("d", 901), ("e", 4900)],
    }
    for side, batches in (("L", L), ("R", R)):
        os.makedirs(f"{root}/{side}")
        for b, rows in batches.items():
            df = spark.createDataFrame(rows, ["k", "sec"]).select(
                "k", F.timestamp_seconds(F.col("sec")).alias("ts_ts")
            )
            stg = f"{root}/stage_{side}{b}"
            df.coalesce(1).write.parquet(stg)
            part = next(p for p in os.listdir(stg) if p.endswith(".parquet"))
            os.rename(f"{stg}/{part}", f"{root}/{side}/b{b}.parquet")
            os.utime(f"{root}/{side}/b{b}.parquet", (1_600_000_000 + b * 100,) * 2)
    lsrc = (
        spark.readStream.schema("k string, ts_ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{root}/L")
        .selectExpr("k AS lk", "ts_ts AS lts")
    )
    rsrc = (
        spark.readStream.schema("k string, ts_ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{root}/R")
        .selectExpr("k AS rk", "ts_ts AS rts")
    )
    joined = stream_stream_interval_join(
        lsrc,
        rsrc,
        keys=[("lk", "rk")],
        left_ts="lts",
        right_ts="rts",
        upper="200 seconds",
        watermark="100 seconds",
    ).select("lk", "lts", "rts")
    q = (
        joined.writeStream.format("memory")
        .queryName("ssjrules_sink")
        .outputMode("append")
        .option("checkpointLocation", f"{root}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (r.lk, int(r.lts.timestamp()), int(r.rts.timestamp()))
        for r in spark.table("ssjrules_sink").collect()
    )
    spark.catalog.dropTempView("ssjrules_sink")
    assert got == [
        ("a", 1000, 1100),   # same-batch pair
        ("b", 1000, 1200),   # inclusive upper bound, cross-batch
        ("c", 4900, 4950),   # right straggler admitted via lagged wm
        ("f", 4930, 4960),   # LEFT straggler joins right state
    ], got


def test_stream_stream_join_batch_mode(spark):
    """The same stream_stream_interval_join call on BATCH frames is the
    backfill replay of the identical definition (windows.py convention:
    watermarks only attach to streaming inputs)."""
    from pyspark.sql import functions as F

    from delta_rs_spark.streaming.joins import stream_stream_interval_join

    l = spark.createDataFrame([("a", 1000), ("b", 5000)], ["lk", "sec"]).select(
        "lk", F.timestamp_seconds("sec").alias("lts")
    )
    r = spark.createDataFrame(
        [("a", 1100), ("a", 1300), ("b", 4000)], ["rk", "sec"]
    ).select("rk", F.timestamp_seconds("sec").alias("rts"))
    got = sorted(
        (x.lk, int(x.rts.timestamp()))
        for x in stream_stream_interval_join(
            l, r, keys=[("lk", "rk")], left_ts="lts", right_ts="rts",
            upper="200 seconds",
        ).collect()
    )
    assert got == [("a", 1100)]  # 1300 beyond band; b's 4000 precedes lts


def test_stream_stream_outer_join_null_emission_rules(spark, tmp_path):
    """r09: pins the LEFT OUTER null-emission rules the upgraded
    q_events_stream_stream_join oracle replays, probed on this engine
    build — an admitted, never-matched left row emits its NULL-padded
    result iff the final watermark STRICTLY passes its last possible
    match time (lt + upper < wm_final): h@1001 emits (1201 < 1900),
    m@1700 is withheld at the boundary (1900 == 1900 — note the
    asymmetry with the NON-strict late filter), i@1750 and z@2000 are
    withheld, matched lefts (j, k) never emit a NULL row, and
    unmatched RIGHT rows emit nothing under leftOuter."""
    import os

    from pyspark.sql import functions as F

    from delta_rs_spark.streaming.joins import stream_stream_interval_join

    root = str(tmp_path / "ssjorules")
    L = {
        0: [("g", 1000), ("j", 1000), ("k", 1000), ("z", 1100)],
        1: [("z", 2000)],
        2: [("h", 1001), ("m", 1700), ("i", 1750)],
    }
    R = {
        0: [("j", 1050), ("z2", 1100)],
        1: [("k", 1100), ("z2", 2000)],
        2: [("z2", 1999)],
    }
    for side, batches in (("L", L), ("R", R)):
        os.makedirs(f"{root}/{side}")
        for b, rows in batches.items():
            df = spark.createDataFrame(rows, ["k", "sec"]).select(
                "k", F.timestamp_seconds(F.col("sec")).alias("ts_ts")
            )
            stg = f"{root}/stage_{side}{b}"
            df.coalesce(1).write.parquet(stg)
            part = next(p for p in os.listdir(stg) if p.endswith(".parquet"))
            os.rename(f"{stg}/{part}", f"{root}/{side}/b{b}.parquet")
            os.utime(f"{root}/{side}/b{b}.parquet", (1_600_000_000 + b * 100,) * 2)
    lsrc = (
        spark.readStream.schema("k string, ts_ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{root}/L")
        .selectExpr("k AS lk", "ts_ts AS lts")
    )
    rsrc = (
        spark.readStream.schema("k string, ts_ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{root}/R")
        .selectExpr("k AS rk", "ts_ts AS rts")
    )
    joined = stream_stream_interval_join(
        lsrc,
        rsrc,
        keys=[("lk", "rk")],
        left_ts="lts",
        right_ts="rts",
        upper="200 seconds",
        watermark="100 seconds",
        how="leftOuter",
    ).select("lk", "lts", "rts")
    q = (
        joined.writeStream.format("memory")
        .queryName("ssjorules_sink")
        .outputMode("append")
        .option("checkpointLocation", f"{root}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (r.lk, int(r.lts.timestamp()),
         int(r.rts.timestamp()) if r.rts is not None else None)
        for r in spark.table("ssjorules_sink").collect()
    )
    spark.catalog.dropTempView("ssjorules_sink")
    assert got == [
        ("g", 1000, None),   # unmatched, 1200 < 1900 -> NULL emitted
        ("h", 1001, None),   # admitted in b2, unmatched, 1201 < 1900
        ("j", 1000, 1050),   # matched: no NULL row
        ("k", 1000, 1100),   # cross-batch match: no NULL row
        ("z", 1100, None),   # unmatched, 1300 < 1900
    ], got


def test_stream_static_enrich_sees_mid_stream_dim_updates(spark, tmp_path):
    """r09: pins the q_events_stream_static_enrich contract — a
    foreachBatch handler that RELOADS the dimension snapshot observes
    mid-stream updates (batch k sees exactly the mutations applied
    after batches < k), while a frame loaded once before the stream
    stays frozen at the seed version (the production gotcha)."""
    import os

    from pyspark.sql import functions as F

    from delta_rs_spark import DeltaTable, write_deltalake

    root = str(tmp_path / "enrich")
    os.makedirs(f"{root}/in")
    for b in (0, 1):
        df = spark.createDataFrame([(b * 10 + 1, 100 + b)], ["event_id", "user_id"])
        stg = f"{root}/stage{b}"
        df.coalesce(1).write.parquet(stg)
        part = next(p for p in os.listdir(stg) if p.endswith(".parquet"))
        os.rename(f"{stg}/{part}", f"{root}/in/b{b}.parquet")
        os.utime(f"{root}/in/b{b}.parquet", (1_600_000_000 + b * 100,) * 2)
    dim_path = f"{root}/dim"
    write_deltalake(
        dim_path,
        spark.createDataFrame([(100, 0), (101, 0)], ["user_id", "tier"]),
    )
    frozen = DeltaTable(dim_path, spark=spark).to_df()  # seed snapshot
    got: list[tuple] = []

    def handler(batch_df, batch_id):
        live = DeltaTable(dim_path, spark=spark).to_df()
        row = (
            batch_df.join(live, "user_id")
            .join(
                frozen.withColumnRenamed("tier", "frozen_tier"), "user_id"
            )
            .select("event_id", "tier", "frozen_tier")
            .collect()[0]
        )
        got.append((batch_id, row.event_id, row.tier, row.frozen_tier))
        DeltaTable(dim_path, spark=spark).update({"tier": "tier + 1"})

    q = (
        spark.readStream.schema("event_id long, user_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{root}/in")
        .writeStream.foreachBatch(handler)
        .option("checkpointLocation", f"{root}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # batch 0 sees tier 0; batch 1 sees the post-batch-0 update (tier 1);
    # the frozen seed frame reports 0 both times
    assert got == [(0, 1, 0, 0), (1, 11, 1, 0)], got


def test_stream_static_enrich_handler_is_replay_idempotent(spark, tmp_path):
    """r10 ADVICE: foreachBatch runs with AT-LEAST-ONCE semantics — a
    retried micro-batch re-invokes the handler with the same batch_id.
    The gate's handler must converge: replaying batch k after its dim
    update already applied must produce the SAME output rows (version-k
    join + per-batch overwrite sink) and must NOT bump the dimension a
    second time (guarded update). Simulates the retry by invoking the
    handler directly, including the worst case: a crash between the
    output write and the dim update, and a late replay of an OLD batch
    after newer batches ran."""
    from delta_rs_spark import DeltaTable, write_deltalake
    from delta_rs_spark.queries_streaming import _make_enrich_handler

    root = str(tmp_path / "replay")
    dim_path, out_dir = f"{root}/dim", f"{root}/out"
    write_deltalake(
        dim_path,
        spark.createDataFrame(
            [(u, 0) for u in range(6)], "user_id long, tier long"
        ),
    )
    handler = _make_enrich_handler(spark, dim_path, out_dir)

    def batch(b):
        return spark.createDataFrame(
            [(b * 10 + i, i, 100 + i) for i in range(6)],
            "event_id long, user_id long, cents long",
        )

    def out_rows():
        return sorted(
            (r.event_id, r.user_id, r.cents, r.tier)
            for r in spark.read.parquet(out_dir).collect()
        )

    handler(batch(0), 0)
    after_b0 = out_rows()
    dim_v = DeltaTable(dim_path, spark=spark).version()
    # retry batch 0 AFTER its dim update ran (the ADVICE scenario)
    handler(batch(0), 0)
    assert out_rows() == after_b0  # no duplicate/diverged rows
    assert DeltaTable(dim_path, spark=spark).version() == dim_v  # no 2nd bump

    handler(batch(1), 1)
    after_b1 = out_rows()
    # late replay of the OLD batch after a newer one committed: the
    # version-k join still reconstructs batch 0's view
    handler(batch(0), 0)
    assert out_rows() == after_b1
    assert DeltaTable(dim_path, spark=spark).version() == dim_v + 1

    # batch 0 saw all tier 0; batch 1 saw tier 1 exactly for the
    # user_id % 3 = 0 slice
    tiers = {
        (r.event_id, r.tier) for r in spark.read.parquet(out_dir).collect()
    }
    assert all(t == 0 for e, t in tiers if e < 10)
    assert {t for e, t in tiers if e >= 10} == {0, 1}
    assert all(
        t == (1 if (e - 10) % 3 == 0 else 0) for e, t in tiers if e >= 10
    )


def test_read_append_stream_max_bytes_per_trigger(spark, tmp_path, sample_df):
    """maxBytesPerTrigger (delta-spark parity): the catch-up tail takes
    whole commits until the cumulative data-change add bytes would
    exceed the cap — a 1-byte cap degenerates to one commit per batch
    (soft max: never stalls), so the tail splits like maxFilesPerTrigger
    does."""
    from delta_rs_spark.streaming.delta_stream import read_append_stream

    table = str(tmp_path / "mbt_tail")
    write_deltalake(table, sample_df.coalesce(1))            # v0
    for _ in range(4):                                       # v1..v4
        write_deltalake(table, sample_df.coalesce(1), mode="append")
    stream = read_append_stream(
        spark, table, starting_version=1, max_bytes_per_trigger=1
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("mbt_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_mbt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    assert spark.sql("SELECT count(*) FROM mbt_out").collect()[0][0] == 20
    batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(batches) >= 3
    spark.catalog.dropTempView("mbt_out")


_INGEST_WORDS = "cat dog boat river king queen sun moon grain salt iron tea wool fish".split()


def _ingest_batches(spark):
    """Two micro-batches of 150 English docs: the second re-sends 30
    (20 %) of the first's texts under new ids."""
    import random

    rng = random.Random(13)

    def text(i):
        words = rng.choices(_INGEST_WORDS, k=12)
        return f"the {' and the '.join(words)} went to the market with {i} " * 2

    first = [(i, text(i)) for i in range(150)]
    resent = rng.sample(range(150), 30)
    second = [(150 + j, first[i][1]) for j, i in enumerate(resent)]
    second += [(i, text(i)) for i in range(180, 300)]
    return [spark.createDataFrame(b, "doc_id long, text string") for b in (first, second)]


def _ids(path, col):
    return sorted(r[0] for r in DeltaTable(path).to_df(columns=[col]).collect())


def test_ingest_batch_job_count(spark, tmp_path):
    """A micro-batch against a non-empty index runs at most 4 Spark jobs:
    the index broadcast, the probe window's shuffle, the corpus write,
    and the index write, which reads its rows back from the one file the
    corpus commit added. Each table gains one file, and no frame stays
    pinned."""
    from conftest import persistent_rdds, spark_jobs

    from delta_rs_spark.functions.dedup import build_fingerprint_index
    from delta_rs_spark.streaming.ingest import process_corpus_batch

    first, second = _ingest_batches(spark)
    corpus, index = str(tmp_path / "corpus"), str(tmp_path / "fpidx")
    build_fingerprint_index(first.limit(0), index)
    process_corpus_batch(first, 0, corpus, index)

    def n_files():
        return len(DeltaTable(corpus).files()), len(DeltaTable(index).files())

    before = n_files()
    _, jobs = spark_jobs(spark, lambda: process_corpus_batch(second, 1, corpus, index))
    assert jobs <= 4
    assert n_files() == (before[0] + 1, before[1] + 1)
    assert persistent_rdds(spark) == 0
    want = list(range(150)) + list(range(180, 300))
    assert _ids(corpus, "doc_id") == _ids(index, "id") == want


def test_ingest_crash_between_corpus_and_index_commits(spark, tmp_path, monkeypatch):
    """Fault point: the process dies after a batch's corpus commit and
    before its index commit. Replaying the batch converges to the
    no-fault state: the corpus Txn makes the append a no-op, so the
    index rows come from the recomputed survivors (the newest corpus
    commit is not the replay's), and a second replay adds nothing."""
    from conftest import persistent_rdds, table_tree

    from delta_rs_spark.functions import dedup
    from delta_rs_spark.log.snapshot import latest_version
    from delta_rs_spark.streaming import ingest

    batches = _ingest_batches(spark)
    read_back = []
    committed_rows = ingest._committed_rows

    def spy(*args):
        rows = committed_rows(*args)
        read_back.append(rows is not None)
        return rows

    monkeypatch.setattr(ingest, "_committed_rows", spy)

    def tables(name):
        corpus, index = str(tmp_path / f"{name}_corpus"), str(tmp_path / f"{name}_idx")
        dedup.build_fingerprint_index(batches[0].limit(0), index)
        ingest.process_corpus_batch(batches[0], 0, corpus, index)
        return corpus, index

    want_corpus, want_index = tables("nofault")
    ingest.process_corpus_batch(batches[1], 1, want_corpus, want_index)
    assert read_back == [True, True]

    corpus, index = tables("fault")

    def die(*args, **kwargs):
        raise RuntimeError("process died before the index commit")

    with monkeypatch.context() as m:
        m.setattr(dedup, "update_fingerprint_index", die)
        with pytest.raises(RuntimeError, match="died"):
            ingest.process_corpus_batch(batches[1], 1, corpus, index)
    # the corpus committed, the index did not
    assert (latest_version(corpus), latest_version(index)) == (1, 1)

    del read_back[:]
    ingest.process_corpus_batch(batches[1], 1, corpus, index)
    assert read_back == [False]  # the replay indexes the recomputed survivors
    assert latest_version(corpus) == 1  # the Txn made the append a no-op
    want = _ids(want_corpus, "doc_id")
    assert _ids(corpus, "doc_id") == want
    assert _ids(index, "id") == want == _ids(want_index, "id")
    assert table_tree(corpus)[1] == table_tree(index)[1] == []
    assert persistent_rdds(spark) == 0

    ingest.process_corpus_batch(batches[1], 1, corpus, index)
    assert latest_version(corpus) == 1
    assert _ids(index, "id") == want
