"""Physical-plan audits: the plans we ship are the plans we intend.

These assert the scale-relevant properties .explain() shows — pushed
filters, pruned read schemas, broadcast joins on dimension tables, and
shuffle-free single-projection operators — so a regression that silently
flips a broadcast join to sort-merge or widens a scan fails CI, not a
production run at 1000x the data.
"""

import io
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from delta_rs_spark import DeltaTable, write_deltalake
from delta_rs_spark.queries import registry
from delta_rs_spark.sources.tpch import load_table

SF = "/root/testdata/sf0.001"


def plan_of(df, mode="formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_scan_pushdown_and_pruning(spark):
    li = load_table(spark, SF, "lineitem")
    df = li.filter(F.col("l_quantity") > 45).select("l_orderkey", "l_quantity")
    p = plan_of(df)
    assert "PushedFilters: [" in p and "l_quantity" in p.split("PushedFilters")[1].split("]")[0]
    read_schema = p.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_extendedprice" not in read_schema


def test_dimension_joins_are_broadcast(spark):
    qs = registry()
    for name in ("q3_shipping_priority", "q5_local_supplier_volume", "q10_returned_items"):
        p = plan_of(qs[name][0](spark, SF), "simple")
        assert "BroadcastHashJoin" in p, name


def test_simhash_single_combined_shuffle(spark):
    from delta_rs_spark.functions.dedup import simhash

    docs = load_table(spark, SF, "documents")
    p = plan_of(simhash(docs), "simple")
    # the packed-lane aggregate shuffles ONCE on id, and the exchange is
    # fed by a partial (map-side) aggregate — so shuffle bytes are
    # O(docs x 33 longs), independent of document length
    assert p.count("Exchange") == 1
    assert "partial_sum" in p


def test_delta_scan_prunes_read_schema(spark, tmp_table, sample_df):
    write_deltalake(tmp_table, sample_df)
    t = DeltaTable(tmp_table)
    p = plan_of(t.to_df(columns=["id"]))
    read_schema = p.split("ReadSchema:")[1].splitlines()[0]
    assert "id" in read_schema and "price" not in read_schema


def test_delta_predicate_reaches_parquet(spark, tmp_table, sample_df):
    write_deltalake(tmp_table, sample_df)
    t = DeltaTable(tmp_table)
    p = plan_of(t.to_df(predicate="price > 2.0"))
    assert "PushedFilters: [" in p
    assert "price" in p.split("PushedFilters")[1].split("]")[0]


def test_winnowing_single_shuffle(spark):
    """Winnowing shuffles ONCE on doc id; the final distinct reuses that
    partitioning instead of adding an exchange, and the sliding min is a
    window frame, not a per-position array slice."""
    from delta_rs_spark.functions.text import winnowing_fingerprints

    docs = load_table(spark, SF, "documents")
    p = plan_of(winnowing_fingerprints(docs), "simple")
    assert p.count("Exchange") == 1
    assert "Window" in p


def test_minhash_signature_partial_aggregation(spark):
    """The 64 permutation minima aggregate map-side (partial_min feeds
    the single exchange), so shuffle bytes are O(docs), independent of
    document length."""
    from delta_rs_spark.functions.dedup import minhash_signatures

    docs = load_table(spark, SF, "documents")
    p = plan_of(minhash_signatures(docs), "simple")
    assert p.count("Exchange") == 1
    assert "partial_min" in p


def test_events_scan_native_vectorized(spark):
    """The events loader must read ts as a native TimestampType through
    the vectorized parquet reader with timestamp predicates pushed to the
    scan — the r02 forced-LongType read disabled both (6x slower scans,
    1970-epoch results)."""
    from pyspark.sql import types as T

    ev = load_table(spark, SF, "events")
    assert isinstance(ev.schema["ts"].dataType, T.TimestampType)
    df = ev.filter(
        F.col("ts") >= F.lit("2024-01-01").cast("timestamp")
    ).select("event_id")
    p = plan_of(df)
    assert "Batched: true" in p  # vectorized reader engaged
    assert "PushedFilters" in p
    assert "ts" in p.split("PushedFilters")[1].split("]")[0]


def test_events_ns_fallback_roundtrip(spark, tmp_path):
    """If the driver regenerates events.parquet as TIMESTAMP(NANOS)
    again (the r1-2 layout Spark 4 can't read natively), the loader's
    footer branch must force int64-ns and still yield the same µs
    TimestampType contract."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    ts = [dt.datetime(2024, 1, 1, h, 30) for h in range(4)]
    t = pa.table(
        {
            "event_id": pa.array([1, 2, 3, 4], pa.int64()),
            "ts": pa.array(ts, pa.timestamp("ns")),
            "user_id": pa.array([1, 1, 2, 2], pa.int64()),
            "event_type": pa.array(["click"] * 4),
            "value": pa.array([1.0, 2.0, 3.0, 4.0]),
            "props": pa.array(['{"k":1}'] * 4),
        }
    )
    pq.write_table(t, str(tmp_path / "events.parquet"), store_schema=False)
    from pyspark.sql import types as T

    ev = load_table(spark, str(tmp_path), "events")
    assert isinstance(ev.schema["ts"].dataType, T.TimestampType)
    rows = sorted((r.event_id, str(r.ts)) for r in ev.collect())
    assert rows[0] == (1, "2024-01-01 00:30:00")
    assert rows[3] == (4, "2024-01-01 03:30:00")


def test_contamination_broadcasts_benchmark_side(spark):
    from delta_rs_spark.functions.text import containment_scores

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    p = plan_of(containment_scores(docs, bench), "simple")
    # the benchmark fingerprint set must ride a broadcast, never a
    # corpus-side sort-merge shuffle
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_semantic_dedup_one_pairing_shuffle(spark):
    from delta_rs_spark.functions.similarity import semantic_dedup

    emb = load_table(spark, SF, "embeddings")
    out = semantic_dedup(emb, threshold=0.4, n_lists=8)
    p = plan_of(out, "simple")
    # downstream of the checkpointed assignment: one hash exchange for
    # the per-list applyInPandas pairing (plus the keep join's own
    # exchanges at most); no cartesian or sort-merge self-join
    assert "FlatMapGroupsInPandas" in p or "FlatMapGroupsIn" in p
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p


def test_unigram_vocab_join_is_broadcast(spark):
    from delta_rs_spark.functions.text import unigram_logprob

    docs = load_table(spark, SF, "documents")
    p = plan_of(unigram_logprob(docs), "simple")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_pq_encode_is_shuffle_free(spark):
    from delta_rs_spark.functions.similarity import pq_codebooks, pq_encode

    emb = load_table(spark, SF, "embeddings")
    cbs = pq_codebooks(emb, m=8, n_codes=16)
    p = plan_of(pq_encode(emb, cbs), "simple")
    assert "Exchange" not in p  # pure map: scan -> pandas eval -> explode


def test_temperature_mix_is_join_free(spark):
    from delta_rs_spark.functions.sampling import temperature_sample

    docs = load_table(spark, SF, "documents").select("doc_id", "lang")
    out, _ = temperature_sample(docs, alpha=0.5, source_col="lang")
    p = plan_of(out, "simple")
    # rates are inlined as a literal CASE: the sampled scan has no join
    # and no exchange (pass 1's count aggregate ran at build time)
    assert "Join" not in p and "Exchange" not in p


def test_corpus_pipeline_single_shuffle(spark):
    from delta_rs_spark.functions.text import corpus_filter_report

    docs = load_table(spark, SF, "documents")
    p = plan_of(corpus_filter_report(docs), "simple")
    # one hash exchange for the fingerprint window; no joins
    assert p.count("Exchange hashpartitioning") == 1
    assert "Join" not in p


def test_bigram_count_joins_are_broadcast(spark):
    from delta_rs_spark.functions.text import bigram_logprob

    docs = load_table(spark, SF, "documents")
    p = plan_of(bigram_logprob(docs), "simple")
    # both count tables (bigram + context) ride broadcasts back onto the
    # tf table; no sort-merge join anywhere in the scoring path
    assert p.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in p


def test_shard_stats_single_aggregation(spark):
    from delta_rs_spark.functions.sampling import assign_shards

    docs = load_table(spark, SF, "documents")
    from delta_rs_spark.functions.text import token_count

    out = assign_shards(docs, 16).groupBy("shard").agg(
        F.sum(token_count("text")).alias("n_tokens")
    )
    p = plan_of(out, "simple")
    # one hash aggregate pair around one exchange; no joins
    assert p.count("Exchange hashpartitioning") == 1
    assert "Join" not in p


def test_domain_cap_single_window_shuffle(spark):
    from delta_rs_spark.functions.sampling import domain_cap

    docs = load_table(spark, SF, "documents")
    p = plan_of(domain_cap(docs, cap=5), "simple")
    # one hash exchange on the domain key feeding the rank window; the
    # quality score is computed map-side, never shuffled separately
    assert p.count("Exchange") == 1
    assert "Window" in p


def test_fp_index_probe_is_one_join_no_history_rescan(spark, tmp_path):
    from delta_rs_spark.functions.dedup import (
        build_fingerprint_index,
        dedup_against_fingerprint_index,
    )

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    path = str(tmp_path / "fpidx")
    build_fingerprint_index(docs.filter(F.col("doc_id") % 2 == 0), path)
    surv = dedup_against_fingerprint_index(
        spark, path, docs.filter(F.col("doc_id") % 3 == 0)
    )
    p = plan_of(surv, "simple")
    # the probe reads the compact INDEX parquet, never the history text:
    # exactly one anti join against it (broadcast — the batch is small),
    # two scans total, and the index side projects only fp
    assert p.count("LeftAnti") == 1
    assert p.count("FileScan") == 2
    # the index-side scan reads ONLY the fp column (Location strings can
    # be truncated in explain output, so identify it by its ReadSchema)
    assert any(
        "FileScan" in l and "struct<fp:string>" in l for l in p.splitlines()
    )


def test_kmeans_update_is_partial_aggregated(spark):
    from delta_rs_spark.functions.similarity import kmeans

    emb = load_table(spark, SF, "embeddings")
    out, _ = kmeans(emb, k=4, n_iter=2)
    p = plan_of(out, "simple")
    # final assignment is a pure map pass over the scan: no shuffle at all
    assert "Exchange" not in p


def test_bm25_query_and_idf_joins_are_broadcast(spark):
    from delta_rs_spark.functions.retrieval import bm25_topk, head_term_queries

    docs = load_table(spark, SF, "documents")
    df = bm25_topk(docs, head_term_queries(docs))
    p = plan_of(df, "simple")
    # the corpus postings stream must stay put: query terms and the
    # (query-vocabulary-sized) idf table ride broadcasts into it — a
    # sort-merge here would shuffle the whole inverted index per query set
    assert p.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in p


def test_importance_resampling_lambda_join_is_broadcast(spark):
    from delta_rs_spark.functions.sampling import importance_resampling

    docs = load_table(spark, SF, "documents")
    df = importance_resampling(docs, F.col("source") == "src0")
    p = plan_of(df, "simple")
    # the vocab/log-ratio table is vocab_size rows -> broadcast, and the
    # corpus-wide term stream is never cartesian-paired with anything
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_length_buckets_single_shuffle(spark):
    from delta_rs_spark.functions.packing import length_bucket_batches

    docs = load_table(spark, SF, "documents").select(
        "doc_id", F.lit(10).alias("n_tokens")
    )
    p = plan_of(length_bucket_batches(docs), "simple")
    # one exchange keyed by bucket: the window and the (bucket, batch)
    # aggregation share it — a second shuffle would mean the groupBy key
    # lost its bucket prefix
    assert p.count("Exchange") == 1


def test_epoch_permutation_no_global_sort(spark):
    from delta_rs_spark.functions.sampling import epoch_permutation

    docs = load_table(spark, SF, "documents").select("doc_id")
    p = plan_of(epoch_permutation(docs, 16), "simple")
    # ranks live within shards: one hash-partitioned exchange, never a
    # global range-partitioned sort (the 100 TB ordering bottleneck)
    assert "rangepartitioning" not in p.lower()
    assert p.count("Exchange") == 1


def test_token_budget_cap_single_window_shuffle(spark):
    from delta_rs_spark.functions.sampling import token_budget_cap

    docs = load_table(spark, SF, "documents")
    p = plan_of(token_budget_cap(docs, {"src0": 1000}), "simple")
    assert p.count("Exchange") == 1  # one source-keyed window

def test_source_divergence_vocab_joins_are_broadcast(spark):
    from delta_rs_spark.functions.text import source_divergence

    docs = load_table(spark, SF, "documents")
    p = plan_of(source_divergence(docs), "simple")
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p


def test_duplicate_spans_skew_safe_no_fp_window(spark):
    """Hot-fingerprint safety (r06 verdict #1): the per-fingerprint
    occurrence count and keep-first pick must run as a partial-aggregated
    groupBy (combiner-absorbed on skewed boilerplate windows) joined
    back, NEVER as window functions over partitionBy(fp) — a window
    forces every occurrence of one fingerprint into a single task, which
    on a 100 TB web corpus means a 10^8-row straggler for "all rights
    reserved"-class windows."""
    from delta_rs_spark.functions.dedup import duplicate_spans

    docs = load_table(spark, SF, "documents")
    p = plan_of(duplicate_spans(docs), "simple")
    assert "partial_count" in p  # map-side combine on the fp groupBy
    # the ONLY window in the plan is the doc-keyed island merge; no
    # window may be partitioned by the fingerprint column
    for frag in p.split("Window ")[1:]:
        spec = frag.split("]")[0]
        assert "fp" not in spec, f"fp-partitioned window survived: {spec}"


def test_gopher_rules_shuffle_free(spark):
    """The rule battery is a pure codegen projection: no exchange, no
    UDF — it must compose with any scan at zero shuffle cost."""
    from delta_rs_spark.functions.text import gopher_quality_report

    docs = load_table(spark, SF, "documents")
    p = plan_of(gopher_quality_report(docs), "simple")
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_ql_topk_joins_are_broadcast(spark):
    """Query-likelihood shares bm25's shape: the query frame and the
    query-vocabulary-sized ctf table broadcast into the postings scan;
    no sort-merge join may appear on the corpus-sized side."""
    from delta_rs_spark.functions.retrieval import head_term_queries, ql_topk

    docs = load_table(spark, SF, "documents")
    p = plan_of(ql_topk(docs, head_term_queries(docs)), "simple")
    assert p.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in p


def test_rrf_fuse_input_bounded_single_agg_shuffle(spark):
    """Fusion aggregates the top-k-bounded union: one hash aggregate
    with map-side combine over |queries| x k x N rows, never a
    corpus-scaled shuffle."""
    from delta_rs_spark.functions.retrieval import (
        bm25_topk,
        head_term_queries,
        ql_topk,
        rrf_fuse,
    )

    docs = load_table(spark, SF, "documents")
    qs = head_term_queries(docs)
    p = plan_of(rrf_fuse([bm25_topk(docs, qs, k=20), ql_topk(docs, qs, k=20)]), "simple")
    assert "partial_sum" in p
    assert "CartesianProduct" not in p


def test_ngram_diversity_tagged_union_partial_agg(spark):
    """Both gram streams ride ONE tagged-union aggregation pipeline with
    map-side combine; nothing corpus-sized shuffles more than the
    (source, kind, gram) collapse requires."""
    from delta_rs_spark.functions.text import ngram_diversity

    docs = load_table(spark, SF, "documents")
    p = plan_of(ngram_diversity(docs), "simple")
    assert "partial_count" in p
    assert "CartesianProduct" not in p


def test_zipf_fit_topk_no_global_sort(spark):
    """The frequency cut is TakeOrdered (per-partition top-V + merge),
    never a range-partitioned global sort; the rank window runs over at
    most vocab_size rows (documented bounded single partition)."""
    from delta_rs_spark.functions.text import zipf_fit

    docs = load_table(spark, SF, "documents")
    p = plan_of(zipf_fit(docs), "simple")
    assert "TakeOrderedAndProject" in p
    assert "rangepartitioning" not in p.lower()


def test_semantic_contamination_broadcast_and_partial_max(spark):
    """Bench side broadcasts; the argmax reduces with map-side combine
    (partial_max) so one row per corpus vector crosses the shuffle."""
    from delta_rs_spark.functions.similarity import semantic_contamination

    emb = load_table(spark, SF, "embeddings")
    bench = emb.filter(F.col("vec_id") < 8)
    p = plan_of(semantic_contamination(emb, bench), "simple")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "partial_max" in p
    assert "CartesianProduct" not in p


def test_value_percentiles_window_over_grid_not_events(spark):
    """The ordered window must run over the (group, cent) collapse —
    partial_count proves the map-side combine that bounds the window
    input by the value grid, never by event volume."""
    from delta_rs_spark.functions.timeseries import value_percentiles

    ev = load_table(spark, SF, "events")
    p = plan_of(value_percentiles(ev), "simple")
    assert "partial_count" in p
    assert "CartesianProduct" not in p


def test_dense_topk_broadcast_queries_sharded_topk(spark):
    """dense_topk (r08): the query frame must be BROADCAST onto the
    corpus scan (BroadcastNestedLoopJoin, never CartesianProduct) and
    the phase-1 ranking window must be partitioned by (query, shard) —
    no single task ever sorts the corpus."""
    from delta_rs_spark.functions.similarity import dense_topk

    emb = load_table(spark, SF, "embeddings")
    qs = emb.filter(F.col("vec_id") < 4)
    p = plan_of(dense_topk(emb, qs, k=20, q_id_col="vec_id"), "simple")
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p
    # phase-1 window keys: query_id AND the doc shard
    assert "pmod" in p


def test_ivf_topk_indexed_multi_pruned_scan_broadcast_probes(spark, tmp_path):
    """ivf_topk_indexed_multi (r09): the candidate scan must read ONLY
    the probed list partitions (pinned via the scan's input file set —
    wall clock cannot rank pruning at this scale, per the r08
    discipline), the probe frame must be BROADCAST onto it, and the
    rank must be the two-phase shard shape — no cartesian, no corpus
    sort."""
    import random

    from delta_rs_spark import DeltaTable
    from delta_rs_spark.functions.similarity import (
        build_ivf_index,
        ivf_topk_indexed_multi,
    )

    rng = random.Random(3)
    emb = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(200)],
        ["vec_id", "embedding"],
    )
    idx = str(tmp_path / "ivf")
    build_ivf_index(emb, idx, n_lists=8)
    qs = emb.filter(F.col("vec_id") < 2)
    out = ivf_topk_indexed_multi(spark, idx, qs, k=5, n_probe=2, q_id_col="vec_id")
    p = plan_of(out, "simple")
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p
    assert "pmod" in p  # two-phase shard rank survived
    # file-set pin: at most 2 queries x 2 probes = 4 of 8 list
    # partitions may appear in the scan's input files
    import re

    t = DeltaTable(idx, spark=spark)
    probed_lists_all = {
        part.split("list=")[1].split("/")[0]
        for part in t.files()
        if "list=" in part
    }
    assert len(probed_lists_all) >= 8  # index really is partitioned
    lists_scanned = {
        m for f in out.inputFiles() for m in re.findall(r"list=(\d+)", f)
    }
    assert 0 < len(lists_scanned) <= 4, lists_scanned
