"""Dedup / similarity / text / multimodal operators.

Approximate operators (MinHash-LSH, SimHash, hyperplane-LSH, IVF) have
no SQL oracle — these tests pin their semantics against the exact
operators instead (recall against brute force / true Jaccard)."""

import pytest
from pyspark.sql import functions as F

from delta_rs_spark.functions import dedup as D
from delta_rs_spark.functions import similarity as S
from delta_rs_spark.functions import text as X
from delta_rs_spark.functions.multimodal import (
    extract_image_features,
    pack_media,
    sample_frames,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    from delta_rs_spark.sources.tpch import load_table

    df = load_table(spark, SF, "documents").cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def emb(spark):
    from delta_rs_spark.sources.tpch import load_table

    df = load_table(spark, SF, "embeddings").cache()
    yield df
    df.unpersist()


def test_dedup_exact_removes_copies(spark, docs):
    doubled = docs.select("doc_id", "text").union(
        docs.select((F.col("doc_id") + 10_000).alias("doc_id"), "text")
    )
    kept = D.dedup_exact(doubled, "text", "doc_id")
    ids = [r.doc_id for r in kept.collect()]
    assert len(ids) == docs.count()
    assert max(ids) < 10_000  # lowest-id representative survives


def test_minhash_recall_vs_true_jaccard(spark, docs):
    true_pairs = {
        (r.id_a, r.id_b)
        for r in D.ngram_jaccard_pairs(docs, threshold=0.3, shingle_size=3).collect()
    }
    cand = {
        (r.id_a, r.id_b)
        for r in D.minhash_lsh_candidates(docs).filter("est_jaccard >= 0.2").collect()
    }
    if true_pairs:
        recall = len(true_pairs & cand) / len(true_pairs)
        assert recall >= 0.8, f"minhash recall {recall}"


def test_simhash_similar_docs_close(spark, docs):
    sigs = {r.id: r.simhash for r in D.simhash(docs).collect()}
    assert len(sigs) == docs.count()
    pairs = D.ngram_jaccard_pairs(docs, threshold=0.5, shingle_size=3).collect()

    def hamming(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    if pairs:
        avg_dup = sum(hamming(sigs[p.id_a], sigs[p.id_b]) for p in pairs) / len(pairs)
        assert avg_dup <= 20, f"near-dup avg hamming {avg_dup}"


def test_lsh_topk_recall(spark, emb):
    q = list(emb.filter("vec_id = 0").collect()[0]["embedding"])
    exact = [r.id for r in S.cosine_topk(emb, q, k=10).collect()]
    approx = [r.id for r in S.lsh_topk(emb, q, k=10).collect()]
    assert exact[0] == 0  # self-match first
    assert 0 in approx
    assert len(set(exact[:5]) & set(approx)) >= 2  # decent overlap at the head


def test_ivf_topk_runs_and_self_match(spark, emb):
    q = list(emb.filter("vec_id = 0").collect()[0]["embedding"])
    got = [r.id for r in S.ivf_topk(emb, q, k=5, n_lists=8, n_probe=3).collect()]
    assert got and got[0] == 0


def test_embedding_near_dup_symmetry(spark, emb):
    pairs = D.embedding_near_dup_pairs(emb, threshold=0.4).collect()
    for p in pairs:
        assert p.id_a < p.id_b
        assert -1.0 <= p.cos <= 1.0001


def test_text_metrics(spark, docs):
    row = (
        docs.select(
            X.token_count("text").alias("nt"),
            X.char_count("text").alias("nc"),
            X.quality_score("text").alias("q"),
            X.lang_id("text").alias("lang"),
            X.fingerprint("text").alias("fp"),
        )
        .limit(1)
        .collect()[0]
    )
    assert row.nt > 0 and row.nc > 0
    assert 0.0 <= row.q <= 1.0
    assert len(row.fp) == 32
    assert row.lang in (set(X.LANG_MARKERS) | {"und"})


def test_shingles_shape(spark):
    df = spark.createDataFrame([("a b c d",), ("x",)], "text string")
    rows = df.select(X.shingles("text", 3).alias("sh")).collect()
    assert rows[0].sh == ["a b c", "b c d"]
    assert rows[1].sh == ["x"]  # shorter than n -> whole text


def test_multimodal_features_deterministic(spark, docs):
    media = docs.limit(20).select(
        "doc_id",
        pack_media(F.encode("text", "utf-8"), "image/fake").alias("media"),
    )
    f1 = {r.doc_id: r.sha for r in extract_image_features(media, fake=True).collect()}
    f2 = {r.doc_id: r.sha for r in extract_image_features(media, fake=True).collect()}
    assert f1 == f2 and len(f1) == 20


def test_multimodal_decode_stub_raises(spark, docs):
    media = docs.limit(1).select(
        "doc_id", pack_media(F.encode("text", "utf-8"), "image/fake").alias("media")
    )
    with pytest.raises(Exception, match="NotImplementedError|image decoding"):
        extract_image_features(media, fake=False).collect()


def test_frame_sampling_expansion(spark, docs):
    media = docs.limit(5).select(
        "doc_id", pack_media(F.encode("text", "utf-8"), "video/fake").alias("media")
    )
    frames = sample_frames(media, fake=True).collect()
    assert len(frames) >= 5
    assert all(f.frame_no % 10 == 0 for f in frames)

def test_embedding_near_dup_no_driver_collect(spark, emb, monkeypatch):
    """The block-matmul path must never materialize vector data on the
    driver (VERDICT r01 #1: toPandas/collect scale-killer)."""
    from pyspark.sql import DataFrame

    def boom(*a, **k):
        raise AssertionError("driver-side materialization in operator")

    monkeypatch.setattr(DataFrame, "toPandas", boom)
    monkeypatch.setattr(DataFrame, "collect", boom)
    plan = D.embedding_near_dup_pairs(emb, threshold=0.4)
    monkeypatch.undo()
    assert plan.count() > 0


def test_embedding_near_dup_10x_and_block_count_invariance(spark, emb):
    """Correctness must not depend on num_blocks, and the operator must
    handle 10x the corpus (each vector duplicated under 10 id offsets)."""
    small = D.embedding_near_dup_pairs(emb, threshold=0.4, num_blocks=3)
    big_blocks = D.embedding_near_dup_pairs(emb, threshold=0.4, num_blocks=13)
    s = {(r.id_a, r.id_b, r.cos) for r in small.collect()}
    b = {(r.id_a, r.id_b, r.cos) for r in big_blocks.collect()}
    assert s == b and len(s) > 0

    n = emb.count()
    base = emb.select("vec_id", "embedding")
    tiled = base
    for i in range(1, 10):
        tiled = tiled.unionByName(
            base.select((F.col("vec_id") + i * n * 10).alias("vec_id"), "embedding")
        )
    pairs10 = D.embedding_near_dup_pairs(tiled, threshold=0.95, num_blocks=8)
    # every original vector matches its 9 clones at cos=1: >= 45*n pairs... but
    # only count: clones of the same base vector pair up C(10,2)=45 times each
    assert pairs10.count() >= 45 * n

def test_lsh_index_partition_pruned(spark, emb, tmp_path):
    """Materialized LSH index: probe reads ONLY the probed bucket
    partitions (VERDICT r01 #2), and matches the scan-based operator."""
    from delta_rs_spark.table import DeltaTable

    idx = str(tmp_path / "lshidx")
    S.build_lsh_index(emb, idx, n_planes=6, seed=7)
    t = DeltaTable(idx)
    q = list(emb.filter("vec_id = 0").collect()[0]["embedding"])
    planes = S._hyperplanes(len(q), 6, 7)
    qb = 0
    for i, p in enumerate(planes):
        if sum(x * y for x, y in zip(q, p)) >= 0:
            qb |= 1 << i
    probe = {qb} | {qb ^ (1 << i) for i in range(6)}
    all_files = t.files()
    kept = t.files([("bucket", "in", sorted(probe))])
    assert 0 < len(kept) < len(all_files)
    for f in kept:
        assert any(f.startswith(f"bucket={b}/") for b in probe), f
    got = [(r.id, r.score) for r in S.lsh_topk_indexed(spark, idx, q, k=10).collect()]
    ref = [
        (r.id, r.score)
        for r in S.lsh_topk(emb, q, k=10, n_planes=6, seed=7).collect()
    ]
    assert got == ref


def test_ivf_index_partition_pruned(spark, emb, tmp_path):
    from delta_rs_spark.table import DeltaTable

    idx = str(tmp_path / "ivfidx")
    S.build_ivf_index(emb, idx, n_lists=8)
    t = DeltaTable(idx)
    q = list(emb.filter("vec_id = 0").collect()[0]["embedding"])
    got = [
        (r.id, r.score)
        for r in S.ivf_topk_indexed(spark, idx, q, k=5, n_probe=3).collect()
    ]
    ref = [
        (r.id, r.score)
        for r in S.ivf_topk(emb, q, k=5, n_lists=8, n_probe=3).collect()
    ]
    assert got == ref and got[0][0] == 0
    # scan is pruned to the probed lists
    import json as _json

    cents = _json.loads(t.metadata().configuration[S._IVF_CENTROIDS_KEY])
    import math

    ranked = sorted(
        cents,
        key=lambda c: -sum(x * y for x, y in zip(q, c[1]))
        / (math.sqrt(sum(x * x for x in c[1])) or 1.0),
    )
    probe = [i for i, _ in ranked[:3]]
    kept = t.files([("list", "in", probe)])
    assert 0 < len(kept) < len(t.files())


def test_simhash_near_dup_exact_vs_bruteforce(spark, docs):
    """Band blocking with bands > max_hamming must return EXACTLY the
    brute-force Hamming <= k pair set (pigeonhole recall, exact verify)."""
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in D.simhash_near_dup_pairs(docs, max_hamming=3, bands=4).collect()
    }
    sigs = D.simhash(docs)
    a, b = sigs.alias("a"), sigs.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    want = {
        (r.id_a, r.id_b, r.hamming)
        for r in a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            ham.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
        .collect()
    }
    assert got == want and len(want) > 0


def test_simhash_near_dup_rejects_bad_bands(spark, docs):
    with pytest.raises(ValueError):
        D.simhash_near_dup_pairs(docs, max_hamming=4, bands=4)


def test_tfidf_top_terms_rank_and_scores(spark, docs):
    out = X.tfidf_top_terms(docs, k=3).cache()
    # every doc contributes at most k rows, ranks are 1..k contiguous
    per_doc = out.groupBy("doc_id").agg(
        F.count("*").alias("n"), F.max("rank").alias("mx"), F.min("rank").alias("mn")
    )
    bad = per_doc.filter(
        (F.col("n") > 3) | (F.col("mx") != F.col("n")) | (F.col("mn") != 1)
    )
    assert bad.count() == 0
    # rank-1 term's tf must be the doc's max tf
    tf_all = (
        docs.select(F.col("doc_id"), F.explode(X.tokens("text")).alias("term"))
        .groupBy("doc_id", "term")
        .count()
        .groupBy("doc_id")
        .agg(F.max("count").alias("max_tf"))
    )
    r1 = out.filter("rank = 1").join(tf_all, "doc_id")
    assert r1.filter(F.col("tf") != F.col("max_tf")).count() == 0
    # idf sanity: scores positive, and a term appearing in every doc has
    # the minimum possible idf so its tfidf <= tf * 1.0 is false only
    # when idf > 1; smoothed idf >= 1 always
    assert out.filter(F.col("tfidf") < F.col("tf")).count() == 0
    out.unpersist()


def test_vocabulary_stats_counts(spark, docs):
    out = X.vocabulary_stats(docs, top=10)
    rows = out.collect()
    assert 0 < len(rows) <= 10
    # doc_freq <= coll_freq and sorted by doc_freq desc
    freqs = [(r.doc_freq, r.coll_freq) for r in rows]
    assert all(d <= c for d, c in freqs)
    assert [f[0] for f in freqs] == sorted([f[0] for f in freqs], reverse=True)


def test_connected_components_known_graph(spark):
    # components: {1,2,3,4} (chain), {10,11,12} (triangle), {20,21}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "id_a long, id_b long",
    )
    got = {r.id: r.cluster_id for r in D.connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_long_chain(spark):
    # a 64-node chain exercises pointer jumping (plain propagation would
    # need 63 rounds; the jump halves depth each round)
    n = 64
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    )
    got = D.connected_components(pairs, max_iter=10).collect()
    assert len(got) == n + 1
    assert all(r.cluster_id == 0 for r in got)


def test_repetition_stats_metrics(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat sat\nthe cat sat\nanother line"),
            (2, "#### {{{{ }}}} ####"),
            (3, "a clean simple document with several normal words here"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in X.repetition_stats(df).collect()}
    r1 = rows[1]
    assert r1.n_lines == 3 and abs(r1.dup_line_frac - (1 - 2 / 3)) < 1e-6
    assert rows[2].symbol_ratio > 0.5 and not rows[2].passes_gopher
    r3 = rows[3]
    assert r3.passes_gopher and r3.alpha_word_frac == 1.0


def test_pii_scrub_and_counts(spark):
    df = spark.createDataFrame(
        [
            (1, "reach me at alice.smith+work@mail.example.org today"),
            (2, "call +49 171 1234567 or +1 555 0100 now"),
            (3, "no pii here"),
        ],
        "doc_id long, text string",
    )
    n_emails, n_phones = X.pii_counts("text")
    out = {
        r.doc_id: r
        for r in df.select(
            "doc_id", n_emails.alias("e"), n_phones.alias("p"), X.scrub_pii("text").alias("s")
        ).collect()
    }
    assert out[1].e == 1 and "<EMAIL>" in out[1].s and "alice" not in out[1].s
    assert out[2].p == 2 and out[2].s.count("<PHONE>") == 2
    assert out[3].e == 0 and out[3].p == 0 and out[3].s == "no pii here"


def test_winnowing_containment_guarantee(spark):
    """Winnowing guarantee: any shared substring of length >= window+k-1
    (here 4+8-1=11 chars) produces at least one shared fingerprint."""
    from delta_rs_spark.functions.text import winnowing_fingerprints

    shared = "the quick brown fox jumps over the lazy dog"
    rows = [
        (1, f"PREFIX AAA {shared} SUFFIX BBB"),
        (2, f"zzz completely different opening {shared} qqq"),
        (3, "nothing in common with anything else here at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = winnowing_fingerprints(df, k=8, window=4).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r.id, set()).add(r.fp)
    assert by_doc[1] & by_doc[2], "docs sharing a 44-char run must share a fp"
    assert not (by_doc[1] & by_doc[3] & by_doc[2])
    # sampling: far fewer fingerprints than k-grams
    n_grams = len(rows[0][1]) - 7
    assert len(by_doc[1]) < n_grams / 2


def test_bpe_token_count(spark):
    from delta_rs_spark.functions.text import bpe_token_count

    df = spark.createDataFrame(
        [(1, "I'll say it's 42 dogs, maybe-more!")], "doc_id long, text string"
    )
    n = df.select(bpe_token_count("text").alias("n")).collect()[0].n
    # I | 'll | say | it | 's | 42 | dogs | , | maybe | - | more | !
    assert n == 12, n


def test_stratified_sample_deterministic_and_rate(spark):
    from delta_rs_spark.functions.sampling import (
        stratified_sample,
        train_holdout_split,
    )

    df = spark.range(0, 20000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("source"),
    )
    s1 = stratified_sample(df, rates={"a": 0.5, "b": 0.1})
    got1 = {r.doc_id for r in s1.collect()}
    # rerun on a repartitioned frame: identical membership
    got2 = {r.doc_id for r in stratified_sample(df.repartition(7), rates={"a": 0.5, "b": 0.1}).collect()}
    assert got1 == got2
    by_src = {r.source: r.n for r in s1.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert abs(by_src["a"] / 10000 - 0.5) < 0.03
    assert abs(by_src["b"] / 10000 - 0.1) < 0.03
    # different salt -> a genuinely different (but same-size-ish) draw
    other = {r.doc_id for r in stratified_sample(df, rates={"a": 0.5, "b": 0.1}, salt="v2").collect()}
    assert other != got1

    split = train_holdout_split(df, holdout_frac=0.1)
    frac = split.filter("split = 'holdout'").count() / 20000
    assert abs(frac - 0.1) < 0.02
    # disjoint + exhaustive
    assert split.count() == 20000
    assert split.select("split").distinct().count() == 2


def test_pack_sequences_invariants(spark):
    """Packing bookkeeping: offsets are the prefix sums of (tokens+sep)
    in id order per shard; chunk spans match ceil arithmetic; chunks are
    contiguous from 0 within a shard."""
    from delta_rs_spark.functions.packing import pack_sequences

    rows = [(i, "s1" if i < 6 else "s2", 100 + 37 * i) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens long")
    out = {r.doc_id: r for r in pack_sequences(df, budget=256).collect()}
    # manual replay for shard s1
    offset = 0
    for i in range(6):
        n = 100 + 37 * i
        r = out[i]
        assert r.tok_offset == offset, (i, r.tok_offset, offset)
        assert r.chunk_id == offset // 256
        last = offset + n - 1
        assert r.n_chunks == last // 256 - offset // 256 + 1
        offset += n + 1  # separator
    # shard s2 restarts at offset 0
    assert out[6].tok_offset == 0 and out[6].chunk_id == 0


def test_chunking_udtf_matches_expression_twin(spark):
    """The Python UDTF and the JVM expression form produce identical
    chunk sets (the expression form is the 100 TB path)."""
    from delta_rs_spark.functions.chunking import chunk_documents, chunk_spans

    rows = [(1, "a" * 450), (2, "short"), (3, "b" * 200), (4, "c" * 201)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    via_udtf = {
        (r.doc_id, r.chunk_no, r.start, r.chunk) for r in chunk_documents(df).collect()
    }
    via_expr = {
        (r.doc_id, r.chunk_no, r.start, r.chunk) for r in chunk_spans(df).collect()
    }
    assert via_udtf == via_expr
    # overlap property: consecutive windows share size-stride chars
    d1 = sorted((r for r in via_udtf if r[0] == 1), key=lambda r: r[1])
    assert len(d1) == 3 and d1[1][2] == 151


def test_containment_self_is_one(spark, docs):
    """Every benchmark doc is in the corpus, so its self-pair must score
    containment exactly 1.0, and no score can exceed 1."""
    corpus = docs.select("doc_id", "text")
    bench = corpus.filter(F.col("doc_id") % 20 == 0)
    out = X.containment_scores(corpus, bench, threshold=0.5).cache()
    n_bench = bench.count()
    self_rows = out.filter(
        (F.col("corpus_id") == F.col("bench_id")) & (F.col("containment") == 1.0)
    ).count()
    assert self_rows == n_bench
    assert out.filter(F.col("containment") > 1.0).count() == 0
    out.unpersist()


def test_containment_detects_planted_superset(spark):
    """A training doc that embeds a benchmark doc verbatim inside extra
    text must be flagged with containment 1.0 (winnowing guarantee:
    every benchmark window survives inside the superset)."""
    bench_text = "the quick brown fox jumps over the lazy dog again and again"
    corpus = spark.createDataFrame(
        [
            (1, f"PREFIX PADDING {bench_text} SUFFIX PADDING MORE"),
            (2, "completely unrelated content with no overlap whatsoever"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(100, bench_text)], "doc_id long, text string")
    rows = {
        r.corpus_id: r.containment
        for r in X.containment_scores(corpus, bench, threshold=0.5).collect()
    }
    assert rows.get(1) == 1.0
    assert 2 not in rows


def test_unigram_logprob_ranks_common_above_rare(spark):
    """Docs made of corpus-frequent tokens must outscore docs of rare
    tokens; n_tokens must match the tokenizer."""
    rows = [(i, "common words common words") for i in range(9)] + [(9, "zzqx unique")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in X.unigram_logprob(df).collect()}
    assert out[0].n_tokens == 4
    assert out[0].mean_logprob > out[9].mean_logprob
    assert all(r.mean_logprob < 0 for r in out.values())


def test_source_mix_shares_sum_to_one(spark, docs):
    out = X.source_mix(docs).cache()
    share = out.agg(F.sum("token_share")).collect()[0][0]
    assert abs(share - 1.0) < 1e-4
    n = out.agg(F.sum("n_docs")).collect()[0][0]
    assert n == docs.count()
    out.unpersist()


def test_semantic_dedup_drops_planted_dups(spark, emb):
    """A shifted exact copy of every vector must be dropped (cos==1.0 to
    its lower-id original in the same list), originals' keep flags
    unchanged; output is one row per input."""
    base = emb.select("vec_id", "embedding")
    doubled = base.union(
        base.select((F.col("vec_id") + 100_000).alias("vec_id"), "embedding")
    )
    out = S.semantic_dedup(doubled, threshold=0.4, n_lists=8).cache()
    assert out.count() == 2 * base.count()
    # every copy (id >= 100k) has its original in the same list at cos 1.0
    copies = out.filter(F.col("vec_id") >= 100_000)
    assert copies.filter(F.col("keep")).count() == 0
    # determinism: second run produces the identical keep-set
    again = S.semantic_dedup(doubled, threshold=0.4, n_lists=8)
    assert out.exceptAll(again).count() == 0
    out.unpersist()


def test_line_dedup_removes_shared_lines(spark):
    rows = [
        (1, "unique first line here\nshared boilerplate line text\nanother unique"),
        (2, "different opener line\nshared boilerplate line text"),
        (3, "totally distinct document"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in X.line_dedup(df).collect()}
    assert out[1].n_lines == 3 and out[1].n_removed == 1
    assert out[1].clean_text == "unique first line here\nanother unique"
    assert out[2].n_lines == 2 and out[2].n_removed == 1
    assert out[2].clean_text == "different opener line"
    assert out[3].n_removed == 0 and out[3].clean_text == rows[2][1]


def test_line_dedup_short_lines_never_removed(spark):
    rows = [(1, "hi\nlong enough shared line"), (2, "hi\nlong enough shared line")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in X.line_dedup(df, min_chars=10).collect()}
    # "hi" repeats in both docs but is under min_chars -> kept
    assert out[1].clean_text == "hi" and out[1].n_removed == 1


def test_temperature_sample_rates_and_determinism(spark):
    from delta_rs_spark.functions.sampling import temperature_sample

    rows = [(i, "big" if i < 900 else "small") for i in range(1000)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    out, cuts = temperature_sample(df, alpha=0.5)
    assert cuts["small"] == 1_000_000  # rarest source keeps everything
    # big keeps sqrt(0.1/0.9) ~ 1/3 of its previous share advantage
    assert 0 < cuts["big"] < 1_000_000
    kept = out.groupBy("source").count().collect()
    k = {r["source"]: r["count"] for r in kept}
    assert k["small"] == 100  # rate 1.0 -> all kept
    assert abs(k["big"] / 900 - cuts["big"] / 1_000_000) < 0.05
    # deterministic: rerun selects identical rows
    out2, _ = temperature_sample(df, alpha=0.5)
    assert sorted(r.doc_id for r in out.collect()) == sorted(
        r.doc_id for r in out2.collect()
    )
    # alpha=1 is a no-op
    out3, cuts3 = temperature_sample(df, alpha=1.0)
    assert all(c == 1_000_000 for c in cuts3.values())
    assert out3.count() == 1000


def test_random_projection_preserves_relative_distance(spark, emb):
    import math

    proj = S.random_projection(emb, dim=64, out_dim=16, seed=7)
    assert proj.columns == ["vec_id", "j", "val"]
    n = emb.count()
    assert proj.count() == n * 16
    # JL sanity on a sample: projected distances correlate with original
    rows = emb.orderBy("vec_id").limit(6).collect()
    pr = proj.filter(F.col("vec_id") < 6).collect()
    pv = {}
    for r in pr:
        pv.setdefault(r.vec_id, [0.0] * 16)[r.j] = r.val
    def d(a, b):
        return math.sqrt(sum((x - y) ** 2 for x, y in zip(a, b)))
    orig = {r.vec_id: list(r.embedding) for r in rows}
    ids = sorted(orig)
    pairs = [(a, b) for a in ids for b in ids if a < b]
    do = [d(orig[a], orig[b]) for a, b in pairs]
    dp = [d(pv[a], pv[b]) for a, b in pairs]
    # rank correlation: closest original pair should not map to the
    # farthest projected pair (weak but deterministic JL sanity)
    import statistics
    mo, mp = statistics.mean(do), statistics.mean(dp)
    cov = sum((x - mo) * (y - mp) for x, y in zip(do, dp))
    assert cov > 0


def test_pq_encode_shapes_and_seed_self_assignment(spark, emb):
    cbs = S.pq_codebooks(emb, m=8, n_codes=16)
    assert len(cbs) == 8 and len(cbs[0]) == 16 and len(cbs[0][0]) == 8
    enc = S.pq_encode(emb, cbs)
    n = emb.count()
    assert enc.count() == n * 8
    # seed vector i IS codebook entry i in every subspace -> encodes to i
    seeds = {r.vec_id: i for i, r in enumerate(
        emb.orderBy("vec_id").limit(16).collect())}
    for r in enc.filter(F.col("vec_id").isin(list(seeds))).collect():
        assert r.code == seeds[r.vec_id], (r.vec_id, r.sub, r.code)


def test_pq_topk_query_vector_ranks_first(spark, emb):
    qrow = emb.orderBy("vec_id").first()
    q = list(qrow.embedding)
    top = S.pq_topk(emb, q, k=10, m=8, n_codes=16).collect()
    assert top[0].id == qrow.vec_id and top[0].approx_dist == 0.0
    # ADC distances are squared-L2 approximations: non-negative, ascending
    dists = [r.approx_dist for r in top]
    assert dists == sorted(dists) and all(d >= 0 for d in dists)


def test_corpus_filter_report_reason_precedence(spark):
    rows = [
        (1, "the and of to is was that with " * 10),        # en, kept
        (2, "the and of to is was that with " * 10),        # exact dup of 1
        (3, "der die das und ist nicht ein mit " * 10),     # de -> lang
        (4, "the of"),                                      # en but too short
        (5, "zz qq xx " * 30),                              # und -> lang
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in X.corpus_filter_report(df).collect()}
    assert out[1].reason == "kept" and out[1].is_canonical
    assert out[2].reason == "duplicate" and not out[2].is_canonical
    assert out[3].reason == "lang"
    assert out[5].reason == "lang"
    # doc 4: en, short -> first failing reason after lang checks
    assert out[4].reason in ("too_short", "low_quality")
    assert set(out) == {1, 2, 3, 4, 5}


def test_write_training_shards_prunes_and_is_deterministic(spark, tmp_path):
    from delta_rs_spark.functions.sampling import (
        assign_shards,
        write_training_shards,
    )
    from delta_rs_spark.sources.tpch import load_table

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    path = str(tmp_path / "shards")
    dt = write_training_shards(docs, path, n_shards=8)
    out = dt.to_spark()
    assert out.count() == docs.count()
    # partition pruning: reading one shard touches only that partition's files
    files = dt.files()
    assert all("shard=" in f for f in files)
    one = out.filter(F.col("shard") == 3)
    expected = assign_shards(docs, 8).filter(F.col("shard") == 3)
    assert sorted(r.doc_id for r in one.collect()) == sorted(
        r.doc_id for r in expected.collect()
    )
    # deterministic: re-export maps every doc to the same shard
    m1 = {r.doc_id: r.shard for r in assign_shards(docs, 8).collect()}
    m2 = {r.doc_id: r.shard for r in assign_shards(docs, 8).collect()}
    assert m1 == m2
    # shards are roughly balanced (md5-uniform): no shard 3x the mean
    sizes = [c for _, c in out.groupBy("shard").count().collect()]
    assert max(sizes) < 3 * (sum(sizes) / len(sizes))


def test_update_ivf_index_appends_to_frozen_lists(spark, emb, tmp_path):
    path = str(tmp_path / "ivfidx")
    base = emb.filter(F.col("vec_id") < 80)
    S.build_ivf_index(base, path, n_lists=8)
    from delta_rs_spark import DeltaTable

    before = DeltaTable(path, spark=spark)
    v_before = before.version()
    new = emb.filter((F.col("vec_id") >= 80) & (F.col("vec_id") < 100))
    S.update_ivf_index(spark, path, new)
    t = DeltaTable(path, spark=spark)
    assert t.version() == v_before + 1
    assert t.count() == 100
    # a new vector is findable through the pruned probe path
    target = emb.filter(F.col("vec_id") == 90).first()
    top = S.ivf_topk_indexed(spark, path, list(target.embedding), k=5, n_probe=8)
    assert 90 in [r.id for r in top.collect()]
    # assignment used the FROZEN centroids from the table config
    import json as _json

    cents = _json.loads(t.metadata().configuration[S._IVF_CENTROIDS_KEY])
    assert len(cents) == 8


def test_update_lsh_index_appends(spark, emb, tmp_path):
    path = str(tmp_path / "lshidx")
    base = emb.filter(F.col("vec_id") < 80)
    S.build_lsh_index(base, path, n_planes=6)
    new = emb.filter((F.col("vec_id") >= 80) & (F.col("vec_id") < 100))
    S.update_lsh_index(spark, path, new)
    from delta_rs_spark import DeltaTable

    t = DeltaTable(path, spark=spark)
    assert t.count() == 100
    target = emb.filter(F.col("vec_id") == 85).first()
    top = S.lsh_topk_indexed(spark, path, list(target.embedding), k=5)
    assert 85 in [r.id for r in top.collect()]


def test_bigram_logprob_catches_scrambled_text(spark):
    import math

    fluent = "the cat sat on the mat and the cat sat on the mat again"
    scrambled = "mat the on cat again sat the mat on and the sat cat the"
    rows = [(i, fluent) for i in range(8)] + [(100, scrambled)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in X.bigram_logprob(df).collect()}
    # same unigram distribution, but the scrambled doc's bigrams are rare
    assert out[100].mean_logprob < out[0].mean_logprob
    assert out[0].n_bigrams == len(fluent.split()) - 1
    # single-token docs drop out (no bigrams)
    one = spark.createDataFrame([(1, "hello"), (2, "a b")], ["doc_id", "text"])
    got = {r.doc_id for r in X.bigram_logprob(one).collect()}
    assert got == {2}


def test_pq_rerank_recall_beats_raw_pq(spark, emb):
    q = list(emb.orderBy("vec_id").limit(20).collect()[7].embedding)
    exact = [r.id for r in S.cosine_topk(emb, q, k=10).collect()]
    rerank = [r.id for r in S.pq_topk_rerank(emb, q, k=10, shortlist=60).collect()]
    # the reranked shortlist recovers most of the exact top-10, and its
    # scores are exact cosine (so any overlap is ranked identically)
    overlap = len(set(exact) & set(rerank))
    assert overlap >= 6, (overlap, exact, rerank)
    exact_scores = {r.id: r.score for r in S.cosine_topk(emb, q, k=10).collect()}
    for r in S.pq_topk_rerank(emb, q, k=10, shortlist=60).collect():
        if r.id in exact_scores:
            assert r.score == exact_scores[r.id]


def test_corpus_profile_metrics(spark):
    rows = [(1, "a b c d"), (2, "a b c d"), (3, "x y"), (4, "p q r s t u")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    prof = {r.metric: r.value for r in X.corpus_profile(df).collect()}
    assert prof["n_docs"] == 4.0
    assert prof["total_tokens"] == 4 + 4 + 2 + 6
    assert prof["dup_rate"] == 0.25  # docs 1 and 2 share a fingerprint
    assert prof["tokens_p50"] in (4.0,)
    assert set(prof) == {
        "n_docs", "total_tokens", "total_chars", "tokens_p50", "tokens_p90",
        "tokens_p99", "mean_quality", "dup_rate",
    }


def test_incremental_fingerprint_index_dedup(spark, docs, tmp_path):
    path = str(tmp_path / "fpidx")
    base = docs.select("doc_id", "text").filter(F.col("doc_id") < 30)
    D.build_fingerprint_index(base, path)
    # new batch: 10 docs copied from history (shifted ids) + 5 fresh
    dup = base.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 1000).alias("doc_id"), "text"
    )
    fresh = docs.select("doc_id", "text").filter(
        (F.col("doc_id") >= 30) & (F.col("doc_id") < 35)
    )
    batch = dup.union(fresh)
    surv = D.dedup_against_fingerprint_index(spark, path, batch)
    ids = sorted(r.doc_id for r in surv.collect())
    assert ids == [30, 31, 32, 33, 34]
    # update + re-probe: the fresh docs are now history too
    D.update_fingerprint_index(spark, path, surv)
    again = D.dedup_against_fingerprint_index(spark, path, batch)
    assert again.count() == 0
    # within-batch keep-first: two copies of one new text -> one survivor
    twice = fresh.union(
        fresh.select((F.col("doc_id") + 2000).alias("doc_id"), "text")
    )
    from delta_rs_spark import DeltaTable  # rebuild clean index
    D.build_fingerprint_index(base, path)
    s2 = D.dedup_against_fingerprint_index(spark, path, twice)
    assert sorted(r.doc_id for r in s2.collect()) == [30, 31, 32, 33, 34]


def test_incremental_band_index_near_dup(spark, docs, tmp_path):
    path = str(tmp_path / "bandidx")
    base = docs.select("doc_id", "text").filter(F.col("doc_id") < 40)
    D.build_band_index(base, path, num_perm=32, bands=8, hash_fn="md5")
    # a batch containing an exact copy of doc 3 must collide with it
    batch = base.filter(F.col("doc_id") == 3).select(
        (F.col("doc_id") + 5000).alias("doc_id"), "text"
    )
    cand = D.near_dup_candidates_against_index(spark, path, batch)
    pairs = {(r.new_id, r.index_id) for r in cand.collect()}
    assert (5003, 3) in pairs
    # update appends with the frozen params; the batch then self-collides
    D.update_band_index(spark, path, batch)
    cand2 = D.near_dup_candidates_against_index(spark, path, batch)
    assert {(r.new_id, r.index_id) for r in cand2.collect()} >= {(5003, 3), (5003, 5003)} - {(5003, 5003)}
    from delta_rs_spark import DeltaTable

    assert DeltaTable(path).metadata().configuration[D._DEDUP_PARAMS_KEY]


def test_kmeans_invariants(spark, emb):
    out, cents = S.kmeans(emb, k=8, n_iter=2)
    rows = out.collect()
    assert len(rows) == emb.count()
    assert {r.cluster for r in rows} <= set(range(8))
    assert len(cents) == 8 and all(len(c) == 64 for c in cents)
    # deterministic across runs
    again, _ = S.kmeans(emb, k=8, n_iter=2)
    assert sorted((r.vec_id, r.cluster) for r in rows) == sorted(
        (r.vec_id, r.cluster) for r in again.collect()
    )
    # one Lloyd's iteration cannot increase inertia (same 4dp grid the
    # assignment uses)
    import numpy as np

    V = np.array(
        [list(r.embedding) for r in emb.orderBy("vec_id").collect()],
        dtype=np.float64,
    )
    def inertia(C):
        d = np.round(((V[:, None, :] - C[None, :, :]) ** 2).sum(-1), 4)
        return d.min(axis=1).sum()
    seeds = V[:8]
    assert inertia(np.array(cents)) <= inertia(seeds) + 1e-6


def test_domain_cap(spark, docs):
    from delta_rs_spark.functions.sampling import domain_cap
    from delta_rs_spark.functions.text import quality_score

    capped = domain_cap(docs, cap=5, group_col="lang")
    per = {r.lang: r.n for r in capped.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert per and all(n <= 5 for n in per.values())
    # the survivors of a group are its top-quality members
    q = {r.doc_id: r.q for r in docs.select("doc_id", quality_score("text").alias("q")).collect()}
    langs = {r.doc_id: r.lang for r in docs.select("doc_id", "lang").collect()}
    kept = {r.doc_id for r in capped.collect()}
    for lang in per:
        members = sorted(
            (d for d, lg in langs.items() if lg == lang),
            key=lambda d: (-q[d], d),
        )
        assert set(members[:5]) == {d for d in kept if langs[d] == lang}


def test_resolve_duplicates_keep_best(spark):
    from delta_rs_spark.functions.text import quality_score

    rows = [
        # cluster {1,2}: same text family, 2 has richer (longer) text
        (1, "the cat sat on the mat and looked at the dog"),
        (2, "the cat sat on the mat and looked at the dog by the door of the house"),
        (3, "completely unrelated text about spark clusters and parquet files"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    surv = D.resolve_duplicates(df, pairs).collect()
    by_cluster = {r.cluster_id: r.doc_id for r in surv}
    assert len(surv) == 2
    assert by_cluster[3] == 3  # singleton survives as itself
    q = {r.doc_id: r.q for r in df.select("doc_id", quality_score("text").alias("q")).collect()}
    winner = by_cluster[1]
    assert winner in (1, 2) and q[winner] == max(q[1], q[2])


def test_kmeans_exemplars(spark, emb):
    out = S.kmeans_exemplars(emb, k=8, n_iter=2, per_cluster=5).collect()
    per = {}
    for r in out:
        per.setdefault(r.cluster, []).append(r.rank_in_cluster)
    assert all(len(rs) <= 5 and sorted(rs) == list(range(1, len(rs) + 1)) for rs in per.values())
    # exemplar set is consistent with the kmeans assignment
    assign = {r.vec_id: r.cluster for r in S.kmeans(emb, k=8, n_iter=2)[0].collect()}
    assert all(assign[r.vec_id] == r.cluster for r in out)


def test_hard_negatives(spark, emb):
    out = S.hard_negatives(emb, n_anchors=10, k=3).collect()
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    per = {}
    for r in out:
        per.setdefault(r.anchor_id, []).append(r)
        # a hard negative never shares the anchor's label
        assert labels[r.anchor_id] != r.neighbor_label
        assert r.neighbor_id != r.anchor_id
    assert set(per) == set(range(10))
    for rows in per.values():
        assert len(rows) == 3
        scores = [r.score for r in rows]
        assert scores == sorted(scores, reverse=True)


def test_embedding_outliers(spark, emb):
    out = S.embedding_outliers(emb, k=8, n_iter=2, quantile=0.9).collect()
    assert len(out) == emb.count()
    per = {}
    for r in out:
        per.setdefault(r.cluster, []).append(r)
    for cl, rows in per.items():
        flagged = [r for r in rows if r.is_outlier]
        # ~10% flagged per cluster (quantile semantics), never a majority
        assert len(flagged) <= max(2, int(0.25 * len(rows)))
        if flagged:
            # every outlier is farther than every inlier's threshold side
            max_in = max(r.dist for r in rows if not r.is_outlier)
            assert all(r.dist > max_in or abs(r.dist - max_in) < 1e-9 for r in flagged) or min(
                r.dist for r in flagged
            ) > max_in - 1e-9


def test_quality_classifier_learns_separation(spark):
    """2-iteration GD on a corpus where the label correlates with
    length/stopword features must score positive docs above negative
    ones, deterministically across runs."""
    rows = []
    for i in range(40):
        # "good": long, stopword-rich prose; label True
        rows.append((i, "the cat sat on the mat and the dog ran to the barn " * 4, True))
        # "bad": short, punctuation-heavy fragment; label False
        rows.append((100 + i, "x;;; y!!! z??? qqq,,,", False))
    df = spark.createDataFrame(rows, "doc_id long, text string, good boolean")
    w = X.train_quality_classifier(df, F.col("good"))
    assert len(w) == 4 and any(abs(x) > 1e-6 for x in w)
    scored = X.score_quality_classifier(df, w).collect()
    good = [r.score for r in scored if r.doc_id < 100]
    bad = [r.score for r in scored if r.doc_id >= 100]
    assert min(good) > max(bad)
    # deterministic: second training run yields identical weights
    assert X.train_quality_classifier(df, F.col("good")) == w
    # is_quality fences on the rounded score
    for r in scored:
        assert r.is_quality == (r.score >= 0.5)


def test_ann_recall_bounds_and_exact_when_probing_all(spark):
    """recall in [0,1]; probing EVERY list makes the ANN side exact, so
    recall must be 1.0 for every anchor."""
    import random

    rng = random.Random(5)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)], "l") for i in range(60)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label string")
    full = S.ann_recall(df, n_anchors=5, k=5, n_lists=4, n_probe=4).collect()
    assert len(full) == 5
    assert all(r.recall == 1.0 and r.n_hits == 5 for r in full)
    part = S.ann_recall(df, n_anchors=5, k=5, n_lists=4, n_probe=1).collect()
    assert all(0.0 <= r.recall <= 1.0 for r in part)
    # fewer probes can only lose candidates
    full_hits = {r.anchor_id: r.n_hits for r in full}
    assert all(r.n_hits <= full_hits[r.anchor_id] for r in part)


def test_duplicate_spans_finds_planted_span(spark):
    base = " ".join(f"u{i}" for i in range(20))          # unique filler
    boiler = " ".join(f"b{i}" for i in range(12))        # 12-token shared run
    rows = [
        (1, base + " " + boiler),                        # boiler at pos 20..31
        (2, boiler + " " + " ".join(f"v{i}" for i in range(20))),  # pos 0..11
        (3, " ".join(f"w{i}" for i in range(15))),       # clean doc
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    spans = {
        r.doc_id: r
        for r in D.duplicate_spans(df, window=8, keep_first=True).collect()
    }
    # doc 1 holds the globally-first occurrence -> never flagged
    assert 1 not in spans and 3 not in spans
    # doc 2's copy is flagged as ONE maximal island covering the 12 tokens
    assert spans[2].span_start == 0 and spans[2].span_end == 11
    assert spans[2].span_tokens == 12


def test_strip_duplicate_spans_keep_first_and_passthrough(spark):
    boiler = " ".join(f"b{i}" for i in range(10))
    rows = [
        (1, "alpha " + boiler),
        (2, boiler + " omega end"),
        (3, "short doc"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in D.strip_duplicate_spans(df, window=8).collect()}
    assert out[1].n_removed == 0 and out[1].clean_text == "alpha " + boiler
    assert out[2].n_removed == 10 and out[2].clean_text == "omega end"
    # docs shorter than the window never produce windows -> untouched
    assert out[3].n_removed == 0 and out[3].clean_text == "short doc"
    assert out[2].n_tokens == 12


def test_strip_duplicate_spans_flag_all_mode(spark):
    boiler = " ".join(f"b{i}" for i in range(9))
    rows = [(1, boiler + " tail1 x"), (2, boiler + " tail2 y")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r.doc_id: r
        for r in D.strip_duplicate_spans(df, window=8, keep_first=False).collect()
    }
    # keep_first=False strips BOTH occurrences (boilerplate-filter form)
    assert out[1].n_removed == 9 and out[1].clean_text == "tail1 x"
    assert out[2].n_removed == 9 and out[2].clean_text == "tail2 y"


def test_duplicate_spans_intra_doc_repeat(spark):
    run = " ".join(f"r{i}" for i in range(8))
    mid = " ".join(f"m{i}" for i in range(10))
    df = spark.createDataFrame(
        [(7, run + " " + mid + " " + run)], ["doc_id", "text"]
    )
    spans = D.duplicate_spans(df, window=8, keep_first=True).collect()
    # the same 8-token window repeats within one doc: the second
    # occurrence (pos 18..25) is flagged, the first kept
    assert len(spans) == 1
    assert spans[0].span_start == 18 and spans[0].span_end == 25


def test_sq8_quantize_codes_in_range_and_deterministic(spark):
    emb = spark.createDataFrame(
        [(i, [float(i), float(-i), 42.0, float(i * i % 7)]) for i in range(32)],
        ["vec_id", "embedding"],
    )
    codes = {r.vec_id: r.codes for r in S.sq8_quantize(emb).collect()}
    assert all(0 <= c <= 255 for cs in codes.values() for c in cs)
    # constant dimension (42.0) encodes to 0 everywhere
    assert all(cs[2] == 0 for cs in codes.values())
    # extremes of each varying dimension hit the grid ends
    assert codes[0][0] == 0 and codes[31][0] == 255
    assert codes[31][1] == 0 and codes[0][1] == 255
    again = {r.vec_id: r.codes for r in S.sq8_quantize(emb).collect()}
    assert codes == again


def test_sq8_topk_recall_vs_exact(spark, emb):
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0].embedding]
    exact = [r.id for r in S.cosine_topk(emb, q, k=10).collect()]
    approx = [r.id for r in S.sq8_topk(emb, q, k=10).collect()]
    # 8-bit quantization error is tiny relative to cosine gaps: near-total
    # agreement with the exact scan, and the self-match must survive
    assert len(set(exact) & set(approx)) >= 8
    assert approx[0] == 0


def test_hashed_classifier_separates_planted_classes(spark):
    pos = [(i, "the quick brown fox jumps over the lazy dog again " * 3) for i in range(20)]
    neg = [(i + 100, "zzz qqq vvv kkk xxx www yyy uuu ttt sss " * 3) for i in range(20)]
    df = spark.createDataFrame(pos + neg, ["doc_id", "text"])
    bias, w = X.train_hashed_classifier(
        df, F.col("doc_id") < 100, n_buckets=64, n_iter=2
    )
    assert len(w) == 64
    out = {r.doc_id: r for r in X.score_hashed_classifier(df, bias, w).collect()}
    # every positive doc must outscore every negative doc after 2 GD steps
    assert min(out[i].score for i in range(20)) > max(
        out[i + 100].score for i in range(20)
    )
    # determinism: retraining yields the identical model
    bias2, w2 = X.train_hashed_classifier(
        df, F.col("doc_id") < 100, n_buckets=64, n_iter=2
    )
    assert bias == bias2 and w == w2


def test_hashed_classifier_first_step_fast_path_matches_window(spark):
    """The trainer's first step uses p = 0.5 in place of the id-window
    logit. With an all-zero model the window yields that constant
    exactly, so the gradients, and the model after one step, match
    the windowed step bit for bit."""
    pos = [(i, f"the quick brown fox {i} jumps over the lazy dog") for i in range(12)]
    neg = [(i + 100, f"zzz qqq vvv {i} kkk xxx www") for i in range(9)]
    df = spark.createDataFrame(pos + neg + [(200, "")], ["doc_id", "text"])
    label = F.col("doc_id") < 100
    fast = X.train_hashed_classifier(df, label, n_buckets=16, n_iter=1, lr=0.7)
    ydoc = df.select(
        F.col("doc_id").alias("id"),
        F.when(label, F.lit(1.0)).otherwise(F.lit(0.0)).alias("y"),
    )
    spy = X.hashed_ngram_features(df, n_buckets=16).join(ydoc, "id")
    zero = [0.0] * 16
    windowed = X._hashed_step(spy, X._hashed_residual(0.0, zero), 0.0, zero, 0.7)
    assert fast == windowed
    assert fast[0] != 0.0 and any(fast[1])


def test_hashed_classifier_empty_doc_bias_only(spark):
    df = spark.createDataFrame(
        [(1, "some tokens here"), (2, "")], ["doc_id", "text"]
    )
    bias, w = X.train_hashed_classifier(df, F.col("doc_id") == 1, n_buckets=16)
    out = {r.doc_id: r for r in X.score_hashed_classifier(df, bias, w).collect()}
    # the empty doc scores sigmoid(bias) — finite, present, no crash
    assert 0.0 <= out[2].score <= 1.0
    assert set(out) == {1, 2}


def test_hashed_ngram_features_normalized(spark):
    df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    rows = X.hashed_ngram_features(df, n_buckets=8).collect()
    # 3 unigrams + 2 bigrams = 5 grams; gram weights sum to 1 over the
    # doc, plus exactly one intercept row (bucket -1, x = 1)
    gram_rows = [r for r in rows if r.bucket >= 0]
    bias_rows = [r for r in rows if r.bucket == -1]
    assert abs(sum(r.x for r in gram_rows) - 1.0) < 1e-12
    assert all(0 <= r.bucket < 8 for r in gram_rows)
    assert len(bias_rows) == 1 and bias_rows[0].x == 1.0
    # empty docs still get their intercept row
    empty = spark.createDataFrame([(2, "")], ["doc_id", "text"])
    erows = X.hashed_ngram_features(empty, n_buckets=8).collect()
    assert [(r.bucket, r.x) for r in erows] == [(-1, 1.0)]


def test_bpe_learn_textbook_corpus(spark):
    from delta_rs_spark.functions.vocab import bpe_learn, bpe_segment, bpe_vocab

    df = spark.createDataFrame([(1, "low low low lower lowest")], ["doc_id", "text"])
    merges = bpe_learn(df, n_merges=3)
    # (l,o) x5 ties (o,w) x5 -> pair-string tiebreak; then (lo,w) x5; then (low,e) x2
    assert merges == [("l", "o", 5), ("lo", "w", 5), ("low", "e", 2)]
    vocab = {r.symbol: r.n for r in bpe_vocab(df, merges).collect()}
    assert vocab == {"low": 3, "lowe": 2, "r": 1, "s": 1, "t": 1}
    seg = bpe_segment(df, merges).collect()[0].pieces
    assert seg == ["low", "low", "low", "lowe", "r", "lowe", "s", "t"]


def test_bpe_merge_nonoverlapping_runs(spark):
    from delta_rs_spark.functions.vocab import bpe_learn, bpe_vocab

    # 'aaaa' with merge (a,a): the scan takes positions 0 and 2 -> 'aa','aa'
    df = spark.createDataFrame([(1, "aaaa aaa b")], ["doc_id", "text"])
    merges = bpe_learn(df, n_merges=1)
    assert merges[0][:2] == ("a", "a")
    vocab = {r.symbol: r.n for r in bpe_vocab(df, merges).collect()}
    # aaaa -> [aa, aa]; aaa -> [aa, a]
    assert vocab == {"aa": 3, "a": 1, "b": 1}


def test_bpe_learn_deterministic(spark, docs):
    from delta_rs_spark.functions.vocab import bpe_learn

    m1 = bpe_learn(docs, n_merges=2)
    m2 = bpe_learn(docs, n_merges=2)
    assert m1 == m2 and len(m1) == 2


def test_trailing_zscore_flags_planted_spike(spark):
    from datetime import datetime, timedelta

    from delta_rs_spark.functions.timeseries import trailing_zscore_anomalies

    base = datetime(2026, 1, 1)
    rows = []
    eid = 0
    # 30 steady hours of ~10 events, then one 100-event spike hour
    for h in range(31):
        n = 100 if h == 30 else 10 + (h % 3)  # mild jitter -> nonzero stddev
        for _ in range(n):
            rows.append((eid, base + timedelta(hours=h, minutes=1), "click"))
            eid += 1
    df = spark.createDataFrame(rows, ["event_id", "ts", "event_type"])
    out = {r.bucket_ts: r for r in trailing_zscore_anomalies(df).collect()}
    assert len(out) == 31
    spike_ts = int((base + timedelta(hours=30)).timestamp())
    spike = out[spike_ts]
    assert spike.is_anomaly and spike.z > 10
    # steady hours with a settled baseline (>= 10 prior buckets smooth
    # out the jitter; the first few buckets may flag on 2-sample noise,
    # which is the definition working, not a bug) are not anomalous
    settled = int((base + timedelta(hours=10)).timestamp())
    steady = [
        r
        for ts, r in out.items()
        if ts != spike_ts and ts >= settled and r.z is not None
    ]
    assert steady and all(not r.is_anomaly for r in steady)
    # the first bucket has no baseline: z NULL, is_anomaly FALSE not NULL
    first = out[int(base.timestamp())]
    assert first.z is None and first.is_anomaly is False


def test_quality_calibration_per_source_fractions(spark):
    from delta_rs_spark.functions.sampling import calibrate_quality_per_source

    rows = []
    # source A: long/high-quality docs; source B: terse low-score docs —
    # a global raw-score cut would keep almost only A
    for i in range(40):
        rows.append((i, "A", "the quick brown fox is seen and the dog was there " * (i % 5 + 2)))
    for i in range(20):
        rows.append((100 + i, "B", "x y z " * (i % 3 + 1)))
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    out = calibrate_quality_per_source(df, keep_frac=0.5).collect()
    kept = {(r.source, r.doc_id) for r in out if r.keep}
    a = sum(1 for s, _ in kept if s == "A")
    b = sum(1 for s, _ in kept if s == "B")
    # the cut preserves the mix: ~half of EACH source survives
    assert 18 <= a <= 22 and 8 <= b <= 12
    # pct spans [0, 1] within each source
    for src in ("A", "B"):
        ps = sorted(r.pct for r in out if r.source == src)
        assert ps[0] == 0.0 and ps[-1] == 1.0


def test_bm25_ranks_exact_term_match_first(spark):
    from delta_rs_spark.functions.retrieval import bm25_topk

    rows = [
        (0, "zebra quagga okapi"),              # rare terms, the planted hit
        (1, "the cat sat on the mat"),
        (2, "the dog sat on the log"),
        (3, "a cat and a dog and a cat"),
        (4, "zebra stripes are common here today"),
    ]
    corpus = spark.createDataFrame(rows, ["doc_id", "text"])
    q = spark.createDataFrame(
        [(7, "zebra"), (7, "quagga"), (7, "okapi")], ["query_id", "term"]
    )
    out = bm25_topk(corpus, q, k=3).collect()
    assert out[0].query_id == 7 and out[0].rank == 1 and out[0].doc_id == 0
    # doc 4 shares one rare term -> present but below the full match
    by_rank = {r.rank: r.doc_id for r in out}
    assert by_rank[2] == 4
    assert all(r.score > 0 for r in out)


def test_bm25_length_normalization(spark):
    from delta_rs_spark.functions.retrieval import bm25_topk

    # same tf for 'fox', but doc 1 is much longer -> lower score
    rows = [
        (0, "fox den"),
        (1, "fox " + "filler " * 40),
        (2, "unrelated words entirely"),
    ]
    corpus = spark.createDataFrame(rows, ["doc_id", "text"])
    q = spark.createDataFrame([(1, "fox")], ["query_id", "term"])
    out = {r.doc_id: r.score for r in bm25_topk(corpus, q, k=5).collect()}
    assert 2 not in out
    assert out[0] > out[1]


def test_importance_resampling_prefers_target_like_docs(spark):
    from delta_rs_spark.functions.sampling import importance_resampling

    rows = []
    for i in range(30):  # target domain: fruit vocabulary
        rows.append((i, "tgt", "apple banana cherry apple banana " * 3))
    for i in range(30, 60):  # raw-only domain: metal vocabulary
        rows.append((i, "web", "iron copper zinc nickel cobalt " * 3))
    # a web doc that LOOKS like the target -> should out-weight its peers
    rows.append((99, "web", "apple banana apple cherry banana apple"))
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    out = importance_resampling(
        df, F.col("source") == "tgt", vocab_size=16, keep_frac=0.5
    ).collect()
    w = {r.doc_id: r.weight for r in out}
    keep = {r.doc_id for r in out if r.keep}
    assert w[99] > w[30]  # target-like web doc beats metal web doc
    assert w[0] > 0 and w[30] < 0  # in-domain positive, off-domain negative
    assert 99 in keep and 0 in keep and 30 not in keep
    assert len(out) == 61  # every doc scored, including any no-vocab docs


def test_length_buckets_padding_accounting(spark):
    from delta_rs_spark.functions.packing import length_bucket_batches

    # bucket 0: lengths 1..9 (9 docs -> batches of 8 + 1)
    rows = [(i, i) for i in range(1, 10)]
    # bucket 2: two docs of 64 and 70 tokens
    rows += [(100, 64), (101, 70)]
    df = spark.createDataFrame(rows, ["doc_id", "n_tokens"])
    out = {(r.bucket, r.batch_id): r for r in length_bucket_batches(
        df, bucket_width=32, batch_size=8).collect()}
    b0 = out[(0, 0)]
    assert b0.n_docs == 8 and b0.max_tok == 9  # longest-first fill
    assert b0.padding == 8 * 9 - sum(range(2, 10))
    assert out[(0, 1)].n_docs == 1 and out[(0, 1)].padding == 0
    b2 = out[(2, 0)]
    assert b2.n_docs == 2 and b2.max_tok == 70 and b2.padding == 6


def test_perplexity_buckets_tier_semantics(spark):
    from delta_rs_spark.functions.text import perplexity_buckets

    import random

    words = "the cat sat on the mat and the cat sat".split()
    rows = []
    for i in range(12):  # fluent: repeats the corpus's dominant bigrams
        rows.append((i, "A", " ".join(words)))
    for i in range(12, 18):  # scrambled: same words, each doc a distinct
        w = words[:]         # rare-bigram order -> low p(w2|w1)
        random.Random(i).shuffle(w)
        rows.append((i, "A", " ".join(w)))
    for i in range(20, 26):  # second source, its own distribution
        rows.append((i, "B", "alpha beta gamma alpha beta gamma alpha beta"))
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    out = perplexity_buckets(df).collect()
    by_id = {r.doc_id: r for r in out}
    # fluent docs hold the head of source A; scrambled docs sit in the tail
    assert by_id[0].bucket == "head"
    assert by_id[17].bucket == "tail"
    assert by_id[0].mean_logprob > by_id[17].mean_logprob
    # each source is ranked independently: B spans pct 0..1 on its own
    b_pcts = sorted(r.pct for r in out if r.source == "B")
    assert b_pcts[0] == 0.0 and b_pcts[-1] == 1.0
    # every scored doc gets exactly one tier label
    assert {r.bucket for r in out} <= {"head", "middle", "tail"}


def test_token_budget_cap_greedy_prefix(spark):
    from delta_rs_spark.functions.sampling import token_budget_cap

    rows = []
    for i in range(10):  # ~20 tokens each, quality rises with repetition
        rows.append((i, "A", "the cat sat on the mat and it was good " * 2))
    rows.append((50, "B", "word " * 30))
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    out = {r.doc_id: r for r in token_budget_cap(
        df, {"A": 45}, default_budget=10).collect()}
    # A docs tie on quality -> id order; 20-token docs, budget 45 -> 2 kept
    kept_a = [i for i in range(10) if out[i].keep]
    assert kept_a == [0, 1]
    assert out[0].cum_tokens == 20 and out[1].cum_tokens == 40
    assert not out[2].keep and out[2].cum_tokens == 60
    # B's single 30-token doc exceeds the 10-token default budget
    assert not out[50].keep


def test_epoch_permutation_is_deterministic_and_dense(spark):
    from delta_rs_spark.functions.sampling import epoch_permutation

    df = spark.range(200).select(F.col("id").alias("doc_id"))
    a = {r.doc_id: (r.shard, r.pos) for r in epoch_permutation(df, 8).collect()}
    b = {r.doc_id: (r.shard, r.pos) for r in epoch_permutation(df, 8).collect()}
    assert a == b  # pure function of (id, salt)
    # positions are dense 0..n-1 within every shard
    from collections import defaultdict
    by_shard = defaultdict(list)
    for s, p in a.values():
        by_shard[s].append(p)
    for s, ps in by_shard.items():
        assert sorted(ps) == list(range(len(ps)))
    # a different salt draws a different order
    c = {r.doc_id: (r.shard, r.pos)
         for r in epoch_permutation(df, 8, salt="epoch-1").collect()}
    assert c != a


def test_source_divergence_flags_drifted_source(spark):
    from delta_rs_spark.functions.text import source_divergence

    rows = []
    for i in range(40):  # two sources sharing the corpus distribution
        rows.append((i, "A", "alpha beta gamma delta epsilon zeta"))
        rows.append((100 + i, "B", "alpha beta gamma delta epsilon zeta"))
    for i in range(10):  # C: disjoint vocabulary -> large KL
        rows.append((200 + i, "C", "xenon krypton argon neon helium radon"))
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    out = {r.source: r for r in source_divergence(df, vocab_size=12).collect()}
    assert out["A"].kl == out["B"].kl  # identical distributions
    assert out["C"].kl > out["A"].kl + 0.5  # drifted source stands out
    assert out["A"].n_docs == 40 and out["C"].n_docs == 10


def test_classifier_auc_known_values(spark):
    from delta_rs_spark.functions.text import classifier_auc

    # perfect separation -> 1.0
    rows = [(0.9, 1), (0.8, 1), (0.2, 0), (0.1, 0)]
    df = spark.createDataFrame(rows, ["score", "y"])
    assert classifier_auc(df).first().auc == 1.0
    # perfect inversion -> 0.0
    inv = spark.createDataFrame([(s, 1 - y) for s, y in rows], ["score", "y"])
    assert classifier_auc(inv).first().auc == 0.0
    # all scores tied -> 0.5 exactly (average-rank tie handling)
    tied = spark.createDataFrame([(0.5, 1)] * 3 + [(0.5, 0)] * 5, ["score", "y"])
    assert classifier_auc(tied).first().auc == 0.5
    # hand-computed mixed case: scores .9(+) .7(-) .7(+) .3(-)
    mix = spark.createDataFrame(
        [(0.9, 1), (0.7, 0), (0.7, 1), (0.3, 0)], ["score", "y"]
    )
    r = mix_r = classifier_auc(mix).first()
    # ranks asc: .3->1, .7 ties ->2.5, .9->4; sum_pos = 2.5+4 = 6.5
    # auc = (6.5 - 2*3/2) / (2*2) = 3.5/4 = 0.875
    assert r.auc == 0.875 and r.n_pos == 2 and r.n_neg == 2
    # degenerate label -> NULL, not a fake number
    ones = spark.createDataFrame([(0.4, 1), (0.6, 1)], ["score", "y"])
    assert classifier_auc(ones).first().auc is None


@pytest.mark.parametrize("seed", [3, 17])
def test_classifier_auc_differential_vs_pure_python(spark, seed):
    """Random scores/labels vs an independent tie-aware rank-sum AUC in
    pure Python (the textbook average-rank formula, no shared code) —
    plus the flip-label identity AUC' = 1 - AUC."""
    import random

    from delta_rs_spark.functions.text import classifier_auc

    rng = random.Random(seed)
    rows = [
        (round(rng.choice([0.1, 0.25, 0.5, 0.5, 0.7, 0.9]), 6), rng.randint(0, 1))
        for _ in range(200)
    ]

    def ref_auc(pairs):
        s = sorted(pairs, key=lambda p: p[0])
        ranks, i = {}, 0
        while i < len(s):
            j = i
            while j < len(s) and s[j][0] == s[i][0]:
                j += 1
            avg = (i + 1 + j) / 2.0  # average of ranks i+1 .. j
            ranks[s[i][0]] = avg
            i = j
        p = sum(y for _, y in pairs)
        n = len(pairs) - p
        sum_pos = sum(ranks[x] for x, y in pairs if y)
        return (sum_pos - p * (p + 1) / 2.0) / (p * n)

    df = spark.createDataFrame(rows, ["score", "y"])
    got = classifier_auc(df).first().auc
    assert abs(got - ref_auc(rows)) < 1e-6
    flipped = spark.createDataFrame([(s, 1 - y) for s, y in rows], ["score", "y"])
    assert abs(classifier_auc(flipped).first().auc - (1.0 - got)) < 2e-6


@pytest.mark.parametrize("seed", [5, 29])
def test_bm25_differential_vs_pure_python(spark, seed):
    """Random word-salad corpora + random queries vs an independent
    pure-Python Robertson/Okapi BM25 (binarized query tf, k1=1.2,
    b=0.75) — rank order AND 6dp scores must agree."""
    import math
    import random

    from delta_rs_spark.functions.retrieval import bm25_topk

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(30)]
    corpus = [
        (i, " ".join(rng.choices(vocab, k=rng.randint(5, 40)))) for i in range(60)
    ]
    queries = [(qi, rng.sample(vocab, 4)) for qi in range(3)]

    def ref_topk(k=10, k1=1.2, b=0.75):
        docs = {i: t.split() for i, t in corpus}
        n = len(docs)
        avgdl = sum(len(t) for t in docs.values()) / n
        out = {}
        for qi, terms in queries:
            scores = {}
            for term in set(terms):
                df_t = sum(1 for t in docs.values() if term in t)
                if df_t == 0:
                    continue
                idf = round(math.log(1.0 + (n - df_t + 0.5) / (df_t + 0.5)) * 1e6) / 1e6
                for i, t in docs.items():
                    tf = t.count(term)
                    if tf:
                        c = idf * ((tf * (k1 + 1.0)) / (tf + k1 * ((1.0 - b) + b * (len(t) / avgdl))))
                        scores[i] = scores.get(i, 0) + int(round(c * 1e9))
            ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
            out[qi] = [(i, round(s / 1e9, 6)) for i, s in ranked]
        return out

    cdf = spark.createDataFrame(corpus, ["doc_id", "text"])
    qdf = spark.createDataFrame(
        [(qi, t) for qi, ts in queries for t in ts], ["query_id", "term"]
    )
    got = {}
    for r in bm25_topk(cdf, qdf, k=10).collect():
        got.setdefault(r.query_id, []).append((r.doc_id, r.score))
    want = ref_topk()
    assert got == {qi: v for qi, v in want.items() if v}


def test_bm25_empty_corpus_returns_empty(spark):
    """r06 advice: an empty corpus must yield an empty result frame
    (stable schema), not a TypeError from float(None) / zero-division
    in the avgdl scalars."""
    from delta_rs_spark.functions.retrieval import bm25_topk

    corpus = spark.createDataFrame([], "doc_id long, text string")
    q = spark.createDataFrame([(1, "fox")], ["query_id", "term"])
    out = bm25_topk(corpus, q, k=5)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "query_id", "rank", "doc_id", "score",
    ]


def test_trailing_zscore_gap_fill_flags_dropout(spark):
    """r06 advice: a zero-event hour inside the series is THE dropout
    anomaly — gap-filling (default) must give it an n=0 row with a
    large negative z; fill_gaps=False must reproduce the old skip-gaps
    behavior (no row for the empty hour)."""
    from datetime import datetime, timedelta

    from delta_rs_spark.functions.timeseries import trailing_zscore_anomalies

    base = datetime(2026, 1, 1)
    rows, eid = [], 0
    for h in range(30):
        if h == 25:
            continue  # dropout hour: zero events
        for _ in range(10 + (h % 3)):
            rows.append((eid, base + timedelta(hours=h, minutes=1), "click"))
            eid += 1
    df = spark.createDataFrame(rows, ["event_id", "ts", "event_type"])

    out = {r.bucket_ts: r for r in trailing_zscore_anomalies(df).collect()}
    assert len(out) == 30  # spine covers the empty hour
    drop = out[int((base + timedelta(hours=25)).timestamp())]
    assert drop.n == 0 and drop.is_anomaly and drop.z < -2

    legacy = trailing_zscore_anomalies(df, fill_gaps=False).collect()
    assert len(legacy) == 29
    assert int((base + timedelta(hours=25)).timestamp()) not in {
        r.bucket_ts for r in legacy
    }


def test_source_divergence_keeps_fully_oov_source(spark):
    """r06 advice: a source whose every token is outside the top-vocab —
    the maximally drifted source — must appear with n_vocab_tokens=0 and
    a large pure-smoothing KL, not vanish from the report."""
    from delta_rs_spark.functions.text import source_divergence

    rows = []
    # skewed corpus distribution (alpha dominates) — a fully-OOV
    # source's pure-smoothing p_src is uniform, so its KL against a
    # NON-uniform corpus is strictly positive
    for i in range(40):
        rows.append((i, "A", "alpha alpha alpha alpha beta gamma delta epsilon zeta"))
        rows.append((100 + i, "B", "alpha alpha alpha alpha beta gamma delta epsilon zeta"))
    # C is tiny and fully disjoint: with vocab_size=6 the corpus top-6
    # is A/B vocabulary only, so C has ZERO in-vocab tokens
    rows.append((200, "C", "xenon krypton argon"))
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    out = {r.source: r for r in source_divergence(df, vocab_size=6).collect()}
    assert set(out) == {"A", "B", "C"}
    assert out["C"].n_vocab_tokens == 0 and out["C"].n_docs == 1
    assert out["C"].kl > out["A"].kl  # drift visible, not hidden


def test_classifier_auc_bins_unsnapped_scores(spark):
    """r06 verdict #6: the global rank window is grid-bounded only if
    the scores are; above max_distinct_scores the operator must bin
    (equal-width) instead of silently building a corpus-bounded
    single-task window. Binned result stays within bin resolution of
    the exact AUC."""
    import random

    from delta_rs_spark.functions.text import classifier_auc

    rng = random.Random(41)
    # 400 distinct raw floats; force the fallback with a tiny bound
    rows = [(rng.random(), rng.randint(0, 1)) for _ in range(400)]
    df = spark.createDataFrame(rows, ["score", "y"])
    exact = classifier_auc(df).first().auc
    binned = classifier_auc(df, max_distinct_scores=50).first().auc
    assert abs(binned - exact) < 0.05  # 50 bins over [0,1] ~ 2% resolution
    # and the default bound leaves grid-snapped scores untouched
    snapped = [(round(s, 2), y) for s, y in rows]
    df2 = spark.createDataFrame(snapped, ["score", "y"])
    a1 = classifier_auc(df2).first().auc
    a2 = classifier_auc(df2, max_distinct_scores=101).first().auc
    assert a1 == a2


def test_gopher_rules_planted_violations(spark):
    from delta_rs_spark.functions.text import gopher_quality_report

    good = "the cat and dog that live with us have gone to the park " * 5
    rows = [
        (0, good),                                   # passes everything
        (1, "word " * 10),                           # too few words
        (2, "supercalifragilisticexpialidocious " * 60),  # mean word len > 10
        (3, ("# " + good.split(" ", 1)[1] + " # # # # # # # # # # # # # ") * 3),  # symbol ratio
        (4, "\n".join("- " + l for l in [good[:40]] * 9) + "\n" + good),  # 9 of 10 lines bulleted = exactly 90% -> allowed
        (5, "xx yy zz " * 20),                       # no required stopwords
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in gopher_quality_report(df).collect()}
    assert out[0].keep
    assert not out[1].r_word_count and not out[1].keep
    assert not out[2].r_mean_word_len and not out[2].keep
    assert not out[3].r_symbol_ratio and not out[3].keep
    assert out[4].r_bullet_lines  # exactly 90% bulleted is allowed
    assert not out[5].r_stopwords and not out[5].keep
    # counts are reported, booleans are never NULL
    for r in out.values():
        for f in ("r_word_count", "r_mean_word_len", "r_symbol_ratio",
                  "r_bullet_lines", "r_ellipsis_lines", "r_alpha_words",
                  "r_stopwords", "keep"):
            assert getattr(r, f) is not None


def test_gopher_rules_all_bullets_fails(spark):
    from delta_rs_spark.functions.text import gopher_quality_report

    text = "\n".join("- the item of and that" for _ in range(20))
    df = spark.createDataFrame([(0, text)], ["doc_id", "text"])
    r = gopher_quality_report(df, min_words=10).first()
    assert not r.r_bullet_lines and not r.keep


def test_ql_topk_ranks_exact_match_and_length_norm(spark):
    from delta_rs_spark.functions.retrieval import ql_topk

    rows = [
        (0, "zebra quagga okapi"),
        (1, "zebra " + "filler " * 60),
        (2, "entirely unrelated words here"),
    ]
    corpus = spark.createDataFrame(rows, ["doc_id", "text"])
    q = spark.createDataFrame(
        [(7, "zebra"), (7, "quagga"), (7, "okapi")], ["query_id", "term"]
    )
    out = ql_topk(corpus, q, k=5).collect()
    assert out[0].rank == 1 and out[0].doc_id == 0  # full match wins
    got = {r.doc_id for r in out}
    assert got == {0, 1}  # doc 2 matches nothing -> not a candidate

    # empty corpus guard (same contract as bm25_topk)
    empty = spark.createDataFrame([], "doc_id long, text string")
    eo = ql_topk(empty, q)
    assert eo.count() == 0 and [f.name for f in eo.schema.fields] == [
        "query_id", "rank", "doc_id", "score",
    ]


def test_rrf_fusion_consensus_beats_single_ranker(spark):
    from delta_rs_spark.functions.retrieval import rrf_fuse

    # doc 5 is rank 2 in BOTH rankers; docs 1 and 9 are rank 1 in one
    # ranker each and absent from the other. RRF: doc 5 = 2/(60+2),
    # docs 1/9 = 1/61 -> consensus wins.
    a = spark.createDataFrame(
        [(1, 1, 1), (1, 2, 5), (1, 3, 3)], ["query_id", "rank", "doc_id"]
    )
    b = spark.createDataFrame(
        [(1, 1, 9), (1, 2, 5), (1, 3, 4)], ["query_id", "rank", "doc_id"]
    )
    out = rrf_fuse([a, b], k=60, topk=5).collect()
    assert out[0].doc_id == 5 and out[0].rank == 1
    assert abs(out[0].rrf_score - 2 / 62) < 1e-5
    # ties (1 vs 9, both 1/61) break by doc_id ascending
    assert [r.doc_id for r in out[1:3]] == [1, 9]


def test_ngram_diversity_flags_repetitive_source(spark):
    from delta_rs_spark.functions.text import ngram_diversity

    rows = []
    # A: varied text (high diversity); B: one phrase looped (collapsed)
    for i in range(10):
        rows.append((i, "A", f"alpha{i} beta{i} gamma{i} delta{i} eps{i}"))
        rows.append((100 + i, "B", "the same phrase again " * 5))
    out = {r.source: r for r in ngram_diversity(
        spark.createDataFrame(rows, ["doc_id", "source", "text"])
    ).collect()}
    assert out["A"].ttr == 1.0  # every token unique corpus-wide
    assert out["A"].bigram_diversity == 1.0
    assert out["B"].ttr < 0.05 and out["B"].bigram_diversity < 0.05
    assert out["A"].n_docs == 10 and out["B"].n_tokens == 10 * 20
    # exact bigram accounting: n_tokens - 1 bigram per doc
    assert out["A"].n_bigrams == 10 * 4


def test_zipf_fit_recovers_planted_slope(spark):
    from delta_rs_spark.functions.text import zipf_fit

    # plant freq(term_i) = 1024 / i for i in 1..16 -> ln f = ln 1024 - ln r
    # exactly: slope -1, r2 ~ 1
    words = []
    for i in range(1, 17):
        words += [f"t{i:02d}"] * (1024 // i)
    text = " ".join(words)
    df = spark.createDataFrame([(0, text)], ["doc_id", "text"])
    r = zipf_fit(df, vocab_size=16).first()
    assert r.n_terms == 16
    assert abs(r.slope + 1.0) < 0.02  # 1024//i truncation = tiny bend
    assert r.r2 > 0.999
    assert abs(r.intercept - 6.9315) < 0.02  # ln 1024


def test_semantic_contamination_flags_planted_paraphrase(spark):
    from delta_rs_spark.functions.similarity import semantic_contamination

    def unit(v):
        n = sum(x * x for x in v) ** 0.5
        return [x / n for x in v]

    bench_rows = [(0, unit([1.0, 0.0, 0.0, 0.0])), (1, unit([0.0, 1.0, 0.0, 0.0]))]
    corpus_rows = [
        (10, unit([0.99, 0.05, 0.0, 0.0])),   # near-copy of bench 0
        (11, unit([0.0, 0.0, 1.0, 0.0])),     # orthogonal -> clean
        (12, unit([0.6, 0.6, 0.0, 0.0])),     # between both, below 0.92
    ]
    bench = spark.createDataFrame(bench_rows, ["vec_id", "embedding"])
    corpus = spark.createDataFrame(corpus_rows, ["vec_id", "embedding"])
    out = {r.vec_id: r for r in
           semantic_contamination(corpus, bench, threshold=0.92).collect()}
    assert out[10].contaminated and out[10].bench_id == 0
    assert not out[11].contaminated
    assert not out[12].contaminated
    # ties break to the LOWEST bench id: vec 12 is equidistant
    assert out[12].bench_id == 0
    assert out[10].max_cos > 0.99


def test_semantic_contamination_self_is_contaminated(spark):
    from delta_rs_spark.functions.similarity import semantic_contamination

    rows = [(i, [float(i == j) for j in range(4)]) for i in range(3)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = semantic_contamination(df, df, threshold=0.99).collect()
    assert all(r.contaminated and r.bench_id == r.vec_id for r in out)


def test_value_percentiles_nearest_rank_exact(spark):
    from delta_rs_spark.functions.timeseries import value_percentiles

    # 100 known values 0.01..1.00 for one group: p50 = 0.50, p90 = 0.90,
    # p99 = 0.99 under nearest-rank (ceil(p*n)-th smallest)
    rows = [(i, "a", (i + 1) / 100.0) for i in range(100)]
    # second group with heavy ties: 90x 1.00 + 10x 5.00
    rows += [(200 + i, "b", 1.00 if i < 90 else 5.00) for i in range(100)]
    df = spark.createDataFrame(rows, ["event_id", "event_type", "value"])
    out = {r.event_type: r for r in value_percentiles(df).collect()}
    a = out["a"]
    assert a.n == 100 and abs(a.p50 - 0.50) < 1e-9 and abs(a.p90 - 0.90) < 1e-9
    assert abs(a.p99 - 0.99) < 1e-9
    b = out["b"]
    assert b.p50 == 1.00 and b.p90 == 1.00 and b.p99 == 5.00


def test_bm25_hard_negatives_excludes_positives_reranks(spark):
    from delta_rs_spark.functions.retrieval import bm25_hard_negatives

    rows = [
        (0, "zebra quagga okapi"),            # the positive for query 7
        (1, "zebra quagga herd"),             # top hard negative
        (2, "zebra stripes"),                 # weaker negative
        (3, "the cat sat on the mat"),        # no match -> absent
    ]
    corpus = spark.createDataFrame(rows, ["doc_id", "text"])
    q = spark.createDataFrame(
        [(7, "zebra"), (7, "quagga"), (7, "okapi")], ["query_id", "term"]
    )
    pos = spark.createDataFrame([(7, 0)], ["query_id", "doc_id"])
    out = bm25_hard_negatives(corpus, q, pos, k=3).collect()
    got = [(r.rank, r.doc_id) for r in out]
    assert got == [(1, 1), (2, 2)]  # positive excluded, ranks renumbered
    assert all(r.doc_id != 0 for r in out)


def test_dense_topk_two_phase_equals_flat_ranking(spark):
    """dense_topk's sharded two-phase top-k must equal the flat
    per-query ranking (score desc 4dp, id asc), for k larger and
    smaller than a shard's contribution."""
    import math
    import random

    from delta_rs_spark.functions.similarity import dense_topk

    rng = random.Random(13)
    vecs = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(120)]
    emb = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    qs = emb.filter(F.col("vec_id") < 3)

    def ref(k):
        out = {}
        for qi, qv in vecs[:3]:
            qn = math.sqrt(sum(x * x for x in qv))
            scored = []
            for di, dv in vecs:
                dn = math.sqrt(sum(x * x for x in dv))
                c = sum(x * y for x, y in zip(qv, dv)) / (qn * dn)
                scored.append((round(c, 4), di))
            ranked = sorted(scored, key=lambda t: (-t[0], t[1]))[:k]
            out[qi] = [(r + 1, di, s) for r, (s, di) in enumerate(ranked)]
        return out

    for k, shards in ((7, 4), (25, 32)):
        got = {}
        rows = dense_topk(emb, qs, k=k, n_shards=shards, q_id_col="vec_id").collect()
        for r in rows:
            got.setdefault(r.query_id, []).append((r.rank, r.doc_id, r.score))
        for qi in got:
            got[qi].sort()
        assert got == ref(k), f"mismatch at k={k}, shards={shards}"


def test_ivf_topk_indexed_multi_head_recall_and_fuse_shape(spark, tmp_path):
    """ivf_topk_indexed_multi (r09): the multi-query indexed dense
    ranker's HEAD must match exact dense_topk on planted near-dups
    (near neighbors co-assign to the probed lists), its output shape
    must feed rrf_fuse directly, and a query must never return more
    than k rows."""
    import random

    from delta_rs_spark.functions.retrieval import rrf_fuse
    from delta_rs_spark.functions.similarity import (
        build_ivf_index,
        dense_topk,
        ivf_topk_indexed_multi,
    )

    rng = random.Random(7)
    base = [[rng.uniform(-1, 1) for _ in range(8)] for _ in range(3)]
    vecs = []
    for i in range(90):  # 3 well-separated clusters with jitter
        c = base[i % 3]
        vecs.append((i, [x + rng.uniform(-0.05, 0.05) for x in c]))
    emb = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    idx = str(tmp_path / "ivf_multi")
    build_ivf_index(emb, idx, n_lists=6)

    qs = emb.filter(F.col("vec_id") < 3)
    got = ivf_topk_indexed_multi(
        spark, idx, qs, k=5, n_probe=2, q_id_col="vec_id"
    )
    rows = got.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append((r.rank, r.doc_id, r.score))
    assert set(by_q) == {0, 1, 2}
    assert all(len(v) <= 5 for v in by_q.values())

    exact = dense_topk(emb, qs, k=5, q_id_col="vec_id").collect()
    exact_by_q = {}
    for r in exact:
        exact_by_q.setdefault(r.query_id, []).append((r.rank, r.doc_id, r.score))
    for q in (0, 1, 2):  # head-of-ranking agreement on clustered data
        assert sorted(by_q[q])[:3] == sorted(exact_by_q[q])[:3], q

    fused = rrf_fuse([got, dense_topk(emb, qs, k=5, q_id_col="vec_id")], topk=3)
    assert fused.columns == ["query_id", "rank", "doc_id", "rrf_score"]
    assert fused.count() == 9  # 3 queries x top-3


def test_hybrid_topk_backends_one_lineage(spark, tmp_path):
    """r10 (r09 verdict #6): hybrid_topk is THE hybrid lineage with two
    dense backends. Differential pin: with n_probe = n_lists the IVF
    probe is exhaustive, so the indexed backend must produce the
    IDENTICAL fused top-k as the exact backend — same quantization
    grid, same tiebreaks, the only difference left is the access path.
    Also pins the error contract (ivf without index_path) and that the
    default backend IS the indexed one."""
    import inspect
    import random

    from delta_rs_spark.functions.retrieval import (
        head_term_queries,
        hybrid_topk,
    )

    assert (
        inspect.signature(hybrid_topk).parameters["dense"].default == "ivf"
    ), "the scale path must be the default backend"

    rng = random.Random(11)
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta"]
    docs = spark.createDataFrame(
        [
            (i, " ".join(rng.choice(words) for _ in range(30)))
            for i in range(40)
        ],
        ["doc_id", "text"],
    )
    emb = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)],
        ["vec_id", "embedding"],
    )
    qs = head_term_queries(docs, n_queries=3, n_terms=4)
    qvecs = emb.filter(F.col("vec_id") < 3)

    exact = hybrid_topk(docs, emb, qs, qvecs, dense="exact", k=10, topk=5)
    idx = str(tmp_path / "hyb_idx")
    ivf = hybrid_topk(
        docs,
        emb,
        qs,
        qvecs,
        index_path=idx,
        k=10,
        topk=5,
        n_lists=4,
        n_probe=4,  # exhaustive probe -> must equal exact
    )
    key = lambda r: (r.query_id, r.rank, r.doc_id, r.rrf_score)  # noqa: E731
    assert sorted(map(key, ivf.collect())) == sorted(
        map(key, exact.collect())
    )

    with pytest.raises(ValueError, match="index_path"):
        hybrid_topk(docs, emb, qs, qvecs)
    with pytest.raises(ValueError, match="backend"):
        hybrid_topk(docs, emb, qs, qvecs, dense="nope")


def test_semantic_contamination_pruned_matches_exact_above_threshold(spark, tmp_path):
    """semantic_contamination_indexed (r08): the IVF-probed variant's
    CONTAMINATED set must equal the brute-force scan's exactly — a
    contaminated pair is a near-dup and near-dups co-assign. Synthetic
    corpus: 3 well-separated clusters + planted near-dups of the bench
    vectors; below threshold the pruned report is a lower bound and is
    not compared."""
    import random

    from delta_rs_spark.functions.similarity import (
        build_ivf_index,
        semantic_contamination,
        semantic_contamination_indexed,
    )

    rng = random.Random(11)
    dim = 16
    centers = [[rng.uniform(-1, 1) for _ in range(dim)] for _ in range(3)]
    rows = []
    for i in range(90):
        c = centers[i % 3]
        rows.append((i, [x + rng.uniform(-0.05, 0.05) for x in c]))
    # bench = first 4 vectors; plant near-dups of two of them
    rows.append((90, [x * 1.001 + 1e-4 for x in rows[0][1]]))
    rows.append((91, [x * 0.999 - 1e-4 for x in rows[1][1]]))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    bench = emb.filter("vec_id < 4")
    idx = str(tmp_path / "ivf_idx")
    build_ivf_index(emb, idx, n_lists=8)

    full = {
        (r.vec_id, r.bench_id, r.max_cos)
        for r in semantic_contamination(emb, bench, threshold=0.95)
        .filter("contaminated").collect()
    }
    pruned = {
        (r.vec_id, r.bench_id, r.max_cos)
        for r in semantic_contamination_indexed(
            spark, idx, bench, threshold=0.95, n_probe=3
        ).filter("contaminated").collect()
    }
    assert {v for v, *_ in full} >= {90, 91, 0, 1, 2, 3}  # the plant worked
    assert pruned == full
    # and the pruned report still covers every corpus vector (NULL-padded)
    assert (
        semantic_contamination_indexed(spark, idx, bench, n_probe=3).count() == 92
    )
    # include_unprobed=False (the scale path): every row scored, no NULL
    # padding, and it is exactly the scored subset of the padded report —
    # so the contaminated set is unchanged
    np_rows = semantic_contamination_indexed(
        spark, idx, bench, threshold=0.95, n_probe=3, include_unprobed=False
    ).collect()
    assert all(r.max_cos is not None for r in np_rows)
    assert {
        (r.vec_id, r.bench_id, r.max_cos) for r in np_rows if r.contaminated
    } == full
    padded = semantic_contamination_indexed(
        spark, idx, bench, threshold=0.95, n_probe=3
    ).collect()
    assert {(r.vec_id, r.bench_id, r.max_cos) for r in np_rows} == {
        (r.vec_id, r.bench_id, r.max_cos)
        for r in padded
        if r.max_cos is not None
    }


def test_corpus_datacard_grains_null_safety_and_plan(spark):
    """corpus_datacard (r08): three ROLLUP grains in one pass, real
    NULL source kept distinct from the '<ALL>' subtotal via
    grouping(), BIGINT-exact mean, and a plan with a single Expand,
    no Python, and only group-sized shuffles."""
    from delta_rs_spark.functions.text import corpus_datacard

    rows = [
        (1, "a b c d", "en", "web"),
        (2, "", "en", "web"),
        (3, "x y", "de", "web"),
        (4, "tok " * 20, "en", "books"),
        (5, "solo", "fr", None),  # real NULL source
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source"])
    out = corpus_datacard(docs, short_tokens=3)
    got = {(r.source, r.lang): r for r in out.collect()}

    # grand total
    t = got[("<ALL>", "<ALL>")]
    assert (t.n_docs, t.empty_docs, t.distinct_langs) == (5, 1, 3)
    assert t.total_tokens == 4 + 0 + 2 + 20 + 1
    assert t.mean_tokens_ppm == (27 * 1_000_000) // 5
    # per-source subtotal vs NULL-source row: distinct keys
    assert got[("web", "<ALL>")].n_docs == 3
    assert (None, "<ALL>") in got and got[(None, "<ALL>")].n_docs == 1
    assert got[(None, "fr")].n_docs == 1
    # detail grain short/empty accounting
    assert got[("web", "en")].short_docs == 1  # the empty doc; 'a b c d' has 4
    assert got[("web", "en")].empty_docs == 1

    # post-collect the AQE string carries Final + Initial copies; pin the final
    plan = out._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert plan.count("Expand") == 1
    assert "Python" not in plan
    assert plan.count("Exchange") <= 2  # partial agg + count-distinct re-agg

    # mean_tokens_ppm quotient/remainder form: exact where the naive
    # sum*1e6 wraps int64 (~9.2e12 total tokens — the zipf_fit class)
    big = spark.createDataFrame(
        [(5_000_000_000_000,), (4_999_999_999_999,)], "t long"
    )
    got = big.agg(
        F.expr(
            "(sum(t) div count(1)) * 1000000"
            " + ((sum(t) % count(1)) * 1000000) div count(1)"
        )
    ).first()[0]
    assert got == (9_999_999_999_999 * 1_000_000) // 2  # > int64 naive


def test_frequent_ngrams_planted_boilerplate_and_shard_invariance(spark):
    """frequent_ngrams (r08): a planted repeated phrase dominates its
    source's top bigrams; ties break (count DESC, gram ASC); and the
    sharded two-phase rank is EXACT — n_shards must not change the
    result (shard-local top-k keeps every global-top-k candidate
    because per-gram counts are already global when ranking starts)."""
    from delta_rs_spark.functions.text import frequent_ngrams

    rows = (
        [(i, "web", "accept all cookies to continue reading") for i in range(9)]
        + [(100 + i, "web", f"unique text number {i} here") for i in range(4)]
        + [(200, "books", "once upon a time")]
        + [(201, "books", "once upon a midnight")]
        + [(202, "empty", "solo")]  # 1 token -> no bigrams for this source
    )
    docs = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    out = frequent_ngrams(docs, n=2, k=3).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r.source, []).append((r.rank, r.gram, r.cnt))
    for v in by_src.values():
        v.sort()
    # the planted banner's bigrams own the web top-3, count 9 each,
    # alphabetical among equals
    assert by_src["web"] == [
        (1, "accept all", 9),
        (2, "all cookies", 9),
        (3, "continue reading", 9),  # 'contin...' < 'cookies' ('n' < 'o')
    ]
    # ties across the two book lines: 'once upon'/'upon a' count 2 lead,
    # then gram-ASC among the count-1 grams
    assert by_src["books"][0] == (1, "once upon", 2)
    assert by_src["books"][1] == (2, "upon a", 2)
    assert by_src["books"][2][2] == 1 and by_src["books"][2][1] == "a midnight"
    assert "empty" not in by_src  # no bigrams, no rows
    # shard invariance: 1 shard (single global window) == 16 shards
    one = sorted(map(tuple, frequent_ngrams(docs, n=2, k=3, n_shards=1).collect()))
    assert one == sorted(map(tuple, out))


def test_mmr_rerank_diversity_and_exact_greedy(spark):
    """mmr_rerank (r09): hand-computable greedy — a near-duplicate of
    the top pick must be demoted below a less-relevant-but-diverse
    candidate at lambda=0.7, ties break by doc_id, scores are exact
    integer arithmetic on the 1e4 grid, and m caps at the candidate
    count."""
    from delta_rs_spark.functions.retrieval import mmr_rerank

    # doc 1: relevance 1.0, doc 2: near-dup of 1 (cos=1), rel 0.9,
    # doc 3: orthogonal, rel 0.5
    vecs = [(1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0])]
    vdf = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    ranking = spark.createDataFrame(
        [(0, 1, 1, 1.0), (0, 2, 2, 0.9), (0, 3, 3, 0.5)],
        ["query_id", "rank", "doc_id", "score"],
    )
    out = sorted(
        (r.mmr_rank, r.doc_id, r.mmr_score)
        for r in mmr_rerank(ranking, vdf, m=3).collect()
    )
    # step1: 7*rel -> doc1 (70000/1e5 = 0.7)
    # step2: doc2 = 7*9000-3*10000 = 33000; doc3 = 7*5000-3*0 = 35000
    #        -> diverse doc3 beats the near-dup despite lower relevance
    # step3: doc2 = 33000 (sim to doc3 is 0... max vs doc1 = 10000) -> 33000
    assert out == [
        (1, 1, 0.7),
        (2, 3, 0.35),
        (3, 2, 0.33),
    ], out

    # ties break by doc_id; m caps at candidate count
    tie = spark.createDataFrame(
        [(5, 1, 10, 0.8), (5, 2, 11, 0.8)],
        ["query_id", "rank", "doc_id", "score"],
    )
    tv = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, [0.0, 1.0])], ["vec_id", "embedding"]
    )
    got = [(r.mmr_rank, r.doc_id) for r in
           sorted(mmr_rerank(tie, tv, m=9).collect(), key=lambda r: r.mmr_rank)]
    assert got == [(1, 10), (2, 11)]

    # candidates without a vector are dropped, not silently zero-sim
    partial = spark.createDataFrame(
        [(7, 1, 10, 0.9), (7, 2, 99, 0.8)],
        ["query_id", "rank", "doc_id", "score"],
    )
    got = [r.doc_id for r in mmr_rerank(partial, tv, m=5).collect()]
    assert got == [10]
