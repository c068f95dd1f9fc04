"""Text analysis operators for large-scale training-data pipelines.

All hot-path logic is built-in ``pyspark.sql.functions`` expressions
(JVM-side, whole-stage-codegen) — no Python UDFs — so these run at full
scan speed over 100 TB of documents. Each helper returns Column
expressions composable with any DataFrame pipeline.

Formulas are deliberately engine-neutral (length / regexp counts /
md5) so the DuckDB oracle can reproduce them exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

# Language marker lexicons (tiny n-gram-free heuristic; the standard
# fasttext-style classifier would slot in as a pandas_udf, but a marker
# lexicon is deterministic and cross-engine reproducible). Latin-script
# languages count marker TOKENS (token-set membership is ~10x cheaper
# than alternation regexes at scan time); zh counts CJK codepoints.
LANG_MARKER_TOKENS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "was", "that", "with"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit"],
    "es": ["el", "la", "los", "las", "es", "y", "un", "una", "que"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "dans", "que"],
}
ZH_CHAR_RE = r"[一-鿿]"
LANG_MARKERS: dict[str, str] = {
    **{
        lang: r"\b(" + "|".join(toks) + r")\b"
        for lang, toks in LANG_MARKER_TOKENS.items()
    },
    "zh": ZH_CHAR_RE,
}

STOPWORD_RE = r"\b(the|a|an|of|and|to|in|is|was)\b"


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization (BPE-ish splitting belongs in a pandas_udf
    with a real tokenizer; whitespace is the deterministic baseline)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.trim(c), r"\s+"), lambda t: t != "")


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def char_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.length(c)


def stopword_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(F.lower(c), F.lit(STOPWORD_RE), F.lit(0)))


def punct_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(r"[.,;:!?]"), F.lit(0)))


def quality_score(col: Column | str) -> Column:
    """Deterministic [0,1] quality heuristic: rewards mid-length docs with
    a sane stopword ratio, penalizes punctuation soup. The shape follows
    the usual Gopher/C4-style length+stopword filters."""
    n_tok = token_count(col).cast("double")
    n_char = char_count(col).cast("double")
    sw = stopword_count(col).cast("double")
    pn = punct_count(col).cast("double")
    len_score = F.least(n_tok / F.lit(64.0), F.lit(1.0))
    sw_ratio = sw / F.greatest(n_tok, F.lit(1.0))
    sw_score = F.least(sw_ratio * F.lit(4.0), F.lit(1.0))
    punct_penalty = F.least(pn / F.greatest(n_char, F.lit(1.0)) * F.lit(10.0), F.lit(1.0))
    return F.round(
        F.lit(0.5) * len_score + F.lit(0.5) * sw_score - F.lit(0.25) * punct_penalty, 6
    )


def lang_id(col: Column | str) -> Column:
    """Marker-lexicon language ID; highest marker count wins (ties broken
    by ascending language code), 'und' when no marker hits. Latin
    languages count marker tokens over one shared tokenization; zh counts
    CJK codepoints via regex."""
    c = F.col(col) if isinstance(col, str) else col
    toks = tokens(F.lower(c))

    def member_of(markers: list[str]):
        # one-arg closure: a two-parameter lambda would be interpreted as
        # the (element, index) form of F.filter
        return lambda t: t.isin(markers)

    counts: dict[str, Column] = {
        lang: F.size(F.filter(toks, member_of(markers)))
        for lang, markers in LANG_MARKER_TOKENS.items()
    }
    counts["zh"] = F.size(F.regexp_extract_all(c, F.lit(ZH_CHAR_RE), F.lit(0)))
    best = F.greatest(*counts.values())
    expr = F.lit("und")
    for lang in reversed(sorted(counts)):  # ascending code order wins ties
        expr = F.when((counts[lang] > 0) & (counts[lang] == best), F.lit(lang)).otherwise(expr)
    return expr


def fingerprint(col: Column | str) -> Column:
    """Document fingerprint: md5 of whitespace-normalized lowercase text
    (cross-engine deterministic; xxhash64 is faster JVM-side but not
    reproducible in the oracle)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.regexp_replace(F.lower(F.trim(c)), r"\s+", " "))


def shingles(col: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles as an array<string> (input to MinHash).

    Built by zipping the token array with its own shifted slices
    (``zip_with`` evaluates each array argument once per row, then runs a
    cheap per-element concat). The obvious alternative — ``transform``
    over an index sequence with a lambda that slices the token array —
    re-evaluates the captured token subtree per element in Spark's
    interpreted higher-order-function path, which is quadratic in doc
    length (measured 20x slower at 54 tokens/doc)."""
    toks = tokens(col)
    sh = toks
    for k in range(1, n):
        shifted = F.slice(toks, k + 1, F.size(toks))
        sh = F.zip_with(sh, shifted, lambda a, b: F.concat(a, F.lit(" "), b))
    sh = F.slice(sh, 1, F.greatest(F.size(toks) - (n - 1), F.lit(1)))
    return F.when(F.size(toks) < n, F.array(F.concat_ws(" ", toks))).otherwise(sh)


def tfidf_top_terms(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """Top-``k`` terms per document by term frequency, with smoothed
    TF-IDF scores (idf = ln((N+1)/(df+1)) + 1, the sklearn convention).

    Ranking is by (tf DESC, term ASC) — integer + string keys only, so
    the cut is bit-for-bit reproducible across engines (ranking by the
    double-valued score itself would make the top-k boundary depend on
    ULP-level ln() differences between libm and the JVM). Scores are
    reported, not sorted on.

    Shape: one explode + (doc, term) count, a broadcast-joined term
    document-frequency table, and a per-doc window — two shuffles total
    (term counts, window by doc). At 100 TB the df table is the only
    corpus-global state and it is |vocabulary|-sized."""
    toks = tokens(text_col)
    term_rows = df.select(
        F.col(id_col).alias("doc_id"), F.explode(toks).alias("term")
    )
    # pin the postings: the document-frequency table and the ranked
    # join both read `tf` — without the checkpoint each re-runs the
    # corpus tokenize+explode (the BM25 postings precedent;
    # postings-sized, never text-sized)
    tf = (
        term_rows.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=True)
    )
    n_docs = df.count()
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log((F.lit(float(n_docs + 1))) / (F.col("df") + 1)) + 1
    w = W.partitionBy("doc_id").orderBy(F.col("tf").desc(), F.col("term").asc())
    return (
        tf.join(F.broadcast(dfreq), "term")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "doc_id",
            "rank",
            "term",
            "tf",
            F.round(F.col("tf") * idf, 6).alias("tfidf"),
        )
    )


def vocabulary_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", top: int = 100
) -> DataFrame:
    """Corpus vocabulary profile: the ``top`` terms by document
    frequency with collection frequency attached. One explode + one
    groupBy(term) with map-side partial aggregation; ordering by
    (doc_freq DESC, term ASC) is integer/string-deterministic."""
    term_rows = df.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(text_col)).alias("term")
    )
    return (
        term_rows.groupBy("term")
        .agg(
            F.countDistinct("doc_id").alias("doc_freq"),
            F.count(F.lit(1)).alias("coll_freq"),
        )
        .orderBy(F.col("doc_freq").desc(), F.col("term").asc())
        .limit(top)
    )


def nonblank_lines(col: Column | str) -> Column:
    """Non-blank trimmed lines as array<string>."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(
        F.transform(F.split(c, "\n"), lambda l: F.trim(l)), lambda l: l != ""
    )


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher/C4-style repetition & composition metrics per document —
    the standard heuristic pre-filters for LLM training corpora
    (Rae et al. "Scaling Language Models" appendix A1.1; Raffel et al.
    C4): duplicate-line fraction, mean word length, fraction of words
    with an alphabetic character, symbol-to-char ratio, and a combined
    pass/fail gate. All built-in array/regexp expressions (one narrow
    projection, no shuffle, no Python), reproducible in the oracle.
    """
    toks = tokens(text_col)
    lns = nonblank_lines(text_col)
    n_tok = F.size(toks).cast("double")
    n_lines = F.size(lns)
    dup_line_frac = F.when(
        n_lines > 0,
        F.lit(1.0) - F.size(F.array_distinct(lns)).cast("double") / n_lines,
    ).otherwise(F.lit(0.0))
    mean_word_len = F.when(
        n_tok > 0,
        F.aggregate(
            toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t)
        ).cast("double")
        / n_tok,
    ).otherwise(F.lit(0.0))
    alpha_word_frac = F.when(
        n_tok > 0,
        F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]"))).cast("double") / n_tok,
    ).otherwise(F.lit(0.0))
    n_char = F.length(F.col(text_col)).cast("double")
    symbol_ratio = F.when(
        n_char > 0,
        F.size(
            F.regexp_extract_all(F.col(text_col), F.lit(r"[#{}<>|\\]"), F.lit(0))
        ).cast("double")
        / n_char,
    ).otherwise(F.lit(0.0))
    passes = (
        (n_tok >= 5)
        & (dup_line_frac <= 0.3)
        & (mean_word_len >= 2)
        & (mean_word_len <= 12)
        & (alpha_word_frac >= 0.6)
        & (symbol_ratio <= 0.05)
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.size(toks).alias("n_tokens"),
        n_lines.alias("n_lines"),
        F.round(dup_line_frac, 6).alias("dup_line_frac"),
        F.round(mean_word_len, 6).alias("mean_word_len"),
        F.round(alpha_word_frac, 6).alias("alpha_word_frac"),
        F.round(symbol_ratio, 6).alias("symbol_ratio"),
        passes.alias("passes_gopher"),
    )


# PII patterns: kept to syntax shared by Java regex (Spark) and RE2
# (DuckDB) — no backreferences or lookaround — so detection and
# scrubbing are oracle-reproducible byte-for-byte.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+[0-9][0-9 ]{6,}[0-9]"


def pii_counts(col: Column | str) -> tuple[Column, Column]:
    """(n_emails, n_phones) found in the text."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.size(F.regexp_extract_all(c, F.lit(EMAIL_RE), F.lit(0))),
        F.size(F.regexp_extract_all(c, F.lit(PHONE_RE), F.lit(0))),
    )


def scrub_pii(col: Column | str) -> Column:
    """Text with emails/phone numbers replaced by typed placeholders —
    the masking step a training-data pipeline runs before tokenization.
    Pure regexp_replace: runs at scan speed, no Python."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(
        F.regexp_replace(c, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )


def doc_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Convenience projection with all text metrics attached."""
    return df.select(
        "*",
        token_count(text_col).alias("n_tokens"),
        char_count(text_col).alias("n_chars_m"),
        stopword_count(text_col).alias("n_stopwords"),
        punct_count(text_col).alias("n_punct"),
        quality_score(text_col).alias("quality"),
        lang_id(text_col).alias("lang_pred"),
        fingerprint(text_col).alias("fp"),
    )


# GPT-2-style pre-tokenizer, restricted to the Java-regex ∩ RE2 dialect
# (no lookahead): contraction suffixes, space-prefixed letter runs, digit
# runs, punctuation runs. The real thing would be a pandas_udf wrapping a
# trained BPE vocabulary; this is the deterministic plan-level stand-in
# for token-budget accounting over a corpus.
BPE_TOKEN_RE = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s']+"


def bpe_tokens(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(BPE_TOKEN_RE), F.lit(0))


def bpe_token_count(col: Column | str) -> Column:
    return F.size(bpe_tokens(col))


def winnowing_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    window: int = 4,
    hash_fn: str = "xx",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the
    MOSS scheme): hash every character k-gram of the normalized text,
    slide a window of ``window`` consecutive k-gram hashes, keep each
    window's minimum, emit the distinct survivors as (id, fp) rows.

    Guarantee: any match of length >= window + k - 1 between two
    documents shares at least one selected fingerprint, at ~1/window the
    storage of full k-gram sets — the local-sampling property that makes
    fingerprint indexes feasible at corpus scale (join docs on fp to get
    containment candidates; MinHash answers resemblance, winnowing
    answers containment/plagiarism).

    Plan shape: explode gram positions to rows, hash in whole-stage
    codegen, take the sliding minimum with a per-doc window frame
    (``ROWS BETWEEN CURRENT ROW AND window-1 FOLLOWING``), distinct.
    One shuffle, on the doc id, carrying (id, pos, hash) rows — O(chars)
    like the scan itself. An array-native formulation (transform +
    zip_with, no shuffle) was tried first and ran 8x slower even with
    linear-time sliding minima: higher-order functions evaluate on
    Spark's interpreted path, and per-element regex/hash there costs
    ~20us vs ~0.3us codegen'd. ``hash_fn='md5'`` (dedup.hash64) makes
    the whole pipeline DuckDB-reproducible for the oracle.
    """
    from pyspark.sql import Window as W

    from delta_rs_spark.functions.dedup import hash64

    h64 = hash64(hash_fn)
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    n_grams = F.greatest(F.length("__t") - (k - 1), F.lit(1))
    grams = df.select(F.col(id_col).alias("id"), norm.alias("__t")).select(
        "id",
        F.explode(F.sequence(F.lit(1), n_grams)).alias("__i"),
        n_grams.alias("__n"),
        "__t",
    )
    hashed = grams.select(
        "id",
        "__i",
        "__n",
        h64(F.col("__t").substr(F.col("__i"), F.lit(k))).alias("__h"),
    )
    frame = W.partitionBy("id").orderBy("__i").rowsBetween(0, window - 1)
    return (
        hashed.withColumn("__wm", F.min("__h").over(frame))
        .filter(F.col("__i") <= F.greatest(F.col("__n") - (window - 1), F.lit(1)))
        .select("id", F.col("__wm").alias("fp"))
        .distinct()
    )


def containment_scores(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    window: int = 4,
    threshold: float = 0.5,
    hash_fn: str = "xx",
) -> DataFrame:
    """Benchmark decontamination: for every (corpus doc, benchmark doc)
    pair sharing winnowing fingerprints, the containment score
    |shared fps| / |benchmark fps| — the fraction of the benchmark doc's
    fingerprint set present in the training doc. Pairs at or above
    ``threshold`` are the contamination report a pretraining pipeline
    acts on (cf. the winnowing guarantee: any shared passage of length
    >= window + k - 1 contributes a shared fingerprint, so containment
    degrades gracefully with partial overlap rather than needing exact
    match).

    Scale shape: the benchmark side is tiny by definition (eval suites,
    not corpora), so its fingerprint set and per-doc sizes are BROADCAST
    — the 100 TB corpus side streams through scan -> fingerprint ->
    broadcast-hash-join -> one groupBy on (corpus_id, bench_id), whose
    cardinality is bounded by candidate pairs, not the corpus. No
    corpus-side shuffle beyond the fingerprint window (one, on doc id).
    """
    fps_c = winnowing_fingerprints(corpus, text_col, id_col, k, window, hash_fn)
    # the benchmark fingerprint set is read twice (per-doc sizes + the
    # broadcast join) and the benchmark side is often a FILTER of the
    # corpus table — pin it so the second reference never re-scans the
    # corpus text (tiny by definition: eval suites, not corpora)
    fps_b = winnowing_fingerprints(
        benchmark, text_col, id_col, k, window, hash_fn
    ).localCheckpoint(eager=True)
    sizes_b = fps_b.groupBy("id").agg(F.count(F.lit(1)).alias("__bn"))
    bench = fps_b.withColumnRenamed("id", "bench_id").join(
        sizes_b.withColumnRenamed("id", "bench_id"), "bench_id"
    )
    shared = fps_c.withColumnRenamed("id", "corpus_id").join(
        F.broadcast(bench), "fp"
    )
    return (
        shared.groupBy("corpus_id", "bench_id")
        .agg(
            F.count(F.lit(1)).alias("n_shared"),
            F.first("__bn").alias("__bn"),
        )
        .withColumn(
            "containment", F.round(F.col("n_shared") / F.col("__bn"), 4)
        )
        .filter(F.col("containment") >= threshold)
        .select("corpus_id", "bench_id", "n_shared", "containment")
    )


def unigram_logprob(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    MLE unigram model — the classic cheap LM-quality signal (gibberish
    and boilerplate score low; fluent text built from common tokens
    scores high). p(t) = count(t) / total_tokens over the corpus; score
    = mean over the doc's tokens of ln p(t). No smoothing needed: the
    model is fit on the corpus being scored, so every token has count
    >= 1.

    Scale shape: one explode + groupBy(term) builds the count table
    (map-side partial agg makes it |vocab|-sized); it is broadcast back
    onto the exploded tokens, then one groupBy(doc) takes the mean. At
    100 TB the vocab table is the only corpus-global state; if the raw
    vocab outgrew the broadcast ceiling the standard move is frequency
    pruning with an OOV floor probability, which changes this function's
    model, not its plan.
    """
    # Reduce to per-doc term frequencies FIRST and materialize them once:
    # tf feeds both the vocab count-table and the scoring join, and the
    # raw exploded token stream (the expensive regex/split pass over
    # every doc) should be paid once, not once per consumer. The mean
    # over tokens is the tf-weighted mean over distinct (doc, term) rows.
    # At cluster scale this localCheckpoint is persist(DISK) of the tf
    # table — the standard two-pass LM-scoring shape.
    tf = (
        df.select(F.col(id_col).alias("doc_id"), F.explode(tokens(text_col)).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=True)
    )
    counts = tf.groupBy("term").agg(F.sum("tf").alias("cnt"))
    total = counts.agg(F.sum("cnt")).collect()[0][0]  # one scalar, driver-held like tfidf's n_docs
    scored = tf.join(F.broadcast(counts), "term")
    return scored.groupBy("doc_id").agg(
        F.sum("tf").alias("n_tokens"),
        F.round(
            F.sum(F.col("tf") * F.log(F.col("cnt") / F.lit(float(total))))
            / F.sum("tf"),
            4,
        ).alias("mean_logprob"),
    )


def source_mix(df: DataFrame, text_col: str = "text", source_col: str = "source") -> DataFrame:
    """Corpus composition report per source: doc/token/char totals and
    each source's share of the corpus token budget — the table a data-mix
    decision (upsample source X, cap source Y) reads from.

    Scale shape: one groupBy(source) with map-side partial aggregation
    reduces the corpus to |sources| rows; the share is a second,
    |sources|-sized aggregation — corpus size only enters the first
    pass.

    Cache lifetime: the returned plan reads a lazily persist()-pinned
    |sources|-row frame; the pin lives until released — long-lived
    sessions composing many queries should call
    ``session.drop_cached_intermediates`` once results are consumed."""
    # Lazily pinned (persist, no job at construction): the share
    # denominator and the final join both read per_source; without the
    # pin column pruning re-runs the corpus tokenize+count under the
    # denominator branch (|sources| rows, so the pin is free — exchange
    # reuse can't fire across the pruned branches)
    per_source = df.groupBy(F.col(source_col).alias("source")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(text_col)).alias("n_tokens"),
        F.sum(char_count(text_col)).alias("n_chars"),
    ).persist()
    # share denominator as a broadcast 1-row cross join, not an
    # unpartitioned window (same result; no single-partition exchange of
    # the per-source table, and no WindowExec warning noise)
    total = per_source.agg(F.sum("n_tokens").alias("__tot"))
    return per_source.crossJoin(F.broadcast(total)).select(
        "source",
        "n_docs",
        "n_tokens",
        "n_chars",
        F.round(F.col("n_tokens") / F.col("__tot"), 6).alias("token_share"),
        F.round(F.col("n_tokens") / F.col("n_docs"), 2).alias("tokens_per_doc"),
    )


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
    min_chars: int = 10,
) -> DataFrame:
    """Line-level exact dedup across the corpus (the RefinedWeb/CCNet
    boilerplate pass): any normalized line of >= ``min_chars`` chars that
    appears in >= ``min_docs`` distinct documents (nav bars, cookie
    banners, license footers) is removed from EVERY document; short lines
    are never candidates. Returns one row per input doc:
    (doc_id, n_lines, n_removed, clean_text) with surviving lines
    rejoined in original order.

    Scale shape: explode is map-side; the duplicated-line table is ONE
    groupBy(norm) with map-side partial agg (count-distinct over doc ids
    per line); membership is a join back on norm — left as a shuffle
    join so AQE can broadcast it when small and skew-split the
    boilerplate norms when not (exactly the keys this op exists to
    find); reassembly is one groupBy(doc_id). Three shuffles total, all
    on keys the operator is defined over. The line table is never
    collected to the driver.
    """
    norm = F.regexp_replace(F.lower(F.trim(F.col("line"))), r"\s+", " ")
    lines = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(F.split(F.col(text_col), "\n")).alias("line_no", "line"),
        )
        .withColumn("norm", norm)
    )
    dup = (
        lines.filter(F.length("norm") >= min_chars)
        .groupBy("norm")
        .agg(F.countDistinct("doc_id").alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("norm", F.lit(True).alias("is_dup"))
    )
    marked = lines.join(dup, "norm", "left").withColumn(
        "is_dup", F.coalesce(F.col("is_dup"), F.lit(False))
    )
    kept_sorted = F.array_sort(
        F.collect_list(
            F.when(~F.col("is_dup"), F.struct("line_no", "line"))
        )
    )
    return marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(F.col("is_dup").cast("long")).alias("n_removed"),
        F.array_join(
            F.transform(kept_sorted, lambda s: s["line"]), "\n"
        ).alias("clean_text"),
    )


MAX_DOC_TOKENS = 100_000


def ingest_gate(
    lang_pred: Column,
    quality: Column,
    n_tokens: Column,
    lang: str,
    min_quality: float,
    min_tokens: int,
    max_tokens: int = MAX_DOC_TOKENS,
) -> list[tuple[str, Column]]:
    """The ingest gate's content filters over a doc's language, quality
    and token-count signals, as ordered ``(reason, failing condition)``
    pairs. corpus_filter_report labels a doc with the first reason whose
    condition holds; process_corpus_batch keeps a doc when none does."""
    return [
        ("lang", lang_pred != lang),
        ("low_quality", quality < min_quality),
        ("too_short", n_tokens < min_tokens),
        ("too_long", n_tokens > max_tokens),
    ]


def corpus_filter_report(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang: str = "en",
    min_quality: float = 0.5,
    min_tokens: int = 20,
    max_tokens: int = MAX_DOC_TOKENS,
) -> DataFrame:
    """The composed pretraining-ingest gate: exact-dedup canonical
    election + language filter + quality floor + Gopher-style length
    bounds, reported per doc with the FIRST failing reason (the order
    real pipelines apply them: dedup before content filters so dup
    groups are charged once). Returns every input doc —
    (doc_id, lang_pred, quality, n_tokens, is_canonical, reason) — so
    downstream can both select `reason = 'kept'` and audit the funnel.

    Scale shape: every signal (lang counts, quality ratios, token count,
    fingerprint) is one codegen'd scan pass; canonical election is a
    min(doc_id) window over fingerprint — the single shuffle, on the
    dedup key. No joins, no driver state.
    """
    base = df.select(
        F.col(id_col).alias("doc_id"),
        lang_id(text_col).alias("lang_pred"),
        quality_score(text_col).alias("quality"),
        token_count(text_col).cast("long").alias("n_tokens"),
        fingerprint(text_col).alias("__fp"),
    )
    keep_id = F.min("doc_id").over(W.partitionBy("__fp"))
    reason = F.when(F.col("doc_id") != keep_id, F.lit("duplicate"))
    for why, fails in ingest_gate(
        F.col("lang_pred"), F.col("quality"), F.col("n_tokens"),
        lang, min_quality, min_tokens, max_tokens,
    ):
        reason = reason.when(fails, F.lit(why))
    reason = reason.otherwise(F.lit("kept"))
    return base.select(
        "doc_id",
        "lang_pred",
        "quality",
        "n_tokens",
        (F.col("doc_id") == keep_id).alias("is_canonical"),
        reason.alias("reason"),
    )


def bigram_logprob(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document mean bigram log-probability under the corpus's own
    MLE bigram model: p(w2|w1) = c(w1,w2) / c_ctx(w1), score = mean over
    the doc's bigrams of ln p. One model order above unigram_logprob
    and the cheapest signal that catches scrambled-but-common-word text
    (high unigram score, low bigram score). No smoothing needed: the
    model is fit on the corpus being scored. Docs with < 2 tokens have
    no bigrams and drop out, like the reference behavior of any n-gram
    scorer.

    Scale shape: bigram pairs come straight off the token ARRAY
    (zip_with against its own tail — no positional self-join); the rest
    is the unigram plan one order up: per-doc tf reduced first and
    materialized once, count tables built from tf with map-side partial
    agg, broadcast back, one groupBy(doc) for the mean. The bigram
    vocab is the only corpus-global state; at 100 TB it gets frequency
    pruning + an OOV floor, changing the model, not the plan.
    """
    arr = tokens(text_col)
    pairs = F.filter(
        F.zip_with(
            arr,
            F.slice(arr, 2, F.greatest(F.size(arr), F.lit(1))),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
        lambda s: s["w2"].isNotNull(),
    )
    tf = (
        df.select(F.col(id_col).alias("doc_id"), F.explode(pairs).alias("bg"))
        .select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .groupBy("doc_id", "w1", "w2")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=True)
    )
    c2 = tf.groupBy("w1", "w2").agg(F.sum("tf").alias("c"))
    c1 = c2.groupBy("w1").agg(F.sum("c").alias("cc"))
    scored = tf.join(F.broadcast(c2), ["w1", "w2"]).join(F.broadcast(c1), "w1")
    return scored.groupBy("doc_id").agg(
        F.sum("tf").alias("n_bigrams"),
        F.round(
            F.sum(F.col("tf") * F.log(F.col("c") / F.col("cc"))) / F.sum("tf"),
            4,
        ).alias("mean_logprob"),
    )


def classifier_auc(
    scored: DataFrame,
    score_col: str = "score",
    label_col: str = "y",
    max_distinct_scores: int | None = 2_000_001,
) -> DataFrame:
    """Exact ROC-AUC of a classifier score against a binary label — the
    eval a pipeline runs before trusting a learned quality/topic filter
    at corpus scale. Uses the rank-sum identity with AVERAGE ranks for
    ties, in doubled-rank integer form: per distinct score s,
    rank2(s) = 2·|{rows below s}| + n(s) + 1 (= min_rank + max_rank of
    the tie group), num2 = Σ_pos rank2 − P(P+1), AUC = num2 / (2·P·N).
    Everything up to the final division is exact integer arithmetic;
    the division is reproduced with identical IEEE association in the
    oracle and reported on the integer micro-grid.

    Scale shape: ONE groupBy(score) aggregation (map-side combined),
    then a window over DISTINCT scores — classifier scores in this repo
    live on a snapped 1e-6 sigmoid grid, so the window input is
    grid-bounded, not corpus-bounded; the result is a single row
    (n_pos, n_neg, auc). The grid precondition is ENFORCED, not
    assumed: if the caller's score column carries more than
    ``max_distinct_scores`` distinct values (an unsnapped raw float
    would make the global rank window corpus-bounded — one task
    sorting every distinct score), scores are binned to
    ``max_distinct_scores`` equal-width bins over [min, max] first and
    the result is a binned-AUC approximation (bin resolution ~5e-7 on
    a [0, 1] score at the default bound — far below any decision
    threshold's precision). The enforcement is folded into the
    returned PLAN (a broadcast 1-row stats frame + a conditional
    re-bin of the distinct-score table), so the function stays purely
    compositional — no driver job runs until the caller executes the
    frame, and the conditional pass runs over the already-reduced
    distinct-score table, never the corpus. Pass
    ``max_distinct_scores=None`` to skip the check entirely when the
    producer guarantees a snapped grid. Degenerate labels (P=0 or N=0)
    yield NULL auc rather than a misleading number.

    Cache lifetime: with the guard enabled the returned plan reads a
    lazily persist()-pinned grid-bounded frame (both guard branches
    share it); long-lived sessions composing many queries should call
    ``session.drop_cached_intermediates`` once results are consumed."""
    g = (
        scored.groupBy(F.col(score_col).alias("s"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col(label_col).cast("long")).alias("n_pos"),
        )
    )
    if max_distinct_scores is not None:
        # In-plan enforcement: the 1-row (nd, lo, hi) stats frame is
        # broadcast onto the distinct-score table; when nd exceeds the
        # bound every score is re-centered to its equal-width bin,
        # otherwise the when() resolves to the identity. Both the stats
        # agg and the conditional re-bin read the already-reduced
        # distinct-score table (grid- or bound-sized), not the corpus —
        # but each would re-RUN the corpus-to-grid reduction (column
        # pruning defeats exchange reuse between the two branches), so
        # pin the grid-bounded table and scan the corpus once. persist()
        # (NOT localCheckpoint — under AQE even a lazy checkpoint
        # executes the upstream stages at call time, breaking the
        # documented "no job until the caller executes" contract that
        # test_classifier_auc_is_lazy pins): no job at construction,
        # and the broadcast stats job populates the cache before the
        # main job reads it.
        g = g.persist()
        stats = g.agg(
            F.count(F.lit(1)).alias("__nd"),
            F.min("s").alias("__lo"),
            F.max("s").alias("__hi"),
        )
        width = (F.col("__hi") - F.col("__lo")) / F.lit(float(max_distinct_scores))
        bin_idx = F.least(
            F.floor((F.col("s") - F.col("__lo")) / width),
            F.lit(max_distinct_scores - 1),
        )
        s_checked = F.when(
            F.col("__nd") > F.lit(max_distinct_scores),
            F.col("__lo") + (bin_idx + F.lit(0.5)) * width,
        ).otherwise(F.col("s"))
        g = (
            g.crossJoin(F.broadcast(stats))
            .select(s_checked.alias("s"), "n", "n_pos")
            .groupBy("s")
            .agg(F.sum("n").alias("n"), F.sum("n_pos").alias("n_pos"))
        )
    w = W.orderBy(F.asc("s")).rowsBetween(W.unboundedPreceding, -1)
    rank2 = F.lit(2) * F.coalesce(F.sum("n").over(w), F.lit(0)) + F.col("n") + F.lit(1)
    agg = g.select(
        "n", "n_pos", (F.col("n_pos") * rank2).alias("pos_rank2")
    ).agg(
        F.sum("n_pos").alias("p"),
        (F.sum("n") - F.sum("n_pos")).alias("nneg"),
        F.sum("pos_rank2").alias("sum_pos_rank2"),
    )
    num2 = F.col("sum_pos_rank2") - F.col("p") * (F.col("p") + F.lit(1))
    denom = F.lit(2) * F.col("p") * F.col("nneg")
    auc = F.when(
        (F.col("p") > 0) & (F.col("nneg") > 0),
        F.round(
            num2.cast("double") * F.lit(1e6) / denom.cast("double")
        ).cast("long")
        / F.lit(1e6),
    )
    return agg.select(
        F.col("p").cast("long").alias("n_pos"),
        F.col("nneg").cast("long").alias("n_neg"),
        auc.alias("auc"),
    )


def source_divergence(
    df: DataFrame,
    vocab_size: int = 128,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Per-source distribution drift: KL(p_source || p_corpus) over the
    top-``vocab_size`` corpus vocabulary with add-one smoothing — the
    data-mix diagnostic that catches a source whose content shifted
    between ingests (crawl drift, upstream re-scrape, pipeline bug)
    before it contaminates a training mix. Output: one row per source
    with doc/token totals and the divergence.

    Determinism: per-(source,term) ln(ratio) snapped to a 1e-6 grid,
    multiplied by the exact-rational p_source and BIGINT-quantized on a
    1e9 grid; the per-source sum is integer; the reported kl is derived
    from it on an integer micro-grid (no round(x,6) half-boundary
    exposure).

    Scale shape: one explode + (source, term) count shuffle, a
    vocabulary-sized corpus table broadcast back, a |sources|-row
    result. Corpus-global state = the vocab table; nothing row-scaled
    crosses the driver."""
    term_rows = df.select(
        F.col(source_col).alias("source"), F.explode(tokens(text_col)).alias("term")
    )
    st = term_rows.groupBy("source", "term").agg(F.count(F.lit(1)).alias("n_st"))
    corpus = st.groupBy("term").agg(F.sum("n_st").alias("n_t"))
    # vocab_size rows — persisted because three consumers (the scalar
    # total below, the in-vocab filter, the smoothing grid) would each
    # re-run the corpus-sized explode+count underneath it otherwise
    # (r12: the plan carried 14 scans of the docs table)
    vocab = (
        corpus.orderBy(F.col("n_t").desc(), F.col("term").asc())
        .limit(vocab_size)
        .persist()
    )
    tot_corpus = float(
        vocab.agg(F.sum("n_t")).first()[0]
    )  # one scalar (vocab-sized agg); also materializes the persist
    v = float(vocab_size)

    # per-source in-vocab token totals (needed for p_source smoothing).
    # Driven from the DOCS table with a left join, not from the vocab
    # join: a source whose tokens are ALL outside the top vocabulary —
    # the maximally drifted source, exactly the one the report exists
    # to surface — must appear with n_s = 0 (pure-smoothing KL), not
    # silently vanish from the result.
    docs = df.groupBy(F.col(source_col).alias("source")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    # <= |sources| x vocab_size rows — persisted: referenced by both the
    # per-source totals and the smoothing grid, each reference otherwise
    # re-running the corpus pass under ``st``
    sv = st.join(F.broadcast(vocab.select("term")), "term").persist()
    stot = (
        docs.select("source")
        .join(sv.groupBy("source").agg(F.sum("n_st").alias("n_s")), "source", "left")
        .select("source", F.coalesce("n_s", F.lit(0).cast("long")).alias("n_s"))
    )

    # grid: every source x every vocab term (absent terms still
    # contribute their smoothed mass) — |sources| x vocab_size rows
    grid = (
        stot.crossJoin(F.broadcast(vocab))
        .join(sv, ["source", "term"], "left")
        .select(
            "source",
            "n_s",
            "term",
            "n_t",
            F.coalesce("n_st", F.lit(0)).alias("n_st"),
        )
    )
    p_src = (F.col("n_st").cast("double") + F.lit(1.0)) / (
        F.col("n_s").cast("double") + F.lit(v)
    )
    p_cor = (F.col("n_t").cast("double") + F.lit(1.0)) / F.lit(tot_corpus + v)
    lam = F.round(F.log(p_src / p_cor) * F.lit(1e6)) / F.lit(1e6)
    contrib_q = F.round(p_src * lam * F.lit(1e9)).cast("long")
    per_source = grid.groupBy("source").agg(
        F.max("n_s").alias("n_vocab_tokens"),
        F.sum(contrib_q).alias("kl_q"),
    )
    kl = F.round(F.col("kl_q").cast("double") / F.lit(1000.0)).cast("long") / F.lit(
        1e6
    )
    return (
        per_source.join(docs, "source")
        .select("source", "n_docs", "n_vocab_tokens", kl.alias("kl"))
    )


def perplexity_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): score every
    document with the corpus-fit bigram LM (``bigram_logprob``), rank
    WITHIN its source, and label head / middle / tail thirds — the
    standard "keep head+middle for pretraining, route tail to heavier
    filtering" split. Ranking per source, not globally, for the same
    reason as ``calibrate_quality_per_source``: LM scores are not
    comparable across domains, and a global cut would crush whichever
    domain the LM models worst.

    Docs with < 2 tokens have no bigrams and are excluded (the LM cannot
    score them), matching bigram_logprob.

    Determinism: mean_logprob is bigram_logprob's 4dp output; the
    ordering key is (mean_logprob DESC, id ASC) and bucket fences are
    exact-rational percent_rank comparisons — the oracle replays model
    fit, scoring, ranking and labeling.

    Scale shape: bigram_logprob's plan (one doc-keyed reduction +
    broadcast count tables) plus a doc-keyed equi-join to re-attach the
    narrow (id, source) label column and ONE window shuffle keyed by
    source. Nothing new crosses the driver."""
    scored = bigram_logprob(df, text_col, id_col)
    labeled = scored.join(
        df.select(F.col(id_col).alias("doc_id"), F.col(source_col).alias("source")),
        "doc_id",
    )
    w = W.partitionBy("source").orderBy(
        F.col("mean_logprob").desc(), F.col("doc_id").asc()
    )
    pct = F.round(F.percent_rank().over(w), 6)
    bucket = (
        F.when(pct < F.lit(1.0) / F.lit(3.0), F.lit("head"))
        .when(pct < F.lit(2.0) / F.lit(3.0), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return labeled.select(
        "doc_id",
        "source",
        "mean_logprob",
        pct.alias("pct"),
        bucket.alias("bucket"),
    )


def corpus_profile(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The dataset-card summary table: one (metric, value) row per
    corpus-level statistic — doc/token/char totals, token-count
    quantiles, mean quality, exact-duplicate rate. The numbers a data
    release publishes and a pipeline regression-checks between ingests.

    Scale shape: one full-scan aggregate computes every per-doc-derived
    metric (percentile_approx for the quantiles — the only approximate
    member, by design at 100 TB), plus one fingerprint distinct-count
    for the dup rate; two jobs total, outputs are O(1) rows.
    """
    stats = df.select(
        token_count(text_col).cast("double").alias("__tok"),
        char_count(text_col).cast("double").alias("__chr"),
        quality_score(text_col).alias("__q"),
    )
    # countDistinct is aggregated SEPARATELY: mixed with percentile_approx
    # in one agg, Spark's distinct rewrite groups by fp first and drags
    # three QuantileSummaries buffers through every fingerprint group —
    # measured 2.9s vs 0.7s for the split form at sf0.1
    fp_agg = df.select(fingerprint(text_col).alias("__fp")).agg(
        F.countDistinct("__fp").cast("double").alias("n_unique_fp")
    )
    agg = stats.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.sum("__tok").alias("total_tokens"),
        F.sum("__chr").alias("total_chars"),
        F.percentile_approx("__tok", 0.5).cast("double").alias("tokens_p50"),
        F.percentile_approx("__tok", 0.9).cast("double").alias("tokens_p90"),
        F.percentile_approx("__tok", 0.99).cast("double").alias("tokens_p99"),
        F.round(F.avg("__q"), 6).alias("mean_quality"),
    ).crossJoin(fp_agg).withColumn(
        "dup_rate",
        F.round((F.col("n_docs") - F.col("n_unique_fp")) / F.col("n_docs"), 6),
    )
    metrics = [
        "n_docs", "total_tokens", "total_chars", "tokens_p50", "tokens_p90",
        "tokens_p99", "mean_quality", "dup_rate",
    ]
    return agg.select(
        F.explode(
            F.map_from_arrays(
                F.array(*[F.lit(m) for m in metrics]),
                F.array(*[F.col(m) for m in metrics]),
            )
        ).alias("metric", "value")
    )


def quality_feature_frame(
    df: DataFrame,
    label: Column,
    text_col: str = "text",
    id_cols: list[str] | None = None,
) -> DataFrame:
    """The quality classifier's feature projection, computed ONCE:
    (id_cols..., y, x1, x2, x3) — 3 doubles + label + ids per document
    vs the kilobytes of text they summarize. Training iterates and
    scoring re-reads the SAME features; materializing this narrow frame
    (caller persists) turns k+1 regex-heavy corpus text passes into one
    (guide §8: decide on a lightweight proxy, touch the heavy bytes
    once). Values are bit-identical to the inline expressions
    train/score build themselves."""
    c = F.col(text_col)
    n_tok = token_count(c).cast("double")
    n_char = char_count(c).cast("double")
    sw = stopword_count(c).cast("double")
    pn = punct_count(c).cast("double")
    # None means "default to doc_id"; an explicit [] means "no id
    # columns" (the inline train path passes [] for frames that may
    # lack doc_id entirely — `or` would conflate the two)
    cols = [F.col(c_) for c_ in (["doc_id"] if id_cols is None else id_cols)]
    return df.select(
        *cols,
        F.when(label, F.lit(1.0)).otherwise(F.lit(0.0)).alias("y"),
        F.least(n_tok / F.lit(64.0), F.lit(1.0)).alias("x1"),
        F.least(sw / F.greatest(n_tok, F.lit(1.0)) * F.lit(4.0), F.lit(1.0)).alias("x2"),
        F.least(pn / F.greatest(n_char, F.lit(1.0)) * F.lit(10.0), F.lit(1.0)).alias("x3"),
    )


def train_quality_classifier(
    df: DataFrame,
    label: Column,
    text_col: str = "text",
    n_iter: int = 2,
    lr: float = 0.5,
    features: DataFrame | None = None,
) -> list[float]:
    """Distributed logistic regression over the text-quality features
    (bias, length score, stopword score, punctuation density) — the
    "train a quality filter on the cluster" step pipelines run with a
    curated seed set as the label (here any boolean Column; the gate
    query uses lang='en' as a stand-in). Full-batch gradient descent
    with a FIXED iteration count, built deterministic for cross-engine
    replay (same discipline as similarity.kmeans):

    - the sigmoid is snapped to a 1e-6 grid, the one place a non-IEEE
      op (exp, 1-ulp implementation freedom) enters; everything else is
      IEEE-exact arithmetic both engines reproduce bit-for-bit;
    - per-row gradient contributions are quantized to BIGINT on a 1e9
      grid before the sum, so partial aggregation is order-independent
      (the q9 integer-cents pattern);
    - weight updates happen driver-side on the k+1 integer sums — the
      model, not the data, crosses the driver boundary (one narrow agg
      per iteration).

    ``features``: a pre-built ``quality_feature_frame`` (must carry y,
    x1, x2, x3; typically persisted by the caller and shared with
    scoring) — each GD iteration then aggregates the narrow cached
    frame instead of re-running the regex feature extraction over the
    corpus text. Identical arithmetic either way. When ``features`` is
    given, ``df``, ``label`` and ``text_col`` are UNUSED — the frame's
    own y column is the label; required columns are validated up front.

    Returns [w0 (bias), w_len, w_stop, w_punct]."""
    if features is not None:
        missing = {"y", "x1", "x2", "x3"} - set(features.columns)
        if missing:
            raise ValueError(
                f"features frame is missing column(s) {sorted(missing)}; "
                "pass a quality_feature_frame(...) result"
            )
        feats = features.select("y", "x1", "x2", "x3")
    else:
        feats = quality_feature_frame(df, label, text_col, id_cols=[]).select(
            "y", "x1", "x2", "x3"
        )
    w = [0.0, 0.0, 0.0, 0.0]
    xs = [F.lit(1.0), F.col("x1"), F.col("x2"), F.col("x3")]
    for _ in range(n_iter):
        z = (
            F.lit(w[0])
            + F.lit(w[1]) * F.col("x1")
            + F.lit(w[2]) * F.col("x2")
            + F.lit(w[3]) * F.col("x3")
        )
        p = F.round((F.lit(1.0) / (F.lit(1.0) + F.exp(-z))) * F.lit(1e6)) / F.lit(1e6)
        d = p - F.col("y")
        aggs = [F.count(F.lit(1)).alias("n")]
        aggs.append(F.sum(F.round(d * F.lit(1e9)).cast("long")).alias("s0"))
        for j in (1, 2, 3):
            aggs.append(
                F.sum(F.round((d * xs[j]) * F.lit(1e9)).cast("long")).alias(f"s{j}")
            )
        row = feats.agg(*aggs).collect()[0]
        n = float(row["n"])
        w = [w[j] - lr * (float(row[f"s{j}"]) / 1e9 / n) for j in range(4)]
    return w


def score_quality_classifier(
    df: DataFrame,
    weights: list[float],
    text_col: str = "text",
    id_cols: list[str] | None = None,
    features: DataFrame | None = None,
) -> DataFrame:
    """Score documents with a trained quality classifier: (id_cols...,
    score, is_quality) where score = sigmoid(w.x) rounded to 6dp and
    is_quality fences at 0.5 on the ROUNDED score (so the boolean is as
    replayable as the score). One codegen map pass, no shuffle.

    ``features``: a pre-built ``quality_feature_frame`` (shared with
    training) — ``id_cols`` then names the feature-frame columns to
    carry through (e.g. ["doc_id", "y"]), and ``df``/``text_col`` are
    UNUSED (the text column is never re-read). Identical arithmetic
    either way."""
    if features is not None:
        missing = {"x1", "x2", "x3"} - set(features.columns)
        if missing:
            raise ValueError(
                f"features frame is missing column(s) {sorted(missing)}; "
                "pass a quality_feature_frame(...) result"
            )
        x1, x2, x3 = F.col("x1"), F.col("x2"), F.col("x3")
        src = features
    else:
        c = F.col(text_col)
        n_tok = token_count(c).cast("double")
        n_char = char_count(c).cast("double")
        sw = stopword_count(c).cast("double")
        pn = punct_count(c).cast("double")
        x1 = F.least(n_tok / F.lit(64.0), F.lit(1.0))
        x2 = F.least(sw / F.greatest(n_tok, F.lit(1.0)) * F.lit(4.0), F.lit(1.0))
        x3 = F.least(pn / F.greatest(n_char, F.lit(1.0)) * F.lit(10.0), F.lit(1.0))
        src = df
    z = (
        F.lit(weights[0])
        + F.lit(weights[1]) * x1
        + F.lit(weights[2]) * x2
        + F.lit(weights[3]) * x3
    )
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    cols = [F.col(c_) for c_ in (["doc_id"] if id_cols is None else id_cols)]
    return src.select(
        *cols, score.alias("score"), (score >= F.lit(0.5)).alias("is_quality")
    )


# ---------------------------------------------------------------------------
# Feature-hashed n-gram classifier (fastText-style hashing trick)
# ---------------------------------------------------------------------------

def _md5_bucket(col: Column, n_buckets: int) -> Column:
    """60-bit md5-derived hash mod n_buckets — the dedup.hash64("md5")
    formula inlined (text.py cannot import dedup without a cycle);
    DuckDB reproduces it as ('0x' || substr(md5(g),1,15))::BIGINT % D."""
    return F.pmod(
        F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long"),
        F.lit(n_buckets),
    )


def hashed_ngram_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
) -> DataFrame:
    """Sparse hashed bag-of-n-grams: unigrams + word bigrams hashed into
    ``n_buckets`` buckets (the fastText/Vowpal hashing trick — fixed
    model width, no vocabulary pass, collisions are the accepted noise).
    Returns (id, bucket, x) with x = bucket count / total grams in doc,
    PLUS one bias row (bucket = -1, x = 1.0) for every doc — the model's
    intercept is just another feature, which makes every doc reachable
    through the frame (empty docs included) and lets the trainer and
    scorer run logit + gradient in single uniform aggregations.

    Scale shape: one explode of the gram array and ONE shuffle keyed by
    (id, bucket); the per-doc total rides alongside the explode instead
    of a second window pass. Callers that reuse the frame across
    training iterations and scoring should persist it — it is
    docs x <=n_buckets+1 rows, far smaller than the text it came from."""
    c = F.col(text_col)
    toks = tokens(c)
    bi = F.slice(
        F.zip_with(
            toks,
            F.slice(toks, 2, F.size(toks)),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
        1,
        F.greatest(F.size(toks) - 1, F.lit(0)),
    )
    grams = F.concat(toks, bi)
    feats = (
        df.select(
            F.col(id_col).alias("id"),
            F.size(grams).alias("__tot"),
            F.explode(grams).alias("__g"),
        )
        .groupBy("id", _md5_bucket(F.col("__g"), n_buckets).alias("bucket"))
        .agg(
            (
                F.count(F.lit(1)).cast("double")
                / F.max("__tot").cast("double")
            ).alias("x")
        )
    )
    bias_rows = df.select(
        F.col(id_col).alias("id"),
        F.lit(-1).cast("long").alias("bucket"),
        F.lit(1.0).alias("x"),
    )
    return feats.select("id", F.col("bucket").cast("long").alias("bucket"), "x").union(
        bias_rows
    )


def _hashed_weight(bias: float, weights: list[float]) -> Column:
    """Per-row model weight: the bias for the intercept row (bucket -1),
    else the bucket's weight from the literal array."""
    wlit = F.array(*[F.lit(v) for v in weights])
    return F.when(F.col("bucket") == -1, F.lit(bias)).otherwise(
        F.element_at(wlit, F.col("bucket").cast("int") + 1)
    )


def _hashed_logit_q(bias: float, weights: list[float]) -> Column:
    """BIGINT-quantized per-row logit contribution round(w*x*1e9) — the
    full logit (bias included, via the intercept row) is the exact
    integer sum of these, so partial aggregation is order-independent
    and DuckDB replays it bit-for-bit."""
    return F.round(_hashed_weight(bias, weights) * F.col("x") * F.lit(1e9)).cast(
        "long"
    )


def _hashed_residual(bias: float, weights: list[float]) -> Column:
    """p - y for each (features ⋈ label) row: p is the sigmoid, snapped
    to the 1e-6 grid, of the doc's logit, an id-window sum of the
    quantized per-row contributions."""
    zq = F.sum(_hashed_logit_q(bias, weights)).over(W.partitionBy("id"))
    z = zq.cast("double") / F.lit(1e9)
    p = F.round((F.lit(1.0) / (F.lit(1.0) + F.exp(-z))) * F.lit(1e6)) / F.lit(1e6)
    return p - F.col("y")


def _hashed_step(
    spy: DataFrame, d: Column, bias: float, weights: list[float], lr: float
) -> tuple[float, list[float]]:
    """One gradient-descent step from (bias, weights) with residual
    ``d``: per-bucket gradient sums on the 1e9 integer grid (one job),
    then the update on the driver."""
    grows = (
        spy.select(
            "bucket",
            F.round((d * F.col("x")) * F.lit(1e9)).cast("long").alias("__gq"),
        )
        .groupBy("bucket")
        .agg(F.sum("__gq").alias("s"), F.count(F.lit(1)).alias("c"))
        .collect()
    )
    # the intercept row count IS the doc count (one bias row per doc)
    n = next(float(r["c"]) for r in grows if int(r["bucket"]) == -1)
    w = list(weights)
    for r in grows:
        b = int(r["bucket"])
        if b == -1:
            bias = bias - lr * (float(r["s"]) / 1e9 / n)
        else:
            w[b] = w[b] - lr * (float(r["s"]) / 1e9 / n)
    return bias, w


def train_hashed_classifier(
    df: DataFrame,
    label: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
    n_iter: int = 2,
    lr: float = 0.5,
    features: DataFrame | None = None,
) -> tuple[float, list[float]]:
    """Distributed logistic regression over hashed n-gram features — the
    fastText-shaped "train a topic/quality filter from a labeled seed
    set" step, with a model that is a fixed-width dense vector instead
    of train_quality_classifier's four hand-crafted signals. Same
    cross-engine GD discipline as that function: sigmoid snapped to a
    1e-6 grid; every data-dependent sum (the per-doc logit AND the
    per-bucket gradients, bias included via the intercept row) quantized
    to BIGINT on a 1e9 grid so partial aggregation is order-independent;
    weight updates driver-side on the integer sums (model-sized traffic
    only: n_buckets+1 scalars/iter).

    Each iteration is ONE job: the per-doc logit is an id-partitioned
    window over the persisted (features ⋈ label) frame, the per-bucket
    gradient the following bucket-keyed aggregation — no second scan,
    no per-iteration join. Pass ``features`` (from
    ``hashed_ngram_features``, ideally persisted) to share the frame
    with the scoring pass.

    Returns (bias, weights[n_buckets])."""
    sp = (
        features
        if features is not None
        else hashed_ngram_features(df, text_col, id_col, n_buckets)
    )
    ydoc = df.select(
        F.col(id_col).alias("id"),
        F.when(label, F.lit(1.0)).otherwise(F.lit(0.0)).alias("y"),
    )
    spy = sp.join(ydoc, "id").persist()
    bias, w = 0.0, [0.0] * n_buckets
    for _ in range(n_iter):
        if bias == 0.0 and not any(w):
            # all-zero model (every first iteration): the quantized
            # per-row logit is round(0 * x) = 0, so the id-window sum is
            # 0 exactly and p = round(sigmoid(0) * 1e6) / 1e6 = 0.5 —
            # the same constant the oracle's iteration-1 replay uses.
            # Computing d directly skips the window's id-keyed shuffle
            # over the whole feature frame (r13, guide §2.4).
            d = F.lit(0.5) - F.col("y")
        else:
            d = _hashed_residual(bias, w)
        bias, w = _hashed_step(spy, d, bias, w, lr)
    spy.unpersist()
    return bias, w


def score_hashed_classifier(
    df: DataFrame,
    bias: float,
    weights: list[float],
    text_col: str = "text",
    id_col: str = "doc_id",
    features: DataFrame | None = None,
) -> DataFrame:
    """Score documents with a trained hashed-n-gram classifier:
    (id_col, score, is_match) — score = sigmoid of the quantized logit
    (the grid the trainer used, so the oracle's replay is exact), fence
    at 0.5 on the rounded score. One bucket aggregation per doc; the
    intercept row guarantees every doc (even empty ones) appears. Pass
    the same persisted ``features`` frame used for training to skip
    re-hashing the corpus."""
    sp = (
        features
        if features is not None
        else hashed_ngram_features(df, text_col, id_col, len(weights))
    )
    zq = sp.groupBy("id").agg(
        F.sum(_hashed_logit_q(bias, weights)).alias("zq")
    )
    z = F.col("zq").cast("double") / F.lit(1e9)
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    return zq.select(
        F.col("id").alias(id_col),
        score.alias("score"),
        (score >= F.lit(0.5)).alias("is_match"),
    )


# Gopher rule 7's required-stopword lexicon (Rae et al. 2021 §A1.1.2:
# "contains at least two of the following English words")
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality_report(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021 §A1.1.2 —
    the filter battery MassiveWeb/C4-class pipelines run before
    training): word-count bounds, mean word length in [3, 10],
    symbol-to-word ratio <= 0.1 ('#' and ellipses), <= 90% of lines
    bullet-led, <= 30% of lines ellipsis-terminated, >= 80% of words
    containing an alphabetic character, and >= 2 distinct required
    stopwords present. Returns one row per doc with the raw counts,
    each rule verdict, and the conjunction ``keep``.

    Determinism: every threshold is evaluated in INTEGER arithmetic
    (3*n <= chars, 10*symbols <= words, ...) — no float ratio ever
    crosses an engine boundary; the display mean_word_len is derived on
    the 1e4 integer micro-grid.

    Scale shape: one codegen projection per document — array/regexp
    expressions only, no shuffle, no UDF; composes with any scan."""
    c = F.col(text_col)
    toks = tokens(c)
    n_words = F.size(toks).cast("long")
    char_sum = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n_symbols = F.size(
        F.regexp_extract_all(c, F.lit(r"#|\.\.\.|…"), F.lit(0))
    ).cast("long")
    lines = nonblank_lines(c)
    n_lines = F.size(lines).cast("long")
    bullet_lines = F.size(
        F.filter(lines, lambda l: F.substring(l, 1, 1).isin("-", "*", "•"))
    ).cast("long")
    ellipsis_lines = F.size(
        F.filter(lines, lambda l: l.endswith("...") | l.endswith("…"))
    ).cast("long")
    alpha_words = F.size(
        F.filter(toks, lambda t: t.rlike("[A-Za-z]"))
    ).cast("long")
    lower_toks = F.transform(toks, lambda t: F.lower(t))
    n_req_stop = F.size(
        F.filter(
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
            lambda s: F.array_contains(lower_toks, s),
        )
    ).cast("long")

    out = df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        char_sum.alias("char_sum"),
        n_symbols.alias("n_symbols"),
        n_lines.alias("n_lines"),
        bullet_lines.alias("bullet_lines"),
        ellipsis_lines.alias("ellipsis_lines"),
        alpha_words.alias("alpha_words"),
        n_req_stop.alias("n_req_stopwords"),
    )
    r_words = (F.col("n_words") >= min_words) & (F.col("n_words") <= max_words)
    r_mean = (F.lit(3) * F.col("n_words") <= F.col("char_sum")) & (
        F.col("char_sum") <= F.lit(10) * F.col("n_words")
    )
    r_symbol = F.lit(10) * F.col("n_symbols") <= F.col("n_words")
    r_bullet = F.lit(10) * F.col("bullet_lines") <= F.lit(9) * F.col("n_lines")
    r_ellipsis = F.lit(10) * F.col("ellipsis_lines") <= F.lit(3) * F.col("n_lines")
    r_alpha = F.lit(10) * F.col("alpha_words") >= F.lit(8) * F.col("n_words")
    r_stop = F.col("n_req_stopwords") >= 2
    mean_wl = F.when(
        F.col("n_words") > 0,
        F.round(F.col("char_sum") * F.lit(10000.0) / F.col("n_words"))
        .cast("long")
        / F.lit(10000.0),
    )
    return out.select(
        id_col,
        "n_words",
        mean_wl.alias("mean_word_len"),
        "n_symbols",
        "n_lines",
        "bullet_lines",
        "ellipsis_lines",
        "alpha_words",
        "n_req_stopwords",
        r_words.alias("r_word_count"),
        r_mean.alias("r_mean_word_len"),
        r_symbol.alias("r_symbol_ratio"),
        r_bullet.alias("r_bullet_lines"),
        r_ellipsis.alias("r_ellipsis_lines"),
        r_alpha.alias("r_alpha_words"),
        r_stop.alias("r_stopwords"),
        (
            r_words & r_mean & r_symbol & r_bullet & r_ellipsis & r_alpha & r_stop
        ).alias("keep"),
    )


def ngram_diversity(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Per-source lexical-diversity report: unigram type-token ratio and
    bigram distinct ratio — the collapse detectors for synthetic /
    templated / looped-generation text (a source whose distinct-bigram
    share craters while TTR holds is repeating phrase structure; both
    cratering is mode collapse). One row per source: (source, n_docs,
    n_tokens, distinct_tokens, ttr, n_bigrams, distinct_bigrams,
    bigram_diversity); ratios on the 1e-6 integer micro-grid, NULL when
    the denominator is zero.

    Scale shape: both gram streams come off ONE tokenize pass (tagged
    structs concatenated per row, exploded once) feeding ONE
    (source, kind, gram) groupBy with map-side combine (grams collapse
    to distinct before anything corpus-sized shuffles twice); the
    second aggregation is |sources| x 2-sized. No driver state at
    all."""
    toks = tokens(text_col)
    bi_arr = F.filter(
        F.zip_with(
            toks,
            F.slice(toks, 2, F.greatest(F.size(toks), F.lit(1))),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
        # zip_with pads the shorter side with NULL; concat_ws
        # drops nulls, so the padded tail equals its w1 alone —
        # strip it by requiring a separator
        lambda g: g.contains(" "),
    )
    # both gram kinds off ONE tokenize in ONE projection (subexpression
    # elimination shares `toks`), instead of two corpus text passes
    # unioned — same tagged rows, half the scan+tokenize work
    tagged = F.concat(
        F.transform(
            toks,
            lambda t: F.struct(F.lit("u").alias("kind"), t.alias("gram")),
        ),
        F.transform(
            bi_arr,
            lambda g: F.struct(F.lit("b").alias("kind"), g.alias("gram")),
        ),
    )
    counts = (
        df.select(
            F.col(source_col).alias("source"), F.explode(tagged).alias("__t")
        )
        .select(
            "source",
            F.col("__t.kind").alias("kind"),
            F.col("__t.gram").alias("gram"),
        )
        .groupBy("source", "kind", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("source", "kind")
        .agg(
            F.sum("c").alias("total"),
            F.count(F.lit(1)).alias("distinct_"),
        )
    )
    wide = counts.groupBy("source").agg(
        F.max(F.when(F.col("kind") == "u", F.col("total"))).alias("n_tokens"),
        F.max(F.when(F.col("kind") == "u", F.col("distinct_"))).alias(
            "distinct_tokens"
        ),
        F.max(F.when(F.col("kind") == "b", F.col("total"))).alias("n_bigrams"),
        F.max(F.when(F.col("kind") == "b", F.col("distinct_"))).alias(
            "distinct_bigrams"
        ),
    )
    docs = df.groupBy(F.col(source_col).alias("source")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )

    def ratio(num: str, den: str):
        return F.when(
            F.coalesce(F.col(den), F.lit(0)) > 0,
            F.round(F.col(num) * F.lit(1e6) / F.col(den)).cast("long")
            / F.lit(1e6),
        )

    return (
        docs.join(wide, "source", "left")
        .select(
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("distinct_tokens", F.lit(0)).cast("long").alias(
                "distinct_tokens"
            ),
            ratio("distinct_tokens", "n_tokens").alias("ttr"),
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce("distinct_bigrams", F.lit(0)).cast("long").alias(
                "distinct_bigrams"
            ),
            ratio("distinct_bigrams", "n_bigrams").alias("bigram_diversity"),
        )
    )


def zipf_fit(
    df: DataFrame,
    vocab_size: int = 256,
    text_col: str = "text",
) -> DataFrame:
    """Zipf's-law fit over the top-``vocab_size`` corpus terms: the
    least-squares slope/intercept/r^2 of ln(freq) against ln(rank) —
    natural text sits near slope -1 with high r^2; templated or
    model-looped corpora bend the curve (the standard quick screen for
    synthetic contamination of a pretraining mix). Single-row output
    (n_terms, slope, intercept, r2).

    Determinism: ln(rank) and ln(freq) are snapped to the 1e-6 integer
    grid; ALL five least-squares sums (Sx, Sy, Sxy, Sxx, Syy) are exact
    BIGINT aggregations of those grid values (order-independent). Each
    sum is then cast to DOUBLE BEFORE the closed-form products are
    formed: the grid sums themselves fit int64 at any corpus size
    (|Sxy| <= 256 * (5.6e6 * yq_max)), but the pairwise products do
    not — v*Syy and Sy^2 exceed 2^63 once top-term frequencies reach
    ~2e5 (any sf>=1 corpus), which previously wrapped silently in
    Spark while the DuckDB oracle raised out-of-range. The double
    products are the SAME IEEE operations on the SAME integers in both
    engines, so the result stays bit-deterministic.

    Scale shape: one (term) groupBy with map-side combine, a
    vocab_size-row ranked table, one single-row aggregate — the fit
    never sees more than ``vocab_size`` rows after the frequency
    table."""
    freqs = (
        df.select(F.explode(tokens(text_col)).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("term").asc())
        .limit(vocab_size)
    )
    w = W.orderBy(F.col("freq").desc(), F.col("term").asc())
    pts = freqs.select(
        F.round(F.log(F.row_number().over(w).cast("double")) * F.lit(1e6))
        .cast("long")
        .alias("xq"),
        F.round(F.log(F.col("freq").cast("double")) * F.lit(1e6))
        .cast("long")
        .alias("yq"),
    )
    s = pts.agg(
        F.count(F.lit(1)).alias("v"),
        F.sum("xq").alias("sx"),
        F.sum("yq").alias("sy"),
        F.sum(F.col("xq") * F.col("yq")).alias("sxy"),
        F.sum(F.col("xq") * F.col("xq")).alias("sxx"),
        F.sum(F.col("yq") * F.col("yq")).alias("syy"),
    )
    return _zipf_closed_form(s)


def _zipf_closed_form(s: DataFrame) -> DataFrame:
    """Closed-form least squares over a single-row sums frame
    (v, sx, sy, sxy, sxx, syy on the 1e-6 grid). Split out so the
    int64-overflow regression test can feed handcrafted sums without
    building a 38M-token corpus.

    Every sum is cast to double BEFORE multiplying: v*syy and sy*sy
    overflow int64 for large corpora (see zipf_fit docstring)."""
    vd = F.col("v").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    sxyd = F.col("sxy").cast("double")
    sxxd = F.col("sxx").cast("double")
    syyd = F.col("syy").cast("double")
    num = vd * sxyd - sxd * syd
    denx = vd * sxxd - sxd * sxd
    deny = vd * syyd - syd * syd
    slope = num / denx
    intercept = (syd / F.lit(1e6) - slope * (sxd / F.lit(1e6))) / vd
    r2 = num * num / (denx * deny)

    def grid6(c):
        return F.round(c * F.lit(1e6)).cast("long") / F.lit(1e6)

    return s.select(
        F.col("v").cast("long").alias("n_terms"),
        grid6(slope).alias("slope"),
        grid6(intercept).alias("intercept"),
        grid6(r2).alias("r2"),
    )


def corpus_datacard(
    docs: DataFrame,
    source_col: str = "source",
    lang_col: str = "lang",
    text_col: str = "text",
    short_tokens: int = 16,
) -> DataFrame:
    """One-scan corpus summary ("data card") at three grains in a
    single shuffle: (source, lang), (source), and grand total via
    ROLLUP — the release-notes table every corpus ships with (docs,
    tokens, chars, empty/short counts, language spread, mean length).

    Scale shape: the per-doc metric projection is shuffle-free codegen;
    ROLLUP computes all three grains with ONE map-side-combined
    aggregation (Expand x3 before the partial agg), so a 100 TB corpus
    is read once and the shuffle carries |sources| x |langs| partial
    rows x3 — never documents. Rollup-generated subtotal rows are
    labeled '<ALL>' via grouping() (a NULL source value stays NULL and
    cannot collide with a subtotal). mean_tokens_ppm is an exact BIGINT
    floor division (tokens x 1e6 / docs) so cross-engine hashes match
    without float traffic.
    """
    s = F.col(source_col)
    lg = F.col(lang_col)
    per_doc = docs.select(
        s.alias("__src"),
        lg.alias("__lang"),
        token_count(text_col).alias("__tok"),
        char_count(text_col).alias("__ch"),
    )
    agg = per_doc.rollup("__src", "__lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__tok").alias("total_tokens"),
        F.sum("__ch").alias("total_chars"),
        F.sum((F.col("__ch") == 0).cast("long")).alias("empty_docs"),
        F.sum((F.col("__tok") < short_tokens).cast("long")).alias("short_docs"),
        F.countDistinct("__lang").alias("distinct_langs"),
        # quotient/remainder split: sum(__tok) * 1e6 directly would wrap
        # int64 at ~9.2e12 total tokens (a 100 TB corpus is ~2.5e13) —
        # the zipf_fit silent-wrap-vs-oracle-error class; this form is
        # exact for non-negative sums and stays in range until the SUM
        # itself overflows
        F.expr(
            "(sum(__tok) div count(1)) * 1000000"
            " + ((sum(__tok) % count(1)) * 1000000) div count(1)"
        ).alias("mean_tokens_ppm"),
        F.grouping("__src").alias("__gs"),
        F.grouping("__lang").alias("__gl"),
    )
    return agg.select(
        F.when(F.col("__gs") == 1, F.lit("<ALL>")).otherwise(F.col("__src")).alias("source"),
        F.when(F.col("__gl") == 1, F.lit("<ALL>")).otherwise(F.col("__lang")).alias("lang"),
        "n_docs",
        "total_tokens",
        "total_chars",
        "empty_docs",
        "short_docs",
        "distinct_langs",
        "mean_tokens_ppm",
    )


def frequent_ngrams(
    df: DataFrame,
    n: int = 2,
    k: int = 5,
    text_col: str = "text",
    source_col: str = "source",
    n_shards: int = 16,
) -> DataFrame:
    """Per-source top-k most frequent word n-grams — the boilerplate
    DISCOVERY screen (span dedup strips known repeated spans; this
    surfaces what the repeated spans ARE, per source: headers, cookie
    banners, license blurbs, template text).

    Scale shape: grams come straight off the token array (no positional
    self-join); ONE (source, gram) count aggregation with map-side
    combine is the only corpus-sized shuffle. The top-k rank is
    TWO-PHASE: a shard-local window over (source, xxhash64(gram) %
    n_shards) — each task sees at most 1/n_shards of a source's gram
    table — then a final window over the <= n_shards x k survivors per
    source. A hot source therefore never serializes its full gram
    vocabulary through one task (the r07 duplicate_spans lesson applied
    to ranking). Ties break (count DESC, gram ASC), deterministic
    across engines.
    """
    t = tokens(text_col)
    grams = F.when(
        F.size(t) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(t, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    counts = (
        df.select(F.col(source_col).alias("source"), F.explode(grams).alias("gram"))
        .groupBy("source", "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    shard = F.pmod(F.xxhash64("gram"), F.lit(n_shards))
    w1 = W.partitionBy("source", shard).orderBy(
        F.col("cnt").desc(), F.col("gram").asc()
    )
    survivors = counts.withColumn("__r1", F.row_number().over(w1)).filter(
        F.col("__r1") <= k
    )
    w2 = W.partitionBy("source").orderBy(F.col("cnt").desc(), F.col("gram").asc())
    return (
        survivors.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("source", "rank", "gram", "cnt")
    )
