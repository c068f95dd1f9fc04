"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Designed for the 100 TB regime:

* exact dedup is a hash groupBy (one shuffle on the fingerprint);
* MinHash+LSH turns all-pairs O(n²) into per-band bucket self-joins —
  only documents sharing a band bucket are compared, the classic
  shingle -> minhash -> band -> bucket-join pipeline;
* SimHash reduces each doc to a 64-bit signature; near-dup candidates
  share a 16-bit band (hamming-distance blocking);
* n-gram Jaccard is the exact verifier: explode word sets, equi-join on
  token, count overlaps — a shuffle join on tokens, not a cross join.

Everything is built-in Spark expressions (xxhash64, explode, groupBy) —
no Python in the hot path.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from delta_rs_spark.functions.text import fingerprint, shingles, tokens


def hash64(hash_fn: str = "xx"):
    """64-bit hash column factory: ``h(col, seed=None) -> Column``.

    ``"xx"`` (default) is xxhash64 — the fast JVM production hash.
    ``"md5"`` takes the first 15 hex chars (60 bits) of md5, which DuckDB
    reproduces exactly as ``('0x' || substr(md5(x),1,15))::BIGINT`` —
    this is what makes MinHash/SimHash fully oracle-checkable
    (the reference's analogue is the DAT golden corpus,
    crates/core/tests/it/dat.rs:13-37: everything checkable is checked).
    Seeded md5 rehash hashes the decimal string ``"<value>:<seed>"``.
    """
    if hash_fn == "xx":
        def h(col, seed: int | None = None):
            col = F.col(col) if isinstance(col, str) else col
            return F.xxhash64(col) if seed is None else F.xxhash64(col, F.lit(seed))
    elif hash_fn == "md5":
        def h(col, seed: int | None = None):
            col = F.col(col) if isinstance(col, str) else col
            s = (
                col.cast("string")
                if seed is None
                else F.concat_ws(":", col.cast("string"), F.lit(str(seed)))
            )
            return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r} (use 'xx' or 'md5')")
    return h


# MinHash permutations are arithmetic universal hashes over the 31 low
# bits of the base shingle hash: perm_i(h) = (a_i*(h & 2^31-1) + b_i) mod
# (2^31-1), the textbook mod-Mersenne-prime family. Full-range multipliers
# make the map wrap ~a times (well mixed — a small-`a` mod-2^61 variant
# measured heavily correlated perms: every perm shared its argmin with h
# itself, inflating est_jaccard). Products stay < 2^62: 64-bit-safe,
# identical in Spark and DuckDB, and far cheaper than one hash call per
# permutation — the base string hash runs once per shingle, the perms are
# multiply-adds.
PERM_MOD = (1 << 31) - 1
_PERM_MASK = (1 << 31) - 1


def perm_consts(n: int) -> list[tuple[int, int]]:
    """Deterministic (multiplier, offset) pairs, embedded as literals in
    both the Spark plan and the generated DuckDB oracle SQL."""
    rnd = random.Random(0x5EED)
    return [
        (rnd.randrange(1, PERM_MOD), rnd.randrange(0, PERM_MOD)) for _ in range(n)
    ]


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id representative per exact (normalized) text.
    One hash-shuffle on the fingerprint; no sort of the full data."""
    w = W.partitionBy("__fp").orderBy(F.col(id_col).asc())
    return (
        df.withColumn("__fp", fingerprint(text_col))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__fp", "__rn")
    )


def duplicate_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(fingerprint, n_copies, representative id) for groups with > 1 doc."""
    return (
        df.groupBy(fingerprint(text_col).alias("fp"))
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min(id_col).alias("keep_id"))
        .filter(F.col("n_copies") > 1)
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    shingle_size: int = 3,
    hash_fn: str = "xx",
) -> DataFrame:
    """MinHash signature per document.

    Each shingle STRING is hashed exactly once; the ``num_perm``
    permutations are arithmetic universal hashes of that value (see
    ``perm_consts``): string hashing is the expensive part, so 1 string
    pass + num_perm multiply-adds instead of num_perm string passes —
    and the multiply-add form is reproducible in the DuckDB oracle,
    unlike a seeded xxhash64 rehash.

    Shape: explode shingle hashes to rows, then ``num_perm`` declarative
    ``min(xxhash64(h, i))`` aggregates in ONE whole-stage-codegen'd hash
    aggregate. Map-side partial aggregation means the shuffle carries at
    most ``num_perm`` longs per (doc x input partition) — shuffle bytes
    are O(docs), independent of document length, so this holds at 100 TB.
    The all-array alternative (fold with F.aggregate/zip_with) avoids the
    shuffle but runs in Spark's interpreted higher-order-function path,
    ~3x slower; the r01 shape (64 array_min(transform(...)) columns)
    additionally re-ran the whole shingling subtree per column after
    projection collapse."""
    h64 = hash64(hash_fn)
    sh = shingles(text_col, shingle_size)
    exploded = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.transform(sh, lambda s: h64(s))).alias("__h"),
    ).select("id", F.col("__h").bitwiseAND(F.lit(_PERM_MASK)).alias("__h"))
    consts = perm_consts(num_perm)
    aggs = [
        F.min((F.lit(a) * F.col("__h") + F.lit(b)) % F.lit(PERM_MOD)).alias(f"__m{i}")
        for i, (a, b) in enumerate(consts)
    ]
    return (
        exploded.groupBy("id")
        .agg(*aggs)
        .select("id", F.array(*[f"__m{i}" for i in range(num_perm)]).alias("signature"))
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    shingle_size: int = 3,
    hash_fn: str = "xx",
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) via banded LSH:
    docs agreeing on any band of ``num_perm/bands`` minhashes collide.
    Returns (id_a, id_b, est_jaccard) with the signature-estimated
    Jaccard (fraction of agreeing permutations)."""
    rows_per_band = num_perm // bands
    # the signature table is consumed by 4 plan branches (two band-join
    # aliases + two est re-attach joins); checkpoint it EAGERLY so the
    # shingle+hash pass runs ONCE (sigs are ~0.5 KB/doc — orders of
    # magnitude smaller than the corpus). Lazy checkpoints here proved
    # nondeterministically slow: AQE schedules sibling join branches as
    # concurrent jobs, and branches racing to materialize the same
    # not-yet-checkpointed RDD re-run its whole subtree.
    sigs = minhash_signatures(
        df, text_col, id_col, num_perm, shingle_size, hash_fn
    ).localCheckpoint(eager=True)
    # the band self-join carries IDS ONLY: combining band index into the
    # bucket hash makes (bucket) the single join key, and the 64-element
    # signature arrays never enter the 16x-exploded shuffle (r01 carried
    # both sides' signatures through it — ~30x the shuffle bytes)
    banded = sigs.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.xxhash64(
                        F.lit(b),
                        *[
                            F.col("signature")[b * rows_per_band + r]
                            for r in range(rows_per_band)
                        ],
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bucket"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # re-attach signatures once per side, AFTER pair dedup
    sa = sigs.select(F.col("id").alias("id_a"), F.col("signature").alias("sig_a"))
    sb = sigs.select(F.col("id").alias("id_b"), F.col("signature").alias("sig_b"))
    est = (
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda eq: eq
            )
        ).cast("double")
        / F.lit(float(num_perm))
    )
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", F.round(est, 4).alias("est_jaccard"))
    )


def _tree_or(terms: list):
    """Balanced bitwiseOR reduction — keeps expression depth O(log n) so
    whole-stage codegen never sees a 64-deep operator chain."""
    while len(terms) > 1:
        terms = [
            terms[i].bitwiseOR(terms[i + 1]) if i + 1 < len(terms) else terms[i]
            for i in range(0, len(terms), 2)
        ]
    return terms[0]


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    hash_fn: str = "xx",
) -> DataFrame:
    """64-bit SimHash per doc: hash each distinct token, count set bits
    per position across the doc's tokens, set output bit b iff the
    majority of tokens had bit b set (the classic sign-of-sum-of-±1
    formulation: sum = 2*cnt_b - n > 0).

    Shape: explode distinct-token hashes, then ONE hash aggregate with
    ``bits/2`` packed-lane sums — each agg column accumulates 2 bit
    positions in 32-bit lanes of a long (``getbit + getbit << 32``), so
    the whole pipeline is compact whole-stage-codegen'd JVM code.
    Map-side partial aggregation means the shuffle carries ~33 longs per
    (doc x input partition) — O(docs), independent of doc length. A lane
    overflows only past 2^32 distinct tokens in ONE document (a >20 GB
    doc) — unreachable.

    Two prior shapes both lost: r01's 64 separate ``sum(when(...))``
    aggregates blew past the codegen method limit (27 s at sf0.1,
    interpreted fallback), and the r02 higher-order-function fold
    (``F.aggregate``/``zip_with``) ran in Spark's interpreted HOF path
    at ~0.5 ms/doc with heavy per-token array allocation (2.6 s at
    sf0.1 and GC-bound). Packed lanes keep both the agg count (32) and
    the per-row expression small (simple getbit/shift terms).
    """
    assert bits % 2 == 0
    h64 = hash64(hash_fn)
    # with hash_fn="md5" the hash is 60-bit, so signature bits 60-63 are
    # always 0 in BOTH engines — deterministic, just slightly less entropy
    exploded = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(tokens(text_col))).alias("__t"),
    ).select("id", h64("__t").alias("__h"))
    # agg column k packs bit positions 2k (low lane) and 2k+1 (high
    # lane); bits are extracted with shift+mask, NOT F.getbit — getbit
    # measured 4x slower inside the aggregate (0.6s vs 2.4s at sf0.1)
    one = F.lit(1).cast("long")
    lane_aggs = [
        F.sum(
            F.shiftrightunsigned("__h", 2 * k).bitwiseAND(one)
            + F.shiftrightunsigned("__h", 2 * k + 1).bitwiseAND(one) * F.lit(1 << 32)
        ).alias(f"__a{k}")
        for k in range(bits // 2)
    ]
    grouped = exploded.groupBy("id").agg(F.count(F.lit(1)).alias("__n"), *lane_aggs)
    n = F.col("__n")

    def bit_term(b: int):
        cnt = F.shiftrightunsigned(f"__a{b // 2}", 32 * (b % 2)).bitwiseAND(
            F.lit(0xFFFFFFFF).cast("long")
        )
        # b=63 is the long sign bit (1<<63 would overflow signed long)
        power = F.lit(1 << b if b < 63 else -(1 << 63)).cast("long")
        return F.when(cnt * 2 > n, power).otherwise(F.lit(0).cast("long"))

    sim = _tree_or([bit_term(b) for b in range(bits)])
    return grouped.select("id", sim.alias("simhash"))


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bands: int = 4,
    hash_fn: str = "xx",
) -> DataFrame:
    """Near-duplicate pairs from 64-bit SimHash signatures: band the
    signature into ``bands`` contiguous chunks, bucket-join docs sharing
    any band, verify with the EXACT Hamming distance (bit_count of XOR).

    Pigeonhole guarantee: two signatures within ``max_hamming`` bits
    differ in at most ``max_hamming`` bands, so with
    ``bands > max_hamming`` at least one band matches exactly — recall
    is 1.0 by construction, no probabilistic tuning. The signature is a
    single long, so (unlike MinHash's 64-element arrays) carrying it
    through the banded shuffle costs 8 bytes/row — no id-only rejoin
    dance needed. Returns (id_a, id_b, hamming)."""
    if bands <= max_hamming:
        raise ValueError(
            f"bands ({bands}) must exceed max_hamming ({max_hamming}) "
            "for the pigeonhole recall guarantee"
        )
    width = 64 // bands
    mask = F.lit((1 << width) - 1).cast("long")
    # eager: see minhash_lsh_candidates — concurrent branch
    # materialization of a lazy checkpoint re-runs the subtree
    sigs = simhash(df, text_col, id_col, hash_fn=hash_fn).localCheckpoint(eager=True)
    banded = sigs.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.xxhash64(
                        F.lit(b),
                        F.shiftrightunsigned("simhash", b * width).bitwiseAND(mask),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bucket"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    # the Hamming test rides INSIDE the join as a residual predicate, so
    # band-collision candidates that fail it never reach the pair-dedup
    # shuffle (the corpus is self-similar: candidates >> survivors)
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id"))
            & (ham <= max_hamming),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            ham.cast("int").alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    shingle_size: int | None = 3,
) -> DataFrame:
    """Exact n-gram-set Jaccard for all pairs sharing >= 1 shingle:
    explode distinct shingles -> self-equi-join -> overlap counts.
    A shuffle join on shingles (skew-prone on ultra-common n-grams — at
    real scale feed this only LSH candidates or drop top-frequency
    shingles). ``shingle_size=None`` degrades to word-set Jaccard."""
    units = (
        shingles(text_col, shingle_size) if shingle_size else tokens(text_col)
    )
    # join on the 64-bit hash of the shingle, not the string: smaller
    # shuffle rows and cheaper equality; AQE skew-join splits hot shingles
    # the token table feeds both self-join aliases AND the size
    # aggregation; checkpoint it eagerly so shingling+hashing runs once,
    # not once per plan branch (same diamond-DAG treatment as MinHash —
    # and the same concurrent-materialization hazard with lazy mode)
    base = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(F.array_distinct(units)).alias("tok"),
        )
        .select("id", F.xxhash64("tok").alias("tok"))
        .localCheckpoint(eager=True)
    )
    sizes = base.groupBy("id").agg(F.count(F.lit(1)).alias("n_tok"))
    # carry set sizes on every exploded row: J(A,B) >= t forces
    # min(|A|,|B|) >= t*max(|A|,|B|), so size-incompatible pairs can be
    # rejected INSIDE the join (exact — no false negatives) before the
    # quadratic per-shingle pair blowup
    toks = base.join(sizes, "id")
    a, b = toks.alias("a"), toks.alias("b")
    overlap = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.id") < F.col("b.id"))
            & (F.col("a.n_tok") >= threshold * F.col("b.n_tok"))
            & (F.col("b.n_tok") >= threshold * F.col("a.n_tok")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    jac = (
        overlap.join(sa, F.col("id_a") == F.col("sa.id"))
        .join(sb, F.col("id_b") == F.col("sb.id"))
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_common")
                / (F.col("sa.n_tok") + F.col("sb.n_tok") - F.col("n_common")).cast("double"),
                4,
            ).alias("jaccard"),
        )
    )
    return jac.filter(F.col("jaccard") >= threshold)


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Resolve near-duplicate PAIRS into duplicate CLUSTERS: connected
    components over the pair graph, labeling every member with the
    minimum id in its component. This is the step a real dedup pipeline
    runs after candidate generation (MinHash/SimHash/embedding pairs are
    edges; one representative per component survives).

    Algorithm: iterated min-label propagation with pointer jumping —
    each round a node takes the min of (its label, its changed
    neighbors' labels, its label's label). The label-of-label hop halves
    chain depth per round, so convergence is O(log diameter) rounds; no
    vertex state ever sits on the driver. Lineage is cut per round with
    localCheckpoint so the plan stays O(1)-deep regardless of rounds —
    the standard Spark iterative-graph shape (same contraction idea as
    the large-star/small-star algorithm of Kiveris et al., "Connected
    Components in MapReduce").

    Scale shape (the three costs that would dominate at 100 TB):
    * edges are hash-partitioned on the probe key ONCE and checkpointed
      — the per-round neighbor join reuses that partitioning instead of
      re-shuffling the (dominant) edge set every round;
    * neighbor propagation is FRONTIER-RESTRICTED: only labels that
      changed last round are joined against edges. Labels are monotone
      non-increasing, so an unchanged neighbor's contribution was
      already folded the round it last changed — and a shrinking
      frontier turns the edge join into a broadcast probe under AQE.
      (The pointer-jump join is NOT restricted: a node that just
      re-pointed to a stable parent still needs that parent's label.)
    * convergence is read off the round's own checkpointed output
      (old-vs-new label carried through) — no extra join per round.

    Returns (id, cluster_id) for every id appearing in ``pairs``.
    """
    edges = (
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .union(pairs.select(F.col(id_b).alias("u"), F.col(id_a).alias("v")))
        .distinct()
        .repartition(F.col("v"))  # co-locate for the per-round probe on v
        .localCheckpoint(eager=True)
    )
    # seed labels with the one-hop minimum (a single groupBy — no join):
    # equivalent to running the first propagation round for free
    labels = (
        edges.groupBy("u")
        .agg(F.min("v").alias("__mv"))
        .select(F.col("u").alias("id"), F.least("u", "__mv").alias("label"))
        .localCheckpoint(eager=True)
    )
    frontier = labels  # changed-last-round set; round 0: everything
    for _ in range(max_iter):
        nb_min = (
            edges.join(frontier, edges["v"] == frontier["id"])
            .groupBy("u")
            .agg(F.min("label").alias("nb_min"))
        )
        stepped = (
            labels.join(nb_min, labels["id"] == nb_min["u"], "left")
            .select(
                labels["id"],
                labels["label"].alias("__old"),
                F.least(
                    labels["label"], F.coalesce(nb_min["nb_min"], labels["label"])
                ).alias("label"),
            )
        )
        parent = stepped.select(
            F.col("id").alias("p_id"), F.col("label").alias("p_label")
        )
        jumped = (
            stepped.join(parent, stepped["label"] == parent["p_id"], "left")
            .select(
                stepped["id"],
                stepped["__old"],
                F.least(
                    stepped["label"], F.coalesce(parent["p_label"], stepped["label"])
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        labels = jumped.select("id", "label")
        frontier = jumped.filter(F.col("label") != F.col("__old")).select("id", "label")
        if frontier.isEmpty():
            break
    return labels.select("id", F.col("label").alias("cluster_id"))


def embedding_near_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    num_blocks: int = 8,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, exact, via DISTRIBUTED
    block matrix multiply — no driver-side collect or broadcast of
    vector data anywhere.

    Every vector is hashed into one of ``num_blocks`` blocks; each row
    is replicated to the ``num_blocks`` unordered block pairs it belongs
    to, and one ``applyInPandas`` task per (block_i, block_j) group runs
    the BLAS ``A @ B.T`` between the two blocks' normalized matrices.
    Peak task memory is ~2N/num_blocks vectors regardless of total N —
    size num_blocks so a block fits an executor (at 100 TB: thousands of
    blocks; the replication factor stays num_blocks, the exact-cosine
    work stays O(N²/2) as it must for an exact all-pairs operator; the
    sub-quadratic path is LSH bucketing in functions/similarity.py).
    """
    import numpy as np
    import pandas as pd

    nb = int(num_blocks)
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    tagged = base.withColumn("g", F.pmod(F.xxhash64("id"), F.lit(nb)).cast("int"))
    # block g participates in unordered pairs (min(g,j), max(g,j)) for all j
    replicated = tagged.select(
        "id",
        "vec",
        "g",
        F.explode(F.sequence(F.lit(0), F.lit(nb - 1))).alias("j"),
    ).select(
        "id",
        "vec",
        "g",
        F.least("g", "j").alias("pi"),
        F.greatest("g", "j").alias("pj"),
    )

    def compute(key, pdf: "pd.DataFrame") -> "pd.DataFrame":
        i, j = key
        left = pdf[pdf["g"] == i]
        right = pdf[pdf["g"] == j] if i != j else left
        if not len(left) or not len(right):
            return pd.DataFrame({"id_a": [], "id_b": [], "cos": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cos": "float64"}
            )
        a = np.array(left["vec"].tolist(), dtype=np.float64)
        b = np.array(right["vec"].tolist(), dtype=np.float64)
        a /= np.maximum(np.linalg.norm(a, axis=1, keepdims=True), 1e-300)
        b /= np.maximum(np.linalg.norm(b, axis=1, keepdims=True), 1e-300)
        s = a @ b.T
        aids = left["id"].to_numpy()
        bids = right["id"].to_numpy()
        if i == j:
            # within-block: the id ordering picks each unordered pair once
            ia, ib = np.nonzero((s >= threshold) & (aids[:, None] < bids[None, :]))
            lo, hi = aids[ia], bids[ib]
        else:
            # disjoint blocks: every hit is a distinct unordered pair;
            # normalize to (min, max) so direction doesn't drop pairs
            ia, ib = np.nonzero(s >= threshold)
            lo = np.minimum(aids[ia], bids[ib])
            hi = np.maximum(aids[ia], bids[ib])
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cos": np.round(s[ia, ib], 4)})

    return replicated.groupBy("pi", "pj").applyInPandas(
        compute, "id_a long, id_b long, cos double"
    )


# ---------------------------------------------------------------------------
# Incremental dedup against a PERSISTED index — the continuous-ingest
# shape: daily batches dedup against all history by probing a Delta
# index table (exact fingerprints, and MinHash band buckets for
# near-dups) instead of rescanning the full corpus. Same pattern as the
# materialized ANN indexes: parameters live in the table config so
# ingest and probe can never drift, appends are atomic snapshots.
# ---------------------------------------------------------------------------

_DEDUP_PARAMS_KEY = "spark_graft.dedup.params"


def build_fingerprint_index(
    df: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    mode: str = "overwrite",
):
    """Materialize the exact-dedup index: one (id, fp) row per doc,
    fp = md5 of normalized text (text.fingerprint)."""
    from delta_rs_spark import DeltaTable
    from delta_rs_spark.functions.text import fingerprint
    from delta_rs_spark.writer import write_deltalake

    rows = df.select(
        F.col(id_col).alias("id"), fingerprint(text_col).alias("fp")
    )
    write_deltalake(
        index_path,
        rows,
        mode=mode,
        configuration={_DEDUP_PARAMS_KEY: '{"kind": "fp"}'},
    )
    return DeltaTable(index_path)


def dedup_against_fingerprint_index(
    spark,
    index_path: str,
    new_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Survivors of a new batch vs ALL history: drop docs whose
    fingerprint is already in the index, then keep-first (min id) within
    the batch itself.

    Scale shape: the probe is a left-anti join of the batch against the
    index on fp, planned as a broadcast of the index side (BuildRight):
    every call reads the whole index and broadcasts it. The index is
    never rewritten. The within-batch pass is one fp window. History
    size only enters through the one join."""
    from delta_rs_spark.functions.text import fingerprint
    from delta_rs_spark.table import DeltaTable

    idx = DeltaTable(index_path, spark=spark).to_df(columns=["fp"])
    batch = new_df.withColumn("__fp", fingerprint(text_col))
    fresh = batch.join(
        idx.withColumnRenamed("fp", "__fp"), "__fp", "left_anti"
    )
    keep = F.min(id_col).over(W.partitionBy("__fp"))
    return (
        fresh.withColumn("__keep", keep)
        .filter(F.col(id_col) == F.col("__keep"))
        .drop("__fp", "__keep")
    )


def update_fingerprint_index(spark, index_path: str, new_df: DataFrame,
                             text_col: str = "text", id_col: str = "doc_id"):
    """Append the (typically already-deduped) batch's fingerprints."""
    from delta_rs_spark.functions.text import fingerprint
    from delta_rs_spark.writer import write_deltalake

    rows = new_df.select(
        F.col(id_col).alias("id"), fingerprint(text_col).alias("fp")
    )
    write_deltalake(index_path, rows, mode="append")


def _band_buckets(sigs: DataFrame, num_perm: int, bands: int) -> DataFrame:
    rows_per_band = num_perm // bands
    return sigs.select(
        "id",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        F.lit(b),
                        *[
                            F.col("signature")[b * rows_per_band + r]
                            for r in range(rows_per_band)
                        ],
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "bucket"),
    )


def build_band_index(
    df: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    shingle_size: int = 3,
    hash_fn: str = "xx",
    mode: str = "overwrite",
):
    """Materialize the near-dup index: (id, band, bucket) rows from the
    MinHash band hashes, partitioned by band; LSH parameters ride in the
    table config."""
    import json as _json

    from delta_rs_spark import DeltaTable
    from delta_rs_spark.writer import write_deltalake

    sigs = minhash_signatures(df, text_col, id_col, num_perm, shingle_size, hash_fn)
    rows = _band_buckets(sigs, num_perm, bands)
    write_deltalake(
        index_path,
        rows,
        mode=mode,
        partition_by=["band"],
        configuration={
            _DEDUP_PARAMS_KEY: _json.dumps(
                {
                    "kind": "minhash-bands",
                    "num_perm": num_perm,
                    "bands": bands,
                    "shingle_size": shingle_size,
                    "hash_fn": hash_fn,
                }
            )
        },
    )
    return DeltaTable(index_path)


def near_dup_candidates_against_index(
    spark,
    index_path: str,
    new_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Candidate near-dup pairs (new_id, index_id) between a new batch
    and ALL history: the batch's band buckets (computed with the
    parameters frozen in the index config) join the index on
    (band, bucket). One banded join against the compact index — never a
    rescan of historical text.

    Scale shape: the probe side is |batch| x bands rows of three longs;
    it broadcasts under AQE when small, and the index side is read
    band-partition-parallel. Verification (exact Jaccard on the
    candidate pairs) stays a downstream step, exactly as in
    minhash_lsh_candidates."""
    import json as _json

    from delta_rs_spark.table import DeltaTable

    t = DeltaTable(index_path, spark=spark)
    p = _json.loads(t.metadata().configuration[_DEDUP_PARAMS_KEY])
    sigs = minhash_signatures(
        new_df, text_col, id_col, p["num_perm"], p["shingle_size"], p["hash_fn"]
    )
    probe = _band_buckets(sigs, p["num_perm"], p["bands"]).select(
        F.col("id").alias("new_id"), "band", "bucket"
    )
    idx = t.to_df().select(F.col("id").alias("index_id"), "band", "bucket")
    return (
        probe.join(idx, ["band", "bucket"])
        .filter(F.col("new_id") != F.col("index_id"))
        .select("new_id", "index_id")
        .dropDuplicates(["new_id", "index_id"])
    )


def update_band_index(spark, index_path: str, new_df: DataFrame,
                      text_col: str = "text", id_col: str = "doc_id"):
    """Append a new batch's band buckets with the index's own frozen
    parameters."""
    import json as _json

    from delta_rs_spark.table import DeltaTable
    from delta_rs_spark.writer import write_deltalake

    t = DeltaTable(index_path, spark=spark)
    p = _json.loads(t.metadata().configuration[_DEDUP_PARAMS_KEY])
    sigs = minhash_signatures(
        new_df, text_col, id_col, p["num_perm"], p["shingle_size"], p["hash_fn"]
    )
    rows = _band_buckets(sigs, p["num_perm"], p["bands"])
    write_deltalake(index_path, rows, mode="append", partition_by=["band"])


def resolve_duplicates(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Keep-BEST duplicate resolution: near-dup pairs -> connected
    components -> ONE survivor per cluster, chosen by quality score
    (desc, id asc tie-break) instead of the keep-first-id rule of
    ``connected_components`` alone. This is the production shape: when a
    page is crawled twice, keep the higher-quality capture, not the one
    with the smaller id. Returns the surviving rows with their
    ``cluster_id`` (singletons survive labeled by their own id).

    Scale shape: component labeling is the pointer-jumping CC above
    (edges never sit on the driver); the survivor pick is one
    row_number window per cluster over the docs (not the pairs), so the
    added cost over keep-first is a single window shuffle keyed by
    cluster."""
    from pyspark.sql import Window as W2

    from delta_rs_spark.functions.text import quality_score

    comp = connected_components(pairs, id_a=id_a, id_b=id_b)
    labeled = (
        df.withColumn("__q", quality_score(text_col))
        .join(comp, F.col(id_col) == comp["id"], "left")
        .withColumn(
            "cluster_id", F.coalesce(comp["cluster_id"], F.col(id_col))
        )
        .drop("id")
    )
    r = F.row_number().over(
        W2.partitionBy("cluster_id").orderBy(F.desc("__q"), F.asc(id_col))
    )
    return labeled.withColumn("__r", r).filter(F.col("__r") == 1).drop(
        "__q", "__r"
    )


def duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
    min_count: int = 2,
    keep_first: bool = True,
) -> DataFrame:
    """Exact substring-duplication detection: maximal token spans whose
    every ``window``-token rolling window occurs >= ``min_count`` times
    across the corpus (Lee et al. 2021, "Deduplicating Training Data
    Makes Language Models Better" — the suffix-array substring pass,
    re-expressed for a distributed engine as rolling-window fingerprint
    matching: a duplicated substring of length >= window is exactly a run
    of duplicated windows, so merging flagged windows into islands
    recovers the maximal duplicated spans at window-token resolution).

    With ``keep_first`` (default) the globally-first occurrence of each
    window — ordered by (id, position) — is never flagged, giving the
    paper's remove-all-but-one semantics; ``keep_first=False`` flags
    every occurrence (the filter-out-boilerplate form).

    Returns (id, span_start, span_end, span_tokens) with 0-based
    inclusive token positions.

    Scale shape: one posexplode of per-doc rolling windows (arrays built
    JVM-side by the zip_with construction — no Python, no per-element
    re-evaluation), one map-side-combined groupBy on the window
    fingerprint (count + min(struct(id, pos)) both partial-aggregate, so
    a boilerplate window occurring 10^8 times — "all rights reserved…"
    on a web corpus — is combiner-absorbed instead of landing on one
    task), one fp-keyed join back (skew-splittable by AQE: the
    aggregated side is one row per fingerprint, so a hot probe partition
    can be split and the build row replicated — a shape window functions
    structurally cannot reach), and one shuffle keyed by doc id for the
    island merge. Never materializes pairs — cost is O(total windows) =
    O(total tokens), the same asymptotic as the suffix-array pass,
    without its global sort.
    """
    win_arr = shingles(F.col(text_col), n=window)
    wins = (
        df.select(
            F.col(id_col).alias("id"),
            F.size(tokens(F.col(text_col))).alias("__n"),
            win_arr.alias("__wins"),
        )
        .where(F.col("__n") >= window)
        .select("id", F.posexplode("__wins").alias("pos", "gram"))
        # md5 fingerprint as BINARY(16): 16 bytes through both fp
        # shuffles instead of the window-token text (or the 32-char hex
        # string — halving fp bytes bought ~15% wall at sf0.1). The
        # oracle is unaffected: it groups by the gram itself, same
        # partition function.
        .select("id", "pos", F.unhex(F.md5("gram")).alias("fp"))
    )
    # Per-fingerprint occurrence count and globally-first occurrence via
    # groupBy (NOT a window over fp): min(struct(id, pos)) is exactly the
    # row_number()==1 row under orderBy(id, pos) — struct ordering is
    # field-by-field — but with partial aggregation, so hot fingerprints
    # never serialize through a single task.
    per_fp = (
        wins.groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("__c"),
            F.min(F.struct("id", "pos")).alias("__first"),
        )
        .where(F.col("__c") >= min_count)
    )
    # SHUFFLE_HASH: the duplicated-fp side is the smaller (one row per
    # duplicated fingerprint) — hash-build it rather than sort both
    # sides; AQE can still split a skewed probe partition, which is the
    # whole point of the join-back shape.
    flagged = wins.join(per_fp.hint("SHUFFLE_HASH"), "fp")
    if keep_first:
        flagged = flagged.where(
            F.struct("id", "pos") != F.col("__first")
        )
    # Merge flagged windows whose covered token ranges [pos, pos+window-1]
    # touch or overlap (gap <= window) into maximal islands per doc.
    wd = W.partitionBy("id").orderBy("pos")
    prev = F.lag("pos").over(wd)
    is_new = F.when(prev.isNull() | (F.col("pos") - prev > window), 1).otherwise(0)
    island = F.sum(is_new).over(
        W.partitionBy("id").orderBy("pos").rowsBetween(W.unboundedPreceding, 0)
    )
    return (
        flagged.select("id", "pos")
        .withColumn("__isl", island)
        .groupBy("id", "__isl")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(window - 1)).alias("span_end"),
        )
        .select(
            F.col("id").alias(id_col),
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
        )
    )


def strip_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
    min_count: int = 2,
    keep_first: bool = True,
) -> DataFrame:
    """Remove the duplicated substrings found by ``duplicate_spans`` from
    every document, rebuilding the text from the surviving tokens
    (whitespace-normalized — both engines rebuild from the same token
    stream). Returns (id, n_tokens, n_removed, clean_text) for EVERY
    input doc (unflagged docs pass through with n_removed = 0).

    Scale shape: the span table is tiny relative to the corpus (only
    duplicated regions); removal is a per-doc set difference of position
    arrays — ``array_except`` builds a hash set of the removed positions
    once per doc (O(n_tokens + n_removed), vs the O(n_tokens *
    n_removed) of a per-element ``array_contains`` probe, which is
    quadratic for long heavily-duplicated documents) — carried as an
    array column through one doc-keyed join, never exploded
    corpus-wide."""
    spans = duplicate_spans(
        df, text_col, id_col, window=window, min_count=min_count, keep_first=keep_first
    )
    rm = spans.groupBy(id_col).agg(
        F.array_sort(
            F.array_distinct(
                F.flatten(F.collect_list(F.sequence("span_start", "span_end")))
            )
        ).alias("__rm")
    )
    toks = tokens(F.col(text_col))
    # Surviving positions = [0, n) \ __rm via array_except (hash-set
    # build, order-preserving on the left array), then gather the
    # surviving tokens by position. sequence() is guarded for empty
    # docs (sequence(0, -1) would descend).
    survive = F.when(
        F.size("__toks") > 0,
        F.array_except(
            F.sequence(F.lit(0), F.size("__toks") - 1), F.col("__rm")
        ),
    ).otherwise(F.array().cast("array<int>"))
    out = (
        df.select(F.col(id_col), toks.alias("__toks"))
        .join(rm, on=id_col, how="left")
        .withColumn("__rm", F.coalesce("__rm", F.array().cast("array<int>")))
        .select(
            id_col,
            F.size("__toks").cast("long").alias("n_tokens"),
            F.size("__rm").cast("long").alias("n_removed"),
            F.concat_ws(
                " ",
                F.transform(
                    survive, lambda p: F.element_at(F.col("__toks"), p + 1)
                ),
            ).alias("clean_text"),
        )
    )
    return out
