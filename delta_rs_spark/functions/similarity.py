"""Similarity search over embedding columns (array<float>).

* ``cosine_topk`` — brute-force exact scan: dot products as JVM-side
  array expressions (F.aggregate/zip_with in double precision), then a
  top-k sort. The baseline every ANN variant is measured against; on a
  cluster this is one map + one k-row reduce, no shuffle of the vectors.
* ``lsh_topk`` — random-hyperplane LSH: bucket every vector by the sign
  bits of ``n_planes`` seeded hyperplane projections; only the query's
  bucket (plus hamming<=1 neighbor buckets) is scanned. The scale path:
  the bucket id is a partitioning key, so a query touches a handful of
  partitions instead of the full corpus.
* ``ivf_assign/ivf_topk`` — IVF-style coarse quantizer built from a
  deterministic sample of the corpus itself (k seed centroids), probe
  the ``n_probe`` nearest lists.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Sequential double-precision dot product of two array columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _query_vec_column(query_vec: list[float]) -> Column:
    return F.array(*[F.lit(float(x)) for x in query_vec])


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by cosine similarity to a literal query vector.
    Ties broken by id for determinism."""
    q = _query_vec_column(query_vec)
    scored = df.select(
        F.col(id_col).alias("id"),
        F.round(cosine(F.col(vec_col), q), 4).alias("score"),
    )
    return scored.orderBy(F.desc("score"), F.asc("id")).limit(k)


def dense_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_shards: int = 32,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    q_id_col: str = "query_id",
    q_vec_col: str = "embedding",
) -> DataFrame:
    """Batch exact dense retrieval: per-query cosine top-``k`` of a
    (small) query frame against the vector corpus, returned in the
    (query_id, rank, doc_id, score) ranking shape ``rrf_fuse`` consumes
    — the dense half of lexical+dense hybrid retrieval (the production
    RRF composition).

    Scale shape: the query frame is BROADCAST onto ONE corpus scan
    (|corpus| x |queries| scored rows, no shuffle to form the pairs),
    and the top-k is two-phase so no single task ever sorts the
    corpus: phase 1 ranks within (query, doc_id mod ``n_shards``) —
    n_shards * |queries| parallel partitions of |corpus|/n_shards rows
    each — keeping k per shard; phase 2 ranks the surviving
    n_shards*k rows per query. The global top-k is exact (it is
    contained in the union of per-shard top-ks). Scores are snapped to
    the 4dp grid with doc-id tiebreak (the cross-engine cosine idiom).
    For corpus-scale QUERY sets, use ``ivf_topk_indexed_multi`` (same
    output shape, probes a materialized IVF index instead of
    broadcasting — r09) or lsh_topk_indexed."""
    from pyspark.sql import Window as W

    q = queries.select(
        F.col(q_id_col).cast("long").alias("query_id"),
        F.col(q_vec_col).alias("__qv"),
    )
    scored = (
        vectors.select(
            F.col(id_col).cast("long").alias("doc_id"), F.col(vec_col).alias("__v")
        )
        .crossJoin(F.broadcast(q))
        .select(
            "query_id",
            "doc_id",
            F.round(cosine(F.col("__v"), F.col("__qv")), 4).alias("score"),
        )
    )
    w1 = W.partitionBy("query_id", F.pmod(F.col("doc_id"), F.lit(n_shards))).orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    survivors = (
        scored.withColumn("__r", F.row_number().over(w1))
        .filter(F.col("__r") <= k)
        .drop("__r")
    )
    w2 = W.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        survivors.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (LCG; no numpy needed
    at plan-build time, reproducible across runs/sessions)."""
    state = seed
    planes = []
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            row.append(((state >> 33) / float(1 << 31)) - 1.0)  # [-1, 1)
        n = math.sqrt(sum(x * x for x in row)) or 1.0
        planes.append([x / n for x in row])
    return planes


def lsh_bucket(vec_col: Column, planes: list[list[float]]) -> Column:
    """Sign-bit bucket id from hyperplane projections."""
    bucket = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        proj = dot(vec_col, F.array(*[F.lit(x) for x in p]))
        bucket = bucket.bitwiseOR(
            F.when(proj >= 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(F.lit(0).cast("long"))
        )
    return bucket


def lsh_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: scan only vectors whose LSH bucket is within
    hamming distance 1 of the query's bucket."""
    dim = len(query_vec)
    planes = _hyperplanes(dim, n_planes, seed)
    qb = 0
    for i, p in enumerate(planes):
        if sum(x * y for x, y in zip(query_vec, p)) >= 0:
            qb |= 1 << i
    neighbor_buckets = [qb] + [qb ^ (1 << i) for i in range(n_planes)]
    bucketed = df.withColumn("__bucket", lsh_bucket(F.col(vec_col), planes))
    cand = bucketed.filter(F.col("__bucket").isin(neighbor_buckets))
    q = _query_vec_column(query_vec)
    return (
        cand.select(
            F.col(id_col).alias("id"),
            F.round(cosine(F.col(vec_col), q), 4).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(k)
    )


def ivf_assign(
    df: DataFrame,
    n_lists: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[DataFrame, list[tuple[int, list[float]]]]:
    """IVF coarse assignment: centroids = deterministic corpus sample
    (first n_lists ids), each vector assigned to its nearest centroid.
    Returns (assigned df with __list column, centroids)."""
    seeds = (
        df.orderBy(F.col(id_col).asc())
        .limit(n_lists)
        .select(id_col, vec_col)
        .collect()
    )
    centroids = [(i, list(r[vec_col])) for i, r in enumerate(seeds)]

    # Assignment = one (batch x dim) @ (dim x k) matmul per Arrow batch
    # in a vectorized pandas_udf. The first formulation (array_max over k
    # zip_with/aggregate cosine structs) evaluated on Spark's interpreted
    # expression path — k*dim lambda evaluations per ROW — and measured
    # 2.3s for 2k vectors at sf0.1; the matmul is milliseconds and the
    # centroid matrix rides to executors inside the UDF closure
    # (k*dim floats). Tie-break matches the previous struct-max semantics
    # (max score, then HIGHEST centroid index) and the DuckDB oracle's
    # ORDER BY s DESC, i DESC; safe under BLAS-vs-sequential fp noise
    # because the measured min top-2 centroid gap is 1.1e-5 (sf0.1),
    # ~10 orders above reassociation error.
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    C = np.array([c for _, c in centroids], dtype=np.float64)
    Cn = (C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-300)).T

    @pandas_udf("int")
    def _assign(vecs: pd.Series) -> pd.Series:
        V = np.array(vecs.tolist(), dtype=np.float64)
        Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-300)
        s = Vn @ Cn
        rev = s[:, ::-1].argmax(axis=1)  # first max in reversed = highest i
        return pd.Series((s.shape[1] - 1 - rev).astype("int32"))

    return df.withColumn("__list", _assign(F.col(vec_col))), centroids


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k probing the n_probe nearest inverted lists."""
    assigned, centroids = ivf_assign(df, n_lists, vec_col, id_col)
    ranked = sorted(
        centroids,
        key=lambda c: -sum(x * y for x, y in zip(query_vec, c[1]))
        / (math.sqrt(sum(x * x for x in c[1])) or 1.0),
    )
    probe = [i for i, _ in ranked[:n_probe]]
    q = _query_vec_column(query_vec)
    return (
        assigned.filter(F.col("__list").isin(probe))
        .select(
            F.col(id_col).alias("id"),
            F.round(cosine(F.col(vec_col), q), 4).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# Materialized ANN indexes — build once as a Delta table PARTITIONED BY the
# bucket/list id, query by reading only the probed partitions through the
# transaction log's file skipping. This is the 100 TB shape: the per-query
# cost is O(corpus/2^n_planes * probes), not a full corpus scan per query
# (the r01 lsh_topk/ivf_topk recomputed every vector's bucket per call).
# ---------------------------------------------------------------------------

_LSH_PLANES_KEY = "spark_graft.lsh.planes"
_IVF_CENTROIDS_KEY = "spark_graft.ivf.centroids"


def build_lsh_index(
    df: DataFrame,
    index_path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 8,
    seed: int = 42,
    mode: str = "overwrite",
) -> None:
    """Materialize a hyperplane-LSH index: one Delta partition per bucket.

    The hyperplane parameters are stored in the table configuration so
    queries are self-describing (no out-of-band state to drift)."""
    import json as _json

    from delta_rs_spark.writer import write_deltalake

    dim = len(df.select(vec_col).first()[0])
    planes = _hyperplanes(dim, n_planes, seed)
    indexed = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        lsh_bucket(F.col(vec_col), planes).alias("bucket"),
    )
    write_deltalake(
        index_path,
        indexed,
        mode=mode,
        partition_by=["bucket"],
        configuration={
            _LSH_PLANES_KEY: _json.dumps(
                {"n_planes": n_planes, "seed": seed, "dim": dim}
            )
        },
    )


def lsh_topk_indexed(
    spark,
    index_path: str,
    query_vec: list[float],
    k: int = 10,
) -> DataFrame:
    """Top-k over a materialized LSH index: only the query bucket and its
    hamming<=1 neighbors are READ — partition pruning through the Delta
    log keeps every other file out of the scan entirely."""
    import json as _json

    from delta_rs_spark.table import DeltaTable

    t = DeltaTable(index_path, spark=spark)
    params = _json.loads(t.metadata().configuration[_LSH_PLANES_KEY])
    if params["dim"] != len(query_vec):
        raise ValueError(f"query dim {len(query_vec)} != index dim {params['dim']}")
    planes = _hyperplanes(params["dim"], params["n_planes"], params["seed"])
    qb = 0
    for i, p in enumerate(planes):
        if sum(x * y for x, y in zip(query_vec, p)) >= 0:
            qb |= 1 << i
    probe = [qb] + [qb ^ (1 << i) for i in range(params["n_planes"])]
    cand = t.to_df(predicate=f"bucket IN ({', '.join(str(b) for b in probe)})")
    q = _query_vec_column(query_vec)
    return (
        cand.select(
            F.col("id"), F.round(cosine(F.col("vec"), q), 4).alias("score")
        )
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(k)
    )


def frozen_centroid_assigner(centroids: list):
    """Pandas-UDF assigner against FROZEN ``[[i, vec], ...]`` centroids
    (the shape stored under the index table's ``_IVF_CENTROIDS_KEY``):
    max cosine, highest-index tiebreak — the same convention
    ``ivf_assign`` uses at build time, so build-time and
    maintenance-time assignment can never drift. Shared by
    ``update_ivf_index`` and ``operators/index_sync.sync_ivf_index``.
    The centroid matrix rides to executors inside the UDF closure
    (n_lists * dim floats — model-sized, never corpus-sized)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    C = np.array([c for _, c in centroids], dtype=np.float64)
    Cn = (C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-300)).T

    @pandas_udf("int")
    def _assign(vecs: pd.Series) -> pd.Series:
        V = np.array(vecs.tolist(), dtype=np.float64)
        Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-300)
        s = Vn @ Cn
        rev = s[:, ::-1].argmax(axis=1)  # first max in reversed = highest i
        return pd.Series((s.shape[1] - 1 - rev).astype("int32"))

    return _assign


def build_ivf_index(
    df: DataFrame,
    index_path: str,
    n_lists: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    mode: str = "overwrite",
    commit_properties=None,
    centroids: list | None = None,
    max_records_per_file: int = 32_000,
) -> None:
    """Materialize an IVF index: one Delta partition per inverted list;
    centroids live in the table configuration (n_lists * dim floats — log
    metadata, tiny next to the vectors). ``commit_properties`` rides the
    creating commit — ``sync_ivf_index`` stamps its source-version
    watermark there so init and sync share one exactly-once ledger, and
    ``mode='error'`` makes a concurrent-build race lose LOUDLY (one
    create commits v0, the other raises and retries as a reader)
    instead of silently double-writing. ``centroids`` (``[[i, vec],
    ...]``) overrides the default first-``n_lists``-ids seeding with
    TRAINED centroids — ``sync_ivf_index``'s recluster path passes the
    k-means refit here, since re-seeding from the same leading ids
    could never adapt to distribution drift.

    File layout (r11): within each list partition, files are
    ID-CLUSTERED (sortWithinPartitions(id), written layout-preserved)
    and capped at ``max_records_per_file`` rows. Queries don't care —
    they prune on the partition value — but ``sync_ivf_index``'s MERGE
    does: tight per-file id stats let its early filter prune
    untouched files, and the cap bounds rewrite amplification at
    (touched files x file cap) instead of (touched PARTITIONS x
    partition size). Measured at 1.28M rows / 1k churned: one file per
    list meant every sync copied all 1.28M rows; the clustered layout
    copies only the touched files' rows, flat in corpus size."""
    import json as _json

    from delta_rs_spark.writer import write_deltalake

    if centroids is None:
        assigned, centroids = ivf_assign(df, n_lists, vec_col, id_col)
        assigned = assigned.withColumnRenamed("__list", "__ivf_list")
    else:
        if len(centroids) != n_lists:
            raise ValueError(
                f"{len(centroids)} centroids given for n_lists={n_lists}"
            )
        assigned = df.withColumn(
            "__ivf_list",
            frozen_centroid_assigner(centroids)(F.col(vec_col)),
        )
    indexed = (
        assigned.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("vec"),
            F.col("__ivf_list").alias("list"),
        )
        .repartition("list")
        .sortWithinPartitions("id")
    )
    write_deltalake(
        index_path,
        indexed,
        mode=mode,
        partition_by=["list"],
        configuration={
            _IVF_CENTROIDS_KEY: _json.dumps(
                [[i, [round(x, 8) for x in c]] for i, c in centroids]
            )
        },
        commit_properties=commit_properties,
        max_records_per_file=max_records_per_file,
        preserve_layout=True,
    )


def ivf_topk_indexed(
    spark,
    index_path: str,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 4,
) -> DataFrame:
    """Top-k over a materialized IVF index: rank centroids driver-side
    (n_lists rows of metadata), scan only the n_probe nearest lists."""
    import json as _json

    from delta_rs_spark.table import DeltaTable

    t = DeltaTable(index_path, spark=spark)
    centroids = _json.loads(t.metadata().configuration[_IVF_CENTROIDS_KEY])
    ranked = sorted(
        centroids,
        key=lambda c: -sum(x * y for x, y in zip(query_vec, c[1]))
        / (math.sqrt(sum(x * x for x in c[1])) or 1.0),
    )
    probe = [i for i, _ in ranked[:n_probe]]
    cand = t.to_df(predicate=f"list IN ({', '.join(str(i) for i in probe)})")
    q = _query_vec_column(query_vec)
    return (
        cand.select(
            F.col("id"), F.round(cosine(F.col("vec"), q), 4).alias("score")
        )
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(k)
    )


def ivf_topk_indexed_multi(
    spark,
    index_path: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    n_shards: int = 32,
    q_id_col: str = "query_id",
    q_vec_col: str = "embedding",
) -> DataFrame:
    """Per-query dense top-k over a MATERIALIZED IVF index — the
    corpus-scale dense half of hybrid retrieval (``dense_topk``'s
    docstring routes corpus-scale query sets here, r09): each query
    probes its ``n_probe`` nearest inverted lists, so the candidate
    scan reads ONLY the probed partitions through Delta file skipping
    instead of broadcasting every query over the full corpus. Returns
    the (query_id, rank, doc_id, score) ranking shape ``rrf_fuse``
    consumes.

    Probe selection mirrors ``semantic_contamination_indexed`` exactly
    (ROUND-8 config centroids, 4dp-snapped cosine, higher-list
    tiebreak) so both index consumers share one replayable convention;
    the probe frame is collected ONCE (|queries| x n_probe rows, the
    only driver state) to keep the query-scan subplan out of the
    returned plan. Recall contract: high-cosine neighbors co-assign to
    nearby centroids, so the head of each ranking matches brute force;
    the tail is the standard IVF approximation. Top-k is two-phase
    (shard by doc id, rank survivors) so no task ever sorts a probed
    partition set serially."""
    import json as _json

    from pyspark.sql import Window as W

    from delta_rs_spark.table import DeltaTable

    t = DeltaTable(index_path, spark=spark)
    centroids = _json.loads(t.metadata().configuration[_IVF_CENTROIDS_KEY])
    cdf = spark.createDataFrame(
        [(int(i), [float(x) for x in c]) for i, c in centroids],
        "list int, cvec array<double>",
    )
    q = queries.select(
        F.col(q_id_col).cast("long").alias("query_id"),
        F.col(q_vec_col).alias("__qv"),
    )
    ranked = q.crossJoin(F.broadcast(cdf)).select(
        "query_id",
        "__qv",
        "list",
        F.round(cosine(F.col("__qv"), F.col("cvec")), 4).alias("__s"),
    )
    wp = W.partitionBy("query_id").orderBy(
        F.col("__s").desc(), F.col("list").desc()
    )
    probes = (
        ranked.withColumn("__r", F.row_number().over(wp))
        .filter(F.col("__r") <= n_probe)
        .select("query_id", "__qv", "list")
    )
    probe_rows = probes.collect()
    probe_lists = sorted({r["list"] for r in probe_rows})
    if not probe_lists:
        cand = t.to_df(columns=["id", "vec", "list"]).limit(0)
    else:
        cand = t.to_df(
            predicate=f"list IN ({', '.join(str(i) for i in probe_lists)})"
        )
    probes_local = spark.createDataFrame(probe_rows, probes.schema)
    scored = cand.join(F.broadcast(probes_local), "list").select(
        "query_id",
        F.col("id").alias("doc_id"),
        F.round(cosine(F.col("vec"), F.col("__qv")), 4).alias("score"),
    )
    w1 = W.partitionBy(
        "query_id", F.pmod(F.col("doc_id"), F.lit(n_shards))
    ).orderBy(F.col("score").desc(), F.col("doc_id").asc())
    survivors = (
        scored.withColumn("__r", F.row_number().over(w1))
        .filter(F.col("__r") <= k)
        .drop("__r")
    )
    w2 = W.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        survivors.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )


def update_lsh_index(
    spark,
    index_path: str,
    new_df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Incrementally index new vectors: bucket them with the SAME planes
    the index was built with (read back from table config, so ingest and
    query can never drift) and append. The append touches only the
    buckets the new vectors land in; existing partitions' files are
    untouched, and a concurrent query either sees the old or the new
    snapshot atomically - the index freshness story a streaming corpus
    needs (run from foreachBatch for continuous ingest)."""
    import json as _json

    from delta_rs_spark.table import DeltaTable
    from delta_rs_spark.writer import write_deltalake

    t = DeltaTable(index_path, spark=spark)
    params = _json.loads(t.metadata().configuration[_LSH_PLANES_KEY])
    planes = _hyperplanes(params["dim"], params["n_planes"], params["seed"])
    indexed = new_df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        lsh_bucket(F.col(vec_col), planes).alias("bucket"),
    )
    write_deltalake(index_path, indexed, mode="append", partition_by=["bucket"])


def update_ivf_index(
    spark,
    index_path: str,
    new_df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Incrementally index new vectors into an IVF index: assign against
    the FROZEN centroids stored in the table config and append to the
    matching list partitions. Centroids staying fixed is the standard
    IVF maintenance contract (FAISS add-after-train): recall degrades
    only as the data distribution drifts, at which point build_ivf_index
    re-trains into a fresh version of the same table - time travel keeps
    the old index readable during the swap."""
    import json as _json

    from delta_rs_spark.table import DeltaTable
    from delta_rs_spark.writer import write_deltalake

    t = DeltaTable(index_path, spark=spark)
    centroids = _json.loads(t.metadata().configuration[_IVF_CENTROIDS_KEY])
    _assign = frozen_centroid_assigner(centroids)
    indexed = new_df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        _assign(F.col(vec_col)).alias("list"),
    )
    write_deltalake(index_path, indexed, mode="append", partition_by=["list"])


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.4,
    n_lists: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Embedding-space semantic dedup (the SemDeDup recipe: Abbas et al.
    2023, arXiv:2303.09540): coarse-cluster the corpus with the IVF
    quantizer, then WITHIN each cluster drop any vector whose cosine to a
    lower-id clustermate is >= ``threshold``. Output is one row per
    input vector: (id, list_id, keep).

    Dominance by lower id (not greedy sequential scanning) makes the
    keep-set order-free and exactly replayable in SQL: b is dropped iff
    EXISTS a < b in the same list with round(cos(a,b),4) >= threshold —
    including a's that are themselves dropped, which matches SemDeDup's
    "keep one representative per ε-ball, approximately" semantics and
    keeps the rule embarrassingly parallel.

    Scale shape: clustering is what bounds the quadratic — pairing is
    per-list after one shuffle on the list id (k lists cut all-pairs
    cost by ~k; the cluster count is the knob that trades recall for
    cost, exactly as in the paper). Hot lists are AQE skew-join
    territory; the in-join cosine runs on codegen'd array expressions,
    no Python. Only the n_lists seed centroids touch the driver."""
    assigned, _ = ivf_assign(df, n_lists, vec_col, id_col)
    # Materialize the assignment once: it feeds three consumers (both
    # join sides and the final keep join), and the argmax-over-centroids
    # expression is the expensive part of the plan — recomputing it 3x
    # tripled the runtime (7.1s -> 2.4s at sf0.1). At corpus scale this
    # is the same move the SemDeDup pipeline makes: cluster assignment is
    # written out (a Delta table) before the per-cluster pairing pass.
    assigned = assigned.select(
        F.col(id_col), F.col("__list").alias("list_id"), F.col(vec_col)
    ).localCheckpoint(eager=True)
    # Within-cluster dominance via one BLAS gram matrix per list
    # (applyInPandas, Arrow-batched): an expression-join formulation with
    # zip_with/aggregate cosines ran 10x slower — higher-order array
    # functions evaluate interpreted, and the pair stage is O(list²·dim).
    # One task holds one cluster (ids + unit vectors); n_lists is the
    # knob that keeps clusters executor-sized, as in the paper.
    import numpy as np
    import pandas as pd

    thr = float(threshold)

    def dropped_in_list(key, pdf: "pd.DataFrame") -> "pd.DataFrame":
        ids = pdf["__id"].to_numpy()
        v = np.array(pdf["__vec"].tolist(), dtype=np.float64)
        v /= np.maximum(np.linalg.norm(v, axis=1, keepdims=True), 1e-300)
        s = np.round(v @ v.T, 4)
        mask = (s >= thr) & (ids[:, None] < ids[None, :])
        return pd.DataFrame({"__id": ids[np.unique(np.nonzero(mask)[1])]})

    dropped = (
        assigned.select(
            F.col(id_col).alias("__id"), "list_id", F.col(vec_col).alias("__vec")
        )
        .groupBy("list_id")
        .applyInPandas(dropped_in_list, "__id long")
        .withColumnRenamed("__id", id_col)
    )
    return assigned.join(dropped.withColumn("__drop", F.lit(True)), id_col, "left").select(
        id_col,
        "list_id",
        F.coalesce(~F.col("__drop"), F.lit(True)).alias("keep"),
    )


def random_projection(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    out_dim: int = 16,
    seed: int = 7,
) -> DataFrame:
    """Johnson-Lindenstrauss random projection: compress embeddings to
    ``out_dim`` dims by dotting with deterministic unit pseudo-random
    planes (same LCG generator as the LSH hyperplanes, so any engine can
    regenerate the matrix). The JL guarantee makes the projected space a
    drop-in for coarse similarity work -- candidate generation, cheap
    clustering, index keys -- at out_dim/dim the memory and shuffle
    width.

    Output is long-form (vec_id, j, val): one row per projected
    coordinate, val rounded to 4 places.

    Scale shape: pure map, no shuffle. The projection is one
    (batch x dim) @ (dim x out_dim) numpy matmul per Arrow batch in a
    pandas_udf with the plane matrix riding in the closure (kilobytes)
    -- the expression formulation (out_dim zip_with/aggregate dots per
    row) hit Spark's interpreted-lambda path and measured 1.4s for 2k
    vectors at sf0.1; the matmul is milliseconds. BLAS-vs-sequential fp
    reassociation is ~1e-13, absorbed by the 1e-4 rounding grid.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    P = np.array(_hyperplanes(dim, out_dim, seed), dtype=np.float64).T

    @pandas_udf("array<double>")
    def _proj(vecs: pd.Series) -> pd.Series:
        V = np.array(vecs.tolist(), dtype=np.float64)
        return pd.Series(list(np.round(V @ P, 4)))

    return df.select(
        F.col(id_col).alias("vec_id"),
        F.posexplode(_proj(F.col(vec_col))).alias("j", "val"),
    )


# ---------------------------------------------------------------------------
# Product quantization (IVF-PQ's storage half): 64d float (512 B) -> m
# uint8 codes (8 B), a 64x memory/shuffle compression with table-lookup
# (ADC) distance. At 100 TB the encoded corpus + codebooks fit where raw
# vectors cannot: codes ride every shuffle, raw vectors stay in cold
# storage, and a re-rank pass fetches raw vectors for the candidate set
# only.
# ---------------------------------------------------------------------------


def pq_codebooks(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    n_codes: int = 16,
) -> list[list[list[float]]]:
    """Per-subspace codebooks from a deterministic corpus sample: the
    first ``n_codes`` vectors (by id), sliced into ``m`` equal subspaces
    — same seeding rule as ivf_assign, so any engine (and the DuckDB
    oracle) regenerates the identical codebooks. Returns
    codebooks[sub][code] = centroid subvector. A k-means refinement
    would drop in here without changing encode/query plans."""
    seeds = (
        df.orderBy(F.col(id_col).asc()).limit(n_codes).select(vec_col).collect()
    )
    dim = len(seeds[0][0])
    d_sub = dim // m
    return [
        [list(r[0][s * d_sub : (s + 1) * d_sub]) for r in seeds]
        for s in range(m)
    ]


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Encode each vector as its per-subspace nearest codebook entry
    (squared L2, ties to the lowest code index). Long-form output
    (vec_id, sub, code) — one tiny int per subspace.

    Scale shape: pure map, no shuffle. The argmin is a per-Arrow-batch
    numpy matmul in a pandas_udf (the interpreted-lambda formulation
    would evaluate m*n_codes*d_sub closures per ROW — the same pathology
    ivf_assign's docstring measured); codebooks ride in the UDF closure
    (m * n_codes * d_sub floats, kilobytes)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    m = len(codebooks)
    d_sub = len(codebooks[0][0])
    C = np.array(codebooks, dtype=np.float64)  # (m, n_codes, d_sub)
    Csq = (C * C).sum(axis=2)  # (m, n_codes)

    @pandas_udf("array<int>")
    def _enc(vecs: pd.Series) -> pd.Series:
        V = np.array(vecs.tolist(), dtype=np.float64)
        n = V.shape[0]
        Vs = V.reshape(n, m, d_sub)
        # dist2[n, m, n_codes] = ||v||^2 - 2 v.c + ||c||^2 ; argmin over
        # codes picks the FIRST (lowest) index on exact ties, matching
        # the oracle's ORDER BY d, cidx
        cross = np.einsum("nmd,mkd->nmk", Vs, C)
        d2 = (Vs * Vs).sum(axis=2)[:, :, None] - 2.0 * cross + Csq[None, :, :]
        codes = d2.argmin(axis=2).astype("int32")
        return pd.Series(list(codes))

    return df.select(
        F.col(id_col).alias("vec_id"), _enc(F.col(vec_col)).alias("__codes")
    ).select("vec_id", F.posexplode("__codes").alias("sub", "code"))


def pq_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    m: int = 8,
    n_codes: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k by asymmetric distance computation: the query's
    per-(subspace, code) squared-L2 table is computed once driver-side
    (m * n_codes doubles) and inlined as plan literals; each encoded
    vector's distance is m array lookups + adds, no vector math at scan
    time. Output (id, approx_dist) ascending.

    Scale shape: encode is the pure-map pass above; the lookup-sum runs
    in whole-stage codegen over literal arrays; top-k is Spark's
    TakeOrdered. At 100 TB the encoded table would be the materialized
    Delta artifact (like build_ivf_index) and raw-vector re-rank would
    read only these k ids."""
    cbs = pq_codebooks(df, vec_col, id_col, m, n_codes)
    d_sub = len(cbs[0][0])
    qsub = [query_vec[s * d_sub : (s + 1) * d_sub] for s in range(m)]
    table = [
        [sum((x - y) ** 2 for x, y in zip(qsub[s], c)) for c in cbs[s]]
        for s in range(m)
    ]
    enc = pq_encode(df, cbs, vec_col, id_col)
    lut = F.array(*[F.array(*[F.lit(d) for d in row]) for row in table])
    dist = F.element_at(F.element_at(lut, F.col("sub") + 1), F.col("code") + 1)
    return (
        enc.withColumn("__d", dist)
        .groupBy(F.col("vec_id").alias("id"))
        .agg(F.round(F.sum("__d"), 4).alias("approx_dist"))
        .orderBy(F.asc("approx_dist"), F.asc("id"))
        .limit(k)
    )


def pq_topk_rerank(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    shortlist: int = 40,
    m: int = 8,
    n_codes: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """The production ANN shape: PQ/ADC produces a cheap ``shortlist``
    of candidates (8 table lookups per vector, no vector math), then
    ONLY those rows' raw vectors are re-scored with exact cosine. Recall
    approaches exact top-k as shortlist/k grows while the full-precision
    work stays O(shortlist), not O(corpus).

    Scale shape: stage 1 is pq_topk over the encoded corpus (codes are
    64x smaller than the vectors, so at 100 TB the shortlist scan reads
    the compact encoded table, cf. build_ivf_index's materialization
    pattern); stage 2 is a semi-join of the raw vectors against
    ``shortlist`` ids — a broadcast of k*few ids — followed by exact
    scoring of that handful. Output matches cosine_topk's
    (id, score) contract."""
    cand = pq_topk(
        df, query_vec, k=shortlist, m=m, n_codes=n_codes,
        vec_col=vec_col, id_col=id_col,
    ).select(F.col("id").alias("__cand_id"))
    q = _query_vec_column(query_vec)
    return (
        df.join(
            F.broadcast(cand), F.col(id_col) == F.col("__cand_id"), "inner"
        )
        .select(
            F.col(id_col).alias("id"),
            F.round(cosine(F.col(vec_col), q), 4).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(k)
    )


def kmeans(
    df: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[DataFrame, list[list[float]]]:
    """Distributed Lloyd's k-means over an embedding column — the topic
    / clutter clustering a curation pipeline runs before cluster-balanced
    sampling or SemDeDup. Deterministic for cross-engine replay: seeds =
    first ``k`` vectors by id (the IVF/PQ seeding convention), a FIXED
    number of iterations, squared-L2 distances rounded to 4dp before the
    argmin (ties -> lowest centroid index; the grid is ~9 orders above
    BLAS-vs-sequential-fold fp noise), and recomputed centroids rounded
    to 8dp (dyadic inputs cannot land on a half-boundary of a decimal
    grid, so round() agrees across engines).

    Scale shape: assignment is one (batch x dim) @ (dim x k) matmul per
    Arrow batch (centroids ride in the UDF closure — k*dim floats);
    the update is a posexplode + per-(cluster, dim) partial-agg avg, so
    only k*dim aggregated rows ever reach the driver per iteration (the
    model, not the data). Iterations cut lineage via the fresh
    assignment column only — no checkpointing needed at fixed n_iter.
    Reference analogue: the clustering delta-rs users run via polars/
    sklearn sidecars; here it stays on the cluster.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    seeds = (
        df.orderBy(F.col(id_col).asc()).limit(k).select(vec_col).collect()
    )
    C = np.array([list(r[0]) for r in seeds], dtype=np.float64)

    def _make_assign(Cmat):
        # factory scope: each iteration's UDF must capture ITS centroid
        # matrix, not a shared loop variable (lazy evaluation would
        # otherwise read a later iteration's centroids)
        @pandas_udf("int")
        def _assign(vecs: pd.Series) -> pd.Series:
            V = np.array(vecs.tolist(), dtype=np.float64)
            # (n, k) squared-L2 distance matrix, rounded to the tie grid
            d = ((V[:, None, :] - Cmat[None, :, :]) ** 2).sum(-1)
            d = np.round(d, 4)
            return pd.Series(d.argmin(axis=1).astype("int32"))  # ties -> lowest

        return _assign

    assigned = None
    for it in range(n_iter):
        assigned = df.withColumn("cluster", _make_assign(C)(F.col(vec_col)))
        if it == n_iter - 1:
            break
        means = (
            assigned.select(
                "cluster",
                F.posexplode(F.col(vec_col).cast("array<double>")).alias(
                    "__i", "__x"
                ),
            )
            .groupBy("cluster", "__i")
            .agg(F.avg("__x").alias("__m"))
            .collect()
        )
        C_new = np.round(C, 8)  # empty clusters keep the previous centroid
        by_cluster: dict[int, dict[int, float]] = {}
        for r in means:
            by_cluster.setdefault(r["cluster"], {})[r["__i"]] = r["__m"]
        for ci, dims in by_cluster.items():
            for i, v in dims.items():
                C_new[ci, i] = round(v, 8)
        C = C_new

    return assigned.select(id_col, "cluster"), [list(row) for row in C]


def kmeans_exemplars(
    df: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    per_cluster: int = 25,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Cluster-balanced sampling: run kmeans, then keep the
    ``per_cluster`` most CENTRAL members of each cluster (distance to
    own centroid asc, id tie-break) — the curation shape for building a
    topic-balanced subset / few-shot exemplar pool where raw sampling
    would mirror the corpus skew.

    Scale shape: one extra map pass (the same matmul the assignment
    used, emitting the own-cluster distance on the kmeans 4dp grid) and
    one rank window keyed by cluster — k is small so per-cluster rank
    windows are the bounded-skew case of domain_cap's note."""
    import numpy as np
    from pyspark.sql import Window as W
    from pyspark.sql.functions import pandas_udf

    _assigned, cents = kmeans(df, k=k, n_iter=n_iter, vec_col=vec_col, id_col=id_col)
    C = np.array(cents, dtype=np.float64)

    @pandas_udf("struct<cluster: int, dist: double>")
    def _assign_dist(vecs: pd.Series) -> pd.DataFrame:
        V = np.array(vecs.tolist(), dtype=np.float64)
        d = np.round(((V[:, None, :] - C[None, :, :]) ** 2).sum(-1), 4)
        cl = d.argmin(axis=1)
        return pd.DataFrame(
            {"cluster": cl.astype("int32"), "dist": d[np.arange(len(cl)), cl]}
        )

    r = F.row_number().over(
        W.partitionBy("cluster").orderBy(F.asc("dist"), F.asc(id_col))
    )
    return (
        df.withColumn("__cd", _assign_dist(F.col(vec_col)))
        .select(id_col, F.col("__cd.cluster").alias("cluster"), F.col("__cd.dist").alias("dist"))
        .withColumn("rank_in_cluster", r)
        .filter(F.col("rank_in_cluster") <= per_cluster)
        .select(id_col, "cluster", F.col("rank_in_cluster").cast("int").alias("rank_in_cluster"))
    )


def hard_negatives(
    df: DataFrame,
    n_anchors: int = 20,
    k: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training data: for each
    anchor (the first ``n_anchors`` ids — the deterministic-sample
    convention), the ``k`` most cosine-similar vectors whose LABEL
    differs. These near-but-wrong neighbors are the negatives that make
    a contrastive/triplet objective learn anything.

    Scale shape: the anchor side is broadcast (bounded by n_anchors),
    so the corpus is scanned once — cost is O(corpus x anchors) map
    work plus one per-anchor top-k rank window over the label-mismatch
    survivors. At real scale the exact scan swaps for the PQ/IVF
    shortlist (pq_topk_rerank) per anchor without changing the output
    contract."""
    anchors = (
        df.filter(F.col(id_col) < n_anchors)
        .select(
            F.col(id_col).alias("anchor_id"),
            F.col(vec_col).alias("__av"),
            F.col(label_col).alias("__alabel"),
        )
    )
    from pyspark.sql import Window as W

    pairs = (
        df.crossJoin(F.broadcast(anchors))
        .filter(
            (F.col(label_col) != F.col("__alabel"))
            & (F.col(id_col) != F.col("anchor_id"))
        )
        .select(
            "anchor_id",
            F.col(id_col).alias("neighbor_id"),
            F.col(label_col).alias("neighbor_label"),
            F.round(cosine(F.col(vec_col), F.col("__av")), 4).alias("score"),
        )
    )
    r = F.row_number().over(
        W.partitionBy("anchor_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    )
    return pairs.withColumn("__r", r).filter(F.col("__r") <= k).drop("__r")


def embedding_outliers(
    df: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    quantile: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Embedding-space outlier detection: vectors whose distance to
    their own kmeans centroid exceeds the cluster's ``quantile``
    distance — the garbage-embedding filter (corrupt inputs, wrong
    modality, encoder failures) a curation pipeline runs before
    similarity-based ops trust the space. Returns (id, cluster, dist,
    is_outlier) for every vector.

    Scale shape: one assignment map pass emitting (cluster, dist) on the
    kmeans 4dp grid, one per-cluster percentile_approx (k rows of
    state), one broadcast threshold join back — no per-row driver work.
    percentile_approx is exact below its accuracy threshold, so a
    DuckDB quantile_disc oracle can gate this at sf scales (r06: rotate
    a gate query in)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    _assigned, cents = kmeans(df, k=k, n_iter=n_iter, vec_col=vec_col, id_col=id_col)
    C = np.array(cents, dtype=np.float64)

    @pandas_udf("struct<cluster: int, dist: double>")
    def _assign_dist(vecs: pd.Series) -> pd.DataFrame:
        V = np.array(vecs.tolist(), dtype=np.float64)
        d = np.round(((V[:, None, :] - C[None, :, :]) ** 2).sum(-1), 4)
        cl = d.argmin(axis=1)
        return pd.DataFrame(
            {"cluster": cl.astype("int32"), "dist": d[np.arange(len(cl)), cl]}
        )

    # pin the (id, cluster, dist) assignment: the per-cluster threshold
    # agg AND the join-back both read it — without the checkpoint each
    # re-runs the distance pandas UDF over every vector (guide §4: pay
    # the Python boundary once). Narrow: id + int + double per vector.
    scored = df.withColumn("__cd", _assign_dist(F.col(vec_col))).select(
        id_col,
        F.col("__cd.cluster").alias("cluster"),
        F.col("__cd.dist").alias("dist"),
    ).localCheckpoint(eager=True)
    thresholds = scored.groupBy("cluster").agg(
        F.percentile_approx("dist", quantile).alias("__thr")
    )
    return (
        scored.join(F.broadcast(thresholds), "cluster")
        .select(
            id_col,
            "cluster",
            "dist",
            (F.col("dist") > F.col("__thr")).alias("is_outlier"),
        )
    )


def ann_recall(
    df: DataFrame,
    n_anchors: int = 20,
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Recall@k of the IVF approximate search against exact cosine,
    per anchor — the index-quality eval a pipeline runs before trusting
    an ANN index for dedup/retrieval (is n_probe high enough? are the
    lists balanced?). Anchors = first ``n_anchors`` vectors by id, self
    excluded from both rankings.

    Scale shape: ONE corpus assignment pass (ivf_assign's batched
    matmul), exact side = broadcast-anchors x corpus scan + per-anchor
    rank window (the hard_negatives shape), ANN side = the probed-list
    subset only; the driver touches anchors and centroids (model-sized,
    n_anchors*dim + n_lists*dim floats). Deterministic: scores on the
    4dp grid, id tie-breaks, probe ranking identical to ivf_topk.

    Returns (anchor_id, n_hits, recall)."""
    import math as _math

    assigned, centroids = ivf_assign(df, n_lists, vec_col, id_col)
    # Both rankings read the same corpus: materialize ONE assignment pass
    # and serve the exact side from it too (it ignores __list) — without
    # this the eval pays three base scans plus an assignment-matmul
    # recompute (measured 4.4s -> 1.8s warm at sf0.1)
    assigned = assigned.localCheckpoint(eager=True)
    anchors = (
        df.orderBy(F.col(id_col).asc())
        .limit(n_anchors)
        .select(F.col(id_col).alias("anchor_id"), F.col(vec_col).alias("__av"))
    )
    spark = df.sparkSession
    a_rows = anchors.collect()

    def _probes(av):
        ranked = sorted(
            centroids,
            key=lambda c: -sum(x * y for x, y in zip(av, c[1]))
            / (_math.sqrt(sum(x * x for x in c[1])) or 1.0),
        )
        return [i for i, _ in ranked[:n_probe]]

    probe_pairs = [
        (r["anchor_id"], lst) for r in a_rows for lst in _probes(list(r["__av"]))
    ]
    probe_df = spark.createDataFrame(probe_pairs, ["anchor_id", "__plist"])

    from pyspark.sql import Window as W

    rnk = F.row_number().over(
        W.partitionBy("anchor_id").orderBy(F.desc("__s"), F.asc("__nb"))
    )

    def _topk(pairs: DataFrame) -> DataFrame:
        return (
            pairs.withColumn("__rn", rnk).filter(F.col("__rn") <= k).select(
                "anchor_id", "__nb"
            )
        )

    exact = _topk(
        assigned.crossJoin(F.broadcast(anchors))
        .filter(F.col(id_col) != F.col("anchor_id"))
        .select(
            "anchor_id",
            F.col(id_col).alias("__nb"),
            F.round(cosine(F.col(vec_col), F.col("__av")), 4).alias("__s"),
        )
    )
    ann = _topk(
        assigned.join(
            F.broadcast(probe_df), F.col("__list") == F.col("__plist")
        )
        .join(F.broadcast(anchors), "anchor_id")
        .filter(F.col(id_col) != F.col("anchor_id"))
        .select(
            "anchor_id",
            F.col(id_col).alias("__nb"),
            F.round(cosine(F.col(vec_col), F.col("__av")), 4).alias("__s"),
        )
    )
    hits = exact.join(ann, ["anchor_id", "__nb"]).groupBy("anchor_id").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    base = anchors.select("anchor_id")
    return (
        base.join(hits, "anchor_id", "left_outer")
        .select(
            "anchor_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
        )
        .withColumn(
            "recall",
            F.round(F.col("n_hits").cast("double") / F.lit(float(k)), 4),
        )
    )


def sq8_bounds(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-dimension min/max over the corpus as a single-row DataFrame
    (``mn``/``mx`` array<double>) — the scalar-quantization model.

    Scale shape: posexplode -> groupBy(dim) min/max. The partial
    aggregate combines each task's rows down to ``dim`` rows before the
    shuffle, so the exchange moves O(partitions * dim) scalars no matter
    the corpus size; the final assembly is one dim-row sort into two
    arrays. Fully declarative — the model never touches the driver."""
    byd = (
        df.select(F.posexplode(F.col(vec_col).cast("array<double>")).alias("i", "x"))
        .groupBy("i")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    )
    return byd.groupBy().agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "mn"))), lambda s: s["mn"]
        ).alias("mn"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "mx"))), lambda s: s["mx"]
        ).alias("mx"),
    )


def sq8_quantize(
    df: DataFrame,
    bounds: DataFrame | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Scalar int8 quantization: each dimension mapped to a 0..255 code
    on the corpus's per-dimension [min, max] range — 4x smaller than
    float32, 8x smaller than the double math it replaces, the standard
    cheap compression tier under PQ. Returns (vec_id, codes array<int>).

    The code is ``floor((x - mn) / (mx - mn) * 255 + 0.5)`` (explicit
    half-up — identical IEEE arithmetic in Spark and DuckDB, unlike the
    engines' differing round() conventions); constant dimensions encode
    to 0. The single-row bounds model is broadcast, never shuffled with
    the data."""
    b = bounds if bounds is not None else sq8_bounds(df, vec_col)
    mn, mx = F.col("mn"), F.col("mx")
    code = lambda v, i: (  # noqa: E731
        F.when(F.element_at(mx, i + 1) == F.element_at(mn, i + 1), F.lit(0))
        .otherwise(
            F.floor(
                (v - F.element_at(mn, i + 1))
                / (F.element_at(mx, i + 1) - F.element_at(mn, i + 1))
                * F.lit(255.0)
                + F.lit(0.5)
            )
        )
        .cast("int")
    )
    return (
        df.crossJoin(F.broadcast(b))
        .select(
            F.col(id_col).alias("vec_id"),
            F.transform(F.col(vec_col).cast("array<double>"), code).alias("codes"),
        )
    )


def sq8_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k by cosine over scalar-quantized vectors
    (asymmetric: the stored side is dequantized from its int8 codes, the
    query stays full-precision). Output (id, score) descending — the
    same contract as cosine_topk, so recall is directly measurable
    against the exact scan.

    Scale shape: one bounds aggregate (dim-row shuffle), then a pure map
    over the codes — dequantize + dot + norm are codegen array
    expressions; top-k is TakeOrdered. At 100 TB the codes table is the
    materialized artifact (4x smaller scans than raw float32) and the
    bounds ride in the table config like build_ivf_index's centroids."""
    b = sq8_bounds(df, vec_col)
    q = _query_vec_column(query_vec)
    mn, mx = F.col("mn"), F.col("mx")
    dequant = lambda c, i: (  # noqa: E731
        F.element_at(mn, i + 1)
        + c.cast("double")
        * (F.element_at(mx, i + 1) - F.element_at(mn, i + 1))
        / F.lit(255.0)
    )
    codes = sq8_quantize(df, bounds=b, vec_col=vec_col, id_col=id_col)
    deq = codes.crossJoin(F.broadcast(b)).select(
        "vec_id", F.transform("codes", dequant).alias("y")
    )
    return (
        deq.select(
            F.col("vec_id").alias("id"),
            F.round(cosine(F.col("y"), q), 4).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(k)
    )


def semantic_contamination(
    corpus: DataFrame,
    bench: DataFrame,
    threshold: float = 0.92,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Embedding-space benchmark decontamination: for every corpus
    vector, the maximum cosine against ANY benchmark vector and the
    benchmark id achieving it (ties -> lowest id); ``contaminated`` is
    the ``threshold`` flag. The semantic complement of the n-gram
    containment pass (text.containment_scores): paraphrased or
    re-formatted test items that share no 5-gram still collide in
    embedding space.

    Scale shape: the benchmark frame is broadcast (eval sets are
    thousands of rows, never corpus-scaled); per-(corpus x bench)
    cosines reduce through groupBy(id).agg(max(struct(...))) — partial
    aggregation, so the shuffle carries ONE row per corpus vector, not
    |bench| rows, and skewed ids cannot exist (ids are unique). No
    driver state."""
    b = F.broadcast(
        bench.select(
            F.col(id_col).alias("bench_id"), F.col(vec_col).alias("__bv")
        )
    )
    scored = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("__cv")
    ).crossJoin(b).select(
        "id",
        "bench_id",
        F.round(cosine(F.col("__cv"), F.col("__bv")), 4).alias("cos"),
    )
    best = scored.groupBy("id").agg(
        F.max(
            F.struct(
                F.col("cos"), (-F.col("bench_id")).alias("__nb")
            )
        ).alias("b")
    )
    return best.select(
        F.col("id").alias(id_col),
        (-F.col("b.__nb")).cast("long").alias("bench_id"),
        F.col("b.cos").alias("max_cos"),
        (F.col("b.cos") >= F.lit(threshold)).alias("contaminated"),
    )


def semantic_contamination_indexed(
    spark,
    index_path: str,
    bench: DataFrame,
    threshold: float = 0.92,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    include_unprobed: bool = True,
) -> DataFrame:
    """IVF-pruned benchmark decontamination over a MATERIALIZED index
    (build_ivf_index): instead of scoring |corpus| x |bench| pairs,
    each bench vector probes only its ``n_probe`` nearest inverted
    lists, so the scan reads just the probed partitions through the
    Delta log's file skipping — the 100 TB path when the corpus
    already maintains an ANN index.

    Exactness contract: a contaminated pair (cos >= threshold) is a
    near-duplicate, and near-duplicates co-assign to nearby centroids
    with overwhelming margin — so the CONTAMINATED set matches the
    brute-force scan exactly (driver-gate-verified against the exact
    SQL oracle at both SFs). Below the threshold the report is only a
    lower bound: vectors outside every probed list surface with
    contaminated = false and NULL bench_id/max_cos (never scored), and
    a scored vector's max is over probed pairs only. Same output
    schema as ``semantic_contamination``.

    ``include_unprobed=True`` NULL-pads the report with every corpus
    vector outside the probed lists — schema parity with the exact
    variant, but it re-introduces a full (id-column) scan of the
    index, which at real scale costs as much as everything the
    pruning saved. Pass ``include_unprobed=False`` for the scale
    path: only probed vectors appear, which is all a decontamination
    consumer filters on anyway.

    Scale shape: centroid ranking is a |bench| x n_lists broadcast
    product, computed ONCE and materialized to the driver as the probe
    frame (|bench| x n_probe rows — eval-set-sized, the only driver
    state); candidate scoring joins the probed partitions against the
    re-broadcast (bench_id, vec) pairs and reduces through the same
    one-row-per-corpus-vector partial-aggregated max."""
    import json as _json

    from delta_rs_spark.table import DeltaTable

    t = DeltaTable(index_path, spark=spark)
    centroids = _json.loads(t.metadata().configuration[_IVF_CENTROIDS_KEY])
    cdf = spark.createDataFrame(
        [(int(i), [float(x) for x in c]) for i, c in centroids],
        "list int, cvec array<double>",
    )
    b = bench.select(F.col(id_col).alias("bench_id"), F.col(vec_col).alias("__bv"))
    from pyspark.sql import Window as W

    ranked = b.crossJoin(F.broadcast(cdf)).select(
        "bench_id",
        "__bv",
        "list",
        # 4dp grid + id tiebreak: probe SELECTION must be bit-identical
        # across engines (the oracle replays it), and near-tied
        # centroids under fp reassociation would otherwise flip lists
        F.round(cosine(F.col("__bv"), F.col("cvec")), 4).alias("__s"),
    )
    # same preference as ivf_assign on ties: higher centroid index wins
    wp = W.partitionBy("bench_id").orderBy(F.col("__s").desc(), F.col("list").desc())
    probes = (
        ranked.withColumn("__r", F.row_number().over(wp))
        .filter(F.col("__r") <= n_probe)
        .select("bench_id", "__bv", "list")
    )
    # collect the probe frame ONCE — |bench| x n_probe rows, the only
    # driver materialization — and rebuild it as a local broadcast
    # frame; leaving `probes` lazy would re-run the whole bench-scan +
    # centroid-ranking subplan a second time inside the returned plan
    probe_rows = probes.collect()
    probe_lists = sorted({r["list"] for r in probe_rows})
    if not probe_lists:
        cand = t.to_df(columns=["id", "vec", "list"]).limit(0)
    else:
        cand = t.to_df(
            predicate=f"list IN ({', '.join(str(i) for i in probe_lists)})"
        )
    probes_local = spark.createDataFrame(probe_rows, probes.schema)
    scored = cand.join(F.broadcast(probes_local), "list").select(
        "id",
        "bench_id",
        F.round(cosine(F.col("vec"), F.col("__bv")), 4).alias("cos"),
    )
    best = scored.groupBy("id").agg(
        F.max(
            F.struct(F.col("cos"), (-F.col("bench_id")).alias("__nb"))
        ).alias("b")
    )
    if include_unprobed:
        best = t.to_df(columns=["id"]).join(best, "id", "left")
    return best.select(
        F.col("id").alias(id_col),
        (-F.col("b.__nb")).cast("long").alias("bench_id"),
        F.col("b.cos").alias("max_cos"),
        F.coalesce(
            F.col("b.cos") >= F.lit(threshold), F.lit(False)
        ).alias("contaminated"),
    )
