"""Scaling-curve measurement for the dedup/ANN plane (VERDICT r03 #5).

Builds k-scaled corpora from sf0.1 documents (union of k copies with a
per-copy token rename, so duplicate DENSITY stays constant — every token
of copy k gets a `_k` suffix, which keeps within-copy near-dup structure
identical while making cross-copy shingle spaces disjoint; a plain union
of identical copies would instead grow pair counts quadratically by
construction and say nothing about the operator).

For each k it times:
  - minhash_lsh_candidates (banded LSH)      — expect ~linear in docs
  - simhash_near_dup_pairs (pigeonhole bands) — expect ~linear
  - ngram_jaccard_pairs -> connected_components — expect ~n log n

Prints a markdown table (paste into COVERAGE.md) with sec and sec/1k
docs; a near-flat sec/1k column = near-linear scaling.

Usage: python scripts/scaling_curve.py [k ...]   (default 1 2 4 8 16)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from delta_rs_spark.functions import dedup as D
from delta_rs_spark.session import get_spark
from delta_rs_spark.sources.tpch import load_table

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def scaled_corpus(spark, k: int):
    base = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    copies = [
        base.select(
            (F.col("doc_id") + F.lit(i * 10_000_000)).alias("doc_id"),
            F.regexp_replace("text", r"(\S+)", rf"$1_{i}").alias("text"),
        )
        for i in range(k)
    ]
    df = copies[0]
    for c in copies[1:]:
        df = df.union(c)
    n_part = min(32, max(2, k * 4))
    return df.repartition(n_part)


def timed(fn) -> float:
    t0 = time.time()
    fn().write.format("noop").mode("overwrite").save()
    return round(time.time() - t0, 2)


def main() -> None:
    ks = [int(a) for a in sys.argv[1:]] or [1, 2, 4, 8, 16]
    spark = get_spark("scaling-curve")
    ops = {
        "minhash_lsh": lambda docs: D.minhash_lsh_candidates(docs).filter(
            F.col("est_jaccard") >= 0.2
        ),
        "simhash_near_dup": lambda docs: D.simhash_near_dup_pairs(
            docs, max_hamming=3, bands=4
        ),
        "jaccard_cc": lambda docs: D.connected_components(
            D.ngram_jaccard_pairs(docs, threshold=0.2, shingle_size=3)
        ),
    }
    # warm-up at k=1 so JIT/codegen/worker-pool cost lands outside timing
    warm = scaled_corpus(spark, 1).localCheckpoint()
    for op in ops.values():
        op(warm).write.format("noop").mode("overwrite").save()
    warm.unpersist()

    rows = []
    for k in ks:
        docs = scaled_corpus(spark, k).localCheckpoint()  # isolate op cost
        n_docs = docs.count()
        rec = {"k": k, "n_docs": n_docs}
        for name, op in ops.items():
            rec[name] = timed(lambda: op(docs))
        docs.unpersist()
        rows.append(rec)
        print(f"done k={k}: {rec}", file=sys.stderr)

    print("| k | docs | " + " | ".join(f"{n} s | s/1k" for n in ops) + " |")
    print("|---" * (2 + 2 * len(ops)) + "|")
    for r in rows:
        cells = [str(r["k"]), str(r["n_docs"])]
        for n in ops:
            cells += [f"{r[n]:.2f}", f"{1000 * r[n] / r['n_docs']:.3f}"]
        print("| " + " | ".join(cells) + " |")
    spark.stop()


if __name__ == "__main__":
    main()
