"""Min-of-N bench for a subset of declared queries — same methodology
as bench.py (warm-up, noop sink, persistent-RDD drop, calibration
probes) for isolated A/B pairs.

Usage: python scripts/bench_subset.py q1 q2 ... [--n 3] [--out f.json]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    args = sys.argv[1:]
    n = 3
    out = None
    names = []
    i = 0
    while i < len(args):
        if args[i] == "--n":
            n = int(args[i + 1]); i += 2
        elif args[i] == "--out":
            out = args[i + 1]; i += 2
        else:
            names.append(args[i]); i += 1

    import __spark_entry__ as entry
    from delta_rs_spark.session import drop_cached_intermediates, get_spark

    spark = get_spark("bench-subset")
    qs = entry.queries()
    n_cores = spark.sparkContext.defaultParallelism

    def _noop_batch(it):
        yield from it

    spark.range(n_cores * 4, numPartitions=n_cores).mapInPandas(
        _noop_batch, "id long"
    ).write.format("noop").mode("overwrite").save()

    probes = {}
    pinned = "/root/testdata/sf0.01/lineitem.parquet"
    for key, mk in (
        ("cpu_probe_s", lambda: spark.range(1_000_000_000, numPartitions=n_cores)
            .selectExpr("sum(id * 3 + id % 7) AS s")),
        ("scan_probe_s", lambda: spark.read.parquet(pinned).selectExpr(
            "sum(l_extendedprice * (1 - l_discount)) AS rev",
            "count(distinct l_orderkey) AS n")),
    ):
        best = None
        for _ in range(3):
            t0 = time.time()
            mk().write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        probes[key] = round(best, 3)

    # warm-up pass
    for name in names:
        try:
            qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
        except Exception as e:
            print(f"WARN warmup {name}: {e}", file=sys.stderr)

    samples: dict[str, list[float]] = {name: [] for name in names}
    for _ in range(n):
        for name in names:
            drop_cached_intermediates(spark)
            t0 = time.time()
            qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
            samples[name].append(round(time.time() - t0, 3))
    times = {name: min(s) for name, s in samples.items()}
    res = {
        "queries": times,
        "samples": samples,
        "total": round(sum(times.values()), 3),
        "calibration": probes,
        "n": n,
    }
    print(json.dumps(res, indent=1, sort_keys=True))
    if out:
        with open(out, "w") as f:
            json.dump(res, f, indent=1, sort_keys=True)
    spark.stop()


if __name__ == "__main__":
    main()
