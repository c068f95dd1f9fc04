"""bench.py contention guard: a live foreign Spark session must be
detected before benching (r05: the recorded headline embedded ~15%
uniform inflation from a concurrent session; the rule "never bench
under concurrent Spark" is now mechanical, not remembered)."""

import os
import subprocess
import sys
import time


def _import_bench():
    import importlib.util

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "bench.py")
    spec = importlib.util.spec_from_file_location("bench_mod", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_alien_spark_session_detected(spark):
    """The pytest session's own JVM is a foreign session from bench.py's
    point of view (not in its ancestry) — the guard must see it."""
    bench = _import_bench()
    procs = bench._alien_spark_procs()
    assert procs, "live Spark JVM not detected"
    assert any("org.apache.spark" in cmd or "pyspark" in cmd for _, cmd in procs)


def test_own_ancestry_excluded():
    """A decoy process whose cmdline carries the Spark marker is found;
    the current process tree never is."""
    bench = _import_bench()
    decoy = subprocess.Popen(
        [sys.executable, "-c", "import sys, time; time.sleep(30)", "org.apache.spark.decoy"],
    )
    try:
        deadline = time.time() + 10
        found = []
        while time.time() < deadline:
            found = [p for p, _ in bench._alien_spark_procs() if p == decoy.pid]
            if found:
                break
            time.sleep(0.2)
        assert found, "decoy Spark-marked process not detected"
        assert os.getpid() not in {p for p, _ in bench._alien_spark_procs()}
    finally:
        decoy.kill()
        decoy.wait()


def test_contention_gate_returns_after_drain():
    """The gate polls until the foreign session exits, then reports
    clear (filtered to the decoy pid: the test harness itself may hold
    a live Spark session)."""
    bench = _import_bench()
    decoy = subprocess.Popen(
        [sys.executable, "-c", "import sys, time; time.sleep(2)", "org.apache.spark.decoy"],
    )
    try:
        t0 = time.time()
        while time.time() - t0 < 15:
            left = [p for p, _ in bench._contention_gate(max_wait_s=0) if p == decoy.pid]
            if not left and decoy.poll() is not None:
                break
            time.sleep(0.5)
        assert decoy.poll() is not None
        assert decoy.pid not in {p for p, _ in bench._alien_spark_procs()}
    finally:
        if decoy.poll() is None:
            decoy.kill()
        decoy.wait()


def test_archive_slot(tmp_path):
    """A reduced-core rerun of the newest recorded round archives beside
    that round (r13's 8-core run once landed in the r14 slot); any other
    run takes the next round's slot, suffixed when a run with more cores
    already holds it."""
    import json

    bench = _import_bench()

    def put(name, cpus):
        (tmp_path / name).write_text(json.dumps({"cpus": cpus}))

    def slot(n_cores):
        return os.path.basename(bench.archive_slot(str(tmp_path), n_cores))

    assert slot(32) == "BENCH_DETAIL_r01.json"
    put("BENCH_r13.json", 32)
    put("BENCH_r13_c8.json", 8)  # not a round record
    assert slot(8) == "BENCH_DETAIL_r13_c8.json"
    assert slot(32) == "BENCH_DETAIL_r14.json"
    put("BENCH_r13.json", 8)
    assert slot(8) == "BENCH_DETAIL_r14.json"
    put("BENCH_DETAIL_r14.json", 32)  # round 14's main run, not yet recorded
    assert slot(8) == "BENCH_DETAIL_r14_c8.json"
    assert slot(32) == "BENCH_DETAIL_r14.json"
