"""Source scan: one pruner and one reader of table files.

Every decision "which files of a snapshot can hold rows matching a
predicate" goes through ``plans.skipping.candidate_files``, so
``prune_files`` and ``snapshot_physical_of`` are called nowhere else in
the package. No operator or streaming module opens table files with
``spark.read``: they read through ``table.read_snapshot_df``. The one
exception is ``convert.py``'s schema probe of foreign parquet, which is
not a Delta table yet.
"""

import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parents[1] / "delta_rs_spark"

_READ = re.compile(r"\bspark(?:Session)?\.read\b")
_PRUNE = re.compile(r"\b(?:prune_files|snapshot_physical_of)\(")
# convert.py reads the schema of the parquet files it is converting
_ALLOWED_READS = {("operators/convert.py", "spark.read.parquet(files[0][0]).schema")}


def _lines(paths):
    for p in paths:
        rel = p.relative_to(PKG).as_posix()
        for n, line in enumerate(p.read_text().splitlines(), 1):
            code = line.split("#", 1)[0]
            yield rel, n, code


def test_operators_and_streaming_read_through_read_snapshot_df():
    paths = sorted(
        p for sub in ("operators", "streaming") for p in (PKG / sub).glob("*.py")
    )
    assert paths
    bad = [
        f"{rel}:{n}: {code.strip()}"
        for rel, n, code in _lines(paths)
        if _READ.search(code)
        and not any(rel == f and allowed in code for f, allowed in _ALLOWED_READS)
    ]
    assert not bad, "read table files through table.read_snapshot_df:\n" + "\n".join(bad)


def test_files_are_pruned_only_through_candidate_files():
    paths = sorted(
        p for p in PKG.rglob("*.py") if p.relative_to(PKG).as_posix() != "plans/skipping.py"
    )
    assert paths
    bad = [
        f"{rel}:{n}: {code.strip()}"
        for rel, n, code in _lines(paths)
        if _PRUNE.search(code) and not code.lstrip().startswith("def ")
    ]
    assert not bad, "prune through plans.skipping.candidate_files:\n" + "\n".join(bad)
