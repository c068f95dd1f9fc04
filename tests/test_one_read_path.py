"""Source scan: one pruner, one reader and one writer of table files.

Every decision "which files of a snapshot can hold rows matching a
predicate" goes through ``plans.skipping.candidate_files``, so
``prune_files`` and ``snapshot_physical_of`` are called nowhere else in
the package. No operator or streaming module opens table files with
``spark.read``: they read through ``table.read_snapshot_df``. The one
exception is ``convert.py``'s schema probe of foreign parquet, which is
not a Delta table yet. Parquet files are written only by ``writer.py``
and the fused data+change writer in ``operators/cdc.py``.
"""

import ast
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


# a DataFrameWriter sink, or a parquet writer outside Spark's
_SINKS = {"parquet", "save", "saveAsTable", "insertInto"}
_FILE_WRITERS = {"ParquetWriter", "write_table", "mapInArrow"}


def _receiver_chain(node):
    """The attribute names along a method chain, and its root."""
    names = []
    while isinstance(node, (ast.Call, ast.Attribute)):
        if isinstance(node, ast.Attribute):
            names.append(node.attr)
            node = node.value
        else:
            node = node.func
    return names, node


def _file_writes(tree):
    """Line numbers of the calls in ``tree`` that write parquet files; a
    ``write.format("noop")`` sink writes none."""
    writer_vars = {
        t.id
        for n in ast.walk(tree)
        if isinstance(n, ast.Assign) and "write" in _receiver_chain(n.value)[0]
        for t in n.targets
        if isinstance(t, ast.Name)
    }
    for n in ast.walk(tree):
        if not (isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)):
            continue
        if n.func.attr in _FILE_WRITERS:
            yield n.lineno
        elif n.func.attr in _SINKS:
            names, root = _receiver_chain(n.func.value)
            on_writer = "write" in names or getattr(root, "id", None) in writer_vars
            if on_writer and "format('noop')" not in ast.unparse(n.func.value):
                yield n.lineno


def test_file_writes_guard_flags_every_writer_shape():
    src = """
df.write.mode("overwrite").parquet(p)
w = df.write.partitionBy("k")
w.parquet(p)
df.write.format("parquet").save(p)
pq.write_table(t, p)
pyarrow.parquet.ParquetWriter(p, schema)
df.mapInArrow(f, "n long")
df.write.format("noop").mode("overwrite").save()
spark.read.parquet(p)
f.write(b"x")
"""
    assert list(_file_writes(ast.parse(src))) == [2, 4, 5, 6, 7, 8]


def test_parquet_files_are_written_only_by_the_writers():
    paths = [PKG / "table.py"] + sorted(
        p
        for sub in ("operators", "streaming", "functions", "plans")
        for p in (PKG / sub).glob("*.py")
        if p.relative_to(PKG).as_posix() != "operators/cdc.py"
    )
    assert len(paths) > 40
    bad = [
        f"{p.relative_to(PKG).as_posix()}:{n}"
        for p in paths
        for n in _file_writes(ast.parse(p.read_text()))
    ]
    assert not bad, "write files through writer.write_files or cdc.write_mutation:\n" + "\n".join(bad)
