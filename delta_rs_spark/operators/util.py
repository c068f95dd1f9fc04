"""Shared helpers for table operators."""

from __future__ import annotations

import os
import re
import unicodedata
import urllib.parse

from delta_rs_spark.log.actions import Add

_FILE_SCHEME_RE = re.compile(r"^file:/+")
# any scheme followed by a slash is a URI, not a path: 'file:/x' (the
# single-slash spelling Spark's Path.toUri emits) and 's3:/b/x' must
# both be recognized, not just the '://' double-slash form (r11 ADVICE:
# the old '://'-only regex let 'file:/tmp/x' fall through verbatim and
# create a local directory literally named 'file:' — the exact failure
# this guard exists to prevent)
_ANY_SCHEME_RE = re.compile(r"^([a-zA-Z][a-zA-Z0-9+.\-]*):/")


def local_table_path(uri) -> str:
    """Table URI -> local filesystem path. Every ``file:`` spelling
    (``file:/x``, ``file:///x``) normalizes to the plain absolute path;
    bare paths pass through; any OTHER scheme (s3a://, abfss://,
    gs://, hdfs://, ...) raises a clear DeltaError instead of silently
    treating the URI as a relative local directory (r10: the old strip
    would have created a local dir literally named 's3:'). A ``file:``
    URI with a non-empty authority (``file://host/x``) is rejected too
    — stripping it to the relative path ``host/x`` would silently
    re-root a remote-host reference inside the cwd. Object-store access
    belongs to the Spark/Hadoop filesystem configuration layer; this
    engine's log/store seam operates on local/posix paths."""
    from delta_rs_spark.log.commit import DeltaError

    s = str(uri)
    m = _ANY_SCHEME_RE.match(s)
    if m is None:
        return s  # bare path (a slashless 'a:b' stays a posix filename)
    if m.group(1).lower() != "file":
        raise DeltaError(
            f"unsupported table URI scheme {m.group(1)!r} in {s!r}: this "
            "build operates on local/posix paths (bare or file:); cloud "
            "object stores are reached through the Spark/Hadoop "
            "filesystem configuration, not a path-level fallback"
        )
    netloc = urllib.parse.urlsplit(s).netloc
    if netloc:
        raise DeltaError(
            f"file: URI with non-empty authority {netloc!r} in {s!r}: a "
            "remote-host file reference cannot be resolved as a local "
            "path (file:///... or file:/... address the local filesystem)"
        )
    return _FILE_SCHEME_RE.sub("/", s)


def encode_abs_add_path(abs_path: str) -> str:
    """Raw absolute filesystem path -> the PROTOCOL.md spelling for an
    absolute Add.path reference: a ``file:`` URI with RFC 2396
    percent-encoding (r10, ADVICE: clone adds previously stored the raw
    filesystem path, off-spec for external readers when the path
    carries spaces or literal ``%``)."""
    return "file://" + urllib.parse.quote(abs_path, safe="/")


def resolve_add_path(table_path: str, add_path: str) -> str:
    """Add.path -> raw filesystem path. Relative paths join the table
    root unchanged (partition dirs are PHYSICALLY written in their
    encoded spelling, so stored == on-disk for THIS engine's tables).
    Absolute ``file:`` URIs strip the scheme and percent-DECODE (the
    clone spelling — the scheme is the decode flag, so a literal
    ``%XX`` in a raw legacy path is never mis-decoded). Bare absolute
    paths pass through (``os.path.join`` ignores the root for them).

    Spec-compliant FOREIGN writers URL-encode the relative path itself
    (PROTOCOL.md: add.path is a URL-encoded relative path), so an
    on-disk dir ``x=B%20B`` is logged as ``x=B%2520B`` (reference
    corpus delta-0.8.0-special-partition). For those, fall back to the
    decoded spelling — but ONLY when the raw join does not exist and
    the decoded one does, so legacy raw-%XX paths from this engine
    keep resolving byte-for-byte. The two extra stat calls happen only
    for %-carrying paths whose raw spelling is absent."""
    if add_path.startswith("file:"):
        return urllib.parse.unquote(_FILE_SCHEME_RE.sub("/", add_path))
    p = os.path.join(table_path, add_path)
    if "%" in add_path and not os.path.exists(p):
        q = os.path.join(table_path, urllib.parse.unquote(add_path))
        if os.path.exists(q):
            return q
    return p


# characters java.net.URI's multi-argument constructor leaves as they
# are in a path: unreserved, the path punctuation ";:@&=+$," and "/"
_URI_PATH_UNSAFE = re.compile(r"[^A-Za-z0-9\-_.!~*'();:@&=+$,/]")


def _uri_quote(m: re.Match) -> str:
    ch = m.group()
    if ch > "\x9f" and unicodedata.category(ch) not in ("Zs", "Zl", "Zp"):
        return ch  # printable non-ASCII stays as it is
    return "".join(f"%{b:02X}" for b in ch.encode())


def spark_file_uri(path: str) -> str:
    """A data file's filesystem path -> the string Spark reports for it
    in ``_metadata.file_path``: ``file:`` and the absolute path quoted by
    java.net.URI's multi-argument rule (Hadoop's ``Path.toUri``), i.e.
    ASCII outside the unreserved and path-punctuation sets, spaces and
    controls as UTF-8 ``%XX``, every other character as it is. The one
    key a scanned row's file is known by: computed here once per file,
    so no row's path is ever parsed."""
    return "file:" + _URI_PATH_UNSAFE.sub(_uri_quote, os.path.abspath(path))


def add_paths_of(table_path: str, adds: list[Add], uris) -> list[str]:
    """The Add.path of each scanned file key in ``uris`` (see
    ``spark_file_uri``) among ``adds``. A key matching none raises — a
    silent miss would turn a rewrite into data loss."""
    by_uri = {spark_file_uri(resolve_add_path(table_path, a.path)): a.path for a in adds}
    missing = [u for u in uris if u not in by_uri]
    if missing:
        raise RuntimeError(
            f"scanned files {missing} not found among snapshot adds under {table_path}"
        )
    return [by_uri[u] for u in uris]


def find_touched_files(
    spark, snapshot, table_path: str, candidates: list[Add], predicate: str | None
) -> tuple[set[str], int]:
    """(Add.paths of the candidate files holding a row that matches
    ``predicate``, matching rows) — None matches every row; the
    reference's find_files (crates/core/src/operations/delete.rs,
    update.rs). One Spark job and no shuffle: the scan reads only the
    predicate's columns and each row's file key (``_metadata.file_path``
    as Spark reports it), a no-op sink drains it, and an ``observe()``
    on it collects the key set (O(files), never O(rows)) and the row
    count; ``add_paths_of`` maps the keys back to Adds. The observation
    sits in the job's final stage, so AQE cannot drop it (see
    writer.observed_metrics)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from delta_rs_spark.table import read_snapshot_df

    if not candidates:
        return set(), 0
    df = read_snapshot_df(
        spark, snapshot, table_path, files=candidates, file_path_col="__delta_rs_fp"
    )
    if predicate:
        df = df.filter(F.expr(predicate))
    obs = Observation()
    df.select("__delta_rs_fp").observe(
        obs, F.collect_set("__delta_rs_fp").alias("fps"), F.count(F.lit(1)).alias("n")
    ).write.format("noop").mode("overwrite").save()
    got = obs.get
    return set(add_paths_of(table_path, candidates, got["fps"])), got["n"]


def parse_rfc3339(s: str):
    """Datetime STRING -> tz-aware datetime, reference parity: naive
    strings are rejected (delta-rs parses RFC3339, and a string that
    silently means 'driver-local time' travels to a different version
    per machine). 'Z' is accepted as +00:00."""
    import datetime as _dt

    from delta_rs_spark.log.commit import DeltaError

    try:
        parsed = _dt.datetime.fromisoformat(s.replace("Z", "+00:00"))
    except ValueError as e:
        raise DeltaError(f"Failed to parse datetime string: {s!r}") from e
    if parsed.tzinfo is None:
        raise DeltaError(
            f"Failed to parse datetime string: {s!r} "
            "(timezone offset required, e.g. ...T00:47:31+00:00)"
        )
    return parsed
