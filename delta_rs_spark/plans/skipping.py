"""Stats-based file skipping + partition pruning over Add actions.

Mirrors the reference's pushdown negotiation
(reference: crates/core/src/delta_datafusion/table_provider/next/scan/plan.rs:484-664
— partition-only conjuncts are Exact, stats-servable conjuncts are
Inexact, everything else Unsupported) with a conservative Python
evaluator: a predicate is split into top-level AND conjuncts; each
conjunct we can parse as ``col <op> literal`` / ``col IN (...)`` /
``col BETWEEN a AND b`` prunes files via partition values (exact) or
min/max stats (interval overlap); unparseable conjuncts keep all files
(correctness never depends on skipping — Spark re-applies the full
predicate at scan time).
"""

from __future__ import annotations

import datetime as dt
import json
import re
from typing import Any

from delta_rs_spark.log.actions import Add

_NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"

_LIT_RE = (
    r"(?:DATE\s*'[^']*'|TIMESTAMP\s*'[^']*'|'[^']*'|-?\d+\.?\d*(?:[eE]-?\d+)?|true|false)"
)
_CMP_RE = re.compile(
    rf"^\s*([\w.]+)\s*(==|=|!=|<>|<=|>=|<|>)\s*({_LIT_RE})\s*$", re.IGNORECASE
)
_CMP_REV_RE = re.compile(
    rf"^\s*({_LIT_RE})\s*(==|=|!=|<>|<=|>=|<|>)\s*([\w.]+)\s*$", re.IGNORECASE
)
_IN_RE = re.compile(rf"^\s*([\w.]+)\s+IN\s*\(\s*({_LIT_RE}(?:\s*,\s*{_LIT_RE})*)\s*\)\s*$", re.IGNORECASE)
_BETWEEN_RE = re.compile(
    rf"^\s*([\w.]+)\s+BETWEEN\s+({_LIT_RE})\s+AND\s+({_LIT_RE})\s*$", re.IGNORECASE
)
_NULL_RE = re.compile(r"^\s*([\w.]+)\s+IS\s+(NOT\s+)?NULL\s*$", re.IGNORECASE)
# single-column interval UNION, the canonical spelling merge's early
# filter generates for multi-modal source keys (r11):
#   (col BETWEEN a AND b OR col BETWEEN c AND d ...)
# — a disjunction, but one this evaluator can serve EXACTLY from
# min/max stats (keep iff ANY interval overlaps the file's range), so
# it is parsed as ONE conjunct instead of tripping the top-level-OR
# refusal. The parens are optional at the PART level: split_conjuncts
# strips a part's outer parens, and a part can only contain OR if it
# was parenthesized (a genuine top-level OR is refused before the
# split by _has_top_level_or_not).
_BETWEEN_UNION_RE = re.compile(
    rf"^\s*\(?\s*([\w.]+)\s+BETWEEN\s+({_LIT_RE})\s+AND\s+({_LIT_RE})"
    rf"(?:\s+OR\s+([\w.]+)\s+BETWEEN\s+({_LIT_RE})\s+AND\s+({_LIT_RE}))+\s*\)?\s*$",
    re.IGNORECASE,
)
_BETWEEN_ARM_RE = re.compile(
    rf"([\w.]+)\s+BETWEEN\s+({_LIT_RE})\s+AND\s+({_LIT_RE})", re.IGNORECASE
)

_REV_OP = {"<": ">", ">": "<", "<=": ">=", ">=": "<="}


def _parse_literal(tok: str) -> Any:
    t = tok.strip()
    up = t.upper()
    if up.startswith("DATE"):
        return dt.date.fromisoformat(t[t.index("'") + 1 : t.rindex("'")])
    if up.startswith("TIMESTAMP"):
        return dt.datetime.fromisoformat(t[t.index("'") + 1 : t.rindex("'")])
    if t.startswith("'"):
        return t[1:-1]
    if up in ("TRUE", "FALSE"):
        return up == "TRUE"
    if re.fullmatch(r"-?\d+", t):
        return int(t)
    return float(t)


def split_conjuncts(predicate: str) -> list[str]:
    """Split on top-level AND (outside parens and quotes)."""
    parts: list[str] = []
    depth = 0
    in_str = False
    pending_between = False  # BETWEEN consumes its own AND
    cur = ""
    i = 0
    s = predicate

    def _word_at(idx: int, w: str) -> bool:
        return (
            s[idx : idx + len(w)].upper() == w
            and (idx == 0 or not (s[idx - 1].isalnum() or s[idx - 1] == "_"))
            and (
                idx + len(w) >= len(s)
                or not (s[idx + len(w)].isalnum() or s[idx + len(w)] == "_")
            )
        )

    while i < len(s):
        c = s[i]
        if in_str:
            cur += c
            if c == "'":
                in_str = False
            i += 1
            continue
        if c == "'":
            in_str = True
            cur += c
            i += 1
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        if depth == 0 and _word_at(i, "BETWEEN"):
            pending_between = True
        if depth == 0 and _word_at(i, "AND"):
            if pending_between:
                pending_between = False  # the AND belongs to BETWEEN .. AND ..
            else:
                parts.append(cur)
                cur = ""
                i += 3
                continue
        cur += c
        i += 1
    parts.append(cur)
    # strip one redundant outer paren pair per conjunct
    out = []
    for p in parts:
        p = p.strip()
        while p.startswith("(") and p.endswith(")") and _balanced(p[1:-1]):
            p = p[1:-1].strip()
        if p:
            out.append(p)
    return out


def _balanced(s: str) -> bool:
    depth = 0
    in_str = False
    for c in s:
        if in_str:
            if c == "'":
                in_str = False
            continue
        if c == "'":
            in_str = True
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth < 0:
                return False
    return depth == 0 and not in_str


def _coerce(raw: str | None, like: Any) -> Any:
    """Cast a partition-value / stats string to the literal's type."""
    if raw is None or raw == _NULL_PARTITION:
        return None
    if isinstance(like, bool):
        return str(raw).lower() == "true"
    if isinstance(like, int):
        try:
            return int(raw)
        except (TypeError, ValueError):
            return None
    if isinstance(like, float):
        try:
            return float(raw)
        except (TypeError, ValueError):
            return None
    if isinstance(like, dt.datetime):
        if isinstance(raw, dt.datetime):
            return raw
        try:
            return dt.datetime.fromisoformat(str(raw).replace("Z", "+00:00")).replace(tzinfo=None)
        except ValueError:
            return None
    if isinstance(like, dt.date):
        if isinstance(raw, dt.date):
            return raw
        try:
            return dt.date.fromisoformat(str(raw)[:10])
        except ValueError:
            return None
    return str(raw)


def _cmp_keep(op: str, lo: Any, hi: Any, lit: Any) -> bool:
    """Can any value in [lo, hi] satisfy `value op lit`? None bound = unknown."""
    try:
        if op in ("=", "=="):
            return (lo is None or lo <= lit) and (hi is None or hi >= lit)
        if op in ("!=", "<>"):
            return not (lo is not None and hi is not None and lo == hi == lit)
        if op == "<":
            return lo is None or lo < lit
        if op == "<=":
            return lo is None or lo <= lit
        if op == ">":
            return hi is None or hi > lit
        if op == ">=":
            return hi is None or hi >= lit
    except TypeError:
        return True
    return True


# sample value per Spark type category, used as the coercion target so a
# partition value and a literal are compared in the COLUMN's type, the way
# Spark SQL would cast them — not the literal's python type
_TYPE_SAMPLES: dict[str, Any] = {
    "byte": 0,
    "short": 0,
    "integer": 0,
    "long": 0,
    "float": 0.0,
    "double": 0.0,
    "boolean": False,
    "string": "",
    "date": dt.date(1970, 1, 1),
    "timestamp": dt.datetime(1970, 1, 1),
    "timestamp_ntz": dt.datetime(1970, 1, 1),
}


def _coerce_literal(lit: Any, like: Any) -> Any:
    """Literal -> column type; None if Spark's implicit cast would be
    needed but we cannot reproduce it exactly."""
    if isinstance(like, bool):
        return lit if isinstance(lit, bool) else None
    if isinstance(like, int) and not isinstance(like, bool):
        if isinstance(lit, bool):
            return None
        if isinstance(lit, int):
            return lit
        if isinstance(lit, str):
            try:
                return int(lit)
            except ValueError:
                return None
        return None
    if isinstance(like, float):
        if isinstance(lit, (int, float)) and not isinstance(lit, bool):
            return float(lit)
        if isinstance(lit, str):
            try:
                return float(lit)
            except ValueError:
                return None
        return None
    if isinstance(like, dt.datetime):
        return _coerce(lit if not isinstance(lit, str) else lit, like)
    if isinstance(like, dt.date):
        return _coerce(lit, like)
    return lit if isinstance(lit, str) else None  # string col, non-string lit


class _Conjunct:
    def __init__(self, col: str, op: str, lits: list[Any]):
        self.col = col
        self.op = op  # cmp ops, 'in', 'between', 'isnull', 'notnull'
        self.lits = lits

    def _typed(self, col_types: dict[str, str] | None) -> tuple[Any, list[Any]] | None:
        """(coercion sample, literals in column type) or None when the
        column type is unknown/uncoercible -> fall back to literal typing."""
        if not col_types or self.col not in col_types:
            return None
        sample = _TYPE_SAMPLES.get(col_types[self.col])
        if sample is None:
            return None
        lits = [_coerce_literal(x, sample) for x in self.lits]
        if any(x is None for x in lits):
            return None
        return sample, lits

    def exact_on(self, col_types: dict[str, str] | None) -> bool:
        """Can this conjunct be evaluated EXACTLY against partition values
        (required for metadata-only fast paths)?"""
        if self.op in ("isnull", "notnull"):
            return True
        return self._typed(col_types) is not None

    def keep(
        self,
        add: Add,
        partition_columns: list[str],
        col_types: dict[str, str] | None = None,
        physical_of: dict[str, str] | None = None,
        st: dict | None = None,
    ) -> bool:
        """``st``: pre-parsed stats dict, so a caller evaluating several
        stats conjuncts against one file parses its JSON once (see
        prune_files) — when absent, parsed here."""
        # column-mapped tables key partitionValues/stats by PHYSICAL name
        key = (physical_of or {}).get(self.col, self.col)
        if self.col in partition_columns:
            raw = add.partition_values.get(key)
            if self.op == "isnull":
                return raw is None or raw == _NULL_PARTITION
            if self.op == "notnull":
                return not (raw is None or raw == _NULL_PARTITION)
            if raw is None or raw == _NULL_PARTITION:
                # every remaining op is a comparison, and a comparison
                # with NULL is UNKNOWN — no row of the NULL partition
                # can match, so prune it EXACTLY regardless of whether
                # the literal's type is resolvable (r10: the untyped
                # path used to hit the can't-compare guard first and
                # keep the file)
                return False
            typed = self._typed(col_types)
            if typed is not None:
                sample, lits = typed
            else:
                sample, lits = self.lits[0], self.lits
                if type(sample) is not type(raw) and not isinstance(raw, str):
                    return True  # can't compare faithfully -> keep
            v = _coerce(raw, sample)
            if v is None:
                return False  # unparseable-as-typed never matches
            lo = hi = v
        else:
            if st is None:
                st = add.stats_dict()
            if not st:
                return True
            if self.op == "isnull":
                nc = (st.get("nullCount") or {}).get(key)
                return True if nc is None else nc > 0
            if self.op == "notnull":
                nc = (st.get("nullCount") or {}).get(key)
                nr = st.get("numRecords")
                if nc is None or nr is None:
                    return True
                return nc < nr
            typed = self._typed(col_types)
            sample, lits = typed if typed is not None else (self.lits[0], self.lits)
            lo = _coerce(st.get("minValues", {}).get(key), sample)
            hi = _coerce(st.get("maxValues", {}).get(key), sample)
            if lo is None and hi is None:
                return True
        if self.op == "in":
            return any(_cmp_keep("=", lo, hi, lit) for lit in lits)
        if self.op == "between":
            return _cmp_keep(">=", lo, hi, lits[0]) and _cmp_keep("<=", lo, hi, lits[1])
        if self.op == "between_any":
            # interval union: the file can match iff ANY arm's [a, b]
            # overlaps the file's [lo, hi]
            return any(
                _cmp_keep(">=", lo, hi, lits[i])
                and _cmp_keep("<=", lo, hi, lits[i + 1])
                for i in range(0, len(lits), 2)
            )
        return _cmp_keep(self.op, lo, hi, lits[0])


def _has_top_level_or_not(predicate: str) -> bool:
    """True when a top-level OR / NOT makes AND-splitting unsound.

    SQL precedence is NOT > AND > OR, so ``a = 1 AND b = 2 OR c = 3``
    means ``(a=1 AND b=2) OR c=3`` — no part of it is a binding
    conjunct. ``NOT`` that is part of ``IS NOT NULL`` is fine (handled
    by _NULL_RE); any other top-level NOT is refused conservatively.
    """
    s = predicate
    depth = 0
    in_str = False
    prev_word = ""
    i = 0
    while i < len(s):
        c = s[i]
        if in_str:
            if c == "'":
                in_str = False
            i += 1
            continue
        if c == "'":
            in_str = True
            i += 1
            continue
        if c == "(":
            depth += 1
            i += 1
            continue
        if c == ")":
            depth -= 1
            i += 1
            continue
        if c.isalpha() or c == "_":
            j = i
            while j < len(s) and (s[j].isalnum() or s[j] in "._"):
                j += 1
            word = s[i:j].upper()
            if depth == 0:
                if word == "OR":
                    return True
                if word == "NOT" and prev_word != "IS":
                    return True
            prev_word = word
            i = j
            continue
        i += 1
    return False


def parse_conjuncts(predicate: str) -> list[_Conjunct]:
    # A top-level OR/NOT means the AND-split below does not yield binding
    # conjuncts (ADVICE r01: 'a=1 AND b=2 OR c=3' must not prune on a=1).
    # Refuse extraction entirely; Spark re-applies the full predicate.
    if _has_top_level_or_not(predicate):
        return []
    out: list[_Conjunct] = []
    for part in split_conjuncts(predicate):
        m = _CMP_RE.match(part)
        if m:
            out.append(_Conjunct(m.group(1), m.group(2), [_parse_literal(m.group(3))]))
            continue
        m = _CMP_REV_RE.match(part)
        if m:
            op = _REV_OP.get(m.group(2), m.group(2))
            out.append(_Conjunct(m.group(3), op, [_parse_literal(m.group(1))]))
            continue
        m = _IN_RE.match(part)
        if m:
            lits = [_parse_literal(x) for x in re.findall(_LIT_RE, m.group(2))]
            out.append(_Conjunct(m.group(1), "in", lits))
            continue
        m = _BETWEEN_RE.match(part)
        if m:
            out.append(
                _Conjunct(m.group(1), "between", [_parse_literal(m.group(2)), _parse_literal(m.group(3))])
            )
            continue
        m = _NULL_RE.match(part)
        if m:
            out.append(_Conjunct(m.group(1), "notnull" if m.group(2) else "isnull", []))
            continue
        m = _BETWEEN_UNION_RE.match(part)
        if m:
            arms = _BETWEEN_ARM_RE.findall(part)
            cols = {c for c, _a, _b in arms}
            if len(cols) == 1:  # one column across every arm, else refuse
                lits: list[Any] = []
                for _c, a, b in arms:
                    lits.append(_parse_literal(a))
                    lits.append(_parse_literal(b))
                out.append(_Conjunct(arms[0][0], "between_any", lits))
            continue
        # unparseable conjunct -> no pruning from it (Unsupported tier)
    return out


def prune_files(
    adds: list[Add],
    predicate: str | None,
    partition_columns: list[str],
    col_types: dict[str, str] | None = None,
    physical_of: dict[str, str] | None = None,
) -> list[Add]:
    """Files that may contain rows matching the predicate.
    ``physical_of`` translates logical->physical names for
    column-mapped tables (partitionValues/stats use physical keys)."""
    if not predicate:
        return list(adds)
    conjuncts = parse_conjuncts(predicate)
    if not conjuncts:
        return list(adds)
    # Two-phase evaluation, sized for millions of adds: partition
    # conjuncts prune from the in-memory partitionValues dict alone
    # (no stats parse for files they exclude), then each surviving
    # file's stats JSON is parsed ONCE and shared across all stats
    # conjuncts — the per-conjunct re-parse was the dominant
    # driver-side planning cost (~0.8 s per parse pass over 200k adds).
    # Nothing is retained: a memo on Add would hold parsed dicts for
    # every touched file, GBs at checkpoint scale.
    part_cs = [c for c in conjuncts if c.col in partition_columns]
    stat_cs = [c for c in conjuncts if c.col not in partition_columns]
    out = []
    for a in adds:
        if not all(c.keep(a, partition_columns, col_types, physical_of) for c in part_cs):
            continue
        if stat_cs:
            st = a.stats_dict() or {}
            if not all(
                c.keep(a, partition_columns, col_types, physical_of, st=st)
                for c in stat_cs
            ):
                continue
        out.append(a)
    return out


def _snapshot_col_types(snapshot) -> dict[str, str]:
    """Top-level column name -> Spark typeName of a snapshot's schema."""
    out = {}
    for f in json.loads(snapshot.schema_string).get("fields", []):
        t = f.get("type")
        if isinstance(t, str):
            out[f["name"]] = t.split("(")[0]
    return out


def candidate_files(
    snapshot, predicate: str | None, files: list[Add] | None = None
) -> list[Add]:
    """The files whose partition values and stats may hold rows matching
    ``predicate`` — every file when there is none. ``files`` defaults to
    the snapshot's live Adds; any list given is judged by the snapshot's
    partition columns, column types and column-mapping names. The one
    pruning entry: scans, mutations, OPTIMIZE, diff and the change feed
    all plan their files here."""
    from delta_rs_spark.plans.column_mapping import snapshot_physical_of

    adds = list(snapshot.files.values()) if files is None else list(files)
    if not predicate:
        return adds
    return prune_files(
        adds,
        predicate,
        snapshot.partition_columns,
        _snapshot_col_types(snapshot),
        snapshot_physical_of(snapshot),
    )


def partition_only_predicate(predicate: str, snapshot) -> bool:
    """True if every conjunct parses, references only the snapshot's
    partition columns, and is exactly evaluable in the column's type —
    the reference's metadata-only fast path test (delete.rs:472-535)."""
    parts = split_conjuncts(predicate)
    conjuncts = parse_conjuncts(predicate)
    if len(parts) != len(conjuncts):
        return False
    col_types = _snapshot_col_types(snapshot)
    return all(
        c.col in snapshot.partition_columns and c.exact_on(col_types)
        for c in conjuncts
    )
