"""MERGE INTO — clause builder + execution.

Mirrors the reference's merge operation (reference:
crates/core/src/operations/merge/mod.rs — full outer join :1022, ordered
WHEN clauses compiled to a CASE action column :1214-1216,1287-1402;
python surface python/deltalake/table.py:1403-1851). Execution has three
phases:

* early filter (merge/filter.rs): the job that fills the source's pin
  also observes the source's row count and the min/max of its equi-join
  keys (a partition key's distinct values take one more pass, over the
  filled pin), and the target files are pruned by stats/partitions to
  the candidates (with not-matched-by-source clauses every file is a
  target file: those clauses touch unmatched target rows anywhere; an
  empty source without them leaves no candidate);
* one write pass: target rows of the target files FULL OUTER JOIN the
  source (left outer without not-matched clauses; the source alone, or
  anti-joined to the candidates for insert-only merges, when no target
  row can match) and a CASE action per row. Two windows share one
  exchange: the barrier (merge/barrier.rs) keeps a file's rows only when
  the merge acts on one of them — a file without an updated or deleted
  row is neither rewritten nor removed — and a window per target row
  picks the winning pair. ``observe()`` carries duplicate-match
  validation (merge/validation.rs), the per-action counts and the set of
  files the barrier let through, whose Removes the commit carries. One
  ``inline()`` emits each row's data row and, with change data feed, its
  change rows; the writer consumes the frame once, and the validation
  runs after its files land in staging and before any leaves it.

Duplicate-match validation: if any target row matches more than one
source row while matched update/delete clauses exist, the merge errors
out and nothing is committed.
"""

from __future__ import annotations

import functools
from dataclasses import dataclass, field, replace
from typing import Any

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Observation, Window as W
from pyspark.sql import functions as F

from delta_rs_spark.log import commit as commit_mod
from delta_rs_spark.log import snapshot as snap_mod
from delta_rs_spark.log.actions import Add, CommitInfo, now_ms
from delta_rs_spark.log.commit import DeltaError
from delta_rs_spark.operators.cdc import CHANGE_TYPE_COL, cdf_enabled, write_mutation
from delta_rs_spark.operators.util import add_paths_of
from delta_rs_spark.plans.skipping import candidate_files

_ACTION = "__delta_rs_action"
_TMARK = "__delta_rs_t"
_SMARK = "__delta_rs_s"
_TID = "__delta_rs_tid"
_SID = "__delta_rs_sid"
_CLS = "__delta_rs_match_cls"
_BAD = "__delta_rs_bad"
_FP = "__delta_rs_fp"
_SOLO = "__delta_rs_solo"  # a source-only row's own id: its file key

# action codes below 0; clause i (matched, then not-matched-by-source,
# then not-matched) has code i. SKIP: a source-only row no insert
# clause takes
COPY, DELETE, SKIP = -1, -2, -3
# duplicate-match participation classes (reference merge/mod.rs:561)
_CLS_IGNORE, _CLS_NOOP, _CLS_UNCOND_DELETE, _CLS_ACTION = 0, 1, 2, 3


class MergeError(DeltaError):
    pass


def _sql_literal(v: Any) -> str:
    """A collected Python value as a SQL literal the early-filter
    language (plans.skipping parse path and Spark SQL) both read."""
    import datetime as _dt

    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, _dt.datetime):
        return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
    if isinstance(v, _dt.date):
        return f"DATE '{v.isoformat()}'"
    return str(v)


@dataclass
class _Clause:
    kind: str  # update | delete | insert
    predicate: str | None
    updates: dict[str, str] | None  # None => *_all


@dataclass
class TableMerger:
    """Fluent MERGE builder (reference: python/deltalake/table.py:1403+)."""

    dt: Any
    source: Any
    predicate: str
    source_alias: str | None = None
    target_alias: str | None = None
    merge_schema: bool = False  # schema evolution (reference: merge/mod.rs:1047-1080)
    commit_properties: Any = None  # CommitProperties (reference table.py merge args)
    post_commithook_properties: Any = None
    # error_on_type_mismatch=False (reference merge arg): assignment
    # results that cannot cast to the target type become NULL for
    # NULLABLE columns instead of erroring (safe cast — reference
    # python/tests/test_merge.py test_merge_safe_cast_*); non-nullable
    # targets still fail loudly (strict ANSI cast here, the reference's
    # 'Invalid data found' check there).
    safe_cast: bool = False
    matched: list[_Clause] = field(default_factory=list)
    not_matched: list[_Clause] = field(default_factory=list)
    not_matched_by_source: list[_Clause] = field(default_factory=list)

    # -- clause builders --------------------------------------------------
    def when_matched_update(self, updates: dict[str, str], predicate: str | None = None):
        self.matched.append(_Clause("update", predicate, dict(updates)))
        return self

    def when_matched_update_all(self, predicate: str | None = None, except_cols: list[str] | None = None):
        self.matched.append(_Clause("update", predicate, None))
        self._matched_except = except_cols or []
        return self

    def when_matched_delete(self, predicate: str | None = None):
        self.matched.append(_Clause("delete", predicate, {}))
        return self

    def when_not_matched_insert(self, updates: dict[str, str], predicate: str | None = None):
        self.not_matched.append(_Clause("insert", predicate, dict(updates)))
        return self

    def when_not_matched_insert_all(self, predicate: str | None = None, except_cols: list[str] | None = None):
        self.not_matched.append(_Clause("insert", predicate, None))
        self._insert_except = except_cols or []
        return self

    def when_not_matched_by_source_update(self, updates: dict[str, str], predicate: str | None = None):
        self.not_matched_by_source.append(_Clause("update", predicate, dict(updates)))
        return self

    def when_not_matched_by_source_delete(self, predicate: str | None = None):
        self.not_matched_by_source.append(_Clause("delete", predicate, {}))
        return self

    # -- execution --------------------------------------------------------
    def _aliases(self) -> tuple[str, str]:
        return self.target_alias or "target", self.source_alias or "source"

    def _auto_updates(self, clause: _Clause, cols: list[str], src_cols: set[str], except_cols: list[str]) -> dict[str, str]:
        """Expand *_all into explicit per-column assignments."""
        _t, s = self._aliases()
        out = {}
        for c in cols:
            if c in except_cols:
                continue
            if c in src_cols:
                out[c] = f"{s}.`{c}`"
        return out

    @functools.cached_property
    def _join_conjuncts(self) -> list:
        """The join predicate's top-level ``And`` chain, flattened into
        its Catalyst conjuncts — parsed once per merge with the session's
        SQL parser (a malformed predicate raises its ParseException
        here). Only these conjuncts bind every matched row: an OR/NOT at
        the root makes the whole predicate one conjunct."""
        root = (
            self.dt.spark._jsparkSession.sessionState()
            .sqlParser()
            .parseExpression(self.predicate)
        )

        def flatten_and(e):
            if e.getClass().getSimpleName() == "And":
                yield from flatten_and(e.left())
                yield from flatten_and(e.right())
            else:
                yield e

        return list(flatten_and(root))

    def _equi_join_pairs(self) -> list[tuple[str, str]]:
        """(target_col, source_col) pairs from the join predicate's
        top-level equality conjuncts, extracted from the Catalyst
        expression AST (reference: merge/filter.rs rewrites the expression
        tree the same way).

        A conjunct of ``_join_conjuncts`` binds a (target_col,
        source_col, nullsafe) triple only when it is ``EqualTo`` /
        ``EqualNullSafe`` between two 2-part attributes qualified by the
        two aliases (either order; backquotes, whitespace, and odd
        casing are the parser's problem, not ours). Anything else —
        function-wrapped columns, arithmetic, OR/NOT *inside* a conjunct
        — contributes nothing but, per AND semantics, cannot invalidate
        pairs bound by sibling conjuncts. A predicate whose root is OR
        yields no conjuncts and therefore no early filter."""
        t, s = self._aliases()

        def attr(e) -> tuple[str, str] | None:
            if e.getClass().getSimpleName() != "UnresolvedAttribute":
                return None
            parts = e.nameParts()
            if parts.size() != 2:
                return None
            return str(parts.apply(0)).lower(), str(parts.apply(1))

        pairs = []
        for conj in self._join_conjuncts:
            cls = conj.getClass().getSimpleName()
            if cls not in ("EqualTo", "EqualNullSafe"):
                continue
            # EqualNullSafe pairs prune too, but only when the collected
            # source values contain no NULL (a null key matches null
            # partitions/stats that IN/BETWEEN would wrongly skip) — the
            # strip phase checks that with the same aggregation
            nullsafe = cls == "EqualNullSafe"
            a, b = attr(conj.left()), attr(conj.right())
            if a is None or b is None:
                continue
            if a[0] == t.lower() and b[0] == s.lower():
                pairs.append((a[1], b[1], nullsafe))
            elif a[0] == s.lower() and b[0] == t.lower():
                pairs.append((b[1], a[1], nullsafe))
        return pairs

    _STATIC_CMP = {
        "EqualTo": "=",
        "LessThan": "<",
        "LessThanOrEqual": "<=",
        "GreaterThan": ">",
        "GreaterThanOrEqual": ">=",
    }

    def _static_target_conjuncts(self) -> list[str]:
        """Target-only static conjuncts of the join predicate — e.g.
        ``target.cat = 'b'`` in ``t.cat = 'b' AND t.id = s.id`` — kept in
        the early filter so a partition-scoped merge prunes by them
        (reference merge/filter.rs generalize_filter's NoReference case:
        conjuncts without a source reference pass through verbatim).
        Same binding-conjunct rule as _equi_join_pairs: only members of
        the flattened top-level And chain qualify; the whitelist (cmp /
        IN / IS [NOT] NULL between a target-qualified attribute and
        literals) is exactly the language plans.skipping prunes on."""
        t, _s = self._aliases()

        def tcol(e) -> str | None:
            if e.getClass().getSimpleName() != "UnresolvedAttribute":
                return None
            parts = e.nameParts()
            if parts.size() != 2 or str(parts.apply(0)).lower() != t.lower():
                return None
            return str(parts.apply(1))

        def lit_sql(e) -> str | None:
            return e.sql() if e.getClass().getSimpleName() == "Literal" else None

        out: list[str] = []
        for conj in self._join_conjuncts:
            cls = conj.getClass().getSimpleName()
            if cls in self._STATIC_CMP:
                op = self._STATIC_CMP[cls]
                c, lit = tcol(conj.left()), lit_sql(conj.right())
                if c is not None and lit is not None:
                    out.append(f"{c} {op} {lit}")
                    continue
                c, lit = tcol(conj.right()), lit_sql(conj.left())
                if c is not None and lit is not None:
                    out.append(f"{lit} {op} {c}")
            elif cls == "In":
                c = tcol(conj.value())
                if c is None:
                    continue
                lits = [lit_sql(conj.list().apply(i)) for i in range(conj.list().size())]
                if all(x is not None for x in lits):
                    out.append(f"{c} IN ({', '.join(lits)})")
            elif cls in ("IsNull", "IsNotNull"):
                c = tcol(conj.child())
                if c is not None:
                    out.append(
                        f"{c} IS NULL" if cls == "IsNull" else f"{c} IS NOT NULL"
                    )
        return out

    # distinct source partition combinations above this count fall back
    # to min/max BETWEEN (bounds the driver collect and the predicate
    # string; the reference expands uncapped — filter.rs:353-368)
    _PARTITION_IN_CAP = 1024
    # interval-union refinement (r11): histogram buckets per stats-pair
    # column, max emitted arms, occupancy fraction above which the
    # union is no tighter than the plain BETWEEN, and the candidate
    # file count below which the extra source pass isn't worth a job
    _UNION_BUCKETS = 64
    _UNION_MAX_ARMS = 16
    _UNION_MAX_COVER = 0.75
    _UNION_MIN_FILES = 8

    def _source_summary(self) -> list[Column]:
        """The source's row count and, per equi-join pair, the min, max
        and NULL count of its source column: the aggregates the early
        filter reads (``__cnt``, ``mn{i}``, ``mx{i}``, ``nn{i}``)."""
        aggs = [F.count(F.lit(1)).alias("__cnt")]
        for i, (_tc, sc, _ns) in enumerate(self._equi_join_pairs()):
            aggs.append(F.min(sc).alias(f"mn{i}"))
            aggs.append(F.max(sc).alias(f"mx{i}"))
            aggs.append(F.sum(F.col(sc).isNull().cast("long")).alias(f"nn{i}"))
        return aggs

    def _summarize(self, source_df: DataFrame) -> dict[str, Any]:
        """``_source_summary`` in one aggregation pass, for a source
        whose summary was not observed."""
        return source_df.agg(*self._source_summary()).first().asDict()

    def _strip_target_only_predicate(
        self,
        source_df: DataFrame,
        part_cols: list[str],
        summary: dict[str, Any] | None = None,
    ) -> str | None:
        """Early-filter construction (reference: merge/filter.rs
        try_construct_early_filter + generalize_filter): for equi-join
        conjuncts ``target.col = source.col``,

        - PARTITION target columns get an ``IN (...)`` conjunct over the
          source's DISTINCT values (filter.rs:324-368 — "conjunction
          between the distinct partitions"): sparse, non-contiguous
          source keys then prune whole partitions a min/max BETWEEN
          would over-include;
        - non-partition columns get min/max BETWEEN on the file stats.

        The bounds come from ``summary`` (``_source_summary``, observed
        while the source's pin fills; one aggregation pass when not
        given). The distinct partition values take one grouped pass over
        the source; above _PARTITION_IN_CAP distinct combinations the
        partition columns fall back to min/max BETWEEN too. Source NULL
        keys never equi-match, so dropping them from the lists is exact
        — EXCEPT for ``<=>`` (EqualNullSafe) pairs, where a NULL key
        matches NULL partitions/stats: those pairs prune only when the
        source side provably has no NULLs, else the conjunct is skipped.
        Only safe when the predicate is a pure conjunction — an OR/NOT
        branch would make the extracted pairs non-binding and over-prune
        (skip entirely then)."""
        conj = self._static_target_conjuncts()
        pairs = self._equi_join_pairs()
        if summary is None:
            summary = self._summarize(source_df)
        part_set = set(part_cols)
        part_pairs = [(i, *p) for i, p in enumerate(pairs) if p[0] in part_set]
        in_listed: set[int] = set()
        if part_pairs:
            cap = self._PARTITION_IN_CAP
            rows = (
                source_df.select(*[F.col(sc).alias(f"p{i}") for i, _tc, sc, _ns in part_pairs])
                .distinct()
                .limit(cap + 1)
                .collect()
            )
            if len(rows) <= cap:
                for i, tc, _sc, ns in part_pairs:
                    raw = {r[f"p{i}"] for r in rows}
                    in_listed.add(i)
                    if ns and None in raw:
                        continue  # null key matches null partitions: no prune
                    vals = raw - {None}
                    if vals:
                        try:
                            ordered = sorted(vals)
                        except TypeError:
                            ordered = sorted(vals, key=repr)
                        lits = ", ".join(_sql_literal(v) for v in ordered)
                        conj.append(f"{tc} IN ({lits})")
        for i, (tc, _sc, ns) in enumerate(pairs):
            mn, mx = summary[f"mn{i}"], summary[f"mx{i}"]
            if i in in_listed or mn is None or (ns and summary[f"nn{i}"]):
                continue
            conj.append(f"{tc} >= {_sql_literal(mn)} AND {tc} <= {_sql_literal(mx)}")
        return " AND ".join(conj) if conj else None

    def _interval_union_predicate(
        self, source_df: DataFrame, part_cols: list[str], summary: dict[str, Any]
    ) -> str | None:
        """Second-stage candidate refinement (r11): the early filter's
        min/max BETWEEN collapses a MULTI-MODAL source key set into one
        interval that can cover the whole table — the index-maintenance
        shape exactly (takedown ids at the low end + new-crawl ids at
        the high end spanned every id-clustered file, so an O(changes)
        sync still SCANNED O(corpus) in its write). For each numeric
        stats-pair column, histogram the source values into
        ``_UNION_BUCKETS`` equal-width buckets (one distinct-bucket job
        over the change-batch-sized source, <= buckets rows collected),
        merge adjacent occupied buckets into intervals, pad each by one
        bucket width (swallows double-rounding at the bucket edges so
        the union stays a provable SUPERSET of the source values), and
        emit the canonical ``(tc BETWEEN .. OR tc BETWEEN ..)`` spelling
        plans/skipping.py evaluates exactly against file min/max.
        Returns None when no pair yields a union materially tighter
        than its plain BETWEEN. Only called when > _UNION_MIN_FILES
        candidates survive the first prune, so cheap merges never pay
        the extra pass."""
        import math

        # _equi_join_pairs only binds members of the top-level And chain
        # (an OR-rooted predicate yields no pairs), so every pair here
        # is a binding conjunct — same safety argument as the early
        # filter itself. The min/max bounds come from the source summary
        # the early filter read — only the bucket-occupancy pass is a
        # new job.
        part_set = set(part_cols)
        conj: list[str] = []
        B = self._UNION_BUCKETS
        for i, (tc, sc, ns) in enumerate(self._equi_join_pairs()):
            if tc in part_set:
                continue
            if ns and summary[f"nn{i}"]:
                continue  # NULL-safe pair with source NULLs: no prune
            mn, mx = summary[f"mn{i}"], summary[f"mx{i}"]
            ok_types = (
                isinstance(mn, (int, float))
                and isinstance(mx, (int, float))
                and not isinstance(mn, bool)
                and not isinstance(mx, bool)
            )
            if not ok_types or mx <= mn:
                continue
            span = float(mx - mn)
            if not math.isfinite(span) or span <= 0:
                continue
            bucket = F.least(
                F.greatest(
                    F.floor(
                        (F.col(sc).cast("double") - F.lit(float(mn)))
                        / F.lit(span)
                        * F.lit(B)
                    ).cast("long"),
                    F.lit(0),
                ),
                F.lit(B - 1),
            )
            occ = sorted(
                int(r["b"])
                for r in source_df.where(F.col(sc).isNotNull())
                .select(bucket.alias("b"))
                .distinct()
                .collect()
            )
            if not occ:
                continue
            runs: list[tuple[int, int]] = []
            start = prev = occ[0]
            for b in occ[1:]:
                if b == prev + 1:
                    prev = b
                    continue
                runs.append((start, prev))
                start = prev = b
            runs.append((start, prev))
            covered = sum(e - s + 1 for s, e in runs)
            if (
                len(runs) < 2
                or len(runs) > self._UNION_MAX_ARMS
                or covered / B > self._UNION_MAX_COVER
            ):
                continue
            is_int = isinstance(mn, int) and isinstance(mx, int)
            arms = []
            for s_, e_ in runs:
                lo = mn + span * (s_ - 1) / B  # one-bucket outward pad
                hi = mn + span * (e_ + 2) / B
                if is_int:
                    lo, hi = int(math.floor(lo)), int(math.ceil(hi))
                lo, hi = max(lo, mn), min(hi, mx)
                arms.append(
                    f"{tc} BETWEEN {_sql_literal(lo)} AND {_sql_literal(hi)}"
                )
            conj.append("(" + " OR ".join(arms) + ")")
        return " AND ".join(conj) if conj else None

    def execute(self) -> dict[str, Any]:
        from delta_rs_spark.writer import _to_spark_df, observed_metrics

        # One pass over the source fills its pin and observes the early
        # filter's bounds and the source row count (reference:
        # merge/filter.rs aggregates the source it holds in memory). A
        # source the caller cached is observed over that cache and not
        # pinned twice. Every frame pinned during the merge is released
        # on all paths, a failed validation included.
        raw = _to_spark_df(self.source, self.dt.spark)
        obs = Observation()
        observed = raw.observe(obs, *self._source_summary())
        caller_pinned = raw.storageLevel != StorageLevel.NONE
        source_df = raw if caller_pinned else observed.persist()
        pins = [] if caller_pinned else [source_df]
        try:
            observed.write.format("noop").mode("overwrite").save()
            summary = observed_metrics(obs) or self._summarize(source_df)
            return self._execute(source_df, summary, pins)
        finally:
            for p in pins:
                p.unpersist()

    def _execute(
        self, source_df: DataFrame, summary: dict[str, Any], pins: list[DataFrame]
    ) -> dict[str, Any]:
        from delta_rs_spark.table import read_snapshot_df
        from delta_rs_spark.writer import (
            assignment_cast,
            gate_rules,
            observed_metrics,
            recompute_generated,
            write_rules,
        )

        spark = self.dt.spark
        table_path = self.dt.table_uri
        snapshot = snap_mod.load_snapshot(table_path)
        from delta_rs_spark.plans.column_mapping import ensure_writable

        ensure_writable(snapshot)
        part_cols = snapshot.partition_columns
        schema = self.dt.schema()
        cols = [f.name for f in schema.fields]
        t, s = self._aliases()

        # identity columns (delta-spark parity, r12): update clauses may
        # never assign one; insert clauses GENERATE any identity column
        # they leave unassigned (ALWAYS and BY DEFAULT alike), and may
        # assign one explicitly only under GENERATED BY DEFAULT. The
        # concrete assignment maps exist post-expansion — all guards and
        # the generation plan are built there.
        from delta_rs_spark.plans import identity as _ident

        _idents = _ident.identity_fields(schema)

        src_cols = set(source_df.columns)

        schema_changed = False
        if self.merge_schema:
            from delta_rs_spark.writer import _merge_schemas

            merged = _merge_schemas(schema, source_df.schema)
            schema_changed = merged.json() != schema.json()
            schema = merged
            cols = [f.name for f in schema.fields]

        # expand *_all clauses
        for cl in self.matched:
            if cl.kind == "update" and cl.updates is None:
                cl.updates = self._auto_updates(cl, cols, src_cols, getattr(self, "_matched_except", []))
        for cl in self.not_matched:
            if cl.updates is None:
                cl.updates = self._auto_updates(cl, cols, src_cols, getattr(self, "_insert_except", []))
        id_plan: dict[str, dict] = {}
        if _idents:
            # post-expansion guards (update_all/insert_all have concrete
            # assignment maps only now): no update clause — *_all
            # included — may assign an identity column; insert clauses
            # generate unassigned identity columns and may assign one
            # explicitly only under GENERATED BY DEFAULT (except_cols is
            # the insert_all escape hatch for ALWAYS tables whose source
            # carries the column). id_plan records, per identity column,
            # whether any clause generates — it drives both the per-row
            # generation below and the same-commit watermark Metadata.
            for cl in self.matched + self.not_matched_by_source:
                if cl.kind == "update":
                    _ident.reject_identity_assignment(
                        cl.updates or {}, schema, "MERGE update clause"
                    )
            for cl in self.not_matched:
                for f in _idents:
                    step = int((f.metadata or {}).get(_ident.META_STEP, 1))
                    if f.name in (cl.updates or {}):
                        if not bool(
                            (f.metadata or {}).get(_ident.META_ALLOW, False)
                        ):
                            raise DeltaError(
                                f"MERGE insert cannot assign GENERATED ALWAYS "
                                f"identity column {f.name!r} (explicit values "
                                "need GENERATED BY DEFAULT)"
                            )
                        id_plan.setdefault(
                            f.name, {"step": step, "explicit": True}
                        )
                    else:
                        id_plan[f.name] = {"step": step, "explicit": False}

        all_adds = list(snapshot.files.values())
        num_source_rows = int(summary["__cnt"])
        if num_source_rows or self.not_matched_by_source:
            early = self._strip_target_only_predicate(source_df, part_cols, summary)
            candidates = candidate_files(snapshot, early, all_adds)
            read_whole_table = early is None or bool(self.not_matched_by_source)
        else:
            # an empty source matches and inserts nothing: no target
            # file can hold a row the merge acts on
            candidates, read_whole_table = [], False
        if len(candidates) > self._UNION_MIN_FILES:
            # the plain early filter left many files — a multi-modal
            # source key set (index maintenance: low-id updates + high-id
            # appends) defeats a single min/max interval; try the
            # interval-union refinement (one extra change-batch-sized
            # pass, only paid here where it can actually save file scans)
            union_pred = self._interval_union_predicate(source_df, part_cols, summary)
            if union_pred:
                candidates = candidate_files(snapshot, union_pred, candidates)

        # ---- target files: every file a match can live in ---------------
        # (with not-matched-by-source clauses, every file); the write
        # frame's barrier picks the ones it rewrites
        if self.not_matched_by_source:
            target_adds = all_adds
        elif self.matched:
            target_adds = candidates
        else:
            target_adds = []

        # DV mode (delta.enableDeletionVectors=true): acted target rows
        # (updated/deleted) are DV-marked dead in place and only updated
        # rows are re-written; COPY rows stay in their files untouched —
        # write amplification O(rows acted on), not O(rows in touched
        # files). The reference rewrites whole files for merge.
        from delta_rs_spark.operators.delete import (
            dv_mark_rows,
            dv_write_enabled,
            scan_txn,
        )
        from delta_rs_spark.plans import row_tracking as _rt

        dv_mode = dv_write_enabled(snapshot)
        cdf_on = cdf_enabled(snapshot)
        rt_on = _rt.enabled(snapshot.configuration)
        _mat_id, _mat_ver = _rt.materialized_names(snapshot.configuration)
        hidden = [_mat_id, _mat_ver] if rt_on else []

        # ---- the write frame (see the module docstring) -----------------
        # A source row matches target rows only inside the target files,
        # so the join's source-only rows are exactly the not-matched rows.
        is_t = F.col(_TMARK).isNotNull()
        matched_cond = is_t & F.col(_SMARK).isNotNull()
        # (condition, action code, participation class): the class
        # drives duplicate-match validation (reference
        # merge/mod.rs:561 MatchParticipationClass + validation.rs):
        # per target row, >1 ACTION pairs — or an ACTION alongside an
        # UNCONDITIONAL DELETE — is ambiguous and errors; duplicate
        # no-ops and duplicate unconditional deletes are deterministic
        # and collapse to one winner instead. Not-matched-by-source
        # and insert rows occur once per key, so they never conflict.
        branches: list[tuple[Column, int, int]] = []
        coded_clauses: list[tuple[int, _Clause]] = []
        groups = (
            (matched_cond, self.matched),
            (is_t & ~matched_cond, self.not_matched_by_source),
            (~is_t, self.not_matched),
        )
        for gi, (base, clauses) in enumerate(groups):
            for cl in clauses:
                code = len(coded_clauses)
                cond = base & F.expr(cl.predicate) if cl.predicate else base
                cls_v = _CLS_IGNORE
                if gi == 0:
                    uncond_delete = cl.kind == "delete" and cl.predicate is None
                    cls_v = _CLS_UNCOND_DELETE if uncond_delete else _CLS_ACTION
                branches.append((cond, DELETE if cl.kind == "delete" else code, cls_v))
                coded_clauses.append((code, cl))
        action = F.when(is_t, F.lit(COPY)).otherwise(F.lit(SKIP))
        cls = F.when(matched_cond, F.lit(_CLS_NOOP)).otherwise(F.lit(_CLS_IGNORE))
        for cond, c, cls_v in reversed(branches):
            action = F.when(cond, F.lit(c)).otherwise(action)
            cls = F.when(cond, F.lit(cls_v)).otherwise(cls)

        upd_codes = [c for c, cl in coded_clauses if cl.kind == "update"]
        ins_codes = [c for c, cl in coded_clauses if cl.kind == "insert"]
        matched_upd_codes = [
            c for c, cl in coded_clauses[: len(self.matched)] if cl.kind == "update"
        ]

        def _is(codes) -> Column:
            return F.col(_ACTION).isin(*codes) if codes else F.lit(False)

        tally: dict[int, int] = {}
        touched_fps: set[str] = set()
        acted_pairs: list = []
        new_adds: list[Add] = []
        cdc_actions: list = []
        has_target = bool(target_adds)
        if has_target or (self.not_matched and num_source_rows):
            if has_target:
                # the fp column is bound inside the scan (before any
                # select/union/alias — hidden metadata columns do not
                # survive those, and DV tables union two branches)
                t_df = read_snapshot_df(
                    spark,
                    snapshot,
                    table_path,
                    files=target_adds,
                    file_path_col=_FP,
                    row_index_col="__delta_rs_ri" if dv_mode else None,
                    # every target row's CURRENT id/version; the
                    # projection below keeps the id for updated rows and
                    # nulls their version (reader falls back to this
                    # commit's defaultRowCommitVersion)
                    keep_row_ids=True,
                )
                for f in schema.fields:  # evolved columns read as NULL from old files
                    if f.name not in t_df.columns:
                        t_df = t_df.withColumn(f.name, F.lit(None).cast(f.dataType))
            else:
                # no target row can match, so the target side is empty
                # (limit 0: the optimizer drops the join against it): with
                # matched clauses the early filter proves it; an
                # insert-only merge first anti-joins the source against
                # the candidate files
                t_df = spark.range(1).select(
                    *[F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields],
                    *[F.lit(None).cast("long").alias(h) for h in hidden],
                    F.lit(None).cast("string").alias(_FP),
                ).limit(0)
            src = source_df
            if not (self.matched or self.not_matched_by_source) and candidates:
                src = source_df.alias(s).join(
                    read_snapshot_df(spark, snapshot, table_path, files=candidates).alias(t),
                    F.expr(self.predicate),
                    "left_anti",
                )
            joined = (
                t_df.withColumn(_TMARK, F.lit(1))
                .withColumn(_TID, F.monotonically_increasing_id())
                .alias(t)
                .join(
                    src.withColumn(_SMARK, F.lit(1))
                    .withColumn(_SID, F.monotonically_increasing_id())
                    .alias(s),
                    F.expr(self.predicate),
                    "full_outer" if self.not_matched else "left_outer",
                )
            )

            frame = joined.withColumn(_ACTION, action).withColumn(_CLS, cls)
            if has_target:
                # the barrier (reference merge/barrier.rs): a target file
                # is rewritten only when the merge acts on one of its
                # rows; the rows of every other file leave the frame and
                # the file stays live. Source-only rows key on their own
                # id, so they do not all land in one window partition. The
                # key is a column, so both windows partition by the same
                # attributes.
                frame = (
                    frame.withColumn(_SOLO, F.when(F.col(_TID).isNull(), F.col(_SID)))
                    .withColumn(
                        "__hit", F.max(F.col(_ACTION) != COPY).over(W.partitionBy(_FP, _SOLO))
                    )
                    .filter("__hit")
                    .drop("__hit")
                )
                # winner per target row: the acting pair if any, else one
                # no-op pair (all no-op/unconditional-delete winners
                # produce identical output rows, so the tie is
                # immaterial). Rows tying on _CLS carry the same action,
                # except two ACTION pairs — exactly the error flagged.
                # Partitioned by the barrier's key plus the target row,
                # this window reuses the barrier's exchange.
                win = W.partitionBy(_FP, _SOLO, _TID).orderBy(F.desc(_CLS))
                whole = win.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
                n_act = F.sum((F.col(_CLS) == _CLS_ACTION).cast("int")).over(whole)
                n_ud = F.sum((F.col(_CLS) == _CLS_UNCOND_DELETE).cast("int")).over(whole)
                frame = (
                    frame.select(
                        "*",
                        F.row_number().over(win).alias("__rn"),
                        ((n_act > 1) | ((n_act > 0) & (n_ud > 0))).alias(_BAD),
                    )
                    .filter(F.col("__rn") == 1)
                    .drop("__rn")
                )
            else:
                frame = frame.withColumn(_BAD, F.lit(False))
            tallied = [COPY, DELETE, *upd_codes, *ins_codes]
            summary = [
                F.max(F.col(_BAD).cast("int")).alias("bad"),
                *[
                    F.sum((F.col(_ACTION) == c).cast("long")).alias(f"n{i}")
                    for i, c in enumerate(tallied)
                ],
                # the files the barrier let through: the rewritten ones
                F.collect_set(_FP).alias("touched"),
            ]
            unobserved, obs = frame, Observation()
            frame = frame.observe(obs, *summary)

            def check() -> None:
                """Runs once the frame's first action has finished —
                before any written file leaves staging."""
                got = observed_metrics(obs)
                if got is None:
                    # no row reached the write (every one deleted or
                    # skipped), so AQE dropped the observed stage: one
                    # more pass recovers validation, counts and the
                    # rewritten files
                    got = unobserved.agg(*summary).first().asDict()
                if got["bad"]:
                    raise MergeError(
                        "MERGE matched a target row with multiple source rows "
                        "that satisfy duplicate relevant WHEN MATCHED clauses"
                    )
                tally.update({c: int(got[f"n{i}"] or 0) for i, c in enumerate(tallied)})
                touched_fps.update(got["touched"])

            if dv_mode and has_target:
                # rows the merge acts on die in place; collect their
                # physical addresses for DV marking (O(rows acted on)).
                # This collect is the frame's second consumer, so the
                # frame is pinned; being the first action, it also
                # carries the validation
                frame = frame.persist()
                pins.append(frame)
                acted_pairs = (
                    frame.filter(is_t & (F.col(_ACTION) != COPY))
                    .groupBy(F.col(_FP).alias("fp"))
                    .agg(F.collect_list("__delta_rs_ri").alias("ris"))
                    .collect()
                )
                check()

            # per row: the data row (copy / postimage / insert) and, with
            # CDF, the preimage or delete row — one generator, one pass
            proj = []
            for c in cols:
                col_expr = F.col(f"{t}.`{c}`")
                for code_i, cl in reversed(coded_clauses):
                    upd = cl.updates or {}
                    if c in upd or cl.kind == "insert":
                        # cast INSIDE the branch: when/otherwise coerces
                        # mismatched branch types with an implicit strict
                        # cast, which would bypass the safe (try_cast) mode
                        col_expr = F.when(
                            F.col(_ACTION) == code_i,
                            assignment_cast(
                                F.expr(upd[c]) if c in upd else F.lit(None),
                                schema[c],
                                self.safe_cast,
                            ),
                        ).otherwise(col_expr)
                proj.append(col_expr.cast(schema[c].dataType).alias(c))
            if rt_on:
                proj += [
                    F.col(f"{t}.`{_mat_id}`").alias(_mat_id),
                    F.when(_is(upd_codes), F.lit(None).cast("long"))
                    .otherwise(F.col(f"{t}.`{_mat_ver}`"))
                    .alias(_mat_ver),
                ]
            pre = [
                F.col(f"{t}.`{c}`").cast(schema[c].dataType).alias(f"__pre{i}")
                for i, c in enumerate(cols)
            ] if cdf_on else []
            out = frame.select(*proj, *pre, F.col(_ACTION))

            def regenerated_by(c: str) -> Column | None:
                codes = [
                    code
                    for code, cl in coded_clauses
                    if cl.kind in ("update", "insert") and c not in (cl.updates or {})
                ]
                return F.col(_ACTION).isin(codes) if codes else None

            out = recompute_generated(out, schema, regenerated_by)
            for c in id_plan:
                gen_codes = [
                    code
                    for code, cl in coded_clauses
                    if cl.kind == "insert" and c not in (cl.updates or {})
                ]
                if not gen_codes:
                    continue
                # same scheme as the write path (plans/identity.py):
                # next-beyond-watermark + step * monotonically_increasing_id
                # — unique under any runtime partition count, progression
                # membership and >watermark by construction; the frame is
                # evaluated once, so data and change rows agree
                start, step, hwm, _allow = _ident._params(schema[c])
                nxt = start if hwm is None else hwm + step
                gen = (
                    F.lit(nxt) + F.lit(step) * F.monotonically_increasing_id()
                ).cast(schema[c].dataType)
                out = out.withColumn(
                    c, F.when(_is(gen_codes), gen).otherwise(F.col(f"`{c}`"))
                )

            keep = ~F.col(_ACTION).isin(DELETE, SKIP)
            if dv_mode:  # COPY rows stay in their (DV'd) files
                keep = keep & (F.col(_ACTION) != COPY)
            data_cols = [F.col(f"`{c}`") for c in cols + hidden]
            if cdf_on:
                tag = (
                    F.when(_is(upd_codes), F.lit("update_postimage"))
                    .when(_is(ins_codes), F.lit("insert"))
                    .otherwise(F.lit(None).cast("string"))
                )
                pre_tag = F.when(F.col(_ACTION) == DELETE, F.lit("delete")).when(
                    _is(upd_codes), F.lit("update_preimage")
                )
                rows = F.array(
                    F.when(keep, F.struct(*data_cols, tag.alias(CHANGE_TYPE_COL))),
                    F.when(
                        pre_tag.isNotNull(),
                        F.struct(
                            *[F.col(f"__pre{i}").alias(c) for i, c in enumerate(cols)],
                            *[F.lit(None).cast("long").alias(h) for h in hidden],
                            pre_tag.alias(CHANGE_TYPE_COL),
                        ),
                    ),
                )
                out = out.select(F.inline(F.filter(rows, lambda r: r.isNotNull())))
            else:
                out = out.filter(keep).select(*data_cols)

            # the rule gate skips preimage/delete rows
            out, rules_ok = gate_rules(out, write_rules(snapshot))
            if not part_cols and (dv_mode or not has_target):
                # the write reads a pinned frame directly (the source
                # when no target file is read, DV mode's pinned frame):
                # a cached input keeps its cache partitioning, which
                # defeats AQE coalescing — rebalance to size-adaptive
                # output files (guide §6). Otherwise the barrier
                # window's hash exchange is the last shuffle before the
                # write and AQE coalesces it to the same advisory size;
                # partitioned writes repartition by partition value.
                out = out.hint("rebalance")

            def validate() -> None:
                check()
                rules_ok()

            new_adds, cdc_actions = write_mutation(out, snapshot, validate=validate)

        # ---- commit -----------------------------------------------------
        actions: list = []
        if schema_changed:
            actions.append(replace(snapshot.metadata, schema_string=schema.json()))
        actions.extend(new_adds)
        if id_plan and new_adds:
            # advance each written identity column's high watermark in
            # the SAME commit (writer.py does the same for appends) —
            # racing identity writers then conflict via MetadataChanged
            # instead of silently double-allocating
            _new_schema = _ident.watermark_updates(
                id_plan,
                schema,
                new_adds,
                table_path,
                spark,
                configuration=snapshot.configuration,
            )
            if _new_schema is not None:
                from delta_rs_spark.writer import amend_metadata

                amend_metadata(actions, snapshot, schema_string=_new_schema)
        actions.extend(cdc_actions)

        ts = now_ms()
        if dv_mode:
            # only files with acted rows change; remove tombstones the old
            # (path, DV) pairing, the re-add carries the merged DV —
            # remove precedes its re-add (sequential replay)
            removes, dv_readds, _ = dv_mark_rows(table_path, acted_pairs, target_adds, ts)
            actions.extend(removes)
            actions.extend(dv_readds)
        else:
            rewritten = set(add_paths_of(table_path, target_adds, touched_fps))
            removes = [a.remove(ts) for a in target_adds if a.path in rewritten]
            actions.extend(removes)

        n_updated = sum(tally.get(c, 0) for c in matched_upd_codes)
        metrics = {
            "num_source_rows": num_source_rows,
            "num_target_rows_inserted": sum(tally.get(c, 0) for c in ins_codes),
            "num_target_rows_updated": n_updated,
            "num_target_rows_deleted": tally.get(DELETE, 0),
            # in DV mode nothing is rewritten: COPY rows stay in place
            "num_target_rows_copied": 0 if dv_mode else tally.get(COPY, 0),
            "num_target_rows_updated_by_source_miss": sum(
                tally.get(c, 0) for c in upd_codes
            )
            - n_updated,
            "num_target_files_added": len(new_adds),
            "num_target_files_removed": len(removes),
            # early-filter visibility (reference mod.rs:691-693): how many
            # files the scan touched vs skipped outright by the filter
            "num_target_files_scanned": len(candidates),
            "num_target_files_skipped_during_scan": len(all_adds) - len(candidates),
            "num_output_rows": int(sum(a.num_records() or 0 for a in new_adds)),
        }
        if dv_mode:
            metrics["num_deletion_vectors_added"] = sum(
                1 for a in actions if isinstance(a, Add) and a.deletion_vector
            )
        op = CommitInfo(
            "MERGE",
            {
                "predicate": self.predicate,
                "matchedPredicates": [
                    {"actionType": c.kind, **({"predicate": c.predicate} if c.predicate else {})}
                    for c in self.matched
                ],
                "notMatchedPredicates": [
                    {"actionType": c.kind, **({"predicate": c.predicate} if c.predicate else {})}
                    for c in self.not_matched
                ],
                "notMatchedBySourcePredicates": [
                    {"actionType": c.kind, **({"predicate": c.predicate} if c.predicate else {})}
                    for c in self.not_matched_by_source
                ],
            },
            operation_metrics=metrics,
        )
        # the read set is every CANDIDATE file (the write frame or the
        # insert-only anti-join scans them, and file selection consults
        # their stats), not just the rewritten ones; with
        # not_matched_by_source clauses or no early filter the whole table
        # was read (ADVICE r01: a concurrent DELETE of a
        # scanned-but-not-rewritten file must raise
        # ConcurrentDeleteReadError)
        commit_mod.commit(
            table_path,
            actions,
            op,
            snapshot.version,
            scan_txn(snapshot, candidates, read_whole_table=read_whole_table),
            commit_properties=self.commit_properties,
            post_commit=self.post_commithook_properties,
        )

        self.dt.refresh()
        return metrics
