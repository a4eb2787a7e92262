"""CEP / MATCH_RECOGNIZE subset (SURVEY.md §2.9) — NFA pattern matching over
keyed, time-ordered rows.

Reference: flink-libraries/flink-cep — Pattern builder surface
(…/cep/pattern/Pattern.java:129-529: begin/next/followedBy/where/oneOrMore/
times/optional/consecutive/within), runtime …/cep/operator/CepOperator.java:83
over …/cep/nfa/NFA.java; SQL front-end StreamExecMatch.scala:68.

Spark-first design: the NFA runs inside ``applyInPandas`` — per-key groups
arrive as Arrow batches, predicates evaluate **vectorized** (one boolean mask
per pattern variable over the whole group), and the scan itself is a tight
index loop. Keys process independently across executors, so this scales with
key cardinality exactly like Flink's keyed CepOperator; per-key history must
fit in one task (same bound as Flink's keyed state).

Semantics implemented (the MatchRecognizeITCase subset):
- quantifiers: exactly-one, ``times(n)``, ``one_or_more`` (greedy, consecutive),
  ``optional``;
- contiguity: strict (``next`` / MATCH_RECOGNIZE default) and relaxed
  (``followed_by``);
- negative patterns: ``not_next`` / ``not_followed_by`` (Pattern.java:169,198;
  trailing ``not_followed_by`` requires ``within``, as in Flink);
- ``within(seconds)``: max first→last event-time span;
- after-match: SKIP PAST LAST ROW (the MATCH_RECOGNIZE default),
  SKIP TO NEXT ROW, and SKIP TO FIRST/LAST <variable>
  (AfterMatchSkipStrategy.java:38-60 — the TO_* modes resume AT the
  first/last row the variable bound);
- cross-variable DEFINE via ``where_binding`` (B AS B.x > LAST(A.x)) —
  predicates over the current partial match, the MatchRecognizeITCase
  PREV/LAST idiom (physical-offset PREV stays vectorized in the SQL
  front-end, plans/matchrec.py);
- non-deterministic alternatives: ``followed_by_any`` (Pattern.followedByAny:
  214 — every later matching event opens its own alternative match) and
  ``allow_combinations`` (Pattern.allowCombinations:471 — a loop binds every
  order-preserving combination of matching rows, not just the greedy run).
  One backtracking scan serves both readings: a pattern containing either
  reports every alternative (after-match skip does not prune across
  alternatives, matching Flink's any/combinations reading), while its
  deterministic steps still bind at their first viable position. Negation,
  ``where_binding`` and ``where_running`` with any-semantics are out of
  scope (raise). The streaming operator rejects any-semantics patterns.
"""

from __future__ import annotations

import warnings
from collections.abc import Callable
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

# Backtracking caps for the NFA scan. A relaxed/any-contiguity step
# considers at most RELAXED_CANDIDATE_CAP later matching positions per scan
# start, and an allowCombinations loop enumerates subsets of at most
# COMBINATION_ELEMS_CAP loop elements (2^cap combinations). Both bound the
# worst-case exponential scan on degenerate data (every row matching every
# variable). When a cap actually truncates a candidate list the scan emits a
# RuntimeWarning (visible in executor logs), so divergence from the
# unbounded semantics is detectable instead of silent; raise the constants
# (or pre-filter the input) if a workload legitimately needs denser
# alternatives.
RELAXED_CANDIDATE_CAP = 64
COMBINATION_ELEMS_CAP = 12

# Longest run an unbounded loop quantifier (``one_or_more``, ``times_or_more``)
# may bind: larger than any per-key group.
_UNBOUNDED = 1 << 30


def _cap_candidates(cands: list[int], cap: int, what: str) -> list[int]:
    if len(cands) > cap:
        warnings.warn(
            f"CEP {what} candidate list truncated ({len(cands)} > {cap}); "
            "matches beyond the cap are dropped — raise the cap constant in "
            "operators/cep.py if this workload needs denser alternatives",
            RuntimeWarning,
            stacklevel=2,
        )
        return cands[:cap]
    return cands


@dataclass
class _Step:
    name: str
    predicate: Callable[[pd.DataFrame], pd.Series] | None = None
    # "1" | "+" | "*+" (relaxed loop) | "+c" (allowCombinations) | "?" | "n:<k>" | "r:<lo>:<hi>"
    quantifier: str = "1"
    contiguity: str = "strict"  # "strict" | "relaxed" | "any" (followedByAny)
    negated: bool = False  # notNext / notFollowedBy (Pattern.java:169,198)
    until_predicate: Callable[[pd.DataFrame], pd.Series] | None = None  # Pattern.until
    reluctant: bool = False  # shortest-first loop binding (MATCH_RECOGNIZE +? / Flink non-greedy)
    # cross-variable predicate evaluated DURING the scan against the current
    # partial match (MATCH_RECOGNIZE DEFINE referencing FIRST/LAST of an
    # earlier pattern variable): (sorted pdf, bindings so far) → boolean
    # Series over all rows. ANDed with the vectorized ``predicate``.
    bind_predicate: Callable[[pd.DataFrame, dict[str, list[int]]], pd.Series] | None = None
    # running-aggregate predicate over THIS variable's rows-so-far — the
    # MATCH_RECOGNIZE ``DEFINE A AS AVG(A.price) < 15`` idiom
    # (MatchRecognizeITCase testAggregates; SQL:2016 running semantics: the
    # aggregate includes the candidate row being tested). Called at every
    # binding/extension point: (sorted pdf, bindings of EARLIER variables,
    # indices already bound to this variable, candidate index) → bool.
    run_predicate: (
        Callable[[pd.DataFrame, dict[str, list[int]], list[int], int], bool] | None
    ) = None


@dataclass
class Pattern:
    """Fluent pattern builder mirroring Flink's Pattern API (Pattern.java:129)."""

    steps: list[_Step] = field(default_factory=list)
    within_seconds: float | None = None

    @staticmethod
    def begin(name: str) -> "Pattern":
        p = Pattern()
        p.steps.append(_Step(name))
        return p

    def where(self, predicate: Callable[[pd.DataFrame], pd.Series]) -> "Pattern":
        """Vectorized predicate: pdf → boolean Series (evaluated once per group)."""
        self.steps[-1].predicate = predicate
        return self

    def where_binding(
        self, predicate: Callable[[pd.DataFrame, dict[str, list[int]]], pd.Series]
    ) -> "Pattern":
        """Cross-variable predicate over the CURRENT PARTIAL MATCH — the
        MATCH_RECOGNIZE ``DEFINE B AS B.x > LAST(A.x)`` idiom
        (MatchRecognizeITCase.scala:122-133; NFA.java evaluates DEFINE
        against the partial match's computation state). ``predicate(pdf,
        bindings)`` receives the key's sorted rows and the variable→row-index
        bindings accumulated so far and returns a boolean Series; it is
        re-evaluated at each step entry (vectorized over rows, so one pandas
        op per backtrack branch) and ANDed with ``where``. Rows of variables
        not yet bound make the reference unavailable — the predicate decides
        (typically False). Not supported in a pattern with followedByAny /
        allowCombinations (the scan raises)."""
        self.steps[-1].bind_predicate = predicate
        return self

    def where_running(
        self,
        predicate: Callable[[pd.DataFrame, dict[str, list[int]], list[int], int], bool],
    ) -> "Pattern":
        """Running-aggregate predicate over the CURRENT variable's own
        binding — ``DEFINE A AS AVG(A.price) < 15`` (MatchRecognizeITCase
        testAggregates): each row appended to the loop must keep the
        aggregate over rows-bound-so-far PLUS the candidate row true
        (SQL:2016 running semantics). ``predicate(pdf, bindings, prefix,
        cand)`` is checked at every binding/extension point; because rows
        are only ever appended after passing it, every backtracked shorter
        prefix remains valid. Not supported in a pattern with followedByAny /
        allowCombinations (the scan raises)."""
        self.steps[-1].run_predicate = predicate
        return self

    def next(self, name: str) -> "Pattern":
        self.steps.append(_Step(name, contiguity="strict"))
        return self

    def followed_by(self, name: str) -> "Pattern":
        self.steps.append(_Step(name, contiguity="relaxed"))
        return self

    def followed_by_any(self, name: str) -> "Pattern":
        """Relaxed contiguity with alternatives (Pattern.followedByAny:214):
        EVERY later matching event yields its own match, not just the first —
        'a c b1 b2' under A followedByAny B matches {a,b1} AND {a,b2}."""
        self.steps.append(_Step(name, contiguity="any"))
        return self

    def allow_combinations(self) -> "Pattern":
        """Non-deterministic loop binding (Pattern.allowCombinations:471):
        the preceding oneOrMore binds every order-preserving combination of
        matching rows that starts at the loop's first element — 'a1 a2 a3'
        under A+ allowCombinations matches {a1}, {a1,a2}, {a1,a3}, {a1,a2,a3}
        (and the starts at a2, a3 likewise)."""
        self.steps[-1].quantifier = "+c"
        return self

    def not_next(self, name: str) -> "Pattern":
        """The immediately-following event must NOT match (Pattern.notNext)."""
        self.steps.append(_Step(name, contiguity="strict", negated=True))
        return self

    def not_followed_by(self, name: str) -> "Pattern":
        """No matching event may occur before the next pattern step matches
        (Pattern.notFollowedBy); as the final step it requires within()."""
        self.steps.append(_Step(name, contiguity="relaxed", negated=True))
        return self

    def one_or_more(self, consecutive: bool = True) -> "Pattern":
        """Loop quantifier (Pattern.oneOrMore:300). consecutive=True is the
        MATCH_RECOGNIZE ``A+`` reading (strict internal contiguity —
        Pattern.consecutive:480); consecutive=False is the Pattern-API default
        relaxed reading: non-matching rows between loop elements are skipped,
        and the loop is bounded by ``until()`` / ``within()``."""
        self.steps[-1].quantifier = "+" if consecutive else "*+"
        return self

    def until(self, predicate: Callable[[pd.DataFrame], pd.Series]) -> "Pattern":
        """Stop condition for a loop step (Pattern.until:451): the loop stops
        absorbing rows at the first row matching ``predicate`` (that row is
        not part of the loop binding). Like Flink, raises ValueError unless
        the current step loops (``one_or_more``, ``allow_combinations``,
        ``times_or_more``); ``times(n, m)`` is bounded, so it does not."""
        step = self.steps[-1]
        if step.quantifier not in ("*+", "+c") and _run_bounds(step.quantifier)[1] < _UNBOUNDED:
            raise ValueError(f"until() applies only to a looping step, not {step.name!r}")
        step.until_predicate = predicate
        return self

    def times(self, n: int, to: int | None = None) -> "Pattern":
        """times(n) = exactly n; times(n, m) = n..m consecutive, greedy
        (Pattern.java:344,365)."""
        self.steps[-1].quantifier = f"n:{n}" if to is None else f"r:{n}:{to}"
        return self

    def times_or_more(self, n: int) -> "Pattern":
        """At least n consecutive, greedy (Pattern.timesOrMore:392)."""
        self.steps[-1].quantifier = f"r:{n}:{_UNBOUNDED}"
        return self

    def optional(self) -> "Pattern":
        self.steps[-1].quantifier = "?"
        return self

    def reluctant(self) -> "Pattern":
        """Shortest-first (lazy) binding for the current quantifier — the
        MATCH_RECOGNIZE ``+?``/``{n,m}?``/``??`` suffix and the inverse of
        Pattern.greedy (Pattern.java:426): the loop absorbs as FEW rows as
        let the remaining pattern match, instead of the greedy longest."""
        self.steps[-1].reluctant = True
        return self

    def within(self, seconds: float) -> "Pattern":
        self.within_seconds = seconds
        return self

    @property
    def any_semantics(self) -> bool:
        """True if a step branches non-deterministically (followed_by_any or
        allow_combinations), so the scan reports every alternative."""
        return any(s.contiguity == "any" or s.quantifier == "+c" for s in self.steps)


# measure aggregations over the rows bound to one variable
_AGGS = {
    "first": lambda s: s.iloc[0],
    "last": lambda s: s.iloc[-1],
    "count": lambda s: len(s),
    "sum": lambda s: s.sum(),
    "min": lambda s: s.min(),
    "max": lambda s: s.max(),
    # explicit sum/len (not pandas .mean()) so the division is the same
    # single IEEE op a SQL engine's AVG performs on an exact integer sum
    "avg": lambda s: float(s.sum()) / len(s),
}


def _sorted_group(pdf: pd.DataFrame, order_by: list[str]) -> pd.DataFrame:
    """Stable multi-key sort via np.lexsort. pandas sort_values builds a
    Categorical per key PER CALL (~1 ms of fixed overhead), which dominates
    when the NFA scans thousands of small per-key groups — lexsort on the
    raw arrays is ~10x cheaper at identical semantics."""
    def key(c: str):
        a = pdf[c].to_numpy()
        if a.dtype == object:
            # object keys (strings, possibly None) break np.lexsort's
            # comparisons; dense rank with NaNs-last reproduces
            # sort_values(na_position="last") ordering
            return pdf[c].rank(method="dense", na_option="bottom").to_numpy()
        return a

    order = np.lexsort([key(c) for c in reversed(order_by)])
    return pdf.take(order).reset_index(drop=True)


def _run_bounds(quantifier: str) -> tuple[int, int]:
    """(shortest, longest) consecutive run a quantifier binds: "1" and "?"
    one row, "+" one or more, "n:<k>" exactly k, "r:<lo>:<hi>" lo..hi."""
    if quantifier in ("1", "?"):
        return 1, 1
    if quantifier == "+":
        return 1, _UNBOUNDED
    lo, _, hi = quantifier[2:].partition(":")
    return int(lo), int(hi or lo)


def _scan_matches(
    pdf: pd.DataFrame,
    pattern: Pattern,
    order_by: list[str],
    time_col: str | None,
    after_match: str = "past_last",
) -> tuple[pd.DataFrame, list[tuple[dict[str, list[int]], int, int]]]:
    """Sort one key's rows and run the NFA scan.

    Returns (sorted pdf, matches) where each match is
    (bindings: var → row indices, start_idx, end_idx). Shared by the batch
    ``match_recognize`` and the streaming operator
    (streaming/cep.py — StreamExecMatch analog), which re-scans a
    watermark-finalized prefix per micro-batch.

    ``rec`` backtracks as a generator: each step yields its alternatives in
    preference order (earliest position, then the greedy-longest run, or
    the shortest for a reluctant quantifier; an optional step's take before
    its skip). A deterministic step stops at its first viable alternative;
    a ``followed_by_any`` step or an ``allow_combinations`` loop yields every
    one (NFA.java's non-deterministic TAKE/PROCEED branching). Without such
    a step the scan takes the first alternative per start and applies the
    after-match skip. With one it reports every alternative of every start,
    de-duplicated and sorted by (start, end, bindings); the skip strategy
    does not prune across alternatives.
    """
    steps = pattern.steps
    if pattern.any_semantics:
        if any(s.negated for s in steps):
            raise ValueError("negative steps with any-semantics are out of scope")
        if any(s.bind_predicate is not None for s in steps):
            raise ValueError("cross-variable DEFINE with any-semantics is out of scope")
        if any(s.run_predicate is not None for s in steps):
            raise ValueError("running-aggregate DEFINE with any-semantics is out of scope")
    pdf = _sorted_group(pdf, order_by)
    n = len(pdf)
    masks = [
        (
            s.predicate(pdf).to_numpy()
            if s.predicate is not None
            else np.ones(n, dtype=bool)
        )
        for s in steps
    ]
    umasks = [
        (s.until_predicate(pdf).to_numpy() if s.until_predicate is not None else None)
        for s in steps
    ]
    ts = pdf[time_col].astype("int64").to_numpy() if time_col else None  # ns ints: exact
    within_ns = None if pattern.within_seconds is None else round(pattern.within_seconds * 1e9)

    def within_ok(first_pos: int | None, p: int) -> bool:
        if within_ns is None or first_pos is None or ts is None:
            return True
        return (ts[p] - ts[first_pos]) <= within_ns

    def run_ok(step: _Step, bindings: dict, prefix: list[int], cand: int) -> bool:
        return step.run_predicate is None or step.run_predicate(pdf, bindings, prefix, cand)

    def runs(si: int, mask, bindings: dict, p: int, fp: int):
        """Yield the row lists step ``si`` can bind starting at row ``p``,
        in preference order."""
        step, u_mask = steps[si], umasks[si]
        if step.quantifier in ("*+", "+c"):
            # every matching row up to the stop condition / within bound,
            # skipping non-matching ones
            stop = n
            if u_mask is not None:
                stop = next((e for e in range(p + 1, n) if u_mask[e]), n)
            elems: list[int] = []
            for e in range(p, stop):
                if mask[e] and within_ok(fp, e) and run_ok(step, bindings, elems, e):
                    elems.append(e)
            if step.quantifier == "*+":
                # relaxed loop (Pattern-API oneOrMore default): greedy with
                # tail back-off
                for k in range(len(elems), 0, -1):
                    yield elems[:k]
                return
            # allowCombinations: every order-preserving combination that
            # keeps the loop's first element
            rest = _cap_candidates(elems, COMBINATION_ELEMS_CAP, "allowCombinations")[1:]
            for bits in range(1 << len(rest)):
                yield [p] + [e for j, e in enumerate(rest) if bits >> j & 1]
            return
        # consecutive run of lo..hi rows: longest first, shortest first when
        # reluctant (+?, {n,m}?)
        lo, hi = _run_bounds(step.quantifier)
        e = p
        while (
            e + 1 < n
            and e + 1 - p < hi
            and mask[e + 1]
            and not (u_mask is not None and u_mask[e + 1])
            and within_ok(fp, e + 1)
            and run_ok(step, bindings, list(range(p, e + 1)), e + 1)
        ):
            e += 1
        ends = range(p + lo - 1, e + 1) if step.reluctant else range(e, p + lo - 2, -1)
        for end in ends:
            yield list(range(p, end + 1))

    def rec(
        si: int,
        pos: int,
        bindings: dict[str, list[int]],
        first_pos: int | None,
        neg_limit: int | None = None,
    ):
        """Yield (bindings, end_idx) for each completion of steps[si:] from
        row ``pos``."""
        if si == len(steps):
            yield bindings, pos - 1
            return
        step, mask = steps[si], masks[si]
        if step.bind_predicate is not None:
            # cross-variable DEFINE: narrow the vectorized mask by the
            # partial-match predicate (re-evaluated per backtrack branch)
            mask = mask & step.bind_predicate(pdf, bindings).to_numpy()
        if step.negated:
            if si == len(steps) - 1:
                # trailing notFollowedBy: only valid with within() (as in
                # Flink); no matching event may appear inside the window
                if within_ns is None or ts is None:
                    raise ValueError("trailing not_followed_by requires within()")
                bound = ts[first_pos] + within_ns
                for q in range(pos, n):
                    if ts[q] > bound:
                        break
                    if mask[q]:
                        return
                yield bindings, pos - 1
            elif step.contiguity == "strict":  # notNext: check the one row
                if not (pos < n and mask[pos]):
                    yield from rec(si + 1, pos, bindings, first_pos)
            else:
                # notFollowedBy: the next positive step must match at or
                # before the first negative hit (no neg row strictly between)
                first_neg = next((q for q in range(pos, n) if mask[q]), n)
                yield from rec(si + 1, pos, bindings, first_pos, first_neg)
            return
        optional = step.quantifier == "?"
        # skipping an optional step: a pending notFollowedBy bound transfers
        # to the NEXT positive step (the constraint holds until the next
        # actually-matched event), so neg_limit must survive
        if optional and step.reluctant:  # lazy ??: prefer skipping
            yield from rec(si + 1, pos, bindings, first_pos, neg_limit)
        if step.contiguity == "strict" or first_pos is None:
            candidates = [pos] if pos < n and mask[pos] else []
        else:
            candidates = _cap_candidates(
                [p for p in range(pos, n) if mask[p]],
                RELAXED_CANDIDATE_CAP,
                "relaxed-step",
            )
        if neg_limit is not None:
            candidates = [p for p in candidates if p <= neg_limit]
        # a deterministic step stops at its first viable (position, run);
        # allowCombinations branches over runs, followedByAny over both
        branch_pos = step.contiguity == "any"
        branch_run = branch_pos or step.quantifier == "+c"
        took = False
        for p in candidates:
            if not run_ok(step, bindings, [], p):
                continue
            fp = first_pos if first_pos is not None else p
            if not within_ok(fp, p):
                break
            for elems in runs(si, mask, bindings, p, fp):
                for hit in rec(si + 1, elems[-1] + 1, {**bindings, step.name: elems}, fp):
                    took = True
                    yield hit
                if took and not branch_run:
                    break
            if took and not branch_pos:
                break
        if optional and not step.reluctant:
            yield from rec(si + 1, pos, bindings, first_pos, neg_limit)

    if pattern.any_semantics:
        found: dict[tuple, tuple[dict[str, list[int]], int, int]] = {}
        for i in range(n):
            if masks[0][i]:
                for bindings, end in rec(0, i, {}, None):
                    key = tuple(sorted((v, tuple(idx)) for v, idx in bindings.items()))
                    found.setdefault(key, (bindings, i, end))
        return pdf, [found[k] for k in sorted(found, key=lambda k: (*found[k][1:], k))]

    matches: list[tuple[dict[str, list[int]], int, int]] = []
    i = 0
    while i < n:
        hit = next(rec(0, i, {}, None), None) if masks[0][i] else None
        if hit:
            bindings, end = hit
            matches.append((bindings, i, end))
            # after-match skip strategy (Flink AfterMatchSkipStrategy.java:
            # 38-60 — PAST LAST ROW, TO NEXT ROW, TO FIRST <var>,
            # TO LAST <var>; the TO_* modes resume AT the first/last row the
            # variable bound, which may start the next match)
            if after_match == "past_last":
                i = end + 1
            elif after_match == "next_row":
                i = i + 1
            elif after_match.startswith(("to_first:", "to_last:")):
                mode, var = after_match.split(":", 1)
                idxs = bindings.get(var)
                if not idxs:
                    # Flink's default throwExceptionOnMiss for an unbound
                    # skip-to variable
                    raise ValueError(
                        f"AFTER MATCH SKIP {mode}: variable {var!r} bound no "
                        "rows in the match"
                    )
                nxt = idxs[0] if mode == "to_first" else idxs[-1]
                if nxt <= i:
                    # resuming at (or before) the match start would rematch
                    # forever — Flink raises the same way
                    raise ValueError(
                        f"AFTER MATCH SKIP {mode} {var}: resume point does "
                        "not advance past the match start (infinite loop)"
                    )
                i = nxt
            else:
                raise ValueError(f"unknown after-match strategy: {after_match}")
        else:
            i += 1
    return pdf, matches


def _measure_row(
    pdf: pd.DataFrame,
    bindings: dict[str, list[int]],
    measures: dict[str, tuple[str, str, str]],
    time_col: str | None = None,
) -> dict:
    row: dict = {}
    for out_col, (var, agg, col) in measures.items():
        if agg == "match_rowtime":
            # MATCH_ROWTIME() (FlinkSqlOperatorTable.MATCH_ROWTIME,
            # MatchCodeGenerator.scala): the rowtime attribute of the match =
            # the timestamp of the LAST row bound by any variable
            last = max(v[-1] for v in bindings.values() if v)
            row[out_col] = pdf[col or time_col].iloc[last]
            continue
        if agg == "classifier":
            # CLASSIFIER() (FlinkSqlOperatorTable.CLASSIFIER): under ONE ROW
            # PER MATCH, the pattern variable that bound the match's last row
            last = max(v[-1] for v in bindings.values() if v)
            row[out_col] = next(
                name for name, v in bindings.items() if v and v[-1] == last
            )
            continue
        idxs = bindings.get(var, [])
        if "@" in agg:
            # FIRST/LAST with a logical offset (SQL:2016 row-pattern
            # navigation): LAST(A.col, 1) = second-to-last bound row;
            # offset past the binding yields NULL (Flink's reading)
            base, k = agg.split("@")
            k = int(k)
            if len(idxs) <= k:
                row[out_col] = None
            else:
                row[out_col] = pdf[col].iloc[idxs[k if base == "first" else -1 - k]]
            continue
        if idxs:
            row[out_col] = _AGGS[agg](pdf[col].iloc[idxs])
        else:
            row[out_col] = 0 if agg == "count" else None
    return row


def _scan_group(
    pdf: pd.DataFrame,
    pattern: Pattern,
    order_by: list[str],
    time_col: str | None,
    measures: dict[str, tuple[str, str, str]],
    partition_by: list[str],
    after_match: str = "past_last",
) -> pd.DataFrame:
    pdf, matches = _scan_matches(pdf, pattern, order_by, time_col, after_match)
    out_rows = []
    for seq, (bindings, _start, _end) in enumerate(matches):
        row: dict = {c: pdf[c].iloc[0] for c in partition_by}
        row["match_seq"] = seq
        row.update(_measure_row(pdf, bindings, measures, time_col))
        out_rows.append(row)
    cols = partition_by + ["match_seq"] + list(measures)
    return pd.DataFrame(out_rows, columns=cols) if out_rows else pd.DataFrame(columns=cols)


def match_recognize(
    df: DataFrame,
    partition_by: list[str],
    order_by: list[str],
    pattern: Pattern,
    measures: dict[str, tuple[str, str, str]],
    output_schema: str,
    time_col: str | None = None,
    after_match: str = "past_last",
) -> DataFrame:
    """MATCH_RECOGNIZE over a batch DataFrame.

    measures: out_col → (variable, agg∈{first,last,count,sum,min,max}, source_col).
    output_schema: Spark DDL for partition_by + match_seq + measure columns.
    after_match: "past_last" (SKIP PAST LAST ROW, the default), "next_row"
    (SKIP TO NEXT ROW), or "to_first:<VAR>" / "to_last:<VAR>" (SKIP TO
    FIRST/LAST <var>, resuming AT that row) — Flink
    AfterMatchSkipStrategy.java:38-60. A pattern with any-semantics
    (followedByAny / allowCombinations) reports every alternative match and
    ignores the skip strategy; its branching is bounded by
    RELAXED_CANDIDATE_CAP / COMBINATION_ELEMS_CAP (a truncation emits a
    RuntimeWarning).
    """
    if pattern.steps and pattern.steps[0].negated:
        raise ValueError("pattern cannot start with a negative step")

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        return _scan_group(
            pdf, pattern, order_by, time_col, measures, partition_by, after_match
        )

    # Explicit hash repartition on the key BEFORE the groupBy: the NFA stage
    # is Python-CPU-bound, but AQE's partition coalescing is BYTE-based — on
    # a few MB of Arrow batches it would fold the stage down to 2-3 tasks and
    # serialize thousands of per-key scans onto as many cores. A fixed-width
    # exchange (defaultParallelism) keeps every core busy; groupBy then reuses
    # the child partitioning, adding no second shuffle. At 100 TB the bytes
    # are large enough that AQE would size this correctly — the override only
    # changes small-input behavior, and costs nothing (same single shuffle).
    par = df.sparkSession.sparkContext.defaultParallelism
    return (
        df.repartition(par, *partition_by)
        .groupBy(*partition_by)
        .applyInPandas(fn, schema=output_schema)
    )
