"""Property-based CEP NFA verification (hypothesis): for strict-contiguity
patterns without time bounds, MATCH_RECOGNIZE over a symbol sequence is
exactly regular-expression matching over the concatenated symbol string —
greedy quantifiers with backtracking, and AFTER MATCH SKIP PAST LAST ROW is
``re.finditer``'s non-overlapping leftmost scan. Two independent engines
(our NFA vs CPython's sre) must agree on every match span.

This is the reference's agg-function-table test style (SURVEY §5.5) applied
to the hardest operator family (§2.9).
"""

from __future__ import annotations

import itertools
import re

import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st

from flink_1_12_0_src_spark.operators.cep import Pattern, _scan_matches

# pattern library: (name, Pattern builder, equivalent regex)
def _pat_abc():
    return (
        Pattern.begin("x").where(lambda p: p.t == "a")
        .next("y").where(lambda p: p.t == "b")
        .next("z").where(lambda p: p.t == "c")
    ), "abc"


def _pat_ab_plus():
    return (
        Pattern.begin("x").where(lambda p: p.t == "a")
        .next("y").where(lambda p: p.t == "b").one_or_more()
    ), "ab+"


def _pat_a_plus_c():
    return (
        Pattern.begin("x").where(lambda p: p.t == "a").one_or_more()
        .next("z").where(lambda p: p.t == "c")
    ), "a+c"


def _pat_ab_opt_c():
    return (
        Pattern.begin("x").where(lambda p: p.t == "a")
        .next("y").where(lambda p: p.t == "b").optional()
        .next("z").where(lambda p: p.t == "c")
    ), "ab?c"


def _pat_a_range_b():
    return (
        Pattern.begin("x").where(lambda p: p.t == "a").times(2, 4)
        .next("y").where(lambda p: p.t == "b")
    ), "a{2,4}b"


def _pat_a_exact():
    return (
        Pattern.begin("x").where(lambda p: p.t == "a").times(3)
    ), "a{3}"


PATTERNS = [_pat_abc, _pat_ab_plus, _pat_a_plus_c, _pat_ab_opt_c, _pat_a_range_b, _pat_a_exact]


@settings(max_examples=300, deadline=None)
@given(
    seq=st.text(alphabet="abc", min_size=0, max_size=24),
    pat_idx=st.integers(min_value=0, max_value=len(PATTERNS) - 1),
)
def test_nfa_matches_regex_spans(seq: str, pat_idx: int):
    pattern, rx = PATTERNS[pat_idx]()
    pdf = pd.DataFrame({"pos": range(len(seq)), "t": list(seq)})
    _, matches = _scan_matches(pdf, pattern, order_by=["pos"], time_col=None)
    nfa_spans = [(start, end + 1) for _b, start, end in matches]
    re_spans = [m.span() for m in re.finditer(rx, seq)]
    assert nfa_spans == re_spans, f"seq={seq!r} rx={rx}"


@settings(max_examples=200, deadline=None)
@given(seq=st.text(alphabet="ab", min_size=0, max_size=20))
def test_nfa_skip_to_next_row_is_overlapping_regex(seq: str):
    # SKIP TO NEXT ROW = all matches starting at distinct positions =
    # lookahead-captured overlapping regex matches
    pattern, rx = _pat_ab_plus()
    pdf = pd.DataFrame({"pos": range(len(seq)), "t": list(seq)})
    _, matches = _scan_matches(
        pdf, pattern, order_by=["pos"], time_col=None, after_match="next_row"
    )
    nfa_spans = [(start, end + 1) for _b, start, end in matches]
    re_spans = [
        (m.start(), m.start() + len(m.group(1)))
        for m in re.finditer(f"(?=({rx}))", seq)
    ]
    assert nfa_spans == re_spans, f"seq={seq!r}"


@settings(max_examples=200, deadline=None)
@given(seq=st.text(alphabet="abc", min_size=0, max_size=16))
def test_followed_by_any_enumerates_all_alternatives(seq: str):
    """followedByAny (Pattern.followedByAny:214): A followedByAny B over a
    symbol sequence must produce exactly every (a-position, later b-position)
    pair — the closed-form alternative set, independently enumerable."""
    pattern = (
        Pattern.begin("x").where(lambda p: p.t == "a")
        .followed_by_any("y").where(lambda p: p.t == "b")
    )
    pdf = pd.DataFrame({"pos": range(len(seq)), "t": list(seq)})
    _, matches = _scan_matches(pdf, pattern, order_by=["pos"], time_col=None)
    got = sorted((b["x"][0], b["y"][0]) for b, _s, _e in matches)
    expected = sorted(
        (i, j)
        for i, ci in enumerate(seq)
        if ci == "a"
        for j, cj in enumerate(seq)
        if cj == "b" and j > i
    )
    assert got == expected, f"seq={seq!r}"


@settings(max_examples=150, deadline=None)
@given(seq=st.text(alphabet="ab", min_size=0, max_size=10))
def test_allow_combinations_enumerates_subsets(seq: str):
    """allowCombinations (Pattern.allowCombinations:471): A+ allowCombinations
    binds, for every start position p, every order-preserving combination of
    later a-rows that includes p."""
    from itertools import combinations

    pattern = (
        Pattern.begin("x").where(lambda p: p.t == "a")
        .one_or_more().allow_combinations()
    )
    pdf = pd.DataFrame({"pos": range(len(seq)), "t": list(seq)})
    _, matches = _scan_matches(pdf, pattern, order_by=["pos"], time_col=None)
    got = sorted(tuple(b["x"]) for b, _s, _e in matches)
    a_pos = [i for i, c in enumerate(seq) if c == "a"]
    expected = sorted(
        (p, *combo)
        for idx, p in enumerate(a_pos)
        for r in range(len(a_pos) - idx)
        for combo in combinations(a_pos[idx + 1 :], r)
    )
    assert got == expected, f"seq={seq!r}"


@settings(max_examples=200, deadline=None)
@given(seq=st.text(alphabet="abc", min_size=0, max_size=16))
def test_followed_by_any_then_next_enumerates_triples(seq: str):
    """A mixed pattern, A followedByAny B next C: the any-step branches over
    every later b while the strict step after it binds the one row that
    follows — closed form: every (a, b, c) with b > a and c at b + 1."""
    pattern = (
        Pattern.begin("x").where(lambda p: p.t == "a")
        .followed_by_any("y").where(lambda p: p.t == "b")
        .next("z").where(lambda p: p.t == "c")
    )
    pdf = pd.DataFrame({"pos": range(len(seq)), "t": list(seq)})
    _, matches = _scan_matches(pdf, pattern, order_by=["pos"], time_col=None)
    got = sorted((b["x"][0], b["y"][0], b["z"][0]) for b, _s, _e in matches)
    expected = sorted(
        (i, j, j + 1)
        for i, ci in enumerate(seq)
        if ci == "a"
        for j, cj in enumerate(seq[:-1])
        if cj == "b" and j > i and seq[j + 1] == "c"
    )
    assert got == expected, f"seq={seq!r}"


def _pat_ab_lazy_plus():
    return (
        Pattern.begin("x").where(lambda p: p.t == "a")
        .next("y").where(lambda p: p.t == "b").one_or_more().reluctant()
        .next("z").where(lambda p: p.t == "c")
    ), "ab+?c"


def _pat_a_lazy_range():
    return (
        Pattern.begin("x").where(lambda p: p.t == "a").times(2, 4).reluctant()
        .next("y").where(lambda p: p.t == "b")
    ), "a{2,4}?b"


def _pat_ab_lazy_opt():
    return (
        Pattern.begin("x").where(lambda p: p.t == "a")
        .next("y").where(lambda p: p.t == "b").optional().reluctant()
        .next("z").where(lambda p: p.t == "b")
    ), "ab??b"


LAZY_PATTERNS = [_pat_ab_lazy_plus, _pat_a_lazy_range, _pat_ab_lazy_opt]


@settings(max_examples=250, deadline=None)
@given(
    seq=st.text(alphabet="abc", min_size=0, max_size=24),
    pat_idx=st.integers(min_value=0, max_value=len(LAZY_PATTERNS) - 1),
)
def test_nfa_reluctant_matches_lazy_regex(seq: str, pat_idx: int):
    """Reluctant quantifiers (MATCH_RECOGNIZE +?/{n,m}?/?? — the inverse of
    Pattern.greedy, Pattern.java:426) bind shortest-first, exactly regex
    lazy quantifier semantics — pinned against CPython's sre."""
    pattern, rx = LAZY_PATTERNS[pat_idx]()
    pdf = pd.DataFrame({"pos": range(len(seq)), "t": list(seq)})
    _, matches = _scan_matches(pdf, pattern, order_by=["pos"], time_col=None)
    nfa_spans = [(start, end + 1) for _b, start, end in matches]
    re_spans = [m.span() for m in re.finditer(rx, seq)]
    assert nfa_spans == re_spans, f"seq={seq!r} rx={rx}"


def _reference_skip_to_scan(seq: str, rx: str, group_spans, mode: str):
    """Independent reference for AFTER MATCH SKIP TO FIRST/LAST <var>
    (AfterMatchSkipStrategy.java:46,56): find the leftmost regex match from
    the scan position, emit it, then resume AT the first/last row the
    tracked group bound. Pure-regex engine — shares no code with the NFA."""
    out, i = [], 0
    while i <= len(seq):
        m = re.compile(rx).search(seq, i)
        if not m:
            break
        lo, hi = group_spans(m)
        out.append(m.span())
        nxt = lo if mode == "to_first" else hi - 1
        if nxt <= m.start():
            raise ValueError("no progress")
        i = nxt
    return out


@settings(max_examples=250, deadline=None)
@given(seq=st.text(alphabet="abc", min_size=0, max_size=24))
def test_nfa_skip_to_last_var_matches_reference(seq: str):
    """SKIP TO LAST y over A B+: resume at the last b of the match — chained
    matches may share that row with the next match's leading context."""
    pattern, rx = _pat_ab_plus()
    pdf = pd.DataFrame({"pos": range(len(seq)), "t": list(seq)})
    _, matches = _scan_matches(
        pdf, pattern, order_by=["pos"], time_col=None, after_match="to_last:y"
    )
    nfa_spans = [(start, end + 1) for _b, start, end in matches]
    ref = _reference_skip_to_scan(
        seq, "a(b+)", lambda m: m.span(1), "to_last"
    )
    assert nfa_spans == ref, f"seq={seq!r}"


@settings(max_examples=250, deadline=None)
@given(seq=st.text(alphabet="abc", min_size=0, max_size=24))
def test_nfa_skip_to_first_var_matches_reference(seq: str):
    pattern, rx = _pat_ab_plus()
    pdf = pd.DataFrame({"pos": range(len(seq)), "t": list(seq)})
    _, matches = _scan_matches(
        pdf, pattern, order_by=["pos"], time_col=None, after_match="to_first:y"
    )
    nfa_spans = [(start, end + 1) for _b, start, end in matches]
    ref = _reference_skip_to_scan(
        seq, "a(b+)", lambda m: m.span(1), "to_first"
    )
    assert nfa_spans == ref, f"seq={seq!r}"


def test_nfa_skip_to_first_of_leading_var_raises():
    """SKIP TO FIRST x where x starts the match would loop forever — Flink
    raises; so do we."""
    import pytest

    pattern, _ = _pat_ab_plus()
    pdf = pd.DataFrame({"pos": range(4), "t": list("abab")})
    with pytest.raises(ValueError, match="infinite loop"):
        _scan_matches(
            pdf, pattern, order_by=["pos"], time_col=None, after_match="to_first:x"
        )


@settings(max_examples=250, deadline=None)
@given(vals=st.lists(st.integers(min_value=0, max_value=5), min_size=0, max_size=20))
def test_cross_variable_last_binding(vals: list[int]):
    """DEFINE B AS B.v > LAST(A.v) (the MatchRecognizeITCase cross-variable
    idiom) via where_binding: A binds one row, B+ binds the following run of
    rows strictly greater than A's value — reference = direct python scan."""
    pattern = (
        Pattern.begin("A")
        .next("B")
        .where_binding(
            lambda pdf, b: pdf["v"] > (pdf["v"].iloc[b["A"][-1]] if b.get("A") else float("inf"))
        )
        .one_or_more()
    )
    pdf = pd.DataFrame({"pos": range(len(vals)), "v": vals})
    _, matches = _scan_matches(pdf, pattern, order_by=["pos"], time_col=None)
    got = [(s, e + 1) for _b, s, e in matches]
    # reference scan: greedy, skip past last row
    ref, i = [], 0
    while i < len(vals) - 1:
        if vals[i + 1] > vals[i]:
            j = i + 1
            while j + 1 < len(vals) and vals[j + 1] > vals[i]:
                j += 1
            ref.append((i, j + 1))
            i = j + 1
        else:
            i += 1
    assert got == ref, f"vals={vals!r}"


def _vshape_pattern():
    from flink_1_12_0_src_spark.plans.matchrec import parse_match_recognize

    return parse_match_recognize(
        """
        MATCH_RECOGNIZE (
          PARTITION BY k
          ORDER BY pos
          MEASURES COUNT(DOWN.v) AS d, COUNT(UP.v) AS u
          AFTER MATCH SKIP {skip}
          PATTERN (STRT DOWN+ UP+)
          DEFINE DOWN AS DOWN.v < PREV(DOWN.v), UP AS UP.v > PREV(UP.v)
        )
        """.replace("{skip}", "TO NEXT ROW")
    )["pattern"]


def _runs(vals):
    """Run-length reference: maximal descents/ascents with dir ∈ {-1,0,1}."""
    dirs = [0] + [
        -1 if b < a else (1 if b > a else 0) for a, b in zip(vals, vals[1:])
    ]
    return dirs


@settings(max_examples=400, deadline=None)
@given(vals=st.lists(st.integers(min_value=0, max_value=4), min_size=0, max_size=18))
def test_vshape_prev_matches_runlength_reference(vals):
    """The V-shape NFA under SKIP TO NEXT ROW must equal the run-length
    encoding the SQL oracle uses: one match per STRT position s where the
    descent run containing s+1 is immediately followed by an ascent step,
    DOWN binding the run suffix and UP the full following ascent run."""
    pattern = _vshape_pattern()
    pdf = pd.DataFrame({"pos": range(len(vals)), "v": [float(x) for x in vals]})
    _, matches = _scan_matches(
        pdf, pattern, order_by=["pos"], time_col=None, after_match="next_row"
    )
    got = sorted((s, len(b["DOWN"]), len(b["UP"])) for b, s, _e in matches)

    dirs = _runs(vals)
    expected = []
    n = len(vals)
    for s in range(n):
        if s + 1 >= n or dirs[s + 1] != -1:
            continue
        t = s + 1
        while t + 1 < n and dirs[t + 1] == -1:
            t += 1
        if t + 1 >= n or dirs[t + 1] != 1:
            continue
        u = t + 1
        while u + 1 < n and dirs[u + 1] == 1:
            u += 1
        expected.append((s, t - s, u - t))
    assert got == sorted(expected), f"vals={vals!r}"


# -- running-aggregate DEFINE (SQL:2016 RUNNING semantics) -------------------


def _reference_agg_scan(vals: list[int], bound: int, max_run: int):
    """Independent reference for PATTERN (A{1,max_run} B) with
    A AS AVG(A.v) < bound, B AS B.v >= bound, SKIP PAST LAST ROW: simulate
    the greedy scan directly on the list."""
    out = []
    i, n = 0, len(vals)
    while i < n:
        # greedy extension: append while the running average stays < bound
        run = 0
        s = 0
        while i + run < n and run < max_run:
            if (s + vals[i + run]) / (run + 1) >= bound:
                break
            s += vals[i + run]
            run += 1
        # backtrack: longest L whose next row is a valid B
        matched = False
        for L in range(run, 0, -1):
            j = i + L
            if j < n and vals[j] >= bound:
                out.append((i, L, vals[j]))
                i = j + 1
                matched = True
                break
        if not matched:
            i += 1
    return out


@settings(max_examples=60, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=99), min_size=0, max_size=40))
def test_running_aggregate_define_matches_reference(vals: list[int]):
    bound, max_run = 50, 3
    pat = (
        Pattern.begin("A")
        .where_running(
            lambda pdf, bd, prefix, cand, b=bound: float(
                pdf["v"].iloc[prefix + [cand]].sum()
            )
            / (len(prefix) + 1)
            < b
        )
        .times(1, max_run)
        .next("B")
        .where(lambda p, b=bound: p.v >= b)
    )
    pdf = pd.DataFrame({"rn": range(len(vals)), "v": vals})
    _, matches = _scan_matches(pdf, pat, ["rn"], None, "past_last")
    got = [
        (bindings["A"][0], len(bindings["A"]), vals[bindings["B"][0]])
        for bindings, _s, _e in matches
    ]
    assert got == _reference_agg_scan(vals, bound, max_run)


def test_any_scan_cap_override_reaches_scan(monkeypatch):
    """The module cap is the scan's only branching bound: lowering
    RELAXED_CANDIDATE_CAP to 1 truncates the followedByAny alternatives the
    default cap keeps, and the truncation warns."""
    import pytest

    from flink_1_12_0_src_spark.operators import cep

    pdf = pd.DataFrame({"pos": range(6), "t": ["a"] + ["b"] * 5})
    pat = (
        Pattern.begin("A").where(lambda p: p.t == "a")
        .followed_by_any("B").where(lambda p: p.t == "b")
    )
    _, full = _scan_matches(pdf, pat, order_by=["pos"], time_col=None)
    assert len(full) == 5  # every b is an alternative
    monkeypatch.setattr(cep, "RELAXED_CANDIDATE_CAP", 1)
    with pytest.warns(RuntimeWarning, match="truncated"):
        _, capped = _scan_matches(pdf, pat, order_by=["pos"], time_col=None)
    assert len(capped) == 1


@pytest.mark.parametrize(
    "quantify, loops",
    [
        (lambda p: p, False),
        (lambda p: p.optional(), False),
        (lambda p: p.times(2), False),
        (lambda p: p.times(1, 3), False),
        (lambda p: p.one_or_more(), True),
        (lambda p: p.one_or_more(consecutive=False), True),
        (lambda p: p.one_or_more().allow_combinations(), True),
        (lambda p: p.times_or_more(2), True),
    ],
    ids=[
        "exactly_one", "optional", "times_n", "times_n_m",
        "one_or_more", "relaxed_loop", "allow_combinations", "times_or_more",
    ],
)
def test_until_requires_a_looping_step(quantify, loops):
    """Pattern.until (Pattern.java:451) throws unless the current step loops;
    Flink counts times(n, m) as bounded, not looping."""
    pat = quantify(Pattern.begin("x").where(lambda p: p.t == "a"))
    if loops:
        assert pat.until(lambda p: p.t == "c").steps[-1].until_predicate is not None
    else:
        with pytest.raises(ValueError, match="looping"):
            pat.until(lambda p: p.t == "c")


# -- cep_funnel's strict V C P WITHIN 1h vs its lead()-window oracle ---------

_FUNNEL_TYPES = ["view", "click", "purchase", "other"]
# second gaps around the 1 h bound: a purchase 3600 s after its view matches
# (the oracle's ``<=``), one at 3601 s does not
_FUNNEL_GAPS = [0, 1, 1799, 1800, 3599, 3600, 3601]


def _funnel_pattern():
    return (
        Pattern.begin("v").where(lambda p: p.event_type == "view")
        .next("c").where(lambda p: p.event_type == "click")
        .next("p").where(lambda p: p.event_type == "purchase")
        .within(3600.0)
    )


def _funnel_frame(types, offsets_s, ids):
    base = pd.Timestamp("2024-01-01")
    return pd.DataFrame(
        {
            "event_id": ids,
            "ts": [base + pd.Timedelta(seconds=s) for s in offsets_s],
            "event_type": types,
        }
    )


def _funnel_nfa(pdf):
    ordered, matches = _scan_matches(pdf, _funnel_pattern(), ["ts", "event_id"], "ts")
    ids = ordered["event_id"].tolist()
    return [tuple(ids[b[v][0]] for v in ("v", "c", "p")) for b, _s, _e in matches]


def _funnel_reference(pdf):
    """The cep_funnel oracle in Python: over rows ordered by (ts, event_id),
    every view whose lead 1 is a click and lead 2 a purchase at most 1 h
    after the view."""
    rows = pdf.sort_values(["ts", "event_id"]).to_dict("records")
    return [
        (v["event_id"], c["event_id"], p["event_id"])
        for v, c, p in zip(rows, rows[1:], rows[2:])
        if (v["event_type"], c["event_type"], p["event_type"]) == ("view", "click", "purchase")
        and p["ts"] <= v["ts"] + pd.Timedelta(hours=1)
    ]


@pytest.mark.parametrize("purchase_after_s, n_matches", [(3600, 1), (3601, 0)])
def test_funnel_within_bound_is_inclusive(purchase_after_s, n_matches):
    pdf = _funnel_frame(["view", "click", "purchase"], [0, 1, purchase_after_s], [0, 1, 2])
    assert len(_funnel_nfa(pdf)) == len(_funnel_reference(pdf)) == n_matches


@settings(max_examples=300, deadline=None)
@given(
    data=st.data(),
    events=st.lists(
        st.tuples(st.sampled_from(_FUNNEL_TYPES), st.sampled_from(_FUNNEL_GAPS)),
        max_size=24,
    ),
)
def test_funnel_matches_lead_window_reference(data, events):
    """The strict funnel through the NFA equals the lead()-window reference
    the cep_funnel oracle computes (equivalent for this pattern, whose
    matches cannot overlap), on random sequences with tied timestamps and
    event ids out of arrival order."""
    types = [t for t, _g in events]
    offsets = list(itertools.accumulate(g for _t, g in events))
    ids = data.draw(st.permutations(range(len(events))))
    pdf = _funnel_frame(types, offsets, ids)
    assert _funnel_nfa(pdf) == _funnel_reference(pdf), f"events={events!r} ids={ids!r}"
