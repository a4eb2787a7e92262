"""Pins the driver gate order that load_all() derives from CORRECTNESS_r*.json.

The driver's correctness gate truncates at ~50 rows per round; the slots left
after the front tiers (reds, unevidenced, CURRENT_NEW) re-verify prior greens.
In registration order the same ~22 early-registered relational rows burned
re-green slots round after round while 105 queries sat last driver-verified
in rounds 1-3, so tier 3 orders by last-green round ascending and the
stalest evidence refreshes first. The order is computed from the artifacts
on disk (queries.gate_tiers), so a new round's artifact re-orders it with no
code edit.
"""

from __future__ import annotations

import importlib.util
import json
import os

from flink_1_12_0_src_spark import queries
from flink_1_12_0_src_spark.queries import (
    CURRENT_NEW,
    Query,
    driver_rows,
    gate_tiers,
    load_all,
)
from flink_1_12_0_src_spark.queries._last_green import ORACLE_SHA

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_gen_tool():
    path = os.path.join(ROOT, "tools", "gen_last_green.py")
    spec = importlib.util.spec_from_file_location("gen_last_green", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_later_artifact_reorders_without_code_edit(tmp_path, monkeypatch):
    """Synthetic artifacts in a temp dir: dropping in a later round's file
    re-sorts the green tier and moves a now-red query to the front — the
    whole fold is the artifact. Rounds sort by number, not file name."""

    def q(name, oracle="SELECT 1"):
        return Query(name=name, spark=lambda spark, sf: None, oracle=oracle)

    registry = {n: q(n) for n in ("a", "b", "c", "d", "e", "f")}
    registry["ann"] = q("ann", oracle=None)
    monkeypatch.setattr(queries, "CURRENT_NEW", ("f",))

    def write(rnd, rows):
        (tmp_path / f"CORRECTNESS_r{rnd}.json").write_text(
            json.dumps({n: {"hash_match": ok, "err": None} for n, ok in rows.items()})
        )

    write(9, {"a": True, "b": True, "c": True, "d": True, "ann": False})
    write(10, {"c": True, "d": True})
    assert gate_tiers(registry, tmp_path) == [[], ["e"], ["f"], ["a", "b", "c", "d"], ["ann"]]

    write(11, {"a": True, "b": False})
    assert driver_rows(tmp_path) == (
        {"a": 11, "b": 9, "c": 10, "d": 10},
        {"a": True, "b": False, "c": True, "d": True, "ann": False},
    )
    assert gate_tiers(registry, tmp_path) == [["b"], ["e"], ["f"], ["c", "d", "a"], ["ann"]]


def test_last_green_covers_green_union():
    """The tiers partition the registry; every tier-3 query has a last-green
    round, and every stamped ORACLE_SHA name has driver-green evidence."""
    registry = load_all()
    tiers = gate_tiers(registry)
    assert sorted(n for tier in tiers for n in tier) == sorted(registry)
    last_green, _ = driver_rows()
    assert set(tiers[3]) <= set(last_green)
    assert set(ORACLE_SHA) <= set(last_green)


def test_tier3_is_staleness_sorted():
    """In load_all() order, the re-verification tier (driver-green, oracle-able,
    not re-presented in CURRENT_NEW) is one contiguous run sorted by
    last-green round ascending — the LRU rotation itself."""
    registry = load_all()
    names = list(registry)
    last_green, latest_green = driver_rows()
    tier3 = [
        n for n in names
        if latest_green.get(n) and registry[n].oracle is not None and n not in CURRENT_NEW
    ]
    start = names.index(tier3[0])
    assert names[start:start + len(tier3)] == tier3
    rounds = [last_green[n] for n in tier3]
    assert rounds == sorted(rounds), "tier 3 must re-verify stalest greens first"


def test_oracle_change_requires_representation():
    """A green query whose registered oracle text changed since ORACLE_SHA was
    stamped must be re-presented in CURRENT_NEW — otherwise the LRU tier would
    treat stale-semantics evidence as fresh (the coupled-DoReMi rule, made
    mechanical). ORACLE_SHA is stamped when CURRENT_NEW is emptied, right
    after the driver verified those exact semantics; any later
    whitespace-insensitive edit trips this test unless the query is listed
    for a fresh driver row."""
    mod = _load_gen_tool()
    registry = load_all()
    changed = [
        name
        for name, stamped in ORACLE_SHA.items()
        if name in registry
        and mod.oracle_sha(registry[name].oracle) != stamped
        and name not in CURRENT_NEW
    ]
    assert not changed, (
        "oracle semantics changed without re-presentation (add to CURRENT_NEW "
        f"or revert): {changed}"
    )


def test_window_regreens_come_from_stale_cohort():
    """The ~50-slot window's re-green slots all come from the stalest
    last-green cohort. The boundary round is derived: the smallest R such
    that the tier-3 queries last green in a round <= R fill every re-green
    slot."""
    registry = load_all()
    names = list(registry)
    tiers = gate_tiers(registry)
    front = tiers[0] + tiers[1] + tiers[2]
    slots = 50 - len(front)
    last_green, _ = driver_rows()
    tier3_rounds = {n: last_green[n] for n in tiers[3]}
    window_regreens = [n for n in names[len(front):50] if n in tier3_rounds]
    boundary = min(
        r
        for r in sorted(set(tier3_rounds.values()))
        if sum(1 for rr in tier3_rounds.values() if rr <= r) >= slots
    )
    stale = {n for n, r in tier3_rounds.items() if r <= boundary}
    assert len(stale) >= slots
    assert set(window_regreens) <= stale, [
        (n, tier3_rounds[n]) for n in window_regreens if n not in stale
    ]
