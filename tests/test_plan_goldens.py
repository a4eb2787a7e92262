"""Golden plan-fingerprint tests for every lazy batch query in the registry — the
repo's full adoption of the reference's golden-plan strategy (SURVEY.md §5.1:
182 golden plan XMLs under flink-table-planner-blink/src/test/resources/...;
here the golden is a normalized structural fingerprint, not full text, so it
survives cosmetic planner changes but fails loudly on the regressions that
matter at 100 TB: a lost broadcast, a new shuffle, an unpushed filter, a
widened scan, a join strategy flip, a lost two-phase aggregate).

On an INTENTIONAL plan change, regenerate + diff-review:

    python tools/regen_plan_goldens.py
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from flink_1_12_0_src_spark.queries import REGISTRY
from tests.plan_fp import REDUCED, df_fingerprint, golden_plan_providers

GOLDENS = json.loads((Path(__file__).parent / "plan_goldens.json").read_text())
PROVIDERS = golden_plan_providers()


def test_goldens_cover_every_fingerprintable_query():
    """The golden file and the provider map must stay in lockstep with the
    registry: registering any lazy batch query without regenerating the
    goldens fails here, not silently."""
    assert sorted(GOLDENS) == sorted(PROVIDERS)


def test_goldens_build_the_registered_query():
    """A golden pins the registered function itself (built under
    ``lazy_plans()``), never a hand-written copy of it that can drift; the
    only exceptions are the named ``REDUCED`` variants."""
    copies = sorted(
        n
        for n, provider in PROVIDERS.items()
        if n in REGISTRY
        and n not in REDUCED
        and getattr(provider, "__wrapped__", None) is not REGISTRY[n].spark
    )
    assert copies == []
    assert set(REDUCED) <= set(PROVIDERS)


@pytest.mark.parametrize("name", sorted(GOLDENS))
def test_plan_fingerprint_matches_golden(spark, sf_dir, name):
    got = df_fingerprint(spark, PROVIDERS[name](spark, sf_dir))
    want = GOLDENS[name]
    if got != want:
        diff = {
            k: {"want": want.get(k), "got": got.get(k)}
            for k in set(want) | set(got)
            if want.get(k) != got.get(k)
        }
        pytest.fail(
            f"plan fingerprint changed for {name}:\n{json.dumps(diff, indent=2, sort_keys=True)}\n"
            "If intentional: python tools/regen_plan_goldens.py and review the diff."
        )
