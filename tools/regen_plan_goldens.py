#!/usr/bin/env python
"""Regenerate tests/plan_goldens.json — the golden plan fingerprints for every
lazy batch query in the registry (bench headliners, TPC-H, and the rest) (reference analog: Flink's golden plan XMLs,
SURVEY.md §5.1).

Run after an INTENTIONAL plan change, diff-review the result like any golden:

    python tools/regen_plan_goldens.py            # regenerate + report diff
    python -m pytest tests/test_plan_goldens.py   # verify

Fingerprints are generated with the tests' shuffle-partition count (8) at
sf0.01, so goldens and assertions agree. They record partitioning kinds, not
counts, so the core count (8 here, SPARK_GRAFT_CPUS in the tests) does not
enter them.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from tests.conftest import SF_CORRECT  # noqa: E402
from tests.plan_fp import df_fingerprint, golden_plan_providers  # noqa: E402

from flink_1_12_0_src_spark.session import get_spark  # noqa: E402

GOLDENS = Path(__file__).resolve().parents[1] / "tests" / "plan_goldens.json"


def main() -> None:
    spark = get_spark(app_name="regen-goldens", cpus=8, shuffle_partitions=8)
    old = json.loads(GOLDENS.read_text()) if GOLDENS.exists() else {}
    new = {}
    for name, provider in sorted(golden_plan_providers().items()):
        new[name] = df_fingerprint(spark, provider(spark, SF_CORRECT))
        status = (
            "unchanged"
            if old.get(name) == new[name]
            else ("NEW" if name not in old else "CHANGED")
        )
        print(f"{name}: {status}")
    for gone in sorted(set(old) - set(new)):
        print(f"{gone}: REMOVED (no longer in golden_plan_providers)")
    GOLDENS.write_text(json.dumps(new, indent=1, sort_keys=True) + "\n")
    print(f"wrote {GOLDENS} ({len(new)} queries)")
    spark.stop()


if __name__ == "__main__":
    main()
