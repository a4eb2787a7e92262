#!/usr/bin/env python
"""Restamp ORACLE_SHA in flink_1_12_0_src_spark/queries/_last_green.py.

ORACLE_SHA records the (whitespace-normalized) md5 of the registered oracle
SQL of every query with a driver-green row — i.e. the semantics that green
evidence verified. tests/test_gate_order.py compares it against the live
registry: an oracle whose text changes without the query being listed in
CURRENT_NEW fails there, so stale-semantics evidence is never treated as
fresh.

The gate order itself needs no tool: load_all() derives it from the
CORRECTNESS_r*.json artifacts on disk, so folding a round is committing its
artifact. Run this only when emptying CURRENT_NEW after the listed queries'
rows have landed green, and commit the regenerated module with that edit:

    python tools/gen_last_green.py
"""

from __future__ import annotations

import hashlib
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, "flink_1_12_0_src_spark", "queries", "_last_green.py")

HEADER = '''"""Oracle-text md5 of every driver-green query at its last stamp.

GENERATED by tools/gen_last_green.py — do not edit by hand. Restamp when
emptying queries.CURRENT_NEW; tests/test_gate_order.py fails on any green
query whose oracle text changed since without a CURRENT_NEW listing.
"""

ORACLE_SHA: dict[str, str] = {
'''


def oracle_sha(text: str) -> str:
    """Whitespace-normalized md5 of an oracle SQL string — formatting-only
    edits don't count as a semantics change."""
    return hashlib.md5(" ".join(text.split()).encode()).hexdigest()


def main() -> None:
    sys.path.insert(0, ROOT)
    from flink_1_12_0_src_spark.queries import driver_rows, load_all

    registry = load_all()
    last_green, _ = driver_rows()
    names = sorted(n for n in last_green if n in registry)
    lines = [HEADER]
    for name in names:
        lines.append(f'    "{name}": "{oracle_sha(registry[name].oracle)}",\n')
    lines.append("}\n")
    with open(OUT, "w") as f:
        f.writelines(lines)
    print(f"wrote {OUT}: {len(names)} queries")


if __name__ == "__main__":
    main()
