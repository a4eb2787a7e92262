"""Run every registered query with a DuckDB oracle at sf0.01 — the same check
the driver performs (exact values: decimal-accumulated floats are deterministic)."""

from __future__ import annotations

import pytest

from flink_1_12_0_src_spark.queries import load_all
from tests.oracle import compare_to_oracle

REG = load_all()


@pytest.mark.parametrize("name", sorted(REG))
def test_oracle_match(spark, sf_dir, name):
    q = REG[name]
    compare_to_oracle(spark, sf_dir, q.spark, q.oracle)
