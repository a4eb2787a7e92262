"""Query registry: one entry per operator/capability from SURVEY.md §2.

Each :class:`Query` pairs a Spark implementation (DataFrame/SQL, takes
``(spark, sf_dir)``) with an optional DuckDB oracle SQL string over the same
parquet tables. The driver's correctness gate runs both at sf0.01 and compares
row-count + schema + order-insensitive value hash, so:

- every computed column is aliased identically on both sides;
- float aggregations accumulate in DECIMAL (exact, order-independent) and cast
  the final value to DOUBLE — bit-deterministic in both engines regardless of
  partitioning/merge order;
- output types are plain (BIGINT/DOUBLE/STRING/TIMESTAMP/BOOLEAN).
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    spark: QueryFn
    oracle: str | None
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None = None, tags: tuple[str, ...] = (), doc: str = ""):
    """Decorator: add a query implementation to the registry."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = Query(name=name, spark=fn, oracle=oracle, tags=tags, doc=doc or (fn.__doc__ or ""))
        return fn

    return deco


# The driver commits each round's correctness-gate result to the repo root as
# CORRECTNESS_r<N>.json: {query name: {"hash_match": bool, ...}} for the (at
# most 50) queries it ran, in load_all() order. The gate order below is
# derived from those files on every load_all() call, so folding a round
# means committing its artifact and nothing else.
ARTIFACT_DIR = Path(__file__).resolve().parents[2]

# Queries that need a first driver row for their CURRENT semantics: new
# registrations, and greens whose oracle text changed (the ORACLE_SHA record
# in queries/_last_green.py enforces that listing — see
# tests/test_gate_order.py). Empty the tuple once their rows land, and
# restamp ORACLE_SHA in the same edit: `python tools/gen_last_green.py`.
CURRENT_NEW: tuple[str, ...] = ()


def driver_rows(root: Path = ARTIFACT_DIR) -> tuple[dict[str, int], dict[str, bool]]:
    """Per query in the CORRECTNESS_r*.json history under ``root``: the last
    round the driver hashed it green, and whether its latest row is green."""
    rounds = sorted(
        (int(m.group(1)), path)
        for path in root.glob("CORRECTNESS_r*.json")
        if (m := re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name))
    )
    last_green: dict[str, int] = {}
    latest_green: dict[str, bool] = {}
    for rnd, path in rounds:
        for name, row in json.loads(path.read_text()).items():
            latest_green[name] = bool(row.get("hash_match"))
            if latest_green[name]:
                last_green[name] = rnd
    return last_green, latest_green


def gate_tiers(registry: dict[str, Query], root: Path = ARTIFACT_DIR) -> list[list[str]]:
    """Split ``registry`` into the driver's gate-budget tiers; earlier tiers
    run earlier in the 50-slot window, each in registration order unless
    noted:

    0. oracle-able queries whose latest driver row is not hash-green — the
       fix re-verifies first;
    1. oracle-able queries with no driver row yet (a registration made
       outside CURRENT_NEW by mistake still gets a slot);
    2. CURRENT_NEW, in tuple order. An explicit listing outranks tier 4:
       that is the only way a rows-only query spends a slot (a deliberate
       one-time presentation);
    3. driver-green queries, least recently verified first (last-green round
       ascending), so the slots left after the front tiers refresh the
       stalest evidence instead of re-checking the same early-registered
       rows every round;
    4. rows-only queries (``oracle is None``): they can only produce
       `no_oracle` rows, so they never consume an evidence slot.
    """
    last_green, latest_green = driver_rows(root)
    tiers: list[list[str]] = [[] for _ in range(5)]
    for name, q in registry.items():
        if q.oracle is not None and latest_green.get(name) is False:
            tier = 0
        elif name in CURRENT_NEW:
            tier = 2
        elif q.oracle is None:
            tier = 4
        elif name not in latest_green:
            tier = 1
        else:
            tier = 3
        tiers[tier].append(name)
    tiers[2].sort(key=CURRENT_NEW.index)
    tiers[3].sort(key=last_green.__getitem__)
    return tiers


def load_all() -> dict[str, Query]:
    """Import every query module (side effect: fills REGISTRY) and return it
    in gate-budget order (see :func:`gate_tiers`)."""
    from flink_1_12_0_src_spark.queries import (  # noqa: F401
        relational,
        window_agg,
        scalar_fns,
        custom_ops,
        dialectq,
        pipelineq,  # noqa: F401  (registers pipeline queries)
        graphq,
        cdcq,
        tpch,
        tpch2,
        streamingq,
    )

    return {n: REGISTRY[n] for tier in gate_tiers(REGISTRY) for n in tier}
