"""The one place operators materialize, cache and time an eager barrier.

Gelly's iterations and the batch pipelines run here as driver loops over
lazy DataFrames, so an operator cuts its lineage at deliberate EAGER
barriers: a relation read by several consumers, or by every round of a
loop, is computed once instead of once per reader. Every such barrier in
the graph and pipeline operators goes through this module:

- :func:`barrier` is an eager ``localCheckpoint``, timed under a stage
  name when one is given;
- :func:`cached` persists a relation for the duration of a block and
  always releases it, also when the block raises, so no cache outlives the
  call that made it;
- :func:`lazy_plans` turns both off for the plan-inspection callers (the
  plan goldens, plan dumps), which need the lazy interior plan instead of
  a ``Scan ExistingRDD`` stub. It removes the barriers' jobs only: an
  operator that collects a value or reads a partition count while it
  builds its plan still launches those jobs;
- :func:`record_stages` collects the per-stage wall times of the timed
  barriers; ``bench.py`` and perfbench turn it on around a timed run.
  Off by default: a plain run pays one ``is None`` check per barrier.

Not thread-safe by design (the bench harness and plan inspection are
single-threaded); both switches are plain module globals so operators deep
in the call stack need no plumbing.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from pyspark.sql import DataFrame

_SINK: dict[str, float] | None = None
_LAZY = False


@contextmanager
def record_stages(sink: dict[str, float]):
    """Activate stage recording into ``sink`` ({stage_name: seconds},
    accumulated) for the duration of the block."""
    global _SINK
    prev = _SINK
    _SINK = sink
    try:
        yield sink
    finally:
        _SINK = prev


@contextmanager
def lazy_plans():
    """Build lazily for the duration of the block: :func:`barrier` returns
    its input and :func:`cached` persists nothing."""
    global _LAZY
    prev = _LAZY
    _LAZY = True
    try:
        yield
    finally:
        _LAZY = prev


def barrier(
    df: DataFrame, stage: str | None = None, partitions: int | None = None
) -> DataFrame:
    """``df`` eagerly local-checkpointed, its wall time added to the
    recorded ``stage`` when one is given and recording is on. With
    ``partitions`` the checkpoint is first round-robined into that many
    partitions; the lazy plan keeps ``df``'s own partitioning."""
    if _LAZY:
        return df
    if partitions is not None:
        df = df.repartition(partitions)
    if stage is None or _SINK is None:
        return df.localCheckpoint(eager=True)
    t0 = time.perf_counter()
    try:
        return df.localCheckpoint(eager=True)
    finally:
        _SINK[stage] = round(_SINK.get(stage, 0.0) + time.perf_counter() - t0, 4)


@contextmanager
def cached(df: DataFrame):
    """Persist ``df`` for the duration of the block and unpersist it on
    exit, including when the block raises. Barrier the result inside the
    block, or it re-derives ``df`` after the release."""
    if _LAZY:
        yield df
        return
    df.persist()
    try:
        yield df
    finally:
        df.unpersist()
