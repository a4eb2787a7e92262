"""Structured Streaming layer (SURVEY.md §2.8, §7 Phases 2–3).

Flink is stream-first; Spark's equivalent surface is Structured Streaming
micro-batching. This package provides:

- ``source``: replay a driver table as a multi-micro-batch file stream
  (the reference's ITCase pattern — same rows as the batch fixture so
  streaming results compare against the batch/DuckDB oracle, SURVEY §5.2/FIXTURES §2).
  Every replay is a list of slices staged by one protocol (``replay``), one
  file per slice, and takes ``order=`` to scramble the delivery order;
- ``run``: drive a streaming query to completion synchronously and hand
  back a batch DataFrame (``run_to_batch`` results are safe to self-join,
  no checkpoint needed). Every runner here and in ``upsert`` shares one
  run policy: Trigger.AvailableNow under a fresh scratch checkpoint, a
  bounded wait, the query always stopped, and TimeoutError on overrun
  (partial state never returns as a result). The stream joins keep their
  state in Spark's state store: the inner and outer joins in its
  stream-stream join, semi/anti in one complete-mode aggregate. Only
  ``upsert``'s MERGE sink keeps keyed state in bucketed parquet dirs
  (``_b=<k>``, read only for the buckets a delta touches);
- ``stateful``: the custom stateful operators Spark lacks as primitives —
  streaming Top-N, keep-last dedup, streaming OVER — via update-mode
  aggregation or applyInPandasWithState (Flink KeyedProcessFunction analog).
"""

from flink_1_12_0_src_spark.streaming.source import events_stream
from flink_1_12_0_src_spark.streaming.run import run_to_batch
from flink_1_12_0_src_spark.streaming.stateful import (
    streaming_count_tumble,
    streaming_over_running_sum,
    streaming_topn,
)

__all__ = [
    "events_stream",
    "run_to_batch",
    "streaming_count_tumble",
    "streaming_over_running_sum",
    "streaming_topn",
]
