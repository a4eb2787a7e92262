"""Drive a streaming query to completion and return its result as a batch
DataFrame — the PySpark analog of the reference's harness tests that feed
records + watermarks and assert the emitted output
(flink-table/.../runtime/harness/GroupAggregateHarnessTest.scala).

Stateful runners let Spark's state store hold their state: the stream joins
run as one query each (Spark's stream-stream join, or one complete-mode
aggregate for semi/anti) and derive their +I/-D changelog from its output at
stream close. ``run_split_late`` and ``run_stream_iterate`` keep
``foreachBatch``: they write side outputs and feedback files.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import DataStreamWriter

# Bound on one replay's wall time (seconds), shared by every runner.
_TIMEOUT_S = 300

# The replays' data-borne epoch column: a slice's chronological index
# (streaming/source.py), which the emission traces order refinements by.
_STAGE_COL = "stage"

# Event-time column and tumbling-window width of the early-fire trace.
_TIME_COL = "ts"
_DAY_US = 86_400_000_000

# RAM-backed scratch root for the EPHEMERAL per-run streaming artifacts
# (checkpoint/commit logs, feedback + side-output directories): every
# replay-to-batch harness run completes inside one call and the dirs are
# never reused, so crash-recovery durability buys nothing while the
# offset/commit-log fsyncs against a disk-backed /tmp cost ~10% of every
# streaming query (~70 of them in a driver verify). Overridable via
# SPARK_GRAFT_SCRATCH; falls back to the tempfile default when no tmpfs
# exists. The STAGED events-stream cache (streaming/source.py) stays on
# disk deliberately — it is written once and reused across sessions.
_SCRATCH_ROOT = os.environ.get(
    "SPARK_GRAFT_SCRATCH",
    "/dev/shm" if os.path.isdir("/dev/shm") else None,
)

# Size bound for the RAM-backed root: some scratch dirs hold REAL row data
# (late-row side outputs, feedback files), so unbounded allocation against a
# half-RAM tmpfs is silent memory pressure at replay volumes beyond the
# harness's. When the root's free space drops under this floor, fall back to
# the disk-backed tempfile default for NEW dirs (existing ones are
# unaffected). Default 4 GiB — orders of magnitude above any verify-scale
# run (a full drive leaves ~100 MB), small next to the tmpfs. A value that
# is not a plain byte count (e.g. "4g") falls back to the default instead of
# failing every import of this module.
def _min_free_bytes(default: int = 4 * 1024**3) -> int:
    try:
        return int(os.environ.get("SPARK_GRAFT_SCRATCH_MIN_FREE", default))
    except ValueError:
        return default


_MIN_FREE_BYTES = _min_free_bytes()

# Every dir this process allocates, removed at interpreter exit: the
# returned DataFrames read these dirs LAZILY (a caller may collect long
# after the runner returned), so per-call cleanup would break them — but a
# process that never cleans up leaks RAM-backed state across harness runs
# (the pre-r15 behavior: repeated runs accumulated in /dev/shm until the
# tmpfs filled). atexit is the earliest point guaranteed past the last read.
_ALLOCATED: list[str] = []


def _cleanup_scratch() -> None:
    for d in _ALLOCATED:
        shutil.rmtree(d, ignore_errors=True)
    _ALLOCATED.clear()


atexit.register(_cleanup_scratch)


def _root_for_new_dir() -> str | None:
    """The RAM-backed root, unless its free space is under the bound."""
    if _SCRATCH_ROOT is None:
        return None
    try:
        st = os.statvfs(_SCRATCH_ROOT)
        if st.f_bavail * st.f_frsize < _MIN_FREE_BYTES:
            return None  # tmpfs nearly full — disk-backed default instead
    except OSError:
        return None
    return _SCRATCH_ROOT


def scratch_dir(prefix: str) -> str:
    """mkdtemp under the RAM-backed scratch root (see _SCRATCH_ROOT), with a
    free-space bound and end-of-process cleanup."""
    d = tempfile.mkdtemp(prefix=prefix, dir=_root_for_new_dir())
    _ALLOCATED.append(d)
    return d


def _drive(writer: DataStreamWriter) -> None:
    """The run policy of every micro-batch runner: drain the input with
    Trigger.AvailableNow under a fresh scratch checkpoint, always stop the
    query, and raise TimeoutError past ``_TIMEOUT_S`` — partial state would
    yield a wrong-but-plausible result."""
    q = (
        writer.option("checkpointLocation", scratch_dir(prefix="ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        done = q.awaitTermination(_TIMEOUT_S)
    finally:
        if q.isActive:
            q.stop()
    if not done:
        raise TimeoutError(f"streaming replay exceeded {_TIMEOUT_S}s")


def run_to_batch(stream_df: DataFrame, output_mode: str = "complete") -> DataFrame:
    """Run the streaming plan with Trigger.AvailableNow into a memory sink,
    wait for completion, return the sink contents.

    - complete mode → final state snapshot (deterministic regardless of
      micro-batch boundaries);
    - append mode → everything emitted (deterministic for eager operators
      like inner stream-stream joins).

    The sink's temp view is dropped once the result is bound, so repeated
    runs leave nothing behind in the session catalog.

    The result is safe to self-join. The sink's readback is a MemoryPlan
    leaf, which Spark cannot re-instance when the same relation appears on
    both sides of a join (UNRESOLVED_COLUMN / conflicting attributes); the
    aliasing projection on top of it gives the analyzer fresh attribute ids
    to de-duplicate instead.
    """
    spark: SparkSession = stream_df.sparkSession
    name = f"out_{uuid.uuid4().hex[:12]}"
    try:
        _drive(stream_df.writeStream.format("memory").queryName(name).outputMode(output_mode))
        out = spark.table(name)
        return out.toDF(*out.columns)
    finally:
        spark.catalog.dropTempView(name)


def run_split_late(stream_df: DataFrame, time_col: str) -> tuple[DataFrame, DataFrame]:
    """Late-data side channel (the SURVEY §2.8 mapping for Flink's
    ``sideOutputLateData`` / OutputTag): per micro-batch, rows whose event
    time is behind the running watermark (previous batches' max event time,
    i.e. a 0-second delay) divert to a side sink; everything else is the
    on-time branch (discarded here — the main branch is a separate query).

    Returns (late_df, ontime_df). The on-time branch is also how we realize
    Flink's allowed-lateness=0 DROP semantics: measured on Spark 4.1, the
    built-in windowed aggregate does NOT drop rows behind the watermark in
    this replay (numRowsDroppedByWatermark stays 0 and an already-emitted
    window would be resurrected and re-emitted in append mode) — a real
    semantic difference from Flink's WindowOperator, so the drop lives in
    our layer.

    Scale shape: the split is a ``filter`` executed on the executors and the
    branches stream straight to file sinks — the driver only ever sees the
    per-batch max-timestamp scalar it needs to advance the watermark.
    """
    spark: SparkSession = stream_df.sparkSession
    side_dir = scratch_dir(prefix="late_side_")
    ontime_dir = scratch_dir(prefix="late_ontime_")
    state: dict = {"wm": None}

    def fb(bdf: DataFrame, _epoch: int) -> None:
        wm = state["wm"]
        late = bdf.filter(F.col(time_col) < F.lit(wm)) if wm is not None else bdf.limit(0)
        ontime = bdf.filter(F.col(time_col) >= F.lit(wm)) if wm is not None else bdf
        late.write.mode("append").parquet(side_dir)
        ontime.write.mode("append").parquet(ontime_dir)
        mx = bdf.agg(F.max(time_col)).collect()[0][0]
        if mx is not None and (wm is None or mx > wm):
            state["wm"] = mx

    _drive(stream_df.writeStream.foreachBatch(fb))
    schema = stream_df.schema
    return (
        spark.read.schema(schema).parquet(side_dir),
        spark.read.schema(schema).parquet(ontime_dir),
    )


def run_stream_iterate(seed_df: DataFrame, split_fn) -> DataFrame:
    """Streaming ITERATION with a feedback edge — DataStream.iterate
    (flink-streaming-java/.../datastream/DataStream.java:537 /
    IterativeStream: part of the stream is fed back to the operator's own
    input until it leaves the loop).

    Spark Structured Streaming has no feedback edges, so the loop is
    realized through the file source itself: the seed is staged into a
    watched directory; each micro-batch ``split_fn(batch) -> (out_df,
    feedback_df)`` appends finished rows to the output and writes the
    feedback rows BACK into the watched directory as new files, which the
    source discovers as the next micro-batch. ``processAllAvailable``
    blocks until the feedback drains — the same quiescence condition as
    Flink's loop with no in-flight feedback records. Like the reference's
    iterate(), termination is the step function's responsibility.

    Scale shape: each iteration is a full micro-batch over only the
    still-iterating rows (the loop population shrinks monotonically for
    contracting steps); state lives in the feedback files, never on the
    driver. Empty feedback is not written — an empty append would be
    rediscovered as a new file and spin the loop forever.
    """
    spark: SparkSession = seed_df.sparkSession
    loop_dir = scratch_dir(prefix="iter_loop_")
    out_dir = scratch_dir(prefix="iter_out_")
    seed_df.write.mode("append").parquet(loop_dir)
    schema = spark.read.parquet(loop_dir).schema

    def fb(bdf: DataFrame, _eid: int) -> None:
        bdf = bdf.persist()
        out, feed = split_fn(bdf)
        out.write.mode("append").parquet(out_dir)
        if feed.take(1):
            feed.write.mode("append").parquet(loop_dir)
        bdf.unpersist()

    # Not _drive: AvailableNow processes only the files present at start,
    # so it would never see the feedback files written during the run.
    q = (
        spark.readStream.schema(schema)
        .parquet(loop_dir)
        .writeStream.foreachBatch(fb)
        .option("checkpointLocation", scratch_dir(prefix="ckpt_iter_"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    if not any(f.endswith(".parquet") for f in os.listdir(out_dir)):
        return seed_df.limit(0)
    return spark.read.parquet(out_dir)


def run_early_fire_trace(stream_df: DataFrame) -> DataFrame:
    """Early-fire EMISSION TRACE of an update-mode tumbling-window count
    (Flink WindowEmitStrategy early-fire — WindowEmitStrategy.scala:32,
    154-204): every micro-batch that touches a window re-emits the window's
    refined count, and the returned DataFrame is the full refinement trace
    (window_day, cnt) — one row per (window, refinement).

    The window key is ``unix_micros(ts) DIV 86400e6`` (the UTC epoch day) —
    pure integer epoch arithmetic, so the bucket boundaries cannot depend on
    the session time zone or any calendar semantics (``F.window('1 day')``
    buckets by session-TZ midnight, which a non-UTC driver session shifts
    while keeping row counts identical — the r03/r05 driver-red signature).

    Delivery-order invariance: Spark's complete-mode streaming aggregate
    holds the per-(window, ``stage``) counts in its state store, and the
    trace is cumulated over them in DATA-borne ``stage`` order at
    end-of-stream — the refinements Flink would emit under in-order
    delivery, regardless of how the file source interleaves slices.
    ``tests/test_emission_order.py`` pins equivalence to Spark's raw
    update-mode memory-sink trace under in-order delivery.
    """
    from pyspark.sql.window import Window as W

    counts = run_to_batch(
        stream_df.groupBy(
            F.expr(f"unix_micros({_TIME_COL}) DIV {_DAY_US}").alias("window_day"),
            _STAGE_COL,
        ).count()
    )
    return counts.withColumn(
        "cnt", F.sum("count").over(W.partitionBy("window_day").orderBy(_STAGE_COL))
    ).select("window_day", "cnt")




def run_incremental_outer_join_changelog(
    stream_df: DataFrame,
    side_col: str,
    left_tag: str,
    join_keys: list[str],
    left_id: str,
    right_id: str,
    how: str = "left",
) -> DataFrame:
    """Unbounded OUTER stream-stream join with RETRACTION emission — the
    changelog face of StreamExecJoin (StreamingJoinOperator.java:38 outer
    paths: a preserved-side row with no match emits its null-padded row
    immediately; the first matching opposite row RETRACTS the padded row and
    the joined rows flow as inserts; RowKind.java:35-58). ``how`` ∈
    {"left", "right", "full"} selects which side(s) are preserved.

    Both sides arrive as ONE tagged union stream (rows with ``side_col ==
    left_tag`` are the left input). Every emitted epoch is DATA-borne: the
    input must carry ``stage`` (``_STAGE_COL``), the replay's chronological
    slice index (see streaming/source.py). The changelog is therefore
    invariant to micro-batch delivery order — the trace Flink would emit
    under in-order delivery, regardless of how the file source actually
    interleaves slices (round 3's driver red came from exactly such a
    scramble when epochs were trigger indices).

    One append-mode query; Spark's symmetric-hash stream-stream join holds
    both sides in its state store (no watermark, so nothing is evicted —
    StreamingJoinOperator's keyed state). Its output is the union of two
    legs, told apart by ``_leg``:

    +I joined (``J``) — the native inner join, each pair exactly once,
      labeled ``epoch = greatest(stage_l, stage_r)`` (the later side's
      arrival slice).

    side rows (``L`` / ``R``) — each input row's (keys, id, stage). From
      them the padded +I / -D rows are FINALIZED at end-of-stream (the
      watermark-close analog of Flink's pad state): a preserved row
      (key, id, e) pads iff the opposite side's earliest stage for the key
      (``first_opp = min(stage)``) is NULL or > e — i.e. under in-order
      delivery no match existed when the row arrived — and a padded row
      with a later match is retracted by one -D at epoch ``first_opp``.
      One groupBy-min plus one join per preserved side.

    Emits (join_keys…, epoch, kind, l_id, r_id) — the opposite id is
    NULL on padded rows. Append-only inputs ⇒ kinds are +I/-D only (no
    -U/+U), matching Flink's changelog inference for this plan.
    """
    preserved = {"left": "L", "right": "R", "full": "LR"}.get(how)
    if preserved is None:
        raise ValueError(f"how must be left/right/full: {how}")
    stage = F.col(_STAGE_COL).cast("int").alias("epoch")
    no_id = F.lit(None).cast("long")
    # each side's rows as (keys, _leg, epoch, l_id, r_id), the opposite id NULL
    left = stream_df.filter(F.col(side_col) == left_tag).select(
        *join_keys, F.lit("L").alias("_leg"), stage,
        F.col(left_id).cast("long").alias("l_id"), no_id.alias("r_id"),
    )
    right = stream_df.filter(F.col(side_col) != left_tag).select(
        *join_keys, F.lit("R").alias("_leg"), stage,
        no_id.alias("l_id"), F.col(right_id).cast("long").alias("r_id"),
    )
    joined = left.select(*join_keys, F.col("epoch").alias("_e_l"), "l_id").join(
        right.select(*join_keys, F.col("epoch").alias("_e_r"), "r_id"), join_keys
    )
    out = run_to_batch(
        joined.select(
            *join_keys, F.lit("J").alias("_leg"),
            F.greatest("_e_l", "_e_r").alias("epoch"), "l_id", "r_id",
        )
        .unionByName(left)
        .unionByName(right),
        "append",
    )

    def leg(tag: str) -> DataFrame:
        return out.filter(F.col("_leg") == tag).drop("_leg")

    # pad legs, finalized from the side rows
    def pads(tag: str, opp: str) -> DataFrame:
        first = leg(opp).groupBy(*join_keys).agg(F.min("epoch").alias("_first"))
        pad = leg(tag).join(first, join_keys, "left").filter(
            F.col("_first").isNull() | (F.col("_first") > F.col("epoch"))
        )
        dels = pad.filter(F.col("_first").isNotNull()).withColumn("epoch", F.col("_first"))
        return (
            pad.withColumn("kind", F.lit("+I"))
            .unionByName(dels.withColumn("kind", F.lit("-D")))
            .drop("_first")
        )

    result = leg("J").withColumn("kind", F.lit("+I"))
    for tag in preserved:
        result = result.unionByName(pads(tag, "R" if tag == "L" else "L"))
    return result.select(*join_keys, "epoch", "kind", "l_id", "r_id")


def run_incremental_semi_anti_join(
    stream_df: DataFrame,
    side_col: str,
    left_tag: str,
    join_keys: list[str],
    left_id: str,
    how: str = "semi",
) -> DataFrame:
    """Unbounded streaming SEMI / ANTI join with changelog emission — the
    streaming face of IN / EXISTS / NOT EXISTS (reference:
    flink-table/flink-table-runtime-blink/.../join/stream/
    StreamingSemiAntiJoinOperator.java:40-150 — semi emits a left row when
    its match count goes 0→1; anti emits it while the count is 0 and
    RETRACTS it when the first match arrives).

    Both sides arrive as ONE tagged union stream (the connect-streams
    encoding shared with run_incremental_outer_join_changelog). One
    complete-mode streaming aggregate,
    ``groupBy(keys, is_left, when(is_left, id)).agg(min(stage))``, lets
    Spark's state store hold the join state: one row per left row with its
    arrival stage, plus one row per right key with its first-match stage.
    That is the append-only specialization of StreamingSemiAntiJoinOperator's
    per-left match-count state (inputs never retract, so the count's only
    load-bearing content is whether/when it first became positive, i.e. the
    key's minimum right stage); the right side's state is O(distinct keys)
    rows, not O(right rows), and ``min`` makes it independent of delivery
    order.

    The changelog trace is FINALIZED at end-of-stream from that state — the
    watermark-close discipline of run_incremental_outer_join_changelog's
    pad legs — so every emitted epoch is a pure function of the DATA-borne
    ``stage`` (``_STAGE_COL``), invariant to micro-batch delivery order and
    granularity. With ``e_l`` = left row's arrival stage and ``first`` = its
    key's minimum matching right stage (NULL if never matched):

    - semi: one ``+I`` per matched left row at ``greatest(e_l, first)`` —
      the slice where, under in-order delivery, its match count went 0→1.
    - anti: ``+I`` at ``e_l`` iff ``first IS NULL OR first > e_l`` (no match
      existed on arrival), and ``-D`` at ``first`` for the matched subset —
      StreamingSemiAntiJoinOperator's retract path. A left row whose key was
      already matched on arrival never appears.

    Emits (*join_keys, epoch INT, kind STRING, l_id LONG). Append-only
    inputs ⇒ kinds are +I/-D only, matching Flink's changelog inference.
    """
    if how not in ("semi", "anti"):
        raise ValueError(f"how must be semi/anti: {how}")
    is_left = F.col(side_col) == left_tag
    state = run_to_batch(
        stream_df.groupBy(
            *join_keys,
            is_left.alias("_is_left"),
            F.when(is_left, F.col(left_id)).cast("long").alias("l_id"),
        ).agg(F.min(F.col(_STAGE_COL).cast("int")).alias("_e"))
    )
    l_all = state.filter("_is_left").select(*join_keys, "l_id", F.col("_e").alias("_e_l"))
    first = state.filter(~F.col("_is_left")).select(*join_keys, F.col("_e").alias("_first"))

    def emit(df: DataFrame, kind: str, epoch_col: Column) -> DataFrame:
        return df.select(*join_keys, epoch_col.alias("epoch"), F.lit(kind).alias("kind"), "l_id")

    if how == "semi":
        return emit(l_all.join(first, join_keys), "+I", F.greatest("_e_l", "_first"))
    unmatched_on_arrival = l_all.join(first, join_keys, "left").filter(
        F.col("_first").isNull() | (F.col("_first") > F.col("_e_l"))
    )
    ins = emit(unmatched_on_arrival, "+I", F.col("_e_l"))
    dels = emit(
        unmatched_on_arrival.filter(F.col("_first").isNotNull()), "-D", F.col("_first")
    )
    return ins.unionByName(dels)
