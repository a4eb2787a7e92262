"""Drive a streaming query to completion and return its result as a batch
DataFrame — the PySpark analog of the reference's harness tests that feed
records + watermarks and assert the emitted output
(flink-table/.../runtime/harness/GroupAggregateHarnessTest.scala).
"""

from __future__ import annotations

import atexit
import glob
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


# Bucketed side store: keyed state as parquet under ``root/_b=<k>``, with
# ``_b = pmod(hash(keys), n_buckets)`` — the file-level analog of Flink's
# keyed state. Per micro-batch, history is read only for the buckets the
# delta touches.


def _touched_buckets(delta: DataFrame) -> list[int]:
    """Bucket ids a micro-batch delta touches — a bounded (<= n_buckets)
    driver-side id list used to prune which accumulated bucket FILES are
    re-read; never row data."""
    return [r["_b"] for r in delta.select("_b").distinct().collect()]


def _files_by_bucket(root: str) -> dict[int, list[str]]:
    """Snapshot of a side store's data files, per bucket id."""
    out: dict[int, list[str]] = {}
    for f in glob.glob(os.path.join(root, "_b=*", "*.parquet")):
        b = int(os.path.basename(os.path.dirname(f)).split("=", 1)[1])
        out.setdefault(b, []).append(f)
    return out


def _read_store(spark: SparkSession, root: str) -> DataFrame | None:
    """Everything a store under ``root`` holds (bucketed or flat), without
    the path-encoded ``_b``; None while it holds no data file."""
    if next(glob.iglob(os.path.join(root, "**", "*.parquet"), recursive=True), None) is None:
        return None
    return spark.read.parquet(root).drop("_b")


def _delta_join_batch(
    side_col: str,
    left_tag: str,
    join_keys: list[str],
    left: list[Column],
    right: list[Column],
    n_buckets: int,
    l_dir: str,
    r_dir: str,
    out_dir: str,
    stats: dict,
    project=lambda joined: joined,
):
    """foreachBatch body of the incremental stream-stream joins. The batch
    is ONE tagged union stream (rows with ``side_col == left_tag`` are the
    left input); its deltas ΔL, ΔR (``join_keys`` plus the ``left`` /
    ``right`` projections) are appended to the bucketed side stores
    ``l_dir`` / ``r_dir``, and ``project(ΔL⋈R ∪ L⋈ΔR ∪ ΔL⋈ΔR)`` is appended
    to ``out_dir`` — each joined pair exactly once for append-only inputs.
    L and R are the stores as they were BEFORE this batch, read only for
    the buckets the opposite delta touches. ``stats`` accumulates
    {"files_read", "files_total"} so tests can assert the pruning."""
    stats.setdefault("files_read", 0)
    stats.setdefault("files_total", 0)

    def bucketed(df: DataFrame, cols: list[Column]) -> DataFrame:
        return df.select(*join_keys, *cols).withColumn(
            "_b", F.pmod(F.hash(*join_keys), F.lit(n_buckets))
        )

    def history(files: dict[int, list[str]], touched: list[int], like: DataFrame) -> DataFrame | None:
        sel = [f for b in touched for f in files.get(b, [])]
        stats["files_read"] += len(sel)
        # data files carry only (keys, cols); _b is path-encoded
        return like.sparkSession.read.schema(like.schema).parquet(*sel) if sel else None

    def fb(bdf: DataFrame, _eid: int) -> None:
        bdf = bdf.persist()
        dl = bucketed(bdf.filter(F.col(side_col) == left_tag), left).persist()
        dr = bucketed(bdf.filter(F.col(side_col) != left_tag), right).persist()
        # snapshot the accumulated sides BEFORE appending this batch's deltas
        l_files, r_files = _files_by_bucket(l_dir), _files_by_bucket(r_dir)
        stats["files_total"] += sum(map(len, l_files.values())) + sum(map(len, r_files.values()))
        dl.write.partitionBy("_b").mode("append").parquet(l_dir)
        dr.write.partitionBy("_b").mode("append").parquet(r_dir)
        dlp, drp = dl.drop("_b"), dr.drop("_b")
        l_prev = history(l_files, _touched_buckets(dr), dlp)
        r_prev = history(r_files, _touched_buckets(dl), drp)
        joined = dlp.join(drp, join_keys)
        if r_prev is not None:
            joined = joined.unionByName(dlp.join(r_prev, join_keys))
        if l_prev is not None:
            joined = joined.unionByName(l_prev.join(drp, join_keys))
        project(joined).write.mode("append").parquet(out_dir)
        dl.unpersist()
        dr.unpersist()
        bdf.unpersist()

    return fb


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


def run_incremental_join(
    stream_df: DataFrame,
    side_col: str,
    left_tag: str,
    join_keys: list[str],
    left_cols: dict[str, str],
    right_cols: dict[str, str],
    n_buckets: int = 16,
    io_stats: dict | None = None,
) -> DataFrame:
    """Unbounded NON-time-bounded stream-stream INNER join — the SURVEY §2.3
    GAP row (StreamExecJoin / StreamingJoinOperator.java:38 keeps both inputs
    in keyed state forever; Spark's built-in stream-stream join demands a
    watermark time bound and refuses this query).

    Classic incremental view maintenance over micro-batches: with accumulated
    sides L, R and batch deltas ΔL, ΔR,

        ΔJ = ΔL ⋈ R  ∪  L ⋈ ΔR  ∪  ΔL ⋈ ΔR

    emits every joined pair exactly once for append-only inputs (Flink's
    append-only +I case). Both sides arrive as ONE tagged union stream (the
    connect-streams encoding used by streaming_temporal_join).

    State layout (the 100 TB shape): each accumulated side is parquet
    **hash-bucketed by join key** (``_b = pmod(hash(keys), n_buckets)`` via
    ``partitionBy``), the file-level analog of StreamingJoinOperator's keyed
    state. Per micro-batch, the history side is read ONLY for the buckets the
    opposite delta actually touches — O(|Δ|/n_buckets-selectivity) I/O per
    trigger instead of O(history). A batch whose delta hits 3 of 16 buckets
    scans 3/16ths of the accumulated state; the previous implementation
    re-read ALL history every trigger (O(n²) over the stream's life).
    Bucket ids come from the delta's own hash column — tiny distinct set,
    never row data — so the driver still touches no rows.

    ``io_stats``, when provided, accumulates {"files_read", "files_total"}
    so tests can assert the pruning actually happened.
    """
    out_dir = scratch_dir(prefix="ij_out_")
    fb = _delta_join_batch(
        side_col, left_tag, join_keys,
        [F.col(c).alias(a) for c, a in left_cols.items()],
        [F.col(c).alias(a) for c, a in right_cols.items()],
        n_buckets, scratch_dir(prefix="ij_left_"), scratch_dir(prefix="ij_right_"), out_dir,
        io_stats if io_stats is not None else {},
    )
    _drive(stream_df.writeStream.foreachBatch(fb))
    return stream_df.sparkSession.read.parquet(out_dir)


def run_incremental_outer_join_changelog(
    stream_df: DataFrame,
    side_col: str,
    left_tag: str,
    join_keys: list[str],
    left_id: str,
    right_id: str,
    how: str = "left",
    stage_col: str = "stage",
    n_buckets: int = 16,
) -> DataFrame:
    """Unbounded OUTER stream-stream join with RETRACTION emission — the
    changelog face of StreamExecJoin (StreamingJoinOperator.java:38 outer
    paths: a preserved-side row with no match emits its null-padded row
    immediately; the first matching opposite row RETRACTS the padded row and
    the joined rows flow as inserts; RowKind.java:35-58). ``how`` ∈
    {"left", "right", "full"} selects which side(s) are preserved.

    Every emitted epoch is DATA-borne: the input must carry ``stage_col``,
    the replay's chronological slice index (see streaming/source.py). The
    changelog is therefore invariant to micro-batch delivery order — the
    trace Flink would emit under in-order delivery, regardless of how the
    file source actually interleaves slices (round 3's driver red came from
    exactly such a scramble when epochs were trigger indices).

    Two emission legs:

    +I joined — INCREMENTAL, per micro-batch, with accumulated sides L, R
      and deltas ΔL, ΔR:  ΔL⋈R ∪ L⋈ΔR ∪ ΔL⋈ΔR — each pair exactly once,
      labeled ``epoch = greatest(stage_l, stage_r)`` (the later side's
      arrival slice). State: both sides parquet hash-bucketed by join key
      (the run_incremental_join layout); each trigger reads only
      delta-touched buckets — O(|Δ|)-proportional I/O, never O(history).

    +I / -D padded — FINALIZED at end-of-stream from the accumulated
      bucketed sides (the watermark-close analog of Flink's pad state): a
      preserved row (key, id, e) pads iff the opposite side's earliest stage
      for the key (``first_opp = min(stage)``) is NULL or > e — i.e. under
      in-order delivery no match existed when the row arrived — and a
      padded row with a later match is retracted by one -D at epoch
      ``first_opp``. One groupBy-min plus one join per preserved side.

    Emits (join_keys…, epoch, kind, left_id, right_id) — the opposite id is
    NULL on padded rows. Append-only inputs ⇒ kinds are +I/-D only (no
    -U/+U), matching Flink's changelog inference for this plan.
    """
    if how not in ("left", "right", "full"):
        raise ValueError(f"how must be left/right/full: {how}")
    spark: SparkSession = stream_df.sparkSession
    l_dir = scratch_dir(prefix="oj_left_")
    r_dir = scratch_dir(prefix="oj_right_")
    out_dir = scratch_dir(prefix="oj_out_")

    def stamped(id_col: str, alias: str, e_alias: str) -> list[Column]:
        return [F.col(id_col).alias(alias), F.col(stage_col).cast("int").alias(e_alias)]

    # joined inserts: each pair exactly once, at the later DATA epoch
    def inserts(joined: DataFrame) -> DataFrame:
        return joined.select(
            *join_keys,
            F.greatest("_e_l", "_e_r").alias("epoch"),
            F.lit("+I").alias("kind"),
            F.col("l_id").cast("long").alias("l_id"),
            F.col("r_id").cast("long").alias("r_id"),
        )

    fb = _delta_join_batch(
        side_col, left_tag, join_keys,
        stamped(left_id, "l_id", "_e_l"), stamped(right_id, "r_id", "_e_r"),
        n_buckets, l_dir, r_dir, out_dir, {}, project=inserts,
    )
    _drive(stream_df.writeStream.foreachBatch(fb))

    # pad legs, finalized from the accumulated bucketed sides
    def pad_legs(pres: DataFrame, opp: DataFrame | None, id_col: str, e_col: str, opp_e: str):
        other = "r_id" if id_col == "l_id" else "l_id"

        def emit(df: DataFrame, kind: str, epoch_col) -> DataFrame:
            cols = {
                id_col: F.col(id_col).cast("long").alias(id_col),
                other: F.lit(None).cast("long").alias(other),
            }
            return df.select(
                *join_keys, epoch_col.cast("int").alias("epoch"),
                F.lit(kind).alias("kind"), cols["l_id"], cols["r_id"],
            )

        if opp is None:
            return emit(pres, "+I", F.col(e_col))
        first = opp.groupBy(*join_keys).agg(F.min(opp_e).alias("_first"))
        lp = pres.join(first, join_keys, "left")
        pad = lp.filter(F.col("_first").isNull() | (F.col("_first") > F.col(e_col)))
        ins = emit(pad, "+I", F.col(e_col))
        dels = emit(pad.filter(F.col("_first").isNotNull()), "-D", F.col("_first"))
        return ins.unionByName(dels)

    out = spark.read.parquet(out_dir)
    l_all, r_all = _read_store(spark, l_dir), _read_store(spark, r_dir)
    if how in ("left", "full") and l_all is not None:
        out = out.unionByName(pad_legs(l_all, r_all, "l_id", "_e_l", "_e_r"))
    if how in ("right", "full") and r_all is not None:
        out = out.unionByName(pad_legs(r_all, l_all, "r_id", "_e_r", "_e_l"))
    return out


def run_incremental_semi_anti_join(
    stream_df: DataFrame,
    side_col: str,
    left_tag: str,
    join_keys: list[str],
    left_id: str,
    how: str = "semi",
    stage_col: str = "stage",
) -> DataFrame:
    """Unbounded streaming SEMI / ANTI join with changelog emission — the
    streaming face of IN / EXISTS / NOT EXISTS (reference:
    flink-table/flink-table-runtime-blink/.../join/stream/
    StreamingSemiAntiJoinOperator.java:40-150 — semi emits a left row when
    its match count goes 0→1; anti emits it while the count is 0 and
    RETRACTS it when the first match arrives).

    Both sides arrive as ONE tagged union stream (the connect-streams
    encoding shared with run_incremental_join). State maintenance is
    O(|Δ|) per trigger with NO history reads: left rows append to keyed
    state as-is, and the right side is reduced MAP-SIDE to one
    (key, min stage) row per batch before appending — the append-only
    specialization of StreamingSemiAntiJoinOperator's per-left match-count
    state (inputs never retract, so the count's only load-bearing content
    is whether/when it first became positive, i.e. the key's minimum right
    stage; per-batch mins are associative, so appending them and reducing
    once at close yields the global min regardless of delivery order). At
    100 TB the right-side state is O(distinct keys) rows, not O(right
    rows); the log-structured append does add one file-set per trigger, so
    a long-running deployment would fold in periodic min-merge compaction
    (the run_changelog_upsert bucket-rewrite pattern) — a bounded replay
    doesn't need it.

    The changelog trace is FINALIZED at end-of-stream from the accumulated
    state — the watermark-close discipline of
    run_incremental_outer_join_changelog's pad legs — so every emitted
    epoch is a pure function of the DATA-borne ``stage_col``, invariant to
    micro-batch delivery order and granularity. With ``e_l`` = left row's
    arrival stage and ``first`` = its key's minimum matching right stage
    (NULL if never matched):

    - semi: one ``+I`` per matched left row at ``greatest(e_l, first)`` —
      the slice where, under in-order delivery, its match count went 0→1.
    - anti: ``+I`` at ``e_l`` iff ``first IS NULL OR first > e_l`` (no match
      existed on arrival), and ``-D`` at ``first`` for the matched subset —
      StreamingSemiAntiJoinOperator's retract path. A left row whose key was
      already matched on arrival never appears.

    Emits (*join_keys, epoch INT, kind STRING, l_id LONG). Append-only
    inputs ⇒ kinds are +I/-D only, matching Flink's changelog inference.
    """
    from pyspark.sql import types as T

    if how not in ("semi", "anti"):
        raise ValueError(f"how must be semi/anti: {how}")
    spark: SparkSession = stream_df.sparkSession
    l_dir = scratch_dir(prefix="saj_left_")
    r_dir = scratch_dir(prefix="saj_right_")

    def fb(bdf: DataFrame, _eid: int) -> None:
        bdf = bdf.persist()
        (
            bdf.filter(F.col(side_col) == left_tag)
            .select(
                *join_keys,
                F.col(left_id).alias("l_id"),
                F.col(stage_col).cast("int").alias("_e_l"),
            )
            .write.mode("append")
            .parquet(l_dir)
        )
        (
            bdf.filter(F.col(side_col) != left_tag)
            .groupBy(*join_keys)
            .agg(F.min(F.col(stage_col).cast("int")).alias("_e_r_min"))
            .write.mode("append")
            .parquet(r_dir)
        )
        bdf.unpersist()

    _drive(stream_df.writeStream.foreachBatch(fb))

    key_fields = [f for f in stream_df.schema.fields if f.name in join_keys]
    out_schema = T.StructType(
        key_fields
        + [
            T.StructField("epoch", T.IntegerType()),
            T.StructField("kind", T.StringType()),
            T.StructField("l_id", T.LongType()),
        ]
    )

    l_all, r_all = _read_store(spark, l_dir), _read_store(spark, r_dir)
    first = (
        r_all.groupBy(*join_keys).agg(F.min("_e_r_min").alias("_first"))
        if r_all is not None
        else None
    )
    if how == "semi":
        if l_all is None or first is None:
            return spark.createDataFrame([], out_schema)
        return l_all.join(first, join_keys).select(
            *join_keys,
            F.greatest("_e_l", "_first").cast("int").alias("epoch"),
            F.lit("+I").alias("kind"),
            F.col("l_id").cast("long").alias("l_id"),
        )
    if l_all is None:
        return spark.createDataFrame([], out_schema)
    lm = (
        l_all.join(first, join_keys, "left")
        if first is not None
        else l_all.withColumn("_first", F.lit(None).cast("int"))
    )

    def emit(df: DataFrame, kind: str, epoch_col) -> DataFrame:
        return df.select(
            *join_keys,
            epoch_col.cast("int").alias("epoch"),
            F.lit(kind).alias("kind"),
            F.col("l_id").cast("long").alias("l_id"),
        )

    unmatched_on_arrival = lm.filter(
        F.col("_first").isNull() | (F.col("_first") > F.col("_e_l"))
    )
    ins = emit(unmatched_on_arrival, "+I", F.col("_e_l"))
    dels = emit(
        unmatched_on_arrival.filter(F.col("_first").isNotNull()), "-D", F.col("_first")
    )
    return ins.unionByName(dels)
