"""Exactly-once recovery and state-backend coverage (SURVEY §2.8):

- checkpoint/restart: a stateful streaming aggregation is stopped mid-replay
  and restarted from the SAME checkpointLocation; the WAL + state store must
  resume without loss or double-counting, so the final complete-mode snapshot
  equals the batch answer (CheckpointCoordinator.java:93 / 2PC sink parity —
  Spark's commit-log equivalent).
- RocksDB state backend: the same query runs with
  RocksDBStateStoreProvider (the reference's RocksDBKeyedStateBackend
  .java:108 analog) — config, not code, as SURVEY §2.8 maps it.
- run policy: a replay that overruns its bound raises and leaves no query
  running, and ``run_to_batch`` leaves no sink view in the catalog.
"""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from flink_1_12_0_src_spark.streaming.source import events_stream, replay


def _replay_rows(spark, path, batches, ddl):
    """A file stream delivering one slice per row batch, in batch order; a
    ``ts_s`` string column arrives cast to a ``ts`` timestamp."""

    def one(rows):
        df = spark.createDataFrame(rows, ddl)
        cols = [F.col(c).cast("timestamp").alias("ts") if c == "ts_s" else c for c in df.columns]
        return df.select(*cols).coalesce(1)

    return replay(spark, str(path), lambda: [one(rows) for rows in batches])


def _agg(stream):
    return stream.groupBy("event_type").agg(
        F.count("*").alias("cnt"), F.sum(F.col("value").cast("double")).alias("total")
    )


def _expected(spark, sf_dir):
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    return {
        r.event_type: r.cnt
        for r in batch.groupBy("event_type").agg(F.count("*").alias("cnt")).collect()
    }


def test_checkpoint_restart_exactly_once(spark, sf_dir, tmp_path):
    ckpt = str(tmp_path / "ckpt_recovery")
    name = "recovery_out"

    # phase 1: start, let at least one micro-batch commit, then stop mid-way
    s1 = _agg(events_stream(spark, sf_dir))
    q1 = (
        s1.writeStream.format("memory").queryName(name).outputMode("complete")
        .option("checkpointLocation", ckpt).start()
    )
    deadline = time.time() + 60
    while time.time() < deadline and not q1.recentProgress:
        time.sleep(0.5)
    assert q1.recentProgress, "no micro-batch committed before stop"
    q1.stop()
    q1.awaitTermination(30)

    # phase 2: restart from the SAME checkpoint; availableNow drains the rest
    s2 = _agg(events_stream(spark, sf_dir))
    q2 = (
        s2.writeStream.format("memory").queryName(name).outputMode("complete")
        .option("checkpointLocation", ckpt).trigger(availableNow=True).start()
    )
    q2.awaitTermination(120)

    got = {r.event_type: r.cnt for r in spark.table(name).collect()}
    assert got == _expected(spark, sf_dir)  # no loss, no double-count


def test_rocksdb_state_backend(spark, sf_dir, tmp_path):
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        s = _agg(events_stream(spark, sf_dir))
        q = (
            s.writeStream.format("memory").queryName("rocksdb_out")
            .outputMode("complete")
            .option("checkpointLocation", str(tmp_path / "ckpt_rocks"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        got = {r.event_type: r.cnt for r in spark.table("rocksdb_out").collect()}
        assert got == _expected(spark, sf_dir)
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_run_to_batch_leaves_no_sink_view(spark, sf_dir):
    """The memory sink registers an ``out_*`` temp view; run_to_batch drops
    it once the result is bound, and the bound result still reads."""
    from flink_1_12_0_src_spark.streaming.run import run_to_batch

    before = {t.name for t in spark.catalog.listTables()}
    out = run_to_batch(_agg(events_stream(spark, sf_dir)))
    new = {t.name for t in spark.catalog.listTables()} - before
    assert not [n for n in new if n.startswith("out_")], new
    assert {r.event_type: r.cnt for r in out.collect()} == _expected(spark, sf_dir)


def test_run_to_batch_result_self_joins(spark, sf_dir):
    """A run_to_batch snapshot aliased a/b self-joins on its key and gives
    the same rows as that self-join over the batch relation (a bare
    memory-sink readback fails to resolve ``a.<col>`` here)."""
    from flink_1_12_0_src_spark.catalog import table
    from flink_1_12_0_src_spark.streaming.run import run_to_batch

    def self_join(df):
        j = df.alias("a").join(df.alias("b"), F.col("a.event_type") == F.col("b.event_type"))
        return sorted(tuple(r) for r in j.select("a.event_type", "a.cnt", "b.cnt").collect())

    snap = run_to_batch(_agg(events_stream(spark, sf_dir)), "complete")
    assert self_join(snap) == self_join(_agg(table(spark, sf_dir, "events")))


def test_replay_delivers_order_and_restages_unmarked_dir(spark, tmp_path):
    """The stager delivers slice ``order[k]`` as micro-batch k; a staged dir
    is reused while its ``_STAGED`` marker exists, and re-staged from
    scratch once the marker is gone (an interrupted staging run)."""
    import glob
    import os
    import shutil

    from flink_1_12_0_src_spark.streaming import run as srun

    order = (2, 0, 3, 1)

    def delivered(first_stage):
        def slices():
            return [spark.range(2).select(F.lit(first_stage + i).alias("stage")).coalesce(1)
                    for i in range(4)]

        seen = []
        stream = replay(spark, str(tmp_path / "r"), slices, order)
        srun._drive(stream.writeStream.foreachBatch(
            lambda b, _e: seen.append(sorted({r.stage for r in b.collect()}))
        ))
        return seen

    assert delivered(0) == [[2], [0], [3], [1]]
    [staged] = glob.glob(str(tmp_path / "r*"))
    assert os.path.exists(os.path.join(staged, "_STAGED"))
    assert delivered(10) == [[2], [0], [3], [1]]  # marker present: not re-staged

    os.remove(os.path.join(staged, "_STAGED"))
    stray = os.path.join(staged, "part-99999.parquet")
    shutil.copy(os.path.join(staged, "part-00000.parquet"), stray)
    assert delivered(10) == [[12], [10], [13], [11]]
    assert not os.path.exists(stray)


@pytest.mark.parametrize("runner", ["run_to_batch", "run_split_late"])
def test_replay_overrun_raises_and_stops(spark, sf_dir, monkeypatch, runner):
    """Past the run bound, a runner raises TimeoutError (partial state would
    be a plausible wrong result) and leaves no streaming query active —
    for the memory sink and for foreachBatch state alike."""
    from flink_1_12_0_src_spark.streaming import run as srun
    from flink_1_12_0_src_spark.streaming.source import events_stream_weeks

    monkeypatch.setattr(srun, "_TIMEOUT_S", 0.001)
    with pytest.raises(TimeoutError):
        if runner == "run_to_batch":
            srun.run_to_batch(_agg(events_stream(spark, sf_dir)))
        else:
            srun.run_split_late(events_stream_weeks(spark, sf_dir), "ts")
    assert spark.streams.active == []


def test_changelog_runners_on_an_empty_replay(spark, tmp_path):
    """An all-empty changelog replay gives 0 rows from the count and sum
    runners, with the schema of a non-empty run: the key keeps its type and
    no run raises. Two empty replays: slices without rows (each micro-batch
    is empty) and a directory without files (no micro-batch runs)."""
    from decimal import Decimal

    from flink_1_12_0_src_spark.streaming.upsert import run_changelog_count, run_changelog_sum_agg

    ddl = "k bigint, amount decimal(12,2), rowkind string, stage int"
    full = _replay_rows(
        spark,
        tmp_path / "full",
        [
            [(7, Decimal("2.50"), "+I", 0)],
            [(7, Decimal("2.50"), "-U", 1), (7, Decimal("3.00"), "+U", 1)],
        ],
        ddl,
    )
    (tmp_path / "no_files").mkdir()
    empties = [
        _replay_rows(spark, tmp_path / "empty_slices", [[], []], ddl),
        spark.readStream.schema(full.schema).parquet(str(tmp_path / "no_files")),
    ]

    count_full = run_changelog_count(full, "k")
    assert sorted(tuple(r) for r in count_full.collect()) == [
        (7, 0, "+I", 1), (7, 1, "+U", 3), (7, 1, "-U", 1)
    ]
    sum_full = run_changelog_sum_agg(full, "k", "amount")
    assert [tuple(r) for r in sum_full.collect()] == [(7, 1, 3.0)]
    for empty in empties:
        for got, like in (
            (run_changelog_count(empty, "k"), count_full),
            (run_changelog_sum_agg(empty, "k", "amount"), sum_full),
        ):
            assert got.count() == 0
            assert got.schema == like.schema


def test_join_runners_on_an_empty_replay(spark, tmp_path):
    """An empty replay through the join runners gives 0 rows with the schema
    of a non-empty run, for the native inner join, every outer changelog
    mode and semi/anti. Two empty replays: slices without rows and a
    directory without files."""
    from flink_1_12_0_src_spark.streaming.run import (
        run_incremental_outer_join_changelog,
        run_incremental_semi_anti_join,
        run_to_batch,
    )

    ddl = "k int, eid bigint, side string, stage int"
    full = _replay_rows(
        spark, tmp_path / "full", [[(1, 10, "L", 0)], [(1, 20, "R", 1), (2, 30, "R", 1)]], ddl
    )
    (tmp_path / "no_files").mkdir()
    empties = [
        _replay_rows(spark, tmp_path / "empty_slices", [[], []], ddl),
        spark.readStream.schema(full.schema).parquet(str(tmp_path / "no_files")),
    ]

    def inner(s):
        return run_to_batch(
            s.filter("side = 'L'").select("k", F.col("eid").alias("l_id")).join(
                s.filter("side = 'R'").select("k", F.col("eid").alias("r_id")), "k"
            ),
            "append",
        )

    runners = [inner]
    runners += [
        lambda s, how=how: run_incremental_outer_join_changelog(
            s, side_col="side", left_tag="L", join_keys=["k"], left_id="eid",
            right_id="eid", how=how,
        )
        for how in ("left", "right", "full")
    ]
    runners += [
        lambda s, how=how: run_incremental_semi_anti_join(
            s, side_col="side", left_tag="L", join_keys=["k"], left_id="eid", how=how
        )
        for how in ("semi", "anti")
    ]
    for run in runners:
        like = run(full)
        assert like.count() > 0
        for empty in empties:
            got = run(empty)
            assert got.count() == 0
            assert got.schema == like.schema


def test_native_stream_join_over_single_key_batches(spark, tmp_path):
    """Spark's stream-stream inner join with no watermark (the
    stream_unbounded_join shape) holds both sides in its state store across
    micro-batches: later batches that each add one key's row on one side
    join against the earlier batches' rows, and the emitted pairs equal the
    batch join."""
    from flink_1_12_0_src_spark.streaming.run import run_to_batch

    batches = [
        [(k, "L", float(k)) for k in range(8)] + [(k, "R", k * 10.0) for k in range(8)],
        [(1, "L", 100.0)],  # joins batch 0's right row for key 1
        [(2, "R", 200.0)],  # joins batch 0's left row for key 2
    ]
    stream = _replay_rows(spark, tmp_path / "src", batches, "k int, side string, val double")
    out = run_to_batch(
        stream.filter("side = 'L'").select("k", F.col("val").alias("lval")).join(
            stream.filter("side = 'R'").select("k", F.col("val").alias("rval")), "k"
        ),
        "append",
    )
    all_rows = [r for rows in batches for r in rows]
    df = spark.createDataFrame(all_rows, "k int, side string, val double")
    left = df.filter("side = 'L'").select("k", F.col("val").alias("lval"))
    right = df.filter("side = 'R'").select("k", F.col("val").alias("rval"))
    expected = sorted(tuple(r) for r in left.join(right, "k").collect())
    got = sorted(tuple(r) for r in out.select("k", "lval", "rval").collect())
    assert got == expected


def test_upsert_sink_bucket_pruning(spark, tmp_path):
    """UpsertSink keeps the maintained table hash-bucketed by key and, per
    micro-batch, reads and REWRITES only the buckets the batch touched —
    write amplification O(touched buckets) per trigger, not O(table). A
    single-key update batch must scan a strict subset of the table files,
    and the final snapshot must equal the closed-form merge."""
    from flink_1_12_0_src_spark.streaming.upsert import run_changelog_upsert

    batches = [
        [(k, float(k), "+I", 0) for k in range(64)],  # seed: all buckets
        [(3, 300.0, "+U", 1)],                        # touches one bucket
        [(5, 0.0, "-D", 2)],                          # touches one bucket
    ]
    stream = _replay_rows(
        spark, tmp_path / "chlog", batches, "k int, val double, rowkind string, version int"
    )
    stats: dict = {}
    snap = run_changelog_upsert(
        stream,
        base_dir=str(tmp_path / "tbl"),
        key_cols=["k"],
        version_col="version",
        n_buckets=8,
        io_stats=stats,
    )
    got = sorted((r["k"], r["val"]) for r in snap.collect())
    expected = sorted([(k, float(k)) for k in range(64) if k not in (3, 5)] + [(3, 300.0)])
    assert got == expected
    assert stats["files_total"] > 0
    assert stats["files_read"] < stats["files_total"], stats


def test_idle_source_watermark_divergence(spark, tmp_path):
    """Idle-source watermark semantics pinned (WatermarksWithIdleness.java —
    flink-core/.../eventtime/): Flink computes the global watermark as the
    MIN across per-partition watermarks, so one idle partition stalls event
    time forever unless withIdleness() marks it idle. Spark has no
    per-partition watermarks: the global watermark is max-event-time-seen
    minus delay, across ALL partitions — an idle source can never stall it.
    Spark therefore behaves as if WatermarksWithIdleness were ALWAYS on
    (with an instant idle timeout); the Flink-default stall is not
    reproducible and is documented as a divergence, not emulated.

    Fixture: source B goes idle after its first window while A keeps
    producing. Under append mode the 10:00 window (containing B's only row)
    must still finalize — i.e. the watermark advanced past B's last event on
    A's data alone."""
    batches = [
        [("A", "2024-01-01 10:00:30", 1.0), ("B", "2024-01-01 10:00:40", 2.0)],
        [("A", "2024-01-01 11:00:00", 3.0)],  # B idle; A advances event time
    ]
    stream = _replay_rows(
        spark, tmp_path / "twosrc", batches, "src string, ts_s string, val double"
    )
    from flink_1_12_0_src_spark.streaming.run import run_to_batch

    agg = (
        stream.withWatermark("ts", "0 seconds")
        .groupBy(F.window("ts", "5 minutes"), "src")
        .agg(F.count("*").alias("cnt"))
        .select(F.col("window.start").alias("ws"), "src", "cnt")
    )
    out = run_to_batch(agg, "append")
    got = {(str(r["ws"]), r["src"]) for r in out.collect()}
    # the B-containing 10:00 window finalized although B produced nothing
    # since — impossible under Flink's default min-of-partitions watermark
    assert ("2024-01-01 10:00:00", "B") in got, got
    assert ("2024-01-01 10:00:00", "A") in got, got


def test_upsert_sink_delivery_order_invariant(spark, tmp_path):
    """Version-aware tombstone merge (log-compaction rule): the maintained
    table's final state must be identical no matter which order the
    changelog's micro-batches arrive — a -D delivered before a stale +U
    still suppresses it."""
    from flink_1_12_0_src_spark.streaming.upsert import UpsertSink

    ins = spark.createDataFrame(
        [(1, "a", 0, "+I"), (2, "b", 0, "+I"), (3, "c", 0, "+I")],
        "k int, payload string, version bigint, rowkind string",
    )
    upd = spark.createDataFrame(
        [(1, "a2", 1, "+U"), (3, "c2", 1, "+U")],
        "k int, payload string, version bigint, rowkind string",
    )
    dele = spark.createDataFrame(
        [(3, "c2", 2, "-D")],
        "k int, payload string, version bigint, rowkind string",
    )
    phases = [ins, upd, dele]

    def run(order, tag):
        sink = UpsertSink(str(tmp_path / f"t_{tag}"), ["k"], "version", "rowkind")
        for i in order:
            sink.process_batch(phases[i], i)
        return sorted(
            tuple(r) for r in sink.snapshot(spark).select("k", "payload").collect()
        )

    expected = [(1, "a2"), (2, "b")]
    assert run([0, 1, 2], "fwd") == expected
    assert run([2, 0, 1], "rot") == expected
    assert run([1, 2, 0], "rev") == expected


def test_idle_source_both_semantics_via_watermark_policy(spark, tmp_path):
    """Per-source idleness mapped faithfully (upgrades the divergence pinned
    above): give each source its OWN withWatermark branch and union them —
    Spark then tracks per-branch event-time stats and
    spark.sql.streaming.multipleWatermarkPolicy picks the global watermark:

    - 'min' (Spark default) = Flink's DEFAULT min-across-sources watermark
      (WatermarkStrategy without idleness): the idle source stalls event
      time and no window finalizes;
    - 'max' = WatermarksWithIdleness.java with an instant timeout: the idle
      source cannot stall, windows finalize on the live source's progress.

    The single-stream formulation (one watermark over a union of files,
    pinned by test_idle_source_watermark_divergence) remains always-'max'.
    """
    import os

    base = str(tmp_path / "policy")
    A, B = f"{base}/A", f"{base}/B"
    rows_a = [("A", "2024-01-01 10:00:30", 1.0), ("A", "2024-01-01 11:00:00", 3.0)]
    rows_b = [("B", "2024-01-01 10:00:40", 2.0)]  # goes idle after one event
    for d, rows in ((A, rows_a), (B, rows_b)):
        (
            spark.createDataFrame(rows, "src string, ts_s string, val double")
            .withColumn("ts", F.col("ts_s").cast("timestamp"))
            .drop("ts_s")
            .coalesce(1)
            .write.parquet(d)
        )
    schema = spark.read.parquet(A).schema

    def run(policy):
        old = spark.conf.get("spark.sql.streaming.multipleWatermarkPolicy", "min")
        spark.conf.set("spark.sql.streaming.multipleWatermarkPolicy", policy)
        try:
            sa = spark.readStream.schema(schema).parquet(A).withWatermark("ts", "0 seconds")
            sb = spark.readStream.schema(schema).parquet(B).withWatermark("ts", "0 seconds")
            agg = (
                sa.unionByName(sb)
                .groupBy(F.window("ts", "5 minutes"), "src")
                .agg(F.count("*").alias("cnt"))
                .select(F.col("window.start").alias("ws"), "src", "cnt")
            )
            q = (
                agg.writeStream.format("memory")
                .queryName(f"idle_{policy}")
                .outputMode("append")
                .option("checkpointLocation", os.path.join(base, f"ck_{policy}"))
                .start()
            )
            q.processAllAvailable()
            q.processAllAvailable()
            q.stop()
            return sorted(
                (str(r["ws"]), r["src"], r["cnt"])
                for r in spark.table(f"idle_{policy}").collect()
            )
        finally:
            spark.conf.set("spark.sql.streaming.multipleWatermarkPolicy", old)

    # Flink default: B's stalled watermark holds back event time — nothing emits
    assert run("min") == []
    # withIdleness: A's progress finalizes the 10:00 window for BOTH sources
    assert run("max") == [
        ("2024-01-01 10:00:00", "A", 1),
        ("2024-01-01 10:00:00", "B", 1),
    ]


def test_wm_buffer_survives_drain_then_refill(spark, tmp_path):
    """Regression (found by the sf0.1 streaming smoke): a key whose watermark
    buffer fully drains (timeout flush, carry retained → EMPTY lists in
    state) and later receives new rows must keep exact int64 timestamps.
    Before the typed-restore fix, pd.DataFrame({c: []}) defaulted the
    restored columns to float64 and the concat upcast the int64 nanosecond
    buffer to float64 — which the LongType state array nulled on write,
    crashing the next batch with 'int() argument ... NoneType'."""
    from flink_1_12_0_src_spark.streaming.run import run_to_batch
    from flink_1_12_0_src_spark.streaming.stateful import streaming_temporal_join

    batches = [
        # batch 0: key 1 dim+fact (buffered; wm still behind)
        [(1, "2024-01-01 10:00:00", "D", 1.0), (1, "2024-01-01 10:01:00", "F", 5.0)],
        # batch 1: only key 2, far ahead → wm passes key 1 entirely; key 1's
        # timeout flush stores carry + EMPTY buffer lists
        [(2, "2024-01-01 11:00:00", "F", 7.0)],
        # batch 2: key 1 refills → restore of the drained state must be typed
        [(1, "2024-01-01 12:00:00", "F", 9.0)],
        # batch 3: advance wm so batch 2 finalizes
        [(2, "2024-01-01 13:00:00", "F", 8.0)],
    ]
    stream = _replay_rows(
        spark, tmp_path / "drainrefill", batches,
        "user_id int, ts_s string, side string, value double",
    ).withWatermark("ts", "0 seconds")
    out = run_to_batch(
        streaming_temporal_join(stream, key="user_id", time_col="ts", side_col="side", value_col="value"),
        "append",
    )
    rows = {(r["user_id"], str(r["fact_ts"])): (str(r["dim_ts"]), r["setting"]) for r in out.collect()}
    # key 1's first fact joins its 10:00 dim; the refilled 12:00 fact must
    # STILL see the carried dim version with an exact timestamp
    assert rows[(1, "2024-01-01 10:01:00")] == ("2024-01-01 10:00:00", 1.0)
    assert rows[(1, "2024-01-01 12:00:00")] == ("2024-01-01 10:00:00", 1.0)


def test_semi_anti_join_state_shape(spark, tmp_path):
    """The semi/anti join's state is one complete-mode streaming aggregate:
    one (key, left id, stage) row per left row plus one (key, first-match
    stage) row per right key, held in Spark's state store across the
    batches — and the close-time emission must equal the closed-form
    first-match semantics."""
    from flink_1_12_0_src_spark.streaming.run import run_incremental_semi_anti_join

    batches = [
        [(k, k, "L", 0) for k in range(8)],          # all left, stage 0
        [(1, 100, "R", 1)],                          # one matching right key
        [(2, 200, "R", 2)],                          # another
    ]

    def stream():
        return _replay_rows(
            spark, tmp_path / "src", batches, "k int, eid bigint, side string, stage int"
        )

    semi = run_incremental_semi_anti_join(
        stream(), side_col="side", left_tag="L", join_keys=["k"],
        left_id="eid", how="semi",
    )
    got = sorted((r["k"], r["epoch"], r["kind"]) for r in semi.collect())
    assert got == [(1, 1, "+I"), (2, 2, "+I")]

    anti = run_incremental_semi_anti_join(
        stream(), side_col="side", left_tag="L", join_keys=["k"],
        left_id="eid", how="anti",
    )
    got = sorted((r["k"], r["epoch"], r["kind"]) for r in anti.collect())
    # all 8 lefts were unmatched on arrival (+I at 0); keys 1,2 retract at
    # their first match's stage
    expected = sorted(
        [(k, 0, "+I") for k in range(8)] + [(1, 1, "-D"), (2, 2, "-D")]
    )
    assert got == expected
