"""Structured Streaming queries driven to completion (SURVEY.md §2.8, §7
Phases 2–3) and oracle-checked against batch SQL over the same rows.

Pattern (the reference's ITCase strategy, SURVEY §5.2): the events table is
replayed as a 4-micro-batch file stream in event-time order
(``streaming.source.events_stream``), the streaming plan runs to completion
with Trigger.AvailableNow into a memory sink, and the final result must equal
the batch answer — which DuckDB computes independently. A ``run_to_batch``
snapshot is safe to self-join, so report tails read it directly; the
out-of-order twins pass ``order=`` to their source to scramble delivery.

Mode discipline:
- complete mode → final-state snapshot (unbounded aggs, session windows,
  keep-first/last dedup): deterministic regardless of micro-batch boundaries.
- append mode → exact emission set (stream-stream interval join, watermark-
  evicted session windows, applyInPandasWithState operators).

Trigger discipline (r15, extending the r14 stream_tumble_agg /
stream_over_running_sum precedent): a twin whose result is provably
micro-batch-boundary invariant — complete-mode snapshots, watermark-
finalized emission sets (everything ≤ the final watermark, a pure function
of the data), and commutative accumulator folds — ingests all replay files
in ONE trigger (``max_files_per_trigger=4``): the same operator/state path
runs (state still round-trips the store, the trailing no-data batch still
flushes watermark-held rows), minus three micro-batch harness overheads,
which at the verify scale is 2.4-3x per twin (measured, oracle-green).
Multi-batch delivery stays a first-class exercised surface where it IS the
semantics: the ooo_*/late_* families (scrambled/late sources), the
changelog joins (incremental ΔL⋈R ∪ L⋈ΔR legs), stream_session_agg_append
(watermark eviction across batches), stream_unbounded_join, and the three
continuous-admission twins (neardedup_keepfirst / incremental_admit /
url_admit) keep one-file-per-trigger, and the boundary/order-invariance
property itself is pinned by tests/test_streaming_analytics.py and
tests/test_emission_order.py over multi-batch and scrambled fixtures.

Reference operators exercised: StreamExecGroupWindowAggregate (tumble/hop/
session — WindowOperator.java:98 + assigners), StreamExecGroupAggregate
(GroupAggFunction.java:141), StreamExecIntervalJoin (TimeIntervalJoin.java:49),
StreamExecDeduplicate (keep-first/keep-last), StreamExecOverAggregate,
StreamExecRank (streaming Top-N), CountTumblingWindowAssigner.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from flink_1_12_0_src_spark.operators import deduplicate
from flink_1_12_0_src_spark.queries import register
from flink_1_12_0_src_spark.queries._util import dec, dsum
from flink_1_12_0_src_spark.streaming import events_stream, run_to_batch
from flink_1_12_0_src_spark.streaming.stateful import (
    streaming_count_tumble,
    streaming_delta_trigger,
    streaming_over_running_sum,
    streaming_temporal_sort,
    streaming_topn,
)

_SQL_TOTAL = "CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)"

# The late-data replay: calendar weeks delivered week1, week3, week2, week4,
# so every week2 row arrives behind the running watermark (see
# events_stream_weeks).
_LATE_ORDER = ("1", "3", "2", "4")


@register(
    "stream_tumble_agg",
    oracle=f"""
SELECT time_bucket(INTERVAL '1 day', ts) AS window_start, event_type,
       COUNT(*) AS cnt, {_SQL_TOTAL} AS total
FROM events GROUP BY 1, 2
""",
    tags=("streaming", "window_agg", "bench"),
    doc="Tumbling event-time window aggregate (StreamExecGroupWindowAggregate, "
    "TumblingWindowAssigner.java): 1-day windows × event_type, complete-mode "
    "final state ≡ batch GROUP BY time_bucket. Watermark declared as in "
    "production append-mode use; partial aggregation is map-side automatic.",
)
def stream_tumble_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # complete-mode final state is micro-batch-invariant, so ingest all replay
    # files in one trigger: same operator/state path, minus 3 batch overheads
    # (the multi-batch path is exercised by the other stream_* queries)
    s = events_stream(spark, sf_dir, max_files_per_trigger=4).withWatermark("ts", "1 hour")
    agg = s.groupBy(F.window("ts", "1 day"), "event_type").agg(
        F.count("*").alias("cnt"), dsum(dec("value")).alias("total")
    )
    out = agg.select(
        F.col("window.start").alias("window_start"), "event_type", "cnt", "total"
    )
    return run_to_batch(out, "complete")


@register(
    "stream_hop_agg",
    oracle=f"""
SELECT time_bucket(INTERVAL '12 hours', ts) - k.k * INTERVAL '12 hours' AS window_start,
       COUNT(*) AS cnt, {_SQL_TOTAL} AS total
FROM events CROSS JOIN (VALUES (0), (1)) AS k(k)
GROUP BY 1
""",
    tags=("streaming", "window_agg"),
    doc="Sliding/hopping window aggregate (SlidingWindowAssigner.java): 1-day "
    "windows every 12h — each event lands in 2 windows; oracle replicates rows "
    "per slide offset (the same Expand Spark plans internally).",
)
def stream_hop_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = events_stream(spark, sf_dir, max_files_per_trigger=4).withWatermark("ts", "1 hour")
    agg = s.groupBy(F.window("ts", "1 day", "12 hours")).agg(
        F.count("*").alias("cnt"), dsum(dec("value")).alias("total")
    )
    out = agg.select(F.col("window.start").alias("window_start"), "cnt", "total")
    return run_to_batch(out, "complete")


_SQL_SESSIONS = """
WITH brk AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS is_new
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sid AS (
  SELECT user_id, ts, value,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS s
  FROM brk
)
SELECT user_id, MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS cnt, {total} AS total
FROM sid GROUP BY user_id, s
""".format(total=_SQL_TOTAL)


@register(
    "stream_session_agg",
    oracle=_SQL_SESSIONS,
    tags=("streaming", "window_agg", "session"),
    doc="Session window aggregate (SessionWindowAssigner.java, 30-min gap): "
    "Spark session_window() with mergeable state; oracle = gaps-and-islands "
    "SQL. Complete mode = all sessions, including still-open ones.",
)
def stream_session_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = events_stream(spark, sf_dir, max_files_per_trigger=4)
    agg = s.groupBy("user_id", F.session_window("ts", "30 minutes")).agg(
        F.count("*").alias("cnt"), dsum(dec("value")).alias("total")
    )
    out = agg.select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        "cnt",
        "total",
    )
    return run_to_batch(out, "complete")


@register(
    "stream_session_agg_append",
    oracle=_SQL_SESSIONS
    + "HAVING MAX(ts) + INTERVAL 30 MINUTE <= (SELECT MAX(ts) FROM events)",
    tags=("streaming", "window_agg", "session", "watermark"),
    doc="Session windows under real watermark semantics: append mode emits a "
    "session only once the watermark (here: max event time, 0s delay) passes "
    "its end — sessions still open at end-of-stream stay in state, exactly "
    "Flink's WindowOperator+cleanup-timer behavior. Oracle applies the same "
    "closure predicate.",
)
def stream_session_agg_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = events_stream(spark, sf_dir).withWatermark("ts", "0 seconds")
    agg = s.groupBy("user_id", F.session_window("ts", "30 minutes")).agg(
        F.count("*").alias("cnt"), dsum(dec("value")).alias("total")
    )
    out = agg.select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        "cnt",
        "total",
    )
    return run_to_batch(out, "append")


@register(
    "stream_global_agg",
    oracle=f"""
SELECT event_type, COUNT(*) AS cnt, {_SQL_TOTAL} AS total
FROM events GROUP BY event_type
""",
    tags=("streaming", "agg"),
    doc="Unbounded keyed streaming aggregate (StreamExecGroupAggregate, "
    "GroupAggFunction.java:141): running per-key accumulators, complete-mode "
    "snapshot after the last micro-batch ≡ batch GROUP BY.",
)
def stream_global_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = events_stream(spark, sf_dir, max_files_per_trigger=4)
    agg = s.groupBy("event_type").agg(
        F.count("*").alias("cnt"), dsum(dec("value")).alias("total")
    )
    return run_to_batch(agg, "complete")


@register(
    "stream_dedup_keep_first",
    oracle="""
SELECT user_id, event_id, ts, event_type, CAST(value AS DOUBLE) AS value
FROM events
QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) = 1
""",
    tags=("streaming", "dedup"),
    doc="Streaming keep-first dedup (StreamExecDeduplicate, "
    "ProcTimeDeduplicateKeepFirstRowFunction): min_by(payload, (ts, event_id)) "
    "running aggregate — state is one row per key, same as Flink's ValueState.",
)
def stream_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = events_stream(spark, sf_dir, max_files_per_trigger=4).select(
        "user_id", "event_id", "ts", "event_type", F.col("value").cast("double").alias("value")
    )
    out = deduplicate(s, keys=["user_id"], order_col="ts", keep="first", tiebreak="event_id")
    return run_to_batch(out, "complete")


@register(
    "stream_dedup_keep_last",
    oracle="""
SELECT user_id, event_id, ts, event_type, CAST(value AS DOUBLE) AS value
FROM events
QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
""",
    tags=("streaming", "dedup", "changelog"),
    doc="Streaming keep-last dedup / ChangelogNormalize "
    "(StreamExecChangelogNormalize.scala:46 — the upsert-kafka source's "
    "collapse-to-latest): max_by(payload, (ts, event_id)) update-per-key state.",
)
def stream_dedup_keep_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = events_stream(spark, sf_dir, max_files_per_trigger=4).select(
        "user_id", "event_id", "ts", "event_type", F.col("value").cast("double").alias("value")
    )
    out = deduplicate(s, keys=["user_id"], order_col="ts", keep="last", tiebreak="event_id")
    return run_to_batch(out, "complete")


@register(
    "stream_interval_join",
    oracle="""
SELECT p.event_id AS purchase_id, p.user_id, p.ts AS p_ts,
       v.event_id AS view_id, v.ts AS v_ts
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON p.user_id = v.user_id
 AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts <= p.ts
""",
    tags=("streaming", "join", "interval_join"),
    doc="Stream-stream interval join (StreamExecIntervalJoin, "
    "TimeIntervalJoin.java:49): purchases ⋈ views of the same user within the "
    "preceding hour. Watermarks on both sides bound the join state — Spark "
    "derives eviction from the time-range condition exactly as Flink's "
    "relative-window cleanup does; append mode emits each match once.",
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = lambda: events_stream(spark, sf_dir, max_files_per_trigger=4).withWatermark("ts", "1 minute")  # noqa: E731
    p = ev().filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("p_ts")
    )
    v = ev().filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user_id"), F.col("event_id").alias("view_id"), F.col("ts").alias("v_ts")
    )
    joined = p.join(
        v,
        (F.col("user_id") == F.col("v_user_id"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("v_ts") <= F.col("p_ts")),
        "inner",
    ).select("purchase_id", "user_id", "p_ts", "view_id", "v_ts")
    return run_to_batch(joined, "append")


@register(
    "stream_over_running_sum",
    oracle="""
SELECT user_id, ts, event_id, CAST(value AS DOUBLE) AS value,
       CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE) AS run_sum
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""",
    tags=("streaming", "over", "stateful", "custom_op", "bench"),
    doc="Streaming OVER aggregate, ROWS UNBOUNDED PRECEDING "
    "(StreamExecOverAggregate.scala:52): per-row running count+sum via "
    "applyInPandasWithState with O(1) scalars per key — the Flink "
    "KeyedProcessFunction/ValueState pattern on Spark.",
)
def stream_over_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    # single-trigger ingest: output is watermark-determined, so one data
    # batch + the trailing flush batch produce the identical emission set
    # with half the micro-batch harness overhead (the multi-batch and
    # out-of-order delivery paths are pinned by stream_ooo_over_running_sum)
    s = (
        events_stream(spark, sf_dir, max_files_per_trigger=4)
        .select("user_id", "ts", "event_id", "value")
        .withWatermark("ts", "0 seconds")
    )
    out = streaming_over_running_sum(s, key="user_id", order_cols=["ts", "event_id"], value_col="value")
    return run_to_batch(out, "append")


@register(
    "stream_temporal_sort",
    oracle="""
SELECT user_id, ts, event_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS seq
FROM events
""",
    tags=("streaming", "sort", "stateful", "custom_op"),
    doc="Streaming TEMPORAL SORT (StreamExecTemporalSort.scala:47 / "
    "RowTimeSortOperator): rows buffer in keyed state and are released in "
    "provably-final event-time order as the watermark passes them, each "
    "stamped with its per-key emission sequence — the emitted (key, seq) "
    "assignment is delivery-order invariant and equals the batch ROW_NUMBER. "
    "Completes §2.6's 'streaming sort' row with a direct emission oracle "
    "(previously verified only through composition).",
)
def stream_temporal_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = (
        events_stream(spark, sf_dir, max_files_per_trigger=4)
        .select("user_id", "ts", "event_id")
        .withWatermark("ts", "0 seconds")
    )
    out = streaming_temporal_sort(s, key="user_id", order_cols=["ts", "event_id"])
    return run_to_batch(out, "append")


@register(
    "stream_iterate_reduce",
    oracle="""
SELECT event_id,
       CAST(CAST(floor(CAST(value AS DOUBLE)) AS BIGINT) % 97 AS BIGINT) AS final_value,
       CAST(CAST(floor(CAST(value AS DOUBLE)) AS BIGINT) // 97 AS BIGINT) AS n_iters
FROM events
ORDER BY event_id
""",
    tags=("streaming", "iteration", "custom_op"),
    doc="Streaming ITERATION with a feedback edge (DataStream.iterate — "
    "DataStream.java:537 / IterativeStream; the classic subtract-until-"
    "below-threshold loop from Flink's IterateExample): each value is "
    "reduced by 97 per iteration, still-large rows flow back into the "
    "operator's own input via the feedback directory, finished rows leave "
    "the loop carrying their iteration count. The loop drains when no "
    "feedback is produced (processAllAvailable quiescence = Flink's "
    "no-in-flight-feedback). Oracle: the closed form value mod/div 97. "
    "Closes the round-3 'What's missing #5' out-of-scope row with a real "
    "mapping (streaming/run.py run_stream_iterate).",
)
def stream_iterate_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.catalog import table
    from flink_1_12_0_src_spark.streaming.run import run_stream_iterate

    seed = table(spark, sf_dir, "events").select(
        "event_id",
        F.floor(F.col("value").cast("double")).cast("bigint").alias("cur"),
        F.lit(0).cast("bigint").alias("n_iters"),
    )

    def split(bdf: DataFrame):
        done = bdf.filter(F.col("cur") < 97).select(
            "event_id",
            F.col("cur").alias("final_value"),
            "n_iters",
        )
        feed = bdf.filter(F.col("cur") >= 97).select(
            "event_id",
            (F.col("cur") - 97).alias("cur"),
            (F.col("n_iters") + 1).alias("n_iters"),
        )
        return done, feed

    out = run_stream_iterate(seed, split)
    return out.select("event_id", "final_value", "n_iters").orderBy("event_id")


@register(
    "stream_delta_trigger",
    oracle="""
WITH RECURSIVE o AS (
  SELECT user_id, ts, event_id, CAST(round(CAST(value AS DOUBLE) * 100) AS BIGINT) AS cents,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events),
emit(user_id, rn, cents) AS (
  SELECT user_id, rn, cents FROM o WHERE rn = 1
  UNION ALL
  SELECT e.user_id, nxt.rn, nxt.cents
  FROM emit e
  JOIN LATERAL (SELECT rn, cents FROM o
                WHERE o.user_id = e.user_id AND o.rn > e.rn
                  AND abs(o.cents - e.cents) >= 4000
                ORDER BY rn LIMIT 1) nxt ON true
)
SELECT o.user_id, o.ts, o.event_id, CAST(o.cents / 100.0 AS DOUBLE) AS value
FROM emit JOIN o ON o.user_id = emit.user_id AND o.rn = emit.rn
ORDER BY o.user_id, o.ts, o.event_id
""",
    tags=("streaming", "trigger", "stateful", "custom_op"),
    doc="Custom DELTA TRIGGER (DeltaTrigger.java:33 + DeltaFunction): fire "
    "when |value − last_fired_value| ≥ 40.00, the fired row becoming the "
    "new reference; a key's first row always fires (the null-state "
    "initialization branch). O(1) carry per key under the watermark "
    "buffer, so the emission set is delivery-order invariant. Oracle: the "
    "same fire chain as a recursive jump CTE in exact cents. Upgrades "
    "§2.8 'custom triggers' from partial (count/early-fire only) to "
    "covered.",
)
def stream_delta_trigger(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = (
        events_stream(spark, sf_dir, max_files_per_trigger=4)
        .select("user_id", "ts", "event_id", "value")
        .withWatermark("ts", "0 seconds")
    )
    out = streaming_delta_trigger(
        s, key="user_id", order_cols=["ts", "event_id"], value_col="value",
        delta_cents=4000,
    )
    return run_to_batch(out, "append").orderBy("user_id", "ts", "event_id")


@register(
    "stream_topn",
    oracle="""
SELECT event_type, CAST(rnk AS INTEGER) AS rank, event_id, CAST(value AS DOUBLE) AS value
FROM (SELECT event_type, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rnk
      FROM events)
WHERE rnk <= 3
""",
    tags=("streaming", "rank", "stateful", "custom_op"),
    doc="Streaming Top-N (StreamExecRank.scala:52, AppendOnlyTopNFunction): "
    "per event_type keep the top-3 by value in state, re-emit the snapshot on "
    "change; the final snapshot (max seq per key) must equal the batch Top-N.",
)
def stream_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = (
        events_stream(spark, sf_dir, max_files_per_trigger=4)
        .select("event_type", "ts", "event_id", "value")
        .withWatermark("ts", "0 seconds")
    )
    emitted = run_to_batch(
        streaming_topn(s, key="event_type", id_col="event_id", value_col="value", n=3),
        "append",
    )
    w = Window.partitionBy("event_type")
    return (
        emitted.withColumn("max_seq", F.max("seq").over(w))
        .filter(F.col("seq") == F.col("max_seq"))
        .select("event_type", "rank", "event_id", "value")
    )


@register(
    "stream_lookup_join",
    oracle="""
SELECT e.event_id, e.user_id, c.c_name, c.c_mktsegment,
       CAST(e.value AS DOUBLE) AS value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
""",
    tags=("streaming", "join", "lookup_join"),
    doc="Lookup join (StreamExecLookupJoin.scala:38, LookupJoinRunner.java:36 "
    "— per-row lookup FOR SYSTEM_TIME AS OF proctime): Spark's stream-static "
    "join re-reads the dimension per micro-batch, giving the same "
    "latest-version-at-processing-time semantics without a cache layer.",
)
def stream_lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.catalog import table

    s = events_stream(spark, sf_dir, max_files_per_trigger=4).select(
        "event_id", "user_id", F.col("value").cast("double").alias("value")
    )
    dim = table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_mktsegment")
    out = s.join(dim, s.user_id == dim.c_custkey, "inner").select(
        "event_id", "user_id", "c_name", "c_mktsegment", "value"
    )
    return run_to_batch(out, "append")


@register(
    "stream_broadcast_dim_agg",
    oracle=f"""
SELECT n.n_name, COUNT(*) AS cnt, {_SQL_TOTAL} AS total
FROM events e
JOIN customer c ON e.user_id = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
""",
    tags=("streaming", "join", "broadcast"),
    doc="Broadcast state pattern (DataStream.broadcast:433, "
    "BroadcastConnectedStream): small dims are broadcast-joined inside each "
    "micro-batch (explicit broadcast() hint → BroadcastHashJoin, no shuffle "
    "of the stream side), then aggregated in complete mode.",
)
def stream_broadcast_dim_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.catalog import table

    s = events_stream(spark, sf_dir, max_files_per_trigger=4)
    cust = F.broadcast(table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey"))
    nat = F.broadcast(table(spark, sf_dir, "nation").select("n_nationkey", "n_name"))
    joined = s.join(cust, s.user_id == cust.c_custkey).join(
        nat, cust.c_nationkey == nat.n_nationkey
    )
    agg = joined.groupBy("n_name").agg(
        F.count("*").alias("cnt"), dsum(dec("value")).alias("total")
    )
    return run_to_batch(agg, "complete")


@register(
    "stream_side_outputs",
    oracle="""
SELECT event_id, user_id, 'errors' AS channel, CAST(value AS DOUBLE) AS value
FROM events WHERE event_type = 'error'
UNION ALL
SELECT event_id, user_id, 'big_purchases' AS channel, CAST(value AS DOUBLE) AS value
FROM events WHERE event_type = 'purchase' AND value > 100
""",
    tags=("streaming", "side_output"),
    doc="Side outputs (OutputTag, SingleOutputStreamOperator.getSideOutput): "
    "one source plan split into two filtered, tagged branches and unioned — "
    "Spark reuses the scan across branches; at scale each branch keeps "
    "filter pushdown.",
)
def stream_side_outputs(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = events_stream(spark, sf_dir, max_files_per_trigger=4)
    errors = s.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", F.lit("errors").alias("channel"),
        F.col("value").cast("double").alias("value"),
    )
    big = s.filter((F.col("event_type") == "purchase") & (F.col("value") > 100)).select(
        "event_id", "user_id", F.lit("big_purchases").alias("channel"),
        F.col("value").cast("double").alias("value"),
    )
    return run_to_batch(errors.union(big), "append")


@register(
    "stream_count_tumble",
    oracle="""
WITH o AS (
  SELECT user_id, value,
         CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS BIGINT) AS rn
  FROM events
)
SELECT user_id, rn // 5 AS win_id, COUNT(*) AS cnt,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS win_sum
FROM o GROUP BY user_id, rn // 5
HAVING COUNT(*) = 5
""",
    tags=("streaming", "window_agg", "stateful", "custom_op"),
    doc="Count-based tumbling window (CountTumblingWindowAssigner — no Spark "
    "primitive): every 5 events per user in event order form a window; only "
    "complete windows emit, the trailing partial stays in state. "
    "applyInPandasWithState with O(1) state per key.",
)
def stream_count_tumble(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = (
        events_stream(spark, sf_dir, max_files_per_trigger=4)
        .select("user_id", "ts", "event_id", "value")
        .withWatermark("ts", "0 seconds")
    )
    out = streaming_count_tumble(s, key="user_id", order_cols=["ts", "event_id"], value_col="value", size=5)
    return run_to_batch(out, "append")


@register(
    "stream_cumulate_agg",
    oracle="""
WITH steps AS (
  SELECT e.*, time_bucket(INTERVAL 1 DAY, CAST(ts AS TIMESTAMP)) AS day_start,
         k.k * INTERVAL 6 HOUR AS ext
  FROM events e CROSS JOIN (VALUES (1),(2),(3),(4)) AS k(k)
)
SELECT day_start AS window_start, day_start + ext AS window_end,
       COUNT(*) AS cnt, CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
FROM steps
WHERE CAST(ts AS TIMESTAMP) < day_start + ext
GROUP BY 1, 2
""",
    tags=("streaming", "window_agg", "cumulate"),
    doc="Streaming CUMULATE window (Flink CumulativeWindowAssigner.java — day "
    "window growing in 6h steps): the assigner's replication expressed as "
    "explode over step ends before the streaming groupBy, complete-mode final "
    "state ≡ the batch cumulate. Same topology as window_cumulate, but through "
    "the micro-batch engine with state across triggers.",
)
def stream_cumulate_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = events_stream(spark, sf_dir, max_files_per_trigger=4).withWatermark("ts", "1 hour")
    steps = s.select(
        "ts",
        "value",
        F.date_trunc("day", "ts").alias("window_start"),
        F.explode(F.expr("array(1,2,3,4)")).alias("k"),
    ).withColumn("window_end", F.expr("window_start + make_interval(0,0,0,0, 6*k, 0, 0)"))
    agg = (
        steps.filter(F.col("ts") < F.col("window_end"))
        .groupBy("window_start", "window_end")
        .agg(F.count("*").alias("cnt"), dsum(dec("value")).alias("total"))
    )
    return run_to_batch(agg, output_mode="complete")


@register(
    "stream_over_time_range",
    oracle="""
SELECT user_id, ts, CAST(CAST(value AS DECIMAL(12,2)) AS DOUBLE) AS value,
       CAST(COUNT(*) OVER w AS BIGINT) AS cnt_range,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE) AS sum_range
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch(CAST(ts AS TIMESTAMP))
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
""",
    tags=("streaming", "over", "time_range", "stateful", "custom_op"),
    doc="Streaming OVER, RANGE 1-hour PRECEDING "
    "(RowTimeRangeBoundedPrecedingFunction.java:61 — the rowtime/range variant "
    "of StreamExecOverAggregate): trailing-window count+sum per row with "
    "time-evicted state (buffer bounded by the window span, not history).",
)
def stream_over_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.streaming.stateful import streaming_over_time_range

    s = (
        events_stream(spark, sf_dir, max_files_per_trigger=4)
        .select("user_id", "ts", "value")
        .withWatermark("ts", "0 seconds")
    )
    out = streaming_over_time_range(
        s, key="user_id", time_col="ts", value_col="value", range_seconds=3600
    )
    return run_to_batch(out, "append")


@register(
    "stream_interval_join_left",
    oracle="""
WITH p AS (SELECT event_id AS purchase_id, user_id, ts AS p_ts
           FROM events WHERE event_type = 'purchase'),
v AS (SELECT user_id AS v_user_id, event_id AS view_id, ts AS v_ts
      FROM events WHERE event_type = 'view')
SELECT purchase_id, user_id, p_ts, view_id, v_ts
FROM p LEFT JOIN v
  ON user_id = v_user_id
 AND v_ts >= p_ts - INTERVAL 1 HOUR AND v_ts <= p_ts
WHERE p_ts < (SELECT MAX(ts) - INTERVAL 2 HOUR FROM events)
""",
    tags=("streaming", "join", "interval_join", "outer_join"),
    doc="LEFT OUTER stream-stream interval join (StreamExecIntervalJoin with "
    "outer emission — TimeIntervalJoin.java pads unmatched rows on cleanup): "
    "null-padded purchases emit when the watermark proves no view can still "
    "match. Both engines post-filter to p_ts < max_ts − 2h — strictly inside "
    "the flushed region, so the emission set is closed-form.",
)
def stream_interval_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.catalog import table as _table

    ev = lambda: events_stream(spark, sf_dir, max_files_per_trigger=4).withWatermark("ts", "1 minute")  # noqa: E731
    p = ev().filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("p_ts")
    )
    v = ev().filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user_id"), F.col("event_id").alias("view_id"), F.col("ts").alias("v_ts")
    )
    joined = p.join(
        v,
        (F.col("user_id") == F.col("v_user_id"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("v_ts") <= F.col("p_ts")),
        "left_outer",
    ).select("purchase_id", "user_id", "p_ts", "view_id", "v_ts")
    out = run_to_batch(joined, "append")
    cutoff = (
        _table(spark, sf_dir, "events").agg(F.max("ts").alias("m")).collect()[0]["m"]
    )
    import datetime

    return out.filter(F.col("p_ts") < F.lit(cutoff - datetime.timedelta(hours=2)))


@register(
    "stream_temporal_join",
    oracle="""
WITH f AS (SELECT user_id, ts AS fact_ts,
                  CAST(CAST(value AS DECIMAL(12,2)) AS DOUBLE) AS amount
           FROM events WHERE event_type = 'purchase'),
d AS (SELECT user_id, ts AS dim_ts,
             CAST(CAST(value AS DECIMAL(12,2)) AS DOUBLE) AS setting
      FROM events WHERE event_type = 'click')
SELECT f.user_id, f.fact_ts, f.amount, d.dim_ts, d.setting
FROM f ASOF LEFT JOIN d ON f.user_id = d.user_id AND d.dim_ts <= f.fact_ts
""",
    tags=("streaming", "join", "temporal", "stateful", "custom_op"),
    doc="Streaming temporal rowtime join (StreamExecTemporalJoin.scala:56, "
    "TemporalRowTimeJoinOperator.java — FOR SYSTEM_TIME AS OF fact.rowtime): "
    "purchases join the click-version current at their event time. Both sides "
    "ride one tagged union stream (connect-streams encoding); version state is "
    "O(1) per key. Oracle: DuckDB native ASOF LEFT JOIN.",
)
def stream_temporal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.streaming.stateful import streaming_temporal_join

    s = (
        events_stream(spark, sf_dir, max_files_per_trigger=4)
        .filter(F.col("event_type").isin("purchase", "click"))
        .select(
            "user_id",
            "ts",
            F.when(F.col("event_type") == "click", "D").otherwise("F").alias("side"),
            "value",
        )
        .withWatermark("ts", "0 seconds")
    )
    out = streaming_temporal_join(s, key="user_id", time_col="ts", side_col="side", value_col="value")
    return run_to_batch(out, "append")


@register(
    "stream_match_recognize",
    oracle="""
WITH o AS (
  SELECT user_id, event_id, ts, event_type,
         lead(event_type) OVER w AS t1, lead(event_id) OVER w AS id1,
         lead(ts) OVER w AS ts1
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS INTEGER) AS match_seq,
       event_id AS view_id, id1 AS click_id
FROM o
WHERE event_type = 'view' AND t1 = 'click' AND ts1 <= ts + INTERVAL 1 HOUR
  AND ts <= make_timestamp(CAST(floor(epoch_us((SELECT MAX(ts) FROM events)) / 1000) * 1000 AS BIGINT)) - INTERVAL 2 HOUR
ORDER BY user_id, match_seq
""",
    tags=("streaming", "cep", "stateful", "custom_op"),
    doc="Streaming MATCH_RECOGNIZE (StreamExecMatch.scala:68 → CepOperator."
    "java:83): PATTERN (V C) strict, WITHIN 1h, over the watermarked event "
    "stream — the NFA state holds only the undecided suffix per key, and a "
    "match emits exactly when the watermark passes start+within (provably "
    "final; streaming/cep.py). Oracle: lead()-pair SQL bounded to matches the "
    "final watermark (ms-truncated max ts − 1h delay) finalized, i.e. "
    "start ≤ max − 2h.",
)
def stream_match_recognize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.operators.cep import Pattern
    from flink_1_12_0_src_spark.streaming.cep import streaming_match_recognize

    pat = (
        Pattern.begin("v")
        .where(lambda pdf: pdf.event_type == "view")
        .next("c")
        .where(lambda pdf: pdf.event_type == "click")
        .within(3600.0)
    )
    s = (
        events_stream(spark, sf_dir, max_files_per_trigger=4)
        .withWatermark("ts", "1 hour")
        .select("user_id", "ts", "event_id", "event_type")
    )
    out = streaming_match_recognize(
        s,
        key="user_id",
        order_by=["ts", "event_id"],
        pattern=pat,
        measures={"view_id": ("v", "last", "event_id"), "click_id": ("c", "last", "event_id")},
        measure_types={"view_id": "long", "click_id": "long"},
        time_col="ts",
        buffer_cols={"ts": "ts", "event_id": "long", "event_type": "string"},
    )
    return run_to_batch(out, "append").orderBy("user_id", "match_seq")


@register(
    "stream_dedup_ttl",
    oracle="""
SELECT user_id, event_type, ts FROM (
  SELECT user_id, event_type, ts,
         lag(ts) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS prev_ts
  FROM events
)
WHERE prev_ts IS NULL OR ts - prev_ts >= INTERVAL 1 DAY
ORDER BY user_id, event_type, ts
""",
    tags=("streaming", "dedup", "stateful", "ttl", "custom_op"),
    doc="Keep-first dedup with idle-state TTL (StateTtlConfig / idle-state "
    "retention, GroupAggFunction.java:124-134): per (user, event_type), a row "
    "re-emits once the key has been silent >= 1 day; dedup state is ONE "
    "timestamp per key, physically removed by an event-time cleanup timer. "
    "Oracle: lag() gap test (every row refreshes the TTL = OnReadAndWrite).",
)
def stream_dedup_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.streaming.stateful import streaming_dedup_ttl

    s = (
        events_stream(spark, sf_dir, max_files_per_trigger=4)
        .withWatermark("ts", "1 hour")
        .select("user_id", "event_type", "ts", "event_id")
    )
    out = streaming_dedup_ttl(s, ["user_id", "event_type"], "ts", 86400)
    return run_to_batch(out, "append").orderBy("user_id", "event_type", "ts")


@register(
    "stream_count_slide",
    oracle="""
WITH o AS (
  SELECT user_id, value,
         CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS BIGINT) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n,
         CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS DOUBLE) AS wsum
  FROM events
)
SELECT user_id, rn // 3 AS win_id, CAST(8 AS BIGINT) AS cnt, wsum AS win_sum
FROM o
WHERE rn % 3 = 0 AND rn + 8 <= n
ORDER BY user_id, win_id
""",
    tags=("streaming", "window_agg", "stateful", "custom_op"),
    doc="Sliding count window (CountSlidingWindowAssigner): per user, windows "
    "of 8 events every 3 events in event order; only complete windows emit. "
    "applyInPandasWithState keeps the trailing size+slide cents — O(size) "
    "state per key. Oracle: forward-frame window SUM at each slide boundary.",
)
def stream_count_slide(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.streaming.stateful import streaming_count_slide

    s = (
        events_stream(spark, sf_dir, max_files_per_trigger=4)
        .select("user_id", "ts", "event_id", "value")
        .withWatermark("ts", "0 seconds")
    )
    out = streaming_count_slide(s, "user_id", ["ts", "event_id"], "value", size=8, slide=3)
    return run_to_batch(out, "append").orderBy("user_id", "win_id")


@register(
    "stream_windowed_cogroup",
    oracle="""
SELECT user_id, time_bucket(INTERVAL '1 day', ts) AS window_start,
       COUNT(*) FILTER (event_type = 'click') AS n_clicks,
       COUNT(*) FILTER (event_type = 'purchase') AS n_purchases,
       CAST(COALESCE(SUM(CAST(value AS DECIMAL(12,2))) FILTER (event_type = 'click'), 0) AS DOUBLE) AS click_total,
       CAST(COALESCE(SUM(CAST(value AS DECIMAL(12,2))) FILTER (event_type = 'purchase'), 0) AS DOUBLE) AS purchase_total
FROM events WHERE event_type IN ('click', 'purchase')
GROUP BY 1, 2
""",
    tags=("streaming", "join", "cogroup", "window_agg"),
    doc="Windowed stream coGroup (JoinedStreams/CoGroupedStreams — "
    "flink-streaming-java …/datastream/CoGroupedStreams.java): the general "
    "Spark encoding is union-the-tagged-sides → one windowed aggregate with "
    "per-side conditional aggregates — one shuffle total, no stream-stream "
    "join restriction (Spark disallows joining two aggregated streams), and "
    "identical pairing semantics for the (key, window) groups. Complete-mode "
    "snapshot ≡ batch FILTER-agg SQL.",
)
def stream_windowed_cogroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = events_stream(spark, sf_dir, max_files_per_trigger=4).withWatermark("ts", "1 hour")
    clicks = s.filter(F.col("event_type") == "click")
    purchases = s.filter(F.col("event_type") == "purchase")
    tagged = clicks.unionByName(purchases)  # the two coGroup inputs, tagged by event_type
    agg = tagged.groupBy("user_id", F.window("ts", "1 day")).agg(
        F.count(F.when(F.col("event_type") == "click", 1)).alias("n_clicks"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("n_purchases"),
        F.coalesce(dsum(F.when(F.col("event_type") == "click", dec("value"))), F.lit(0.0)).alias("click_total"),
        F.coalesce(dsum(F.when(F.col("event_type") == "purchase", dec("value"))), F.lit(0.0)).alias("purchase_total"),
    )
    out = agg.select(
        "user_id", F.col("window.start").alias("window_start"),
        "n_clicks", "n_purchases", "click_total", "purchase_total",
    )
    return run_to_batch(out, "complete")


@register(
    "stream_late_side_output",
    oracle="""
SELECT user_id, event_id, ts, event_type, CAST(value AS DOUBLE) AS value
FROM events
WHERE ts >= TIMESTAMP '2024-01-08' AND ts < TIMESTAMP '2024-01-15'
ORDER BY event_id
""",
    tags=("streaming", "lateness", "side_output", "custom_op"),
    doc="Late-data side output (WindowedStream.sideOutputLateData — "
    "…/datastream/WindowedStream.java:128; OutputTag): the out-of-order "
    "replay delivers week2 after week3, so the running watermark (0s delay) "
    "classifies every week2 row late; the side channel captures exactly "
    "those rows, executor-side (streaming/run.py run_split_late). Oracle: "
    "the week2 slice.",
)
def stream_late_side_output(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.streaming.run import run_split_late
    from flink_1_12_0_src_spark.streaming.source import events_stream_weeks

    s = events_stream_weeks(spark, sf_dir, order=_LATE_ORDER)
    late, _ontime = run_split_late(s, "ts")
    return late.select(
        "user_id", "event_id", "ts", "event_type", F.col("value").cast("double").alias("value")
    ).orderBy("event_id")


@register(
    "stream_late_dropped_agg",
    oracle="""
SELECT time_bucket(INTERVAL '1 day', ts) AS window_start, COUNT(*) AS cnt
FROM events
WHERE NOT (ts >= TIMESTAMP '2024-01-08' AND ts < TIMESTAMP '2024-01-15')
GROUP BY 1
HAVING time_bucket(INTERVAL '1 day', ts) + INTERVAL 1 DAY <= (SELECT MAX(ts) FROM events)
ORDER BY window_start
""",
    tags=("streaming", "lateness", "window_agg", "watermark", "custom_op"),
    doc="The main branch under late data — Flink WindowOperator allowed-"
    "lateness=0 DROP path: week2 arrives after the watermark closed its "
    "windows, so those rows are dropped and the append output holds exactly "
    "the closed windows of weeks 1/3/4. The drop is OUR operator "
    "(run_split_late): measured on Spark 4.1, the built-in windowed agg "
    "would instead resurrect and re-emit the late windows "
    "(numRowsDroppedByWatermark=0) — a documented semantic difference. "
    "Oracle applies the same exclusion and closure predicates.",
)
def stream_late_dropped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.streaming.run import run_split_late
    from flink_1_12_0_src_spark.streaming.source import events_stream_weeks

    s = events_stream_weeks(spark, sf_dir, order=_LATE_ORDER)
    _late, ontime = run_split_late(s, "ts")
    final_wm = ontime.agg(F.max("ts")).collect()[0][0]
    agg = ontime.groupBy(F.window("ts", "1 day")).agg(F.count("*").alias("cnt"))
    return (
        agg.select(F.col("window.start").alias("window_start"), "cnt")
        .filter(F.col("window_start") + F.expr("INTERVAL 1 DAY") <= F.lit(final_wm))
        .orderBy("window_start")
    )


@register(
    "stream_unbounded_join",
    oracle="""
SELECT p.user_id, p.event_id AS p_id, p.ts AS p_ts,
       c.event_id AS c_id, c.ts AS c_ts
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
JOIN (SELECT * FROM events WHERE event_type = 'click') c USING (user_id)
ORDER BY user_id, p_id, c_id
""",
    tags=("streaming", "join", "stateful", "custom_op"),
    doc="UNBOUNDED stream-stream inner join with NO time bound — SURVEY §2.3 "
    "(StreamExecJoin/StreamingJoinOperator keeps both sides in state "
    "forever). Spark's symmetric-hash stream-stream join runs it with no "
    "watermark: both sides stay in its state store and each pair is "
    "emitted once in append mode, batch-boundary invariant. Oracle: the "
    "batch join.",
)
def stream_unbounded_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.streaming.run import run_to_batch

    s = events_stream(spark, sf_dir).filter(F.col("event_type").isin("purchase", "click"))

    def side(event_type: str, prefix: str) -> DataFrame:
        return s.filter(F.col("event_type") == event_type).select(
            "user_id",
            F.col("event_id").alias(f"{prefix}_id"),
            F.col("ts").alias(f"{prefix}_ts"),
        )

    out = run_to_batch(side("purchase", "p").join(side("click", "c"), "user_id"), "append")
    return out.select("user_id", "p_id", "p_ts", "c_id", "c_ts").orderBy(
        "user_id", "p_id", "c_id"
    )


def _semi_anti_stream(spark: SparkSession, sf_dir: str):
    from flink_1_12_0_src_spark.streaming.source import events_stream_mod

    return (
        events_stream_mod(spark, sf_dir, with_stage=True)
        .filter(
            (F.col("event_type") == "purchase")
            | ((F.col("event_type") == "error") & (F.col("value") > 200))
        )
        .select("user_id", "event_id", "event_type", "stage")
    )


@register(
    "stream_semi_join_exists",
    oracle="""
WITH l AS (SELECT user_id, event_id AS l_id, CAST(event_id % 4 AS INTEGER) AS e
           FROM events WHERE event_type = 'purchase'),
fm AS (SELECT user_id, MIN(CAST(event_id % 4 AS INTEGER)) AS first_e
       FROM events WHERE event_type = 'error' AND value > 200 GROUP BY 1)
SELECT l.user_id, CAST(GREATEST(l.e, fm.first_e) AS INTEGER) AS epoch,
       '+I' AS kind, l.l_id
FROM l JOIN fm USING (user_id)
ORDER BY user_id, l_id
""",
    tags=("streaming", "join", "stateful", "changelog", "custom_op"),
    doc="Streaming SEMI join (IN / EXISTS) — the last §2.3 cell "
    "(StreamingSemiAntiJoinOperator.java:40-107: a left row emits exactly "
    "once, when its match count goes 0→1). Purchases of users with a "
    "high-value error: one complete-mode streaming aggregate holds each "
    "left row's stage and each key's FIRST matching right stage "
    "(streaming/run.py run_incremental_semi_anti_join); emitted epoch = "
    "greatest(left stage, first match stage), data-borne and delivery-order "
    "invariant. Oracle: EXISTS-join with the same first-match arithmetic.",
)
def stream_semi_join_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.streaming.run import run_incremental_semi_anti_join

    out = run_incremental_semi_anti_join(
        _semi_anti_stream(spark, sf_dir),
        side_col="event_type",
        left_tag="purchase",
        join_keys=["user_id"],
        left_id="event_id",
        how="semi",
    )
    return out.orderBy("user_id", "l_id")


@register(
    "stream_anti_join_not_exists",
    oracle="""
WITH l AS (SELECT user_id, event_id AS l_id, CAST(event_id % 4 AS INTEGER) AS e
           FROM events WHERE event_type = 'purchase'),
fm AS (SELECT user_id, MIN(CAST(event_id % 4 AS INTEGER)) AS first_e
       FROM events WHERE event_type = 'error' AND value > 200 GROUP BY 1)
SELECT l.user_id, l.e AS epoch, '+I' AS kind, l.l_id
FROM l LEFT JOIN fm USING (user_id)
WHERE fm.first_e IS NULL OR fm.first_e > l.e
UNION ALL
SELECT l.user_id, fm.first_e AS epoch, '-D' AS kind, l.l_id
FROM l JOIN fm USING (user_id) WHERE fm.first_e > l.e
ORDER BY user_id, l_id, kind
""",
    tags=("streaming", "join", "stateful", "changelog", "custom_op"),
    doc="Streaming ANTI join (NOT IN / NOT EXISTS) with RETRACTION emission "
    "(StreamingSemiAntiJoinOperator.java:109-150: a left row is emitted "
    "while its match count is 0 and retracted by -D when the first match "
    "arrives). Purchases of users with NO high-value error yet: +I at the "
    "purchase's arrival stage iff no matching error preceded it, -D at the "
    "first matching error's stage — the full changelog trace, data-borne "
    "epochs, delivery-order invariant (tests scramble delivery). State: the "
    "semi join's complete-mode aggregate (run_incremental_semi_anti_join, "
    "how='anti'). Oracle: NOT-EXISTS pad leg + first-match retraction leg "
    "in closed form.",
)
def stream_anti_join_not_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.streaming.run import run_incremental_semi_anti_join

    out = run_incremental_semi_anti_join(
        _semi_anti_stream(spark, sf_dir),
        side_col="event_type",
        left_tag="purchase",
        join_keys=["user_id"],
        left_id="event_id",
        how="anti",
    )
    return out.orderBy("user_id", "l_id", "kind")


@register(
    "stream_tumble_early_fire",
    oracle="""
WITH e AS (
  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS window_day,
         CAST(event_id % 4 AS INTEGER) AS epoch
  FROM events
),
cum AS (
  SELECT window_day, epoch, COUNT(*) AS delta FROM e GROUP BY 1, 2
),
c1 AS (
  SELECT window_day, epoch,
         CAST(SUM(delta) OVER (PARTITION BY window_day ORDER BY epoch) AS BIGINT) AS cnt
  FROM cum
)
SELECT window_day, cnt FROM c1 ORDER BY window_day, cnt
""",
    tags=("streaming", "window_agg", "early_fire"),
    doc="Early-fire EMISSION TRACE, exactly oracled (Flink WindowEmitStrategy "
    "early-fire / table.exec.emit.early-fire — WindowEmitStrategy.scala:32,"
    "154-204): an update-mode windowed aggregation re-emits a window's "
    "refined count every micro-batch that touches it. Replay is staged by "
    "event_id % 4 (streaming.source.events_stream_mod) so every 1-day window "
    "is touched by every batch and the k-th refinement equals the count over "
    "residues ≤ k — the trace is closed-form in SQL. The trace is "
    "reconstructed from the per-(window, stage) counts of a complete-mode "
    "streaming aggregate, cumulated in data-borne stage order, so it is "
    "invariant to micro-batch delivery order (the round-3 driver red was an "
    "order scramble); tests pin its equivalence to Spark's raw update-mode "
    "memory-sink trace under in-order delivery. The window key is the UTC "
    "epoch DAY (unix_micros DIV 86400e6 / epoch_us // 86400e6) — pure "
    "integer arithmetic, immune to session-TZ/calendar divergence between "
    "engines (defensive hardening; the actual r05/r06 driver reds were the "
    "oracle's uncast windowed SUM typing as DuckDB HUGEINT, which renders "
    "differently than Spark's BIGINT under the driver's rendered-value hash "
    "— fixed in r07 by CAST(... AS BIGINT), guarded by "
    "tests/test_oracle_types.py). No watermark: state is never "
    "evicted, matching early-fire-before-window-close semantics; the trigger "
    "interval plays the early-fire delay role (documented approximation, "
    "SURVEY §2.8).",
)
def stream_tumble_early_fire(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.streaming.run import run_early_fire_trace
    from flink_1_12_0_src_spark.streaming.source import events_stream_mod

    s = events_stream_mod(spark, sf_dir, with_stage=True)
    return run_early_fire_trace(s).orderBy("window_day", "cnt")


@register(
    "stream_session_dynamic_gap",
    oracle="""
WITH e AS (SELECT user_id, ts, CAST(value AS DECIMAL(12,2)) AS val,
                  CASE WHEN event_type = 'error' THEN 1800000000 ELSE 3600000000 END AS gap_us,
                  epoch_us(CAST(ts AS TIMESTAMP)) AS us
           FROM events),
m AS (SELECT *, MAX(us + gap_us) OVER (PARTITION BY user_id ORDER BY us
                                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
      FROM e),
b AS (SELECT *, CASE WHEN prev_end IS NULL OR us >= prev_end THEN 1 ELSE 0 END AS brk FROM m),
s AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY us) AS sess FROM b)
SELECT user_id, MIN(ts) AS session_start, make_timestamp(MAX(us + gap_us)) AS session_end,
       COUNT(*) AS cnt, CAST(SUM(val) AS DOUBLE) AS total
FROM s GROUP BY user_id, sess
ORDER BY user_id, session_start
""",
    tags=("streaming", "window_agg", "session", "dynamic_gap"),
    doc="STREAMING session windows with DYNAMIC per-row gap "
    "(DynamicEventTimeSessionWindows / SessionWindowTimeGapExtractor): error "
    "events extend their session only 30 min, others 60 — Spark's "
    "session_window takes the gap as an expression and merges mergeable "
    "session state across micro-batches; complete-mode snapshot ≡ the batch "
    "islands oracle.",
)
def stream_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = events_stream(spark, sf_dir, max_files_per_trigger=4)
    gap = F.when(F.col("event_type") == "error", "30 minutes").otherwise("60 minutes")
    agg = s.groupBy("user_id", F.session_window("ts", gap)).agg(
        F.count("*").alias("cnt"),
        F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("total"),
    )
    out = agg.select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        "cnt",
        "total",
    )
    return run_to_batch(out, "complete").orderBy("user_id", "session_start")


@register(
    "stream_interval_join_full",
    oracle="""
WITH p AS (SELECT event_id AS purchase_id, user_id AS p_user, ts AS p_ts
           FROM events WHERE event_type = 'purchase'),
v AS (SELECT user_id AS v_user, event_id AS view_id, ts AS v_ts
      FROM events WHERE event_type = 'view'),
j AS (
  SELECT purchase_id, p_user, p_ts, view_id, v_user, v_ts
  FROM p FULL JOIN v
    ON p_user = v_user
   AND v_ts >= p_ts - INTERVAL 1 HOUR AND v_ts <= p_ts
)
SELECT purchase_id, COALESCE(p_user, v_user) AS user_id, p_ts, view_id, v_ts
FROM j
WHERE COALESCE(p_ts < (SELECT MAX(ts) - INTERVAL 2 HOUR FROM events), TRUE)
  AND COALESCE(v_ts < (SELECT MAX(ts) - INTERVAL 2 HOUR FROM events), TRUE)
""",
    tags=("streaming", "join", "interval_join", "outer_join"),
    doc="FULL OUTER stream-stream interval join (StreamExecIntervalJoin, both-"
    "side null padding on state cleanup — TimeIntervalJoin.java): unmatched "
    "purchases AND unmatched views emit once the watermark proves no partner "
    "can arrive. Both engines post-filter each side to ts < max − 2h — "
    "strictly inside the flushed region, closed-form emission set.",
)
def stream_interval_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.catalog import table as _table

    ev = lambda: events_stream(spark, sf_dir, max_files_per_trigger=4).withWatermark("ts", "1 minute")  # noqa: E731
    p = ev().filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    v = ev().filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"), F.col("event_id").alias("view_id"), F.col("ts").alias("v_ts")
    )
    joined = p.join(
        v,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("v_ts") <= F.col("p_ts")),
        "full_outer",
    ).select(
        "purchase_id",
        F.coalesce("p_user", "v_user").alias("user_id"),
        "p_ts",
        "view_id",
        "v_ts",
    )
    out = run_to_batch(joined, "append")
    cutoff = (
        _table(spark, sf_dir, "events").agg(F.max("ts").alias("m")).collect()[0]["m"]
    )
    import datetime

    c = F.lit(cutoff - datetime.timedelta(hours=2))
    return out.filter(
        F.coalesce(F.col("p_ts") < c, F.lit(True)) & F.coalesce(F.col("v_ts") < c, F.lit(True))
    )


# ---------------------------------------------------------------------------
# Out-of-order (within-watermark) replays — the hold-until-watermark proof.
#
# The events table replays as calendar weeks delivered 1, 3, 2, 4 with a
# 15-day watermark delay, so week 2 arrives OUT OF EVENT-TIME ORDER but
# strictly inside the watermark slack (never "late"). A delivery-order-
# dependent operator would interleave week 2 after week 3; the stateful
# operators must instead produce rows identical to the batch answer over the
# finalized region floor_ms(ts) <= floor_ms(max_ts) - 15 days (rows above the
# final watermark stay buffered, exactly Flink's undecided state). Reference:
# TemporalRowTimeJoinOperator.java / RowTimeRangeBoundedPrecedingFunction.java
# buffer rows per rowtime and process on watermark for precisely this reason.
# ---------------------------------------------------------------------------

_OOO_CUT = "(SELECT date_trunc('millisecond', max(ts)) - INTERVAL 15 DAY FROM events)"
_OOO_WHERE = f"date_trunc('millisecond', ts) <= {_OOO_CUT}"


def _ooo_stream(spark: SparkSession, sf_dir: str, cols: list[str]) -> DataFrame:
    from flink_1_12_0_src_spark.streaming.source import events_stream_weeks

    return (
        events_stream_weeks(spark, sf_dir, order=_LATE_ORDER)
        .select(*cols)
        .withWatermark("ts", "15 days")
    )


@register(
    "stream_ooo_over_running_sum",
    oracle=f"""
WITH f AS (SELECT * FROM events WHERE {_OOO_WHERE})
SELECT user_id, ts, event_id, CAST(value AS DOUBLE) AS value,
       CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE) AS run_sum
FROM f
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""",
    tags=("streaming", "over", "stateful", "custom_op", "out_of_order"),
    doc="Streaming OVER running sum under out-of-order delivery: week 2 "
    "arrives after week 3 (within the 15-day watermark), yet rn/run_sum are "
    "assigned in global event-time order — rows buffer in keyed state until "
    "the watermark finalizes them (StreamExecOverAggregate rowtime sorting).",
)
def stream_ooo_over_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _ooo_stream(spark, sf_dir, ["user_id", "ts", "event_id", "value"])
    out = streaming_over_running_sum(
        s, key="user_id", order_cols=["ts", "event_id"], value_col="value"
    )
    return run_to_batch(out, "append")


@register(
    "stream_ooo_over_time_range",
    oracle=f"""
WITH f AS (SELECT * FROM events WHERE {_OOO_WHERE})
SELECT user_id, ts, CAST(CAST(value AS DECIMAL(12,2)) AS DOUBLE) AS value,
       CAST(COUNT(*) OVER w AS BIGINT) AS cnt_range,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE) AS sum_range
FROM f
WINDOW w AS (PARTITION BY user_id ORDER BY epoch(CAST(ts AS TIMESTAMP))
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
""",
    tags=("streaming", "over", "time_range", "stateful", "custom_op", "out_of_order"),
    doc="Streaming OVER RANGE 1h PRECEDING under out-of-order delivery "
    "(RowTimeRangeBoundedPrecedingFunction buffers per-rowtime rows until "
    "the watermark): trailing frames are computed over event-time order, "
    "peer-inclusive, independent of micro-batch arrival order.",
)
def stream_ooo_over_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.streaming.stateful import streaming_over_time_range

    s = _ooo_stream(spark, sf_dir, ["user_id", "ts", "value"])
    out = streaming_over_time_range(
        s, key="user_id", time_col="ts", value_col="value", range_seconds=3600
    )
    return run_to_batch(out, "append")


@register(
    "stream_ooo_topn",
    oracle=f"""
WITH f AS (SELECT * FROM events WHERE {_OOO_WHERE})
SELECT event_type, CAST(rnk AS INTEGER) AS rank, event_id, CAST(value AS DOUBLE) AS value
FROM (SELECT event_type, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rnk
      FROM f)
WHERE rnk <= 3
""",
    tags=("streaming", "rank", "stateful", "custom_op", "out_of_order"),
    doc="Streaming Top-N under out-of-order delivery: the final snapshot "
    "(max seq per key) equals the batch Top-3 over the watermark-finalized "
    "region — delivery order only affects intermediate snapshots, never the "
    "converged state (AppendOnlyTopNFunction semantics).",
)
def stream_ooo_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _ooo_stream(spark, sf_dir, ["event_type", "ts", "event_id", "value"])
    emitted = run_to_batch(
        streaming_topn(s, key="event_type", id_col="event_id", value_col="value", n=3),
        "append",
    )
    w = Window.partitionBy("event_type")
    return (
        emitted.withColumn("max_seq", F.max("seq").over(w))
        .filter(F.col("seq") == F.col("max_seq"))
        .select("event_type", "rank", "event_id", "value")
    )


@register(
    "stream_ooo_temporal_join",
    oracle=f"""
WITH fin AS (SELECT * FROM events WHERE {_OOO_WHERE}),
f AS (SELECT user_id, ts AS fact_ts,
             CAST(CAST(value AS DECIMAL(12,2)) AS DOUBLE) AS amount
      FROM fin WHERE event_type = 'purchase'),
d AS (SELECT user_id, ts AS dim_ts,
             CAST(CAST(value AS DECIMAL(12,2)) AS DOUBLE) AS setting
      FROM fin WHERE event_type = 'click')
SELECT f.user_id, f.fact_ts, f.amount, d.dim_ts, d.setting
FROM f ASOF LEFT JOIN d ON f.user_id = d.user_id AND d.dim_ts <= f.fact_ts
""",
    tags=("streaming", "join", "temporal", "stateful", "custom_op", "out_of_order"),
    doc="Streaming temporal rowtime join under out-of-order delivery — the "
    "TemporalRowTimeJoinOperator acid test: week-2 facts arrive AFTER week-3 "
    "dim versions; a fact must still join the version current at ITS event "
    "time, never a newer one. Facts buffer until the watermark proves the "
    "dim side complete up to fact_ts.",
)
def stream_ooo_temporal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.streaming.stateful import streaming_temporal_join

    s = (
        _ooo_tagged_stream(spark, sf_dir)
        .withWatermark("ts", "15 days")
    )
    return run_to_batch(
        streaming_temporal_join(
            s, key="user_id", time_col="ts", side_col="side", value_col="value"
        ),
        "append",
    )


def _ooo_tagged_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.streaming.source import events_stream_weeks

    return (
        events_stream_weeks(spark, sf_dir, order=_LATE_ORDER)
        .filter(F.col("event_type").isin("purchase", "click"))
        .select(
            "user_id",
            "ts",
            F.when(F.col("event_type") == "click", "D").otherwise("F").alias("side"),
            "value",
        )
    )


@register(
    "stream_ooo_count_tumble",
    oracle=f"""
WITH fin AS (SELECT * FROM events WHERE {_OOO_WHERE}),
o AS (
  SELECT user_id, value,
         CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS BIGINT) AS rn
  FROM fin
)
SELECT user_id, rn // 5 AS win_id, COUNT(*) AS cnt,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS win_sum
FROM o GROUP BY user_id, rn // 5
HAVING COUNT(*) = 5
""",
    tags=("streaming", "window_agg", "stateful", "custom_op", "out_of_order"),
    doc="Count tumbling window under out-of-order delivery: 'every 5 events "
    "in event order' must mean EVENT order, not arrival order — rows enter "
    "windows only once the watermark finalizes them "
    "(CountTumblingWindowAssigner + rowtime sorting).",
)
def stream_ooo_count_tumble(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _ooo_stream(spark, sf_dir, ["user_id", "ts", "event_id", "value"])
    out = streaming_count_tumble(
        s, key="user_id", order_cols=["ts", "event_id"], value_col="value", size=5
    )
    return run_to_batch(out, "append")


@register(
    "stream_ooo_count_slide",
    oracle=f"""
WITH fin AS (SELECT * FROM events WHERE {_OOO_WHERE}),
o AS (
  SELECT user_id, value,
         CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS BIGINT) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n,
         CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS DOUBLE) AS wsum
  FROM fin
)
SELECT user_id, rn // 3 AS win_id, CAST(8 AS BIGINT) AS cnt, wsum AS win_sum
FROM o
WHERE rn % 3 = 0 AND rn + 8 <= n
ORDER BY user_id, win_id
""",
    tags=("streaming", "window_agg", "stateful", "custom_op", "out_of_order"),
    doc="Sliding count window under out-of-order delivery "
    "(CountSlidingWindowAssigner): window membership is decided by global "
    "event order after watermark finalization, not by arrival order.",
)
def stream_ooo_count_slide(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.streaming.stateful import streaming_count_slide

    s = _ooo_stream(spark, sf_dir, ["user_id", "ts", "event_id", "value"])
    out = streaming_count_slide(s, "user_id", ["ts", "event_id"], "value", size=8, slide=3)
    return run_to_batch(out, "append").orderBy("user_id", "win_id")


_EVICTOR_CLOSED = """
WITH e AS (
  SELECT user_id, ts, event_id, CAST(value AS DECIMAL(12,2)) AS val,
         CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start
  FROM events
),
closed AS (
  SELECT * FROM e
  WHERE epoch_us(window_start) + 86400000000
        <= ((epoch_us((SELECT MAX(ts) FROM events)) // 1000) + 1) * 1000
)"""


@register(
    "stream_evictor_count",
    oracle=_EVICTOR_CLOSED + """,
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, window_start
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM closed
)
SELECT user_id, window_start, COUNT(*) AS cnt_kept,
       CAST(SUM(val) AS DOUBLE) AS total_kept
FROM r WHERE rn <= 3
GROUP BY user_id, window_start ORDER BY user_id, window_start
""",
    tags=("streaming", "window_agg", "evictor", "custom_op"),
    doc="CountEvictor (…/api/windowing/evictors/CountEvictor.java — keep the "
    "last n elements, evictBefore in WindowOperator): 1-day tumbling windows "
    "per user aggregate only their last 3 rows. Spark has no evictor hook, "
    "so the window fires from the watermark-aligned buffer "
    "(streaming/stateful.py streaming_evicted_window); windows still open at "
    "the final watermark stay in state, mirrored by the oracle's closure "
    "predicate.",
)
def stream_evictor_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.streaming.stateful import streaming_evicted_window

    # single-trigger ingest: emissions are watermark-determined (see
    # stream_over_running_sum); multi-batch delivery is pinned elsewhere
    s = (
        events_stream(spark, sf_dir, max_files_per_trigger=4)
        .select("user_id", "ts", "event_id", "value")
        .withWatermark("ts", "0 seconds")
    )
    out = streaming_evicted_window(
        s, "user_id", ["ts", "event_id"], "value", 86400.0, "count", n=3
    )
    return run_to_batch(out, "append").orderBy("user_id", "window_start")


@register(
    "stream_evictor_time",
    oracle=_EVICTOR_CLOSED + """,
m AS (
  SELECT *, MAX(ts) OVER (PARTITION BY user_id, window_start) AS mx
  FROM closed
)
SELECT user_id, window_start, COUNT(*) AS cnt_kept,
       CAST(SUM(val) AS DOUBLE) AS total_kept
FROM m WHERE ts >= mx - INTERVAL 30 MINUTE
GROUP BY user_id, window_start ORDER BY user_id, window_start
""",
    tags=("streaming", "window_agg", "evictor", "custom_op"),
    doc="TimeEvictor (…/api/windowing/evictors/TimeEvictor.java — keep "
    "elements within the trailing keep-interval of the window's max "
    "timestamp): 1-day windows aggregate only their last 30 minutes of "
    "rows. Same watermark-aligned fire-at-end harness as "
    "stream_evictor_count.",
)
def stream_evictor_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.streaming.stateful import streaming_evicted_window

    # single-trigger ingest: emissions are watermark-determined (see
    # stream_over_running_sum); multi-batch delivery is pinned elsewhere
    s = (
        events_stream(spark, sf_dir, max_files_per_trigger=4)
        .select("user_id", "ts", "event_id", "value")
        .withWatermark("ts", "0 seconds")
    )
    out = streaming_evicted_window(
        s, "user_id", ["ts", "event_id"], "value", 86400.0, "time", keep_seconds=1800.0
    )
    return run_to_batch(out, "append").orderBy("user_id", "window_start")


@register(
    "stream_evictor_delta",
    oracle=_EVICTOR_CLOSED + """,
l AS (
  SELECT *, LAST_VALUE(val) OVER (PARTITION BY user_id, window_start
                                  ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND UNBOUNDED FOLLOWING) AS lastv
  FROM closed
)
SELECT user_id, window_start, COUNT(*) AS cnt_kept,
       CAST(SUM(val) AS DOUBLE) AS total_kept
FROM l WHERE ABS(val - lastv) <= 200
GROUP BY user_id, window_start ORDER BY user_id, window_start
""",
    tags=("streaming", "window_agg", "evictor", "custom_op"),
    doc="DeltaEvictor (…/api/windowing/evictors/DeltaEvictor.java — evict "
    "elements whose delta against the window's last element exceeds the "
    "threshold): 1-day windows keep rows with |value − last value| ≤ 200, "
    "compared in exact cents so both engines make identical keep/drop "
    "decisions. Same fire-at-end harness.",
)
def stream_evictor_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.streaming.stateful import streaming_evicted_window

    # single-trigger ingest: emissions are watermark-determined (see
    # stream_over_running_sum); multi-batch delivery is pinned elsewhere
    s = (
        events_stream(spark, sf_dir, max_files_per_trigger=4)
        .select("user_id", "ts", "event_id", "value")
        .withWatermark("ts", "0 seconds")
    )
    out = streaming_evicted_window(
        s, "user_id", ["ts", "event_id"], "value", 86400.0, "delta", threshold=200.0
    )
    return run_to_batch(out, "append").orderBy("user_id", "window_start")


@register(
    "stream_outer_join_changelog",
    oracle="""
WITH l AS (SELECT user_id, event_id AS l_id, CAST(event_id % 4 AS INTEGER) AS e_l
           FROM events WHERE event_type = 'purchase'),
r AS (SELECT user_id, event_id AS r_id, CAST(event_id % 4 AS INTEGER) AS e_r
      FROM events WHERE event_type = 'error'),
pairs AS (SELECT l.user_id, l.l_id, r.r_id,
                 CAST(GREATEST(e_l, e_r) AS INTEGER) AS epoch
          FROM l JOIN r ON l.user_id = r.user_id),
m AS (SELECT l.user_id, l.l_id, l.e_l, MIN(r.e_r) AS first_r
      FROM l LEFT JOIN r ON l.user_id = r.user_id GROUP BY 1, 2, 3)
SELECT user_id, epoch, '+I' AS kind, l_id, r_id FROM pairs
UNION ALL
SELECT user_id, e_l AS epoch, '+I' AS kind, l_id, NULL AS r_id
FROM m WHERE first_r IS NULL OR first_r > e_l
UNION ALL
SELECT user_id, CAST(first_r AS INTEGER) AS epoch, '-D' AS kind, l_id, NULL AS r_id
FROM m WHERE first_r IS NOT NULL AND first_r > e_l
ORDER BY user_id, epoch, kind, l_id, r_id
""",
    tags=("streaming", "join", "changelog", "custom_op"),
    doc="Retraction-EMITTING unbounded LEFT OUTER stream-stream join "
    "(StreamingJoinOperator.java:38 outer path; RowKind.java:35-58): "
    "purchases left-join errors on user with no time bound — an unmatched "
    "purchase emits its null-padded row immediately, and the first later "
    "error retracts it with -D while joined pairs flow as +I, each exactly "
    "once at the later side's epoch. Replay staged by event_id % 4 "
    "(events_stream_mod) makes the whole changelog closed-form, and every "
    "epoch label is the data-borne stage — delivery-order invariant. State: "
    "Spark's stream-stream join holds both sides and emits the joined leg; "
    "the same query carries each side's (key, id, stage) rows, from which "
    "the pads are finalized at stream close "
    "(streaming/run.py run_incremental_outer_join_changelog, how=left). Closes "
    "the §2.3 'retraction-emitting variants' gap.",
)
def stream_outer_join_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.streaming.run import run_incremental_outer_join_changelog
    from flink_1_12_0_src_spark.streaming.source import events_stream_mod

    s = events_stream_mod(spark, sf_dir, with_stage=True).filter(
        F.col("event_type").isin("purchase", "error")
    )
    out = run_incremental_outer_join_changelog(
        s, side_col="event_type", left_tag="purchase",
        join_keys=["user_id"], left_id="event_id", right_id="event_id",
        how="left",
    )
    return out.select(
        "user_id", F.col("epoch").cast("int").alias("epoch"), "kind", "l_id", "r_id"
    ).orderBy("user_id", "epoch", "kind", "l_id", "r_id")


@register(
    "stream_full_outer_join_changelog",
    oracle="""
WITH l AS (SELECT user_id, event_id AS l_id, CAST(event_id % 4 AS INTEGER) AS e_l
           FROM events WHERE event_type = 'purchase'),
r AS (SELECT user_id, event_id AS r_id, CAST(event_id % 4 AS INTEGER) AS e_r
      FROM events WHERE event_type = 'error'),
pairs AS (SELECT l.user_id, l.l_id, r.r_id,
                 CAST(GREATEST(e_l, e_r) AS INTEGER) AS epoch
          FROM l JOIN r ON l.user_id = r.user_id),
ml AS (SELECT l.user_id, l.l_id, l.e_l, MIN(r.e_r) AS first_r
       FROM l LEFT JOIN r ON l.user_id = r.user_id GROUP BY 1, 2, 3),
mr AS (SELECT r.user_id, r.r_id, r.e_r, MIN(l.e_l) AS first_l
       FROM r LEFT JOIN l ON l.user_id = r.user_id GROUP BY 1, 2, 3)
SELECT user_id, epoch, '+I' AS kind, l_id, r_id FROM pairs
UNION ALL
SELECT user_id, e_l AS epoch, '+I' AS kind, l_id, NULL AS r_id
FROM ml WHERE first_r IS NULL OR first_r > e_l
UNION ALL
SELECT user_id, CAST(first_r AS INTEGER) AS epoch, '-D' AS kind, l_id, NULL AS r_id
FROM ml WHERE first_r IS NOT NULL AND first_r > e_l
UNION ALL
SELECT user_id, e_r AS epoch, '+I' AS kind, NULL AS l_id, r_id
FROM mr WHERE first_l IS NULL OR first_l > e_r
UNION ALL
SELECT user_id, CAST(first_l AS INTEGER) AS epoch, '-D' AS kind, NULL AS l_id, r_id
FROM mr WHERE first_l IS NOT NULL AND first_l > e_r
ORDER BY user_id, epoch, kind, l_id, r_id
""",
    tags=("streaming", "join", "changelog", "custom_op"),
    doc="Retraction-emitting unbounded FULL OUTER stream-stream join "
    "(StreamingJoinOperator.java:38, both outer paths live at once): both "
    "sides pad immediately when unmatched, each side's first later match "
    "retracts the opposite pad with -D, joined pairs flow +I exactly once "
    "at the later epoch. Same one-query state, both sides padded "
    "(run_incremental_outer_join_changelog, how='full').",
)
def stream_full_outer_join_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.streaming.run import run_incremental_outer_join_changelog
    from flink_1_12_0_src_spark.streaming.source import events_stream_mod

    s = events_stream_mod(spark, sf_dir, with_stage=True).filter(
        F.col("event_type").isin("purchase", "error")
    )
    out = run_incremental_outer_join_changelog(
        s, side_col="event_type", left_tag="purchase",
        join_keys=["user_id"], left_id="event_id", right_id="event_id",
        how="full",
    )
    return out.select(
        "user_id", F.col("epoch").cast("int").alias("epoch"), "kind", "l_id", "r_id"
    ).orderBy("user_id", "epoch", "kind", "l_id", "r_id")


@register(
    "stream_right_outer_join_changelog",
    oracle="""
WITH l AS (SELECT user_id, event_id AS l_id, CAST(event_id % 4 AS INTEGER) AS e_l
           FROM events WHERE event_type = 'purchase'),
r AS (SELECT user_id, event_id AS r_id, CAST(event_id % 4 AS INTEGER) AS e_r
      FROM events WHERE event_type = 'error'),
pairs AS (SELECT l.user_id, l.l_id, r.r_id,
                 CAST(GREATEST(e_l, e_r) AS INTEGER) AS epoch
          FROM l JOIN r ON l.user_id = r.user_id),
mr AS (SELECT r.user_id, r.r_id, r.e_r, MIN(l.e_l) AS first_l
       FROM r LEFT JOIN l ON l.user_id = r.user_id GROUP BY 1, 2, 3)
SELECT user_id, epoch, '+I' AS kind, l_id, r_id FROM pairs
UNION ALL
SELECT user_id, e_r AS epoch, '+I' AS kind, NULL AS l_id, r_id
FROM mr WHERE first_l IS NULL OR first_l > e_r
UNION ALL
SELECT user_id, CAST(first_l AS INTEGER) AS epoch, '-D' AS kind, NULL AS l_id, r_id
FROM mr WHERE first_l IS NOT NULL AND first_l > e_r
ORDER BY user_id, epoch, kind, l_id, r_id
""",
    tags=("streaming", "join", "changelog", "custom_op"),
    doc="Retraction-emitting unbounded RIGHT OUTER stream-stream join "
    "(StreamingJoinOperator.java:38, right-preserved path): errors pad "
    "immediately when no purchase matched yet; the first later purchase "
    "retracts the pad. Completes the left/right/full mode set of "
    "run_incremental_outer_join_changelog, one query over Spark's "
    "stream-stream join state (inner: stream_unbounded_join).",
)
def stream_right_outer_join_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.streaming.run import run_incremental_outer_join_changelog
    from flink_1_12_0_src_spark.streaming.source import events_stream_mod

    s = events_stream_mod(spark, sf_dir, with_stage=True).filter(
        F.col("event_type").isin("purchase", "error")
    )
    out = run_incremental_outer_join_changelog(
        s, side_col="event_type", left_tag="purchase",
        join_keys=["user_id"], left_id="event_id", right_id="event_id",
        how="right",
    )
    return out.select(
        "user_id", F.col("epoch").cast("int").alias("epoch"), "kind", "l_id", "r_id"
    ).orderBy("user_id", "epoch", "kind", "l_id", "r_id")


@register(
    "stream_match_agg_define",
    oracle="""
WITH RECURSIVE o AS (
  SELECT user_id, ts, event_id,
         CAST(round(CAST(value AS DOUBLE) * 100) AS BIGINT) AS cents,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events),
led AS (
  SELECT user_id, rn, ts AS t1, cents AS c1,
         LEAD(cents, 1) OVER w AS c2, LEAD(cents, 2) OVER w AS c3,
         LEAD(cents, 3) OVER w AS c4,
         LEAD(ts, 1) OVER w AS t2, LEAD(ts, 2) OVER w AS t3,
         LEAD(ts, 3) OVER w AS t4
  FROM o WINDOW w AS (PARTITION BY user_id ORDER BY rn)),
runs AS (
  SELECT user_id, rn AS s, t1, c1, c2, c3, c4, t2, t3, t4,
         CASE WHEN c1 >= 5000 THEN 0
              WHEN c2 IS NULL OR c1 + c2 >= 10000
                   OR t2 > t1 + INTERVAL 7 DAY THEN 1
              WHEN c3 IS NULL OR c1 + c2 + c3 >= 15000
                   OR t3 > t1 + INTERVAL 7 DAY THEN 2
              ELSE 3 END AS maxrun
  FROM led),
cand AS (
  SELECT user_id, s, t1, c1, c2, c3, c4,
         CASE WHEN maxrun = 0 THEN NULL
              WHEN maxrun >= 3 AND c4 IS NOT NULL AND c4 >= 5000
                   AND t4 <= t1 + INTERVAL 7 DAY THEN 3
              WHEN maxrun >= 2 AND c3 IS NOT NULL AND c3 >= 5000
                   AND t3 <= t1 + INTERVAL 7 DAY THEN 2
              WHEN maxrun >= 1 AND c2 IS NOT NULL AND c2 >= 5000
                   AND t2 <= t1 + INTERVAL 7 DAY THEN 1
              ELSE NULL END AS l
  FROM runs),
sel(user_id, s, l) AS (
  SELECT user_id, s, l FROM (
    SELECT user_id, s, l, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY s) AS rk
    FROM cand WHERE l IS NOT NULL) WHERE rk = 1
  UNION ALL
  SELECT nxt.user_id, nxt.s, nxt.l FROM sel
  JOIN LATERAL (SELECT user_id, s, l FROM cand c
                WHERE c.user_id = sel.user_id AND c.l IS NOT NULL
                  AND c.s > sel.s + sel.l
                ORDER BY s LIMIT 1) nxt ON true)
SELECT sel.user_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY sel.user_id ORDER BY sel.s) - 1
            AS INTEGER) AS match_seq,
       CAST(sel.l AS BIGINT) AS n_a,
       CAST(c.c1 + CASE WHEN sel.l >= 2 THEN c.c2 ELSE 0 END
                 + CASE WHEN sel.l >= 3 THEN c.c3 ELSE 0 END AS BIGINT) AS sum_a,
       CAST(CASE sel.l WHEN 1 THEN c.c2 WHEN 2 THEN c.c3 ELSE c.c4 END
            AS BIGINT) AS b_cents
FROM sel JOIN cand c ON c.user_id = sel.user_id AND c.s = sel.s
WHERE c.t1 <= make_timestamp(CAST(floor(epoch_us((SELECT MAX(ts) FROM events))
                                        / 1000) * 1000 AS BIGINT))
              - INTERVAL 1 HOUR - INTERVAL 7 DAY
ORDER BY sel.user_id, match_seq
""",
    tags=("streaming", "cep", "stateful", "agg_define", "custom_op"),
    doc="Streaming MATCH_RECOGNIZE with a RUNNING-AGGREGATE DEFINE "
    "(StreamExecMatch + MatchRecognizeITCase testAggregates, composed): "
    "PATTERN (A{1,3} B) WITHIN 7 days, A AS AVG(A.cents) < 5000, over the "
    "watermarked stream — the NFA re-checks the running average at every "
    "append inside the watermark-finalized prefix scan; a match emits only "
    "when the watermark passes start+within (provably final). Oracle: the "
    "batch jump-CTE bound by the within window on every append AND the "
    "final-watermark emission cutoff (start <= max_ts(ms-trunc) - 1h - 7d).",
)
def stream_match_agg_define(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.plans.matchrec import parse_match_recognize
    from flink_1_12_0_src_spark.streaming.cep import streaming_match_recognize

    kwargs = parse_match_recognize(
        """
        MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts, event_id
          MEASURES COUNT(A.cents) AS n_a, SUM(A.cents) AS sum_a,
                   LAST(B.cents) AS b_cents
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (A{1,3} B)
          WITHIN INTERVAL '7' DAY
          DEFINE A AS AVG(A.cents) < 5000, B AS B.cents >= 5000
        )
        """
    )
    s = (
        events_stream(spark, sf_dir, max_files_per_trigger=4)
        .withWatermark("ts", "1 hour")
        .select(
            "user_id",
            "ts",
            "event_id",
            F.round(F.col("value").cast("double") * 100).cast("bigint").alias("cents"),
        )
    )
    out = streaming_match_recognize(
        s,
        key="user_id",
        order_by=["ts", "event_id"],
        pattern=kwargs["pattern"],
        measures=kwargs["measures"],
        measure_types={"n_a": "long", "sum_a": "long", "b_cents": "long"},
        time_col="ts",
        buffer_cols={"ts": "ts", "event_id": "long", "cents": "long"},
        after_match=kwargs["after_match"],
    )
    return run_to_batch(out, "append").orderBy("user_id", "match_seq")


from flink_1_12_0_src_spark.queries.custom_ops import (
    DAILY_ANOMALY_ORACLE,
    FUNNEL_ORACLE,
    PCT_APPROX_ORACLE,
    RETENTION_ORACLE,
)
from flink_1_12_0_src_spark.queries.pipelineq import (
    BLOOM_FILTER_ONLY_ORACLE,
    BLOOM_MEMBERSHIP_ORACLE,
    DOREMI_ORACLE,
    HEAVY_HITTERS_CMS_ORACLE,
    SOFT_CMS_ORACLE,
    SOFT_DEDUP_ORACLE,
    CONTAINMENT_PRUNE_ORACLE,
    CONTAMINATION_MATRIX_ORACLE,
    INCREMENTAL_ADMIT_ORACLE,
    LANGID_CONFUSION_ORACLE,
    QUALITY_EVAL_ORACLE,
    SUBSTRING_REWRITE_ORACLE,
    URL_DEDUP_ORACLE,
    NEARDEDUP_KEEPFIRST_ORACLE,
    PACK_EFFICIENCY_ORACLE,
    SOURCE_DIVERSITY_ORACLE,
    SOURCE_MIX_ORACLE,
    TEXT_QUALITY_ORACLE,
    ZIPF_ORACLE,
)


@register(
    "stream_text_quality",
    oracle=TEXT_QUALITY_ORACLE,
    tags=("streaming", "pipeline", "text"),
    doc="Text-pipeline-on-a-stream: the heuristic quality scorer (pure JVM "
    "expressions, pipeline.text.quality_score) applied to a streaming "
    "documents source in append mode — the continuous-ingest shape of the "
    "corpus filter (stateless per-row transforms run unchanged on batch and "
    "stream; the result set is delivery-order invariant by construction).",
)
def stream_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.text import quality_score
    from flink_1_12_0_src_spark.streaming.source import documents_stream

    s = documents_stream(spark, sf_dir, n_files=4, max_files_per_trigger=4)
    out = quality_score(s, "doc_id", "text")
    return run_to_batch(out, "append").orderBy("doc_id")


@register(
    "stream_ooo_delta_trigger",
    oracle=f"""
WITH RECURSIVE f AS (SELECT * FROM events WHERE {_OOO_WHERE}),
o AS (
  SELECT user_id, ts, event_id, CAST(round(CAST(value AS DOUBLE) * 100) AS BIGINT) AS cents,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM f),
emit(user_id, rn, cents) AS (
  SELECT user_id, rn, cents FROM o WHERE rn = 1
  UNION ALL
  SELECT e.user_id, nxt.rn, nxt.cents
  FROM emit e
  JOIN LATERAL (SELECT rn, cents FROM o
                WHERE o.user_id = e.user_id AND o.rn > e.rn
                  AND abs(o.cents - e.cents) >= 4000
                ORDER BY rn LIMIT 1) nxt ON true
)
SELECT o.user_id, o.ts, o.event_id, CAST(o.cents / 100.0 AS DOUBLE) AS value
FROM emit JOIN o ON o.user_id = emit.user_id AND o.rn = emit.rn
ORDER BY o.user_id, o.ts, o.event_id
""",
    tags=("streaming", "trigger", "stateful", "custom_op", "out_of_order"),
    doc="Delta trigger under out-of-order delivery (weeks replayed 1,3,2,4): "
    "the fire chain is a strictly sequential recurrence (each decision "
    "depends on the previous fired element), so the watermark buffer MUST "
    "reorder late rows before the kernel sees them — the emitted set over "
    "the finalized region equals the in-order chain, the strongest "
    "delivery-order-invariance check the trigger family has.",
)
def stream_ooo_delta_trigger(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _ooo_stream(spark, sf_dir, ["user_id", "ts", "event_id", "value"])
    out = streaming_delta_trigger(
        s, key="user_id", order_cols=["ts", "event_id"], value_col="value",
        delta_cents=4000,
    )
    # the watermark buffer releases only finalized rows, so the emitted set
    # already covers exactly the _OOO_WHERE region — no batch-side filter
    return run_to_batch(out, "append").orderBy("user_id", "ts", "event_id")


@register(
    "stream_clean_corpus",
    oracle=f"""
WITH q AS (
  SELECT doc_id, text,
         len(string_split(lower(text), ' ')) AS n_words,
         round(least(len(string_split(lower(text), ' ')) / 50.0, 1.0) * 0.4
               + (1 - least(round(len(regexp_extract_all(text, '[^a-zA-Z0-9 \\t\\n]'))
                                  / length(text), 6) * 5, 1.0)) * 0.3
               + least(round(len(list_intersect(string_split(lower(text), ' '),
                                                {{EN}}))
                             / len(string_split(lower(text), ' ')), 6) * 10, 1.0) * 0.3,
               6) AS quality
  FROM (SELECT doc_id, regexp_replace(text, '\\s+', ' ', 'g') AS text
        FROM documents WHERE doc_id % 41 <> 0 AND lang = 'en')
),
cand AS (SELECT * FROM q WHERE quality >= 0.5),
d AS (
  SELECT md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS content_hash,
         MIN(text) AS text, MIN(n_words) AS n_words, MIN(quality) AS quality
  FROM cand GROUP BY 1
),
toks AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
grams AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(0, len(w)-3),
                               g -> array_to_string(w[g+1:g+3], ' '))) AS sh
  FROM toks WHERE len(w) >= 3
),
bench AS (SELECT DISTINCT sh FROM grams WHERE doc_id % 41 = 0),
dg AS (
  SELECT d.content_hash,
         unnest(list_transform(generate_series(0, len(string_split(lower(d.text), ' '))-3),
                               g -> array_to_string(string_split(lower(d.text), ' ')[g+1:g+3], ' '))) AS sh
  FROM d
)
SELECT d.content_hash, CAST(d.n_words AS INTEGER) AS n_words, d.quality
FROM d
WHERE NOT EXISTS (SELECT 1 FROM dg JOIN bench USING (sh)
                  WHERE dg.content_hash = d.content_hash)
ORDER BY d.content_hash
""".replace("{EN}", repr(__import__("flink_1_12_0_src_spark.pipeline.text", fromlist=["LANG_MARKERS"]).LANG_MARKERS["en"])),
    tags=("streaming", "pipeline", "text", "dedup", "composed"),
    doc="The clean-corpus flagship running CONTINUOUSLY: streamed documents "
    "→ stateless quality filter → streaming exact-dedup keep-first on the "
    "content hash (dropDuplicates keyed state) → benchmark 3-gram "
    "decontamination as a row-local overlap test against the eval-suite-"
    "sized gram set shipped inside the plan (the streaming analog of the "
    "broadcast anti-semi-join). Output keyed by content hash, "
    "so the emitted set is delivery-order invariant even though the "
    "keep-first SURVIVOR id is arrival-dependent — the same curation "
    "pipeline, batch or continuous ingest.",
)
def stream_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.catalog import table
    from flink_1_12_0_src_spark.pipeline.text import quality_score, shingles
    from flink_1_12_0_src_spark.streaming.source import documents_stream

    docs = table(spark, sf_dir, "documents")
    # the benchmark gram set is eval-suite-sized by definition — collect and
    # ship it inside the plan (the streaming analog of the broadcast
    # anti-semi-join; a second stream branch would be a stream-stream anti
    # join, which Structured Streaming rejects)
    bench_grams = sorted(
        r["sh"]
        for r in docs.filter(F.col("doc_id") % 41 == 0)
        .select(F.explode(shingles("text", 3)).alias("sh"))
        .distinct()
        .collect()
    )
    s = documents_stream(spark, sf_dir, n_files=4, max_files_per_trigger=4)
    # Whitespace-normalize FIRST (row-local projection): every downstream
    # value — n_words, quality, the 3-gram overlap — is then a pure function
    # of the content hash's preimage, so rows colliding on the hash carry
    # identical payloads and the streamed keep-first output cannot depend on
    # arrival order (the r05 advisor finding: raw-text n_words/quality made
    # the survivor's values arrival-dependent under hash collisions).
    s = s.withColumn("text", F.regexp_replace(F.col("text"), r"\s+", " "))
    scored = quality_score(
        s.filter((F.col("doc_id") % 41 != 0) & (F.col("lang") == "en")),
        "doc_id",
        "text",
        keep=["text"],
    )
    cand = scored.filter(F.col("quality") >= 0.5)
    h = F.md5(F.lower(F.regexp_replace(F.col("text"), r"\s+", " ")))
    dedup = cand.withColumn("content_hash", h).dropDuplicates(["content_hash"])
    clean = dedup.filter(
        ~F.arrays_overlap(F.array_distinct(shingles("text", 3)), F.lit(bench_grams))
    ).select("content_hash", F.col("n_words").cast("int").alias("n_words"), "quality")
    return run_to_batch(clean, "append").orderBy("content_hash")




@register(
    "stream_daily_anomaly",
    oracle=DAILY_ANOMALY_ORACLE,
    tags=("streaming", "analytics"),
    doc="Analytics-on-a-stream: the per-(type, day) event counts of "
    "events_daily_anomaly maintained INCREMENTALLY by a streaming grouped "
    "aggregate (the production shape — counts update as events arrive), "
    "with the z-score audit (operators/analytics.py zscore_report) applied "
    "to the final snapshot. The snapshot is a pure function of the data "
    "regardless of micro-batch boundaries, so the report equals the batch "
    "operator's exactly. Scale: streaming state is |types| x |days| "
    "counters; the audit window runs over that tiny table only.",
)
def stream_daily_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.operators.analytics import zscore_report

    s = events_stream(spark, sf_dir, max_files_per_trigger=4).select(
        "event_type", F.to_date("ts").alias("day")
    )
    daily = s.groupBy("event_type", "day").agg(F.count(F.lit(1)).alias("n_events"))
    snap = run_to_batch(daily, "complete")
    return zscore_report(snap).orderBy("event_type", "day")


@register(
    "stream_wordcount_zipf",
    oracle=ZIPF_ORACLE,
    tags=("streaming", "text"),
    doc="Streaming WordCount — THE reference flagship example "
    "(flink-examples/flink-examples-streaming/.../wordcount/WordCount.java) "
    "— as a continuously-maintained vocabulary dashboard: per-token counts "
    "updated by a streaming grouped aggregate as documents arrive, the Zipf "
    "head/rank report (pipeline/text.py zipf_head_from_counts) applied to "
    "the final snapshot. The snapshot count table is a pure function of the "
    "data, so the head equals text_zipf_rank_report exactly. Scale: "
    "streaming state is one counter per distinct token (vocabulary-sized); "
    "the report is TakeOrderedAndProject over the snapshot — the vocabulary "
    "is never globally sorted.",
)
def stream_wordcount_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.text import tokens, zipf_head_from_counts
    from flink_1_12_0_src_spark.streaming.source import documents_stream

    s = documents_stream(spark, sf_dir, n_files=4, max_files_per_trigger=4)
    toks = s.select(F.explode(tokens("text")).alias("token")).filter(
        F.col("token") != ""
    )
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
    snap = run_to_batch(counts, "complete")
    return zipf_head_from_counts(snap, 50).withColumnRenamed("rank", "zipf_rank")


@register(
    "stream_pack_efficiency",
    oracle=PACK_EFFICIENCY_ORACLE,
    tags=("streaming", "sampling"),
    doc="Analytics-on-a-stream: the packing-efficiency audit of "
    "dataset_pack_efficiency continuously maintained — per (lang stream, "
    "writer shard) doc/token volume counters updated by a streaming grouped "
    "aggregate as documents arrive (the live pack-writer dashboard), the "
    "fill/pack derivation (pipeline/sampling.py pack_fill_from_volumes) "
    "applied to the final snapshot. Pack count and fill fraction are pure "
    "functions of the volumes, so the report equals the batch operator's "
    "exactly regardless of micro-batch boundaries. Scale: state is "
    "|streams| x |shards| counters.",
)
def stream_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.sampling import (
        _salted_hash,
        pack_fill_from_volumes,
    )
    from flink_1_12_0_src_spark.queries.pipelineq import PACK_BUDGET
    from flink_1_12_0_src_spark.streaming.source import documents_stream

    s = documents_stream(spark, sf_dir, n_files=4, max_files_per_trigger=4)
    h = _salted_hash("doc_id", 77)
    rows = s.select(
        "lang",
        F.conv(F.substring(h, 1, 1), 16, 10).cast("int").alias("shard_id"),
        F.size(F.split(F.col("text"), " ")).alias("nt"),
    )
    g = rows.groupBy("lang", "shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("nt").cast("bigint").alias("total_tokens"),
    )
    snap = run_to_batch(g, "complete")
    return pack_fill_from_volumes(snap, ["lang", "shard_id"], PACK_BUDGET).orderBy(
        "lang", "shard_id"
    )


@register(
    "stream_source_mix",
    oracle=SOURCE_MIX_ORACLE,
    tags=("streaming", "analytics"),
    doc="Analytics-on-a-stream: the per-source mix accounting of "
    "dataset_source_mix_report continuously maintained — streaming state is "
    "one (source, lang) row of doc/char/token counters updated as documents "
    "arrive (the live ingest dashboard a curator watches), the share rollup "
    "(pipeline/sampling.py source_mix_from_lang_groups) applied to the "
    "final snapshot. n_langs is an exact COUNT(*) over the (source, lang) "
    "snapshot rows, every other statistic a sum of sums, so the report "
    "equals the batch operator's exactly regardless of micro-batch "
    "boundaries. Scale: state is |sources| x |langs| counters.",
)
def stream_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.sampling import source_mix_from_lang_groups
    from flink_1_12_0_src_spark.pipeline.text import tokens
    from flink_1_12_0_src_spark.streaming.source import documents_stream

    s = documents_stream(spark, sf_dir, n_files=4, max_files_per_trigger=4)
    g = s.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(F.size(tokens("text")).cast("bigint")).alias("total_tokens"),
    )
    snap = run_to_batch(g, "complete")
    return source_mix_from_lang_groups(snap).orderBy("source")


@register(
    "stream_source_diversity",
    oracle=SOURCE_DIVERSITY_ORACLE,
    tags=("streaming", "analytics"),
    doc="Analytics-on-a-stream: the per-language source-diversity audit of "
    "text_source_diversity continuously maintained — streaming state is one "
    "(lang, source) doc counter updated as documents arrive, the entropy / "
    "effective-sources / top-share report (pipeline/sampling.py "
    "source_diversity_from_counts) applied to the final snapshot. The "
    "snapshot is the exact count table (a pure function of the data "
    "regardless of micro-batch boundaries), so the report equals the batch "
    "audit's exactly — the live 'is the mix collapsing onto one domain' "
    "dashboard. Scale: state is |langs| x |sources| counters.",
)
def stream_source_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.sampling import source_diversity_from_counts
    from flink_1_12_0_src_spark.streaming.source import documents_stream

    s = documents_stream(spark, sf_dir, n_files=4, max_files_per_trigger=4)
    g = s.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("c"))
    snap = run_to_batch(g, "complete")
    return source_diversity_from_counts(snap, "lang").orderBy("lang")


@register(
    "stream_bloom_membership",
    oracle=BLOOM_MEMBERSHIP_ORACLE,
    tags=("streaming", "pipeline", "dedup"),
    doc="Bloom-filter-on-a-stream — the 15th streaming twin, and the "
    "MERGEABLE-SKETCH state class (vs the counter/MIN classes): the "
    "partitioned Bloom filter of dedup_bloom_membership is a SET-UNION "
    "sketch — its state (distinct slice-bit rows + the exact hash set, "
    "pipeline/dedup.py bloom_state_rows) merges associatively, so a "
    "streaming grouped aggregate maintains the filter incrementally as "
    "corpus documents arrive, and the shared probe tail "
    "(bloom_membership_from_state — per-slice broadcast joins, exact-set "
    "check) runs the static probe half against the final snapshot. "
    "Union is order- and batching-insensitive, so the membership report "
    "equals the batch operator exactly under any delivery schedule; "
    "shares ONE oracle constant with the batch half. Scale: state is "
    "<= n_slices*256 bit rows + the exact hash set (the part a production "
    "deployment would drop, keeping only the constant-size filter).",
)
def stream_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.catalog import table
    from flink_1_12_0_src_spark.pipeline.dedup import (
        bloom_membership_from_state,
        bloom_state_rows,
    )
    from flink_1_12_0_src_spark.streaming.source import documents_stream

    s = documents_stream(spark, sf_dir, n_files=4, max_files_per_trigger=4).filter(F.col("doc_id") % 2 == 0)
    g = bloom_state_rows(s, "text", 4, 2).groupBy("i", "v").agg(
        F.count(F.lit(1)).alias("n")
    )
    snap = run_to_batch(g, "complete").select("i", "v")
    probes = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 1)
    return bloom_membership_from_state(snap, probes, "doc_id", "text", 4, 2).orderBy(
        "doc_id"
    )


@register(
    "stream_doremi_weights",
    oracle=DOREMI_ORACLE,
    tags=("streaming", "pipeline", "sampling", "iterative"),
    doc="DoReMi-on-a-stream — the 16th streaming twin, and the first of "
    "the ITERATIVE-TRAINING-ON-MAINTAINED-STATE shape: the trainer's "
    "complete sufficient-statistic set ((domain, term) counts, (domain, "
    "bigram) counts, per-domain doc counts — pipeline/sampling.py "
    "doremi_state_rows, derived ROW-LOCALLY inside the streaming scan) is "
    "maintained incrementally by ONE streaming grouped aggregate, and the "
    "shared loss + exponentiated-gradient tail "
    "(doremi_weights_from_counts) re-trains the mixture from the final "
    "snapshot — continuous mixture re-weighting as data arrives, the "
    "production loop where domain weights refresh per ingest window "
    "without a corpus re-scan. Counts over the (kind, domain, k1, k2) "
    "keys are order- and batching-insensitive, so the trained weights "
    "equal the batch trainer's exactly under any delivery schedule; "
    "shares DOREMI_ORACLE with the batch half, batch-equality + boundary/"
    "scramble invariance pinned.",
)
def stream_doremi_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.sampling import (
        doremi_counts_from_state,
        doremi_state_rows,
        doremi_weights_from_counts,
    )
    from flink_1_12_0_src_spark.queries.pipelineq import (
        DOREMI_ETA,
        DOREMI_ROUNDS,
        DOREMI_SMOOTH,
    )
    from flink_1_12_0_src_spark.streaming.source import documents_stream

    s = documents_stream(spark, sf_dir, n_files=4, max_files_per_trigger=4)
    g = doremi_state_rows(s, "text", "source").groupBy(
        "kind", "domain", "k1", "k2"
    ).agg(F.count(F.lit(1)).alias("n"))
    snap = run_to_batch(g, "complete")
    dterm, dbg, nd = doremi_counts_from_state(snap)
    return doremi_weights_from_counts(
        dterm, dbg, nd, rounds=DOREMI_ROUNDS, eta=DOREMI_ETA, smoothing=DOREMI_SMOOTH
    ).orderBy("domain")


@register(
    "stream_soft_weights",
    oracle=SOFT_DEDUP_ORACLE,
    tags=("streaming", "pipeline", "dedup", "sampling"),
    doc="SoftDeDup-on-a-stream — the 18th streaming twin: the per-document "
    "(doc, gram) count relation of dedup_soft_weights (grams derive "
    "ROW-LOCALLY inside the streaming scan via the shared shingles "
    "expression) is maintained incrementally by a streaming grouped "
    "aggregate — the corpus gram frequencies, the total, and every "
    "training weight derive from that snapshot by rollup, so it is the "
    "complete sufficient statistic — and the shared reweighting tail "
    "(soft_dedup_weights_from_grams) re-prices the whole corpus's "
    "sampling weights from the final snapshot: continuous "
    "duplication-aware reweighting as documents arrive, the soft "
    "counterpart of the keep-first admission twins. Counts are order- "
    "and batching-insensitive, so the weights equal the batch operator "
    "exactly under any delivery schedule; shares SOFT_DEDUP_ORACLE with "
    "the batch half, batch-equality + boundary/scramble invariance "
    "pinned.",
)
def stream_soft_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.dedup import soft_dedup_weights_from_grams
    from flink_1_12_0_src_spark.pipeline.text import shingles
    from flink_1_12_0_src_spark.queries.pipelineq import SOFT_K
    from flink_1_12_0_src_spark.streaming.source import documents_stream

    s = documents_stream(spark, sf_dir, n_files=4, max_files_per_trigger=4)
    g = (
        s.select(F.col("doc_id"), F.explode(shingles("text", SOFT_K)).alias("sh"))
        .groupBy("doc_id", "sh")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    snap = (
        run_to_batch(g, "complete")
        .select("doc_id", "sh", F.col("n").cast("decimal(15,0)").alias("n"))
    )
    return soft_dedup_weights_from_grams(snap, "doc_id").orderBy("doc_id")


@register(
    "stream_heavy_hitters_cms",
    oracle=HEAVY_HITTERS_CMS_ORACLE,
    tags=("streaming", "pipeline", "text", "dedup"),
    doc="Count-Min-sketch-on-a-stream — the 17th streaming twin, second "
    "member of the mergeable-sketch state class: the CONSTANT-SIZE "
    "(slices x 256 counters, regardless of corpus size) Count-Min sketch "
    "of text_heavy_hitters_cms is maintained incrementally by a "
    "streaming grouped aggregate over row-local (i, v) slice rows "
    "(pipeline/dedup.py cms_state_rows — counter ADDITION merges "
    "associatively), and the shared contract tail (cms_topk_contract) "
    "re-estimates the static exact top-k phrases from the final "
    "snapshot — the live 'which boilerplate is flooding ingest' monitor "
    "with production-grade constant state, the frequency sibling of "
    "stream_bloom_filter_only. Counter sums are order- and "
    "batching-insensitive, so the contract equals the batch row exactly; "
    "shares HEAVY_HITTERS_CMS_ORACLE with the batch half.",
)
def stream_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.catalog import table
    from flink_1_12_0_src_spark.pipeline.dedup import (
        cms_state_rows,
        cms_topk_contract,
    )
    from flink_1_12_0_src_spark.pipeline.text import shingles
    from flink_1_12_0_src_spark.queries.pipelineq import (
        CMS_HEX,
        CMS_K,
        CMS_SLICES,
        CMS_TOPK,
    )
    from flink_1_12_0_src_spark.streaming.source import documents_stream

    s = documents_stream(spark, sf_dir, n_files=4, max_files_per_trigger=4)
    g = cms_state_rows(s, "text", CMS_K, CMS_SLICES, CMS_HEX).groupBy("i", "v").agg(
        F.count(F.lit(1)).alias("n")
    )
    snap = run_to_batch(g, "complete")
    grams = table(spark, sf_dir, "documents").select(
        F.explode(shingles("text", CMS_K)).alias("sh")
    )
    return cms_topk_contract(
        snap, grams, "sh", CMS_TOPK, CMS_SLICES, CMS_HEX
    ).orderBy("rank")


@register(
    "stream_bloom_filter_only",
    oracle=BLOOM_FILTER_ONLY_ORACLE,
    tags=("streaming", "pipeline", "dedup"),
    doc="PRODUCTION Bloom deployment — stream_bloom_membership's docstring "
    "says a deployment drops the exact md5 set and keeps only the "
    "constant-size filter; this row makes that claim executable: the "
    "streaming grouped aggregate maintains ONLY the slice-bit rows "
    "(state <= 4*256 rows REGARDLESS of corpus size — the i >= 0 half of "
    "pipeline/dedup.py bloom_state_rows, filtered inside the streaming "
    "scan), and the snapshot report (bloom_filter_report) emits per-slice "
    "set-bit counts, load factors, and the CLOSED-FORM expected "
    "false-positive rate Pi load_i via an exact integer product — what a "
    "deployment monitors instead of per-probe ground truth (which needs "
    "the exact set it just dropped). Pinned against the exact twin's "
    "measured FP rate in tests/test_streaming_analytics.py. Union state "
    "is order- and batching-insensitive, so the report is exact under "
    "any delivery schedule.",
)
def stream_bloom_filter_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.dedup import (
        bloom_filter_report,
        bloom_state_rows,
    )
    from flink_1_12_0_src_spark.streaming.source import documents_stream

    s = documents_stream(spark, sf_dir, n_files=4, max_files_per_trigger=4).filter(F.col("doc_id") % 2 == 0)
    g = (
        bloom_state_rows(s, "text", 4, 2)
        .filter(F.col("i") >= 0)
        .groupBy("i", "v")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    snap = run_to_batch(g, "complete").select("i", "v")
    return bloom_filter_report(snap, 4, 2).orderBy("slice")


@register(
    "stream_containment_prune",
    oracle=CONTAINMENT_PRUNE_ORACLE,
    tags=("streaming", "pipeline", "dedup"),
    doc="Containment-prune-on-a-stream — the 14th streaming twin: the "
    "distinct (doc, block, shingle) GRAM SET of dedup_containment_prune "
    "(derived ROW-LOCALLY inside the streaming scan via gram_rows) is "
    "maintained incrementally by a streaming grouped aggregate, and the "
    "shared keep-superset policy/ledger tail "
    "(containment_prune_from_grams — hot-shingle df cap, block-bounded "
    "intersect join, integer-exact drop decisions) runs on the final "
    "snapshot against the static documents relation. The gram set is a "
    "pure function of the corpus (COUNT over the triple keys is order- "
    "and batching-insensitive) and the df cap applies to the FINAL set, "
    "so the ledger equals the batch operator exactly under any delivery "
    "schedule; shares ONE oracle constant with the batch half.",
)
def stream_containment_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.catalog import table
    from flink_1_12_0_src_spark.pipeline.dedup import (
        containment_prune_from_grams,
        gram_rows,
    )
    from flink_1_12_0_src_spark.queries.pipelineq import (
        CONTAIN_DEN,
        CONTAIN_NUM,
        NJ_MAX_DF,
        NJ_SHINGLE_K,
    )
    from flink_1_12_0_src_spark.streaming.source import documents_stream

    s = documents_stream(spark, sf_dir, n_files=4, max_files_per_trigger=4)
    g = (
        gram_rows(s, "doc_id", "text", "lang", NJ_SHINGLE_K)
        .groupBy("doc_id", "blk", "sh")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    snap = run_to_batch(g, "complete").select("doc_id", "blk", "sh")
    return containment_prune_from_grams(
        snap,
        table(spark, sf_dir, "documents"),
        "doc_id",
        "source",
        CONTAIN_NUM,
        CONTAIN_DEN,
        NJ_MAX_DF,
    ).orderBy("source")


@register(
    "stream_substring_rewrite",
    oracle=SUBSTRING_REWRITE_ORACLE,
    tags=("streaming", "pipeline", "dedup"),
    doc="ExactSubstr-rewrite-on-a-stream — the 13th streaming twin: the "
    "window OCCURRENCE SET of dedup_substring_rewrite ((doc, pos, "
    "window-hash) triples, derived ROW-LOCALLY inside the streaming scan "
    "via window_occurrences) is maintained incrementally by a streaming "
    "grouped aggregate (the distinct-triple-set pattern of "
    "stream_retention_cohorts — the occurrence set is the MINIMAL exact "
    "state for keeper election, since a late-arriving lower-(doc,pos) "
    "occurrence can retroactively re-elect any hash's keeper), and the "
    "shared keeper/removal/reassembly tail "
    "(substring_rewrite_from_occurrences) runs on the final snapshot "
    "against the static documents relation. The occurrence set is a pure "
    "function of the corpus — COUNT over (doc,pos,gh) keys is order- and "
    "batching-insensitive — so the rewrite equals the batch operator "
    "exactly under any delivery schedule; shares ONE oracle constant "
    "with the batch half.",
)
def stream_substring_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F  # noqa: F811

    from flink_1_12_0_src_spark.catalog import table
    from flink_1_12_0_src_spark.pipeline.dedup import (
        substring_rewrite_from_occurrences,
        window_occurrences,
    )
    from flink_1_12_0_src_spark.pipeline.text import tokens
    from flink_1_12_0_src_spark.queries.pipelineq import SPAN_WINDOW
    from flink_1_12_0_src_spark.streaming.source import documents_stream

    s = documents_stream(spark, sf_dir, n_files=4, max_files_per_trigger=4)
    occ = window_occurrences(s, "doc_id", "text", SPAN_WINDOW)
    g = occ.groupBy("doc_id", "pos", "gh").agg(F.count(F.lit(1)).alias("n"))
    snap = run_to_batch(g, "complete").select("doc_id", "pos", "gh")
    docs = table(spark, sf_dir, "documents")
    base = docs.select("doc_id", tokens("text").alias("w")).select(
        "doc_id", "w", F.size("w").alias("n_tokens")
    )
    # checkpoint the 2-column stats branch like the batch half does, so the
    # final left join does not re-run the tokenize scan
    base_stats = base.select("doc_id", "n_tokens").localCheckpoint(eager=True)
    return substring_rewrite_from_occurrences(
        snap, base, base_stats, "doc_id", SPAN_WINDOW
    ).orderBy("doc_id")


@register(
    "stream_langid_confusion",
    oracle=LANGID_CONFUSION_ORACLE,
    tags=("streaming", "pipeline", "text"),
    doc="Classifier-audit-on-a-stream: the language-ID confusion matrix of "
    "text_langid_confusion continuously maintained — the row-local "
    "marker-argmax classifier (pipeline/text.py language_id) runs inside "
    "the streaming scan and a streaming grouped aggregate keeps one "
    "counter per (true lang, predicted lang) cell (reference analog: "
    "StreamExecGroupAggregate), the live 'is the router drifting' "
    "dashboard during ingest. The matrix is a pure function of the cell "
    "counts, so the snapshot report (row-normalized fractions over the "
    "<= |langs| x (|langs|+1) histogram) equals the batch audit exactly, "
    "independent of micro-batch boundaries. Shares ONE oracle constant "
    "with the batch half. Scale: state is |langs|^2 counters.",
)
def stream_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.text import language_id
    from flink_1_12_0_src_spark.streaming.source import documents_stream

    s = documents_stream(spark, sf_dir, n_files=4, max_files_per_trigger=4)
    pred = language_id(s.select("lang", "text"), "lang", "text")
    g = pred.groupBy("lang", "predicted_lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    snap = run_to_batch(g, "complete")
    return snap.select(
        "lang",
        "predicted_lang",
        "n_docs",
        F.round(
            F.col("n_docs")
            / F.sum("n_docs").over(Window.partitionBy("lang")).cast("double"),
            6,
        ).alias("lang_frac"),
    ).orderBy("lang", "predicted_lang")




@register(
    "stream_retention_cohorts",
    oracle=RETENTION_ORACLE,
    tags=("streaming", "analytics"),
    doc="Analytics-on-a-stream: the distinct (user, ISO-week) activity set "
    "of events_retention_cohorts maintained INCREMENTALLY by a streaming "
    "grouped aggregate — the continuously-updated retention dashboard shape "
    "(reference analog: chained StreamExecGroupAggregate, "
    "flink-table-planner-blink/.../stream/StreamExecGroupAggregate.scala:52) "
    "— with the cohort report (operators/analytics.py "
    "retention_from_activity) applied to the final snapshot. The snapshot "
    "is the distinct activity SET, a pure function of the data regardless "
    "of micro-batch boundaries, so the report equals the batch operator's "
    "exactly. Scale: streaming state is one counter per (user, week) — the "
    "corpus-sized distinct is the part worth maintaining incrementally; the "
    "report runs over |users|x|weeks| rows.",
)
def stream_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.operators.analytics import retention_from_activity

    s = events_stream(spark, sf_dir, max_files_per_trigger=4).select(
        "user_id", F.to_date(F.date_trunc("week", "ts")).alias("wk")
    )
    act = s.groupBy("user_id", "wk").agg(F.count(F.lit(1)).alias("n"))
    snap = run_to_batch(act, "complete").select("user_id", "wk")
    return retention_from_activity(snap).orderBy("cohort_week", "week_offset")




@register(
    "stream_funnel_rates",
    oracle=FUNNEL_ORACLE,
    tags=("streaming", "analytics"),
    doc="Analytics-on-a-stream: the strict-sequence funnel of "
    "events_funnel_rates continuously maintained — streaming state is the "
    "DISTINCT (user, stage, ts) triple set via a grouped aggregate (same "
    "chained-StreamExecGroupAggregate analog as stream_daily_anomaly), the "
    "staged-MIN report (operators/analytics.py funnel_conversion) applied "
    "to the snapshot. The funnel is duplicate-insensitive (every stage is a "
    "MIN over an EXISTS-filtered set), so report-on-distinct-triples equals "
    "the batch report exactly, independent of micro-batch boundaries. The "
    "triple state is the MINIMAL exact state for a strict-sequence funnel "
    "under out-of-order arrival: an earlier stage-(N-1) event arriving late "
    "can retroactively qualify an already-seen stage-N event, so per-stage "
    "running MINs alone cannot incrementally maintain it — production "
    "deployments bound this state with a TTL or session window.",
)
def stream_funnel_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.operators.analytics import funnel_conversion

    s = events_stream(spark, sf_dir, max_files_per_trigger=4).select("user_id", "event_type", "ts")
    triples = s.groupBy("user_id", "event_type", "ts").agg(
        F.count(F.lit(1)).alias("n")
    )
    snap = run_to_batch(triples, "complete").select("user_id", "event_type", "ts")
    return funnel_conversion(snap).orderBy("stage_idx")


@register(
    "stream_neardedup_keepfirst",
    oracle=NEARDEDUP_KEEPFIRST_ORACLE,
    tags=("streaming", "dedup"),
    doc="Streaming near-dedup ADMISSION — the production RefinedWeb-ingest "
    "shape: continuous keep-first dedup whose state is the seen MinHash "
    "band-bucket table, maintained INCREMENTALLY by a streaming grouped "
    "aggregate (per (band, bk): occupancy count + MIN doc id — the "
    "reference analog is StreamExecDeduplicate keep-first, "
    "flink-table-planner-blink/.../stream/StreamExecDeduplicate.scala:58, "
    "composed with the repo's banded machinery). A document is admitted "
    "iff every capped bucket it occupies has it as the MIN id — first-wins "
    "under the deterministic min-id tiebreak, so the admitted set is "
    "IDENTICAL whatever the delivery order or micro-batch boundaries "
    "(pinned in tests/test_streaming_analytics.py). Band keys on the "
    "stream are computed ROW-LOCALLY (pipeline/dedup.py "
    "rowlocal_band_keys, bit-identical to the batch explode path) so the "
    "single streaming-aggregate budget goes to the bucket state itself; "
    "the admission report applies the batch operator to the snapshot via "
    "its stats= hand-in. Scale: state is 3 buckets/doc — the inherent "
    "dedup-state floor; production bounds it with TTL.",
)
def stream_neardedup_keepfirst(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.catalog import table
    from flink_1_12_0_src_spark.pipeline.dedup import (
        neardedup_keep_first,
        rowlocal_band_keys,
    )
    from flink_1_12_0_src_spark.queries.pipelineq import (
        MH_BAND_ROWS,
        MH_MAX_BUCKET,
        MH_NUM_HASHES,
        MH_SHINGLE_K,
    )
    from flink_1_12_0_src_spark.streaming.source import documents_stream

    s = documents_stream(spark, sf_dir, n_files=4)
    b = s.select(
        "doc_id",
        F.explode(
            rowlocal_band_keys("text", MH_NUM_HASHES, MH_SHINGLE_K, MH_BAND_ROWS)
        ).alias("x"),
    ).select("doc_id", F.col("x.band").alias("band"), F.col("x.bk").alias("bk"))
    stats = b.groupBy("band", "bk").agg(
        F.count(F.lit(1)).alias("sz"), F.min("doc_id").alias("keep_did")
    )
    snap = run_to_batch(stats, "complete")
    docs = table(spark, sf_dir, "documents")
    return neardedup_keep_first(
        docs,
        "doc_id",
        "text",
        MH_NUM_HASHES,
        MH_SHINGLE_K,
        MH_BAND_ROWS,
        MH_MAX_BUCKET,
        stats=snap,
    ).orderBy("doc_id")


@register(
    "stream_contamination_matrix",
    oracle=CONTAMINATION_MATRIX_ORACLE,
    tags=("streaming", "pipeline", "text", "dedup"),
    doc="Analytics-on-a-stream: the per-benchmark contamination matrix of "
    "text_contamination_matrix continuously maintained as training "
    "documents are INGESTED — the live pre-training decontamination "
    "dashboard. The benchmark shingle set is STATIC (eval suites don't "
    "change mid-run) and joins the training stream map-side via a "
    "stream-static broadcast hash join; streaming state is the distinct "
    "(benchmark, doc) hit set via a grouped aggregate plus a one-row "
    "train-doc counter (its own streaming query — Structured Streaming "
    "allows one aggregate per query). Both snapshots are pure functions of "
    "the data, and the shared report half (pipeline/dedup.py "
    "contamination_report_from_hits) equals the batch matrix exactly "
    "regardless of micro-batch boundaries. Scale: state is |benchmarks| x "
    "|contaminated docs| + 1 counter.",
)
def stream_contamination_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.catalog import table
    from flink_1_12_0_src_spark.pipeline.dedup import contamination_report_from_hits
    from flink_1_12_0_src_spark.pipeline.text import shingles
    from flink_1_12_0_src_spark.queries.pipelineq import (
        DC_GRAM_K,
        contam_bench_of,
        contam_train_of,
    )
    from flink_1_12_0_src_spark.streaming.source import documents_stream

    bench = contam_bench_of(table(spark, sf_dir, "documents"))
    bench_grams = bench.select(
        "benchmark", F.explode(shingles("text", DC_GRAM_K)).alias("sh")
    ).distinct()
    bench_sizes = bench.groupBy("benchmark").agg(
        F.count(F.lit(1)).alias("n_bench_docs")
    )

    train_s = contam_train_of(documents_stream(spark, sf_dir, n_files=4, max_files_per_trigger=4))
    hit_set = (
        train_s.select(
            "doc_id",
            F.explode(F.array_distinct(shingles("text", DC_GRAM_K))).alias("sh"),
        )
        .join(F.broadcast(bench_grams), "sh")
        .groupBy("benchmark", "doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    n_train_s = contam_train_of(documents_stream(spark, sf_dir, n_files=4, max_files_per_trigger=4)).agg(
        F.count(F.lit(1)).alias("_n_train")
    )
    hits_snap = run_to_batch(hit_set, "complete")
    n_train_row = run_to_batch(n_train_s, "complete")
    hits = hits_snap.groupBy("benchmark").agg(
        F.countDistinct("doc_id").alias("n_contaminated")
    )
    return contamination_report_from_hits(bench_sizes, hits, n_train_row).orderBy(
        "benchmark"
    )


@register(
    "stream_incremental_admit",
    oracle=INCREMENTAL_ADMIT_ORACLE,
    tags=("streaming", "dedup"),
    doc="Streaming INCREMENTAL near-dedup admission — the continuous-"
    "curation loop closed end to end: the corpus snapshot's (band, bk) "
    "bucket state is STATIC (computed once, exactly what production "
    "maintains incrementally between crawls), the incoming batch streams "
    "in micro-batches, and its bucket occupancy (count + MIN batch id per "
    "bucket) is maintained INCREMENTALLY by a streaming grouped aggregate "
    "over ROW-LOCAL band keys (pipeline/dedup.py rowlocal_band_keys — the "
    "single streaming-aggregate budget goes to the bucket state, as in "
    "stream_neardedup_keepfirst; reference analog StreamExecDeduplicate "
    "keep-first with a two-tier state table). Admission applies the batch "
    "operator (neardedup_incremental, stats= hand-in) to the combined "
    "snapshot: both occupancy count and MIN are order-free, so the "
    "admitted set is IDENTICAL whatever the delivery order or micro-batch "
    "boundaries — pinned batch-equal, boundary- and order-invariant in "
    "tests/test_streaming_analytics.py. Shares INCREMENTAL_ADMIT_ORACLE "
    "with dedup_incremental_admit, so operator and twin can never drift. "
    "Scale: streaming state is 3 buckets per batch doc; the static corpus "
    "state joins the (small) batch bucket snapshot by equi join.",
)
def stream_incremental_admit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.catalog import table
    from flink_1_12_0_src_spark.pipeline.dedup import (
        neardedup_incremental,
        rowlocal_band_keys,
    )
    from flink_1_12_0_src_spark.queries.pipelineq import (
        INC_SPLIT_HEX,
        MH_BAND_ROWS,
        MH_MAX_BUCKET,
        MH_NUM_HASHES,
        MH_SHINGLE_K,
    )
    from flink_1_12_0_src_spark.streaming.source import documents_stream

    is_corpus = (
        F.substring(
            F.md5(F.concat(F.lit("inc|"), F.col("doc_id").cast("string"))), 1, 1
        )
        < INC_SPLIT_HEX
    )
    docs = table(spark, sf_dir, "documents")
    corpus, batch = docs.filter(is_corpus), docs.filter(~is_corpus)
    # static corpus bucket state — ONE (band, bk) aggregate, precomputed
    corpus_stats = (
        corpus.select(
            "doc_id",
            F.explode(
                rowlocal_band_keys("text", MH_NUM_HASHES, MH_SHINGLE_K, MH_BAND_ROWS)
            ).alias("x"),
        )
        .select("doc_id", F.col("x.band").alias("band"), F.col("x.bk").alias("bk"))
        .groupBy("band", "bk")
        .agg(F.count(F.lit(1)).alias("n_corp"))
    )
    # streaming batch bucket state — the one streaming aggregate
    s = documents_stream(spark, sf_dir, n_files=4).filter(~is_corpus)
    b = s.select(
        "doc_id",
        F.explode(
            rowlocal_band_keys("text", MH_NUM_HASHES, MH_SHINGLE_K, MH_BAND_ROWS)
        ).alias("x"),
    ).select("doc_id", F.col("x.band").alias("band"), F.col("x.bk").alias("bk"))
    b_stats = b.groupBy("band", "bk").agg(
        F.count(F.lit(1)).alias("sz_b"), F.min("doc_id").alias("keep_bid")
    )
    snap = run_to_batch(b_stats, "complete")
    combined = snap.join(corpus_stats, ["band", "bk"], "left").select(
        "band",
        "bk",
        (F.col("sz_b") + F.coalesce("n_corp", F.lit(0))).alias("sz"),
        F.coalesce("n_corp", F.lit(0)).alias("n_corp"),
        "keep_bid",
    )
    return neardedup_incremental(
        corpus,
        batch,
        "doc_id",
        "text",
        MH_NUM_HASHES,
        MH_SHINGLE_K,
        MH_BAND_ROWS,
        MH_MAX_BUCKET,
        stats=combined,
    ).orderBy("doc_id")


@register(
    "stream_url_admit",
    oracle=URL_DEDUP_ORACLE,
    tags=("streaming", "dedup"),
    doc="Streaming URL-granularity dedup — RefinedWeb stage 0 as a live "
    "ingest gate: URL canonicalization (pipeline/dedup.py url_normalize) "
    "is a row-local projection on the stream, and the per-URL state "
    "(MIN doc id + doc count per distinct (host, canonical url, raw url) "
    "triple) is maintained INCREMENTALLY by a streaming grouped aggregate "
    "— min and count are order-free, so the per-host report on the final "
    "snapshot is IDENTICAL whatever the delivery order or micro-batch "
    "boundaries. The report half (url_report_from_per_url) and the oracle "
    "constant are SHARED with the batch operator, so operator and twin "
    "can never drift. The 10th streaming twin. Scale: state is one "
    "counter per distinct raw URL — the inherent URL-dedup state floor; "
    "production bounds it with TTL (recrawl horizons).",
)
def stream_url_admit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.dedup import (
        url_normalize,
        url_report_from_per_url,
    )
    from flink_1_12_0_src_spark.queries.pipelineq import _synth_url_col
    from flink_1_12_0_src_spark.streaming.source import documents_stream

    s = documents_stream(spark, sf_dir, n_files=4).select(
        "doc_id", _synth_url_col().alias("url")
    )
    host = F.regexp_replace(
        F.lower(F.parse_url(F.col("url"), F.lit("AUTHORITY"))), ":[0-9]+$", ""
    )
    triples = (
        s.select(
            "doc_id", "url", host.alias("host"), url_normalize("url").alias("norm_url")
        )
        .groupBy("host", "norm_url", "url")
        .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("mid"))
    )
    snap = run_to_batch(triples, "complete")
    per_url = snap.groupBy("host", "norm_url").agg(
        F.min("mid").alias("keep_id"),
        F.sum("n").alias("n_docs"),
        F.count(F.lit(1)).alias("n_raw_forms"),
    )
    return url_report_from_per_url(per_url).orderBy("host")


@register(
    "stream_quality_filter",
    oracle=QUALITY_EVAL_ORACLE,
    tags=("streaming", "pipeline", "classifier"),
    doc="Streaming quality FILTER — the trained model deployed on the "
    "ingest stream, the production shape pipeline_quality_fit exists for: "
    "weights train batch-side on the corpus snapshot (logreg_fit_exact), "
    "broadcast as one static row, and every arriving document is scored "
    "ROW-LOCALLY (pipeline/classifier.py logreg_score_stream — "
    "featurization folds inside the projection, no shuffle, bit-identical "
    "to the batch matrix path), so the single streaming-aggregate budget "
    "goes to the live confusion state: one counter per (predicted, label) "
    "cell via a streaming grouped aggregate. The snapshot is a pure "
    "function of the data — the report equals pipeline_quality_eval's "
    "exactly, whatever the delivery order or micro-batch boundaries — and "
    "shares QUALITY_EVAL_ORACLE with it. The 11th streaming twin. Scale: "
    "state is 4 counters; scoring is stateless.",
)
def stream_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.catalog import table
    from flink_1_12_0_src_spark.pipeline.classifier import (
        logreg_fit_exact,
        logreg_score_stream,
    )
    from flink_1_12_0_src_spark.pipeline.text import quality_score
    from flink_1_12_0_src_spark.queries.pipelineq import (
        QF_LABEL_THR,
        QF_LR,
        QF_NB,
        QF_ROUNDS,
        confusion_from_cells,
    )
    from flink_1_12_0_src_spark.streaming.source import documents_stream

    docs = table(spark, sf_dir, "documents")
    labeled = quality_score(docs, "doc_id", "text", keep=["text"]).select(
        "doc_id", "text", (F.col("quality") >= QF_LABEL_THR).alias("label")
    )
    w = logreg_fit_exact(labeled, "label", "doc_id", "text", QF_NB, QF_ROUNDS, QF_LR)

    s = documents_stream(spark, sf_dir, n_files=4, max_files_per_trigger=4)
    s_labeled = quality_score(s, "doc_id", "text", keep=["text"]).select(
        "doc_id", "text", (F.col("quality") >= QF_LABEL_THR).alias("label")
    )
    scored = logreg_score_stream(
        s_labeled, w, "doc_id", "text", QF_NB, keep=["label"]
    )
    cells = scored.groupBy("predicted", "label").agg(F.count(F.lit(1)).alias("c"))
    return confusion_from_cells(run_to_batch(cells, "complete"))


@register(
    "stream_value_percentiles",
    oracle=PCT_APPROX_ORACLE,
    tags=("streaming", "analytics", "custom_op"),
    doc="Quantile-histogram-on-a-stream — the 19th streaming twin, "
    "completing the sketch-contract family's streaming side (Bloom "
    "membership, Count-Min frequency, HLL-adjacent counts, now "
    "quantiles): a fixed-bucket value histogram (operators/analytics.py "
    "percentile_state_rows — centi-unit BIGINT buckets, lossless at this "
    "feed's 2-dp quantization, counter ADDITION merges associatively) is "
    "maintained incrementally by ONE streaming grouped aggregate, and "
    "the contract tail (value_percentiles_from_hist) derives the exact "
    "percentiles plus the histogram's rank answer from the final "
    "snapshot, re-ranks that answer against the exact corpus, and pins "
    "the same floor/ceil rank-error band as the batch contract row — "
    "the live latency/size-percentile dashboard with mergeable state. "
    "Counts are order- and batching-insensitive, so the output equals "
    "the batch row exactly; shares PCT_APPROX_ORACLE with the batch "
    "half, batch-equality + boundary/scramble invariance pinned.",
)
def stream_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.catalog import table
    from flink_1_12_0_src_spark.operators.analytics import (
        percentile_state_rows,
        value_percentiles_from_hist,
    )
    from flink_1_12_0_src_spark.streaming.source import events_stream

    s = events_stream(spark, sf_dir, n_files=4, max_files_per_trigger=4)
    g = percentile_state_rows(s).groupBy("event_type", "cv").agg(
        F.count(F.lit(1)).alias("n")
    )
    snap = run_to_batch(g, "complete")
    probes = table(spark, sf_dir, "events")
    return value_percentiles_from_hist(snap, probes).orderBy("event_type", "q")


@register(
    "stream_soft_weights_cms",
    oracle=SOFT_CMS_ORACLE,
    tags=("streaming", "pipeline", "dedup", "sampling"),
    doc="CONSTANT-STATE SoftDeDup-on-a-stream — the 20th streaming twin, "
    "the production counterpart of stream_soft_weights the way "
    "stream_bloom_filter_only is of stream_bloom_membership: the "
    "streaming grouped aggregate maintains ONLY the Count-Min sketch "
    "counters (slices x 256 regardless of corpus size — the exact "
    "per-(doc, gram) relation the 18th twin carries exists for oracle "
    "observability; a deployment drops it), and the contract tail "
    "(soft_dedup_cms_weights) re-prices the corpus from the snapshot "
    "sketch with the per-document drift contract against the exact "
    "price — continuous duplication-aware reweighting whose state no "
    "longer grows with the gram space. Counter sums are order- and "
    "batching-insensitive, so the output equals dedup_soft_weights_cms "
    "exactly; shares SOFT_CMS_ORACLE with the batch half.",
)
def stream_soft_weights_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.catalog import table
    from flink_1_12_0_src_spark.pipeline.dedup import (
        cms_state_rows,
        soft_dedup_cms_weights,
        soft_gram_counts,
    )
    from flink_1_12_0_src_spark.queries.pipelineq import (
        CMS_HEX,
        CMS_SLICES,
        SOFT_K,
    )
    from flink_1_12_0_src_spark.streaming.source import documents_stream

    s = documents_stream(spark, sf_dir, n_files=4, max_files_per_trigger=4)
    g = cms_state_rows(s, "text", SOFT_K, CMS_SLICES, CMS_HEX).groupBy("i", "v").agg(
        F.count(F.lit(1)).alias("n")
    )
    snap = run_to_batch(g, "complete")
    docs = table(spark, sf_dir, "documents")
    return soft_dedup_cms_weights(
        soft_gram_counts(docs, "doc_id", "text", SOFT_K),
        snap,
        "doc_id",
        CMS_SLICES,
        CMS_HEX,
    ).orderBy("doc_id")


from flink_1_12_0_src_spark.queries.pipelineq import MM_AUDIT_ORACLE  # noqa: E402


@register(
    "stream_multimodal_audit",
    oracle=MM_AUDIT_ORACLE,
    tags=("streaming", "pipeline", "multimodal"),
    doc="Resolution-audit-on-a-stream — the 21st streaming twin, giving the "
    "round-13 header-parse family its continuously-maintained form: the "
    "codec-free PNG/GIF/BMP header parse (pipeline/multimodal.py "
    "parse_image_headers — pure row-local binary built-ins) runs inside "
    "the streaming scan, and a streaming grouped aggregate maintains the "
    "(format x quarter-megapixel bucket) count/min/max/sum state "
    "(reference analog: StreamExecGroupAggregate) — the live corpus-shape "
    "dashboard a 100 TB ingest watches while deciding decode capacity. "
    "Counter/MIN/MAX/SUM state is mergeable and micro-batch-boundary-"
    "invariant, and the report (resolution_audit_from_state) is a pure "
    "function of that state, so the snapshot report equals "
    "multimodal_resolution_audit exactly; shares MM_AUDIT_ORACLE with the "
    "batch half. Scale: state is ~|formats|x|buckets| rows regardless of "
    "corpus size.",
)
def stream_multimodal_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.multimodal import (
        parse_image_headers,
        resolution_audit_from_state,
        resolution_audit_state,
        synth_image_blobs,
    )
    from flink_1_12_0_src_spark.streaming.source import documents_stream

    s = documents_stream(spark, sf_dir, n_files=4, max_files_per_trigger=4)
    parsed = parse_image_headers(synth_image_blobs(s.select("doc_id")))
    g = resolution_audit_state(parsed)
    snap = run_to_batch(g, "complete")
    return resolution_audit_from_state(snap)
