"""Queries exercising the custom gap operators (as-of join, CEP, max_by dedup)
against independent DuckDB oracle formulations (ASOF JOIN, window/islands SQL).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F

from flink_1_12_0_src_spark.catalog import table
from flink_1_12_0_src_spark.operators import Pattern, asof_join, deduplicate, match_recognize
from flink_1_12_0_src_spark.queries import register


@register(
    "asof_join_events",
    oracle="""
SELECT p.event_id AS purchase_id, p.user_id, p.ts AS p_ts,
       v.event_id AS view_id, CAST(v.value AS DOUBLE) AS view_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON p.user_id = v.user_id AND v.ts <= p.ts
ORDER BY purchase_id
""",
    tags=("batch", "join", "asof", "custom_op"),
    doc="Temporal/as-of join (Flink StreamExecTemporalJoin — "
    "TemporalRowTimeJoinOperator.java): each purchase joins the latest prior view "
    "per user. Ours: union + one window pass (operators/joins.py); oracle: DuckDB "
    "native ASOF JOIN — independent implementations agreeing.",
)
def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("p_ts")
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("view_id"), F.col("value").cast("double").alias("view_value")
    )
    return (
        asof_join(purchases, views, on=["user_id"], left_time="p_ts", right_time="ts")
        .select("purchase_id", "user_id", "p_ts", "view_id", "view_value")
        .orderBy("purchase_id")
    )


@register(
    "cep_funnel",
    oracle="""
WITH o AS (
  SELECT user_id, event_id, ts, event_type,
         lead(event_type, 1) OVER w AS t1, lead(event_id, 1) OVER w AS id1,
         lead(event_type, 2) OVER w AS t2, lead(event_id, 2) OVER w AS id2,
         lead(ts, 2) OVER w AS ts2
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS INTEGER) AS match_seq,
       event_id AS view_id, id1 AS click_id, id2 AS purchase_id
FROM o
WHERE event_type = 'view' AND t1 = 'click' AND t2 = 'purchase'
  AND ts2 <= ts + INTERVAL 1 HOUR
ORDER BY user_id, match_seq
""",
    tags=("batch", "cep", "custom_op"),
    doc="MATCH_RECOGNIZE strict funnel: PATTERN (V C P) WITHIN 1h, AFTER MATCH "
    "SKIP PAST LAST ROW (Flink StreamExecMatch.scala:68 → CepOperator). Ours: NFA "
    "in applyInPandas (operators/cep.py); oracle: lead()-window SQL (equivalent for "
    "non-overlapping 3-step strict patterns).",
)
def cep_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    # prune to the NFA's columns before the Python boundary
    ev = table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    pat = (
        Pattern.begin("v")
        .where(lambda pdf: pdf["event_type"] == "view")
        .next("c")
        .where(lambda pdf: pdf["event_type"] == "click")
        .next("p")
        .where(lambda pdf: pdf["event_type"] == "purchase")
        .within(3600.0)
    )
    out = match_recognize(
        ev,
        partition_by=["user_id"],
        order_by=["ts", "event_id"],
        pattern=pat,
        measures={
            "view_id": ("v", "last", "event_id"),
            "click_id": ("c", "last", "event_id"),
            "purchase_id": ("p", "last", "event_id"),
        },
        output_schema="user_id bigint, match_seq int, view_id bigint, click_id bigint, purchase_id bigint",
        time_col="ts",
    )
    return out.orderBy("user_id", "match_seq")


@register(
    "cep_error_burst",
    oracle="""
WITH o AS (
  SELECT user_id, event_id, ts, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
), runs AS (
  SELECT *, rn - ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY rn) AS grp
  FROM o
), islands AS (
  SELECT user_id, event_type, grp, MAX(rn) AS ern, COUNT(*) AS run_len
  FROM runs GROUP BY user_id, event_type, grp
)
SELECT p.user_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY p.user_id ORDER BY p.rn) - 1 AS INTEGER) AS match_seq,
       CAST(e.run_len AS INTEGER) AS n_errors,
       p.event_id AS purchase_id
FROM o p JOIN islands e
  ON e.user_id = p.user_id AND e.event_type = 'error' AND e.ern = p.rn - 1
WHERE p.event_type = 'purchase'
ORDER BY p.user_id, match_seq
""",
    tags=("batch", "cep", "custom_op", "bench"),
    doc="MATCH_RECOGNIZE with greedy oneOrMore: PATTERN (E+ P) — maximal error "
    "burst immediately followed by a purchase (Flink Pattern.oneOrMore().consecutive(), "
    "Pattern.java:378). Oracle: gaps-and-islands SQL.",
)
def cep_error_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    # project to the columns the NFA actually touches BEFORE the Python
    # boundary: applyInPandas ships every input column through Arrow, and
    # Catalyst cannot see into the kernel to prune (guide: pass only what
    # the function needs — drops `props`/`value`, ~half the Arrow bytes)
    ev = table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    pat = (
        Pattern.begin("e")
        .where(lambda pdf: pdf["event_type"] == "error")
        .one_or_more()
        .next("p")
        .where(lambda pdf: pdf["event_type"] == "purchase")
    )
    out = match_recognize(
        ev,
        partition_by=["user_id"],
        order_by=["ts", "event_id"],
        pattern=pat,
        measures={
            "n_errors": ("e", "count", "event_id"),
            "purchase_id": ("p", "last", "event_id"),
        },
        output_schema="user_id bigint, match_seq int, n_errors int, purchase_id bigint",
    )
    return out.orderBy("user_id", "match_seq")


@register(
    "dedup_maxby_keep_last",
    oracle="""
SELECT user_id, event_type, event_id, ts FROM (
  SELECT user_id, event_type, event_id, ts,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
ORDER BY user_id, event_type
""",
    tags=("batch", "dedup", "custom_op"),
    doc="Keep-last dedup via max_by(struct) aggregation (operators/dedup.py) — "
    "no window sort, two-phase hash agg; the streaming ChangelogNormalize "
    "primitive (StreamExecChangelogNormalize.scala:46). Oracle: row_number DESC.",
)
def dedup_maxby_keep_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select("user_id", "event_type", "event_id", "ts")
    return (
        deduplicate(ev, ["user_id", "event_type"], "ts", keep="last", tiebreak="event_id")
        .select("user_id", "event_type", "event_id", "ts")
        .orderBy("user_id", "event_type")
    )


@register(
    "async_lookup_enrich",
    oracle="""
SELECT DISTINCT user_id, substr(md5('svc|' || user_id), 1, 8) AS svc_tag
FROM events
ORDER BY user_id
""",
    tags=("custom_op", "async_io", "lookup_join"),
    doc="Async I/O enrichment (Flink AsyncDataStream / AsyncWaitOperator — "
    "…/api/operators/async/AsyncWaitOperator.java:372; AsyncTableFunction "
    "lookup): mapInPandas with an asyncio client, all unique keys of each "
    "Arrow batch in flight concurrently, ORDERED-mode output. Deterministic "
    "md5-tag service so the enrichment is oracle-checkable.",
)
def async_lookup_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.operators.async_io import async_enrich

    ev = table(spark, sf_dir, "events").select("user_id").distinct()
    return async_enrich(ev, "user_id", "svc_tag").orderBy("user_id")


@register(
    "tableagg_top2_emit",
    oracle="""
SELECT user_id, CAST(value AS DOUBLE) AS value, CAST(rn AS INTEGER) AS rank
FROM (
  SELECT user_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn
  FROM events WHERE event_type = 'click'
)
WHERE rn <= 2
ORDER BY user_id, rank
""",
    tags=("custom_op", "agg", "table_agg"),
    doc="TableAggregateFunction (Flink …/functions/TableAggregateFunction.java"
    ":162, StreamExecGroupTableAggregate.scala:46; the documented Top2 "
    "example): multi-row-per-group emit via applyInPandas, with a per-partition "
    "partial top-k (local/global shape) bounding every group before the "
    "shuffle. Oracle: the equivalent rank-window SQL.",
)
def tableagg_top2_emit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.operators.table_agg import top_n_table_agg

    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "click")
        .select("user_id", F.col("value").cast("double").alias("value"), "event_id")
    )
    return top_n_table_agg(ev, ["user_id"], "value", "event_id", n=2).orderBy(
        "user_id", "rank"
    )


@register(
    "udtf_lateral_tokens",
    oracle="""
SELECT doc_id, CAST(g AS INTEGER) AS pos, w[g] AS token
FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents WHERE doc_id < 50) t,
     LATERAL unnest(generate_series(1, least(len(w), 10))) AS s(g)
ORDER BY doc_id, pos
""",
    tags=("custom_op", "udtf", "correlate"),
    doc="TableFunction / UDTF lateral join (Flink …/functions/TableFunction.java"
    ":137, StreamExecCorrelate.scala:36; PyFlink UDTFs run via Beam — native in "
    "PySpark): a Python UDTF emitting (pos, token) rows per document, applied "
    "as a LATERAL table function. Arrow-batched; the lateral is a per-row "
    "flatMap — no shuffle.",
)
def udtf_lateral_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, token string")
    class PosTokens:
        def eval(self, text: str, n: int):
            for i, tok in enumerate(text.lower().split(" ")[:n]):
                yield i + 1, tok

    spark.udtf.register("pos_tokens", PosTokens)
    table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50).createOrReplaceTempView(
        "udtf_docs"
    )
    return spark.sql(
        "SELECT doc_id, pos, token FROM udtf_docs, LATERAL pos_tokens(text, 10) "
        "ORDER BY doc_id, pos"
    )


@register(
    "cep_view_purchase_no_error",
    oracle="""
WITH vw AS (SELECT user_id, ts AS vt FROM events WHERE event_type = 'view'),
m AS (
  SELECT user_id, vt,
    (SELECT MIN(p.ts) FROM events p WHERE p.event_type = 'purchase'
       AND p.user_id = vw.user_id AND p.ts > vw.vt
       AND p.ts <= vw.vt + INTERVAL 1 DAY) AS p_ts,
    (SELECT MIN(c.ts) FROM events c WHERE c.event_type = 'error'
       AND c.user_id = vw.user_id AND c.ts > vw.vt) AS e_ts
  FROM vw
)
SELECT user_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY vt) - 1 AS INTEGER) AS match_seq,
       vt AS view_ts, p_ts AS purchase_ts
FROM m
WHERE p_ts IS NOT NULL AND (e_ts IS NULL OR e_ts > p_ts)
ORDER BY user_id, view_ts
""",
    tags=("custom_op", "cep", "batch"),
    doc="CEP negative pattern + skip strategy (Pattern.notFollowedBy — "
    "…/cep/pattern/Pattern.java:198; AfterMatchSkipStrategy SKIP TO NEXT ROW): "
    "view NOT followed by error, then purchase, within 1 day. Oracle: "
    "first-purchase/first-error scalar subqueries — the NFA's candidate rule "
    "(first purchase wins iff it precedes the first error) in closed form.",
)
def cep_view_purchase_no_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select("user_id", "ts", "event_type", "event_id")
    pat = (
        Pattern.begin("v")
        .where(lambda pdf: pdf.event_type == "view")
        .not_followed_by("e")
        .where(lambda pdf: pdf.event_type == "error")
        .followed_by("p")
        .where(lambda pdf: pdf.event_type == "purchase")
        .within(86400)
    )
    return match_recognize(
        ev,
        partition_by=["user_id"],
        order_by=["ts", "event_id"],
        pattern=pat,
        measures={"view_ts": ("v", "first", "ts"), "purchase_ts": ("p", "first", "ts")},
        output_schema="user_id bigint, match_seq int, view_ts timestamp, purchase_ts timestamp",
        time_col="ts",
        after_match="next_row",
    ).orderBy("user_id", "view_ts")


@register(
    "cep_times_range_burst",
    oracle="""
WITH o AS (SELECT user_id, ts, event_id, event_type,
                  ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
           FROM events),
e AS (SELECT *, rn - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY rn) AS grp
      FROM o WHERE event_type = 'error'),
isl AS (SELECT user_id, grp, COUNT(*) AS k, MIN(rn) AS start_rn FROM e GROUP BY user_id, grp),
chunks AS (
  SELECT user_id, start_rn, k,
         unnest(generate_series(1, CAST(k // 4 + CASE WHEN k % 4 >= 2 THEN 1 ELSE 0 END AS BIGINT))) AS ci
  FROM isl WHERE k >= 2
)
SELECT user_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY start_rn, ci) - 1 AS INTEGER) AS match_seq,
       CAST(CASE WHEN ci <= k // 4 THEN 4 ELSE k % 4 END AS BIGINT) AS n_errors
FROM chunks
ORDER BY user_id, match_seq
""",
    tags=("custom_op", "cep", "batch", "quantifier"),
    doc="CEP range quantifier times(2,4) (Pattern.times(from,to) — "
    "Pattern.java:365; timesOrMore shares the machinery): greedy consecutive "
    "error bursts of 2–4 events, SKIP PAST LAST ROW, so a maximal run of k "
    "errors chunks into ⌊k/4⌋ fours plus a k%4 remainder when ≥2. Oracle: "
    "islands SQL computing exactly that chunking in closed form.",
)
def cep_times_range_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select("user_id", "ts", "event_type", "event_id")
    pat = Pattern.begin("e").where(lambda pdf: pdf.event_type == "error").times(2, 4)
    return match_recognize(
        ev,
        partition_by=["user_id"],
        order_by=["ts", "event_id"],
        pattern=pat,
        measures={"n_errors": ("e", "count", "event_id")},
        output_schema="user_id bigint, match_seq int, n_errors bigint",
        time_col="ts",
    ).orderBy("user_id", "match_seq")


@register(
    "cep_until_errors_before_purchase",
    oracle="""
WITH o AS (SELECT user_id, ts, event_id, event_type,
                  ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
           FROM events),
p AS (SELECT user_id, rn AS prn, event_id AS purchase_id,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY rn) AS pseq
      FROM o WHERE event_type = 'purchase'),
seg AS (
  SELECT e.user_id, e.rn, e.event_id,
         (SELECT MIN(p.pseq) FROM p WHERE p.user_id = e.user_id AND p.prn > e.rn) AS pseq
  FROM o e WHERE e.event_type = 'error'
),
g AS (SELECT user_id, pseq, COUNT(*) AS n_errors,
             arg_min(event_id, rn) AS first_error_id
      FROM seg WHERE pseq IS NOT NULL GROUP BY user_id, pseq)
SELECT g.user_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY g.user_id ORDER BY g.pseq) - 1 AS INTEGER) AS match_seq,
       CAST(g.n_errors AS BIGINT) AS n_errors, g.first_error_id, p.purchase_id
FROM g JOIN p ON p.user_id = g.user_id AND p.pseq = g.pseq
ORDER BY g.user_id, match_seq
""",
    tags=("custom_op", "cep", "batch", "until"),
    doc="CEP relaxed-contiguity loop with stop condition (Pattern.oneOrMore "
    "relaxed default + Pattern.until:451): all errors before each purchase — "
    "ERROR+ (relaxed, until PURCHASE) followedBy PURCHASE, SKIP PAST LAST ROW, "
    "so matches tile the per-user stream into purchase-terminated segments. "
    "Oracle: islands SQL grouping errors by their next purchase.",
)
def cep_until_errors_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select("user_id", "ts", "event_type", "event_id")
    pat = (
        Pattern.begin("e")
        .where(lambda pdf: pdf.event_type == "error")
        .one_or_more(consecutive=False)
        .until(lambda pdf: pdf.event_type == "purchase")
        .followed_by("p")
        .where(lambda pdf: pdf.event_type == "purchase")
    )
    return match_recognize(
        ev,
        partition_by=["user_id"],
        order_by=["ts", "event_id"],
        pattern=pat,
        measures={
            "n_errors": ("e", "count", "event_id"),
            "first_error_id": ("e", "first", "event_id"),
            "purchase_id": ("p", "last", "event_id"),
        },
        output_schema="user_id bigint, match_seq int, n_errors bigint, first_error_id bigint, purchase_id bigint",
        time_col="ts",
    ).orderBy("user_id", "match_seq")


@register(
    "udaf_weighted_avg",
    oracle="""
SELECT l_returnflag,
       round(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2)))
             / SUM(CAST(l_quantity AS DECIMAL(12,2))), 4) AS wavg_price
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
    tags=("custom_op", "udaf", "agg"),
    doc="User-defined aggregate (Flink AggregateFunction — …/functions/"
    "AggregateFunction.java:194, the documented WeightedAvg example): a "
    "pandas_udf GROUPED_AGG computing weighted average in exact integer "
    "cents, Arrow-batched (PyFlink would cross the Beam boundary; native "
    "here). Partial aggregation does not apply to pandas UDAFs, so at scale "
    "pre-shuffle reduction comes from the groupBy hash partitioning alone — "
    "acceptable because group count ≪ row count; the exactness contract is "
    "what a built-in SUM/SUM pair cannot express when the accumulator is "
    "user-defined. Oracle: DECIMAL ratio rounded to 4dp.",
)
def udaf_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def wavg(price: pd.Series, qty: pd.Series) -> float:
        import numpy as np

        cents = np.rint(price.to_numpy("float64") * 100).astype("int64")
        q = np.rint(qty.to_numpy("float64")).astype("int64")
        return round(float((cents * q).sum()) / 100.0 / float(q.sum()), 4)

    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(wavg(F.col("l_extendedprice"), F.col("l_quantity")).alias("wavg_price"))
        .orderBy("l_returnflag")
    )


@register(
    "cep_followed_by_any",
    oracle="""
WITH v AS (SELECT user_id, event_id AS view_id, ts AS vts FROM events
           WHERE event_type = 'view'),
p AS (SELECT user_id, event_id AS purchase_id, ts AS pts FROM events
      WHERE event_type = 'purchase'),
pairs AS (
  SELECT v.user_id, view_id, purchase_id, vts, pts
  FROM v JOIN p ON v.user_id = p.user_id
  WHERE (pts > vts OR (pts = vts AND purchase_id > view_id))
    AND pts <= vts + INTERVAL 1 HOUR
)
SELECT user_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                               ORDER BY vts, view_id, pts, purchase_id) - 1
            AS INTEGER) AS match_seq,
       view_id, purchase_id
FROM pairs ORDER BY user_id, match_seq
""",
    tags=("batch", "cep", "custom_op", "any_match"),
    doc="CEP emit-all-alternatives (Pattern.followedByAny — …/cep/pattern/"
    "Pattern.java:214): view followedByAny purchase within 1h yields EVERY "
    "(view, later purchase) combination per user, overlapping matches "
    "included — the non-deterministic TAKE/PROCEED branch of NFA.java the "
    "deterministic followedBy prunes. Oracle: the closed-form pair join. "
    "Engine path: operators/cep.py _scan_matches — the one NFA scan "
    "reports every alternative for an any-semantics pattern, bounds "
    "worst-case branching at RELAXED_CANDIDATE_CAP (64) alternatives per "
    "scan start and emits a RuntimeWarning if a candidate list is actually "
    "truncated; the oracle is uncapped, so any divergence on denser data "
    "is loud, not silent.",
)
def cep_followed_by_any(spark: SparkSession, sf_dir: str) -> DataFrame:
    # prune to the NFA's columns before the Python boundary
    ev = table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    pat = (
        Pattern.begin("v")
        .where(lambda pdf: pdf["event_type"] == "view")
        .followed_by_any("p")
        .where(lambda pdf: pdf["event_type"] == "purchase")
        .within(3600.0)
    )
    out = match_recognize(
        ev,
        partition_by=["user_id"],
        order_by=["ts", "event_id"],
        pattern=pat,
        measures={
            "view_id": ("v", "last", "event_id"),
            "purchase_id": ("p", "last", "event_id"),
        },
        output_schema="user_id bigint, match_seq int, view_id bigint, purchase_id bigint",
        time_col="ts",
    )
    return out.orderBy("user_id", "match_seq")


# Shared with the streaming twin (stream_retention_cohorts): ONE oracle
# definition adjudicates both the batch operator and the incrementally
# maintained snapshot — a fix applied here reaches both gates.
RETENTION_ORACLE = """
WITH a AS (SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk FROM events),
f AS (SELECT user_id, MIN(wk) AS cohort_week FROM a GROUP BY user_id),
r AS (SELECT f.cohort_week,
             CAST(date_diff('day', f.cohort_week, a.wk) // 7 AS INTEGER) AS week_offset,
             CAST(COUNT(*) AS BIGINT) AS n_active
      FROM a JOIN f USING (user_id) GROUP BY 1, 2)
SELECT cohort_week, week_offset, n_active,
       round(CAST(n_active AS DOUBLE)
             / MAX(CASE WHEN week_offset = 0 THEN n_active END)
                   OVER (PARTITION BY cohort_week), 6) AS retention
FROM r ORDER BY cohort_week, week_offset
"""


@register(
    "events_retention_cohorts",
    oracle=RETENTION_ORACLE,
    tags=("batch", "analytics", "custom_op", "bench"),
    doc="Weekly cohort retention matrix (operators/analytics.py "
    "retention_cohorts) — the canonical keyed-stream user-analytics query the "
    "reference serves with group-window aggregates "
    "(StreamExecGroupWindowAggregate.scala): cohort users by ISO week of "
    "first event, count active members per week offset, normalize by cohort "
    "size. Scale: the corpus shuffles once on user_id (distinct activity and "
    "first-week agg share the key; the join is co-partitioned); everything "
    "after is an aggregate over weeks x offsets rows, and COUNT(*) is exact "
    "because activity is pre-deduplicated per (user, week).",
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.operators.analytics import retention_cohorts

    ev = table(spark, sf_dir, "events")
    return retention_cohorts(ev).orderBy("cohort_week", "week_offset")


@register(
    "events_value_percentiles",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       round(MIN(value), 6) AS min_value,
       round(MAX(value), 6) AS max_value,
       round(CAST(SUM(CAST(round(value, 6) AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(*), 6) AS avg_value,
       round(quantile_cont(value, 0.25), 6) AS p25,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.9), 6) AS p90,
       round(quantile_cont(value, 0.99), 6) AS p99
FROM events GROUP BY event_type ORDER BY event_type
""",
    tags=("batch", "analytics", "custom_op"),
    doc="Per-event-type distribution report (operators/analytics.py "
    "value_percentiles): exact PERCENTILE_CONT quantiles (rank p*(n-1), the "
    "shared ANSI definition of Spark's percentile and DuckDB's "
    "quantile_cont) plus count/min/max and a DECIMAL-accumulated mean. "
    "Mirrors the reference's OVER/agg percentile surface "
    "(flink-table planner PERCENTILE_CONT lowering). Scale: exact "
    "percentile keeps a per-group value->count map — fine for bounded "
    "measure domains; the 100 TB path for unbounded high-cardinality "
    "measures is approx_percentile (mergeable t-digest), noted in the "
    "operator docstring; the oracle gate requires the exact form.",
)
def events_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.operators.analytics import value_percentiles

    ev = table(spark, sf_dir, "events")
    return value_percentiles(ev).orderBy("event_type")


# ONE constant shared by the batch contract row (events_value_percentiles_
# approx) and its streaming-histogram twin (stream_value_percentiles,
# queries/streamingq.py): the maintained (group, centi-value) counts are a
# lossless sufficient statistic of the value multiset, so the twin's exact_p
# equals the batch row's and both pin the same rank-error booleans.
PCT_APPROX_ORACLE = """
WITH ex AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(COUNT(value) AS BIGINT) AS n_vals,
         quantile_cont(value, [0.25, 0.5, 0.9, 0.99]) AS ps
  FROM events GROUP BY event_type
)
SELECT event_type, CAST(qs.q AS DOUBLE) AS q, n_events,
       round(ps[qs.i], 6) AS exact_p,
       CASE WHEN n_vals = 0 THEN NULL ELSE TRUE END AS within_tol
FROM ex, (VALUES (1, 0.25), (2, 0.5), (3, 0.9), (4, 0.99)) qs(i, q)
ORDER BY event_type, q
"""


@register(
    "events_value_percentiles_approx",
    oracle=PCT_APPROX_ORACLE,
    tags=("batch", "analytics", "custom_op"),
    doc="approx_percentile CONTRACT row (operators/analytics.py "
    "value_percentiles_approx_check): events_value_percentiles' docstring "
    "names the mergeable quantile sketch as the 100-TB path for "
    "unbounded-cardinality measures — this row makes that claim "
    "driver-checked. Per (event_type, p), Spark's approx_percentile "
    "answer is re-ranked against the data and within_tol asserts the "
    "published rank-error bound ε = 1/accuracy; the oracle pins every "
    "boolean TRUE (the guarantee) plus the exact PERCENTILE_CONT values. "
    "The sketch answer itself stays out of the output — it is "
    "engine-specific, which is why the contract is rank-based. Scale: "
    "one constant-state sketch pass + one broadcast re-rank pass.",
)
def events_value_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.operators.analytics import (
        value_percentiles_approx_check,
    )

    ev = table(spark, sf_dir, "events")
    return value_percentiles_approx_check(ev).orderBy("event_type", "q")


@register(
    "events_distinct_users_approx",
    oracle="""
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct,
       TRUE AS within_tol
FROM events GROUP BY event_type ORDER BY event_type
""",
    tags=("batch", "analytics", "custom_op"),
    doc="approx_count_distinct CONTRACT row (operators/analytics.py "
    "distinct_count_approx_check) — the cardinality corner of the "
    "sketch-contract family (Bloom membership, quantile sketch, Count-Min "
    "frequency, HyperLogLog++ cardinality): per event_type the exact "
    "COUNT(DISTINCT user_id) runs alongside the constant-state mergeable "
    "HLL++ sketch and within_tol asserts |approx − exact|/exact ≤ 4·rsd "
    "(rsd 0.02; observed ≤ 0.2 sigma at every test SF). The oracle pins "
    "every boolean TRUE plus the exact counts; the sketch value itself "
    "stays out of the output — implementation-specific, which is why the "
    "contract is relative-error-based. At 100 TB the exact side is the "
    "one this row exists to retire: per-group distinct state grows with "
    "cardinality, the sketch does not.",
)
def events_distinct_users_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.operators.analytics import (
        distinct_count_approx_check,
    )

    ev = table(spark, sf_dir, "events")
    return distinct_count_approx_check(ev).orderBy("event_type")


# Shared with the streaming twin (stream_funnel_rates) — one definition.
FUNNEL_ORACLE = """
WITH v AS (SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e JOIN v USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY e.user_id),
p AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e JOIN c USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY e.user_id),
n AS (SELECT (SELECT COUNT(*) FROM v) AS nv,
             (SELECT COUNT(*) FROM c) AS nc,
             (SELECT COUNT(*) FROM p) AS np)
SELECT * FROM (
  SELECT 1 AS stage_idx, 'view' AS stage, CAST(nv AS BIGINT) AS n_users,
         round(CAST(nv AS DOUBLE) / nullif(nv, 0), 6) AS conv_from_prev,
         round(CAST(nv AS DOUBLE) / nullif(nv, 0), 6) AS conv_from_start
  FROM n
  UNION ALL
  SELECT 2, 'click', CAST(nc AS BIGINT),
         round(CAST(nc AS DOUBLE) / nullif(nv, 0), 6),
         round(CAST(nc AS DOUBLE) / nullif(nv, 0), 6)
  FROM n
  UNION ALL
  SELECT 3, 'purchase', CAST(np AS BIGINT),
         round(CAST(np AS DOUBLE) / nullif(nc, 0), 6),
         round(CAST(np AS DOUBLE) / nullif(nv, 0), 6)
  FROM n
) ORDER BY stage_idx
"""


@register(
    "events_funnel_rates",
    oracle=FUNNEL_ORACLE,
    tags=("batch", "analytics", "custom_op"),
    doc="Aggregate funnel conversion report (operators/analytics.py "
    "funnel_conversion): stage N counts users whose earliest stage-N event "
    "strictly follows their earliest qualifying stage-(N-1) event — the "
    "rates companion to cep_funnel's match enumeration (same NFA semantics, "
    "StreamExecMatch.scala lineage). Scale: every stage is a user-keyed MIN "
    "aggregate joined on the same key (exchange reuse, monotonically "
    "shrinking input); the report crosses one-row aggregates — no collect.",
)
def events_funnel_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.operators.analytics import funnel_conversion

    ev = table(spark, sf_dir, "events")
    return funnel_conversion(ev).orderBy("stage_idx")


# Shared with the streaming twin (stream_daily_anomaly) — one definition.
DAILY_ANOMALY_ORACLE = """
WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n_events
           FROM events GROUP BY event_type, day)
SELECT event_type, day, n_events,
       round((n_events - AVG(n_events) OVER (PARTITION BY event_type))
             / NULLIF(stddev_samp(n_events) OVER (PARTITION BY event_type), 0.0), 6) AS zscore,
       abs(round((n_events - AVG(n_events) OVER (PARTITION BY event_type))
                 / NULLIF(stddev_samp(n_events) OVER (PARTITION BY event_type), 0.0), 6)) >= 2.0
           AS is_anomaly
FROM d ORDER BY event_type, day
"""


@register(
    "events_daily_anomaly",
    oracle=DAILY_ANOMALY_ORACLE,
    tags=("batch", "analytics", "custom_op"),
    doc="Daily volume anomaly report (operators/analytics.py daily_anomaly): "
    "per-(event_type, day) counts z-scored against the type's own daily "
    "history, |z| >= 2 flagged — the ingest drop/spike detector run before "
    "cutting a training snapshot. Scale: one (type, day)-keyed aggregate "
    "with map-side partials reduces the corpus to |types| x |days| rows; "
    "the stats window runs over that tiny table only. Counts are exact "
    "integers so the mean is exact; stddev_samp agrees across engines to "
    "~1e-12 relative and the z-score rounds to 6 dp.",
)
def events_daily_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.operators.analytics import daily_anomaly

    ev = table(spark, sf_dir, "events")
    return daily_anomaly(ev).orderBy("event_type", "day")


@register(
    "events_transition_matrix",
    oracle="""
WITH p AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
  FROM events
),
c AS (SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n_transitions
      FROM p WHERE to_type IS NOT NULL GROUP BY from_type, to_type)
SELECT from_type, to_type, n_transitions,
       round(CAST(n_transitions AS DOUBLE)
             / SUM(n_transitions) OVER (PARTITION BY from_type), 6) AS prob
FROM c ORDER BY from_type, to_type
""",
    tags=("batch", "analytics", "custom_op"),
    doc="First-order Markov transition matrix over per-user event sequences "
    "(operators/analytics.py transition_matrix) — the clickstream path "
    "report the reference serves with keyed OVER windows "
    "(StreamExecOverAggregate.scala lineage): consecutive-event bigram "
    "counts plus row-normalized probabilities. Scale: one user-keyed "
    "shuffle, lead() sorts within bounded per-user partitions, the bigram "
    "aggregate reduces to |types|^2 rows before the normalizing window; "
    "event-id tiebreak makes the sequence engine-deterministic.",
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.operators.analytics import transition_matrix

    ev = table(spark, sf_dir, "events")
    return transition_matrix(ev).orderBy("from_type", "to_type")


@register(
    "events_session_stats",
    oracle="""
WITH o AS (
  SELECT user_id, ts,
         CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                   > 1800 * 1000000
              THEN 1 ELSE 0 END AS new_sess,
         event_id
  FROM events
),
s AS (
  SELECT user_id, ts,
         CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) + 1 AS INTEGER) AS session_seq
  FROM o
)
SELECT user_id, session_seq, MIN(ts) AS started_at,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(floor((epoch_us(MAX(ts)) - epoch_us(MIN(ts))) / 1000000.0) AS BIGINT) AS duration_sec
FROM s GROUP BY user_id, session_seq
ORDER BY user_id, session_seq
""",
    tags=("batch", "analytics", "custom_op"),
    doc="Gap-based sessionization with per-session statistics "
    "(operators/analytics.py sessionize_stats) — the batch gaps-and-islands "
    "form of the reference's session window assigner "
    "(EventTimeSessionWindows, 30-min gap) reporting per-session rows: "
    "start, event count, duration. Scale: one user-keyed shuffle shared by "
    "the gap flag, the running session counter, and the (user, session) "
    "aggregate — nothing re-shuffles after the first exchange; epoch-second "
    "integer comparisons and an event-id tiebreak keep the island "
    "assignment engine-deterministic.",
)
def events_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.operators.analytics import sessionize_stats

    ev = table(spark, sf_dir, "events")
    return sessionize_stats(ev).orderBy("user_id", "session_seq")


@register(
    "events_inter_arrival",
    oracle="""
WITH g AS (
  SELECT event_type,
         (epoch_us(ts) - lag(epoch_us(ts)) OVER (
              PARTITION BY user_id, event_type ORDER BY ts, event_id)) / 1e6 AS gap_s
  FROM events
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
       round(MIN(gap_s), 6) AS min_value, round(MAX(gap_s), 6) AS max_value,
       round(CAST(SUM(CAST(round(gap_s, 6) AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(*), 6) AS avg_value,
       round(quantile_cont(gap_s, 0.5), 6) AS p50,
       round(quantile_cont(gap_s, 0.9), 6) AS p90
FROM g WHERE gap_s IS NOT NULL
GROUP BY event_type ORDER BY event_type
""",
    tags=("batch", "analytics", "custom_op"),
    doc="Per-type inter-arrival cadence report (operators/analytics.py "
    "inter_arrival_stats): gap seconds between consecutive events of the "
    "same (user, type) — the rate-limiting / bot-detection / engagement "
    "audit. Gaps are integer-microsecond differences divided once by 1e6 "
    "(exact to 6 dp, engine-portable), ties break by event id, statistics "
    "reuse the value_percentiles PERCENTILE_CONT contract. One (user, "
    "type)-keyed window (single-lag state) then a types-sized aggregate.",
)
def events_inter_arrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.operators.analytics import inter_arrival_stats

    ev = table(spark, sf_dir, "events")
    return inter_arrival_stats(ev).orderBy("event_type")
