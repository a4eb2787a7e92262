"""CDC-format queries: debezium-json / canal-json decode → changelog
normalize → current state, oracle-checked (SURVEY.md §2.1 formats, §1.1
changelog model).

The changelog is synthesized deterministically from the orders table (so the
oracle can state the expected final image in pure SQL): every order key gets
an INSERT; keys ≡0 mod 5 get a later UPDATE bumping o_totalprice by +1.0;
keys ≡0 mod 7 get a final DELETE. The Spark side really serializes the
envelopes to JSON strings and decodes them with the production parsers —
the oracle only reasons about the semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from flink_1_12_0_src_spark.catalog import table
from flink_1_12_0_src_spark.operators import changelog_normalize
from flink_1_12_0_src_spark.queries import register
from flink_1_12_0_src_spark.sources.cdc import parse_canal, parse_debezium

_PAYLOAD_DDL = "o_orderkey:bigint,o_custkey:bigint,o_orderstatus:string,o_totalprice:double"
_PAYLOAD_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]


def _orders_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "orders").select(*_PAYLOAD_COLS)


def _payload_struct(*, bump: float | None = None):
    cols = [F.col(c) for c in _PAYLOAD_COLS[:-1]]
    price = F.col("o_totalprice") + bump if bump is not None else F.col("o_totalprice")
    return F.struct(*cols, price.alias("o_totalprice"))


_ORACLE_FINAL_STATE = """
SELECT o_orderkey, o_custkey, o_orderstatus,
       CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + {bump} ELSE o_totalprice END AS o_totalprice
FROM orders WHERE o_orderkey % 7 <> 0
"""


@register(
    "cdc_debezium_normalize",
    oracle=_ORACLE_FINAL_STATE.format(bump="1.0"),
    tags=("cdc", "format", "changelog"),
    doc="debezium-json decode (DebeziumJsonDeserializationSchema, "
    "flink-formats/flink-json): envelopes {before, after, op c/u/d, ts_ms} "
    "are serialized to real JSON, parsed back with from_json, mapped to "
    "rowkind +I/+U/-D, and collapsed to current state by changelog_normalize "
    "(latest ts_ms per key, deletes dropped).",
)
def cdc_debezium_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _orders_payload(spark, sf_dir)
    ins = o.select(
        F.to_json(
            F.struct(
                F.lit(None).cast(f"struct<{_PAYLOAD_DDL}>").alias("before"),
                _payload_struct().alias("after"),
                F.lit("c").alias("op"),
                (F.col("o_orderkey") * 10).alias("ts_ms"),
            )
        ).alias("value")
    )
    upd = o.filter(F.col("o_orderkey") % 5 == 0).select(
        F.to_json(
            F.struct(
                _payload_struct().alias("before"),
                _payload_struct(bump=1.0).alias("after"),
                F.lit("u").alias("op"),
                (F.col("o_orderkey") * 10 + 1).alias("ts_ms"),
            )
        ).alias("value")
    )
    dele = o.filter(F.col("o_orderkey") % 7 == 0).select(
        F.to_json(
            F.struct(
                _payload_struct(bump=1.0).alias("before"),
                F.lit(None).cast(f"struct<{_PAYLOAD_DDL}>").alias("after"),
                F.lit("d").alias("op"),
                (F.col("o_orderkey") * 10 + 2).alias("ts_ms"),
            )
        ).alias("value")
    )
    raw = ins.union(upd).union(dele)
    changelog = parse_debezium(raw, "value", _PAYLOAD_DDL)
    current = changelog_normalize(
        changelog.drop("rowkind"), primary_key=["o_orderkey"], version_col="ts_ms", delete_col="is_delete"
    )
    return current.select(*_PAYLOAD_COLS)


@register(
    "cdc_canal_normalize",
    oracle=_ORACLE_FINAL_STATE.format(bump="2.0"),
    tags=("cdc", "format", "changelog"),
    doc="canal-json decode (CanalJsonDeserializationSchema): envelopes "
    "{data:[rows...], type INSERT/UPDATE/DELETE, es} with multi-row data "
    "arrays (inserts batched in pairs) — explode + rowkind mapping + "
    "changelog_normalize to current state.",
)
def cdc_canal_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _orders_payload(spark, sf_dir)
    # inserts: batch two rows per canal message (exercises the data[] explode)
    ins = (
        o.groupBy(F.expr("o_orderkey DIV 2").alias("pair"))
        .agg(F.sort_array(F.collect_list(_payload_struct())).alias("data"))
        .select(
            F.to_json(
                F.struct(
                    F.col("data"),
                    F.lit("INSERT").alias("type"),
                    (F.col("pair") * 10).alias("es"),
                )
            ).alias("value")
        )
    )
    upd = o.filter(F.col("o_orderkey") % 5 == 0).select(
        F.to_json(
            F.struct(
                F.array(_payload_struct(bump=2.0)).alias("data"),
                F.lit("UPDATE").alias("type"),
                (F.col("o_orderkey") * 10 + 1).alias("es"),
            )
        ).alias("value")
    )
    dele = o.filter(F.col("o_orderkey") % 7 == 0).select(
        F.to_json(
            F.struct(
                F.array(_payload_struct(bump=2.0)).alias("data"),
                F.lit("DELETE").alias("type"),
                (F.col("o_orderkey") * 10 + 2).alias("es"),
            )
        ).alias("value")
    )
    raw = ins.union(upd).union(dele)
    changelog = parse_canal(raw, "value", _PAYLOAD_DDL)
    current = changelog_normalize(
        changelog.drop("rowkind"), primary_key=["o_orderkey"], version_col="ts_ms", delete_col="is_delete"
    )
    return current.select(*_PAYLOAD_COLS)


@register(
    "cdc_foreachbatch_upsert",
    oracle=_ORACLE_FINAL_STATE.format(bump="1.0") + " ORDER BY o_orderkey",
    tags=("cdc", "changelog", "streaming", "upsert"),
    doc="Changelog CONSUMPTION — the documented Spark mapping for Flink's "
    "retract-aware aggregation input (SURVEY §2.4 GAP → 'foreachBatch merge'; "
    "upsert-kafka sink semantics, UpsertKafkaDynamicTableFactory.java:72): a "
    "3-phase +I/+U/-D changelog replayed as an ordered file stream, each "
    "micro-batch MERGEd into a versioned-snapshot maintained table "
    "(streaming/upsert.py). Final snapshot ≡ the oracle's closed-form state.",
)
def cdc_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.streaming.run import scratch_dir
    from flink_1_12_0_src_spark.streaming.source import replay
    from flink_1_12_0_src_spark.streaming.upsert import run_changelog_upsert

    def slices() -> list[DataFrame]:
        o = _orders_payload(spark, sf_dir)
        ins = o.select(*_PAYLOAD_COLS).withColumns(
            {"rowkind": F.lit("+I"), "version": F.lit(0).cast("bigint")}
        )
        upd = (
            o.filter(F.col("o_orderkey") % 5 == 0)
            .withColumn("o_totalprice", F.col("o_totalprice") + 1.0)
            .withColumns({"rowkind": F.lit("+U"), "version": F.lit(1).cast("bigint")})
        )
        dele = o.filter(F.col("o_orderkey") % 7 == 0).withColumns(
            {"rowkind": F.lit("-D"), "version": F.lit(2).cast("bigint")}
        )
        return [phase.coalesce(1) for phase in (ins, upd, dele)]

    tag = sf_dir.strip("/").replace("/", "_")
    stream = replay(spark, f"{tag}_cdc_upsert_stream", slices)
    snap = run_changelog_upsert(
        stream,
        base_dir=scratch_dir(prefix="upsert_tbl_"),
        key_cols=["o_orderkey"],
        version_col="version",
    )
    return snap.drop("version").orderBy("o_orderkey")


@register(
    "cdc_retract_stream_output",
    oracle="""
WITH wk AS (
  SELECT user_id,
         CAST(CASE WHEN d < 19730 THEN 0
                   WHEN d < 19737 THEN 1
                   WHEN d < 19744 THEN 2
                   ELSE 3 END AS INTEGER) AS epoch
  FROM (SELECT user_id,
               epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d
        FROM events)
),
cum AS (
  SELECT user_id, epoch, COUNT(*) AS delta FROM wk GROUP BY 1, 2
),
c1 AS (
  SELECT user_id, epoch,
         CAST(SUM(delta) OVER (PARTITION BY user_id ORDER BY epoch) AS BIGINT) AS cnt
  FROM cum
),
c2 AS (
  SELECT user_id, epoch, cnt,
         LAG(cnt) OVER (PARTITION BY user_id ORDER BY epoch) AS prev
  FROM c1
)
SELECT user_id, epoch, '+I' AS kind, cnt FROM c2 WHERE prev IS NULL
UNION ALL
SELECT user_id, epoch, '-U' AS kind, prev AS cnt FROM c2 WHERE prev IS NOT NULL
UNION ALL
SELECT user_id, epoch, '+U' AS kind, cnt FROM c2 WHERE prev IS NOT NULL
ORDER BY user_id, epoch, kind
""",
    tags=("streaming", "cdc", "changelog", "custom_op"),
    doc="Retraction-stream OUTPUT (Table.toRetractStream; RowKind.java:35-58 "
    "+I/-U/+U as emitted by StreamExecGroupAggregate/GroupAggFunction.java"
    ":141-209): an unbounded per-user COUNT over the calendar-week replay, "
    "every refinement materialized as retract-old/emit-new changelog rows "
    "from per-(key, stage) counts held by Spark's complete-mode streaming "
    "aggregate (streaming/upsert.py run_changelog_count); epoch is the "
    "replay's data-borne week stage, so "
    "the trace is invariant to micro-batch delivery order. Oracle: weekly "
    "cumulative counts exploded into the same +I/-U/+U rows.",
)
def cdc_retract_stream_output(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.streaming.source import events_stream_weeks
    from flink_1_12_0_src_spark.streaming.upsert import run_changelog_count

    s = events_stream_weeks(spark, sf_dir, with_stage=True)
    out = run_changelog_count(s, "user_id")
    return out.select("user_id", F.col("epoch").cast("int").alias("epoch"), "kind", "cnt").orderBy(
        "user_id", "epoch", "kind"
    )


@register(
    "cdc_retract_with_delete",
    oracle="""
WITH wk AS (
  SELECT user_id,
         CAST(CASE WHEN d < 19730 THEN 0
                   WHEN d < 19737 THEN 1
                   WHEN d < 19744 THEN 2
                   ELSE 3 END AS INTEGER) AS epoch
  FROM (SELECT user_id,
               epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d
        FROM events)
),
cum AS (
  SELECT user_id, epoch, COUNT(*) AS delta FROM wk GROUP BY 1, 2
),
c1 AS (
  SELECT user_id, epoch,
         CAST(SUM(delta) OVER (PARTITION BY user_id ORDER BY epoch) AS BIGINT) AS cnt
  FROM cum
),
c2 AS (
  SELECT user_id, epoch, cnt,
         LAG(cnt) OVER (PARTITION BY user_id ORDER BY epoch) AS prev
  FROM c1
)
SELECT user_id, epoch, '+I' AS kind, cnt FROM c2 WHERE prev IS NULL AND cnt < 50
UNION ALL
SELECT user_id, epoch, '-U' AS kind, prev AS cnt FROM c2 WHERE prev IS NOT NULL AND prev < 50 AND cnt < 50
UNION ALL
SELECT user_id, epoch, '+U' AS kind, cnt FROM c2 WHERE prev IS NOT NULL AND prev < 50 AND cnt < 50
UNION ALL
SELECT user_id, epoch, '-D' AS kind, prev AS cnt FROM c2 WHERE prev IS NOT NULL AND prev < 50 AND cnt >= 50
ORDER BY user_id, epoch, kind
""",
    tags=("streaming", "cdc", "changelog", "custom_op"),
    doc="RowKind DELETE round trip, emit side (RowKind.java:55-58; retract "
    "path GroupAggFunction.java:141-209 feeding a filtering Calc): the "
    "per-user COUNT changelog under a HAVING cnt < 50 predicate. While a "
    "count stays below 50 the stream carries +I then -U/+U refinements; the "
    "update that crosses 50 becomes a single -D carrying the last published "
    "count, and the key then falls silent. Weekly replay of events makes "
    "every emission SQL-expressible (same fixture as "
    "cdc_retract_stream_output).",
)
def cdc_retract_with_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.streaming.source import events_stream_weeks
    from flink_1_12_0_src_spark.streaming.upsert import run_changelog_count

    s = events_stream_weeks(spark, sf_dir, with_stage=True)
    out = run_changelog_count(s, "user_id", having_below=50)
    return out.select("user_id", F.col("epoch").cast("int").alias("epoch"), "kind", "cnt").orderBy(
        "user_id", "epoch", "kind"
    )


@register(
    "cdc_consume_changelog_agg",
    oracle="""
SELECT o_orderstatus, COUNT(*) AS cnt,
       CAST(SUM(CASE WHEN o_orderkey % 5 = 0 THEN CAST(o_totalprice AS DECIMAL(12,2)) + 1
                     ELSE CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS total
FROM orders WHERE o_orderkey % 7 <> 0
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
    tags=("streaming", "cdc", "changelog", "custom_op"),
    doc="RowKind DELETE round trip, consume side (GroupAggFunction.java:"
    "141-209 retract() path): a full +I/-U/+U/-D changelog over orders "
    "(insert all; retract-then-update prices for keys %5=0; delete keys "
    "%7=0) feeds a downstream SUM/COUNT per o_orderstatus. Spark's "
    "complete-mode streaming aggregate holds the signed per-group sums "
    "(streaming/upsert.py run_changelog_sum_agg) — retractions subtract, "
    "deletes decrement, history is never rescanned. "
    "Final state ≡ one-shot aggregate over the post-changelog image.",
)
def cdc_consume_changelog_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.queries._util import dec
    from flink_1_12_0_src_spark.streaming.source import replay
    from flink_1_12_0_src_spark.streaming.upsert import run_changelog_sum_agg

    amt_new = (dec("o_totalprice") + 1).cast("decimal(12,2)")

    def slices() -> list[DataFrame]:
        o = _orders_payload(spark, sf_dir).select(
            "o_orderkey", "o_orderstatus", dec("o_totalprice").alias("amount")
        )
        phases = [
            o.withColumn("rowkind", F.lit("+I")),
            _orders_payload(spark, sf_dir)
            .filter(F.col("o_orderkey") % 5 == 0)
            .select(
                "o_orderkey",
                "o_orderstatus",
                F.explode(
                    F.array(
                        F.struct(dec("o_totalprice").alias("amount"), F.lit("-U").alias("rowkind")),
                        F.struct(amt_new.alias("amount"), F.lit("+U").alias("rowkind")),
                    )
                ).alias("e"),
            )
            .select("o_orderkey", "o_orderstatus", "e.amount", "e.rowkind"),
            _orders_payload(spark, sf_dir)
            .filter(F.col("o_orderkey") % 7 == 0)
            .select(
                "o_orderkey",
                "o_orderstatus",
                F.when(F.col("o_orderkey") % 5 == 0, amt_new)
                .otherwise(dec("o_totalprice"))
                .alias("amount"),
                F.lit("-D").alias("rowkind"),
            ),
        ]
        return [ph.coalesce(1) for ph in phases]

    tag = sf_dir.strip("/").replace("/", "_")
    stream = replay(spark, f"{tag}_cdc_retract_changelog", slices)
    snap = run_changelog_sum_agg(stream, "o_orderstatus", "amount")
    return snap.orderBy("o_orderstatus")


@register(
    "cdc_maxwell_normalize",
    oracle=_ORACLE_FINAL_STATE.format(bump="3.0"),
    tags=("cdc", "format", "changelog"),
    doc="maxwell-json decode (MaxwellJsonDeserializationSchema, new format "
    "in Flink 1.12): envelopes {data, old, type insert/update/delete, ts} "
    "with Maxwell's PARTIAL old-image convention (only changed fields "
    "non-null). Serialized to real JSON, parsed back, mapped to rowkind "
    "+I/+U/-D, collapsed to current state by changelog_normalize; the "
    "-U before-image merge (old over data) is pinned by unit test.",
)
def cdc_maxwell_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.sources.cdc import parse_maxwell

    o = _orders_payload(spark, sf_dir)
    ins = o.select(
        F.to_json(
            F.struct(
                _payload_struct().alias("data"),
                F.lit(None).cast(f"struct<{_PAYLOAD_DDL}>").alias("old"),
                F.lit("insert").alias("type"),
                (F.col("o_orderkey") * 10).alias("ts"),
            )
        ).alias("value")
    )
    # maxwell update: data = full new row, old = ONLY the changed field
    upd = o.filter(F.col("o_orderkey") % 5 == 0).select(
        F.to_json(
            F.struct(
                _payload_struct(bump=3.0).alias("data"),
                F.struct(
                    F.lit(None).cast("bigint").alias("o_orderkey"),
                    F.lit(None).cast("bigint").alias("o_custkey"),
                    F.lit(None).cast("string").alias("o_orderstatus"),
                    F.col("o_totalprice").alias("o_totalprice"),
                ).alias("old"),
                F.lit("update").alias("type"),
                (F.col("o_orderkey") * 10 + 1).alias("ts"),
            )
        ).alias("value")
    )
    dele = o.filter(F.col("o_orderkey") % 7 == 0).select(
        F.to_json(
            F.struct(
                _payload_struct(bump=3.0).alias("data"),
                F.lit(None).cast(f"struct<{_PAYLOAD_DDL}>").alias("old"),
                F.lit("delete").alias("type"),
                (F.col("o_orderkey") * 10 + 2).alias("ts"),
            )
        ).alias("value")
    )
    raw = ins.union(upd).union(dele)
    changelog = parse_maxwell(raw, "value", _PAYLOAD_DDL)
    current = changelog_normalize(
        changelog.drop("rowkind"), primary_key=["o_orderkey"], version_col="ts_ms", delete_col="is_delete"
    )
    return current.select(*_PAYLOAD_COLS)
