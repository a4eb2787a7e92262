"""Changelog state on Spark — retraction *consumption* and *emission*
(SURVEY.md §2.4: Flink's StreamExecGroupAggregate consumes and emits
-U/+U/-D rows; Spark has no retraction-aware operator). PAPER.md §1.1 gives
two mappings, and this module uses each where it fits:

- ``run_changelog_count`` and ``run_changelog_sum_agg`` only sum counts (or
  signed amounts) per key, so Spark's own complete-mode streaming aggregate
  holds their state; the changelog is derived from its final snapshot.
- ``UpsertSink`` / ``run_changelog_upsert`` keep the latest row per key by
  version, which no built-in operator does, so they materialize each
  micro-batch with ``foreachBatch`` + MERGE:

Per micro-batch of changelog rows (+I / +U / -D with a version column):
  1. collapse the batch itself to one final row per key (last by version);
  2. MERGE into the maintained table BY VERSION: between the stored row and
     the batch row, the higher version wins (Kafka log-compaction order),
     and a winning -D persists as a TOMBSTONE row rather than deleting the
     key — so a delete delivered before a stale earlier update still
     suppresses it, and the final state is invariant to micro-batch
     delivery order. ``snapshot()`` filters tombstones out;
  3. rewrite ONLY the key-buckets the batch touched, as NEW versioned bucket
     directories, then advance the per-bucket pointers — never rewrite in
     place, so a reader always sees complete bucket snapshots and a failed
     batch leaves every previous pointer intact (the commit-log idea behind
     table formats, minus the format dependency; with Delta/Iceberg available
     this becomes a real MERGE INTO).

Scale: the maintained table is hash-bucketed by key (``_b = pmod(hash(keys),
n_buckets)``, the file-level analog of Flink's keyed state). A trigger whose
delta hits 3 of 16 buckets reads and rewrites 3/16ths of the table; write
amplification per trigger is O(touched buckets), not O(table).
The merge joins the batch (small) against only those buckets on the key.
"""

from __future__ import annotations

import glob as globmod
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from flink_1_12_0_src_spark.streaming.run import _STAGE_COL, _drive, run_to_batch

# The changelog kind column (+I / -U / +U / -D) run_changelog_sum_agg reads.
_ROWKIND_COL = "rowkind"


def _touched_buckets(delta: DataFrame) -> list[int]:
    """Bucket ids a micro-batch delta touches — a bounded (<= n_buckets)
    driver-side id list used to prune which bucket FILES are re-read;
    never row data."""
    return [r["_b"] for r in delta.select("_b").distinct().collect()]


class UpsertSink:
    """foreachBatch target maintaining bucketed current state under
    ``base_dir/v{n}/_b={k}``, with per-bucket version pointers."""

    def __init__(
        self,
        base_dir: str,
        key_cols: list[str],
        version_col: str,
        rowkind_col: str,
        n_buckets: int = 16,
        io_stats: dict | None = None,
    ):
        self.base_dir = base_dir
        self.key_cols = key_cols
        self.version_col = version_col
        self.rowkind_col = rowkind_col
        self.n_buckets = n_buckets
        self.version = 0
        self.ptr: dict[int, str] = {}  # bucket id → current bucket-snapshot dir
        self.data_schema = None  # payload schema (no rowkind, no _b)
        self.stats = io_stats if io_stats is not None else {}
        self.stats.setdefault("files_read", 0)
        self.stats.setdefault("files_total", 0)

    def _pointed_files(self) -> dict[int, list[str]]:
        return {
            b: globmod.glob(os.path.join(p, "*.parquet")) for b, p in self.ptr.items()
        }

    def _read_pointed(self, spark: SparkSession, files: dict[int, list[str]], buckets) -> DataFrame:
        parts = [
            spark.read.schema(self.data_schema).parquet(*files[b]).withColumn("_b", F.lit(b))
            for b in buckets
            if files.get(b)
        ]
        if not parts:
            return spark.createDataFrame([], self.data_schema).withColumn(
                "_b", F.lit(0).cast("int")
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def process_batch(self, batch: DataFrame, _batch_id: int) -> None:
        if not batch.take(1):
            return
        spark = batch.sparkSession
        # 1. collapse the batch: last row per key by version, tag key-bucket;
        #    -D becomes a tombstone row (kept, filtered at snapshot time)
        last = batch.groupBy(*self.key_cols).agg(
            F.max_by(
                F.struct(*[c for c in batch.columns if c not in self.key_cols]),
                F.col(self.version_col),
            ).alias("_r")
        )
        last = (
            last.select(*self.key_cols, "_r.*")
            .withColumn("_tomb", (F.col(self.rowkind_col) == "-D").cast("int"))
            .drop(self.rowkind_col)
            .withColumn(
                "_b", F.pmod(F.hash(*self.key_cols), F.lit(self.n_buckets)).cast("int")
            )
        )
        last = last.persist()
        if self.data_schema is None:
            self.data_schema = last.drop("_b").schema
        touched = sorted(_touched_buckets(last))
        files = self._pointed_files()
        self.stats["files_total"] += sum(len(v) for v in files.values())
        self.stats["files_read"] += sum(len(files.get(b, [])) for b in touched)
        # 2. MERGE within touched buckets only, by VERSION: stored row vs
        #    batch row, higher version wins (ties → the batch row) — the
        #    log-compaction rule, making the final state delivery-order
        #    invariant; tombstones compete like any other row
        from pyspark.sql.window import Window

        cur = self._read_pointed(spark, files, touched)
        unioned = cur.withColumn("_pri", F.lit(0)).unionByName(
            last.withColumn("_pri", F.lit(1))
        )
        w = Window.partitionBy(*self.key_cols).orderBy(
            F.col(self.version_col).desc(), F.col("_pri").desc()
        )
        merged = (
            unioned.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_pri")
        )
        # 3. new bucket snapshots for touched buckets, then advance pointers
        nxt = self.version + 1
        vdir = os.path.join(self.base_dir, f"v{nxt}")
        merged.write.partitionBy("_b").mode("overwrite").parquet(vdir)
        for b in touched:
            self.ptr[b] = os.path.join(vdir, f"_b={b}")
        self.version = nxt
        last.unpersist()

    def snapshot(self, spark: SparkSession) -> DataFrame:
        if self.data_schema is None:
            raise RuntimeError(
                "UpsertSink.snapshot: no non-empty micro-batch was processed, "
                "so the maintained table has no schema — nothing to snapshot"
            )
        return (
            self._read_pointed(spark, self._pointed_files(), sorted(self.ptr))
            .filter(F.col("_tomb") == 0)
            .drop("_b", "_tomb")
        )


def run_changelog_upsert(
    stream_df: DataFrame,
    base_dir: str,
    key_cols: list[str],
    version_col: str,
    rowkind_col: str = "rowkind",
    n_buckets: int = 16,
    io_stats: dict | None = None,
) -> DataFrame:
    """Drive a changelog stream through the foreachBatch MERGE to completion
    and return the final maintained-table snapshot. ``io_stats`` accumulates
    {files_read, files_total} so tests can assert bucket-pruned rewrites."""
    sink = UpsertSink(base_dir, key_cols, version_col, rowkind_col, n_buckets, io_stats)
    _drive(stream_df.writeStream.foreachBatch(sink.process_batch))
    return sink.snapshot(stream_df.sparkSession)


def run_changelog_count(
    stream_df: DataFrame, key: str, having_below: int | None = None
) -> DataFrame:
    """Retraction-stream OUTPUT — Flink Table.toRetractStream / the changelog
    a StreamExecGroupAggregate emits (RowKind.java:35-58, GroupAggFunction
    .java:141-209): an unbounded per-key COUNT whose every refinement is
    materialized as +I (first value) or -U/+U (retract old, emit new) rows.

    Spark exposes no retraction rows, so the changelog is reconstructed from
    streaming state: a complete-mode ``groupBy(key, stage).count()`` keeps
    the per-(key, stage) counts in Spark's state store (one row per
    key×stage — the accumulator state of the reference operator, split by
    the replay's data-borne ``stage`` column), and at end-of-stream the
    per-stage cumulative counts are exploded into the +I/-U/+U rows Flink
    would have emitted under in-order delivery. Labeling and ordering come
    from the DATA (``epoch`` = stage), never the trigger index, so the trace
    is invariant to micro-batch delivery order — the round-3 driver red was
    exactly a delivery-order scramble relabeling cumulative counts.

    ``having_below`` adds the RowKind DELETE leg: with a ``HAVING cnt < N``
    filter downstream of the aggregate, Flink's filter Calc transforms the
    changelog — an update whose old count passed the predicate but whose new
    count fails it emits ``-D`` with the old row, and rows that never pass
    emit nothing (RowKind.java:55-58 DELETE; the retract path of
    GroupAggFunction.java:141-209 feeding a filtering Calc). Counts only
    grow, so a key emits +I once, -U/+U while below N, one -D when it
    crosses N, then silence.

    Returns (key, epoch, kind, cnt) — epoch is the data-borne stage index.
    """
    from pyspark.sql.window import Window

    counts = run_to_batch(stream_df.groupBy(key, _STAGE_COL).count())
    w = Window.partitionBy(key).orderBy(_STAGE_COL)
    c = (
        counts.withColumn("cnt", F.sum("count").over(w))
        .withColumn("prev", F.lag("cnt").over(w))
        .withColumnRenamed(_STAGE_COL, "epoch")
    )
    if having_below is not None:
        qual_old = (F.col("prev") > 0) & (F.col("prev") < having_below)
        qual_new = F.col("cnt") < having_below
    else:
        qual_old = F.col("prev") > 0
        qual_new = F.lit(True)
    ins = c.filter(F.col("prev").isNull() & qual_new).select(
        key, "epoch", F.lit("+I").alias("kind"), F.col("cnt")
    )
    ub = c.filter(F.col("prev").isNotNull() & qual_old & qual_new).select(
        key, "epoch", F.lit("-U").alias("kind"), F.col("prev").alias("cnt")
    )
    ua = c.filter(F.col("prev").isNotNull() & qual_old & qual_new).select(
        key, "epoch", F.lit("+U").alias("kind"), F.col("cnt")
    )
    out = ins.unionByName(ub).unionByName(ua)
    if having_below is not None:
        dels = c.filter(F.col("prev").isNotNull() & qual_old & ~qual_new).select(
            key, "epoch", F.lit("-D").alias("kind"), F.col("prev").alias("cnt")
        )
        out = out.unionByName(dels)
    return out


def run_changelog_sum_agg(stream_df: DataFrame, group_col: str, amount_col: str) -> DataFrame:
    """Retraction-stream CONSUMPTION into a downstream aggregate — the
    retract() path of Flink's GroupAggFunction (GroupAggFunction.java:141-209
    calls ``function.retract(input)`` for -U/-D rows; RowKind.java:35-58):
    a full +I/-U/+U/-D changelog (kind in the ``rowkind`` column) feeds
    SUM/COUNT accumulators per group, where accumulate applies +amount/+1
    and retract applies -amount/-1.

    Spark has no retraction-consuming operator, but the signed accumulators
    are plain sums: a complete-mode ``groupBy(group).agg(sum(sign),
    sum(sign * amount))`` keeps them in Spark's state store, one row per
    group, and each micro-batch only adds its partial aggregate — history is
    never rescanned. Groups whose count is not positive are dropped at the
    end, mirroring the reference's state cleanup when ``recordCounter`` hits
    zero (GroupAggFunction.java:178-196). The cut runs once, on the final
    sums, so a retraction delivered before its insert cannot drop a group
    early and the result is delivery-order invariant.

    Amounts must be exact (DECIMAL) — incremental adds of decimals are
    order-independent, so the final state is bit-equal to a one-shot
    aggregate.

    Returns the final (group, cnt, total) snapshot with total as DOUBLE.
    """
    sign = F.when(F.col(_ROWKIND_COL).isin("+I", "+U"), F.lit(1)).otherwise(F.lit(-1))
    sums = run_to_batch(
        stream_df.groupBy(group_col).agg(
            F.sum(sign).alias("cnt"), F.sum(sign * F.col(amount_col)).alias("total")
        )
    )
    return sums.filter(F.col("cnt") > 0).select(
        group_col, "cnt", F.col("total").cast("double").alias("total")
    )
