#!/usr/bin/env python
"""Deterministically synthesize a LARGER dataset from the driver's sf0.1
fixtures — the opt-in scale tier for tools/bench_scale.py (r14 verdict task
#3: at sf0.1 every bench query is fixed-overhead-dominated, 8 cores beat 32
on 27/34 queries, so parallel-scaling wins are invisible).

Each table is replicated ``--reps`` times with replica-offset keys so joins
stay referentially intact within a replica (orderkey/custkey/partkey/
suppkey/doc_id/vec_id/user_id/event_id all shift by a per-replica span;
nation/region dimensions copy unchanged). Documents additionally get one
replica-tagged trailing token so replicas are NEAR-duplicates (high-jaccard
pairs across replicas — realistic dedup pressure) instead of exact clones.
Everything is a pure deterministic projection of the read-only fixtures:
same input -> same output, no randomness, no time dependence.

The output dir is NOT /root/testdata (read-only) and is NOT used by any
registered query, test, or the driver bench — scale-tier only.

Usage: python tools/gen_scale_data.py [--reps 10] [--out /root/scale_data/sf1]
"""

from __future__ import annotations

import argparse
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from flink_1_12_0_src_spark.catalog import TABLES, table  # noqa: E402
from flink_1_12_0_src_spark.session import get_spark  # noqa: E402

# per-replica key offsets: far above any sf0.1 key range, disjoint per keyspace
SPANS = {
    "doc_id": 10_000_000,
    "vec_id": 10_000_000,
    "event_id": 100_000_000,
    "user_id": 1_000_000,  # = c_custkey's span: events.user_id references customers
    "l_orderkey": 10_000_000,
    "o_orderkey": 10_000_000,
    "o_custkey": 1_000_000,
    "c_custkey": 1_000_000,
    "l_partkey": 1_000_000,
    "p_partkey": 1_000_000,
    "l_suppkey": 100_000,
    "s_suppkey": 100_000,
}
UNCHANGED = {"nation", "region"}


def scale_table(spark, sf_dir: str, name: str, reps: int):
    df = table(spark, sf_dir, name)
    if name in UNCHANGED:
        return df
    reps_df = spark.range(reps).select(F.col("id").cast("bigint").alias("_rep"))
    out = df.crossJoin(F.broadcast(reps_df))
    for c, span in SPANS.items():
        if c in df.columns:
            out = out.withColumn(c, F.col(c) + F.col("_rep") * F.lit(span))
    if name == "documents":
        # one replica-tagged trailing token: replicas are near-duplicates
        # (high jaccard), not byte-identical clones
        out = out.withColumn(
            "text", F.concat(F.col("text"), F.lit(" zrep"), F.col("_rep"))
        ).withColumn("n_chars", F.length("text").cast("bigint"))
    return out.drop("_rep")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=10)
    ap.add_argument("--out", default="/root/scale_data/sf1")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    args = ap.parse_args()
    assert not os.path.realpath(args.out).startswith("/root/testdata"), (
        "refusing to write into the read-only fixture tree"
    )
    spark = get_spark(app_name="gen-scale-data", cpus=16, shuffle_partitions=16)
    os.makedirs(args.out, exist_ok=True)
    for name in TABLES:
        dst = os.path.join(args.out, f"{name}.parquet")
        df = scale_table(spark, args.sf_dir, name, args.reps)
        n_files = 1 if name in UNCHANGED else 8
        df.repartition(n_files).write.mode("overwrite").parquet(dst)
        print(f"wrote {dst}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
