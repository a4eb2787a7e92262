#!/usr/bin/env python
"""Opt-in SCALE-TIER bench (r14 verdict task #3): time the heaviest bench
queries on the 10x dataset from tools/gen_scale_data.py at 32 AND 8 cores,
so §2/§3 optimizations show a core-count-proportional scaling ratio instead
of the <=1.0 the sf0.1 bench is stuck at (fixed-overhead-dominated there).

This does NOT touch bench.py or its driver contract — separate artifact
(plans/r15/BENCH_scale_r15.json by default), separate query subset, run by
hand. Each core count runs in a FRESH subprocess (new JVM): one
``bench.py --retime`` pass, so the timing protocol (warmups, median of runs,
caches cleared) is the bench's own.

Usage:
  python tools/gen_scale_data.py --reps 10 --out /root/scale_data/sf1
  python tools/bench_scale.py [--data /root/scale_data/sf1] [--out plans/r15/BENCH_scale_r15.json]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

# the heaviest bench queries: corpus/dedup/pipeline flagships + the iterative
# graph/classifier trainers + one join-heavy TPC-H representative
SCALE_QUERIES = [
    "dedup_soft_weights",
    "dedup_minhash_lsh",
    "dedup_paragraph_minhash",
    "dedup_incremental_admit",
    "pipeline_quality_fit",
    "pipeline_refinedweb_corpus",
    "pipeline_pretrain_corpus",
    "dataset_doremi_weights",
    "graph_pagerank",
    "embedding_kmeans_fit",
    "tpch_q9",
]


def _child(data_dir: str, cpus: int, runs: int, warmups: int) -> dict:
    """One fresh-JVM ``bench.py --retime`` pass over SCALE_QUERIES at `cpus`
    cores: the bench's own timing protocol, driven by its env."""
    env = {
        **os.environ,
        "SPARK_GRAFT_SF_DIR": data_dir,
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_BENCH_RUNS": str(runs),
        "SPARK_GRAFT_BENCH_WARMUPS": str(warmups),
    }
    proc = subprocess.run(
        [sys.executable, str(REPO / "bench.py"), "--retime", ",".join(SCALE_QUERIES)],
        capture_output=True, text=True, timeout=5400, env=env,
    )
    sys.stderr.write(proc.stderr)
    if proc.returncode != 0:
        raise RuntimeError(f"child c{cpus} failed: {proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])["retimed"]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--data", default="/root/scale_data/sf1")
    ap.add_argument("--out", default=str(REPO / "plans" / "r15" / "BENCH_scale_r15.json"))
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--warmups", type=int, default=1)
    args = ap.parse_args()
    loadavg = os.getloadavg()
    t0 = time.time()
    c32 = _child(args.data, 32, args.runs, args.warmups)
    c8 = _child(args.data, 8, args.runs, args.warmups)
    payload = {
        "data_dir": args.data,
        "queries": SCALE_QUERIES,
        "c32": c32,
        "c8": c8,
        "scaling_ratio_c8_over_c32": {
            n: round(c8[n]["median"] / c32[n]["median"], 2)
            for n in SCALE_QUERIES
            if c32.get(n, {}).get("median")
        },
        "loadavg_start": [round(x, 2) for x in loadavg],
        "wall_sec": round(time.time() - t0, 1),
        "note": "ratio > 1 means 32 cores beat 8 — the parallel-scaling signal "
        "the sf0.1 bench cannot show; fresh JVM per core count, caches "
        "cleared per run, median of --runs.",
    }
    Path(args.out).parent.mkdir(parents=True, exist_ok=True)
    Path(args.out).write_text(json.dumps(payload, indent=1, sort_keys=True) + "\n")
    print(json.dumps({"scale_bench": args.out,
                      "ratios": payload["scaling_ratio_c8_over_c32"]}))


if __name__ == "__main__":
    main()
