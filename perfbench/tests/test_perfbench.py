"""Self-tests of the benchmark. Run from the repository root:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

The first group is fast. The second runs the benchmark itself (three runs
per workload, about a minute each on 4 cores).
"""

from __future__ import annotations

import datetime
import json
import os
import subprocess
import sys
from decimal import Decimal
from pathlib import Path
from types import SimpleNamespace

import numpy as np
import pyarrow.parquet as pq
import pytest

HERE = Path(__file__).resolve().parent.parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import datagen  # noqa: E402
from flink_1_12_0_src_spark.catalog import TABLES  # noqa: E402
from oracle import fingerprint  # noqa: E402
from hostclock import MIN_SAMPLES, REF_MS, HostProbe  # noqa: E402
from run import span_self_s  # noqa: E402
from tracing import job_counts, tail_percentile, task_stats  # noqa: E402
from worker import STEAL_LIMIT, end_to_end, undisturbed  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def test_fingerprint_ignores_row_and_column_order():
    rows = [(1, "a", 2.5), (2, "b", None)]
    swapped = [(r[2], r[0], r[1]) for r in reversed(rows)]
    assert fingerprint(["k", "s", "x"], rows) == fingerprint(["x", "k", "s"], swapped)


def test_fingerprint_tells_types_apart():
    assert fingerprint(["v"], [(1,)]) != fingerprint(["v"], [(1.0,)])
    assert fingerprint(["v"], [(Decimal("1.5"),)]) == fingerprint(["v"], [(1.5,)])
    utc = datetime.datetime(2024, 1, 1, 3, tzinfo=datetime.timezone.utc)
    assert fingerprint(["t"], [(utc,)]) == fingerprint(["t"], [(utc.replace(tzinfo=None),)])


def test_tail_percentile_leaves_ten_samples_beyond():
    values = [float(i) for i in range(1, 41)]
    pct, v = tail_percentile(values)
    assert pct == 75.0 and v == 30.0
    assert sum(x > v for x in values) >= 10
    assert tail_percentile(values[:10]) == (0.0, 0.0)


def test_task_stats_unions_overlapping_tasks():
    tasks = [
        {"stage": (0, 0), "launch": 0.0, "finish": 2.0, "cpu": 1, "gc": 0, "shuffle_read": 0, "shuffle_write": 0, "spill": 0},
        {"stage": (0, 0), "launch": 1.0, "finish": 3.0, "cpu": 1, "gc": 0, "shuffle_read": 0, "shuffle_write": 0, "spill": 0},
        {"stage": (1, 0), "launch": 5.0, "finish": 6.0, "cpu": 1, "gc": 0, "shuffle_read": 0, "shuffle_write": 0, "spill": 0},
    ]
    s = task_stats(tasks, 0.0, 10.0)
    assert s["exec.task_busy_s"] == 4.0 and s["driver.gap_s"] == 6.0 and s["exec.tasks"] == 3


def test_job_counts_skip_stages_that_ran_no_task_or_ran_before():
    stage = lambda sid, done, failed=0: SimpleNamespace(numCompletedTasks=done, numFailedTasks=failed)  # noqa: E731
    stages = {1: stage(1, 4), 2: stage(2, 0), 3: stage(3, 2, 1), 4: stage(4, 1)}
    jobs = {10: SimpleNamespace(stageIds=[1, 2]), 11: SimpleNamespace(stageIds=[1, 3]), 12: SimpleNamespace(stageIds=[4])}
    tracker = SimpleNamespace(
        getJobIdsForGroup=lambda g: {"q": [10, 11], "run": [12]}.get(g, []),
        getJobInfo=jobs.get, getStageInfo=stages.get,
    )
    sc = SimpleNamespace(statusTracker=lambda: tracker)
    seen = {4}  # counted for an earlier query of the pass
    counts = job_counts(sc, ["q", "run"], seen)
    assert counts == {"spark.jobs": 3, "spark.stages": 2, "spark.tasks": 7, "spark.failed_tasks": 1}
    assert seen == {1, 3, 4}


def test_span_self_time_sums_a_module_or_a_layer():
    self_s = {"pipeline.text.tokens": 1.0, "pipeline.dedup.minhash": 2.0, "pipelines.x.f": 8.0, "catalog.table": 4.0}
    assert span_self_s(self_s, "pipeline") == 3.0
    assert span_self_s(self_s, "pipeline.text") == 1.0
    assert span_self_s(self_s, "catalog") == 4.0
    assert span_self_s(self_s, "operators.graph") == 0.0


def test_disturbed_passes_are_left_out():
    calm, noisy, worse = ({"steal_share": s} for s in (STEAL_LIMIT / 2, STEAL_LIMIT * 2, STEAL_LIMIT * 4))
    assert undisturbed([noisy, calm, worse]) == [calm]
    assert undisturbed([worse, noisy]) == [noisy]


def test_host_probe_scales_a_span_by_its_own_samples():
    probe = HostProbe()
    probe.samples = [(float(t), REF_MS) for t in range(10)] + [(float(t), 2 * REF_MS) for t in range(10, 20)]
    assert probe.scale(0, 9) == 1.0 and probe.scale(10, 19) == 0.5
    # too few samples in the span: the whole run's mean
    assert MIN_SAMPLES > 2 and probe.cost_ms(9.5, 11) == 1.5 * REF_MS


def test_end_to_end_figures_are_scaled_per_span():
    rec = lambda q, t, s: {"query": q, "latency_s": s, "start_epoch": t, "end_epoch": t + s}  # noqa: E731
    passes = [
        {"wall_s": 3.0, "start_epoch": 0.0, "end_epoch": 3.0, "steal_share": 0.0, "records": [rec("a", 0, 1), rec("b", 1, 2)]},
        {"wall_s": 6.0, "start_epoch": 10.0, "end_epoch": 16.0, "steal_share": 0.0, "records": [rec("a", 10, 2), rec("b", 12, 4)]},
    ]
    slow_after_10 = lambda start, end: 0.5 if start >= 10 else 1.0  # noqa: E731
    m = end_to_end(passes, (-5.0, 4.0), slow_after_10)
    assert m == {"setup_s": 4.0, "pass_s": 3.0, "query_p50_s": 1.5}


def test_generated_tables_are_deterministic():
    a, b = datagen.base_tables(0.001), datagen.base_tables(0.001)
    assert set(a) == set(TABLES)
    assert all(a[t].equals(b[t]) for t in a)


@pytest.mark.skipif("SPARK_GRAFT_SF_DIR" not in os.environ, reason="needs the fixture tables in $SPARK_GRAFT_SF_DIR")
def test_generated_tables_match_the_fixture_files(tmp_path):
    """Same parquet column types (physical and logical), row counts at the
    fixture's scale factor, and time order of ``events.ts``."""
    fixtures = Path(os.environ["SPARK_GRAFT_SF_DIR"])
    sf = pq.ParquetFile(fixtures / "lineitem.parquet").metadata.num_rows / 6_000_000
    gen = datagen.write_base(tmp_path / "gen", sf)
    for t in TABLES:
        want, got = pq.ParquetFile(fixtures / f"{t}.parquet"), pq.ParquetFile(gen / f"{t}.parquet")
        kinds = lambda f: [(c.name, c.physical_type, str(c.logical_type)) for c in f.schema]  # noqa: E731
        assert kinds(got) == kinds(want), t
        assert got.metadata.num_rows == want.metadata.num_rows, t
    ordered = lambda d: bool((np.diff(pq.read_table(d / "events.parquet")["ts"].cast("int64").to_numpy()) >= 0).all())  # noqa: E731
    assert ordered(gen) == ordered(fixtures)


def _run(workload: str, seed: int, trace: int) -> tuple[list[str], dict, dict]:
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    detail = json.loads((ROOT / ".perfbench" / f"detail-{workload}-{seed}-t{trace}.json").read_text())
    return lines, json.loads(lines[-1]), detail


class _Runs(dict):
    """Benchmark runs keyed by (workload, seed, trace), each made on first use."""

    def __missing__(self, key):
        self[key] = _run(*key)
        return self[key]


# The first pass orders of seeds 1 and 5 differ on both workloads.
SEEDS = (1, 5)


@pytest.fixture(scope="module")
def runs():
    return _Runs()


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
@pytest.mark.parametrize("trace,kind", [(0, "end_to_end"), (1, "per_layer")])
def test_every_metric_is_emitted_with_its_unit(runs, workload, trace, kind):
    lines, result, _ = runs[(workload, SEEDS[0], trace)]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    want = {m["name"]: m["unit"] for m in SPEC[kind]}
    assert {n: v["unit"] for n, v in result["metrics"].items()} == want
    for name, unit in want.items():
        assert any(ln.startswith(f"{workload} {name} ") and ln.endswith(f" {unit}") for ln in lines), name


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_error_rate_is_zero(runs, workload):
    for key in ((workload, SEEDS[0], 0), (workload, SEEDS[1], 0), (workload, SEEDS[0], 1)):
        lines, result, _ = runs[key]
        assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
        assert f"{workload} error_rate 0 share ({result['failed']} of {result['attempted']} queries)" in lines


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_seed_changes_query_order_but_no_result_hash(runs, workload):
    orders, hashes = {}, {}
    for seed in SEEDS:
        _, _, detail = runs[(workload, seed, 0)]
        orders[seed] = [p["order"] for p in detail["passes"]]
        hashes[seed] = {(r["query"], tuple(r["fingerprint"])) for p in detail["passes"] for r in p["records"]}
    assert orders[SEEDS[0]] != orders[SEEDS[1]]
    assert hashes[SEEDS[0]] == hashes[SEEDS[1]]
    assert len(hashes[SEEDS[0]]) == len(WORKLOADS[workload])


# Per-layer metrics that are 0 on a healthy run: failed tasks, spills and
# rows dropped as late (the inputs are time-ordered, as the fixtures are).
ZERO_WHEN_HEALTHY = {"spark.failed_tasks", "exec.spill_mb", "stream.rows_dropped_by_watermark"}


def test_every_layer_metric_is_reached_by_some_workload(runs):
    """A per-layer metric that stays 0 on every workload measures nothing."""
    reached = set()
    for workload in WORKLOADS:
        _, result, _ = runs[(workload, SEEDS[0], 1)]
        reached |= {n for n, v in result["metrics"].items() if v["value"] != 0}
    names = {m["name"] for m in SPEC["per_layer"]}
    assert names - ZERO_WHEN_HEALTHY <= reached, sorted(names - ZERO_WHEN_HEALTHY - reached)
