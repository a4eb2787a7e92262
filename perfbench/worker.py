"""One benchmark process: set up a session, run the workload's passes in a
closed loop, check every result, and write the measurements as JSON.

Started by ``run.py`` in a fresh process (its environment puts the repo root
on ``PYTHONPATH`` and keeps scratch files inside the checkout). A single
client submits the workload's queries one at a time; each is built with its
registered query function and fully materialized with ``toArrow()`` before
the next is sent. The first pass warms the JVM and is not measured.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import statistics
import time
import traceback
from pathlib import Path

from workloads import WORKLOADS

# On a shared host, a pass that loses a fifth of the CPU time to other guests
# (steal in /proc/stat) runs 1.8x slower on the same code; the end-to-end
# figures come from passes that lost at most this share.
STEAL_LIMIT = 0.05


def _host_steal() -> float:
    """CPU-seconds the hypervisor gave to other guests, over all CPUs."""
    fields = Path("/proc/stat").read_text().split("\n", 1)[0].split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _vm_hwm_mb(pid: int | str) -> float:
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024
    return 0.0


class Bench:
    def __init__(self, args, spark, reg, spans, stream_stats) -> None:
        self.args = args
        self.spark = spark
        self.reg = reg
        self.spans = spans
        self.stream_stats = stream_stats
        self.queries = WORKLOADS[args.workload]
        self.expected = {q: tuple(v) for q, v in json.loads(Path(args.expected).read_text()).items()}
        self.rng = random.Random(args.seed)
        self.records: list[dict] = []
        self.passes: list[dict] = []
        self.seen_stages: set[int] = set()

    def run_query(self, name: str, tag: str, traced: bool) -> dict:
        # Imported here, after set-up is measured: the oracle harness loads
        # duckdb, which is the benchmark's cost, not the program's.
        from oracle import fingerprint

        from flink_1_12_0_src_spark.pipeline.stageclock import record_stages

        sc = self.spark.sparkContext
        rec = {"pass": tag, "query": name, "ok": False, "stages": {}}
        qid = f"{tag}:{name}"
        if traced:
            sc.setJobGroup(qid, name)
            self.spans.query = qid
            runs_before = set(self.stream_stats.started)
        clock = record_stages(rec["stages"]) if traced else contextlib.nullcontext()
        rec["start_epoch"], t0 = time.time(), time.perf_counter()
        try:
            with clock:
                df = self.reg[name].spark(self.spark, self.args.data)
                t1 = time.perf_counter()
                tbl = df.toArrow()
            t2 = time.perf_counter()
            rec.update(build_s=t1 - t0, action_s=t2 - t1, latency_s=t2 - t0)
            rows = list(zip(*(c.to_pylist() for c in tbl.columns))) if tbl.num_columns else []
            rec["fingerprint"] = list(fingerprint(tbl.column_names, rows))
            rec["ok"] = tuple(rec["fingerprint"]) == self.expected[name]
        except Exception:  # a failing query is counted, and the pass goes on
            rec["error"] = traceback.format_exc(limit=3)
            rec.setdefault("latency_s", time.perf_counter() - t0)
        rec["end_epoch"] = time.time()
        if traced:
            from tracing import job_counts

            self.stream_stats.drain()
            groups = [qid, *sorted(self.stream_stats.started - runs_before)]
            rec["spark"] = job_counts(sc, groups, self.seen_stages)
            sc.setJobGroup(None, None)
        return rec

    def run_pass(self, tag: str, traced: bool = False) -> dict:
        order = list(self.queries)
        self.rng.shuffle(order)
        if self.stream_stats is not None:
            self.stream_stats.tag = tag
        self.seen_stages = set()
        start_epoch, t0, steal0 = time.time(), time.perf_counter(), _host_steal()
        recs = [self.run_query(name, tag, traced) for name in order]
        wall = time.perf_counter() - t0
        if self.stream_stats is not None:
            self.stream_stats.drain()
        p = {"tag": tag, "order": order, "wall_s": wall,
             "steal_share": (_host_steal() - steal0) / (os.cpu_count() * wall),
             "start_epoch": start_epoch, "end_epoch": time.time(), "records": recs,
             "persisted": _persisted(self.spark.sparkContext)}
        self.records += recs
        return p

    def timed_passes(self, seconds: float) -> list[dict]:
        """Measured passes: whole passes until ``seconds`` have elapsed, and
        one more if the last one was disturbed (see ``undisturbed``)."""
        out: list[dict] = []
        t0 = time.perf_counter()
        while not out or time.perf_counter() - t0 < seconds:
            out.append(self.run_pass(f"p{len(out) + 1}"))
        if out[-1]["steal_share"] > STEAL_LIMIT:
            out.append(self.run_pass(f"p{len(out) + 1}"))
        return out


def _persisted(sc) -> tuple[int, float]:
    jsc = sc._jsc
    infos = jsc.sc().getRDDStorageInfo()
    return len(jsc.getPersistentRDDs()), sum(i.memSize() for i in infos) / 2**20


def undisturbed(passes: list[dict]) -> list[dict]:
    """The passes that lost at most STEAL_LIMIT of the host's CPU time to
    other guests, or else the one that lost the least."""
    return [p for p in passes if p["steal_share"] <= STEAL_LIMIT] or [min(passes, key=lambda p: p["steal_share"])]


def end_to_end(measured: list[dict], setup: tuple[float, float], scale) -> dict:
    """The end-to-end figures, each wall time scaled to the reference host
    speed by ``scale(start_epoch, end_epoch)`` (see ``hostclock``); ``setup``
    is the set-up's ``(start_epoch, seconds)``. ``query_p50_s`` is the
    median over the workload's queries of each query's median latency. A
    median pooled over all latencies would fall in the gap between two
    queries' latencies, where one outlier moves it."""
    measured = undisturbed(measured)
    lat: dict[str, list[float]] = {}
    for p in measured:
        for r in p["records"]:
            lat.setdefault(r["query"], []).append(r["latency_s"] * scale(r["start_epoch"], r["end_epoch"]))
    setup_start, setup_s = setup
    return {
        "setup_s": setup_s * scale(setup_start, setup_start + setup_s),
        "pass_s": statistics.median(p["wall_s"] * scale(p["start_epoch"], p["end_epoch"]) for p in measured),
        "query_p50_s": statistics.median(statistics.median(v) for v in lat.values()),
    }


def per_layer(bench: Bench, before: dict, traced: dict, after: dict, setup: dict, log_dir: Path) -> dict:
    from tracing import read_tasks, task_stats

    recs = traced["records"]
    m: dict[str, float] = {
        "session.get_spark_s": setup["session.get_spark_s"],
        "queries.load_all_s": setup["queries.load_all_s"],
        "query.build_s": sum(r.get("build_s", 0.0) for r in recs),
        "query.action_s": sum(r.get("action_s", 0.0) for r in recs),
    }
    for k in ("spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks"):
        m[k] = sum(r["spark"][k] for r in recs)
    m["spark.tasks_per_stage"] = m["spark.tasks"] / max(1, m["spark.stages"])
    m["spark.persisted_rdds"], m["spark.storage_mb"] = traced["persisted"]
    m["spark.persisted_rdds_delta"] = traced["persisted"][0] - before["persisted"][0]
    jvm_pid = bench.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    m["mem.python_peak_rss_mb"], m["mem.jvm_peak_rss_mb"] = _vm_hwm_mb("self"), _vm_hwm_mb(jvm_pid)
    bench.spark.stop()  # flushes the event log
    m.update(task_stats(read_tasks(log_dir), traced["start_epoch"], traced["end_epoch"]))
    stream = bench.stream_stats.summary(traced["tag"])
    call_wall = bench.spans.outer_wall("streaming.")
    m.update(stream)
    m["stream.call_s"] = call_wall
    m["stream.events_per_s"] = stream["stream.input_rows"] / call_wall if call_wall else 0.0
    m["stream.harness_gap_s"] = call_wall - stream["stream.trigger_s"] if stream["stream.batches"] else 0.0
    untraced = (before["wall_s"] + after["wall_s"]) / 2
    m["trace.pass_untraced_s"] = untraced
    m["trace.pass_traced_s"] = traced["wall_s"]
    m["trace.overhead_s"] = traced["wall_s"] - untraced
    return m


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", required=True)
    ap.add_argument("--expected", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--spawned-at", type=float, required=True)
    args = ap.parse_args()
    work = Path(args.work)
    cpus = os.cpu_count() or 1

    from flink_1_12_0_src_spark import queries, session

    spans = stream_stats = None
    conf = {"spark.ui.showConsoleProgress": "false"}
    log_dir = work / "eventlog"
    if args.trace:
        from tracing import Spans, StreamStats

        spans, stream_stats = Spans(), StreamStats()
        spans.install()
        shutil.rmtree(log_dir, ignore_errors=True)
        log_dir.mkdir(parents=True)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": log_dir.as_uri(),
                     "spark.eventLog.compress": "false"})
    t0 = time.monotonic()
    spark = session.get_spark(app_name=f"perfbench-{args.workload}", cpus=cpus, shuffle_partitions=cpus, extra_conf=conf)
    t1 = time.monotonic()
    reg = queries.load_all()
    t2 = time.monotonic()
    setup = {"setup_s": t2 - args.spawned_at, "session.get_spark_s": t1 - t0, "queries.load_all_s": t2 - t1}
    out = Path(args.out)
    bench = Bench(args, spark, reg, spans, stream_stats)
    bench.passes.append(bench.run_pass("warmup"))
    result: dict = {"setup": setup}
    if args.trace:
        # Untraced passes on both sides of the traced one, so the JVM still
        # settling after the warm-up does not read as tracing overhead.
        # The listener stays on for all three so that the batch-duration tail
        # pools enough micro-batches.
        spark.streams.addListener(stream_stats)
        before = bench.run_pass("untraced1")
        spans.enabled = True
        traced = bench.run_pass("traced", traced=True)
        spans.enabled = False
        after = bench.run_pass("untraced2")
        spark.streams.removeListener(stream_stats)
        bench.passes += [before, traced, after]
        spans.dump(work / f"spans-{args.workload}-{args.seed}.json")
        result["metrics"] = per_layer(bench, before, traced, after, setup, log_dir)
        result["self_s"] = spans.self_times()
        result["stages_s"] = {}
        for r in traced["records"]:
            for stage, sec in r["stages"].items():
                result["stages_s"][stage] = result["stages_s"].get(stage, 0.0) + sec
    else:
        bench.passes += bench.timed_passes(args.seconds)
        spark.stop()
    result["attempted"] = len(bench.records)
    result["failed"] = sum(not r["ok"] for r in bench.records)
    result["passes"] = bench.passes
    out.write_text(json.dumps(result))


if __name__ == "__main__":
    main()
