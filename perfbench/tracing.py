"""Instruments of the traced run. All of them sit outside the program and
read it through public surfaces only:

- ``Spans`` wraps the public functions of the program's layer modules
  (``catalog``, ``pipeline.*``, ``operators.*``, ``streaming.*``) and keeps
  one span per call in memory: name, start, end, parent, query id.
- ``StreamStats`` is a ``StreamingQueryListener`` that keeps every
  micro-batch's progress and can wait until every query it saw start has
  terminated (listener events arrive asynchronously).
- ``job_counts`` reads the jobs of a query's job groups, and the stages
  and tasks that ran in them, from ``statusTracker``.
- ``task_stats`` reads per-task executor metrics from Spark's JSON event log.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import pkgutil
import statistics
import sys
import threading
import time
from pathlib import Path

from pyspark.sql.streaming import StreamingQueryListener

PACKAGE = "flink_1_12_0_src_spark"
LAYERS = ("catalog", "pipeline", "operators", "streaming")
# The stage clock is itself an instrument; its context managers are read
# through ``record_stages`` instead of being wrapped.
SKIP_MODULES = {f"{PACKAGE}.pipeline.stageclock"}


def layer_modules() -> list[str]:
    """Names of the modules whose public functions get spans."""
    names = []
    for layer in LAYERS:
        mod = importlib.import_module(f"{PACKAGE}.{layer}")
        names.append(mod.__name__)
        if hasattr(mod, "__path__"):
            names += [f"{mod.__name__}.{m.name}" for m in pkgutil.iter_modules(mod.__path__)]
    return [n for n in names if n not in SKIP_MODULES]


def module_label(module: str) -> str:
    return module.removeprefix(PACKAGE + ".").removesuffix(".__init__")


class Spans:
    """In-memory span recorder over wrapped module functions. Recording is
    off until ``enabled`` is set, so the wrappers can be installed once,
    before the query modules import the functions by name."""

    def __init__(self) -> None:
        self.enabled = False
        self.query = ""
        self.spans: list[list] = []  # [name, start, end, parent index, query]
        self._local = threading.local()
        # foreachBatch callbacks call into the layers from py4j threads
        self._lock = threading.Lock()

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            stack = self._local.__dict__.setdefault("stack", [])
            span = [name, time.perf_counter(), None, stack[-1] if stack else -1, self.query]
            with self._lock:
                self.spans.append(span)
                stack.append(len(self.spans) - 1)
            try:
                return fn(*args, **kwargs)
            finally:
                span[2] = time.perf_counter()
                stack.pop()

        return wrapper

    def install(self) -> None:
        """Wrap every public function defined in a layer module, and rebind
        every reference to it that already-imported program modules hold.
        Must run before ``queries.load_all`` imports the query modules."""
        wrapped = {}
        for modname in layer_modules():
            mod = importlib.import_module(modname)
            for attr, obj in vars(mod).items():
                if attr.startswith("_") or not inspect.isfunction(obj) or obj.__module__ != modname:
                    continue
                wrapped[id(obj)] = (obj, self._wrap(f"{module_label(modname)}.{attr}", obj))
        for modname, mod in list(sys.modules.items()):
            if mod is None or not modname.startswith(PACKAGE):
                continue
            for attr, obj in list(vars(mod).items()):
                hit = wrapped.get(id(obj))
                if hit is not None and hit[0] is obj:
                    setattr(mod, attr, hit[1])

    def self_times(self) -> dict[str, float]:
        """Seconds per function name, minus the time its child spans cover."""
        child = [0.0] * len(self.spans)
        for name, start, end, parent, _ in self.spans:
            if parent >= 0 and end is not None:
                child[parent] += end - start
        out: dict[str, float] = {}
        for i, (name, start, end, _, _) in enumerate(self.spans):
            if end is not None:
                out[name] = out.get(name, 0.0) + (end - start) - child[i]
        return out

    def outer_wall(self, prefix: str) -> float:
        """Wall seconds of spans under ``prefix`` that no other such span
        encloses (the outermost calls into that layer)."""
        total = 0.0
        for name, start, end, parent, _ in self.spans:
            if end is None or not name.startswith(prefix):
                continue
            p = parent
            while p >= 0 and not self.spans[p][0].startswith(prefix):
                p = self.spans[p][3]
            if p < 0:
                total += end - start
        return total

    def dump(self, path: Path) -> None:
        path.write_text(json.dumps(
            [{"name": n, "start": s, "end": e, "parent": p, "query": q} for n, s, e, p, q in self.spans]
        ))


class StreamStats(StreamingQueryListener):
    """Keeps the progress of every micro-batch of every streaming query,
    filed under the pass (``tag``) that was current when the query started;
    Spark delivers the start event before ``start()`` returns."""

    PHASES = ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset", "getBatch")

    def __init__(self) -> None:
        self._lock = threading.Condition()
        self.tag = ""
        self.run_tag: dict[str, str] = {}
        self.terminated: set[str] = set()
        self.batches: list[dict] = []

    @property
    def started(self) -> set[str]:
        with self._lock:
            return set(self.run_tag)

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self.run_tag[str(event.runId)] = self.tag

    def onQueryProgress(self, event) -> None:
        p = event.progress
        ops = p.stateOperators or []
        row = {
            "run": str(p.runId),
            "rows": int(p.numInputRows),
            "duration": {k: int(v) for k, v in (p.durationMs or {}).items()},
            "state_rows": sum(int(o.numRowsTotal) for o in ops),
            "state_bytes": sum(int(o.memoryUsedBytes) for o in ops),
            "dropped": sum(int(o.numRowsDroppedByWatermark) for o in ops),
        }
        with self._lock:
            self.batches.append(row)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self.terminated.add(str(event.runId))
            self._lock.notify_all()

    def drain(self, timeout: float = 60.0) -> bool:
        """Wait until every query seen starting has terminated: its last
        progress event is delivered before its termination event."""
        with self._lock:
            return self._lock.wait_for(lambda: set(self.run_tag) <= self.terminated, timeout)

    def summary(self, tag: str) -> dict[str, float]:
        """Sums over the micro-batches of pass ``tag``; the batch-duration
        median and tail pool the batches of every pass seen."""
        with self._lock:
            pooled = list(self.batches)
            batches = [b for b in pooled if self.run_tag.get(b["run"]) == tag]
        out = {f"stream.{_snake(p)}_s": sum(b["duration"].get(p, 0) for b in batches) / 1e3 for p in self.PHASES}
        last: dict[str, dict] = {}
        for b in batches:
            last[b["run"]] = b
        trig = sorted(b["duration"].get("triggerExecution", 0) / 1e3 for b in pooled)
        tail_pct, tail = tail_percentile(trig)
        out.update({
            "stream.batches": len(batches),
            "stream.input_rows": sum(b["rows"] for b in batches),
            "stream.trigger_s": sum(b["duration"].get("triggerExecution", 0) for b in batches) / 1e3,
            "stream.state_rows": sum(b["state_rows"] for b in last.values()),
            "stream.state_mb": sum(b["state_bytes"] for b in last.values()) / 2**20,
            "stream.rows_dropped_by_watermark": sum(b["dropped"] for b in batches),
            "stream.batch_p50_s": statistics.median(trig) if trig else 0.0,
            "stream.batch_tail_pct": tail_pct,
            "stream.batch_tail_s": tail,
            "stream.pooled_batches": len(trig),
        })
        return out


def _snake(camel: str) -> str:
    return "".join("_" + c.lower() if c.isupper() else c for c in camel)


def tail_percentile(sorted_values: list[float], beyond: int = 10) -> tuple[float, float]:
    """The highest whole percentile with at least ``beyond`` samples above
    it, and its value (nearest rank); ``(0, 0)`` with too few samples."""
    n = len(sorted_values)
    if n <= beyond:
        return 0.0, 0.0
    pct = (100 * (n - beyond)) // n
    rank = max(1, -(-pct * n // 100))
    return float(pct), sorted_values[rank - 1]


def job_counts(sc, groups, seen: set[int]) -> dict[str, int]:
    """Jobs of the job groups ``groups``, and the stages and tasks that ran
    in them. A stage whose shuffle output or checkpoint was reused is listed
    in a job but runs no task, so only tasks that ended (completed or
    failed) count, and a stage in ``seen`` (counted already, for another
    job that lists it too) is skipped; counted stages are added to ``seen``."""
    tracker = sc.statusTracker()
    jobs = stages = tasks = failed = 0
    for group in groups:
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is None or sid in seen or st.numCompletedTasks + st.numFailedTasks == 0:
                    continue
                seen.add(sid)
                stages += 1
                tasks += st.numCompletedTasks + st.numFailedTasks
                failed += st.numFailedTasks
    return {"spark.jobs": jobs, "spark.stages": stages, "spark.tasks": tasks, "spark.failed_tasks": failed}


def read_tasks(log_dir: Path) -> list[dict]:
    """Every finished task in the event logs under ``log_dir``."""
    tasks = []
    for path in sorted(p for p in log_dir.rglob("*") if p.is_file()):
        with path.open() as f:
            for line in f:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                sr, sw = m.get("Shuffle Read Metrics") or {}, m.get("Shuffle Write Metrics") or {}
                tasks.append({
                    "stage": (ev["Stage ID"], ev["Stage Attempt ID"]),
                    "launch": info["Launch Time"] / 1e3,
                    "finish": info["Finish Time"] / 1e3,
                    "cpu": m.get("Executor CPU Time", 0) / 1e9,
                    "gc": m.get("JVM GC Time", 0) / 1e3,
                    "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                    "spill": m.get("Disk Bytes Spilled", 0),
                })
    return tasks


def task_stats(tasks: list[dict], start: float, end: float) -> dict[str, float]:
    """Executor-side totals of the tasks launched in the wall-clock window
    ``[start, end]`` (epoch seconds). Busy time is the union of the task
    intervals; skew is the median over multi-task stages of max/median task
    time."""
    sel = [t for t in tasks if start <= t["launch"] <= end]
    busy, cur_s, cur_e = 0.0, None, None
    for t in sorted(sel, key=lambda t: t["launch"]):
        s, e = t["launch"], min(t["finish"], end)
        if cur_e is None or s > cur_e:
            busy += (cur_e - cur_s) if cur_e is not None else 0.0
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    busy += (cur_e - cur_s) if cur_e is not None else 0.0
    by_stage: dict[tuple, list[float]] = {}
    for t in sel:
        by_stage.setdefault(t["stage"], []).append(t["finish"] - t["launch"])
    skews = [max(d) / statistics.median(d) for d in by_stage.values() if len(d) > 1 and statistics.median(d) > 0]
    mb = 2**20
    return {
        "exec.tasks": len(sel),
        "exec.task_busy_s": busy,
        "driver.gap_s": (end - start) - busy,
        "exec.cpu_s": sum(t["cpu"] for t in sel),
        "exec.gc_s": sum(t["gc"] for t in sel),
        "exec.shuffle_read_mb": sum(t["shuffle_read"] for t in sel) / mb,
        "exec.shuffle_write_mb": sum(t["shuffle_write"] for t in sel) / mb,
        "exec.spill_mb": sum(t["spill"] for t in sel) / mb,
        "exec.task_skew": statistics.median(skews) if skews else 1.0,
    }
