#!/usr/bin/env python3
"""Run one benchmark workload (or all of them) and print its metrics.

    python3 perfbench/run.py --workload curation_1x --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload all --seed 1

It runs from any working directory. The launcher generates the input tables (a pure
function of a fixed content seed) and their expected DuckDB fingerprints once
per checkout, under ``.perfbench/``; then it starts each workload in a fresh
process on ``local[<cores>]``. ``--seed`` sets the query order of every pass.

``--trace 0`` measures the end-to-end metrics with tracing off: after one
warm-up pass, whole passes until ``--seconds`` have elapsed. Each of their
wall times is scaled to a fixed host speed, measured while it ran by the
launcher's ``hostclock.HostProbe``; the passes line prints the raw wall time
and the factor of each pass. ``--trace 1`` is
the separate traced run that reports the per-layer metrics. Each metric is
printed as ``<workload> <name> <value> <unit>``; the last line is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. Every result is
checked against its DuckDB oracle, and a run with any failed or mismatched
query reports ``"correct": false``.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from hostclock import HostProbe  # noqa: E402
from workloads import SF, WORKLOADS  # noqa: E402

PACKAGE = "flink_1_12_0_src_spark"
WORK = ROOT / ".perfbench"


def _load_spec() -> dict:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {
        "end_to_end": {m["name"]: m["unit"] for m in spec["end_to_end"]},
        "per_layer": {m["name"]: m["unit"] for m in spec["per_layer"]},
    }


def _child_env() -> dict[str, str]:
    """Environment of the benchmark processes: the repo root on PYTHONPATH
    (Spark's Python workers import the program from it, whatever the working
    directory), every scratch directory inside the checkout, UTC."""
    tmp, scratch, local = WORK / "tmp", WORK / "scratch", WORK / "spark-local"
    for d in (tmp, scratch, local):
        d.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(filter(None, [str(ROOT), env.get("PYTHONPATH")])),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": str(tmp),
        "SPARK_GRAFT_SCRATCH": str(scratch),
        "SPARK_LOCAL_DIRS": str(local),
        "SPARK_GRAFT_DRIVER_MEM": "4g",
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
        "TZ": "UTC",
    })
    return env


def _reap_all() -> None:
    """Wait for every descendant: this process is their subreaper, so a JVM
    or Python worker orphaned by its parent is reparented here."""
    while True:
        try:
            os.waitpid(-1, 0)
        except ChildProcessError:
            return


def _run_worker(args, data: Path, expected: Path, out: Path, probe: HostProbe) -> dict:
    out.unlink(missing_ok=True)
    env = _child_env()
    probe.start()
    spawned_epoch = time.time()
    cmd = [
        sys.executable, str(HERE / "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--data", str(data), "--expected", str(expected),
        "--work", str(WORK), "--out", str(out), "--spawned-at", repr(time.monotonic()),
    ]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, start_new_session=True, stdout=sys.stderr)
    # Set-up and the warm-up pass take 25-40 s on 4 cores, and 60 s when
    # other guests take a fifth of the CPU; the measured passes overrun
    # --seconds by at most two passes. The traced run's four passes fit too.
    timeout = 140 + 2 * args.seconds
    try:
        code = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"worker for {args.workload} timed out after {timeout:.0f} s") from None
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        _reap_all()
        probe.stop()
    if code != 0 or not out.exists():
        raise SystemExit(f"worker for {args.workload} failed (exit {code})")
    res = json.loads(out.read_text())
    res["setup"]["spawned_epoch"] = spawned_epoch
    return res


def prepare(queries: tuple[str, ...]) -> tuple[Path, Path]:
    """The generated tables and the expected fingerprints of ``queries``,
    both cached under .perfbench/data."""
    import datagen
    import oracle

    data = datagen.write_base(WORK / "data" / f"sf{SF}", SF)
    cache = data / "expected.json"
    known = json.loads(cache.read_text()) if cache.exists() else {}
    if any(q not in known for q in queries):
        from flink_1_12_0_src_spark.queries import load_all

        reg = load_all()
        missing = [q for q in queries if reg[q].oracle is None]
        if missing:
            raise SystemExit(f"queries without an oracle cannot be checked: {missing}")
        oracle.expected(data, cache, {q: reg[q].oracle for q in queries})
    return data, cache


def span_self_s(self_s: dict[str, float], label: str) -> float:
    """Self seconds of the traced functions (``<module label>.<name>``)
    of the module ``label`` or, for a layer such as ``pipeline``, of all its
    modules. A module that no longer exists contributes nothing."""
    return sum(v for fn, v in self_s.items() if (fn.rsplit(".", 1)[0] + ".").startswith(label + "."))


def run_workload(args, spec: dict) -> dict:
    shutil.rmtree(WORK / "spark-local", ignore_errors=True)
    data, expected = prepare(WORKLOADS[args.workload])
    out = WORK / f"result-{args.workload}.json"
    probe = HostProbe()
    res = _run_worker(args, data, expected, out, probe)
    units = spec["per_layer" if args.trace else "end_to_end"]
    if not args.trace:
        from worker import end_to_end

        res["metrics"] = end_to_end(res["passes"][1:], (res["setup"]["spawned_epoch"], res["setup"]["setup_s"]), probe.scale)
    metrics = res["metrics"]
    if args.trace:
        # Layer clocks are looked up by name: a module or stage that did not
        # run (or no longer exists) took no time.
        for name in units:
            if name.startswith("span."):
                metrics[name] = span_self_s(res["self_s"], name.removeprefix("span.").removesuffix("_self_s"))
            elif name.startswith("pipeline.stage."):
                metrics[name] = res["stages_s"].get(name.removeprefix("pipeline.stage.").removesuffix("_s"), 0.0)
    for name, unit in units.items():
        print(f"{args.workload} {name} {metrics[name]:.6g} {unit}")
    if args.trace:
        for fn, s in sorted(res["self_s"].items(), key=lambda kv: -kv[1])[:15]:
            print(f"{args.workload} self_time {fn} {s:.4f} s")
    errors = [r for p in res["passes"] for r in p["records"] if not r["ok"]]
    for r in errors:
        print(f"{args.workload} FAILED {r['pass']} {r['query']}: {r.get('error') or r.get('fingerprint')}")
    print(f"{args.workload} error_rate {res['failed'] / res['attempted']:.6g} share "
          f"({res['failed']} of {res['attempted']} queries)")
    for p in res["passes"]:
        p["host_scale"] = probe.scale(p["start_epoch"], p["end_epoch"])
    print(f"{args.workload} passes " + " ".join(
        f"{p['tag']}={p['wall_s']:.3f}s(x{p['host_scale']:.3f},steal {p['steal_share']:.1%})" for p in res["passes"]))
    return {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {n: {"value": metrics[n], "unit": u} for n, u in units.items()},
        "detail": res,
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ROOT / PACKAGE / "__init__.py").exists():
        raise SystemExit(f"the program ({PACKAGE}/) is not in {ROOT}")
    sys.path.insert(0, str(ROOT))
    # PR_SET_CHILD_SUBREAPER: orphaned descendants are reparented here, so
    # _reap_all can wait for every process a run started.
    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)
    # On SIGTERM, unwind through _run_worker's cleanup instead of dying.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spec = _load_spec()
    names = sorted(WORKLOADS) if args.workload == "all" else [args.workload]
    results = {}
    for name in names:
        args.workload = name
        results[name] = run_workload(args, spec)
        (WORK / f"detail-{name}-{args.seed}-t{args.trace}.json").write_text(json.dumps(results[name]["detail"]))
    if len(names) == 1:
        r = results[names[0]]
        final = {k: r[k] for k in ("correct", "attempted", "failed", "metrics")}
    else:
        final = {
            "correct": all(r["correct"] for r in results.values()),
            "attempted": sum(r["attempted"] for r in results.values()),
            "failed": sum(r["failed"] for r in results.values()),
            "metrics": {f"{w}.{n}": v for w, r in results.items() for n, v in r["metrics"].items()},
        }
    print(json.dumps(final))


if __name__ == "__main__":
    main()
