"""Repository benchmark: one workload per process, one Spark session.

    python3 perfbench/run.py --workload filter_web --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --smoke

A run builds the workload's inputs from ``--seed``, sets up untimed state,
then repeats the workload's timed call (a closed loop of one caller) until
``--seconds`` have passed and at least ``MIN_CALLS`` calls were made,
checks the outputs, and prints as its last stdout line
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are BENCHMARK.json's ``end_to_end`` ones; with ``--trace 1`` they
are its ``per_layer`` ones, read from traced calls interleaved with
untraced ones, so the tracing overhead is measured too. The line before
the result carries host context (nproc, busy-loop ceiling, steal and
co-tenant shares per timed window) and every call's wall and CPU time. A
traced run also writes its spans and layer metrics to
``.perfbench/trace-<workload>-s<seed>.json``. ``--smoke`` runs every
workload once, traced, at tiny sizes, each in its own process.

Metrics:
- ``docs_per_cpu_s``: documents the first ``MIN_CALLS`` untraced calls
  processed over the CPU seconds they cost the whole process tree (driver,
  JVM, Python workers). filter_web's call is the whole job, training
  included. CPU time rather than wall: on a shared 4-vCPU VM, where the
  hypervisor stole 2-25% of the CPUs for minutes at a time, walls of the
  same code moved by up to 40% between runs and CPU time by about half
  that. Totals over a fixed number of calls rather than a per-call median,
  because each call is still faster than the one before (the JVM keeps
  compiling) and the total averages that trend.
- ``busy_cores``: over the same calls, CPU seconds per second of the CPU
  capacity left to the run (wall less the stolen and co-tenant shares).
  It catches what CPU time cannot see: a stage collapsed to one task,
  work serialized on the driver, idle waits. ``docs_per_cpu_s`` times
  ``busy_cores`` is the steal-corrected wall rate; the raw wall rate is
  the per-layer ``docs_per_s``.
- ``setup_s``: CPU seconds of set-up, counted like ``docs_per_cpu_s``:
  session start + median of three corpus builds + the untimed warm-up.
  The JVM start and the cold warm-up happen once per process, so only the
  corpus build repeats. The walls of each part are on the context line.
- ``attempted``/``failed`` count timed calls, output checks and (traced)
  the layer reads; their ratio is the operation failure rate.
Per-layer metrics of a layer the workload does not run read 0.

Every file the run writes lives under ``.perfbench/`` in the checkout;
TMPDIR, Spark's local dirs and the JVM's temp dir point there too.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
SETUP_REPS = 3
MIN_CALLS = 4


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _stop_spark(spark) -> None:
    """Stop the session, close the JVM and wait until it and every process
    it started (Python workers) have exited."""
    from pyspark import SparkContext

    from measure import descendants

    gateway = SparkContext._gateway
    started = descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            gateway.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()
    deadline = time.monotonic() + 30
    while True:
        alive = [p for p in started if _running(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(p, signal.SIGKILL)
            deadline = float("inf")
        time.sleep(0.1)


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def run(workload: str, seed: int, seconds: int, trace: bool, smoke: bool, work: str) -> dict:
    """One run of ``workload``; returns the context record printed before
    the result line (host, setup parts, calls, checks, layer metrics)."""
    from scale_probe import (
        cpu_ceiling,
        others_fraction,
        stat_snapshot,
        steal_fraction,
    )

    import workloads as W
    from language_identification_spark.session import get_spark
    from measure import MemorySampler, Tracer, tree_cpu_s

    me = os.getpid()
    nproc = os.cpu_count() or 1
    info = {"workload": workload, "seed": seed, "trace": trace,
            "host": {"nproc": nproc, "cpu_ceiling": cpu_ceiling(nproc, secs=0.5)},
            "calls": [], "checks": {}, "layers": {}, "attempted": 0, "failed": 0}
    calls, checks = info["calls"], info["checks"]

    def attempt(name: str, fn):
        """Run one counted operation (a timed call, the layer reads); a
        failure is recorded under ``name`` in the checks, not raised."""
        info["attempted"] += 1
        try:
            return fn()
        except Exception:  # counted in ``failed``; the run goes on
            traceback.print_exc()
            info["failed"] += 1
            checks.setdefault(name, False)
            return None

    def cost(fn) -> tuple[float, float]:
        """(wall, process-tree CPU) seconds of ``fn()``."""
        t0, c0 = time.perf_counter(), tree_cpu_s(me)
        fn()
        return time.perf_counter() - t0, tree_cpu_s(me) - c0

    sampler = MemorySampler() if trace else contextlib.nullcontext()
    with sampler:
        t0, c0 = time.perf_counter(), tree_cpu_s(me)
        spark = get_spark(f"perfbench-{workload}", cores=nproc, extra_confs={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work} -XX:-UsePerfData",
        })
        session = (time.perf_counter() - t0, tree_cpu_s(me) - c0)
        try:
            tracer = Tracer(spark, uuid.uuid4().hex[:8], trace)
            wl = W.WORKLOADS[workload](W.Ctx(spark, tracer, work, seed,
                                             W.SMOKE if smoke else W.FULL))
            with tracer.span("setup"):
                builds = [cost(lambda: wl.build(rep)) for rep in range(SETUP_REPS)]
                prepare = cost(wl.prepare)
            info["setup"] = {
                "setup_s": session[1] + statistics.median(c for _, c in builds) + prepare[1],
                "wall_cpu_s": {"session": session, "corpus_builds": builds, "prepare": prepare},
            }
            # At least MIN_CALLS calls, and only those count in the
            # metrics; later calls are made and output-checked only. A
            # traced run traces calls in the order untraced, traced,
            # traced, untraced, so both kinds sit at the same mean position.
            end = time.monotonic() + seconds
            i = 0
            while time.monotonic() < end or i < MIN_CALLS:
                tracer.enabled = trace and i % 4 in (1, 2)
                s0, c0 = stat_snapshot(), tree_cpu_s(me)
                res = attempt(f"call{i}", lambda: wl.call(i))
                if res is not None:
                    s1, c1 = stat_snapshot(), tree_cpu_s(me)
                    docs, wall, extra = res
                    calls.append({"traced": tracer.enabled, "docs": docs, "wall_s": wall,
                                  "cpu_s": c1 - c0,
                                  "steal": steal_fraction(s0, s1, nproc),
                                  "others": others_fraction(s0, s1, nproc), **extra})
                i += 1
            tracer.enabled = trace
            if calls:
                with tracer.span("checks"):
                    try:
                        results = wl.checks()
                    except Exception:  # a check that cannot run has failed
                        traceback.print_exc()
                        results = [("checks_ran", False)]
                for name, ok in results:
                    info["attempted"] += 1
                    info["failed"] += not ok
                    checks[name] = bool(ok)
                if trace:
                    with tracer.span("layers"):
                        info["layers"] = attempt("layers", wl.layers) or {}
        finally:
            _stop_spark(spark)
    if trace:
        info["layers"]["peak_rss_mb"] = sampler.peak_bytes / 2**20
        info["spans"] = tracer.spans
    return info


def _rate(calls: list[dict], cost: str) -> float:
    """Documents per unit of ``cost`` over all of ``calls`` together."""
    spent = sum(c[cost] for c in calls)
    return sum(c["docs"] for c in calls) / spent if spent else 0.0


def _busy_cores(calls: list[dict]) -> float:
    """CPU seconds the process tree used per second of the CPU capacity
    left to it: each call's wall minus the shares the hypervisor stole and
    other processes burned."""
    capacity = sum(c["wall_s"] * max(1.0 - c["steal"] - c["others"], 0.01) for c in calls)
    return sum(c["cpu_s"] for c in calls) / capacity if capacity else 0.0


def _metrics(info: dict) -> dict:
    """The result line's metric values: BENCHMARK.json's end-to-end ones,
    or with tracing its per-layer ones (0 for a layer the workload does not
    run). Only the first ``MIN_CALLS`` calls count, so how many calls fit
    in the run's seconds changes no metric."""
    med = statistics.median
    calls = info["calls"][:MIN_CALLS]
    untraced = [c for c in calls if not c["traced"]]
    traced = [c for c in calls if c["traced"]]
    if not info["trace"]:
        return {
            "docs_per_cpu_s": _rate(untraced, "cpu_s"),
            "busy_cores": _busy_cores(untraced),
            "setup_s": info["setup"]["setup_s"],
        }
    values = dict.fromkeys((m["name"] for m in _spec()["per_layer"]), 0.0)
    values.update(info["layers"])
    for key in {k for c in traced for k in c if "." in k}:
        values[key] = med(c[key] for c in traced)
    if traced and untraced:
        values["docs_per_s"] = _rate(untraced, "wall_s")
        values["tracing_overhead_frac"] = (
            med(c["wall_s"] for c in traced) / med(c["wall_s"] for c in untraced) - 1.0)
    return values


def _report(info: dict) -> dict:
    """Print the context line, write the trace file of a traced run, and
    return the result object."""
    values = _metrics(info)
    info["op_failure_rate"] = info["failed"] / max(info["attempted"], 1)
    if info["trace"]:
        os.makedirs(STATE, exist_ok=True)
        path = os.path.join(STATE, f"trace-{info['workload']}-s{info['seed']}.json")
        with open(path, "w") as f:
            json.dump({**info, "metrics": values}, f, indent=1)
        info["trace_file"] = path
    print(json.dumps({k: v for k, v in info.items() if k not in ("spans", "layers")}))
    spec = _spec()["per_layer" if info["trace"] else "end_to_end"]
    return {
        "correct": info["failed"] == 0,
        "attempted": info["attempted"],
        "failed": info["failed"],
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec},
    }


def smoke() -> int:
    """Every workload once at tiny sizes, traced, so every timed call,
    output check and layer read runs. Each in its own process."""
    bad = 0
    for wl in _spec_workloads():
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", wl, "--seed", "1",
             "--seconds", "1", "--trace", "1", "--tiny"],
            capture_output=True, text=True, timeout=600)
        lines = proc.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
        ok = bool(res and res["correct"] and res["failed"] == 0)
        bad += not ok
        print(f"{wl}: {'ok' if ok else 'FAILED'} {lines[-1] if lines else proc.stderr[-2000:]}")
    return 1 if bad else 0


def _spec_workloads() -> list[str]:
    return [w["name"] for w in _spec()["workloads"]]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=_spec_workloads())
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=_spec()["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke-check input sizes")
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload once at tiny sizes and check them")
    args = ap.parse_args()
    if args.smoke:
        return smoke()
    if not args.workload:
        ap.error("--workload is required")

    # The product and its helpers come from the checkout; a directory
    # without them fails here, before any result is printed.
    sys.path[:0] = [ROOT, os.path.join(ROOT, "scripts")]
    import language_identification_spark  # noqa: F401
    import scale_probe  # noqa: F401

    work = os.path.join(STATE, f"work-{os.getpid()}")
    os.makedirs(work)
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = work
    tempfile.tempdir = None
    try:
        info = run(args.workload, args.seed, args.seconds, bool(args.trace), args.tiny, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(_report(info)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
