#!/usr/bin/env python3
"""The repository benchmark.  Run from the root of a checkout:

    python3 perfbench/run.py --workload clickstream_batch --seed 1 --seconds 10 --trace 0

Workloads: clickstream_batch, stream_scoring (see README.md).
The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.  The
exit code is non-zero when a correctness gate fails or the program is not
in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "big_data_analytics_project_spark"


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(work: str) -> None:
    """Pin every run to this host: one executor thread per CPU, scratch and
    temp directories inside the checkout, and a PYTHONPATH that lets
    Spark's Python workers import the program."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(_nproc())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def import_program() -> None:
    """Import the program from this checkout, and only from it."""
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        raise SystemExit(f"perfbench: {PACKAGE}/ is not in {ROOT}; nothing to measure")
    import importlib

    mod = importlib.import_module(PACKAGE)
    if not os.path.abspath(mod.__file__).startswith(os.path.join(ROOT, PACKAGE)):
        raise SystemExit(f"perfbench: {PACKAGE} was imported from {mod.__file__}, not {ROOT}")


def host_record(seed: int) -> dict:
    import pyspark

    java = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr
    return {"nproc": _nproc(), "seed": seed, "spark": pyspark.__version__,
            "java": java.splitlines()[0] if java else "unknown",
            "python": platform.python_version()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    from perfbench import WORKLOADS, harness

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}")
    import_program()
    work = harness.fresh_dir(os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}"))
    pin_environment(work)
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def run(args, work: str) -> dict:
    from perfbench import WORKLOADS, layers
    from perfbench.harness import (COLD_STARTS, Session, Tracer, child_cold_starts, cold_start,
                                   peak_rss_mb)
    from perfbench.tracing import median

    tracer = Tracer(run_id=f"{args.workload}-{args.seed}-{os.getpid()}")
    workload = WORKLOADS[args.workload](work, args.seed, tracer)
    session = Session(work, event_log=None)
    seconds = args.seconds / 2 if args.trace else args.seconds
    try:
        try:
            cold = [cold_start(session, tracer)]
            t0 = time.perf_counter()
            with tracer.span("setup.inputs"):
                workload.prepare()
            inputs_s = time.perf_counter() - t0
            t0 = time.perf_counter()
            with tracer.span("setup.warmup"):
                workload.warmup(session.spark)
            warmup_s = time.perf_counter() - t0
            workload.measure(session.spark, seconds)
            rss = peak_rss_mb([os.getpid(), session.jvm_pid])
            workload.check(session.spark)
            e2e = workload.end_to_end()
            per_layer = None
            if args.trace:
                per_layer = layers.traced_phase(work, session, tracer, workload, seconds, e2e)
                per_layer["session.peak_rss_mb"] = rss
        finally:
            session.close()
        if not args.trace:
            # the run's own JVM has exited, as no JVM ran at the run's own start
            cold += child_cold_starts(work, COLD_STARTS - 1)
            e2e["setup_s"] = median(cold)
    except Exception:  # noqa: BLE001 - the run reports failure instead of a result
        traceback.print_exc()
        raise SystemExit(3)

    print(f"# host {json.dumps(host_record(args.seed))}")
    print(f"# workload {args.workload}: {json.dumps(workload.report())}")
    named = {"peak_rss_mb": (rss, "MB"), **workload.named(e2e)}
    if "setup_s" in e2e:
        named = {"setup_s": (e2e["setup_s"], "s"), **named}
    for name, value in named.items():
        print(f"# {name} = {value[0]:.6g} {value[1]}")
    print(f"# cold starts = {', '.join(f'{t:.3f}' for t in cold)} s;"
          f" inputs_s = {inputs_s:.3f} s; warmup_s = {warmup_s:.3f} s")
    failed = min(workload.attempted, len(workload.failures))
    print(f"# failed_ops_share = {failed}/{workload.attempted}")
    for problem in workload.failures:
        print(f"# FAILED {problem}")
    values = per_layer if per_layer is not None else e2e
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if per_layer is not None else "end_to_end"]
    if {m["name"] for m in spec} != set(values):
        raise SystemExit(f"perfbench: measured {sorted(values)}, BENCHMARK.json lists "
                         f"{sorted(m['name'] for m in spec)}")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec}
    if per_layer is not None:
        with open(os.path.join(ROOT, ".perfbench_work", f"trace-{args.workload}.json"), "w") as f:
            json.dump({"spans": [s.__dict__ for s in tracer.spans], "metrics": metrics}, f)
    return {"correct": not workload.failures, "attempted": workload.attempted,
            "failed": failed, "metrics": metrics}


if __name__ == "__main__":
    raise SystemExit(main())
