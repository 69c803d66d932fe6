"""Run plumbing shared by the workloads: the Spark session's lifetime,
benchmark-side spans, cold starts and resource readings.

Nothing here reaches inside the program: spans are taken around calls into
its public modules, and per-layer numbers come from Spark's own event log
and streaming progress (see ``tracing.py``).
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
COLD_STARTS = 2  # per untraced run: the run's own and one in a fresh process
COLD_START_TAG = "perfbench-cold-start-s"


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


@dataclass
class Tracer:
    """Benchmark-side spans, kept in memory and written once at exit.  When
    ``enabled`` each span is also the Spark job group of the jobs it runs,
    so the event-log reducer can attribute work to the call that caused it."""

    run_id: str
    enabled: bool = False
    spark: object = None
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.time(), 0.0, parent, self.run_id))
        self._stack.append(idx)
        sc = self.spark.sparkContext if (self.enabled and self.spark is not None) else None
        if sc is not None:
            sc.setJobGroup(f"span-{idx}", name)
        try:
            yield idx
        finally:
            self.spans[idx].end = time.time()
            self._stack.pop()
            if sc is not None:
                if self._stack:
                    outer = self._stack[-1]
                    sc.setJobGroup(f"span-{outer}", self.spans[outer].name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)


class Session:
    """Owns the SparkSession and the JVM behind it.  ``stop`` then ``start``
    gives a fresh session in the same JVM; ``close`` stops the session,
    shuts the JVM down and waits for it to exit."""

    def __init__(self, work: str, event_log: str | None):
        self.work = work
        self.event_log = event_log
        self.spark = None
        self.jvm_pid: int | None = None

    def conf(self) -> dict[str, str]:
        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.event_log:
            os.makedirs(self.event_log, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_log,
                "spark.eventLog.compress": "false",
            })
        return conf

    def start(self, tracer: Tracer):
        from big_data_analytics_project_spark import session

        with tracer.span("session.get_spark"):
            self.spark = session.get_spark("perfbench", extra_conf=self.conf())
        self.spark.sparkContext.setLogLevel("ERROR")
        tracer.spark = self.spark
        if self.jvm_pid is None:
            from pyspark import SparkContext

            self.jvm_pid = SparkContext._gateway.proc.pid
        return self.spark

    def stop(self) -> None:
        """Stop the SparkSession; the JVM stays up for the next ``start``."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = gateway.proc
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # a JVM that ignores EOF is killed
            proc.kill()
            proc.wait(timeout=30)


def peak_rss_mb(pids: list[int]) -> float:
    """Σ VmHWM (peak resident set) over ``pids``, in MiB, from /proc."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except FileNotFoundError:
            continue
    return total_kb / 1024


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def process_age() -> float:
    """Seconds since this process started: its start in /proc/self/stat,
    in clock ticks since boot, against the boot-time clock."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return time.clock_gettime(time.CLOCK_BOOTTIME) - int(fields[19]) / os.sysconf("SC_CLK_TCK")


def cold_start(session: Session, tracer: Tracer) -> float:
    """Set the program up: ``session.get_spark`` (which launches the JVM)
    and ``registry.load_all``.  Returns the time from process start
    (interpreter, imports, the JVM launch) to that point."""
    from big_data_analytics_project_spark import registry

    session.start(tracer)
    with tracer.span("registry.load_all"):
        registry.load_all()
    return process_age()


def child_cold_starts(work: str, n: int) -> list[float]:
    """``n`` cold starts, one after another, each in a fresh Python process
    (``perfbench.coldstart``) that imports what ``run.py`` imports and calls
    ``cold_start``.  Each child is shut down, JVM included, before the next
    starts."""
    times = []
    for k in range(n):
        child_work = fresh_dir(os.path.join(work, f"cold-{k}"))
        os.makedirs(os.path.join(child_work, "tmp"))
        proc = subprocess.Popen([sys.executable, "-m", "perfbench.coldstart", child_work],
                                cwd=ROOT, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                text=True)
        age = None
        watchdog = threading.Timer(120, proc.kill)  # a child that hangs fails the run
        watchdog.start()
        try:
            for line in proc.stdout:  # the JVM may write to the same stdout
                if line.startswith(COLD_START_TAG):
                    age = float(line.split()[1])
                    break
            proc.stdin.close()  # the child shuts down on EOF of its stdin
            proc.wait()
        finally:
            watchdog.cancel()
            if proc.poll() is None:
                proc.kill()
                proc.wait()
        if proc.returncode or age is None:
            raise RuntimeError(f"cold start {k} exited with {proc.returncode}")
        times.append(age)
    return times
