"""Pure helpers that turn raw readings into metrics: percentiles, the map
from micro-batch to event file, and the reduction of a Spark event log to
per-span task statistics.  No Spark import; unit-tested in
``perfbench/tests``."""

from __future__ import annotations

import json
import math
import os
import statistics
from collections.abc import Iterable
from dataclasses import dataclass, field


def median(values: list[float]) -> float:
    return statistics.median(values)


def tail_percentile(values: list[float], q: float = 0.9, beyond: int = 10):
    """The nearest-rank percentile at ``q``, or, when fewer than ``beyond``
    samples would lie above it, the highest percentile that still has
    ``beyond`` samples above it.  Returns ``(percentile, value)``; raises
    ValueError when there are too few samples for any such percentile."""
    n = len(values)
    if n <= beyond:
        raise ValueError(f"{n} samples: too few for a percentile with {beyond} beyond it")
    rank = min(math.ceil(q * n), n - beyond)  # 1-based nearest rank
    return rank / n, sorted(values)[rank - 1]


# -- streaming: which micro-batch consumed which file ------------------------------

def parse_file_source_log(texts: Iterable[str]) -> dict[str, int]:
    """Map each file name to the micro-batch that read it, from the text of
    the file source's metadata log (``<checkpoint>/sources/0/<n>`` and its
    ``.compact`` files: a version line, then one JSON entry per file)."""
    out: dict[str, int] = {}
    for text in texts:
        for line in text.splitlines():
            line = line.strip()
            if not line.startswith("{"):
                continue
            entry = json.loads(line)
            out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


def file_latencies(scheduled: dict[str, float], file_batch: dict[str, int],
                   batch_end: dict[int, float]) -> tuple[list[float], int]:
    """Per-file latency: when the bridge finished the micro-batch holding the
    file, minus the file's scheduled creation time.  Returns the latencies
    and the number of scheduled files no finished batch consumed."""
    lat, missing = [], 0
    for name, t_sched in scheduled.items():
        b = file_batch.get(name)
        if b is None or b not in batch_end:
            missing += 1
            continue
        lat.append(batch_end[b] - t_sched)
    return lat, missing


def batch_intervals(start: float, ends: Iterable[float]) -> list[float]:
    """Wall time of each micro-batch of a drain that began at ``start``: from
    the end of the batch before it (the first from ``start``) to its end."""
    ends = sorted(ends)
    return [b - a for a, b in zip([start] + ends[:-1], ends)]


def max_backlog(scheduled: dict[str, float], file_batch: dict[str, int],
                batch_end: dict[int, float]) -> int:
    """Most files written but not yet scored, sampled at each batch end."""
    worst = 0
    for t in batch_end.values():
        written = sum(1 for ts in scheduled.values() if ts <= t)
        done = sum(1 for n, b in file_batch.items()
                   if b in batch_end and batch_end[b] <= t and n in scheduled)
        worst = max(worst, written - done)
    return worst


# -- event-log reduction -------------------------------------------------------------

@dataclass
class SpanStats:
    """Task work attributed to one span."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    fetch_wait_s: float = 0.0
    spill_bytes: int = 0
    scan_rows: int = 0
    scan_bytes: int = 0
    scan_task_s: float = 0.0
    sink_bytes: int = 0
    sink_task_s: float = 0.0
    first_job: float | None = None  # submission time of the earliest job
    intervals: list[tuple[float, float]] = field(default_factory=list)

    def merge(self, other: SpanStats) -> None:
        for name, value in vars(other).items():
            if name == "intervals":
                self.intervals.extend(value)
            elif name == "first_job":
                if value is not None:
                    self.first_job = value if self.first_job is None else min(self.first_job, value)
            else:
                setattr(self, name, getattr(self, name) + value)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def _innermost(spans: list[tuple[float, float]], t: float) -> int | None:
    """Index of the latest-starting span containing time ``t``."""
    best = None
    for i, (a, b) in enumerate(spans):
        if a <= t <= b and (best is None or a >= spans[best][0]):
            best = i
    return best


def reduce_event_log(events: Iterable[dict], spans: list[tuple[float, float]]) -> dict[int, SpanStats]:
    """Attribute the jobs, stages and tasks of one application's event log
    to spans (``(start, end)`` in epoch seconds).  A job belongs to the span
    named by its job group (``span-<index>``) when the benchmark set one,
    otherwise to the innermost span open when it was submitted (streaming
    micro-batches run on Spark's own thread, outside any job group).
    Tasks follow their stage's job."""
    stats: dict[int, SpanStats] = {}
    stage_span: dict[int, int] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            if group.startswith("span-") and int(group[5:]) < len(spans):
                idx = int(group[5:])
            else:
                idx = _innermost(spans, ev["Submission Time"] / 1000)
            if idx is None:
                continue
            st = stats.setdefault(idx, SpanStats())
            st.jobs += 1
            submitted = ev["Submission Time"] / 1000
            st.first_job = submitted if st.first_job is None else min(st.first_job, submitted)
            for sid in ev.get("Stage IDs", []):
                stage_span.setdefault(sid, idx)
        elif kind == "SparkListenerStageCompleted":
            idx = stage_span.get(ev["Stage Info"]["Stage ID"])
            if idx is not None:
                stats[idx].stages += 1
        elif kind == "SparkListenerTaskEnd":
            idx = stage_span.get(ev["Stage ID"])
            m = ev.get("Task Metrics")
            if idx is None or not m:
                continue
            st = stats[idx]
            info = ev["Task Info"]
            run_s = m.get("Executor Run Time", 0) / 1000
            st.tasks += 1
            st.run_s += run_s
            st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            st.gc_s += m.get("JVM GC Time", 0) / 1000
            st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            st.fetch_wait_s += (m.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0) / 1000
            inp = m.get("Input Metrics") or {}
            if inp.get("Bytes Read", 0) or inp.get("Records Read", 0):
                st.scan_rows += inp.get("Records Read", 0)
                st.scan_bytes += inp.get("Bytes Read", 0)
                st.scan_task_s += run_s
            out = m.get("Output Metrics") or {}
            if out.get("Bytes Written", 0):
                st.sink_bytes += out["Bytes Written"]
                st.sink_task_s += run_s
            st.intervals.append((info["Launch Time"] / 1000, info["Finish Time"] / 1000))
    return stats


def read_event_logs(log_dir: str) -> list[list[dict]]:
    """Every application's event log in ``log_dir``, each as a list of events.
    An application's log is one file, or a directory of rolled files
    (``eventlog_v2_<app>/events_<n>_<app>``) read in order."""
    apps = []
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        parts = [path] if os.path.isfile(path) else sorted(
            (os.path.join(path, p) for p in os.listdir(path) if p.startswith("events_")),
            key=lambda p: int(os.path.basename(p).split("_")[1]))
        events = []
        for part in parts:
            with open(part) as f:
                events.extend(json.loads(line) for line in f if line.strip())
        apps.append(events)
    return apps
