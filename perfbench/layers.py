"""The traced phase of a ``--trace 1`` run and its per-layer metrics.

After the untraced measurement the session is restarted with Spark's event
log on, every benchmark span becomes the Spark job group of the jobs it
runs, and a ``StreamingQueryListener`` collects micro-batch progress.  The
workload is warmed up and measured again for the same time; the event log,
the progress records and the spans are then reduced to per-layer numbers
(``tracing.reduce_event_log``).  Each workload's "operations" are its
iterations or, for streaming, its drained micro-batches.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from datetime import datetime

from . import tracing

E2E_TRACED = ("primary_s", "secondary_s", "throughput_per_s")


def _progress_listener(spark, records: list):
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            records.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = Progress()
    spark.streams.addListener(listener)
    return listener


def _batch_interval(p: dict) -> tuple[float, float]:
    start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
    return start, start + p["durationMs"].get("triggerExecution", 0) / 1000


def _mean(values) -> float:
    values = list(values)
    return statistics.fmean(values) if values else 0.0


def traced_phase(work: str, session, tracer, workload, seconds: float,
                 untraced: dict) -> dict[str, float]:
    session.event_log = os.path.join(work, "eventlog")
    session.stop()
    spark = session.start(tracer)
    tracer.enabled = True
    progress: list[dict] = []
    listener = _progress_listener(spark, progress)
    workload.warmup(spark)
    workload.reset()
    first_span = len(tracer.spans)
    t0 = time.time()
    workload.measure(spark, seconds)
    t1 = time.time()
    traced = workload.end_to_end()
    time.sleep(1.0)  # let the last progress events arrive
    spark.streams.removeListener(listener)
    tracer.enabled = False
    session.stop()

    spans = tracer.spans
    batches = [p for p in progress if t0 <= _batch_interval(p)[0] <= t1 and p["numInputRows"] > 0]
    drain = [p for p in batches if p.get("name") != "perfbench_open_loop"]
    # pseudo-spans after the real ones: the measured window, then each micro-batch
    window_idx = len(spans)
    batch_idx = {id(p): window_idx + 1 + k for k, p in enumerate(batches)}
    intervals = [(s.start, s.end) for s in spans] + [(t0, t1)] + [_batch_interval(p) for p in batches]
    stats: dict[int, tracing.SpanStats] = {}
    for app in tracing.read_event_logs(session.event_log):
        for idx, st in tracing.reduce_event_log(app, intervals).items():
            stats.setdefault(idx, tracing.SpanStats()).merge(st)

    children: dict[int, list[int]] = {}
    for i, s in enumerate(spans):
        if s.parent is not None:
            children.setdefault(s.parent, []).append(i)

    def subtree(i: int) -> list[int]:
        out, todo = [], [i]
        while todo:
            j = todo.pop()
            out.append(j)
            todo.extend(children.get(j, ()))
        return out

    def total(indices) -> tracing.SpanStats:
        acc = tracing.SpanStats()
        for j in indices:
            if j in stats:
                acc.merge(stats[j])
        return acc

    in_window = list(range(first_span, len(spans)))
    if drain:
        ops = [(*_batch_interval(p), [batch_idx[id(p)]]) for p in drain]
    else:
        ops = [(spans[i].start, spans[i].end, subtree(i)) for i in in_window
               if spans[i].name == "op"]
    op_stats = [(lo, hi, total(idx)) for lo, hi, idx in ops]

    def per_op(attr: str) -> float:
        return _mean(getattr(st, attr) for _, _, st in op_stats)

    everything = total(in_window + [window_idx] + list(batch_idx.values()))
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    first = {name: next((s.end - s.start for s in spans if s.name == name), 0.0)
             for name in ("session.get_spark", "registry.load_all")}
    # driver time from the start of an operation to its first job
    builds = [st.first_job - lo for lo, _, st in op_stats if st.first_job is not None]
    fits = [total(subtree(i)) for i in in_window if spans[i].name.endswith("run_training")]
    dur = lambda key: _mean(p["durationMs"].get(key, 0) / 1000 for p in drain)  # noqa: E731
    state = [p["stateOperators"][0] for p in drain if p.get("stateOperators")]
    bridge_calls = [end - start for b, start, end in workload.bridge_calls] \
        if hasattr(workload, "bridge_calls") else []
    open_log = getattr(workload, "open_log", {}) or {}

    m: dict[str, float] = {
        "session.get_spark_s": first["session.get_spark"],
        "registry.load_all_s": first["registry.load_all"],
        "session.executor_busy_share": everything.run_s / (cores * (t1 - t0)),
        "plans.build_s": _mean(builds),
        "plans.driver_only_s": _mean(
            (hi - lo) - tracing.covered(st.intervals, lo, hi) for lo, hi, st in op_stats),
        "plans.jobs_per_op": per_op("jobs"),
        "plans.stages_per_op": per_op("stages"),
        "plans.tasks_per_op": per_op("tasks"),
        "sources.scan_rows": per_op("scan_rows"),
        "sources.scan_bytes": per_op("scan_bytes"),
        "sources.scan_task_s": per_op("scan_task_s"),
        "sources.sink_bytes_written": per_op("sink_bytes"),
        "sources.sink_write_s": per_op("sink_task_s"),
        "operators.task_cpu_s": per_op("cpu_s"),
        "operators.task_gc_s": per_op("gc_s"),
        "operators.shuffle_write_bytes": per_op("shuffle_write_bytes"),
        "operators.shuffle_fetch_wait_s": per_op("fetch_wait_s"),
        "operators.spill_bytes": per_op("spill_bytes"),
        "ml.fit_jobs": _mean(f.jobs for f in fits),
        "ml.fit_task_cpu_s": _mean(f.cpu_s for f in fits),
        "streaming.batch_s": dur("triggerExecution"),
        "streaming.add_batch_s": dur("addBatch"),
        "streaming.query_planning_s": dur("queryPlanning"),
        "streaming.wal_commit_s": dur("walCommit"),
        "streaming.offsets_s": dur("latestOffset") + dur("getBatch") + dur("commitOffsets"),
        "streaming.state_rows": max((s["numRowsTotal"] for s in state), default=0),
        "streaming.state_memory_bytes": max((s["memoryUsedBytes"] for s in state), default=0),
        "streaming.state_commit_s": _mean(s.get("commitTimeMs", 0) / 1000 for s in state),
        "streaming.bridge_call_s": _mean(bridge_calls),
        "streaming.rows_per_batch": _mean(p["numInputRows"] for p in drain),
        "streaming.backlog_files_max": open_log.get("backlog_files_max", 0),
        "streaming.generator_lag_s": open_log.get("generator_lag_max_s", 0.0),
    }
    for k in E2E_TRACED:
        m[f"trace.overhead_share.{k}"] = (traced[k] - untraced[k]) / untraced[k]
    return m
