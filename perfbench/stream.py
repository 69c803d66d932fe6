"""``stream_scoring``: reference subsystem 3, the dashboard feed.

``streaming.processor.read_event_stream`` → ``tumbling_features`` →
foreachBatch ``streaming.bridge.OnlineScoringBridge`` → ``MetricsStore``
JSON, in two phases:

(a) open loop: a separate generator process publishes one JSON event file
    per tick at a fixed event rate; each micro-batch starts as soon as the
    previous one ends, and a file's latency runs from its due time to the
    end of the bridge call of the micro-batch that read it;
(b) drain: ``bridge.run_scored_stream`` over a staged backlog, one file per
    micro-batch, once before and once after the open loop.

Fixed per-micro-batch costs dominate (offset and commit logs, state-store
commit, per-batch planning, file listing, the ``toPandas`` bridge).
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import time

from . import gen, tracing
from .gen import stream_file_name as file_name
from .harness import fresh_dir

EVENT_RATE = 1000           # events/s offered in the open loop
OPEN_SHARE = 0.8            # of the measured time; the drains take about the rest
# One file per tick.  Each micro-batch reads every file published while the
# one before it ran, and costs a little per file, so a short tick makes a
# batch's time grow with the previous one's and amplifies host noise.
TICK_S = 0.08
PRIME_FILES = 20            # bring the query to steady state; their latency is not sampled
MIN_SAMPLED_FILES = 20
DRAIN_FILES = 5
DRAIN_EVENTS_PER_FILE = 2500
WARMUP_FILES = 1
USERS = 1000
SPAN_US = 100_000_000       # event time covered by one file: 100 s
QUIESCE_TIMEOUT_S = 30.0


class TimedBridge:
    """foreachBatch wrapper that only times the bridge call."""

    def __init__(self, bridge):
        self.bridge = bridge
        self.calls: list[tuple[int, float, float]] = []

    def __call__(self, batch_df, batch_id: int) -> None:
        t0 = time.time()
        try:
            self.bridge(batch_df, batch_id)
        finally:
            self.calls.append((int(batch_id), t0, time.time()))

    @property
    def batches(self) -> list[dict]:
        return self.bridge.batches


def _write_backlog(path: str, seed: int, files: int) -> int:
    fresh_dir(path)
    for k in range(files):
        lines = gen.stream_event_lines(seed, k, DRAIN_EVENTS_PER_FILE, SPAN_US, USERS)
        target = os.path.join(path, file_name(k))
        with open(target, "w") as f:
            f.write("\n".join(lines) + "\n")
        os.utime(target, (1_600_000_000 + k, 1_600_000_000 + k))  # replay in order
    return files * DRAIN_EVENTS_PER_FILE


def _scoring(spark, source_dir: str, store_path: str, max_files: int):
    from big_data_analytics_project_spark.streaming import bridge, processor

    agg = processor.tumbling_features(
        processor.read_event_stream(spark, source_dir, max_files_per_trigger=max_files))
    timed = TimedBridge(bridge.OnlineScoringBridge(store=bridge.MetricsStore(store_path)))
    return agg, timed


def _store_entries(path: str) -> int:
    with open(path) as f:
        return len(json.load(f)["history"])


class Workload:
    name = "stream_scoring"

    def __init__(self, work: str, seed: int, tracer):
        self.work, self.seed, self.tracer = work, seed, tracer
        self.dir = os.path.join(work, "stream")
        self.failures: list[str] = []
        self.attempted = 0
        self.checked = False
        self.reset()

    def reset(self) -> None:
        self.latencies: list[float] = []
        self.drain_batch_s: list[float] = []
        self.drain_wall_rates: list[float] = []
        self.bridge_calls: list[tuple[int, float, float]] = []
        self.open_log: dict = {}

    def prepare(self) -> None:
        self.backlog = os.path.join(self.dir, "backlog")
        self.drain_events = _write_backlog(self.backlog, self.seed, DRAIN_FILES)
        self.warm_backlog = os.path.join(self.dir, "warm")
        _write_backlog(self.warm_backlog, self.seed + 1, WARMUP_FILES)
        self.inputs = {"drain_events": self.drain_events, "drain_files": DRAIN_FILES,
                       "bytes": sum(os.path.getsize(p) for p in glob.glob(f"{self.backlog}/*"))}

    def warmup(self, spark) -> None:
        """The correctness gate over the backlog (once per run), then a short
        scored drain, so both the aggregate and the bridge are warm."""
        from big_data_analytics_project_spark.streaming import bridge

        if not self.checked:
            self._check_backlog(spark)
            self.checked = True
        agg, timed = _scoring(spark, self.warm_backlog, os.path.join(self.dir, "warm.json"), 1)
        bridge.run_scored_stream(agg, timed)

    # -- (a) open loop ---------------------------------------------------------
    def _open_loop(self, spark, seconds: float) -> None:
        live = fresh_dir(os.path.join(self.dir, "live"))
        staging = fresh_dir(os.path.join(self.dir, "staging"))
        ckpt = fresh_dir(os.path.join(self.dir, "open-ckpt"))
        store = os.path.join(self.dir, "open-metrics.json")
        tick = TICK_S
        per_file = round(EVENT_RATE * tick)
        n_files = max(PRIME_FILES + MIN_SAMPLED_FILES, round(seconds / tick))
        agg, timed = _scoring(spark, live, store, 100_000)
        query = (agg.writeStream.outputMode("update").foreachBatch(timed)
                 .option("checkpointLocation", ckpt).queryName("perfbench_open_loop").start())
        log_path = os.path.join(self.dir, "generator.log")
        t0 = time.time() + 1.0
        gen_proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.streamgen", "--out", live, "--staging", staging,
             "--log", log_path, "--seed", str(self.seed), "--files", str(n_files),
             "--events-per-file", str(per_file), "--users", str(USERS),
             "--span-us", str(SPAN_US), "--t0", repr(t0), "--tick", repr(tick)])
        try:
            gen_proc.wait(timeout=seconds + 60)
            names = [file_name(k) for k in range(n_files)]
            deadline = time.time() + (QUIESCE_TIMEOUT_S if gen_proc.returncode == 0 else 0)
            while time.time() < deadline:
                file_batch = self._file_batches(ckpt)
                done = {b for b, _, _ in timed.calls}
                if all(file_batch.get(n) in done for n in names):
                    break
                time.sleep(0.05)
        finally:
            if gen_proc.poll() is None:
                gen_proc.kill()
                gen_proc.wait()
            query.stop()
        scheduled, lag = {}, []
        with open(log_path) as f:
            for line in f:
                name, due, published = line.split()
                scheduled[name] = float(due)
                lag.append(float(published) - float(due))
        batch_end = {b: end for b, _, end in timed.calls}
        file_batch = self._file_batches(ckpt)
        missing = tracing.file_latencies(scheduled, file_batch, batch_end)[1]
        first_sampled = file_name(PRIME_FILES)
        sampled = {n: t for n, t in scheduled.items() if n >= first_sampled}
        self.attempted += n_files
        self.latencies += tracing.file_latencies(sampled, file_batch, batch_end)[0]
        self.bridge_calls += timed.calls
        self.open_log = {"tick_s": tick, "events_per_file": per_file,
                         "generator_lag_max_s": max(lag) if lag else 0.0,
                         "backlog_files_max": tracing.max_backlog(scheduled, file_batch, batch_end)}
        if gen_proc.returncode:
            self.failures.append(f"open loop: generator exited with {gen_proc.returncode}")
        if missing or len(scheduled) != n_files:
            self.failures.append(f"open loop: {missing} of {n_files} files never scored")
        batches = len({file_batch[n] for n in scheduled if n in file_batch})
        if _store_entries(store) != batches:
            self.failures.append(f"open loop: metrics JSON holds {_store_entries(store)} "
                                 f"entries for {batches} non-empty batches")

    @staticmethod
    def _file_batches(ckpt: str) -> dict[str, int]:
        texts = []
        for p in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
            try:
                with open(p) as f:
                    texts.append(f.read())
            except FileNotFoundError:  # compacted away while listing
                continue
        return tracing.parse_file_source_log(texts)

    # -- (b) drain ---------------------------------------------------------------
    def _drain(self, spark, name: str) -> None:
        from big_data_analytics_project_spark.streaming import bridge

        store = os.path.join(self.dir, f"drain-{name}-metrics.json")
        agg, timed = _scoring(spark, self.backlog, store, 1)
        t0 = time.time()
        with self.tracer.span("streaming.bridge.run_scored_stream"):
            bridge.run_scored_stream(agg, timed)
        t1 = time.time()
        self.attempted += DRAIN_FILES
        scored = {m["batch_id"] for m in timed.bridge.batches}
        self.drain_batch_s += tracing.batch_intervals(
            t0, [end for b, _, end in timed.calls if b in scored])
        self.drain_wall_rates.append(self.drain_events / (t1 - t0))
        self.bridge_calls += timed.calls
        if len(timed.bridge.batches) != DRAIN_FILES or _store_entries(store) != DRAIN_FILES:
            self.failures.append(
                f"drain: {len(timed.bridge.batches)} scored batches and "
                f"{_store_entries(store)} metrics entries for {DRAIN_FILES} files")

    def measure(self, spark, seconds: float) -> None:
        # A drain is a few short batches; draining on both sides of the open
        # loop samples the host's load at two moments instead of one.
        self._drain(spark, "before")
        self._open_loop(spark, seconds * OPEN_SHARE)
        self._drain(spark, "after")

    def check(self, spark) -> None:
        """The gate ran during warmup, before the timed region."""

    def _check_backlog(self, spark) -> None:
        """The streamed aggregate of the backlog equals a DuckDB batch
        aggregate of the same files, except for the HLL column.  The stream
        reads one file per micro-batch, as the drain does, so the final
        table depends on state carried across every batch."""
        from big_data_analytics_project_spark.streaming import processor

        import duckdb

        agg = processor.tumbling_features(
            processor.read_event_stream(spark, self.backlog, max_files_per_trigger=1))
        got = (processor.run_to_completion(agg, "perfbench_stream_check", "complete")
               .selectExpr("win.start AS win_start", "user_id", "label", "view_count",
                           "total_events", "total_value", "last_event_time")
               .toPandas())
        con = duckdb.connect()
        try:
            want = con.execute(f"""
                SELECT time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) AS win_start, user_id,
                       max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS label,
                       count(CASE WHEN event_type = 'view' THEN 1 END) AS view_count,
                       count(*) AS total_events,
                       CAST(sum(CAST(value AS DECIMAL(18, 2))) AS DOUBLE) AS total_value,
                       max(CAST(ts AS TIMESTAMP)) AS last_event_time
                FROM read_json('{self.backlog}/*.json', format = 'newline_delimited',
                               columns = {{'event_id': 'BIGINT', 'ts': 'VARCHAR',
                                          'user_id': 'BIGINT', 'event_type': 'VARCHAR',
                                          'value': 'DOUBLE', 'props': 'VARCHAR'}})
                GROUP BY ALL""").fetchdf()
        finally:
            con.close()
        key = ["win_start", "user_id"]
        got = got.sort_values(key).reset_index(drop=True)
        want = want.sort_values(key).reset_index(drop=True)
        if len(got) != len(want):
            self.failures.append(f"stream aggregate: {len(got)} rows, batch has {len(want)}")
            return
        for col in want.columns:
            a, b = got[col].to_numpy(), want[col].to_numpy()
            if col in ("win_start", "last_event_time"):
                a, b = a.astype("datetime64[us]"), b.astype("datetime64[us]")
            if not (a == b).all():
                self.failures.append(f"stream aggregate: column {col} differs from the batch")

    def end_to_end(self) -> dict[str, float]:
        self.tail_q, tail = tracing.tail_percentile(self.latencies)
        return {"primary_s": tracing.median(self.latencies), "secondary_s": tail,
                # one file per micro-batch: a file's events over the median
                # batch time, so the query's start-up and a slow batch drop out
                "throughput_per_s": DRAIN_EVENTS_PER_FILE / tracing.median(self.drain_batch_s)}

    def named(self, e2e: dict) -> dict:
        return {"stream_latency_p50_s": (e2e["primary_s"], "s"),
                f"stream_latency_p{100 * self.tail_q:.0f}_s": (e2e["secondary_s"], "s"),
                "stream_drain_events_per_s": (e2e["throughput_per_s"], "events/s")}

    def report(self) -> dict:
        return {"inputs": self.inputs, "open_loop": self.open_log,
                "latency_samples": len(self.latencies),
                "drain_events_per_wall_s": self.drain_wall_rates}
