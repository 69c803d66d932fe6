"""Unit tests of the benchmark's pure helpers on canned inputs.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

import csv
import json

import pytest

from perfbench import gen, tracing


# -- percentiles -------------------------------------------------------------

def test_tail_percentile_is_p90_with_enough_samples():
    values = list(range(1, 101))  # 100 samples
    q, v = tracing.tail_percentile(values)
    assert q == 0.9 and v == 90
    assert sum(x > v for x in values) == 10


def test_tail_percentile_falls_back_to_ten_beyond():
    values = [float(x) for x in range(50, 0, -1)]  # 50 samples, unsorted
    q, v = tracing.tail_percentile(values)
    assert q == 0.8 and v == 40.0
    assert sum(x > v for x in values) == 10


def test_tail_percentile_needs_more_than_ten_samples():
    assert tracing.tail_percentile(list(range(11))) == (1 / 11, 0)
    with pytest.raises(ValueError):
        tracing.tail_percentile(list(range(10)))


# -- micro-batch ↔ file --------------------------------------------------------

def _log(entries):
    return "v1\n" + "\n".join(json.dumps(e) for e in entries) + "\n"


def test_parse_file_source_log_reads_plain_and_compact_files():
    plain = _log([{"path": "file:///w/live/events-000002.json", "timestamp": 1, "batchId": 3}])
    compact = _log([
        {"path": "file:///w/live/events-000000.json", "timestamp": 1, "batchId": 1},
        {"path": "file:///w/live/events-000001.json", "timestamp": 1, "batchId": 1},
    ])
    assert tracing.parse_file_source_log([plain, compact]) == {
        "events-000000.json": 1, "events-000001.json": 1, "events-000002.json": 3}


def test_file_latencies_and_backlog():
    scheduled = {"a": 10.0, "b": 10.5, "c": 11.0, "d": 11.5}
    file_batch = {"a": 0, "b": 1, "c": 1}  # d was never read
    batch_end = {0: 10.8, 1: 12.0}
    lat, missing = tracing.file_latencies(scheduled, file_batch, batch_end)
    assert sorted(lat) == pytest.approx([0.8, 1.0, 1.5])
    assert missing == 1
    # at 10.8: a, b written, a done → 1; at 12.0: all four written, a, b, c done → 1
    assert tracing.max_backlog(scheduled, file_batch, batch_end) == 1


def test_batch_intervals_run_from_the_previous_batch_end():
    # ends arrive out of order; the first batch is timed from the drain's start
    assert tracing.batch_intervals(100.0, [103.5, 102.0, 104.0]) == pytest.approx([2.0, 1.5, 0.5])
    assert tracing.batch_intervals(100.0, []) == []


# -- event-log reduction ---------------------------------------------------------

def _task(stage, launch_ms, finish_ms, **metrics):
    base = {"Executor Run Time": finish_ms - launch_ms, "Executor CPU Time": 5e8,
            "JVM GC Time": 10}
    base.update(metrics)
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": launch_ms, "Finish Time": finish_ms},
            "Task Metrics": base}


def test_covered_merges_and_clips():
    assert tracing.covered([(0, 2), (1, 3), (5, 6)], 0.5, 5.5) == pytest.approx(3.0)
    assert tracing.covered([], 0, 1) == 0.0


def test_reduce_event_log_attributes_by_group_then_time():
    spans = [(100.0, 110.0), (102.0, 104.0)]
    events = [
        # job group names span 0 even though it starts inside span 1
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 103000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "span-0"}},
        # no group: innermost span open at submission (span 1)
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 102500,
         "Stage IDs": [2], "Properties": {"spark.jobGroup.id": "some-stream-run-id"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
        _task(0, 103000, 104000, **{"Input Metrics": {"Bytes Read": 100, "Records Read": 7}}),
        _task(1, 104000, 104500, **{"Shuffle Write Metrics": {"Shuffle Bytes Written": 64},
                                    "Shuffle Read Metrics": {"Fetch Wait Time": 20}}),
        _task(2, 102600, 102900, **{"Output Metrics": {"Bytes Written": 50},
                                    "Memory Bytes Spilled": 3, "Disk Bytes Spilled": 4}),
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 200000,
         "Stage IDs": [3]},  # outside every span: dropped
    ]
    stats = tracing.reduce_event_log(events, spans)
    assert set(stats) == {0, 1}
    s0, s1 = stats[0], stats[1]
    assert (s0.jobs, s0.stages, s0.tasks) == (1, 1, 2)
    assert s0.run_s == pytest.approx(1.5) and s0.cpu_s == pytest.approx(1.0)
    assert (s0.scan_rows, s0.scan_bytes, s0.scan_task_s) == (7, 100, 1.0)
    assert s0.shuffle_write_bytes == 64 and s0.fetch_wait_s == pytest.approx(0.02)
    assert s0.first_job == 103.0
    assert (s1.jobs, s1.tasks, s1.sink_bytes, s1.spill_bytes) == (1, 1, 50, 7)
    merged = tracing.SpanStats()
    merged.merge(s0)
    merged.merge(s1)
    assert merged.tasks == 3 and merged.first_job == 102.5 and len(merged.intervals) == 3


def test_read_event_logs_handles_rolled_directories(tmp_path):
    (tmp_path / "app-1").write_text('{"Event": "A"}\n')
    rolled = tmp_path / "eventlog_v2_app-2"
    rolled.mkdir()
    (rolled / "events_2_app-2").write_text('{"Event": "C"}\n')
    (rolled / "events_1_app-2").write_text('{"Event": "B"}\n')
    (rolled / "appstatus_app-2").write_text("")
    assert tracing.read_event_logs(str(tmp_path)) == [
        [{"Event": "A"}], [{"Event": "B"}, {"Event": "C"}]]


# -- seeded inputs -----------------------------------------------------------------

def test_clickstream_csv_is_seeded_and_reference_shaped(tmp_path):
    a, b, c = (str(tmp_path / n) for n in ("a.csv", "b.csv", "c.csv"))
    truth = gen.clickstream_csv(a, 3000, seed=5)
    gen.clickstream_csv(b, 3000, seed=5)
    gen.clickstream_csv(c, 3000, seed=6)
    assert open(a, "rb").read() == open(b, "rb").read()
    assert open(a, "rb").read() != open(c, "rb").read()

    with open(a, newline="") as f:
        rows = list(csv.DictReader(f))
    assert list(rows[0]) == gen.CLICKSTREAM_COLUMNS
    assert len(rows) == truth["events"] and truth["bytes"] > 0
    assert all(r["event_time"].endswith(" UTC") for r in rows)
    assert any(r["category_code"] == "" for r in rows) and any(r["brand"] == "" for r in rows)
    assert any(r["category_id"] == "" for r in rows)
    sessions: dict[str, list] = {}
    for r in rows:
        sessions.setdefault(r["user_session"], []).append((r["event_time"], r["event_type"]))
    assert len(sessions) == truth["sessions"]
    purchase_ts = {s: min(t for t, e in ev if e == "purchase")
                   for s, ev in sessions.items() if any(e == "purchase" for _, e in ev)}
    assert len(purchase_ts) == truth["purchase_sessions"]
    after = ties = 0
    for s, t_buy in purchase_ts.items():
        others = [t for t, e in sessions[s] if e != "purchase"]
        after += any(t > t_buy for t in others)
        ties += any(t == t_buy for t in others)
    assert after > 0 and ties > 0  # post-purchase events, some at the purchase timestamp


def test_stream_event_lines_are_seeded_and_in_span():
    a = gen.stream_event_lines(3, 7, 50, 1_000_000, 100)
    assert a == gen.stream_event_lines(3, 7, 50, 1_000_000, 100)
    assert a != gen.stream_event_lines(4, 7, 50, 1_000_000, 100)
    events = [json.loads(line) for line in a]
    assert [e["event_id"] for e in events] == list(range(350, 400))
    assert all(e["ts"].startswith("2024-01-01 00:00:07") for e in events)
    assert "created_at" in json.loads(gen.stream_event_lines(3, 7, 1, 1_000_000, 100, 9.5)[0])["props"]
