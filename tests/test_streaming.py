"""Behavioral tests for the streaming engine: watermark late-data
semantics, micro-batch sequencing, and the foreachBatch online bridge."""

import json
import os

import pyspark.sql.functions as F
import pytest

from big_data_analytics_project_spark.streaming import processor as P
from big_data_analytics_project_spark.streaming.bridge import (
    MetricsStore,
    OnlineScoringBridge,
    run_scored_stream,
)


def _write_json(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def test_watermark_drops_late_events(spark, tmp_path):
    """Append-mode tumbling agg with a 10-minute watermark: an event
    arriving a full day late (after the watermark passed its window) must
    not resurrect the closed window."""
    d = str(tmp_path / "stream")
    os.makedirs(d)
    base = "2024-01-02 12:{m:02d}:00"
    _write_json(
        os.path.join(d, "f0.json"),
        [
            {"event_id": i, "ts": base.format(m=i), "user_id": 1,
             "event_type": "view", "value": 1.0, "props": "{}"}
            for i in range(5)
        ],
    )
    # batch 2 advances event time by an hour, pushing the watermark far past
    # the day-old window; batch 3 delivers an event a day late.  (The late
    # row must be a full batch behind the watermark-advancing one: Spark's
    # late-row filter applies the watermark with one batch of lag.)
    _write_json(
        os.path.join(d, "f1.json"),
        [{"event_id": 100, "ts": "2024-01-02 13:30:00", "user_id": 1,
          "event_type": "view", "value": 1.0, "props": "{}"}],
    )
    _write_json(
        os.path.join(d, "f2.json"),
        [{"event_id": 101, "ts": "2024-01-01 12:00:00", "user_id": 1,
          "event_type": "view", "value": 1.0, "props": "{}"}],
    )
    # file source discovers in mtime order: make the ordering explicit
    now = 1_700_000_000
    for i, f in enumerate(["f0.json", "f1.json", "f2.json"]):
        os.utime(os.path.join(d, f), (now + i * 100, now + i * 100))
    stream = P.read_event_stream(spark, d, max_files_per_trigger=1)
    agg = P.tumbling_features(stream, watermark="10 minutes", window="1 hour")
    out = P.run_to_completion(agg, "t_late", output_mode="append")
    starts = [r["win"]["start"].isoformat() for r in out.collect()]
    # the day-old window must be absent: its event arrived after the
    # watermark had passed 2024-01-01 13:00
    assert not any(s.startswith("2024-01-01") for s in starts)


def test_unparseable_event_time_is_dropped_not_fatal(spark, tmp_path):
    """One event whose ``ts`` does not parse reads as a null event time,
    which the window drops, instead of failing the query under ANSI mode:
    the aggregate equals the clean rows' aggregate."""
    clean = [{"event_id": i, "ts": f"2024-01-02 12:{i:02d}:00", "user_id": i % 3,
              "event_type": "view", "value": 1.0, "props": "{}"} for i in range(6)]
    bad = {"event_id": 99, "ts": "not a time", "user_id": 1,
           "event_type": "purchase", "value": 5.0, "props": "{}"}
    results = {}
    for name, rows in (("clean", clean), ("bad", clean + [bad])):
        d = str(tmp_path / name)
        os.makedirs(d)
        _write_json(os.path.join(d, "f0.json"), rows)
        agg = P.tumbling_features(P.read_event_stream(spark, d))
        results[name] = sorted(P.run_to_completion(agg, f"t_bad_ts_{name}").collect())
    assert results["bad"] == results["clean"]
    assert sum(r.total_events for r in results["bad"]) == len(clean)


def test_append_mode_evicts_finalized_state(spark, tmp_path):
    """The production path (run_append_to_files): each window is written
    exactly once when the watermark finalizes it, its state is evicted, a
    later late row cannot resurrect or mutate it, and still-open windows
    are absent from the sink."""
    d = str(tmp_path / "stream")
    os.makedirs(d)
    _write_json(
        os.path.join(d, "f0.json"),
        [
            {"event_id": i, "ts": f"2024-01-02 12:{i:02d}:00", "user_id": 1,
             "event_type": "view", "value": 1.0, "props": "{}"}
            for i in range(5)
        ],
    )
    # two watermark-advancing batches: the late-row filter applies the
    # watermark with a batch of lag, so the wm that drops f3's late row is
    # the one computed from f1 (13:30 - 10 min = 13:20)
    _write_json(
        os.path.join(d, "f1.json"),
        [{"event_id": 100, "ts": "2024-01-02 13:30:00", "user_id": 1,
          "event_type": "view", "value": 1.0, "props": "{}"}],
    )
    _write_json(
        os.path.join(d, "f2.json"),
        [{"event_id": 102, "ts": "2024-01-02 14:30:00", "user_id": 1,
          "event_type": "view", "value": 1.0, "props": "{}"}],
    )
    # a row for the already-finalized [12:00, 13:00) window → dropped
    _write_json(
        os.path.join(d, "f3.json"),
        [{"event_id": 101, "ts": "2024-01-02 12:30:00", "user_id": 1,
          "event_type": "view", "value": 1.0, "props": "{}"}],
    )
    now = 1_700_000_000
    for i, f in enumerate(["f0.json", "f1.json", "f2.json", "f3.json"]):
        os.utime(os.path.join(d, f), (now + i * 100, now + i * 100))
    stream = P.read_event_stream(spark, d, max_files_per_trigger=1)
    agg = P.tumbling_features(stream, watermark="10 minutes", window="1 hour")
    out = P.run_append_to_files(agg, str(tmp_path / "sink"))
    collected = out.collect()
    rows = {r["win"]["start"].isoformat(): r for r in collected}
    # finalized windows written exactly once each; late row excluded from
    # the closed 12:00 window; the still-open 14:00 window absent
    assert len(collected) == len(rows) == 2
    assert rows["2024-01-02T12:00:00"]["total_events"] == 5
    assert rows["2024-01-02T13:00:00"]["total_events"] == 1
    assert "2024-01-02T14:00:00" not in rows


def test_append_to_files_reads_back_a_file_uri_sink(spark, tmp_path):
    """The sink is probed through Hadoop's FileSystem API, so a
    ``file://`` URI sink (the shape of a shared-storage URI) reads back
    the finalized windows instead of failing a driver-local listing."""
    d = str(tmp_path / "stream")
    os.makedirs(d)
    for i, ts in enumerate(["2024-01-02 12:05:00", "2024-01-02 13:30:00"]):
        f = os.path.join(d, f"f{i}.json")
        _write_json(f, [{"event_id": i, "ts": ts, "user_id": 1,
                         "event_type": "view", "value": 1.0, "props": "{}"}])
        os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))
    stream = P.read_event_stream(spark, d, max_files_per_trigger=1)
    agg = P.tumbling_features(stream, watermark="10 minutes", window="1 hour")
    out = P.run_append_to_files(agg, (tmp_path / "sink").as_uri())
    starts = [r["win"]["start"].isoformat() for r in out.collect()]
    assert starts == ["2024-01-02T12:00:00"]


def test_streaming_dedup_collapses_resent_payloads(spark, tmp_path):
    """dropDuplicatesWithinWatermark: identical (user, payload) rows
    re-sent within the watermark horizon collapse to one; distinct
    payloads and other users survive."""
    from big_data_analytics_project_spark.streaming.processor import dedup_stream

    d = str(tmp_path / "stream")
    os.makedirs(d)
    ev = lambda i, ts, uid, et, props: {  # noqa: E731
        "event_id": i, "ts": ts, "user_id": uid,
        "event_type": et, "value": 1.0, "props": props,
    }
    _write_json(
        os.path.join(d, "f0.json"),
        [
            ev(1, "2024-01-02 12:00:00", 1, "view", '{"k": 7}'),
            ev(2, "2024-01-02 12:01:00", 1, "view", '{"k": 7}'),  # dup payload
            ev(3, "2024-01-02 12:02:00", 1, "view", '{"k": 8}'),  # distinct
            ev(4, "2024-01-02 12:03:00", 2, "view", '{"k": 7}'),  # other user
        ],
    )
    # second batch: another re-send inside the horizon → still a dup
    _write_json(
        os.path.join(d, "f1.json"),
        [ev(5, "2024-01-02 12:05:00", 1, "view", '{"k": 7}')],
    )
    now = 1_700_000_000
    for i, f in enumerate(["f0.json", "f1.json"]):
        os.utime(os.path.join(d, f), (now + i * 100, now + i * 100))
    stream = P.read_event_stream(spark, d, max_files_per_trigger=1)
    out = P.run_to_completion(dedup_stream(stream), "t_dedup_test", "append")
    got = sorted((r.user_id, r.event_id) for r in out.collect())
    assert got == [(1, 1), (1, 3), (2, 4)]


def test_session_window_merges_within_gap(spark, tmp_path):
    d = str(tmp_path / "sess")
    os.makedirs(d)
    rows = [
        {"event_id": 1, "ts": "2024-01-02 10:00:00", "user_id": 7,
         "event_type": "view", "value": 1.0, "props": "{}"},
        {"event_id": 2, "ts": "2024-01-02 10:20:00", "user_id": 7,
         "event_type": "view", "value": 1.0, "props": "{}"},  # within 30 min gap
        {"event_id": 3, "ts": "2024-01-02 12:00:00", "user_id": 7,
         "event_type": "purchase", "value": 5.0, "props": "{}"},  # new session
    ]
    _write_json(os.path.join(d, "f0.json"), rows)
    stream = P.read_event_stream(spark, d, max_files_per_trigger=10)
    out = P.run_to_completion(
        P.session_features(stream, gap="30 minutes"), "t_sess_merge", "complete"
    )
    got = sorted(
        (r.n_events, r.converted) for r in out.where(F.col("user_id") == 7).collect()
    )
    assert got == [(1, 1), (2, 0)]


def test_foreachbatch_bridge_learns_and_sinks(spark, sf_dir, tmp_path):
    json_dir = P.stage_json_stream(spark, sf_dir, "events", n_files=3)
    try:
        stream = P.read_event_stream(spark, json_dir, max_files_per_trigger=1)
        agg = P.tumbling_features(stream)
        store = MetricsStore(str(tmp_path / "metrics.json"))
        bridge = OnlineScoringBridge(store=store)
        batches = run_scored_stream(agg, bridge)
        assert len(batches) >= 2  # one per staged file (update mode, non-empty)
        assert bridge.model.n_updates >= 1 and bridge.model.fitted
        doc = json.loads((tmp_path / "metrics.json").read_text())
        assert doc["current"]["batch_id"] == batches[-1]["batch_id"]
        assert len(doc["history"]) == len(batches)
    finally:
        import shutil

        shutil.rmtree(json_dir, ignore_errors=True)


def test_scoring_bridge_collects_each_micro_batch_once(spark, tmp_path):
    """Every Spark job a micro-batch's frame runs re-runs the stateful
    aggregate upstream, so the bridge collects a micro-batch ONCE and
    applies the T7 empty-batch guard to the collected frame: a non-empty
    batch costs one job, and an empty one records no batch and writes no
    metrics entry."""
    from conftest import _jobs_submitted

    path = tmp_path / "metrics.json"
    bridge = OnlineScoringBridge(store=MetricsStore(str(path)))

    def features(n):
        return spark.range(n).selectExpr(
            "CAST(id % 2 AS BIGINT) AS label", "id AS view_count",
            "2 * id AS total_events", "CAST(id AS DOUBLE) AS total_value",
            "id AS unique_items_approx",
        )

    empty = features(0)
    bridge(empty, 0)
    assert bridge.batches == [] and not path.exists()

    batch = features(40)
    assert _jobs_submitted(spark, "bridge_one_collect", lambda: bridge(batch, 1)) == 1
    assert [m["batch_id"] for m in bridge.batches] == [1]
    assert json.loads(path.read_text())["current"]["n_rows"] == 40


def test_drain_caps_state_stores_and_restores_session(spark, tmp_path):
    """drain_available alone decides a drain's state-store count:
    min(8, the session's spark.sql.shuffle.partitions), as the stateful
    operator reports it, and the session keeps its own setting."""
    import time as _time

    from pyspark.sql.streaming import StreamingQueryListener

    d = str(tmp_path / "stream")
    os.makedirs(d)
    _write_json(
        os.path.join(d, "f0.json"),
        [{"event_id": i, "ts": f"2024-01-02 12:{i:02d}:00", "user_id": i % 3,
          "event_type": "view", "value": 1.0, "props": "{}"} for i in range(6)],
    )
    seen = {}

    class StateParts(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            if p.stateOperators:
                seen[p.name] = p.stateOperators[0].numShufflePartitions

        def onQueryTerminated(self, event):
            pass

        def onQueryIdle(self, event):
            pass

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    listener = StateParts()
    spark.streams.addListener(listener)
    try:
        for n in (4, 17):
            spark.conf.set(key, str(n))
            P.run_to_completion(
                P.tumbling_features(P.read_event_stream(spark, d)),
                f"t_drain_parts_{n}", "complete",
            )
            assert spark.conf.get(key) == str(n)
        # listener delivery is async; wait briefly for the progress events
        deadline = _time.time() + 20
        while _time.time() < deadline and len(seen) < 2:
            _time.sleep(0.2)
    finally:
        spark.streams.removeListener(listener)
        spark.conf.set(key, before)
    assert seen == {"t_drain_parts_4": 4, "t_drain_parts_17": 8}


def test_fanout_computes_once_and_feeds_every_sink(spark, sf_dir, tmp_path):
    """One stream → two sinks via foreachBatch fan-out: both sinks see the
    complete data, batch directories carry the idempotence contract, and
    the raw archive row count equals the source (computed-once semantics
    are the point; N independent writeStream queries would re-scan)."""
    from big_data_analytics_project_spark.streaming.bridge import (
        idempotent_parquet_writer,
        run_fanout_stream,
    )

    json_dir = P.stage_json_stream(spark, sf_dir, "events", n_files=2)
    stream = P.read_event_stream(spark, json_dir, max_files_per_trigger=1)

    raw_dir = str(tmp_path / "raw")
    agg_rows = []

    def agg_writer(batch_df, batch_id):
        agg_rows.append(
            (batch_id, batch_df.groupBy("event_type").count().count())
        )

    run_fanout_stream(
        stream,
        [idempotent_parquet_writer(raw_dir), agg_writer],
    )

    src_n = spark.read.json(json_dir).count()
    archived = spark.read.parquet(raw_dir)
    assert archived.count() == src_n
    # one batch dir per micro-batch (maxFilesPerTrigger=1 over 2 files)
    batch_dirs = [d for d in os.listdir(raw_dir) if d.startswith("batch_id=")]
    assert len(batch_dirs) == 2
    assert [b for b, _ in agg_rows] == [0, 1]
    assert all(n > 0 for _, n in agg_rows)


class _FakeRedis:
    """Minimal redis-py-shaped client: SET/GET strings, LPUSH/LTRIM/LRANGE
    lists — just the five commands the store issues."""

    def __init__(self):
        self.kv = {}
        self.lists = {}

    def set(self, k, v):
        self.kv[k] = v

    def get(self, k):
        return self.kv.get(k)

    def lpush(self, k, v):
        self.lists.setdefault(k, []).insert(0, v)

    def ltrim(self, k, start, stop):
        self.lists[k] = self.lists.get(k, [])[start : stop + 1]

    def lrange(self, k, start, stop):
        return self.lists.get(k, [])[start : stop + 1]


def test_redis_metrics_store_contract():
    """S10: current snapshot + bounded newest-first history, same contract
    as the file-backed MetricsStore, against an injected client."""
    from big_data_analytics_project_spark.streaming.bridge import (
        RedisMetricsStore,
    )

    store = RedisMetricsStore(client=_FakeRedis(), max_history=3)
    for i in range(5):
        store.update({"batch_id": i})
    snap = store.snapshot()
    assert snap["current"] == {"batch_id": 4}
    assert [h["batch_id"] for h in snap["history"]] == [4, 3, 2]  # capped, newest first


def test_rocksdb_state_store_gives_identical_results(spark, sf_dir):
    """The at-scale state backend (RocksDBStateStoreProvider, bundled)
    must be a pure deployment swap: the same windowed aggregate over the
    same staged replay returns value-identical results under the default
    in-heap provider and under RocksDB, set as a session conf the way a
    deployment sets it at launch."""
    key = "spark.sql.streaming.stateStore.providerClass"
    json_dir = P.stage_json_stream(spark, sf_dir, "events", n_files=2)

    def run(name):
        stream = P.read_event_stream(spark, json_dir, max_files_per_trigger=2)
        out = P.run_to_completion(P.tumbling_features(stream), name, "complete")
        return {tuple(r) for r in out.collect()}

    default_rows = run("t_sb_default")
    before = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        rocks_rows = run("t_sb_rocks")
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)
    assert rocks_rows == default_rows and len(rocks_rows) > 0


def test_progress_listener_records_batches(spark, sf_dir, tmp_path):
    """The StreamingQueryListener feed: every micro-batch of a run lands
    in the metrics store with rows/sec + duration — observability without
    touching the query itself."""
    import time as _time

    from big_data_analytics_project_spark.streaming.bridge import (
        MetricsStore,
        attach_progress_listener,
    )

    store = MetricsStore(str(tmp_path / "progress.json"))
    listener = attach_progress_listener(spark, store)
    try:
        json_dir = P.stage_json_stream(spark, sf_dir, "events", n_files=2)
        stream = P.read_event_stream(spark, json_dir, max_files_per_trigger=1)
        P.run_to_completion(
            P.tumbling_features(stream), "t_progress",
            output_mode="complete",
        )
        # listener delivery is async; wait briefly for the progress events
        deadline = _time.time() + 20
        while _time.time() < deadline and len(store.history) < 2:
            _time.sleep(0.2)
    finally:
        spark.streams.removeListener(listener)
    batches = [
        m for m in store.history if m.get("query") == "t_progress"
        and m.get("num_input_rows", 0) > 0
    ]
    assert len(batches) >= 2  # one per staged file
    assert all(m["batch_duration_ms"] is not None for m in batches)


def test_streaming_scd2_maintains_dimension_history(spark, sf_dir, tmp_path):
    """foreachBatch CDC consumer: the change stream folds into an SCD2
    snapshot per micro-batch (version=N merges onto version=N-1 — the
    replay-idempotent contract).  Final state invariants: exactly one
    open row per key, closed ranges ordered, and the open attribute
    equals each user's last event_type in (ts, event_id) order."""
    from big_data_analytics_project_spark.streaming.bridge import (
        run_scd2_stream,
    )

    json_dir = P.stage_json_stream(spark, sf_dir, "events", n_files=2)
    stream = P.read_event_stream(spark, json_dir, max_files_per_trigger=1)
    snap_dir = str(tmp_path / "dim_user_activity")
    final = run_scd2_stream(
        stream, snap_dir, key="user_id", attr="event_type",
        ts_col="ts", order_col="event_id",
    )

    rows = final.collect()
    open_rows = [r for r in rows if r["valid_to_epoch"] is None]
    users = {r["user_id"] for r in rows}
    assert len(open_rows) == len(users)  # exactly one open row per key

    # closed history never overlaps: valid_from <= valid_to per row
    for r in rows:
        if r["valid_to_epoch"] is not None:
            assert r["valid_from_epoch"] <= r["valid_to_epoch"]

    # the open attribute is each user's LAST change in event-time order
    src = spark.read.json(json_dir)
    last = {
        r["user_id"]: r["event_type"]
        for r in src.orderBy("ts", "event_id").collect()
    }
    got = {r["user_id"]: r["event_type"] for r in open_rows}
    assert got == last

    # both batch versions landed
    import os as _os

    assert sorted(
        d for d in _os.listdir(snap_dir) if d.startswith("version=")
    ) == ["version=0", "version=1"]


def _assert_staged_in_key_order(spark, sf_dir, table, key):
    """Stage ``table`` as four JSON files and check every file's ``key``
    range is disjoint from the next file's (boundary ties allowed), the
    part-file names sort in range order, and the stamped mtimes ascend
    strictly with that name order."""
    json_dir = P.stage_json_stream(spark, sf_dir, table, n_files=4)
    try:
        parts = sorted(
            f
            for f in os.listdir(json_dir)
            if f.startswith("part-") and f.endswith(".json")
        )
        assert len(parts) == 4
        ranges = []
        for f in parts:
            ts = [
                json.loads(line)[key]
                for line in open(os.path.join(json_dir, f))
                if line.strip()
            ]
            assert ts, f"staged file {f} is empty"
            ranges.append((min(ts), max(ts)))
        for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
            assert hi <= lo, (
                f"staged ts ranges overlap across files: {ranges}"
            )
        mtimes = [os.path.getmtime(os.path.join(json_dir, f)) for f in parts]
        assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)
    finally:
        import shutil

        shutil.rmtree(json_dir, ignore_errors=True)


def test_staged_files_replay_in_event_time_order(spark, sf_dir):
    """The custom-sessionization oracle equivalence (ADVICE r8) assumes the
    staged JSON files replay in non-decreasing ts order across triggers:
    every file's ts range must be disjoint from the next file's (boundary
    ties allowed — range partitioning splits on (ts, event_id)), the
    part-file NAMES must sort in range order, and the stamped mtimes (what
    the streaming file source actually orders discovery by) must ascend
    with that name order.  If staging ever loses this property, the 10-min
    watermark would silently drop late rows that the SQL oracle counts."""
    _assert_staged_in_key_order(spark, sf_dir, "events", "ts")


@pytest.mark.parametrize(
    "table, key", [("documents", "doc_id"), ("embeddings", "vec_id")]
)
def test_staged_replays_keep_id_order(spark, sf_dir, table, key):
    """The document and embedding replays keep the same ordering property
    on their ids, through the same stager as the event replay."""
    _assert_staged_in_key_order(spark, sf_dir, table, key)


def test_frozen_scoring_is_batch_boundary_invariant(spark, sf_dir, tmp_path):
    """The round-13 oracle lift dual rests on this property: a FROZEN
    model is a pure per-row function, so append-mode tumbling features
    scored batch-by-batch land the same cumulative surface in the sink
    whether the replay runs as 4 micro-batches or as 1 (contrast: the
    ONLINE bridge's metrics shift with batch boundaries because each
    batch is scored after the previous batches' partial_fits)."""
    from big_data_analytics_project_spark.plans.streaming_queries import (
        _APPEND_CUTOFF_EPOCH,
        _frozen_scores,
    )
    from big_data_analytics_project_spark.streaming.bridge import (
        idempotent_parquet_writer,
        run_foreach_batch,
    )

    json_dir = P.stage_json_stream(spark, sf_dir, "events", n_files=4)
    try:
        def score(trigger_files):
            stream = P.read_event_stream(
                spark, json_dir, max_files_per_trigger=trigger_files
            )
            sink = str(tmp_path / f"scores_{trigger_files}")
            run_foreach_batch(
                _frozen_scores(stream),
                idempotent_parquet_writer(sink),
                output_mode="append",
            )
            return sorted(
                (r.window_start_epoch, r.user_id, r.label, r.view_count,
                 r.total_events, r.total_value, r.proba)
                for r in spark.read.parquet(sink).collect()
                if r.window_start_epoch + 3600 <= _APPEND_CUTOFF_EPOCH
            )

        fine = score(1)    # 4 micro-batches
        coarse = score(4)  # 1 batch
        assert fine == coarse
        assert len(fine) > 0
        # frozen model ⇒ only the heuristic's four operating points appear
        assert {row[-1] for row in fine} <= {0.05, 0.35, 0.60, 0.85}
    finally:
        import shutil

        shutil.rmtree(json_dir, ignore_errors=True)


def test_scd2_fold_is_batch_boundary_invariant(spark, sf_dir, tmp_path):
    """The round-12 oracle lift rests on this property: with event-time
    valid_from and ordered delivery, the finalized SCD2 table is a pure
    function of the change log — replaying the SAME staged files as 4
    micro-batches or as 1 must produce identical dimensions."""
    from big_data_analytics_project_spark.streaming.bridge import (
        run_scd2_stream,
    )

    json_dir = P.stage_json_stream(spark, sf_dir, "events", n_files=4)

    def fold(trigger_files, tag):
        stream = P.read_event_stream(
            spark, json_dir, max_files_per_trigger=trigger_files
        )
        final = run_scd2_stream(
            stream, str(tmp_path / f"snap_{tag}"), key="user_id",
            attr="event_type", ts_col="ts", order_col="event_id",
        )
        return sorted(
            (r["user_id"], r["event_type"], r["valid_from_epoch"],
             r["valid_to_epoch"])
            for r in final.collect()
        )

    fine = fold(1, "fine")      # 4 micro-batches
    coarse = fold(4, "coarse")  # 1 batch = the pure batch fold
    assert fine == coarse
    assert len(fine) > 0


def test_band_index_stream_ingest_is_batch_boundary_invariant(
    spark, sf_dir, tmp_path
):
    """The streamed band index must be a pure function of the corpus:
    ingesting as 4 micro-batches or as 1 yields identical per-band
    censuses (banding is a per-document map; idempotent batch-dir
    writes).  This is the local dual of the oracle equivalence, which
    pins the census against a one-pass batch build."""
    import shutil

    from big_data_analytics_project_spark.plans.dedup_queries import (
        _bandidx_banded,
        _bandidx_signed,
    )
    from big_data_analytics_project_spark.streaming.bridge import (
        idempotent_parquet_writer,
        run_foreach_batch,
    )

    json_dir = P.stage_json_stream(spark, sf_dir, "documents", n_files=4)
    try:
        def census(trigger_files):
            base = str(tmp_path / f"band_index_{trigger_files}")
            stream = P.read_json_stream(
                spark, json_dir, "doc_id LONG, text STRING",
                max_files_per_trigger=trigger_files,
            )
            run_foreach_batch(
                _bandidx_banded(_bandidx_signed(stream)),
                idempotent_parquet_writer(base),
                output_mode="append",
            )
            idx = spark.read.parquet(base)
            return sorted(
                (r.band, r.n)
                for r in idx.groupBy("band").agg(F.count("*").alias("n")).collect()
            )

        fine = census(1)
        coarse = census(4)
        assert fine == coarse
        assert len(fine) == 4  # one census row per band
        assert all(n > 0 for _, n in fine)
    finally:
        shutil.rmtree(json_dir, ignore_errors=True)


def test_frozen_scoring_column_matches_predict_proba(spark):
    """The native-Column compile of a frozen model (streaming/bridge.py
    ``frozen_scoring_column`` — the production scoring path, VERDICT r13
    item 4) must reproduce ``OnlineIntentModel.predict_proba`` for BOTH
    frozen states: unfitted (M7 heuristic → exact when/otherwise
    literals) and fitted (frozen logistic with the frozen scaler folded
    in → float-tolerance agreement; JVM and numpy sum in different
    orders)."""
    import numpy as np

    from big_data_analytics_project_spark.ml.online import (
        FEATURE_COLUMNS,
        OnlineIntentModel,
    )
    from big_data_analytics_project_spark.streaming.bridge import (
        frozen_scoring_column,
    )

    rng = np.random.default_rng(7)
    n = 500
    x = np.column_stack(
        [
            rng.integers(0, 12, n),      # view_count (straddles 3 and 5)
            rng.integers(0, 25, n),      # total_events (straddles 10 and 15)
            rng.uniform(0, 500, n).round(2),
            rng.integers(0, 8, n),
        ]
    ).astype(np.float64)
    rows = [tuple(float(v) for v in row) for row in x]
    df = spark.createDataFrame(rows, FEATURE_COLUMNS)

    # unfitted: the heuristic's four operating points, exactly
    frozen = OnlineIntentModel()
    got = np.array(
        [r.proba for r in df.withColumn(
            "proba", frozen_scoring_column(frozen)
        ).select("proba").collect()]
    )
    want = frozen.predict_proba(x)
    assert np.array_equal(got, want)

    # fitted: train a real model, freeze it, compile, compare
    trained = OnlineIntentModel(update_every=50)
    y = (x[:, 0] >= 4).astype(np.float64)
    trained.weights = np.zeros(len(FEATURE_COLUMNS))
    for i in range(0, n, 50):
        trained.observe(x[i : i + 50], y[i : i + 50])
    trained.fitted = True
    got_fit = np.array(
        [r.proba for r in df.withColumn(
            "proba", frozen_scoring_column(trained)
        ).select("proba").collect()]
    )
    want_fit = trained.predict_proba(x)
    assert np.allclose(got_fit, want_fit, rtol=1e-12, atol=1e-14)


def test_frozen_scoring_sink_is_replay_idempotent(spark, tmp_path):
    """The frozen scores' sink claims at-least-once safety: a REPLAY of
    batch N (same batch_id) must overwrite its batch_id=N directory, not
    duplicate rows — the same writer lands both streamed indexes."""
    from big_data_analytics_project_spark.ml.online import (
        FEATURE_COLUMNS,
        OnlineIntentModel,
    )
    from big_data_analytics_project_spark.sources.sinks import list_subdir_names
    from big_data_analytics_project_spark.streaming.bridge import (
        frozen_scoring_column,
        idempotent_parquet_writer,
    )

    sink = str(tmp_path / "scores")
    write = idempotent_parquet_writer(sink)
    rows = [(i, float(i % 7), float(i % 13), float(i), float(i % 3))
            for i in range(50)]
    df = spark.createDataFrame(rows, ["row_id"] + FEATURE_COLUMNS).withColumn(
        "proba", frozen_scoring_column(OnlineIntentModel())
    )

    write(df, 0)
    write(df.where("row_id < 20"), 1)
    first = spark.read.parquet(sink)
    # materialize BEFORE the replay: the overwrite deletes the files this
    # lazy frame's listing points at
    first_count = first.count()
    first_sum = first.groupBy().sum("proba").collect()[0][0]
    assert first_count == 70
    # replay batch 1 (at-least-once delivery after a failure)
    write(df.where("row_id < 20"), 1)
    replayed = spark.read.parquet(sink)
    assert replayed.count() == 70  # overwrite, not append
    # and the scored values are unchanged by the replay
    assert replayed.groupBy().sum("proba").collect()[0][0] == first_sum
    assert sorted(list_subdir_names(spark, sink)) == ["batch_id=0", "batch_id=1"]


def test_parquet_writer_skips_empty_batches(spark, tmp_path):
    """T7: an empty micro-batch writes no directory, so the sink of a
    stream with no output does not exist, and ``partition_by``
    sub-partitions each batch directory."""
    from big_data_analytics_project_spark.sources.sinks import (
        dir_exists,
        list_subdir_names,
    )
    from big_data_analytics_project_spark.streaming.bridge import (
        idempotent_parquet_writer,
    )

    sink = str(tmp_path / "sink")
    write = idempotent_parquet_writer(sink)
    df = spark.createDataFrame([(1, 0), (2, 1), (3, 1)], "id long, list_id int")
    write(df.where("id > 9"), 0)
    assert not dir_exists(spark, sink)
    write(df, 1)
    write(df.where("id > 9"), 2)
    assert list_subdir_names(spark, sink) == ["batch_id=1"]

    parts = str(tmp_path / "parts")
    idempotent_parquet_writer(parts, ("list_id",))(df, 0)
    assert sorted(list_subdir_names(spark, f"{parts}/batch_id=0")) == [
        "list_id=0", "list_id=1",
    ]
    back = spark.read.parquet(parts)
    assert sorted((r.id, r.list_id, r.batch_id) for r in back.collect()) == [
        (1, 0, 0), (2, 1, 0), (3, 1, 0),
    ]


def test_frozen_scoring_column_scaler_edge_branches(spark):
    """The fitted-model compile must honor predict_proba's two scaler
    edge rules: n < 2 -> raw features (no standardization), and a
    zero-variance feature -> std treated as 1.0 (no division blow-up)."""
    import numpy as np

    from big_data_analytics_project_spark.ml.online import (
        FEATURE_COLUMNS,
        OnlineIntentModel,
        RunningScaler,
    )
    from big_data_analytics_project_spark.streaming.bridge import (
        frozen_scoring_column,
    )

    rng = np.random.default_rng(11)
    n = 200
    x = np.column_stack(
        [
            rng.uniform(0, 10, n),
            np.full(n, 4.0),            # zero-variance feature
            rng.uniform(0, 100, n).round(3),
            rng.integers(0, 5, n),
        ]
    ).astype(np.float64)
    df = spark.createDataFrame(
        [tuple(float(v) for v in row) for row in x], FEATURE_COLUMNS
    )

    def compare(model):
        got = np.array(
            [r.proba for r in df.withColumn(
                "proba", frozen_scoring_column(model)
            ).select("proba").collect()]
        )
        want = model.predict_proba(x)
        assert np.allclose(got, want, rtol=1e-12, atol=1e-14)

    # n < 2: transform is the identity
    m1 = OnlineIntentModel()
    m1.weights = np.array([0.5, -0.25, 0.01, 1.5])
    m1.bias = -0.3
    m1.fitted = True
    assert m1.scaler.n == 0
    compare(m1)

    # fitted scaler with a zero-variance column: std==0 -> 1.0 guard
    m2 = OnlineIntentModel()
    m2.weights = np.array([0.5, -0.25, 0.01, 1.5])
    m2.bias = 0.1
    m2.scaler = RunningScaler()
    m2.scaler.update(x)
    m2.fitted = True
    compare(m2)


def test_frozen_scoring_column_rejects_malformed_model():
    """A frozen model whose weight/scaler vectors don't match
    FEATURE_COLUMNS must fail loudly at compile time (ADVICE r14: the
    zip would silently truncate and score with fewer features, where
    predict_proba raises a shape error)."""
    import numpy as np

    from big_data_analytics_project_spark.ml.online import (
        FEATURE_COLUMNS,
        OnlineIntentModel,
    )
    from big_data_analytics_project_spark.streaming.bridge import (
        frozen_scoring_column,
    )

    bad = OnlineIntentModel()
    bad.fitted = True
    bad.weights = np.zeros(len(FEATURE_COLUMNS) - 1)
    with pytest.raises(ValueError, match="weights"):
        frozen_scoring_column(bad)

    bad2 = OnlineIntentModel()
    bad2.fitted = True
    bad2.weights = np.zeros(len(FEATURE_COLUMNS))
    bad2.scaler.n = 5
    bad2.scaler.mean = np.zeros(2)
    bad2.scaler.m2 = np.ones(2)
    with pytest.raises(ValueError, match="scaler"):
        frozen_scoring_column(bad2)


def test_embedding_stream_staging_roundtrips_doubles_exactly(spark, sf_dir):
    """The staged embedding replay must hand the streaming path the SAME
    vectors the batch path computes with as_double(embedding): the
    float→double cast is exact and Jackson's double serialization
    round-trips bit-exactly, so cosine parity with the oracle holds to
    the last bit (the precision contract streaming_ivf_posting_index_ingest
    relies on)."""
    import shutil

    from big_data_analytics_project_spark.functions.vector import as_double
    from big_data_analytics_project_spark.sources import read_table

    json_dir = P.stage_json_stream(spark, sf_dir, "embeddings", n_files=4)
    try:
        staged = spark.read.schema("vec_id LONG, embedding ARRAY<DOUBLE>").json(
            json_dir
        )
        batch = read_table(spark, sf_dir, "embeddings").select(
            "vec_id", as_double("embedding").alias("embedding")
        )
        # exact equality, vector by vector (no tolerance): anti-join on
        # the full (vec_id, embedding) pair must be empty both ways
        a = staged.select("vec_id", "embedding")
        b = batch.select("vec_id", "embedding")
        assert a.exceptAll(b).count() == 0
        assert b.exceptAll(a).count() == 0
        assert a.count() == b.count() > 0
    finally:
        shutil.rmtree(json_dir, ignore_errors=True)


def test_ivf_stream_ingest_is_batch_boundary_invariant(spark, sf_dir, tmp_path):
    """Replaying the embedding stream 1 file/trigger vs all files in one
    trigger must produce identical per-list censuses (assignment is a
    per-vector map; idempotent batch-dir writes) — the local dual of the
    streaming_ivf_posting_index_ingest oracle equivalence, through the
    query's own posting rows and writer."""
    import shutil

    from big_data_analytics_project_spark.plans.streaming_queries import (
        _posting_rows,
    )
    from big_data_analytics_project_spark.streaming.bridge import (
        idempotent_parquet_writer,
        run_foreach_batch,
    )

    json_dir = P.stage_json_stream(spark, sf_dir, "embeddings", n_files=4)
    try:
        def census(trigger_files):
            base = str(tmp_path / f"posting_index_{trigger_files}")
            stream = P.read_json_stream(
                spark, json_dir, "vec_id LONG, embedding ARRAY<DOUBLE>",
                max_files_per_trigger=trigger_files,
            )
            run_foreach_batch(
                _posting_rows(stream),
                idempotent_parquet_writer(base, ("list_id",)),
                output_mode="append",
            )
            idx = spark.read.parquet(base)
            return sorted(
                (r.list_id, r.n)
                for r in idx.groupBy("list_id")
                .agg(F.count("*").alias("n"))
                .collect()
            )

        fine = census(1)
        coarse = census(4)
        assert fine == coarse
        assert sum(n for _, n in fine) > 0
    finally:
        shutil.rmtree(json_dir, ignore_errors=True)
