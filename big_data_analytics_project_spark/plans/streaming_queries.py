"""Streaming query registrations.

Each callable runs a REAL Structured Streaming job (file source staged from
the events table, availableNow trigger, memory sink) and returns the final
result — so the driver's oracle checks cover the streaming engine, not a
batch re-phrasing.  Window boundaries are emitted as epoch seconds
(BIGINT) to keep timestamp-zone semantics out of the comparison.

The session-window oracle is the classic gap-analysis SQL (lag → gap>30min
flag → running sum as session id) — i.e. the streaming session operator is
differentially tested against an independent relational formulation.
"""

from __future__ import annotations

import atexit
import os
import shutil

import pyspark.sql.functions as F

from ..registry import query
from ..streaming import processor as P

# A staged JSON replay is deterministic for a given (sf_dir, table,
# n_files), so it is staged ONCE per process and reused by every streaming
# query — the bench then measures the streaming engine, not
# repartitionByRange + JSON write on every call.  Cleaned up at exit.
_STAGE_CACHE: dict[tuple[str, str, int], str] = {}


# Sliding-window geometry shared by the Spark call AND the oracle SQL —
# single source of truth so the two formulations cannot drift (changing
# the window or slide here changes both sides together).
SLIDING_WINDOW_SEC = 3600
SLIDING_SLIDE_SEC = 900
_N_OFFSETS = SLIDING_WINDOW_SEC // SLIDING_SLIDE_SEC

# Spark assigns an event at epoch t to every window of SLIDING_WINDOW_SEC
# whose start is a multiple of SLIDING_SLIDE_SEC and satisfies
# start <= t < start + window: exactly window/slide overlapping windows,
# starts (floor(t/slide) - k) * slide for k in 0..window/slide-1.  The
# oracle cross-applies those offsets per event.
_SLIDING_SQL = f"""
SELECT CAST((CAST(floor(epoch(ts) / {SLIDING_SLIDE_SEC}) AS BIGINT) - offs.k)
            * {SLIDING_SLIDE_SEC} AS BIGINT)
         AS window_start_epoch,
       user_id,
       count(*) AS total_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
CROSS JOIN (SELECT unnest(range(0, {_N_OFFSETS})) AS k) offs
GROUP BY 1, 2
"""


def _staged(spark, sf_dir, table="events", n_files=4):
    key = (os.path.abspath(sf_dir), table, n_files)
    d = _STAGE_CACHE.get(key)
    if d is None or not os.path.isdir(d):
        d = P.stage_json_stream(spark, sf_dir, table, n_files=n_files)
        _STAGE_CACHE[key] = d
    return d


@atexit.register
def _cleanup_staged() -> None:
    for d in _STAGE_CACHE.values():
        shutil.rmtree(d, ignore_errors=True)
    _STAGE_CACHE.clear()

_TUMBLING_SQL = """
SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS window_start_epoch,
       user_id,
       CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS label,
       count(CASE WHEN event_type = 'view' THEN 1 END) AS view_count,
       count(*) AS total_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
"""

_SESSION_SQL = """
WITH flagged AS (
  SELECT user_id, ts, event_type, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
  FROM flagged
)
SELECT user_id,
       CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start_epoch,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
       CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS converted
FROM numbered
GROUP BY user_id, session_no
"""


@query("streaming_tumbling_window", sql=_TUMBLING_SQL, tags=("streaming", "window"))
def streaming_tumbling_window(spark, sf_dir):
    """T1-T5: watermarked tumbling-window aggregate executed by the
    streaming engine (availableNow → memory sink), checked against the
    equivalent batch GROUP BY.  approx_count_distinct is kept out of the
    compared columns (HLL ≠ exact by design)."""
    json_dir = _staged(spark, sf_dir)
    stream = P.read_event_stream(spark, json_dir, max_files_per_trigger=2)
    agg = P.tumbling_features(stream)
    out = P.run_to_completion(agg, "t_tumbling", output_mode="complete")
    return out.select(
        F.unix_timestamp(F.col("win.start")).cast("long").alias("window_start_epoch"),
        "user_id",
        "label",
        "view_count",
        "total_events",
        "total_value",
    )


@query("streaming_session_window", sql=_SESSION_SQL, tags=("streaming", "session"))
def streaming_session_window(spark, sf_dir):
    """True gap-based sessionization (session_window, 30 min gap) run by
    the streaming engine, differentially checked against the relational
    lag/cumsum formulation — the upgrade over the reference's
    sliding-window approximation (SURVEY T2)."""
    json_dir = _staged(spark, sf_dir)
    stream = P.read_event_stream(spark, json_dir, max_files_per_trigger=2)
    agg = P.session_features(stream, gap="30 minutes")
    out = P.run_to_completion(agg, "t_session", output_mode="complete")
    return out.select(
        "user_id",
        F.unix_timestamp(F.col("win.start")).cast("long").alias("session_start_epoch"),
        "n_events",
        "sum_value",
        "converted",
    )


@query("streaming_sliding_window", sql=_SLIDING_SQL, tags=("streaming", "window"))
def streaming_sliding_window(spark, sf_dir):
    """T2 exact reference shape (1 h window sliding by 15 min): each event
    lands in window/slide = 4 overlapping windows.  The oracle mirrors
    Spark's epoch-aligned window assignment by cross-applying the 4 slide
    offsets per event — the streaming engine's overlapping-window semantics
    checked against an independent relational formulation."""
    json_dir = _staged(spark, sf_dir)
    stream = P.read_event_stream(spark, json_dir, max_files_per_trigger=2)
    agg = P.sliding_features(
        stream,
        window=f"{SLIDING_WINDOW_SEC} seconds",
        slide=f"{SLIDING_SLIDE_SEC} seconds",
    )
    out = P.run_to_completion(agg, "t_sliding", output_mode="complete")
    return out.select(
        F.unix_timestamp(F.col("win.start")).cast("long").alias("window_start_epoch"),
        "user_id",
        "total_events",
        "total_value",
    )


# Stream-static enrichment: the static side is a per-user lifetime profile
# derived from the same events table (exact decimal avg → deterministic
# segment boundary), joined broadcast into every micro-batch.
_ENRICH_SQL = """
WITH profile AS (
  SELECT user_id,
         CASE WHEN sum(CAST(value AS DECIMAL(18,2))) / count(*) >= 50
              THEN 'high' ELSE 'low' END AS segment
  FROM events GROUP BY user_id
)
SELECT CAST(floor(epoch(e.ts) / 3600) * 3600 AS BIGINT) AS window_start_epoch,
       p.segment,
       count(*) AS n_events,
       CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events e JOIN profile p ON e.user_id = p.user_id
GROUP BY 1, 2
"""


@query("streaming_static_enrich", sql=_ENRICH_SQL, tags=("streaming", "join", "enrich"))
def streaming_static_enrich(spark, sf_dir):
    """Stream-static broadcast join (the production enrichment shape —
    T-family extension): each micro-batch joins the event stream to a
    static per-user segment dimension (no stream state, no watermark
    requirement), then aggregates value by (hour window, segment).  The
    oracle is the equivalent batch join+group — stream-static join
    results are batch-deterministic because the static side never
    changes during the run."""
    from ..sources import read_table

    ev = read_table(spark, sf_dir, "events")
    profile = ev.groupBy("user_id").agg(
        F.when(
            F.sum(F.col("value").cast("decimal(18,2)")) / F.count("*") >= 50,
            F.lit("high"),
        )
        .otherwise(F.lit("low"))
        .alias("segment")
    )
    json_dir = _staged(spark, sf_dir)
    stream = P.read_event_stream(spark, json_dir, max_files_per_trigger=2)
    enriched = P.enrich_with_static(stream, profile, "user_id")
    agg = (
        enriched.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("win"), F.col("segment"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
    )
    out = P.run_to_completion(agg, "t_enrich", output_mode="complete")
    return out.select(
        F.unix_timestamp(F.col("win.start")).cast("long").alias("window_start_epoch"),
        "segment",
        "n_events",
        "total_value",
    )


_SS_LOOKBACK_SEC = 14400  # 4 h, matches range_join_attribution's window

_SS_JOIN_SQL = f"""
SELECT p.event_id AS p_event_id,
       p.user_id,
       CAST(floor(epoch(p.ts)) AS BIGINT) AS p_ts_epoch,
       v.event_id AS v_event_id,
       CAST(floor(epoch(p.ts)) - floor(epoch(v.ts)) AS BIGINT) AS gap_sec
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
JOIN (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view') v
  ON p.user_id = v.user_id
 AND v.ts >= p.ts - INTERVAL {_SS_LOOKBACK_SEC} SECONDS
 AND v.ts <= p.ts
"""


@query("streaming_interval_join", sql=_SS_JOIN_SQL, tags=("streaming", "join", "interval"))
def streaming_interval_join(spark, sf_dir):
    """Stream-stream inner interval join (T-family extension): the
    purchase stream joined to the view stream within a 4 h per-user
    lookback, both sides watermarked with the event-time range condition
    so join state is EVICTABLE (bounded state at 100 TB — the
    range-condition-plus-watermark pair is what makes stream-stream
    joins production-viable).  Over the complete bounded replay the
    emitted pairs equal the batch interval join, which is the oracle."""
    json_dir = _staged(spark, sf_dir)
    purchases = (
        P.read_event_stream(spark, json_dir, max_files_per_trigger=2)
        .where(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").alias("p_ts"), F.col("event_id").alias("p_event_id"))
    )
    views = (
        P.read_event_stream(spark, json_dir, max_files_per_trigger=2)
        .where(F.col("event_type") == "view")
        .select("user_id", F.col("ts").alias("v_ts"), F.col("event_id").alias("v_event_id"))
    )
    joined = P.interval_join_streams(
        purchases, views, on="user_id", left_ts="p_ts", right_ts="v_ts",
        lookback_sec=_SS_LOOKBACK_SEC,
    )
    out = P.run_to_completion(
        joined.select(
            "p_event_id",
            F.col("l.user_id").alias("user_id"),
            F.unix_timestamp("p_ts").cast("long").alias("p_ts_epoch"),
            "v_event_id",
            (F.unix_timestamp("p_ts") - F.unix_timestamp("v_ts"))
            .cast("long")
            .alias("gap_sec"),
        ),
        "t_ssjoin",
        output_mode="append",
    )
    return out


# Append-mode finalization cutoff (rows-only → oracle lift, VERDICT r7
# item 7): append emits a window exactly once, when the watermark
# (max seen ts − 10 min) passes its END.  Over a complete bounded replay
# the only windows whose emission is in doubt are those ending inside the
# final 10-minute gap — so, exactly like _SS_FINAL_CUTOFF below, both
# engines restrict the RESULT to windows ending at least two days before
# every fixture's timeline end (fixtures span Jan 1–30; every SF's final
# watermark lands ≥ Jan 30 23:00, far past this Jan 29 cutoff), where
# finalization is guaranteed regardless of trigger/batch boundaries.
# The eviction mechanics themselves stay pinned in
# tests/test_streaming.py::test_append_mode_evicts_finalized_state.
_APPEND_CUTOFF_EPOCH = 1706486400  # 2024-01-29 00:00:00 UTC, hour-aligned

_TUMBLING_APPEND_SQL = f"""
SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS window_start_epoch,
       user_id,
       CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS label,
       count(CASE WHEN event_type = 'view' THEN 1 END) AS view_count,
       count(*) AS total_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
WHERE ts < to_timestamp({_APPEND_CUTOFF_EPOCH})
GROUP BY 1, 2
"""


@query(
    "streaming_tumbling_append",
    sql=_TUMBLING_APPEND_SQL,
    tags=("streaming", "window", "append"),
)
def streaming_tumbling_append(spark, sf_dir):
    """The PRODUCTION streaming shape: watermarked tumbling aggregate in
    ``append`` output mode into a parquet file sink — windows emitted
    exactly once as the watermark finalizes them, state evicted as they
    close (bounded state, bounded sink volume; `complete` mode exists only
    for the oracle harness).  Oracle-checked end to end since round 8: the
    finalized-window set below the fixed cutoff is exactly the batch
    tumbling aggregate (see _APPEND_CUTOFF_EPOCH note above)."""
    from ..sources import index_scratch_dir

    json_dir = _staged(spark, sf_dir)
    # the file sink is written BY EXECUTORS — it must live on storage the
    # whole cluster shares (warehouse-rooted scratch), not a driver-local
    # tempdir that each executor would resolve to its own disk
    out_dir = index_scratch_dir(spark, "append_sink")
    try:
        stream = P.read_event_stream(spark, json_dir, max_files_per_trigger=2)
        agg = P.tumbling_features(stream)
        out = P.run_append_to_files(agg, out_dir)
        result = out.select(
            F.unix_timestamp(F.col("win.start")).cast("long").alias("window_start_epoch"),
            "user_id",
            "label",
            "view_count",
            "total_events",
            "total_value",
        ).where(
            F.col("window_start_epoch") + 3600 <= F.lit(_APPEND_CUTOFF_EPOCH)
        )
    except BaseException:
        shutil.rmtree(out_dir, ignore_errors=True)
        raise
    from ..sources.sinks import is_single_jvm_master

    if is_single_jvm_master(spark.sparkContext):
        # localCheckpoint (eager) materializes the sink contents into Spark
        # block storage so the scratch sink dir can be removed immediately —
        # no accumulation across a long bench/driver run.  Safe only in
        # single-JVM local mode: localCheckpoint blocks are lost on executor
        # failure, which would make the result unrecomputable once the sink
        # dir is gone (local-cluster masters excluded for that reason).
        result = result.localCheckpoint()
        shutil.rmtree(out_dir, ignore_errors=True)
    # on a real cluster the warehouse-rooted sink dir stays as the durable
    # source; index_scratch_dir's exit cleanup / storage retention owns it
    return result


# Dedup-at-ingest oracle (rows-only → oracle lift, VERDICT r7 item 7):
# ``dropDuplicatesWithinWatermark`` guarantees collapse only for
# duplicates within the watermark horizon of each other; outside it,
# survival depends on when batch boundaries evict key state — and the
# fixture's duplicate payloads span up to ~27 days.  So the REPLAY runs
# with a horizon wider than the fixture timeline (45 days ≫ Jan 1–30):
# the within-horizon guarantee becomes total, no key state can evict
# mid-replay, and the engine's output provably equals batch DISTINCT on
# (user_id, payload fingerprint) — which is the oracle.  State stays
# bounded by distinct keys in the horizon (~94k at sf0.1); production
# deployments size the horizon to their real re-send window (the 10-min
# eviction behavior stays pinned in tests/test_streaming.py).  The
# surviving copy per key is processing-order-dependent, but every copy
# shares the key's event_type (it is hashed into the fingerprint), so
# the per-type unique count below is copy-invariant.
_DEDUP_SQL = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_unique_payload_events
FROM (
  SELECT DISTINCT user_id, event_type,
         md5(trim(regexp_replace(lower(concat_ws(' ', event_type, props)),
                                 '[^a-z0-9]+', ' ', 'g'))) AS payload_fp
  FROM events
)
GROUP BY event_type
"""


@query("streaming_dedup", sql=_DEDUP_SQL, tags=("streaming", "dedup", "curation"))
def streaming_dedup(spark, sf_dir):
    """Exact dedup at stream ingest: dropDuplicatesWithinWatermark on
    (user_id, payload fingerprint) — duplicate payloads re-sent within the
    watermark horizon collapse to one row, and per-key state is evicted as
    the watermark advances (bounded state; plain dropDuplicates would grow
    forever).  Oracle-checked end to end since round 8 via a
    replay-spanning horizon — see _DEDUP_SQL note above."""
    json_dir = _staged(spark, sf_dir, n_files=2)
    stream = P.read_event_stream(spark, json_dir, max_files_per_trigger=2)
    out = P.run_to_completion(
        P.dedup_stream(stream, watermark="45 days"),
        "t_dedup",
        "append",
    )
    return out.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_unique_payload_events")
    )


# Custom-stateful oracle (rows-only → oracle lift, VERDICT r7 item 7):
# a closed session emits either on the in-batch gap rule or on the
# event-time timeout when the watermark passes its end + gap.  Over the
# ts-ordered bounded replay the only sessions whose emission is in doubt
# end inside the final (gap + watermark-delay) horizon, so — same rule
# as _APPEND_CUTOFF_EPOCH / _SS_FINAL_CUTOFF — both engines restrict to
# sessions ENDING before Jan 29, where eviction is guaranteed.  The
# oracle mirrors the state machine exactly: second-FLOORED event times
# (the operator keys state on unix_timestamp seconds, unlike the
# full-precision session_window oracle _SESSION_SQL), and sum_value as
# exact integer cents (the operator runs with value_quantum=100).
_CUSTOM_SESS_SQL = f"""
WITH e AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS tse, event_id,
         event_type, value
  FROM events
), flagged AS (
  SELECT user_id, tse, event_id, event_type, value,
         CASE WHEN lag(tse) OVER w IS NULL OR tse - lag(tse) OVER w > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY tse, event_id)
), numbered AS (
  SELECT *, sum(new_session) OVER (PARTITION BY user_id
                ORDER BY tse, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sno
  FROM flagged
)
SELECT user_id,
       min(tse) AS session_start_epoch,
       max(tse) AS session_end_epoch,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
       CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
            AS BIGINT) AS converted
FROM numbered
GROUP BY user_id, sno
HAVING max(tse) <= {_APPEND_CUTOFF_EPOCH}
"""


@query(
    "streaming_custom_sessionization",
    sql=_CUSTOM_SESS_SQL,
    tags=("streaming", "stateful", "pandas"),
)
def streaming_custom_sessionization(spark, sf_dir):
    """Custom stateful operator: gap sessionization with explicit per-user
    state via applyInPandasWithState (event-time timeout evicts and emits
    closed sessions exactly once; append semantics).  Oracle-checked end
    to end since round 8 — finalization cutoff + exact integer-cent
    accumulation, see _CUSTOM_SESS_SQL note above; watermark/timeout
    mechanics stay pinned behaviorally in tests/test_stateful.py."""
    from ..streaming.stateful import sessionize_with_state

    json_dir = _staged(spark, sf_dir)
    stream = P.read_event_stream(spark, json_dir, max_files_per_trigger=2)
    out = P.run_to_completion(
        sessionize_with_state(stream, gap_sec=1800, value_quantum=100),
        "t_custom_sess",
        "append",
    )
    return out.select(
        "user_id", "session_start_epoch", "session_end_epoch",
        "n_events", "sum_value", "converted",
    ).where(F.col("session_end_epoch") <= F.lit(_APPEND_CUTOFF_EPOCH))


@query("streaming_online_scoring", sql=None, tags=("streaming", "foreachbatch", "ml"))
def streaming_online_scoring(spark, sf_dir):
    """T6: the full foreachBatch bridge — micro-batched tumbling session
    features scored/learned by the vectorized online model, per-batch
    metrics returned as the result (rows-only: model trajectory is
    state-dependent by design)."""
    from ..streaming.bridge import OnlineScoringBridge, run_scored_stream

    # 2 staged files → 2 micro-batches: enough to exercise incremental
    # learning (predict on batch 0's model, partial_fit, re-score) at half
    # the per-call wall-clock of the 4-batch variant.
    json_dir = _staged(spark, sf_dir, n_files=2)
    stream = P.read_event_stream(spark, json_dir, max_files_per_trigger=1)
    agg = P.tumbling_features(stream)
    bridge = OnlineScoringBridge()
    batches = run_scored_stream(agg, bridge)
    if not batches:
        batches = [{"batch_id": -1, "n_rows": 0, "total_events": 0,
                    "total_views": 0, "conversion_rate": 0.0,
                    "mean_predicted_proba": 0.0, "rolling_accuracy": 0.0,
                    "model_fitted": False, "timestamp": 0.0}]
    return spark.createDataFrame(batches).select(
        "batch_id", "n_rows", "total_events", "total_views",
        "conversion_rate", "mean_predicted_proba", "rolling_accuracy",
        "model_fitted",
    )


# Frozen-scorer oracle dual for streaming_online_scoring (VERDICT r12
# item 5): the ONLINE bridge's metrics genuinely depend on the micro-batch
# trajectory (each batch is scored by the model as of the previous
# batches' partial_fits), but a FROZEN model is a pure per-row function —
# run the same foreachBatch machinery in APPEND mode (each window reaches
# the bridge exactly once, finalized) with no learning step, and the
# cumulative scored surface is batch-boundary-invariant.  The unfitted
# model scores with the M7 cold-start heuristic (ml/online.py:81), whose
# thresholds the oracle mirrors as a CASE ladder (later heuristic
# assignments override earlier ones, hence the reversed precedence).
# proba depends only on view_count/total_events, so the HLL-approximate
# unique_items_approx feature never reaches the output surface.  Same
# finalization cutoff as streaming_tumbling_append.
_FROZEN_SCORING_SQL = f"""
SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS window_start_epoch,
       user_id,
       CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS label,
       count(CASE WHEN event_type = 'view' THEN 1 END) AS view_count,
       count(*) AS total_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
       CAST(CASE WHEN count(CASE WHEN event_type = 'view' THEN 1 END) >= 5
                      AND count(*) >= 15 THEN 0.85
                 WHEN count(*) >= 10 THEN 0.60
                 WHEN count(CASE WHEN event_type = 'view' THEN 1 END) >= 3 THEN 0.35
                 ELSE 0.05 END AS DOUBLE) AS proba
FROM events
WHERE ts < to_timestamp({_APPEND_CUTOFF_EPOCH})
GROUP BY 1, 2
"""


@query(
    "streaming_frozen_scoring",
    sql=_FROZEN_SCORING_SQL,
    tags=("streaming", "foreachbatch", "ml", "append"),
)
def streaming_frozen_scoring(spark, sf_dir):
    """T6 oracle-checked: the foreachBatch scoring bridge with a FROZEN
    model — watermarked tumbling features in append mode, each finalized
    window scored exactly once by the unfitted online model (= the M7
    cold-start heuristic), no partial_fit.  See block comment: freezing
    the model is what makes the scored surface batch-boundary-invariant,
    the same finalization-cutoff trick that lifted sessionization (r8)
    and SCD2 (r12).  Production scoring shape (VERDICT r13 item 4): the
    frozen model COMPILES to a native Column (weights are constants →
    whole-stage codegen, no Python worker) and each scored micro-batch
    lands as an idempotent ``score_batch=N`` parquet partition — nothing
    row-scale ever touches the driver; the result is the read-back
    artifact."""
    from ..sources import index_scratch_dir
    from ..streaming.bridge import FrozenScoringBridge, run_foreach_batch

    json_dir = _staged(spark, sf_dir)
    stream = P.read_event_stream(spark, json_dir, max_files_per_trigger=2)
    # project the epoch key in-plan (JVM-side) so the scorer's pandas view
    # is flat scalars; the 4 FEATURE_COLUMNS ride along for the scorer
    agg = P.tumbling_features(stream).select(
        F.unix_timestamp("win.start").cast("long").alias("window_start_epoch"),
        "user_id", "label", "view_count", "total_events", "total_value",
        "unique_items_approx",
    )
    sink_dir = index_scratch_dir(spark, "frozen_scores")
    bridge = FrozenScoringBridge(sink_dir=sink_dir)
    run_foreach_batch(agg, bridge, output_mode="append")

    schema = (
        "window_start_epoch long, user_id long, label long, view_count long,"
        " total_events long, total_value double, proba double"
    )
    if bridge.n_batches_written == 0:
        return spark.createDataFrame([], schema)
    return spark.read.parquet(sink_dir).select(
        F.col("window_start_epoch").cast("long").alias("window_start_epoch"),
        F.col("user_id").cast("long").alias("user_id"),
        F.col("label").cast("long").alias("label"),
        F.col("view_count").cast("long").alias("view_count"),
        F.col("total_events").cast("long").alias("total_events"),
        F.col("total_value").cast("double").alias("total_value"),
        F.col("proba").cast("double").alias("proba"),
    ).where(F.col("window_start_epoch") + 3600 <= F.lit(_APPEND_CUTOFF_EPOCH))


# --- streaming band-index ingest (index maintenance at stream pace) -------
# The composition a live corpus runs: documents ARRIVE as a stream, and
# the persisted MinHash band index must stay fresh WITHOUT batch rebuild
# windows.  Each micro-batch is signed+banded (the same _bandidx_* fold
# as the batch build) and lands as its own `ingest_batch=N` partition
# directory with overwrite semantics — a foreachBatch REPLAY of batch N
# (at-least-once delivery after a failure) rewrites the same directory
# instead of duplicating rows (the idempotent_parquet_writer pattern),
# and per-batch cost is O(|batch|) regardless of index size (the append
# lesson).  Banding is a pure per-document map, so the UNION of the
# per-batch partitions is batch-boundary-invariant; the oracle builds
# the same band rows in ONE batch pass over documents, and the per-band
# census below (row count, distinct keys, order-independent content
# checksum binding key↔doc_id) hash-matching proves the streamed index
# is EXACTLY the batch-built index.  The checksum term is the portable
# md5-60 hash mod 1e9+7, summed in BIGINT (≤2^60-safe: 1e9 × |band rows|
# at any realistic SF).
_BANDSTREAM_MOD = 1_000_000_007

from ._duck import hash60 as _hash60  # noqa: E402  (module-level SQL builder)
from .dedup_queries import _duck_sig_chain  # noqa: E402

_STREAM_INGEST_SQL = f"""
WITH idx_docs AS (SELECT doc_id, text FROM documents),
{_duck_sig_chain("idx_docs", "i")}
SELECT CAST(band AS BIGINT) AS band,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT key) AS BIGINT) AS n_distinct_keys,
       CAST(sum(({_hash60("key || '|' || doc_id::VARCHAR")})
                % {_BANDSTREAM_MOD}) AS BIGINT) AS checksum
FROM bands_i
GROUP BY band
"""


@query(
    "streaming_band_index_ingest",
    sql=_STREAM_INGEST_SQL,
    tags=("streaming", "index", "dedup", "maintenance"),
)
def streaming_band_index_ingest(spark, sf_dir):
    """Streaming MinHash band-index maintenance: each document
    micro-batch is signed+banded and appended to the persisted index as
    an idempotent `ingest_batch=N` partition; the per-band census of the
    read-back index (rows, distinct keys, content checksum) must equal
    the oracle's one-pass batch build — see block comment.  Completes
    the index lifecycle with its streaming leg: batch build (r11),
    batch append (r13), tombstone delete (r13), stream ingest (r13)."""
    from ..operators.dedup import md5_hash60
    from ..sources import index_scratch_dir
    from ..streaming.bridge import run_foreach_batch
    from .dedup_queries import _bandidx_banded, _bandidx_signed

    json_dir = _staged(spark, sf_dir, "documents")
    idx_base = index_scratch_dir(spark, "band_index_stream")

    def ingest(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        (
            _bandidx_banded(_bandidx_signed(batch_df))
            .write.mode("overwrite")
            .parquet(f"{idx_base}/ingest_batch={batch_id}")
        )

    stream = P.read_json_stream(spark, json_dir, "doc_id LONG, text STRING")
    run_foreach_batch(stream, ingest, output_mode="append")

    idx = spark.read.parquet(idx_base)
    checksum_term = F.pmod(
        md5_hash60(F.concat_ws("|", F.col("key"), F.col("doc_id").cast("string"))),
        F.lit(_BANDSTREAM_MOD),
    )
    return idx.groupBy(F.col("band").cast("long").alias("band")).agg(
        F.count("*").cast("long").alias("n_rows"),
        F.countDistinct("key").cast("long").alias("n_distinct_keys"),
        F.sum(checksum_term).cast("long").alias("checksum"),
    )


# --- streaming IVF posting-index ingest (ANN index maintenance at stream
# pace) ----------------------------------------------------------------------
# The vector-corpus sibling of streaming_band_index_ingest, closing the
# last asymmetry between the two persisted-index subsystems (the band
# index has a streaming leg, the IVF posting index had only batch verbs):
# embeddings ARRIVE as a stream, and each micro-batch is assigned to the
# pinned centroids (map-only argmin, centroid literals inside codegen —
# the same fold as the batch build in similarity_queries) and lands as its
# own `ingest_batch=N` partition of the persisted posting index, itself
# sub-partitioned by list_id so a probe still prunes to its nprobe lists
# within every batch directory.  Overwrite semantics per batch directory
# make an at-least-once REPLAY of batch N idempotent (the
# idempotent_parquet_writer pattern), and per-batch cost is O(|batch|)
# regardless of index size — no established file is ever rewritten.
#
# Equivalence proof: assignment is a pure per-vector map, so the UNION of
# the per-batch partitions is batch-boundary-invariant; the oracle assigns
# ALL vectors in one batch pass (full-rebuild semantics) and serves the
# same probe, so the value hash proves streamed ingest ≡ batch build on
# the retrieval surface.  Physical pinning: `streamed_index_rows` (a
# broadcast scalar cross-joined onto every probe row) counts the rows of
# the READ-BACK artifact; the oracle derives it as the corpus count, so a
# lost or duplicated micro-batch hash-fails even when no top-10 entry
# flips.
from .similarity_queries import _duck_ivf_sql as _ivf_sql  # noqa: E402

_IVF_STREAM_INGEST_SQL = f"""
WITH base AS ({_ivf_sql(3, "vec_id < 8")}),
nrows AS (
  SELECT CAST(count(*) AS BIGINT) AS streamed_index_rows FROM embeddings
)
SELECT base.*, nrows.streamed_index_rows FROM base CROSS JOIN nrows
"""


@query(
    "streaming_ivf_posting_index_ingest",
    sql=_IVF_STREAM_INGEST_SQL,
    tags=("streaming", "similarity", "ann", "ivf", "index", "maintenance"),
)
def streaming_ivf_posting_index_ingest(spark, sf_dir):
    """Streaming IVF posting-index maintenance: each embedding micro-batch
    is centroid-assigned and appended to the persisted posting index as an
    idempotent `ingest_batch=N` partition (list_id-sub-partitioned, so
    probes keep pruning); a query batch then probes the merged read-back
    index — see block comment.  Completes the five-verb × two-index
    lifecycle symmetry: the band index gained its streaming leg in r13,
    this is the posting index's."""
    from ..operators import similarity as S
    from ..sources import index_scratch_dir, read_table
    from ..streaming.bridge import run_foreach_batch
    from .ivf_centroids import IVF_CENTROIDS

    json_dir = _staged(spark, sf_dir, "embeddings")
    idx_base = index_scratch_dir(spark, "posting_index_stream")

    def ingest(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # broadcast-data assignment (r16): the literal argmin form paid
        # ~a second of plan build/analysis PER MICRO-BATCH (each batch is
        # a fresh plan); the broadcast form is O(1) plan size with
        # bit-identical assignments
        (
            S.with_centroid_assignment(
                batch_df.select(
                    F.col("vec_id").alias("neighbor_id"),
                    F.col("embedding").alias("v"),
                ),
                F.col("v"),
                IVF_CENTROIDS,
                "list_id",
            )
            .write.partitionBy("list_id")
            .mode("overwrite")
            .parquet(f"{idx_base}/ingest_batch={batch_id}")
        )

    stream = P.read_json_stream(
        spark, json_dir, "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    run_foreach_batch(stream, ingest, output_mode="append")

    posting = spark.read.parquet(idx_base)
    n_rows = posting.groupBy().agg(
        F.count("*").cast("long").alias("streamed_index_rows")
    )

    emb = read_table(spark, sf_dir, "embeddings")
    vec = S.as_double(F.col("embedding"))
    from .similarity_queries import probe_batch

    q = probe_batch(emb, vec)
    from pyspark.sql import Window

    sims = (
        F.broadcast(q)
        .join(posting, "list_id")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(S.cosine(F.col("qv"), F.col("v")), 6).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), "neighbor_id")
    return (
        sims.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 10)
        .crossJoin(F.broadcast(n_rows))
    )


@query("pyds_clickstream_gen_agg", sql=None, tags=("source", "pyds", "generator"))
def pyds_clickstream_gen_agg(spark, sf_dir):
    """S4-class source, container-honest: the reference's CSV→Kafka event
    simulator (``src/streaming/kafka_producer.py:64-232``) re-expressed as
    a registered Spark 4 Python Data Source — partition-parallel,
    counter-hash deterministic, Arrow-batched (``sources/eventgen.py``).
    Rows-only by design: the generated data exists only in Spark, so there
    is no DuckDB-side table to diff; the determinism contract (partition
    invariance, stream/batch parity, pinned first row) is pinned in
    ``tests/test_eventgen.py``.  The aggregate here is itself
    deterministic: same seed → same per-type counts, any cluster size."""
    from ..sources.eventgen import register

    register(spark)
    df = (
        spark.read.format("clickstream_gen")
        .option("rows", 20000)
        .option("seed", 42)
        .option("partitions", 8)
        .load()
    )
    return (
        df.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2
            ).alias("total_value"),
        )
        .orderBy("event_type")
    )


# Left-outer variant: null-padded rows only FINALIZE when the global
# watermark passes the purchase's event time, and the watermark stops at
# max(ts) − delay when the bounded replay ends — so purchases inside that
# final gap never emit their no-match verdict.  Both engines therefore
# restrict the RESULT to purchases at least two days before every
# fixture's timeline end (fixtures span Jan 1–30; cutoff Jan 29), where
# finalization is guaranteed.  The cutoff is applied AFTER the join on
# the Spark side: filtering the purchase STREAM would stall its
# per-stream watermark at the cutoff and re-create the very gap the
# cutoff removes (global watermark = min over streams).
_SS_FINAL_CUTOFF = "2024-01-29 00:00:00"

_SS_LEFT_JOIN_SQL = f"""
SELECT p.event_id AS p_event_id,
       p.user_id,
       CAST(floor(epoch(p.ts)) AS BIGINT) AS p_ts_epoch,
       v.event_id AS v_event_id,
       CAST(floor(epoch(p.ts)) - floor(epoch(v.ts)) AS BIGINT) AS gap_sec,
       CAST(v.event_id IS NULL AS BIGINT) AS no_prior_view
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
LEFT JOIN (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view') v
  ON p.user_id = v.user_id
 AND v.ts >= p.ts - INTERVAL {_SS_LOOKBACK_SEC} SECONDS
 AND v.ts <= p.ts
WHERE p.ts <= TIMESTAMP '{_SS_FINAL_CUTOFF}'
"""


@query(
    "streaming_interval_join_left",
    sql=_SS_LEFT_JOIN_SQL,
    tags=("streaming", "join", "interval", "outer"),
)
def streaming_interval_join_left(spark, sf_dir):
    """Stream-stream LEFT OUTER interval join: every purchase pairs with
    its prior-4 h views, and purchases with NO prior view still emit one
    null-padded row once the watermark proves no match can arrive — the
    production shape for \"conversion without attribution\" detection.
    Same bounded join state as the inner form (watermark + event-time
    range); the only extra machinery is outer-row finalization, whose
    end-of-replay gap is excluded by a fixed cutoff mirrored in the
    oracle (see _SS_FINAL_CUTOFF note)."""
    json_dir = _staged(spark, sf_dir)
    # single-pass replay (one data batch + the no-data finalization batch
    # that emits the outer rows): incremental multi-batch emission is
    # already exercised by the INNER form above; replaying in 2-file
    # chunks only re-runs the same state machinery ~35% slower for the
    # identical final row set (measured at sf0.1).
    purchases = (
        P.read_event_stream(spark, json_dir, max_files_per_trigger=4)
        .where(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").alias("p_ts"), F.col("event_id").alias("p_event_id"))
    )
    views = (
        P.read_event_stream(spark, json_dir, max_files_per_trigger=4)
        .where(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
            F.col("event_id").alias("v_event_id"),
        )
    )
    lw = purchases.withWatermark("p_ts", "10 minutes").alias("l")
    rw = views.withWatermark("v_ts", "10 minutes").alias("r")
    joined = lw.join(
        rw,
        F.expr(
            f"l.user_id = r.v_user"
            f" AND r.v_ts >= l.p_ts - INTERVAL {_SS_LOOKBACK_SEC} SECONDS"
            f" AND r.v_ts <= l.p_ts"
        ),
        "left_outer",
    )
    out = P.run_to_completion(
        joined.select(
            "p_event_id",
            F.col("l.user_id").alias("user_id"),
            F.unix_timestamp("p_ts").cast("long").alias("p_ts_epoch"),
            "v_event_id",
            (F.unix_timestamp("p_ts") - F.unix_timestamp("v_ts"))
            .cast("long")
            .alias("gap_sec"),
            F.col("v_event_id").isNull().cast("long").alias("no_prior_view"),
            F.col("p_ts").alias("__p_ts"),
        ),
        "t_ssjoin_left",
        output_mode="append",
    )
    return out.where(
        F.col("__p_ts") <= F.lit(_SS_FINAL_CUTOFF).cast("timestamp")
    ).drop("__p_ts")


@query("pyds_clickstream_stream_agg", sql=None, tags=("source", "pyds", "streaming"))
def pyds_clickstream_stream_agg(spark, sf_dir):
    """The generator source's STREAMING face: readStream over the
    registered Python Data Source, drained with availableNow into a
    per-type aggregate.  Deterministic by the generator's counter-hash
    contract (stream/batch parity is pinned in tests/test_eventgen.py),
    rows-only because the data never exists DuckDB-side."""

    from ..sources.eventgen import register

    register(spark)
    stream = (
        spark.readStream.format("clickstream_gen")
        .option("rows", 20000)
        .option("seed", 42)
        .option("partitions", 8)
        .load()
    )
    agg = stream.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("total_cents"),
    )
    out = P.run_to_completion(agg, "t_pyds_stream", output_mode="complete")
    return out.orderBy("event_type")


# Oracle lift (VERDICT r11 item 5): with EVENT-TIME effective timestamps
# (valid_from = the change row's own ts) the finalized SCD2 table is a
# pure function of the change log — batch boundaries cancel out under the
# ordered-delivery contract the staged replay pins — so the batch SQL fold
# (per-user change compression in (µs ts, event_id) order) IS the oracle.
# A dropped/duplicated/reordered micro-batch now breaks the value hash.
_SCD2_SQL = """
WITH pts AS (
  SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id
  FROM events
),
flagged AS (
  SELECT user_id, event_type, ts_us, event_id,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
           AS prev_attr
  FROM pts
),
changes AS (
  SELECT user_id, event_type, ts_us, event_id
  FROM flagged
  WHERE prev_attr IS NULL OR prev_attr <> event_type
)
SELECT user_id,
       event_type AS activity_state,
       CAST(floor(ts_us / 1000000) AS BIGINT) AS valid_from_epoch,
       CAST(floor(lead(ts_us) OVER (PARTITION BY user_id
              ORDER BY ts_us, event_id) / 1000000) AS BIGINT)
         AS valid_to_epoch
FROM changes
"""


@query("streaming_scd2_dimension", sql=_SCD2_SQL, tags=("streaming", "scd2", "cdc"))
def streaming_scd2_dimension(spark, sf_dir):
    """Streaming SCD2 dimension maintenance (bridge.run_scd2_stream): the
    event stream consumed as a CDC feed, folded per micro-batch into a
    history-keeping user-activity dimension; batch N folds onto snapshot
    version N−1, so replays are idempotent.  Oracle-checked since round
    12: valid_from is the change row's OWN event time, so the finalized
    table equals the batch SQL fold over the events table — invariant to
    micro-batch boundaries under the (ts, event_id) ordered-delivery
    contract (pinned by test_staged_files_replay_in_event_time_order);
    per-version merge mechanics stay pinned in tests/test_streaming.py."""
    from ..sources import index_scratch_dir
    from ..streaming.bridge import run_scd2_stream

    json_dir = _staged(spark, sf_dir)
    stream = P.read_event_stream(spark, json_dir, max_files_per_trigger=2)
    # the snapshot versions are a product artifact (the dimension) — use
    # warehouse-rooted shared scratch, cluster-correct like the persisted
    # indexes; its atexit cleanup outlives the lazy final-version read
    snap_dir = index_scratch_dir(spark, "scd2_snapshots")
    final = run_scd2_stream(
        stream, snap_dir, key="user_id", attr="event_type",
        ts_col="ts", order_col="event_id"
    )
    return final.select(
        "user_id",
        F.col("event_type").alias("activity_state"),
        "valid_from_epoch",
        "valid_to_epoch",
    )


# Rows-only → oracle lift (VERDICT r8 item 5): the query's RESULT is the
# per-type profile of the raw archive, and the delivery contract says the
# archive holds exactly the source events — so the batch GROUP BY over the
# events table IS the oracle, and a dropped/duplicated micro-batch (the
# failure mode foreachBatch idempotence exists to prevent) now breaks the
# value hash, not just a pytest pin.  Batch boundaries never enter the
# result, so no cutoff rule is needed.
_FANOUT_SQL = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
GROUP BY event_type
"""


@query(
    "streaming_fanout_dual_sink",
    sql=_FANOUT_SQL,
    tags=("streaming", "fanout", "sink"),
)
def streaming_fanout_dual_sink(spark, sf_dir):
    """Multi-sink fan-out (bridge.run_fanout_stream): one stream feeds a
    raw batch-id-idempotent parquet archive AND a per-type aggregate,
    each micro-batch computed ONCE (persist inside foreachBatch).
    Returns the per-type counts read back from the archive; oracle-checked
    since round 9 — archive completeness is batch-SQL-equal (see
    _FANOUT_SQL note).  Compute-once and per-batch delivery stay pinned in
    tests/test_streaming.py."""
    from ..sources import index_scratch_dir
    from ..streaming.bridge import (
        idempotent_parquet_writer,
        run_fanout_stream,
    )

    json_dir = _staged(spark, sf_dir)
    stream = P.read_event_stream(spark, json_dir, max_files_per_trigger=2)
    # the raw archive is an executor-written product artifact — same
    # warehouse-rooted scratch rule as the persisted indexes; its exit
    # cleanup outlives the lazy read-back below
    raw_dir = index_scratch_dir(spark, "fanout_archive")
    agg_counts: list[tuple[int, int]] = []

    def agg_writer(batch_df, batch_id):
        agg_counts.append((batch_id, batch_df.count()))

    run_fanout_stream(stream, [idempotent_parquet_writer(raw_dir), agg_writer])
    archived = spark.read.parquet(raw_dir)
    return archived.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


# Windowed top-K: the real-time leaderboard — per tumbling hour, the 3
# busiest event types.  The COUNTS come from the streaming engine
# (availableNow -> complete mode -> memory sink); the rank-3 cut is a
# batch window over the engine's own output (windows x types rows — the
# production pattern: stream the heavy aggregation, rank the tiny
# result).  Oracle: the equivalent batch tumbling GROUP BY + row_number,
# tie-broken on event_type.
_TOPK_SQL = """
WITH counts AS (
  SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS window_start_epoch,
         event_type,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
  FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY window_start_epoch
              ORDER BY n_events DESC, event_type) AS rank
  FROM counts
)
SELECT window_start_epoch, event_type, n_events, total_value,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 3
"""


@query("streaming_windowed_topk", sql=_TOPK_SQL, tags=("streaming", "window", "topk"))
def streaming_windowed_topk(spark, sf_dir):
    """Per-hour top-3 event types, counted BY the streaming engine and
    ranked over its output — see block comment."""
    from pyspark.sql import Window

    json_dir = _staged(spark, sf_dir)
    stream = P.read_event_stream(spark, json_dir, max_files_per_trigger=2)
    agg = stream.groupBy(
        F.window("ts", "3600 seconds").alias("win"), "event_type"
    ).agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_value"),
    )
    out = P.run_to_completion(agg, "t_topk", output_mode="complete")
    counts = out.select(
        F.unix_timestamp(F.col("win.start")).cast("long").alias(
            "window_start_epoch"
        ),
        "event_type",
        "n_events",
        "total_value",
    )
    w = Window.partitionBy("window_start_epoch").orderBy(
        F.col("n_events").desc(), F.col("event_type")
    )
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 3)
    )
