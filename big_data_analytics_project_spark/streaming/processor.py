"""Structured-streaming pipelines (reference subsystem 3, rebuilt).

Reference lifecycle (``src/streaming/stream_processor.py:125-333``):
Kafka JSON → from_json(EVENT_SCHEMA) → to_timestamp → withWatermark(10 min)
→ groupBy(session, window(5 min, 30 s)).agg(9 measures) → foreachBatch →
online model + metrics sink.

This rebuild:
- **file/rate source first** (matching the reference's own mock-first
  design, ``kafka_producer.py:44-63``); the Kafka hookup is the same
  ``readStream`` with ``format("kafka")`` — source choice is a config,
  not an architecture.
- ``approx_count_distinct`` instead of ``countDistinct`` for unique-item
  counts: distinct aggregates are unsupported on streaming DataFrames
  (SURVEY §2.8 trap) and HLL is the 100 TB-correct choice anyway.
- adds the ``session_window`` variant the reference approximates with
  sliding windows (T2 note).
- the foreachBatch online-scoring bridge uses a vectorized numpy model
  (``ml/online.py``) over Arrow-fetched pandas batches — no per-row loops.

State scale notes: watermark bounds state store growth; session windows
merge in the state store keyed by (user, session); update-mode emission
keeps sink volume proportional to changed keys per micro-batch.

Every runner here is a bounded drain: :func:`drain_available` replays all
available input into a throwaway checkpoint and decides the state-partition
count.  Production runs the same shapes as long-running queries with a
durable checkpoint; such a query takes ``spark.sql.shuffle.partitions`` at
its first start, so set it at launch.
"""

from __future__ import annotations

import os
import tempfile

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter

from ..schemas import EVENTS


# Replayable fixture tables: the JSON projection (SQL expressions) and the
# replay order.  Events carry ts as text (``read_event_stream`` parses it
# back); embeddings widen float→double BEFORE the JSON write — the widening
# is exact and Jackson's doubles round-trip bit-exactly, so the streamed
# vector equals the batch path's ``as_double(embedding)`` to the last bit.
_REPLAY = {
    "events": (
        ("event_id", "date_format(ts, 'yyyy-MM-dd HH:mm:ss.SSSSSS') AS ts",
         "user_id", "event_type", "value", "props"),
        ("ts", "event_id"),
    ),
    "documents": (("doc_id", "text"), ("doc_id",)),
    "embeddings": (
        ("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS embedding"),
        ("vec_id",),
    ),
}


def stage_json_stream(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    n_files: int = 4,
    out_dir: str | None = None,
) -> str:
    """Replay a fixture table (``events``, ``documents`` or ``embeddings``)
    as a directory of JSON chunk files in its replay order — the file-source
    analog of the reference's chunked CSV→Kafka producer
    (``kafka_producer.py:107-119``).  With ``maxFilesPerTrigger=1`` each
    file becomes one micro-batch, so watermark advancement across batches
    is exercised deterministically.

    The write is distributed (range-partitioned by the replay order →
    executors write the chunk files directly; no driver collect).  File
    mtimes are then set to follow the ranges so the file source replays
    oldest first.

    Deliberately DRIVER-LOCAL (tempfile + os.utime + os.listdir): this is
    the local-mode replay FIXTURE standing in for the Kafka source, not a
    product artifact — unlike the warehouse-rooted scratch used for
    persisted indexes/sinks (sources.sinks.index_scratch_dir), it never
    needs to exist on a cluster, where the stream reads from a broker.
    """
    from ..sources import read_table

    columns, order = _REPLAY[table]
    out_dir = out_dir or tempfile.mkdtemp(prefix=f"bdap_{table}_stream_")
    (
        read_table(spark, sf_dir, table)
        .selectExpr(*columns)
        .repartitionByRange(n_files, *order)
        .sortWithinPartitions(*order)
        .write.mode("overwrite")
        .json(out_dir)
    )
    # part-file names sort in range order; stamp ascending mtimes so the
    # streaming file source (mtime-ordered discovery) replays oldest first
    parts = sorted(
        f for f in os.listdir(out_dir) if f.startswith("part-") and f.endswith(".json")
    )
    base = 1_600_000_000
    for i, f in enumerate(parts):
        os.utime(os.path.join(out_dir, f), (base + i, base + i))
    return out_dir


def read_json_stream(
    spark: SparkSession, json_dir: str, schema: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """Unbounded read of a staged JSON stream with an explicit schema (swap
    for the Kafka form in a broker deployment, like read_event_stream)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(json_dir)
    )


def read_kafka_event_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "latest",
) -> DataFrame:
    """S4: the Kafka deployment of the same pipeline (reference
    ``stream_processor.py:125-132``: subscribe, startingOffsets=latest,
    failOnDataLoss=false; JSON values keyed by session id for per-key
    partition affinity).  Requires the spark-sql-kafka package on the
    classpath; no broker exists in the test container, so this builder is
    exercised only for plan construction — the downstream operators are
    source-agnostic."""
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("failOnDataLoss", "false")
        .load()
    )
    return (
        raw.selectExpr("CAST(value AS STRING) AS json_str")
        .select(F.from_json("json_str", EVENTS).alias("data"))
        .select("data.*")
    )


def read_event_stream(
    spark: SparkSession, json_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """S4/S6 analog: unbounded read of the staged event stream with explicit
    schema + timestamp parse (JSON source; swap ``format('kafka')`` +
    ``from_json(col('value')...)`` for the broker deployment)."""
    raw_schema = "event_id LONG, ts STRING, user_id LONG, event_type STRING, value DOUBLE, props STRING"
    return read_json_stream(
        spark, json_dir, raw_schema, max_files_per_trigger
    ).withColumn("ts", F.to_timestamp("ts"))


def tumbling_features(stream: DataFrame, watermark: str = "10 minutes",
                      window: str = "1 hour") -> DataFrame:
    """T1+T2 (tumbling form): watermarked event-time window aggregate with
    the reference's measure set (§1.3) made streaming-safe."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), F.col("user_id"))
        .agg(
            F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("long")
            .alias("label"),
            F.count(F.when(F.col("event_type") == "view", 1)).alias("view_count"),
            F.count("*").alias("total_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
            F.approx_count_distinct("event_id").alias("unique_items_approx"),
            F.max("ts").alias("last_event_time"),
        )
    )


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    lookback_sec: int,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-stream inner interval join: right rows within
    ``[left_ts - lookback, left_ts]`` per key.  BOTH sides are
    watermarked and the join condition carries the event-time range —
    that pair is what lets the engine bound its join state: a buffered
    right row can be evicted once the watermark passes
    ``right_ts + lookback`` (without the range condition, state grows
    forever and Spark rejects the query in append mode).  Emission is
    incremental, but over a complete bounded replay the final output
    equals the batch interval join — which is how the oracle checks it."""
    lw = left.withWatermark(left_ts, watermark).alias("l")
    rw = right.withWatermark(right_ts, watermark).alias("r")
    return lw.join(
        rw,
        F.expr(
            f"l.{on} = r.{on} AND r.{right_ts} >= l.{left_ts} - INTERVAL {lookback_sec} SECONDS"
            f" AND r.{right_ts} <= l.{left_ts}"
        ),
    )


def enrich_with_static(
    stream: DataFrame, dim: DataFrame, on: str | list[str]
) -> DataFrame:
    """Stream-static join (production enrichment shape): every micro-batch
    joins against the static dimension, broadcast so no stream-side
    shuffle or state is introduced (unlike stream-stream joins there is
    NO watermark/state requirement — the static side is simply re-read,
    and on a cluster re-broadcast, per batch; pair with a periodically
    refreshed dim table for slowly-changing dimensions).  Inner semantics:
    stream rows without a dim row are dropped (use a pre-seeded 'unknown'
    dim row for left-outer behavior)."""
    return stream.join(F.broadcast(dim), on)


def sliding_features(stream: DataFrame, watermark: str = "10 minutes",
                     window: str = "1 hour", slide: str = "15 minutes") -> DataFrame:
    """T2 exact reference shape: sliding window (overlapping assignment)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("win"), F.col("user_id"))
        .agg(
            F.count("*").alias("total_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
    )


def session_features(stream: DataFrame, watermark: str = "10 minutes",
                     gap: str = "30 minutes") -> DataFrame:
    """True sessionization via ``session_window`` (gap-merged state) — the
    operator the reference approximates with sliding windows (SURVEY T2
    note).  State merges sessions per user as events arrive; the watermark
    finalizes and evicts closed sessions."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("win"), F.col("user_id"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
            F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("long")
            .alias("converted"),
        )
    )


def dedup_stream(
    stream: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup at ingest (the curation pipeline's first
    stage run at stream time): ``dropDuplicatesWithinWatermark`` keeps one
    row per key among events whose timestamps fall within the watermark
    horizon of each other, and — unlike plain ``dropDuplicates`` — evicts
    each key's state once the watermark passes it, so state is bounded by
    (horizon × distinct keys in horizon) instead of all keys ever seen.
    Default key: the content fingerprint of ``props`` + ``event_type``
    (payload identity, not event id — re-sent payloads are the dup)."""
    from ..operators.text import normalized_fingerprint

    wm = stream.withWatermark("ts", watermark)
    if keys is None:
        wm = wm.withColumn(
            "payload_fp",
            normalized_fingerprint(F.concat_ws(" ", "event_type", "props")),
        )
        keys = ["user_id", "payload_fp"]
    return wm.dropDuplicatesWithinWatermark(keys)


# Drains cap their state-store count here.  Each drain is a bounded
# replay (≤~100k rows per trigger) into a throwaway checkpoint, where more
# state stores only add per-batch lifecycle cost: 32 → 8 took the sf0.1
# stream-stream outer join from 8.2 s to 2.9 s.
_DRAIN_STATE_PARTITIONS = 8

_STATE_PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"
_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def drain_available(
    spark: SparkSession, writer: DataStreamWriter, rocksdb: bool = False
) -> None:
    """Run a configured ``writeStream`` over all available input and wait
    for it: availableNow trigger (a deterministic micro-batch sequence)
    into a throwaway ``bdap_ckpt_`` checkpoint deleted on return.  Every
    drain in ``processor`` and ``bridge`` goes through here, and this is
    the one place that decides a drain's state-partition count.

    Spark fixes a query's state partitioning (= ``spark.sql.shuffle.
    partitions``) at its first start, so the count is set on the session
    for the drain and restored afterwards:
    ``min(_DRAIN_STATE_PARTITIONS, the session's shuffle partitions)``.
    Semantics never depend on it.  ``rocksdb`` switches the state store to
    the at-scale backend the same way: state lives off-heap/on-disk in
    RocksDB instead of in-heap hash maps, so large watermark horizons and
    key cardinalities stop pressuring the JVM heap (bundled with Spark)."""
    shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    confs = {
        "spark.sql.shuffle.partitions": str(min(_DRAIN_STATE_PARTITIONS, shuffle))
    }
    if rocksdb:
        confs[_STATE_PROVIDER_KEY] = _ROCKSDB_PROVIDER
    saved = {key: spark.conf.get(key, None) for key in confs}
    try:
        for key, value in confs.items():
            spark.conf.set(key, value)
        with tempfile.TemporaryDirectory(prefix="bdap_ckpt_") as ckpt:
            writer.option("checkpointLocation", ckpt).trigger(
                availableNow=True
            ).start().awaitTermination()
    finally:
        for key, prev in saved.items():
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)


def run_to_completion(
    agg: DataFrame,
    query_name: str,
    output_mode: str = "complete",
    rocksdb: bool = False,
) -> DataFrame:
    """Execute a streaming aggregate over all available input (availableNow
    trigger → deterministic micro-batch sequence) into a memory sink and
    return the final result table (T3/T4/T5: output mode, trigger,
    checkpoint).

    ``complete`` mode re-emits full state per batch — acceptable only for
    the bounded oracle harness (the driver diffs one final table).  The
    production path at scale is :func:`run_append_to_files`."""
    spark = agg.sparkSession
    drain_available(
        spark,
        agg.writeStream.outputMode(output_mode).format("memory").queryName(query_name),
        rocksdb,
    )
    return spark.table(query_name)


def run_append_to_files(
    agg: DataFrame,
    out_dir: str,
    fmt: str = "parquet",
    rocksdb: bool = False,
) -> DataFrame:
    """A bounded drain of the production streaming shape (100 TB path):
    ``append`` output mode into a file sink.  Production runs the same
    append shape as a long-running query with a durable checkpoint.  Each
    window group is written exactly once, when the watermark passes its
    end — state is evicted as windows finalize, so state-store size is
    bounded by (watermark horizon × active keys), and sink volume is
    proportional to *finalized* windows per batch, never to total state
    (``complete`` re-emits everything every batch and is kept only for the
    bounded oracle harness).

    Returns the finalized-window table read back from the sink.  Windows
    still open when the input is exhausted are (correctly) absent: they
    have not been finalized by a watermark crossing.  An empty result is
    returned with the aggregate's schema when no window finalized at all.
    """
    spark = agg.sparkSession
    drain_available(
        spark,
        agg.writeStream.outputMode("append").format(fmt).option("path", out_dir),
        rocksdb,
    )
    has_data = any(
        f.startswith("part-") for f in os.listdir(out_dir) if not f.startswith(".")
    )
    if not has_data:
        return spark.createDataFrame([], agg.schema)
    return spark.read.schema(agg.schema).format(fmt).load(out_dir)
