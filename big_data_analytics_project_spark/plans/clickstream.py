"""Reference-parity clickstream pipeline — the three entry points a user of
``umutcalikkasap/big-data-analytics-project`` runs today, re-expressed.

Entry point 1 (preprocess): ``run_preprocessing(spark, csv, out)`` ↔
reference ``src/spark/preprocessing.py:127-141`` — load+clean → leakage
cutoff → session features → parquet.
Entry point 2 (train): ``run_training(spark, features)`` ↔
``src/spark/train_intent.py:140-159`` — undersample → RF → metrics.  It
is a thin caller of the engine's one trainer,
``ml.intent.fit_and_evaluate`` (assemble → seeded split → fit → four
metrics), which the flagship RF and the logistic-regression contract
share.
Entry point 3 (stream): see ``streaming/`` (processor + bridge).

Fidelity notes:
- event_time is PARSED (``try_to_timestamp`` with the reference's
  ``yyyy-MM-dd HH:mm:ss 'UTC'`` pattern) rather than left as an inferred
  string; the reference's string-typed variant makes ``session_duration``
  collapse to 0 via null casts (SURVEY §1.4) — we keep correct-timestamp
  semantics and document the deliberate divergence.
- the cutoff keeps ties (``<=``), numeric nulls → 0, dimension nulls →
  'unknown', exactly as the reference.
- statistics that the reference recomputes per action are taken from one
  cached frame (its known missing-cache inefficiency, SURVEY §3.1), in
  one aggregate pass: session and purchase counts together.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators.sessionization import (
    first_conversion_window,
    leakage_cutoff,
)
from ..sources.readers import read_clickstream_csv
from ..sources.sinks import write_parquet

# the reference §1.3 session features the model trains on
FEATURES = ["view_count", "cart_count", "session_duration",
            "avg_price", "max_price", "unique_items"]


def engineer_session_features(events: DataFrame) -> DataFrame:
    """Reference §1.3 schema, exactly: label, view_count, cart_count,
    session_duration (floor seconds), avg_price, max_price, unique_items
    per user_session."""
    marked = first_conversion_window(
        events, key="user_session", ts="event_time",
        event_type="event_type", conversion="purchase",
    )
    kept = leakage_cutoff(marked, "event_time")
    return (
        kept.groupBy("user_session")
        .agg(
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("label"),
            F.count(F.when(F.col("event_type") == "view", 1)).alias("view_count"),
            F.count(F.when(F.col("event_type") == "cart", 1)).alias("cart_count"),
            (
                F.unix_timestamp(F.max("event_time"))
                - F.unix_timestamp(F.min("event_time"))
            ).alias("session_duration"),
            F.avg("price").alias("avg_price"),
            F.max("price").alias("max_price"),
            F.countDistinct("product_id").alias("unique_items"),
        )
        .fillna(0)
    )


def run_preprocessing(
    spark: SparkSession, input_csv: str, output_parquet: str | None = None
) -> tuple[DataFrame, dict]:
    """Entry point 1: CSV → cleaned events → session features (+ stats)."""
    events = read_clickstream_csv(spark, input_csv)
    features = engineer_session_features(events).cache()
    total, purchases = features.agg(F.count("*"), F.sum("label")).first()
    purchases = purchases or 0
    stats = {
        "n_sessions": total,
        "n_purchase_sessions": purchases,
        "conversion_rate": purchases / total if total else 0.0,
    }
    if output_parquet:
        write_parquet(features, output_parquet)
    return features, stats


def run_training(
    spark: SparkSession,
    features: DataFrame,
    num_trees: int = 20,
    max_depth: int = 5,
    seed: int = 42,
):
    """Entry point 2: undersample → cache → the shared trainer
    (``ml.intent.fit_and_evaluate``) with a seeded RF on the reference
    §1.3 features (reference hyperparameter profiles: local 20/5, cloud
    50/10).  Returns ``(model, metrics)``."""
    from pyspark.ml.classification import RandomForestClassifier

    from ..ml.intent import fit_and_evaluate, undersample

    balanced = undersample(features, seed=seed).cache()
    rf = RandomForestClassifier(numTrees=num_trees, maxDepth=max_depth, seed=seed)
    model, metrics, _, _ = fit_and_evaluate(balanced, rf, FEATURES, seed)
    return model, metrics
