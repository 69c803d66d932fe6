"""Purchase-intent model pipeline (reference subsystem 2, rebuilt).

Reference: ``src/spark/train_intent.py`` — parquet scan → count-based
random undersampling to ≈1:1 → VectorAssembler → RandomForest(numTrees=20,
maxDepth=5, seed=42; cloud profile 50/10) → AUC / F1 / weightedRecall /
accuracy evaluation.

One trainer, :func:`fit_and_evaluate`, does assemble → seeded 80/20
split → fit → four metrics for every caller: the flagship RF
(:func:`run_intent_pipeline`), the reference-parity clickstream job
(``plans.clickstream.run_training``) and the logistic-regression
contract.  Each passes its own MLlib estimator and feature columns; the
tuning sweep shares the same :func:`assemble` step.

Rebuild differences (SURVEY §3.2 / §4 inefficiency notes):
- the feature table is produced in-engine by the flagship sessionization
  (operators/sessionization.py) instead of a pre-saved parquet;
- one caching rule: the trainer caches its train split and predictions,
  never its input; callers with an expensive input lineage (the balanced
  frame, a feature⋈label join) cache it first, so the fit/evaluate
  sequence does not recompute it (the reference recomputes the full
  lineage for every count/evaluate — its known inefficiency);
- the count→ratio→sample round-trip is kept: it is inherent to
  count-based balancing and matches reference semantics (approximate 1:1,
  not pandas-exact — SURVEY §7.2.7); both class counts come from one
  aggregate.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

FEATURES = ["view_count", "click_count", "signup_count", "error_count",
            "session_duration_sec", "avg_value", "max_value", "unique_items"]


def build_feature_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..registry import load_all

    return load_all()["flagship_sessionization"].fn(spark, sf_dir)


def undersample(df: DataFrame, label_col: str = "label", seed: int = 42) -> DataFrame:
    """Count-based majority undersampling to ≈1:1 (reference
    train_intent.py:51-79).  Both class counts come from one
    ``groupBy(label)`` aggregate (a missing class counts 0), then a
    seeded Bernoulli sample; the ratio crosses to the driver by design."""
    counts = dict(df.groupBy(label_col).count().collect())
    n_min, n_maj = counts.get(1, 0), counts.get(0, 0)
    if n_maj == 0 or n_min == 0 or n_min >= n_maj:
        return df
    minority = df.where(F.col(label_col) == 1)
    majority = df.where(F.col(label_col) == 0)
    return minority.union(majority.sample(fraction=n_min / n_maj, seed=seed))


def assemble(features: DataFrame, feature_cols=FEATURES) -> DataFrame:
    """(label double, features vector) with numeric nulls as 0 — the one
    assembly step every trainer and the tuning sweep share."""
    from pyspark.ml.feature import VectorAssembler

    return (
        VectorAssembler(inputCols=list(feature_cols), outputCol="features")
        .transform(features.fillna(0))
        .select(F.col("label").cast("double"), "features")
    )


def fit_and_evaluate(
    features: DataFrame, estimator, feature_cols=FEATURES, seed: int = 42
):
    """Assemble → seeded 80/20 split → fit ``estimator`` → AUC / F1 /
    weighted recall / accuracy (M1-M5).  The one trainer: every caller
    passes its MLlib classifier (default ``label``/``features`` columns).

    Caches ``train`` (the fit reads it once per iteration or tree level)
    and ``pred`` (four evaluators read it) and never its input: a caller
    whose input is an expensive lineage caches it first, since the split
    and the prediction each read it once.  Returns
    ``(model, metrics, train, pred)``; callers that report split sizes
    count the cached ``train`` and ``pred`` themselves."""
    from pyspark.ml.evaluation import (
        BinaryClassificationEvaluator,
        MulticlassClassificationEvaluator,
    )

    train, test = assemble(features, feature_cols).randomSplit([0.8, 0.2], seed=seed)
    train = train.cache()
    model = estimator.fit(train)
    pred = model.transform(test).cache()
    auc = BinaryClassificationEvaluator(metricName="areaUnderROC").evaluate(pred)
    mc = MulticlassClassificationEvaluator()
    metrics = {"auc": auc}
    for key, name in (("f1", "f1"), ("weighted_recall", "weightedRecall"),
                      ("accuracy", "accuracy")):
        metrics[key] = mc.evaluate(pred, {mc.metricName: name})
    return model, metrics, train, pred


def run_intent_pipeline(features: DataFrame):
    """Undersample the feature table, cache the balanced frame and train
    the reference's seeded RandomForest(20, 5) on it; returns what
    :func:`fit_and_evaluate` returns."""
    from pyspark.ml.classification import RandomForestClassifier

    rf = RandomForestClassifier(numTrees=20, maxDepth=5, seed=42)
    return fit_and_evaluate(undersample(features).cache(), rf)


def save_intent_model(model, path: str) -> None:
    """S8 sink: MLlib native persistence (reference train_intent.py:153 —
    ``model.write().overwrite().save(path)``).  Writes tree metadata +
    parquet-backed model data; cluster-readable (any executor count can
    reload it)."""
    model.write().overwrite().save(path)


def load_intent_model(path: str):
    """S8 source: reload a persisted RF intent model for batch or
    foreachBatch inference."""
    from pyspark.ml.classification import RandomForestClassificationModel

    return RandomForestClassificationModel.load(path)


def tune_intent_model(
    features: DataFrame,
    num_trees_grid: tuple[int, ...] = (10, 20),
    max_depth_grid: tuple[int, ...] = (3, 5),
    seed: int = 42,
):
    """Hyperparameter sweep (M-family extension): TrainValidationSplit
    over a numTrees × maxDepth grid, scored by AUC on a held-out 25%.

    TrainValidationSplit, not CrossValidator, is the default at scale:
    one fit per grid point instead of k — with 100 TB behind the feature
    table the k× multiplier is the difference between a sweep that runs
    tonight and one that doesn't.  Every grid fit is independent, so
    Spark parallelizes them (``parallelism=2``) on top of each fit's own
    data parallelism.  Returns (best_model, rows) where rows hold the
    full grid's validation AUC — the sweep is auditable, not just its
    argmax.  Seeded split + seeded RF → deterministic metrics for fixed
    input (pinned floors in tests/test_ml.py).
    """
    from pyspark.ml.classification import RandomForestClassifier
    from pyspark.ml.evaluation import BinaryClassificationEvaluator
    from pyspark.ml.tuning import ParamGridBuilder, TrainValidationSplit

    data = assemble(features).cache()
    rf = RandomForestClassifier(seed=seed)
    grid = (
        ParamGridBuilder()
        .addGrid(rf.numTrees, list(num_trees_grid))
        .addGrid(rf.maxDepth, list(max_depth_grid))
        .build()
    )
    tvs = TrainValidationSplit(
        estimator=rf,
        estimatorParamMaps=grid,
        evaluator=BinaryClassificationEvaluator(metricName="areaUnderROC"),
        trainRatio=0.75,
        parallelism=2,
        seed=seed,
    )
    fitted = tvs.fit(data)
    rows = [
        {
            "num_trees": pm[rf.numTrees],
            "max_depth": pm[rf.maxDepth],
            "val_auc": round(float(m), 6),
            "is_best": bool(m == max(fitted.validationMetrics)),
        }
        for pm, m in zip(grid, fitted.validationMetrics)
    ]
    return fitted.bestModel, rows
