"""ML pipeline tests — threshold/sanity checks in the reference's own
style (AUC-tolerance, not value hashes; SURVEY §5/§6)."""

import numpy as np

from big_data_analytics_project_spark.ml.intent import run_intent_pipeline, undersample
from big_data_analytics_project_spark.ml.online import OnlineIntentModel
from big_data_analytics_project_spark.ml.recommend import run_als_pipeline


def test_intent_pipeline_end_to_end(spark, sf_dir):
    """Numeric drift floors (VERDICT r5 item 7): the sf0.001 fixture's
    purchase label is cleanly separable from the leakage-free session
    features, so the seeded pipeline reproduces AUC = F1 = 1.0 exactly
    (reference baseline on real data: AUC 0.9276, BASELINE.md).  Any dip
    below the floor means the feature table, cutoff, or RF wiring
    drifted — all seeded, so this is deterministic."""
    from big_data_analytics_project_spark.ml.intent import build_feature_table

    _, m, train, pred = run_intent_pipeline(build_feature_table(spark, sf_dir))
    assert m["auc"] >= 0.99, m
    assert m["f1"] >= 0.99, m
    assert train.count() > 0 and pred.count() > 0


def test_undersample_balances(spark, sf_dir):
    from big_data_analytics_project_spark.ml.intent import build_feature_table

    feats = build_feature_table(spark, sf_dir)
    bal = undersample(feats)
    counts = dict(
        bal.groupBy("label").count().rdd.map(lambda r: (r["label"], r["count"])).collect()
    )
    if 0 in counts and 1 in counts and counts[1] < feats.count():
        ratio = counts[0] / counts[1]
        assert 0.3 < ratio < 3.0  # Bernoulli-approximate 1:1 (SURVEY §7.2.7)


def test_online_model_cold_start_then_learns():
    model = OnlineIntentModel(update_every=50)
    rng = np.random.default_rng(42)
    # separable synthetic: label 1 iff view_count high
    x = rng.normal(size=(500, 4))
    y = (x[:, 0] > 0).astype(int)
    x[:, 0] += y * 3  # make it easy
    p0 = model.predict_proba(x[:5])
    assert not model.fitted and p0.shape == (5,)  # heuristic path
    for i in range(0, 500, 50):
        model.observe(x[i : i + 50], y[i : i + 50])
    assert model.fitted and model.n_updates >= 5
    acc = ((model.predict_proba(x) >= 0.5).astype(int) == y).mean()
    assert acc > 0.8


def test_online_model_pickle_roundtrip(tmp_path):
    model = OnlineIntentModel()
    x = np.ones((120, 4))
    y = np.ones(120, dtype=int)
    model.observe(x, y)
    p = str(tmp_path / "m.pkl")
    model.save(p)
    loaded = OnlineIntentModel.load(p)
    assert loaded.fitted == model.fitted
    assert np.allclose(loaded.weights, model.weights)


def test_als_pipeline(spark, sf_dir):
    out = run_als_pipeline(spark, sf_dir, k=10)
    assert 0.0 <= out["recall_at_k"] <= 1.0
    assert out["n_users"] > 0


class _StubModel:
    """Stands in for an ALS model: fixed scored recommendations per user."""

    def __init__(self, recs_df):
        self._recs = recs_df

    def recommendForUserSubset(self, users, n):
        return self._recs


def test_recall_at_k_ranks_by_score_not_row_order(spark):
    """Constructed case where any non-score ordering (e.g. the old
    monotonically_increasing_id ranking) could flip the result: with k=1,
    user 1's held-out item is the TOP-scored rec (must hit) and user 2's is
    the BOTTOM-scored rec (must miss)."""
    from big_data_analytics_project_spark.ml.recommend import recall_at_k

    recs = spark.createDataFrame(
        [
            (1, [{"item": 10, "rating": 0.9}, {"item": 20, "rating": 0.5}, {"item": 30, "rating": 0.1}]),
            (2, [{"item": 11, "rating": 0.9}, {"item": 21, "rating": 0.5}, {"item": 31, "rating": 0.1}]),
        ],
        "user int, recommendations array<struct<item:int,rating:double>>",
    )
    train = spark.createDataFrame([(1, 99), (2, 99)], "user int, item int")
    heldout = spark.createDataFrame([(1, 10), (2, 31)], "user int, item int")
    r = recall_at_k(_StubModel(recs), train, heldout, k=1)
    assert r == 0.5  # top-scored hit counted, bottom-scored not in top-1


def test_als_recall_beats_reference_on_structured_split(spark):
    """Reference reports Spark ALS Recall@10 = 0.0999 (report §3.2).  The
    driver fixtures are random (no user-item structure → chance-level
    recall), so the threshold is asserted on a structured interaction set:
    users in block g interact with items in block g.  ALS must recover the
    block structure and beat the reference figure."""
    import random

    from big_data_analytics_project_spark.ml.recommend import recall_at_k, train_als

    rng = random.Random(7)
    rows = []
    held = []
    for u in range(60):
        g = u % 2
        items = rng.sample(range(g * 30, g * 30 + 30), 12)
        for it in items[:-1]:
            rows.append((u, it, float(rng.randint(1, 5))))
        held.append((u, items[-1]))
    train = spark.createDataFrame(rows, "user int, item int, strength float")
    heldout = spark.createDataFrame(held, "user int, item int")
    model = train_als(train, rank=8, max_iter=10)
    r = recall_at_k(model, train, heldout, k=10)
    assert r >= 0.0999, f"Recall@10 {r} below reference Spark figure 0.0999"


def test_mllib_model_save_load_roundtrip(spark, sf_dir, tmp_path):
    """S8: persist the trained RF with MLlib native persistence, reload,
    and require bit-identical predictions (probability vector and class)
    on a held-out frame."""
    from pyspark.ml.classification import RandomForestClassifier
    from pyspark.ml.feature import VectorAssembler

    from big_data_analytics_project_spark.ml.intent import (
        FEATURES,
        build_feature_table,
        fit_and_evaluate,
        load_intent_model,
        save_intent_model,
        undersample,
    )

    feats = undersample(build_feature_table(spark, sf_dir)).cache()
    rf = RandomForestClassifier(numTrees=5, maxDepth=3, seed=42)
    model, *_ = fit_and_evaluate(feats, rf)
    path = str(tmp_path / "rf_model")
    save_intent_model(model, path)
    reloaded = load_intent_model(path)
    assert reloaded.uid == model.uid

    holdout = (
        VectorAssembler(inputCols=FEATURES, outputCol="features")
        .transform(feats.fillna(0))
        .select("label", "features")
        .limit(200)
    )
    want = [
        (r["prediction"], tuple(r["probability"]))
        for r in model.transform(holdout).collect()
    ]
    got = [
        (r["prediction"], tuple(r["probability"]))
        for r in reloaded.transform(holdout).collect()
    ]
    assert got == want


def test_tuning_grid_sweep(spark, sf_dir):
    """TrainValidationSplit sweep: full grid reported, metrics floored,
    best model's params are one of the grid points."""
    from big_data_analytics_project_spark.ml.intent import (
        build_feature_table,
        tune_intent_model,
        undersample,
    )

    feats = undersample(build_feature_table(spark, sf_dir)).cache()
    best, rows = tune_intent_model(
        feats, num_trees_grid=(5, 10), max_depth_grid=(3,)
    )
    assert len(rows) == 2
    assert {(r["num_trees"], r["max_depth"]) for r in rows} == {(5, 3), (10, 3)}
    # the fixture's intent labels are near-separable (same floor as
    # test_intent_pipeline_metrics); every grid point must clear it
    assert all(r["val_auc"] >= 0.95 for r in rows)
    assert any(r["is_best"] for r in rows)
    assert best.getNumTrees in (5, 10)
