"""ML pipeline query registrations (rows-only — model outputs are
seed-deterministic within Spark but have no cross-engine SQL equivalent;
quality thresholds are asserted in tests/test_ml.py per the reference's
own tolerance-based practice, SURVEY §5)."""

from __future__ import annotations

import pyspark.sql.functions as F

from ..registry import query


@query("ml_intent_rf_metrics", sql=None, tags=("ml", "classification"))
def ml_intent_rf_metrics(spark, sf_dir):
    """M1-M5: undersample → assemble → RandomForest(20,5,seed42) → AUC/F1/
    recall/accuracy, as a single-row metrics frame."""
    from ..ml.intent import build_feature_table, run_intent_pipeline

    _, m, train, pred = run_intent_pipeline(build_feature_table(spark, sf_dir))
    return spark.createDataFrame(
        [(m["auc"], m["f1"], m["weighted_recall"], m["accuracy"],
          train.count(), pred.count())],
        "auc double, f1 double, weighted_recall double, accuracy double, n_train long, n_test long",
    )


@query("ml_feature_importances", sql=None, tags=("ml", "classification"))
def ml_feature_importances(spark, sf_dir):
    """M8: RandomForest feature importances (reference
    visualization.ipynb cell 13 / README feature table), as (feature,
    importance) rows sorted by weight."""
    from ..ml.intent import FEATURES, build_feature_table, run_intent_pipeline

    model, *_ = run_intent_pipeline(build_feature_table(spark, sf_dir))
    imps = list(model.featureImportances.toArray())
    rows = sorted(zip(FEATURES, imps), key=lambda kv: -kv[1])
    return spark.createDataFrame(
        [(f, round(float(w), 6)) for f, w in rows], "feature string, importance double"
    )


@query("ml_als_recommendations", sql=None, tags=("ml", "recommender"))
def ml_als_recommendations(spark, sf_dir):
    """M9: implicit-feedback ALS (c_ui = 1 + alpha*r_ui) top-5 item
    recommendations for users < 20, trained on the leave-last-out split so
    the same model also yields Recall@10 against the held-out events —
    carried on every row as ``recall_at_10`` so the driver tracks
    recommender quality round-over-round (mirrors ml_intent_rf_metrics;
    the reference reports this metric in its progress report §3.2)."""
    from ..ml.recommend import leave_last_out_split, recall_at_k, train_als

    train, held = leave_last_out_split(spark, sf_dir)
    model = train_als(train, max_iter=5)
    recall = recall_at_k(model, train, held, k=10)
    users = train.select("user").distinct().where(F.col("user") < 20)
    recs = model.recommendForUserSubset(users, 5)
    return recs.select(
        "user",
        F.explode("recommendations").alias("r"),
    ).select(
        F.col("user").cast("long").alias("user"),
        F.col("r.item").cast("long").alias("item"),
        F.round(F.col("r.rating"), 4).alias("score"),
        F.lit(round(recall, 6)).alias("recall_at_10"),
    )


@query("ml_intent_tuning_grid", sql=None, tags=("ml", "tuning"))
def ml_intent_tuning_grid(spark, sf_dir):
    """Hyperparameter sweep audit: the full TrainValidationSplit grid
    (numTrees × maxDepth → validation AUC, best flagged).  Rows-only:
    MLlib's RF is seeded-deterministic for fixed input, but the metric is
    engine-internal; floors are pinned in tests/test_ml.py."""
    from ..ml.intent import build_feature_table, tune_intent_model, undersample

    feats = undersample(build_feature_table(spark, sf_dir)).cache()
    _, rows = tune_intent_model(feats)
    return spark.createDataFrame(rows).select(
        "num_trees", "max_depth", "val_auc", F.col("is_best").cast("long").alias("is_best")
    )


# --- tuning-grid contract (VERDICT r10 item 7) ------------------------------
# The grid-point AUC VALUES are seeded-model artifacts (rows-only above),
# but the sweep's SHAPE is exactly checkable: the full 2x2 grid must be
# reported, the best flag must be the argmax of the reported metrics (a
# by-construction invariant — immune to undersampling's partition noise,
# unlike "exactly one best", which can flip on metric ties at AUC~1.0),
# and every grid point must clear the near-separable fixture's 0.95 AUC
# floor (same floor as tests/test_ml.py).  The feature-table shape is
# recomputed exactly by the oracle through the flagship CTE, same as
# ml_rf_quality_contract.

_TUNING_GRID_CONTRACT_SQL = """
WITH marked AS (
  SELECT *,
         min(CASE WHEN event_type = 'purchase' THEN ts END)
             OVER (PARTITION BY user_id) AS first_conversion_ts
  FROM events
), kept AS (
  SELECT * FROM marked
  WHERE first_conversion_ts IS NULL OR ts <= first_conversion_ts
), feats AS (
  SELECT user_id,
         CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS label
  FROM kept GROUP BY user_id
)
SELECT CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(label) AS BIGINT) AS n_positive,
       CAST(4 AS BIGINT) AS n_grid_points,
       CAST(2 AS BIGINT) AS n_tree_values,
       CAST(2 AS BIGINT) AS n_depth_values,
       CAST(TRUE AS BOOLEAN) AS grid_pairs_complete,
       CAST(TRUE AS BOOLEAN) AS best_nonempty,
       CAST(TRUE AS BOOLEAN) AS best_is_argmax,
       CAST(TRUE AS BOOLEAN) AS all_points_auc_ge_095
FROM feats
"""


@query(
    "ml_tuning_grid_contract",
    sql=_TUNING_GRID_CONTRACT_SQL,
    tags=("ml", "tuning", "contract"),
)
def ml_tuning_grid_contract(spark, sf_dir):
    """TrainValidationSplit sweep under the M-family contract pattern —
    see block comment.  Grid shape, best-flag argmax consistency, and
    per-point AUC floors become driver-checkable booleans; the training
    population shape (n_users, n_positive) is recomputed exactly by the
    oracle.  A sweep wiring regression (missing grid point, argmax bug,
    quality collapse) flips a compared value and fails the driver hash."""
    from ..ml.intent import build_feature_table, tune_intent_model, undersample

    feats = build_feature_table(spark, sf_dir)
    sampled = undersample(feats).cache()
    _, rows = tune_intent_model(sampled)
    pairs = {(r["num_trees"], r["max_depth"]) for r in rows}
    best = [r for r in rows if r["is_best"]]
    # default guards the empty-sweep regression: the contract must then
    # REPORT failure (booleans flip False below), not crash at plan build
    max_auc = max((r["val_auc"] for r in rows), default=float("nan"))
    return feats.agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum("label").cast("long").alias("n_positive"),
        F.lit(len(rows)).cast("long").alias("n_grid_points"),
        F.lit(len({p[0] for p in pairs})).cast("long").alias("n_tree_values"),
        F.lit(len({p[1] for p in pairs})).cast("long").alias("n_depth_values"),
        F.lit(pairs == {(10, 3), (10, 5), (20, 3), (20, 5)}).alias(
            "grid_pairs_complete"
        ),
        F.lit(len(best) >= 1).alias("best_nonempty"),
        F.lit(bool(best) and all(r["val_auc"] == max_auc for r in best)).alias(
            "best_is_argmax"
        ),
        F.lit(bool(rows) and all(r["val_auc"] >= 0.95 for r in rows)).alias(
            "all_points_auc_ge_095"
        ),
    )


# --- M-family oracle exposure (VERDICT r6 item 7) -------------------------
# The model metrics themselves have no SQL equivalent, but two things DO:
# the feature table the model trains on (exactly — it is the flagship
# sessionization, whose oracle SQL is reused as a CTE here), and the
# quality CONTRACT the metrics must satisfy (boolean floors, the
# agg_approx_distinct tolerance-contract pattern).  A feature-table
# regression, a label-rate drift, or a model-quality collapse each flips
# a compared value and fails the driver hash — a real three-green row for
# the M family instead of the rows-only "it ran".

_RF_CONTRACT_SQL = """
WITH marked AS (
  SELECT *,
         min(CASE WHEN event_type = 'purchase' THEN ts END)
             OVER (PARTITION BY user_id) AS first_conversion_ts
  FROM events
), kept AS (
  SELECT * FROM marked
  WHERE first_conversion_ts IS NULL OR ts <= first_conversion_ts
), feats AS (
  SELECT user_id,
         CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS label
  FROM kept GROUP BY user_id
)
SELECT CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(label) AS BIGINT) AS n_positive,
       CAST(20 AS BIGINT) AS n_trees,
       CAST(8 AS BIGINT) AS n_features,
       CAST(TRUE AS BOOLEAN) AS auc_ge_090,
       CAST(TRUE AS BOOLEAN) AS f1_ge_090,
       CAST(TRUE AS BOOLEAN) AS recall_ge_090,
       CAST(TRUE AS BOOLEAN) AS accuracy_ge_090,
       CAST(TRUE AS BOOLEAN) AS split_nonempty
FROM feats
"""


@query("ml_rf_quality_contract", sql=_RF_CONTRACT_SQL, tags=("ml", "contract"))
def ml_rf_quality_contract(spark, sf_dir):
    """M1-M5 under a driver-checkable contract: the training feature
    table's exact shape (user count, positive-label count — DuckDB
    recomputes both through the flagship oracle CTE) alongside the seeded
    RF's hyperparameters and metric floors as booleans.  Floors are 0.90
    (measured 1.0 at sf0.001 and sf0.01 — the synthetic signal is
    separable; a wiring regression craters them).  Undersampling noise is
    partition-dependent by design (SURVEY §7.2.7), so the contract
    asserts floors, not point metrics."""
    from ..ml.intent import FEATURES, build_feature_table, run_intent_pipeline

    feats = build_feature_table(spark, sf_dir)
    _, m, train, pred = run_intent_pipeline(feats)
    return feats.agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum("label").cast("long").alias("n_positive"),
        F.lit(20).cast("long").alias("n_trees"),
        F.lit(len(FEATURES)).cast("long").alias("n_features"),
        F.lit(bool(m["auc"] >= 0.90)).alias("auc_ge_090"),
        F.lit(bool(m["f1"] >= 0.90)).alias("f1_ge_090"),
        F.lit(bool(m["weighted_recall"] >= 0.90)).alias("recall_ge_090"),
        F.lit(bool(m["accuracy"] >= 0.90)).alias("accuracy_ge_090"),
        F.lit(train.count() > 0 and pred.count() > 0).alias("split_nonempty"),
    )


# --- M9 (ALS) under the same contract pattern (VERDICT r7 item 5) ----------
# The leave-last-out split IS SQL (window over events, exclude each user's
# latest event), so the oracle recomputes the exact interaction-matrix
# shape the model trains on: user/item/pair counts.  The model side
# contributes booleans: factor-table completeness (ALS must emit exactly
# one factor row per training user and per training item), the configured
# rank, and a Recall@10 floor.  The floor is GATED on split size —
# sf0.001's 15-user split measures recall 0.0 by sampling noise (10
# random-quality recs x 15 users), while sf0.01's 150-user split measures
# 0.0667 under both the engine and hostile sessions (reference reports
# 0.0999 on its full data, report §3.2).  Floor 0.02 (= 3 hits at 150
# users) with ample margin; the gate (n_users >= 100) is recomputed
# identically by the oracle so the contract is green at every SF.

# Shared between the Spark call and the oracle literal so neither can
# drift from the other (ADVICE r8: the SQL hardcoded 16 while the Spark
# side relied on train_als's default rank).
_ALS_RANK = 16

_ALS_CONTRACT_SQL = f"""
WITH ranked AS (
  SELECT user_id,
         CAST(json_extract_string(props, '$.k') AS INTEGER) AS item,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
),
train AS (SELECT DISTINCT user_id, item FROM ranked WHERE rn > 1)
SELECT CAST((SELECT count(DISTINCT user_id) FROM ranked) AS BIGINT)
         AS n_users,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_train,
       CAST(count(DISTINCT item) AS BIGINT) AS n_items_train,
       CAST(count(*) AS BIGINT) AS n_interactions,
       CAST({_ALS_RANK} AS BIGINT) AS als_rank,
       CAST(TRUE AS BOOLEAN) AS user_factors_complete,
       CAST(TRUE AS BOOLEAN) AS item_factors_complete,
       CAST(TRUE AS BOOLEAN) AS recall10_ge_floor
FROM train
"""


@query("ml_als_quality_contract", sql=_ALS_CONTRACT_SQL, tags=("ml", "contract"))
def ml_als_quality_contract(spark, sf_dir):
    """M9 under a driver-checkable contract: the exact training
    interaction-matrix shape (the DuckDB oracle recomputes the
    leave-last-out split), ALS factor-table completeness, the configured
    rank, and a size-gated Recall@10 floor — see _ALS_CONTRACT_SQL block
    comment.  Reference M9 spec: implicit ALS c_ui = 1 + alpha*r_ui,
    Recall@10 reported (Progress_report §3.2); rebuilt from spec in
    ml/recommend.py."""
    from ..ml.recommend import leave_last_out_split, recall_at_k, train_als

    train, held = leave_last_out_split(spark, sf_dir)
    model = train_als(train, rank=_ALS_RANK, max_iter=5)
    recall = recall_at_k(model, train, held, k=10)
    n_users = held.count()
    n_users_train = train.select("user").distinct().count()
    n_items_train = train.select("item").distinct().count()
    n_interactions = train.count()
    rank = len(model.userFactors.first()["features"])
    return spark.range(1).select(
        F.lit(n_users).cast("long").alias("n_users"),
        F.lit(n_users_train).cast("long").alias("n_users_train"),
        F.lit(n_items_train).cast("long").alias("n_items_train"),
        F.lit(n_interactions).cast("long").alias("n_interactions"),
        F.lit(rank).cast("long").alias("als_rank"),
        F.lit(bool(model.userFactors.count() == n_users_train)).alias(
            "user_factors_complete"
        ),
        F.lit(bool(model.itemFactors.count() == n_items_train)).alias(
            "item_factors_complete"
        ),
        F.lit(bool(n_users < 100 or recall >= 0.02)).alias(
            "recall10_ge_floor"
        ),
    )


# --- in-plan multinomial Naive Bayes (train + score + confusion) ------------
# The one classical ML algorithm whose ENTIRE train/score path is exact
# counting — so unlike the RF family it earns a full value-level oracle:
# an 80/20 portable-hash split, Laplace-smoothed token likelihoods
# ln((c+1)/(T_l+|V|)) quantized per (term, class) on the 1e-6 grid (the
# transcendental rule — round BEFORE any multiply/sum), per-doc class
# scores as exact BIGINT sums of tf x lnq plus the quantized log prior,
# and argmax with a class-name tie-break.  Scale: token-class stats are
# vocabulary x 5 rows (broadcast), scoring is one postings-sized join +
# one (doc, class) aggregate; nothing corpus-squared, no driver model
# object ever materializes.

_NB_SQL = rf"""
WITH toks AS (
  SELECT doc_id, lang,
         {{hash_fold}} % 5 AS fold,
         unnest(regexp_split_to_array(lower(text), '\s+')) AS term
  FROM documents
),
train AS (SELECT * FROM toks WHERE fold <> 0),
test AS (
  SELECT doc_id, lang AS actual, term, CAST(count(*) AS BIGINT) AS tf
  FROM toks WHERE fold = 0 GROUP BY doc_id, lang, term
),
cls AS (
  SELECT lang AS cand, CAST(count(*) AS BIGINT) AS t_l
  FROM train GROUP BY lang
),
v AS (SELECT CAST(count(DISTINCT term) AS BIGINT) AS v_size FROM train),
tc AS (
  SELECT lang AS cand, term, CAST(count(*) AS BIGINT) AS c
  FROM train GROUP BY lang, term
),
priors AS (
  SELECT lang AS cand, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM train GROUP BY lang
),
ptot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_all FROM priors),
scored AS (
  SELECT t.doc_id, t.actual, c.cand,
         CAST(sum(t.tf
                  * CAST(floor(ln(CAST(coalesce(x.c, 0) + 1 AS DOUBLE)
                                  / CAST(c.t_l + v.v_size AS DOUBLE))
                               * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
           AS ll
  FROM test t
  CROSS JOIN cls c
  CROSS JOIN v
  LEFT JOIN tc x ON x.term = t.term AND x.cand = c.cand
  GROUP BY t.doc_id, t.actual, c.cand
),
pred AS (
  SELECT s.doc_id, s.actual, s.cand,
         row_number() OVER (
           PARTITION BY s.doc_id
           ORDER BY s.ll + CAST(floor(ln(CAST(p.n_docs AS DOUBLE)
                                         / CAST(pt.n_all AS DOUBLE))
                                      * 1000000.0 + 0.5) AS BIGINT) DESC,
                    s.cand) AS rn
  FROM scored s JOIN priors p ON p.cand = s.cand CROSS JOIN ptot pt
)
SELECT actual AS lang_actual, cand AS lang_pred,
       CAST(count(*) AS BIGINT) AS n_docs
FROM pred WHERE rn = 1
GROUP BY lang_actual, lang_pred
"""


def _nb_sql() -> str:
    from ..plans._duck import hash60

    return _NB_SQL.format(hash_fold=hash60("CAST(doc_id AS VARCHAR)"))


@query("ml_naive_bayes_langid", sql=_nb_sql(), tags=("ml", "text", "classification"))
def ml_naive_bayes_langid(spark, sf_dir):
    """Multinomial Naive Bayes language classifier trained and scored
    entirely in-plan, reported as the held-out confusion matrix — see
    block comment."""
    from pyspark.sql import Window

    from ..operators.dedup import md5_hash60
    from ..operators.text import ws_tokens
    from ..sources import read_table

    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "lang",
        (md5_hash60(F.col("doc_id").cast("string")) % 5).alias("fold"),
        F.explode(ws_tokens(F.col("text"))).alias("term"),
    )
    train = toks.where(F.col("fold") != 0)
    test = (
        toks.where(F.col("fold") == 0)
        .groupBy("doc_id", F.col("lang").alias("actual"), "term")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    cls = train.groupBy(F.col("lang").alias("cand")).agg(
        F.count("*").cast("long").alias("t_l")
    )
    v = train.agg(F.countDistinct("term").cast("long").alias("v_size"))
    tc = train.groupBy(F.col("lang").alias("cand"), "term").agg(
        F.count("*").cast("long").alias("c")
    )
    priors = train.groupBy(F.col("lang").alias("cand2")).agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs")
    )
    ptot = priors.agg(F.sum("n_docs").cast("long").alias("n_all"))

    lnq = F.floor(
        F.log(
            (F.coalesce(F.col("c"), F.lit(0)) + 1).cast("double")
            / (F.col("t_l") + F.col("v_size")).cast("double")
        )
        * 1000000.0
        + F.lit(0.5)
    ).cast("long")
    scored = (
        test.crossJoin(F.broadcast(cls))
        .crossJoin(F.broadcast(v))
        .join(F.broadcast(tc), ["term", "cand"], "left")
        .groupBy("doc_id", "actual", "cand")
        .agg(F.sum(F.col("tf") * lnq).cast("long").alias("ll"))
    )
    prior_lnq = F.floor(
        F.log(F.col("n_docs").cast("double") / F.col("n_all").cast("double"))
        * 1000000.0
        + F.lit(0.5)
    ).cast("long")
    w = Window.partitionBy("doc_id").orderBy(
        (F.col("ll") + prior_lnq).desc(), F.col("cand")
    )
    pred = (
        scored.join(
            F.broadcast(priors), scored.cand == priors.cand2
        )
        .crossJoin(F.broadcast(ptot))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
    )
    return pred.groupBy(
        F.col("actual").alias("lang_actual"),
        F.col("cand").alias("lang_pred"),
    ).agg(F.count("*").cast("long").alias("n_docs"))


# --- KMeans under the contract pattern (4th MLlib surface) -------------------
# Same driver-checkable shape as the RF/ALS contracts: the oracle
# recomputes everything SQL can see (corpus size, the configured k and
# dimensionality as shared literals) and the model side contributes
# BOOLEAN invariants robust to float drift across partitionings — every
# vector assigned, all k clusters non-empty, per-vector inertia under a
# generous floor (observed ~0.93 on the fixture embeddings at both SFs;
# floor 1.2).  Seeded MLlib KMeans is deterministic for a fixed
# partitioning but its centroid means are float sums across partitions,
# so VALUE-level centroids stay out of the contract (the same reasoning
# as the RF probability exclusion, registry.ROWS_ONLY_FINAL).

_KMEANS_K = 8
_KMEANS_DIM = 64
_KMEANS_INERTIA_FLOOR = 1.2

_KMEANS_CONTRACT_SQL = f"""
SELECT CAST(count(*) AS BIGINT) AS n_vectors,
       CAST({_KMEANS_K} AS BIGINT) AS k,
       CAST({_KMEANS_DIM} AS BIGINT) AS dim,
       CAST(TRUE AS BOOLEAN) AS assignments_complete,
       CAST(TRUE AS BOOLEAN) AS all_clusters_used,
       CAST(TRUE AS BOOLEAN) AS inertia_per_vec_below_floor
FROM embeddings
"""


@query(
    "ml_kmeans_quality_contract",
    sql=_KMEANS_CONTRACT_SQL,
    tags=("ml", "clustering", "contract"),
)
def ml_kmeans_quality_contract(spark, sf_dir):
    """MLlib KMeans over the embeddings under the contract pattern — see
    block comment."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from ..sources import read_table

    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        array_to_vector(F.col("embedding").cast("array<double>")).alias(
            "features"
        ),
    )
    n = emb.count()
    model = KMeans(
        k=_KMEANS_K, maxIter=10, seed=42, featuresCol="features"
    ).fit(emb)
    preds = model.transform(emb)
    n_assigned = preds.where(F.col("prediction").isNotNull()).count()
    k_used = preds.select("prediction").distinct().count()
    per_vec = model.summary.trainingCost / n if n else 0.0
    dim = len(model.clusterCenters()[0])
    return spark.range(1).select(
        F.lit(n).cast("long").alias("n_vectors"),
        F.lit(_KMEANS_K).cast("long").alias("k"),
        F.lit(dim).cast("long").alias("dim"),
        F.lit(bool(n_assigned == n)).alias("assignments_complete"),
        F.lit(bool(k_used == _KMEANS_K)).alias("all_clusters_used"),
        F.lit(bool(per_vec < _KMEANS_INERTIA_FLOOR)).alias(
            "inertia_per_vec_below_floor"
        ),
    )


# --- logistic regression under the contract pattern (5th MLlib surface) -----
# Same shape as the RF contract, but on a target the fixture makes
# genuinely TWO-class: "early converter" = first purchase within the
# user's first 5 events (the flagship label is single-class here — every
# user eventually purchases — which drives an unregularized-intercept fit
# to +inf; a real two-class target lets the contract assert the
# divergence check production LR gates on: every coefficient finite).
# LR is the 100 TB baseline classifier — one aggregation pass per LBFGS
# iteration, no per-tree shuffles.  The oracle recomputes the exact
# label-table shape; floors 0.90 (measured AUC 1.0 / acc 0.97 at sf0.01,
# 1.0/1.0 at sf0.001 — pre-conversion feature counts separate early
# converters structurally: their kept history is <= 5 events).

_LOGREG_MAX_ITER = 50
_EARLY_K = 5

_LOGREG_CONTRACT_SQL = f"""
WITH pos AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
),
lab AS (
  SELECT user_id,
         CAST(max(CASE WHEN event_type = \'purchase\' AND rn <= {_EARLY_K}
                       THEN 1 ELSE 0 END) AS BIGINT) AS label
  FROM pos GROUP BY user_id
)
SELECT CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(label) AS BIGINT) AS n_positive,
       CAST({_LOGREG_MAX_ITER} AS BIGINT) AS max_iter,
       CAST(8 AS BIGINT) AS n_features,
       CAST(TRUE AS BOOLEAN) AS auc_ge_090,
       CAST(TRUE AS BOOLEAN) AS accuracy_ge_090,
       CAST(TRUE AS BOOLEAN) AS coefficients_finite,
       CAST(TRUE AS BOOLEAN) AS split_nonempty
FROM lab
"""


@query(
    "ml_logreg_quality_contract",
    sql=_LOGREG_CONTRACT_SQL,
    tags=("ml", "contract"),
)
def ml_logreg_quality_contract(spark, sf_dir):
    """Logistic-regression quality contract on the early-converter
    target — see block comment."""
    import math

    from pyspark.ml.classification import LogisticRegression
    from pyspark.sql import Window

    from ..ml.intent import FEATURES, build_feature_table, fit_and_evaluate
    from ..sources import read_table

    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # lab feeds both the training-feature join and the final contract
    # aggregate — cached so the events rank window runs once
    lab = (
        ev.withColumn("rn", F.row_number().over(w))
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("rn") <= _EARLY_K),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("label")
        )
    ).cache()
    # the join is cached because the trainer never caches its input: the
    # split's train side (fit) and test side (evaluate) materialize at
    # different actions and would each re-run the feature pipeline
    feats = (
        build_feature_table(spark, sf_dir)
        .drop("label")
        .join(lab, "user_id")
        .cache()
    )
    lr = LogisticRegression(maxIter=_LOGREG_MAX_ITER, regParam=0.01)
    model, m, train, pred = fit_and_evaluate(feats, lr)
    coefs = list(model.coefficients) + [model.intercept]
    finite = all(math.isfinite(c) for c in coefs)
    return lab.agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum("label").cast("long").alias("n_positive"),
        F.lit(_LOGREG_MAX_ITER).cast("long").alias("max_iter"),
        F.lit(len(FEATURES)).cast("long").alias("n_features"),
        F.lit(bool(m["auc"] >= 0.90)).alias("auc_ge_090"),
        F.lit(bool(m["accuracy"] >= 0.90)).alias("accuracy_ge_090"),
        F.lit(bool(finite)).alias("coefficients_finite"),
        F.lit(train.count() > 0 and pred.count() > 0).alias("split_nonempty"),
    )
