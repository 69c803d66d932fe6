"""Implicit-feedback ALS recommender (reference M9, rebuilt from spec).

The reference declares an ALS recommender with confidence
``c_ui = 1 + alpha * r_ui`` and reports Recall@10 (Progress_report §3.2),
but the implementation is missing from its repo — this is a from-spec
rebuild on ``pyspark.ml.recommendation.ALS(implicitPrefs=True)``, which
implements exactly that confidence weighting (Hu-Koren-Volinsky).

Interactions on the fixtures: user_id × item (events.props.k as the item
id), strength = interaction count, built by the leave-last-out split per
user (by event time) that Recall@10 is evaluated on.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..sources import read_table


def train_als(
    inter: DataFrame,
    rank: int = 16,
    reg: float = 0.1,
    alpha: float = 10.0,
    max_iter: int = 10,
    seed: int = 42,
):
    from pyspark.ml.recommendation import ALS

    als = ALS(
        userCol="user", itemCol="item", ratingCol="strength",
        implicitPrefs=True, alpha=alpha, rank=rank, regParam=reg,
        maxIter=max_iter, seed=seed, coldStartStrategy="drop",
    )
    return als.fit(inter)


def recall_at_k(model, train: DataFrame, heldout: DataFrame, k: int = 10) -> float:
    """Fraction of held-out (user,item) pairs present in the user's top-k
    recommendations (computed over items unseen in training)."""
    users = heldout.select("user").distinct()
    recs = model.recommendForUserSubset(users, k * 3)
    flat = recs.select(
        "user", F.explode("recommendations").alias("r")
    ).select("user", F.col("r.item").alias("item"), F.col("r.rating").alias("score"))
    seen = train.select("user", "item")
    unseen = flat.join(seen, ["user", "item"], "left_anti")
    from pyspark.sql import Window

    # rank by ALS score (join output order is arbitrary); item id breaks ties
    # deterministically
    w = Window.partitionBy("user").orderBy(F.desc("score"), F.asc("item"))
    topk = unseen.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k)
    hits = heldout.join(topk, ["user", "item"], "inner").count()
    total = heldout.count()
    return hits / total if total else 0.0


def leave_last_out_split(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Per-user leave-last-out split by event time: the most recent event
    of every user is held out; the rest aggregate into training
    interaction strengths.  Returns (train, heldout); train is cached (the
    ALS iterations and the recall evaluation both consume it)."""
    ev = read_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    tagged = ev.withColumn("rn", F.row_number().over(w)).withColumn(
        "item", F.get_json_object("props", "$.k").cast("int")
    )
    held = tagged.where(F.col("rn") == 1).select(
        F.col("user_id").cast("int").alias("user"), "item"
    )
    train = (
        tagged.where(F.col("rn") > 1)
        .groupBy(F.col("user_id").cast("int").alias("user"), F.col("item"))
        .agg(F.count("*").cast("float").alias("strength"))
    ).cache()
    return train, held


def run_als_pipeline(spark: SparkSession, sf_dir: str, k: int = 10) -> dict:
    train, held = leave_last_out_split(spark, sf_dir)
    model = train_als(train)
    r = recall_at_k(model, train, held, k)
    return {"recall_at_k": r, "k": k, "n_users": train.select("user").distinct().count()}
