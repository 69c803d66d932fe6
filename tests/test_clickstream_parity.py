"""End-to-end test of the reference-parity clickstream pipeline on a
synthetic reference-shaped CSV (string timestamps with ' UTC' suffix, null
dims, post-purchase events, timestamp ties — the generation constraints
from FIXTURES §A1)."""

import csv
import random

import pyspark.sql.functions as F

from big_data_analytics_project_spark.plans.clickstream import (
    run_preprocessing,
    run_training,
)
from big_data_analytics_project_spark.sources.sinks import read_parquet
from conftest import _jobs_submitted


def _make_csv(path: str, n_sessions: int = 200, seed: int = 7) -> dict:
    rng = random.Random(seed)
    header = ["event_time", "event_type", "product_id", "category_id",
              "category_code", "brand", "price", "user_id", "user_session"]
    n_purchasing = 0
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(header)
        for s in range(n_sessions):
            sid = f"sess-{s:05d}"
            uid = 1000 + s % 50
            base = rng.randrange(0, 3600 * 24)
            n_events = rng.randrange(2, 12)
            purchase_at = rng.randrange(1, n_events) if rng.random() < 0.3 else None
            if purchase_at is not None:
                n_purchasing += 1
            for i in range(n_events):
                t = base + i * 60
                ts = f"2019-10-{1 + t // 86400:02d} {t % 86400 // 3600:02d}:{t % 3600 // 60:02d}:{t % 60:02d} UTC"
                if purchase_at is not None and i == purchase_at:
                    etype = "purchase"
                elif purchase_at is not None and i == purchase_at + 1 and rng.random() < 0.5:
                    etype = "view"  # post-purchase event: must be cut
                    ts_tie = ts
                else:
                    etype = rng.choice(["view", "view", "view", "cart"])
                w.writerow([
                    ts, etype, rng.randrange(100, 120),
                    rng.randrange(1, 5) if rng.random() > 0.2 else "",
                    "" if rng.random() < 0.3 else "electronics.phone",
                    "" if rng.random() < 0.3 else "acme",
                    round(rng.uniform(1, 500), 2), uid, sid,
                ])
    return {"n_sessions": n_sessions, "n_purchasing": n_purchasing}


def test_preprocessing_parity(spark, tmp_path):
    csv_path = str(tmp_path / "clickstream.csv")
    out_path = str(tmp_path / "features.parquet")
    truth = _make_csv(csv_path)
    features, stats = run_preprocessing(spark, csv_path, out_path)

    assert stats["n_sessions"] == truth["n_sessions"]
    assert stats["n_purchase_sessions"] == truth["n_purchasing"]

    # schema parity with the reference gold table (SURVEY §1.3)
    assert set(features.columns) == {
        "user_session", "label", "view_count", "cart_count",
        "session_duration", "avg_price", "max_price", "unique_items",
    }
    # leakage rule: no purchase session may count events after its first
    # purchase; durations are real (parsed timestamps), non-negative
    assert features.where(F.col("session_duration") < 0).count() == 0
    # round-trip through the parquet sink
    back = read_parquet(spark, out_path)
    assert back.count() == truth["n_sessions"]

    # labels match purchase presence exactly
    lab = dict(features.select("user_session", "label").collect())
    assert sum(lab.values()) == truth["n_purchasing"]


def test_leakage_cutoff_blocks_post_purchase_events(spark, tmp_path):
    """A session whose only 'view' is after the purchase must have
    view_count 0 (strictly-after events cut; at-tie events kept)."""
    csv_path = str(tmp_path / "tiny.csv")
    rows = [
        ["2019-10-01 10:00:00 UTC", "view", 1, 1, "c", "b", 10.0, 1, "s1"],
        ["2019-10-01 10:01:00 UTC", "purchase", 1, 1, "c", "b", 10.0, 1, "s1"],
        ["2019-10-01 10:01:00 UTC", "view", 2, 1, "c", "b", 10.0, 1, "s1"],  # tie: kept
        ["2019-10-01 10:02:00 UTC", "view", 3, 1, "c", "b", 10.0, 1, "s1"],  # late: cut
    ]
    with open(csv_path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["event_time", "event_type", "product_id", "category_id",
                    "category_code", "brand", "price", "user_id", "user_session"])
        w.writerows(rows)
    features, _ = run_preprocessing(spark, csv_path)
    row = features.where(F.col("user_session") == "s1").first()
    assert row.label == 1
    assert row.view_count == 2  # pre-purchase view + tie view, not the late one
    assert row.session_duration == 60  # 10:00 → 10:01 after cutoff
    assert row.unique_items == 2


def test_unparseable_event_time_reads_as_null(spark, tmp_path):
    """A row whose event_time does not parse reads as a null timestamp, as
    the reference's Spark 3 did, instead of failing preprocessing under
    ANSI mode; the other rows parse as before."""
    from big_data_analytics_project_spark.sources.readers import (
        read_clickstream_csv,
    )

    csv_path = str(tmp_path / "clickstream.csv")
    truth = _make_csv(csv_path, n_sessions=50)
    clean = sorted(read_clickstream_csv(spark, csv_path).collect())
    with open(csv_path, "a", newline="") as f:
        csv.writer(f).writerow(
            ["not a time", "view", 1, 1, "c", "b", 10.0, 1, "sess-bad"])
    events = read_clickstream_csv(spark, csv_path)
    bad = events.where(F.col("event_time").isNull()).collect()
    assert [r.user_session for r in bad] == ["sess-bad"]
    assert sorted(events.where(F.col("event_time").isNotNull()).collect()) == clean
    _, stats = run_preprocessing(spark, csv_path)
    assert stats["n_purchase_sessions"] == truth["n_purchasing"]


def test_training_on_synthetic(spark, tmp_path):
    """Drift floors on the clickstream-shaped fixture path (reference
    baseline: AUC 0.9276 on the real 42M-event dataset, BASELINE.md —
    this 300-session synthetic fixture is small and noise-dominant, so
    the pinned floors sit just under the SEEDED values this pipeline
    reproduces with pinned partitioning: AUC 0.6380 / F1 0.5444 at
    trees=5 depth=3.  A drop below the floor means the feature
    construction, split, or RF wiring drifted — everything is seeded and
    partition-pinned, so this is deterministic, not flaky."""
    csv_path = str(tmp_path / "clickstream.csv")
    _make_csv(csv_path, n_sessions=300)
    features, _ = run_preprocessing(spark, csv_path)
    # randomSplit is seeded PER PARTITION: the split (and thus the
    # metrics) is only reproducible if partitioning and row order are
    # pinned first — otherwise the floor would flake across session confs
    features = features.coalesce(1).sortWithinPartitions("user_session")
    _, metrics = run_training(spark, features, num_trees=5, max_depth=3)
    assert 0.0 <= metrics["auc"] <= 1.0
    assert all(k in metrics for k in ("f1", "weighted_recall", "accuracy"))
    assert metrics["auc"] >= 0.63, metrics
    assert metrics["f1"] >= 0.54, metrics


def test_stats_and_class_counts_take_one_aggregate_each(spark, tmp_path):
    """The preprocessing stats (session and purchase counts) and the
    undersampling class counts each cost the jobs of ONE aggregate over
    their frame — one shared pass, not one count action per figure."""
    from big_data_analytics_project_spark.ml.intent import undersample
    from big_data_analytics_project_spark.plans.clickstream import (
        engineer_session_features,
    )
    from big_data_analytics_project_spark.sources.readers import (
        read_clickstream_csv,
    )

    csv_path = str(tmp_path / "clickstream.csv")
    _make_csv(csv_path)
    spark.catalog.clearCache()

    # preprocessing: the first aggregate over the freshly cached features
    # also materializes the cache, so the baseline is a one-aggregate
    # first action over the same (separately cached) frame
    def one_pass():
        feats = engineer_session_features(read_clickstream_csv(spark, csv_path))
        feats.cache().agg(F.count("*")).collect()

    baseline = _jobs_submitted(spark, "one_pass_features", one_pass)
    spark.catalog.clearCache()
    holder = {}
    stats_jobs = _jobs_submitted(
        spark, "run_preprocessing",
        lambda: holder.update(features=run_preprocessing(spark, csv_path)[0]),
    )
    assert stats_jobs == baseline, (stats_jobs, baseline)

    # undersampling over the now-materialized cached features: both class
    # counts from one groupBy(label) aggregate
    features = holder["features"]
    baseline = _jobs_submitted(
        spark, "one_pass_labels",
        lambda: features.groupBy("label").count().collect(),
    )
    sample_jobs = _jobs_submitted(spark, "undersample", lambda: undersample(features))
    assert sample_jobs == baseline, (sample_jobs, baseline)
    spark.catalog.clearCache()
