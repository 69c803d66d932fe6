"""``clickstream_batch``: the reference's headline batch job, end to end.

Each iteration calls ``plans.clickstream.run_preprocessing`` (CSV scan and
parse → first-purchase window → leakage cutoff → session aggregate →
parquet write) and then ``run_training`` (undersample → random forest →
four metrics) on a seeded Kaggle-shaped CSV.  At the size a short run
allows, preprocessing is mostly scan, shuffle and write task time, so gains
in ``sources`` and ``operators`` show in it; training is mostly per-job
driver cost (the forest runs many small jobs), so gains in scheduling and
``ml`` driver code show in it more than kernel gains do.
"""

from __future__ import annotations

import os
import shutil
import time

from . import gen
from .harness import fresh_dir

N_SESSIONS = 50_000          # ≈ 325 k events, ≈ 30 MB of CSV
WARMUP_ITERATIONS = 1
MIN_ITERATIONS = 2
# Floors for the four model metrics on this generator's data; the seeded
# values sit well above them (see README.md).
METRIC_FLOORS = {"auc": 0.70, "f1": 0.60, "weighted_recall": 0.60, "accuracy": 0.60}
FLOAT_RTOL = 1e-9

_ORACLE_SQL = """
WITH ev AS (
  SELECT user_session, event_type, product_id, price,
         strptime(event_time, '%Y-%m-%d %H:%M:%S UTC') AS ts
  FROM read_csv('{csv}', header = true, all_varchar = false,
                columns = {{'event_time': 'VARCHAR', 'event_type': 'VARCHAR',
                           'product_id': 'BIGINT', 'category_id': 'BIGINT',
                           'category_code': 'VARCHAR', 'brand': 'VARCHAR',
                           'price': 'DOUBLE', 'user_id': 'BIGINT',
                           'user_session': 'VARCHAR'}})
), marked AS (
  SELECT *, min(CASE WHEN event_type = 'purchase' THEN ts END)
              OVER (PARTITION BY user_session) AS first_purchase
  FROM ev
)
SELECT user_session,
       max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS label,
       count(CASE WHEN event_type = 'view' THEN 1 END) AS view_count,
       count(CASE WHEN event_type = 'cart' THEN 1 END) AS cart_count,
       CAST(epoch(max(ts)) - epoch(min(ts)) AS BIGINT) AS session_duration,
       coalesce(avg(price), 0) AS avg_price,
       coalesce(max(price), 0) AS max_price,
       count(DISTINCT product_id) AS unique_items
FROM marked
WHERE first_purchase IS NULL OR ts <= first_purchase
GROUP BY user_session
"""

_EXACT = ("label", "view_count", "cart_count", "session_duration", "unique_items")
_FLOAT = ("avg_price", "max_price")


def features_mismatch(csv: str, features_dir: str) -> str | None:
    """Compare the features parquet with a DuckDB recomputation of the
    reference §1.3 features: equal row counts, an order-insensitive hash of
    the key and integer columns, and float columns within ``FLOAT_RTOL``.
    Returns a description of the first difference, or None."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"CREATE TABLE want AS {_ORACLE_SQL.format(csv=csv)}")
        con.execute(f"CREATE TABLE got AS SELECT * FROM read_parquet('{features_dir}/*.parquet')")
        digest = ("SELECT count(*), bit_xor(hash(user_session, "
                  + ", ".join(f"CAST({c} AS BIGINT)" for c in _EXACT) + ")) FROM {}")
        want, got = (con.execute(digest.format(t)).fetchone() for t in ("want", "got"))
        if want != got:
            return f"rows/hash differ: oracle {want} vs program {got}"
        far = " OR ".join(
            f"abs(w.{c} - g.{c}) > {FLOAT_RTOL} * greatest(abs(w.{c}), 1)" for c in _FLOAT)
        bad = con.execute(
            f"SELECT count(*) FROM want w JOIN got g USING (user_session) WHERE {far}"
        ).fetchone()[0]
        return f"{bad} sessions differ in a float column" if bad else None
    finally:
        con.close()


class Workload:
    name = "clickstream_batch"

    def __init__(self, work: str, seed: int, tracer):
        self.work, self.seed, self.tracer = work, seed, tracer
        self.truth: dict = {}
        self.samples: dict[str, list[float]] = {"preprocess_s": [], "train_s": []}
        self.failures: list[str] = []
        self.attempted = 0

    def prepare(self) -> None:
        inputs = fresh_dir(os.path.join(self.work, "inputs"))
        self.csv = os.path.join(inputs, "clickstream.csv")
        self.truth = gen.clickstream_csv(self.csv, N_SESSIONS, self.seed)

    def _iteration(self, spark, csv: str, out: str) -> tuple[dict, dict, float, float]:
        from big_data_analytics_project_spark.plans import clickstream

        t0 = time.perf_counter()
        with self.tracer.span("plans.clickstream.run_preprocessing"):
            features, stats = clickstream.run_preprocessing(spark, csv, out)
        t1 = time.perf_counter()
        with self.tracer.span("plans.clickstream.run_training"):
            _, metrics = clickstream.run_training(spark, features)
        t2 = time.perf_counter()
        spark.catalog.clearCache()
        return stats, metrics, t1 - t0, t2 - t1

    def warmup(self, spark) -> None:
        out = os.path.join(self.work, "warmup_features")
        for _ in range(WARMUP_ITERATIONS):
            shutil.rmtree(out, ignore_errors=True)
            self._iteration(spark, self.csv, out)
        shutil.rmtree(out, ignore_errors=True)

    def reset(self) -> None:
        self.samples = {"preprocess_s": [], "train_s": []}

    def measure(self, spark, seconds: float) -> None:
        deadline = time.perf_counter() + seconds
        out = os.path.join(self.work, "features")
        done = 0
        while time.perf_counter() < deadline or done < MIN_ITERATIONS:
            shutil.rmtree(out, ignore_errors=True)
            self.attempted += 1
            done += 1
            with self.tracer.span("op"):
                stats, metrics, pre_s, train_s = self._iteration(spark, self.csv, out)
            self.samples["preprocess_s"].append(pre_s)
            self.samples["train_s"].append(train_s)
            self.last_metrics = metrics
            problem = self._check_iteration(stats, metrics)
            if problem:
                self.failures.append(f"iteration {self.attempted}: {problem}")
        self.features_dir = out

    def _check_iteration(self, stats: dict, metrics: dict) -> str | None:
        if stats["n_sessions"] != self.truth["sessions"]:
            return f"n_sessions {stats['n_sessions']} != {self.truth['sessions']}"
        if stats["n_purchase_sessions"] != self.truth["purchase_sessions"]:
            return (f"n_purchase_sessions {stats['n_purchase_sessions']} != "
                    f"{self.truth['purchase_sessions']}")
        low = {k: round(metrics[k], 4) for k, floor in METRIC_FLOORS.items() if metrics[k] < floor}
        return f"model metrics under their floors: {low}" if low else None

    def check(self, spark) -> None:
        """Untimed: the last iteration's features against the DuckDB oracle."""
        problem = features_mismatch(self.csv, self.features_dir)
        if problem:
            self.failures.append(f"features: {problem}")

    def end_to_end(self) -> dict[str, float]:
        from .tracing import median

        pre, train = median(self.samples["preprocess_s"]), median(self.samples["train_s"])
        return {"primary_s": pre, "secondary_s": train,
                "throughput_per_s": self.truth["events"] / (pre + train)}

    def named(self, e2e: dict) -> dict:
        return {"preprocess_s": (e2e["primary_s"], "s"), "train_s": (e2e["secondary_s"], "s"),
                "job_events_per_s": (e2e["throughput_per_s"], "events/s")}

    def report(self) -> dict:
        return {"inputs": {k: self.truth[k] for k in ("events", "sessions", "bytes")},
                "iterations": self.attempted,
                "model_metrics": getattr(self, "last_metrics", None),
                "samples": self.samples}
