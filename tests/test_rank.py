"""distributed_global_rank / ntile_from_rank vs the single-reducer window
functions they replace — equivalence at awkward sizes (n < k, n % k != 0)."""

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Window

from big_data_analytics_project_spark.operators.rank import (
    bucketed_prefix_sum,
    distributed_global_rank,
    inplan_global_rank,
    ntile_from_rank,
    ntile_from_rank_n,
)


@pytest.mark.parametrize("n", [1, 2, 3, 5, 8, 23])
@pytest.mark.parametrize("k", [2, 4, 5])
def test_ntile_matches_window_function(spark, n, k):
    df = spark.createDataFrame(
        [(i, (i * 37) % 11) for i in range(n)], "id long, v long"
    )
    ranked, total = distributed_global_rank(df, ["v", "id"])
    assert total == n
    got = {
        r["id"]: r["q"]
        for r in ranked.select(
            "id", ntile_from_rank(F.col("__rank"), n, k).alias("q")
        ).collect()
    }
    w = Window.orderBy("v", "id")
    want = {
        r["id"]: r["q"]
        for r in df.select("id", F.ntile(k).over(w).alias("q")).collect()
    }
    assert got == want


@pytest.mark.parametrize("div", [1, 7, 100, 10**6])
def test_bucketed_prefix_sum_matches_global_window(spark, div):
    """bucketed_prefix_sum must equal the single-reducer exclusive
    cumulative window for every bucket granularity — including the
    degenerate one-bucket (div larger than the domain) and
    bucket-per-key (div=1) extremes, and empty-prefix first rows."""
    rows = [(i * 13 % 97, (i * 5) % 7 + 1) for i in range(60)]
    # unique keys with gaps, deterministic weights
    df = (
        spark.createDataFrame(rows, "k long, w long")
        .groupBy("k")
        .agg(F.sum("w").alias("w"))
    )
    got = {
        r["k"]: r["c"]
        for r in bucketed_prefix_sum(
            df, "k", "w", F.expr(f"k div {div}"), out_col="c"
        ).collect()
    }
    wref = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, -1)
    want = {
        r["k"]: r["c"]
        for r in df.select(
            "k", F.coalesce(F.sum("w").over(wref), F.lit(0)).alias("c")
        ).collect()
    }
    assert got == want


def test_rank_is_total_and_unique(spark):
    df = spark.createDataFrame([(i, i % 3) for i in range(50)], "id long, v long")
    ranked, n = distributed_global_rank(df, ["v", "id"])
    ranks = [r["__rank"] for r in ranked.collect()]
    assert sorted(ranks) == list(range(1, n + 1))


@pytest.mark.parametrize("n", [0, 1, 3, 8, 997])
def test_inplan_rank_matches_two_pass_operator(spark, n):
    """inplan_global_rank (single action, in-plan offsets + count column)
    must produce the identical rank column as distributed_global_rank,
    with the count riding every row — including heavy ties spanning range
    partitions, a one-row frame, and the empty frame."""
    df = spark.createDataFrame(
        [((i * 37) % 5, i) for i in range(n)], "v long, id long"
    ).repartition(7)
    got = {
        r["id"]: (r["r"], r["__n"])
        for r in inplan_global_rank(df, ["v", "id"], "r", n_col="__n").collect()
    }
    if n == 0:
        assert got == {}
        return
    ranked, total = distributed_global_rank(df, ["v", "id"], "r")
    want = {r["id"]: (r["r"], total) for r in ranked.collect()}
    assert got == want


@pytest.mark.parametrize("n", [1, 2, 5, 23, 101])
@pytest.mark.parametrize("k", [3, 4, 10])
def test_ntile_column_n_matches_int_n(spark, n, k):
    """ntile_from_rank_n (count as a Column) is bit-equal to the int-n
    form across awkward sizes, including n < k (the base == 0 branch,
    where the division by base must short-circuit, not error)."""
    df = spark.range(1, n + 1).select(
        F.col("id").alias("r"), F.lit(n).cast("long").alias("nn")
    )
    rows = df.select(
        "r",
        ntile_from_rank(F.col("r"), n, k).alias("a"),
        ntile_from_rank_n(F.col("r"), F.col("nn"), k).alias("b"),
    ).collect()
    assert all(r["a"] == r["b"] for r in rows)


def test_inplan_rank_single_range_exchange(spark):
    """Consistency pin: both consumers of the range-partitioned
    intermediate (offsets subtree + rank window) must read ONE
    materialization — the sampling-based partitioner then runs exactly
    once per execution.  Since r17 the pin is a lazy localCheckpoint
    (GC-collectable, unlike the r16 SQL persist — ADVICE r16), so the
    downstream plan reads ``Scan ExistingRDD`` in both branches and
    contains NO range exchange at all (the range partitioner lives
    inside the checkpointed RDD's lineage and can only run at its single
    materialization).  The offsets and the total fold through a bounded
    broadcast join over the ≤defaultParallelism per-partition counts, so
    the plan has no ``Exchange SinglePartition`` anywhere — neither over
    data rows nor over the count rows (the same rule the rank-consumer
    plan pins in test_plan_pins.py and test_semantics.py enforce)."""
    df = spark.createDataFrame(
        [((i * 13) % 17, i) for i in range(500)], "v long, id long"
    )
    out = inplan_global_rank(df, ["v", "id"], "r", n_col="__n")
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    # AQE's toString appends the pre-execution "Initial Plan" — assert on
    # the final adaptive plan only
    plan = plan.split("== Initial Plan ==")[0]
    assert plan.count("Scan ExistingRDD") >= 2, plan
    assert "rangepartitioning" not in plan.lower(), plan
    assert "Exchange SinglePartition" not in plan, plan
