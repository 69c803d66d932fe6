"""Distributed global rank — the scale-safe replacement for
``Window.orderBy(...)`` with no partition key.

A global window funnels the whole dataset through ONE reducer; this is
the two-level alternative (the same shape ``zipWithIndex`` used in the
RDD era, restated on DataFrames), all inside one physical plan:

1. ``repartitionByRange`` on the sort key (sampling-based range
   partitioner — the same mechanism as a distributed ``orderBy``), then
   ``row_number`` WITHIN each range partition: parallel per-partition
   sorts, no single-reducer stage;
2. per-partition counts fold into exclusive offsets through a bounded
   broadcast join over the per-partition count rows, which turn local
   row numbers into global ranks.

Both consumers of the range-partitioned rows (the counts and the rank
window) must see the SAME partitioning, or the offsets would not match
the local row numbers.  ``repartitionByRange`` samples its bounds, so two
executions of it can partition differently; the intermediate is therefore
pinned once (see :func:`inplan_global_rank`).

Callers must order by a UNIQUE compound (tie-break on an id) — ranks are
then total and engine-independent.  Used by ``window_distribution``
(ntile/percent_rank/cume_dist vs the oracle's window functions), the RFM
segmentation's three metric quintiles, and the decile, share and
latency-percentile queries in ``plans/``.
"""
from __future__ import annotations

from typing import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from ..sources.sinks import reliable_pin


def inplan_global_rank(
    df: DataFrame,
    cols: Sequence[str],
    rank_col: str = "__rank",
    n_col: str | None = None,
) -> DataFrame:
    """df + 1-based global ``rank_col`` over the unique ordering ``cols``,
    computed in ONE Spark action; with ``n_col`` set, the total row count
    rides every row as a column instead of a driver-side int.

    - the range-partitioned intermediate is pinned with a LAZY
      ``localCheckpoint(eager=False)`` and read by the offsets subtree
      and the rank window inside one physical plan: both consumers
      reference the SAME checkpointed RDD, so it materializes once
      (during the action's own broadcast-build job), the sampling-based
      range partitioner runs exactly once, and both consumers see
      identical partitioning.  Exchange reuse cannot stand in for the
      pin once the frame carries columns beyond the sort keys: the counts
      read only the keys, so column pruning gives them a narrower range
      exchange than the rank window's, Spark plans it separately, and its
      bounds come from a second sample.  Unlike a SQL ``persist()``
      (which the CacheManager holds until an explicit unpersist — one
      corpus-sized cache entry per invocation in a long-lived session),
      the RDD-level pin is released by the context cleaner once the
      returned frame is garbage-collected.  On a cluster a lost executor
      after truncation fails the job (the
      ``reliable_pin`` trade-off documented there); rank callers are
      single-action queries where a retry re-runs the whole plan.
    - per-partition counts fold into exclusive offsets (and the total)
      through ONE bounded broadcast join over the ≤``defaultParallelism``
      per-partition counts (≤ parts² joined ROWS, never data) — no
      ``Exchange SinglePartition`` anywhere, no driver ``collect``, no
      ``createDataFrame`` round-trip.  A running-sum window over the
      counts would need a partitionless ``Window.orderBy``, i.e. exactly
      the single-reducer exchange this operator exists to avoid.

    Callers must order by a UNIQUE compound (tie-break on an id).
    """
    spark = df.sparkSession
    parts = spark.sparkContext.defaultParallelism
    pinned = (
        df.repartitionByRange(parts, *cols)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    counts = pinned.groupBy("__pid").agg(F.count("*").alias("__cnt"))
    other = counts.select(
        F.col("__pid").alias("__pid_b"), F.col("__cnt").alias("__cnt_b")
    )
    off_aggs = [
        F.coalesce(
            F.sum(F.when(F.col("__pid_b") < F.col("__pid"), F.col("__cnt_b"))),
            F.lit(0),
        )
        .cast("long")
        .alias("__off")
    ]
    if n_col is not None:
        off_aggs.append(F.sum("__cnt_b").cast("long").alias(n_col))
    off = (
        counts.join(F.broadcast(other), F.lit(True))
        .groupBy("__pid")
        .agg(*off_aggs)
    )
    wp = Window.partitionBy("__pid").orderBy(*cols)
    return (
        pinned.withColumn("__rn", F.row_number().over(wp))
        .join(F.broadcast(off), "__pid")
        .withColumn(rank_col, (F.col("__rn") + F.col("__off")).cast("long"))
        .drop("__pid", "__rn", "__off")
    )


def ntile_from_rank_n(rank: Column, n: Column, k: int) -> Column:
    """SQL ``ntile(k)`` from a 1-based global rank, with the total row
    count ``n`` as a COLUMN (from ``inplan_global_rank``'s ``n_col``): the
    standard base/remainder bucket-size rule, bit-identical to the window
    function (first ``n mod k`` buckets get ``base+1`` rows).
    The ``base == 0`` branch short-circuits per row, so the divisions by
    ``base`` are never evaluated when it is zero."""
    base = F.floor(n / k).cast("long")
    rem = (n - base * k).cast("long")
    bucketed = (
        F.when(rank <= rem * (base + 1), (rank - 1) / (base + 1))
        .otherwise(rem + (rank - rem * (base + 1) - 1) / base)
        .cast("long")
        + 1
    )
    return F.when(base == 0, rank.cast("long")).otherwise(
        bucketed.cast("long")
    )


def bucketed_prefix_sum(
    df: DataFrame,
    key: str,
    weight_col: str,
    bucket: Column,
    out_col: str = "__cum",
) -> DataFrame:
    """df + EXCLUSIVE prefix sum of ``weight_col`` over the unique
    ordering ``key`` — the zero-action sibling of
    ``distributed_prefix_sum`` for keys whose bucketing is known
    statically.  ``bucket`` must be a DETERMINISTIC expression of
    ``key`` that is monotone non-decreasing in ``key`` and has a
    BOUNDED number of distinct values (caller-guaranteed domain
    knowledge, e.g. ``key div C`` over a domain-capped integer key).

    Two-level decomposition, all inside ONE physical plan: per-bucket
    weight totals fold into exclusive bucket offsets through a
    bucket-count-sized window (single task over a bounded-cardinality
    table — the same argument that makes a 50-row window scale-safe),
    and the within-bucket exclusive running sum runs under
    ``Window.partitionBy(bucket)`` (distributed across buckets).
    ``distributed_prefix_sum`` needs a sampling job
    (``repartitionByRange``), a ``reliable_pin`` materialization and a
    driver ``collect`` — three extra Spark actions whose results this
    formulation derives in-plan; prefer it whenever a monotone bounded
    bucketing of the key's domain exists."""
    b = df.withColumn("__bkt", bucket)
    tot = b.groupBy("__bkt").agg(
        F.sum(weight_col).cast("long").alias("__bw")
    )
    wb = Window.orderBy("__bkt").rowsBetween(Window.unboundedPreceding, -1)
    off = tot.select(
        "__bkt",
        F.coalesce(F.sum("__bw").over(wb), F.lit(0)).cast("long").alias("__boff"),
    )
    ww = (
        Window.partitionBy("__bkt")
        .orderBy(key)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        b.join(F.broadcast(off), "__bkt")
        .withColumn(
            out_col,
            (
                F.col("__boff")
                + F.coalesce(F.sum(weight_col).over(ww), F.lit(0))
            ).cast("long"),
        )
        .drop("__bkt", "__boff")
    )


def distributed_prefix_sum(
    df: DataFrame,
    cols: Sequence[str],
    weight_col: str,
    out_col: str = "__cum",
    *,
    force_reliable: bool = False,
) -> DataFrame:
    """df + EXCLUSIVE prefix sum of ``weight_col`` over the unique
    ordering ``cols`` — the weighted sibling of :func:`inplan_global_rank`
    (range partition → local running sums → broadcast per-partition
    offsets, here through an eager pin and a driver collect), replacing a
    partitionless cumulative window that would funnel every row through
    one reducer.  Callers must order by a UNIQUE compound; ``weight_col``
    must be integral (offsets stay exact BIGINTs)."""
    spark = df.sparkSession
    parts = spark.sparkContext.defaultParallelism
    ranged = reliable_pin(
        df.repartitionByRange(parts, *cols), force_reliable=force_reliable
    ).withColumn("__pid", F.spark_partition_id())
    wp = (
        Window.partitionBy("__pid")
        .orderBy(*cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = ranged.withColumn(
        "__rn", F.coalesce(F.sum(weight_col).over(wp), F.lit(0)).cast("long")
    )
    sizes = sorted(
        (r["__pid"], r["w"] or 0)
        for r in ranged.groupBy("__pid")
        .agg(F.sum(weight_col).alias("w"))
        .collect()
    )
    offsets, acc = [], 0
    for pid, wsum in sizes:
        offsets.append((pid, acc))
        acc += wsum
    off = F.broadcast(
        spark.createDataFrame(offsets, "__pid int, __off long")
    )
    return (
        local.join(off, "__pid")
        .withColumn(out_col, (F.col("__rn") + F.col("__off")).cast("long"))
        .drop("__pid", "__rn", "__off")
    )
