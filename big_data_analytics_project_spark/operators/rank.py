"""Distributed global rank — the scale-safe replacement for
``Window.orderBy(...)`` with no partition key.

A global window funnels the whole dataset through ONE reducer; this is
the classic two-pass alternative (the same shape ``zipWithIndex`` used in
the RDD era, restated on DataFrames):

1. ``repartitionByRange`` on the sort key (sampling-based range
   partitioner — the same mechanism as a distributed ``orderBy``), then
   ``row_number`` WITHIN each range partition: parallel per-partition
   sorts, no single-reducer stage;
2. per-partition counts → cumulative offsets (a partition-count-sized
   driver array — the only ``collect`` — broadcast back) turn local row
   numbers into global ranks.

The range partitioning is materialized ONCE (``reliable_pin``):
repartitionByRange samples to pick boundaries, so re-executing it in the
counts job and the ranks job could yield different partitions and corrupt
the offsets — exactly the nondeterministically-partitioned-intermediate
case ``reliable_pin`` exists for.  Under a local master this is the same
``localCheckpoint`` as before (cost-identical); on a cluster the pin goes
to reliable warehouse scratch so a single executor loss mid-rank is a
task retry, not a job kill.  The two-pass algorithm inherently reads the
partitioned data twice, so this persist is the algorithm's working set,
not overhead.

Callers must order by a UNIQUE compound (tie-break on an id) — ranks are
then total and engine-independent.  Used by ``window_distribution``
(ntile/percent_rank/cume_dist vs the oracle's window functions) and the
RFM segmentation's three metric quintiles.
"""

from __future__ import annotations

from typing import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from ..sources.sinks import reliable_pin


def distributed_global_rank(
    df: DataFrame,
    cols: Sequence[str],
    rank_col: str = "__rank",
    *,
    force_reliable: bool = False,
) -> tuple[DataFrame, int]:
    """(df + 1-based global ``rank_col`` over the unique ordering ``cols``,
    total row count).  ``force_reliable`` exercises ``reliable_pin``'s
    cluster branch under a local master (test hook)."""
    spark = df.sparkSession
    parts = spark.sparkContext.defaultParallelism
    ranged = reliable_pin(
        df.repartitionByRange(parts, *cols), force_reliable=force_reliable
    ).withColumn("__pid", F.spark_partition_id())
    wp = Window.partitionBy("__pid").orderBy(*cols)
    local = ranged.withColumn("__rn", F.row_number().over(wp))
    sizes = sorted(
        (r["__pid"], r["cnt"])
        for r in ranged.groupBy("__pid").agg(F.count("*").alias("cnt")).collect()
    )
    n = sum(cnt for _, cnt in sizes)
    offsets, acc = [], 0
    for pid, cnt in sizes:
        offsets.append((pid, acc))
        acc += cnt
    off = F.broadcast(spark.createDataFrame(offsets, "__pid int, __off long"))
    out = (
        local.join(off, "__pid")
        .withColumn(rank_col, (F.col("__rn") + F.col("__off")).cast("long"))
        .drop("__pid", "__rn", "__off")
    )
    return out, n


def inplan_global_rank(
    df: DataFrame,
    cols: Sequence[str],
    rank_col: str = "__rank",
    n_col: str | None = None,
) -> DataFrame:
    """df + 1-based global ``rank_col`` over the unique ordering ``cols``,
    computed in ONE Spark action — the zero-extra-action successor of
    :func:`distributed_global_rank` for callers that can consume the total
    row count as a COLUMN (``n_col``) instead of a driver-side int.

    Same two-level algorithm (range partition → per-partition
    ``row_number`` → cross-partition offset fix-up), with both extra
    driver actions removed (guide §5.2 — the driver should do no data
    work; each removed action is a full job round-trip):

    - the range-partitioned intermediate is pinned with a LAZY
      ``localCheckpoint(eager=False)`` and read by the offsets subtree
      and the rank window inside one physical plan: both consumers
      reference the SAME checkpointed RDD, so it materializes once
      (during the action's own broadcast-build job), the sampling-based
      range partitioner runs exactly once, and both consumers see
      identical partitioning — the consistency
      ``distributed_global_rank`` buys with an eager ``reliable_pin``
      action, obtained here lazily.  Unlike the r16 SQL ``persist()``
      (which the CacheManager holds until an explicit unpersist — a
      corpus-sized cache entry leaked per invocation in a long-lived
      session, ADVICE r16), the RDD-level pin is released by the
      context cleaner once the returned frame is garbage-collected.
      On a cluster a lost executor after truncation fails the job (the
      ``reliable_pin`` trade-off documented there); rank callers are
      single-action queries where a retry re-runs the whole plan.
    - per-partition counts fold into exclusive offsets (and the total)
      through ONE bounded broadcast join over the ≤``defaultParallelism``
      per-partition counts (≤ parts² joined ROWS, never data) — no
      ``Exchange SinglePartition`` anywhere, no driver ``collect``, no
      ``createDataFrame`` round-trip.  A running-sum window over the
      counts would need a partitionless ``Window.orderBy``, i.e. exactly
      the single-reducer exchange this operator exists to avoid.

    Callers must order by a UNIQUE compound (tie-break on an id), as with
    ``distributed_global_rank``.
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


def ntile_from_rank(rank: Column, n: int, k: int) -> Column:
    """SQL ``ntile(k)`` from a 1-based global rank with ``n`` total rows:
    the standard base/remainder bucket-size rule, bit-identical to the
    window function (first ``n mod k`` buckets get ``base+1`` rows)."""
    base, rem = divmod(n, k)
    if base == 0:
        return rank.cast("long")
    return (
        F.when(rank <= rem * (base + 1), (rank - 1) / (base + 1))
        .otherwise(rem + (rank - rem * (base + 1) - 1) / base)
        .cast("long")
        + 1
    )


def ntile_from_rank_n(rank: Column, n: Column, k: int) -> Column:
    """:func:`ntile_from_rank` with the total row count as a COLUMN (from
    ``inplan_global_rank``'s ``n_col``) — the identical base/remainder
    rule with the identical double-division + truncation arithmetic, so
    every rank's bucket is bit-equal to the int-``n`` form (the operands
    are the same exact integers; IEEE division and the long cast agree).
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
    ordering ``cols`` — the weighted sibling of
    ``distributed_global_rank`` (same two-pass shape: range partition →
    local running sums → broadcast per-partition offsets), replacing a
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
