"""Leakage-free sessionization operators: the first-conversion marker and
cutoff that the clickstream features and the flagship queries build on,
and inactivity-gap session assignment.

Reference semantics (clean-room rebuild, not a copy):
 - first-conversion marker per session via a partition-wide window aggregate
   ``min(when(event_type=conv, ts)).over(Window.partitionBy(key))``
   (reference ``src/spark/preprocessing.py:49-56``, W1/J2 in SURVEY §2) —
   the join-avoiding formulation: one hash exchange on the session key
   feeds BOTH the window and the subsequent groupBy, so Catalyst reuses
   the partitioning instead of shuffling twice.
 - leakage cutoff keeps rows with no conversion OR ts <= first conversion
   (``preprocessing.py:58-61``; the ``<=`` tie rule is load-bearing —
   SURVEY §7.2.4).

Scale notes (100 TB): the single shuffle key (session id) is the only
exchange; skewed sessions are handled by AQE skew-join/partition splitting.
``first_conversion_join`` is the equivalent agg+broadcast-join formulation
(the reference's pandas engine does this, ``src/pandas/pandas_baseline.py:63-68``)
kept for differential testing and for cases where the per-key row count is
so large that window-state memory beats re-shuffling.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def first_conversion_window(
    df: DataFrame,
    key: str,
    ts: str,
    event_type: str = "event_type",
    conversion: str = "purchase",
    out: str = "first_conversion_ts",
) -> DataFrame:
    """Annotate every row with its group's earliest conversion timestamp
    (window formulation — no join, one shuffle)."""
    w = Window.partitionBy(key)
    marker = F.min(F.when(F.col(event_type) == conversion, F.col(ts))).over(w)
    return df.withColumn(out, marker)


def first_conversion_join(
    df: DataFrame,
    key: str,
    ts: str,
    event_type: str = "event_type",
    conversion: str = "purchase",
    out: str = "first_conversion_ts",
) -> DataFrame:
    """Same result as :func:`first_conversion_window` via aggregate + join.

    The aggregate side is tiny relative to the fact side (one row per key),
    so we broadcast it when possible; Catalyst/AQE will pick
    broadcast-hash vs shuffle-hash from runtime size.
    """
    firsts = (
        df.where(F.col(event_type) == conversion)
        .groupBy(key)
        .agg(F.min(ts).alias(out))
    )
    return df.join(F.broadcast(firsts), on=key, how="left")


def leakage_cutoff(df: DataFrame, ts: str, marker: str = "first_conversion_ts") -> DataFrame:
    """Keep rows before-or-at the first conversion; keep all rows of groups
    that never convert.  ``<=`` (not ``<``) so the conversion row itself and
    its timestamp-ties survive — exact reference tie semantics."""
    return df.where(F.col(marker).isNull() | (F.col(ts) <= F.col(marker)))


def gap_sessionize(
    df: DataFrame,
    key: str,
    ts: str,
    gap_sec: int = 1800,
    tiebreak: str | None = None,
    out: str = "session_idx",
) -> DataFrame:
    """Classic inactivity-gap sessionization (the batch mirror of
    Structured Streaming's ``session_window``): within each ``key``, a new
    session starts when the gap to the previous event exceeds ``gap_sec``.

    Two stacked window functions over the SAME (partition, order) spec —
    ``lag`` to detect gaps, running ``sum`` of the new-session flags to
    number sessions 1..n — so Catalyst plans ONE Exchange + one Sort for
    both.  At 100 TB that single hash exchange on the session key is the
    whole cost; no join, no second shuffle.

    ``tiebreak`` (default: none) adds a deterministic secondary sort
    column so equal timestamps order identically across engines — required
    for oracle checking, recommended always.
    """
    order = [F.col(ts)] + ([F.col(tiebreak)] if tiebreak else [])
    w = Window.partitionBy(key).orderBy(*order)
    prev = F.lag(ts).over(w)
    new_session = F.when(
        prev.isNull()
        | ((F.unix_timestamp(F.col(ts)) - F.unix_timestamp(prev)) > gap_sec),
        1,
    ).otherwise(0)
    idx = F.sum(new_session).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(out, idx.cast("long"))
