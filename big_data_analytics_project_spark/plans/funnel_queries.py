"""Ordered-funnel and cohort-retention analytics (clickstream extensions:
the reference's e-commerce domain asks exactly these questions; its own
pipeline stops at per-session conversion labels).

Both are oracle-checked aggregate-of-aggregate chains: every stage is an
equi-join/groupBy on user_id (hash-partitioned once per stage, no windows
over global orderings), so they scale like any keyed aggregation.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from ..registry import query
from ..sources import read_table
from ._duck import hash60

# Stage k's timestamp must be >= stage k-1's (ordered funnel, not mere
# presence): min(view) → first click AT OR AFTER it → first purchase AT OR
# AFTER that.  (The fixture has no 'cart' event type; the original cart
# stage made stages 2-3 structurally zero — round 7 switched the middle
# stage to click so the funnel measures something.)
_FUNNEL_SQL = """
WITH v AS (
  SELECT user_id, min(ts) AS v_ts FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, min(e.ts) AS c_ts
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts >= v.v_ts
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(e.ts) AS p_ts
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= c.c_ts
  GROUP BY e.user_id
)
SELECT 'view' AS stage, (SELECT count(*) FROM v) AS n_users
UNION ALL
SELECT 'view_click', (SELECT count(*) FROM c)
UNION ALL
SELECT 'view_click_purchase', (SELECT count(*) FROM p)
"""


@query("funnel_ordered_stages", sql=_FUNNEL_SQL, tags=("funnel", "clickstream"))
def funnel_ordered_stages(spark, sf_dir):
    """Ordered three-stage funnel (view → click → purchase): a user counts
    at stage k only if stage k's first event is at-or-after stage k-1's —
    presence alone isn't conversion.  Three keyed aggregations chained by
    user_id equi-joins; each stage's filter pushes to its own scan."""
    ev = read_table(spark, sf_dir, "events")

    def first_at_or_after(event_type, prev, prev_ts_col, out_col):
        return (
            ev.where(F.col("event_type") == event_type)
            .join(prev, "user_id")
            .where(F.col("ts") >= F.col(prev_ts_col))
            .groupBy("user_id")
            .agg(F.min("ts").alias(out_col))
        )

    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    c = first_at_or_after("click", v, "v_ts", "c_ts")
    p = first_at_or_after("purchase", c, "c_ts", "p_ts")

    def stage(name, df):
        return df.agg(
            F.lit(name).alias("stage"), F.count("*").alias("n_users")
        )

    return (
        stage("view", v)
        .unionByName(stage("view_click", c))
        .unionByName(stage("view_click_purchase", p))
    )


_COHORT_SQL = """
WITH firsts AS (
  SELECT user_id,
         CAST(min(floor(epoch(ts) / 86400)) AS BIGINT) AS cohort_day
  FROM events GROUP BY user_id
),
activity AS (
  SELECT DISTINCT e.user_id,
         f.cohort_day,
         CAST(floor(epoch(e.ts) / 86400) AS BIGINT) - f.cohort_day AS day_offset
  FROM events e JOIN firsts f ON e.user_id = f.user_id
)
SELECT cohort_day, day_offset, count(*) AS n_active_users
FROM activity
GROUP BY cohort_day, day_offset
"""


@query("cohort_retention_daily", sql=_COHORT_SQL, tags=("cohort", "clickstream"))
def cohort_retention_daily(spark, sf_dir):
    """Daily cohort retention: users grouped by first-seen day, activity
    counted per day offset from that cohort day (the retention-curve
    input).  One aggregation for cohort assignment, one distinct + count
    for the matrix — all keyed on user_id, broadcast-joining the
    driver-sized cohort map at scale."""
    ev = read_table(spark, sf_dir, "events")
    day = (F.floor(F.unix_timestamp("ts") / 86400)).cast("long")
    firsts = ev.groupBy("user_id").agg(F.min(day).alias("cohort_day"))
    activity = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_day",
            (day - F.col("cohort_day")).alias("day_offset"),
        )
        .distinct()
    )
    return activity.groupBy("cohort_day", "day_offset").agg(
        F.count("*").alias("n_active_users")
    )


# Path mining: the per-user event sequence is ordered by (ts, event_id) —
# the event_id tie-break makes the path deterministic even if two events
# share a timestamp — and every consecutive 3-step path is counted.
_PATHS_SQL = """
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type, 1) OVER w AS e2,
         lead(event_type, 2) OVER w AS e3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
paths AS (
  SELECT event_type || '>' || e2 || '>' || e3 AS path
  FROM seq WHERE e3 IS NOT NULL
),
counted AS (
  SELECT path, count(*) AS n_occurrences FROM paths GROUP BY path
),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY n_occurrences DESC, path) AS rank
  FROM counted
)
SELECT path, n_occurrences, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 20
"""


@query("path_common_journeys", sql=_PATHS_SQL, tags=("funnel", "path", "window"))
def path_common_journeys(spark, sf_dir):
    """Clickstream path mining: the top-20 most common 3-step event paths
    (`view>cart>purchase`, ...) across all users — the journey-analysis
    question the reference's e-commerce domain asks beyond per-session
    conversion.  Plan: one window shuffle keyed by user (lead ×2 shares a
    single sort), map-side-combined path counts, in-plan TakeOrdered for
    the top-20 (never a global sort).  The (ts, event_id) ordering makes
    the path — and therefore the counts — deterministic under timestamp
    ties."""
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).where(F.col("e3").isNotNull())
    counted = (
        seq.select(
            F.concat_ws(">", "event_type", "e2", "e3").alias("path")
        )
        .groupBy("path")
        .agg(F.count("*").alias("n_occurrences"))
    )
    # orderBy+limit compiles to TakeOrderedAndProject (per-partition heaps,
    # 20-row merge); the row_number window then runs over 20 rows only.
    wr = Window.orderBy(F.desc("n_occurrences"), "path")
    return (
        counted.orderBy(F.desc("n_occurrences"), "path")
        .limit(20)
        .withColumn("rank", F.row_number().over(wr).cast("long"))
    )


# Markov transition matrix: P(next event | current event) over per-user
# event sequences.  The per-src normalizer is an exact BIGINT sum, so the
# probability is ONE double division — IEEE-deterministic, no rounding
# needed (docs/determinism.md "row-level arithmetic").
_TRANSITIONS_SQL = """
WITH seq AS (
  SELECT event_type AS src,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS dst
  FROM events
),
c AS (
  SELECT src, dst, count(*) AS n_transitions
  FROM seq WHERE dst IS NOT NULL GROUP BY src, dst
)
SELECT src, dst, n_transitions,
       CAST(n_transitions AS DOUBLE)
         / sum(n_transitions) OVER (PARTITION BY src) AS p_transition
FROM c
"""


@query(
    "path_transition_matrix",
    sql=_TRANSITIONS_SQL,
    tags=("funnel", "path", "window"),
)
def path_transition_matrix(spark, sf_dir):
    """First-order Markov transition matrix over the clickstream: for each
    (current, next) event-type pair, the transition count and conditional
    probability P(next | current) — the input to journey simulation and
    next-action prediction.  Plan: one window shuffle keyed by user_id for
    the lead(), map-side-combined pair counts (|event_types|² ≤ 25 rows),
    then a window over that tiny aggregate for the per-src normalizer.
    The (ts, event_id) ordering pins sequences under timestamp ties."""
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).where(F.col("dst").isNotNull())
    counted = seq.groupBy("src", "dst").agg(
        F.count("*").alias("n_transitions")
    )
    norm = Window.partitionBy("src")
    return counted.withColumn(
        "p_transition",
        F.col("n_transitions").cast("double")
        / F.sum("n_transitions").over(norm),
    )


# A/B experiment readout: variants assigned by the engine-portable hash
# (the same user always lands in the same arm, on any engine/rerun), the
# per-arm conversion rates are single double divisions of exact counts,
# and only the z-score's sqrt() is libm-dependent → rounded to 6dp on the
# one output row (docs/determinism.md "transcendentals").
_ABTEST_SQL = f"""
WITH u AS (
  SELECT user_id,
         {hash60("CAST(user_id AS VARCHAR)")} % 2 AS variant,
         CASE WHEN coalesce(sum(CAST(value AS DECIMAL(18,2)))
                    FILTER (event_type = 'purchase'), 0) > 700
              THEN 1 ELSE 0 END AS converted
  FROM events GROUP BY user_id
),
v AS (
  SELECT variant, count(*) AS n_users,
         CAST(sum(converted) AS BIGINT) AS n_conv,
         CAST(sum(converted) AS DOUBLE) / count(*) AS rate
  FROM u GROUP BY variant
)
SELECT a.n_users AS n_users_a, a.n_conv AS n_conv_a, a.rate AS rate_a,
       b.n_users AS n_users_b, b.n_conv AS n_conv_b, b.rate AS rate_b,
       b.rate - a.rate AS lift,
       CASE WHEN a.n_conv + b.n_conv > 0
             AND a.n_conv + b.n_conv < a.n_users + b.n_users
            THEN round((b.rate - a.rate)
                 / sqrt((CAST(a.n_conv + b.n_conv AS DOUBLE)
                         / (a.n_users + b.n_users))
                        * (1.0 - CAST(a.n_conv + b.n_conv AS DOUBLE)
                           / (a.n_users + b.n_users))
                        * (1.0 / a.n_users + 1.0 / b.n_users)), 6)
            ELSE NULL END AS z_score
FROM (SELECT * FROM v WHERE variant = 0) a,
     (SELECT * FROM v WHERE variant = 1) b
"""


@query("abtest_conversion_lift", sql=_ABTEST_SQL, tags=("abtest", "clickstream"))
def abtest_conversion_lift(spark, sf_dir):
    """Two-proportion experiment readout: users hash-assigned to arms
    (deterministic membership — backfills and reruns keep every user in
    the same arm, unlike RNG assignment), conversion = lifetime purchase
    value above a threshold (decimal-exact), per-arm rate, lift,
    and the pooled two-proportion z-score.  Plan: one user-keyed
    aggregation reduces the fact table to one row per user, a two-row
    aggregate per arm, then a driver-sized broadcast cross of the two
    rows.  The 100 TB cost is the single keyed aggregation — everything
    after is constant-size."""
    from ..operators.dedup import md5_hash60

    ev = read_table(spark, sf_dir, "events")
    purchase_total = F.coalesce(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.col("value").cast("decimal(18,2)"),
            )
        ),
        F.lit(0).cast("decimal(18,2)"),
    )
    u = ev.groupBy("user_id").agg(
        F.when(purchase_total > 700, 1).otherwise(0).alias("converted")
    ).select(
        (md5_hash60(F.col("user_id").cast("string")) % 2).alias("variant"),
        "converted",
    )
    v = u.groupBy("variant").agg(
        F.count("*").alias("n_users"),
        F.sum("converted").cast("long").alias("n_conv"),
        (F.sum("converted").cast("double") / F.count("*")).alias("rate"),
    )
    a = v.where(F.col("variant") == 0).select(
        F.col("n_users").alias("n_users_a"),
        F.col("n_conv").alias("n_conv_a"),
        F.col("rate").alias("rate_a"),
    )
    b = v.where(F.col("variant") == 1).select(
        F.col("n_users").alias("n_users_b"),
        F.col("n_conv").alias("n_conv_b"),
        F.col("rate").alias("rate_b"),
    )
    pooled = (F.col("n_conv_a") + F.col("n_conv_b")).cast("double") / (
        F.col("n_users_a") + F.col("n_users_b")
    )
    se = F.sqrt(
        pooled
        * (F.lit(1.0) - pooled)
        * (F.lit(1.0) / F.col("n_users_a") + F.lit(1.0) / F.col("n_users_b"))
    )
    n_conv = F.col("n_conv_a") + F.col("n_conv_b")
    n_all = F.col("n_users_a") + F.col("n_users_b")
    return a.crossJoin(F.broadcast(b)).select(
        "n_users_a", "n_conv_a", "rate_a",
        "n_users_b", "n_conv_b", "rate_b",
        (F.col("rate_b") - F.col("rate_a")).alias("lift"),
        F.when(
            (n_conv > 0) & (n_conv < n_all),
            F.round((F.col("rate_b") - F.col("rate_a")) / se, 6),
        ).alias("z_score"),
    )


# DAU/WAU: exact distinct actives per day and per trailing 7-day window.
# Count-distinct over a SLIDING window has no distributed native form;
# the scalable identity: user u (active on day a) is a weekly-active on
# day d iff a ∈ [d−6, d] ⇔ d ∈ [a, a+6] — so explode each distinct
# (user, day) into its 7 covered days (bounded ×7 map-only fan-out) and
# the sliding distinct becomes a plain keyed count-distinct.
_DAU_WAU_SQL = """
WITH ud AS (
  SELECT DISTINCT user_id,
         CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day
  FROM events
),
dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY day),
cover AS (
  SELECT user_id, day + offs.k AS day
  FROM ud CROSS JOIN (SELECT unnest(range(0, 7)) AS k) offs
),
wau AS (SELECT day, count(DISTINCT user_id) AS wau FROM cover GROUP BY day)
SELECT d.day, d.dau, w.wau,
       CAST(d.dau AS DOUBLE) / w.wau AS stickiness
FROM dau d JOIN wau w ON d.day = w.day
"""


@query("retention_dau_wau", sql=_DAU_WAU_SQL, tags=("retention", "clickstream"))
def retention_dau_wau(spark, sf_dir):
    """Daily and weekly active users with the DAU/WAU stickiness ratio —
    exact distincts, computed scalably: sliding-window count-distinct is
    rewritten as a bounded ×7 covered-day explode of the deduped
    (user, day) pairs, turning it into two plain keyed aggregations
    (never a per-day self-join or a window distinct).  Stickiness is one
    double division of exact counts.  Cost at 100 TB: the (user, day)
    dedup shuffle, then driver-sized aggregates."""
    ev = read_table(spark, sf_dir, "events")
    day = F.floor(F.unix_timestamp("ts") / 86400).cast("long")
    ud = ev.select("user_id", day.alias("day")).distinct()
    dau = ud.groupBy("day").agg(F.count("*").alias("dau"))
    cover = ud.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.col("day") + 6)
        ).alias("day"),
    )
    wau = cover.groupBy("day").agg(
        F.countDistinct("user_id").alias("wau")
    )
    return dau.join(wau, "day").select(
        "day",
        "dau",
        "wau",
        (F.col("dau").cast("double") / F.col("wau")).alias("stickiness"),
    )


# Cohort LTV: cumulative revenue per first-seen-day cohort across day
# offsets.  Daily sums are exact decimals; the running total is a window
# cumsum over the driver-sized (cohort × offset) aggregate, and the
# per-user normalization is one double division.
_LTV_SQL = """
WITH firsts AS (
  SELECT user_id,
         CAST(min(floor(epoch(ts) / 86400)) AS BIGINT) AS cohort_day
  FROM events GROUP BY user_id
),
sized AS (
  SELECT cohort_day, count(*) AS cohort_users FROM firsts GROUP BY cohort_day
),
daily AS (
  SELECT f.cohort_day,
         CAST(floor(epoch(e.ts) / 86400) AS BIGINT) - f.cohort_day
           AS day_offset,
         sum(CAST(e.value AS DECIMAL(18,2))) AS rev
  FROM events e JOIN firsts f ON e.user_id = f.user_id
  WHERE e.event_type = 'purchase'
  GROUP BY 1, 2
)
SELECT d.cohort_day, d.day_offset, s.cohort_users,
       CAST(d.rev AS DOUBLE) AS day_revenue,
       CAST(sum(d.rev) OVER (PARTITION BY d.cohort_day ORDER BY d.day_offset
                             ROWS UNBOUNDED PRECEDING) AS DOUBLE)
         AS cum_revenue,
       CAST(sum(d.rev) OVER (PARTITION BY d.cohort_day ORDER BY d.day_offset
                             ROWS UNBOUNDED PRECEDING) AS DOUBLE)
         / s.cohort_users AS cum_ltv_per_user
FROM daily d JOIN sized s ON d.cohort_day = s.cohort_day
"""


@query("cohort_ltv_curve", sql=_LTV_SQL, tags=("cohort", "clickstream"))
def cohort_ltv_curve(spark, sf_dir):
    """Cohort lifetime-value curves: per first-seen-day cohort, purchase
    revenue by day offset, its running total, and cumulative LTV per
    cohort user — the revenue companion to the retention matrix.  The
    cumsum runs on decimals (exact on both engines) over the tiny
    (cohort × offset) aggregate; the division is one double op.  Cost at
    100 TB: the user-keyed first-seen aggregate + one broadcast-join
    revenue pass."""
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    day = F.floor(F.unix_timestamp("ts") / 86400).cast("long")
    firsts = ev.groupBy("user_id").agg(F.min(day).alias("cohort_day"))
    sized = firsts.groupBy("cohort_day").agg(
        F.count("*").alias("cohort_users")
    )
    daily = (
        ev.where(F.col("event_type") == "purchase")
        .join(firsts, "user_id")
        .groupBy(
            "cohort_day", (day - F.col("cohort_day")).alias("day_offset")
        )
        .agg(F.sum(F.col("value").cast("decimal(18,2)")).alias("rev"))
    )
    w = (
        Window.partitionBy("cohort_day")
        .orderBy("day_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        daily.withColumn("cum", F.sum("rev").over(w))
        .join(F.broadcast(sized), "cohort_day")
        .select(
            "cohort_day",
            "day_offset",
            "cohort_users",
            F.col("rev").cast("double").alias("day_revenue"),
            F.col("cum").cast("double").alias("cum_revenue"),
            (
                F.col("cum").cast("double") / F.col("cohort_users")
            ).alias("cum_ltv_per_user"),
        )
    )


# --- first/last-touch attribution -----------------------------------------
# A purchase's "epoch" = the run of touches since the previous purchase.
# pseq = purchases strictly BEFORE the row (running window count): every
# touch carries the pseq of the purchase it precedes, and purchase #k+1
# itself has pseq=k — so (user_id, pseq) equi-joins each conversion to
# exactly its own touch window.  No range join, no interval explosion.

_ATTR_SQL = """
WITH seq AS (
  SELECT event_id, user_id, event_type, value, ts,
         coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS pseq
  FROM events
),
touches AS (
  SELECT user_id, pseq, event_type,
         row_number() OVER (PARTITION BY user_id, pseq
                            ORDER BY ts, event_id) AS rn,
         count(*) OVER (PARTITION BY user_id, pseq) AS n
  FROM seq WHERE event_type <> 'purchase'
),
conv AS (
  SELECT p.user_id, p.pseq,
         f.event_type AS first_touch, l.event_type AS last_touch,
         CAST(p.value AS DECIMAL(18,2)) AS revenue
  FROM seq p
  JOIN touches f ON p.user_id = f.user_id AND p.pseq = f.pseq AND f.rn = 1
  JOIN touches l ON p.user_id = l.user_id AND p.pseq = l.pseq AND l.rn = l.n
  WHERE p.event_type = 'purchase'
),
fa AS (
  SELECT first_touch AS touch_type, CAST(count(*) AS BIGINT) AS first_touch_conversions,
         sum(revenue) AS fr
  FROM conv GROUP BY first_touch
),
la AS (
  SELECT last_touch AS touch_type, CAST(count(*) AS BIGINT) AS last_touch_conversions,
         sum(revenue) AS lr
  FROM conv GROUP BY last_touch
)
SELECT coalesce(fa.touch_type, la.touch_type) AS touch_type,
       coalesce(first_touch_conversions, 0) AS first_touch_conversions,
       coalesce(last_touch_conversions, 0) AS last_touch_conversions,
       CAST(coalesce(fa.fr, 0) AS DOUBLE) AS first_touch_revenue,
       CAST(coalesce(la.lr, 0) AS DOUBLE) AS last_touch_revenue
FROM fa FULL JOIN la ON fa.touch_type = la.touch_type
"""


@query("attribution_first_last_touch", sql=_ATTR_SQL, tags=("funnel", "attribution"))
def attribution_first_last_touch(spark, sf_dir):
    """Marketing attribution: credit each purchase to the FIRST and LAST
    non-purchase touch in its epoch (the touches since the user's
    previous purchase), reporting conversions and revenue per touch type
    under both models.

    The epoch trick makes this one keyed pass instead of a range join:
    a running window count of prior purchases (pseq) stamps every row,
    so touches and their conversion share an exact (user_id, pseq) key —
    the window ordering is always (ts, event_id)-tie-broken, first/last
    selection is row_number against the partition count, and revenue
    sums as DECIMAL(18,2) with one final double cast.  All shuffles key
    on user_id (the pseq refinement and the epoch join reuse that
    clustering); the two model aggregates are touch-type-sized and meet
    in a FULL JOIN with zero-coalesced measures."""
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = ev.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        "ts",
        F.coalesce(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).over(w_run),
            F.lit(0),
        ).alias("pseq"),
    )
    w_epoch = Window.partitionBy("user_id", "pseq").orderBy("ts", "event_id")
    touches = seq.where(F.col("event_type") != "purchase").select(
        "user_id",
        "pseq",
        "event_type",
        F.row_number().over(w_epoch).alias("rn"),
        F.count("*").over(Window.partitionBy("user_id", "pseq")).alias("n"),
    )
    first = touches.where(F.col("rn") == 1).select(
        "user_id", "pseq", F.col("event_type").alias("first_touch")
    )
    last = touches.where(F.col("rn") == F.col("n")).select(
        "user_id", "pseq", F.col("event_type").alias("last_touch")
    )
    conv = (
        seq.where(F.col("event_type") == "purchase")
        .select(
            "user_id", "pseq", F.col("value").cast("decimal(18,2)").alias("revenue")
        )
        .join(first, ["user_id", "pseq"])
        .join(last, ["user_id", "pseq"])
    )
    fa = conv.groupBy(F.col("first_touch").alias("touch_type")).agg(
        F.count("*").cast("long").alias("first_touch_conversions"),
        F.sum("revenue").alias("fr"),
    )
    la = conv.groupBy(F.col("last_touch").alias("touch_type")).agg(
        F.count("*").cast("long").alias("last_touch_conversions"),
        F.sum("revenue").alias("lr"),
    )
    return (
        fa.join(la, "touch_type", "full_outer")
        .select(
            "touch_type",
            F.coalesce("first_touch_conversions", F.lit(0).cast("long")).alias(
                "first_touch_conversions"
            ),
            F.coalesce("last_touch_conversions", F.lit(0).cast("long")).alias(
                "last_touch_conversions"
            ),
            F.coalesce(F.col("fr").cast("double"), F.lit(0.0)).alias(
                "first_touch_revenue"
            ),
            F.coalesce(F.col("lr").cast("double"), F.lit(0.0)).alias(
                "last_touch_revenue"
            ),
        )
    )


# --- RFM customer segmentation --------------------------------------------

_RFM_SQL = """
WITH p AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
         CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c
  FROM events WHERE event_type = 'purchase'
),
anchor AS (SELECT max(d) AS a FROM p),
u AS (
  SELECT user_id,
         CAST(date_diff('day', max(d), (SELECT a FROM anchor)) AS BIGINT)
           AS recency_days,
         CAST(count(*) AS BIGINT) AS frequency,
         sum(c) AS monetary_cents
  FROM p GROUP BY user_id
),
q AS (
  SELECT monetary_cents,
         ntile(5) OVER (ORDER BY recency_days, user_id) AS r_q,
         ntile(5) OVER (ORDER BY frequency, user_id) AS f_q,
         ntile(5) OVER (ORDER BY monetary_cents, user_id) AS m_q
  FROM u
)
SELECT CAST(r_q AS BIGINT) AS r_q, CAST(f_q AS BIGINT) AS f_q,
       CAST(m_q AS BIGINT) AS m_q,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(monetary_cents) AS BIGINT) AS total_monetary_cents
FROM q GROUP BY r_q, f_q, m_q
"""


@query("rfm_customer_segments", sql=_RFM_SQL, tags=("funnel", "segmentation"))
def rfm_customer_segments(spark, sf_dir):
    """RFM segmentation: quintile each purchasing user on Recency (days
    since last purchase vs the corpus anchor date), Frequency (purchase
    count) and Monetary (exact cent revenue), then report user counts and
    revenue per (r, f, m) cell — the classic e-commerce segmentation the
    reference's domain implies but never ships.

    Each quintile is a GLOBAL ntile over a unique (metric, user_id)
    ordering — the single-reducer trap — computed instead with the
    in-plan ``operators/rank.inplan_global_rank`` (range-partition
    + local row_number + offset fix-up) and the bit-exact
    ``ntile_from_rank_n`` base/remainder rule, three passes over the
    user-cardinality rollup (never the event log).  Monetary sums as
    BIGINT cents on the portable floor grid; recency counts exact days
    against a 1-row broadcast anchor."""
    from ..operators.rank import inplan_global_rank, ntile_from_rank_n

    p = (
        read_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.to_date("ts").alias("d"),
            F.floor(F.col("value") * 100.0 + 0.5).cast("long").alias("c"),
        )
    )
    anchor = p.agg(F.max("d").alias("a"))
    u = (
        p.groupBy("user_id")
        .agg(
            F.max("d").alias("last_d"),
            F.count("*").cast("long").alias("frequency"),
            F.sum("c").alias("monetary_cents"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            "user_id",
            F.datediff(F.col("a"), F.col("last_d")).cast("long").alias(
                "recency_days"
            ),
            "frequency",
            "monetary_cents",
        )
    )
    # single-action ranks (r16): the in-plan operator derives the offsets
    # and the total count inside one physical plan, so the three chained
    # quintiles cost zero extra Spark actions (was 3 pins + 3 collects)
    nc = F.col("__n")
    ranked = inplan_global_rank(u, ["recency_days", "user_id"], "__r", n_col="__n")
    ranked = ranked.withColumn("r_q", ntile_from_rank_n(F.col("__r"), nc, 5))
    ranked = inplan_global_rank(ranked, ["frequency", "user_id"], "__f")
    ranked = ranked.withColumn("f_q", ntile_from_rank_n(F.col("__f"), nc, 5))
    ranked = inplan_global_rank(ranked, ["monetary_cents", "user_id"], "__m")
    ranked = ranked.withColumn("m_q", ntile_from_rank_n(F.col("__m"), nc, 5))
    return ranked.groupBy("r_q", "f_q", "m_q").agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum("monetary_cents").alias("total_monetary_cents"),
    )


# --- chi-square test of independence (event mix vs weekday) ---------------

_CHI2_SQL = """
WITH e AS (
  SELECT event_type,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 7 AS dow
  FROM events
),
cells AS (
  SELECT event_type, dow, CAST(count(*) AS BIGINT) AS o
  FROM e GROUP BY event_type, dow
),
rowt AS (SELECT event_type, sum(o) AS rt FROM cells GROUP BY event_type),
colt AS (SELECT dow, sum(o) AS ct FROM cells GROUP BY dow),
tot AS (
  SELECT sum(o) AS n,
         CAST(count(DISTINCT event_type) AS BIGINT) AS nr,
         CAST(count(DISTINCT dow) AS BIGINT) AS nc
  FROM cells
),
terms AS (
  SELECT CAST(floor(
           (c.o - CAST(r.rt * ct.ct AS DOUBLE) / t.n)
           * (c.o - CAST(r.rt * ct.ct AS DOUBLE) / t.n)
           / (CAST(r.rt * ct.ct AS DOUBLE) / t.n)
           * 1000000.0 + 0.5) AS BIGINT) AS term_micro
  FROM cells c
  JOIN rowt r ON c.event_type = r.event_type
  JOIN colt ct ON c.dow = ct.dow
  CROSS JOIN tot t
)
SELECT CAST(sum(term_micro) AS DOUBLE) / 1000000.0 AS chi_square,
       (SELECT (nr - 1) * (nc - 1) FROM tot) AS dof,
       CAST((SELECT n FROM tot) AS BIGINT) AS n_events
FROM terms
"""


@query("abtest_chi_square_mix", sql=_CHI2_SQL, tags=("funnel", "stats"))
def abtest_chi_square_mix(spark, sf_dir):
    """Chi-square test of independence between event type and weekday —
    'does the event mix shift by day of week?', the k×m generalization of
    the two-proportion A/B readout.

    Portability: the weekday is epoch-day mod 7 in exact integer
    arithmetic (Spark's dayofweek() is 1-based Sunday, DuckDB's 0-based —
    a cross-engine trap dodged entirely); every observed/expected input
    (O, row/col totals, N) is an exact BIGINT, each cell's expected value
    is ONE double division of exact operands repeated in identical op
    order, and the 35 (O−E)²/E terms are quantized on the portable
    floor(x*1e6+0.5) grid and summed as BIGINT — order-independent, one
    final division.  Plan: one map-side-combined cell aggregate over the
    events scan; everything after is cell-cardinality-sized (broadcast
    joins of the marginals)."""
    ev = read_table(spark, sf_dir, "events")
    cells = (
        ev.select(
            "event_type",
            (
                F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")) % 7
            ).alias("dow"),
        )
        .groupBy("event_type", "dow")
        .agg(F.count("*").cast("long").alias("o"))
    )
    rowt = cells.groupBy("event_type").agg(F.sum("o").alias("rt"))
    colt = cells.groupBy("dow").agg(F.sum("o").alias("ct"))
    tot = cells.agg(
        F.sum("o").alias("n"),
        F.countDistinct("event_type").cast("long").alias("nr"),
        F.countDistinct("dow").cast("long").alias("nc"),
    )
    e = (F.col("rt") * F.col("ct")).cast("double") / F.col("n")
    term = (
        F.floor((F.col("o") - e) * (F.col("o") - e) / e * 1000000.0 + 0.5)
        .cast("long")
        .alias("term_micro")
    )
    terms = (
        cells.join(F.broadcast(rowt), "event_type")
        .join(F.broadcast(colt), "dow")
        .crossJoin(F.broadcast(tot))
        .select(term, "nr", "nc", "n")
    )
    return terms.groupBy("nr", "nc", "n").agg(
        F.sum("term_micro").alias("sm")
    ).select(
        (F.col("sm").cast("double") / 1000000.0).alias("chi_square"),
        ((F.col("nr") - 1) * (F.col("nc") - 1)).alias("dof"),
        F.col("n").alias("n_events"),
    )


# --- conversion-latency percentiles ---------------------------------------

_LATENCY_SQL = """
WITH v AS (
  SELECT user_id, min(ts) AS v_ts FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
conv AS (
  SELECT v.user_id,
         date_diff('second', v.v_ts, min(e.ts)) AS latency_sec
  FROM v JOIN events e
    ON e.user_id = v.user_id AND e.event_type = 'purchase' AND e.ts >= v.v_ts
  GROUP BY v.user_id, v.v_ts
),
ranked AS (
  SELECT latency_sec,
         row_number() OVER (ORDER BY latency_sec, user_id) AS rk,
         count(*) OVER () AS n
  FROM conv
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM conv) AS n_converted,
       max(CASE WHEN rk = CAST(ceil(0.5 * n) AS BIGINT)
                THEN latency_sec END) AS p50_sec,
       max(CASE WHEN rk = CAST(ceil(0.9 * n) AS BIGINT)
                THEN latency_sec END) AS p90_sec,
       max(CASE WHEN rk = CAST(ceil(0.99 * n) AS BIGINT)
                THEN latency_sec END) AS p99_sec
FROM ranked
"""


@query("funnel_conversion_latency", sql=_LATENCY_SQL, tags=("funnel", "latency"))
def funnel_conversion_latency(spark, sf_dir):
    """Time-to-convert distribution: seconds from a user's first view to
    their first purchase at-or-after it, summarized as exact p50/p90/p99
    ORDER STATISTICS — each percentile IS an actual user's latency (the
    winsorize/MAD portability contract; never an interpolated quantile).

    Latencies are exact integer seconds (``date_diff('second')`` ↔
    ``unix_timestamp`` subtraction, the determinism.md timestamp rule);
    the global percentile ranks come from the in-plan
    ``operators/rank.inplan_global_rank`` over the CONVERTED-user
    rollup (conversion-cardinality, not event-cardinality), with
    (latency, user_id) uniqueness making every pick engine-independent.
    One user-keyed funnel join + one rank pass; output is a single row."""
    from ..operators.rank import inplan_global_rank

    ev = read_table(spark, sf_dir, "events")
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts")
    )
    conv = (
        v.join(p, "user_id")
        .where(F.col("p_ts") >= F.col("v_ts"))
        .groupBy("user_id", "v_ts")
        .agg(F.min("p_ts").alias("p_ts"))
        .select(
            "user_id",
            (
                F.unix_timestamp("p_ts") - F.unix_timestamp("v_ts")
            ).cast("long").alias("latency_sec"),
        )
    )
    ranked = inplan_global_rank(
        conv, ["latency_sec", "user_id"], n_col="__n"
    )
    # pick positions in-plan: ceil(q·n) over the same exact integers the
    # int-n form fed math.ceil, so the picks are identical
    nd = F.col("__n").cast("double")

    def pick_at(q):
        return F.col("__rank") == F.greatest(
            F.lit(1).cast("long"), F.ceil(nd * q)
        )

    return ranked.agg(
        F.coalesce(F.max("__n"), F.lit(0)).cast("long").alias("n_converted"),
        F.max(F.when(pick_at(0.5), F.col("latency_sec"))).alias("p50_sec"),
        F.max(F.when(pick_at(0.9), F.col("latency_sec"))).alias("p90_sec"),
        F.max(F.when(pick_at(0.99), F.col("latency_sec"))).alias("p99_sec"),
    )


# --- Gini coefficient of revenue concentration ----------------------------

_GINI_SQL = """
WITH u AS (
  SELECT user_id, sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS y
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
),
ranked AS (
  SELECT y, row_number() OVER (ORDER BY y, user_id) AS i,
         count(*) OVER () AS n
  FROM u
)
SELECT CAST(max(n) AS BIGINT) AS n_users,
       CAST(sum(y) AS BIGINT) AS total_cents,
       CASE WHEN max(n) * sum(y) > 0
            THEN CAST(2 * sum(i * y) - (max(n) + 1) * sum(y) AS DOUBLE)
                 / CAST(max(n) * sum(y) AS DOUBLE) END AS gini
FROM ranked
"""


@query("inequality_gini_revenue", sql=_GINI_SQL, tags=("funnel", "stats"))
def inequality_gini_revenue(spark, sf_dir):
    """Gini coefficient of per-user purchase revenue — 'how concentrated
    is spend across customers?' (0 = uniform, →1 = one whale), the Lorenz
    summary a marketplace health dashboard tracks.

    The discrete-population identity G = (2·Σi·yᵢ − (n+1)·Σy)/(n·Σy)
    over ascending-ranked revenues needs exactly one global rank — the
    in-plan ``operators/rank.inplan_global_rank`` over the purchaser
    rollup.  Revenue is
    BIGINT cents on the portable floor grid, every moment is an exact
    integer sum, and the single division casts two identical exact
    BIGINTs to double on both engines (IEEE casts agree even past 2^53);
    an empty/zero-revenue corpus guards with CASE.  Long-range headroom:
    Σi·y stays under 2⁶³ while n · total_cents < 9.2·10¹⁸ — past that,
    recast the moments to DECIMAL(38,0)."""
    from ..operators.rank import inplan_global_rank

    u = (
        read_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.sum(
                F.floor(F.col("value") * 100.0 + 0.5).cast("long")
            ).alias("y")
        )
    )
    ranked = inplan_global_rank(u, ["y", "user_id"], n_col="__n")
    s = ranked.agg(
        F.sum("y").alias("sy"),
        F.sum(F.col("__rank") * F.col("y")).alias("siy"),
        F.coalesce(F.max("__n"), F.lit(0)).cast("long").alias("n"),
    )
    num = 2 * F.col("siy") - (F.col("n") + 1) * F.col("sy")
    den = F.col("n") * F.col("sy")
    return s.select(
        F.col("n").alias("n_users"),
        F.col("sy").alias("total_cents"),
        F.when(den > 0, num.cast("double") / den.cast("double")).alias("gini"),
    )


# --- Mann-Whitney U (nonparametric two-sample test) -----------------------
# Midranks with ties stay EXACT by carrying 2*rank as integers:
# 2*midrank(v) = 2*cum_before(v) + cnt(v) + 1, so 2*R1 is a BIGINT sum and
# U1 = R1 - n1(n1+1)/2 is a half-integer — exactly representable in double.

_MWU_SQL = """
WITH pool AS (
  SELECT value, CAST(event_type = 'purchase' AS BIGINT) AS g
  FROM events WHERE event_type IN ('click', 'purchase')
),
cells AS (
  SELECT value,
         CAST(sum(g) AS BIGINT) AS c1,
         CAST(count(*) - sum(g) AS BIGINT) AS c2
  FROM pool GROUP BY value
),
cum AS (
  SELECT value, c1, c2,
         coalesce(sum(c1 + c2) OVER (ORDER BY value
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_before
  FROM cells
),
s AS (
  SELECT sum(c1) AS n1, sum(c2) AS n2,
         sum(c1 * (2 * cum_before + (c1 + c2) + 1)) AS r1x2,
         sum(CAST(c1 + c2 > 1 AS BIGINT)) AS n_tied_values
  FROM cum
)
SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
       CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE) / 2.0 AS u1,
       CAST(n1 AS DOUBLE) * n2 - CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE) / 2.0 AS u2,
       CAST(r1x2 AS DOUBLE) / 2.0 / n1 AS mean_rank_1,
       CAST(n_tied_values AS BIGINT) AS n_tied_values
FROM s
"""


@query("abtest_mann_whitney_values", sql=_MWU_SQL, tags=("funnel", "stats"))
def abtest_mann_whitney_values(spark, sf_dir):
    """Mann-Whitney U between the purchase and click value distributions —
    the nonparametric A/B readout for metrics too skewed for the
    z-score's normality assumption.

    Exactness with ties: ranks are tie-midranks over the pooled sample,
    carried DOUBLED so everything stays integer — 2·midrank(v) =
    2·|{values < v}| + cnt(v) + 1 — making 2·R1 a BIGINT sum; U1 is then
    a half-integer, exact in double (binary halves are representable).
    The only window runs over the distinct-VALUE rollup, whose
    cardinality is bounded by the value domain (2-decimal currency →
    ≤ ~50k cells regardless of corpus size — dimension-sized, documented
    single-range window), after one map-side-combined cell aggregate
    over the scan."""
    from pyspark.sql import Window

    pool = (
        read_table(spark, sf_dir, "events")
        .where(F.col("event_type").isin("click", "purchase"))
        .select(
            "value",
            (F.col("event_type") == "purchase").cast("long").alias("g"),
        )
    )
    cells = pool.groupBy("value").agg(
        F.sum("g").alias("c1"),
        (F.count("*") - F.sum("g")).cast("long").alias("c2"),
    )
    w = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, -1)
    cum = cells.withColumn(
        "cum_before",
        F.coalesce(F.sum(F.col("c1") + F.col("c2")).over(w), F.lit(0)),
    )
    s = cum.agg(
        F.sum("c1").alias("n1"),
        F.sum("c2").alias("n2"),
        F.sum(
            F.col("c1")
            * (2 * F.col("cum_before") + (F.col("c1") + F.col("c2")) + 1)
        ).alias("r1x2"),
        F.sum((F.col("c1") + F.col("c2") > 1).cast("long")).alias(
            "n_tied_values"
        ),
    )
    u1 = (F.col("r1x2") - F.col("n1") * (F.col("n1") + 1)).cast("double") / 2.0
    return s.select(
        "n1",
        "n2",
        u1.alias("u1"),
        (F.col("n1").cast("double") * F.col("n2") - u1).alias("u2"),
        (F.col("r1x2").cast("double") / 2.0 / F.col("n1")).alias("mean_rank_1"),
        "n_tied_values",
    )


# --- Kruskal-Wallis H (k-sample nonparametric ANOVA) ----------------------
# Same doubled-midrank machinery as Mann-Whitney, generalized to all five
# event types; the five per-group (2R)²/(4n) terms are IEEE-identical per
# engine, but a plain SUM over them is addition-order-dependent — so both
# engines fold them in the SAME (event_type-sorted) order, the EWMA
# mirrored-fold trick applied to a scalar reduction.  Tie correction's
# Σ(t³−t) stays BIGINT-exact; the final H/C rounds once at 6 dp.

_KW_SQL = """
WITH pool AS (
  SELECT value, event_type FROM events WHERE value IS NOT NULL
),
cells AS (
  SELECT value, event_type, CAST(count(*) AS BIGINT) AS c
  FROM pool GROUP BY value, event_type
),
vtot AS (
  SELECT value, sum(c) AS tot,
         coalesce(sum(sum(c)) OVER (ORDER BY value
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_before
  FROM cells GROUP BY value
),
groups AS (
  SELECT c.event_type, sum(c.c) AS n_g,
         sum(c.c * (2 * v.cum_before + v.tot + 1)) AS r2
  FROM cells c JOIN vtot v ON c.value = v.value
  GROUP BY c.event_type
),
n AS (SELECT sum(n_g) AS n FROM groups),
sterm AS (
  SELECT list_reduce(
           list(CAST(r2 AS DOUBLE) * r2 / (4.0 * n_g) ORDER BY event_type),
           (a, x) -> a + x) AS s,
         CAST(count(*) AS BIGINT) AS k
  FROM groups
),
ties AS (
  SELECT sum(tot * tot * tot - tot) AS t3t FROM vtot
)
SELECT CAST((SELECT n FROM n) AS BIGINT) AS n_obs, k AS n_groups,
       round(
         (12.0 / ((SELECT n FROM n) * ((SELECT n FROM n) + 1.0)) * s
          - 3.0 * ((SELECT n FROM n) + 1.0))
         / (1.0 - CAST((SELECT t3t FROM ties) AS DOUBLE)
                  / (CAST((SELECT n FROM n) AS DOUBLE) * (SELECT n FROM n)
                     * (SELECT n FROM n) - (SELECT n FROM n))),
         6) AS h_statistic
FROM sterm
"""


@query("abtest_kruskal_wallis", sql=_KW_SQL, tags=("funnel", "stats"))
def abtest_kruskal_wallis(spark, sf_dir):
    """Kruskal-Wallis H across all five event types' value distributions —
    the k-sample nonparametric ANOVA completing the experimentation-stats
    family (z-test, chi-square, Mann-Whitney).

    Determinism: midranks double to BIGINTs exactly as in Mann-Whitney;
    each group's (2R)²/(4n) term is an identical IEEE op chain on exact
    operands, and the k-term reduction — the one addition-order-sensitive
    float sum — runs as the SAME event_type-ordered fold on both engines
    (the mirrored-fold rule applied to a scalar reduction).  The tie
    correction's Σ(t³−t) is a BIGINT sum; one rounded output.  The only
    window is the value-domain-bounded distinct-value cumsum."""
    from pyspark.sql import Window

    pool = read_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    cells = pool.groupBy("value", "event_type").agg(
        F.count("*").cast("long").alias("c")
    )
    w = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, -1)
    vtot = (
        cells.groupBy("value")
        .agg(F.sum("c").alias("tot"))
        .withColumn(
            "cum_before", F.coalesce(F.sum("tot").over(w), F.lit(0))
        )
    )
    groups = (
        cells.join(vtot, "value")
        .groupBy("event_type")
        .agg(
            F.sum("c").alias("n_g"),
            F.sum(
                F.col("c") * (2 * F.col("cum_before") + F.col("tot") + 1)
            ).alias("r2"),
        )
    )
    term = F.col("r2").cast("double") * F.col("r2") / (4.0 * F.col("n_g"))
    sterm = groups.agg(
        F.sum("n_g").alias("n"),
        F.count("*").cast("long").alias("k"),
        F.array_sort(
            F.collect_list(F.struct("event_type", term.alias("t")))
        ).alias("terms"),
    )
    t3t = vtot.agg(
        F.sum(
            F.col("tot") * F.col("tot") * F.col("tot") - F.col("tot")
        ).alias("t3t")
    )
    folded = sterm.crossJoin(F.broadcast(t3t))
    s = F.aggregate(
        F.transform("terms", lambda x: x["t"]),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    nd = F.col("n").cast("double")
    h = (12.0 / (nd * (nd + 1.0)) * s - 3.0 * (nd + 1.0)) / (
        1.0 - F.col("t3t").cast("double") / (nd * F.col("n") * F.col("n") - F.col("n"))
    )
    return folded.select(
        F.col("n").alias("n_obs"),
        F.col("k").alias("n_groups"),
        F.round(h, 6).alias("h_statistic"),
    )


# --- Kaplan-Meier survival (time to first purchase) -----------------------
# Survival analysis on conversion latency: how long do users "survive"
# unconverted?  Durations are whole days from a user's first event to
# their first purchase (event) or last event (right-censored).  The KM
# estimator S(d) = Π_{d'<=d} (1 − events_{d'}/at_risk_{d'}) needs prefix
# PRODUCTS over the ordered day grid — not a window aggregate either
# engine has exactly, and a float product is order-sensitive, so both
# engines compute each prefix with the SAME left-fold over the SAME
# day-ordered term list (the mirrored-fold rule applied to products;
# 1.0-init vs first-element-init agree because 1.0 * x == x).
#
# Scale: ONE user-keyed aggregation reduces the corpus to per-user
# durations; everything after runs on the day grid (≤ a few hundred rows
# — observation windows are weeks, not millennia), where global windows
# and an O(days²) slice-fold are free.  At 100 TB the user rollup is the
# only data-sized stage.

_KM_SQL = """
WITH u AS (
  SELECT user_id,
         min(CAST(floor(epoch(ts)) AS BIGINT)) AS t0,
         min(CASE WHEN event_type = 'purchase'
                  THEN CAST(floor(epoch(ts)) AS BIGINT) END) AS te,
         max(CAST(floor(epoch(ts)) AS BIGINT)) AS tc
  FROM events GROUP BY user_id
),
dur AS (
  SELECT CAST(floor((coalesce(te, tc) - t0) / 86400.0) AS BIGINT) AS d,
         CASE WHEN te IS NOT NULL THEN 1 ELSE 0 END AS event
  FROM u
),
byday AS (
  SELECT d, CAST(count(*) AS BIGINT) AS n_end,
         CAST(sum(event) AS BIGINT) AS n_events
  FROM dur GROUP BY d
),
cum AS (
  SELECT d, n_end, n_events,
         CAST(coalesce(sum(n_end) OVER (ORDER BY d
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cum_before,
         CAST(sum(n_end) OVER () AS BIGINT) AS total,
         CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS i
  FROM byday
),
t AS (
  SELECT d, n_events, n_end - n_events AS n_censored,
         total - cum_before AS n_at_risk, i,
         1.0 - CAST(n_events AS DOUBLE) / CAST(total - cum_before AS DOUBLE)
           AS term
  FROM cum
),
l AS (SELECT list(term ORDER BY d) AS terms FROM t)
SELECT d AS duration_day,
       CAST(n_at_risk AS BIGINT) AS n_at_risk,
       CAST(n_events AS BIGINT) AS n_events,
       CAST(n_censored AS BIGINT) AS n_censored,
       round(list_reduce(list_slice((SELECT terms FROM l), 1, i),
                         (a, x) -> a * x), 6) AS survival
FROM t
"""


@query("survival_kaplan_meier", sql=_KM_SQL, tags=("funnel", "stats", "survival"))
def survival_kaplan_meier(spark, sf_dir):
    """Kaplan-Meier survival curve for time-to-first-purchase with
    right-censoring at a user's last observed event — the standard
    churn/conversion-latency estimator (see block comment for the
    mirrored prefix-product determinism design and the one-keyed-shuffle
    scale shape)."""
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    epoch = F.unix_timestamp("ts").cast("long")
    u = ev.groupBy("user_id").agg(
        F.min(epoch).alias("t0"),
        F.min(F.when(F.col("event_type") == "purchase", epoch)).alias("te"),
        F.max(epoch).alias("tc"),
    )
    dur = u.select(
        F.floor((F.coalesce("te", "tc") - F.col("t0")) / 86400.0)
        .cast("long")
        .alias("d"),
        F.col("te").isNotNull().cast("long").alias("event"),
    )
    byday = dur.groupBy("d").agg(
        F.count("*").cast("long").alias("n_end"),
        F.sum("event").cast("long").alias("n_events"),
    )
    # day grid is ≤ a few hundred rows: single-partition windows are the
    # right plan here (the corpus-sized stage is the user rollup above)
    w_before = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.partitionBy()
    cum = (
        byday.withColumn(
            "cum_before", F.coalesce(F.sum("n_end").over(w_before), F.lit(0))
        )
        .withColumn("total", F.sum("n_end").over(w_all))
        .withColumn("i", F.row_number().over(Window.orderBy("d")))
    )
    t = cum.select(
        "d",
        "n_events",
        (F.col("n_end") - F.col("n_events")).cast("long").alias("n_censored"),
        (F.col("total") - F.col("cum_before")).cast("long").alias("n_at_risk"),
        "i",
        (
            F.lit(1.0)
            - F.col("n_events").cast("double")
            / (F.col("total") - F.col("cum_before")).cast("double")
        ).alias("term"),
    )
    terms = t.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "term"))), lambda s: s["term"]
        ).alias("terms")
    )
    return t.crossJoin(F.broadcast(terms)).select(
        F.col("d").alias("duration_day"),
        "n_at_risk",
        "n_events",
        "n_censored",
        F.round(
            F.aggregate(
                F.slice("terms", F.lit(1), F.col("i")),
                F.lit(1.0),
                lambda a, x: a * x,
            ),
            6,
        ).alias("survival"),
    )


# --- U-shaped (position-weighted) attribution -----------------------------
# The 40/20/40 position model between the first/last extremes: first and
# last touch of each purchase epoch get 40% of the revenue credit each,
# the middles split the remaining 20% evenly.  Same epoch machinery as
# attribution_first_last_touch (pseq running count → (user_id, pseq)
# equi-join, no range join).  Credit stays on an exact integer grid:
# weights are parts-per-million BIGINTs (single touch 10⁶; two touches
# 5·10⁵ each; else 4·10⁵/4·10⁵ and ⌊2·10⁵/(n−2)⌋ per middle — the ≤n−3
# ppm rounding remainder is dropped identically on both engines), and
# credit_micro = cents × weight sums as BIGINT before ONE final double
# division.

_UPOS_SQL = """
WITH seq AS (
  SELECT event_id, user_id, event_type, value, ts,
         coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS pseq
  FROM events
),
touches AS (
  SELECT user_id, pseq, event_type,
         row_number() OVER (PARTITION BY user_id, pseq
                            ORDER BY ts, event_id) AS rn,
         count(*) OVER (PARTITION BY user_id, pseq) AS n
  FROM seq WHERE event_type <> 'purchase'
),
conv AS (
  SELECT user_id, pseq,
         CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
  FROM seq WHERE event_type = 'purchase'
),
credited AS (
  SELECT t.event_type AS touch_type,
         c.cents * CASE WHEN t.n = 1 THEN 1000000
                        WHEN t.rn = 1 OR t.rn = t.n
                          THEN CASE WHEN t.n = 2 THEN 500000 ELSE 400000 END
                        ELSE 200000 // (t.n - 2) END AS credit_micro
  FROM touches t
  JOIN conv c ON t.user_id = c.user_id AND t.pseq = c.pseq
)
SELECT touch_type,
       CAST(count(*) AS BIGINT) AS n_credited_touches,
       CAST(sum(credit_micro) AS BIGINT) AS credit_micro_cents,
       round(CAST(sum(credit_micro) AS DOUBLE) / 1000000.0 / 100.0, 6)
         AS attributed_revenue
FROM credited GROUP BY touch_type
"""


@query(
    "attribution_position_weighted",
    sql=_UPOS_SQL,
    tags=("funnel", "attribution"),
)
def attribution_position_weighted(spark, sf_dir):
    """U-shaped 40/20/40 position-weighted revenue attribution per touch
    type — see block comment for the ppm-integer credit grid."""
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = ev.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        "ts",
        F.coalesce(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).over(w_run),
            F.lit(0),
        ).alias("pseq"),
    )
    w_t = Window.partitionBy("user_id", "pseq").orderBy("ts", "event_id")
    w_n = Window.partitionBy("user_id", "pseq")
    touches = (
        seq.where(F.col("event_type") != "purchase")
        .withColumn("rn", F.row_number().over(w_t))
        .withColumn("n", F.count("*").over(w_n))
        .select("user_id", "pseq", "event_type", "rn", "n")
    )
    conv = seq.where(F.col("event_type") == "purchase").select(
        "user_id",
        "pseq",
        F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long").alias("cents"),
    )
    ends = F.when(F.col("n") == 2, 500000).otherwise(400000)
    weight = (
        F.when(F.col("n") == 1, 1000000)
        .when((F.col("rn") == 1) | (F.col("rn") == F.col("n")), ends)
        .otherwise(F.expr("200000 div (n - 2)"))
    )
    credited = touches.join(conv, ["user_id", "pseq"]).select(
        F.col("event_type").alias("touch_type"),
        (F.col("cents") * weight).alias("credit_micro"),
    )
    return credited.groupBy("touch_type").agg(
        F.count("*").cast("long").alias("n_credited_touches"),
        F.sum("credit_micro").cast("long").alias("credit_micro_cents"),
        F.round(
            F.sum("credit_micro").cast("double") / 1000000.0 / 100.0, 6
        ).alias("attributed_revenue"),
    )


# --- Kolmogorov-Smirnov two-sample test (value distributions) -------------
# Does the purchase-value distribution differ between the two hash-split
# experiment arms?  KS is the standard distribution-free answer; its D
# statistic needs the max gap between the two empirical CDFs, evaluated
# only at observed values.  Everything stays exact until one mirrored
# double op per distinct value: per-value BIGINT counts → window cumsums
# (still BIGINT) → ONE c1/n1 − c2/n2 per cell → max.  The same 2-decimal
# currency domain bound as Mann-Whitney keeps the cell table value-
# domain-sized, not corpus-sized; arms come from the md5-hash user split
# (engine-portable, like abtest_conversion_lift).

_KS_SQL = f"""
WITH assigned AS (
  SELECT CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents,
         CAST({hash60("CAST(user_id AS VARCHAR)")} % 2 AS BIGINT) AS arm
  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
),
cells AS (
  SELECT cents,
         CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
         CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
  FROM assigned GROUP BY cents
),
cum AS (
  SELECT cents,
         CAST(sum(c0) OVER (ORDER BY cents) AS BIGINT) AS f0,
         CAST(sum(c1) OVER (ORDER BY cents) AS BIGINT) AS f1,
         CAST(sum(c0) OVER () AS BIGINT) AS n0,
         CAST(sum(c1) OVER () AS BIGINT) AS n1
  FROM cells
)
SELECT max(n0) AS n0, max(n1) AS n1,
       round(max(abs(CAST(f0 AS DOUBLE) / CAST(n0 AS DOUBLE)
                     - CAST(f1 AS DOUBLE) / CAST(n1 AS DOUBLE))), 6) AS ks_d,
       round(1.358 * sqrt(CAST(max(n0) + max(n1) AS DOUBLE)
                          / (CAST(max(n0) AS DOUBLE) * CAST(max(n1) AS DOUBLE))),
             6) AS critical_005,
       CAST(max(abs(CAST(f0 AS DOUBLE) / CAST(n0 AS DOUBLE)
                    - CAST(f1 AS DOUBLE) / CAST(n1 AS DOUBLE)))
            > 1.358 * sqrt(CAST(max(n0) + max(n1) AS DOUBLE)
                           / (CAST(max(n0) AS DOUBLE) * CAST(max(n1) AS DOUBLE)))
            AS BOOLEAN) AS reject_at_005
FROM cum
"""


@query("abtest_ks_statistic", sql=_KS_SQL, tags=("funnel", "stats"))
def abtest_ks_statistic(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov D over purchase values between
    hash-assigned experiment arms, with the 5% asymptotic critical value
    — see block comment."""
    from pyspark.sql import Window

    from ..operators.dedup import md5_hash60

    ev = read_table(spark, sf_dir, "events")
    assigned = ev.where(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    ).select(
        F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long").alias("cents"),
        (md5_hash60(F.col("user_id").cast("string")) % 2).cast("long").alias("arm"),
    )
    cells = assigned.groupBy("cents").agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("long").alias("c0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("long").alias("c1"),
    )
    # the cell table is value-domain-bounded (2-dp currency), so a global
    # ordered window here runs over thousands of rows, not the corpus
    w_cum = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    cum = cells.select(
        F.sum("c0").over(w_cum).cast("long").alias("f0"),
        F.sum("c1").over(w_cum).cast("long").alias("f1"),
        F.sum("c0").over(w_all).cast("long").alias("n0"),
        F.sum("c1").over(w_all).cast("long").alias("n1"),
    )
    gap = F.abs(
        F.col("f0").cast("double") / F.col("n0").cast("double")
        - F.col("f1").cast("double") / F.col("n1").cast("double")
    )
    agg = cum.agg(
        F.max("n0").alias("n0"),
        F.max("n1").alias("n1"),
        F.max(gap).alias("d_raw"),
    )
    crit = F.lit(1.358) * F.sqrt(
        (F.col("n0") + F.col("n1")).cast("double")
        / (F.col("n0").cast("double") * F.col("n1").cast("double"))
    )
    return agg.select(
        "n0",
        "n1",
        F.round(F.col("d_raw"), 6).alias("ks_d"),
        F.round(crit, 6).alias("critical_005"),
        (F.col("d_raw") > crit).alias("reject_at_005"),
    )


# --- time-bounded funnel (conversion within 24 h) -------------------------
# The ordered funnel with a CLOCK: stage k counts only if it happens
# within the window of stage k-1 (click ≤24 h after first view, purchase
# ≤24 h after that click).  Same chained keyed-aggregation shape as
# funnel_ordered_stages — each stage is one groupBy + one equi-join on
# user_id, every filter pushed to its scan.

_FUNNEL_TB_SQL = """
WITH v AS (
  SELECT user_id, min(ts) AS v_ts FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, min(e.ts) AS c_ts
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts >= v.v_ts
    AND e.ts <= v.v_ts + INTERVAL 24 HOUR
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(e.ts) AS p_ts
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= c.c_ts
    AND e.ts <= c.c_ts + INTERVAL 24 HOUR
  GROUP BY e.user_id
)
SELECT 'view' AS stage, (SELECT count(*) FROM v) AS n_users
UNION ALL
SELECT 'click_within_24h', (SELECT count(*) FROM c)
UNION ALL
SELECT 'purchase_within_24h', (SELECT count(*) FROM p)
"""


@query("funnel_time_bounded", sql=_FUNNEL_TB_SQL, tags=("funnel", "clickstream"))
def funnel_time_bounded(spark, sf_dir):
    """24-hour-bounded ordered funnel (view → click → purchase) — see
    block comment."""
    ev = read_table(spark, sf_dir, "events")
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(
            (F.col("ts") >= F.col("v_ts"))
            & (F.col("ts") <= F.col("v_ts") + F.expr("INTERVAL 24 HOURS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(
            (F.col("ts") >= F.col("c_ts"))
            & (F.col("ts") <= F.col("c_ts") + F.expr("INTERVAL 24 HOURS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )

    def stage(name, df):
        return df.agg(F.lit(name).alias("stage"), F.count("*").alias("n_users"))

    return (
        stage("view", v)
        .unionByName(stage("click_within_24h", c))
        .unionByName(stage("purchase_within_24h", p))
    )


# --- growth accounting (new / retained / resurrected actives) -------------
# The standard DAU decomposition: every active (user, day) is exactly one
# of NEW (first-ever day), RETAINED (also active within the prior 7
# days), or RESURRECTED (seen before, but dormant >7 days) — the
# decomposition behind "is growth new users or win-backs?".  One distinct
# (user, day) dedup, one user-keyed lag window, one date rollup — all
# exact BIGINTs, and the per-day share is ONE division.

_GROWTH_SQL = """
WITH ud AS (
  SELECT DISTINCT user_id, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day
  FROM events
),
seq AS (
  SELECT user_id, day,
         lag(day) OVER (PARTITION BY user_id ORDER BY day) AS prev_day,
         min(day) OVER (PARTITION BY user_id) AS first_day
  FROM ud
),
classed AS (
  SELECT day,
         CASE WHEN day = first_day THEN 'new'
              WHEN prev_day >= day - 7 THEN 'retained'
              ELSE 'resurrected' END AS klass
  FROM seq
)
SELECT day, klass AS activity_class,
       CAST(count(*) AS BIGINT) AS n_users,
       round(CAST(count(*) AS DOUBLE)
             / CAST(sum(count(*)) OVER (PARTITION BY day) AS DOUBLE), 6)
         AS share_of_day
FROM classed GROUP BY day, klass
"""


@query("retention_growth_accounting", sql=_GROWTH_SQL, tags=("funnel", "retention"))
def retention_growth_accounting(spark, sf_dir):
    """Daily active-user growth accounting (new / retained within 7 days /
    resurrected after dormancy) — see block comment."""
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    day = F.floor(F.unix_timestamp("ts") / 86400).cast("long")
    ud = ev.select("user_id", day.alias("day")).distinct()
    w_lag = Window.partitionBy("user_id").orderBy("day")
    w_user = Window.partitionBy("user_id")
    seq = ud.select(
        "day",
        F.lag("day").over(w_lag).alias("prev_day"),
        F.min("day").over(w_user).alias("first_day"),
    )
    classed = seq.select(
        "day",
        F.when(F.col("day") == F.col("first_day"), "new")
        .when(F.col("prev_day") >= F.col("day") - 7, "retained")
        .otherwise("resurrected")
        .alias("activity_class"),
    )
    counted = classed.groupBy("day", "activity_class").agg(
        F.count("*").cast("long").alias("n_users")
    )
    w_day = Window.partitionBy("day")
    return counted.select(
        "day",
        "activity_class",
        "n_users",
        F.round(
            F.col("n_users").cast("double")
            / F.sum("n_users").over(w_day).cast("double"),
            6,
        ).alias("share_of_day"),
    )


# --- revenue concentration: top-percentile user share ---------------------
# "What share of revenue comes from the top 1% / 10% of spenders?" — the
# whale-concentration readout next to the Gini coefficient.  Exact
# percentile CUTS need a global rank; this uses the same in-plan global
# rank as RFM (range partition → local row_number → broadcast offsets —
# no single reducer), descending by exact cents with
# the user id as tie-break.  Cut sizes are ⌈n/100⌉ and ⌈n/10⌉ computed
# identically on both engines; shares are single divisions over exact
# BIGINT sums.

_TOPSHARE_SQL = """
WITH u AS (
  SELECT user_id,
         CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
           AS cents
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
),
ranked AS (
  SELECT cents,
         row_number() OVER (ORDER BY cents DESC, user_id) AS rn,
         count(*) OVER () AS n,
         sum(cents) OVER () AS total
  FROM u
)
SELECT CAST(max(n) AS BIGINT) AS n_users,
       CAST(max(total) AS BIGINT) AS total_cents,
       CAST(CAST(ceil(CAST(max(n) AS DOUBLE) / 100.0) AS BIGINT) AS BIGINT)
         AS top1pct_users,
       round(CAST(sum(CASE WHEN rn <= ceil(CAST(n AS DOUBLE) / 100.0)
                           THEN cents ELSE 0 END) AS DOUBLE)
             / CAST(max(total) AS DOUBLE), 6) AS top1pct_share,
       round(CAST(sum(CASE WHEN rn <= ceil(CAST(n AS DOUBLE) / 10.0)
                           THEN cents ELSE 0 END) AS DOUBLE)
             / CAST(max(total) AS DOUBLE), 6) AS top10pct_share
FROM ranked
"""


@query(
    "inequality_top_user_share",
    sql=_TOPSHARE_SQL,
    tags=("funnel", "inequality"),
)
def inequality_top_user_share(spark, sf_dir):
    """Share of purchase revenue captured by the top 1% / 10% of
    spenders, via the in-plan global rank — see block comment."""
    from ..operators.rank import inplan_global_rank

    ev = read_table(spark, sf_dir, "events")
    u = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.sum(F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long"))
            .cast("long")
            .alias("cents")
        )
        .select(
            "user_id", "cents", (-F.col("cents")).alias("neg_cents")
        )
    )
    ranked = inplan_global_rank(
        u, ["neg_cents", "user_id"], "__grank", n_col="__n"
    )
    # cutoffs in-plan: ceil(n/100), ceil(n/10) over the same exact doubles
    # the int-n form fed math.ceil
    k1 = F.ceil(F.col("__n").cast("double") / 100.0)
    k10 = F.ceil(F.col("__n").cast("double") / 10.0)
    return ranked.agg(
        F.coalesce(F.max("__n"), F.lit(0)).cast("long").alias("n_users"),
        F.sum("cents").cast("long").alias("total_cents"),
        F.coalesce(F.max(k1), F.lit(0)).cast("long").alias("top1pct_users"),
        F.round(
            F.sum(F.when(F.col("__grank") <= k1, F.col("cents")).otherwise(0))
            .cast("double")
            / F.sum("cents").cast("double"),
            6,
        ).alias("top1pct_share"),
        F.round(
            F.sum(F.when(F.col("__grank") <= k10, F.col("cents")).otherwise(0))
            .cast("double")
            / F.sum("cents").cast("double"),
            6,
        ).alias("top10pct_share"),
    )


# --- repeat-purchase interval distribution --------------------------------
# How long between a repeat buyer's consecutive purchases?  The loyalty
# cadence next to conversion latency (which measures only first
# view→first purchase).  Gaps are exact integer seconds from a per-user
# lag window; the global p50/p90/p99 are exact order statistics via the
# in-plan global rank over the GAP table (purchase-cardinality),
# tie-broken to full uniqueness by (gap, user, event).

_REPEAT_SQL = """
WITH p AS (
  SELECT user_id, event_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_ts
  FROM events WHERE event_type = 'purchase'
),
gaps AS (
  SELECT user_id, event_id,
         CAST(date_diff('second', prev_ts, ts) AS BIGINT) AS gap_sec
  FROM p WHERE prev_ts IS NOT NULL
),
ranked AS (
  SELECT gap_sec,
         row_number() OVER (ORDER BY gap_sec, user_id, event_id) AS rk,
         count(*) OVER () AS n
  FROM gaps
)
SELECT (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM gaps)
         AS n_repeat_buyers,
       (SELECT CAST(count(*) AS BIGINT) FROM gaps) AS n_gaps,
       round(CAST((SELECT CAST(sum(gap_sec) AS BIGINT) FROM gaps) AS DOUBLE)
             / CAST((SELECT count(*) FROM gaps) AS DOUBLE), 6)
         AS mean_gap_sec,
       max(CASE WHEN rk = CAST(ceil(0.5 * n) AS BIGINT)
                THEN gap_sec END) AS p50_sec,
       max(CASE WHEN rk = CAST(ceil(0.9 * n) AS BIGINT)
                THEN gap_sec END) AS p90_sec,
       max(CASE WHEN rk = CAST(ceil(0.99 * n) AS BIGINT)
                THEN gap_sec END) AS p99_sec
FROM ranked
"""


@query(
    "repeat_purchase_intervals",
    sql=_REPEAT_SQL,
    tags=("funnel", "retention", "latency"),
)
def repeat_purchase_intervals(spark, sf_dir):
    """Exact p50/p90/p99 (and mean) of seconds between consecutive
    purchases per user — see block comment."""
    from pyspark.sql import Window

    from ..operators.rank import inplan_global_rank

    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", F.lag("ts").over(w).alias("prev_ts")
    )
    gaps = p.where(F.col("prev_ts").isNotNull()).select(
        "user_id",
        "event_id",
        (F.unix_timestamp("ts") - F.unix_timestamp("prev_ts"))
        .cast("long")
        .alias("gap_sec"),
    )
    ranked = inplan_global_rank(
        gaps, ["gap_sec", "user_id", "event_id"], n_col="__n"
    )
    # one aggregate over the ranked frame (r16): the summary stats and the
    # percentile picks read the SAME rows, so the former second pass over
    # the lag-window pipeline (a separate `gaps` aggregate + crossJoin)
    # collapses into this single scalar aggregation — same values
    nd = F.col("__n").cast("double")

    def pick_at(q):
        return F.col("__rank") == F.greatest(
            F.lit(1).cast("long"), F.ceil(nd * q)
        )

    return ranked.agg(
        F.countDistinct("user_id").cast("long").alias("n_repeat_buyers"),
        F.count("*").cast("long").alias("n_gaps"),
        F.round(
            F.sum("gap_sec").cast("double") / F.count("*").cast("double"), 6
        ).alias("mean_gap_sec"),
        F.max(F.when(pick_at(0.5), F.col("gap_sec"))).alias("p50_sec"),
        F.max(F.when(pick_at(0.9), F.col("gap_sec"))).alias("p90_sec"),
        F.max(F.when(pick_at(0.99), F.col("gap_sec"))).alias("p99_sec"),
    )


# --- revenue-quartile migration matrix (first half vs second half) --------
# Segment flow: which revenue quartile did each buyer occupy in the
# corpus's first half vs its second, and how many users moved between
# cells?  The upgrade/downgrade matrix behind "are my whales new or
# durable?".  Each half gets its own exact quartile via the RFM
# machinery (in-plan global rank + the engine-exact ntile rule,
# (cents, user_id) tie-break); non-buyers in a half sit in quartile 0;
# a full-outer join on user_id builds the matrix.  The midpoint is
# integer epoch arithmetic.

_MIGRATION_SQL = """
WITH bounds AS (
  SELECT CAST(min(floor(epoch(ts))) AS BIGINT) AS mn,
         CAST(max(floor(epoch(ts))) AS BIGINT) AS mx
  FROM events
),
p AS (
  SELECT e.user_id,
         CAST(floor(epoch(e.ts)) AS BIGINT)
           <= (b.mn + (b.mx - b.mn) / 2) AS first_half,
         CAST(floor(e.value * 100.0 + 0.5) AS BIGINT) AS c
  FROM events e CROSS JOIN bounds b
  WHERE e.event_type = 'purchase'
),
h1 AS (
  SELECT user_id, CAST(ntile(4) OVER (ORDER BY cents, user_id) AS BIGINT)
           AS q
  FROM (SELECT user_id, CAST(sum(c) AS BIGINT) AS cents FROM p
        WHERE first_half GROUP BY user_id)
),
h2 AS (
  SELECT user_id, CAST(ntile(4) OVER (ORDER BY cents, user_id) AS BIGINT)
           AS q
  FROM (SELECT user_id, CAST(sum(c) AS BIGINT) AS cents FROM p
        WHERE NOT first_half GROUP BY user_id)
)
SELECT coalesce(h1.q, 0) AS q_first_half,
       coalesce(h2.q, 0) AS q_second_half,
       CAST(count(*) AS BIGINT) AS n_users
FROM h1 FULL JOIN h2 ON h1.user_id = h2.user_id
GROUP BY q_first_half, q_second_half
"""


@query(
    "segment_migration_matrix",
    sql=_MIGRATION_SQL,
    tags=("funnel", "segmentation"),
)
def segment_migration_matrix(spark, sf_dir):
    """Revenue-quartile migration matrix between the corpus's two halves
    — see block comment."""
    from ..operators.rank import inplan_global_rank, ntile_from_rank_n

    ev = read_table(spark, sf_dir, "events")
    epoch = F.unix_timestamp("ts").cast("long")
    bounds = ev.agg(
        F.min(epoch).alias("mn"), F.max(epoch).alias("mx")
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .crossJoin(F.broadcast(bounds))
        .select(
            "user_id",
            (
                epoch <= (F.col("mn") + F.floor((F.col("mx") - F.col("mn")) / 2))
            ).alias("first_half"),
            F.floor(F.col("value") * 100.0 + F.lit(0.5))
            .cast("long")
            .alias("c"),
        )
    )

    def quartiles(df, flag):
        cents = (
            df.where(flag)
            .groupBy("user_id")
            .agg(F.sum("c").cast("long").alias("cents"))
        )
        ranked = inplan_global_rank(
            cents, ["cents", "user_id"], "__q_rank", n_col="__n"
        )
        return ranked.select(
            "user_id",
            ntile_from_rank_n(F.col("__q_rank"), F.col("__n"), 4).alias("q"),
        )

    h1 = quartiles(p, F.col("first_half"))
    h2 = quartiles(p, ~F.col("first_half")).select(
        F.col("user_id"), F.col("q").alias("q2")
    )
    return (
        h1.join(h2, "user_id", "full")
        .select(
            F.coalesce("q", F.lit(0)).cast("long").alias("q_first_half"),
            F.coalesce("q2", F.lit(0)).cast("long").alias("q_second_half"),
        )
        .groupBy("q_first_half", "q_second_half")
        .agg(F.count("*").cast("long").alias("n_users"))
    )


# --- inter-event gap histogram -----------------------------------------------
# The distribution that CHOOSES the sessionization gap threshold: bucket
# every user's consecutive-event gap into human time bands and report the
# mix.  (The flagship uses a fixed 30-minute session gap; this query is
# the evidence for that constant — a healthy threshold sits in the valley
# between the intra-session and inter-session modes.)  One user-keyed lag
# window, then a 5-row aggregate; thresholds are integer seconds so the
# bucketing is engine-exact.

_GAP_SQL = """
WITH ordered AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS te,
         lag(CAST(floor(epoch(ts)) AS BIGINT))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_te
  FROM events
),
gaps AS (
  SELECT te - prev_te AS gap_sec FROM ordered WHERE prev_te IS NOT NULL
),
bucketed AS (
  SELECT CASE WHEN gap_sec < 60 THEN '0_lt_1m'
              WHEN gap_sec < 1800 THEN '1_lt_30m'
              WHEN gap_sec < 3600 THEN '2_lt_1h'
              WHEN gap_sec < 86400 THEN '3_lt_1d'
              ELSE '4_ge_1d' END AS bucket
  FROM gaps
)
SELECT bucket,
       CAST(count(*) AS BIGINT) AS n_gaps,
       round(CAST(count(*) AS DOUBLE)
             / CAST(sum(count(*)) OVER () AS DOUBLE), 6) AS share
FROM bucketed GROUP BY bucket
"""


@query("session_gap_histogram", sql=_GAP_SQL, tags=("funnel", "session"))
def session_gap_histogram(spark, sf_dir):
    """Inter-event gap histogram — see block comment."""
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    te = F.unix_timestamp("ts").cast("long")
    gaps = (
        ev.select(te.alias("te"), F.lag(te).over(w).alias("prev_te"))
        .where(F.col("prev_te").isNotNull())
        .select((F.col("te") - F.col("prev_te")).alias("gap_sec"))
    )
    bucket = (
        F.when(F.col("gap_sec") < 60, "0_lt_1m")
        .when(F.col("gap_sec") < 1800, "1_lt_30m")
        .when(F.col("gap_sec") < 3600, "2_lt_1h")
        .when(F.col("gap_sec") < 86400, "3_lt_1d")
        .otherwise("4_ge_1d")
    )
    counted = gaps.groupBy(bucket.alias("bucket")).agg(
        F.count("*").cast("long").alias("n_gaps")
    )
    tot = Window.partitionBy()
    return counted.select(
        "bucket",
        "n_gaps",
        F.round(
            F.col("n_gaps").cast("double")
            / F.sum("n_gaps").over(tot).cast("double"),
            6,
        ).alias("share"),
    )
