"""Relational operator inventory (SURVEY §2.2-§2.7), oracle-checked.

One named query per operator family over the TPC-H-ish fixture tables,
generalizing the reference's P/J/A/W/X/O operators (file:line citations on
each query).  Determinism rules from ``registry.py`` apply: BIGINT casts,
exact decimal sums divided in double, unique tie-breakers on every ordering.

Scale notes are inline: every query is shaped so Catalyst produces the plan
we'd want at 100 TB (broadcast dims, partial aggregation, single shuffle per
logical key, pushed filters).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..registry import query
from ..sources import read_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_table(spark, sf_dir, name)


def dsum(col: str, alias: str, scale: str = "decimal(18,2)"):
    """Exact decimal sum emitted as double — bit-reproducible vs DuckDB."""
    return F.sum(F.col(col).cast(scale)).cast("double").alias(alias)


def davg(col: str, alias: str, scale: str = "decimal(18,2)"):
    """Exact decimal sum ÷ count in double — reproducible mean."""
    return (F.sum(F.col(col).cast(scale)).cast("double") / F.count(col)).alias(alias)


# ---------------------------------------------------------------------------
# P-family: projection / filter / scalar expressions
# (reference P1-P15, src/spark/preprocessing.py:51-61, stream_processor.py:144-151)
# ---------------------------------------------------------------------------


@query(
    "proj_filter_revenue",
    sql="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS revenue,
           CAST(l_quantity >= 25 AS BIGINT) AS bulk_flag
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND l_discount > 0.03
    """,
    tags=("projection", "filter"),
)
def proj_filter_revenue(spark, sf_dir):
    """P1/P3/P6/P14: pushed-down range+value filter, computed column,
    boolean→int projection.  Filters and the 4-column projection reach the
    parquet scan (PushedFilters + pruned ReadSchema)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount") > 0.03)
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            (F.col("l_quantity") >= 25).cast("long").alias("bulk_flag"),
        )
    )


@query(
    "case_when_bucketing",
    sql="""
    SELECT event_type,
           CASE WHEN value >= 150 THEN 'high'
                WHEN value >= 50  THEN 'mid'
                ELSE 'low' END AS value_band,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY event_type, CASE WHEN value >= 150 THEN 'high'
                              WHEN value >= 50 THEN 'mid' ELSE 'low' END
    """,
    tags=("case_when", "agg"),
)
def case_when_bucketing(spark, sf_dir):
    """P4 (when/otherwise, reference preprocessing.py:84-89) as a grouping
    expression + conditional measures."""
    ev = _t(spark, sf_dir, "events")
    band = (
        F.when(F.col("value") >= 150, "high")
        .when(F.col("value") >= 50, "mid")
        .otherwise("low")
        .alias("value_band")
    )
    return ev.groupBy("event_type", band).agg(
        F.count("*").alias("n"), dsum("value", "total_value")
    )


@query(
    "null_impute_coalesce",
    sql="""
    SELECT e.event_id,
           COALESCE(e.event_type, 'unknown') AS event_type_filled,
           COALESCE(e.value, 0.0) AS value_filled,
           CAST(e.value IS NULL AS BIGINT) AS value_was_null
    FROM events e
    WHERE e.event_id < 500
    """,
    tags=("null_handling",),
)
def null_impute_coalesce(spark, sf_dir):
    """P5/P9: null predicates + per-column imputation
    (reference preprocessing.py:33,102 — fillna to 'unknown'/0)."""
    ev = _t(spark, sf_dir, "events").where(F.col("event_id") < 500)
    return ev.select(
        "event_id",
        F.coalesce("event_type", F.lit("unknown")).alias("event_type_filled"),
        F.coalesce("value", F.lit(0.0)).alias("value_filled"),
        F.col("value").isNull().cast("long").alias("value_was_null"),
    )


@query(
    "json_extract_agg",
    sql="""
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) // 10 AS k_bucket,
           count(*) AS n,
           count(DISTINCT user_id) AS n_users,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(value) AS avg_value
    FROM events
    GROUP BY 1
    """,
    tags=("json", "agg"),
)
def json_extract_agg(spark, sf_dir):
    """P11 (from_json, reference stream_processor.py:146) generalized to
    get_json_object over events.props; stays JVM-side (no UDF)."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.groupBy(F.floor(k / 10).cast("long").alias("k_bucket"))
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("user_id").alias("n_users"),
            davg("value", "avg_value"),
        )
    )


@query(
    "date_parts_agg",
    sql="""
    SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
           CAST(quarter(o_orderdate) AS BIGINT) AS o_quarter,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY 1, 2
    """,
    tags=("datetime", "agg"),
)
def date_parts_agg(spark, sf_dir):
    """P12/P13 datetime family (reference to_timestamp at
    stream_processor.py:148-151; epoch arithmetic preprocessing.py:92)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").cast("long").alias("o_year"),
            F.quarter("o_orderdate").cast("long").alias("o_quarter"),
        )
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice", "total_price"))
    )


@query(
    "string_funcs",
    sql="""
    SELECT p_partkey,
           lower(p_name) AS name_lower,
           CAST(length(p_name) AS BIGINT) AS name_len,
           upper(p_brand) AS brand_upper,
           substring(p_type, 1, 5) AS type_prefix,
           split_part(p_name, ' ', 1) AS first_word,
           p_brand || '#' || p_type AS brand_type
    FROM part
    """,
    tags=("string",),
)
def string_funcs(spark, sf_dir):
    """String scalar family (absent in the reference — SURVEY §2.2 notes our
    engine adds lower/split/substr for the documents/text path)."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.lower("p_name").alias("name_lower"),
        F.length("p_name").cast("long").alias("name_len"),
        F.upper("p_brand").alias("brand_upper"),
        F.substring("p_type", 1, 5).alias("type_prefix"),
        F.split(F.col("p_name"), " ").getItem(0).alias("first_word"),
        F.concat_ws("#", "p_brand", "p_type").alias("brand_type"),
    )


# ---------------------------------------------------------------------------
# J-family: joins (reference J1/J2 generalized per SURVEY §2.3)
# ---------------------------------------------------------------------------


@query(
    "join_multiway_revenue",
    sql="""
    SELECT r.r_name, n.n_name,
           count(*) AS n_orders,
           CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
    tags=("join", "agg"),
)
def join_multiway_revenue(spark, sf_dir):
    """Multi-table equi-join (TPC-H Q5 shape) in its BOUNDED-DIM form:
    this query models generic dimension enrichment (the reference's
    clickstream lookups are fixed-size), so customer/nation/region carry
    explicit broadcast hints and the big side never shuffles until the
    final groupBy.  For the SF-scaling reading of the same shape — where
    customer grows with the data and must NOT be hint-broadcast — see
    plans/tpch_queries.py's unhinted policy (tpch_q5)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice", "revenue"))
    )


@query(
    "join_broadcast_part",
    sql="""
    SELECT p.p_brand,
           count(*) AS n_lines,
           CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
    tags=("join", "broadcast"),
)
def join_broadcast_part(spark, sf_dir):
    """Fact⋈dim broadcast-hash join — the named demonstration of the hint,
    for a catalog assumed BOUNDED (the reference's enrichment tables).
    When the part side scales with the data, drop the hint and let AQE
    size it (see plans/tpch_queries.py).  Zero shuffle on lineitem until
    the (tiny) final aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(F.count("*").alias("n_lines"), dsum("l_quantity", "sum_qty"))
    )


@query(
    "join_left_order_items",
    sql="""
    SELECT o.o_orderkey,
           CAST(COALESCE(cnt.n_items, 0) AS BIGINT) AS n_items,
           CAST(COALESCE(cnt.sum_qty, 0.0) AS DOUBLE) AS sum_qty
    FROM orders o
    LEFT JOIN (
      SELECT l_orderkey, count(*) AS n_items,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM lineitem GROUP BY l_orderkey
    ) cnt ON o.o_orderkey = cnt.l_orderkey
    """,
    tags=("join", "left"),
)
def join_left_order_items(spark, sf_dir):
    """Left equi-join against a pre-aggregated child (reference J1 shape,
    pandas_baseline.py:63-68) — aggregate-then-join, preserving unmatched
    parents as zeros."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cnt = li.groupBy("l_orderkey").agg(
        F.count("*").alias("n_items"), dsum("l_quantity", "sum_qty")
    )
    return o.join(cnt, o.o_orderkey == cnt.l_orderkey, "left").select(
        "o_orderkey",
        F.coalesce("n_items", F.lit(0)).cast("long").alias("n_items"),
        F.coalesce("sum_qty", F.lit(0.0)).cast("double").alias("sum_qty"),
    )


@query(
    "join_semi_active_customers",
    sql="""
    SELECT c.c_custkey, c.c_name, c.c_mktsegment
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
    """,
    tags=("join", "semi"),
)
def join_semi_active_customers(spark, sf_dir):
    """LEFT SEMI join — existence check without row multiplication."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@query(
    "join_anti_inactive_customers",
    sql="""
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
    """,
    tags=("join", "anti"),
)
def join_anti_inactive_customers(spark, sf_dir):
    """LEFT ANTI join — customers with no pending ('P') orders."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "P")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


# ---------------------------------------------------------------------------
# A-family: aggregation (reference A1-A12, preprocessing.py:81-100)
# ---------------------------------------------------------------------------


@query(
    "agg_pricing_summary",
    sql="""
    WITH cents AS (
      SELECT l_returnflag, l_linestatus,
             CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS qty_c,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS ext_c,
             CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS disc_c,
             CAST(floor(l_tax * 100 + 0.5) AS BIGINT) AS tax_c
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    )
    SELECT l_returnflag, l_linestatus,
           CAST(sum(qty_c) AS DOUBLE) / 100 AS sum_qty,
           CAST(sum(ext_c) AS DOUBLE) / 100 AS sum_base_price,
           CAST(sum(ext_c * (100 - disc_c)) AS DOUBLE) / 10000 AS sum_disc_price,
           CAST(sum(ext_c * (100 - disc_c) * (100 + tax_c)) AS DOUBLE) / 1000000 AS sum_charge,
           CAST(sum(qty_c) AS DOUBLE) / 100 / count(*) AS avg_qty,
           CAST(sum(ext_c) AS DOUBLE) / 100 / count(*) AS avg_price,
           CAST(sum(disc_c) AS DOUBLE) / 100 / count(*) AS avg_disc,
           count(*) AS count_order
    FROM cents
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("agg", "tpch_q1"),
)
def agg_pricing_summary(spark, sf_dir):
    """TPC-H Q1-shaped multi-measure hash aggregate (reference A1's shape,
    preprocessing.py:81-100): map-side partial agg → single exchange on the
    2-column grouping key → final agg.

    Exact-sum strategy: the 2dp inputs are integer-scaled to cents with
    the portable quantizer ``floor(x*100 + 0.5)`` (IEEE-identical on both
    engines) and summed as BIGINT — exact, order-independent, and it
    stays on the codegen long fast-path.  The earlier DECIMAL(12,2) sums
    were equally exact but promote past 18 digits of precision, dropping
    aggregation onto the boxed-Decimal slow path (~4× the per-row cost —
    measured; see docs/determinism.md).  Product measures sum the scaled
    integer product (≤1e11/row — no overflow below ~1e7 rows per group
    of 9e18/1e11; at larger scale widen the scale split) and divide once
    at the end."""
    li = _t(spark, sf_dir, "lineitem")
    cents = lambda c: F.floor(F.col(c) * 100 + 0.5).cast("bigint")  # noqa: E731
    pre = li.where(
        F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp")
    ).select(
        "l_returnflag",
        "l_linestatus",
        cents("l_quantity").alias("qty_c"),
        cents("l_extendedprice").alias("ext_c"),
        cents("l_discount").alias("disc_c"),
        cents("l_tax").alias("tax_c"),
    )
    return pre.groupBy("l_returnflag", "l_linestatus").agg(
        (F.sum("qty_c").cast("double") / 100).alias("sum_qty"),
        (F.sum("ext_c").cast("double") / 100).alias("sum_base_price"),
        (
            F.sum(F.col("ext_c") * (F.lit(100) - F.col("disc_c"))).cast("double")
            / 10000
        ).alias("sum_disc_price"),
        (
            F.sum(
                F.col("ext_c")
                * (F.lit(100) - F.col("disc_c"))
                * (F.lit(100) + F.col("tax_c"))
            ).cast("double")
            / 1000000
        ).alias("sum_charge"),
        (F.sum("qty_c").cast("double") / 100 / F.count("*")).alias("avg_qty"),
        (F.sum("ext_c").cast("double") / 100 / F.count("*")).alias("avg_price"),
        (F.sum("disc_c").cast("double") / 100 / F.count("*")).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


@query(
    "agg_distinct_exact",
    sql="""
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS n_parts,
           count(DISTINCT l_suppkey) AS n_supps,
           count(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg", "distinct"),
)
def agg_distinct_exact(spark, sf_dir):
    """A5 exact distinct counts (reference countDistinct preprocessing.py:99)
    — two distinct measures + a plain count in one aggregate (Catalyst
    expands to a single multi-distinct plan)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count("*").alias("n_rows"),
    )


@query(
    "agg_approx_distinct",
    sql="""
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS exact_parts,
           CAST(TRUE AS BOOLEAN) AS approx_within_5pct
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg", "approx"),
)
def agg_approx_distinct(spark, sf_dir):
    """A5 scale path: HyperLogLog++ distinct (the streaming-safe form the
    reference should have used — SURVEY §2.8 trap).  Oracle-checked via a
    tolerance CONTRACT: the estimate itself is engine-specific (DuckDB's
    HLL differs from Spark's), so the compared output carries the exact
    count plus a boolean asserting the HLL estimate landed within 5% of
    it (2.5× the rsd=0.02 bound — deterministic for a fixed dataset).  A
    drifting estimator flips the boolean and fails the driver hash."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("exact_parts"),
        (
            F.abs(
                F.approx_count_distinct("l_partkey", rsd=0.02).cast("double")
                / F.countDistinct("l_partkey")
                - 1.0
            )
            <= 0.05
        ).alias("approx_within_5pct"),
    )


@query(
    "agg_rollup_orders",
    sql="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(grouping(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
           count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    tags=("agg", "rollup"),
)
def agg_rollup_orders(spark, sf_dir):
    """Hierarchical subtotals via ROLLUP (SURVEY §2.4: cheap built-in
    extension beyond the reference's plain groupBy)."""
    o = _t(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.grouping_id().cast("long").alias("gid"),
        F.count("*").alias("n"),
        dsum("o_totalprice", "total"),
    )


@query(
    "agg_cube_customer",
    sql="""
    SELECT c_mktsegment, c_nationkey,
           CAST(grouping(c_mktsegment, c_nationkey) AS BIGINT) AS gid,
           count(*) AS n,
           CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal
    FROM customer
    GROUP BY CUBE (c_mktsegment, c_nationkey)
    """,
    tags=("agg", "cube"),
)
def agg_cube_customer(spark, sf_dir):
    """CUBE over two dimensions with grouping id."""
    c = _t(spark, sf_dir, "customer")
    return c.cube("c_mktsegment", "c_nationkey").agg(
        F.grouping_id().cast("long").alias("gid"),
        F.count("*").alias("n"),
        dsum("c_acctbal", "bal"),
    )


@query(
    "agg_grouping_sets",
    sql="""
    SELECT o_orderstatus, o_orderpriority, count(*) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
    tags=("agg", "grouping_sets"),
)
def agg_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS via Spark SQL over a temp view."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("gs_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n
        FROM gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@query(
    "agg_stats_summary",
    sql="""
    SELECT c_mktsegment,
           count(*) AS n,
           round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(c_acctbal), 4) AS mean_bal,
           round(stddev_samp(c_acctbal), 4) AS sd_bal,
           round(var_samp(c_acctbal), 4) AS var_bal,
           min(c_acctbal) AS min_bal,
           max(c_acctbal) AS max_bal
    FROM customer
    GROUP BY c_mktsegment
    """,
    tags=("agg", "stats"),
)
def agg_stats_summary(spark, sf_dir):
    """A8 describe()-style summary statistics, in-plan (reference
    eda.ipynb cell 0).  Low group cardinality → rounded stddev/variance is
    safe; mean stays exact-decimal."""
    c = _t(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.count("*").alias("n"),
        F.round(
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double")
            / F.count("c_acctbal"),
            4,
        ).alias("mean_bal"),
        F.round(F.stddev_samp("c_acctbal"), 4).alias("sd_bal"),
        F.round(F.var_samp("c_acctbal"), 4).alias("var_bal"),
        F.min("c_acctbal").alias("min_bal"),
        F.max("c_acctbal").alias("max_bal"),
    )


@query(
    "agg_null_audit",
    sql="""
    SELECT count(CASE WHEN event_id IS NULL THEN 1 END) AS null_event_id,
           count(CASE WHEN ts IS NULL THEN 1 END) AS null_ts,
           count(CASE WHEN user_id IS NULL THEN 1 END) AS null_user_id,
           count(CASE WHEN event_type IS NULL THEN 1 END) AS null_event_type,
           count(CASE WHEN value IS NULL THEN 1 END) AS null_value,
           count(CASE WHEN props IS NULL THEN 1 END) AS null_props,
           count(*) AS n_rows
    FROM events
    """,
    tags=("agg", "null_audit"),
)
def agg_null_audit(spark, sf_dir):
    """A9 per-column null audit (reference eda.ipynb cell 0 pattern) — one
    pass, list-comprehension of conditional counts."""
    ev = _t(spark, sf_dir, "events")
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    audit = [
        F.count(F.when(F.col(c).isNull(), 1)).alias(f"null_{c}") for c in cols
    ]
    return ev.agg(*audit, F.count("*").alias("n_rows"))


@query(
    "agg_funnel_share",
    sql="""
    SELECT event_type,
           count(*) AS n,
           count(DISTINCT user_id) AS n_users,
           CAST(count(*) AS DOUBLE) / sum(count(*)) OVER () AS share
    FROM events
    GROUP BY event_type
    """,
    tags=("agg", "window"),
)
def agg_funnel_share(spark, sf_dir):
    """A7/A12 group-count + in-plan share-of-total (the reference computes
    the conversion % driver-side, stream_processor.py:239-246 — we keep it
    in the plan via a window over the aggregate)."""
    ev = _t(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.count("*").alias("n"), F.countDistinct("user_id").alias("n_users")
    )
    return agg.select(
        "event_type",
        "n",
        "n_users",
        (F.col("n").cast("double") / F.sum("n").over(Window.partitionBy())).alias(
            "share"
        ),
    )


# ---------------------------------------------------------------------------
# W-family: window functions (reference W1 generalized per SURVEY §2.5)
# ---------------------------------------------------------------------------


@query(
    "window_rank_topn_per_group",
    sql="""
    SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS BIGINT) AS rn
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders)
    WHERE rn <= 3
    """,
    tags=("window", "rank"),
)
def window_rank_topn_per_group(spark, sf_dir):
    """Top-N per group via row_number (deterministic: unique o_orderkey
    tie-break).  At scale this is the single-shuffle idiom for per-key
    top-k — no self-join."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).cast("long").alias("rn"),
        )
        .where(F.col("rn") <= 3)
    )


@query(
    "window_rank_dense_rank",
    sql="""
    SELECT o_custkey, o_orderkey,
           CAST(rank()       OVER (PARTITION BY o_custkey ORDER BY o_orderstatus, o_orderkey) AS BIGINT) AS rnk,
           CAST(dense_rank() OVER (PARTITION BY o_custkey ORDER BY o_orderstatus, o_orderkey) AS BIGINT) AS drnk
    FROM orders
    """,
    tags=("window", "rank"),
)
def window_rank_dense_rank(spark, sf_dir):
    """rank + dense_rank with a deterministic compound ordering."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderstatus", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
    )


@query(
    "window_lag_lead",
    sql="""
    SELECT o_custkey, o_orderkey, o_totalprice,
           lag(o_totalprice)  OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price,
           lead(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_price
    FROM orders
    """,
    tags=("window", "lag_lead"),
)
def window_lag_lead(spark, sf_dir):
    """lag/lead across each customer's order sequence."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
    )


@query(
    "window_running_total",
    sql="""
    SELECT o_custkey, o_orderkey,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total,
           CAST(count(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS order_seq
    FROM orders
    """,
    tags=("window", "frame"),
)
def window_running_total(spark, sf_dir):
    """Explicit ROWS frame: cumulative decimal-exact revenue per customer."""
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("running_total"),
        F.count("*").over(w).cast("long").alias("order_seq"),
    )


@query(
    "window_range_frame",
    sql="""
    SELECT o_orderkey, o_totalprice,
           CAST(count(*) OVER (ORDER BY o_totalprice
                RANGE BETWEEN 100 PRECEDING AND 100 FOLLOWING) AS BIGINT) AS n_within_100
    FROM orders
    """,
    tags=("window", "range_frame"),
)
def window_range_frame(spark, sf_dir):
    """RANGE frame over a numeric ordering — peers counted by value
    distance, not row position.

    Scale-safe formulation (no global window): a RANGE count is a range
    self-join, and a ±W range join decomposes into an equi-join on
    floor(value/W) buckets — a neighbor within ±W of v can only live in
    v's bucket or the two adjacent ones.  Plan: histogram the order key
    (partial agg, one shuffle), explode each distinct value to its 3 probe
    buckets, bucket equi-join histogram-vs-histogram, filter |Δ| ≤ W, sum
    neighbor counts, and equi-join the per-value count back onto the fact
    rows.  Every shuffle is a hash equi-join on a bucket/value key; no
    single-reducer total order anywhere, so the plan survives 100× (the
    old Window.orderBy form put the whole table on one reducer)."""
    o = _t(spark, sf_dir, "orders")
    hist = o.groupBy("o_totalprice").agg(F.count("*").alias("cnt"))
    bucket = F.floor(F.col("o_totalprice") / F.lit(100.0))
    probe = hist.select(
        F.col("o_totalprice").alias("p"),
        F.explode(F.array(bucket - 1, bucket, bucket + 1)).alias("bucket"),
    )
    build = hist.select(
        F.col("o_totalprice").alias("nbr"),
        F.col("cnt"),
        bucket.alias("bucket"),
    )
    per_value = (
        probe.join(build, "bucket")
        .where(F.col("nbr").between(F.col("p") - 100, F.col("p") + 100))
        .groupBy("p")
        .agg(F.sum("cnt").alias("n_within_100"))
    )
    return o.join(per_value, o["o_totalprice"] == per_value["p"]).select(
        "o_orderkey",
        "o_totalprice",
        F.col("n_within_100").cast("long").alias("n_within_100"),
    )


@query(
    "window_distribution",
    sql="""
    SELECT c_custkey,
           CAST(ntile(4) OVER (ORDER BY c_acctbal, c_custkey) AS BIGINT) AS quartile,
           percent_rank() OVER (ORDER BY c_acctbal, c_custkey) AS pct_rank,
           cume_dist() OVER (ORDER BY c_acctbal, c_custkey) AS cum_dist
    FROM customer
    """,
    tags=("window", "distribution"),
)
def window_distribution(spark, sf_dir):
    """ntile / percent_rank / cume_dist over a unique total ordering,
    computed with the in-plan global rank instead of a single-reducer
    Window.orderBy:

    1. repartitionByRange on the sort key (sampling-based range
       partitioner — the same mechanism as a distributed orderBy), then
       row_number WITHIN each range partition (parallel per-partition
       sorts, no data movement to one reducer);
    2. per-partition counts → exclusive offsets (a bounded broadcast join
       over the per-partition count rows) turn local row numbers into
       global ranks, with the total count as a column.

    With the unique (c_acctbal, c_custkey) ordering there are no ties, so
    percent_rank = (rank-1)/(n-1), cume_dist = rank/n, and ntile follows
    the standard base/remainder bucket-size rule — all pure expressions on
    the global rank, bit-identical to the oracle's window functions."""
    from ..operators.rank import inplan_global_rank, ntile_from_rank_n

    c = _t(spark, sf_dir, "customer")
    ranked = inplan_global_rank(c, ["c_acctbal", "c_custkey"], n_col="__n")
    r = F.col("__rank")
    n = F.col("__n")
    # with a single row percent_rank is defined as 0.0 (the oracle's
    # convention) while (r-1)/(n-1) would be NULL via /0; the branch that
    # was decided from the driver-side int is now a per-row CASE on the
    # same count
    pct_rank = F.when(
        n > 1, (r - 1).cast("double") / (n - 1).cast("double")
    ).otherwise(F.lit(0.0))
    return ranked.select(
        "c_custkey",
        ntile_from_rank_n(r, n, 4).alias("quartile"),
        pct_rank.alias("pct_rank"),
        (r.cast("double") / n.cast("double")).alias("cum_dist"),
    )


@query(
    "window_first_last",
    sql="""
    SELECT o_custkey, o_orderkey,
           first_value(o_orderkey) OVER w AS first_order,
           last_value(o_orderkey)  OVER w AS last_order
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
    tags=("window", "first_last"),
)
def window_first_last(spark, sf_dir):
    """first_value/last_value with a full-partition frame (the reference's
    W1 'broadcast an aggregate onto every row' idiom, preprocessing.py:49-56)."""
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_orderkey").over(w).alias("first_order"),
        F.last("o_orderkey").over(w).alias("last_order"),
    )


# ---------------------------------------------------------------------------
# X-family: sampling / set ops / splits (reference X1-X5, train_intent.py:60-91)
# ---------------------------------------------------------------------------


@query(
    "set_union_all",
    sql="""
    SELECT c_custkey, 'building' AS src FROM customer WHERE c_mktsegment = 'BUILDING'
    UNION ALL
    SELECT c_custkey, 'highbal' AS src FROM customer WHERE c_acctbal > 5000
    """,
    tags=("setop", "union"),
)
def set_union_all(spark, sf_dir):
    """X2 bag-semantics union (reference train_intent.py:75) — overlapping
    inputs keep duplicates."""
    c = _t(spark, sf_dir, "customer")
    a = c.where(F.col("c_mktsegment") == "BUILDING").select(
        "c_custkey", F.lit("building").alias("src")
    )
    b = c.where(F.col("c_acctbal") > 5000).select(
        "c_custkey", F.lit("highbal").alias("src")
    )
    return a.unionByName(b)


@query(
    "set_intersect",
    sql="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
    tags=("setop", "intersect"),
)
def set_intersect(spark, sf_dir):
    """INTERSECT (distinct): customers having both completed and open orders."""
    o = _t(spark, sf_dir, "orders")
    a = o.where(F.col("o_orderstatus") == "F").select("o_custkey")
    b = o.where(F.col("o_orderstatus") == "O").select("o_custkey")
    return a.intersect(b)


@query(
    "set_except",
    sql="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
    """,
    tags=("setop", "except"),
)
def set_except(spark, sf_dir):
    """EXCEPT (distinct): completed-order customers with no pending orders."""
    o = _t(spark, sf_dir, "orders")
    a = o.where(F.col("o_orderstatus") == "F").select("o_custkey")
    b = o.where(F.col("o_orderstatus") == "P").select("o_custkey")
    return a.subtract(b)


@query(
    "set_except_all",
    sql="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    EXCEPT ALL
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
    """,
    tags=("setop", "except"),
)
def set_except_all(spark, sf_dir):
    """EXCEPT ALL (bag semantics — multiplicity max(m−n, 0) per value):
    each customer keeps one row per completed order beyond their pending
    count.  One hash aggregation per side, counts differenced — no row
    explosion (Spark plans `exceptAll` as a counted anti-aggregate)."""
    o = _t(spark, sf_dir, "orders")
    a = o.where(F.col("o_orderstatus") == "F").select("o_custkey")
    b = o.where(F.col("o_orderstatus") == "P").select("o_custkey")
    return a.exceptAll(b)


@query(
    "set_intersect_all",
    sql="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT ALL
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
    tags=("setop", "intersect"),
)
def set_intersect_all(spark, sf_dir):
    """INTERSECT ALL (bag semantics — multiplicity min(m, n) per value):
    one row per paired completed/open order of the same customer.  Same
    counted-aggregate plan shape as EXCEPT ALL."""
    o = _t(spark, sf_dir, "orders")
    a = o.where(F.col("o_orderstatus") == "F").select("o_custkey")
    b = o.where(F.col("o_orderstatus") == "O").select("o_custkey")
    return a.intersectAll(b)


@query(
    "distinct_pairs",
    sql="SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders",
    tags=("setop", "distinct"),
)
def distinct_pairs(spark, sf_dir):
    """DISTINCT projection (exact dedup of a 2-column key)."""
    return _t(spark, sf_dir, "orders").select("o_orderstatus", "o_orderpriority").distinct()


@query("sample_seeded", sql=None, tags=("sampling",))
def sample_seeded(spark, sf_dir):
    """X1 seeded Bernoulli sample (reference train_intent.py:74).  Seeded ≠
    cross-engine reproducible → rows-only; the test asserts the fraction
    statistically."""
    return _t(spark, sf_dir, "orders").sample(fraction=0.1, seed=42)


@query("random_split", sql=None, tags=("sampling",))
def random_split(spark, sf_dir):
    """X3 randomSplit 80/20 (reference train_intent.py:91) — returns the
    train side tagged with its fraction; rows-only."""
    train, test = _t(spark, sf_dir, "orders").randomSplit([0.8, 0.2], seed=42)
    return train.select("o_orderkey", F.lit("train").alias("split")).unionByName(
        test.select("o_orderkey", F.lit("test").alias("split"))
    )


# ---------------------------------------------------------------------------
# O-family: sort / limit / top-k (reference O1-O3)
# ---------------------------------------------------------------------------


@query(
    "topk_global_orders",
    sql="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
    tags=("topk", "sort"),
)
def topk_global_orders(spark, sf_dir):
    """In-plan global top-k: orderBy+limit compiles to TakeOrderedAndProject
    (per-partition heaps, no full sort) — the O3 driver-side slicing done
    right."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), "o_orderkey")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(10)
    )


@query(
    "sort_by_aggregate",
    sql="""
    SELECT event_type, count(*) AS n FROM events
    GROUP BY event_type ORDER BY n DESC, event_type
    """,
    tags=("sort", "agg"),
)
def sort_by_aggregate(spark, sf_dir):
    """O1 sort-by-aggregate-desc (reference eda.ipynb cell 0)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").count().withColumnRenamed("count", "n").orderBy(
        F.desc("n"), "event_type"
    )


@query(
    "sketch_theta_set_ops",
    sql="""
    WITH u AS (
      SELECT user_id,
             max(CASE WHEN event_type = 'purchase' AND value > 300
                 THEN 1 ELSE 0 END) AS p,
             max(CASE WHEN event_type = 'error'
                       AND ts < TIMESTAMP '2024-01-08 00:00:00'
                 THEN 1 ELSE 0 END) AS e
      FROM events GROUP BY user_id
    )
    SELECT CAST(sum(p) AS BIGINT) AS n_purchasers,
           CAST(sum(e) AS BIGINT) AS n_error_users,
           CAST(sum(CASE WHEN p = 1 OR e = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_union,
           CAST(sum(p * e) AS BIGINT) AS n_overlap,
           CAST(sum(CASE WHEN p = 1 AND e = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clean_purchasers,
           CAST(TRUE AS BOOLEAN) AS theta_within_5pct
    FROM u
    """,
    tags=("agg", "approx", "sketch"),
)
def sketch_theta_set_ops(spark, sf_dir):
    """Audience-overlap algebra on Theta sketches (Spark 4 DataSketches):
    big-spender users ∪/∩/∖ early-error-affected users computed from two
    MERGEABLE sketches — the capability HLL lacks (no intersection /
    difference), and the way audience overlap is answered at 100 TB:
    per-partition/per-day sketches union in bytes, never re-scanning raw
    data.  Oracle-checked via the tolerance CONTRACT pattern
    (agg_approx_distinct): the output carries EXACT counts from one
    flag-aggregation pass plus a boolean asserting every sketch estimate
    landed within 5% (below k=2¹² retained hashes the sketch is exact,
    so the margin is pure safety); a drifting estimator flips the
    boolean and fails the driver hash."""
    ev = _t(spark, sf_dir, "events")
    big_purchase = (F.col("event_type") == "purchase") & (F.col("value") > 300)
    early_error = (F.col("event_type") == "error") & (
        F.col("ts") < F.lit("2024-01-08 00:00:00").cast("timestamp")
    )
    u = ev.groupBy("user_id").agg(
        F.max(F.when(big_purchase, 1).otherwise(0)).alias("p"),
        F.max(F.when(early_error, 1).otherwise(0)).alias("e"),
    )
    exact = u.agg(
        F.sum("p").cast("long").alias("n_purchasers"),
        F.sum("e").cast("long").alias("n_error_users"),
        F.sum(
            F.when((F.col("p") == 1) | (F.col("e") == 1), 1).otherwise(0)
        ).cast("long").alias("n_union"),
        F.sum(F.col("p") * F.col("e")).cast("long").alias("n_overlap"),
        F.sum(
            F.when((F.col("p") == 1) & (F.col("e") == 0), 1).otherwise(0)
        ).cast("long").alias("n_clean_purchasers"),
    )
    sk = (
        ev.agg(
            F.theta_sketch_agg(
                F.when(big_purchase, F.col("user_id"))
            ).alias("sk_p"),
            F.theta_sketch_agg(
                F.when(early_error, F.col("user_id"))
            ).alias("sk_e"),
        )
        .select(
            F.theta_sketch_estimate(F.col("sk_p")).alias("t_p"),
            F.theta_sketch_estimate(F.col("sk_e")).alias("t_e"),
            F.theta_sketch_estimate(
                F.theta_union(F.col("sk_p"), F.col("sk_e"))
            ).alias("t_union"),
            F.theta_sketch_estimate(
                F.theta_intersection(F.col("sk_p"), F.col("sk_e"))
            ).alias("t_overlap"),
            F.theta_sketch_estimate(
                F.theta_difference(F.col("sk_p"), F.col("sk_e"))
            ).alias("t_clean"),
        )
    )

    def close(est, ex):
        # absolute margin, no division: exact counts can legitimately be
        # zero (empty difference), and ANSI mode errors on /0
        exd = F.col(ex).cast("double")
        return F.abs(est - exd) <= F.greatest(F.lit(0.5), 0.05 * exd)

    return exact.crossJoin(F.broadcast(sk)).select(
        "n_purchasers",
        "n_error_users",
        "n_union",
        "n_overlap",
        "n_clean_purchasers",
        (
            close(F.col("t_p"), "n_purchasers")
            & close(F.col("t_e"), "n_error_users")
            & close(F.col("t_union"), "n_union")
            & close(F.col("t_overlap"), "n_overlap")
            & close(F.col("t_clean"), "n_clean_purchasers")
        ).alias("theta_within_5pct"),
    )


@query(
    "sketch_kll_value_quantiles",
    sql="""
    SELECT event_type,
           count(value) AS n_values,
           CAST(TRUE AS BOOLEAN) AS p50_rank_ok,
           CAST(TRUE AS BOOLEAN) AS p90_rank_ok
    FROM events GROUP BY event_type
    """,
    tags=("agg", "approx", "sketch"),
)
def sketch_kll_value_quantiles(spark, sf_dir):
    """Hierarchically-merged quantiles via KLL sketches (Spark 4
    DataSketches): one sketch per (event_type, day), folded day→total
    with ``kll_sketch_merge_double`` — the rollup shape that lets a
    100 TB store answer quantile queries from per-partition sketch bytes
    instead of re-scanning raw values (the quantile analog of the
    hypertable's mergeable HLL).  Oracle contract: KLL guarantees
    NORMALIZED RANK error (~1.7% at k=200), so the check computes each
    estimate's exact rank against the raw data and asserts
    |rank/n − q| ≤ 0.03; the estimates themselves are engine-specific
    and never leave the plan."""
    ev = _t(spark, sf_dir, "events")
    day = F.floor(F.unix_timestamp("ts") / 86400).cast("long")
    daily = ev.groupBy("event_type", day.alias("day")).agg(
        F.expr("kll_sketch_agg_double(value)").alias("sk")
    )
    merged = (
        daily.groupBy("event_type")
        .agg(F.collect_list("sk").alias("sks"))
        .select(
            "event_type",
            F.expr(
                "aggregate(slice(sks, 2, size(sks) - 1), sks[1],"
                " (acc, x) -> kll_sketch_merge_double(acc, x))"
            ).alias("sk"),
        )
        .select(
            "event_type",
            F.expr("kll_sketch_get_quantile_double(sk, 0.5)").alias("m50"),
            F.expr("kll_sketch_get_quantile_double(sk, 0.9)").alias("m90"),
        )
    )
    joined = ev.join(F.broadcast(merged), "event_type")
    return joined.groupBy("event_type").agg(
        F.count("value").alias("n_values"),
        (
            F.abs(
                F.sum(F.when(F.col("value") <= F.col("m50"), 1).otherwise(0))
                .cast("double")
                / F.count("value")
                - 0.5
            )
            <= 0.03
        ).alias("p50_rank_ok"),
        (
            F.abs(
                F.sum(F.when(F.col("value") <= F.col("m90"), 1).otherwise(0))
                .cast("double")
                / F.count("value")
                - 0.9
            )
            <= 0.03
        ).alias("p90_rank_ok"),
    )


@query(
    "sketch_topk_frequent_events",
    sql="""
    SELECT event_type,
           CAST(c AS BIGINT) AS est_count,
           CAST(c AS BIGINT) AS exact_count,
           CAST(TRUE AS BOOLEAN) AS est_exact
    FROM (SELECT event_type, count(*) AS c FROM events GROUP BY event_type
          ORDER BY c DESC, event_type LIMIT 3)
    """,
    tags=("topk", "approx", "sketch"),
)
def sketch_topk_frequent_events(spark, sf_dir):
    """Frequent-items top-3 via the Spark 4 ``approx_top_k`` sketch —
    the heavy-hitters answer at 100 TB: per-partition summaries merge in
    the agg, the raw column never re-scans.  Oracle-checked via the
    tolerance-contract pattern (sketch_theta_set_ops): with
    maxItemsTracked (10k) ≥ the column's NDV the sketch is EXACT, so the
    output carries the estimate, the exact count from a second
    aggregation pass, and an ``est_exact`` boolean — an estimator drift
    flips the boolean and fails the driver hash.  The k=3 cut is
    deterministic on the fixture (all event-type counts distinct, gap ≥2
    at every SF; ties at the boundary would be engine-arbitrary)."""
    ev = _t(spark, sf_dir, "events")
    est = (
        ev.agg(F.expr("approx_top_k(event_type, 3)").alias("tk"))
        .select(F.explode("tk").alias("t"))
        .select(
            F.col("t.item").alias("event_type"),
            F.col("t.count").cast("long").alias("est_count"),
        )
    )
    exact = ev.groupBy("event_type").agg(
        F.count("*").cast("long").alias("exact_count")
    )
    return est.join(F.broadcast(exact), "event_type").select(
        "event_type",
        "est_count",
        "exact_count",
        (F.col("est_count") == F.col("exact_count")).alias("est_exact"),
    )


# --- equi-depth decile profile --------------------------------------------

_DECILE_SQL = """
WITH o AS (
  SELECT o_orderkey,
         CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
  FROM orders
),
ranked AS (
  SELECT cents, ntile(10) OVER (ORDER BY cents, o_orderkey) AS decile
  FROM o
)
SELECT CAST(decile AS BIGINT) AS decile,
       CAST(count(*) AS BIGINT) AS n_orders,
       min(cents) AS lo_cents,
       max(cents) AS hi_cents,
       CAST(sum(cents) AS BIGINT) AS total_cents,
       CAST(sum(cents) AS DOUBLE) / count(*) AS avg_cents
FROM ranked GROUP BY decile
"""


@query("profile_decile_order_totals", sql=_DECILE_SQL, tags=("profile", "distribution"))
def profile_decile_order_totals(spark, sf_dir):
    """Equi-depth decile profile of order totals — the numeric-profiling
    summary (boundaries, counts, masses per 10%-bucket) that drives
    skew-aware partitioning choices and pricing dashboards.

    Deciles come from the in-plan ``operators/rank.inplan_global_rank``
    + bit-exact ``ntile_from_rank_n`` (never a single-reducer ntile);
    amounts are BIGINT cents on the portable floor
    grid so bucket boundaries, sums, and the one average division are
    exact."""
    from ..operators.rank import inplan_global_rank, ntile_from_rank_n

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long").alias("cents"),
    )
    ranked = inplan_global_rank(o, ["cents", "o_orderkey"], n_col="__n")
    return (
        ranked.withColumn(
            "decile", ntile_from_rank_n(F.col("__rank"), F.col("__n"), 10)
        )
        .groupBy("decile")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.min("cents").alias("lo_cents"),
            F.max("cents").alias("hi_cents"),
            F.sum("cents").cast("long").alias("total_cents"),
            (F.sum("cents").cast("double") / F.count("*")).alias("avg_cents"),
        )
    )


# --- ABC / Pareto revenue classification by brand -------------------------
# The inventory-management classic: rank brands by revenue, accumulate
# the share, and classify A (first 80% of revenue), B (to 95%), C (the
# tail).  Revenue is the exact decimal lineitem term joined through part
# (one fact-side shuffle; part is dimension-sized and AQE-broadcast at
# small SF); the brand rollup is tiny, so the ordered cumulative window
# runs over ~25 rows.  Every cumulative share is ONE division of exact
# DECIMAL sums, so the 0.80/0.95 class boundaries cut identically on
# both engines; ordering ties break on the brand string.

_ABC_SQL = """
WITH rev AS (
  SELECT p.p_brand AS brand,
         sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4)))
           AS r
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY p.p_brand
),
cum AS (
  SELECT brand, r,
         sum(r) OVER (ORDER BY r DESC, brand ROWS UNBOUNDED PRECEDING)
           AS cum_r,
         sum(r) OVER () AS total
  FROM rev
)
SELECT brand,
       CAST(r AS DOUBLE) AS revenue,
       round(CAST(cum_r AS DOUBLE) / CAST(total AS DOUBLE), 6)
         AS cum_revenue_share,
       CASE WHEN CAST(cum_r AS DOUBLE) / CAST(total AS DOUBLE) <= 0.80 THEN 'A'
            WHEN CAST(cum_r AS DOUBLE) / CAST(total AS DOUBLE) <= 0.95 THEN 'B'
            ELSE 'C' END AS abc_class
FROM cum
"""


@query("abc_brand_revenue", sql=_ABC_SQL, tags=("agg", "window", "analytics"))
def abc_brand_revenue(spark, sf_dir):
    """ABC (Pareto) revenue classification of part brands — see block
    comment."""
    from pyspark.sql import Window

    li = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part")
    term = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    rev = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(F.sum(term).alias("r"))
    )
    # brand rollup is ~25 rows: global ordered window is the right plan
    w_cum = Window.orderBy(F.desc("r"), "brand").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.partitionBy()
    share = F.col("cum_r").cast("double") / F.col("total").cast("double")
    return (
        rev.withColumn("cum_r", F.sum("r").over(w_cum))
        .withColumn("total", F.sum("r").over(w_all))
        .select(
            "brand",
            F.col("r").cast("double").alias("revenue"),
            F.round(share, 6).alias("cum_revenue_share"),
            F.when(share <= 0.80, "A")
            .when(share <= 0.95, "B")
            .otherwise("C")
            .alias("abc_class"),
        )
    )


# --- fulfillment-lag SLA by order priority --------------------------------
# Ops question: how long from order placement to FIRST shipment, and does
# priority actually buy speed?  Lag is exact integer days (epoch-day
# subtraction); per-priority p50/p90 are exact order statistics.  Scale
# shape (round 12): lag_days is a BOUNDED integer domain, so instead of a
# row_number window over the fact keyed by only 5 priorities (a 5-way
# near-single-reducer — the scaling audit's 2.87× line), the orders
# reduce to a (priority, lag_days) CELL table (map-side combined), and
# the ceil(q·n) order statistic is read off the cell cumulative counts:
# the value at rank ceil(q·n) in (lag, key) order is exactly the smallest
# lag whose cumulative count reaches ceil(q·n).  One order-keyed join
# shuffle + one fact-sized hash agg; every window runs on the cell table.

_SLA_SQL = """
WITH ship AS (
  SELECT o.o_orderpriority AS priority, o.o_orderkey,
         CAST(floor(epoch(min(l.l_shipdate)) / 86400) AS BIGINT)
           - CAST(floor(epoch(o.o_orderdate) / 86400) AS BIGINT)
           AS lag_days
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  GROUP BY o.o_orderpriority, o.o_orderkey, o.o_orderdate
),
ranked AS (
  SELECT priority, lag_days,
         row_number() OVER (PARTITION BY priority
                            ORDER BY lag_days, o_orderkey) AS rk,
         count(*) OVER (PARTITION BY priority) AS n
  FROM ship
)
SELECT priority,
       CAST(max(n) AS BIGINT) AS n_orders,
       CAST(min(lag_days) AS BIGINT) AS min_days,
       max(CASE WHEN rk = CAST(ceil(0.5 * n) AS BIGINT)
                THEN lag_days END) AS p50_days,
       max(CASE WHEN rk = CAST(ceil(0.9 * n) AS BIGINT)
                THEN lag_days END) AS p90_days,
       CAST(max(lag_days) AS BIGINT) AS max_days
FROM ranked GROUP BY priority
"""


@query("ops_fulfillment_lag_by_priority", sql=_SLA_SQL, tags=("join", "window", "analytics"))
def ops_fulfillment_lag_by_priority(spark, sf_dir):
    """Order-to-first-shipment lag percentiles per order priority — see
    block comment."""
    from pyspark.sql import Window

    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    day = lambda c: F.floor(F.unix_timestamp(c) / 86400).cast("long")  # noqa: E731
    ship = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy(
            F.col("o_orderpriority").alias("priority"),
            "o_orderkey",
            "o_orderdate",
        )
        .agg(F.min("l_shipdate").alias("first_ship"))
        .select(
            "priority",
            "o_orderkey",
            (day(F.col("first_ship")) - day(F.col("o_orderdate"))).alias(
                "lag_days"
            ),
        )
    )
    cells = ship.groupBy("priority", "lag_days").agg(
        F.count("*").cast("long").alias("c")
    )
    w_cum = (
        Window.partitionBy("priority")
        .orderBy("lag_days")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_n = Window.partitionBy("priority")
    cum = cells.withColumn("cum", F.sum("c").over(w_cum)).withColumn(
        "n", F.sum("c").over(w_n)
    )
    pick = lambda q: F.min(  # noqa: E731
        F.when(
            F.col("cum") >= F.ceil(F.lit(q) * F.col("n")).cast("long"),
            F.col("lag_days"),
        )
    )
    return cum.groupBy("priority").agg(
        F.max("n").cast("long").alias("n_orders"),
        F.min("lag_days").cast("long").alias("min_days"),
        pick(0.5).alias("p50_days"),
        pick(0.9).alias("p90_days"),
        F.max("lag_days").cast("long").alias("max_days"),
    )


# --- open-order backlog by month (sweep-line interval counting) -------------
# "How many orders were in flight at each month's end?" — interval
# counting WITHOUT a range join: each order contributes a +1 delta at its
# open month and a -1 at its last-ship month, and the backlog curve is
# one cumulative sum over the ~80-row month grid.  The alternative
# (months x orders interval join) is quadratic-ish and shuffles the fact
# per month; the sweep-line touches the corpus with ONE order-keyed
# aggregate (max ship date), one PK join, and one month rollup.  An
# order leaves the backlog in the month its LAST lineitem ships; all
# counts are exact BIGINTs.

_BACKLOG_SQL = """
WITH ship AS (
  SELECT l_orderkey, max(l_shipdate) AS last_ship
  FROM lineitem GROUP BY l_orderkey
),
spans AS (
  SELECT CAST(year(o.o_orderdate) * 12 + month(o.o_orderdate) AS BIGINT)
           AS om,
         CAST(year(s.last_ship) * 12 + month(s.last_ship) AS BIGINT) AS sm
  FROM orders o JOIN ship s ON o.o_orderkey = s.l_orderkey
),
delta AS (
  SELECT om AS month_key,
         CAST(count(*) AS BIGINT) AS n_opened,
         CAST(0 AS BIGINT) AS n_closed
  FROM spans GROUP BY om
  UNION ALL
  SELECT sm, CAST(0 AS BIGINT), CAST(count(*) AS BIGINT)
  FROM spans GROUP BY sm
),
m AS (
  SELECT month_key,
         CAST(sum(n_opened) AS BIGINT) AS n_opened,
         CAST(sum(n_closed) AS BIGINT) AS n_closed
  FROM delta GROUP BY month_key
)
SELECT month_key, n_opened, n_closed,
       CAST(sum(n_opened - n_closed) OVER (ORDER BY month_key) AS BIGINT)
         AS backlog_end
FROM m
"""


@query(
    "ops_open_orders_backlog",
    sql=_BACKLOG_SQL,
    tags=("window", "analytics", "timeseries"),
)
def ops_open_orders_backlog(spark, sf_dir):
    """Month-end open-order backlog via sweep-line +1/-1 deltas — see
    block comment."""
    from pyspark.sql import Window

    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    ship = li.groupBy("l_orderkey").agg(F.max("l_shipdate").alias("last_ship"))
    spans = orders.join(ship, orders.o_orderkey == ship.l_orderkey).select(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("long")
        .alias("om"),
        (F.year("last_ship") * 12 + F.month("last_ship"))
        .cast("long")
        .alias("sm"),
    )
    deltas = spans.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("om").alias("month_key"),
                    F.lit(1).cast("long").alias("o"),
                    F.lit(0).cast("long").alias("c"),
                ),
                F.struct(
                    F.col("sm").alias("month_key"),
                    F.lit(0).cast("long").alias("o"),
                    F.lit(1).cast("long").alias("c"),
                ),
            )
        ).alias("d")
    ).select("d.month_key", "d.o", "d.c")
    m = deltas.groupBy("month_key").agg(
        F.sum("o").cast("long").alias("n_opened"),
        F.sum("c").cast("long").alias("n_closed"),
    )
    w = Window.orderBy("month_key").rowsBetween(Window.unboundedPreceding, 0)
    return m.select(
        "month_key",
        "n_opened",
        "n_closed",
        F.sum(F.col("n_opened") - F.col("n_closed"))
        .over(w)
        .cast("long")
        .alias("backlog_end"),
    )


# --- generated date dimension + fiscal-quarter rollup -----------------------
# The warehouse's date dimension, generated IN-PLAN (no static table to
# load or drift): one sequence() explosion over the fixture's date range
# builds (day, year, quarter, month, is_month_end), and orders join it
# on the epoch-day key — broadcast, the dimension is calendar-sized.
# Rollup by (year, quarter) with exact decimal revenue.  At 100 TB the
# dimension is still ~36.5k rows/century: always broadcast, never a
# shuffle.

_DATEDIM_SQL = """
WITH bounds AS (
  SELECT CAST(floor(epoch(min(o_orderdate)) / 86400) AS BIGINT) AS d0,
         CAST(floor(epoch(max(o_orderdate)) / 86400) AS BIGINT) AS d1
  FROM orders
),
dim AS (
  SELECT d.day,
         CAST(year(to_timestamp(d.day * 86400)) AS BIGINT) AS y,
         CAST(quarter(to_timestamp(d.day * 86400)) AS BIGINT) AS q
  FROM (SELECT unnest(generate_series(d0, d1)) AS day FROM bounds) d
),
fact AS (
  SELECT CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) AS day,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
)
SELECT dim.y AS year, dim.q AS quarter,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(fact.cents) AS BIGINT) AS revenue_cents
FROM fact JOIN dim ON fact.day = dim.day
GROUP BY dim.y, dim.q
"""


@query(
    "date_dimension_quarter_rollup",
    sql=_DATEDIM_SQL,
    tags=("join", "agg", "temporal"),
)
def date_dimension_quarter_rollup(spark, sf_dir):
    """Quarterly order revenue through an in-plan GENERATED date
    dimension — see block comment."""
    orders = read_table(spark, sf_dir, "orders")
    day = F.floor(F.unix_timestamp("o_orderdate") / 86400).cast("long")
    bounds = orders.agg(
        F.min(day).alias("d0"), F.max(day).alias("d1")
    )
    dim = bounds.select(
        F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("day")
    ).select(
        "day",
        F.year(F.timestamp_seconds(F.col("day") * 86400)).cast("long").alias("y"),
        F.quarter(F.timestamp_seconds(F.col("day") * 86400))
        .cast("long")
        .alias("q"),
    )
    fact = orders.select(
        day.alias("day"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    return (
        fact.join(F.broadcast(dim), "day")
        .groupBy(F.col("y").alias("year"), F.col("q").alias("quarter"))
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("revenue_cents"),
        )
    )


# --- percent-of-parent hierarchical shares ----------------------------------
# The two-level BI rollup: each nation's revenue share WITHIN its region,
# and each region's share of the total — the percent-of-parent pattern
# (distinct from ABC's cumulative shares).  One fact reduction keyed by
# nation, two broadcast dimension hops, two partition-window sums over
# the 25-row nation grid; shares are single divisions on exact cents.

_POFP_SQL = """
WITH per_nation AS (
  SELECT c.c_nationkey AS nationkey,
         CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY c.c_nationkey
),
named AS (
  SELECT r.r_name AS region, n.n_name AS nation, p.cents
  FROM per_nation p
  JOIN nation n ON p.nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
),
shares AS (
  SELECT region, nation, cents,
         CAST(sum(cents) OVER (PARTITION BY region) AS BIGINT) AS region_cents,
         CAST(sum(cents) OVER () AS BIGINT) AS total_cents
  FROM named
)
SELECT region, nation, cents AS nation_cents, region_cents,
       CASE WHEN region_cents > 0
            THEN round(CAST(cents AS DOUBLE)
                       / CAST(region_cents AS DOUBLE), 6)
       END AS share_of_region,
       CASE WHEN total_cents > 0
            THEN round(CAST(region_cents AS DOUBLE)
                       / CAST(total_cents AS DOUBLE), 6)
       END AS region_share_of_total
FROM shares
"""


@query(
    "agg_percent_of_parent",
    sql=_POFP_SQL,
    tags=("agg", "window", "analytics"),
)
def agg_percent_of_parent(spark, sf_dir):
    """Nation-within-region percent-of-parent revenue shares — see block
    comment."""
    from pyspark.sql import Window

    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    # customer is SF-sized (unbounded at scale) — no broadcast hint; AQE
    # broadcasts the 2-col projection when small, key-shuffles otherwise
    per_nation = (
        orders.join(
            cust.select("c_custkey", "c_nationkey"),
            orders.o_custkey == cust.c_custkey,
        )
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
            )
            .cast("long")
            .alias("cents")
        )
    )
    named = (
        per_nation.join(
            F.broadcast(nation), per_nation.nationkey == nation.n_nationkey
        )
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(
            F.col("r_name").alias("region"),
            F.col("n_name").alias("nation"),
            "cents",
        )
    )
    wr = Window.partitionBy("region")
    wt = Window.partitionBy()
    shares = named.select(
        "region",
        "nation",
        "cents",
        F.sum("cents").over(wr).cast("long").alias("region_cents"),
        F.sum("cents").over(wt).cast("long").alias("total_cents"),
    )
    return shares.select(
        "region",
        "nation",
        F.col("cents").alias("nation_cents"),
        "region_cents",
        F.when(
            F.col("region_cents") > 0,
            F.round(
                F.col("cents").cast("double")
                / F.col("region_cents").cast("double"),
                6,
            ),
        ).alias("share_of_region"),
        F.when(
            F.col("total_cents") > 0,
            F.round(
                F.col("region_cents").cast("double")
                / F.col("total_cents").cast("double"),
                6,
            ),
        ).alias("region_share_of_total"),
    )


# --- bitmask aggregation (daily behavior-profile sets) ----------------------
# Event-type sets as BIGINT bitmasks: each (user, day)'s behavior profile
# is the bit-OR of per-type flags — the bitmap-set pattern behind feature
# flags and audience segmentation (a 5-bit mask here; 64 types fit one
# BIGINT).  The DAILY grain is what makes the distribution informative
# (lifetime masks saturate to all-bits for every active user).  One
# keyed bit_or aggregate, then a mask-distribution rollup; zero floats,
# zero strings past the first projection.

_BITMASK_SQL = """
WITH flagged AS (
  SELECT user_id,
         CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
         CAST(CASE event_type
              WHEN 'view' THEN 1 WHEN 'click' THEN 2 WHEN 'signup' THEN 4
              WHEN 'purchase' THEN 8 WHEN 'error' THEN 16
              ELSE 0 END AS BIGINT) AS flag
  FROM events
),
masks AS (
  SELECT user_id, day, CAST(bit_or(flag) AS BIGINT) AS mask
  FROM flagged GROUP BY user_id, day
)
SELECT mask,
       CAST(count(*) AS BIGINT) AS n_user_days,
       CAST(mask & 8 > 0 AS BOOLEAN) AS has_purchase,
       CAST(mask & 16 > 0 AS BOOLEAN) AS has_error
FROM masks GROUP BY mask
"""


@query("agg_bitmask_event_types", sql=_BITMASK_SQL, tags=("agg",))
def agg_bitmask_event_types(spark, sf_dir):
    """Per-user-day event-type bitmask profiles and their distribution —
    see block comment."""
    ev = read_table(spark, sf_dir, "events")
    flag = (
        F.when(F.col("event_type") == "view", 1)
        .when(F.col("event_type") == "click", 2)
        .when(F.col("event_type") == "signup", 4)
        .when(F.col("event_type") == "purchase", 8)
        .when(F.col("event_type") == "error", 16)
        .otherwise(0)
        .cast("long")
    )
    day = F.floor(F.unix_timestamp("ts") / 86400).cast("long")
    masks = (
        ev.select("user_id", day.alias("day"), flag.alias("flag"))
        .groupBy("user_id", "day")
        .agg(F.bit_or("flag").cast("long").alias("mask"))
    )
    return masks.groupBy("mask").agg(
        F.count("*").cast("long").alias("n_user_days"),
        (F.col("mask").bitwiseAND(8) > 0).alias("has_purchase"),
        (F.col("mask").bitwiseAND(16) > 0).alias("has_error"),
    )


# --- business-day ship-window span -------------------------------------------
# The SLA metric finance actually reports: how many BUSINESS days an
# order's shipping window spans (first to last lineitem ship, weekends
# excluded), per order priority.  Weekend exclusion is a CLOSED FORM,
# not a calendar explode: with m = epoch_day + 3 (Monday-indexed; epoch
# day 0 was a Thursday), weekdays in [0, m] are g(m) = (m // 7)*5 +
# least(m % 7 + 1, 5), and the span over (a, b] is g(b+3) - g(a+3) —
# pure positive-integer arithmetic, identical on both engines
# (property-validated against a calendar brute force).  One order-keyed
# min/max aggregate + one PK join + one 5-group rollup.  (The fixture
# draws o_orderdate independently of ship dates, so the order->ship lag
# is not causally meaningful here; the within-order ship window is.)

_BDAY_SQL = """
WITH ship AS (
  SELECT l_orderkey,
         min(l_shipdate) AS first_ship,
         max(l_shipdate) AS last_ship
  FROM lineitem GROUP BY l_orderkey
),
lags AS (
  SELECT o.o_orderpriority,
         ((CAST(floor(epoch(s.last_ship) / 86400) AS BIGINT) + 3) // 7) * 5
           + least((CAST(floor(epoch(s.last_ship) / 86400) AS BIGINT) + 3)
                   % 7 + 1, 5)
         - (((CAST(floor(epoch(s.first_ship) / 86400) AS BIGINT) + 3) // 7)
            * 5
            + least((CAST(floor(epoch(s.first_ship) / 86400) AS BIGINT) + 3)
                    % 7 + 1, 5)) AS bd
  FROM orders o JOIN ship s ON o.o_orderkey = s.l_orderkey
)
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(CAST(sum(bd) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
         AS avg_business_days,
       CAST(max(bd) AS BIGINT) AS max_business_days
FROM lags GROUP BY o_orderpriority
"""


@query(
    "ops_business_days_lag",
    sql=_BDAY_SQL,
    tags=("join", "agg", "temporal", "analytics"),
)
def ops_business_days_lag(spark, sf_dir):
    """First-to-last-ship span in business days per priority — see block
    comment for the closed-form weekend exclusion."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")

    def gdays(ts_col):
        m = F.floor(F.unix_timestamp(ts_col) / 86400).cast("long") + 3
        return (F.floor(m / 7) * 5 + F.least(m % 7 + 1, F.lit(5))).cast(
            "long"
        )

    ship = li.groupBy("l_orderkey").agg(
        F.min("l_shipdate").alias("first_ship"),
        F.max("l_shipdate").alias("last_ship"),
    )
    lags = orders.join(ship, orders.o_orderkey == ship.l_orderkey).select(
        "o_orderpriority",
        (gdays("last_ship") - gdays("first_ship")).alias("bd"),
    )
    return lags.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.round(
            F.sum("bd").cast("double") / F.count("*").cast("double"), 6
        ).alias("avg_business_days"),
        F.max("bd").cast("long").alias("max_business_days"),
    )


# --- equi-width histogram of order totals ------------------------------------
# The equi-WIDTH companion to profile_decile_order_totals' equi-depth
# cut: 20 fixed-width cent buckets between the observed min and max.
# Bucket width is an INTEGER ceil ((max-min+1+K-1)//K) so membership is
# pure integer floor division — no float boundary can flip a row between
# engines.  Two scans (bounds, then bucket rollup) with the 2-value
# bounds row broadcast; the bucket table is K rows.

_EQWIDTH_K = 20

_EQWIDTH_SQL = f"""
WITH cents AS (
  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c FROM orders
),
bounds AS (
  SELECT CAST(min(c) AS BIGINT) AS lo, CAST(max(c) AS BIGINT) AS hi
  FROM cents
),
w AS (
  SELECT lo, hi,
         CAST((hi - lo + {_EQWIDTH_K}) // {_EQWIDTH_K} AS BIGINT) AS width
  FROM bounds
)
SELECT CAST((c.c - w.lo) // w.width AS BIGINT) AS bucket,
       CAST(w.lo + ((c.c - w.lo) // w.width) * w.width AS BIGINT)
         AS bucket_lo_cents,
       CAST(w.lo + ((c.c - w.lo) // w.width + 1) * w.width - 1 AS BIGINT)
         AS bucket_hi_cents,
       CAST(count(*) AS BIGINT) AS n_orders
FROM cents c CROSS JOIN w
GROUP BY bucket, bucket_lo_cents, bucket_hi_cents
"""


@query(
    "profile_equiwidth_histogram",
    sql=_EQWIDTH_SQL,
    tags=("agg", "eda", "profile"),
)
def profile_equiwidth_histogram(spark, sf_dir):
    """20-bucket equi-width histogram of order totals — see block
    comment for the integer-exact bucket rule."""
    orders = read_table(spark, sf_dir, "orders")
    cents = orders.select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("c")
    )
    bounds = cents.agg(
        F.min("c").cast("long").alias("lo"), F.max("c").cast("long").alias("hi")
    ).select(
        "lo",
        "hi",
        F.floor((F.col("hi") - F.col("lo") + _EQWIDTH_K) / _EQWIDTH_K)
        .cast("long")
        .alias("width"),
    )
    j = cents.crossJoin(F.broadcast(bounds))
    bucket = F.floor((F.col("c") - F.col("lo")) / F.col("width")).cast("long")
    return j.groupBy(
        bucket.alias("bucket"),
        (F.col("lo") + bucket * F.col("width"))
        .cast("long")
        .alias("bucket_lo_cents"),
        (F.col("lo") + (bucket + 1) * F.col("width") - 1)
        .cast("long")
        .alias("bucket_hi_cents"),
    ).agg(F.count("*").cast("long").alias("n_orders"))


@query(
    "window_pctrank_cumedist",
    sql="""
    SELECT o_custkey, o_orderkey, o_totalprice,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume_dist
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice)
    """,
    tags=("window", "distribution"),
)
def window_pctrank_cumedist(spark, sf_dir):
    """percent_rank + cume_dist of each order's price within its customer:
    the distribution-position window pair (how expensive was this order
    FOR THIS customer?).  Both are tie-aware — equal prices share a
    position, so no tie-break is needed for the VALUES — and both reduce
    to exact integer counts with one IEEE division each ((rank-1)/(n-1),
    peers_cum/n), so no rounding.  Partitioned by the high-cardinality
    customer key: per-partition rows are assortment-sized (tens), never a
    table-wide reducer."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice")
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume_dist"),
    )
