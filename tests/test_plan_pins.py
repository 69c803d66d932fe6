"""Physical-plan pins for the semantic-dedup / ANN-audit / graph-edge
additions — shapes that make them viable at 100 TB.  Parity proves the
answers; these prove the plans (a cartesian pair scan or a join-based
edge build would still produce correct rows)."""

import re

import pytest


def _plan(registry, spark, sf_dir, name: str) -> str:
    spark.catalog.clearCache()
    df = registry[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_bnlj_only_cents(plan: str) -> None:
    """Every BroadcastNestedLoopJoin in the plan must be the intentional
    1-row broadcast centroid table of the broadcast-data centroid
    assignment (its build side scans the single-row __cents relation) —
    never a data-scale nested loop.  Pinned by count equality: one
    __cents scan per nested-loop join."""
    n_bnlj = plan.count("BroadcastNestedLoopJoin")
    n_cents = len(re.findall(r"Scan ExistingRDD\[__cents", plan))
    assert n_bnlj == n_cents and n_bnlj > 0, (n_bnlj, n_cents, plan)


def test_semantic_dedup_pairs_are_cluster_equijoined(registry, spark, sf_dir):
    """The SemDeDup pair scan must be an equi-join on the cluster id —
    never an all-pairs cartesian/nested-loop — and the partner fan-out
    must be the single-pass explode (one pair-join operator in the whole
    plan; the union form would show two)."""
    plan = _plan(registry, spark, sf_dir, "dedup_semantic_clusters")
    assert "CartesianProduct" not in plan, plan
    # nested-loops only as the 1-row broadcast centroid table (r16)
    _assert_bnlj_only_cents(plan)
    n_joins = sum(plan.count(j) for j in
                  ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))
    # exactly 2: the cluster-keyed pair join + the final keep-flag join
    assert n_joins == 2, plan
    # corpus read three times (a-side, b-side, final stamp) — a regression
    # to the unioned partner form would make it five
    assert plan.count("embeddings.parquet") == 3, plan


def test_ndcg_audit_has_no_cartesian(registry, spark, sf_dir):
    plan = _plan(registry, spark, sf_dir, "ann_ivf_ndcg_audit")
    assert "CartesianProduct" not in plan, plan


def test_copurchase_edges_build_is_join_free(registry, spark, sf_dir):
    """The edge build is collect_set + in-codegen pair explosion: the
    degree-distribution plan must contain NO join operator at all (the
    old form self-joined the item list), and lineitem is scanned once."""
    plan = _plan(registry, spark, sf_dir, "graph_degree_distribution")
    assert "Join" not in plan, plan
    assert plan.count("lineitem.parquet") == 1, plan


def test_bm25_scans_corpus_twice_and_joins_broadcast(registry, spark, sf_dir):
    """BM25's only corpus reads are the postings build and the (N, avgdl)
    statistics row; df must come from the in-flight window count (a third
    scan means the idf branch re-derived postings).  The term filter and
    query mapping join as broadcasts; the sole nested-loop is the 1-row
    statistics crossJoin.  No fact-sized cartesian ever."""
    plan = _plan(registry, spark, sf_dir, "retrieval_bm25_topk")
    assert plan.count("documents.parquet") == 2, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan  # 1-row stats only
    assert plan.count("BroadcastHashJoin") == 2, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan


def test_snapshot_diff_is_one_shuffled_join_no_broadcast(registry, spark, sf_dir):
    """The differ compares two fact-sized snapshots: exactly one shuffled
    equi-join (sort-merge or shuffled-hash), and NO broadcast anywhere —
    a BroadcastHashJoin here would mean Spark was hinted to ship a whole
    snapshot to every executor, the thing that OOMs at 100 TB."""
    plan = _plan(registry, spark, sf_dir, "diff_snapshot_customers")
    n_shuffled = plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin")
    assert n_shuffled == 1, plan
    assert "BroadcastHashJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def _execution_plans(spark, run) -> list[str]:
    """Call ``run`` and return the physical plan (AQE's final one where it
    re-planned) of every SQL execution it started, oldest first.  Each
    execution keeps its own plan, so a lazy ``localCheckpoint`` that
    truncates the final frame's lineage cannot hide the plan that fed it."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark._jsc.sc().listenerBus()

    def newest_first():
        bus.waitUntilEmpty()
        for i in reversed(range(store.executionsCount())):
            yield store.executionsList(i, 1).head()

    last = next((e.executionId() for e in newest_first()), -1)
    mode = spark.conf.get("spark.sql.ui.explainMode")
    spark.conf.set("spark.sql.ui.explainMode", "simple")  # the tree form, as executedPlan prints
    try:
        run()
    finally:
        spark.conf.set("spark.sql.ui.explainMode", mode)
    plans = []
    for e in newest_first():
        if e.executionId() <= last:
            break
        plans.append(e.physicalPlanDescription())
    return plans[::-1]


def _assert_no_single_reducer_rank(name: str, plans: list[str], n_ranks: int) -> None:
    specs = set()
    for plan in plans:
        # a SinglePartition exchange is allowed ONLY as a 1-row scalar
        # reduction (rfm's broadcast anchor date); one feeding a
        # Sort/Window would be the single-reducer regression
        lines = plan.splitlines()
        for i, ln in enumerate(lines):
            if "Exchange SinglePartition" in ln:
                nxt = lines[i + 1] if i + 1 < len(lines) else ""
                assert "HashAggregate(keys=[]" in nxt, (name, ln, nxt)
        # every window is the bounded local row_number partitioned by __pid
        assert plan.count("windowspecdefinition(") == plan.count(
            "windowspecdefinition(__pid"
        ), (name, plan)
        specs |= set(re.findall(r"windowspecdefinition\(__pid#\d+", plan))
    # one DISTINCT window spec per rank call (AQE's initial and final plans,
    # and executions that share a subtree, repeat nodes)
    assert len(specs) == n_ranks, (name, specs, plans)


def _noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def test_rank_consumers_have_no_single_reducer_exchange(registry, spark, sf_dir):
    """Every consumer of the global-rank operators exists precisely to
    avoid a global Window.orderBy — whose plan signature is an Exchange
    SinglePartition funneling the dataset through one task.  A regression
    to a naive ntile/row_number would reintroduce it.  ``inplan_global_rank``
    pins its range-partitioned input with a lazy ``localCheckpoint``, so a
    chain of ranks (rfm's three) spreads its windows over several SQL
    executions: the final frame's plan shows only the last.  The pin reads
    every execution the query runs; each rank contributes one window, the
    per-range-partition local row_number partitioned by __pid."""
    for name, n_ranks in (
        ("window_distribution", 1),
        ("rfm_customer_segments", 3),
        ("profile_decile_order_totals", 1),
    ):
        spark.catalog.clearCache()
        plans = _execution_plans(
            spark, lambda: _noop_write(registry[name].fn(spark, sf_dir)))
        _assert_no_single_reducer_rank(name, plans, n_ranks)


def test_rank_pin_fails_on_a_global_window(spark):
    """The pin above catches the regression it guards: next to one
    in-plan rank, which alone passes, a rank computed as a global
    ``Window.orderBy`` row_number fails it."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from big_data_analytics_project_spark.operators.rank import inplan_global_rank

    ranked = inplan_global_rank(spark.range(1000), ["id"])
    _assert_no_single_reducer_rank(
        "in-plan", _execution_plans(spark, lambda: _noop_write(ranked)), 1)
    planted = ranked.withColumn("__planted", F.row_number().over(Window.orderBy("id")))
    plans = _execution_plans(spark, lambda: _noop_write(planted))
    with pytest.raises(AssertionError, match="Exchange SinglePartition"):
        _assert_no_single_reducer_rank("planted", plans, 1)


def test_latency_single_partition_is_only_the_scalar_agg(registry, spark, sf_dir):
    """funnel_conversion_latency legitimately ends in a one-row scalar
    aggregate (ONE SinglePartition exchange over 3 percentile picks);
    more would mean the rank itself regressed to a global window."""
    plan = _plan(registry, spark, sf_dir, "funnel_conversion_latency")
    assert plan.count("Exchange SinglePartition") == 1, plan


def test_bucketed_join_has_no_exchange_between_scans_and_join(
    registry, spark, sf_dir
):
    """layout_bucketed_join's whole point: both sides pre-bucketed on the
    join key means the join needs NO shuffle.  Disable broadcast so the
    sort-merge path (the 100 TB shape) is what gets planned, and assert
    zero Exchange operators below the join."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    aqe_prev = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        plan = _plan(registry, spark, sf_dir, "layout_bucketed_join")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.conf.set("spark.sql.adaptive.enabled", aqe_prev)
    # everything at-or-below the join node: the join inputs must be
    # exchange-free (bucketed scans feed the SMJ directly).  The single
    # allowed Exchange in the full plan is the 5-group post-join
    # aggregation shuffle, which sits ABOVE the join node in the string.
    below_join = plan[plan.index("SortMergeJoin"):]
    assert below_join.count("Exchange") == 0, plan
    assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan, plan


def test_partition_pruned_scan_filters_at_partition_level(
    registry, spark, sf_dir
):
    """layout_partition_pruned_scan's day predicate must prune at the
    DIRECTORY level: the scan node carries it as a PartitionFilter and
    reads a single partition, never filtering day post-scan."""
    plan = _plan(registry, spark, sf_dir, "layout_partition_pruned_scan")
    assert "PartitionFilters: [" in plan, plan
    pf = plan[plan.index("PartitionFilters: ["):]
    pf = pf[:pf.index("]") + 1]
    # the day equality must prune directories (appear as a partition
    # filter), and the scan must also column-prune to the two used cols
    assert "(day#" in pf and "= " in pf, pf
    assert "ReadSchema: struct<user_id:bigint,event_type:string>" in plan, plan


def test_runtime_key_pushdown_reaches_the_fact_scan(registry, spark, sf_dir):
    """The collected dim keys must land INSIDE the lineitem scan node as
    a data-source IN/INSET filter (row-group skipping), with the scan
    column-pruned to the 5 referenced columns — a regression to a plain
    join would read the whole fact and show a join operator feeding the
    aggregate."""
    plan = _plan(registry, spark, sf_dir, "layout_runtime_key_pushdown")
    scan_lines = [
        l for l in plan.splitlines()
        if "FileScan" in l and "lineitem" in l.lower() or
           ("FileScan" in l and "l_orderkey" in l)
    ]
    assert scan_lines, plan
    scan = scan_lines[0]
    # tiny fixtures can collapse the IN list to a single EqualTo — any of
    # these shapes proves the key filter reached the data source
    assert (
        "INSET" in scan
        or "In(l_orderkey" in scan
        or "EqualTo(l_orderkey" in scan
    ), scan
    # column pruning: the scan reads only what the aggregate needs
    assert "l_shipdate" not in scan and "l_quantity" not in scan, scan


def test_text_topk_vocab_cut_is_takeordered(registry, spark, sf_dir):
    """text_zipf_slope and text_term_burstiness cut the vocabulary to
    top-K via orderBy+limit (TakeOrderedAndProject, per-partition pruned)
    — a regression to the old partitionless row_number would funnel the
    FULL term table through one reducer (VERDICT r8 item 2).  Any window
    in the plan must therefore sit above the limit (zipf ranks its K
    survivors), never below a global sort of the vocabulary."""
    for name in ("text_zipf_slope", "text_term_burstiness"):
        plan = _plan(registry, spark, sf_dir, name)
        assert "TakeOrderedAndProject" in plan, (name, plan)
        # no partitionless window BELOW the top-K cut: a window operator,
        # if present, must consume the TakeOrdered output (appear before
        # it in the top-down plan string)
        if "Window" in plan:
            assert plan.index("Window") < plan.index("TakeOrderedAndProject"), (
                name,
                plan,
            )


def test_gram_audits_have_no_join(registry, spark, sf_dir):
    """text_ngram_novelty and dedup_exact_substring_shingles attribute
    per-gram facts via ONE gram-partitioned window after an in-map
    array_distinct — a regression to the distinct + groupBy + join-back
    form would show a join operator and a third exchange."""
    for name in ("text_ngram_novelty", "dedup_exact_substring_shingles"):
        plan = _plan(registry, spark, sf_dir, name)
        assert "Join" not in plan, (name, plan)
        # shingles budget is 4 since round 10: winnow_fingerprints spends
        # one deliberate doc_id repartition to spread the CPU-bound dense
        # md5 kernel when the scan yields fewer splits than cores (never
        # fires at scale); novelty keeps the original 3.
        budget = 4 if name == "dedup_exact_substring_shingles" else 3
        assert plan.count("Exchange") <= budget, (name, plan)


def test_kendall_cells_join_is_broadcast_only(registry, spark, sf_dir):
    """The tau-b cell×cell pair scan must be a broadcast nested loop over
    the value-domain-bounded cell table — never a shuffled cartesian."""
    plan = _plan(registry, spark, sf_dir, "stats_kendall_tau_cells")
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_pctrank_single_customer_exchange(registry, spark, sf_dir):
    """window_pctrank_cumedist is one hash exchange on the customer key
    feeding one window — no global sort, no second shuffle."""
    plan = _plan(registry, spark, sf_dir, "window_pctrank_cumedist")
    assert plan.count("Exchange") == 1, plan
    assert "Window" in plan, plan


def test_mann_kendall_pair_scan_is_broadcast_only(registry, spark, sf_dir):
    """The Mann-Kendall month-pair scan must stay a broadcast nested loop
    over the month-domain-bounded cell table — never a shuffled cartesian
    (same bounding argument as Kendall tau-b)."""
    plan = _plan(registry, spark, sf_dir, "stats_mann_kendall_monthly")
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_substring_pair_join_is_fp_equi(registry, spark, sf_dir):
    """dedup_substring_pair_overlap's pair stage must be an equi-join on
    the fingerprint (df-capped buckets), never a cartesian — a regression
    to pairing before the fp key would explode quadratically."""
    plan = _plan(registry, spark, sf_dir, "dedup_substring_pair_overlap")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def _analyzed(registry, spark, sf_dir, name: str) -> str:
    spark.catalog.clearCache()
    df = registry[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().analyzed().toString()


def test_graph_moment_joins_are_hint_free(registry, spark, sf_dir):
    """Node- and part-sized dims (degrees, labels, item frequencies) must
    NOT carry explicit broadcast hints — at 100 TB they outgrow any
    executor, so the scale-adaptive plan is hint-free (AQE broadcasts
    when small, key-shuffles when not).  Only 1-row aggregates may keep a
    hint.  Pins the round-11 policy so a convenience hint can't creep
    back in."""
    # assortativity: degree joins only, no 1-row crossJoin -> zero hints
    assert "ResolvedHint" not in _analyzed(
        registry, spark, sf_dir, "graph_assortativity"
    )
    # modularity: the single permitted hint is the 1-row edge total m
    assert _analyzed(
        registry, spark, sf_dir, "graph_modularity_brands"
    ).count("ResolvedHint") == 1
    # basket rules: the single permitted hint is the 1-row basket total n
    assert _analyzed(
        registry, spark, sf_dir, "basket_association_rules"
    ).count("ResolvedHint") == 1
    # sequential patterns: part-sized first-purchase counts, zero hints
    assert "ResolvedHint" not in _analyzed(
        registry, spark, sf_dir, "basket_sequential_patterns"
    )
    # percent-of-parent: customer is SF-sized; only the fixed 25-nation /
    # 5-region dims (bounded domains) may stay hinted
    assert _analyzed(
        registry, spark, sf_dir, "agg_percent_of_parent"
    ).count("ResolvedHint") == 2


def test_band_index_probe_is_bucket_equijoin(registry, spark, sf_dir):
    """dedup_near_against_band_index's candidate stage must be equi-joins
    on (band, key) / doc ids — never a cartesian or nested loop — so the
    probe cost stays bucket-bounded; and the band index must actually be
    READ BACK from its parquet artifact (the persisted-index shape), not
    recomputed from the corpus."""
    # widen metadata rendering: the warehouse-rooted scratch path is longer
    # than the 100-char default and would truncate before the /band_index
    # leaf the scan-anchored assertion needs
    prev = spark.conf.get("spark.sql.maxMetadataStringLength")
    spark.conf.set("spark.sql.maxMetadataStringLength", "400")
    try:
        plan = _plan(registry, spark, sf_dir, "dedup_near_against_band_index")
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", prev)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # the read-back must be a parquet FILE SCAN over the index artifact —
    # anchoring to the scan node's Location (not a bare substring,
    # ADVICE r11) so an incidental 'band_index' token elsewhere in the
    # plan can't satisfy the pin
    assert re.search(r"FileScan parquet[^\n]*Location:[^\n]*/band_index", plan), plan


def test_posting_index_probe_prunes_partitions(registry, spark, sf_dir):
    """ann_ivf_against_posting_index must (a) read the corpus side back
    from its persisted parquet artifact, (b) equi-join on the list id —
    never cartesian/nested-loop — and (c) hit the PARTITIONED layout with
    dynamic partition pruning, so a probe touching nprobe of 16 lists
    skips the other partitions at scan time (the 100 TB serving shape)."""
    prev = spark.conf.get("spark.sql.maxMetadataStringLength")
    spark.conf.set("spark.sql.maxMetadataStringLength", "400")
    try:
        plan = _plan(registry, spark, sf_dir, "ann_ivf_against_posting_index")
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", prev)
    assert "CartesianProduct" not in plan, plan
    # nested-loops are expected and intentional ONLY as the 1-row
    # broadcast centroid table of the r16 broadcast-data assignment
    # (plan-size O(1) in C; appears once more inside the DPP subquery);
    # the probe join itself must stay an equi-join
    _assert_bnlj_only_cents(plan)
    m = re.search(r"FileScan parquet[^\n]*/posting_index[^\n]*", plan)
    assert m, plan  # read-back scan over the persisted artifact
    scan_line = m.group(0)
    assert "dynamicpruningexpression" in scan_line, scan_line


def test_fulfillment_percentiles_run_on_the_cell_table(registry, spark, sf_dir):
    """ops_fulfillment_lag_by_priority's p50/p90 must come from cumulative
    counts over the (priority, lag_days) CELL reduction — never a
    row_number window over the per-order fact keyed by only 5 priorities
    (a 5-way near-single-reducer at scale; the round-12 rewrite)."""
    plan = _plan(registry, spark, sf_dir, "ops_fulfillment_lag_by_priority")
    assert "row_number" not in plan, plan  # the rank-pick form regressed
    # the cell aggregation's exchange feeds the windows
    assert re.search(r"hashpartitioning\(priority#\d+, lag_days#\d+", plan), plan


def test_band_index_append_probes_merged_partitions(registry, spark, sf_dir):
    """dedup_band_index_incremental_append's probe must (a) read the
    band rows back from the gen-partitioned parquet artifact (partition
    column `gen` present in the scan, so the per-generation match split
    comes from the PHYSICAL layout), and (b) stay equi-joined — never
    cartesian/nested-loop — so probe cost is bucket-bounded regardless
    of how many generations have been appended."""
    prev = spark.conf.get("spark.sql.maxMetadataStringLength")
    spark.conf.set("spark.sql.maxMetadataStringLength", "400")
    try:
        plan = _plan(
            registry, spark, sf_dir, "dedup_band_index_incremental_append"
        )
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", prev)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    m = re.search(r"FileScan parquet[^\n]*/band_index_gen[^\n]*", plan)
    assert m, plan  # read-back over the appended artifact
    assert re.search(r"PartitionFilters|gen#\d+", m.group(0)), m.group(0)


def test_tombstone_delete_is_broadcast_anti_join(registry, spark, sf_dir):
    """dedup_band_index_tombstone_delete must hide tombstoned docs via a
    BROADCAST LeftAnti join against the O(|wave|) tombstone artifact
    (read back from parquet, not recomputed) — a shuffled anti-join
    would re-shuffle the whole index to drop 0.1% of rows."""
    prev = spark.conf.get("spark.sql.maxMetadataStringLength")
    spark.conf.set("spark.sql.maxMetadataStringLength", "400")
    try:
        plan = _plan(
            registry, spark, sf_dir, "dedup_band_index_tombstone_delete"
        )
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", prev)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert re.search(
        r"FileScan parquet[^\n]*/band_index_tombstones", plan
    ), plan
    assert re.search(r"BroadcastHashJoin[^\n]*LeftAnti", plan), plan


def test_band_index_compaction_probe_reads_band_partitioned_artifact(
    registry, spark, sf_dir
):
    """dedup_band_index_compaction's probe must read the REWRITTEN
    compacted artifact (band-partitioned parquet — the compaction's
    layout win: a probe bucket join prunes to its band's directory), must
    contain NO anti-join (tombstones retired by the fold, not re-applied
    at probe time), and must stay equi-joined — the whole point of
    compaction is that the probe plan looks like a fresh build's."""
    prev = spark.conf.get("spark.sql.maxMetadataStringLength")
    spark.conf.set("spark.sql.maxMetadataStringLength", "400")
    try:
        plan = _plan(registry, spark, sf_dir, "dedup_band_index_compaction")
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", prev)
    assert "CartesianProduct" not in plan, plan
    # exactly ONE BroadcastNestedLoopJoin is expected and intentional: the
    # 1-row `compacted_index_rows` audit scalar cross-joined onto the
    # probe surface — any other nested loop would be a real fan-out bug
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan
    m = re.search(r"FileScan parquet[^\n]*/band_index_compacted[^\n]*", plan)
    assert m, plan  # probe reads the compacted artifact, not the lived-in one
    # the band partition column must come from the PHYSICAL layout
    assert re.search(r"PartitionFilters|band#\d+", m.group(0)), m.group(0)
    # no anti-join survives compaction
    assert "LeftAnti" not in plan, plan


def test_posting_index_append_probes_merged_partitions(registry, spark, sf_dir):
    """ann_ivf_posting_index_append's probe must (a) read the posting
    rows back from the gen-partitioned parquet artifact (partition
    columns `gen`/`list_id` present in the scan, so `from_append` comes
    from the PHYSICAL layout), and (b) stay equi-joined (broadcast query
    side on list_id) — never cartesian/nested-loop — so probe cost is
    posting-list-bounded regardless of how many generations have been
    appended."""
    prev = spark.conf.get("spark.sql.maxMetadataStringLength")
    spark.conf.set("spark.sql.maxMetadataStringLength", "400")
    try:
        plan = _plan(registry, spark, sf_dir, "ann_ivf_posting_index_append")
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", prev)
    assert "CartesianProduct" not in plan, plan
    # nested-loops only as the 1-row broadcast centroid table (r16)
    _assert_bnlj_only_cents(plan)
    m = re.search(r"FileScan parquet[^\n]*/posting_index_gen[^\n]*", plan)
    assert m, plan  # read-back over the appended artifact
    assert re.search(r"PartitionFilters|gen#\d+", m.group(0)), m.group(0)


def test_posting_index_delete_probe_prunes_and_antijoins(registry, spark, sf_dir):
    """ann_ivf_posting_index_tombstone_delete must (a) hit the persisted
    list-partitioned artifact with dynamic partition pruning (the delete
    never disturbs the serving layout), (b) exclude tombstoned vectors
    via a broadcast LEFT ANTI join — never a cartesian/nested-loop —
    and (c) keep the probe join an equi-join on the list id."""
    prev = spark.conf.get("spark.sql.maxMetadataStringLength")
    spark.conf.set("spark.sql.maxMetadataStringLength", "400")
    try:
        plan = _plan(
            registry, spark, sf_dir, "ann_ivf_posting_index_tombstone_delete"
        )
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", prev)
    assert "CartesianProduct" not in plan, plan
    m = re.search(r"FileScan parquet[^\n]*/posting_index_del[^\n]*", plan)
    assert m, plan  # read-back scan over the persisted artifact
    assert "dynamicpruningexpression" in m.group(0), m.group(0)
    assert re.search(r"BroadcastHashJoin \[neighbor_id#\d+L?\][^\n]*LeftAnti", plan), plan


def test_posting_index_compaction_probe_has_no_antijoin(registry, spark, sf_dir):
    """ann_ivf_posting_index_compaction's probe must read the REWRITTEN
    single-generation artifact with dynamic partition pruning and carry
    ZERO anti-joins — retiring the per-probe tombstone anti-join is the
    point of compaction (the fold itself runs as a separate job before
    the returned plan)."""
    prev = spark.conf.get("spark.sql.maxMetadataStringLength")
    spark.conf.set("spark.sql.maxMetadataStringLength", "400")
    try:
        plan = _plan(
            registry, spark, sf_dir, "ann_ivf_posting_index_compaction"
        )
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", prev)
    assert "CartesianProduct" not in plan, plan
    m = re.search(r"FileScan parquet[^\n]*/posting_index_compacted[^\n]*", plan)
    assert m, plan
    assert "dynamicpruningexpression" in m.group(0), m.group(0)
    assert "LeftAnti" not in plan, plan


def test_streaming_ingest_probe_prunes_and_counts_broadcast(
    registry, spark, sf_dir
):
    """streaming_ivf_posting_index_ingest's probe must read the
    stream-built artifact back with dynamic partition pruning on the
    list id (each batch_id=N directory is list_id-sub-partitioned,
    so the serving layout survives streaming ingest), keep the probe an
    equi-join (no cartesian pair scan), and attach the
    streamed_index_rows audit scalar as a broadcast 1-row join."""
    prev = spark.conf.get("spark.sql.maxMetadataStringLength")
    spark.conf.set("spark.sql.maxMetadataStringLength", "400")
    try:
        plan = _plan(
            registry, spark, sf_dir, "streaming_ivf_posting_index_ingest"
        )
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", prev)
    assert "CartesianProduct" not in plan, plan
    m = re.search(r"FileScan parquet[^\n]*/posting_index_stream[^\n]*", plan)
    assert m, plan  # read-back scan over the stream-built artifact
    assert "dynamicpruningexpression" in m.group(0), m.group(0)
