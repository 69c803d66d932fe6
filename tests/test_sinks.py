"""Partitioned parquet sink round-trip + pruning behavior."""

import os

import pyspark.sql.functions as F

from big_data_analytics_project_spark.sources import read_table
from big_data_analytics_project_spark.sources.sinks import (
    date_partitioned,
    read_parquet,
    write_partitioned,
)


def test_partitioned_write_roundtrip_and_pruning(spark, sf_dir, tmp_path):
    out = str(tmp_path / "events_pt")
    ev = date_partitioned(read_table(spark, sf_dir, "events"), "ts")
    write_partitioned(ev, out, ["pt_month"])

    # directory layout: one subdir per month, few files per partition
    subdirs = [d for d in os.listdir(out) if d.startswith("pt_month=")]
    assert len(subdirs) >= 1
    for d in subdirs:
        files = [f for f in os.listdir(os.path.join(out, d)) if f.endswith(".parquet")]
        assert 1 <= len(files) <= 4  # layout-aligned repartition, no file explosion

    back = read_parquet(spark, out)
    assert back.count() == ev.count()

    # partition filter must prune directories (PartitionFilters, zero data read
    # from other months)
    month = sorted(s.split("=")[1] for s in subdirs)[0]
    q = back.where(F.col("pt_month") == month)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "pt_month" in plan


def test_bucketed_join_is_exchange_free(spark, sf_dir, tmp_path):
    """Two tables bucketed on the join key with equal bucket counts must
    join with ZERO Exchange operators — the co-located fact-fact join
    layout that removes both full-table shuffles at 100 TB."""
    from big_data_analytics_project_spark.sources.sinks import write_bucketed

    orders = read_table(spark, sf_dir, "orders")
    items = read_table(spark, sf_dir, "lineitem")
    try:
        write_bucketed(orders, "t_orders_b", ["o_orderkey"], 8, ["o_orderkey"])
        write_bucketed(items, "t_items_b", ["l_orderkey"], 8, ["l_orderkey"])
        o = spark.table("t_orders_b")
        li = spark.table("t_items_b")
        # force the SMJ path (broadcast would hide the bucketing property)
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = o.join(li, o.o_orderkey == li.l_orderkey).select(
                "o_orderkey", "l_extendedprice"
            )
            n = j.count()
            plan = j._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        assert n == items.join(orders, orders.o_orderkey == items.l_orderkey).count()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
    finally:
        # managed tables: DROP removes the warehouse files too
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_items_b")
        import shutil

        shutil.rmtree("spark-warehouse", ignore_errors=True)


def test_flagship_plan_shape_regression(spark, sf_dir):
    """The flagship must keep its single-exchange shape: one hash exchange
    shared by the window and the aggregate (SURVEY §4 physical plan)."""
    from big_data_analytics_project_spark.registry import load_all

    # other tests may have cached the flagship plan (CacheManager would
    # rightly substitute an InMemoryTableScan); assert on the cold plan
    spark.catalog.clearCache()
    df = load_all()["flagship_sessionization"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "Window" in plan


def test_session_has_graceful_streaming_confs(spark):
    """T8: the session factory bakes in the reference's streaming shutdown
    hygiene (stream_processor.py:106-107)."""
    assert spark.conf.get("spark.streaming.stopGracefullyOnShutdown") == "true"
    assert (
        spark.conf.get("spark.sql.streaming.forceDeleteTempCheckpointLocation")
        == "true"
    )


def test_data_dir_auto_detection(tmp_path, monkeypatch):
    """U2: priority-list probe, env-var short-circuit, and the error fall-
    through (reference config.py:24-53)."""
    from big_data_analytics_project_spark.sources import detect_data_dir

    monkeypatch.delenv("SPARK_GRAFT_SF_DIR", raising=False)
    a, b = tmp_path / "a", tmp_path / "b"
    a.mkdir(), b.mkdir()
    (b / "events.parquet").write_bytes(b"")
    assert detect_data_dir((str(a), str(b))) == str(b)  # first WITH the table
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/custom/sf9")
    assert detect_data_dir((str(a), str(b))) == "/custom/sf9"  # env wins
    monkeypatch.delenv("SPARK_GRAFT_SF_DIR")
    import pytest

    with pytest.raises(FileNotFoundError):
        detect_data_dir((str(a),))


def test_orc_roundtrip_and_pushdown(spark, sf_dir, tmp_path):
    """ORC write → read must roundtrip values exactly (µs timestamps,
    doubles, nulls) and push filters into the scan."""
    from big_data_analytics_project_spark.sources.sinks import read_orc, write_orc

    ev = read_table(spark, sf_dir, "events")
    out = str(tmp_path / "events_orc")
    write_orc(ev, out)
    back = read_orc(spark, out)
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in ev.collect()}

    plan = (
        back.where(F.col("event_type") == "purchase")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters: [" in plan and "event_type" in plan.split("PushedFilters")[1][:120]


def test_compact_parquet_shrinks_file_count(spark, sf_dir, tmp_path):
    from big_data_analytics_project_spark.sources.sinks import compact_parquet

    ev = read_table(spark, sf_dir, "events")
    frag = str(tmp_path / "fragmented")
    ev.repartition(64).write.parquet(frag)  # simulate a small-files mess
    n_small = len([f for f in os.listdir(frag) if f.endswith(".parquet")])
    assert n_small >= 60

    compacted = str(tmp_path / "compacted")
    compact_parquet(spark, frag, compacted, target_file_bytes=8 * 1024 * 1024)
    n_big = len([f for f in os.listdir(compacted) if f.endswith(".parquet")])
    assert n_big < n_small / 10
    back = spark.read.parquet(compacted)
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in ev.collect()}


def test_jsonl_shard_export_roundtrip(spark, sf_dir, tmp_path):
    """JSONL export: shard-count control, deterministic keyed placement,
    exact value roundtrip under an explicit schema."""
    from big_data_analytics_project_spark.sources.sinks import (
        read_jsonl,
        write_jsonl_shards,
    )

    docs = read_table(spark, sf_dir, "documents")
    out = str(tmp_path / "docs_jsonl")
    write_jsonl_shards(docs, out, n_shards=4, shard_key="doc_id")

    import glob

    parts = glob.glob(os.path.join(out, "part-*"))
    assert len(parts) == 4  # shard-count control, no small-files explosion

    back = read_jsonl(spark, out, schema=docs.schema)
    assert back.schema == docs.schema
    a = {tuple(r) for r in docs.collect()}
    b = {tuple(r) for r in back.collect()}
    assert a == b

    # keyed placement is deterministic: same key -> same shard across runs
    out2 = str(tmp_path / "docs_jsonl2")
    write_jsonl_shards(docs, out2, n_shards=4, shard_key="doc_id")
    def shard_map(p):
        m = {}
        for i, f in enumerate(sorted(glob.glob(os.path.join(p, "part-*")))):
            with open(f) as fh:
                for line in fh:
                    import json as _json

                    m[_json.loads(line)["doc_id"]] = i
        return m
    assert shard_map(out) == shard_map(out2)


def test_dynamic_partition_overwrite_replaces_only_touched(spark, sf_dir, tmp_path):
    """A backfill write with partitionOverwriteMode=dynamic must replace
    ONLY the partitions present in the incoming frame; static mode would
    truncate the whole dataset first."""
    from big_data_analytics_project_spark.sources.sinks import (
        overwrite_partitions_dynamic,
    )

    out = str(tmp_path / "orders_by_status")
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    write_partitioned(orders, out, ["o_orderstatus"])
    before = {
        r["o_orderstatus"]: r["n"]
        for r in read_parquet(spark, out).groupBy("o_orderstatus").agg(
            F.count("*").alias("n")
        ).collect()
    }
    assert len(before) >= 2

    # restate ONE partition with half its rows
    target = sorted(before)[0]
    patch = (
        read_parquet(spark, out)
        .where(F.col("o_orderstatus") == target)
        .where(F.col("o_orderkey") % 2 == 0)
        .persist()  # pin before writing over our own input files
    )
    n_patch = patch.count()
    overwrite_partitions_dynamic(patch, out, ["o_orderstatus"])
    patch.unpersist()

    after = {
        r["o_orderstatus"]: r["n"]
        for r in read_parquet(spark, out).groupBy("o_orderstatus").agg(
            F.count("*").alias("n")
        ).collect()
    }
    assert after[target] == n_patch  # replaced
    for k in before:
        if k != target:
            assert after[k] == before[k]  # untouched


def test_round6_additions_plan_shapes(spark, sf_dir):
    """Plan pins for the round-6 additions: the OOV coverage join must be
    broadcast (the vocab is top-K-sized — a sort-merge join would shuffle
    the whole token stream), the batching window must ride ONE exchange
    keyed by (bucket, shard), and the PSI cutoff join must be a broadcast
    of the 1-row aggregate."""
    from big_data_analytics_project_spark.registry import load_all

    spark.catalog.clearCache()
    reg = load_all()

    oov = reg["vocab_oov_rate"].fn(spark, sf_dir)
    oov_plan = oov._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in oov_plan, oov_plan
    # the corpus-side token stream never sort-merge-joins
    assert "SortMergeJoin" not in oov_plan, oov_plan

    batch = reg["batch_length_buckets"].fn(spark, sf_dir)
    bplan = batch._jdf.queryExecution().executedPlan().toString()
    assert bplan.count("Exchange") == 1, bplan
    assert "Window" in bplan

    psi = reg["drift_psi_bins"].fn(spark, sf_dir)
    pplan = psi._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in pplan or "BroadcastHashJoin" in pplan, pplan


def test_dynamic_partition_pruning_fires_on_partitioned_join(spark, sf_dir, tmp_path):
    """At 100 TB, joining a date-partitioned fact against a filtered dim
    must prune fact partitions AT RUNTIME from the dim's build side
    (Dynamic Partition Pruning) — without it the scan reads every
    partition and the join cost is the whole table.  Pin that Catalyst
    inserts the dynamicpruning subquery into the scan's
    PartitionFilters."""
    out = str(tmp_path / "events_by_day")
    ev = read_table(spark, sf_dir, "events").withColumn(
        "pt_day", F.date_format("ts", "yyyy-MM-dd")
    )
    write_partitioned(ev, out, ["pt_day"])
    fact = read_parquet(spark, out)
    dim = spark.createDataFrame(
        [(f"2024-01-{d:02d}", "wk1" if d <= 7 else "rest") for d in range(1, 31)],
        "pt_day string, label string",
    )
    j = (
        fact.join(dim.where(F.col("label") == "wk1"), "pt_day")
        .groupBy("pt_day")
        .count()
    )
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan
    # and the result only covers the filtered week (partition values come
    # back type-inferred as DATEs; compare canonically as strings)
    days = {str(r["pt_day"]) for r in j.collect()}
    assert days == {f"2024-01-{d:02d}" for d in range(1, 8)}


def test_delete_keys_rewrites_only_affected_partitions(spark, tmp_path):
    """GDPR-style keyed delete: only partitions containing the keys are
    rewritten, untouched partitions keep their exact files, and a
    partition the delete empties is REMOVED (dynamic overwrite alone
    would leave its stale files behind)."""
    from big_data_analytics_project_spark.sources.sinks import (
        delete_keys_partitioned,
    )

    # pt=A holds victims+others (rewritten), pt=B holds no victims
    # (untouched), pt=C holds only victims (emptied+removed)
    rows = (
        [(u, "A", u * 10) for u in range(1, 7)]
        + [(u, "B", u * 10) for u in range(5, 11)]
        + [(u, "C", u * 10) for u in (1, 2)]
    )
    df = spark.createDataFrame(rows, "user_id long, pt string, v long")
    out = str(tmp_path / "keyed")
    write_partitioned(df, out, ["pt"])
    before_b_files = sorted(os.listdir(os.path.join(out, "pt=B")))

    victims = spark.createDataFrame([(1,), (2,)], "user_id long")
    stats = delete_keys_partitioned(spark, out, ["pt"], "user_id", victims)
    assert stats == {"rewritten_partitions": 1, "removed_partitions": 1}

    after = read_parquet(spark, out)
    assert after.join(victims, "user_id", "leftsemi").count() == 0
    dirs = {d for d in os.listdir(out) if d.startswith("pt=")}
    assert dirs == {"pt=A", "pt=B"}  # C removed entirely
    # untouched partition kept its exact files
    assert sorted(os.listdir(os.path.join(out, "pt=B"))) == before_b_files
    # rewritten partition kept the non-victim rows
    assert {
        r["user_id"] for r in after.where(F.col("pt") == "A").collect()
    } == {3, 4, 5, 6}
    assert after.where(F.col("pt") == "B").count() == 6


def test_index_scratch_dir_is_warehouse_rooted(spark):
    """Persisted-index scratch must derive from spark.sql.warehouse.dir —
    the driver+executor-shared storage root — never a driver-local
    tempfile, or a multi-node read-back silently loses executor-written
    parts (VERDICT r11 item 3).  Two calls must not collide."""
    from big_data_analytics_project_spark.sources import index_scratch_dir

    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    local_root = warehouse
    for pre in ("file://", "file:"):
        if local_root.startswith(pre):
            local_root = local_root[len(pre):]
            break
    local_root = "/" + local_root.lstrip("/")

    a = index_scratch_dir(spark, "posting_index")
    b = index_scratch_dir(spark, "posting_index")
    for p in (a, b):
        assert p.startswith(local_root.rstrip("/") + "/"), (p, warehouse)
        assert "/_bdap_scratch/" in p
        assert p.endswith("/posting_index")
        assert os.path.isdir(os.path.dirname(p))  # run dir pre-created locally
        assert "/tmp" not in p or "/tmp" in local_root  # not tempfile-rooted
    assert a != b  # unique run dirs: concurrent queries can't clobber


def test_index_scratch_dir_uri_edge_cases(tmp_path):
    """file: warehouse URIs are parsed as URIs (ADVICE r12): percent-
    escapes decode, and a remote authority (file://host/...) is refused
    instead of silently becoming a local /host/... directory."""
    import pytest as _pytest

    from big_data_analytics_project_spark.sources import index_scratch_dir

    class _FakeConf:
        def __init__(self, warehouse):
            self._w = warehouse

        def get(self, key):
            assert key == "spark.sql.warehouse.dir"
            return self._w

    class _FakeSpark:
        def __init__(self, warehouse):
            self.conf = _FakeConf(warehouse)

    escaped_root = tmp_path / "ware house"
    uri = "file://" + str(escaped_root).replace(" ", "%20")
    p = index_scratch_dir(_FakeSpark(uri), "idx")
    assert p.startswith(str(escaped_root) + "/"), p  # %20 decoded
    assert os.path.isdir(os.path.dirname(p))

    with _pytest.raises(ValueError, match="remote authority"):
        index_scratch_dir(_FakeSpark("file://nfs-host/data/warehouse"), "idx")

    # file://localhost/... is the RFC-8089 local form — accepted
    uri_lh = "file://localhost" + str(tmp_path / "lh")
    p2 = index_scratch_dir(_FakeSpark(uri_lh), "idx")
    assert p2.startswith(str(tmp_path / "lh") + "/"), p2

    # ADVICE r13: URI authorities are case-insensitive and an explicit
    # empty port is still the local host — both must be accepted
    uri_mixed = "file://LocalHost" + str(tmp_path / "mc")
    p3 = index_scratch_dir(_FakeSpark(uri_mixed), "idx")
    assert p3.startswith(str(tmp_path / "mc") + "/"), p3
    uri_port = "file://localhost:" + str(tmp_path / "pt")
    p4 = index_scratch_dir(_FakeSpark(uri_port), "idx")
    assert p4.startswith(str(tmp_path / "pt") + "/"), p4
    # ...but a CASED remote host is still refused
    with _pytest.raises(ValueError, match="remote authority"):
        index_scratch_dir(_FakeSpark("file://NFS-Host/data/warehouse"), "idx")


def test_index_scratch_dir_roundtrip(spark, sf_dir):
    """A write→read-back through the scratch path preserves rows."""
    from big_data_analytics_project_spark.sources import index_scratch_dir

    df = read_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    path = index_scratch_dir(spark, "region_index")
    df.write.parquet(path)
    back = spark.read.parquet(path)
    assert back.count() == df.count()
    assert set(back.columns) == {"r_regionkey", "r_name"}


# --- reliable_pin: cluster-safe lineage truncation (VERDICT r14 item 1) ---


def test_reliable_pin_local_master_keeps_localcheckpoint_path(spark):
    """Under a local master the guard must take the localCheckpoint branch:
    no reliable checkpoint dir gets configured as a side effect, and the
    pinned frame is materialized with its values intact."""
    from big_data_analytics_project_spark.sources.sinks import reliable_pin

    before = spark.sparkContext.getCheckpointDir()
    df = spark.range(10).withColumn("v", F.col("id") * 2)
    pinned = reliable_pin(df)
    assert [r["v"] for r in pinned.orderBy("id").collect()] == [
        2 * i for i in range(10)
    ]
    assert spark.sparkContext.getCheckpointDir() == before


def test_reliable_pin_force_reliable_checkpoints_to_warehouse_scratch(spark):
    """The cluster branch (exercised via force_reliable — no multi-node
    master exists in the sandbox) must set the reliable checkpoint dir
    ONCE, under warehouse scratch, and keep reusing it; the checkpointed
    frame must carry the same values."""
    from big_data_analytics_project_spark.sources.sinks import reliable_pin

    df = spark.range(7).withColumn("v", F.col("id") + 100)
    pinned = reliable_pin(df, force_reliable=True)
    ckpt = spark.sparkContext.getCheckpointDir()
    assert ckpt is not None and "_bdap_scratch" in ckpt
    assert [r["v"] for r in pinned.orderBy("id").collect()] == [
        100 + i for i in range(7)
    ]
    # second call respects the already-set dir (no fresh uuid per round —
    # an iterative loop pins every round and must not fan out directories)
    reliable_pin(spark.range(3), force_reliable=True)
    assert spark.sparkContext.getCheckpointDir() == ckpt


def test_graph_cc_identical_under_reliable_checkpoint(spark, monkeypatch):
    """connected_components must return the same components whichever
    branch the pin takes — the reliable path is a fault-tolerance change,
    not a semantic one."""
    import functools

    from big_data_analytics_project_spark.operators import graph as G
    from big_data_analytics_project_spark.sources.sinks import reliable_pin

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (8, 8)], "src long, dst long"
    )
    local = {
        (r["node"], r["component"])
        for r in G.connected_components(edges).collect()
    }
    monkeypatch.setattr(
        G, "reliable_pin", functools.partial(reliable_pin, force_reliable=True)
    )
    forced = {
        (r["node"], r["component"])
        for r in G.connected_components(edges).collect()
    }
    assert forced == local and len(local) > 0


def test_index_scratch_dir_stable_reuses_one_directory(spark):
    """stable=True must hand back the SAME leaf path across calls (the
    rerun-overwrite contract that stops per-sweep scratch growth, ADVICE
    r14); default calls must keep their fresh-uuid isolation."""
    from big_data_analytics_project_spark.sources.sinks import index_scratch_dir

    s1 = index_scratch_dir(spark, "stable_leaf", stable=True)
    s2 = index_scratch_dir(spark, "stable_leaf", stable=True)
    assert s1 == s2 and "_bdap_scratch" in s1
    u1 = index_scratch_dir(spark, "uniq_leaf")
    u2 = index_scratch_dir(spark, "uniq_leaf")
    assert u1 != u2
    # overwrite round-trip on the stable path: second write replaces
    df1 = spark.range(5)
    df1.write.mode("overwrite").parquet(s1)
    spark.range(9).write.mode("overwrite").parquet(s2)
    assert spark.read.parquet(s1).count() == 9


def test_bfs_and_cluster_cc_identical_under_reliable_checkpoint(spark, monkeypatch):
    """Same branch-equality contract for the other two reliable_pin
    consumers: bfs_distances (operators/graph.py) and the dedup-cluster
    label propagation (operators/clusters.py)."""
    import functools

    from big_data_analytics_project_spark.operators import clusters as C
    from big_data_analytics_project_spark.operators import graph as G
    from big_data_analytics_project_spark.sources.sinks import reliable_pin

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 6)], "src long, dst long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(1, 8)], "id long")

    local_bfs = {tuple(r) for r in G.bfs_distances(edges).collect()}
    local_cc = {
        tuple(r) for r in C.connected_components(nodes, edges).collect()
    }
    forced = functools.partial(reliable_pin, force_reliable=True)
    monkeypatch.setattr(G, "reliable_pin", forced)
    monkeypatch.setattr(C, "reliable_pin", forced)
    assert {tuple(r) for r in G.bfs_distances(edges).collect()} == local_bfs
    assert {
        tuple(r) for r in C.connected_components(nodes, edges).collect()
    } == local_cc
    assert len(local_bfs) > 0 and len(local_cc) == 7


def test_cluster_cc_converges_on_long_path(spark):
    """The dedup-cluster label loop's convergence check reads a changed
    flag off the pinned merged frame (r16: was a per-round shuffle join
    of old vs new labels).  A 9-node path needs several propagation
    rounds, so a broken change detector would either stop early (wrong
    labels) or spin to max_iter — both visible here."""
    from big_data_analytics_project_spark.operators import clusters as C

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 9)], "src long, dst long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(1, 10)], "id long")
    got = {
        (r["id"], r["component"])
        for r in C.connected_components(nodes, edges).collect()
    }
    assert got == {(i, 1) for i in range(1, 10)}


def test_prefix_sum_identical_under_reliable_checkpoint(spark):
    """distributed_prefix_sum pins a nondeterministically-partitioned
    intermediate (repartitionByRange samples its boundaries) — the second
    use-case in reliable_pin's docstring.  Both branches must produce the
    same prefix sums."""
    from big_data_analytics_project_spark.operators.rank import (
        distributed_prefix_sum,
    )

    df = spark.createDataFrame(
        [(v, i, w) for i, (v, w) in enumerate([(5, 2), (3, 1), (9, 4), (1, 3), (7, 5)])],
        "v long, id long, w long",
    )
    local = {
        (r["v"], r["id"], r["__cum"])
        for r in distributed_prefix_sum(df, ["v", "id"], "w").collect()
    }
    forced = {
        (r["v"], r["id"], r["__cum"])
        for r in distributed_prefix_sum(
            df, ["v", "id"], "w", force_reliable=True
        ).collect()
    }
    assert forced == local and len(local) == 5
    # exclusive prefix sums over (v, id) order: weights [3,1,2,5,4] → cums
    ordered = sorted(local)
    assert [t[2] for t in ordered] == [0, 3, 4, 6, 11]
