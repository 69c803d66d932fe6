"""Two-point measurements of the index-maintenance verbs' cost shapes.

APPEND — O(|wave|) claim: `dedup_band_index_incremental_append` and
`ann_ivf_posting_index_append` claim per-wave cost independent of index
size (new wave signed/assigned and landed as a fresh `gen=N` partition
directory — existing files never touched).  The corpus-sf scaling audit
can't isolate that claim because wave and index grow together there.
This script pins it directly, once per index family: the SAME wave
(sf0.01 rows, key % 3 == 2) is appended to a gen-0 index built from
sf0.01 data and then to one built from sf0.1 data (10x the index),
timing ONLY the append stage (sign/assign + partition write), warmed,
min-of-3.  Flat times across the two index sizes = the claim.

COMPACTION — one-pass claim (round 15): `dedup_band_index_compaction`
and `ann_ivf_posting_index_compaction` claim the fold is ONE distributed
pass over the live index (merged generations anti-join tombstones,
clustered rewrite).  Unlike append, compaction is deliberately O(index
size) — the property to pin is that it stays a single linear pass (a
10x lived-in index folds in at most ~10x, no superlinear candidate
blow-up).  Same two-point design: a lived-in index (gen-0 + appended
gen-1 + tombstone set) built from sf0.01 vs sf0.1 data, timing ONLY the
fold stage (anti-join + partitioned rewrite), warmed, min-of-3.

Usage:  python scripts/append_cost_vs_index_size.py
Output: one line per (family, verb, index size); splice the numbers
        into docs/scaling_audit.md by hand (per-round batch policy).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    import pyspark.sql.functions as F

    from big_data_analytics_project_spark.plans.dedup_queries import (
        _bandidx_banded,
        _bandidx_signed,
    )
    from big_data_analytics_project_spark.session import get_spark
    from big_data_analytics_project_spark.sources import index_scratch_dir
    from big_data_analytics_project_spark.sources.readers import read_table

    spark = get_spark()
    wave = (
        read_table(spark, "/root/testdata/sf0.01", "documents")
        .select("doc_id", "text")
        .where(F.col("doc_id") % 3 == 2)
    )
    print(f"fixed wave: {wave.count()} docs (sf0.01, doc_id % 3 == 2)")

    for sf_dir in ("/root/testdata/sf0.01", "/root/testdata/sf0.1"):
        gen0 = (
            read_table(spark, sf_dir, "documents")
            .select("doc_id", "text")
            .where(F.col("doc_id") % 3 == 1)
        )
        idx_path = index_scratch_dir(spark, f"append_cost_{os.path.basename(sf_dir)}")
        (
            _bandidx_banded(_bandidx_signed(gen0))
            .withColumn("gen", F.lit(0))
            .write.partitionBy("gen")
            .mode("overwrite")
            .parquet(idx_path)
        )
        n_idx = spark.read.parquet(idx_path).count()
        times = []
        for i in range(4):  # first run warms the wave-side scan caches
            t0 = time.time()
            (
                _bandidx_banded(_bandidx_signed(wave))
                .withColumn("gen", F.lit(1 + i))  # fresh partition each run
                .write.partitionBy("gen")
                .mode("append")
                .parquet(idx_path)
            )
            times.append(time.time() - t0)
        best = min(times[1:])
        print(
            f"band index from {sf_dir}: {n_idx} gen-0 band rows -> "
            f"append stage min-of-3 {best:.3f} s (runs: "
            + ", ".join(f"{t:.3f}" for t in times)
            + ")"
        )

    # ---- IVF posting-index leg (ann_ivf_posting_index_append) ----------
    from big_data_analytics_project_spark.operators import similarity as S
    from big_data_analytics_project_spark.plans.ivf_centroids import (
        IVF_CENTROIDS,
    )

    vec = S.as_double("embedding")

    def assigned(df):
        return df.select(
            F.col("vec_id").alias("neighbor_id"),
            vec.alias("v"),
            S.nearest_centroid(vec, IVF_CENTROIDS).alias("list_id"),
        )

    ivf_wave = (
        read_table(spark, "/root/testdata/sf0.01", "embeddings")
        .where(F.col("vec_id") % 3 == 2)
    )
    print(f"fixed IVF wave: {ivf_wave.count()} vectors (sf0.01, vec_id % 3 == 2)")
    for sf_dir in ("/root/testdata/sf0.01", "/root/testdata/sf0.1"):
        gen0 = (
            read_table(spark, sf_dir, "embeddings")
            .where(F.col("vec_id") % 3 != 2)
        )
        idx_path = index_scratch_dir(
            spark, f"ivf_append_cost_{os.path.basename(sf_dir)}"
        )
        (
            assigned(gen0)
            .withColumn("gen", F.lit(0))
            .write.partitionBy("gen", "list_id")
            .mode("overwrite")
            .parquet(idx_path)
        )
        n_idx = spark.read.parquet(idx_path).count()
        times = []
        for i in range(4):
            t0 = time.time()
            (
                assigned(ivf_wave)
                .withColumn("gen", F.lit(1 + i))
                .write.partitionBy("gen", "list_id")
                .mode("append")
                .parquet(idx_path)
            )
            times.append(time.time() - t0)
        best = min(times[1:])
        print(
            f"posting index from {sf_dir}: {n_idx} gen-0 posting rows -> "
            f"append stage min-of-3 {best:.3f} s (runs: "
            + ", ".join(f"{t:.3f}" for t in times)
            + ")"
        )

    # ---- STREAM-INGEST leg (streaming_ivf_posting_index_ingest, r16) ---
    # The streaming verb's O(|batch|) claim: a micro-batch lands as its
    # own overwrite-mode `batch_id=N` directory (list_id-
    # sub-partitioned), never touching established batches — so ingest
    # cost must be flat across a 10x larger existing index.  Same
    # two-point design: the SAME sf0.01 micro-batch ingested into an
    # index pre-populated from sf0.01 vs sf0.1 data, timing ONLY the
    # assign+write stage (what the foreachBatch body does), warmed,
    # min-of-3.
    for sf_dir in ("/root/testdata/sf0.01", "/root/testdata/sf0.1"):
        pre = read_table(spark, sf_dir, "embeddings").where(
            F.col("vec_id") % 3 != 2
        )
        idx_path = index_scratch_dir(
            spark, f"ivf_ingest_cost_{os.path.basename(sf_dir)}"
        )
        (
            assigned(pre)
            .write.partitionBy("list_id")
            .mode("overwrite")
            .parquet(f"{idx_path}/batch_id=0")
        )
        n_idx = spark.read.parquet(idx_path).count()
        times = []
        for i in range(4):
            t0 = time.time()
            (
                assigned(ivf_wave)
                .write.partitionBy("list_id")
                .mode("overwrite")
                .parquet(f"{idx_path}/batch_id={1 + i}")
            )
            times.append(time.time() - t0)
        best = min(times[1:])
        print(
            f"posting stream-ingest into index from {sf_dir}: {n_idx} "
            f"existing rows -> ingest stage min-of-3 {best:.3f} s (runs: "
            + ", ".join(f"{t:.3f}" for t in times)
            + ")"
        )

    # ---- COMPACTION legs: fold stage cost vs lived-in index size -------
    # band index: lived-in = gen0 (%3==1) + gen1 (%3==2) + tombstones
    # (%5==0); fold = merged gens anti-join tombstones, rewrite
    # partitioned by band (mirrors dedup_band_index_compaction)
    for sf_dir in ("/root/testdata/sf0.01", "/root/testdata/sf0.1"):
        docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
        idx_path = index_scratch_dir(
            spark, f"cmp_cost_band_{os.path.basename(sf_dir)}"
        )
        (
            _bandidx_banded(_bandidx_signed(docs.where(F.col("doc_id") % 3 != 0)))
            .withColumn("gen", (F.col("doc_id") % 3 == 2).cast("int"))
            .write.partitionBy("gen")
            .mode("overwrite")
            .parquet(idx_path)
        )
        tomb_path = index_scratch_dir(
            spark, f"cmp_cost_band_tomb_{os.path.basename(sf_dir)}"
        )
        (
            docs.where((F.col("doc_id") % 3 != 0) & (F.col("doc_id") % 5 == 0))
            .select("doc_id")
            .write.mode("overwrite")
            .parquet(tomb_path)
        )
        n_idx = spark.read.parquet(idx_path).count()
        times = []
        for i in range(4):
            out = index_scratch_dir(
                spark, f"cmp_cost_band_out_{os.path.basename(sf_dir)}_{i}"
            )
            t0 = time.time()
            live = (
                spark.read.parquet(idx_path)
                .join(
                    F.broadcast(spark.read.parquet(tomb_path)),
                    "doc_id",
                    "left_anti",
                )
                .select("doc_id", "band", "key")
            )
            live.repartition(16, "band").write.partitionBy("band").parquet(out)
            times.append(time.time() - t0)
        best = min(times[1:])
        print(
            f"band compaction from {sf_dir}: {n_idx} lived-in band rows -> "
            f"fold stage min-of-3 {best:.3f} s (runs: "
            + ", ".join(f"{t:.3f}" for t in times)
            + ")"
        )

    # posting index: lived-in = gen0 (%3!=2) + gen1 (%3==2) + tombstones
    # (%7==0, vec_id>=8); fold mirrors ann_ivf_posting_index_compaction
    for sf_dir in ("/root/testdata/sf0.01", "/root/testdata/sf0.1"):
        emb = read_table(spark, sf_dir, "embeddings")
        idx_path = index_scratch_dir(
            spark, f"cmp_cost_ivf_{os.path.basename(sf_dir)}"
        )
        (
            assigned(emb)
            .withColumn("gen", (F.col("neighbor_id") % 3 == 2).cast("int"))
            .write.partitionBy("gen", "list_id")
            .mode("overwrite")
            .parquet(idx_path)
        )
        tomb_path = index_scratch_dir(
            spark, f"cmp_cost_ivf_tomb_{os.path.basename(sf_dir)}"
        )
        (
            emb.where((F.col("vec_id") % 7 == 0) & (F.col("vec_id") >= 8))
            .select(F.col("vec_id").alias("neighbor_id"))
            .write.mode("overwrite")
            .parquet(tomb_path)
        )
        n_idx = spark.read.parquet(idx_path).count()
        times = []
        for i in range(4):
            out = index_scratch_dir(
                spark, f"cmp_cost_ivf_out_{os.path.basename(sf_dir)}_{i}"
            )
            t0 = time.time()
            live = (
                spark.read.parquet(idx_path)
                .join(
                    F.broadcast(spark.read.parquet(tomb_path)),
                    "neighbor_id",
                    "left_anti",
                )
                .select("neighbor_id", "v", "list_id")
            )
            live.repartition(len(IVF_CENTROIDS), "list_id").write.partitionBy(
                "list_id"
            ).parquet(out)
            times.append(time.time() - t0)
        best = min(times[1:])
        print(
            f"posting compaction from {sf_dir}: {n_idx} lived-in posting rows "
            f"-> fold stage min-of-3 {best:.3f} s (runs: "
            + ", ".join(f"{t:.3f}" for t in times)
            + ")"
        )


if __name__ == "__main__":
    main()
