#!/usr/bin/env python
"""Semantic-dedup chain blow-up ladder — the SCALE TIER r12 row for
e112_semantic_dedup_chain (LSH bucket → within-bucket cosine pairs →
min-label CC → per-vector disposition; operators/similarity.py).

Replication is a GRAPH BLOW-UP, not a disjoint copy: replica k shifts
vec_id by k·10^7 but keeps the embedding IDENTICAL, so every vector's K
copies share a bucket and pair at cosine 1.0. The tier-K pair graph is
therefore the base graph's K-blow-up (each node → a K-clique, base
adjacency inherited across all copy pairs), which makes the right
answers exactly predictable:

 - cluster COUNT is CONSTANT across tiers (components of a blow-up are
   the base components);
 - the cluster-size multiset at tier K equals the base multiset scaled
   elementwise by K — an end-to-end exactness pin through bucketing,
   the rounded-cosine pair predicate, and the CC fixpoint;
 - 'kept' rows = cluster count, constant;
 - within-bucket CANDIDATES grow ~K² (bucket sizes grow ×K) — the
   measured demonstration of WHY the bucket count p is the scale knob:
   at fixed p, doubling the corpus quadruples the pair work, so real
   deployments grow p with n (2^20 buckets at 100 TB), which this
   ladder's fixed p=4 deliberately does not, to expose the K² shape.

Round 13 adds the DELTA-INGEST economics section (VERDICT r12 task 3):
per tier, the mod-4 delta slice arrives against parquet-stored state
(bucketized base + labels; prep untimed), runs e114's exact graded
stage-2 plan, and pins (a) the delta×union candidate count vs the
from-scratch C(union,2) count (bucket-histogram arithmetic, exact),
(b) the kept-cluster multiset identical to the batch tier, and (c) the
incremental/batch wall ratio.

Usage: cd /tmp && python <checkout>/scripts/stress_semantic_dedup.py
Pinned rows in BASELINE.md ("SCALE TIER r12: semantic-dedup blow-up",
"SCALE TIER r13: semantic-dedup delta-ingest economics").
"""

from __future__ import annotations

import os
import sys
import time
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

SHIFT = 10_000_000


def vecs(spark: SparkSession, replicas: int):
    from pyspark_ml_features_spark.functions.arrays import to_double_array

    e = (spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
         .select("vec_id", to_double_array("embedding").alias("emb")))
    if replicas == 1:
        return e
    reps = spark.range(replicas).select(F.col("id").alias("rep"))
    return (e.crossJoin(reps)
            .select((F.col("vec_id") + F.col("rep") * SHIFT)
                    .alias("vec_id"), "emb"))


def run_tier(spark: SparkSession, k: int):
    from pyspark_ml_features_spark.operators.similarity import (
        semantic_dedup_disposition,
    )

    e = vecs(spark, k)
    t0 = time.time()
    out = semantic_dedup_disposition(e).cache()
    n_rows = out.count()
    wall = round(time.time() - t0, 2)
    # bucket histogram -> candidate count (arithmetic, no pair join)
    cand = sum(b * (b - 1) // 2 for (b,) in
               out.groupBy("bucket").count()
                  .select("count").collect())
    kept = out.filter(F.col("stage") == "kept").count()
    sizes = Counter(
        r["cluster_size"]
        for r in out.filter(F.col("stage") == "kept")
        .select("cluster_size").collect())
    out.unpersist()
    return n_rows, cand, kept, sizes, wall


def run_incremental_tier(spark: SparkSession, k: int):
    """The DELTA-INGEST economics row (VERDICT r12 task 3): at tier K the
    corpus's delta slice (vec_id % 4 == 0 — stable under the replica
    shift, a multiple of 4) arrives as a new batch against STORED state
    (the bucketized base frame + its labels, written to parquet by an
    untimed prep stage standing in for the nightly label store). The
    timed incremental run is exactly e114's graded stage-2 plan
    (similarity.incremental_semantic_disposition): bucketize the delta,
    delta×union candidate pairs, star edges, warm-started fixpoint.
    Returns the kept-cluster multiset (must equal the batch tier's), the
    candidate counts actually evaluated by each strategy (arithmetic
    over the bucket histogram — delta×base + C(delta,2) vs C(union,2)),
    and the incremental wall."""
    import os
    import shutil

    from pyspark_ml_features_spark.operators.similarity import (
        _bucketize,
        _cluster_bucketized,
        incremental_semantic_disposition,
    )

    store = f"/tmp/semdedup_inc_{os.getpid()}_x{k}"
    is_delta = F.col("vec_id") % 4 == 0
    # prep (NOT timed): the stored nightly state + the incoming batch
    eb = _bucketize(vecs(spark, k))
    eb.filter(~is_delta).write.mode("overwrite").parquet(store + "/state")
    (_cluster_bucketized(eb.filter(~is_delta))
     .select(F.col("vec_id").alias("node"),
             F.col("cluster_id").alias("lbl"))
     .write.mode("overwrite").parquet(store + "/labels"))
    (vecs(spark, k).filter(is_delta)
     .write.mode("overwrite").parquet(store + "/delta"))

    t0 = time.time()
    state = spark.read.parquet(store + "/state")
    labels = spark.read.parquet(store + "/labels")
    delta = _bucketize(spark.read.parquet(store + "/delta"))
    union_eb = state.unionByName(delta)
    out = incremental_semantic_disposition(union_eb, labels).cache()
    out.count()
    # timer stops HERE to match run_tier (cache + count only; r13 review:
    # the multiset collect below was inside the window, inflating the
    # incremental side of the pinned wall ratio by one cached collect)
    wall = round(time.time() - t0, 2)
    sizes = Counter(
        r["cluster_size"]
        for r in out.filter(F.col("stage") == "kept")
        .select("cluster_size").collect())
    out.unpersist()

    hist = (union_eb.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("u"),
                 F.sum(is_delta.cast("int")).alias("d"))
            .collect())
    inc_cand = sum(r["d"] * (r["u"] - r["d"]) + r["d"] * (r["d"] - 1) // 2
                   for r in hist)
    batch_cand = sum(r["u"] * (r["u"] - 1) // 2 for r in hist)
    shutil.rmtree(store, ignore_errors=True)
    return sizes, inc_cand, batch_cand, wall


def main() -> None:
    spark = (SparkSession.builder.master("local[8]")
             .config("spark.sql.shuffle.partitions", "16")
             .config("spark.driver.memory", "8g")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    base_sizes: Counter | None = None
    batch_walls: dict[int, float] = {}
    batch_multisets: dict[int, Counter] = {}
    print(f"{'tier':>5} {'vecs':>7} {'candidates':>11} {'clusters':>9} "
          f"{'wall_s':>7}  multiset-xK")
    for k in (1, 5, 10):
        n_rows, cand, kept, sizes, wall = run_tier(spark, k)
        batch_walls[k] = wall
        batch_multisets[k] = sizes
        if k == 1:
            base_sizes = sizes
            ok = "base"
        else:
            expected = Counter({s * k: c for s, c in base_sizes.items()})
            ok = str(expected == sizes)
        print(f"{'x' + str(k):>5} {n_rows:>7} {cand:>11} {kept:>9} "
              f"{wall:>7}  {ok}")

    print("\ndelta-ingest economics (stored base labels + delta batch; "
          "prep untimed):")
    print(f"{'tier':>5} {'inc_cand':>11} {'batch_cand':>11} {'cand_ratio':>10} "
          f"{'inc_wall':>8} {'batch_wall':>10} {'wall_ratio':>10}  multiset==batch")
    for k in (1, 5, 10):
        sizes, inc_cand, batch_cand, wall = run_incremental_tier(spark, k)
        print(f"{'x' + str(k):>5} {inc_cand:>11} {batch_cand:>11} "
              f"{inc_cand / batch_cand:>10.3f} {wall:>8} "
              f"{batch_walls[k]:>10} {wall / batch_walls[k]:>10.2f}  "
              f"{sizes == batch_multisets[k]}")
    spark.stop()


if __name__ == "__main__":
    main()
