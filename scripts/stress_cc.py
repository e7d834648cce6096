#!/usr/bin/env python
"""Connected-components stress tier: measure rounds-to-convergence, wall
time, and cluster-shape statistics of e45's min-label propagation as the
corpus grows — evidence for the DESIGN_SCALE claim that near-dup graphs
are shallow (rounds ≈ diameter + 1 ≤ 4-5) so the fixpoint loop is a
constant-round cost, not an O(n) one.

Edges come from the SCALE path (e33's engine-exact banded MinHash, Ĵ ≥
0.5) — not exact pairwise Jaccard, which would be quadratic at the 10x
tier. Tiers: sf0.01 (500 docs), sf0.1 (5,000), and a synthetic ~25k tier
built by replicating sf0.1's documents with unique doc_ids and a
per-replica leading marker token (replicas are NEAR-duplicates of their
base doc, so every base doc's replica family must collapse into one
cluster — making expected cluster sizes predictable: ≥ n_replicas + 1).

Usage: cd /tmp && python <checkout>/scripts/stress_cc.py
Results are recorded in DESIGN_SCALE.md ("Measured CC convergence").
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402
from pyspark.sql import DataFrame, SparkSession  # noqa: E402

from pyspark_ml_features_spark.operators.dedup import (  # noqa: E402
    minhash_candidate_pairs,
)
from pyspark_ml_features_spark.operators.graph import (  # noqa: E402
    connected_components,
    connected_components_star,
)

SF001 = "/root/testdata/sf0.01"
SF01 = "/root/testdata/sf0.1"


def corpus(spark: SparkSession, tier: str) -> DataFrame:
    if tier == "sf0.01":
        return spark.read.parquet(f"{SF001}/documents.parquet") \
            .select("doc_id", "text")
    if tier == "sf0.1":
        return spark.read.parquet(f"{SF01}/documents.parquet") \
            .select("doc_id", "text")
    if tier == "5x":
        base = spark.read.parquet(f"{SF01}/documents.parquet") \
            .select("doc_id", "text")
        n = base.agg(F.max("doc_id")).first()[0] + 1
        copies = [base]
        for r in range(1, 5):
            copies.append(base.select(
                (F.col("doc_id") + r * n).alias("doc_id"),
                F.concat(F.lit(f"rep{r} "), F.col("text")).alias("text")))
        out = copies[0]
        for c in copies[1:]:
            out = out.unionByName(c)
        return out
    raise ValueError(tier)


def main() -> None:
    spark = (SparkSession.builder.master("local[8]")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.shuffle.partitions", "16")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    print(f"{'tier':>7} {'n_docs':>7} {'n_edges':>9} {'rounds':>6} "
          f"{'wall_s':>7} {'n_clusters':>10} {'max_sz':>6} {'p_singleton':>11}")
    for tier in ("sf0.01", "sf0.1", "5x"):
        d = corpus(spark, tier).localCheckpoint(eager=True)
        n_docs = d.count()
        t0 = time.time()
        prs = minhash_candidate_pairs(d).select("d1", "d2") \
            .localCheckpoint(eager=True)
        n_edges = prs.count()
        stats: dict = {}
        cc = connected_components(
            d.select(F.col("doc_id").alias("node")),
            prs.select(F.col("d1").alias("src"), F.col("d2").alias("dst")),
            stats=stats)
        sizes = cc.groupBy("cluster_id").count()
        agg = sizes.agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.max("count").alias("max_sz"),
            F.avg((F.col("count") == 1).cast("double")).alias("p_single"),
        ).first()
        wall = time.time() - t0
        print(f"{tier:>7} {n_docs:>7} {n_edges:>9} {stats['rounds']:>6} "
              f"{wall:>7.1f} {agg['n_clusters']:>10} {agg['max_sz']:>6} "
              f"{agg['p_single']:>11.3f}")

    # LONG-CHAIN LADDER (round 11): the adversarial-diameter topology
    # where the large-star/small-star variant's O(log n) bound matters.
    # Gate: star rounds <= jumped min-label rounds AND identical labels
    # (all nodes collapse to 1). A path of n nodes has diameter n-1 —
    # the worst case named in connected_components' docstring.
    print(f"\n{'chain_n':>8} {'minlabel_rounds':>15} {'star_rounds':>11} "
          f"{'minlabel_s':>10} {'star_s':>7} {'equal':>6}")
    for n in (1024, 4096):
        nodes = spark.range(1, n + 1).select(F.col("id").alias("node"))
        edges = spark.range(1, n).select(
            F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
        s_min: dict = {}
        t0 = time.time()
        a = connected_components(nodes, edges, max_rounds=60,
                                 stats=s_min)
        bad_a = a.filter(F.col("cluster_id") != 1).count()
        w_min = time.time() - t0
        s_star: dict = {}
        t0 = time.time()
        b = connected_components_star(nodes, edges, stats=s_star)
        bad_b = b.filter(F.col("cluster_id") != 1).count()
        w_star = time.time() - t0
        equal = bad_a == 0 and bad_b == 0
        print(f"{n:>8} {s_min['rounds']:>15} {s_star['rounds']:>11} "
              f"{w_min:>10.1f} {w_star:>7.1f} {str(equal):>6}")
        assert equal, (n, bad_a, bad_b)
        assert s_star["rounds"] <= s_min["rounds"], (s_star, s_min)
    spark.stop()


if __name__ == "__main__":
    main()
