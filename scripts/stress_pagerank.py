#!/usr/bin/env python
"""PageRank disjoint-replication ladder — the SCALE TIER r8 row for the
iterative graph family's second operator (stress_cc pins the CC
fixpoint; stress_graph pins threshold geometry; this pins e60's
fixed-iteration Pregel shape under ×K growth).

Tiers: e60's exact pipeline (Jaccard ≥ 0.9 near-dup graph over the
doc_id % 5 == 0 slice of sf0.1, then graph.py's pagerank — the
registered iteration, not a copy: 5 damped rounds, per-iteration 6-dp
round) over ×1/×5/×10 TRULY DISJOINT replicas — every token is
prefixed with its replica id, so replica subgraphs are identical but
share no shingles, no candidate pairs, no edges.

Claims under test:
 - e60's rank formula (0.15 + 0.85·Σ contribs, no 1/N term) makes
   per-node ranks REPLICA-INVARIANT: the ×K tier's rank multiset must
   equal the base multiset repeated EXACTLY K times — an end-to-end
   exactness pin through shingling, banded candidate generation, the
   5 join-aggregate rounds, and the per-round rounding;
 - edges scale exactly ×K (disjoint construction);
 - wall grows ~linearly with K at fixed round count (each round is
   one edges⋈ranks shuffle — the Pregel cost model, measured).

Usage: cd /tmp && python <checkout>/scripts/stress_pagerank.py
Pinned row in BASELINE.md ("SCALE TIER r8: pagerank replication").
"""

from __future__ import annotations

import os
import sys
import time
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

from pyspark_ml_features_spark.operators.graph import (  # noqa: E402
    near_dup_edges,
    pagerank,
)


def docs(spark: SparkSession, replicas: int):
    d = (spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
         .filter(F.col("doc_id") % 5 == 0)
         .select("doc_id", "text"))
    if replicas == 1:
        return d
    n = d.agg(F.max("doc_id")).collect()[0][0] + 1
    reps = spark.range(replicas).select(F.col("id").alias("rep"))
    # disjoint vocabularies: prefix every token with the replica id —
    # identical subgraphs, zero cross-replica shingles. The token array
    # is materialized as a column first; the lambda body references
    # only the element and a column (the word_ngrams O(1) rule).
    toks = F.split(F.col("text"), " ")
    return (d.crossJoin(reps)
            .withColumn("__toks", toks)
            .select((F.col("doc_id") + F.col("rep") * n).alias("doc_id"),
                    F.concat_ws(
                        " ",
                        F.transform("__toks",
                                    lambda t: F.concat(
                                        F.lit("r"),
                                        F.col("rep").cast("string"),
                                        F.lit("_"), t))).alias("text")))


def ranks_of(d):
    """graph.py's pagerank (e60's iteration) over ``d``'s Jaccard >= 0.9
    pairs: (directed edge count, rank multiset, pagerank's wall — its
    edge checkpoint plus the 5 rounds)."""
    prs = near_dup_edges(d, 0.9).localCheckpoint(eager=True)
    # jaccard_pairs emits each unordered pair once (d1 < d2), so the
    # directed edge list pagerank walks is exactly twice the pair count
    n_edges = 2 * prs.count()
    t0 = time.time()
    rank = pagerank(d.select(F.col("doc_id").alias("node")), prs)
    ranks = Counter(r["r"] for r in rank.collect())
    return n_edges, ranks, round(time.time() - t0, 2)


def main() -> None:
    spark = (SparkSession.builder.master("local[8]")
             .config("spark.sql.shuffle.partitions", "16")
             # local mode: driver heap IS the executor heap — the x10
             # tier's 860k-edge inverted-index join needs more than the
             # 1g pyspark default
             .config("spark.driver.memory", "8g")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    base_edges, base_ranks, _ = ranks_of(docs(spark, 1))
    print(f"{'tier':>5} {'nodes':>7} {'edges':>7} {'wall5r_s':>9} "
          f"edges-xK rank-multiset-xK")
    for k in (1, 5, 10):
        d = docs(spark, k)
        n_nodes = d.count()
        n_edges, ranks, wall = ranks_of(d)
        edges_ok = n_edges == base_edges * k
        ranks_ok = ranks == Counter(
            {v: c * k for v, c in base_ranks.items()})
        print(f"{'x' + str(k):>5} {n_nodes:>7} {n_edges:>7} {wall:>9} "
              f"{edges_ok} {ranks_ok}")
        assert edges_ok and ranks_ok, (k, n_edges, base_edges)
    spark.stop()


if __name__ == "__main__":
    main()
