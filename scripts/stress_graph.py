#!/usr/bin/env python
"""Graph-family stress tier: measure the near-dup similarity graph's
geometry (edges, wedges, triangles) and the iterative operators' wall time
(graph.py's khop_reach = e56's BFS, pagerank = e60's, connected_components)
across corpus tiers and Jaccard thresholds. Each operator gets the one-way
pair list, as the registered queries pass it.

Motivation (recorded in DESIGN_SCALE.md): the synthetic corpus is so
mutually similar that low thresholds produce a NEAR-COMPLETE graph — at
sf0.1, threshold 0.35 yields 438k of 500k possible pairs and 133M wedges,
and BFS/triangle shapes degenerate quadratically. Threshold choice is a
GEOMETRY decision that must be measured, not guessed; the registry's graph
queries pin 0.9.

Usage: cd /tmp && python <checkout>/scripts/stress_graph.py
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

from pyspark_ml_features_spark.functions.text import tokens  # noqa: E402
from pyspark_ml_features_spark.operators.dedup import jaccard_pairs  # noqa: E402
from pyspark_ml_features_spark.operators.graph import (  # noqa: E402
    connected_components,
    khop_reach,
    pagerank,
)


def run(spark: SparkSession, sf_dir: str, tier: str, threshold: float,
        heavy: bool) -> None:
    d = (spark.read.parquet(f"{sf_dir}/documents.parquet")
         .filter(F.col("doc_id") % 5 == 0).select("doc_id", "text"))
    n = d.count()
    prs = (jaccard_pairs(d, tokens("text"), threshold=threshold)
           .select("d1", "d2").localCheckpoint(eager=True))
    m = prs.count()
    p1 = prs.select(F.col("d1").alias("a"), F.col("d2").alias("b"))
    p2 = prs.select(F.col("d1").alias("b"), F.col("d2").alias("c"))
    p3 = prs.select(F.col("d1").alias("a"), F.col("d2").alias("c"))
    wedges = p1.join(p2, "b").count()
    tris = p1.join(p2, "b").join(p3, ["a", "c"]).count()
    line = (f"{tier:7s} th={threshold:4.2f} n={n:5d} pairs={m:8,d} "
            f"wedges={wedges:12,d} triangles={tris:10,d}")
    if heavy:
        edges = prs.select(F.col("d1").alias("src"), F.col("d2").alias("dst"))
        nodes = d.select(F.col("doc_id").alias("node"))
        t0 = time.time()
        khop_reach(nodes, edges).count()
        bfs_s = time.time() - t0
        t0 = time.time()
        pagerank(nodes, edges).count()
        pr_s = time.time() - t0
        stats: dict = {}
        t0 = time.time()
        connected_components(nodes, edges, stats=stats).count()
        cc_s = time.time() - t0
        line += (f" bfs3={bfs_s:5.1f}s pagerank5={pr_s:5.1f}s "
                 f"cc={cc_s:5.1f}s/{stats['rounds']}r")
    print(line)


def main() -> None:
    from pyspark_ml_features_spark.session import get_spark
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    for tier, sf_dir in (("sf0.01", "/root/testdata/sf0.01"),
                         ("sf0.1", "/root/testdata/sf0.1")):
        for th in (0.35, 0.5, 0.9):
            # the near-complete geometries: report volume only (the
            # point is that iterative ops on them are the wrong plan)
            heavy = th == 0.9 or tier == "sf0.01"
            run(spark, sf_dir, tier, th, heavy)


if __name__ == "__main__":
    main()
