#!/usr/bin/env python
"""Composed curation funnel (pipeline.curate / e76) at replicated tiers —
the SCALE TIER r7 integration row (VERDICT r6 task 5b).

The registry's stress harnesses measure each family alone; this one runs
the WHOLE funnel (exact dedup → banded near-dup + CC → decontaminate →
quality → mixture → pack → cluster split) on sf0.1 replicated ×5 and ×10
with per-replica marker tokens — so every original document acquires 5/10
mutual near-duplicates, the worst case for the near-dup + CC stages and
exactly the corpus shape that melts any all-pairs design.

Claims under test at the ×K tier (measured 2026-08-15, pinned in
BASELINE.md):
 - near-dup + CC collapses replica families: at ×10 the stage cuts
   49,920 → 8,676 (5.75× collapse where ×1 sees only 4.6%). It does NOT
   reach full replication-invariance — the fixture's 3-7-token docs plus
   a 1-token marker have TRUE Jaccard 0.6-0.85, legitimately below the
   0.9 threshold — so survivor growth tracks the short-doc fraction,
   which is the correct threshold semantics, not a scale defect;
 - wall grows ~linearly with corpus size, not quadratically: 24.6 →
   55.9 → 100.8 s for ×1 → ×5 → ×10 post-sweep (per-doc cost FALLS
   4.9 → 2.0 ms — fixed fixpoint overhead amortizes; banded candidates +
   constant-round CC, measured separately in stress_dedup / stress_cc,
   hold when composed). The pre-sweep ladder was 45.3/118.1/226.8 s —
   the round-7 lambda-re-evaluation fix to the decontaminate stage's
   shingling cut the composed funnel 2.2× at every tier with identical
   stage counts.

Usage: cd /tmp && python <checkout>/scripts/stress_curate.py
Pinned row in BASELINE.md ("SCALE TIER r7: composed curation funnel").
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402


def build_tier(spark: SparkSession, k: int, root: str) -> str:
    """Replicate sf0.1 documents ×k (unique doc_ids, marker tokens) into
    a parquet dir curate() can read as an sf_dir."""
    d01 = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    n01 = d01.count()
    reps = spark.range(k).select(F.col("id").alias("rep"))
    rep = (d01.crossJoin(reps)
           .select((F.col("doc_id") + F.col("rep") * n01).alias("doc_id"),
                   "lang",
                   F.concat(F.lit("rep"), F.col("rep").cast("string"),
                            F.lit(" "), F.col("text")).alias("text")))
    sf_dir = os.path.join(root, f"x{k}")
    rep.write.mode("overwrite").parquet(
        os.path.join(sf_dir, "documents.parquet"))
    return sf_dir


def main() -> None:
    from pyspark_ml_features_spark.pipeline import curate

    spark = (SparkSession.builder.master("local[8]")
             .config("spark.sql.shuffle.partitions", "16")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="curate_stress_")
    try:
        print(f"{'tier':>9} {'docs_in':>8} {'post_near_dup':>13} "
              f"{'kept':>6} {'packs':>6} {'wall_s':>7}")
        for name, sf_dir in [
            ("sf0.1", "/root/testdata/sf0.1"),
            ("sf0.1 x5", build_tier(spark, 5, root)),
            ("sf0.1 x10", build_tier(spark, 10, root)),
        ]:
            t0 = time.time()
            r = curate(spark, sf_dir)
            n_packs = (r["packed"].agg(
                F.countDistinct("lang", "shard", "bin_id")).collect()[0][0])
            wall = time.time() - t0
            stages = dict((s, (i, o)) for s, i, o in r["funnel"])
            docs_in = stages["exact_dedup"][0]
            post_nd = stages["near_dup_dedup"][1]
            kept = stages["quality_filter"][1]
            print(f"{name:>9} {docs_in:>8} {post_nd:>13} {kept:>6} "
                  f"{n_packs:>6} {wall:>7.1f}")
            for s, i, o in r["funnel"]:
                print(f"          {s:16s} {i:>7} -> {o:>7}")
    finally:
        shutil.rmtree(root, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
