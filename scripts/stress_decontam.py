#!/usr/bin/env python
"""Decontamination family at replicated tiers — the SCALE TIER r7 row for
the e27/e52/e55 family (the last measured family without a
replication-ladder entry).

Setup per tier: the benchmark side stays FIXED at the sf0.1 benchmark
slice (doc_id % 5 = 0, ~1,000 docs — eval sets don't grow with the
training corpus; that asymmetry IS the family's scale posture), while
the corpus side is sf0.1's non-benchmark slice replicated ×1/×5/×10 with
unique doc_ids and UNCHANGED text (replicas of a contaminated doc are
still contaminated — the flag volume must scale exactly with
replication).

Claims under test:
 - the e52 Bloom path touches the corpus ONCE, with zero shuffles of
   corpus text (positions are per-row map work; the filter is ≤ m rows
   and broadcasts) — wall should grow sublinearly-to-linearly in corpus
   rows with the benchmark side constant;
 - exact-hit counts scale exactly ×K under replication (correctness of
   the flag at volume), and Bloom false positives stay a bit-saturation
   property (constant per-doc probability at fixed benchmark side), so
   fp counts also scale ~×K.

Usage: cd /tmp && python <checkout>/scripts/stress_decontam.py
Pinned row in BASELINE.md ("SCALE TIER r7: decontamination").
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402


def main() -> None:
    from pyspark_ml_features_spark.functions.text import rolling_hash
    from pyspark_ml_features_spark.operators.quality import (
        BLOOM_FNS, BLOOM_M,
    )

    spark = (SparkSession.builder.master("local[8]")
             .config("spark.sql.shuffle.partitions", "16")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    d = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    bench = d.filter(F.col("doc_id") % 5 == 0).select("doc_id", "text")
    base_corpus = d.filter(F.col("doc_id") % 5 != 0).select("doc_id", "text")
    n0 = d.agg(F.max("doc_id")).collect()[0][0] + 1

    def corpus(k: int):
        if k == 1:
            return base_corpus
        reps = spark.range(k).select(F.col("id").alias("rep"))
        return (base_corpus.crossJoin(reps)
                .select((F.col("doc_id") + F.col("rep") * n0)
                        .alias("doc_id"), "text"))

    # Bloom filter from the FIXED benchmark side (built once per run,
    # inside the timing: at scale it is amortized across corpora, but
    # it is benchmark-sized so including it is honest and cheap).
    def run(c):
        t0 = time.time()
        bpos = (bench.select(rolling_hash("text").alias("h"))
                .select(F.explode(F.array(*[
                    ((F.col("h") * p + q) % BLOOM_M)
                    for p, q in BLOOM_FNS])).alias("pos"))
                .distinct().withColumn("hit", F.lit(1)))
        cpos = (c.select("doc_id", rolling_hash("text").alias("h"))
                .select("doc_id", F.explode(F.array(*[
                    ((F.col("h") * p + q) % BLOOM_M)
                    for p, q in BLOOM_FNS])).alias("pos")))
        flags = (cpos.join(F.broadcast(bpos), "pos", "left")
                 .groupBy("doc_id")
                 .agg((F.count("hit") == F.count(F.lit(1)))
                      .alias("bloom_hit")))
        n_bloom = flags.filter("bloom_hit").count()
        # exact ground truth: broadcast semi-join on text
        n_exact = (c.join(F.broadcast(bench.select("text").distinct()),
                          "text", "semi").count())
        wall = time.time() - t0
        return c.count(), n_bloom, n_exact, round(wall, 2)

    print(f"{'tier':>6} {'corpus':>8} {'bloom_hits':>10} {'exact_hits':>10} "
          f"{'false_pos':>9} {'wall_s':>7}")
    for k in (1, 5, 10):
        rows, nb, ne, wall = run(corpus(k))
        print(f"{'x'+str(k):>6} {rows:>8} {nb:>10} {ne:>10} "
              f"{nb-ne:>9} {wall:>7}")
    spark.stop()


if __name__ == "__main__":
    main()
