#!/usr/bin/env python
"""Measured packing-shard evidence (round 5): does shard count actually
scale e51's stateful fold, and does the capacity invariant hold as the
corpus grows?

e51's scale claim — "raise the shard count until each group fits an
executor's memory; skewed languages split across shards instead of
hot-spotting one task" — measured like the other stress families:

* Corpus tiers: sf0.1 documents replicated x1 / x5 / x20 with unique
  doc_ids (5k / 25k / 100k docs).
* Shard counts 1 / 4 / 16 / 64 on the (lang, doc_id % S) group key.
* Per cell: wall time of the full fold (Arrow boundary carries only
  (key, n_tokens)), the capacity-violation count (MUST be 0: a pack
  over GREEDY_PACK_CAP with >1 member is a correctness bug), and the
  max group size (the per-task memory bound the shard knob exists to
  control).

Run: cd /tmp && python <checkout>/scripts/stress_packing.py
Results recorded in DESIGN_SCALE.md ("Packing shard tiers").
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

from pyspark_ml_features_spark.functions.text import tokens  # noqa: E402
from pyspark_ml_features_spark.operators.packing import (  # noqa: E402
    GREEDY_PACK_CAP,
)

SF_DIR = "/root/testdata/sf0.1"


def corpus(spark: SparkSession, replicas: int):
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n = d.count()
    reps = spark.range(replicas).select(F.col("id").alias("rep"))
    return (d.crossJoin(reps)
            .select((F.col("doc_id") + F.col("rep") * n).alias("doc_id"),
                    "lang", "text"))


def pack(base, shards: int):
    import pandas as pd

    def pack_group(pdf):
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        bin_id, fill, out = 0, 0, []
        for t in pdf["n_tokens"]:
            if bin_id == 0 or fill + t > GREEDY_PACK_CAP:
                bin_id += 1
                fill = t
            else:
                fill += t
            out.append(bin_id)
        pdf["bin_id"] = pd.Series(out, dtype="int64")
        return pdf[["lang", "shard", "doc_id", "n_tokens", "bin_id"]]

    keyed = base.select(
        "lang", (F.col("doc_id") % shards).alias("shard"),
        "doc_id", F.size(tokens("text")).cast("bigint").alias("n_tokens"))
    return keyed.groupBy("lang", "shard").applyInPandas(
        pack_group,
        schema="lang string, shard bigint, doc_id bigint, "
               "n_tokens bigint, bin_id bigint")


def main() -> None:
    spark = (SparkSession.builder.master("local[8]")
             .appName("stress_packing")
             .config("spark.sql.shuffle.partitions", "16")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    print("tier | docs | shards | wall | max_group | packs | cap_violations")
    for replicas in (1, 5, 20):
        base = corpus(spark, replicas).localCheckpoint(eager=True)
        n_docs = base.count()
        for shards in (1, 4, 16, 64):
            t0 = time.time()
            packed = pack(base, shards)
            # capacity audit: multi-member packs must fit the cap
            # (a single oversized doc legitimately owns an over-cap bin)
            audit = (packed.groupBy("lang", "shard", "bin_id")
                     .agg(F.sum("n_tokens").alias("fill"),
                          F.count(F.lit(1)).alias("members")))
            viol = audit.filter((F.col("fill") > GREEDY_PACK_CAP)
                                & (F.col("members") > 1)).count()
            n_packs = audit.count()
            wall = time.time() - t0
            max_group = (packed.groupBy("lang", "shard")
                         .count().agg(F.max("count")).collect()[0][0])
            print(f"x{replicas} | {n_docs} | {shards:2d} | {wall:5.1f}s |"
                  f" {max_group:7d} | {n_packs:7d} | {viol}")
    spark.stop()


if __name__ == "__main__":
    main()
