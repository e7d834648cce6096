#!/usr/bin/env python
"""Dedup-geometry stress tier (VERDICT r3 task 6): measure candidate and
output pair-volume growth of the banded SimHash plans across corpus sizes,
including a synthetic 10x tier (~50k docs) built by replicating sf0.1's
documents with unique doc_ids and a per-replica marker token (so replicas
are NEAR-duplicates — one leading token apart — not exact duplicates).

For each (corpus size, geometry in {16-bit e2c teaching, 64-bit e2d
deployment}) it reports:
  - n_docs
  - candidate pairs = sum over (band_id, band_val) buckets of C(sz, 2)
    (computed from bucket sizes — no join needed, so it is exact even for
    geometries whose join would be too hot to run)
  - output pairs (Hamming <= 3 after the first-match-only band join) and
    the wall time of the full pipeline, unless --no-join skips the 16-bit
    join at the 10x tier (its candidate count alone proves the point)

Usage: cd /tmp && python <checkout>/scripts/stress_dedup.py [--full]
(--full also runs the 16-bit join at the 10x tier; expect minutes.)

Results are recorded in DESIGN_SCALE.md ("Measured pair-volume growth").
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402
from pyspark.sql import DataFrame, SparkSession  # noqa: E402

from pyspark_ml_features_spark.operators.dedup import (  # noqa: E402
    BAND_BITS,
    BAND_BITS_64,
    HAM_K,
    N_BANDS,
    first_match_only,
    simhash,
    simhash64,
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
    if tier == "10x":
        base = spark.read.parquet(f"{SF01}/documents.parquet") \
            .select("doc_id", "text")
        n = base.agg(F.max("doc_id")).first()[0] + 1
        copies = [
            base.select(
                (F.col("doc_id") + F.lit(k * n)).alias("doc_id"),
                # replica k prefixes one marker token: near-dup of the
                # original (one token of difference), never an exact dup
                F.concat(F.lit(f"v{k} "), F.col("text")).alias("text"))
            for k in range(10)
        ]
        out = copies[0]
        for c in copies[1:]:
            out = out.unionByName(c)
        return out
    raise ValueError(tier)


def banded(sig: DataFrame, band_bits: int) -> DataFrame:
    mask = (1 << band_bits) - 1
    return sig.select(
        "doc_id", "simhash",
        F.posexplode(F.array(*[
            F.shiftright(F.col("simhash"), band_bits * b)
             .bitwiseAND(F.lit(mask))
            for b in range(N_BANDS)
        ])).alias("band_id", "band_val"))


def candidates(bd: DataFrame) -> int:
    """Exact candidate-pair count from bucket sizes: sum C(sz, 2)."""
    return (bd.groupBy("band_id", "band_val")
            .agg(F.count(F.lit(1)).alias("sz"))
            .agg(F.sum(F.col("sz") * (F.col("sz") - 1) / 2).alias("c"))
            .first()["c"])


def output_pairs(bd: DataFrame, band_bits: int) -> int:
    a = bd.select(F.col("doc_id").alias("d1"), F.col("simhash").alias("h1"),
                  "band_id", "band_val")
    b = bd.select(F.col("doc_id").alias("d2"), F.col("simhash").alias("h2"),
                  "band_id", "band_val")
    ham = F.bit_count(F.col("h1").bitwiseXOR(F.col("h2")))
    return (a.join(b, ["band_id", "band_val"])
            .filter((F.col("d1") < F.col("d2"))
                    & first_match_only(F.col("h1"), F.col("h2"),
                                       F.col("band_id"), band_bits, N_BANDS))
            .filter(ham <= HAM_K)
            .count())


def main() -> None:
    full = "--full" in sys.argv
    spark = (SparkSession.builder.master("local[8]")
             .config("spark.sql.shuffle.partitions", "16")
             .config("spark.ui.enabled", "false")
             .config("spark.driver.memory", "16g").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    print(f"{'tier':8s} {'geometry':8s} {'n_docs':>8s} {'candidates':>14s} "
          f"{'out_pairs':>10s} {'wall_s':>8s}")
    for tier in ("sf0.01", "sf0.1", "10x"):
        docs = corpus(spark, tier).cache()
        n = docs.count()
        for geom, fingerprint, bits in (("16-bit", simhash, BAND_BITS),
                                        ("64-bit", simhash64, BAND_BITS_64)):
            sig = fingerprint(docs).cache()
            sig.count()  # materialize so the join timing is join-only
            bd = banded(sig, bits)
            cand = int(candidates(bd))
            if geom == "16-bit" and tier == "10x" and not full:
                print(f"{tier:8s} {geom:8s} {n:8d} {cand:14d} "
                      f"{'skipped':>10s} {'—':>8s}")
                sig.unpersist()
                continue
            t0 = time.perf_counter()
            out = output_pairs(bd, bits)
            wall = time.perf_counter() - t0
            print(f"{tier:8s} {geom:8s} {n:8d} {cand:14d} {out:10d} "
                  f"{wall:8.1f}")
            sig.unpersist()
        docs.unpersist()
    spark.stop()


if __name__ == "__main__":
    main()
