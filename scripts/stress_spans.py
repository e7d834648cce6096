#!/usr/bin/env python
"""Span-dedup (e69) volume stress: measure how the duplicate-passage
report's intermediate and output volumes grow with corpus size.

The scale claim under test: unlike any pair-producing dedup (e3/e2*/e33,
whose output is pairs and can grow quadratically), e69's volumes are
 - gram rows   = sum(len(doc) - 4)            -> linear in corpus tokens
 - dup grams   <= distinct grams              -> sublinear (vocabulary)
 - hit rows    <= gram rows                   -> linear worst case
 - OUTPUT rows <= n_docs (one report row/doc) -> linear, always
so the operator cannot blow up on a pathologically self-similar corpus —
the exact corpus shape that saturates banded pair joins (stress_dedup).

Tiers: sf0.01 (500 docs), sf0.1 (5k), and sf0.1 replicated 5x and 10x
with a per-replica leading marker token (25k/50k docs, maximally
cross-duplicated: every original passage now repeats in 5/10 places) —
the worst case for any pair-based method and the demonstration that the
span report stays flat. The ×10 tier is the pinned SCALE TIER r7 row
(VERDICT r6 task 5a): it tests the "output bounded by n_docs" claim at
replication scale, where hit rows grow ~replication× but out_rows stays
exactly n_docs-bounded.

Usage: cd /tmp && python <checkout>/scripts/stress_spans.py
Results recorded in DESIGN_SCALE.md ("Span-level dedup volumes").
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402
from pyspark.sql import DataFrame, SparkSession  # noqa: E402

K = 5


def tiers(spark: SparkSession):
    d001 = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    d01 = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    n01 = d01.count()
    def replicate(k: int):
        reps = spark.range(k).select(F.col("id").alias("rep"))
        return (d01.crossJoin(reps)
                .select((F.col("doc_id") + F.col("rep") * n01)
                        .alias("doc_id"),
                        F.concat(F.lit("rep"), F.col("rep").cast("string"),
                                 F.lit(" "), F.col("text")).alias("text")))

    return [("sf0.01", d001), ("sf0.1", d01),
            ("sf0.1 x5", replicate(5)), ("sf0.1 x10", replicate(10))]


def measure(docs: DataFrame) -> dict:
    """Mirrors e69's production pipeline: packed two-base 8-byte gram
    fingerprints (not gram strings) are what shuffles."""
    from pyspark_ml_features_spark.functions.text import rolling_hash
    from pyspark_ml_features_spark.operators.dedup import MINHASH_P

    t0 = time.time()
    th_docs = docs.select(
        "doc_id",
        F.transform(F.split("text", " "),
                    lambda tok: rolling_hash(tok)).alias("th"))

    def fold(i, base):
        expr = F.element_at("th", i)
        for j in range(1, K):
            expr = (expr * base + F.element_at("th", i + j)) % MINHASH_P
        return expr

    starts = F.when(F.size("th") >= K,
                    F.sequence(F.lit(1), F.size("th") - (K - 1))
                    ).otherwise(F.array().cast("array<int>"))
    grams = th_docs.select(
        "doc_id",
        F.posexplode(F.transform(
            starts,
            lambda i: fold(i, 10007) * F.lit(2147483648) + fold(i, 5003)))
        .alias("pos", "gram"))
    n_grams = grams.count()
    dupg = (grams.groupBy("gram")
            .agg(F.countDistinct("doc_id").alias("nd"))
            .filter(F.col("nd") >= 2).select("gram"))
    n_dupg = dupg.count()
    hits = grams.join(dupg, "gram").select("doc_id", "pos")
    n_hits = hits.count()
    n_out = hits.select("doc_id").distinct().count()
    return {"n_docs": docs.count(), "grams": n_grams, "dup_grams": n_dupg,
            "hits": n_hits, "out_rows": n_out, "wall": time.time() - t0}


def main() -> None:
    spark = (SparkSession.builder.master("local[8]")
             .config("spark.sql.shuffle.partitions", "16")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    print(f"{'tier':>9} {'docs':>7} {'grams':>9} {'dup_grams':>9} "
          f"{'hits':>9} {'out_rows':>8} {'wall_s':>7}")
    for name, docs in tiers(spark):
        m = measure(docs)
        print(f"{name:>9} {m['n_docs']:>7} {m['grams']:>9} "
              f"{m['dup_grams']:>9} {m['hits']:>9} {m['out_rows']:>8} "
              f"{m['wall']:>7.1f}")
    spark.stop()


if __name__ == "__main__":
    main()
