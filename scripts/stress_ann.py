#!/usr/bin/env python
"""ANN-geometry stress tier: measure candidate-pair volume, wall time, and
recall of the hyperplane-LSH bucketed kNN (e4b's plan) against the exact
brute-force baseline (e4's plan) across corpus sizes, including a synthetic
10x tier (~50k vectors) built by replicating sf0.1's embeddings with unique
vec_ids.

For each (corpus size, geometry in {4 planes / 16 buckets, 8 planes / 256
buckets}) it reports:
  - n_corpus, n_queries (the deterministic vec_id % 50 == 0 query set)
  - brute-force candidates = |Q| * n (what e4 computes)
  - LSH candidates = sum over buckets |Q_b| * n_b (computed from bucket-size
    aggregates - no join needed, exact at any scale)
  - recall@5 of the bucketed top-5 vs the exact top-5 (skipped where the
    brute-force side is skipped)
  - wall time of the bucketed pipeline

Usage: cd /tmp && python <checkout>/scripts/stress_ann.py [--full]
(--full also runs the brute-force join + recall at the 10x tier; expect
minutes - 50M candidate folds.)

Results are recorded in DESIGN_SCALE.md ("Measured ANN candidate growth").
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402
from pyspark.sql import DataFrame, SparkSession, Window  # noqa: E402

from pyspark_ml_features_spark.functions.arrays import (  # noqa: E402
    adot,
    l2_norm,
    to_double_array,
)
from pyspark_ml_features_spark.operators.similarity import _lsh_planes  # noqa: E402

SF001 = "/root/testdata/sf0.01"
SF01 = "/root/testdata/sf0.1"
K = 5


def corpus(spark: SparkSession, tier: str) -> DataFrame:
    if tier == "sf0.01":
        src = f"{SF001}/embeddings.parquet"
        return spark.read.parquet(src).select("vec_id", "embedding")
    if tier == "sf0.1":
        src = f"{SF01}/embeddings.parquet"
        return spark.read.parquet(src).select("vec_id", "embedding")
    if tier == "10x":
        base = spark.read.parquet(f"{SF01}/embeddings.parquet") \
            .select("vec_id", "embedding")
        n = base.agg(F.max("vec_id")).first()[0] + 1
        copies = [
            base.select((F.col("vec_id") + F.lit(n * i)).alias("vec_id"),
                        "embedding")
            for i in range(10)
        ]
        out = copies[0]
        for c in copies[1:]:
            out = out.unionByName(c)
        return out
    raise ValueError(tier)


def with_buckets(e: DataFrame, n_planes: int) -> DataFrame:
    planes = _lsh_planes(n_planes=n_planes)
    bucket = None
    for p, plane in enumerate(planes):
        plane_col = F.array(*[F.lit(v) for v in plane])
        bit = (F.when(adot(plane_col, F.col("emb")) >= 0, F.lit(1 << p))
               .otherwise(F.lit(0)))
        bucket = bit if bucket is None else bucket + bit
    return e.withColumn("bucket", bucket)


def topk(pairs: DataFrame) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"),
                                               F.asc("neighbor_id"))
    return (pairs.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= K)
            .select("query_id", "neighbor_id"))


def run_tier(spark: SparkSession, tier: str, full: bool) -> None:
    e = corpus(spark, tier).select(
        "vec_id", to_double_array("embedding").alias("emb"))
    e = e.withColumn("nrm", l2_norm(F.col("emb")))
    e = e.localCheckpoint(eager=True)  # freeze; reused many times below
    n = e.count()
    q_ids = F.col("vec_id") % 50 == 0
    n_q = e.filter(q_ids).count()
    brute_candidates = n_q * n

    exact_top = None
    if tier != "10x" or full:
        q = (e.filter(q_ids)
             .select(F.col("vec_id").alias("query_id"),
                     F.col("emb").alias("qemb"), F.col("nrm").alias("qnrm")))
        t0 = time.time()
        pairs = (e.crossJoin(F.broadcast(q))
                 .filter(F.col("query_id") != F.col("vec_id"))
                 .select("query_id", F.col("vec_id").alias("neighbor_id"),
                         F.round(adot(F.col("qemb"), F.col("emb"))
                                 / (F.col("qnrm") * F.col("nrm")), 6)
                         .alias("cosine")))
        exact_top = topk(pairs).localCheckpoint(eager=True)
        exact_top.count()
        brute_sec = time.time() - t0
    else:
        brute_sec = None

    for n_planes in (4, 8):
        eb = with_buckets(e, n_planes)
        sizes = eb.groupBy("bucket").agg(F.count(F.lit(1)).alias("nc"))
        qsizes = (eb.filter(q_ids).groupBy("bucket")
                  .agg(F.count(F.lit(1)).alias("nq")))
        cand = (sizes.join(qsizes, "bucket")
                .agg(F.sum(F.col("nc").cast("bigint") * F.col("nq")))
                .first()[0]) or 0

        q = (eb.filter(q_ids)
             .select(F.col("vec_id").alias("query_id"),
                     F.col("emb").alias("qemb"),
                     F.col("nrm").alias("qnrm"), "bucket"))
        t0 = time.time()
        pairs = (eb.join(F.broadcast(q), "bucket")
                 .filter(F.col("query_id") != F.col("vec_id"))
                 .select("query_id", F.col("vec_id").alias("neighbor_id"),
                         F.round(adot(F.col("qemb"), F.col("emb"))
                                 / (F.col("qnrm") * F.col("nrm")), 6)
                         .alias("cosine")))
        lsh_top = topk(pairs).localCheckpoint(eager=True)
        lsh_top.count()
        lsh_sec = time.time() - t0

        if exact_top is not None:
            hits = exact_top.join(lsh_top, ["query_id", "neighbor_id"]) \
                .count()
            denom = exact_top.count()
            recall = hits / denom if denom else float("nan")
            recall_s = f"{recall:.3f}"
        else:
            recall_s = "skipped"

        # multi-probe: each query also probes every bucket at Hamming
        # distance 1 from its own (n_planes+1 probes of 2^n_planes
        # buckets) - the standard recall/candidate dial.
        probes = F.array(F.col("bucket"),
                         *[F.col("bucket").bitwiseXOR(F.lit(1 << i))
                           for i in range(n_planes)])
        qm = (eb.filter(q_ids)
              .select(F.col("vec_id").alias("query_id"),
                      F.col("emb").alias("qemb"),
                      F.col("nrm").alias("qnrm"),
                      F.explode(probes).alias("bucket")))
        mp_sizes = (qm.groupBy("bucket").agg(F.count(F.lit(1)).alias("nq")))
        mp_cand = (sizes.join(mp_sizes, "bucket")
                   .agg(F.sum(F.col("nc").cast("bigint") * F.col("nq")))
                   .first()[0]) or 0
        t0 = time.time()
        mp_pairs = (eb.join(F.broadcast(qm), "bucket")
                    .filter(F.col("query_id") != F.col("vec_id"))
                    .select("query_id", F.col("vec_id").alias("neighbor_id"),
                            F.round(adot(F.col("qemb"), F.col("emb"))
                                    / (F.col("qnrm") * F.col("nrm")), 6)
                            .alias("cosine"))
                    .dropDuplicates(["query_id", "neighbor_id"]))
        mp_top = topk(mp_pairs).localCheckpoint(eager=True)
        mp_top.count()
        mp_sec = time.time() - t0
        if exact_top is not None:
            mp_hits = exact_top.join(mp_top, ["query_id", "neighbor_id"]) \
                .count()
            mp_recall_s = f"{mp_hits / exact_top.count():.3f}"
        else:
            mp_recall_s = "skipped"

        # OR-banding: B independent plane SETS (seeds 42+band, band 0 =
        # the single-band geometry above), candidates = union of
        # same-bucket pairs across bands — e116's graded semantics at the
        # kNN grain. Candidate count is the per-band sum (the work
        # actually done; overlaps fold twice here, unlike e116's
        # first-band attribution which the graded query pins exactly).
        n_bands = 4
        ebs = e
        for band in range(n_bands):
            planes = _lsh_planes(n_planes=n_planes, seed=42 + band)
            bucket = None
            for p, plane in enumerate(planes):
                plane_col = F.array(*[F.lit(v) for v in plane])
                bit = (F.when(adot(plane_col, F.col("emb")) >= 0,
                              F.lit(1 << p)).otherwise(F.lit(0)))
                bucket = bit if bucket is None else bucket + bit
            ebs = ebs.withColumn(f"bucket_{band}", bucket)
        ob_cand = 0
        band_pairs = []
        for band in range(n_bands):
            bsizes = (ebs.groupBy(f"bucket_{band}")
                      .agg(F.count(F.lit(1)).alias("nc")))
            bq = (ebs.filter(q_ids).groupBy(f"bucket_{band}")
                  .agg(F.count(F.lit(1)).alias("nq")))
            ob_cand += (bsizes.join(bq, f"bucket_{band}")
                        .agg(F.sum(F.col("nc").cast("bigint")
                                   * F.col("nq"))).first()[0]) or 0
            band_pairs.append(
                ebs.join(F.broadcast(
                    ebs.filter(q_ids).select(
                        F.col("vec_id").alias("query_id"),
                        F.col("emb").alias("qemb"),
                        F.col("nrm").alias("qnrm"),
                        F.col(f"bucket_{band}"))), f"bucket_{band}")
                .filter(F.col("query_id") != F.col("vec_id"))
                .select("query_id", F.col("vec_id").alias("neighbor_id"),
                        F.round(adot(F.col("qemb"), F.col("emb"))
                                / (F.col("qnrm") * F.col("nrm")), 6)
                        .alias("cosine")))
        t0 = time.time()
        ob_pairs = band_pairs[0]
        for bp in band_pairs[1:]:
            ob_pairs = ob_pairs.unionByName(bp)
        ob_top = topk(ob_pairs.dropDuplicates(["query_id", "neighbor_id"])) \
            .localCheckpoint(eager=True)
        ob_top.count()
        ob_sec = time.time() - t0
        if exact_top is not None:
            ob_hits = exact_top.join(ob_top, ["query_id", "neighbor_id"]) \
                .count()
            ob_recall_s = f"{ob_hits / exact_top.count():.3f}"
        else:
            ob_recall_s = "skipped"

        print(f"{tier:7s} planes={n_planes} n={n:6d} q={n_q:4d} "
              f"brute_cand={brute_candidates:12,d} "
              f"lsh_cand={cand:12,d} "
              f"ratio={brute_candidates / max(cand, 1):6.1f}x "
              f"lsh_sec={lsh_sec:6.1f} "
              f"brute_sec={brute_sec if brute_sec is None else round(brute_sec, 1)} "
              f"recall@5={recall_s} | multiprobe(H<=1) "
              f"cand={mp_cand:12,d} sec={mp_sec:5.1f} "
              f"recall@5={mp_recall_s} | orband(B={n_bands}) "
              f"cand={ob_cand:12,d} sec={ob_sec:5.1f} "
              f"recall@5={ob_recall_s}")


def main() -> None:
    full = "--full" in sys.argv
    from pyspark_ml_features_spark.session import get_spark
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    for tier in ("sf0.01", "sf0.1", "10x"):
        run_tier(spark, tier, full)


if __name__ == "__main__":
    main()
