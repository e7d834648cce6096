#!/usr/bin/env python
"""Quantile/histogram family (d51 exact percentiles, d52 width-bucket
histogram) at replicated tiers — the SCALE TIER r8 row for the
order-statistics aggregate family (VERDICT r7 task 4b).

Claims under test:
 - d52's equi-width histogram counts scale EXACTLY ×K under corpus
   replication and every bucket's lo/hi is invariant (the bucket rule
   is scan-side arithmetic; replication can't move a boundary);
 - d51's exact-percentile aggregate is MAP-SIDE COMBINABLE on a
   value→count digest, so its shuffle volume stays FLAT across a 10×
   data ladder (replication adds no distinct values — the digest, not
   the rows, crosses the wire) while scan rows grow ×10;
 - percentile VALUES converge: every replicated-tier percentile is
   within 1e-4 RELATIVE of its base-tier value (exact invariance is
   not claimed — linear interpolation positions shift with n, measured
   ~6e-6; the scale story is the flat digest, and b6b's approx path is
   the production default);
 - wall is FLAT-to-linear across the ladder (measured flat: the
   digest merge over distinct values dominates, not the row scan;
   gate: ≤1.5× drift on re-runs).

Usage: cd /tmp && python <checkout>/scripts/stress_quantiles.py
Pinned row in BASELINE.md ("SCALE TIER r8: quantile/histogram").
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402


def lineitem(spark: SparkSession, replicas: int = 1):
    li = spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet") \
        .select("l_returnflag", "l_extendedprice")
    if replicas == 1:
        return li
    reps = spark.range(replicas).select(F.col("id").alias("rep"))
    return li.crossJoin(reps).drop("rep")


def run_d51(spark, li):
    from pyspark_ml_features_spark.plans.profile import profile

    p = F.expr("percentile(l_extendedprice, array(0.25, 0.5, 0.75, 0.99))")
    df = (li.groupBy("l_returnflag")
          .agg(p.alias("p"), F.median("l_extendedprice").alias("med")))
    rows = {}
    run = profile(spark, lambda: rows.update(
        {r["l_returnflag"]: (r["p"], r["med"]) for r in df.collect()}))
    return rows, run.row(), run.wall_s


def run_d52(spark, li):
    from pyspark_ml_features_spark.plans.profile import profile

    x = F.col("l_extendedprice")
    b = (F.when(x < 900.0, 0)
         .when(x >= 105000.0, 21)
         .otherwise(F.floor((x - 900.0) / (105000.0 - 900.0) * 20)
                    .cast("bigint") + 1))
    df = (li.groupBy(b.alias("bucket"))
          .agg(F.count(F.lit(1)).alias("n"),
               F.min(x).alias("lo"), F.max(x).alias("hi")))
    rows = {}
    run = profile(spark, lambda: rows.update(
        {r["bucket"]: (r["n"], r["lo"], r["hi"]) for r in df.collect()}))
    return rows, run.row(), run.wall_s


def main() -> None:
    spark = (SparkSession.builder.master("local[8]")
             .config("spark.sql.shuffle.partitions", "16")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    run_d52(spark, lineitem(spark, 1))  # warmup: JIT + parquet footer

    base_hist = None
    base_pct = None
    base_n = lineitem(spark, 1).count()
    print(f"{'tier':>9} {'query':>5} {'rows':>9} {'shuffle_MiB':>11} "
          f"{'wall_s':>7}  invariant-check")
    for k in (1, 5, 10):
        li = lineitem(spark, k)
        pct, m51, w51 = run_d51(spark, li)
        hist, m52, w52 = run_d52(spark, li)
        if k == 1:
            base_pct, base_hist = pct, hist
            pct_ok, hist_ok = "base", "base"
        else:
            # histogram: counts exactly ×K, lo/hi bit-identical
            hist_ok = all(
                hist[b] == (base_hist[b][0] * k, base_hist[b][1],
                            base_hist[b][2])
                for b in base_hist) and set(hist) == set(base_hist)
            # percentiles: within 1e-4 relative of base per quantile
            # (interpolation positions shift with n; measured ~6e-6)
            pct_ok = all(
                abs(v - bv) <= 1e-4 * abs(bv)
                for g, (arr, med) in pct.items()
                for v, bv in zip(list(arr) + [med],
                                 list(base_pct[g][0]) + [base_pct[g][1]]))
        print(f"{'x' + str(k):>9} {'d51':>5} {base_n * k:>9} "
              f"{m51['shuffle_MiB']:>11} {w51:>7.2f}  pct-1e-4={pct_ok}")
        print(f"{'x' + str(k):>9} {'d52':>5} {base_n * k:>9} "
              f"{m52['shuffle_MiB']:>11} {w52:>7.2f}  counts-xK={hist_ok}")
    spark.stop()


if __name__ == "__main__":
    main()
