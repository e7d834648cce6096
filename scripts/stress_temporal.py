#!/usr/bin/env python
"""Temporal-join stress tier: measure candidate growth and wall time of
the banded interval-overlap join (d95's plan) and the union-merge
backward as-of (d98's plan) across event volumes, including a synthetic
5x tier (~500k events) built by replicating sf0.1's events with shifted
event_ids/user_ids (new entities, same time span — the densifying case:
MORE activity per hour-band, the regime where a naive inequality join
degrades quadratically).

For each tier it reports:
  - n_events, n_incidents (error events), n_activity (click+purchase)
  - candidate pairs of the banded plan = sum over hour bands of
    (activity rows in band x incidents touching band), computed from the
    band histogram (no join needed — exact even where the naive join
    would be too hot to run)
  - naive pairs = n_incidents x n_activity (the nested-loop cost the
    banding avoids)
  - output rows and wall time of the full d95 aggregate, and wall time
    of the d98 as-of merge

Usage: cd /tmp && python <checkout>/scripts/stress_temporal.py
Results are recorded in DESIGN_SCALE.md ("Temporal joins").
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402
from pyspark.sql import DataFrame, SparkSession  # noqa: E402

SF001 = "/root/testdata/sf0.01"
SF01 = "/root/testdata/sf0.1"


def events(spark: SparkSession, tier: str) -> DataFrame:
    from pyspark_ml_features_spark.sources import table

    if tier == "sf0.01":
        return table(spark, SF001, "events")
    base = table(spark, SF01, "events")
    if tier == "sf0.1":
        return base
    # 5x: replicate with disjoint entity/event ids, identical timestamps —
    # band density grows 5x while the time span stays fixed.
    n = int(tier.rstrip("x"))
    reps = spark.range(n).select(F.col("id").alias("rep"))
    return (base.crossJoin(F.broadcast(reps))
            .select((F.col("event_id") + F.col("rep") * 10_000_000)
                    .alias("event_id"),
                    "ts",
                    (F.col("user_id") + F.col("rep") * 1_000_000)
                    .alias("user_id"),
                    "event_type", "value", "props"))


def band_candidates(ev: DataFrame) -> tuple[int, int, int]:
    """Exact candidate volume of the banded plan from the band histogram."""
    band = (F.unix_timestamp("ts") / F.lit(3600)).cast("bigint")
    inc_bands = (ev.filter(F.col("event_type") == "error")
                 .select(F.explode(F.sequence(
                     band, band + F.lit(2))).alias("b"))
                 .groupBy("b").agg(F.count(F.lit(1)).alias("n_inc")))
    act_bands = (ev.filter(F.col("event_type").isin("click", "purchase"))
                 .select(band.alias("b"))
                 .groupBy("b").agg(F.count(F.lit(1)).alias("n_act")))
    row = (inc_bands.join(act_bands, "b")
           .agg(F.sum(F.col("n_inc") * F.col("n_act")).alias("cand"))
           .collect()[0])
    n_inc = ev.filter(F.col("event_type") == "error").count()
    n_act = ev.filter(F.col("event_type").isin("click", "purchase")).count()
    return int(row["cand"] or 0), n_inc, n_act


def run_d95(ev: DataFrame) -> tuple[int, float]:
    band = lambda c: (F.unix_timestamp(c) / F.lit(3600)).cast("bigint")  # noqa: E731
    inc = (ev.filter(F.col("event_type") == "error")
           .select(F.col("event_id").alias("incident_id"),
                   F.col("ts").alias("t_start"),
                   (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("t_end")))
    inc_b = inc.withColumn("band", F.explode(
        F.sequence(band(F.col("t_start")), band(F.col("t_end")))))
    act = (ev.filter(F.col("event_type").isin("click", "purchase"))
           .select(F.col("ts").alias("a_ts"),
                   F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
                   band(F.col("ts")).alias("band")))
    t0 = time.time()
    out = (inc_b.join(act, "band")
           .filter((F.col("a_ts") >= F.col("t_start"))
                   & (F.col("a_ts") < F.col("t_end")))
           .groupBy("incident_id")
           .agg(F.count(F.lit(1)).alias("n_hits"))
           .count())
    return out, time.time() - t0


def run_d98(ev: DataFrame) -> tuple[int, float]:
    from pyspark.sql import Window

    quotes = (ev.filter(F.col("event_type") == "view")
              .groupBy("user_id", "ts")
              .agg(F.max("value").alias("qv"))
              .select("user_id", "ts", "qv", F.lit(0).alias("tag"),
                      F.lit(None).cast("long").alias("event_id")))
    trades = (ev.filter(F.col("event_type") == "purchase")
              .select("user_id", "ts", F.lit(None).cast("double").alias("qv"),
                      F.lit(1).alias("tag"), "event_id"))
    u = quotes.unionByName(trades)
    w = (Window.partitionBy("user_id").orderBy("ts", "tag")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    t0 = time.time()
    n = (u.select("tag", F.last("qv", ignorenulls=True).over(w).alias("q"))
         .filter((F.col("tag") == 1) & F.col("q").isNotNull())
         .count())
    return n, time.time() - t0


def main() -> None:
    spark = (SparkSession.builder.master("local[8]")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.shuffle.partitions", "16")
             .config("spark.sql.session.timeZone", "UTC")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    print(f"{'tier':>7} {'n_events':>9} {'n_inc':>7} {'n_act':>7} "
          f"{'banded_cand':>12} {'naive_pairs':>13} {'d95_rows':>9} "
          f"{'d95_s':>6} {'d98_rows':>9} {'d98_s':>6}")
    for tier in ("sf0.01", "sf0.1", "5x"):
        ev = events(spark, tier).cache()
        n = ev.count()
        cand, n_inc, n_act = band_candidates(ev)
        d95_rows, d95_s = run_d95(ev)
        d98_rows, d98_s = run_d98(ev)
        print(f"{tier:>7} {n:>9} {n_inc:>7} {n_act:>7} {cand:>12} "
              f"{n_inc * n_act:>13} {d95_rows:>9} {d95_s:>6.1f} "
              f"{d98_rows:>9} {d98_s:>6.1f}")
        ev.unpersist()


if __name__ == "__main__":
    main()
