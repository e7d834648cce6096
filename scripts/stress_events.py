#!/usr/bin/env python
"""Event/sessionization family at replicated tiers — the SCALE TIER r7
row for the E9/E10/d124 family (windowed event analytics had per-family
bench rows but no replication-ladder entry).

Tiers: sf0.1 events (100k rows, 1,500 users) replicated ×1/×5/×10 by
OFFSETTING user_id and event_id while keeping timestamps — each replica
is a disjoint user population with an identical event stream, so the
right answers scale EXACTLY ×K (sessions, sliding-window distinct
users) and any deviation is an engine bug, not noise.

Claims under test:
 - e9 sessionization (lag + running-sum ids + per-session aggregate,
   all windows partitioned BY USER): session count exactly ×K, wall
   ~linear — per-user windows mean replication adds partitions, never
   widens one;
 - d124 sliding 7-day distinct users: the pre-aggregate collapse
   (events → distinct (day, user) rows) is the scale story — its
   collapse RATIO is invariant across tiers and the windowed distinct
   count scales exactly ×K per window end.

Usage: cd /tmp && python <checkout>/scripts/stress_events.py
Pinned row in BASELINE.md ("SCALE TIER r7: event windows").
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402


def tiers(spark: SparkSession):
    # raw parquet reads events.ts as TIMESTAMP_NTZ — cast like sources.table
    e = (spark.read.parquet("/root/testdata/sf0.1/events.parquet")
         .withColumn("ts", F.col("ts").cast("timestamp")))
    n_ev = e.agg(F.max("event_id")).collect()[0][0] + 1
    n_us = e.agg(F.max("user_id")).collect()[0][0] + 1

    def replicate(k: int):
        if k == 1:
            return e
        reps = spark.range(k).select(F.col("id").alias("rep"))
        return (e.crossJoin(reps)
                .select((F.col("event_id") + F.col("rep") * n_ev)
                        .alias("event_id"),
                        "ts",
                        (F.col("user_id") + F.col("rep") * n_us)
                        .alias("user_id"),
                        "event_type", "value", "props"))

    return [("x1", e), ("x5", replicate(5)), ("x10", replicate(10))]


def main() -> None:
    from pyspark_ml_features_spark.operators.sessionize import sessionized

    spark = (SparkSession.builder.master("local[8]")
             .config("spark.sql.shuffle.partitions", "16")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    print(f"{'tier':>5} {'events':>8} {'sessions':>9} {'sess_wall':>9} "
          f"{'dayuser':>8} {'wau_rows':>8} {'wau_max':>8} {'wau_wall':>9}")
    for name, ev in tiers(spark):
        n = ev.count()
        # e9: per-user gap sessions
        t0 = time.time()
        n_sessions = (sessionized(ev)
                      .select("user_id", "session_id").distinct().count())
        sess_wall = time.time() - t0
        # d124 shape: distinct (day, user) -> <=7x fan-out -> semi join
        t0 = time.time()
        du = ev.select(F.to_date("ts").alias("d"), "user_id").distinct()
        n_du = du.count()
        spine = du.select(F.col("d").alias("win_end")).distinct()
        cand = du.select(
            "user_id",
            F.explode(F.sequence(F.col("d"), F.date_add("d", 6)))
            .alias("win_end"))
        wau = (cand.join(F.broadcast(spine), "win_end", "semi")
               .groupBy("win_end")
               .agg(F.count_distinct("user_id").alias("u")))
        rows, mx = wau.count(), wau.agg(F.max("u")).collect()[0][0]
        wau_wall = time.time() - t0
        print(f"{name:>5} {n:>8} {n_sessions:>9} {sess_wall:>9.2f} "
              f"{n_du:>8} {rows:>8} {mx:>8} {wau_wall:>9.2f}")
    spark.stop()


if __name__ == "__main__":
    main()
