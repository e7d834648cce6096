#!/usr/bin/env python
"""Skew stress: measured behavior of the engine's three skew answers on a
deliberately hot-keyed tier — the one axis the other stress scripts don't
cover (volume: stress_relational; geometry: stress_dedup; memory:
stress_spill).

Tier: sf0.1 events replicated 30x (3M rows) with 60% of rows reassigned
to ONE user
(user_id = 0 when event_id % 10 < 6) — the "one whale key" shape that
breaks naive hash partitioning at 100 TB, written as parquet so scans are
realistic.

Measured, per strategy (wall = min of 2 on noop sink; shuffle and the
largest per-task peak memory from plans/profile.py over the faster run):

1. window-over-hot-key (rank events per user): the worst case — one task
   owns 60% of the data; peak memory should visibly exceed the uniform
   tier's.
2. groupBy-agg over the hot key: partial aggregation absorbs the skew
   map-side (peak should stay flat) — the measured proof that hash
   aggregation is skew-immune while windows are not.
3. join events x users on the hot key, AQE skew split ON vs OFF: AQE
   splits the hot partition at runtime (wall/peak drop); the manual
   salted_join (functions/skew.py) is the fallback measured alongside.

Usage: cd /tmp && python <checkout>/scripts/stress_skew.py
Results recorded in DESIGN_SCALE.md ("Skew behavior, measured").
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402
from pyspark.sql import SparkSession, Window  # noqa: E402

from pyspark_ml_features_spark.functions.skew import salted_join  # noqa: E402
from pyspark_ml_features_spark.plans.profile import profile  # noqa: E402
from pyspark_ml_features_spark.session import get_spark  # noqa: E402

SF01 = "/root/testdata/sf0.1"
BASE = f"/tmp/pmfs_stress_skew_{os.getpid()}"


REPL = 30  # 3M events; the hot user owns ~1.8M rows (60%)


def build(spark: SparkSession) -> tuple[str, str]:
    """Write a skewed and a uniform twin of sf0.1 events, replicated
    REPL-fold with unique event_ids (and, for the uniform twin, shifted
    user_ids so key cardinality grows too)."""
    ev = spark.read.parquet(f"{SF01}/events.parquet")
    eid_span = ev.agg(F.max("event_id")).first()[0] + 1
    uid_span = ev.agg(F.max("user_id")).first()[0] + 1

    def rep(df, shift_users):
        parts = []
        for i in range(REPL):
            p = df.withColumn("event_id",
                              F.col("event_id") + F.lit(i * eid_span))
            if shift_users:
                p = p.withColumn("user_id",
                                 F.col("user_id") + F.lit(i * uid_span))
            parts.append(p)
        u = parts[0]
        for p in parts[1:]:
            u = u.unionAll(p)
        return u

    skewed = rep(ev, shift_users=False).withColumn(
        "user_id",
        F.when(F.col("event_id") % 10 < 6, F.lit(0)).otherwise(
            F.col("user_id")))
    sk, un = f"{BASE}/skewed", f"{BASE}/uniform"
    skewed.write.mode("overwrite").parquet(sk)
    rep(ev, shift_users=True).write.mode("overwrite").parquet(un)
    return sk, un


def measure(df, label: str) -> dict:
    best = min((profile(df.sparkSession, lambda: df.write.format("noop")
                        .mode("overwrite").save()) for _ in range(2)),
               key=lambda p: p.wall_s)
    m = best.row()
    row = {"case": label, "wall_s": round(best.wall_s, 2), **m}
    print(f"| {label} | {row['wall_s']} | {m['shuffle_MiB']} | "
          f"{m['peak_task_MiB']} | {m['out_rows']} |", flush=True)
    return row


def main() -> None:
    spark = get_spark(app_name="stress-skew")
    try:
        sk_path, un_path = build(spark)
        sk = spark.read.parquet(sk_path)
        un = spark.read.parquet(un_path)
        users_sk = sk.select("user_id").distinct().withColumn(
            "segment", F.pmod(F.col("user_id"), F.lit(7)))

        print("| case | wall s (min of 2) | shuffle MiB | peak task MiB "
              "| out rows |")
        print("|---|---|---|---|---|")

        def rank_events(src):
            w = Window.partitionBy("user_id").orderBy("ts", "event_id")
            return (src.withColumn("rk", F.row_number().over(w))
                    .groupBy("user_id").agg(F.max("rk").alias("n")))

        measure(rank_events(un), "window rank, uniform")
        measure(rank_events(sk), "window rank, skewed (hot task)")

        def agg_events(src):
            return src.groupBy("user_id").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("value").alias("v"))

        measure(agg_events(un), "hash agg, uniform")
        measure(agg_events(sk), "hash agg, skewed (combiner absorbs)")

        def plain_join(src):
            # carry the payload columns through the shuffle so the hot
            # partition is heavy in bytes, not just row counts
            return (src.join(users_sk, "user_id")
                    .groupBy("segment").agg(F.count(F.lit(1)).alias("n"),
                                            F.sum("value").alias("v"),
                                            F.max("props").alias("p")))

        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        # force the shuffle-join path: a broadcast of users hides skew
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        measure(plain_join(sk), "shuffle join, skewed, AQE skew-split OFF")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "1MB")
        measure(plain_join(sk), "shuffle join, skewed, AQE skew-split ON")
        salted = (salted_join(sk, users_sk, "user_id", n_salts=8)
                  .groupBy("segment").agg(F.count(F.lit(1)).alias("n"),
                                          F.sum("value").alias("v"),
                                          F.max("props").alias("p")))
        measure(salted, "salted join (manual fallback), skewed")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    finally:
        shutil.rmtree(BASE, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
