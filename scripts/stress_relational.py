#!/usr/bin/env python
"""Relational-family scaling stress: wall time AND measured shuffle volume
of the registered TPC-H / aggregation / sessionization queries across a
x1 / x3 / x10 replication of sf0.1 (lineitem 600k -> 6M rows).

The claim under test is the core 100 TB argument for the D-family: these
plans' cost is dominated by a SCAN that parallelizes perfectly plus
SHUFFLES whose volume is a small, data-linear fraction of the input (the
aggregation states / join keys), with per-task peak memory FLAT because no
operator materializes a data-sized structure on one task. If that is true,
wall time and shuffle bytes must both grow ~linearly with replication and
peak task memory must stay constant; superlinear wall or growing peak
memory would expose a hidden single-task bottleneck that 100x scale would
turn into an OOM.

Method: facts (lineitem, orders, events) are replicated k times with
shifted keys (orderkey/user_id offset per replica, so key cardinality
grows with data — no artificial hot keys); dimensions stay fixed (the
realistic shape: at 100 TB the fact grows, region/nation/part do not).
Each tier is written as parquet dirs named like the driver layout, so the
REGISTERED queries run unmodified on it. Per (tier, query): min-of-2 wall
on the noop sink, with the faster run's profile (plans/profile.py:
shuffle MiB, the largest per-task peak memory, output rows).

Usage: cd /tmp && python <checkout>/scripts/stress_relational.py
Results recorded in DESIGN_SCALE.md ("Relational-family scaling").
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

from pyspark_ml_features_spark import registry  # noqa: E402
from pyspark_ml_features_spark.plans.profile import profile  # noqa: E402
from pyspark_ml_features_spark.session import get_spark  # noqa: E402

SF01 = "/root/testdata/sf0.1"
BASE = f"/tmp/pmfs_stress_rel_{os.getpid()}"
TIERS = (1, 3, 10)
QUERIES = (
    "d4_pricing_summary",          # full-scan agg, 6 groups
    "d36_tpch_q3_shipping_priority",  # orders x lineitem join + topk
    "d47_tpch_q18_large_orders",   # HAVING-subquery semi + join-back
    "d64_tpch_q9",                 # widest join tree (5 tables)
    "d67_session_window_batch",    # session windows over events
)
DIMS = ("region", "nation", "customer", "supplier", "part",
        "documents", "embeddings")


def build_tier(spark: SparkSession, k: int) -> str:
    out = f"{BASE}/x{k}"
    os.makedirs(out, exist_ok=True)
    li = spark.read.parquet(f"{SF01}/lineitem.parquet")
    od = spark.read.parquet(f"{SF01}/orders.parquet")
    ev = spark.read.parquet(f"{SF01}/events.parquet")
    ok_span = od.agg(F.max("o_orderkey")).first()[0] + 1
    uid_span = ev.agg(F.max("user_id")).first()[0] + 1

    def rep(df, col, span):
        parts = [df.withColumn(col, F.col(col) + F.lit(i * span))
                 for i in range(k)]
        u = parts[0]
        for p in parts[1:]:
            u = u.unionAll(p)
        return u

    rep(li, "l_orderkey", ok_span).write.mode("overwrite").parquet(
        f"{out}/lineitem.parquet")
    rep(od, "o_orderkey", ok_span).write.mode("overwrite").parquet(
        f"{out}/orders.parquet")
    rep(ev, "user_id", uid_span).write.mode("overwrite").parquet(
        f"{out}/events.parquet")
    for name in DIMS:
        src = f"{SF01}/{name}.parquet"
        if os.path.exists(src):
            shutil.copy(src, f"{out}/{name}.parquet")
    return out


def main() -> None:
    spark = get_spark(app_name="stress-relational")
    queries = registry.all_queries()
    print(f"| tier | query | wall s (min of 2) | shuffle MiB | "
          f"peak task MiB | out rows |")
    print("|---|---|---|---|---|---|")
    try:
        for k in TIERS:
            tier_dir = build_tier(spark, k)
            for name in QUERIES:
                fn = queries[name].fn
                best = min((profile(spark, lambda: fn(spark, tier_dir).write
                                    .format("noop").mode("overwrite").save())
                            for _ in range(2)), key=lambda p: p.wall_s)
                m = best.row()
                print(f"| x{k} | {name} | {best.wall_s:.2f} | "
                      f"{m['shuffle_MiB']} | "
                      f"{m['peak_task_MiB']} | {m['out_rows']} |",
                      flush=True)
    finally:
        shutil.rmtree(BASE, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
