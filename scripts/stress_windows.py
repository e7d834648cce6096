#!/usr/bin/env python
"""ROWS-frame window ladder — the SCALE TIER r8 row for the analytic
window family (d9/d135's shape), making "windows scale by adding
partitions, never widening one" concrete for bounded frames.

Two replication modes at ×1/×5/×10 (orders sf0.1, 150k → 1.5M rows),
same d135 window (PARTITION BY group ORDER BY date, unique key,
ROWS BETWEEN 3 PRECEDING AND CURRENT ROW):

 - PARTITION mode (the scale design): replicas get DISJOINT group keys
   (priority ⊕ replica), so partitions multiply at constant size —
   wall should stay ~flat (more parallel units, none wider);
 - WIDEN mode (the documented anti-shape): replicas keep the SAME five
   priority groups, so each window partition grows ×K. At THIS tier
   (≤300k rows/group on local[8]) both modes stay under 2 s — the
   measured point is that widen's cost is structural, not yet visible
   in walls: a 5-group window stage can never use more than 5 tasks,
   so on a 1000-executor cluster the widen shape caps at 5-way
   parallelism while partition mode scales with group count. The
   ladder pins the correctness side at both shapes so the structural
   argument rests on exact numbers.

Correctness at every tier/mode: sum(frame_n) is checked against the
closed form (per group of size m ≥ 4: Σ frame sizes = 4m − 6), so the
frames themselves — not just the row count — are pinned.

Usage: cd /tmp && python <checkout>/scripts/stress_windows.py
Pinned row in BASELINE.md ("SCALE TIER r8: window frames").
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402
from pyspark.sql import SparkSession, Window  # noqa: E402


def orders(spark: SparkSession, replicas: int, widen: bool):
    o = spark.read.parquet("/root/testdata/sf0.1/orders.parquet") \
        .select("o_orderkey", "o_orderpriority", "o_orderdate",
                "o_totalprice")
    if replicas == 1:
        return o
    n = o.agg(F.max("o_orderkey")).collect()[0][0] + 1
    reps = spark.range(replicas).select(F.col("id").alias("rep"))
    out = (o.crossJoin(reps)
           .withColumn("o_orderkey",
                       F.col("o_orderkey") + F.col("rep") * n))
    if not widen:
        out = out.withColumn(
            "o_orderpriority",
            F.concat_ws("#", "o_orderpriority",
                        F.col("rep").cast("string")))
    return out.drop("rep")


def run(spark, df) -> dict:
    w = (Window.partitionBy("o_orderpriority")
         .orderBy("o_orderdate", "o_orderkey")
         .rowsBetween(-3, 0))
    out = df.select(
        F.nth_value("o_totalprice", 2).over(w).alias("second_in_frame"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("frame_n"),
        "o_orderpriority")
    t0 = time.time()
    agg = out.agg(F.sum("frame_n").alias("s"),
                  F.count(F.lit(1)).alias("n")).collect()[0]
    wall = time.time() - t0
    sizes = {r[0]: r[1] for r in
             df.groupBy("o_orderpriority").count().collect()}
    expect = sum(4 * m - 6 for m in sizes.values())
    return {"rows": agg["n"], "frame_sum": agg["s"], "expect": expect,
            "groups": len(sizes), "wall": round(wall, 2)}


def main() -> None:
    spark = (SparkSession.builder.master("local[8]")
             .config("spark.sql.shuffle.partitions", "16")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    run(spark, orders(spark, 1, False))  # warmup
    print(f"{'mode':>10} {'tier':>5} {'rows':>8} {'groups':>6} "
          f"{'wall_s':>7}  frame-sum-exact")
    for widen in (False, True):
        mode = "widen" if widen else "partition"
        for k in (1, 5, 10):
            m = run(spark, orders(spark, k, widen))
            print(f"{mode:>10} {'x' + str(k):>5} {m['rows']:>8} "
                  f"{m['groups']:>6} {m['wall']:>7}  "
                  f"{m['frame_sum'] == m['expect']}")
    spark.stop()


if __name__ == "__main__":
    main()
