#!/usr/bin/env python
"""Memory-pressure stress: prove the engine's heavy shapes DEGRADE TO
DISK (spill) instead of failing when executor memory is undersized, and
that spilled execution returns bit-identical results.

The missing axis in the stress suite (volume: stress_relational; skew:
stress_skew): what happens when the per-task state that fit at sf0.1
meets an executor an order of magnitude too small — the situation every
100 TB deployment eventually hits on one bad node or one fat partition.

Method: a 6M-row lineitem tier (sf0.1 x10, shifted orderkeys). Two
shapes, each run twice in SEPARATE JVMs (driver.memory must be set at
JVM launch):
  - roomy:       16g heap (the test default) — expect zero spill
  - constrained: 1g heap, 32 threads (~13 MB execution memory per task)
Shapes:
  - hash-agg: per-order aggregate (~1.5M groups) + checksum reduce
  - sort-merge join: self-join on shifted orderkeys, broadcast disabled
Per run: wall, spill MiB (plans/profile.py), and a result CHECKSUM that
must match across memory tiers (spill must not change answers).

Usage: cd /tmp && python <checkout>/scripts/stress_spill.py
(child mode: stress_spill.py --child <tier_dir> <shape> — internal)
Results recorded in DESIGN_SCALE.md ("Memory pressure, measured").
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = f"/tmp/pmfs_stress_spill_{os.getpid()}"


def child(tier: str, shape: str) -> None:
    import pyspark.sql.functions as F

    from pyspark_ml_features_spark.plans.profile import profile
    from pyspark_ml_features_spark.session import get_spark

    spark = get_spark(app_name=f"stress-spill-{shape}")
    li = spark.read.parquet(f"{tier}/lineitem.parquet")
    if shape == "agg":
        per_order = li.groupBy("l_orderkey").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
            .alias("cents"))
        out = per_order.agg(
            F.count(F.lit(1)).alias("n_groups"),
            F.sum("n").alias("n_rows"),
            F.sum("cents").alias("checksum"))
    elif shape == "smj":
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        a = li.select("l_orderkey", "l_linenumber", "l_quantity")
        b = (li.select("l_orderkey", "l_extendedprice")
             .groupBy("l_orderkey")
             .agg(F.sum(F.round(F.col("l_extendedprice") * 100)
                        .cast("bigint")).alias("oc")))
        out = (a.join(b, "l_orderkey")
               .agg(F.count(F.lit(1)).alias("n_rows"),
                    F.sum(F.col("oc") * F.col("l_linenumber"))
                    .alias("checksum")))
    else:
        raise SystemExit(f"unknown shape {shape}")
    rows = []
    m = profile(spark, lambda: rows.extend(out.collect()))
    print(json.dumps({
        "shape": shape,
        "heap": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        "wall_s": round(m.wall_s, 2),
        "spill_MiB": round(m.spill_bytes / 1048576, 1),
        "shuffle_MiB": round(m.shuffle_write_bytes / 1048576, 1),
        "result": {k: v for k, v in rows[0].asDict().items()},
    }))
    spark.stop()


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--child":
        child(sys.argv[2], sys.argv[3])
        return

    import pyspark.sql.functions as F

    from pyspark_ml_features_spark.session import get_spark

    spark = get_spark(app_name="stress-spill-build")
    li = spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet")
    span = li.agg(F.max("l_orderkey")).first()[0] + 1
    parts = [li.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(i * span))
             for i in range(10)]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionAll(p)
    os.makedirs(BASE, exist_ok=True)
    u.write.mode("overwrite").parquet(f"{BASE}/lineitem.parquet")
    spark.stop()

    results = []
    try:
        for shape in ("agg", "smj"):
            for heap in ("16g", "1g"):
                env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM=heap)
                proc = subprocess.run(
                    [sys.executable, os.path.abspath(__file__),
                     "--child", BASE, shape],
                    env=env, capture_output=True, text=True, timeout=1200)
                line = [ln for ln in proc.stdout.splitlines()
                        if ln.startswith("{")]
                if proc.returncode != 0 or not line:
                    print(f"FAILED {shape}@{heap}: rc={proc.returncode}\n"
                          + proc.stderr[-2000:])
                    continue
                results.append(json.loads(line[-1]))

        print("| shape | heap | wall s | spill MiB | shuffle MiB "
              "| result checksum |")
        print("|---|---|---|---|---|---|")
        for r in results:
            print(f"| {r['shape']} | {r['heap']} | {r['wall_s']} "
                  f"| {r['spill_MiB']} | {r['shuffle_MiB']} "
                  f"| {r['result']} |")
        for shape in ("agg", "smj"):
            rs = [r["result"] for r in results if r["shape"] == shape]
            if len(rs) == 2:
                print(f"{shape}: results identical across memory tiers: "
                      f"{rs[0] == rs[1]}")
    finally:
        shutil.rmtree(BASE, ignore_errors=True)


if __name__ == "__main__":
    main()
