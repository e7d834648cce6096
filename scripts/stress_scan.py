#!/usr/bin/env python
"""Distributed-scan primitive stress: wall time and plan shape of
``distributed_prefix_sum`` (e70/d106's range-partition + metadata-offset
scheme) against the single-partition ``sum() OVER (ORDER BY ...)`` window
it replaces, across row counts.

The claim under test is NOT that the distributed form is faster on one
machine — a single sorted partition is hard to beat locally — but that its
cost grows like a sort-shuffle while every task holds ~n/P rows, where the
single-partition window holds ALL n rows in one task (the thing that stops
existing at cluster scale). The wall table documents the local overhead
price; the per-task row bound is the scale argument.

Usage: cd /tmp && python <checkout>/scripts/stress_scan.py
Results recorded in DESIGN_SCALE.md ("Distributed-scan primitive").
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402
from pyspark.sql import SparkSession, Window  # noqa: E402

from pyspark_ml_features_spark.operators.relational import (  # noqa: E402
    distributed_prefix_sum,
)


def make(spark: SparkSession, n: int):
    # adversarial-ish ordering key: heavy ties (1000 distinct), unique id
    return spark.range(n).select(
        (F.col("id") % 1000).alias("v"), F.col("id").alias("k"),
        ((F.col("id") * 7) % 50).alias("w"))


def run_distributed(df) -> float:
    t0 = time.time()
    out = distributed_prefix_sum(df, ["v", "k"], "w", 32)
    out.select(F.max("gcum"), F.max("grk")).collect()
    return time.time() - t0


def run_single_partition(df) -> float:
    t0 = time.time()
    w = Window.orderBy("v", "k")
    out = df.select(F.row_number().over(w).alias("grk"),
                    F.sum("w").over(w).alias("gcum"))
    out.select(F.max("gcum"), F.max("grk")).collect()
    return time.time() - t0


def main() -> None:
    spark = (SparkSession.builder.master("local[8]")
             .config("spark.sql.shuffle.partitions", "32")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    print(f"{'rows':>10} {'distributed_s':>13} {'single_part_s':>13} "
          f"{'rows/task (dist)':>16}")
    for n in (1_000_000, 5_000_000, 20_000_000):
        df = make(spark, n)
        d = run_distributed(df)
        s = run_single_partition(df)
        print(f"{n:>10} {d:>13.1f} {s:>13.1f} {n // 32:>16}")
    spark.stop()


if __name__ == "__main__":
    main()
