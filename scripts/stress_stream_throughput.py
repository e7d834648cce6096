#!/usr/bin/env python
"""Streaming-engine drain throughput ladder — the SCALE TIER r8 row for
the streaming family's PERFORMANCE axis (stress_streaming pins the
state bound; stress_events pins the batch twins' volumes — this row
pins the streaming engine itself under growing input).

Setup: sf0.1 events replicated ×1/×5/×10 as DISJOINT user populations
(100k → 1M events), one parquet file per replica in the staging dir,
drained through the registry's watermarked tumbling-window aggregation
(s1's exact shape) with Trigger.AvailableNow and maxFilesPerTrigger=2
— so the ×10 tier runs 5 micro-batches, exercising watermark
advancement and state handoff across batches, not one monolithic scan.

Claims under test:
 - correctness under replication: windowed (event_type × hour) counts
   scale EXACTLY ×K (disjoint users, identical event streams);
 - the window spine is CONSTANT across tiers because the fixture's
   TIME SPAN does not grow with volume — window state tracks time, not
   rows. (Complete output mode retains every window, so WATERMARK
   eviction is deliberately not what this row measures —
   stress_streaming.py pins that state bound with append-mode drains
   and a checkpoint restart; review r8 finding.);
 - throughput (input rows/sec over the drain wall) is FLAT-to-rising
   with volume — fixed per-batch overhead amortizes; a SUBLINEAR
   throughput drop at higher tiers would mean per-batch state cost is
   data-proportional (the regression this row would catch);
 - micro-batch count = ceil(files / maxFilesPerTrigger), pinning that
   the drain actually micro-batched.

Usage: cd /tmp && python <checkout>/scripts/stress_stream_throughput.py
Pinned row in BASELINE.md ("SCALE TIER r8: streaming drain throughput").
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402


def stage_replicas(spark: SparkSession, replicas: int) -> tuple[str, int]:
    """Write K disjoint-user replicas of sf0.1 events, one file each."""
    src = spark.read.parquet("/root/testdata/sf0.1/events.parquet")
    n_users = src.agg(F.max("user_id")).collect()[0][0] + 1
    stage = tempfile.mkdtemp(prefix="stream_tp_")
    for rep in range(replicas):
        (src.withColumn("user_id", F.col("user_id") + F.lit(rep * n_users))
         .coalesce(1).write.mode("append").parquet(stage))
    n = src.count() * replicas
    return stage, n


def drain(spark: SparkSession, stage: str) -> dict:
    raw = spark.read.parquet(stage)
    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in raw.schema.fields)
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 2).parquet(stage)
              # ntz layout → session-tz timestamp (events_stream's rule)
              .withColumn("ts", F.col("ts").cast("timestamp")))
    agg = (stream.withWatermark("ts", "10 minutes")
           .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
           .agg(F.count(F.lit(1)).alias("n_events"))
           .select(F.col("w.start").alias("ws"), "event_type", "n_events"))
    name = f"tp_sink_{os.path.basename(stage)}"
    t0 = time.time()
    q = (agg.writeStream.format("memory").queryName(name)
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination()
    wall = time.time() - t0
    batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    in_rows = sum(p["numInputRows"] for p in q.recentProgress)
    out = spark.table(name)
    spine = out.select("ws").distinct().count()
    total = out.agg(F.sum("n_events")).collect()[0][0]
    return {"wall": round(wall, 2), "batches": batches,
            "in_rows": in_rows, "spine": spine, "total": total,
            "rows_per_s": int(in_rows / wall)}


def main() -> None:
    spark = (SparkSession.builder.master("local[8]")
             .config("spark.sql.shuffle.partitions", "16")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    base_total = None
    print(f"{'tier':>5} {'events':>8} {'batches':>7} {'spine':>6} "
          f"{'wall_s':>7} {'rows/s':>9}  counts-xK")
    for k in (1, 5, 10):
        stage, n = stage_replicas(spark, k)
        try:
            m = drain(spark, stage)
            if k == 1:
                base_total = m["total"]
                ok = "base"
            else:
                ok = m["total"] == base_total * k
            print(f"{'x' + str(k):>5} {n:>8} {m['batches']:>7} "
                  f"{m['spine']:>6} {m['wall']:>7} {m['rows_per_s']:>9}  "
                  f"{ok}")
        finally:
            shutil.rmtree(stage, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
