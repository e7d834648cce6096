#!/usr/bin/env python
"""Measured streaming-state evidence (round 5): does the watermark
actually BOUND state-store size, and is late data actually dropped?

The streaming family (s1-s12) asserts "state is bounded by the
watermark horizon, independent of total history" in docstrings, pinned
only against batch twins. This harness measures it, the same way the
skew/spill/ANN claims got measured tiers:

* Stage k writes one parquet file of events covering hour-range
  [k*H, (k+1)*H) into a staged source dir, then drains the stream with
  Trigger.AvailableNow against a PERSISTENT checkpoint — the
  checkpoint-restart loop is exactly the production periodic-backfill
  pattern, and state carries across restarts.
* After each stage we read StreamingQueryProgress.stateOperators:
  numRowsTotal (live state rows), numRowsRemoved (watermark eviction),
  numRowsDroppedByWatermark (late-data accounting).
* Scenario A: watermarked tumbling agg (10 min watermark, 1 h windows)
  — numRowsTotal must PLATEAU as event time advances (closed windows
  evicted) while cumulative windows grow linearly.
* Scenario B: the same aggregation with NO watermark in complete mode —
  numRowsTotal must grow ~linearly with stages (the unbounded-state
  anti-pattern the watermark exists to prevent).
* Scenario C: a stage replays timestamps far BEHIND the committed
  watermark — numRowsDroppedByWatermark must account for every late
  row (with the one-batch-lag admission rule s9 documents).

Results are recorded in DESIGN_SCALE.md ("Streaming state tiers").
Run: cd /tmp && python <checkout>/scripts/stress_streaming.py
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

SCHEMA = "event_id bigint, user_id bigint, event_type string, ts timestamp"
USERS = 50
EVENTS_PER_HOUR = 200
HOURS_PER_STAGE = 6
N_STAGES = 6
BASE = "2024-01-01 00:00:00"


def write_stage(spark: SparkSession, src_dir: str, stage: int,
                hour_offset: int | None = None) -> int:
    """One parquet file of deterministic events for HOURS_PER_STAGE hours
    starting at ``hour_offset`` (default: stage * HOURS_PER_STAGE)."""
    h0 = stage * HOURS_PER_STAGE if hour_offset is None else hour_offset
    n = EVENTS_PER_HOUR * HOURS_PER_STAGE
    stride = 3600 * HOURS_PER_STAGE // n  # events evenly span the stage
    df = (spark.range(n)
          .select(
              (F.lit(stage) * 1_000_000 + F.col("id")).alias("event_id"),
              (F.col("id") % USERS).alias("user_id"),
              F.element_at(F.array(F.lit("view"), F.lit("click"),
                                   F.lit("purchase")),
                           (F.col("id") % 3 + 1).cast("int"))
              .alias("event_type"),
              (F.to_timestamp(F.lit(BASE))
               + F.make_interval(secs=(F.lit(h0) * 3600
                                       + F.col("id") * stride)
                                 .cast("double"))).alias("ts")))
    out = tempfile.mkdtemp(prefix=f"stage{stage}_")
    df.coalesce(1).write.mode("overwrite").parquet(out)
    part = next(p for p in os.listdir(out) if p.endswith(".parquet"))
    shutil.copy(os.path.join(out, part),
                os.path.join(src_dir, f"batch_{stage:03d}.parquet"))
    shutil.rmtree(out)
    return n


def drain(spark: SparkSession, src_dir: str, ckpt: str, watermark: bool):
    """Start-drain-stop one AvailableNow run; return state metrics from
    the run's progress events."""
    stream = spark.readStream.schema(SCHEMA).parquet(src_dir)
    if watermark:
        agg = (stream.withWatermark("ts", "10 minutes")
               .groupBy(F.window("ts", "1 hour"), "event_type")
               .agg(F.count(F.lit(1)).alias("n")))
        writer = (agg.writeStream.format("noop").outputMode("append"))
    else:
        agg = (stream.groupBy(F.window("ts", "1 hour"), "event_type")
               .agg(F.count(F.lit(1)).alias("n")))
        writer = (agg.writeStream.format("noop").outputMode("complete"))
    q = (writer.option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    rows_total = removed = dropped = in_rows = 0
    for p in q.recentProgress:
        in_rows += p["numInputRows"]
        for so in p.get("stateOperators", []):
            rows_total = so["numRowsTotal"]  # last wins: end-of-run state
            removed += so["numRowsRemoved"]
            dropped += so.get("numRowsDroppedByWatermark", 0)
    return {"state_rows": rows_total, "removed": removed,
            "dropped": dropped, "input_rows": in_rows}


def scenario(spark: SparkSession, watermark: bool, late_stage: bool):
    src = tempfile.mkdtemp(prefix="ss_src_")
    ckpt = tempfile.mkdtemp(prefix="ss_ckpt_")
    label = "watermarked/append" if watermark else "no-watermark/complete"
    print(f"\n=== scenario: {label} late_stage={late_stage} ===")
    print("stage | input | state_rows | removed(stage) | dropped(stage)")
    for k in range(N_STAGES):
        write_stage(spark, src, k)
        m = drain(spark, src, ckpt, watermark)
        print(f"{k:5d} | {m['input_rows']:5d} | {m['state_rows']:10d} |"
              f" {m['removed']:12d} | {m['dropped']:12d}")
    if late_stage:
        # replay hours [0, H) — far behind the committed watermark.
        # Measured cross-restart behavior (pinned by tests/test_streaming
        # .py::test_watermark_bounds_state_and_drops_late_replay): the
        # checkpointed watermark enforces IMMEDIATELY on restart — the
        # first late batch is already dropped and state untouched. The
        # second drain is retained only to show the drop repeats (and to
        # catch a regression toward one-batch-lag admission).
        for tag in ("late-1", "late-2"):
            write_stage(spark, src, N_STAGES + (tag == "late-2"),
                        hour_offset=0)
            m = drain(spark, src, ckpt, watermark)
            print(f"{tag} | {m['input_rows']:5d} | {m['state_rows']:10d} |"
                  f" {m['removed']:12d} | {m['dropped']:12d}")
    shutil.rmtree(src)
    shutil.rmtree(ckpt)


def main() -> None:
    spark = (SparkSession.builder.master("local[8]")
             .appName("stress_streaming")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.session.timeZone", "UTC")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    scenario(spark, watermark=True, late_stage=True)
    scenario(spark, watermark=False, late_stage=False)
    spark.stop()


if __name__ == "__main__":
    main()
