#!/usr/bin/env python
"""jsonl_sink commit protocol under volume and task concurrency — the
SCALE TIER r8 row for the Python-sink family (VERDICT r7 task 4a: the
only component family with no ladder row).

Claims under test:
 - one job writes with 32 CONCURRENT tasks per tier (task-attempt
   concurrency is the protocol's real parallel load; jobs themselves
   are single-writer-per-path by the documented append precondition):
   part-file count == written partitions, manifest read-back is
   row-exact at ×1/×5/×10 volume, wall grows ~linearly;
 - a chain of sequential APPEND jobs merges manifests additively —
   read-back after N appends is exactly N× one append, and the commit
   cost stays flat (the manifest merge is O(files), metadata-sized);
 - crash-debris GC at volume: 100 stale foreign staging dirs (the r7
   job-liveness layout) + 100 stale old-layout root files are swept by
   ONE append commit, while a LIVE staging dir with a 2h-old first
   attempt but recent activity survives — the ADVICE r7 hazard, gone;
 - abort() leaves the previous manifest intact (reader sees the last
   committed state, exactly-once visibility).

Usage: cd /tmp && python <checkout>/scripts/stress_sink.py
Pinned row in BASELINE.md ("SCALE TIER r8: jsonl sink commit protocol").
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402


def docs(spark: SparkSession, replicas: int):
    d = spark.read.parquet("/root/testdata/sf0.1/documents.parquet") \
        .select("doc_id", "lang", "text")
    if replicas == 1:
        return d.repartition(32)
    n = d.agg(F.max("doc_id")).collect()[0][0] + 1
    reps = spark.range(replicas).select(F.col("id").alias("rep"))
    return (d.crossJoin(reps)
            .select((F.col("doc_id") + F.col("rep") * n).alias("doc_id"),
                    "lang", "text")
            .repartition(32))


def read_back_count(spark, out):
    from pyspark_ml_features_spark.sources.pyds import jsonl_manifest_files

    return spark.read.schema("doc_id bigint, lang string, text string") \
        .json(jsonl_manifest_files(out)).count()


def main() -> None:
    from pyspark_ml_features_spark.sources.pyds import (
        register_python_sources)

    spark = (SparkSession.builder.master("local[8]")
             .config("spark.sql.shuffle.partitions", "16")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    from pyspark_ml_features_spark.session import _ship_package
    _ship_package(spark)  # sink writer unpickles on executor workers
    register_python_sources(spark)
    root = tempfile.mkdtemp(prefix="stress_sink_")

    # --- volume ladder: one 32-task job per tier ---------------------
    print(f"{'phase':>10} {'tier':>5} {'rows':>7} {'files':>6} "
          f"{'wall_s':>7}  exact")
    for k in (1, 5, 10):
        d = docs(spark, k)
        expect = d.count()
        out = os.path.join(root, f"vol_x{k}")
        t0 = time.time()
        d.write.format("jsonl_sink").option("path", out) \
            .mode("append").save()
        wall = time.time() - t0
        n_files = len([f for f in os.listdir(out)
                       if f.startswith("part-")])
        back = read_back_count(spark, out)
        print(f"{'volume':>10} {'x' + str(k):>5} {back:>7} {n_files:>6} "
              f"{wall:>7.2f}  {back == expect}")

    # --- sequential append chain at x5 -------------------------------
    d5 = docs(spark, 5)
    n5 = d5.count()
    out = os.path.join(root, "chain")
    walls = []
    for i in range(5):
        t0 = time.time()
        d5.write.format("jsonl_sink").option("path", out) \
            .mode("append").save()
        walls.append(round(time.time() - t0, 2))
    back = read_back_count(spark, out)
    print(f"{'chain':>10} {'5xapp':>5} {back:>7} {'':>6} "
          f"{str(walls):>7}  {back == 5 * n5}")

    # --- GC at volume ------------------------------------------------
    now = time.time()
    for i in range(100):  # crashed-job staging dirs, 2h stale
        sdir = os.path.join(out, f"_staging-dead{i:08d}")
        os.makedirs(sdir)
        p = os.path.join(sdir, f"part-dead{i:08d}-0.json")
        with open(p, "w") as f:
            f.write(json.dumps({"doc_id": -1}) + "\n")
        os.utime(p, (now - 7200, now - 7200))
        os.utime(sdir, (now - 7200, now - 7200))
    for i in range(100):  # old-layout root debris, 2h stale
        p = os.path.join(out, f"part-oldlay{i:06d}-x.json")
        with open(p, "w") as f:
            f.write(json.dumps({"doc_id": -2}) + "\n")
        os.utime(p, (now - 7200, now - 7200))
    live = os.path.join(out, "_staging-liveconcurrent")
    os.makedirs(live)
    for i, age in enumerate([7200, 5]):  # old first attempt, recent last
        p = os.path.join(live, f"part-liveconcurrent-{i}.json")
        with open(p, "w") as f:
            f.write(json.dumps({"doc_id": -3}) + "\n")
        os.utime(p, (now - age, now - age))
    t0 = time.time()
    d5.limit(10).write.format("jsonl_sink").option("path", out) \
        .option("orphan_ttl_sec", "3600").mode("append").save()
    gc_wall = time.time() - t0
    leftover = [n for n in os.listdir(out)
                if n.startswith("_staging-dead")
                or n.startswith("part-oldlay")]
    live_ok = (os.path.isdir(live)
               and len(os.listdir(live)) == 2)
    print(f"{'gc':>10} {'200':>5} {'':>7} {'':>6} {gc_wall:>7.2f}  "
          f"swept={not leftover} live-survives={live_ok}")

    # --- abort leaves last manifest intact ---------------------------
    before = read_back_count(spark, out)
    bad = d5.limit(10).withColumn(
        "boom", F.udf(lambda: 1 / 0)())  # task failure -> job abort
    try:
        bad.write.format("jsonl_sink").option("path", out) \
            .mode("append").save()
        aborted = False
    except Exception:
        aborted = True
    after = read_back_count(spark, out)
    stray = [n for n in os.listdir(out) if n.startswith("_staging-")
             and n != os.path.basename(live)]
    print(f"{'abort':>10} {'':>5} {after:>7} {'':>6} {'':>7}  "
          f"aborted={aborted} manifest-intact={after == before} "
          f"staging-cleaned={not stray}")
    shutil.rmtree(root, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
