#!/usr/bin/env python
"""e8 TF-IDF vocabulary-growth ladder — the SCALE TIER r8 row for the
term-statistics family (VERDICT r7 task 4c).

The document-frequency aggregate is the family's scale pivot: its
output has |vocabulary| rows, which is why e8's docstring forbids a
broadcast hint on the df side. This harness measures that claim two
ways at ×1/×5/×10 document replication:

 - PURE replication (same text, new doc_ids): vocabulary is CONSTANT
   (the df aggregate's OUTPUT stays |vocab| rows at every tier) while
   per-doc TF rows grow ×K — term statistics are vocabulary-bounded,
   not corpus-bounded (the e69 dup-gram finding, measured for TF-IDF);
 - MARKER replication (each replica's text gains one unique token,
   rep 0 included): vocabulary grows by exactly n_docs×K — the regime
   where a
   broadcast hint on the df side would pin driver memory to an
   unbounded vocab (why e8's docstring forbids it);
 - the plan's TOTAL shuffle is dominated by the per-doc TF exchange
   (keyed by (doc, term) — irreducibly linear in corpus tokens);
   vocabulary growth adds only the df-stage delta on top (measured:
   marker ×10 exceeds pure ×10 by ~1.7 MiB for +50k terms).

Wall grows sublinearly-to-linearly (gate: ≤1.5× drift on re-runs).

Usage: cd /tmp && python <checkout>/scripts/stress_tfidf.py
Pinned row in BASELINE.md ("SCALE TIER r8: TF-IDF vocabulary growth").
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402


def docs(spark: SparkSession, replicas: int, marker: bool):
    d = spark.read.parquet("/root/testdata/sf0.1/documents.parquet") \
        .select("doc_id", "lang", "text")
    if replicas == 1:
        return d
    n = d.agg(F.max("doc_id")).collect()[0][0] + 1
    reps = spark.range(replicas).select(F.col("id").alias("rep"))
    out = (d.crossJoin(reps)
           .select((F.col("doc_id") + F.col("rep") * n).alias("doc_id"),
                   "lang", "text", "rep"))
    if marker:
        out = out.withColumn(
            "text", F.concat_ws(" ", "text",
                                F.concat(F.lit("xmark"),
                                         F.col("doc_id").cast("string"))))
    return out.drop("rep")


def run_tfidf(spark, d):
    from pyspark_ml_features_spark.functions.text import tokens
    from pyspark_ml_features_spark.plans.profile import profile

    tok = d.select("doc_id", "lang",
                   F.explode(tokens("text")).alias("term"))
    tf = tok.groupBy("doc_id", "lang", "term") \
        .agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # the df relation is vocabulary-sized, which is the point measured
    rows = []
    run = profile(spark, lambda: rows.extend(dfreq.collect()))
    m = run.row()
    vocab = len(rows)
    wall_df = run.wall_s
    t0 = time.time()
    n_tf = tf.count()
    wall_tf = time.time() - t0
    return {"vocab": vocab, "tf_rows": n_tf,
            "df_shuffle_MiB": m["shuffle_MiB"],
            "scan_rows": m["scan_rows"],
            "wall": round(wall_df + wall_tf, 2)}


def main() -> None:
    spark = (SparkSession.builder.master("local[8]")
             .config("spark.sql.shuffle.partitions", "16")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    n_docs = spark.read.parquet(
        "/root/testdata/sf0.1/documents.parquet").count()
    print(f"{'mode':>7} {'tier':>5} {'tf_rows':>9} {'vocab':>9} "
          f"{'df_shuffle_MiB':>14} {'wall_s':>7}  vocab-law")
    base = {}
    for marker in (False, True):
        mode = "marker" if marker else "pure"
        for k in (1, 5, 10):
            r = run_tfidf(spark, docs(spark, k, marker))
            b = base.setdefault(mode, r)
            # the row's vocabulary law, checked not just printed:
            # pure replication keeps vocab CONSTANT; marker replication
            # adds one unique token per doc in EVERY replica (rep 0
            # included — replication only kicks in at k > 1), so
            # vocab = base + n_docs*k.
            want = b["vocab"] if not marker \
                else b["vocab"] + (n_docs * k if k > 1 else 0)
            print(f"{mode:>7} {'x' + str(k):>5} {r['tf_rows']:>9} "
                  f"{r['vocab']:>9} {r['df_shuffle_MiB']:>14} "
                  f"{r['wall']:>7}  {r['vocab'] == want}")
    spark.stop()


if __name__ == "__main__":
    main()
