#!/usr/bin/env python
"""Multimodal decode ladder — the SCALE TIER r9 row for the media
family (e71/e98 image decode + e72 audio resample), closing the one
family VERDICT r8 flagged as measured-scale-thin.

Documents sf0.1 (5k docs) replicated ×1/×5/×10 as DISJOINT doc_ids
whose payload CONTENT is keyed on ``doc_id % n_base`` — every replica
carries byte-identical media to the base tier under new ids, so exact
×K pins hold end to end:

 - image path: full greyscale-8 PNG per doc (w = 32 + base % 32,
   h = 32 + base % 24, ~1-2.5 KB each — real deflate + all-five-filter
   scanlines), decoded with multimodal.decode_png (zlib inflate +
   defilter + CRC checks) inside Arrow-batched mapInPandas; per-doc
   position-weighted checksums must sum to EXACTLY K × base_sum;
 - audio path: mono 16-bit PCM WAV per doc (8k + base*4 % 8000
   samples), decimated 2× and re-encoded with multimodal.resample_wav,
   then feature-parsed; Σ crossings_out and Σ n_out must both be
   EXACTLY K × base.

The claim this row pins: media decode is scan/compute-bound and
embarrassingly parallel — NO shuffle anywhere (the only exchange is
the single-partition final sum of 3 scalars), so wall grows ~linearly
with payload bytes and the PER-BYTE cost is flat across tiers. A
super-linear per-byte drift would mean batch-shape or GIL pathology in
the Arrow boundary — the regression this row catches. Gate: per-MB
wall at ×5/×10 within 1.5× of the ×1 tier; all counts exact.

Usage: cd /tmp && python <checkout>/scripts/stress_multimodal.py
Pinned row in BASELINE.md ("SCALE TIER r9: multimodal decode").
"""

from __future__ import annotations

import os
import sys
import time
from collections.abc import Iterator

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd  # noqa: E402
import pyspark.sql.functions as F  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402


def doc_ids(spark: SparkSession, replicas: int, n_base: int):
    d = (spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
         .select("doc_id"))
    if replicas == 1:
        return d
    reps = spark.range(replicas).select(F.col("id").alias("rep"))
    return (d.crossJoin(reps)
            .select((F.col("doc_id") + F.col("rep") * n_base)
                    .alias("doc_id")))


def image_tier(spark: SparkSession, replicas: int, n_base: int) -> dict:
    from pyspark_ml_features_spark.operators.multimodal import (
        decode_png, synth_png)

    import numpy as np

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for i in pdf["doc_id"]:
                base = int(i) % n_base  # replica content == base content
                w, h = 32 + base % 32, 32 + base % 24
                payload = synth_png(base, w, h)
                px = decode_png(payload).astype("int64")
                weights = (np.arange(w * h, dtype="int64") + 1
                           ).reshape(h, w)
                out.append((len(payload), int((px * weights).sum())))
            yield pd.DataFrame(out, columns=["n_bytes", "checksum"]
                               ).astype("int64")

    df = doc_ids(spark, replicas, n_base).mapInPandas(
        _decode, schema="n_bytes long, checksum long")
    t0 = time.time()
    row = df.agg(F.count(F.lit(1)).alias("n"),
                 F.sum("n_bytes").alias("payload_bytes"),
                 F.sum("checksum").alias("checksum_sum")).collect()[0]
    wall = time.time() - t0
    return {"n": row["n"], "bytes": row["payload_bytes"],
            "sum": row["checksum_sum"], "wall": wall}


def audio_tier(spark: SparkSession, replicas: int, n_base: int) -> dict:
    from pyspark_ml_features_spark.operators.multimodal import (
        parse_wav_features, resample_wav, synth_wav)

    def _resample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for i in pdf["doc_id"]:
                base = int(i) % n_base
                payload = synth_wav(base, 8000 + base * 4 % 8000,
                                    50 + base % 200)
                small = resample_wav(payload)
                _, n_out, crossings, _, _ = parse_wav_features(small)
                out.append((len(payload), n_out, crossings))
            yield pd.DataFrame(
                out, columns=["n_bytes", "n_out", "crossings"]
            ).astype("int64")

    df = doc_ids(spark, replicas, n_base).mapInPandas(
        _resample, schema="n_bytes long, n_out long, crossings long")
    t0 = time.time()
    row = df.agg(F.count(F.lit(1)).alias("n"),
                 F.sum("n_bytes").alias("payload_bytes"),
                 F.sum("n_out").alias("n_out_sum"),
                 F.sum("crossings").alias("crossings_sum")).collect()[0]
    wall = time.time() - t0
    return {"n": row["n"], "bytes": row["payload_bytes"],
            "n_out": row["n_out_sum"], "sum": row["crossings_sum"],
            "wall": wall}


def main() -> None:
    spark = (SparkSession.builder.master("local[8]")
             .config("spark.sql.shuffle.partitions", "16")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    # closures reference package helpers (decode_png etc.) — ship the
    # package zip so executor Python workers can import it
    from pyspark_ml_features_spark.session import tune_session
    tune_session(spark)

    n_base = (spark.read.parquet(
        "/root/testdata/sf0.1/documents.parquet")
        .agg(F.max("doc_id")).collect()[0][0] + 1)

    image_tier(spark, 1, n_base)  # JIT/Arrow warmup
    print(f"{'path':>6} {'tier':>5} {'docs':>8} {'MiB':>8} {'wall_s':>7} "
          f"{'s_per_MiB':>10}  exact")
    for path, fn in (("image", image_tier), ("audio", audio_tier)):
        base = None
        for k in (1, 5, 10):
            m = fn(spark, k, n_base)
            if k == 1:
                base = m
            mib = m["bytes"] / 2**20
            exact = (m["n"] == k * base["n"]
                     and m["bytes"] == k * base["bytes"]
                     and m["sum"] == k * base["sum"])
            if path == "audio":
                exact = exact and m["n_out"] == k * base["n_out"]
            print(f"{path:>6} {'x' + str(k):>5} {m['n']:>8} {mib:>8.1f} "
                  f"{m['wall']:>7.2f} {m['wall'] / mib:>10.4f}  {exact}")
    spark.stop()


if __name__ == "__main__":
    main()
