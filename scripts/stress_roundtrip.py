#!/usr/bin/env python
"""Composition round-trip ladder — the SCALE TIER r10 row for the
depth-composition family (e104 dedup→chunk→pack→stitch and e105
vocab→encode→decode), the round-10 oracle class.

Documents sf0.1 (5k docs) replicated ×1/×5/×10 as DISJOINT doc_ids with
BYTE-IDENTICAL text — the exact-duplicate corpus shape a real crawl
produces and the worst case that separates the two compositions'
economics:

 - e104: the dedup stage collapses every replica family to ONE
   survivor, so the chunk/pack/stitch stages process the SAME ~5k
   distinct texts at every tier — their cost must stay FLAT while the
   scan and the survivorship re-expansion grow linearly. An off-by-one
   anywhere reconstructs wrong bytes for 45k docs instead of 5k.
 - e105: byte-identical replication multiplies every token frequency
   by exactly K, so the (freq desc, token) id assignment — and hence
   the vocab — is IDENTICAL across tiers; the encode/decode work is
   linear in corpus tokens with a constant broadcast. A vocab that
   drifts with corpus size would break the ×K reconstruction.

Exact pins per tier (no tolerance): output rows == K × 5,000 and EVERY
reconstructed text byte-equals its source (anti-join mismatch count 0).
Wall gates: e105 per-doc wall at ×10 within 1.5× of ×1 (linear); e104
wall at ×10 under 10× of ×1 (sub-linear expected — distinct work flat).

Usage: cd /tmp && python <checkout>/scripts/stress_roundtrip.py
Pinned row in BASELINE.md ("SCALE TIER r10: composition round-trips").
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


def build_tier(spark: SparkSession, k: int,
               root: str) -> tuple[str, int]:
    """Replicate sf0.1 documents ×k: new disjoint doc_ids, byte-identical
    text/lang/source — every original acquires k-1 exact duplicates."""
    d01 = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    n01 = d01.count()
    reps = spark.range(k).select(F.col("id").alias("rep"))
    rep = (d01.crossJoin(reps)
           .select((F.col("doc_id") + F.col("rep") * n01).alias("doc_id"),
                   "text", "lang", "source", "n_chars"))
    sf_dir = os.path.join(root, f"x{k}")
    rep.write.mode("overwrite").parquet(
        os.path.join(sf_dir, "documents.parquet"))
    return sf_dir, n01 * k


def check_roundtrip(spark: SparkSession, sf_dir: str, out,
                    out_col: str) -> tuple[int, int]:
    """(rows, mismatches): mismatches counts docs whose reconstruction
    differs from the source text (null-safe equality)."""
    src = (spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
           .select("doc_id", "text"))
    joined = out.join(src, "doc_id", "full")
    n_rows = out.count()
    n_bad = joined.filter(
        ~F.col(out_col).eqNullSafe(F.col("text"))).count()
    return n_rows, n_bad


def main() -> None:
    from pyspark_ml_features_spark.registry import all_queries
    from pyspark_ml_features_spark.session import tune_session

    spark = (SparkSession.builder.master("local[8]")
             .config("spark.sql.shuffle.partitions", "16")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    tune_session(spark)
    qs = all_queries()
    root = tempfile.mkdtemp(prefix="roundtrip_stress_")
    walls: dict[tuple[str, int], float] = {}
    try:
        print(f"{'query':>6} {'tier':>5} {'docs':>7} {'wall_s':>7} "
              f"{'ms_per_doc':>10} {'rows_ok':>8} {'bytes_ok':>9}")
        tiers = []
        for k in (1, 5, 10):
            sf_dir, n_docs = build_tier(spark, k, root)
            tiers.append((k, sf_dir, n_docs))
        # warmup: whole-stage-codegen compilation is a per-query-shape
        # constant — pay it once so the ×1 walls are data costs
        for qname in ("e104_dedup_pack_stitch_roundtrip",
                      "e105_vocab_encode_decode_roundtrip"):
            qs[qname].fn(spark, tiers[0][1]).write.format("noop").mode(
                "overwrite").save()
        for qname, out_col in (
                ("e104_dedup_pack_stitch_roundtrip", "reconstructed_text"),
                ("e105_vocab_encode_decode_roundtrip", "decoded_text")):
            # e104 excludes whitespace-only docs by contract
            blank_adj = qname.startswith("e104")
            for k, sf_dir, n_docs in tiers:
                if blank_adj:
                    n_expected = (spark.read.parquet(
                        os.path.join(sf_dir, "documents.parquet"))
                        .filter(F.trim("text") != "").count())
                else:
                    n_expected = n_docs
                # min-of-repeats (the repo's minima convention — ADVICE
                # r10: a single-run wall on a loaded shared host can
                # fail the gate even when the exact pins pass)
                wall = float("inf")
                for _ in range(2):
                    t0 = time.time()
                    out = qs[qname].fn(spark, sf_dir)
                    out.write.format("noop").mode("overwrite").save()
                    wall = min(wall, time.time() - t0)
                walls[(qname, k)] = wall
                out = qs[qname].fn(spark, sf_dir)
                n_rows, n_bad = check_roundtrip(
                    spark, sf_dir, out, out_col)
                rows_ok = n_rows == n_expected
                bytes_ok = n_bad == (0 if not blank_adj
                                     else n_docs - n_expected)
                print(f"{qname.split('_')[0]:>6} {'x' + str(k):>5} "
                      f"{n_docs:>7} {wall:>7.2f} "
                      f"{1000 * wall / n_docs:>10.3f} "
                      f"{str(rows_ok):>8} {str(bytes_ok):>9}")
                assert rows_ok, (qname, k, n_rows, n_expected)
                assert bytes_ok, (qname, k, n_bad)
        # wall gates
        e105_ratio = (walls[("e105_vocab_encode_decode_roundtrip", 10)]
                      / 10
                      / walls[("e105_vocab_encode_decode_roundtrip", 1)])
        e104_ratio = (walls[("e104_dedup_pack_stitch_roundtrip", 10)]
                      / walls[("e104_dedup_pack_stitch_roundtrip", 1)])
        print(f"e105 per-doc x10/x1 = {e105_ratio:.2f} (gate < 1.5); "
              f"e104 x10/x1 = {e104_ratio:.2f} (gate < 10)")
        assert e105_ratio < 1.5, e105_ratio
        assert e104_ratio < 10, e104_ratio
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
