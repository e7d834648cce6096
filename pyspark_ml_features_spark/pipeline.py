"""End-to-end training-corpus curation pipeline — the composed form of
the registry's LLM-data operators, as ONE user-facing API.

The registry proves each operator against a DuckDB oracle in isolation;
this module proves they COMPOSE: exact dedup → near-dup clustering →
benchmark decontamination → quality filtering → language-mixture report →
capacity-respecting packing → cluster-aware leakage-free split, with a
funnel report of what each stage removed. Each stage calls the function
its registered query family calls, so the pipeline inherits their
verified semantics and their 100 TB plans — nothing here introduces a new
shuffle shape:

- near-dup clustering: ``dedup.minhash_candidate_pairs`` (e33) and
  ``graph.connected_components`` (e45);
- decontamination: ``quality.shingle_hits`` (e55, e88);
- quality filter: ``textops.gopher_word_shape`` (t16);
- packing: ``packing.greedy_pack`` (e51);
- split: ``functions.text.lcg`` (e66, and the d90/e62/e65/e89/e97
  samplers).

Exact dedup (e1) and the mixture report (e57) are one aggregate each,
written inline.

    from pyspark_ml_features_spark.pipeline import curate
    result = curate(spark, "/root/testdata/sf0.01")
    result["funnel"]            # [(stage, docs_in, docs_out)]
                                # (removed = docs_in - docs_out is
                                #  derived by funnel_report)
    result["packed"]            # (lang, shard, doc_id, n_tokens, bin_id)
    result["split"]             # (doc_id, cluster_id, in_train)

Scale posture (inherited, measured): exact dedup shuffles 8-byte-ish
keys (e1/e36); near-dup candidates come from the banded MinHash
equi-join, never all-pairs (e33, DESIGN_SCALE pair-volume tiers);
the benchmark shingle set is eval-sized and broadcasts (e55); quality
flags are per-row codegen (t16); packing's Arrow boundary carries four
scalar columns and its shard knob divides per-task state linearly
(e51, DESIGN_SCALE packing tiers); the split moves whole clusters so
near-dup pairs cannot cross it (e66).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from pyspark_ml_features_spark.functions.text import lcg, tokens, word_ngrams
from pyspark_ml_features_spark.sources import table


def curate(spark: SparkSession, sf_dir: str, *,
           near_dup_min_est_jaccard: float = 0.9,
           contamination_max: float = 0.8,
           mean_word_len_bounds: tuple[float, float] = (1.0, 10.0),
           min_frac_alpha: float = 0.8,
           pack_capacity: int = 120,
           pack_shards: int = 4,
           train_frac: float = 0.8) -> dict:
    """Run the full curation funnel over ``documents`` in ``sf_dir``.

    The Gopher word-count/stopword rules (t16's full bundle) are
    corpus-calibrated knobs: the synthetic fixture's 3-7-token documents
    would fail the paper's [50, 100k] word bound wholesale, so this
    pipeline filters on the length-free signals (mean word length,
    alphabetic fraction) and leaves the bounds as parameters — exactly
    what a production run tunes per corpus.

    Returns a dict of stage DataFrames plus ``funnel``: a list of
    (stage, docs_in, docs_out) tuples (counts are actions — the funnel
    is the report a curation run files)."""
    from pyspark_ml_features_spark.operators.dedup import (
        minhash_candidate_pairs,
    )
    from pyspark_ml_features_spark.operators.graph import (
        connected_components,
    )
    from pyspark_ml_features_spark.operators.packing import greedy_pack
    from pyspark_ml_features_spark.operators.quality import shingle_hits
    from pyspark_ml_features_spark.operators.textops import gopher_word_shape

    funnel: list[tuple[str, int, int]] = []
    d = (table(spark, sf_dir, "documents")
         .select("doc_id", "lang", "text",
                 F.size(tokens("text")).cast("bigint").alias("n_tokens")))
    n0 = d.count()

    # 1. EXACT dedup (e1/e36 semantics): canonical doc = min doc_id per
    # normalized text; at 100 TB the key is the 64-bit fingerprint.
    canon = (d.groupBy(F.lower(F.trim(F.col("text"))).alias("k"))
             .agg(F.min("doc_id").alias("doc_id")))
    d1 = d.join(canon.select("doc_id"), "doc_id")
    n1 = d1.count()
    funnel.append(("exact_dedup", n0, n1))

    # 2. NEAR-dup clustering (e33 banded candidates -> e45 components):
    # keep min doc_id per cluster; cluster_id rides to the split stage.
    prs = (minhash_candidate_pairs(d1.select("doc_id", "text"))
           .filter(F.col("est_jaccard") >= near_dup_min_est_jaccard))
    cc = connected_components(
        d1.select(F.col("doc_id").alias("node")),
        prs.select(F.col("d1").alias("src"), F.col("d2").alias("dst")))
    clusters = cc.select(F.col("node").alias("doc_id"), "cluster_id")
    keep_ids = (clusters.groupBy("cluster_id")
                .agg(F.min("doc_id").alias("doc_id")))
    d2 = d1.join(keep_ids.select("doc_id"), "doc_id")
    n2 = d2.count()
    funnel.append(("near_dup_dedup", n1, n2))

    # 3. DECONTAMINATION (e55's n-gram rule): the benchmark stand-in is
    # the doc_id % 5 == 0 slice (the e27/e52/e55 convention) — those
    # docs leave the training corpus outright, and any remaining doc
    # sharing >= contamination_max of its 3-gram shingles with the
    # benchmark is removed.
    # Token array materialized before the gram lambda (word_ngrams'
    # quadratic-re-evaluation rule; the n<3 guard lives in word_ngrams).
    sh = (d2.select("doc_id", tokens("text").alias("__toks"))
          .select("doc_id",
                  F.array_distinct(word_ngrams("__toks", 3)).alias("sh")))
    contaminated = (shingle_hits(sh, F.col("doc_id") % 5 == 0)
                    .filter(F.col("n_hit") / F.col("n_shingles")
                            >= contamination_max)
                    .select("doc_id"))
    d3 = (d2.filter(F.col("doc_id") % 5 != 0)
          .join(contaminated, "doc_id", "left_anti"))
    n3 = d3.count()
    funnel.append(("decontaminate", n2, n3))

    # 4. QUALITY filter (t16's length-free signals, parameterized).
    toks = F.filter(tokens("text"), lambda x: x != "")
    q = d3.withColumn("toks", toks).filter(F.size("toks") >= 1)
    mwl, frac_alpha = gopher_word_shape("toks")
    lo, hi = mean_word_len_bounds
    d4 = (q.filter((mwl >= lo) & (mwl <= hi)
                   & (frac_alpha >= min_frac_alpha))
          .drop("toks"))
    n4 = d4.count()
    funnel.append(("quality_filter", n3, n4))

    # 5. MIXTURE report (e57 semantics): per-lang token shares vs an
    # equal target; weight = target_share * total / lang_tokens.
    lang_tok = (d4.groupBy("lang")
                .agg(F.sum("n_tokens").alias("lang_tokens")))
    n_langs = lang_tok.count()
    mixture = (lang_tok
               .withColumn("total",
                           F.sum("lang_tokens").over(Window.partitionBy()))
               .select("lang", "lang_tokens",
                       F.round(F.col("lang_tokens") / F.col("total"), 6)
                       .alias("actual_share"),
                       F.lit(round(1.0 / n_langs, 6)).alias("target_share"),
                       F.round(F.lit(1.0 / n_langs) * F.col("total")
                               / F.col("lang_tokens"), 6).alias("weight")))

    # 6. PACK (e51's fold) into capacity-bounded bins per (lang, shard).
    packed = greedy_pack(
        d4.select("lang", (F.col("doc_id") % pack_shards).alias("shard"),
                  "doc_id", "n_tokens"),
        pack_capacity)

    # 7. CLUSTER-AWARE split (e66 semantics): whole clusters assigned by
    # a deterministic LCG on cluster_id, so no surviving near-dup pair
    # can cross train/eval (pairs live inside clusters by construction).
    split = (d4.join(clusters, "doc_id")
             .withColumn(
                 "in_train",
                 ((lcg("cluster_id") % F.lit(2048))
                  < F.lit(int(2048 * train_frac)))
                 .cast("bigint"))
             .select("doc_id", "lang", "n_tokens", "cluster_id",
                     "in_train"))

    return {"funnel": funnel, "kept": d4, "clusters": clusters,
            "near_dup_pairs": prs, "mixture": mixture, "packed": packed,
            "split": split}


def funnel_report(result: dict) -> str:
    """Human-readable funnel table from a :func:`curate` result."""
    lines = ["stage            | in    | out   | removed"]
    for stage, n_in, n_out in result["funnel"]:
        lines.append(f"{stage:16s} | {n_in:5d} | {n_out:5d} |"
                     f" {n_in - n_out:5d}")
    return "\n".join(lines)


from pyspark_ml_features_spark.registry import register  # noqa: E402


@register("e76_curation_funnel",
          tags=("north-star", "llm-pipeline", "curation", "integration"))
def e76_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation pipeline's funnel, as a driver-executable
    INTEGRATION query (rows-only: the end-to-end composition spans a
    MinHash fixpoint, an Arrow packing fold, and eager stage counts —
    not one SQL statement; every CONSTITUENT stage is oracle-verified
    via e1/e33/e45/e51/e55/e57/e66/t16, and the composed end-state
    contract is pinned by tests/test_pipeline.py). One row per stage
    with docs in/out plus a final row carrying the packed-corpus shape
    (bins, train docs) — deterministic for a fixed sf_dir, so repeated
    driver runs must agree exactly."""
    r = curate(spark, sf_dir)
    packed_bins = (r["packed"].select("lang", "shard", "bin_id")
                   .distinct().count())
    train_docs = int(r["split"].agg(
        F.sum("in_train")).collect()[0][0] or 0)
    rows = [(i, stage, n_in, n_out)
            for i, (stage, n_in, n_out) in enumerate(r["funnel"])]
    rows.append((len(rows), "packed_bins", packed_bins, packed_bins))
    rows.append((len(rows), "train_docs", train_docs, train_docs))
    return spark.createDataFrame(
        rows, "stage_idx bigint, stage string, docs_in bigint, "
              "docs_out bigint")
