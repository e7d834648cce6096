"""Quality family: decontamination, quality filters and their chain audit,
data-quality audits and QA samples, and pipeline quality measurement —
precision/recall of the approximate dedup path against exact ground truth,
the audit every production near-dedup deployment runs before trusting its
banded-LSH geometry (C4/GPT-3-style pipelines tune bands/rows against
exactly this confusion table).

The whole report is exactly SQL-expressible because e33's MinHash is
engine-exact integer arithmetic: candidates AND ground truth AND the
confusion counts all hash-check against DuckDB — the recall number itself
is driver-verified, not a pytest-only invariant (e2's MLlib twin can't do
this; its signatures are engine-specific).

Scale design (100 TB): exact pairwise truth is O(candidates) via the
shingle inverted-index join, affordable on an AUDIT SLICE, not the corpus
— production runs this report on a sampled partition and extrapolates,
while the banded path (e33/e2d) runs the full corpus. The fixture corpus
is small enough to audit whole, which is what makes the oracle exact
end-to-end.

Reference: the reference repo (six ML utilities, spark_ml_features.py:1)
has no dedup surface; SURVEY §2-E north-star scope.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from pyspark_ml_features_spark.functions.text import (
    STOPWORDS,
    tokens,
    word_ngrams,
)
from pyspark_ml_features_spark.operators.dedup import (
    _duckdb_minhash_ctes,
    jaccard_pairs,
    minhash_candidate_pairs,
    numeric_shingles,
    token_hash_arrays,
)
from pyspark_ml_features_spark.operators.textops import (
    _GOPHER_STOP_SQL,
    GOPHER_STOPWORDS,
)
from pyspark_ml_features_spark.registry import register
from pyspark_ml_features_spark.sources import table


def _e46_oracle() -> str:
    return f"""
WITH {_duckdb_minhash_ctes()},
sizes AS (
    SELECT doc_id, len(sh) AS n_sh FROM shingled
), inv AS (
    SELECT doc_id, unnest(sh) AS shingle FROM shingled
), shared AS (
    SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared
    FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
), truth AS (
    SELECT d1, d2 FROM shared
    JOIN sizes sa ON d1 = sa.doc_id
    JOIN sizes sb ON d2 = sb.doc_id
    WHERE shared::DOUBLE / (sa.n_sh + sb.n_sh - shared) >= 0.5
), conf AS (
    SELECT t.d1 AS td1, e.d1 AS ed1
    FROM truth t FULL JOIN est e ON t.d1 = e.d1 AND t.d2 = e.d2
)
SELECT CAST(count(td1) AS BIGINT) AS n_true,
       CAST(count(ed1) AS BIGINT) AS n_est,
       CAST(sum(CASE WHEN td1 IS NOT NULL AND ed1 IS NOT NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_tp,
       sum(CASE WHEN td1 IS NOT NULL AND ed1 IS NOT NULL
                THEN 1 ELSE 0 END)::DOUBLE / count(ed1) AS precision_est,
       sum(CASE WHEN td1 IS NOT NULL AND ed1 IS NOT NULL
                THEN 1 ELSE 0 END)::DOUBLE / count(td1) AS recall_est
FROM conf
"""


@register(
    "e46_lsh_quality_report",
    oracle=_e46_oracle(),
    tags=("north-star", "E2", "E3", "dedup", "quality", "audit"),
)
def e46_lsh_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH audit: e33's banded candidates (Ĵ ≥ 0.5, 16 sigs /
    8 bands) scored against EXACT 3-gram-shingle Jaccard ≥ 0.5 over the
    same corpus — one row: true pair count, estimated pair count, true
    positives, precision, recall. FULL OUTER join of the two pair sets so
    both miss directions (LSH false negatives, estimator false positives)
    are counted; ratios are one double division each, mirrored verbatim in
    the oracle."""
    d = table(spark, sf_dir, "documents")
    est = minhash_candidate_pairs(d).select("d1", "d2")
    th_df = token_hash_arrays(d)
    truth = jaccard_pairs(
        th_df.withColumn("__sh", numeric_shingles(F.col("th"))),
        F.col("__sh"), threshold=0.5).select("d1", "d2")
    t, e = truth.alias("t"), est.alias("e")
    conf = t.join(e, (F.col("t.d1") == F.col("e.d1"))
                  & (F.col("t.d2") == F.col("e.d2")), "full")
    tp = F.when(F.col("t.d1").isNotNull() & F.col("e.d1").isNotNull(), 1) \
          .otherwise(0)
    return conf.agg(
        F.count(F.col("t.d1")).alias("n_true"),
        F.count(F.col("e.d1")).alias("n_est"),
        F.sum(tp).alias("n_tp"),
        (F.sum(tp).cast("double") / F.count(F.col("e.d1")))
        .alias("precision_est"),
        (F.sum(tp).cast("double") / F.count(F.col("t.d1")))
        .alias("recall_est"))


def _e50_oracle() -> str:
    return f"""
WITH {_duckdb_minhash_ctes()},
thr AS (SELECT unnest([8, 10, 12, 14, 16]) AS min_match)
SELECT thr.min_match,
       CAST(count(CASE WHEN est.n_sig_match >= thr.min_match
                       THEN 1 END) AS BIGINT) AS n_pairs,
       thr.min_match / 16.0 AS est_jaccard_threshold
FROM thr LEFT JOIN est ON est.n_sig_match >= thr.min_match
GROUP BY thr.min_match
"""


@register(
    "e50_threshold_sweep",
    oracle=_e50_oracle(),
    tags=("north-star", "E2", "dedup", "quality", "tuning"),
)
def e50_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity-threshold SWEEP from one candidate pass: pair counts at
    five agreement cutoffs (Ĵ ≥ 0.5 .. 1.0) computed from a single banded
    join — the tuning table an operator reads to pick the dedup threshold
    (too low → over-merging, too high → missed dups), without re-running
    candidate generation per candidate threshold. With e49's signature
    store this sweep re-runs nightly at ~0.1% of corpus cost.

    100 TB: one banded join (the e33 plan), then a 5-row broadcast of
    thresholds over the pair relation — count aggregates map-side."""
    d = table(spark, sf_dir, "documents")
    pairs = minhash_candidate_pairs(d).select("n_sig_match")
    th = spark.range(1).select(
        F.explode(F.array(*[F.lit(t) for t in (8, 10, 12, 14, 16)]))
        .alias("min_match"))
    return (th.crossJoin(F.broadcast(pairs))
            .groupBy("min_match")
            .agg(F.count(F.when(F.col("n_sig_match") >= F.col("min_match"),
                                1)).alias("n_pairs"),
                 F.first(F.col("min_match") / 16.0)
                 .alias("est_jaccard_threshold")))


# Bloom-filter geometry for e52: m bits, k affine transforms of one
# engine-exact rolling hash. (P_i, Q_i) are arbitrary fixed primes; what
# matters for parity is determinism, not statistical independence.
BLOOM_M = 4096
BLOOM_FNS = ((389, 1543), (761, 2711), (997, 3833))


def _bloom_ctes(text_expr: str) -> str:
    """`bloom_hits`' oracle CTEs over ``documents``, hashing ``text_expr``."""
    from pyspark_ml_features_spark.functions.text import duckdb_rolling_hash

    pos_rows = "\n    UNION ALL\n".join(
        f"    SELECT doc_id, (h * {p} + {q}) % {BLOOM_M} AS pos FROM hashed"
        for p, q in BLOOM_FNS)
    return f"""hashed AS (
    SELECT doc_id, text, {duckdb_rolling_hash(text_expr)} AS h FROM documents
), pos AS (
{pos_rows}
), bloom AS (
    SELECT DISTINCT pos FROM pos WHERE doc_id % 5 = 0
), corpus_pos AS (
    SELECT DISTINCT doc_id, pos FROM pos WHERE doc_id % 5 <> 0
)"""


def bloom_hits(hashed: DataFrame) -> DataFrame:
    """(doc_id, n_pos, n_hit) per corpus doc (doc_id % 5 != 0) of
    ``hashed`` (doc_id, h): a Bloom hit when n_hit = n_pos against the
    benchmark slice's DISTINCT bit positions (<= BLOOM_M rows, broadcast)."""
    pos = hashed.select(
        "doc_id",
        F.explode(F.array(*[
            ((F.col("h") * p + q) % BLOOM_M).alias(f"p{i}")
            for i, (p, q) in enumerate(BLOOM_FNS)])).alias("pos"))
    bloom = pos.filter(F.col("doc_id") % 5 == 0).select("pos").distinct()
    corpus_pos = (pos.filter(F.col("doc_id") % 5 != 0)
                  .select("doc_id", "pos").distinct())
    return (corpus_pos.join(F.broadcast(bloom.withColumn("hit", F.lit(1))),
                            "pos", "left")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_pos"),
                 F.count("hit").alias("n_hit")))


def _e52_oracle() -> str:
    return f"""
WITH {_bloom_ctes("text")}, hits AS (
    SELECT c.doc_id,
           count(*) AS n_pos,
           count(b.pos) AS n_hit
    FROM corpus_pos c LEFT JOIN bloom b ON c.pos = b.pos
    GROUP BY c.doc_id
), exact AS (
    SELECT DISTINCT c.doc_id
    FROM documents c JOIN documents b ON c.text = b.text
    WHERE c.doc_id % 5 <> 0 AND b.doc_id % 5 = 0
)
SELECT h.doc_id,
       h.n_hit = h.n_pos AS bloom_hit,
       e.doc_id IS NOT NULL AS exact_hit
FROM hits h LEFT JOIN exact e ON h.doc_id = e.doc_id
"""


@register(
    "e52_bloom_decontaminate",
    oracle=_e52_oracle(),
    tags=("north-star", "E1", "dedup", "bloom", "decontamination"),
)
def e52_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter benchmark decontamination — the constant-memory scale
    path for e27's broadcast semi-join: the benchmark set (doc_id % 5 = 0,
    the e27 convention) is compressed into an m=4096-bit Bloom filter
    (k=3 affine transforms of the engine-exact rolling hash), and every
    corpus document is flagged when ALL its k bit positions are set. The
    output carries ``bloom_hit`` next to the ground-truth ``exact_hit``
    (text-equality semi-join), so the driver hash-checks the filter's
    exact false-positive behavior — no false NEGATIVES by construction
    (every exact hit shares all bit positions), while false positives
    appear as ``bloom_hit AND NOT exact_hit`` rows and grow with bit
    saturation (7% of bits set at sf0.01; 53% at sf0.1 — the fixture
    demonstrates both regimes).

    The whole filter is declarative (``bloom_hits``): bit positions are
    rows, the filter is a DISTINCT aggregate (≤ m rows regardless of corpus
    size), membership is a broadcast join + count match — no driver-side
    bitset, no UDF.

    100 TB: the REAL deployment replaces the position-rows join with a
    broadcast m-bit bitmap (Spark's ``df.stat.bloomFilter`` or a runtime
    bloom pushed into the scan); semantics are what this query pins. The
    benchmark side is small by definition (eval sets, not corpora), so m
    stays KBs-to-MBs; the corpus side is one scan + map-side membership
    test — zero shuffles of corpus text, versus e27's shuffle-free but
    memory-heavier broadcast of the raw benchmark texts."""
    from pyspark_ml_features_spark.functions.text import rolling_hash

    d = table(spark, sf_dir, "documents")
    hits = bloom_hits(d.select("doc_id", rolling_hash("text").alias("h")))
    bench_texts = (d.filter(F.col("doc_id") % 5 == 0)
                   .select("text").distinct())
    exact = (d.filter(F.col("doc_id") % 5 != 0)
             .join(F.broadcast(bench_texts), "text", "leftsemi")
             .select("doc_id").distinct()
             .withColumn("ex", F.lit(1)))
    return (hits.join(exact, "doc_id", "left")
            .select("doc_id",
                    (F.col("n_hit") == F.col("n_pos")).alias("bloom_hit"),
                    F.col("ex").isNotNull().alias("exact_hit")))


@register(
    "e54_dataset_card",
    oracle="""
WITH stats AS (
    SELECT doc_id, text, lang, source,
           len(str_split(text, ' '))::BIGINT AS n_tokens
    FROM documents
)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       sum(n_tokens)::DOUBLE / count(*) AS mean_tokens,
       quantile_cont(n_tokens, 0.5) AS p50_tokens,
       quantile_cont(n_tokens, 0.9) AS p90_tokens,
       CAST(count(*) - count(DISTINCT text) AS BIGINT) AS n_exact_dup,
       (count(*) - count(DISTINCT text))::DOUBLE / count(*) AS dup_rate
FROM stats
""",
    tags=("north-star", "quality", "reporting"),
)
def e54_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATASET CARD summary — the one-row corpus report a training run
    records next to its data snapshot: document/language/source counts,
    token volume, mean and p50/p90 document length, and the exact-duplicate
    rate (docs minus distinct texts). Every number is engine-exact: counts
    and sums are integer, the two divisions are single exact-int divides,
    and exact percentile over BIGINT token counts bit-matches
    quantile_cont (probed, d51).

    100 TB: one pass — count-distinct on the two low-cardinality columns
    is cheap; count(DISTINCT text) is the expensive honest number (shuffle
    of text-sized keys) and the production swap-in is e36's 8-byte
    fingerprint or d38's HLL when approximation is acceptable; exact
    percentile buffers values (b6's caveat) with approx_percentile as the
    documented scale default. The card is the AUDIT artifact, so the
    exact forms are the point."""
    d = table(spark, sf_dir, "documents")
    from pyspark_ml_features_spark.functions.text import tokens

    stats = d.select("lang", "source", "text",
                     F.size(tokens("text")).cast("bigint").alias("n_tokens"))
    return stats.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum("n_tokens").alias("n_tokens"),
        (F.sum("n_tokens").cast("double") / F.count(F.lit(1)))
        .alias("mean_tokens"),
        F.expr("percentile(n_tokens, 0.5)").alias("p50_tokens"),
        F.expr("percentile(n_tokens, 0.9)").alias("p90_tokens"),
        (F.count(F.lit(1)) - F.countDistinct("text")).alias("n_exact_dup"),
        ((F.count(F.lit(1)) - F.countDistinct("text")).cast("double")
         / F.count(F.lit(1))).alias("dup_rate"))


@register(
    "e55_ngram_decontaminate",
    oracle="""
WITH sub AS (
    SELECT doc_id, str_split(text, ' ') AS t FROM documents
), sh AS (
    SELECT doc_id,
           list_distinct(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
                         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
    FROM sub
), bench AS (
    SELECT DISTINCT unnest(sh) AS shingle FROM sh WHERE doc_id % 5 = 0
), corpus AS (
    SELECT doc_id, unnest(sh) AS shingle FROM sh WHERE doc_id % 5 <> 0
), hits AS (
    SELECT c.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(count(b.shingle) AS BIGINT) AS n_shared
    FROM corpus c LEFT JOIN bench b ON c.shingle = b.shingle
    GROUP BY c.doc_id
)
SELECT doc_id, n_shingles, n_shared,
       n_shared::DOUBLE / n_shingles AS contamination
FROM hits WHERE n_shared > 0
""",
    tags=("north-star", "E2", "dedup", "decontamination", "ngram"),
)
def e55_ngram_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-GRAM-overlap benchmark decontamination — the GPT-3/PaLM-style
    rule (those reports used 8-13-gram collisions; 3-grams here match the
    fixture's short documents): a corpus document is contaminated when it
    SHARES ANY word n-gram with the benchmark set (doc_id % 5 = 0, the
    e27/e52 convention), catching partial-overlap leaks that e27's
    exact-text and e52's whole-doc Bloom check both miss. Output: every
    flagged doc with its distinct-shingle count, shared-shingle count, and
    contamination fraction — the evidence a removal decision audits.

    100 TB: the benchmark shingle set is eval-set-sized and broadcasts;
    the corpus explodes its distinct shingles ONCE, joins map-side, and
    re-aggregates per doc — same single-shuffle shape as e53's OOV join.
    For benchmark sets too big to broadcast, the shingle join falls back
    to the inverted-index equi-join (e3's plan) — still candidate-bounded,
    never pairwise."""
    from pyspark_ml_features_spark.functions.text import tokens, word_ngrams

    # Token array materialized before the gram lambda (word_ngrams'
    # quadratic-re-evaluation rule; the n<3 guard lives in word_ngrams).
    d = (table(spark, sf_dir, "documents")
         .select("doc_id", tokens("text").alias("__toks")))
    sh = d.select("doc_id",
                  F.array_distinct(word_ngrams("__toks", 3)).alias("sh"))
    bench = (sh.filter(F.col("doc_id") % 5 == 0)
             .select(F.explode("sh").alias("shingle")).distinct()
             .withColumn("hit", F.lit(1)))
    corpus = (sh.filter(F.col("doc_id") % 5 != 0)
              .select("doc_id", F.explode("sh").alias("shingle")))
    return (corpus.join(F.broadcast(bench), "shingle", "left")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_shingles"),
                 F.count("hit").alias("n_shared"))
            .filter(F.col("n_shared") > 0)
            .select("doc_id", "n_shingles", "n_shared",
                    (F.col("n_shared").cast("double") / F.col("n_shingles"))
                    .alias("contamination")))


@register(
    "e70_token_budget_selection",
    oracle="""
WITH tok AS (
  SELECT doc_id, str_split(text, ' ') AS t FROM documents
), scored AS (
  SELECT doc_id,
         CAST(len(t) AS BIGINT) AS n_tokens,
         CAST((10000 * len(list_filter(t,
               w -> w IN ('the', 'a', 'of', 'and', 'is')))) // len(t)
              AS BIGINT) AS quality_bp
  FROM tok
), ranked AS (
  SELECT doc_id, n_tokens, quality_bp,
         CAST(row_number() OVER (ORDER BY quality_bp DESC, doc_id)
              AS BIGINT) AS rk,
         CAST(sum(n_tokens) OVER (ORDER BY quality_bp DESC, doc_id)
              AS BIGINT) AS cum_tokens
  FROM ranked_src
)
SELECT doc_id, n_tokens, quality_bp, rk, cum_tokens
FROM ranked WHERE cum_tokens <= 10000
""".replace("ranked_src", "scored"),
    tags=("north-star", "llm-pipeline", "curation", "scale", "scan"),
)
def e70_token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN-BUDGET corpus selection — the data-constrained-training step:
    rank every document by a quality score and keep the best until a fixed
    token budget (10,000 here) is exhausted. The score is Gopher-style
    stopword density in basis points (documents containing function words
    are natural language; symbol soup is not — t16 carries the full rule
    bundle), ties broken by doc_id so the cut is deterministic.

    The engine piece is the GLOBAL RUNNING TOTAL under a total order —
    computed by ``distributed_prefix_sum`` (d106's ranking primitive
    extended to carry a measure): range-repartition on (score desc via
    negation, doc_id), per-partition (count, token-sum) collected as P
    metadata rows, driver prefix-sums them into offsets, and each row's
    global rank/cumulative is offset + its bounded local window value.
    The oracle IS the single-partition window this replaces; every task
    holds ~n/P rows, so the selection runs at any corpus size — a full
    sort into one partition (ntile/global window) would not.

    100 TB: one range shuffle + one metadata collect; the budget cut is
    then a partition-local filter. The same scan primitive serves
    quota-by-quality curricula and size-capped shard assembly."""
    from pyspark_ml_features_spark.operators.relational import (
        distributed_prefix_sum,
    )

    scored = _stopword_scored(table(spark, sf_dir, "documents"))
    ranked = distributed_prefix_sum(
        scored, ["neg_bp", "doc_id"], "n_tokens", 16)
    return (ranked.filter(F.col("gcum") <= 10000)
            .select("doc_id", "n_tokens", "quality_bp",
                    F.col("grk").alias("rk"),
                    F.col("gcum").alias("cum_tokens")))


def _stopword_scored(d: DataFrame) -> DataFrame:
    """Gopher-style stopword-density score in basis points, shared by the
    budget cut (e70) and the curriculum partition (e79): per doc,
    (n_tokens, quality_bp = 10000·stopword_hits DIV n_tokens, neg_bp for
    descending range partitioning). The 10000·hits product is forced to
    BIGINT — hits is an int32 F.size, and an int32-first product wraps
    (ANSI off) or throws (ANSI on) past ~214k hits per document, while
    the DuckDB oracle computes len() in BIGINT (the d116 overflow class,
    caught in the round-6 review)."""
    from pyspark_ml_features_spark.functions.text import STOPWORDS, tokens

    t = tokens("text")
    return (d.select(
        "doc_id",
        F.size(t).cast("bigint").alias("n_tokens"),
        F.size(F.filter(t, lambda w: w.isin(*STOPWORDS))).alias("hits"))
        .select("doc_id", "n_tokens",
                F.expr("(10000L * hits) DIV n_tokens").alias("quality_bp"))
        .withColumn("neg_bp", -F.col("quality_bp")))


@register(
    "d117_constraint_audit",
    oracle="""
SELECT 'orphan_lineitem' AS check_name,
       CAST(count(*) AS BIGINT) AS n_violations
FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
UNION ALL
SELECT 'dup_lineitem_key',
       CAST(coalesce(sum(n - 1), 0) AS BIGINT)
FROM (SELECT count(*) AS n FROM lineitem
      GROUP BY l_orderkey, l_linenumber HAVING count(*) > 1)
UNION ALL
SELECT 'discount_out_of_range',
       CAST(count(*) FILTER (WHERE l_discount < 0 OR l_discount > 1)
            AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'null_custkey',
       CAST(count(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT)
FROM orders
UNION ALL
SELECT 'nonpositive_totalprice',
       CAST(count(*) FILTER (WHERE o_totalprice <= 0) AS BIGINT)
FROM orders
UNION ALL
SELECT 'orderdate_after_shipdate_horizon',
       CAST(count(*) FILTER (
            WHERE o_orderdate > TIMESTAMP '2026-01-01') AS BIGINT)
FROM orders
""",
    tags=("engine", "data-quality"),
)
def d117_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table constraint audit — the contract check a 100 TB
    ingestion runs before publishing a snapshot: referential integrity
    (lineitems whose order is missing — LEFT ANTI join, one key
    shuffle), primary-key uniqueness (duplicate (l_orderkey,
    l_linenumber) rows counted as sum(n-1) over violating groups; the
    testdata genuinely contains such duplicates, so this check is
    exercised non-trivially), and domain/range rules (discount ∈ [0,1],
    non-positive prices, null keys, future dates) as conditional
    aggregates folded into ONE pass per table. Output is the fixed
    (check_name, n_violations) report shape monitoring systems ingest.

    Complements d35 (per-column null/distinct profile) and e54 (corpus
    dataset card): those describe the data, this one enforces contracts
    across tables. 100 TB: the domain checks ride a single scan per
    table (conditional sums, map-side combinable); the uniqueness check
    shuffles only the key columns; the anti join shuffles keys once —
    nothing is row-wise Python and no check materializes violations,
    only counts."""
    li = table(spark, sf_dir, "lineitem")
    od = table(spark, sf_dir, "orders")

    orphan = (li.select("l_orderkey")
              .join(od.select("o_orderkey"),
                    li["l_orderkey"] == od["o_orderkey"], "left_anti")
              .agg(F.count(F.lit(1)).cast("bigint").alias("n_violations"))
              .select(F.lit("orphan_lineitem").alias("check_name"),
                      "n_violations"))
    dup = (li.groupBy("l_orderkey", "l_linenumber")
           .agg(F.count(F.lit(1)).alias("n"))
           .filter(F.col("n") > 1)
           .agg(F.coalesce(F.sum(F.col("n") - 1), F.lit(0))
                .cast("bigint").alias("n_violations"))
           .select(F.lit("dup_lineitem_key").alias("check_name"),
                   "n_violations"))
    li_domain = (li.agg(
        F.count(F.when((F.col("l_discount") < 0)
                       | (F.col("l_discount") > 1), F.lit(1)))
        .cast("bigint").alias("n_violations"))
        .select(F.lit("discount_out_of_range").alias("check_name"),
                "n_violations"))
    od_domain = (od.agg(
        F.count(F.when(F.col("o_custkey").isNull(), F.lit(1)))
        .cast("bigint").alias("null_custkey"),
        F.count(F.when(F.col("o_totalprice") <= 0, F.lit(1)))
        .cast("bigint").alias("nonpositive_totalprice"),
        F.count(F.when(F.col("o_orderdate")
                       > F.lit("2026-01-01").cast("timestamp"), F.lit(1)))
        .cast("bigint").alias("orderdate_after_shipdate_horizon"))
        .selectExpr(
            "stack(3, 'null_custkey', null_custkey, "
            "'nonpositive_totalprice', nonpositive_totalprice, "
            "'orderdate_after_shipdate_horizon', "
            "orderdate_after_shipdate_horizon) "
            "AS (check_name, n_violations)"))
    return orphan.unionAll(dup).unionAll(li_domain).unionAll(od_domain)


@register(
    "d119_k_anonymity",
    oracle="""
WITH qi AS (
    SELECT c_nationkey, c_mktsegment,
           CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
           count(*) AS sz
    FROM customer
    GROUP BY c_nationkey, c_mktsegment, bal_band
)
SELECT CAST(sz AS BIGINT) AS group_size,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sz * count(*) AS BIGINT) AS n_rows,
       CAST(sz < 5 AS BIGINT) AS risky
FROM qi GROUP BY sz
""",
    tags=("engine", "data-quality", "privacy"),
)
def d119_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over a quasi-identifier combination
    (nationality × market segment × account-balance band): the
    re-identification risk report a privacy review runs before a
    dataset ships. Two stacked map-side-combinable aggregates: QI
    groups with their sizes, then the size histogram — each row says
    how many equivalence classes have exactly `group_size` members and
    flags classes below the k=5 threshold (the dataset's k-anonymity is
    the smallest group_size present). All counts integer-exact; the
    balance band uses floor(x/1000) — a single correctly-rounded IEEE
    division, identical on both engines.

    100 TB: output is |distinct sizes| rows, the first aggregate
    shuffles only QI-cardinality groups, and generalization ladders
    (coarser bands) just re-run the same two-aggregate shape."""
    c = table(spark, sf_dir, "customer")
    qi = (c.groupBy(
        "c_nationkey", "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("bal_band"))
        .agg(F.count(F.lit(1)).alias("sz")))
    return (qi.groupBy("sz")
            .agg(F.count(F.lit(1)).alias("n_groups"))
            .select(F.col("sz").cast("bigint").alias("group_size"),
                    F.col("n_groups").cast("bigint").alias("n_groups"),
                    (F.col("sz") * F.col("n_groups")).cast("bigint")
                    .alias("n_rows"),
                    (F.col("sz") < 5).cast("bigint").alias("risky")))


CURRICULUM_PHASES = 4


@register(
    "e79_curriculum_phases",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, str_split(text, ' ') AS t FROM documents
), scored AS (
  SELECT doc_id,
         CAST(len(t) AS BIGINT) AS n_tokens,
         CAST((10000 * len(list_filter(t,
               w -> w IN ('the', 'a', 'of', 'and', 'is')))) // len(t)
              AS BIGINT) AS quality_bp
  FROM tok
), ranked AS (
  SELECT doc_id, n_tokens, quality_bp,
         CAST(sum(n_tokens) OVER (ORDER BY quality_bp DESC, doc_id)
              AS BIGINT) AS cum_tokens
  FROM scored
), tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM scored)
SELECT doc_id, n_tokens, quality_bp, cum_tokens,
       CAST(least({CURRICULUM_PHASES} - 1,
                  (cum_tokens - 1) * {CURRICULUM_PHASES} // total)
            AS BIGINT) AS phase
FROM ranked, tot
""",
    tags=("north-star", "llm-pipeline", "curation", "scale"),
)
def e79_curriculum_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CURRICULUM SCHEDULE assignment: walk the corpus from highest to
    lowest quality (e70's stopword-density score, doc_id tie-break) and
    cut the token stream into CURRICULUM_PHASES equal-token phases —
    phase 0 is the cleanest quarter of the training tokens, phase 3 the
    noisiest. Data-curriculum training (clean→noisy or the reverse) and
    multi-epoch quality annealing both consume exactly this assignment
    table.

    Same engine primitive as e70 (``distributed_prefix_sum`` under a
    total order — and literally e70's ``_stopword_scored`` helper), but
    the budget cut generalizes to a PARTITION of the whole corpus:
    phase = (cum_tokens-1) * K DIV total — pure integer arithmetic, so
    the phase boundary is exact on any engine (no float share in
    sight). The corpus total is read as max(gcum) FROM THE RANKED
    CHECKPOINT the primitive just materialized — one scan of the
    memory/disk-resident checkpoint, not a second tokenization pass
    over the corpus (round-6 review finding).

    100 TB: one range shuffle + the primitive's metadata collect + one
    checkpoint-resident max; every task holds ~n/P rows. The oracle is
    the single-partition running-sum window this construction
    replaces.

    EAGER-EXECUTION / STALE-LITERAL CONTRACT (shared with the whole
    ``distributed_row_number`` family, ADVICE r6): building this
    DataFrame runs two Spark jobs up front — the prefix-sum checkpoint
    and the ``max(gcum)`` collect — and bakes the collected corpus
    total into the returned plan as a literal. The result is a SNAPSHOT:
    re-executing the returned DataFrame after the source parquet
    changes replays the checkpoint/total from construction time rather
    than re-deriving them. Rebuild (call the function again) to pick up
    new data."""
    from pyspark_ml_features_spark.operators.relational import (
        distributed_prefix_sum,
    )

    scored = _stopword_scored(table(spark, sf_dir, "documents"))
    ranked = distributed_prefix_sum(
        scored, ["neg_bp", "doc_id"], "n_tokens", 16)
    total = ranked.agg(F.max("gcum")).collect()[0][0] or 1
    k = CURRICULUM_PHASES
    return (ranked.select(
        "doc_id", "n_tokens", "quality_bp",
        F.col("gcum").alias("cum_tokens"))
        .withColumn(
            "phase",
            F.least(F.lit(k - 1),
                    F.expr(f"(cum_tokens - 1) * {k} DIV {total}"))
            .cast("bigint")))


DRIFT_TOP_K = 50


@register(
    "e81_token_drift",
    oracle=f"""
WITH tok AS (
    SELECT doc_id % 2 AS slice, unnest(str_split(text, ' ')) AS token
    FROM documents
), top AS (
    SELECT token FROM tok GROUP BY token
    ORDER BY count(*) DESC, token LIMIT {DRIFT_TOP_K}
), cells AS (
    SELECT token, slice, CAST(count(*) AS BIGINT) AS obs
    FROM tok JOIN top USING (token) GROUP BY 1, 2
), tot AS (
    SELECT token, slice, obs,
           CAST(sum(obs) OVER (PARTITION BY token) AS BIGINT) AS row_tot,
           CAST(sum(obs) OVER (PARTITION BY slice) AS BIGINT) AS col_tot,
           CAST(sum(obs) OVER () AS BIGINT) AS grand
    FROM cells
)
SELECT token, CAST(slice AS BIGINT) AS slice, obs,
       CAST(row_tot::HUGEINT * col_tot * 1000000 // grand AS BIGINT)
           AS expected_micro,
       CAST(((obs::HUGEINT * grand - row_tot::HUGEINT * col_tot)
             * (obs::HUGEINT * grand - row_tot::HUGEINT * col_tot)
             * 1000000000)
            // (row_tot::HUGEINT * col_tot * grand) AS BIGINT)
           AS contrib_nano
FROM tot
""",
    tags=("north-star", "llm-pipeline", "quality", "stats"),
)
def e81_token_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN-DISTRIBUTION DRIFT between two corpus slices (here the
    doc_id parity halves — in production, yesterday's crawl vs today's):
    a chi-square independence table over the top-K corpus tokens. A
    training-data pipeline runs exactly this monitor before admitting a
    new snapshot — topic or template drift shows up as a few tokens with
    huge contributions; Σ contrib_nano / 10^9 is the test statistic.

    Arithmetic is d116's exact integer pattern (relational.py): every
    multi-term product casts to DECIMAL(38,0) / HUGEINT BEFORE
    multiplying, expected counts in micro-units, contributions in
    nano-units — engine-exact, no float χ² in sight. The contingency
    table is K×2 (bounded), so the window sums and arithmetic run on
    ~100 rows regardless of corpus size.

    100 TB: the token-occurrence stream is exploded and shuffled
    EXACTLY ONCE — one hash aggregate onto vocabulary-sized
    (token, slice) counts; the top-K cut and the per-token row totals
    are then derived from that small table (round-6 review: the first
    draft exploded the stream twice, once for the vocabulary and once
    for the cells). Unlike d116's ~15-row contingency, grand here is
    TOKEN OCCURRENCES — ~1e6 at sf0.1 but ~1e12 at corpus scale, where
    num² · 10^9 blows the DECIMAL(38,0) ceiling and Spark's decimal
    multiply NULLs silently — so both of d116's raise_error guards are
    carried verbatim (loud error, then pre-scale counts by a common
    factor; χ² contributions are invariant under uniform rescale up to
    the rescale factor)."""
    from pyspark_ml_features_spark.functions.text import tokens

    from pyspark_ml_features_spark.plans.audit import probe_checkpoint

    d = table(spark, sf_dir, "documents")
    # Materialized ONCE (vocabulary x 2 rows): both the top-K cut and the
    # contingency join read the checkpoint — without it each branch would
    # re-run the corpus explode (AQE does not reuse the exchange here).
    all_cells = probe_checkpoint(
        d.select((F.col("doc_id") % 2).alias("slice"),
                 F.explode(tokens("text")).alias("token"))
        .groupBy("token", "slice")
        .agg(F.count(F.lit(1)).cast("bigint").alias("obs")),
        "e81_token_drift.cells")
    top = (all_cells.groupBy("token").agg(F.sum("obs").alias("n"))
           .orderBy(F.col("n").desc(), "token").limit(DRIFT_TOP_K)
           .select("token"))
    cells = all_cells.join(F.broadcast(top), "token")
    tot = (cells
           .withColumn("row_tot", F.sum("obs").over(
               Window.partitionBy("token")).cast("bigint"))
           .withColumn("col_tot", F.sum("obs").over(
               Window.partitionBy("slice")).cast("bigint"))
           .withColumn("grand", F.sum("obs").over(
               Window.partitionBy()).cast("bigint")))
    return tot.withColumn(
        "num", F.expr("CAST(obs AS DECIMAL(38,0)) * grand"
                      " - CAST(row_tot AS DECIMAL(38,0)) * col_tot")
    ).select(
        "token", F.col("slice").cast("bigint").alias("slice"), "obs",
        F.expr("CAST(CAST(row_tot AS DECIMAL(38,0)) * col_tot * 1000000"
               " DIV grand AS BIGINT)").alias("expected_micro"),
        # d116's exactness guards, verbatim: past either DECIMAL(38,0)
        # ceiling the multiply NULLs silently — raise instead (the
        # guards run on the bounded K x 2 cell table, so they are free).
        F.expr("CASE WHEN abs(num) > 316227766016837L THEN"
               " raise_error('e81: |obs*grand - row_tot*col_tot| exceeds"
               " the DECIMAL(38,0) exact bound (~3.16e14); pre-scale"
               " token counts — see docstring')"
               " WHEN grand > 4641588833612L THEN"
               " raise_error('e81: grand exceeds the DECIMAL(38,0)"
               " denominator bound (~4.64e12 occurrences, grand^3"
               " ceiling); pre-scale token counts — see docstring')"
               " ELSE CAST((num * num * 1000000000L)"
               " DIV (CAST(row_tot AS DECIMAL(38,0)) * col_tot * grand)"
               " AS BIGINT) END").alias("contrib_nano"))


@register(
    "e86_length_band_trim",
    oracle="""
WITH t AS (
    SELECT doc_id, lang,
           CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens
    FROM documents
), b AS (
    SELECT lang, quantile_cont(n_tokens, 0.05) AS lo_p05,
           quantile_cont(n_tokens, 0.95) AS hi_p95
    FROM t GROUP BY lang
)
SELECT doc_id, t.lang, n_tokens, lo_p05, hi_p95,
       CAST(n_tokens >= lo_p05 AND n_tokens <= hi_p95 AS BIGINT) AS keep
FROM t JOIN b ON t.lang = b.lang
""",
    tags=("north-star", "llm-pipeline", "quality", "quantile"),
)
def e86_length_band_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-LANGUAGE LENGTH-BAND trimming (winsorize-style curation): flag
    every document outside its language's [p5, p95] token-count band —
    the standard "drop the pathologically short/long tail" filter run
    per language because length distributions differ across languages.

    Exact interior-interpolation percentile (Spark ``percentile`` ≡
    DuckDB ``quantile_cont``, bit-match probed in d51); the per-lang
    band table is langs-sized and BROADCASTS back onto the corpus.

    100 TB: one hash aggregate to the per-lang bands (exact percentile
    buffers per-lang values — at corpus scale swap in approxQuantile
    exactly like b6→b6b; the band JOIN-BACK shape is unchanged), then a
    broadcast join + per-row codegen flag. No second corpus shuffle."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", "lang",
        F.size(tokens("text")).cast("bigint").alias("n_tokens"))
    bands = d.groupBy("lang").agg(
        F.percentile("n_tokens", F.lit(0.05)).alias("lo_p05"),
        F.percentile("n_tokens", F.lit(0.95)).alias("hi_p95"))
    return (d.join(F.broadcast(bands), "lang")
            .select("doc_id", "lang", "n_tokens", "lo_p05", "hi_p95",
                    ((F.col("n_tokens") >= F.col("lo_p05"))
                     & (F.col("n_tokens") <= F.col("hi_p95")))
                    .cast("bigint").alias("keep")))


@register(
    "e88_ngram_novelty",
    oracle="""
WITH t AS (
    SELECT doc_id, str_split(text, ' ') AS tok FROM documents
), sh AS (
    SELECT doc_id,
           list_distinct(CASE WHEN len(tok) >= 3 THEN list_transform(
               range(1, len(tok) - 1),
               i -> tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2])
           ELSE [] END) AS shingles
    FROM t
), ref AS (
    SELECT DISTINCT unnest(shingles) AS shingle FROM sh
    WHERE doc_id % 5 = 0
), corpus AS (
    SELECT doc_id, unnest(shingles) AS shingle FROM sh
    WHERE doc_id % 5 <> 0
)
SELECT c.doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(count(*) FILTER (WHERE r.shingle IS NULL) AS BIGINT) AS n_novel,
       CAST(10000 * count(*) FILTER (WHERE r.shingle IS NULL) // count(*)
            AS BIGINT) AS novelty_bp
FROM corpus c LEFT JOIN ref r ON c.shingle = r.shingle
GROUP BY c.doc_id
""",
    tags=("north-star", "llm-pipeline", "decontamination", "novelty"),
)
def e88_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-GRAM NOVELTY score — the inverse of e55's contamination rule:
    for every corpus document, the share of its DISTINCT 3-gram
    shingles that do NOT appear anywhere in the reference slice
    (doc_id % 5 = 0, the e27/e52/e55 benchmark convention). Curation
    ranks by novelty to prefer documents that add new content over ones
    that paraphrase what the corpus already holds.

    Docs with fewer than 3 tokens have no shingles and drop out of the
    explode on both engines (the d72 empty-unnest rule). Fixed-point
    ratio via 10000L × novel DIV total.

    100 TB: the reference shingle set is eval-slice-sized and
    BROADCASTS (same posture as e55's decontamination); the corpus side
    is one explode + one hash aggregate on doc_id — no corpus-×-corpus
    join anywhere."""
    # Token array materialized before the gram lambda (word_ngrams'
    # quadratic-re-evaluation rule; the n<3 guard lives in word_ngrams).
    sh = (table(spark, sf_dir, "documents")
          .select("doc_id", tokens("text").alias("__toks"))
          .select("doc_id",
                  F.array_distinct(word_ngrams("__toks", 3)).alias("sh")))
    ref = (sh.filter(F.col("doc_id") % 5 == 0)
           .select(F.explode("sh").alias("shingle")).distinct()
           .withColumn("hit", F.lit(1)))
    corpus = (sh.filter(F.col("doc_id") % 5 != 0)
              .select("doc_id", F.explode("sh").alias("shingle")))
    return (corpus.join(F.broadcast(ref), "shingle", "left")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
                 F.count_if(F.col("hit").isNull()).cast("bigint")
                 .alias("n_novel"))
            .select("doc_id", "n_shingles", "n_novel",
                    F.expr("CAST(10000L * n_novel DIV n_shingles AS BIGINT)")
                    .alias("novelty_bp")))


@register(
    "e93_quality_decile_dup_rate",
    oracle="""
WITH m AS (
    SELECT doc_id, lower(trim(text)) AS k,
           0.3 * (len(list_distinct(str_split(text, ' ')))::DOUBLE
                  / len(str_split(text, ' ')))
         + 0.3 * (1.0 - len(list_filter(str_split(text, ' '),
               t -> list_contains(['the', 'a', 'of', 'and', 'is'], t)
               ))::DOUBLE / len(str_split(text, ' ')))
         + 0.4 * least((list_sum(list_transform(str_split(text, ' '),
               t -> length(t)))::DOUBLE / len(str_split(text, ' ')))
               / 10.0, 1.0) AS q
    FROM documents
), dup AS (
    SELECT k, count(*) AS members FROM m GROUP BY k
), rk AS (
    SELECT m.doc_id, m.q, dup.members,
           row_number() OVER (ORDER BY m.q, m.doc_id) AS rn,
           count(*) OVER () AS n
    FROM m JOIN dup ON m.k = dup.k
)
SELECT CAST((rn - 1) * 10 // n AS BIGINT) AS decile,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(*) FILTER (WHERE members >= 2) AS BIGINT) AS n_dup_docs,
       CAST(10000 * count(*) FILTER (WHERE members >= 2) // count(*)
            AS BIGINT) AS dup_bp
FROM rk GROUP BY 1
""",
    tags=("north-star", "llm-pipeline", "quality", "dedup", "analytics"),
)
def e93_quality_decile_dup_rate(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """QUALITY × DUPLICATION interaction — the curation-analytics question
    behind every filtering threshold: are low-quality documents also the
    duplicated ones? Score each doc with t2's exact quality formula,
    rank the corpus into quality deciles, and report the exact-dup rate
    (e1's normalized-text multiplicity ≥ 2) per decile. A monotone
    dup_bp column tells the curator one threshold removes both
    pathologies at once; a flat one says dedup and quality filtering
    are independent passes.

    The decile comes from the round-7 window-free ranking primitive
    (decile = (grk−1)·10 DIV n — a SINGLE-partition ntile would funnel
    the corpus into one task), mirrored in the oracle by the
    single-partition window it replaces. Ordering ties break on doc_id;
    the quality double is bit-identical cross-engine (t2's fixed
    evaluation order), so rank order is too.

    100 TB: t2's map-side score + e1's hash-agg multiplicity + one
    range shuffle for the ranking + a 10-row aggregate."""
    from pyspark_ml_features_spark.functions.text import STOPWORDS
    from pyspark_ml_features_spark.operators.relational import (
        distributed_row_number,
    )

    d = table(spark, sf_dir, "documents")
    toks = tokens("text")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_tokens = F.size(toks).cast("double")
    q = (F.lit(0.3) * (F.size(F.array_distinct(toks)).cast("double")
                       / n_tokens)
         + F.lit(0.3) * (F.lit(1.0) - F.size(
             F.filter(toks, lambda t: F.array_contains(stop_arr, t))
         ).cast("double") / n_tokens)
         + F.lit(0.4) * F.least(
             F.aggregate(toks, F.lit(0).cast("bigint"),
                         lambda a, t: a + F.length(t)).cast("double")
             / n_tokens / 10.0, F.lit(1.0)))
    m = d.select("doc_id", F.lower(F.trim("text")).alias("k"),
                 q.alias("q"))
    dup = m.groupBy("k").agg(F.count(F.lit(1)).alias("members"))
    scored = m.join(dup, "k").select("doc_id", "q", "members")
    ranked = distributed_row_number(scored, ["q", "doc_id"], 16)
    n = scored.count()
    return (ranked
            .withColumn("decile",
                        F.expr(f"CAST((grk - 1) * 10 DIV {n} AS BIGINT)"))
            .groupBy("decile")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.count_if(F.col("members") >= 2).cast("bigint")
                 .alias("n_dup_docs"))
            .select("decile", "n_docs", "n_dup_docs",
                    F.expr("CAST(10000L * n_dup_docs DIV n_docs AS BIGINT)")
                    .alias("dup_bp")))


QA_PACK_PER_CELL = 3


@register(
    "e97_qa_sample_pack",
    oracle=f"""
WITH m AS (
    SELECT doc_id, lang,
           len(str_split(text, ' '))::DOUBLE AS n_tokens,
           len(list_distinct(str_split(text, ' ')))::DOUBLE AS n_distinct,
           len(list_filter(str_split(text, ' '),
               t -> list_contains({list(STOPWORDS)}, t)
               ))::DOUBLE AS n_stop,
           list_sum(list_transform(str_split(text, ' '),
                                   t -> length(t)))::DOUBLE AS total_chars
    FROM documents
), scored AS (
    SELECT doc_id, lang,
           0.3 * (n_distinct / n_tokens)
             + 0.3 * (1.0 - n_stop / n_tokens)
             + 0.4 * least((total_chars / n_tokens) / 10.0, 1.0)
               AS quality_score
    FROM m
), banded AS (
    SELECT doc_id, lang, quality_score,
           CAST(least(floor(quality_score * 5), 4) AS BIGINT) AS band
    FROM scored
), ranked AS (
    SELECT doc_id, lang, band, quality_score,
           row_number() OVER (
               PARTITION BY lang, band
               ORDER BY ((doc_id % 2147483648) * 1103515245 + 12345)
                        % 2147483648, doc_id) AS rn
    FROM banded
)
SELECT doc_id, lang, band, quality_score
FROM ranked WHERE rn <= {QA_PACK_PER_CELL}
""",
    tags=("north-star", "llm-pipeline", "stewardship", "sampling"),
)
def e97_qa_sample_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HUMAN-QA SAMPLE PACK: a deterministic {QA_PACK_PER_CELL}-doc
    sample from every (language × quality band) cell — what a data
    steward actually reads before shipping a corpus revision. Quality
    is t2's exact score; bands are FIXED arithmetic thresholds
    (floor(score×5), clamped) rather than ntile deciles, so band
    assignment is scan-side per-row work with no global sort (e93's
    ranking primitive covers the decile form); the in-cell sample
    order is the portable LCG, so the same doc_ids come back on every
    engine and every run.

    100 TB: one window per (lang, band) cell — Spark's WindowGroupLimit
    pushes the rn <= k filter into the sort (d10's shape), so each
    task keeps k rows per cell, never the cell's full contents."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", tokens("text").alias("__toks"))
    toks = F.col("__toks")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_tokens = F.size(toks).cast("double")
    n_distinct = F.size(F.array_distinct(toks)).cast("double")
    n_stop = F.size(F.filter(
        toks, lambda t: F.array_contains(stop_arr, t))).cast("double")
    total_chars = F.aggregate(
        toks, F.lit(0).cast("bigint"),
        lambda acc, t: acc + F.length(t)).cast("double")
    score = (F.lit(0.3) * (n_distinct / n_tokens)
             + F.lit(0.3) * (F.lit(1.0) - n_stop / n_tokens)
             + F.lit(0.4) * F.least((total_chars / n_tokens) / F.lit(10.0),
                                    F.lit(1.0)))
    banded = d.select(
        "doc_id", "lang", score.alias("quality_score"),
        F.least(F.floor(score * 5), F.lit(4)).cast("bigint").alias("band"))
    lcg = ((F.col("doc_id") % F.lit(2147483648)) * F.lit(1103515245)
           + F.lit(12345)) % F.lit(2147483648)
    w = Window.partitionBy("lang", "band").orderBy(lcg.asc(), "doc_id")
    return (banded.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= QA_PACK_PER_CELL)
            .select("doc_id", "lang", "band", "quality_score"))


@register(
    "d142_observed_quality_metrics",
    oracle="""
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS price_cents
FROM orders
GROUP BY o_orderpriority
""",
    tags=("engine", "observability", "spark4"),
)
def d142_observed_quality_metrics(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Observation API: data-quality counters (row count, null count,
    total cents) piggybacked on the SAME job as the business aggregate
    via ``df.observe`` — zero extra passes over the data, the
    production alternative to running a second validation query (which
    at 100 TB doubles the scan bill). The observe node is a pass-
    through for the result (the oracle is the plain aggregate);
    tests/test_invariants.py collects the observed metrics and pins
    them against the result itself."""
    import uuid

    from pyspark.sql import Observation

    o = table(spark, sf_dir, "orders")
    # uuid suffix, not id(): CPython reuses id() values after GC, so two
    # executions in one session could collide on the CollectMetrics name.
    obs = Observation(f"d142_quality_{uuid.uuid4().hex}")
    observed = o.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.count_if(F.col("o_totalprice").isNull()).alias("n_null_price"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
        .alias("total_cents"))
    return (observed.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                 F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
                 .cast("bigint").alias("price_cents")))


@register(
    "e108_quality_filter_chain_audit",
    oracle=f"""
WITH d AS (
    SELECT doc_id, lang, coalesce(text, '') AS text, n_chars
    FROM documents
), g AS (
    SELECT doc_id, lang, text, n_chars,
           CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens_raw,
           CAST(len(list_filter(str_split(text, ' '), t -> t <> ''))
                AS BIGINT) AS n_words,
           CASE WHEN len(list_filter(str_split(text, ' '),
                                     t -> t <> '')) >= 1 THEN
               round(list_sum(list_transform(
                         list_filter(str_split(text, ' '), t -> t <> ''),
                         t -> length(t)))
                     / len(list_filter(str_split(text, ' '),
                                       t -> t <> '')), 6) END AS mwl,
           CASE WHEN len(list_filter(str_split(text, ' '),
                                     t -> t <> '')) >= 1 THEN
               round(len(list_filter(str_split(text, ' '),
                         t -> regexp_matches(t, '[a-z]')))
                     / len(list_filter(str_split(text, ' '),
                                       t -> t <> '')), 6) END AS fa,
           CAST(len(list_intersect(
                    list_distinct(list_filter(str_split(text, ' '),
                                              t -> t <> '')),
                    {_GOPHER_STOP_SQL}))
                AS BIGINT) AS ns
    FROM d
), gk AS (
    SELECT *, (n_words >= 50 AND n_words <= 100000
               AND mwl >= 3 AND mwl <= 10
               AND fa >= 0.8 AND ns >= 2) AS gopher_keep
    FROM g
), bands AS (
    SELECT lang, quantile_cont(n_tokens_raw, 0.05) AS lo_p05,
           quantile_cont(n_tokens_raw, 0.95) AS hi_p95
    FROM gk WHERE gopher_keep GROUP BY lang
), lk AS (
    SELECT gk.*,
           (gopher_keep AND coalesce(n_tokens_raw >= lo_p05
                                     AND n_tokens_raw <= hi_p95, FALSE))
               AS len_keep
    FROM gk LEFT JOIN bands ON gk.lang = bands.lang
), surv AS (
    SELECT nt, doc_id AS surviving_doc FROM (
        SELECT lower(trim(text)) AS nt, doc_id,
               row_number() OVER (PARTITION BY lower(trim(text))
                                  ORDER BY n_chars DESC, doc_id ASC)
                   AS rk
        FROM lk WHERE len_keep)
    WHERE rk = 1
)
SELECT lk.doc_id,
       CASE WHEN NOT gopher_keep THEN 'gopher_reject'
            WHEN NOT len_keep THEN 'length_reject'
            WHEN lk.doc_id = s.surviving_doc THEN 'kept'
            ELSE 'dup_reject' END AS stage,
       CAST(coalesce(CASE WHEN len_keep THEN s.surviving_doc END, -1)
            AS BIGINT) AS surviving_doc
FROM lk LEFT JOIN surv s ON lower(trim(lk.text)) = s.nt
""",
    tags=("north-star", "llm-pipeline", "quality", "dedup",
          "integration"),
)
def e108_quality_filter_chain_audit(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """QUALITY-FILTER CHAIN with a full-corpus DISPOSITION AUDIT — the
    three graded curation stages run as one pipeline, in pipeline order:

    1. t16's Gopher rule bundle (word-count bounds, mean word length,
       alpha-word fraction, stopword hits) rejects raw junk;
    2. e86's per-language [p5, p95] length band — recomputed over the
       GOPHER SURVIVORS, which is what makes this a true chain rather
       than three independent flags: the band thresholds themselves
       depend on stage 1's output;
    3. e34's quality-aware exact dedup (keep longest, ties to lowest
       doc_id) elects one survivor per normalized-text group among the
       stage-2 survivors.

    The output is the AUDIT every production curation run must be able
    to produce: EVERY corpus document exactly once, labeled with the
    first stage that rejected it ('gopher_reject' → 'length_reject' →
    'dup_reject') or 'kept', plus the surviving doc of its content
    group when it reached dedup (-1 sentinel otherwise, keeping the
    column BIGINT across engines). The oracle replays the identical
    chain in DuckDB, so the hash pins the corpus-partition property
    (sum of stage counts == corpus count, no doc dropped or
    double-counted) AND per-doc attribution — a band computed over the
    wrong survivor set, a flag flipped by rounding drift, or a dedup
    tie broken differently each moves at least one doc across stages
    and breaks it. NULL text coalesces to '' on both sides (the e105
    rule).

    100 TB: stage 1 is per-row codegen, no shuffle; stage 2 is one
    langs-sized aggregate (exact percentile here; approxQuantile at
    corpus scale, b6→b6b's documented swap) broadcast back; stage 3
    is ONE shuffle on the normalized-text key (or its fingerprint,
    e34's note) plus the survivor join on the same key — the audit
    costs the same two corpus shuffles the bare dedup does.

    Cites: textops.py:t16_gopher_rules, quality.py:e86_length_band_trim,
    dedup.py:e34_quality_dedup."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", "lang",
        F.coalesce(F.col("text"), F.lit("")).alias("text"), "n_chars")
    toks = F.filter(tokens("text"), lambda t: t != "")
    stop = F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
    g = d.select(
        "doc_id", "lang", "text", "n_chars",
        F.size(tokens("text")).cast("bigint").alias("n_tokens_raw"),
        F.size(toks).cast("bigint").alias("n_words"),
        F.when(F.size(toks) >= 1,
               F.round(F.aggregate(toks, F.lit(0).cast("bigint"),
                                   lambda a, t: a + F.length(t))
                       / F.size(toks), 6)).alias("mwl"),
        F.when(F.size(toks) >= 1,
               F.round(F.size(F.filter(toks,
                                       lambda t: t.rlike("[a-z]")))
                       / F.size(toks), 6)).alias("fa"),
        F.size(F.array_intersect(F.array_distinct(toks), stop))
        .cast("bigint").alias("ns"))
    gk = g.withColumn(
        "gopher_keep",
        (F.col("n_words") >= 50) & (F.col("n_words") <= 100000)
        & (F.col("mwl") >= 3) & (F.col("mwl") <= 10)
        & (F.col("fa") >= 0.8) & (F.col("ns") >= 2))
    bands = (gk.filter("gopher_keep").groupBy("lang")
             .agg(F.percentile("n_tokens_raw", F.lit(0.05))
                  .alias("lo_p05"),
                  F.percentile("n_tokens_raw", F.lit(0.95))
                  .alias("hi_p95")))
    # the band comparison coalesces to FALSE so len_keep is never NULL:
    # a Gopher-passing doc whose lang has no band row (NULL lang, or a
    # lang with zero survivors) is a LENGTH reject — without the
    # coalesce, three-valued logic would skip the `WHEN NOT len_keep`
    # arm and mislabel it 'dup_reject' (r11 review finding; both
    # engines replay the same coalesce so the semantics, not just the
    # hash, are right)
    lk = (gk.join(F.broadcast(bands), "lang", "left")
          .withColumn("len_keep",
                      F.col("gopher_keep")
                      & F.coalesce(
                          (F.col("n_tokens_raw") >= F.col("lo_p05"))
                          & (F.col("n_tokens_raw") <= F.col("hi_p95")),
                          F.lit(False)))
          .withColumn("nt", F.lower(F.trim(F.col("text")))))
    # the flagged corpus feeds TWO branches (survivor election + the
    # final disposition join) and AQE does not reuse cross-branch
    # exchanges (the e81 finding) — materialize once; the
    # pre-truncation lineage joins the fixpoint-internal plan ratchet
    from pyspark_ml_features_spark.plans.audit import probe_checkpoint

    lk = probe_checkpoint(lk, "e108.flags")
    # e34's struct-max survivor election: argmax(n_chars, then min
    # doc_id) in one map-side-combinable aggregate — no window
    surv = (lk.filter("len_keep").groupBy("nt")
            .agg(F.max(F.struct(F.col("n_chars"),
                                (-F.col("doc_id")).alias("neg")))
                 .alias("best"))
            .select("nt", (-F.col("best.neg")).alias("surviving_doc")))
    out = lk.join(surv, "nt", "left")
    return out.select(
        "doc_id",
        F.when(~F.col("gopher_keep"), F.lit("gopher_reject"))
        .when(~F.col("len_keep"), F.lit("length_reject"))
        .when(F.col("doc_id") == F.col("surviving_doc"), F.lit("kept"))
        .otherwise(F.lit("dup_reject")).alias("stage"),
        F.coalesce(F.when(F.col("len_keep"), F.col("surviving_doc")),
                   F.lit(-1)).cast("bigint").alias("surviving_doc"))


def _e110_oracle() -> str:
    from pyspark_ml_features_spark.operators.packing import GREEDY_PACK_CAP

    return f"""
WITH RECURSIVE {_bloom_ctes("coalesce(text, '')")}, hits AS (
    SELECT c.doc_id, count(*) AS n_pos, count(b.pos) AS n_hit
    FROM corpus_pos c LEFT JOIN bloom b ON c.pos = b.pos
    GROUP BY c.doc_id
), flags AS (
    SELECT d.doc_id, d.lang, d.doc_id % 4 AS shard,
           CAST(len(string_split(coalesce(d.text, ''), ' ')) AS BIGINT)
               AS n_tokens,
           CAST(h.n_hit = h.n_pos AS BIGINT) AS contaminated
    FROM documents d JOIN hits h ON d.doc_id = h.doc_id
    WHERE d.doc_id % 5 <> 0
), docs AS (
    SELECT lang, shard, doc_id, n_tokens,
           row_number() OVER (PARTITION BY lang, shard
                              ORDER BY doc_id) AS rn
    FROM flags WHERE contaminated = 0
), pack AS (
    SELECT lang, shard, doc_id, n_tokens, rn,
           CAST(1 AS BIGINT) AS bin_id, n_tokens AS fill
    FROM docs WHERE rn = 1
    UNION ALL
    SELECT d.lang, d.shard, d.doc_id, d.n_tokens, d.rn,
           CASE WHEN p.fill + d.n_tokens > {GREEDY_PACK_CAP}
                THEN p.bin_id + 1 ELSE p.bin_id END,
           CASE WHEN p.fill + d.n_tokens > {GREEDY_PACK_CAP}
                THEN d.n_tokens ELSE p.fill + d.n_tokens END
    FROM pack p JOIN docs d ON d.lang = p.lang AND d.shard = p.shard
                           AND d.rn = p.rn + 1
)
SELECT f.doc_id, f.lang, f.shard, f.n_tokens, f.contaminated,
       CAST(coalesce(p.bin_id, -1) AS BIGINT) AS bin_id
FROM flags f LEFT JOIN pack p ON f.doc_id = p.doc_id
"""


@register(
    "e110_decontam_pack_audit",
    oracle=_e110_oracle(),
    tags=("north-star", "llm-pipeline", "decontamination", "packing",
          "integration"),
)
def e110_decontam_pack_audit(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """DECONTAMINATE → PACK chain with a full-corpus audit (the r12-plan
    composition pulled forward): e52's Bloom decontamination flags every
    corpus document against the benchmark slice (doc_id % 5 = 0, the e27
    convention), and ONLY the clean survivors flow into e51's
    capacity-respecting greedy packing fold — the two steps every
    training-data build runs back to back, chained so the packing's
    per-(lang, shard) walk order depends on stage 1's output (drop one
    more doc and every later bin assignment in its shard shifts). The
    output is one row per corpus doc — contaminated docs carry
    bin_id = -1, clean docs their real bin — so the hash pins, at once:
    the Bloom membership arithmetic (e52), the first-fit fold with
    capacity resets (e51), AND the partition property (no doc dropped or
    packed twice; a contaminated doc leaking into packing renumbers its
    whole shard). The DuckDB oracle replays the chain with the same
    bloom CTE and the recursive first-fit fold over the FILTERED doc
    set.

    100 TB: stage 1 is one corpus scan + broadcast m-bit membership
    (zero corpus-text shuffles, e52's economics); stage 2 shuffles only
    (lang, shard, doc_id, n_tokens) — text never crosses the Arrow
    boundary, and the shard knob bounds per-task state (e51's measured
    ladder). The flags table feeds two branches (the pack input and the
    final audit join) and is checkpointed once (the e81 rule).

    Cites: quality.py:e52_bloom_decontaminate, packing.py:greedy_pack."""
    from pyspark_ml_features_spark.functions.text import rolling_hash
    from pyspark_ml_features_spark.operators.packing import (
        GREEDY_PACK_CAP,
        greedy_pack,
    )
    from pyspark_ml_features_spark.plans.audit import probe_checkpoint

    d = table(spark, sf_dir, "documents")
    # NULL text coalesces to '' on BOTH sides (the e105/e108 rule): a NULL
    # doc otherwise yields NULL n_tokens, which would reach greedy_pack's
    # bigint Arrow schema as NaN — an engine-only failure the SQL oracle
    # would not reproduce.
    text = F.coalesce(F.col("text"), F.lit(""))
    hits = bloom_hits(d.select("doc_id", rolling_hash(text).alias("h")))
    flags = (d.filter(F.col("doc_id") % 5 != 0)
             .select("doc_id", "lang",
                     (F.col("doc_id") % 4).alias("shard"),
                     F.size(tokens(text)).cast("bigint")
                     .alias("n_tokens"))
             .join(hits, "doc_id")
             .withColumn("contaminated",
                         (F.col("n_hit") == F.col("n_pos"))
                         .cast("bigint"))
             .drop("n_pos", "n_hit"))
    flags = probe_checkpoint(flags, "e110.flags")
    packed = greedy_pack(
        flags.filter(F.col("contaminated") == 0)
        .select("lang", "shard", "doc_id", "n_tokens"),
        GREEDY_PACK_CAP).select("doc_id", "bin_id")
    return (flags.join(packed, "doc_id", "left")
            .select("doc_id", "lang", "shard", "n_tokens", "contaminated",
                    F.coalesce("bin_id", F.lit(-1)).cast("bigint")
                    .alias("bin_id")))
