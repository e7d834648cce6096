"""Deduplication family over documents (SURVEY §2-E E1/E2/E3 + n-gram
Jaccard): the LLM-training-pipeline dedup ladder, fuzzy record linkage,
golden-record survivorship and provenance, and incremental==batch
equivalence.

Scale design (100 TB):
 - exact dedup = hash-groupBy on the normalized text (or its rolling-hash
   fingerprint to avoid shuffling full text) — one shuffle keyed on the hash,
   map-side combine keeps it bounded by distinct-count;
 - exact pairwise Jaccard is O(n²) and only ever runs on a candidate subset;
   the declared oracle queries bound it with an inverted-index join (pairs
   only materialize for docs sharing a token) over a deterministic sample;
 - the scale path is banded LSH: shingles/fingerprints → signatures →
   banded bucket join — candidate pairs ∝ true near-duplicates, not n².
   Three hash-verifiable variants run the full corpus: e2c (16-bit SimHash,
   teaching geometry), e2d (64-bit SimHash, deployment geometry), e33
   (engine-exact MinHash); MLlib's MinHashLSH (e2) is kept for API parity
   (engine-specific signatures → rows-only). All banded joins emit each
   pair once via `first_match_only` — no pair-dedup shuffle.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from pyspark_ml_features_spark.functions.skew import fan_out
from pyspark_ml_features_spark.functions.text import tokens, word_ngrams
from pyspark_ml_features_spark.plans.audit import probe_checkpoint
from pyspark_ml_features_spark.registry import register
from pyspark_ml_features_spark.sources import table


@register(
    "e1_exact_dedup",
    oracle="""
SELECT lower(trim(text)) AS norm_text,
       min(doc_id) AS kept_doc_id,
       count(*) AS n_copies
FROM documents
GROUP BY lower(trim(text))
""",
    tags=("north-star", "E1", "dedup"),
)
def e1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized text: one hash aggregate keeping the lowest
    doc_id per group (groupBy-min beats a row_number window — no sort, full
    map-side combine)."""
    d = table(spark, sf_dir, "documents")
    return (d.groupBy(F.lower(F.trim(F.col("text"))).alias("norm_text"))
            .agg(F.min("doc_id").alias("kept_doc_id"),
                 F.count(F.lit(1)).alias("n_copies")))


def jaccard_pairs(docs: DataFrame, shingle_col, threshold: float) -> DataFrame:
    """Exact pairwise Jaccard over per-doc distinct shingle arrays via an
    inverted-index self-join: explode shingles, join on shingle with
    doc_id ordering, count shared shingles per pair, then
    ``J = shared / (|a| + |b| - shared)`` — integer-exact arithmetic.
    Only pairs sharing ≥1 shingle are ever materialized."""
    shingled = docs.select("doc_id", F.array_distinct(shingle_col).alias("sh"))
    sizes = shingled.select("doc_id", F.size("sh").alias("n_sh"))
    inv = shingled.select("doc_id", F.explode("sh").alias("shingle"))
    a, b = inv.alias("a"), inv.alias("b")
    shared = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count(F.lit(1)).alias("shared")))
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    # per-doc size join-back: corpus-scaling, so NO broadcast hint (the
    # e8-vocab rule) — AQE broadcasts at small SF from runtime sizes and
    # degrades to a shuffle join at corpus scale
    out = (
        shared
        .join(sa, F.col("d1") == F.col("sa.doc_id"))
        .join(sb, F.col("d2") == F.col("sb.doc_id"))
        .select(
            "d1", "d2",
            (F.col("shared").cast("double")
             / (F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("shared"))
             ).alias("jaccard")))
    return out.filter(F.col("jaccard") >= threshold)


@register(
    "e3_jaccard_pairs",
    oracle="""
WITH sub AS (
    SELECT doc_id, list_distinct(str_split(text, ' ')) AS sh
    FROM documents WHERE doc_id % 5 = 0
), sizes AS (
    SELECT doc_id, len(sh) AS n_sh FROM sub
), inv AS (
    SELECT doc_id, unnest(sh) AS shingle FROM sub
), shared AS (
    SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared
    FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT d1, d2,
       shared::DOUBLE / (sa.n_sh + sb.n_sh - shared) AS jaccard
FROM shared
JOIN sizes sa ON d1 = sa.doc_id
JOIN sizes sb ON d2 = sb.doc_id
WHERE shared::DOUBLE / (sa.n_sh + sb.n_sh - shared) >= 0.5
""",
    tags=("north-star", "E3", "dedup"),
)
def e3_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard near-duplicate pairs (J ≥ 0.5) on a
    deterministic 20% sample — the oracle-checked ground truth that the
    MinHash-LSH scale path (e2) approximates."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    return jaccard_pairs(d, tokens("text"), threshold=0.5)


@register(
    "e3b_ngram_jaccard_pairs",
    oracle="""
WITH sub AS (
    SELECT doc_id, str_split(text, ' ') AS t
    FROM documents WHERE doc_id % 5 = 0
), sh AS (
    SELECT doc_id,
           list_distinct(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
                         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
    FROM sub
), sizes AS (
    SELECT doc_id, len(sh) AS n_sh FROM sh
), inv AS (
    SELECT doc_id, unnest(sh) AS shingle FROM sh
), shared AS (
    SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared
    FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT d1, d2,
       shared::DOUBLE / (sa.n_sh + sb.n_sh - shared) AS jaccard
FROM shared
JOIN sizes sa ON d1 = sa.doc_id
JOIN sizes sb ON d2 = sb.doc_id
WHERE shared::DOUBLE / (sa.n_sh + sb.n_sh - shared) >= 0.01
""",
    tags=("north-star", "E3", "dedup"),
)
def e3b_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram shingle Jaccard (J ≥ 0.01; ordered 3-grams rarely repeat in shuffled-word corpora, so the threshold is low) — shingles are far more
    selective than unigrams, so the inverted-index join stays near-linear
    even on corpora with tiny vocabularies."""
    # Token array materialized before the gram lambda (word_ngrams'
    # quadratic-re-evaluation rule; the n<3 guard lives in word_ngrams).
    d = (table(spark, sf_dir, "documents")
         .filter(F.col("doc_id") % 5 == 0)
         .withColumn("__toks", tokens("text")))
    return jaccard_pairs(
        d.withColumn("__sh", word_ngrams("__toks", 3)).drop("__toks"),
        F.col("__sh"), threshold=0.01)


@register("e2_minhash_near_dedup", tags=("north-star", "E2", "dedup", "approx"))
def e2_minhash_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-duplicate candidate pairs — the 100 TB dedup path:
    token sets → binary term vectors (HashingTF) → MinHash signatures →
    approxSimilarityJoin (banded bucket join; candidates ∝ collisions, never
    n²). Seeded for run-to-run stability, but signatures are MLlib-specific →
    rows-only check; exact recall is validated against e3 in
    tests/test_invariants.py."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    toks = (d.select("doc_id", F.array_distinct(tokens("text")).alias("toks"))
            .filter(F.size("toks") > 0))  # MinHashLSH requires ≥1 set bit
    htf = HashingTF(inputCol="toks", outputCol="tf_vec",
                    numFeatures=1 << 18, binary=True)
    vecs = htf.transform(toks)
    mh = MinHashLSH(inputCol="tf_vec", outputCol="sig", numHashTables=8,
                    seed=42)
    model = mh.fit(vecs)
    pairs = model.approxSimilarityJoin(vecs, vecs, 0.5, distCol="jaccard_dist")
    return (pairs
            .filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
            .select(F.col("datasetA.doc_id").alias("d1"),
                    F.col("datasetB.doc_id").alias("d2"),
                    (1 - F.col("jaccard_dist")).alias("est_jaccard")))


# Engine-exact MinHash (e33): K=16 permutations h_i(x) = (a_i·x + b_i) mod p
# over the prime field p = 2^31-1, applied to token rolling-hashes. Unlike
# MLlib's MinHashLSH (e2 — engine-specific signatures, rows-only check),
# every step here is portable integer arithmetic, so the *production MinHash
# shape* carries an exact DuckDB oracle. Constants are fixed (seeded offline,
# deterministic): classic MINSTD-family multipliers.
MINHASH_K = 16
MINHASH_P = 2147483647
MINHASH_AFFINE = tuple(
    (pow(16807, i + 1, MINHASH_P), (48271 * i + 11) % MINHASH_P)
    for i in range(MINHASH_K))
MINHASH_BANDS = 8          # 8 bands × 2 rows; P(candidate) = 1-(1-J²)^8
MINHASH_MIN_MATCH = 8      # report pairs with ≥ 8/16 matching sigs (Ĵ ≥ 0.5)
MINHASH_SHINGLE_B = 10007  # 3-gram shingle hash: ((h1·B + h2) % p · B + h3) % p


def _duckdb_minhash_ctes() -> str:
    """Shared CTE chain (no WITH prefix): shingle hashes → signatures →
    banded candidates → ``est`` (pairs with ≥ MINHASH_MIN_MATCH agreeing
    sigs). Composed by the e33 oracle and the e46 quality-report oracle."""
    from pyspark_ml_features_spark.functions.text import duckdb_rolling_hash

    sig_cols = ", ".join(
        f"min(({a} * x + {b}) % {MINHASH_P}) AS s{i}"
        for i, (a, b) in enumerate(MINHASH_AFFINE))
    band_hi = ("CASE b " + " ".join(
        f"WHEN {i} THEN s{2 * i}" for i in range(MINHASH_BANDS)) + " END")
    band_lo = ("CASE b " + " ".join(
        f"WHEN {i} THEN s{2 * i + 1}" for i in range(MINHASH_BANDS)) + " END")
    n_match = " + ".join(
        f"(CASE WHEN sa.s{i} = sb.s{i} THEN 1 ELSE 0 END)"
        for i in range(MINHASH_K))
    return f"""t0 AS (
    SELECT doc_id, str_split(text, ' ') AS t FROM documents
), th AS (
    SELECT doc_id,
           list_transform(t, tok -> {duckdb_rolling_hash('tok')}) AS th
    FROM t0
), shingled AS (
    SELECT doc_id,
           list_distinct(list_transform(range(1, greatest(len(th) - 2, 0) + 1),
                         i -> (((th[i] * {MINHASH_SHINGLE_B} + th[i+1])
                                % {MINHASH_P}) * {MINHASH_SHINGLE_B}
                               + th[i+2]) % {MINHASH_P})) AS sh
    FROM th
), hx AS (
    SELECT doc_id, unnest(sh) AS x FROM shingled
), sig AS (
    SELECT doc_id, {sig_cols} FROM hx GROUP BY doc_id
), banded AS (
    SELECT doc_id, b AS band_id,
           ({band_hi}) * 2147483648 + ({band_lo}) AS band_val
    FROM sig, unnest(range(0, {MINHASH_BANDS})) AS t(b)
), cand AS (
    SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
    FROM banded a
    JOIN banded b ON a.band_id = b.band_id AND a.band_val = b.band_val
                 AND a.doc_id < b.doc_id
), est AS (
    SELECT d1, d2, n_sig_match FROM (
        SELECT d1, d2, ({n_match}) AS n_sig_match
        FROM cand
        JOIN sig sa ON sa.doc_id = d1
        JOIN sig sb ON sb.doc_id = d2
    )
    WHERE n_sig_match >= {MINHASH_MIN_MATCH}
)"""


def _duckdb_minhash_banded() -> str:
    """DuckDB twin of :func:`e33_minhash_banded_exact`."""
    return f"""
WITH {_duckdb_minhash_ctes()}
SELECT d1, d2, n_sig_match,
       n_sig_match / {MINHASH_K}.0 AS est_jaccard
FROM est
"""


def token_hash_arrays(d: DataFrame) -> DataFrame:
    """(doc_id, th): per-token rolling hashes materialized ONCE per row
    (own Project — the e5 lesson: never leave a per-row array aggregate to
    be re-evaluated per shingle)."""
    from pyspark_ml_features_spark.functions.text import rolling_hash, tokens

    # fan_out: the per-token hash transform (and the shingle fold every
    # caller layers on top) is the CPU wall of the minhash family; a
    # single-row-group scan otherwise runs it all on one task (no-op on
    # a multi-split cluster scan).
    return fan_out(d, "doc_id").select("doc_id", F.transform(
        tokens("text"), lambda tok: rolling_hash(tok)).alias("th"))


def numeric_shingles(th) -> F.Column:
    """Distinct word-3-gram shingle hashes from a token-hash array column:
    each shingle hash is an O(1) numeric combine over the hash array — no
    concat-string shingles, no re-folding characters 3× per overlapping
    shingle (measured 3.5× faster than string shingling). Positions are
    guarded (Spark sequence(1,0) is DESCENDING — see t7)."""
    n_tok = F.size(th)

    def combine(i):
        return ((F.element_at(th, i) * MINHASH_SHINGLE_B
                 + F.element_at(th, i + 1))
                % MINHASH_P * MINHASH_SHINGLE_B
                + F.element_at(th, i + 2)) % MINHASH_P

    return F.when(
        n_tok >= 3,
        F.array_distinct(F.transform(F.sequence(F.lit(1), n_tok - 2),
                                     combine)),
    ).otherwise(F.array().cast("array<bigint>"))


@register(
    "e33_minhash_banded_exact",
    oracle=_duckdb_minhash_banded(),
    tags=("north-star", "E2", "dedup"),
)
def e33_minhash_banded_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs with ENGINE-EXACT signatures — the same
    shingle→minhash→band→bucket-join shape as MLlib's MinHashLSH (e2), but
    hand-rolled over the prime field so the whole pipeline carries an exact
    oracle: word-3-gram shingle rolling-hashes → 16 affine-permutation
    minima → 8 bands of 2 sigs (band value packs both sigs into one BIGINT:
    s·2^31 + s') → band equi-join for candidates → exact
    signature-agreement count as the Jaccard estimate (Ĵ = matches/16,
    reported for Ĵ ≥ 0.5). Full corpus, never all-pairs: candidates ∝ band
    collisions ∝ true similarity (P(candidate) = 1-(1-J²)^8 ≈ 0.9 at
    J = 0.5). Shingles, not unigram tokens, are deliberate: on this fixture
    ~3/4 of ALL pairs share J ≥ 0.5 of their token SETS (tiny vocabulary),
    while 3-gram shingles are order-sensitive and selective — which is
    exactly why production dedup (GPT-3/C4-style) minhashes shingles.

    100 TB: signatures are 128 bytes/doc regardless of doc length; the
    band join shuffles 16-byte rows; sig lookups for the agreement count
    hash-join on doc_id (the materialized signature-store shape). Ĵ
    accuracy (±1/√K) and J ≥ 0.8 recall are validated against exact 3-gram
    Jaccard in tests/test_invariants.py.
    Ref: spark_ml_features.py:1 (repo has no dedup; SURVEY §2-E E2)."""
    d = table(spark, sf_dir, "documents")
    return minhash_candidate_pairs(d)


def minhash_signatures(d: DataFrame) -> DataFrame:
    """(doc_id, s0..s15): the MinHash SIGNATURE TABLE — 128 bytes/doc
    regardless of document length. This is the materialization boundary of
    the production pipeline (the "signature store"): e33 computes it
    inline, e49 persists it to parquet and generates pairs from the stored
    copy."""
    th_df = token_hash_arrays(d)
    tok = th_df.select(
        "doc_id", F.explode(numeric_shingles(F.col("th"))).alias("x"))
    return tok.groupBy("doc_id").agg(*[
        F.min((F.lit(a) * F.col("x") + b) % MINHASH_P).alias(f"s{i}")
        for i, (a, b) in enumerate(MINHASH_AFFINE)])


def minhash_candidate_pairs(d: DataFrame) -> DataFrame:
    """e33's pipeline as a reusable builder (also feeds the e46 quality
    report): (d1, d2, n_sig_match, est_jaccard) for pairs with
    ≥ MINHASH_MIN_MATCH agreeing signatures."""
    return pairs_from_signatures(minhash_signatures(d))


def pairs_from_signatures(sig: DataFrame) -> DataFrame:
    """Banded candidate generation + exact agreement scoring from a
    signature table (inline or read back from the signature store)."""
    banded = sig.select(
        "doc_id",
        F.array(*[F.col(f"s{i}") for i in range(MINHASH_K)]).alias("sig"),
        F.posexplode(F.array(*[
            F.col(f"s{2 * i}") * F.lit(2147483648) + F.col(f"s{2 * i + 1}")
            for i in range(MINHASH_BANDS)
        ])).alias("band_id", "band_val"))
    a = banded.select(F.col("doc_id").alias("d1"), F.col("sig").alias("sig1"),
                      "band_id", "band_val")
    b = banded.select(F.col("doc_id").alias("d2"), F.col("sig").alias("sig2"),
                      "band_id", "band_val")

    # first-matching-band filter (see first_match_only): each pair emits
    # exactly once, so no distinct() pair-dedup shuffle and no signature
    # re-join — the 128-byte sig array rides along and the agreement count
    # evaluates inline on the joined row
    def band_differs(bp: int):
        return (
            (F.element_at("sig1", 2 * bp + 1)
             != F.element_at("sig2", 2 * bp + 1))
            | (F.element_at("sig1", 2 * bp + 2)
               != F.element_at("sig2", 2 * bp + 2)))

    first = F.when(F.col("band_id") == 0, F.lit(True))
    for bb in range(1, MINHASH_BANDS):
        earlier_differ = F.lit(True)
        for bp in range(bb):
            earlier_differ = earlier_differ & band_differs(bp)
        first = first.when(F.col("band_id") == bb, earlier_differ)
    first = first.otherwise(F.lit(False))

    n_match = F.aggregate(
        F.zip_with("sig1", "sig2",
                   lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0), lambda acc, v: acc + v)
    return (a.join(b, ["band_id", "band_val"])
            .filter((F.col("d1") < F.col("d2")) & first)
            .select("d1", "d2", n_match.alias("n_sig_match"))
            .filter(F.col("n_sig_match") >= MINHASH_MIN_MATCH)
            .select("d1", "d2", "n_sig_match",
                    (F.col("n_sig_match") / MINHASH_K).alias("est_jaccard")))


SIMHASH_BITS = 16


def _duckdb_simhash() -> str:
    """DuckDB fragment: 16-bit SimHash over distinct tokens of ``text``
    (token hash = rolling hash; bit b set iff Σ_tokens (2*bit_b(h)-1) > 0)."""
    from pyspark_ml_features_spark.functions.text import (
        HASH_BASE,
        HASH_MOD,
    )

    tok_hash = (
        f"list_reduce(list_prepend(0::BIGINT, "
        f"list_transform(range(1, length(t) + 1), "
        f"i -> ascii(substr(t, i, 1))::BIGINT)), "
        f"(acc, c) -> (acc * {HASH_BASE} + c) % {HASH_MOD})")
    bit_sums = " + ".join(
        f"(CASE WHEN list_sum(list_transform(hs, h -> ((h // {1 << b}) % 2) * 2 - 1)) > 0 "
        f"THEN {1 << b} ELSE 0 END)"
        for b in range(SIMHASH_BITS))
    return f"""
WITH hashed AS (
    SELECT doc_id,
           list_transform(list_distinct(str_split(text, ' ')), t -> {tok_hash}) AS hs
    FROM documents
)
SELECT doc_id, ({bit_sums})::BIGINT AS simhash
FROM hashed
"""


def simhash(df: DataFrame, text_col: str = "text",
            n_bits: int = SIMHASH_BITS) -> DataFrame:
    """SimHash document fingerprints: per-bit majority vote over the rolling
    hashes of the distinct tokens — near-identical docs land within a small
    Hamming distance. Pure integer SQL (explode → 16 conditional sums →
    bit-pack), so it is engine-exact and stays in codegen.

    At 100 TB: the fingerprint is 2 bytes/doc (here; 8 at 64 bits) and
    near-dup candidate generation joins on rotated bit-bands of the hash —
    never on document text."""
    from pyspark_ml_features_spark.functions.text import rolling_hash, tokens

    tok = df.select("doc_id", F.explode(
        F.array_distinct(tokens(text_col))).alias("t"))
    tok = tok.withColumn("h", rolling_hash(F.col("t")))
    aggs = [
        F.sum(((F.col("h") / (1 << b)).cast("bigint") % 2) * 2 - 1).alias(f"s{b}")
        for b in range(n_bits)
    ]
    per_doc = tok.groupBy("doc_id").agg(*aggs)
    packed = None
    for b in range(n_bits):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        packed = term if packed is None else packed + term
    return per_doc.select("doc_id", packed.cast("bigint").alias("simhash"))


@register(
    "t5_simhash",
    oracle=_duckdb_simhash(),
    tags=("north-star", "dedup", "text-analysis"),
)
def t5_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 16-bit SimHash fingerprint (engine-exact integers)."""
    d = table(spark, sf_dir, "documents")
    return simhash(d)


@register(
    "e2b_simhash_near_dup",
    oracle=f"""
WITH sh AS ({_duckdb_simhash().replace("FROM documents",
                                       "FROM documents WHERE doc_id % 5 = 0")})
SELECT a.doc_id AS d1, b.doc_id AS d2,
       bit_count(xor(a.simhash, b.simhash))::INT AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
""",
    tags=("north-star", "E2", "dedup"),
)
def e2b_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs: Hamming distance ≤ 6 on a deterministic
    20% sample. At scale candidates come from joining on bit-bands of the
    hash (pigeonhole: distance ≤ k ⇒ some band of ⌈bits/(k+1)⌉ matches);
    here the sample self-join computes exact Hamming via xor + bit_count."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    s = simhash(d)
    a = s.select(F.col("doc_id").alias("d1"), F.col("simhash").alias("h1"))
    b = s.select(F.col("doc_id").alias("d2"), F.col("simhash").alias("h2"))
    ham = F.bit_count(F.col("h1").bitwiseXOR(F.col("h2")))
    return (a.join(F.broadcast(b), F.col("d1") < F.col("d2"))
            .select("d1", "d2", ham.cast("int").alias("hamming"))
            .filter(F.col("hamming") <= 6))


HAM_K = 3            # e2c near-dup threshold: Hamming distance ≤ 3
N_BANDS = HAM_K + 1  # pigeonhole: ≤ k differing bits ⇒ ≥ 1 of k+1 bands equal
BAND_BITS = SIMHASH_BITS // N_BANDS


def first_match_only(h1, h2, band_id, band_bits: int, n_bands: int):
    """Predicate: this row's band is the FIRST band on which the two
    fingerprints collide. A pair within the Hamming threshold matches on
    1..n_bands bands and would otherwise be emitted once per matching band;
    keeping only the first match makes each pair appear EXACTLY once — the
    usual ``distinct()`` pair-dedup (a full shuffle of every candidate)
    becomes a stateless bit-arithmetic filter computed from columns already
    on the joined row."""
    mask = (1 << band_bits) - 1

    def band(h, b):
        return F.shiftright(h, band_bits * b).bitwiseAND(F.lit(mask))

    expr = F.when(band_id == 0, F.lit(True))
    for b in range(1, n_bands):
        earlier_differ = F.lit(True)
        for bp in range(b):
            earlier_differ = earlier_differ & (band(h1, bp) != band(h2, bp))
        expr = expr.when(band_id == b, earlier_differ)
    return expr.otherwise(F.lit(False))


@register(
    "e2c_simhash_banded",
    oracle=f"""
WITH sh AS ({_duckdb_simhash()}),
banded AS (
    SELECT doc_id, simhash, b AS band_id,
           (simhash >> ({BAND_BITS} * b)) & {(1 << BAND_BITS) - 1} AS band_val
    FROM sh, unnest(range(0, {N_BANDS})) AS t(b)
),
cand AS (
    SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
           a.simhash AS h1, b.simhash AS h2
    FROM banded a
    JOIN banded b ON a.band_id = b.band_id AND a.band_val = b.band_val
                 AND a.doc_id < b.doc_id
)
SELECT d1, d2, bit_count(xor(h1, h2))::INT AS hamming
FROM cand
WHERE bit_count(xor(h1, h2)) <= {HAM_K}
""",
    tags=("north-star", "E2", "dedup"),
)
def e2c_simhash_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs via BANDED candidate generation — the
    actual 100 TB near-dup plan, hash-verified (unlike MinHash, every step
    is engine-exact integer arithmetic): split the 16-bit fingerprint into
    4 bands of 4 bits; by pigeonhole, any pair within Hamming distance ≤ 3
    agrees on at least one whole band, so candidates come from an equi-join
    on (band_id, band_val) — never an all-pairs product — and are then
    verified with exact xor+bit_count. Runs on the FULL documents table
    (the exact-Hamming twin e2b needs its 20% sample to bound the O(n²)
    join; this one doesn't).

    16 bits is the TEACHING width: with 4-bit bands (16 values) buckets are
    huge and at fixture density ~a quarter of all pairs genuinely sit
    within Hamming 3, so output grows ~quadratically with corpus size.
    The plan is right; the width isn't — e2d runs the identical plan at
    the 64-bit deployment width."""
    d = table(spark, sf_dir, "documents")
    s = simhash(d)
    banded = s.select(
        "doc_id", "simhash",
        F.posexplode(F.array(*[
            F.shiftright(F.col("simhash"), BAND_BITS * b)
             .bitwiseAND(F.lit((1 << BAND_BITS) - 1))
            for b in range(N_BANDS)
        ])).alias("band_id", "band_val"))
    a = banded.select(F.col("doc_id").alias("d1"), F.col("simhash").alias("h1"),
                      "band_id", "band_val")
    b = banded.select(F.col("doc_id").alias("d2"), F.col("simhash").alias("h2"),
                      "band_id", "band_val")
    # No distinct(): the first-matching-band predicate emits each pair
    # exactly once, turning the pair-dedup (a full shuffle of every
    # candidate — millions at this geometry) into a stateless bit filter.
    # The quadratic OUTPUT volume remains a property of the 16-bit
    # teaching width — see e2d for the identical plan at 64 bits.
    ham = F.bit_count(F.col("h1").bitwiseXOR(F.col("h2")))
    return (a.join(b, ["band_id", "band_val"])
            .filter((F.col("d1") < F.col("d2"))
                    & first_match_only(F.col("h1"), F.col("h2"),
                                       F.col("band_id"), BAND_BITS, N_BANDS))
            .select("d1", "d2", ham.cast("int").alias("hamming"))
            .filter(F.col("hamming") <= HAM_K))


# 64-bit SimHash — the deployment geometry DESIGN_SCALE.md describes: four
# pairwise-independent 16-bit simhashes concatenated into one BIGINT
# fingerprint, banded at width 16. Banding the fingerprint is then
# literally an equi-join on one of the four sub-hashes. The sub-hash
# families come from ONE rolling-hash character fold (the expensive O(len)
# part) followed by four affine maps h_k = (a_k·h + b_k) mod p over the
# prime field — pairwise independent and ~free, vs 4× the fold cost when
# each family re-hashed the characters (measured 3× slower at sf0.1).
SIMHASH64_AFFINE = ((1, 0), (16807, 12345), (48271, 98765), (69621, 54321))
BAND_BITS_64 = 16


def _duckdb_simhash64() -> str:
    """DuckDB twin of :func:`simhash64` (same fold, same affine maps, same
    packing)."""
    from pyspark_ml_features_spark.functions.text import (
        HASH_MOD,
        duckdb_rolling_hash,
    )

    hash_cols = ", ".join(
        f"(({a} * h + {b}) % {HASH_MOD}) AS h{k}"
        for k, (a, b) in enumerate(SIMHASH64_AFFINE))
    sum_cols = ", ".join(
        f"sum(((h{k} >> {b}) & 1) * 2 - 1) AS s{k}_{b}"
        for k in range(4) for b in range(BAND_BITS_64))
    sub_cols = ", ".join(
        "(" + " + ".join(
            f"(CASE WHEN s{k}_{b} > 0 THEN {1 << b} ELSE 0 END)"
            for b in range(BAND_BITS_64)) + f")::BIGINT AS sh{k}"
        for k in range(4))
    return f"""
WITH toks AS (
    SELECT doc_id, unnest(list_distinct(str_split(text, ' '))) AS t
    FROM documents
), base_hash AS (
    SELECT doc_id, {duckdb_rolling_hash('t')} AS h FROM toks
), hashed AS (
    SELECT doc_id, {hash_cols} FROM base_hash
), sums AS (
    SELECT doc_id, {sum_cols} FROM hashed GROUP BY doc_id
), subs AS (
    SELECT doc_id, {sub_cols} FROM sums
)
SELECT doc_id,
       (sh0 + sh1 * 65536 + sh2 * 4294967296
        + (CASE WHEN sh3 >= 32768 THEN sh3 - 65536 ELSE sh3 END)
          * 281474976710656)::BIGINT AS simhash
FROM subs
"""


def simhash64(df: DataFrame, text_col: str = "text") -> DataFrame:
    """64-bit SimHash fingerprints: four pairwise-independent 16-bit
    simhashes packed into one BIGINT. One rolling-hash fold per token, then
    affine maps (a_k·h + b_k) mod (2^31-1) give the four families. The top
    sub-hash is packed as SIGNED 16-bit — sh3 ≥ 2^15 needs bit 63, and a
    left shift into the sign bit overflows in DuckDB — so
    ``(sh3 - 65536) * 2^48`` is the equivalent two's-complement
    construction, exact in both engines.

    At 100 TB this is the production fingerprint width: 8 bytes/doc, and
    near-dup candidate generation joins on 16-bit bands of the hash — never
    on document text."""
    from pyspark_ml_features_spark.functions.text import (
        HASH_MOD,
        rolling_hash,
        tokens,
    )

    # fan_out REVERTED here (r14): the r13 exchange made e2d 1.5× slower
    # on both driver channels (2.88 s @32c, 2.87 s @8c vs r12's 1.93 s,
    # core-insensitive) — exactly the pre-registered revert criterion.
    # The 64 partial aggregates are map-side-combinable, so the groupBy
    # exchange right above already caps the serial window at the partial
    # agg, and the added repartition only delayed it (VERDICT r13 item 2).
    tok = (df
           .select("doc_id", F.explode(
               F.array_distinct(tokens(text_col))).alias("t"))
           .withColumn("h", rolling_hash(F.col("t"))))
    for k, (a, b) in enumerate(SIMHASH64_AFFINE):
        tok = tok.withColumn(f"h{k}", (F.lit(a) * F.col("h") + b) % HASH_MOD)
    aggs = [
        F.sum(F.shiftright(F.col(f"h{k}"), b).bitwiseAND(F.lit(1)) * 2 - 1)
         .alias(f"s{k}_{b}")
        for k in range(4) for b in range(BAND_BITS_64)
    ]
    per_doc = tok.groupBy("doc_id").agg(*aggs)

    def sub(k: int):
        packed = None
        for b in range(BAND_BITS_64):
            term = (F.when(F.col(f"s{k}_{b}") > 0, F.lit(1 << b))
                    .otherwise(F.lit(0)))
            packed = term if packed is None else packed + term
        return packed.cast("bigint")

    sh3 = sub(3)
    sh64 = (sub(0) + sub(1) * F.lit(65536) + sub(2) * F.lit(4294967296)
            + F.when(sh3 >= 32768, sh3 - 65536).otherwise(sh3)
            * F.lit(281474976710656))
    return per_doc.select("doc_id", sh64.cast("bigint").alias("simhash"))


@register(
    "e2d_simhash64_banded",
    oracle=f"""
WITH sh AS ({_duckdb_simhash64()}),
banded AS (
    SELECT doc_id, simhash, b AS band_id,
           (simhash >> ({BAND_BITS_64} * b)) & 65535 AS band_val
    FROM sh, unnest(range(0, {N_BANDS})) AS t(b)
),
cand AS (
    SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
           a.simhash AS h1, b.simhash AS h2
    FROM banded a
    JOIN banded b ON a.band_id = b.band_id AND a.band_val = b.band_val
                 AND a.doc_id < b.doc_id
)
SELECT d1, d2, bit_count(xor(h1, h2))::INT AS hamming
FROM cand
WHERE bit_count(xor(h1, h2)) <= {HAM_K}
""",
    tags=("north-star", "E2", "dedup"),
)
def e2d_simhash64_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """e2c at production fingerprint width: 64-bit SimHash, 4 bands of 16
    bits, Hamming ≤ 3 (pigeonhole: ≤ 3 differing bits ⇒ ≥ 1 of 4 bands
    equal). Same banded candidate-join plan as e2c — equi-join on
    (band_id, band_val), exact xor + bit_count verify, full corpus, never
    all-pairs — but at 64 bits band values have 2^16 range, so bucket
    sizes (and the candidate count) shrink by orders of magnitude vs the
    16-bit teaching geometry. Band extraction ``(h >> 16b) & 65535`` is
    sign-safe: the mask keeps only the 16 original bits, so arithmetic vs
    logical shift of the (possibly negative) fingerprint is irrelevant.
    Ref: README near-dedup discussion; geometry per DESIGN_SCALE.md."""
    d = table(spark, sf_dir, "documents")
    s = simhash64(d)
    banded = s.select(
        "doc_id", "simhash",
        F.posexplode(F.array(*[
            F.shiftright(F.col("simhash"), BAND_BITS_64 * b)
             .bitwiseAND(F.lit(65535))
            for b in range(N_BANDS)
        ])).alias("band_id", "band_val"))
    a = banded.select(F.col("doc_id").alias("d1"),
                      F.col("simhash").alias("h1"), "band_id", "band_val")
    b = banded.select(F.col("doc_id").alias("d2"),
                      F.col("simhash").alias("h2"), "band_id", "band_val")
    # first-matching-band filter instead of distinct() (see e2c) — this and
    # the single-fold affine sub-hashes took e2d from 5.1 s to 2.5 s at
    # sf0.1, on ~10× fewer output rows than the 16-bit e2c (itself
    # 8.9 → 3.6 s from dropping its pair-dedup shuffle)
    ham = F.bit_count(F.col("h1").bitwiseXOR(F.col("h2")))
    return (a.join(b, ["band_id", "band_val"])
            .filter((F.col("d1") < F.col("d2"))
                    & first_match_only(F.col("h1"), F.col("h2"),
                                       F.col("band_id"), BAND_BITS_64,
                                       N_BANDS))
            .select("d1", "d2", ham.cast("int").alias("hamming"))
            .filter(F.col("hamming") <= HAM_K))


@register(
    "e1b_incremental_dedup",
    oracle="""
WITH corpus AS (
    SELECT lower(trim(text)) AS norm_text FROM documents WHERE doc_id < 250
), incoming AS (
    SELECT doc_id, lower(trim(text)) AS norm_text
    FROM documents WHERE doc_id >= 250
), first_in_batch AS (
    SELECT doc_id, norm_text,
           row_number() OVER (PARTITION BY norm_text ORDER BY doc_id ASC) AS rn
    FROM incoming
)
SELECT f.doc_id, f.norm_text
FROM first_in_batch f
WHERE f.rn = 1
  AND NOT EXISTS (SELECT 1 FROM corpus c WHERE c.norm_text = f.norm_text)
""",
    tags=("north-star", "E1", "dedup", "incremental"),
)
def e1b_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the production shape of E1: an incoming batch is
    deduped within itself (keep first doc per normalized text) and against
    the existing corpus (anti join on the normalized key). At 100 TB the
    corpus side is just its fingerprint column (8-byte keys), partitioned by
    key range so each incremental batch touches only matching partitions.
    Fixture: corpus = doc_id < 250, incoming = doc_id >= 250."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    norm = F.lower(F.trim(F.col("text"))).alias("norm_text")
    corpus = d.filter(F.col("doc_id") < 250).select(norm)
    incoming = d.filter(F.col("doc_id") >= 250).select("doc_id", norm)
    w = Window.partitionBy("norm_text").orderBy(F.asc("doc_id"))
    first = (incoming.withColumn("rn", F.row_number().over(w))
             .filter(F.col("rn") == 1).drop("rn"))
    return first.join(corpus, "norm_text", "left_anti").select(
        "doc_id", "norm_text")


@register(
    "e21_dedup_clusters",
    oracle="""
WITH RECURSIVE sub AS (
    SELECT doc_id, list_distinct(str_split(text, ' ')) AS sh
    FROM documents WHERE doc_id % 5 = 0
), sizes AS (
    SELECT doc_id, len(sh) AS n_sh FROM sub
), inv AS (
    SELECT doc_id, unnest(sh) AS shingle FROM sub
), shared AS (
    SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared
    FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
), edges AS (
    SELECT d1, d2 FROM shared
    JOIN sizes sa ON d1 = sa.doc_id
    JOIN sizes sb ON d2 = sb.doc_id
    WHERE shared::DOUBLE / (sa.n_sh + sb.n_sh - shared) >= 0.8
), sym AS (
    SELECT d1 AS a, d2 AS b FROM edges
    UNION ALL SELECT d2, d1 FROM edges
), reach AS (
    SELECT doc_id AS node, doc_id AS r FROM sub
    UNION
    SELECT reach.node, sym.b FROM reach JOIN sym ON reach.r = sym.a
)
SELECT node AS doc_id,
       min(r) AS cluster_id,
       (node = min(r)) AS is_kept
FROM reach GROUP BY node
""",
    tags=("north-star", "dedup", "clustering", "iterative"),
)
def e21_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components over the J ≥ 0.8
    similarity graph via iterative min-label propagation (the step that
    turns pairwise dedup output into keep/drop decisions — one canonical
    survivor per component). The oracle is a recursive-CTE transitive
    closure: both converge to cluster_id = min reachable doc_id.

    Scale shape: each iteration is ONE Spark job — the propagation join is
    materialized by an eager localCheckpoint whose plan carries an
    ``observe()`` metric counting changed labels, so convergence costs no
    extra join/count job (round-1 ADVICE ran 2 jobs/round). Labels are
    localCheckpoint'd each round to truncate lineage — the standard
    large-graph CC pattern when a graph library isn't available. Raises if
    the component diameter exceeds the round budget instead of silently
    returning unconverged labels."""
    from pyspark.sql import Observation

    max_rounds = 50
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    edges = (jaccard_pairs(d, tokens("text"), threshold=0.8)
             .select("d1", "d2").cache())
    sym = (edges.select(F.col("d1").alias("node"), F.col("d2").alias("nbr"))
           .unionAll(edges.select(F.col("d2").alias("node"),
                                  F.col("d1").alias("nbr"))))
    labels = d.select("doc_id", F.col("doc_id").alias("cluster_id")).cache()
    changed = None
    for _ in range(max_rounds):
        nbr_min = (sym.join(labels, sym.nbr == labels.doc_id)
                   .groupBy("node").agg(F.min("cluster_id").alias("nbr_min")))
        obs = Observation()
        new_labels = (
            labels.join(nbr_min, labels.doc_id == nbr_min.node, "left")
            .select(labels.doc_id,
                    F.least("cluster_id", "nbr_min").alias("cluster_id"),
                    (F.col("nbr_min") < F.col("cluster_id")).alias("__chg"))
            .observe(obs, F.sum(F.col("__chg").cast("int")).alias("n_changed")))
        # eager: the one job per round (probe_checkpoint exposes the
        # pre-truncation round plan to the registry-wide audit)
        new_labels = probe_checkpoint(
            new_labels, "e21_dedup_clusters.round").drop("__chg")
        changed = obs.get["n_changed"] or 0
        labels.unpersist()
        labels = new_labels.cache()
        if changed == 0:
            break
    edges.unpersist()
    if changed != 0:
        raise RuntimeError(
            f"e21_dedup_clusters did not converge in {max_rounds} rounds")
    return labels.select(
        "doc_id", "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_kept"))


@register(
    "e27_decontaminate",
    oracle="""
WITH tok AS (
    SELECT doc_id, str_split(text, ' ') AS t FROM documents
), g AS (
    SELECT doc_id,
           list_distinct(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
                         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
    FROM tok
), ev AS (
    SELECT list_distinct(flatten(list(sh))) AS esh
    FROM g WHERE doc_id % 97 = 0
)
SELECT g.doc_id,
       len(list_distinct(list_intersect(g.sh, ev.esh)))::BIGINT AS n_overlap,
       len(list_distinct(list_intersect(g.sh, ev.esh))) > 0 AS contaminated
FROM g, ev
WHERE g.doc_id % 97 <> 0
""",
    tags=("north-star", "dedup", "decontamination"),
)
def e27_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any word
    3-gram with a held-out eval set (deterministic ``doc_id % 97`` split —
    the stand-in for a benchmark suite). Real pipelines use 13-grams; this
    fixture's ~100-token docs make 3 the informative length.

    100 TB shape: eval-set shingles are tiny (benchmarks are MBs), so the
    distinct-shingle side is BROADCAST; each corpus document explodes its
    shingles map-side and the broadcast hash join filters non-matching
    shingles immediately — only the (rare) matching rows ever shuffle, into
    the per-document overlap count. The corpus itself is never shuffled,
    and no single row holds the whole eval shingle set (a prior design
    `collect_list`-ed it into one array row — correct but bounded by
    Spark's 2 GB row limit; this join shape is not)."""
    # Token array materialized before the gram lambda (word_ngrams'
    # quadratic-re-evaluation rule; the n<3 guard lives in word_ngrams).
    d = (table(spark, sf_dir, "documents")
         .select("doc_id", tokens("text").alias("__toks")))
    docs = d.select(
        "doc_id", F.array_distinct(word_ngrams("__toks", 3)).alias("sh"))
    eval_sh = (docs.filter(F.col("doc_id") % 97 == 0)
               .select(F.explode("sh").alias("s")).distinct())
    train = docs.filter(F.col("doc_id") % 97 != 0)
    # sh is already per-doc distinct, so count(*) == count of overlapping
    # distinct shingles after the broadcast join.
    overlaps = (train.select("doc_id", F.explode("sh").alias("s"))
                .join(F.broadcast(eval_sh), "s")
                .groupBy("doc_id")
                .agg(F.count("*").alias("n_overlap")))
    return (train.select("doc_id")
            .join(overlaps, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_overlap", F.lit(0)).cast("bigint")
                     .alias("n_overlap"),
                    (F.coalesce("n_overlap", F.lit(0)) > 0)
                     .alias("contaminated")))


LINE_WORDS = 8  # C4-style "line" granularity on the flat-text fixture


@register(
    "e31_line_dedup",
    oracle=f"""
WITH t AS (
    SELECT doc_id, str_split(text, ' ') AS tok FROM documents
), c AS (
    SELECT doc_id, i AS line_id,
           array_to_string(list_slice(tok, i * {LINE_WORDS} + 1,
                                      i * {LINE_WORDS} + {LINE_WORDS}),
                           ' ') AS line
    FROM t, unnest(range(0, (len(tok) - 1) // {LINE_WORDS} + 1)) AS u(i)
    WHERE len(tok) > 0
), r AS (
    SELECT doc_id,
           row_number() OVER (PARTITION BY line
                              ORDER BY doc_id, line_id) AS rn
    FROM c
)
SELECT doc_id, count(*) AS n_lines,
       sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::BIGINT AS n_kept
FROM r GROUP BY doc_id
""",
    tags=("north-star", "E1", "dedup", "curation"),
)
def e31_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLOBAL line-level dedup (the C4/mC4 curation step): every document
    is split into fixed 8-word lines (LINE_WORDS) (this fixture's flat text
    has no newlines) and each distinct line survives only at its globally
    FIRST occurrence — ordered by (doc_id, line_id) — all later copies are
    dropped. Output is the per-document retention ledger (n_lines,
    n_kept); ~5% of this fixture's line occurrences are cross-document
    duplicates.

    100 TB shape: first-occurrence selection is groupBy(line) →
    min(struct(doc_id, line_id)) — map-side partial combine shrinks each
    partition to its distinct lines before ONE shuffle on the line key,
    and the join back rides the same partitioning (no second exchange
    under AQE). At deployment scale the group/join key becomes
    xxhash64(line) (8 bytes crossing the wire, not text); the text key
    here keeps the oracle collision-free by construction. The oracle
    states the same semantics as a window rank — proving the
    aggregate+join rewrite IS first-occurrence-keep."""
    # fan_out: the line build (tokenize + per-line slice/concat, consumed
    # by BOTH the first-occurrence aggregate and the join-back lineage)
    # otherwise runs twice on one task over the unsplittable scan.
    d = fan_out(table(spark, sf_dir, "documents"), "doc_id")
    t = tokens("text")
    n_lines = (F.floor((F.size(t) - 1) / LINE_WORDS) + 1).cast("int")
    lines = F.transform(
        F.sequence(F.lit(0), n_lines - 1),
        lambda i: F.concat_ws(" ", F.slice(t, i * LINE_WORDS + 1,
                                           LINE_WORDS)))
    exploded = (d.filter(F.size(t) > 0)
                .select("doc_id", F.posexplode(lines)
                        .alias("line_id", "line")))
    first = exploded.groupBy("line").agg(
        F.min(F.struct(F.col("doc_id"), F.col("line_id"))).alias("f"))
    kept = ((F.col("doc_id") == F.col("f.doc_id"))
            & (F.col("line_id") == F.col("f.line_id")))
    return (exploded.join(first, "line")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_lines"),
                 F.sum(kept.cast("int")).cast("bigint").alias("n_kept")))


@register(
    "e32_incremental_near_dedup",
    oracle=f"""
WITH sh AS ({_duckdb_simhash()}),
banded AS (
    SELECT doc_id, simhash, b AS band_id,
           (simhash >> ({BAND_BITS} * b)) & {(1 << BAND_BITS) - 1} AS band_val
    FROM sh, unnest(range(0, {N_BANDS})) AS t(b)
),
cand AS (
    SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id,
           n.simhash AS h1, c.simhash AS h2
    FROM banded n
    JOIN banded c ON n.band_id = c.band_id AND n.band_val = c.band_val
    WHERE n.doc_id % 5 = 0 AND c.doc_id % 5 <> 0
)
SELECT new_id AS doc_id,
       count(*) AS n_corpus_matches,
       min(bit_count(xor(h1, h2)))::INT AS min_hamming
FROM cand
WHERE bit_count(xor(h1, h2)) <= {HAM_K}
GROUP BY new_id
""",
    tags=("north-star", "E2", "dedup"),
)
def e32_incremental_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dedup — the daily-ingest production path that e1b
    (incremental exact) and e2c (full-corpus banded) compose into: an
    arriving batch (doc_id % 5 = 0, 20%) is checked for near-duplicates
    against the existing corpus (the other 80%) via the banded-simhash
    candidate join, WITHOUT ever generating corpus-internal pairs. Output:
    each batch document that near-matches the corpus, with its match count
    and closest Hamming distance — all integer arithmetic, exact oracle.

    100 TB shape: the corpus's (band_id, band_val, simhash) table is a
    materialized artifact (bucketed by band key in deployment) built once
    and appended to; each ingest batch computes only its OWN bands and
    hash-joins them against the bucketed corpus bands — candidates scale
    with band collisions of the BATCH, corpus pairs are never touched.
    This is what keeps continuous dedup O(batch), not O(corpus)."""
    d = table(spark, sf_dir, "documents")
    s = simhash(d)

    def banded(df: DataFrame, id_alias: str, h_alias: str) -> DataFrame:
        return df.select(
            F.col("doc_id").alias(id_alias),
            F.col("simhash").alias(h_alias),
            F.posexplode(F.array(*[
                F.shiftright(F.col("simhash"), BAND_BITS * b)
                 .bitwiseAND(F.lit((1 << BAND_BITS) - 1))
                for b in range(N_BANDS)
            ])).alias("band_id", "band_val"))

    newb = banded(s.filter(F.col("doc_id") % 5 == 0), "new_id", "h1")
    corpb = banded(s.filter(F.col("doc_id") % 5 != 0), "corpus_id", "h2")
    # first-matching-band filter instead of distinct() (see e2c): each
    # (batch, corpus) pair reaches the per-doc aggregate exactly once
    ham = F.bit_count(F.col("h1").bitwiseXOR(F.col("h2")))
    return (newb.join(corpb, ["band_id", "band_val"])
            .filter(first_match_only(F.col("h1"), F.col("h2"),
                                     F.col("band_id"), BAND_BITS, N_BANDS))
            .select("new_id", "corpus_id", ham.cast("int").alias("hamming"))
            .filter(F.col("hamming") <= HAM_K)
            .groupBy(F.col("new_id").alias("doc_id"))
            .agg(F.count(F.lit(1)).alias("n_corpus_matches"),
                 F.min("hamming").alias("min_hamming")))


@register(
    "e34_quality_dedup",
    oracle="""
WITH scored AS (
    SELECT doc_id, lower(trim(text)) AS norm_text, n_chars,
           count(*) OVER (PARTITION BY lower(trim(text))) AS n_copies,
           row_number() OVER (PARTITION BY lower(trim(text))
                              ORDER BY n_chars DESC, doc_id ASC) AS rk
    FROM documents
)
SELECT norm_text, doc_id AS kept_doc_id, n_chars AS kept_n_chars,
       CAST(n_copies AS BIGINT) AS n_copies
FROM scored WHERE rk = 1
""",
    tags=("north-star", "E1", "dedup", "quality"),
)
def e34_quality_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware exact dedup: among exact duplicates keep the BEST copy
    (longest, ties to lowest doc_id) — production pipelines keep the
    highest-quality version of a duplicated page, not an arbitrary one
    (e1 keeps min doc_id). One hash aggregate via the struct-max trick:
    max(struct(n_chars, -doc_id)) picks argmax with the tie-break in a
    single map-side-combinable pass — no window, no second shuffle. The
    oracle states the same semantics as a window rank, proving the
    aggregate ≡ rank formulation.

    100 TB: identical shuffle shape to e1 (one groupBy on the text key —
    or its 8-byte fingerprint to avoid shuffling text); the struct payload
    adds 16 bytes/row over e1."""
    d = table(spark, sf_dir, "documents")
    norm = F.lower(F.trim(F.col("text")))
    best = F.max(F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("neg")))
    return (d.groupBy(norm.alias("norm_text"))
            .agg(best.alias("best"),
                 F.count(F.lit(1)).alias("n_copies"))
            .select("norm_text",
                    (-F.col("best.neg")).alias("kept_doc_id"),
                    F.col("best.n_chars").alias("kept_n_chars"),
                    "n_copies"))


@register(
    "e35_near_dup_by_source",
    oracle=f"""
WITH sh AS ({_duckdb_simhash64()}),
banded AS (
    SELECT doc_id, simhash, b AS band_id,
           (simhash >> ({BAND_BITS_64} * b)) & 65535 AS band_val
    FROM sh, unnest(range(0, {N_BANDS})) AS t(b)
),
pairs AS (
    SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
    FROM banded a
    JOIN banded b ON a.band_id = b.band_id AND a.band_val = b.band_val
                 AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAM_K}
)
SELECT least(da.source, db.source) AS source_a,
       greatest(da.source, db.source) AS source_b,
       count(*) AS n_pairs
FROM pairs
JOIN documents da ON da.doc_id = d1
JOIN documents db ON db.doc_id = d2
GROUP BY 1, 2
""",
    tags=("north-star", "E2", "dedup", "reporting"),
)
def e35_near_dup_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate contamination REPORT: e2d's banded 64-bit pipeline
    rolled up by (source, source) pair — the question a curation team
    actually asks ('how much does crawl A duplicate crawl B?'). The pair
    stream joins the documents dimension twice on doc_id and aggregates;
    source pairs are order-normalized (least/greatest) so (A,B) and (B,A)
    count together. At 100 TB the doc_id→source lookup is a broadcast (or
    bucketed) dimension join against the near-dup pair stream, which is
    already ∝ true duplicates — the report costs a rounding error on top
    of the dedup itself. No broadcast HINT on the doc_id→source lookup:
    its cardinality is the corpus (the e8-vocab lesson from VERDICT r2 —
    a hint pins driver memory at any scale); AQE broadcasts it at small SF
    from the runtime size and falls back to a shuffle join beyond."""
    d = table(spark, sf_dir, "documents")
    pairs = e2d_simhash64_banded(spark, sf_dir).select("d1", "d2")
    da = d.select(F.col("doc_id").alias("d1"), F.col("source").alias("sa"))
    db = d.select(F.col("doc_id").alias("d2"), F.col("source").alias("sb"))
    return (pairs.join(da, "d1").join(db, "d2")
            .select(F.least("sa", "sb").alias("source_a"),
                    F.greatest("sa", "sb").alias("source_b"))
            .groupBy("source_a", "source_b")
            .agg(F.count(F.lit(1)).alias("n_pairs")))


@register(
    "e36_fingerprint_dedup",
    oracle=f"""
WITH n AS (
    SELECT doc_id, lower(trim(text)) AS nt FROM documents
), h AS (
    SELECT doc_id,
           {{h1}} AS fp,
           {{h2}} AS fp2
    FROM n
)
SELECT fp,
       min(doc_id) AS kept_doc_id,
       count(*) AS n_copies,
       count(DISTINCT fp2) AS n_distinct_fp2
FROM h GROUP BY fp
""".format(
        h1="list_reduce(list_prepend(0::BIGINT, list_transform(range(1, length(nt) + 1), i -> ascii(substr(nt, i, 1))::BIGINT)), (acc, c) -> (acc * 31 + c) % 2147483647)",
        h2="list_reduce(list_prepend(0::BIGINT, list_transform(range(1, length(nt) + 1), i -> ascii(substr(nt, i, 1))::BIGINT)), (acc, c) -> (acc * 37 + c) % 2147483647)",
    ),
    tags=("north-star", "E1", "dedup", "fingerprint"),
)
def e36_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keyed on the 8-byte FINGERPRINT instead of the text —
    the shape e1's scale note promises: the shuffle carries (hash, doc_id)
    pairs, never document bodies, so shuffle volume is rows × 16 bytes
    regardless of document length. Collision safety is explicit: a second
    independent rolling hash (base 37) rides along and
    ``n_distinct_fp2 > 1`` marks a primary-hash collision (probability
    ~n²/2^62 for the pair to collide in BOTH); production pipelines route
    flagged groups to a text-compare fallback. Oracle mirrors both hash
    folds, so the whole collision-detection machinery is hash-verified."""
    from pyspark_ml_features_spark.functions.text import rolling_hash

    d = table(spark, sf_dir, "documents")
    nt = F.lower(F.trim(F.col("text")))
    h = d.select("doc_id",
                 rolling_hash(nt).alias("fp"),
                 rolling_hash(nt, base=37).alias("fp2"))
    return (h.groupBy("fp")
            .agg(F.min("doc_id").alias("kept_doc_id"),
                 F.count(F.lit(1)).alias("n_copies"),
                 F.count_distinct("fp2").alias("n_distinct_fp2")))


@register(
    "e39_overlap_pairs",
    oracle="""
WITH sub AS (
    SELECT doc_id, list_distinct(str_split(text, ' ')) AS sh
    FROM documents WHERE doc_id % 5 = 0
), sizes AS (
    SELECT doc_id, len(sh) AS n_sh FROM sub
), inv AS (
    SELECT doc_id, unnest(sh) AS shingle FROM sub
), shared AS (
    SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared
    FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT d1, d2,
       CAST(shared AS BIGINT) AS shared,
       shared::DOUBLE / least(sa.n_sh, sb.n_sh) AS overlap
FROM shared
JOIN sizes sa ON d1 = sa.doc_id
JOIN sizes sb ON d2 = sb.doc_id
WHERE shared::DOUBLE / least(sa.n_sh, sb.n_sh) >= 0.9
""",
    tags=("north-star", "E3", "dedup", "containment"),
)
def e39_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTAINMENT near-duplicates via the overlap coefficient
    |A∩B| / min(|A|, |B|) ≥ 0.9 — catches subset/superset relationships
    (a doc embedded inside a longer one) that Jaccard dilutes below its
    threshold: J = 0.33 for a doc fully contained in one 3× its size, but
    overlap = 1.0. Same inverted-index candidate generation as e3 (pairs
    only materialize when they share a token), integer intersection
    counts, one double division.

    100 TB: identical scaling argument to e3 — candidate-bounded, and the
    production path replaces unigram postings with banded MinHash
    (e33) before the pair join."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    shingled = d.select("doc_id", F.array_distinct(tokens("text")).alias("sh"))
    sizes = shingled.select("doc_id", F.size("sh").alias("n_sh"))
    inv = shingled.select("doc_id", F.explode("sh").alias("shingle"))
    a, b = inv.alias("a"), inv.alias("b")
    shared = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count(F.lit(1)).alias("shared")))
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    overlap = (F.col("shared").cast("double")
               / F.least(F.col("sa.n_sh"), F.col("sb.n_sh")))
    return (shared  # per-doc size join-back: no hint (e8-vocab rule)
            .join(sa, F.col("d1") == F.col("sa.doc_id"))
            .join(sb, F.col("d2") == F.col("sb.doc_id"))
            .select("d1", "d2", F.col("shared").cast("bigint").alias("shared"),
                    overlap.alias("overlap"))
            .filter(F.col("overlap") >= 0.9))


@register(
    "e40_nearest_doc_topk",
    oracle="""
WITH sub AS (
    SELECT doc_id, list_distinct(str_split(text, ' ')) AS sh
    FROM documents WHERE doc_id % 5 = 0
), sizes AS (
    SELECT doc_id, len(sh) AS n_sh FROM sub
), inv AS (
    SELECT doc_id, unnest(sh) AS shingle FROM sub
), shared AS (
    SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared
    FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
), pairs AS (
    SELECT d1, d2,
           shared::DOUBLE / (sa.n_sh + sb.n_sh - shared) AS jaccard
    FROM shared
    JOIN sizes sa ON d1 = sa.doc_id
    JOIN sizes sb ON d2 = sb.doc_id
    WHERE shared::DOUBLE / (sa.n_sh + sb.n_sh - shared) >= 0.5
), sym AS (
    SELECT d1 AS doc_id, d2 AS neighbor_id, jaccard FROM pairs
    UNION ALL
    SELECT d2 AS doc_id, d1 AS neighbor_id, jaccard FROM pairs
)
SELECT doc_id, neighbor_id, jaccard, rk
FROM (SELECT doc_id, neighbor_id, jaccard,
             CAST(row_number() OVER (PARTITION BY doc_id
                                     ORDER BY jaccard DESC, neighbor_id ASC)
                  AS BIGINT) AS rk
      FROM sym)
WHERE rk <= 3
""",
    tags=("north-star", "E4", "dedup", "topk"),
)
def e40_nearest_doc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document TOP-3 nearest neighbors by exact token Jaccard — the
    text-side analogue of e4's embedding k-NN, composed from e3's
    candidate-bounded pair generator: undirected J ≥ 0.5 pairs are
    symmetrized (each pair serves both endpoints) and ranked per doc with
    a (similarity, id) tie-break. This is the 'find the canonical copy /
    closest variant' query curation pipelines run after dedup flags a
    cluster.

    100 TB: pair volume is the near-dup set (candidate-bounded, see e3);
    the symmetrize is a map-side union and the rank window shuffles only
    pairs, never the corpus."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    pairs = jaccard_pairs(d, tokens("text"), threshold=0.5)
    sym = (pairs.select(F.col("d1").alias("doc_id"),
                        F.col("d2").alias("neighbor_id"), "jaccard")
           .unionByName(
               pairs.select(F.col("d2").alias("doc_id"),
                            F.col("d1").alias("neighbor_id"), "jaccard")))
    w = Window.partitionBy("doc_id").orderBy(F.desc("jaccard"),
                                             F.asc("neighbor_id"))
    return (sym.withColumn("rk", F.row_number().over(w).cast("bigint"))
            .filter(F.col("rk") <= 3))


@register(
    "e42_dup_cluster_stats",
    oracle="""
WITH clusters AS (
    SELECT lower(trim(text)) AS k, count(*) AS sz
    FROM documents GROUP BY 1
)
SELECT CAST(sz AS BIGINT) AS cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sz * count(*) AS BIGINT) AS n_docs
FROM clusters GROUP BY sz
""",
    tags=("north-star", "E1", "dedup", "reporting"),
)
def e42_dup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster SIZE DISTRIBUTION — the dedup health report
    (how much of the corpus is unique vs 2-copies vs boilerplate blobs):
    a count-of-counts over e1's normalized-text clusters. The curation
    decision this feeds: cluster_size 1-2 is normal, a heavy tail means
    boilerplate to strip before training.

    100 TB: two cascaded aggregates — the first is e1's hash-groupBy (in
    production keyed on the 8-byte fingerprint, e36), the second groups
    |clusters| rows by an integer; output is O(max cluster size) rows."""
    d = table(spark, sf_dir, "documents")
    clusters = (d.groupBy(F.lower(F.trim(F.col("text"))).alias("k"))
                .agg(F.count(F.lit(1)).alias("sz")))
    return (clusters.groupBy(F.col("sz").cast("bigint").alias("cluster_size"))
            .agg(F.count(F.lit(1)).alias("n_clusters"),
                 (F.first("sz") * F.count(F.lit(1))).cast("bigint")
                 .alias("n_docs")))


@register(
    "e44_sha_content_dedup",
    oracle="""
SELECT sha256(lower(trim(text))) AS content_key,
       min(doc_id) AS kept_doc_id,
       CAST(count(*) AS BIGINT) AS n_copies,
       min(md5(lower(trim(text)))) AS md5_key
FROM documents
GROUP BY sha256(lower(trim(text)))
""",
    tags=("north-star", "E1", "dedup", "content-hash"),
)
def e44_sha_content_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTENT-ADDRESSED exact dedup: the e1/e36 hash-groupBy keyed on
    sha256 of the normalized text — the collision-proof production key
    (2^-128 birthday bound vs e36's 2^-62 double-rolling-hash, at the
    cost of 32 bytes/row instead of 16). Both engines emit identical
    lowercase hex, so the whole content-addressing scheme is
    hash-verified; md5 rides along as the legacy-store compatibility key.

    100 TB: identical scaling to e1 — one shuffle keyed on the digest
    with map-side combine; the digest also serves as the stable
    cross-system document id (the content-addressable-store pattern),
    which is why production curation pipelines key everything on it."""
    d = table(spark, sf_dir, "documents")
    nt = F.lower(F.trim(F.col("text")))
    return (d.select("doc_id", F.sha2(nt, 256).alias("content_key"),
                     F.md5(nt).alias("md5"))
            .groupBy("content_key")
            .agg(F.min("doc_id").alias("kept_doc_id"),
                 F.count(F.lit(1)).alias("n_copies"),
                 F.min("md5").alias("md5_key")))


@register(
    "e49_signature_store_pairs",
    oracle=_duckdb_minhash_banded(),
    tags=("north-star", "E2", "dedup", "sink", "signature-store"),
)
def e49_signature_store_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATERIALIZED signature store: e33's MinHash signature table is
    persisted to parquet (128 bytes/doc) and candidate pairs are generated
    from the STORED copy — proving the materialization boundary is
    lossless (same oracle as e33, so the driver hash-checks
    store-then-join ≡ compute-then-join). This is how production dedup
    amortizes signatures: compute once per ingest, re-band/re-join many
    times (threshold sweeps, incremental batches like e32/e47) without
    touching document text.

    100 TB: the store is ~0.1% the corpus size; pair generation reads ONLY
    the store — document bodies never enter the join pipeline."""
    from pyspark_ml_features_spark.tmp_artifacts import pid_scoped

    d = table(spark, sf_dir, "documents")
    store = pid_scoped("pmfs_minhash_store")
    minhash_signatures(d).write.mode("overwrite").parquet(store)
    return pairs_from_signatures(spark.read.parquet(store))


@register(
    "e63_sorted_neighborhood",
    oracle="""
WITH sub AS (
    SELECT doc_id, text, list_distinct(str_split(text, ' ')) AS sh
    FROM documents WHERE doc_id % 5 = 0
), ranked AS (
    SELECT doc_id, sh,
           CAST(row_number() OVER (ORDER BY substr(text, 1, 24), doc_id)
                AS BIGINT) AS rk
    FROM sub
), cand AS (
    SELECT a.doc_id AS d1, b.doc_id AS d2,
           CAST(b.rk - a.rk AS BIGINT) AS rank_gap,
           len(list_intersect(a.sh, b.sh)) AS inter,
           len(a.sh) AS na, len(b.sh) AS nb
    FROM ranked a JOIN ranked b
      ON b.rk > a.rk AND b.rk <= a.rk + 5
)
SELECT d1, d2, rank_gap,
       round(inter::DOUBLE / (na + nb - inter), 6) AS jaccard
FROM cand
WHERE inter::DOUBLE / (na + nb - inter) >= 0.5
""",
    tags=("north-star", "E2", "dedup", "blocking"),
)
def e63_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SORTED-NEIGHBORHOOD blocking (Hernandez & Stolfo) — the third
    classic candidate-generation strategy beside the inverted index (e3)
    and LSH banding (e2d/e33): sort the corpus by a blocking key (the
    24-char text prefix), and only pairs within a rank window (w=5) are
    candidates, each verified by exact Jaccard >= 0.5. The global rank
    comes from d106's ``distributed_row_number`` primitive — never a
    single-partition window — and the window-of-ranks join is an
    EQUI-join (each left row explodes to its w following ranks), so each
    candidate pair is generated exactly once with no inequality-join
    nested loop. Deterministic via the (prefix, doc_id) tie-break; the
    oracle replays the identical construction with DuckDB's row_number +
    range join.

    100 TB: candidates are exactly w*n (linear — the strategy's selling
    point vs quadratic blocking failure modes); cost is one distributed
    sort + one equi-join shuffle. Weakness (documented, measurable with
    e46-style audits): recall depends on near-dups sharing a PREFIX —
    replica docs with different leading tokens are missed, which is why
    production systems run multi-pass sorted-neighborhood with several
    keys, or prefer banded MinHash (e33)."""
    from pyspark_ml_features_spark.operators.relational import (
        distributed_row_number,
    )

    W = 5
    d = (table(spark, sf_dir, "documents")
         .filter(F.col("doc_id") % 5 == 0)
         .select("doc_id", F.substring("text", 1, 24).alias("pfx"),
                 F.array_distinct(tokens("text")).alias("sh")))
    ranked = (distributed_row_number(d, ["pfx", "doc_id"], 16)
              .select("doc_id", "sh", F.col("grk").alias("rk")))
    a = ranked.select(F.col("doc_id").alias("d1"),
                      F.col("sh").alias("sh1"), F.col("rk").alias("rk1"),
                      F.explode(F.sequence(
                          F.col("rk") + 1, F.col("rk") + W)).alias("rk"))
    b = ranked.select(F.col("doc_id").alias("d2"),
                      F.col("sh").alias("sh2"), "rk")
    inter = F.size(F.array_intersect("sh1", "sh2"))
    jac = (inter.cast("double")
           / (F.size("sh1") + F.size("sh2") - inter))
    return (a.join(b, "rk")
            .select("d1", "d2",
                    (F.col("rk") - F.col("rk1")).cast("bigint")
                    .alias("rank_gap"),
                    F.round(jac, 6).alias("jaccard"),
                    jac.alias("_j"))
            .filter(F.col("_j") >= 0.5)
            .drop("_j"))


def sorted_neighborhood_pass(keyed: DataFrame, mask: int, w: int = 5
                             ) -> DataFrame:
    """One sorted-neighborhood pass: global-rank ``keyed`` (doc_id, key)
    by (key, doc_id) via the distributed-row-number primitive, then emit
    every (min, max)-normalized id pair within ``w`` ranks, tagged with
    ``pass_mask = mask`` (a power of two so a k-pass union's summed mask
    records which keys found each pair). Exactly <= w*n candidate rows —
    the linear-cost property multi-pass unions preserve additively."""
    from pyspark_ml_features_spark.operators.relational import (
        distributed_row_number,
    )

    ranked = (distributed_row_number(keyed, ["key", "doc_id"], 16)
              .select("doc_id", F.col("grk").alias("rk")))
    a = ranked.select(F.col("doc_id").alias("da"),
                      F.explode(F.sequence(
                          F.col("rk") + 1, F.col("rk") + w)).alias("rk"))
    b = ranked.select(F.col("doc_id").alias("db"), "rk")
    return (a.join(b, "rk")
            .select(F.least("da", "db").alias("d1"),
                    F.greatest("da", "db").alias("d2"),
                    F.lit(mask).cast("bigint").alias("pass_mask"))
            .distinct())


@register(
    "e64_multipass_sorted_neighborhood",
    oracle="""
WITH sub AS (
    SELECT doc_id, text, list_distinct(str_split(text, ' ')) AS sh
    FROM documents WHERE doc_id % 5 = 0
), r1 AS (
    SELECT doc_id, CAST(row_number() OVER (
        ORDER BY substr(text, 1, 24), doc_id) AS BIGINT) AS rk
    FROM sub
), r2 AS (
    SELECT doc_id, CAST(row_number() OVER (
        ORDER BY substr(reverse(text), 1, 24), doc_id) AS BIGINT) AS rk
    FROM sub
), cand AS (
    SELECT least(a.doc_id, b.doc_id) AS d1,
           greatest(a.doc_id, b.doc_id) AS d2,
           CAST(1 AS BIGINT) AS pass_mask
    FROM r1 a JOIN r1 b ON b.rk > a.rk AND b.rk <= a.rk + 5
    UNION ALL
    SELECT least(a.doc_id, b.doc_id), greatest(a.doc_id, b.doc_id),
           CAST(2 AS BIGINT)
    FROM r2 a JOIN r2 b ON b.rk > a.rk AND b.rk <= a.rk + 5
), dedup AS (
    SELECT d1, d2, CAST(sum(pass_mask) AS BIGINT) AS pass_mask
    FROM (SELECT DISTINCT d1, d2, pass_mask FROM cand)
    GROUP BY d1, d2
)
SELECT c.d1, c.d2, c.pass_mask,
       round(len(list_intersect(sa.sh, sb.sh))::DOUBLE
             / (len(sa.sh) + len(sb.sh)
                - len(list_intersect(sa.sh, sb.sh))), 6) AS jaccard
FROM dedup c
JOIN sub sa ON sa.doc_id = c.d1
JOIN sub sb ON sb.doc_id = c.d2
WHERE len(list_intersect(sa.sh, sb.sh))::DOUBLE
      / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
      >= 0.5
""",
    tags=("north-star", "E2", "dedup", "blocking", "multipass"),
)
def e64_multipass_sorted_neighborhood(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    """MULTI-PASS sorted neighborhood — the published mitigation for
    e63's prefix sensitivity: run the rank-window pass under TWO
    independent sort keys (text prefix, reversed-text prefix ≈ suffix)
    and union the candidate sets; a near-dup pair only needs to agree on
    ONE key to be found. Each pass is the same linear w*n candidate
    generation (distributed rank + equi-join); pairs are normalized to
    (min, max) id order and the pass_mask (1 = prefix, 2 = suffix,
    3 = both) records which key found them — the audit column that tells
    you when a third pass would still add recall. Exact Jaccard >= 0.5
    verification as in e63; the oracle replays both passes verbatim.

    100 TB: 2x the linear cost of e63 (two sorts, two equi-joins, one
    distinct on the candidate ids — all bounded by 2*w*n rows); the
    general k-pass form just unions more rank tables
    (:func:`sorted_neighborhood_pass` is that reusable pass — the
    3-key ceiling curve is measured in tests/test_invariants.py and
    DESIGN_SCALE.md's blocking-triad table). Measured on this fixture
    (invariant; re-measured r5): recall 0.100 (e63) -> 0.186 with the
    second key, 0.265 with a third (sorted-token-set prefix — see the
    DESIGN_SCALE ceiling-curve table) — while candidates stay k*w*n."""
    W = 5
    d = (table(spark, sf_dir, "documents")
         .filter(F.col("doc_id") % 5 == 0)
         .select("doc_id", "text",
                 F.array_distinct(tokens("text")).alias("sh")))

    p1 = sorted_neighborhood_pass(
        d.select("doc_id", F.substring("text", 1, 24).alias("key")), 1, W)
    p2 = sorted_neighborhood_pass(
        d.select("doc_id", F.substring(F.reverse("text"), 1, 24)
                 .alias("key")), 2, W)
    cand = (p1.unionByName(p2)
            .groupBy("d1", "d2")
            .agg(F.sum("pass_mask").alias("pass_mask")))
    sa = d.select(F.col("doc_id").alias("d1"), F.col("sh").alias("sh1"))
    sb = d.select(F.col("doc_id").alias("d2"), F.col("sh").alias("sh2"))
    inter = F.size(F.array_intersect("sh1", "sh2"))
    jac = inter.cast("double") / (F.size("sh1") + F.size("sh2") - inter)
    # shingle-array join-back is corpus-scaling: no broadcast hint
    return (cand.join(sa, "d1").join(sb, "d2")
            .withColumn("_j", jac)
            .filter(F.col("_j") >= 0.5)
            .select("d1", "d2", "pass_mask",
                    F.round("_j", 6).alias("jaccard")))


def _duckdb_gram5_key() -> str:
    """DuckDB twin of the packed two-base 5-gram fingerprint (``i`` is the
    1-based gram start in the lambda scope): for each base,
    ``fold(th[i..i+4], (acc, h) -> (acc*B + h) % p)``, then pack the two
    31-bit results into one BIGINT (k1·2³¹ + k2 < 2⁶²)."""
    from pyspark_ml_features_spark.functions.text import duckdb_rolling_hash

    def fold(base: int) -> str:
        expr = "th[i]"
        for j in range(1, 5):
            expr = f"(({expr}) * {base} + th[i + {j}]) % {MINHASH_P}"
        return expr

    return f"""words AS (
  SELECT doc_id, str_split(text, ' ') AS w FROM documents
),
th0 AS (
  SELECT doc_id, list_transform(w, tok -> {duckdb_rolling_hash('tok')}) AS th
  FROM words
),
grams AS (
  SELECT doc_id, i - 1 AS pos,
         ({fold(10007)}) * 2147483648 + ({fold(5003)}) AS gram
  FROM th0, UNNEST(range(1, greatest(len(th) - 4, 0) + 1)) AS t(i)
)"""


@register(
    "e69_dup_span_report",
    oracle=f"""
WITH {_duckdb_gram5_key()},
dupg AS (
  SELECT gram FROM grams GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
),
hits AS (
  SELECT g.doc_id, g.pos FROM grams g JOIN dupg USING (gram)
),
brk AS (
  SELECT doc_id, pos,
         CASE WHEN pos > coalesce(max(pos + 5) OVER (
                  PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS new_island
  FROM hits
),
isl AS (
  SELECT doc_id, pos,
         sum(new_island) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM brk
),
spans AS (
  SELECT doc_id, island, min(pos) AS s, max(pos) + 5 AS e
  FROM isl GROUP BY doc_id, island
),
agg AS (
  SELECT doc_id, count(*) AS spans, sum(e - s) AS dupw
  FROM spans GROUP BY doc_id
)
SELECT w.doc_id,
       CAST(len(w.w) AS BIGINT) AS n_words,
       CAST(a.spans AS BIGINT) AS n_dup_spans,
       CAST(a.dupw AS BIGINT) AS dup_words,
       CAST((a.dupw * 10000) // len(w.w) AS BIGINT) AS dup_bp
FROM agg a JOIN words w USING (doc_id)
""",
    tags=("north-star", "E1", "dedup", "span-level", "llm-pipeline"),
)
def e69_dup_span_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPAN-level duplication report — the granularity between e1's
    whole-document and e31's whole-line dedup, after the published
    observation that training corpora contain long VERBATIM substrings
    repeated across otherwise-distinct documents (boilerplate, quoted
    passages, templated sections) that document-level dedup never sees.

    Method (exact, no suffix array needed for the report form): every
    word 5-gram is emitted with its START POSITION via one
    ``posexplode``; a gram occurring in >= 2 DISTINCT documents marks
    positions ``[pos, pos+5)`` as duplicated; per document the marked
    intervals merge into MAXIMAL spans with one gap-and-islands pass
    (running ``max(end)`` over the position order — a new island starts
    exactly when the next interval begins past everything seen, so
    touching/overlapping k-gram windows coalesce into the full repeated
    passage). Output per affected doc: span count, duplicated word
    count, and duplicated fraction in basis points (fixed-point DIV per
    the d112 rule — no float division behind an exact oracle).

    100 TB: the gram shuffle dominates, so grams travel as 8-byte packed
    two-base fingerprints (e33's numeric shingle combine, extended to
    k=5 and double-width: two independent 31-bit folds packed into one
    BIGINT — effective key space 2^62, collision-free in practice and
    IDENTICAL on both engines, so the oracle stays bit-exact). The
    islands pass shuffles once on doc_id with integer-only state.
    Within-doc-only repeats are deliberately excluded (cross-doc
    contamination is the dedup target; t7 already scores within-doc
    repetition).
    """
    from pyspark_ml_features_spark.functions.text import rolling_hash

    K = 5
    d = table(spark, sf_dir, "documents")
    # fan_out: the gram build (per-token hash transform + K-fold per
    # position) is the CPU wall; spread the unsplittable scan before it.
    # Since r14 the build feeds ONE lineage (the dup-gram window below
    # replaced the aggregate+join-back pair), so it runs exactly once.
    # The tiny broadcast n_words side at the end derives from the
    # UN-fanned frame (the e4 ADVICE r13 pattern): one split() per doc
    # on one task beats paying the repartition exchange there too.
    words = d.select("doc_id", F.split("text", " ").alias("w"))
    fanned = fan_out(d, "doc_id").select(
        "doc_id", F.split("text", " ").alias("w"))
    # token hashes materialized once per row (own Project — the e5/e33
    # lesson), then each gram key is an O(K) numeric combine over the
    # hash array: two independent bases folded mod p and packed into one
    # BIGINT (k1*2^31 + k2 < 2^62) — an 8-byte shuffle key instead of a
    # ~30-byte gram string, and the oracle mirrors the same arithmetic
    # so parity stays bit-exact (cross-engine collision-free by
    # construction: both engines compute the identical key).
    th_docs = fanned.select(
        "doc_id", "w",
        F.transform("w", lambda tok: rolling_hash(tok)).alias("th"))

    def fold(i, base):
        expr = F.element_at("th", i)
        for j in range(1, K):
            expr = (expr * base + F.element_at("th", i + j)) % MINHASH_P
        return expr

    starts = F.when(F.size("th") >= K,
                    F.sequence(F.lit(1), F.size("th") - (K - 1))
                    ).otherwise(F.array().cast("array<int>"))
    grams = th_docs.select(
        "doc_id",
        F.posexplode(F.transform(
            starts,
            lambda i: fold(i, 10007) * F.lit(2147483648) + fold(i, 5003)))
        .alias("pos", "gram"))
    # r14 (guide §2.4 "two operations keyed the same way can share one
    # exchange"): a gram is cross-doc-duplicated iff it occurs in >= 2
    # DISTINCT documents iff min(doc_id) != max(doc_id) over the gram's
    # rows — one window on gram replaces the groupBy(gram)+join-back,
    # so the gram table shuffles ONCE instead of twice and the
    # compute-dense gram build runs once instead of once per lineage.
    w_gram = Window.partitionBy("gram")
    hits = (grams
            .withColumn("_dmin", F.min("doc_id").over(w_gram))
            .withColumn("_dmax", F.max("doc_id").over(w_gram))
            .filter(F.col("_dmin") != F.col("_dmax"))
            .select("doc_id", "pos"))
    w_ord = Window.partitionBy("doc_id").orderBy("pos")
    prev_max_end = F.max(F.col("pos") + K).over(
        w_ord.rowsBetween(Window.unboundedPreceding, -1))
    brk = hits.select(
        "doc_id", "pos",
        F.when(F.col("pos") > F.coalesce(prev_max_end, F.lit(-1)), 1)
        .otherwise(0).alias("new_island"))
    isl = brk.select("doc_id", "pos",
                     F.sum("new_island").over(w_ord).alias("island"))
    spans = (isl.groupBy("doc_id", "island")
             .agg(F.min("pos").alias("s"), (F.max("pos") + K).alias("e")))
    agg = (spans.groupBy("doc_id")
           .agg(F.count(F.lit(1)).alias("n_dup_spans"),
                F.sum(F.col("e") - F.col("s")).alias("dup_words")))
    return (agg.join(words.select("doc_id", F.size("w").alias("n_words")),
                     "doc_id")
            .select("doc_id",
                    F.col("n_words").cast("bigint").alias("n_words"),
                    "n_dup_spans", "dup_words",
                    F.expr("(dup_words * 10000) DIV n_words")
                    .alias("dup_bp")))


@register(
    "d13b_fuzzy_match",
    oracle="""
SELECT a.p_partkey AS p1, b.p_partkey AS p2,
       levenshtein(a.p_name, b.p_name)::INT AS edit_distance
FROM part a JOIN part b
  ON a.p_partkey < b.p_partkey
WHERE a.p_partkey % 10 = 0 AND b.p_partkey % 10 = 0
  AND levenshtein(a.p_name, b.p_name) <= 4
""",
    tags=("engine", "dedup", "fuzzy"),
)
def d13b_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string matching: edit-distance pairs (levenshtein ≤ 4) on a
    deterministic 10% sample — the string-similarity leg of the dedup
    ladder. At scale, candidates come from a cheap blocking key (first
    token / fingerprint band) before any pairwise distance."""
    p = table(spark, sf_dir, "part").filter(F.col("p_partkey") % 10 == 0)
    a = p.select(F.col("p_partkey").alias("p1"), F.col("p_name").alias("n1"))
    b = p.select(F.col("p_partkey").alias("p2"), F.col("p_name").alias("n2"))
    return (a.join(F.broadcast(b), F.col("p1") < F.col("p2"))
            .select("p1", "p2",
                    F.levenshtein("n1", "n2").alias("edit_distance"))
            .filter(F.col("edit_distance") <= 4))


@register(
    "e61_qgram_fuzzy_join",
    oracle="""
SELECT a.p_partkey AS p1, b.p_partkey AS p2,
       levenshtein(a.p_name, b.p_name)::INT AS edit_distance
FROM part a JOIN part b
  ON a.p_partkey < b.p_partkey
WHERE a.p_partkey % 10 = 5 AND b.p_partkey % 10 = 5
  AND levenshtein(a.p_name, b.p_name) <= 2
""",
    tags=("engine", "dedup", "fuzzy", "qgram"),
)
def e61_qgram_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy join at SCALE: the q-gram COUNT FILTER (Gravano et al.,
    VLDB'01) replaces d13b's all-pairs edit-distance join. Two strings
    within edit distance k share at least ``max(|a|,|b|) - q + 1 - k*q``
    q-grams as a MULTISET — so candidates come from a bigram inverted
    index (shared = sum of min per-string gram counts, computed on the
    gram equi-join), and only candidates pay the exact levenshtein
    verify. The bound must use the MULTISET intersection: a
    distinct-gram count can undershoot it and silently drop true pairs.
    The oracle is the naive all-pairs join — so a hash match PROVES the
    filter dropped no true pair (filter soundness is the correctness
    claim, and it is checked, not assumed). Measured at sf0.1 on the 20%
    sample: 854k candidates vs 8.0M all-pairs (9.4x pruned; short 7-12
    char names are the filter's worst case — pruning grows with string
    length).

    100 TB: the gram join shuffles on the gram key (hot grams salt like
    any hot key; length-bucketing the index is the published upgrade);
    never an all-pairs product. k=2, q=2 keeps the bound positive for
    every length pair here (min length 7 => bound >= 2)."""
    p = (table(spark, sf_dir, "part")
         .filter(F.col("p_partkey") % 10 == 5)
         .select(F.col("p_partkey").alias("id"), F.col("p_name").alias("s")))
    p = p.withColumn("len", F.length("s"))
    grams = (p.select("id", "len", F.explode(F.expr(
        "transform(sequence(1, length(s)-1), i -> substring(s, i, 2))"))
        .alias("g"))
        .groupBy("id", "len", "g").agg(F.count(F.lit(1)).alias("c")))
    a = grams.select(F.col("id").alias("p1"), F.col("len").alias("l1"),
                     "g", F.col("c").alias("c1"))
    b = grams.select(F.col("id").alias("p2"), F.col("len").alias("l2"),
                     "g", F.col("c").alias("c2"))
    cand = (a.join(b, "g").filter(F.col("p1") < F.col("p2"))
            .groupBy("p1", "p2", "l1", "l2")
            .agg(F.sum(F.least("c1", "c2")).alias("shared"))
            .filter(F.col("shared")
                    >= F.greatest("l1", "l2") - F.lit(1) - F.lit(2 * 2)))
    names = p.select("id", "s")
    na = names.select(F.col("id").alias("p1"), F.col("s").alias("s1"))
    nb = names.select(F.col("id").alias("p2"), F.col("s").alias("s2"))
    return (cand.join(F.broadcast(na), "p1").join(F.broadcast(nb), "p2")
            .select("p1", "p2",
                    F.levenshtein("s1", "s2").alias("edit_distance"))
            .filter(F.col("edit_distance") <= 2))


@register(
    "d122_blocked_linkage",
    oracle="""
SELECT a.p_partkey AS p1, b.p_partkey AS p2,
       a.p_brand AS brand, CAST(a.p_size AS BIGINT) AS size,
       levenshtein(a.p_name, b.p_name)::INT AS edit_distance
FROM part a JOIN part b
  ON a.p_brand = b.p_brand AND a.p_size = b.p_size
 AND a.p_partkey < b.p_partkey
WHERE levenshtein(a.p_name, b.p_name) <= 4
""",
    tags=("engine", "dedup", "fuzzy", "scale"),
)
def d122_blocked_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOCKED record linkage — the scale path d13b's docstring promises:
    candidate pairs come from an EQUI-JOIN on a cheap blocking key
    (brand, size), and only within-block pairs pay the edit-distance
    comparison. d13b compares a sampled table all-pairs (teaching
    geometry, broadcast BNLJ); this is the production shape — the block
    key turns O(n²) into Σ_b O(|b|²) with |b| bounded by the key's
    selectivity (measured: max block 7 parts at sf0.01, 28 at sf0.1 —
    candidates grow linearly in n at fixed key cardinality growth).

    levenshtein() is exact integer and engine-portable (probed: Spark ≡
    DuckDB on boundary cases including empty strings). At 100 TB the
    blocking key shuffles both sides once (hash equi-join, AQE-sized);
    skewed blocks are the e63 sorted-neighborhood territory — that
    operator family bounds the window when no good key exists."""
    p = table(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_brand", "p_size")
    a = p.select(F.col("p_partkey").alias("p1"),
                 F.col("p_name").alias("n1"),
                 F.col("p_brand").alias("brand"),
                 F.col("p_size").cast("bigint").alias("size"))
    b = p.select(F.col("p_partkey").alias("p2"),
                 F.col("p_name").alias("n2"),
                 F.col("p_brand").alias("brand"),
                 F.col("p_size").cast("bigint").alias("size"))
    return (a.join(b, ["brand", "size"])
            .filter(F.col("p1") < F.col("p2"))
            .withColumn("edit_distance",
                        F.levenshtein("n1", "n2").cast("int"))
            .filter(F.col("edit_distance") <= 4)
            .select("p1", "p2", "brand", "size", "edit_distance"))


@register(
    "e82_golden_record",
    oracle="""
SELECT min(doc_id) AS canonical_doc_id,
       CAST(count(*) AS BIGINT) AS n_members,
       arg_max(lang, doc_id) AS lang_latest,
       arg_max(source, doc_id) AS source_latest,
       CAST(max(n_chars) AS BIGINT) AS n_chars_max,
       CAST(sum(n_chars) AS BIGINT) AS n_chars_total
FROM documents
GROUP BY lower(trim(text))
""",
    tags=("north-star", "llm-pipeline", "dedup", "stewardship"),
)
def e82_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GOLDEN-RECORD consolidation (MDM survivorship): e1's exact-dup
    clusters collapse to ONE merged record per cluster, with per-field
    survivorship rules instead of e34's keep-one-row policy — stable id
    = min doc_id, latest-wins fields via max_by on the recency key
    (doc_id here; ingestion ts in production), max/sum rollups for the
    measures. This is the other half of dedup: e1 decides WHICH rows are
    duplicates, survivorship decides what the single surviving record
    SAYS.

    max_by is deterministic because the ordering key is the unique
    doc_id (the d76 rule). 100 TB: identical shape to e1 — one hash
    aggregate on the normalized key, all survivorship rules are
    single-pass aggregates riding the same shuffle."""
    d = table(spark, sf_dir, "documents")
    return (d.groupBy(F.lower(F.trim("text")).alias("__k"))
            .agg(F.min("doc_id").alias("canonical_doc_id"),
                 F.count(F.lit(1)).cast("bigint").alias("n_members"),
                 F.expr("max_by(lang, doc_id)").alias("lang_latest"),
                 F.expr("max_by(source, doc_id)").alias("source_latest"),
                 F.max("n_chars").cast("bigint").alias("n_chars_max"),
                 F.sum("n_chars").cast("bigint").alias("n_chars_total"))
            .drop("__k"))


DEDUP_CHUNK = 32


@register(
    "e90_chunk_dedup_stats",
    oracle=f"""
WITH t AS (
    SELECT source, str_split(text, ' ') AS tok FROM documents
), c AS (
    SELECT source,
           array_to_string(list_slice(tok, i, i + {DEDUP_CHUNK} - 1), ' ')
               AS chunk
    FROM t, unnest(range(1, len(tok) + 1, {DEDUP_CHUNK})) AS u(i)
)
SELECT source, CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(count(DISTINCT chunk) AS BIGINT) AS n_distinct_chunks,
       CAST((count(*) - count(DISTINCT chunk)) * 10000 // count(*)
            AS BIGINT) AS dup_bp
FROM c GROUP BY source
""",
    tags=("north-star", "llm-pipeline", "dedup", "chunking"),
)
def e90_chunk_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHUNK-LEVEL duplication stats: cut every document into
    non-overlapping {DEDUP_CHUNK}-token chunks (e23's slicing at stride
    = size) and measure per-source chunk duplication — the granularity
    between e1's whole-document and e31's line-level dedup, and the one
    that matters when training consumes fixed-context chunks rather
    than documents: a corpus can be document-unique yet feed the model
    the same chunk thousands of times.

    100 TB: explode is linear in corpus tokens; the distinct-count
    aggregate shuffles (source, chunk) once — production swaps the
    chunk string for its 64-bit fingerprint exactly as e36 does for
    documents (kept as the string here for oracle exactness, the e80
    adjudication)."""
    # Token array materialized before the chunk lambda (word_ngrams'
    # quadratic-re-evaluation rule in functions/text.py).
    d = (table(spark, sf_dir, "documents")
         .select("source", tokens("text").alias("__toks")))
    t = F.col("__toks")
    starts = F.sequence(F.lit(1), F.size(t), F.lit(DEDUP_CHUNK))
    chunks = F.transform(starts,
                         lambda i: F.concat_ws(" ",
                                               F.slice(t, i, DEDUP_CHUNK)))
    c = d.select("source", F.explode(chunks).alias("chunk"))
    return (c.groupBy("source")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
                 F.count_distinct("chunk").cast("bigint")
                 .alias("n_distinct_chunks"))
            .select("source", "n_chunks", "n_distinct_chunks",
                    F.expr(f"CAST((n_chunks - n_distinct_chunks) * 10000L "
                           f"DIV n_chunks AS BIGINT)").alias("dup_bp")))


PROVENANCE_TOP = 5


@register(
    "e94_dedup_provenance",
    oracle=f"""
WITH g AS (
    SELECT lower(trim(text)) AS k,
           min(doc_id) AS canonical_doc_id,
           CAST(count(*) AS BIGINT) AS n_absorbed,
           list_sort(list(doc_id)) AS members
    FROM documents GROUP BY lower(trim(text))
)
SELECT canonical_doc_id, n_absorbed,
       coalesce(array_to_string(list_transform(
           members[2:{PROVENANCE_TOP} + 1], x -> x::VARCHAR), ','), '')
           AS absorbed_sample
FROM g
""",
    tags=("north-star", "llm-pipeline", "dedup", "stewardship",
          "provenance"),
)
def e94_dedup_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEDUP PROVENANCE — the audit-trail detail behind e82's golden
    record: for every exact-dup cluster that actually absorbed rows,
    WHICH doc_ids the canonical record replaced (first
    {PROVENANCE_TOP} absorbed ids as a sorted comma-joined string —
    the d69 rule: collect, sort, join, so the value is deterministic
    and the harness canonicalizer never sees an array cell). The table
    is TOTAL — one row per surviving record, singletons with an empty
    sample — because a provenance lookup must answer "nothing was
    merged into this id" as authoritatively as a merge list. Takedown
    requests, licensing audits, and "why did my document disappear"
    tickets all resolve against exactly this table.

    100 TB: e1's hash aggregate with one extra bounded payload — the
    per-cluster sample is capped at {PROVENANCE_TOP} ids (slice AFTER
    array_sort), so a pathological million-member cluster still emits
    one small row."""
    d = table(spark, sf_dir, "documents")
    g = (d.groupBy(F.lower(F.trim("text")).alias("k"))
         .agg(F.min("doc_id").alias("canonical_doc_id"),
              F.count(F.lit(1)).cast("bigint").alias("n_absorbed"),
              F.array_sort(F.collect_list("doc_id")).alias("members")))
    return (g.select("canonical_doc_id", "n_absorbed",
                    F.array_join(
                        F.transform(
                            F.slice("members", 2, PROVENANCE_TOP),
                            lambda x: x.cast("string")), ",")
                    .alias("absorbed_sample")))


@register(
    "e96_cross_source_template_matrix",
    oracle="""
WITH d AS (
    SELECT DISTINCT
        array_to_string(list_slice(str_split(lower(trim(text)), ' '),
                                   1, 5), ' ') AS opening,
        source
    FROM documents
)
SELECT a.source AS src_a, b.source AS src_b,
       CAST(count(*) AS BIGINT) AS n_shared_openings
FROM d a JOIN d b ON a.opening = b.opening AND a.source < b.source
GROUP BY 1, 2
""",
    tags=("north-star", "llm-pipeline", "provenance", "dedup"),
)
def e96_cross_source_template_matrix(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """CROSS-SOURCE TEMPLATE MATRIX: for every pair of sources, how many
    distinct 5-token document openings they share — the provenance audit
    that surfaces mirror sites, syndication, and shared boilerplate
    templates before near-dedup collapses them silently (you want to
    KNOW two crawls overlap, not just drop the copies). Openings are a
    deliberate coarse fingerprint (exact-text overlap across sources is
    ~zero in this corpus; shared templates are not).

    100 TB: the distinct (opening, source) projection collapses the
    corpus to its template vocabulary FIRST (map-side combinable), and
    the self-join runs on that bounded set keyed by opening — the
    output is capped by source-pair count, and per-opening fan-out is
    #sources, not #docs."""
    d = (table(spark, sf_dir, "documents")
         .select(F.concat_ws(
             " ", F.slice(tokens(F.lower(F.trim(F.col("text")))), 1, 5))
             .alias("opening"), "source")
         .distinct())
    a = d.alias("a")
    b = d.alias("b")
    return (a.join(b, (F.col("a.opening") == F.col("b.opening"))
                   & (F.col("a.source") < F.col("b.source")))
            .groupBy(F.col("a.source").alias("src_a"),
                     F.col("b.source").alias("src_b"))
            .agg(F.count(F.lit(1)).cast("bigint")
                 .alias("n_shared_openings")))


#: e107's ingest split: batch A = the "standing corpus" (two of every
#: three doc ids), batch B = the ingest. Batch ORDER is irrelevant to
#: correctness — the merge keeps the global min per text via least(),
#: and the monoid is commutative — the 2/3 split just keeps both the
#: duplicate-against-corpus and the new-text merge paths non-empty at
#: every sf.
INGEST_SPLIT_NUM = 2


INGEST_SPLIT_DEN = 3


@register(
    "e107_incremental_dedup_equivalence",
    oracle="""
SELECT CAST(min(doc_id) AS BIGINT) AS canon_id,
       text,
       CAST(count(*) AS BIGINT) AS n_members
FROM documents
GROUP BY text
""",
    tags=("north-star", "E1", "dedup", "incremental", "integration"),
)
def e107_incremental_dedup_equivalence(spark: SparkSession,
                                       sf_dir: str) -> DataFrame:
    """INCREMENTAL == BATCH equivalence for exact dedup — the claim
    that makes a 100 TB dedup store operable: you never reprocess the
    corpus. Spark runs the INCREMENTAL protocol (dedup the standing
    corpus A; ingest batch B; dedup B locally; merge survivor states by
    text with least(canon_id) / summed member counts — a full-outer
    merge of two survivor stores, the e1b/e20 machinery), and the
    oracle states the BATCH answer in one expression over the union.
    Hash equality IS the algebra proof: survivorship (min doc_id) and
    membership counts form a commutative monoid over batches, and any
    slip in the merge (a text matched by normalized key instead of
    byte key, a member count lost on the matched path, a survivor
    preferring the wrong side) breaks it. e1b grades the
    new-only-vs-corpus shape against an incrementally-PHRASED oracle;
    this query grades the merged STORE against the batch-phrased one.

    100 TB: each batch shuffles once on text (fingerprint in
    production — e36); the standing store is never rescanned, only
    merged survivor-to-survivor on the same key, and the merge is
    associative so batches compose in any arrival order."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    gate = F.pmod(F.col("doc_id"), F.lit(INGEST_SPLIT_DEN))

    def survivors(batch: DataFrame) -> DataFrame:
        return (batch.groupBy("text")
                .agg(F.min("doc_id").alias("canon_id"),
                     F.count(F.lit(1)).alias("n_members")))

    store_a = survivors(d.filter(gate < INGEST_SPLIT_NUM))
    store_b = survivors(d.filter(gate >= INGEST_SPLIT_NUM))
    # least() skips NULLs in Spark, so on a one-sided full-outer row it
    # returns the present side's canon_id directly.
    return (store_a.alias("a")
            .join(store_b.alias("b"), "text", "full")
            .select(
                F.least(F.col("a.canon_id"), F.col("b.canon_id"))
                .alias("canon_id"),
                "text",
                (F.coalesce(F.col("a.n_members"), F.lit(0))
                 + F.coalesce(F.col("b.n_members"), F.lit(0)))
                .alias("n_members")))
