"""Text family over the documents table (SURVEY §2-E E7/E8 plus the
training-data-pipeline set: marker-word and character-n-gram language ID,
quality scoring, token counting, tokenizer fertility, vocabulary
concentration, document fingerprinting).

All operators are pure SQL expressions (split / higher-order array functions /
window aggregates) — no Python boundary — so at 100 TB they run entirely in
whole-stage codegen; the per-document ops are embarrassingly parallel map
work, and the per-language aggregations shuffle only (lang, term)-cardinality
rows after map-side partial aggregation.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from pyspark_ml_features_spark.functions.skew import fan_out
from pyspark_ml_features_spark.functions.text import (
    LANG_MARKERS,
    STOPWORDS,
    duckdb_rolling_hash,
    rolling_hash,
    tokens,
    word_ngrams,
)
from pyspark_ml_features_spark.registry import register
from pyspark_ml_features_spark.sources import table


@register(
    "e7_text_stats",
    oracle="""
SELECT lang,
       count(*) AS n_docs,
       count(DISTINCT source) AS n_sources,
       sum(len(str_split(text, ' ')))::BIGINT AS total_tokens,
       sum(len(str_split(text, ' ')))::DOUBLE / count(*) AS avg_tokens,
       min(len(str_split(text, ' ')))::BIGINT AS min_tokens,
       max(len(str_split(text, ' ')))::BIGINT AS max_tokens
FROM documents
GROUP BY lang
""",
    tags=("north-star", "E7"),
)
def e7_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus statistics — token counts via split+size, one
    hash aggregate."""
    d = table(spark, sf_dir, "documents")
    n_tok = F.size(tokens("text")).cast("bigint")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum(n_tok).alias("total_tokens"),
        (F.sum(n_tok).cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
        F.min(n_tok).alias("min_tokens"),
        F.max(n_tok).alias("max_tokens"))


def term_stats(d: DataFrame) -> tuple[DataFrame, DataFrame]:
    """e8's term statistics over (doc_id, lang, text): term frequencies
    (doc_id, lang, term, tf) and one (term, df) row per vocabulary term."""
    tok = d.select("doc_id", "lang", F.explode(tokens("text")).alias("term"))
    tf = tok.groupBy("doc_id", "lang", "term").agg(F.count(F.lit(1)).alias("tf"))
    return tf, tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))


@register(
    "e8_tfidf_topterms",
    oracle="""
WITH tok AS (
    SELECT doc_id, lang, unnest(str_split(text, ' ')) AS term FROM documents
), tf AS (
    SELECT doc_id, lang, term, count(*) AS tf FROM tok GROUP BY doc_id, lang, term
), df AS (
    SELECT term, count(*) AS df FROM tf GROUP BY term
), n AS (
    SELECT count(*)::DOUBLE AS n_docs FROM documents
), scored AS (
    SELECT tf.lang, tf.term,
           round(sum(tf.tf * (ln((n.n_docs + 1) / (df.df + 1)) + 1)), 6) AS score
    FROM tf JOIN df USING (term), n
    GROUP BY tf.lang, tf.term
), ranked AS (
    SELECT lang, term, score,
           row_number() OVER (PARTITION BY lang ORDER BY score DESC, term ASC) AS rn
    FROM scored
)
SELECT lang, term, score FROM ranked WHERE rn <= 5
""",
    tags=("north-star", "E8"),
)
def e8_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact smooth TF-IDF (sklearn formula: idf = ln((N+1)/(df+1)) + 1),
    top-5 terms per language. Scores rounded to 6 dp on both engines — the
    sum across documents is order-dependent in the last ~1e-12, and libm vs
    JVM ln() may differ 1 ulp; 6 dp absorbs both. The hashed-feature scale
    path (HashingTF/IDF) is the MLlib twin in operators/ml.py.

    Scale note: the document-frequency aggregate has |vocabulary| rows —
    10^7–10^8 terms on a web corpus — so it must NOT carry a broadcast
    hint (that pins driver memory to vocab size). AQE picks broadcast at
    small SF from the runtime size and sort-merge beyond the threshold;
    both sides already hash-partition on `term`. The single-row n_docs
    aggregate stays an explicit broadcast."""
    d = table(spark, sf_dir, "documents")
    tf, df = term_stats(d)
    n = d.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    idf = F.log((F.col("n_docs") + 1) / (F.col("df") + 1)) + 1
    scored = (
        tf.join(df, "term").crossJoin(F.broadcast(n))
        .groupBy("lang", "term")
        .agg(F.round(F.sum(F.col("tf") * idf), 6).alias("score")))
    w = Window.partitionBy("lang").orderBy(F.desc("score"), F.asc("term"))
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 5).select("lang", "term", "score"))


def _marker_score(toks, markers):
    return F.size(F.array_intersect(toks, F.array(*[F.lit(m) for m in markers])))


@register(
    "t1_lang_id",
    oracle=f"""
WITH scores AS (
    SELECT doc_id, lang,
           {', '.join(
        f"len(list_intersect(list_distinct(str_split(text, ' ')), "
        f"{list(LANG_MARKERS[lg])})) AS s_{lg}" for lg in sorted(LANG_MARKERS))}
    FROM documents
)
SELECT doc_id, lang AS actual_lang,
       CASE {' '.join(
        f"WHEN s_{lg} = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN '{lg}'"
        for lg in sorted(LANG_MARKERS))} END AS predicted_lang
FROM scores
""",
    tags=("north-star", "text-analysis"),
)
def t1_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID heuristic: score = |distinct tokens ∩ marker
    set| per language, argmax with lexical tiebreak (CASE order). A real
    deployment swaps the marker sets for n-gram profiles; the plan shape
    (pure map, no shuffle) is the point."""
    d = table(spark, sf_dir, "documents")
    toks = F.array_distinct(tokens("text"))
    langs = sorted(LANG_MARKERS)
    scored = d.select(
        "doc_id", F.col("lang").alias("actual_lang"),
        *[_marker_score(toks, LANG_MARKERS[lg]).alias(f"s_{lg}") for lg in langs])
    best = F.greatest(*[F.col(f"s_{lg}") for lg in langs])
    expr = None
    for lg in langs:
        cond = F.col(f"s_{lg}") == best
        expr = F.when(cond, lg) if expr is None else expr.when(cond, lg)
    return scored.select("doc_id", "actual_lang", expr.alias("predicted_lang"))


@register(
    "t2_quality_score",
    oracle=f"""
WITH m AS (
    SELECT doc_id, lang,
           len(str_split(text, ' '))::DOUBLE AS n_tokens,
           len(list_distinct(str_split(text, ' ')))::DOUBLE AS n_distinct,
           len(list_filter(str_split(text, ' '),
                           t -> list_contains({list(STOPWORDS)}, t)))::DOUBLE AS n_stop,
           list_sum(list_transform(str_split(text, ' '),
                                   t -> length(t)))::DOUBLE AS total_chars
    FROM documents
)
SELECT doc_id, lang,
       n_tokens::BIGINT AS n_tokens,
       n_distinct / n_tokens AS distinct_ratio,
       n_stop / n_tokens AS stopword_ratio,
       total_chars / n_tokens AS avg_word_len,
       0.3 * (n_distinct / n_tokens)
         + 0.3 * (1.0 - n_stop / n_tokens)
         + 0.4 * least((total_chars / n_tokens) / 10.0, 1.0) AS quality_score
FROM m
""",
    tags=("north-star", "text-analysis"),
)
def t2_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring from length/stopword/diversity ratios —
    weighted sum with a fixed evaluation order so every engine computes the
    identical double. Pure map work, no shuffle."""
    d = table(spark, sf_dir, "documents")
    toks = tokens("text")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_tokens = F.size(toks).cast("double")
    n_distinct = F.size(F.array_distinct(toks)).cast("double")
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t))).cast("double")
    total_chars = F.aggregate(
        toks, F.lit(0).cast("bigint"), lambda acc, t: acc + F.length(t)
    ).cast("double")
    distinct_ratio = n_distinct / n_tokens
    stop_ratio = n_stop / n_tokens
    avg_word_len = total_chars / n_tokens
    quality = (F.lit(0.3) * distinct_ratio
               + F.lit(0.3) * (F.lit(1.0) - stop_ratio)
               + F.lit(0.4) * F.least(avg_word_len / 10.0, F.lit(1.0)))
    return d.select(
        "doc_id", "lang",
        n_tokens.cast("bigint").alias("n_tokens"),
        distinct_ratio.alias("distinct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        avg_word_len.alias("avg_word_len"),
        quality.alias("quality_score"))


@register(
    "t3_token_count",
    oracle="""
SELECT doc_id,
       len(str_split(text, ' '))::BIGINT AS ws_tokens,
       list_sum(list_transform(str_split(text, ' '),
                t -> ceil(length(t) / 4.0)::BIGINT))::BIGINT AS est_bpe_tokens,
       length(text)::BIGINT AS n_chars_actual
FROM documents
""",
    tags=("north-star", "text-analysis"),
)
def t3_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + a BPE-ish estimate (≈ 1 token per
    4 chars per word, the standard heuristic) — integer arithmetic, exact."""
    d = table(spark, sf_dir, "documents")
    toks = tokens("text")
    est = F.aggregate(
        toks, F.lit(0).cast("bigint"),
        lambda acc, t: acc + F.ceil(F.length(t) / 4.0))
    return d.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("ws_tokens"),
        est.alias("est_bpe_tokens"),
        F.length("text").cast("bigint").alias("n_chars_actual"))


@register(
    "t4_fingerprint",
    oracle=f"""
SELECT doc_id,
       {duckdb_rolling_hash('text')} AS fingerprint,
       {duckdb_rolling_hash("lower(trim(text))")} AS fingerprint_normalized
FROM documents
""",
    tags=("north-star", "text-analysis"),
)
def t4_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting via polynomial rolling hash (base 31 mod
    2^31-1) over raw and normalized text — integer fold, engine-exact.
    At scale this is the cheap first-pass key for exact dedup."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        rolling_hash("text").alias("fingerprint"),
        rolling_hash(F.lower(F.trim(F.col("text")))).alias("fingerprint_normalized"))


@register(
    "t6_regex_tokenize",
    oracle="""
SELECT doc_id,
       len(regexp_extract_all(text, '[a-z0-9]{1,4}'))::BIGINT AS n_pieces,
       regexp_extract_all(text, '[a-z0-9]{1,4}')[1] AS first_piece,
       len(regexp_extract_all(text, '[a-z]+'))::BIGINT AS n_words
FROM documents
""",
    tags=("north-star", "text-analysis", "tokenize"),
)
def t6_regex_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex tokenization: greedy ≤4-char word pieces (the BPE-ish chunking
    proxy — real BPE needs a merges table, which would ride the same
    regexp_extract_all plumbing) plus alpha-word extraction. Simple
    character-class patterns behave identically under Java regex and RE2,
    so the oracle is exact."""
    d = table(spark, sf_dir, "documents")
    pieces = F.regexp_extract_all("text", F.lit("[a-z0-9]{1,4}"), 0)
    words = F.regexp_extract_all("text", F.lit("[a-z]+"), 0)
    return d.select(
        "doc_id",
        F.size(pieces).cast("bigint").alias("n_pieces"),
        pieces.getItem(0).alias("first_piece"),
        F.size(words).cast("bigint").alias("n_words"))


@register(
    "t7_repetition_ratio",
    oracle="""
WITH t AS (
    SELECT doc_id, str_split(text, ' ') AS tok FROM documents
), g AS (
    SELECT doc_id, tok, len(tok) AS n_tok,
           list_transform(range(1, greatest(len(tok) - 2, 0) + 1),
                          i -> tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2]) AS g3
    FROM t
)
SELECT doc_id,
       n_tok::BIGINT AS n_tokens,
       CASE WHEN n_tok > 0
            THEN (n_tok - len(list_distinct(tok)))::DOUBLE / n_tok END
           AS dup_token_frac,
       CASE WHEN len(g3) > 0
            THEN (len(g3) - len(list_distinct(g3)))::DOUBLE / len(g3) END
           AS dup_3gram_frac
FROM g
""",
    tags=("north-star", "text-analysis", "quality"),
)
def t7_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality signals (the Gopher-rules family): fraction
    of duplicated tokens and duplicated word-3-grams per document — high
    values flag boilerplate/spam for corpus filtering. Pure codegen (split +
    array ops + integer ratios), so the oracle is exact and the op is
    embarrassingly parallel map work at any scale."""
    # Token array materialized before the gram lambda (word_ngrams'
    # quadratic-re-evaluation rule; the n<3 guard lives in word_ngrams).
    dt = (table(spark, sf_dir, "documents")
          .select("doc_id", tokens("text").alias("toks")))
    t = F.col("toks")
    n_tok = F.size(t)
    g3 = word_ngrams(t, 3)
    n_g3 = F.size(g3)
    return dt.select(
        "doc_id",
        n_tok.cast("bigint").alias("n_tokens"),
        F.when(n_tok > 0,
               (n_tok - F.size(F.array_distinct(t))).cast("double") / n_tok)
         .alias("dup_token_frac"),
        F.when(n_g3 > 0,
               (n_g3 - F.size(F.array_distinct(g3))).cast("double") / n_g3)
         .alias("dup_3gram_frac"))


_EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z]{2,}"
_PHONE_RE = "[0-9]{3}-[0-9]{3}-[0-9]{4}"


@register(
    "t8_pii_redact",
    oracle=f"""
WITH seeded AS (
    SELECT doc_id,
           CASE WHEN doc_id % 10 = 0
                THEN text || ' contact user' || doc_id::VARCHAR
                     || '@example.com or 555-01' || lpad((doc_id % 10)::VARCHAR, 1, '0')
                     || '-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                ELSE text END AS text
    FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(text, '{_EMAIL_RE}'))::BIGINT AS n_emails,
       len(regexp_extract_all(text, '{_PHONE_RE}'))::BIGINT AS n_phones,
       regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                      '{_PHONE_RE}', '<PHONE>', 'g') AS redacted
FROM seeded
""",
    tags=("north-star", "text-analysis", "pii"),
)
def t8_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing for training corpora: count and redact email addresses
    and phone numbers via regexp_replace — the standard pre-training
    hygiene pass. The fixture has no organic PII, so every 10th document is
    deterministically seeded with a synthetic email + phone first (same
    arithmetic in the oracle), proving redaction actually fires. Plain
    character-class regexes behave identically under Java regex and RE2, so
    the oracle is exact. At 100 TB this is pure codegen map work."""
    d = table(spark, sf_dir, "documents")
    seeded = F.when(
        F.col("doc_id") % 10 == 0,
        F.concat(F.col("text"), F.lit(" contact user"),
                 F.col("doc_id").cast("string"), F.lit("@example.com or 555-01"),
                 F.lpad((F.col("doc_id") % 10).cast("string"), 1, "0"),
                 F.lit("-"),
                 F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"))
    ).otherwise(F.col("text"))
    text = seeded.alias("text")
    return d.select("doc_id", text).select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(_EMAIL_RE), 0))
         .cast("bigint").alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit(_PHONE_RE), 0))
         .cast("bigint").alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace("text", _EMAIL_RE, "<EMAIL>"),
            _PHONE_RE, "<PHONE>").alias("redacted"))


@register(
    "t9_lm_quality",
    oracle="""
WITH tok AS (
    SELECT doc_id, str_split(text, ' ') AS t FROM documents
), bi AS (
    SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
    FROM tok, unnest(range(1, len(t))) AS u(i)
    WHERE len(t) >= 2
), c12 AS (
    SELECT w1, w2, count(*) AS n_pair FROM bi GROUP BY w1, w2
), c1 AS (
    SELECT w1, count(*) AS n_w1 FROM bi GROUP BY w1
), voc AS (
    SELECT count(DISTINCT w)::BIGINT AS v_size
    FROM (SELECT unnest(t) AS w FROM tok)
), probs AS (
    SELECT doc_id,
           (c12.n_pair + 1)::DOUBLE / (c1.n_w1 + voc.v_size)::DOUBLE AS p
    FROM bi JOIN c12 USING (w1, w2) JOIN c1 USING (w1), voc
), ps AS (
    SELECT doc_id, list_sort(list(p)) AS ps FROM probs GROUP BY doc_id
)
SELECT doc_id, len(ps)::BIGINT AS n_bigrams,
       list_reduce(list_prepend(0.0::DOUBLE, ps), (a, x) -> a + x) / len(ps)
           AS lm_score
FROM ps
""",
    tags=("north-star", "text-analysis", "lm", "quality"),
)
def t9_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-based document quality score (the CCNet-perplexity-filter family):
    mean add-one-smoothed bigram probability
    ``avg((n(w1,w2)+1) / (n(w1·)+|V|))`` under the corpus's own bigram model
    (e26). Mean probability is used instead of log-perplexity so the score
    stays in exact integer-division arithmetic — no libm transcendentals
    behind the oracle; the ranking it induces is monotone in the geometric
    statistics that matter for filtering.

    100 TB shape: the model tables (c12/c1/|V|) live in vocabulary² space —
    bounded regardless of corpus size — and broadcast; the only
    corpus-cardinality shuffle is the per-doc regather keyed on doc_id.
    Per-doc sums fold over a SORTED probability array, making the double
    summation order-independent and bit-identical across engines."""
    d = table(spark, sf_dir, "documents")
    t = tokens("text")
    n = F.size(t)
    pairs = F.arrays_zip(F.slice(t, 1, n - 1).alias("w1"),
                         F.slice(t, 2, n - 1).alias("w2"))
    bi = (d.filter(n >= 2).select("doc_id", F.explode(pairs).alias("p"))
          .select("doc_id", F.col("p.w1").alias("w1"),
                  F.col("p.w2").alias("w2")))
    c12 = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_pair"))
    c1 = bi.groupBy("w1").agg(F.count(F.lit(1)).alias("n_w1"))
    vocab = (d.select(F.explode(t).alias("w"))
             .agg(F.countDistinct("w").alias("v_size")))
    p = ((F.col("n_pair") + 1).cast("double")
         / (F.col("n_w1") + F.col("v_size")).cast("double"))
    # c12/c1 are vocabulary-sized (unbounded on a web corpus): no hint
    # (the e8 rule); the single-row vocab aggregate keeps its broadcast
    ps = (bi.join(c12, ["w1", "w2"])
          .join(c1, "w1")
          .crossJoin(F.broadcast(vocab))
          .select("doc_id", p.alias("p"))
          .groupBy("doc_id")
          .agg(F.sort_array(F.collect_list("p")).alias("ps")))
    fold = F.aggregate("ps", F.lit(0.0), lambda a, x: a + x)
    return ps.select(
        "doc_id", F.size("ps").cast("bigint").alias("n_bigrams"),
        (fold / F.size("ps")).alias("lm_score"))


@register("t10_perplexity", tags=("north-star", "text-analysis", "lm",
                                  "approx"))
def t10_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram perplexity ``exp(-mean(ln p))`` under the same
    add-one-smoothed corpus bigram model as t9 — the conventional
    log-space CCNet/KenLM-style filter score. Rows-only by design: ln/exp
    are libm transcendentals, which this repo never puts behind an exact
    cross-engine oracle (JVM StrictMath vs DuckDB libm can differ 1 ulp).
    Invariant tests pin it to t9 instead: perplexity >= 1 always (add-one
    smoothing bounds p <= 1) and per-doc bigram counts match t9 exactly.

    100 TB shape: identical to t9 — the model tables are vocabulary²-
    bounded broadcasts; the single corpus-cardinality shuffle is the
    per-doc regather on doc_id. The log-sum folds over a SORTED
    probability array, so the double summation is deterministic."""
    d = table(spark, sf_dir, "documents")
    t = tokens("text")
    n = F.size(t)
    pairs = F.arrays_zip(F.slice(t, 1, n - 1).alias("w1"),
                         F.slice(t, 2, n - 1).alias("w2"))
    bi = (d.filter(n >= 2).select("doc_id", F.explode(pairs).alias("p"))
          .select("doc_id", F.col("p.w1").alias("w1"),
                  F.col("p.w2").alias("w2")))
    c12 = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_pair"))
    c1 = bi.groupBy("w1").agg(F.count(F.lit(1)).alias("n_w1"))
    vocab = (d.select(F.explode(t).alias("w"))
             .agg(F.countDistinct("w").alias("v_size")))
    log_p = F.log((F.col("n_pair") + 1).cast("double")
                  / (F.col("n_w1") + F.col("v_size")).cast("double"))
    ps = (bi.join(c12, ["w1", "w2"])  # vocab-sized: no hint (e8 rule)
          .join(c1, "w1")
          .crossJoin(F.broadcast(vocab))
          .select("doc_id", log_p.alias("lp"))
          .groupBy("doc_id")
          .agg(F.sort_array(F.collect_list("lp")).alias("lps")))
    fold = F.aggregate("lps", F.lit(0.0), lambda a, x: a + x)
    return ps.select(
        "doc_id", F.size("lps").cast("bigint").alias("n_bigrams"),
        F.exp(-fold / F.size("lps")).alias("perplexity"))


@register(
    "t11_word_length_profile",
    oracle="""
SELECT lang,
       CAST(length(tok) AS BIGINT) AS word_len,
       CAST(count(*) AS BIGINT) AS n_words
FROM (SELECT lang, unnest(str_split(text, ' ')) AS tok FROM documents)
WHERE tok <> ''
GROUP BY lang, length(tok)
""",
    tags=("north-star", "text-analysis", "profile"),
)
def t11_word_length_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language word-length histogram — the corpus-profiling signal
    quality filters cut on (token-length distributions separate prose from
    code/tables/garbage). Integer-exact: explode tokens, group by
    (lang, length).

    100 TB: the explode is map-side; the aggregate's key domain is
    |langs| × |lengths| (tiny), so map-side combine collapses the shuffle
    to near-nothing."""
    d = table(spark, sf_dir, "documents")
    return (d.select("lang", F.explode(tokens("text")).alias("tok"))
            .filter(F.col("tok") != "")
            .groupBy("lang", F.length("tok").cast("bigint").alias("word_len"))
            .agg(F.count(F.lit(1)).alias("n_words")))


@register(
    "t12_charclass_profile",
    oracle="""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
            AS BIGINT) AS n_digits,
       CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g'))
            AS BIGINT) AS n_upper,
       CAST(length(text) - length(regexp_replace(text, '[ ]', '', 'g'))
            AS BIGINT) AS n_spaces,
       CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
            AS BIGINT) AS n_punct
FROM documents
""",
    tags=("north-star", "text-analysis", "quality"),
)
def t12_charclass_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-class counts (digits / uppercase / spaces /
    punctuation) via the length-minus-stripped-length identity — the raw
    signals behind casing/symbol quality ratios (t2's family), kept as
    exact integers so the row is hash-verifiable. Spark's regexp_replace
    is global; DuckDB needs the explicit 'g' flag — same class patterns,
    ASCII-only so both engines match code points.

    100 TB: pure map work in whole-stage codegen; no shuffle at all."""
    d = table(spark, sf_dir, "documents")

    def n_class(pattern: str):
        return (F.length("text")
                - F.length(F.regexp_replace("text", pattern, ""))
                ).cast("bigint")

    return d.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars"),
        n_class("[0-9]").alias("n_digits"),
        n_class("[A-Z]").alias("n_upper"),
        n_class("[ ]").alias("n_spaces"),
        n_class("[.,!?;:]").alias("n_punct"))


@register(
    "e41_bigram_topk_per_lang",
    oracle="""
WITH t0 AS (
    SELECT lang, str_split(text, ' ') AS t FROM documents
), bg AS (
    SELECT lang,
           unnest(list_transform(range(1, len(t)),
                                 i -> t[i] || ' ' || t[i+1])) AS bigram
    FROM t0 WHERE len(t) >= 2
), c AS (
    SELECT lang, bigram, count(*) AS n FROM bg GROUP BY 1, 2
), r AS (
    SELECT lang, bigram, CAST(n AS BIGINT) AS n,
           CAST(row_number() OVER (PARTITION BY lang
                                   ORDER BY n DESC, bigram ASC) AS BIGINT)
               AS rk
    FROM c
)
SELECT lang, bigram, n, rk FROM r WHERE rk <= 5
""",
    tags=("north-star", "text-analysis", "topk"),
)
def e41_bigram_topk_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 word bigrams per language — corpus n-gram statistics (e26's
    family) composed with grouped top-k (d10's shape): bigrams built
    in-array (1-based element_at matches DuckDB list indexing), exploded,
    counted, then ranked per language with a lexical tie-break so the
    top-5 is deterministic.

    100 TB: one shuffle on (lang, bigram) with map-side combine; the rank
    window runs over per-lang count tables, and AQE's WindowGroupLimit
    caps the sort at k per partition."""
    dt = (table(spark, sf_dir, "documents")
          .select("lang", tokens("text").alias("toks")))
    bg = (dt.filter(F.size("toks") >= 2)
          .select("lang",
                  F.explode(word_ngrams("toks", 2)).alias("bigram")))
    c = bg.groupBy("lang", "bigram").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("bigram"))
    return (c.withColumn("rk", F.row_number().over(w).cast("bigint"))
            .filter(F.col("rk") <= 5))


@register(
    "t13_zipf_rank_table",
    oracle="""
WITH counts AS (
    SELECT tok AS token, count(*) AS n
    FROM (SELECT unnest(str_split(text, ' ')) AS tok FROM documents)
    WHERE tok <> ''
    GROUP BY tok
), ranked AS (
    SELECT token, CAST(n AS BIGINT) AS n,
           CAST(row_number() OVER (ORDER BY n DESC, token ASC) AS BIGINT)
               AS rank
    FROM counts
)
SELECT rank, token, n, rank * n AS rank_x_n
FROM ranked WHERE rank <= 50
""",
    tags=("north-star", "text-analysis", "zipf"),
)
def t13_zipf_rank_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token-frequency rank table (top 50) with the Zipf diagnostic
    rank x count — constant under Zipf's law, so the column profiles how
    natural the corpus is (flat ⇒ Zipfian; rising ⇒ synthetic/uniform
    vocabularies like this fixture). Integer-exact; (count, token)
    ordering makes ranks deterministic.

    100 TB: the count aggregate map-combines down to |vocabulary| rows;
    the global top-50 then goes through orderBy+limit —
    TakeOrderedAndProject keeps per-partition heaps of 50, so no
    partition ever holds the full vocabulary sort. The final rank window
    runs on 50 collected rows."""
    d = table(spark, sf_dir, "documents")
    counts = (d.select(F.explode(tokens("text")).alias("token"))
              .filter(F.col("token") != "")
              .groupBy("token").agg(F.count(F.lit(1)).alias("n")))
    top = counts.orderBy(F.desc("n"), F.asc("token")).limit(50)
    w = Window.orderBy(F.desc("n"), F.asc("token"))
    return (top.withColumn("rank", F.row_number().over(w).cast("bigint"))
            .select("rank", "token", F.col("n").cast("bigint").alias("n"),
                    (F.col("rank") * F.col("n")).alias("rank_x_n")))


@register(
    "e43_tfidf_cosine_pairs",
    oracle="""
WITH tok AS (
    SELECT doc_id, unnest(str_split(text, ' ')) AS term
    FROM documents WHERE doc_id % 25 = 0
), tf AS (
    SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term
), df AS (
    SELECT term, count(*) AS df FROM tf GROUP BY term
), n AS (
    SELECT count(*)::DOUBLE AS n_docs
    FROM documents WHERE doc_id % 25 = 0
), w AS (
    SELECT tf.doc_id, tf.term,
           tf.tf * (ln((n.n_docs + 1) / (df.df + 1)) + 1) AS wt
    FROM tf JOIN df USING (term), n
), nrm AS (
    SELECT doc_id, sqrt(sum(wt * wt)) AS nrm FROM w GROUP BY doc_id
), dots AS (
    SELECT a.doc_id AS d1, b.doc_id AS d2, sum(a.wt * b.wt) AS dot
    FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT d1, d2,
       round(dot / (na.nrm * nb.nrm), 6) AS cos_tfidf
FROM dots
JOIN nrm na ON d1 = na.doc_id
JOIN nrm nb ON d2 = nb.doc_id
WHERE dot / (na.nrm * nb.nrm) >= 0.2
""",
    tags=("north-star", "E8", "similarity", "tfidf"),
)
def e43_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF-weighted document cosine similarity (pairs >= 0.2 on a
    deterministic 4% sample) — e8's exact weighting composed with e3's
    inverted-index pair join: pairs only materialize for docs SHARING a
    term, and the dot product accumulates per shared term in the same
    join — the sparse-vector similarity plan (no dense vectors, no
    all-pairs). Weighted cosine separates docs that raw token Jaccard
    (e3) scores identically: rare shared terms dominate, stopword overlap
    vanishes. Rounded 6 dp (cross-doc double sums; e8's rule).

    100 TB: same candidate-bounded argument as e3, with df/idf as a
    |vocabulary|-row side (AQE picks the join strategy — no broadcast
    hint, the e8 vocab rule); the production path prunes candidates with
    banded MinHash (e33) before exact re-scoring."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 25 == 0)
    tok = d.select("doc_id", F.explode(tokens("text")).alias("term"))
    tf = (tok.groupBy("doc_id", "term")
          .agg(F.count(F.lit(1)).alias("tf")))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    idf = F.log((F.col("n_docs") + 1) / (F.col("df") + 1)) + 1
    w = (tf.join(df, "term").crossJoin(F.broadcast(n))
         .select("doc_id", "term", (F.col("tf") * idf).alias("wt")))
    nrm = (w.groupBy("doc_id")
           .agg(F.sqrt(F.sum(F.col("wt") * F.col("wt"))).alias("nrm")))
    a, b = w.alias("a"), w.alias("b")
    dots = (a.join(b, (F.col("a.term") == F.col("b.term"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .groupBy(F.col("a.doc_id").alias("d1"),
                     F.col("b.doc_id").alias("d2"))
            .agg(F.sum(F.col("a.wt") * F.col("b.wt")).alias("dot")))
    na, nb = nrm.alias("na"), nrm.alias("nb")
    cos = F.col("dot") / (F.col("na.nrm") * F.col("nb.nrm"))
    return (dots  # per-doc norm join-back: corpus-scaling, no hint
            .join(na, F.col("d1") == F.col("na.doc_id"))
            .join(nb, F.col("d2") == F.col("nb.doc_id"))
            .filter(cos >= 0.2)
            .select("d1", "d2", F.round(cos, 6).alias("cos_tfidf")))


@register(
    "t14_lexical_diversity",
    oracle="""
WITH tok AS (
    SELECT doc_id, unnest(str_split(text, ' ')) AS tok FROM documents
), c AS (
    SELECT doc_id, tok, count(*) AS c
    FROM tok WHERE tok <> '' GROUP BY doc_id, tok
)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_types,
       CAST(count(*) FILTER (WHERE c = 1) AS BIGINT) AS n_hapax,
       round(count(*) / sum(c), 6) AS ttr,
       round(count(*) FILTER (WHERE c = 1) / sum(c), 6) AS hapax_ratio
FROM c GROUP BY doc_id
""",
    tags=("north-star", "text-analysis", "quality"),
)
def t14_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document lexical-diversity profile: type-token ratio and
    hapax-legomenon ratio — the vocabulary-richness signals that separate
    natural prose (high TTR, many hapaxes) from boilerplate/template
    text (low TTR) where t7's character-level repetition ratio is blind
    to word-level templating. Counts are exact integers from one
    explode + two-level aggregate; the two ratios are single divisions
    rounded 6 dp on both engines. Documents with zero non-empty tokens
    drop out of the grouped aggregate identically on both sides.

    100 TB: explode is map-side; the (doc_id, token) pre-aggregate gets
    map-side combine and both aggregation levels shuffle on doc_id-
    prefixed keys, so the second level is nearly shuffle-free under AQE
    partition reuse. No token list is ever collected to one place —
    unlike a naive distinct-count-over-window formulation."""
    d = table(spark, sf_dir, "documents")
    c = (d.select("doc_id", F.explode(tokens("text")).alias("tok"))
         .filter(F.col("tok") != "")
         .groupBy("doc_id", "tok")
         .agg(F.count(F.lit(1)).alias("c")))
    return (c.groupBy("doc_id")
            .agg(F.sum("c").alias("n_tokens"),
                 F.count(F.lit(1)).alias("n_types"),
                 F.count_if(F.col("c") == 1).alias("n_hapax"))
            .select(
                "doc_id", "n_tokens", "n_types", "n_hapax",
                F.round(F.col("n_types") / F.col("n_tokens"), 6)
                .alias("ttr"),
                F.round(F.col("n_hapax") / F.col("n_tokens"), 6)
                .alias("hapax_ratio")))


@register(
    "t15_readability",
    oracle="""
WITH f AS (
    SELECT doc_id,
           CAST(len(list_filter(str_split(lower(text), ' '), t -> t <> ''))
                AS BIGINT) AS n_words,
           CAST(greatest(len(regexp_extract_all(text, '[.!?]')), 1)
                AS BIGINT) AS n_sentences,
           CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                AS BIGINT) AS n_syllables
    FROM documents
)
SELECT doc_id, n_words, n_sentences, n_syllables,
       round(206.835 - 1.015 * (n_words / n_sentences)
                     - 84.6 * (n_syllables / n_words), 6) AS flesch
FROM f WHERE n_words >= 1
""",
    tags=("north-star", "text-analysis", "quality"),
)
def t15_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease scoring with a vowel-group syllable heuristic
    — the classic readability quality signal (long sentences + long
    words => low score) that rounds out the quality-filter family (t2
    ratios, t9 LM score, t14 lexical diversity). Syllables ~ maximal
    [aeiouy]+ runs in the lowercased text (regexp_count ≡ DuckDB
    len(regexp_extract_all)); sentences ~ terminal-punctuation count
    floored at 1 so the ratio never divides by zero; docs with zero
    words are excluded identically on both sides. Counts are exact
    integers; the score is two integer-ratio divisions through a fixed
    literal formula, rounded 6 dp.

    100 TB: pure per-row map work in whole-stage codegen — two regex
    scans and a split per document, no shuffle at all."""
    d = table(spark, sf_dir, "documents")
    low = F.lower(F.col("text"))
    f = d.select(
        "doc_id",
        F.size(F.filter(F.split(low, " "), lambda t: t != ""))
        .cast("bigint").alias("n_words"),
        F.greatest(F.regexp_count(F.col("text"), F.lit("[.!?]")), F.lit(1))
        .cast("bigint").alias("n_sentences"),
        F.regexp_count(low, F.lit("[aeiouy]+"))
        .cast("bigint").alias("n_syllables"))
    return (f.filter(F.col("n_words") >= 1)
            .select("doc_id", "n_words", "n_sentences", "n_syllables",
                    F.round(F.lit(206.835)
                            - F.lit(1.015) * (F.col("n_words")
                                              / F.col("n_sentences"))
                            - F.lit(84.6) * (F.col("n_syllables")
                                             / F.col("n_words")), 6)
                    .alias("flesch")))


#: the Gopher stopword probe set (Rae et al. 2021) — the ONE definition
#: every consumer derives from: t16's Spark body + SQL oracle and
#: e108's chain (quality.py) all read this constant, so the probe set
#: cannot drift between the graded single-stage query and the chain
#: (r11 review finding: three independent copies nearly shipped)
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have",
                    "with")
_GOPHER_STOP_SQL = "[" + ",".join(f"'{w}'" for w in GOPHER_STOPWORDS) + "]"


@register(
    "t16_gopher_rules",
    oracle=f"""
WITH f AS (
    SELECT doc_id,
           list_filter(str_split(text, ' '), t -> t <> '') AS toks
    FROM documents
), m AS (
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_words,
           round(list_sum(list_transform(toks, t -> length(t)))
                 / len(toks), 6) AS mean_word_len,
           round(len(list_filter(toks, t -> regexp_matches(t, '[a-z]')))
                 / len(toks), 6) AS frac_alpha_words,
           CAST(len(list_intersect(list_distinct(toks),
                {_GOPHER_STOP_SQL}))
                AS BIGINT) AS n_stop_hits
    FROM f WHERE len(toks) >= 1
)
SELECT doc_id, n_words, mean_word_len, frac_alpha_words, n_stop_hits,
       CAST(n_words >= 50 AND n_words <= 100000 AS BIGINT) AS ok_count,
       CAST(mean_word_len >= 3 AND mean_word_len <= 10 AS BIGINT)
           AS ok_word_len,
       CAST(frac_alpha_words >= 0.8 AS BIGINT) AS ok_alpha,
       CAST(n_stop_hits >= 2 AS BIGINT) AS ok_stopwords,
       CAST(n_words >= 50 AND n_words <= 100000
            AND mean_word_len >= 3 AND mean_word_len <= 10
            AND frac_alpha_words >= 0.8
            AND n_stop_hits >= 2 AS BIGINT) AS keep
FROM m
""",
    tags=("north-star", "text-analysis", "quality", "gopher"),
)
def t16_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GOPHER quality-filter rule bundle (Rae et al. 2021, the
    published heuristics most production corpus filters start from):
    word-count bounds [50, 100k], mean word length in [3, 10], >= 80% of
    words containing an alphabetic character, and >= 2 distinct hits
    from the paper's stopword probe set — each rule emitted as its own
    0/1 flag next to the raw signal, plus the conjunctive ``keep``, so
    downstream can audit WHICH rule rejected a document (the
    rule-attribution report real pipelines require; t2/t9/t14/t15 carry
    the complementary scoring signals). All counts are exact integers;
    the two ratios are single divisions rounded 6 dp; flags cast BIGINT
    on both sides (boolean columns cross engines as different pandas
    kinds). Symbol-ratio and line-shape Gopher rules are omitted — the
    fixture corpus has no punctuation or newlines, so they would be
    all-constant and unverifiable.

    100 TB: pure per-row map work in whole-stage codegen, no shuffle;
    the keep-list predicate composes with e25's curation pipeline."""
    d = table(spark, sf_dir, "documents")
    toks = F.filter(tokens("text"), lambda t: t != "")
    f = d.select("doc_id", toks.alias("toks")).filter(F.size("toks") >= 1)
    stop = F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
    m = f.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_words"),
        F.round(F.aggregate("toks", F.lit(0).cast("bigint"),
                            lambda a, t: a + F.length(t))
                / F.size("toks"), 6).alias("mean_word_len"),
        F.round(F.size(F.filter("toks", lambda t: t.rlike("[a-z]")))
                / F.size("toks"), 6).alias("frac_alpha_words"),
        F.size(F.array_intersect(F.array_distinct("toks"), stop))
        .cast("bigint").alias("n_stop_hits"))
    ok_count = (F.col("n_words") >= 50) & (F.col("n_words") <= 100000)
    ok_mwl = (F.col("mean_word_len") >= 3) & (F.col("mean_word_len") <= 10)
    ok_alpha = F.col("frac_alpha_words") >= 0.8
    ok_stop = F.col("n_stop_hits") >= 2
    return m.select(
        "doc_id", "n_words", "mean_word_len", "frac_alpha_words",
        "n_stop_hits",
        ok_count.cast("bigint").alias("ok_count"),
        ok_mwl.cast("bigint").alias("ok_word_len"),
        ok_alpha.cast("bigint").alias("ok_alpha"),
        ok_stop.cast("bigint").alias("ok_stopwords"),
        (ok_count & ok_mwl & ok_alpha & ok_stop).cast("bigint")
        .alias("keep"))


@register(
    "e75_feature_hashing",
    oracle=f"""
WITH tok AS (
    SELECT doc_id, unnest(str_split(text, ' ')) AS term FROM documents
), bucketed AS (
    SELECT doc_id,
           {duckdb_rolling_hash('term')} % 64 AS bucket
    FROM tok
)
SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
       count(*) AS n
FROM bucketed GROUP BY doc_id, bucket
""",
    tags=("engine", "ml-prep", "text"),
)
def e75_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick (sklearn FeatureHasher / vw --hash) at corpus
    scale: tokens map straight to a FIXED 64-bucket feature space via
    the repo's portable polynomial rolling hash (integer arithmetic,
    engine-exact — no vocabulary pass, no dictionary to build, ship, or
    keep consistent across training runs), then per-(doc, bucket)
    counts form the sparse feature rows. Collisions are the accepted
    trade-off of the method; determinism means the SAME collisions on
    every engine and every run, which is what makes incremental
    training data appendable.

    100 TB: one explode + one map-side-combinable aggregate; output is
    bounded by docs × 64. The vocabulary-sized intermediate of e8/e18
    never exists — that is the point of the method."""
    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens("text")).alias("term"))
    return (tok.select(
        "doc_id",
        (rolling_hash("term") % 64).cast("bigint").alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("n")))


BOILERPLATE_TOP = 3


@register(
    "e80_boilerplate_ngrams",
    oracle=f"""
WITH t AS (
    SELECT doc_id, source, str_split(text, ' ') AS t FROM documents
), g AS (
    SELECT doc_id, source,
           unnest(list_distinct(list_transform(
               range(1, greatest(len(t) - 3, 0) + 1),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
           ))) AS gram
    FROM t
), df AS (
    SELECT source, gram, CAST(count(*) AS BIGINT) AS doc_freq
    FROM g GROUP BY 1, 2
), nd AS (
    SELECT source, count(*) AS n_docs FROM documents GROUP BY 1
), ranked AS (
    SELECT source, gram, doc_freq,
           row_number() OVER (PARTITION BY source
                              ORDER BY doc_freq DESC, gram) AS rk
    FROM df
)
SELECT r.source, gram, doc_freq, CAST(rk AS BIGINT) AS rk,
       CAST(doc_freq * 10000 // n_docs AS BIGINT) AS doc_share_bp
FROM ranked r JOIN nd USING (source)
WHERE rk <= {BOILERPLATE_TOP}
""",
    tags=("north-star", "llm-pipeline", "quality", "text"),
)
def e80_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOILERPLATE / TEMPLATE MINING per source: the top-3 word-4-grams
    by document frequency within each source, with the share of the
    source's documents containing them (basis points, exact integer
    DIV). Web-scraped corpora carry per-site templates (cookie banners,
    nav bars, license footers); C4/RefinedWeb-style cleaning finds them
    exactly this way — high-doc-frequency n-grams WITHIN a source are
    boilerplate, the same n-grams ACROSS sources are just language. The
    report is the removal candidate list a curation pass reviews.

    Per-doc 4-grams are DISTINCT (presence, not multiplicity — a
    template counts once per doc), built by the guarded
    sequence→transform pattern (e3b's rule: F.when(n>=4, ...) because
    Spark's sequence(1, 0) is DESCENDING). Ranking ties break on the
    gram string so top-3 is deterministic.

    100 TB: explode + one hash aggregate on (source, gram); the
    ranking window partitions by source and WindowGroupLimit prunes to
    top-3 per source before the join-back; per-source doc counts are
    group-bounded. No step is pairwise.

    The token array is MATERIALIZED as a column before the gram lambda
    references it (round-7 finding): a lambda that references an
    enclosing EXPRESSION (``split(text)``) re-evaluates it per element
    reference — 4 element_at × n_grams re-splits per doc made the
    explode O(tokens²) and cost this query 10× (5.6 → 0.5 s at sf0.1).
    ``slice+concat_ws`` replaces the four element_at's for one array
    access per gram."""
    d = table(spark, sf_dir, "documents")
    # fan_out: distinct-4-gram build (slice+concat per position) is the
    # map-side wall; spread the unsplittable scan before it.
    dt = fan_out(d, "doc_id").select(
        "doc_id", "source", tokens("text").alias("toks"))
    tk = F.col("toks")
    grams = F.when(
        F.size(tk) >= 4,
        F.array_distinct(F.transform(
            F.sequence(F.lit(1), F.size(tk) - 3),
            lambda i: F.concat_ws(" ", F.slice(tk, i, 4))))
    ).otherwise(F.array().cast("array<string>"))
    df = (dt.select("doc_id", "source", F.explode(grams).alias("gram"))
          .groupBy("source", "gram")
          .agg(F.count(F.lit(1)).cast("bigint").alias("doc_freq")))
    nd = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    w = Window.partitionBy("source").orderBy(
        F.col("doc_freq").desc(), "gram")
    return (df.withColumn("rk", F.row_number().over(w).cast("bigint"))
            .filter(F.col("rk") <= BOILERPLATE_TOP)
            .join(nd, "source")
            .select("source", "gram", "doc_freq", "rk",
                    F.expr("doc_freq * 10000 DIV n_docs")
                    .alias("doc_share_bp")))


@register(
    "e83_tokenizer_fertility",
    oracle="""
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len(str_split(text, ' '))) AS BIGINT) AS sum_tokens,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(sum(n_chars)::HUGEINT * 1000000
            // sum(len(str_split(text, ' '))) AS BIGINT)
           AS chars_per_token_micro,
       CAST(sum(len(str_split(text, ' ')))::HUGEINT * 1000000
            // count(*) AS BIGINT) AS tokens_per_doc_micro
FROM documents
GROUP BY lang
""",
    tags=("north-star", "llm-pipeline", "text", "stewardship"),
)
def e83_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKENIZER FERTILITY per language: characters per token and tokens
    per document — the compression/fertility table every multilingual
    tokenizer evaluation starts from (a language whose chars-per-token
    is 2× another's pays 2× the context budget for the same text; vocab
    allocation and sampling weights both read this). Ratios are
    fixed-point micro integers (the d112 rule: integer numerators DIV
    denominators, never round-after-divide), products forced to
    DECIMAL/HUGEINT before multiplying (the d116 rule).

    100 TB: one scan, one tiny hash aggregate on lang — the token count
    is computed JVM-side (split+size), no explode, no Python."""
    from pyspark_ml_features_spark.functions.text import tokens

    d = table(spark, sf_dir, "documents")
    return (d.select("lang", "n_chars",
                     F.size(tokens("text")).cast("bigint").alias("n_tok"))
            .groupBy("lang")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.sum("n_tok").alias("sum_tokens"),
                 F.sum("n_chars").cast("bigint").alias("sum_chars"))
            .select("lang", "n_docs", "sum_tokens", "sum_chars",
                    F.expr("CAST(CAST(sum_chars AS DECIMAL(38,0)) * 1000000"
                           " DIV sum_tokens AS BIGINT)")
                    .alias("chars_per_token_micro"),
                    F.expr("CAST(CAST(sum_tokens AS DECIMAL(38,0)) * 1000000"
                           " DIV n_docs AS BIGINT)")
                    .alias("tokens_per_doc_micro")))


@register(
    "t17_vocab_concentration",
    oracle="""
WITH occ AS (
    SELECT source, unnest(str_split(text, ' ')) AS token FROM documents
), f AS (
    SELECT source, token, CAST(count(*) AS BIGINT) AS freq
    FROM occ GROUP BY 1, 2
)
SELECT source,
       CAST(sum(freq) AS BIGINT) AS n_occurrences,
       CAST(count(*) AS BIGINT) AS n_types,
       CAST(sum(freq::HUGEINT * freq) * 1000000
            // (sum(freq)::HUGEINT * sum(freq)) AS BIGINT) AS hhi_micro
FROM f GROUP BY source
""",
    tags=("north-star", "llm-pipeline", "text", "quality"),
)
def t17_vocab_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VOCABULARY CONCENTRATION per source — the Herfindahl index
    Σ (f_i/T)² in exact fixed-point micro units: a source whose token
    mass concentrates in few types (hhi → 1e6) is template/boilerplate
    text; a diverse source sits near 1/n_types. The entropy-free
    concentration diagnostic (log-based entropy can't be an exact
    oracle — no libm transcendentals; HHI carries the same signal in
    pure integer arithmetic). Complements t14's per-document type-token
    ratio with a SOURCE-level, frequency-weighted reading.

    Arithmetic rules: Σ f² and T² cast to DECIMAL(38,0)/HUGEINT before
    multiplying (d116), final ratio is integer DIV (d112). 100 TB: one
    explode + (source, token) aggregate, then a source-sized rollup —
    e80's shuffle shape minus the string join-back."""
    from pyspark_ml_features_spark.functions.text import tokens

    d = table(spark, sf_dir, "documents")
    f = (d.select("source", F.explode(tokens("text")).alias("token"))
         .groupBy("source", "token")
         .agg(F.count(F.lit(1)).cast("bigint").alias("freq")))
    return (f.groupBy("source")
            .agg(F.sum("freq").alias("n_occurrences"),
                 F.count(F.lit(1)).cast("bigint").alias("n_types"),
                 F.sum(F.expr("CAST(freq AS DECIMAL(38,0)) * freq"))
                 .alias("__sf2"))
            .select("source",
                    F.col("n_occurrences").cast("bigint")
                    .alias("n_occurrences"),
                    "n_types",
                    F.expr("CAST(__sf2 * 1000000 DIV"
                           " (CAST(n_occurrences AS DECIMAL(38,0))"
                           " * n_occurrences) AS BIGINT)")
                    .alias("hhi_micro")))


LANGID_TOP_K = 30


LANGID_SCAN_CHARS = 1000


#: the Cavnar-Trenkle prediction pipeline as a reusable CTE block ending
#: in a `pred` relation (doc_id, lang, predicted_lang, best_score) — ONE
#: SQL definition shared by t18's oracle and e111's chain oracle
#: (below), mirroring the dup_cluster_assignment single-definition
#: rule so the two graded queries cannot drift in the prediction
#: arithmetic
LANGID_PRED_CTE = f"""
WITH h AS (
    SELECT doc_id, lang, substr(text, 1, {LANGID_SCAN_CHARS}) AS head
    FROM documents
), g AS (
    SELECT doc_id, lang,
           CASE WHEN len(head) >= 3 THEN list_transform(
               range(1, len(head) - 1), i -> substr(head, i, 3))
           ELSE [] END AS gs
    FROM h
), tr AS (
    SELECT lang, unnest(gs) AS gram FROM g WHERE doc_id % 10 < 8
), cnt AS (
    SELECT lang, gram, count(*) AS c FROM tr GROUP BY lang, gram
), prof AS (
    SELECT lang, gram FROM (
        SELECT lang, gram, row_number() OVER (
            PARTITION BY lang ORDER BY c DESC, gram) AS rn
        FROM cnt) WHERE rn <= {LANGID_TOP_K}
), te AS (
    SELECT doc_id, lang, unnest(list_distinct(gs)) AS gram
    FROM g WHERE doc_id % 10 >= 8
), sc AS (
    SELECT te.doc_id, te.lang, prof.lang AS lang2,
           CAST(count(*) AS BIGINT) AS score
    FROM te JOIN prof ON te.gram = prof.gram
    GROUP BY te.doc_id, te.lang, prof.lang
), b AS (
    SELECT doc_id, max(score) AS best FROM sc GROUP BY doc_id
), pred AS (
    SELECT sc.doc_id, sc.lang, max(sc.lang2) AS predicted_lang,
           CAST(b.best AS BIGINT) AS best_score
    FROM sc JOIN b ON sc.doc_id = b.doc_id AND sc.score = b.best
    GROUP BY sc.doc_id, sc.lang, b.best
)
"""


@register(
    "t18_char_ngram_langid",
    oracle=LANGID_PRED_CTE
    + "SELECT doc_id, lang, predicted_lang, best_score FROM pred",
    tags=("north-star", "text-analysis", "langid"),
)
def t18_char_ngram_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHARACTER-N-GRAM language ID — the classic Cavnar-Trenkle n-gram
    profile heuristic (the brief's "language-ID (n-gram heuristic)"
    item; t1's marker-word scorer is the dictionary variant). Train
    slice (doc_id % 10 < 8) builds a top-{LANGID_TOP_K} char-trigram
    profile per language (count desc, gram tie-break); each held-out
    doc is scored by how many of its DISTINCT trigrams hit each
    profile, predicted = argmax score with max-lang tie-break (the
    two-level max construction — portable where composite arg_max is
    not). Docs sharing no trigram with any profile drop out (inner
    scoring join) on both engines.

    100 TB: the profile is (langs × K) rows and BROADCASTS; the
    held-out side is one explode + two bounded aggregates (per-doc
    groups ≤ n_langs rows). No corpus-×-corpus work. The corpus-sized
    train explode extracts grams as positions-explode → substring so
    the substring runs inside WHOLE-STAGE CODEGEN — a
    transform()-lambda does the same work interpreted per element
    (~25% slower measured at sf0.1); the held-out side keeps the
    array form because per-doc array_distinct is shuffle-free where a
    row-level DISTINCT would shuffle.

    SCAN WINDOW: language ID reads only the first LANGID_SCAN_CHARS
    characters per doc (the fastText convention — a prefix identifies
    the language as well as the whole document). This is also the
    quadratic bound: ``substring(s, i, 3)`` seeks the char position in
    O(i) (UTF8 boundary walk), so unbounded extraction is O(chars²)
    per doc — invisible at the fixture's ~300 chars, real on 100 KB
    web documents. The cap makes per-doc cost O(min(chars, W)²) with
    W fixed; identical results (and hashes) on any doc shorter than
    the window, mirrored as substr(text, 1, W) in the oracle."""
    return langid_predictions(spark, sf_dir)


def langid_predictions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t18's prediction pipeline as a reusable helper — (doc_id, lang,
    predicted_lang, best_score) for the held-out slice; the ONE Spark
    definition shared by t18 and e111's chain (below), paired with
    LANGID_PRED_CTE on the SQL side."""
    # fan_out: trigram extraction is O(min(chars, W)^2) per doc on both
    # the train and held-out lineages; the unsplittable single-row-group
    # scan otherwise runs every extraction on one task.
    d = fan_out(table(spark, sf_dir, "documents")
                .select("doc_id", "lang",
                        F.substring("text", 1, LANGID_SCAN_CHARS)
                        .alias("head")), "doc_id")
    grams = F.when(
        F.length("head") >= 3,
        F.transform(F.sequence(F.lit(1), F.length("head") - 2),
                    lambda i: F.substring(F.col("head"), i, F.lit(3))),
    ).otherwise(F.array().cast("array<string>"))
    g = d.select("doc_id", "lang", grams.alias("gs"))
    cnt = (d.filter((F.col("doc_id") % 10 < 8) & (F.length("head") >= 3))
           .select("lang", "head",
                   F.explode(F.sequence(F.lit(1), F.length("head") - 2))
                   .alias("i"))
           .select("lang", F.expr("substring(head, i, 3)").alias("gram"))
           .groupBy("lang", "gram").agg(F.count(F.lit(1)).alias("c")))
    w = Window.partitionBy("lang").orderBy(F.col("c").desc(), "gram")
    prof = (cnt.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= LANGID_TOP_K)
            .select(F.col("lang").alias("lang2"), "gram"))
    te = (g.filter(F.col("doc_id") % 10 >= 8)
          .select("doc_id", "lang",
                  F.explode(F.array_distinct("gs")).alias("gram")))
    sc = (te.join(F.broadcast(prof), "gram")
          .groupBy("doc_id", "lang", "lang2")
          .agg(F.count(F.lit(1)).cast("bigint").alias("score")))
    wb = Window.partitionBy("doc_id")
    return (sc.withColumn("best", F.max("score").over(wb))
            .filter(F.col("score") == F.col("best"))
            .groupBy("doc_id", "lang", "best")
            .agg(F.max("lang2").alias("predicted_lang"))
            .select("doc_id", "lang", "predicted_lang",
                    F.col("best").cast("bigint").alias("best_score")))


def _e111_oracle() -> str:

    return LANGID_PRED_CTE + """
, toks AS (
    SELECT p.doc_id, p.predicted_lang,
           CAST(len(list_filter(str_split(d.text, ' '), t -> t <> ''))
                AS BIGINT) AS nt
    FROM pred p JOIN documents d ON d.doc_id = p.doc_id
), per AS (
    SELECT predicted_lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(nt) AS BIGINT) AS n_tokens
    FROM toks GROUP BY predicted_lang
), t AS (
    SELECT predicted_lang, n_docs, n_tokens,
           sum(n_tokens) OVER () AS total,
           CASE predicted_lang
                WHEN 'en' THEN 4000 WHEN 'de' THEN 1500
                WHEN 'es' THEN 1500 WHEN 'fr' THEN 1500
                WHEN 'zh' THEN 1500 ELSE 0 END AS target_bp
    FROM per
)
SELECT predicted_lang, n_docs, n_tokens,
       CAST(10000 * n_tokens // total AS BIGINT) AS actual_share_bp,
       CAST(target_bp AS BIGINT) AS target_bp,
       CAST(100 * target_bp * total // n_tokens AS BIGINT) AS weight_ppm,
       CAST((target_bp * total + 10000 * n_tokens - 1)
            // (10000 * n_tokens) AS BIGINT) AS epochs
FROM t
"""


@register(
    "e111_langid_mix_chain",
    oracle=_e111_oracle(),
    tags=("north-star", "llm-pipeline", "langid", "mixing",
          "integration"),
)
def e111_langid_mix_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LANGUAGE-ID → MIXTURE-REBALANCE chain (the last composition class
    the r12 plan named): t18's Cavnar-Trenkle predictions assign each
    held-out document a PREDICTED language, and e57's mixture arithmetic
    then runs over those predictions instead of the labeled lang column
    — the production order of operations (real corpora arrive
    unlabeled; the mixture you can actually sample is over what the
    classifier SAYS, so rebalance weights must be computed downstream
    of language ID). The chain is load-bearing: one flipped prediction
    moves a document's tokens between languages and changes two output
    rows' counts, shares, and weights at once. All arithmetic is
    INTEGER fixed-point (shares in basis points via 10000·n DIV total,
    weights in ppm via 100·target_bp·total DIV n_tokens, epochs as an
    integer ceiling) — the d112 rule: BIGINT ratios must never round a
    float quotient behind an exact oracle. The oracle replays the
    prediction CTE (LANGID_PRED_CTE, the same block that grades t18)
    plus the mixture query; langid_predictions is the same Spark helper
    t18 returns, so neither stage can drift from its graded
    single-stage twin.

    100 TB: stage 1 is t18's economics (langs×K profile broadcast, one
    held-out explode); stage 2 adds one doc_id join to fetch token
    counts and one |predicted-langs|-row aggregate — the global-total
    window runs over that bounded aggregate, never data.

    Cites: textops.py:t18_char_ngram_langid (langid_predictions),
    packing.py:e57_lang_mix_rebalance."""

    preds = langid_predictions(spark, sf_dir).select(
        "doc_id", "predicted_lang")
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.filter(tokens("text"), lambda t: t != ""))
        .cast("bigint").alias("nt"))
    per = (preds.join(d, "doc_id")
           .groupBy("predicted_lang")
           .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.sum("nt").cast("bigint").alias("n_tokens")))
    from pyspark.sql import Window

    target = (F.when(F.col("predicted_lang") == "en", F.lit(4000))
              .when(F.col("predicted_lang").isin("de", "es", "fr", "zh"),
                    F.lit(1500))
              .otherwise(F.lit(0)).cast("bigint"))
    t = (per.withColumn("total",
                        F.sum("n_tokens").over(Window.partitionBy()))
         .withColumn("target_bp", target))
    return t.select(
        "predicted_lang", "n_docs", "n_tokens",
        F.expr("CAST(10000L * n_tokens DIV total AS BIGINT)")
        .alias("actual_share_bp"),
        "target_bp",
        F.expr("CAST(100L * target_bp * total DIV n_tokens AS BIGINT)")
        .alias("weight_ppm"),
        F.expr("CAST((target_bp * total + 10000L * n_tokens - 1) "
               "DIV (10000L * n_tokens) AS BIGINT)").alias("epochs"))
