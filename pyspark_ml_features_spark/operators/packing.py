"""Training-data preparation family: embedding quantization, chunking,
sequence packing, hash-based splits and sharding, vocabulary construction
and token encoding, mixtures and batching — the batch steps between a
cleaned corpus and a training run.

The core operators are pure SQL expressions with exact oracles:
quantization and splits are integer arithmetic; packing is a per-partition
running sum (deterministic order); vocab is label_index generalized to
tokens.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from pyspark_ml_features_spark.functions.text import (
    duckdb_rolling_hash,
    rolling_hash,
    tokens,
)
from pyspark_ml_features_spark.operators.dedup import jaccard_pairs
from pyspark_ml_features_spark.registry import register
from pyspark_ml_features_spark.sources import table

PACK_TARGET_TOKENS = 256


@register(
    "e15_embedding_quantize",
    oracle="""
WITH scaled AS (
    SELECT vec_id,
           list_reduce(list_prepend(0.0::DOUBLE,
               list_transform(embedding::DOUBLE[], x -> abs(x))),
               (acc, x) -> greatest(acc, x)) AS max_abs
    , embedding::DOUBLE[] AS emb
    FROM embeddings
)
SELECT vec_id, max_abs, i - 1 AS dim,
       round(emb[i] * 127.0 / max_abs)::BIGINT AS q_value
FROM scaled, unnest(range(1, len(emb) + 1)) AS t(i)
""",
    tags=("north-star", "quantization"),
)
def e15_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of embeddings: scale by 127/max|x| per
    vector, round to integers — 8× storage reduction for ANN shortlists.
    Deterministic fold for max_abs; round() ties resolve identically on
    positive/negative values across engines (away from zero). Output is the
    exploded (vec_id, max_abs, dim, q_value) form — array cells break the
    harness canonicalizer (round-1 driver FAIL; e11's pattern)."""
    from pyspark_ml_features_spark.functions.arrays import to_double_array

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double_array("embedding").alias("emb"))
    max_abs = F.aggregate(
        F.transform(F.col("emb"), lambda x: F.abs(x)),
        F.lit(0.0), lambda acc, x: F.greatest(acc, x))
    e = e.withColumn("max_abs", max_abs)
    exploded = e.select("vec_id", "max_abs",
                        F.posexplode("emb").alias("dim", "value"))
    return exploded.select(
        "vec_id", "max_abs", "dim",
        F.round(F.col("value") * 127.0 / F.col("max_abs"), 0)
         .cast("bigint").alias("q_value"))


@register(
    "e16_sequence_packing",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, lang, len(str_split(text, ' '))::BIGINT AS n_tokens
    FROM documents
), packed AS (
    SELECT doc_id, lang, n_tokens,
           ((sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id ASC
                                 ROWS UNBOUNDED PRECEDING) - 1)
            // {PACK_TARGET_TOKENS})::BIGINT AS pack_id
    FROM toks
)
SELECT lang, pack_id,
       count(*) AS n_docs,
       sum(n_tokens)::BIGINT AS pack_tokens,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc
FROM packed
GROUP BY lang, pack_id
""",
    tags=("north-star", "packing"),
)
def e16_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for LLM training: assign documents (per language,
    in doc_id order) to ~{target}-token packs via a running token sum —
    the deterministic streaming-friendly packing rule (a doc goes to the
    pack its cumulative end lands in). One window shuffle on lang; at
    100 TB the partition key is (lang, shard) and packs are written as
    row groups."""
    d = table(spark, sf_dir, "documents")
    n_tok = F.size(tokens("text")).cast("bigint")
    toks = d.select("doc_id", "lang", n_tok.alias("n_tokens"))
    w = (Window.partitionBy("lang").orderBy(F.asc("doc_id"))
         .rowsBetween(Window.unboundedPreceding, 0))
    packed = toks.withColumn(
        "pack_id",
        F.floor((F.sum("n_tokens").over(w) - 1) / PACK_TARGET_TOKENS))
    return packed.groupBy("lang", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("pack_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"))


@register(
    "e17_hash_split",
    oracle=f"""
WITH hashed AS (
    SELECT doc_id, {duckdb_rolling_hash('text')} % 100 AS bucket
    FROM documents
)
SELECT doc_id,
       CASE WHEN bucket < 80 THEN 'train'
            WHEN bucket < 90 THEN 'val'
            ELSE 'test' END AS split
FROM hashed
""",
    tags=("north-star", "split"),
)
def e17_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split keyed on a content hash —
    stable under re-runs, re-partitioning, and corpus growth (a document's
    split never changes), unlike rand()-based splits. The B9 modulo split
    generalized to the content-addressed form used for training corpora."""
    d = table(spark, sf_dir, "documents")
    bucket = F.pmod(rolling_hash("text"), F.lit(100))
    return d.select(
        "doc_id",
        F.when(bucket < 80, "train")
         .when(bucket < 90, "val")
         .otherwise("test").alias("split"))


def vocab_with_ids(docs):
    """SHARED vocabulary id assignment (the e18 contract): token ->
    (freq, token_id) with ids dense-ranked by (freq DESC, token ASC).
    One definition for e18/e24/e105 — the exact arithmetic several
    oracles depend on lives here and nowhere else. The frequency
    aggregate partial-combines map-side; the ranking window runs over
    the vocabulary-bounded table, never the corpus."""
    freq = (docs.select(F.explode(tokens("text")).alias("token"))
            .groupBy("token").agg(F.count(F.lit(1)).alias("freq")))
    w = Window.orderBy(F.desc("freq"), F.asc("token"))
    return freq.select(
        "token", "freq",
        (F.dense_rank().over(w) - 1).cast("bigint").alias("token_id"))



@register(
    "e18_vocab_build",
    oracle="""
WITH counts AS (
    SELECT unnest(str_split(text, ' ')) AS token FROM documents
), freq AS (
    SELECT token, count(*) AS freq FROM counts GROUP BY token
)
SELECT token, freq,
       (dense_rank() OVER (ORDER BY freq DESC, token ASC) - 1)::BIGINT AS token_id
FROM freq
""",
    tags=("north-star", "vocab"),
)
def e18_vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary construction: token → (freq, id) with ids assigned by
    descending frequency (lexical ties) — label_index generalized to the
    token domain. The shuffle is bounded by vocabulary size after map-side
    partial counts; the id-assignment window runs over the vocab table,
    never the corpus."""
    return vocab_with_ids(table(spark, sf_dir, "documents"))


@register(
    "e22_source_mix",
    oracle="""
WITH w AS (
    SELECT doc_id, source,
           100 - 4 * regexp_extract(source, 'src([0-9]+)', 1)::INT AS weight_pct
    FROM documents
)
SELECT doc_id, source, weight_pct::BIGINT AS weight_pct
FROM w
WHERE doc_id % 100 < weight_pct
""",
    tags=("north-star", "mixing"),
)
def e22_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix construction: down-sample each source to a configured
    weight (here weight_pct = 100 - 4·source_index, i.e. src0 keeps 100%,
    src19 keeps 24%) using a deterministic id-modulo gate instead of rand()
    — the selection is reproducible run-to-run and engine-exact, which is
    what makes corpus mixes auditable. At 100 TB this is a pure codegen
    filter: no shuffle, no state, prunes at the scan when sources are
    partition columns."""
    d = table(spark, sf_dir, "documents")
    weight = (F.lit(100)
              - 4 * F.regexp_extract("source", "src([0-9]+)", 1).cast("int"))
    return (d.select("doc_id", "source",
                     weight.cast("bigint").alias("weight_pct"))
            .filter(F.col("doc_id") % 100 < F.col("weight_pct")))


@register(
    "e24_tokenize_to_ids",
    oracle="""
WITH counts AS (
    SELECT unnest(str_split(text, ' ')) AS token FROM documents
), freq AS (
    SELECT token, count(*) AS freq FROM counts GROUP BY token
), vocab AS (
    SELECT token,
           (dense_rank() OVER (ORDER BY freq DESC, token ASC) - 1)::BIGINT
               AS token_id
    FROM freq
), t AS (
    SELECT doc_id, str_split(text, ' ') AS tok FROM documents
), p AS (
    SELECT doc_id, tok[i + 1] AS token, i AS pos
    FROM t, unnest(range(0, len(tok))) AS u(i)
)
SELECT p.doc_id, p.pos::BIGINT AS pos, v.token_id
FROM p JOIN vocab v ON v.token = p.token
""",
    tags=("north-star", "vocab", "tokenize"),
)
def e24_tokenize_to_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary APPLICATION — encode every document as token ids using the
    e18_vocab_build id assignment: (doc_id, pos, token_id) rows, the
    materialized form a training dataloader consumes. The vocab is
    vocabulary-bounded (fits in memory at any corpus size) and broadcast, so
    the corpus side never shuffles — encoding 100 TB is a map-only stage
    after one vocab-sized aggregation."""
    d = table(spark, sf_dir, "documents")
    vocab = vocab_with_ids(d).select("token", "token_id")
    toks = d.select("doc_id", F.posexplode(tokens("text")).alias("pos", "token"))
    return (toks.join(F.broadcast(vocab), "token")
            .select("doc_id", F.col("pos").cast("bigint").alias("pos"),
                    "token_id"))


CHUNK_SIZE = 128
CHUNK_STRIDE = 64


@register(
    "e23_chunk_documents",
    oracle=f"""
WITH t AS (
    SELECT doc_id, str_split(text, ' ') AS tok FROM documents
), c AS (
    SELECT doc_id, tok, i AS chunk_id
    FROM t, unnest(range(0, (len(tok) - 1) // {CHUNK_STRIDE} + 1)) AS u(i)
    WHERE len(tok) > 0
)
SELECT doc_id, chunk_id::BIGINT AS chunk_id,
       len(list_slice(tok, chunk_id * {CHUNK_STRIDE} + 1,
                      chunk_id * {CHUNK_STRIDE} + {CHUNK_SIZE}))::BIGINT
           AS n_chunk_tokens,
       array_to_string(list_slice(tok, chunk_id * {CHUNK_STRIDE} + 1,
                                  chunk_id * {CHUNK_STRIDE} + {CHUNK_SIZE}),
                       ' ') AS chunk_text
FROM c
""",
    tags=("north-star", "chunking"),
)
def e23_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: split each document into overlapping
    128-token windows with stride 64 — the standard pre-tokenization step
    for fixed-context training and RAG indexing.
    Implemented as sequence→transform→posexplode (one shuffle-free flatMap;
    row count grows ~2× with 50% overlap, bounded and predictable). Output
    rows are (doc_id, chunk_id, n_chunk_tokens, chunk_text) scalars with an
    exact oracle (pure integer slicing)."""
    # Token array materialized before the chunk lambda (word_ngrams'
    # quadratic-re-evaluation rule in functions/text.py).
    d = (table(spark, sf_dir, "documents")
         .select("doc_id", tokens("text").alias("__toks")))
    t = F.col("__toks")
    n_tok = F.size(t)
    n_chunks = (F.floor((n_tok - 1) / CHUNK_STRIDE) + 1).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.slice(t, i * CHUNK_STRIDE + 1, CHUNK_SIZE))
    return (d.filter(n_tok > 0)
            .select("doc_id", F.posexplode(chunks).alias("chunk_id", "chunk"))
            .select("doc_id",
                    F.col("chunk_id").cast("bigint").alias("chunk_id"),
                    F.size("chunk").cast("bigint").alias("n_chunk_tokens"),
                    F.concat_ws(" ", "chunk").alias("chunk_text")))


@register(
    "e25_corpus_curation",
    oracle=f"""
WITH m AS (
    SELECT doc_id, lang, source, text,
           len(str_split(text, ' '))::DOUBLE AS n_tokens,
           len(list_distinct(str_split(text, ' ')))::DOUBLE AS n_distinct,
           len(list_filter(str_split(text, ' '),
               t -> list_contains(['the', 'a', 'of', 'and', 'is'], t)))::DOUBLE
               AS n_stop,
           list_sum(list_transform(str_split(text, ' '),
                                   t -> length(t)))::DOUBLE AS total_chars
    FROM documents
), scored AS (
    SELECT doc_id, lang, source, text,
           0.3 * (n_distinct / n_tokens)
             + 0.3 * (1.0 - n_stop / n_tokens)
             + 0.4 * least((total_chars / n_tokens) / 10.0, 1.0)
               AS quality_score,
           100 - 4 * regexp_extract(source, 'src([0-9]+)', 1)::INT AS weight_pct
    FROM m
)
SELECT doc_id, lang, source, quality_score,
       CASE WHEN {duckdb_rolling_hash('text')} % 100 < 80 THEN 'train'
            WHEN {duckdb_rolling_hash('text')} % 100 < 90 THEN 'val'
            ELSE 'test' END AS split
FROM scored
WHERE quality_score >= 0.5 AND doc_id % 100 < weight_pct
""",
    tags=("north-star", "curation", "pipeline"),
)
def e25_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END corpus curation — the composition a training-data run
    actually executes: quality-gate (t2's score >= 0.5), source mixing
    (e22's deterministic weight gate), then content-hash split assignment
    (e17). One pass, zero shuffles: every stage is a codegen'd map/filter
    over the same scan, which is the point — curation of 100 TB is
    embarrassingly parallel when each policy is expressed as a
    deterministic column expression instead of a sampling pass. The score
    comparison is safe behind an exact oracle because t2's arithmetic is
    bit-identical across engines (fixed evaluation order, no libm)."""
    from pyspark_ml_features_spark.functions.text import STOPWORDS

    d = table(spark, sf_dir, "documents")
    toks = tokens("text")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_tokens = F.size(toks).cast("double")
    n_distinct = F.size(F.array_distinct(toks)).cast("double")
    n_stop = F.size(
        F.filter(toks, lambda t: F.array_contains(stop_arr, t))).cast("double")
    total_chars = F.aggregate(
        toks, F.lit(0).cast("bigint"), lambda acc, t: acc + F.length(t)
    ).cast("double")
    quality = (F.lit(0.3) * (n_distinct / n_tokens)
               + F.lit(0.3) * (F.lit(1.0) - n_stop / n_tokens)
               + F.lit(0.4) * F.least((total_chars / n_tokens) / 10.0,
                                      F.lit(1.0)))
    weight = (F.lit(100)
              - 4 * F.regexp_extract("source", "src([0-9]+)", 1).cast("int"))
    bucket = F.pmod(rolling_hash("text"), F.lit(100))
    split = (F.when(bucket < 80, "train")
             .when(bucket < 90, "val").otherwise("test"))
    return (d.select("doc_id", "lang", "source",
                     quality.alias("quality_score"), split.alias("split"),
                     weight.alias("w"))
            .filter((F.col("quality_score") >= 0.5)
                    & (F.col("doc_id") % 100 < F.col("w")))
            .drop("w"))


@register(
    "e26_bigram_lm",
    oracle="""
WITH t AS (
    SELECT str_split(text, ' ') AS tok FROM documents
), b AS (
    SELECT tok[i] AS w1, tok[i + 1] AS w2
    FROM t, unnest(range(1, len(tok))) AS u(i)
), c12 AS (
    SELECT w1, w2, count(*) AS n_pair FROM b GROUP BY w1, w2
)
SELECT w1, w2, n_pair,
       (sum(n_pair) OVER (PARTITION BY w1))::BIGINT AS n_w1,
       n_pair / (sum(n_pair) OVER (PARTITION BY w1))::DOUBLE AS cond_p
FROM c12
""",
    tags=("north-star", "text-analysis", "lm"),
)
def e26_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model statistics: corpus-wide pair counts and the
    conditional probability p(w2|w1) = n(w1,w2)/n(w1·) — the foundation of
    LM-based quality filtering and classic perplexity scoring. Bigram
    extraction is a shuffle-free flatMap (zip the token array with its own
    tail); the aggregate and window both run over the vocabulary² space,
    which is bounded regardless of corpus size — the same
    "shuffle the statistics, not the corpus" shape as e18. The probability
    is one exact double division (no logs — libm stays out of oracle
    paths)."""
    d = table(spark, sf_dir, "documents")
    t = tokens("text")
    n = F.size(t)
    pairs = F.arrays_zip(F.slice(t, 1, n - 1).alias("w1"),
                         F.slice(t, 2, n - 1).alias("w2"))
    b = (d.filter(n >= 2)
         .select(F.explode(pairs).alias("p"))
         .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")))
    c12 = b.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_pair"))
    w = Window.partitionBy("w1")
    n_w1 = F.sum("n_pair").over(w)
    return c12.select(
        "w1", "w2", "n_pair", n_w1.alias("n_w1"),
        (F.col("n_pair") / n_w1.cast("double")).alias("cond_p"))


GREEDY_PACK_CAP = 120


# The exact greedy-pack fold as a DuckDB RECURSIVE CTE — shared by e51
# (bin assignment) and e77 (within-bin boundary offsets).
_GREEDY_PACK_CTE = f"""
WITH RECURSIVE docs AS (
    SELECT lang, doc_id % 4 AS shard, doc_id,
           len(string_split(text, ' '))::BIGINT AS n_tokens,
           row_number() OVER (PARTITION BY lang, doc_id % 4
                              ORDER BY doc_id) AS rn
    FROM documents
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
"""


@register(
    "e51_greedy_packing",
    oracle=_GREEDY_PACK_CTE
    + "SELECT lang, shard, doc_id, n_tokens, bin_id FROM pack",
    tags=("north-star", "packing", "udf"),
)
def e51_greedy_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GREEDY capacity-respecting sequence packing — the first-fit-in-order
    rule real training pipelines use when a pack must NEVER exceed the
    context window: walk documents in doc_id order and open a new bin
    whenever adding the next doc would push the current bin past
    {GREEDY_PACK_CAP} tokens (an oversized doc still gets its own bin).
    Unlike e16's cumulative-sum rule (which lets a doc straddle the pack
    boundary), this fold carries state that RESETS — not expressible as a
    window function, so the engine runs it as an Arrow-batched
    ``applyInPandas`` over (lang, shard) groups while the oracle mirrors
    the exact fold as a DuckDB RECURSIVE CTE stepping one row per group per
    iteration.

    Sharding IS the scale story: packing only needs sequential order
    WITHIN a shard, so the group key is (lang, doc_id % 4) — at 100 TB you
    raise the shard count until each group fits an executor's memory, and
    skewed languages split across shards instead of hot-spotting one task
    (the 43%-English corpus never lands on one core; measured: the shard
    knob divides the max per-task group linearly, DESIGN_SCALE "Packing
    shard tiers"). Token counts are computed Spark-side (JVM split+size);
    only (key, n_tokens) reaches Python — the text column never crosses
    the Arrow boundary."""
    return greedy_pack(pack_input(table(spark, sf_dir, "documents")),
                       GREEDY_PACK_CAP)


def pack_input(d: DataFrame, shards: int = 4) -> DataFrame:
    """e51's packing input: (lang, shard = doc_id % shards, doc_id,
    n_tokens) per document — ``shards`` is the per-task state knob."""
    return d.select("lang", (F.col("doc_id") % shards).alias("shard"), "doc_id",
                    F.size(tokens("text")).cast("bigint").alias("n_tokens"))


def greedy_pack(base: DataFrame, capacity: int) -> DataFrame:
    """Reusable first-fit-in-order packing fold (e51's engine): ``base``
    carries (lang, shard, doc_id, n_tokens); each (lang, shard) group is
    walked in doc_id order, opening a new bin whenever the next doc would
    exceed ``capacity`` (an oversized doc still gets its own bin). Only
    these four scalar columns cross the Arrow boundary. Returns base +
    ``bin_id`` (1-based per group)."""
    import pandas as pd

    def pack_group(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        bin_id, fill, out = 0, 0, []
        for n in pdf["n_tokens"]:
            if bin_id == 0 or fill + n > capacity:
                bin_id += 1
                fill = n
            else:
                fill += n
            out.append(bin_id)
        pdf["bin_id"] = pd.Series(out, dtype="int64")
        return pdf[["lang", "shard", "doc_id", "n_tokens", "bin_id"]]

    return base.groupBy("lang", "shard").applyInPandas(
        pack_group,
        schema="lang string, shard bigint, doc_id bigint, "
               "n_tokens bigint, bin_id bigint")


@register(
    "e77_packed_boundaries",
    oracle=_GREEDY_PACK_CTE + """
SELECT lang, shard, bin_id, doc_id, n_tokens,
       CAST(row_number() OVER (PARTITION BY lang, shard, bin_id
                               ORDER BY doc_id) AS BIGINT) AS seq_pos,
       CAST(sum(n_tokens) OVER (PARTITION BY lang, shard, bin_id
                                ORDER BY doc_id)
            - n_tokens AS BIGINT) AS tok_start
FROM pack
""",
    tags=("north-star", "llm-pipeline", "packing"),
)
def e77_packed_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document BOUNDARY OFFSETS within packed training sequences — the
    bookkeeping a trainer needs AFTER packing (e51): for every doc in a
    bin, its 1-based position (``seq_pos``, where to insert BOS/EOS) and
    its 0-based token start offset (``tok_start``, where its span begins
    in the concatenated sequence) so attention masks can block
    cross-document attention and loss masks can skip separator tokens.
    Packing without boundary metadata silently trains on cross-doc
    attention — this is the half of the packing contract e51 doesn't
    carry.

    Spark side: e51's fold assigns bins, then one window per
    (lang, shard, bin_id) — a key STRICTLY FINER than the packing
    shuffle's (lang, shard), so the window reuses that partitioning
    (hash(lang, shard) co-locates every bin) and each frame is bounded
    by the bin capacity (GREEDY_PACK_CAP = 120 tokens), never by corpus
    size. Oracle = the same recursive-CTE fold + a plain window.

    100 TB: inherits e51's shard-knob scale story; the boundary pass
    adds zero shuffles beyond the pack itself."""
    d = table(spark, sf_dir, "documents")
    n_tok = F.size(tokens("text")).cast("bigint")
    base = d.select("lang", (F.col("doc_id") % 4).alias("shard"),
                    "doc_id", n_tok.alias("n_tokens"))
    packed = greedy_pack(base, GREEDY_PACK_CAP)
    w = (Window.partitionBy("lang", "shard", "bin_id").orderBy("doc_id"))
    return packed.select(
        "lang", "shard", "bin_id", "doc_id", "n_tokens",
        F.row_number().over(w).cast("bigint").alias("seq_pos"),
        (F.sum("n_tokens").over(w) - F.col("n_tokens"))
        .cast("bigint").alias("tok_start"))


OOV_VOCAB_K = 500


@register(
    "e53_oov_rate",
    oracle=f"""
WITH counts AS (
    SELECT unnest(str_split(text, ' ')) AS token FROM documents
), freq AS (
    SELECT token, count(*) AS freq FROM counts GROUP BY token
), vocab AS (
    SELECT token FROM freq
    QUALIFY row_number() OVER (ORDER BY freq DESC, token ASC) <= {OOV_VOCAB_K}
), doc_tokens AS (
    SELECT doc_id, unnest(str_split(text, ' ')) AS token FROM documents
)
SELECT d.doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(count(*) FILTER (WHERE v.token IS NULL) AS BIGINT) AS n_oov,
       count(*) FILTER (WHERE v.token IS NULL)::DOUBLE / count(*) AS oov_rate
FROM doc_tokens d LEFT JOIN vocab v ON d.token = v.token
GROUP BY d.doc_id
""",
    tags=("north-star", "vocab", "quality"),
)
def e53_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per document against the top-{OOV_VOCAB_K}
    corpus vocabulary (e18's construction truncated by the total
    (freq desc, token asc) order) — the coverage check run before freezing
    a tokenizer vocab: documents with high OOV rates are the ones a
    vocab-K decision silently degrades. Counting is by OCCURRENCE
    (multiplicity), not distinct type, because training loss is per token.

    100 TB: the vocabulary is corpus-bounded (top-K rows) and broadcasts;
    the corpus explodes once, joins map-side against the broadcast vocab,
    and re-aggregates on doc_id — the same shuffle the token count already
    needs. The top-K itself is a TakeOrderedAndProject over the
    vocab-sized frequency table, never a full sort."""
    d = table(spark, sf_dir, "documents")
    freq = (d.select(F.explode(tokens("text")).alias("token"))
            .groupBy("token").agg(F.count(F.lit(1)).alias("freq")))
    w = Window.orderBy(F.desc("freq"), F.asc("token"))
    vocab = (freq.withColumn("rn", F.row_number().over(w))
             .filter(F.col("rn") <= OOV_VOCAB_K)
             .select("token", F.lit(1).alias("in_vocab")))
    doc_tokens = d.select("doc_id", F.explode(tokens("text")).alias("token"))
    return (doc_tokens.join(F.broadcast(vocab), "token", "left")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.count(F.when(F.col("in_vocab").isNull(), 1))
                 .alias("n_oov"))
            .select("doc_id", "n_tokens", "n_oov",
                    (F.col("n_oov").cast("double") / F.col("n_tokens"))
                    .alias("oov_rate")))


@register(
    "e57_lang_mix_rebalance",
    oracle="""
WITH per AS (
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(list_filter(str_split(text, ' '), t -> t <> '')))
                AS BIGINT) AS n_tokens
    FROM documents GROUP BY lang
), t AS (
    SELECT lang, n_docs, n_tokens,
           sum(n_tokens) OVER () AS total,
           CASE lang WHEN 'en' THEN CAST(0.40 AS DOUBLE)
                     WHEN 'de' THEN CAST(0.15 AS DOUBLE)
                     WHEN 'es' THEN CAST(0.15 AS DOUBLE)
                     WHEN 'fr' THEN CAST(0.15 AS DOUBLE)
                     WHEN 'zh' THEN CAST(0.15 AS DOUBLE)
                     ELSE CAST(0.0 AS DOUBLE) END AS target_share
    FROM per
)
SELECT lang, n_docs, n_tokens,
       round(n_tokens / total, 6) AS actual_share,
       target_share,
       round(target_share * total / n_tokens, 6) AS weight,
       CAST(ceil(round(target_share * total / n_tokens, 6)) AS BIGINT)
           AS epochs
FROM t
""",
    tags=("north-star", "curation", "mixing"),
)
def e57_lang_mix_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-mixture rebalancing — the sampling-weight computation
    every LLM training-data pipeline runs before building a corpus: given
    a TARGET language mix (en 40%, de/es/fr/zh 15% each — a literal part
    of the operator contract), compute each language's actual token
    share and the per-language sampling weight ``target_share x
    total_tokens / lang_tokens`` that a weighted sampler (or epoch
    multiplier, ``ceil(weight)``) applies to hit the target. Token
    counts are exact integers; shares/weights are single divisions
    rounded 6 dp on both engines.

    100 TB: one shuffle to the |langs|-row aggregate (map-side combine
    does the heavy lifting); the global-total window runs over the
    already-aggregated 5 rows, so the "single partition" it implies is
    bounded by language cardinality, never by corpus size. The weight
    table then broadcast-joins back onto the corpus for the actual
    resample pass (d99's deterministic quota sampler is the companion
    operator).

    Reference: no curation surface in the reference repo
    (spark_ml_features.py:1, six ML utilities); SURVEY section 2-E
    north-star scope."""
    d = table(spark, sf_dir, "documents")
    ntok = F.size(F.filter(tokens("text"), lambda t: t != "")) \
        .cast("bigint")
    per = (d.select("lang", ntok.alias("nt"))
           .groupBy("lang")
           .agg(F.count(F.lit(1)).alias("n_docs"),
                F.sum("nt").alias("n_tokens")))
    total = F.sum("n_tokens").over(Window.partitionBy())
    target = (F.when(F.col("lang") == "en", F.lit(0.40))
              .when(F.col("lang").isin("de", "es", "fr", "zh"), F.lit(0.15))
              .otherwise(F.lit(0.0)))
    t = per.withColumn("total", total).withColumn("target_share", target)
    weight = F.round(F.col("target_share") * F.col("total")
                     / F.col("n_tokens"), 6)
    return t.select(
        "lang", "n_docs", "n_tokens",
        F.round(F.col("n_tokens") / F.col("total"), 6).alias("actual_share"),
        "target_share",
        weight.alias("weight"),
        F.ceil(weight).cast("bigint").alias("epochs"))


@register(
    "e62_split_leakage_report",
    oracle="""
WITH sub AS (
    SELECT doc_id, list_distinct(str_split(text, ' ')) AS sh,
        CAST(((doc_id % 2147483648) * 1103515245 + 12345) % 2048 < 1638 AS BIGINT)
            AS in_train
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
           round(shared::DOUBLE / (sa.n_sh + sb.n_sh - shared), 6)
               AS jaccard
    FROM shared
    JOIN sizes sa ON d1 = sa.doc_id
    JOIN sizes sb ON d2 = sb.doc_id
    WHERE shared::DOUBLE / (sa.n_sh + sb.n_sh - shared) >= 0.5
)
SELECT p.d1, p.d2, p.jaccard,
       ta.in_train AS in_train1, tb.in_train AS in_train2,
       CAST(ta.in_train <> tb.in_train AS BIGINT) AS is_leak
FROM pairs p
JOIN sub ta ON ta.doc_id = p.d1
JOIN sub tb ON tb.doc_id = p.d2
""",
    tags=("north-star", "curation", "dedup", "split", "leakage"),
)
def e62_split_leakage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test SPLIT-LEAKAGE audit — the check every pipeline must run
    AFTER splitting: a near-duplicate pair straddling the train/eval
    boundary silently inflates eval scores, and naive random splits leak
    exactly this way (dedup must happen BEFORE or ACROSS the split,
    which is why production splits hash the dedup-cluster id, not the
    document id). Documents split ~80/20 by the d90 LCG key hash
    (deterministic, engine-portable); every exact-Jaccard >= 0.5 pair
    (e45's edge set) is emitted with both sides' split membership and an
    ``is_leak`` flag, so the output is both the quarantine list and the
    leak-rate numerator. On this fixture the report is non-empty by
    construction — replica docs land on both sides of any id-hash split,
    demonstrating the failure mode the cluster-id split fixes (e45's
    cluster_id is the join key for that repair).

    100 TB: the pair generation is the candidate-bounded family (banded
    at deployment scale — e33/e2d); the membership table is per-doc
    (corpus-scaling), so its join-back carries NO broadcast hint — AQE
    picks broadcast at small SF from runtime sizes and degrades to a
    shuffle join at corpus scale (the e8 vocab rule; ADVICE r4); the
    split predicate is scan-side arithmetic."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    in_train = ((((F.col("doc_id") % F.lit(2147483648)) * F.lit(1103515245) + F.lit(12345))
                 % F.lit(2048)) < 1638).cast("bigint")
    membership = d.select("doc_id", in_train.alias("in_train"))
    prs = (jaccard_pairs(d, tokens("text"), threshold=0.5)
           .select("d1", "d2", F.round("jaccard", 6).alias("jaccard")))
    ta = membership.select(F.col("doc_id").alias("d1"),
                           F.col("in_train").alias("in_train1"))
    tb = membership.select(F.col("doc_id").alias("d2"),
                           F.col("in_train").alias("in_train2"))
    return (prs.join(ta, "d1").join(tb, "d2")
            .select("d1", "d2", "jaccard", "in_train1", "in_train2",
                    (F.col("in_train1") != F.col("in_train2"))
                    .cast("bigint").alias("is_leak")))


@register(
    "e65_mixture_epoch_expansion",
    oracle="""
WITH per_doc AS (
    SELECT doc_id, lang,
           CAST(len(list_filter(str_split(text, ' '), t -> t <> ''))
                AS BIGINT) AS nt
    FROM documents
), per AS (
    SELECT lang, CAST(sum(nt) AS BIGINT) AS n_tokens FROM per_doc
    GROUP BY lang
), t AS (
    SELECT lang, n_tokens, sum(n_tokens) OVER () AS total,
           CASE lang WHEN 'en' THEN CAST(0.40 AS DOUBLE)
                     WHEN 'de' THEN CAST(0.15 AS DOUBLE)
                     WHEN 'es' THEN CAST(0.15 AS DOUBLE)
                     WHEN 'fr' THEN CAST(0.15 AS DOUBLE)
                     WHEN 'zh' THEN CAST(0.15 AS DOUBLE)
                     ELSE CAST(0.0 AS DOUBLE) END AS target_share
    FROM per
), w AS (
    SELECT lang, target_share,
           round(target_share * total / n_tokens, 6) AS weight
    FROM t
), rep AS (
    SELECT d.doc_id, d.lang, d.nt, w.target_share,
           CAST(floor(w.weight) AS BIGINT)
           + CAST(((d.doc_id % 2147483648) * 1103515245 + 12345) % 2048
                  < round((w.weight - floor(w.weight)) * 2048)
                  AS BIGINT) AS repeats
    FROM per_doc d JOIN w ON d.lang = w.lang
), virtual AS (
    SELECT r.lang, r.target_share, r.nt
    FROM rep r, unnest(range(1, r.repeats + 1)) AS u(i)
)
SELECT lang, target_share,
       CAST(count(*) AS BIGINT) AS n_virtual_docs,
       CAST(sum(nt) AS BIGINT) AS n_virtual_tokens,
       round(sum(nt) / (sum(sum(nt)) OVER ()), 6) AS achieved_share
FROM virtual
GROUP BY lang, target_share
""",
    tags=("north-star", "curation", "mixing", "sampling"),
)
def e65_mixture_epoch_expansion(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """APPLY the mixture (e57's weights turned into training rows): each
    document repeats ``floor(weight)`` times plus one more with
    probability ``frac(weight)`` — decided by the d90 LCG key hash
    against an integer threshold ``round(frac * 2048)``, so the
    fractional epoch is deterministic, engine-portable, and auditable
    (stochastic-rounding epoch expansion, the standard way samplers hit
    a non-integer epoch multiplier). Documents explode into their
    virtual copies (guarded sequence — Spark's sequence(1, 0) is
    DESCENDING, so zero-repeat docs map to an empty array) and the
    achieved token mix per language is reported next to the target; on
    this fixture the LCG tracks each fractional part within the
    per-language doc-count granularity. The oracle replays the exact
    arithmetic including the unnest(range()).

    100 TB: weights are a |langs|-row broadcast; the expansion is a
    map-side explode whose output volume is exactly sum(weights x
    tokens) ~ total x 1 under a normalized target — no shuffle until
    the final report aggregate. The repeats column (not the explode)
    is what a production packer consumes (e51)."""
    d = table(spark, sf_dir, "documents")
    ntok = F.size(F.filter(tokens("text"), lambda t: t != "")) \
        .cast("bigint")
    per_doc = d.select("doc_id", "lang", ntok.alias("nt"))
    per = per_doc.groupBy("lang").agg(F.sum("nt").alias("n_tokens"))
    total = F.sum("n_tokens").over(Window.partitionBy())
    target = (F.when(F.col("lang") == "en", F.lit(0.40))
              .when(F.col("lang").isin("de", "es", "fr", "zh"), F.lit(0.15))
              .otherwise(F.lit(0.0)))
    w = (per.withColumn("total", total)
         .withColumn("target_share", target)
         .withColumn("weight", F.round(
             F.col("target_share") * F.col("total") / F.col("n_tokens"), 6))
         .select("lang", "target_share", "weight"))
    base = F.floor(F.col("weight")).cast("bigint")
    frac = F.col("weight") - F.floor(F.col("weight"))
    lcg = ((F.col("doc_id") % F.lit(2147483648)) * F.lit(1103515245) + F.lit(12345)) % F.lit(2048)
    extra = (lcg < F.round(frac * 2048)).cast("bigint")
    rep = (per_doc.join(F.broadcast(w), "lang")
           .withColumn("repeats", base + extra))
    virtual = rep.select(
        "lang", "target_share", "nt",
        F.explode(F.when(F.col("repeats") >= 1,
                         F.sequence(F.lit(1), F.col("repeats")))
                  .otherwise(F.array())).alias("copy_i"))
    agg = (virtual.groupBy("lang", "target_share")
           .agg(F.count(F.lit(1)).alias("n_virtual_docs"),
                F.sum("nt").alias("n_virtual_tokens")))
    grand = F.sum("n_virtual_tokens").over(Window.partitionBy())
    return agg.select(
        "lang", "target_share", "n_virtual_docs", "n_virtual_tokens",
        F.round(F.col("n_virtual_tokens") / grand, 6)
        .alias("achieved_share"))


@register(
    "e66_cluster_split_no_leakage",
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
), pairs AS (
    SELECT d1, d2 FROM shared
    JOIN sizes sa ON d1 = sa.doc_id
    JOIN sizes sb ON d2 = sb.doc_id
    WHERE shared::DOUBLE / (sa.n_sh + sb.n_sh - shared) >= 0.5
), edges AS (
    SELECT d1 AS src, d2 AS dst FROM pairs
    UNION ALL
    SELECT d2 AS src, d1 AS dst FROM pairs
), reach(node, lbl) AS (
    SELECT doc_id, doc_id FROM sub
    UNION
    SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
), cc AS (
    SELECT node AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY node
), split AS (
    SELECT doc_id, cluster_id,
           CAST(((cluster_id % 2147483648) * 1103515245 + 12345) % 2048 < 1638 AS BIGINT)
               AS in_train
    FROM cc
), leaks AS (
    SELECT count(*) AS n_leak FROM pairs p
    JOIN split a ON a.doc_id = p.d1
    JOIN split b ON b.doc_id = p.d2
    WHERE a.in_train <> b.in_train
)
SELECT CAST(sum(in_train) AS BIGINT) AS n_train_docs,
       CAST(count(*) - sum(in_train) AS BIGINT) AS n_eval_docs,
       CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
       (SELECT CAST(n_leak AS BIGINT) FROM leaks) AS n_leak_pairs
FROM split
""",
    tags=("north-star", "curation", "split", "leakage", "graph"),
)
def e66_cluster_split_no_leakage(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """The REPAIR for e62's split leakage: split on the DUP-CLUSTER id
    (e45's connected components), not the document id — every member of
    a near-dup cluster shares its cluster's LCG coin flip, so no
    Jaccard >= 0.5 pair can straddle the boundary BY CONSTRUCTION. The
    report carries the train/eval doc counts, the cluster count, and the
    cross-split leak count, which both engines must agree is exactly
    zero — the hash check proves the guarantee, not just asserts it
    (the e62 -> e66 pair is the before/after of the standard
    dedup-aware-split recipe).

    100 TB: one extra per-doc join vs e62 (doc -> cluster_id from the
    stored e45 output) — unhinted like e62's membership joins, so AQE
    sizes it at runtime; the split predicate stays scan-side arithmetic
    on the cluster id. The trade-off vs id-splits is
    granularity: clusters move between train/eval atomically, so share
    targets are hit within max-cluster-size tolerance."""
    from pyspark_ml_features_spark.operators.graph import (
        connected_components,
    )

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    prs = jaccard_pairs(d, tokens("text"), threshold=0.5).select("d1", "d2")
    cc = connected_components(d.select(F.col("doc_id").alias("node")),
                              prs.select(F.col("d1").alias("src"),
                                         F.col("d2").alias("dst")))
    in_train = ((((F.col("cluster_id") % F.lit(2147483648)) * F.lit(1103515245) + F.lit(12345))
                 % F.lit(2048)) < 1638).cast("bigint")
    split = cc.select(F.col("node").alias("doc_id"), "cluster_id",
                      in_train.alias("in_train"))
    sa = split.select(F.col("doc_id").alias("d1"),
                      F.col("in_train").alias("t1"))
    sb = split.select(F.col("doc_id").alias("d2"),
                      F.col("in_train").alias("t2"))
    n_leak = (prs.join(sa, "d1").join(sb, "d2")
              .filter(F.col("t1") != F.col("t2"))
              .agg(F.count(F.lit(1)).alias("n_leak")))
    summary = split.agg(
        F.sum("in_train").alias("n_train_docs"),
        (F.count(F.lit(1)) - F.sum("in_train")).alias("n_eval_docs"),
        F.count_distinct("cluster_id").alias("n_clusters"))
    return (summary.crossJoin(F.broadcast(n_leak))
            .select("n_train_docs", "n_eval_docs", "n_clusters",
                    F.col("n_leak").alias("n_leak_pairs")))


@register(
    "e92_incremental_packing",
    oracle=_GREEDY_PACK_CTE + """
SELECT lang, shard, doc_id, n_tokens, bin_id FROM pack
WHERE doc_id >= (SELECT max(doc_id) * 3 // 5 FROM documents)
""",
    tags=("north-star", "packing", "incremental", "udf"),
)
def e92_incremental_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL greedy packing — continue e51's first-fit-in-order fold
    over a NEW document batch without repacking the committed corpus:
    the next-fit state is just (last bin_id, its fill) per (lang, shard),
    so packing is PREFIX-COMPOSABLE — pack(old) ⊕ fold(new, state) must
    equal the new-batch slice of pack(old ∪ new). The oracle IS that
    equality: the full-corpus recursive-CTE fold filtered to the new
    batch (doc_id ≥ ⌊max·3/5⌋), so the driver hash-checks composability
    itself, not just shape. Completes the incremental family (e1b exact
    dedup, e32 near-dedup, e19 rollups, e47 components) for packing —
    the op a daily-append corpus runs instead of repacking 100 TB.

    Engine: e51's Arrow fold with a broadcast (init_bin, init_fill)
    state row per group (groups born in the new batch start at zero).
    Only five scalar columns cross the Arrow boundary; the committed
    corpus is read once to derive state and never re-folded.

    Snapshot contract (e79's family note): the split threshold is
    collected at build time, so the returned DataFrame is a snapshot of
    the corpus at construction."""
    import pandas as pd

    d = table(spark, sf_dir, "documents")
    thr = int(d.agg((F.max("doc_id") * 3).cast("bigint")).collect()[0][0]
              ) // 5
    n_tok = F.size(tokens("text")).cast("bigint")
    base = d.select("lang", (F.col("doc_id") % 4).alias("shard"),
                    "doc_id", n_tok.alias("n_tokens"))
    old = base.filter(F.col("doc_id") < thr)
    new = base.filter(F.col("doc_id") >= thr)
    old_packed = greedy_pack(old, GREEDY_PACK_CAP)
    bins = (old_packed.groupBy("lang", "shard", "bin_id")
            .agg(F.sum("n_tokens").alias("fill")))
    state = (bins.groupBy("lang", "shard")
             .agg(F.max("bin_id").alias("init_bin"),
                  F.expr("max_by(fill, bin_id)").alias("init_fill")))
    staged = (new.join(F.broadcast(state), ["lang", "shard"], "left")
              .fillna(0, subset=["init_bin", "init_fill"]))

    cap = GREEDY_PACK_CAP

    def pack_group(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        bin_id = int(pdf["init_bin"].iloc[0])
        fill = int(pdf["init_fill"].iloc[0])
        out = []
        for n in pdf["n_tokens"]:
            if bin_id == 0 or fill + n > cap:
                bin_id += 1
                fill = n
            else:
                fill += n
            out.append(bin_id)
        pdf["bin_id"] = pd.Series(out, dtype="int64")
        return pdf[["lang", "shard", "doc_id", "n_tokens", "bin_id"]]

    return staged.groupBy("lang", "shard").applyInPandas(
        pack_group,
        schema="lang string, shard bigint, doc_id bigint, "
               "n_tokens bigint, bin_id bigint")


INFER_BATCH = 32


@register(
    "e78_length_bucketed_batches",
    oracle=f"""
WITH tok AS (
    SELECT doc_id,
           CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens
    FROM documents
), r AS (
    SELECT doc_id, n_tokens,
           row_number() OVER (ORDER BY n_tokens, doc_id) AS rk
    FROM tok
)
SELECT CAST((rk - 1) // {INFER_BATCH} AS BIGINT) AS batch_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(max(n_tokens) AS BIGINT) AS max_tokens,
       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       CAST(count(*) * max(n_tokens) - sum(n_tokens) AS BIGINT)
           AS padding_waste
FROM r GROUP BY 1
""",
    tags=("north-star", "llm-pipeline", "scale", "ranking"),
)
def e78_length_bucketed_batches(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """LENGTH-BUCKETED inference batching: sort the corpus by token count,
    cut it into fixed-size batches of INFER_BATCH docs, and report each
    batch's padding waste (docs padded to the batch max). Grouping
    similar-length docs is the standard trick that turns ragged-batch
    inference from ~50% padding FLOPs into a few percent — the report
    tells you what a batch plan costs BEFORE committing GPU time.

    The engine piece is the global total order WITHOUT a global sort
    into one partition: ``distributed_row_number`` (d106's primitive)
    range-repartitions on (n_tokens, doc_id), collects per-partition
    counts as P metadata rows, and adds offsets to bounded local ranks;
    batch assignment and the per-batch aggregate are then integer
    arithmetic on the rank. The oracle IS the single-partition window
    this replaces.

    100 TB: one range shuffle + one metadata collect + one hash
    aggregate on batch_id — no step holds more than ~n/P rows."""
    from pyspark_ml_features_spark.functions.text import tokens
    from pyspark_ml_features_spark.operators.relational import (
        distributed_row_number,
    )

    d = table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id", F.size(tokens("text")).cast("bigint").alias("n_tokens"))
    ranked = distributed_row_number(scored, ["n_tokens", "doc_id"])
    return (ranked
            .withColumn("batch_id",
                        F.expr(f"(grk - 1) DIV {INFER_BATCH}"))
            .groupBy("batch_id")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.max("n_tokens").alias("max_tokens"),
                 F.sum("n_tokens").alias("sum_tokens"))
            .select("batch_id", "n_docs", "max_tokens", "sum_tokens",
                    (F.col("n_docs") * F.col("max_tokens")
                     - F.col("sum_tokens")).alias("padding_waste")))


@register(
    "e85_packing_utilization",
    oracle=_GREEDY_PACK_CTE + f"""
SELECT lang, shard,
       CAST(max(bin_id) AS BIGINT) AS n_bins,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       CAST(sum(n_tokens)::HUGEINT * 10000
            // (max(bin_id) * {GREEDY_PACK_CAP}) AS BIGINT)
           AS utilization_bp
FROM pack GROUP BY lang, shard
""",
    tags=("north-star", "llm-pipeline", "packing", "stewardship"),
)
def e85_packing_utilization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTEXT-WINDOW UTILIZATION per (lang, shard) — the training-
    efficiency KPI on top of e51's packing: how full the packed
    sequences actually are (utilization_bp = packed tokens ·10⁴ DIV
    (bins · capacity)). Utilization is what the packing capacity knob
    is TUNED against — a corpus packing at 60% wastes 40% of every
    training FLOP on padding; e78 reports the same economics for
    inference batching.

    Rides e51's fold (same Arrow boundary, allowlisted) + one bounded
    aggregate; the oracle extends the shared recursive-CTE fold. All
    ratios are exact integer DIV (d112)."""
    from pyspark_ml_features_spark.functions.text import tokens

    d = table(spark, sf_dir, "documents")
    base = d.select("lang", (F.col("doc_id") % 4).alias("shard"),
                    "doc_id",
                    F.size(tokens("text")).cast("bigint").alias("n_tokens"))
    packed = greedy_pack(base, GREEDY_PACK_CAP)
    return (packed.groupBy("lang", "shard")
            .agg(F.max("bin_id").cast("bigint").alias("n_bins"),
                 F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.sum("n_tokens").cast("bigint").alias("sum_tokens"))
            .select("lang", "shard", "n_bins", "n_docs", "sum_tokens",
                    F.expr(f"CAST(CAST(sum_tokens AS DECIMAL(38,0))"
                           f" * 10000 DIV (n_bins * {GREEDY_PACK_CAP})"
                           f" AS BIGINT)").alias("utilization_bp")))


N_SHARDS = 8


@register(
    "e89_balanced_shards",
    oracle=f"""
WITH t AS (
    SELECT ((doc_id % 2147483648) * 1103515245 + 12345) % 2147483648 % {N_SHARDS}
               AS shard,
           CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens
    FROM documents
), s AS (
    SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS shard_tokens
    FROM t GROUP BY shard
)
SELECT CAST(shard AS BIGINT) AS shard, n_docs, shard_tokens,
       CAST(10000 * shard_tokens // sum(shard_tokens) OVER () AS BIGINT)
           AS share_bp
FROM s
""",
    tags=("north-star", "llm-pipeline", "sharding", "scale"),
)
def e89_balanced_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BALANCED OUTPUT SHARDING report: assign every document to one of
    N_SHARDS output shards by a portable LCG on doc_id (the pipeline
    cluster-split's hash — deterministic on any engine, unlike
    ``hash()`` whose seed differs between Spark and DuckDB) and report
    per-shard doc/token volumes plus each shard's token share in basis
    points — the pre-write audit that catches a skewed shard before
    10^5 writer tasks discover it the slow way.

    100 TB: one map-side-combinable aggregate to N_SHARDS rows; the
    share window runs over the N_SHARDS-row aggregate, not data. The
    key is masked to 31 bits BEFORE the multiply (ADVICE r7), so the
    LCG product is bounded below 2^62 at ANY doc_id — no silent int64
    wrap in non-ANSI Spark, no overflow error in DuckDB."""
    d = table(spark, sf_dir, "documents").select(
        (((F.col("doc_id") % F.lit(2147483648)) * F.lit(1103515245) + F.lit(12345))
         % F.lit(2147483648) % F.lit(N_SHARDS)).cast("bigint")
        .alias("shard"),
        F.size(tokens("text")).cast("bigint").alias("n_tokens"))
    s = d.groupBy("shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("shard_tokens"))
    return (s.withColumn("total",
                         F.sum("shard_tokens").over(Window.partitionBy()))
            .select("shard", "n_docs", "shard_tokens",
                    F.expr("CAST(10000L * shard_tokens DIV total AS BIGINT)")
                    .alias("share_bp")))


@register(
    "e91_temperature_mixture",
    oracle="""
WITH lt AS (
    SELECT lang,
           CAST(sum(len(str_split(text, ' '))) AS BIGINT) AS lang_tokens
    FROM documents GROUP BY lang
), tot AS (
    SELECT CAST(sum(lang_tokens) AS BIGINT) AS total,
           list_reduce(list_sort(list(sqrt(lang_tokens))),
                       (a, x) -> a + x) AS sum_r
    FROM lt
)
SELECT lang, lang_tokens,
       round(CAST(lang_tokens AS DOUBLE) / total, 6) AS share_6dp,
       round(sqrt(lang_tokens) / sum_r, 6) AS temp_share_6dp,
       round((sqrt(lang_tokens) / sum_r)
             / (CAST(lang_tokens AS DOUBLE) / total), 6) AS boost_6dp
FROM lt, tot
""",
    tags=("north-star", "llm-pipeline", "mixture", "sampling"),
)
def e91_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPERATURE-SCALED mixture reweighting (the multilingual-sampling
    rule: sample language i with probability ∝ share_i^α, α = 0.5): the
    sub-linear exponent upsamples low-resource languages relative to
    their raw token share — the standard fix for high-resource languages
    drowning the mixture. e57 rebalances to an EQUAL target; this is the
    smooth interpolation between natural (α=1) and equal (α=0).

    Exactness: α = 0.5 means ``sqrt`` — IEEE-correctly-rounded on both
    engines (algebraic, unlike the banned libm transcendentals), and
    sqrt(lang_tokens) of an exact BIGINT is bit-identical. The one
    cross-row float sum (Σ√tokens) is made order-deterministic by an
    explicit left fold over the SORTED value list on BOTH engines (the
    parity-rules fold discipline); final ratios round to 6 dp (the e48
    cross-row rule).

    100 TB: one map-side-combinable aggregate to n_langs rows; the fold
    runs over an n_langs-sized array broadcast in a 1-row crossJoin."""
    lt = (table(spark, sf_dir, "documents")
          .groupBy("lang")
          .agg(F.sum(F.size(tokens("text")).cast("bigint"))
               .cast("bigint").alias("lang_tokens")))
    tot = (lt.agg(F.sum("lang_tokens").cast("bigint").alias("total"),
                  F.collect_list(F.sqrt("lang_tokens")).alias("rs"))
           .select("total",
                   F.aggregate(F.array_sort("rs"), F.lit(0.0),
                               lambda a, x: a + x).alias("sum_r")))
    return (lt.crossJoin(F.broadcast(tot))
            .select("lang", "lang_tokens",
                    F.round(F.col("lang_tokens").cast("double")
                            / F.col("total"), 6).alias("share_6dp"),
                    F.round(F.sqrt("lang_tokens") / F.col("sum_r"), 6)
                    .alias("temp_share_6dp"),
                    F.round((F.sqrt("lang_tokens") / F.col("sum_r"))
                            / (F.col("lang_tokens").cast("double")
                               / F.col("total")), 6).alias("boost_6dp")))


@register(
    "e95_chunk_stitch_roundtrip",
    oracle="""
SELECT doc_id, text AS stitched_text
FROM documents
WHERE trim(text) <> ''
""",
    tags=("north-star", "llm-pipeline", "chunking"),
)
def e95_chunk_stitch_roundtrip(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """CHUNK-STITCH round-trip — e23's inverse, with the ORIGINAL corpus
    as the oracle: re-chunk every document into overlapping 128-token /
    stride-64 windows (e23's exact geometry), then reconstruct each
    document from its chunks alone — every chunk contributes its first
    `stride` tokens, the LAST chunk contributes all of them — and the
    result must equal the source text verbatim. Proves the chunk
    family's invariant (overlapping chunks lose nothing) as a
    hash-checked query instead of a code comment — any off-by-one in
    either direction breaks the hash.

    100 TB: one groupBy(doc_id) over chunk rows; per-group state is one
    document's chunks (bounded by doc length, the same bound e23
    already carries). The sort-then-flatten runs on the collected
    per-doc array — driver sees nothing."""

    d = (table(spark, sf_dir, "documents")
         # Meaningful empty-doc exclusion, mirrored in the oracle's
         # trim(text) <> ''. (A size(split(...)) > 0 guard would be
         # vacuous: split always yields >= 1 element — r8 ADVICE.)
         .filter(F.trim(F.col("text")) != "")
         .select("doc_id", tokens("text").alias("__toks")))
    t = F.col("__toks")
    n_tok = F.size(t)
    n_chunks = (F.floor((n_tok - 1) / CHUNK_STRIDE) + 1).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.slice(t, i * CHUNK_STRIDE + 1, CHUNK_SIZE))
    chunked = d.select(
        "doc_id", F.posexplode(chunks).alias("chunk_id", "chunk"))
    per_doc = (chunked.groupBy("doc_id")
               .agg(F.sort_array(F.collect_list(
                   F.struct("chunk_id", "chunk"))).alias("cs"))
               # n_cs as a COLUMN, not an expression, so the stitch
               # lambda's boundary test references it O(1) (the
               # word_ngrams quadratic-re-evaluation rule).
               .withColumn("n_cs", F.size("cs")))
    pieces = F.transform(
        F.col("cs"),
        lambda c, i: F.when(i < F.col("n_cs") - 1,
                            F.slice(c["chunk"], 1, CHUNK_STRIDE))
        .otherwise(c["chunk"]))
    return per_doc.select(
        "doc_id",
        F.concat_ws(" ", F.flatten(pieces)).alias("stitched_text"))


#: bin capacity (tokens) for the packing stage — > CHUNK_SIZE so every
#: chunk fits a bin, small enough that bins mix chunks of many docs
PACK_CAPACITY = 512


#: packing shards: bins are built per shard so the running-total window
#: never globally orders the corpus (the d106 lesson)
PACK_SHARDS = 4


@register(
    "e104_dedup_pack_stitch_roundtrip",
    oracle="""
SELECT doc_id, text AS reconstructed_text
FROM documents
WHERE trim(text) <> ''
""",
    tags=("north-star", "llm-pipeline", "dedup", "chunking", "packing",
          "integration"),
)
def e104_dedup_pack_stitch_roundtrip(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """CURATE-AND-RECONSTRUCT round-trip — four chained E-family stages
    run FORWARD (exact dedup → overlapping chunking → capacity-bounded
    packing) then INVERTED (unpack → stitch → survivorship re-expansion),
    graded against the strongest oracle shape in the repo: the original
    corpus itself (`SELECT doc_id, text FROM documents`). Every
    document's text must come back VERBATIM after riding the whole
    pipeline, so the hash pins, at once:

    - E1 dedup survivorship: canonical doc = min doc_id per EXACT text
      (byte key, not the normalized key — normalization would collapse
      case-variant docs and reconstruct the wrong bytes for members);
      the member list is carried so the inverse can re-expand every
      duplicate, not just the survivor.
    - E23 chunk geometry: 128-token windows at stride 64 (e95's exact
      machinery) — an off-by-one in either direction breaks the hash.
    - E51-family packing losslessness: chunks are assigned to
      capacity-bounded bins by a per-shard running-token-total window
      (the WINDOW-expressible budget partitioning of the packing
      family — e51's true greedy reset fold is the Arrow path; this
      composition stays JVM-pure end to end) and materialized as bin
      rows. A chunk dropped, duplicated, or torn by the pack/unpack
      breaks the hash.
    - e95 stitch arithmetic: every chunk contributes its first `stride`
      tokens, the last chunk all of them.

    100 TB: the dedup exchange carries each DISTINCT text once (e1's
    economics; key by the 64-bit fingerprint in production — e36);
    the pack window orders within shards, never globally (d106's rule);
    per-bin state is capacity-bounded, per-doc stitch state is bounded
    by doc length (e95's bound); the re-expansion is a hash equi-join
    on canon_id. No Python boundary anywhere — born clean under the
    registry-wide scale audit."""

    from pyspark_ml_features_spark.plans.audit import probe_checkpoint

    d = (table(spark, sf_dir, "documents")
         .filter(F.trim(F.col("text")) != "")
         .select("doc_id", "text"))

    # 1. EXACT dedup, one shuffle: survivor + member list per distinct
    # text (collect_list bounded by duplicate multiplicity). The dedup
    # result feeds BOTH the chunk pipeline and the member re-expansion —
    # materialize it ONCE (AQE does not reuse identical exchange
    # subtrees across plan branches, the round-6 e81 finding; without
    # the checkpoint the corpus scans and the dedup shuffle run twice).
    canon = probe_checkpoint(
        d.groupBy("text")
        .agg(F.min("doc_id").alias("canon_id"),
             F.collect_list("doc_id").alias("member_ids")),
        "e104.canon")

    # 2. CHUNK the survivors (e23/e95 geometry).
    surv = canon.select("canon_id", tokens("text").alias("__toks"))
    t = F.col("__toks")
    n_chunks = (F.floor((F.size(t) - 1) / CHUNK_STRIDE) + 1).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.slice(t, i * CHUNK_STRIDE + 1, CHUNK_SIZE))
    chunked = surv.select(
        "canon_id", F.posexplode(chunks).alias("chunk_id", "chunk"))

    # 3. PACK chunks into bins: per-shard running token total → bin id.
    # Bin rows are real materialized containers (collect_list), so the
    # inverse genuinely has to unpack them.
    w = (Window.partitionBy("shard")
         .orderBy("canon_id", "chunk_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    packed = (chunked
              .withColumn("shard", F.pmod(F.col("canon_id"),
                                          F.lit(PACK_SHARDS)))
              .withColumn("__n", F.size("chunk").cast("bigint"))
              .withColumn("bin_id",
                          F.floor((F.sum("__n").over(w) - F.col("__n"))
                                  / PACK_CAPACITY))
              .groupBy("shard", "bin_id")
              .agg(F.collect_list(
                  F.struct("canon_id", "chunk_id", "chunk"))
                  .alias("items")))

    # 4. INVERSE — unpack bins, stitch per survivor (e95's arithmetic).
    unpacked = packed.select(F.explode("items").alias("it")).select(
        F.col("it.canon_id").alias("canon_id"),
        F.col("it.chunk_id").alias("chunk_id"),
        F.col("it.chunk").alias("chunk"))
    per_doc = (unpacked.groupBy("canon_id")
               .agg(F.sort_array(F.collect_list(
                   F.struct("chunk_id", "chunk"))).alias("cs"))
               .withColumn("n_cs", F.size("cs")))
    pieces = F.transform(
        F.col("cs"),
        lambda c, i: F.when(i < F.col("n_cs") - 1,
                            F.slice(c["chunk"], 1, CHUNK_STRIDE))
        .otherwise(c["chunk"]))
    stitched = per_doc.select(
        "canon_id", F.concat_ws(" ", F.flatten(pieces)).alias("stitched"))

    # 5. Survivorship re-expansion: every member doc gets its text back.
    members = canon.select("canon_id",
                           F.explode("member_ids").alias("doc_id"))
    return (members.join(stitched, "canon_id")
            .select("doc_id", F.col("stitched").alias("reconstructed_text")))


@register(
    "e105_vocab_encode_decode_roundtrip",
    oracle="""
SELECT doc_id, coalesce(text, '') AS decoded_text
FROM documents
""",
    tags=("north-star", "llm-pipeline", "tokenization", "vocab",
          "integration"),
)
def e105_vocab_encode_decode_roundtrip(spark: SparkSession,
                                       sf_dir: str) -> DataFrame:
    """TOKENIZER round-trip — the e18/e24 vocabulary pipeline run FORWARD
    (corpus → frequency-ranked vocab → per-token id encoding, the exact
    materialized form a training dataloader consumes) then INVERTED
    (id → token decode through the same vocab → positional reassembly),
    graded against the whole corpus verbatim (`SELECT doc_id,
    coalesce(text, '') FROM documents` — no filter: empty/
    whitespace-only docs round-trip too, since `split` keeps empty
    tokens and `concat_ws(' ')` re-emits them; NULL text is coalesced
    to '' on BOTH sides since r11 — ADVICE r10: posexplode of
    split(NULL) yields no rows, which would silently drop a NULL-text
    doc the bare oracle kept). The hash pins, at once:

    - e18 vocab construction: every corpus token present exactly once
      with a unique dense id (a dropped token = OOV hole = missing text;
      a duplicated id = wrong decode somewhere).
    - e24 encoding: (doc_id, pos, token_id) is a faithful positional
      encoding — any pos slip or id mismatch reassembles wrong bytes.
    - decode bijectivity: the id→token map inverts the token→id map.

    100 TB: the vocab is vocabulary-bounded after map-side partial
    counts and BROADCAST to both the encode and decode joins, so the
    corpus never shuffles for either direction; the one corpus-keyed
    exchange is the per-doc reassembly groupBy. The vocab lineage is
    materialized ONCE (probe_checkpoint) because it feeds two plan
    branches and AQE does not reuse cross-branch exchanges (the e81
    finding). Decode state per doc is bounded by doc length (e95's
    bound). JVM-pure end to end."""
    from pyspark_ml_features_spark.plans.audit import probe_checkpoint

    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.coalesce(F.col("text"), F.lit("")).alias("text"))

    # 1. VOCAB — the SHARED e18 id assignment (token -> dense id by
    # (freq desc, token asc); see packing.vocab_with_ids — one
    # definition for e18/e24/e105, so the exact arithmetic five oracles
    # depend on cannot desynchronize). The ranking window runs over the
    # vocab table, never the corpus; checkpointed once for the two
    # consumer joins.
    vocab = probe_checkpoint(
        vocab_with_ids(d).select("token", "token_id"), "e105.vocab")

    # 2. ENCODE (e24): corpus stays map-only, vocab broadcast.
    encoded = (d.select("doc_id",
                        F.posexplode(tokens("text")).alias("pos", "token"))
               .join(F.broadcast(vocab), "token")
               .select("doc_id", "pos", "token_id"))

    # 3. DECODE: ids back to tokens through the SAME vocab (broadcast),
    # then positional reassembly per doc.
    decoded = encoded.join(
        F.broadcast(vocab.select("token_id",
                                 F.col("token").alias("__tok"))),
        "token_id")
    return (decoded.groupBy("doc_id")
            .agg(F.array_sort(F.collect_list(
                F.struct("pos", "__tok"))).alias("ps"))
            .select("doc_id",
                    F.concat_ws(" ", F.transform(
                        F.col("ps"), lambda s: s["__tok"]))
                    .alias("decoded_text")))
