"""Similarity family over the embeddings table (SURVEY §2-E E4/E5):
brute-force cosine top-k (exact baseline), deterministic random-hyperplane
LSH (scale path with an exact oracle) with its multi-probe and OR-banding
recall pins, embedding near-duplicate pairs, the semantic-dedup chains
(batch and incremental), unit normalization and per-dimension scaling.

Floating-point discipline: every dot product / norm is an explicit LEFT fold
(functions/arrays.py) so Spark and DuckDB produce bit-identical doubles; the
float32 parquet embeddings are widened to double identically on both sides
(FIXTURES.md §3). Ranking keys are rounded to 6 dp before ordering so a
last-ulp difference can never flip top-k membership between engines.

Scale design (100 TB): brute-force is the correctness baseline and stays
viable only as (small query set) × (big corpus) with the query side
broadcast — the corpus is never shuffled. The LSH path buckets the corpus by
hyperplane sign bits (16 buckets here; ~2^20 on a real deployment), turning
top-k into a bucket-local join; IVF with learned centroids slots into the
same plan with KMeans (operators/ml.py) supplying the centroids.
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from pyspark_ml_features_spark.functions.arrays import (
    adot,
    duckdb_dot,
    duckdb_norm,
    l2_norm,
    to_double_array,
)
from pyspark_ml_features_spark.functions.skew import fan_out
from pyspark_ml_features_spark.registry import register
from pyspark_ml_features_spark.sources import table

DIM = 64
LSH_SEED = 42
N_PLANES = 4  # 16 buckets — sized for the 500-row test corpus


def _lsh_planes(n_planes: int = N_PLANES, dim: int = DIM, seed: int = LSH_SEED):
    """Fixed random hyperplanes (driver-side constants, seeded). They are
    embedded as literals in both the Spark plan and the oracle SQL, which is
    what makes this LSH deterministic and cross-engine exact."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def _bucketize(e: DataFrame, planes=None,
               bucket_col: str = "bucket") -> DataFrame:
    """Add (nrm, bucket) to a (vec_id, emb) frame — THE engine-side
    definition of the hyperplane bucketing and norm, shared by e4b, e112,
    e114, e115, e116, and the replication ladder so the graded batch and
    incremental twins cannot drift (the oracle side is likewise shared via
    the _duckdb_bucket literal builder / similarity._semantic_cc_ctes).
    One definition next to _lsh_planes instead of per-query copies of
    the bucket loop.

    `planes`/`bucket_col` default to the single-band form every pre-r13
    caller uses (identical expressions — the graded plans are unchanged);
    e116's OR-banding passes per-band plane sets so multiple bucket
    columns come from this one loop."""
    if "nrm" not in e.columns:
        e = e.withColumn("nrm", l2_norm(F.col("emb")))
    bucket = None
    for p, plane in enumerate(_lsh_planes() if planes is None else planes):
        plane_col = F.array(*[F.lit(v) for v in plane])
        bit = (F.when(adot(plane_col, F.col("emb")) >= 0, F.lit(1 << p))
               .otherwise(F.lit(0)))
        bucket = bit if bucket is None else bucket + bit
    return e.withColumn(bucket_col, bucket.cast("bigint"))


def _pair_cos(e1: str = "e1", e2: str = "e2",
              n1: str = "n1", n2: str = "n2"):
    """The rounded-cosine pair predicate column — ONE definition of the
    left-fold dot arithmetic and the 6-dp rounding for every
    similarity/semantic-dedup query (e4b/e4c/e58/e112/e114). Column names
    are parameters so the query-vs-corpus shape (qemb/qnrm) shares the
    same expression as the symmetric pair shape (e1/e2)."""
    return F.round(adot(F.col(e1), F.col(e2))
                   / (F.col(n1) * F.col(n2)), 6)


@register(
    "e5_embedding_normalize",
    oracle=f"""
WITH e AS (
    SELECT vec_id, label, embedding::DOUBLE[] AS emb,
           {duckdb_norm('(embedding::DOUBLE[])', DIM)} AS l2_norm
    FROM embeddings
)
SELECT vec_id, label, l2_norm, i - 1 AS dim, emb[i] / l2_norm AS unit_value
FROM e, unnest(range(1, len(emb) + 1)) AS t(i)
""",
    tags=("north-star", "E5", "similarity"),
)
def e5_embedding_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 norm + unit normalization of the embedding column — pure map work
    via higher-order functions, bit-exact across engines (deterministic fold,
    IEEE sqrt/div). Output is the exploded (vec_id, label, l2_norm, dim,
    unit_value) form — array cells break the harness canonicalizer."""
    e = table(spark, sf_dir, "embeddings")
    emb = to_double_array("embedding")
    # Two-step select: materialize the norm in the Generate's CHILD
    # projection. A single select(norm, posexplode(...)) plans the fold in
    # the Project ABOVE the Generate — i.e. re-evaluated per exploded row
    # (64x per vector); measured 5x slower at sf0.1.
    pre = e.select("vec_id", "label", l2_norm(emb).alias("l2_norm"),
                   emb.alias("emb"))
    exploded = pre.select(
        "vec_id", "label", "l2_norm",
        F.posexplode("emb").alias("dim", "value"))
    return exploded.select(
        "vec_id", "label", "l2_norm", "dim",
        (F.col("value") / F.col("l2_norm")).alias("unit_value"))


_KNN_ORACLE = f"""
WITH e AS (
    SELECT vec_id, embedding::DOUBLE[] AS emb,
           {duckdb_norm('(embedding::DOUBLE[])', DIM)} AS nrm
    FROM embeddings
), q AS (
    SELECT vec_id AS query_id, emb AS qemb, nrm AS qnrm FROM e
    WHERE vec_id % 50 = 0
), pairs AS (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           round({duckdb_dot('q.qemb', 'e.emb', DIM)} / (q.qnrm * e.nrm), 6) AS cosine
    FROM q, e
    WHERE q.query_id <> e.vec_id
), ranked AS (
    SELECT query_id, neighbor_id, cosine,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id ASC) AS rn
    FROM pairs
)
SELECT query_id, neighbor_id, cosine FROM ranked WHERE rn <= 5
"""


@register("e4_knn_cosine", oracle=_KNN_ORACLE,
          tags=("north-star", "E4", "similarity", "headline"))
def e4_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for a deterministic query subset
    (vec_id % 50 = 0). The query side is broadcast; norms are precomputed
    per side so the corpus scan computes one fold per (query, row)."""
    # fan_out: one 64-element fold per (query, corpus-row) pair is the
    # CPU wall; the single-row-group scan otherwise runs every fold on
    # one task (no-op on a multi-split cluster scan). The query subset is
    # derived from the PRE-fan_out frame (ADVICE r13): the tiny broadcast
    # lineage must not pay the repartition exchange, only the corpus does.
    base = (table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double_array("embedding").alias("emb"))
        .withColumn("nrm", l2_norm(F.col("emb"))))
    q = (base.filter(F.col("vec_id") % 50 == 0)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("emb").alias("qemb"), F.col("nrm").alias("qnrm")))
    e = fan_out(base, "vec_id")
    pairs = (e.crossJoin(F.broadcast(q))
             .filter(F.col("query_id") != F.col("vec_id"))
             .select("query_id", F.col("vec_id").alias("neighbor_id"),
                     F.round(adot(F.col("qemb"), F.col("emb"))
                             / (F.col("qnrm") * F.col("nrm")), 6).alias("cosine")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (pairs.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 5).select("query_id", "neighbor_id", "cosine"))


def _duckdb_bucket(emb: str, planes=None) -> str:
    """Oracle-side twin of _bucketize: the same plane literals, the same
    sign-bit sum. `planes` defaults to the single-band set (pre-r13
    callers unchanged); e116 passes per-band sets."""
    if planes is None:
        planes = _lsh_planes()
    bits = []
    for p, plane in enumerate(planes):
        arr = "[" + ", ".join(repr(v) for v in plane) + "]"
        bits.append(f"(CASE WHEN {duckdb_dot(arr, emb, DIM)} >= 0 "
                    f"THEN {1 << p} ELSE 0 END)")
    return " + ".join(bits)


@register(
    "e4b_lsh_bucket_knn",
    oracle=f"""
WITH e AS (
    SELECT vec_id, embedding::DOUBLE[] AS emb,
           {duckdb_norm('(embedding::DOUBLE[])', DIM)} AS nrm,
           ({_duckdb_bucket('(embedding::DOUBLE[])')}) AS bucket
    FROM embeddings
), q AS (
    SELECT vec_id AS query_id, emb AS qemb, nrm AS qnrm, bucket FROM e
    WHERE vec_id % 50 = 0
), pairs AS (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           round({duckdb_dot('q.qemb', 'e.emb', DIM)} / (q.qnrm * e.nrm), 6) AS cosine
    FROM q JOIN e USING (bucket)
    WHERE q.query_id <> e.vec_id
), ranked AS (
    SELECT query_id, neighbor_id, cosine,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id ASC) AS rn
    FROM pairs
)
SELECT query_id, neighbor_id, cosine FROM ranked WHERE rn <= 5
""",
    tags=("north-star", "E4", "similarity"),
)
def e4b_lsh_bucket_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via random-hyperplane LSH: bucket = sign bits of
    4 fixed seeded hyperplanes, candidates = same-bucket rows only, exact
    cosine within bucket. Deterministic (planes are literals) → exact
    oracle. At scale the bucket join replaces the O(|Q|·n) cross join with
    O(|Q|·n/2^p) and shuffles on the bucket key."""
    e = _bucketize(table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double_array("embedding").alias("emb")))
    q = (e.filter(F.col("vec_id") % 50 == 0)
         .select(F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb"),
                 F.col("nrm").alias("qnrm"), "bucket"))
    pairs = (e.join(F.broadcast(q), "bucket")
             .filter(F.col("query_id") != F.col("vec_id"))
             .select("query_id", F.col("vec_id").alias("neighbor_id"),
                     _pair_cos("qemb", "emb", "qnrm", "nrm").alias("cosine")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (pairs.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 5).select("query_id", "neighbor_id", "cosine"))


@register(
    "e4c_embedding_near_dup",
    oracle=f"""
WITH e AS (
    SELECT vec_id, embedding::DOUBLE[] AS emb,
           {duckdb_norm('(embedding::DOUBLE[])', DIM)} AS nrm
    FROM embeddings WHERE vec_id % 5 = 0
)
SELECT a.vec_id AS v1, b.vec_id AS v2,
       round({duckdb_dot('a.emb', 'b.emb', DIM)} / (a.nrm * b.nrm), 6) AS cosine
FROM e a, e b
WHERE a.vec_id < b.vec_id
  AND round({duckdb_dot('a.emb', 'b.emb', DIM)} / (a.nrm * b.nrm), 6) >= 0.3
""",
    tags=("north-star", "dedup", "similarity"),
)
def e4c_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cosine ≥ 0.3) on a
    deterministic 20% sample — the semantic-dedup ground truth; the LSH
    bucketing of e4b is its scale path."""
    e = (table(spark, sf_dir, "embeddings")
         .filter(F.col("vec_id") % 5 == 0)
         .select("vec_id", to_double_array("embedding").alias("emb")))
    e = e.withColumn("nrm", l2_norm(F.col("emb")))
    a = e.select(F.col("vec_id").alias("v1"), F.col("emb").alias("e1"),
                 F.col("nrm").alias("n1"))
    b = e.select(F.col("vec_id").alias("v2"), F.col("emb").alias("e2"),
                 F.col("nrm").alias("n2"))
    return (a.join(F.broadcast(b), F.col("v1") < F.col("v2"))
            .select("v1", "v2", _pair_cos().alias("cosine"))
            .filter(F.col("cosine") >= 0.3))


@register("e4d_ivf_knn", tags=("north-star", "E4", "similarity", "approx"))
def e4d_ivf_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-5: seeded KMeans (k=8) partitions the corpus into
    cells; each query probes its nprobe=3 nearest cells (by centroid
    distance), exact cosine within. Rows-only (centroids are iterative-fit
    artifacts); recall vs the exact e4 baseline is asserted in
    tests/test_invariants.py. At 100 TB the cell id is a partition key: each
    query touches nprobe/k of the corpus, and the centroid table (k rows)
    lives as broadcast literals in the plan."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    nprobe = 3
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double_array("embedding").alias("emb"))
    vecs = e.withColumn("features", array_to_vector("emb"))
    model = KMeans(k=8, seed=LSH_SEED, featuresCol="features").fit(vecs)
    cells = model.transform(vecs).select(
        "vec_id", "emb", F.col("prediction").alias("cell"))
    cells = cells.withColumn("nrm", l2_norm(F.col("emb"))).cache()
    centroids = [c.tolist() for c in model.clusterCenters()]

    def _sqdist(center: list[float]):
        diff = F.zip_with(F.array(*[F.lit(v) for v in center]), F.col("qemb"),
                          lambda c, x: (c - x) * (c - x))
        return F.aggregate(diff, F.lit(0.0), lambda acc, x: acc + x)

    cell_rank = F.array(*[
        F.struct(_sqdist(c).alias("d"), F.lit(i).alias("cell"))
        for i, c in enumerate(centroids)])
    q = (cells.filter(F.col("vec_id") % 50 == 0)
         .select(F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb"),
                 F.col("nrm").alias("qnrm"))
         .withColumn("probe",
                     F.explode(F.slice(F.array_sort(cell_rank), 1, nprobe)))
         .select("query_id", "qemb", "qnrm",
                 F.col("probe.cell").alias("cell")))
    pairs = (cells.join(F.broadcast(q), "cell")
             .filter(F.col("query_id") != F.col("vec_id"))
             .select("query_id", F.col("vec_id").alias("neighbor_id"),
                     F.round(adot(F.col("qemb"), F.col("emb"))
                             / (F.col("qnrm") * F.col("nrm")), 6).alias("cosine")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (pairs.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 5).select("query_id", "neighbor_id", "cosine"))


_MAX_ABS_DUCK = ("list_reduce(list_prepend(0.0::DOUBLE, "
                 "list_transform(embedding::DOUBLE[], x -> abs(x))), "
                 "(acc, x) -> greatest(acc, x))")

_Q8_KNN_ORACLE = f"""
WITH m AS (
    SELECT vec_id, embedding::DOUBLE[] AS emb, {_MAX_ABS_DUCK} AS ma
    FROM embeddings
), z AS (
    SELECT vec_id,
           list_transform(emb, x -> round(x * 127.0 / ma)) AS q8
    FROM m
), n AS (
    SELECT vec_id, q8, {duckdb_norm('q8', DIM)} AS nrm FROM z
), q AS (
    SELECT vec_id AS query_id, q8 AS qq8, nrm AS qnrm FROM n
    WHERE vec_id % 50 = 0
), pairs AS (
    SELECT q.query_id, n.vec_id AS neighbor_id,
           round({duckdb_dot('q.qq8', 'n.q8', DIM)} / (q.qnrm * n.nrm), 6)
               AS cosine_q8
    FROM q, n
    WHERE q.query_id <> n.vec_id
), ranked AS (
    SELECT query_id, neighbor_id, cosine_q8,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine_q8 DESC, neighbor_id ASC) AS rn
    FROM pairs
)
SELECT query_id, neighbor_id, cosine_q8 FROM ranked WHERE rn <= 5
"""


@register("e4e_int8_knn", oracle=_Q8_KNN_ORACLE,
          tags=("north-star", "E4", "similarity", "quantization"))
def e4e_int8_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 cosine neighbors over int8-QUANTIZED embeddings (e15's
    symmetric per-vector quantization feeding e4's broadcast top-k): the
    memory-bound retrieval configuration — 8× smaller vectors, integer
    dot products (|q| ≤ 127, 64 dims → Σ ≤ 2^20, exact in double), cosine
    from the quantized vectors themselves. Deterministic end to end, so
    the whole quantized pipeline carries an exact oracle; recall@5 vs the
    float path (e4) is pinned in tests/test_invariants.py — the accuracy
    cost of the 8× compression is a measured, regression-guarded number.

    100 TB: same plan as e4 (query side broadcast, corpus never shuffles)
    but the corpus scan reads 64 B/vector instead of 512 B — at this scan-
    bound regime the compression IS the speedup; at billion-vector scale
    compose with e4b's bucketing (quantize within buckets)."""
    # fan_out: quantization + norm folds + one 64-element integer dot
    # per (query, corpus-row) pair all serialize on the unsplittable
    # single-row-group scan otherwise. The query subset quantizes off the
    # PRE-fan_out frame (ADVICE r13): identical expressions, so values
    # match bit-for-bit, but the tiny broadcast lineage skips the exchange.
    base = table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double_array("embedding").alias("emb"))
    ma = F.aggregate(F.transform(F.col("emb"), lambda x: F.abs(x)),
                     F.lit(0.0), lambda acc, x: F.greatest(acc, x))

    def _quantized(e: DataFrame) -> DataFrame:
        # two-step selects: materialize ma, then q8, then its norm, so no
        # fold re-evaluates downstream (the e5 Generate lesson applies to
        # joins too)
        z = (e.withColumn("ma", ma)
             .select("vec_id", F.transform(
                 F.col("emb"),
                 lambda x: F.round(x * 127.0 / F.col("ma"))).alias("q8")))
        return z.select("vec_id", "q8", l2_norm(F.col("q8")).alias("nrm"))

    n = _quantized(fan_out(base, "vec_id"))
    q = (_quantized(base).filter(F.col("vec_id") % 50 == 0)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("q8").alias("qq8"), F.col("nrm").alias("qnrm")))
    pairs = (n.crossJoin(F.broadcast(q))
             .filter(F.col("query_id") != F.col("vec_id"))
             .select("query_id", F.col("vec_id").alias("neighbor_id"),
                     F.round(adot(F.col("qq8"), F.col("q8"))
                             / (F.col("qnrm") * F.col("nrm")), 6)
                      .alias("cosine_q8")))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_q8"), F.asc("neighbor_id"))
    return (pairs.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 5)
            .select("query_id", "neighbor_id", "cosine_q8"))


@register(
    "e48_centroid_outliers",
    oracle="""
WITH ex AS (
    SELECT vec_id, label, unnest(range(0, len(embedding))) AS pos,
           unnest(embedding) AS val
    FROM embeddings
), cent AS (
    SELECT label, pos, avg(val) AS c FROM ex GROUP BY label, pos
)
SELECT ex.vec_id, ex.label,
       round(sum((ex.val - cent.c) * (ex.val - cent.c)), 6) AS dist2
FROM ex JOIN cent ON ex.label = cent.label AND ex.pos = cent.pos
GROUP BY ex.vec_id, ex.label
""",
    tags=("north-star", "E4", "similarity", "quality", "outlier"),
)
def e48_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding OUTLIER scoring: per-label centroid (per-dimension mean
    over the exploded (label, pos) space) and each vector's squared L2
    distance to its own centroid — the embedding-space quality gate that
    flags mislabeled/degenerate vectors before they poison training
    (downstream keeps dist2 below a percentile cut, e.g. b6's machinery).
    Distances are summed per vector and rounded to 6 dp on both engines —
    the repo's cross-row double-sum convention (the per-dim mean is a
    cross-row aggregate, so unlike e4's per-row folds it is not bit-stable
    unrounded; round(6) absorbs the last-ulp divergence).

    100 TB: the exploded aggregate is (|labels| × 64) rows — map-side
    combinable and broadcast back for the distance join (same join-back
    shape as d77/e11); the corpus shuffles once on (label, pos) partials
    and once per-vector, both uniformly keyed."""
    emb = table(spark, sf_dir, "embeddings")
    ex = emb.select("vec_id", "label",
                    F.posexplode("embedding").alias("pos", "val"))
    cent = ex.groupBy("label", "pos").agg(F.avg("val").alias("c"))
    diff = F.col("val") - F.col("c")
    return (ex.join(F.broadcast(cent), ["label", "pos"])
            .groupBy("vec_id", "label")
            .agg(F.round(F.sum(diff * diff), 6).alias("dist2")))


@register(
    "e5b_dimension_minmax_scale",
    oracle="""
WITH x AS (
    SELECT vec_id, i - 1 AS dim, (embedding::DOUBLE[])[i] AS v
    FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
), s AS (
    SELECT dim, min(v) AS lo, max(v) AS hi FROM x GROUP BY dim
)
SELECT x.vec_id, CAST(x.dim AS BIGINT) AS dim,
       (x.v - s.lo) / nullif(s.hi - s.lo, 0) AS scaled
FROM x JOIN s USING (dim)
""",
    tags=("north-star", "E5", "similarity", "scaling"),
)
def e5b_dimension_minmax_scale(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """PER-DIMENSION min-max scaling of the embedding column to [0, 1]
    (E5's second representative — e5 normalizes per VECTOR, this scales
    per DIMENSION, the MinMaxScaler semantics without densifying
    through an MLlib vector column). min/max are order-independent
    exact aggregates, and the rescale is one subtract + divide per cell
    — bit-exact on both engines with NO rounding, unlike mean/std
    standardization whose cross-row float sum would need it.

    100 TB: posexplode fans out rows ×dim but the per-dim aggregate is
    map-side combinable down to `dim` rows (constant), which then
    BROADCASTS back onto the exploded cells — no shuffle of the cells
    themselves at any point."""
    e = table(spark, sf_dir, "embeddings")
    x = (e.select("vec_id", F.posexplode(
            F.col("embedding").cast("array<double>")).alias("dim", "v"))
         .select("vec_id", F.col("dim").cast("bigint").alias("dim"), "v"))
    s = x.groupBy("dim").agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
    return (x.join(F.broadcast(s), "dim")
            .select("vec_id", "dim",
                    # try_divide: a constant dimension (hi == lo) yields
                    # NULL on BOTH engines instead of an ANSI
                    # DIVIDE_BY_ZERO on Spark only (review r8 finding)
                    F.try_divide(F.col("v") - F.col("lo"),
                                 F.col("hi") - F.col("lo"))
                    .alias("scaled")))


# Semantic near-dup threshold on the 6-dp-rounded cosine — e4c/e58's
# 0.3, which the measured within-bucket distribution of the synthetic
# embeddings confirms is the only sane choice: at sf0.01 the 7,821
# same-bucket candidates (16x below the 124,750 all-pairs) carry 138
# edges at 0.3, 9 at 0.4, and ZERO at >= 0.5 — the corpus has no
# higher-cosine mass, so a "stricter" threshold would grade an empty
# graph.
SEMANTIC_DUP_COSINE = 0.3


def _semantic_cc_ctes() -> str:
    """The shared oracle body for the semantic-dedup family: bucket →
    within-bucket rounded-cosine pairs → symmetric edges → recursive
    transitive closure → cluster sizes. e112 (batch) and e114
    (incremental engine side, batch oracle side) both grade against
    THIS closure — one definition, so the two queries' oracles cannot
    drift."""
    from pyspark_ml_features_spark.functions.arrays import (
        duckdb_dot,
        duckdb_norm,
    )

    return f"""
WITH RECURSIVE e AS (
    SELECT vec_id, embedding::DOUBLE[] AS emb,
           {duckdb_norm('(embedding::DOUBLE[])', DIM)} AS nrm,
           ({_duckdb_bucket('(embedding::DOUBLE[])')}) AS bucket
    FROM embeddings
), pairs AS (
    SELECT a.vec_id AS v1, b.vec_id AS v2
    FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE round({duckdb_dot('a.emb', 'b.emb', DIM)} / (a.nrm * b.nrm), 6)
          >= {SEMANTIC_DUP_COSINE}
), edges AS (
    SELECT v1 AS src, v2 AS dst FROM pairs
    UNION ALL
    SELECT v2 AS src, v1 AS dst FROM pairs
), reach(node, lbl) AS (
    SELECT vec_id, vec_id FROM e
    UNION
    SELECT ed.dst, r.lbl FROM reach r JOIN edges ed ON ed.src = r.node
), cc AS (
    SELECT node AS vec_id, min(lbl) AS cluster_id FROM reach GROUP BY node
), sz AS (
    SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
    FROM cc GROUP BY cluster_id
)
"""


def _e112_oracle() -> str:
    return _semantic_cc_ctes() + """
SELECT e.vec_id, CAST(e.bucket AS BIGINT) AS bucket,
       cc.cluster_id, sz.cluster_size,
       CASE WHEN e.vec_id = cc.cluster_id THEN 'kept'
            ELSE 'dup_reject' END AS stage
FROM e JOIN cc ON e.vec_id = cc.vec_id
       JOIN sz ON cc.cluster_id = sz.cluster_id
"""


@register(
    "e112_semantic_dedup_chain",
    oracle=_e112_oracle(),
    tags=("north-star", "similarity", "dedup", "graph", "iterative",
          "integration"),
)
def e112_semantic_dedup_chain(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """ANN → DEDUP chain with a full-corpus disposition audit (the
    SemDeDup production shape, Abbas et al. 2023) — the SCALE PATH that
    e58_semantic_dup_clusters' docstring has promised since r5, now
    implemented and graded: where e58 builds its pair graph with the
    documented all-pairs exact baseline over a 20% sample, e112 buckets
    the WHOLE embedding corpus with e4b's deterministic
    random-hyperplane LSH, computes exact cosine only INSIDE each
    bucket (e4c's arithmetic), feeds the pair graph to e45's min-label
    connected components, and emits a disposition for every vector —
    'kept' for each cluster's min vec_id, 'dup_reject' otherwise.
    The chain is load-bearing end to end: one flipped bucket bit moves
    a vector's candidate set, one last-ulp cosine flip adds/removes an
    edge, and one wrong CC label renames a whole cluster — the hash
    pins bucketing, pair arithmetic, the iterative fixpoint, AND the
    partition property (every vec_id exactly once) at once. The DuckDB
    oracle replays the identical plane literals, fold arithmetic, and a
    recursive-CTE transitive closure (the e45/e109 grading pattern).

    100 TB: the bucket join replaces the all-pairs O(n²) with
    O(n²/2^p) per bucket (2^20 buckets on a real deployment — e4b's
    economics; the corpus shuffles ONCE on the bucket key); CC rounds
    are bounded by near-dup-cluster diameter (tiny stars/cliques — the
    e45 adjudication), each round an equi-join on node id; the
    disposition is one broadcast-size join of labels back to vectors.
    No text/embedding payload ever enters the iteration: edges are
    16-byte id pairs.

    Cites: similarity.py:e4b_lsh_bucket_knn (bucketing),
    similarity.py:e4c_embedding_near_dup (pair arithmetic),
    graph.py:connected_components (fixpoint), graph.py:e109 (the
    disposition-audit doctrine)."""
    from pyspark_ml_features_spark.functions.arrays import to_double_array

    # fan_out (r14, VERDICT r13 item 7): _bucketize's 5 64-element folds
    # per row AND the within-bucket cosine folds downstream of the
    # broadcast bucket join all inherit the unsplittable scan's ONE
    # partition; spread it first (no-op on a multi-split cluster scan).
    e = fan_out(table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double_array("embedding").alias("emb")), "vec_id")
    return semantic_dedup_disposition(e)


def _pair_sides(eb: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The two join sides of the within-bucket pair build, over a
    _bucketize()d frame."""
    a = eb.select(F.col("vec_id").alias("v1"), F.col("emb").alias("e1"),
                  F.col("nrm").alias("n1"), "bucket")
    b = eb.select(F.col("vec_id").alias("v2"), F.col("emb").alias("e2"),
                  F.col("nrm").alias("n2"), "bucket")
    return a, b


def _cluster_bucketized(eb: DataFrame) -> DataFrame:
    """Disposition over an already-_bucketize()d frame: within-bucket
    rounded-cosine pairs -> min-label CC -> (vec_id, bucket, cluster_id,
    cluster_size, stage)."""
    from pyspark_ml_features_spark.operators.graph import (
        connected_components,
    )

    a, b = _pair_sides(eb)
    edges = (a.join(b, "bucket")
             .filter(F.col("v1") < F.col("v2"))
             .filter(_pair_cos() >= SEMANTIC_DUP_COSINE)
             .select(F.col("v1").alias("src"), F.col("v2").alias("dst")))
    cc = connected_components(eb.select(F.col("vec_id").alias("node")),
                              edges)
    return _disposition(eb, cc)


def _disposition(eb: DataFrame, cc: DataFrame) -> DataFrame:
    """(vec_id, bucket, cluster_id, cluster_size, stage) for every vector
    of ``eb``: its ``cc`` cluster, the cluster's size, and 'kept' for the
    cluster minimum, 'dup_reject' otherwise."""
    from pyspark_ml_features_spark.operators.graph import with_cluster_size

    return (eb.select("vec_id", "bucket")
            .join(with_cluster_size(cc).withColumnRenamed("node", "vec_id"),
                  "vec_id")
            .withColumn("stage",
                        F.when(F.col("vec_id") == F.col("cluster_id"),
                               "kept").otherwise("dup_reject")))


def semantic_dedup_disposition(e: DataFrame) -> DataFrame:
    """The e112 pipeline over any (vec_id, emb: array<double>) DataFrame —
    ONE definition shared by the graded query and the replication ladder
    (scripts/stress_semantic_dedup.py), so the ladder exercises exactly
    the graded plan (the dup_cluster_assignment pattern, graph.py)."""
    return _cluster_bucketized(_bucketize(e))


def _e114_oracle() -> str:
    return _semantic_cc_ctes() + """
SELECT e.vec_id, CAST(e.bucket AS BIGINT) AS bucket,
       cc.cluster_id, sz.cluster_size,
       CASE WHEN e.vec_id = cc.cluster_id THEN 'kept'
            ELSE 'dup_reject' END AS stage,
       CAST(e.vec_id % 4 = 0 AS BIGINT) AS is_new
FROM e JOIN cc ON e.vec_id = cc.vec_id
       JOIN sz ON cc.cluster_id = sz.cluster_id
"""


@register(
    "e114_incremental_semantic_dedup",
    oracle=_e114_oracle(),
    tags=("north-star", "similarity", "dedup", "graph", "iterative",
          "incremental", "integration"),
)
def e114_incremental_semantic_dedup(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """INCREMENTAL semantic dedup == from-scratch batch — the one dedup
    family that had no incremental==batch pin (e107 grades exact dedup,
    e47 lexical near-dup; this closes the similarity family, per the
    §8m-next plan pulled forward). The nightly-ingest shape: the base
    corpus (vec_id % 4 != 0) is already clustered; a delta batch
    (vec_id % 4 == 0) arrives, and the engine must produce the
    full-corpus disposition incrementally:

    - base clusters enter the fixpoint as STAR EDGES (node ↔ its stored
      label — sound because the label, the cluster-min, IS a member, so
      the star has exactly the base cluster's connectivity in |base|
      16-byte edges, which connected_components walks both ways);
    - only delta×union candidate pairs are computed (the LSH bucket
      join restricted to pairs touching a new vector);
    - the min-label fixpoint warm-starts from the stored base labels
      (subset-component minima — the connected_components init_labels
      contract, e47's soundness argument).

    A base cluster that the delta BRIDGES to another must renumber all
    its members via star→delta→star propagation, so the hash pins the
    bridge semantics, not just new-vector attachment. The DuckDB oracle
    is deliberately NOT incremental: it replays e112's from-scratch
    closure over the union (the shared _semantic_cc_ctes definition),
    so a green hash is a driver-verified proof that incremental ==
    batch for the bucketed semantic pair graph.

    Cost honesty: the GRADED query synthesizes the "stored" base labels
    inline (stage 1 runs e112's pipeline on the base slice — the test
    fixture has no label store), so as written it does the batch work
    PLUS the delta work; the incremental ECONOMICS belong to the
    deployment shape, where stage 1 is one scan of a stored
    (vec_id, label) table. What the hash pins is the incremental
    ALGORITHM's equivalence: given correct base labels, star edges +
    delta×union pairs + a warm-started fixpoint reproduce the
    from-scratch closure exactly.

    100 TB (deployment shape): the base corpus contributes stored
    labels (16 bytes/vector, one table scan) and star edges — its
    embeddings are not re-read; the delta bucket join costs
    |delta|·(bucket occupancy), not corpus²; fixpoint rounds are
    bounded by the delta's attachment depth (warm labels are already
    collapsed).

    Cites: similarity.py:e112_semantic_dedup_chain (the batch twin),
    graph.py:e47_incremental_cc (warm-start soundness),
    dedup.py:e107 (the incremental==batch doctrine)."""
    from pyspark_ml_features_spark.functions.arrays import to_double_array

    # fan_out (r14): same unsplittable-scan + compute-dense shape as e112
    # — bucketize folds and the post-broadcast-join cosine folds were
    # single-task otherwise (no-op on a multi-split cluster scan).
    eb = _bucketize(fan_out(table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double_array("embedding").alias("emb")), "vec_id"))

    is_delta = F.col("vec_id") % 4 == 0
    # stage 1 (the "stored" state): base-only disposition — exactly
    # e112's pipeline (_cluster_bucketized) on the base slice; in
    # deployment this is a scan of the stored label table instead
    base_labels = (_cluster_bucketized(eb.filter(~is_delta))
                   .select(F.col("vec_id").alias("node"),
                           F.col("cluster_id").alias("lbl")))
    return incremental_semantic_disposition(eb, base_labels)


def incremental_semantic_disposition(eb: DataFrame,
                                     base_labels: DataFrame) -> DataFrame:
    """Stage 2 of e114 — ONE definition shared by the graded query and
    the delta-ingest ladder tier (scripts/stress_semantic_dedup.py), so
    the ladder's incremental economics are measured on exactly the
    graded plan. Inputs: a _bucketize()d union frame (vec_id, emb, nrm,
    bucket) where delta = vec_id % 4 == 0 (the fixture's ingest split —
    stable under the ladder's replica shift, which is a multiple of 4),
    and the stored base labels (node, lbl). Only delta×union candidate
    pairs are computed; base connectivity enters as star edges; the
    min-label fixpoint warm-starts from the stored labels."""
    from pyspark_ml_features_spark.operators.graph import (
        connected_components,
    )

    # delta×union pairs only (every candidate touches a new vector);
    # base-base candidates never enter this join. The v1 side is always
    # delta, so delta-base candidates appear exactly once; the ordering
    # guard keeps delta-delta candidates once too (ADVICE r12: without
    # it each delta-delta pair evaluated the 64-element fold twice and
    # needed a .distinct() shuffle afterwards).
    a, b = _pair_sides(eb)
    delta_edges = (a.filter(F.col("v1") % 4 == 0)
                   .join(b, "bucket")
                   .filter((F.col("v1") < F.col("v2"))
                           | (F.col("v2") % 4 != 0))
                   .filter(_pair_cos() >= SEMANTIC_DUP_COSINE)
                   .select(F.col("v1").alias("src"),
                           F.col("v2").alias("dst")))
    star_edges = base_labels.select(F.col("node").alias("src"),
                                    F.col("lbl").alias("dst"))
    cc = connected_components(
        eb.select(F.col("vec_id").alias("node")),
        delta_edges.unionByName(star_edges), init_labels=base_labels)
    return _disposition(eb, cc).withColumn(
        "is_new", (F.col("vec_id") % 4 == 0).cast("bigint"))


# own bucket + one probe per hyperplane, in plane order
N_PROBE_DEPTHS = 5


def multiprobe_candidates(eb: DataFrame) -> DataFrame:
    """Candidate pairs of a _bucketize()d (vec_id, emb, nrm, bucket)
    frame under Hamming-1 multi-probe, tagged with the FIRST probe depth
    that discovers each pair. One bucket-key equi-join per probe depth —
    the scale shape: candidates per probe are Σ_b |bucket ∩ probed|, not
    all-pairs, and each unordered pair lands in exactly one depth's join
    (XOR of two buckets is unique), so no dedup shuffle is needed.
    Shared by the graded query and the recall invariant test."""
    a = eb.select(F.col("vec_id").alias("v1"), F.col("emb").alias("e1"),
                  F.col("nrm").alias("n1"), F.col("bucket").alias("b1"))
    b = eb.select(F.col("vec_id").alias("v2"), F.col("emb").alias("e2"),
                  F.col("nrm").alias("n2"), F.col("bucket").alias("b2"))
    sets = []
    for depth in range(N_PROBE_DEPTHS):
        key = (F.col("b1") if depth == 0
               else F.col("b1").bitwiseXOR(F.lit(1 << (depth - 1))))
        sets.append(
            a.withColumn("pb", key.cast("bigint"))
            .join(b, F.col("pb") == F.col("b2"))
            .filter(F.col("v1") < F.col("v2"))
            .select("v1", "v2", "e1", "e2", "n1", "n2",
                    F.lit(depth).cast("bigint").alias("first_depth")))
    cand = sets[0]
    for s in sets[1:]:
        cand = cand.unionByName(s)
    return cand


_E115_ORACLE = f"""
WITH e AS (
    SELECT vec_id, embedding::DOUBLE[] AS emb,
           {duckdb_norm('(embedding::DOUBLE[])', DIM)} AS nrm,
           ({_duckdb_bucket('(embedding::DOUBLE[])')}) AS bucket
    FROM embeddings WHERE vec_id % 5 = 0
), pr AS (
    SELECT a.vec_id AS v1, b.vec_id AS v2,
           CASE WHEN a.bucket = b.bucket THEN 0
                WHEN xor(a.bucket, b.bucket) = 1 THEN 1
                WHEN xor(a.bucket, b.bucket) = 2 THEN 2
                WHEN xor(a.bucket, b.bucket) = 4 THEN 3
                WHEN xor(a.bucket, b.bucket) = 8 THEN 4
                ELSE NULL END AS first_depth,
           (round({duckdb_dot('a.emb', 'b.emb', DIM)} / (a.nrm * b.nrm), 6)
            >= {SEMANTIC_DUP_COSINE}) AS is_dup
    FROM e a JOIN e b ON a.vec_id < b.vec_id
), d AS (
    SELECT unnest(range(0, {N_PROBE_DEPTHS})) AS probe_depth
)
SELECT d.probe_depth AS probe_depth,
       CAST(sum(CASE WHEN pr.first_depth IS NOT NULL
                      AND pr.first_depth <= d.probe_depth
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_candidates,
       CAST(sum(CASE WHEN pr.first_depth IS NOT NULL
                      AND pr.first_depth <= d.probe_depth
                      AND pr.is_dup THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_pairs,
       CAST(sum(CASE WHEN pr.is_dup THEN 1 ELSE 0 END) AS BIGINT)
           AS n_true_pairs
FROM d CROSS JOIN pr
GROUP BY d.probe_depth
"""


@register("e115_multiprobe_lsh_recall", oracle=_E115_ORACLE,
          tags=("north-star", "similarity", "dedup", "lsh"))
def e115_multiprobe_lsh_recall(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Multi-probe LSH recall buy-back, pinned exactly: one row per probe
    depth q ∈ [0, 5) with the CUMULATIVE candidate-pair count, the
    cumulative semantic-dup pairs found (rounded cosine ≥ 0.3, e112's
    threshold), and the all-pairs ground-truth dup count on the same
    deterministic 20% sample (e4c's vec_id % 5 = 0) — so
    n_dup_pairs/n_true_pairs is the measured recall and n_candidates the
    price paid for it, both monotone in q by construction (counts are
    cumulative over each pair's unique first-discovery depth; the SET
    containment pairs(q) ⊇ pairs(q-1) is pinned in
    tests/test_invariants.py).

    100 TB: each probe depth is one more bucket-key equi-join — cost
    grows linearly in probes while recall buys back the bucket-boundary
    loss that fixed single-probe LSH (e4b/e112) pays; the deployment
    knob is (p planes, q probes) with candidates ~ q·n²/2^p, all
    shuffle-on-bucket, never all-pairs. The all-pairs truth join exists
    only on the bounded sample as the recall denominator (e4c
    precedent, BNLJ_ALLOWED).

    Cites: similarity.py:_bucketize/_lsh_planes (the shared bucketing),
    similarity.py:e112 (the single-probe consumer this de-risks),
    DESIGN_SCALE.md "Round-12 additions" (the mitigation this grades)."""
    # fan_out (r14): the probe-join cosine folds AND the all-pairs truth
    # BNLJ (~80k 64-element folds at sf0.1) run on the stream side's
    # partitioning — ONE task over the unsplittable scan otherwise
    # (no-op on a multi-split cluster scan).
    eb = _bucketize(fan_out(table(spark, sf_dir, "embeddings")
                            .filter(F.col("vec_id") % 5 == 0)
                            .select("vec_id",
                                    to_double_array("embedding")
                                    .alias("emb")), "vec_id"))
    cand = multiprobe_candidates(eb)
    per_depth = (cand.select(
        "first_depth",
        (_pair_cos() >= SEMANTIC_DUP_COSINE).cast("bigint").alias("is_dup"))
        .groupBy("first_depth")
        .agg(F.count(F.lit(1)).alias("n_cand_d"),
             F.sum("is_dup").alias("n_dup_d")))
    spine = (spark.range(N_PROBE_DEPTHS)
             .select(F.col("id").cast("bigint").alias("probe_depth")))
    w = (Window.orderBy("probe_depth")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = (spine.join(per_depth,
                      spine.probe_depth == per_depth.first_depth, "left")
           .select("probe_depth",
                   F.coalesce("n_cand_d", F.lit(0)).alias("c"),
                   F.coalesce("n_dup_d", F.lit(0)).alias("p"))
           .select("probe_depth",
                   F.sum("c").over(w).cast("bigint").alias("n_candidates"),
                   F.sum("p").over(w).cast("bigint").alias("n_dup_pairs")))
    # all-pairs ground truth on the bounded sample — the recall
    # denominator (e4c's shape; the only non-bucketed join here)
    a = eb.select(F.col("vec_id").alias("v1"), F.col("emb").alias("e1"),
                  F.col("nrm").alias("n1"))
    b = eb.select(F.col("vec_id").alias("v2"), F.col("emb").alias("e2"),
                  F.col("nrm").alias("n2"))
    truth = (a.join(F.broadcast(b), F.col("v1") < F.col("v2"))
             .filter(_pair_cos() >= SEMANTIC_DUP_COSINE)
             .agg(F.count(F.lit(1)).cast("bigint").alias("n_true_pairs")))
    return cum.crossJoin(F.broadcast(truth))


# ---------------------------------------------------------------------------
# e116: OR-banding — the OTHER recall mitigation DESIGN_SCALE names.
# Multi-probe (e115) buys recall by probing NEIGHBOR buckets of one plane
# set; OR-banding buys it with multiple INDEPENDENT plane sets (bands) and
# unions the single-probe collisions. Band 0 reuses THE e112/e4b planes
# (seed = LSH_SEED), so e116's band-0 row must equal e115's depth-0 row —
# pinned in tests/test_invariants.py as a cross-query exactness check.
# ---------------------------------------------------------------------------

N_BANDS = 4  # independent 4-plane sets; seeds LSH_SEED + band


def _band_planes(band: int):
    """Plane set for one band — band 0 is THE single-band set every graded
    LSH query uses (same seed), bands 1+ are fresh independent draws."""
    return _lsh_planes(seed=LSH_SEED + band)


def or_band_candidates(eb: DataFrame, n_bands: int = N_BANDS) -> DataFrame:
    """Candidate pairs under OR-banding, tagged with the FIRST band whose
    buckets collide. One bucket-key equi-join per band; a pair that
    collides in band b is emitted by band b's join ONLY if every earlier
    band's buckets differ — bands are therefore disjoint by construction
    and the union needs no dedup shuffle (e115's first-depth trick, with
    'earlier band mismatch' standing in for XOR uniqueness). Shared by the
    graded query and the invariant tests."""
    a_cols = [F.col("vec_id").alias("v1"), F.col("emb").alias("e1"),
              F.col("nrm").alias("n1")] + [
        F.col(f"bucket_{b}").alias(f"ab{b}") for b in range(n_bands)]
    b_cols = [F.col("vec_id").alias("v2"), F.col("emb").alias("e2"),
              F.col("nrm").alias("n2")] + [
        F.col(f"bucket_{b}").alias(f"bb{b}") for b in range(n_bands)]
    a, b = eb.select(*a_cols), eb.select(*b_cols)
    sets = []
    for band in range(n_bands):
        j = (a.join(b, F.col(f"ab{band}") == F.col(f"bb{band}"))
             .filter(F.col("v1") < F.col("v2")))
        for prev in range(band):
            j = j.filter(F.col(f"ab{prev}") != F.col(f"bb{prev}"))
        sets.append(j.select(
            "v1", "v2", "e1", "e2", "n1", "n2",
            F.lit(band).cast("bigint").alias("first_band")))
    cand = sets[0]
    for s in sets[1:]:
        cand = cand.unionByName(s)
    return cand


def _e116_oracle() -> str:
    bucket_cols = ",\n           ".join(
        f"({_duckdb_bucket('(embedding::DOUBLE[])', _band_planes(b))})"
        f" AS bucket_{b}" for b in range(N_BANDS))
    first_band = " ".join(
        f"WHEN a.bucket_{b} = b.bucket_{b} THEN {b}"
        for b in range(N_BANDS))
    return f"""
WITH e AS (
    SELECT vec_id, embedding::DOUBLE[] AS emb,
           {duckdb_norm('(embedding::DOUBLE[])', DIM)} AS nrm,
           {bucket_cols}
    FROM embeddings WHERE vec_id % 5 = 0
), pr AS (
    SELECT a.vec_id AS v1, b.vec_id AS v2,
           CASE {first_band} ELSE NULL END AS first_band,
           (round({duckdb_dot('a.emb', 'b.emb', DIM)} / (a.nrm * b.nrm), 6)
            >= {SEMANTIC_DUP_COSINE}) AS is_dup
    FROM e a JOIN e b ON a.vec_id < b.vec_id
), d AS (
    SELECT unnest(range(0, {N_BANDS})) AS band
)
SELECT d.band AS band,
       CAST(sum(CASE WHEN pr.first_band IS NOT NULL
                      AND pr.first_band <= d.band
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_candidates,
       CAST(sum(CASE WHEN pr.first_band IS NOT NULL
                      AND pr.first_band <= d.band
                      AND pr.is_dup THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_pairs,
       CAST(sum(CASE WHEN pr.is_dup THEN 1 ELSE 0 END) AS BIGINT)
           AS n_true_pairs
FROM d CROSS JOIN pr
GROUP BY d.band
"""


@register("e116_or_banding_recall", oracle=_e116_oracle(),
          tags=("north-star", "similarity", "dedup", "lsh"))
def e116_or_banding_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR-banding recall buy-back, pinned exactly: one row per band count
    b ∈ [0, 4) with the CUMULATIVE candidate-pair count using bands 0..b,
    the cumulative semantic-dup pairs found (rounded cosine ≥ e112's
    threshold), and the all-pairs truth on the same deterministic 20%
    sample (vec_id % 5 = 0 — e115's sample, so the two mitigations'
    recall-vs-candidates columns are directly comparable row-for-row and
    the band-0 row IS e115's depth-0 row).

    100 TB: each extra band is one more shuffle-on-bucket equi-join over
    independent planes — candidates grow ~B·n²/2^p minus overlaps while
    recall compounds as 1-(1-hit)^B; versus multi-probe, OR-banding pays
    B bucketize passes but probes no neighbor buckets (better when bucket
    occupancy is skewed). The only non-bucketed join is the bounded-sample
    truth denominator (BNLJ_ALLOWED, e4c/e115 precedent).

    Cites: similarity.py:_bucketize/_duckdb_bucket (now band-parameterized,
    still the single shared definition), similarity.py:e115 (the sibling
    mitigation this is graded against), DESIGN_SCALE.md Round-12/13
    sections (the trade stress_ann measured, now an exactness pin)."""
    # fan_out (r14): e115's shape with 4 independent band bucketizations
    # (20 folds/row) plus the same truth BNLJ — all single-task on the
    # unsplittable scan otherwise (no-op on a multi-split cluster scan).
    eb = fan_out(table(spark, sf_dir, "embeddings")
                 .filter(F.col("vec_id") % 5 == 0)
                 .select("vec_id", to_double_array("embedding").alias("emb")),
                 "vec_id")
    for band in range(N_BANDS):
        eb = _bucketize(eb, planes=_band_planes(band),
                        bucket_col=f"bucket_{band}")
    cand = or_band_candidates(eb)
    per_band = (cand.select(
        "first_band",
        (_pair_cos() >= SEMANTIC_DUP_COSINE).cast("bigint").alias("is_dup"))
        .groupBy("first_band")
        .agg(F.count(F.lit(1)).alias("n_cand_b"),
             F.sum("is_dup").alias("n_dup_b")))
    spine = (spark.range(N_BANDS)
             .select(F.col("id").cast("bigint").alias("band")))
    w = (Window.orderBy("band")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = (spine.join(per_band, spine.band == per_band.first_band, "left")
           .select("band",
                   F.coalesce("n_cand_b", F.lit(0)).alias("c"),
                   F.coalesce("n_dup_b", F.lit(0)).alias("p"))
           .select("band",
                   F.sum("c").over(w).cast("bigint").alias("n_candidates"),
                   F.sum("p").over(w).cast("bigint").alias("n_dup_pairs")))
    a = eb.select(F.col("vec_id").alias("v1"), F.col("emb").alias("e1"),
                  F.col("nrm").alias("n1"))
    b = eb.select(F.col("vec_id").alias("v2"), F.col("emb").alias("e2"),
                  F.col("nrm").alias("n2"))
    truth = (a.join(F.broadcast(b), F.col("v1") < F.col("v2"))
             .filter(_pair_cos() >= SEMANTIC_DUP_COSINE)
             .agg(F.count(F.lit(1)).cast("bigint").alias("n_true_pairs")))
    return cum.crossJoin(F.broadcast(truth))
