"""Mergeable-sketch family (SURVEY §2-D approximate-aggregation family).

At 100 TB the only viable distinct-count / frequency architecture is a
MERGEABLE summary: each partition builds a small sketch, partial combine
happens map-side, and only sketch bytes cross the wire — never raw keys.
Two canonical instances:

 - ``d38_hll_distinct_rollup``: Apache DataSketches HLL via the built-in
   ``hll_sketch_agg`` / ``hll_union_agg`` / ``hll_sketch_estimate`` —
   month-level sketches are aggregated ONCE, then re-rolled to year level
   by unioning the stored sketches, never rescanning the fact table. This
   is the materialized-rollup pattern (precompute fine-grained sketches,
   answer any coarser grain from them) that makes interactive distinct
   counts possible over 100 TB.
 - ``d39_heavy_hitters``: Misra-Gries frequency summaries built
   per-partition in an Arrow-batched ``mapInPandas``, merged by the
   classic summary merge (sum counters, subtract the (k+1)-th largest,
   drop non-positive). The MG guarantee — any key with global frequency
   > n/k survives every merge — makes the candidate set a superset of the
   true heavy hitters, so one exact recount of the (tiny, broadcast)
   candidate set yields EXACTLY ``{key : count(key) > n/k}``. The sketch
   pass is approximate; the declared output is deterministic and carries
   a plain GROUP BY / HAVING oracle.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from pyspark_ml_features_spark.registry import register
from pyspark_ml_features_spark.sources import table

MG_K = 150  # Misra-Gries counter budget: heavy hitter = freq > n/K
KMV_K = 256  # k-minimum-values budget: RSE ~ 1/sqrt(K-1) ~ 6.3%


@register(
    "d38_hll_distinct_rollup",
    tags=("north-star", "D6", "sketch", "approx"),
)
def d38_hll_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct customers per order-year, estimated by unioning per-month
    DataSketches HLL sketches — the fact table is scanned once at month
    grain; the year grain is answered purely from stored sketch bytes
    (``hll_union_agg``). Estimates are engine-specific → rows-only;
    tests/test_invariants.py asserts ≤5% relative error vs the exact
    distinct count."""
    o = table(spark, sf_dir, "orders").select(
        F.year("o_orderdate").alias("o_year"),
        F.month("o_orderdate").alias("o_month"),
        "o_custkey")
    monthly = o.groupBy("o_year", "o_month").agg(
        F.hll_sketch_agg("o_custkey").alias("sk"))
    return (monthly.groupBy("o_year")
            .agg(F.hll_union_agg("sk").alias("sk"))
            .select("o_year",
                    F.hll_sketch_estimate("sk").alias("est_customers")))


def _mg_partition(batches: Iterator) -> Iterator:
    """Misra-Gries summary of one partition's ``user_id`` stream, merged
    batch-by-batch: add each Arrow batch's value counts, and when more than
    ``MG_K`` counters are live, subtract the (K+1)-th largest count from all
    and drop the non-positive — the standard mergeable-summaries reduction,
    vectorized over pandas instead of per-row decrement loops."""
    import pandas as pd

    agg = None
    for pdf in batches:
        vc = pdf["user_id"].value_counts()
        agg = vc if agg is None else agg.add(vc, fill_value=0)
        if len(agg) > MG_K:
            cut = agg.nlargest(MG_K + 1).iloc[-1]
            agg = agg[agg > cut] - cut
    if agg is not None and len(agg):
        yield pd.DataFrame({"user_id": agg.index.astype("int64")})


@register(
    "d39_heavy_hitters",
    oracle=f"""
SELECT user_id, count(*) AS n_events
FROM events
GROUP BY user_id
HAVING count(*) > (SELECT count(*) FROM events) / {MG_K}.0
""",
    tags=("north-star", "D20", "sketch"),
)
def d39_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters (users with > n/K of all events) via two passes:
    (1) per-partition Misra-Gries in ``mapInPandas`` emits candidate keys —
    by the MG guarantee a superset of every key with frequency > n/K;
    (2) an exact recount restricted to the broadcast candidate set, filtered
    by the threshold. Deterministic output (candidate noise is filtered by
    the exact HAVING), hence the exact oracle.

    100 TB shape: pass 1 moves only ≤K counters per partition; pass 2
    shuffles only rows matching the broadcast semi-filter, keyed on the few
    candidate keys. Raw key cardinality never crosses the wire. (This
    fixture's distinct-user count is ≤K, so MG prunes nothing locally; the
    plan shape, not the fixture, is the point.)"""
    ev = table(spark, sf_dir, "events").select("user_id")
    cand = ev.mapInPandas(_mg_partition, "user_id long").distinct()
    total = ev.agg(F.count(F.lit(1)).alias("__n"))
    return (ev.join(F.broadcast(cand), "user_id")
            .groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
            .crossJoin(F.broadcast(total))
            .filter(F.col("n_events") > F.col("__n") / MG_K)
            .drop("__n"))


@register(
    "d46_kmv_setops",
    tags=("north-star", "D6", "sketch", "approx"),
)
def d46_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operation estimates via KMV / theta sketches — the capability
    HLL fundamentally lacks: HLL unions but cannot intersect, while a KMV
    sketch (the k smallest uniform hashes of each set) supports
    intersection and Jaccard in the theta framework. Sets here: parts
    with a 1995 return (l_returnflag = 'R') vs parts with a 1995 bulk
    shipment (l_quantity >= 45) — at sf0.01 these have ~1500 / ~800
    distinct keys (both > K) with ~40% Jaccard, so the sketch genuinely
    estimates a partial overlap rather than degenerating to exact.

    Estimator: with theta = min over sets of (K-th smallest hash, or 1.0
    when the set kept < K values), every hash below theta is a uniform
    sample with inclusion probability theta, so |S| ~ n_sample/theta and
    |A∩B| ~ n_both/theta; Jaccard = n_both/n_union_sample needs no theta.
    Estimates are hash-distribution-specific -> rows-only; the invariant
    test pins each estimate within 5 sigma of the exact answer.

    100 TB shape: the per-set k-smallest is a dense_rank window that Spark
    lowers to WindowGroupLimit — each input partition ships only its local
    top-K hashes per set (map-side group limit, NO distinct-cardinality
    shuffle); everything after the window touches <= 2K rows. That is the
    mergeable-summary contract: sketch bytes cross the wire, raw keys
    never do."""
    li = (table(spark, sf_dir, "lineitem")
          .select("l_partkey", "l_returnflag", "l_quantity", "l_shipdate")
          .filter(F.year("l_shipdate") == 1995))
    tagged = (li.where(li.l_returnflag == "R")
              .select(F.lit("a").alias("s"), "l_partkey")
              .unionByName(li.where(li.l_quantity >= 45)
                           .select(F.lit("b").alias("s"), "l_partkey")))
    h = (F.xxhash64("l_partkey").cast("double") / F.lit(float(2 ** 64))
         + F.lit(0.5))
    w = Window.partitionBy("s").orderBy("h")
    kept = (tagged.withColumn("h", h)
            .withColumn("rk", F.dense_rank().over(w))
            .filter(F.col("rk") <= KMV_K)
            .dropDuplicates(["s", "l_partkey"]))
    theta_per_set = kept.groupBy("s").agg(
        F.count(F.lit(1)).alias("n"), F.max("h").alias("hmax"))
    theta = theta_per_set.agg(
        F.min(F.when(F.col("n") >= KMV_K, F.col("hmax"))
              .otherwise(F.lit(1.0))).alias("theta"))
    samp = (kept.crossJoin(F.broadcast(theta))
            .filter(F.col("h") < F.col("theta")))
    memb = samp.groupBy("l_partkey", "theta").agg(
        F.max(F.when(F.col("s") == "a", 1).otherwise(0)).alias("in_a"),
        F.max(F.when(F.col("s") == "b", 1).otherwise(0)).alias("in_b"))
    return (memb.groupBy("theta").agg(
        F.sum("in_a").alias("na"), F.sum("in_b").alias("nb"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("ni"),
        F.count(F.lit(1)).alias("nu"))
        .select((F.col("na") / F.col("theta")).alias("est_returned_parts"),
                (F.col("nb") / F.col("theta")).alias("est_bulk_parts"),
                (F.col("ni") / F.col("theta")).alias("est_overlap"),
                (F.col("ni").cast("double") / F.col("nu"))
                .alias("jaccard_est")))


# Count-min geometry: depth 4 affine hashes over the 2^31-1 prime field
# (the e33 permutation family), width 256. Fixed constants so both engines
# compute the identical sketch.
_CMS_W = 256
_CMS_HASHES = ((999983, 12289), (999979, 24593), (999961, 49157),
               (999959, 98317))
_CMS_P = 2147483647


@register(
    "d118_count_min_sketch",
    oracle=f"""
WITH keys AS (
    SELECT l_partkey AS pk FROM lineitem
), cms AS (
    SELECT d.j, ((h.a * pk + h.b) % {_CMS_P}) % {_CMS_W} AS bucket,
           count(*) AS cnt
    FROM keys
    CROSS JOIN (VALUES (0), (1), (2), (3)) AS d(j)
    JOIN (VALUES {", ".join(f"({j}, {a}, {b})"
                            for j, (a, b) in enumerate(_CMS_HASHES))})
         AS h(j, a, b) ON h.j = d.j
    GROUP BY d.j, bucket
), truth AS (
    SELECT pk, count(*) AS true_cnt FROM keys GROUP BY pk
    ORDER BY true_cnt DESC, pk LIMIT 10
), probes AS (
    SELECT t.pk, t.true_cnt, h.j,
           ((h.a * t.pk + h.b) % {_CMS_P}) % {_CMS_W} AS bucket
    FROM truth t
    CROSS JOIN (VALUES {", ".join(f"({j}, {a}, {b})"
                                  for j, (a, b) in enumerate(_CMS_HASHES))})
         AS h(j, a, b)
)
SELECT p.pk, CAST(p.true_cnt AS BIGINT) AS true_cnt,
       CAST(min(c.cnt) AS BIGINT) AS cms_est,
       CAST(min(c.cnt) - p.true_cnt AS BIGINT) AS overcount
FROM probes p JOIN cms c ON c.j = p.j AND c.bucket = p.bucket
GROUP BY p.pk, p.true_cnt
""",
    tags=("engine", "sketch", "scale"),
)
def d118_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch with a HASH-EXACT oracle — the mergeable
    frequency sketch (Cormode & Muthukrishnan) as pure integer
    arithmetic: depth-4 affine hashes over the 2^31-1 prime field (the
    e33 permutation family) into width-256 counter rows, built by
    exploding each key into its 4 (row, bucket) cells and counting —
    a map-side-combinable aggregate to a FIXED 1024-cell state,
    mergeable across partitions/days by cell-wise addition. Point
    estimates for the top-10 true-frequency keys take min over the 4
    probed cells; `overcount = est - true` is the sketch's signature
    one-sided error, ≥ 0 by construction (the pytest invariant d38's
    HLL can never offer — HLL estimates are engine-specific, this
    sketch is deterministic, hence the exact oracle).

    100 TB: the sketch state is 1024 integers regardless of data volume
    (vs the exact groupBy's |keys| rows); the probe join broadcasts the
    GEOMETRY-bounded cell table. a·pk stays < 2^63 for keys < 9·10^12
    at these multipliers."""
    li = table(spark, sf_dir, "lineitem")
    keys = li.select(F.col("l_partkey").alias("pk"))
    cells = F.array(*[
        F.struct(F.lit(j).alias("j"),
                 (((F.lit(a) * F.col("pk") + F.lit(b)) % _CMS_P) % _CMS_W)
                 .alias("bucket"))
        for j, (a, b) in enumerate(_CMS_HASHES)])
    cms = (keys.select(F.explode(cells).alias("c"))
           .groupBy(F.col("c.j").alias("j"), F.col("c.bucket").alias("bucket"))
           .agg(F.count(F.lit(1)).alias("cnt")))
    truth = (keys.groupBy("pk").agg(F.count(F.lit(1)).alias("true_cnt"))
             .orderBy(F.col("true_cnt").desc(), "pk").limit(10))
    probes = truth.select(
        "pk", "true_cnt", F.explode(cells).alias("c")).select(
        "pk", "true_cnt", F.col("c.j").alias("j"),
        F.col("c.bucket").alias("bucket"))
    # cms is geometry-bounded (1024 cells): broadcast hint is safe at any SF
    return (probes.join(F.broadcast(cms), ["j", "bucket"])
            .groupBy("pk", "true_cnt")
            .agg(F.min("cnt").cast("bigint").alias("cms_est"))
            .select("pk", F.col("true_cnt").cast("bigint").alias("true_cnt"),
                    "cms_est",
                    (F.col("cms_est") - F.col("true_cnt")).cast("bigint")
                    .alias("overcount")))


@register(
    "d140_bitmap_distinct",
    oracle="""
SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
GROUP BY event_type
""",
    tags=("engine", "D5", "bitmap", "spark4", "scale"),
)
def d140_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via bitmap aggregates (Spark 3.5+
    bitmap_bucket_number / bitmap_bit_position / bitmap_construct_agg /
    bitmap_or_agg / bitmap_count) — the D5/D6 family's third point on
    the exactness-vs-state curve: exact like count(DISTINCT) but with
    MERGEABLE fixed-size state (one ≤4 KB bitmap per 32768-id bucket)
    instead of a per-key hash set, and rollup-able like HLL (d38) but
    with zero error. The three-level shape is the real rollup pattern:
    per-(type, day, bucket) bitmaps built once from raw ids, OR-merged
    across days WITHOUT re-reading raw ids (what HLL can only do
    approximately), then counted — shuffle carries bitmaps, never ids.
    (Nesting construct_agg inside or_agg in ONE select is an analysis
    error, NESTED_AGGREGATE_FUNCTION — each level is its own GROUP BY.)
    The oracle is the plain count(DISTINCT), which is the point: same
    answer, bounded mergeable state."""
    e = table(spark, sf_dir, "events")
    e.createOrReplaceTempView("ev_bmp8")
    return spark.sql("""
        SELECT event_type,
               CAST(sum(bitmap_count(b)) AS BIGINT) AS n_users
        FROM (
            SELECT event_type, bkt, bitmap_or_agg(day_b) AS b
            FROM (
                SELECT event_type, date(ts) AS day,
                       bitmap_bucket_number(user_id) AS bkt,
                       bitmap_construct_agg(
                           bitmap_bit_position(user_id)) AS day_b
                FROM ev_bmp8
                GROUP BY event_type, date(ts),
                         bitmap_bucket_number(user_id)
            )
            GROUP BY event_type, bkt
        )
        GROUP BY event_type
    """)
