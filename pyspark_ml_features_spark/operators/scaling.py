"""Robust scaling family (SURVEY §2-B B6, E11): ``(x - median) / IQR`` per
column, and per dimension of an ``array<double>`` embedding column.

Reference behavior (/root/reference/spark_ml_features.py:130-159): loop over
columns, one eager ``approxQuantile`` job per column, append ``{col}_scaled``,
skipping any column whose IQR <= 1e-10.

Scale fixes versus the reference:
 - ONE stats job for all columns (the reference's per-column loop costs k full
   scans at 100 TB; ml:148-150).
 - a fully declarative variant (:func:`robust_scale_expr`) that computes the
   quantiles as a 1-row aggregate and broadcast-cross-joins it — no eager
   driver action at plan-build time, and Catalyst keeps scan pruning intact.
 - an exact path (``percentile`` = linear interpolation, bit-identical to
   DuckDB ``quantile_cont``) for oracle checking, and an approx path
   (Greenwald-Khanna ``approxQuantile``) as the 100 TB default, since exact
   percentile materializes per-partition value buffers.

Per-dimension (E11) plan shape: posexplode (one shuffle-free flatMap) →
exact percentiles per dimension in ONE aggregate grouped by dim (tiny
shuffle) → broadcast the dim-row stats table back over the exploded rows.
The output stays in the exploded (vec_id, dim, value, scaled) form so the
oracle needs no list-ordering guarantees; the approx path swaps percentile
for percentile_approx per dimension.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from pyspark_ml_features_spark.functions.arrays import to_double_array
from pyspark_ml_features_spark.registry import register
from pyspark_ml_features_spark.sources import table

IQR_EPS = 1e-10


def exact_quantiles_banded(df: DataFrame, columns: Sequence[str],
                           probs: Sequence[float] = (0.25, 0.5, 0.75),
                           sample_frac: float = 0.02,
                           band_delta: float = 0.02,
                           seed: int = 7,
                           cache_stats: bool = True) -> dict[str, list[float]]:
    """Exact interpolated quantiles (bit-identical to Spark ``percentile`` /
    DuckDB ``quantile_cont``) with bounded memory — the scale-safe exact
    algorithm. Spark's ``percentile`` aggregate buffers a value->count map
    per column (600k distinct doubles at sf0.1 already costs ~2 s in the
    single final-merge reducer; at 100 TB it spills or OOMs). Instead:

    1. Bracket: exact percentile of a seeded ~2% sample at p +/- band_delta
       gives a [lo, hi] band per (column, quantile) — any bracket works
       because step 2 verifies it deterministically.
    2. One scan of pure codegen'd count_ifs (no buffering): per-column
       non-null count n, rows strictly below each band's lo (cb), and rows
       inside each band (ib). The target order-statistic ranks
       floor/ceil((n-1)p) must land in [cb, cb+ib) — if a band misses
       (sample skew), fall back to the buffering aggregate, never silently.
    3. Per column, select only in-band rows (~2*band_delta*n; the between
       filter pushes down to parquet min/max pruning) and rank them with a
       window per (column, band): row_number at the verified local ranks IS
       the exact order statistic — <= 2 rows per band reach the driver.
       Interpolate with Spark's own formula
       ``x_lo + (x_hi - x_lo) * (pos - floor(pos))``, pos = p*(n-1).

    ``cache_stats`` caches the projected stat columns across the three
    jobs (worth it up to memory limits; disable at extreme scale to keep
    the jobs as three pruned scans instead).
    """
    import math
    from functools import reduce

    from pyspark.sql import Window

    columns = list(columns)
    probs = list(probs)

    def _fallback() -> dict[str, list[float]]:
        row = df.agg(*[
            F.percentile(c, F.lit(probs)).alias(c) for c in columns]).first()
        return {c: list(row[c]) for c in columns}

    base = df.select(*columns)
    if cache_stats:
        # fan_out (r14): the projected stats frame inherits the scan's
        # partitioning — one NON-EMPTY partition over the unsplittable
        # fixture file (the single row group lands in the split holding
        # its midpoint; sibling splits read zero rows) — so all three
        # jobs (sample percentile, count_if scan, in-band ranking) ran
        # single-task once cached. Spreading BEFORE cache()
        # parallelizes every consumer; no-op on a multi-split cluster scan.
        # Results stay exact for ANY partitioning: the sample only proposes
        # brackets, step 2 verifies them with exact counts, and step 3
        # ranks in-band rows exactly (a changed sample can only change
        # WHICH verified bracket is used, never the order statistic).
        from pyspark_ml_features_spark.functions.skew import fan_out

        base = fan_out(base).cache()
    try:
        sample_probs = sorted({max(0.0, p - band_delta) for p in probs}
                              | {min(1.0, p + band_delta) for p in probs})
        srow = (base.sample(fraction=sample_frac, seed=seed)
                .agg(*[F.percentile(c, F.lit(sample_probs)).alias(c)
                       for c in columns]).first())
        if srow is None or any(srow[c] is None for c in columns):
            return _fallback()
        bands: dict[str, list[tuple[float, float]]] = {}
        for c in columns:
            by_p = dict(zip(sample_probs, srow[c]))
            bands[c] = [(by_p[max(0.0, p - band_delta)],
                         by_p[min(1.0, p + band_delta)]) for p in probs]

        aggs = []
        for i, c in enumerate(columns):
            aggs.append(F.count(c).alias(f"n__{i}"))
            for j, (lo, hi) in enumerate(bands[c]):
                aggs.append(
                    F.count_if(F.col(c) < F.lit(lo)).alias(f"cb__{i}__{j}"))
                aggs.append(
                    F.count_if(F.col(c).between(lo, hi)).alias(f"ib__{i}__{j}"))
        crow = base.agg(*aggs).first()

        # Per (column, band): the 1-based local ranks of the two order
        # statistics among the band's rows, verified against the counts.
        meta: dict[tuple[int, int], dict] = {}
        for i, c in enumerate(columns):
            n = crow[f"n__{i}"]
            if n == 0:
                return _fallback()
            for j, p in enumerate(probs):
                pos = (n - 1) * p
                lower, higher = math.floor(pos), math.ceil(pos)
                cb, ib = crow[f"cb__{i}__{j}"], crow[f"ib__{i}__{j}"]
                if cb > lower or cb + ib <= higher:
                    return _fallback()
                meta[(i, j)] = {"pos": pos, "lower": lower,
                                "t_lo": lower - cb + 1, "t_hi": higher - cb + 1}

        # A value can sit in several (overlapping) bands of its column —
        # tag each in-band row with every band it belongs to, then rank
        # within (cid, band). Filter BEFORE building the tag array so the
        # per-row array allocation only happens on the ~2*band_delta*n
        # in-band rows, and the between-filter reaches the scan.
        parts = []
        for i, c in enumerate(columns):
            in_any = reduce(lambda a, b: a | b,
                            [F.col(c).between(lo, hi) for lo, hi in bands[c]])
            tags = F.array_compact(F.array(*[
                F.when(F.col(c).between(lo, hi), F.lit(j))
                for j, (lo, hi) in enumerate(bands[c])]))
            parts.append(
                base.filter(in_any)
                .select(F.lit(i).alias("cid"), F.col(c).alias("v"),
                        F.explode(tags).alias("band")))
        inband = reduce(lambda a, b: a.unionAll(b), parts)
        rn = F.row_number().over(Window.partitionBy("cid", "band").orderBy("v"))
        is_target = reduce(lambda a, b: a | b, [
            (F.col("cid") == i) & (F.col("band") == j)
            & F.col("rn").isin(m["t_lo"], m["t_hi"])
            for (i, j), m in meta.items()])
        picked = (inband.withColumn("rn", rn).filter(is_target)
                  .select("cid", "band", "rn", "v").collect())
        by_rank = {(r["cid"], r["band"], r["rn"]): r["v"] for r in picked}

        stats: dict[str, list[float]] = {}
        for i, c in enumerate(columns):
            out: list[float] = []
            for j, _p in enumerate(probs):
                m = meta[(i, j)]
                x_lo = by_rank[(i, j, m["t_lo"])]
                x_hi = by_rank[(i, j, m["t_hi"])]
                out.append(x_lo + (x_hi - x_lo) * (m["pos"] - m["lower"]))
            stats[c] = out
        return stats
    finally:
        if cache_stats:
            base.unpersist()


def robust_scale(df: DataFrame, columns: Sequence[str],
                 method: str = "approx", quantile_error: float = 1e-4) -> DataFrame:
    """Reference-faithful eager API: stats collected to the driver, scaled
    columns appended as literal-constant projections (lazy until an action).

    ``method="approx"`` is the scale path (single pass, bounded memory);
    ``method="exact"`` matches DuckDB ``quantile_cont`` bit-for-bit.
    """
    columns = list(columns)
    if method == "approx":
        # Single JVM call for ALL columns — one job, one scan.
        quantiles = df.approxQuantile(columns, [0.25, 0.5, 0.75], quantile_error)
        stats = dict(zip(columns, quantiles))
    elif method == "exact":
        row = df.agg(*[
            F.percentile(c, F.lit([0.25, 0.5, 0.75])).alias(c) for c in columns
        ]).first()
        stats = {c: row[c] for c in columns}
    else:
        raise ValueError(f"method must be 'approx' or 'exact', got {method!r}")

    out = df
    for c in columns:
        q1, med, q3 = stats[c]
        iqr = q3 - q1
        if iqr > IQR_EPS:  # reference guard, ml:155
            out = out.withColumn(f"{c}_scaled", (F.col(c) - F.lit(med)) / F.lit(iqr))
    return out


def robust_scale_expr(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """Declarative twin: exact percentiles as a one-row aggregate, broadcast
    cross join, scaled projection. No driver-side action; the whole thing is
    one Catalyst plan (aggregate feeds a BroadcastNestedLoopJoin of 1 row).

    Emits ``{col}_scaled`` unconditionally (NULL when IQR <= eps) — the
    declared-query form; use :func:`robust_scale` for reference-exact
    column-skipping semantics.
    """
    columns = list(columns)
    stats = df.agg(*[
        F.percentile(c, F.lit([0.25, 0.5, 0.75])).alias(f"__q_{c}") for c in columns
    ])
    out = df.crossJoin(F.broadcast(stats))
    for c in columns:
        q = F.col(f"__q_{c}")
        med, iqr = q[1], q[2] - q[0]
        out = out.withColumn(
            f"{c}_scaled",
            F.when(iqr > F.lit(IQR_EPS), (F.col(c) - med) / iqr),
        )
    return out.drop(*[f"__q_{c}" for c in columns])


_SCALE_COLS = ("l_quantity", "l_extendedprice", "l_discount")


@register(
    "b6_robust_scaling",
    oracle="""
WITH q AS (
    SELECT
        quantile_cont(l_quantity, 0.25)      AS q1_qty,
        quantile_cont(l_quantity, 0.5)       AS med_qty,
        quantile_cont(l_quantity, 0.75)      AS q3_qty,
        quantile_cont(l_extendedprice, 0.25) AS q1_ep,
        quantile_cont(l_extendedprice, 0.5)  AS med_ep,
        quantile_cont(l_extendedprice, 0.75) AS q3_ep,
        quantile_cont(l_discount, 0.25)      AS q1_d,
        quantile_cont(l_discount, 0.5)       AS med_d,
        quantile_cont(l_discount, 0.75)      AS q3_d
    FROM lineitem
)
SELECT
    l.l_orderkey,
    l.l_linenumber,
    l.l_quantity,
    l.l_extendedprice,
    l.l_discount,
    CASE WHEN q.q3_qty - q.q1_qty > 1e-10
         THEN (l.l_quantity - q.med_qty) / (q.q3_qty - q.q1_qty) END AS l_quantity_scaled,
    CASE WHEN q.q3_ep - q.q1_ep > 1e-10
         THEN (l.l_extendedprice - q.med_ep) / (q.q3_ep - q.q1_ep) END AS l_extendedprice_scaled,
    CASE WHEN q.q3_d - q.q1_d > 1e-10
         THEN (l.l_discount - q.med_d) / (q.q3_d - q.q1_d) END AS l_discount_scaled
FROM lineitem l, q
""",
    tags=("reference", "B6", "flagship"),
)
def b6_robust_scaling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: exact robust scaling of lineitem quantity/price/discount
    (reference B6, spark_ml_features.py:130-159, rebuilt single-pass).

    Quantiles come from :func:`exact_quantiles_banded` — bit-identical to
    the ``percentile`` aggregate but bounded-memory (sample-bracket + one
    classified count scan instead of buffering every distinct value; at
    sf0.1 this halves the flagship's wall time, and at 100 TB it's the
    difference between a working plan and an OOM). The scaled output is a
    pure literal projection over one scan, so Catalyst sees scan→project
    with full pruning. :func:`robust_scale_expr` remains the declarative
    single-plan twin (equivalence asserted in tests)."""
    li = table(spark, sf_dir, "lineitem")
    stats = exact_quantiles_banded(li, _SCALE_COLS)
    scaled_cols = []
    for c in _SCALE_COLS:
        q1, med, q3 = stats[c]
        iqr = q3 - q1
        scaled_cols.append(
            ((F.col(c) - F.lit(med)) / F.lit(iqr)) if iqr > IQR_EPS
            else F.lit(None).cast("double"))
    return li.select(
        "l_orderkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount",
        *[col.alias(f"{c}_scaled")
          for c, col in zip(_SCALE_COLS, scaled_cols)],
    )


@register(
    "e11_robust_scale_array",
    oracle=f"""
WITH exploded AS (
    SELECT vec_id, i - 1 AS dim, (embedding::DOUBLE[])[i] AS value
    FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
), stats AS (
    SELECT dim,
           quantile_cont(value, 0.25) AS q1,
           quantile_cont(value, 0.5)  AS med,
           quantile_cont(value, 0.75) AS q3
    FROM exploded GROUP BY dim
)
SELECT e.vec_id, e.dim, e.value,
       CASE WHEN s.q3 - s.q1 > {IQR_EPS}
            THEN (e.value - s.med) / (s.q3 - s.q1) END AS scaled
FROM exploded e JOIN stats s USING (dim)
""",
    tags=("north-star", "E11"),
)
def e11_robust_scale_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension robust scaling of the embedding column: exact
    percentiles per dim (one aggregate), broadcast-joined back."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double_array("embedding").alias("emb"))
    exploded = e.select(
        "vec_id", F.posexplode("emb").alias("dim", "value"))
    stats = exploded.groupBy("dim").agg(
        F.percentile("value", F.lit(0.25)).alias("q1"),
        F.percentile("value", F.lit(0.5)).alias("med"),
        F.percentile("value", F.lit(0.75)).alias("q3"))
    iqr = F.col("q3") - F.col("q1")
    return (exploded.join(F.broadcast(stats), "dim")
            .select("vec_id", "dim", "value",
                    F.when(iqr > IQR_EPS,
                           (F.col("value") - F.col("med")) / iqr).alias("scaled")))


@register("e11b_robust_scale_array_approx", tags=("north-star", "E11", "approx"))
def e11b_robust_scale_array_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E11 scale path: per-dimension ``percentile_approx`` (KLL-style sketch,
    bounded memory per group) instead of exact ``percentile`` (which buffers
    every value of a dimension in its aggregation state — the 100 TB hazard).
    Same plan shape otherwise: one 64-group aggregate, stats broadcast back
    over the exploded rows. Approx quantiles are engine-specific → rows-only;
    agreement with the exact e11 within tolerance is asserted in
    tests/test_invariants.py."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double_array("embedding").alias("emb"))
    exploded = e.select(
        "vec_id", F.posexplode("emb").alias("dim", "value"))
    acc = 10_000  # 1/accuracy relative-error bound ⇒ ~1e-4
    stats = exploded.groupBy("dim").agg(
        F.percentile_approx("value", F.lit(0.25), F.lit(acc)).alias("q1"),
        F.percentile_approx("value", F.lit(0.5), F.lit(acc)).alias("med"),
        F.percentile_approx("value", F.lit(0.75), F.lit(acc)).alias("q3"))
    iqr = F.col("q3") - F.col("q1")
    return (exploded.join(F.broadcast(stats), "dim")
            .select("vec_id", "dim", "value",
                    F.when(iqr > IQR_EPS,
                           (F.col("value") - F.col("med")) / iqr).alias("scaled")))
