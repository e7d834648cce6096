"""Relational family (SURVEY §2-D): joins, aggregates, windows, set ops,
reshaping, scalar-function and codec families, statistics and
experimentation readouts, ML-prep encodings, scale-safe global ranking
(distributed_row_number / distributed_prefix_sum), CDC compaction and the
TPC-H shapes — declared as oracle-checked queries over the driver star
schema.

The reference library contains none of these (SURVEY §2-C) — Catalyst
provides them; the engine's job is to declare them with plans that survive
100 TB: dimension joins broadcast (region/nation/customer/supplier/part are
small or bucketable); fact-side aggregates are partial (map-side combine)
before the shuffle; window queries partition by a key (never a global
unpartitioned window over the fact table); filters and projections fold into
the parquet scan (verified via .explain in tests/test_plans.py).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql.types import DoubleType

from pyspark_ml_features_spark.functions.text import STOPWORDS
from pyspark_ml_features_spark.plans.audit import probe_checkpoint
from pyspark_ml_features_spark.registry import register
from pyspark_ml_features_spark.sources import table


@register(
    "d1_broadcast_join_revenue",
    oracle="""
SELECT p.p_brand,
       count(*) AS n_items,
       sum(l.l_extendedprice * (1 - l.l_discount)) AS revenue
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY p.p_brand
""",
    tags=("engine", "D1", "headline"),
)
def d1_broadcast_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast hash equi-join lineitem ⋈ part + hash aggregate. part is a
    dimension (200 rows/SF-invariant) — broadcast keeps the fact table
    shuffle-free up to any scale; only the per-brand partials shuffle."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        )
    )


@register(
    "d2_join_chain_region_sales",
    oracle="""
SELECT r.r_name, n.n_name,
       count(*) AS n_orders,
       sum(o.o_totalprice) AS total_sales
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name, n.n_name
""",
    tags=("engine", "D2", "headline"),
)
def d2_join_chain_region_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-hop star join orders→customer→nation→region. All three dims
    broadcast — the orders scan never shuffles; Catalyst/AQE collapses the
    chain into successive broadcast hash joins."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.count(F.lit(1)).alias("n_orders"),
             F.sum("o_totalprice").alias("total_sales"))
    )


@register(
    "d3_anti_join_customers_without_orders",
    oracle="""
SELECT c_custkey, c_name, c_mktsegment
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""",
    tags=("engine", "D3"),
)
def d3_anti_join_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left anti join: customers with no orders. At scale the orders side is
    reduced to distinct keys before the join (semi-join pushdown by Catalyst);
    null-safe by construction since o_custkey is non-null."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment")


@register(
    "d3_semi_join_parts_ordered",
    oracle="""
SELECT p_partkey, p_name
FROM part p
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_partkey = p.p_partkey AND l.l_quantity > 45)
""",
    tags=("engine", "D3"),
)
def d3_semi_join_parts_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left semi join with a pushed fact-side filter: parts with any
    high-quantity lineitem. The quantity predicate reaches the parquet scan
    (row-group skipping) before the join."""
    p = table(spark, sf_dir, "part")
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return p.join(li, p.p_partkey == li.l_partkey, "left_semi").select(
        "p_partkey", "p_name")


@register(
    "d4_pricing_summary",
    oracle="""
SELECT l_returnflag, l_linestatus,
       sum(l_quantity)                                       AS sum_qty,
       sum(l_extendedprice)                                  AS sum_base_price,
       sum(l_extendedprice * (1 - l_discount))               AS sum_disc_price,
       sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
       avg(l_quantity)                                       AS avg_qty,
       avg(l_extendedprice)                                  AS avg_price,
       avg(l_discount)                                       AS avg_disc,
       count(*)                                              AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
    tags=("engine", "D4", "headline"),
)
def d4_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: multi-measure hash aggregate with a
    scan-pushed date filter. Partial aggregation reduces the shuffle to
    (#flags × #statuses) rows per task regardless of input size."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_base_price"),
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sum_disc_price"),
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))
                  * (1 + F.col("l_tax"))).alias("sum_charge"),
            F.avg("l_quantity").alias("avg_qty"),
            F.avg("l_extendedprice").alias("avg_price"),
            F.avg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "d5_distinct_counts",
    oracle="""
SELECT c_mktsegment,
       count(DISTINCT c_nationkey) AS n_nations,
       count(*) AS n_customers
FROM customer
GROUP BY c_mktsegment
""",
    tags=("engine", "D5"),
)
def d5_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact count-distinct per group (expand + two-phase aggregate)."""
    c = table(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.countDistinct("c_nationkey").alias("n_nations"),
        F.count(F.lit(1)).alias("n_customers"))


@register("d6_approx_count_distinct", tags=("engine", "D6", "approx"))
def d6_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ count-distinct of l_partkey — the 100 TB path where
    exact distinct would shuffle every key. Paired with exact D5; rows-only
    check (sketch estimates are engine-specific); bounds asserted in
    tests/test_invariants.py."""
    li = table(spark, sf_dir, "lineitem")
    return li.agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts"))


@register(
    "d7_rollup_sales",
    oracle="""
SELECT l_returnflag, l_linestatus,
       sum(l_quantity) AS sum_qty, count(*) AS n
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
    tags=("engine", "D7"),
)
def d7_rollup_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (flag, flag+status, grand total) in one
    aggregate — Spark expands grouping sets without rescanning the input."""
    li = table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"),
        F.count(F.lit(1)).alias("n"))


@register(
    "d8_window_rank_customers",
    oracle="""
SELECT c_custkey, c_nationkey, c_acctbal,
       row_number() OVER w AS rn,
       rank()       OVER w AS rnk,
       dense_rank() OVER w AS drnk
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC)
""",
    tags=("engine", "D8"),
)
def d8_window_rank_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking windows partitioned by nation — scales as one shuffle on the
    partition key; the c_custkey tiebreak makes row_number deterministic."""
    c = table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey"))
    return c.select(
        "c_custkey", "c_nationkey", "c_acctbal",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"))


@register(
    "d9_window_frame_events",
    oracle="""
SELECT event_id, user_id, ts, value,
       lag(value)  OVER w AS prev_value,
       lead(value) OVER w AS next_value,
       sum(value)  OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS rolling_sum3
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
""",
    tags=("engine", "D9"),
)
def d9_window_frame_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead + a 3-row rolling-sum frame per user. Frame sums accumulate
    left-to-right in both engines — deterministic float order."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    return e.select(
        "event_id", "user_id", "ts", "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        F.sum("value").over(w.rowsBetween(-2, 0)).alias("rolling_sum3"))


@register(
    "d10_topk_orders_per_priority",
    oracle="""
SELECT o_orderpriority, o_orderkey, o_totalprice
FROM (
    SELECT o_orderpriority, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_orderpriority
                              ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
    FROM orders
) WHERE rn <= 3
""",
    tags=("engine", "D10"),
)
def d10_topk_orders_per_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by price per priority via ranking window; at scale AQE
    plus the rank-limit pushdown (WindowGroupLimit) avoids materializing full
    partitions."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (o.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3)
            .select("o_orderpriority", "o_orderkey", "o_totalprice"))


@register(
    "d11_global_topn",
    oracle="""
SELECT l_orderkey, l_linenumber, l_extendedprice
FROM lineitem
ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
LIMIT 100
""",
    tags=("engine", "D11"),
)
def d11_global_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-100: Spark's TakeOrderedAndProject computes per-partition
    top-100 then merges — no global sort materialization at any scale."""
    li = table(spark, sf_dir, "lineitem")
    return (li.orderBy(F.desc("l_extendedprice"), F.asc("l_orderkey"),
                       F.asc("l_linenumber"))
            .select("l_orderkey", "l_linenumber", "l_extendedprice")
            .limit(100))


@register(
    "d12_set_ops_nations",
    oracle="""
SELECT 'both' AS op, nk FROM (
    SELECT c_nationkey AS nk FROM customer
    INTERSECT
    SELECT s_nationkey AS nk FROM supplier)
UNION ALL
SELECT 'customer_only' AS op, nk FROM (
    SELECT c_nationkey AS nk FROM customer
    EXCEPT
    SELECT s_nationkey AS nk FROM supplier)
""",
    tags=("engine", "D12"),
)
def d12_set_ops_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION ALL over nation-key sets."""
    c = table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    s = table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    both = c.intersect(s).select(F.lit("both").alias("op"), "nk")
    only = c.subtract(s).select(F.lit("customer_only").alias("op"), "nk")
    return both.unionAll(only)


@register(
    "d13_string_functions",
    oracle="""
SELECT p_partkey,
       lower(p_name)                          AS name_lower,
       upper(p_type)                          AS type_upper,
       substring(p_name, 1, 4)                AS name_prefix,
       length(p_name)                         AS name_len,
       split_part(p_name, ' ', 1)             AS first_word,
       regexp_extract(p_brand, '([0-9]+)', 1) AS brand_num,
       concat(p_brand, ':', p_type)           AS brand_type,
       replace(p_name, ' ', '_')              AS name_snake,
       trim(p_name)                           AS name_trim
FROM part
""",
    tags=("engine", "D13"),
)
def d13_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar-function family — all JVM codegen, no UDFs."""
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.lower("p_name").alias("name_lower"),
        F.upper("p_type").alias("type_upper"),
        F.substring("p_name", 1, 4).alias("name_prefix"),
        F.length("p_name").alias("name_len"),
        F.split(F.col("p_name"), " ").getItem(0).alias("first_word"),
        F.regexp_extract("p_brand", r"([0-9]+)", 1).alias("brand_num"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        F.regexp_replace("p_name", " ", "_").alias("name_snake"),
        F.trim(F.col("p_name")).alias("name_trim"))


@register(
    "d14_datetime_functions",
    oracle="""
SELECT o_orderkey,
       CAST(year(o_orderdate) AS BIGINT)  AS order_year,
       CAST(month(o_orderdate) AS BIGINT) AS order_month,
       CAST(dayofmonth(o_orderdate) AS BIGINT) AS order_day,
       date_trunc('month', o_orderdate) AS month_start,
       datediff('day', DATE '1995-01-01', o_orderdate::DATE) AS days_since_95,
       strftime(o_orderdate, '%Y-%m-%d') AS order_date_str
FROM orders
""",
    tags=("engine", "D14"),
)
def d14_datetime_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time scalar family over order timestamps (UTC session)."""
    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        # BIGINT on both sides: Spark's year/month/day are INT, DuckDB's
        # BIGINT — align dtype kinds rather than rely on repr coincidence
        F.year("o_orderdate").cast("bigint").alias("order_year"),
        F.month("o_orderdate").cast("bigint").alias("order_month"),
        F.dayofmonth("o_orderdate").cast("bigint").alias("order_day"),
        F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
        F.datediff(F.col("o_orderdate").cast("date"),
                   F.lit("1995-01-01").cast("date")).alias("days_since_95"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date_str"))


@register(
    "d15_math_functions",
    oracle="""
SELECT l_orderkey, l_linenumber,
       round(l_extendedprice * l_discount, 4) AS disc_amount,
       abs(l_extendedprice - 50000.0)         AS abs_dev,
       l_quantity * l_quantity                AS qty_sq,
       sqrt(l_extendedprice)                  AS price_sqrt,
       floor(l_extendedprice / 1000)::BIGINT  AS price_bucket,
       ceil(l_quantity / 7)::BIGINT           AS qty_ceil7,
       sign(l_extendedprice - 50000.0)::DOUBLE AS dev_sign,
       greatest(l_quantity, l_tax * 100)      AS g,
       least(l_discount, l_tax)               AS l
FROM lineitem
""",
    tags=("engine", "D15"),
)
def d15_math_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math scalar family, restricted to operations with bit-identical
    IEEE semantics across engines (sqrt is correctly rounded; no libm
    transcendentals behind an exact oracle)."""
    li = table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey", "l_linenumber",
        F.round(F.col("l_extendedprice") * F.col("l_discount"), 4).alias("disc_amount"),
        F.abs(F.col("l_extendedprice") - 50000.0).alias("abs_dev"),
        (F.col("l_quantity") * F.col("l_quantity")).alias("qty_sq"),
        F.sqrt("l_extendedprice").alias("price_sqrt"),
        F.floor(F.col("l_extendedprice") / 1000).alias("price_bucket"),
        F.ceil(F.col("l_quantity") / 7).alias("qty_ceil7"),
        F.signum(F.col("l_extendedprice") - 50000.0).alias("dev_sign"),
        F.greatest(F.col("l_quantity"), F.col("l_tax") * 100).alias("g"),
        F.least(F.col("l_discount"), F.col("l_tax")).alias("l"))


@register(
    "d16_array_functions",
    oracle="""
SELECT doc_id,
       len(str_split(text, ' '))                       AS n_tokens,
       len(list_distinct(str_split(text, ' ')))        AS n_distinct_tokens,
       list_contains(str_split(text, ' '), 'spark')    AS has_spark,
       list_sort(list_distinct(str_split(text, ' ')))[1] AS first_token_sorted,
       list_sum(list_transform(str_split(text, ' '), t -> length(t)))::BIGINT AS total_chars
FROM documents
""",
    tags=("engine", "D16"),
)
def d16_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array/higher-order family over tokenized documents — all integer
    outputs, all Tungsten codegen (no Python boundary)."""
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.array_contains(toks, "spark").alias("has_spark"),
        F.array_sort(F.array_distinct(toks)).getItem(0).alias("first_token_sorted"),
        F.aggregate(toks, F.lit(0).cast("bigint"),
                    lambda acc, t: acc + F.length(t)).alias("total_chars"))


@register(
    "d17_json_functions",
    oracle="""
SELECT event_type,
       count(*) AS n,
       sum(CAST(json_extract_string(props, '$.k') AS BIGINT))::BIGINT AS sum_k,
       min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events
GROUP BY event_type
""",
    tags=("engine", "D17"),
)
def d17_json_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction from the events.props payload + aggregate. At scale,
    prefer from_json with an explicit schema once per pipeline over repeated
    path extraction."""
    e = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(k).alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"))


@register(
    "d18_conditional_functions",
    oracle="""
SELECT l_orderkey, l_linenumber,
       CASE WHEN l_quantity < 10 THEN 'low'
            WHEN l_quantity < 30 THEN 'mid'
            ELSE 'high' END AS qty_band,
       coalesce(nullif(l_returnflag, 'N'), 'none') AS flag_or_none,
       CASE WHEN l_discount > 0.05 THEN l_extendedprice * l_discount END AS big_disc_amount
FROM lineitem
""",
    tags=("engine", "D18"),
)
def d18_conditional_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE / coalesce / nullif family."""
    li = table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey", "l_linenumber",
        F.when(F.col("l_quantity") < 10, "low")
         .when(F.col("l_quantity") < 30, "mid")
         .otherwise("high").alias("qty_band"),
        F.coalesce(F.nullif(F.col("l_returnflag"), F.lit("N")),
                   F.lit("none")).alias("flag_or_none"),
        F.when(F.col("l_discount") > 0.05,
               F.col("l_extendedprice") * F.col("l_discount"))
         .alias("big_disc_amount"))


@register("d19_sampling", tags=("engine", "D19", "rng"))
def d19_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded Bernoulli sample — engine-specific RNG, rows-only check
    (fraction bounds asserted in tests/test_invariants.py)."""
    li = table(spark, sf_dir, "lineitem")
    return li.sample(fraction=0.1, seed=42).select(
        "l_orderkey", "l_linenumber")


@register(
    "d20_pandas_udf_revenue",
    oracle="""
SELECT l_orderkey, l_linenumber,
       l_extendedprice * (1 - l_discount) AS net_revenue
FROM lineitem
""",
    tags=("engine", "D20", "udf"),
)
def d20_pandas_udf_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized pandas UDF computing net revenue — demonstrates the
    sanctioned Python escape hatch (batched columnar transfer, ~10-100×
    faster than row-at-a-time udf). The arithmetic is pure IEEE so the SQL
    oracle matches bit-for-bit. In production this slot is for logic Spark
    genuinely can't express — anything expressible stays JVM-side."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(DoubleType())
    def net_revenue(price, discount):
        return price * (1.0 - discount)

    li = table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey", "l_linenumber",
        net_revenue("l_extendedprice", "l_discount").alias("net_revenue"))


@register(
    "d7b_cube_sales",
    oracle="""
SELECT l_returnflag, l_linestatus,
       sum(l_quantity) AS sum_qty, count(*) AS n
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""",
    tags=("engine", "D7"),
)
def d7b_cube_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all 2^k grouping-set combinations in one pass."""
    li = table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"),
        F.count(F.lit(1)).alias("n"))


@register(
    "d7c_grouping_sets",
    oracle="""
SELECT l_returnflag, l_linestatus,
       sum(l_quantity) AS sum_qty, count(*) AS n
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
""",
    tags=("engine", "D7"),
)
def d7c_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the general form ROLLUP/CUBE lower to:
    only the (flag) and (status) marginals, no cross or grand total. One
    Expand over a single scan, like d7/d7b."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupingSets(
        [["l_returnflag"], ["l_linestatus"]],
        "l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"),
        F.count(F.lit(1)).alias("n"))


@register(
    "d23_pivot",
    oracle="""
SELECT l_linestatus,
       sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END) AS "A",
       sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END) AS "N",
       sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END) AS "R"
FROM lineitem
GROUP BY l_linestatus
""",
    tags=("engine", "pivot"),
)
def d23_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long→wide) with an explicit value list — at scale always pass
    the values: inferring them costs an extra distinct scan."""
    li = table(spark, sf_dir, "lineitem")
    return (li.groupBy("l_linestatus")
            .pivot("l_returnflag", ["A", "N", "R"])
            .agg(F.sum("l_quantity")))


@register(
    "d24_map_functions",
    oracle="""
SELECT o_orderkey,
       map(['status', 'priority'], [o_orderstatus, o_orderpriority])['status'][1] AS status_val,
       cardinality(map(['status', 'priority'],
                       [o_orderstatus, o_orderpriority]))::INT AS map_size
FROM orders
""",
    tags=("engine", "map"),
)
def d24_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map construction + lookup (output kept to scalar columns — map
    column *values* are engine-comparable but map ordering is not)."""
    o = table(spark, sf_dir, "orders")
    m = F.create_map(
        F.lit("status"), F.col("o_orderstatus"),
        F.lit("priority"), F.col("o_orderpriority"))
    return o.select(
        "o_orderkey",
        m.getItem("status").alias("status_val"),
        F.size(m).alias("map_size"))


@register(
    "d17b_from_json",
    oracle="""
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
       CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod
FROM events
""",
    tags=("engine", "D17"),
)
def d17b_from_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed JSON parsing via from_json with an explicit schema — parse once
    into a struct instead of re-walking the JSON per path (the 100 TB rule
    for JSON-heavy events)."""
    e = table(spark, sf_dir, "events")
    parsed = e.withColumn("p", F.from_json("props", "k BIGINT"))
    return parsed.select(
        "event_id",
        F.col("p.k").alias("k"),
        (F.col("p.k") % 10).alias("k_mod"))


@register(
    "d17c_variant_json",
    oracle="""
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
       CAST(json_extract_string(props, '$.missing') AS BIGINT) AS missing
FROM events
WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
""",
    tags=("engine", "D17", "variant"),
)
def d17c_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured JSON via the VARIANT type (Spark 4): parse_json once
    into Variant's binary encoding, then typed variant_get path extraction —
    at 100 TB this is the open-schema path (no fixed from_json schema
    needed, fields stay typed, and the binary encoding avoids re-parsing
    text per path the way get_json_object does). try_variant_get returns
    NULL for absent paths instead of failing — mirrored by DuckDB's NULL
    extraction semantics."""
    e = table(spark, sf_dir, "events")
    v = e.withColumn("v", F.parse_json("props"))
    return (v.select(
        "event_id",
        F.variant_get("v", "$.k", "bigint").alias("k"),
        F.try_variant_get("v", "$.missing", "bigint").alias("missing"))
        .filter(F.col("k") >= 50))


@register(
    "d26_range_join_bands",
    oracle="""
WITH bands(band, lo, hi) AS (
    VALUES ('small', 0.0, 50000.0),
           ('medium', 50000.0, 150000.0),
           ('large', 150000.0, 1000000000.0)
)
SELECT b.band, count(*) AS n_orders,
       sum(o.o_totalprice) AS total
FROM orders o JOIN bands b
  ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
GROUP BY b.band
""",
    tags=("engine", "range-join"),
)
def d26_range_join_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join: orders against price bands. The band table is
    tiny → broadcast nested-loop with an interval predicate; for
    fact-to-fact range joins the scale pattern is binning both sides to a
    shared grid key first (as e10 does for time)."""
    o = table(spark, sf_dir, "orders")
    bands = o.sparkSession.createDataFrame(
        [("small", 0.0, 50000.0), ("medium", 50000.0, 150000.0),
         ("large", 150000.0, 1e9)],
        schema="band string, lo double, hi double")
    return (o.join(F.broadcast(bands),
                   (F.col("o_totalprice") >= F.col("lo"))
                   & (F.col("o_totalprice") < F.col("hi")))
            .groupBy("band")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum("o_totalprice").alias("total")))


@register(
    "d28_null_handling",
    oracle="""
WITH with_nulls AS (
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_discount = 0.0 THEN NULL ELSE l_discount END AS disc_or_null,
           CASE WHEN l_returnflag = 'N' THEN NULL ELSE l_returnflag END AS flag_or_null
    FROM lineitem
)
SELECT l_orderkey, l_linenumber,
       coalesce(disc_or_null, -1.0) AS disc_filled,
       coalesce(flag_or_null, 'unknown') AS flag_filled,
       (disc_or_null IS NULL)::INT + (flag_or_null IS NULL)::INT AS n_nulls
FROM with_nulls
WHERE NOT (disc_or_null IS NULL AND flag_or_null IS NULL)
""",
    tags=("engine", "null-handling"),
)
def d28_null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fillna/dropna data-cleaning surface: nulls synthesized from sentinel
    values, filled per-column with na.fill, rows with all-interesting-null
    dropped with na.drop(thresh) — the standard pre-training cleaning pass."""
    li = table(spark, sf_dir, "lineitem")
    with_nulls = li.select(
        "l_orderkey", "l_linenumber",
        F.nullif(F.col("l_discount"), F.lit(0.0)).alias("disc_or_null"),
        F.nullif(F.col("l_returnflag"), F.lit("N")).alias("flag_or_null"))
    n_nulls = (F.col("disc_or_null").isNull().cast("int")
               + F.col("flag_or_null").isNull().cast("int"))
    cleaned = (with_nulls
               .withColumn("n_nulls", n_nulls)
               .na.drop(thresh=1, subset=["disc_or_null", "flag_or_null"]))
    filled = cleaned.na.fill({"disc_or_null": -1.0, "flag_or_null": "unknown"})
    return filled.select(
        "l_orderkey", "l_linenumber",
        F.col("disc_or_null").alias("disc_filled"),
        F.col("flag_or_null").alias("flag_filled"),
        "n_nulls")


@register(
    "d8b_window_distribution",
    oracle="""
SELECT c_custkey, c_mktsegment, c_acctbal,
       ntile(4)       OVER w AS quartile,
       percent_rank() OVER w AS pct_rank,
       cume_dist()    OVER w AS cume,
       first_value(c_custkey) OVER w AS richest_custkey
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC)
""",
    tags=("engine", "D8"),
)
def d8b_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution windows: ntile quartiles, percent_rank, cume_dist,
    first_value — percent_rank/cume_dist are exact rationals of row counts,
    so they compare bit-exactly."""
    from pyspark.sql import Window

    c = table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey"))
    return c.select(
        "c_custkey", "c_mktsegment", "c_acctbal",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.first("c_custkey").over(w).alias("richest_custkey"))


@register("d30_moment_stats", tags=("engine", "stats"))
def d30_moment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-moment statistics per group: stddev, variance, correlation,
    covariance, skewness, kurtosis. Rows-only: moment formulas differ in
    summation strategy across engines (Welford vs two-pass), so exact
    hashes are not portable; range invariants asserted in
    tests/test_invariants.py."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.stddev_samp("l_extendedprice").alias("price_stddev"),
        F.var_samp("l_extendedprice").alias("price_var"),
        F.corr("l_quantity", "l_extendedprice").alias("qty_price_corr"),
        F.covar_samp("l_quantity", "l_extendedprice").alias("qty_price_covar"),
        F.skewness("l_extendedprice").alias("price_skew"),
        F.kurtosis("l_extendedprice").alias("price_kurt"))


@register(
    "d30b_moment_stats_decimal",
    oracle="""
WITH c AS (
    SELECT l_returnflag,
           CAST(round(l_extendedprice * 100) AS BIGINT) AS xp,
           CAST(round(l_quantity * 100) AS BIGINT) AS xq
    FROM lineitem
), s AS (
    SELECT l_returnflag,
           count(*) AS n,
           sum(CAST(xp AS DECIMAL(18,0))) AS sp,
           sum(CAST(xq AS DECIMAL(18,0))) AS sq,
           sum(CAST(xp AS DECIMAL(18,0)) * xp) AS spp,
           sum(CAST(xq AS DECIMAL(18,0)) * xq) AS sqq,
           sum(CAST(xp AS DECIMAL(18,0)) * xq) AS spq
    FROM c GROUP BY l_returnflag
)
SELECT l_returnflag,
       CAST(n AS BIGINT) AS n,
       round(CAST(sp AS DOUBLE) / n / 100, 6) AS mean_price,
       round((n * CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE))
             / (CAST(n AS DOUBLE) * (n - 1)) / 10000, 6) AS var_price,
       round(sqrt((n * CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE))
                  / (CAST(n AS DOUBLE) * (n - 1)) / 10000), 6) AS std_price,
       round((n * CAST(spq AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sq AS DOUBLE))
             / (CAST(n AS DOUBLE) * (n - 1)) / 10000, 6) AS qty_price_covar,
       round((n * CAST(spq AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sq AS DOUBLE))
             / (sqrt(n * CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE))
                * sqrt(n * CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))),
             6) AS qty_price_corr
FROM s
""",
    tags=("engine", "stats"),
)
def d30b_moment_stats_decimal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d30's hash-exact twin (VERDICT r2 #8): variance/stddev/covariance/
    correlation from EXACT decimal power sums instead of the engines'
    (divergent) streaming moment kernels. Prices/quantities become integer
    cents (exact — the doubles are 2-dp decimals, so *100 is never a .5
    rounding case); Σx, Σx², Σxy accumulate in DECIMAL, which is
    order-independent and engine-exact, unlike double sums; the closed-form
    moments then evaluate in IEEE double from identical inputs, so results
    are bit-identical (sqrt/division are correctly-rounded by IEEE-754 —
    no libm transcendentals). 6-dp rounding is belt-and-braces.

    100 TB note: one map-side-combinable groupBy — the same single-shuffle
    shape as any hash aggregate; decimal sums cost ~2× bigint but never
    overflow (DECIMAL(38) holds Σx² to ~10^38, i.e. 10^10 rows of 10^14)."""
    li = table(spark, sf_dir, "lineitem")
    xp = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    xq = F.round(F.col("l_quantity") * 100).cast("bigint")
    c = li.select("l_returnflag", xp.alias("xp"), xq.alias("xq"))
    dec = lambda col: F.col(col).cast("decimal(18,0)")  # noqa: E731
    s = c.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("xp")).alias("sp"),
        F.sum(dec("xq")).alias("sq"),
        F.sum(dec("xp") * F.col("xp")).alias("spp"),
        F.sum(dec("xq") * F.col("xq")).alias("sqq"),
        F.sum(dec("xp") * F.col("xq")).alias("spq"))
    n, sp, sq = F.col("n"), F.col("sp").cast("double"), F.col("sq").cast("double")
    spp = F.col("spp").cast("double")
    sqq = F.col("sqq").cast("double")
    spq = F.col("spq").cast("double")
    nd = n.cast("double")
    var_cents = (n * spp - sp * sp) / (nd * (n - 1))
    covar_cents = (n * spq - sp * sq) / (nd * (n - 1))
    corr = (n * spq - sp * sq) / (
        F.sqrt(n * spp - sp * sp) * F.sqrt(n * sqq - sq * sq))
    return s.select(
        "l_returnflag",
        n.cast("bigint").alias("n"),
        F.round(sp / n / 100, 6).alias("mean_price"),
        F.round(var_cents / 10000, 6).alias("var_price"),
        F.round(F.sqrt(var_cents / 10000), 6).alias("std_price"),
        F.round(covar_cents / 10000, 6).alias("qty_price_covar"),
        F.round(corr, 6).alias("qty_price_corr"))


@register(
    "e20_upsert_merge",
    oracle="""
WITH updates AS (
    SELECT c_custkey, c_acctbal * 2 AS new_acctbal
    FROM customer WHERE c_custkey % 7 = 0
), inserts AS (
    SELECT 1000000 + r_regionkey AS c_custkey, 0.0 AS new_acctbal FROM region
), changes AS (
    SELECT * FROM updates UNION ALL SELECT * FROM inserts
)
SELECT coalesce(c.c_custkey, ch.c_custkey) AS c_custkey,
       coalesce(ch.new_acctbal, c.c_acctbal) AS c_acctbal,
       CASE WHEN c.c_custkey IS NULL THEN 'inserted'
            WHEN ch.c_custkey IS NULL THEN 'unchanged'
            ELSE 'updated' END AS merge_action
FROM customer c FULL OUTER JOIN changes ch USING (c_custkey)
""",
    tags=("engine", "merge", "upsert"),
)
def e20_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert (SCD-1) without a table format: target FULL OUTER JOIN
    changes, coalesce per column, action tag. At 100 TB both sides
    hash-partition on the key and only changed partitions rewrite
    (partition-overwrite mode); a lakehouse format (Delta/Iceberg) replaces
    this plan with its native MERGE INTO but the join shape is identical."""
    c = table(spark, sf_dir, "customer")
    updates = (c.filter(F.col("c_custkey") % 7 == 0)
               .select("c_custkey", (F.col("c_acctbal") * 2).alias("new_acctbal")))
    inserts = table(spark, sf_dir, "region").select(
        (F.lit(1000000) + F.col("r_regionkey").cast("bigint")).alias("c_custkey"),
        F.lit(0.0).alias("new_acctbal"))
    changes = updates.unionByName(inserts)
    target = c.select("c_custkey", "c_acctbal")
    merged = target.join(changes, "c_custkey", "full_outer")
    return merged.select(
        "c_custkey",
        F.coalesce("new_acctbal", "c_acctbal").alias("c_acctbal"),
        F.when(F.col("c_acctbal").isNull(), "inserted")
         .when(F.col("new_acctbal").isNull(), "unchanged")
         .otherwise("updated").alias("merge_action"))


@register(
    "d40_salted_skew_join",
    oracle="""
SELECT p.p_brand,
       count(*) AS n_lines,
       sum(l.l_quantity)::DOUBLE AS total_qty
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY p.p_brand
""",
    tags=("north-star", "D1", "skew"),
)
def d40_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand totals through a SALTED fact⋈dim join (functions/skew.py): the
    fact side gets a seeded salt in [0,8), the dim side is replicated once
    per salt, and the join runs on (key, salt) so a pathologically hot key
    spreads over 8 tasks. Salting is semantics-preserving for inner joins —
    which is exactly what the plain-SQL oracle proves, hash-exact.

    100 TB: this is the manual fallback when AQE skew split can't help
    (one key > one executor's memory). The dim replication multiplies a
    small broadcastable table, never the fact; the fact is scanned and
    shuffled once, same as the unsalted plan."""
    from pyspark_ml_features_spark.functions.skew import salted_join

    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity")
    p = (table(spark, sf_dir, "part")
         .select(F.col("p_partkey").alias("l_partkey"), "p_brand"))
    joined = salted_join(li, p, "l_partkey", n_salts=8)
    return joined.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum("l_quantity").cast("double").alias("total_qty"))


@register(
    "d41_corr_single_pass",
    oracle="""
WITH s AS (
    SELECT count(*)::DOUBLE AS n,
           sum(l_quantity)::DOUBLE AS sq,   sum(l_quantity * l_quantity)::DOUBLE AS sqq,
           sum(l_extendedprice)::DOUBLE AS sp, sum(l_extendedprice * l_extendedprice)::DOUBLE AS spp,
           sum(l_discount)::DOUBLE AS sd,   sum(l_discount * l_discount)::DOUBLE AS sdd,
           sum(l_quantity * l_extendedprice)::DOUBLE AS sqp,
           sum(l_quantity * l_discount)::DOUBLE AS sqd,
           sum(l_extendedprice * l_discount)::DOUBLE AS spd
    FROM lineitem
)
SELECT 'quantity_extendedprice' AS pair,
       (n * sqp - sq * sp) / sqrt((n * sqq - sq * sq) * (n * spp - sp * sp)) AS corr
FROM s
UNION ALL
SELECT 'quantity_discount',
       (n * sqd - sq * sd) / sqrt((n * sqq - sq * sq) * (n * sdd - sd * sd))
FROM s
UNION ALL
SELECT 'extendedprice_discount',
       (n * spd - sp * sd) / sqrt((n * spp - sp * sp) * (n * sdd - sd * sd))
FROM s
""",
    tags=("north-star", "D15", "stats"),
)
def d41_corr_single_pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All pairwise Pearson correlations of three lineitem measures from a
    SINGLE scan: one aggregate computes every raw moment (sums, squares,
    cross-products), then the closed form assembles the matrix — versus the
    naive one-scan-per-pair (6 scans here, O(k²) scans for k columns).
    Identical raw sums + IEEE-exact multiply/divide/sqrt on both engines
    keep the oracle bit-exact (no built-in corr(), whose accumulation
    differs per engine).

    100 TB: the moment aggregate is a full map-side-combinable reduction to
    ONE row — network cost is k² doubles, independent of table size."""
    li = table(spark, sf_dir, "lineitem")
    q, p, d = F.col("l_quantity"), F.col("l_extendedprice"), F.col("l_discount")
    s = li.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(q).alias("sq"), F.sum(q * q).alias("sqq"),
        F.sum(p).alias("sp"), F.sum(p * p).alias("spp"),
        F.sum(d).alias("sd"), F.sum(d * d).alias("sdd"),
        F.sum(q * p).alias("sqp"), F.sum(q * d).alias("sqd"),
        F.sum(p * d).alias("spd"))

    def corr(sxy, sx, sxx, sy, syy):
        n = F.col("n")
        return ((n * F.col(sxy) - F.col(sx) * F.col(sy))
                / F.sqrt((n * F.col(sxx) - F.col(sx) * F.col(sx))
                         * (n * F.col(syy) - F.col(sy) * F.col(sy))))

    pairs = F.array(
        F.struct(F.lit("quantity_extendedprice").alias("pair"),
                 corr("sqp", "sq", "sqq", "sp", "spp").alias("corr")),
        F.struct(F.lit("quantity_discount").alias("pair"),
                 corr("sqd", "sq", "sqq", "sd", "sdd").alias("corr")),
        F.struct(F.lit("extendedprice_discount").alias("pair"),
                 corr("spd", "sp", "spp", "sd", "sdd").alias("corr")))
    return s.select(F.explode(pairs).alias("x")).select("x.pair", "x.corr")


@register(
    "d50_bucketed_join",
    oracle="""
SELECT c_mktsegment,
       count(*) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS sum_price_cents
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
""",
    tags=("engine", "join", "bucketing"),
)
def d50_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located (bucketed) fact⋈dim join — the 100 TB answer to repeated
    large joins on the same key: both sides are written ``bucketBy(8, key)``
    + ``sortBy`` once, and every subsequent join on that key runs WITHOUT
    exchanging either side (tests/test_plans.py asserts the only Exchange
    in the plan is the final groupBy's, and the scans carry
    SelectedBucketsCount). At warehouse scale the write cost amortizes over
    every downstream join/aggregation on the key; prices sum as exact
    integer cents for the oracle hash."""
    import os
    import shutil
    from urllib.parse import urlparse

    from pyspark_ml_features_spark.tmp_artifacts import register as keep_tmp

    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    # pid suffix: two engine processes sharing a cwd share the warehouse
    # dir, and a concurrent CREATE/DROP on the same location corrupts both.
    # The pid-unique locations are registered for exit-time removal — the
    # bucketed copies must outlive this call (the returned DataFrame is
    # lazy) but must not accumulate across runs (ADVICE r3).
    cust_tbl = f"pmfs_cust_bucketed_{os.getpid()}"
    ord_tbl = f"pmfs_orders_bucketed_{os.getpid()}"
    for name, df, key in ((cust_tbl, c, "c_custkey"),
                          (ord_tbl, o, "o_custkey")):
        # the catalog is in-memory per session but the warehouse dir is not:
        # a location left by a previous session collides with CREATE, so
        # drop both the (possibly unknown) table and the stale directory
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(f"{warehouse}/{name}", ignore_errors=True)
        keep_tmp(f"{warehouse}/{name}")
        (df.write.format("parquet")
         .bucketBy(8, key).sortBy(key).saveAsTable(name))
    cb = spark.table(cust_tbl)
    ob = spark.table(ord_tbl)
    # merge hint: at test SF the dim fits the broadcast threshold and the
    # planner would pick BroadcastHashJoin, hiding the co-located path this
    # operator exists to prove; at 100 TB neither side broadcasts and SMJ
    # over aligned buckets (no Exchange, no Sort) is the plan
    j = ob.join(cb.hint("merge"), ob["o_custkey"] == cb["c_custkey"])
    return (j.groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
                  .alias("sum_price_cents")))


@register(
    "d60_try_arithmetic",
    oracle="""
SELECT l_orderkey, l_linenumber,
       l_extendedprice / NULLIF(l_discount, 0.0) AS price_per_discount,
       TRY_CAST(l_returnflag AS BIGINT) AS flag_as_int,
       CASE WHEN l_linenumber - 1 >= 1
            THEN l_linenumber - 1 ELSE NULL END AS prev_line
FROM lineitem
""",
    tags=("engine", "null-safety"),
)
def d60_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe arithmetic: the try_* family returns NULL instead of
    raising — division by zero (try_divide ≡ x / NULLIF(y, 0)), bad casts
    (try_cast on a non-numeric string), and guarded index math. At 100 TB
    this is the difference between one malformed row killing a 6-hour job
    and a NULL the quality gates count (observe() totals in
    functions/quality.py); the oracle pins the NULL semantics against
    DuckDB's equivalents so the failure contract itself is verified."""
    li = table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey", "l_linenumber",
        F.try_divide("l_extendedprice", F.nullif("l_discount", F.lit(0.0)))
         .alias("price_per_discount"),
        F.try_to_number("l_returnflag", F.lit("999"))
         .cast("bigint").alias("flag_as_int"),
        F.when(F.col("l_linenumber") - 1 >= 1, F.col("l_linenumber") - 1)
         .alias("prev_line"))


# stopword list as a DuckDB array literal (d84's oracle)
_STOP_SQL = str(list(STOPWORDS))


@register(
    "d69_string_agg",
    oracle="""
SELECT o_orderpriority,
       string_agg(o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
       CAST(count(*) AS BIGINT) AS n_statuses
FROM (SELECT DISTINCT o_orderpriority, o_orderstatus FROM orders)
GROUP BY o_orderpriority
""",
    tags=("engine", "D4", "string-agg"),
)
def d69_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG family): the distinct order
    statuses seen per priority as a sorted CSV. ``collect_set`` gathers in
    partition-arrival order (non-deterministic), so ``array_sort`` before
    ``array_join`` is what makes the result exact — the same trick any
    engine needs for a deterministic LISTAGG.

    100 TB: group payload is bounded by the status domain (3 values), so
    the collected set is O(domain), not O(rows); map-side partial
    aggregation keeps the shuffle tiny."""
    o = table(spark, sf_dir, "orders")
    return (o.groupBy("o_orderpriority")
            .agg(F.array_join(
                     F.array_sort(F.collect_set("o_orderstatus")), ",")
                 .alias("statuses"),
                 F.size(F.collect_set("o_orderstatus")).cast("bigint")
                 .alias("n_statuses")))


@register(
    "d70_bitwise_agg",
    oracle="""
SELECT o_orderpriority,
       bit_and(o_orderkey) AS key_and,
       bit_or(o_orderkey)  AS key_or,
       bit_xor(o_orderkey) AS key_xor
FROM orders
GROUP BY o_orderpriority
""",
    tags=("engine", "D15", "bitwise"),
)
def d70_bitwise_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregates (bit_and / bit_or / bit_xor) over 64-bit keys —
    commutative+associative, so they combine map-side and merge in any
    partition order with exact results (xor-folding keys is also the
    classic cheap set-digest for reconciliation checks)."""
    o = table(spark, sf_dir, "orders")
    return (o.groupBy("o_orderpriority")
            .agg(F.bit_and("o_orderkey").alias("key_and"),
                 F.bit_or("o_orderkey").alias("key_or"),
                 F.bit_xor("o_orderkey").alias("key_xor")))


@register(
    "d71_filtered_agg",
    oracle="""
SELECT l_returnflag,
       CAST(count(*) FILTER (WHERE l_quantity > 25) AS BIGINT) AS n_heavy,
       CAST(coalesce(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                FILTER (WHERE l_discount >= 0.05), 0) AS BIGINT)
           AS disc_price_cents,
       bool_and(l_tax >= 0)     AS all_tax_nonneg,
       bool_or(l_discount = 0)  AS any_zero_discount
FROM lineitem
GROUP BY l_returnflag
""",
    tags=("engine", "D4", "conditional-agg"),
)
def d71_filtered_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered / boolean aggregates in ONE pass: count_if, a conditional
    sum (the FILTER clause), bool_and / bool_or — the quality-gate shape
    (how many rows violate X) without a second scan per predicate. Exact:
    counts, integer cents, booleans."""
    li = table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    return (li.groupBy("l_returnflag")
            .agg(F.count_if(F.col("l_quantity") > 25).alias("n_heavy"),
                 F.coalesce(
                     F.sum(F.when(F.col("l_discount") >= 0.05, cents)),
                     F.lit(0)).cast("bigint").alias("disc_price_cents"),
                 F.bool_and(F.col("l_tax") >= 0).alias("all_tax_nonneg"),
                 F.bool_or(F.col("l_discount") == 0)
                  .alias("any_zero_discount")))


@register(
    "d72_posexplode_tokens",
    oracle="""
SELECT doc_id, pos, token
FROM (
    SELECT doc_id,
           CAST(unnest(range(len(t))) AS BIGINT) AS pos,
           unnest(t) AS token
    FROM (SELECT doc_id, str_split(text, ' ') AS t
          FROM documents WHERE doc_id % 5 = 0)
)
WHERE token <> ''
""",
    tags=("engine", "D16", "explode"),
)
def d72_posexplode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional explode (posexplode / UNNEST WITH ORDINALITY): tokens
    with their 0-based position, positions assigned BEFORE the empty-token
    filter so offsets stay stable on both engines. The deterministic 20%
    sample bounds output like e3's.

    100 TB: pure map-side Generate — no shuffle; position arithmetic rides
    whole-stage codegen."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    return (d.select("doc_id",
                     F.posexplode(F.split("text", " "))
                      .alias("pos", "token"))
            .withColumn("pos", F.col("pos").cast("bigint"))
            .filter(F.col("token") != ""))


@register(
    "d73_sequence_fold",
    oracle="""
SELECT l_orderkey,
       CAST(l_linenumber AS BIGINT) AS linenumber,
       CAST(list_sum(list_transform(range(1, l_linenumber + 1),
                                    x -> x * x)) AS BIGINT) AS sum_sq,
       CAST(len(list_filter(range(1, l_linenumber + 1),
                            x -> x % 2 = 0)) AS BIGINT) AS n_even
FROM lineitem
""",
    tags=("engine", "D16", "higher-order"),
)
def d73_sequence_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array pipeline: sequence → aggregate-fold (sum of
    squares, explicit left fold per the vector-math convention) →
    filter+size — all integer arithmetic, all inside codegen, zero Python.
    This is the primitive family the array/embedding operators (e5, e15)
    build on; declared standalone so the fold semantics carry their own
    oracle row."""
    li = table(spark, sf_dir, "lineitem")
    seq = F.sequence(F.lit(1), F.col("l_linenumber"))
    return li.select(
        "l_orderkey",
        F.col("l_linenumber").cast("bigint").alias("linenumber"),
        F.aggregate(seq, F.lit(0).cast("bigint"),
                    lambda acc, x: acc + x.cast("bigint") * x.cast("bigint"))
         .alias("sum_sq"),
        F.size(F.filter(seq, lambda x: x % 2 == 0)).cast("bigint")
         .alias("n_even"))


@register(
    "d74_interval_arithmetic",
    oracle="""
SELECT o_orderkey,
       CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS TIMESTAMP)
           AS due_3mo,
       CAST(CAST(o_orderdate AS DATE) + 7 AS TIMESTAMP) AS ship_week,
       CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS month_end,
       CAST(date_trunc('quarter', CAST(o_orderdate AS DATE)) AS TIMESTAMP)
           AS quarter_start
FROM orders
""",
    tags=("engine", "D14", "interval"),
)
def d74_interval_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/interval arithmetic family: add_months (end-of-month clamped
    identically on both engines), day offsets, last_day, quarter
    truncation. Everything is cast to TIMESTAMP on both sides — the
    engines' native DATE values reach pandas as different kinds
    (datetime64 vs date object), and the d64 lesson is to align kinds,
    not to rely on repr coincidence."""
    o = table(spark, sf_dir, "orders")
    odate = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        F.add_months(odate, 3).cast("timestamp").alias("due_3mo"),
        F.date_add(odate, 7).cast("timestamp").alias("ship_week"),
        F.last_day(odate).cast("timestamp").alias("month_end"),
        F.date_trunc("quarter", odate).cast("timestamp")
         .alias("quarter_start"))


@register(
    "d75_mode_per_group",
    oracle="""
WITH counts AS (
    SELECT o_orderstatus, o_orderpriority, count(*) AS n
    FROM orders GROUP BY 1, 2
), ranked AS (
    SELECT o_orderstatus, o_orderpriority, n,
           row_number() OVER (PARTITION BY o_orderstatus
                              ORDER BY n DESC, o_orderpriority ASC) AS rn
    FROM counts
)
SELECT o_orderstatus, o_orderpriority AS top_priority,
       CAST(n AS BIGINT) AS n
FROM ranked WHERE rn = 1
""",
    tags=("engine", "D4", "mode"),
)
def d75_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MODE per group: most frequent priority per status,
    ties broken by the smaller priority string — built as count + window
    rank rather than the engines' mode() builtins, whose tie-break is
    engine-defined (the exact-oracle rule: determinism is part of the
    operator contract).

    100 TB: the count aggregate combines map-side down to |status| ×
    |priority| rows; the window then runs on that tiny grouped relation,
    not the fact table."""
    o = table(spark, sf_dir, "orders")
    counts = (o.groupBy("o_orderstatus", "o_orderpriority")
              .agg(F.count(F.lit(1)).alias("n")))
    w = (Window.partitionBy("o_orderstatus")
         .orderBy(F.desc("n"), F.asc("o_orderpriority")))
    return (counts.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("o_orderstatus",
                    F.col("o_orderpriority").alias("top_priority"), "n"))


@register(
    "d76_arg_min_max",
    oracle="""
SELECT o_orderstatus,
       arg_max(o_orderpriority, o_orderkey) AS latest_priority,
       arg_min(o_orderpriority, o_orderkey) AS first_priority,
       max(o_orderkey) AS max_key,
       min(o_orderkey) AS min_key
FROM orders
GROUP BY o_orderstatus
""",
    tags=("engine", "D4", "arg-minmax"),
)
def d76_arg_min_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """arg-min/arg-max aggregates (max_by / min_by): the associated value
    at the extremum in ONE pass — no self-join back to the group row. The
    ordering key (o_orderkey) is unique, which is what makes the picked
    value deterministic; max_by on a tied key is engine-defined and would
    not be oracle-able."""
    o = table(spark, sf_dir, "orders")
    return (o.groupBy("o_orderstatus")
            .agg(F.max_by("o_orderpriority", "o_orderkey")
                 .alias("latest_priority"),
                 F.min_by("o_orderpriority", "o_orderkey")
                 .alias("first_priority"),
                 F.max("o_orderkey").alias("max_key"),
                 F.min("o_orderkey").alias("min_key")))


@register(
    "d77_robust_mad",
    oracle="""
WITH med AS (
    SELECT l_returnflag, median(l_quantity) AS med_qty
    FROM lineitem GROUP BY 1
)
SELECT l.l_returnflag,
       min(m.med_qty) AS med_qty,
       median(abs(l.l_quantity - m.med_qty)) AS mad_qty
FROM lineitem l JOIN med m ON l.l_returnflag = m.l_returnflag
GROUP BY l.l_returnflag
""",
    tags=("engine", "stats", "robust"),
)
def d77_robust_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per group — the robust-scaling primitive
    (B6's family) as a two-pass aggregate: per-group median, broadcast
    back, median of absolute deviations. The oracle mirrors the explicit
    two-pass formula rather than DuckDB's mad() so both engines interpolate
    the same construction (median bit-match probed, d51).

    100 TB: pass 1 output is |groups| rows (broadcast); pass 2 is one
    shuffle on the group key — same shape as b6's exact path."""
    li = table(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity")
    med = (li.groupBy("l_returnflag")
           .agg(F.median("l_quantity").alias("med_qty")))
    j = li.join(F.broadcast(med), "l_returnflag")
    return (j.groupBy("l_returnflag")
            .agg(F.min("med_qty").alias("med_qty"),
                 F.median(F.abs(F.col("l_quantity") - F.col("med_qty")))
                  .alias("mad_qty")))


@register(
    "d78_inline_lookup_join",
    oracle="""
SELECT t.tier,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS sum_price_cents
FROM orders o
JOIN (VALUES ('1-URGENT', 'hot'), ('2-HIGH', 'hot'), ('3-MEDIUM', 'warm'),
             ('4-NOT SPECIFIED', 'cold'), ('5-LOW', 'cold'))
     AS t(o_orderpriority, tier)
  ON o.o_orderpriority = t.o_orderpriority
GROUP BY t.tier
""",
    tags=("engine", "D1", "inline-dim"),
)
def d78_inline_lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inline VALUES dimension (priority → tier) broadcast-joined to the
    fact table — the literal-lookup-table pattern analysts reach for
    instead of chained CASE. The 5-row dim broadcasts by construction;
    cents are exact integers.

    100 TB: identical plan — a local relation always broadcasts, the fact
    side never shuffles for the join, and the tier aggregate combines
    map-side to |tiers| rows."""
    tiers = spark.createDataFrame(
        [("1-URGENT", "hot"), ("2-HIGH", "hot"), ("3-MEDIUM", "warm"),
         ("4-NOT SPECIFIED", "cold"), ("5-LOW", "cold")],
        "o_orderpriority string, tier string")
    o = table(spark, sf_dir, "orders")
    return (o.join(F.broadcast(tiers), "o_orderpriority")
            .groupBy("tier")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
                  .alias("sum_price_cents")))


@register(
    "d82_regexp_extract_all",
    oracle="""
SELECT event_id,
       CAST(len(regexp_extract_all(props, '[0-9]+')) AS BIGINT) AS n_nums,
       CAST(coalesce(list_sum(list_transform(
                regexp_extract_all(props, '[0-9]+'), x -> x::BIGINT)), 0)
            AS BIGINT) AS sum_nums,
       regexp_extract_all(props, '[0-9]+')[1]::BIGINT AS first_num
FROM events
""",
    tags=("engine", "D13", "regex"),
)
def d82_regexp_extract_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_extract_all → typed array pipeline: every digit run in the
    JSON payload extracted, counted, summed and probed — the
    scrape-numbers-out-of-messy-text shape. Group index 0 (whole match)
    explicitly: Spark defaults to capture group 1 where DuckDB defaults
    to 0. Empty-match guards align the engines (fold-with-0 vs
    coalesce(list_sum, 0); element 1 of an empty list is NULL in both)."""
    e = table(spark, sf_dir, "events")
    nums = F.regexp_extract_all("props", F.lit("[0-9]+"), 0)
    return e.select(
        "event_id",
        F.size(nums).cast("bigint").alias("n_nums"),
        F.aggregate(F.transform(nums, lambda x: x.cast("bigint")),
                    F.lit(0).cast("bigint"),
                    lambda acc, x: acc + x).alias("sum_nums"),
        F.element_at(nums, 1).cast("bigint").alias("first_num"))


@register(
    "d84_array_set_algebra",
    oracle=f"""
SELECT doc_id,
       CAST(len(list_intersect(list_distinct(str_split(text, ' ')),
                               {_STOP_SQL})) AS BIGINT)
           AS n_stop,
       CAST(len(list_distinct(list_distinct(str_split(text, ' '))
                || {_STOP_SQL})) AS BIGINT)
           AS n_union,
       CAST(len(list_filter(list_distinct(str_split(text, ' ')),
                x -> NOT list_contains({_STOP_SQL}, x))) AS BIGINT)
           AS n_content
FROM documents
""",
    tags=("engine", "D16", "set-algebra"),
)
def d84_array_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array set algebra (intersect / union / except) of each document's
    distinct-token set against the fixed stopword list — the set-theoretic
    primitives under t1/t2's marker scoring, declared with their own
    oracle row. Distinct-first on both sides: Spark's array_intersect
    dedups its result, DuckDB's list_intersect over a deduped input
    matches. All integer sizes.

    100 TB: pure map-side array work against a literal array — no
    shuffle, no UDF."""
    d = table(spark, sf_dir, "documents")
    stop = F.array(*[F.lit(s) for s in STOPWORDS])
    toks = F.array_distinct(F.split("text", " "))
    return d.select(
        "doc_id",
        F.size(F.array_intersect(toks, stop)).cast("bigint").alias("n_stop"),
        F.size(F.array_union(toks, stop)).cast("bigint").alias("n_union"),
        F.size(F.array_except(toks, stop)).cast("bigint").alias("n_content"))


@register(
    "d85_explode_outer",
    oracle="""
SELECT doc_id, token
FROM (
    SELECT doc_id,
           unnest(CASE WHEN len(l) = 0 THEN [CAST(NULL AS VARCHAR)]
                       ELSE l END) AS token
    FROM (SELECT doc_id,
                 list_filter(str_split(text, ' '), x -> length(x) >= 8) AS l
          FROM documents)
)
""",
    tags=("engine", "D16", "explode-outer"),
)
def d85_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode_outer: documents whose filtered token array (length >= 8)
    is EMPTY still emit one NULL row — the LEFT-JOIN-like explode that
    keeps parent rows alive (plain explode silently drops them, the
    classic lost-rows bug in token pipelines). DuckDB has no outer
    unnest; the oracle models it as unnest([NULL]) on empty.

    100 TB: map-side Generate either way; the outer variant costs
    nothing extra."""
    d = table(spark, sf_dir, "documents")
    arr = F.filter(F.split("text", " "), lambda x: F.length(x) >= 8)
    return d.select("doc_id", F.explode_outer(arr).alias("token"))


_HIGH = ("1-URGENT", "2-HIGH")


@register(
    "d86_tpch_q12",
    oracle=f"""
SELECT l_returnflag AS ship_class,
       CAST(sum(CASE WHEN o_orderpriority IN {_HIGH} THEN 1 ELSE 0 END)
            AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN {_HIGH} THEN 1 ELSE 0 END)
            AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_returnflag IN ('A', 'R')
  AND l_shipdate >= DATE '1996-01-01'
  AND l_shipdate <  DATE '1997-01-01'
  AND l_shipdate > o_orderdate
GROUP BY l_returnflag
""",
    tags=("engine", "tpch", "join"),
)
def d86_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (shipping-mode / order-priority) adapted to this schema:
    the synthetic lineitem has no l_shipmode/l_commitdate/l_receiptdate
    (TESTDATA.md), so l_returnflag stands in for the mode classes and
    ``l_shipdate > o_orderdate`` for the late-commit predicate — the query
    SHAPE (selective fact filter → fact⋈fact equi-join → two conditional
    sums per class) is Q12's. This completes the TPC-H coverage that this
    schema can express: Q2/Q11/Q16/Q20 need the partsupp table, which the
    driver's testdata does not ship.

    100 TB: both filters reach the lineitem scan (PushedFilters: returnflag
    IN + shipdate range prunes ~5/6 of rows before the join); the join
    shuffles only the filtered year slice on l_orderkey; the conditional
    sums partial-aggregate map-side down to two rows per class."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    lif = li.filter(
        F.col("l_returnflag").isin("A", "R")
        & (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("date")))
    j = o.join(lif, (o["o_orderkey"] == lif["l_orderkey"])
               & (lif["l_shipdate"] > o["o_orderdate"]))
    is_high = F.col("o_orderpriority").isin(*_HIGH)
    return (j.groupBy(F.col("l_returnflag").alias("ship_class"))
            .agg(F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
                 F.sum(F.when(is_high, 0).otherwise(1)).alias("low_line_count")))


@register(
    "d87_null_safe_join",
    oracle="""
WITH facts AS (
    SELECT c_custkey,
           CASE WHEN c_acctbal < 0 THEN NULL ELSE c_nationkey END AS nk
    FROM customer
), dim AS (
    SELECT n_nationkey AS dk, n_name FROM nation
    UNION ALL
    SELECT NULL, 'UNMATCHED'
)
SELECT n_name,
       CAST(count(*) AS BIGINT) AS n_customers,
       min(c_custkey) AS min_custkey
FROM facts JOIN dim ON nk IS NOT DISTINCT FROM dk
GROUP BY n_name
""",
    tags=("engine", "join", "null-safety"),
)
def d87_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-safe equi-join (``<=>`` ≡ SQL ``IS NOT DISTINCT FROM``): facts
    with NULL keys (synthesized from the negative-balance sentinel, the d28
    convention) still land on a catch-all dimension row instead of being
    silently dropped — the standard dirty-dimension-key pattern. Spark
    accepts ``eqNullSafe`` as a HASH-join key (EqualNullSafe is a valid
    equi-join expression), so this stays a BroadcastHashJoin, not BNLJ.

    100 TB: dim is 26 rows → broadcast; facts never shuffle; the NULL key
    needs no special-casing because <=> hashes NULL like any other value
    (no NULL-skew partition, unlike an outer join on a nullable key)."""
    c = table(spark, sf_dir, "customer")
    facts = c.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, F.lit(None).cast("int"))
         .otherwise(F.col("c_nationkey")).alias("nk"))
    n = table(spark, sf_dir, "nation")
    dim = (n.select(F.col("n_nationkey").cast("int").alias("dk"), "n_name")
           .unionByName(spark.range(1).select(
               F.lit(None).cast("int").alias("dk"),
               F.lit("UNMATCHED").alias("n_name"))))
    j = facts.join(F.broadcast(dim), facts["nk"].eqNullSafe(dim["dk"]))
    return (j.groupBy("n_name")
            .agg(F.count(F.lit(1)).alias("n_customers"),
                 F.min("c_custkey").alias("min_custkey")))


@register(
    "d88_union_by_name",
    oracle="""
WITH b1 AS (
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders WHERE o_orderdate >= DATE '1994-01-01'
                  AND o_orderdate <  DATE '1995-01-01'
), b2 AS (
    SELECT o_orderpriority, o_orderkey, o_totalprice
    FROM orders WHERE o_orderdate >= DATE '1995-01-01'
                  AND o_orderdate <  DATE '1996-01-01'
), u AS (
    SELECT * FROM b1 UNION ALL BY NAME SELECT * FROM b2
)
SELECT coalesce(o_orderpriority, '(missing)') AS priority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(count(o_custkey) AS BIGINT) AS n_with_custkey,
       CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT) AS total_floor
FROM u
GROUP BY coalesce(o_orderpriority, '(missing)')
""",
    tags=("engine", "union", "schema-evolution"),
)
def d88_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift UNION: two ingest batches whose column SETS and ORDER
    differ (an old batch without o_orderpriority, a new one without
    o_custkey) combined with ``unionByName(allowMissingColumns=True)`` —
    columns align by NAME and absent ones become NULL, exactly DuckDB's
    ``UNION ALL BY NAME``. Positional ``union()`` here would silently pair
    o_custkey with o_orderpriority; by-name is the only safe combinator
    under schema evolution (the batch-file twin of a16's mergeSchema).

    100 TB: union is a zero-shuffle plan glue (both scans stay pruned to
    their year via PushedFilters); the one shuffle is the final tiny
    6-group aggregate."""
    o = table(spark, sf_dir, "orders")

    def year_slice(y: int):
        return o.filter(
            (F.col("o_orderdate") >= F.lit(f"{y}-01-01").cast("date"))
            & (F.col("o_orderdate") < F.lit(f"{y + 1}-01-01").cast("date")))

    b1 = year_slice(1994).select("o_orderkey", "o_custkey", "o_totalprice")
    b2 = year_slice(1995).select("o_orderpriority", "o_orderkey", "o_totalprice")
    u = b1.unionByName(b2, allowMissingColumns=True)
    return (u.groupBy(F.coalesce("o_orderpriority", F.lit("(missing)"))
                      .alias("priority"))
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.count("o_custkey").alias("n_with_custkey"),
                 F.sum(F.floor("o_totalprice").cast("bigint"))
                  .alias("total_floor")))


@register(
    "d89_skew_salted_agg",
    oracle="""
SELECT o_orderpriority,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT) AS total_floor
FROM orders
GROUP BY o_orderpriority
""",
    tags=("engine", "skew", "salting", "aggregate"),
)
def d89_skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe aggregation rewrite, provably ≡ the direct GROUP BY: the
    group key has only 5 values, so a naive plan would reduce on 5 hot
    partitions. Stage 1 groups by (key, salt) — salt = pmod(o_orderkey, 32)
    spreads each hot key over 32 reducers — and pre-aggregates the
    associative measures; stage 2 re-aggregates the 5×32 partials by key.
    count(DISTINCT o_custkey) rides the same rewrite as a (key, custkey)
    pair-dedup in stage 1 (distinct custkeys per salt-shard are NOT
    additive, so the distinct count itself moves to stage 2 over the
    deduped pairs). Measures are integer-exact (floor→BIGINT) so the
    two-stage sum is bit-equal to the oracle's single GROUP BY.

    100 TB: this is the manual form of what AQE skew-split and Catalyst's
    distinct-aggregate Expand do; it's declared explicitly because the
    combiner-defeating case (high-cardinality DISTINCT payload under a
    low-cardinality key) is the one skew shape partial aggregation alone
    cannot fix. Two shuffles, both uniformly keyed; nothing hot."""
    o = table(spark, sf_dir, "orders")
    stage1 = (o.groupBy("o_orderpriority",
                        F.pmod(F.col("o_orderkey"), F.lit(32)).alias("salt"),
                        "o_custkey")
              .agg(F.count(F.lit(1)).alias("n"),
                   F.sum(F.floor("o_totalprice").cast("bigint")).alias("tf")))
    return (stage1.groupBy("o_orderpriority")
            .agg(F.count_distinct(F.col("o_custkey")).alias("n_customers"),
                 F.sum("n").alias("n_orders"),
                 F.sum("tf").alias("total_floor")))


@register(
    "d90_hash_sample_agg",
    oracle="""
WITH s AS (
    SELECT * FROM orders
    WHERE ((o_orderkey % 2147483648) * 1103515245 + 12345) % 2048 < 205
)
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_sampled,
       min(o_orderkey) AS min_key,
       max(o_orderkey) AS max_key
FROM s
GROUP BY o_orderpriority
""",
    tags=("engine", "D19", "sampling", "deterministic"),
)
def d90_hash_sample_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% Bernoulli sample by KEY HASH — the exact-oracle
    twin of D19's seeded-RNG sampling (d19 is rows-only: rand(seed) streams
    are engine-specific). An LCG mix of the primary key modulo 2048 keeps
    every arithmetic step in BIGINT range and identical across engines, so
    the sampling decision is reproducible forever: re-runs, engine
    versions, and the DuckDB oracle all pick the same rows — the property
    training-data pipelines need for auditable subsampling (a production
    deployment would swap the LCG for the t4 rolling hash; xxhash64 is
    engine-specific).

    100 TB: the predicate is scan-side (no shuffle to sample); sampled
    rows flow into one small partial-aggregated GROUP BY."""
    o = table(spark, sf_dir, "orders")
    keep = (((F.col("o_orderkey") % F.lit(2147483648)) * F.lit(1103515245) + F.lit(12345))
            % F.lit(2048)) < 205
    return (o.filter(keep)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_sampled"),
                 F.min("o_orderkey").alias("min_key"),
                 F.max("o_orderkey").alias("max_key")))


@register(
    "d91_equidepth_histogram",
    oracle="""
WITH bounds AS (
    SELECT quantile_cont(o_totalprice,
                         [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS bs
    FROM orders
)
SELECT CAST(1 + len(list_filter(bs, b -> o_totalprice > b)) AS BIGINT)
           AS bucket,
       CAST(count(*) AS BIGINT) AS n_orders,
       min(o_totalprice) AS lo,
       max(o_totalprice) AS hi
FROM orders, bounds
GROUP BY 1
""",
    tags=("engine", "histogram", "quantile"),
)
def d91_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EQUI-DEPTH histogram (d52's equi-width sibling): decile boundaries
    from ONE exact percentile aggregate, then bucket = 1 + |{b : x > b}| —
    ties on a boundary land in the same bucket on both engines (ntile
    would split them arbitrarily AND need a global single-partition sort;
    this shape needs neither). Spark ``percentile`` bit-matches DuckDB
    ``quantile_cont`` on doubles (probed, d51), and the bucket rule is a
    pure comparison count, so the histogram is exact.

    100 TB: the 9-double boundary row comes back as a single-row
    broadcast cross join (the d39/d56/t9 allowlisted shape — a 1-row
    build side makes BNLJ O(n), and a constant join key would just fold
    away); the fact table never shuffles until the 10-group aggregate.
    The exact percentile pass is the only scale caveat — the production
    default swaps in percentile_approx (b6b's documented trade) without
    changing the bucket rule."""
    o = table(spark, sf_dir, "orders")
    bounds = o.agg(F.percentile(
        "o_totalprice",
        F.array(*[F.lit(i / 10) for i in range(1, 10)])).alias("bs"))
    x = F.col("o_totalprice")
    bucket = (F.size(F.filter("bs", lambda b: x > b)) + 1).cast("bigint")
    return (o.crossJoin(F.broadcast(bounds))
            .groupBy(bucket.alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.min(x).alias("lo"),
                 F.max(x).alias("hi")))


@register(
    "d92_cube_grouping_id",
    oracle="""
SELECT coalesce(o_orderpriority, 'ALL') AS priority,
       coalesce(CAST(CAST(year(o_orderdate) AS BIGINT) AS VARCHAR), 'ALL')
           AS yr,
       CAST(GROUPING(o_orderpriority, year(o_orderdate)) AS BIGINT) AS gid,
       CAST(count(*) AS BIGINT) AS n_orders
FROM orders
GROUP BY CUBE (o_orderpriority, year(o_orderdate))
""",
    tags=("engine", "D7", "cube", "grouping-id"),
)
def d92_cube_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE with the GROUPING bitmask: ``grouping_id()`` distinguishes a
    genuine NULL group key from a rollup's ALL row — the disambiguator
    every BI layer needs on top of d7's cube/rollup family (a coalesce
    label alone collides with real NULLs; the bitmask cannot). Spark and
    DuckDB agree on bit order: the LEFTMOST grouping column is the most
    significant bit.

    100 TB: cube expands each input row into 2^k grouping-set rows BEFORE
    the shuffle (Expand node), but partial aggregation collapses them
    map-side, so the shuffle carries |groups| x 2^k rows, not |input| x
    2^k."""
    o = table(spark, sf_dir, "orders")
    yr = F.year("o_orderdate").cast("bigint")
    return (o.cube(F.col("o_orderpriority"), yr.alias("yr_num"))
            .agg(F.grouping_id().alias("gid"),
                 F.count(F.lit(1)).alias("n_orders"))
            .select(
                F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
                F.coalesce(F.col("yr_num").cast("string"),
                           F.lit("ALL")).alias("yr"),
                F.col("gid").cast("bigint").alias("gid"),
                "n_orders"))


@register(
    "d94_multiset_ops",
    oracle="""
WITH a AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
     b AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH')
SELECT 'intersect_all' AS op, o_custkey
FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
UNION ALL
SELECT 'except_all' AS op, o_custkey
FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
""",
    tags=("engine", "D12", "set-ops", "multiset"),
)
def d94_multiset_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTISET set operations — d12's bag-semantics sibling: INTERSECT
    ALL keeps min(multiplicity) per value, EXCEPT ALL subtracts
    multiplicities (a customer with 3 urgent and 1 high order survives
    except_all twice) — the semantics dedup-aware reconciliation needs,
    where plain INTERSECT/EXCEPT silently collapse copies. The
    order-insensitive value hash is multiplicity-SENSITIVE, so the oracle
    checks the bag, not the set.

    100 TB: Spark plans both as aggregate-count + generate (one shuffle
    per side on the value, replicate by min/residual count) — no join of
    row copies; both inputs come from the same pruned scan."""
    o = table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    b = o.filter(F.col("o_orderpriority") == "2-HIGH").select("o_custkey")
    return (a.intersectAll(b).select(F.lit("intersect_all").alias("op"),
                                     "o_custkey")
            .unionByName(a.exceptAll(b)
                         .select(F.lit("except_all").alias("op"),
                                 "o_custkey")))


_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@register(
    "d96_pivot_daily_mix",
    oracle="""
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       CAST(count(*) FILTER (WHERE event_type = 'click')    AS BIGINT) AS click,
       CAST(count(*) FILTER (WHERE event_type = 'error')    AS BIGINT) AS error,
       CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase,
       CAST(count(*) FILTER (WHERE event_type = 'signup')   AS BIGINT) AS signup,
       CAST(count(*) FILTER (WHERE event_type = 'view')     AS BIGINT) AS view
FROM events
GROUP BY 1
""",
    tags=("engine", "pivot", "aggregate"),
)
def d96_pivot_daily_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide PIVOT — the long→wide reshape twin of d33's unpivot: one row
    per day, one BIGINT count column per event type. The pivot value list
    is passed EXPLICITLY (``pivot(col, values)``): without it Spark runs an
    extra distinct-collect job to discover the values and the output schema
    becomes data-dependent — a silent full pass at 100 TB and a schema drift
    hazard. Missing (day, type) combos surface as NULL from pivot-count;
    coalesce to 0 to match the oracle's ``count(*) FILTER`` semantics.

    100 TB: a pivot with an explicit value list is ONE hash aggregate with
    5 conditional counts — partial aggregation map-side, one shuffle of
    day-grain rows, no per-type scan fan-out."""
    ev = table(spark, sf_dir, "events")
    wide = (ev.select(F.date_trunc("day", "ts").alias("day"), "event_type")
            .groupBy("day")
            .pivot("event_type", list(_EVENT_TYPES))
            .agg(F.count(F.lit(1))))
    return wide.select(
        "day", *[F.coalesce(F.col(t), F.lit(0)).cast("bigint").alias(t)
                 for t in _EVENT_TYPES])


@register(
    "d99_stratified_quota_sample",
    oracle="""
WITH keyed AS (
    SELECT l_returnflag, l_orderkey, l_linenumber,
           (l_orderkey * 1000003 + l_linenumber * 7919) % 2147483647 AS ord_key
    FROM lineitem
), ranked AS (
    SELECT l_returnflag, l_orderkey, l_linenumber, ord_key,
           row_number() OVER (PARTITION BY l_returnflag
                              ORDER BY ord_key, l_orderkey, l_linenumber)
               AS rn
    FROM keyed
)
SELECT l_returnflag, l_orderkey, l_linenumber
FROM ranked WHERE rn <= 100
""",
    tags=("engine", "sampling", "deterministic"),
)
def d99_stratified_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-quota stratified sampling — deterministic twin of D19's
    engine-RNG ``sampleBy`` (which can only promise quotas in expectation):
    exactly 100 rows per l_returnflag stratum, chosen by ranking on a
    pseudo-random integer key derived from the row's natural key
    (``(orderkey*1000003 + linenumber*7919) mod 2^31-1`` — a fixed affine
    hash, identical in both engines, with the natural key as tiebreak so
    the ordering is total). Same-seed reruns and both engines pick the SAME
    rows — the reproducibility property training-data splits need and
    rand(seed) does not give across engines.

    100 TB: one window shuffle on the stratum key; with AQE a skewed
    stratum splits on the hash-ordering prefix. For quotas large enough to
    hurt a single partition, the two-phase variant (per-partition top-q,
    then global top-q of candidates — d10's WindowGroupLimit does this
    automatically for rank filters) keeps the sort bounded; the rank<=100
    filter here IS that shape, so Spark plans a WindowGroupLimit."""
    li = table(spark, sf_dir, "lineitem")
    ord_key = ((F.col("l_orderkey") * 1000003
                + F.col("l_linenumber") * 7919) % 2147483647)
    w = (Window.partitionBy("l_returnflag")
         .orderBy(F.col("ord_key"), F.col("l_orderkey"), F.col("l_linenumber")))
    return (li.select("l_returnflag", "l_orderkey", "l_linenumber",
                      ord_key.alias("ord_key"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 100)
            .select("l_returnflag", "l_orderkey", "l_linenumber"))


@register(
    "d100_changelog_compact",
    oracle="""
WITH log AS (
    SELECT user_id, ts, event_id,
           CASE WHEN event_type = 'signup' THEN 'I'
                WHEN event_type = 'error'  THEN 'D'
                ELSE 'U' END AS op,
           CAST(floor(value * 100) AS BIGINT) AS cents
    FROM events
), ranked AS (
    SELECT user_id, ts, op, cents,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM log
)
SELECT user_id, op AS last_op, cents AS last_cents,
       CAST(ts AS TIMESTAMP) AS last_ts
FROM ranked WHERE rn = 1 AND op <> 'D'
""",
    tags=("engine", "cdc", "compaction"),
)
def d100_changelog_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog compaction — materialize current state from an
    insert/update/delete log by LAST-WRITE-WINS per key, dropping keys
    whose final operation is a delete (the Kafka-compacted-topic /
    Debezium-snapshot semantics; e38's MERGE maintains an AGGREGATE, this
    maintains row state). The log is synthesized from events (signup→I,
    error→D, else U) ordered by the total (ts, event_id) key, so the
    compaction is deterministic under shuffle.

    100 TB: one shuffle on the key; the rank-1 filter plans as
    WindowGroupLimit, so each task keeps ONE row per key in its partial
    sort — compacting a year of changelog never materializes more than
    the distinct-key state, which is exactly how a compacted topic or a
    Paimon/Hudi LSM compaction behaves. Tombstones drop at the end,
    map-side."""
    ev = table(spark, sf_dir, "events")
    op = (F.when(F.col("event_type") == "signup", "I")
          .when(F.col("event_type") == "error", "D")
          .otherwise("U"))
    w = (Window.partitionBy("user_id")
         .orderBy(F.col("ts").desc(), F.col("event_id").desc()))
    return (ev.select("user_id", "ts", "event_id", op.alias("op"),
                      F.floor(F.col("value") * 100).cast("bigint")
                      .alias("cents"))
            .withColumn("rn", F.row_number().over(w))
            .filter((F.col("rn") == 1) & (F.col("op") != "D"))
            .select("user_id", F.col("op").alias("last_op"),
                    F.col("cents").alias("last_cents"),
                    F.col("ts").cast("timestamp").alias("last_ts")))


@register(
    "d101_snapshot_diff",
    oracle="""
WITH log AS (
    SELECT user_id, ts, event_id,
           CASE WHEN event_type = 'signup' THEN 'I'
                WHEN event_type = 'error'  THEN 'D'
                ELSE 'U' END AS op,
           CAST(floor(value * 100) AS BIGINT) AS cents
    FROM events
), snap_a AS (
    SELECT user_id, cents FROM (
        SELECT user_id, op, cents,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM log WHERE ts < TIMESTAMP '2024-01-15'
    ) WHERE rn = 1 AND op <> 'D'
), snap_b AS (
    SELECT user_id, cents FROM (
        SELECT user_id, op, cents,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM log
    ) WHERE rn = 1 AND op <> 'D'
)
SELECT coalesce(a.user_id, b.user_id) AS user_id,
       CASE WHEN a.user_id IS NULL THEN 'added'
            WHEN b.user_id IS NULL THEN 'removed'
            ELSE 'changed' END AS status,
       a.cents AS a_cents, b.cents AS b_cents
FROM snap_a a FULL JOIN snap_b b ON a.user_id = b.user_id
WHERE a.user_id IS NULL OR b.user_id IS NULL OR a.cents <> b.cents
""",
    tags=("engine", "cdc", "reconciliation", "join"),
)
def d101_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot RECONCILIATION — the diff report between two materialized
    versions of the same keyed state (here: d100's changelog compaction as
    of Jan 15 vs end of month): per key, ``added`` / ``removed`` /
    ``changed`` with both sides' values; unchanged keys are dropped. This
    is the audit every pipeline migration runs ("what did the new version
    change?") and the incremental-publish planner ("which rows need
    rewriting?").

    100 TB: both snapshots compact with WindowGroupLimit (d100's shape)
    and the FULL OUTER join shares the same user_id hash partitioning, so
    the whole diff is one co-partitioned pass — no re-shuffle between the
    compactions and the join; the unchanged-key filter drops the bulk of
    the output before it leaves the join stage."""
    ev = table(spark, sf_dir, "events")
    op = (F.when(F.col("event_type") == "signup", "I")
          .when(F.col("event_type") == "error", "D")
          .otherwise("U"))
    log = ev.select("user_id", "ts", "event_id", op.alias("op"),
                    F.floor(F.col("value") * 100).cast("bigint").alias("cents"))
    w = (Window.partitionBy("user_id")
         .orderBy(F.col("ts").desc(), F.col("event_id").desc()))

    def compact(df):
        return (df.withColumn("rn", F.row_number().over(w))
                .filter((F.col("rn") == 1) & (F.col("op") != "D"))
                .select("user_id", "cents"))

    snap_a = compact(log.filter(
        F.col("ts") < F.lit("2024-01-15").cast("timestamp"))) \
        .withColumnsRenamed({"user_id": "a_user", "cents": "a_cents"})
    snap_b = compact(log) \
        .withColumnsRenamed({"user_id": "b_user", "cents": "b_cents"})
    j = snap_a.join(snap_b, snap_a["a_user"] == snap_b["b_user"], "full")
    status = (F.when(F.col("a_user").isNull(), "added")
              .when(F.col("b_user").isNull(), "removed")
              .otherwise("changed"))
    return (j.filter(F.col("a_user").isNull() | F.col("b_user").isNull()
                     | (F.col("a_cents") != F.col("b_cents")))
            .select(F.coalesce("a_user", "b_user").alias("user_id"),
                    status.alias("status"), "a_cents", "b_cents"))


@register(
    "d102_window_distribution",
    oracle="""
SELECT o_orderkey, o_orderpriority,
       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
       percent_rank() OVER w AS pr,
       cume_dist() OVER w AS cd
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority
             ORDER BY o_totalprice, o_orderkey)
""",
    tags=("engine", "D8", "window", "distribution"),
)
def d102_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window DISTRIBUTION functions — ntile(4) / percent_rank /
    cume_dist per order-priority over total price. The ORDER BY carries
    the unique o_orderkey tie-break, so rank == row_number and all three
    functions are deterministic; percent_rank ((rank-1)/(n-1)) and
    cume_dist (rank/n) are single integer divisions, bit-exact across
    engines unrounded (same doubles from the same integers).

    100 TB: one shuffle on o_orderpriority; within-partition sort feeds
    all three functions from a single Window operator. Low-cardinality
    partition keys make per-partition volume the scale knob — the
    distribution functions themselves are O(1) per row after the sort.
    Reference: no window surface in the reference (six ML utilities);
    SURVEY §2-D8 family."""
    o = table(spark, sf_dir, "orders")
    w = (Window.partitionBy("o_orderpriority")
         .orderBy("o_totalprice", "o_orderkey"))
    return o.select(
        "o_orderkey", "o_orderpriority",
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"))


@register(
    "d103_map_hof_pipeline",
    oracle="""
WITH c AS (
    SELECT user_id, event_type, count(*) AS cnt
    FROM events GROUP BY user_id, event_type
), t AS (
    SELECT user_id, sum(cnt) AS total FROM c GROUP BY user_id
)
SELECT c.user_id, c.event_type, CAST(c.cnt AS BIGINT) AS cnt,
       round(c.cnt / t.total, 6) AS share
FROM c JOIN t USING (user_id)
WHERE c.cnt >= 3
""",
    tags=("engine", "D17", "map", "higher-order"),
)
def d103_map_hof_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map higher-order-function pipeline: per-user event-type counts
    become a MAP column (map_from_entries over a sorted entry array),
    the per-user total folds over map_values with F.aggregate, shares
    attach via transform_values, rare types drop via map_filter, and the
    map explodes back to rows. The oracle computes the equivalent
    relational result — parity proves the map round-trip is lossless.
    collect_list order is partition-arrival, so the entry array is
    array_sort-ed before map construction (d69's determinism rule);
    share is rounded 6 dp on both sides (e48's cross-row float rule is
    moot here — one division — but the round keeps the convention).

    100 TB: two shuffles (user×type pre-aggregate with map-side combine,
    then user); maps stay bounded by |event_types| per user, so no row
    ever exceeds a few KB — the map column is metadata-scale, not
    data-scale. All HOFs run inside codegen; no Python."""
    ev = table(spark, sf_dir, "events")
    counts = (ev.groupBy("user_id", "event_type")
              .agg(F.count(F.lit(1)).alias("cnt")))
    m = (counts.groupBy("user_id")
         .agg(F.map_from_entries(
             F.array_sort(F.collect_list(F.struct("event_type", "cnt")))
         ).alias("m")))
    m = m.withColumn(
        "total",
        F.aggregate(F.map_values("m"), F.lit(0).cast("bigint"),
                    lambda acc, x: acc + x))
    m = m.withColumn("m", F.map_filter("m", lambda k, v: v >= 3))
    m = m.withColumn(
        "m", F.transform_values(
            "m", lambda k, v: F.struct(
                v.alias("cnt"),
                F.round(v.cast("double") / F.col("total"), 6).alias("share"))))
    return (m.select("user_id", F.explode("m").alias("event_type", "entry"))
            .select("user_id", "event_type",
                    F.col("entry.cnt").alias("cnt"),
                    F.col("entry.share").alias("share")))


@register(
    "d104_nested_json_inline",
    oracle="""
SELECT l_orderkey,
       CAST(row_number() OVER (
                PARTITION BY l_orderkey
                ORDER BY l_linenumber, floor(l_extendedprice * 100))
            - 1 AS BIGINT) AS pos,
       CAST(l_linenumber AS BIGINT) AS ln,
       CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents
FROM lineitem
""",
    tags=("engine", "D17", "json", "nested"),
)
def d104_nested_json_inline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-JSON round-trip: each order's lineitems serialize to ONE
    JSON document (to_json over a sorted array of structs — the shape
    event payloads and API exports actually arrive in), then parse back
    with from_json against an explicit array<struct<...>> schema and
    re-relationalize via posexplode. The oracle computes the same rows
    relationally (row_number-1 ≡ the 0-based posexplode ordinal under
    the same (l_linenumber, cents) ordering — the testdata carries
    duplicate line numbers per order, so the array_sort tiebreak must be
    mirrored), so the hash match proves the
    serialize→parse→explode cycle is lossless. Money crosses as
    floor-cents BIGINT so no float ever enters the JSON text.

    100 TB: one shuffle (groupBy orderkey); from_json/posexplode are
    codegen'd JVM operators — this is the scalable pattern for nested
    event ingestion: parse with an explicit schema (never
    schema-inference scans) and explode to relational form once,
    early."""
    li = table(spark, sf_dir, "lineitem")
    item = F.struct(F.col("l_linenumber").cast("bigint").alias("ln"),
                    F.floor(F.col("l_extendedprice") * 100)
                    .cast("bigint").alias("cents"))
    nested = (li.select("l_orderkey", item.alias("item"))
              .groupBy("l_orderkey")
              .agg(F.to_json(F.array_sort(F.collect_list("item")))
                   .alias("doc")))
    parsed = nested.select(
        "l_orderkey",
        F.from_json("doc", "array<struct<ln:bigint,cents:bigint>>")
        .alias("items"))
    return (parsed.select("l_orderkey", F.posexplode("items"))
            .select("l_orderkey", F.col("pos").cast("bigint").alias("pos"),
                    F.col("col.ln").alias("ln"),
                    F.col("col.cents").alias("cents")))


@register(
    "d105_decimal_ledger",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
           AS gross_sum,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2))
                   - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
           AS net_sum,
       CAST(count(*) AS BIGINT) AS n
FROM lineitem
GROUP BY l_returnflag, l_linestatus
""",
    tags=("engine", "D15", "decimal", "aggregate"),
)
def d105_decimal_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native DECIMAL ledger aggregation — the exact-money path that the
    repo's floor-cents BIGINT trick approximates by hand. Prices and
    discounts cast to DECIMAL(18,2) at the scan; the net-revenue product
    stays in exact decimal arithmetic (scale 4) through the sum and
    converts to DOUBLE exactly once at the end. Both engines implement
    SQL-standard exact decimal multiply/sum, so the aggregate is
    order-independent and bit-reproducible — unlike double summation.

    100 TB: decimal aggregation is partial-aggregatable (map-side
    combine on the 6-group key); Tungsten stores Decimal(18,2) as an
    unscaled long, so the exactness costs no memory over BIGINT cents.
    This is the pattern financial pipelines should use instead of
    doubles; the floor-cents twins (d95, q1) exist for engines without
    decimal types."""
    li = table(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    net = price * (F.lit(1).cast("decimal(18,2)") - disc)
    return (li.groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum(price).cast("double").alias("gross_sum"),
                 F.sum(net).cast("double").alias("net_sum"),
                 F.count(F.lit(1)).alias("n")))


def distributed_row_number(df: DataFrame, order_cols: list[str],
                           n_partitions: int = 32) -> DataFrame:
    """Scale-safe GLOBAL row_number over ``order_cols`` (which must end in
    a unique tie-break for determinism): range-repartition on the full
    ordering key, sort WITHIN each partition in the same stage, encode
    (pid, local rank) with ``monotonically_increasing_id`` (documented
    layout: partition id in the upper 31 bits, per-partition record
    number from 0 in the lower 33), collect per-partition counts (P
    metadata rows), and add each partition's running offset to its local
    rank. Equals the single-partition ``row_number() OVER (ORDER BY …)``
    — which is the oracle in d106 — while every task holds ~n/P rows.

    ``localCheckpoint`` freezes the id assignment so the count pass and
    every consumer see identical (pid, rank) values (e45's rule).
    Correctness does NOT depend on where range boundaries fall: offset +
    local rank under a total order is the true global rank for ANY
    partitioning that is sorted between partitions. Result adds a
    ``grk`` column (1-based global rank) and drops nothing.

    Executed-plan history (r5 profiling → r7 fix): the first version
    ranked with ``row_number() OVER (PARTITION BY pid)``, and Catalyst —
    unable to know the frozen RDD was already pid-grouped — planned an
    Exchange hashpartitioning(pid) above the checkpoint: a SECOND
    full-data shuffle, re-executed PER CONSUMING LINEAGE (d106 consumes
    the ranked output twice). The mono-id encoding removes both the
    Window and its Exchange (the in-stage ``sortWithinPartitions`` does
    the sort the window needed anyway): the rank is now a pure per-row
    projection over the checkpoint. Measured honestly via d106 at
    sf0.01: total executed shuffle 5.33 → 3.62 MiB (the pid exchange is
    gone); local[32] WALL is neutral within noise (3.6 vs 3.85 s A/B at
    sf0.1 — local-mode exchanges are memcpy), so the win is the network
    exchange a real cluster no longer pays, not local seconds. The
    checkpoint stage's peakMemory SQLMetric now includes the sorter's
    fixed ~16 MiB/task page (SUMMED across tasks by Spark's metric —
    ~519 MiB at 32 tasks), which is a reservation constant, not
    data-proportional state (tests/test_shuffle_budget.py pins it)."""
    parts = probe_checkpoint(
        df.repartitionByRange(n_partitions, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("mid", F.monotonically_increasing_id()),
        "distributed_row_number.parts")
    pid = F.shiftright("mid", 33).cast("int")
    local0 = F.col("mid").bitwiseAND(F.lit((1 << 33) - 1))
    sizes = (parts.groupBy(pid.alias("pid"))
             .agg(F.count(F.lit(1)).alias("c"))
             .orderBy("pid").collect())
    offsets, acc = {}, 0
    for row in sizes:
        offsets[row["pid"]] = acc
        acc += row["c"]
    off = F.create_map(
        *[F.lit(x) for kv in offsets.items() for x in kv])
    return (parts.withColumn(
        "grk", (off[pid] + local0 + 1).cast("bigint")).drop("mid"))


def distributed_prefix_sum(df: DataFrame, order_cols: list[str],
                           value_col: str,
                           n_partitions: int = 16) -> DataFrame:
    """Scale-safe GLOBAL running total of ``value_col`` under the total
    order ``order_cols`` (which must end in a unique tie-break) — the
    measure-carrying sibling of :func:`distributed_row_number`: range-
    repartition on the full ordering key, collect per-partition (count,
    sum) — P metadata rows — prefix-sum them into rank and value offsets
    on the driver, and add each partition's offsets to its local
    row_number/windowed sum. Equals the single-partition
    ``sum(v) OVER (ORDER BY ...)`` while every task holds ~n/P rows.
    Adds ``grk`` (1-based global rank) and ``gcum`` (inclusive global
    running sum); localCheckpoint freezes pid assignment (e45's rule)."""
    parts = probe_checkpoint(
        df.repartitionByRange(n_partitions, *order_cols)
        .withColumn("pid", F.spark_partition_id()),
        "distributed_prefix_sum.parts")
    sizes = (parts.groupBy("pid")
             .agg(F.count(F.lit(1)).alias("c"),
                  F.sum(value_col).alias("s"))
             .orderBy("pid").collect())
    rk_off: dict[int, int] = {}
    sum_off: dict[int, int] = {}
    acc_c, acc_s = 0, 0
    for row in sizes:
        rk_off[row["pid"]] = acc_c
        sum_off[row["pid"]] = acc_s
        acc_c += row["c"]
        acc_s += row["s"]
    rk_map = F.create_map(*[F.lit(x) for kv in rk_off.items() for x in kv])
    sm_map = F.create_map(*[F.lit(x) for kv in sum_off.items() for x in kv])
    w_local = Window.partitionBy("pid").orderBy(*order_cols)
    return (parts
            .withColumn("grk", (rk_map[F.col("pid")]
                                + F.row_number().over(w_local))
                        .cast("bigint"))
            .withColumn("gcum", (sm_map[F.col("pid")]
                                 + F.sum(value_col).over(w_local))
                        .cast("bigint"))
            .drop("pid"))


D106_ORDER = ["feat", "val", "l_orderkey", "l_linenumber"]


def long_features(li: DataFrame) -> DataFrame:
    """d106's long form: (l_orderkey, l_linenumber, feat, val) per feature."""
    return li.selectExpr(
        "l_orderkey", "l_linenumber",
        "stack(3, 'd', l_discount, 'p', l_extendedprice, "
        "'q', CAST(l_quantity AS DOUBLE)) AS (feat, val)")


@register(
    "d106_quantile_normalize",
    oracle="""
WITH long AS (
    SELECT l_orderkey, l_linenumber, 'd' AS feat, l_discount AS val
    FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'p', l_extendedprice FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'q', CAST(l_quantity AS DOUBLE)
    FROM lineitem
), ranked AS (
    SELECT l_orderkey, l_linenumber, feat, val,
           CAST(row_number() OVER (PARTITION BY feat
                ORDER BY val, l_orderkey, l_linenumber) AS BIGINT) AS rk
    FROM long
), rank_means AS (
    SELECT rk, round(avg(val), 6) AS qnorm FROM ranked GROUP BY rk
)
SELECT r.l_orderkey, r.l_linenumber, r.feat, r.val, r.rk, m.qnorm
FROM ranked r JOIN rank_means m USING (rk)
""",
    tags=("engine", "ml-prep", "ranking", "scale"),
)
def d106_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization (the microarray/ML-preprocessing classic:
    replace each feature's k-th order statistic with the MEAN of all
    features' k-th order statistics) — powered by a scale-safe GLOBAL
    ranking primitive. A naive ``row_number() OVER (PARTITION BY feat)``
    puts an entire feature column into ONE task; instead each feature's
    values are range-repartitioned on the full (feat, val, tiebreak)
    ordering key, per-range-partition counts (one scalar row per
    partition) prefix-sum into offsets on the driver, and the global
    rank is offset + local row_number within the bounded range
    partition. The result equals the single-partition window's answer —
    the oracle IS that window — while every task holds ~n/P rows.

    Ties break on the unique (l_orderkey, l_linenumber) key, so ranks
    are deterministic regardless of where range boundaries fall. The
    rank-mean is a cross-row double avg → rounded 6 dp on both sides
    (e48's rule). localCheckpoint freezes the partition assignment so
    the count pass and the rank pass see identical pids (e45's rule).

    100 TB: two bounded full-data exchanges — range partition, and ONE
    rank-key hash under which the rank-mean window computes avg-per-rank
    in place (r14: the groupBy(rk)+join-back pair re-shuffled the full
    data twice and consumed the checkpoint per lineage; the window
    consumes it once) — plus one metadata-sized collect (P rows). This
    is how distributed engines implement ORDER BY-with-row-number at
    scale; the same primitive serves ECDF and exact-quantile
    assignment."""
    li = table(spark, sf_dir, "lineitem")
    ranked = distributed_row_number(long_features(li), D106_ORDER, 32)
    # global rank over (feat, val, key) -> per-feature rank by subtracting
    # the count of rows in preceding features (features are equal-sized:
    # one row per lineitem each — so count the SOURCE table, a columnless
    # parquet count, instead of re-scanning the checkpointed long form).
    n_per_feat = li.count()
    feat_base = F.create_map(
        F.lit("d"), F.lit(0), F.lit("p"), F.lit(n_per_feat),
        F.lit("q"), F.lit(2 * n_per_feat))
    ranked = ranked.withColumn(
        "rk", (F.col("grk") - feat_base[F.col("feat")]).cast("bigint"))
    # r14 (guide §2.4): the rank-mean needs every row of a rank together,
    # and the join-back needs the same clustering — one window over rk
    # computes avg-per-rank in place, replacing groupBy(rk)+join-back.
    # The ranked lineage is now consumed ONCE (one rk exchange instead of
    # two full-data rk exchanges + the join), and the oracle's
    # avg-over-3-doubles is order-robust at 6 dp on this data (parity
    # re-verified at sf0.001/0.01/0.1).
    w_rk = Window.partitionBy("rk")
    return (ranked
            .withColumn("qnorm", F.round(F.avg("val").over(w_rk), 6))
            .select("l_orderkey", "l_linenumber", "feat", "val", "rk",
                    "qnorm"))


@register(
    "d107_rolling_median",
    oracle="""
WITH fr AS (
    SELECT user_id, event_id, value,
           list_sort(list(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS arr
    FROM events
)
SELECT user_id, event_id, value,
       CASE WHEN len(arr) % 2 = 1
            THEN arr[CAST((len(arr) + 1) / 2 AS BIGINT)]
            ELSE arr[CAST(len(arr) / 2 AS BIGINT)]
                 + (arr[CAST(len(arr) / 2 AS BIGINT) + 1]
                    - arr[CAST(len(arr) / 2 AS BIGINT)]) * 0.5
       END AS med7
FROM fr
""",
    tags=("engine", "D9", "window", "robust-stats"),
)
def d107_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling MEDIAN over a 7-row event window per user — the robust
    smoother monitoring pipelines use where a rolling mean is blown up
    by outliers (d9's frames x d77's robustness). Spark refuses median()
    with a window frame (INVALID_WINDOW_SPEC_FOR_AGGREGATION_FUNC), so
    the frame's values are gathered with collect_list (frame-capable),
    sorted, and the order statistic is computed explicitly — with the
    interpolation written as ``lo + (hi - lo) * 0.5`` and MIRRORED
    verbatim in the oracle (the d52/d77 rule: one explicit formula on
    both sides, never two engines' builtins). The ordering carries the
    unique event_id tie-break so every frame's membership is
    deterministic.

    100 TB: one shuffle on user_id + within-partition sort; the frame
    gathers <= 7 values per row — O(frame) memory, no full-partition
    buffering like an unbounded frame. Hot users are a partition-skew
    concern, not an algorithmic one (AQE skew split handles them)."""
    ev = table(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(-6, Window.currentRow))
    fr = ev.select("user_id", "event_id", "value",
                   F.array_sort(F.collect_list("value").over(w))
                   .alias("arr"))
    n = F.size("arr")
    mid_odd = F.element_at("arr", ((n + 1) / 2).cast("int"))
    lo = F.element_at("arr", (n / 2).cast("int"))
    hi = F.element_at("arr", (n / 2).cast("int") + 1)
    med = F.when(n % 2 == 1, mid_odd).otherwise(lo + (hi - lo) * F.lit(0.5))
    return fr.select("user_id", "event_id", "value", med.alias("med7"))


@register(
    "d108_collation_distinct",
    oracle="""
WITH m AS (
    SELECT c_nationkey,
           CASE WHEN c_custkey % 2 = 0 THEN upper(c_name)
                ELSE c_name END AS mixed
    FROM customer
)
SELECT c_nationkey,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(count(DISTINCT mixed) AS BIGINT) AS n_names_cs,
       CAST(count(DISTINCT lower(mixed)) AS BIGINT) AS n_names_ci
FROM m GROUP BY c_nationkey
""",
    tags=("engine", "D13", "collation", "spark4"),
)
def d108_collation_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collation-aware distinct counting (Spark 4 collations): customer
    names are given a deterministic mixed-casing (even keys uppercased),
    then counted distinct per nation under binary semantics AND under
    the UTF8_LCASE collation via ``F.collate`` — the engine-native way
    to get case-insensitive semantics without rewriting every
    expression in lower(). The oracle models the collated count with
    lower(), which is equivalent for this ASCII fixture; the
    case-sensitive count pins that the collation — not the data —
    collapsed the variants.

    100 TB: collation is expression metadata, so the distinct aggregate
    plans exactly like any other (partial distinct + final); no UDF, no
    second scan. Case-insensitive joins/group-bys at scale should use
    collation for exactly this reason: the optimizer sees a plain
    equality."""
    c = table(spark, sf_dir, "customer")
    mixed = (F.when(F.col("c_custkey") % 2 == 0, F.upper("c_name"))
             .otherwise(F.col("c_name")))
    m = c.select("c_nationkey", mixed.alias("mixed"))
    return (m.groupBy("c_nationkey")
            .agg(F.count(F.lit(1)).alias("n_customers"),
                 F.count_distinct(F.col("mixed")).alias("n_names_cs"),
                 F.count_distinct(F.collate(F.col("mixed"), "UTF8_LCASE"))
                 .alias("n_names_ci")))


@register(
    "d111_rollup_share_of_parent",
    oracle="""
WITH r AS (
    SELECT n.n_regionkey AS region, c.c_nationkey AS nation,
           CAST(grouping(n.n_regionkey) * 2 + grouping(c.c_nationkey)
                AS BIGINT) AS gid,
           CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY ROLLUP (n.n_regionkey, c.c_nationkey)
)
SELECT child.region, child.nation, child.gid, child.cents,
       round(child.cents / parent.cents, 6) AS share_of_parent
FROM r child
JOIN r parent
  ON (child.gid = 0 AND parent.gid = 1
      AND parent.region = child.region)
  OR (child.gid = 1 AND parent.gid = 3)
UNION ALL
SELECT region, nation, gid, cents, CAST(1.0 AS DOUBLE)
FROM r WHERE gid = 3
""",
    tags=("engine", "D7", "rollup", "reporting"),
)
def d111_rollup_share_of_parent(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """ROLLUP with SHARE-OF-PARENT — the hierarchical report every BI
    layer builds on subtotals (nation revenue as a share of its region,
    region as a share of the grand total): one ROLLUP pass produces all
    three levels, then each level joins its parent subtotal by
    grouping_id (nation rows equi-join their region subtotal; region
    rows cross-join the single broadcast grand-total row — allowlisted;
    the grand row itself reports share 1). Money stays
    floor-cents BIGINT through the rollup so subtotals are exact; only
    the final share divides (round 6 dp). grouping_id bit order is
    probed identical across engines (d92).

    100 TB: one shuffle for the rollup (Expand feeds partial
    aggregates); the self-join joins a |nations|+|regions|+1-row table
    to itself — metadata-sized. The same shape extends to any
    dimension hierarchy (category/subcategory, org trees)."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    base = (o.join(c, o["o_custkey"] == c["c_custkey"])
            .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"]))
    r = (base.rollup(n["n_regionkey"].alias("region"),
                     c["c_nationkey"].alias("nation"))
         .agg(F.grouping_id().cast("bigint").alias("gid"),
              F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
              .alias("cents")))
    region_totals = (r.filter(F.col("gid") == 1)
                     .select(F.col("region").alias("p_region"),
                             F.col("cents").alias("p_cents")))
    nation_rows = (r.filter(F.col("gid") == 0)
                   .join(F.broadcast(region_totals),
                         F.col("region") == F.col("p_region"))
                   .select("region", "nation", "gid", "cents",
                           F.round(F.col("cents") / F.col("p_cents"), 6)
                           .alias("share_of_parent")))
    grand_total = (r.filter(F.col("gid") == 3)
                   .select(F.col("cents").alias("g_cents")))
    region_rows = (r.filter(F.col("gid") == 1)
                   .crossJoin(F.broadcast(grand_total))
                   .select("region", "nation", "gid", "cents",
                           F.round(F.col("cents") / F.col("g_cents"), 6)
                           .alias("share_of_parent")))
    grand = (r.filter(F.col("gid") == 3)
             .select("region", "nation", "gid", "cents",
                     F.lit(1.0).alias("share_of_parent")))
    return nation_rows.unionByName(region_rows).unionByName(grand)


@register(
    "d112_loo_target_encoding",
    oracle="""
WITH c AS (
    SELECT o_orderkey, o_orderpriority,
           CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders
)
SELECT o_orderkey, o_orderpriority, cents,
       CAST((sum(cents) OVER (PARTITION BY o_orderpriority) - cents)
            * 1000000
            // (count(*) OVER (PARTITION BY o_orderpriority) - 1)
            AS BIGINT) AS loo_mean_microcents
FROM c
""",
    tags=("engine", "ml-prep", "encoding", "window"),
)
def d112_loo_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAVE-ONE-OUT target encoding — the categorical-feature encoding
    that replaces each category with the mean target of the OTHER rows
    in that category (including the row's own target leaks the label
    into the feature; LOO is the standard fix): one unpartitioned-frame
    window computes the group sum and count, each row subtracts itself,
    and the mean is reported in FIXED-POINT micro-cents via integer
    division — no float anywhere. The all-integer form is deliberate
    twice over: double sums are partition-order dependent, AND a
    rounded float division is engine-divergent exactly at rounding
    boundaries (prototyped: DuckDB's round-after-divide evaluates the
    division in extended precision, so a quotient whose true value
    crosses the 6-dp boundary INSIDE one double ulp rounds differently
    than Spark's IEEE double quotient — observed on this very data).
    Positive operands make Spark's truncating DIV ≡ DuckDB's flooring
    // ; groups here always have >= 2 rows so the denominator is never
    zero.

    100 TB: one shuffle on the category key; the window needs only two
    running aggregates per partition, no buffering. Skewed categories
    (most rows in one priority) are the known hot key — at scale the
    same arithmetic decomposes into a pre-aggregated (sum, count)
    broadcast join-back, which AQE effectively produces here anyway.
    Reference: the reference's feature tooling (spark_ml_features.py:1)
    has label indexing but no target encoding; SURVEY §2-B extension."""
    o = table(spark, sf_dir, "orders")
    c = o.select("o_orderkey", "o_orderpriority",
                 F.floor(F.col("o_totalprice") * 100).cast("bigint")
                 .alias("cents"))
    w = Window.partitionBy("o_orderpriority")
    staged = c.select(
        "o_orderkey", "o_orderpriority", "cents",
        ((F.sum("cents").over(w) - F.col("cents")) * F.lit(1000000))
        .alias("num"),
        (F.count(F.lit(1)).over(w) - 1).alias("den"))
    return staged.select(
        "o_orderkey", "o_orderpriority", "cents",
        F.expr("num DIV den").alias("loo_mean_microcents"))


@register(
    "d114_ab_welch_ttest",
    oracle="""
WITH m AS (
    SELECT o_custkey % 2 AS arm,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders
), s AS (
    SELECT count(*) FILTER (WHERE arm = 0) AS n0,
           count(*) FILTER (WHERE arm = 1) AS n1,
           sum(CAST(cents AS DECIMAL(28,0))) FILTER (WHERE arm = 0) AS sx0,
           sum(CAST(cents AS DECIMAL(28,0))) FILTER (WHERE arm = 1) AS sx1,
           sum(CAST(cents AS DECIMAL(28,0)) * cents)
               FILTER (WHERE arm = 0) AS sxx0,
           sum(CAST(cents AS DECIMAL(28,0)) * cents)
               FILTER (WHERE arm = 1) AS sxx1
    FROM m
), d AS (
    SELECT n0, n1,
           CAST(sx0 AS DOUBLE) / n0 AS m0,
           CAST(sx1 AS DOUBLE) / n1 AS m1,
           (CAST(sxx0 AS DOUBLE)
            - CAST(sx0 AS DOUBLE) * CAST(sx0 AS DOUBLE) / n0)
               / (n0 - 1) AS v0,
           (CAST(sxx1 AS DOUBLE)
            - CAST(sx1 AS DOUBLE) * CAST(sx1 AS DOUBLE) / n1)
               / (n1 - 1) AS v1
    FROM s
)
SELECT n0, n1,
       round(m0 / 100, 6) AS mean0_dollars,
       round(m1 / 100, 6) AS mean1_dollars,
       round((m1 - m0) / sqrt(v0 / n0 + v1 / n1), 6) AS t_stat,
       round((v0 / n0 + v1 / n1) * (v0 / n0 + v1 / n1)
             / ((v0 / n0) * (v0 / n0) / (n0 - 1)
                + (v1 / n1) * (v1 / n1) / (n1 - 1)), 6) AS welch_df
FROM d
""",
    tags=("engine", "stats", "experimentation"),
)
def d114_ab_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test between two deterministic
    experiment arms (``o_custkey % 2``) on order value — the A/B-test
    readout as ONE conditional hash aggregate: a single scan emits
    FILTER-style conditional power sums (n, Σx, Σx² per arm, the d71
    construct) that combine map-side into a one-row state; the t statistic
    and Welch–Satterthwaite degrees of freedom evaluate on the driver-side
    row in closed form. Engine-exact: cents are integers, sums are
    DECIMAL (order-independent), the statistic's division/sqrt tree is
    mirrored node-for-node in the oracle and both engines' IEEE ops are
    correctly rounded.

    100 TB: this is the scan-shaped query AQE cannot make cheaper and a
    cluster cannot make wrong — zero joins, zero windows, a six-number
    aggregation state, output exactly one row. Per-experiment variants
    just add the experiment id to the groupBy."""
    od = table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    m = od.select((F.col("o_custkey") % 2).alias("arm"),
                  cents.alias("cents"))
    dec = F.col("cents").cast("decimal(28,0)")
    in_arm = lambda a, expr: F.sum(  # noqa: E731
        F.when(F.col("arm") == a, expr))
    s = m.agg(
        F.count(F.when(F.col("arm") == 0, F.lit(1))).alias("n0"),
        F.count(F.when(F.col("arm") == 1, F.lit(1))).alias("n1"),
        in_arm(0, dec).alias("sx0"),
        in_arm(1, dec).alias("sx1"),
        in_arm(0, dec * F.col("cents")).alias("sxx0"),
        in_arm(1, dec * F.col("cents")).alias("sxx1"))
    n0, n1 = F.col("n0"), F.col("n1")
    m0 = F.col("sx0").cast("double") / n0
    m1 = F.col("sx1").cast("double") / n1
    v0 = ((F.col("sxx0").cast("double")
           - F.col("sx0").cast("double") * F.col("sx0").cast("double") / n0)
          / (n0 - 1))
    v1 = ((F.col("sxx1").cast("double")
           - F.col("sx1").cast("double") * F.col("sx1").cast("double") / n1)
          / (n1 - 1))
    se2 = v0 / n0 + v1 / n1
    return s.select(
        n0, n1,
        F.round(m0 / 100, 6).alias("mean0_dollars"),
        F.round(m1 / 100, 6).alias("mean1_dollars"),
        F.round((m1 - m0) / F.sqrt(se2), 6).alias("t_stat"),
        F.round(se2 * se2
                / ((v0 / n0) * (v0 / n0) / (n0 - 1)
                   + (v1 / n1) * (v1 / n1) / (n1 - 1)), 6)
        .alias("welch_df"))


@register(
    "d115_ewma_decay",
    oracle="""
WITH ranked AS (
    SELECT o_custkey,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
           row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate DESC, o_orderkey DESC) AS rk
    FROM orders
), recent AS (
    SELECT o_custkey, cents,
           CAST(1 << (16 - rk) AS BIGINT) AS w
    FROM ranked WHERE rk <= 16
)
SELECT o_custkey,
       CAST(count(*) AS BIGINT) AS n_recent,
       CAST(sum(cents * w) AS BIGINT) * 10000 // CAST(sum(w) AS BIGINT)
           AS ewma_microdollars
FROM recent
GROUP BY o_custkey
""",
    tags=("engine", "ml-prep", "time-decay"),
)
def d115_ewma_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-decayed order-value feature per customer — the
    recency-weighted mean every churn/LTV model wants — with EXACT
    arithmetic: each customer's 16 most recent orders get weight
    2^(16-rank), a BIGINT (halving decay, most recent heaviest), so the
    weighted sum stays an exact integer end to end: the output is
    FIXED-POINT micro-dollars via truncating integer division (the d112
    rule — round(int/int, 6) is not engine-portable; Spark's DIV ≡
    DuckDB's // for positive operands). The naive formulation is a
    sequential recursion (ewma_t = a·x_t + (1-a)·ewma_{t-1}); the closed
    form turns it into a rank window plus one hash aggregate — no
    recursion, no iteration.

    Rank ties break on the unique o_orderkey, so weights are
    deterministic. 100 TB: one shuffle on o_custkey serves both the
    window and the aggregate (same key), per-task state is the partition's
    rows, and WindowGroupLimit-style early pruning applies since rank>16
    rows are dropped immediately."""
    od = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc())
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    ranked = od.select(
        "o_custkey", cents.alias("cents"),
        F.row_number().over(w).alias("rk")).filter(F.col("rk") <= 16)
    recent = ranked.withColumn(
        "w", F.expr("CAST(shiftleft(1, 16 - rk) AS BIGINT)"))
    agg = recent.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_recent"),
        F.sum(F.col("cents") * F.col("w")).alias("wsum"),
        F.sum("w").alias("wtot"))
    return agg.select(
        "o_custkey", "n_recent",
        F.expr("wsum * 10000L DIV wtot").alias("ewma_microdollars"))


@register(
    "d116_chi_square_independence",
    oracle="""
WITH cells AS (
    SELECT o_orderpriority AS priority, o_orderstatus AS status,
           count(*) AS obs
    FROM orders GROUP BY o_orderpriority, o_orderstatus
), tot AS (
    SELECT priority, status, obs,
           CAST(sum(obs) OVER (PARTITION BY priority) AS BIGINT) AS row_tot,
           CAST(sum(obs) OVER (PARTITION BY status) AS BIGINT) AS col_tot,
           CAST(sum(obs) OVER () AS BIGINT) AS grand
    FROM cells
)
SELECT priority, status, obs,
       CAST(row_tot::HUGEINT * col_tot * 1000000 // grand AS BIGINT)
           AS expected_micro,
       CAST(((obs::HUGEINT * grand - row_tot::HUGEINT * col_tot)
             * (obs::HUGEINT * grand - row_tot::HUGEINT * col_tot)
             * 1000000000)
            // (row_tot::HUGEINT * col_tot * grand) AS BIGINT)
           AS contrib_nano
FROM tot
""",
    tags=("engine", "stats", "experimentation"),
)
def d116_chi_square_independence(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Chi-square test of independence (order priority × order status)
    with a FULLY exact fixed-point statistic — zero float operations:
    observed counts aggregate once (map-side combinable), the marginals
    come from window sums over the |priorities|×|statuses| CELL table
    (~15 rows — the windows never touch raw data), and each cell's
    expected count and chi-square contribution are integer arithmetic:
    expected_micro = row·col·10^6 DIV grand, contrib_nano =
    (obs·grand − row·col)² ·10^9 DIV (row·col·grand), computed in
    DECIMAL(38,0) on the Spark side and HUGEINT in DuckDB (truncating
    DIV ≡ // on the always-non-negative square — the d112 rule).
    Σ contrib_nano / 10^9 is the chi-square statistic, summable EXACTLY
    downstream because every term is an integer.

    Exactness bounds (ADVICE r4 + r5): every multi-term product is cast
    to DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) BEFORE multiplying —
    BIGINT-first products like row_tot·col_tot·grand would wrap int64 at
    only ~2-5e6 base rows, far inside the claimed bound. What remains is
    the DECIMAL(38,0) ceiling itself: num²·10^9 needs |num| =
    |obs·grand − row·col| ≤ floor(sqrt((10^38−1)/10^9)) ≈ 3.16e14
    (roughly 1.7e7 base rows in the anti-independence worst case), and
    the denominator row·col·grand ≤ grand³ needs grand ≤ ~4.64e12 —
    past either, Spark decimal multiply returns NULL *silently* while
    DuckDB's HUGEINT keeps going. BOTH guards below turn that silent
    divergence into a loud error (the grand guard matters because near
    independence keeps num tiny while grand³ can still blow the
    denominator); beyond the bound, pre-scale the counts (divide every
    obs by a common factor before the statistic — chi-square
    contributions scale linearly in a uniform count rescale) or accept
    a float64 contrib with a rounding contract.

    Scale: one scan + one tiny-key shuffle; the arithmetic runs on the
    ~15-row cell table so the guard is free. The test statistic family
    (d114 Welch t, this) covers the two standard experimentation
    readouts with engine-exact reproducibility inside the documented
    bound."""
    od = table(spark, sf_dir, "orders")
    cells = (od.groupBy(F.col("o_orderpriority").alias("priority"),
                        F.col("o_orderstatus").alias("status"))
             .agg(F.count(F.lit(1)).alias("obs")))
    tot = (cells
           .withColumn("row_tot", F.sum("obs").over(
               Window.partitionBy("priority")).cast("bigint"))
           .withColumn("col_tot", F.sum("obs").over(
               Window.partitionBy("status")).cast("bigint"))
           .withColumn("grand", F.sum("obs").over(
               Window.partitionBy()).cast("bigint")))
    return tot.withColumn(
        # num computed decimal-first: obs·grand ≤ grand² wraps BIGINT at
        # grand ~3e9 while staying small near independence — the guard
        # below would then inspect wrapped garbage.
        "num", F.expr("CAST(obs AS DECIMAL(38,0)) * grand"
                      " - CAST(row_tot AS DECIMAL(38,0)) * col_tot")).select(
        "priority", "status", "obs",
        # Decimal-first for the same reason: row·col·10^6 wraps BIGINT at
        # ~2-5e6 base rows with realistic marginals (ADVICE r5).
        F.expr("CAST(CAST(row_tot AS DECIMAL(38,0)) * col_tot * 1000000"
               " DIV grand AS BIGINT)").alias("expected_micro"),
        # Past either DECIMAL(38,0) ceiling the multiply would NULL
        # silently — raise instead (runs on the ~15-row cell table, so
        # the guards cost nothing). 4641588833612 = floor(cbrt(10^38-1)).
        F.expr("CASE WHEN abs(num) > 316227766016837L THEN"
               " raise_error('d116: |obs*grand - row_tot*col_tot| exceeds"
               " the DECIMAL(38,0) exact bound (~3.16e14, ~1.7e7 base"
               " rows); pre-scale counts — see docstring')"
               " WHEN grand > 4641588833612L THEN"
               " raise_error('d116: grand exceeds the DECIMAL(38,0)"
               " denominator bound (~4.64e12 rows, grand^3 ceiling);"
               " pre-scale counts — see docstring')"
               " ELSE CAST((num * num *"
               " 1000000000L) DIV (CAST(row_tot AS DECIMAL(38,0)) *"
               " col_tot * grand) AS BIGINT) END").alias("contrib_nano"))


@register(
    "d120_rfm_features",
    oracle="""
SELECT o_custkey,
       CAST(date_diff('day', max(o_orderdate), TIMESTAMP '1998-08-01')
            AS BIGINT) AS recency_days,
       count(*) AS frequency,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS monetary_cents
FROM orders
GROUP BY o_custkey
""",
    tags=("engine", "ml-prep", "features"),
)
def d120_rfm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) — the classic customer
    feature triple every churn, LTV, and segmentation model starts from —
    as ONE map-side-combinable aggregate: days since the customer's last
    order (against a fixed snapshot anchor, the way a feature store pins
    a training cutoff), order count, and exact integer-cent spend. Pairs
    with d115 (EWMA time-decay) as the feature-store family: d115 weights
    recent behavior, RFM summarizes the lifetime.

    100 TB: one scan, one shuffle on o_custkey carrying three
    fixed-width states; the anchor is a literal so no global-max pass or
    single-row join exists in the plan."""
    od = table(spark, sf_dir, "orders")
    anchor = F.lit("1998-08-01").cast("timestamp")
    return (od.groupBy("o_custkey")
            .agg(F.datediff(anchor, F.max("o_orderdate")).cast("bigint")
                 .alias("recency_days"),
                 F.count(F.lit(1)).alias("frequency"),
                 F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
                 .alias("monetary_cents")))


@register(
    "d123_rolling_anomaly",
    oracle="""
WITH c AS (
    SELECT o_orderkey, o_custkey, o_orderdate,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders
), w AS (
    SELECT o_orderkey, o_custkey, cents,
           CAST(count(*) OVER win AS BIGINT) AS n_prev,
           CAST(coalesce(sum(cents) OVER win, 0) AS BIGINT) AS s,
           CAST(coalesce(sum(cents * cents) OVER win, 0) AS BIGINT) AS ss
    FROM c
    WINDOW win AS (PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING)
)
SELECT o_orderkey, o_custkey, cents, n_prev,
       CAST(CASE WHEN n_prev >= 3
                  AND (n_prev * cents - s) * (n_prev * cents - s)
                      > 9 * (n_prev * ss - s * s)
                 THEN 1 ELSE 0 END AS INT) AS is_anomaly
FROM w
""",
    tags=("engine", "stats", "window", "exact"),
)
def d123_rolling_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLING Z-SCORE anomaly flags without a single float: each order
    is compared against its customer's previous ≤5 orders; it is
    anomalous when |x − μ| > 3σ over that frame. The float-free trick is
    cross-multiplication — |z| > 3 ⟺ (n·x − s)² > 9·(n·ss − s²) where
    s, ss are the frame's sum and sum-of-squares in integer cents — so
    the flag is engine-exact (d30b's integer-moments idea applied to a
    WINDOW FRAME instead of a group). Frames under 3 observations emit
    0 (no baseline, no flag).

    Overflow bound: cents ≤ ~6e7 here, so (n·x−s)² ≤ ~9e16 and
    9·(n·ss−s²) ≤ ~6e17 — inside int64 by >10×; past ~9e8-cent values
    the comparison needs the d116 DECIMAL(38,0) treatment. DuckDB's
    HUGEINT window sums are cast back to BIGINT before the arithmetic
    so both engines compare the same ints.

    100 TB: one hash shuffle on o_custkey; the frame is 5 rows, state
    is O(1) per row, and the same shape runs streaming as e10's sliding
    window. This is the drift/fraud monitor every event pipeline runs."""
    o = table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    win = (Window.partitionBy("o_custkey")
           .orderBy("o_orderdate", "o_orderkey")
           .rowsBetween(-5, -1))
    w = (o.select("o_orderkey", "o_custkey", "o_orderdate",
                  cents.alias("cents"))
         .select("o_orderkey", "o_custkey", "cents",
                 F.count(F.lit(1)).over(win).cast("bigint")
                 .alias("n_prev"),
                 F.coalesce(F.sum("cents").over(win), F.lit(0))
                 .cast("bigint").alias("s"),
                 F.coalesce(F.sum(F.col("cents") * F.col("cents"))
                            .over(win), F.lit(0))
                 .cast("bigint").alias("ss")))
    flag = ((F.col("n_prev") >= 3)
            & ((F.col("n_prev") * F.col("cents") - F.col("s"))
               * (F.col("n_prev") * F.col("cents") - F.col("s"))
               > 9 * (F.col("n_prev") * F.col("ss")
                      - F.col("s") * F.col("s"))))
    return w.select("o_orderkey", "o_custkey", "cents", "n_prev",
                    F.when(flag, 1).otherwise(0).cast("int")
                    .alias("is_anomaly"))


@register(
    "d128_conditional_null_matrix",
    oracle="""
WITH r AS (
    SELECT l_orderkey,
           CAST(count(*) AS BIGINT) AS r_items,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS r_cents
    FROM lineitem WHERE l_returnflag = 'R' GROUP BY l_orderkey
), j AS (
    SELECT o_orderpriority,
           CASE WHEN r.r_items IS NULL THEN 'no_returns'
                WHEN r.r_items > 2 THEN 'heavy' ELSE 'light' END AS flag,
           coalesce(r.r_cents, 0) * 10000
               // nullif(CAST(round(o_totalprice * 100) AS BIGINT), 0)
               AS ratio_bp
    FROM orders o LEFT JOIN r ON o.o_orderkey = r.l_orderkey
)
SELECT o_orderpriority, flag,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(ratio_bp) AS BIGINT) AS sum_ratio_bp
FROM j GROUP BY o_orderpriority, flag
""",
    tags=("engine", "D18", "conditional", "null-semantics"),
)
def d128_conditional_null_matrix(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """NULL-SEMANTICS conditional matrix (D18's second representative):
    orders LEFT-joined to their returned-items rollup produce REAL
    NULLs (most orders have no 'R' lineitems), then the full
    conditional toolkit works over them — a NULL-aware CASE bucketing,
    ``coalesce`` defaulting, and ``nullif`` div-by-zero guarding — all
    aggregated into a priority × flag matrix. Fixed-point return-value
    share via integer DIV (the d112 rule; operands positive).

    100 TB: the returns rollup is a partial-aggregated shuffle on
    orderkey; the join is the orders⋈lineitem equi-join every TPC-H
    query shapes; the final matrix is tiny."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    r = (li.filter(F.col("l_returnflag") == "R")
         .groupBy("l_orderkey")
         .agg(F.count(F.lit(1)).cast("bigint").alias("r_items"),
              F.sum(F.round(F.col("l_extendedprice") * 100)
                    .cast("bigint")).cast("bigint").alias("r_cents")))
    j = (o.join(r, o.o_orderkey == r.l_orderkey, "left")
         .select("o_orderpriority",
                 F.when(F.col("r_items").isNull(), "no_returns")
                 .when(F.col("r_items") > 2, "heavy")
                 .otherwise("light").alias("flag"),
                 F.expr("coalesce(r_cents, 0L) * 10000L DIV "
                        "nullif(CAST(round(o_totalprice * 100) AS BIGINT), "
                        "0L)").alias("ratio_bp")))
    return (j.groupBy("o_orderpriority", "flag")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"),
                 F.sum("ratio_bp").cast("bigint").alias("sum_ratio_bp")))


@register(
    "d135_nth_value_frames",
    oracle="""
SELECT o_orderkey, o_orderpriority,
       nth_value(o_totalprice, 2) OVER w AS second_in_frame,
       last_value(o_totalprice) OVER w AS frame_last,
       CAST(count(*) OVER w AS BIGINT) AS frame_n
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority
             ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
""",
    tags=("engine", "D9", "window"),
)
def d135_nth_value_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nth_value / last_value over a bounded ROWS frame — the remaining
    analytic window functions D9's family had not exercised. nth_value
    returns NULL while the frame holds fewer than n rows (both engines
    agree); the frame count column pins the frame boundaries themselves.
    Per-group windows partition-parallelize (no global sort); values are
    picked, not summed — engine-exact with no float hazard."""
    o = table(spark, sf_dir, "orders")
    w = (Window.partitionBy("o_orderpriority")
         .orderBy("o_orderdate", "o_orderkey")
         .rowsBetween(-3, 0))
    return o.select(
        "o_orderkey", "o_orderpriority",
        F.nth_value("o_totalprice", 2).over(w).alias("second_in_frame"),
        F.last("o_totalprice").over(w).alias("frame_last"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("frame_n"))


@register(
    "d11b_bottomk_with_ties",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE o_totalprice <= (
    SELECT max(p) FROM (
        SELECT o_totalprice AS p FROM orders
        ORDER BY o_totalprice LIMIT 10))
""",
    tags=("engine", "D11", "topk"),
)
def d11b_bottomk_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global bottom-k WITH TIES, scale-safe (D11's second
    representative): a global `rank() <= k` needs a single-partition
    window — the anti-pattern — so instead compute the k-th smallest
    value with TakeOrderedAndProject (per-partition top-k then a k-row
    driver merge), broadcast that one-row threshold, and filter the
    scan against it. Two passes, both trivially parallel; ties at the
    threshold are included by <=, exactly SQL's WITH TIES semantics.
    The 1-row crossJoin(broadcast) is the allowlisted d39/d56/t9 BNLJ
    shape."""
    o = table(spark, sf_dir, "orders")
    kth = (o.select("o_totalprice").orderBy("o_totalprice").limit(10)
           .agg(F.max("o_totalprice").alias("thresh")))
    return (o.select("o_orderkey", "o_custkey", "o_totalprice")
            .crossJoin(F.broadcast(kth))
            .filter(F.col("o_totalprice") <= F.col("thresh"))
            .drop("thresh"))


@register(
    "d137_limit_offset_pagination",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 20 OFFSET 40
""",
    tags=("engine", "D11", "pagination"),
)
def d137_limit_offset_pagination(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """LIMIT/OFFSET pagination under a deterministic total order (the
    unique o_orderkey tie-break makes page 3 well-defined — OFFSET
    without a total order is nondeterministic on ANY engine). Spark
    plans the whole thing as TakeOrderedAndProject with limit =
    offset + page (60 rows per partition, k-row driver merge, rows
    0-39 discarded at the root) — no global sort, no single-partition
    window; the classic deep-pagination caveat (cost grows with
    offset) is the documented trade versus keyset pagination on the
    order key."""
    o = table(spark, sf_dir, "orders")
    return (o.select("o_orderkey", "o_custkey", "o_totalprice")
            .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
            .offset(40).limit(20))


@register(
    "d141_from_csv_codec",
    oracle="""
WITH packed AS (
    SELECT o_orderkey::VARCHAR || ',' || o_orderpriority || ','
           || CAST(o_totalprice AS VARCHAR) AS line
    FROM orders
), parsed AS (
    SELECT CAST(str_split(line, ',')[1] AS BIGINT) AS k,
           str_split(line, ',')[2] AS pr,
           CAST(str_split(line, ',')[3] AS DOUBLE) AS tp
    FROM packed
)
SELECT pr AS o_orderpriority, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(floor(tp * 100) AS BIGINT)) AS BIGINT) AS price_cents,
       CAST(min(k) AS BIGINT) AS min_key
FROM parsed GROUP BY pr
""",
    tags=("engine", "D17", "codec"),
)
def d141_from_csv_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from_csv row codec — the CSV sibling of d17b's from_json: pack
    three order columns into one delimited string, parse it back with a
    typed schema, and aggregate the PARSED fields. Pins that the
    serialize→parse round trip is lossless for integer keys and that
    double formatting/parsing composes to the identical IEEE value on
    both engines (CAST(double AS STRING) → parse; DuckDB mirrors with
    str_split + casts). The codec runs inside codegen per row — the
    pattern for ingesting Kafka-style delimited payloads without a
    Python boundary."""
    o = table(spark, sf_dir, "orders")
    packed = o.select(
        F.concat_ws(",", F.col("o_orderkey").cast("string"),
                    "o_orderpriority",
                    F.col("o_totalprice").cast("string")).alias("line"))
    parsed = packed.select(F.from_csv(
        "line", "k BIGINT, pr STRING, tp DOUBLE").alias("r"))
    return (parsed.select("r.k", "r.pr", "r.tp")
            .groupBy(F.col("pr").alias("o_orderpriority"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                 F.sum(F.floor(F.col("tp") * 100).cast("bigint"))
                 .cast("bigint").alias("price_cents"),
                 F.min("k").cast("bigint").alias("min_key")))


@register(
    "d143_transpose",
    oracle="""
WITH s AS (
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n
    FROM orders GROUP BY o_orderpriority
)
SELECT 'n' AS key,
       CAST(max(CASE WHEN o_orderpriority = '1-URGENT' THEN n END)
            AS BIGINT) AS "1-URGENT",
       CAST(max(CASE WHEN o_orderpriority = '2-HIGH' THEN n END)
            AS BIGINT) AS "2-HIGH",
       CAST(max(CASE WHEN o_orderpriority = '3-MEDIUM' THEN n END)
            AS BIGINT) AS "3-MEDIUM",
       CAST(max(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN n END)
            AS BIGINT) AS "4-NOT SPECIFIED",
       CAST(max(CASE WHEN o_orderpriority = '5-LOW' THEN n END)
            AS BIGINT) AS "5-LOW"
FROM s
""",
    tags=("engine", "reshape", "spark4"),
)
def d143_transpose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame.transpose (Spark 4.0): rows ↔ columns over a SMALL
    aggregate — the report-formatting tail of a pipeline, never a data
    operator (the transposed frame's width = input row count, so it is
    only defined for aggregate-sized inputs; Spark collects the pivot
    column to name the output columns — driver cost = one small
    column). The oracle is the manual conditional-aggregation pivot
    the API replaces."""
    o = table(spark, sf_dir, "orders")
    agg = (o.groupBy("o_orderpriority")
           .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
           .orderBy("o_orderpriority"))
    return agg.transpose()


@register(
    "d147_xml_roundtrip",
    oracle="""
SELECT o_orderkey, o_orderpriority,
       CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
FROM orders
""",
    tags=("engine", "D17", "xml", "spark4"),
)
def d147_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML codec (Spark 4 `to_xml`/`from_xml` — the D17 family's third
    semi-structured format after JSON d17 and CSV d141): serialize each
    order row to an XML string, parse it back with an explicit schema,
    and return the parsed fields. Inverse-op oracle (the e95 pattern):
    the oracle is the PLAIN projection of the source columns, so any
    asymmetry between the two codecs — escaping, whitespace handling,
    type coercion — breaks the hash; the XML text itself (whose
    formatting is engine-specific) never crosses the comparison.

    100 TB: both codecs are JVM expression codegen (no Python boundary);
    one narrow projection in, one out — scan-bound, no shuffle."""
    o = (table(spark, sf_dir, "orders")
         .select("o_orderkey", "o_orderpriority",
                 F.floor(F.col("o_totalprice") * 100).cast("bigint")
                 .alias("cents")))
    xml = o.select(
        "o_orderkey",
        F.to_xml(F.struct("o_orderpriority", "cents")).alias("x"))
    return (xml.select(
        "o_orderkey",
        F.from_xml("x", "o_orderpriority STRING, cents BIGINT").alias("p"))
        .select("o_orderkey", "p.o_orderpriority", "p.cents"))


@register(
    "d150_pivot_unpivot_roundtrip",
    oracle="""
SELECT o_orderpriority,
       CAST(month(o_orderdate) AS INT) AS month,
       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS revenue_cents
FROM orders
GROUP BY 1, 2
""",
    tags=("engine", "reshape", "pivot", "integration"),
)
def d150_pivot_unpivot_roundtrip(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """RESHAPE round-trip — the monthly revenue matrix pivoted WIDE
    (one column per month, the layout reporting sinks export) and then
    unpivoted back to long form, graded against the plain long-form
    aggregate the chain started from. The hash pins the reshape pair as
    exact inverses: pivot cell routing (a value landing in the wrong
    month column comes back with the wrong key), the generated column
    naming (unpivot re-parses the month from the pivot's column names),
    and NULL discipline (absent (priority, month) combinations become
    NULL cells in the wide form; Spark's DataFrame.unpivot RETAINS
    NULL value rows — unlike SQL UNPIVOT's default — so the explicit
    isNotNull filter below is load-bearing: it must drop exactly the
    absent-combination cells and nothing else).

    100 TB: the pivot runs on the AGGREGATED long form (25 groups × 12
    months here; dimension-bounded generally), with explicit pivot
    values so no discovery pass over the fact table; the only
    corpus-sized work is the long-form partial aggregate. Floor-cents
    BIGINT keeps every cell engine-exact (the d95/q1 convention)."""
    months = list(range(1, 13))
    base = (table(spark, sf_dir, "orders")
            .select("o_orderpriority",
                    F.month("o_orderdate").alias("month"),
                    F.floor(F.col("o_totalprice") * 100).cast("bigint")
                    .alias("cents"))
            .groupBy("o_orderpriority", "month")
            .agg(F.sum("cents").alias("revenue_cents")))
    wide = (base.groupBy("o_orderpriority")
            .pivot("month", months)
            .agg(F.first("revenue_cents")))
    return (wide.unpivot("o_orderpriority",
                         [str(m) for m in months],
                         "month_name", "revenue_cents")
            .filter(F.col("revenue_cents").isNotNull())
            .select("o_orderpriority",
                    F.col("month_name").cast("int").alias("month"),
                    "revenue_cents"))
