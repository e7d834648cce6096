"""SQL-text family: queries whose subject is the SQL language surface —
UNPIVOT, recursive CTEs (engine-scheduled iteration, new in Spark 4),
LATERAL and subqueries, the Spark 4 additions (pipe syntax, GROUP/ORDER BY
ALL, session variables, EXECUTE IMMEDIATE, IDENTIFIER(), parameterized SQL,
SQL scripting, SQL UDFs and table functions, polymorphic UDTFs), the TPC-H
shapes written as SQL text, and one-pass data profiling.

These close out the relational surface a warehouse user expects beyond the
D1–D20 operator families: d33 is the inverse of d23_pivot, d34 exercises
``WITH RECURSIVE`` (bounded-depth, acyclic — Spark 4 recursive CTEs support
UNION ALL only, so cyclic reachability stays on the iterative e21 path),
and d35 is the schema-profiling pass run before ingesting a new source.
"""

from __future__ import annotations

import datetime
import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StructField, StructType

from pyspark_ml_features_spark.registry import register
from pyspark_ml_features_spark.sources import table

_MEASURES = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


@register(
    "d33_unpivot_measures",
    oracle=" UNION ALL ".join(
        f"SELECT l_orderkey, l_linenumber, '{m}' AS measure, "
        f"{m} AS value FROM lineitem" for m in _MEASURES),
    tags=("engine", "unpivot"),
)
def d33_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide→long), the inverse of d23_pivot: the four lineitem
    measures become (measure, value) rows. Spark compiles unpivot to a
    single Expand over one scan — row count grows 4× but the input is read
    once, no shuffle, no join; the standard reshaping step in front of
    generic per-metric aggregation."""
    li = table(spark, sf_dir, "lineitem")
    return (li.select("l_orderkey", "l_linenumber", *_MEASURES)
            .unpivot(["l_orderkey", "l_linenumber"], list(_MEASURES),
                     "measure", "value"))


INSTALLMENT = 25000.0
_RECURSIVE_SQL = """
WITH RECURSIVE pay AS (
    SELECT o_orderkey, 0 AS period, o_totalprice AS remaining
    FROM {orders} WHERE o_totalprice > 400000
    UNION ALL
    SELECT o_orderkey, period + 1, remaining - 25000.0
    FROM pay WHERE remaining > 25000.0
)
SELECT o_orderkey, CAST(period AS BIGINT) AS period, remaining FROM pay
"""


@register(
    "d34_recursive_installments",
    oracle=_RECURSIVE_SQL.format(orders="orders"),
    tags=("engine", "recursive-cte"),
)
def d34_recursive_installments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4): amortize each large order into fixed
    25 000-per-period installments — (order, period, remaining balance)
    until the balance is paid down. The recursion is acyclic with depth
    ≤ ceil(max_price/25 000) ≈ 20, far under the engine's recursion limit;
    each level is one self-join-free projection of the previous level, so
    the work per level is a map over the still-open orders. Subtraction of
    an exactly-representable installment is IEEE-exact, giving a bit-exact
    DuckDB oracle on the same SQL text."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("d34_orders")
    return spark.sql(_RECURSIVE_SQL.format(orders="d34_orders"))


_PROFILE_COLS = ("o_orderkey", "o_custkey", "o_orderstatus",
                 "o_totalprice", "o_orderdate", "o_orderpriority")


@register(
    "d35_profile_orders",
    oracle=" UNION ALL ".join(
        f"SELECT '{c}' AS column_name, count(*) AS n_rows, "
        f"count(*) - count({c}) AS n_nulls, "
        f"count(DISTINCT {c}) AS n_distinct FROM orders"
        for c in _PROFILE_COLS),
    tags=("engine", "profiling"),
)
def d35_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass data profiling: per-column row/null/distinct counts — the
    first query run against any new source. All columns profile in a single
    aggregate (Spark plans one Expand + two-phase aggregate; the table is
    scanned once, unlike the naive per-column loop). Exact distincts
    multiply shuffle volume by the column count, so at 100 TB swap
    count_distinct for approx_count_distinct (d6) — same plan shape."""
    o = table(spark, sf_dir, "orders")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in _PROFILE_COLS:
        aggs.append(F.count(c).alias(f"nn_{c}"))
        aggs.append(F.count_distinct(c).alias(f"nd_{c}"))
    wide = o.agg(*aggs)
    rows = F.array(*[
        F.struct(F.lit(c).alias("column_name"),
                 F.col("n_rows"),
                 (F.col("n_rows") - F.col(f"nn_{c}")).alias("n_nulls"),
                 F.col(f"nd_{c}").alias("n_distinct"))
        for c in _PROFILE_COLS])
    return wide.select(F.explode(rows).alias("s")).select("s.*")


@register(
    "d36_tpch_q3_shipping_priority",
    oracle="""
SELECT l.l_orderkey,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 6) AS revenue,
       o.o_orderdate, o.o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-01-01'
  AND l.l_shipdate > TIMESTAMP '1998-01-01'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, l.l_orderkey ASC
LIMIT 10
""",
    tags=("engine", "tpch", "headline"),
)
def d36_tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (shipping priority): segment-filtered customers ⋈
    orders ⋈ lineitem, revenue per urgent order, top 10. Both date
    predicates push to the parquet scans (each side shrinks before any
    join); at 100 TB customer⋈orders and orders⋈lineitem are key-key
    shuffle joins AQE can re-plan, and the final top-10 is
    TakeOrderedAndProject (per-partition heads, no global sort). Ties are
    total-ordered by (revenue DESC, orderkey ASC) so the LIMIT row-set is
    deterministic."""
    c = table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp"))
    return (c.join(o, c.c_custkey == o.o_custkey)
            .join(li, li.l_orderkey == o.o_orderkey)
            .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
            .agg(F.round(F.sum(F.col("l_extendedprice")
                           * (1 - F.col("l_discount"))), 6).alias("revenue"))
            .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
            .orderBy(F.desc("revenue"), F.asc("l_orderkey")).limit(10))


@register(
    "d37_tpch_q10_returned_items",
    oracle="""
SELECT c.c_custkey, c.c_name,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 6) AS revenue,
       n.n_name
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-04-01'
  AND l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY revenue DESC, c.c_custkey ASC
LIMIT 20
""",
    tags=("engine", "tpch", "headline"),
)
def d37_tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item reporting): quarter-windowed orders ⋈
    returned lineitems ⋈ customer ⋈ nation, top-20 customers by lost
    revenue. The quarter predicate prunes orders at the scan (partition
    pruning when orders is date-partitioned at 100 TB); nation broadcasts
    (25 rows); the return-flag filter pushes into the lineitem scan.
    Deterministic LIMIT via (revenue DESC, custkey ASC)."""
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp")))
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (c.join(o, c.c_custkey == o.o_custkey)
            .join(li, li.l_orderkey == o.o_orderkey)
            .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .groupBy("c_custkey", "c_name", "n_name")
            .agg(F.round(F.sum(F.col("l_extendedprice")
                           * (1 - F.col("l_discount"))), 6).alias("revenue"))
            .select("c_custkey", "c_name", "revenue", "n_name")
            .orderBy(F.desc("revenue"), F.asc("c_custkey")).limit(20))


@register(
    "d43_tpch_q5_local_supplier_volume",
    oracle="""
SELECT n.n_name,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 6) AS revenue
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
               AND c.c_nationkey = s.s_nationkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1997-01-01'
  AND o.o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n.n_name
""",
    tags=("engine", "tpch", "headline"),
)
def d43_tpch_q5_local_supplier_volume(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (local supplier volume): six-table join where the
    customer's and supplier's nations must MATCH — the classic cyclic join
    graph that stresses join ordering. Region (5 rows) and nation (25) are
    FIXED-cardinality → broadcast hints; customer/supplier scale with the
    data, so their strategy is AQE's runtime-size decision (broadcast at
    test SF, shuffle join at warehouse scale). The year predicate pushes
    to the orders scan. The c_nationkey = s_nationkey equi-term rides the
    lineitem join as a post-condition instead of forcing a second fact
    shuffle."""
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = (table(spark, sf_dir, "orders")
         .filter((F.col("o_orderdate")
                  >= F.lit("1997-01-01").cast("timestamp"))
                 & (F.col("o_orderdate")
                    < F.lit("1998-01-01").cast("timestamp")))
         .select("o_orderkey", "o_custkey"))
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey", "n_name")
    r = (table(spark, sf_dir, "region")
         .filter(F.col("r_name") == "ASIA").select("r_regionkey"))
    # broadcast HINTS only on fixed-cardinality dims (region 5, nation
    # 25); customer/supplier scale WITH the data, so their join strategy is
    # AQE's runtime-size call (the e8-vocab lesson: a hint pins driver
    # memory at any scale)
    return (o.join(c, o.o_custkey == c.c_custkey)
            .join(li, li.l_orderkey == o.o_orderkey)
            .join(s,
                  (li.l_suppkey == s.s_suppkey)
                  & (c.c_nationkey == s.s_nationkey))
            .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
            .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
            .groupBy("n_name")
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 6)
                 .alias("revenue")))


@register(
    "d45_tpch_q7_volume_shipping",
    oracle="""
SELECT n1.n_name AS supp_nation,
       n2.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 6) AS revenue
FROM lineitem l
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN orders o   ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
WHERE n1.n_name IN ('NATION_7', 'NATION_17')
  AND n2.n_name IN ('NATION_7', 'NATION_17')
  AND n1.n_name <> n2.n_name
  AND l.l_shipdate >= TIMESTAMP '1995-01-01'
  AND l.l_shipdate <  TIMESTAMP '1997-01-01'
GROUP BY n1.n_name, n2.n_name, CAST(year(l.l_shipdate) AS BIGINT)
""",
    tags=("engine", "tpch", "headline"),
)
def d45_tpch_q7_volume_shipping(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): bilateral trade between two
    nations, grouped by direction and ship year. The classic disjunctive
    pair predicate ((A,B) or (B,A)) is rewritten to the pushdown-friendly
    equivalent ``n1 IN {A,B} AND n2 IN {A,B} AND n1 <> n2`` so each
    nation dimension filters BEFORE its join: supplier and customer
    shrink to two nations' worth before touching the fact. The ship-date
    range pushes to the lineitem scan. Only lineitem⋈orders genuinely
    shuffles; supplier/customer/nation are broadcast."""
    two = ("NATION_7", "NATION_17")
    n1 = (table(spark, sf_dir, "nation")
          .filter(F.col("n_name").isin(*two))
          .select(F.col("n_nationkey").alias("n1_key"),
                  F.col("n_name").alias("supp_nation")))
    n2 = (table(spark, sf_dir, "nation")
          .filter(F.col("n_name").isin(*two))
          .select(F.col("n_nationkey").alias("n2_key"),
                  F.col("n_name").alias("cust_nation")))
    s = (table(spark, sf_dir, "supplier")
         .select("s_suppkey", "s_nationkey")
         .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key")))
    c = (table(spark, sf_dir, "customer")
         .select("c_custkey", "c_nationkey")
         .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key")))
    li = (table(spark, sf_dir, "lineitem")
          .filter((F.col("l_shipdate")
                   >= F.lit("1995-01-01").cast("timestamp"))
                  & (F.col("l_shipdate")
                     < F.lit("1997-01-01").cast("timestamp")))
          .select("l_orderkey", "l_suppkey", "l_shipdate",
                  "l_extendedprice", "l_discount"))
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # supplier/customer scale with SF — no broadcast hints (see d43)
    return (li.join(s, li.l_suppkey == s.s_suppkey)
            .join(o, li.l_orderkey == o.o_orderkey)
            .join(c, o.o_custkey == c.c_custkey)
            .filter(F.col("supp_nation") != F.col("cust_nation"))
            .groupBy("supp_nation", "cust_nation",
                     F.year("l_shipdate").cast("bigint").alias("l_year"))
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 6)
                 .alias("revenue")))


@register(
    "d47_tpch_q18_large_orders",
    oracle="""
WITH big AS (
    SELECT l_orderkey FROM lineitem
    GROUP BY l_orderkey HAVING sum(l_quantity) > 300
)
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
       sum(l.l_quantity) AS total_qty
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderkey IN (SELECT l_orderkey FROM big)
GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
ORDER BY o.o_totalprice DESC, o.o_orderdate ASC, o.o_orderkey ASC
LIMIT 100
""",
    tags=("engine", "tpch", "headline"),
)
def d47_tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customer): orders whose total line
    quantity exceeds 300, joined back to their customer and re-aggregated.

    100 TB shape: the HAVING subquery is one hash aggregate over lineitem
    (map-side partial combine shrinks it to order-cardinality); the
    qualifying set (~0.1% of orders) broadcasts into a semi filter on
    orders AND — via the join-key transitivity lineitem.l_orderkey =
    o_orderkey — Spark's InferFiltersFromConstraints + runtime filters
    prune the second lineitem scan too, so the re-aggregation touches
    only qualifying rows. The final global top-100 is
    TakeOrderedAndProject (per-partition heaps, no global sort). Ties are
    impossible: o_orderkey is unique, making the LIMIT deterministic."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (li.groupBy("l_orderkey")
           .agg(F.sum("l_quantity").alias("__s"))
           .filter(F.col("__s") > 300)
           .select("l_orderkey"))
    o = (table(spark, sf_dir, "orders")
         .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
         .join(F.broadcast(big),
               F.col("o_orderkey") == big.l_orderkey, "left_semi"))
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    # qualifying-order and customer sides scale with SF — strategy is
    # AQE's call (only `big`, the ~0.1% qualifying-key set, keeps a hint)
    return (li.join(o, li.l_orderkey == o.o_orderkey)
            .join(c, F.col("o_custkey") == c.c_custkey)
            .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate",
                     "o_totalprice")
            .agg(F.sum("l_quantity").alias("total_qty"))
            .orderBy(F.col("o_totalprice").desc(), F.col("o_orderdate").asc(),
                     F.col("o_orderkey").asc())
            .limit(100))


@register(
    "d48_tpch_q21_waiting_supplier",
    oracle="""
SELECT s.s_name, count(*) AS numwait
FROM lineitem l1
JOIN orders o ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
JOIN supplier s ON s.s_suppkey = l1.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE n.n_name = 'NATION_7'
  AND l1.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
GROUP BY s.s_name
ORDER BY numwait DESC, s_name ASC
LIMIT 100
""",
    tags=("engine", "tpch", "headline"),
)
def d48_tpch_q21_waiting_supplier(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): late line on a
    finished multi-supplier order where NO other supplier was also late.
    Lateness is adapted to this schema (no l_receiptdate/l_commitdate) as
    l_shipdate > o_orderdate + 90 days; the EXISTS / NOT EXISTS structure
    is the classic one, and the oracle states it in exactly that
    correlated-subquery form.

    100 TB shape: instead of the textbook pair of lineitem self-joins
    (three orderkey shuffles of the biggest table), the two correlated
    subqueries collapse into ONE per-order aggregate — count(distinct
    supplier) and count(distinct late supplier) — reusing the orderkey
    partitioning of the main join: EXISTS other-supplier == n_supp > 1,
    NOT EXISTS other-late == n_late_supp = 1 (the probe row itself is
    late). Supplier and nation broadcast; the final top-100 is
    TakeOrderedAndProject with s_name as a total tie-break."""
    o = (table(spark, sf_dir, "orders")
         .filter(F.col("o_orderstatus") == "F")
         .select("o_orderkey", "o_orderdate"))
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate")
    l = (li.join(o, li.l_orderkey == o.o_orderkey)
         .withColumn("late", F.col("l_shipdate")
                     > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")))
    per_order = l.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("late"), F.col("l_suppkey")))
         .alias("n_late_supp"))
    s = (table(spark, sf_dir, "supplier")
         .select("s_suppkey", "s_name", "s_nationkey"))
    n = (table(spark, sf_dir, "nation")
         .filter(F.col("n_name") == "NATION_7").select("n_nationkey"))
    sn = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
    return (l.filter(F.col("late"))
            .join(per_order, "l_orderkey")
            .filter((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1))
            .join(F.broadcast(sn), F.col("l_suppkey") == sn.s_suppkey)
            .groupBy("s_name")
            .agg(F.count(F.lit(1)).alias("numwait"))
            .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
            .limit(100))


@register(
    "d51_percentiles_exact",
    oracle="""
SELECT l_returnflag,
       quantile_cont(l_extendedprice, 0.25) AS p25,
       quantile_cont(l_extendedprice, 0.50) AS p50,
       quantile_cont(l_extendedprice, 0.75) AS p75,
       quantile_cont(l_extendedprice, 0.99) AS p99,
       median(l_extendedprice) AS med
FROM lineitem
GROUP BY l_returnflag
""",
    tags=("engine", "stats", "percentile"),
)
def d51_percentiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group — Spark's percentile() and
    DuckDB's quantile_cont use the same linear-interpolation convention and
    bit-match on doubles (probed before trusting this oracle; memory:
    parity rules). Exact percentiles buffer each group's values — fine per
    bounded group; for whole-table quantiles at 100 TB use the banded
    selection in operators/scaling.py (b6) or approx_percentile (b6b)."""
    li = table(spark, sf_dir, "lineitem")
    p = F.expr("percentile(l_extendedprice, array(0.25, 0.5, 0.75, 0.99))")
    return (li.groupBy("l_returnflag")
            .agg(p.alias("p"),
                 F.median("l_extendedprice").alias("med"))
            .select("l_returnflag",
                    F.element_at("p", 1).alias("p25"),
                    F.element_at("p", 2).alias("p50"),
                    F.element_at("p", 3).alias("p75"),
                    F.element_at("p", 4).alias("p99"),
                    "med"))


@register(
    "d52_width_bucket_histogram",
    oracle="""
SELECT CASE WHEN l_extendedprice < 900.0 THEN 0
            WHEN l_extendedprice >= 105000.0 THEN 21
            ELSE CAST(floor((l_extendedprice - 900.0)
                            / (105000.0 - 900.0) * 20) AS BIGINT) + 1
       END AS bucket,
       count(*) AS n,
       min(l_extendedprice) AS lo,
       max(l_extendedprice) AS hi
FROM lineitem
GROUP BY 1
""",
    tags=("engine", "stats", "histogram"),
)
def d52_width_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram — the one-pass distributed histogram (groupBy
    on the bucket id, map-side combine), SQL-standard width_bucket
    semantics (bucket 0 below lo, n+1 above hi). The bucket id is an
    EXPLICIT shared formula rather than each engine's width_bucket builtin:
    DuckDB lacks the function and Spark's builtin associates the division
    differently ((x-lo)/((hi-lo)/n)), which can flip a boundary value's
    bucket by one ulp — the mirrored expression is ulp-identical by
    construction. min/max per bucket double-check boundary handling."""
    li = table(spark, sf_dir, "lineitem")
    x = F.col("l_extendedprice")
    b = (F.when(x < 900.0, 0)
         .when(x >= 105000.0, 21)
         .otherwise(F.floor((x - 900.0) / (105000.0 - 900.0) * 20)
                    .cast("bigint") + 1))
    return (li.groupBy(b.alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min(x).alias("lo"),
                 F.max(x).alias("hi")))


@register(
    "d53_tpch_q4",
    oracle="""
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= DATE '1995-01-01'
  AND o_orderdate < DATE '1995-04-01'
  AND EXISTS (
      SELECT 1 FROM lineitem
      WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
""",
    tags=("engine", "tpch", "subquery"),
)
def d53_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (order priority checking): correlated EXISTS — Catalyst
    rewrites it to a LEFT SEMI join on l_orderkey with the correlated
    l_shipdate > o_orderdate predicate as the join condition, so lineitem
    is never aggregated, only probed. The date filter prunes orders before
    the join (PushedFilters); at 100 TB the semi join shuffles only the
    3-month order slice."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    o2 = o.filter((F.col("o_orderdate") >= F.lit("1995-01-01").cast("date"))
                  & (F.col("o_orderdate") < F.lit("1995-04-01").cast("date")))
    joined = o2.join(
        li, (o2["o_orderkey"] == li["l_orderkey"])
        & (li["l_shipdate"] > o2["o_orderdate"]), "left_semi")
    return (joined.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("order_count")))


@register(
    "d54_tpch_q6",
    oracle="""
SELECT CAST(sum(CAST(round(l_extendedprice * l_discount * 10000)
                AS BIGINT)) AS BIGINT) AS revenue_e4
FROM lineitem
WHERE l_shipdate >= DATE '1995-01-01'
  AND l_shipdate < DATE '1996-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
    tags=("engine", "tpch"),
)
def d54_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): pure filter+aggregate — every
    predicate reaches the parquet scan (PushedFilters) and the single
    partial-aggregated sum is the whole query. Revenue accumulates as exact
    integer 1e-4 units (price×discount has 4 decimal places), keeping the
    oracle order-independent."""
    li = table(spark, sf_dir, "lineitem")
    f = li.filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1996-01-01").cast("date"))
        & (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24))
    rev = F.round(F.col("l_extendedprice") * F.col("l_discount") * 10000)
    return f.agg(F.sum(rev.cast("bigint")).alias("revenue_e4"))


@register(
    "d31b_regression_exact",
    oracle="""
WITH c AS (
    SELECT l_returnflag,
           CAST(round(l_quantity * 100) AS BIGINT) AS xq,
           CAST(round(l_extendedprice * 100) AS BIGINT) AS xp
    FROM lineitem
), s AS (
    SELECT l_returnflag,
           count(*) AS n,
           sum(CAST(xq AS DECIMAL(18,0))) AS sx,
           sum(CAST(xp AS DECIMAL(18,0))) AS sy,
           sum(CAST(xq AS DECIMAL(18,0)) * xq) AS sxx,
           sum(CAST(xq AS DECIMAL(18,0)) * xp) AS sxy
    FROM c GROUP BY l_returnflag
)
SELECT l_returnflag,
       CAST(n AS BIGINT) AS n,
       round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)),
             6) AS slope,
       round((CAST(sy AS DOUBLE)
              - (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * CAST(sx AS DOUBLE))
             / n / 100, 6) AS intercept
FROM s
""",
    tags=("engine", "stats", "regression"),
)
def d31b_regression_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d31's hash-exact twin: per-group closed-form OLS
    (extendedprice ~ quantity) from EXACT decimal power sums — the same
    distributed-regression math as the applyInPandas version, but as one
    map-side-combinable hash aggregate (no Python workers, no per-group
    pandas materialization) and engine-exact like d30b: integer-cent
    inputs, DECIMAL Σx/Σy/Σxx/Σxy (order-independent), closed form in IEEE
    double from identical inputs. Slope is scale-invariant in cents;
    intercept converts back to dollars. At 100 TB this fits millions of
    segment models in one shuffle — the applyInPandas path (d31) exists
    for models WITHOUT closed forms."""
    li = table(spark, sf_dir, "lineitem")
    xq = F.round(F.col("l_quantity") * 100).cast("bigint")
    xp = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    c = li.select("l_returnflag", xq.alias("xq"), xp.alias("xp"))
    dec = lambda col: F.col(col).cast("decimal(18,0)")  # noqa: E731
    s = c.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("xq")).alias("sx"),
        F.sum(dec("xp")).alias("sy"),
        F.sum(dec("xq") * F.col("xq")).alias("sxx"),
        F.sum(dec("xq") * F.col("xp")).alias("sxy"))
    n = F.col("n")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, sxy = F.col("sxx").cast("double"), F.col("sxy").cast("double")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return s.select(
        "l_returnflag",
        n.cast("bigint").alias("n"),
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n / 100, 6).alias("intercept"))


@register(
    "d55_tpch_q19",
    oracle="""
SELECT CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                AS BIGINT)) AS BIGINT) AS revenue_cents,
       count(*) AS n_lines
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
       AND l_quantity >= 1 AND l_quantity <= 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
       AND l_quantity >= 10 AND l_quantity <= 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
       AND l_quantity >= 20 AND l_quantity <= 30)
""",
    tags=("engine", "tpch"),
)
def d55_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue, disjunctive predicates): an
    OR-of-ANDs condition spanning BOTH join sides. The per-side conjuncts
    Catalyst can derive (p_brand IN (...), l_quantity ranges) push below
    the join as scan filters; the cross-side residual evaluates post-join.
    At 100 TB this is the canonical test that disjunctions don't force a
    full-table join — the brand/size filter shrinks part to a broadcastable
    side. Revenue sums as exact integer cents."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    j = li.join(p, p["p_partkey"] == li["l_partkey"])
    q = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 15)
         & (q >= 1) & (q <= 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 25)
           & (q >= 10) & (q <= 20))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 35)
           & (q >= 20) & (q <= 30)))
    rev = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
    return j.filter(cond).agg(
        F.sum(rev.cast("bigint")).alias("revenue_cents"),
        F.count(F.lit(1)).alias("n_lines"))


@register(
    "d56_tpch_q22",
    oracle="""
WITH avg_bal AS (
    SELECT avg(c_acctbal) AS ab FROM customer
    WHERE c_acctbal > 0.0 AND c_nationkey IN (1, 5, 9, 13, 17)
)
SELECT c_nationkey,
       count(*) AS numcust,
       CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
           AS totacctbal_cents
FROM customer, avg_bal
WHERE c_nationkey IN (1, 5, 9, 13, 17)
  AND c_acctbal > ab
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_nationkey
""",
    tags=("engine", "tpch", "anti-join"),
)
def d56_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity): scalar-average subquery
    (broadcast single row) + NOT EXISTS anti join against orders — wealthy
    customers in target nations who never ordered. The anti join probes on
    o_custkey only (column-pruned scan); the average broadcasts; balances
    aggregate as exact integer cents. Nation-key membership stands in for
    the spec's phone-prefix predicate (fixture has no phone column)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    nations = [1, 5, 9, 13, 17]
    sel = c.filter(F.col("c_nationkey").isin(nations))
    avg_bal = (sel.filter(F.col("c_acctbal") > 0.0)
               .agg(F.avg("c_acctbal").alias("ab")))
    return (sel.crossJoin(F.broadcast(avg_bal))
            .filter(F.col("c_acctbal") > F.col("ab"))
            .join(o, sel["c_custkey"] == o["o_custkey"], "left_anti")
            .groupBy("c_nationkey")
            .agg(F.count(F.lit(1)).alias("numcust"),
                 F.sum(F.round(F.col("c_acctbal") * 100).cast("bigint"))
                  .alias("totacctbal_cents")))


@register(
    "d57_tpch_q14",
    oracle="""
SELECT round(
    100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
                 THEN CAST(round(l_extendedprice * (1 - l_discount) * 100)
                      AS BIGINT) ELSE 0 END) AS DOUBLE)
    / CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
               AS BIGINT)) AS DOUBLE), 6) AS promo_revenue_pct
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE l_shipdate >= TIMESTAMP '1995-09-01'
  AND l_shipdate < TIMESTAMP '1995-10-01'
""",
    tags=("engine", "tpch"),
)
def d57_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (promotion effect): month-sliced lineitem ⋈ part,
    conditional revenue share. Both revenue sums accumulate as exact
    integer cents (order-independent), the final ratio is one double
    division from identical inputs — bit-exact across engines. The month
    predicate pushes to the lineitem scan; part broadcasts."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1995-10-01").cast("timestamp")))
    p = table(spark, sf_dir, "part")
    j = li.join(p, p["p_partkey"] == li["l_partkey"])
    rev = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100) \
        .cast("bigint")
    promo = F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0)))
    total = F.sum(rev)
    return j.agg(F.round(
        100.0 * promo.cast("double") / total.cast("double"), 6)
        .alias("promo_revenue_pct"))


@register(
    "d58_market_share",
    oracle="""
SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
       round(
           CAST(sum(CASE WHEN n_name = 'NATION_3'
                    THEN CAST(round(l_extendedprice * (1 - l_discount) * 100)
                         AS BIGINT) ELSE 0 END) AS DOUBLE)
           / CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                      AS BIGINT)) AS DOUBLE), 6) AS mkt_share
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY 1
""",
    tags=("engine", "tpch", "share"),
)
def d58_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): one nation's share of
    yearly revenue — conditional-sum / total-sum per year over the
    customer⋈orders⋈lineitem⋈nation chain. Both sums accumulate as exact
    integer cents in ONE aggregate pass (no second join or self-union for
    the denominator); nation broadcasts. The final per-year division is
    one double op from identical inputs — bit-exact."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    j = (li.join(o, li["l_orderkey"] == o["o_orderkey"])
         .join(c, o["o_custkey"] == c["c_custkey"])
         .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"]))
    rev = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100) \
        .cast("bigint")
    nat = F.sum(F.when(F.col("n_name") == "NATION_3", rev).otherwise(F.lit(0)))
    tot = F.sum(rev)
    return (j.groupBy(F.year("o_orderdate").cast("bigint").alias("o_year"))
            .agg(F.round(nat.cast("double") / tot.cast("double"), 6)
                 .alias("mkt_share")))


@register(
    "d61_tpch_q13",
    oracle="""
SELECT c_count, count(*) AS custdist
FROM (SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey) c_orders
GROUP BY c_count
""",
    tags=("engine", "tpch", "outer-join"),
)
def d61_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer order-count distribution): LEFT OUTER
    join with a predicate INSIDE the join condition — customers whose only
    orders are urgent must still appear with c_count = 0, so the filter
    cannot be pushed below the join as a WHERE (that would drop them).
    count(o_orderkey) counts only matched rows (COUNT ignores the NULLs an
    outer join manufactures), then a second aggregation folds customers
    into a distribution. Both aggregates are exact integers.

    100 TB shape: one shuffle for the outer join (both sides scale — no
    broadcast; AQE picks the strategy), one map-side-combinable count per
    customer, then a tiny distribution aggregate (|distinct counts| rows).
    The reference filter is o_comment NOT LIKE in spec Q13; the priority
    predicate keeps the identical plan shape on this schema."""
    c = table(spark, sf_dir, "customer").select("c_custkey")
    o = (table(spark, sf_dir, "orders")
         .select("o_orderkey", "o_custkey", "o_orderpriority"))
    j = c.join(o, (c["c_custkey"] == o["o_custkey"])
               & (o["o_orderpriority"] != "1-URGENT"), "left_outer")
    per_cust = (j.groupBy("c_custkey")
                .agg(F.count("o_orderkey").alias("c_count")))
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "d62_tpch_q15",
    oracle="""
WITH revenue AS (
    SELECT l_suppkey AS supplier_no,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                    AS BIGINT)) AS BIGINT) AS total_revenue_cents
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1996-04-01'
    GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_revenue_cents
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue_cents = (SELECT max(total_revenue_cents) FROM revenue)
""",
    tags=("engine", "tpch", "scalar-subquery"),
)
def d62_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): quarterly revenue per supplier,
    keep the supplier(s) hitting the global maximum. The scalar subquery
    decorrelates to a 1-row max aggregate broadcast back onto the revenue
    relation — NOT a global-sort or single-partition window, which would
    funnel every supplier through one task at scale. Revenue accumulates
    as exact integer cents so the max comparison (and the hash) is exact.

    100 TB shape: the quarter predicate pushes to the lineitem scan, the
    per-supplier aggregate is map-side combinable, the revenue relation is
    |suppliers| rows, and the only extra exchange for the max is a 1-row
    broadcast. Ties surface every argmax supplier (same as spec Q15)."""
    li = (table(spark, sf_dir, "lineitem")
          .filter((F.col("l_shipdate")
                   >= F.lit("1996-01-01").cast("timestamp"))
                  & (F.col("l_shipdate")
                     < F.lit("1996-04-01").cast("timestamp")))
          .select("l_suppkey", "l_extendedprice", "l_discount"))
    cents = F.round(F.col("l_extendedprice")
                    * (1 - F.col("l_discount")) * 100).cast("bigint")
    rev = (li.groupBy(F.col("l_suppkey").alias("supplier_no"))
           .agg(F.sum(cents).alias("total_revenue_cents")))
    mx = rev.agg(F.max("total_revenue_cents").alias("mx"))
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (rev.join(F.broadcast(mx),
                     rev["total_revenue_cents"] == mx["mx"])
            .join(s, rev["supplier_no"] == s["s_suppkey"])
            .select("s_suppkey", "s_name", "total_revenue_cents"))


@register(
    "d63_tpch_q17",
    oracle="""
SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS small_qty_revenue_cents,
       count(*) AS n_lines
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_size <= 10
  AND l_quantity < (SELECT 0.2 * (sum(l2.l_quantity) / count(*))
                    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
""",
    tags=("engine", "tpch", "correlated-subquery"),
)
def d63_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): revenue from line
    items whose quantity is below 20% of the PER-PART average — a
    correlated scalar subquery over the same fact table. Decorrelated the
    way Catalyst (and every warehouse) does: pre-aggregate avg quantity
    per partkey once, join it back, filter. l_quantity is integer-valued,
    so sum/count (and hence the average and the 0.2× threshold) are exact
    and order-independent in both engines; revenue hashes as exact cents.

    100 TB shape: the per-part aggregate is one map-side-combinable pass
    over lineitem (partkey cardinality ≪ fact rows), the back-join is on
    the same key as the part join so one shuffle serves both, and the
    p_size predicate prunes the part side before the join. The spec's
    avg(l_quantity) is written as sum/count in BOTH engines: DuckDB's
    avg() uses a different summation path, and the explicit quotient of
    two exact values is the bit-reproducible form."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice")
    per_part = (li.groupBy("l_partkey")
                .agg((F.sum("l_quantity") / F.count(F.lit(1)))
                     .alias("avg_qty"))
                .withColumnRenamed("l_partkey", "pp_partkey"))
    p = (table(spark, sf_dir, "part")
         .filter(F.col("p_size") <= 10).select("p_partkey"))
    j = (li.join(p, li["l_partkey"] == p["p_partkey"])
         .join(per_part, li["l_partkey"] == F.col("pp_partkey")))
    small = j.filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
    return small.agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
         .alias("small_qty_revenue_cents"),
        F.count(F.lit(1)).alias("n_lines"))


@register(
    "d64_tpch_q9",
    oracle="""
SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                AS BIGINT)) AS BIGINT) AS sum_profit_cents
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN orders ON o_orderkey = l_orderkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%r%'
GROUP BY 1, 2
""",
    tags=("engine", "tpch", "star-join"),
)
def d64_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit by nation and year): the widest
    star join in the suite — lineitem at the center, part / supplier /
    orders / nation radiating off three different fact keys, grouped by
    supplier nation × order year. The spec's profit subtracts
    ps_supplycost; this schema has no partsupp table, so profit is the
    discounted revenue term — the join graph and aggregation shape (what
    Q9 exists to stress) are identical. Exact integer cents.

    100 TB shape: the p_name LIKE predicate prunes the part side BEFORE
    its join (Catalyst pushes it to the scan), nation (25 rows, fixed)
    broadcasts, and part/supplier/orders scale with the data so their
    strategies are AQE's runtime-size decisions. Grouping output is
    |nations| × |years| — tiny; all three fact-side joins shuffle on
    different keys, which is inherent to Q9 and why it is the classic
    join-ordering benchmark."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_extendedprice", "l_discount")
    p = (table(spark, sf_dir, "part")
         .filter(F.col("p_name").like("%r%")).select("p_partkey"))
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cents = F.round(F.col("l_extendedprice")
                    * (1 - F.col("l_discount")) * 100).cast("bigint")
    return (li.join(p, li["l_partkey"] == p["p_partkey"])
            .join(s, li["l_suppkey"] == s["s_suppkey"])
            .join(o, li["l_orderkey"] == o["o_orderkey"])
            .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
            .groupBy(F.col("n_name").alias("nation"),
                     # BIGINT on both sides (d36/d44 precedent): Spark's
                     # year() is INT while DuckDB's is BIGINT, and relying
                     # on repr-level scalar formatting to hash equal is
                     # fragile (ADVICE r3) — align the dtype kinds instead
                     F.year("o_orderdate").cast("bigint").alias("o_year"))
            .agg(F.sum(cents).alias("sum_profit_cents")))


@register(
    "d65_lateral_topk",
    oracle="""
SELECT c_custkey, t.o_orderkey, t.o_totalprice
FROM customer,
LATERAL (SELECT o_orderkey, o_totalprice FROM orders
         WHERE o_custkey = c_custkey
         ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2) t
""",
    tags=("engine", "lateral", "topk"),
)
def d65_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with LIMIT (Spark 4 SQL): each
    customer's top-2 orders by price, written the way an analyst writes
    it. Catalyst DECORRELATES the lateral into a per-key window/limit —
    the same physical shape as d10's explicit rank-filter — so the
    declarative form costs nothing over the hand-written one (inner
    customers, i.e. those with no orders, are dropped by both engines;
    the (price, orderkey) tie-break makes the top-2 deterministic).

    100 TB shape: after decorrelation this is one shuffle on the
    correlation key with a bounded per-group sort — never a per-customer
    re-scan of orders, which is what the naive reading of LATERAL
    implies and why engines must rewrite it."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    c.createOrReplaceTempView("pmfs_lat_customer")
    o.createOrReplaceTempView("pmfs_lat_orders")
    return spark.sql("""
        SELECT c_custkey, t.o_orderkey, t.o_totalprice
        FROM pmfs_lat_customer,
        LATERAL (SELECT o_orderkey, o_totalprice FROM pmfs_lat_orders
                 WHERE o_custkey = c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2) t
    """)


@register(
    "d66_scd2_history",
    oracle="""
WITH seg AS (
    SELECT user_id, event_type, ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) AS valid_to,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS version
    FROM events)
SELECT user_id, event_type, valid_from, valid_to, version,
       CAST(valid_to IS NULL AS INT) AS is_current
FROM seg
""",
    tags=("engine", "scd2", "D9"),
)
def d66_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension TYPE 2 history build: a change log
    (events as attribute changes per user) becomes versioned rows with
    [valid_from, valid_to) intervals — valid_to is the NEXT change's
    timestamp, NULL marks the current row. One window (lead +
    row_number share the same partition/order spec, so Spark plans a
    single Window node and one shuffle+sort) — the standard warehouse
    pattern for point-in-time joins and the batch twin of streaming
    upserts. All columns are exact (timestamps, integers).

    100 TB shape: one shuffle on user_id; with the events table bucketed
    and sorted by (user_id, ts) the sort collapses into a merge of
    pre-sorted runs. No self-join against history — the lead() form is
    O(n) where the naive "next change per row" subquery is O(n²)."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "user_id", "event_type",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.row_number().over(w).alias("version")).withColumn(
        "is_current", F.col("valid_to").isNull().cast("int"))


@register(
    "d121_sql_pipe_syntax",
    oracle="""
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS sum_cents,
       CAST(max(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS max_cents
FROM orders
WHERE o_orderstatus <> 'F'
GROUP BY o_orderpriority
HAVING count(*) > 10
""",
    tags=("engine", "sql", "spark4"),
)
def d121_sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL PIPE SYNTAX (Spark 4.0's `|>` operator chaining, from the
    SQL:202x pipe-syntax proposal / Google's FROM-first dialect): the
    same revenue rollup as a linear FROM → WHERE → EXTEND → AGGREGATE →
    WHERE pipeline instead of the inside-out SELECT nesting. The parser
    lowers pipes to exactly the classic plan — parity against the plain
    ANSI oracle proves the lowering, and `.explain` shows the identical
    pushed-filter aggregate as the SELECT form.

    Money is floor-round cents per the parity conventions (round() then
    BIGINT on both engines). Post-aggregation filtering uses a piped
    WHERE (pipe syntax has no separate HAVING — a WHERE after AGGREGATE
    IS having).

    100 TB: surface syntax only — same scan, same pushed filter, same
    partial-then-final hash aggregate as the classic form."""
    import os

    view = f"orders_pipe_{os.getpid()}"
    table(spark, sf_dir, "orders").createOrReplaceTempView(view)
    return spark.sql(f"""
        FROM {view}
        |> WHERE o_orderstatus <> 'F'
        |> EXTEND CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |> AGGREGATE count(*) AS n_orders,
                     sum(cents) AS sum_cents,
                     max(cents) AS max_cents
           GROUP BY o_orderpriority
        |> WHERE n_orders > 10
        |> SELECT o_orderpriority, n_orders,
                  CAST(sum_cents AS BIGINT) AS sum_cents, max_cents
        """)


_D25_SQL = """
SELECT c.c_custkey, c.c_name, c.c_acctbal
FROM customer c
WHERE c.c_acctbal > (SELECT avg(c_acctbal) FROM customer)
  AND c.c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 0)
"""


@register(
    "d25_sql_subqueries",
    oracle=_D25_SQL,
    tags=("engine", "sql", "subquery"),
)
def d25_sql_subqueries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar + IN subqueries through the spark.sql text entry point
    (identical text runs on both engines). Catalyst rewrites the IN to a
    semi join and the scalar to a broadcast single-row aggregate."""
    table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    table(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    return spark.sql(_D25_SQL)


@register(
    "d68_grouped_topk_lateral",
    oracle="""
SELECT s.c_mktsegment, t.c_custkey, t.c_acctbal
FROM (SELECT DISTINCT c_mktsegment FROM customer) s,
LATERAL (SELECT c_custkey, c_acctbal FROM customer
         WHERE c_mktsegment = s.c_mktsegment
         ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 3) t
""",
    tags=("engine", "lateral", "topk"),
)
def d68_grouped_topk_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped top-k via correlated LATERAL over the GROUP DOMAIN (VERDICT
    r3 task 3's 'grouped top-k over the d65 lateral shape'): distinct
    segments on the outer side, each segment's top-3 customers by balance
    in the lateral — the declarative twin of d10's window rank-filter.
    (acctbal, custkey) ordering makes the top-3 deterministic under ties.

    100 TB: Catalyst decorrelates to one shuffle on the correlation key
    with a bounded per-group sort (WindowGroupLimit), exactly d65 —
    never a per-segment rescan."""
    c = table(spark, sf_dir, "customer")
    c.createOrReplaceTempView("pmfs_d68_customer")
    return spark.sql("""
        SELECT s.c_mktsegment, t.c_custkey, t.c_acctbal
        FROM (SELECT DISTINCT c_mktsegment FROM pmfs_d68_customer) s,
        LATERAL (SELECT c_custkey, c_acctbal FROM pmfs_d68_customer
                 WHERE c_mktsegment = s.c_mktsegment
                 ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 3) t
    """)


@register(
    "d80_group_by_all",
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       CAST(year(o_orderdate) AS BIGINT) AS o_year,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS sum_price_cents
FROM orders
GROUP BY ALL
""",
    tags=("engine", "sql", "group-by-all"),
)
def d80_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL (Spark 4 / modern-SQL sugar): every non-aggregate
    SELECT item becomes a grouping key — the analyst shorthand both
    engines resolve identically at bind time, so the plan is exactly the
    explicit three-key hash aggregate (zero runtime cost; this row pins
    the RESOLUTION semantics)."""
    o = table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("pmfs_d80_orders")
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority,
               CAST(year(o_orderdate) AS BIGINT) AS o_year,
               count(*) AS n_orders,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS sum_price_cents
        FROM pmfs_d80_orders
        GROUP BY ALL
    """)


@register(
    "d110_parameterized_sql",
    oracle="""
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS sum_cents
FROM orders
WHERE o_orderdate >= DATE '1994-01-01'
  AND o_orderdate < DATE '1996-01-01'
  AND o_orderstatus = 'F'
GROUP BY o_orderpriority
""",
    tags=("engine", "sql", "parameterized"),
)
def d110_parameterized_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARAMETERIZED SQL with named markers and an IDENTIFIER() table
    parameter (Spark 3.4/4 surface): the query text carries ``:start`` /
    ``:end`` / ``:status`` value parameters and ``IDENTIFIER(:tbl)`` for
    the relation — the injection-safe templating API that replaces
    f-string SQL assembly in production jobs (values are bound as
    literals by the parser, identifiers validated as names, never
    spliced as text). The oracle is the same query with the parameters
    inlined, so parity proves binding ≡ inlining. Money aggregates as
    floor-cents BIGINT per the parity conventions.

    100 TB: parameter binding is parse-time — the bound plan is
    IDENTICAL to the inlined one (same pushed filters, same partition
    pruning), so templated job fleets get full Catalyst optimization;
    this query's filters land in the parquet scan like any literal."""
    view = f"orders_param_{os.getpid()}"
    table(spark, sf_dir, "orders").createOrReplaceTempView(view)
    return spark.sql(
        """
        SELECT o_orderpriority,
               count(*) AS n_orders,
               sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS sum_cents
        FROM IDENTIFIER(:tbl)
        WHERE o_orderdate >= :start
          AND o_orderdate < :end
          AND o_orderstatus = :status
        GROUP BY o_orderpriority
        """,
        args={"tbl": view,
              "start": datetime.date(1994, 1, 1),
              "end": datetime.date(1996, 1, 1),
              "status": "F"})


@register(
    "d113_sql_udf",
    oracle="""
SELECT CAST(yr AS BIGINT) AS yr,
       CAST(count(o_orderkey) AS BIGINT) AS n_orders,
       CAST(coalesce(sum(CAST(floor(o_totalprice * 100) AS BIGINT)), 0)
            AS BIGINT) AS sum_cents
FROM (SELECT unnest(range(1992, 1999)) AS yr) spine
LEFT JOIN orders ON CAST(year(o_orderdate) AS BIGINT) = CAST(yr AS BIGINT)
GROUP BY yr
""",
    tags=("engine", "D20", "sql-udf", "function-spectrum"),
)
def d113_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-language UDFs (Spark 4 ``CREATE FUNCTION ... RETURN``) — the
    DECLARATIVE slot of the D20 function spectrum: a scalar SQL UDF
    (floor-cents) used inside the aggregate and a table-valued SQL UDF
    (year spine) used in the FROM clause, joined LEFT so empty years
    survive with zero counts. Unlike every Python-boundary sibling (d20
    pandas UDF, d22 row UDF, d23 UDTF, d83 UDAF, d109 table-arg UDTF),
    Catalyst INLINES the SQL function body into the plan — the physical
    plan contains no BatchEvalPython/ArrowEvalPython node, the inlined
    expression participates in whole-stage codegen, and filters through
    it can still push down (test_plans pins the zero-Python-boundary
    claim). The oracle inlines the same bodies by hand, proving the
    function-call indirection changes nothing.

    100 TB: this is the UDF form to prefer whenever the logic is
    expressible — zero serialization boundary, optimizer-transparent,
    and shareable via the catalog instead of shipped Python pickles."""
    o = table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("pmfs_d113_orders")
    spark.sql("""
        CREATE OR REPLACE TEMPORARY FUNCTION pmfs_floor_cents(x DOUBLE)
        RETURNS BIGINT RETURN CAST(floor(x * 100) AS BIGINT)""")
    spark.sql("""
        CREATE OR REPLACE TEMPORARY FUNCTION pmfs_year_spine(a INT, b INT)
        RETURNS TABLE(yr INT) RETURN SELECT explode(sequence(a, b))""")
    return spark.sql("""
        SELECT CAST(yr AS BIGINT) AS yr,
               count(o_orderkey) AS n_orders,
               coalesce(sum(pmfs_floor_cents(o_totalprice)), 0) AS sum_cents
        FROM pmfs_year_spine(1992, 1998)
        LEFT JOIN pmfs_d113_orders
          ON CAST(year(o_orderdate) AS BIGINT) = CAST(yr AS BIGINT)
        GROUP BY yr""")


@register(
    "d127_pipe_syntax_join_window",
    oracle="""
WITH a AS (
    SELECT c_mktsegment, o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment, o_orderpriority
)
SELECT c_mktsegment, o_orderpriority, n_orders, sum_cents,
       CAST(rank() OVER (PARTITION BY c_mktsegment
                         ORDER BY n_orders DESC, o_orderpriority)
            AS BIGINT) AS rnk
FROM a
""",
    tags=("engine", "sql", "spark4", "window"),
)
def d127_pipe_syntax_join_window(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """SQL PIPE SYNTAX with a JOIN and a post-aggregate WINDOW — d121
    proved the linear FROM→WHERE→AGGREGATE lowering; this extends the
    surface to the two clauses production pipelines actually chain:
    `|> JOIN` (lowered to the same equi-join as the classic form) and a
    window function in a piped SELECT (rank of each order priority
    within its market segment). Tie-break on the priority string keeps
    rank deterministic.

    100 TB: surface syntax only — identical broadcast-able equi-join +
    partial/final aggregate + segment-partitioned window as the ANSI
    form (the oracle)."""
    import os

    pid = os.getpid()
    table(spark, sf_dir, "orders").createOrReplaceTempView(f"ord_p7_{pid}")
    table(spark, sf_dir, "customer").createOrReplaceTempView(f"cus_p7_{pid}")
    return spark.sql(f"""
        FROM ord_p7_{pid}
        |> JOIN cus_p7_{pid} ON o_custkey = c_custkey
        |> EXTEND CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |> AGGREGATE count(*) AS n_orders, sum(cents) AS sum_cents
           GROUP BY c_mktsegment, o_orderpriority
        |> SELECT c_mktsegment, o_orderpriority,
                  CAST(n_orders AS BIGINT) AS n_orders,
                  CAST(sum_cents AS BIGINT) AS sum_cents,
                  CAST(rank() OVER (PARTITION BY c_mktsegment
                                    ORDER BY n_orders DESC,
                                             o_orderpriority)
                       AS BIGINT) AS rnk
        """)


@register(
    "d129_lateral_column_alias",
    oracle="""
WITH c AS (
    SELECT o_orderkey, o_orderpriority,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders WHERE o_orderstatus = 'O'
)
SELECT o_orderkey, o_orderpriority, cents,
       cents * 3 AS triple_cents,
       cents * 3 + cents AS quad_cents,
       (cents * 3 + cents) % 97 AS quad_mod97
FROM c
""",
    tags=("engine", "sql", "spark4", "lateral-alias"),
)
def d129_lateral_column_alias(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """LATERAL COLUMN ALIASES (Spark 3.4+/DuckDB both support them): a
    SELECT item referencing an alias defined EARLIER IN THE SAME SELECT
    (`cents AS c, c*3 AS t, t+c AS q`), chained three deep — the
    ergonomic form every hand-written feature-derivation query wants.
    The oracle is the fully EXPANDED expression tree, proving Spark's
    alias resolution substitutes rather than re-evaluates differently
    (exact integer arithmetic, so any divergence would hash).

    100 TB: pure per-row codegen over one pushed-filter scan — the
    aliases collapse into a single Project node."""
    import os

    view = f"ord_lca_{os.getpid()}"
    table(spark, sf_dir, "orders").createOrReplaceTempView(view)
    return spark.sql(f"""
        SELECT o_orderkey, o_orderpriority,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
               cents * 3 AS triple_cents,
               triple_cents + cents AS quad_cents,
               quad_cents % 97 AS quad_mod97
        FROM {view} WHERE o_orderstatus = 'O'
        """)


@register(
    "d130_pipe_extend_set_drop",
    oracle="""
WITH base AS (
    SELECT l_returnflag, l_shipdate,
           CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
               AS net_cents
    FROM lineitem
), flt AS (
    SELECT * FROM base WHERE l_shipdate >= DATE '1995-01-01'
)
SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(net_cents) AS BIGINT) AS net_cents_sum
FROM flt GROUP BY l_returnflag
""",
    tags=("engine", "sql-pipe", "spark4"),
)
def d130_pipe_extend_set_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe-syntax column lifecycle — |> EXTEND (add a computed
    column), |> SET (redefine it in place), |> DROP (remove a source
    column), |> WHERE, |> AGGREGATE: the d121/d127 family's third
    variant, exercising the mutation operators rather than join/window.
    Lowers to the identical classic plan (filter pushed to the scan,
    partial-aggregated GROUP BY), which the expanded-form oracle states
    directly. Money stays in floor-cents BIGINT from the first EXTEND
    (per-row IEEE multiply then floor is engine-exact; the cross-row
    sum is integer)."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("li_pipe8")
    return spark.sql("""
        FROM li_pipe8
        |> EXTEND l_extendedprice * (1 - l_discount) AS net
        |> SET net = CAST(floor(net * 100) AS BIGINT)
        |> DROP l_tax, l_partkey, l_suppkey
        |> WHERE l_shipdate >= DATE '1995-01-01'
        |> AGGREGATE CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(net) AS BIGINT) AS net_cents_sum
           GROUP BY l_returnflag
        |> SELECT l_returnflag, n, net_cents_sum
    """)


@register(
    "d131_group_order_by_all",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT)
           AS qty_cents
FROM lineitem
GROUP BY ALL
ORDER BY ALL
""",
    tags=("engine", "sql-sugar", "spark4"),
)
def d131_group_order_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL + ORDER BY ALL together (d80 exercised GROUP BY ALL
    alone): both engines expand ALL to the non-aggregate select list in
    select-list order, so the sugar is plan-identical to the explicit
    form — zero-cost readability, not a new operator. The ordered output
    also pins that both engines agree on the expansion ORDER (a mismatch
    would hash-differ even with equal row sets only if values disagreed,
    so the real check is the grouping expansion)."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("li_all8")
    return spark.sql("""
        SELECT l_returnflag, l_linestatus,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT)
                   AS qty_cents
        FROM li_all8
        GROUP BY ALL
        ORDER BY ALL
    """)


@register(
    "d133_sql_session_variables",
    oracle="""
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_big
FROM orders
WHERE o_totalprice > 150000.0 AND o_orderdate >= DATE '1995-01-01'
GROUP BY o_orderpriority
""",
    tags=("engine", "sql-variables", "spark4"),
)
def d133_sql_session_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL session variables (Spark 4 DECLARE / SET VAR): a parameterized
    threshold report where the knobs live in session state instead of
    string interpolation — the SQL-native alternative to d110's
    parameterized-query API. Variables fold to constants at plan time
    (the filter still pushes to the scan; the oracle is the expanded
    constant form). Session-scoped: DECLARE OR REPLACE keeps reruns
    idempotent within one SparkSession."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("ord_var8")
    spark.sql("DECLARE OR REPLACE VARIABLE price_floor DOUBLE DEFAULT 0.0")
    spark.sql("DECLARE OR REPLACE VARIABLE cutoff_date DATE "
              "DEFAULT DATE '1990-01-01'")
    spark.sql("SET VAR price_floor = 150000.0")
    spark.sql("SET VAR cutoff_date = DATE '1995-01-01'")
    return spark.sql("""
        SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_big
        FROM ord_var8
        WHERE o_totalprice > price_floor AND o_orderdate >= cutoff_date
        GROUP BY o_orderpriority
    """)


@register(
    "d134_execute_immediate",
    oracle="""
SELECT n_name, CAST(count(*) AS BIGINT) AS n_customers
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE c_acctbal > 5000.0
GROUP BY n_name
""",
    tags=("engine", "sql-variables", "spark4"),
)
def d134_execute_immediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTE IMMEDIATE with USING parameters (Spark 4): dynamic SQL
    with engine-side parameter binding — the injection-safe form of
    query-by-string (the parameter is bound as a typed literal, never
    spliced as text). The plan is identical to the static query, so the
    oracle is the expanded form; the broadcast-able nation dim keeps
    the join a BHJ."""
    table(spark, sf_dir, "customer").createOrReplaceTempView("cust_ei8")
    table(spark, sf_dir, "nation").createOrReplaceTempView("nat_ei8")
    return spark.sql(
        "EXECUTE IMMEDIATE "
        "'SELECT n_name, CAST(count(*) AS BIGINT) AS n_customers "
        " FROM cust_ei8 JOIN nat_ei8 ON c_nationkey = n_nationkey "
        " WHERE c_acctbal > ? GROUP BY n_name' "
        "USING 5000.0d")


@register(
    "d136_unpivot_sql",
    oracle="""
SELECT l_orderkey, l_linenumber, feat, val
FROM lineitem
UNPIVOT (val FOR feat IN (l_quantity, l_extendedprice, l_discount))
""",
    tags=("engine", "D16", "reshape"),
)
def d136_unpivot_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standard SQL UNPIVOT clause — d33 reshapes with the stack() TVF
    and d106 with selectExpr stack; this is the declarative form both
    engines parse natively (Spark lowers it to the same Expand node as
    stack, so wide→long stays a zero-shuffle flatMap). NULL cells are
    dropped by UNPIVOT's default (none exist in lineitem; both engines
    agree on the default INCLUDE NULLS = false)."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("li_unpvt8")
    return spark.sql("""
        SELECT l_orderkey, l_linenumber, feat, val
        FROM li_unpvt8
        UNPIVOT (val FOR feat IN (l_quantity, l_extendedprice, l_discount))
    """)


# d138's oracle, and d142's: orders and price cents per priority.
PRIORITY_CENTS_ORACLE = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS price_cents
FROM orders
GROUP BY o_orderpriority
"""


@register(
    "d138_identifier_clause",
    oracle=PRIORITY_CENTS_ORACLE,
    tags=("engine", "sql-variables", "spark4"),
)
def d138_identifier_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDENTIFIER() clause (Spark 4): table and column names supplied as
    PARAMETERS instead of string-spliced SQL — the injection-safe form
    of "group this table by that column", template queries over a
    catalog. The identifier resolves at analysis time, so the plan is
    byte-identical to the static query (the oracle's expanded form);
    a value that is not a valid identifier is a parse error, never an
    executed injection."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("ord_ident8")
    return spark.sql(
        """
        SELECT IDENTIFIER(:gcol), CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS price_cents
        FROM IDENTIFIER(:tab)
        GROUP BY IDENTIFIER(:gcol)
        """,
        args={"gcol": "o_orderpriority", "tab": "ord_ident8"})


@register(
    "d139_listagg_within_group",
    oracle="""
SELECT l_orderkey,
       string_agg(CAST(l_linenumber AS VARCHAR), ','
                  ORDER BY l_linenumber) AS line_list,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem
WHERE l_orderkey % 50 = 0
GROUP BY l_orderkey
""",
    tags=("engine", "D4", "aggregate", "spark4"),
)
def d139_listagg_within_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """listagg(...) WITHIN GROUP (ORDER BY ...) — the SQL-standard
    ordered string aggregate added in Spark 4 (d69 built the same thing
    manually from array_join(array_sort(collect_list))). The WITHIN
    GROUP order makes the concatenation deterministic — DuckDB's
    string_agg(... ORDER BY ...) is the exact equivalent; duplicate
    order keys are harmless because equal keys carry equal strings.
    Per-order groups are bounded (≤7 lines), so the aggregate state is
    small and map-side combinable like any collect."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("li_lagg8")
    return spark.sql("""
        SELECT l_orderkey,
               listagg(CAST(l_linenumber AS STRING), ',')
                   WITHIN GROUP (ORDER BY l_linenumber) AS line_list,
               CAST(count(*) AS BIGINT) AS n_lines
        FROM li_lagg8
        WHERE l_orderkey % 50 = 0
        GROUP BY l_orderkey
    """)


@register(
    "d144_sql_scripting",
    oracle="""
WITH s AS (
    SELECT avg(o_totalprice) AS ap FROM orders
)
SELECT o_orderpriority,
       CASE WHEN s.ap > 100000.0 THEN 'high' ELSE 'low' END AS price_band,
       CAST(count(*) AS BIGINT) AS n,
       CAST(floor(s.ap * 100) AS BIGINT) AS avg_cents,
       0.9990234375 AS geo_sum
FROM orders, s
GROUP BY o_orderpriority, s.ap
""",
    tags=("engine", "sql-scripting", "spark4"),
)
def d144_sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting (Spark 4 BEGIN…END): DECLARE'd local variables, a
    scalar-subquery SET, an IF/ELSE branch, and a WHILE loop — the
    procedural control flow that previously required a driver-side
    Python wrapper, now running as one SQL unit whose value is the last
    statement's result. Everything the script computes is expressible
    declaratively (the expanded-form oracle: the branch is a CASE over
    the same average, the loop's geometric sum of ten exact dyadics is
    the literal 0.9990234375), which is the right mental model — the
    scripting layer sequences plans, it does not add operators, so each
    inner statement still gets full Catalyst treatment."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("ord_scr8")
    return spark.sql("""
        BEGIN
            DECLARE avg_price DOUBLE;
            DECLARE band STRING;
            DECLARE geo DOUBLE DEFAULT 0.0;
            DECLARE half DOUBLE DEFAULT 0.5;
            DECLARE i INT DEFAULT 1;
            SET avg_price = (SELECT avg(o_totalprice) FROM ord_scr8);
            IF avg_price > 100000.0 THEN
                SET band = 'high';
            ELSE
                SET band = 'low';
            END IF;
            -- geometric sum via an exact dyadic recurrence (each step
            -- halves a power of two — always representable), never
            -- power(): no libm transcendental behind an exact oracle.
            WHILE i <= 10 DO
                SET geo = geo + half;
                SET half = half * 0.5;
                SET i = i + 1;
            END WHILE;
            SELECT o_orderpriority, band AS price_band,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(floor(avg_price * 100) AS BIGINT) AS avg_cents,
                   geo AS geo_sum
            FROM ord_scr8
            GROUP BY o_orderpriority;
        END
    """)


@register(
    "d145_polymorphic_udtf",
    oracle="""
WITH proj AS (
    SELECT o_orderpriority, o_orderkey,
           CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders
)
SELECT o_orderpriority, o_orderkey, cents,
       CAST(row_number() OVER (PARTITION BY o_orderpriority
                               ORDER BY o_orderkey) AS BIGINT) AS rn
FROM proj
""",
    tags=("engine", "D20", "udf", "udtf", "table-arg", "spark4"),
)
def d145_polymorphic_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POLYMORPHIC table-valued function (Spark 4): a UDTF with no fixed
    returnType whose ``analyze()`` receives the TABLE argument's schema
    at plan time and computes the output schema from it — here the input
    row plus a ``rn`` partition-sequence column, so ONE registration
    numbers rows of ANY table (`FROM numbered(TABLE(v) PARTITION BY k
    ORDER BY ...)`), where d109's gap_stats was pinned to one shape.
    Eval streams each partition's rows in ORDER BY order through one
    instance; the expanded-form oracle is the row_number window over the
    same unique ordering.

    100 TB: same economics as d109 — PARTITION BY shuffles once on the
    key; the Python boundary is row-at-a-time by API design, so this
    slot is for genuinely sequential per-group logic whose schema must
    follow the input's (generic numbering/diffing/auditing TVFs); a
    fixed-schema vectorizable transform belongs in applyInPandas (d21).
    Reference: no UDF surface in the reference repo
    (spark_ml_features.py:1); SURVEY §2-D20 family."""

    from pyspark.sql.functions import udtf
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    class Numbered:
        @staticmethod
        def analyze(t: AnalyzeArgument) -> AnalyzeResult:
            return AnalyzeResult(schema=StructType(
                list(t.dataType.fields) + [StructField("rn", LongType())]))

        def __init__(self) -> None:
            self.rn = 0

        def eval(self, row):
            self.rn += 1
            yield (*row, self.rn)

    o = (table(spark, sf_dir, "orders")
         .select("o_orderpriority", "o_orderkey",
                 F.floor(F.col("o_totalprice") * 100).cast("bigint")
                 .alias("cents")))
    view = f"poly_orders_{os.getpid()}"
    o.createOrReplaceTempView(view)
    spark.udtf.register("numbered", udtf(Numbered))
    return spark.sql(
        f"SELECT * FROM numbered(TABLE({view}) "
        "PARTITION BY o_orderpriority ORDER BY o_orderkey)")


@register(
    "d146_recursive_month_spine",
    oracle="""
WITH RECURSIVE months(m) AS (
    SELECT date_trunc('month', (SELECT min(o_orderdate) FROM orders))
    UNION ALL
    SELECT m + INTERVAL 1 MONTH FROM months
    WHERE m < date_trunc('month', (SELECT max(o_orderdate) FROM orders))
)
SELECT CAST(m AS TIMESTAMP) AS month_start,
       CAST(count(o_orderkey) AS BIGINT) AS n_orders
FROM months LEFT JOIN orders ON date_trunc('month', o_orderdate) = m
GROUP BY m
""",
    tags=("engine", "D14", "sql", "recursive-cte", "spark4"),
)
def d146_recursive_month_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECURSIVE CTE (Spark 4.1 `WITH RECURSIVE`): a gap-free month
    spine whose BOUNDS are data-driven (scalar subqueries over the same
    table anchor and terminate the recursion), left-joined back so
    months with zero orders appear as explicit 0 rows — the calendar-
    densification pattern every time-series rollup needs, previously
    only expressible via sequence()+explode (d49's shape). DuckDB runs
    the IDENTICAL recursive SQL as the oracle. Both engines' DATE +
    INTERVAL yield TIMESTAMP-kind months; the output casts to TIMESTAMP
    explicitly (the d74 date-kind parity rule).

    100 TB: the recursion materializes ~84 month rows (bounded by the
    data's time span, not its volume) — the spine side is trivially
    broadcast; the orders side partial-aggregates per month before the
    exchange. Recursion depth is checked by the engine
    (spark.sql.cteRecursionLevelLimit, default 100) — a spine over a
    century of data would raise, not spin."""
    o = table(spark, sf_dir, "orders")
    view = f"rec_orders_{os.getpid()}"
    o.createOrReplaceTempView(view)
    return spark.sql(f"""
        WITH RECURSIVE months(m) AS (
            SELECT date_trunc('month',
                              (SELECT min(o_orderdate) FROM {view}))
            UNION ALL
            SELECT m + INTERVAL '1' MONTH FROM months
            WHERE m < date_trunc('month',
                                 (SELECT max(o_orderdate) FROM {view}))
        )
        SELECT CAST(m AS TIMESTAMP) AS month_start,
               CAST(count(o_orderkey) AS BIGINT) AS n_orders
        FROM months LEFT JOIN {view}
             ON date_trunc('month', o_orderdate) = m
        GROUP BY m
    """)


@register(
    "d148_sql_table_function",
    oracle="""
WITH ranked AS (
    SELECT o_orderpriority, o_orderkey,
           CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
           CAST(row_number() OVER (
               PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rnk
    FROM orders
)
SELECT * FROM ranked WHERE rnk <= 5
""",
    tags=("engine", "D20", "sql", "table-function", "spark4"),
)
def d148_sql_table_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-DEFINED table function (`CREATE FUNCTION ... RETURNS TABLE
    ... RETURN SELECT`): the declarative macro layer of the D20 spectrum
    — d113 is the scalar SQL UDF, d109/d145 are Python UDTFs; this slot
    is a PARAMETERIZED table view whose body is pure SQL, so Catalyst
    inlines it like any subquery (full pushdown/pruning through the
    function boundary — no black box, unlike the Python shapes). The
    parameter feeds a rank predicate rather than LIMIT because a
    correlated limit must be plan-time constant
    (INVALID_LIMIT_LIKE_EXPRESSION — probed); the rank filter lowers to
    WindowGroupLimit anyway, which is the better plan at scale.

    100 TB: the inlined body is d10's top-k-per-group shape — one
    window exchange on the partition key, group-limit pushed into the
    sort. Reference: no SQL-function surface in the reference repo
    (spark_ml_features.py:1); SURVEY §2-D20 family."""
    o = table(spark, sf_dir, "orders")
    view = f"sqltvf_orders_{os.getpid()}"
    o.createOrReplaceTempView(view)
    fn = f"priority_top_{os.getpid()}"
    spark.sql(f"""
        CREATE OR REPLACE TEMPORARY FUNCTION {fn}(lim INT)
        RETURNS TABLE (o_orderpriority STRING, o_orderkey BIGINT,
                       cents BIGINT, rnk BIGINT)
        RETURN SELECT * FROM (
            SELECT o_orderpriority, o_orderkey,
                   CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
                   CAST(row_number() OVER (
                       PARTITION BY o_orderpriority
                       ORDER BY o_totalprice DESC, o_orderkey)
                        AS BIGINT) AS rnk
            FROM {view}
        ) WHERE rnk <= lim
    """)
    return spark.sql(f"SELECT * FROM {fn}(5)")
