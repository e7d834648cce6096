"""Source and sink family (SURVEY §2-A): scans, projections, filters and
every source/sink round-trip — the relational substrate. Each primitive the
reference touches is declared as a tiny oracle-checked query so the judged
inventory is exercised line by line.

A1 csv_scan writes a deterministic iris-shaped CSV to a staging dir once and
scans it back with schema inference on both engines — the reference's loader
shape (spark_ml_features.py:27) without depending on external files.
"""

from __future__ import annotations

import os
import tempfile

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from pyspark_ml_features_spark.registry import register
from pyspark_ml_features_spark.sources import csv_scan, memory_source, table
from pyspark_ml_features_spark.tmp_artifacts import pid_scoped

# deterministic iris-alike sample (values fixed; species frequencies ordered)
_IRIS_ROWS = [
    (5.1, 3.5, 1.4, 0.2, "setosa"),
    (4.9, 3.0, 1.4, 0.2, "setosa"),
    (4.7, 3.2, 1.3, 0.2, "setosa"),
    (4.6, 3.1, 1.5, 0.2, "setosa"),
    (7.0, 3.2, 4.7, 1.4, "versicolor"),
    (6.4, 3.2, 4.5, 1.5, "versicolor"),
    (6.9, 3.1, 4.9, 1.5, "versicolor"),
    (6.3, 3.3, 6.0, 2.5, "virginica"),
    (5.8, 2.7, 5.1, 1.9, "virginica"),
]
_IRIS_COLS = ("sepal_length", "sepal_width", "petal_length", "petal_width",
              "species")


def iris_csv_path() -> str:
    """Write the sample to a stable temp location once; return the file."""
    path = os.path.join(tempfile.gettempdir(), "pmfs_iris_sample.csv")
    if not os.path.exists(path):
        # pid-unique stage: a shared '<path>.tmp' is NOT atomic when two
        # engine processes import concurrently (pytest + drive_contract) —
        # one truncates the other's in-flight tmp and os.replace publishes
        # a partial file. Content is deterministic, so last-rename wins.
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w") as fh:
            fh.write(",".join(_IRIS_COLS) + "\n")
            for row in _IRIS_ROWS:
                fh.write(",".join(str(v) for v in row) + "\n")
        os.replace(tmp, path)
    return path


@register(
    "a1_csv_scan",
    oracle=f"SELECT * FROM read_csv_auto('{iris_csv_path()}', header=true)",
    tags=("reference", "A1", "source"),
)
def a1_csv_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source with header + schema inference (reference ml:27)."""
    return csv_scan(spark, iris_csv_path())


@register(
    "a2_memory_source",
    oracle="""
SELECT * FROM (VALUES
    (5.1, 3.5, 1.4, 0.2, 'setosa'), (4.9, 3.0, 1.4, 0.2, 'setosa'),
    (4.7, 3.2, 1.3, 0.2, 'setosa'), (4.6, 3.1, 1.5, 0.2, 'setosa'),
    (7.0, 3.2, 4.7, 1.4, 'versicolor'), (6.4, 3.2, 4.5, 1.5, 'versicolor'),
    (6.9, 3.1, 4.9, 1.5, 'versicolor'),
    (6.3, 3.3, 6.0, 2.5, 'virginica'), (5.8, 2.7, 5.1, 1.9, 'virginica')
) AS t(sepal_length, sepal_width, petal_length, petal_width, species)
""",
    tags=("reference", "A2", "source"),
)
def a2_memory_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-memory rows -> DataFrame (reference local:47-55)."""
    return memory_source(spark, _IRIS_ROWS, schema=list(_IRIS_COLS))


@register(
    "a3_parquet_scan",
    oracle="SELECT * FROM region",
    tags=("reference", "A3", "source"),
)
def a3_parquet_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet source (driver tables)."""
    return table(spark, sf_dir, "region")


@register(
    "a4_project",
    oracle="SELECT c_custkey, c_name FROM customer",
    tags=("reference", "A4"),
)
def a4_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column selection — prunes the scan (reference ml:46)."""
    return table(spark, sf_dir, "customer").select("c_custkey", "c_name")


@register(
    "a5_derive_column",
    oracle="""
SELECT o_orderkey, o_totalprice,
       o_totalprice * 1.1 AS price_with_fee
FROM orders
""",
    tags=("reference", "A5"),
)
def a5_derive_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Computed column append (reference ml:157, 262)."""
    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey", "o_totalprice",
        (F.col("o_totalprice") * 1.1).alias("price_with_fee"))


@register(
    "a6_filter_eq",
    oracle="SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'F'",
    tags=("reference", "A6"),
)
def a6_filter_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equality predicate filter (reference ml:227-228) — pushed to the scan."""
    o = table(spark, sf_dir, "orders")
    return (o.filter(F.col("o_orderstatus") == "F")
            .select("o_orderkey", "o_orderstatus"))


@register(
    "a7_cast",
    oracle="""
SELECT l_orderkey,
       CAST(l_quantity AS INT) AS qty_int,
       CAST(l_returnflag = 'R' AS INT) AS is_return
FROM lineitem
""",
    tags=("reference", "A7"),
)
def a7_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bool/double -> int casts (reference ml:262, 265)."""
    li = table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        F.col("l_quantity").cast("int").alias("qty_int"),
        (F.col("l_returnflag") == "R").cast("int").alias("is_return"))


@register(
    "a8_sql_expr",
    oracle="""
SELECT o_orderkey,
       o_totalprice * (1 - 0.05) AS discounted,
       CASE WHEN o_orderpriority LIKE '1-%' THEN 'urgent' ELSE 'normal' END AS urgency
FROM orders
""",
    tags=("reference", "A8"),
)
def a8_sql_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-SQL expression eval through the Catalyst parser (reference
    ml:262 used expr(\"RAND() < 0.7\"); we demonstrate the construct with
    deterministic expressions — the seeded RNG form is b9_split_random_seeded)."""
    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.expr("o_totalprice * (1 - 0.05)").alias("discounted"),
        F.expr("CASE WHEN o_orderpriority LIKE '1-%' THEN 'urgent' "
               "ELSE 'normal' END").alias("urgency"))


@register(
    "a9_row_count",
    oracle="""
SELECT 'lineitem' AS tbl, count(*) AS n FROM lineitem
UNION ALL SELECT 'orders', count(*) FROM orders
UNION ALL SELECT 'customer', count(*) FROM customer
""",
    tags=("reference", "A9"),
)
def a9_row_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count action surface (reference ml:312-313), declared as a relational
    count per table (parquet count() is metadata-only — no data scan)."""
    frames = [
        table(spark, sf_dir, name).agg(
            F.lit(name).alias("tbl"), F.count(F.lit(1)).alias("n"))
        for name in ("lineitem", "orders", "customer")
    ]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionAll(f)
    return out


@register(
    "a10_display_limit",
    oracle="""
SELECT n_nationkey, n_name FROM nation
ORDER BY n_nationkey ASC LIMIT 5
""",
    tags=("reference", "A10"),
)
def a10_display_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """show(n)/limit surface — deterministic only over sorted input, so the
    declared form sorts first (reference's bare .show(5) is order-undefined)."""
    n = table(spark, sf_dir, "nation")
    return (n.orderBy(F.asc("n_nationkey"))
            .select("n_nationkey", "n_name").limit(5))


def _json_sample_path() -> str:
    """Deterministic JSON-lines sample written once to a stable temp path."""
    path = os.path.join(tempfile.gettempdir(), "pmfs_sample.jsonl")
    if not os.path.exists(path):
        import json

        # pid-unique stage — see iris_csv_path for the concurrency rationale
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w") as fh:
            for i, (sl, sw, pl, pw, sp) in enumerate(_IRIS_ROWS):
                fh.write(json.dumps({
                    "row_id": i, "sepal_length": sl, "sepal_width": sw,
                    "petal_length": pl, "petal_width": pw, "species": sp,
                }, sort_keys=True) + "\n")
        os.replace(tmp, path)
    return path


@register(
    "a11_json_scan",
    oracle=f"""
SELECT row_id, sepal_length, sepal_width, petal_length, petal_width, species
FROM read_json_auto('{_json_sample_path()}')
""",
    tags=("reference", "source", "json"),
)
def a11_json_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source with an explicit schema (inference on JSON is a
    full pre-scan — never used at scale)."""
    return spark.read.schema(
        "row_id bigint, sepal_length double, sepal_width double, "
        "petal_length double, petal_width double, species string"
    ).json(_json_sample_path()).select(
        "row_id", "sepal_length", "sepal_width", "petal_length",
        "petal_width", "species")


@register("a12_orc_roundtrip", tags=("reference", "source", "orc"))
def a12_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source/sink round-trip (rows-only: DuckDB has no ORC reader).
    Row-count/schema equality with the parquet original is asserted in
    tests/test_io.py."""
    out = pid_scoped("pmfs_nation_orc")
    table(spark, sf_dir, "nation").write.mode("overwrite").orc(out)
    return spark.read.orc(out)


@register(
    "a13_python_datasource",
    oracle="""
SELECT i AS doc_id,
       ['en','de','fr'][(i % 3) + 1] AS lang,
       CAST(i % 5 + 3 AS BIGINT) AS n_tokens,
       array_to_string([printf('w%d', (i*7 + j) % 13)
                        FOR j IN range(0, (i % 5) + 3)], ' ') AS text
FROM range(0, 1000) t(i)
""",
    tags=("reference", "source", "python-datasource"),
)
def a13_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom connector via the Python Data Source API (Spark 4): a
    deterministic synthetic-docs source read through
    ``spark.read.format("synthetic_docs")``. The source declares 8 input
    partitions (contiguous id ranges), so the read is scheduled as 8
    parallel Python tasks streaming Arrow batches — the extension shape for
    any system without a JVM connector. Every value is integer arithmetic
    on doc_id, so DuckDB reproduces the rows from range() — the oracle
    checks the full partition-planning + Arrow path bit-exactly."""
    from pyspark_ml_features_spark.sources.pyds import register_python_sources

    register_python_sources(spark)
    return (spark.read.format("synthetic_docs")
            .option("n", 1000).option("partitions", 8).load())


@register(
    "a14_partitioned_pruning",
    oracle="""
SELECT o_orderpriority,
       count(*) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS sum_price_cents
FROM orders
WHERE year(o_orderdate) = 1995
GROUP BY o_orderpriority
""",
    tags=("engine", "source", "partitioning"),
)
def a14_partitioned_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned parquet layout + partition-PRUNED read — the single
    most important scan optimization at 100 TB: orders written
    ``partitionBy(o_year)``, then a reader filtering one year touches one
    directory; the other years are never opened (tests/test_plans.py
    asserts the scan's PartitionFilters carry the predicate). Price sums
    accumulate as exact integer cents — double sums are partition-order
    dependent and would break the oracle hash (memory: oracle-parity
    rules)."""
    # pid suffix + exit cleanup: two engine processes on one machine must
    # not overwrite each other's sink mid-read (see tmp_artifacts)
    out = pid_scoped("pmfs_orders_by_year")
    o = table(spark, sf_dir, "orders")
    (o.withColumn("o_year", F.year("o_orderdate"))
     .write.mode("overwrite").partitionBy("o_year").parquet(out))
    back = spark.read.parquet(out).filter(F.col("o_year") == 1995)
    return (back.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
                  .alias("sum_price_cents")))


@register(
    "a15_csv_sink_roundtrip",
    oracle="""
SELECT l_returnflag,
       count(*) AS n,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS sum_price_cents,
       CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
           AS sum_qty_cents
FROM lineitem
GROUP BY l_returnflag
""",
    tags=("engine", "source", "csv", "sink"),
)
def a15_csv_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink + source round-trip, proven LOSSLESS: lineitem's numeric
    columns write to CSV and read back with an explicit schema, and the
    aggregate over the round-tripped data must hash-match the oracle
    computed from the ORIGINAL parquet — doubles survive because Spark
    writes shortest-round-trip representations (Java Double.toString) and
    the reader parses them back to the identical bits. Explicit schema on
    read: inference costs a full pre-scan and can narrow types."""
    out = pid_scoped("pmfs_lineitem_csv")
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice")
    li.write.mode("overwrite").option("header", True).csv(out)
    back = spark.read.schema(
        "l_orderkey bigint, l_returnflag string, "
        "l_quantity double, l_extendedprice double"
    ).option("header", True).csv(out)
    return (back.groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
                  .alias("sum_price_cents"),
                 F.sum(F.round(F.col("l_quantity") * 100).cast("bigint"))
                  .alias("sum_qty_cents")))


def _evolved_parquet_paths() -> tuple[str, str]:
    """Two deterministic parquet batches with an EVOLVED schema (batch 2
    adds a column), written once at import via pyarrow — atomic per-file
    rename, identical content in every process, so concurrent writers are
    harmless (same pattern as the iris sample)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = os.path.join(tempfile.gettempdir(), "pmfs_evolved_v1")
    os.makedirs(base, exist_ok=True)
    b1 = os.path.join(base, "batch1.parquet")
    b2 = os.path.join(base, "batch2.parquet")
    if not os.path.exists(b1):
        t = pa.table({
            "row_id": pa.array(range(0, 50), pa.int64()),
            "price": pa.array([i * 1.25 for i in range(0, 50)], pa.float64()),
        })
        tmp1 = f"{b1}.{os.getpid()}.tmp"
        pq.write_table(t, tmp1)
        os.replace(tmp1, b1)
    if not os.path.exists(b2):
        t = pa.table({
            "row_id": pa.array(range(50, 100), pa.int64()),
            "price": pa.array([i * 1.25 for i in range(50, 100)],
                              pa.float64()),
            "category": pa.array([("a", "b", "c")[i % 3]
                                  for i in range(50, 100)], pa.string()),
        })
        tmp2 = f"{b2}.{os.getpid()}.tmp"
        pq.write_table(t, tmp2)
        os.replace(tmp2, b2)
    return b1, b2


@register(
    "a16_merge_schema",
    oracle=f"""
SELECT category,
       count(*) AS n,
       CAST(sum(CAST(round(price * 100) AS BIGINT)) AS BIGINT)
           AS sum_price_cents
FROM read_parquet({list(_evolved_parquet_paths())}, union_by_name=true)
GROUP BY category
""",
    tags=("engine", "source", "schema-evolution"),
)
def a16_merge_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet schema EVOLUTION: two batches where the later one added a
    column, read as one relation via mergeSchema — old rows surface NULL
    for the new column (identical to DuckDB's union_by_name). The
    aggregate groups BY the evolved column so the NULL group is part of
    the verified hash.

    100 TB note: mergeSchema is a footer-sampling pre-pass over every
    file — fine for additive evolution like this, but at warehouse scale
    the schema belongs in a catalog (the production path is a declared
    schema + mergeSchema off; this operator verifies the semantics the
    catalog must reproduce)."""
    b1, b2 = _evolved_parquet_paths()
    df = spark.read.option("mergeSchema", "true").parquet(b1, b2)
    return (df.groupBy("category")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.round(F.col("price") * 100).cast("bigint"))
                  .alias("sum_price_cents")))


@register(
    "a17_json_sink_roundtrip",
    oracle="""
SELECT l_returnflag,
       count(*) AS n,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS sum_price_cents
FROM lineitem
GROUP BY l_returnflag
""",
    tags=("engine", "source", "json", "sink"),
)
def a17_json_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink + source round-trip, proven LOSSLESS the same way
    as a15's CSV twin: numeric lineitem columns write to JSONL and read
    back with an explicit schema, and the aggregate over the round-trip
    must hash-match the oracle computed from the ORIGINAL parquet —
    Spark serializes doubles as shortest-round-trip text, so the bits
    survive. Explicit read schema: JSON inference is a full pre-scan
    and widens/narrows types unpredictably at scale."""
    out = pid_scoped("pmfs_lineitem_jsonl")
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice")
    li.write.mode("overwrite").json(out)
    back = spark.read.schema(
        "l_orderkey bigint, l_returnflag string, l_extendedprice double"
    ).json(out)
    return (back.groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
                  .alias("sum_price_cents")))


@register(
    "a20_temp_views_sql",
    oracle="""
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_orders,
       min(o_orderkey) AS min_key,
       CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT) AS total_floor
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
""",
    tags=("reference", "A8", "sql", "views"),
)
def a20_temp_views_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-statement SQL entry point over registered TEMP VIEWS — a8
    runs string *expressions* through Catalyst; this runs a full
    multi-table statement (join + aggregate) via ``spark.sql`` on views
    created from the parquet sources, the workflow SQL-first users expect
    (views are session-scoped and pmfs_-prefixed, so no catalog
    collisions; measures are integer-exact per convention).

    100 TB: identical plan to the DataFrame form — views are just named
    logical plans, so pushdown/broadcast/AQE all apply unchanged."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("pmfs_a20_orders")
    table(spark, sf_dir, "customer") \
        .createOrReplaceTempView("pmfs_a20_customer")
    return spark.sql("""
        SELECT c_mktsegment,
               count(*) AS n_orders,
               min(o_orderkey) AS min_key,
               sum(CAST(floor(o_totalprice) AS BIGINT)) AS total_floor
        FROM pmfs_a20_orders o JOIN pmfs_a20_customer c
          ON o.o_custkey = c.c_custkey
        GROUP BY c_mktsegment""")


@register(
    "a21_orc_sink_roundtrip",
    oracle="""
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS sum_price_cents,
       min(o_orderdate) AS first_order,
       max(o_orderdate) AS last_order
FROM orders
GROUP BY o_orderpriority
""",
    tags=("engine", "source", "orc", "sink"),
)
def a21_orc_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + source round-trip, proven LOSSLESS the a15 way: orders
    writes to ORC (the other columnar format Spark ships a vectorized
    reader for) and the aggregate over the read-back data must hash-match
    the oracle computed from the ORIGINAL parquet — doubles, timestamps,
    and strings all survive because ORC stores them natively (no text
    round-trip at all, unlike CSV/JSON). DuckDB cannot read ORC, which is
    exactly why the oracle runs on the source table: equality proves the
    sink-source cycle changed nothing.

    100 TB: columnar→columnar conversion is a map-only job (no shuffle);
    the read-back scan gets the same predicate pushdown + column pruning
    treatment as parquet (ORC carries min/max stripe stats)."""
    out = pid_scoped("pmfs_orders_orc")
    o = table(spark, sf_dir, "orders")
    o.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    return (back.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
                  .alias("sum_price_cents"),
                 F.min("o_orderdate").alias("first_order"),
                 F.max("o_orderdate").alias("last_order")))


@register(
    "a22_python_sink_roundtrip",
    oracle="""
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(doc_id) AS BIGINT) AS sum_doc_id,
       CAST(sum(length(text)) AS BIGINT) AS sum_chars
FROM documents
GROUP BY lang
""",
    tags=("engine", "sink", "python-datasource"),
)
def a22_python_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom SINK via the Python Data Source API (Spark 4), proven
    lossless: documents write through the package's ``jsonl_sink`` (one
    Python task per partition streaming rows into a JSON-lines file, with
    the commit-message protocol deciding which task-attempt files are
    authoritative — a13's reader counterpart), then read back with
    ``spark.read.json`` under an explicit schema. The aggregate over the
    round-tripped data must hash-match the oracle computed from the
    ORIGINAL parquet (the a15 sink-roundtrip trick), so JSON escaping of
    arbitrary document text is pinned lossless end-to-end.

    100 TB: the sink parallelizes per partition like any JVM writer; the
    Python boundary costs one Arrow transfer of the written columns.
    This is the pattern for pushing curated corpora INTO systems Spark
    cannot write natively — the writer's options/commit hooks map 1:1
    onto a real endpoint's batch-put + finalize API.

    Exactly-once mechanics proven here (ADVICE r4 medium): the write runs
    in overwrite mode (so re-invoking in one process replaces rather than
    doubles the data) and the read-back loads ONLY the files the driver-
    side commit() manifest vouches for — an orphan file from a retried or
    speculative task attempt on disk is invisible."""
    from pyspark_ml_features_spark.sources.pyds import (
        jsonl_manifest_files, register_python_sources)

    register_python_sources(spark)
    out = pid_scoped("pmfs_docs_jsonl")
    d = table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    d.write.format("jsonl_sink").option("path", out).mode("overwrite").save()
    back = spark.read.schema("doc_id bigint, lang string, text string") \
        .json(jsonl_manifest_files(out))
    return (back.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("doc_id").alias("sum_doc_id"),
                 F.sum(F.length("text")).alias("sum_chars")))


def _malformed_csv_path() -> str:
    """Deterministic CSV with malformed rows baked in (every i % 7 == 3),
    written once at import — atomic per-file rename with a pid-unique tmp
    (ADVICE r3: a shared tmp name is not atomic under concurrent import),
    identical bytes in every process."""
    path = os.path.join(tempfile.gettempdir(), "pmfs_malformed_v1.csv")
    if not os.path.exists(path):
        lines = []
        for i in range(300):
            if i % 7 == 3:
                lines.append(f"bad_{i},x")
            else:
                lines.append(f"{i},{i % 10},{(i * 25 % 1000) / 100:.2f}")
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            f.write("\n".join(lines) + "\n")
        os.replace(tmp, path)
    return path


@register(
    "a23_csv_malformed_tolerant",
    oracle="""
WITH r AS (SELECT i FROM range(0, 300) t(i) WHERE i % 7 <> 3)
SELECT CAST(300 AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_valid,
       CAST(300 - count(*) AS BIGINT) AS n_corrupt,
       CAST(sum(i) AS BIGINT) AS sum_id,
       CAST(sum(i % 10) AS BIGINT) AS sum_qty,
       CAST(sum(i * 25 % 1000) AS BIGINT) AS sum_price_cents
FROM r
""",
    tags=("engine", "source", "csv", "quality"),
)
def a23_csv_malformed_tolerant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record-TOLERANT CSV ingestion (PERMISSIVE mode +
    columnNameOfCorruptRecord): real feeds carry broken lines, and the
    production choice is quarantine-and-continue, not fail-the-job.
    Every i % 7 == 3 line of the deterministic fixture is malformed
    (wrong arity + unparseable bigint); Spark populates the corrupt
    column with the RAW line (probed: bad type, too-few and too-many
    token rows all flag, with parseable fields still extracted) and the
    aggregate counts valid vs quarantined rows and sums only the valid
    ones. The oracle reproduces the expected values from the generating
    formulas over range() — the a13 trick, since DuckDB's CSV reader has
    different malformed-row semantics and must not be the referee.

    100 TB: PERMISSIVE parsing is per-row map work in the scan; the
    corrupt column routes to a dead-letter sink in deployment (the same
    pattern as s9's watermark-drop accounting). DROPMALFORMED/FAILFAST
    are the same reader one option away."""
    path = _malformed_csv_path()
    df = (spark.read
          .schema("id bigint, qty bigint, price double, _corrupt string")
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt")
          .csv(path))
    ok = F.col("_corrupt").isNull()
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_if(ok).alias("n_valid"),
        F.count_if(~ok).alias("n_corrupt"),
        F.sum(F.when(ok, F.col("id"))).alias("sum_id"),
        F.sum(F.when(ok, F.col("qty"))).alias("sum_qty"),
        F.sum(F.when(ok, F.round(F.col("price") * 100).cast("bigint")))
        .alias("sum_price_cents"))


@register(
    "a24_ctas_insert_roundtrip",
    oracle="""
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS sum_cents
FROM orders
GROUP BY o_orderpriority
""",
    tags=("engine", "sink", "sql-ddl"),
)
def a24_ctas_insert_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-DDL managed-table lifecycle: CREATE TABLE AS SELECT writes the
    pre-1995 half of orders into a managed parquet table, INSERT INTO
    ... SELECT appends the rest, and the aggregate over the REASSEMBLED
    table must hash-match the oracle over the original — proving the
    CTAS + INSERT path (the warehouse-ETL idiom, distinct from d50's
    DataFrame saveAsTable) loses and duplicates nothing across the two
    writes. pid-scoped table name + DROP/rmtree-first + exit cleanup per
    the d50 warehouse rules (in-memory catalog, persistent directory).

    100 TB: CTAS/INSERT INTO parallelize like any write; the split
    predicate demonstrates the backfill-then-append pattern (historical
    CTAS, incremental INSERTs) that partitioned tables extend with
    dynamic partition overwrite (a19)."""
    import shutil
    from urllib.parse import urlparse

    from pyspark_ml_features_spark.tmp_artifacts import register as keep_tmp

    tbl = f"pmfs_ctas_orders_{os.getpid()}"
    view = f"orders_ctas_src_{os.getpid()}"
    table(spark, sf_dir, "orders").createOrReplaceTempView(view)
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    shutil.rmtree(f"{warehouse}/{tbl}", ignore_errors=True)
    keep_tmp(f"{warehouse}/{tbl}")
    spark.sql(f"""
        CREATE TABLE {tbl} USING parquet AS
        SELECT * FROM {view} WHERE o_orderdate < DATE '1995-01-01'""")
    spark.sql(f"""
        INSERT INTO {tbl}
        SELECT * FROM {view} WHERE o_orderdate >= DATE '1995-01-01'""")
    return (spark.table(tbl)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
                 .alias("sum_cents")))


@register(
    "a25_xml_sink_roundtrip",
    oracle="""
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS sum_price_cents,
       min(o_orderkey) AS min_key,
       max(o_orderkey) AS max_key
FROM orders
GROUP BY o_orderpriority
""",
    tags=("engine", "source", "xml", "sink"),
)
def a25_xml_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink + source round-trip (Spark 4 ships the spark-xml reader/
    writer built in — no external package), proven LOSSLESS the a15 way:
    orders projects to (bigint key, string priority, bigint cents) — the
    cents computed BEFORE the write so only integers and strings cross
    the text format — writes to XML with an explicit rowTag, reads back
    under an explicit schema (XML inference is a full pre-scan, same
    rule as a17's JSON), and the aggregate over the round-trip must
    hash-match the oracle computed from the ORIGINAL parquet. DuckDB
    cannot read XML, which is exactly why the oracle runs on the source
    table: equality proves the sink-source cycle changed nothing.

    100 TB: XML is a row-major text format — fine as an interchange
    sink, wrong as an analytical store (no column pruning, no predicate
    pushdown, ~3-5x parquet's bytes); the round-trip exists because
    enterprise feeds still speak XML. Writes are map-only; the read-back
    parallelizes per file split like any text source."""
    out = pid_scoped("pmfs_orders_xml")
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"))
    (o.write.format("xml").option("rowTag", "order")
      .mode("overwrite").save(out))
    back = (spark.read.format("xml").option("rowTag", "order")
            .schema("o_orderkey bigint, o_orderpriority string, cents bigint")
            .load(out))
    return (back.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("cents").alias("sum_price_cents"),
                 F.min("o_orderkey").alias("min_key"),
                 F.max("o_orderkey").alias("max_key")))


@register(
    "a26_text_source_roundtrip",
    oracle="""
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(doc_id) AS BIGINT) AS sum_doc_id,
       CAST(sum(length(text)) AS BIGINT) AS sum_chars
FROM documents
GROUP BY lang
""",
    tags=("engine", "source", "text", "sink"),
)
def a26_text_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAW TEXT-LINES ingestion — ``spark.read.text``, the source format
    every LLM corpus pipeline starts from (one record per line, no schema
    at all), proven lossless the a15 way: documents serialize to
    tab-delimited lines (doc_id, lang, text — the fixture corpus contains
    no tabs/newlines, the caveat any delimited-line format carries),
    write through the text sink, read back as the single ``value``
    column, and re-split with LIMITED split(n=3) so only the first two
    tabs delimit. The per-lang aggregate over the reparsed lines must
    hash-match the oracle computed from the ORIGINAL parquet.

    100 TB: text files split by line boundaries, so the read
    parallelizes like CSV without quoting overhead; parsing is one
    codegen'd split per line. This is the landing pattern for raw
    corpora (Common-Crawl-style line dumps) before they ever become
    parquet — a13/a22 are its custom-connector siblings."""
    out = pid_scoped("pmfs_documents_txt")
    d = table(spark, sf_dir, "documents")
    (d.select(F.concat_ws("\t", F.col("doc_id").cast("string"),
                          F.col("lang"), F.col("text")).alias("value"))
     .write.mode("overwrite").text(out))
    back = spark.read.text(out)
    parts = F.split(F.col("value"), "\t", 3)
    parsed = back.select(
        F.element_at(parts, 1).cast("bigint").alias("doc_id"),
        F.element_at(parts, 2).alias("lang"),
        F.element_at(parts, 3).alias("text"))
    return (parsed.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("doc_id").alias("sum_doc_id"),
                 F.sum(F.length("text")).alias("sum_chars")))


@register(
    "a27_multipath_read",
    oracle="""
SELECT o_orderpriority,
       count(*) AS n,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS sum_cents
FROM orders
GROUP BY o_orderpriority
""",
    tags=("engine", "source", "multipath"),
)
def a27_multipath_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-path ingestion: orders split by a key predicate into two
    separate parquet directories (the daily-drop layout real lakes
    accumulate — many physical roots, one logical table), then read back
    with a MULTI-PATH ``spark.read.parquet(p1, p2)`` — one scan node over
    both file sets, not a union of two scans — and aggregated. The
    round-tripped aggregate must hash-match the oracle computed from the
    ORIGINAL single-file table, proving the split+multi-read is lossless
    and complete (no row lost or doubled at the path boundary).

    100 TB: multi-path (and glob) reads keep partition pruning and
    pushdown per file set; the alternative — N separate reads unioned —
    plans N scans and loses cross-path file-size coalescing."""
    out1 = pid_scoped("pmfs_orders_even")
    out2 = pid_scoped("pmfs_orders_odd")
    od = table(spark, sf_dir, "orders")
    od.filter(F.col("o_orderkey") % 2 == 0).write.mode(
        "overwrite").parquet(out1)
    od.filter(F.col("o_orderkey") % 2 == 1).write.mode(
        "overwrite").parquet(out2)
    back = spark.read.parquet(out1, out2)
    return (back.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
                 .alias("sum_cents")))


@register(
    "a18_zstd_roundtrip",
    oracle="""
SELECT l_linestatus,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS sum_price_cents,
       CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT)
           AS sum_disc_cents
FROM lineitem
GROUP BY l_linestatus
""",
    tags=("engine", "source", "parquet", "codec", "sink"),
)
def a18_zstd_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet sink with an explicit zstd codec + read-back, proven
    LOSSLESS: the aggregate over the round-tripped copy must hash-match
    the oracle computed from the ORIGINAL table (a15's proof shape for the
    columnar path). zstd is the 100 TB default — snappy-class decode speed
    at a meaningfully higher ratio, so scans move fewer bytes for the same
    data; correctness of the codec swap is exactly what this row pins."""
    out = pid_scoped("pmfs_lineitem_zstd")
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linestatus", "l_extendedprice", "l_discount")
    li.write.mode("overwrite").option("compression", "zstd").parquet(out)
    back = spark.read.parquet(out)
    return (back.groupBy("l_linestatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
                  .alias("sum_price_cents"),
                 F.sum(F.round(F.col("l_discount") * 100).cast("bigint"))
                  .alias("sum_disc_cents")))


@register(
    "a19_dynamic_partition_overwrite",
    oracle="""
SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CASE WHEN year(o_orderdate) = 1995
                     THEN CAST(round(o_totalprice * 2 * 100) AS BIGINT)
                     ELSE CAST(round(o_totalprice * 100) AS BIGINT) END)
            AS BIGINT) AS sum_price_cents
FROM orders
GROUP BY 1
""",
    tags=("engine", "source", "sink", "partition-overwrite"),
)
def a19_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition overwrite — the incremental-reprocessing sink
    semantics 100 TB pipelines rely on: a year-partitioned table is fully
    written once, then ONE year's corrected batch (1995, prices doubled)
    is written with mode=overwrite + partitionOverwriteMode=dynamic — only
    the partitions present in the batch are replaced, every other year
    survives untouched (static overwrite would truncate the whole table).
    The read-back aggregate hash-matches the oracle's reconstruction, so
    the 'replaced exactly one partition' semantics are what is verified.
    The option rides the writer (no session-conf mutation to restore)."""
    out = pid_scoped("pmfs_orders_dynpart")
    o = (table(spark, sf_dir, "orders")
         .withColumn("o_year", F.year("o_orderdate")))
    o.write.mode("overwrite").partitionBy("o_year").parquet(out)
    fixed = (o.filter(F.col("o_year") == 1995)
             .withColumn("o_totalprice", F.col("o_totalprice") * 2))
    (fixed.write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("o_year").parquet(out))
    back = spark.read.parquet(out)
    return (back.groupBy(F.col("o_year").cast("bigint").alias("o_year"))
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
                  .alias("sum_price_cents")))


@register(
    "a28_binaryfile_scan",
    oracle="""
SELECT source,
       CAST(sum(len(text)) + count(*) AS BIGINT) AS n_bytes
FROM documents GROUP BY source
""",
    tags=("engine", "source", "binary", "multimodal"),
)
def a28_binaryfile_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BINARYFILE source (`spark.read.format("binaryFile")`) — the
    opaque-bytes ingestion path every multimodal pipeline starts from
    (image/audio/video files land as (path, length, content) rows
    BEFORE any decode). Round-trip proof: documents are written as a
    source-partitioned TEXT sink (one newline per row — ASCII corpus,
    so chars = bytes), read back as whole binary files, and the
    per-source BYTE totals from file metadata must hash-match byte
    totals computed from the ORIGINAL table (the a15 oracle trick) —
    sum(length) over files ≡ sum(len(text)) + one newline per row.

    100 TB: binaryFile scans parallelize per file and never load a file
    on the driver; partition-dir names carry the routing column so no
    content parse is needed for grouping. Decode stays in Arrow-batched
    mapInPandas downstream (e12/e71's posture)."""
    from pyspark_ml_features_spark.tmp_artifacts import pid_scoped

    out = pid_scoped("pmfs_docs_text_by_source")
    d = table(spark, sf_dir, "documents")
    (d.select("source", "text").write.mode("overwrite")
     .partitionBy("source").text(out))
    files = (spark.read.format("binaryFile")
             .option("recursiveFileLookup", "false")
             .load(out + "/source=*"))
    return (files
            .select(F.regexp_extract(F.col("path"), r"source=([^/]+)", 1)
                    .alias("source"),
                    F.col("length"))
            .groupBy("source")
            .agg(F.sum("length").cast("bigint").alias("n_bytes")))


@register(
    "a29_multiline_csv_roundtrip",
    oracle="""
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len(text)) AS BIGINT) AS n_chars
FROM documents GROUP BY source
""",
    tags=("engine", "source", "csv", "multiline"),
)
def a29_multiline_csv_roundtrip(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """MULTILINE-QUOTED CSV round-trip — the CSV corner that breaks naive
    line-splitting ingest: every document's spaces become embedded
    NEWLINES, forcing the writer to quote each field across many
    physical lines; reading it back requires ``multiLine=true`` (the
    whole-file parse mode — without it every physical line is a
    row and the counts explode). The restored per-source doc and char
    totals must hash-match the ORIGINAL table (the a15 oracle trick),
    proving the quote-aware writer/parser pair is lossless on
    line-break-bearing text.

    100 TB: multiLine CSV files are NOT splittable (one parse task per
    file) — acceptable for many small files, wrong for single huge
    ones; the docstring is the warning and parquet is the fix. The
    parallelism here comes from writing many part files."""
    from pyspark_ml_features_spark.tmp_artifacts import pid_scoped

    out = pid_scoped("pmfs_docs_multiline_csv")
    d = table(spark, sf_dir, "documents")
    (d.select("doc_id", "source",
              F.regexp_replace("text", " ", "\n").alias("text_nl"))
     .write.mode("overwrite").option("header", "true").csv(out))
    back = (spark.read.option("header", "true")
            .option("multiLine", "true")
            .schema("doc_id bigint, source string, text_nl string")
            .csv(out))
    return (back.select("source",
                        F.length(F.regexp_replace("text_nl", "\n", " "))
                        .cast("bigint").alias("n_chars_doc"))
            .groupBy("source")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.sum("n_chars_doc").cast("bigint").alias("n_chars")))


@register(
    "a30_insert_default_columns",
    oracle="""
WITH ins AS (
    SELECT o_orderkey, 'UNKNOWN' AS priority, 'none' AS flag
    FROM orders WHERE o_orderkey % 100 = 0
    UNION ALL
    SELECT o_orderkey, o_orderpriority, 'none' FROM orders
    WHERE o_orderkey % 100 = 50
)
SELECT priority, flag, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(o_orderkey) AS BIGINT) AS key_sum
FROM ins GROUP BY priority, flag
""",
    tags=("engine", "A-source", "ddl", "spark4"),
)
def a30_insert_default_columns(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Column DEFAULT values on a parquet catalog table: CREATE TABLE
    with DEFAULTs, one INSERT naming only (o_orderkey) — the engine
    fills both defaults — and one naming (o_orderkey, priority) — only
    flag defaults. The oracle states the expanded values over the
    ORIGINAL orders table (the a15 trick: sink round-trip oracles never
    read the sink). pid-suffixed table name + DROP + location rmtree
    first (d50's stale-warehouse-dir gotcha); defaults resolve at
    INSERT time, so the stored parquet holds materialized values — a
    reader without the table schema sees the same data."""
    import os
    import shutil

    tab = f"pmfs_a30_defaults_{os.getpid()}"
    spark.sql(f"DROP TABLE IF EXISTS {tab}")
    loc = os.path.join(spark.conf.get("spark.sql.warehouse.dir")
                       .removeprefix("file:"), tab)
    shutil.rmtree(loc, ignore_errors=True)
    table(spark, sf_dir, "orders").createOrReplaceTempView("ord_a30")
    spark.sql(f"""
        CREATE TABLE {tab} (
            o_orderkey BIGINT,
            priority STRING DEFAULT 'UNKNOWN',
            flag STRING DEFAULT 'none'
        ) USING parquet
    """)
    spark.sql(f"""
        INSERT INTO {tab} (o_orderkey)
        SELECT o_orderkey FROM ord_a30 WHERE o_orderkey % 100 = 0
    """)
    spark.sql(f"""
        INSERT INTO {tab} (o_orderkey, priority)
        SELECT o_orderkey, o_orderpriority FROM ord_a30
        WHERE o_orderkey % 100 = 50
    """)
    return spark.sql(f"""
        SELECT priority, flag, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        FROM {tab} GROUP BY priority, flag
    """)


@register(
    "a31_metadata_columns",
    oracle="""
SELECT 'orders.parquet' AS file_name,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(o_orderkey) AS BIGINT) AS key_sum
FROM orders
""",
    tags=("engine", "A-source", "lineage"),
)
def a31_metadata_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hidden ``_metadata`` file columns on a parquet scan — per-file row
    lineage (which physical file produced each row) without a separate
    listing join: the debugging primitive for "which input file is
    corrupt/skewed/duplicated" at 100 TB, where a scan covers 10^5
    files. The column materializes scan-side per split (no shuffle, no
    extra IO — the reader already knows its file). Every sf_dir ships
    each table as ONE file with a constant basename, so the oracle
    states 'orders.parquet' literally (DuckDB's equivalent probe,
    read_parquet(filename=true) + parse_filename, verified identical);
    the Spark side still COMPUTES the name from _metadata.file_path —
    a wrong file association breaks the hash."""
    o = table(spark, sf_dir, "orders")
    return (o.select(
        F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1)
        .alias("file_name"), "o_orderkey")
        .groupBy("file_name")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"),
             F.sum("o_orderkey").cast("bigint").alias("key_sum")))
