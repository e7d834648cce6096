"""Sources: parquet / CSV / in-memory (SURVEY §2-A A1-A3).

Parquet is the primary path (self-describing schema, vectorized scan, row-group
predicate pushdown, column pruning — all free from Catalyst as long as the
plan stays declarative). CSV-with-inference is kept for parity with the
reference's loader (spark_ml_features.py:27); on real deployments prefer an
explicit schema so a 100 TB scan doesn't pay an inference pre-pass.

Parquet schemas are inferred once per process. Inference reads the file
footers in a Spark job, and every query build used to pay that job again
for each table it scans. ``parquet_scan`` keeps each inferred ``StructType``
in a memo and hands later reads the schema explicitly, which launches no
job. The memo key is (resolved path, the size, mtime and inode of every
file under it, the session confs that change parquet inference), so a
rewritten file or a flipped conf is inferred afresh instead of being served
a stale schema.
"""

from __future__ import annotations

import os
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


# Session confs that change the schema parquet inference returns.
INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)

_SCHEMAS: dict[tuple, StructType] = {}


def _file_stats(path: str) -> tuple:
    """(relative name, size, mtime_ns, inode) of ``path``, or of every file
    under it when it is a directory (a partitioned or multi-file table)."""
    if not os.path.isdir(path):
        st = os.stat(path)
        return (("", st.st_size, st.st_mtime_ns, st.st_ino),)
    stats = []
    for root, _, files in os.walk(path):
        for name in files:
            st = os.stat(os.path.join(root, name))
            stats.append((os.path.relpath(os.path.join(root, name), path),
                          st.st_size, st.st_mtime_ns, st.st_ino))
    return tuple(sorted(stats))


def parquet_scan(spark: SparkSession, path: str) -> DataFrame:
    """A3: parquet source. Filters/projections applied by callers reach the
    scan via Catalyst (verify with .explain: PushedFilters / ReadSchema).

    The first read of a path infers its schema (one footer-reading Spark
    job); later reads with the same memo key (resolved path, file stats,
    ``INFERENCE_CONFS`` values) pass the memoized schema to the reader and
    launch no job. Each call still returns a fresh relation, so two scans
    of one table self-join with distinct attribute ids.
    """
    resolved = os.path.realpath(path)
    # Stat before inferring: a file rewritten in between leaves a key that
    # no later stat matches, never a key paired with an older schema.
    key = (resolved, _file_stats(resolved),
           tuple(spark.conf.get(k) for k in INFERENCE_CONFS))
    schema = _SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = df.schema
    return df


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver table (TESTDATA.md) from a scale-factor directory.

    ``events.ts`` has shipped in two physical layouts across driver
    rounds: TIMESTAMP(NANOS) (rounds 1-2), which Spark's vectorized reader
    rejects outright — read nanos as long and truncate to microsecond
    timestamps, the same truncation DuckDB applies when narrowing
    TIMESTAMP_NS — and plain timestamp[us] (round 3+), which both engines
    read natively. Detect from the loaded dtype and convert only the
    legacy layout, and normalize TIMESTAMP_NTZ to session-local TIMESTAMP
    so downstream window/watermark code sees one type either way.

    Reads go through ``parquet_scan``, so a table's schema is inferred once
    per process and file version. The events branch sets ``nanosAsLong``
    before the scan reads the memo key, so the key records the conf the
    schema was inferred under.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = parquet_scan(spark, path)
        from pyspark.sql import functions as F

        ts_type = dict(df.dtypes)["ts"]
        if ts_type == "bigint":  # legacy nanos layout
            return df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        if ts_type == "timestamp_ntz":
            return df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return parquet_scan(spark, path)


def csv_scan(spark: SparkSession, path: str,
             schema: StructType | None = None, header: bool = True) -> DataFrame:
    """A1: CSV source; explicit schema avoids the inference pre-pass
    (reference infers: spark_ml_features.py:27)."""
    reader = spark.read.format("csv").option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.load(path)


def memory_source(spark: SparkSession, rows: Iterable, schema=None) -> DataFrame:
    """A2: in-memory rows / pandas DataFrame -> DataFrame (Arrow path when
    pandas; reference equivalent: spark_ml_features_local.py:36-55)."""
    return spark.createDataFrame(rows, schema=schema)
