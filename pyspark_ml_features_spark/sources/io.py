"""Sources: parquet / CSV / in-memory (SURVEY §2-A A1-A3).

Parquet is the primary path (self-describing schema, vectorized scan, row-group
predicate pushdown, column pruning — all free from Catalyst as long as the
plan stays declarative). CSV-with-inference is kept for parity with the
reference's loader (spark_ml_features.py:27); on real deployments prefer an
explicit schema so a 100 TB scan doesn't pay an inference pre-pass.

Each parquet relation is resolved once per session. Resolving one looks up
the data source, lists the files, copies the Hadoop conf and, on a first
read, infers the schema in a Spark job; every query build used to pay that
again for each table it scans. ``parquet_scan`` keeps each resolved
relation's analyzed plan on the SparkSession object and hands later reads
a new instance of it: the same relation with fresh attribute ids, so no job
runs and nothing is listed or resolved again. The memo key is (resolved
path, the size, mtime and inode of every file under it, the session confs
that change parquet inference), so a rewritten file or a flipped conf is
resolved afresh instead of being served a stale relation. A relation holds
the session it was resolved in, so ``spark.newSession()`` starts an empty
memo of its own.
"""

from __future__ import annotations

import os
from collections.abc import Iterable

from py4j.java_gateway import JavaClass
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

    The first read of a path in a session resolves its relation (and infers
    its schema in one footer-reading Spark job) and memoizes the analyzed
    plan on ``spark`` under (resolved path, file stats, ``INFERENCE_CONFS``
    values). A later read with the same key returns
    ``Dataset.ofRows(session, plan.newInstance())``: the memoized relation
    with fresh attribute ids, so two scans of one table self-join, and no
    job, file listing or data source lookup.
    """
    resolved = os.path.realpath(path)
    # Stat before resolving: a file rewritten in between leaves a key that
    # no later stat matches, never a key paired with an older relation.
    key = (resolved, _file_stats(resolved),
           tuple(spark.conf.get(k) for k in INFERENCE_CONFS))
    relations = getattr(spark, "_pmfs_relations", None)
    if relations is None:
        relations = spark._pmfs_relations = {}
    plan = relations.get(key)
    if plan is None:
        # read the key's path: a relation holding a symlink's path breaks
        # every later read of the file once the link is removed
        df = spark.read.parquet(resolved)
        relations[key] = df._jdf.queryExecution().analyzed()
        return df
    # built directly: spark._jvm.org.apache... costs a round trip per dot
    dataset = JavaClass("org.apache.spark.sql.classic.Dataset", spark._jvm._gateway_client)
    return DataFrame(dataset.ofRows(spark._jsparkSession, plan.newInstance()), spark)


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

    Reads go through ``parquet_scan``, so a table's relation is resolved
    once per session and file version, and each later call gets a new
    instance of it. The events branch sets ``nanosAsLong`` before the scan
    reads the memo key, so the key records the conf the relation was
    resolved under.
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
