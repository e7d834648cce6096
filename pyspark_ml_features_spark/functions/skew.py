"""Skew mitigation: salted joins (the manual fallback when AQE's skew-join
split isn't enough — e.g. one key holding >50% of a 100 TB fact table),
plus :func:`fan_out` for the degenerate skew of an unsplittable input
(all rows in one scan task).

Mechanism: append a salt in [0, n) to the skewed (large) side, replicate the
small side once per salt value, join on (key, salt). The hot key's rows
spread across n tasks; result is identical to the plain join.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from py4j.java_gateway import JavaClass
from pyspark.sql import DataFrame, SparkSession

SALT_COL = "__salt"

#: Session confs that change how a file relation splits into partitions.
SPLIT_CONFS = (
    "spark.sql.files.maxPartitionBytes",
    "spark.sql.files.openCostInBytes",
    "spark.sql.files.minPartitionNum",
    "spark.sql.files.maxPartitionNum",
    "spark.sql.leafNodeDefaultParallelism",
)
_FILE_RELATION = "org.apache.spark.sql.execution.datasources.HadoopFsRelation"


def _scan_relation(df: DataFrame):
    """The relation ``df`` reads when its analyzed plan is Project and
    Filter nodes over one non-partitioned, unbucketed file relation;
    otherwise None."""
    plan = df._jdf.queryExecution().analyzed()
    name = plan.nodeName()
    while name in ("Project", "Filter"):
        plan = plan.child()
        name = plan.nodeName()
    if name != "LogicalRelation":
        return None
    relation = plan.relation()
    if (relation.getClass().getName() != _FILE_RELATION
            or not relation.partitionSchema().isEmpty()
            or not relation.bucketSpec().isEmpty()):
        return None
    return relation


def _partition_count(spark: SparkSession, df: DataFrame) -> int:
    """``df.rdd.getNumPartitions()``, read once per relation and split
    conf values in ``spark`` for a frame ``_scan_relation`` accepts."""
    relation = _scan_relation(df)
    if relation is None:
        return df.rdd.getNumPartitions()
    memo = getattr(spark, "_pmfs_partition_counts", None)
    if memo is None:
        memo = spark._pmfs_partition_counts = {}
    key = tuple(spark.conf.get(k) for k in SPLIT_CONFS)
    counts = memo.get(key)
    if counts is None:
        # keyed by JVM identity: a relation's equals compares root paths,
        # which a file rewritten in place keeps
        client = spark._jvm._gateway_client
        counts = memo[key] = JavaClass("java.util.Collections", client).synchronizedMap(
            JavaClass("java.util.IdentityHashMap", client)())
    count = counts.get(relation)
    if count is None:
        count = df.rdd.getNumPartitions()
        counts.put(relation, count)
    return count


def fan_out(df: DataFrame, *key_cols: str,
            min_partitions: int | None = None) -> DataFrame:
    """Spread a CPU-bound stage across all cores when the upstream scan
    cannot split — the 'input skew' fix of the optimization playbook
    (one unsplittable input → one task, so per-row-expensive work
    serializes on a single core while the rest of the machine idles).

    A single-row-group parquet file is unsplittable in exactly the gzip
    sense: Spark assigns each row group to the split holding its
    midpoint, so extra splits read zero rows. The driver tables ship as
    one single-row-group file each, which pins every pre-shuffle map
    stage to ONE task regardless of core count.

    Scale posture: ``min_partitions`` defaults to the scheduler's
    ``defaultParallelism`` — derived from the runtime, never a constant
    — and the exchange is a NO-OP whenever the input already has that
    many partitions, which a 100 TB scan (thousands of splits) always
    does. The repartition is therefore only ever paid on unsplittable
    or tiny inputs feeding expensive compute, where one exchange of the
    (small) input is repaid ~core-count-fold by the parallel stage
    above it.

    Pass ``key_cols`` (a high-cardinality key — ≥20× more distinct
    values than partitions, per the synthetic-key rule) to hash-
    partition instead of round-robin: a deterministic hash key is
    retry-safe without the local sort round-robin pays
    (``spark.sql.execution.sortBeforeRepartition``, SPARK-23207), so
    the exchange adds no sorter page reservation. Results never depend
    on partitioning for the value-determined operators this engine
    registers.

    Call this DIRECTLY on a scan (or a scan + narrow projection), not
    mid-lineage: the ``df.rdd.getNumPartitions()`` gate plans, code-
    generates and closure-cleans the upstream frame (tens of ms) and
    reflects plan-time (pre-AQE) partitioning — correct for a raw scan,
    potentially misleading after a shuffle (ADVICE r13).

    The gate is read once per relation. A frame whose analyzed plan is
    ``Project`` and ``Filter`` nodes over one file relation
    (``HadoopFsRelation``) with no partition columns and no buckets has
    its scan's partition count: the count depends only on that relation's
    files and the split confs (``SPLIT_CONFS``). ``table()`` hands every
    read of an unchanged file in a session the same relation, so the
    count is kept on the session per relation (by JVM identity) and split
    conf values, and a later call with the same key plans nothing,
    whatever its ``n``. A rewritten file gets a new relation,
    ``spark.newSession()`` a memo of its own, and any other frame (a
    join, a shuffle, a range, a partitioned or bucketed table) pays
    ``getNumPartitions()`` on every call. A filter the optimizer folds to
    an empty relation is still counted as its scan; only where rows sit
    can differ, never the rows.
    """
    spark = df.sparkSession
    n = min_partitions or spark.sparkContext.defaultParallelism
    if _partition_count(spark, df) >= n:
        return df
    if key_cols:
        return df.repartition(n, *[F.col(c) for c in key_cols])
    return df.repartition(n)


def salted_join(large: DataFrame, small: DataFrame, on: str,
                n_salts: int = 8, how: str = "inner",
                seed: int = 42) -> DataFrame:
    """Join ``large ⋈ small`` on column ``on`` with salting.

    The salt is random (seeded) — correctness never depends on which salt a
    row gets, only that each (key, salt) pair meets its replicated partner.

    Only ``inner`` and ``left`` are equivalent to the plain join: replicating
    the small side n_salts times would emit each unmatched small-side row
    once per salt under right/full outer semantics, and semi/anti flip
    meaning entirely.
    """
    if how not in ("inner", "left"):
        raise ValueError(
            f"salted_join supports how='inner'|'left' (got {how!r}): the "
            f"replicated small side breaks right/full/semi/anti semantics")
    salted_large = large.withColumn(
        SALT_COL, F.floor(F.rand(seed) * n_salts).cast("int"))
    salts = F.explode(
        F.sequence(F.lit(0), F.lit(n_salts - 1))).alias(SALT_COL)
    replicated_small = small.select("*", salts)
    out = salted_large.join(replicated_small, [on, SALT_COL], how)
    return out.drop(SALT_COL)
