"""Focused tests for functions/skew.py::fan_out (OPTIMIZATION r13).

The helper's contract has three load-bearing properties:
1. it is a NO-OP when the input already has >= defaultParallelism
   partitions (the 100 TB posture: a multi-split scan never pays it);
2. it spreads an unsplittable (single-partition) input across the
   scheduler's default parallelism — derived from the runtime, never a
   constant;
3. it never changes WHAT is computed — only where rows sit.

The partition-count gate is read once per relation: a frame of Project and
Filter nodes over one file relation reuses the count, any other frame
plans itself on every call.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from pyspark_ml_features_spark.functions.skew import fan_out
from pyspark_ml_features_spark.plans.profile import profile
from pyspark_ml_features_spark.sources import table


def test_fan_out_spreads_single_partition_scan(spark):
    from tests.conftest import SF_DIR

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id")
    assert d.rdd.getNumPartitions() == 1, (
        "fixture premise: single-row-group file scans as one partition")
    spread = fan_out(d, "doc_id")
    assert (spread.rdd.getNumPartitions()
            == spark.sparkContext.defaultParallelism)


def test_fan_out_noop_when_already_parallel(spark):
    n = spark.sparkContext.defaultParallelism
    df = spark.range(0, 1000, 1, n + 4)
    assert fan_out(df, "id") is df, (
        "an input with >= defaultParallelism partitions must pass "
        "through untouched (the cluster-scan no-op posture)")


def test_fan_out_preserves_rows_exactly(spark):
    from collections import Counter

    from tests.conftest import SF_DIR

    # Counter, not set: an exchange that dropped or duplicated a row whose
    # exact duplicate survives would pass a set comparison (ADVICE r13).
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    base = Counter(tuple(r) for r in d.collect())
    spread = Counter(tuple(r) for r in fan_out(d, "doc_id").collect())
    assert base == spread


@pytest.fixture
def gate_reads(spark, monkeypatch):
    """The frames whose ``.rdd`` the code under test built, in order."""
    reads = []
    frame_class = type(spark.range(0))  # pyspark.sql.classic's DataFrame
    rdd = frame_class.rdd

    def counted(df):
        reads.append(df)
        return rdd.func(df)  # a functools.cached_property

    monkeypatch.setattr(frame_class, "rdd", property(counted))
    return reads


def _spreads(df, n):
    return df.rdd.getNumPartitions() < n


def test_gate_is_read_once_per_relation(spark, gate_reads):
    from tests.conftest import SF_DIR

    n = spark.sparkContext.defaultParallelism
    first = table(spark, SF_DIR, "documents").select("doc_id")
    out = fan_out(first, "doc_id")
    expected = _spreads(first, n)
    assert (out is not first) == expected
    gate_reads.clear()

    # another read of the same file, as e115/e116 shape it
    again = (table(spark, SF_DIR, "documents").withColumn("k", F.col("doc_id") % 5)
             .filter(F.col("k") == 0).select("doc_id", "text"))
    record = profile(spark, lambda: fan_out(again, "doc_id"))
    assert not gate_reads, "a memo hit built an RDD"
    assert record.jobs == 0 and record.executions == 0
    # the count, not the decision, is kept: another n decides afresh
    assert fan_out(again, min_partitions=1) is again
    assert fan_out(again, min_partitions=10 ** 6) is not again
    assert not gate_reads
    assert (fan_out(again, "doc_id") is not again) == expected


def test_rewritten_file_reads_the_gate_again(spark, tmp_path, gate_reads):
    from tests.conftest import SF_DIR

    path = tmp_path / "nation.parquet"
    path.mkdir()
    shutil.copy(f"{SF_DIR}/nation.parquet", path / "part-0.parquet")
    before = table(spark, str(tmp_path), "nation")
    fan_out(before, min_partitions=2)
    fan_out(table(spark, str(tmp_path), "nation"), min_partitions=2)
    assert len(gate_reads) == 1

    shutil.copy(f"{SF_DIR}/nation.parquet", path / "part-1.parquet")
    after = table(spark, str(tmp_path), "nation")
    out = fan_out(after, min_partitions=2)
    assert len(gate_reads) == 2, "a rewritten file was served the old count"
    assert (out is not after) == _spreads(after, 2)


def test_split_confs_are_part_of_the_gate_key(spark, gate_reads):
    from tests.conftest import SF_DIR

    n = spark.sparkContext.defaultParallelism
    fan_out(table(spark, SF_DIR, "documents"), "doc_id")
    gate_reads.clear()
    size = os.path.getsize(f"{SF_DIR}/documents.parquet")
    try:
        # quarter-file splits: the scan reads as several partitions
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(size // 4))
        spark.conf.set("spark.sql.files.openCostInBytes", "1")
        d = table(spark, SF_DIR, "documents")
        out = fan_out(d, "doc_id")
        assert len(gate_reads) == 1 and gate_reads[0] is d, \
            "a split conf change was served the old count"
        assert d.rdd.getNumPartitions() > 1
        assert (out is not d) == _spreads(d, n)
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
        spark.conf.unset("spark.sql.files.openCostInBytes")


def test_new_session_has_a_gate_memo_of_its_own(spark, gate_reads):
    from tests.conftest import SF_DIR

    fan_out(table(spark, SF_DIR, "documents"), "doc_id")
    gate_reads.clear()
    other = spark.newSession()
    d = table(other, SF_DIR, "documents")
    fan_out(d, "doc_id")
    assert len(gate_reads) == 1 and gate_reads[0] is d
    assert other._pmfs_partition_counts is not spark._pmfs_partition_counts


@pytest.mark.parametrize("shape", ["join", "repartition", "range"])
def test_other_frames_read_the_gate_on_every_call(spark, gate_reads, shape):
    from tests.conftest import SF_DIR

    n = spark.sparkContext.defaultParallelism

    def frame():
        if shape == "range":
            return spark.range(0, 1000, 1, n + 4)
        d = table(spark, SF_DIR, "documents")
        if shape == "repartition":
            return d.repartition(8)
        return d.join(table(spark, SF_DIR, "nation"),
                      F.col("doc_id") == F.col("n_nationkey"))

    for _ in range(2):
        df = frame()
        out = fan_out(df, "doc_id" if shape != "range" else "id")
        assert gate_reads[-1] is df, f"the {shape} frame was served a memo"
        assert (out is not df) == _spreads(df, n)
    assert len(gate_reads) == 4  # each call's gate and each check's
