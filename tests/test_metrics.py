"""observe()-based quality metrics (counters ride the running action),
and run profiles read from Spark's status stores."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from pyspark_ml_features_spark.functions.metrics import (
    assert_quality, observed_quality)
from pyspark_ml_features_spark.plans.audit import plan_text, probe_checkpoint
from pyspark_ml_features_spark.plans.profile import (
    MIB, metric_max, metric_value, profile)
from pyspark_ml_features_spark.registry import all_queries
from pyspark_ml_features_spark.sources import table
from tests.conftest import SF_DIR


def test_observed_quality_matches_direct_aggregates(spark):
    o = table(spark, SF_DIR, "orders")
    df, obs = observed_quality(
        o, "o_custkey", "o_orderstatus",
        extra={"total_price": F.round(F.sum("o_totalprice"), 2)})
    n = df.count()  # the action the metrics piggyback on
    m = obs.get
    assert m["n_rows"] == n
    assert m["n_null_o_custkey"] == 0
    assert m["n_null_o_orderstatus"] == 0
    direct = o.agg(F.round(F.sum("o_totalprice"), 2)).collect()[0][0]
    assert m["total_price"] == direct


def test_observed_metrics_survive_downstream_transforms(spark):
    """Metrics observe the point in the plan where they're attached, even
    when the action runs on a transformed descendant."""
    li = table(spark, SF_DIR, "lineitem")
    df, obs = observed_quality(li, "l_partkey")
    out = (df.filter(F.col("l_quantity") > 25)
           .groupBy("l_returnflag").count())
    out.collect()
    assert obs.get["n_rows"] == li.count()  # pre-filter count


def test_assert_quality_gates(spark):
    good = {"n_rows": 100, "n_null_a": 0}
    assert_quality(good)  # no raise
    with pytest.raises(ValueError, match="n_rows"):
        assert_quality({"n_rows": 0})
    with pytest.raises(ValueError, match="n_null_a"):
        assert_quality({"n_rows": 100, "n_null_a": 7})
    assert_quality({"n_rows": 100, "n_null_a": 7}, max_null_fraction=0.1)


# --- run profiles (plans.profile) ----------------------------------------

def _noop_write(df):
    df.write.format("noop").mode("overwrite").save()


def test_metric_max_reads_one_task():
    """The per-task peak is the block's max field, or the value itself
    when one task reported; the summed total stays metric_value's."""
    block = ("total (min, med, max (stageId: taskId))\n"
             "257.0 MiB (64.2 MiB, 64.2 MiB, 64.2 MiB (stage 4.0: task 5))")
    assert metric_max(block) == round(64.2 * MIB)
    assert metric_value(block) == 257 * MIB
    assert metric_max("65.0 MiB") == 65 * MIB


def test_profile_aggregate_query(spark):
    """A shuffling aggregate reports real shuffle bytes, the scan row
    count, and the result cardinality; it runs as one map and one result
    stage."""
    li = table(spark, SF_DIR, "lineitem")
    n_in = li.count()
    out = li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("q"))
    rows = []
    p = profile(spark, lambda: rows.extend(out.collect()))
    assert p.shuffle_write_bytes > 0
    assert p.stages == 2 and p.executions == 1
    assert p.scan_rows == n_in
    assert p.output_rows == len(rows)
    assert p.spill_bytes == 0  # sf0.01 fits in memory with room to spare
    assert p.row()["out_rows"] == len(rows)


def test_profile_broadcast_kept_apart_from_shuffle(spark):
    """A broadcast join reports the broadcast relation's bytes, and they
    are not shuffle bytes: only the tiny grouped aggregate shuffles."""
    li = table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    od = table(spark, SF_DIR, "orders").select("o_orderkey", "o_orderpriority")
    j = (li.join(F.broadcast(od), li.l_orderkey == od.o_orderkey)
         .groupBy("o_orderpriority").count())
    p = profile(spark, lambda: j.collect())
    assert p.broadcast_bytes > 0
    assert 0 < p.shuffle_write_bytes < p.broadcast_bytes / 100


def test_profile_reused_exchange_counted_once(spark):
    """A union of one aggregate with itself reuses the aggregate's
    exchange: the run writes the same shuffle bytes in the same stages as
    the aggregate alone."""
    li = table(spark, SF_DIR, "lineitem")
    agg = li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("q"))
    both = agg.union(agg)
    single = profile(spark, lambda: agg.collect())
    reused = profile(spark, lambda: both.collect())
    assert "ReusedExchange" in plan_text(both)
    assert reused.shuffle_write_bytes == single.shuffle_write_bytes > 0
    assert reused.stages == single.stages == 2


def test_profile_counts_build_time_checkpoint(spark):
    """An exchange that runs inside a build-time probe_checkpoint is in
    the record with no capture context: the run's later execution reads
    the checkpoint and shuffles nothing itself."""
    li = table(spark, SF_DIR, "lineitem")
    n_in = li.count()

    def run():
        agg = probe_checkpoint(
            li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("q")))
        _noop_write(agg.filter(F.col("q") > 1))

    p = profile(spark, run)
    assert p.executions == 2
    assert p.shuffle_write_bytes > 0
    assert p.scan_rows == n_in  # the source scan ran in the checkpoint


def test_count_and_noop_write_profiled_like_collect(spark):
    """The record does not depend on which action ran the query: a noop
    write reads the same as a collect, and a count() still sees the
    aggregate's scan and shuffle."""
    li = table(spark, SF_DIR, "lineitem")
    out = li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("q"))
    collected = profile(spark, lambda: out.collect())
    written = profile(spark, lambda: _noop_write(out))
    counted = profile(spark, lambda: out.count())
    assert written.row() == collected.row()
    assert written.stages == collected.stages
    assert counted.scan_rows == collected.scan_rows
    assert counted.shuffle_write_bytes > 0


def test_profile_agrees_with_perfbench_tracer(spark, monkeypatch):
    """The engine's reader and perfbench's Tracer read the same stores the
    same way: on d36 and e38 in one session they report the same
    shuffle-write bytes and stages. Each takes its own run (both attribute
    jobs through a job group, so they cannot share one); a warm-up run
    first settles the per-session table memo. One Tracer serves both
    queries, as in a perfbench pass: its job-group names are unique only
    within one Tracer."""
    monkeypatch.syspath_prepend(
        os.path.join(os.path.dirname(os.path.dirname(__file__)), "perfbench"))
    import tracing

    tracer = tracing.Tracer()
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    tracer.attach(spark, jvm_pid)
    for name in ("d36_tpch_q3_shipping_priority", "e38_rollup_merge_upsert"):
        fn = all_queries()[name].fn

        def run():
            _noop_write(fn(spark, SF_DIR))

        run()
        with tracer.span("query", qid=name), \
                tracer.span("exec.write", group=True):
            run()
        tracer.end_query(name)
        traced = tracer.per_query[name]
        p = profile(spark, run)
        assert p.shuffle_write_bytes == traced["shuffle_write_bytes"] > 0, name
        assert p.stages == traced["stages"], name
