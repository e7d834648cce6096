"""plans.advisor: the audit/metrics signals as actionable findings."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Window

from pyspark_ml_features_spark.plans.advisor import advise, assert_no_errors
from pyspark_ml_features_spark.plans.profile import Profile, profile
from pyspark_ml_features_spark.sources import table
from tests.conftest import SF_DIR


def _rules(findings):
    return {f.rule for f in findings}


def test_clean_aggregate_has_no_findings(spark):
    li = table(spark, SF_DIR, "lineitem")
    out = (li.filter(F.col("l_quantity") > 10)
           .groupBy("l_returnflag").agg(F.sum("l_quantity").alias("q")))
    assert advise(out) == []
    assert_no_errors(out)  # no raise


def test_cartesian_product_is_an_error(spark):
    a = table(spark, SF_DIR, "nation").select("n_nationkey")
    b = table(spark, SF_DIR, "region").select("r_regionkey")
    cross = a.crossJoin(b)
    rules = _rules(advise(cross))
    assert "cartesian-product" in rules or "nested-loop-join" in rules
    if "cartesian-product" in rules:
        with pytest.raises(AssertionError, match="cartesian"):
            assert_no_errors(cross)


def test_row_python_udf_is_an_error(spark):
    from pyspark.sql.types import DoubleType
    slow = F.udf(lambda x: x * 2.0, DoubleType())
    li = table(spark, SF_DIR, "lineitem").limit(10)
    out = li.select(slow("l_quantity").alias("d"))
    assert "row-python-udf" in _rules(advise(out))
    with pytest.raises(AssertionError, match="row-python-udf"):
        assert_no_errors(out)


def test_global_window_flagged_partitioned_window_not(spark):
    ev = table(spark, SF_DIR, "events")
    flagged = ev.withColumn(
        "r", F.row_number().over(Window.orderBy("ts", "event_id")))
    ok = ev.withColumn(
        "r", F.row_number().over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")))
    assert "single-partition-window" in _rules(advise(flagged))
    assert "single-partition-window" not in _rules(advise(ok))


def test_broadcast_hint_is_surfaced_for_review(spark):
    li = table(spark, SF_DIR, "lineitem")
    od = table(spark, SF_DIR, "orders")
    hinted = li.join(F.broadcast(od),
                     li.l_orderkey == od.o_orderkey).groupBy(
        "o_orderpriority").count()
    assert "broadcast-hints" in _rules(advise(hinted))


def _aggregate(spark):
    li = table(spark, SF_DIR, "lineitem")
    return li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("q"))


def test_executed_mode_reports_no_spill_on_small_data(spark):
    out = _aggregate(spark)
    rules = _rules(advise(out, profile=profile(spark, lambda: out.collect())))
    assert "spill" not in rules


def test_spill_in_the_profile_is_flagged(spark):
    spilled = Profile(spill_bytes=64 * 2 ** 20)
    assert "spill" in _rules(advise(_aggregate(spark), profile=spilled))


def test_shuffle_out_of_proportion_to_output_is_flagged(spark):
    fanned = Profile(shuffle_write_bytes=200 * 2 ** 20, scan_rows=10 ** 7,
                     output_rows=10)
    kept = Profile(shuffle_write_bytes=200 * 2 ** 20, scan_rows=10 ** 7,
                   output_rows=10 ** 6)
    out = _aggregate(spark)
    assert "shuffle-vs-output" in _rules(advise(out, profile=fanned))
    assert "shuffle-vs-output" not in _rules(advise(out, profile=kept))


def test_registry_headline_is_advisor_clean(built):
    """The bench headline must carry no error-severity findings — the
    advisor agrees with the registry's own plan gates. Frames come from
    the session build cache (r14): advise() only reads the plan, and the
    parity sweep re-uses the same builds."""
    import bench

    allowed_errors = {"d22_row_udf"}  # the documented anti-baseline demo
    for name in bench.HEADLINE:
        if name in allowed_errors:
            continue
        findings = advise(built(name, SF_DIR)[0])
        errors = [f for f in findings if f.severity == "error"]
        assert not errors, f"{name}: {[(f.rule, f.message) for f in errors]}"
