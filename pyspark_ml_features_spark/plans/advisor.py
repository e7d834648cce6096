"""Plan advisor: turn the audit/metrics signals into ACTIONABLE warnings.

`plans.audit` counts scale hazards; `plans.metrics` weighs them; this
module closes the loop for a user migrating pipelines onto the engine:
``advise(df)`` inspects a DataFrame's plans and returns concrete findings
("this window has no PARTITION BY over a large input — use
distributed_row_number", "row-at-a-time Python UDF in the hot path — use
a pandas UDF"), each tied to the repo operator or rewrite that fixes it.
The same rules the registry enforces via tests/test_plans.py, packaged as
a library call for pipelines built ON the engine.

Usage:
    from pyspark_ml_features_spark.plans.advisor import advise
    for f in advise(df):
        print(f.severity, f.rule, "-", f.message)

`advise` is static (plan-only, no execution). Pass ``executed=True``
after running an action to add runtime findings (spills, empty scans)
from the executed plan's SQLMetrics.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame

from pyspark_ml_features_spark.plans.audit import audit, plan_text
from pyspark_ml_features_spark.plans.metrics import runtime_metrics

SINGLE_PARTITION_WINDOW_ROWS = 1_000_000


@dataclass
class Finding:
    severity: str  # "error" | "warn" | "info"
    rule: str
    message: str


def advise(df: DataFrame, executed: bool = False) -> list[Finding]:
    a = audit(df)
    plan = plan_text(df)
    findings: list[Finding] = []

    if a.cartesian_products:
        findings.append(Finding(
            "error", "cartesian-product",
            f"{a.cartesian_products} CartesianProduct node(s): all-pairs "
            f"work that cannot scale. Add an equi-join key (banded "
            f"candidates for range/similarity joins - see "
            f"operators/dedup.py banding, d95 interval banding)."))
    if a.nested_loop_joins:
        findings.append(Finding(
            "warn", "nested-loop-join",
            f"{a.nested_loop_joins} BroadcastNestedLoopJoin(s): fine only "
            f"when one side is provably tiny (single-row aggregates, "
            f"bounded threshold tables). Otherwise rewrite the predicate "
            f"as an equi-join."))
    if a.python_row_udfs:
        findings.append(Finding(
            "error", "row-python-udf",
            f"{a.python_row_udfs} BatchEvalPython node(s): row-at-a-time "
            f"Python serializes every row through pickle (~10-100x slower "
            f"than Arrow). Use @pandas_udf / mapInPandas / mapInArrow "
            f"(see operators/python_udfs.py for the spectrum)."))

    # single-partition window: a Window operator whose partition spec is
    # empty sorts ALL rows in one task. The formatted plan prints the
    # window spec; an ordered spec with no partitioning shows as
    # "windowspecdefinition(<order>, specifiedwindowframe..." with no
    # leading partition columns before the sort spec's ASC/DESC marker.
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        spec = m.group(1)
        head = spec.split(",")[0].strip()
        if ("ASC" in head or "DESC" in head) or head.startswith(
                "specifiedwindowframe"):
            findings.append(Finding(
                "warn", "single-partition-window",
                "Window with empty PARTITION BY: every row flows through "
                "one task - stops existing at scale. For global ranks use "
                "distributed_row_number/distributed_prefix_sum "
                "(operators/relational.py); for quantiles use "
                "exact_quantiles_banded (operators/scaling.py) or "
                "approx_percentile."))
            break

    # unpushed scans: scans that report an empty PushedFilters while a
    # Filter node sits in the plan - the filter may be a post-scan residual
    # (fine) or a pushdown-defeating expression (cast/udf around the
    # column). Surface as info for review.
    if plan.count("Filter") and a.pushed_filters and not any(
            a.pushed_filters):
        findings.append(Finding(
            "info", "no-pushed-filters",
            "Plan filters rows but no scan reports PushedFilters: check "
            "the predicate isn't wrapped in an expression that defeats "
            "pushdown (function call or cast AROUND the column instead of "
            "the literal side)."))

    n_hints = df._jdf.queryExecution().analyzed().toString().count(
        "ResolvedHint")
    if n_hints:
        findings.append(Finding(
            "info", "broadcast-hints",
            f"{n_hints} explicit broadcast hint(s): a hint pins the "
            f"relation to driver/executor memory at EVERY scale. Keep "
            f"hints only on provably bounded sides (fixed dimensions, "
            f"single-row aggregates, geometry-bounded sketch states); "
            f"drop them on anything that grows with the data and let AQE "
            f"decide from runtime sizes."))

    if executed:
        m = runtime_metrics(df)
        if m.spill_bytes:
            findings.append(Finding(
                "warn", "spill",
                f"{m.spill_bytes / 1048576:.1f} MiB spilled: correct but "
                f"slow. Raise spark.sql.shuffle.partitions (smaller "
                f"per-task state) or executor memory; for skewed keys see "
                f"functions/skew.py."))
        if m.shuffle_bytes_written and m.output_rows and \
                m.scan_output_rows and \
                m.shuffle_bytes_written > 100 * 1048576 and \
                m.output_rows < m.scan_output_rows // 1000:
            findings.append(Finding(
                "info", "shuffle-vs-output",
                f"{m.shuffle_bytes_written / 1048576:.0f} MiB shuffled to "
                f"produce {m.output_rows} rows: check whether aggregation "
                f"or filtering can move below the shuffle (partial "
                f"aggregation, pre-filtering, semi-join pushdown)."))
    return findings


def assert_no_errors(df: DataFrame) -> list[Finding]:
    """Raise if any error-severity finding exists; return all findings."""
    findings = advise(df)
    errors = [f for f in findings if f.severity == "error"]
    if errors:
        raise AssertionError(
            "plan advisor errors: "
            + "; ".join(f"[{f.rule}] {f.message}" for f in errors))
    return findings
