"""Plan advisor: turn the audit/metrics signals into ACTIONABLE warnings.

`plans.audit` counts scale hazards; `plans.profile` weighs them; this
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

`advise` is static (plan-only, no execution). Pass the record of a run,
``advise(df, profile=profile(spark, run))``, to add runtime findings
(spills, shuffle volume out of proportion to the output).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame

from pyspark_ml_features_spark.plans.audit import audit, plan_text
from pyspark_ml_features_spark.plans.profile import Profile


@dataclass
class Finding:
    severity: str  # "error" | "warn" | "info"
    rule: str
    message: str


def advise(df: DataFrame, profile: Profile | None = None) -> list[Finding]:
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

    if profile is not None:
        if profile.spill_bytes:
            findings.append(Finding(
                "warn", "spill",
                f"{profile.spill_bytes / 1048576:.1f} MiB spilled: correct "
                f"but slow. Raise spark.sql.shuffle.partitions (smaller "
                f"per-task state) or executor memory; for skewed keys see "
                f"functions/skew.py."))
        if profile.output_rows and profile.scan_rows and \
                profile.shuffle_write_bytes > 100 * 1048576 and \
                profile.output_rows < profile.scan_rows // 1000:
            findings.append(Finding(
                "info", "shuffle-vs-output",
                f"{profile.shuffle_write_bytes / 1048576:.0f} MiB shuffled to "
                f"produce {profile.output_rows} rows: check whether "
                f"aggregation or filtering can move below the shuffle "
                f"(partial aggregation, pre-filtering, semi-join "
                f"pushdown)."))
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
