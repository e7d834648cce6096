#!/usr/bin/env python
"""Generate PLAN_AUDIT.md: the physical-plan audit table for every bench
headline query — shuffles, join strategies, Python boundaries, top-k
pushdowns, and scan-level filter pushdown, extracted programmatically via
plans/audit.py (the same parser tests/test_plans.py gates on).

The table is the reviewable artifact behind the repo's scale claims: a
reader can confirm "no Cartesian products, no row-Python off-allowlist,
bounded shuffles, filters reach the scans" per query without re-running
.explain by hand. Regenerate after plan-affecting changes:

    cd /tmp && python <checkout>/scripts/gen_plan_audit.py
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark_ml_features_spark.session import get_spark  # noqa: E402

OUT = os.path.join(REPO, "PLAN_AUDIT.md")
MEASURED_MARKER = "\n## Measured runtime volumes"

HEADER = """# PLAN_AUDIT — physical-plan properties of the bench headline

Generated by `scripts/gen_plan_audit.py` (parser: `plans/audit.py`, the
module `tests/test_plans.py::test_registry_wide_scale_safety` gates the
whole registry with). Columns:

- **shuf** — `Exchange` nodes (hash/range/rebalance/single-partition);
  broadcast exchanges are not counted (they move dimension-sized data).
- **BHJ / SMJ / BNLJ / cart** — broadcast-hash, sort-merge,
  broadcast-nested-loop, Cartesian join counts. BNLJ > 0 only appears on
  allowlisted queries (single-row or bounded sides, documented in
  tests/test_plans.py::BNLJ_ALLOWED).
- **py** — Python boundaries: `row` (BatchEvalPython, allowlisted demos
  only), `arrow` (pandas/Arrow nodes, allowlisted operators only), `-`
  for JVM-only.
- **topk / WGL** — `TakeOrderedAndProject` / `WindowGroupLimit` present
  (bounded-sort pushdowns).
- **pushed** — at least one non-empty `PushedFilters` at a scan.

A dash means zero/absent. Streaming queries are excluded (their plans are
per-micro-batch; tests/test_streaming.py covers their semantics).

"""


def main() -> None:
    spark = get_spark(app_name="plan-audit", master="local[8]",
                      shuffle_partitions=16)

    import bench
    from pyspark_ml_features_spark import registry
    from pyspark_ml_features_spark.plans.audit import audit

    queries = registry.all_queries()
    rows = []
    for name in bench.HEADLINE:
        df = queries[name].fn(spark, "/root/testdata/sf0.01")
        a = audit(df)
        py = []
        if a.python_row_udfs:
            py.append("row")
        if a.arrow_python_nodes:
            py.append("arrow")
        rows.append(
            f"| {name} | {a.shuffles} | {a.broadcast_hash_joins or '-'} "
            f"| {a.sort_merge_joins or '-'} | {a.nested_loop_joins or '-'} "
            f"| {a.cartesian_products or '-'} | {'+'.join(py) or '-'} "
            f"| {'y' if a.take_ordered else '-'} "
            f"| {'y' if a.window_group_limits else '-'} "
            f"| {'y' if any(a.pushed_filters) else '-'} |")

    # preserve the measured-runtime section maintained by
    # scripts/measure_shuffle.py --write (different tool, same artifact)
    measured_tail = ""
    try:
        with open(OUT) as f:
            old = f.read()
        idx = old.find(MEASURED_MARKER)
        if idx != -1:
            measured_tail = old[idx:]
    except FileNotFoundError:
        pass

    with open(OUT, "w") as f:
        f.write(HEADER)
        f.write("| query | shuf | BHJ | SMJ | BNLJ | cart | py | topk "
                "| WGL | pushed |\n")
        f.write("|---|---:|---:|---:|---:|---:|---|---|---|---|\n")
        f.write("\n".join(rows) + "\n")
        if measured_tail:
            f.write(measured_tail)
    print(f"wrote {OUT} ({len(rows)} queries)")


if __name__ == "__main__":
    main()
