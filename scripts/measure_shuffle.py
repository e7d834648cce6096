"""Profiled shuffle/spill/broadcast/peak-memory volumes of bench.py HEADLINE
queries (`plans.profile` over each query's build AND noop write, so the
exchanges inside build-time checkpoints and caches count).

Prints the MEASURED block of tests/test_shuffle_budget.py in the units of
its pins: shuffle MiB, and the most one task held in one operator, in the
session's memory pages (`Profile.peak_node_task_memory / page_bytes`; the
page size follows the core count and the heap, a page count does not).
Re-calibrate the gate by pasting it, never by hand-tweaking one entry.
With --write it also replaces PLAN_AUDIT.md's "Measured runtime volumes"
table (scripts/gen_plan_audit.py keeps that section).

Usage: `python scripts/measure_shuffle.py [--write] [names...]`
(scale from $SPARK_GRAFT_SF_DIR, default sf0.01, the budget scale).
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import HEADLINE  # noqa: E402
from pyspark_ml_features_spark import registry  # noqa: E402
from pyspark_ml_features_spark.plans.profile import profile  # noqa: E402
from pyspark_ml_features_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
PLAN_AUDIT = os.path.join(REPO, "PLAN_AUDIT.md")
MARKER = "\n## Measured runtime volumes"
COLUMNS = ("shuffle_MiB", "broadcast_MiB", "spill_MiB", "peak_node_MiB",
           "peak_task_MiB", "peak_node_task_pages", "scan_rows", "out_rows")


def main() -> None:
    names = [a for a in sys.argv[1:] if a != "--write"] or HEADLINE
    spark = get_spark(app_name="measure-shuffle")
    qs = registry.all_queries()
    profiles = {name: profile(spark, lambda: qs[name].fn(spark, SF_DIR).write
                              .format("noop").mode("overwrite").save())
                for name in names}
    spark.stop()
    rows = {name: p.row() for name, p in profiles.items()}
    page_mib = max(p.page_bytes for p in profiles.values()) / 2 ** 20

    print("# measured at", SF_DIR, f"with {page_mib:.3g} MiB pages")
    print("MEASURED = {  # query: (shuffle_MiB, peak_pages)")
    for name, r in rows.items():
        print(f'    "{name}": ({r["shuffle_MiB"]:.2f}, '
              f'{r["peak_node_task_pages"]:.2f}),  # spill {r["spill_MiB"]}')
    print("}")
    spills = {n: r["spill_MiB"] for n, r in rows.items() if r["spill_MiB"]}
    print(f"# queries with spill: {spills or 'none'}")
    if "--write" not in sys.argv:
        return

    table = ["| query | " + " | ".join(c.replace("_", " ") for c in COLUMNS)
             + " |", "|---|" + "---:|" * len(COLUMNS)]
    table += [f"| {name} | " + " | ".join(str(r[c]) for c in COLUMNS) + " |"
              for name, r in rows.items()]
    total = round(sum(r["shuffle_MiB"] for r in rows.values()), 2)
    section = (
        f"{MARKER} ({os.path.basename(SF_DIR.rstrip('/'))})\n\n"
        "Per headline query, over its build and its noop write "
        "(`plans/profile.py`; regenerate with "
        "`python scripts/measure_shuffle.py --write`). `shuffle MiB` is "
        "bytes written by every shuffle stage, build-time checkpoints "
        "included; `peak node MiB` is the largest operator peak memory "
        "summed over its tasks, `peak task MiB` the most one task held, "
        "`peak node task pages` the most one task held in one operator, in "
        f"the session's {page_mib:.3g} MiB memory pages (the budget gate's "
        "unit); a non-zero `spill MiB` anywhere is a memory-sizing bug at "
        "this SF.\n\n"
        + "\n".join(table)
        + f"\n\nHeadline total shuffle: {total} MiB; "
        f"queries that spill: {spills or 'none'}.\n")
    with open(PLAN_AUDIT) as f:
        doc = f.read()
    idx = doc.find(MARKER)
    head = doc[:idx] if idx != -1 else doc.rstrip("\n") + "\n"
    with open(PLAN_AUDIT, "w") as f:
        f.write(head + section)
    print(f"updated {PLAN_AUDIT}")


if __name__ == "__main__":
    main()
