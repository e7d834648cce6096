"""Regenerate COVERAGE.md from the query registry: `python scripts/gen_coverage.py`."""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark_ml_features_spark import registry

HEADER = """# COVERAGE — declared query inventory

Auto-generated view of the registry (`pyspark_ml_features_spark/registry.py`);
one row per declared query in `__spark_entry__.queries()`. The SURVEY.md §2
operator IDs appear in the tags column; every `exact DuckDB oracle` row is
hash-verified by the driver at sf0.01 and by `tests/test_oracle_parity.py`.

The check column carries the CUMULATIVE driver grade from GRADES.json, the
frozen record of driver rounds r01–r14: `driver-green rN` = hash match in
round N; `ran clean rN` = rows-only query executed without error in round N
(the strongest possible grade for ✗-oracle queries: iterative ML fits, RNG,
approx sketches, streaming); `ungraded` = no driver grade (all such
queries are locally hash-verified by `scripts/drive_contract.py`).

Regenerate with: `python scripts/gen_coverage.py`.

| query | check | tags (SURVEY §2 ids) | summary |
|---|---|---|---|
"""


def driver_grades() -> dict[str, str]:
    """Best cumulative driver grade per query, keyed by query name."""
    with open(os.path.join(REPO, "GRADES.json")) as fh:
        return json.load(fh)


def render() -> str:
    """COVERAGE.md's text for the current registry and GRADES.json."""
    grades = driver_grades()
    rows = []
    for name, q in sorted(registry.all_queries().items()):
        oracle = "exact DuckDB oracle" if q.oracle else "rows-only"
        grade = grades.get(name, "ungraded")
        doc = (q.doc or "").split("\n")[0].strip()
        rows.append(f"| `{name}` | {oracle}; {grade} "
                    f"| {', '.join(q.tags)} | {doc} |")
    return HEADER + "\n".join(rows) + "\n"


def main() -> None:
    out = os.path.join(REPO, "COVERAGE.md")
    with open(out, "w") as fh:
        fh.write(render())
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
