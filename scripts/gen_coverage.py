"""Regenerate COVERAGE.md from the query registry: `python scripts/gen_coverage.py`."""

from __future__ import annotations

import glob
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark_ml_features_spark import registry

HEADER = """# COVERAGE — declared query inventory

Auto-generated view of the registry (`pyspark_ml_features_spark/registry.py`);
one row per declared query in `__spark_entry__.queries()`. The SURVEY.md §2
operator IDs appear in the tags column; every `exact DuckDB oracle` row is
hash-verified by the driver at sf0.01 and by `tests/test_oracle_parity.py`.

The check column carries the CUMULATIVE driver grade from CORRECTNESS_r*.json
(VERDICT r3 task 5 — so the r1 crash rows for b5/b8 can't be misread as the
latest state): `driver-green rN` = hash match in round N; `ran clean rN` =
rows-only query executed without error in round N (the strongest possible
grade for ✗-oracle queries: iterative ML fits, RNG, approx sketches,
streaming); `ungraded` = no driver grade yet (all such
queries are locally hash-verified by `scripts/drive_contract.py`).

Regenerate with: `python scripts/gen_coverage.py`.

| query | check | tags (SURVEY §2 ids) | summary |
|---|---|---|---|
"""


def driver_grades() -> dict[str, str]:
    """Best cumulative driver grade per query across all recorded rounds."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    green: dict[str, list[str]] = {}
    clean: dict[str, list[str]] = {}
    for path in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        rnd = os.path.basename(path)[len("CORRECTNESS_"):-len(".json")]
        with open(path) as fh:
            for name, row in json.load(fh).items():
                if row.get("hash_match"):
                    green.setdefault(name, []).append(rnd)
                elif row.get("err") in (None, "no_oracle"):
                    clean.setdefault(name, []).append(rnd)
    grades = {}
    for name, rounds in clean.items():
        grades[name] = f"ran clean {'/'.join(rounds)}"
    for name, rounds in green.items():  # green beats clean
        grades[name] = f"driver-green {'/'.join(rounds)}"
    return grades


def correctness_files() -> list[str]:
    """Basenames of every CORRECTNESS_r*.json on disk (the staleness key)."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return sorted(os.path.basename(p)
                  for p in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")))


def main() -> None:
    grades = driver_grades()
    rows = []
    for name, q in sorted(registry.all_queries().items()):
        oracle = "exact DuckDB oracle" if q.oracle else "rows-only"
        grade = grades.get(name, "ungraded")
        doc = (q.doc or "").split("\n")[0].strip()
        rows.append(f"| `{name}` | {oracle}; {grade} "
                    f"| {', '.join(q.tags)} | {doc} |")
    # Staleness stamp (VERDICT r6 task 1): record exactly which grade files
    # this inventory incorporated; tests/test_registry.py fails when a newer
    # CORRECTNESS_r*.json exists that this footer doesn't list.
    footer = ("\nIncorporated grade files: "
              + ", ".join(f"`{n}`" for n in correctness_files()) + "\n")
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "COVERAGE.md")
    with open(out, "w") as fh:
        fh.write(HEADER + "\n".join(rows) + "\n" + footer)
    print(f"wrote {out} ({len(rows)} queries)")


if __name__ == "__main__":
    main()
