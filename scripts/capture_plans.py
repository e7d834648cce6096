#!/usr/bin/env python
"""Capture .explain("formatted") for headline queries into plans/<tag>/.

Usage: python scripts/capture_plans.py <tag> [query ...]
Writes plans/<tag>/<query>_<suffix>.txt (suffix from $PLAN_SUFFIX,
default "before"), with expression ids, plan ids and RDD ids replaced by
a placeholder so two captures of unchanged code are byte-identical.
plans/ is git-ignored: captures are for diffing, not for committing.
explain("formatted") itself is plan-time only, BUT
building a query that routes through probe_checkpoint (eager
localCheckpoint — e.g. e102/e103 via doc_hashes, d106 via
distributed_row_number) executes its pre-checkpoint stages at
construction time, so do NOT run this alongside timing work.
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark_ml_features_spark import registry  # noqa: E402
from pyspark_ml_features_spark.session import get_spark  # noqa: E402


# session counters that shift with whatever the process built earlier
SESSION_IDS = re.compile(r"(#|plan_id=|RDD\[)\d+")


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    tag = sys.argv[1]
    suffix = os.environ.get("PLAN_SUFFIX", "before")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", tag)
    os.makedirs(out_dir, exist_ok=True)

    import bench
    names = sys.argv[2:] or bench.HEADLINE

    spark = get_spark(app_name="spark-graft-plan-capture")
    queries = registry.all_queries()
    for name in names:
        df = queries[name].fn(spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(SESSION_IDS.sub(r"\1N", buf.getvalue()))
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
