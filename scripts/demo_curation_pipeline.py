#!/usr/bin/env python
"""Runnable demo of the composed curation pipeline (pipeline.curate):
documents in, packed + split training corpus out, with the funnel
report a curation run files. See tests/test_pipeline.py for the
invariant contract each stage's end state satisfies.

Run: cd /tmp && python <checkout>/scripts/demo_curation_pipeline.py \
         [sf_dir=/root/testdata/sf0.01]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from pyspark_ml_features_spark.pipeline import curate, funnel_report
    from pyspark_ml_features_spark.session import get_spark, tune_session

    spark = tune_session(get_spark(app_name="curation-pipeline-demo"))

    r = curate(spark, sf_dir)
    print(funnel_report(r))
    n_packs = (r["packed"].select("lang", "shard", "bin_id")
               .distinct().count())
    fill = (r["packed"].groupBy("lang", "shard", "bin_id")
            .agg(F.sum("n_tokens").alias("fill"))
            .agg(F.round(F.avg("fill"), 1).alias("avg"),
                 F.max("fill").alias("max")).collect()[0])
    print(f"packed: {n_packs} bins, avg fill {fill['avg']}, "
          f"max fill {fill['max']} (capacity 120)")
    tr = r["split"].agg(F.sum("in_train")).collect()[0][0]
    print(f"split: {tr} train / {r['split'].count() - tr} eval "
          f"(cluster-atomic, no near-dup pair crosses)")
    print("language mixture (weights for the rebalance pass):")
    for m in r["mixture"].orderBy("lang").collect():
        print(f"  {m['lang']}: share {m['actual_share']:.3f} -> "
              f"target {m['target_share']:.3f}, weight {m['weight']:.3f}")
    spark.stop()


if __name__ == "__main__":
    main()
