"""Regenerate the reference digests the benchmark checks every run.

    python3 perfbench/gen_digests.py

For every workload query (and the warm-up query) at each data scale under
``perfbench/data``: build and digest the query twice; where the registry
has a DuckDB oracle, compare the driver-contract ``canon_hash`` of Spark's
output with the oracle's. A query whose two digests differ is stored with
``"check": "rows"`` and verified by row count only. Also rewrites
``data/MANIFEST.json`` (sha256 of each table file). Prints one line per
query and exits non-zero if any oracle disagrees.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys

import harness
from digest import canon_hash, spark_digest

HERE = os.path.dirname(os.path.abspath(__file__))


def manifest(data_root: str) -> dict:
    out = {}
    for scale in sorted(os.listdir(data_root)):
        scale_dir = os.path.join(data_root, scale)
        if os.path.isdir(scale_dir):
            out[scale] = {}
            for name in sorted(os.listdir(scale_dir)):
                with open(os.path.join(scale_dir, name), "rb") as fh:
                    out[scale][name] = hashlib.sha256(fh.read()).hexdigest()
    return out


def main() -> int:
    import duckdb

    with open(os.path.join(HERE, "spec.json")) as fh:
        spec = json.load(fh)
    data_root = os.path.join(HERE, "data")
    tables = manifest(data_root)
    with open(os.path.join(data_root, "MANIFEST.json"), "w") as fh:
        json.dump(tables, fh, indent=1)
        fh.write("\n")
    names = [spec["warmup_query"]] + [q for wl in spec["workloads"].values()
                                       for q in wl["queries"]]
    work = os.path.join(HERE, "out", f"gen-{os.getpid()}")
    harness.isolate(work, len(os.sched_getaffinity(0)))
    bad = []
    try:
        from pyspark_ml_features_spark.registry import all_queries
        from pyspark_ml_features_spark.session import get_spark

        spark = get_spark(app_name="perfbench-digests")
        queries = all_queries()
        digests = {}
        for scale in tables:
            sf_dir = os.path.join(data_root, scale)
            con = duckdb.connect()
            for table in tables[scale]:
                view = table.removesuffix(".parquet")
                con.execute(f"CREATE VIEW {view} AS SELECT * FROM "
                            f"read_parquet('{os.path.join(sf_dir, table)}')")
            digests[scale] = {}
            for name in dict.fromkeys(names):
                df = queries[name].fn(spark, sf_dir)
                first = spark_digest(df)
                second = spark_digest(queries[name].fn(spark, sf_dir))
                entry = dict(first, canon_hash=canon_hash(df.toPandas()))
                if first != second:
                    entry["check"] = "rows"
                oracle = queries[name].oracle
                if oracle:
                    same = canon_hash(con.execute(oracle).fetchdf()) == entry["canon_hash"]
                    entry["oracle"] = "match" if same else "MISMATCH"
                    if not same:
                        bad.append(f"{scale}/{name}")
                digests[scale][name] = entry
                print(f"{scale} {name}: {entry}", flush=True)
        with open(os.path.join(HERE, "digests.json"), "w") as fh:
            json.dump(digests, fh, indent=1, sort_keys=True)
            fh.write("\n")
        harness.shutdown(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if bad:
        print("oracle mismatches:", bad)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
