"""Driver-contract emulation: run entry + all queries vs DuckDB oracles (see .claude/skills/verify/SKILL.md). Usage: cd /tmp && python <checkout>/scripts/drive_contract.py"""
import os, sys, hashlib
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as e
import duckdb
from pyspark.sql import SparkSession

spark = (SparkSession.builder.master("local[8]")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

# 1. smoke: entry()
df = e.entry(spark)
n = df.count()
print("entry rows:", n, "schema:", df.columns)
assert n > 0

# 2. queries vs oracles at sf0.01, order-insensitive value hash
SF = "/root/testdata/sf0.01"
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

def canon_hash(pdf):
    # Driver-faithful canonicalization (VERDICT.md r1, item 3): the real
    # driver sorts rows via pandas sort_values over every column, which
    # raises `unhashable type: numpy.ndarray` on array-typed cells — so any
    # non-scalar output column must fail HERE before it fails the round.
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    pdf = pdf.sort_values(by=list(pdf.columns), kind="mergesort").reset_index(drop=True)
    rows = [tuple(repr(v) for v in row) for row in pdf.itertuples(index=False)]
    return hashlib.md5(repr(rows).encode()).hexdigest()

qs, osql = e.queries(), e.oracle_sql()
print("declared queries:", list(qs))
failures = []
for name, fn in qs.items():
    # Driver-faithful error handling: the real driver records a per-query
    # `err` and keeps going, so one broken query must not hide the rest.
    try:
        spdf = fn(spark, SF).toPandas()
        if name in osql:
            opdf = con.execute(osql[name]).fetchdf()
            match = canon_hash(spdf) == canon_hash(opdf)
            print(f"{name}: rows {len(spdf)} vs {len(opdf)}, hash match: {match}", flush=True)
            assert match, "hash mismatch"
        else:
            # The driver canonicalizes rows-only outputs too (r1: b5 crashed
            # despite having no oracle) — exercise the same code path.
            canon_hash(spdf)
            print(f"{name}: rows-only, {len(spdf)} rows", flush=True)
    except Exception as ex:
        failures.append(name)
        print(f"{name}: ERR {type(ex).__name__}: {str(ex)[:300]}", flush=True)
if failures:
    print("CONTRACT FAILED:", failures)
    sys.exit(1)
print("CONTRACT OK")
spark.stop()
