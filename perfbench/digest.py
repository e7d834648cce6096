"""Order-insensitive output digests.

``canon_hash`` is the driver contract's digest (columns sorted by name,
rows sorted, ``repr`` of every cell, md5); it needs the whole output in
pandas, so it is used once, when the reference digests are generated and
cross-checked against the DuckDB oracle.

``spark_digest`` is the digest every benchmark run checks. It has the same
semantics -- equal multisets of rows, column order ignored -- but is
computed inside Spark as a multiset hash: the row count plus the sums of
the low and high 32-bit halves of each row's ``xxhash64``. Summing halves
keeps the aggregate exact in 64-bit integers for any row count below 2^31,
so it never trips ANSI overflow checks.
"""

from __future__ import annotations

import hashlib

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def spark_digest(df: DataFrame) -> dict[str, int]:
    cols = []
    for field in sorted(df.schema.fields, key=lambda f: f.name):
        c = F.col(f"`{field.name}`")
        # xxhash64 refuses map types; their string form is deterministic
        has_map = "map<" in field.dataType.simpleString()
        cols.append(c.cast("string") if has_map else c)
    h = F.xxhash64(*cols)
    row = df.select(h.alias("h")).agg(
        F.count(F.lit(1)).alias("rows"),
        F.coalesce(F.sum(F.col("h").bitwiseAND(0xFFFFFFFF)), F.lit(0)).alias("lo"),
        F.coalesce(F.sum(F.shiftright(F.col("h"), 32)), F.lit(0)).alias("hi"),
    ).collect()[0]
    return {"rows": int(row["rows"]), "lo": int(row["lo"]), "hi": int(row["hi"])}


def canon_hash(pdf) -> str:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    pdf = pdf.sort_values(by=list(pdf.columns), kind="mergesort").reset_index(drop=True)
    rows = [tuple(repr(v) for v in row) for row in pdf.itertuples(index=False)]
    return hashlib.md5(repr(rows).encode()).hexdigest()


def matches(observed: dict[str, int], reference: dict) -> bool:
    """Compare a run's digest with the stored reference. A reference marked
    ``"check": "rows"`` had an unstable value hash and is checked by row
    count only."""
    if reference.get("check") == "rows":
        return observed["rows"] == reference["rows"]
    return all(observed[k] == reference[k] for k in ("rows", "lo", "hi"))
