"""Array/vector column helpers (higher-order functions, JVM codegen).

All folds are explicit LEFT folds with a 0.0 initial value so the float
summation order is fully deterministic — Spark and any other engine
evaluating the same fold produce bit-identical doubles. This is what makes
cosine/norm oracles exact (SURVEY §2-E E4/E5). ``duckdb_*`` helpers emit the
matching DuckDB SQL fragment for oracle queries.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column


def to_double_array(col: Column | str) -> Column:
    """Cast array<float> -> array<double> (parquet float32 embeddings must be
    widened identically on both engines before arithmetic; FIXTURES.md §3)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def adot(a: Column, b: Column) -> Column:
    """Deterministic left-fold dot product of two array<double> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(adot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return adot(a, b) / (l2_norm(a) * l2_norm(b))


def normalize(a: Column) -> Column:
    """Unit-normalize an array<double> column (E5)."""
    n = l2_norm(a)
    return F.transform(a, lambda x: x / n)


# --- DuckDB oracle fragments (same fold order as the Spark side) -----------

def duckdb_dot(a: str, b: str, dim: int) -> str:
    return (f"list_reduce(list_prepend(0.0::DOUBLE, "
            f"list_transform(range(1, {dim + 1}), i -> {a}[i] * {b}[i])), "
            f"(acc, x) -> acc + x)")


def duckdb_norm(a: str, dim: int) -> str:
    return f"sqrt({duckdb_dot(a, a, dim)})"
