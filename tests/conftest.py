"""Shared fixtures: one SparkSession per test run, DuckDB with driver views,
and a comparison harness mimicking the driver's oracle gate
(row-count + schema + order-insensitive value comparison)."""

from __future__ import annotations

import math
import os

import duckdb
import pandas as pd
import pytest

from pyspark_ml_features_spark.session import get_spark
from pyspark_ml_features_spark.sources.io import TABLES

# Correctness gate scale (driver uses sf0.01); override for quick local runs.
SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")
SMOKE_SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pyspark-ml-features-spark-tests")
    yield s
    s.stop()


def _read_only(df, name: str):
    """Shadow ``df``'s cache-state methods with ones that raise."""
    def refuse(method: str):
        def raise_(*args, **kwargs):
            raise AssertionError(
                f"{method}() on the shared built frame of {name!r}: built() "
                "frames are read-only; build a private copy with "
                "registry.all_queries()[name].fn(spark, sf_dir)")
        return raise_

    for method in ("persist", "cache", "unpersist"):
        setattr(df, method, refuse(method))
    return df


@pytest.fixture(scope="session")
def built(spark):
    """Session-scoped (query, sf_dir) -> (DataFrame, checkpoint captures)
    memo. Building a query is NOT free: eager localCheckpoints execute
    their pre-checkpoint stages and streaming queries drain their
    micro-batches at build time, and the registry-wide sweeps
    (scale-safety, schema-scalar, fixpoint internals, advisor, parity)
    each re-paid that cost per sweep — the dominant share of the suite
    wall (VERDICT r13 item 3: the suite outgrew the driver's pytest
    window). Consumers only READ the built frame (plan text, schema,
    toPandas), so one build per (query, scale) per session is exact.

    The read-only contract is enforced: ``persist``, ``cache`` and
    ``unpersist`` on a shared frame raise, because a consumer that changed
    its cache state would change what every later consumer reads.
    """
    from pyspark_ml_features_spark import registry
    from pyspark_ml_features_spark.plans.audit import (
        capture_checkpoint_plans,
    )

    qs = registry.all_queries()
    cache: dict = {}

    def build(name: str, sf_dir: str):
        key = (name, sf_dir)
        if key not in cache:
            with capture_checkpoint_plans() as captured:
                df = qs[name].fn(spark, sf_dir)
            cache[key] = (_read_only(df, name), list(captured))
        return cache[key]

    return build


@pytest.fixture(scope="session")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def _canon_cell(v):
    """Arrays/lists from Spark (ndarray) and DuckDB (list) -> tuples so they
    compare and sort identically; floats inside kept exact."""
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return tuple(_canon_cell(x) for x in v)
    if type(v).__module__ == "numpy":  # numpy scalar -> python scalar
        return v.item()
    return v


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name and rows by all values — order-insensitive form."""
    df = df.copy()
    for col in df.columns:
        if df[col].dtype == object:
            df[col] = df[col].map(_canon_cell, na_action="ignore")
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort",
                            ignore_index=True, na_position="last")
    return df


def assert_frames_match(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame,
                        name: str, float_rtol: float = 0.0) -> None:
    """Driver-gate emulation. float_rtol=0 demands bit-exact floats —
    the bar every oracle-checked query must clear."""
    assert sorted(spark_pdf.columns) == sorted(oracle_pdf.columns), (
        f"{name}: schema mismatch {sorted(spark_pdf.columns)} "
        f"vs {sorted(oracle_pdf.columns)}"
    )
    assert len(spark_pdf) == len(oracle_pdf), (
        f"{name}: row count {len(spark_pdf)} vs {len(oracle_pdf)}"
    )
    s, o = _normalize(spark_pdf), _normalize(oracle_pdf)
    for col in s.columns:
        sv, ov = s[col], o[col]
        sk = "i" if sv.dtype.kind == "u" else sv.dtype.kind
        ok = "i" if ov.dtype.kind == "u" else ov.dtype.kind
        if sk != ok and "O" not in (sk, ok):
            raise AssertionError(
                f"{name}: column {col!r} dtype kind mismatch: spark "
                f"{sv.dtype} vs oracle {ov.dtype} — align casts on both sides")
        if pd.api.types.is_float_dtype(sv) or pd.api.types.is_float_dtype(ov):
            sv = pd.to_numeric(sv, errors="coerce").astype(float)
            ov = pd.to_numeric(ov, errors="coerce").astype(float)
            both_nan = sv.isna() & ov.isna()
            if float_rtol == 0.0:
                eq = (sv == ov) | both_nan
            else:
                eq = both_nan | sv.combine(
                    ov, lambda a, b: (not (math.isnan(a) or math.isnan(b)))
                    and math.isclose(a, b, rel_tol=float_rtol))
            if not eq.all():
                bad = (~eq).idxmax()
                raise AssertionError(
                    f"{name}: column {col!r} differs at sorted row {bad}: "
                    f"spark={sv[bad]!r} oracle={ov[bad]!r}")
        else:
            sv2 = sv.astype(str).where(~sv.isna(), "<NULL>")
            ov2 = ov.astype(str).where(~ov.isna(), "<NULL>")
            if not (sv2 == ov2).all():
                bad = (sv2 != ov2).idxmax()
                raise AssertionError(
                    f"{name}: column {col!r} differs at sorted row {bad}: "
                    f"spark={sv[bad]!r} oracle={ov[bad]!r}")
