"""Engine driving: an isolated environment, set-up, timed passes, checks.

Everything Spark and the engine write (temp files, shuffle blocks, the
warehouse, the shipped package zip) goes under one work directory inside
the benchmark's own tree, which the runner deletes when it ends.
"""

from __future__ import annotations

import contextlib
import importlib
import os
import sys
import tempfile
import time
from dataclasses import dataclass, field

PKG = "pyspark_ml_features_spark"


def engine_root() -> str:
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def engine_present() -> bool:
    return os.path.isfile(os.path.join(engine_root(), PKG, "registry.py"))


def isolate(work_dir: str, cores: int) -> None:
    """Point every writer at ``work_dir``; must run before pyspark starts."""
    paths = {name: os.path.join(work_dir, name)
             for name in ("tmp", "local", "warehouse")}
    for path in paths.values():
        os.makedirs(path, exist_ok=True)
    os.environ.update({
        "TMPDIR": paths["tmp"],
        "SPARK_LOCAL_DIRS": paths["local"],
        "SPARK_GRAFT_WAREHOUSE": paths["warehouse"],
        "SPARK_GRAFT_CPUS": str(cores),
        # A fixed 1 GiB heap, touched in full at start. A heap that grows
        # until the collector runs leaves the resident set reading wherever
        # the last collection left it (a quarter apart from run to run with
        # a 2 GiB ceiling); with the heap fixed, the peak moves only with
        # memory outside the heap and in the Python workers. The tables are
        # a few MiB. Spark's page size follows the heap, and the run
        # records it.
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        # The JVM runs with the C1 compiler only. With C2 on, its background
        # compiles kept each pass a quarter to a half cheaper than the one
        # before for the whole of a ten-second run on four cores, so a run
        # measured where it stood on that curve; with C1 alone the passes
        # after the warm-up pass cost about the same.
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options \"-Djava.io.tmpdir={paths['tmp']} -XX:TieredStopAtLevel=1 "
            "-Xms1g -XX:+AlwaysPreTouch\" "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"),
    })
    tempfile.tempdir = None  # re-read TMPDIR
    if engine_root() not in sys.path:
        sys.path.insert(0, engine_root())


def span(tracer, name: str, **kw):
    return tracer.span(name, **kw) if tracer else contextlib.nullcontext()


@dataclass
class Engine:
    spark: object
    queries: dict
    setup_parts: dict[str, float]


def setup(sf_dir: str, warmup: str, t0: float, tracer=None) -> tuple[Engine, float]:
    """Session start, registry load and one warm-up query, timed from ``t0``
    (the process start)."""
    parts = {}
    with span(tracer, "setup"):
        t = time.perf_counter()
        with span(tracer, "session.start"):
            session = importlib.import_module(f"{PKG}.session")
            spark = session.get_spark(app_name="perfbench")
        parts["session.start_s"] = time.perf_counter() - t
        t = time.perf_counter()
        with span(tracer, "registry.load"):
            queries = importlib.import_module(f"{PKG}.registry").all_queries()
        parts["registry.load_s"] = time.perf_counter() - t
        t = time.perf_counter()
        with span(tracer, "warmup"):
            queries[warmup].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        parts["warmup_s"] = time.perf_counter() - t
    return Engine(spark, queries, parts), time.perf_counter() - t0


def shutdown(spark) -> None:
    """Stop Spark and the JVM the gateway launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.terminate()
        proc.wait(timeout=60)


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


@dataclass
class PassResult:
    wall_s: float
    cpu_s: float
    stolen_share: float = 0.0
    execs: list[tuple[str, float, str | None]] = field(default_factory=list)


def noop_write(name: str, df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_pass(engine: Engine, order: list[str], sf_dir: str, cpu_reader,
             tracer=None, action=noop_write) -> PassResult:
    """One closed-loop pass: build each query and run it into the noop sink
    (or through ``action``), one query in flight. An execution fails when
    it raises or when ``action`` returns a reason. With a tracer, the time
    spent reading Spark's status stores after each query is excluded from
    the pass wall."""
    paused = 0.0
    cpu0 = cpu_reader()
    start = time.perf_counter()
    result = PassResult(0.0, 0.0)
    for name in order:
        if tracer:
            paused += tracer.begin_query()
        t = time.perf_counter()
        try:
            with span(tracer, "query", qid=name):
                with span(tracer, "operators.build", group=True):
                    df = engine.queries[name].fn(engine.spark, sf_dir)
                with span(tracer, "exec.write", group=True):
                    error = action(name, df)
        except Exception as ex:
            error = f"{type(ex).__name__}: {str(ex)[:200]}"
        result.execs.append((name, time.perf_counter() - t, error))
        if tracer:
            paused += tracer.end_query(name)
    result.wall_s = time.perf_counter() - start - paused
    result.cpu_s = cpu_reader() - cpu0
    return result


def checker(references: dict):
    """A pass action that digests the output and compares it with the
    stored reference; returns the mismatch, or None."""
    from digest import matches, spark_digest

    def check(name: str, df) -> str | None:
        got = spark_digest(df)
        ref = references.get(name)
        if ref is None:
            return "no reference digest"
        return None if matches(got, ref) else f"digest {got} != reference"
    return check
