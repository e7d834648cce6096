"""Closed-loop benchmark of the engine's registered queries.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 12 --trace 0

One driver process runs Spark on ``local[<nproc>]`` with one query in
flight, each query built by its registered function and run into the noop
sink. ``--seed`` permutes the query order of every pass; the tables are the
fixed test tables under ``perfbench/data/<scale>``. Untimed warm-up passes
run first: the first execution of a query plan compiles its generated code
and much of Spark's own, and takes three to four times as long as later
ones; the second still runs a tenth slower than the third. After the timed
passes an untimed check pass digests every query's output and compares it
with its stored reference.

``--trace 0`` runs timed passes until ``--seconds`` have elapsed and prints
the end-to-end metrics; ``--trace 1`` runs one untraced and one traced pass
and prints the per-layer metrics, writing the span file to
``perfbench/out``. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

import harness  # noqa: E402
import procstat  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
MIB = 2 ** 20
WARMUP_PASSES = 2


def load_json(name: str):
    with open(os.path.join(HERE, name)) as fh:
        return json.load(fh)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", default="sf0.01",
                   help="data scale under perfbench/data (the tests use sf0.001)")
    return p.parse_args(argv)


def host_info(spark, seed: int, cores: int) -> dict:
    jvm = spark._jvm
    return {
        "nproc": os.cpu_count(),
        "cores_used": cores,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "page_bytes": int(jvm.org.apache.spark.SparkEnv.get().memoryManager().pageSizeBytes()),
        "pyspark": spark.version,
        "java": str(jvm.java.lang.System.getProperty("java.version")),
        "python": platform.python_version(),
        "seed": seed,
    }


def check_data(data_dir: str, manifest: dict) -> None:
    import hashlib

    for name, digest in manifest.items():
        with open(os.path.join(data_dir, name), "rb") as fh:
            if hashlib.sha256(fh.read()).hexdigest() != digest:
                raise SystemExit(f"perfbench: {data_dir}/{name} differs from the manifest")


def run(args, spec: dict, wl: dict, work: str, cores: int) -> dict:
    data_dir = os.path.join(HERE, "data", args.scale)
    check_data(data_dir, load_json("data/MANIFEST.json")[args.scale])
    references = load_json("digests.json")[args.scale]
    load_start = procstat.load1()
    harness.isolate(work, cores)
    tracer = tracing.Tracer() if args.trace else None

    # One cold set-up per run, from process start: a second set-up in the
    # same process would reuse the JVM and skip its launch.
    engine, setup_s = harness.setup(data_dir, spec["warmup_query"], T_START, tracer)
    spark = engine.spark
    host = host_info(spark, args.seed, cores)
    jvm = harness.jvm_pid(spark)

    def cpu_reader() -> float:
        return procstat.cpu_seconds(procstat.tree(jvm))

    rng = random.Random(args.seed)
    names = list(wl["queries"])

    def one_pass(tracer=None, action=harness.noop_write):
        ticks = procstat.host_ticks()
        result = harness.run_pass(engine, rng.sample(names, len(names)), data_dir,
                                  cpu_reader, tracer, action)
        result.stolen_share = procstat.stolen_share(ticks, procstat.host_ticks())
        return result

    warmups = [one_pass() for _ in range(WARMUP_PASSES)]
    with procstat.RssPeak(jvm) as rss:
        if args.trace:
            untraced = one_pass()
            tracer.attach(spark, jvm)
            restore = tracer.install(harness.PKG)
            try:
                traced = one_pass(tracer)
            finally:
                restore()
            passes = [untraced, traced]
        else:
            passes, deadline = [], time.perf_counter() + args.seconds
            while not passes or time.perf_counter() < deadline:
                passes.append(one_pass())
    check = one_pass(action=harness.checker(references))

    execs = [e for p in [*warmups, *passes, check] for e in p.execs]
    # Wall times leave out the share the hypervisor stole: on a shared
    # virtual machine, other guests' load made whole runs a quarter to a
    # half slower for minutes at a time, and the slowdown matched the
    # stolen share of the busy CPU time. Without steal the
    # factor is 1 and these are the plain walls.
    def unstolen(p):
        return 1.0 - p.stolen_share

    walls = [w * unstolen(p) for p in passes for _, w, _ in p.execs]
    tail = stats.tail_percentile(len(walls))
    result = {
        "workload": args.workload, "scale": args.scale, "host": host,
        "load1_start": load_start,
        "setup_s": setup_s, "setup_parts_s": engine.setup_parts,
        "warmup_passes_s": [p.wall_s for p in warmups],
        "check_pass_s": check.wall_s,
        "pass_walls_s": [p.wall_s for p in passes],
        "pass_cpu_s": [p.cpu_s for p in passes],
        "pass_stolen_share": [p.stolen_share for p in passes],
        "query_walls_s": [[n, w] for p in passes for n, w, _ in p.execs],
        "errors": {n: err for n, _, err in execs if err},
        "attempted": len(execs),
        "failed": sum(1 for _, _, err in execs if err),
        "query_samples": len(walls),
        "tail_percentile": tail,
        "tail_wall_s": stats.percentile(walls, tail) if tail else None,
    }
    if args.trace:
        layers = {
            "session.start_s": engine.setup_parts["session.start_s"],
            "registry.load_s": engine.setup_parts["registry.load_s"],
            **tracing.layer_metrics(tracer.per_query, cores, host["page_bytes"]),
            "sources.scan_s": scan_tables(engine, tracer, data_dir),
            "trace.overhead_s": (traced.wall_s * unstolen(traced)
                                 - untraced.wall_s * unstolen(untraced)),
        }
        result["metrics"] = layers
        result["membership"] = membership(wl, tracer.per_query)
        os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
        tracer.write(os.path.join(HERE, "out", f"trace-{args.workload}-seed{args.seed}.json"),
                     {"workload": args.workload, "host": host, "layers": layers})
    else:
        result["metrics"] = {
            "setup_s": setup_s,
            "pass_wall_s": statistics.median(p.wall_s * unstolen(p) for p in passes),
            "query_wall_p50_s": stats.percentile(walls, 50),
            "cpu_s": statistics.median(p.cpu_s for p in passes),
            "peak_rss_mib": rss.peak / MIB,
        }
    harness.shutdown(spark)
    result["load1_end"] = procstat.load1()
    result["loaded_host"] = load_start > 0.5 * (os.cpu_count() or 1)
    return result


def scan_tables(engine, tracer, data_dir: str) -> float:
    """Noop scan of every table the traced pass read, through sources.io."""
    import importlib

    io = importlib.import_module(f"{harness.PKG}.sources.io")
    tables = sorted({s.attrs["table"] for s in tracer.spans if s.name == "sources.table"})
    start = time.perf_counter()
    for name in tables:
        io.table(engine.spark, data_dir, name).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - start


def membership(wl: dict, per_query: dict) -> dict[str, list[str]]:
    """Queries that break their workload's measured membership rules."""
    broken = {}
    for name, m in per_query.items():
        why = []
        if "no_build_jobs" in wl["rules"] and m["build_jobs"]:
            why.append(f"{int(m['build_jobs'])} build jobs")
        if "no_python" in wl["rules"] and m["python_nodes"]:
            why.append("Python exec node")
        if "build_jobs" in wl["rules"] and not m["build_jobs"]:
            why.append("no build jobs")
        if why:
            broken[name] = why
    return broken


def print_report(result: dict, units: dict) -> None:
    host = result["host"]
    print(f"# workload {result['workload']} at {result['scale']}: seed {host['seed']}, "
          f"local[{host['cores_used']}] of nproc {host['nproc']}, page {host['page_bytes']} B, "
          f"pyspark {host['pyspark']}, java {host['java']}, "
          f"load1 {result['load1_start']:.2f} -> {result['load1_end']:.2f}"
          + (" (LOADED HOST)" if result["loaded_host"] else ""))
    print(f"# warm-up passes {sum(result['warmup_passes_s']):.1f} s, "
          f"check pass {result['check_pass_s']:.1f} s; "
          f"{len(result['pass_walls_s'])} timed passes, {result['query_samples']} query executions "
          f"(highest percentile with ten samples beyond: {result['tail_percentile']}); "
          f"stolen share {statistics.median(result['pass_stolen_share']):.3f}; "
          f"failed_frac {result['failed'] / result['attempted']:.4f}")
    for name, value in result["metrics"].items():
        print(f"{name:28s} {value:16.6f} {units.get(name, '')}")
    for name, why in result["errors"].items():
        print(f"# error {name}: {why}")
    for name, why in result.get("membership", {}).items():
        print(f"# membership {name}: {', '.join(why)}")


def main(argv=None) -> int:
    args = parse_args(argv)
    if not harness.engine_present():
        print("perfbench: engine package not found beside perfbench/", file=sys.stderr)
        return 2
    spec = load_json("spec.json")
    if args.workload not in spec["workloads"]:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wl = spec["workloads"][args.workload]
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, "out", f"work-{os.getpid()}")
    try:
        result = run(args, spec, wl, work, cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    units = {m["name"]: m["unit"] for m in spec["metrics"]}
    print_report(result, units)
    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    with open(os.path.join(HERE, "out", f"result-{args.workload}-seed{args.seed}"
                           f"-trace{args.trace}.json"), "w") as fh:
        json.dump(result, fh, indent=1)
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in result["metrics"].items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
