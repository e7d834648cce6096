"""The benchmark's own tests, at sf0.001.

    python3 -m pytest perfbench/tests -q

Pure-Python checks (percentile rule, span arithmetic, metric parsing, spec
consistency, the no-engine exit) run in milliseconds; the Spark checks
(digest stability, measured workload membership) share one session.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import harness  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402
from tracing import Span  # noqa: E402

SF = os.path.join(HERE, "data", "sf0.001")


def load(name):
    with open(os.path.join(HERE, name)) as fh:
        return json.load(fh)


# -- percentile sample-count rule ---------------------------------------

@pytest.mark.parametrize("n, pct", [
    (19, None), (20, 50), (39, 50), (40, 75), (99, 75), (100, 90),
    (199, 90), (200, 95), (999, 95), (1000, 99),
])
def test_tail_percentile_needs_ten_samples_beyond(n, pct):
    assert stats.tail_percentile(n) == pct
    if pct is not None:
        assert stats.samples_beyond(n, pct) >= stats.MIN_BEYOND


def test_percentile_interpolates_linearly():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert stats.percentile(xs, 50) == 2.5
    assert stats.percentile(xs, 0) == 1.0
    assert stats.percentile(xs, 100) == 4.0
    assert stats.percentile(list(range(11)), 90) == 9.0


def test_spread_is_quartile_distance_over_median():
    values = [float(v) for v in range(1, 11)]
    q1, med, q3 = stats.quartiles(values)
    assert (q1, med, q3) == (2.75, 5.5, 8.25)
    assert stats.spread(values) == pytest.approx(5.5 / 5.5)


@pytest.mark.parametrize("change, label", [
    ([0.8 + 0.001 * i for i in range(10)], "better"),
    ([1.3 + 0.001 * i for i in range(10)], "worse"),
    ([0.7, 1.4, 0.7, 1.4, 0.7, 1.4, 0.7, 1.4, 0.7, 1.4], "unresolved"),
    ([1.0 + 0.001 * i for i in range(10)], "same"),
])
def test_pair_verdicts(change, label):
    import compare

    parent = [1.0 + 0.002 * (i % 3) for i in range(10)]
    assert compare.verdict(parent, change, 0.25, lower_better=True)["verdict"] == label


# -- span self-time arithmetic ------------------------------------------

def test_union_length_merges_overlaps():
    assert tracing.union_length([]) == 0.0
    assert tracing.union_length([(0, 1), (0.5, 2), (3, 4)]) == 3.0
    assert tracing.union_length([(3, 4), (0, 10)]) == 10.0


def test_self_time_subtracts_covered_part_of_children():
    spans = [
        Span(0, "query", None, "q", 0.0, 10.0),
        Span(1, "operators.build", 0, "q", 1.0, 4.0),
        Span(2, "sources.table", 1, "q", 1.5, 2.0),
        Span(3, "job", 1, "q", 1.8, 3.0),       # overlaps sibling 2
        Span(4, "exec.write", 0, "q", 4.0, 9.0),
        Span(5, "job", 4, "q", 8.0, 12.0),      # runs past its parent
    ]
    selfs = tracing.self_times(spans)
    assert selfs[0] == pytest.approx(10.0 - 3.0 - 5.0)
    assert selfs[1] == pytest.approx(3.0 - 1.5)
    assert selfs[4] == pytest.approx(5.0 - 1.0)
    assert selfs[5] == pytest.approx(4.0)


@pytest.mark.parametrize("text, value", [
    ("6,000", 6000.0),
    ("0.0 B", 0.0),
    ("350 ms", 0.35),
    ("1.2 s", 1.2),
    ("2.5 m", 150.0),
    ("147.5 KiB", 147.5 * 1024),
    ("total (min, med, max (stageId: taskId))\n10.5 MiB (1.0 MiB, 2.0 MiB, 3.0 MiB "
     "(stage 1.0: task 4))", 10.5 * 2 ** 20),
])
def test_sql_metric_strings_parse(text, value):
    assert tracing.metric_value(text) == pytest.approx(value)


# -- spec and BENCHMARK.json agree -------------------------------------

def test_benchmark_json_mirrors_spec():
    spec = load("spec.json")
    bench = load(os.path.join("..", "BENCHMARK.json"))
    assert {w["name"] for w in bench["workloads"]} <= set(spec["workloads"])
    for kind in ("end_to_end", "per_layer"):
        ours = [{k: m[k] for k in m if k in ("name", "unit", "better", "bound")}
                for m in spec["metrics"] if m["kind"] == kind]
        assert bench[kind] == ours
    names = [q for wl in spec["workloads"].values() for q in wl["queries"]]
    assert len(names) == len(set(names)), "a query is in two workloads"
    for scale, refs in load("digests.json").items():
        assert set(names) | {spec["warmup_query"]} <= set(refs), scale


def test_exits_nonzero_without_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("out", "data", "__pycache__"))
    shutil.copy(os.path.join(HERE, "..", "BENCHMARK.json"), tmp_path)
    out = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "relational",
                          "--seed", "1", "--seconds", "1", "--trace", "0"],
                         cwd=tmp_path, capture_output=True, text=True, timeout=170)
    assert out.returncode != 0
    assert out.stdout.strip() == ""


# -- Spark: digest stability and measured membership -------------------

@pytest.fixture(scope="module")
def engine(tmp_path_factory):
    harness.isolate(str(tmp_path_factory.mktemp("work")), len(os.sched_getaffinity(0)))
    eng, _ = harness.setup(SF, load("spec.json")["warmup_query"], time.perf_counter())
    yield eng
    harness.shutdown(eng.spark)


def test_digests_are_stable_and_match_reference(engine):
    from digest import spark_digest

    refs = load("digests.json")["sf0.001"]
    for name in ("d36_tpch_q3_shipping_priority", "e4_knn_cosine", "e51_greedy_packing",
                 "b6_robust_scaling"):
        first = spark_digest(engine.queries[name].fn(engine.spark, SF))
        second = spark_digest(engine.queries[name].fn(engine.spark, SF))
        assert first == second, name
        assert {k: refs[name][k] for k in first} == first, name


@pytest.mark.parametrize("workload", ["relational", "curation", "eager_jobs"])
def test_workload_membership_holds_when_measured(engine, workload):
    import run

    wl = load("spec.json")["workloads"][workload]
    tracer = tracing.Tracer()
    tracer.attach(engine.spark, harness.jvm_pid(engine.spark))
    restore = tracer.install(harness.PKG)
    try:
        result = harness.run_pass(engine, wl["queries"], SF, lambda: 0.0, tracer)
    finally:
        restore()
    assert not [e for e in result.execs if e[2]]
    assert set(tracer.per_query) == set(wl["queries"])
    assert run.membership(wl, tracer.per_query) == {}
    if workload == "relational":
        layers = tracing.layer_metrics(tracer.per_query, 4, 2 ** 26)
        assert layers["python.bytes_sent"] == 0 and layers["python.bytes_received"] == 0
    spans = {s.qid for s in tracer.spans if s.name == "query"}
    assert spans == set(wl["queries"])
