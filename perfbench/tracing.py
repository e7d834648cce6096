"""Traced run: spans around the calls into each engine layer, and Spark's
status stores read after every query.

Spans live in memory (name, start, end, parent, query id) and are written
out when the run ends. A span that may launch Spark jobs sets its own job
group, so every job -- and through it every stage -- lands under the
innermost layer call that launched it: a parquet schema-inference job
belongs to ``sources.table``, an eager checkpoint inside a builder to
``operators.build``, the final noop write to ``exec.write``.

Stage metrics come from the AppStatusStore (``stageData``, the per-stage
form of Spark 4's five-argument ``stageList``), operator metrics from the
SQL status store (``planGraph`` + ``executionMetrics``). Both are kept
with the UI disabled.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import itertools
import json
import re
import sys
import time
from dataclasses import asdict, dataclass, field

import procstat

GROUP_PROP = "spark.jobGroup.id"
PYTHON_NODE = re.compile(r"Python|Pandas|InArrow")

# (module, function, span name, may launch jobs)
LAYER_CALLS = (
    ("session", "tune_session", "session.tune", False),
    ("sources.io", "table", "sources.table", True),
    ("functions.skew", "fan_out", "functions.fan_out", True),
    ("functions.text", "tokens", "functions.kernel", False),
    ("functions.text", "word_ngrams", "functions.kernel", False),
    ("functions.text", "rolling_hash", "functions.kernel", False),
    ("functions.arrays", "to_double_array", "functions.kernel", False),
    ("functions.arrays", "adot", "functions.kernel", False),
    ("functions.arrays", "l2_norm", "functions.kernel", False),
    ("functions.arrays", "cosine", "functions.kernel", False),
    ("functions.arrays", "normalize", "functions.kernel", False),
)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    qid: str | None
    start: float
    end: float = 0.0
    group: str | None = None
    attrs: dict = field(default_factory=dict)


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        clipped = [(max(a, s.start), min(b, s.end))
                   for a, b in children.get(s.id, ()) if b > s.start and a < s.end]
        out[s.id] = (s.end - s.start) - union_length(clipped)
    return out


def metric_value(text: str) -> float:
    """Parse one SQL metric as the SQL status store formats it: a plain
    count (``6,000``), or a size/duration, alone or as the total of a
    ``total (min, med, max ...)`` block. Sizes come back in bytes,
    durations in seconds."""
    head = text.strip().split("\n")[-1].split(" (")[0].split()
    scale = {"B": 1, "KiB": 2 ** 10, "MiB": 2 ** 20, "GiB": 2 ** 30,
             "TiB": 2 ** 40, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
    value = float(head[0].replace(",", ""))
    return value * scale[head[1]] if len(head) > 1 else value


class Tracer:
    """Records spans, and reads Spark's status stores after every query
    (the per-layer numbers)."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.sc = None
        self.qid: str | None = None
        self.per_query: dict[str, dict] = {}
        self._next_exec = 0
        self._worker_cpu0 = 0.0
        self._jvm_pid = 0
        self._ids = itertools.count()

    def attach(self, spark, jvm_pid: int) -> None:
        self.spark, self.sc, self._jvm_pid = spark, spark.sparkContext, jvm_pid
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._store = self.sc._jsc.sc().statusStore()
        self._bus = self.sc._jsc.sc().listenerBus()
        # SQL execution ids are sequential; continue after the newest one
        count = int(self._sql.executionsCount())
        last = self._sql.executionsList(count - 1, 1) if count else None
        self._next_exec = int(last.apply(0).executionId()) + 1 if count else 0

    @contextlib.contextmanager
    def span(self, name: str, group: bool = False, qid: str | None = None, **attrs):
        if qid is not None:
            self.qid = qid
        parent = self.stack[-1].id if self.stack else None
        s = Span(next(self._ids), name, parent, self.qid, time.time(), attrs=attrs)
        self.stack.append(s)
        if group:
            s.group = f"perfbench-{s.id}"
            self.sc.setLocalProperty(GROUP_PROP, s.group)
        try:
            yield s
        finally:
            s.end = time.time()
            self.stack.pop()
            self.spans.append(s)
            if group:
                outer = next((p.group for p in reversed(self.stack) if p.group), None)
                self.sc.setLocalProperty(GROUP_PROP, outer)

    # -- layer wrappers -------------------------------------------------
    def install(self, pkg: str):
        """Wrap the layers' public functions everywhere the engine bound
        them (operator modules import them by name); returns an undo."""
        undo = []
        for mod_name, fn_name, span_name, group in LAYER_CALLS:
            mod = importlib.import_module(f"{pkg}.{mod_name}")
            orig = getattr(mod, fn_name)
            wrapper = self._wrap(orig, span_name, group, fn_name)
            for m in [m for n, m in sys.modules.items() if n.startswith(pkg) and m]:
                for attr, value in list(vars(m).items()):
                    if value is orig:
                        setattr(m, attr, wrapper)
                        undo.append((m, attr, orig))

        def restore() -> None:
            for m, attr, orig in undo:
                setattr(m, attr, orig)
        return restore

    def _wrap(self, fn, span_name: str, group: bool, fn_name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            attrs = {"fn": fn_name}
            if fn_name == "table":
                attrs["table"] = args[2] if len(args) > 2 else kwargs.get("name")
            with self.span(span_name, group=group, **attrs):
                return fn(*args, **kwargs)
        return traced

    # -- per-query store reads (excluded from the timed wall) ------------
    def begin_query(self) -> float:
        t = time.perf_counter()
        self._worker_cpu0 = self._worker_cpu()
        return time.perf_counter() - t

    def end_query(self, qid: str) -> float:
        t = time.perf_counter()
        self.per_query[qid] = self._collect(qid)
        return time.perf_counter() - t

    def _worker_cpu(self) -> float:
        pids = [p for p in procstat.tree(self._jvm_pid) if p != self._jvm_pid]
        return procstat.cpu_seconds(pids)

    def _collect(self, qid: str) -> dict:
        self._bus.waitUntilEmpty()
        m = dict.fromkeys(QUERY_FIELDS, 0.0)
        m["python_worker_cpu_s"] = self._worker_cpu() - self._worker_cpu0
        qspans = [s for s in self.spans if s.qid == qid]
        query = next((s for s in qspans if s.name == "query"), None)
        if query is None:
            return m
        m["wall_s"] = query.end - query.start
        for s in qspans:
            dur = s.end - s.start
            if s.name == "operators.build":
                m["build_s"] += dur
            elif s.name == "session.tune":
                m["tune_s"] += dur
            elif s.name == "sources.table":
                m["table_s"] += dur
            elif s.name == "functions.fan_out":
                m["fan_out_s"] += dur
                m["fan_out_calls"] += 1
            elif s.name == "functions.kernel":
                m["kernel_calls"] += 1
        job_windows = []
        seen_stages: set[int] = set()
        for s in [s for s in qspans if s.group]:
            for jid in self.sc.statusTracker().getJobIdsForGroup(s.group):
                job_span, stage_ids = self._job_span(int(jid), s)
                job_windows.append((job_span.start, job_span.end))
                m["jobs"] += 1
                if s.name == "operators.build":
                    m["build_jobs"] += 1
                elif s.name == "sources.table":
                    m["source_jobs"] += 1
                for sid in stage_ids:
                    if sid not in seen_stages:
                        seen_stages.add(sid)
                        self._stages(sid, job_span, m)
        clipped = [(max(a, query.start), min(b, query.end)) for a, b in job_windows]
        m["job_active_s"] = union_length([w for w in clipped if w[1] > w[0]])
        m["driver_gap_s"] = max(m["wall_s"] - m["job_active_s"], 0.0)
        self._sql_metrics(m)
        return m

    def _job_span(self, jid: int, parent: Span) -> tuple[Span, list[int]]:
        jd = self._store.job(jid)
        start = jd.submissionTime().get().getTime() / 1000.0
        end = jd.completionTime().get().getTime() / 1000.0 if jd.completionTime().isDefined() else start
        stage_ids = [int(x) for x in str(jd.stageIds().mkString(",")).split(",") if x]
        js = Span(next(self._ids), "job", parent.id, parent.qid, start, end,
                  attrs={"job_id": jid})
        self.spans.append(js)
        return js, stage_ids

    def _stages(self, sid: int, job: Span, m: dict) -> None:
        gw = self.sc._gateway
        qs = gw.new_array(gw.jvm.double, 2)
        qs[0], qs[1] = 0.5, 1.0
        try:
            attempts = self._store.stageData(sid, False, gw.jvm.java.util.ArrayList(), True, qs)
        except Exception:  # evicted or never registered
            return
        for i in range(attempts.length()):
            sd = attempts.apply(i)
            if str(sd.status()) == "SKIPPED" or not sd.submissionTime().isDefined():
                continue
            start = sd.submissionTime().get().getTime() / 1000.0
            end = sd.completionTime().get().getTime() / 1000.0 if sd.completionTime().isDefined() else start
            tasks = int(sd.numTasks())
            run_s = sd.executorRunTime() / 1000.0
            self.spans.append(Span(next(self._ids), "stage", job.id, job.qid, start, end,
                                   attrs={"stage_id": sid, "tasks": tasks, "run_s": run_s}))
            m["stages"] += 1
            m["tasks"] += tasks
            m["run_s"] += run_s
            m["cpu_s"] += sd.executorCpuTime() / 1e9
            m["gc_s"] += sd.jvmGcTime() / 1000.0
            m["input_bytes"] += sd.inputBytes()
            m["input_rows"] += sd.inputRecords()
            m["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            m["shuffle_read_bytes"] += sd.shuffleReadBytes()
            m["shuffle_write_s"] += sd.shuffleWriteTime() / 1e9
            m["fetch_wait_s"] += sd.shuffleFetchWaitTime() / 1000.0
            m["spill_bytes"] += sd.diskBytesSpilled()
            dist = sd.taskMetricsDistributions()
            if dist.isDefined():
                d = dist.get()
                med, top = (float(x) for x in str(d.executorRunTime().mkString(",")).split(","))
                peak = float(str(d.peakExecutionMemory().mkString(",")).split(",")[1])
                m["peak_task_mem_bytes"] = max(m["peak_task_mem_bytes"], peak)
                if tasks > 1 and med > 0:
                    m["skew_weight_s"] += run_s
                    m["skew_weighted"] += run_s * top / med
            if tasks == 1:
                m["single_task_run_s"] += run_s

    def _sql_metrics(self, m: dict) -> None:
        while True:
            ex = self._sql.execution(self._next_exec)
            if not ex.isDefined():
                return
            eid = self._next_exec
            self._next_exec += 1
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            for i in range(nodes.length()):
                node = nodes.apply(i)
                name = str(node.name())
                if PYTHON_NODE.search(name):
                    m["python_nodes"] += 1
                wanted = _node_metrics(name)
                if not wanted:
                    continue
                metrics = node.metrics()
                for j in range(metrics.length()):
                    metric = metrics.apply(j)
                    key = wanted.get(str(metric.name()))
                    if key:
                        v = values.get(metric.accumulatorId())
                        if v.isDefined():
                            m[key] += metric_value(str(v.get()))

    # -- output ---------------------------------------------------------
    def write(self, path: str, extra: dict) -> None:
        selfs = self_times(self.spans)
        spans = []
        for s in sorted(self.spans, key=lambda s: (s.start, s.id)):
            row = asdict(s)
            row["self_s"] = selfs[s.id]
            spans.append(row)
        with open(path, "w") as fh:
            json.dump({**extra, "queries": self.per_query, "spans": spans}, fh)


def _node_metrics(name: str) -> dict[str, str]:
    if name.startswith("WholeStageCodegen"):
        return {"duration": "codegen_s"}
    if name == "BroadcastExchange":
        return {"data size": "broadcast_bytes", "time to build": "broadcast_build_s",
                "time to collect": "broadcast_collect_s"}
    if PYTHON_NODE.search(name):
        return {"data sent to Python workers": "python_bytes_sent",
                "data returned from Python workers": "python_bytes_received"}
    return {}


QUERY_FIELDS = (
    "wall_s", "build_s", "build_jobs", "source_jobs", "table_s", "tune_s",
    "fan_out_s", "fan_out_calls", "kernel_calls", "jobs", "stages", "tasks",
    "run_s", "cpu_s", "gc_s", "job_active_s", "driver_gap_s",
    "single_task_run_s", "skew_weighted", "skew_weight_s", "input_bytes",
    "input_rows", "shuffle_write_bytes", "shuffle_read_bytes",
    "shuffle_write_s", "fetch_wait_s", "spill_bytes", "peak_task_mem_bytes",
    "codegen_s", "broadcast_bytes", "broadcast_build_s", "broadcast_collect_s",
    "python_bytes_sent", "python_bytes_received", "python_nodes",
    "python_worker_cpu_s",
)


def layer_metrics(per_query: dict[str, dict], cores: int, page_bytes: int) -> dict[str, float]:
    """Workload totals for one traced pass, by layer."""
    def total(key: str) -> float:
        return sum(q[key] for q in per_query.values())

    run_s = total("run_s")
    return {
        "session.tune_s": total("tune_s"),
        "operators.build_s": total("build_s"),
        "operators.build_jobs": total("build_jobs"),
        "sources.table_s": total("table_s"),
        "sources.schema_jobs": total("source_jobs"),
        "sources.input_bytes": total("input_bytes"),
        "sources.input_rows": total("input_rows"),
        "functions.fan_out_s": total("fan_out_s"),
        "functions.fan_out_calls": total("fan_out_calls"),
        "functions.kernel_calls": total("kernel_calls"),
        "exec.jobs": total("jobs"),
        "exec.stages": total("stages"),
        "exec.tasks": total("tasks"),
        "exec.run_s": run_s,
        "exec.cpu_s": total("cpu_s"),
        "exec.gc_s": total("gc_s"),
        "exec.driver_gap_s": total("driver_gap_s"),
        "exec.slot_busy_share": run_s / (total("job_active_s") * cores) if run_s else 0.0,
        "exec.single_task_share": total("single_task_run_s") / run_s if run_s else 0.0,
        "exec.task_skew": (total("skew_weighted") / total("skew_weight_s")
                           if total("skew_weight_s") else 1.0),
        "exec.python_nodes": total("python_nodes"),
        "shuffle.write_bytes": total("shuffle_write_bytes"),
        "shuffle.read_bytes": total("shuffle_read_bytes"),
        "shuffle.write_s": total("shuffle_write_s"),
        "shuffle.fetch_wait_s": total("fetch_wait_s"),
        "spill.bytes": total("spill_bytes"),
        "broadcast.bytes": total("broadcast_bytes"),
        "broadcast.build_s": total("broadcast_build_s"),
        "broadcast.collect_s": total("broadcast_collect_s"),
        "memory.peak_task_pages": total("peak_task_mem_bytes") / page_bytes,
        "codegen.s": total("codegen_s"),
        "python.bytes_sent": total("python_bytes_sent"),
        "python.bytes_received": total("python_bytes_received"),
        "python.worker_cpu_s": total("python_worker_cpu_s"),
    }
