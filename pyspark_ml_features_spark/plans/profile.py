"""Run profile: what one run of the engine did, read from Spark's status
stores (`plans.audit` reads the plan; this reads what the plan cost).

``profile(spark, run)`` calls ``run()`` under a job group of its own, then
reads both stores, which Spark keeps with the UI off: task metrics of every
stage of every job in the group (``stageData``; each stage once, skipped
stages not at all), and operator metrics of every SQL execution the run
started (``planGraph`` + ``executionMetrics``; each plan node once, so a
reused exchange counts once). So the record covers everything the call
launched: eager checkpoints, caches and probes while a query is built, and
the final collect, count or write.

Usage:
    p = profile(spark, lambda: build(spark).write.format("noop")
                .mode("overwrite").save())
    print(p.shuffle_write_bytes, p.spill_bytes, p.peak_task_memory)
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError

GROUP_PROP = "spark.jobGroup.id"
MIB = 2 ** 20
_SIZES = {"B": 1, "KiB": 2 ** 10, "MiB": 2 ** 20, "GiB": 2 ** 30,
          "TiB": 2 ** 40}
_READ = ("number of output rows", "peak memory", "data size")


@dataclass
class Profile:
    """Totals over one run. Broadcast bytes and the operator peaks come
    from the SQL store's printed values, so they are exact only to the
    printed digit ("64.2 MiB", "2.0 GiB"); stage fields are exact."""

    wall_s: float = 0.0
    executions: int = 0          # SQL executions the run started
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    cpu_s: float = 0.0
    shuffle_write_bytes: int = 0
    broadcast_bytes: int = 0     # BroadcastExchange data size
    spill_bytes: int = 0         # spilled data, at its in-memory size
    scan_rows: int = 0           # rows leaving source scans
    output_rows: int = 0         # rows out of the last execution's root
    # peak memory three ways: the largest operator peak, which Spark sums
    # over the operator's tasks; the most one task held in one operator;
    # and the most one task held over all its operators
    peak_node_memory: int = 0
    peak_node_task_memory: int = 0
    peak_task_memory: int = 0
    # the session's memory page: Spark sizes it at start-up from execution
    # memory and cores (nextPowerOf2(memory / cores / 16) within 1-64 MiB,
    # less a 16-byte array header under G1); sorters and aggregation maps
    # reserve whole pages
    page_bytes: int = 0

    def row(self) -> dict[str, float]:
        """Compact dict for tables/JSON (bytes in MiB, 2 dp)."""
        return {
            "shuffle_MiB": round(self.shuffle_write_bytes / MIB, 2),
            "broadcast_MiB": round(self.broadcast_bytes / MIB, 2),
            "spill_MiB": round(self.spill_bytes / MIB, 2),
            "peak_node_MiB": round(self.peak_node_memory / MIB, 2),
            "peak_task_MiB": round(self.peak_task_memory / MIB, 2),
            "peak_node_task_pages": round(
                self.peak_node_task_memory / self.page_bytes, 3)
            if self.page_bytes else 0.0,
            "scan_rows": self.scan_rows,
            "out_rows": self.output_rows,
        }


def profile(spark, run) -> Profile:
    """Call ``run()`` and return the profile of everything it launched.

    The caller's job group is restored afterwards. SQL executions are
    attributed by id, which Spark assigns in sequence. A streaming query's
    micro-batches run under the stream's own job group, so their stages
    are not in the record."""
    sc = spark.sparkContext
    sql = spark._jsparkSession.sharedState().statusStore()
    n = int(sql.executionsCount())
    first_exec = int(sql.executionsList(n - 1, 1).apply(0).executionId()) + 1 \
        if n else 0
    group = f"profile-{uuid.uuid4().hex}"
    outer = sc.getLocalProperty(GROUP_PROP)
    sc.setLocalProperty(GROUP_PROP, group)
    t0 = time.perf_counter()
    try:
        run()
    finally:
        p = Profile(wall_s=time.perf_counter() - t0)
        sc.setLocalProperty(GROUP_PROP, outer)
    p.page_bytes = int(
        sc._jvm.org.apache.spark.SparkEnv.get().memoryManager().pageSizeBytes())
    sc._jsc.sc().listenerBus().waitUntilEmpty()

    _read_stages(sc, sc.statusTracker().getJobIdsForGroup(group), p)
    eid = first_exec
    while sql.execution(eid).isDefined():
        _read_execution(sql, eid, p)
        eid += 1
    p.executions = eid - first_exec
    return p


def _read_stages(sc, job_ids, p: Profile) -> None:
    store = sc._jsc.sc().statusStore()
    gw = sc._gateway
    quantiles = gw.new_array(gw.jvm.double, 1)
    quantiles[0] = 1.0
    seen: set[int] = set()
    for jid in job_ids:
        p.jobs += 1
        ids = str(store.job(int(jid)).stageIds().mkString(","))
        for sid in {int(x) for x in ids.split(",") if x} - seen:
            seen.add(sid)
            try:
                attempts = store.stageData(
                    sid, False, gw.jvm.java.util.ArrayList(), True, quantiles)
            except Py4JJavaError:  # evicted from the store
                continue
            for i in range(attempts.length()):
                sd = attempts.apply(i)
                if str(sd.status()) == "SKIPPED" \
                        or not sd.submissionTime().isDefined():
                    continue
                p.stages += 1
                p.tasks += int(sd.numTasks())
                p.cpu_s += sd.executorCpuTime() / 1e9
                p.shuffle_write_bytes += int(sd.shuffleWriteBytes())
                p.spill_bytes += int(sd.memoryBytesSpilled())
                dist = sd.taskMetricsDistributions()
                if dist.isDefined():
                    peak = int(dist.get().peakExecutionMemory().apply(0))
                    p.peak_task_memory = max(p.peak_task_memory, peak)


def _read_execution(sql, eid: int, p: Profile) -> None:
    values = sql.executionMetrics(eid)
    graph = sql.planGraph(eid).allNodes()
    # plan-graph node ids run in pre-order from the root, so the first
    # node that reports rows is the topmost one
    nodes = sorted((graph.apply(i) for i in range(graph.length())),
                   key=lambda node: node.id())
    root_rows = None
    for node in nodes:
        name = str(node.name())
        # a checkpoint's re-read is "Scan ExistingRDD", not a source scan
        source = name == "Range" or name.startswith("BatchScan") or (
            name.startswith("Scan ") and "ExistingRDD" not in name)
        metrics = node.metrics()
        for j in range(metrics.length()):
            metric = metrics.apply(j)
            key = str(metric.name())
            if key not in _READ:
                continue
            text = values.get(metric.accumulatorId())
            if not text.isDefined():
                continue
            value = metric_value(str(text.get()))
            if key == "number of output rows":
                root_rows = value if root_rows is None else root_rows
                p.scan_rows += value if source else 0
            elif key == "peak memory":
                p.peak_node_memory = max(p.peak_node_memory, value)
                p.peak_node_task_memory = max(p.peak_node_task_memory,
                                              metric_max(str(text.get())))
            elif name == "BroadcastExchange":
                p.broadcast_bytes += value
    p.output_rows = root_rows or 0


def metric_value(text: str) -> int:
    """One SQL metric as the SQL status store prints it: a count
    (``6,000``) or a size, alone or as the total of a ``total (min, med,
    max ...)`` block. Sizes come back in bytes, rounded as printed."""
    head = text.strip().split("\n")[-1].split(" (")[0].split()
    value = float(head[0].replace(",", ""))
    return round(value * _SIZES[head[1]] if len(head) > 1 else value)


def metric_max(text: str) -> int:
    """The most one task reported of a metric printed as in
    ``metric_value``: the ``max`` field of a ``total (min, med, max
    (stageId: taskId))`` block, or the value itself, which Spark prints
    alone when one task reported."""
    line = text.strip().split("\n")[-1]
    if " (" not in line:
        return metric_value(line)
    return metric_value(line.split(" (", 1)[1].split(", ")[2])
