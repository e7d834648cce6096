"""Physical-plan audit: the scale properties this engine cares about,
extracted from a DataFrame's optimized plan as data instead of eyeballs.

``audit(df)`` parses ``explain("formatted")`` output into a ``PlanAudit``;
``assert_scale_safe(df)`` raises with every violation listed — the
programmatic form of the checklist in tests/test_plans.py, usable as a CI
gate on any pipeline built on this engine ("no Cartesian products, no
row-at-a-time Python, at most N shuffles entered production").
"""

from __future__ import annotations

import re
from contextlib import contextmanager
from contextvars import ContextVar
from dataclasses import dataclass, field

from pyspark.sql import DataFrame


def plan_text(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode)


# ---------------------------------------------------------------------------
# Pre-checkpoint plan capture (VERDICT r5 task 4). localCheckpoint TRUNCATES
# lineage, so the registry-wide audit — which sees only the returned
# DataFrame's plan — was blind to the joins inside iterative fixpoints
# (connected components, pagerank, k-hop): a CartesianProduct in a round's
# lineage would never reach the ratchet. Fixpoint code checkpoints through
# probe_checkpoint(); a test wraps execution in capture_checkpoint_plans()
# and audits every plan that was about to be truncated.

# ContextVar, not a module global (ADVICE r6): two threads (or asyncio
# tasks) running queries concurrently under capture_checkpoint_plans()
# each see their own capture list, and exiting one context can never
# clobber a sibling's — a global with a saved/restored `prev` could.
_CAPTURE: ContextVar[list[dict] | None] = ContextVar("plan_capture",
                                                     default=None)


@contextmanager
def capture_checkpoint_plans():
    """Record (label, formatted physical plan, analyzed logical plan) for
    every probe_checkpoint() call in the block; yields the list. Safe
    under concurrent captures: the buffer is context-local."""
    token = _CAPTURE.set([])
    try:
        yield _CAPTURE.get()
    finally:
        _CAPTURE.reset(token)


def probe_checkpoint(df: DataFrame, label: str = "") -> DataFrame:
    """``df.localCheckpoint(eager=True)`` with an audit tap: under
    capture_checkpoint_plans() the plan that is about to be truncated is
    recorded (physical for the cartesian/BNLJ audit, analyzed for the
    broadcast-hint ratchet). Zero overhead when no capture is active —
    explain is never invoked on the normal path."""
    captured = _CAPTURE.get()
    if captured is not None:
        captured.append({
            "label": label,
            "plan": plan_text(df),
            "analyzed": df._jdf.queryExecution().analyzed().toString(),
        })
    return df.localCheckpoint(eager=True)


def probe_stream_query(query, label: str) -> None:
    """Audit tap for a FINISHED StreamingQuery (ADVICE r9): the
    registry-wide scale audit sees only the drained memory-sink table —
    a batch scan whose plan hides every streaming node, so a Python
    boundary or an all-pairs join inside the streaming pipeline was
    invisible to the ratchet. Under capture_checkpoint_plans() this
    records the query's EXECUTED micro-batch physical plan (what
    actually ran, post-AQE — `explainInternal` on the finished query)
    so tests can run the same cartesian/BNLJ/Python audit over it.
    Zero overhead when no capture is active."""
    captured = _CAPTURE.get()
    if captured is not None:
        captured.append({
            "label": label,
            "plan": query._jsq.explainInternal(False),
            "analyzed": query._jsq.explainInternal(True),
        })


@dataclass
class PlanAudit:
    cartesian_products: int = 0
    nested_loop_joins: int = 0
    broadcast_hash_joins: int = 0
    sort_merge_joins: int = 0
    shuffles: int = 0
    python_row_udfs: int = 0
    arrow_python_nodes: int = 0
    take_ordered: int = 0
    window_group_limits: int = 0
    pushed_filters: list[str] = field(default_factory=list)
    read_schemas: list[str] = field(default_factory=list)


def audit(df: DataFrame) -> PlanAudit:
    return audit_text(plan_text(df))


def audit_text(plan: str) -> PlanAudit:
    """The audit over already-extracted plan text — used directly on the
    pre-checkpoint plans captured from fixpoint internals."""
    a = PlanAudit(
        cartesian_products=plan.count("CartesianProduct"),
        nested_loop_joins=plan.count("BroadcastNestedLoopJoin"),
        broadcast_hash_joins=plan.count("BroadcastHashJoin"),
        sort_merge_joins=plan.count("SortMergeJoin"),
        # broadcast exchanges are not shuffles — count only repartitions.
        # Formatted mode names shuffle nodes "(N) Exchange" (broadcasts are
        # "(N) BroadcastExchange", which \bExchange\b after "(N) " excludes);
        # simple mode prints "Exchange hashpartitioning(...)" — match both.
        shuffles=(len(re.findall(r"\(\d+\) Exchange\b", plan))
                  + len(re.findall(r"Exchange (?:hash|range|rebalance|"
                                   r"RoundRobin|SinglePartition)", plan))),
        python_row_udfs=plan.count("BatchEvalPython"),
        arrow_python_nodes=(plan.count("ArrowEvalPython")
                            + plan.count("FlatMapGroupsInPandas")
                            + plan.count("MapInPandas")
                            + plan.count("MapInArrow")
                            + plan.count("AggregateInPandas")),
        take_ordered=plan.count("TakeOrderedAndProject"),
        window_group_limits=plan.count("WindowGroupLimit"),
        pushed_filters=re.findall(r"PushedFilters: \[([^\]]*)\]", plan),
        read_schemas=re.findall(r"ReadSchema: (\S+)", plan),
    )
    return a


def assert_scale_safe(df: DataFrame, *, max_shuffles: int | None = None,
                      allow_python: bool = True,
                      allow_sort_merge: bool = True) -> PlanAudit:
    """Raise if the plan has scale-killers; returns the audit otherwise.

    Cartesian/nested-loop joins are always violations (all-pairs work);
    ``max_shuffles`` caps Exchange nodes, ``allow_python=False`` forbids any
    Python eval in the plan (hot-path JVM-only contract), and
    ``allow_sort_merge=False`` demands every join broadcast."""
    a = audit(df)
    problems = []
    if a.cartesian_products:
        problems.append(f"{a.cartesian_products} CartesianProduct node(s)")
    if a.nested_loop_joins:
        problems.append(f"{a.nested_loop_joins} BroadcastNestedLoopJoin(s)")
    if max_shuffles is not None and a.shuffles > max_shuffles:
        problems.append(f"{a.shuffles} shuffles (max {max_shuffles})")
    if not allow_python and (a.python_row_udfs or a.arrow_python_nodes):
        problems.append(
            f"Python eval in plan ({a.python_row_udfs} row-UDF, "
            f"{a.arrow_python_nodes} Arrow node(s))")
    if not allow_sort_merge and a.sort_merge_joins:
        problems.append(f"{a.sort_merge_joins} SortMergeJoin(s)")
    if problems:
        raise AssertionError("plan not scale-safe: " + "; ".join(problems))
    return a
