"""Equality of the large-star/small-star connected-components variant
(graph.py:connected_components_star, Kiveris et al. SoCC'14) with the
min-label fixpoint on every graph topology class the repo uses, plus the
round bound that justifies its existence: ~log2(n) rounds on a
long-chain graph (the PROVEN O(log n) bound — jumped min-label matches
it empirically on paths but carries no worst-case guarantee; see the
measured ladder in scripts/stress_cc.py)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from pyspark_ml_features_spark.operators.graph import (
    connected_components,
    connected_components_star,
    near_dup_edges,
)
from pyspark_ml_features_spark.plans.profile import profile
from pyspark_ml_features_spark.sources import table

from tests.conftest import SMOKE_SF_DIR


def _df_edges(spark, pairs):
    """Each undirected edge once, as both CC functions take it."""
    return spark.createDataFrame(pairs, "src BIGINT, dst BIGINT")


def _df_nodes(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "node BIGINT")


def _labels(df):
    return {r["node"]: r["cluster_id"] for r in df.collect()}


def _assert_equal_components(spark, nodes, edges):
    a = _labels(connected_components(_df_nodes(spark, nodes),
                                     _df_edges(spark, edges)))
    b = _labels(connected_components_star(_df_nodes(spark, nodes),
                                          _df_edges(spark, edges)))
    assert a == b
    return a


def test_path_graph_20_nodes(spark):
    """The adversarial fixture from the min-label docstring: a 20-node
    path, diameter 19 — worst case for label propagation."""
    nodes = list(range(1, 21))
    edges = [(i, i + 1) for i in range(1, 20)]
    labels = _assert_equal_components(spark, nodes, edges)
    assert set(labels.values()) == {1}


def test_star_cliques_and_singletons(spark):
    """The production near-dup topology: stars, cliques, isolated nodes."""
    nodes = list(range(100, 120))
    edges = ([(100, v) for v in range(101, 106)]          # star at 100
             + [(a, b) for a in range(110, 114)
                for b in range(a + 1, 114)])              # 4-clique
    labels = _assert_equal_components(spark, nodes, edges)
    assert labels[105] == 100 and labels[113] == 110
    assert labels[119] == 119  # singleton labels itself


def test_two_chains_bridge(spark):
    """Two chains joined by one bridge edge — exercises cross-star merge."""
    nodes = list(range(1, 31))
    edges = ([(i, i + 1) for i in range(1, 15)]
             + [(i, i + 1) for i in range(16, 30)]
             + [(7, 22)])
    labels = _assert_equal_components(spark, nodes, edges)
    assert set(labels.values()) == {1}


def test_real_neardup_graph_equality(spark):
    """e45's actual edge set (Jaccard >= 0.5 inverted-index pairs on the
    20% document sample) — the graph the oracle-graded queries run on."""
    d = table(spark, SMOKE_SF_DIR, "documents") \
        .filter(F.col("doc_id") % 5 == 0)
    edges = near_dup_edges(d, 0.5)
    nodes = d.select(F.col("doc_id").alias("node"))
    a = _labels(connected_components(nodes, edges))
    b = _labels(connected_components_star(nodes, edges))
    assert a == b and len(a) > 0


def test_star_rounds_logarithmic_on_long_chain(spark):
    """The round bound that motivates the variant: on a 256-node path
    (diameter 255) the star algorithm closes in O(log n) rounds —
    measured 9, asserted <= 10 with headroom 0 beyond the confirm
    round. Jumped min-label also lands ~log2 here (pointer jumping is
    path doubling), so the assertion pins the star bound itself; the
    separation vs UN-jumped propagation (O(diameter) = 255 rounds,
    capped) is what the algorithm buys on topologies where jumping's
    single hop per round can't keep up — measured side by side in
    scripts/stress_cc.py."""
    n = 256
    nodes = list(range(1, n + 1))
    edges = [(i, i + 1) for i in range(1, n)]
    s_min, s_star = {}, {}
    a = _labels(connected_components(_df_nodes(spark, nodes),
                                     _df_edges(spark, edges),
                                     stats=s_min))
    b = _labels(connected_components_star(_df_nodes(spark, nodes),
                                          _df_edges(spark, edges),
                                          stats=s_star))
    assert a == b and set(a.values()) == {1}
    assert s_star["rounds"] <= 10
    assert s_star["rounds"] <= s_min["rounds"] + 1


@pytest.mark.parametrize("seed", [7, 23])
def test_random_graph_equality(spark, seed):
    """Seeded Erdos-Renyi-ish graphs: arbitrary multi-component topology."""
    import random

    rng = random.Random(seed)
    nodes = list(range(1, 81))
    edges = [(a, b) for a in nodes for b in nodes
             if a < b and rng.random() < 0.03]
    _assert_equal_components(spark, nodes, edges)


def test_star_raises_when_round_cap_binds(spark):
    """ADVICE r11: a capped run must never be mistaken for a correct
    labeling. A 20-node path cannot reach its fixpoint in one round, so
    max_rounds=1 must raise (and record converged=False in stats) rather
    than silently return labels from a non-converged edge set; with the
    default budget the same graph converges and reports converged=True."""
    nodes = _df_nodes(spark, list(range(1, 21)))
    edges = _df_edges(spark, [(i, i + 1) for i in range(1, 20)])
    stats: dict = {}
    with pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components_star(nodes, edges, max_rounds=1,
                                  stats=stats).collect()
    assert stats == {"rounds": 1, "converged": False}

    ok: dict = {}
    lbl = _labels(connected_components_star(nodes, edges, stats=ok))
    assert ok["converged"] is True and ok["rounds"] >= 2
    assert set(lbl.values()) == {1}


def test_minlabel_raises_when_round_cap_binds(spark):
    """r12 review: the convergence guard belongs to the shared mechanism,
    not one variant — the min-label fixpoint must also raise (and record
    converged=False) when max_rounds exhausts before the changed-label
    probe confirms a fixpoint, since e112/e114 and every dedup cluster query
    route through THIS variant."""
    nodes = _df_nodes(spark, list(range(1, 21)))
    edges = _df_edges(spark, [(i, i + 1) for i in range(1, 20)])
    stats: dict = {}
    with pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components(nodes, edges, max_rounds=1,
                             stats=stats).collect()
    assert stats == {"rounds": 1, "converged": False}

    ok: dict = {}
    lbl = _labels(connected_components(nodes, edges, stats=ok))
    assert ok["converged"] is True and ok["rounds"] >= 2
    assert set(lbl.values()) == {1}


@pytest.mark.parametrize("n,rounds", [(2, 2), (20, 5), (256, 9)])
def test_minlabel_round_runs_only_its_checkpoint(spark, n, rounds):
    """The convergence probe rides each round's eager checkpoint as an
    observe() metric, so building the fixpoint runs exactly the edge
    and init checkpoints plus ONE execution per round — no up-front
    probe and no per-round collect. Pinned on chains that need
    different round counts, so a per-round extra execution cannot hide
    in a constant."""
    nodes = _df_nodes(spark, list(range(1, n + 1)))
    edges = _df_edges(spark, [(i, i + 1) for i in range(1, n)])
    stats: dict = {}
    cc = []
    run = profile(spark, lambda: cc.append(
        connected_components(nodes, edges, stats=stats)))
    assert stats["rounds"] == rounds
    assert run.executions == 2 + rounds
    assert set(_labels(cc[0]).values()) == {1}


@pytest.mark.parametrize("n", [2, 20, 256])
def test_star_round_runs_its_checkpoint_and_at_most_one_probe(spark, n):
    """Each star round's checkpoint carries the new edge count as an
    observe() metric, so a round runs its checkpoint plus, only when the
    counts tie, the exact exceptAll probe — never a count job per side.
    Pinned on the min-label test's chains, whose round counts differ."""
    nodes = _df_nodes(spark, list(range(1, n + 1)))
    edges = _df_edges(spark, [(i, i + 1) for i in range(1, n)])
    stats: dict = {}
    cc = []
    run = profile(spark, lambda: cc.append(
        connected_components_star(nodes, edges, stats=stats)))
    assert stats["converged"] is True
    assert run.executions <= 1 + 2 * stats["rounds"]
    assert set(_labels(cc[0]).values()) == {1}
