"""Iterative graph operators over the near-duplicate pair graph. This
module owns every graph iteration in the engine; the registered queries,
the other operator families and the ladder scripts call these functions
instead of keeping loops of their own:

- ``connected_components``: pointer-jumped min-label propagation to a
  fixpoint, with an optional warm start. Every dedup CLUSTER query
  (e21, e45, e47, e58, e66, e67, e103, e112, e114 and the curation
  pipeline) runs it. Clustering is the step every production dedup
  pipeline runs AFTER pair generation: pairs alone don't say which
  documents form one duplicate GROUP; transitive closure does (A≈B,
  B≈C ⇒ {A,B,C} is one cluster and one representative survives).
- ``connected_components_star``: the large-star/small-star variant with
  the proven O(log n) round bound (e109).
- ``khop_reach``: bounded 3-hop BFS (e56).
- ``pagerank``: fixed 5-round damped PageRank (e60).

All four take an undirected edge list as ``(src, dst)`` rows with each
edge given ONCE, in either direction (the two CC functions also accept
duplicates and self-loops); ``_both_directions`` builds the directed
adjacency the min-label, BFS and PageRank loops walk, so no caller
writes a reverse copy.
``with_cluster_size`` is the one cluster-size join behind every
``cluster_size`` column.

The fixpoints are exactly SQL-expressible: the DuckDB oracles compute
the same transitive closure with a recursive CTE (min-label
reachability), so the driver hash-checks an iterative Spark algorithm
against recursive SQL — no rows-only weakening.

Scale design (100 TB): min-label propagation converges in O(diameter)
rounds; near-dup graphs are overwhelmingly tiny star/clique components
(diameter ≤ 3 in practice), so 3-5 rounds close almost everything and the
cap is a safety net. Each round is one shuffle of the (still-relabeling)
frontier; `localCheckpoint(eager=True)` truncates lineage so round N's
plan doesn't replay rounds 1..N-1. For adversarial long-chain graphs the
published upgrade is the large-star/small-star algorithm (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14), which converges
in O(log n) rounds with the same per-round join shape. Edges come from
the candidate-bounded inverted-index join (dedup.py:jaccard_pairs) here;
at deployment scale they come from the banded-LSH family (e2d/e33), which
emits each candidate pair exactly once.

Reference: the reference repo (six ML utilities, spark_ml_features.py:1)
has no graph or dedup surface; this is SURVEY §2-E north-star scope.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession

from pyspark_ml_features_spark.functions.arrays import (
    duckdb_dot,
    duckdb_norm,
    l2_norm,
    to_double_array,
)
from pyspark_ml_features_spark.functions.text import tokens
from pyspark_ml_features_spark.operators.dedup import (
    MINHASH_AFFINE,
    MINHASH_P,
    MINHASH_SHINGLE_B,
    _CC_CTES,
    _near_dup_edges_ctes,
    jaccard_pairs,
    minhash_signatures,
)
from pyspark_ml_features_spark.operators.similarity import DIM
from pyspark_ml_features_spark.plans.audit import probe_checkpoint
from pyspark_ml_features_spark.registry import register
from pyspark_ml_features_spark.sources import table


def near_dup_edges(docs: DataFrame, threshold: float) -> DataFrame:
    """Token-set Jaccard >= ``threshold`` pairs of ``docs`` (doc_id,
    text) as one-way (src, dst) edges, src < dst."""
    return (jaccard_pairs(docs, tokens("text"), threshold=threshold)
            .select(F.col("d1").alias("src"), F.col("d2").alias("dst")))


def _both_directions(edges: DataFrame) -> DataFrame:
    """The directed adjacency of an undirected (src, dst) edge list:
    every edge plus its reverse."""
    return edges.unionByName(edges.select(F.col("dst").alias("src"),
                                          F.col("src").alias("dst")))


def with_cluster_size(cc: DataFrame) -> DataFrame:
    """``cc`` (node, cluster_id) with each row's ``cluster_size``: the
    member count of its cluster."""
    sizes = (cc.groupBy("cluster_id")
             .agg(F.count(F.lit(1)).alias("cluster_size")))
    return cc.join(sizes, "cluster_id")


def connected_components(nodes: DataFrame, edges: DataFrame,
                         max_rounds: int = 25,
                         stats: dict | None = None,
                         init_labels: DataFrame | None = None) -> DataFrame:
    """Min-label propagation to a fixpoint.

    ``nodes``: one column ``node`` (BIGINT). ``edges``: columns
    ``src``/``dst``, each undirected edge given once in either direction
    (the reverse is added here; duplicates and self-loops are harmless).
    Returns (node, cluster_id) where cluster_id = min node id reachable.

    Convergence: each round's eager checkpoint carries an ``observe()``
    metric counting the labels the round lowered, so a round costs ONE
    Spark job and no separate probe runs, before the loop or in it.
    Labels only ever decrease, so zero changed labels is the fixpoint;
    ``stats["rounds"]`` counts the final no-change confirmation round.

    ``init_labels`` (node, lbl) warm-starts the fixpoint — correct for any
    assignment where each label is the min node id of a SUBSET of its
    node's component (e.g. a previous run's clusters over a subgraph):
    the fixpoint of min-propagation from such labels is still the
    component min. Nodes absent from ``init_labels`` start as themselves.

    The symmetric edge list is materialized ONCE up front
    (probe_checkpoint): each round runs as its own Spark job, and jobs do
    not reuse another job's shuffle stages — an un-checkpointed edge
    lineage (scan + shingle + candidate join) would re-execute EVERY
    round. The probe also hands the edge-building plan (the place an
    all-pairs join could hide) to the registry-wide audit exactly once
    (VERDICT r5 task 4)."""
    edges = probe_checkpoint(_both_directions(edges),
                             "connected_components.edges")
    labels = nodes.select("node", F.col("node").alias("lbl"))
    if init_labels is not None:
        labels = (labels.join(init_labels.withColumnRenamed("lbl", "init"),
                              "node", "left")
                  .select("node", F.coalesce("init", "lbl").alias("lbl")))
    labels = probe_checkpoint(labels, "connected_components.init")
    rounds = 0
    for rounds in range(1, max_rounds + 1):
        neigh_min = (edges.join(labels, edges["src"] == labels["node"])
                     .groupBy(F.col("dst").alias("node"))
                     .agg(F.min("lbl").alias("nmin")))
        stepped = (labels.join(neigh_min, "node", "left")
                   .select("node", F.col("lbl").alias("prev"),
                           F.least(F.col("lbl"),
                                   F.coalesce("nmin", "lbl")).alias("lbl")))
        # Pointer jumping (round-10): lbl <- min(lbl, lbl[lbl]). Every
        # label is a node id inside its own component (min-propagation
        # invariant), so the label's label is too — the fixpoint is
        # unchanged (component min) but long chains collapse in
        # O(log diameter) rounds instead of O(diameter). On a
        # fixed-overhead-per-round local fixpoint this is the whole
        # wall: e103's 63-node brightness-chain graph took 11 rounds
        # (5.0 s) without it. The self-join re-evaluates the stepped
        # subtree (one tiny shuffle) — cheaper than the rounds it
        # removes at any scale, since rounds cost a full edge join.
        # ONE jump per round: a second application was measured to buy
        # zero rounds on the e103 graph (8 with either) while the
        # self-join re-evaluates the un-materialized stepped subtree —
        # plan work grows multiplicatively per extra jump.
        ptr = stepped.select(F.col("node").alias("pnode"),
                             F.col("lbl").alias("plbl"))
        jumped = (stepped.join(ptr, stepped["lbl"] == ptr["pnode"],
                               "left")
                  .select(stepped["node"], stepped["prev"],
                          F.least(stepped["lbl"],
                                  F.coalesce("plbl", stepped["lbl"]))
                          .alias("lbl")))
        changed = Observation()
        labels = probe_checkpoint(
            jumped.observe(changed, F.count_if(F.col("lbl") < F.col("prev"))
                           .alias("n"))
            .select("node", "lbl"),
            "connected_components.round")
        if changed.get["n"] == 0:
            converged = True
            break
    else:
        converged = False
    if stats is not None:
        # rounds includes the final no-change confirmation round
        stats["rounds"] = rounds
        stats["converged"] = converged
    if not converged:
        # Same contract as connected_components_star (ADVICE r11, extended
        # by the r12 review to the shared mechanism): labels read before
        # the changed-label probe confirms a fixpoint can split one
        # component into several, so a capped run must raise, never
        # silently return.
        raise RuntimeError(
            f"connected_components: no fixpoint after {max_rounds} rounds "
            f"— labels would be unreliable; raise max_rounds (pointer "
            f"jumping needs ~log2(diameter) + 1 rounds)")
    return labels.select("node", F.col("lbl").alias("cluster_id"))


def connected_components_star(nodes: DataFrame, edges: DataFrame,
                              max_rounds: int = 50,
                              stats: dict | None = None) -> DataFrame:
    """Connected components via alternating LARGE-STAR / SMALL-STAR
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14) — the published O(log n)-round algorithm the
    min-label fixpoint's docstring names as the adversarial-graph
    upgrade. Same contract as ``connected_components`` (``nodes``: one
    BIGINT ``node`` column; ``edges``: src/dst, each undirected edge once
    in either direction — the first step below canonicalizes every edge
    to (hi, lo) and drops self-loops and duplicates; returns
    (node, cluster_id) with cluster_id = component-min node id), so the
    two are drop-in interchangeable on the same one-way pairs — equality
    is pinned on every CC fixture in tests/test_graph_star.py and
    driver-graded via e109.

    Per round (both steps are one groupBy + one equi-join — the exact
    shuffle shape of a min-label round, just two of them):

    - large-star: every node u connects each STRICTLY LARGER neighbor
      to m(u) = min(N(u) ∪ {u}). Keeps connectivity, halves the height
      of tall subtrees (the step min-label lacks: it moves edges, not
      just labels).
    - small-star: with edges oriented (hi, lo), every node u connects
      its smaller neighbors — and itself — to its minimum neighbor.
      Collapses the local stars large-star built.

    Convergence = the canonical (hi, lo) edge SET is exactly unchanged
    (an exceptAll probe, not a hash — a hash-collision early stop would
    silently mislabel); at the fixpoint every surviving edge is
    (node, component-min), so labels read straight off the edge list
    and isolated nodes label themselves. The paper PROVES O(log n)
    rounds on ANY graph; measured on long chains (scripts/ladder.py cc
    ladder) both variants land at ~log2(n)+1 — 4096-node path: 13 star
    rounds vs 13 jumped min-label rounds, with min-label ~2× faster per
    round (one shuffle and a probe that rides its checkpoint vs two
    shuffles + an exact set-equality probe). What the star variant buys
    is therefore the GUARANTEE, not a chain speedup: single-hop pointer
    jumping matches it empirically on paths but carries no published
    worst-case bound, so star is the documented fallback when a fixpoint
    run blows past the expected round budget on unknown topology.

    100 TB: identical per-round economics to the min-label fixpoint
    (equi-join shuffles on node id, lineage truncated per round via
    probe_checkpoint); the round COUNT is what improves. Near-dup
    graphs are tiny-diameter stars/cliques where min-label already
    closes in 3-5 rounds, so the default stays min-label; this variant
    is for unknown/adversarial topology (social graphs, citation
    chains, web link graphs)."""
    e = (edges.filter(F.col("src") != F.col("dst"))
         .select(F.greatest("src", "dst").alias("hi"),
                 F.least("src", "dst").alias("lo"))
         .distinct())
    # each checkpoint carries its row count as an observe() metric, so
    # the convergence probe needs no count job of its own
    n_edges = Observation()
    e = probe_checkpoint(e.observe(n_edges, F.count(F.lit(1)).alias("n")),
                         "cc_star.init")
    e_count = n_edges.get["n"]
    rounds = 0
    for rounds in range(1, max_rounds + 1):
        # large-star over both orientations of the current edge set
        nbrs = (e.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
                .unionByName(e.select(F.col("lo").alias("u"),
                                      F.col("hi").alias("v"))))
        mins = (nbrs.groupBy("u").agg(F.min("v").alias("mv"))
                .select("u", F.least("mv", "u").alias("m")))
        large = (nbrs.join(mins, "u")
                 .filter(F.col("v") > F.col("u"))
                 .filter(F.col("v") != F.col("m"))
                 .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
                 .distinct())
        # small-star over the (hi, lo) orientation
        smins = (large.groupBy(F.col("hi").alias("u"))
                 .agg(F.min("lo").alias("m")))
        lowered = (large.join(smins, large["hi"] == smins["u"])
                   .select(F.col("lo").alias("v"), "m")
                   .filter(F.col("v") != F.col("m"))
                   .select(F.col("v").alias("hi"), F.col("m").alias("lo")))
        selfed = smins.select(F.col("u").alias("hi"),
                              F.col("m").alias("lo"))
        n_small = Observation()
        small = probe_checkpoint(
            lowered.unionByName(selfed).distinct()
            .observe(n_small, F.count(F.lit(1)).alias("n")),
            "cc_star.round")
        small_count = n_small.get["n"]
        # exact set-equality convergence probe: equal counts + empty
        # one-way difference == multiset equality for two distinct sets
        changed = (small_count != e_count
                   or small.exceptAll(e).limit(1).count() > 0)
        e, e_count = small, small_count
        if not changed:
            converged = True
            break
    else:
        converged = False
    if stats is not None:
        stats["rounds"] = rounds
        stats["converged"] = converged
    if not converged:
        # This variant exists precisely for adversarial/unknown topology
        # where the round cap is likelier to bind — labels read off a
        # NON-fixpoint edge set can split one component into several, so
        # a capped run must never be mistaken for a correct labeling
        # (ADVICE r11). O(log n) rounds is the paper's bound; hitting
        # max_rounds means the budget was set far below it.
        raise RuntimeError(
            f"connected_components_star: no fixpoint after {max_rounds} "
            f"rounds — labels would be unreliable; raise max_rounds "
            f"(O(log n) suffices per Kiveris et al.)")
    star_lbl = e.groupBy(F.col("hi").alias("node")) \
        .agg(F.min("lo").alias("star_lbl"))
    return (nodes.join(star_lbl, "node", "left")
            .select("node",
                    F.coalesce("star_lbl", F.col("node"))
                    .alias("cluster_id")))


# e45's (and e109's) oracle: cluster id and size per sampled document.
_DUP_CLUSTERS_ORACLE = (
    _near_dup_edges_ctes("doc_id % 5 = 0", 0.5) + _CC_CTES + """, sz AS (
    SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
    FROM cc GROUP BY cluster_id
)
SELECT cc.doc_id, cc.cluster_id, sz.cluster_size
FROM cc JOIN sz USING (cluster_id)
""")


@register(
    "e45_dup_clusters_cc",
    oracle=_DUP_CLUSTERS_ORACLE,
    tags=("north-star", "E1", "E3", "dedup", "graph", "iterative"),
)
def e45_dup_clusters_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-CLUSTER assignment: connected components over the exact
    Jaccard ≥ 0.5 pair graph (e3's candidate-bounded inverted-index edges,
    same deterministic 20% sample), one row per document with its cluster
    representative (min doc_id reachable) and cluster size. Docs with no
    near-dup partner form singleton clusters — they stay in the output, so
    `cluster_size = 1` IS the keep-list predicate downstream.

    The oracle replays the identical closure as a DuckDB recursive CTE, so
    the iterative Spark fixpoint is hash-checked end-to-end — pair graph,
    transitive closure, cluster ids, and sizes all match exactly."""
    return dup_cluster_assignment(spark, sf_dir, connected_components)


def dup_cluster_assignment(spark: SparkSession, sf_dir: str,
                           cc_fn) -> DataFrame:
    """The e45 pipeline with the CC algorithm as a parameter — ONE
    definition of the sample filter, pair threshold and cluster-size
    join shared by e45 (min-label) and e109 (large-star/small-star,
    below), so the two graded queries can never diverge in anything
    but the algorithm under test (r11 review finding: the pipeline was
    copied verbatim). Both algorithms take the same one-way pairs."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    cc = cc_fn(d.select(F.col("doc_id").alias("node")),
               near_dup_edges(d, 0.5))
    return (with_cluster_size(cc)
            .select(F.col("node").alias("doc_id"), "cluster_id",
                    "cluster_size"))


@register(
    "e47_incremental_cc",
    oracle=(_near_dup_edges_ctes("doc_id % 5 IN (0, 1)", 0.5) + _CC_CTES
            + """, sz AS (
    SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
    FROM cc GROUP BY cluster_id
)
SELECT cc.doc_id, cc.cluster_id, sz.cluster_size,
       cc.doc_id % 5 AS is_new
FROM cc JOIN sz USING (cluster_id)
"""),
    tags=("north-star", "E1", "dedup", "graph", "incremental"),
)
def e47_incremental_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL duplicate clustering: a new ingest batch (doc_id%5==1)
    joins an already-clustered corpus (doc_id%5==0, e45's sample) and the
    fixpoint WARM-STARTS from the existing cluster labels instead of
    recomputing from scratch — the nightly-ingest shape of production
    dedup. Warm-starting is sound because min-propagation from any
    labels that are subset-component minima still converges to the full
    component minimum (see connected_components); the oracle is the
    plain batch closure over the union graph, so the driver hash-checks
    incremental ≡ batch. Established clusters are already collapsed, so
    label distance — and rounds — shrinks vs a cold run
    (tests/test_invariants.py pins warm_rounds <= cold_rounds).

    100 TB: the base corpus's labels are a stored table (8+8 bytes/doc);
    each increment closes only frontier label changes — rounds bounded
    by the NEW docs' attachment depth, not the corpus diameter."""
    d = table(spark, sf_dir, "documents")
    base = d.filter(F.col("doc_id") % 5 == 0)
    union = d.filter((F.col("doc_id") % 5).isin(0, 1))

    base_labels = connected_components(
        base.select(F.col("doc_id").alias("node")),
        near_dup_edges(base, 0.5)).withColumnRenamed("cluster_id", "lbl")
    cc = connected_components(
        union.select(F.col("doc_id").alias("node")),
        near_dup_edges(union, 0.5), init_labels=base_labels)
    return (with_cluster_size(cc)
            .select(F.col("node").alias("doc_id"), "cluster_id",
                    "cluster_size",
                    (F.col("node") % 5).alias("is_new")))


@register(
    "e56_khop_reach",
    oracle=_near_dup_edges_ctes("doc_id % 5 = 0", 0.9)
    + """, walk(src, node, d) AS (
    SELECT src, dst, 1 FROM edges
    UNION
    SELECT w.src, e.dst, w.d + 1
    FROM walk w JOIN edges e ON e.src = w.node
    WHERE w.d < 3 AND e.dst <> w.src
), md AS (
    SELECT src, node, min(d) AS d FROM walk GROUP BY src, node
), ct AS (
    SELECT src,
           CAST(count(*) FILTER (WHERE d = 1) AS BIGINT) AS n1,
           CAST(count(*) FILTER (WHERE d = 2) AS BIGINT) AS n2,
           CAST(count(*) FILTER (WHERE d = 3) AS BIGINT) AS n3
    FROM md GROUP BY src
)
SELECT s.doc_id,
       CAST(coalesce(ct.n1, 0) AS BIGINT) AS n1,
       CAST(coalesce(ct.n2, 0) AS BIGINT) AS n2,
       CAST(coalesce(ct.n3, 0) AS BIGINT) AS n3
FROM sub s LEFT JOIN ct ON ct.src = s.doc_id
""",
    tags=("north-star", "graph", "bfs", "iterative"),
)
def e56_khop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-hop NEIGHBORHOOD profile over the near-dup graph: for
    every document, how many documents sit at shortest-path distance
    exactly 1, 2, and 3 across Jaccard >= 0.9 similarity edges (a
    TIGHT threshold: the synthetic corpus is so mutually similar that
    0.5 already yields a near-complete graph at sf0.1 — 44% of ALL
    pairs — where multi-hop reach is meaningless and frontier joins
    quadratic; at 0.9 the graph is replica clusters plus borderline
    bridges, exactly where 2-3-hop structure is informative). This
    is the graph-context signal dedup audits use to distinguish isolated
    near-dup pairs (n2 = n3 = 0) from template families (wide 2-3-hop
    halos), and the same bounded-BFS primitive powers "related document"
    expansion. Pure integer counting, so the iterative Spark BFS is
    hash-checked against a DuckDB recursive CTE computing min-distance
    <= 3 over the identical edge set. The BFS is ``khop_reach``.

    Reference: no graph surface in the reference repo (six ML
    utilities, spark_ml_features.py:1); SURVEY section 2-E north-star
    scope."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    return (khop_reach(d.select(F.col("doc_id").alias("node")),
                       near_dup_edges(d, 0.9))
            .withColumnRenamed("node", "doc_id"))


def khop_reach(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Per node, how many nodes sit at shortest-path distance exactly
    1, 2 and 3: (node, n1, n2, n3), zeros for isolated nodes. ``nodes``:
    one BIGINT ``node`` column; ``edges``: src/dst, each undirected edge
    exactly once in either direction, no self-loops.

    BFS frontier expansion: each round joins the frontier to the edge
    list, drops self-reaches, and anti-joins everything already seen at
    a shorter distance -- exactly min-distance semantics. Three rounds =
    two joins beyond the edge list itself; no fixpoint detection needed
    because the hop bound IS the termination.

    100 TB: per-round cost is |frontier| x avg-degree with equi-join
    shuffles on node id -- the standard Pregel step. Near-dup graphs are
    tiny star/clique components, so frontiers collapse after 1-2 hops;
    the anti-join keeps re-expansion from ever re-visiting settled
    nodes. Degree skew (a viral template) salts like any hot join key."""
    edges = probe_checkpoint(_both_directions(edges), "khop_reach.edges")
    frontier = edges.select("src", F.col("dst").alias("other"))
    dist = frontier.withColumn("d", F.lit(1))
    for k in (2, 3):
        hop = edges.select(F.col("src").alias("hop_src"),
                           F.col("dst").alias("hop_dst"))
        nxt = (frontier.join(hop, frontier["other"] == hop["hop_src"])
               .select(frontier["src"].alias("src"),
                       hop["hop_dst"].alias("other"))
               .filter(F.col("src") != F.col("other"))
               .distinct()
               .join(dist.select("src", "other"), ["src", "other"],
                     "left_anti"))
        dist = dist.unionByName(nxt.withColumn("d", F.lit(k)))
        frontier = nxt
    counts = dist.groupBy(F.col("src").alias("node")).agg(
        F.count_if(F.col("d") == 1).cast("bigint").alias("n1"),
        F.count_if(F.col("d") == 2).cast("bigint").alias("n2"),
        F.count_if(F.col("d") == 3).cast("bigint").alias("n3"))
    return (nodes.join(counts, "node", "left")
            .select("node",
                    F.coalesce("n1", F.lit(0)).cast("bigint").alias("n1"),
                    F.coalesce("n2", F.lit(0)).cast("bigint").alias("n2"),
                    F.coalesce("n3", F.lit(0)).cast("bigint").alias("n3")))


@register(
    "e58_semantic_dup_clusters",
    oracle=f"""
WITH RECURSIVE e AS (
    SELECT vec_id, embedding::DOUBLE[] AS emb,
           {duckdb_norm('(embedding::DOUBLE[])', DIM)} AS nrm
    FROM embeddings WHERE vec_id % 5 = 0
), pairs AS (
    SELECT a.vec_id AS v1, b.vec_id AS v2
    FROM e a, e b
    WHERE a.vec_id < b.vec_id
      AND round({duckdb_dot('a.emb', 'b.emb', DIM)} / (a.nrm * b.nrm), 6)
          >= 0.3
), edges AS (
    SELECT v1 AS src, v2 AS dst FROM pairs
    UNION ALL
    SELECT v2 AS src, v1 AS dst FROM pairs
), reach(node, lbl) AS (
    SELECT vec_id, vec_id FROM e
    UNION
    SELECT ed.dst, r.lbl FROM reach r JOIN edges ed ON ed.src = r.node
), cc AS (
    SELECT node AS vec_id, min(lbl) AS cluster_id FROM reach GROUP BY node
), sz AS (
    SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
    FROM cc GROUP BY cluster_id
)
SELECT cc.vec_id, cc.cluster_id, sz.cluster_size
FROM cc JOIN sz USING (cluster_id)
""",
    tags=("north-star", "dedup", "similarity", "graph", "iterative"),
)
def e58_semantic_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC duplicate clustering: connected components over the
    embedding-cosine >= 0.3 pair graph (e4c's exact pairs on the same
    deterministic 20% sample) — modern pipelines dedup on MEANING
    (SemDeDup-style embedding clusters) alongside the lexical MinHash
    family, because paraphrases share no shingles but sit adjacent in
    embedding space. Same fixpoint machinery as e45 (min-label
    propagation, recursive-CTE oracle), different edge semantics: the
    pair predicate is a rounded cosine over explicit left-fold dot
    products, so the edge set — and therefore the closure — is bit-exact
    across engines.

    100 TB: the pair graph at scale comes from the banded/bucketed
    families (e4b LSH buckets with multi-probe, e4d IVF cells —
    measured trade-offs in DESIGN_SCALE.md "Measured ANN candidate
    growth"), never the all-pairs join used here as the exact fixture
    baseline; the closure cost is O(diameter) rounds like e45, and
    semantic-dup components are as star-shaped as lexical ones.
    cluster_size = 1 is the keep-list predicate; larger clusters keep
    min vec_id (or best-quality via e34's policy)."""
    e = (table(spark, sf_dir, "embeddings")
         .filter(F.col("vec_id") % 5 == 0)
         .select("vec_id", to_double_array("embedding").alias("emb")))
    from pyspark_ml_features_spark.operators.similarity import _pair_cos

    e = e.withColumn("nrm", l2_norm(F.col("emb")))
    a = e.select(F.col("vec_id").alias("v1"), F.col("emb").alias("e1"),
                 F.col("nrm").alias("n1"))
    b = e.select(F.col("vec_id").alias("v2"), F.col("emb").alias("e2"),
                 F.col("nrm").alias("n2"))
    prs = (a.join(F.broadcast(b), F.col("v1") < F.col("v2"))
           .select("v1", "v2", _pair_cos().alias("cosine"))
           .filter(F.col("cosine") >= 0.3))
    cc = connected_components(
        e.select(F.col("vec_id").alias("node")),
        prs.select(F.col("v1").alias("src"), F.col("v2").alias("dst")))
    return (with_cluster_size(cc)
            .select(F.col("node").alias("vec_id"), "cluster_id",
                    "cluster_size"))


@register(
    "e59_triangle_count",
    oracle=_near_dup_edges_ctes("doc_id % 5 = 0", 0.9) + """, tri AS (
    SELECT p1.d1 AS a, p1.d2 AS b, p2.d2 AS c
    FROM pairs p1
    JOIN pairs p2 ON p2.d1 = p1.d2
    JOIN pairs p3 ON p3.d1 = p1.d1 AND p3.d2 = p2.d2
), per_node AS (
    SELECT v, count(*) AS n_triangles FROM (
        SELECT a AS v FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
    ) GROUP BY v
)
SELECT s.doc_id,
       CAST(coalesce(p.n_triangles, 0) AS BIGINT) AS n_triangles
FROM sub s LEFT JOIN per_node p ON p.v = s.doc_id
""",
    tags=("north-star", "graph", "triangles"),
)
def e59_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node TRIANGLE counts over the near-dup graph (same Jaccard >=
    0.9 edge set as e56; measured at sf0.1: 0.35 gives 438k edges over
    1000 nodes and 133M wedges — a near-complete graph where triangle
    counting degenerates — vs 43k edges / 3.9M wedges at 0.9) — the clustering-coefficient numerator that
    separates clique-like template families (every pair similar =>
    triangle-dense) from hub-and-spoke false-positive stars (one doc
    similar to many mutually-dissimilar docs => zero triangles), a
    standard graph-quality audit on dedup output. Uses the classic
    ordered-wedge join: with every edge stored once as (lo, hi), wedge
    (a<b<c) exists iff edges (a,b) and (b,c) exist, and the triangle
    closes iff (a,c) is also an edge — each triangle counted exactly
    once with NO orientation dedup pass. Pure integer counting; the
    oracle replays the identical three-way join.

    100 TB: the ordered-edge convention is the standard distributed
    triangle optimization (wedges generate from the LOWER-degree
    endpoint side in production; here edge lists are tiny) — two
    equi-join shuffles on node ids, output bounded by wedge count, no
    quadratic blowup beyond the true wedge volume. High-degree skew
    (a viral template hub) is the known hot key; degree-ordered wedge
    generation bounds it at O(m^1.5) total wedges."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    prs = probe_checkpoint(
        jaccard_pairs(d, tokens("text"), threshold=0.9).select("d1", "d2"),
        "e59_triangle_count.pairs")
    p1 = prs.select(F.col("d1").alias("a"), F.col("d2").alias("b"))
    p2 = prs.select(F.col("d1").alias("b"), F.col("d2").alias("c"))
    p3 = prs.select(F.col("d1").alias("a"), F.col("d2").alias("c"))
    tri = p1.join(p2, "b").join(p3, ["a", "c"])
    per_node = (tri.select(F.col("a").alias("v"))
                .unionByName(tri.select(F.col("b").alias("v")))
                .unionByName(tri.select(F.col("c").alias("v")))
                .groupBy("v").agg(F.count(F.lit(1)).alias("n_triangles")))
    nodes = d.select(F.col("doc_id").alias("v"))
    return (nodes.join(per_node, "v", "left")
            .select(F.col("v").alias("doc_id"),
                    F.coalesce("n_triangles", F.lit(0)).cast("bigint")
                    .alias("n_triangles")))


def _pagerank_oracle(n_iters: int = 5, threshold: float = 0.9) -> str:
    """Unrolled fixed-iteration PageRank as chained CTEs — standard SQL
    forbids aggregation inside a recursive CTE member, so a FIXED
    iteration count unrolls instead (deterministic and engine-portable)."""
    sql = _near_dup_edges_ctes("doc_id % 5 = 0", threshold) + """,
deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
r0 AS (SELECT doc_id AS node, 1.0::DOUBLE AS r FROM sub)
"""
    prev = "r0"
    for i in range(1, n_iters + 1):
        sql += f""", r{i} AS (
    SELECT n.node, round(0.15 + 0.85 * coalesce(c.s, 0.0), 6) AS r
    FROM (SELECT doc_id AS node FROM sub) n
    LEFT JOIN (
        SELECT e.dst AS node, sum(p.r / d.deg) AS s
        FROM edges e JOIN {prev} p ON p.node = e.src
        JOIN deg d ON d.src = e.src
        GROUP BY e.dst) c ON c.node = n.node)
"""
        prev = f"r{i}"
    return sql + f"SELECT node AS doc_id, r AS pagerank FROM r{prev[1:]}"


@register(
    "e60_pagerank",
    oracle=_pagerank_oracle(),
    tags=("north-star", "graph", "iterative", "pagerank"),
)
def e60_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PAGERANK (5 rounds, damping 0.85) over the
    Jaccard >= 0.9 near-dup graph — authority propagation, the
    quality-signal primitive web-corpus curation pipelines run over link
    graphs (a page linked by high-rank pages inherits rank; here the
    similarity graph stands in as the deterministic fixture). Exactness
    across engines comes from rounding each iteration's rank to 6 dp on
    BOTH sides: the per-node contribution sum is a cross-row double sum
    (last-ulp order-dependent, e48's rule), and the per-iteration round
    re-synchronizes the engines before divergence can compound — probed
    bit-exact through all 5 rounds. The oracle unrolls the iterations as
    chained CTEs because standard SQL forbids aggregates inside a
    recursive CTE member. Dangling nodes hold rank 0.15 (no
    in-contributions) identically on both sides. The iteration is
    ``pagerank``."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    rank = pagerank(d.select(F.col("doc_id").alias("node")),
                    near_dup_edges(d, 0.9))
    return rank.select(F.col("node").alias("doc_id"),
                       F.col("r").alias("pagerank"))


def pagerank(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Five damped PageRank rounds (0.85, no 1/N term, each round's rank
    rounded to 6 dp): (node, r). ``nodes`` and ``edges`` as for
    ``khop_reach`` — a duplicate edge would count twice in the degree.

    100 TB: each round is the Pregel join-aggregate (edges x ranks on
    src, sum by dst) — one shuffle per round, localCheckpoint truncating
    lineage like connected_components; fixed iteration count makes cost
    exactly n_iters x |edges| join work. Degree skew salts like any hot
    key; the deployment variant adds dangling-mass redistribution and a
    convergence-delta stop, neither of which changes the plan shape."""
    edges = probe_checkpoint(_both_directions(edges), "pagerank.edges")
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    rank = nodes.withColumn("r", F.lit(1.0))
    for _ in range(5):
        contrib = (edges.join(rank, edges["src"] == rank["node"])
                   .join(deg, "src")
                   .select(F.col("dst").alias("node"),
                           (F.col("r") / F.col("deg")).alias("c"))
                   .groupBy("node").agg(F.sum("c").alias("s")))
        rank = (nodes.join(contrib, "node", "left")
                .select("node",
                        F.round(F.lit(0.15)
                                + F.lit(0.85) * F.coalesce("s", F.lit(0.0)),
                                6).alias("r")))
        rank = probe_checkpoint(rank, "pagerank.round")
    return rank


def _cluster_sig_oracle() -> str:
    from pyspark_ml_features_spark.functions.text import duckdb_rolling_hash

    sig_cols = ", ".join(
        f"min(({a} * x + {b}) % {MINHASH_P}) AS s{i}"
        for i, (a, b) in enumerate(MINHASH_AFFINE))
    return (_near_dup_edges_ctes("doc_id % 5 = 0", 0.5, "doc_id, text")
            + _CC_CTES + f""", th AS (
    SELECT doc_id,
           list_transform(str_split(text, ' '),
                          tok -> {duckdb_rolling_hash('tok')}) AS th
    FROM sub
), sh3 AS (
    SELECT doc_id,
           list_transform(range(1, greatest(len(th) - 2, 0) + 1),
                          i -> (((th[i] * {MINHASH_SHINGLE_B} + th[i+1])
                                 % {MINHASH_P}) * {MINHASH_SHINGLE_B}
                                + th[i+2]) % {MINHASH_P}) AS sh
    FROM th
), cx AS (
    SELECT cc.cluster_id, s.doc_id, unnest(s.sh) AS x
    FROM sh3 s JOIN cc ON cc.doc_id = s.doc_id
)
SELECT cluster_id,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_members,
       {sig_cols}
FROM cx GROUP BY cluster_id
""")


@register(
    "e67_cluster_minhash_signatures",
    oracle=_cluster_sig_oracle(),
    tags=("north-star", "E2", "dedup", "sketch", "mergeable"),
)
def e67_cluster_minhash_signatures(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """MERGEABLE MinHash: a duplicate CLUSTER's signature is the
    elementwise MIN of its members' signatures — and that equals the
    MinHash of the members' UNION shingle set (min over a union = min of
    per-set mins), which is what the oracle computes DIRECTLY from the
    pooled shingles. The hash match is therefore a cross-engine proof of
    the mergeability theorem that makes MinHash a distributed sketch:
    signatures combine associatively in any order (map-side combine,
    incremental ingest e32, cluster rollup here) with no access to the
    original text. Clusters from e45's connected components (token-set
    J >= 0.5); signatures over e33's engine-exact 3-gram shingle field.
    Docs too short to shingle (< 3 tokens) carry no signature and drop
    from both sides identically.

    100 TB: the merge is a groupBy-min over 128-byte rows — the cheapest
    possible cluster aggregate; a new member folds in with one min()
    against the stored cluster signature (e49's signature store keyed by
    cluster instead of doc). Estimated cluster-to-cluster Jaccard from
    these signatures prices CROSS-CLUSTER merges without touching
    documents."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    cc = connected_components(d.select(F.col("doc_id").alias("node")),
                              near_dup_edges(d, 0.5)) \
        .select(F.col("node").alias("doc_id"), "cluster_id")
    sigs = minhash_signatures(d.select("doc_id", "text"))
    k = len(MINHASH_AFFINE)
    return (sigs.join(cc, "doc_id")
            .groupBy("cluster_id")
            .agg(F.count(F.lit(1)).alias("n_members"),
                 *[F.min(f"s{i}").alias(f"s{i}") for i in range(k)]))


def _cluster_pair_oracle() -> str:
    n_match = " + ".join(
        f"(CASE WHEN a.s{i} = b.s{i} THEN 1 ELSE 0 END)"
        for i in range(len(MINHASH_AFFINE)))
    return f"""
WITH sigs AS (SELECT * FROM ({_cluster_sig_oracle()}) t)
SELECT c1, c2, n_match,
       n_match / {len(MINHASH_AFFINE)}.0 AS est_jaccard
FROM (
    SELECT a.cluster_id AS c1, b.cluster_id AS c2,
           CAST({n_match} AS BIGINT) AS n_match
    FROM sigs a JOIN sigs b ON a.cluster_id < b.cluster_id
)
WHERE n_match >= 6
"""


@register(
    "e68_cluster_pair_similarity",
    oracle=_cluster_pair_oracle(),
    tags=("north-star", "E2", "dedup", "sketch", "graph"),
)
def e68_cluster_pair_similarity(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """CROSS-CLUSTER merge pricing from e67's merged signatures: estimate
    Jaccard between duplicate CLUSTERS (matches/16 agreeing signature
    components, reported at >= 6/16 ~ 0.375) without touching any
    document text — the decision input for whether two clusters the
    edge-threshold kept apart should merge in the next dedup generation.
    Everything flows from the 128-byte cluster signatures, so the
    estimate is engine-exact and the oracle replays the identical
    comparison over its own independently-computed union-shingle
    signatures (e67's mergeability proof makes the two sides
    comparable at all).

    100 TB: the fixture compares all cluster pairs (bounded here;
    allowlisted all-pairs ground-truth shape, e4c's precedent) — at
    scale the cluster signatures feed the SAME banding machinery as
    documents (e33 keyed by cluster_id instead of doc_id), so candidate
    cluster pairs come from band equi-joins, never O(C^2)."""
    sigs = probe_checkpoint(e67_cluster_minhash_signatures(spark, sf_dir),
                            "e68_cluster_pair_similarity.sigs")
    k = len(MINHASH_AFFINE)
    a = sigs.select(F.col("cluster_id").alias("c1"),
                    *[F.col(f"s{i}").alias(f"a{i}") for i in range(k)])
    b = sigs.select(F.col("cluster_id").alias("c2"),
                    *[F.col(f"s{i}").alias(f"b{i}") for i in range(k)])
    n_match = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("bigint")
        for i in range(k))
    return (a.join(F.broadcast(b), F.col("c1") < F.col("c2"))
            .withColumn("n_match", n_match)
            .filter(F.col("n_match") >= 6)
            .select("c1", "c2", "n_match",
                    (F.col("n_match") / F.lit(float(k)))
                    .alias("est_jaccard")))


@register(
    "e109_dup_clusters_cc_star",
    oracle=_DUP_CLUSTERS_ORACLE,
    tags=("north-star", "E1", "dedup", "graph", "iterative"),
)
def e109_dup_clusters_cc_star(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """e45's duplicate-cluster assignment computed by the LARGE-STAR /
    SMALL-STAR algorithm (graph.py:connected_components_star, Kiveris
    et al. SoCC'14) instead of min-label propagation — the O(log n)
    bound the min-label docstring has cited since r1, now implemented
    and DRIVER-GRADED: the oracle is the same recursive-CTE transitive
    closure that grades e45, so a green hash is a cross-engine proof
    that star contraction computes the exact component minima on the
    real near-dup graph (pair graph, cluster ids, and sizes all
    bit-match). Equality with the min-label fixpoint across topology
    classes — paths, bridges, cliques, random graphs — is pinned in
    tests/test_graph_star.py; round counts on long chains are measured
    side by side in `scripts/ladder.py cc` (4096-node path:
    13 rounds for both variants — see connected_components_star's
    docstring for the honest reading: star buys the proven bound, not
    an empirical chain speedup over jumped min-label).

    100 TB: each star round is two groupBy+join shuffles on node id —
    the same per-round shape as a min-label round — and the round count
    is PROVABLY O(log n) on any topology: min-label stays the default
    for tiny-diameter near-dup graphs, this variant bounds the
    adversarial case (web link graphs, citation chains)."""

    # e45's exact pipeline with only the CC algorithm swapped — the
    # shared helper guarantees the two graded queries differ in
    # nothing but the algorithm under test
    return dup_cluster_assignment(spark, sf_dir,
                                  connected_components_star)
