"""Physical-plan assertions (SURVEY §4): the scale properties we claim must
be visible in the optimized plan — broadcast joins for dimensions, pushed
filters and pruned scans, no Python row-UDFs in JVM-only queries.
"""

from __future__ import annotations

from pyspark_ml_features_spark import registry
from tests.conftest import SF_DIR

ALL = registry.all_queries()


def _plan(spark, name: str) -> str:
    df = ALL[name].fn(spark, SF_DIR)
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def test_dimension_joins_broadcast(spark):
    for name in ("d1_broadcast_join_revenue", "d2_join_chain_region_sales"):
        plan = _plan(spark, name)
        assert "BroadcastHashJoin" in plan, f"{name}: dimension join must broadcast"
        assert "SortMergeJoin" not in plan, f"{name}: unexpected shuffle join"


def test_filter_pushdown_reaches_scan(spark):
    plan = _plan(spark, "d3_semi_join_parts_ordered")
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45" in plan.replace("\n", " "), \
        "quantity predicate must reach the parquet scan"


def test_column_pruning(spark):
    plan = _plan(spark, "d11_global_topn")
    # top-n scan must read only the 3 output columns
    assert "l_comment" not in plan
    scan_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan_schema and "l_extendedprice" in scan_schema[0]
    assert "l_tax" not in scan_schema[0]


def test_global_topn_avoids_full_sort(spark):
    plan = _plan(spark, "d11_global_topn")
    assert "TakeOrderedAndProject" in plan, "LIMIT+ORDER BY must use top-k, not global sort"


def test_no_python_udf_in_jvm_queries(spark):
    for name in ("d4_pricing_summary", "e4_knn_cosine", "t4_fingerprint",
                 "e8_tfidf_topterms"):
        plan = _plan(spark, name)
        assert "BatchEvalPython" not in plan, f"{name}: row-UDF crept in"
        assert "ArrowEvalPython" not in plan, f"{name}: pandas UDF crept in"


def test_pandas_udf_is_arrow_not_row(spark):
    plan = _plan(spark, "d20_pandas_udf_revenue")
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_whole_stage_codegen_on_aggregate(spark):
    """After execution (AQE final plan), the pricing-summary aggregate must
    run inside whole-stage codegen spans."""
    df = ALL["d4_pricing_summary"].fn(spark, SF_DIR)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    # '*(n)' prefixes mark WholeStageCodegen spans in the plan string
    assert "*(" in executed and "HashAggregate" in executed


def test_lsh_bucket_join_is_hash_join_on_bucket(spark):
    """e4b must join on the bucket key with the query side broadcast —
    the plan shape that makes LSH scale (no corpus shuffle)."""
    plan = _plan(spark, "e4b_lsh_bucket_knn")
    assert "BroadcastHashJoin [bucket" in plan.replace("#", " ").replace(
        "bucket 0", "bucket") or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_simhash_band_join_is_hash_join(spark):
    """e2c's candidate generation must be an equi-join on (band_id,
    band_val) — a hash join, never an all-pairs product. This is the plan
    property that makes banded near-dup linear-ish at 100 TB."""
    plan = _plan(spark, "e2c_simhash_banded")
    assert "HashJoin" in plan, "band join must be hash-based"
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tpch_q3_pushes_filters_and_takes_ordered(spark):
    """d36: date/segment predicates must reach the scans and the top-10
    must be TakeOrderedAndProject, not a global sort."""
    plan = _plan(spark, "d36_tpch_q3_shipping_priority")
    flat = plan.replace("\n", " ")
    assert "TakeOrderedAndProject" in plan
    assert "PushedFilters" in flat
    assert "BUILDING" in flat, "segment filter must push to the customer scan"
    assert "CartesianProduct" not in plan


def test_tokenize_vocab_join_broadcasts(spark):
    """e24's vocab join must broadcast the vocab side — the corpus never
    shuffles, so encoding stays a map-only stage at any corpus size."""
    plan = _plan(spark, "e24_tokenize_to_ids")
    assert "BroadcastHashJoin" in plan, "vocab join must broadcast"
    assert "SortMergeJoin" not in plan, "corpus side must not shuffle for the join"


def test_in_subquery_becomes_semi_join(spark):
    plan = _plan(spark, "d25_sql_subqueries")
    assert "LeftSemi" in plan or "SemiJoin" in plan.replace(" ", "")


def test_exact_dedup_has_partial_aggregation(spark):
    """e1's groupBy must partial-aggregate before the shuffle (map-side
    combine) — shuffle rows bounded by distinct count, not input size."""
    plan = _plan(spark, "e1_exact_dedup")
    assert plan.count("HashAggregate") >= 2, "expected partial+final aggregate"


def test_window_topk_uses_group_limit(spark):
    """d10's rank<=k filter should push into the window sort
    (WindowGroupLimit) instead of ranking every row."""
    plan = _plan(spark, "d10_topk_orders_per_priority")
    assert "WindowGroupLimit" in plan


def test_plan_audit_counts(spark):
    """audit() must see the broadcast join + single agg shuffle in d1 and
    the Cartesian-free, Python-free shape of the JVM-only queries."""
    from pyspark_ml_features_spark.plans import assert_scale_safe, audit

    d1 = ALL["d1_broadcast_join_revenue"].fn(spark, SF_DIR)
    a = audit(d1)
    assert a.broadcast_hash_joins >= 1
    assert a.cartesian_products == 0
    assert a.python_row_udfs == 0
    assert a.pushed_filters and a.read_schemas
    assert_scale_safe(d1, max_shuffles=2, allow_python=False,
                      allow_sort_merge=False)

    import pytest

    udf = ALL["d22_row_udf"].fn(spark, SF_DIR)
    with pytest.raises(AssertionError, match="Python eval"):
        assert_scale_safe(udf, allow_python=False)


def test_runtime_bloom_filter_injection(spark):
    """At 100 TB a selective dimension filter must propagate to the fact
    scan as a runtime bloom filter (Spark injects it when the probe side
    exceeds ``applicationSideScanSizeThreshold`` — 10 GB by default, forced
    to 0 here because the fixture is tiny). Pin the mechanism so a conf or
    version change that silently disables it fails loudly."""
    import pyspark.sql.functions as F

    from pyspark_ml_features_spark.plans.audit import plan_text

    conf = spark.conf
    saved = conf.get("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    conf.set(
        "spark.sql.optimizer.runtime.bloomFilter"
        ".applicationSideScanSizeThreshold", "0")
    try:
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        o = (spark.read.parquet(f"{SF_DIR}/orders.parquet")
             .filter(F.col("o_orderpriority") == "1-URGENT"))
        j = (li.join(o, li.l_orderkey == o.o_orderkey)
             .groupBy("o_orderpriority").count())
        plan = plan_text(j, "formatted").lower()
        assert "might_contain" in plan and "bloomfilter" in plan, \
            "selective shuffle join must inject a runtime bloom filter"
    finally:
        conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
        conf.unset(
            "spark.sql.optimizer.runtime.bloomFilter"
            ".applicationSideScanSizeThreshold")


def test_no_fold_reevaluated_above_generate(spark):
    """Regression guard for the e5 pathology: a per-array fold (aggregate /
    zip_with HOF) placed in the Project ABOVE a Generate is re-evaluated
    once per EXPLODED row (x dim) instead of once per input row — measured
    5x on e5 at sf0.1. Folds must be materialized in the Generate's child.
    Queries whose folds legitimately live above a Generate (per-pair
    cosine after a probe explode, e.g. e4d) are excluded."""
    tree_queries = ["e5_embedding_normalize", "e15_embedding_quantize",
                    "e11_robust_scale_array"]
    for name in tree_queries:
        df = ALL[name].fn(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        lines = plan.splitlines()
        gen = [i for i, ln in enumerate(lines) if "Generate" in ln]
        assert gen, f"{name}: expected a Generate (posexplode) in the plan"
        above = "\n".join(lines[:gen[0]])
        n_folds = (above.count("aggregate(zip_with")
                   + above.count("aggregate(transform"))
        assert n_folds == 0, (
            f"{name}: {n_folds} fold(s) evaluated above Generate — "
            f"re-evaluated per exploded row")


def test_no_broadcast_hint_on_unbounded_aggregates(spark):
    """VERDICT r2 #3: e8's document-frequency aggregate has |vocabulary|
    rows (10^7+ on a web corpus) and must not carry an explicit broadcast
    hint — AQE may still choose broadcast at small SF from the RUNTIME size,
    which is fine; a hint pins driver memory to vocab size at any scale.
    The analyzed logical plan shows hints as ResolvedHint before AQE runs,
    so we count them: exactly one (the single-row n_docs aggregate). Same
    check for e27, whose only hint is the benchmark-sized eval shingle set
    (bounded by assumption, documented in its docstring)."""
    for name, max_hints in (
            ("e8_tfidf_topterms", 1),
            ("e27_decontaminate", 1),
            # r4: the measured-volume table (PLAN_AUDIT.md) exposed
            # corpus-scaling hints the r3 vocab-rule sweep missed — the
            # e3-family per-doc size/norm join-backs, e64's shingle-array
            # join-back, and t9/t10's vocabulary-sized count tables. All
            # removed; the only hint each may keep is a single-row
            # aggregate (n_docs / v_size).
            ("e3_jaccard_pairs", 0),
            ("e3b_ngram_jaccard_pairs", 0),
            ("e39_overlap_pairs", 0),
            ("e64_multipass_sorted_neighborhood", 0),
            # e43's only hinted relation is the single-row n_docs
            # aggregate, but it appears in four aliased lineages
            # (a/b term weights, na/nb norms) — 4 ResolvedHint nodes,
            # one 1-row relation
            ("e43_tfidf_cosine_pairs", 4),
            ("t9_lm_quality", 1),
            ("t10_perplexity", 1),
            # r5 (ADVICE r4): corpus-scaling hints stripped from the
            # graph/curation family — cluster-size rejoins (e45/e47/e58
            # visible plan is post-checkpoint, so 0 means the sizes join
            # is unhinted), e67's per-doc cluster map, e62/e66's per-doc
            # membership join-backs. e58's one REMAINING hint is the
            # all-pairs ground-truth side (non-equi; the hint is what
            # keeps the plan BNLJ instead of CartesianProduct — the
            # documented exact-baseline, scale path = e4b/e4d). e66
            # keeps the single-row n_leak scalar hint. e68's one hint is
            # the cluster-level all-pairs side (bounded by dup-cluster
            # count; BNLJ_ALLOWED with the same rationale).
            ("e45_dup_clusters_cc", 0),
            ("e47_incremental_cc", 0),
            ("e58_semantic_dup_clusters", 1),
            ("e67_cluster_minhash_signatures", 0),
            ("e62_split_leakage_report", 0),
            ("e66_cluster_split_no_leakage", 1),
            ("e68_cluster_pair_similarity", 1)):
        df = ALL[name].fn(spark, SF_DIR)
        analyzed = df._jdf.queryExecution().analyzed().toString()
        n = analyzed.count("ResolvedHint")
        assert n <= max_hints, (
            f"{name}: {n} broadcast hints in logical plan (max {max_hints})"
            f" — an unbounded aggregate may be pinned to the driver")


def test_partitioned_read_prunes_partitions(spark):
    """a14's read side must show the o_year predicate as a PARTITION filter
    (directory-level pruning — non-matching years never opened), not a data
    filter evaluated per row after a full scan."""
    plan = _plan(spark, "a14_partitioned_pruning")
    flat = plan.replace("\n", " ")
    assert "PartitionFilters" in flat
    import re
    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", flat)
    assert pf and "o_year" in pf.group(1), (
        "o_year predicate must prune at the partition level")


def test_bucketed_join_is_exchange_free(spark):
    """d50: both sides bucketed+sorted on the join key — the join itself
    must need NO Exchange and NO Sort (the only Exchange in the plan is the
    final groupBy's, whose key differs from the bucket key), and the scans
    must report bucket pruning metadata."""
    plan = _plan(spark, "d50_bucketed_join")
    assert "SortMergeJoin" in plan
    assert "SelectedBucketsCount" in plan
    # the tree section (up to the first blank line) shows structure: the
    # one Exchange node must sit ABOVE the join (it belongs to the final
    # groupBy), never between the join and its bucketed scans
    tree = plan.split("\n\n")[0].splitlines()
    exchange_lines = [i for i, ln in enumerate(tree) if "Exchange" in ln]
    join_line = next(i for i, ln in enumerate(tree) if "SortMergeJoin" in ln)
    assert len(exchange_lines) == 1, "exactly one Exchange (the groupBy's)"
    assert exchange_lines[0] < join_line, (
        "bucketed join must not exchange either side")


# Queries allowed to plan a BroadcastNestedLoopJoin, and why. A BNLJ with a
# broadcast SINGLE-ROW side (scalar aggregate cross join) is scale-safe —
# it is how engines attach global stats to every row; the sampled
# ground-truth queries are quadratic BY DESIGN on bounded samples.
BNLJ_ALLOWED = {
    "d13b_fuzzy_match",      # bounded inequality self-join (documented)
    "d26_range_join_bands",  # range join: inequality condition, tiny bands side
    "d39_heavy_hitters",     # single-row threshold aggregate cross join
    "d46_kmv_setops",        # single-row sketch-union cross join
    "e2b_simhash_near_dup",  # exact-Hamming ground truth, 20% sample
    "e4_knn_cosine",         # broadcast query set x corpus (corpus never shuffles)
    "e4e_int8_knn",          # same broadcast query-set shape over int8 vectors
    "e4c_embedding_near_dup",  # sampled all-pairs ground truth
    "e8_tfidf_topterms",     # single-row n_docs aggregate cross join
    "b7_feature_union",      # single-row global-stats cross join
    "d56_tpch_q22",          # single-row scalar-average cross join (Q22 shape)
    "t9_lm_quality",         # single-row corpus-stats cross join
    "t10_perplexity",        # single-row corpus-stats cross join
    "e43_tfidf_cosine_pairs",  # single-row n_docs aggregate cross join (e8 shape)
    "d91_equidepth_histogram",  # single-row decile-boundary cross join
    "e50_threshold_sweep",   # 5-row threshold list x pair-count relation
    "e66_cluster_split_no_leakage",  # single-row leak-count cross join
    "d111_rollup_share_of_parent",  # single-row grand-total cross join
    "e68_cluster_pair_similarity",  # all-pairs cluster ground truth
                                    # (bounded; scale path = cluster-level
                                    # banding, see docstring)
    "e91_temperature_mixture",  # single-row (total, sum_r) cross join
    "d11b_bottomk_with_ties",  # single-row k-th-value threshold cross join
    "e115_multiprobe_lsh_recall",  # sampled all-pairs recall denominator
                                   # (e4c shape) + single-row truth cross
                                   # join; the candidate joins themselves
                                   # are bucket-key equi-joins
    "e116_or_banding_recall",  # same truth-denominator shape as e115;
                               # the per-band candidate joins are
                               # bucket-key equi-joins
}
# Row-at-a-time Python: exactly the two deliberate demonstrations.
ROW_PYTHON_ALLOWED = {
    "d22_row_udf", "d27_python_udtf",
    # Table-argument UDTF: the API is row-at-a-time by design (eval per
    # row, terminate per partition); d109 emits one summary row per
    # user, so the Python boundary is input-streaming but output-tiny —
    # the documented "genuinely sequential per-group logic" slot of the
    # D20 spectrum (vectorizable logic belongs in applyInPandas, d21).
    "d109_udtf_table_arg",
    # Polymorphic table-arg UDTF: same row-at-a-time-by-API-design slot
    # as d109, exercised for the analyze()-computed-schema surface.
    "d145_polymorphic_udtf",
}
# Arrow-batched Python (pandas UDF / applyInPandas / mapInPandas): the
# documented Python-boundary operators (multimodal decode, grouped fits,
# sketches) — everything else must stay JVM-side.
ARROW_ALLOWED = {
    "d20_pandas_udf_revenue", "d21_apply_in_pandas_minmax",
    "d31_per_group_regression", "d39_heavy_hitters",
    "e12_binary_features", "e13_image_features_stub",
    "e13b_image_header_parse", "e29_audio_features",
    "e30_video_frame_sample",
    "e71_image_resize",  # real BMP decode+resize — numpy over Arrow batches
    "e98_png_decode",  # real PNG pixel decode (zlib+defilter) over Arrow
    "e99_image_content_dedup",  # decoded-content dedup — e98's decode
                                # boundary feeding a JVM groupBy
    "e101_image_ahash_neardup",  # perceptual-hash near-dup — same decode
                                 # boundary, 16-byte hash rows out
    "e102_image_hamming_pairs",  # e101's hashing boundary feeding a JVM
                                 # banded equi-join + bit_count filter
    "e103_image_neardup_clusters",  # same hashing boundary feeding the
                                    # banded pairs + CC fixpoint
    "s13_streaming_media_decode",  # e98's decode boundary per micro-batch
                                   # (ADVICE r9: the drained memory sink
                                   # hides it; the streaming-plan audit
                                   # below sees it via probe_stream_query)
    "s19_streaming_stateful_totals_exact",  # s3's applyInPandasWithState
                                            # boundary, oracle-graded via
                                            # the final-emission select
    "e110_decontam_pack_audit",  # e51's stateful packing fold over the
                                 # decontaminated survivors — only
                                 # (lang, shard, doc_id, n_tokens)
                                 # crosses the boundary
    "e113_image_pack_chain",  # e98's decode boundary feeding e51's
                              # packing fold — the double Arrow crossing
                              # is the query's subject; only 4 scalar
                              # columns cross each boundary
    "s3_streaming_stateful_totals",  # applyInPandasWithState — THE Spark
                                     # API for custom stateful streaming
                                     # operators is Arrow-batched Python
                                     # by design (SURVEY §2 E-stream);
                                     # per-group state, bounded output
    "e72_audio_resample",  # real PCM decimate+re-encode — same boundary
    "d59_map_in_arrow",  # the deliberate raw-Arrow boundary demonstration
    "d83_pandas_udaf",  # the UDAF slot of the D20 spectrum (bounded groups)
    "e51_greedy_packing",  # stateful fold with reset — not window-expressible;
                           # only (key, n_tokens) crosses the Arrow boundary
    "e77_packed_boundaries",  # e51's fold + a JVM window; the Arrow boundary
                              # is e51's, inherited unchanged
    "e85_packing_utilization",  # e51's fold + a bounded aggregate; same
                                # inherited Arrow boundary
    "e92_incremental_packing",  # e51's fold continued from broadcast
                                # (init_bin, init_fill) state; same
                                # five-scalar Arrow boundary
}


# Iterative / checkpointing queries whose INTERNAL plans the visible-plan
# audit cannot see (localCheckpoint truncates lineage at every round):
# query -> set of capture labels allowed to contain a BNLJ, with why.
# e58's edge-building is the documented all-pairs exact baseline (scale
# path = e4b LSH / e4d IVF); everything else must be equi-join only.
FIXPOINT_QUERIES = {
    "e21_dedup_clusters": set(),
    "e45_dup_clusters_cc": set(),
    "e47_incremental_cc": set(),
    "e56_khop_reach": set(),
    "e58_semantic_dup_clusters": {"connected_components.edges"},
    "e59_triangle_count": set(),
    "e60_pagerank": set(),
    "d106_quantile_normalize": set(),
    # non-fixpoint probe_checkpoint consumers — their pre-truncation
    # lineages (cluster signatures, the ranking primitive's range
    # repartition) get the same ratchet
    "e68_cluster_pair_similarity": set(),
    "e70_token_budget_selection": set(),
    "e78_length_bucketed_batches": set(),
    "e79_curriculum_phases": set(),
    "e81_token_drift": set(),
    "e63_sorted_neighborhood": set(),
    "e64_multipass_sorted_neighborhood": set(),
    # media near-dup (ADVICE r9): both checkpoint the decode+hash
    # lineage, so the banded pair join (and e103's CC rounds) — exactly
    # where an all-pairs join could hide — reach the internal ratchet
    "e102_image_hamming_pairs": set(),
    "e103_image_neardup_clusters": set(),
    # r10 composition: the dedup stage (corpus scan + text groupBy) is
    # checkpointed because two branches consume it; its pre-truncation
    # plan joins the ratchet
    "e104_dedup_pack_stitch_roundtrip": set(),
    # r11: e109's star-contraction fixpoint (cc_star.* rounds) and
    # e108's twice-consumed flagged corpus (e108.flags)
    "e108_quality_filter_chain_audit": set(),
    "e109_dup_clusters_cc_star": set(),
    # r11 late batch: e110's twice-consumed decontamination flags
    # (e110.flags — pack input + final audit join)
    "e110_decontam_pack_audit": set(),
    # r12: e112's CC fixpoint over the LSH-bucketed pair graph — the
    # bucket equi-join (the place an all-pairs join could hide) sits in
    # the connected_components.edges capture
    "e112_semantic_dedup_chain": set(),
    # r12 late batch: e114 runs TWO fixpoints (the base-slice stage-1
    # clustering and the warm-started delta stage) — both edge builds
    # (bucket joins) and every round reach the capture audit
    "e114_incremental_semantic_dedup": set(),
}
# Max ResolvedHint nodes per CAPTURED plan (the analyzed-plan hint ratchet
# extended into fixpoint internals): e58's single source-level
# F.broadcast(b) is what keeps its documented all-pairs baseline a BNLJ
# instead of a CartesianProduct, and its edges plan shows the hint TWICE
# because the src/dst union references the same hinted pair subplan in
# both branches — still one bounded relation.
FIXPOINT_MAX_HINTS = {
    "e58_semantic_dup_clusters": 2,
    # e108.flags carries e86's langs-bounded percentile-band broadcast
    # (|bands| = |langs|, dimension-bounded by construction)
    "e108_quality_filter_chain_audit": 1,
    # e110.flags carries e52's m-bounded bloom-position broadcast
    # (|bloom| <= BLOOM_M = 4096 rows by construction)
    "e110_decontam_pack_audit": 1,
}


def test_fixpoint_internal_plans_are_scale_safe(built):
    """VERDICT r5 task 4: the registry-wide audit sees only the plan AFTER
    the last localCheckpoint, so a CartesianProduct inside a fixpoint
    round's lineage was a blind spot. Every fixpoint checkpoints through
    plans.audit.probe_checkpoint; this test executes each iterative query
    under capture (via the session build cache) and runs the same
    cartesian/BNLJ/Python/hint ratchet over every pre-truncation plan —
    it fails if an all-pairs join or an unallowlisted Python boundary
    appears inside ANY round."""
    from pyspark_ml_features_spark.plans.audit import audit_text
    from tests.conftest import SF_DIR

    violations = []
    for name, bnlj_labels in FIXPOINT_QUERIES.items():
        _, captured = built(name, SF_DIR)
        assert captured, (
            f"{name}: no pre-checkpoint plan captured — its fixpoint no "
            f"longer routes through probe_checkpoint, so the internal-plan "
            f"audit is blind again")
        max_hints = FIXPOINT_MAX_HINTS.get(name, 0)
        for c in captured:
            where = f"{name}/{c['label']}"
            a = audit_text(c["plan"])
            if a.cartesian_products:
                violations.append(f"{where}: CartesianProduct")
            if a.nested_loop_joins and c["label"] not in bnlj_labels:
                violations.append(
                    f"{where}: BroadcastNestedLoopJoin (justify or fix)")
            if a.python_row_udfs:
                violations.append(f"{where}: row-at-a-time Python UDF")
            if a.arrow_python_nodes and name not in ARROW_ALLOWED:
                violations.append(f"{where}: unexpected Python boundary")
            n = c["analyzed"].count("ResolvedHint")
            if n > max_hints:
                violations.append(
                    f"{where}: {n} broadcast hints (max {max_hints}) — an "
                    f"unbounded relation may be pinned to the driver")
    assert not violations, "\n".join(violations)


def test_registry_wide_scale_safety(built):
    """Every declared query: no CartesianProduct ever; BNLJ / row-Python /
    Arrow-Python only where allowlisted above. New queries are born clean
    or must justify themselves here — the ratchet that keeps the 100 TB
    posture from regressing one query at a time. Plans don't depend on
    scale, so this reads the session build cache at the parity scale
    (SF_DIR): the oracle-parity sweep already paid for every build —
    eager checkpoints, stream drains, ML fits included — so this audit
    adds only the plan reads (r14, VERDICT r13 item 3: the suite
    outgrew the driver's pytest window re-paying builds per sweep)."""
    from pyspark_ml_features_spark.plans.audit import audit, audit_text
    from tests.conftest import SF_DIR

    violations = []

    def check(name, a, where):
        if a.cartesian_products:
            violations.append(f"{where}: CartesianProduct")
        if a.nested_loop_joins and name not in BNLJ_ALLOWED:
            violations.append(
                f"{where}: BroadcastNestedLoopJoin (justify or fix)")
        if a.python_row_udfs and name not in ROW_PYTHON_ALLOWED:
            violations.append(f"{where}: row-at-a-time Python UDF")
        if a.arrow_python_nodes and name not in ARROW_ALLOWED:
            violations.append(f"{where}: unexpected Python boundary")

    streams_audited = 0
    for name in ALL:
        df, captured = built(name, SF_DIR)
        check(name, audit(df), name)
        # Streaming queries drain eagerly inside fn(); the returned
        # memory-sink table is plan-opaque for everything upstream of
        # the sink (ADVICE r9). probe_stream_query recorded the EXECUTED
        # micro-batch plan — run the same ratchet over it. (Fixpoint
        # internals, also captured here, keep their dedicated
        # per-label-allowlisted test above.)
        for c in captured:
            if c["label"].startswith("stream."):
                check(name, audit_text(c["plan"]), f"{name}/{c['label']}")
                streams_audited += 1
    assert not violations, "\n".join(violations)
    # The streaming tap must stay wired: if run_stream_to_memory stops
    # routing through probe_stream_query, this audit silently goes
    # blind for every s-query again.
    assert streams_audited >= 10, (
        f"only {streams_audited} streaming plans captured — the "
        f"probe_stream_query tap is no longer firing for s-queries")


def test_tpch_q4_exists_becomes_semi_join(spark):
    """d53: the correlated EXISTS must plan as a left semi join — lineitem
    probed, never aggregated — with the date slice pushed to the orders
    scan."""
    plan = _plan(spark, "d53_tpch_q4")
    flat = plan.replace("\n", " ")
    assert "LeftSemi" in plan
    assert "1995-01-01" in flat, "date predicate must reach the orders scan"


def test_tpch_q19_disjunction_derives_scan_filters(spark):
    """d55: from the OR-of-ANDs join condition Catalyst must derive
    per-side conjuncts and push them into the scans (brand IN-set on part,
    quantity range on lineitem) — disjunctions must not force a full-table
    join."""
    plan = _plan(spark, "d55_tpch_q19")
    flat = plan.replace("\n", " ")
    import re
    part_scan = [ln for ln in plan.splitlines()
                 if "PushedFilters" in ln and "p_brand" in ln]
    li_scan = [ln for ln in plan.splitlines()
               if "PushedFilters" in ln and "l_quantity" in ln]
    assert part_scan, "brand disjunction must push to the part scan"
    assert li_scan, "quantity bounds must push to the lineitem scan"


def test_grouped_lateral_decorrelates_to_window(spark):
    """d68: the correlated LATERAL ... LIMIT 3 must decorrelate to a
    window/group-limit over ONE scan pass per side — never a per-segment
    re-scan (no nested-loop re-execution of the subquery)."""
    plan = _plan(spark, "d68_grouped_topk_lateral")
    assert "WindowGroupLimit" in plan or "Window" in plan, (
        "lateral must lower to a window shape")
    assert "CartesianProduct" not in plan


def test_inline_lookup_dim_broadcasts(spark):
    """d78: a 5-row VALUES dimension must broadcast; the fact side must
    not shuffle for the join."""
    plan = _plan(spark, "d78_inline_lookup_join")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_session_window_is_single_user_shuffle(spark):
    """d67: batch session_window aggregates per user in one
    hash-partitioning on the grouping key — exactly one Exchange in the
    plan (no extra repartition for the session merge logic)."""
    plan = _plan(spark, "d67_session_window_batch")
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1, (
        "session_window must cost one shuffle")


def test_mad_first_pass_broadcasts_back(spark):
    """d77: the |groups|-row median table must come back via broadcast —
    the fact side never shuffles for the rejoin."""
    plan = _plan(spark, "d77_robust_mad")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q12_filters_reach_lineitem_scan(spark):
    """d86: the returnflag IN-set and the shipdate year slice must both
    push to the lineitem scan — the join sees only the filtered slice."""
    plan = _plan(spark, "d86_tpch_q12")
    li_scan = [ln for ln in plan.splitlines()
               if "PushedFilters" in ln and "l_returnflag" in ln]
    assert li_scan, "returnflag IN-set must push to the lineitem scan"
    assert "l_shipdate" in li_scan[0], "shipdate range must push too"


def test_null_safe_join_stays_hash_join(spark):
    """d87: eqNullSafe is a legal equi-join key — the 27-row dimension must
    broadcast as a HASH join, never degrade to BroadcastNestedLoopJoin."""
    plan = _plan(spark, "d87_null_safe_join")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan


def test_salted_agg_costs_three_uniform_shuffles(spark):
    """d89: the salted rewrite plans as exactly three Exchanges, all
    uniformly keyed — (key, salt, custkey) pair-dedup, Catalyst's own
    distinct-expand on (key, custkey) (a custkey appears under many salts,
    so the stage-2 count_distinct still dedups across salt shards), and
    the 5-row final — each preceded by a partial HashAggregate. The point
    of the assertion: no shuffle in the plan is keyed on the bare 5-value
    hot key with unreduced rows behind it."""
    plan = _plan(spark, "d89_skew_salted_agg")
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 3, "salted agg shape changed"


def test_hash_sample_is_scan_side(spark):
    """d90: the deterministic hash predicate filters BEFORE the only
    shuffle — sampling never costs an Exchange of unsampled rows."""
    plan = _plan(spark, "d90_hash_sample_agg")
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1, "sample filter must precede the one shuffle"


def test_cc_output_joins_scale_clean(spark):
    """e45: the post-fixpoint cluster-size rejoin is UNHINTED (the sizes
    table scales with cluster count, so AQE must size it at runtime —
    ADVICE r4 stripped the hint) and plans as a proper equi join; no
    cartesian anywhere in the closure. At sf scale AQE still picks
    broadcast from the runtime row count, which is fine — the rule bans
    the static hint, not the strategy."""
    plan = _plan(spark, "e45_dup_clusters_cc")
    assert ("BroadcastHashJoin" in plan or "SortMergeJoin" in plan
            or "ShuffledHashJoin" in plan)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_interval_overlap_is_equi_join(spark):
    """d95: banded candidate generation must make the range join an
    equi (hash) join — never a nested-loop over the inequality."""
    plan = _plan(spark, "d95_interval_overlap_join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan or \
        "SortMergeJoin" in plan


def test_ohlc_windows_share_day_exchange(spark):
    """d97: both row_number windows and the final day aggregate reuse ONE
    hash-partitioning on day — ordered endpoints come free with the
    rollup's shuffle."""
    plan = _plan(spark, "d97_ohlc_bars")
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1, "OHLC must cost one day shuffle"


def test_asof_union_merge_has_no_join(spark):
    """d98: the backward as-of is the union-merge rewrite — no join
    operator at all; the quote dedup and the per-user window are the only
    two shuffles."""
    plan = _plan(spark, "d98_asof_backward")
    tree = plan.split("\n\n")[0]
    assert "Join" not in tree, "as-of union-merge must not plan a join"
    assert tree.count("Exchange") == 2


def test_quota_sample_uses_group_limit(spark):
    """d99: rank<=100 per stratum plans as WindowGroupLimit — each task
    keeps a bounded candidate set, never a full stratum sort."""
    plan = _plan(spark, "d99_stratified_quota_sample")
    assert "WindowGroupLimit" in plan


def test_changelog_compact_uses_group_limit(spark):
    """d100: last-write-wins keeps ONE row per key in the partial sort
    (WindowGroupLimit), the compacted-topic behavior."""
    plan = _plan(spark, "d100_changelog_compact")
    assert "WindowGroupLimit" in plan
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1


def test_greedy_packing_is_arrow_grouped(spark):
    """e51: the stateful fold runs as ONE Arrow-batched grouped-map pass
    (FlatMapGroupsInPandas) behind a single (lang, shard) shuffle — and
    the text column never crosses into Python (only key + n_tokens do)."""
    plan = _plan(spark, "e51_greedy_packing")
    tree = plan.split("\n\n")[0]
    assert "FlatMapGroupsInPandas" in plan
    assert tree.count("Exchange") == 1
    assert "BatchEvalPython" not in plan


def test_bloom_membership_broadcasts_filter(spark):
    """e52: the <=m-row bloom position set and the benchmark text set both
    come back as broadcasts — corpus text is never shuffled for the
    membership test."""
    plan = _plan(spark, "e52_bloom_decontaminate")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_oov_vocab_topk_never_full_sorts(spark):
    """e53: the top-K vocabulary cut is a TakeOrderedAndProject over the
    frequency table and joins back as a broadcast — the corpus explode
    never waits on a global sort."""
    plan = _plan(spark, "e53_oov_rate")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan


def test_snapshot_diff_is_copartitioned(spark):
    """d101: both compactions (WindowGroupLimit) and the FULL OUTER join
    share one user_id partitioning — exactly two Exchanges (one per
    snapshot input), none between compaction and join."""
    plan = _plan(spark, "d101_snapshot_diff")
    tree = plan.split("\n\n")[0]
    assert "WindowGroupLimit" in plan
    assert tree.count("Exchange") == 2


def test_qgram_fuzzy_join_is_hash_join_on_gram(spark):
    """e61's candidate generation must be an equi-join on the gram key —
    a hash/sort-merge join, never the all-pairs product it replaces. This
    is the plan property that makes fuzzy joining viable at 100 TB."""
    plan = _plan(spark, "e61_qgram_fuzzy_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan


def test_distributed_rank_uses_range_partitioning(spark):
    """d106's global-ranking primitive must range-partition on the full
    ordering key and sort WITHIN partitions in that same stage (the
    pre-checkpoint plan, captured via probe_checkpoint — localCheckpoint
    truncates the final lineage), and the rank itself must be a PURE
    PROJECTION over the checkpoint: the round-7 mono-id encoding removed
    the pid window and with it the Exchange hashpartitioning(pid) that
    Catalyst planned above the checkpoint (a second full-data shuffle).
    A Window or Exchange reappearing in the post-checkpoint plan is the
    regression this test pins out."""
    import pyspark.sql.functions as F

    from pyspark_ml_features_spark.operators.relational import (
        distributed_row_number,
    )
    from pyspark_ml_features_spark.plans.audit import (
        audit_text, capture_checkpoint_plans,
    )

    df = spark.range(100).select(
        (F.col("id") % 7).alias("v"), F.col("id").alias("k"))
    with capture_checkpoint_plans() as captured:
        out = distributed_row_number(df, ["v", "k"], 8)
    assert captured, "primitive no longer routes through probe_checkpoint"
    pre = captured[-1]["plan"]
    assert "rangepartitioning" in pre.lower(), \
        "pre-checkpoint stage must range-partition on the ordering key"
    assert "Sort" in pre, \
        "pre-checkpoint stage must sort within partitions"
    assert "monotonically_increasing_id" in pre, \
        "rank encoding must ride monotonically_increasing_id"
    # ADVICE r7: correctness relies on the non-deterministic mid
    # projection staying ABOVE the in-stage sort — an implementation
    # behavior, not an API contract. Formatted plans number nodes
    # post-order (leaves low, root high), so the mono-id Project's node
    # id must exceed the Sort's; a Spark upgrade that reorders them
    # fails here, not silently in the ranks.
    import re as _re
    sections = _re.split(r"\n\((\d+)\) ", "\n" + pre)
    # sections = [prefix, id1, body1, id2, body2, ...]
    sort_ids, mono_ids = [], []
    for i in range(1, len(sections) - 1, 2):
        nid, body = int(sections[i]), sections[i + 1]
        head = body.split("\n", 1)[0]
        if head.startswith("Sort"):
            sort_ids.append(nid)
        if head.startswith("Project") and "monotonically_increasing_id" \
                in body:
            mono_ids.append(nid)
    assert sort_ids and mono_ids and min(mono_ids) > max(sort_ids), \
        "mono-id Project must sit above the in-stage Sort"
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted")
    assert "Window" not in plan, \
        "rank must be a projection — a Window re-adds a full-data exchange"
    assert audit_text(plan).shuffles == 0, \
        "no Exchange may appear above the checkpoint (the r5-r6 " \
        "executed-plan finding this encoding eliminated)"


def test_dup_span_report_single_gram_shuffle(spark):
    """e69 (r14): the dup-gram decision is one window over gram —
    min(doc_id) != max(doc_id) — not a groupBy(gram)+join-back, so the
    gram table shuffles ONCE and the compute-dense gram build has ONE
    consuming lineage. Pins: two exchanges (gram window, doc_id islands
    window) plus fan_out's when the documents scan has fewer partitions
    than ``defaultParallelism``, exactly one join (the final broadcast of
    the tiny n_words side, which must NOT pay a repartition exchange —
    the e4 ADVICE r13 pattern), no shuffle join."""
    import re

    from pyspark_ml_features_spark.sources import table

    scan_parts = table(spark, SF_DIR, "documents").rdd.getNumPartitions()
    fans_out = scan_parts < spark.sparkContext.defaultParallelism
    plan = _plan(spark, "e69_dup_span_report")
    exchanges = re.findall(r"\(\d+\) Exchange\b", plan)
    assert len(exchanges) == 2 + fans_out, (
        f"e69 must shuffle on gram and doc_id, plus fan_out's exchange "
        f"when it fires ({fans_out}); plan has {len(exchanges)}")
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin\b", plan)) == 1, \
        "only the n_words attach may join"


def test_fingerprint_fans_out_only_an_unsplit_scan(spark):
    """t4: the rolling-hash fold is a narrow projection of the documents
    scan, so its only exchange is fan_out's hash on doc_id, present when
    the scan has fewer partitions than ``defaultParallelism`` and absent
    otherwise (one core, or a scan that already splits)."""
    import re

    from pyspark_ml_features_spark.sources import table

    scan_parts = table(spark, SF_DIR, "documents").rdd.getNumPartitions()
    fans_out = scan_parts < spark.sparkContext.defaultParallelism
    plan = _plan(spark, "t4_fingerprint")
    exchanges = re.findall(r"\(\d+\) Exchange\b", plan)
    assert len(exchanges) == fans_out, (
        f"t4 must shuffle only when fan_out fires ({fans_out}); plan has "
        f"{len(exchanges)} exchanges")
    if fans_out:
        assert "hashpartitioning(doc_id" in plan


def test_quantile_normalize_single_post_checkpoint_exchange(spark):
    """d106 (r14): the rank-mean is a window over rk, not a
    groupBy(rk)+join-back — the post-checkpoint plan must carry exactly
    ONE exchange (hash on rk), no aggregate, no join. The checkpoint's
    range repartition stays audited via FIXPOINT_QUERIES."""
    import re

    plan = _plan(spark, "d106_quantile_normalize")
    exchanges = re.findall(r"\(\d+\) Exchange\b", plan)
    assert len(exchanges) == 1, (
        f"d106 post-checkpoint must shuffle exactly once (rk); "
        f"plan has {len(exchanges)}")
    assert "hashpartitioning(rk" in plan
    assert "HashAggregate" not in plan and "Join" not in plan


def test_pagerank_round_is_single_shuffle_join(spark):
    """e60's per-round plan: contribution join + aggregate, no cartesian,
    no nested loop — the Pregel step shape."""
    plan = _plan(spark, "e60_pagerank")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sql_udf_inlines_to_zero_python_boundary(spark):
    """d113's SQL-language UDFs must be inlined by Catalyst: no Python
    eval node anywhere, and the scalar UDF's floor-cents body visible as
    a plain expression feeding the aggregate (the docstring's claim)."""
    plan = _plan(spark, "d113_sql_udf")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "PythonUDF" not in plan
    assert "FLOOR" in plan.upper(), "inlined floor-cents body not found"


def test_aqe_splits_skewed_join_partitions(spark):
    """The AUTOMATIC complement to d40's manual salting: with AQE skew-join
    on (the repo's default session posture), a hot-key sort-merge join is
    re-planned at runtime into split skewed partitions — the final adaptive
    plan carries SortMergeJoin(skew=true). Thresholds are lowered to make
    the 400k-row fixture register as skewed; production keeps defaults and
    relies on the same mechanism at real sizes (DESIGN_SCALE "Global
    posture"). d40 stays the explicit rewrite for engines/joins AQE cannot
    rescue (e.g. a skewed aggregate, which OptimizeSkewedJoin never touches
    — that one needs d89's salted two-phase rewrite)."""
    import pyspark.sql.functions as F

    saved = {k: spark.conf.get(k, None) for k in (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes")}
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "64KB")
        spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
        # AQE splits a skewed partition only across map outputs, so the
        # skewed side needs more than one map task whatever the core count
        left = spark.range(0, 400000, 1, 8).select(
            F.when(F.col("id") < 300000, 0)
            .otherwise((F.col("id") % 99) + 1).alias("k"),
            F.col("id").alias("v"))
        right = spark.range(100).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("w"))
        j = left.join(right, "k").groupBy().agg(F.sum("v").alias("s"))
        j.collect()  # AQE finalizes only on execution of THIS DataFrame
        plan = j._sc._jvm.PythonSQLUtils.explainString(
            j._jdf.queryExecution(), "formatted")
        assert "isFinalPlan=true" in plan
        assert "SortMergeJoin(skew=true)" in plan, \
            "AQE did not split the skewed partitions"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_checkpoint_capture_is_isolated_across_threads():
    """ADVICE r6: the capture buffer is a ContextVar, so two threads
    capturing concurrently must each see only their own probes, and
    closing one context must not clobber the sibling's buffer. (No Spark
    needed — this exercises the buffer mechanics the fix changed.)"""
    import importlib
    import threading

    # plans/__init__ re-exports audit() the function, shadowing the module
    # name on attribute import — resolve the module explicitly
    audit_mod = importlib.import_module("pyspark_ml_features_spark.plans.audit")

    results: dict[str, object] = {}
    barrier = threading.Barrier(2)

    def worker(tag: str) -> None:
        with audit_mod.capture_checkpoint_plans() as captured:
            barrier.wait()  # both captures open simultaneously
            buf = audit_mod._CAPTURE.get()
            buf.append({"label": tag})
            barrier.wait()  # both appended while the other is open
            results[tag] = list(captured)
        results[tag + "_after"] = audit_mod._CAPTURE.get()

    threads = [threading.Thread(target=worker, args=(t,)) for t in ("a", "b")]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert results["a"] == [{"label": "a"}]
    assert results["b"] == [{"label": "b"}]
    # exiting the context restores "no capture" in that thread only
    assert results["a_after"] is None and results["b_after"] is None
    # and the main thread never saw a capture at all
    assert audit_mod._CAPTURE.get() is None
