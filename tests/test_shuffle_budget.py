"""Shuffle/memory budget ratchet (SURVEY §8f item 4, extended to the FULL
bench headline in round 7 per VERDICT r6 task 4): pinned per-query shuffle
AND peak-execution-memory baselines for every bench.py HEADLINE query,
measured from executed-plan SQLMetrics at sf0.01. PLAN_AUDIT.md records
these volumes descriptively; this test makes them a GATE — an edit that
doubles a family's shuffle volume (a dropped broadcast, a lost partial
aggregate, a join that started fanning out) or its memory reservation (a
sort/aggregate that started buffering data out of proportion to its
slice) fails here instead of drifting the bench.

Ceiling derivation (ADVICE r6): `max(measured × MARGIN, FLOOR)` from the
checked-in MEASURED baseline — ONE margin constant, not per-query
hand-tweaked ceilings. MARGIN is 2.0 because a real shape regression is
≥2× while partition-count/compression/Spark-version noise stays well
under it. Re-calibrate by re-running `python scripts/measure_shuffle.py`
and pasting its output — never by nudging a single entry (a plan-level
justification goes in the commit message either way). Both the gate and
the script read `plans.profile.profile` over a query's build AND its run,
so every execution counts, build-time checkpoints and caches included;
pins taken before that saw only the returned plan plus the captured
checkpoints.

Peak-memory semantics: the gate reads, per operator, the most ONE task
held (the `max` of the SQL store's `total (min, med, max (stageId:
taskId))` block, `Profile.peak_node_task_memory`) in units of the
session's memory page, and pins the largest such value per query. Fixed
page reservations (a sorter's or aggregation map's page) dominate every
pinned value, and Spark sizes the page at start-up from the host:
`nextPowerOf2(execution memory / cores / 16)`, clamped to 1-64 MiB. It
was 16 MiB on the 32-core host where the round-7 to r14 pins were taken,
and it reads 64 MiB at 1 and 4 cores and 8 MiB at 32 cores on a 15 GiB
host, so a pin in MiB measures the host. A summed metric measures it
too: `fan_out` spreads a stage over `defaultParallelism` tasks, so the
sum grows with the core count even where each task holds one page. A
page count per operator task does not move with either; data-dependent
growth on top of the fixed page is what the ×2 margin catches. The old
MiB pins (the per-operator sum at 16 MiB pages) were converted, not
re-measured: pages = pinned MiB / 16 / tasks at pin time, with 32 tasks
for d106 (a 32-task sort stage at 16.2 MiB/task) and for the r13-opt
fan_out rows (e4, e4e, e31, e33, t18: one ~16 MiB page per task over 32
tasks), and 1 task for every other row, whose sum was under two pages.
The floor is the old 48 MiB floor in the same unit: 3 pages of 16 MiB.
Spill must stay ZERO everywhere — at sf0.01 any spill means a task holds
data wildly out of proportion to its slice.
"""

from __future__ import annotations

from pyspark_ml_features_spark.plans.profile import profile
from pyspark_ml_features_spark.registry import all_queries
from tests.conftest import SF_DIR

# Measured (total shuffle_MiB, peak pages per operator task) at sf0.01
# (2026-08-15, round 7, via scripts/measure_shuffle.py), including
# exchanges that execute inside a localCheckpoint (invisible on the
# returned DataFrame's plan; round-6 review: d106's dominant
# range-repartition shuffle was missed by the visible plan). The peak
# column was pinned in summed MiB at 16 MiB pages and converted to pages
# per operator task as the module docstring says; the MiB figures in the
# comments below are the old unit.
MEASURED = {  # query: (shuffle_MiB, peak_pages)
    "d4_pricing_summary": (0.00, 1.01),
    "d1_broadcast_join_revenue": (0.00, 1.01),
    "d2_join_chain_region_sales": (0.00, 1.01),
    # b6: r14 (c290c87) added fan_out(base).cache() in
    # operators/scaling.py::exact_quantiles_banded on purpose (exact for
    # any partitioning); that exchange runs while the query is built, so
    # the round-7 pin (0.00) never saw it. Re-pinned at 4 cores: 60,000
    # lineitem rows x 3 doubles as 36-byte UnsafeRows bound it at 2.06
    # MiB before lz4.
    "b6_robust_scaling": (1.22, 0.00),
    "d10_topk_orders_per_priority": (0.00, 1.03),
    "d11_global_topn": (0.00, 0.00),
    "e1_exact_dedup": (0.09, 1.01),
    "e4_knn_cosine": (0.23, 1.00),
    "e8_tfidf_topterms": (0.37, 1.03),
    "e9_sessionize": (0.24, 1.03),
    "e10_tumbling_windows": (0.36, 1.03),
    "e11_robust_scale_array": (0.42, 0.00),
    # t4: fan_out(documents, "doc_id") spreads the rolling-hash fold, so
    # the documents text is shuffled once (was 0.00 with no exchange).
    # Re-measured at 4 cores with scripts/measure_shuffle.py t4_fingerprint;
    # at 1 core the exchange is absent and the row reads 0.00.
    "t4_fingerprint": (0.08, 0.00),
    "t5_simhash": (0.03, 1.01),
    "e14_asof_attribution": (0.08, 1.01),
    "d25_sql_subqueries": (0.00, 0.00),
    "e5_embedding_normalize": (0.00, 0.00),
    "d21_apply_in_pandas_minmax": (0.92, 1.13),
    "d20_pandas_udf_revenue": (0.00, 0.00),
    "d36_tpch_q3_shipping_priority": (0.03, 1.01),
    "d43_tpch_q5_local_supplier_volume": (0.00, 1.01),
    "d45_tpch_q7_volume_shipping": (0.05, 1.01),
    "d47_tpch_q18_large_orders": (0.12, 1.03),
    "d48_tpch_q21_waiting_supplier": (0.57, 1.06),
    "d37_tpch_q10_returned_items": (0.01, 1.01),
    "e2d_simhash64_banded": (0.09, 1.01),  # r14: fan_out reverted — the
    # 32-task page sum is gone; re-pinned DOWN so the ratchet regains
    # sensitivity (ADVICE r13 on the ~1 GiB ceilings)
    "e31_line_dedup": (0.34, 1.02),
    "e25_corpus_curation": (0.00, 0.00),
    "d49_interpolate_gaps": (0.09, 1.01),
    "d30b_moment_stats_decimal": (0.00, 1.01),
    "e33_minhash_banded_exact": (0.09, 1.02),
    "e34_quality_dedup": (0.09, 1.01),
    "e36_fingerprint_dedup": (0.02, 1.01),
    "e4e_int8_knn": (0.23, 1.00),
    "d59_map_in_arrow": (0.00, 1.01),
    "d61_tpch_q13": (0.02, 1.01),
    "d62_tpch_q15": (0.01, 1.01),
    "d63_tpch_q17": (0.03, 1.01),
    "d64_tpch_q9": (0.01, 1.01),
    "d67_session_window_batch": (0.26, 1.03),
    "e38_rollup_merge_upsert": (0.17, 1.01),
    "d79_asof_nearest": (0.00, 1.01),
    "d86_tpch_q12": (0.00, 1.01),
    "d89_skew_salted_agg": (0.41, 1.03),
    "d91_equidepth_histogram": (0.13, 1.01),
    "d95_interval_overlap_join": (0.03, 1.01),
    "d98_asof_backward": (0.13, 1.01),
    "e51_greedy_packing": (0.01, 1.01),
    "e52_bloom_decontaminate": (0.02, 1.01),
    # r14 re-pins (2026-08-18, via scripts/measure_shuffle.py) for the
    # two single-shuffle rewrites: d106's rank-mean window shuffles full
    # rows where the old groupBy(rk) partial-agg + BROADCAST join-back
    # shuffled partials only at THIS scale (at 100 TB the join-back side
    # cannot broadcast and pays a second full exchange — the plan now has
    # 2 exchanges instead of 3 and one lineage instead of two); e69's
    # dup-gram window shuffles (gram, doc_id, pos) rows without the old
    # countDistinct partial-agg compression but drops the join-back
    # exchange AND the 456 MiB 32-task agg page sum (peak 456 -> 17).
    "d106_quantile_normalize": (5.09, 1.01),
    "e69_dup_span_report": (0.70, 1.06),
    "e71_image_resize": (0.00, 0.00),
    "d114_ab_welch_ttest": (0.00, 0.00),
    "d118_count_min_sketch": (0.04, 1.01),
    "e80_boilerplate_ngrams": (0.83, 1.06),
    "d122_blocked_linkage": (0.00, 0.00),
    "t18_char_ngram_langid": (0.55, 1.02),
    "e90_chunk_dedup_stats": (0.10, 1.01),
    "e5b_dimension_minmax_scale": (0.00, 1.01),
    "e95_chunk_stitch_roundtrip": (0.24, 0.00),
    # r13-opt recalibration (2026-08-18, via scripts/measure_shuffle.py):
    # the nine queries above whose unsplittable-scan map stages gained a
    # fan_out exchange (functions/skew.py) re-measured — the added
    # shuffle is the narrow projected input (<= 0.55 MiB at sf0.01) and
    # the peak jump to ~520 MiB is the documented SUMMED fixed ~16 MiB
    # per-task page over 32 tasks (the d106 semantics above), not
    # data-proportional growth; spill stays zero everywhere.
    # r10 headline joiners (2026-08-16, via scripts/measure_shuffle.py)
    # re-measured r10 after pointer jumping (fewer CC rounds outweigh
    # the per-round self-joins: 0.10 -> 0.08 MiB)
    "e103_image_neardup_clusters": (0.15, 1.01),
    "e104_dedup_pack_stitch_roundtrip": (0.57, 1.01),
    "e105_vocab_encode_decode_roundtrip": (0.31, 1.01),
}

#: single headroom constant over the measured baselines (ADVICE r6)
MARGIN = 2.0
#: MiB floor so a measured-zero query tolerates bookkeeping exchanges
SHUFFLE_FLOOR_MIB = 0.05
#: page size of the host the peak pins were taken on
PIN_PAGE_MIB = 16.0
#: page floor so a measured-zero query tolerates fixed page reservations
#: appearing: the old 48 MiB floor in pages of the pinning host
PEAK_FLOOR_PAGES = 48.0 / PIN_PAGE_MIB


def test_budget_covers_entire_bench_headline():
    """VERDICT r6 task 4's "done" criterion: a query added to bench.py's
    HEADLINE without measured baselines fails here — run
    `python scripts/measure_shuffle.py <name>` and pin it."""
    from bench import HEADLINE

    missing = [n for n in HEADLINE if n not in MEASURED]
    assert not missing, (
        f"headline queries without pinned budget baselines: {missing}")


def test_shuffle_volumes_within_pinned_budgets(spark):
    if not SF_DIR.endswith("sf0.01"):
        import pytest

        pytest.skip("budgets are calibrated at sf0.01")
    qs = all_queries()
    violations = []
    for name, (m_shuffle, m_peak) in MEASURED.items():
        shuffle_ceiling = max(m_shuffle * MARGIN, SHUFFLE_FLOOR_MIB)
        peak_ceiling = max(m_peak * MARGIN, PEAK_FLOOR_PAGES)
        r = profile(spark, lambda: qs[name].fn(spark, SF_DIR).write
                    .format("noop").mode("overwrite").save()).row()
        shuffle, spill = r["shuffle_MiB"], r["spill_MiB"]
        peak = r["peak_node_task_pages"]
        if shuffle > shuffle_ceiling:
            violations.append(
                f"{name}: shuffle {shuffle} MiB (incl. checkpointed "
                f"stages) > budget {shuffle_ceiling} MiB (measured "
                f"{m_shuffle} × {MARGIN}) — a join/agg shape regressed")
        if spill > 0:
            violations.append(f"{name}: spilled {spill} MiB at "
                              f"sf0.01 — a task is holding far too much")
        if peak > peak_ceiling:
            violations.append(
                f"{name}: one operator task held {peak} pages > budget "
                f"{peak_ceiling} pages (measured {m_peak} × {MARGIN}) — an "
                f"operator started buffering out of proportion")
    assert not violations, "\n".join(violations)
