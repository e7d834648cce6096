"""Semantic invariants for operators without SQL oracles (SURVEY §5.3):
ML fits, LSH, RNG ops. Seeds are fixed, so these are deterministic checks,
not statistical gambles.
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
import pytest

from pyspark_ml_features_spark import registry
from tests.conftest import SF_DIR

ALL = registry.all_queries()


@pytest.fixture(scope="module")
def run(spark):
    def _run(name):
        return ALL[name].fn(spark, SF_DIR)
    return _run


def test_probability_prediction_invariants(run):
    df = run("b5_probability_prediction")
    prob = F.array("p0", "p1", "p2")
    bad = df.filter(
        F.abs(F.aggregate(prob, F.lit(0.0), lambda a, x: a + x) - 1.0)
        > 1e-6).count()
    assert bad == 0, "probabilities must sum to 1 per row"
    preds = {r[0] for r in df.select("prediction").distinct().collect()}
    assert preds <= {0.0, 1.0, 2.0}
    # prediction = argmax(probability)
    argmax = F.array_position(prob, F.array_max(prob)) - 1
    mismatch = df.filter(F.col("prediction") != argmax.cast("double")).count()
    assert mismatch == 0


def test_validation_curves_invariants(run):
    rows = run("b3_validation_curves").collect()
    assert len(rows) == 2  # |param grid|
    assert all(0.0 <= r["avg_accuracy"] <= 1.0 for r in rows)


def test_kmeans_invariants(run):
    df = run("b8_kmeans_clusters")
    n_clusters = df.select("cluster_id").distinct().count()
    assert 2 <= n_clusters <= 10
    assert df.filter(F.col("cluster_id").isNull()).count() == 0


def test_pca_invariants(run):
    df = run("b8_pca_embeddings")
    assert set(df.columns) == {"vec_id", *{f"pc{i}" for i in range(8)}}
    nulls = df.filter(
        " OR ".join(f"pc{i} IS NULL" for i in range(8))).count()
    assert nulls == 0


def test_predefined_split_tuning_invariants(run, spark):
    rows = run("b10_predefined_split_tuning").collect()
    assert len(rows) == 2
    assert all(0.0 <= r["accuracy"] <= 1.0 for r in rows)
    from pyspark_ml_features_spark.sources import table

    total = table(spark, SF_DIR, "lineitem").count()
    assert all(r["n_train"] + r["n_test"] == total for r in rows)


def test_random_split_invariants(run):
    df = run("b9_split_random_seeded").cache()
    total = df.count()
    train = df.filter(F.col("is_train") == 1).count()
    assert {r[0] for r in df.select("is_train").distinct().collect()} == {0, 1}
    assert math.isclose(train / total, 0.7, abs_tol=0.05)
    df.unpersist()


def test_approx_count_distinct_bounds(run, ddb):
    """Tightened r10 (VERDICT r9 item 7): the bound is now derived from
    the sketch's CONFIGURED precision (rsd=0.02 → 3σ = 6%), not a loose
    hand-picked 10%, and the estimate must be DETERMINISTIC — HLL++ is
    a pure function of the input multiset, so two runs returning
    different integers would mean the sketch is seeing nondeterministic
    input (a scan or shuffle replay bug), which the rows-only driver
    check alone can never catch."""
    approx = run("d6_approx_count_distinct").collect()[0]["approx_parts"]
    again = run("d6_approx_count_distinct").collect()[0]["approx_parts"]
    assert approx == again, "HLL++ estimate must be run-deterministic"
    exact = ddb.execute("SELECT count(DISTINCT l_partkey) FROM lineitem").fetchone()[0]
    assert math.isclose(approx, exact, rel_tol=3 * 0.02)


def test_sampling_bounds(run, ddb):
    n = run("d19_sampling").count()
    total = ddb.execute("SELECT count(*) FROM lineitem").fetchone()[0]
    assert math.isclose(n / total, 0.1, abs_tol=0.02)


def test_minhash_recall_of_exact_pairs(run):
    """LSH candidates must recover the strongly-similar exact pairs
    (J ≥ 0.7 from the e3 oracle query) — deterministic under the fixed
    seed. Tightened r10: the floor rises 0.8 → 0.95 (measured recall at
    sf0.01 is 1.0 — 1895/1895 exact pairs recovered; 0.95 leaves
    headroom for the sf0.1 fixture's different pair geometry), and an
    empty exact-pair set now FAILS instead of silently skipping the
    recall check (fixture drift would have made the test vacuous)."""
    exact = {(r["d1"], r["d2"])
             for r in run("e3_jaccard_pairs").filter(F.col("jaccard") >= 0.7).collect()}
    approx = {(r["d1"], r["d2"]) for r in run("e2_minhash_near_dedup").collect()}
    assert exact, "fixture drift: no exact pairs at J >= 0.7"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.95, f"MinHash-LSH recall {recall:.3f} < 0.95"


def test_ivf_recall_against_exact(run):
    """IVF (nprobe=3, k=8 cells) recall@5 vs the exact e4 baseline, PINNED
    to the measured fixture values (VERDICT r3 task 4, e4e's pattern):
    measured mean 0.56 / min 0.2 per query at sf0.01 — the synthetic
    embeddings are near-uniform, so nprobe/k = 3/8 of the corpus bounds
    the expectation (~0.4-0.6); pins sit just under the deterministic
    seeded measurement so any geometry/seed regression trips them."""
    exact: dict[int, set[int]] = {}
    for r in run("e4_knn_cosine").collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    ivf: dict[int, set[int]] = {}
    for r in run("e4d_ivf_knn").collect():
        ivf.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [len(exact[q] & ivf.get(q, set())) / len(exact[q])
               for q in exact]
    mean = sum(recalls) / len(recalls)
    assert mean >= 0.5, f"IVF mean recall@5 {mean} below pinned 0.5"
    assert min(recalls) >= 0.2, f"IVF min recall@5 {min(recalls)}"


def test_label_index_matches_stringindexer(spark):
    """The relational label_index twin must reproduce MLlib StringIndexer
    exactly (frequencyDesc, lexical ties)."""
    from pyspark.ml.feature import StringIndexer

    from pyspark_ml_features_spark.operators.features import label_index
    from pyspark_ml_features_spark.sources import table

    li = table(spark, SF_DIR, "lineitem").select("l_returnflag")
    ours = {r["l_returnflag"]: r["label"]
            for r in label_index(li, "l_returnflag")
            .select("l_returnflag", "label").distinct().collect()}
    idx = StringIndexer(inputCol="l_returnflag", outputCol="theirs",
                        stringOrderType="frequencyDesc")
    theirs = {lbl: float(i) for i, lbl in enumerate(idx.fit(li).labels)}
    assert ours == theirs


def test_image_stub_plumbing(run):
    """e13 re-pointed (r9): even doc_ids carry real PNGs through the
    full-pixel decode (small formula geometry), odd ones carry text
    bytes through the documented fake fallback — both rungs of
    decode_image_auto in one result."""
    df = run("e13_image_features_stub")
    assert df.columns == ["doc_id", "width", "height", "n_channels", "mean_luma"]
    rows = df.limit(100).collect()
    assert rows
    for r in rows:
        if r["doc_id"] % 2 == 0:  # real decode of a synthesized PNG
            assert r["width"] == 5 + r["doc_id"] % 4
            assert r["height"] == 4 + r["doc_id"] % 3
            assert r["n_channels"] == 1
        else:  # fake fallback on non-image bytes
            assert 64 <= r["width"] < 128 and r["n_channels"] == 3
        assert 0 <= r["mean_luma"] < 256


def test_approx_robust_scale_close_to_exact(run):
    """B6 approx path (GK sketch, eps=1e-3) must track the exact path within
    a few percent on every scaled value."""
    approx_df = run("b6b_robust_scaling_approx")
    exact_df = run("b6_robust_scaling")
    a = approx_df.select(F.col("l_quantity_scaled").alias("a")).agg(
        F.min("a"), F.max("a")).collect()[0]
    e = exact_df.select(F.col("l_quantity_scaled").alias("e")).agg(
        F.min("e"), F.max("e")).collect()[0]
    assert abs(a[0] - e[0]) < 0.1 and abs(a[1] - e[1]) < 0.1


def test_robust_scale_eager_matches_expr(spark):
    """Reference-faithful eager API (exact path) ≡ declarative twin."""
    from pyspark_ml_features_spark.operators.scaling import (
        robust_scale,
        robust_scale_expr,
    )
    from pyspark_ml_features_spark.sources import table

    li = table(spark, SF_DIR, "lineitem").select("l_quantity")
    eager = {r["l_quantity"]: r["l_quantity_scaled"]
             for r in robust_scale(li, ["l_quantity"], method="exact")
             .distinct().collect()}
    lazy = {r["l_quantity"]: r["l_quantity_scaled"]
            for r in robust_scale_expr(li, ["l_quantity"])
            .distinct().collect()}
    assert eager == lazy


def test_moment_stats_invariants(run, ddb):
    """Spark moment stats must agree with DuckDB within float tolerance
    (exact hashing is not portable for these — see d30 docstring)."""
    rows = {r["l_returnflag"]: r for r in run("d30_moment_stats").collect()}
    want = {r[0]: r for r in ddb.execute(
        """SELECT l_returnflag, stddev_samp(l_extendedprice),
                  corr(l_quantity, l_extendedprice),
                  skewness(l_extendedprice)
           FROM lineitem GROUP BY 1""").fetchall()}
    for flag, r in rows.items():
        assert math.isclose(r["price_stddev"], want[flag][1], rel_tol=1e-9)
        assert math.isclose(r["qty_price_corr"], want[flag][2], rel_tol=1e-6)
        # skewness bias-correction conventions differ slightly across engines
        assert math.isclose(r["price_skew"], want[flag][3], abs_tol=1e-5)
        assert -1.0 <= r["qty_price_corr"] <= 1.0


def test_unknown_table_raises(spark):
    import pytest as _pytest

    from pyspark_ml_features_spark.sources import table

    with _pytest.raises(KeyError):
        table(spark, SF_DIR, "not_a_table")


def test_pipeline_model_persistence(spark, tmp_path):
    """MLlib model lifecycle: fit → save → load → identical transforms."""
    from pyspark.ml import PipelineModel

    from pyspark_ml_features_spark.operators.ml import (
        FEATURE_COLS,
        build_feature_pipeline,
    )
    from pyspark_ml_features_spark.sources import table

    li = table(spark, SF_DIR, "lineitem").limit(1000)
    model = build_feature_pipeline(FEATURE_COLS, "l_returnflag").fit(li)
    path = str(tmp_path / "feature_pipeline")
    model.write().overwrite().save(path)
    loaded = PipelineModel.load(path)
    a = model.transform(li).select("label").groupBy("label").count().collect()
    b = loaded.transform(li).select("label").groupBy("label").count().collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_per_group_regression_matches_duckdb(run, ddb):
    got = {r["l_returnflag"]: r for r in run("d31_per_group_regression").collect()}
    want = {r[0]: r for r in ddb.execute(
        """SELECT l_returnflag,
                  regr_slope(l_extendedprice, l_quantity),
                  regr_intercept(l_extendedprice, l_quantity),
                  count(*)
           FROM lineitem GROUP BY 1""").fetchall()}
    for flag, r in got.items():
        assert math.isclose(r["slope"], want[flag][1], rel_tol=1e-9)
        assert math.isclose(r["intercept"], want[flag][2], rel_tol=1e-6)
        assert r["n"] == want[flag][3]


def test_approx_array_scale_close_to_exact(run):
    """E11 approx path (percentile_approx sketch) must track exact e11
    per (vec_id, dim) — nulls in the same places, values within tolerance
    (approx quantiles land on actual order statistics instead of
    interpolating, so the per-dim median/IQR can shift by one sample gap)."""
    exact = run("e11_robust_scale_array").select(
        "vec_id", "dim", F.col("scaled").alias("s_exact"))
    approx = run("e11b_robust_scale_array_approx").select(
        "vec_id", "dim", F.col("scaled").alias("s_approx"))
    j = exact.join(approx, ["vec_id", "dim"]).cache()
    assert j.filter(F.col("s_exact").isNull() != F.col("s_approx").isNull()
                    ).count() == 0
    worst = j.agg(F.max(F.abs(F.col("s_exact") - F.col("s_approx")))
                  ).collect()[0][0]
    j.unpersist()
    assert worst is None or worst < 0.1, f"approx scaled drifted {worst}"


def test_tfidf_scores_clear_of_rounding_boundary(ddb):
    """e8 rounds summed tf·idf scores to 6 dp on both engines to absorb
    order-of-summation and ln() last-ulp differences (~1e-12 relative). That
    only works if no PRE-round score sits within that slack of a 0.5e-6
    rounding boundary — verify the actual margin on the graded fixture is
    orders of magnitude wider than the absorbed error (the e8 ranking itself
    is safe: it orders by the already-rounded score with a term tiebreak).
    Documented residual-risk check, ADVICE r1."""
    scores = [r[0] for r in ddb.execute("""
        WITH tok AS (
            SELECT doc_id, lang, unnest(str_split(text, ' ')) AS term
            FROM documents
        ), tf AS (
            SELECT doc_id, lang, term, count(*) AS tf
            FROM tok GROUP BY doc_id, lang, term
        ), df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents)
        SELECT sum(tf.tf * (ln((n.n_docs + 1) / (df.df + 1)) + 1)) AS score
        FROM tf JOIN df USING (term), n
        GROUP BY tf.lang, tf.term""").fetchall()]
    margin = min(abs((s * 1e6) % 1.0 - 0.5) for s in scores)
    assert margin > 1e-3, (
        f"a tf-idf score sits {margin} from a 6-dp rounding boundary — the "
        f"round could flip between engines; widen rounding or rework idf")


def test_stratified_sample_fractions(run, ddb):
    got = {r["l_returnflag"]: r["n_sampled"]
           for r in run("d32_stratified_sample").collect()}
    totals = {r[0]: r[1] for r in ddb.execute(
        "SELECT l_returnflag, count(*) FROM lineitem GROUP BY 1").fetchall()}
    for flag, frac in {"A": 0.1, "N": 0.5, "R": 0.1}.items():
        assert math.isclose(got[flag] / totals[flag], frac, abs_tol=0.03)


def test_chunking_invariants(run, spark):
    """e23: every chunk within size bounds, chunk ids dense from 0, and the
    per-document chunk count matches floor((n-1)/stride)+1 coverage."""
    from pyspark_ml_features_spark.operators.packing import (
        CHUNK_SIZE, CHUNK_STRIDE)
    from pyspark_ml_features_spark.sources import table

    chunks = run("e23_chunk_documents").toPandas()
    assert chunks["n_chunk_tokens"].between(1, CHUNK_SIZE).all()
    g = chunks.groupby("doc_id")["chunk_id"]
    assert (g.min() == 0).all()
    docs = (table(spark, SF_DIR, "documents")
            .select("doc_id", F.size(F.split("text", " ")).alias("n"))
            .toPandas().set_index("doc_id")["n"])
    import numpy as np

    expect = ((docs[docs > 0] - 1) // CHUNK_STRIDE + 1)
    got = (g.max() + 1).reindex(expect.index)
    assert np.array_equal(got.values, expect.values)


def test_curation_is_subset_with_consistent_split(run):
    """e25 rows must be a subset of e22's mix selection, and each kept doc's
    split must equal e17's assignment for that doc."""
    cur = run("e25_corpus_curation").toPandas()
    mix = run("e22_source_mix").toPandas()
    split = run("e17_hash_split").toPandas()
    assert set(cur["doc_id"]) <= set(mix["doc_id"])
    merged = cur.merge(split, on="doc_id", suffixes=("", "_e17"))
    assert (merged["split"] == merged["split_e17"]).all()
    assert (cur["quality_score"] >= 0.5).all()


def test_hll_rollup_close_to_exact(run, spark):
    """The sketch-union rollup must estimate per-year distinct customers
    within 5% of the exact count (DataSketches HLL default lgK=12 gives
    ~1.6% RSE at this cardinality — 5% is 3 sigma of headroom)."""
    from pyspark_ml_features_spark.sources import table

    est = {r["o_year"]: r["est_customers"]
           for r in run("d38_hll_distinct_rollup").collect()}
    exact = {r["o_year"]: r["ex"]
             for r in table(spark, SF_DIR, "orders")
             .groupBy(F.year("o_orderdate").alias("o_year"))
             .agg(F.countDistinct("o_custkey").alias("ex")).collect()}
    assert est.keys() == exact.keys()
    for y, ex in exact.items():
        assert abs(est[y] - ex) / ex < 0.05, (y, est[y], ex)
    # Tightened r10 (VERDICT r9 item 7): two engine-exact invariants the
    # statistical bound alone cannot see —
    # 1. determinism: the sketch union is a pure function of the input;
    assert est == {r["o_year"]: r["est_customers"]
                   for r in run("d38_hll_distinct_rollup").collect()}, (
        "HLL union estimates must be run-deterministic")
    # 2. union monotonicity: a year's union-of-months estimate can never
    #    fall below that year's largest single-month estimate (the HLL
    #    union register-max law, exact by construction, not by chance).
    monthly = (table(spark, SF_DIR, "orders")
               .select(F.year("o_orderdate").alias("o_year"),
                       F.month("o_orderdate").alias("o_month"), "o_custkey")
               .groupBy("o_year", "o_month")
               .agg(F.hll_sketch_estimate(
                   F.hll_sketch_agg("o_custkey")).alias("m_est"))
               .groupBy("o_year").agg(F.max("m_est").alias("max_month"))
               .collect())
    for r in monthly:
        assert est[r["o_year"]] >= r["max_month"], (
            r["o_year"], est[r["o_year"]], r["max_month"])


def test_perplexity_invariants(run):
    """t10 must agree with its exact-arithmetic twin t9 on the per-doc
    bigram counts, and add-one smoothing bounds every probability at <= 1,
    so exp(-mean(ln p)) >= 1 for every document."""
    ppl = run("t10_perplexity").toPandas()
    t9 = run("t9_lm_quality").toPandas()
    assert (ppl["perplexity"] >= 1.0).all()
    assert ppl["perplexity"].notna().all()
    merged = ppl.merge(t9, on="doc_id", suffixes=("", "_t9"))
    assert len(merged) == len(ppl) == len(t9)
    assert (merged["n_bigrams"] == merged["n_bigrams_t9"]).all()


def test_kmv_setops_close_to_exact(run, spark):
    """KMV/theta estimates must land within 5 sigma (RSE ~ 1/sqrt(K-1))
    of the exact set sizes, and Jaccard within 5 sigma of its sampling
    error, on the 1995 returned-parts vs bulk-parts sets."""
    import math as m

    from pyspark_ml_features_spark.operators.sketches import KMV_K
    from pyspark_ml_features_spark.sources import table

    est = run("d46_kmv_setops").collect()[0]
    li = (table(spark, SF_DIR, "lineitem")
          .filter(F.year("l_shipdate") == 1995).cache())
    a = li.filter("l_returnflag = 'R'").select("l_partkey").distinct()
    b = li.filter("l_quantity >= 45").select("l_partkey").distinct()
    na, nb = a.count(), b.count()
    ni = a.join(b, "l_partkey").count()
    li.unpersist()
    tol = 5.0 / m.sqrt(KMV_K - 1)
    assert abs(est["est_returned_parts"] - na) / na < tol
    assert abs(est["est_bulk_parts"] - nb) / nb < tol
    assert abs(est["est_overlap"] - ni) / ni < tol
    jac = ni / (na + nb - ni)
    assert abs(est["jaccard_est"] - jac) < tol
    # Tightened r10 (VERDICT r9 item 7): structural theta-sketch laws
    # that hold EXACTLY by construction (xxhash64 is seedless-
    # deterministic), independent of sampling error —
    assert est.asDict() == run("d46_kmv_setops").collect()[0].asDict(), (
        "KMV estimates must be run-deterministic")
    assert 0.0 <= est["jaccard_est"] <= 1.0
    # the intersection sample is a subset of each set's sample under the
    # shared theta, so the overlap estimate cannot exceed either set's
    assert est["est_overlap"] <= min(est["est_returned_parts"],
                                     est["est_bulk_parts"]) + 1e-9


def test_shingle_ops_survive_short_documents(spark, tmp_path):
    """ADVICE r2: sequence(1, greatest(n-2, 0)) on a <3-token doc yields the
    DESCENDING [1, 0] and element_at throws INVALID_ARRAY_INDEX — latent
    because fixture docs have >=10 tokens. t7 and e27 must instead match the
    oracle's empty-shingle-list semantics on 1- and 2-token documents."""
    docs = spark.createDataFrame(
        [(1, "one", "en", "web", 3), (2, "two words", "en", "web", 9),
         (4, "three words here", "en", "web", 16),
         (97, "eval doc three words here", "en", "web", 25),
         (3, "", "en", "web", 0)],
        "doc_id bigint, text string, lang string, source string, n_chars bigint")
    sf_dir = str(tmp_path)
    docs.write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")

    t7 = {r["doc_id"]: r.asDict()
          for r in ALL["t7_repetition_ratio"].fn(spark, sf_dir).collect()}
    assert t7[1]["dup_3gram_frac"] is None  # no 3-grams -> NULL, not error
    assert t7[2]["dup_3gram_frac"] is None
    assert t7[4]["dup_3gram_frac"] == 0.0

    e27 = {r["doc_id"]: r.asDict()
           for r in ALL["e27_decontaminate"].fn(spark, sf_dir).collect()}
    assert set(e27) == {1, 2, 3, 4}  # train docs survive, none error
    assert e27[1]["n_overlap"] == 0 and not e27[1]["contaminated"]
    assert e27[4]["n_overlap"] == 1 and e27[4]["contaminated"]

    # Round-4 session: e3b and e55 had the same unguarded pattern
    # (reproduced: INVALID_ARRAY_INDEX on a 2-word doc) — they and the
    # 5-gram e69 must run clean over this fixture, emitting no pairs/
    # flags/spans from the sub-k documents.
    e3b = ALL["e3b_ngram_jaccard_pairs"].fn(spark, sf_dir)
    assert e3b.count() == 0  # only doc_id 97 is sampled (%5 == 2 others)
    e55 = ALL["e55_ngram_decontaminate"].fn(spark, sf_dir).collect()
    assert all(r["doc_id"] not in (1, 2, 3) for r in e55)
    e69 = ALL["e69_dup_span_report"].fn(spark, sf_dir).collect()
    assert all(r["doc_id"] not in (1, 2, 3) for r in e69)


def test_banded_simhash_finds_every_close_pair(run, spark):
    """Pigeonhole COMPLETENESS contract (VERDICT r2 #6): banding is a
    candidate FILTER, so at equal thresholds the banded plan must find
    EXACTLY the pairs exact all-pairs Hamming finds — set equality, not
    count equality. e2b is exact Hamming ≤ 6 on the 20% sample; restricted
    to ≤ HAM_K it is ground truth for e2c (same 16-bit fingerprint)
    restricted to sample doc_ids."""
    from pyspark_ml_features_spark.operators.dedup import HAM_K

    exact = {(r["d1"], r["d2"])
             for r in run("e2b_simhash_near_dup").collect()
             if r["hamming"] <= HAM_K}
    banded = {(r["d1"], r["d2"])
              for r in run("e2c_simhash_banded").collect()
              if r["d1"] % 5 == 0 and r["d2"] % 5 == 0}
    assert banded == exact
    assert exact, "fixture must contain at least one near-dup pair"


def test_banded_simhash64_matches_exact_hamming(run, spark):
    """Same completeness contract at production width: e2d (64-bit banded)
    restricted to a 20% sample must equal brute-force exact Hamming ≤ HAM_K
    over the same 64-bit fingerprints."""
    from pyspark_ml_features_spark.operators.dedup import HAM_K, simhash64
    from pyspark_ml_features_spark.sources import table

    d = table(spark, SF_DIR, "documents").filter(F.col("doc_id") % 5 == 0)
    s = simhash64(d)
    a = s.select(F.col("doc_id").alias("d1"), F.col("simhash").alias("h1"))
    b = s.select(F.col("doc_id").alias("d2"), F.col("simhash").alias("h2"))
    ham = F.bit_count(F.col("h1").bitwiseXOR(F.col("h2")))
    exact = {(r["d1"], r["d2"])
             for r in (a.join(F.broadcast(b), F.col("d1") < F.col("d2"))
                       .select("d1", "d2", ham.alias("hamming"))
                       .filter(F.col("hamming") <= HAM_K)).collect()}
    banded = {(r["d1"], r["d2"])
              for r in run("e2d_simhash64_banded").collect()
              if r["d1"] % 5 == 0 and r["d2"] % 5 == 0}
    assert banded == exact


def test_simhash64_bands_are_the_16bit_subhashes(run, spark):
    """Packing contract: band k of the 64-bit fingerprint must round-trip
    to sub-simhash k, including band 3's signed two's-complement packing
    (sh3 >= 2^15 sets bit 63 -> negative BIGINT; (h >> 48) & 65535 must
    still recover the original unsigned sh3)."""
    from pyspark_ml_features_spark.operators.dedup import simhash64
    from pyspark_ml_features_spark.sources import table

    d = table(spark, SF_DIR, "documents").limit(200)
    s = simhash64(d)
    bad = s.filter(
        (F.shiftright("simhash", 48).bitwiseAND(F.lit(65535)) < 0)
        | (F.shiftright("simhash", 48).bitwiseAND(F.lit(65535)) > 65535)
    ).count()
    assert bad == 0
    # at least one fixture doc must exercise the sign bit for the signed
    # packing path to be genuinely tested
    assert s.filter(F.col("simhash") < 0).count() > 0


def test_minhash_exact_estimates_and_recall(run, spark):
    """e33's Ĵ = matches/16 must track exact 3-gram-shingle Jaccard: every
    full-corpus pair with exact J >= 0.9 must be FOUND (miss probability
    (1-0.81)^8 ≈ 2e-6 per pair — and the fixed permutation constants make
    this deterministic, not a statistical gamble), and on found pairs the
    estimate must be within the K=16 sampling error envelope."""
    from pyspark_ml_features_spark.functions.text import tokens

    found = {(r["d1"], r["d2"]): r["est_jaccard"]
             for r in run("e33_minhash_banded_exact").collect()}
    assert found, "fixture must contain at least one near-dup pair"

    # exact 3-gram shingle Jaccard via inverted-index join (full corpus;
    # shingles are selective so the pair join stays tiny)
    from pyspark_ml_features_spark.sources import table

    d = table(spark, SF_DIR, "documents")
    t = tokens("text")
    n_tok = F.size(t)
    sh3 = F.when(
        n_tok >= 3,
        F.array_distinct(F.transform(
            F.sequence(F.lit(1), n_tok - 2),
            lambda i: F.concat_ws(" ", F.element_at(t, i),
                                  F.element_at(t, i + 1),
                                  F.element_at(t, i + 2)))),
    ).otherwise(F.array().cast("array<string>"))
    docs = d.select("doc_id", sh3.alias("sh")).filter(F.size("sh") > 0)
    sizes = docs.select("doc_id", F.size("sh").alias("n_sh"))
    inv = docs.select("doc_id", F.explode("sh").alias("s"))
    a = inv.select(F.col("doc_id").alias("d1"), "s")
    b = inv.select(F.col("doc_id").alias("d2"), "s")
    shared = (a.join(b, "s").filter(F.col("d1") < F.col("d2"))
              .groupBy("d1", "d2").agg(F.count(F.lit(1)).alias("shared")))
    sa = sizes.select(F.col("doc_id").alias("d1"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("d2"), F.col("n_sh").alias("nb"))
    exact = {(r["d1"], r["d2"]):
             r["shared"] / (r["na"] + r["nb"] - r["shared"])
             for r in shared.join(sa, "d1").join(sb, "d2").collect()}

    high = {p for p, j in exact.items() if j >= 0.9}
    assert high, "fixture must contain at least one J>=0.9 shingle pair"
    assert high <= set(found), f"missed high-J pairs: {sorted(high - set(found))[:5]}"
    errs = [abs(est - exact.get(p, 0.0)) for p, est in found.items()]
    assert max(errs) <= 0.40, f"estimate error {max(errs)} beyond K=16 envelope"


def test_int8_knn_recall_vs_float(run):
    """e4e (int8-quantized retrieval) must track the float path: observed
    recall@5 vs e4 is 1.0 on this fixture; pin >= 0.9 mean / >= 0.8 min so
    a quantization bug (wrong scale, asymmetric rounding, clipped dims)
    fails loudly while testdata regeneration noise doesn't."""
    exact, quant = {}, {}
    for r in run("e4_knn_cosine").collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in run("e4e_int8_knn").collect():
        quant.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert set(exact) == set(quant)
    recalls = [len(exact[q] & quant[q]) / len(exact[q]) for q in exact]
    assert min(recalls) >= 0.8, f"min recall@5 {min(recalls)}"
    assert sum(recalls) / len(recalls) >= 0.9


def test_fingerprint_dedup_equals_text_dedup(run):
    """e36 (8-byte fingerprint key) must reproduce e1 (full-text key)
    exactly when no hash collisions occur — same (kept_doc_id, n_copies)
    multiset — and the double-hash collision detector must report zero
    collisions on the fixture (n_distinct_fp2 == 1 everywhere)."""
    by_text = {(r["kept_doc_id"], r["n_copies"])
               for r in run("e1_exact_dedup").collect()}
    fp_rows = run("e36_fingerprint_dedup").collect()
    by_fp = {(r["kept_doc_id"], r["n_copies"]) for r in fp_rows}
    assert by_fp == by_text
    assert all(r["n_distinct_fp2"] == 1 for r in fp_rows)


def test_cc_clusters_are_closed_under_edges(run, spark):
    """e45: cluster assignment must be a valid partition of the pair
    graph — every near-dup pair lands in ONE cluster (no edge crosses two
    clusters), the representative is the cluster's min doc_id, and
    cluster_size matches the member count."""
    from pyspark_ml_features_spark.functions.text import tokens
    from pyspark_ml_features_spark.operators.dedup import jaccard_pairs
    from pyspark_ml_features_spark.sources import table

    cc = run("e45_dup_clusters_cc").cache()
    d = table(spark, SF_DIR, "documents").filter(F.col("doc_id") % 5 == 0)
    prs = jaccard_pairs(d, tokens("text"), threshold=0.5).select("d1", "d2")
    a = cc.select(F.col("doc_id").alias("d1"), F.col("cluster_id").alias("c1"))
    b = cc.select(F.col("doc_id").alias("d2"), F.col("cluster_id").alias("c2"))
    crossing = (prs.join(a, "d1").join(b, "d2")
                .filter(F.col("c1") != F.col("c2")).count())
    assert crossing == 0, "an edge crosses two clusters — closure incomplete"
    bad_rep = (cc.groupBy("cluster_id").agg(F.min("doc_id").alias("mn"))
               .filter(F.col("cluster_id") != F.col("mn")).count())
    assert bad_rep == 0, "cluster_id must be the min member doc_id"
    bad_sz = (cc.groupBy("cluster_id", "cluster_size")
              .agg(F.count(F.lit(1)).alias("n"))
              .filter(F.col("n") != F.col("cluster_size")).count())
    assert bad_sz == 0, "cluster_size must equal the member count"


def test_lsh_quality_report_bounds(run):
    """e46: confusion counts must be consistent (tp <= both set sizes,
    ratios in [0,1]) and the fixture's banded geometry should keep both
    precision and recall high (it is tuned for J >= 0.5)."""
    r = run("e46_lsh_quality_report").collect()[0]
    assert r["n_tp"] <= min(r["n_true"], r["n_est"])
    assert 0.0 <= r["precision_est"] <= 1.0
    assert 0.0 <= r["recall_est"] <= 1.0
    assert r["recall_est"] >= 0.8, "banded geometry should catch J>=0.5 pairs"
    assert r["precision_est"] >= 0.5


def test_incremental_cc_warm_start_saves_rounds(spark):
    """e47's warm start must converge in no MORE rounds than a cold run
    on the same union graph (equality allowed — the fixture's graphs are
    already diameter-1), and produce identical labels."""
    from pyspark_ml_features_spark.functions.text import tokens
    from pyspark_ml_features_spark.operators.dedup import jaccard_pairs
    from pyspark_ml_features_spark.operators.graph import (
        connected_components,
    )
    from pyspark_ml_features_spark.sources import table

    d = table(spark, SF_DIR, "documents")
    base = d.filter(F.col("doc_id") % 5 == 0)
    union = d.filter((F.col("doc_id") % 5).isin(0, 1))

    def sym(p):
        return (p.select(F.col("d1").alias("src"), F.col("d2").alias("dst"))
                .unionByName(p.select(F.col("d2").alias("src"),
                                      F.col("d1").alias("dst"))))

    base_edges = sym(jaccard_pairs(base, tokens("text"), 0.5))
    union_edges = sym(jaccard_pairs(union, tokens("text"), 0.5))
    nodes = union.select(F.col("doc_id").alias("node"))
    init = connected_components(
        base.select(F.col("doc_id").alias("node")), base_edges) \
        .withColumnRenamed("cluster_id", "lbl")
    cold_stats: dict = {}
    warm_stats: dict = {}
    cold = connected_components(nodes, union_edges, stats=cold_stats)
    warm = connected_components(nodes, union_edges, stats=warm_stats,
                                init_labels=init)
    assert warm_stats["rounds"] <= cold_stats["rounds"]
    diff = (cold.withColumnRenamed("cluster_id", "c")
            .join(warm.withColumnRenamed("cluster_id", "w"), "node")
            .filter(F.col("c") != F.col("w")).count())
    assert diff == 0, "warm-start labels must equal the cold fixpoint"


def test_sorted_neighborhood_candidates_linear_and_density_bounded(run):
    """e63's defining property is candidate LINEARITY (exactly <= w*n
    candidate pairs), and its recall on THIS fixture is density-bounded:
    the saturated corpus has a quadratic true-pair set (3,810 J>=0.5
    pairs among 100 sampled docs = 77% of all pairs), so any linear
    blocking can reach at most w*n/|truth| ~ 0.13 recall here — measured
    0.100 (re-measured r5; the r4 note of 0.054 was stale). Pin the
    bound arithmetic and the measured floor; precision is
    1.0 by construction (every emitted pair passed the exact verify)."""
    truth = {(r["d1"], r["d2"]) for r in run("e3_jaccard_pairs").collect()}
    sn_rows = run("e63_sorted_neighborhood").collect()
    # e63 orders pairs by RANK (d1 = lower sort rank), not by doc id —
    # normalize to (min, max) before comparing with e3's id-ordered pairs
    sn = {(min(r["d1"], r["d2"]), max(r["d1"], r["d2"])) for r in sn_rows}
    n_docs = 100  # doc_id % 5 == 0 at sf0.01
    w = 5
    assert len(sn) <= w * n_docs, "candidates must stay linear (w*n)"
    assert sn <= truth, "every emitted pair must be a true J>=0.5 pair"
    recall = len(sn & truth) / len(truth)
    upper = min(1.0, w * n_docs / len(truth))
    assert recall <= upper + 1e-9
    assert recall >= 0.04, f"recall {recall} collapsed below measured floor"


def test_multipass_sorted_neighborhood_lifts_recall(run):
    """e64's second sort key must strictly lift recall over single-pass
    e63 while keeping candidates linear (<= 2*w*n): measured 0.100 ->
    0.186 on the fixture (r5 re-measurement). Pass masks partition the found set: every pair
    carries mask 1 (prefix), 2 (suffix), or 3 (both)."""
    truth = {(r["d1"], r["d2"]) for r in run("e3_jaccard_pairs").collect()}
    single = {(min(r["d1"], r["d2"]), max(r["d1"], r["d2"]))
              for r in run("e63_sorted_neighborhood").collect()}
    rows = run("e64_multipass_sorted_neighborhood").collect()
    multi = {(r["d1"], r["d2"]) for r in rows}
    assert multi <= truth
    assert len(multi) <= 2 * 5 * 100
    r1 = len(single & truth) / len(truth)
    r2 = len(multi & truth) / len(truth)
    assert r2 > r1, f"second pass must lift recall ({r1} -> {r2})"
    assert r2 >= 0.15, f"multipass recall {r2} collapsed below measured"
    assert {r["pass_mask"] for r in rows} <= {1, 2, 3}


def test_three_pass_sorted_neighborhood_ceiling_curve(run, spark):
    """VERDICT r4 task 7: the multi-pass ceiling curve's THIRD point. A
    third sort key — the sorted-token-SET prefix, which clusters docs by
    content regardless of token order (the minhash-prefix idea in its
    exact form) — must lift recall again while candidates stay <= 3*w*n.
    Measured on the sf0.01 fixture (truth = 3,810 J>=0.5 pairs):
    1-pass 0.100, 2-pass 0.186, 3-pass 0.265 against per-pass ceilings
    w*n/|truth| = 0.131/0.262/0.394 — each added key recovers a
    DIMINISHING share of its ceiling (76% -> 71% -> 67%) because the
    passes' candidate sets overlap. That decay, pinned here and tabled
    in DESIGN_SCALE.md, is the decision input for 'would another pass
    help at 100 TB' — the answer plateaus; banding (e33) does not."""
    import functools

    import pyspark.sql.functions as F

    from pyspark_ml_features_spark.functions.text import tokens
    from pyspark_ml_features_spark.operators.dedup import (
        sorted_neighborhood_pass,
    )
    from pyspark_ml_features_spark.sources import table
    from tests.conftest import SF_DIR

    truth = {(r["d1"], r["d2"]) for r in run("e3_jaccard_pairs").collect()}
    two_pass = {(r["d1"], r["d2"])
                for r in run("e64_multipass_sorted_neighborhood").collect()}
    w = 5
    d = (table(spark, SF_DIR, "documents")
         .filter(F.col("doc_id") % 5 == 0)
         .select("doc_id", "text",
                 F.array_distinct(tokens("text")).alias("sh")))
    passes = [
        sorted_neighborhood_pass(
            d.select("doc_id", F.substring("text", 1, 24).alias("key")),
            1, w),
        sorted_neighborhood_pass(
            d.select("doc_id", F.substring(F.reverse("text"), 1, 24)
                     .alias("key")), 2, w),
        sorted_neighborhood_pass(
            d.select("doc_id",
                     F.substring(F.array_join(F.array_sort("sh"), " "),
                                 1, 24).alias("key")), 4, w),
    ]
    cand = functools.reduce(lambda a, b: a.unionByName(b), passes)
    three = {(r["d1"], r["d2"])
             for r in cand.select("d1", "d2").distinct().collect()}
    n_docs = 100
    assert len(three) <= 3 * w * n_docs, "candidates must stay linear"
    r2 = len(two_pass & truth) / len(truth)
    r3 = len(three & truth) / len(truth)
    assert r3 > r2, f"third key must lift recall ({r2} -> {r3})"
    assert r3 >= 0.24, f"3-pass recall {r3} collapsed below measured 0.265"
    # diminishing returns: the third key's marginal lift must not exceed
    # the second's (the plateau that caps multi-pass SN vs banding)
    r1 = 0.100  # e63 measured (re-verified r5)
    assert (r3 - r2) <= (r2 - r1) + 0.02


def test_b13_reloaded_model_predicts_identically(spark):
    """b13's contract: an MLWriter save + load round-trip must not change
    a single prediction or probability — coefficients serialize exactly
    (Parquet doubles), so train-here/serve-there is bit-stable."""
    import pyspark.sql.functions as F
    from pyspark.ml.classification import (
        LogisticRegression, LogisticRegressionModel,
    )
    from pyspark.ml.functions import vector_to_array

    from pyspark_ml_features_spark.operators.ml import _featured_lineitem
    from pyspark_ml_features_spark.tmp_artifacts import pid_scoped
    from tests.conftest import SF_DIR

    df = _featured_lineitem(spark, SF_DIR)
    model = LogisticRegression(labelCol="label",
                               probabilityCol="probability",
                               maxIter=20).fit(df)
    path = pid_scoped("pmfs_b13_invariant_model")
    model.write().overwrite().save(path)
    reloaded = LogisticRegressionModel.load(path)
    prob = vector_to_array("probability")
    cols = ["l_orderkey", "l_linenumber", "prediction",
            prob[0].alias("p0"), prob[1].alias("p1"), prob[2].alias("p2")]
    a = model.transform(df).select(*cols)
    b = reloaded.transform(df).select(*cols)
    # bit-identical: exceptAll in both directions is empty
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0
    assert a.count() > 0


def test_distributed_rank_monotone_on_real_data(spark):
    """ADVICE r7 runtime assertion for the ranking primitive: grk must
    be monotone in the order key on REAL data (lineitem at the grading
    sf), so a Spark upgrade that reorders the non-deterministic mono-id
    projection below the in-stage sort fails loudly here even if the
    plan-shape pin were ever relaxed. Checks both totality (grk is a
    1..n permutation) and order agreement (sorting by grk yields a
    non-decreasing order key)."""
    from pyspark_ml_features_spark.operators.basic import table
    from pyspark_ml_features_spark.operators.relational import (
        distributed_row_number,
    )

    li = table(spark, SF_DIR, "lineitem").select(
        "l_extendedprice", "l_orderkey", "l_linenumber")
    order = ["l_extendedprice", "l_orderkey", "l_linenumber"]
    out = distributed_row_number(li, order, 8)
    n = li.count()
    agg = out.agg(F.min("grk").alias("lo"), F.max("grk").alias("hi"),
                  F.count_distinct("grk").alias("nd")).collect()[0]
    assert (agg["lo"], agg["hi"], agg["nd"]) == (1, n, n), \
        "grk must be a 1..n permutation"
    # order agreement: the order-key tuple at rank k must be <= the one
    # at rank k+1 — checked distributively with a lag window over grk.
    from pyspark.sql import Window as W
    bad = (out.select(F.struct(*order).alias("k"), "grk")
           .withColumn("p", F.lag("k").over(W.orderBy("grk")))
           .filter(F.col("p").isNotNull() & (F.col("p") > F.col("k")))
           .count())
    assert bad == 0, "grk order must agree with order_cols order"


def test_d142_observation_matches_result(spark):
    """d142's Observation counters ride the same job as the aggregate —
    the collected metrics must equal what the result itself implies
    (total rows, total cents) and the null counter must be zero on this
    fixture. Re-built here rather than imported so the observation
    handle is local to the test."""
    from pyspark.sql import Observation

    from pyspark_ml_features_spark.operators.basic import table

    o = table(spark, SF_DIR, "orders")
    obs = Observation("d142_invariant")
    observed = o.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.count_if(F.col("o_totalprice").isNull()).alias("n_null_price"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
        .alias("total_cents"))
    res = (observed.groupBy("o_orderpriority")
           .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
                .cast("bigint").alias("price_cents"))).collect()
    m = obs.get
    assert m["n_rows"] == sum(r["n"] for r in res)
    assert m["n_null_price"] == 0
    assert m["total_cents"] == sum(r["price_cents"] for r in res)


def test_e108_disposition_partitions_corpus_and_null_lang_is_length_reject(
        spark, tmp_path):
    """e108's audit contract on a constructed fixture: (a) every doc
    appears exactly once (the corpus-partition property); (b) a
    Gopher-PASSING doc with NULL lang is a 'length_reject' — it never
    matched a per-language band, so the band stage is the first one
    that rejected it (r11 review finding: three-valued logic previously
    let it fall through to 'dup_reject' without ever reaching dedup)."""
    good = "the and have with " + " ".join(["word"] * 56)  # passes Gopher
    rows = [
        (1, good, "en", "s", len(good)),
        (2, good, "en", "s", len(good)),          # exact dup of 1
        (3, good, None, "s", len(good)),          # NULL lang, passes Gopher
        (4, "tiny", "en", "s", 4),                # fails Gopher (n_words)
    ]
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows, "doc_id BIGINT, text STRING, lang STRING, source STRING, "
              "n_chars BIGINT") \
        .coalesce(1).write.mode("overwrite") \
        .parquet(f"{sf_dir}/documents.parquet")
    out = {r["doc_id"]: (r["stage"], r["surviving_doc"])
           for r in ALL["e108_quality_filter_chain_audit"]
           .fn(spark, sf_dir).collect()}
    assert len(out) == 4                          # partition: each doc once
    assert out[4] == ("gopher_reject", -1)
    assert out[3] == ("length_reject", -1)        # the review-finding pin
    # docs 1 and 2 share content; the lower doc_id survives (equal length)
    assert out[1] == ("kept", 1)
    assert out[2] == ("dup_reject", 1)


def test_e110_null_text_doc_survives_both_engines(spark, tmp_path):
    """ADVICE r11 regression pin: a NULL-text corpus doc must flow through
    e110's decontaminate→pack chain IDENTICALLY in Spark and DuckDB. Before
    the coalesce fix, NULL text yielded NULL n_tokens on the Spark side,
    which reached greedy_pack's bigint Arrow schema as NaN (engine-only
    failure) while the oracle still returned rows. Both engines now
    coalesce text to '' (the e105/e108 rule), so the NULL doc hashes as the
    empty string, counts 1 token, and packs like any other clean doc."""
    import duckdb

    from tests.conftest import assert_frames_match

    rows = [
        (0, "benchmark text shared with doc one", "en"),
        (1, "benchmark text shared with doc one", "en"),   # contaminated
        (2, "clean corpus document two", "en"),
        (3, None, "en"),                                   # the NULL doc
        (4, "clean corpus document four", "de"),
        (5, "another benchmark row", "de"),
        (6, "clean corpus document six", "de"),
    ]
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows, "doc_id BIGINT, text STRING, lang STRING") \
        .coalesce(1).write.mode("overwrite") \
        .parquet(f"{sf_dir}/documents.parquet")

    q = ALL["e110_decontam_pack_audit"]
    spark_pdf = q.fn(spark, sf_dir).toPandas()

    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{sf_dir}/documents.parquet/*.parquet')")
        oracle_pdf = con.execute(q.oracle).fetchdf()
    finally:
        con.close()
    assert_frames_match(spark_pdf, oracle_pdf, "e110_null_text")

    by_id = {int(r["doc_id"]): r for _, r in spark_pdf.iterrows()}
    assert set(by_id) == {1, 2, 3, 4, 6}          # corpus docs only
    null_doc = by_id[3]
    assert int(null_doc["n_tokens"]) == 1          # split('', ' ') == ['']
    assert int(null_doc["contaminated"]) == 0
    assert int(null_doc["bin_id"]) >= 1            # actually packed
    assert int(by_id[1]["contaminated"]) == 1      # benchmark dup flagged
    assert int(by_id[1]["bin_id"]) == -1


def test_kmeans_cluster_size_multiset_pinned(run):
    """VERDICT r11 task 5 (the e107-style exactness promotion for the
    B-family): at fixed seed and fixed input, MLlib KMeans(k=10) must
    reproduce the exact cluster-SIZE multiset — seeded centroids are not
    SQL-derivable (so b8 stays rows-only at the driver), but the size
    multiset is a deterministic fingerprint of the seed, the KMeans||
    initialization, and the convergence path: a silent MLlib default
    change, a seed regression, or an input-partitioning change that
    perturbs initialization all flip it. Pinned from two identical
    back-to-back runs at sf0.01 (cluster LABELS are arbitrary; sizes
    sorted ascending are not). Cross-machine stability note (r12
    review): the sf0.01 embeddings parquet is one ~small file, so the
    scan — and therefore the KMeans|| input partitioning — is ONE
    partition regardless of host core count; if this pin ever fires on
    a new host with unchanged code, check the scan partition count
    before blaming MLlib. Version-sensitivity note (ADVICE r12): the
    multiset also depends on the MLlib KMeans|| implementation itself,
    so it is pinned AT pyspark 4.1 — the version assert below makes a
    flip after a dependency upgrade immediately attributable to the
    upgrade rather than triaged as a code regression (re-pin the
    multiset when bumping Spark)."""
    import os

    import pyspark

    if os.path.basename(SF_DIR.rstrip("/")) != "sf0.01":
        import pytest as _pytest

        _pytest.skip("multiset pinned at sf0.01 only")
    assert pyspark.__version__.startswith("4.1."), (
        f"KMeans size multiset pinned at pyspark 4.1.x; running "
        f"{pyspark.__version__} — re-pin the expected multiset for the "
        f"new MLlib before trusting this test")
    sizes = sorted(
        r["n"] for r in run("b8_kmeans_clusters")
        .groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n")).collect())
    assert sizes == [1, 1, 9, 41, 43, 47, 52, 60, 113, 133]


def test_b5_logreg_fingerprint_pinned(run):
    """VERDICT r12 task 6 (the KMeans-multiset pattern extended to the
    b5 family, rows-only at the driver for twelve rounds): at fixed
    input and fixed hyperparameters, MLlib LogisticRegression's L-BFGS
    fit is deterministic — no RNG anywhere (zero initialization,
    deterministic line search) — so the per-class prediction counts,
    the label-agreement count, and the coefficient/intercept SIGN
    pattern are a fingerprint of the optimizer, the default regParam/
    elasticNet/tol, and the standardization path. A silent MLlib
    default change, a standardization regression, or a convergence
    change flips them. Pinned from two identical back-to-back runs at
    sf0.01 (pyspark 4.1 — same version-sensitivity rule as the KMeans
    pin above: re-pin on a Spark bump)."""
    import os

    import numpy as np
    import pyspark
    from pyspark.ml.classification import LogisticRegression

    from pyspark_ml_features_spark.operators.ml import _featured_lineitem
    from tests.conftest import SF_DIR

    if os.path.basename(SF_DIR.rstrip("/")) != "sf0.01":
        import pytest as _pytest

        _pytest.skip("fingerprint pinned at sf0.01 only")
    assert pyspark.__version__.startswith("4.1.")
    df = run("b5_probability_prediction")
    counts = {r["prediction"]: r["n"] for r in
              df.groupBy("prediction")
              .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts == {0.0: 21123, 1.0: 21500, 2.0: 17377}
    agree = df.filter(F.col("label") == F.col("prediction")).count()
    assert agree == 20283
    model = LogisticRegression(labelCol="label",
                               probabilityCol="probability",
                               maxIter=20).fit(
        _featured_lineitem(df.sparkSession, SF_DIR))
    assert np.sign(model.coefficientMatrix.toArray()).astype(int).tolist() \
        == [[-1, 1, 1, 1], [-1, -1, -1, -1], [1, -1, -1, 1]]
    assert np.sign(model.interceptVector.toArray()).astype(int).tolist() \
        == [-1, 1, -1]


def test_e114_delta_bridge_merges_base_clusters_both_engines(spark,
                                                             tmp_path):
    """e114's load-bearing mechanism, pinned on a CONSTRUCTED fixture so
    fixture drift can never make the driver hash vacuous: a DELTA vector
    that bridges two pre-existing base clusters must renumber the entire
    absorbed cluster via star-edge propagation (base-base pairs are
    never regenerated — members of the absorbed cluster are reachable
    only through node↔stored-label star edges). Construction: two
    orthogonal-ish directions u1/u2 sampled into the SAME LSH bucket
    with |cos| < 0.1 (< the 0.3 threshold, so the base run keeps them
    separate), duplicated as base clusters {1,2} and {3,5}; delta vector
    4 = normalize(u1+u2) lands in the same bucket BY CONSTRUCTION
    (plane dots add) with cos ~ 0.707 to both sides; delta vector 8 sits
    in a different bucket (stays a singleton). Runs the real DuckDB
    oracle against the Spark side (frames must hash-match) and then pins
    the merged structure explicitly."""
    import duckdb
    import numpy as np

    from pyspark_ml_features_spark.operators.similarity import _lsh_planes
    from tests.conftest import assert_frames_match

    planes = np.array(_lsh_planes())

    def bucket(v):
        return int(sum((1 << p) for p in range(len(planes))
                       if planes[p] @ v >= 0))

    rng = np.random.default_rng(7)
    cand = [v / np.linalg.norm(v) for v in rng.standard_normal((400, 64))]
    u1 = u2 = None
    for i in range(len(cand)):
        for j in range(i + 1, len(cand)):
            if (bucket(cand[i]) == bucket(cand[j])
                    and abs(cand[i] @ cand[j]) < 0.1):
                u1, u2 = cand[i], cand[j]
                break
        if u1 is not None:
            break
    assert u1 is not None, "construction failed: no same-bucket low-cos pair"
    bridge = (u1 + u2) / np.linalg.norm(u1 + u2)
    assert bucket(bridge) == bucket(u1)  # plane dots add
    w = next(v for v in cand if bucket(v) != bucket(u1))

    rows = [(1, u1), (2, u1), (3, u2), (5, u2), (4, bridge), (8, w)]
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id BIGINT, embedding ARRAY<FLOAT>") \
        .coalesce(1).write.mode("overwrite") \
        .parquet(f"{sf_dir}/embeddings.parquet")

    q = ALL["e114_incremental_semantic_dedup"]
    spark_pdf = q.fn(spark, sf_dir).toPandas()
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{sf_dir}/embeddings.parquet/*.parquet')")
        oracle_pdf = con.execute(q.oracle).fetchdf()
    finally:
        con.close()
    assert_frames_match(spark_pdf, oracle_pdf, "e114_bridge")

    by_id = {int(r["vec_id"]): r for _, r in spark_pdf.iterrows()}
    assert set(by_id) == {1, 2, 3, 4, 5, 8}
    # the bridge merged both base clusters: everyone labels to min id 1,
    # including 3 and 5, which are reachable ONLY via star edges
    for v in (1, 2, 3, 4, 5):
        assert int(by_id[v]["cluster_id"]) == 1
        assert int(by_id[v]["cluster_size"]) == 5
    assert by_id[1]["stage"] == "kept"
    assert all(by_id[v]["stage"] == "dup_reject" for v in (2, 3, 4, 5))
    assert int(by_id[4]["is_new"]) == 1 and int(by_id[8]["is_new"]) == 1
    assert (by_id[8]["stage"], int(by_id[8]["cluster_size"])) == ("kept", 1)


def test_e115_multiprobe_sets_nested_and_recall_monotone(spark):
    """e115's load-bearing claims at the PAIR-SET level (the graded
    output carries only cumulative counts): (1) each pair is discovered
    at exactly ONE depth (the XOR of two buckets is unique, so the
    per-depth joins are disjoint — no dedup shuffle needed, which the
    graded plan relies on; uniqueness plus cumulative construction is
    what makes pairs(q) ⊇ pairs(q-1) hold, so the containment itself is
    not separately asserted — r13 review: asserting it on sets built by
    `d <= q` comprehension is tautological); (2) every probe depth adds
    candidates at sf0.01 (strict growth — the assert that actually
    fails if a per-depth join returns wrong pairs); (3) depth 0
    reproduces exactly e4b/e112's single-probe candidate set (same
    _bucketize); (4) recall is monotone and the full Hamming-1 probe
    sweep finds strictly more true pairs than single-probe at sf0.01
    (the buy-back the query exists to pin). Strict-growth/buy-back
    values are fixture geometry, so sf0.01-guarded like the
    fingerprint pins above."""
    import os

    import pyspark.sql.functions as F

    from pyspark_ml_features_spark.functions.arrays import to_double_array
    from pyspark_ml_features_spark.operators.similarity import (
        N_PROBE_DEPTHS,
        _bucketize,
        multiprobe_candidates,
    )
    from tests.conftest import SF_DIR

    if os.path.basename(SF_DIR.rstrip("/")) != "sf0.01":
        pytest.skip("probe-depth growth pinned at sf0.01 geometry only")
    eb = _bucketize(
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .filter(F.col("vec_id") % 5 == 0)
        .select("vec_id", to_double_array("embedding").alias("emb")))
    cand = (multiprobe_candidates(eb)
            .select("v1", "v2", "first_depth").collect())
    seen: dict[tuple[int, int], int] = {}
    for r in cand:
        key = (r["v1"], r["v2"])
        assert key not in seen, f"pair {key} discovered at two depths"
        seen[key] = r["first_depth"]
    sets = [{k for k, d in seen.items() if d <= q}
            for q in range(N_PROBE_DEPTHS)]
    for q in range(1, N_PROBE_DEPTHS):
        assert len(sets[q]) > len(sets[q - 1]), (
            f"probe {q} must add candidates at sf0.01")
    # depth 0 == the single-probe (e4b/e112) same-bucket candidate set
    single = {(r["v1"], r["v2"]) for r in
              (eb.alias("a").join(eb.alias("b"), "bucket")
               .select(F.col("a.vec_id").alias("v1"),
                       F.col("b.vec_id").alias("v2"))
               .filter(F.col("v1") < F.col("v2"))).collect()}
    assert sets[0] == single
    # graded output: recall monotone, multi-probe strictly beats
    # single-probe on found dup pairs at sf0.01
    out = {r["probe_depth"]: r for r in
           ALL["e115_multiprobe_lsh_recall"].fn(spark, SF_DIR).collect()}
    dups = [out[q]["n_dup_pairs"] for q in range(N_PROBE_DEPTHS)]
    assert all(b >= a for a, b in zip(dups, dups[1:]))
    assert dups[-1] > dups[0], "Hamming-1 sweep must buy back recall"
    assert out[0]["n_true_pairs"] >= dups[-1]


def test_b3_b10_tuning_metric_fingerprint_pinned(run):
    """Completes the B-family fingerprint set (VERDICT r12 task 6: b3/b5/
    b10 were rows-only for twelve rounds; b5 and b8 now carry pins — this
    adds the two tuning queries). Both are RNG-free at fixed input: b3's
    2-fold CV uses MLlib's seeded fold assignment and b10's split is the
    deterministic modulo column, and L-BFGS is deterministic, so the
    accuracy values are a fingerprint of fold hashing + optimizer +
    evaluator defaults. Pinned from two identical back-to-back runs at
    sf0.01 to 9 dp (cross-row float sums may differ in the last ulp
    across hosts/partitionings — same caveat as the KMeans pin above;
    pyspark 4.1-guarded likewise)."""
    import os

    import pyspark

    if os.path.basename(SF_DIR.rstrip("/")) != "sf0.01":
        import pytest as _pytest

        _pytest.skip("fingerprint pinned at sf0.01 only")
    assert pyspark.__version__.startswith("4.1.")
    b3 = sorted((r["param_value"], round(r["avg_accuracy"], 9))
                for r in run("b3_validation_curves").collect())
    assert b3 == [(0.001, 0.327967785), (0.1, 0.329633777)]
    b10 = sorted((r["reg_param"], round(r["accuracy"], 9),
                  r["n_train"], r["n_test"])
                 for r in run("b10_predefined_split_tuning").collect())
    assert b10 == [(0.01, 0.328882682, 42100, 17900),
                   (0.1, 0.328882682, 42100, 17900)]


def test_e116_or_banding_disjoint_attribution_and_e115_crosspin(spark):
    """e116's load-bearing claims: (1) each candidate pair is emitted by
    exactly ONE band's join — the earlier-band-mismatch filters make the
    union dedup-free, which the graded plan relies on; (2) the
    (pair → first_band) attribution matches an independent driver-side
    recomputation over the per-vector bucket columns, i.e. the B joins +
    filters reproduce the declared OR-banding semantics exactly
    (completeness AND attribution, not just uniqueness); (3) the graded
    band-0 row equals e115's depth-0 row value-for-value — band 0 reuses
    THE single-band planes on THE same sample, so the two recall
    mitigations are pinned to one shared baseline; (4) on the graded
    output recall is monotone, every band adds candidates at sf0.01, and
    the 4-band union finds strictly more dup pairs than band 0 alone
    (the buy-back the query exists to pin — fixture geometry, so
    sf0.01-guarded like e115's)."""
    import os

    from pyspark_ml_features_spark.functions.arrays import to_double_array
    from pyspark_ml_features_spark.operators.similarity import (
        N_BANDS,
        _band_planes,
        _bucketize,
        or_band_candidates,
    )

    if os.path.basename(SF_DIR.rstrip("/")) != "sf0.01":
        pytest.skip("band-growth values pinned at sf0.01 geometry only")
    eb = (spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
          .filter(F.col("vec_id") % 5 == 0)
          .select("vec_id", to_double_array("embedding").alias("emb")))
    for band in range(N_BANDS):
        eb = _bucketize(eb, planes=_band_planes(band),
                        bucket_col=f"bucket_{band}")
    buckets = {r["vec_id"]: [r[f"bucket_{b}"] for b in range(N_BANDS)]
               for r in eb.select(
                   "vec_id", *[f"bucket_{b}" for b in range(N_BANDS)])
               .collect()}
    # independent driver-side attribution over all pairs
    ids = sorted(buckets)
    expected: dict[tuple[int, int], int] = {}
    for i, v1 in enumerate(ids):
        for v2 in ids[i + 1:]:
            for band in range(N_BANDS):
                if buckets[v1][band] == buckets[v2][band]:
                    expected[(v1, v2)] = band
                    break
    got: dict[tuple[int, int], int] = {}
    for r in (or_band_candidates(eb)
              .select("v1", "v2", "first_band").collect()):
        key = (r["v1"], r["v2"])
        assert key not in got, f"pair {key} emitted by two bands"
        got[key] = r["first_band"]
    assert got == expected
    # graded output vs e115: band 0 IS depth 0
    out = {r["band"]: r for r in
           ALL["e116_or_banding_recall"].fn(spark, SF_DIR).collect()}
    e115 = {r["probe_depth"]: r for r in
            ALL["e115_multiprobe_lsh_recall"].fn(spark, SF_DIR).collect()}
    for col in ("n_candidates", "n_dup_pairs", "n_true_pairs"):
        assert out[0][col] == e115[0][col], (
            f"band-0 {col} must equal e115 depth-0 (shared planes/sample)")
    cands = [out[b]["n_candidates"] for b in range(N_BANDS)]
    dups = [out[b]["n_dup_pairs"] for b in range(N_BANDS)]
    assert all(b > a for a, b in zip(cands, cands[1:])), (
        "every band must add candidates at sf0.01")
    assert all(b >= a for a, b in zip(dups, dups[1:]))
    assert dups[-1] > dups[0], "OR-banding must buy back recall"
    assert out[0]["n_true_pairs"] >= dups[-1]
