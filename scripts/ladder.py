#!/usr/bin/env python
"""Scale-tier ladders: the registered queries, and the package functions
they are built from, run on sf0.1 replicated x k.

Usage: cd /tmp && python <checkout>/scripts/ladder.py <family> [--full]
(no family: list them). ``--full`` also runs the arms a default run
skips as too slow (ANN brute force and the 16-bit dedup join at x10).

Tiers. ``build_tier`` writes a directory in the driver layout, one
``<table>.parquet`` per table, where each named table is the sf0.1 table
replicated k times and every other table is a copy; so a registered
``fn(spark, tier_dir)`` runs on it unchanged. Replica r adds r * SHIFT to
each id column. SHIFT is a multiple of 10^7, so every id-modulus slice the
queries use (doc_id % 5 benchmark, % 4 shard and delta, vec_id % 50
queries) holds the same rows in every replica. A table's text column
follows one of three modes:

    exact     byte-identical text: k exact duplicates of every document
    marker    replica r >= 1 gains a leading "rep<r> " token: near-duplicates
    disjoint  each token of replica r >= 1 gains an "r<r>_" prefix:
              replicas share no token, so every derived graph is k
              disjoint copies of the x1 graph

Measurement. ``plans.profile.profile`` around the build and a noop write
(or a collect, where the output is the number): wall, shuffle, largest
per-task peak memory, output rows. Metrics read from an output are
computed after the timed run. Where a number must scale, the row's ``xk``
column checks "tier x k equals k x tier x1" with ``times_k``. A row whose
check fails (``failed_checks``) is printed, then the run raises.

Probes. DataFrame code defined here is a measurement, not a pipeline:
an analytic count, a ground truth, or a synthetic shape with no package
counterpart. Each carries a one-line comment naming its kind.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402
from pyspark.sql import DataFrame, Window  # noqa: E402

from pyspark_ml_features_spark import registry  # noqa: E402
from pyspark_ml_features_spark.functions.arrays import to_double_array  # noqa: E402
from pyspark_ml_features_spark.plans.profile import profile  # noqa: E402
from pyspark_ml_features_spark.session import get_spark, tune_session  # noqa: E402
from pyspark_ml_features_spark.sources import table  # noqa: E402
from pyspark_ml_features_spark.sources.io import TABLES  # noqa: E402

TESTDATA = "/root/testdata"
SF = os.path.join(TESTDATA, "sf0.1")
SHIFT = 10_000_000
IDS = {"lineitem": ("l_orderkey",), "orders": ("o_orderkey",),
       "events": ("event_id", "user_id"), "documents": ("doc_id",),
       "embeddings": ("vec_id",)}
TEXT = {"documents": "text", "orders": "o_orderpriority"}
QUERIES = registry.all_queries()


# ---------------------------------------------------------------------------
# tiers
# ---------------------------------------------------------------------------

def replicas(df: DataFrame, k: int, ids=(), mode: str = "exact",
             text: str | None = None) -> list[DataFrame]:
    """The ``k`` replicas of ``df``: replica r's ``ids`` columns are
    shifted by r * SHIFT and its ``text`` column follows ``mode`` (module
    docstring)."""
    types = dict((f.name, f.dataType) for f in df.schema.fields)

    def copy(r: int) -> DataFrame:
        cols = []
        for c in df.columns:
            col = F.col(c)
            if c in ids:
                col = (col + F.lit(r * SHIFT)).cast(types[c])
            elif c == text and r and mode == "marker":
                col = F.concat(F.lit(f"rep{r} "), col)
            elif c == text and r and mode == "disjoint":
                col = F.concat_ws(" ", F.transform(
                    F.split(col, " "), lambda t: F.concat(F.lit(f"r{r}_"), t)))
            cols.append(col.alias(c))
        return df.select(*cols)

    return [copy(r) for r in range(k)]


def build_tier(spark, k: int, modes: dict[str, str], root: str,
               base: str = SF) -> str:
    """The x``k`` tier of ``base`` under ``root``: each table named in
    ``modes`` replicated in its mode, the rest copied (not symlinked: the
    session's relation memo keys a table by its resolved path). The x1
    tier is ``base`` itself."""
    out = os.path.join(root, f"x{k}-" + "-".join(
        f"{t}.{m}" for t, m in sorted(modes.items())))
    if k == 1 or os.path.isdir(out):
        return base if k == 1 else out
    os.makedirs(out)
    for name in TABLES:
        src = os.path.join(base, f"{name}.parquet")
        dst = os.path.join(out, f"{name}.parquet")
        if name in modes:
            for rep in replicas(spark.read.parquet(src), k, IDS[name],
                                modes[name], TEXT.get(name)):
                # one file per replica, so a scan gets k splits
                rep.coalesce(1).write.mode("append").parquet(dst)
        elif os.path.exists(src):
            shutil.copy(src, dst)
    return out


# A row's checks: these columns must be True (``xk`` may also read
# "base" or "-") and these must be 0, or the run fails. d51's pct_1e4 is
# a reading: interpolated percentiles of a k-fold multiset move, by less
# than 1e-4 at sf0.1 but not on a small table.
MUST_HOLD = {"xk", "frame_sum_exact", "bounded", "multiset_eq_batch",
             "minlabel_ok", "star_ok", "star_le_minlabel", "rows_ok",
             "range_ok", "same", "exact", "swept", "live_survives", "aborted",
             "manifest_intact", "staging_cleaned"}
MUST_BE_ZERO = {"cap_violations", "mismatches", "eq_extra", "eq_missing"}


def failed_checks(row: dict) -> list[str]:
    """The check columns of ``row`` that failed."""
    return [c for c, v in row.items() if (c in MUST_HOLD and v is False)
            or (c in MUST_BE_ZERO and v != 0)]


def times_k(base: dict, got: dict, k: int, laws: dict[str, str]) -> bool:
    """The replication invariant: per metric, the x``k`` value is k times
    the x1 value ("xk"; a Counter's multiplicities, a dict's values), k^2
    times it ("xk2"), equal to it ("same"), or a Counter whose values are
    all scaled by k ("blowup": each x1 cluster becomes k-fold)."""
    def scale(v, law):
        if law == "same":
            return v
        if isinstance(v, Counter):
            if law == "blowup":
                return Counter({x * k: c for x, c in v.items()})
            return Counter({x: c * k for x, c in v.items()})
        if isinstance(v, dict):
            return {key: scale(x, law) for key, x in v.items()}
        return v * k * (k if law == "xk2" else 1)
    return all(got[m] == scale(base[m], law) for m, law in laws.items())


class Ladder:
    """One family's run: the session, its tiers, and the rows it emits."""

    def __init__(self, spark, base: str = SF, full: bool = False):
        self.spark, self.base, self.full = spark, base, full
        self.root = tempfile.mkdtemp(prefix="ladder_")
        self.rows: list[dict] = []
        self._x1: dict = {}

    def tier(self, k: int, **modes: str) -> str:
        return build_tier(self.spark, k, modes, self.root, self.base)

    def tiers(self, ks, small: bool = False, **modes: str):
        """(label, k, dir) per tier; ``small`` puts sf0.01 first when the
        ladder runs on sf0.1."""
        if small and self.base == SF:
            yield "sf0.01", 0, os.path.join(TESTDATA, "sf0.01")
        for k in ks:
            yield f"x{k}", k, self.tier(k, **modes)

    def noop(self, build, reps: int = 1):
        """Best-of-``reps`` profile of building ``build()`` and writing it
        to the noop sink."""
        return min((profile(self.spark, lambda: build().write.format("noop")
                            .mode("overwrite").save()) for _ in range(reps)),
                   key=lambda p: p.wall_s)

    def query(self, name: str, tier_dir: str, reps: int = 1):
        return self.noop(lambda: QUERIES[name].fn(self.spark, tier_dir), reps)

    def collect(self, build):
        """(rows, profile) of building ``build()`` and collecting it."""
        rows: list = []
        p = profile(self.spark, lambda: rows.extend(build().collect()))
        return rows, p

    def xk(self, key: str, k: int, metrics: dict, laws: dict[str, str]):
        """``times_k`` against the x1 metrics stored under ``key``."""
        if k == 0:  # the sf0.01 tier is no replica of x1
            return "-"
        if k == 1:
            self._x1[key] = metrics
            return "base"
        return times_k(self._x1[key], metrics, k, laws)

    def emit(self, **row) -> None:
        """Print one row; raise if any of its checks failed."""
        self.rows.append(row)
        print("  ".join(f"{k}={v}" for k, v in row.items()), flush=True)
        failed = failed_checks(row)
        if failed:
            raise AssertionError(f"ladder check failed: {failed} in {row}")


def cost(p) -> dict:
    m = p.row()
    return {"wall_s": round(p.wall_s, 2), "shuffle_MiB": m["shuffle_MiB"],
            "peak_task_MiB": m["peak_task_MiB"], "out_rows": p.output_rows}


# ---------------------------------------------------------------------------
# families
# ---------------------------------------------------------------------------

def relational(lad: Ladder, ks=(1, 3, 10)):
    """TPC-H / aggregation / sessionization queries on facts replicated
    with shifted keys and fixed dimensions: shuffle grows with data,
    per-task peak memory stays flat."""
    for label, k, t in lad.tiers(ks, lineitem="exact", orders="exact",
                                 events="exact"):
        for name in ("d4_pricing_summary", "d36_tpch_q3_shipping_priority",
                     "d47_tpch_q18_large_orders", "d64_tpch_q9",
                     "d67_session_window_batch"):
            lad.emit(tier=label, query=name, **cost(lad.query(name, t, 2)))


def quantiles(lad: Ladder, ks=(1, 5, 10)):
    """d51 exact percentiles (one value->count digest shuffled per map
    task, values within 1e-4 of x1) and d52's histogram (counts x k,
    bucket bounds unchanged)."""
    base = None
    for label, k, t in lad.tiers(ks, lineitem="exact"):
        rows, p = lad.collect(
            lambda: QUERIES["d51_percentiles_exact"].fn(lad.spark, t))
        pct = {r["l_returnflag"]: tuple(r)[1:] for r in rows}
        base = base or pct
        close = all(abs(v - b) <= 1e-4 * abs(b) for g in base
                    for v, b in zip(pct[g], base[g]))
        lad.emit(tier=label, query="d51", **cost(p), pct_1e4=close)
        rows, p = lad.collect(
            lambda: QUERIES["d52_width_bucket_histogram"].fn(lad.spark, t))
        hist = {m: {r["bucket"]: r[m] for r in rows} for m in ("n", "lo", "hi")}
        lad.emit(tier=label, query="d52", **cost(p), xk=lad.xk(
            "d52", k, hist, {"n": "xk", "lo": "same", "hi": "same"}))


def events(lad: Ladder, ks=(1, 5, 10)):
    """e9 sessions and d124's sliding 7-day distinct users over disjoint
    user populations with identical streams: both scale exactly x k."""
    for label, k, t in lad.tiers(ks, events="exact"):
        p9 = lad.query("e9_sessionize", t)
        rows, p124 = lad.collect(
            lambda: QUERIES["d124_sliding_distinct_users"].fn(lad.spark, t))
        m = {"sessions": p9.output_rows, "wau_rows": len(rows),
             "wau_max": max(r["distinct_users_7d"] for r in rows)}
        lad.emit(tier=label, **m, sess_wall_s=round(p9.wall_s, 2),
                 wau_wall_s=round(p124.wall_s, 2), xk=lad.xk(
                     "events", k, m, {"sessions": "xk", "wau_rows": "same",
                                      "wau_max": "xk"}))


def windows(lad: Ladder, ks=(1, 5, 10)):
    """d135's ROWS frame in two shapes: partition (replicas get their own
    priority groups) and widen (the same five groups grow x k). The frame
    sum is checked against its closed form."""
    for shape, mode in (("partition", "disjoint"), ("widen", "exact")):
        for label, k, t in lad.tiers(ks, orders=mode):
            p = lad.query("d135_nth_value_frames", t)
            frames = QUERIES["d135_nth_value_frames"].fn(lad.spark, t) \
                .agg(F.sum("frame_n")).first()[0]
            # ground truth: a group of m >= 4 rows has frame sizes summing to 4m - 6
            sizes = [r[1] for r in table(lad.spark, t, "orders")
                     .groupBy("o_orderpriority").count().collect()]
            lad.emit(shape=shape, tier=label, groups=len(sizes), **cost(p),
                     frame_sum_exact=frames == sum(4 * m - 6 for m in sizes))


def temporal(lad: Ladder, ks=(1, 5)):
    """d95's banded interval join and d98's union-merge as-of on denser
    event streams (more entities, same time span)."""
    for label, k, t in lad.tiers(ks, small=True, events="exact"):
        ev = table(lad.spark, t, "events")
        band = (F.unix_timestamp("ts") / F.lit(3600)).cast("bigint")
        # analytic count: d95's candidates from the hour-band histograms
        inc = (ev.filter(F.col("event_type") == "error")
               .select(F.explode(F.sequence(band, band + 2)).alias("b"))
               .groupBy("b").agg(F.count(F.lit(1)).alias("n_inc")))
        act = (ev.filter(F.col("event_type").isin("click", "purchase"))
               .groupBy(band.alias("b")).agg(F.count(F.lit(1)).alias("n_act")))
        cand = inc.join(act, "b").agg(F.sum(F.col("n_inc") * F.col("n_act"))) \
            .first()[0] or 0
        p95 = lad.query("d95_interval_overlap_join", t)
        p98 = lad.query("d98_asof_backward", t)
        lad.emit(tier=label, events=ev.count(), banded_cand=cand,
                 d95_rows=p95.output_rows, d95_s=round(p95.wall_s, 2),
                 d98_rows=p98.output_rows, d98_s=round(p98.wall_s, 2))


def tfidf(lad: Ladder, ks=(1, 5, 10)):
    """e8's term statistics: exact replication keeps the vocabulary (df
    rows) constant while tf rows grow x k; marker replication adds one
    term per extra replica."""
    from pyspark_ml_features_spark.operators.textops import term_stats

    for mode in ("exact", "marker"):
        for label, k, t in lad.tiers(ks, documents=mode):
            tf, dfreq = term_stats(table(lad.spark, t, "documents"))
            rows, p = lad.collect(lambda: dfreq)
            vocab, n_tf = len(rows), tf.count()
            if mode == "exact":
                law = lad.xk("tfidf", k, {"vocab": vocab, "tf": n_tf},
                             {"vocab": "same", "tf": "xk"})
            else:  # the marker mode adds the terms rep1 .. rep<k-1>
                law = lad.xk("tfidf-marker", k, {"vocab": vocab - k + 1},
                             {"vocab": "same"})
            p8 = lad.query("e8_tfidf_topterms", t)
            lad.emit(mode=mode, tier=label, vocab=vocab, tf_rows=n_tf,
                     df_shuffle_MiB=p.row()["shuffle_MiB"],
                     e8_wall_s=round(p8.wall_s, 2), xk=law)


def decontam(lad: Ladder, ks=(1, 5, 10)):
    """e52's Bloom membership with the benchmark slice fixed in content
    (its copies add no filter bit) and the corpus replicated: Bloom and
    exact hits both scale x k."""
    for label, k, t in lad.tiers(ks, documents="exact"):
        rows, p = lad.collect(lambda: QUERIES["e52_bloom_decontaminate"]
                              .fn(lad.spark, t)
                              .agg(F.count(F.lit(1)).alias("corpus"),
                                   F.count_if("bloom_hit").alias("bloom"),
                                   F.count_if("exact_hit").alias("exact")))
        m = rows[0].asDict()
        lad.emit(tier=label, **m, false_pos=m["bloom"] - m["exact"],
                 wall_s=round(p.wall_s, 2),
                 xk=lad.xk("decontam", k, m, dict.fromkeys(m, "xk")))


def spans(lad: Ladder, ks=(1, 5, 10)):
    """e69's span report on near-duplicate replicas: at most one output
    row per document however duplicated the corpus."""
    for label, k, t in lad.tiers(ks, small=True, documents="marker"):
        p = lad.query("e69_dup_span_report", t)
        agg = QUERIES["e69_dup_span_report"].fn(lad.spark, t).agg(
            F.sum("n_dup_spans"), F.sum("dup_words")).first()
        n_docs = table(lad.spark, t, "documents").count()
        lad.emit(tier=label, docs=n_docs, **cost(p), dup_spans=agg[0],
                 dup_words=agg[1], bounded=p.output_rows <= n_docs)


def dedup(lad: Ladder, ks=(1, 10)):
    """e2c (16-bit) and e2d (64-bit) banded SimHash on near-duplicate
    replicas: candidate pairs from the band histogram, output pairs from
    the registered query. The 16-bit join at x10 needs --full."""
    from pyspark_ml_features_spark.operators.dedup import (
        BAND_BITS, BAND_BITS_64, N_BANDS, simhash, simhash64)

    for label, k, t in lad.tiers(ks, small=True, documents="marker"):
        for name, fp, bits in (("e2c_simhash_banded", simhash, BAND_BITS),
                               ("e2d_simhash64_banded", simhash64,
                                BAND_BITS_64)):
            sig = fp(table(lad.spark, t, "documents"))
            # analytic count: sum over (band, value) buckets of C(size, 2)
            bands = sig.select(F.posexplode(F.array(*[
                F.shiftright("simhash", bits * b).bitwiseAND((1 << bits) - 1)
                for b in range(N_BANDS)])).alias("band_id", "band_val"))
            cand = (bands.groupBy("band_id", "band_val").count()
                    .agg(F.sum(F.col("count") * (F.col("count") - 1) / 2))
                    .first()[0])
            row = {"tier": label, "geometry": name[:3], "candidates": int(cand)}
            if bits == BAND_BITS and k >= 10 and not lad.full:
                lad.emit(**row, out_pairs="skipped")
                continue
            p = lad.query(name, t)
            lad.emit(**row, out_pairs=p.output_rows, wall_s=round(p.wall_s, 2))


def ann(lad: Ladder, ks=(1, 10)):
    """LSH economics on the deployed index: analytic kNN candidates at 4
    and 8 planes against brute force, recall@5 of e4b's bucket search
    against e4's exact top-5 (x10 brute force needs --full), and the
    registered multi-probe (e115) and OR-banding (e116) recall curves."""
    from pyspark_ml_features_spark.operators.similarity import (
        _bucketize, _lsh_planes, lsh_top5)

    def pairs(rows):
        return {(r["query_id"], r["neighbor_id"]) for r in rows}

    for label, k, t in lad.tiers(ks, small=True, embeddings="exact"):
        e = table(lad.spark, t, "embeddings").select(
            "vec_id", to_double_array("embedding").alias("emb"))
        is_q = F.col("vec_id") % 50 == 0
        n, n_q = e.count(), e.filter(is_q).count()
        exact = None
        if k < 10 or lad.full:
            rows, p = lad.collect(
                lambda: QUERIES["e4_knn_cosine"].fn(lad.spark, t))
            exact = pairs(rows)
            lad.emit(tier=label, arm="brute", n=n, q=n_q, cand=n * n_q,
                     wall_s=round(p.wall_s, 2))
        for planes in (4, 8):
            eb = _bucketize(e, planes=_lsh_planes(n_planes=planes))
            # analytic count: sum over buckets of |queries in b| * |b|
            cand = (eb.groupBy("bucket").agg(
                F.count(F.lit(1)).alias("nc"),
                F.count_if(is_q).alias("nq"))
                .agg(F.sum(F.col("nc") * F.col("nq"))).first()[0])
            build = (lambda: QUERIES["e4b_lsh_bucket_knn"].fn(lad.spark, t)) \
                if planes == 4 else (lambda: lsh_top5(eb))
            rows, p = lad.collect(build)
            recall = round(len(exact & pairs(rows)) / len(exact), 3) \
                if exact else "skipped"
            lad.emit(tier=label, arm=f"planes={planes}", cand=cand,
                     reduction=round(n * n_q / cand, 1), recall5=recall,
                     wall_s=round(p.wall_s, 2), xk=lad.xk(
                         f"ann-{planes}", k, {"cand": cand}, {"cand": "xk2"}))
        for name, step in (("e115_multiprobe_lsh_recall", "probe_depth"),
                           ("e116_or_banding_recall", "band")):
            rows, p = lad.collect(lambda: QUERIES[name].fn(lad.spark, t))
            for r in sorted(rows, key=lambda r: r[step]):
                lad.emit(tier=label, arm=f"{name[:4]} {step}={r[step]}",
                         cand=r["n_candidates"],
                         recall=round(r["n_dup_pairs"] / r["n_true_pairs"], 3),
                         wall_s=round(p.wall_s, 2))


def semantic_dedup(lad: Ladder, ks=(1, 5, 10)):
    """e112's chain on a K-blow-up (replicas keep the embedding): cluster
    count constant, size multiset scaled by k. Then e114's stage 2 on the
    vec_id % 4 delta against stored base state (prep untimed)."""
    from pyspark_ml_features_spark.operators.similarity import (
        _bucketize, _cluster_bucketized, incremental_semantic_disposition,
        semantic_dedup_disposition)

    spark, batch = lad.spark, {}

    def vecs(t):
        return table(spark, t, "embeddings").select(
            "vec_id", to_double_array("embedding").alias("emb"))

    def kept_sizes(out):
        return Counter(r[0] for r in out.filter(F.col("stage") == "kept")
                       .select("cluster_size").collect())

    for label, k, t in lad.tiers(ks, embeddings="exact"):
        t0 = time.time()
        out = semantic_dedup_disposition(vecs(t)).cache()
        n = out.count()
        wall = round(time.time() - t0, 2)
        # analytic count: within-bucket candidates, sum of C(size, 2)
        cand = sum(c * (c - 1) // 2 for (c,) in
                   out.groupBy("bucket").count().select("count").collect())
        sizes = batch[k] = kept_sizes(out)
        out.unpersist()
        lad.emit(tier=label, vecs=n, candidates=cand,
                 clusters=sum(sizes.values()), wall_s=wall, xk=lad.xk(
                     "semdedup", k, {"sizes": sizes}, {"sizes": "blowup"}))
    is_delta = F.col("vec_id") % 4 == 0
    for label, k, t in lad.tiers(ks, embeddings="exact"):
        store = os.path.join(lad.root, f"semdedup-x{k}")
        eb = _bucketize(vecs(t))
        eb.filter(~is_delta).write.parquet(store + "/state")
        (_cluster_bucketized(eb.filter(~is_delta))
         .select(F.col("vec_id").alias("node"), F.col("cluster_id").alias("lbl"))
         .write.parquet(store + "/labels"))
        vecs(t).filter(is_delta).write.parquet(store + "/delta")
        t0 = time.time()
        union = spark.read.parquet(store + "/state").unionByName(
            _bucketize(spark.read.parquet(store + "/delta")))
        out = incremental_semantic_disposition(
            union, spark.read.parquet(store + "/labels")).cache()
        out.count()
        wall = round(time.time() - t0, 2)
        same = kept_sizes(out) == batch[k]
        out.unpersist()
        # analytic count: delta x union candidates vs from-scratch C(union, 2)
        hist = union.groupBy("bucket").agg(
            F.count(F.lit(1)).alias("u"), F.count_if(is_delta).alias("d")) \
            .collect()
        inc = sum(d * (u - d) + d * (d - 1) // 2 for _, u, d in hist)
        full = sum(u * (u - 1) // 2 for _, u, _ in hist)
        lad.emit(tier=label, arm="delta", inc_cand=inc, batch_cand=full,
                 cand_ratio=round(inc / full, 3), inc_wall_s=wall,
                 multiset_eq_batch=same)


def cc(lad: Ladder, ks=(1, 5)):
    """connected_components over banded-MinHash edges of near-duplicate
    replicas (rounds stay constant), then the long-chain adversary where
    the star variant must need no more rounds than min-label."""
    from pyspark_ml_features_spark.operators.dedup import minhash_candidate_pairs
    from pyspark_ml_features_spark.operators.graph import (
        connected_components, connected_components_star)

    spark = lad.spark
    for label, k, t in lad.tiers(ks, small=True, documents="marker"):
        d = table(lad.spark, t, "documents").select("doc_id", "text") \
            .localCheckpoint()
        t0 = time.time()
        prs = minhash_candidate_pairs(d).select("d1", "d2").localCheckpoint()
        stats: dict = {}
        labels = connected_components(
            d.select(F.col("doc_id").alias("node")),
            prs.select(F.col("d1").alias("src"), F.col("d2").alias("dst")),
            stats=stats)
        agg = labels.groupBy("cluster_id").count().agg(
            F.count(F.lit(1)), F.max("count"),
            F.avg((F.col("count") == 1).cast("double"))).first()
        wall = round(time.time() - t0, 2)
        lad.emit(tier=label, docs=d.count(), edges=prs.count(),
                 rounds=stats["rounds"], wall_s=wall,
                 clusters=agg[0], max_size=agg[1],
                 p_singleton=round(agg[2], 3))
    for n in (1024, 4096):
        # synthetic shape: a path of n nodes, the worst-case diameter
        nodes = spark.range(1, n + 1).select(F.col("id").alias("node"))
        edges = spark.range(1, n).select(F.col("id").alias("src"),
                                         (F.col("id") + 1).alias("dst"))
        row = {"chain_n": n}
        for arm, fn, kw in (("minlabel", connected_components,
                             {"max_rounds": 60}),
                            ("star", connected_components_star, {})):
            stats = {}
            t0 = time.time()
            bad = fn(nodes, edges, stats=stats, **kw) \
                .filter(F.col("cluster_id") != 1).count()
            row |= {f"{arm}_rounds": stats["rounds"],
                    f"{arm}_s": round(time.time() - t0, 2),
                    f"{arm}_ok": bad == 0}
        lad.emit(**row, star_le_minlabel=row["star_rounds"]
                 <= row["minlabel_rounds"])


def graph(lad: Ladder, ks=(1,)):
    """Near-dup graph geometry on the doc_id % 5 slice (pairs, wedges,
    triangles per Jaccard threshold) and the iterative operators' walls
    where the graph is sparse enough to walk."""
    from pyspark_ml_features_spark.functions.text import tokens
    from pyspark_ml_features_spark.operators.dedup import jaccard_pairs
    from pyspark_ml_features_spark.operators.graph import (
        connected_components, khop_reach, pagerank)

    for label, _, t in lad.tiers(ks, small=True):
        d = table(lad.spark, t, "documents") \
            .filter(F.col("doc_id") % 5 == 0).select("doc_id", "text")
        for th in (0.35, 0.5, 0.9):
            prs = jaccard_pairs(d, tokens("text"), threshold=th) \
                .select("d1", "d2").localCheckpoint()
            # analytic counts: wedges and triangles of the one-way pair list
            p1 = prs.select(F.col("d1").alias("a"), F.col("d2").alias("b"))
            p2 = prs.select(F.col("d1").alias("b"), F.col("d2").alias("c"))
            p3 = prs.select(F.col("d1").alias("a"), F.col("d2").alias("c"))
            row = {"tier": label, "th": th, "n": d.count(),
                   "pairs": prs.count(), "wedges": p1.join(p2, "b").count(),
                   "triangles": p1.join(p2, "b").join(p3, ["a", "c"]).count()}
            if th == 0.9 or label == "sf0.01":
                edges = prs.select(F.col("d1").alias("src"),
                                   F.col("d2").alias("dst"))
                nodes = d.select(F.col("doc_id").alias("node"))
                stats: dict = {}
                for arm, run in (
                        ("bfs3", lambda: khop_reach(nodes, edges)),
                        ("pagerank5", lambda: pagerank(nodes, edges)),
                        ("cc", lambda: connected_components(
                            nodes, edges, stats=stats))):
                    row[f"{arm}_s"] = round(lad.noop(run).wall_s, 2)
                row["cc_rounds"] = stats["rounds"]
            lad.emit(**row)


def pagerank(lad: Ladder, ks=(1, 5, 10)):
    """e60 on replicas that share no token: edges scale x k and the rank
    multiset is the x1 multiset repeated k times (e60 has no 1/N term)."""
    from pyspark_ml_features_spark.operators.graph import near_dup_edges

    for label, k, t in lad.tiers(ks, documents="disjoint"):
        rows, p = lad.collect(lambda: QUERIES["e60_pagerank"].fn(lad.spark, t))
        sl = table(lad.spark, t, "documents").filter(F.col("doc_id") % 5 == 0)
        # analytic count: e60 walks each Jaccard >= 0.9 pair both ways
        m = {"nodes": len(rows), "edges": 2 * near_dup_edges(sl, 0.9).count(),
             "ranks": Counter(r["pagerank"] for r in rows)}
        lad.emit(tier=label, nodes=m["nodes"], edges=m["edges"],
                 wall_s=round(p.wall_s, 2),
                 xk=lad.xk("pagerank", k, m, dict.fromkeys(m, "xk")))


def packing(lad: Ladder, ks=(1, 5, 20)):
    """greedy_pack (e51's fold) per shard count: the largest group, the
    per-task state, divides with the shard knob; no multi-member pack
    exceeds the capacity."""
    from pyspark_ml_features_spark.operators.packing import (
        GREEDY_PACK_CAP, greedy_pack, pack_input)

    for label, k, t in lad.tiers(ks, documents="exact"):
        d = table(lad.spark, t, "documents").localCheckpoint()
        for shards in (1, 4, 16, 64):
            out = []
            p = profile(lad.spark, lambda: out.append(greedy_pack(
                pack_input(d, shards), GREEDY_PACK_CAP).localCheckpoint()))
            packed = out[0]
            # ground truth: capacity audit per (lang, shard, bin)
            audit = packed.groupBy("lang", "shard", "bin_id").agg(
                F.sum("n_tokens").alias("fill"), F.count(F.lit(1)).alias("n"))
            viol = audit.filter((F.col("fill") > GREEDY_PACK_CAP)
                                & (F.col("n") > 1)).count()
            lad.emit(tier=label, docs=d.count(), shards=shards,
                     wall_s=round(p.wall_s, 2),
                     max_group=packed.groupBy("lang", "shard").count()
                     .agg(F.max("count")).first()[0],
                     packs=audit.count(), cap_violations=viol)


def curate(lad: Ladder, ks=(1, 5, 10)):
    """pipeline.curate's whole funnel on near-duplicate replicas."""
    from pyspark_ml_features_spark.pipeline import curate as run_curate

    for label, k, t in lad.tiers(ks, documents="marker"):
        t0 = time.time()
        r = run_curate(lad.spark, t)
        packs = r["packed"].agg(
            F.countDistinct("lang", "shard", "bin_id")).first()[0]
        wall = round(time.time() - t0, 2)
        stages = {s: (i, o) for s, i, o in r["funnel"]}
        lad.emit(tier=label, docs_in=stages["exact_dedup"][0],
                 post_near_dup=stages["near_dup_dedup"][1],
                 kept=stages["quality_filter"][1], packs=packs, wall_s=wall,
                 funnel=" ".join(f"{s}:{i}->{o}" for s, i, o in r["funnel"]))


def roundtrip(lad: Ladder, ks=(1, 5, 10)):
    """e104 (dedup-chunk-pack-stitch) and e105 (vocab-encode-decode) on
    exact duplicates: output rows scale x k and every reconstructed text
    equals its source."""
    tiers = list(lad.tiers(ks, documents="exact"))
    for name, col in (("e104_dedup_pack_stitch_roundtrip", "reconstructed_text"),
                      ("e105_vocab_encode_decode_roundtrip", "decoded_text")):
        lad.query(name, tiers[0][2])  # warm-up: codegen is per query shape
        for label, k, t in tiers:
            p = lad.query(name, t, reps=2)
            src = table(lad.spark, t, "documents").select("doc_id", "text")
            if name.startswith("e104"):  # e104 drops whitespace-only docs
                src = src.filter(F.trim("text") != "")
            # ground truth: the source text, matched on doc_id
            bad = QUERIES[name].fn(lad.spark, t).join(src, "doc_id", "full") \
                .filter(~F.col(col).eqNullSafe(F.col("text"))).count()
            n = src.count()
            lad.emit(query=name[:4], tier=label, docs=n,
                     wall_s=round(p.wall_s, 2),
                     ms_per_doc=round(1000 * p.wall_s / n, 3),
                     rows_ok=p.output_rows == n, mismatches=bad)


def multimodal(lad: Ladder, ks=(1, 5, 10)):
    """e98 PNG decode and e72 WAV resample inside the Arrow boundary: rows
    scale x k and the per-document wall stays flat."""
    lad.query("e98_png_decode", lad.tier(1, documents="exact"))  # warm-up
    for name in ("e98_png_decode", "e72_audio_resample"):
        for label, k, t in lad.tiers(ks, documents="exact"):
            p = lad.query(name, t)
            lad.emit(query=name[:3], tier=label, docs=p.output_rows,
                     wall_s=round(p.wall_s, 2),
                     ms_per_doc=round(1000 * p.wall_s / p.output_rows, 3),
                     xk=lad.xk(name, k, {"n": p.output_rows}, {"n": "xk"}))


def ranking(lad: Ladder, ks=(1, 5, 10)):
    """distributed_row_number over d106's long form: one range exchange,
    rank range exactly 1..n, the partition knob answer-invariant, and at
    x5 the same (keys, rank) multiset as the single-partition window."""
    from pyspark_ml_features_spark.operators.relational import (
        D106_ORDER, distributed_row_number, long_features)
    from pyspark_ml_features_spark.plans.audit import audit_text, plan_text

    def measure(label, t, parts):
        out = {}

        def run():
            out["ranked"] = r = distributed_row_number(
                long_features(table(lad.spark, t, "lineitem")), D106_ORDER, parts)
            out["stats"] = r.agg(F.min("grk"), F.max("grk"),
                                 F.count(F.lit(1))).first()
        p = profile(lad.spark, run)
        plan = plan_text(out["ranked"])
        assert audit_text(plan).shuffles == 0 and "Window" not in plan
        lo, hi, n = out["stats"]
        lad.emit(tier=label, P=parts, rows=n, shuffle_MiB=p.row()["shuffle_MiB"],
                 wall_s=round(p.wall_s, 2), range_ok=lo == 1 and hi == n)

    for label, k, t in lad.tiers(ks, small=True, lineitem="exact"):
        measure(label, t, 32)
    if lad.base != SF:
        return
    t = lad.tier(5, lineitem="exact")
    for parts in (8, 128):
        measure("x5", t, parts)
    long = long_features(table(lad.spark, t, "lineitem")).localCheckpoint()
    dist = distributed_row_number(long, D106_ORDER, 32) \
        .select(*D106_ORDER, F.col("grk").alias("rk"))
    # ground truth: the single-partition window twin
    twin = long.select(*D106_ORDER, F.row_number().over(
        Window.orderBy(*D106_ORDER)).alias("rk"))
    lad.emit(tier="x5", P=32, rows=long.count(),
             eq_extra=dist.exceptAll(twin).count(),
             eq_missing=twin.exceptAll(dist).count())


def scan(lad: Ladder, ks=()):
    """distributed_prefix_sum against the single-partition window it
    replaces: every task holds ~n/P rows instead of one holding all n."""
    from pyspark_ml_features_spark.operators.relational import (
        distributed_prefix_sum)

    for n in (1_000_000, 5_000_000, 20_000_000):
        # synthetic shape: 1,000-way ties on the order key, unique tie-break
        df = lad.spark.range(n).select((F.col("id") % 1000).alias("v"),
                                       F.col("id").alias("k"),
                                       ((F.col("id") * 7) % 50).alias("w"))
        dist = lad.noop(lambda: distributed_prefix_sum(df, ["v", "k"], "w", 32)
                        .select(F.max("gcum"), F.max("grk")))
        w = Window.orderBy("v", "k")
        # ground truth: the single-partition window twin
        single = lad.noop(lambda: df.select(
            F.row_number().over(w).alias("grk"),
            F.sum("w").over(w).alias("gcum")).select(F.max("gcum"), F.max("grk")))
        lad.emit(rows=n, distributed_s=round(dist.wall_s, 2),
                 single_partition_s=round(single.wall_s, 2),
                 rows_per_task=n // 32)


def skew(lad: Ladder, ks=(30,)):
    """A 60% whale key against its uniform twin: windows put the whale on
    one task, hash aggregation absorbs it map-side, and AQE's skew split
    and salted_join spread a skewed shuffle join."""
    from pyspark_ml_features_spark.functions.skew import salted_join

    spark = lad.spark
    un = table(spark, lad.tier(ks[0], events="exact"), "events")
    # synthetic shape: event_id % 10 < 6 reassigned to user 0
    sk = un.withColumn("user_id", F.when(F.col("event_id") % 10 < 6, 0)
                       .otherwise(F.col("user_id")))
    users = sk.select("user_id").distinct().withColumn(
        "segment", F.pmod("user_id", F.lit(7)))

    def rank(src):  # synthetic shape: a window over the hot key
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        return src.withColumn("rk", F.row_number().over(w)) \
            .groupBy("user_id").agg(F.max("rk"))

    def agg(src):  # synthetic shape: a hash aggregate over the hot key
        return src.groupBy("user_id").agg(F.count(F.lit(1)), F.sum("value"))

    def per_segment(joined):  # synthetic shape: payload through the join
        return joined.groupBy("segment").agg(
            F.count(F.lit(1)), F.sum("value"), F.max("props"))

    cases = [("window rank, uniform", lambda: rank(un)),
             ("window rank, skewed", lambda: rank(sk)),
             ("hash agg, uniform", lambda: agg(un)),
             ("hash agg, skewed", lambda: agg(sk))]
    for case, build in cases:
        lad.emit(case=case, **cost(lad.noop(build, 2)))
    confs = {"spark.sql.autoBroadcastJoinThreshold": "-1",
             "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
             "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
             "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
                 "1MB"}
    before = {c: spark.conf.get(c, None)
              for c in [*confs, "spark.sql.adaptive.skewJoin.enabled"]}
    try:
        for c, v in confs.items():
            spark.conf.set(c, v)
        for on in ("false", "true"):
            spark.conf.set("spark.sql.adaptive.skewJoin.enabled", on)
            lad.emit(case=f"shuffle join, skewed, AQE skew split {on}",
                     **cost(lad.noop(lambda: per_segment(
                         sk.join(users, "user_id")), 2)))
        lad.emit(case="salted join, skewed", **cost(lad.noop(
            lambda: per_segment(salted_join(sk, users, "user_id", 8)), 2)))
    finally:
        for c, v in before.items():
            spark.conf.unset(c) if v is None else spark.conf.set(c, v)


def spill_child(tier: str, shape: str) -> None:
    """One spill shape in this process's own session (its heap is set at
    JVM launch); prints one JSON line."""
    spark = get_spark(app_name=f"ladder-spill-{shape}")
    li = table(spark, tier, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    if shape == "agg":  # synthetic shape: ~1.5M-group aggregate
        out = li.groupBy("l_orderkey").agg(
            F.count(F.lit(1)).alias("n"), F.sum(cents).alias("c")).agg(
            F.count(F.lit(1)).alias("n_groups"), F.sum("n").alias("n_rows"),
            F.sum("c").alias("checksum"))
    else:  # synthetic shape: sort-merge self-join on the order key
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        per_order = li.groupBy("l_orderkey").agg(F.sum(cents).alias("oc"))
        out = li.select("l_orderkey", "l_linenumber").join(
            per_order, "l_orderkey").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("oc") * F.col("l_linenumber")).alias("checksum"))
    rows: list = []
    p = profile(spark, lambda: rows.extend(out.collect()))
    print(json.dumps({"shape": shape, "wall_s": round(p.wall_s, 2),
                      "spill_MiB": round(p.spill_bytes / 2 ** 20, 1),
                      "shuffle_MiB": p.row()["shuffle_MiB"],
                      "result": rows[0].asDict()}))
    spark.stop()


def spill(lad: Ladder, ks=(10,)):
    """The aggregate and sort-merge shapes on lineitem x10 in a default
    heap and in a 1g heap: the small heap spills instead of failing, and
    both give the same checksum."""
    t = lad.tier(ks[0], lineitem="exact")
    child = ("import sys; sys.path.insert(0, sys.argv[1]); import ladder; "
             "ladder.spill_child(sys.argv[2], sys.argv[3])")
    here = os.path.dirname(os.path.abspath(__file__))
    for shape in ("agg", "smj"):
        results = []
        for heap in (None, "1g"):
            env = dict(os.environ)
            if heap:
                env["SPARK_GRAFT_DRIVER_MEM"] = heap
            proc = subprocess.run(
                [sys.executable, "-c", child, here, t, shape], env=env,
                capture_output=True, text=True, timeout=1800)
            lines = [x for x in proc.stdout.splitlines() if x.startswith("{")]
            if proc.returncode or not lines:
                raise RuntimeError(f"{shape}@{heap}: {proc.stderr[-2000:]}")
            r = json.loads(lines[-1])
            results.append(r["result"])
            lad.emit(shape=shape, wall_s=r["wall_s"], heap=heap or os.environ
                     .get("SPARK_GRAFT_DRIVER_MEM", "default"),
                     spill_MiB=r["spill_MiB"], shuffle_MiB=r["shuffle_MiB"],
                     result=r["result"], same=results[0] == r["result"])


def sink(lad: Ladder, ks=(1, 5, 10)):
    """jsonl_sink's commit protocol: 32 concurrent write tasks per job,
    an append chain that merges manifests additively, crash-debris GC
    that spares a live staging dir, and an abort that keeps the last
    manifest (sink scenarios; the writer is the package's)."""
    from pyspark_ml_features_spark.sources.pyds import (
        jsonl_manifest_files, register_python_sources)

    spark = lad.spark
    register_python_sources(spark)
    out_root = os.path.join(lad.root, "sink")

    def docs(k):
        return table(lad.spark, lad.tier(k, documents="exact"), "documents") \
            .select("doc_id", "lang", "text").repartition(32)

    def write(df, path, **opts):
        w = df.write.format("jsonl_sink").option("path", path).mode("append")
        for key, v in opts.items():
            w = w.option(key, v)
        t0 = time.time()
        w.save()
        return round(time.time() - t0, 2)

    def read_back(path):
        return spark.read.schema("doc_id bigint, lang string, text string") \
            .json(jsonl_manifest_files(path)).count()

    for k in ks:
        d, path = docs(k), os.path.join(out_root, f"x{k}")
        wall = write(d, path)
        files = len([f for f in os.listdir(path) if f.startswith("part-")])
        lad.emit(phase="volume", tier=f"x{k}", rows=read_back(path),
                 files=files, wall_s=wall, exact=read_back(path) == d.count())
    d5, chain = docs(5), os.path.join(out_root, "chain")
    walls = [write(d5, chain) for _ in range(5)]
    lad.emit(phase="chain", rows=read_back(chain), walls=walls,
             exact=read_back(chain) == 5 * d5.count())
    # sink scenario: 100 stale staging dirs, 100 stale old-layout root
    # files and one live staging dir with an old first attempt
    now = time.time()

    def stale(path, age, doc_id):
        with open(path, "w") as f:
            f.write(json.dumps({"doc_id": doc_id}) + "\n")
        os.utime(path, (now - age, now - age))
    for i in range(100):
        sdir = os.path.join(chain, f"_staging-dead{i:08d}")
        os.makedirs(sdir)
        stale(os.path.join(sdir, f"part-dead{i:08d}-0.json"), 7200, -1)
        os.utime(sdir, (now - 7200, now - 7200))
        stale(os.path.join(chain, f"part-oldlay{i:06d}-x.json"), 7200, -2)
    live = os.path.join(chain, "_staging-liveconcurrent")
    os.makedirs(live)
    for i, age in enumerate((7200, 5)):
        stale(os.path.join(live, f"part-liveconcurrent-{i}.json"), age, -3)
    wall = write(d5.limit(10), chain, orphan_ttl_sec="3600")
    left = [n for n in os.listdir(chain)
            if n.startswith(("_staging-dead", "part-oldlay"))]
    lad.emit(phase="gc", swept=not left, wall_s=wall,
             live_survives=len(os.listdir(live)) == 2)
    before = read_back(chain)
    try:  # sink scenario: a failing task aborts the job
        write(d5.limit(10).withColumn("boom", F.udf(lambda: 1 / 0)()), chain)
        aborted = False
    except Exception:
        aborted = True
    stray = [n for n in os.listdir(chain) if n.startswith("_staging-")
             and n != os.path.basename(live)]
    lad.emit(phase="abort", aborted=aborted,
             manifest_intact=read_back(chain) == before,
             staging_cleaned=not stray)


def stream_throughput(lad: Ladder, ks=(1, 5, 10)):
    """s1's watermarked tumbling windows drained with AvailableNow, two
    files (replicas) per micro-batch: counts scale x k, the window spine
    stays constant (the time span does not grow), throughput rises."""
    from pyspark_ml_features_spark.streaming.events import (
        events_stream, streaming_tumbling_counts)

    spark = lad.spark
    for label, k, t in lad.tiers(ks, events="exact"):
        name = f"ladder_stream_x{k}"
        t0 = time.time()
        stream = events_stream(spark, t, max_files_per_trigger=2)
        q = (streaming_tumbling_counts(stream).writeStream.format("memory")
             .queryName(name).outputMode("complete")
             .trigger(availableNow=True).start())
        q.awaitTermination()
        wall = time.time() - t0
        n_in = sum(p["numInputRows"] for p in q.recentProgress)
        out = spark.table(name)
        m = {"total": out.agg(F.sum("n_events")).first()[0],
             "spine": out.select("window_start").distinct().count()}
        lad.emit(tier=label, events=n_in, batches=len(
            [p for p in q.recentProgress if p["numInputRows"]]), **m,
            wall_s=round(wall, 2), rows_per_s=int(n_in / wall),
            xk=lad.xk("stream", k, m, {"total": "xk", "spine": "same"}))


def streaming(lad: Ladder, ks=()):
    """Streaming state against a growing history (streaming scenario):
    six staged hours-ranges drained with AvailableNow against one
    checkpoint. Watermarked state plateaus and an ancient replay is
    dropped; the unwatermarked twin's state grows linearly."""
    spark = lad.spark
    users, per_hour, hours, n_stages = 50, 200, 6, 6
    schema = "event_id bigint, user_id bigint, event_type string, ts timestamp"

    def stage(src, s, hour0):
        # streaming scenario: one parquet file of evenly spaced events
        n = per_hour * hours
        df = spark.range(n).select(
            (F.lit(s) * 1_000_000 + F.col("id")).alias("event_id"),
            (F.col("id") % users).alias("user_id"),
            F.element_at(F.array(F.lit("view"), F.lit("click"),
                                 F.lit("purchase")),
                         (F.col("id") % 3 + 1).cast("int")).alias("event_type"),
            (F.to_timestamp(F.lit("2024-01-01 00:00:00")) + F.make_interval(
                secs=(F.lit(hour0 * 3600) + F.col("id") * (3600 * hours // n))
                .cast("double"))).alias("ts"))
        tmp = tempfile.mkdtemp(dir=lad.root)
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
        shutil.move(os.path.join(tmp, part),
                    os.path.join(src, f"batch_{s:03d}.parquet"))

    def drain(src, ckpt, watermark):
        stream = spark.readStream.schema(schema).parquet(src)
        if watermark:
            stream = stream.withWatermark("ts", "10 minutes")
        # streaming scenario: hourly counts per event type
        agg = stream.groupBy(F.window("ts", "1 hour"), "event_type").count()
        q = (agg.writeStream.format("noop")
             .outputMode("append" if watermark else "complete")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        state = removed = dropped = n_in = 0
        for p in q.recentProgress:
            n_in += p["numInputRows"]
            for so in p.get("stateOperators", []):
                state = so["numRowsTotal"]
                removed += so["numRowsRemoved"]
                dropped += so.get("numRowsDroppedByWatermark", 0)
        return {"input": n_in, "state_rows": state, "removed": removed,
                "dropped": dropped}

    for watermark in (True, False):
        src, ckpt = tempfile.mkdtemp(dir=lad.root), tempfile.mkdtemp(dir=lad.root)
        plan = [(str(s), s, s * hours) for s in range(n_stages)]
        if watermark:  # replay hours [0, 6) far behind the watermark, twice
            plan += [("late-1", n_stages, 0), ("late-2", n_stages + 1, 0)]
        for name, s, hour0 in plan:
            stage(src, s, hour0)
            lad.emit(watermark=watermark, stage=name,
                     **drain(src, ckpt, watermark))


FAMILIES = {f.__name__: f for f in (
    relational, quantiles, events, windows, temporal, tfidf, decontam, spans,
    dedup, ann, semantic_dedup, cc, graph, pagerank, packing, curate,
    roundtrip, multimodal, ranking, scan, skew, spill, sink,
    stream_throughput, streaming)}


def run(family: str, spark=None, base: str = SF, ks=None,
        full: bool = False) -> list[dict]:
    """Run one family's ladder on ``base`` (default sf0.1) at its default
    tiers or at ``ks``; return the rows it printed. A session passed in is
    left running; one made here is stopped."""
    own = spark is None
    spark = tune_session(spark or get_spark(app_name=f"ladder-{family}"))
    lad = Ladder(spark, base, full)
    try:
        FAMILIES[family](lad) if ks is None else FAMILIES[family](lad, ks)
    finally:
        shutil.rmtree(lad.root, ignore_errors=True)
        if own:
            spark.stop()
    return lad.rows


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--full"]
    if len(args) != 1 or args[0] not in FAMILIES:
        raise SystemExit("usage: ladder.py <family> [--full]\nfamilies: "
                         + " ".join(FAMILIES))
    run(args[0], full="--full" in sys.argv)


if __name__ == "__main__":
    main()
