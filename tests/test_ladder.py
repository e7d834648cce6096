"""scripts/ladder.py on the registered path: the tier builder's three
replication modes at sf0.001 x1 and x2, the replication invariant, and
one additive family run end to end through the harness's entry point."""

from __future__ import annotations

import os
import sys
from collections import Counter

import pyspark.sql.functions as F
import pytest

from pyspark_ml_features_spark.sources import table
from tests.conftest import SMOKE_SF_DIR

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "scripts"))
import ladder  # noqa: E402


@pytest.fixture(scope="module")
def tiers(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("ladder"))
    return {mode: ladder.build_tier(
        spark, 2, {"documents": mode, "embeddings": mode, "events": mode},
        root, SMOKE_SF_DIR) for mode in ("exact", "marker", "disjoint")}


def _rows(spark, tier_dir, name, *cols):
    return [tuple(r) for r in table(spark, tier_dir, name).select(*cols)
            .collect()]


@pytest.mark.parametrize("mode", ["exact", "marker", "disjoint"])
def test_replicas_double_rows_with_disjoint_ids(spark, tiers, mode):
    assert ladder.build_tier(spark, 1, {"documents": mode}, "/unused",
                             SMOKE_SF_DIR) == SMOKE_SF_DIR
    for name, ids in ladder.IDS.items():
        if name not in ("documents", "embeddings", "events"):
            continue
        base = _rows(spark, SMOKE_SF_DIR, name, *ids)
        got = _rows(spark, tiers[mode], name, *ids)
        assert len(got) == 2 * len(base)
        for i, _ in enumerate(ids):
            vals = [r[i] for r in base]
            assert len({r[i] for r in got}) == 2 * len(set(vals))
            assert not set(vals) & {v + ladder.SHIFT for v in vals}


def test_replicas_keep_every_id_slice(spark, tiers):
    """doc_id % 5 (benchmark), % 4 (shard, delta) and vec_id % 50 (kNN
    queries) select the same rows in every replica."""
    for name, col in (("documents", "doc_id"), ("embeddings", "vec_id")):
        base = [r[0] for r in _rows(spark, SMOKE_SF_DIR, name, col)]
        got = [r[0] for r in _rows(spark, tiers["exact"], name, col)]
        for rep in (0, 1):
            shift = rep * ladder.SHIFT
            replica = [v for v in got if v // ladder.SHIFT == rep]
            assert sorted(v - shift for v in replica) == sorted(base)
            for m in (4, 5, 50):
                assert {v - shift for v in replica if v % m == 0} \
                    == {v for v in base if v % m == 0}, (name, rep, m)


def test_text_modes(spark, tiers):
    base = Counter(r[0] for r in _rows(spark, SMOKE_SF_DIR, "documents",
                                       "text"))
    exact = Counter(r[0] for r in _rows(spark, tiers["exact"], "documents",
                                        "text"))
    assert exact == Counter({t: 2 * c for t, c in base.items()})
    marker = Counter(r[0] for r in _rows(spark, tiers["marker"],
                                         "documents", "text"))
    assert len(marker) == 2 * len(base)  # no text repeats across replicas
    assert all(marker[t] == c for t, c in base.items())
    disjoint = _rows(spark, tiers["disjoint"], "documents", "doc_id", "text")
    vocab = [set(), set()]
    for doc_id, text in disjoint:
        vocab[doc_id >= ladder.SHIFT].update((text or "").split(" "))
    assert vocab[1] and not vocab[0] & vocab[1]


def test_times_k():
    base = {"n": 3, "sizes": Counter({2: 4}), "per": {"a": 1}, "lo": 0.5}
    laws = {"n": "xk", "sizes": "blowup", "per": "xk", "lo": "same"}
    assert ladder.times_k(base, {"n": 6, "sizes": Counter({4: 4}),
                                 "per": {"a": 2}, "lo": 0.5}, 2, laws)
    assert not ladder.times_k(base, {"n": 6, "sizes": Counter({2: 8}),
                                     "per": {"a": 2}, "lo": 0.5}, 2, laws)
    assert ladder.times_k({"c": Counter({7: 1})}, {"c": Counter({7: 3})}, 3,
                          {"c": "xk"})


def test_quantiles_family_holds_times_k(spark):
    """d52's histogram through ladder.run: counts x2, bounds unchanged."""
    rows = ladder.run("quantiles", spark, base=SMOKE_SF_DIR, ks=(1, 2))
    d52 = [r for r in rows if r["query"] == "d52"]
    assert [r["tier"] for r in d52] == ["x1", "x2"]
    assert d52[0]["xk"] == "base" and d52[1]["xk"] is True
    assert d52[1]["out_rows"] == d52[0]["out_rows"] > 0


def test_failed_checks():
    assert ladder.failed_checks({"xk": "base", "watermark": False,
                                 "star_ok": True, "mismatches": 0}) == []
    assert ladder.failed_checks({"xk": False, "eq_extra": 3, "same": True,
                                 "cap_violations": 0}) == ["xk", "eq_extra"]


def test_family_fails_when_tier_breaks_times_k(spark, monkeypatch):
    """A tier that does not replicate (one copy at x2) fails d52's xk
    check, so the run raises instead of printing xk=False."""
    monkeypatch.setattr(ladder, "replicas", lambda df, k, *a, **kw: [df])
    with pytest.raises(AssertionError, match="xk"):
        ladder.run("quantiles", spark, base=SMOKE_SF_DIR, ks=(1, 2))
