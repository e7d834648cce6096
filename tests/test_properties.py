"""Property-based tests (hypothesis): operator semantics on random inputs,
checked against independent NumPy/Python models. Few examples per property —
each example runs Spark jobs.
"""

from __future__ import annotations

import numpy as np
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark_ml_features_spark.functions.text import HASH_BASE, HASH_MOD

SLOW = settings(max_examples=5, deadline=None,
                suppress_health_check=list(HealthCheck))


def _py_rolling_hash(s: str) -> int:
    acc = 0
    for ch in s:
        acc = (acc * HASH_BASE + ord(ch)) % HASH_MOD
    return acc


@SLOW
@given(st.lists(st.text(alphabet="abcdefgh ", min_size=0, max_size=40),
                min_size=1, max_size=8))
def test_rolling_hash_matches_python_model(spark, texts):
    from pyspark_ml_features_spark.functions.text import rolling_hash

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               schema="id int, text string")
    got = {r["id"]: r["h"]
           for r in df.select("id", rolling_hash("text").alias("h")).collect()}
    want = {i: _py_rolling_hash(t) for i, t in enumerate(texts)}
    assert got == want


@SLOW
@given(st.lists(st.floats(min_value=-1e6, max_value=1e6,
                          allow_nan=False, allow_infinity=False),
                min_size=5, max_size=40))
def test_robust_scale_matches_numpy(spark, values):
    from pyspark_ml_features_spark.operators.scaling import IQR_EPS, robust_scale

    df = spark.createDataFrame([(float(v),) for v in values], schema="x double")
    out = robust_scale(df, ["x"], method="exact")
    q1, med, q3 = np.percentile(np.array(values, dtype=float), [25, 50, 75],
                                method="linear")
    iqr = q3 - q1
    rows = out.collect()
    if iqr <= IQR_EPS:
        assert "x_scaled" not in out.columns  # reference skip semantics
    else:
        for r in rows:
            expect = (r["x"] - med) / iqr
            assert abs(r["x_scaled"] - expect) < 1e-9


@SLOW
@given(st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=1, max_size=30))
def test_label_index_is_frequency_ordered_bijection(spark, labels):
    import pyspark.sql.functions as F

    from pyspark_ml_features_spark.operators.features import label_index

    df = spark.createDataFrame([(lb,) for lb in labels], schema="y string")
    mapping = {r["y"]: r["label"]
               for r in label_index(df, "y").select("y", "label")
               .distinct().collect()}
    # bijection onto 0..k-1
    assert sorted(mapping.values()) == [float(i) for i in range(len(mapping))]
    # ordinal respects frequency desc, ties lexical
    freq = {lb: labels.count(lb) for lb in set(labels)}
    ordered = sorted(freq, key=lambda lb: (-freq[lb], lb))
    assert mapping == {lb: float(i) for i, lb in enumerate(ordered)}


def _py_components(n_nodes: int, edges: list[tuple[int, int]]) -> dict[int, int]:
    """Union-find reference: node -> min node id of its component."""
    parent = list(range(n_nodes))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in range(n_nodes)}


@SLOW
@given(st.integers(min_value=1, max_value=30).flatmap(
    lambda n: st.tuples(
        st.just(n),
        st.lists(st.tuples(st.integers(0, n - 1), st.integers(0, n - 1)),
                 min_size=0, max_size=60))))
def test_connected_components_matches_union_find(spark, case):
    """connected_components on arbitrary random graphs (self-loops and
    duplicate edges included) must equal a Python union-find — including
    long chains, which exercise multi-round convergence (the fixture
    graphs all close in one round)."""
    from pyspark_ml_features_spark.operators.graph import (
        connected_components,
    )

    n, raw_edges = case
    edges_list = [(a, b) for a, b in raw_edges if a != b]
    nodes = spark.createDataFrame([(i,) for i in range(n)],
                                  schema="node long")
    sym = ([(a, b) for a, b in edges_list]
           + [(b, a) for a, b in edges_list]) or [(0, 0)]
    edges = spark.createDataFrame(sym, schema="src long, dst long")
    got = {r["node"]: r["cluster_id"]
           for r in connected_components(nodes, edges).collect()}
    want = _py_components(n, edges_list)
    assert got == want


@SLOW
@given(st.lists(st.integers(min_value=0, max_value=3),
                min_size=1, max_size=60))
def test_distributed_row_number_matches_sorted_order(spark, vals):
    """The range-partition + offset global ranking (d106's primitive) must
    equal a plain sorted-order index for ANY tie distribution — including
    the adversarial all-equal case, where determinism comes entirely from
    the unique tie-break column."""
    from pyspark_ml_features_spark.operators.relational import (
        distributed_row_number,
    )

    df = spark.createDataFrame(
        [(int(v), i) for i, v in enumerate(vals)], schema="v int, k int")
    got = {(r["v"], r["k"]): r["grk"]
           for r in distributed_row_number(df, ["v", "k"], 8).collect()}
    want = {(v, k): i + 1
            for i, (v, k) in enumerate(sorted((v, k)
                                              for k, v in enumerate(vals)))}
    assert got == want


@SLOW
@given(st.lists(st.tuples(st.integers(min_value=0, max_value=3),
                          st.integers(min_value=0, max_value=50)),
                min_size=1, max_size=60))
def test_distributed_prefix_sum_matches_window(spark, rows):
    """The measure-carrying scan (e70's primitive) must equal the
    single-partition running sum for ANY tie/weight distribution —
    ranks from the order, cumulative from the weights, offsets from the
    per-partition metadata pass."""
    from pyspark_ml_features_spark.operators.relational import (
        distributed_prefix_sum,
    )

    df = spark.createDataFrame(
        [(int(v), i, int(w)) for i, (v, w) in enumerate(rows)],
        schema="v int, k int, w int")
    got = {(r["v"], r["k"]): (r["grk"], r["gcum"])
           for r in distributed_prefix_sum(df, ["v", "k"], "w", 8).collect()}
    acc = 0
    want = {}
    ordered = sorted((v, k, w) for k, (v, w) in enumerate(rows))
    for i, (v, k, w) in enumerate(ordered):
        acc += w
        want[(v, k)] = (i + 1, acc)
    assert got == want


def _reference_defilter(raw: bytes, width: int, height: int) -> "np.ndarray":
    """Per-pixel RFC 2083 reconstruction — the spec as literally as
    possible, kept as the independent model for the vectorized decoder."""
    stride = width + 1
    out = np.zeros((height, width), dtype="uint8")
    for y in range(height):
        ftype = raw[y * stride]
        line = bytearray(raw[y * stride + 1:(y + 1) * stride])
        prev = out[y - 1] if y > 0 else np.zeros(width, dtype="uint8")
        for x in range(width):
            a = line[x - 1] if x > 0 else 0
            b = int(prev[x])
            c = int(prev[x - 1]) if x > 0 else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = a
            elif ftype == 2:
                pred = b
            elif ftype == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            line[x] = (line[x] + pred) & 0xFF
        out[y] = np.frombuffer(bytes(line), dtype="uint8")
    return out


@settings(max_examples=40, deadline=None)
@given(st.data())
def test_png_codec_roundtrip_random_content(data):
    """Encode→decode must be the identity for ARBITRARY pixel content and
    per-row filter schedule (the graded fixtures use the arithmetic
    formula; random content exercises wrap boundaries the formula's
    structure can miss), and the vectorized decoder must agree with a
    literal per-pixel RFC 2083 model on the filtered byte stream."""
    import struct
    import zlib

    from pyspark_ml_features_spark.operators.multimodal import (
        decode_png, encode_png_grey)

    w = data.draw(st.integers(min_value=1, max_value=40))
    h = data.draw(st.integers(min_value=1, max_value=24))
    pixels = np.array(
        data.draw(st.lists(st.integers(0, 255), min_size=w * h,
                           max_size=w * h)),
        dtype="int64").reshape(h, w)
    offset = data.draw(st.integers(0, 4))
    payload = encode_png_grey(pixels, offset)
    decoded = decode_png(payload)
    assert (decoded == pixels.astype("uint8")).all()
    # cross-check the vectorized defilter against the literal model on
    # the actual filtered stream inside the payload
    pos = 8
    idat = bytearray()
    while pos + 12 <= len(payload):
        length, = struct.unpack_from(">I", payload, pos)
        if payload[pos + 4:pos + 8] == b"IDAT":
            idat += payload[pos + 8:pos + 8 + length]
        pos += 12 + length
    raw = zlib.decompress(bytes(idat))
    assert (decoded == _reference_defilter(raw, w, h)).all()
