"""Text-analysis column helpers: tokenization, stopwords, language markers,
t2's quality score, rolling-hash fingerprints and the LCG split coin. All
pure SQL expressions (no Python UDFs) so they stay inside whole-stage
codegen, each with its exact DuckDB twin (``duckdb_*``) for the oracles.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

# Fixed marker/stopword sets — part of the operator contract (deterministic).
STOPWORDS = ("the", "a", "of", "and", "is")
LANG_MARKERS = {
    "de": ("der", "die", "das", "und", "ist"),
    "en": ("the", "a", "is", "and", "of"),
    "es": ("el", "la", "los", "que", "es"),
    "fr": ("le", "la", "les", "et", "est"),
    "zh": ("de", "shi", "le", "he", "zai"),
}
HASH_MOD = 2147483647  # 2^31 - 1; rolling-hash modulus
HASH_BASE = 31
_STOP_SQL = "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"


def tokens(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, " ")


def quality_signals(toks: Column) -> dict[str, Column]:
    """t2's per-document signals over a token-array column, as doubles:
    ``n_tokens``, ``distinct_ratio``, ``stopword_ratio``, ``avg_word_len``
    and ``quality_score`` = 0.3·distinct + 0.3·(1 − stop) +
    0.4·least(avg_len / 10, 1). The operand and evaluation order is fixed,
    so every engine computes the identical double (no libm anywhere)."""
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_tokens = F.size(toks).cast("double")
    n_distinct = F.size(F.array_distinct(toks)).cast("double")
    n_stop = F.size(
        F.filter(toks, lambda t: F.array_contains(stop_arr, t))).cast("double")
    total_chars = F.aggregate(
        toks, F.lit(0).cast("bigint"), lambda acc, t: acc + F.length(t)
    ).cast("double")
    distinct_ratio = n_distinct / n_tokens
    stop_ratio = n_stop / n_tokens
    avg_word_len = total_chars / n_tokens
    return {
        "n_tokens": n_tokens,
        "distinct_ratio": distinct_ratio,
        "stopword_ratio": stop_ratio,
        "avg_word_len": avg_word_len,
        "quality_score": (F.lit(0.3) * distinct_ratio
                          + F.lit(0.3) * (F.lit(1.0) - stop_ratio)
                          + F.lit(0.4) * F.least(avg_word_len / 10.0,
                                                 F.lit(1.0))),
    }


def quality_score(toks: Column) -> Column:
    """t2's document quality score (see :func:`quality_signals`)."""
    return quality_signals(toks)["quality_score"]


def duckdb_quality_score(text_expr: str) -> str:
    """DuckDB twin of :func:`quality_score` over a text expression (the
    tokens are ``str_split(text, ' ')``, as :func:`tokens`)."""
    toks = f"str_split({text_expr}, ' ')"
    return (
        f"0.3 * (len(list_distinct({toks}))::DOUBLE / len({toks}))"
        f" + 0.3 * (1.0 - len(list_filter({toks},"
        f" t -> list_contains({_STOP_SQL}, t)))::DOUBLE / len({toks}))"
        f" + 0.4 * least(list_sum(list_transform({toks},"
        f" t -> length(t)))::DOUBLE / len({toks}) / 10.0, 1.0)")


def word_ngrams(tok_col: Column | str, n: int) -> Column:
    """Guarded word-n-gram strings over a MATERIALIZED token-array COLUMN:
    ``concat_ws(' ', slice(toks, i, n))`` per position, empty array when
    the doc has fewer than n tokens (Spark's ``sequence(1, 0)`` is
    DESCENDING — the t7 guard).

    ``tok_col`` must be a real column (``F.col("toks")``), never the
    ``split(text)`` EXPRESSION: a transform() lambda re-evaluates any
    enclosing expression its body references on EVERY element reference,
    which turned per-doc gram extraction O(tokens²) — re-splitting the
    document once per element_at — and cost e80 10× (5.6 → 0.5 s at
    sf0.1, round-7 finding). One slice per gram also replaces n separate
    element_at calls."""
    tk = F.col(tok_col) if isinstance(tok_col, str) else tok_col
    return F.when(
        F.size(tk) >= n,
        F.transform(F.sequence(F.lit(1), F.size(tk) - (n - 1)),
                    lambda i: F.concat_ws(" ", F.slice(tk, i, n))),
    ).otherwise(F.array().cast("array<string>"))


def rolling_hash(text: Column | str, base: int = HASH_BASE) -> Column:
    """Deterministic polynomial rolling hash of a string:
    ``h = fold(chars, 0, (acc, c) -> (acc*base + ascii(c)) % (2^31-1))``.
    Document fingerprinting primitive — integer arithmetic, exact on any
    engine. acc stays < 2^31 so acc*base+c < 2^37 for base ≤ 43, no 64-bit
    overflow. Independent bases give (near-)independent hash families —
    the 64-bit simhash concatenates four of them."""
    c = F.col(text) if isinstance(text, str) else text
    # split('') yields one array element per character — O(n), unlike a
    # substr(i,1) fold which re-seeks the UTF8 string per index (O(n²))
    chars = F.transform(F.split(c, ""), lambda ch: F.ascii(ch).cast("bigint"))
    return F.aggregate(
        chars, F.lit(0).cast("bigint"),
        lambda acc, ch: F.pmod(acc * base + ch, F.lit(HASH_MOD)))


def duckdb_rolling_hash(text_expr: str, base: int = HASH_BASE) -> str:
    """DuckDB twin of :func:`rolling_hash` (same fold, same modulus)."""
    return (
        f"list_reduce(list_prepend(0::BIGINT, "
        f"list_transform(range(1, length({text_expr}) + 1), "
        f"i -> ascii(substr({text_expr}, i, 1))::BIGINT)), "
        f"(acc, c) -> (acc * {base} + c) % {HASH_MOD})"
    )


def lcg(key: Column | str) -> Column:
    """One unreduced LCG step over a BIGINT key, the engine-portable split
    and sample coin: the key is masked to 31 bits BEFORE the multiply, so
    the product stays below 2^62 at any key (unmasked, it wraps int64 in
    non-ANSI Spark and raises in DuckDB). Callers apply their own modulus
    and comparison."""
    c = F.col(key) if isinstance(key, str) else key
    return (c % F.lit(2147483648)) * F.lit(1103515245) + F.lit(12345)


def duckdb_lcg(key_expr: str) -> str:
    """DuckDB twin of :func:`lcg` (``%`` truncates toward zero in both)."""
    return f"(({key_expr} % 2147483648) * 1103515245 + 12345)"
