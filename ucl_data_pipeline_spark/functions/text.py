"""Text-analysis column expressions for training-data pipelines:
tokenization, shingling, quality ratios, language-ID heuristics,
fingerprints and MinHash signatures.

All pure Catalyst expressions (higher-order array functions) — no
Python UDFs. Each has an exact DuckDB-SQL mirror (see plans.llm_ops) so
the oracle harness checks values bit-for-bit. Hashes use md5 (identical
hex output in every engine) rather than engine-private hash functions.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

ColumnOrName = Column | str


def _col(c: ColumnOrName) -> Column:
    return F.col(c) if isinstance(c, str) else c


def tokens(text: ColumnOrName) -> Column:
    """Whitespace tokenization of lower-cased, trimmed text."""
    return F.split(F.lower(F.trim(_col(text))), r"\s+")


def distinct_tokens(text: ColumnOrName) -> Column:
    return F.array_distinct(tokens(text))


def _let(expr: Column, body) -> Column:
    """Evaluate ``expr`` ONCE per row and bind it as a lambda variable
    for ``body`` — a let-binding spelled as ``transform(array(e),
    v -> body(v))[0]``.

    Why this exists: Catalyst has no common-subexpression elimination
    across references *inside higher-order-function lambdas*. An
    expression like ``shingles(tokens(text))`` that mentions its input
    five times — twice in ``size`` and three times per element inside
    the transform lambda — re-evaluates the regex ``split`` once per
    OUTPUT ELEMENT, turning an O(len) tokenize into O(len × shingles):
    measured 10.0 s → 0.3 s (≈30×) for the corpus shingle scan at
    sf0.1 on local[32]. Binding the input as a lambda variable makes
    every inner reference an O(1) variable read. The wrapper array is
    one pointer per row — noise.
    """
    return F.transform(F.array(expr), body)[0]


def shingles(toks: ColumnOrName, k: int = 3) -> Column:
    """k-gram shingles (space-joined runs of k consecutive tokens).

    Shorter-than-k docs yield an empty array (guard needed: Spark's
    ``sequence(0, n)`` with n<0 counts DOWN, producing garbage
    indices). The token array is let-bound via :func:`_let` so callers
    can pass a raw ``tokens(text)`` expression without the per-element
    re-evaluation trap described there.
    """

    def body(t: Column) -> Column:
        idx = F.sequence(F.lit(0), F.size(t) - k)
        gram = lambda i: F.concat_ws(  # noqa: E731
            " ", *[F.element_at(t, i + j + 1) for j in range(k)]
        )
        return F.when(F.size(t) >= k, F.transform(idx, gram)).otherwise(
            F.array().cast("array<string>")
        )

    return _let(_col(toks), body)


def token_count(text: ColumnOrName) -> Column:
    return F.size(tokens(text))


def avg_token_len(text: ColumnOrName) -> Column:
    """Mean token length (characters). Integer sums divided in double."""
    t = tokens(text)
    total = F.aggregate(t, F.lit(0), lambda acc, x: acc + F.length(x))
    return total.cast("double") / F.size(t).cast("double")


def type_token_ratio(text: ColumnOrName) -> Column:
    """Unique-token / token ratio — a lexical-diversity quality signal."""
    t = tokens(text)
    return F.size(F.array_distinct(t)).cast("double") / F.size(t).cast("double")


def stopword_hits(toks: Column, stopwords: list[str]) -> Column:
    """Count of tokens appearing in the stopword list."""
    sw = F.array(*[F.lit(s) for s in stopwords])
    return F.size(F.filter(toks, lambda x: F.array_contains(sw, x)))


def punct_count(text: ColumnOrName) -> Column:
    """Punctuation character count (quality signal)."""
    return F.regexp_count(_col(text), F.lit(r"[^\w\s]"))


def normalized_text(text: ColumnOrName) -> Column:
    """Whitespace-collapsed, lower-cased, trimmed text (dedup canon)."""
    return F.regexp_replace(F.lower(F.trim(_col(text))), r"\s+", " ")


def fingerprint(text: ColumnOrName) -> Column:
    """Order-insensitive content fingerprint: md5 of the sorted distinct
    token set. Detects shuffled/reordered near-copies that a raw-text
    hash misses.
    """
    canon = F.array_join(F.array_sort(distinct_tokens(text)), " ")
    return F.md5(canon)


def minhash(toks: Column, seed: int) -> Column:
    """One MinHash value: lexicographic min of md5("{seed}:{token}")
    over the distinct token set. md5 is uniform enough per seed and —
    unlike xxhash64/murmur — has identical output in every engine, so
    the oracle can mirror it.
    """
    return F.array_min(
        F.transform(toks, lambda t: F.md5(F.concat(F.lit(f"{seed}:"), t)))
    )
