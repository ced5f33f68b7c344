"""Text-analysis column helpers — all built-in pyspark.sql.functions.

Chosen so every expression has an exact ANSI/DuckDB equivalent (the
oracle gate compares value hashes):
  - tokens:      split on ``\\s+`` after trim
  - normalize:   lower + collapse whitespace + trim
  - fingerprint: md5 hex of the normalized text (md5 is identical
                 across engines, unlike xxhash64/F.hash)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

WS = r"\s+"


def normalize_text(c: Column) -> Column:
    return F.trim(F.regexp_replace(F.lower(c), WS, " "))


def tokens(c: Column) -> Column:
    return F.split(F.trim(c), WS)


def token_count(c: Column) -> Column:
    return F.size(tokens(c))


def fingerprint_md5(c: Column) -> Column:
    """Deterministic engine-portable document fingerprint."""
    return F.md5(F.encode(normalize_text(c), "UTF-8"))


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Array of n-word shingles from a token-array column.

    PERFORMANCE CONTRACT: ``toks`` must be a *materialized column
    reference* (select the token array in a prior projection), not an
    inline split/regexp expression. Expressions referenced inside a
    higher-order-function lambda are re-evaluated per array element —
    an inline tokenizer here would re-tokenize the document once per
    shingle position (O(len^2)). With an attribute reference the
    per-element work is just try_element_at (O(1) array indexing).
    """
    k = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))
    return F.transform(
        F.sequence(F.lit(0), k - F.lit(1)),
        lambda i: F.concat_ws(
            " ", *[F.try_element_at(toks, i + j + 1) for j in range(n)]
        ),
    )

