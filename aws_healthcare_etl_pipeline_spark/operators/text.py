"""Text-analysis operators over a documents table (SURVEY.md §2.8).

Every expression is a built-in function with an exact DuckDB-SQL
equivalent, so these operators sit behind hash-checked oracle queries.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import normalize_text, token_count

# Tiny per-language marker lexicons for the heuristic language ID.
# (The fixture corpus shares one vocabulary across langs, so accuracy
# is not the point — the operator shape and determinism are.)
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "is", "with"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "les", "et", "est"),
    "es": ("el", "los", "las", "y", "es"),
}


def _marker_hits(text_norm: Column, markers: tuple[str, ...]) -> Column:
    """Count of marker-word occurrences (word-boundary regexp)."""
    pattern = r"\b(" + "|".join(markers) + r")\b"
    return F.regexp_count(text_norm, F.lit(pattern))


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language ID: argmax of marker-lexicon hit counts,
    'und' (undetermined) when nothing matches. Deterministic tiebreak
    by language code order."""
    norm = normalize_text(F.col(text_col))
    scores = {lang: _marker_hits(norm, m) for lang, m in LANG_MARKERS.items()}
    best = F.greatest(*scores.values())
    pred = F.lit("und")
    # build reverse CASE chain so earlier lang codes win ties
    for lang in sorted(scores, reverse=True):
        pred = F.when(scores[lang] == best, F.lit(lang)).otherwise(pred)
    pred = F.when(best > 0, pred).otherwise(F.lit("und"))
    return df.withColumn("predicted_lang", pred)


def quality_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword / word-length quality signals.

    Adds: n_tokens, n_chars_norm, punct_ratio, stopword_ratio,
    avg_token_len, quality_score (simple bounded combination).
    """
    c = F.col(text_col)
    norm = normalize_text(c)
    n_tokens = token_count(c).cast("double")
    n_chars = F.length(norm).cast("double")
    punct = F.regexp_count(c, F.lit(r"[^\w\s]")).cast("double")
    stop = _marker_hits(norm, LANG_MARKERS["en"]).cast("double")
    avg_tok = (n_chars - (n_tokens - 1)) / n_tokens  # chars net of single spaces
    punct_ratio = punct / F.greatest(n_chars, F.lit(1.0))
    stop_ratio = stop / F.greatest(n_tokens, F.lit(1.0))
    score = (
        F.least(n_tokens / F.lit(64.0), F.lit(1.0)) * 0.4
        + F.least(stop_ratio * 4.0, F.lit(1.0)) * 0.3
        + (F.lit(1.0) - F.least(punct_ratio * 10.0, F.lit(1.0))) * 0.3
    )
    return df.select(
        "*",
        n_tokens.alias("n_tokens"),
        n_chars.alias("n_chars_norm"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(avg_tok, 6).alias("avg_token_len"),
        F.round(score, 6).alias("quality_score"),
    )


def winnowing_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (rolling-hash selection, the
    MOSS scheme): hash every k-char gram of the normalized text, slide
    a window of ``window`` hashes, keep each window's minimum —
    guaranteeing any match of length >= k+window-1 shares a
    fingerprint. Output: (id, fingerprint) distinct pairs.

    All Catalyst expressions: char-gram hashes via substring over a
    materialized text attribute (O(len*k) — k is small), window minima
    via transform over a position sequence indexing a materialized hash
    array (O(len*window)).

    The gram hash is an md5-derived 60-bit value that external SQL
    engines can recompute — the winnowing guarantee is hash-agnostic.
    """
    norm = df.select(
        F.col(id_col).alias("doc_id"), normalize_text(F.col(text_col)).alias("ntext")
    )
    # gram hashes as a materialized array column (attribute reference,
    # not recomputed inside downstream lambdas)
    with_hashes = norm.select(
        "doc_id",
        F.transform(
            F.sequence(
                F.lit(1), F.greatest(F.length("ntext") - F.lit(k - 1), F.lit(1))
            ),
            lambda i: F.conv(
                F.substring(F.md5(F.col("ntext").substr(i, F.lit(k))), 1, 15), 16, 10
            ).cast("long"),
        ).alias("gram_hashes"),
    )
    mins = with_hashes.select(
        "doc_id",
        F.transform(
            F.sequence(
                F.lit(1),
                F.greatest(F.size("gram_hashes") - F.lit(window - 1), F.lit(1)),
            ),
            lambda i: F.array_min(F.slice(F.col("gram_hashes"), i, window)),
        ).alias("window_mins"),
    )
    return (
        mins.select("doc_id", F.explode("window_mins").alias("fingerprint"))
        .distinct()
    )
