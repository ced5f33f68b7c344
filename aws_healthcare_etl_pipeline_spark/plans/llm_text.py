"""Text-analysis queries over the documents fixture (SURVEY.md §2.8):
token counting, quality scoring, language-ID, fingerprinting — all
oracle-checked (every expression has an exact DuckDB equivalent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import fingerprint_md5, token_count
from ..operators.dedup import exact_duplicate_clusters
from ..operators.text import LANG_MARKERS, language_id, quality_scores
from ..sources.tables import load_table
from .registry import query

# DuckDB equivalents of functions/text.py helpers. regexp_replace needs
# the 'g' flag in DuckDB (Spark replaces all matches by default).
SQL_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
SQL_TOKENS = "len(regexp_split_to_array(trim(text), '\\s+'))"


@query(
    "text_token_stats_by_lang",
    oracle=f"""
        SELECT lang,
               COUNT(*) AS n_docs,
               CAST(SUM({SQL_TOKENS}) AS BIGINT) AS total_tokens,
               MIN({SQL_TOKENS}) AS min_tokens,
               MAX({SQL_TOKENS}) AS max_tokens,
               CAST(SUM({SQL_TOKENS}) AS DOUBLE) / COUNT(*) AS avg_tokens,
               MIN(n_chars) AS min_chars,
               MAX(n_chars) AS max_chars
        FROM documents
        GROUP BY lang
        ORDER BY lang
    """,
    description="Whitespace token counting + corpus stats per language.",
)
def text_token_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    nt = token_count(F.col("text")).cast("bigint")
    return (
        docs.withColumn("n_tokens", nt)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
            (F.sum("n_tokens").cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("lang")
    )


_EN = LANG_MARKERS["en"]
_SQL_STOP = r"\b(" + "|".join(_EN) + r")\b"


@query(
    "text_quality_scores",
    oracle=f"""
        WITH base AS (
            SELECT doc_id,
                   CAST({SQL_TOKENS} AS DOUBLE) AS n_tokens,
                   CAST(length({SQL_NORM}) AS DOUBLE) AS n_chars_norm,
                   CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE) AS punct,
                   CAST(len(regexp_extract_all({SQL_NORM}, '{_SQL_STOP}')) AS DOUBLE)
                       AS stop
            FROM documents
        )
        SELECT doc_id, n_tokens, n_chars_norm,
               round(punct / greatest(n_chars_norm, 1.0), 6) AS punct_ratio,
               round(stop / greatest(n_tokens, 1.0), 6) AS stopword_ratio,
               round((n_chars_norm - (n_tokens - 1)) / n_tokens, 6) AS avg_token_len,
               round(
                   least(n_tokens / 64.0, 1.0) * 0.4
                   + least(stop / greatest(n_tokens, 1.0) * 4.0, 1.0) * 0.3
                   + (1.0 - least(punct / greatest(n_chars_norm, 1.0) * 10.0, 1.0)) * 0.3,
               6) AS quality_score
        FROM base
        ORDER BY doc_id
    """,
    description="Quality scoring: length/punctuation/stopword signals per doc.",
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        quality_scores(docs)
        .select(
            "doc_id",
            "n_tokens",
            "n_chars_norm",
            "punct_ratio",
            "stopword_ratio",
            "avg_token_len",
            "quality_score",
        )
        .orderBy("doc_id")
    )


_SQL_LANGID_HITS = {
    lang: f"len(regexp_extract_all({SQL_NORM}, '\\b(" + "|".join(m) + r")\b'))"
    for lang, m in LANG_MARKERS.items()
}
_SQL_BEST = "greatest(" + ", ".join(f"h_{lang}" for lang in LANG_MARKERS) + ")"
# CASE evaluated in sorted lang order -> earlier code wins ties (matches
# operators/text.py reverse-otherwise chain)
_SQL_PRED = (
    "CASE WHEN " + _SQL_BEST + " = 0 THEN 'und' "
    + " ".join(
        f"WHEN h_{lang} = {_SQL_BEST} THEN '{lang}'" for lang in sorted(LANG_MARKERS)
    )
    + " ELSE 'und' END"
)


@query(
    "text_language_id_confusion",
    oracle=f"""
        WITH scored AS (
            SELECT lang,
                   {", ".join(f"{expr} AS h_{lang}" for lang, expr in _SQL_LANGID_HITS.items())}
            FROM documents
        )
        SELECT lang, {_SQL_PRED} AS predicted_lang, COUNT(*) AS n
        FROM scored
        GROUP BY lang, predicted_lang
        ORDER BY lang, predicted_lang
    """,
    description="Heuristic n-gram/marker language ID -> confusion matrix vs "
    "the labeled lang column.",
)
def text_language_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        language_id(docs)
        .groupBy("lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "predicted_lang")
    )


@query(
    "text_fingerprint_clusters",
    oracle=f"""
        SELECT md5({SQL_NORM}) AS fingerprint,
               MIN(doc_id) AS keeper_id,
               COUNT(*) AS n_copies
        FROM documents
        GROUP BY 1
        ORDER BY fingerprint
    """,
    description="Document fingerprinting (md5 of normalized text) -> "
    "exact-dedup clusters.",
)
def text_fingerprint_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return exact_duplicate_clusters(docs, "text", "doc_id").orderBy("fingerprint")


@query(
    "dedup_exact_counts_by_lang",
    oracle=f"""
        SELECT lang,
               COUNT(*) AS n_docs,
               COUNT(DISTINCT md5({SQL_NORM})) AS n_distinct_texts
        FROM documents
        GROUP BY lang
        ORDER BY lang
    """,
    description="Exact-dedup summary: distinct normalized texts per language.",
)
def dedup_exact_counts_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct(fingerprint_md5(F.col("text"))).alias("n_distinct_texts"),
        )
        .orderBy("lang")
    )


@query(
    "text_bpe_token_estimate",
    oracle=f"""
        SELECT lang,
               CAST(SUM(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')))
                    AS BIGINT) AS est_subword_tokens,
               CAST(SUM({SQL_TOKENS}) AS BIGINT) AS ws_tokens,
               CAST(SUM(len(regexp_extract_all(text, '\\w+|[^\\w\\s]'))) AS DOUBLE)
                   / SUM({SQL_TOKENS}) AS expansion_ratio
        FROM documents
        GROUP BY lang
        ORDER BY lang
    """,
    description="BPE-ish token estimation: word+punctuation regex segments "
    "as a subword-count proxy, vs whitespace tokens.",
)
def text_bpe_token_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bpe = F.regexp_count("text", F.lit(r"\w+|[^\w\s]")).cast("bigint")
    ws = token_count(F.col("text")).cast("bigint")
    return (
        docs.select("lang", bpe.alias("bpe"), ws.alias("ws"))
        .groupBy("lang")
        .agg(
            F.sum("bpe").alias("est_subword_tokens"),
            F.sum("ws").alias("ws_tokens"),
            (F.sum("bpe").cast("double") / F.sum("ws")).alias("expansion_ratio"),
        )
        .orderBy("lang")
    )


@query(
    "text_winnowing_fingerprints",
    oracle=f"""
        WITH n AS (
            SELECT doc_id, {SQL_NORM} AS ntext FROM documents
        ), g AS (
            SELECT doc_id,
                   list_transform(
                     range(1, greatest(length(ntext) - 7, 1) + 1),
                     i -> list_reduce(
                            list_transform(
                              string_split_regex(
                                substr(md5(substr(ntext, i::INT, 8)), 1, 15), ''),
                              c -> strpos('0123456789abcdef', c) - 1)::BIGINT[],
                            (a, b) -> a * 16 + b)
                   ) AS hs
            FROM n
        ), w AS (
            SELECT doc_id,
                   list_transform(
                     range(1, greatest(len(hs) - 3, 1) + 1),
                     i -> list_min(list_slice(hs, i::INT, i::INT + 3))
                   ) AS mins
            FROM g
        )
        SELECT doc_id,
               CAST(len(list_distinct(mins)) AS BIGINT) AS n_fingerprints
        FROM w
        ORDER BY doc_id
    """,
    description="Rolling-hash winnowing fingerprints (MOSS scheme): per-doc "
    "distinct window-min 8-gram hashes (window 4). Portable md5-derived "
    "60-bit gram hashes, so the oracle recomputes the full winnowing "
    "selection in SQL; the production default stays xxhash64.",
)
def text_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import winnowing_fingerprints

    docs = load_table(spark, sf_dir, "documents")
    fps = winnowing_fingerprints(docs, "text", "doc_id")
    return (
        fps.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_fingerprints"))
        .orderBy("doc_id")
    )


@query(
    "sampling_hash_split",
    oracle=f"""
        SELECT lang,
               CASE WHEN substr(md5({SQL_NORM}), 1, 1) <= 'b' THEN 'train'
                    WHEN substr(md5({SQL_NORM}), 1, 1) <= 'd' THEN 'val'
                    ELSE 'test' END AS split,
               COUNT(*) AS n_docs,
               CAST(SUM({SQL_TOKENS}) AS BIGINT) AS n_tokens
        FROM documents
        GROUP BY 1, 2
        ORDER BY lang, split
    """,
    description="Deterministic content-hash train/val/test split (75/12.5/"
    "12.5 by md5 first hex digit) — reproducible across engines, runs, and "
    "partitionings; the standard leakage-safe split for training corpora.",
)
def sampling_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    first_hex = F.substring(fingerprint_md5(F.col("text")), 1, 1)
    split = (
        F.when(first_hex <= "b", "train")
        .when(first_hex <= "d", "val")
        .otherwise("test")
    )
    return (
        docs.select(
            "lang",
            split.alias("split"),
            token_count(F.col("text")).cast("bigint").alias("n_tokens"),
        )
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("n_tokens"))
        .orderBy("lang", "split")
    )


@query(
    "text_tfidf_top_terms",
    oracle="""
        WITH tok AS (
            SELECT doc_id, lang,
                   unnest(regexp_split_to_array(trim(lower(text)), '\\s+'))
                       AS term
            FROM documents
        ), tf AS (
            SELECT lang, term, COUNT(*) AS tf FROM tok GROUP BY lang, term
        ), docfreq AS (
            SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term
        ), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
        SELECT lang, term, tf, df,
               CAST(tf * n_docs AS DOUBLE) / CAST(df AS DOUBLE) AS score, rn
        FROM (
            SELECT lang, term, tf, df, n_docs,
                   ROW_NUMBER() OVER (
                       PARTITION BY lang
                       ORDER BY CAST(tf * n_docs AS DOUBLE)
                                / CAST(df AS DOUBLE) DESC, term
                   ) AS rn
            FROM tf JOIN docfreq USING (term), n
        ) t
        WHERE rn <= 5
        ORDER BY lang, rn
    """,
    description="TF-IDF distinctive terms per language: term frequency "
    "within the language weighted by inverse document frequency across "
    "the whole corpus, top-5 per language. idf is the RATIONAL "
    "surrogate N/df — exact integer product then ONE double division, "
    "so the score is bit-identical across engines (ln/log idf is a "
    "one-line swap but transcendentals are excluded from oracle "
    "arithmetic by convention). Shape at scale: one tokenize+explode "
    "feeding two aggregations, a vocabulary-keyed shuffle join "
    "(tf x df), and WindowGroupLimit for the per-group top-k.",
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import normalize_text, tokens
    from ..operators.topk import top_k_per_group

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        "lang",
        F.explode(tokens(normalize_text(F.col("text")))).alias("term"),
    )
    tf = tok.groupBy("lang", "term").agg(F.count(F.lit(1)).alias("tf"))
    docfreq = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    scored = (
        tf.join(docfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            (F.col("tf") * F.col("n_docs")).cast("double")
            / F.col("df").cast("double"),
        )
    )
    return (
        top_k_per_group(
            scored, ["lang"], [F.col("score").desc(), F.col("term").asc()], k=5
        )
        .select("lang", "term", "tf", "df", "score", "rn")
        .orderBy("lang", "rn")
    )
