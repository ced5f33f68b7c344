"""Wave-54 (round 5): positional phrase search and differentially-
private count release — a search-engine primitive and a privacy
primitive, both in exact integer domains.

* ``search_phrase_positions`` — multi-word phrase match via the
  positional-inverted-index decomposition: tokens join the (tiny,
  broadcast) phrase-word list and a phrase occurrence is a group
  (doc, start = pos - word_idx) whose matched-word count equals the
  phrase length. No LIKE scan, no text re-parse per phrase.
* ``privacy_dp_geometric_counts`` — two-sided-geometric (discrete
  Laplace, alpha = 1/2) noise added to group counts. The noise draw is
  an md5 hash of the group key + release tag mapped through exact
  integer CDF thresholds (computed once with Fractions, baked into the
  expression), so the release is deterministic, replayable, and
  bit-identical in any engine — no float log/exp sampling.

Portability per plans/registry.py: md5 is the only hash; all
arithmetic int64.
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import hex4, query, sql_hex4

# ------------------------------------------------ phrase search

_PHRASES = (
    "hash join",
    "table scan",
    "sort merge join",
    "order fast",
    "stream batch window",
)


def _phrase_values_sql() -> str:
    rows = []
    for ph in _PHRASES:
        for i, w in enumerate(ph.split()):
            rows.append(f"('{ph}', {i}, '{w}')")
    return "VALUES " + ", ".join(rows)


@query(
    "search_phrase_positions",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id,
                   unnest(string_split(lower(text), ' ')) AS w,
                   generate_subscripts(string_split(lower(text), ' '), 1) AS pos
            FROM documents
        ),
        pw(phrase, idx, w) AS ({_phrase_values_sql()}),
        plen AS (SELECT phrase, COUNT(*) AS len FROM pw GROUP BY phrase),
        hits AS (
            SELECT pw.phrase, t.doc_id, t.pos - pw.idx AS start
            FROM toks t JOIN pw ON t.w = pw.w
            GROUP BY pw.phrase, t.doc_id, t.pos - pw.idx
            HAVING COUNT(*) = (SELECT len FROM plen WHERE plen.phrase = pw.phrase)
        )
        SELECT phrase,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(COUNT(*) AS BIGINT) AS n_occurrences
        FROM hits GROUP BY phrase ORDER BY phrase
    """,
    description="Positional phrase search over the documents corpus: "
    "each multi-word phrase is matched as a group of aligned postings "
    "— token (doc, pos) rows join the broadcast phrase-word list, and "
    "an occurrence is a (phrase, doc, pos - word_idx) group whose "
    "matched-word count equals the phrase length (exact for phrases "
    "with repeated words too: pos = start + idx pins each posting). "
    "This is how a search engine does phrases — posting-list "
    "intersection, never an O(corpus x phrases) LIKE rescan. At 100 TB "
    "the token index partitions by word, selective words prune the "
    "join input map-side, the phrase list is broadcast, and the "
    "alignment group-by shuffles only matched postings (corpus scan "
    "happens once for ALL phrases).",
)
def search_phrase_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.col("text")), " ")).alias("pos", "w"),
    )
    pw_rows = [
        (ph, i, w) for ph in _PHRASES for i, w in enumerate(ph.split())
    ]
    pw = spark.createDataFrame(pw_rows, "phrase string, idx int, w string")
    plen = {ph: len(ph.split()) for ph in _PHRASES}
    len_expr = F.when(F.lit(False), F.lit(0))
    for ph, ln in plen.items():
        len_expr = len_expr.when(F.col("phrase") == ph, F.lit(ln))
    hits = (
        toks.join(F.broadcast(pw), "w")
        .groupBy("phrase", "doc_id", (F.col("pos") - F.col("idx")).alias("start"))
        .agg(F.count(F.lit(1)).alias("matched"))
        .filter(F.col("matched") == len_expr)
    )
    return (
        hits.groupBy("phrase")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .orderBy("phrase")
    )


# ------------------------------------------------ DP geometric counts

_DP_CLAMP = 8  # noise support clamped to [-8, 8]; tail mass folded in
_DP_ALPHA = Fraction(1, 2)  # discrete-Laplace decay; epsilon = ln 2


def _dp_thresholds() -> list[int]:
    """Exact integer CDF thresholds over the 16-bit hash space for the
    clamped two-sided geometric: P(k) = (1-a)/(1+a) * a^|k|."""
    norm = (1 - _DP_ALPHA) / (1 + _DP_ALPHA)
    cdf = Fraction(0)
    out = []
    for k in range(-_DP_CLAMP, _DP_CLAMP + 1):
        p = norm * _DP_ALPHA ** abs(k)
        if abs(k) == _DP_CLAMP:  # fold the clamped tail mass in
            p += norm * _DP_ALPHA**_DP_CLAMP  # sum_{j>C} = norm*a^C
        cdf += p
        out.append(min(65536, int(cdf * 65536)))
    out[-1] = 65536  # exhaustive
    return out


_DP_T = _dp_thresholds()


def _dp_case(h_expr: str) -> str:
    """CASE mapping a uniform 16-bit hash value to a noise draw —
    identical constant thresholds in Spark and DuckDB."""
    arms = " ".join(
        f"WHEN {h_expr} < {t} THEN {k}"
        for k, t in zip(range(-_DP_CLAMP, _DP_CLAMP + 1), _DP_T)
    )
    return f"CASE {arms} ELSE {_DP_CLAMP} END"


_DP_KEY_SQL = "'dp-r1:' || CAST(n_nationkey AS VARCHAR) || ':' || c_mktsegment"


@query(
    "privacy_dp_geometric_counts",
    oracle=f"""
        WITH counts AS (
            SELECT n.n_name, n.n_nationkey, c.c_mktsegment,
                   COUNT(*) AS true_count
            FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
            GROUP BY n.n_name, n.n_nationkey, c.c_mktsegment
        ), noised AS (
            SELECT n_name, c_mktsegment, true_count,
                   ({_dp_case(sql_hex4(_DP_KEY_SQL))}) AS noise
            FROM counts
        )
        SELECT n_name, c_mktsegment,
               CAST(true_count AS BIGINT) AS true_count,
               CAST(noise AS BIGINT) AS noise,
               CAST(greatest(true_count + noise, 0) AS BIGINT) AS dp_count
        FROM noised ORDER BY n_name, c_mktsegment
    """,
    description="Differentially-private count release (discrete "
    "Laplace / two-sided geometric, alpha=1/2, support clamped to "
    "+-8): per (nation, segment) customer counts plus a noise draw "
    "derived from md5(release_tag : group_key) mapped through EXACT "
    "integer CDF thresholds precomputed with rational arithmetic — no "
    "float log/exp sampling, so the release is deterministic, "
    "replayable (idempotent re-export under the same tag), and "
    "bit-identical across engines. true_count is emitted here only "
    "because this is the mechanism's correctness harness. At 100 TB "
    "the noise is a map-side expression on the group-cardinality "
    "aggregate output (one shuffle for the count, zero for the "
    "mechanism), the exact shape of a private stats export job.",
)
def privacy_dp_geometric_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    counts = (
        cust.join(
            F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"]
        )
        .groupBy("n_name", "n_nationkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("true_count"))
    )
    h = hex4(
        F.concat(
            F.lit("dp-r1:"),
            F.col("n_nationkey").cast("string"),
            F.lit(":"),
            F.col("c_mktsegment"),
        )
    )
    noise = F.lit(_DP_CLAMP)
    for k, t in reversed(list(zip(range(-_DP_CLAMP, _DP_CLAMP + 1), _DP_T))):
        noise = F.when(h < t, F.lit(k)).otherwise(noise)
    return (
        counts.select(
            "n_name",
            "c_mktsegment",
            F.col("true_count").cast("bigint").alias("true_count"),
            noise.cast("bigint").alias("noise"),
            F.greatest(F.col("true_count") + noise, F.lit(0))
            .cast("bigint")
            .alias("dp_count"),
        )
        .orderBy("n_name", "c_mktsegment")
    )
