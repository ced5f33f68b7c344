"""Fuzzy-dedup queries (SURVEY.md §2.8): MinHash+LSH, SimHash, n-gram
Jaccard over a corpus with known near-duplicates.

The fixture corpus has few incidental near-duplicate pairs, so each
query runs on ``documents`` UNION a deterministic perturbation of
itself (drop the last two words, offset ids by 1_000_000) —
guaranteeing every original doc has a near-dup partner the operators
must find.

Every query here carries a REAL DuckDB oracle (new in r2):

- n-gram Jaccard (PPJoin prefix filter) is EXACT by construction, so
  the oracle is simply all-pairs Jaccard in SQL.
- MinHash+LSH output at the 0.9 verify threshold equals all-pairs
  ground truth: a J>=0.9 pair misses all 16 bands w.p.
  (1 - 0.9^4)^16 ~= 4e-8, and the hash family is fixed — so equality
  is deterministic in practice and empirically exact at sf0.001/0.01/
  0.1 (sweep in tests/test_jaccard_completeness.py). Recall at looser
  thresholds is pytest-covered.
- SimHash runs in *portable* mode (md5-derived 60-bit signatures,
  operators/dedup.py::simhash_portable) at max_hamming=3, where
  4-band blocking is EXACT by pigeonhole — so DuckDB recomputes the
  identical signatures and the identical pair set. This is a full
  cross-engine verification of the simhash algorithm itself.
- Cluster histograms are checked against a recursive-CTE transitive
  closure over the same ground-truth pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..operators.dedup import (
    PORTABLE_SIMHASH_BITS,
    minhash_near_duplicates,
    ngram_jaccard_pairs,
    simhash_near_duplicates,
)
from ..sources.tables import load_table
from .registry import query

PERTURB_OFFSET = 1_000_000


def perturbed_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ near-duplicate copies (last 2 words dropped)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    # materialize the token array before slicing (tokenize once per row)
    near = (
        docs.select("doc_id", "lang", tokens(F.col("text")).alias("toks"))
        .select(
            (F.col("doc_id") + PERTURB_OFFSET).alias("doc_id"),
            F.concat_ws(
                " ", F.slice(F.col("toks"), 1, F.greatest(F.size("toks") - 2, F.lit(1)))
            ).alias("text"),
            "lang",
        )
    )
    return docs.unionByName(near)


# ---------------------------------------------------------------- oracle SQL
# DuckDB replication of perturbed_corpus + 3-word shingling. Lowering
# commutes with token slicing, so the oracle lowers before the slice.
SQL_CORPUS = f"""
    base AS (
        SELECT doc_id, lang,
               regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
        FROM documents
    ), corpus AS (
        SELECT doc_id, lang, toks FROM base
        UNION ALL
        SELECT doc_id + {PERTURB_OFFSET} AS doc_id, lang,
               list_slice(toks, 1, greatest(len(toks) - 2, 1)) AS toks
        FROM base
    )
"""

def _sql_corpus_shingles(k: int) -> str:
    """corpus + k-word shingle CTEs (mirrors shingles_from_tokens(k):
    out-of-range positions drop out of concat_ws, so docs shorter than
    k tokens still emit one truncated shingle)."""
    terms = ", ".join(f"toks[i+{j}]" for j in range(k))
    return f"""
    {SQL_CORPUS}, sh AS (
        SELECT doc_id, lang,
               list_distinct(
                 list_transform(range(1, greatest(len(toks) - {k - 1}, 1) + 1),
                                i -> concat_ws(' ', {terms}))
               ) AS shingles
        FROM corpus
    )
"""


SQL_CORPUS_SHINGLES = _sql_corpus_shingles(3)

def _sql_jaccard_pairs(threshold: float, lang_blocked: bool) -> str:
    """All-pairs (id_a < id_b) shingle-Jaccard >= threshold.

    The intersection is materialized once in a subquery — inlining it
    into both SELECT and WHERE triples the list_intersect work.
    """
    block = "a.lang = b.lang AND " if lang_blocked else ""
    return f"""
        SELECT id_a, id_b, round(j, 6) AS jaccard
        FROM (
            SELECT id_a, id_b, inter::DOUBLE / (la + lb - inter) AS j
            FROM (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       len(list_intersect(a.shingles, b.shingles)) AS inter,
                       len(a.shingles) AS la, len(b.shingles) AS lb
                FROM sh a JOIN sh b ON {block}a.doc_id < b.doc_id
            )
        )
        WHERE j >= {threshold}
    """


MINHASH_THRESHOLD = 0.9  # verify threshold for the oracle-gated queries


@query(
    "dedup_minhash_lsh_pairs",
    oracle=f"""
        WITH {SQL_CORPUS_SHINGLES}
        {_sql_jaccard_pairs(MINHASH_THRESHOLD, lang_blocked=False)}
        ORDER BY id_a, id_b
    """,
    description="MinHash(64 hashes) + LSH(16 bands) near-dup pairs, "
    "exact-Jaccard verified at >=0.9. Oracle: all-pairs exact Jaccard "
    "in SQL — valid because a J>=0.9 pair escapes all 16 bands w.p. "
    "~4e-8 under the fixed hash family (deterministic in practice; "
    "sweep-verified at three scale factors).",
)
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = perturbed_corpus(spark, sf_dir)
    return (
        minhash_near_duplicates(
            corpus, "text", "doc_id", num_hashes=64, bands=16,
            threshold=MINHASH_THRESHOLD,
        )
        .withColumn("jaccard", F.round("jaccard", 6))
        .orderBy("id_a", "id_b")
    )


# SimHash portable-mode oracle: recompute the md5-derived 60-bit
# signature per document in SQL, then all-pairs hamming via
# bit_count(xor). At max_hamming=3 the Spark side's 4-band blocking is
# exact (pigeonhole), so banded output == all-pairs output.
SIMHASH_MAX_HAMMING = 3

SQL_SIMHASH_SIG = f"""
    hs AS (
        SELECT doc_id,
               list_transform(
                 list_distinct(toks),
                 t -> list_reduce(
                        list_transform(
                          string_split_regex(substr(md5(t), 1, 15), ''),
                          c -> strpos('0123456789abcdef', c) - 1)::BIGINT[],
                        (a, b) -> a * 16 + b)
               ) AS hashes
        FROM corpus
    ), sig AS (
        SELECT doc_id,
               list_sum(
                 list_transform(range(0, {PORTABLE_SIMHASH_BITS}), j ->
                   CASE WHEN list_sum(list_transform(hashes,
                                h -> 2 * ((h >> j) & 1) - 1)) > 0
                        THEN (1::BIGINT << j) ELSE 0::BIGINT END)
               )::BIGINT AS simhash
        FROM hs
    )
"""


@query(
    "dedup_simhash_pairs",
    oracle=f"""
        WITH {SQL_CORPUS},
        {SQL_SIMHASH_SIG}
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
        FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
        ORDER BY id_a, id_b
    """,
    description="Portable 60-bit SimHash near-dup pairs at hamming <= 3 "
    "(4-band blocking, exact by pigeonhole at this radius). The oracle "
    "recomputes the identical md5-derived signatures in SQL — a full "
    "cross-engine check of the simhash bit-sum algorithm.",
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = perturbed_corpus(spark, sf_dir)
    return (
        simhash_near_duplicates(
            corpus, "text", "doc_id",
            max_hamming=SIMHASH_MAX_HAMMING,
        )
        .withColumn("hamming", F.col("hamming").cast("int"))
        .orderBy("id_a", "id_b")
    )


@query(
    "dedup_ngram_jaccard_pairs",
    oracle=f"""
        WITH {_sql_corpus_shingles(5)}
        {_sql_jaccard_pairs(0.5, lang_blocked=True)}
        ORDER BY id_a, id_b
    """,
    description="Blocked (by lang) exact 5-gram Jaccard pairs at >=0.5 "
    "via PPJoin prefix filtering with document-frequency prefix "
    "ordering — provably no false negatives, so the all-pairs SQL "
    "oracle is an exact match. Shingle order 5 (r4, was 3) is the "
    "density control that keeps exact prefix-join dedup scalable: the "
    "fixture's 3-gram domain SATURATES as the corpus grows (measured: "
    "prefix-bucket join volume 57M pairs at sf1 -> 523M at sf3, 9x "
    "for 3x data, because distinct 3-grams stopped growing), and NO "
    "candidate filter can beat that — the pairs genuinely share "
    "shingles. 5-grams grow the domain combinatorially (same sweep: "
    "1.3M -> 3.8M join pairs, exactly 3x for 3x data, max bucket 5), "
    "the standard q-gram-size escape in the prefix-filter literature; "
    "docs are 10-100 tokens so a >=0.5-Jaccard near-dup keeps >=4/6 "
    "shared 5-grams even at the 10-token floor. When a corpus is so "
    "dense that no shingle order stays unsaturated, exact all-pairs "
    "is the wrong tier — switch to dedup_minhash_lsh_pairs.",
)
def dedup_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = perturbed_corpus(spark, sf_dir)
    return (
        ngram_jaccard_pairs(
            corpus, "text", "doc_id", block_cols=["lang"],
            shingle_size=5, threshold=0.5,
        )
        .withColumn("jaccard", F.round("jaccard", 6))
        .orderBy("id_a", "id_b")
    )


@query(
    "dedup_minhash_clusters",
    oracle=f"""
        WITH RECURSIVE {SQL_CORPUS_SHINGLES},
        pairs AS MATERIALIZED (
            SELECT id_a, id_b FROM (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       len(list_intersect(a.shingles, b.shingles)) AS inter,
                       len(a.shingles) AS la, len(b.shingles) AS lb
                FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            )
            WHERE inter::DOUBLE / (la + lb - inter) >= {MINHASH_THRESHOLD}
        ),
        e AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
        nodes AS (SELECT DISTINCT a AS id FROM e),
        reach(src, dst) AS (
            SELECT id, id FROM nodes
            UNION
            SELECT r.src, e.b FROM reach r JOIN e ON r.dst = e.a
        ),
        comp AS (SELECT src, MIN(dst) AS component FROM reach GROUP BY src),
        sizes AS (SELECT component, COUNT(*) AS cluster_size
                  FROM comp GROUP BY component)
        SELECT cluster_size, COUNT(*) AS n_clusters
        FROM sizes GROUP BY cluster_size
        ORDER BY cluster_size
    """,
    description="Near-dup pairs -> connected components (min-label + "
    "pointer jumping) -> cluster-size histogram; the oracle rebuilds "
    "components via a recursive-CTE transitive closure over the same "
    "exact-Jaccard ground-truth pairs.",
)
def dedup_minhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clusters import connected_components

    corpus = perturbed_corpus(spark, sf_dir)
    pairs = minhash_near_duplicates(
        corpus, "text", "doc_id", num_hashes=64, bands=16,
        threshold=MINHASH_THRESHOLD,
    )
    comp = connected_components(pairs)
    return (
        comp.groupBy("component")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .orderBy("cluster_size")
    )
