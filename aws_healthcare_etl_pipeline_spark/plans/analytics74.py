"""Wave-100 (round 5): the milestone composites.

* ``ml_model_scorecard`` — ONE result that answers 'is this model/
  label stack healthy': discriminative power (exact AUC of the best
  screened embedding dimension), calibration spread (positive-rate
  permille at the lowest vs highest score bin), operational capture
  (gain at the third decile), and label-stack agreement (Cohen's
  kappa for the largest language) — each metric pulled from the
  SAME machinery as its standalone query by embedding those
  queries' full oracle texts as subqueries, so the scorecard is
  consistent-by-construction with the detailed reports.
* ``pipeline_refinery_capstone_v2`` — the round-5 refinery: the
  perturbed corpus (base + truncated near-copies) runs the ordered
  quality gate (first-failing-rule attrition), survivors dedup by
  exact-Jaccard>=0.9 clusters (keep the minimum doc id per
  cluster), and the survivors spend a per-language token budget in
  doc-id order — per language the funnel counts at every stage
  plus final kept tokens, exactly. Composes the gate, the
  near-dup clustering, and the prefix-sum budget — the three
  operators every LLM-corpus refinery chains, proven end-to-end by
  one oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import normalize_text, tokens
from ..operators.clusters import connected_components
from ..operators.dedup import minhash_near_duplicates
from ..sources.tables import load_table
from .registry import REGISTRY, query

# ------------------------------------------------ model scorecard


def _scorecard_oracle() -> str:
    auc = REGISTRY["ml_auc_feature_screen"].oracle
    cal = REGISTRY["ml_calibration_reliability_bins"].oracle
    gain = REGISTRY["ml_gain_chart_deciles"].oracle
    kappa = REGISTRY["ml_annotator_agreement_kappa"].oracle
    return f"""
        SELECT 'auc_best_dim_micros' AS metric,
               CAST(MAX(auc_micros) AS BIGINT) AS value
        FROM ({auc}) a
        UNION ALL
        SELECT 'calibration_spread_permille' AS metric,
               CAST(MAX(CASE WHEN score_bin = (SELECT MAX(score_bin)
                                               FROM ({cal}) c2)
                             THEN pos_rate_permille END)
                    - MAX(CASE WHEN score_bin = (SELECT MIN(score_bin)
                                                 FROM ({cal}) c3)
                               THEN pos_rate_permille END) AS BIGINT)
        FROM ({cal}) c
        UNION ALL
        SELECT 'gain_capture_d3_permille' AS metric,
               CAST(MAX(CASE WHEN decile = 2
                             THEN cum_capture_permille END) AS BIGINT)
        FROM ({gain}) g
        UNION ALL
        SELECT 'kappa_en_permille' AS metric,
               CAST(MAX(CASE WHEN lang = 'en'
                             THEN kappa_permille END) AS BIGINT)
        FROM ({kappa}) k
        ORDER BY metric
    """


@query(
    "ml_model_scorecard",
    oracle=_scorecard_oracle(),
    description="The one-result model/label-stack health scorecard: "
    "best screened-dimension exact AUC (discrimination), positive-"
    "rate spread between the extreme score bins (calibration "
    "range), cumulative capture at the third decile (operational "
    "gain), and English-language annotator kappa (label-stack "
    "agreement) — four integer metrics whose oracles ARE the "
    "standalone queries' oracle texts embedded as subqueries, so "
    "the scorecard can never drift from the detailed reports it "
    "summarizes. The dashboard tile a 100 TB training-data "
    "operation checks before shipping a corpus; each sub-metric "
    "keeps its own scale story (histogram algebra, bounded bins, "
    "decile grain, language grain).",
)
def ml_model_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .analytics54 import ml_auc_feature_screen
    from .analytics56 import ml_calibration_reliability_bins
    from .analytics65 import ml_gain_chart_deciles
    from .analytics69 import ml_annotator_agreement_kappa

    auc = ml_auc_feature_screen(spark, sf_dir).agg(
        F.max("auc_micros").cast("long").alias("value")
    ).select(F.lit("auc_best_dim_micros").alias("metric"), "value")

    cal = ml_calibration_reliability_bins(spark, sf_dir).localCheckpoint(
        eager=False
    )
    lo = cal.orderBy("score_bin").limit(1).select(
        F.col("pos_rate_permille").alias("lo")
    )
    hi = cal.orderBy(F.col("score_bin").desc()).limit(1).select(
        F.col("pos_rate_permille").alias("hi")
    )
    spread = (
        hi.crossJoin(lo)
        .select((F.col("hi") - F.col("lo")).cast("long").alias("value"))
        .select(
            F.lit("calibration_spread_permille").alias("metric"), "value"
        )
    )

    gain = (
        ml_gain_chart_deciles(spark, sf_dir)
        .filter(F.col("decile") == 2)
        .select(
            F.lit("gain_capture_d3_permille").alias("metric"),
            F.col("cum_capture_permille").cast("long").alias("value"),
        )
    )
    kappa = (
        ml_annotator_agreement_kappa(spark, sf_dir)
        .filter(F.col("lang") == "en")
        .select(
            F.lit("kappa_en_permille").alias("metric"),
            F.col("kappa_permille").cast("long").alias("value"),
        )
    )
    return auc.unionByName(spread).unionByName(gain).unionByName(
        kappa
    ).orderBy("metric")


# -------------------------------------------- refinery capstone v2

_RF_OFFSET = 1_000_000
_RF_MIN_TOKENS = 15
_RF_MAX_TOKENS = 450
_RF_THRESHOLD = 0.9
_RF_BUDGET = 5_000  # tokens per language


@query(
    "pipeline_refinery_capstone_v2",
    oracle=f"""
        WITH RECURSIVE base AS (
            SELECT doc_id, lang,
                   list_filter(regexp_split_to_array(trim(lower(text)),
                                                     '\\s+'),
                               t -> t <> '') AS toks
            FROM documents
        ), corpus AS (
            SELECT doc_id, lang, toks FROM base
            UNION ALL
            SELECT doc_id + {_RF_OFFSET} AS doc_id, lang,
                   list_slice(toks, 1, greatest(len(toks) - 2, 1)) AS toks
            FROM base
        ), gated AS (
            SELECT doc_id, lang, toks, len(toks) AS ntok,
                   CASE WHEN len(toks) < {_RF_MIN_TOKENS} THEN 0
                        WHEN len(toks) > {_RF_MAX_TOKENS} THEN 0
                        ELSE 1 END AS survived
            FROM corpus
        ), sh AS (
            SELECT doc_id, lang, ntok,
                   list_distinct(
                     list_transform(
                         range(1, greatest(len(toks) - 2, 1) + 1),
                         i -> concat_ws(' ', toks[i], toks[i+1],
                                        toks[i+2]))
                   ) AS shingles
            FROM gated WHERE survived = 1
        ), pairs AS MATERIALIZED (
            SELECT id_a, id_b FROM (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       len(list_intersect(a.shingles, b.shingles))
                           AS inter,
                       len(a.shingles) AS la, len(b.shingles) AS lb
                FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            )
            WHERE inter::DOUBLE / (la + lb - inter) >= {_RF_THRESHOLD}
        ), e AS (
            SELECT id_a AS a, id_b AS b FROM pairs
            UNION SELECT id_b, id_a FROM pairs
        ), nodes AS (SELECT DISTINCT a AS id FROM e),
        reach(src, dst) AS (
            SELECT id, id FROM nodes
            UNION
            SELECT r.src, e.b FROM reach r JOIN e ON r.dst = e.a
        ), comp AS (
            SELECT src AS doc_id, MIN(dst) AS keeper FROM reach
            GROUP BY src
        ), deduped AS (
            SELECT s.doc_id, s.lang, s.ntok
            FROM sh s LEFT JOIN comp c ON c.doc_id = s.doc_id
            WHERE c.doc_id IS NULL OR c.keeper = s.doc_id
        ), budgeted AS (
            SELECT doc_id, lang, ntok,
                   COALESCE(SUM(ntok) OVER (PARTITION BY lang
                       ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) AS prefix
            FROM deduped
        )
        SELECT g.lang,
               CAST(COUNT(*) AS BIGINT) AS n_in,
               CAST(SUM(g.survived) AS BIGINT) AS n_after_gate,
               CAST((SELECT COUNT(*) FROM deduped d
                     WHERE d.lang = g.lang) AS BIGINT) AS n_after_dedup,
               CAST((SELECT COUNT(*) FROM budgeted b
                     WHERE b.lang = g.lang
                       AND b.prefix < {_RF_BUDGET}) AS BIGINT)
                   AS n_after_budget,
               CAST((SELECT COALESCE(SUM(b.ntok), 0) FROM budgeted b
                     WHERE b.lang = g.lang
                       AND b.prefix < {_RF_BUDGET}) AS BIGINT)
                   AS tokens_kept
        FROM gated g
        GROUP BY g.lang
        ORDER BY g.lang
    """,
    description="The round-5 corpus refinery end-to-end: the "
    "perturbed corpus (base + truncated near-copies) passes the "
    "ordered token-count gate, survivors cluster by exact-Jaccard "
    ">=0.9 (execution: MinHash-LSH candidates + exact verify + "
    "min-label components — the oracle rebuilds clusters by "
    "recursive transitive closure), one keeper (minimum doc id) "
    "survives per cluster, and keepers spend a 5000-token budget "
    "per language in doc-id order (exclusive-prefix rule, the "
    "token-budget operator's contract). Per language: counts at "
    "every funnel stage plus kept tokens — one oracle proves the "
    "three chained operators end-to-end. Scale: each stage is the "
    "standalone operator's plan (map-side gate, banded LSH "
    "shuffle, label propagation on pair-sized data, per-lang "
    "prefix sums at doc grain).",
)
def pipeline_refinery_capstone_v2(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    near = docs.select(
        "doc_id", "lang", tokens(F.col("text")).alias("toks")
    ).select(
        (F.col("doc_id") + _RF_OFFSET).alias("doc_id"),
        "lang",
        F.concat_ws(
            " ",
            F.slice(
                F.col("toks"), 1, F.greatest(F.size("toks") - 2, F.lit(1))
            ),
        ).alias("text"),
    )
    corpus = docs.unionByName(near)
    gated = corpus.select(
        "doc_id",
        "lang",
        "text",
        F.size(tokens(normalize_text(F.col("text")))).alias("ntok"),
    ).withColumn(
        "survived",
        (
            (F.col("ntok") >= _RF_MIN_TOKENS)
            & (F.col("ntok") <= _RF_MAX_TOKENS)
        ).cast("long"),
    ).localCheckpoint(eager=False)  # feeds the funnel header + dedup
    survivors = gated.filter(F.col("survived") == 1)
    pairs = minhash_near_duplicates(
        survivors, "text", "doc_id", num_hashes=64, bands=16,
        threshold=_RF_THRESHOLD,
    )
    comp = connected_components(pairs)
    deduped = (
        survivors.join(
            comp.withColumnRenamed("node", "doc_id"), "doc_id", "left"
        )
        .filter(
            F.col("component").isNull()
            | (F.col("component") == F.col("doc_id"))
        )
        .select("doc_id", "lang", "ntok")
    )
    wb = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    budgeted = deduped.withColumn(
        "prefix", F.coalesce(F.sum("ntok").over(wb), F.lit(0))
    ).filter(F.col("prefix") < _RF_BUDGET)
    header = gated.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_in"),
        F.sum("survived").cast("long").alias("n_after_gate"),
    )
    dstats = deduped.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_after_dedup")
    )
    bstats = budgeted.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_after_budget"),
        F.sum("ntok").cast("long").alias("tokens_kept"),
    )
    return (
        header.join(dstats, "lang", "left")
        .join(bstats, "lang", "left")
        .select(
            "lang",
            "n_in",
            "n_after_gate",
            F.coalesce(F.col("n_after_dedup"), F.lit(0))
            .cast("long")
            .alias("n_after_dedup"),
            F.coalesce(F.col("n_after_budget"), F.lit(0))
            .cast("long")
            .alias("n_after_budget"),
            F.coalesce(F.col("tokens_kept"), F.lit(0))
            .cast("long")
            .alias("tokens_kept"),
        )
        .orderBy("lang")
    )
