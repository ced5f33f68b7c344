"""Wave-141 (round 5): equalized odds + dedup shard strategy.

* ``fairness_equalized_odds_audit`` — the fairness criterion
  demographic parity misses: equalized odds compares TRUE-positive
  and FALSE-positive rates across groups, so a model can't pass by
  simply refusing one group. The frozen known-truth scorer's
  per-segment TPR/FPR land in exact permille with the max
  cross-group gaps on every row — complements the repo's
  selection-rate (parity) audit.
* ``dedup_shard_strategy_audit`` — why distributed dedup shards by
  CONTENT HASH, quantified: exact-duplicate pairs found when work
  is sharded by doc_id (pairs split across shards are silently
  missed) versus sharded by md5(text) (all pairs land in one
  shard, by construction) — the miss rate in exact permille is
  the cost of the wrong partitioning key, the architectural
  argument behind every dedup lane in this repo.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import SQL_SEG_SCORE, hex8, query, seg_score, sql_hex8


# --------------------------------------------- equalized odds


@query(
    "fairness_equalized_odds_audit",
    oracle=f"""
        WITH scored AS (
            SELECT c_mktsegment AS seg,
                   CASE WHEN {SQL_SEG_SCORE} > 10000
                        THEN 1 ELSE 0 END AS pred,
                   CASE WHEN {SQL_SEG_SCORE}
                             + ({sql_hex8(
                                 "'noise:' || CAST(c_custkey"
                                 " AS VARCHAR)")}) % 4000 > 8000
                        THEN 1 ELSE 0 END AS y
            FROM customer
        ), per AS (
            SELECT seg,
                   CAST(SUM(y) AS BIGINT) AS pos,
                   CAST(SUM(1 - y) AS BIGINT) AS neg,
                   CAST(SUM(CASE WHEN pred = 1 AND y = 1
                                 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                   CAST(SUM(CASE WHEN pred = 1 AND y = 0
                                 THEN 1 ELSE 0 END) AS BIGINT) AS fp
            FROM scored GROUP BY seg
        ), rates AS (
            SELECT seg, pos, neg,
                   CAST(tp * 1000 // greatest(pos, 1) AS BIGINT)
                       AS tpr_permille,
                   CAST(fp * 1000 // greatest(neg, 1) AS BIGINT)
                       AS fpr_permille
            FROM per
        )
        SELECT seg, pos, neg, tpr_permille, fpr_permille,
               CAST(MAX(tpr_permille) OVER ()
                    - MIN(tpr_permille) OVER () AS BIGINT)
                   AS tpr_gap_permille,
               CAST(MAX(fpr_permille) OVER ()
                    - MIN(fpr_permille) OVER () AS BIGINT)
                   AS fpr_gap_permille
        FROM rates ORDER BY seg
    """,
    description="Equalized-odds fairness audit of the frozen known-"
    "truth scorer: per market segment, exact-permille true-positive "
    "and false-positive rates with the cross-group max gaps on "
    "every row — the criterion demographic parity misses, because "
    "a classifier can satisfy parity while systematically erring "
    "on one group's qualified members. The planted label structure "
    "(segment weight inside both truth and model) makes the gaps "
    "REAL: segments with higher frozen weights sit at different "
    "operating points, which is exactly the pathology this audit "
    "exists to surface. Complements fairness_selection_rate_audit "
    "(parity) the way ROC complements accuracy. 100 TB shape: one "
    "narrow projection, one bounded segment aggregate.",
)
def fairness_equalized_odds_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    cust = load_table(spark, sf_dir, "customer")
    score = seg_score()
    noise = (
        hex8(F.concat(F.lit("noise:"), F.col("c_custkey").cast("string")))
        % 4000
    )
    scored = cust.select(
        F.col("c_mktsegment").alias("seg"),
        F.when(score > 10000, 1).otherwise(0).alias("pred"),
        F.when(score + noise > 8000, 1).otherwise(0).alias("y"),
    )
    per = scored.groupBy("seg").agg(
        F.sum("y").cast("long").alias("pos"),
        F.sum(1 - F.col("y")).cast("long").alias("neg"),
        F.sum(F.when((F.col("pred") == 1) & (F.col("y") == 1), 1).otherwise(0))
        .cast("long")
        .alias("tp"),
        F.sum(F.when((F.col("pred") == 1) & (F.col("y") == 0), 1).otherwise(0))
        .cast("long")
        .alias("fp"),
    )
    rates = per.select(
        "seg",
        "pos",
        "neg",
        F.expr("CAST(tp * 1000 div greatest(pos, 1) AS LONG)").alias(
            "tpr_permille"
        ),
        F.expr("CAST(fp * 1000 div greatest(neg, 1) AS LONG)").alias(
            "fpr_permille"
        ),
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return rates.select(
        "seg",
        "pos",
        "neg",
        "tpr_permille",
        "fpr_permille",
        (
            F.max("tpr_permille").over(wall)
            - F.min("tpr_permille").over(wall)
        )
        .cast("long")
        .alias("tpr_gap_permille"),
        (
            F.max("fpr_permille").over(wall)
            - F.min("fpr_permille").over(wall)
        )
        .cast("long")
        .alias("fpr_gap_permille"),
    ).orderBy("seg")


# ---------------------------------------- dedup shard strategy

_SHARDS = 16


@query(
    "dedup_shard_strategy_audit",
    oracle=f"""
        WITH docs AS (
            SELECT doc_id, md5(text) AS fp,
                   doc_id % {_SHARDS} AS id_shard
            FROM documents
        ), groups AS (
            SELECT fp, CAST(COUNT(*) AS BIGINT) AS g
            FROM docs GROUP BY fp HAVING COUNT(*) > 1
        ), total_pairs AS (
            SELECT CAST(SUM(g * (g - 1) // 2) AS BIGINT) AS n
            FROM groups
        ), id_local AS (
            SELECT CAST(SUM(g * (g - 1) // 2) AS BIGINT) AS n
            FROM (SELECT fp, id_shard, CAST(COUNT(*) AS BIGINT) AS g
                  FROM docs GROUP BY fp, id_shard
                  HAVING COUNT(*) > 1)
        )
        SELECT t.n AS total_dup_pairs,
               COALESCE(i.n, 0) AS found_id_sharded,
               t.n AS found_content_sharded,
               CAST((t.n - COALESCE(i.n, 0)) * 1000
                    // greatest(t.n, 1) AS BIGINT) AS miss_permille
        FROM total_pairs t CROSS JOIN id_local i
    """,
    description="Why distributed dedup shards by CONTENT hash, "
    "quantified: exact-duplicate pairs (same md5(text)) that id-"
    "sharded workers would find — only pairs landing in the SAME "
    "doc_id-modulo shard — versus content-sharded workers, which "
    "find every pair by construction because the fingerprint IS "
    "the shuffle key. The miss rate in exact permille (expected "
    "~1 - 1/16 = 937 for random id placement) is the measured cost "
    "of partitioning on the wrong key — the architectural fact "
    "under every dedup lane in this repo: the groupBy(fingerprint) "
    "shuffle is not an implementation detail, it IS the "
    "correctness. 100 TB shape: two partial-agg shuffles (by fp, "
    "by (fp, shard)) and a scalar combine.",
)
def dedup_shard_strategy_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        F.md5("text").alias("fp"),
        (F.col("doc_id") % _SHARDS).alias("id_shard"),
    ).localCheckpoint(eager=False)  # feeds both groupings
    groups = (
        docs.groupBy("fp")
        .agg(F.count(F.lit(1)).cast("long").alias("g"))
        .where(F.col("g") > 1)
    )
    total_pairs = groups.agg(
        F.sum(F.expr("g * (g - 1) div 2")).cast("long").alias("n_total")
    )
    id_local = (
        docs.groupBy("fp", "id_shard")
        .agg(F.count(F.lit(1)).cast("long").alias("g"))
        .where(F.col("g") > 1)
        .agg(
            F.sum(F.expr("g * (g - 1) div 2"))
            .cast("long")
            .alias("n_local")
        )
    )
    return total_pairs.crossJoin(F.broadcast(id_local)).select(
        F.col("n_total").alias("total_dup_pairs"),
        F.coalesce("n_local", F.lit(0))
        .cast("long")
        .alias("found_id_sharded"),
        F.col("n_total").alias("found_content_sharded"),
        F.expr(
            "CAST((n_total - COALESCE(n_local, 0)) * 1000"
            " div greatest(n_total, 1) AS LONG)"
        ).alias("miss_permille"),
    )
