"""Wave-126 (round 5): McNemar paired test + decayed leaderboard.

* ``ml_mcnemar_paired_classifiers`` — the correct test for "is
  model B better than model A on the SAME eval set": only the
  discordant pairs matter (b = A right/B wrong, c = A wrong/B
  right), and the chi-square statistic (|b-c|-1)^2/(b+c) with
  continuity correction is tested at alpha=0.05 by integer cross-
  multiplication — comparing two frozen thresholds of the repo's
  known-truth scorer, so the discordant structure is real.
* ``serving_decayed_leaderboard`` — the exponentially-decayed
  top-k that powers trending/leaderboard surfaces: per-user event
  value decays by half per day over a 30-day horizon, carried as
  EXACT integers via shiftleft weights (cents << (30 - age)), so
  the global top-10 and every score hash identically; per-group
  ranking rides WindowGroupLimit-free as a single bounded top-k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import SQL_SEG_SCORE, query, seg_score, sql_hex8

# --------------------------------------------- McNemar

_CHI2_05_MILLI = 3841


@query(
    "ml_mcnemar_paired_classifiers",
    oracle=f"""
        WITH scored AS (
            SELECT {SQL_SEG_SCORE} AS score,
                   CASE WHEN {SQL_SEG_SCORE}
                             + ({sql_hex8(
                                 "'noise:' || CAST(c_custkey"
                                 " AS VARCHAR)")}) % 4000 > 8000
                        THEN 1 ELSE 0 END AS y
            FROM customer
        ), cells AS (
            SELECT
              CAST(SUM(CASE WHEN (score > 10000) = (y = 1)
                            AND (score > 6000) <> (y = 1)
                            THEN 1 ELSE 0 END) AS BIGINT) AS b,
              CAST(SUM(CASE WHEN (score > 10000) <> (y = 1)
                            AND (score > 6000) = (y = 1)
                            THEN 1 ELSE 0 END) AS BIGINT) AS c,
              CAST(SUM(CASE WHEN (score > 10000) = (y = 1)
                            AND (score > 6000) = (y = 1)
                            THEN 1 ELSE 0 END) AS BIGINT) AS both_right,
              CAST(COUNT(*) AS BIGINT) AS n
            FROM scored
        )
        SELECT n, both_right, b AS a_only_right, c AS b_only_right,
               CAST((abs(b - c) - 1) * (abs(b - c) - 1) * 1000
                    // greatest(b + c, 1) AS BIGINT) AS mcnemar_milli,
               CASE WHEN (abs(b - c) - 1) * (abs(b - c) - 1) * 1000
                         > {_CHI2_05_MILLI} * greatest(b + c, 1)
                    THEN 1 ELSE 0 END AS significant
        FROM cells
    """,
    description="McNemar's test — the correct comparison of two "
    "classifiers on the SAME eval set, where only DISCORDANT pairs "
    "carry information: model A (threshold 10000) vs model B "
    "(threshold 6000) of the repo's frozen known-truth scorer, "
    "cells b (A right, B wrong) and c (B right, A wrong), statistic "
    "(|b-c|-1)^2/(b+c) with continuity correction tested at "
    "alpha=0.05 by the exact integer cross-multiplication "
    "(...)*1000 > 3841*(b+c). Unpaired tests on the same data "
    "double-count the concordant mass — this is the audit that "
    "prevents that classic readout error. 100 TB shape: one narrow "
    "projection, one scalar aggregate; both models evaluate in the "
    "same pass, so the comparison costs one scan.",
)
def ml_mcnemar_paired_classifiers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    score = seg_score()
    noise = F.expr(
        "CAST(conv(substring(md5(concat('noise:', CAST(c_custkey"
        " AS STRING))), 1, 8), 16, 10) AS BIGINT) % 4000"
    )
    scored = cust.select(
        score.alias("score"),
        F.when(score + noise > 8000, 1).otherwise(0).alias("y"),
    )
    a_ok = (F.col("score") > 10000) == (F.col("y") == 1)
    b_ok = (F.col("score") > 6000) == (F.col("y") == 1)
    cells = scored.agg(
        F.sum(F.when(a_ok & ~b_ok, 1).otherwise(0))
        .cast("long")
        .alias("b"),
        F.sum(F.when(~a_ok & b_ok, 1).otherwise(0))
        .cast("long")
        .alias("c"),
        F.sum(F.when(a_ok & b_ok, 1).otherwise(0))
        .cast("long")
        .alias("both_right"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    return cells.select(
        "n",
        "both_right",
        F.col("b").alias("a_only_right"),
        F.col("c").alias("b_only_right"),
        F.expr(
            "CAST((abs(b - c) - 1) * (abs(b - c) - 1) * 1000"
            " div greatest(b + c, 1) AS LONG)"
        ).alias("mcnemar_milli"),
        F.when(
            (F.abs(F.col("b") - F.col("c")) - 1)
            * (F.abs(F.col("b") - F.col("c")) - 1)
            * 1000
            > _CHI2_05_MILLI * F.greatest(F.col("b") + F.col("c"), F.lit(1)),
            1,
        )
        .otherwise(0)
        .alias("significant"),
    )


# ------------------------------------------ decayed leaderboard

_HORIZON_DAYS = 30
_TOPK = 10


@query(
    "serving_decayed_leaderboard",
    oracle=f"""
        WITH anchor AS (
            SELECT CAST(MAX(ts) AS DATE) AS today FROM events
        ), recent AS (
            SELECT e.user_id,
                   datediff('day', CAST(e.ts AS DATE), a.today) AS age,
                   CAST(FLOOR(e.value * 100) AS BIGINT) AS cents
            FROM events e CROSS JOIN anchor a
            WHERE datediff('day', CAST(e.ts AS DATE), a.today)
                  BETWEEN 0 AND {_HORIZON_DAYS}
        ), scores AS (
            SELECT user_id,
                   CAST(SUM(cents * (CAST(1 AS BIGINT)
                            << ({_HORIZON_DAYS} - age))) AS BIGINT)
                       AS decayed_x2_30,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM recent GROUP BY user_id
        )
        SELECT user_id, n_events, decayed_x2_30
        FROM scores
        ORDER BY decayed_x2_30 DESC, user_id
        LIMIT {_TOPK}
    """,
    description="Exponentially-decayed leaderboard — the trending/"
    "top-users primitive behind every activity surface: event value "
    "halves per day of age over a 30-day horizon, carried EXACTLY "
    "as integer cents scaled by 2^(30-age) via shiftleft (the "
    "repo's lambda=1/2 integer-EWMA idiom — no pow(), no doubles), "
    "so the global top-10 and every score hash identically across "
    "engines. Anchoring 'today' to MAX(ts) keeps the query "
    "deterministic on any fixture vintage. 100 TB shape: the age "
    "filter prunes the scan to the horizon (partition pruning on a "
    "date-partitioned layout), one partial-agg shuffle at user "
    "grain, then a global top-10 — TakeOrdered, not a sort.",
)
def serving_decayed_leaderboard(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    anchor = events.agg(F.max(F.col("ts").cast("date")).alias("today"))
    recent = (
        events.crossJoin(F.broadcast(anchor))
        .select(
            "user_id",
            F.datediff(F.col("today"), F.col("ts").cast("date")).alias(
                "age"
            ),
            F.floor(F.col("value") * 100).cast("long").alias("cents"),
        )
        .where((F.col("age") >= 0) & (F.col("age") <= _HORIZON_DAYS))
    )
    scores = recent.groupBy("user_id").agg(
        F.sum(
            F.expr(f"cents * shiftleft(CAST(1 AS BIGINT), {_HORIZON_DAYS} - age)")
        )
        .cast("long")
        .alias("decayed_x2_30"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    return (
        scores.select("user_id", "n_events", "decayed_x2_30")
        .orderBy(F.col("decayed_x2_30").desc(), "user_id")
        .limit(_TOPK)
    )
