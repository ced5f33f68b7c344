"""Wave-125 (round 5): exact average precision + cron expansion.

* ``ml_average_precision_exact`` — PR-AUC's point-mass form
  (average precision) computed exactly from ONE score histogram
  with the tie-ATOMIC convention: tied scores form one block,
  precision is evaluated after each block from descending
  cumulative counts, quantized to ppm, and AP is the positive-
  weighted mean of block precisions — the PR-side companion to the
  repo's exact ROC/AUC machinery, no global sort.
* ``ops_cron_schedule_expansion`` — the scheduler's calendar
  algebra as a query: four cron-like specs (hourly @:15, daily
  03:00, Monday 01:00, monthly 1st 02:30) expand over the event
  span's hour spine; per spec the fire count, span, and the number
  of hours shared with ANY other spec (maintenance-window
  collisions). Weekday tests use each engine's own Monday
  predicate (DuckDB isodow=1, Spark weekday=0) — different text,
  identical semantics, hash-equal output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.cumsum import distributed_running_total
from ..sources.tables import load_table
from .registry import buyers_1996, query

# ------------------------------------------- average precision


@query(
    "ml_average_precision_exact",
    oracle="""
        WITH lab AS (
            SELECT c.c_custkey AS k,
                   CAST(CAST(c.c_acctbal AS DECIMAL(15,2)) * 100
                        AS BIGINT) AS v,
                   CASE WHEN COUNT(CASE WHEN EXTRACT(year
                             FROM o.o_orderdate) = 1996 THEN 1 END) > 0
                        THEN 1 ELSE 0 END AS y
            FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
            GROUP BY 1, 2
        ), hist AS (
            SELECT v,
                   CAST(SUM(y) AS BIGINT) AS p_v,
                   CAST(COUNT(*) AS BIGINT) AS m_v
            FROM lab GROUP BY v
        ), cum AS (
            SELECT v, p_v, m_v,
                   CAST(SUM(p_v) OVER w AS BIGINT) AS cp_desc,
                   CAST(SUM(m_v) OVER w AS BIGINT) AS c_desc
            FROM hist
            WINDOW w AS (ORDER BY v DESC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ), tot AS (
            SELECT CAST(SUM(p_v) AS BIGINT) AS p,
                   CAST(SUM(m_v) AS BIGINT) AS m
            FROM hist
        )
        SELECT t.p AS n_positives, t.m AS n_total,
               CAST(SUM(c.p_v * (c.cp_desc * 1000000 // c.c_desc))
                    // t.p AS BIGINT) AS ap_ppm,
               CAST(t.p * 1000000 // t.m AS BIGINT) AS baseline_ppm
        FROM cum c CROSS JOIN tot t
        GROUP BY t.p, t.m
    """,
    description="Exact average precision (the point-mass PR-AUC) "
    "from one score histogram with the tie-ATOMIC block convention: "
    "tied balances form one block, block precision is "
    "cp_desc/c_desc from DESCENDING cumulative counts (spine "
    "prefix, no row sort), quantized to exact ppm, and AP is the "
    "positive-weighted mean of block precisions — against the "
    "prevalence baseline p/m that a random ranker achieves. The "
    "PR-side companion to the exact-AUC midrank identity: AUC is "
    "threshold-free TPR/FPR area, AP weights precision where the "
    "positives actually live, which is what matters under class "
    "imbalance. 100 TB shape: one labeled customer-grain "
    "aggregate, one value-histogram shuffle, two-level-carry "
    "prefix, one scalar combine.",
)
def ml_average_precision_exact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    lab = buyers_1996(
        spark,
        sf_dir,
        (F.col("c_acctbal").cast("decimal(15,2)") * 100).cast("long").alias("v"),
    )
    hist = lab.groupBy("v").agg(
        F.sum("y").cast("long").alias("p_v"),
        F.count(F.lit(1)).cast("long").alias("m_v"),
    )
    # descending prefix = total - ascending-exclusive prefix; the
    # ascending prefixes run on the two-level carry (no global sort)
    cum0 = distributed_running_total(
        hist.withColumn("vb", F.expr("v div 1048576")),
        F.col("p_v"),
        "vb",
        ["v"],
        out_col="cp_incl",
        zero=F.lit(0).cast("bigint"),
    )
    cum1 = distributed_running_total(
        cum0,
        F.col("m_v"),
        "vb",
        ["v"],
        out_col="c_incl",
        zero=F.lit(0).cast("bigint"),
    )
    tot = hist.agg(
        F.sum("p_v").cast("long").alias("p"),
        F.sum("m_v").cast("long").alias("m"),
    )
    cum = cum1.crossJoin(F.broadcast(tot)).select(
        "p_v",
        (F.col("p") - (F.col("cp_incl") - F.col("p_v")))
        .cast("long")
        .alias("cp_desc"),
        (F.col("m") - (F.col("c_incl") - F.col("m_v")))
        .cast("long")
        .alias("c_desc"),
        "p",
        "m",
    )
    return (
        cum.groupBy("p", "m")
        .agg(
            F.sum(
                F.col("p_v")
                * F.expr("cp_desc * 1000000 div c_desc")
            )
            .cast("long")
            .alias("ap_num")
        )
        .select(
            F.col("p").alias("n_positives"),
            F.col("m").alias("n_total"),
            F.expr("CAST(ap_num div p AS LONG)").alias("ap_ppm"),
            F.expr("CAST(p * 1000000 div m AS LONG)").alias(
                "baseline_ppm"
            ),
        )
    )


# --------------------------------------------- cron expansion


@query(
    "ops_cron_schedule_expansion",
    oracle="""
        WITH span AS (
            SELECT date_trunc('hour', MIN(ts)) AS lo,
                   date_trunc('hour', MAX(ts)) AS hi
            FROM events
        ), hours AS (
            SELECT unnest(generate_series(lo, hi,
                          INTERVAL 1 HOUR)) AS h
            FROM span
        ), fires AS (
            SELECT 'hourly_etl' AS spec, h FROM hours
            UNION ALL
            SELECT 'daily_report', h FROM hours
            WHERE EXTRACT(hour FROM h) = 3
            UNION ALL
            SELECT 'weekly_compact', h FROM hours
            WHERE isodow(h) = 1 AND EXTRACT(hour FROM h) = 1
            UNION ALL
            SELECT 'monthly_snapshot', h FROM hours
            WHERE EXTRACT(day FROM h) = 1 AND EXTRACT(hour FROM h) = 2
        ), perhour AS (
            SELECT h, CAST(COUNT(*) AS BIGINT) AS nspecs FROM fires
            GROUP BY h
        )
        SELECT f.spec,
               CAST(COUNT(*) AS BIGINT) AS n_fires,
               strftime(MIN(f.h), '%Y-%m-%d %H') AS first_fire,
               strftime(MAX(f.h), '%Y-%m-%d %H') AS last_fire,
               CAST(SUM(CASE WHEN p.nspecs > 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_collision_hours
        FROM fires f JOIN perhour p ON p.h = f.h
        GROUP BY f.spec ORDER BY f.spec
    """,
    description="Scheduler calendar algebra as a first-class query: "
    "four cron-like specs (hourly, daily 03:00, Monday 01:00, "
    "monthly 1st 02:30 — minute granularity collapsed to the hour "
    "spine) expand over the event span, and each spec reports its "
    "fire count, span, and how many of its hours COLLIDE with "
    "another spec — the maintenance-window conflict audit every "
    "platform team runs before adding a job. The weekday predicate "
    "uses each engine's own Monday test (DuckDB isodow(h)=1, Spark "
    "weekday(h)=0): different function names, identical semantics, "
    "hash-identical output — the portable way to handle the "
    "dow-numbering trap. 100 TB shape: ONE min/max aggregate "
    "touches the fact table; the expansion is a bounded hour-spine "
    "computation (a few thousand rows at any volume).",
)
def ops_cron_schedule_expansion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    span = events.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    hours = span.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("h")
    ).localCheckpoint(eager=False)  # bounded hour spine; reused 4x
    fires = (
        hours.select(F.lit("hourly_etl").alias("spec"), "h")
        .unionAll(
            hours.where(F.hour("h") == 3).select(
                F.lit("daily_report").alias("spec"), "h"
            )
        )
        .unionAll(
            hours.where(
                (F.weekday("h") == 0) & (F.hour("h") == 1)
            ).select(F.lit("weekly_compact").alias("spec"), "h")
        )
        .unionAll(
            hours.where(
                (F.dayofmonth("h") == 1) & (F.hour("h") == 2)
            ).select(F.lit("monthly_snapshot").alias("spec"), "h")
        )
        .localCheckpoint(eager=False)  # feeds perhour AND the join
    )
    perhour = fires.groupBy("h").agg(
        F.count(F.lit(1)).cast("long").alias("nspecs")
    )
    return (
        fires.join(perhour, "h")
        .groupBy("spec")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_fires"),
            F.date_format(F.min("h"), "yyyy-MM-dd HH").alias(
                "first_fire"
            ),
            F.date_format(F.max("h"), "yyyy-MM-dd HH").alias(
                "last_fire"
            ),
            F.sum(F.when(F.col("nspecs") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_collision_hours"),
        )
        .orderBy("spec")
    )
