"""Wave-133 (round 5): net dollar retention + CUSUM ARL calibration.

* ``finance_net_dollar_retention`` — the SaaS board metric: for
  each first-order cohort year, next-year spend by the SAME
  customers over cohort-year spend, exact integer permille —
  expansion vs churn in one number per cohort.
* ``stats_cusum_arl_calibration`` — every changepoint detector
  needs its false-alarm rate measured BEFORE deployment: 50
  deterministic null replicas (md5 noise around the measured daily
  mean, scaled by the measured mean absolute deviation) replay the
  one-sided CUSUM S_t = max(0, S_(t-1) + x_t - mu - k) against
  threshold h = 4*MAD, and the average run length to first false
  alarm (censored at the horizon) comes out exactly. Spark side:
  the partition-wise keyed_pandas_scan per replica; oracle: the
  identical recurrence as a recursive CTE — the repo's stateful-
  replay proof pattern applied to detector calibration.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.keyscan import keyed_pandas_scan
from ..sources.tables import load_table
from .registry import hex8, query, sql_hex8

# ------------------------------------------------- NDR


@query(
    "finance_net_dollar_retention",
    oracle="""
        WITH firsts AS (
            SELECT o_custkey AS k,
                   MIN(EXTRACT(year FROM o_orderdate)) AS cohort
            FROM orders GROUP BY 1
        ), spend AS (
            SELECT o_custkey AS k,
                   EXTRACT(year FROM o_orderdate) AS yr,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2)) * 100)
                        AS BIGINT) AS cents
            FROM orders GROUP BY 1, 2
        )
        SELECT f.cohort AS cohort_year,
               CAST(COUNT(DISTINCT f.k) AS BIGINT) AS n_customers,
               CAST(SUM(CASE WHEN s.yr = f.cohort
                             THEN s.cents ELSE 0 END) AS BIGINT)
                   AS spend_y0_cents,
               CAST(SUM(CASE WHEN s.yr = f.cohort + 1
                             THEN s.cents ELSE 0 END) AS BIGINT)
                   AS spend_y1_cents,
               CAST(SUM(CASE WHEN s.yr = f.cohort + 1
                             THEN s.cents ELSE 0 END) * 1000
                    // SUM(CASE WHEN s.yr = f.cohort
                                THEN s.cents ELSE 0 END) AS BIGINT)
                   AS ndr_permille
        FROM firsts f JOIN spend s ON s.k = f.k
        WHERE f.cohort < 2001
        GROUP BY f.cohort
        ORDER BY cohort_year
    """,
    description="Net dollar retention per first-order cohort — the "
    "SaaS metric boards actually read: next-year spend by the SAME "
    "customers over cohort-year spend, exact integer permille "
    "(expansion > 1000, churn < 1000), with cohort sizes and both "
    "dollar bases for the audit trail. Joins the first-order year "
    "(one aggregate) to per-(customer, year) spend (one aggregate) "
    "— at 100 TB both are partial-agg shuffles on the customer "
    "key, and the cohort matrix itself is bounded by years. The "
    "final-year cohort is excluded (its y+1 is beyond the data "
    "horizon by construction).",
)
def finance_net_dollar_retention(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    firsts = orders.groupBy(F.col("o_custkey").alias("k")).agg(
        F.min(F.year("o_orderdate")).alias("cohort")
    )
    spend = orders.groupBy(
        F.col("o_custkey").alias("k"),
        F.year("o_orderdate").alias("yr"),
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(15,2)") * 100)
        .cast("long")
        .alias("cents")
    )
    return (
        firsts.join(spend, "k")
        .where(F.col("cohort") < 2001)
        .groupBy(F.col("cohort").alias("cohort_year"))
        .agg(
            F.countDistinct("k").cast("long").alias("n_customers"),
            F.sum(
                F.when(F.col("yr") == F.col("cohort"), F.col("cents"))
                .otherwise(0)
            )
            .cast("long")
            .alias("spend_y0_cents"),
            F.sum(
                F.when(
                    F.col("yr") == F.col("cohort") + 1, F.col("cents")
                ).otherwise(0)
            )
            .cast("long")
            .alias("spend_y1_cents"),
        )
        .select(
            "cohort_year",
            "n_customers",
            "spend_y0_cents",
            "spend_y1_cents",
            F.expr(
                "CAST(spend_y1_cents * 1000 div spend_y0_cents AS LONG)"
            ).alias("ndr_permille"),
        )
        .orderBy("cohort_year")
    )


# ------------------------------------------- CUSUM ARL


_REPS = 50

# shared recurrence text: S' = max(0, S + noise - k); alarm at S' > h
_STEP = "greatest(CAST(0 AS BIGINT), s.cusum + g.noise - g.k)"


@query(
    "stats_cusum_arl_calibration",
    oracle=f"""
        WITH RECURSIVE daily AS MATERIALIZED (
            SELECT o_orderdate AS day,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2)) * 100)
                        AS BIGINT) AS x
            FROM orders GROUP BY 1
        ), cal AS MATERIALIZED (
            SELECT CAST(COUNT(*) AS BIGINT) AS nd,
                   CAST(SUM(x) // COUNT(*) AS BIGINT) AS mu,
                   CAST(SUM(abs(x - (SELECT SUM(x) // COUNT(*)
                                     FROM daily)))
                        // COUNT(*) AS BIGINT) AS mad
            FROM daily
        ), spine AS MATERIALIZED (
            SELECT r.r, i.i, c.nd, c.mad // 2 AS k, 4 * c.mad AS h,
                   ({sql_hex8(
                       "'arl:' || CAST(r.r AS VARCHAR) || ':' "
                       "|| CAST(i.i AS VARCHAR)")})
                       % (4 * c.mad + 1) - 2 * c.mad AS noise
            FROM range(1, {_REPS} + 1) r(r)
            CROSS JOIN cal c
            CROSS JOIN (SELECT unnest(range(1,
                (SELECT nd FROM cal) + 1)) AS i) i
        ), sim AS (
            SELECT r, i,
                   greatest(CAST(0 AS BIGINT), noise - k) AS cusum,
                   CASE WHEN greatest(CAST(0 AS BIGINT), noise - k) > h
                        THEN i ELSE 0 END AS alarm_i
            FROM spine WHERE i = 1
            UNION ALL
            SELECT g.r, g.i,
                   {_STEP},
                   CASE WHEN s.alarm_i > 0 THEN s.alarm_i
                        WHEN {_STEP} > g.h THEN g.i ELSE 0 END
            FROM sim s JOIN spine g ON g.r = s.r AND g.i = s.i + 1
        ), final AS (
            SELECT r, alarm_i,
                   row_number() OVER (PARTITION BY r ORDER BY i DESC)
                       AS rr
            FROM sim
        ), rl AS (
            SELECT r,
                   CASE WHEN alarm_i > 0 THEN alarm_i
                        ELSE (SELECT nd FROM cal) + 1 END AS run_len,
                   CASE WHEN alarm_i > 0 THEN 0 ELSE 1 END AS censored
            FROM final WHERE rr = 1
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_replicas,
               CAST(SUM(run_len) // COUNT(*) AS BIGINT) AS arl_days,
               CAST(SUM(censored) AS BIGINT) AS n_censored,
               CAST(MIN(run_len) AS BIGINT) AS min_run_len
        FROM rl
    """,
    description="CUSUM false-alarm calibration — the average run "
    "length (ARL) every detector must publish before production: "
    "50 deterministic null replicas draw md5 noise uniform in "
    "[-2*MAD, +2*MAD] around the measured daily-revenue mean, the "
    "one-sided CUSUM S_t = max(0, S_(t-1) + x_t - mu - k) with "
    "k = MAD/2 runs against threshold h = 4*MAD, and the mean days-"
    "to-first-false-alarm (horizon-censored) comes out exactly. "
    "Spark replays each replica sequentially via the partition-"
    "wise keyed_pandas_scan (50 keys, one shuffle); the oracle "
    "replays the IDENTICAL recurrence as a recursive CTE — the "
    "repo's stateful-replay proof applied to detector calibration. "
    "An ARL too short means the production changepoint monitor "
    "(the CUSUM lane) would page on noise. 100 TB shape: "
    "calibration statistics are one day-grain aggregate; the "
    "replicas are a bounded replicas x days spine.",
)
def stats_cusum_arl_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(15,2)") * 100)
        .cast("long")
        .alias("x")
    ).localCheckpoint(eager=False)
    mu_row = daily.agg(
        F.count(F.lit(1)).cast("long").alias("nd"),
        F.expr("CAST(SUM(x) div COUNT(*) AS LONG)").alias("mu"),
    )
    cal = (
        daily.crossJoin(F.broadcast(mu_row))
        .agg(
            F.max("nd").alias("nd"),
            F.expr(
                "CAST(SUM(abs(x - mu)) div COUNT(*) AS LONG)"
            ).alias("mad"),
        )
    )
    spine = (
        cal.select(
            "nd",
            F.expr("mad div 2").alias("k"),
            (4 * F.col("mad")).alias("h"),
            (4 * F.col("mad") + 1).alias("m"),
            (2 * F.col("mad")).alias("w"),
            F.explode(F.sequence(F.lit(1), F.lit(_REPS))).alias("r"),
        )
        .select(
            "r",
            "k",
            "h",
            "m",
            "w",
            F.explode(F.sequence(F.lit(1), F.col("nd"))).alias("i"),
        )
        .select(
            "r",
            "i",
            "k",
            "h",
            (
                hex8(
                    F.concat(
                        F.lit("arl:"),
                        F.col("r").cast("string"),
                        F.lit(":"),
                        F.col("i").cast("string"),
                    )
                )
                % F.col("m")
                - F.col("w")
            ).alias("noise"),
        )
    )

    def cusum_scan(pdf: pd.DataFrame) -> pd.DataFrame:
        # rows arrive pre-sorted by i; ints are exact
        k = int(pdf["k"].iloc[0])
        h = int(pdf["h"].iloc[0])
        s, alarm = 0, 0
        n = len(pdf)
        for idx, noise in enumerate(pdf["noise"].tolist(), start=1):
            s = max(0, s + int(noise) - k)
            if alarm == 0 and s > h:
                alarm = idx
        return pd.DataFrame(
            {
                "r": [int(pdf["r"].iloc[0])],
                "run_len": [alarm if alarm > 0 else n + 1],
                "censored": [0 if alarm > 0 else 1],
            }
        )

    rl = keyed_pandas_scan(
        spine,
        "r",
        ["i"],
        cusum_scan,
        "r long, run_len long, censored long",
    )
    return rl.agg(
        F.count(F.lit(1)).cast("long").alias("n_replicas"),
        F.expr("CAST(SUM(run_len) div COUNT(*) AS LONG)").alias(
            "arl_days"
        ),
        F.sum("censored").cast("long").alias("n_censored"),
        F.min("run_len").cast("long").alias("min_run_len"),
    )
