"""Wave-124 (round 5): jackknife ratio variance + eval-set sizing.

* ``stats_jackknife_ratio_variance`` — the delete-one jackknife for
  a RATIO estimator (average order value = revenue/orders), where
  naive per-group variance formulas are biased: each day's leave-
  one-out estimate theta_i = (S - s_i)/(N - n_i) is an exact
  integer (cents, truncating division), and the jackknife standard
  error sqrt((n-1)/n^3 * (n*St2 - St^2)) keeps the radicand an
  exact integer below 2^53 before the one portable sqrt. Bias
  correction (n-1)*(mean(theta_i) - theta) rides along.
* ``ml_evalset_sizing_curve`` — how big must an eval panel be? The
  frozen known-truth classifier (wave-111 setup) is scored on
  NESTED md5 subsets of 1/16 .. 16/16 of customers; the accuracy
  estimate's convergence to the full-population value is visible
  as an exact permille deviation per subset size — the standard
  eval-set sizing audit run entirely in one pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import SEG_W, SQL_SEG_SCORE, hex8, query, sql_hex8

# --------------------------------------------- jackknife


@query(
    "stats_jackknife_ratio_variance",
    oracle="""
        WITH daily AS (
            SELECT o_orderdate AS day,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2)) * 100)
                        AS BIGINT) AS s_i,
                   CAST(COUNT(*) AS BIGINT) AS n_i
            FROM orders GROUP BY 1
        ), tot AS (
            SELECT CAST(SUM(s_i) AS BIGINT) AS s,
                   CAST(SUM(n_i) AS BIGINT) AS n,
                   CAST(COUNT(*) AS BIGINT) AS nd
            FROM daily
        ), loo AS (
            SELECT (t.s - d.s_i) // (t.n - d.n_i) AS t_i
            FROM daily d CROSS JOIN tot t
        ), mom AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS nd,
                   CAST(SUM(t_i) AS BIGINT) AS st,
                   CAST(SUM(t_i * t_i) AS HUGEINT) AS st2
            FROM loo
        )
        SELECT m.nd AS n_days,
               CAST(t.s // t.n AS BIGINT) AS theta_cents,
               CAST(m.st // m.nd AS BIGINT) AS jk_mean_cents,
               CAST(FLOOR(SQRT(CAST(
                   (m.nd - 1) * (m.nd * m.st2 - CAST(m.st AS HUGEINT)
                                 * m.st)
                   // (CAST(m.nd AS HUGEINT) * m.nd * m.nd)
                   AS DOUBLE))) AS BIGINT) AS jk_se_cents,
               CAST((m.nd - 1) * (m.st // m.nd - t.s // t.n) AS BIGINT)
                   AS jk_bias_cents
        FROM mom m CROSS JOIN tot t
    """,
    description="Delete-one jackknife for the average-order-value "
    "RATIO estimator — the standard variance tool where per-group "
    "formulas are biased because both numerator and denominator "
    "are random: each day's leave-one-out estimate "
    "(S - s_i) div (N - n_i) is exact integer cents, the jackknife "
    "SE is sqrt((nd-1) * (nd*St2 - St^2) / nd^3) with the radicand "
    "reduced EXACTLY in HUGEINT/DECIMAL(38) to an integer below "
    "2^53 before the single IEEE-correct sqrt, and the jackknife "
    "bias correction (nd-1)*(mean(theta_i) - theta) is pure "
    "integer. 100 TB shape: one partial-agg shuffle to the bounded "
    "day grain; the n leave-one-out estimates are spine algebra "
    "against one broadcast total — the jackknife without ever "
    "recomputing the aggregate n times.",
)
def stats_jackknife_ratio_variance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(15,2)") * 100)
        .cast("long")
        .alias("s_i"),
        F.count(F.lit(1)).cast("long").alias("n_i"),
    ).localCheckpoint(eager=False)  # bounded spine; feeds tot + loo
    tot = daily.agg(
        F.sum("s_i").cast("long").alias("s"),
        F.sum("n_i").cast("long").alias("n"),
    )
    loo = daily.crossJoin(F.broadcast(tot)).select(
        F.expr("(s - s_i) div (n - n_i)").alias("t_i")
    )
    d38 = "decimal(38,0)"
    mom = loo.agg(
        F.count(F.lit(1)).cast("long").alias("nd"),
        F.sum("t_i").cast("long").alias("st"),
        F.sum(F.col("t_i") * F.col("t_i")).cast(d38).alias("st2"),
    )
    return mom.crossJoin(F.broadcast(tot)).select(
        F.col("nd").alias("n_days"),
        F.expr("CAST(s div n AS LONG)").alias("theta_cents"),
        F.expr("CAST(st div nd AS LONG)").alias("jk_mean_cents"),
        F.expr(
            f"""CAST(FLOOR(SQRT(CAST(
                (nd - 1) * (nd * st2 - CAST(st AS {d38}) * st)
                div (CAST(nd AS {d38}) * nd * nd)
                AS DOUBLE))) AS LONG)"""
        ).alias("jk_se_cents"),
        F.expr(
            "CAST((nd - 1) * (st div nd - s div n) AS LONG)"
        ).alias("jk_bias_cents"),
    )


# ------------------------------------------ eval-set sizing


_FRACTIONS = (1, 2, 4, 8, 16)  # sixteenths, nested


@query(
    "ml_evalset_sizing_curve",
    oracle=f"""
        WITH scored AS (
            SELECT ({sql_hex8("'lc:' || CAST(c_custkey AS VARCHAR)")})
                       % 16 AS bucket,
                   CASE WHEN ({SQL_SEG_SCORE} > 10000)
                             = ({SQL_SEG_SCORE}
                                + ({sql_hex8(
                                    "'noise:' || CAST(c_custkey"
                                    " AS VARCHAR)")}) % 4000 > 8000)
                        THEN 1 ELSE 0 END AS ok
            FROM customer
        ), full_acc AS (
            SELECT CAST(SUM(ok) * 1000 // COUNT(*) AS BIGINT) AS acc_full
            FROM scored
        )
        SELECT CAST(m AS BIGINT) AS sixteenths,
               CAST(COUNT(*) AS BIGINT) AS n_eval,
               CAST(SUM(ok) * 1000 // COUNT(*) AS BIGINT) AS acc_permille,
               CAST(abs(SUM(ok) * 1000 // COUNT(*) - f.acc_full)
                    AS BIGINT) AS abs_dev_permille
        FROM scored s
        CROSS JOIN (SELECT unnest({list(_FRACTIONS)}) AS m) fr
        CROSS JOIN full_acc f
        WHERE s.bucket < fr.m
        GROUP BY m, f.acc_full ORDER BY sixteenths
    """,
    description="Eval-set sizing curve for the repo's frozen known-"
    "truth classifier (wave-111 setup: planted label = features + "
    "md5 noise, miscalibrated frozen scorer): accuracy is measured "
    "on NESTED md5 subsets of 1/16, 2/16, 4/16, 8/16 and the full "
    "population, and each subset's exact permille deviation from "
    "the full-population accuracy shows the estimate converging — "
    "the audit that tells you how small an eval panel you can "
    "afford before the readout is noise. Nesting (bucket < m) "
    "means one pass computes every curve point: a single narrow "
    "projection, one 16-way bucket hash, and per-fraction "
    "conditional aggregation — no re-scoring per point, which is "
    "what makes the curve free at 100 TB.",
)
def ml_evalset_sizing_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    f1 = (F.col("c_acctbal").cast("decimal(15,2)") * 100).cast("long")
    f2 = F.expr(SEG_W).cast("long")
    noise = (
        hex8(F.concat(F.lit("noise:"), F.col("c_custkey").cast("string")))
        % 4000
    )
    model = F.expr("f1 div 100") + F.col("f2") * 10 > 10000
    truth = (
        F.expr("f1 div 100") + F.col("f2") * 10 + F.col("noise") > 8000
    )
    scored = cust.select(
        (
            hex8(F.concat(F.lit("lc:"), F.col("c_custkey").cast("string")))
            % 16
        ).alias("bucket"),
        f1.alias("f1"),
        f2.alias("f2"),
        noise.alias("noise"),
    ).select(
        "bucket",
        F.when(model == truth, 1).otherwise(0).alias("ok"),
    ).localCheckpoint(eager=False)  # feeds full_acc AND the curve
    full_acc = scored.agg(
        F.expr("CAST(SUM(ok) * 1000 div COUNT(*) AS LONG)").alias(
            "acc_full"
        )
    )
    fr = spark.createDataFrame([(m,) for m in _FRACTIONS], "m int")
    return (
        scored.crossJoin(F.broadcast(fr))
        .where(F.col("bucket") < F.col("m"))
        .crossJoin(F.broadcast(full_acc))
        .groupBy(F.col("m").alias("sixteenths"), "acc_full")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_eval"),
            F.expr("CAST(SUM(ok) * 1000 div COUNT(*) AS LONG)").alias(
                "acc_permille"
            ),
        )
        .select(
            F.col("sixteenths").cast("long").alias("sixteenths"),
            "n_eval",
            "acc_permille",
            F.abs(F.col("acc_permille") - F.col("acc_full"))
            .cast("long")
            .alias("abs_dev_permille"),
        )
        .orderBy("sixteenths")
    )
