"""Wave-113 (round 5): randomized-response privacy estimator +
optimizer histogram selectivity audit.

* ``privacy_randomized_response_estimate`` — Warner's randomized
  response (the original local-DP mechanism): each respondent
  reports the truth with probability 3/4 and the opposite with
  probability 1/4, where the "coin" is an md5 hash both engines
  derive identically; the de-biased estimator
  pi_hat = 2*lambda - 1/2 is computed in exact integer permille
  and compared against the (known) true rate per market segment.
* ``stats_histogram_selectivity_audit`` — the optimizer component
  every engine carries: estimate range-predicate selectivity from
  (a) a 16-bucket equi-WIDTH histogram and (b) a 20-bucket
  equi-DEPTH histogram, both with uniform-within-bucket linear
  interpolation in exact integer arithmetic, and audit both
  estimates against the true count — demonstrating on real data
  why equi-depth wins on skew. Both histograms AND the truth come
  from ONE value-grain histogram, so the fact table is scanned
  once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.cumsum import distributed_running_total
from ..sources.tables import load_table
from .registry import hex8, query, sql_hex8


# ------------------------------------------- randomized response


@query(
    "privacy_randomized_response_estimate",
    oracle=f"""
        WITH resp AS (
            SELECT c_mktsegment AS seg,
                   CASE WHEN CAST(c_acctbal AS DECIMAL(15,2)) * 100 > 500000
                        THEN 1 ELSE 0 END AS truth,
                   CASE WHEN ({sql_hex8(
                       "'rr:' || CAST(c_custkey AS VARCHAR)")}) % 4 = 0
                        THEN 1 ELSE 0 END AS lie
            FROM customer
        )
        SELECT seg,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(truth) AS BIGINT) AS true_yes,
               CAST(SUM(CASE WHEN lie = 1 THEN 1 - truth ELSE truth END)
                    AS BIGINT) AS reported_yes,
               CAST(SUM(truth) * 1000 // COUNT(*) AS BIGINT)
                   AS true_rate_permille,
               CAST((2000 * SUM(CASE WHEN lie = 1 THEN 1 - truth
                                     ELSE truth END) - 500 * COUNT(*))
                    // COUNT(*) AS BIGINT) AS est_rate_permille
        FROM resp GROUP BY seg ORDER BY seg
    """,
    description="Warner randomized response — the original local-DP "
    "mechanism, still the backbone of telemetry privacy (RAPPOR-"
    "style): each customer 'reports' whether their balance exceeds "
    "$5k truthfully with probability 3/4, lying on an md5 coin both "
    "engines flip identically, and the de-biased estimator "
    "pi_hat = 2*lambda - 1/2 is computed per market segment in "
    "exact integer permille — (2000*yes - 500*n) div n — next to "
    "the known true rate, so the query doubles as an accuracy "
    "audit of the mechanism. 100 TB shape: one narrow projection "
    "and one partial-agg shuffle; the noise is per-row hash "
    "arithmetic inside codegen, no RNG state anywhere — exactly "
    "how a privacy-preserving aggregate should run on a cluster.",
)
def privacy_randomized_response_estimate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    resp = cust.select(
        F.col("c_mktsegment").alias("seg"),
        F.when(
            F.col("c_acctbal").cast("decimal(15,2)") * 100 > 500000, 1
        )
        .otherwise(0)
        .alias("truth"),
        F.when(
            hex8(F.concat(F.lit("rr:"), F.col("c_custkey").cast("string")))
            % 4
            == 0,
            1,
        )
        .otherwise(0)
        .alias("lie"),
    )
    return (
        resp.groupBy("seg")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("truth").cast("long").alias("true_yes"),
            F.sum(
                F.when(F.col("lie") == 1, 1 - F.col("truth")).otherwise(
                    F.col("truth")
                )
            )
            .cast("long")
            .alias("reported_yes"),
        )
        .select(
            "seg",
            "n",
            "true_yes",
            "reported_yes",
            F.expr("CAST(true_yes * 1000 div n AS LONG)").alias(
                "true_rate_permille"
            ),
            F.expr(
                "CAST((2000 * reported_yes - 500 * n) div n AS LONG)"
            ).alias("est_rate_permille"),
        )
        .orderBy("seg")
    )


# --------------------------------- histogram selectivity audit

_EQW_B = 16  # equi-width buckets
_EQD_B = 20  # equi-depth buckets
_PREDS = (10_000_000, 25_000_000, 40_000_000)  # "> X cents" predicates


def _sel_pred_rows_sql() -> str:
    return " UNION ALL ".join(
        f"SELECT CAST({x} AS BIGINT) AS x" for x in _PREDS
    )


@query(
    "stats_histogram_selectivity_audit",
    oracle=f"""
        WITH hist AS (
            SELECT CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100
                        AS BIGINT) AS v,
                   CAST(COUNT(*) AS BIGINT) AS h
            FROM orders GROUP BY 1
        ), bounds AS (
            SELECT MIN(v) AS lo, MAX(v) AS hi,
                   CAST(SUM(h) AS BIGINT) AS n,
                   greatest((MAX(v) - MIN(v)) // {_EQW_B} + 1, 1) AS w
            FROM hist
        ), cum AS (
            SELECT v, h,
                   CAST(SUM(h) OVER (ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS c_incl
            FROM hist
        ), eqw AS (
            SELECT (c.v - b.lo) // b.w AS bkt,
                   MIN(c.v) AS blo, MAX(c.v) AS bhi,
                   CAST(SUM(c.h) AS BIGINT) AS cnt
            FROM cum c CROSS JOIN bounds b GROUP BY 1
        ), eqd AS (
            SELECT ((c.c_incl - 1) * {_EQD_B}) // b.n AS bkt,
                   MIN(c.v) AS blo, MAX(c.v) AS bhi,
                   CAST(SUM(c.h) AS BIGINT) AS cnt
            FROM cum c CROSS JOIN bounds b GROUP BY 1
        ), preds AS ({_sel_pred_rows_sql()}),
        truth AS (
            SELECT p.x, CAST(COALESCE(SUM(c.h), 0) AS BIGINT) AS true_cnt
            FROM preds p LEFT JOIN cum c ON c.v > p.x GROUP BY p.x
        ), est_w AS (
            SELECT p.x,
                   CAST(SUM(CASE
                       WHEN e.blo > p.x THEN e.cnt
                       WHEN e.bhi > p.x THEN
                           e.cnt * (e.bhi - p.x) // (e.bhi - e.blo + 1)
                       ELSE 0 END) AS BIGINT) AS est
            FROM preds p CROSS JOIN eqw e GROUP BY p.x
        ), est_d AS (
            SELECT p.x,
                   CAST(SUM(CASE
                       WHEN e.blo > p.x THEN e.cnt
                       WHEN e.bhi > p.x THEN
                           e.cnt * (e.bhi - p.x) // (e.bhi - e.blo + 1)
                       ELSE 0 END) AS BIGINT) AS est
            FROM preds p CROSS JOIN eqd e GROUP BY p.x
        )
        SELECT t.x AS pred_gt_cents, t.true_cnt,
               w.est AS est_eqwidth, d.est AS est_eqdepth,
               CAST((w.est - t.true_cnt) * 1000
                    // greatest(t.true_cnt, 1) AS BIGINT)
                   AS err_eqwidth_permille,
               CAST((d.est - t.true_cnt) * 1000
                    // greatest(t.true_cnt, 1) AS BIGINT)
                   AS err_eqdepth_permille
        FROM truth t JOIN est_w w ON w.x = t.x JOIN est_d d ON d.x = t.x
        ORDER BY pred_gt_cents
    """,
    description="Cost-model selectivity audit — the histogram "
    "machinery inside every query optimizer, run as a first-class "
    "query: ONE value-grain histogram of order totals yields (a) a "
    "16-bucket equi-width histogram, (b) a 20-bucket equi-depth "
    "histogram (bucket of a value = ((c_incl-1)*B) div N over "
    "cumulative counts — no global row sort), and (c) the exact "
    "truth for three range predicates; both estimators use uniform-"
    "within-bucket interpolation cnt*(bhi-x) div (bhi-blo+1) in "
    "pure integer arithmetic, and signed permille errors are "
    "reported side by side — the measured demonstration of why "
    "engines (and this repo's zone-map/NDV audits) prefer "
    "equi-depth under skew. 100 TB shape: the fact table is "
    "scanned ONCE into the value histogram; truth and both "
    "estimates are spine algebra after that.",
)
def stats_histogram_selectivity_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    hist = orders.groupBy(
        (F.col("o_totalprice").cast("decimal(15,2)") * 100)
        .cast("long")
        .alias("v")
    ).agg(F.count(F.lit(1)).cast("long").alias("h"))
    cum = distributed_running_total(
        hist.withColumn("vb", F.expr("v div 1048576")),
        F.col("h"),
        "vb",
        ["v"],
        out_col="c_incl",
        zero=F.lit(0).cast("bigint"),
    ).select("v", "h", "c_incl").localCheckpoint(eager=False)
    bounds = cum.agg(
        F.min("v").alias("lo"),
        F.max("v").alias("hi"),
        F.sum("h").cast("long").alias("n"),
    ).withColumn(
        "w",
        F.greatest(F.expr(f"(hi - lo) div {_EQW_B} + 1"), F.lit(1)),
    )
    eqw = (
        cum.crossJoin(F.broadcast(bounds))
        .groupBy(F.expr("(v - lo) div w").alias("bkt"))
        .agg(
            F.min("v").alias("blo"),
            F.max("v").alias("bhi"),
            F.sum("h").cast("long").alias("cnt"),
        )
    )
    eqd = (
        cum.crossJoin(F.broadcast(bounds))
        .groupBy(F.expr(f"((c_incl - 1) * {_EQD_B}) div n").alias("bkt"))
        .agg(
            F.min("v").alias("blo"),
            F.max("v").alias("bhi"),
            F.sum("h").cast("long").alias("cnt"),
        )
    )
    preds = spark.createDataFrame(
        [(x,) for x in _PREDS], "x long"
    )
    truth = (
        preds.join(cum, cum.v > preds.x, "left")
        .groupBy("x")
        .agg(F.coalesce(F.sum("h"), F.lit(0)).cast("long").alias("true_cnt"))
    )
    interp = (
        "CAST(SUM(CASE WHEN blo > x THEN cnt "
        "WHEN bhi > x THEN cnt * (bhi - x) div (bhi - blo + 1) "
        "ELSE 0 END) AS LONG)"
    )
    est_w = (
        preds.crossJoin(eqw)
        .groupBy("x")
        .agg(F.expr(interp).alias("est_eqwidth"))
    )
    est_d = (
        preds.crossJoin(eqd)
        .groupBy("x")
        .agg(F.expr(interp).alias("est_eqdepth"))
    )
    return (
        truth.join(est_w, "x")
        .join(est_d, "x")
        .select(
            F.col("x").alias("pred_gt_cents"),
            "true_cnt",
            "est_eqwidth",
            "est_eqdepth",
            F.expr(
                "CAST((est_eqwidth - true_cnt) * 1000"
                " div greatest(true_cnt, 1) AS LONG)"
            ).alias("err_eqwidth_permille"),
            F.expr(
                "CAST((est_eqdepth - true_cnt) * 1000"
                " div greatest(true_cnt, 1) AS LONG)"
            ).alias("err_eqdepth_permille"),
        )
        .orderBy("pred_gt_cents")
    )
