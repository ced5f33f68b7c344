"""Wave-136 (round 5): Brier-Murphy decomposition + multiwindow SLO
burn alerts.

* ``ml_brier_murphy_decomposition`` — forecast verification's
  fundamental identity BS = REL - RES + UNC: segment base rates
  learned on the even-key half forecast 1996 purchases for the
  odd-key half; all rates are quantized to permille BEFORE the
  decomposition (documented contract), every term is exact
  integer micro (permille^2), and the residual identity gap —
  zero in real arithmetic, small and deterministic under
  quantization — is EMITTED so the quantization cost is visible
  rather than hidden.
* ``slo_multiwindow_burn_alerts`` — the Google-SRE-workbook alert
  rule: page only when BOTH the fast (1h) and slow (6h) error-
  budget burn rates exceed 2x. Hourly error shares over a 150-
  permille budget, the 6h window a 6-row frame on the bounded
  hour spine, burn rates exact integer milli via cross-
  multiplied division — the alert set every on-call rotation
  argues about, computed reproducibly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import buyers_1996, query

# --------------------------------------- Brier decomposition


@query(
    "ml_brier_murphy_decomposition",
    oracle="""
        WITH lab AS (
            SELECT c.c_custkey AS k, c.c_mktsegment AS seg,
                   CASE WHEN COUNT(CASE WHEN EXTRACT(year
                             FROM o.o_orderdate) = 1996 THEN 1 END) > 0
                        THEN 1 ELSE 0 END AS y
            FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
            GROUP BY 1, 2
        ), train AS (
            SELECT seg,
                   CAST(SUM(y) * 1000 // COUNT(*) AS BIGINT) AS p_m
            FROM lab WHERE k % 2 = 0 GROUP BY seg
        ), test AS (
            SELECT seg,
                   CAST(COUNT(*) AS BIGINT) AS n_s,
                   CAST(SUM(y) AS BIGINT) AS y_s
            FROM lab WHERE k % 2 = 1 GROUP BY seg
        ), joined AS (
            SELECT t.seg, t.n_s, t.y_s, tr.p_m,
                   CAST(t.y_s * 1000 // t.n_s AS BIGINT) AS yb_m
            FROM test t JOIN train tr ON tr.seg = t.seg
        ), tot AS (
            SELECT CAST(SUM(n_s) AS BIGINT) AS n,
                   CAST(SUM(y_s) AS BIGINT) AS yt,
                   CAST(SUM(y_s) * 1000 // SUM(n_s) AS BIGINT) AS ybar_m
            FROM joined
        ), terms AS (
            SELECT
              CAST(SUM(n_s * p_m * p_m - 2000 * p_m * y_s
                       + 1000000 * y_s) // MAX(t.n) AS BIGINT)
                  AS brier_micro,
              CAST(SUM(n_s * (p_m - yb_m) * (p_m - yb_m))
                   // MAX(t.n) AS BIGINT) AS rel_micro,
              CAST(SUM(n_s * (yb_m - t.ybar_m) * (yb_m - t.ybar_m))
                   // MAX(t.n) AS BIGINT) AS res_micro,
              CAST(MAX(t.ybar_m) * (1000 - MAX(t.ybar_m)) AS BIGINT)
                  AS unc_micro,
              CAST(MAX(t.n) AS BIGINT) AS n_test
            FROM joined CROSS JOIN tot t
        )
        SELECT n_test, brier_micro, rel_micro, res_micro, unc_micro,
               CAST(brier_micro - (rel_micro - res_micro + unc_micro)
                    AS BIGINT) AS identity_gap_micro
        FROM terms
    """,
    description="Murphy's decomposition of the Brier score — "
    "BS = reliability - resolution + uncertainty, the identity "
    "under every forecast-verification report: segment base rates "
    "fit on even customer keys forecast 1996 purchases for odd "
    "keys; all rates quantize to permille BEFORE decomposition "
    "(the documented contract), making every term an exact integer "
    "micro — and the identity gap, zero in real arithmetic, is "
    "EMITTED so the quantization cost is visible instead of "
    "silently absorbed. Complements the calibration-bins and AUC "
    "lanes: REL says how miscalibrated, RES says how much the "
    "segmentation actually discriminates, UNC is the floor no "
    "forecaster can beat. 100 TB shape: one labeled customer-grain "
    "aggregate, two segment aggregates, one scalar combine.",
)
def ml_brier_murphy_decomposition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # feeds train AND test splits
    lab = buyers_1996(
        spark, sf_dir, F.col("c_mktsegment").alias("seg")
    ).localCheckpoint(eager=False)
    train = (
        lab.where(F.col("k") % 2 == 0)
        .groupBy("seg")
        .agg(
            F.expr("CAST(SUM(y) * 1000 div COUNT(*) AS LONG)").alias(
                "p_m"
            )
        )
    )
    test = (
        lab.where(F.col("k") % 2 == 1)
        .groupBy("seg")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_s"),
            F.sum("y").cast("long").alias("y_s"),
        )
    )
    joined = (
        test.join(train, "seg")
        .withColumn(
            "yb_m", F.expr("CAST(y_s * 1000 div n_s AS LONG)")
        )
        .localCheckpoint(eager=False)  # bounded; feeds tot + terms
    )
    tot = joined.agg(
        F.sum("n_s").cast("long").alias("n"),
        F.expr(
            "CAST(SUM(y_s) * 1000 div SUM(n_s) AS LONG)"
        ).alias("ybar_m"),
    )
    terms = joined.crossJoin(F.broadcast(tot)).agg(
        F.expr(
            "CAST(SUM(n_s * p_m * p_m - 2000 * p_m * y_s"
            " + 1000000 * y_s) div MAX(n) AS LONG)"
        ).alias("brier_micro"),
        F.expr(
            "CAST(SUM(n_s * (p_m - yb_m) * (p_m - yb_m))"
            " div MAX(n) AS LONG)"
        ).alias("rel_micro"),
        F.expr(
            "CAST(SUM(n_s * (yb_m - ybar_m) * (yb_m - ybar_m))"
            " div MAX(n) AS LONG)"
        ).alias("res_micro"),
        F.expr(
            "CAST(MAX(ybar_m) * (1000 - MAX(ybar_m)) AS LONG)"
        ).alias("unc_micro"),
        F.max("n").cast("long").alias("n_test"),
    )
    return terms.select(
        "n_test",
        "brier_micro",
        "rel_micro",
        "res_micro",
        "unc_micro",
        (
            F.col("brier_micro")
            - (
                F.col("rel_micro")
                - F.col("res_micro")
                + F.col("unc_micro")
            )
        )
        .cast("long")
        .alias("identity_gap_micro"),
    )


# ------------------------------------- multiwindow burn alerts

_BUDGET_PERMILLE = 150  # error-budget: 15% error share
_BURN_THRESHOLD_MILLI = 2000  # page at 2x burn on BOTH windows


@query(
    "slo_multiwindow_burn_alerts",
    oracle=f"""
        WITH hourly AS (
            SELECT date_trunc('hour', ts) AS h,
                   CAST(COUNT(*) AS BIGINT) AS tot,
                   CAST(SUM(CASE WHEN event_type = 'error'
                                 THEN 1 ELSE 0 END) AS BIGINT) AS err
            FROM events GROUP BY 1
        ), windows AS (
            SELECT h, tot, err,
                   CAST(SUM(tot) OVER w6 AS BIGINT) AS tot6,
                   CAST(SUM(err) OVER w6 AS BIGINT) AS err6
            FROM hourly
            WINDOW w6 AS (ORDER BY h
                          ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
        )
        SELECT strftime(h, '%Y-%m-%d %H') AS hour,
               err, tot, err6, tot6,
               CAST(err * 1000000 // (tot * {_BUDGET_PERMILLE})
                    AS BIGINT) AS burn1_milli,
               CAST(err6 * 1000000 // (tot6 * {_BUDGET_PERMILLE})
                    AS BIGINT) AS burn6_milli
        FROM windows
        WHERE err * 1000000 > {_BURN_THRESHOLD_MILLI} * tot
                              * {_BUDGET_PERMILLE}
          AND err6 * 1000000 > {_BURN_THRESHOLD_MILLI} * tot6
                               * {_BUDGET_PERMILLE}
        ORDER BY hour
    """,
    description="Multiwindow error-budget burn alerting — the SRE-"
    "workbook rule that ended alert fatigue: page only when BOTH "
    "the fast 1-hour and slow 6-hour burn rates exceed 2x of a "
    "150-permille error budget (fast-only = noise blip, slow-only "
    "= stale incident; both = real and current). Hourly error "
    "shares reduce from the fact table once; the 6h window is a "
    "6-row frame on the BOUNDED hour spine; burn rates are exact "
    "integer milli via cross-multiplied division, and the alert "
    "predicate itself is a pure integer inequality — the alert "
    "set is bit-reproducible, which is what you want when the "
    "postmortem asks why the pager fired. 100 TB: one partial-agg "
    "shuffle, then spine algebra.",
)
def slo_multiwindow_burn_alerts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    hourly = events.groupBy(
        F.date_trunc("hour", "ts").alias("h")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("tot"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("long")
        .alias("err"),
    )
    # bounded hour spine: ordered window OK
    w6 = Window.orderBy("h").rowsBetween(-5, 0)
    windows = hourly.select(
        "h",
        "tot",
        "err",
        F.sum("tot").over(w6).cast("long").alias("tot6"),
        F.sum("err").over(w6).cast("long").alias("err6"),
    )
    b = _BUDGET_PERMILLE
    t = _BURN_THRESHOLD_MILLI
    return (
        windows.where(
            (F.col("err") * 1000000 > t * F.col("tot") * b)
            & (F.col("err6") * 1000000 > t * F.col("tot6") * b)
        )
        .select(
            F.date_format("h", "yyyy-MM-dd HH").alias("hour"),
            "err",
            "tot",
            "err6",
            "tot6",
            F.expr(
                f"CAST(err * 1000000 div (tot * {b}) AS LONG)"
            ).alias("burn1_milli"),
            F.expr(
                f"CAST(err6 * 1000000 div (tot6 * {b}) AS LONG)"
            ).alias("burn6_milli"),
        )
        .orderBy("hour")
    )
