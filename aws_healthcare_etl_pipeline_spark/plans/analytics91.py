"""Wave-117 (round 5): ROC threshold sweep + EOQ batch sizing.

* ``ml_roc_threshold_sweep`` — the full confusion matrix at each
  score decile, derived WITHOUT a global sort: one (score value ->
  positives, negatives) histogram, prefix sums over the value
  spine, decile thresholds from cumulative counts, and every
  (tp, fp, fn, tn) cell plus precision/recall/F1 in exact integer
  permille — the ROC-curve companion to the repo's exact-AUC
  midrank machinery.
* ``inventory_eoq_batch_sizing`` — the economic order quantity
  sqrt(2DS/H) per part type. The ONLY double operations are one
  int64->double conversion (< 2^53, bit-portable) and one sqrt
  (IEEE-mandated correct rounding — the one libm call that IS
  portable, per the repo's portability rules), floored back to an
  integer lot size; the total-cost convexity check at q*/2, q*,
  2q* is pure integer arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.cumsum import distributed_running_total
from ..sources.tables import load_table
from .registry import buyers_1996, query

# --------------------------------------------- ROC threshold sweep


@query(
    "ml_roc_threshold_sweep",
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
                   CAST(SUM(1 - y) AS BIGINT) AS n_v
            FROM lab GROUP BY v
        ), cum AS (
            SELECT v, p_v, n_v,
                   CAST(SUM(p_v + n_v) OVER w AS BIGINT) AS c_incl,
                   CAST(SUM(p_v) OVER w AS BIGINT) AS cp_incl,
                   CAST(SUM(n_v) OVER w AS BIGINT) AS cn_incl
            FROM hist
            WINDOW w AS (ORDER BY v
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ), tot AS (
            SELECT CAST(SUM(p_v) AS BIGINT) AS p,
                   CAST(SUM(n_v) AS BIGINT) AS n,
                   CAST(SUM(p_v + n_v) AS BIGINT) AS m
            FROM hist
        ), cuts AS (
            SELECT d, MIN(v) AS thr,
                   MIN(cp_excl) AS fn_cnt, MIN(cn_excl) AS tn_cnt
            FROM (
                SELECT c.v, ((c.c_incl - 1) * 10) // t.n_all AS d,
                       c.cp_incl - c.p_v AS cp_excl,
                       c.cn_incl - c.n_v AS cn_excl
                FROM cum c CROSS JOIN (SELECT m AS n_all FROM tot) t
            )
            WHERE d BETWEEN 1 AND 9
            GROUP BY d
        )
        SELECT c.d AS decile, c.thr AS threshold_cents,
               CAST(t.p - c.fn_cnt AS BIGINT) AS tp,
               CAST(t.n - c.tn_cnt AS BIGINT) AS fp,
               CAST(c.fn_cnt AS BIGINT) AS fn,
               CAST(c.tn_cnt AS BIGINT) AS tn,
               CAST((t.p - c.fn_cnt) * 1000
                    // greatest(t.p - c.fn_cnt + t.n - c.tn_cnt, 1)
                    AS BIGINT) AS precision_permille,
               CAST((t.p - c.fn_cnt) * 1000 // greatest(t.p, 1)
                    AS BIGINT) AS recall_permille,
               CAST(2 * (t.p - c.fn_cnt) * 1000
                    // greatest(2 * (t.p - c.fn_cnt) + (t.n - c.tn_cnt)
                                + c.fn_cnt, 1) AS BIGINT)
                   AS f1_permille
        FROM cuts c CROSS JOIN tot t
        ORDER BY decile
    """,
    description="ROC/PR threshold sweep without a global sort: the "
    "classifier score (balance) reduces to ONE (value -> positives, "
    "negatives) histogram; prefix sums over the value spine give, "
    "at every candidate threshold simultaneously, the exact "
    "confusion matrix — threshold d is the first value of score "
    "decile d (value-tied deciles from cumulative counts, the "
    "engine-portable ranking), predictions are score >= threshold, "
    "and precision/recall/F1 land in exact integer permille. The "
    "companion to the repo's exact-AUC midrank identity: AUC "
    "summarizes the curve, this emits its nine operating points. "
    "100 TB shape: one labeled customer-grain aggregate, one value "
    "histogram shuffle, two-level-carry prefix on the spine — no "
    "row-level sort anywhere.",
)
def ml_roc_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    lab = buyers_1996(
        spark,
        sf_dir,
        (F.col("c_acctbal").cast("decimal(15,2)") * 100).cast("long").alias("v"),
    )
    hist = lab.groupBy("v").agg(
        F.sum("y").cast("long").alias("p_v"),
        F.sum(1 - F.col("y")).cast("long").alias("n_v"),
    )
    cum0 = distributed_running_total(
        hist.withColumn("vb", F.expr("v div 1048576")),
        (F.col("p_v") + F.col("n_v")).cast("long"),
        "vb",
        ["v"],
        out_col="c_incl",
        zero=F.lit(0).cast("bigint"),
    )
    cum1 = distributed_running_total(
        cum0,
        F.col("p_v"),
        "vb",
        ["v"],
        out_col="cp_incl",
        zero=F.lit(0).cast("bigint"),
    )
    cum = distributed_running_total(
        cum1,
        F.col("n_v"),
        "vb",
        ["v"],
        out_col="cn_incl",
        zero=F.lit(0).cast("bigint"),
    ).localCheckpoint(eager=False)
    tot = hist.agg(
        F.sum("p_v").cast("long").alias("p"),
        F.sum("n_v").cast("long").alias("n"),
        (F.sum("p_v") + F.sum("n_v")).cast("long").alias("m"),
    )
    cuts = (
        cum.crossJoin(F.broadcast(tot))
        .select(
            F.expr("((c_incl - 1) * 10) div m").alias("d"),
            "v",
            (F.col("cp_incl") - F.col("p_v")).alias("cp_excl"),
            (F.col("cn_incl") - F.col("n_v")).alias("cn_excl"),
        )
        .where((F.col("d") >= 1) & (F.col("d") <= 9))
        .groupBy("d")
        .agg(
            F.min("v").alias("thr"),
            F.min("cp_excl").cast("long").alias("fn_cnt"),
            F.min("cn_excl").cast("long").alias("tn_cnt"),
        )
    )
    return (
        cuts.crossJoin(F.broadcast(tot))
        .select(
            F.col("d").alias("decile"),
            F.col("thr").alias("threshold_cents"),
            (F.col("p") - F.col("fn_cnt")).cast("long").alias("tp"),
            (F.col("n") - F.col("tn_cnt")).cast("long").alias("fp"),
            F.col("fn_cnt").cast("long").alias("fn"),
            F.col("tn_cnt").cast("long").alias("tn"),
        )
        .select(
            "decile",
            "threshold_cents",
            "tp",
            "fp",
            "fn",
            "tn",
            F.expr(
                "CAST(tp * 1000 div greatest(tp + fp, 1) AS LONG)"
            ).alias("precision_permille"),
            F.expr(
                "CAST(tp * 1000 div greatest(tp + fn, 1) AS LONG)"
            ).alias("recall_permille"),
            F.expr(
                "CAST(2 * tp * 1000 div greatest(2 * tp + fp + fn, 1)"
                " AS LONG)"
            ).alias("f1_permille"),
        )
        .orderBy("decile")
    )


# ------------------------------------------------ EOQ sizing

_SETUP_CENTS = 5000  # S: fixed cost per order
_HOLD_CENTS = 250  # H: holding cost per unit-year


@query(
    "inventory_eoq_batch_sizing",
    oracle=f"""
        WITH demand AS (
            SELECT p.p_type AS ptype,
                   CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS d
            FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
            GROUP BY 1
        ), sized AS (
            SELECT ptype, d,
                   greatest(CAST(FLOOR(SQRT(CAST(
                       (2 * d * {_SETUP_CENTS}) // {_HOLD_CENTS}
                       AS DOUBLE))) AS BIGINT), 1) AS qstar
            FROM demand
        )
        SELECT ptype, d, qstar,
               CAST(d * {_SETUP_CENTS} // greatest(qstar // 2, 1)
                    + {_HOLD_CENTS} * greatest(qstar // 2, 1) // 2
                    AS BIGINT) AS cost_half_cents,
               CAST(d * {_SETUP_CENTS} // qstar
                    + {_HOLD_CENTS} * qstar // 2 AS BIGINT)
                   AS cost_opt_cents,
               CAST(d * {_SETUP_CENTS} // (2 * qstar)
                    + {_HOLD_CENTS} * (2 * qstar) // 2 AS BIGINT)
                   AS cost_double_cents
        FROM sized ORDER BY ptype
    """,
    description="Economic order quantity sqrt(2DS/H) per part type — "
    "the classical inventory batch-size optimum — with the total-"
    "cost curve evaluated at q*/2, q*, and 2q* so the convexity "
    "(cost rises on both sides) is visible in the result. "
    "Portability is the point: the radicand 2DS div H is exact "
    "integer, the int64->double conversion is a single IEEE "
    "rounding (< 2^53), and SQRT is the ONE libm function with "
    "IEEE-mandated correct rounding — so floor(sqrt(...)) is bit-"
    "identical across engines (repo portability rule; ln/exp/pow "
    "would not be). Cost columns are truncating integer division "
    "in both engines. 100 TB: one lineitem partial-agg shuffle to "
    "the bounded 150-type grain, broadcast part dim.",
)
def inventory_eoq_batch_sizing(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    line = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    demand = (
        line.join(F.broadcast(part), part.p_partkey == line.l_partkey)
        .groupBy(F.col("p_type").alias("ptype"))
        .agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("d"))
    )
    sized = demand.withColumn(
        "qstar",
        F.greatest(
            F.expr(
                f"CAST(FLOOR(SQRT(CAST((2 * d * {_SETUP_CENTS})"
                f" div {_HOLD_CENTS} AS DOUBLE))) AS LONG)"
            ),
            F.lit(1),
        ),
    )
    return sized.select(
        "ptype",
        "d",
        "qstar",
        F.expr(
            f"CAST(d * {_SETUP_CENTS} div greatest(qstar div 2, 1)"
            f" + {_HOLD_CENTS} * greatest(qstar div 2, 1) div 2 AS LONG)"
        ).alias("cost_half_cents"),
        F.expr(
            f"CAST(d * {_SETUP_CENTS} div qstar"
            f" + {_HOLD_CENTS} * qstar div 2 AS LONG)"
        ).alias("cost_opt_cents"),
        F.expr(
            f"CAST(d * {_SETUP_CENTS} div (2 * qstar)"
            f" + {_HOLD_CENTS} * (2 * qstar) div 2 AS LONG)"
        ).alias("cost_double_cents"),
    ).orderBy("ptype")
