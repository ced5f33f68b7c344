"""Wave-123 (round 5): newsvendor stocking + sample-ratio-mismatch
guardrail.

* ``inventory_newsvendor_quantile`` — the newsvendor optimum: with
  underage cost 6 and overage cost 2 the optimal stock is the 3/4
  demand quantile, found per brand as the smallest demand value
  with 4*cumcount >= 3*n over the per-brand daily-demand
  histogram; expected cost at q* and at mean-stocking are exact
  integer sums derived from the same histogram (cnt_le*q - sum_le
  and its complement), making the classic 'quantile beats mean'
  result visible row by row.
* ``experiment_srm_guardrail`` — the first gate of every A/B
  readout: a chi-square sample-ratio-mismatch check per segment,
  (nt-nc)^2 * 1000 > 3841 * (nt+nc) by integer cross-
  multiplication (alpha=0.05, 1 df). One segment carries a PLANTED
  logging bug (20% of treated units silently dropped), so the
  guardrail MUST flag exactly that segment — a self-auditing
  demonstration that the check catches broken randomization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import hex8, query, sql_hex8

# --------------------------------------------- newsvendor

_CU = 6  # underage (lost margin) per unit
_CO = 2  # overage (holding/scrap) per unit
# critical ratio cu/(cu+co) = 3/4


@query(
    "inventory_newsvendor_quantile",
    oracle=f"""
        WITH demand AS (
            SELECT p.p_brand AS brand, l.l_shipdate AS day,
                   CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS d
            FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
            GROUP BY 1, 2
        ), hist AS (
            SELECT brand, d, CAST(COUNT(*) AS BIGINT) AS h
            FROM demand GROUP BY brand, d
        ), cum AS (
            SELECT brand, d, h,
                   CAST(SUM(h) OVER w AS BIGINT) AS c_incl,
                   CAST(SUM(d * h) OVER w AS BIGINT) AS s_incl
            FROM hist
            WINDOW w AS (PARTITION BY brand ORDER BY d
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ), tot AS (
            SELECT brand, CAST(SUM(h) AS BIGINT) AS n,
                   CAST(SUM(d * h) AS BIGINT) AS s
            FROM hist GROUP BY brand
        ), qstar AS (
            SELECT c.brand, MIN(c.d) AS q,
                   MIN(c.c_incl) AS cnt_le, MIN(c.s_incl) AS sum_le
            FROM cum c JOIN tot t ON t.brand = c.brand
            WHERE 4 * c.c_incl >= 3 * t.n
            GROUP BY c.brand
        ), qmean AS (
            SELECT t.brand, t.s // t.n AS q FROM tot t
        ), mstats AS (
            SELECT c.brand, m.q,
                   MAX(CASE WHEN c.d <= m.q THEN c.c_incl ELSE 0 END)
                       AS cnt_le,
                   MAX(CASE WHEN c.d <= m.q THEN c.s_incl ELSE 0 END)
                       AS sum_le
            FROM cum c JOIN qmean m ON m.brand = c.brand
            GROUP BY c.brand, m.q
        )
        SELECT q.brand, t.n AS n_days, q.q AS q_star,
               CAST({_CO} * (q.cnt_le * q.q - q.sum_le)
                    + {_CU} * ((t.s - q.sum_le)
                               - (t.n - q.cnt_le) * q.q) AS BIGINT)
                   AS cost_at_qstar,
               m.q AS q_mean,
               CAST({_CO} * (m.cnt_le * m.q - m.sum_le)
                    + {_CU} * ((t.s - m.sum_le)
                               - (t.n - m.cnt_le) * m.q) AS BIGINT)
                   AS cost_at_mean
        FROM qstar q
        JOIN tot t ON t.brand = q.brand
        JOIN mstats m ON m.brand = q.brand
        ORDER BY q.brand
    """,
    description="Newsvendor optimal stocking per brand: with "
    "underage cost 6 and overage cost 2, the optimum is the 3/4 "
    "demand quantile — the smallest daily demand value whose "
    "cumulative count satisfies 4*c >= 3*n over the per-brand "
    "demand histogram (partitioned prefix over a day-bounded "
    "spine, no global sort) — and the expected cost identity "
    "cost(q) = co*(cnt_le*q - sum_le) + cu*((s - sum_le) - "
    "(n - cnt_le)*q) prices BOTH q* and naive mean-stocking from "
    "the same histogram in exact integers, exhibiting the classic "
    "result that the quantile beats the mean under asymmetric "
    "costs. 100 TB shape: one lineitem partial-agg shuffle to "
    "(brand, day), histogram algebra after; the quantile needs no "
    "row-level sort anywhere.",
)
def inventory_newsvendor_quantile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    line = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    demand = (
        line.join(F.broadcast(part), part.p_partkey == line.l_partkey)
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.col("l_shipdate").alias("day"),
        )
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("d"))
    )
    hist = demand.groupBy("brand", "d").agg(
        F.count(F.lit(1)).cast("long").alias("h")
    )
    # per-brand value spine, bounded by the day count: window OK
    w = (
        Window.partitionBy("brand")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = hist.select(
        "brand",
        "d",
        "h",
        F.sum("h").over(w).cast("long").alias("c_incl"),
        F.sum(F.col("d") * F.col("h")).over(w).cast("long").alias("s_incl"),
    ).localCheckpoint(eager=False)  # feeds tot/qstar/mstats
    tot = cum.groupBy("brand").agg(
        F.max("c_incl").cast("long").alias("n"),
        F.max("s_incl").cast("long").alias("s"),
    )
    qstar = (
        cum.join(tot, "brand")
        .where(4 * F.col("c_incl") >= 3 * F.col("n"))
        .groupBy("brand")
        .agg(
            F.min("d").alias("q"),
            F.min("c_incl").cast("long").alias("cnt_le"),
            F.min("s_incl").cast("long").alias("sum_le"),
        )
    )
    qmean = tot.select("brand", F.expr("s div n").alias("qm"))
    mstats = (
        cum.join(qmean, "brand")
        .groupBy("brand", "qm")
        .agg(
            F.max(
                F.when(F.col("d") <= F.col("qm"), F.col("c_incl")).otherwise(
                    0
                )
            )
            .cast("long")
            .alias("m_cnt_le"),
            F.max(
                F.when(F.col("d") <= F.col("qm"), F.col("s_incl")).otherwise(
                    0
                )
            )
            .cast("long")
            .alias("m_sum_le"),
        )
    )
    cost = (
        "CAST({co} * ({c} * {q} - {s}) + {cu} * ((s - {s})"
        " - (n - {c}) * {q}) AS LONG)"
    )
    return (
        qstar.join(tot, "brand")
        .join(mstats, "brand")
        .select(
            "brand",
            F.col("n").alias("n_days"),
            F.col("q").alias("q_star"),
            F.expr(
                cost.format(co=_CO, cu=_CU, c="cnt_le", q="q", s="sum_le")
            ).alias("cost_at_qstar"),
            F.col("qm").alias("q_mean"),
            F.expr(
                cost.format(
                    co=_CO, cu=_CU, c="m_cnt_le", q="qm", s="m_sum_le"
                )
            ).alias("cost_at_mean"),
        )
        .orderBy("brand")
    )


# --------------------------------------------- SRM guardrail


_CHI2_05_MILLI = 3841  # chi-square critical value, 1 df, alpha=0.05
_BUGGY_SEGMENT = "BUILDING"


@query(
    "experiment_srm_guardrail",
    oracle=f"""
        WITH assigned AS (
            SELECT c_mktsegment AS seg,
                   CASE WHEN ({sql_hex8(
                       "'srm:' || CAST(c_custkey AS VARCHAR)")}) % 2 = 0
                        THEN 1 ELSE 0 END AS t,
                   CASE WHEN ({sql_hex8(
                       "'drop:' || CAST(c_custkey AS VARCHAR)")}) % 5 = 0
                        THEN 1 ELSE 0 END AS dropped
            FROM customer
        ), logged AS (
            SELECT seg, t FROM assigned
            WHERE NOT (seg = '{_BUGGY_SEGMENT}' AND t = 1 AND dropped = 1)
        ), counts AS (
            SELECT seg,
                   CAST(SUM(t) AS BIGINT) AS nt,
                   CAST(SUM(1 - t) AS BIGINT) AS nc
            FROM logged GROUP BY seg
        )
        SELECT seg, nt, nc,
               CAST((nt - nc) * (nt - nc) * 1000 // (nt + nc) AS BIGINT)
                   AS srm_stat_milli,
               CASE WHEN (nt - nc) * (nt - nc) * 1000
                         > {_CHI2_05_MILLI} * (nt + nc)
                    THEN 1 ELSE 0 END AS srm_flag
        FROM counts ORDER BY seg
    """,
    description="Sample-ratio-mismatch guardrail — the first gate "
    "of every A/B readout: per segment, the chi-square statistic "
    "for a 50/50 split reduces to (nt-nc)^2/(nt+nc), tested at "
    "alpha=0.05 by the integer cross-multiplication "
    "(nt-nc)^2 * 1000 > 3841 * (nt+nc). The query PLANTS the "
    "classic failure — the BUILDING segment silently loses 20% of "
    "its treated units (a deterministic md5 'logging bug') — so "
    "the guardrail must flag exactly that segment and no healthy "
    "one, making the check self-auditing. Exact integers end to "
    "end. 100 TB shape: one narrow projection and one partial-agg "
    "shuffle per segment — SRM costs nothing, which is why there "
    "is no excuse for shipping an experiment readout without it.",
)
def experiment_srm_guardrail(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    assigned = cust.select(
        F.col("c_mktsegment").alias("seg"),
        F.when(
            hex8(F.concat(F.lit("srm:"), F.col("c_custkey").cast("string")))
            % 2
            == 0,
            1,
        )
        .otherwise(0)
        .alias("t"),
        F.when(
            hex8(F.concat(F.lit("drop:"), F.col("c_custkey").cast("string")))
            % 5
            == 0,
            1,
        )
        .otherwise(0)
        .alias("dropped"),
    )
    logged = assigned.where(
        ~(
            (F.col("seg") == _BUGGY_SEGMENT)
            & (F.col("t") == 1)
            & (F.col("dropped") == 1)
        )
    )
    return (
        logged.groupBy("seg")
        .agg(
            F.sum("t").cast("long").alias("nt"),
            F.sum(1 - F.col("t")).cast("long").alias("nc"),
        )
        .select(
            "seg",
            "nt",
            "nc",
            F.expr(
                "CAST((nt - nc) * (nt - nc) * 1000 div (nt + nc) AS LONG)"
            ).alias("srm_stat_milli"),
            F.when(
                (F.col("nt") - F.col("nc"))
                * (F.col("nt") - F.col("nc"))
                * 1000
                > _CHI2_05_MILLI * (F.col("nt") + F.col("nc")),
                1,
            )
            .otherwise(0)
            .alias("srm_flag"),
        )
        .orderBy("seg")
    )
