"""Wave-115 (round 5): Holt linear-trend replay + inverse-propensity
confounder correction.

* ``forecast_holt_linear_replay`` — Holt's two-parameter exponential
  smoothing (level + trend, alpha = beta = 1/2) replayed
  deterministically over each order priority's daily revenue
  series. Every update is integer cents with TRUNCATING division —
  verified identical between Spark `div`, DuckDB `//`, and the
  Python scan (Python floors, so the closure uses a trunc helper).
  The Spark side is the partition-wise keyed_pandas_scan; the
  oracle replays the identical recurrence as a RECURSIVE CTE, so
  an order-sensitive, non-associative forecaster state is proven
  exactly — final level/trend, 7-day-ahead forecast, and the
  cumulative absolute 1-step error.
* ``experiment_ipw_confounder_correction`` — the core causal-
  inference move: treatment assignment is deliberately CONFOUNDED
  (more-active customers are more likely 'treated', and activity
  drives spend), the true effect is zero by construction
  (historical outcomes can't depend on a synthetic flag), so the
  naive treated-vs-control gap must be large and the stratified /
  inverse-propensity estimate must collapse toward zero. All
  moments are exact integers; per-stratum effects are micro-
  quantized via exact big-integer division before the weighted
  combine (documented quantization contract).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.keyscan import keyed_pandas_scan
from ..sources.tables import load_table
from .registry import hex8, query, sql_hex8

# ------------------------------------------------ Holt replay

# state-update expressions, shared TEXT between base/recursive arms:
# l1 = trunc((y + l + b) / 2); b1 = trunc(((l1 - l) + b) / 2)
_L1 = "(g.y + s.l + s.b) // 2"
_B1 = f"((({_L1}) - s.l) + s.b) // 2"


@query(
    "forecast_holt_linear_replay",
    oracle=f"""
        WITH RECURSIVE daily AS MATERIALIZED (
            SELECT o_orderpriority AS pri, o_orderdate AS day,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2)) * 100)
                        AS BIGINT) AS y
            FROM orders GROUP BY 1, 2
        ), ev AS MATERIALIZED (
            SELECT pri, y,
                   row_number() OVER (
                       PARTITION BY pri ORDER BY day
                   ) AS rn
            FROM daily
        ), sim AS (
            SELECT pri, rn, y AS l, CAST(0 AS BIGINT) AS b,
                   CAST(0 AS BIGINT) AS sae
            FROM ev WHERE rn = 1
            UNION ALL
            SELECT g.pri, g.rn,
                   {_L1},
                   {_B1},
                   s.sae + abs(g.y - (s.l + s.b))
            FROM sim s JOIN ev g
              ON g.pri = s.pri AND g.rn = s.rn + 1
        ), final AS (
            SELECT pri, rn, l, b, sae,
                   row_number() OVER (
                       PARTITION BY pri ORDER BY rn DESC
                   ) AS rr
            FROM sim
        )
        SELECT pri,
               CAST(rn AS BIGINT) AS n_days,
               CAST(l AS BIGINT) AS level_cents,
               CAST(b AS BIGINT) AS trend_cents,
               CAST(l + 7 * b AS BIGINT) AS forecast_7d_cents,
               CAST(sae AS BIGINT) AS sae_cents
        FROM final WHERE rr = 1
        ORDER BY pri
    """,
    description="Holt two-parameter exponential smoothing (level + "
    "trend, alpha = beta = 1/2) replayed over each order priority's "
    "daily revenue: l' = trunc((y + l + b)/2), "
    "b' = trunc((l' - l + b)/2), with the 1-step absolute error "
    "accumulated before each update and a 7-day-ahead forecast "
    "l + 7b at the end — all exact integer cents under TRUNCATING "
    "division, which Spark `div` and DuckDB `//` share (Python "
    "floors, so the scan closure carries a trunc helper — a "
    "measured portability corner). Spark side: ONE shuffle on the "
    "priority key, sequential scan per key via the partition-wise "
    "keyed_pandas_scan (the information-theoretic minimum for a "
    "non-associative recurrence); oracle side: the IDENTICAL "
    "recurrence as a recursive CTE. At 100 TB the day grain is "
    "bounded, so state and recursion depth are constants; the fact "
    "table contributes one partial-agg shuffle.",
)
def forecast_holt_linear_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderpriority").alias("pri"),
        F.col("o_orderdate").alias("day"),
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(15,2)") * 100)
        .cast("long")
        .alias("y")
    )

    def holt_scan(pdf: pd.DataFrame) -> pd.DataFrame:
        # rows arrive pre-sorted by day; division must TRUNCATE to match
        # Spark div / DuckDB // (Python // floors)
        def tdiv2(a: int) -> int:
            return -((-a) // 2) if a < 0 else a // 2

        ys = pdf["y"].tolist()
        lvl, b, sae = int(ys[0]), 0, 0
        for y in ys[1:]:
            y = int(y)
            sae += abs(y - (lvl + b))
            l1 = tdiv2(y + lvl + b)
            b = tdiv2((l1 - lvl) + b)
            lvl = l1
        return pd.DataFrame(
            {
                "pri": [pdf["pri"].iloc[0]],
                "n_days": [len(ys)],
                "level_cents": [lvl],
                "trend_cents": [b],
                "forecast_7d_cents": [lvl + 7 * b],
                "sae_cents": [sae],
            }
        )

    out_schema = (
        "pri string, n_days long, level_cents long, trend_cents long, "
        "forecast_7d_cents long, sae_cents long"
    )
    return keyed_pandas_scan(
        daily, "pri", ["day"], holt_scan, out_schema
    ).orderBy("pri")


# ----------------------------------------- IPW / stratification


@query(
    "experiment_ipw_confounder_correction",
    oracle=f"""
        WITH units AS (
            SELECT c.c_custkey AS k,
                   least(COUNT(o.o_orderkey), 20) AS s,
                   CAST(COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(15,2))
                                     * 100), 0) AS BIGINT) AS y
            FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
            GROUP BY 1
        ), assigned AS (
            SELECT k, s, y,
                   CASE WHEN ({sql_hex8(
                       "'ipw:' || CAST(k AS VARCHAR)")}) % 12
                             < 2 + least(s, 8)
                        THEN 1 ELSE 0 END AS t
            FROM units
        ), strata AS (
            SELECT s,
                   CAST(COUNT(*) AS BIGINT) AS n_s,
                   CAST(SUM(t) AS BIGINT) AS nt_s,
                   CAST(SUM(1 - t) AS BIGINT) AS nc_s,
                   CAST(SUM(CASE WHEN t = 1 THEN y ELSE 0 END)
                        AS BIGINT) AS yt_s,
                   CAST(SUM(CASE WHEN t = 0 THEN y ELSE 0 END)
                        AS BIGINT) AS yc_s
            FROM assigned GROUP BY s
        ), overall AS (
            SELECT CAST(SUM(n_s) AS BIGINT) AS n,
                   CAST(SUM(nt_s) AS BIGINT) AS nt,
                   CAST(SUM(nc_s) AS BIGINT) AS nc,
                   CAST(SUM(yt_s) AS BIGINT) AS yt,
                   CAST(SUM(yc_s) AS BIGINT) AS yc
            FROM strata
        ), per_stratum AS (
            SELECT s, n_s,
                   CAST((CAST(yt_s AS HUGEINT) * nc_s
                         - CAST(yc_s AS HUGEINT) * nt_s) * 1000000
                        // (CAST(nt_s AS HUGEINT) * nc_s) AS BIGINT)
                       AS effect_micro
            FROM strata WHERE nt_s > 0 AND nc_s > 0
        )
        SELECT o.nt, o.nc,
               CAST((CAST(o.yt AS HUGEINT) * o.nc
                     - CAST(o.yc AS HUGEINT) * o.nt) * 1000000
                    // (CAST(o.nt AS HUGEINT) * o.nc) AS BIGINT)
                   AS naive_diff_micro,
               CAST(SUM(CAST(p.n_s AS HUGEINT) * p.effect_micro)
                    // MAX(o.n) AS BIGINT) AS strat_ate_micro,
               CAST(COUNT(*) AS BIGINT) AS n_strata_used
        FROM per_stratum p CROSS JOIN overall o
        GROUP BY o.nt, o.nc, o.yt, o.yc, o.n
    """,
    description="Inverse-propensity / stratification confounder "
    "correction with a PLANTED zero effect: treatment probability "
    "rises with customer activity ((2 + min(orders,8))/12 on an md5 "
    "draw), activity drives spend, and the outcome is historical "
    "spend — so the naive treated-minus-control gap is large and "
    "positive purely from confounding while the true effect is "
    "exactly zero; the stratified estimator (per-activity-stratum "
    "gaps, micro-quantized via exact HUGEINT/DECIMAL(38) division, "
    "combined with n_s/N weights — algebraically the IPW estimator "
    "with exact within-stratum propensities) must collapse toward "
    "zero. The query is therefore a self-auditing proof that the "
    "correction works. 100 TB shape: one customer-grain aggregate, "
    "one bounded-stratum aggregate, one scalar combine — partial "
    "aggregation end to end.",
)
def experiment_ipw_confounder_correction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    units = (
        customer.join(
            orders, orders.o_custkey == customer.c_custkey, "left"
        )
        .groupBy(customer.c_custkey.alias("k"))
        .agg(
            F.least(F.count("o_orderkey"), F.lit(20)).alias("s"),
            F.coalesce(
                F.sum(F.col("o_totalprice").cast("decimal(15,2)") * 100),
                F.lit(0),
            )
            .cast("long")
            .alias("y"),
        )
    )
    assigned = units.select(
        "s",
        "y",
        F.when(
            hex8(F.concat(F.lit("ipw:"), F.col("k").cast("string")))
            % 12
            < 2 + F.least(F.col("s"), F.lit(8)),
            1,
        )
        .otherwise(0)
        .alias("t"),
    )
    strata = assigned.groupBy("s").agg(
        F.count(F.lit(1)).cast("long").alias("n_s"),
        F.sum("t").cast("long").alias("nt_s"),
        F.sum(1 - F.col("t")).cast("long").alias("nc_s"),
        F.sum(F.when(F.col("t") == 1, F.col("y")).otherwise(0))
        .cast("long")
        .alias("yt_s"),
        F.sum(F.when(F.col("t") == 0, F.col("y")).otherwise(0))
        .cast("long")
        .alias("yc_s"),
    ).localCheckpoint(eager=False)  # bounded strata; feeds overall + ps
    overall = strata.agg(
        F.sum("n_s").cast("long").alias("n"),
        F.sum("nt_s").cast("long").alias("nt"),
        F.sum("nc_s").cast("long").alias("nc"),
        F.sum("yt_s").cast("long").alias("yt"),
        F.sum("yc_s").cast("long").alias("yc"),
    )
    d38 = "decimal(38,0)"
    per_stratum = strata.where(
        (F.col("nt_s") > 0) & (F.col("nc_s") > 0)
    ).select(
        "n_s",
        F.expr(
            f"""CAST((CAST(yt_s AS {d38}) * nc_s
                      - CAST(yc_s AS {d38}) * nt_s) * 1000000
                     div (CAST(nt_s AS {d38}) * nc_s) AS LONG)"""
        ).alias("effect_micro"),
    )
    return (
        per_stratum.crossJoin(F.broadcast(overall))
        .groupBy("nt", "nc", "yt", "yc", "n")
        .agg(
            F.expr(
                f"CAST(SUM(CAST(n_s AS {d38}) * effect_micro)"
                " div MAX(n) AS LONG)"
            ).alias("strat_ate_micro"),
            F.count(F.lit(1)).cast("long").alias("n_strata_used"),
        )
        .select(
            "nt",
            "nc",
            F.expr(
                f"""CAST((CAST(yt AS {d38}) * nc - CAST(yc AS {d38}) * nt)
                         * 1000000
                         div (CAST(nt AS {d38}) * nc) AS LONG)"""
            ).alias("naive_diff_micro"),
            "strat_ate_micro",
            "n_strata_used",
        )
    )
