"""Wave-110 (round 5): deterministic bootstrap CI + Qini uplift curve.

* ``stats_bootstrap_ci_deterministic`` — the bootstrap, made exact
  and engine-portable: resampling happens at the BOUNDED day grain
  (block/aggregate bootstrap — the only way to bootstrap 100 TB:
  you resample sufficient statistics, never rows), resample index
  choices are md5-derived so both engines draw the identical 200
  resamples, and every resample statistic is an exact cent integer.
  Emits the full rank-ordered resample distribution (200 rows) —
  any CI level is a row lookup.
* ``ml_qini_uplift_deciles`` — uplift-model evaluation: customers
  ranked by a model-score proxy (account balance) into value-tied
  deciles via histogram cumulative counts (NO global sort), a
  deterministic md5 treatment split, and the cumulative Qini-style
  uplift per targeting depth as an exact micro-quantized integer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import hex8, query, sql_hex8


# ------------------------------------------------ bootstrap CI

_B = 200  # resamples — fixed, data-volume-independent


@query(
    "stats_bootstrap_ci_deterministic",
    oracle=f"""
        WITH daily AS (
            SELECT o_orderdate AS day,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2)) * 100)
                        AS BIGINT) AS cents
            FROM orders GROUP BY 1
        ), spine AS (
            SELECT cents,
                   CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS pos
            FROM daily
        ), tot AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n FROM spine
        ), draws AS (
            SELECT r.b, s.pos,
                   ({sql_hex8(
                       "'bs:' || CAST(r.b AS VARCHAR) || ':' "
                       "|| CAST(s.pos AS VARCHAR)")})
                       % t.n + 1 AS j
            FROM range(0, {_B}) r(b)
            CROSS JOIN spine s CROSS JOIN tot t
        ), sums AS (
            SELECT d.b,
                   CAST(SUM(s2.cents) AS BIGINT) AS resample_sum_cents
            FROM draws d JOIN spine s2 ON s2.pos = d.j
            GROUP BY d.b
        )
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY resample_sum_cents, b)
                    AS BIGINT) AS rk,
               resample_sum_cents,
               CAST((CAST(resample_sum_cents AS HUGEINT) * 1000000)
                    // t.n AS BIGINT) AS resample_mean_micro
        FROM sums CROSS JOIN tot t
        ORDER BY rk
    """,
    description="Deterministic bootstrap of the daily-revenue mean: "
    "200 resamples whose index draws are md5-derived (both engines "
    "draw the IDENTICAL resamples), each resample statistic an "
    "exact cent integer, emitted as the full rank-ordered resample "
    "distribution so any CI level is a row lookup; the mean is "
    "micro-quantized via the DECIMAL(38)-div/HUGEINT-// idiom. The "
    "100 TB design point is WHERE the resampling happens: at the "
    "bounded day grain (block/aggregate bootstrap over sufficient "
    "statistics), so the fact table is touched by exactly one "
    "partial-agg shuffle and the B x n_days resample fan-out is a "
    "constant-size (200 x ~2.4k) spine computation independent of "
    "data volume — row-level bootstrap at 100 TB is impossible and "
    "unnecessary.",
)
def stats_bootstrap_ci_deterministic(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(15,2)") * 100)
        .cast("long")
        .alias("cents")
    )
    # bounded day spine: ordered window OK
    spine = daily.select(
        "cents",
        F.row_number().over(Window.orderBy("day")).cast("long").alias("pos"),
    ).localCheckpoint(eager=False)  # bounded spine; feeds draws/join/tot
    tot = spine.agg(F.count(F.lit(1)).cast("long").alias("n"))
    draws = (
        spine.select(
            "pos", F.explode(F.sequence(F.lit(0), F.lit(_B - 1))).alias("b")
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "b",
            (
                hex8(
                    F.concat(
                        F.lit("bs:"),
                        F.col("b").cast("string"),
                        F.lit(":"),
                        F.col("pos").cast("string"),
                    )
                )
                % F.col("n")
                + 1
            ).alias("j"),
        )
    )
    sums = (
        draws.join(spine.select(F.col("pos").alias("j"), "cents"), "j")
        .groupBy("b")
        .agg(F.sum("cents").cast("long").alias("resample_sum_cents"))
    )
    # 200-row bounded result: ordered window OK
    wrk = Window.orderBy("resample_sum_cents", "b")
    return (
        sums.crossJoin(F.broadcast(tot))
        .select(
            F.row_number().over(wrk).cast("long").alias("rk"),
            "resample_sum_cents",
            F.expr(
                "CAST((CAST(resample_sum_cents AS DECIMAL(38,0)) * 1000000)"
                " div n AS LONG)"
            ).alias("resample_mean_micro"),
        )
        .orderBy("rk")
    )


# ------------------------------------------------ Qini uplift


@query(
    "ml_qini_uplift_deciles",
    oracle=f"""
        WITH units AS (
            SELECT c.c_custkey AS k,
                   CAST(CAST(c.c_acctbal AS DECIMAL(15,2)) * 100
                        AS BIGINT) AS score,
                   {sql_hex8("'qarm:' || CAST(c.c_custkey AS VARCHAR)")}
                       % 2 AS arm,
                   CAST(COALESCE(SUM(CASE
                       WHEN EXTRACT(year FROM o.o_orderdate) = 1996
                       THEN CAST(o.o_totalprice AS DECIMAL(15,2)) * 100
                       END), 0) AS BIGINT) AS y
            FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
            GROUP BY 1, 2, 3
        ), hist AS (
            SELECT score, CAST(COUNT(*) AS BIGINT) AS h
            FROM units GROUP BY score
        ), cum AS (
            SELECT score,
                   CAST(SUM(h) OVER (ORDER BY score
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS c_incl
            FROM hist
        ), tot AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n FROM units
        ), dec AS (
            SELECT u.k, u.arm, u.y,
                   ((c.c_incl - 1) * 10) // t.n AS d
            FROM units u JOIN cum c ON c.score = u.score CROSS JOIN tot t
        ), per AS (
            SELECT d,
                   CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS nt,
                   CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS nc,
                   CAST(SUM(CASE WHEN arm = 1 THEN y ELSE 0 END)
                        AS BIGINT) AS yt,
                   CAST(SUM(CASE WHEN arm = 0 THEN y ELSE 0 END)
                        AS BIGINT) AS yc
            FROM dec GROUP BY d
        ), curve AS (
            SELECT 10 - d AS depth,
                   CAST(SUM(nt) OVER w AS BIGINT) AS cnt,
                   CAST(SUM(nc) OVER w AS BIGINT) AS cnc,
                   CAST(SUM(yt) OVER w AS BIGINT) AS cyt,
                   CAST(SUM(yc) OVER w AS BIGINT) AS cyc
            FROM per
            WINDOW w AS (ORDER BY d DESC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        )
        SELECT depth, cnt, cnc, cyt, cyc,
               CAST((CAST(cyt AS HUGEINT) * cnc - CAST(cyc AS HUGEINT)
                     * cnt) * 1000000
                    // (CAST(cnt AS HUGEINT) * cnc) AS BIGINT)
                   AS cum_uplift_micro
        FROM curve ORDER BY depth
    """,
    description="Qini-style uplift evaluation: customers rank into "
    "value-tied deciles by a model-score proxy (balance) using "
    "histogram cumulative counts — the decile of a value is "
    "((c_incl-1)*10) div N over the DISTINCT-value histogram, so "
    "there is no global row sort and ties are resolved identically "
    "in both engines; a deterministic md5 arm split and 1996 spend "
    "give treated/control outcomes, and the cumulative top-down "
    "uplift per targeting depth (cyt/cnt - cyc/cnc, micro-quantized "
    "through exact big-integer division) is THE decision curve for "
    "incremental-targeting spend. 100 TB shape: one customer-grain "
    "aggregate off the fact, one value-histogram shuffle, then a "
    "10-row spine — partial aggregation does everything heavy.",
)
def ml_qini_uplift_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    units = (
        customer.join(
            orders, orders.o_custkey == customer.c_custkey, "left"
        )
        .groupBy(
            customer.c_custkey.alias("k"),
            (F.col("c_acctbal").cast("decimal(15,2)") * 100)
            .cast("long")
            .alias("score"),
            (
                hex8(
                    F.concat(
                        F.lit("qarm:"), customer.c_custkey.cast("string")
                    )
                )
                % 2
            ).alias("arm"),
        )
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.year("o_orderdate") == 1996,
                        F.col("o_totalprice").cast("decimal(15,2)") * 100,
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("y")
        )
        .localCheckpoint(eager=False)  # feeds hist AND dec
    )
    hist = units.groupBy("score").agg(
        F.count(F.lit(1)).cast("long").alias("h")
    )
    # distinct-value spine (bounded by the balance domain): window OK
    cum = hist.select(
        "score",
        F.sum("h")
        .over(
            Window.orderBy("score").rowsBetween(
                Window.unboundedPreceding, 0
            )
        )
        .cast("long")
        .alias("c_incl"),
    )
    tot = units.agg(F.count(F.lit(1)).cast("long").alias("n"))
    dec = (
        units.join(cum, "score")
        .crossJoin(F.broadcast(tot))
        .select(
            "arm",
            "y",
            F.expr("((c_incl - 1) * 10) div n").alias("d"),
        )
    )
    per = dec.groupBy("d").agg(
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("long")
        .alias("nt"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("long")
        .alias("nc"),
        F.sum(F.when(F.col("arm") == 1, F.col("y")).otherwise(0))
        .cast("long")
        .alias("yt"),
        F.sum(F.when(F.col("arm") == 0, F.col("y")).otherwise(0))
        .cast("long")
        .alias("yc"),
    )
    # 10-row decile spine: ordered window OK
    w = Window.orderBy(F.col("d").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    curve = per.select(
        (10 - F.col("d")).alias("depth"),
        F.sum("nt").over(w).cast("long").alias("cnt"),
        F.sum("nc").over(w).cast("long").alias("cnc"),
        F.sum("yt").over(w).cast("long").alias("cyt"),
        F.sum("yc").over(w).cast("long").alias("cyc"),
    )
    d38 = "decimal(38,0)"
    return curve.select(
        "depth",
        "cnt",
        "cnc",
        "cyt",
        "cyc",
        F.expr(
            f"""CAST((CAST(cyt AS {d38}) * cnc - CAST(cyc AS {d38}) * cnt)
                     * 1000000
                     div (CAST(cnt AS {d38}) * cnc) AS LONG)"""
        ).alias("cum_uplift_micro"),
    ).orderBy("depth")
