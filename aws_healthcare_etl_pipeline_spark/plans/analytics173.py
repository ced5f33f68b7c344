"""Wave-199 (round 5): profiler correlation matrix + rank momentum.

* ``dq_correlation_matrix`` — the profiler's numeric correlation
  matrix in ONE scan: four lineitem measures (quantity,
  extended-price cents, discount pct, tax pct) yield all six
  Pearson pairs from parallel moment sums (k measures cost k(k+1)/2
  product-sum columns, never k^2 passes), each quantized once by
  floor-IEEE-sqrt denominators with the exact covariance numerator
  kept alongside. The expected structure (qty x ext strongly
  positive, everything else ~0) is the calibration check.

* ``brand_rank_momentum`` — month-over-month revenue-rank movement
  per brand: monthly revenue ranks on the bounded (brand x month)
  grid, lagged within brand, and the biggest absolute movers
  summarized — the merchandising momentum report, windowed only on
  bounded spines.
"""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import query, split_top_level

_CM_MEASURES = {
    "qty": "CAST(l_quantity AS BIGINT)",
    "ext": "CAST(CAST(l_extendedprice AS DECIMAL(15,2)) * 100"
           " AS BIGINT)",
    "disc": "CAST(CAST(l_discount AS DECIMAL(3,2)) * 100 AS BIGINT)",
    "tax": "CAST(CAST(l_tax AS DECIMAL(3,2)) * 100 AS BIGINT)",
}


def _cm_sums(cast38: str) -> str:
    parts = ["CAST(COUNT(*) AS {c}) AS n".format(c=cast38)]
    for a in _CM_MEASURES:
        parts.append(f"CAST(SUM({a}) AS {cast38}) AS s_{a}")
        parts.append(
            f"CAST(SUM(CAST({a} AS {cast38}) * {a}) AS {cast38})"
            f" AS ss_{a}"
        )
    for a, b in combinations(_CM_MEASURES, 2):
        parts.append(
            f"CAST(SUM(CAST({a} AS {cast38}) * {b}) AS {cast38})"
            f" AS sp_{a}_{b}"
        )
    return ", ".join(parts)


def _cm_pair_rows(div: str, isq: str) -> str:
    rows = []
    for a, b in combinations(_CM_MEASURES, 2):
        num = f"(n * sp_{a}_{b} - s_{a} * s_{b})"
        da = f"{isq.format(x=f'(n * ss_{a} - s_{a} * s_{a})')}"
        db = f"{isq.format(x=f'(n * ss_{b} - s_{b} * s_{b})')}"
        rows.append(
            f"SELECT '{a}~{b}' AS pair,"
            f" CAST({num} AS VARCHAR) AS cov_num,"
            f" CAST({num} * 1000 {div} ({da} * {db}) AS BIGINT)"
            f" AS corr_permille FROM moments"
        )
    return " UNION ALL ".join(rows)


@query(
    "dq_correlation_matrix",
    oracle=f"""
        WITH vals AS (
            SELECT {", ".join(f"{e} AS {k}"
                              for k, e in _CM_MEASURES.items())}
            FROM lineitem
        ), moments AS MATERIALIZED (
            SELECT {_cm_sums("HUGEINT")} FROM vals
        )
        SELECT pair, cov_num, corr_permille
        FROM ({_cm_pair_rows(
            "//",
            "CAST(FLOOR(SQRT(CAST({x} AS DOUBLE))) AS HUGEINT)")})
        ORDER BY pair
    """.replace("AS VARCHAR", "AS VARCHAR"),
    description="The profiler's numeric correlation matrix in ONE "
    "scan: all six Pearson pairs over four lineitem measures from "
    "parallel moment sums — k measures cost k(k+1)/2 product-sum "
    "columns in a single partial agg, never k^2 passes — each "
    "quantized once by floor-IEEE-sqrt variance denominators (the "
    "integer-to-double conversion rounds identically in both "
    "engines) with the exact covariance numerator emitted as "
    "VARCHAR. Expected structure (quantity x extended-price "
    "strongly positive, discount/tax near zero) doubles as the "
    "calibration check. 100 TB shape: one map-side partial agg, "
    "six rows of scalar algebra — the column-relationship pass a "
    "catalog profiler schedules nightly.",
)
def dq_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    vals = li.selectExpr(
        *[f"{e} AS {k}" for k, e in _CM_MEASURES.items()]
    )
    moments = vals.agg(
        *[
            F.expr(p)
            for p in split_top_level(_cm_sums("DECIMAL(38,0)"))
        ]
    )
    rows = _cm_pair_rows(
        "div", "CAST(FLOOR(SQRT(CAST({x} AS DOUBLE))) AS DECIMAL(38,0))"
    ).replace("AS VARCHAR", "AS STRING")
    lanes = rows.split(" UNION ALL ")
    out = None
    for lane in lanes:
        body = lane.replace("SELECT ", "", 1).replace(
            " FROM moments", ""
        )
        cur = moments.selectExpr(*split_top_level(body))
        out = cur if out is None else out.unionAll(cur)
    return out.orderBy("pair")


@query(
    "brand_rank_momentum",
    oracle="""
        WITH monthly AS (
            SELECT p.p_brand AS brand,
                   EXTRACT(year FROM o.o_orderdate) * 100
                   + EXTRACT(month FROM o.o_orderdate) AS ym,
                   CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(15,2))
                        * 100) AS BIGINT) AS rev
            FROM lineitem l
            JOIN orders o ON o.o_orderkey = l.l_orderkey
            JOIN part p ON p.p_partkey = l.l_partkey
            GROUP BY 1, 2
        ), ranked AS (
            SELECT brand, ym,
                   ROW_NUMBER() OVER (PARTITION BY ym
                       ORDER BY rev DESC, brand) AS rnk
            FROM monthly
        ), moved AS (
            SELECT brand, ym, rnk,
                   rnk - LAG(rnk) OVER (PARTITION BY brand
                       ORDER BY ym) AS delta
            FROM ranked
        )
        SELECT brand,
               CAST(COUNT(delta) AS BIGINT) AS n_months,
               CAST(SUM(ABS(delta)) AS BIGINT) AS total_churn,
               CAST(MAX(ABS(delta)) AS BIGINT) AS max_jump,
               CAST(SUM(ABS(delta)) * 1000 // COUNT(delta)
                   AS BIGINT) AS mean_abs_move_permille
        FROM moved
        GROUP BY brand
        ORDER BY brand
    """,
    description="Brand revenue-rank momentum: monthly revenue ranks "
    "on the bounded (brand x month) grid (ranks partitioned by "
    "month over 25 brands; lags partitioned by brand over ~84 "
    "months — every window rides a bounded spine), with per-brand "
    "rank-churn totals, the biggest single-month jump, and mean "
    "absolute movement in permille. High churn = a volatile "
    "category; rank stability is what assortment planners actually "
    "track. 100 TB shape: one star join + partial agg to the "
    "bounded grid; everything after is constant-size window "
    "arithmetic.",
)
def brand_rank_momentum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    monthly = (
        li.join(
            orders.select("o_orderkey", "o_orderdate"),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            li.l_partkey == F.col("p_partkey"),
        )
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.expr(
                "year(o_orderdate) * 100 + month(o_orderdate)"
            ).alias("ym"),
        )
        .agg(
            F.expr(
                "CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,2))"
                " * 100) AS BIGINT)"
            ).alias("rev")
        )
    )
    wr = Window.partitionBy("ym").orderBy(
        F.col("rev").desc(), F.col("brand")
    )
    wl = Window.partitionBy("brand").orderBy("ym")
    moved = monthly.select(
        "brand",
        "ym",
        F.row_number().over(wr).alias("rnk"),
    ).withColumn("delta", F.col("rnk") - F.lag("rnk").over(wl))
    return (
        moved.groupBy("brand")
        .agg(
            F.count("delta").cast("long").alias("n_months"),
            F.sum(F.abs("delta")).cast("long").alias("total_churn"),
            F.max(F.abs("delta")).cast("long").alias("max_jump"),
            F.expr(
                "CAST(SUM(ABS(delta)) * 1000 div COUNT(delta)"
                " AS BIGINT)"
            ).alias("mean_abs_move_permille"),
        )
        .orderBy("brand")
    )
