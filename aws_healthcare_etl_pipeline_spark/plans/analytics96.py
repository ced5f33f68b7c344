"""Wave-122 (round 5): Shewhart control chart + graph eccentricity.

* ``quality_shewhart_control_chart`` — the classic 3-sigma SPC
  chart on daily order counts, with NO square root anywhere: the
  out-of-control condition (x - mu)^2 > 9 * var becomes the pure
  integer cross-multiplication (n*x - sum)^2 > 9 * (n*sumsq -
  sum^2), so every flagged day is exact in both engines. Reports
  each signal day with its side and the integer control-limit
  witnesses.
* ``graph_eccentricity_diameter`` — per-node eccentricity, graph
  radius/diameter, and center/periphery flags on the nation trade
  graph, from the same fixed 6-round unrolled BFS as the
  betweenness lane (`analytics86.py`) — bounded job count, no
  convergence loop; unreached pairs beyond the 6-hop horizon are
  excluded by the shared horizon contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .analytics86 import _HOPS, _bfs_all_pairs, _bfs_cte_chain
from .registry import SQL_HEAVY_TRADE, heavy_trade, query

# --------------------------------------------- Shewhart chart


@query(
    "quality_shewhart_control_chart",
    oracle="""
        WITH daily AS (
            SELECT o_orderdate AS day, CAST(COUNT(*) AS BIGINT) AS x
            FROM orders GROUP BY 1
        ), mom AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS s,
                   CAST(SUM(x * x) AS BIGINT) AS ss
            FROM daily
        )
        SELECT strftime(day, '%Y-%m-%d') AS day, x,
               CASE WHEN d.x * m.n > m.s THEN 'above' ELSE 'below' END
                   AS side,
               CAST((d.x * m.n - m.s) * (d.x * m.n - m.s) AS BIGINT)
                   AS dev2_scaled,
               CAST(9 * (m.n * m.ss - m.s * m.s) AS BIGINT)
                   AS limit2_scaled
        FROM daily d CROSS JOIN mom m
        WHERE (d.x * m.n - m.s) * (d.x * m.n - m.s)
              > 9 * (m.n * m.ss - m.s * m.s)
        ORDER BY day
    """,
    description="Shewhart 3-sigma control chart on daily order "
    "volume — the founding statistical-process-control tool — with "
    "NO square root: (x - mu)^2 > 9*var cross-multiplies to the "
    "exact integer test (n*x - sum)^2 > 9*(n*sumsq - sum^2), so "
    "signal days, their side, and both witnesses hash identically "
    "across engines. This is the daily pipeline-volume tripwire "
    "every ingest system needs; at 100 TB it is one partial-agg "
    "shuffle to the bounded day spine, one 3-number moment row "
    "broadcast back, and a filter — the control limits cost "
    "nothing more than the count itself.",
)
def quality_shewhart_control_chart(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    ).localCheckpoint(eager=False)  # bounded spine; feeds mom + filter
    mom = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("ss"),
    )
    return (
        daily.crossJoin(F.broadcast(mom))
        .where(
            (F.col("x") * F.col("n") - F.col("s"))
            * (F.col("x") * F.col("n") - F.col("s"))
            > 9 * (F.col("n") * F.col("ss") - F.col("s") * F.col("s"))
        )
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "x",
            F.when(F.col("x") * F.col("n") > F.col("s"), "above")
            .otherwise("below")
            .alias("side"),
            (
                (F.col("x") * F.col("n") - F.col("s"))
                * (F.col("x") * F.col("n") - F.col("s"))
            )
            .cast("long")
            .alias("dev2_scaled"),
            (9 * (F.col("n") * F.col("ss") - F.col("s") * F.col("s")))
            .cast("long")
            .alias("limit2_scaled"),
        )
        .orderBy("day")
    )


# ------------------------------------------- eccentricity


@query(
    "graph_eccentricity_diameter",
    oracle=f"""
        WITH {SQL_HEAVY_TRADE}, edges AS MATERIALIZED (
            SELECT u, v FROM heavy
            UNION ALL SELECT v AS u, u AS v FROM heavy
        ), nodes AS MATERIALIZED (
            SELECT DISTINCT u AS node FROM edges
        ), {_bfs_cte_chain()}, ecc AS (
            SELECT s AS node, CAST(MAX(dist) AS BIGINT) AS ecc
            FROM a{_HOPS} GROUP BY s
        ), gstat AS (
            SELECT CAST(MIN(ecc) AS BIGINT) AS radius,
                   CAST(MAX(ecc) AS BIGINT) AS diameter
            FROM ecc
        )
        SELECT e.node AS nationkey, e.ecc, g.radius, g.diameter,
               CASE WHEN e.ecc = g.radius THEN 1 ELSE 0 END AS is_center,
               CASE WHEN e.ecc = g.diameter THEN 1 ELSE 0 END
                   AS is_periphery
        FROM ecc e CROSS JOIN gstat g
        ORDER BY nationkey
    """,
    description="Per-node eccentricity, graph radius/diameter, and "
    "center/periphery membership on the nation trade graph — the "
    "facility-location read of the network (a 'center' nation "
    "reaches every partner in radius hops; 'periphery' nations are "
    "the worst-placed) — from the SAME fixed 6-round unrolled BFS "
    "as the betweenness lane (analytics86.py: no convergence loop, "
    "bounded job count, 6-hop horizon contract shared by both "
    "engines; pairs beyond the horizon are excluded identically). "
    "Eccentricity is MAX(dist) per source over the all-pairs reach "
    "table, radius/diameter one more bounded aggregate. 100 TB "
    "split unchanged: the q7-shaped trade aggregation is the only "
    "fact-scale work; the graph algebra runs on <=625 rows.",
)
def graph_eccentricity_diameter(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    reach = _bfs_all_pairs(heavy_trade(spark, sf_dir))[2]
    ecc = reach.groupBy(F.col("s").alias("node")).agg(
        F.max("dist").cast("long").alias("ecc")
    )
    glob = ecc.agg(
        F.min("ecc").cast("long").alias("radius"),
        F.max("ecc").cast("long").alias("diameter"),
    )
    return (
        ecc.crossJoin(F.broadcast(glob))
        .select(
            F.col("node").alias("nationkey"),
            "ecc",
            "radius",
            "diameter",
            F.when(F.col("ecc") == F.col("radius"), 1)
            .otherwise(0)
            .alias("is_center"),
            F.when(F.col("ecc") == F.col("diameter"), 1)
            .otherwise(0)
            .alias("is_periphery"),
        )
        .orderBy("nationkey")
    )
