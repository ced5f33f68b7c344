"""Wave-86 (round 5): grid-density spatial clustering + rolling
cross-correlation.

* ``geo_dbscan_grid_clusters`` — DBSCAN-lite at warehouse scale:
  points on the constant-density md5 lattice (same world as
  ``geo_grid_radius_join``) are bucketed into radius-sized cells,
  cells with >= minPts points are DENSE, and clusters are connected
  components of dense cells under 8-neighborhood adjacency —
  executed with the repo's iterative min-label pointer-jumping
  operator over the CELL graph (orders of magnitude smaller than the
  point set), and proven by a recursive-CTE transitive closure.
  This is the grid shortcut production systems use when true DBSCAN's
  eps-graph would be point-grain: density decisions are per-cell
  aggregates, the component graph is cell-grain.
* ``timeseries_rolling_correlation`` — trailing 7-day Pearson
  correlation between the click and purchase daily-count series, with
  every moment sum exact-integer (counts): the numerator
  n*Sxy - Sx*Sy is integer algebra, the denominator is two
  IEEE-exact sqrts, so the double is bit-portable by the identical-
  expression-tree rule. The co-movement monitor behind
  metric-pair alerting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.clusters import connected_components
from ..sources.tables import load_table
from .analytics26 import _GEO_LADDER, _GEO_W_MAX, _geo_w_sql
from .registry import query, sql_hex4

# --------------------------------------------- DBSCAN-lite on the grid

_DB_CELL = 128  # cell width (== geo radius; 8-neighborhood adjacency)
_DB_MINPTS = 8  # dense cell: >= 8 points
_DB_PACK = 1 << 20  # cell-key packing, > max cells per axis


@query(
    "geo_dbscan_grid_clusters",
    oracle=f"""
        WITH RECURSIVE wsel AS {_geo_w_sql()}, pts AS (
            SELECT c_custkey AS id,
                   ({sql_hex4("'x:' || CAST(c_custkey AS VARCHAR)")})
                       % w.w AS x,
                   ({sql_hex4("'y:' || CAST(c_custkey AS VARCHAR)")})
                       % w.w AS y
            FROM customer, wsel w
        ), cells AS (
            SELECT x // {_DB_CELL} AS cx, y // {_DB_CELL} AS cy,
                   CAST(COUNT(*) AS BIGINT) AS n_points
            FROM pts GROUP BY 1, 2
        ), dense AS (
            SELECT (cx * {_DB_PACK} + cy) AS key, cx, cy, n_points
            FROM cells WHERE n_points >= {_DB_MINPTS}
        ), adj AS (
            SELECT a.key AS a, b.key AS b
            FROM dense a JOIN dense b
              ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
             AND a.key <> b.key
        ), reach(src, dst) AS (
            SELECT key, key FROM dense
            UNION
            SELECT r.src, adj.b FROM reach r JOIN adj ON r.dst = adj.a
        ), comp AS (
            SELECT src AS key, MIN(dst) AS cluster_id
            FROM reach GROUP BY src
        )
        SELECT c.cluster_id,
               CAST(COUNT(*) AS BIGINT) AS n_cells,
               CAST(SUM(d.n_points) AS BIGINT) AS n_points,
               CAST(MIN(d.cx) AS BIGINT) AS min_cx,
               CAST(MAX(d.cx) AS BIGINT) AS max_cx,
               CAST(MIN(d.cy) AS BIGINT) AS min_cy,
               CAST(MAX(d.cy) AS BIGINT) AS max_cy
        FROM comp c JOIN dense d ON d.key = c.key
        GROUP BY c.cluster_id
        ORDER BY c.cluster_id
    """,
    description="DBSCAN-lite spatial clustering: points on the "
    "constant-density md5 lattice bucket into radius-sized cells, "
    "cells with >= 8 points are dense, clusters are connected "
    "components of dense cells under 8-neighborhood adjacency — "
    "the grid shortcut that turns point-grain eps-graph clustering "
    "into CELL-grain work (the component graph is smaller than the "
    "point set by the points-per-cell factor, and the constant-"
    "density world ladder keeps that factor bounded as N grows). "
    "Execution composes the repo's iterative min-label pointer-"
    "jumping connected-components operator; the oracle re-derives "
    "components via recursive-CTE transitive closure, so the hash "
    "match proves the distributed propagation. At 100 TB: the point "
    "pass is one map-side-combined cell aggregate; every iteration "
    "of the component loop shuffles only dense-cell (node, label) "
    "pairs.",
)
def geo_dbscan_grid_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")

    def hex4(prefix: str) -> F.Column:
        h = F.md5(F.concat(F.lit(prefix), F.col("c_custkey").cast("string")))
        return F.conv(F.substring(h, 1, 4), 16, 10).cast("long")

    cases = " ".join(f"WHEN n <= {lim} THEN {w}" for lim, w in _GEO_LADDER)
    wsel = cust.agg(F.count(F.lit(1)).alias("n")).select(
        F.expr(f"CASE {cases} ELSE {_GEO_W_MAX} END").alias("w")
    )
    pts = cust.crossJoin(F.broadcast(wsel)).select(
        (hex4("x:") % F.col("w")).alias("x"),
        (hex4("y:") % F.col("w")).alias("y"),
    )
    cells = pts.groupBy(
        F.expr(f"x div {_DB_CELL}").alias("cx"),
        F.expr(f"y div {_DB_CELL}").alias("cy"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_points"))
    dense = cells.filter(F.col("n_points") >= _DB_MINPTS).select(
        (F.col("cx") * _DB_PACK + F.col("cy")).alias("key"),
        "cx",
        "cy",
        "n_points",
    ).localCheckpoint(eager=False)  # feeds adjacency build + final rollup
    a = dense.alias("a")
    b = dense.alias("b")
    adj = a.join(
        b,
        (F.abs(F.col("a.cx") - F.col("b.cx")) <= 1)
        & (F.abs(F.col("a.cy") - F.col("b.cy")) <= 1)
        & (F.col("a.key") < F.col("b.key")),
    ).select(F.col("a.key").alias("id_a"), F.col("b.key").alias("id_b"))
    comp = connected_components(adj)
    labeled = dense.join(
        comp.select(F.col("node").alias("key"), "component"), "key", "left"
    ).select(
        F.coalesce(F.col("component"), F.col("key")).alias("cluster_id"),
        "cx",
        "cy",
        "n_points",
    )
    return (
        labeled.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            F.sum("n_points").cast("long").alias("n_points"),
            F.min("cx").cast("long").alias("min_cx"),
            F.max("cx").cast("long").alias("max_cx"),
            F.min("cy").cast("long").alias("min_cy"),
            F.max("cy").cast("long").alias("max_cy"),
        )
        .orderBy("cluster_id")
    )


# ------------------------------------------ rolling Pearson correlation

_CORR_WINDOW = 7  # trailing days


@query(
    "timeseries_rolling_correlation",
    oracle=f"""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS dy,
                   CAST(SUM(CASE WHEN event_type = 'click'
                                 THEN 1 ELSE 0 END) AS BIGINT) AS s1,
                   CAST(SUM(CASE WHEN event_type = 'purchase'
                                 THEN 1 ELSE 0 END) AS BIGINT) AS s2
            FROM events GROUP BY 1
        ), moments AS (
            SELECT dy,
                   CAST(COUNT(*) OVER w AS BIGINT) AS n,
                   CAST(SUM(s1) OVER w AS BIGINT) AS sx,
                   CAST(SUM(s2) OVER w AS BIGINT) AS sy,
                   CAST(SUM(s1 * s1) OVER w AS BIGINT) AS sxx,
                   CAST(SUM(s2 * s2) OVER w AS BIGINT) AS syy,
                   CAST(SUM(s1 * s2) OVER w AS BIGINT) AS sxy
            FROM daily
            WINDOW w AS (ORDER BY dy
                         ROWS BETWEEN {_CORR_WINDOW - 1} PRECEDING
                         AND CURRENT ROW)
        )
        SELECT strftime(dy, '%Y-%m-%d') AS day,
               n, sx, sy,
               CAST(n * sxy - sx * sy AS BIGINT) AS cov_num,
               CAST(n * sxy - sx * sy AS DOUBLE)
                   / NULLIF(sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                            * sqrt(CAST(n * syy - sy * sy AS DOUBLE)), 0.0)
                   AS pearson_r
        FROM moments
        WHERE n = {_CORR_WINDOW}
        ORDER BY dy
    """,
    description="Trailing 7-day Pearson correlation between the "
    "click and purchase daily-count series: all five moment sums "
    "are exact integers at day grain, the numerator n*Sxy - Sx*Sy "
    "is pure integer algebra (reported raw as cov_num), and the "
    "double r divides by two IEEE-correctly-rounded sqrts with "
    "identical expression trees in both engines — bit-portable by "
    "the registry rule, NULL on zero-variance windows via nullif. "
    "The metric-pair co-movement monitor (did purchases decouple "
    "from clicks this week?). Scale: events collapse to day grain "
    "in one map-side-combined pass; the rolling window runs over "
    "calendar-bounded rows, so the sequential part is spine-sized, "
    "independent of event volume.",
)
def timeseries_rolling_correlation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(F.col("ts").cast("date").alias("dy")).agg(
        F.sum((F.col("event_type") == "click").cast("long"))
        .cast("long")
        .alias("s1"),
        F.sum((F.col("event_type") == "purchase").cast("long"))
        .cast("long")
        .alias("s2"),
    )
    w = Window.orderBy("dy").rowsBetween(-(_CORR_WINDOW - 1), 0)
    # day-grain spine: the unpartitioned window sees calendar-bounded
    # rows by construction (same accepted shape as the cumsum spine)
    moments = daily.select(
        "dy",
        F.count(F.lit(1)).over(w).cast("long").alias("n"),
        F.sum("s1").over(w).cast("long").alias("sx"),
        F.sum("s2").over(w).cast("long").alias("sy"),
        F.sum(F.col("s1") * F.col("s1")).over(w).cast("long").alias("sxx"),
        F.sum(F.col("s2") * F.col("s2")).over(w).cast("long").alias("syy"),
        F.sum(F.col("s1") * F.col("s2")).over(w).cast("long").alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "long"
    )
    den = F.nullif(
        F.sqrt(
            (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                "double"
            )
        )
        * F.sqrt(
            (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
                "double"
            )
        ),
        F.lit(0.0),
    )
    return (
        moments.filter(F.col("n") == _CORR_WINDOW)
        .select(
            F.date_format("dy", "yyyy-MM-dd").alias("day"),
            "n",
            "sx",
            "sy",
            num.alias("cov_num"),
            (num.cast("double") / den).alias("pearson_r"),
        )
        .orderBy("day")
    )
