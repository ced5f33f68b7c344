"""Wave-128 (round 5): link prediction + overdispersion monitor.

* ``graph_jaccard_link_prediction`` — classic structural link
  prediction on the nation trade graph: for every NON-edge pair,
  the neighbor-Jaccard score |N(u) n N(v)| / |N(u) u N(v)| in
  exact integer permille, ranked to surface the trade
  relationships the graph 'wants' to close (triadic closure).
  Common neighbors come from one wedge join; union sizes from the
  inclusion-exclusion identity deg(u)+deg(v)-common.
* ``events_poisson_dispersion_test`` — the variance-to-mean
  dispersion index of daily counts per event type: Poisson traffic
  has VMR = 1; VMR >> 1 means bursty/contagious arrivals and
  breaks every Poisson-based capacity model (including the repo's
  Erlang lane). The index is exact integer permille via
  (n*ss - s*s)*1000 div (n*s) with an overdispersion flag at
  VMR > 2 by cross-multiplication.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import heavy_trade, query

# ---------------------------------------- link prediction


@query(
    "graph_jaccard_link_prediction",
    oracle="""
        WITH trade AS (
            SELECT least(c.c_nationkey, s.s_nationkey) AS u,
                   greatest(c.c_nationkey, s.s_nationkey) AS v,
                   CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(15,2)) * 100)
                        AS BIGINT) AS w
            FROM lineitem l
            JOIN orders o ON o.o_orderkey = l.l_orderkey
            JOIN customer c ON c.c_custkey = o.o_custkey
            JOIN supplier s ON s.s_suppkey = l.l_suppkey
            WHERE c.c_nationkey <> s.s_nationkey
            GROUP BY 1, 2
        ), st AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS cnt,
                   CAST(SUM(w) AS BIGINT) AS tot
            FROM trade
        ), heavy AS (
            SELECT u, v FROM trade CROSS JOIN st
            WHERE w * cnt * 2 >= 3 * tot
        ), edges AS MATERIALIZED (
            SELECT u, v FROM heavy
            UNION ALL SELECT v AS u, u AS v FROM heavy
        ), deg AS (
            SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS d
            FROM edges GROUP BY u
        ), wedge AS (
            SELECT a.u AS x, b.v AS y, CAST(COUNT(*) AS BIGINT) AS common
            FROM edges a JOIN edges b ON b.u = a.v
            WHERE a.u < b.v
            GROUP BY 1, 2
        ), nonedge AS (
            SELECT w.x, w.y, w.common
            FROM wedge w
            WHERE NOT EXISTS (SELECT 1 FROM heavy h
                              WHERE h.u = w.x AND h.v = w.y)
        )
        SELECT n.x AS u, n.y AS v, n.common,
               CAST(du.d + dv.d - n.common AS BIGINT) AS unions,
               CAST(n.common * 1000 // (du.d + dv.d - n.common)
                    AS BIGINT) AS jaccard_permille
        FROM nonedge n
        JOIN deg du ON du.node = n.x
        JOIN deg dv ON dv.node = n.y
        WHERE n.common >= 2
        ORDER BY jaccard_permille DESC, u, v
    """,
    description="Structural link prediction on the nation trade "
    "graph (same 1.5x-mean edge rule as the betweenness lane): for "
    "every NON-adjacent pair with >= 2 common neighbors, the "
    "neighbor-Jaccard score common/(deg_u + deg_v - common) in "
    "exact integer permille — the triadic-closure ranking that "
    "predicts which trade relationships form next, the baseline "
    "every graph-ML link predictor is measured against. Common "
    "neighbors come from ONE wedge join (edges join edges on the "
    "middle vertex); union sizes need no set materialization "
    "thanks to inclusion-exclusion. 100 TB shape: fact-scale work "
    "is the q7 trade aggregation; the wedge join runs on a <=300-"
    "row bounded edge list.",
)
def graph_jaccard_link_prediction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # reused: edges + anti join
    heavy = heavy_trade(spark, sf_dir).localCheckpoint(eager=False)
    edges = heavy.unionAll(
        heavy.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=False)
    deg = edges.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    a = edges.select(F.col("u").alias("x"), F.col("v").alias("mid"))
    b = edges.select(F.col("u").alias("mid"), F.col("v").alias("y"))
    wedge = (
        a.join(b, "mid")
        .where(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast("long").alias("common"))
    )
    nonedge = wedge.join(
        heavy.select(F.col("u").alias("x"), F.col("v").alias("y")),
        ["x", "y"],
        "left_anti",
    )
    du = deg.select(F.col("node").alias("x"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("y"), F.col("d").alias("dv"))
    return (
        nonedge.join(du, "x")
        .join(dv, "y")
        .where(F.col("common") >= 2)
        .select(
            F.col("x").alias("u"),
            F.col("y").alias("v"),
            "common",
            (F.col("du") + F.col("dv") - F.col("common"))
            .cast("long")
            .alias("unions"),
            F.expr(
                "CAST(common * 1000 div (du + dv - common) AS LONG)"
            ).alias("jaccard_permille"),
        )
        .orderBy(F.col("jaccard_permille").desc(), "u", "v")
    )


# ---------------------------------------- dispersion index


@query(
    "events_poisson_dispersion_test",
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(COUNT(*) AS BIGINT) AS x
            FROM events GROUP BY 1, 2
        ), mom AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS s,
                   CAST(SUM(x * x) AS BIGINT) AS ss
            FROM daily GROUP BY event_type
        )
        SELECT event_type, n AS n_days, s AS n_events,
               CAST((n * ss - s * s) * 1000 // (n * s) AS BIGINT)
                   AS vmr_permille,
               CASE WHEN (n * ss - s * s) > 2 * n * s THEN 1 ELSE 0 END
                   AS overdispersed
        FROM mom ORDER BY event_type
    """,
    description="Poisson dispersion (variance-to-mean) index of "
    "daily event counts per type — the burstiness check that "
    "validates or invalidates every Poisson-based capacity model "
    "(the repo's Erlang-B lane assumes VMR near 1; contagious or "
    "batched arrivals push it far above): VMR = ((n*ss - s^2)/n)/"
    "(s/n) reduces to the exact integer permille "
    "(n*ss - s^2)*1000 div (n*s), with the VMR > 2 overdispersion "
    "flag a pure cross-multiplication. 100 TB shape: one partial-"
    "agg shuffle to (type, day), one to type — the whole test "
    "costs two aggregates, which is why it belongs in every "
    "traffic dashboard next to the count itself.",
)
def events_poisson_dispersion_test(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    mom = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("ss"),
    )
    return mom.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.col("s").alias("n_events"),
        F.expr(
            "CAST((n * ss - s * s) * 1000 div (n * s) AS LONG)"
        ).alias("vmr_permille"),
        F.when(
            (F.col("n") * F.col("ss") - F.col("s") * F.col("s"))
            > 2 * F.col("n") * F.col("s"),
            1,
        )
        .otherwise(0)
        .alias("overdispersed"),
    ).orderBy("event_type")
