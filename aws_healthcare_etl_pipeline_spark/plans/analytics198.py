"""Wave-215 (round 11), part 2: ordered-trend test, graph bridges,
calendrical integer arithmetic, frequency-stability, and ECC audit.

Five oracle-backed queries in lanes the registry does not yet cover:

- ``stat_jonckheere_terpstra`` — the ordered-alternative k-sample
  test over INDEPENDENT samples (order priorities 1..5 on order
  value), completing the trend-test triangle next to Page's L
  (blocked) and Kruskal-Wallis (unordered): J is assembled from the
  cents value spine with per-group prefix sums, ties carried exactly
  in doubled units.
- ``graph_bridge_edges`` — bridge detection on the heavy nation
  trade graph: per-edge BFS with that edge removed (frontier keyed
  by edge id), horizon 6; an edge is a bridge iff its endpoints
  disconnect, and the alternate-path length is reported.
- ``time_easter_computus`` — the anonymous Gregorian computus
  (Gauss/Meeus): Easter month/day for every order year computed with
  pure integer div/mod (identical semantics both engines), then the
  Holy-Week order share per year in ppm.
- ``events_allan_variance`` — two-sample Allan variance of daily
  event counts per event type at tau = 1 and 2 days on a zero-filled
  calendar spine; the avar2/avar1 ratio separates white-noise from
  random-walk behavior. Numerators stay integer; three micro-scaled
  integer divisions.
- ``dq_hamming74_ecc_audit`` — a data-integrity lane: Hamming(7,4)
  encode of each orderkey's low nibble, deterministic 0/1/2-bit
  corruption derived from higher key bits, syndrome decode, and the
  per-error-stratum audit (single errors decode 100%, double errors
  miscorrect with syndrome = XOR of the positions). All bit work is
  arithmetic (div/mod/add) so both engines share exact semantics.

House rules: integer DIV on non-negative operands everywhere; no
transcendental in the hash path; explicit integer tie-breaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import SQL_NATION_TRADE, dec, heavy_trade, query

# ------------------------------------------ Jonckheere-Terpstra test


@query(
    "stat_jonckheere_terpstra",
    oracle="""
        WITH vals AS (
            SELECT CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100
                        AS BIGINT) AS v,
                   CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS g
            FROM orders
        ), cnt AS (
            SELECT v,
                   CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
                   CAST(SUM(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
                   CAST(SUM(CASE WHEN g = 3 THEN 1 ELSE 0 END) AS BIGINT) AS c3,
                   CAST(SUM(CASE WHEN g = 4 THEN 1 ELSE 0 END) AS BIGINT) AS c4,
                   CAST(SUM(CASE WHEN g = 5 THEN 1 ELSE 0 END) AS BIGINT) AS c5
            FROM vals GROUP BY v
        ), pre AS (
            SELECT v, c1, c2, c3, c4, c5,
                   CAST(SUM(c1) OVER w - c1 AS BIGINT) AS b1,
                   CAST(SUM(c2) OVER w - c2 AS BIGINT) AS b2,
                   CAST(SUM(c3) OVER w - c3 AS BIGINT) AS b3,
                   CAST(SUM(c4) OVER w - c4 AS BIGINT) AS b4
            FROM cnt
            WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW)
        ), tot AS (
            SELECT CAST(SUM(c1) AS BIGINT) AS n1,
                   CAST(SUM(c2) AS BIGINT) AS n2,
                   CAST(SUM(c3) AS BIGINT) AS n3,
                   CAST(SUM(c4) AS BIGINT) AS n4,
                   CAST(SUM(c5) AS BIGINT) AS n5
            FROM cnt
        ), j AS (
            SELECT CAST(SUM(
                       c2 * (2*b1 + c1)
                     + c3 * (2*b1 + c1) + c3 * (2*b2 + c2)
                     + c4 * (2*b1 + c1) + c4 * (2*b2 + c2)
                     + c4 * (2*b3 + c3)
                     + c5 * (2*b1 + c1) + c5 * (2*b2 + c2)
                     + c5 * (2*b3 + c3) + c5 * (2*b4 + c4)
                   ) AS BIGINT) AS j2
            FROM pre
        )
        SELECT CAST(n1 + n2 + n3 + n4 + n5 AS BIGINT) AS n_total,
               n1, n2, n3, n4, n5, j2,
               CAST((n1+n2+n3+n4+n5) * (n1+n2+n3+n4+n5)
                    - (n1*n1 + n2*n2 + n3*n3 + n4*n4 + n5*n5)
                    AS BIGINT) AS mean_j4,
               CAST(2 * j2
                    - ((n1+n2+n3+n4+n5) * (n1+n2+n3+n4+n5)
                       - (n1*n1 + n2*n2 + n3*n3 + n4*n4 + n5*n5))
                    AS BIGINT) AS dev_j4
        FROM j CROSS JOIN tot
    """,
    description="Jonckheere-Terpstra test for an ORDERED alternative "
    "across the 5 order priorities (1-URGENT < ... < 5-LOW) on order "
    "value: completes the trend-test triangle next to "
    "stat_page_trend_test (ordered, BLOCKED) and "
    "stat_kruskal_wallis_ranksums (unordered, independent). "
    "J = sum over priority pairs i<j of Mann-Whitney counts, carried "
    "exactly in doubled units (j2 = 2*J with ties counting 1): for "
    "each cents value the 10 pair terms c_j*(2*below_i + ties_i) "
    "come from per-group prefix sums on the shared value spine. The "
    "null mean is the closed form (N^2 - sum n_i^2)/4, kept as the "
    "integer mean_j4 = 4*E[J]; dev_j4 = 4J - 4E[J] is the exact "
    "deviation whose sign is the trend direction. Scale: one "
    "group-by to the cents spine (bounded by the DECIMAL(15,2) "
    "price DOMAIN, not the data — same contract as "
    "stat_mann_whitney_cliffs_delta); one spine window; decimal-cast "
    "products so 15M+ rows cannot overflow.",
)
def stat_jonckheere_terpstra(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    g = F.substring("o_orderpriority", 1, 1).cast("long")
    cnt = (
        orders.select(
            (dec("o_totalprice") * 100).cast("long").alias("v"),
            g.alias("g"),
        )
        .groupBy("v")
        .agg(
            *[
                F.sum(F.when(F.col("g") == i, 1).otherwise(0))
                .cast("long")
                .alias(f"c{i}")
                for i in range(1, 6)
            ]
        )
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    pre = cnt.select(
        "v",
        *[f"c{i}" for i in range(1, 6)],
        *[
            (F.sum(f"c{i}").over(w) - F.col(f"c{i}")).alias(f"b{i}")
            for i in range(1, 5)
        ],
    )
    d = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    terms = None
    for j in range(2, 6):
        for i in range(1, j):
            t = d(f"c{j}") * (2 * F.col(f"b{i}") + F.col(f"c{i}"))
            terms = t if terms is None else terms + t
    j2 = pre.agg(F.sum(terms).cast("long").alias("j2"))
    tot = cnt.agg(
        *[F.sum(f"c{i}").cast("long").alias(f"n{i}") for i in range(1, 6)]
    )
    n = sum(F.col(f"n{i}") for i in range(1, 6))
    sq = sum(F.col(f"n{i}") * F.col(f"n{i}") for i in range(1, 6))
    return j2.crossJoin(F.broadcast(tot)).select(
        n.cast("long").alias("n_total"),
        *[f"n{i}" for i in range(1, 6)],
        "j2",
        (n * n - sq).cast("long").alias("mean_j4"),
        (2 * F.col("j2") - (n * n - sq)).cast("long").alias("dev_j4"),
    )


# ------------------------------------------------------ bridge edges

_BR_HOPS = 6


def _bridge_bfs_sql() -> str:
    """Chained per-edge-id BFS CTEs a1..a6 (frontier = previous
    level, anti-join on the accumulated set), mirroring the engine's
    unrolled loop exactly."""
    parts = []
    for k in range(1, _BR_HOPS + 1):
        prev = f"a{k - 1}"
        parts.append(
            f"""a{k} AS (
            SELECT * FROM {prev}
            UNION ALL
            SELECT eid, node, {k} AS dist FROM (
                SELECT DISTINCT e.eid, e.dst AS node
                FROM {prev} f JOIN ex e
                  ON e.eid = f.eid AND e.src = f.node
                WHERE f.dist = {k - 1}
            ) nx
            WHERE NOT EXISTS (
                SELECT 1 FROM {prev} x
                WHERE x.eid = nx.eid AND x.node = nx.node
            )
        )"""
        )
    return ", ".join(parts)


@query(
    "graph_bridge_edges",
    oracle=f"""
        WITH {SQL_NATION_TRADE}, heavy AS MATERIALIZED (
            SELECT u, v, u * 100 + v AS eid
            FROM trade CROSS JOIN st
            WHERE w * cnt * 2 >= 3 * tot
        ), de AS (
            SELECT u AS src, v AS dst FROM heavy
            UNION ALL SELECT v AS src, u AS dst FROM heavy
        ), ex AS MATERIALIZED (
            SELECT h.eid, d.src, d.dst
            FROM heavy h CROSS JOIN de d
            WHERE NOT ((d.src = h.u AND d.dst = h.v)
                       OR (d.src = h.v AND d.dst = h.u))
        ), a0 AS (
            SELECT eid, u AS node, 0 AS dist FROM heavy
        ), {_bridge_bfs_sql()}
        SELECT h.u, h.v,
               CAST(CASE WHEN r.dist IS NULL THEN 1 ELSE 0 END
                    AS BIGINT) AS is_bridge,
               CAST(COALESCE(r.dist, 0) AS BIGINT) AS alt_dist
        FROM heavy h
        LEFT JOIN a{_BR_HOPS} r ON r.eid = h.eid AND r.node = h.v
        ORDER BY h.u, h.v
    """,
    description="Bridge (cut-edge) detection on the heavy nation "
    "trade graph: for every heavy edge (u,v), a BFS from u with that "
    f"one edge removed, horizon {_BR_HOPS} — the edge is a bridge "
    "iff v is unreachable without it, and alt_dist is the alternate-"
    "path length (>= 2 by construction, 0 when none in horizon). All "
    "per-edge searches run AT ONCE: the frontier is keyed by edge id "
    "and expands through a pre-filtered (eid, src, dst) exclusion "
    "relation, so the round count stays the horizon and never the "
    "edge count. Same heavy-edge construction and horizon contract "
    "as graph_harmonic_centrality / graph_eccentricity_diameter "
    "(analytics86.py). Scale: the trade aggregation is the only "
    "fact-scale work; the keyed BFS state is bounded by edges x "
    "nodes (<= 40 x 25) with localCheckpoint per round.",
)
def graph_bridge_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    heavy = (
        heavy_trade(spark, sf_dir)
        .select("u", "v", (F.col("u") * 100 + F.col("v")).alias("eid"))
        .localCheckpoint(eager=False)
    )
    de = heavy.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
        heavy.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    ex = (
        heavy.select("eid", F.col("u").alias("eu"), F.col("v").alias("ev"))
        .crossJoin(de)
        .where(
            ~(
                ((F.col("src") == F.col("eu")) & (F.col("dst") == F.col("ev")))
                | ((F.col("src") == F.col("ev")) & (F.col("dst") == F.col("eu")))
            )
        )
        .select("eid", "src", "dst")
        .localCheckpoint(eager=False)
    )
    reach = heavy.select(
        "eid", F.col("u").alias("node"), F.lit(0).alias("dist")
    ).localCheckpoint(eager=False)
    frontier = reach
    for k in range(1, _BR_HOPS + 1):
        nxt = (
            frontier.select(
                F.col("eid").alias("f_eid"), F.col("node").alias("f_node")
            )
            .join(
                F.broadcast(ex),
                (F.col("f_eid") == F.col("eid"))
                & (F.col("f_node") == F.col("src")),
            )
            .select("eid", F.col("dst").alias("node"))
            .distinct()
            .join(reach.select("eid", "node"), ["eid", "node"], "left_anti")
            .select("eid", "node", F.lit(k).alias("dist"))
            .localCheckpoint(eager=True)
        )
        reach = reach.unionAll(nxt).localCheckpoint(eager=True)
        frontier = nxt
    hit = reach.select(
        F.col("eid").alias("r_eid"),
        F.col("node").alias("r_node"),
        F.col("dist").alias("alt"),
    )
    return (
        heavy.join(
            F.broadcast(hit),
            (heavy.eid == hit.r_eid) & (heavy.v == hit.r_node),
            "left",
        )
        .select(
            "u",
            "v",
            F.when(F.col("alt").isNull(), 1)
            .otherwise(0)
            .cast("long")
            .alias("is_bridge"),
            F.coalesce("alt", F.lit(0)).cast("long").alias("alt_dist"),
        )
        .orderBy("u", "v")
    )


# ------------------------------------------------- Easter computus


@query(
    "time_easter_computus",
    oracle="""
        WITH yrs AS (
            SELECT DISTINCT EXTRACT(year FROM o_orderdate) AS y FROM orders
        ), c1 AS (
            SELECT y, y % 19 AS a, y // 100 AS b, y % 100 AS c FROM yrs
        ), c2 AS (
            SELECT *, b // 4 AS d, b % 4 AS e, (b + 8) // 25 AS f FROM c1
        ), c3 AS (
            SELECT *, (b - f + 1) // 3 AS gg FROM c2
        ), c4 AS (
            SELECT *, (19*a + b - d - gg + 15) % 30 AS h,
                   c // 4 AS i, c % 4 AS k
            FROM c3
        ), c5 AS (
            SELECT *, (32 + 2*e + 2*i - h - k) % 7 AS l FROM c4
        ), c6 AS (
            SELECT *, (a + 11*h + 22*l) // 451 AS m FROM c5
        ), easter AS (
            SELECT y,
                   CAST((h + l - 7*m + 114) // 31 AS BIGINT) AS emonth,
                   CAST((h + l - 7*m + 114) % 31 + 1 AS BIGINT) AS eday,
                   make_date(CAST(y AS INT),
                             CAST((h + l - 7*m + 114) // 31 AS INT),
                             CAST((h + l - 7*m + 114) % 31 + 1 AS INT))
                       AS edate
            FROM c6
        )
        SELECT CAST(e.y AS BIGINT) AS year, e.emonth AS easter_month,
               e.eday AS easter_day,
               CAST(COUNT(*) FILTER (o.o_orderdate
                    BETWEEN e.edate - 6 AND e.edate) AS BIGINT)
                   AS holy_week_orders,
               CAST(COUNT(*) AS BIGINT) AS year_orders,
               CAST((1000000 * COUNT(*) FILTER (o.o_orderdate
                     BETWEEN e.edate - 6 AND e.edate)) // COUNT(*)
                    AS BIGINT) AS holy_week_ppm
        FROM easter e
        JOIN orders o ON EXTRACT(year FROM o.o_orderdate) = e.y
        GROUP BY 1, 2, 3
        ORDER BY 1
    """,
    description="The anonymous Gregorian computus (Gauss/Meeus): "
    "Easter Sunday's month and day for every order year, computed "
    "with PURE integer div/mod on non-negative intermediates — the "
    "one calendrical quantity that cannot come from date arithmetic "
    "alone (lunisolar), so it exercises 10 chained integer "
    "operations identically in both engines. Then the Holy-Week "
    "share: orders dated within [Easter-6d, Easter] per year, in "
    "exact ppm. Extends the calendar lane (fiscal-445, ISO-week, "
    "business-day SLA) with a computed movable feast. Scale: the "
    "computus runs on the <= 7-row year spine; the share is one "
    "broadcast join + group-by over orders.",
)
def time_easter_computus(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    yrs = orders.select(
        F.year("o_orderdate").cast("long").alias("y")
    ).distinct()
    e = (
        yrs.withColumn("a", F.expr("y % 19"))
        .withColumn("b", F.expr("y DIV 100"))
        .withColumn("c", F.expr("y % 100"))
        .withColumn("d", F.expr("b DIV 4"))
        .withColumn("e", F.expr("b % 4"))
        .withColumn("f", F.expr("(b + 8) DIV 25"))
        .withColumn("gg", F.expr("(b - f + 1) DIV 3"))
        .withColumn("h", F.expr("(19*a + b - d - gg + 15) % 30"))
        .withColumn("i", F.expr("c DIV 4"))
        .withColumn("k", F.expr("c % 4"))
        .withColumn("l", F.expr("(32 + 2*e + 2*i - h - k) % 7"))
        .withColumn("m", F.expr("(a + 11*h + 22*l) DIV 451"))
        .withColumn("emonth", F.expr("(h + l - 7*m + 114) DIV 31"))
        .withColumn("eday", F.expr("(h + l - 7*m + 114) % 31 + 1"))
        .withColumn(
            "edate",
            F.make_date(
                F.col("y").cast("int"),
                F.col("emonth").cast("int"),
                F.col("eday").cast("int"),
            ),
        )
        .select("y", "emonth", "eday", "edate")
    )
    in_week = F.col("o_orderdate").between(
        F.date_sub(F.col("edate"), 6), F.col("edate")
    )
    return (
        orders.join(
            F.broadcast(e), F.year("o_orderdate").cast("long") == e.y
        )
        .groupBy(
            F.col("y").alias("year"),
            F.col("emonth").cast("long").alias("easter_month"),
            F.col("eday").cast("long").alias("easter_day"),
        )
        .agg(
            F.sum(F.when(in_week, 1).otherwise(0))
            .cast("long")
            .alias("holy_week_orders"),
            F.count(F.lit(1)).cast("long").alias("year_orders"),
        )
        .withColumn(
            "holy_week_ppm",
            F.expr("(1000000 * holy_week_orders) DIV year_orders"),
        )
        .orderBy("year")
    )


# ---------------------------------------------- Allan variance


@query(
    "events_allan_variance",
    oracle="""
        WITH ev AS (
            SELECT event_type, CAST(ts AS DATE) AS d FROM events
        ), span AS (
            SELECT MIN(d) AS d0, MAX(d) AS d1 FROM ev
        ), days AS (
            SELECT CAST(unnest(generate_series(d0, d1,
                        INTERVAL 1 DAY)) AS DATE) AS d
            FROM span
        ), types AS (
            SELECT DISTINCT event_type FROM ev
        ), cnt0 AS (
            SELECT event_type, d, CAST(COUNT(*) AS BIGINT) AS y
            FROM ev GROUP BY 1, 2
        ), cnt AS (
            SELECT t.event_type, dd.d, COALESCE(c.y, 0) AS y
            FROM types t CROSS JOIN days dd
            LEFT JOIN cnt0 c
              ON c.event_type = t.event_type AND c.d = dd.d
        ), seq AS (
            SELECT event_type, y,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY d) - 1 AS rn,
                   LEAD(y) OVER (PARTITION BY event_type
                                 ORDER BY d) AS ynext
            FROM cnt
        ), t1 AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_days,
                   CAST(SUM((ynext - y) * (ynext - y))
                        FILTER (ynext IS NOT NULL) AS BIGINT) AS ssd1,
                   CAST(COUNT(*) FILTER (ynext IS NOT NULL)
                        AS BIGINT) AS m1
            FROM seq GROUP BY 1
        ), pair AS (
            SELECT event_type, rn // 2 AS pid,
                   CAST(SUM(y) AS BIGINT) AS z,
                   COUNT(*) AS c
            FROM seq GROUP BY 1, 2
        ), pseq AS (
            SELECT event_type, z,
                   LEAD(z) OVER (PARTITION BY event_type
                                 ORDER BY pid) AS znext
            FROM pair WHERE c = 2
        ), t2 AS (
            SELECT event_type,
                   CAST(SUM((znext - z) * (znext - z))
                        FILTER (znext IS NOT NULL) AS BIGINT) AS ssd2,
                   CAST(COUNT(*) FILTER (znext IS NOT NULL)
                        AS BIGINT) AS m2
            FROM pseq GROUP BY 1
        )
        SELECT t1.event_type, n_days, ssd1, m1,
               CAST((1000000 * ssd1) // (2 * m1) AS BIGINT)
                   AS avar1_micro,
               ssd2, m2,
               CAST((1000000 * ssd2) // (8 * m2) AS BIGINT)
                   AS avar2_micro,
               CAST((1000000 * ssd2 * m1) // (4 * ssd1 * m2)
                    AS BIGINT) AS ratio_micro
        FROM t1 JOIN t2 USING (event_type)
        WHERE m1 > 0 AND m2 > 0 AND ssd1 > 0
        ORDER BY t1.event_type
    """,
    description="Two-sample Allan variance of daily event counts per "
    "event type at tau = 1 and tau = 2 days — the frequency-"
    "stability statistic that stays finite under drift (where the "
    "classical variance diverges): AVAR(tau) = E[(y_{t+tau} - "
    "y_t)^2]/2 on tau-averaged samples, so the avar2/avar1 ratio "
    "separates white noise (~1/2) from random walk (~2). Counts sit "
    "on a zero-filled calendar spine (global min..max; missing days "
    "are exact zeros); sums of squared integer diffs stay integer, "
    "with three micro-scaled integer divisions at the end (the tau=2 "
    "averaging folds into the /8 and the x4 in the ratio). Extends "
    "the stability lane next to events_autocorrelation_daily and "
    "events_burstiness_index. Scale: one fact group-by to (type, "
    "day); windows partition by type over the calendar-DOMAIN-"
    "bounded spine.",
)
def events_allan_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    ev = events.select(
        "event_type", F.col("ts").cast("date").alias("d")
    )
    span = ev.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    days = span.select(
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("d")
    )
    types = ev.select("event_type").distinct()
    cnt0 = ev.groupBy("event_type", "d").agg(
        F.count(F.lit(1)).cast("long").alias("y")
    )
    cnt = (
        types.crossJoin(F.broadcast(days))
        .join(cnt0, ["event_type", "d"], "left")
        .select("event_type", "d", F.coalesce("y", F.lit(0)).alias("y"))
    )
    wo = Window.partitionBy("event_type").orderBy("d")
    seq = cnt.select(
        "event_type",
        "y",
        (F.row_number().over(wo) - 1).alias("rn"),
        F.lead("y").over(wo).alias("ynext"),
    )
    diff = F.col("ynext") - F.col("y")
    t1 = seq.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(F.when(F.col("ynext").isNotNull(), diff * diff)).cast(
            "long"
        ).alias("ssd1"),
        F.sum(F.when(F.col("ynext").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("m1"),
    )
    pair = seq.groupBy(
        "event_type", F.expr("rn DIV 2").alias("pid")
    ).agg(
        F.sum("y").cast("long").alias("z"),
        F.count(F.lit(1)).alias("c"),
    )
    wp = Window.partitionBy("event_type").orderBy("pid")
    pseq = (
        pair.where(F.col("c") == 2)
        .select("event_type", "pid", "z")
        .select(
            "event_type", "z", F.lead("z").over(wp).alias("znext")
        )
    )
    zdiff = F.col("znext") - F.col("z")
    t2 = pseq.groupBy("event_type").agg(
        F.sum(F.when(F.col("znext").isNotNull(), zdiff * zdiff))
        .cast("long")
        .alias("ssd2"),
        F.sum(F.when(F.col("znext").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("m2"),
    )
    return (
        t1.join(t2, "event_type")
        .where(
            (F.col("m1") > 0) & (F.col("m2") > 0) & (F.col("ssd1") > 0)
        )
        .select(
            "event_type",
            "n_days",
            "ssd1",
            "m1",
            F.expr("(1000000 * ssd1) DIV (2 * m1)").alias("avar1_micro"),
            "ssd2",
            "m2",
            F.expr("(1000000 * ssd2) DIV (8 * m2)").alias("avar2_micro"),
            F.expr(
                "(1000000 * ssd2 * m1) DIV (4 * ssd1 * m2)"
            ).alias("ratio_micro"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------- Hamming(7,4) audit


def _ham_stages(idiv: str) -> list[str]:
    """Shared arithmetic Hamming(7,4) pipeline, instantiated per
    dialect (idiv = '//' for DuckDB, 'DIV' for Spark). Bit work is
    pure div/mod/add on non-negative ints — identical semantics in
    both engines, no engine-specific xor operator needed."""

    def bit(e: str, k: int) -> str:
        return f"((({e}) {idiv} {1 << k}) % 2)"

    flip = (
        lambda cw, p: f"({cw} + (1 - 2*(({cw} {idiv} "
        f"(CASE WHEN {p} > 0 THEN {_pow2(p, idiv)} ELSE 1 END)) % 2))"
        f" * (CASE WHEN {p} > 0 THEN {_pow2(p, idiv)} ELSE 0 END))"
    )
    return [
        # stage 1: data nibble + two deterministic flip positions
        "okey % 16 AS dn, (okey {i} 16) % 8 AS f1, "
        "(okey {i} 128) % 8 AS f2r".format(i=idiv),
        # stage 2: second flip only counts when distinct and nonzero
        "dn, f1, CASE WHEN f2r > 0 AND f2r <> f1 THEN f2r ELSE 0 END "
        "AS f2",
        # stage 3: encode (parity via sum % 2; data at pos 3,5,6,7)
        f"dn, f1, f2, "
        f"(({bit('dn', 0)} + {bit('dn', 1)} + {bit('dn', 3)}) % 2)"
        f" + 2 * (({bit('dn', 0)} + {bit('dn', 2)} + {bit('dn', 3)}) % 2)"
        f" + 4 * {bit('dn', 0)}"
        f" + 8 * (({bit('dn', 1)} + {bit('dn', 2)} + {bit('dn', 3)}) % 2)"
        f" + 16 * {bit('dn', 1)} + 32 * {bit('dn', 2)}"
        f" + 64 * {bit('dn', 3)} AS cw",
        # stage 4: corrupt — arithmetic flip at f1 then f2
        f"dn, f1, f2, {flip('cw', 'f1')} AS cw1",
        f"dn, f1, f2, {flip('cw1', 'f2')} AS cwf",
        # stage 5: syndrome from received word
        f"dn, f1, f2, cwf, "
        f"(({bit('cwf', 0)} + {bit('cwf', 2)} + {bit('cwf', 4)}"
        f" + {bit('cwf', 6)}) % 2)"
        f" + 2 * (({bit('cwf', 1)} + {bit('cwf', 2)} + {bit('cwf', 5)}"
        f" + {bit('cwf', 6)}) % 2)"
        f" + 4 * (({bit('cwf', 3)} + {bit('cwf', 4)} + {bit('cwf', 5)}"
        f" + {bit('cwf', 6)}) % 2) AS s",
        # stage 6: correct at the syndrome position, decode the nibble
        f"dn, f1, f2, s, {flip('cwf', 's')} AS cwc",
        f"dn, f1, f2, s, "
        f"{bit('cwc', 2)} + 2 * {bit('cwc', 4)} + 4 * {bit('cwc', 5)}"
        f" + 8 * {bit('cwc', 6)} AS decoded",
        # stage 7: stratum + theory checks (3-bit xor via per-bit sums)
        f"CAST((CASE WHEN f1 > 0 THEN 1 ELSE 0 END)"
        f" + (CASE WHEN f2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_err, "
        f"CASE WHEN decoded = dn THEN 1 ELSE 0 END AS ok, "
        f"CASE WHEN s = 0 THEN 1 ELSE 0 END AS s_zero, "
        f"CASE WHEN s = (({bit('f1', 0)} + {bit('f2', 0)}) % 2)"
        f" + 2 * (({bit('f1', 1)} + {bit('f2', 1)}) % 2)"
        f" + 4 * (({bit('f1', 2)} + {bit('f2', 2)}) % 2)"
        f" THEN 1 ELSE 0 END AS s_theory",
    ]


def _pow2(p: str, idiv: str) -> str:
    # 2^(p-1) for p in 1..7 without exponentiation: shift a lookup
    return (
        f"(CASE {p} WHEN 1 THEN 1 WHEN 2 THEN 2 WHEN 3 THEN 4 "
        f"WHEN 4 THEN 8 WHEN 5 THEN 16 WHEN 6 THEN 32 ELSE 64 END)"
    )


def _ham_oracle() -> str:
    stages = _ham_stages("//")
    sql = "SELECT o_orderkey AS okey FROM orders"
    for st in stages:
        sql = f"SELECT {st} FROM ({sql})"
    return f"""
        SELECT n_err,
               CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(SUM(ok) AS BIGINT) AS n_decode_ok,
               CAST(SUM(s_zero) AS BIGINT) AS n_syndrome_zero,
               CAST(SUM(s_theory) AS BIGINT) AS n_syndrome_theory_ok,
               CAST((1000000 * SUM(ok)) // COUNT(*) AS BIGINT)
                   AS decode_ok_ppm
        FROM ({sql})
        GROUP BY n_err
        ORDER BY n_err
    """


@query(
    "dq_hamming74_ecc_audit",
    oracle=_ham_oracle(),
    description="Hamming(7,4) error-correcting-code audit as a data-"
    "integrity lane: every orderkey's low nibble is encoded into a "
    "7-bit codeword (parity positions 1,2,4), deterministically "
    "corrupted with 0, 1, or 2 bit flips derived from higher key "
    "bits, syndrome-decoded, and audited per error stratum — single "
    "errors must decode 100% with syndrome = flip position, double "
    "errors must MIScorrect (the classic d_min=3 failure) with "
    "syndrome = XOR of the two positions (checked bitwise). All bit "
    "manipulation is arithmetic div/mod/add on non-negative ints — "
    "no engine-specific xor/shift operators (DuckDB's ^ is POWER, "
    "Spark's is xor), so both engines share exact semantics by "
    "construction. Scale: pure per-row JVM expressions (whole-stage "
    "codegen) then a 3-group aggregate — embarrassingly parallel.",
)
def dq_hamming74_ecc_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    df = orders.select(F.col("o_orderkey").alias("okey"))
    for st in _ham_stages("DIV"):
        df = df.selectExpr(*[s.strip() for s in _split_top(st)])
    return (
        df.groupBy("n_err")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.sum("ok").cast("long").alias("n_decode_ok"),
            F.sum("s_zero").cast("long").alias("n_syndrome_zero"),
            F.sum("s_theory").cast("long").alias("n_syndrome_theory_ok"),
        )
        .withColumn(
            "decode_ok_ppm",
            F.expr("(1000000 * n_decode_ok) DIV n_keys"),
        )
        .orderBy("n_err")
    )


def _split_top(stage: str) -> list[str]:
    """Split a stage's SELECT list on top-level commas (commas inside
    parentheses belong to CASE/functions)."""
    parts, depth, cur = [], 0, []
    for ch in stage:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur))
    return parts
