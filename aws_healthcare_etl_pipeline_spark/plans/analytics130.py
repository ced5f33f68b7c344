"""Wave-156 (round 5): TSP heuristics + FX triangulation audit.

* ``routing_tsp_nn_2opt`` — combinatorial routing on 25 hash-lattice
  cities (one per nation, Manhattan metric so every length is an
  integer): the nearest-neighbor tour built greedily from city 0
  (ties by key), then a FULL 2-opt scan of the closed tour —
  improving moves counted and the best improvement emitted, the
  standard measure of how far the greedy construction sits from
  2-opt-local optimality.  The city set is bounded BY CONSTRUCTION
  (the nation dimension), so construction + scan run on the driver
  (wave-149/152 lesson); the oracle rebuilds the tour with 24
  generated MATERIALIZED CTE levels (argmin over unvisited per
  level) and scans 2-opt pairs in SQL, cross-checking the driver
  loop against pure SQL.
* ``finance_fx_triangulation_audit`` — cross-rate consistency over a
  planted FX grid: quoted rates r(a->b) = v_a*1e6 div v_b from
  latent hash values, with a 5 percent markup PLANTED on pairs
  where (a+b) mod 11 = 3.  Triangulation residuals
  r(a->c) - r(a->b)*r(b->c) div 1e6 are ~quantization-sized (a few
  units) on clean triples and markup-sized (~1e4+) on any triple
  touching a marked pair — the audit groups by marked-pair
  involvement and the two residual ranges separate by orders of
  magnitude, so the arbitrage detector is proven on planted truth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import hex4, query, sql_hex4

# ------------------------------------------------ TSP NN + 2-opt

_TSP_N = 25  # cities = nations (constant dimension)


def _tsp_oracle() -> str:
    levels = []
    for k in range(1, _TSP_N):
        p = f"t{k - 1}"
        levels.append(
            f"""t{k} AS MATERIALIZED (
            SELECT * FROM {p}
            UNION ALL
            SELECT {k} AS pos, c.k AS city FROM (
                SELECT cc.k,
                       ROW_NUMBER() OVER (ORDER BY
                           ABS(cc.x - cur.x) + ABS(cc.y - cur.y),
                           cc.k) AS rn
                FROM coords cc,
                     (SELECT c2.x, c2.y FROM {p} tt
                      JOIN coords c2 ON c2.k = tt.city
                      WHERE tt.pos = {k - 1}) cur
                WHERE cc.k NOT IN (SELECT city FROM {p})
            ) c WHERE c.rn = 1
        )"""
        )
    n = _TSP_N
    return f"""
        WITH coords AS MATERIALIZED (
            SELECT n_nationkey AS k,
                   ({sql_hex4("'tspx:' || CAST(n_nationkey AS VARCHAR)")})
                       % 1000 AS x,
                   ({sql_hex4("'tspy:' || CAST(n_nationkey AS VARCHAR)")})
                       % 1000 AS y
            FROM nation
        ), t0 AS MATERIALIZED (
            SELECT 0 AS pos, CAST(0 AS BIGINT) AS city
        ), {", ".join(levels)}, tour AS MATERIALIZED (
            SELECT t.pos, t.city, c.x, c.y
            FROM t{n - 1} t JOIN coords c ON c.k = t.city
        ), legs AS MATERIALIZED (
            SELECT a.pos, a.city,
                   CAST(ABS(a.x - b.x) + ABS(a.y - b.y) AS BIGINT)
                       AS leg_len
            FROM tour a JOIN tour b ON b.pos = (a.pos + 1) % {n}
        ), dmat AS MATERIALIZED (
            SELECT a.pos AS i, b.pos AS j,
                   ABS(a.x - b.x) + ABS(a.y - b.y) AS d
            FROM tour a, tour b
        ), twoopt AS (
            SELECT CAST(COUNT(*) FILTER (WHERE
                       di.d + dj.d - dij.d - dii.d > 0) AS BIGINT)
                       AS n_improving,
                   CAST(COALESCE(MAX(di.d + dj.d - dij.d - dii.d), 0)
                       AS BIGINT) AS best_delta
            FROM (SELECT i.i AS ei, j.i AS ej
                  FROM (SELECT DISTINCT i FROM dmat) i,
                       (SELECT DISTINCT i FROM dmat) j
                  WHERE i.i < j.i AND j.i != i.i + 1
                    AND NOT (i.i = 0 AND j.i = {n - 1})) e
            JOIN dmat di ON di.i = e.ei AND di.j = (e.ei + 1) % {n}
            JOIN dmat dj ON dj.i = e.ej AND dj.j = (e.ej + 1) % {n}
            JOIN dmat dij ON dij.i = e.ei AND dij.j = e.ej
            JOIN dmat dii ON dii.i = (e.ei + 1) % {n}
                         AND dii.j = (e.ej + 1) % {n}
        ), total AS (
            SELECT CAST(SUM(leg_len) AS BIGINT) AS tour_total
            FROM legs
        )
        SELECT l.pos, CAST(l.city AS BIGINT) AS city, l.leg_len,
               t.tour_total, o.n_improving, o.best_delta
        FROM legs l CROSS JOIN total t CROSS JOIN twoopt o
        ORDER BY l.pos
    """


@query(
    "routing_tsp_nn_2opt",
    oracle=_tsp_oracle(),
    description="Combinatorial routing audit on 25 hash-lattice "
    "cities (one per nation, Manhattan metric — every length an "
    "integer): the nearest-neighbor tour greedily built from city 0 "
    "with key tie-breaks, then a FULL 2-opt scan of the closed "
    "tour — improving moves counted and the best improvement "
    "emitted, the standard gauge of how far greedy construction "
    "sits from 2-opt local optimality. The city set is the bounded "
    "nation dimension, so construction + scan run on the driver "
    "(the small-table AQE lesson); the oracle rebuilds the tour in "
    "24 generated MATERIALIZED CTE levels (argmin over unvisited) "
    "and scans 2-opt pairs in SQL — the hash match cross-checks the "
    "driver loop against pure SQL. 100 TB shape: model-table work; "
    "the coordinates would come from one data-scale aggregation "
    "(e.g. per-region centroid of delivery points).",
)
def routing_tsp_nn_2opt(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    nation = load_table(spark, sf_dir, "nation")
    keys = [
        r["n_nationkey"]
        for r in nation.select("n_nationkey").collect()
    ]

    def hex4(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:4], 16)

    coords = {
        k: (hex4(f"tspx:{k}") % 1000, hex4(f"tspy:{k}") % 1000)
        for k in keys
    }

    def dist(a: int, b: int) -> int:
        (x1, y1), (x2, y2) = coords[a], coords[b]
        return abs(x1 - x2) + abs(y1 - y2)

    tour = [0]
    unvisited = set(keys) - {0}
    while unvisited:
        cur = tour[-1]
        nxt = min(unvisited, key=lambda c: (dist(cur, c), c))
        tour.append(nxt)
        unvisited.discard(nxt)
    n = len(tour)
    legs = [dist(tour[i], tour[(i + 1) % n]) for i in range(n)]
    total = sum(legs)
    n_improving = 0
    best_delta = 0
    for i in range(n):
        for j in range(i + 2, n):
            if i == 0 and j == n - 1:
                continue
            delta = (
                dist(tour[i], tour[(i + 1) % n])
                + dist(tour[j], tour[(j + 1) % n])
                - dist(tour[i], tour[j])
                - dist(tour[(i + 1) % n], tour[(j + 1) % n])
            )
            if delta > 0:
                n_improving += 1
                best_delta = max(best_delta, delta)
    rows = [
        (
            i,
            int(tour[i]),
            int(legs[i]),
            int(total),
            int(n_improving),
            int(best_delta),
        )
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows,
        "pos: int, city: long, leg_len: long, tour_total: long,"
        " n_improving: long, best_delta: long",
    ).orderBy("pos")


# ------------------------------------------------ FX triangulation


@query(
    "finance_fx_triangulation_audit",
    oracle=f"""
        WITH cur AS MATERIALIZED (
            SELECT n_nationkey AS k,
                   100 + ({sql_hex4(
                       "'fxv:' || CAST(n_nationkey AS VARCHAR)"
                   )}) % 900 AS v
            FROM nation
        ), rates AS MATERIALIZED (
            SELECT a.k AS src, b.k AS dst,
                   CASE WHEN (a.k + b.k) % 11 = 3
                        THEN (a.v * 1000000 // b.v) * 105 // 100
                        ELSE a.v * 1000000 // b.v END AS r,
                   CASE WHEN (a.k + b.k) % 11 = 3 THEN 1 ELSE 0 END
                       AS marked
            FROM cur a JOIN cur b ON b.k != a.k
        ), triples AS (
            SELECT rac.r - rab.r * rbc.r // 1000000 AS res,
                   CAST(CASE WHEN rab.marked = 1 OR rbc.marked = 1
                             OR rac.marked = 1
                        THEN 1 ELSE 0 END AS BIGINT) AS has_marked
            FROM rates rab
            JOIN rates rbc ON rbc.src = rab.dst
            JOIN rates rac ON rac.src = rab.src
                          AND rac.dst = rbc.dst
            WHERE rab.src != rbc.dst
        )
        SELECT has_marked,
               CAST(COUNT(*) AS BIGINT) AS n_triples,
               CAST(MAX(ABS(res)) AS BIGINT) AS max_abs_res,
               CAST(SUM(ABS(res)) * 1000 // COUNT(*) AS BIGINT)
                   AS mean_abs_res_millis
        FROM triples
        GROUP BY has_marked
        ORDER BY has_marked
    """,
    description="FX cross-rate triangulation audit with planted "
    "arbitrage: quoted rates r(a->b) = v_a*1e6 div v_b from latent "
    "hash values, a 5 percent markup planted on pairs with "
    "(a+b) mod 11 = 3; the triangulation residual r(a->c) - "
    "r(a->b)*r(b->c) div 1e6 is quantization-sized (a few units) "
    "on clean triples and markup-sized on any triple touching a "
    "marked pair — grouped by marked involvement, the two residual "
    "ranges separate by orders of magnitude, proving the arbitrage "
    "detector on planted truth. 100 TB shape: the rate grid and "
    "the 25^3-bounded triple scan are dimension-table work; real "
    "deployments join the bounded rate table to fact-grain "
    "transactions as a broadcast.",
)
def finance_fx_triangulation_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    cur = nation.select(
        F.col("n_nationkey").alias("k"),
        (
            100
            + hex4(F.concat(F.lit("fxv:"), F.col("n_nationkey").cast("string")))
            % 900
        ).alias("v"),
    )
    a = cur.select(F.col("k").alias("src"), F.col("v").alias("va"))
    b = cur.select(F.col("k").alias("dst"), F.col("v").alias("vb"))
    rates = (
        a.crossJoin(b)
        .where(F.col("src") != F.col("dst"))
        .select(
            "src",
            "dst",
            F.expr(
                "CASE WHEN (src + dst) % 11 = 3"
                " THEN (va * 1000000 div vb) * 105 div 100"
                " ELSE va * 1000000 div vb END"
            ).alias("r"),
            F.expr(
                "CASE WHEN (src + dst) % 11 = 3 THEN 1 ELSE 0 END"
            ).alias("marked"),
        )
        .localCheckpoint(eager=False)  # 600-row rate grid, reused 3x
    )
    rab = rates.select(
        F.col("src").alias("ta"),
        F.col("dst").alias("tb"),
        F.col("r").alias("r_ab"),
        F.col("marked").alias("m_ab"),
    )
    rbc = rates.select(
        F.col("src").alias("tb"),
        F.col("dst").alias("tc"),
        F.col("r").alias("r_bc"),
        F.col("marked").alias("m_bc"),
    )
    rac = rates.select(
        F.col("src").alias("ta"),
        F.col("dst").alias("tc"),
        F.col("r").alias("r_ac"),
        F.col("marked").alias("m_ac"),
    )
    triples = (
        rab.join(rbc, "tb")
        .where(F.col("ta") != F.col("tc"))
        .join(rac, ["ta", "tc"])
        .select(
            F.expr("r_ac - r_ab * r_bc div 1000000").alias("res"),
            F.expr(
                "CAST(CASE WHEN m_ab = 1 OR m_bc = 1 OR m_ac = 1"
                " THEN 1 ELSE 0 END AS BIGINT)"
            ).alias("has_marked"),
        )
    )
    return (
        triples.groupBy("has_marked")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_triples"),
            F.max(F.abs("res")).cast("long").alias("max_abs_res"),
            F.expr("SUM(ABS(res)) * 1000 div COUNT(*)")
            .cast("long")
            .alias("mean_abs_res_millis"),
        )
        .orderBy("has_marked")
    )
