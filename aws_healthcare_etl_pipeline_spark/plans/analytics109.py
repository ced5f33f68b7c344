"""Wave-135 (round 5): arc price elasticity + Getis-Ord hotspots.

* ``finance_arc_price_elasticity`` — price elasticity without
  logarithms: the arc (midpoint) elasticity
  ((q2-q1)/(q1+q2)) / ((p2-p1)/(p1+p2)) with per-brand prices as
  revenue/quantity RATIONALS, so the whole expression reduces to
  exact integer cross-products (q2-q1)(S2Q1+S1Q2) over
  (q1+q2)(S2Q1-S1Q2), carried in DECIMAL(38)/HUGEINT and emitted
  in milli — the economist's demand-sensitivity table from two
  periods of the fact table.
* ``geo_getis_ord_hotspots`` — the spatial-statistics hotspot
  detector (Getis-Ord G*): event counts on a 32x32 lattice, 3x3
  neighborhood sums by a bounded offset join, and the z-score
  (nW - kS) / sqrt((n*ssq - S^2) * (nk - k^2) / (n-1)) under the
  repo's controlled-double discipline (exact integer numerator
  and factors, one multiply/divide/sqrt chain, floor to milli).
  Purchase events are PLANTED onto a coarse 4-sublattice, so the
  detector must flag exactly those cells — self-auditing spatial
  inference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import hex8, query, sql_hex8

# ------------------------------------------- arc elasticity

_Y1, _Y2 = 1996, 1997


@query(
    "finance_arc_price_elasticity",
    oracle=f"""
        WITH per AS (
            SELECT p.p_brand AS brand,
                   EXTRACT(year FROM l.l_shipdate) AS yr,
                   CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(15,2))
                            * 100) AS BIGINT) AS s,
                   CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS q
            FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
            WHERE EXTRACT(year FROM l.l_shipdate) IN ({_Y1}, {_Y2})
            GROUP BY 1, 2
        ), wide AS (
            SELECT brand,
                   MAX(CASE WHEN yr = {_Y1} THEN s END) AS s1,
                   MAX(CASE WHEN yr = {_Y1} THEN q END) AS q1,
                   MAX(CASE WHEN yr = {_Y2} THEN s END) AS s2,
                   MAX(CASE WHEN yr = {_Y2} THEN q END) AS q2
            FROM per GROUP BY brand
            HAVING MAX(CASE WHEN yr = {_Y1} THEN q END) IS NOT NULL
               AND MAX(CASE WHEN yr = {_Y2} THEN q END) IS NOT NULL
        )
        SELECT brand, q1, q2,
               CAST((CAST(s1 AS HUGEINT) * 1000000) // q1 AS BIGINT)
                   AS p1_microcents,
               CAST((CAST(s2 AS HUGEINT) * 1000000) // q2 AS BIGINT)
                   AS p2_microcents,
               CASE WHEN CAST(s2 AS HUGEINT) * q1
                         = CAST(s1 AS HUGEINT) * q2 THEN NULL
                    ELSE CAST((q2 - q1)
                         * (CAST(s2 AS HUGEINT) * q1
                            + CAST(s1 AS HUGEINT) * q2) * 1000
                         // ((q1 + q2)
                             * (CAST(s2 AS HUGEINT) * q1
                                - CAST(s1 AS HUGEINT) * q2))
                         AS BIGINT)
               END AS arc_elasticity_milli
        FROM wide ORDER BY brand
    """,
    description="Arc (midpoint) price elasticity per brand between "
    f"{_Y1} and {_Y2} — demand sensitivity WITHOUT logarithms: with "
    "the per-period price the rational S/Q, the midpoint formula "
    "((q2-q1)/(q1+q2)) / ((p2-p1)/(p1+p2)) collapses to the exact "
    "integer cross-product ratio (q2-q1)(S2Q1+S1Q2) over "
    "(q1+q2)(S2Q1-S1Q2), carried in HUGEINT/DECIMAL(38) and "
    "emitted in milli (NULL when prices are exactly equal — no "
    "division blow-up). Per-period unit prices ride along in "
    "micro-cents for the audit trail. 100 TB shape: one year-"
    "filtered (partition-prunable) lineitem aggregate at brand x "
    "year grain, a 25-row pivot, pure integer algebra after.",
)
def finance_arc_price_elasticity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    line = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    per = (
        line.join(F.broadcast(part), part.p_partkey == line.l_partkey)
        .where(F.year("l_shipdate").isin(_Y1, _Y2))
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.year("l_shipdate").alias("yr"),
        )
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(15,2)") * 100)
            .cast("long")
            .alias("s"),
            F.sum(F.col("l_quantity").cast("long")).alias("q"),
        )
    )
    wide = (
        per.groupBy("brand")
        .agg(
            F.max(F.when(F.col("yr") == _Y1, F.col("s"))).alias("s1"),
            F.max(F.when(F.col("yr") == _Y1, F.col("q"))).alias("q1"),
            F.max(F.when(F.col("yr") == _Y2, F.col("s"))).alias("s2"),
            F.max(F.when(F.col("yr") == _Y2, F.col("q"))).alias("q2"),
        )
        .where(F.col("q1").isNotNull() & F.col("q2").isNotNull())
    )
    d38 = "decimal(38,0)"
    return wide.select(
        "brand",
        "q1",
        "q2",
        F.expr(
            f"CAST((CAST(s1 AS {d38}) * 1000000) div q1 AS LONG)"
        ).alias("p1_microcents"),
        F.expr(
            f"CAST((CAST(s2 AS {d38}) * 1000000) div q2 AS LONG)"
        ).alias("p2_microcents"),
        F.expr(
            f"""CASE WHEN CAST(s2 AS {d38}) * q1 = CAST(s1 AS {d38}) * q2
                     THEN NULL
                 ELSE CAST((q2 - q1)
                      * (CAST(s2 AS {d38}) * q1 + CAST(s1 AS {d38}) * q2)
                      * 1000
                      div ((q1 + q2)
                           * (CAST(s2 AS {d38}) * q1
                              - CAST(s1 AS {d38}) * q2))
                      AS LONG)
                 END"""
        ).alias("arc_elasticity_milli"),
    ).orderBy("brand")


# ------------------------------------------- Getis-Ord G*

_GRID = 32
_Z_FLAG_MILLI = 2000  # |z| >= 2 sigma


@query(
    "geo_getis_ord_hotspots",
    oracle=f"""
        WITH pts AS (
            SELECT CASE WHEN event_type = 'purchase'
                        THEN (({sql_hex8(
                            "'gx:' || CAST(user_id AS VARCHAR)")})
                              % {_GRID}) // 4 * 4
                        ELSE ({sql_hex8(
                            "'gx:' || CAST(user_id AS VARCHAR)")})
                             % {_GRID} END AS cx,
                   CASE WHEN event_type = 'purchase'
                        THEN (({sql_hex8(
                            "'gy:' || CAST(user_id AS VARCHAR)")})
                              % {_GRID}) // 4 * 4
                        ELSE ({sql_hex8(
                            "'gy:' || CAST(user_id AS VARCHAR)")})
                             % {_GRID} END AS cy
            FROM events
        ), grid AS (
            SELECT gx.x AS cx, gy.y AS cy
            FROM range(0, {_GRID}) gx(x) CROSS JOIN range(0, {_GRID}) gy(y)
        ), cells AS (
            SELECT g.cx, g.cy,
                   CAST(COALESCE(c.n, 0) AS BIGINT) AS x
            FROM grid g LEFT JOIN (
                SELECT cx, cy, COUNT(*) AS n FROM pts GROUP BY 1, 2
            ) c ON c.cx = g.cx AND c.cy = g.cy
        ), mom AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS s,
                   CAST(SUM(x * x) AS BIGINT) AS ssq
            FROM cells
        ), hood AS (
            SELECT a.cx, a.cy, a.x,
                   CAST(SUM(b.x) AS BIGINT) AS w,
                   CAST(COUNT(*) AS BIGINT) AS k
            FROM cells a JOIN cells b
              ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
            GROUP BY a.cx, a.cy, a.x
        ), z AS (
            SELECT h.cx, h.cy, h.x, h.w, h.k,
                   CAST(FLOOR(1000.0
                       * CAST(m.n * h.w - h.k * m.s AS DOUBLE)
                       / SQRT(CAST(m.n * m.ssq - m.s * m.s AS DOUBLE)
                              * CAST(m.n * h.k - h.k * h.k AS DOUBLE)
                              / (m.n - 1.0))) AS BIGINT) AS z_milli
            FROM hood h CROSS JOIN mom m
        )
        SELECT cx, cy, x, w, k, z_milli
        FROM z WHERE abs(z_milli) >= {_Z_FLAG_MILLI}
        ORDER BY cx, cy
    """,
    description="Getis-Ord G* hotspot detection on a 32x32 event "
    "lattice with PLANTED structure: purchase events collapse onto "
    "the coarse 4-sublattice (a deterministic md5 relocation), so "
    "true hotspots exist at multiples of 4 and the detector must "
    "flag them — self-auditing spatial inference, the repo's "
    "planted-truth pattern in 2D. The z-score follows the "
    "controlled-double discipline: numerator n*W - k*S and both "
    "radicand factors are exact int64, combined by one multiply, "
    "one divide, one IEEE sqrt, one divide, one floor — identical "
    "trees in both engines. Neighborhood sums are a bounded 3x3 "
    "offset self-join of the 1024-cell grid (empty cells included "
    "via the generated grid, as G* requires). 100 TB shape: one "
    "partial-agg shuffle to the bounded lattice; everything "
    "spatial runs on 1024 rows.",
)
def geo_getis_ord_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    hx = hex8(F.concat(F.lit("gx:"), F.col("user_id").cast("string"))) % _GRID
    hy = hex8(F.concat(F.lit("gy:"), F.col("user_id").cast("string"))) % _GRID
    is_p = F.col("event_type") == "purchase"
    pts = events.select(
        F.when(is_p, F.expr(
            f"(CAST(conv(substring(md5(concat('gx:', CAST(user_id AS"
            f" STRING))), 1, 8), 16, 10) AS BIGINT) % {_GRID}) div 4 * 4"
        )).otherwise(hx).alias("cx"),
        F.when(is_p, F.expr(
            f"(CAST(conv(substring(md5(concat('gy:', CAST(user_id AS"
            f" STRING))), 1, 8), 16, 10) AS BIGINT) % {_GRID}) div 4 * 4"
        )).otherwise(hy).alias("cy"),
    )
    counts = pts.groupBy("cx", "cy").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    grid = (
        spark.range(_GRID)
        .select(F.col("id").alias("cx"))
        .crossJoin(spark.range(_GRID).select(F.col("id").alias("cy")))
    )
    cells = (
        grid.join(counts, ["cx", "cy"], "left")
        .select(
            "cx", "cy", F.coalesce("n", F.lit(0)).cast("long").alias("x")
        )
        .localCheckpoint(eager=False)  # 1024 rows; self-joined
    )
    mom = cells.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("ssq"),
    )
    b = cells.select(
        F.col("cx").alias("bx"),
        F.col("cy").alias("by"),
        F.col("x").alias("bxv"),
    )
    hood = (
        cells.join(
            F.broadcast(b),
            (F.abs(F.col("cx") - F.col("bx")) <= 1)
            & (F.abs(F.col("cy") - F.col("by")) <= 1),
        )
        .groupBy("cx", "cy", "x")
        .agg(
            F.sum("bxv").cast("long").alias("w"),
            F.count(F.lit(1)).cast("long").alias("k"),
        )
    )
    return (
        hood.crossJoin(F.broadcast(mom))
        .select(
            "cx",
            "cy",
            "x",
            "w",
            "k",
            F.expr(
                """CAST(FLOOR(1000.0
                    * CAST(n * w - k * s AS DOUBLE)
                    / SQRT(CAST(n * ssq - s * s AS DOUBLE)
                           * CAST(n * k - k * k AS DOUBLE)
                           / (n - 1.0))) AS LONG)"""
            ).alias("z_milli"),
        )
        .where(F.abs(F.col("z_milli")) >= _Z_FLAG_MILLI)
        .orderBy("cx", "cy")
    )
