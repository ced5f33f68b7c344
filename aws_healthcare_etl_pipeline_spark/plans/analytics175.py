"""Wave-201 (round 5): distribution-free extremes + hash sizing.

* ``risk_block_maxima_return_level`` — return levels without a
  Gumbel fit: monthly block maxima of daily revenue (a bounded
  ~84-row block table), and the 1-in-N-months return level read off
  the order statistics of the block maxima for N in {6, 12, 24} —
  the distribution-free answer to "what daily load should we
  provision for?", exact by construction.

* ``hash_truncation_collision_audit`` — how many hash bits can you
  afford to keep? For truncations to 16/24/32 bits, measured
  collisions (n - distinct) vs the birthday-bound expectation
  n*(n-1)/2^(k+1), both exact integers — the sizing table for
  shard keys, short fingerprints, and cache keys, computed from the
  data instead of folklore.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import hex8, query, sql_hex8

_BM_NS = (6, 12, 24)


@query(
    "risk_block_maxima_return_level",
    oracle=f"""
        WITH daily AS (
            SELECT o_orderdate AS d,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2)) * 100)
                        AS BIGINT) AS rev
            FROM orders GROUP BY 1
        ), blocks AS (
            SELECT EXTRACT(year FROM d) * 100 + EXTRACT(month FROM d)
                       AS ym,
                   CAST(MAX(rev) AS BIGINT) AS block_max
            FROM daily GROUP BY 1
        ), ranked AS (
            SELECT block_max,
                   ROW_NUMBER() OVER (ORDER BY block_max DESC)
                       AS rnk,
                   COUNT(*) OVER () AS nb
            FROM blocks
        )
        SELECT n_months,
               CAST((SELECT nb FROM ranked LIMIT 1) AS BIGINT)
                   AS n_blocks,
               ret_level_cents
        FROM (
            {" UNION ALL ".join(
                f"SELECT {n} AS n_months,"
                f" (SELECT block_max FROM ranked"
                f"  WHERE rnk = GREATEST(1,"
                f"  (SELECT nb FROM ranked LIMIT 1) // {n}))"
                f" AS ret_level_cents"
                for n in _BM_NS)}
        )
        ORDER BY n_months
    """,
    description="Return levels without a distribution fit: monthly "
    "block maxima of daily revenue form a bounded ~84-row table, "
    "and the 1-in-N-months return level is the order statistic at "
    "rank floor(blocks/N) of the descending block maxima — the "
    "empirical quantile of extremes, exact, for N in {6, 12, 24}. "
    "This is the capacity-provisioning number ('what daily peak "
    "should we expect twice a year?') computed distribution-free. "
    "100 TB shape: one partial agg to days, one to months, rank "
    "arithmetic on the bounded block table — extremes are cheap "
    "BECAUSE blocks are bounded by the calendar, not the data.",
)
def risk_block_maxima_return_level(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.expr(
            "CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2)) * 100)"
            " AS BIGINT)"
        ).alias("rev")
    )
    blocks = daily.groupBy(
        F.expr("year(d) * 100 + month(d)").alias("ym")
    ).agg(F.max("rev").cast("long").alias("block_max"))
    w = Window.orderBy(F.col("block_max").desc())
    ranked = blocks.select(
        "block_max",
        F.row_number().over(w).alias("rnk"),
        F.count(F.lit(1)).over(
            Window.partitionBy(F.lit(1))
        ).alias("nb"),
    ).localCheckpoint(eager=False)  # one lookup per N
    lanes = []
    for n in _BM_NS:
        lanes.append(
            ranked.where(
                F.expr(f"rnk = GREATEST(1, nb div {n})")
            ).selectExpr(
                f"{n} AS n_months",
                "CAST(nb AS BIGINT) AS n_blocks",
                "block_max AS ret_level_cents",
            )
        )
    out = lanes[0]
    for ln in lanes[1:]:
        out = out.unionAll(ln)
    return out.orderBy("n_months")


_HT_BITS = (16, 24, 32)


@query(
    "hash_truncation_collision_audit",
    oracle=f"""
        WITH hashed AS MATERIALIZED (
            SELECT {sql_hex8(
                "concat('htc:', CAST(o_orderkey AS VARCHAR))")} AS h
            FROM orders
        ), tot AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n FROM hashed
        )
        SELECT bits, t.n AS n_keys,
               CAST(t.n - ndv AS BIGINT) AS collisions,
               CAST(CAST(t.n AS HUGEINT) * (t.n - 1)
                    // (CAST(2 AS HUGEINT) << bits) AS BIGINT)
                   AS birthday_expected
        FROM (
            {" UNION ALL ".join(
                f"SELECT {b} AS bits,"
                f" CAST(COUNT(DISTINCT h % {1 << b}) AS BIGINT)"
                f" AS ndv FROM hashed" for b in _HT_BITS)}
        ) x CROSS JOIN tot t
        ORDER BY bits
    """,
    description="Hash-truncation sizing from data, not folklore: "
    "order keys hash (md5) and truncate to 16/24/32 bits; measured "
    "collisions (n - distinct truncated values) sit next to the "
    "birthday-bound expectation n(n-1)/2^(b+1), both exact integers "
    "(HUGEINT/DECIMAL38 for the quadratic numerator). 16 bits "
    "collide heavily at any real scale, 32 marginally — the table "
    "that decides how many fingerprint characters a dedup key, "
    "cache key, or shard prefix actually needs. 100 TB shape: one "
    "hash scan feeding three parallel distinct-counts (each a "
    "partial-agg shuffle on a bounded domain), one scalar join.",
)
def hash_truncation_collision_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    hashed = orders.select(
        hex8(F.concat(F.lit("htc:"), F.col("o_orderkey").cast("string"))).alias("h")
    ).localCheckpoint(eager=False)  # three truncation lanes
    tot = hashed.agg(F.count(F.lit(1)).cast("long").alias("n"))
    lanes = []
    for b in _HT_BITS:
        lanes.append(
            hashed.agg(
                F.countDistinct(F.expr(f"h % {1 << b}"))
                .cast("long")
                .alias("ndv")
            ).selectExpr(f"{b} AS bits", "ndv")
        )
    out = lanes[0]
    for ln in lanes[1:]:
        out = out.unionAll(ln)
    return (
        out.crossJoin(F.broadcast(tot))
        .selectExpr(
            "bits",
            "n AS n_keys",
            "CAST(n - ndv AS BIGINT) AS collisions",
            "CAST(CAST(n AS DECIMAL(38,0)) * (n - 1)"
            " div (CAST(2 AS DECIMAL(38,0)) * shiftleft(CAST(1 AS"
            " BIGINT), bits)) AS BIGINT) AS birthday_expected",
        )
        .orderBy("bits")
    )
