"""Wave-160 (round 5): exact computational geometry + changepoint.

* ``geo_closest_pair_pernation`` — the EXACT closest pair of points
  per nation, at scale, with no all-pairs join. Two-phase grid:
  phase 1 derives a per-nation upper bound d_ub as the minimum
  squared distance over x-sorted ADJACENT points (a partitioned
  window, always defined for >= 2 points and always >= the true
  minimum); phase 2 re-grids at cell width W = the smallest power of
  two with W^2 >= d_ub — any pair at distance <= W (in particular
  every min-achieving pair, since d_true <= d_ub <= W) lands in the
  same or an adjacent cell, so a 9-neighbor equi-join enumerates a
  candidate set that provably contains every optimum. The DuckDB
  oracle is the textbook all-pairs min — the hash match PROVES the
  grid decomposition exact (the repo's running-total/sweepline
  pattern applied to geometry).

* ``changepoint_two_segment_sse`` — exact least-squares changepoint:
  split the daily revenue series at the k minimizing
  SSE_left + SSE_right. Minimizing SSE is equivalent to maximizing
  the rational g(k) = (S_L^2*(n-k) + S_R^2*k) / (k*(n-k)) — all
  integer cents. No division is ever performed: the argmax is picked
  by CROSS-MULTIPLIED dominance (num_j * den_k vs num_k * den_j)
  over the bounded per-day score table, so the winner is exact in
  both engines with a min-k tie-break. The score table has one row
  per calendar day (~2400) regardless of data scale, so the
  dominance join is CONSTANT cost at any SF.

Coordinates ride the 2^20 integer lattice (md5-derived, the repo's
deterministic-geometry idiom); squared distances stay < 2^42.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.tables import load_table
from .registry import hex8, query, sql_hex8

_GRID = 1 << 20  # 2^20 x 2^20 integer lattice


def _pow2_width_case(var: str) -> str:
    """Smallest power-of-two W with W*W >= var, as a portable CASE."""
    branches = " ".join(
        f"WHEN {var} <= {4 ** k} THEN {2 ** k}" for k in range(22)
    )
    return f"(CASE {branches} END)"


@query(
    "geo_closest_pair_pernation",
    oracle=f"""
        WITH pts AS (
            SELECT c_nationkey AS nk, c_custkey AS id,
                   {sql_hex8("concat('cpx:', CAST(c_custkey AS VARCHAR))")}
                       % {_GRID} AS x,
                   {sql_hex8("concat('cpy:', CAST(c_custkey AS VARCHAR))")}
                       % {_GRID} AS y
            FROM customer
        ), pairs AS MATERIALIZED (
            SELECT a.nk,
                   (a.x - b.x) * (a.x - b.x)
                   + (a.y - b.y) * (a.y - b.y) AS d2
            FROM pts a JOIN pts b
              ON a.nk = b.nk AND a.id < b.id
        ), marked AS (
            SELECT nk, d2,
                   MIN(d2) OVER (PARTITION BY nk) AS m
            FROM pairs
        )
        SELECT CAST(nk AS BIGINT) AS nationkey,
               CAST(MIN(d2) AS BIGINT) AS min_d2,
               CAST(SUM(CASE WHEN d2 = m THEN 1 ELSE 0 END) AS BIGINT)
                   AS pairs_at_min
        FROM marked
        GROUP BY nk
        ORDER BY nationkey
    """,
    description="EXACT closest pair of points per nation with NO "
    "all-pairs join: phase 1 takes the min squared distance over "
    "x-sorted adjacent points (partitioned window) as an upper bound "
    "d_ub; phase 2 re-grids each nation at the smallest power-of-two "
    "width W with W^2 >= d_ub, so every pair at distance <= W — "
    "including every min-achieving pair — shares a cell edge and a "
    "9-neighbor equi-join enumerates a provably complete candidate "
    "set. The oracle is the textbook all-pairs min; the hash match "
    "proves the grid decomposition exact. 100 TB shape: one "
    "partitioned window (sort within nation), one 25-row broadcast "
    "of per-nation widths, one equi-join whose fan-out is 9x points "
    "at constant expected cell occupancy — the plan that finds the "
    "duplicate GPS fix or near-identical embedding pair in a "
    "trillion-row table without the quadratic blowup.",
)
def geo_closest_pair_pernation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    pts = cust.select(
        F.col("c_nationkey").alias("nk"),
        F.col("c_custkey").alias("id"),
        (
            hex8(F.concat(F.lit("cpx:"), F.col("c_custkey").cast("string")))
            % _GRID
        ).alias("x"),
        (
            hex8(F.concat(F.lit("cpy:"), F.col("c_custkey").cast("string")))
            % _GRID
        ).alias("y"),
    ).localCheckpoint(eager=False)  # md5 projection feeds 3 consumers
    w = Window.partitionBy("nk").orderBy("x", "y", "id")
    adj = pts.select(
        "nk",
        (
            (F.col("x") - F.lag("x").over(w))
            * (F.col("x") - F.lag("x").over(w))
            + (F.col("y") - F.lag("y").over(w))
            * (F.col("y") - F.lag("y").over(w))
        ).alias("d2_adj"),
    ).where(F.col("d2_adj").isNotNull())
    dub = adj.groupBy("nk").agg(F.min("d2_adj").alias("d_ub2"))
    widths = dub.select(
        "nk", F.expr(_pow2_width_case("d_ub2")).cast("long").alias("wd")
    )
    cells = pts.join(F.broadcast(widths), "nk").select(
        "nk",
        "id",
        "x",
        "y",
        F.expr("x div wd").alias("cx"),
        F.expr("y div wd").alias("cy"),
    )
    # explode each point into its 9 neighbor cells; equi-join back
    lhs = cells.select(
        "nk",
        F.col("id").alias("a_id"),
        F.col("x").alias("ax"),
        F.col("y").alias("ay"),
        F.explode(
            F.expr(
                "flatten(transform(sequence(-1, 1), dx ->"
                " transform(sequence(-1, 1), dy ->"
                " struct(cx + dx AS ncx, cy + dy AS ncy))))"
            )
        ).alias("nc"),
    ).select(
        "nk",
        "a_id",
        "ax",
        "ay",
        F.col("nc.ncx").alias("cx"),
        F.col("nc.ncy").alias("cy"),
    )
    cand = lhs.join(cells, ["nk", "cx", "cy"]).where(
        F.col("a_id") < F.col("id")
    )
    d2 = cand.select(
        "nk",
        (
            (F.col("ax") - F.col("x")) * (F.col("ax") - F.col("x"))
            + (F.col("ay") - F.col("y")) * (F.col("ay") - F.col("y"))
        ).alias("d2"),
    ).localCheckpoint(eager=False)  # candidate join feeds min + count
    mins = d2.groupBy("nk").agg(F.min("d2").alias("min_d2"))
    return (
        d2.join(F.broadcast(mins), "nk")
        .where(F.col("d2") == F.col("min_d2"))
        .groupBy("nk")
        .agg(
            F.min("min_d2").cast("long").alias("min_d2"),
            F.count(F.lit(1)).cast("long").alias("pairs_at_min"),
        )
        .select(
            F.col("nk").cast("long").alias("nationkey"),
            "min_d2",
            "pairs_at_min",
        )
        .orderBy("nationkey")
    )


@query(
    "changepoint_two_segment_sse",
    oracle="""
        WITH daily AS (
            SELECT o_orderdate AS d,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2)) * 100)
                        AS BIGINT) AS v
            FROM orders GROUP BY 1
        ), seq AS (
            SELECT d, v,
                   ROW_NUMBER() OVER (ORDER BY d) AS k,
                   CAST(SUM(v) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED
                        PRECEDING AND CURRENT ROW) AS BIGINT) AS sl
            FROM daily
        ), tot AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(v) AS BIGINT) AS s FROM daily
        ), scores AS MATERIALIZED (
            SELECT seq.k, seq.d, seq.sl, t.n, t.s,
                   CAST(seq.sl AS HUGEINT) * seq.sl * (t.n - seq.k)
                   + CAST(t.s - seq.sl AS HUGEINT)
                     * (t.s - seq.sl) * seq.k AS num,
                   CAST(seq.k AS HUGEINT) * (t.n - seq.k) AS den
            FROM seq CROSS JOIN tot t
            WHERE seq.k < t.n
        ), winner AS (
            SELECT s1.* FROM scores s1
            WHERE NOT EXISTS (
                SELECT 1 FROM scores s2
                WHERE s2.num * s1.den > s1.num * s2.den
                   OR (s2.num * s1.den = s1.num * s2.den
                       AND s2.k < s1.k)
            )
        )
        SELECT strftime(d, '%Y-%m-%d') AS split_date,
               CAST(k AS BIGINT) AS n_left,
               CAST(n - k AS BIGINT) AS n_right,
               CAST(sl // k AS BIGINT) AS mean_left_cents,
               CAST((s - sl) // (n - k) AS BIGINT) AS mean_right_cents,
               CAST(num AS VARCHAR) AS score_num,
               CAST(den AS BIGINT) AS score_den
        FROM winner
    """,
    description="Exact two-segment least-squares changepoint on the "
    "daily revenue series: the split k minimizing SSE_left+SSE_right "
    "equals the argmax of g(k) = (S_L^2*(n-k) + S_R^2*k)/(k*(n-k)) — "
    "pure prefix-sum algebra in integer cents, no float SSE ever "
    "formed and NO division either: the argmax is picked by cross-"
    "multiplied rational dominance (num_j*den_k vs num_k*den_j, "
    "DECIMAL38/HUGEINT products ~1e36 at sf1 under the 1e38 "
    "headroom) with a min-k tie-break, bit-equal across engines; the "
    "exact numerator is emitted as VARCHAR (exceeds int64). 100 TB "
    "shape: the scan collapses to a bounded per-day spine (one map-"
    "side partial agg), prefix sums ride the documented bounded-"
    "spine window, and the dominance join touches only the ~2400-row "
    "score table — CONSTANT cost at any SF; detecting the regime "
    "shift in a trillion-row ledger costs one pass.",
)
def changepoint_two_segment_sse(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.expr(
            "CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2)) * 100)"
            " AS BIGINT)"
        ).alias("v")
    )
    # bounded spine: one row per order date (~2400), documented safe
    wk = Window.orderBy("d")
    seq = daily.select(
        "d",
        "v",
        F.row_number().over(wk).alias("k"),
        F.sum("v")
        .over(wk.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("sl"),
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("long").alias("s"),
    )
    scores = (
        seq.crossJoin(F.broadcast(tot))
        .where(F.col("k") < F.col("n"))
        .select(
            "k",
            "d",
            "sl",
            "n",
            "s",
            F.expr(
                "CAST(sl AS DECIMAL(38,0)) * sl * (n - k)"
                " + CAST(s - sl AS DECIMAL(38,0)) * (s - sl) * k"
            ).alias("num"),
            F.expr(
                "CAST(k AS DECIMAL(38,0)) * (n - k)"
            ).alias("den"),
        )
        .localCheckpoint(eager=False)  # bounded score table, 2 sides
    )
    rival = scores.select(
        F.col("k").alias("k2"),
        F.col("num").alias("num2"),
        F.col("den").alias("den2"),
    )
    beaten = (
        F.col("num2") * F.col("den") > F.col("num") * F.col("den2")
    ) | (
        (F.col("num2") * F.col("den") == F.col("num") * F.col("den2"))
        & (F.col("k2") < F.col("k"))
    )
    winner = scores.join(F.broadcast(rival), beaten, "left_anti")
    return winner.select(
        F.date_format("d", "yyyy-MM-dd").alias("split_date"),
        F.col("k").cast("long").alias("n_left"),
        (F.col("n") - F.col("k")).cast("long").alias("n_right"),
        F.expr("CAST(sl div k AS BIGINT)").alias("mean_left_cents"),
        F.expr(
            "CAST((s - sl) div (n - k) AS BIGINT)"
        ).alias("mean_right_cents"),
        F.col("num").cast("string").alias("score_num"),
        F.col("den").cast("long").alias("score_den"),
    )
