"""Wave-215 (round 11), part 1: scheduling, ordered/binary blocked
tests, cooperative division, and graph centrality.

Five oracle-backed queries extending lanes the engine already carries:

- ``sched_lpt_makespan_bound`` — LPT (longest-processing-time) list
  scheduling on m=4 machines per nation, replayed as a grouped
  ``F.aggregate`` fold with an O(m) state vector (the Holt-Winters /
  inventory-replay pattern), with the classic max(ceil(total/m),
  max job) lower bound and the makespan/LB ratio in exact integers.
- ``stat_page_trend_test`` — Page's L test for an ORDERED alternative
  over blocked ranks (blocks = nations, treatments = 6 ordered months)
  — completes the blocked-rank lane next to Friedman (which tests
  unordered differences); exact integer L, mean, variance, and a
  scaled z² via one integer division.
- ``stat_cochran_q_test`` — Cochran's Q over binary matched blocks
  (customer x year activity matrix), the k-sample McNemar; numerator
  and denominator stay integer, one final scaled division.
- ``alloc_talmud_bankruptcy`` — the Talmud division rule (Aumann-
  Maschler: CEA on half-claims below the half-sum, CEL duality above)
  computed with the prefix-sum waterfall — one sort + windows, no
  iteration — exercising BOTH branches via per-region estate ratios.
- ``graph_harmonic_centrality`` — harmonic centrality on the nation
  trade graph from the SAME fixed 6-round unrolled BFS as the
  betweenness/eccentricity lane; reciprocal distances kept integer in
  x60 units (60 = lcm(1..6), so 60/d is exact for every in-horizon d).

House rules throughout: no transcendental in the hash path; every
division is integer DIV on non-negative operands (== FLOOR) or a
single shared final double expression; all orderings carry an explicit
integer tie-break.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .analytics86 import _HOPS, _bfs_cte_chain
from .registry import SQL_HEAVY_TRADE, dec, heavy_trade, query

# ------------------------------------------------ LPT list scheduling

_LPT_M = 4  # machines


@query(
    "sched_lpt_makespan_bound",
    oracle=f"""
        WITH RECURSIVE jobs AS (
            SELECT n.n_name,
                   CAST(CAST(o.o_totalprice AS DECIMAL(15,2)) * 100
                        AS BIGINT) AS cents,
                   o.o_orderkey AS okey
            FROM orders o
            JOIN customer c ON c.c_custkey = o.o_custkey
            JOIN nation n ON n.n_nationkey = c.c_nationkey
            WHERE EXTRACT(year FROM o.o_orderdate) = 1995
        ), packed AS (
            SELECT n_name, list(cents ORDER BY cents DESC, okey ASC) AS js
            FROM jobs GROUP BY n_name
        ), it AS (
            SELECT n_name, js, 0 AS t,
                   {[0] * _LPT_M}::BIGINT[] AS st
            FROM packed
            UNION ALL
            SELECT n_name, js, t + 1,
                   st[1:list_position(st, list_aggregate(st,'min'))-1]
                   || [st[list_position(st, list_aggregate(st,'min'))]
                       + js[t+1]]
                   || st[list_position(st, list_aggregate(st,'min'))+1:{_LPT_M}]
            FROM it WHERE t < len(js)
        )
        SELECT n_name,
               CAST(len(js) AS BIGINT) AS n_jobs,
               CAST(list_aggregate(st,'sum') AS BIGINT) AS total_cents,
               CAST(list_aggregate(st,'max') AS BIGINT) AS makespan_cents,
               CAST(GREATEST((CAST(list_aggregate(st,'sum') AS BIGINT)
                              + {_LPT_M - 1}) // {_LPT_M}, js[1])
                    AS BIGINT) AS lower_bound_cents,
               CAST((1000000 * CAST(list_aggregate(st,'max') AS BIGINT))
                    // GREATEST((CAST(list_aggregate(st,'sum') AS BIGINT)
                                 + {_LPT_M - 1}) // {_LPT_M}, js[1])
                    AS BIGINT) AS ratio_micro
        FROM it WHERE t = len(js)
        ORDER BY n_name
    """,
    description="LPT (longest-processing-time-first) list scheduling "
    f"of each nation's 1995 order values onto m={_LPT_M} machines: "
    "jobs sorted (value DESC, orderkey ASC), each greedily assigned "
    "to the least-loaded machine (first-index tie-break), replayed as "
    "a grouped F.aggregate fold whose state is the O(m) machine-load "
    "vector (array_min + array_position + indexed transform per "
    "step). Reports the makespan against the classic lower bound "
    "max(ceil(total/m), max job) — Graham's 4/3-bound territory — as "
    "an exact integer micro-ratio. Oracle: DuckDB recursive CTE "
    "carrying the same 4-slot list state with identical first-min "
    "tie-break. Scale: one shuffle to group jobs per nation; the fold "
    "is linear per group with O(m) state — the inventory-replay "
    "contract (plans/analytics195.py Holt-Winters fold is the same "
    "shape).",
)
def sched_lpt_makespan_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    jobs = (
        orders.where(F.year("o_orderdate") == 1995)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .select(
            "n_name",
            (dec("o_totalprice") * 100).cast("long").alias("cents"),
            F.col("o_orderkey").alias("okey"),
        )
    )
    packed = jobs.groupBy("n_name").agg(
        F.transform(
            F.sort_array(
                F.collect_list(F.struct((-F.col("cents")).alias("neg"), "okey"))
            ),
            lambda s: -s.getField("neg"),
        ).alias("js")
    )

    def step(acc, j):
        # least-loaded machine, FIRST index on ties (array_position
        # returns the first occurrence) — mirrors the oracle exactly
        pos = F.array_position(acc, F.array_min(acc))
        return F.transform(
            acc, lambda x, i: F.when(i + 1 == pos, x + j).otherwise(x)
        )

    state0 = F.array_repeat(F.lit(0).cast("long"), _LPT_M)
    final = packed.select(
        "n_name",
        F.size("js").cast("long").alias("n_jobs"),
        F.element_at("js", 1).alias("maxjob"),
        F.aggregate("js", state0, step).alias("st"),
    )
    total = F.aggregate("st", F.lit(0).cast("long"), lambda a, x: a + x)
    makespan = F.array_max("st")
    lb = F.greatest(
        F.expr(f"(aggregate(st, 0L, (a, x) -> a + x) + {_LPT_M - 1}) DIV {_LPT_M}"),
        F.col("maxjob"),
    )
    return final.select(
        "n_name",
        "n_jobs",
        total.alias("total_cents"),
        makespan.alias("makespan_cents"),
        lb.alias("lower_bound_cents"),
        F.expr(
            f"(1000000 * array_max(st)) DIV greatest("
            f"(aggregate(st, 0L, (a, x) -> a + x) + {_LPT_M - 1}) DIV {_LPT_M},"
            f" maxjob)"
        ).alias("ratio_micro"),
    ).orderBy("n_name")


# ------------------------------------------------ Page's trend test

_PAGE_K = 6  # ordered treatments: months 1..6 of 1995


@query(
    "stat_page_trend_test",
    oracle=f"""
        WITH rev AS (
            SELECT n.n_name,
                   EXTRACT(month FROM o.o_orderdate) AS m,
                   CAST(SUM(CAST(o.o_totalprice AS DECIMAL(15,2)) * 100)
                        AS BIGINT) AS y
            FROM orders o
            JOIN customer c ON c.c_custkey = o.o_custkey
            JOIN nation n ON n.n_nationkey = c.c_nationkey
            WHERE EXTRACT(year FROM o.o_orderdate) = 1995
              AND EXTRACT(month FROM o.o_orderdate) <= {_PAGE_K}
            GROUP BY 1, 2
        ), spine AS (
            SELECT n_name, m
            FROM (SELECT DISTINCT n_name FROM rev)
            CROSS JOIN (SELECT unnest(range(1, {_PAGE_K} + 1)) AS m)
        ), filled AS (
            SELECT s.n_name, s.m, COALESCE(rev.y, 0) AS y
            FROM spine s LEFT JOIN rev USING (n_name, m)
        ), ranked AS (
            SELECT n_name, m,
                   ROW_NUMBER() OVER (PARTITION BY n_name
                                      ORDER BY y, m) AS r
            FROM filled
        ), colsum AS (
            SELECT m, CAST(SUM(r) AS BIGINT) AS rj
            FROM ranked GROUP BY m
        ), nb AS (
            SELECT CAST(COUNT(DISTINCT n_name) AS BIGINT) AS n
            FROM ranked
        ), l AS (
            SELECT CAST(SUM(m * rj) AS BIGINT) AS big_l FROM colsum
        )
        SELECT n AS n_blocks,
               big_l,
               CAST(n * {_PAGE_K} * {(_PAGE_K + 1) ** 2} AS BIGINT)
                   AS l_mean_x4,
               CAST(n * {_PAGE_K ** 2 * (_PAGE_K + 1) * (_PAGE_K ** 2 - 1)}
                    AS BIGINT) AS l_var_x144,
               CAST((1000000 * 9
                     * (4 * big_l - n * {_PAGE_K} * {(_PAGE_K + 1) ** 2})
                     * (4 * big_l - n * {_PAGE_K} * {(_PAGE_K + 1) ** 2}))
                    // (n * {_PAGE_K ** 2 * (_PAGE_K + 1) * (_PAGE_K ** 2 - 1)})
                    AS BIGINT) AS z2_micro
        FROM l CROSS JOIN nb
        WHERE n > 0
    """,
    description="Page's L trend test for an ORDERED alternative "
    f"(monotone revenue growth across months 1..{_PAGE_K} of 1995) "
    "over blocked ranks, blocks = nations: completes the blocked-rank "
    "lane next to stats_friedman_blocked_ranks, which can only detect "
    "UNordered treatment differences. Missing (nation, month) cells "
    "fill as exact zeros off a spine; within-block ranks are "
    "ROW_NUMBER over (value, month) — the engine-portable "
    "deterministic tie rule (exact-cents values make real ties "
    "vanishingly rare). L = sum_j j*R_j stays integer; the normal "
    "approximation z^2 = (L - mu)^2/sigma^2 is carried as the exact "
    "integer identity 9*(4L - 4mu)^2 / (144 sigma^2), one integer "
    "division, micro-scaled. Scale: one group-by to the (nation x "
    "month) panel; everything after runs on <= 150 rows.",
)
def stat_page_trend_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    k = _PAGE_K
    rev = (
        orders.where(
            (F.year("o_orderdate") == 1995) & (F.month("o_orderdate") <= k)
        )
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name", F.month("o_orderdate").alias("m"))
        .agg((F.sum(dec("o_totalprice") * 100)).cast("long").alias("y"))
    )
    spine = (
        rev.select("n_name")
        .distinct()
        .crossJoin(
            F.broadcast(
                rev.sparkSession.range(1, k + 1).select(
                    F.col("id").cast("long").alias("m")
                )
            )
        )
    )
    filled = spine.join(rev, ["n_name", "m"], "left").select(
        "n_name", "m", F.coalesce("y", F.lit(0)).alias("y")
    )
    w = Window.partitionBy("n_name").orderBy("y", "m")
    ranked = filled.select("n_name", "m", F.row_number().over(w).alias("r"))
    colsum = ranked.groupBy("m").agg(F.sum("r").cast("long").alias("rj"))
    nb = ranked.agg(
        F.countDistinct("n_name").cast("long").alias("n")
    )
    big_l = colsum.agg(
        F.sum(F.col("m") * F.col("rj")).cast("long").alias("big_l")
    )
    mean_x4 = F.col("n") * k * (k + 1) ** 2
    var_x144 = F.col("n") * (k**2 * (k + 1) * (k**2 - 1))
    dev = 4 * F.col("big_l") - mean_x4
    # n = 0 (empty panel) would make the z2 integer division DIV 0 —
    # NULL in Spark but an ERROR in DuckDB; filter the degenerate row
    # identically in both engines (the oracle carries WHERE n > 0).
    return big_l.crossJoin(F.broadcast(nb)).where(F.col("n") > 0).select(
        F.col("n").alias("n_blocks"),
        "big_l",
        mean_x4.cast("long").alias("l_mean_x4"),
        var_x144.cast("long").alias("l_var_x144"),
        F.expr(
            f"(1000000 * 9 * (4 * big_l - n * {k} * {(k + 1) ** 2})"
            f" * (4 * big_l - n * {k} * {(k + 1) ** 2}))"
            f" DIV (n * {k**2 * (k + 1) * (k**2 - 1)})"
        ).alias("z2_micro"),
    )


# ------------------------------------------------ Cochran's Q test

_CQ_YEARS = (1995, 1996, 1997)


@query(
    "stat_cochran_q_test",
    oracle=f"""
        WITH act AS (
            SELECT o_custkey,
                   MAX(CASE WHEN EXTRACT(year FROM o_orderdate) = 1995
                            THEN 1 ELSE 0 END) AS x95,
                   MAX(CASE WHEN EXTRACT(year FROM o_orderdate) = 1996
                            THEN 1 ELSE 0 END) AS x96,
                   MAX(CASE WHEN EXTRACT(year FROM o_orderdate) = 1997
                            THEN 1 ELSE 0 END) AS x97
            FROM orders
            WHERE EXTRACT(year FROM o_orderdate) IN (1995, 1996, 1997)
            GROUP BY o_custkey
        ), agg AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_blocks,
                   CAST(SUM(x95) AS BIGINT) AS c95,
                   CAST(SUM(x96) AS BIGINT) AS c96,
                   CAST(SUM(x97) AS BIGINT) AS c97,
                   CAST(SUM(x95 + x96 + x97) AS BIGINT) AS big_n,
                   CAST(SUM((x95 + x96 + x97) * (x95 + x96 + x97))
                        AS BIGINT) AS sum_ri_sq
            FROM act
        )
        SELECT n_blocks, c95, c96, c97, big_n,
               CAST((1000000 * 2
                     * (3 * (c95*c95 + c96*c96 + c97*c97) - big_n * big_n))
                    // (3 * big_n - sum_ri_sq) AS BIGINT) AS q_micro
        FROM agg
        WHERE 3 * big_n - sum_ri_sq > 0
    """,
    description="Cochran's Q test — the k-sample McNemar — on the "
    "binary customer-activity matrix: blocks = customers with >= 1 "
    "order in 1995-1997, treatments = the three years, x = ordered-"
    "that-year. Q = (k-1)(k*sum Cj^2 - N^2)/(k*N - sum Ri^2) stays "
    "integer end-to-end (k=3), one micro-scaled integer division; "
    "the all-identical-rows degenerate denominator (every customer "
    "active in all three years or none) is filtered identically in "
    "both engines. Complements ml_mcnemar_paired_classifiers (k=2 "
    "paired) and stats_friedman_blocked_ranks (ordinal). Scale: one "
    "group-by over orders; the test statistic is one row.",
)
def stat_cochran_q_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    yr = F.year("o_orderdate")
    act = (
        orders.where(yr.isin(*_CQ_YEARS))
        .groupBy("o_custkey")
        .agg(
            *[
                F.max(F.when(yr == y, 1).otherwise(0)).alias(f"x{y % 100}")
                for y in _CQ_YEARS
            ]
        )
    )
    ri = F.col("x95") + F.col("x96") + F.col("x97")
    agg = act.agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.sum("x95").cast("long").alias("c95"),
        F.sum("x96").cast("long").alias("c96"),
        F.sum("x97").cast("long").alias("c97"),
        F.sum(ri).cast("long").alias("big_n"),
        F.sum(ri * ri).cast("long").alias("sum_ri_sq"),
    )
    return agg.where(3 * F.col("big_n") - F.col("sum_ri_sq") > 0).select(
        "n_blocks",
        "c95",
        "c96",
        "c97",
        "big_n",
        F.expr(
            "(1000000 * 2 * (3 * (c95*c95 + c96*c96 + c97*c97)"
            " - big_n * big_n)) DIV (3 * big_n - sum_ri_sq)"
        ).alias("q_micro"),
    )


# ------------------------------------------------ Talmud bankruptcy rule


@query(
    "alloc_talmud_bankruptcy",
    oracle="""
        WITH claims AS (
            SELECT r.r_name, r.r_regionkey, n.n_name, n.n_nationkey,
                   CAST(SUM(CAST(s.s_acctbal AS DECIMAL(15,2)) * 100)
                        AS BIGINT) AS d
            FROM supplier s
            JOIN nation n ON n.n_nationkey = s.s_nationkey
            JOIN region r ON r.r_regionkey = n.n_regionkey
            WHERE s.s_acctbal > 0
            GROUP BY 1, 2, 3, 4
        ), reg AS (
            SELECT r_name, r_regionkey, n_name, n_nationkey, d,
                   CAST(SUM(d) OVER (PARTITION BY r_name) AS BIGINT)
                       AS big_d,
                   CAST(COUNT(*) OVER (PARTITION BY r_name) AS BIGINT)
                       AS n,
                   CAST(SUM(d) OVER (PARTITION BY r_name
                                     ORDER BY d, n_nationkey
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS BIGINT) AS pre,
                   CAST(ROW_NUMBER() OVER (PARTITION BY r_name
                                           ORDER BY d, n_nationkey)
                        AS BIGINT) AS i
            FROM claims
        ), est AS (
            SELECT *,
                   2 * ((CASE WHEN r_regionkey % 2 = 0 THEN 40 ELSE 75 END
                         * big_d) // 100) AS e2,
                   CASE WHEN 2 * ((CASE WHEN r_regionkey % 2 = 0
                                        THEN 40 ELSE 75 END
                                   * big_d) // 100) <= big_d
                        THEN 2 * ((CASE WHEN r_regionkey % 2 = 0
                                        THEN 40 ELSE 75 END
                                   * big_d) // 100)
                        ELSE 2 * big_d
                             - 2 * ((CASE WHEN r_regionkey % 2 = 0
                                          THEN 40 ELSE 75 END
                                     * big_d) // 100)
                   END AS estar
            FROM reg
        ), sat AS (
            SELECT *,
                   CASE WHEN (pre - d) + d * (n - i + 1) <= estar
                        THEN 1 ELSE 0 END AS is_sat
            FROM est
        ), pooled AS (
            SELECT *,
                   CAST(SUM(is_sat) OVER (PARTITION BY r_name) AS BIGINT)
                       AS s_cnt,
                   CAST(SUM(is_sat * d) OVER (PARTITION BY r_name)
                        AS BIGINT) AS p_sum
            FROM sat
        )
        SELECT r_name, n_name,
               d AS claim_cents,
               e2 // 2 AS estate_cents,
               CASE
                 WHEN is_sat = 1 THEN 500000 * d
                 WHEN e2 <= big_d
                   THEN (500000 * (estar - p_sum)) // (n - s_cnt)
                 ELSE (500000 * (2 * d * (n - s_cnt) - (estar - p_sum)))
                      // (n - s_cnt)
               END AS award_micro_cents
        FROM pooled
        ORDER BY r_name, n_name
    """,
    description="The Talmud bankruptcy rule (Aumann-Maschler 1985: "
    "the unique consistent extension of the contested-garment "
    "principle) dividing a per-region estate among its nations' "
    "claims (claim = nation's positive supplier balances, cents): "
    "CEA on half-claims when the estate is below the half-sum, its "
    "CEL dual above (award = 2d - CEA(2D - E)), both branches "
    "exercised via estate = 40% of claims for even regionkeys / 75% "
    "for odd. The constrained-equal-award level is found with the "
    "prefix-sum waterfall (sort claims asc, claimant i saturates iff "
    "pre_{i-1} + d_i*(n-i+1) <= E) — one sort + windows, no "
    "iteration, the same shape at 1e3 or 1e9 claimants. All "
    "arithmetic integer (half-cent units); the single lambda "
    "division is micro-scaled integer DIV on non-negative operands. "
    "Scale: one fact-side group-by; windows partition by region.",
)
def alloc_talmud_bankruptcy(spark: SparkSession, sf_dir: str) -> DataFrame:
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    claims = (
        supplier.where(F.col("s_acctbal") > 0)
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "r_regionkey", "n_name", "n_nationkey")
        .agg((F.sum(dec("s_acctbal") * 100)).cast("long").alias("d"))
    )
    wreg = Window.partitionBy("r_name")
    word = (
        Window.partitionBy("r_name")
        .orderBy("d", "n_nationkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wrow = Window.partitionBy("r_name").orderBy("d", "n_nationkey")
    reg = claims.select(
        "r_name",
        "r_regionkey",
        "n_name",
        "n_nationkey",
        "d",
        F.sum("d").over(wreg).cast("long").alias("big_d"),
        F.count(F.lit(1)).over(wreg).cast("long").alias("n"),
        F.sum("d").over(word).cast("long").alias("pre"),
        F.row_number().over(wrow).cast("long").alias("i"),
    )
    e_half = F.expr(
        "2 * ((CASE WHEN r_regionkey % 2 = 0 THEN 40 ELSE 75 END * big_d)"
        " DIV 100)"
    )
    est = reg.select(
        "*",
        e_half.alias("e2"),
        F.when(e_half <= F.col("big_d"), e_half)
        .otherwise(2 * F.col("big_d") - e_half)
        .alias("estar"),
    )
    sat = est.select(
        "*",
        F.when(
            (F.col("pre") - F.col("d"))
            + F.col("d") * (F.col("n") - F.col("i") + 1)
            <= F.col("estar"),
            1,
        )
        .otherwise(0)
        .alias("is_sat"),
    )
    pooled = sat.select(
        "*",
        F.sum("is_sat").over(wreg).cast("long").alias("s_cnt"),
        F.sum(F.col("is_sat") * F.col("d")).over(wreg).cast("long").alias(
            "p_sum"
        ),
    )
    return pooled.select(
        "r_name",
        "n_name",
        F.col("d").alias("claim_cents"),
        F.expr("e2 DIV 2").alias("estate_cents"),
        F.when(F.col("is_sat") == 1, 500000 * F.col("d"))
        .when(
            F.col("e2") <= F.col("big_d"),
            F.expr("(500000 * (estar - p_sum)) DIV (n - s_cnt)"),
        )
        .otherwise(
            F.expr(
                "(500000 * (2 * d * (n - s_cnt) - (estar - p_sum)))"
                " DIV (n - s_cnt)"
            )
        )
        .alias("award_micro_cents"),
    ).orderBy("r_name", "n_name")


# ------------------------------------------------ harmonic centrality


@query(
    "graph_harmonic_centrality",
    oracle=f"""
        WITH {SQL_HEAVY_TRADE}, edges AS MATERIALIZED (
            SELECT u, v FROM heavy
            UNION ALL SELECT v AS u, u AS v FROM heavy
        ), nodes AS MATERIALIZED (
            SELECT DISTINCT u AS node FROM edges
        ), {_bfs_cte_chain()}
        SELECT s AS nationkey,
               CAST(COUNT(*) FILTER (dist > 0) AS BIGINT) AS n_reached,
               CAST(COALESCE(SUM(60 // dist) FILTER (dist > 0), 0)
                    AS BIGINT) AS harmonic_x60
        FROM a{_HOPS}
        GROUP BY s
        ORDER BY nationkey
    """,
    description="Harmonic centrality sum(1/d(u,v)) on the nation "
    "trade graph — the centrality that stays well-defined on "
    "disconnected graphs (unreachable pairs contribute exactly 0, no "
    "infinite-distance convention needed), complementing the "
    "eccentricity/betweenness/Katz lane. Same fixed 6-round unrolled "
    "BFS and heavy-edge construction as graph_eccentricity_diameter "
    "(analytics96.py; horizon contract shared by both engines). "
    "Reciprocal distances are kept INTEGER in x60 units — 60 = "
    f"lcm(1..{_HOPS}), so 60/d is exact for every in-horizon "
    "distance and the sum never touches a double. Scale: the "
    "q7-shaped trade aggregation is the only fact-scale work; the "
    "BFS runs on <= 625 bounded rows with localCheckpoint per round.",
)
def graph_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    heavy = heavy_trade(spark, sf_dir)
    edges = heavy.unionAll(
        heavy.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=False)
    nodes = edges.select(F.col("u").alias("node")).distinct()
    reach = nodes.select(
        F.col("node").alias("s"),
        F.col("node").alias("v"),
        F.lit(0).alias("dist"),
    ).localCheckpoint(eager=False)
    e2 = edges.select(F.col("u").alias("e_src"), F.col("v").alias("e_dst"))
    frontier = reach
    for k in range(1, _HOPS + 1):
        nxt = (
            frontier.select("s", F.col("v").alias("f_v"))
            .join(e2, F.col("f_v") == F.col("e_src"))
            .select("s", F.col("e_dst").alias("v"))
            .distinct()
            .join(reach.select("s", "v"), ["s", "v"], "left_anti")
            .select("s", "v", F.lit(k).alias("dist"))
            .localCheckpoint(eager=True)
        )
        reach = reach.unionAll(nxt).localCheckpoint(eager=True)
        frontier = nxt
    return (
        reach.groupBy(F.col("s").alias("nationkey"))
        .agg(
            F.sum(F.when(F.col("dist") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_reached"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("dist") > 0,
                        F.expr("60 DIV dist"),
                    ).otherwise(0)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("harmonic_x60"),
        )
        .orderBy("nationkey")
    )
