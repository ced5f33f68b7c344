"""Wave-167 (round 5): constraint mining + robust estimation.

* ``dq_constraint_mining_audit`` — CHECK-constraint discovery, the
  data-profiler feature that proposes cross-field rules: a fixed
  candidate panel (date ordering, value-arithmetic consistency,
  domain bounds) is graded in ONE scan with a violation count and a
  holds-rate permille per rule. Notably the fixture does NOT enforce
  ship >= order date (a documented fixture fact this query makes
  visible as data, not lore).

* ``stats_median_of_means`` — the robust-mean estimator used when a
  single corrupted shard can poison a 100 TB average: rows hash into
  32 deterministic groups, each group's truncated-integer mean is
  exact, and the median of the 32 means (lower-median, deterministic)
  is compared to the plain mean. The group medians live on a 32-row
  bounded spine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.tables import load_table
from .registry import query, sql_hex8

# (rule id, portable SQL condition that SHOULD hold)
_RULES: list[tuple[str, str]] = [
    ("ship_after_order", "l_shipdate >= o_orderdate"),
    ("discount_le_10pct",
     "CAST(l_discount AS DECIMAL(3,2)) <= CAST(0.10 AS DECIMAL(3,2))"),
    ("qty_between_1_50", "l_quantity >= 1 AND l_quantity <= 50"),
    ("ext_eq_qty_scaled",
     "CAST(CAST(l_extendedprice AS DECIMAL(15,2)) * 100 AS BIGINT)"
     " % CAST(l_quantity AS BIGINT) = 0"),
    ("tax_le_8pct",
     "CAST(l_tax AS DECIMAL(3,2)) <= CAST(0.08 AS DECIMAL(3,2))"),
    ("order_in_fixture_years",
     "o_orderdate >= DATE '1995-01-01'"
     " AND o_orderdate < DATE '2002-01-01'"),
]


def _rule_sums() -> str:
    return ", ".join(
        f"SUM(CASE WHEN {cond} THEN 0 ELSE 1 END) AS v_{rid}"
        for rid, cond in _RULES
    )


@query(
    "dq_constraint_mining_audit",
    oracle=f"""
        WITH joined AS (
            SELECT l.*, o.o_orderdate
            FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        ), graded AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n, {_rule_sums()}
            FROM joined
        )
        SELECT rule, n,
               CAST(violations AS BIGINT) AS violations,
               CAST((n - violations) * 1000 // n AS BIGINT)
                   AS holds_permille
        FROM (
            {" UNION ALL ".join(
                f"SELECT '{rid}' AS rule, n, v_{rid} AS violations"
                f" FROM graded" for rid, _ in _RULES)}
        )
        ORDER BY rule
    """,
    description="CHECK-constraint mining: a fixed candidate panel of "
    "cross-field rules (ship >= order date, discount/tax domain "
    "bounds, quantity range, extendedprice divisible by quantity in "
    "cents, order-date fixture span) graded in ONE scan — every "
    "rule is a parallel conditional SUM, so adding candidates never "
    "adds passes. Emits violations and holds-rate permille per rule; "
    "the fixture's documented non-enforcement of ship >= order "
    "shows up as a sub-1000 permille row, proving the miner reports "
    "rather than assumes. 100 TB shape: one orderkey-local join + "
    "map-side partial agg; the profiler step that seeds expectation "
    "suites before anyone writes them by hand.",
)
def dq_constraint_mining_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    joined = li.join(
        orders.select("o_orderkey", "o_orderdate"),
        li.l_orderkey == F.col("o_orderkey"),
    )
    graded = joined.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        *[
            F.expr(f"SUM(CASE WHEN {cond} THEN 0 ELSE 1 END)")
            .cast("long")
            .alias(f"v_{rid}")
            for rid, cond in _RULES
        ],
    )
    stacked = graded.selectExpr(
        "n",
        "stack("
        + str(len(_RULES))
        + ", "
        + ", ".join(f"'{rid}', v_{rid}" for rid, _ in _RULES)
        + ") AS (rule, violations)",
    )
    return stacked.selectExpr(
        "rule",
        "n",
        "CAST(violations AS BIGINT) AS violations",
        "CAST((n - violations) * 1000 div n AS BIGINT)"
        " AS holds_permille",
    ).orderBy("rule")


_MOM_GROUPS = 32


@query(
    "stats_median_of_means",
    oracle=f"""
        WITH tagged AS (
            SELECT CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100
                        AS BIGINT) AS v,
                   {sql_hex8(
                       "concat('mom:', CAST(o_orderkey AS VARCHAR))")}
                       % {_MOM_GROUPS} AS g
            FROM orders
        ), means AS (
            SELECT g, CAST(SUM(v) // COUNT(*) AS BIGINT) AS m,
                   CAST(COUNT(*) AS BIGINT) AS n_g
            FROM tagged GROUP BY g
        ), ranked AS (
            SELECT m, ROW_NUMBER() OVER (ORDER BY m, g) AS rk
            FROM means
        ), mom AS (
            SELECT m AS mom_cents FROM ranked
            WHERE rk = ({_MOM_GROUPS} + 1) // 2
        ), plain AS (
            SELECT CAST(SUM(v) // COUNT(*) AS BIGINT) AS mean_cents,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM tagged
        ), spread AS (
            SELECT CAST(MAX(m) - MIN(m) AS BIGINT) AS group_mean_range,
                   CAST(MIN(n_g) AS BIGINT) AS min_group_n
            FROM means
        )
        SELECT p.n, p.mean_cents, mm.mom_cents,
               CAST(ABS(p.mean_cents - mm.mom_cents) * 1000
                    // p.mean_cents AS BIGINT) AS gap_permille,
               s.group_mean_range, s.min_group_n
        FROM plain p CROSS JOIN mom mm CROSS JOIN spread s
    """,
    description="Median-of-means, the robust-mean estimator whose "
    "breakdown point a plain average lacks: orders hash (md5, "
    "deterministic) into 32 groups, each group's mean is an exact "
    "truncated-integer cents value, and the LOWER median of the 32 "
    "means (rank (k+1) div 2, tie-break by group id) is compared to "
    "the plain mean with a permille gap plus the group-mean range "
    "diagnostic. On clean data the gap is tiny; one poisoned shard "
    "moves the plain mean but not MoM — this query is the detector. "
    "100 TB shape: one partial-agg shuffle to 32 groups (sums and "
    "counts combine map-side), then a 32-row bounded spine for the "
    "median — robust statistics at a constant post-scan cost.",
)
def stats_median_of_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    tagged = orders.selectExpr(
        "CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT) AS v",
        f"CAST(conv(substring(md5(concat('mom:', CAST(o_orderkey AS"
        f" STRING))), 1, 8), 16, 10) AS BIGINT) % {_MOM_GROUPS} AS g",
    ).localCheckpoint(eager=False)  # feeds group means + plain mean
    means = tagged.groupBy("g").agg(
        F.expr("CAST(SUM(v) div COUNT(*) AS BIGINT)").alias("m"),
        F.count(F.lit(1)).cast("long").alias("n_g"),
    )
    rw = Window.orderBy("m", "g")
    mom = (
        means.withColumn("rk", F.row_number().over(rw))
        .where(F.col("rk") == (_MOM_GROUPS + 1) // 2)
        .select(F.col("m").alias("mom_cents"))
    )
    plain = tagged.agg(
        F.expr("CAST(SUM(v) div COUNT(*) AS BIGINT)").alias(
            "mean_cents"
        ),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    spread = means.agg(
        (F.max("m") - F.min("m")).cast("long").alias("group_mean_range"),
        F.min("n_g").cast("long").alias("min_group_n"),
    )
    return (
        plain.crossJoin(F.broadcast(mom))
        .crossJoin(F.broadcast(spread))
        .selectExpr(
            "n",
            "mean_cents",
            "mom_cents",
            "CAST(ABS(mean_cents - mom_cents) * 1000 div mean_cents"
            " AS BIGINT) AS gap_permille",
            "group_mean_range",
            "min_group_n",
        )
    )
