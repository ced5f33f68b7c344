"""Wave-185 (round 5): conjunct ordering + the Hoover index.

* ``optimizer_predicate_order_cost`` — the filter-ordering decision
  every engine makes, scored EXACTLY: for three correlated lineitem
  predicates, the expected short-circuit evaluation count of each of
  the 6 orders is n + |P1| + |P1 and P2| — true conditional counts
  from the same one-scan flag cube as the independence q-error
  audit, not independence estimates. The cheapest order is ranked
  first; the spread between best and worst is the payoff of
  ordering conjuncts by actual selectivity.

* ``inequality_hoover_index`` — the Hoover/Pietra index (max share
  that would have to move to equalize): sum |n*x_i - S| over 2*n*S,
  exact because multiplying through by n removes the mean's
  division entirely — one pass, one broadcast of (n, S), permille
  output per market segment and overall.
"""

from __future__ import annotations

from itertools import permutations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import query, split_top_level

_POC_PREDS = {
    "A": "l_quantity >= 25",
    "B": "CAST(l_discount AS DECIMAL(3,2)) * 100 >= 6",
    "C": "l_returnflag = 'R'",
}


def _poc_cube_cols() -> str:
    names = sorted(_POC_PREDS)
    parts = ["CAST(COUNT(*) AS BIGINT) AS n"]
    # singles and ordered-prefix pairs (all 6 ordered pairs)
    for a in names:
        parts.append(
            f"CAST(SUM(CASE WHEN {_POC_PREDS[a]} THEN 1 ELSE 0 END)"
            f" AS BIGINT) AS c_{a}"
        )
    for a in names:
        for b in names:
            if a != b:
                parts.append(
                    f"CAST(SUM(CASE WHEN ({_POC_PREDS[a]})"
                    f" AND ({_POC_PREDS[b]}) THEN 1 ELSE 0 END)"
                    f" AS BIGINT) AS c_{a}{b}"
                )
    return ", ".join(parts)


def _poc_rows() -> list[tuple[str, str]]:
    rows = []
    for perm in permutations(sorted(_POC_PREDS)):
        name = "".join(perm)
        pair = "".join(sorted(perm[:2]))
        expr = f"n + c_{perm[0]} + c_{pair[0]}{pair[1]}"
        rows.append((name, expr))
    return rows


@query(
    "optimizer_predicate_order_cost",
    oracle=f"""
        WITH cube AS MATERIALIZED (
            SELECT {_poc_cube_cols()} FROM lineitem
        ), scored AS (
            {" UNION ALL ".join(
                f"SELECT '{name}' AS eval_order,"
                f" CAST({expr} AS BIGINT) AS expected_evals FROM cube"
                for name, expr in _poc_rows())}
        )
        SELECT eval_order, expected_evals,
               CAST(ROW_NUMBER() OVER (ORDER BY expected_evals,
                    eval_order) AS BIGINT) AS cost_rank
        FROM scored
        ORDER BY cost_rank
    """,
    description="Short-circuit conjunct ordering, scored with TRUE "
    "conditional counts instead of independence estimates: for "
    "three correlated predicates, each of the 6 evaluation orders "
    "costs exactly n + |P1| + |P1 AND P2| predicate evaluations — "
    "all nine counts come from ONE scan of parallel CASE sums (the "
    "same cube the independence q-error audit uses), so adding "
    "orders adds zero passes. The ranked scoreboard's best-to-worst "
    "spread is the measured payoff of selectivity-ordered filters — "
    "the micro-decision that multiplies across a trillion rows. "
    "100 TB shape: one map-side partial agg, then 6-row algebra.",
)
def optimizer_predicate_order_cost(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem")
    cube = li.selectExpr("*").agg(
        *[
            F.expr(p)
            for p in split_top_level(_poc_cube_cols())
        ]
    )
    scored = cube.selectExpr(
        "stack("
        + str(len(_poc_rows()))
        + ", "
        + ", ".join(
            f"'{name}', CAST({expr} AS BIGINT)"
            for name, expr in _poc_rows()
        )
        + ") AS (eval_order, expected_evals)"
    )
    rw = Window.orderBy("expected_evals", "eval_order")
    return (
        scored.withColumn(
            "cost_rank", F.row_number().over(rw).cast("long")
        )
        .orderBy("cost_rank")
    )


@query(
    "inequality_hoover_index",
    oracle="""
        WITH vals AS MATERIALIZED (
            SELECT c.c_mktsegment AS seg,
                   CAST(CAST(o.o_totalprice AS DECIMAL(15,2)) * 100
                        AS BIGINT) AS v
            FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        ), scoped AS (
            SELECT seg AS scope, v FROM vals
            UNION ALL
            SELECT 'ALL', v FROM vals
        ), stats AS (
            SELECT scope,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(v) AS BIGINT) AS s
            FROM scoped GROUP BY scope
        )
        SELECT sc.scope, st.n,
               CAST(SUM(ABS(st.n * CAST(sc.v AS HUGEINT) - st.s))
                    * 1000 // (2 * CAST(st.n AS HUGEINT) * st.s)
                    AS BIGINT) AS hoover_permille
        FROM scoped sc JOIN stats st ON st.scope = sc.scope
        GROUP BY sc.scope, st.n, st.s
        ORDER BY sc.scope
    """,
    description="The Hoover/Pietra inequality index — the share of "
    "total revenue that would have to move between orders to "
    "equalize them — computed exactly by multiplying the classic "
    "sum|x - mean| / (2*sum x) through by n: sum|n*x_i - S| * 1000 "
    "div (2*n*S), so the mean's division never happens and every "
    "term is an integer (n*x ~ 1e16 at sf1000 in int64; the summed "
    "absolute deviations ride DECIMAL(38)/HUGEINT). Emitted per "
    "market segment and overall. 100 TB shape: one scan for (n, S) "
    "per scope, one broadcast join back, one partial agg — the "
    "equality-of-distribution number that pairs with the Gini/"
    "Lorenz query at a third of its cost.",
)
def inequality_hoover_index(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    vals = orders.join(
        F.broadcast(customer.select("c_custkey", "c_mktsegment")),
        customer.c_custkey == orders.o_custkey,
    ).selectExpr(
        "c_mktsegment AS seg",
        "CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT)"
        " AS v",
    ).localCheckpoint(eager=False)  # two scopes, stats + deviation
    scoped = vals.unionAll(
        vals.select(F.lit("ALL").alias("seg"), "v")
    ).withColumnRenamed("seg", "scope")
    stats = scoped.groupBy("scope").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("long").alias("s"),
    )
    return (
        scoped.join(F.broadcast(stats), "scope")
        .groupBy("scope")
        .agg(
            F.max("n").cast("long").alias("n"),
            F.expr(
                "CAST(SUM(ABS(n * CAST(v AS DECIMAL(38,0)) - s))"
                " * 1000 div (2 * CAST(MAX(n) AS DECIMAL(38,0))"
                " * MAX(s)) AS BIGINT)"
            ).alias("hoover_permille"),
        )
        .orderBy("scope")
    )
