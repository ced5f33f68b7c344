"""Wave-142 (round 5): cost-optimal threshold + session type lift.

* ``ml_cost_optimal_threshold`` — decision theory on top of the
  ROC machinery: with asymmetric error costs (false negative 5x a
  false positive), the optimal operating point minimizes
  cost(t) = c_fp * FP(t) + c_fn * FN(t) over EVERY distinct score
  threshold simultaneously — all confusion cells fall out of the
  label-split value histogram prefix sums, the argmin is the
  portable two-aggregate form (min cost, then min threshold at
  that cost), and the always-positive / always-negative baselines
  bracket the result. The reason a 'best F1' threshold is usually
  wrong in production is exactly this query.
* ``events_session_type_lift`` — market-basket lift at SESSION
  grain: sessions from the 30-minute gap rule, event-type pairs
  scored by lift = P(a,b)/(P(a)P(b)) in exact permille via
  cross-multiplied session counts — which behaviors actually
  co-occur within a visit, versus merely both being common.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.cumsum import distributed_running_total
from ..sources.tables import load_table
from .registry import buyers_1996, query

# ------------------------------------- cost-optimal threshold

_C_FP = 1
_C_FN = 5


@query(
    "ml_cost_optimal_threshold",
    oracle=f"""
        WITH lab AS (
            SELECT CAST(CAST(c.c_acctbal AS DECIMAL(15,2)) * 100
                        AS BIGINT) AS v,
                   CASE WHEN COUNT(CASE WHEN EXTRACT(year
                             FROM o.o_orderdate) = 1996 THEN 1 END) > 0
                        THEN 1 ELSE 0 END AS y
            FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
            GROUP BY c.c_custkey, c.c_acctbal
        ), hist AS (
            SELECT v,
                   CAST(SUM(y) AS BIGINT) AS p_v,
                   CAST(SUM(1 - y) AS BIGINT) AS n_v
            FROM lab GROUP BY v
        ), cum AS (
            SELECT v, p_v, n_v,
                   CAST(SUM(p_v) OVER w - p_v AS BIGINT) AS cp_excl,
                   CAST(SUM(n_v) OVER w - n_v AS BIGINT) AS cn_excl
            FROM hist
            WINDOW w AS (ORDER BY v
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ), tot AS (
            SELECT CAST(SUM(p_v) AS BIGINT) AS p,
                   CAST(SUM(n_v) AS BIGINT) AS n
            FROM hist
        ), costs AS (
            SELECT c.v,
                   CAST({_C_FP} * (t.n - c.cn_excl)
                        + {_C_FN} * c.cp_excl AS BIGINT) AS cost,
                   CAST(t.n - c.cn_excl AS BIGINT) AS fp,
                   CAST(c.cp_excl AS BIGINT) AS fn
            FROM cum c CROSS JOIN tot t
        ), best AS (
            SELECT MIN(cost) AS min_cost FROM costs
        )
        SELECT (SELECT MIN(v) FROM costs, best
                WHERE cost = min_cost) AS threshold_cents,
               b.min_cost AS total_cost,
               (SELECT MIN(fp) FROM costs, best
                WHERE cost = min_cost
                  AND v = (SELECT MIN(v) FROM costs, best
                           WHERE cost = min_cost)) AS fp,
               (SELECT MIN(fn) FROM costs, best
                WHERE cost = min_cost
                  AND v = (SELECT MIN(v) FROM costs, best
                           WHERE cost = min_cost)) AS fn,
               CAST({_C_FP} * t.n AS BIGINT) AS cost_always_positive,
               CAST({_C_FN} * t.p AS BIGINT) AS cost_always_negative
        FROM best b CROSS JOIN tot t
    """,
    description="Cost-optimal classification threshold under "
    "asymmetric errors (FN costs 5x FP) — the decision-theoretic "
    "operating point that 'best accuracy' and 'best F1' both get "
    "wrong: cost(t) = FP(t) + 5*FN(t) is evaluated at EVERY "
    "distinct score simultaneously from the label-split value "
    "histogram's exclusive prefix sums (predict positive at "
    "score >= t), the argmin uses the portable two-aggregate form "
    "(global min cost, then the smallest threshold attaining it), "
    "and the always-positive / always-negative baseline costs "
    "bracket the answer. 100 TB shape: one labeled customer "
    "aggregate, one value-histogram shuffle with the two-level "
    "carry, one bounded scan of the threshold curve — the full "
    "cost curve is as cheap as one point of it.",
)
def ml_cost_optimal_threshold(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    lab = buyers_1996(
        spark,
        sf_dir,
        (F.col("c_acctbal").cast("decimal(15,2)") * 100).cast("long").alias("v"),
    )
    hist = lab.groupBy("v").agg(
        F.sum("y").cast("long").alias("p_v"),
        F.sum(1 - F.col("y")).cast("long").alias("n_v"),
    )
    cum0 = distributed_running_total(
        hist.withColumn("vb", F.expr("v div 1048576")),
        F.col("p_v"),
        "vb",
        ["v"],
        out_col="cp_incl",
        zero=F.lit(0).cast("bigint"),
    )
    cum = distributed_running_total(
        cum0,
        F.col("n_v"),
        "vb",
        ["v"],
        out_col="cn_incl",
        zero=F.lit(0).cast("bigint"),
    ).select(
        "v",
        (F.col("cp_incl") - F.col("p_v")).alias("cp_excl"),
        (F.col("cn_incl") - F.col("n_v")).alias("cn_excl"),
    )
    tot = hist.agg(
        F.sum("p_v").cast("long").alias("p"),
        F.sum("n_v").cast("long").alias("n"),
    )
    costs = cum.crossJoin(F.broadcast(tot)).select(
        "v",
        (
            _C_FP * (F.col("n") - F.col("cn_excl"))
            + _C_FN * F.col("cp_excl")
        )
        .cast("long")
        .alias("cost"),
        (F.col("n") - F.col("cn_excl")).cast("long").alias("fp"),
        F.col("cp_excl").cast("long").alias("fn"),
    ).localCheckpoint(eager=False)  # feeds min + argmin + cell lookup
    best = costs.agg(F.min("cost").alias("min_cost"))
    at_min = (
        costs.crossJoin(F.broadcast(best))
        .where(F.col("cost") == F.col("min_cost"))
        .agg(F.min("v").alias("threshold_cents"))
    )
    cells = (
        costs.crossJoin(F.broadcast(at_min))
        .where(F.col("v") == F.col("threshold_cents"))
        .select("threshold_cents", "cost", "fp", "fn")
    )
    return cells.crossJoin(F.broadcast(tot)).select(
        "threshold_cents",
        F.col("cost").alias("total_cost"),
        "fp",
        "fn",
        (F.lit(_C_FP) * F.col("n")).cast("long").alias(
            "cost_always_positive"
        ),
        (F.lit(_C_FN) * F.col("p")).cast("long").alias(
            "cost_always_negative"
        ),
    )


# ------------------------------------- session type lift

_GAP_S = 1800


@query(
    "events_session_type_lift",
    oracle=f"""
        WITH ev AS (
            SELECT user_id, event_type,
                   epoch_us(ts) // 1000000 AS t
            FROM events
        ), marked AS (
            SELECT user_id, event_type, t,
                   CASE WHEN t - lag(t) OVER (PARTITION BY user_id
                                              ORDER BY t) > {_GAP_S}
                             OR lag(t) OVER (PARTITION BY user_id
                                             ORDER BY t) IS NULL
                        THEN 1 ELSE 0 END AS new_s
            FROM ev
        ), sess AS (
            SELECT user_id, event_type,
                   SUM(new_s) OVER (PARTITION BY user_id ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS sid
            FROM marked
        ), stypes AS (
            SELECT DISTINCT user_id, sid, event_type FROM sess
        ), nsess AS (
            SELECT CAST(COUNT(DISTINCT (user_id, sid)) AS BIGINT) AS n
            FROM sess
        ), singles AS (
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS c
            FROM stypes GROUP BY event_type
        ), pairs AS (
            SELECT a.event_type AS ta, b.event_type AS tb,
                   CAST(COUNT(*) AS BIGINT) AS c_ab
            FROM stypes a JOIN stypes b
              ON a.user_id = b.user_id AND a.sid = b.sid
                 AND a.event_type < b.event_type
            GROUP BY 1, 2
        )
        SELECT p.ta, p.tb, p.c_ab,
               sa.c AS c_a, sb.c AS c_b, ns.n AS n_sessions,
               CAST(p.c_ab * ns.n * 1000 // (sa.c * sb.c) AS BIGINT)
                   AS lift_permille
        FROM pairs p
        JOIN singles sa ON sa.event_type = p.ta
        JOIN singles sb ON sb.event_type = p.tb
        CROSS JOIN nsess ns
        ORDER BY ta, tb
    """,
    description="Market-basket lift at SESSION grain: sessions from "
    "the 30-minute gap rule (the islands pattern), event-type pairs "
    "scored by lift = P(a,b)/(P(a)P(b)) as the exact cross-"
    "multiplied permille c_ab * n_sessions * 1000 div (c_a * c_b) "
    "— which behaviors actually co-occur within one visit versus "
    "merely both being frequent, the session-behavioral sibling of "
    "the repo's order-basket association rules. 100 TB shape: "
    "per-user partitioned windows build sessions (parallel "
    "shuffle), the distinct (session, type) reduction bounds pair "
    "fan-out at 10 pairs per session (5 types), and the lift table "
    "is a bounded 5x5 grid.",
)
def events_session_type_lift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    ev = events.select(
        "user_id",
        "event_type",
        (F.unix_micros("ts") / 1000000).cast("long").alias("t"),
    )
    w = Window.partitionBy("user_id").orderBy("t")
    marked = ev.withColumn(
        "new_s",
        F.when(
            (F.col("t") - F.lag("t").over(w) > _GAP_S)
            | F.lag("t").over(w).isNull(),
            1,
        ).otherwise(0),
    )
    wi = Window.partitionBy("user_id").orderBy("t").rowsBetween(
        Window.unboundedPreceding, 0
    )
    sess = marked.withColumn("sid", F.sum("new_s").over(wi))
    stypes = sess.select("user_id", "sid", "event_type").distinct(
    ).localCheckpoint(eager=False)  # feeds singles + both join sides
    nsess = stypes.select("user_id", "sid").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    singles = stypes.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    a = stypes.select("user_id", "sid", F.col("event_type").alias("ta"))
    b = stypes.select("user_id", "sid", F.col("event_type").alias("tb"))
    pairs = (
        a.join(b, ["user_id", "sid"])
        .where(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb")
        .agg(F.count(F.lit(1)).cast("long").alias("c_ab"))
    )
    sa = singles.select(
        F.col("event_type").alias("ta"), F.col("c").alias("c_a")
    )
    sb = singles.select(
        F.col("event_type").alias("tb"), F.col("c").alias("c_b")
    )
    return (
        pairs.join(F.broadcast(sa), "ta")
        .join(F.broadcast(sb), "tb")
        .crossJoin(F.broadcast(nsess))
        .select(
            "ta",
            "tb",
            "c_ab",
            "c_a",
            "c_b",
            F.col("n").alias("n_sessions"),
            F.expr(
                "CAST(c_ab * n * 1000 div (c_a * c_b) AS LONG)"
            ).alias("lift_permille"),
        )
        .orderBy("ta", "tb")
    )
