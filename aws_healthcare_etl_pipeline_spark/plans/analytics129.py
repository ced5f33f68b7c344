"""Wave-155 (round 5): process mining + FIFO queue wait replay.

* ``process_trace_variants_conformance`` — the process-mining
  staples on session traces: trace VARIANTS (each session's ordered
  event-type sequence as a string) ranked by frequency, and per-
  variant CONFORMANCE against a declared process model (the allowed
  directly-follows transitions signup->view/click, view<->click,
  anything->purchase, purchase->nothing-but-view): violating
  transitions counted per variant and fitness emitted as permille
  of conforming steps.  Variant discovery and conformance checking
  are the two halves of every process-mining tool.
* ``queue_lindley_wait_replay`` — EXACT sample-path FIFO queue
  waits over synthetic arrivals (order dates + deterministic
  intra-day jitter) and hash-derived service times, via the Lindley
  recursion W_i = max(0, W_{i-1} + s_{i-1} - interarrival).  The
  recursion is order-sensitive, but it unrolls to
  W_i = U_i - min_{j<=i} U_j with U_i = (exclusive prefix sum of
  service) - arrival time — so the whole replay is one running SUM
  plus one running MIN, both decomposed two-level (per-day bucket
  partials + carry over the bounded spine): no global-window
  entity-grain sort, no keyed sequential scan.  Complements the
  Erlang-B / Kingman formulas with measured waits on a sample path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import hex4, query, sql_hex4

# ------------------------------------- trace variants + conformance

_PV_GAP_S = 1800
# allowed directly-follows transitions (the declared process model)
_PV_ALLOWED = [
    ("signup", "view"),
    ("signup", "click"),
    ("view", "click"),
    ("view", "view"),
    ("click", "view"),
    ("click", "click"),
    ("view", "purchase"),
    ("click", "purchase"),
    ("purchase", "view"),
]
_PV_ALLOWED_SQL = ", ".join(f"('{a}','{b}')" for a, b in _PV_ALLOWED)
_PV_TOPK = 10


@query(
    "process_trace_variants_conformance",
    oracle=f"""
        WITH ev AS (
            SELECT user_id, event_type, event_id,
                   epoch_us(ts) // 1000000 AS t
            FROM events
        ), marked AS (
            SELECT user_id, event_type, event_id, t,
                   CASE WHEN t - lag(t) OVER w > {_PV_GAP_S}
                             OR lag(t) OVER w IS NULL
                        THEN 1 ELSE 0 END AS new_s
            FROM ev
            WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
        ), sess AS (
            SELECT user_id, event_type, event_id, t,
                   SUM(new_s) OVER (PARTITION BY user_id
                       ORDER BY t, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS sid
            FROM marked
        ), traces AS (
            SELECT user_id, sid,
                   string_agg(event_type, '>' ORDER BY t, event_id)
                       AS variant,
                   COUNT(*) AS n_steps
            FROM sess GROUP BY user_id, sid
        ), steps AS (
            SELECT user_id, sid, event_type AS a,
                   LEAD(event_type) OVER (PARTITION BY user_id, sid
                       ORDER BY t, event_id) AS b
            FROM sess
        ), viol AS (
            SELECT user_id, sid,
                   CAST(SUM(CASE WHEN b IS NOT NULL
                            AND (a, b) NOT IN ({_PV_ALLOWED_SQL})
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_viol,
                   CAST(SUM(CASE WHEN b IS NOT NULL
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_trans
            FROM steps GROUP BY user_id, sid
        ), variants AS (
            SELECT t.variant,
                   CAST(COUNT(*) AS BIGINT) AS n_sessions,
                   CAST(MAX(t.n_steps) AS BIGINT) AS n_steps,
                   CAST(SUM(v.n_viol) AS BIGINT) AS n_violations,
                   CAST(SUM(v.n_trans) AS BIGINT) AS n_transitions
            FROM traces t
            JOIN viol v ON v.user_id = t.user_id AND v.sid = t.sid
            GROUP BY t.variant
        ), ranked AS (
            SELECT variant, n_sessions, n_steps, n_violations,
                   n_transitions,
                   CASE WHEN n_transitions > 0
                        THEN (n_transitions - n_violations) * 1000
                             // n_transitions
                        ELSE 1000 END AS fitness_permille,
                   ROW_NUMBER() OVER (ORDER BY n_sessions DESC,
                                      variant) AS rnk
            FROM variants
        )
        SELECT variant, n_sessions, n_steps, n_violations,
               CAST(fitness_permille AS BIGINT) AS fitness_permille,
               CAST(rnk AS BIGINT) AS rnk
        FROM ranked WHERE rnk <= {_PV_TOPK}
        ORDER BY rnk
    """,
    description="Process mining on session traces: trace VARIANTS "
    "(each session's ordered event-type sequence) ranked by "
    "frequency, with per-variant CONFORMANCE against a declared "
    "directly-follows process model — violating transitions "
    "counted, fitness as permille of conforming steps. Variant "
    "discovery + conformance checking are the two halves of every "
    "process-mining tool; the declared model makes deviations "
    "(e.g. purchase->purchase, error loops) measurable. 100 TB "
    "shape: sessionization and the trace string_agg are per-user "
    "partitioned windows (one shuffle); the variant table is "
    "frequency-bounded and the top-10 is a TakeOrdered.",
)
def process_trace_variants_conformance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    ev = events.select(
        "user_id",
        "event_type",
        "event_id",
        (F.unix_micros("ts") / 1000000).cast("long").alias("t"),
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    marked = ev.withColumn(
        "new_s",
        F.when(
            (F.col("t") - F.lag("t").over(w) > _PV_GAP_S)
            | F.lag("t").over(w).isNull(),
            1,
        ).otherwise(0),
    )
    sess = marked.withColumn(
        "sid",
        F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    ).localCheckpoint(eager=False)  # feeds traces + steps
    ws = Window.partitionBy("user_id", "sid").orderBy("t", "event_id")
    traces = sess.groupBy("user_id", "sid").agg(
        F.array_join(
            F.expr(
                "transform(array_sort(collect_list("
                "struct(t, event_id, event_type))),"
                " x -> x.event_type)"
            ),
            ">",
        ).alias("variant"),
        F.count(F.lit(1)).alias("n_steps"),
    )
    allowed = spark.createDataFrame(
        _PV_ALLOWED, "a: string, b: string"
    ).withColumn("_ok", F.lit(1))
    steps = sess.select(
        "user_id",
        "sid",
        F.col("event_type").alias("a"),
        F.lead("event_type").over(ws).alias("b"),
    )
    viol = (
        steps.join(F.broadcast(allowed), ["a", "b"], "left")
        .groupBy("user_id", "sid")
        .agg(
            F.sum(
                F.when(
                    F.col("b").isNotNull() & F.col("_ok").isNull(), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_viol"),
            F.sum(F.when(F.col("b").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_trans"),
        )
    )
    variants = (
        traces.join(viol, ["user_id", "sid"])
        .groupBy("variant")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.max("n_steps").cast("long").alias("n_steps"),
            F.sum("n_viol").cast("long").alias("n_violations"),
            F.sum("n_trans").cast("long").alias("n_transitions"),
        )
    )
    wr = Window.orderBy(F.desc("n_sessions"), F.asc("variant"))
    return (
        variants.withColumn(
            "fitness_permille",
            F.expr(
                "CASE WHEN n_transitions > 0 THEN"
                " (n_transitions - n_violations) * 1000"
                " div n_transitions ELSE 1000 END"
            ).cast("long"),
        )
        .withColumn("rnk", F.row_number().over(wr))
        .where(F.col("rnk") <= _PV_TOPK)
        .select(
            "variant",
            "n_sessions",
            "n_steps",
            "n_violations",
            "fitness_permille",
            F.col("rnk").cast("long").alias("rnk"),
        )
        .orderBy("rnk")
    )


# ------------------------------------- Lindley queue replay


@query(
    "queue_lindley_wait_replay",
    oracle=f"""
        WITH arr AS (
            SELECT o_orderkey,
                   CAST(date_diff('day', DATE '1995-01-01',
                        o_orderdate) AS BIGINT) * 86400
                   + o_orderkey % 86400 AS a,
                   30 + ({sql_hex4(
                       "'svc:' || CAST(o_orderkey AS VARCHAR)"
                   )}) % 120 AS s,
                   strftime(o_orderdate, '%Y-%m') AS month
            FROM orders
        ), seq AS (
            SELECT *,
                   COALESCE(SUM(s) OVER (ORDER BY a, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING), 0) AS s_excl
            FROM arr
        ), u AS (
            SELECT month, a, o_orderkey, s_excl - a AS uv FROM seq
        ), wt AS (
            SELECT month,
                   uv - MIN(uv) OVER (ORDER BY a, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS w
            FROM u
        )
        SELECT month,
               CAST(COUNT(*) AS BIGINT) AS n_arrivals,
               CAST(SUM(w) * 1000 // COUNT(*) AS BIGINT)
                   AS mean_wait_millis,
               CAST(MAX(w) AS BIGINT) AS max_wait_s,
               CAST(SUM(CASE WHEN w = 0 THEN 1 ELSE 0 END) * 1000
                    // COUNT(*) AS BIGINT) AS zero_wait_permille
        FROM wt GROUP BY month ORDER BY month
    """,
    description="EXACT sample-path FIFO queue waits from the Lindley "
    "recursion W_i = max(0, W_{{i-1}} + s_{{i-1}} - interarrival) "
    "over synthetic arrivals (order dates + deterministic intra-day "
    "jitter) and hash-derived 30-150s service times: the order-"
    "sensitive recursion unrolls to W_i = U_i - running_min(U) with "
    "U = exclusive-prefix-service-sum minus arrival time, so the "
    "whole replay is ONE running sum + ONE running min — both "
    "decomposed two-level on the Spark side (per-day bucket "
    "partials, carry over the bounded spine, within-bucket "
    "windows), while the oracle uses textbook global windows: the "
    "hash match proves the decomposition. Complements Erlang-B and "
    "Kingman with measured waits per month. 100 TB shape: no "
    "global sort, no keyed scan — two bucket-partitioned windows "
    "plus bounded spine carries.",
)
def queue_lindley_wait_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    arr = orders.select(
        "o_orderkey",
        (
            F.datediff("o_orderdate", F.lit("1995-01-01").cast("date"))
            .cast("long")
            * 86400
            + F.col("o_orderkey") % 86400
        ).alias("a"),
        (
            30
            + hex4(F.concat(F.lit("svc:"), F.col("o_orderkey").cast("string")))
            % 120
        ).alias("s"),
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        # bucket = arrival day: monotone in the (a, key) order
        F.datediff(
            "o_orderdate", F.lit("1995-01-01").cast("date")
        ).alias("day"),
    )
    # two-level running SUM of service (exclusive)
    day_sum = arr.groupBy("day").agg(F.sum("s").alias("dsum"))
    spine = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, -1
    )
    carry_sum = day_sum.select(
        "day",
        F.coalesce(F.sum("dsum").over(spine), F.lit(0)).alias(
            "carry_s"
        ),
    )
    win = Window.partitionBy("day").orderBy("a", "o_orderkey")
    seq = (
        arr.join(F.broadcast(carry_sum), "day")
        .withColumn(
            "s_excl",
            F.col("carry_s")
            + F.coalesce(
                F.sum("s").over(
                    win.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .withColumn("uv", F.col("s_excl") - F.col("a"))
    )
    # two-level running MIN of uv
    day_min = seq.groupBy("day").agg(F.min("uv").alias("dmin"))
    carry_min = day_min.select(
        "day",
        F.min("dmin")
        .over(
            Window.orderBy("day").rowsBetween(
                Window.unboundedPreceding, -1
            )
        )
        .alias("carry_m"),
    )
    wt = (
        seq.join(F.broadcast(carry_min), "day")
        .withColumn(
            "runmin",
            F.least(
                F.coalesce("carry_m", F.lit(2**62)),
                F.min("uv").over(
                    win.rowsBetween(Window.unboundedPreceding, 0)
                ),
            ),
        )
        .withColumn("w", F.col("uv") - F.col("runmin"))
    )
    return (
        wt.groupBy("month")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_arrivals"),
            F.expr("SUM(w) * 1000 div COUNT(*)")
            .cast("long")
            .alias("mean_wait_millis"),
            F.max("w").cast("long").alias("max_wait_s"),
            F.expr(
                "SUM(CASE WHEN w = 0 THEN 1 ELSE 0 END) * 1000"
                " div COUNT(*)"
            )
            .cast("long")
            .alias("zero_wait_permille"),
        )
        .orderBy("month")
    )
