"""Wave-175 (round 5): sampling-design bias + chain stationarity.

* ``sampling_systematic_vs_hash`` — the systematic-sampling trap,
  measured: every-k-th row in DATE order (ranks from the two-level
  distributed running total, no global sort) vs a deterministic
  md5-hash sample of the same expected size, both compared to the
  true mean in permille. Time-ordered data with trend makes
  systematic sampling phase-sensitive; hash sampling is not — the
  query puts numbers on the gap.

* ``events_markov_homogeneity`` — is the event-transition chain
  time-homogeneous? Per-user transition counts split at the stream's
  midpoint day; each from-state's conditional next-event
  distributions (first half vs second half) are compared by L1
  distance in permille — all integer cross-multiplied shares, the
  stationarity audit behind every Markov attribution model the repo
  already ships.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.cumsum import distributed_running_total
from ..sources.tables import load_table
from .registry import hex8, query, sql_hex8

_SYS_TARGET = 1000


@query(
    "sampling_systematic_vs_hash",
    oracle=f"""
        WITH base AS (
            SELECT o_orderkey AS k, o_orderdate AS d,
                   CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100
                        AS BIGINT) AS v
            FROM orders
        ), tot AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(v) AS BIGINT) AS s,
                   GREATEST(1, COUNT(*) // {_SYS_TARGET}) AS step
            FROM base
        ), ranked AS (
            SELECT k, v,
                   ROW_NUMBER() OVER (ORDER BY d, k) AS rnk
            FROM base
        ), sys_s AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_sys,
                   CAST(SUM(r.v) // COUNT(*) AS BIGINT) AS mean_sys
            FROM ranked r CROSS JOIN tot t
            WHERE r.rnk % t.step = 0
        ), hash_s AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_hash,
                   CAST(SUM(b.v) // COUNT(*) AS BIGINT) AS mean_hash
            FROM base b CROSS JOIN tot t
            WHERE {sql_hex8("concat('sysh:', CAST(b.k AS VARCHAR))")}
                  % t.step = 0
        )
        SELECT t.n,
               CAST(t.s // t.n AS BIGINT) AS true_mean_cents,
               s.n_sys, s.mean_sys, h.n_hash, h.mean_hash,
               CAST(ABS(s.mean_sys - t.s // t.n) * 1000
                    // (t.s // t.n) AS BIGINT) AS sys_bias_permille,
               CAST(ABS(h.mean_hash - t.s // t.n) * 1000
                    // (t.s // t.n) AS BIGINT) AS hash_bias_permille
        FROM tot t CROSS JOIN sys_s s CROSS JOIN hash_s h
    """,
    description="The systematic-sampling trap, measured: every-k-th "
    "order in DATE order (global positions from the two-level "
    "distributed running total — bucket carries + partitioned "
    "windows, never a global sort of fact rows) vs a deterministic "
    "md5-hash sample with the same expected rate, both graded "
    "against the true mean in permille. Time-ordered data with "
    "trend or periodicity makes systematic sampling phase-"
    "sensitive; hash sampling is immune — the audit that should "
    "run before anyone ships an every-Nth-record profiler. 100 TB "
    "shape: one partial agg for totals, the rank decomposition's "
    "bounded month-spine carry, two filtered aggregates; no step "
    "re-scans.",
)
def sampling_systematic_vs_hash(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    base = orders.selectExpr(
        "o_orderkey AS k",
        "o_orderdate AS d",
        "CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT)"
        " AS v",
    ).localCheckpoint(eager=False)  # feeds totals + ranks + hash lane
    tot = base.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("long").alias("s"),
        F.expr(f"GREATEST(1, COUNT(*) div {_SYS_TARGET})").alias(
            "step"
        ),
    )
    ranked = distributed_running_total(
        base.withColumn("ym", F.expr("year(d) * 100 + month(d)")),
        F.lit(1).cast("bigint"),
        "ym",
        ["d", "k"],
        out_col="rnk",
        zero=F.lit(0).cast("bigint"),
    )
    sys_s = (
        ranked.crossJoin(F.broadcast(tot))
        .where(F.expr("rnk % step = 0"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sys"),
            F.expr("CAST(SUM(v) div COUNT(*) AS BIGINT)").alias(
                "mean_sys"
            ),
        )
    )
    hash_s = (
        base.crossJoin(F.broadcast(tot))
        .where(
            (
                hex8(F.concat(F.lit("sysh:"), F.col("k").cast("string")))
                % F.col("step")
            )
            == 0
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hash"),
            F.expr("CAST(SUM(v) div COUNT(*) AS BIGINT)").alias(
                "mean_hash"
            ),
        )
    )
    return (
        tot.crossJoin(F.broadcast(sys_s))
        .crossJoin(F.broadcast(hash_s))
        .selectExpr(
            "n",
            "CAST(s div n AS BIGINT) AS true_mean_cents",
            "n_sys",
            "mean_sys",
            "n_hash",
            "mean_hash",
            "CAST(ABS(mean_sys - s div n) * 1000 div (s div n)"
            " AS BIGINT) AS sys_bias_permille",
            "CAST(ABS(mean_hash - s div n) * 1000 div (s div n)"
            " AS BIGINT) AS hash_bias_permille",
        )
    )


@query(
    "events_markov_homogeneity",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type AS cur, epoch_us(ts) AS t,
                   LEAD(event_type) OVER (PARTITION BY user_id
                       ORDER BY epoch_us(ts), event_id) AS nxt
            FROM events
        ), bounds AS (
            SELECT (MIN(t) + MAX(t)) // 2 AS mid FROM seq
        ), trans AS (
            SELECT CASE WHEN s.t < b.mid THEN 0 ELSE 1 END AS half,
                   s.cur, s.nxt
            FROM seq s CROSS JOIN bounds b
            WHERE s.nxt IS NOT NULL
        ), counts AS (
            SELECT half, cur, nxt,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM trans GROUP BY 1, 2, 3
        ), wide AS (
            SELECT cur, nxt,
                   CAST(SUM(CASE WHEN half = 0 THEN c ELSE 0 END)
                       AS BIGINT) AS c1,
                   CAST(SUM(CASE WHEN half = 1 THEN c ELSE 0 END)
                       AS BIGINT) AS c2
            FROM counts GROUP BY cur, nxt
        ), margins AS (
            SELECT cur, nxt, c1, c2,
                   SUM(c1) OVER (PARTITION BY cur) AS t1,
                   SUM(c2) OVER (PARTITION BY cur) AS t2
            FROM wide
        )
        SELECT cur AS from_state,
               CAST(MAX(t1) AS BIGINT) AS n_first_half,
               CAST(MAX(t2) AS BIGINT) AS n_second_half,
               CAST(SUM(ABS(c1 * 1000 // GREATEST(t1, 1)
                            - c2 * 1000 // GREATEST(t2, 1)))
                   AS BIGINT) AS l1_distance_permille
        FROM margins
        GROUP BY cur
        ORDER BY from_state
    """,
    description="Markov stationarity audit: per-user event "
    "transitions split at the stream's midpoint timestamp, and each "
    "from-state's conditional next-event distribution (first half "
    "vs second half) compared by L1 distance in permille — integer "
    "shares c*1000 div rowtotal, identical truncation both engines. "
    "A large distance on a state says the chain the repo's Markov "
    "attribution and stationary-distribution queries assume is NOT "
    "time-homogeneous there — the audit that must precede any "
    "Markov model. 100 TB shape: one partitioned lead window, one "
    "(half, from, to) partial agg on a bounded state domain, "
    "bounded-spine share arithmetic.",
)
def events_markov_homogeneity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql.window import Window

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    seq = events.select(
        "user_id",
        F.col("event_type").alias("cur"),
        F.unix_micros("ts").alias("t"),
        "event_id",
    ).select(
        "cur", "t", F.lead("cur").over(w).alias("nxt")
    )
    bounds = seq.agg(
        F.expr("(MIN(t) + MAX(t)) div 2").alias("mid")
    )
    trans = (
        seq.where(F.col("nxt").isNotNull())
        .crossJoin(F.broadcast(bounds))
        .selectExpr(
            "CASE WHEN t < mid THEN 0 ELSE 1 END AS half",
            "cur",
            "nxt",
        )
    )
    wide = (
        trans.groupBy("cur", "nxt")
        .agg(
            F.sum(F.when(F.col("half") == 0, 1).otherwise(0))
            .cast("long")
            .alias("c1"),
            F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
            .cast("long")
            .alias("c2"),
        )
    )
    mw = Window.partitionBy("cur")
    margins = wide.select(
        "cur",
        "c1",
        "c2",
        F.sum("c1").over(mw).alias("t1"),
        F.sum("c2").over(mw).alias("t2"),
    )
    return (
        margins.groupBy(F.col("cur").alias("from_state"))
        .agg(
            F.max("t1").cast("long").alias("n_first_half"),
            F.max("t2").cast("long").alias("n_second_half"),
            F.expr(
                "CAST(SUM(ABS(c1 * 1000 div GREATEST(t1, 1)"
                " - c2 * 1000 div GREATEST(t2, 1))) AS BIGINT)"
            ).alias("l1_distance_permille"),
        )
        .orderBy("from_state")
    )
