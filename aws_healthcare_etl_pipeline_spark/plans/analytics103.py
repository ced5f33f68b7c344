"""Wave-129 (round 5): streaming windowed top-k + Kingman VUT.

* ``streaming_windowed_topk_types`` — per-day leaderboard OVER A
  STREAM: parquet file source -> 1-day tumbling count per (window,
  type) -> memory sink (AvailableNow), then the per-window top-3
  ranking runs on the materialized (bounded) sink table. Ranking
  inside a stream needs complete-mode state anyway, so production
  does exactly this split: the stream maintains mergeable counts,
  the serving layer ranks. Oracle is the batch SQL — the
  stream/batch equivalence contract.
* ``ops_kingman_vut_approximation`` — the G/G/1 waiting-time
  approximation Wq ~= V*U*T (variability x utilization x time):
  arrival variability Ca^2 from per-type interarrival moments,
  service variability Cs^2 from deterministic md5 service times,
  utilization pinned at 3/4 by sizing the server to the measured
  arrival rate (documented contract), all in exact integer
  permille/micros algebra — the capacity formula printed next to
  the measured burstiness that justifies it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import events_stream, load_table
from .registry import hex8, query, run_available_now, sql_hex8

# ------------------------------------- streaming windowed top-k

_TOPK = 3


@query(
    "streaming_windowed_topk_types",
    oracle=f"""
        WITH counts AS (
            SELECT CAST(CAST(ts AS DATE) AS TIMESTAMP) AS window_start,
                   event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM events GROUP BY 1, 2
        ), ranked AS (
            SELECT window_start, event_type, n_events,
                   CAST(ROW_NUMBER() OVER (PARTITION BY window_start
                       ORDER BY n_events DESC, event_type) AS BIGINT)
                       AS rk
            FROM counts
        )
        SELECT window_start, rk, event_type, n_events
        FROM ranked WHERE rk <= {_TOPK}
        ORDER BY window_start, rk
    """,
    description="Per-day top-3 event types OVER A STREAM: a real "
    "Structured Streaming run (parquet file source -> 1-day "
    "tumbling counts -> memory sink, Trigger.AvailableNow) "
    "maintains the mergeable per-(window, type) counts; the top-k "
    "ranking then runs on the materialized sink — the split "
    "production uses because ranking is not an incremental "
    "aggregate (complete-mode state would hold every window "
    "anyway), so the stream keeps bounded mergeable state and the "
    "serving layer ranks a bounded table. The oracle is the batch "
    "SQL — Structured Streaming's stream/batch equivalence "
    "contract, checked exactly. Per-window ranking is a "
    "WindowGroupLimit-friendly partitioned window over <= 5 types "
    "per day.",
)
def streaming_windowed_topk_types(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    stream = events_stream(spark, sf_dir)
    agg = stream.groupBy(
        F.window("ts", "1 day").alias("w"), "event_type"
    ).agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    counts = run_available_now(agg, "complete").select(
        F.col("w.start").alias("window_start"), "event_type", "n_events"
    )
    rk = Window.partitionBy("window_start").orderBy(
        F.col("n_events").desc(), "event_type"
    )
    return (
        counts.select(
            "window_start",
            F.row_number().over(rk).cast("long").alias("rk"),
            "event_type",
            "n_events",
        )
        .where(F.col("rk") <= _TOPK)
        .orderBy("window_start", "rk")
    )


# --------------------------------------------- Kingman VUT


@query(
    "ops_kingman_vut_approximation",
    oracle="""
        WITH ev AS (
            SELECT event_type, epoch_us(ts) AS t, event_id AS eid,
                   1 + ({h}) % 1000 AS svc
            FROM events
        ), ia AS (
            SELECT event_type,
                   t - lag(t) OVER (PARTITION BY event_type
                                    ORDER BY t, eid) AS a
            FROM ev
        ), amom AS (
            SELECT event_type,
                   CAST(COUNT(a) AS BIGINT) AS n,
                   CAST(SUM(a) AS BIGINT) AS s,
                   CAST(SUM(CAST(a AS HUGEINT) * a) AS HUGEINT) AS ss
            FROM ia WHERE a IS NOT NULL GROUP BY event_type
        ), smom AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS m,
                   CAST(SUM(svc) AS BIGINT) AS sv,
                   CAST(SUM(CAST(svc AS HUGEINT) * svc) AS HUGEINT)
                       AS svv
            FROM ev GROUP BY event_type
        )
        SELECT a.event_type,
               CAST(a.s // a.n AS BIGINT) AS mean_ia_micros,
               CAST((a.n * a.ss - CAST(a.s AS HUGEINT) * a.s) * 1000
                    // (CAST(a.s AS HUGEINT) * a.s) AS BIGINT)
                   AS ca2_permille,
               CAST((s.m * s.svv - CAST(s.sv AS HUGEINT) * s.sv) * 1000
                    // (CAST(s.sv AS HUGEINT) * s.sv) AS BIGINT)
                   AS cs2_permille,
               CAST(3 * ((a.n * a.ss - CAST(a.s AS HUGEINT) * a.s) * 1000
                         // (CAST(a.s AS HUGEINT) * a.s)
                         + (s.m * s.svv - CAST(s.sv AS HUGEINT) * s.sv)
                           * 1000
                           // (CAST(s.sv AS HUGEINT) * s.sv))
                    * (a.s // a.n) * 3 // (2000 * 4) AS BIGINT)
                   AS wq_micros
        FROM amom a JOIN smom s ON s.event_type = a.event_type
        ORDER BY a.event_type
    """.format(h=sql_hex8("'svc:' || CAST(event_id AS VARCHAR)")),
    description="Kingman's VUT formula — THE back-of-envelope law of "
    "queueing (waiting ~= Variability x Utilization x Time): per "
    "event type, arrival variability Ca^2 comes from exact "
    "interarrival micros moments ((n*ss - s^2)/s^2, integer "
    "permille), service variability Cs^2 from deterministic md5 "
    "service times (1..1000 micros), the server is SIZED to the "
    "measured arrival rate at rho = 3/4 (so U = rho/(1-rho) = 3 "
    "and the service time is 3/4 of the mean interarrival — the "
    "documented sizing contract), and Wq = U * (Ca^2+Cs^2)/2 * T "
    "lands as exact truncating-integer micros. This is the formula "
    "capacity teams quote; the dispersion lane (wave 128) measures "
    "whether its Poisson-ish assumptions even hold. 100 TB shape: "
    "per-type partitioned lag (a parallel shuffle) and two moment "
    "aggregates.",
)
def ops_kingman_vut_approximation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    svc = (
        hex8(F.concat(F.lit("svc:"), F.col("event_id").cast("string")))
        % 1000
        + 1
    )
    ev = events.select(
        "event_type",
        F.unix_micros("ts").alias("t"),
        F.col("event_id").alias("eid"),
        svc.alias("svc"),
    ).localCheckpoint(eager=False)  # feeds ia AND smom
    w = Window.partitionBy("event_type").orderBy("t", "eid")
    ia = ev.select(
        "event_type", (F.col("t") - F.lag("t").over(w)).alias("a")
    ).where(F.col("a").isNotNull())
    d38 = "decimal(38,0)"
    amom = ia.groupBy("event_type").agg(
        F.count("a").cast("long").alias("n"),
        F.sum("a").cast("long").alias("s"),
        F.sum(F.expr(f"CAST(a AS {d38}) * a")).cast(d38).alias("ss"),
    )
    smom = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum("svc").cast("long").alias("sv"),
        F.sum(F.expr(f"CAST(svc AS {d38}) * svc")).cast(d38).alias("svv"),
    )
    ca2 = f"(n * ss - CAST(s AS {d38}) * s) * 1000 div (CAST(s AS {d38}) * s)"
    cs2 = (
        f"(m * svv - CAST(sv AS {d38}) * sv) * 1000"
        f" div (CAST(sv AS {d38}) * sv)"
    )
    return (
        amom.join(smom, "event_type")
        .select(
            "event_type",
            F.expr("CAST(s div n AS LONG)").alias("mean_ia_micros"),
            F.expr(f"CAST({ca2} AS LONG)").alias("ca2_permille"),
            F.expr(f"CAST({cs2} AS LONG)").alias("cs2_permille"),
            F.expr(
                f"CAST(3 * ({ca2} + {cs2}) * (s div n) * 3"
                f" div (2000 * 4) AS LONG)"
            ).alias("wq_micros"),
        )
        .orderBy("event_type")
    )
