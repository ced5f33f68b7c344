"""Wave-114 (round 5): topographic peak prominence + Misra-Gries
heavy-hitter replay.

* ``events_peak_prominence_daily`` — the signal-processing peak
  measure (scipy.signal convention): a peak's prominence is its
  height above the higher of the two key saddles, where each
  saddle is the minimum between the peak and the nearest strictly
  higher point (or series border) on that side. Computed entirely
  with exact cent integers on the BOUNDED day spine: the
  nearest-higher lookups and interval minima are non-equi joins of
  a ~2.4k-row spine against itself — constant work at any data
  volume.
* ``events_heavy_hitters_mg_replay`` — the Misra-Gries / space-
  saving summary (k=2 counters) replayed deterministically over
  each user's event-type stream in (ts, event_id) order — the
  canonical bounded-state frequent-elements sketch. The Spark side
  is the repo's partition-wise ``keyed_pandas_scan`` (one shuffle,
  sequential per key — the information-theoretic minimum for an
  order-sensitive recurrence); the DuckDB oracle replays the
  IDENTICAL transition function as a RECURSIVE CTE over per-user
  event ranks, proving the stateful operator exactly.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.keyscan import keyed_pandas_scan
from ..sources.tables import load_table
from .registry import query

# ------------------------------------------------ peak prominence


@query(
    "events_peak_prominence_daily",
    oracle="""
        WITH daily AS (
            SELECT o_orderdate AS day,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2)) * 100)
                        AS BIGINT) AS v
            FROM orders GROUP BY 1
        ), spine AS (
            SELECT day, v,
                   CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS i
            FROM daily
        ), nn AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n FROM spine
        ), peaks AS (
            SELECT s.day, s.v, s.i
            FROM (
                SELECT day, v, i,
                       lag(v) OVER (ORDER BY i) AS pv,
                       lead(v) OVER (ORDER BY i) AS nv
                FROM spine
            ) s
            WHERE s.pv IS NOT NULL AND s.nv IS NOT NULL
              AND s.v > s.pv AND s.v > s.nv
        ), brackets AS (
            SELECT p.day, p.v, p.i,
                   COALESCE(MAX(CASE WHEN s.i < p.i AND s.v > p.v
                                     THEN s.i END), 0) AS li,
                   COALESCE(MIN(CASE WHEN s.i > p.i AND s.v > p.v
                                     THEN s.i END), nn.n + 1) AS ri
            FROM peaks p CROSS JOIN nn CROSS JOIN spine s
            GROUP BY p.day, p.v, p.i, nn.n
        ), saddles AS (
            SELECT b.day, b.v, b.i,
                   MIN(CASE WHEN s.i > b.li AND s.i < b.i
                            THEN s.v END) AS saddle_l,
                   MIN(CASE WHEN s.i > b.i AND s.i < b.ri
                            THEN s.v END) AS saddle_r
            FROM brackets b CROSS JOIN spine s
            GROUP BY b.day, b.v, b.i
        )
        SELECT strftime(day, '%Y-%m-%d') AS day,
               v AS value_cents,
               CAST(v - greatest(saddle_l, saddle_r) AS BIGINT)
                   AS prominence_cents
        FROM saddles
        WHERE v - greatest(saddle_l, saddle_r) >= 200000000
        ORDER BY day
    """,
    description="Topographic peak prominence of the daily-revenue "
    "series (scipy.signal convention): for each strict local max, "
    "the key saddle on each side is the minimum between the peak "
    "and the nearest strictly-higher day (or series border), and "
    "prominence = peak - max(left saddle, right saddle) — the "
    "measure that separates real demand spikes from ripples riding "
    "a trend, in exact cent integers (reported at >= $2M "
    "prominence). The 100 TB design: one partial-agg shuffle to "
    "the BOUNDED day spine, then nearest-higher and interval-min "
    "lookups are non-equi self-joins of a ~2.4k-row table — "
    "constant work regardless of fact volume, the sanctioned place "
    "for quadratic spine algebra (SCALE.md).",
)
def events_peak_prominence_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(15,2)") * 100)
        .cast("long")
        .alias("v")
    )
    # bounded day spine: ordered windows OK
    w = Window.orderBy("day")
    spine = daily.select(
        "day", "v", F.row_number().over(w).cast("long").alias("i")
    ).localCheckpoint(eager=False)  # reused by peaks + two joins
    nn = spine.agg(F.count(F.lit(1)).cast("long").alias("n"))
    wi = Window.orderBy("i")
    peaks = (
        spine.select(
            "day",
            "v",
            "i",
            F.lag("v").over(wi).alias("pv"),
            F.lead("v").over(wi).alias("nv"),
        )
        .where(
            F.col("pv").isNotNull()
            & F.col("nv").isNotNull()
            & (F.col("v") > F.col("pv"))
            & (F.col("v") > F.col("nv"))
        )
        .select(
            F.col("day").alias("p_day"),
            F.col("v").alias("p_v"),
            F.col("i").alias("p_i"),
        )
    )
    s = spine.select(
        F.col("i").alias("s_i"), F.col("v").alias("s_v")
    )
    brackets = (
        peaks.crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(s))
        .groupBy("p_day", "p_v", "p_i", "n")
        .agg(
            F.coalesce(
                F.max(
                    F.when(
                        (F.col("s_i") < F.col("p_i"))
                        & (F.col("s_v") > F.col("p_v")),
                        F.col("s_i"),
                    )
                ),
                F.lit(0),
            ).alias("li"),
            F.coalesce(
                F.min(
                    F.when(
                        (F.col("s_i") > F.col("p_i"))
                        & (F.col("s_v") > F.col("p_v")),
                        F.col("s_i"),
                    )
                ),
                F.col("n") + 1,
            ).alias("ri"),
        )
    )
    saddles = (
        brackets.crossJoin(s)
        .groupBy("p_day", "p_v", "p_i")
        .agg(
            F.min(
                F.when(
                    (F.col("s_i") > F.col("li"))
                    & (F.col("s_i") < F.col("p_i")),
                    F.col("s_v"),
                )
            ).alias("saddle_l"),
            F.min(
                F.when(
                    (F.col("s_i") > F.col("p_i"))
                    & (F.col("s_i") < F.col("ri")),
                    F.col("s_v"),
                )
            ).alias("saddle_r"),
        )
    )
    return (
        saddles.select(
            F.date_format("p_day", "yyyy-MM-dd").alias("day"),
            F.col("p_v").alias("value_cents"),
            (F.col("p_v") - F.greatest("saddle_l", "saddle_r"))
            .cast("long")
            .alias("prominence_cents"),
        )
        .where(F.col("prominence_cents") >= 200000000)
        .orderBy("day")
    )


# ------------------------------------------- Misra-Gries replay


def _mg_next(col: str) -> str:
    """SQL transition for one state column under event e (=g.et)."""
    # state: k1,c1,k2,c2; deterministic slot rule:
    # match k1 -> c1++; match k2 -> c2++; c1=0 -> replace slot1;
    # c2=0 -> replace slot2; else decrement both.
    m = {
        "k1": """CASE WHEN g.et = s.k1 THEN s.k1
                      WHEN g.et = s.k2 THEN s.k1
                      WHEN s.c1 = 0 THEN g.et
                      ELSE s.k1 END""",
        "c1": """CASE WHEN g.et = s.k1 THEN s.c1 + 1
                      WHEN g.et = s.k2 THEN s.c1
                      WHEN s.c1 = 0 THEN 1
                      WHEN s.c2 = 0 THEN s.c1
                      ELSE s.c1 - 1 END""",
        "k2": """CASE WHEN g.et = s.k1 THEN s.k2
                      WHEN g.et = s.k2 THEN s.k2
                      WHEN s.c1 = 0 THEN s.k2
                      WHEN s.c2 = 0 THEN g.et
                      ELSE s.k2 END""",
        "c2": """CASE WHEN g.et = s.k1 THEN s.c2
                      WHEN g.et = s.k2 THEN s.c2 + 1
                      WHEN s.c1 = 0 THEN s.c2
                      WHEN s.c2 = 0 THEN 1
                      ELSE s.c2 - 1 END""",
    }
    return m[col]


@query(
    "events_heavy_hitters_mg_replay",
    oracle=f"""
        WITH RECURSIVE ev AS (
            SELECT user_id, event_type AS et,
                   row_number() OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS rn
            FROM events
        ), sim AS (
            SELECT user_id, rn, et AS k1, CAST(1 AS BIGINT) AS c1,
                   '' AS k2, CAST(0 AS BIGINT) AS c2
            FROM ev WHERE rn = 1
            UNION ALL
            SELECT g.user_id, g.rn,
                   {_mg_next("k1")}, {_mg_next("c1")},
                   {_mg_next("k2")}, {_mg_next("c2")}
            FROM sim s JOIN ev g
              ON g.user_id = s.user_id AND g.rn = s.rn + 1
        ), final AS (
            SELECT user_id, rn, k1, c1, k2, c2,
                   row_number() OVER (
                       PARTITION BY user_id ORDER BY rn DESC
                   ) AS rr
            FROM sim
        )
        SELECT user_id,
               CAST(rn AS BIGINT) AS n_events,
               CASE WHEN c1 > c2 OR (c1 = c2 AND k1 <= k2)
                    THEN k1 ELSE k2 END AS hh1,
               CAST(greatest(c1, c2) AS BIGINT) AS hh1_count,
               CASE WHEN c1 > c2 OR (c1 = c2 AND k1 <= k2)
                    THEN k2 ELSE k1 END AS hh2,
               CAST(least(c1, c2) AS BIGINT) AS hh2_count
        FROM final WHERE rr = 1
        ORDER BY user_id
    """,
    description="Misra-Gries frequent-elements summary (k=2 "
    "counters) replayed deterministically over each user's event-"
    "type stream in (ts, event_id) order — the bounded-state sketch "
    "with the guarantee that any type exceeding 1/3 of a user's "
    "events MUST survive in a counter. The Spark side is the "
    "partition-wise keyed_pandas_scan (ONE shuffle on user_id, "
    "sequential scan per key inside mapInPandas with cross-batch "
    "group carry — the measured 10x fix over per-group "
    "applyInPandas); the DuckDB oracle replays the IDENTICAL "
    "transition function as a recursive CTE over per-user ranks, so "
    "the order-sensitive stateful operator is proven exactly, "
    "counters and all. At 100 TB: MG summaries are also mergeable "
    "across partitions (sum counters, decrement by the k+1-th "
    "largest), which is how a global heavy-hitter pass would "
    "compose from these per-key states.",
)
def events_heavy_hitters_mg_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    slim = events.select(
        "user_id", "ts", "event_id", F.col("event_type").alias("et")
    )

    def mg_scan(pdf: pd.DataFrame) -> pd.DataFrame:
        # rows arrive pre-sorted by (ts, event_id)
        k1, c1, k2, c2 = "", 0, "", 0
        n = 0
        for e in pdf["et"].tolist():
            n += 1
            if e == k1:
                c1 += 1
            elif e == k2:
                c2 += 1
            elif c1 == 0:
                k1, c1 = e, 1
            elif c2 == 0:
                k2, c2 = e, 1
            else:
                c1 -= 1
                c2 -= 1
        if c1 > c2 or (c1 == c2 and k1 <= k2):
            hh1, h1c, hh2, h2c = k1, c1, k2, c2
        else:
            hh1, h1c, hh2, h2c = k2, c2, k1, c1
        return pd.DataFrame(
            {
                "user_id": [int(pdf["user_id"].iloc[0])],
                "n_events": [n],
                "hh1": [hh1],
                "hh1_count": [h1c],
                "hh2": [hh2],
                "hh2_count": [h2c],
            }
        )

    out_schema = (
        "user_id long, n_events long, hh1 string, hh1_count long, "
        "hh2 string, hh2_count long"
    )
    return keyed_pandas_scan(
        slim, "user_id", ["ts", "event_id"], mg_scan, out_schema
    ).orderBy("user_id")
