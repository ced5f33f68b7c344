"""Wave-168 (round 5): NULL-ordering portability + security analytics.

* ``sql_null_ordering_battery`` — the cross-engine trap this repo's
  oracle protocol exists to catch: Spark sorts NULLS FIRST by default
  on ASC, DuckDB sorts NULLS LAST. This battery pins all four
  EXPLICIT orderings (ASC/DESC x NULLS FIRST/LAST) on a fixed-size
  eval panel (the mod = greatest(1, n div TARGET) idiom) and emits
  per-ordering null-rank diagnostics — so the equality of hashes IS
  the proof that explicit NULLS clauses behave identically.

* ``sec_impossible_travel_audit`` — the classic account-security
  detector: consecutive events of the same user whose implied speed
  (lattice distance over time gap) exceeds a threshold. The speed
  test is the division-free cross-multiplication d2 * 1e12 >
  C^2 * dt_us^2 in DECIMAL(38)/HUGEINT, so zero-gap pairs (infinite
  speed) and day-long gaps are both exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import hex8, query, sql_hex8

_NULL_PANEL = 500

_ORDERINGS: list[tuple[str, str]] = [
    ("asc_nulls_first", "v ASC NULLS FIRST"),
    ("asc_nulls_last", "v ASC NULLS LAST"),
    ("desc_nulls_first", "v DESC NULLS FIRST"),
    ("desc_nulls_last", "v DESC NULLS LAST"),
]


def _rank_exprs() -> list[str]:
    return [
        f"ROW_NUMBER() OVER (ORDER BY {spec}, ck) AS rn_{tag}"
        for tag, spec in _ORDERINGS
    ]


@query(
    "sql_null_ordering_battery",
    oracle=f"""
        WITH sized AS (
            SELECT c_custkey AS ck,
                   CASE WHEN c_custkey % 7 = 0 THEN NULL
                        ELSE CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100
                                  AS BIGINT) END AS v,
                   GREATEST(1, (SELECT COUNT(*) FROM customer)
                               // {_NULL_PANEL}) AS m
            FROM customer
        ), panel AS (
            SELECT ck, v FROM sized WHERE ck % m = 0
        ), ranked AS (
            SELECT ck, v, {", ".join(_rank_exprs())}
            FROM panel
        )
        SELECT tag,
               CAST(COUNT(CASE WHEN v IS NULL THEN 1 END) AS BIGINT)
                   AS n_nulls,
               CAST(MIN(CASE WHEN v IS NULL THEN rn END) AS BIGINT)
                   AS first_null_rank,
               CAST(MAX(CASE WHEN v IS NULL THEN rn END) AS BIGINT)
                   AS last_null_rank,
               CAST(SUM(CASE WHEN v IS NULL THEN rn ELSE 0 END)
                   AS BIGINT) AS null_rank_sum
        FROM (
            {" UNION ALL ".join(
                f"SELECT '{tag}' AS tag, v, rn_{tag} AS rn FROM ranked"
                for tag, _ in _ORDERINGS)}
        )
        GROUP BY tag
        ORDER BY tag
    """,
    description="NULL-ordering portability battery: Spark defaults "
    "to NULLS FIRST on ASC, DuckDB to NULLS LAST — the silent killer "
    "of any cross-engine ranking. All four EXPLICIT orderings "
    "(ASC/DESC x NULLS FIRST/LAST) are ranked on a fixed-size eval "
    "panel (mod = greatest(1, n div 500), so the panel — and the "
    "only unpartitioned windows — stay ~500 rows at ANY scale) and "
    "each ordering reports first/last null rank and the null rank-"
    "sum checksum. The hash match IS the proof that explicit NULLS "
    "clauses pin identical semantics in both engines. 100 TB shape: "
    "panel selection is one filter on a broadcast count; window "
    "input is constant-size by construction.",
)
def sql_null_ordering_battery(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    tot = cust.agg(
        F.expr(
            f"GREATEST(1, COUNT(*) div {_NULL_PANEL})"
        ).alias("m")
    )
    panel = (
        cust.crossJoin(F.broadcast(tot))
        .where(F.expr("c_custkey % m = 0"))
        .selectExpr(
            "c_custkey AS ck",
            "CASE WHEN c_custkey % 7 = 0 THEN NULL"
            " ELSE CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100"
            " AS BIGINT) END AS v",
        )
    )
    ranked = panel.selectExpr("ck", "v", *_rank_exprs())
    stacked = ranked.selectExpr(
        "v",
        "stack("
        + str(len(_ORDERINGS))
        + ", "
        + ", ".join(f"'{tag}', rn_{tag}" for tag, _ in _ORDERINGS)
        + ") AS (tag, rn)",
    )
    return (
        stacked.groupBy("tag")
        .agg(
            F.count(F.when(F.col("v").isNull(), 1))
            .cast("long")
            .alias("n_nulls"),
            F.min(F.when(F.col("v").isNull(), F.col("rn")))
            .cast("long")
            .alias("first_null_rank"),
            F.max(F.when(F.col("v").isNull(), F.col("rn")))
            .cast("long")
            .alias("last_null_rank"),
            F.sum(
                F.when(F.col("v").isNull(), F.col("rn")).otherwise(0)
            )
            .cast("long")
            .alias("null_rank_sum"),
        )
        .orderBy("tag")
    )


_IT_GRID = 1024  # lattice for event locations
_IT_SPEED = 1  # threshold: 1 lattice unit per second


@query(
    "sec_impossible_travel_audit",
    oracle=f"""
        WITH pts AS (
            SELECT user_id, event_type, epoch_us(ts) AS ts_us,
                   event_id,
                   {sql_hex8(
                       "concat('itx:', CAST(event_id AS VARCHAR))")}
                       % {_IT_GRID} AS x,
                   {sql_hex8(
                       "concat('ity:', CAST(event_id AS VARCHAR))")}
                       % {_IT_GRID} AS y
            FROM events
        ), hops AS (
            SELECT event_type,
                   (x - LAG(x) OVER w) * (x - LAG(x) OVER w)
                   + (y - LAG(y) OVER w) * (y - LAG(y) OVER w) AS d2,
                   ts_us - LAG(ts_us) OVER w AS dt_us
            FROM pts
            WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_hops,
               CAST(SUM(CASE WHEN CAST(d2 AS HUGEINT) * 1000000000000
                        > {_IT_SPEED * _IT_SPEED}
                          * CAST(dt_us AS HUGEINT) * dt_us
                        THEN 1 ELSE 0 END) AS BIGINT) AS violations,
               CAST(SUM(CASE WHEN CAST(d2 AS HUGEINT) * 1000000000000
                        > {_IT_SPEED * _IT_SPEED}
                          * CAST(dt_us AS HUGEINT) * dt_us
                        THEN 1 ELSE 0 END) * 1000 // COUNT(*)
                   AS BIGINT) AS violation_permille
        FROM hops
        WHERE d2 IS NOT NULL
        GROUP BY event_type
        ORDER BY event_type
    """,
    description="Impossible-travel detector, the account-takeover "
    "primitive: consecutive events of the same user whose implied "
    "speed exceeds 1 lattice-unit/second, tested WITHOUT division "
    "via d2 * 1e12 > C^2 * dt_us^2 in DECIMAL(38)/HUGEINT — so "
    "zero-gap pairs (infinite speed) are violations by algebra, not "
    "by special case, and day-long gaps can't overflow. Locations "
    "are md5-derived lattice points per event (deterministic "
    "geometry idiom); grouped by the hop's event type. 100 TB "
    "shape: one partitioned window per user (no global sort), pure "
    "per-row integer algebra, one partial-agg rollup — the "
    "session-security sweep that runs on every login table.",
)
def sec_impossible_travel_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql.window import Window

    events = load_table(spark, sf_dir, "events")
    pts = events.select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        (
            hex8(F.concat(F.lit("itx:"), F.col("event_id").cast("string")))
            % _IT_GRID
        ).alias("x"),
        (
            hex8(F.concat(F.lit("ity:"), F.col("event_id").cast("string")))
            % _IT_GRID
        ).alias("y"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    hops = pts.select(
        "event_type",
        (
            (F.col("x") - F.lag("x").over(w))
            * (F.col("x") - F.lag("x").over(w))
            + (F.col("y") - F.lag("y").over(w))
            * (F.col("y") - F.lag("y").over(w))
        ).alias("d2"),
        (F.col("ts_us") - F.lag("ts_us").over(w)).alias("dt_us"),
    ).where(F.col("d2").isNotNull())
    viol = (
        f"CASE WHEN CAST(d2 AS DECIMAL(38,0)) * 1000000000000"
        f" > {_IT_SPEED * _IT_SPEED}"
        f" * CAST(dt_us AS DECIMAL(38,0)) * dt_us"
        f" THEN 1 ELSE 0 END"
    )
    return (
        hops.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hops"),
            F.expr(f"SUM({viol})").cast("long").alias("violations"),
            F.expr(
                f"CAST(SUM({viol}) * 1000 div COUNT(*) AS BIGINT)"
            ).alias("violation_permille"),
        )
        .orderBy("event_type")
    )
