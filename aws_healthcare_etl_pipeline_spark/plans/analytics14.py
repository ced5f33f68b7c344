"""Wave-20: multi-touch attribution with exact money splitting,
rolling exact medians, recursive-hierarchy closure (DataFrame
iteration vs a WITH RECURSIVE oracle), and compaction maintenance.

The attribution and closure queries are the interesting oracle cases:
- attribution divides purchase cents across clicks with
  floor-div + largest-remainder, so credit is INTEGER-exact and
  conserves the total by construction (no float division anywhere);
- Spark has no recursive CTE, so the closure is a bounded iterative
  union of self-joins — the oracle IS DuckDB's WITH RECURSIVE,
  pinning the semantics Spark users usually emulate exactly this way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import dec, dsum, query, scratch

ATTR_WINDOW_DAYS = 3


@query(
    "attribution_linear_multitouch",
    oracle=f"""
        WITH purchases AS (
            SELECT event_id AS p_id, user_id, ts AS p_ts,
                   CAST(CAST(value AS DECIMAL(15,2)) * 100 AS BIGINT) AS cents
            FROM events WHERE event_type = 'purchase'
        ), clicks AS (
            SELECT event_id AS c_id, user_id, ts AS c_ts
            FROM events WHERE event_type = 'click'
        ), touched AS (
            SELECT p.p_id, p.user_id, p.cents, c.c_id,
                   row_number() OVER (PARTITION BY p.p_id
                                      ORDER BY c.c_ts, c.c_id) AS click_rank,
                   COUNT(*) OVER (PARTITION BY p.p_id) AS n_clicks
            FROM purchases p
            JOIN clicks c
              ON c.user_id = p.user_id
             AND c.c_ts <= p.p_ts
             AND c.c_ts > p.p_ts - INTERVAL {ATTR_WINDOW_DAYS} DAY
        ), credited AS (
            SELECT user_id, p_id, c_id,
                   cents // n_clicks
                   + CASE WHEN click_rank <= cents % n_clicks
                          THEN 1 ELSE 0 END AS credit_cents
            FROM touched
        )
        SELECT user_id,
               CAST(COUNT(DISTINCT p_id) AS BIGINT) AS n_attributed_purchases,
               CAST(COUNT(*) AS BIGINT) AS n_credited_clicks,
               CAST(SUM(credit_cents) AS BIGINT) AS total_credit_cents,
               CAST(MAX(credit_cents) AS BIGINT) AS max_click_credit_cents
        FROM credited
        GROUP BY user_id
        ORDER BY user_id
    """,
    description="Linear multi-touch attribution: each purchase's value "
    "(in integer cents) splits equally across the user's clicks in "
    "the preceding 3 days; floor-division remainders go to the "
    "EARLIEST clicks (largest-remainder, deterministic (ts, id) "
    "order), so per-purchase credit conserves the total exactly — no "
    "float division. The click-to-purchase match is a per-user range "
    "join; at scale both sides hash-partition on user_id and the "
    "interval predicate evaluates map-side after the equi-join.",
)
def attribution_linear_multitouch(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
        (dec("value") * 100).cast("long").alias("cents"),
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    touched = purchases.join(
        clicks,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") > F.col("p_ts") - F.expr(f"INTERVAL {ATTR_WINDOW_DAYS} DAYS")),
    ).select(
        "p_id",
        "user_id",
        "cents",
        "c_id",
        F.row_number()
        .over(Window.partitionBy("p_id").orderBy("c_ts", "c_id"))
        .alias("click_rank"),
        F.count(F.lit(1)).over(Window.partitionBy("p_id")).alias("n_clicks"),
    )
    credited = touched.select(
        "user_id",
        "p_id",
        "c_id",
        (
            F.expr("cents div n_clicks")
            + F.when(F.col("click_rank") <= F.col("cents") % F.col("n_clicks"), 1)
            .otherwise(0)
        ).alias("credit_cents"),
    )
    return (
        credited.groupBy("user_id")
        .agg(
            F.count_distinct("p_id").alias("n_attributed_purchases"),
            F.count(F.lit(1)).alias("n_credited_clicks"),
            F.sum("credit_cents").alias("total_credit_cents"),
            F.max("credit_cents").alias("max_click_credit_cents"),
        )
        .orderBy("user_id")
    )


@query(
    "rolling_median_weekly",
    oracle="""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS d,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE)
                       AS rev
            FROM orders
            WHERE o_orderdate < TIMESTAMP '1995-07-01 00:00:00'
            GROUP BY 1
        )
        SELECT d::TIMESTAMP AS d, rev,
               median(rev) OVER (ORDER BY d
                                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
                   AS med7
        FROM daily
        ORDER BY d
    """,
    description="Rolling EXACT median (7-row trailing window) over the "
    "daily revenue series — robust smoothing that percentile sketches "
    "approximate; here the window is small so the exact sort-based "
    "median is the right tool. PRECONDITION for oracle exactness: the "
    "inputs are cent-exact doubles well under 2^53, where DuckDB's "
    "even-frame (a+b)/2 and Spark's a+(b-a)*0.5 both evaluate exactly "
    "and agree; on arbitrary doubles the two formulas can differ by "
    "1 ulp, so this pattern must not be reused on non-decimal-backed "
    "series without an explicit shared midpoint expression. At scale "
    "the series is per-key (partitionBy) and the frame stays "
    "constant-size, so state per window is O(7).",
)
def rolling_median_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-07-01").cast("timestamp")
    )
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        dsum("o_totalprice").alias("rev")
    )
    w = Window.orderBy("d").rowsBetween(-6, 0)
    return (
        daily.select(
            F.col("d").cast("timestamp").alias("d"),
            "rev",
            F.expr("percentile(rev, 0.5)").over(w).alias("med7"),
        )
        .orderBy("d")
    )


CLOSURE_MAX_KEY = 5000


@query(
    "hierarchy_transitive_closure",
    oracle=f"""
        WITH RECURSIVE nodes AS (
            SELECT DISTINCT c_custkey AS node FROM customer
            WHERE c_custkey < {CLOSURE_MAX_KEY}
        ), anc AS (
            SELECT node, node // 10 AS ancestor, 1 AS depth
            FROM nodes WHERE node >= 10
            UNION ALL
            SELECT a.node, a.ancestor // 10, a.depth + 1
            FROM anc a WHERE a.ancestor >= 10
        )
        SELECT CAST(depth AS INT) AS depth,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(node) AS BIGINT) AS sum_nodes,
               CAST(SUM(ancestor) AS BIGINT) AS sum_ancestors
        FROM anc
        GROUP BY depth
        ORDER BY depth
    """,
    description="Transitive closure of a synthetic hierarchy "
    "(parent(n) = n div 10 — a forest of digit-prefix trees over "
    "custkeys): Spark has no WITH RECURSIVE, so ancestors accumulate "
    "through a bounded iterative self-join (depth <= digits of the "
    "max key, known a priori — the loop is driver-side plan "
    "construction, all data stays distributed). The oracle IS the "
    "recursive CTE, pinning that the iterative-union emulation "
    "matches real recursion level by level.",
)
def hierarchy_transitive_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < CLOSURE_MAX_KEY)
        .select(F.col("c_custkey").alias("node"))
        .distinct()
    )
    frontier = nodes.filter(F.col("node") >= 10).select(
        "node",
        F.expr("node div 10").alias("ancestor"),
        F.lit(1).alias("depth"),
    )
    levels = [frontier]
    # bounded: max depth = digits(CLOSURE_MAX_KEY) - 1
    max_depth = len(str(CLOSURE_MAX_KEY - 1)) - 1
    for _ in range(max_depth - 1):
        frontier = frontier.filter(F.col("ancestor") >= 10).select(
            "node",
            F.expr("ancestor div 10").alias("ancestor"),
            (F.col("depth") + 1).alias("depth"),
        )
        levels.append(frontier)
    anc = levels[0]
    for lv in levels[1:]:
        anc = anc.unionByName(lv)
    return (
        anc.groupBy(F.col("depth").cast("int").alias("depth"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("node").alias("sum_nodes"),
            F.sum("ancestor").alias("sum_ancestors"),
        )
        .orderBy("depth")
    )


@query(
    "maintenance_compact_files",
    oracle="""
        SELECT 64 AS files_before,
               4 AS files_after,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE)
                   AS revenue
        FROM orders
    """,
    description="Small-file compaction round-trip "
    "(operators/compaction.py): orders is written deliberately "
    "fragmented (64 files), compacted to 4, and the query proves "
    "file counts moved as commanded AND content survived bit-exactly "
    "(row count + exact-decimal revenue vs the raw table). The "
    "operator sizes by ACTUAL directory bytes for the default path "
    "(tests cover it); the query pins an explicit n_files instance "
    "so the oracle is deterministic under compression variance.",
)
def maintenance_compact_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.compaction import compact_parquet_dir, data_file_count

    orders = load_table(spark, sf_dir, "orders")
    base = scratch(prefix="compact_")
    src, dst = f"{base}/fragmented", f"{base}/compacted"
    orders.repartition(64).write.mode("overwrite").parquet(src)
    compact_parquet_dir(spark, src, dst, n_files=4)
    before = data_file_count(src)
    after = data_file_count(dst)
    return (
        spark.read.parquet(dst)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(dec("o_totalprice")).cast("double").alias("revenue"),
        )
        .select(
            F.lit(before).alias("files_before"),
            F.lit(after).alias("files_after"),
            "n_rows",
            "revenue",
        )
    )
