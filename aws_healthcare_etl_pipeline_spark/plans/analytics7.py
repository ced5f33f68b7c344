"""Wave-11 analytics: time-series anomaly detection, robust grouped
statistics, customer scoring, growth rates, skyline, and skew auditing.

  anomaly_rolling_zscore     trailing-window z-score outlier flags
  weighted_median_price_per_flag  grouped weighted median via cumsum
  rfm_customer_segments      ntile-scored recency/frequency/monetary
  revenue_mom_yoy            month-over-month / year-over-year growth
  pareto_frontier_parts      2-D skyline (size vs retail price)
  skew_profile_supplier_keys join-key distribution / skew audit

Oracle conventions per plans/registry.py: exact DECIMAL sums (also
inside window frames, where per-engine summation order would
otherwise change double hashes), comparisons and rank functions over
totally-ordered keys, doubles only in final deterministic expression
trees (+,-,*,/,sqrt).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.frontier import pareto_frontier_2d
from ..sources.tables import load_table
from .registry import dec, query

ZS_WINDOW = 30  # trailing days in the anomaly baseline
ZS_MIN_OBS = 10  # minimum trailing observations before scoring
ZS_FLAG = 2.0  # |z| threshold


@query(
    "anomaly_rolling_zscore",
    oracle=f"""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS day,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2)))
                        AS DECIMAL(15,2)) AS rev
            FROM orders GROUP BY 1
        ), roll AS (
            SELECT day, rev,
                   COUNT(*) OVER w AS n_prev,
                   SUM(rev) OVER w AS s_prev,
                   SUM(CAST(rev AS DECIMAL(19,2)) * rev) OVER w AS ss_prev
            FROM daily
            WINDOW w AS (ORDER BY day
                         ROWS BETWEEN {ZS_WINDOW} PRECEDING
                                  AND 1 PRECEDING)
        ), scored AS (
            SELECT day, CAST(rev AS DOUBLE) AS revenue, n_prev,
                   (CAST(rev AS DOUBLE)
                    - CAST(s_prev AS DOUBLE) / CAST(n_prev AS DOUBLE))
                   / sqrt((CAST(CAST(ss_prev AS VARCHAR) AS DOUBLE)
                           - CAST(s_prev AS DOUBLE) * CAST(s_prev AS DOUBLE)
                             / CAST(n_prev AS DOUBLE))
                          / (CAST(n_prev AS DOUBLE) - 1.0)) AS z
            FROM roll WHERE n_prev >= {ZS_MIN_OBS}
        )
        SELECT CAST(day AS VARCHAR) AS day, revenue,
               round(z, 6) AS zscore,
               abs(z) > {ZS_FLAG} AS is_anomaly
        FROM scored ORDER BY day
    """,
    description="Rolling anomaly detection: daily revenue scored "
    "against the trailing 30-day mean/stddev (frame excludes the "
    "current row, so a spike can't mask itself), |z| > 2 flagged. "
    "Trailing moments come from exact-DECIMAL window sums of rev and "
    "rev^2 — per-engine frame summation order can't perturb the hash "
    "— and the z expression is one deterministic double tree. The "
    "window runs at day grain (bounded cardinality at any fact-table "
    "scale), so the ordered single-partition window is safe; the "
    "distributed work is the upstream daily partial aggregation.",
)
def anomaly_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(dec("o_totalprice")).cast("decimal(15,2)").alias("rev")
    )
    w = Window.orderBy("day").rowsBetween(-ZS_WINDOW, -1)
    roll = daily.select(
        "day",
        "rev",
        F.count(F.lit(1)).over(w).alias("n_prev"),
        F.sum("rev").over(w).alias("s_prev"),
        F.sum(F.col("rev") * F.col("rev")).over(w).alias("ss_prev"),
    ).filter(F.col("n_prev") >= ZS_MIN_OBS)
    n_d = F.col("n_prev").cast("double")
    s_d = F.col("s_prev").cast("double")
    ss_d = F.col("ss_prev").cast("double")
    z = (F.col("rev").cast("double") - s_d / n_d) / F.sqrt(
        (ss_d - s_d * s_d / n_d) / (n_d - F.lit(1.0))
    )
    return roll.select(
        F.col("day").cast("string").alias("day"),
        F.col("rev").cast("double").alias("revenue"),
        F.round(z, 6).alias("zscore"),
        (F.abs(z) > ZS_FLAG).alias("is_anomaly"),
    ).orderBy("day")


@query(
    "weighted_median_price_per_flag",
    oracle="""
        WITH base AS (
            SELECT l_returnflag AS flag, l_extendedprice AS price,
                   CAST(l_quantity AS DECIMAL(15,2)) AS w
            FROM lineitem
        ), cum AS (
            SELECT flag, price, w,
                   SUM(w) OVER (PARTITION BY flag
                                ORDER BY price, w
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS cw,
                   SUM(w) OVER (PARTITION BY flag) AS total_w
            FROM base
        )
        SELECT flag,
               COUNT(*) AS n_rows,
               CAST(MAX(total_w) AS DOUBLE) AS total_weight,
               MIN(CASE WHEN 2 * cw >= total_w THEN price END)
                   AS weighted_median_price
        FROM cum GROUP BY flag ORDER BY flag
    """,
    description="Grouped weighted median (quantity-weighted median "
    "line price per return flag) via the cumulative-weight "
    "formulation: sort within group, exact-DECIMAL running weight, "
    "median = first price where 2*cumsum >= total. The 2*cw >= total "
    "comparison stays in exact decimal (no division), and the sort "
    "key (price, w) is only ambiguous between equal-price rows, "
    "where any cumsum interleaving crosses the halfway point at the "
    "same price — deterministic without a unique tiebreaker. One "
    "shuffle on the group key; at scale the per-group sort is "
    "spillable and nothing crosses partitions twice.",
)
def weighted_median_price_per_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_extendedprice").alias("price"),
        dec("l_quantity").alias("w"),
    )
    cum_w = (
        Window.partitionBy("flag")
        .orderBy("price", "w")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot_w = Window.partitionBy("flag")
    cum = base.select(
        "flag",
        "price",
        F.sum("w").over(cum_w).alias("cw"),
        F.sum("w").over(tot_w).alias("total_w"),
    )
    return (
        cum.groupBy("flag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.max("total_w").cast("double").alias("total_weight"),
            F.min(
                F.when(F.lit(2) * F.col("cw") >= F.col("total_w"), F.col("price"))
            ).alias("weighted_median_price"),
        )
        .orderBy("flag")
    )


@query(
    "rfm_customer_segments",
    oracle="""
        WITH rfm AS (
            SELECT o_custkey AS c,
                   CAST(MAX(CAST(o_orderdate AS DATE))
                        - DATE '1970-01-01' AS BIGINT) AS r_days,
                   COUNT(*) AS freq,
                   SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS monetary,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) * 100
                        AS BIGINT) AS m_cents
            FROM orders GROUP BY 1
        ), cuts AS (
            SELECT quantile_cont(r_days, [0.25, 0.5, 0.75]) AS rc,
                   quantile_cont(freq,   [0.25, 0.5, 0.75]) AS fc,
                   quantile_cont(m_cents, [0.25, 0.5, 0.75]) AS mc
            FROM rfm
        ), scored AS (
            SELECT c, monetary,
                   1 + len(list_filter(rc, x -> r_days <= x)) AS r_score,
                   1 + len(list_filter(fc, x -> freq <= x)) AS f_score,
                   1 + len(list_filter(mc, x -> m_cents <= x)) AS m_score
            FROM rfm CROSS JOIN cuts
        )
        SELECT CAST(r_score AS INT) AS r_score,
               CAST(f_score AS INT) AS f_score,
               CAST(m_score AS INT) AS m_score,
               COUNT(*) AS n_customers,
               CAST(SUM(monetary) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) AS avg_monetary
        FROM scored GROUP BY 1, 2, 3
        ORDER BY 1, 2, 3
    """,
    description="RFM customer scoring: per-customer recency/frequency/"
    "monetary rollup, quartile scores via exact percentile CUTPOINTS "
    "broadcast to every customer row (score 1 = best quartile, value "
    "strictly above the p75 cutpoint) — not a global ntile(), whose "
    "unpartitioned total sort funnels every customer through one task "
    "at 100 TB. All three metrics are scored in INTEGER domains "
    "(epoch days / order count / cents), where both engines' "
    "continuous-percentile interpolation (R-7, quarter fractions) is "
    "bit-exact, so the cutpoint comparison is engine-portable with no "
    "float ambiguity. Ties share a score — deterministic without any "
    "tiebreak column. Then the 4x4x4 segment-cell census with average "
    "spend; the per-customer aggregate is the only fact-table "
    "shuffle.",
)
def rfm_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    rfm = orders.groupBy(F.col("o_custkey").alias("c")).agg(
        F.datediff(
            F.max(F.col("o_orderdate").cast("date")), F.lit("1970-01-01").cast("date")
        )
        .cast("long")
        .alias("r_days"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(dec("o_totalprice")).alias("monetary"),
        (F.sum(dec("o_totalprice")) * 100).cast("long").alias("m_cents"),
    )
    cuts = rfm.agg(
        F.expr("percentile(r_days, array(0.25D, 0.5D, 0.75D))").alias("rc"),
        F.expr("percentile(freq, array(0.25D, 0.5D, 0.75D))").alias("fc"),
        F.expr("percentile(m_cents, array(0.25D, 0.5D, 0.75D))").alias("mc"),
    )

    def score(metric: str, cut: str):
        return (
            F.size(F.filter(F.col(cut), lambda x: F.col(metric) <= x)) + 1
        ).cast("int")

    return (
        rfm.crossJoin(F.broadcast(cuts))
        .select(
            "c",
            "monetary",
            score("r_days", "rc").alias("r_score"),
            score("freq", "fc").alias("f_score"),
            score("m_cents", "mc").alias("m_score"),
        )
        .groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            # raw IEEE quotient, no round(): identical operands give
            # identical bits in both engines, while round-to-6 sits on
            # a half-way boundary for some cells and the two engines'
            # last-ulp behavior differs
            (
                F.sum("monetary").cast("double") / F.count(F.lit(1)).cast("double")
            ).alias("avg_monetary"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


@query(
    "revenue_mom_yoy",
    oracle="""
        WITH monthly AS (
            SELECT CAST(strftime(o_orderdate, '%Y-%m') AS VARCHAR) AS month,
                   COUNT(*) AS n_orders,
                   SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS rev
            FROM orders GROUP BY 1
        ), laged AS (
            SELECT month, n_orders, rev,
                   lag(rev, 1) OVER (ORDER BY month) AS prev_m,
                   lag(rev, 12) OVER (ORDER BY month) AS prev_y
            FROM monthly
        )
        SELECT month, n_orders, CAST(rev AS DOUBLE) AS revenue,
               round(CAST(rev - prev_m AS DOUBLE)
                     / CAST(prev_m AS DOUBLE), 6) AS mom_pct,
               round(CAST(rev - prev_y AS DOUBLE)
                     / CAST(prev_y AS DOUBLE), 6) AS yoy_pct
        FROM laged ORDER BY month
    """,
    description="Growth-rate report: monthly revenue with month-over-"
    "month and year-over-year percentage change via lag(1)/lag(12) "
    "over the month spine. Deltas are exact DECIMAL subtractions cast "
    "to double for one division; leading months without a comparison "
    "row surface as NULL rather than a fabricated rate. Month grain "
    "keeps the ordered window bounded regardless of fact-table size.",
)
def revenue_mom_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(dec("o_totalprice")).alias("rev"),
    )
    w = Window.orderBy("month")
    lagged = monthly.select(
        "month",
        "n_orders",
        "rev",
        F.lag("rev", 1).over(w).alias("prev_m"),
        F.lag("rev", 12).over(w).alias("prev_y"),
    )
    return lagged.select(
        "month",
        "n_orders",
        F.col("rev").cast("double").alias("revenue"),
        F.round(
            (F.col("rev") - F.col("prev_m")).cast("double")
            / F.col("prev_m").cast("double"),
            6,
        ).alias("mom_pct"),
        F.round(
            (F.col("rev") - F.col("prev_y")).cast("double")
            / F.col("prev_y").cast("double"),
            6,
        ).alias("yoy_pct"),
    ).orderBy("month")


@query(
    "pareto_frontier_parts",
    oracle="""
        WITH ranked AS (
            SELECT p_partkey, p_brand, p_size, p_retailprice,
                   MIN(p_retailprice) OVER (
                       ORDER BY p_size
                       RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) AS best_smaller,
                   MIN(p_retailprice) OVER (PARTITION BY p_size)
                       AS best_same
            FROM part
        )
        SELECT p_partkey, p_brand, p_size, p_retailprice
        FROM ranked
        WHERE (best_smaller IS NULL OR best_smaller > p_retailprice)
          AND best_same = p_retailprice
        ORDER BY p_size, p_partkey
    """,
    description="2-D Pareto frontier (skyline) over parts minimizing "
    "(size, retail price): a part survives iff no strictly smaller "
    "part is as cheap and it is the cheapest at its own size. Both "
    "domination checks come from one per-size min: its running min "
    "over the smaller sizes (a ROWS window over the distinct sizes) "
    "and the min itself, broadcast back to the parts — so the skyline "
    "needs no O(n^2) pairwise dominance join. Comparisons only, no "
    "double math.",
)
def pareto_frontier_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size", "p_retailprice"
    )
    return pareto_frontier_2d(part, x="p_size", y="p_retailprice").orderBy(
        "p_size", "p_partkey"
    )


SKEW_TOP_K = 3


@query(
    "skew_profile_supplier_keys",
    oracle=f"""
        WITH per_key AS (
            SELECT l_suppkey AS k, COUNT(*) AS cnt
            FROM lineitem GROUP BY 1
        ), stats AS (
            SELECT COUNT(*) AS n_keys,
                   CAST(SUM(cnt) AS BIGINT) AS total_rows,
                   MAX(cnt) AS max_rows_per_key
            FROM per_key
        ), top AS (
            SELECT string_agg(k || ':' || cnt, ',' ORDER BY cnt DESC, k)
                       AS heaviest_keys
            FROM (SELECT k, cnt,
                         row_number() OVER (ORDER BY cnt DESC, k) AS rn
                  FROM per_key) t
            WHERE rn <= {SKEW_TOP_K}
        )
        SELECT n_keys, total_rows, max_rows_per_key,
               round(CAST(total_rows AS DOUBLE)
                     / CAST(n_keys AS DOUBLE), 6) AS avg_rows_per_key,
               round(CAST(max_rows_per_key AS DOUBLE)
                     / (CAST(total_rows AS DOUBLE)
                        / CAST(n_keys AS DOUBLE)), 6) AS skew_ratio,
               heaviest_keys
        FROM stats CROSS JOIN top
    """,
    description="Join-key skew audit for lineitem.l_suppkey: key "
    "cardinality, max/avg rows per key, the max-to-mean skew ratio, "
    "and the top-3 heaviest keys as 'key:count'. This is the "
    "diagnostic run before choosing a join strategy at scale — a "
    "skew_ratio far above 1 is the signal to salt (operators/skew.py) "
    "or rely on AQE skew-join splitting. One map-side-combined count "
    "per key, then a tiny two-branch reduce; the heavy-hitter list is "
    "TakeOrdered-bounded (K-row heaps per task, no unpartitioned "
    "window) before any collection.",
)
def skew_profile_supplier_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    per_key = li.groupBy(F.col("l_suppkey").alias("k")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    stats = per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("cnt").cast("bigint").alias("total_rows"),
        F.max("cnt").alias("max_rows_per_key"),
    )
    # top-K via orderBy+limit (TakeOrderedAndProject — O(n) scan with
    # K-row heaps per task, r3) instead of row_number over an
    # unpartitioned window, which funneled the key-grain aggregate
    # through one task; ordering restored inside the K-row array by
    # sorting on (-cnt, k)
    top = (
        per_key.orderBy(F.desc("cnt"), F.asc("k"))
        .limit(SKEW_TOP_K)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct((-F.col("cnt")).alias("nc"), F.col("k"), F.col("cnt"))
                        )
                    ),
                    lambda s: F.concat_ws(":", s["k"], s["cnt"]),
                ),
                ",",
            ).alias("heaviest_keys")
        )
    )
    n_d = F.col("n_keys").cast("double")
    tot_d = F.col("total_rows").cast("double")
    max_d = F.col("max_rows_per_key").cast("double")
    return stats.crossJoin(top).select(
        "n_keys",
        "total_rows",
        "max_rows_per_key",
        F.round(tot_d / n_d, 6).alias("avg_rows_per_key"),
        F.round(max_d / (tot_d / n_d), 6).alias("skew_ratio"),
        "heaviest_keys",
    )
