"""Wave-186 (round 5): format-preserving masking + categorical drift.

* ``privacy_fpe_mask_audit`` — format-preserving pseudonymization,
  audited in-result: customer names mask their 9-digit payload with
  md5-derived digits (zero-padded, deterministic), and the query
  PROVES the two properties that make FPE useful — the character
  pattern survives (digits-to-9 template identical before/after,
  counted) and uniqueness survives (masked collision count emitted,
  near-zero because the hash domain matches the payload domain).

* ``audit_tv_distance_drift`` — total-variation distance between the
  1996 and 1997 order populations per categorical feature (month,
  priority, segment): TV = sum|share1 - share2| / 2 with integer
  permille shares — the PSI alternative that needs no log and no
  binning heuristics, one partial agg per feature.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import query, sql_hex8


@query(
    "privacy_fpe_mask_audit",
    oracle=rf"""
        WITH masked AS (
            SELECT c_name AS orig,
                   concat(regexp_replace(c_name, '[0-9]+', '', 'g'),
                          lpad(CAST({sql_hex8(
                              "concat('fpe:', c_name)")} % 1000000000
                               AS VARCHAR), 9, '0')) AS m
            FROM customer
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(DISTINCT orig) AS BIGINT) AS distinct_orig,
               CAST(COUNT(DISTINCT m) AS BIGINT) AS distinct_masked,
               CAST(SUM(CASE WHEN
                        regexp_replace(orig, '[0-9]', '9', 'g')
                        = regexp_replace(m, '[0-9]', '9', 'g')
                        THEN 1 ELSE 0 END) AS BIGINT)
                   AS pattern_preserved,
               CAST(COUNT(DISTINCT orig) - COUNT(DISTINCT m)
                   AS BIGINT) AS collisions
        FROM masked
    """,
    description="Format-preserving pseudonymization with its own "
    "audit: each customer name's 9-digit payload is replaced by "
    "md5-derived digits (mod 1e9, zero-padded — deterministic, "
    "key-free for the fixture), and the result PROVES the two FPE "
    "contracts — the digits-to-9 character template is identical "
    "before and after for every row (pattern_preserved = n_rows), "
    "and uniqueness survives up to hash collisions (collision count "
    "emitted, ~n^2/2e9 expected). 100 TB shape: pure per-row string "
    "ops + two distinct-count shuffles; the masking a privacy team "
    "can ship because the audit rides along in the same pass.",
)
def privacy_fpe_mask_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    masked = cust.selectExpr(
        "c_name AS orig",
        "concat(regexp_replace(c_name, '[0-9]+', ''),"
        " lpad(CAST(CAST(conv(substring(md5(concat('fpe:', c_name)),"
        " 1, 8), 16, 10) AS BIGINT) % 1000000000 AS STRING), 9, '0'))"
        " AS m",
    )
    return masked.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.countDistinct("orig").cast("long").alias("distinct_orig"),
        F.countDistinct("m").cast("long").alias("distinct_masked"),
        F.sum(
            F.when(
                F.expr(
                    "regexp_replace(orig, '[0-9]', '9')"
                    " = regexp_replace(m, '[0-9]', '9')"
                ),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("pattern_preserved"),
        (F.countDistinct("orig") - F.countDistinct("m"))
        .cast("long")
        .alias("collisions"),
    )


_TV_Y1, _TV_Y2 = 1996, 1997

_TV_FEATURES = {
    "month": "CAST(EXTRACT(month FROM o_orderdate) AS VARCHAR)",
    "priority": "o_orderpriority",
}
_TV_FEATURES_SPARK = {
    "month": "CAST(month(o_orderdate) AS STRING)",
    "priority": "o_orderpriority",
}


@query(
    "audit_tv_distance_drift",
    oracle=f"""
        WITH base AS MATERIALIZED (
            SELECT o_orderdate, o_orderpriority,
                   EXTRACT(year FROM o_orderdate) AS yr
            FROM orders
            WHERE EXTRACT(year FROM o_orderdate)
                  IN ({_TV_Y1}, {_TV_Y2})
        ), feats AS (
            {" UNION ALL ".join(
                f"SELECT '{name}' AS feature, {expr} AS val, yr"
                f" FROM base"
                for name, expr in _TV_FEATURES.items())}
        ), counts AS (
            SELECT feature, val,
                   CAST(SUM(CASE WHEN yr = {_TV_Y1} THEN 1 ELSE 0 END)
                       AS BIGINT) AS c1,
                   CAST(SUM(CASE WHEN yr = {_TV_Y2} THEN 1 ELSE 0 END)
                       AS BIGINT) AS c2
            FROM feats GROUP BY feature, val
        ), tots AS (
            SELECT feature,
                   CAST(SUM(c1) AS BIGINT) AS n1,
                   CAST(SUM(c2) AS BIGINT) AS n2
            FROM counts GROUP BY feature
        )
        SELECT c.feature, t.n1, t.n2,
               CAST(COUNT(*) AS BIGINT) AS n_categories,
               CAST(SUM(ABS(c.c1 * 1000000 // t.n1
                            - c.c2 * 1000000 // t.n2)) // 2000
                   AS BIGINT) AS tv_permille
        FROM counts c JOIN tots t ON t.feature = c.feature
        GROUP BY c.feature, t.n1, t.n2
        ORDER BY c.feature
    """,
    description="Total-variation drift between the 1996 and 1997 "
    "order populations per categorical feature (order month, order "
    "priority): TV = sum|share1 - share2| div 2 with shares "
    "quantized to integer ppm before differencing (identical "
    "truncation both engines), permille output — the PSI "
    "alternative that needs no logarithm, no epsilon, and no "
    "binning heuristic, with the exact interpretation 'fraction of "
    "the population that changed category'. 100 TB shape: one "
    "filtered scan (the year predicate reaches parquet), one "
    "(feature, category) partial agg on a bounded domain, bounded "
    "share arithmetic — the model-retraining tripwire per feature.",
)
def audit_tv_distance_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    base = orders.where(
        F.year("o_orderdate").isin(_TV_Y1, _TV_Y2)
    ).selectExpr(
        "o_orderdate", "o_orderpriority", "year(o_orderdate) AS yr"
    ).localCheckpoint(eager=False)  # feeds every feature lane
    lanes = []
    for name, expr in _TV_FEATURES_SPARK.items():
        lanes.append(
            base.selectExpr(
                f"'{name}' AS feature", f"{expr} AS val", "yr"
            )
        )
    feats = lanes[0]
    for ln in lanes[1:]:
        feats = feats.unionAll(ln)
    counts = feats.groupBy("feature", "val").agg(
        F.sum(F.when(F.col("yr") == _TV_Y1, 1).otherwise(0))
        .cast("long")
        .alias("c1"),
        F.sum(F.when(F.col("yr") == _TV_Y2, 1).otherwise(0))
        .cast("long")
        .alias("c2"),
    )
    tots = counts.groupBy("feature").agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
    )
    return (
        counts.join(F.broadcast(tots), "feature")
        .groupBy("feature")
        .agg(
            F.max("n1").cast("long").alias("n1"),
            F.max("n2").cast("long").alias("n2"),
            F.count(F.lit(1)).cast("long").alias("n_categories"),
            F.expr(
                "CAST(SUM(ABS(c1 * 1000000 div n1"
                " - c2 * 1000000 div n2)) div 2000 AS BIGINT)"
            ).alias("tv_permille"),
        )
        .orderBy("feature")
    )
