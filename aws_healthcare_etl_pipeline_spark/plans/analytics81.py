"""Wave-107 (round 5): sketch-accuracy + optimizer-statistics audits.

* ``approx_cms_count_estimates`` — a Count-Min Sketch (width 512 x
  depth 4, md5-derived row hashes) built over per-user event counts,
  then audited against the exact counts it summarizes: how many keys
  come back exact, the total/max overestimate (CMS never
  underestimates), and how many keys violate the textbook 2N/W
  Markov bound per row. The sketch IS the 100 TB plan — 2048 cells
  summarize any number of keys and merge by cell-wise addition
  across partitions/days — and this query measures the price.
* ``stats_ndv_correlation_audit`` — the optimizer-statistics audit:
  for six column pairs, compare the independence-assumption
  cardinality estimate min(ndv(a) * ndv(b), n) against the true
  distinct pair count. The ratio is exactly the correction factor a
  cost-based optimizer needs for GROUP BY / join output sizing;
  pairs at 1000 permille are independent, pairs far below are
  correlated and will blow up plans sized by the product rule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import hex8, query, sql_hex8

# ------------------------------------------------ count-min sketch

_CMS_W = 512  # cells per row
_CMS_D = 4  # independent rows


@query(
    "approx_cms_count_estimates",
    oracle=f"""
        WITH exact AS (
            SELECT user_id AS k, CAST(COUNT(*) AS BIGINT) AS c
            FROM events GROUP BY user_id
        ), keypos AS (
            {" UNION ALL ".join(
                f"SELECT k, c, {d} AS d, "
                f"({sql_hex8(chr(39) + f'cms{d}:' + chr(39) + ' || CAST(k AS VARCHAR)')}) % {_CMS_W} AS pos "
                "FROM exact"
                for d in range(_CMS_D)
            )}
        ), cells AS (
            SELECT d, pos, CAST(SUM(c) AS BIGINT) AS cell
            FROM keypos GROUP BY d, pos
        ), est AS (
            SELECT kp.k, MIN(kp.c) AS c, MIN(cl.cell) AS est
            FROM keypos kp JOIN cells cl ON cl.d = kp.d AND cl.pos = kp.pos
            GROUP BY kp.k
        ), tot AS (
            SELECT CAST(SUM(c) AS BIGINT) AS n_events FROM exact
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
               MIN(t.n_events) AS n_events,
               CAST(SUM(CASE WHEN e.est = e.c THEN 1 ELSE 0 END) AS BIGINT)
                   AS keys_exact,
               CAST(SUM(e.est - e.c) AS BIGINT) AS over_total,
               CAST(MAX(e.est - e.c) AS BIGINT) AS over_max,
               CAST(SUM(CASE WHEN (e.est - e.c) * {_CMS_W} > 2 * t.n_events
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS bound_violations
        FROM est e CROSS JOIN tot t
    """,
    description="Count-Min Sketch accuracy audit: per-user event "
    "counts pushed through a width-512 x depth-4 CMS (row hashes = "
    "md5-derived, identical in both engines), estimates read back as "
    "the min over the 4 rows, and compared against the exact counts "
    "— keys answered exactly, total and max overestimate (CMS is "
    "one-sided), and violations of the per-row Markov bound "
    "overestimate <= 2N/W. The sketch is the mergeable 100 TB "
    "structure (2048 int64 cells, cell-wise addition across "
    "partitions and time-slices replaces a giant groupBy); the audit "
    "quantifies what that compression costs on a real key "
    "distribution. Scale: one key-grain aggregate, a 4x key-grain "
    "projection, a 2048-row cell table broadcast back — no shuffle "
    "touches event grain twice.",
)
def approx_cms_count_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    exact = events.groupBy(F.col("user_id").alias("k")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    keypos = None
    for d in range(_CMS_D):
        part = exact.select(
            "k",
            "c",
            F.lit(d).alias("d"),
            (
                hex8(F.concat(F.lit(f"cms{d}:"), F.col("k").cast("string")))
                % _CMS_W
            ).alias("pos"),
        )
        keypos = part if keypos is None else keypos.unionAll(part)
    keypos = keypos.localCheckpoint(eager=False)  # feeds cells AND est
    cells = keypos.groupBy("d", "pos").agg(
        F.sum("c").cast("long").alias("cell")
    )
    est = (
        keypos.join(F.broadcast(cells), ["d", "pos"])
        .groupBy("k")
        .agg(F.min("c").alias("c"), F.min("cell").alias("est"))
    )
    tot = exact.agg(F.sum("c").cast("long").alias("n_events"))
    return est.crossJoin(F.broadcast(tot)).agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.min("n_events").alias("n_events"),
        F.sum(F.when(F.col("est") == F.col("c"), 1).otherwise(0))
        .cast("long")
        .alias("keys_exact"),
        F.sum(F.col("est") - F.col("c")).cast("long").alias("over_total"),
        F.max(F.col("est") - F.col("c")).cast("long").alias("over_max"),
        F.sum(
            F.when(
                (F.col("est") - F.col("c")) * _CMS_W
                > 2 * F.col("n_events"),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("bound_violations"),
    )


# ------------------------------------------- NDV correlation audit

_NDV_PAIRS = (
    ("lineitem", "l_partkey", "l_suppkey"),
    ("lineitem", "l_returnflag", "l_linestatus"),
    ("lineitem", "l_suppkey", "l_returnflag"),
    ("orders", "o_orderstatus", "o_orderpriority"),
    ("orders", "o_custkey", "o_orderpriority"),
    ("customer", "c_nationkey", "c_mktsegment"),
)


def _ndv_oracle() -> str:
    parts = []
    for tbl, a, b in _NDV_PAIRS:
        parts.append(f"""
            SELECT '{tbl}' AS tbl, '{a}' AS col_a, '{b}' AS col_b,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM {tbl}) AS n_rows,
                   (SELECT CAST(COUNT(DISTINCT {a}) AS BIGINT) FROM {tbl})
                       AS ndv_a,
                   (SELECT CAST(COUNT(DISTINCT {b}) AS BIGINT) FROM {tbl})
                       AS ndv_b,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM
                       (SELECT DISTINCT {a}, {b} FROM {tbl})) AS ndv_pair
        """)
    body = " UNION ALL ".join(parts)
    return f"""
        WITH raw AS ({body})
        SELECT tbl, col_a, col_b, n_rows, ndv_a, ndv_b, ndv_pair,
               CAST(LEAST(ndv_a * ndv_b, n_rows) AS BIGINT)
                   AS est_independent,
               CAST((ndv_pair * 1000)
                    // LEAST(ndv_a * ndv_b, n_rows) AS BIGINT)
                   AS ratio_permille
        FROM raw
        ORDER BY tbl, col_a, col_b
    """


@query(
    "stats_ndv_correlation_audit",
    oracle=_ndv_oracle(),
    description="Optimizer-statistics audit over six column pairs: "
    "the independence-assumption cardinality estimate "
    "min(ndv(a) * ndv(b), n) versus the TRUE distinct pair count, "
    "with the correction factor in permille. This is precisely the "
    "number a cost-based optimizer is missing when it sizes a "
    "GROUP BY or join output by the product rule — pairs near 1000 "
    "are safely independent, pairs far below (status x priority, "
    "nation x segment) are correlated and the product rule "
    "over-allocates shuffle partitions by that factor. At 100 TB "
    "each pair is one pass with partial aggregation (exact here to "
    "make the audit a ground truth; production would swap the "
    "distinct aggregates for the mergeable HLL variant this repo "
    "also ships). Scale: per-pair shuffles are on the distinct key "
    "domains, never row grain twice; six scalar rows out.",
)
def stats_ndv_correlation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = None
    for tbl, a, b in _NDV_PAIRS:
        t = load_table(spark, sf_dir, tbl)
        row = t.agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct(a).cast("long").alias("ndv_a"),
            F.countDistinct(b).cast("long").alias("ndv_b"),
            F.countDistinct(a, b).cast("long").alias("ndv_pair"),
        ).select(
            F.lit(tbl).alias("tbl"),
            F.lit(a).alias("col_a"),
            F.lit(b).alias("col_b"),
            "n_rows",
            "ndv_a",
            "ndv_b",
            "ndv_pair",
        )
        out = row if out is None else out.unionAll(row)
    est = F.least(
        F.col("ndv_a") * F.col("ndv_b"), F.col("n_rows")
    ).cast("long")
    return out.select(
        "tbl",
        "col_a",
        "col_b",
        "n_rows",
        "ndv_a",
        "ndv_b",
        "ndv_pair",
        est.alias("est_independent"),
        F.expr(
            "CAST((ndv_pair * 1000) div least(ndv_a * ndv_b, n_rows)"
            " AS LONG)"
        ).alias("ratio_permille"),
    ).orderBy("tbl", "col_a", "col_b")
