"""Wave-137 (round 5): reciprocal rank fusion + sort-order RLE
bake-off.

* ``search_rrf_rank_fusion`` — the hybrid-search standard:
  reciprocal rank fusion score(p) = sum_r 1/(60 + rank_r(p)) over
  a revenue ranker and a quantity ranker. Competition ranks come
  from value histograms (rank = 1 + #strictly-greater, ties share
  — no global sort), each reciprocal term is micro-quantized by
  exact integer division (documented), and the fused top-20 is
  deterministic. This is how production fuses BM25 with vector
  scores — demonstrated on rankers the oracle can recompute
  exactly.
* ``layout_sort_order_rle_bakeoff`` — why you sort before you
  write: for three low-cardinality lineitem columns (return flag, line status, ship month), the run
  count under SORTED order equals the distinct-value count (free,
  from the histogram), the EXPECTED run count under random order
  has the closed form n - sum h(h-1)/n (exact rational from the
  same histogram), and the ACTUAL md5-shuffled run count is
  measured with the bucketed-lag decomposition — theory and
  measurement side by side, in exact integers.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.cumsum import distributed_running_total
from ..sources.tables import load_table
from .registry import hex8, query, sql_hex8

# ------------------------------------------------ RRF fusion

_RRF_K = 60
_TOP = 20


@query(
    "search_rrf_rank_fusion",
    oracle=f"""
        WITH stats AS (
            SELECT l_partkey AS pk,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,2)) * 100)
                        AS BIGINT) AS rev,
                   CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
            FROM lineitem GROUP BY 1
        ), hr AS (
            SELECT rev AS v, CAST(COUNT(*) AS BIGINT) AS h
            FROM stats GROUP BY rev
        ), cr AS (
            SELECT v, CAST(SUM(h) OVER (ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS ci,
                   CAST(SUM(h) OVER () AS BIGINT) AS n
            FROM hr
        ), hq AS (
            SELECT qty AS v, CAST(COUNT(*) AS BIGINT) AS h
            FROM stats GROUP BY qty
        ), cq AS (
            SELECT v, CAST(SUM(h) OVER (ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS ci,
                   CAST(SUM(h) OVER () AS BIGINT) AS n
            FROM hq
        ), ranked AS (
            SELECT s.pk, s.rev, s.qty,
                   a.n - a.ci + 1 AS rank_rev,
                   b.n - b.ci + 1 AS rank_qty
            FROM stats s
            JOIN cr a ON a.v = s.rev
            JOIN cq b ON b.v = s.qty
        )
        SELECT pk AS partkey, rank_rev, rank_qty,
               CAST(1000000 // ({_RRF_K} + rank_rev)
                    + 1000000 // ({_RRF_K} + rank_qty) AS BIGINT)
                   AS rrf_micro
        FROM ranked
        ORDER BY rrf_micro DESC, partkey
        LIMIT {_TOP}
    """,
    description="Reciprocal rank fusion — the hybrid-search "
    "standard (BM25 + vectors in production; here a revenue ranker "
    "and a quantity ranker the oracle recomputes exactly): "
    "score = sum 1/(60 + rank), with competition ranks from value "
    "histograms (rank = n - cum_count + 1, ties share a rank — NO "
    "global row sort) and each reciprocal micro-quantized by exact "
    "integer division before summing (documented). RRF's whole "
    "point is rank-space fusion that ignores incomparable score "
    "scales — this query is the exact-arithmetic reference for it. "
    "100 TB shape: one part-grain aggregate, two value-histogram "
    "shuffles via the two-level carry, rank joins, TakeOrdered "
    "top-20.",
)
def search_rrf_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    line = load_table(spark, sf_dir, "lineitem")
    stats = line.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(F.col("l_extendedprice").cast("decimal(15,2)") * 100)
        .cast("long")
        .alias("rev"),
        F.sum(F.col("l_quantity").cast("long")).alias("qty"),
    ).localCheckpoint(eager=False)  # feeds both histograms + join

    def ranks(col: str, out: str):
        h = stats.groupBy(F.col(col).alias("v")).agg(
            F.count(F.lit(1)).cast("long").alias("h")
        )
        cum = distributed_running_total(
            h.withColumn("vb", F.expr("v div 1048576")),
            F.col("h"),
            "vb",
            ["v"],
            out_col="ci",
            zero=F.lit(0).cast("bigint"),
        )
        n = h.agg(F.sum("h").cast("long").alias("n"))
        return (
            cum.crossJoin(F.broadcast(n))
            .select(
                F.col("v").alias(col),
                (F.col("n") - F.col("ci") + 1)
                .cast("long")
                .alias(out),
            )
        )

    ranked = stats.join(ranks("rev", "rank_rev"), "rev").join(
        ranks("qty", "rank_qty"), "qty"
    )
    return (
        ranked.select(
            F.col("pk").alias("partkey"),
            "rank_rev",
            "rank_qty",
            F.expr(
                f"CAST(1000000 div ({_RRF_K} + rank_rev)"
                f" + 1000000 div ({_RRF_K} + rank_qty) AS LONG)"
            ).alias("rrf_micro"),
        )
        .orderBy(F.col("rrf_micro").desc(), "partkey")
        .limit(_TOP)
    )


# -------------------------------------- sort-order RLE bakeoff

_COLS = ("l_returnflag", "l_linestatus", "shipmm")
_BUCKET = 1 << 24  # 256 buckets over the 32-bit hash domain


def _rle_oracle() -> str:
    per_col = []
    for c in _COLS:
        per_col.append(f"""
        SELECT '{c}' AS col,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM base) AS n,
               (SELECT CAST(COUNT(DISTINCT {c}) AS BIGINT) FROM base)
                   AS sorted_runs,
               (SELECT CAST((CAST(cnt AS HUGEINT) * cnt - coll)
                            // cnt AS BIGINT)
                FROM (SELECT CAST(SUM(h) AS BIGINT) AS cnt,
                             CAST(SUM(CAST(h AS HUGEINT) * (h - 1))
                                  AS HUGEINT) AS coll
                      FROM (SELECT COUNT(*) AS h FROM base
                            GROUP BY {c})))
                   AS expected_random_runs,
               (SELECT CAST(1 + SUM(CASE WHEN {c} <> prev
                                         THEN 1 ELSE 0 END) AS BIGINT)
                FROM (SELECT {c},
                             lag({c}) OVER (ORDER BY hv, okey, oline, l_returnflag, l_linestatus, shipmm)
                                 AS prev
                      FROM base) WHERE prev IS NOT NULL)
                   AS measured_random_runs
        """)
    return f"""
        WITH base AS MATERIALIZED (
            SELECT l_orderkey AS okey, l_linenumber AS oline,
                   l_returnflag, l_linestatus,
                   EXTRACT(month FROM l_shipdate) AS shipmm,
                   {sql_hex8(
                       "CAST(l_orderkey AS VARCHAR) || ':' "
                       "|| CAST(l_linenumber AS VARCHAR)")} AS hv
            FROM lineitem
        )
        SELECT * FROM ({" UNION ALL ".join(per_col)})
        ORDER BY col
    """


@query(
    "layout_sort_order_rle_bakeoff",
    oracle=_rle_oracle(),
    description="Why you sort before you write, with receipts: for "
    "three low-cardinality lineitem columns, the RLE run count "
    "under SORTED order is just the distinct-value count (free "
    "from the histogram); the EXPECTED run count under a random "
    "permutation has the closed form n - sum h(h-1)/n (exact "
    "rational from the same histogram — collision probability of "
    "adjacent draws); and the ACTUAL run count under an md5 "
    "shuffle is measured — Spark computes that lag WITHOUT a "
    "global window via the bucketed-lag decomposition (hash-"
    "bucket partitions plus the bounded boundary stitch, the "
    "delta-varint pattern), while the oracle keeps the textbook "
    "single window, so the hash match again PROVES the "
    "decomposition. Measured must hug expected; sorted runs are "
    "thousands of times fewer — the quantified argument for sort "
    "keys in any 100 TB table layout.",
)
def layout_sort_order_rle_bakeoff(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    line = load_table(spark, sf_dir, "lineitem")
    base = line.select(
        F.col("l_orderkey").alias("okey"),
        F.col("l_linenumber").alias("oline"),
        F.col("l_returnflag"),
        F.col("l_linestatus"),
        F.month("l_shipdate").cast("long").alias("shipmm"),
        hex8(
            F.concat(
                F.col("l_orderkey").cast("string"),
                F.lit(":"),
                F.col("l_linenumber").cast("string"),
            )
        ).alias("hv"),
    ).localCheckpoint(eager=False)  # reused per column
    n_row = base.agg(F.count(F.lit(1)).cast("long").alias("n"))
    # distributed lag: in-bucket lag + boundary stitch per column
    kb = base.withColumn("vb", F.expr(f"hv div {_BUCKET}"))
    # fixture lineitem contains duplicate (okey, oline) keys: the
    # payload columns join the sort key so the order is total up to
    # FULL duplicates (which cannot change transition counts)
    wb = Window.partitionBy("vb").orderBy(
        "hv", "okey", "oline", *_COLS
    )
    lagged = kb.select(
        "vb",
        "hv",
        "okey",
        "oline",
        *[F.col(c) for c in _COLS],
        *[F.lag(c).over(wb).alias(f"prev_{c}") for c in _COLS],
        F.row_number().over(wb).alias("rn"),
    )
    # boundary stitch: last row of each bucket joins to the next
    # bucket's first row over the bounded bucket spine
    lasts = (
        kb.groupBy("vb")
        .agg(
            F.max(F.struct("hv", "okey", "oline", *_COLS)).alias("mx")
        )
        .select(
            "vb", *[F.col(f"mx.{c}").alias(f"last_{c}") for c in _COLS]
        )
    )
    wspine = Window.orderBy("vb")  # bounded bucket spine
    prev_last = lasts.select(
        "vb",
        *[
            F.lag(f"last_{c}").over(wspine).alias(f"plast_{c}")
            for c in _COLS
        ],
    )
    stitched = lagged.join(F.broadcast(prev_last), "vb")
    d38 = "decimal(38,0)"
    out = None
    for c in _COLS:
        h = base.groupBy(c).agg(F.count(F.lit(1)).cast("long").alias("h"))
        coll = h.agg(
            F.count(F.lit(1)).cast("long").alias("nv"),
            F.sum(F.expr(f"CAST(h AS {d38}) * (h - 1)"))
            .cast(d38)
            .alias("coll"),
        )
        sorted_runs = h.agg(
            F.count(F.lit(1)).cast("long").alias("sorted_runs")
        )
        measured = stitched.select(
            F.coalesce(F.col(f"prev_{c}"), F.col(f"plast_{c}")).alias(
                "prev"
            ),
            F.col(c).alias("cur"),
        ).agg(
            (
                F.lit(1)
                + F.sum(
                    F.when(
                        F.col("prev").isNotNull()
                        & (F.col("cur") != F.col("prev")),
                        1,
                    ).otherwise(0)
                )
            )
            .cast("long")
            .alias("measured_random_runs")
        )
        row = (
            n_row.crossJoin(F.broadcast(sorted_runs))
            .crossJoin(F.broadcast(coll))
            .crossJoin(F.broadcast(measured))
            .selectExpr(
                f"'{c}' AS col",
                "n",
                "sorted_runs",
                f"CAST((CAST(n AS {d38}) * n - coll) div n AS LONG)"
                f" AS expected_random_runs",
                "measured_random_runs",
            )
        )
        out = row if out is None else out.unionAll(row)
    return out.orderBy("col")
