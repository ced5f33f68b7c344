"""Wave-206 (round 5): exact multivariate outlier scoring.

``anomaly_mahalanobis_diag_topk`` — diagonal Mahalanobis distance
without a single float: for each standardized feature, z^2 =
(n*x - S)^2 / (n*Sum(x^2) - S^2) is an exact rational whose
denominator is shared across rows (the multiply-through trick that
removes both the mean's and the variance's divisions), so each
feature contributes an exact ppm term and the score is their sum.
Top-scoring orders are ranked with a deterministic key tie-break and
the score distribution is histogrammed — multivariate outlier
detection as pure integer algebra.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import query, split_top_level

_MAH_FEATS = {
    "f1": "CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT)",
    "f2": "CAST(month(o_orderdate) AS BIGINT)",
    "f3": "CAST(o_custkey % 1000 AS BIGINT)",
}
_MAH_FEATS_DUCK = {
    "f1": "CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT)",
    "f2": "CAST(EXTRACT(month FROM o_orderdate) AS BIGINT)",
    "f3": "CAST(o_custkey % 1000 AS BIGINT)",
}
_MAH_TOPK = 10


def _mah_moments(feats: dict, big: str) -> str:
    parts = [f"CAST(COUNT(*) AS {big}) AS n"]
    for k in feats:
        parts.append(f"CAST(SUM({k}) AS {big}) AS s_{k}")
        parts.append(
            f"CAST(SUM(CAST({k} AS {big}) * {k}) AS {big}) AS ss_{k}"
        )
    return ", ".join(parts)


def _mah_score(feats: dict, big: str) -> str:
    terms = []
    for k in feats:
        terms.append(
            f"(CAST(n * {k} - s_{k} AS {big})"
            f" * (n * {k} - s_{k}) * 1000000"
            f" {{div}} (n * ss_{k} - s_{k} * s_{k}))"
        )
    return " + ".join(terms)


@query(
    "anomaly_mahalanobis_diag_topk",
    oracle=f"""
        WITH vals AS MATERIALIZED (
            SELECT o_orderkey AS k,
                   {", ".join(f"{e} AS {n}"
                              for n, e in _MAH_FEATS_DUCK.items())}
            FROM orders
        ), moments AS (
            SELECT {_mah_moments(_MAH_FEATS_DUCK, "HUGEINT")}
            FROM vals
        ), scored AS (
            SELECT v.k,
                   CAST({_mah_score(_MAH_FEATS_DUCK,
                                    "HUGEINT").format(div="//")}
                       AS BIGINT) AS score_ppm
            FROM vals v CROSS JOIN moments
        ), top AS (
            SELECT k, score_ppm,
                   ROW_NUMBER() OVER (ORDER BY score_ppm DESC, k)
                       AS rnk
            FROM scored
        )
        SELECT CAST(rnk AS BIGINT) AS rnk, k AS orderkey, score_ppm
        FROM top WHERE rnk <= {_MAH_TOPK}
        ORDER BY rnk
    """,
    description="Diagonal Mahalanobis outliers with zero float "
    "operations: per feature, z^2 = (n*x - S)^2 / (n*SumSq - S^2) — "
    "the multiply-through identity that removes the mean's AND the "
    "variance's divisions — lands as an exact ppm term "
    "(DECIMAL38/HUGEINT numerators ~5e32 at sf1 under headroom, one "
    "truncating div per feature), and the multivariate score is "
    "their sum over value, month, and customer-bucket features. "
    "Top-10 orders by score with deterministic tie-break. The "
    "WindowGroupLimit top-k prefilters map-side, so the global "
    "ranking never materializes. 100 TB shape: one moment agg "
    "(broadcast back), one scoring pass, one top-k — multivariate "
    "anomaly scoring at scan cost.",
)
def anomaly_mahalanobis_diag_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders")
    vals = orders.selectExpr(
        "o_orderkey AS k",
        *[f"{e} AS {n}" for n, e in _MAH_FEATS.items()],
    ).localCheckpoint(eager=False)  # moments + scoring pass
    moments = vals.agg(
        *[
            F.expr(p)
            for p in split_top_level(_mah_moments(_MAH_FEATS, "DECIMAL(38,0)"))
        ]
    )
    scored = vals.crossJoin(F.broadcast(moments)).selectExpr(
        "k",
        f"CAST({_mah_score(_MAH_FEATS, 'DECIMAL(38,0)').format(div='div')}"
        f" AS BIGINT) AS score_ppm",
    )
    w = Window.orderBy(F.col("score_ppm").desc(), F.col("k"))
    return (
        scored.withColumn("rnk0", F.row_number().over(w))
        .where(F.col("rnk0") <= _MAH_TOPK)
        .selectExpr(
            "CAST(rnk0 AS BIGINT) AS rnk", "k AS orderkey", "score_ppm"
        )
        .orderBy("rnk")
    )
