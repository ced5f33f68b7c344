"""Wave-140 (round 5): MDE power analysis + codec chooser.

* ``experiment_mde_power_analysis`` — the question every A/B test
  must answer BEFORE launch: what effect size can this segment
  even detect? MDE ~= (z_{0.975} + z_{0.8}) * sqrt(2 p(1-p) / n)
  per market segment, with the z constants as exact milli
  literals, the binomial variance an exact integer, and the one
  sqrt + divide + floor chain under the controlled-double
  discipline. Completes the experimentation lane (SRM, CUPED,
  IPW, SPRT, exact permutation): segments whose MDE exceeds the
  effect you care about should never be tested in isolation.
* ``layout_codec_chooser`` — the writer's codec decision as a
  query: per column, the byte cost of plain int64, dictionary
  (ndv * 8 + n * ceil(log2 ndv) bits), and sorted-RLE
  (ndv * 12) under documented cost models — all from two
  aggregates — and the arg-min codec each column should get,
  exactly the logic inside every Parquet/ORC writer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import buyers_1996, query

# ------------------------------------------- MDE power analysis

_Z_SUM_MILLI = 2800  # z_{0.975} + z_{0.8} = 1.960 + 0.840


@query(
    "experiment_mde_power_analysis",
    oracle=f"""
        WITH lab AS (
            SELECT c.c_mktsegment AS seg,
                   CASE WHEN COUNT(CASE WHEN EXTRACT(year
                             FROM o.o_orderdate) = 1996 THEN 1 END) > 0
                        THEN 1 ELSE 0 END AS y
            FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
            GROUP BY c.c_custkey, c.c_mktsegment
        ), rates AS (
            SELECT seg,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(y) * 1000 // COUNT(*) AS BIGINT) AS p_m
            FROM lab GROUP BY seg
        )
        SELECT seg, n, p_m AS base_rate_permille,
               CAST(FLOOR({_Z_SUM_MILLI}
                   * SQRT(CAST(2 * p_m * (1000 - p_m) AS DOUBLE)
                          / CAST(n AS DOUBLE))) AS BIGINT)
                   AS mde_permille_x1000
        FROM rates ORDER BY seg
    """,
    description="Minimal detectable effect per segment — the power "
    "analysis that should precede every A/B test: with the 1996-"
    "purchase base rate p (exact permille) and segment size n, "
    "MDE = (z_0.975 + z_0.8) * sqrt(2 p(1-p)/n) for a two-arm "
    "5%-alpha / 80%-power test, the z-sum a 2800-milli literal and "
    "the variance 2*p*(1000-p) an exact integer before the single "
    "controlled sqrt/divide/floor chain (reported x1000 for "
    "precision). The experimentation lane's missing bookend: SRM "
    "guards assignment, CUPED/IPW sharpen estimates, SPRT stops "
    "early, the exact permutation test handles tiny n — and THIS "
    "query says whether the segment can detect the effect at all. "
    "100 TB shape: one labeled customer-grain aggregate and one "
    "bounded segment rollup.",
)
def experiment_mde_power_analysis(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    lab = buyers_1996(spark, sf_dir, F.col("c_mktsegment").alias("seg"))
    rates = lab.groupBy("seg").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.expr("CAST(SUM(y) * 1000 div COUNT(*) AS LONG)").alias("p_m"),
    )
    return rates.select(
        "seg",
        "n",
        F.col("p_m").alias("base_rate_permille"),
        F.expr(
            f"""CAST(FLOOR({_Z_SUM_MILLI}
                * SQRT(CAST(2 * p_m * (1000 - p_m) AS DOUBLE)
                       / CAST(n AS DOUBLE))) AS LONG)"""
        ).alias("mde_permille_x1000"),
    ).orderBy("seg")


# ------------------------------------------- codec chooser


def _bits_ladder(x: str, max_bit: int = 40) -> str:
    """ceil(log2(x)) for x >= 1 via a power-of-two CASE ladder."""
    cases = [
        f"WHEN {x} > {1 << (b - 1)} THEN {b}"
        for b in range(max_bit, 1, -1)
    ]
    return "CASE " + " ".join(cases) + " ELSE 1 END"


_CODEC_COLS = ("l_returnflag", "l_linestatus", "shipmm", "l_quantity")


def _codec_oracle() -> str:
    per_col = []
    for c in _CODEC_COLS:
        bits = _bits_ladder("ndv")
        per_col.append(f"""
        SELECT '{c}' AS col, n, ndv,
               CAST(n * 8 AS BIGINT) AS plain_bytes,
               CAST(ndv * 8 + (n * ({bits}) + 7) // 8 AS BIGINT)
                   AS dict_bytes,
               CAST(ndv * 12 AS BIGINT) AS rle_sorted_bytes
        FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(COUNT(DISTINCT {c}) AS BIGINT) AS ndv
              FROM base)""")
    return f"""
        WITH base AS MATERIALIZED (
            SELECT l_returnflag, l_linestatus,
                   EXTRACT(month FROM l_shipdate) AS shipmm,
                   CAST(l_quantity AS BIGINT) AS l_quantity
            FROM lineitem
        ), costs AS ({" UNION ALL ".join(per_col)})
        SELECT col, n, ndv, plain_bytes, dict_bytes, rle_sorted_bytes,
               CASE WHEN rle_sorted_bytes <= dict_bytes
                         AND rle_sorted_bytes <= plain_bytes
                    THEN 'rle_sorted'
                    WHEN dict_bytes <= plain_bytes THEN 'dict'
                    ELSE 'plain' END AS chosen
        FROM costs ORDER BY col
    """


@query(
    "layout_codec_chooser",
    oracle=_codec_oracle(),
    description="The writer's codec decision as a first-class "
    "query: per column, byte costs under documented models — plain "
    "int64 (8n), dictionary (8*ndv table + n entries of "
    "ceil(log2 ndv) bits, the ladder a generated power-of-two CASE "
    "shared by both engines), and sorted-RLE (12 bytes per "
    "distinct run) — and the deterministic arg-min codec with "
    "rle <= dict <= plain tie preference. This is exactly the "
    "per-column choice inside every Parquet/ORC writer, here made "
    "auditable: low-cardinality flags go RLE, mid-cardinality "
    "months go dict, high-cardinality quantities justify plain/"
    "dict by the measured ndv. 100 TB shape: one count + "
    "count-distinct aggregate per column over one scan — codec "
    "planning costs a rounding error next to the write itself.",
)
def layout_codec_chooser(spark: SparkSession, sf_dir: str) -> DataFrame:
    line = load_table(spark, sf_dir, "lineitem")
    base = line.select(
        "l_returnflag",
        "l_linestatus",
        F.month("l_shipdate").cast("long").alias("shipmm"),
        F.col("l_quantity").cast("long").alias("l_quantity"),
    ).localCheckpoint(eager=False)  # one scan, four column audits
    out = None
    for c in _CODEC_COLS:
        bits = _bits_ladder("ndv")
        row = base.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.countDistinct(c).cast("long").alias("ndv"),
        ).selectExpr(
            f"'{c}' AS col",
            "n",
            "ndv",
            "CAST(n * 8 AS LONG) AS plain_bytes",
            f"CAST(ndv * 8 + (n * ({bits}) + 7) div 8 AS LONG)"
            " AS dict_bytes",
            "CAST(ndv * 12 AS LONG) AS rle_sorted_bytes",
        )
        out = row if out is None else out.unionAll(row)
    return out.select(
        "col",
        "n",
        "ndv",
        "plain_bytes",
        "dict_bytes",
        "rle_sorted_bytes",
        F.when(
            (F.col("rle_sorted_bytes") <= F.col("dict_bytes"))
            & (F.col("rle_sorted_bytes") <= F.col("plain_bytes")),
            "rle_sorted",
        )
        .when(F.col("dict_bytes") <= F.col("plain_bytes"), "dict")
        .otherwise("plain")
        .alias("chosen"),
    ).orderBy("col")
