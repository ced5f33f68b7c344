"""Wave-121 (round 5): exact permutation test + Burrows' Delta
stylometry.

* ``stat_exact_permutation_pvalue`` — the gold-standard small-sample
  test, with NO distributional assumption and NO approximation: on
  a deterministic 16-customer panel (8 md5-treated), ALL 2^16
  assignment masks are enumerated, the 12870 with exactly 8
  treated replay the statistic sum_t - sum_c, and the two-sided
  p-value is the exact rational count(|D| >= |D_obs|) / 12870 —
  bit mask extraction via (mask div 2^i) % 2, no engine-specific
  bit functions.
* ``text_burrows_delta_stylometry`` — the standard authorship-
  attribution distance: z-scores of the top-20 word rates per
  source against the cross-source distribution, Delta(a,b) =
  mean |z_a - z_b|. The only doubles are one exact-int -> double
  conversion, one sqrt (IEEE-correctly-rounded), and one division
  per z, immediately FLOOR-quantized to milli — so the pairwise
  Delta matrix hashes identically across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import hex8, query, sql_hex8


# ------------------------------------------- exact permutation

_NP = 16  # panel size (2^16 masks enumerated)
_NT = 8  # treated count


@query(
    "stat_exact_permutation_pvalue",
    oracle=f"""
        WITH units AS (
            SELECT c_custkey AS k,
                   CAST(CAST(c_acctbal AS DECIMAL(15,2)) * 100
                        AS BIGINT) AS y
            FROM customer
        ), nn AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n FROM units
        ), pool AS (
            SELECT k, y,
                   {sql_hex8("'perm:' || CAST(k AS VARCHAR)")} AS hv
            FROM units CROSS JOIN nn
            WHERE k % greatest(1, n // 32) = 0
        ), panel AS (
            SELECT y,
                   CAST(ROW_NUMBER() OVER (ORDER BY hv, k) AS BIGINT)
                       AS r
            FROM pool QUALIFY r <= {_NP}
        ), obs AS (
            SELECT CAST(SUM(CASE WHEN r <= {_NT} THEN y ELSE -y END)
                        AS BIGINT) AS d_obs
            FROM panel
        ), masks AS (
            SELECT m.m,
                   CAST(SUM((m.m // (1 << (p.r - 1))) % 2) AS BIGINT)
                       AS nt,
                   CAST(SUM(CASE WHEN (m.m // (1 << (p.r - 1))) % 2 = 1
                                 THEN p.y ELSE -p.y END) AS BIGINT) AS d
            FROM range(0, {1 << _NP}) m(m) CROSS JOIN panel p
            GROUP BY m.m
        ), valid AS (
            SELECT d FROM masks WHERE nt = {_NT}
        )
        SELECT CAST({_NP} AS BIGINT) AS n_panel,
               o.d_obs AS observed_diff_cents,
               CAST(SUM(CASE WHEN abs(v.d) >= abs(o.d_obs)
                             THEN 1 ELSE 0 END) AS BIGINT) AS p_num,
               CAST(COUNT(*) AS BIGINT) AS p_den,
               CAST(SUM(CASE WHEN abs(v.d) >= abs(o.d_obs)
                             THEN 1 ELSE 0 END) * 1000 // COUNT(*)
                    AS BIGINT) AS p_permille
        FROM valid v CROSS JOIN obs o
        GROUP BY o.d_obs
    """,
    description="Exact two-sided permutation test — the gold "
    "standard when n is small and no distribution can be assumed: "
    "a deterministic 16-customer panel (mod-filter then md5-rank, "
    "the repo's bounded-panel pattern), the first 8 in hash order "
    "'treated', statistic D = sum_t - sum_c of balance cents, and "
    "ALL 65536 assignment masks enumerated relationally — bit i of "
    "a mask is (m div 2^i) % 2, pure integer arithmetic, no engine "
    "bit intrinsics — keeping the 12870 masks with exactly 8 "
    "treated and counting |D| >= |D_obs| for the exact rational "
    "p-value (numerator, denominator, AND permille all emitted). "
    "100 TB shape: the panel selection is one narrow filter; the "
    "mask enumeration is a constant 65536 x 16 spine computation "
    "independent of data volume — exact inference priced at a "
    "bounded fan-out, the same discipline as the Shapley and "
    "knapsack lattice queries.",
)
def stat_exact_permutation_pvalue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    units = customer.select(
        F.col("c_custkey").alias("k"),
        (F.col("c_acctbal").cast("decimal(15,2)") * 100)
        .cast("long")
        .alias("y"),
    )
    nn = units.agg(F.count(F.lit(1)).cast("long").alias("n"))
    pool = (
        units.crossJoin(F.broadcast(nn))
        .where(F.col("k") % F.greatest(F.lit(1), F.expr("n div 32")) == 0)
        .select(
            "k",
            "y",
            hex8(F.concat(F.lit("perm:"), F.col("k").cast("string"))).alias("hv"),
        )
    )
    # bounded pool (~32 rows): ordered window OK
    panel = (
        pool.select(
            "y",
            F.row_number()
            .over(Window.orderBy("hv", "k"))
            .cast("long")
            .alias("r"),
        )
        .where(F.col("r") <= _NP)
        .localCheckpoint(eager=False)  # reused by obs AND masks
    )
    obs = panel.agg(
        F.sum(
            F.when(F.col("r") <= _NT, F.col("y")).otherwise(-F.col("y"))
        )
        .cast("long")
        .alias("d_obs")
    )
    masks = (
        panel.select(
            "y",
            "r",
            F.explode(
                F.sequence(F.lit(0), F.lit((1 << _NP) - 1))
            ).alias("m"),
        )
        .groupBy("m")
        .agg(
            F.sum(F.expr("(m div (1 << (r - 1))) % 2"))
            .cast("long")
            .alias("nt"),
            F.sum(
                F.expr(
                    "CASE WHEN (m div (1 << (r - 1))) % 2 = 1"
                    " THEN y ELSE -y END"
                )
            )
            .cast("long")
            .alias("d"),
        )
    )
    valid = masks.where(F.col("nt") == _NT).select("d")
    return (
        valid.crossJoin(F.broadcast(obs))
        .groupBy("d_obs")
        .agg(
            F.sum(
                F.when(F.abs(F.col("d")) >= F.abs(F.col("d_obs")), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("p_num"),
            F.count(F.lit(1)).cast("long").alias("p_den"),
        )
        .select(
            F.lit(_NP).cast("long").alias("n_panel"),
            F.col("d_obs").alias("observed_diff_cents"),
            "p_num",
            "p_den",
            F.expr("CAST(p_num * 1000 div p_den AS LONG)").alias(
                "p_permille"
            ),
        )
    )


# --------------------------------------------- Burrows' Delta

_TOPW = 20


@query(
    "text_burrows_delta_stylometry",
    oracle=f"""
        WITH toks AS (
            SELECT source, unnest(regexp_split_to_array(
                       trim(lower(text)), '\\s+')) AS w
            FROM documents
        ), topw AS (
            SELECT w FROM toks GROUP BY w
            ORDER BY COUNT(*) DESC, w LIMIT {_TOPW}
        ), stot AS (
            SELECT source, CAST(COUNT(*) AS BIGINT) AS nt
            FROM toks GROUP BY source
        ), rates AS (
            SELECT s.source, t.w,
                   CAST(COALESCE(c.cnt, 0) * 1000000 // s.nt AS BIGINT)
                       AS rate_ppm
            FROM stot s CROSS JOIN topw t
            LEFT JOIN (
                SELECT source, w, CAST(COUNT(*) AS BIGINT) AS cnt
                FROM toks GROUP BY source, w
            ) c ON c.source = s.source AND c.w = t.w
        ), wstats AS (
            SELECT w, CAST(COUNT(*) AS BIGINT) AS ns,
                   CAST(SUM(rate_ppm) AS BIGINT) AS sr,
                   CAST(SUM(rate_ppm * rate_ppm) AS BIGINT) AS srr
            FROM rates GROUP BY w
        ), z AS (
            SELECT r.source, r.w,
                   CAST(FLOOR(1000.0
                       * CAST(s.ns * r.rate_ppm - s.sr AS DOUBLE)
                       / SQRT(CAST(greatest(s.ns * s.srr - s.sr * s.sr,
                                            1) AS DOUBLE)))
                       AS BIGINT) AS z_milli
            FROM rates r JOIN wstats s ON s.w = r.w
        )
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(SUM(abs(a.z_milli - b.z_milli)) // {_TOPW}
                    AS BIGINT) AS delta_milli
        FROM z a JOIN z b ON a.w = b.w AND a.source < b.source
        GROUP BY 1, 2
        ORDER BY source_a, source_b
    """,
    description="Burrows' Delta — the standard stylometric distance "
    "behind authorship attribution: per-source rates (ppm) of the "
    "20 most frequent corpus words, z-scored against the cross-"
    "source distribution, Delta(a,b) = mean |z_a - z_b|. The z "
    "computation is the repo's controlled-double discipline: "
    "numerator ns*rate - sum and radicand ns*srr - sr^2 are exact "
    "int64, followed by exactly one int->double conversion, one "
    "IEEE-correct SQRT, one division, and an immediate FLOOR to "
    "milli — deterministic in both engines, so the full 190-pair "
    "Delta matrix hashes exactly. 100 TB shape: one token explode "
    "feeding three partial aggregations; z and Delta run on the "
    "bounded (sources x 20 words) grid. In production this ranks "
    "which sources share a 'voice' — a contamination/provenance "
    "signal the dedup lanes cannot see.",
)
def text_burrows_delta_stylometry(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+")
        ).alias("w"),
    ).localCheckpoint(eager=False)  # feeds topw/stot/counts
    topw = (
        toks.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "w")
        .limit(_TOPW)
        .select("w")
    )
    stot = toks.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("nt")
    )
    counts = toks.join(F.broadcast(topw), "w").groupBy(
        "source", "w"
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    rates = (
        stot.crossJoin(F.broadcast(topw))
        .join(counts, ["source", "w"], "left")
        .select(
            "source",
            "w",
            F.expr(
                "CAST(COALESCE(cnt, 0) * 1000000 div nt AS LONG)"
            ).alias("rate_ppm"),
        )
        .localCheckpoint(eager=False)  # bounded grid; reused 3x
    )
    wstats = rates.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("ns"),
        F.sum("rate_ppm").cast("long").alias("sr"),
        F.sum(F.col("rate_ppm") * F.col("rate_ppm"))
        .cast("long")
        .alias("srr"),
    )
    z = rates.join(wstats, "w").select(
        "source",
        "w",
        F.expr(
            """CAST(FLOOR(1000.0
                * CAST(ns * rate_ppm - sr AS DOUBLE)
                / SQRT(CAST(greatest(ns * srr - sr * sr, 1)
                            AS DOUBLE))) AS LONG)"""
        ).alias("z_milli"),
    )
    a = z.select(
        F.col("source").alias("source_a"), "w", F.col("z_milli").alias("za")
    )
    b = z.select(
        F.col("source").alias("source_b"), "w", F.col("z_milli").alias("zb")
    )
    return (
        a.join(b, "w")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.expr(
                f"CAST(SUM(abs(za - zb)) div {_TOPW} AS LONG)"
            ).alias("delta_milli")
        )
        .orderBy("source_a", "source_b")
    )
