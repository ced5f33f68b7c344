"""Wave-151 (round 5): FK inference + coarsened exact matching.

* ``dq_foreign_key_inference`` — join-discovery profiling: for ten
  candidate (child column -> parent column) pairs, the distinct-set
  containment permille, the parent-side uniqueness check, and the
  inferred-FK verdict (containment 1000 AND parent unique).  The
  pair list includes the seven true fixture FKs plus negative
  controls: a genuinely-unrelated pair (low containment) and a
  small-domain pair whose containment is a perfect 1000 by
  accident — the classic false positive that makes containment
  alone insufficient, emitted rather than hidden.
* ``causal_coarsened_exact_matching`` — the fourth causal-lane
  member (after DiD, IPW, CUPED): assignment CONFOUNDED by
  construction (treatment probability rises with the balance
  stratum; outcome also rises with the stratum), planted constant
  effect.  The naive treated-control gap is biased by the
  confounding slope; the CEM estimator — per-stratum gaps weighted
  by treated counts, one-armed strata pruned — recovers the planted
  effect up to hash-sampling noise.  Every per-stratum ratio is
  quantized to integer micros (HUGEINT/DECIMAL(38): the
  cross-multiplied gap numerators pass 1e20 at sf1), and BOTH
  estimators' absolute errors against the planted truth are
  emitted, so the bias reduction is a measured result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import hex4, query, sql_hex4

# ------------------------------------------------ FK inference

# (pair_name, child_table, child_col, parent_table, parent_col)
_FK_PAIRS = [
    ("orders.custkey->customer", "orders", "o_custkey",
     "customer", "c_custkey"),
    ("lineitem.partkey->part", "lineitem", "l_partkey",
     "part", "p_partkey"),
    ("lineitem.suppkey->supplier", "lineitem", "l_suppkey",
     "supplier", "s_suppkey"),
    ("lineitem.orderkey->orders", "lineitem", "l_orderkey",
     "orders", "o_orderkey"),
    ("customer.nationkey->nation", "customer", "c_nationkey",
     "nation", "n_nationkey"),
    ("supplier.nationkey->nation", "supplier", "s_nationkey",
     "nation", "n_nationkey"),
    ("nation.regionkey->region", "nation", "n_regionkey",
     "region", "r_regionkey"),
    # negative control: unrelated key spaces
    ("orders.custkey->supplier", "orders", "o_custkey",
     "supplier", "s_suppkey"),
    # false-positive control: small domain fully contained by accident
    ("lineitem.linenumber->nation", "lineitem", "l_linenumber",
     "nation", "n_nationkey"),
    ("part.size->customer", "part", "p_size", "customer",
     "c_custkey"),
]


def _fk_oracle() -> str:
    blocks = []
    for name, ct, cc, pt, pc in _FK_PAIRS:
        blocks.append(
            f"""SELECT '{name}' AS pair,
            (SELECT CAST(COUNT(DISTINCT {cc}) AS BIGINT) FROM {ct})
                AS n_child_distinct,
            (SELECT CAST(COUNT(DISTINCT {pc}) AS BIGINT) FROM {pt})
                AS n_parent_distinct,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM
                (SELECT DISTINCT {cc} AS v FROM {ct}) c
                WHERE EXISTS (SELECT 1 FROM {pt} p
                              WHERE p.{pc} = c.v)) AS n_contained,
            (SELECT CASE WHEN COUNT(DISTINCT {pc}) = COUNT(*)
                    THEN 1 ELSE 0 END FROM {pt}) AS parent_unique"""
        )
    union = " UNION ALL ".join(blocks)
    return f"""
        WITH raw AS ({union})
        SELECT pair, n_child_distinct, n_parent_distinct, n_contained,
               CAST(n_contained * 1000 // n_child_distinct AS BIGINT)
                   AS containment_permille,
               CAST(parent_unique AS BIGINT) AS parent_unique,
               CAST(CASE WHEN n_contained = n_child_distinct
                         AND parent_unique = 1
                    THEN 1 ELSE 0 END AS BIGINT) AS inferred_fk
        FROM raw
        ORDER BY pair
    """


@query(
    "dq_foreign_key_inference",
    oracle=_fk_oracle(),
    description="Join-discovery / FK-inference profiling: for ten "
    "candidate (child column -> parent column) pairs, distinct-set "
    "containment permille, parent uniqueness, and the inferred-FK "
    "verdict. Includes the seven true fixture FKs, one genuinely "
    "unrelated pair (low containment), and two small-domain pairs "
    "whose containment is a PERFECT 1000 by accident — the classic "
    "false positive that makes containment alone insufficient for "
    "FK inference, emitted as data rather than hidden. 100 TB "
    "shape: each pair is two distinct-reductions plus a semi-join "
    "on the distinct sets (one shuffle each, child set reduced "
    "before the join); the audit output is ten rows.",
)
def dq_foreign_key_inference(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    out = None
    for name, ct, cc, pt, pc in _FK_PAIRS:
        child = load_table(spark, sf_dir, ct).select(
            F.col(cc).alias("v")
        ).distinct()
        parent = load_table(spark, sf_dir, pt)
        pstats = parent.agg(
            F.countDistinct(pc).cast("long").alias("n_parent_distinct"),
            F.when(
                F.countDistinct(pc) == F.count(F.lit(1)), 1
            )
            .otherwise(0)
            .cast("long")
            .alias("parent_unique"),
        )
        pvals = parent.select(F.col(pc).alias("v")).distinct()
        cstats = child.join(
            pvals.withColumn("_hit", F.lit(1)), "v", "left"
        ).agg(
            F.count(F.lit(1)).cast("long").alias("n_child_distinct"),
            F.sum(F.coalesce("_hit", F.lit(0)))
            .cast("long")
            .alias("n_contained"),
        )
        row = (
            cstats.crossJoin(F.broadcast(pstats))
            .select(
                F.lit(name).alias("pair"),
                "n_child_distinct",
                "n_parent_distinct",
                "n_contained",
                F.expr("n_contained * 1000 div n_child_distinct")
                .cast("long")
                .alias("containment_permille"),
                "parent_unique",
                F.when(
                    (F.col("n_contained") == F.col("n_child_distinct"))
                    & (F.col("parent_unique") == 1),
                    1,
                )
                .otherwise(0)
                .cast("long")
                .alias("inferred_fk"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("pair")


# ------------------------------------- coarsened exact matching

_CEM_EFFECT_CENTS = 777
_CEM_STRATA = 10


@query(
    "causal_coarsened_exact_matching",
    oracle=f"""
        WITH ext AS (
            SELECT MIN(CAST(CAST(c_acctbal AS DECIMAL(15,2)) * 100
                       AS BIGINT)) AS lo,
                   MAX(CAST(CAST(c_acctbal AS DECIMAL(15,2)) * 100
                       AS BIGINT)) AS hi
            FROM customer
        ), units AS (
            SELECT (CAST(CAST(c_acctbal AS DECIMAL(15,2)) * 100
                    AS BIGINT) - lo) * {_CEM_STRATA}
                       // (hi - lo + 1) AS d,
                   ({sql_hex4(
                       "'cem:' || CAST(c_custkey AS VARCHAR)"
                   )}) % 100 AS u_t,
                   ({sql_hex4(
                       "'cemy:' || CAST(c_custkey AS VARCHAR)"
                   )}) % 1000 AS noise
            FROM customer, ext
        ), obs AS (
            SELECT d,
                   CASE WHEN u_t < 30 + 5 * d THEN 1 ELSE 0 END AS t,
                   1000 * d + noise
                   + CASE WHEN u_t < 30 + 5 * d
                     THEN {_CEM_EFFECT_CENTS} ELSE 0 END AS y
            FROM units
        ), cells AS (
            SELECT d, t, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(y) AS BIGINT) AS s
            FROM obs GROUP BY d, t
        ), strata AS (
            SELECT a.d, a.n AS n_t, a.s AS s_t, b.n AS n_c,
                   b.s AS s_c,
                   CAST(CAST(a.s AS HUGEINT) * 1000000 * b.n
                        - CAST(b.s AS HUGEINT) * 1000000 * a.n
                        AS HUGEINT)
                   // (CAST(a.n AS HUGEINT) * b.n) AS gap_micro
            FROM cells a JOIN cells b
              ON b.d = a.d AND a.t = 1 AND b.t = 0
        ), naive AS (
            SELECT CAST(SUM(CASE WHEN t = 1 THEN s ELSE 0 END)
                        AS HUGEINT) * 1000000
                   * SUM(CASE WHEN t = 0 THEN n ELSE 0 END)
                   - CAST(SUM(CASE WHEN t = 0 THEN s ELSE 0 END)
                          AS HUGEINT) * 1000000
                   * SUM(CASE WHEN t = 1 THEN n ELSE 0 END)
                       AS num,
                   CAST(SUM(CASE WHEN t = 1 THEN n ELSE 0 END)
                        AS HUGEINT)
                   * SUM(CASE WHEN t = 0 THEN n ELSE 0 END) AS den,
                   CAST(SUM(CASE WHEN t = 1 THEN n ELSE 0 END)
                        AS BIGINT) AS n_treated,
                   CAST(SUM(CASE WHEN t = 0 THEN n ELSE 0 END)
                        AS BIGINT) AS n_control
            FROM cells
        ), cem AS (
            SELECT CAST(SUM(n_t * gap_micro) // SUM(n_t) AS BIGINT)
                       AS cem_att_micro,
                   CAST(COUNT(*) AS BIGINT) AS n_matched_strata
            FROM strata
        )
        SELECT nv.n_treated, nv.n_control, cm.n_matched_strata,
               CAST(nv.num // nv.den AS BIGINT) AS naive_gap_micro,
               cm.cem_att_micro,
               CAST({_CEM_EFFECT_CENTS} AS BIGINT) * 1000000
                   AS planted_effect_micro,
               CAST(ABS(nv.num // nv.den
                    - {_CEM_EFFECT_CENTS} * 1000000) AS BIGINT)
                   AS naive_abs_err_micro,
               CAST(ABS(cm.cem_att_micro
                    - {_CEM_EFFECT_CENTS} * 1000000) AS BIGINT)
                   AS cem_abs_err_micro
        FROM naive nv CROSS JOIN cem cm
    """,
    description="Coarsened exact matching — the fourth causal-lane "
    "member after DiD, IPW and CUPED: treatment assignment is "
    "CONFOUNDED by construction (probability 30+5d percent rises "
    "with the balance stratum d, and the outcome also rises 1000 "
    "cents per stratum), with a planted constant effect of 777 "
    "cents. The naive gap absorbs the confounding slope; the CEM "
    "estimator — per-stratum gaps weighted by treated counts, "
    "one-armed strata pruned — recovers the plant up to hash-"
    "sampling noise. Per-stratum ratios quantize to integer micros "
    "in HUGEINT/DECIMAL(38) (cross-multiplied numerators pass 1e20 "
    "at sf1), and BOTH estimators' absolute errors against the "
    "planted truth are emitted: the bias reduction is a measured "
    "result, not a claim. 100 TB shape: one scan builds units, one "
    "20-cell aggregation, scalar algebra on the bounded strata.",
)
def causal_coarsened_exact_matching(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    bal = (F.col("c_acctbal").cast("decimal(15,2)") * 100).cast("long")
    ext = customer.agg(
        F.min(bal).alias("lo"), F.max(bal).alias("hi")
    )
    h = lambda prefix: hex4(F.concat(F.lit(prefix), F.col("c_custkey").cast("string")))
    units = customer.crossJoin(F.broadcast(ext)).select(
        F.expr(
            f"(CAST(CAST(c_acctbal AS DECIMAL(15,2)) * 100 AS BIGINT)"
            f" - lo) * {_CEM_STRATA} div (hi - lo + 1)"
        ).alias("d"),
        (h("cem:") % 100).alias("u_t"),
        (h("cemy:") % 1000).alias("noise"),
    )
    obs = units.select(
        "d",
        F.when(F.col("u_t") < 30 + 5 * F.col("d"), 1)
        .otherwise(0)
        .alias("t"),
        (
            1000 * F.col("d")
            + F.col("noise")
            + F.when(
                F.col("u_t") < 30 + 5 * F.col("d"),
                _CEM_EFFECT_CENTS,
            ).otherwise(0)
        ).alias("y"),
    )
    cells = obs.groupBy("d", "t").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("s"),
    ).localCheckpoint(eager=False)  # 20-cell table, reused 2x
    at = cells.where(F.col("t") == 1).select(
        "d",
        F.col("n").alias("n_t"),
        F.col("s").alias("s_t"),
    )
    ac = cells.where(F.col("t") == 0).select(
        "d",
        F.col("n").alias("n_c"),
        F.col("s").alias("s_c"),
    )
    strata = at.join(ac, "d").select(
        "d",
        "n_t",
        F.expr(
            "CAST(CAST(s_t AS DECIMAL(38,0)) * 1000000 * n_c"
            " - CAST(s_c AS DECIMAL(38,0)) * 1000000 * n_t"
            " AS DECIMAL(38,0))"
            " div (CAST(n_t AS DECIMAL(38,0)) * n_c)"
        )
        .cast("long")
        .alias("gap_micro"),
    )
    naive = cells.agg(
        F.expr(
            "CAST(SUM(CASE WHEN t = 1 THEN s ELSE 0 END)"
            " AS DECIMAL(38,0)) * 1000000"
            " * SUM(CASE WHEN t = 0 THEN n ELSE 0 END)"
            " - CAST(SUM(CASE WHEN t = 0 THEN s ELSE 0 END)"
            "   AS DECIMAL(38,0)) * 1000000"
            " * SUM(CASE WHEN t = 1 THEN n ELSE 0 END)"
        ).alias("num"),
        F.expr(
            "CAST(SUM(CASE WHEN t = 1 THEN n ELSE 0 END)"
            " AS DECIMAL(38,0))"
            " * SUM(CASE WHEN t = 0 THEN n ELSE 0 END)"
        ).alias("den"),
        F.sum(F.when(F.col("t") == 1, F.col("n")).otherwise(0))
        .cast("long")
        .alias("n_treated"),
        F.sum(F.when(F.col("t") == 0, F.col("n")).otherwise(0))
        .cast("long")
        .alias("n_control"),
    )
    cem = strata.agg(
        F.expr(
            "CAST(SUM(CAST(n_t AS DECIMAL(38,0)) * gap_micro)"
            " div SUM(n_t) AS BIGINT)"
        ).alias("cem_att_micro"),
        F.count(F.lit(1)).cast("long").alias("n_matched_strata"),
    )
    return naive.crossJoin(F.broadcast(cem)).select(
        "n_treated",
        "n_control",
        "n_matched_strata",
        F.expr("CAST(num div den AS BIGINT)").alias(
            "naive_gap_micro"
        ),
        "cem_att_micro",
        F.lit(_CEM_EFFECT_CENTS * 1000000)
        .cast("long")
        .alias("planted_effect_micro"),
        F.expr(
            f"CAST(ABS(num div den"
            f" - {_CEM_EFFECT_CENTS} * 1000000) AS BIGINT)"
        ).alias("naive_abs_err_micro"),
        F.expr(
            f"CAST(ABS(cem_att_micro"
            f" - {_CEM_EFFECT_CENTS} * 1000000) AS BIGINT)"
        ).alias("cem_abs_err_micro"),
    )
