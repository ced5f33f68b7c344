"""Wave-183 (round 5): Kemeny consensus + knapsack optimality gap.

* ``election_kemeny_rank_4`` — the Kemeny-Young consensus ranking,
  NP-hard in general but EXACT for 4 candidates: the pairwise
  preference matrix comes from one scan over hash-ballots (voter v
  ranks a before b iff h(v,a) < h(v,b) — no ranking rows ever
  materialize), and all 24 permutations are scored by their total
  pairwise disagreement, generated from one Python
  itertools.permutations loop into BOTH engines' SQL. Output is the
  full 24-row scoreboard with the winner flagged.

* ``opt_knapsack_density_gap`` — greedy-by-density knapsack with its
  own certificate: parts (value = retail cents, weight = size) are
  taken in exact density order via the two-level running total until
  the budget (a quarter of total weight) overflows; the fractional
  relaxation bound = taken value + the split item's pro-rata share
  upper-bounds ANY 0/1 solution, so the emitted gap permille is a
  true optimality certificate, not a heuristic's self-report.
"""

from __future__ import annotations

from itertools import permutations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.cumsum import distributed_running_total
from ..sources.tables import load_table
from .registry import query, sql_hex8

_KEM_CANDS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY")


def _hex8_spark_sql(expr: str) -> str:
    return (
        f"CAST(conv(substring(md5({expr}), 1, 8), 16, 10) AS BIGINT)"
    )


def _kem_pref_sql(a: str, b: str, key: str, strty: str) -> str:
    draw = sql_hex8 if strty == "VARCHAR" else _hex8_spark_sql
    ha = draw(f"concat('km:', CAST({key} AS {strty}), ':{a}')")
    hb = draw(f"concat('km:', CAST({key} AS {strty}), ':{b}')")
    return f"SUM(CASE WHEN {ha} < {hb} THEN 1 ELSE 0 END)"


def _kem_pair_cols(key: str, strty: str) -> str:
    parts = []
    for i, a in enumerate(_KEM_CANDS):
        for j, b in enumerate(_KEM_CANDS):
            if i != j:
                parts.append(
                    f"CAST({_kem_pref_sql(a, b, key, strty)} AS BIGINT)"
                    f" AS n_{i}{j}"
                )
    return ", ".join(parts)


def _kem_stack() -> str:
    """24 (perm, cost) rows; cost = sum of disagreeing pair counts."""
    rows = []
    for perm in permutations(range(4)):
        name = "".join(_KEM_CANDS[i][0] for i in perm)
        terms = []
        for x in range(4):
            for y in range(x + 1, 4):
                # perm places perm[x] before perm[y]; disagreements
                # are ballots preferring perm[y] over perm[x]
                terms.append(f"n_{perm[y]}{perm[x]}")
        rows.append(f"'{name}', {' + '.join(terms)}")
    return f"stack(24, {', '.join(rows)}) AS (perm, cost)"


def _kem_union() -> str:
    rows = []
    for perm in permutations(range(4)):
        name = "".join(_KEM_CANDS[i][0] for i in perm)
        terms = []
        for x in range(4):
            for y in range(x + 1, 4):
                terms.append(f"n_{perm[y]}{perm[x]}")
        rows.append(
            f"SELECT '{name}' AS perm,"
            f" {' + '.join(terms)} AS cost FROM pairs"
        )
    return " UNION ALL ".join(rows)


@query(
    "election_kemeny_rank_4",
    oracle=f"""
        WITH pairs AS MATERIALIZED (
            SELECT {_kem_pair_cols("c_custkey", "VARCHAR")}
            FROM customer
        ), scored AS (
            {_kem_union()}
        ), best AS (
            SELECT MIN(cost) AS mc FROM scored
        )
        SELECT s.perm, CAST(s.cost AS BIGINT) AS cost,
               s.cost = b.mc AND s.perm = (
                   SELECT MIN(s2.perm) FROM scored s2, best b2
                   WHERE s2.cost = b2.mc) AS is_kemeny
        FROM scored s CROSS JOIN best b
        ORDER BY cost, perm
    """,
    description="Kemeny-Young consensus over 4 candidates, exact: "
    "the pairwise preference matrix needs NO ranking rows — voter v "
    "prefers a to b iff md5-hash(v,a) < md5-hash(v,b), so all 12 "
    "ordered-pair counts are parallel CASE sums in ONE customer "
    "scan — and the full 4! = 24 permutation scoreboard (cost = "
    "total pairwise disagreement, the Kendall-tau distance sum) is "
    "generated from one itertools loop into both engines. The "
    "minimum-cost permutation (lexicographic tie-break) is the "
    "Kemeny ranking, flagged in the output. 100 TB shape: one scan "
    "with k(k-1) conditional sums, then constant 24-row algebra — "
    "NP-hard in k but k is 4; the committee-consensus aggregator "
    "done right for small slates.",
)
def election_kemeny_rank_4(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    pairs = cust.agg(
        *[
            F.expr(
                f"CAST({_kem_pref_sql(a, b, 'c_custkey', 'STRING')}"
                f" AS BIGINT)"
            ).alias(f"n_{i}{j}")
            for i, a in enumerate(_KEM_CANDS)
            for j, b in enumerate(_KEM_CANDS)
            if i != j
        ]
    )
    scored = pairs.selectExpr(_kem_stack()).localCheckpoint(
        eager=False
    )  # 24-row scoreboard, 2 consumers
    best = scored.agg(F.min("cost").alias("mc"))
    win = (
        scored.crossJoin(F.broadcast(best))
        .where(F.col("cost") == F.col("mc"))
        .agg(F.min("perm").alias("wperm"))
    )
    return (
        scored.crossJoin(F.broadcast(best))
        .crossJoin(F.broadcast(win))
        .select(
            "perm",
            F.col("cost").cast("long").alias("cost"),
            (
                (F.col("cost") == F.col("mc"))
                & (F.col("perm") == F.col("wperm"))
            ).alias("is_kemeny"),
        )
        .orderBy("cost", "perm")
    )


_KS_DBUCKET = 1 << 10


@query(
    "opt_knapsack_density_gap",
    oracle=f"""
        WITH items AS (
            SELECT p_partkey AS pk,
                   CAST(p_size AS BIGINT) AS w,
                   CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100
                        AS BIGINT) AS v
            FROM part
        ), tot AS (
            SELECT CAST(SUM(w) AS BIGINT) AS tw FROM items
        ), ranked AS (
            SELECT pk, w, v,
                   CAST(SUM(w) OVER (ORDER BY (v * 1000 // w) DESC,
                        pk ROWS BETWEEN UNBOUNDED PRECEDING AND
                        CURRENT ROW) AS BIGINT) AS cumw
            FROM items
        ), taken AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_taken,
                   CAST(SUM(v) AS BIGINT) AS greedy_value,
                   CAST(MAX(cumw) AS BIGINT) AS taken_w
            FROM ranked, tot WHERE cumw <= tw // 4
        ), split AS (
            SELECT w AS w_next, v AS v_next
            FROM ranked, tot WHERE cumw > tw // 4
            ORDER BY cumw LIMIT 1
        )
        SELECT t2.tw // 4 AS budget_weight,
               k.n_taken, k.greedy_value, k.taken_w,
               CAST(k.greedy_value
                    + (t2.tw // 4 - k.taken_w) * s.v_next // s.w_next
                    AS BIGINT) AS fractional_bound,
               CAST(((t2.tw // 4 - k.taken_w) * s.v_next // s.w_next)
                    * 1000 // (k.greedy_value
                    + (t2.tw // 4 - k.taken_w) * s.v_next // s.w_next)
                    AS BIGINT) AS gap_permille
        FROM taken k CROSS JOIN split s CROSS JOIN tot t2
    """,
    description="Greedy knapsack with its own optimality "
    "certificate: parts (value = retail cents, weight = size) are "
    "taken in exact integer density order (v*1000 div w, key tie-"
    "break) until the budget — a quarter of total weight — would "
    "overflow; the fractional-relaxation bound (taken value + the "
    "split item's pro-rata share) upper-bounds EVERY 0/1 solution, "
    "so the emitted gap permille certifies how far greedy can "
    "possibly be from optimal, with no solver in sight. The Spark "
    "plan computes the prefix weights with the two-level "
    "distributed running total (density-bucket carries, partitioned "
    "windows); the oracle is the textbook global-window form — the "
    "hash match proves the decomposition. 100 TB shape: one scan, "
    "the bounded carry spine, two filtered aggregates — the budget-"
    "selection pattern behind data-pruning and shelf-space "
    "decisions alike.",
)
def opt_knapsack_density_gap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    items = part.selectExpr(
        "p_partkey AS pk",
        "CAST(p_size AS BIGINT) AS w",
        "CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100 AS BIGINT)"
        " AS v",
    ).withColumn("nd", F.expr("-(v * 1000 div w)"))
    tot = items.agg(F.sum("w").cast("long").alias("tw"))
    ranked = distributed_running_total(
        items.withColumn("ndb", F.expr(f"nd div {_KS_DBUCKET}")),
        F.col("w"),
        "ndb",
        ["nd", "pk"],
        out_col="cumw",
        zero=F.lit(0).cast("bigint"),
    ).localCheckpoint(eager=False)  # feeds taken + split
    taken = (
        ranked.crossJoin(F.broadcast(tot))
        .where(F.expr("cumw <= tw div 4"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_taken"),
            F.sum("v").cast("long").alias("greedy_value"),
            F.max("cumw").cast("long").alias("taken_w"),
        )
    )
    over = (
        ranked.crossJoin(F.broadcast(tot))
        .where(F.expr("cumw > tw div 4"))
    )
    first_over = over.agg(F.min("cumw").alias("mcw"))
    split = (
        over.crossJoin(F.broadcast(first_over))
        .where(F.col("cumw") == F.col("mcw"))
        .selectExpr("w AS w_next", "v AS v_next")
    )
    return (
        taken.crossJoin(F.broadcast(split))
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "tw div 4 AS budget_weight",
            "n_taken",
            "greedy_value",
            "taken_w",
            "CAST(greedy_value + (tw div 4 - taken_w) * v_next"
            " div w_next AS BIGINT) AS fractional_bound",
            "CAST(((tw div 4 - taken_w) * v_next div w_next) * 1000"
            " div (greedy_value + (tw div 4 - taken_w) * v_next"
            " div w_next) AS BIGINT) AS gap_permille",
        )
    )
