"""Wave-157 (round 5): social choice — IRV + voting-rule comparison.

* ``election_irv_rounds`` — instant-runoff voting over hash-
  generated ballots (every customer ranks 5 candidates by the md5
  nibble hash, ties broken by candidate id): four elimination
  rounds, each recounting first choices among SURVIVING candidates
  (per-voter argmin rank via a window), eliminating the lowest
  (ties by id) and transferring ballots — the emitted table shows
  each round's eliminated candidate with its vote count and the
  final winner.  Unlike the iterative-state traps, each round is a
  FRESH aggregation over the ballots against a 1-row broadcast
  eliminated set, so there is no recursive lineage at all.
* ``election_voting_rules_compared`` — the social-choice classic on
  the SAME ballots: plurality counts, Borda scores, the full
  pairwise (Condorcet) win matrix via the bounded 10-pairs-per-
  voter self-join, and per-candidate flags for plurality winner,
  Borda winner and Condorcet winner — the divergence between rules
  (when it occurs) is the entire field of social choice, measured
  here on planted ballots.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import hex4, query, sql_hex4

_EL_CANDS = 5
_EL_ROUNDS = 4  # eliminate down to a winner


_BALLOTS_SQL = f"""ballots AS MATERIALIZED (
            SELECT c_custkey AS voter, cand.c AS cand,
                   ROW_NUMBER() OVER (PARTITION BY c_custkey
                       ORDER BY ({sql_hex4(
                           "'vote:' || CAST(c_custkey AS VARCHAR)"
                           " || ':' || CAST(cand.c AS VARCHAR)"
                       )}), cand.c) AS rnk
            FROM customer,
                 (SELECT UNNEST(generate_series(0, {_EL_CANDS - 1}))
                  AS c) cand
        )"""


def _irv_oracle() -> str:
    rounds = []
    for k in range(1, _EL_ROUNDS + 1):
        elim_union = (
            " UNION ALL ".join(
                f"SELECT cand FROM e{j}" for j in range(1, k)
            )
            or "SELECT -1 AS cand WHERE FALSE"
        )
        rounds.append(
            f"""elim{k} AS MATERIALIZED (
            {elim_union}
        ), fc{k} AS MATERIALIZED (
            SELECT cand, CAST(COUNT(*) AS BIGINT) AS votes
            FROM (
                SELECT voter, cand,
                       ROW_NUMBER() OVER (PARTITION BY voter
                           ORDER BY rnk) AS rn
                FROM ballots
                WHERE cand NOT IN (SELECT cand FROM elim{k})
            ) WHERE rn = 1 GROUP BY cand
        ), e{k} AS MATERIALIZED (
            SELECT cand, votes FROM fc{k}
            ORDER BY votes, cand LIMIT 1
        )"""
        )
    n = _EL_ROUNDS
    return f"""
        WITH {_BALLOTS_SQL}, {", ".join(rounds)}, winner AS (
            SELECT cand, votes FROM fc{n}
            WHERE cand NOT IN (SELECT cand FROM e{n})
        )
        SELECT * FROM (
            {" UNION ALL ".join(
                f'''SELECT {k} AS round,
                       CAST(cand AS BIGINT) AS cand, votes,
                       CAST(0 AS BIGINT) AS is_winner FROM e{k}'''
                for k in range(1, n + 1)
            )}
            UNION ALL
            SELECT {n + 1}, CAST(cand AS BIGINT), votes,
                   CAST(1 AS BIGINT) FROM winner
        ) ORDER BY round
    """


@query(
    "election_irv_rounds",
    oracle=_irv_oracle(),
    description="Instant-runoff voting over hash-generated ballots "
    "(each customer ranks 5 candidates by md5 order): four "
    "elimination rounds, each a FRESH first-choice recount among "
    "surviving candidates (per-voter argmin rank window) against a "
    "broadcast eliminated set — no recursive lineage, so the "
    "unrolled rounds dodge the iterative-state traps entirely. The "
    "output shows each eliminated candidate with its vote count at "
    "elimination plus the final winner. 100 TB shape: ballots are "
    "one generated fan-out of the voter dimension; every round is "
    "one partitioned window + one aggregation; eliminated sets are "
    "1-row broadcasts.",
)
def election_irv_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    cands = F.explode(
        F.sequence(F.lit(0), F.lit(_EL_CANDS - 1))
    ).alias("cand")
    wb = Window.partitionBy("voter").orderBy("h", "cand")
    ballots = (
        customer.select(
            F.col("c_custkey").alias("voter"), cands
        )
        .withColumn(
            "h",
            hex4(
                F.concat(
                    F.lit("vote:"),
                    F.col("voter").cast("string"),
                    F.lit(":"),
                    F.col("cand").cast("string"),
                )
            ),
        )
        .withColumn("rnk", F.row_number().over(wb))
        .select("voter", "cand", "rnk")
        .localCheckpoint(eager=False)  # reused every round
    )
    eliminated: list = []
    out_rows = []
    wv = Window.partitionBy("voter").orderBy("rnk")
    for k in range(1, _EL_ROUNDS + 1):
        surviving = ballots.where(
            ~F.col("cand").isin(eliminated)
            if eliminated
            else F.lit(True)
        )
        fc = (
            surviving.withColumn("rn", F.row_number().over(wv))
            .where(F.col("rn") == 1)
            .groupBy("cand")
            .agg(F.count(F.lit(1)).cast("long").alias("votes"))
        )
        loser = fc.orderBy("votes", "cand").limit(1).collect()[0]
        eliminated.append(loser["cand"])
        out_rows.append((k, int(loser["cand"]), int(loser["votes"]), 0))
        if k == _EL_ROUNDS:
            win = (
                fc.where(F.col("cand") != loser["cand"])
                .orderBy("cand")
                .collect()
            )
            for r in win:
                out_rows.append(
                    (k + 1, int(r["cand"]), int(r["votes"]), 1)
                )
    return spark.createDataFrame(
        out_rows, "round: int, cand: long, votes: long, is_winner: long"
    ).orderBy("round")


@query(
    "election_voting_rules_compared",
    oracle=f"""
        WITH {_BALLOTS_SQL}, plur AS (
            SELECT cand, CAST(COUNT(*) AS BIGINT) AS plurality_votes
            FROM ballots WHERE rnk = 1 GROUP BY cand
        ), borda AS (
            SELECT cand,
                   CAST(SUM({_EL_CANDS} - rnk) AS BIGINT)
                       AS borda_score
            FROM ballots GROUP BY cand
        ), pairwise AS (
            SELECT a.cand AS ca, b.cand AS cb,
                   CAST(SUM(CASE WHEN a.rnk < b.rnk THEN 1 ELSE 0 END)
                        AS BIGINT) AS a_over_b,
                   CAST(SUM(CASE WHEN b.rnk < a.rnk THEN 1 ELSE 0 END)
                        AS BIGINT) AS b_over_a
            FROM ballots a JOIN ballots b
              ON b.voter = a.voter AND b.cand > a.cand
            GROUP BY 1, 2
        ), wins AS (
            SELECT cand, CAST(SUM(w) AS BIGINT) AS n_pairwise_wins
            FROM (
                SELECT ca AS cand,
                       CASE WHEN a_over_b > b_over_a THEN 1 ELSE 0 END
                           AS w
                FROM pairwise
                UNION ALL
                SELECT cb,
                       CASE WHEN b_over_a > a_over_b THEN 1 ELSE 0 END
                FROM pairwise
            ) GROUP BY cand
        )
        SELECT CAST(p.cand AS BIGINT) AS cand,
               p.plurality_votes, bo.borda_score, w.n_pairwise_wins,
               CAST(CASE WHEN p.plurality_votes =
                    (SELECT MAX(plurality_votes) FROM plur)
                    THEN 1 ELSE 0 END AS BIGINT) AS is_plurality_winner,
               CAST(CASE WHEN bo.borda_score =
                    (SELECT MAX(borda_score) FROM borda)
                    THEN 1 ELSE 0 END AS BIGINT) AS is_borda_winner,
               CAST(CASE WHEN w.n_pairwise_wins = {_EL_CANDS - 1}
                    THEN 1 ELSE 0 END AS BIGINT)
                   AS is_condorcet_winner
        FROM plur p
        JOIN borda bo ON bo.cand = p.cand
        JOIN wins w ON w.cand = p.cand
        ORDER BY cand
    """,
    description="The social-choice classic on one ballot set: "
    "plurality counts, Borda scores, the full pairwise Condorcet "
    "matrix (bounded 10-pairs-per-voter self-join co-partitioned on "
    "voter), and per-candidate winner flags under each rule — the "
    "divergence between rules, when it occurs, is the entire field "
    "of social choice, measured here exactly on hash-generated "
    "ballots. A Condorcet winner beats all 4 rivals pairwise; its "
    "absence (a Condorcet cycle) shows as no candidate with 4 "
    "wins. 100 TB shape: one generated ballot fan-out, one "
    "co-partitioned pair join with fan-out bounded by the "
    "candidate count, bounded 5-row outputs.",
)
def election_voting_rules_compared(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    cands = F.explode(
        F.sequence(F.lit(0), F.lit(_EL_CANDS - 1))
    ).alias("cand")
    wb = Window.partitionBy("voter").orderBy("h", "cand")
    ballots = (
        customer.select(F.col("c_custkey").alias("voter"), cands)
        .withColumn(
            "h",
            hex4(
                F.concat(
                    F.lit("vote:"),
                    F.col("voter").cast("string"),
                    F.lit(":"),
                    F.col("cand").cast("string"),
                )
            ),
        )
        .withColumn("rnk", F.row_number().over(wb))
        .select("voter", "cand", "rnk")
        .localCheckpoint(eager=False)  # reused by all three rules
    )
    plur = ballots.where(F.col("rnk") == 1).groupBy("cand").agg(
        F.count(F.lit(1)).cast("long").alias("plurality_votes")
    )
    borda = ballots.groupBy("cand").agg(
        F.sum(F.lit(_EL_CANDS) - F.col("rnk"))
        .cast("long")
        .alias("borda_score")
    )
    a = ballots.select(
        "voter", F.col("cand").alias("ca"), F.col("rnk").alias("ra")
    )
    b = ballots.select(
        "voter", F.col("cand").alias("cb"), F.col("rnk").alias("rb")
    )
    pairwise = (
        a.join(b, "voter")
        .where(F.col("cb") > F.col("ca"))
        .groupBy("ca", "cb")
        .agg(
            F.sum(
                F.when(F.col("ra") < F.col("rb"), 1).otherwise(0)
            ).alias("a_over_b"),
            F.sum(
                F.when(F.col("rb") < F.col("ra"), 1).otherwise(0)
            ).alias("b_over_a"),
        )
    )
    wins = (
        pairwise.select(
            F.col("ca").alias("cand"),
            F.when(F.col("a_over_b") > F.col("b_over_a"), 1)
            .otherwise(0)
            .alias("w"),
        )
        .unionByName(
            pairwise.select(
                F.col("cb").alias("cand"),
                F.when(F.col("b_over_a") > F.col("a_over_b"), 1)
                .otherwise(0)
                .alias("w"),
            )
        )
        .groupBy("cand")
        .agg(F.sum("w").cast("long").alias("n_pairwise_wins"))
    )
    mp = plur.agg(F.max("plurality_votes").alias("mp"))
    mb = borda.agg(F.max("borda_score").alias("mb"))
    return (
        plur.join(borda, "cand")
        .join(wins, "cand")
        .crossJoin(F.broadcast(mp))
        .crossJoin(F.broadcast(mb))
        .select(
            F.col("cand").cast("long").alias("cand"),
            "plurality_votes",
            "borda_score",
            "n_pairwise_wins",
            F.when(F.col("plurality_votes") == F.col("mp"), 1)
            .otherwise(0)
            .cast("long")
            .alias("is_plurality_winner"),
            F.when(F.col("borda_score") == F.col("mb"), 1)
            .otherwise(0)
            .cast("long")
            .alias("is_borda_winner"),
            F.when(F.col("n_pairwise_wins") == _EL_CANDS - 1, 1)
            .otherwise(0)
            .cast("long")
            .alias("is_condorcet_winner"),
        )
        .orderBy("cand")
    )
