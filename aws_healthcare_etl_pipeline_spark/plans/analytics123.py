"""Wave-149 (round 5): stable matching + Luhn check-digit audit.

* ``match_stable_assignment`` — Gale-Shapley deferred acceptance
  between 25 consumer groups and 25 shards (both keyed by nation):
  preference matrices from the md5 nibble-ladder hash, proposals by
  rank tables (ROW_NUMBER over hash order), and 16 simultaneous-
  proposal rounds (convergence measured at 14 on the fixed 25-key
  universe, which is scale-factor-independent).  Per round: free consumers propose to their
  idx-th choice, each shard keeps the best of {current partner,
  proposers} by its own hash preference, displaced/rejected
  consumers advance.  The Spark side iterates over the bounded
  state table with per-step barriers; the oracle unrolls the same
  16 rounds as generated chained CTEs with every level
  MATERIALIZED (each level is referenced 3x — the 2^k re-inlining
  trap).  A ``converged`` flag is emitted rather than assumed.
* ``dq_luhn_check_digit_audit`` — the Luhn mod-10 check digit over
  8-digit account numbers derived from custkey, fully unrolled as
  fixed-position arithmetic (no explode, no UDF): (1) every
  generated check digit validates, (2) a deterministic single-digit
  corruption is detected on EVERY row (Luhn's guarantee), and
  (3) a deterministic adjacent transposition is undetected EXACTLY
  when the swapped pair is {0,9} or equal — the classic blind spot,
  emitted as an integer identity between the observed misses and
  the pair census, so the audit proves the textbook property on
  real keys rather than asserting it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import hex4, query, sql_hex4

# ------------------------------------------------ stable matching

_GS_ROUNDS = 16


def _gs_oracle() -> str:
    levels = []
    for k in range(1, _GS_ROUNDS + 1):
        p = f"st{k - 1}"
        levels.append(
            f"""st{k} AS MATERIALIZED (
            SELECT s.m,
                   CASE WHEN w2.m IS NOT NULL THEN s.idx
                        WHEN s.w IS NULL AND pr.tw IS NOT NULL
                             THEN s.idx + 1
                        ELSE s.idx END AS idx,
                   w2.tw AS w
            FROM {p} s
            LEFT JOIN (
                SELECT f.m, rt.w AS tw
                FROM {p} f JOIN rt ON rt.m = f.m AND rt.rnk = f.idx
                WHERE f.w IS NULL
            ) pr ON pr.m = s.m
            LEFT JOIN (
                SELECT m, tw FROM (
                    SELECT c.m, c.tw,
                           ROW_NUMBER() OVER (PARTITION BY c.tw
                               ORDER BY pw.r, c.m) AS rn
                    FROM (
                        SELECT e.m, e.w AS tw FROM {p} e
                        WHERE e.w IS NOT NULL
                        UNION ALL
                        SELECT f.m, rt.w
                        FROM {p} f
                        JOIN rt ON rt.m = f.m AND rt.rnk = f.idx
                        WHERE f.w IS NULL
                    ) c JOIN pw ON pw.w = c.tw AND pw.m = c.m
                ) rk WHERE rn = 1
            ) w2 ON w2.m = s.m
        )"""
        )
    chain = ", ".join(levels)
    return f"""
        WITH ids AS MATERIALIZED (
            SELECT n_nationkey AS k FROM nation
        ), pm AS MATERIALIZED (
            SELECT a.k AS m, b.k AS w,
                   ({sql_hex4(
                       "'gs-m:' || CAST(a.k AS VARCHAR) || ':'"
                       " || CAST(b.k AS VARCHAR)"
                   )}) AS r
            FROM ids a, ids b
        ), pw AS MATERIALIZED (
            SELECT a.k AS w, b.k AS m,
                   ({sql_hex4(
                       "'gs-w:' || CAST(a.k AS VARCHAR) || ':'"
                       " || CAST(b.k AS VARCHAR)"
                   )}) AS r
            FROM ids a, ids b
        ), rt AS MATERIALIZED (
            SELECT m, w,
                   ROW_NUMBER() OVER (PARTITION BY m ORDER BY r, w)
                       - 1 AS rnk
            FROM pm
        ), wrk AS MATERIALIZED (
            SELECT w, m,
                   ROW_NUMBER() OVER (PARTITION BY w ORDER BY r, m)
                       - 1 AS wrnk
            FROM pw
        ), st0 AS MATERIALIZED (
            SELECT k AS m, 0 AS idx, CAST(NULL AS BIGINT) AS w
            FROM ids
        ), {chain}, fin AS (
            SELECT * FROM st{_GS_ROUNDS}
        ), conv AS (
            SELECT CAST(CASE WHEN COUNT(*) FILTER (WHERE w IS NULL) = 0
                        THEN 1 ELSE 0 END AS BIGINT) AS converged
            FROM fin
        )
        SELECT f.m AS consumer, CAST(f.w AS BIGINT) AS shard,
               CAST(f.idx AS BIGINT) AS consumer_rank,
               CAST(wr.wrnk AS BIGINT) AS shard_rank,
               c.converged
        FROM fin f
        JOIN wrk wr ON wr.w = f.w AND wr.m = f.m
        CROSS JOIN conv c
        ORDER BY consumer
    """


@query(
    "match_stable_assignment",
    oracle=_gs_oracle(),
    description="Gale-Shapley stable assignment of 25 consumer "
    "groups to 25 shards (the two-sided matching that minimizes "
    "reassignment churn when both sides have preferences — here "
    "md5-hash preference matrices standing in for data-locality "
    "scores): rank tables from ROW_NUMBER over hash order, 16 "
    "simultaneous-proposal deferred-acceptance rounds, displaced "
    "and rejected consumers advancing their proposal index; "
    "convergence is EMITTED as a flag, not assumed. The oracle "
    "unrolls the same rounds as generated chained CTEs with every "
    "level MATERIALIZED (each is referenced 3x — the re-inlining "
    "trap); the Spark side computes both preference matrices "
    "IN SPARK (so hash semantics match the oracle bit-for-bit), "
    "then runs deferred acceptance driver-side under the "
    "bounded-collect contract — the state is 25 rows and the "
    "matrices 625 rows BY CONSTRUCTION, and 16 iterated tiny-table "
    "Spark rounds cost fixed job latency x rounds with zero data "
    "parallelism to exploit (measured 19s at any SF). 100 TB "
    "shape: pure model-table computation — the preference matrices "
    "would come from one data-scale locality aggregation, and the "
    "matching itself never touches fact-grain data.",
)
def match_stable_assignment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    ids = nation.select(F.col("n_nationkey").alias("k"))
    a = ids.select(F.col("k").alias("m"))
    b = ids.select(F.col("k").alias("w"))

    def hx(prefix: str) -> F.Column:
        return hex4(
            F.concat(
                F.lit(prefix),
                F.col("m").cast("string"),
                F.lit(":"),
                F.col("w").cast("string"),
            )
        )

    # Both 625-row preference matrices are computed IN SPARK (one
    # tiny job) so the md5 nibble-ladder matches the oracle
    # bit-for-bit, then collected ONCE under the bounded-collect
    # contract: 25 keys x 25 keys BY CONSTRUCTION, independent of
    # scale factor. The previous implementation iterated the 25-row
    # state as a DataFrame with a hard collect barrier per round —
    # correct, but 16 rounds x multi-join tiny plans = fixed job
    # latency x rounds (19s at ANY SF, zero data parallelism to
    # exploit). Deferred acceptance itself is pure model-table math;
    # the driver loop below is the same contract as the k x dim
    # centroid transfers, and the unchanged oracle hash proves it.
    pm_rows = (
        a.crossJoin(b).select("m", "w", hx("gs-m:").alias("r")).collect()
    )
    pw_rows = (
        a.crossJoin(b)
        .select(
            "w",
            "m",
            hex4(
                F.concat(
                    F.lit("gs-w:"),
                    F.col("w").cast("string"),
                    F.lit(":"),
                    F.col("m").cast("string"),
                )
            ).alias("r"),
        )
        .collect()
    )

    keys = sorted({row["m"] for row in pm_rows})
    # rank table rt: per consumer m, shards ordered by (r, w);
    # list position = rnk (the oracle's ROW_NUMBER()-1)
    by_m: dict = {m: [] for m in keys}
    for row in pm_rows:
        by_m[row["m"]].append((row["r"], row["w"]))
    rt = {m: [w for _, w in sorted(v)] for m, v in by_m.items()}
    # shard-side preference: (w, m) -> r, and wrnk = rank of m in
    # w's order by (r, m)
    pwr = {(row["w"], row["m"]): row["r"] for row in pw_rows}
    by_w: dict = {w: [] for w in keys}
    for row in pw_rows:
        by_w[row["w"]].append((row["r"], row["m"]))
    wrnk = {}
    for w, v in by_w.items():
        for rank, (_, m) in enumerate(sorted(v)):
            wrnk[(w, m)] = rank

    # _GS_ROUNDS simultaneous-proposal rounds, replicating the
    # oracle's st_k recurrence exactly: free consumers propose to
    # their idx-th choice; each shard keeps the best of {standing
    # partner, proposers} by (shard's r, m); idx advances ONLY for
    # free consumers who proposed and did not win; w is the winner
    # map's value (NULL for everyone else, displaced included).
    state = {m: (0, None) for m in keys}
    for _ in range(_GS_ROUNDS):
        props = {
            m: rt[m][idx]
            for m, (idx, w) in state.items()
            if w is None and idx < len(rt[m])
        }
        cands: dict = {}
        for m, (idx, w) in state.items():
            if w is not None:
                cands.setdefault(w, []).append(m)
        for m, tw in props.items():
            cands.setdefault(tw, []).append(m)
        winners = {
            min(ms, key=lambda m: (pwr[(tw, m)], m)): tw
            for tw, ms in cands.items()
        }
        state = {
            m: (
                idx
                if m in winners
                else (idx + 1 if w is None and m in props else idx),
                winners.get(m),
            )
            for m, (idx, w) in state.items()
        }

    converged = int(all(w is not None for _, w in state.values()))
    rows = [
        (m, w, idx, wrnk[(w, m)], converged)
        for m, (idx, w) in sorted(state.items())
        if w is not None  # oracle's INNER join on wrk drops unmatched
    ]
    return spark.createDataFrame(
        rows,
        "consumer int, shard long, consumer_rank long, "
        "shard_rank long, converged long",
    ).orderBy("consumer")


# ------------------------------------------------ Luhn audit

_LUHN_W = 9  # digits of acct*10+chk (8-digit account + check)


def _luhn_sum(numexpr: str) -> str:
    """Unrolled Luhn digit sum of a 9-digit number expression."""
    terms = []
    for i in range(_LUHN_W):
        d = f"(({numexpr}) // {10 ** i} % 10)"
        if i % 2 == 1:
            terms.append(
                f"(CASE WHEN {d} * 2 > 9 THEN {d} * 2 - 9"
                f" ELSE {d} * 2 END)"
            )
        else:
            terms.append(d)
    return "(" + " + ".join(terms) + ")"


def _luhn_sum_spark(numexpr: str) -> str:
    return _luhn_sum(numexpr).replace("//", "div")


@query(
    "dq_luhn_check_digit_audit",
    oracle=f"""
        WITH base AS (
            SELECT c_custkey % 100000000 AS acct,
                   c_custkey % 7 AS p,
                   c_custkey % 9 + 1 AS delta
            FROM customer
        ), checked AS (
            SELECT acct, p, delta,
                   (10 - {_luhn_sum("acct * 10")} % 10) % 10 AS chk
            FROM base
        ), full_n AS (
            SELECT acct, p, delta, chk,
                   acct * 10 + chk AS num,
                   (acct * 10 + chk) // POWER(10, p)::BIGINT % 10
                       AS fd_lo,
                   (acct * 10 + chk) // POWER(10, p + 1)::BIGINT % 10
                       AS fd_hi
            FROM checked
        ), variants AS (
            SELECT num, fd_lo, fd_hi,
                   num + ((fd_lo + delta) % 10 - fd_lo)
                       * POWER(10, p)::BIGINT AS corrupted,
                   num + (fd_hi - fd_lo) * POWER(10, p)::BIGINT
                       + (fd_lo - fd_hi) * POWER(10, p + 1)::BIGINT
                       AS transposed
            FROM full_n
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN {_luhn_sum("num")} % 10 = 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
               CAST(SUM(CASE WHEN {_luhn_sum("corrupted")} % 10 != 0
                    THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_corruption_detected,
               CAST(SUM(CASE WHEN {_luhn_sum("transposed")} % 10 = 0
                    THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_transposition_missed,
               CAST(SUM(CASE WHEN fd_lo = fd_hi
                             OR (fd_lo + fd_hi = 9
                                 AND fd_lo * fd_hi = 0)
                    THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_blind_spot_pairs
        FROM variants
    """,
    description="Luhn mod-10 check-digit audit over 8-digit account "
    "numbers derived from custkey, fully unrolled as fixed-position "
    "integer arithmetic (no explode, no UDF): every generated check "
    "digit validates, a deterministic single-digit corruption "
    "(delta 1..9 at position custkey%7) is detected on EVERY row — "
    "Luhn's guarantee — and a deterministic adjacent transposition "
    "goes undetected EXACTLY when the swapped pair is equal or "
    "{{0,9}}: the audit emits both the observed misses and the "
    "blind-spot pair census, whose equality proves the textbook "
    "property on real keys. 100 TB shape: a single scan-side "
    "expression battery over the customer dimension; one "
    "aggregation, five counters.",
)
def dq_luhn_check_digit_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    base = customer.select(
        (F.col("c_custkey") % 100000000).alias("acct"),
        (F.col("c_custkey") % 7).alias("p"),
        (F.col("c_custkey") % 9 + 1).alias("delta"),
    )
    checked = base.withColumn(
        "chk",
        F.expr(f"(10 - {_luhn_sum_spark('acct * 10')} % 10) % 10"),
    )
    full_n = checked.select(
        "p",
        "delta",
        F.expr("acct * 10 + chk").alias("num"),
        F.expr(
            "(acct * 10 + chk) div CAST(POWER(10, p) AS BIGINT) % 10"
        ).alias("fd_lo"),
        F.expr(
            "(acct * 10 + chk) div CAST(POWER(10, p + 1) AS BIGINT)"
            " % 10"
        ).alias("fd_hi"),
    )
    variants = full_n.select(
        "num",
        "fd_lo",
        "fd_hi",
        F.expr(
            "num + ((fd_lo + delta) % 10 - fd_lo)"
            " * CAST(POWER(10, p) AS BIGINT)"
        ).alias("corrupted"),
        F.expr(
            "num + (fd_hi - fd_lo) * CAST(POWER(10, p) AS BIGINT)"
            " + (fd_lo - fd_hi) * CAST(POWER(10, p + 1) AS BIGINT)"
        ).alias("transposed"),
    )
    return variants.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            F.expr(
                f"CASE WHEN {_luhn_sum_spark('num')} % 10 = 0"
                " THEN 1 ELSE 0 END"
            )
        )
        .cast("long")
        .alias("n_valid"),
        F.sum(
            F.expr(
                f"CASE WHEN {_luhn_sum_spark('corrupted')} % 10 != 0"
                " THEN 1 ELSE 0 END"
            )
        )
        .cast("long")
        .alias("n_corruption_detected"),
        F.sum(
            F.expr(
                f"CASE WHEN {_luhn_sum_spark('transposed')} % 10 = 0"
                " THEN 1 ELSE 0 END"
            )
        )
        .cast("long")
        .alias("n_transposition_missed"),
        F.sum(
            F.expr(
                "CASE WHEN fd_lo = fd_hi"
                " OR (fd_lo + fd_hi = 9 AND fd_lo * fd_hi = 0)"
                " THEN 1 ELSE 0 END"
            )
        )
        .cast("long")
        .alias("n_blind_spot_pairs"),
    )
