"""Wave-85 (round 5): off-policy bandit replay + run-length encoding
economics.

* ``bandit_epsilon_greedy_replay`` — the Li-et-al replay method for
  offline bandit evaluation, made fully deterministic: each user's
  logged (arm, reward) stream is replayed against an epsilon-greedy
  policy whose exploration schedule is a fixed rotation (every 4th
  event explores, cycling the arms) and whose exploitation picks the
  best empirical mean via EXACT integer cross-multiplication — only
  events where the policy's choice matches the logged arm update
  state and collect reward (the unbiased replay estimator). The
  recurrence is order-sensitive and non-linear (argmax over running
  state), so execution is the keyed Arrow scan and the proof is a
  step-exact RECURSIVE CTE replay — the established pattern for the
  stateful-DP family (capped balance, token bucket, interval DP).
* ``compression_rle_economics`` — run-length encoding economics of
  the per-user event-type stream: runs are detected with one lag
  comparison per row, and per event type the report gives raw
  symbols vs runs (the RLE compression ratio in integer permille)
  plus the longest run — the encoding-choice audit for
  sequence-shaped training data.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.keyscan import keyed_pandas_scan
from ..sources.tables import load_table
from .registry import query

# ------------------------------------------ epsilon-greedy bandit replay

_ARMS = ("click", "error", "purchase", "signup", "view")  # lexicographic
_EXPLORE_EVERY = 4  # epsilon = 1/4, deterministic rotation


def _exploit_case(prefix: str) -> str:
    """Nested-CASE argmax over the five arm states by exact rational
    comparison: arm b beats the incumbent a iff
    s_b * greatest(c_a, 1) > s_a * greatest(c_b, 1)  (unplayed arms
    count as mean 0); lexicographic scan with strict > keeps the
    earliest arm on ties."""
    cols = {
        "click": ("cc", "cs"),
        "error": ("ec", "es"),
        "purchase": ("pc", "ps"),
        "signup": ("sc", "ss"),
        "view": ("vc", "vs"),
    }
    best_n = "'click'"
    best_c = f"{prefix}cc"
    best_s = f"{prefix}cs"
    for name in _ARMS[1:]:
        c, s = cols[name]
        cond = (
            f"({prefix}{s} * greatest({best_c}, 1) "
            f"> {best_s} * greatest({prefix}{c}, 1))"
        )
        best_n = f"CASE WHEN {cond} THEN '{name}' ELSE {best_n} END"
        best_s = f"CASE WHEN {cond} THEN {prefix}{s} ELSE {best_s} END"
        best_c = f"CASE WHEN {cond} THEN {prefix}{c} ELSE {best_c} END"
    return best_n


def _explore_case(rn_expr: str) -> str:
    whens = " ".join(
        f"WHEN {j} THEN '{arm}'" for j, arm in enumerate(_ARMS)
    )
    return (
        f"CASE (({rn_expr} - 1) // {_EXPLORE_EVERY}) % {len(_ARMS)} "
        f"{whens} END"
    )


def _bandit_oracle() -> str:
    arm_updates = []
    for name, (c, s) in zip(
        _ARMS,
        [("cc", "cs"), ("ec", "es"), ("pc", "ps"), ("sc", "ss"), ("vc", "vs")],
    ):
        arm_updates.append(
            f"x.{c} + CASE WHEN x.m AND x.arm = '{name}' "
            f"THEN 1 ELSE 0 END AS {c},\n"
            f"               x.{s} + CASE WHEN x.m AND x.arm = '{name}' "
            f"THEN x.reward ELSE 0 END AS {s}"
        )
    updates = ",\n               ".join(arm_updates)
    chosen = (
        f"CASE WHEN (e.rn - 1) % {_EXPLORE_EVERY} = 0 "
        f"THEN {_explore_case('e.rn')} "
        f"ELSE {_exploit_case('r.')} END"
    )
    return f"""
        WITH RECURSIVE ev AS (
            SELECT user_id,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn,
                   event_type AS arm,
                   CAST(CAST(value AS DECIMAL(15,2)) * 100 AS BIGINT)
                       AS reward
            FROM events
        ), span AS (
            SELECT user_id, MAX(rn) AS n_events FROM ev GROUP BY user_id
        ), replay(user_id, rn, cc, cs, ec, es, pc, ps, sc, ss, vc, vs,
                  nm, tr) AS (
            SELECT user_id, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0
            FROM span
            UNION ALL
            SELECT x.user_id, x.rn,
               {updates},
               x.nm + CASE WHEN x.m THEN 1 ELSE 0 END AS nm,
               x.tr + CASE WHEN x.m THEN x.reward ELSE 0 END AS tr
            FROM (
                SELECT r.user_id, e.rn, r.cc, r.cs, r.ec, r.es, r.pc,
                       r.ps, r.sc, r.ss, r.vc, r.vs, r.nm, r.tr,
                       e.arm, e.reward,
                       ({chosen}) = e.arm AS m
                FROM replay r JOIN ev e
                  ON e.user_id = r.user_id AND e.rn = r.rn + 1
            ) x
        ), final AS (
            SELECT r.* FROM replay r JOIN span s
              ON s.user_id = r.user_id AND r.rn = s.n_events
        )
        SELECT f.user_id,
               CAST(f.rn AS BIGINT) AS n_events,
               CAST(f.nm AS BIGINT) AS n_matched,
               CAST(f.tr AS BIGINT) AS replay_reward_cents,
               ({_exploit_case('f.')}) AS final_best_arm
        FROM final f
        ORDER BY f.user_id
    """


@query(
    "bandit_epsilon_greedy_replay",
    oracle=_bandit_oracle(),
    description="Offline bandit evaluation by the replay method, "
    "fully deterministic: per user, the logged (arm, reward) stream "
    "is replayed against an epsilon-greedy policy — every 4th event "
    "explores by fixed arm rotation, otherwise the policy exploits "
    "the best empirical mean decided by EXACT integer cross-"
    "multiplication (s_b * max(c_a, 1) > s_a * max(c_b, 1), "
    "lexicographic tiebreak) — and only events where the policy's "
    "pick matches the logged arm update state and collect reward, "
    "which is the unbiased off-policy estimator. The argmax over "
    "running state makes the recurrence provably non-linear (no "
    "window/prefix decomposition), so execution is the Arrow-"
    "batched keyed scan — parallel ACROSS users, sequential only "
    "within one — and the DuckDB RECURSIVE CTE replays every "
    "decision step-exactly; the hash match proves the policy loop. "
    "At 100 TB: rewards quantize to cents JVM-side pre-shuffle, one "
    "hash shuffle on user_id, per-user history bounded.",
)
def bandit_epsilon_greedy_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    slim = events.select(
        "user_id",
        "ts",
        "event_id",
        F.col("event_type").alias("arm"),
        (F.col("value").cast("decimal(15,2)") * 100)
        .cast("bigint")
        .alias("reward"),
    )
    arms = list(_ARMS)
    every = _EXPLORE_EVERY

    def replay(pdf: pd.DataFrame) -> pd.DataFrame:
        # rows arrive pre-sorted by (ts, event_id)
        cnt = {a: 0 for a in arms}
        tot = {a: 0 for a in arms}

        def best() -> str:
            bn, bc, bs = arms[0], cnt[arms[0]], tot[arms[0]]
            for a in arms[1:]:
                if tot[a] * max(bc, 1) > bs * max(cnt[a], 1):
                    bn, bc, bs = a, cnt[a], tot[a]
            return bn

        nm = tr = 0
        logged_arms = pdf["arm"].tolist()
        rewards = pdf["reward"].tolist()
        for idx, (arm, reward) in enumerate(zip(logged_arms, rewards)):
            if idx % every == 0:
                choice = arms[(idx // every) % len(arms)]
            else:
                choice = best()
            if choice == arm:
                nm += 1
                tr += int(reward)
                cnt[arm] += 1
                tot[arm] += int(reward)
        return pd.DataFrame(
            {
                "user_id": [int(pdf["user_id"].iloc[0])],
                "n_events": [len(pdf)],
                "n_matched": [nm],
                "replay_reward_cents": [tr],
                "final_best_arm": [best()],
            }
        )

    out_schema = (
        "user_id long, n_events long, n_matched long, "
        "replay_reward_cents long, final_best_arm string"
    )
    return keyed_pandas_scan(
        slim, "user_id", ["ts", "event_id"], replay, out_schema
    ).orderBy("user_id")


# ---------------------------------------------- RLE encoding economics


@query(
    "compression_rle_economics",
    oracle="""
        WITH runs AS (
            SELECT user_id, event_type,
                   SUM(run_start) OVER (PARTITION BY user_id
                       ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS run_id
            FROM (
                SELECT user_id, event_type, run_start,
                       ROW_NUMBER() OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) AS rn
                FROM (
                    SELECT user_id, event_type, ts, event_id,
                           CASE WHEN LAG(event_type) OVER
                                    (PARTITION BY user_id
                                     ORDER BY ts, event_id)
                                    IS DISTINCT FROM event_type
                                THEN 1 ELSE 0 END AS run_start
                    FROM events
                )
            )
        ), run_lens AS (
            SELECT user_id, run_id,
                   MIN(event_type) AS event_type,
                   CAST(COUNT(*) AS BIGINT) AS run_len
            FROM runs GROUP BY user_id, run_id
        )
        SELECT event_type,
               CAST(SUM(run_len) AS BIGINT) AS n_events,
               CAST(COUNT(*) AS BIGINT) AS n_runs,
               CAST((COUNT(*) * 1000) // SUM(run_len) AS BIGINT)
                   AS runs_per_event_permille,
               CAST(MAX(run_len) AS BIGINT) AS max_run_len
        FROM run_lens
        GROUP BY event_type
        ORDER BY event_type
    """,
    description="Run-length-encoding economics of the per-user event-"
    "type stream: run boundaries are one LAG comparison per row, run "
    "ids a per-user prefix sum of boundary flags, and per event type "
    "the report gives symbols vs runs (RLE cost in integer permille "
    "— runs_per_event_permille is the compressed/raw ratio) plus "
    "the longest run, the encoding-choice audit for sequence-shaped "
    "training data (a stream at 990 permille gains nothing from "
    "RLE; one at 200 shrinks 5x). Scale: both windows partition by "
    "user_id — the shuffle the sequence grain already requires — "
    "and the rollup is map-side combined; no global window exists.",
)
def compression_rle_economics(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "user_id",
        "event_type",
        F.when(
            ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type")), 1
        )
        .otherwise(0)
        .alias("run_start"),
        F.row_number().over(w).alias("rn"),
    )
    wc = (
        Window.partitionBy("user_id")
        .orderBy("rn")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    runs = seq.select(
        "user_id",
        "event_type",
        F.sum("run_start").over(wc).alias("run_id"),
    )
    run_lens = runs.groupBy("user_id", "run_id").agg(
        F.min("event_type").alias("event_type"),
        F.count(F.lit(1)).cast("long").alias("run_len"),
    )
    return (
        run_lens.groupBy("event_type")
        .agg(
            F.sum("run_len").cast("long").alias("n_events"),
            F.count(F.lit(1)).cast("long").alias("n_runs"),
            F.max("run_len").cast("long").alias("max_run_len"),
        )
        .select(
            "event_type",
            "n_events",
            "n_runs",
            F.expr("(n_runs * 1000) div n_events")
            .cast("long")
            .alias("runs_per_event_permille"),
            "max_run_len",
        )
        .orderBy("event_type")
    )
