"""Wave-55 (round 5): order-sensitive stateful scan + deterministic
dataset sharding — one honestly-sequential operator proven by a
recursive replay oracle, one export primitive built on the repo's
distributed running-total decomposition.

* ``inventory_capped_running_balance`` — per-key clamped prefix sum
  b_t = clamp(b_{t-1} + delta_t, 0, CAP). The clamp makes it
  NON-linear: no window/prefix-sum decomposition exists (unlike plain
  running totals), so the execution is an ``applyInPandas`` per-key
  ordered scan — the same honest shape as FFD packing and the
  token-bucket limiter — and the oracle replays the recurrence exactly
  with a RECURSIVE CTE (the established order-sensitive-stateful proof
  pattern, cf. streaming_token_bucket_quota).
* ``pipeline_dataset_shard_manifest`` — deterministic token-budget
  sharding of an export corpus: shard(doc) = exclusive-prefix-tokens
  div BUDGET over the doc_id export order, with per-shard integrity
  checksums. Composes operators/cumsum.distributed_running_total, so
  no global-window sort exists in the plan.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.cumsum import distributed_running_total
from ..operators.keyscan import keyed_pandas_scan
from ..sources.tables import load_table
from .registry import hex4, query, sql_hex4

# ------------------------------------------------ capped running balance

_CAP = 50_000  # cents
_START = 25_000  # opening balance, mid-rail so both clamps exercise
_CREDIT_TYPES = ("purchase", "signup")  # others debit


@query(
    "inventory_capped_running_balance",
    oracle=f"""
        WITH RECURSIVE ev AS (
            SELECT user_id,
                   row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn,
                   CASE WHEN event_type IN ('purchase', 'signup')
                        THEN CAST(CAST(value AS DECIMAL(15,2)) * 100 AS BIGINT)
                        ELSE -CAST(CAST(value AS DECIMAL(15,2)) * 100 AS BIGINT)
                   END AS delta
            FROM events
        ), span AS (
            SELECT user_id, MAX(rn) AS n_events FROM ev GROUP BY user_id
        ), replay(user_id, rn, bal, ncap, nflr) AS (
            SELECT user_id, 0, {_START}, 0, 0 FROM span
            UNION ALL
            SELECT r.user_id, r.rn + 1,
                   least({_CAP}, greatest(0, r.bal + e.delta)),
                   r.ncap + CASE WHEN r.bal + e.delta > {_CAP} THEN 1 ELSE 0 END,
                   r.nflr + CASE WHEN r.bal + e.delta < 0 THEN 1 ELSE 0 END
            FROM replay r JOIN ev e
              ON e.user_id = r.user_id AND e.rn = r.rn + 1
        )
        SELECT s.user_id,
               CAST(s.n_events AS BIGINT) AS n_events,
               CAST(r.bal AS BIGINT) AS final_balance_cents,
               CAST(r.ncap AS BIGINT) AS n_capped,
               CAST(r.nflr AS BIGINT) AS n_floored
        FROM span s JOIN replay r
          ON r.user_id = s.user_id AND r.rn = s.n_events
        ORDER BY s.user_id
    """,
    description="Per-user capped-and-floored running balance: "
    "b_t = clamp(b_(t-1) + delta_t, 0, CAP) with purchase/signup "
    "crediting and other events debiting (exact cents). The clamp "
    "makes the recurrence non-linear — provably NOT a window "
    "function/prefix-sum (history matters through every rail hit), "
    "the inventory/credit-limit semantics warehouses punt to "
    "application code. Execution is a slim (key, ts, delta) "
    "applyInPandas ordered scan per key — Arrow-batched, "
    "embarrassingly parallel ACROSS keys, sequential only WITHIN a "
    "key, which is the information-theoretic minimum for this "
    "operator; the DuckDB RECURSIVE-CTE oracle replays the recurrence "
    "step-exactly, so the hash match proves the stateful scan. At "
    "100 TB: deltas are computed JVM-side pre-shuffle, one hash "
    "shuffle on user_id, per-key event counts are bounded "
    "(sessionized entities), and skewed keys split by time-range "
    "with carried state if ever needed.",
)
def inventory_capped_running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    slim = events.select(
        "user_id",
        "ts",
        F.when(
            F.col("event_type").isin(*_CREDIT_TYPES),
            (F.col("value").cast("decimal(15,2)") * 100).cast("bigint"),
        )
        .otherwise(-(F.col("value").cast("decimal(15,2)") * 100).cast("bigint"))
        .alias("delta"),
    )
    cap, start = _CAP, _START

    def clamp_scan(pdf: pd.DataFrame) -> pd.DataFrame:
        # rows arrive pre-sorted by ts (keyed_pandas_scan contract)
        bal, ncap, nflr = start, 0, 0
        for d in pdf["delta"].tolist():
            raw = bal + int(d)
            if raw > cap:
                ncap += 1
                bal = cap
            elif raw < 0:
                nflr += 1
                bal = 0
            else:
                bal = raw
        return pd.DataFrame(
            {
                "user_id": [int(pdf["user_id"].iloc[0])],
                "n_events": [len(pdf)],
                "final_balance_cents": [bal],
                "n_capped": [ncap],
                "n_floored": [nflr],
            }
        )

    out_schema = (
        "user_id long, n_events long, final_balance_cents long, "
        "n_capped long, n_floored long"
    )
    return keyed_pandas_scan(
        slim, "user_id", ["ts"], clamp_scan, out_schema
    ).orderBy("user_id")


# ------------------------------------------------ dataset shard manifest

_SHARD_BUDGET = 2000  # tokens per shard


@query(
    "pipeline_dataset_shard_manifest",
    oracle=f"""
        WITH docs AS (
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens,
                   ({sql_hex4("'m:' || CAST(doc_id AS VARCHAR)")}) AS fp
            FROM documents
        ), cum AS (
            SELECT doc_id, tokens, fp,
                   SUM(tokens) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       - tokens AS cum_before
            FROM docs
        )
        SELECT CAST(cum_before // {_SHARD_BUDGET} AS BIGINT) AS shard_id,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(tokens) AS BIGINT) AS sum_tokens,
               CAST(MIN(doc_id) AS BIGINT) AS min_doc,
               CAST(MAX(doc_id) AS BIGINT) AS max_doc,
               CAST(SUM(fp) AS BIGINT) AS checksum
        FROM cum GROUP BY 1 ORDER BY shard_id
    """,
    description="Deterministic token-budget sharding for a training "
    "export: shard(doc) = exclusive-prefix-token-count div BUDGET in "
    "doc_id order, plus a per-shard manifest (doc count, token sum, "
    "id range, md5-fingerprint checksum) — the artifact a downstream "
    "trainer uses to verify shard integrity and resume partial "
    "exports. The oracle uses the textbook global running-sum window; "
    "the Spark plan composes operators/cumsum.distributed_running_total "
    "(bucket subtotals -> bounded-spine carry -> per-bucket windows), "
    "so NO global-window single-task sort exists — the hash match "
    "proves the two-level decomposition equals the textbook form. At "
    "100 TB the bucket grain (doc_id div 64 here) is chosen so bucket "
    "count >> cluster parallelism while the carry spine stays "
    "broadcast-size; everything else is one partial-agg shuffle plus "
    "per-partition sorts.",
)
def pipeline_dataset_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("tokens"),
        hex4(F.concat(F.lit("m:"), F.col("doc_id").cast("string"))).alias("fp"),
    )
    withbucket = docs.withColumn("bucket", F.expr("doc_id div 64"))
    cum = distributed_running_total(
        withbucket,
        F.col("tokens"),
        "bucket",
        ["doc_id"],
        out_col="cum_incl",
        zero=F.lit(0).cast("bigint"),
    ).withColumn("cum_before", F.col("cum_incl") - F.col("tokens"))
    return (
        cum.groupBy(
            F.expr(f"cum_before div {_SHARD_BUDGET}").cast("long").alias("shard_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tokens").cast("bigint").alias("sum_tokens"),
            F.min("doc_id").cast("bigint").alias("min_doc"),
            F.max("doc_id").cast("bigint").alias("max_doc"),
            F.sum("fp").cast("bigint").alias("checksum"),
        )
        .orderBy("shard_id")
    )
