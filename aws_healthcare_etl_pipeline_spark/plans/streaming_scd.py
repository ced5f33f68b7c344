"""Wave-15b: streaming CDC apply — a file-source change stream merged
into an SCD2 dimension via foreachBatch, the Structured-Streaming
spelling of MERGE-INTO-per-microbatch (the upsert pattern every
lakehouse CDC pipeline runs; here against plain parquet state, same
operator as the batch scd2_customer_balance_history query).

Two deterministic change batches (1996 buyers +50.00 effective
1996-07-01, then 1997 buyers +100.00 effective 1997-07-01) arrive as
separate files; ``maxFilesPerTrigger=1`` forces one microbatch each,
in mtime order, so versions stack exactly as the oracle's two-stage
CASE states: untouched keys 1 version, single-batch keys 2, both 3.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.scd import scd2_apply
from ..sources.tables import load_table
from .registry import query, scratch

_CHANGES = [  # (order-year window, balance delta, effective ts)
    ("1996", 50.0, "1996-07-01"),
    ("1997", 100.0, "1997-07-01"),
]

_CHANGE_SCHEMA = T.StructType(
    [
        T.StructField("c_custkey", T.LongType()),
        T.StructField("c_mktsegment", T.StringType()),
        T.StructField("c_acctbal", T.DoubleType()),
        T.StructField("eff_ts", T.TimestampType()),
    ]
)


@query(
    "streaming_scd2_upsert",
    oracle="""
        WITH k96 AS (
            SELECT DISTINCT o_custkey AS k FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate <  TIMESTAMP '1997-01-01'
        ), k97 AS (
            SELECT DISTINCT o_custkey AS k FROM orders
            WHERE o_orderdate >= TIMESTAMP '1997-01-01'
              AND o_orderdate <  TIMESTAMP '1998-01-01'
        ), versions AS (
            SELECT c_mktsegment,
                   c_acctbal,
                   c_custkey NOT IN (SELECT k FROM k96)
                     AND c_custkey NOT IN (SELECT k FROM k97) AS is_current
            FROM customer
            UNION ALL
            SELECT c_mktsegment, round(c_acctbal + 50.0, 2),
                   c_custkey NOT IN (SELECT k FROM k97)
            FROM customer WHERE c_custkey IN (SELECT k FROM k96)
            UNION ALL
            SELECT c_mktsegment, round(c_acctbal + 100.0, 2), TRUE
            FROM customer WHERE c_custkey IN (SELECT k FROM k97)
        )
        SELECT c_mktsegment,
               COUNT(*) AS n_versions,
               CAST(SUM(CASE WHEN is_current THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_current,
               CAST(SUM(CASE WHEN is_current THEN 0 ELSE 1 END) AS BIGINT)
                   AS n_closed,
               CAST(SUM(CASE WHEN is_current
                             THEN CAST(c_acctbal AS DECIMAL(15,2))
                             ELSE CAST(0 AS DECIMAL(15,2)) END) AS DOUBLE)
                   AS current_balance_sum
        FROM versions
        GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    description="Streaming CDC upsert: two change files stream through "
    "a parquet file source (maxFilesPerTrigger=1, AvailableNow) and "
    "each microbatch MERGEs into SCD2 parquet state via foreachBatch + "
    "operators/scd.py::scd2_apply (close current versions, append new "
    "ones, atomic directory swap). The oracle recomputes the final "
    "dimension from the same two change sets in batch SQL — the "
    "stream/batch equivalence contract, extended to stateful upsert. "
    "At scale foreachBatch state lives in a lakehouse table with real "
    "MERGE; the microbatch cadence, idempotent-per-batch apply, and "
    "checkpointed exactly-once file accounting are identical.",
)
def streaming_scd2_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")

    base = scratch(prefix="scd2_stream_")
    changes_dir = os.path.join(base, "changes")
    state_dir = os.path.join(base, "state")
    os.makedirs(changes_dir)

    dim = cust.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.lit("1995-01-01").cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    dim.write.mode("overwrite").parquet(state_dir)

    # one change FILE per batch, mtimes ordered so the file source
    # replays them in event order
    now = 1_700_000_000
    for i, (year, delta, eff) in enumerate(_CHANGES):
        keys = (
            orders.filter(
                (F.col("o_orderdate") >= f"{year}-01-01")
                & (F.col("o_orderdate") < f"{int(year) + 1}-01-01")
            )
            .select(F.col("o_custkey").alias("c_custkey"))
            .distinct()
        )
        ch = cust.join(keys, "c_custkey").select(
            "c_custkey",
            "c_mktsegment",
            F.round(F.col("c_acctbal") + delta, 2).alias("c_acctbal"),
            F.lit(eff).cast("timestamp").alias("eff_ts"),
        )
        tmp_out = os.path.join(base, f"chtmp{i}")
        ch.coalesce(1).write.parquet(tmp_out)
        part = glob.glob(os.path.join(tmp_out, "part-*.parquet"))[0]
        dst = os.path.join(changes_dir, f"batch{i}.parquet")
        shutil.move(part, dst)
        os.utime(dst, times=(now + i, now + i))
        shutil.rmtree(tmp_out)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        state = sess.read.parquet(state_dir)
        merged = scd2_apply(state, batch_df, key="c_custkey", effective_col="eff_ts")
        next_dir = state_dir + ".next"
        merged.write.mode("overwrite").parquet(next_dir)
        old_dir = state_dir + ".old"
        os.rename(state_dir, old_dir)
        os.rename(next_dir, state_dir)
        shutil.rmtree(old_dir)

    stream = (
        spark.readStream.schema(_CHANGE_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(changes_dir)
    )
    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    return (
        spark.read.parquet(state_dir)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_versions"),
            F.sum(F.when(F.col("is_current"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_current"),
            F.sum(F.when(F.col("is_current"), 0).otherwise(1))
            .cast("bigint")
            .alias("n_closed"),
            F.sum(
                F.when(
                    F.col("is_current"), F.col("c_acctbal").cast("decimal(15,2)")
                ).otherwise(F.lit(0).cast("decimal(15,2)"))
            )
            .cast("double")
            .alias("current_balance_sum"),
        )
        .orderBy("c_mktsegment")
    )
