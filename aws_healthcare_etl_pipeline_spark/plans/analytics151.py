"""Wave-177 (round 5): tamper-evident ledgers + learning curves.

* ``audit_event_hash_chain`` — the event-sourcing integrity
  primitive: each user's event stream folds into an md5 hash CHAIN
  (h_1 = md5('seed:' || id), h_i = md5(h_{i-1} || ':' || id)) whose
  head changes if ANY event is inserted, dropped, or reordered.
  The fold is order-sensitive and non-associative — exactly what
  the partition-wise keyed scan exists for — and the DuckDB oracle
  replays it as a recursive CTE, so the hash match certifies the
  scan operator on a cryptographic fold.

* ``ml_nb_learning_curve`` — the float-free Naive Bayes trained at
  FOUR growing history cutoffs in ONE pass (every per-cutoff count
  is a CASE-gated SUM), scored on the fixed post-1998 test set with
  cross-multiplied integer posteriors; accuracy per training-size
  point is the learning curve — the does-more-data-help answer,
  computed without ever re-scanning the corpus per point.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.keyscan import keyed_pandas_scan
from ..sources.tables import load_table
from .registry import query, sql_hexstr8


@query(
    "audit_event_hash_chain",
    oracle=f"""
        WITH RECURSIVE s AS MATERIALIZED (
            SELECT user_id, event_id,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                       ORDER BY epoch_us(ts), event_id) AS rn
            FROM events
        ), mx AS (
            SELECT user_id, MAX(rn) AS n FROM s GROUP BY user_id
        ), chain AS (
            SELECT user_id, rn,
                   md5(concat('seed:', CAST(event_id AS VARCHAR)))
                       AS h
            FROM s WHERE rn = 1
            UNION ALL
            SELECT s.user_id, s.rn,
                   md5(concat(c.h, ':',
                              CAST(s.event_id AS VARCHAR)))
            FROM chain c
            JOIN s ON s.user_id = c.user_id AND s.rn = c.rn + 1
        ), heads AS (
            SELECT c.user_id, c.h
            FROM chain c JOIN mx ON mx.user_id = c.user_id
                 AND c.rn = mx.n
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(COUNT(DISTINCT h) AS BIGINT) AS distinct_heads,
               CAST(SUM({sql_hexstr8("h")}) AS BIGINT)
                   AS head_checksum
        FROM heads
    """,
    description="Tamper-evident event ledger: each user's stream "
    "folds into an md5 hash chain (h_i = md5(h_prev || ':' || "
    "event_id)) whose head is sensitive to any insertion, deletion, "
    "or reorder — the event-sourcing integrity primitive. The fold "
    "is order-sensitive and non-associative, so it runs in the "
    "partition-wise keyed scan (one shuffle on user, one "
    "mapInPandas pass with cross-batch group carry, hashlib in a "
    "self-contained closure); the oracle replays the identical "
    "chain as a recursive CTE and the hash match certifies the "
    "operator on a cryptographic fold. Output: user count, distinct "
    "head count, and the integer checksum of head prefixes. 100 TB "
    "shape: per-key sequential hashing is the information-theoretic "
    "minimum for chained digests; parallel across users, constant "
    "memory per group.",
)
def audit_event_hash_chain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    seq = events.select(
        "user_id",
        F.unix_micros("ts").alias("t"),
        "event_id",
    )

    def per_group(g: pd.DataFrame) -> pd.DataFrame:
        import hashlib

        h = None
        for eid in g["event_id"]:
            if h is None:
                payload = f"seed:{int(eid)}"
            else:
                payload = f"{h}:{int(eid)}"
            h = hashlib.md5(payload.encode("utf-8")).hexdigest()
        return pd.DataFrame(
            {
                "user_id": [g["user_id"].iloc[0]],
                "head": [h],
            }
        )

    heads = keyed_pandas_scan(
        seq,
        key="user_id",
        order=["t", "event_id"],
        per_group=per_group,
        out_schema="user_id long, head string",
    )
    return heads.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.countDistinct("head").cast("long").alias("distinct_heads"),
        F.sum(
            F.conv(F.substring("head", 1, 8), 16, 10).cast("long")
        )
        .cast("long")
        .alias("head_checksum"),
    )


_LC_CUTS = ["1996-07-01", "1997-01-01", "1997-07-01", "1998-01-01"]
_LC_TEST = "1998-01-01"
_LC_URGENT = "1-URGENT"


def _lc_count_list(tag1: str, tag0: str) -> list[str]:
    parts = []
    for i, cut in enumerate(_LC_CUTS):
        g = f"CASE WHEN dt < DATE '{cut}' THEN 1 ELSE 0 END"
        parts += [
            f"CAST(SUM({g} * y) AS BIGINT) AS {tag1}_{i}",
            f"CAST(SUM({g} * (1 - y)) AS BIGINT) AS {tag0}_{i}",
        ]
    return parts


def _lc_counts() -> str:
    return ", ".join(_lc_count_list("n1", "n0"))


def _lc_feat_counts(col: str, tag: str) -> str:
    return ", ".join(_lc_count_list(f"{tag}1", f"{tag}0"))


def _lc_score(i: int) -> str:
    """Cross-multiplied NB margin > 0 <=> predict urgent (class 1)."""
    return (
        f"(CAST(n1_{i} AS {{big}}) * (COALESCE(a1_{i}, 0) + 1)"
        f" * (COALESCE(b1_{i}, 0) + 1)"
        f" * (n0_{i} + v1) * (n0_{i} + v2)"
        f" > CAST(n0_{i} AS {{big}}) * (COALESCE(a0_{i}, 0) + 1)"
        f" * (COALESCE(b0_{i}, 0) + 1)"
        f" * (n1_{i} + v1) * (n1_{i} + v2))"
    )


@query(
    "ml_nb_learning_curve",
    oracle=f"""
        WITH rows_all AS MATERIALIZED (
            SELECT CASE WHEN o.o_orderpriority = '{_LC_URGENT}'
                        THEN 1 ELSE 0 END AS y,
                   c.c_mktsegment AS f1,
                   EXTRACT(month FROM o.o_orderdate) AS f2,
                   o.o_orderdate AS dt
            FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        ), cls AS (
            SELECT {_lc_counts()} FROM rows_all
        ), vf AS (
            SELECT CAST(COUNT(DISTINCT f1) AS BIGINT) AS v1,
                   CAST(COUNT(DISTINCT f2) AS BIGINT) AS v2
            FROM rows_all WHERE dt < DATE '{_LC_TEST}'
        ), cf1 AS (
            SELECT f1, {_lc_feat_counts("f1", "a")}
            FROM rows_all GROUP BY f1
        ), cf2 AS (
            SELECT f2, {_lc_feat_counts("f2", "b")}
            FROM rows_all GROUP BY f2
        ), scored AS (
            SELECT t.y,
                   {", ".join(
                       "CASE WHEN "
                       + _lc_score(i).format(big="HUGEINT")
                       + " THEN 1 ELSE 0 END AS p_" + str(i)
                       for i in range(len(_LC_CUTS)))}
            FROM rows_all t
            CROSS JOIN cls CROSS JOIN vf
            LEFT JOIN cf1 ON cf1.f1 = t.f1
            LEFT JOIN cf2 ON cf2.f2 = t.f2
            WHERE t.dt >= DATE '{_LC_TEST}'
        )
        SELECT cut_idx, train_end,
               CAST(n1 + n0 AS BIGINT) AS train_rows,
               n_correct, n_test,
               CAST(n_correct * 1000 // n_test AS BIGINT)
                   AS accuracy_permille
        FROM (
            {" UNION ALL ".join(
                f"SELECT {i} AS cut_idx, '{cut}' AS train_end,"
                f" (SELECT n1_{i} FROM cls) AS n1,"
                f" (SELECT n0_{i} FROM cls) AS n0,"
                f" CAST(SUM(CASE WHEN p_{i} = y THEN 1 ELSE 0 END)"
                f" AS BIGINT) AS n_correct,"
                f" CAST(COUNT(*) AS BIGINT) AS n_test"
                f" FROM scored"
                for i, cut in enumerate(_LC_CUTS))}
        )
        ORDER BY cut_idx
    """,
    description="The Naive Bayes learning curve in ONE training "
    "pass: all four history cutoffs' class and feature counts are "
    "CASE-gated parallel SUMs over the same scan (adding a curve "
    "point adds columns, never passes), and the fixed post-1998 "
    "test set is scored by all four models at once via cross-"
    "multiplied integer posteriors (the float-free NB machinery) "
    "with Laplace smoothing. Accuracy permille per training size "
    "answers does-more-history-help without re-scanning anything. "
    "100 TB shape: 2 scans total (train counts, test scoring), "
    "broadcast model tables, map-side partial aggs throughout — "
    "the learning-curve audit that usually costs k retrains, done "
    "for the cost of one.",
)
def ml_nb_learning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    rows_all = (
        orders.join(customer, customer.c_custkey == orders.o_custkey)
        .selectExpr(
            f"CASE WHEN o_orderpriority = '{_LC_URGENT}'"
            f" THEN 1 ELSE 0 END AS y",
            "c_mktsegment AS f1",
            "month(o_orderdate) AS f2",
            "o_orderdate AS dt",
        )
        .localCheckpoint(eager=False)  # feeds 3 model aggs + scoring
    )
    cls = rows_all.agg(
        *[F.expr(p) for p in _lc_count_list("n1", "n0")]
    )
    vf = rows_all.where(
        F.col("dt") < F.lit(_LC_TEST).cast("date")
    ).agg(
        F.countDistinct("f1").cast("long").alias("v1"),
        F.countDistinct("f2").cast("long").alias("v2"),
    )
    cf1 = rows_all.groupBy("f1").agg(
        *[F.expr(p) for p in _lc_count_list("a1", "a0")]
    )
    cf2 = rows_all.groupBy("f2").agg(
        *[F.expr(p) for p in _lc_count_list("b1", "b0")]
    )
    scored = (
        rows_all.where(F.col("dt") >= F.lit(_LC_TEST).cast("date"))
        .crossJoin(F.broadcast(cls))
        .crossJoin(F.broadcast(vf))
        .join(F.broadcast(cf1), "f1", "left")
        .join(F.broadcast(cf2), "f2", "left")
        .selectExpr(
            "y",
            *[
                "CASE WHEN "
                + _lc_score(i).format(big="DECIMAL(38,0)")
                + f" THEN 1 ELSE 0 END AS p_{i}"
                for i in range(len(_LC_CUTS))
            ],
        )
        .localCheckpoint(eager=False)  # scored once, 4 curve points
    )
    points = scored.crossJoin(F.broadcast(cls)).agg(
        F.count(F.lit(1)).cast("long").alias("n_test"),
        *[
            F.expr(f"SUM(CASE WHEN p_{i} = y THEN 1 ELSE 0 END)")
            .cast("long")
            .alias(f"nc_{i}")
            for i in range(len(_LC_CUTS))
        ],
        *[
            F.first(f"n1_{i}").alias(f"fn1_{i}")
            for i in range(len(_LC_CUTS))
        ],
        *[
            F.first(f"n0_{i}").alias(f"fn0_{i}")
            for i in range(len(_LC_CUTS))
        ],
    )
    stacked = points.selectExpr(
        "n_test",
        "stack("
        + str(len(_LC_CUTS))
        + ", "
        + ", ".join(
            f"{i}, '{cut}', fn1_{i} + fn0_{i}, nc_{i}"
            for i, cut in enumerate(_LC_CUTS)
        )
        + ") AS (cut_idx, train_end, train_rows, n_correct)",
    )
    return stacked.selectExpr(
        "cut_idx",
        "train_end",
        "CAST(train_rows AS BIGINT) AS train_rows",
        "n_correct",
        "n_test",
        "CAST(n_correct * 1000 div n_test AS BIGINT)"
        " AS accuracy_permille",
    ).orderBy("cut_idx")
