"""Wave-59 (round 5): storage-layout introspection + retrieval eval.

* ``layout_zonemap_skipping_audit`` — data-skipping effectiveness:
  per-file zone maps (min/max of the predicate column at a fixed
  file-bucket grain) evaluated against a fixed predicate battery,
  reporting how many buckets a scan could prune and the scanned-vs-
  selected row counts. This is the audit behind every layout decision
  (sort keys, Z-order, compaction): Parquet footers give the stats
  for free; the question is whether the layout makes them useful.
* ``sim_ndcg_retrieval_eval`` — NDCG@k over label relevance with
  INTEGER gains: discount weights are powers of two (2^(k-rank)), so
  DCG and ideal-DCG are exact bigints and the NDCG ratio is an
  integer-division permille — no log2 discounts, no floats, fully
  hash-checkable across engines (the repo's lattice-eval pattern).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .analytics30 import _int_dot
from .registry import query

# --------------------------------------------- zone-map skipping audit

_ZM_BUCKET = 2048  # orderkeys per simulated file

# (predicate_id, lo, hi) — closed date ranges over l_shipdate
_ZM_PREDICATES = [
    ("q1_1994", "1994-01-01", "1994-03-31"),
    ("q3_1995", "1995-07-01", "1995-09-30"),
    ("y_1996", "1996-01-01", "1996-12-31"),
    ("week_1997", "1997-06-02", "1997-06-08"),
]


def _zm_oracle() -> str:
    parts = []
    for pid, lo, hi in _ZM_PREDICATES:
        parts.append(f"""
        SELECT '{pid}' AS predicate_id,
               CAST(COUNT(*) AS BIGINT) AS n_buckets,
               CAST(SUM(CASE WHEN mx < DATE '{lo}' OR mn > DATE '{hi}'
                             THEN 1 ELSE 0 END) AS BIGINT) AS pruned_buckets,
               CAST(SUM(CASE WHEN mx < DATE '{lo}' OR mn > DATE '{hi}'
                             THEN 0 ELSE n END) AS BIGINT) AS scanned_rows,
               CAST(SUM(sel) AS BIGINT) AS selected_rows
        FROM (
            SELECT l_orderkey // {_ZM_BUCKET} AS bucket,
                   MIN(l_shipdate) AS mn, MAX(l_shipdate) AS mx,
                   COUNT(*) AS n,
                   SUM(CASE WHEN l_shipdate BETWEEN DATE '{lo}'
                                AND DATE '{hi}' THEN 1 ELSE 0 END) AS sel
            FROM lineitem GROUP BY 1
        )""")
    return " UNION ALL ".join(parts) + " ORDER BY predicate_id"


@query(
    "layout_zonemap_skipping_audit",
    oracle=_zm_oracle(),
    description="Zone-map (min/max data-skipping) effectiveness audit: "
    "lineitem is bucketed at a fixed file grain (orderkey div 2048, "
    "the stand-in for Parquet row groups), per-bucket min/max shipdate "
    "stats are evaluated against a predicate battery, and the audit "
    "reports prunable buckets plus scanned-vs-selected rows — the "
    "number a table-layout decision (sort key, Z-order, compaction) "
    "is actually judged by. At 100 TB the stats pass is one partial-"
    "agg shuffle at file grain (or free: Parquet footers already hold "
    "min/max), the audit itself is metadata-scale, and ALL predicates "
    "share the single stats scan via conditional aggregation rather "
    "than re-scanning per predicate.",
)
def layout_zonemap_skipping_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    line = load_table(spark, sf_dir, "lineitem")
    aggs = [
        F.min("l_shipdate").alias("mn"),
        F.max("l_shipdate").alias("mx"),
        F.count(F.lit(1)).alias("n"),
    ]
    for pid, lo, hi in _ZM_PREDICATES:
        aggs.append(
            F.sum(
                F.when(
                    F.col("l_shipdate").between(
                        F.lit(lo).cast("date"), F.lit(hi).cast("date")
                    ),
                    1,
                ).otherwise(0)
            ).alias(f"sel_{pid}")
        )
    stats = line.groupBy(
        F.expr(f"l_orderkey div {_ZM_BUCKET}").alias("bucket")
    ).agg(*aggs)

    outs = []
    for pid, lo, hi in _ZM_PREDICATES:
        pruned = (F.col("mx") < F.lit(lo).cast("date")) | (
            F.col("mn") > F.lit(hi).cast("date")
        )
        outs.append(
            stats.agg(
                F.lit(pid).alias("predicate_id"),
                F.count(F.lit(1)).cast("long").alias("n_buckets"),
                F.sum(F.when(pruned, 1).otherwise(0))
                .cast("long")
                .alias("pruned_buckets"),
                F.sum(F.when(pruned, 0).otherwise(F.col("n")))
                .cast("long")
                .alias("scanned_rows"),
                F.sum(f"sel_{pid}").cast("long").alias("selected_rows"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("predicate_id")


# ------------------------------------------ integer NDCG retrieval eval

_NDCG_DIM = 64
_NDCG_SCALE = 1024
_NDCG_QUERIES = 10  # vec_id < 10 are queries; the rest are the corpus
_NDCG_K = 5


@query(
    "sim_ndcg_retrieval_eval",
    oracle=f"""
        WITH q AS (
            SELECT vec_id AS query_id, label AS qlabel,
                   list_transform(embedding, x ->
                       CAST(FLOOR(CAST(x AS DOUBLE) * {_NDCG_SCALE})
                            AS BIGINT)) AS qv
            FROM embeddings WHERE vec_id < {_NDCG_QUERIES}
        ), c AS (
            SELECT vec_id, label,
                   list_transform(embedding, x ->
                       CAST(FLOOR(CAST(x AS DOUBLE) * {_NDCG_SCALE})
                            AS BIGINT)) AS cv
            FROM embeddings WHERE vec_id >= {_NDCG_QUERIES}
        ), scored AS (
            SELECT q.query_id, q.qlabel, c.vec_id, c.label,
                   list_sum(list_transform(generate_series(1, {_NDCG_DIM}),
                       d -> q.qv[d] * c.cv[d])) AS score
            FROM q, c
        ), ranked AS (
            SELECT query_id, qlabel, label,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY score DESC, vec_id) AS r
            FROM scored
        ), dcg AS (
            SELECT query_id,
                   SUM(CASE WHEN label = qlabel
                            THEN (CAST(1 AS BIGINT) << ({_NDCG_K} - r))
                            ELSE 0 END) AS dcg
            FROM ranked WHERE r <= {_NDCG_K} GROUP BY query_id
        ), nrel AS (
            SELECT q.query_id,
                   LEAST(CAST({_NDCG_K} AS BIGINT),
                         SUM(CASE WHEN c.label = q.qlabel
                                  THEN 1 ELSE 0 END)) AS nr
            FROM q, c GROUP BY q.query_id
        ), idcg AS (
            SELECT query_id,
                   CAST((CAST(1 AS BIGINT) << {_NDCG_K})
                        - (CAST(1 AS BIGINT)
                           << CAST({_NDCG_K} - nr AS INT)) AS BIGINT)
                       AS idcg
            FROM nrel
        )
        SELECT d.query_id,
               CAST(d.dcg AS BIGINT) AS dcg,
               i.idcg,
               CAST(CASE WHEN i.idcg > 0
                         THEN (d.dcg * 1000) // i.idcg
                         ELSE 0 END AS BIGINT) AS ndcg_permille
        FROM dcg d JOIN idcg i ON i.query_id = d.query_id
        ORDER BY d.query_id
    """,
    description="NDCG@5 retrieval evaluation with integer gains: "
    "MIPS ranking on floor(x*1024) lattice embeddings, binary label "
    "relevance, and power-of-two discount weights 2^(k-rank) so DCG "
    "is an exact bigint, ideal DCG is the closed form 2^k - 2^(k-nrel) "
    "(a geometric prefix), and NDCG lands as an integer-division "
    "permille — the standard ranking metric made hash-checkable with "
    "no log2/floats (the repo's lattice-eval pattern, cf. kNN label "
    "accuracy). At 100 TB: queries are broadcast so the corpus is "
    "scanned ONCE for all of them, per-query top-k is a "
    "WindowGroupLimit (map-side prefilter, no global sort), and the "
    "relevant-count pass is the same broadcast shape — nothing "
    "quadratic materializes beyond the bounded queries x corpus "
    "score stream that brute-force eval inherently is.",
)
def sim_ndcg_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    quant = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * _NDCG_SCALE).cast("long"),
    )
    q = emb.filter(F.col("vec_id") < _NDCG_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        quant.alias("qv"),
    )
    c = emb.filter(F.col("vec_id") >= _NDCG_QUERIES).select(
        "vec_id", "label", quant.alias("cv")
    )
    scored = c.crossJoin(F.broadcast(q)).select(
        "query_id",
        "qlabel",
        "vec_id",
        "label",
        _int_dot(F.col("qv"), F.col("cv")).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), "vec_id")
    ranked = scored.withColumn("r", F.row_number().over(w)).filter(
        F.col("r") <= _NDCG_K
    )
    # power-of-two gain 2^(K - r) as an integer expression
    dcg = ranked.groupBy("query_id").agg(
        F.sum(
            F.when(
                F.col("label") == F.col("qlabel"),
                F.expr(f"shiftleft(cast(1 as bigint), {_NDCG_K} - r)"),
            ).otherwise(F.lit(0).cast("long"))
        )
        .cast("long")
        .alias("dcg")
    )
    nrel = (
        c.crossJoin(F.broadcast(q.select("query_id", "qlabel")))
        .groupBy("query_id")
        .agg(
            F.least(
                F.lit(_NDCG_K).cast("long"),
                F.sum(
                    F.when(F.col("label") == F.col("qlabel"), 1).otherwise(0)
                ),
            ).alias("nr")
        )
    )
    idcg = nrel.select(
        "query_id",
        F.expr(
            f"cast(shiftleft(cast(1 as bigint), {_NDCG_K}) - "
            f"shiftleft(cast(1 as bigint), cast({_NDCG_K} - nr as int)) "
            f"as bigint)"
        ).alias("idcg"),
    )
    return (
        dcg.join(idcg, "query_id")
        .select(
            "query_id",
            "dcg",
            "idcg",
            F.when(
                F.col("idcg") > 0,
                F.expr("(dcg * 1000) div idcg"),
            )
            .otherwise(0)
            .cast("long")
            .alias("ndcg_permille"),
        )
        .orderBy("query_id")
    )
