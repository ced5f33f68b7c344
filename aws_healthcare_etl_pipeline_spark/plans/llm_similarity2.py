"""Wave-29: scalar-quantized (int8) ANN — the fourth member of the
compressed-vector family (sign-LSH / IVF / PQ / SQ).

SQ is the quantization tier whose math is PURE rational arithmetic
(per-dim min/max, floor, clamps, one dequant expression) — no k-means,
no hyperplanes — so unlike IVF/PQ (structure-pinned oracles) the whole
pipeline replicates in DuckDB and the driver hash-checks every score
bit-for-bit. Ops are +,-,*,/ and floor only, sequenced identically on
both engines; the dot-product fold is left-to-right in both (the
list_dot_product <-> F.aggregate equivalence every sim_* oracle
already relies on).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.vectors import dot
from ..sources.tables import load_table
from .registry import query

SQ_DIM = 64
SQ_QUERIES = 10
SQ_TOP_K = 5


def _sq_ctes(n_queries: int, k: int) -> str:
    """SQL CTE list replicating the full ``sim_sq_int8_topk`` pipeline
    (per-dim min/max stats, int8 quantize, dequant, asymmetric score,
    top-k) with collision-free names (sq_*) so the ANN bake-off oracle
    can splice it next to the LSH and brute CTEs in one WITH clause.
    Pure rational arithmetic — bit-identical across engines."""
    return f"""sq_dims AS (
            SELECT d,
                   MIN(CAST(embedding[d] AS DOUBLE)) AS mn,
                   MAX(CAST(embedding[d] AS DOUBLE)) AS mx
            FROM embeddings, generate_series(1, {SQ_DIM}) g(d)
            GROUP BY d
        ), sq_dimarr AS (
            SELECT list(mn ORDER BY d) AS mins, list(mx ORDER BY d) AS maxs
            FROM sq_dims
        ), sq_corpus AS (
            SELECT vec_id,
                   list_transform(generate_series(1, {SQ_DIM}), d ->
                       CASE WHEN maxs[d] - mins[d] > 0 THEN
                           LEAST(255, GREATEST(0, CAST(FLOOR(
                               ((CAST(embedding[d] AS DOUBLE) - mins[d])
                                / (maxs[d] - mins[d])) * 256.0) AS INT)))
                       ELSE 0 END) AS codes,
                   mins, maxs
            FROM embeddings, sq_dimarr
        ), sq_dequant AS (
            SELECT vec_id,
                   list_transform(generate_series(1, {SQ_DIM}), d ->
                       mins[d] + ((CAST(codes[d] AS DOUBLE) + 0.5)
                                  * (maxs[d] - mins[d])) / 256.0) AS dq
            FROM sq_corpus
        ), sq_q AS (
            SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
            FROM embeddings WHERE vec_id < {n_queries}
        ), sq_scored AS (
            SELECT query_id, vec_id,
                   list_dot_product(qv, dq) AS sq_score
            FROM sq_q, sq_dequant
            WHERE vec_id <> query_id
        ), sq_topk AS (
            SELECT query_id, vec_id, sq_score, rank
            FROM (
                SELECT query_id, vec_id, sq_score,
                       ROW_NUMBER() OVER (
                           PARTITION BY query_id ORDER BY sq_score DESC, vec_id
                       ) AS rank
                FROM sq_scored
            ) t
            WHERE rank <= {k}
        )"""


@query(
    "sim_sq_int8_topk",
    oracle=f"""
        WITH {_sq_ctes(SQ_QUERIES, SQ_TOP_K)}
        SELECT query_id, vec_id, sq_score, rank
        FROM sq_topk
        ORDER BY query_id, rank
    """,
    description="Scalar-quantized (int8, asymmetric) top-5 neighbors "
    "for the first 10 query vectors. Corpus state per vector is "
    f"{SQ_DIM} one-byte codes + a shared per-dimension min/max pair — "
    "4x smaller than float32, so a 100 TB embedding corpus scans as "
    "~25 TB of codes; queries stay full-precision and scores are "
    "query . dequant(codes) (asymmetric distance, the SQ standard). "
    "Completes the compressed-vector family: sign-LSH (hash buckets), "
    "IVF (coarse partition pruning), PQ (subspace codebooks), SQ "
    "(per-dim affine codes) — and uniquely in that family the whole "
    "pipeline is rational arithmetic (no k-means), so the oracle "
    "hash-checks every score rather than pinning structure. Plan: "
    "per-dim stats via one narrow posexplode shuffle to a "
    f"{SQ_DIM}-row frame, re-assembled and BROADCAST (no driver "
    "round-trip); quantize + dequant are zip_with projections over "
    "materialized arrays (HOF contract: attribute references only); "
    "top-k is WindowGroupLimit-capped. At production scale the codes "
    "column is precomputed at ingest and only the scan+score run per "
    "query batch. Self-exclusion (vec_id <> query_id) is correct "
    "here BY CONTRACT because the queries are drawn from the corpus "
    "id space (first 10 vectors); with a disjoint query id space "
    "drop the predicate.",
)
def sim_sq_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    stats = (
        vecs.select(F.posexplode("v").alias("pos", "x"))
        .groupBy("pos")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .agg(F.sort_array(F.collect_list(F.struct("pos", "mn", "mx"))).alias("s"))
        .select(
            F.transform("s", lambda t: t["mn"]).alias("mins"),
            F.transform("s", lambda t: t["mx"]).alias("maxs"),
        )
    )
    corpus = (
        vecs.crossJoin(F.broadcast(stats))
        .withColumn(
            "widths", F.zip_with("maxs", "mins", lambda mx, mn: mx - mn)
        )
        .withColumn(
            "codes",
            F.zip_with(
                F.zip_with("v", "mins", lambda x, mn: x - mn),
                "widths",
                lambda num, w: F.when(
                    w > 0,
                    F.least(
                        F.lit(255),
                        F.greatest(
                            F.lit(0),
                            F.floor((num / w) * F.lit(256.0)).cast("int"),
                        ),
                    ),
                ).otherwise(F.lit(0)),
            ),
        )
        .withColumn(
            "dq",
            F.zip_with(
                F.zip_with(
                    "codes",
                    "widths",
                    lambda code, w: ((code.cast("double") + F.lit(0.5)) * w)
                    / F.lit(256.0),
                ),
                "mins",
                lambda y, mn: mn + y,
            ),
        )
        .select("vec_id", "dq")
    )
    queries_df = vecs.filter(F.col("vec_id") < SQ_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    scored = (
        corpus.join(F.broadcast(queries_df), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            dot(F.col("qv"), F.col("dq")).alias("sq_score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sq_score").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= SQ_TOP_K)
        .orderBy("query_id", "rank")
    )
