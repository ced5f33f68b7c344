"""Similarity search over embedding columns (SURVEY.md §2.8).

Two tiers:
  - ``brute_force_top_k``: exact cosine top-k. Query set is broadcast
    (it's the small side by construction); the corpus is scanned once,
    fully JVM-side via zip_with/aggregate — a single narrow pass, no
    shuffle of the corpus, then a windowed top-k on (query, score).
    At 100 TB this is the gold standard the ANN tier is measured
    against: linear in corpus size, embarrassingly parallel.
  - ``lsh_top_k``: random-hyperplane (sign) LSH. A 16-bit signature
    buckets the corpus; candidates = corpus rows whose signature is
    within ``probe_hamming`` of the query signature (multi-probe), so
    the scan touches only matching buckets. Recall < 1 by design; the
    signature join shuffles only (bucket, id) pairs.

Hyperplanes are generated with a fixed-seed NumPy RNG and embedded as
literal arrays in the plan — deterministic across runs and engines.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import dot, l2_norm


def brute_force_top_k(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector, excluding a
    corpus row whose id equals the query id.

    Returns (query_id, vec_id, cosine) with rank<=k per query;
    deterministic tiebreak on (cosine desc, vec_id asc).
    """
    # norms are materialized once per row on each side, so the per-pair
    # work is a single dot product — an inline dot/(norm*norm) form
    # would recompute both norms for every (query, corpus) pair.
    q = F.broadcast(
        queries.select(query_id, query_vec).withColumn("q_norm", l2_norm(F.col(query_vec)))
    )
    c = corpus.select(corpus_id, corpus_vec).withColumn(
        "c_norm", l2_norm(F.col(corpus_vec))
    )
    scored = c.crossJoin(q).filter(F.col(corpus_id) != F.col(query_id)).select(
        query_id,
        corpus_id,
        (
            dot(F.col(query_vec), F.col(corpus_vec))
            / (F.col("q_norm") * F.col("c_norm"))
        ).alias("cosine"),
    )
    w = Window.partitionBy(query_id).orderBy(F.col("cosine").desc(), F.col(corpus_id).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "cosine", "rank")
    )


def _hyperplanes(dim: int, n: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n, dim)).tolist()


def _table_signature(vec_col: str, planes: list[list[float]]) -> Column:
    """Sign-LSH signature over one table's hyperplanes: bit p set iff
    dot(vec, plane_p) > 0. Returns an int in [0, 2^len(planes)).

    Built as ONE SQL expression string: the column-object form costs a
    py4j round trip per operator node (~10 per plane; plan construction
    alone took seconds per call), while a single F.expr parses
    table-at-once on the JVM. repr() round-trips doubles exactly, so
    the parsed hyperplane literals are bit-identical to the NumPy
    values. Disjoint power-of-two terms make + equivalent to OR.
    """
    parts = []
    for p, plane in enumerate(planes):
        arr = "array(" + ",".join(f"{float(x)!r}D" for x in plane) + ")"
        dot_sql = (
            f"aggregate(zip_with({vec_col}, {arr}, (x, y) -> cast(x AS double) * y), "
            "0D, (acc, x) -> acc + x)"
        )
        parts.append(f"(CASE WHEN {dot_sql} > 0 THEN {1 << p} ELSE 0 END)")
    return F.expr(" + ".join(parts))


def lsh_candidates(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    bits_per_table: int = 8,
    n_tables: int = 8,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    seed: int = 42,
) -> DataFrame:
    """Distinct LSH candidate pairs (query_id, corpus_id) — the
    candidate-generation stage of ``lsh_top_k``, exposed so callers
    (e.g. the ANN bake-off) can measure scan cost: ``count()`` of this
    frame is exactly how many vectors the LSH tier scores."""
    planes = _hyperplanes(dim, bits_per_table * n_tables, seed)
    tables = [planes[t * bits_per_table : (t + 1) * bits_per_table] for t in range(n_tables)]

    # Each table signature (with its 64-dim literal hyperplanes) is
    # materialized ONCE as a column; the explode/probe expressions then
    # reference cheap attributes. Building probes directly from the
    # signature expression would embed the full hyperplane tree into
    # every probe struct — (1+bits)*tables copies — and codegen
    # compilation time dwarfs the actual scan.
    sig_cols = [f"__sig_{t}" for t in range(n_tables)]

    def with_sigs(df: DataFrame, vec_col: str) -> DataFrame:
        return df.select(
            "*",
            *[
                _table_signature(vec_col, tp).alias(sc)
                for sc, tp in zip(sig_cols, tables)
            ],
        )

    c_sig = with_sigs(corpus.select(corpus_id, corpus_vec), corpus_vec).select(
        corpus_id,
        F.posexplode(F.array(*[F.col(sc) for sc in sig_cols])).alias("t", "sig"),
    )

    probe_structs = []
    for t, sc in enumerate(sig_cols):
        s = F.col(sc)
        probe_structs.append(F.struct(F.lit(t).alias("t"), s.alias("sig")))
        for b in range(bits_per_table):
            probe_structs.append(
                F.struct(F.lit(t).alias("t"), s.bitwiseXOR(F.lit(1 << b)).alias("sig"))
            )
    q_probes = F.broadcast(
        with_sigs(queries.select(query_id, query_vec), query_vec)
        .select(query_id, F.explode(F.array(*probe_structs)).alias("probe"))
        .select(query_id, F.col("probe.t").alias("t"), F.col("probe.sig").alias("sig"))
    )

    return (
        c_sig.join(q_probes, ["t", "sig"])
        .filter(F.col(corpus_id) != F.col(query_id))
        .select(query_id, corpus_id)
        .distinct()
    )


def lsh_top_k(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    dim: int,
    bits_per_table: int = 8,
    n_tables: int = 8,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k cosine via multi-table sign-LSH.

    Classic (b, L) scheme: L independent tables of b hyperplane-sign
    bits; a corpus vector is a candidate for a query if any table's
    signatures collide. The query also probes every 1-bit-flip of its
    signature (b extra probes/table, multi-probe), trading probe
    fan-out for fewer tables. Exact cosine is then computed on
    candidates only, so returned scores are exact — the approximation
    is only which candidates are seen (recall < 1 by contract).

    Scale shape: the corpus emits L compact (table, sig, id) rows —
    no vectors — into an equi-join against the broadcast query probes;
    only distinct candidate pairs fetch vectors for scoring. At the
    defaults and cosine≈0.3 neighbors (near-orthogonal background)
    expected recall is ~0.5-0.6 while scoring ~25% of the corpus;
    higher-similarity corpora prune far harder.
    """
    candidates = lsh_candidates(
        corpus,
        queries,
        dim,
        bits_per_table=bits_per_table,
        n_tables=n_tables,
        corpus_id=corpus_id,
        corpus_vec=corpus_vec,
        query_id=query_id,
        query_vec=query_vec,
        seed=seed,
    )
    scored = (
        candidates.join(
            corpus.select(corpus_id, corpus_vec).withColumn(
                "c_norm", l2_norm(F.col(corpus_vec))
            ),
            corpus_id,
        )
        .join(
            F.broadcast(
                queries.select(query_id, query_vec).withColumn(
                    "q_norm", l2_norm(F.col(query_vec))
                )
            ),
            query_id,
        )
        .select(
            query_id,
            corpus_id,
            (
                dot(F.col(query_vec), F.col(corpus_vec))
                / (F.col("q_norm") * F.col("c_norm"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy(query_id).orderBy(F.col("cosine").desc(), F.col(corpus_id).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "cosine", "rank")
    )
