"""Product quantization (PQ) + asymmetric-distance (ADC) search: the
compressed-corpus scale path for similarity, complementing sign-LSH
(operators/similarity.py) and IVF (operators/ivf.py).

PQ splits each vector into ``m`` subvectors and snaps every subvector
to one of ``k`` per-subspace codebook centroids — the corpus then
lives as ``m`` small codes (m=8, k=16 -> 8 nibbles = 4 bytes/vector
packed; vs 256 bytes of float32 at dim 64). Queries are NOT quantized
(the "asymmetric" in ADC): each query precomputes an m x k table of
subvector-to-centroid dots, and scoring a corpus vector is m table
lookups — no float vector ever touches the scan.

Scale shape:
- Codebooks train on a bounded driver-side sample (4096 rows, the
  same contract as IVF init) — PQ codebooks are always sample-trained
  in practice; full-corpus Lloyd would buy nothing.
- Encoding is one narrow distributed pass (m*k tiny dot expressions,
  whole-stage codegen; the output is the codes column only).
- Search broadcasts the per-query lookup tables as plan literals and
  scans CODES, not embeddings: ~4 bytes/vector of state instead of
  256, so a 100 TB float corpus becomes a ~1.6 TB scan.

No UDFs anywhere: codes via materialized dot columns + chained-CASE
argmax (ivf.py's contract), ADC via zip_with/element_at/aggregate.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .ivf import _argmax_dot


def train_pq_codebooks(
    corpus: DataFrame,
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 16,
    iterations: int = 8,
    seed: int = 42,
    sample_rows: int = 4096,
) -> np.ndarray:
    """Per-subspace Lloyd's k-means on a bounded sample; returns
    codebooks of shape (m, k, dim/m). Deterministic: seeded init over
    a scan-order sample (same bounded-driver-transfer contract as
    train_ivf_centroids)."""
    sample = corpus.select(vec_col).limit(sample_rows).toPandas()[vec_col]
    vecs = np.array([np.asarray(v, dtype=np.float64) for v in sample])
    dim = vecs.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d_sub = dim // m
    rng = np.random.default_rng(seed)
    books = np.empty((m, k, d_sub))
    for s in range(m):
        sub = vecs[:, s * d_sub : (s + 1) * d_sub]
        cent = sub[rng.choice(len(sub), size=k, replace=False)]
        for _ in range(iterations):
            d2 = ((sub[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for j in range(k):
                members = sub[assign == j]
                if len(members):
                    cent[j] = members.mean(axis=0)
        books[s] = cent
    return books


def _sub_dot_expr(vec_col: str, s: int, d_sub: int, centroid: np.ndarray) -> str:
    """SQL text: dot(subvector s of vec_col, literal centroid) minus
    half the centroid's squared norm — argmax of this over j equals
    argmin of squared euclidean distance, without computing ||v||^2."""
    arr = "array(" + ",".join(f"{float(x)!r}D" for x in centroid) + ")"
    half_norm2 = float(centroid @ centroid) / 2.0
    sub = f"slice({vec_col}, {s * d_sub + 1}, {d_sub})"
    return (
        f"aggregate(zip_with({sub}, {arr}, (x, y) -> cast(x AS double) * y), "
        f"0D, (acc, x) -> acc + x) - {half_norm2!r}D"
    )


def pq_encode(
    corpus: DataFrame,
    books: np.ndarray,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    codes_col: str = "codes",
) -> DataFrame:
    """(id, codes array<int> of length m): one distributed pass, m*k
    materialized score columns per row, chained-CASE argmax per
    subspace (ties -> lowest code, deterministic)."""
    m, k, d_sub = books.shape
    # two flat projections: (1) materialize all m*k scores at once,
    # (2) all m argmaxes + assemble the codes array. The first cut
    # nested m projection layers (one per subspace), which multiplied
    # analyzer/codegen work ~m-fold for the same runtime plan.
    scored = corpus.select(
        id_col,
        *[
            F.expr(_sub_dot_expr(vec_col, s, d_sub, books[s, j])).alias(f"__q{s}_{j}")
            for s in range(m)
            for j in range(k)
        ],
    )
    return scored.select(
        id_col,
        F.array(*[_argmax_dot(k, prefix=f"__q{s}_") for s in range(m)]).alias(codes_col),
    )


def _lut_literal(tables: np.ndarray) -> str:
    """SQL literal for an m x k lookup table: array of m arrays of k
    doubles."""
    return (
        "array("
        + ",".join(
            "array(" + ",".join(f"{float(v)!r}D" for v in row) + ")"
            for row in tables
        )
        + ")"
    )


def pq_top_k(
    encoded: DataFrame,
    queries: DataFrame,
    books: np.ndarray,
    k: int,
    corpus_id: str = "vec_id",
    codes_col: str = "codes",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """Approximate cosine top-k from codes only.

    Per query: LUT[s][j] = dot(query subvector s, codebook[s][j])
    (computed driver-side from the collected query vectors — queries
    are the small side by contract). Corpus norm is approximated from
    the codebooks: ||v||^2 ~ sum_s ||c_{s,code_s}||^2. The scan reads
    (id, codes) only; per row work is 2m lookups + a divide.

    Corpus rows whose id equals the query id are dropped: queries are
    drawn FROM the corpus and share its id space (the self-match is a
    trivial cosine-1 hit)."""
    m, kk, d_sub = books.shape
    qrows = queries.select(query_id, query_vec).collect()
    cent_norm2 = (books**2).sum(axis=2)  # (m, k)
    norm_lut = _lut_literal(cent_norm2)

    # per-query LUTs ride a broadcast side table (one row per query:
    # id, m x k table, norm) so the codes corpus is scanned ONCE for
    # all queries, not once per query.
    lut_rows = []
    for row in qrows:
        qv = np.asarray(row[query_vec], dtype=np.float64)
        qsubs = qv.reshape(m, d_sub)
        lut = np.einsum("sd,skd->sk", qsubs, books)  # (m, k) dots
        lut_rows.append(
            (row[query_id], [[float(v) for v in r] for r in lut], float(np.linalg.norm(qv)))
        )
    spark = encoded.sparkSession
    luts = F.broadcast(
        spark.createDataFrame(
            lut_rows, f"{query_id} long, __lut array<array<double>>, __q_norm double"
        )
    )

    lookup_sum = lambda lut_col: F.aggregate(  # noqa: E731
        F.zip_with(
            F.col(codes_col),
            lut_col,
            lambda c, row: F.element_at(row, c + F.lit(1)),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # approx corpus norm depends only on the codes — materialize once
    # per corpus row, not once per (row, query) pair
    with_norm = encoded.withColumn(
        "__c_norm", F.sqrt(lookup_sum(F.expr(norm_lut)))
    )
    scored = (
        with_norm.crossJoin(luts)
        .filter(F.col(corpus_id) != F.col(query_id))
        .select(
            query_id,
            corpus_id,
            (
                lookup_sum(F.col("__lut")) / (F.col("__q_norm") * F.col("__c_norm"))
            ).alias("approx_cosine"),
        )
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("approx_cosine").desc(), F.col(corpus_id).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "approx_cosine", "rank")
    )
