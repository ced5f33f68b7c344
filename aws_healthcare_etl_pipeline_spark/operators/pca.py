"""Distributed PCA for embedding columns: exact covariance via
per-partition outer-product partials, eigendecomposition on the
driver (dim x dim is tiny by contract), distributed projection.

Scale shape: the covariance pass is mapInPandas emitting ONE partial
row per Arrow batch — (count, sum vector, flattened X^T X) — so the
shuffle carries #batches x (dim^2 + dim + 1) doubles regardless of
row count; a 100 TB corpus reduces to a few thousand 33 KB rows. The
eigen-solve touches a dim x dim matrix on the driver (64 x 64 here —
microseconds). Projection is k literal dot-expressions per row,
whole-stage codegen, no Python.

Float caveat (why the covering query self-grades): partial sums of
float products are partition-order-dependent in the last ulps, so
PCA outputs are compared against numpy within tolerance
(tests/test_pca.py), never hash-compared across engines.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .ivf import _dot_expr


def covariance_stats(df: DataFrame, vec_col: str = "embedding") -> tuple[int, np.ndarray, np.ndarray]:
    """(n, mean vector, covariance matrix) of an array<float> column.

    One distributed pass; per-batch numpy partials keep the reduce
    payload O(dim^2) per batch, not per row."""

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            if not len(pdf):
                continue
            x = _np.stack(pdf.iloc[:, 0].map(lambda v: _np.asarray(v, _np.float64)))
            yield _pd.DataFrame(
                {
                    "n": [len(x)],
                    "s": [x.sum(axis=0).tolist()],
                    "xtx": [(x.T @ x).ravel().tolist()],
                }
            )

    dim = len(df.select(vec_col).first()[0])
    # lazily checkpointed: the partials relation is #batches x 33 KB
    # (bounded reduce payload), and three tiny jobs consume it below
    parts = df.select(vec_col).mapInPandas(
        partials, schema="n long, s array<double>, xtx array<double>"
    ).localCheckpoint(eager=False)
    # Elementwise array-sum as posexplode -> groupBy(pos) -> sum: one
    # GENERIC hash aggregate over (#batches x dim^2) tiny rows. The
    # previous form — dim^2 = 4096 separate SUM(element_at(...))
    # aggregate expressions in one plan — cost ~15s of one-time Janino
    # codegen plus seconds of interpreted eval per run at dim=64
    # (measured: fit_pca 20s cold / ~5s warm -> 1-2s total); the
    # exploded shape keeps the shuffle payload identical and the plan
    # constant-size in dim.
    n = parts.agg(F.sum("n").alias("n")).collect()[0]["n"]
    s = np.zeros(dim)
    for r in (
        parts.select(F.posexplode("s").alias("i", "v"))
        .groupBy("i")
        .agg(F.sum("v").alias("sv"))
        .collect()
    ):
        s[r["i"]] = r["sv"]
    xtx = np.zeros(dim * dim)
    for r in (
        parts.select(F.posexplode("xtx").alias("i", "v"))
        .groupBy("i")
        .agg(F.sum("v").alias("sv"))
        .collect()
    ):
        xtx[r["i"]] = r["sv"]
    mean = s / n
    cov = xtx.reshape(dim, dim) / n - np.outer(mean, mean)
    return n, mean, cov


def fit_pca(df: DataFrame, vec_col: str = "embedding", k: int = 8):
    """Returns (n, mean, components[k x dim], explained_ratio[k])."""
    n, mean, cov = covariance_stats(df, vec_col)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1]
    evals = evals[order]
    evecs = evecs[:, order]
    total = float(evals.sum())
    comps = evecs[:, :k].T  # (k, dim)
    # sign convention: largest-|coord| entry positive -> deterministic
    for i in range(comps.shape[0]):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    ratio = evals[:k] / total if total > 0 else np.zeros(k)
    return n, mean, comps, ratio


def pca_project(
    df: DataFrame,
    mean: np.ndarray,
    components: np.ndarray,
    vec_col: str = "embedding",
    out_col: str = "pc",
) -> DataFrame:
    """Append array<double> of k principal-component scores:
    (x - mean) @ components.T, as k literal dot expressions (the mean
    shift folds into a constant offset per component)."""
    offsets = components @ mean  # (k,)
    scores = [
        (F.expr(_dot_expr(vec_col, c)) - F.lit(float(off))).alias(f"__pc{i}")
        for i, (c, off) in enumerate(zip(components, offsets))
    ]
    with_scores = df.select("*", *scores)
    return with_scores.select(
        *df.columns,
        F.array(*[F.col(f"__pc{i}") for i in range(len(components))]).alias(out_col),
    )
