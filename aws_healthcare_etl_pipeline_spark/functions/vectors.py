"""Vector math as Catalyst column expressions — no Python UDFs.

``array<float>`` embeddings are combined with ``F.zip_with`` /
``F.aggregate`` so the whole computation stays inside whole-stage
codegen on the JVM. All arithmetic is done in DOUBLE after an explicit
element cast: summation is sequential in array order, which makes the
result deterministic and bit-identical to any other engine that sums
the same doubles left-to-right (the DuckDB oracle does).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_double(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-order dot product of two float/double arrays."""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(_as_double(a), F.lit(0.0), lambda acc, x: acc + x * x)
    )

