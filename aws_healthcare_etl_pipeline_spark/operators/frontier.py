"""2-D Pareto frontier (skyline) minimizing two columns — window
minima with the strictly-smaller-x scan decomposed into two levels,
so no frame ever funnels through a single task.

A row survives iff no other row has x' <= x AND y' <= y with at least
one strict inequality: equivalently (a) every strictly-smaller-x row
has y' > y, and (b) the row has the minimum y among its own x value
(per-x partition min). Duplicate (x, y) points all survive —
identical points don't dominate each other. Comparisons only; no
float arithmetic can perturb membership.

The strictly-smaller-x minimum is computed like the running totals in
``cumsum.py`` (min is associative too): rows bucket by x itself
(right for discrete domains like sizes/grades), bucket minima form a
bounded spine whose exclusive running min is each bucket's carry-in,
and a bucket-partitioned ROWS window over the DISTINCT-x grain covers
strictly-smaller x within the bucket — exact for any ordered x type,
integer or continuous. r2 ran one
unpartitioned RANGE window over the full frame — a single-task sort
at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def pareto_frontier_2d(df: DataFrame, x: str, y: str) -> DataFrame:
    """Rows of ``df`` on the (min ``x``, min ``y``) Pareto frontier."""
    pts = df.withColumn("_xb", F.col(x))
    sub = pts.groupBy("_xb").agg(F.min(y).alias("_m"))
    spine = Window.orderBy("_xb").rowsBetween(Window.unboundedPreceding, -1)
    carry = sub.select("_xb", F.min("_m").over(spine).alias("_carry"))
    # Within-bucket strictly-smaller-x minimum on the DISTINCT-x grain:
    # after the (bucket, x) groupBy each partition holds one row per x
    # value, so a ROWS frame ending at -1 is exactly {x' < x} for ANY
    # ordered x type. (A rangeBetween(..., -1) offset frame is only
    # equivalent on integer-valued x — with a continuous x, dominators
    # at x-1 < x' < x would slip through the offset frame.)
    xgrain = pts.groupBy("_xb", x).agg(F.min(y).alias("_xm"))
    within = (
        Window.partitionBy("_xb")
        .orderBy(x)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    smaller = xgrain.select(
        "_xb", x, F.min("_xm").over(within).alias("_in_bucket")
    )
    same_x = Window.partitionBy(x)
    ranked = (
        pts.join(F.broadcast(carry), "_xb")
        .join(smaller, ["_xb", x])
        .withColumn("_best_same", F.min(y).over(same_x))
    )
    # least() skips NULLs (empty carry for the first bucket / empty
    # in-bucket frame), returning NULL only when both are
    best_smaller = F.least(F.col("_carry"), F.col("_in_bucket"))
    return ranked.filter(
        (best_smaller.isNull() | (best_smaller > F.col(y)))
        & (F.col("_best_same") == F.col(y))
    ).drop("_xb", "_carry", "_in_bucket", "_best_same")
