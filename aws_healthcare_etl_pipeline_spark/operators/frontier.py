"""2-D Pareto frontier (skyline) minimizing two columns — window
minima over the distinct-x grain, so no frame funnels all rows
through a single task.

A row survives iff no other row has x' <= x AND y' <= y with at least
one strict inequality: equivalently (a) every strictly-smaller-x row
has y' > y, and (b) the row has the minimum y among its own x value
(per-x min). Duplicate (x, y) points all survive — identical points
don't dominate each other. Comparisons only; no float arithmetic can
perturb membership.

The strictly-smaller-x minimum is computed like the running totals in
``cumsum.py`` (min is associative too): per-x minima form a spine,
one row per distinct x, whose exclusive running min (a ROWS frame
ending at the previous distinct x) is each x's carry-in — exact for
any ordered x type, integer or continuous. The spine is broadcast back
to the rows, which also brings each row its per-x min. Rows with a
NULL x form a spine row of their own (sorted first, so its min counts
as a smaller-x minimum for every x) and are dropped by the join. r2
ran one unpartitioned RANGE window over the full frame — a single-task
sort at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def pareto_frontier_2d(df: DataFrame, x: str, y: str) -> DataFrame:
    """Rows of ``df`` on the (min ``x``, min ``y``) Pareto frontier."""
    sub = df.groupBy(x).agg(F.min(y).alias("_m"))
    spine = Window.orderBy(x).rowsBetween(Window.unboundedPreceding, -1)
    carry = sub.select(x, "_m", F.min("_m").over(spine).alias("_carry"))
    return (
        df.join(F.broadcast(carry), x)
        .filter(
            (F.col("_carry").isNull() | (F.col("_carry") > F.col(y)))
            & (F.col("_m") == F.col(y))
        )
        .drop("_m", "_carry")
    )
