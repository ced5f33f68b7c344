"""Bucketed point-in-interval join: the scale path for temporal
overlap joins WITHOUT an equi key.

Spark plans a bare ``t BETWEEN start AND end`` join as a
BroadcastNestedLoopJoin — O(|points| x |intervals|) and only viable
while one side broadcasts. Bucketing both sides by a fixed time width
W turns it into an equi join: a point lives in exactly one bucket; an
interval replicates into each bucket it overlaps (ceil(len/W) + 1
copies). The interval predicate then evaluates as a cheap residual on
the hash-join output. Work becomes O(points + intervals x spanned
buckets + true matches) and shuffles hash-partition on the bucket —
the standard sweep-bucket technique interval-join engines use.

Pick W near the typical interval length: too small replicates
intervals; too large degrades the residual's selectivity. Skewed hot
buckets fall to AQE's skew-join handling like any other key skew.

No duplicates by construction: a (point, interval) pair meets in
exactly the POINT's bucket (the interval's copy in that bucket), so
no post-join dedup is needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def bucketed_point_interval_join(
    points: DataFrame,
    t_col: str,
    intervals: DataFrame,
    start_col: str,
    end_col: str,
    bucket_width: int,
) -> DataFrame:
    """Inner-join point rows to every interval row with
    ``start <= t < end``. All three columns must be LONG in the same
    unit (epoch days/seconds/micros). Intervals are half-open.

    The interval containment predicate is a post-join filter, so an
    outer variant would silently collapse back to inner semantics."""
    pb = points.withColumn("__bucket", F.expr(f"{t_col} div {bucket_width}"))
    ib = intervals.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.expr(f"{start_col} div {bucket_width}"),
                F.expr(f"({end_col} - 1) div {bucket_width}"),
            )
        ),
    )
    return (
        pb.join(ib, "__bucket")
        .filter((F.col(t_col) >= F.col(start_col)) & (F.col(t_col) < F.col(end_col)))
        .drop("__bucket")
    )
