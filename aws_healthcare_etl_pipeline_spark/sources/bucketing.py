"""Bucketed tables: shuffle-free co-located joins (SURVEY.md §2.5 /
the 100 TB posture in the pyspark guide).

Writing both join sides bucketed by the join key with the same bucket
count lets Spark sort-merge-join them with NO Exchange on either side —
the per-round shuffle that dominates repeated fact⋈fact joins at scale
is paid once at write time. tests/test_plans.py asserts the
Exchange-free plan.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    num_buckets: int = 8,
    sort_cols: Sequence[str] | None = None,
) -> None:
    """Persist as a bucketed (and optionally sorted) managed table,
    replacing any existing one."""
    writer = df.write.mode("overwrite").bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.format("parquet").saveAsTable(table)


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, on: str
) -> DataFrame:
    """Inner-join two same-bucketed tables on their bucket key — planner
    elides both shuffles (verify with .explain: no Exchange)."""
    return spark.table(left_table).join(spark.table(right_table), on)
