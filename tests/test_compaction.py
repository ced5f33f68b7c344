"""Compaction operator: byte-driven file sizing and content safety."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from aws_healthcare_etl_pipeline_spark.operators.compaction import (
    compact_parquet_dir,
    data_file_count,
    directory_bytes,
)
from aws_healthcare_etl_pipeline_spark.sources.tables import load_table


def test_compact_sizes_by_actual_bytes(spark, sf_dir, tmp_path):
    orders = load_table(spark, sf_dir, "orders")
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    orders.repartition(32).write.mode("overwrite").parquet(src)
    assert data_file_count(src) == 32

    total = directory_bytes(src)
    target = max(1, total // 3)  # force a multi-file outcome
    n = compact_parquet_dir(spark, src, dst, target_bytes=target)
    assert n == math.ceil(total / target)
    assert data_file_count(dst) == n

    a = spark.read.parquet(src).agg(
        F.count(F.lit(1)), F.sum(F.col("o_totalprice").cast("decimal(15,2)"))
    ).collect()[0]
    b = spark.read.parquet(dst).agg(
        F.count(F.lit(1)), F.sum(F.col("o_totalprice").cast("decimal(15,2)"))
    ).collect()[0]
    assert tuple(a) == tuple(b)


def test_compact_explicit_file_count(spark, sf_dir, tmp_path):
    orders = load_table(spark, sf_dir, "orders")
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    orders.repartition(8).write.mode("overwrite").parquet(src)
    n = compact_parquet_dir(spark, src, dst, n_files=2)
    assert n == 2
    assert data_file_count(dst) == 2
