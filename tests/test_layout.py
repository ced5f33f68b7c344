"""Z-order layout: prove footer-level file skipping on BOTH dimensions
(the reason the operator exists), not just result correctness (the
oracle-parity suite covers that via layout_zorder_box_query)."""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from aws_healthcare_etl_pipeline_spark.operators.layout import (
    morton_interleave,
    quantize,
    write_zordered,
)
from aws_healthcare_etl_pipeline_spark.sources.tables import load_table

BOX_PRICE = (100_000.0, 200_000.0)
BOX_DAY = (2192, 2557)  # 1996-01-01 .. 1996-12-31 as days since 1990-01-01


def _file_ranges(base: str, col: str):
    """Per-file (min, max) of ``col`` from parquet footer statistics."""
    out = []
    for f in sorted(glob.glob(os.path.join(base, "*.parquet"))):
        md = pq.ParquetFile(f).metadata
        idx = md.schema.names.index(col)
        lo = min(md.row_group(g).column(idx).statistics.min for g in range(md.num_row_groups))
        hi = max(md.row_group(g).column(idx).statistics.max for g in range(md.num_row_groups))
        out.append((f, lo, hi))
    return out


@pytest.fixture(scope="module")
def zdir(spark, sf_dir, tmp_path_factory):
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "o_epoch_day",
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1990-01-01").cast("date")),
    )
    base = str(tmp_path_factory.mktemp("zorder"))
    write_zordered(orders, base, "o_totalprice", "o_epoch_day", n_files=16)
    return base


def test_zorder_skips_files_on_both_dimensions(zdir):
    price = _file_ranges(zdir, "o_totalprice")
    day = _file_ranges(zdir, "o_epoch_day")
    n = len(price)
    assert n >= 8, "range partitioner should actually fan out"

    price_prunable = sum(1 for _, lo, hi in price if hi < BOX_PRICE[0] or lo > BOX_PRICE[1])
    day_prunable = sum(1 for _, lo, hi in day if hi < BOX_DAY[0] or lo > BOX_DAY[1])
    # A 1-D sort clusters one column and leaves the other spanning the
    # full domain in every file (0 prunable). Z-order must make files
    # skippable on EACH dimension independently.
    assert price_prunable > 0, f"no file prunable on price: {price}"
    assert day_prunable > 0, f"no file prunable on date: {day}"

    box_prunable = sum(
        1
        for (f, plo, phi), (_, dlo, dhi) in zip(price, day)
        if phi < BOX_PRICE[0] or plo > BOX_PRICE[1] or dhi < BOX_DAY[0] or dlo > BOX_DAY[1]
    )
    assert box_prunable >= n // 4, (
        f"box query should skip >=1/4 of files, got {box_prunable}/{n}"
    )


def test_morton_interleave_is_monotone_in_quadrants(spark):
    """Structural sanity: interleave of (x, y) keeps quadrant order —
    all z-values with high bit of x AND y clear sort before any with
    both set."""
    df = spark.range(0, 256).select(
        (F.col("id") % 16).alias("x"), (F.col("id") / 16).cast("long").alias("y")
    )
    z = df.select(
        "x", "y", morton_interleave(F.col("x"), F.col("y"), bits=4).alias("z")
    ).collect()
    for r in z:
        # interleave is exact: reconstruct x and y from z bits
        x = sum(((r.z >> (2 * i)) & 1) << i for i in range(4))
        y = sum(((r.z >> (2 * i + 1)) & 1) << i for i in range(4))
        assert (x, y) == (r.x, r.y)


def test_quantize_clamps_and_is_monotone(spark):
    df = spark.range(0, 100).select((F.col("id") * 10).alias("v"))
    q = df.select(
        "v", quantize(F.col("v"), 0.0, 990.0, bits=8).alias("q")
    ).orderBy("v").collect()
    qs = [r.q for r in q]
    assert qs == sorted(qs)
    assert qs[0] == 0 and qs[-1] == 255
