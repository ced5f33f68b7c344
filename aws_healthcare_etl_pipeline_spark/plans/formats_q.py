"""Source/sink format matrix surfaced to the driver (SURVEY.md §2.1
extension): the same relation written to and re-read from JSON-lines
and ORC must aggregate identically to the parquet original — format
round-tripping is part of the engine contract, not just the CSV path
the reference exercises (glue_job_script.py:41 reads CSV only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.formats import read_jsonl, read_orc, write_jsonl, write_orc
from ..sources.tables import load_table
from .registry import dsum, query, scratch

SAMPLE_MAX_KEY = 1000


@query(
    "format_roundtrip_matrix",
    oracle=f"""
        SELECT fmt AS format,
               COUNT(*) AS n_rows,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE)
                   AS total_price,
               MIN(o_orderdate) AS first_date
        FROM orders, (VALUES ('jsonl'), ('orc')) f(fmt)
        WHERE o_orderkey < {SAMPLE_MAX_KEY}
        GROUP BY fmt
        ORDER BY fmt
    """,
    description="Format round-trip matrix: the orders sample is written "
    "to JSON-lines and ORC, re-read (explicit schema on the JSON path — "
    "inference costs an extra pass), and aggregated; each format row "
    "must equal the parquet-derived oracle. Exercises timestamp/double "
    "serialization fidelity across text and columnar formats.",
)
def format_roundtrip_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    sample = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < SAMPLE_MAX_KEY)
        .select("o_orderkey", "o_totalprice", "o_orderstatus", "o_orderdate")
    )
    base = scratch(prefix="fmt_roundtrip_")
    write_jsonl(sample, f"{base}/jsonl")
    write_orc(sample, f"{base}/orc")
    readers: dict[str, DataFrame] = {
        "jsonl": read_jsonl(spark, f"{base}/jsonl", schema=sample.schema),
        "orc": read_orc(spark, f"{base}/orc"),
    }

    def summarize(df: DataFrame, fmt: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum("o_totalprice").alias("total_price"),
            F.min("o_orderdate").alias("first_date"),
        ).select(F.lit(fmt).alias("format"), "n_rows", "total_price", "first_date")

    out = None
    for fmt, df in readers.items():
        part = summarize(df, fmt)
        out = part if out is None else out.unionByName(part)
    return out.orderBy("format")
