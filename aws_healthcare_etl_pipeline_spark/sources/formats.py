"""Source/sink format coverage beyond the reference's CSV->Parquet pair.

The reference touches exactly two formats (CSV in, Parquet out). The
engine also speaks JSON-lines and ORC, both built into Spark. Lakehouse
tables use the in-repo transaction log in ``deltalite.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_jsonl(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """JSON-lines scan. Pass a schema in production — inference costs a
    full extra pass, exactly like the CSV case."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_jsonl(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").orc(path)
