"""Batch CSV -> partitioned-Parquet ingest: the reference pipeline's core.

Reference behavior being reproduced (cited for parity checking):
  - CSV read with header + schema inference .... glue_job_script.py:39-42
  - object-vs-prefix path resolution ........... glue_job_script.py:37
  - non-CSV guard (skip, don't fail) ........... glue_job_script.py:33-35
  - stamp driver-time UTC ``ingest_date`` ...... glue_job_script.py:26,44
  - append write partitioned by ingest_date .... glue_job_script.py:48-53

Deliberate departures, for 100 TB scale (SURVEY.md §4):
  - ``repartition(1)`` (glue_job_script.py:49) is NOT the default.
    ``output_files=None`` coalesces, with no shuffle, to one file per
    ``spark.sql.files.maxPartitionBytes`` of estimated input
    (``filesize.target_file_count``); an int reproduces the reference's
    demo behavior. A write with no exchange gets no AQE sizing: without
    the coalesce, every input split would be its own small file.
    The trade-off: an input under one target size is parsed and
    written by one task.
  - ``inferSchema=True`` costs an extra full pass over the CSV; an
    explicit ``schema`` is the fast path and is mandatory for the
    streaming variant (streaming/ingest_stream.py).
  - optional idempotent mode: dynamic partition overwrite instead of
    blind append, so a retried job does not duplicate rows
    (glue_job_script.py:51 + main.tf:150 allow duplicates on retry).
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .filesize import target_file_count


def utc_ingest_date(now: dt.datetime | None = None) -> str:
    """Driver-time UTC date string, matching glue_job_script.py:26.

    Kept injectable so tests are deterministic. Note the reference
    stamps a *string*, not a DateType — partition values read back as
    strings; we preserve that for parity.
    """
    now = now or dt.datetime.now(dt.timezone.utc)
    return now.strftime("%Y-%m-%d")


def is_csv_object(key: str) -> bool:
    """Non-CSV guard, matching glue_job_script.py:33 / main.tf:241-243."""
    return key.lower().endswith(".csv")


def resolve_source_path(raw_root: str, raw_prefix: str, object_key: str = "") -> str:
    """Single-object vs whole-prefix resolution (glue_job_script.py:37)."""
    raw_root = raw_root.rstrip("/")
    if object_key:
        return f"{raw_root}/{object_key}"
    return f"{raw_root}/{raw_prefix.strip('/')}"


@dataclass
class IngestConfig:
    raw_root: str                       # e.g. s3://bucket or /local/dir
    curated_root: str                   # parquet destination root
    raw_prefix: str = "incoming/"       # main.tf:140-148 defaults
    curated_prefix: str = "athena/"
    object_key: str = ""                # set -> ingest just that object
    schema: T.StructType | None = None  # None -> inferSchema (reference parity)
    ingest_date: str | None = None      # None -> driver-time UTC today
    output_files: int | None = None     # None -> one file per maxPartitionBytes of input
    mode: str = "append"                # "append" (parity) | "overwrite_partition"
    extra_read_options: dict[str, str] = field(default_factory=dict)

    @property
    def source_path(self) -> str:
        return resolve_source_path(self.raw_root, self.raw_prefix, self.object_key)

    @property
    def output_path(self) -> str:
        return f"{self.curated_root.rstrip('/')}/{self.curated_prefix.strip('/')}"


def read_csv(spark: SparkSession, cfg: IngestConfig) -> DataFrame:
    """CSV scan with header; inferred schema unless one is supplied."""
    reader = spark.read.option("header", "true")
    if cfg.schema is not None:
        reader = reader.schema(cfg.schema)
    else:
        reader = reader.option("inferSchema", "true")
    for k, v in cfg.extra_read_options.items():
        reader = reader.option(k, v)
    # pathGlobFilter enforces the CSV-only contract at the scan, so a
    # prefix ingest never picks up stray non-CSV objects.
    if not cfg.object_key:
        reader = reader.option("pathGlobFilter", "*.csv")
    return reader.csv(cfg.source_path)


def transform(df: DataFrame, ingest_date: str) -> DataFrame:
    """The reference's one transform: stamp every row with ingest_date
    (glue_job_script.py:44). Pass-through projection otherwise."""
    return df.withColumn("ingest_date", F.lit(ingest_date))


def write_partitioned(df: DataFrame, cfg: IngestConfig) -> None:
    # coalesce, not the reference's repartition(1) (glue_job_script.py:49):
    # no shuffle, just fewer output tasks. Each output file costs a task
    # plus its commit and per-file filesystem calls, so a small landing
    # is written as one file rather than one per input split.
    n = cfg.output_files if cfg.output_files is not None else target_file_count(df)
    df = df.coalesce(n)
    writer = df.write.partitionBy("ingest_date")
    if cfg.mode == "overwrite_partition":
        # idempotent re-run: replaces only the partitions present in df
        writer = writer.option("partitionOverwriteMode", "dynamic").mode("overwrite")
    else:
        writer = writer.mode("append")
    writer.parquet(cfg.output_path)


def ingest_csv(spark: SparkSession, cfg: IngestConfig) -> str | None:
    """End-to-end single ingest run (the Glue job, minus Glue).

    Returns the output path, or None when skipped by the non-CSV guard
    (exit-0 semantics of glue_job_script.py:33-35) or because the input
    has no columns: inference on a zero-byte object finds none, and a
    table of only ``ingest_date`` cannot be partitioned by it.
    """
    if cfg.object_key and not is_csv_object(cfg.object_key):
        return None
    df = read_csv(spark, cfg)
    if not df.columns:  # the schema is already resolved: no extra pass
        return None
    write_partitioned(transform(df, cfg.ingest_date or utc_ingest_date()), cfg)
    return cfg.output_path
