"""Reference-pipeline parity tests (glue_job_script.py semantics) on the
sample.csv fixture shape (README.md:66-71)."""

from __future__ import annotations

import os
from dataclasses import replace

import pytest
from pyspark.sql import functions as F

from aws_healthcare_etl_pipeline_spark.sources.csv_ingest import (
    IngestConfig,
    ingest_csv,
    is_csv_object,
    read_csv,
    resolve_source_path,
    utc_ingest_date,
    write_partitioned,
)
from aws_healthcare_etl_pipeline_spark.sources.filesize import (
    target_file_count,
    write_sized_parquet,
)

SAMPLE = """patient_id,encounter_id,diagnosis,amount
p-1001,e-9001,flu,120.50
p-1002,e-9002,sprain,80.00
"""


@pytest.fixture()
def workspace(tmp_path):
    raw = tmp_path / "raw"
    (raw / "incoming").mkdir(parents=True)
    (raw / "incoming" / "sample.csv").write_text(SAMPLE)
    curated = tmp_path / "curated"
    return raw, curated


def test_non_csv_guard():
    assert is_csv_object("incoming/a.csv")
    assert is_csv_object("incoming/A.CSV")  # case-insensitive, glue_job_script.py:33
    assert not is_csv_object("incoming/a.parquet")


def test_path_resolution():
    # glue_job_script.py:37 semantics
    assert (
        resolve_source_path("s3://b", "incoming/", "incoming/x.csv")
        == "s3://b/incoming/x.csv"
    )
    assert resolve_source_path("s3://b", "incoming/", "") == "s3://b/incoming"


def test_ingest_skips_non_csv(spark, workspace):
    raw, curated = workspace
    cfg = IngestConfig(
        raw_root=str(raw), curated_root=str(curated), object_key="incoming/a.txt"
    )
    assert ingest_csv(spark, cfg) is None
    assert not curated.exists()


@pytest.mark.parametrize("content", ["", "patient_id,encounter_id,diagnosis,amount\n"])
def test_ingest_of_empty_object_writes_nothing(spark, workspace, content):
    """A zero-byte object infers no columns and is skipped like a non-CSV
    one; a header-only object ingests 0 rows. Neither writes a file."""
    raw, curated = workspace
    (raw / "incoming" / "sample.csv").unlink()
    (raw / "incoming" / "empty.csv").write_text(content)
    for key in ("incoming/empty.csv", ""):  # the object, then its prefix
        cfg = IngestConfig(
            raw_root=str(raw), curated_root=str(curated), object_key=key,
            ingest_date="2026-02-03",
        )
        out = ingest_csv(spark, cfg)
        assert out is None if content == "" else out == cfg.output_path
        assert not list(curated.rglob("*.parquet"))


def test_prefix_ingest_reads_upper_case_suffix(spark, workspace):
    """The scan's glob accepts what ``is_csv_object`` accepts."""
    raw, curated = workspace
    (raw / "incoming" / "B.CSV").write_text(SAMPLE)
    (raw / "incoming" / "c.txt").write_text(SAMPLE)
    cfg = IngestConfig(raw_root=str(raw), curated_root=str(curated), ingest_date="2026-02-08")
    assert spark.read.parquet(ingest_csv(spark, cfg)).count() == 4


def test_ingest_end_to_end(spark, workspace):
    raw, curated = workspace
    cfg = IngestConfig(
        raw_root=str(raw), curated_root=str(curated), ingest_date="2026-02-03"
    )
    out = ingest_csv(spark, cfg)
    df = spark.read.parquet(out)
    rows = df.orderBy("patient_id").collect()
    assert len(rows) == 2
    # schema inference: amount is double (FIXTURES.md §1)
    assert dict(df.dtypes)["amount"] == "double"
    assert rows[0].patient_id == "p-1001" and rows[0].amount == 120.50
    # hive layout: ingest_date=... directory (glue_job_script.py:52)
    assert os.path.isdir(os.path.join(out, "ingest_date=2026-02-03"))


def test_append_duplicates_then_idempotent_overwrite(spark, workspace):
    """Reference append semantics duplicate on re-run
    (glue_job_script.py:51); overwrite_partition mode is idempotent."""
    raw, curated = workspace
    cfg = IngestConfig(
        raw_root=str(raw), curated_root=str(curated), ingest_date="2026-02-03"
    )
    ingest_csv(spark, cfg)
    ingest_csv(spark, cfg)  # retry: at-least-once -> duplicates (parity)
    assert spark.read.parquet(cfg.output_path).count() == 4

    cfg_idem = IngestConfig(
        raw_root=str(raw),
        curated_root=str(curated),
        ingest_date="2026-02-03",
        mode="overwrite_partition",
    )
    ingest_csv(spark, cfg_idem)
    ingest_csv(spark, cfg_idem)
    assert spark.read.parquet(cfg.output_path).count() == 2


def test_explicit_schema_fast_path(spark, workspace):
    raw, curated = workspace
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("patient_id", T.StringType()),
            T.StructField("encounter_id", T.StringType()),
            T.StructField("diagnosis", T.StringType()),
            T.StructField("amount", T.DoubleType()),
        ]
    )
    cfg = IngestConfig(
        raw_root=str(raw),
        curated_root=str(curated),
        schema=schema,
        ingest_date="2026-02-04",
    )
    out = ingest_csv(spark, cfg)
    assert spark.read.parquet(out).count() == 2


def test_golden_query_shape(spark, workspace):
    """README.md:98-101: SELECT ingest_date, COUNT(*) ... ORDER BY DESC."""
    raw, curated = workspace
    for d in ("2026-02-01", "2026-02-02"):
        ingest_csv(
            spark,
            IngestConfig(raw_root=str(raw), curated_root=str(curated), ingest_date=d),
        )
    curated_df = spark.read.parquet(
        str(curated / "athena")
    )
    result = (
        curated_df.groupBy(F.col("ingest_date").cast("string").alias("ingest_date"))
        .agg(F.count(F.lit(1)).alias("rows"))
        .orderBy(F.col("ingest_date").desc())
        .collect()
    )
    assert [(r.ingest_date, r.rows) for r in result] == [
        ("2026-02-02", 2),
        ("2026-02-01", 2),
    ]


def test_utc_ingest_date_injectable():
    import datetime as dt

    fixed = dt.datetime(2026, 3, 4, 23, 59, tzinfo=dt.timezone.utc)
    assert utc_ingest_date(fixed) == "2026-03-04"


def test_output_files_one_writes_single_parquet(spark, workspace):
    """Reference parity branch (repartition(1), glue_job_script.py:49):
    output_files=1 folds a multi-file landing into one parquet file."""
    raw, curated = workspace
    for i in (2, 3):
        (raw / "incoming" / f"sample{i}.csv").write_text(SAMPLE)

    def parquet_files(cfg):
        ingest_csv(spark, cfg)
        return _parquet_files(os.path.join(cfg.output_path, "ingest_date=2026-02-05"))

    base = dict(raw_root=str(raw), ingest_date="2026-02-05")
    # control: the default also writes one file here, because the three
    # landed files (three splits) are far under one maxPartitionBytes
    assert len(parquet_files(IngestConfig(curated_root=str(curated / "a"), **base))) == 1
    one = IngestConfig(curated_root=str(curated / "b"), output_files=1, **base)
    assert len(parquet_files(one)) == 1
    assert spark.read.parquet(one.output_path).count() == 6


def _parquet_files(path):
    return [f for f in os.listdir(path) if f.endswith(".parquet")]


def test_default_writes_one_file_per_max_partition_bytes(spark, tmp_path):
    """With maxPartitionBytes lowered below the input, the default writes
    target_file_count files: more than one, fewer than the input splits
    (each ~4.2 KB file is two 4 KB splits), with no row or amount lost."""
    raw = tmp_path / "raw"
    (raw / "incoming").mkdir(parents=True)
    rows = 0
    cents = 0
    for k in range(3):
        lines = []
        for i in range(165):
            c = 100 * k + 7 * i + 5
            lines.append(f"p-{k}{i:04d},e-{k}{i:04d},flu,{c // 100}.{c % 100:02d}\n")
            cents += c
        (raw / "incoming" / f"part{k}.csv").write_text(
            "patient_id,encounter_id,diagnosis,amount\n" + "".join(lines)
        )
        rows += len(lines)
    cfg = IngestConfig(
        raw_root=str(raw), curated_root=str(tmp_path / "curated"), ingest_date="2026-02-06"
    )
    key = "spark.sql.files.maxPartitionBytes"
    saved = spark.conf.get(key)
    spark.conf.set(key, "4096")
    try:
        df = read_csv(spark, cfg)
        n = target_file_count(df)
        splits = df.rdd.getNumPartitions()
        write_partitioned(df, cfg)
    finally:
        spark.conf.set(key, saved)
    assert 1 < n < splits
    part = os.path.join(cfg.output_path, "ingest_date=2026-02-06")
    assert len(_parquet_files(part)) == n
    got = spark.read.parquet(cfg.output_path).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("amount").cast("decimal(18,2)")).alias("amount"),
    ).first()
    assert got.n == rows
    assert int(got.amount * 100) == cents


def test_contract_landing_over_one_split_keeps_line_mode(spark, tmp_path):
    """A later landing parsed under the dataset's schema: an input over
    one maxPartitionBytes split keeps the split-parallel line-mode read,
    so the write still makes target_file_count (> 1) files. A multiLine
    read of the one file would be one partition, and so one file."""
    raw = tmp_path / "raw"
    (raw / "incoming").mkdir(parents=True)
    (raw / "incoming" / "sample.csv").write_text(SAMPLE)
    lines = [f"p-{i:05d},e-{i:05d},flu,{i // 100}.{i % 100:02d}\n" for i in range(500)]
    (raw / "incoming" / "big.csv").write_text("patient_id,encounter_id,diagnosis,amount\n" + "".join(lines))
    cfg = IngestConfig(
        raw_root=str(raw), curated_root=str(tmp_path / "curated"),
        object_key="incoming/big.csv", ingest_date="2026-02-06",
    )
    ingest_csv(spark, replace(cfg, object_key="incoming/sample.csv", ingest_date="2026-02-05"))
    key = "spark.sql.files.maxPartitionBytes"
    saved = spark.conf.get(key)
    spark.conf.set(key, "4096")
    sc = spark.sparkContext
    sc.setJobGroup("contract_split", "contract_split")
    try:
        assert ingest_csv(spark, cfg) == cfg.output_path
        jobs = len(sc.statusTracker().getJobIdsForGroup("contract_split"))
        sc._jsc.clearJobGroup()
        n = target_file_count(read_csv(spark, cfg))
    finally:
        sc._jsc.clearJobGroup()
        spark.conf.set(key, saved)
    assert jobs == 1  # the contract write: no inference, no fallback
    assert n > 1
    assert len(_parquet_files(os.path.join(cfg.output_path, "ingest_date=2026-02-06"))) == n
    got = spark.read.parquet(os.path.join(cfg.output_path, "ingest_date=2026-02-06")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("amount").cast("decimal(18,2)")).alias("amount"),
    ).first()
    assert got.n == 500
    assert int(got.amount * 100) == sum(range(500))


def test_unsized_rdd_frame_keeps_its_partitions(spark, tmp_path):
    """An RDD-backed frame has no size estimate (Catalyst reports
    Long.MaxValue): both writers keep one file per input partition
    instead of asking Spark for ~7e10 partitions."""
    rdd = spark.sparkContext.parallelize([(i, float(i)) for i in range(30)], 3)
    df = spark.createDataFrame(rdd, "id long, amount double")
    assert target_file_count(df) == 3

    cfg = IngestConfig(
        raw_root=str(tmp_path / "raw"),
        curated_root=str(tmp_path / "curated"),
        ingest_date="2026-02-07",
    )
    write_partitioned(df, cfg)
    assert len(_parquet_files(os.path.join(cfg.output_path, "ingest_date=2026-02-07"))) == 3
    assert spark.read.parquet(cfg.output_path).count() == 30

    out = str(tmp_path / "sized")
    assert write_sized_parquet(df, out, mode="overwrite") == 3
    assert len(_parquet_files(out)) == 3
    assert spark.read.parquet(out).count() == 30
