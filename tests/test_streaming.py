"""Structured-Streaming paths: incremental CSV ingest (exactly-once per
file via checkpoint) and stream/batch window-agg equivalence."""

from __future__ import annotations

from pyspark.sql import types as T

from aws_healthcare_etl_pipeline_spark.sources.csv_ingest import IngestConfig

from aws_healthcare_etl_pipeline_spark.streaming.ingest_stream import (
    start_incremental_ingest,
)
from aws_healthcare_etl_pipeline_spark.streaming.windows import (
    sessionize,
    tumbling_counts,
)

SCHEMA = T.StructType(
    [
        T.StructField("patient_id", T.StringType()),
        T.StructField("amount", T.DoubleType()),
    ]
)


def _write_csv(path, rows):
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text("patient_id,amount\n" + "\n".join(f"{p},{a}" for p, a in rows) + "\n")


def test_incremental_ingest_exactly_once_per_file(spark, tmp_path):
    raw = tmp_path / "raw"
    curated = tmp_path / "curated"
    ckpt = tmp_path / "ckpt"
    _write_csv(raw / "incoming" / "f1.csv", [("p-1", 1.0), ("p-2", 2.0)])

    cfg = IngestConfig(
        raw_root=str(raw), curated_root=str(curated), ingest_date="2026-05-01"
    )
    q = start_incremental_ingest(spark, cfg, SCHEMA, str(ckpt))
    q.awaitTermination()
    assert spark.read.parquet(cfg.output_path).count() == 2

    # re-run with no new files: checkpoint prevents reprocessing
    q = start_incremental_ingest(spark, cfg, SCHEMA, str(ckpt))
    q.awaitTermination()
    assert spark.read.parquet(cfg.output_path).count() == 2

    # new file arrives -> only it is processed
    _write_csv(raw / "incoming" / "f2.csv", [("p-3", 3.0)])
    q = start_incremental_ingest(spark, cfg, SCHEMA, str(ckpt))
    q.awaitTermination()
    assert spark.read.parquet(cfg.output_path).count() == 3

    # non-CSV files are never picked up (source-level guard)
    (raw / "incoming" / "junk.txt").write_text("not,a,csv\n")
    q = start_incremental_ingest(spark, cfg, SCHEMA, str(ckpt))
    q.awaitTermination()
    assert spark.read.parquet(cfg.output_path).count() == 3


def test_incremental_ingest_reads_upper_case_suffix(spark, tmp_path):
    """The source's glob accepts what ``is_csv_object`` accepts."""
    raw = tmp_path / "raw"
    _write_csv(raw / "incoming" / "a.csv", [("p-1", 1.0)])
    _write_csv(raw / "incoming" / "B.CSV", [("p-2", 2.0)])
    _write_csv(raw / "incoming" / "c.txt", [("p-3", 3.0)])
    cfg = IngestConfig(raw_root=str(raw), curated_root=str(tmp_path / "curated"), ingest_date="2026-05-04")
    q = start_incremental_ingest(spark, cfg, SCHEMA, str(tmp_path / "ckpt"))
    q.awaitTermination()
    got = spark.read.parquet(cfg.output_path).orderBy("patient_id").collect()
    assert [r.patient_id for r in got] == ["p-1", "p-2"]


def test_incremental_ingest_writes_one_file_per_target_size(spark, tmp_path):
    """The foreachBatch frame carries the micro-batch's size estimate, so
    one AvailableNow batch over three small landed CSVs (three splits)
    is written as a single parquet file."""
    raw = tmp_path / "raw"
    for k in range(3):
        _write_csv(raw / "incoming" / f"f{k}.csv", [(f"p-{k}{i}", float(i)) for i in range(20)])
    cfg = IngestConfig(
        raw_root=str(raw), curated_root=str(tmp_path / "curated"), ingest_date="2026-05-02"
    )
    q = start_incremental_ingest(spark, cfg, SCHEMA, str(tmp_path / "ckpt"))
    q.awaitTermination()
    part = tmp_path / "curated" / "athena" / "ingest_date=2026-05-02"
    assert len(list(part.glob("*.parquet"))) == 1
    assert spark.read.parquet(cfg.output_path).count() == 60


def test_incremental_ingest_of_empty_objects_writes_nothing(spark, tmp_path):
    """Zero-byte and header-only objects are drained as 0 rows: the cycle
    commits and no parquet file is written; a later object still lands."""
    raw, curated, ckpt = tmp_path / "raw", tmp_path / "curated", tmp_path / "ckpt"
    (raw / "incoming").mkdir(parents=True)
    (raw / "incoming" / "zero.csv").write_text("")
    (raw / "incoming" / "header.csv").write_text("patient_id,amount\n")
    cfg = IngestConfig(raw_root=str(raw), curated_root=str(curated), ingest_date="2026-05-03")
    q = start_incremental_ingest(spark, cfg, SCHEMA, str(ckpt))
    q.awaitTermination()
    assert q.exception() is None
    assert (ckpt / "commits" / "0").exists()
    assert not list(curated.rglob("*.parquet"))

    _write_csv(raw / "incoming" / "f1.csv", [("p-1", 1.0)])
    q = start_incremental_ingest(spark, cfg, SCHEMA, str(ckpt))
    q.awaitTermination()
    assert spark.read.parquet(cfg.output_path).count() == 1


def test_stream_batch_window_equivalence(spark, sf_dir):
    """The same tumbling_counts plan over the events fixture must give
    identical results on the batch path and the streaming path (this is
    also asserted via DuckDB oracles in test_oracle_parity)."""
    from aws_healthcare_etl_pipeline_spark.plans.streaming_q import (
        batch_hourly_counts,
        streaming_hourly_counts,
    )

    batch = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in batch_hourly_counts(spark, sf_dir).collect()
    }
    stream = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in streaming_hourly_counts(spark, sf_dir).collect()
    }
    assert batch == stream


def test_sessionize_gap_semantics(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 10, 0, 0)
    rows = [
        (1, base),
        (1, base + dt.timedelta(minutes=10)),   # same session
        (1, base + dt.timedelta(minutes=50)),   # gap 40m > 30m -> new session
        (2, base),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = sorted(
        (r.user_id, r.session_start, r.n_events)
        for r in sessionize(df, gap="30 minutes").collect()
    )
    assert got == [
        (1, base, 2),
        (1, base + dt.timedelta(minutes=50), 1),
        (2, base, 1),
    ]
