"""Partition refresh that keeps the table's cached listing (``sparkgraft.sql.PartitionRefresh``).

``catalog.refresh_partitions`` registers the partition directories the
catalog lacks and lists again only partitions whose listing may be
stale. Every case compares the README query and a ``COUNT(*), SUM(...)``
after that refresh with the same queries on a freshly registered table
over the same files, and with the footer rule excluded (a scan).
"""

from __future__ import annotations

import os
import shutil
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark import SparkContext
from pyspark.sql import Catalog
from pyspark.sql import types as T

from aws_healthcare_etl_pipeline_spark.sources import catalog
from aws_healthcare_etl_pipeline_spark.sources.csv_ingest import IngestConfig, ingest_csv
from aws_healthcare_etl_pipeline_spark.streaming import ingest_stream

from .test_footer_counts import README, _jobs, rule_excluded

DB = "partition_refresh"
TOTALS = "SELECT COUNT(*) AS n, SUM(id) AS s FROM {t}"
CSV_SCHEMA = T.StructType([T.StructField("id", T.LongType()), T.StructField("v", T.StringType())])


def answers(spark, fq):
    return (
        [tuple(r) for r in spark.sql(README.format(t=fq)).collect()],
        [tuple(r) for r in spark.sql(TOTALS.format(t=fq)).collect()],
    )


def register(spark, root) -> str:
    return catalog.register_parquet_table(spark, DB, f"t{uuid.uuid4().hex[:8]}", root)


def check(spark, fq, root):
    """Refresh, then the answers must equal a fresh table's and the scan's."""
    catalog.refresh_partitions(spark, fq)
    got = answers(spark, fq)
    fresh = register(spark, root)
    try:
        assert got == answers(spark, fresh)
    finally:
        spark.sql(f"DROP TABLE {fresh}")
    with rule_excluded(spark):
        assert got == answers(spark, fq)
    return got


def relation_id(spark, fq):
    """Identity of the table's cached relation, or None when none is cached."""
    jvm = spark._jvm
    db, table = fq.split(".")
    key = jvm.org.apache.spark.sql.catalyst.QualifiedTableName.apply("spark_catalog", db, table)
    plan = spark._jsparkSession.sessionState().catalog().getCachedTable(key)
    return None if plan is None else jvm.java.lang.System.identityHashCode(plan)


def kept(spark, fq) -> bool:
    """Refresh ``fq``; True when its cached relation survived."""
    before = relation_id(spark, fq)
    catalog.refresh_partitions(spark, fq)
    return before is not None and relation_id(spark, fq) == before


def write(root, value, ids, name=None):
    """One pyarrow file of ``ids`` under ``root/ingest_date=value``."""
    d = os.path.join(root, f"ingest_date={value}")
    os.makedirs(d, exist_ok=True)
    pq.write_table(
        pa.table({"id": pa.array(ids, pa.int64())}), os.path.join(d, name or f"part-{uuid.uuid4().hex}.parquet")
    )
    return d


@pytest.fixture
def root(tmp_path):
    return str(tmp_path / "athena")


def test_new_partition(spark, root):
    for k in range(3):
        write(root, f"2026-05-0{k + 1}", range(k * 10, k * 10 + 10))
    fq = register(spark, root)
    answers(spark, fq)
    write(root, "2026-05-04", range(100, 105))
    (_, jobs) = _jobs(spark, lambda: kept(spark, fq))
    assert jobs == 0
    readme, totals = check(spark, fq, root)
    assert readme[0] == ("2026-05-04", 5) and totals == [(35, sum(range(30)) + sum(range(100, 105)))]


def _csv(raw, name, ids):
    path = raw / "incoming" / name
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text("id,v\n" + "".join(f"{i},x{i}\n" for i in ids))
    return f"incoming/{name}"


def test_repeated_appends_into_one_date_batch(spark, tmp_path):
    raw, curated = tmp_path / "raw", str(tmp_path / "curated")
    cfg = lambda key: IngestConfig(str(raw), curated, object_key=key, ingest_date="2026-06-01")  # noqa: E731
    ingest_csv(spark, cfg(_csv(raw, "o0.csv", range(10))))
    root = cfg("").output_path
    fq = register(spark, root)
    answers(spark, fq)
    for k in range(1, 4):
        ingest_csv(spark, cfg(_csv(raw, f"o{k}.csv", range(k * 10, k * 10 + 10))))
        assert kept(spark, fq)
        readme, totals = check(spark, fq, root)
        assert readme == [("2026-06-01", 10 * (k + 1))] and totals == [(10 * (k + 1), sum(range(10 * (k + 1))))]


def test_repeated_appends_into_one_date_stream(spark, tmp_path):
    raw, curated = tmp_path / "raw", str(tmp_path / "curated")
    checkpoint = str(tmp_path / "checkpoint")
    cfg = IngestConfig(str(raw), curated, ingest_date="2026-06-02")
    fq = None
    for k in range(3):
        _csv(raw, f"s{k}.csv", range(k * 10, k * 10 + 10))
        handle = ingest_stream.start_incremental_ingest(spark, cfg, CSV_SCHEMA, checkpoint, available_now=True)
        try:
            handle.awaitTermination()
        finally:
            handle.stop()
        if fq is None:
            fq = register(spark, cfg.output_path)
            answers(spark, fq)
            continue
        assert kept(spark, fq)
        readme, totals = check(spark, fq, cfg.output_path)
        assert readme == [("2026-06-02", 10 * (k + 1))] and totals == [(10 * (k + 1), sum(range(10 * (k + 1))))]


def test_two_appends_within_the_timestamp_granularity(spark, root):
    """A second append that leaves the directory's time as it was is still seen."""
    d = write(root, "2026-07-01", range(5))
    fq = register(spark, root)
    answers(spark, fq)
    write(root, "2026-07-01", range(5, 8))
    # both appends stamped with one time, later than the refresh reads it:
    # a clock too coarse to tell them apart
    stamp = (time.time_ns() // 1_000_000 + 5_000) * 1_000_000 + 7_000_000
    os.utime(d, ns=(stamp, stamp))
    assert kept(spark, fq)
    assert answers(spark, fq)[1] == [(8, sum(range(8)))]
    write(root, "2026-07-01", range(8, 10))
    os.utime(d, ns=(stamp, stamp))
    assert kept(spark, fq)
    readme, totals = check(spark, fq, root)
    assert readme == [("2026-07-01", 10)] and totals == [(10, sum(range(10)))]


def test_partition_written_by_pyarrow(spark, tmp_path):
    root = str(tmp_path / "athena")
    spark.range(0, 20).selectExpr("id", "'2026-08-01' AS ingest_date").write.partitionBy("ingest_date").parquet(root)
    fq = register(spark, root)
    answers(spark, fq)
    write(root, "2026-08-02", range(20, 27), name="data.parquet")  # no Spark file naming
    write(root, "2026-08-01", range(27, 30), name="extra.parquet")  # beside Spark's files
    # below a partition directory: the file index leaves it out of the partition
    nested = os.path.join(root, "ingest_date=2026-08-01", "nested")
    os.makedirs(nested)
    pq.write_table(pa.table({"id": pa.array(range(500, 600), pa.int64())}), os.path.join(nested, "more.parquet"))
    assert kept(spark, fq)
    readme, totals = check(spark, fq, root)
    assert readme == [("2026-08-02", 7), ("2026-08-01", 23)] and totals == [(30, sum(range(30)))]


def test_deleted_partition_directory(spark, root):
    for k in range(3):
        write(root, f"2026-09-0{k + 1}", range(k * 10, k * 10 + 10))
    fq = register(spark, root)
    answers(spark, fq)
    shutil.rmtree(os.path.join(root, "ingest_date=2026-09-02"))
    assert kept(spark, fq)
    readme, totals = check(spark, fq, root)
    assert [r[0] for r in readme] == ["2026-09-03", "2026-09-01"]
    assert totals == [(20, sum(range(10)) + sum(range(20, 30)))]


def test_escaped_partition_values(spark, root):
    values = ["a/b", "x y", "50%", "k=v", "c:d", None]
    rows = [(i, values[i % len(values)]) for i in range(24)]
    spark.createDataFrame(rows, "id long, ingest_date string").write.partitionBy("ingest_date").parquet(root)
    fq = register(spark, root)
    answers(spark, fq)
    # new escaped values, and appends into escaped ones already listed
    more = [(100, "e#f"), (101, "g?h"), (102, None), (103, "a/b"), (104, "50%"), (105, "c:d")]
    spark.createDataFrame(more, "id long, ingest_date string").write.mode("append").partitionBy(
        "ingest_date"
    ).parquet(root)
    assert kept(spark, fq)
    readme, totals = check(spark, fq, root)
    assert {r[0] for r in readme} == set(values) | {"e#f", "g?h"}
    assert dict(readme)["a/b"] == 5 and dict(readme)["50%"] == 5
    assert totals == [(30, sum(range(24)) + sum(range(100, 106)))]


def test_two_partition_columns_fall_back(spark, root):
    spark.range(0, 12).selectExpr("id", "'2026-10-01' AS ingest_date", "id % 2 AS part").write.partitionBy(
        "ingest_date", "part"
    ).parquet(root)
    fq = f"{DB}.m{uuid.uuid4().hex[:8]}"
    spark.sql(
        f"CREATE TABLE {fq} (id BIGINT, ingest_date STRING, part INT) USING parquet"
        f" PARTITIONED BY (ingest_date, part) LOCATION '{root}'"
    )
    catalog.refresh_partitions(spark, fq)
    answers(spark, fq)
    spark.range(12, 15).selectExpr("id", "'2026-10-02' AS ingest_date", "id % 2 AS part").write.mode(
        "append"
    ).partitionBy("ingest_date", "part").parquet(root)
    assert not kept(spark, fq)
    got = answers(spark, fq)
    with rule_excluded(spark):
        assert got == answers(spark, fq)
    assert got[0] == [("2026-10-02", 3), ("2026-10-01", 12)] and got[1] == [(15, sum(range(15)))]


def test_cached_table_falls_back(spark, root):
    write(root, "2026-11-01", range(10))
    fq = register(spark, root)
    spark.sql(f"CACHE TABLE {fq}")
    try:
        answers(spark, fq)
        write(root, "2026-11-02", range(10, 14))
        assert not kept(spark, fq)
        readme, totals = check(spark, fq, root)
        assert readme == [("2026-11-02", 4), ("2026-11-01", 10)] and totals == [(14, sum(range(14)))]
    finally:
        spark.sql(f"UNCACHE TABLE {fq}")


def test_cached_query_over_the_table_is_cached_again(spark, root):
    write(root, "2027-03-01", range(4))
    fq = register(spark, root)
    query = lambda: spark.table(fq).where("id >= 0")  # noqa: E731
    cached = query().cache()
    try:
        assert cached.count() == 4
        write(root, "2027-03-02", range(4, 6))
        assert kept(spark, fq)
        assert query().count() == 6  # as refreshTable would, not the stale cache
    finally:
        cached.unpersist()


def test_running_jvm_without_the_jar_recovers_partitions(spark, root, monkeypatch):
    write(root, "2026-12-01", range(10))
    fq = register(spark, root)
    answers(spark, fq)
    write(root, "2026-12-02", range(10, 13))

    class NoSuchClass:  # py4j resolves a name it cannot load to a package
        def __getattr__(self, name):
            return self

    recovered = []
    recover = Catalog.recoverPartitions
    monkeypatch.setattr(SparkContext, "_jvm", NoSuchClass())
    monkeypatch.setattr(Catalog, "recoverPartitions", lambda self, t: recovered.append(t) or recover(self, t))
    catalog.refresh_partitions(spark, fq)
    monkeypatch.undo()
    assert recovered == [fq]
    assert relation_id(spark, fq) is None  # recoverPartitions dropped the cached relation
    readme, totals = check(spark, fq, root)
    assert readme == [("2026-12-02", 3), ("2026-12-01", 10)] and totals == [(13, sum(range(13)))]


def test_footers_read_once_per_file(spark, root):
    for k in range(4):
        write(root, f"2027-01-0{k + 1}", range(k * 5, k * 5 + 5))
    old = time.time() - 60  # settled: a count read now may be kept
    for d in os.listdir(root):
        for f in os.listdir(os.path.join(root, d)):
            os.utime(os.path.join(root, d, f), (old, old))
    fq = register(spark, root)
    footer_rule = spark._jvm.sparkgraft.sql.FooterRowCounts
    answers(spark, fq)
    before = footer_rule.footersRead()
    spark.sql(README.format(t=fq)).collect()
    assert footer_rule.footersRead() == before  # every count kept
    write(root, "2027-01-05", range(20, 25))
    catalog.refresh_partitions(spark, fq)
    before = footer_rule.footersRead()
    rows, jobs = _jobs(spark, lambda: spark.sql(README.format(t=fq)).collect())
    assert footer_rule.footersRead() - before == 1 and jobs == 0
    assert [tuple(r) for r in rows][0] == ("2027-01-05", 5)


def test_relation_resolved_after_another_refresh(spark, root):
    """A relation this refresh has not seen has its listing taken again."""
    d = write(root, "2027-02-01", range(5))
    gone = write(root, "2027-02-02", range(100, 103))
    fq = register(spark, root)
    answers(spark, fq)
    spark.sql(f"REFRESH TABLE {fq}")  # drops the relation
    answers(spark, fq)  # a new relation lists and caches the files
    write(root, "2027-02-01", range(5, 9))
    shutil.rmtree(gone)
    old = time.time() - 60  # as if long settled: only the unknown relation tells
    os.utime(d, (old, old))
    assert kept(spark, fq)
    readme, totals = check(spark, fq, root)
    assert readme == [("2027-02-01", 9)] and totals == [(9, sum(range(9)))]


def test_file_created_empty_then_written(spark, root):
    """A writer that creates a file and writes it later (no rename) is still seen."""
    d = write(root, "2027-04-01", range(5))
    fq = register(spark, root)
    answers(spark, fq)
    late = os.path.join(d, "late.parquet")
    open(late, "wb").close()
    old = time.time() - 3600  # times that look settled: only the empty file tells
    for p in (late, d):
        os.utime(p, (old, old))
    assert kept(spark, fq)
    assert answers(spark, fq)[1] == [(5, sum(range(5)))]
    pq.write_table(pa.table({"id": pa.array(range(5, 12), pa.int64())}), late)
    for p in (late, d):
        os.utime(p, (old, old))
    assert kept(spark, fq)
    readme, totals = check(spark, fq, root)
    assert readme == [("2027-04-01", 12)] and totals == [(12, sum(range(12)))]


def test_file_listed_half_written(spark, root):
    """A file still being written in a settled directory is listed again."""
    d = write(root, "2027-04-02", range(5))
    fq = register(spark, root)
    answers(spark, fq)
    sink = pa.BufferOutputStream()
    pq.write_table(pa.table({"id": pa.array(range(5, 9), pa.int64())}), sink)
    data = sink.getvalue().to_pybytes()
    slow = os.path.join(d, "slow.parquet")
    with open(slow, "wb") as f:
        f.write(data[:4])  # the leading magic bytes only
    old = time.time() - 3600  # the directory's time settled; the file's is recent
    os.utime(d, (old, old))
    assert kept(spark, fq)
    with open(slow, "ab") as f:
        f.write(data[4:])
    assert kept(spark, fq)
    readme, totals = check(spark, fq, root)
    assert readme == [("2027-04-02", 9)] and totals == [(9, sum(range(9)))]
