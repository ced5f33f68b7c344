"""The schema contract across bulk landings (``csv_ingest.ingest_csv``).

Once a dataset holds Spark-written Parquet, an inferring ingest parses
each object once, under the dataset's schema, and falls back to the
reference's inference path only when the object's header or values
break it. Every case lands an object into a dataset that already holds
one landing and compares the new partition with what the inference
path makes of the same object: an ingest into an empty dataset, which
always infers. Row values are also checked against DuckDB reading the
same CSV.
"""

from __future__ import annotations

import os
import uuid

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import types as T

from aws_healthcare_etl_pipeline_spark.sources import csv_ingest
from aws_healthcare_etl_pipeline_spark.sources.csv_ingest import (
    IngestConfig,
    dataset_schema,
    ingest_csv,
)

HEADER = "patient_id,encounter_id,amount\n"
FIRST = HEADER + "p-1,1,10.25\np-2,2,20.50\n"
FIRST_DATE, DATE = "2026-06-01", "2026-06-02"


def _jobs(spark, fn):
    """(fn(), the number of Spark jobs it ran)."""
    sc = spark.sparkContext
    group = f"schema_contract:{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


class Landing:
    """A raw bucket, a curated dataset holding ``first`` (when given),
    and control datasets for the inference path's answers."""

    def __init__(self, spark, root, first: str | None = FIRST):
        self.spark, self.root = spark, root
        (root / "raw" / "incoming").mkdir(parents=True)
        if first is not None:
            self.land(self.put("first.csv", first), FIRST_DATE)

    def put(self, name: str, text: str) -> str:
        (self.root / "raw" / "incoming" / name).write_text(text)
        return name

    def config(self, name: str, date: str, curated: str = "curated", **kw) -> IngestConfig:
        return IngestConfig(
            str(self.root / "raw"), str(self.root / curated),
            object_key=f"incoming/{name}", ingest_date=date, **kw,
        )

    def land(self, name: str, date: str = DATE, **kw):
        """(ingest_csv's return value, Spark jobs run)."""
        return _jobs(self.spark, lambda: ingest_csv(self.spark, self.config(name, date, **kw)))

    def inferred(self, name: str, **kw):
        """What the inference path returns, with the control dataset's
        path read as the curated one's, and stores for the object."""
        control = f"control-{uuid.uuid4().hex[:8]}"
        out = ingest_csv(self.spark, self.config(name, DATE, curated=control, **kw))
        return out and out.replace(control, "curated"), self.partition(DATE, control)

    def partition(self, date: str, curated: str = "curated"):
        path = self.root / curated / "athena" / f"ingest_date={date}"
        return self.spark.read.parquet(str(path)) if path.exists() else None

    def files(self) -> set[str]:
        base = self.root / "curated"
        return {str(p.relative_to(base)) for p in base.rglob("*") if p.is_file()}


@pytest.fixture()
def landing(spark, tmp_path):
    return Landing(spark, tmp_path)


def _rows(df) -> list[tuple]:
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _duck_rows(path) -> list[tuple]:
    with duckdb.connect() as con:
        return sorted(con.execute(f"SELECT * FROM read_csv('{path}', header = true)").fetchall(), key=repr)


def _check(landing, name: str, jobs_want: int, **kw):
    """Land ``name``; return (stored frame, inference path's frame)."""
    out, jobs = landing.land(name, **kw)
    want_out, want = landing.inferred(name, **kw)
    assert out == want_out == landing.config(name, DATE).output_path
    assert jobs == jobs_want
    got = landing.partition(DATE)
    assert _rows(got) == _duck_rows(landing.root / "raw" / "incoming" / name)
    return got, want


def test_matching_object_is_parsed_once(landing):
    name = landing.put("match.csv", HEADER + "p-3,3,30.75\np-4,,\n")
    got, want = _check(landing, name, jobs_want=1)
    assert got.dtypes == want.dtypes
    assert _rows(got) == _rows(want)


def test_narrower_object_is_stored_as_the_dataset_type(landing):
    name = landing.put("ints.csv", HEADER + "p-3,3,30\np-4,4,41\n")
    got, want = _check(landing, name, jobs_want=1)
    assert dict(want.dtypes)["amount"] == "int"  # what inference alone stores
    assert dict(got.dtypes)["amount"] == "double"
    assert _rows(got) == _rows(want)


@pytest.mark.parametrize("value", ["unknown", "3000000000"])
def test_value_that_does_not_fit_falls_back(spark, landing, value):
    """The bad value is the last row, after rows that parse: with the
    input split into several write tasks, tasks that finish first
    commit theirs, and the aborted job must leave none of it."""
    name = landing.put("bad.csv", HEADER + "".join(f"p-{i},{i},{i}.5\n" for i in range(3, 30)) + f"p-x,{value},1.5\n")
    before = landing.files()
    key = "spark.sql.files.maxPartitionBytes"
    saved = spark.conf.get(key)
    spark.conf.set(key, "128")
    try:
        got, want = _check(landing, name, jobs_want=4)  # the failed write, then inference's 3
    finally:
        spark.conf.set(key, saved)
    assert dict(got.dtypes)["encounter_id"] == ("string" if value == "unknown" else "bigint")
    assert got.dtypes == want.dtypes
    assert _rows(got) == _rows(want)
    new = landing.files() - before
    assert new and all(f.startswith(f"athena/ingest_date={DATE}/") for f in new)


@pytest.mark.parametrize(
    "header",
    [
        "patient_id,encounter_no,amount",  # renamed
        "patient_id,encounter_id,amount,code",  # added
        "patient_id,amount",  # dropped
        "encounter_id,patient_id,amount",  # reordered
    ],
)
def test_header_change_falls_back(landing, header):
    values = {"patient_id": "p-9", "encounter_id": "9", "encounter_no": "9", "amount": "9.5", "code": "Z00"}
    row = ",".join(values[c] for c in header.split(","))
    name = landing.put("header.csv", f"{header}\n{row}\n")
    got, want = _check(landing, name, jobs_want=4)
    assert got.dtypes == want.dtypes
    assert _rows(got) == _rows(want)


@pytest.mark.parametrize(
    "first, later",
    [
        ("2024-01-01", "2024-01-02 10:30:00"),  # DateType would drop the time
        ("12345678901234567890", "1.5"),  # DecimalType(20,0) would round
    ],
)
def test_lossy_column_types_keep_inference(spark, tmp_path, first, later):
    """A pinned DateType or DecimalType column parses a wider value with
    no error and a changed value, so such a dataset is never pinned."""
    landing = Landing(spark, tmp_path, first=f"patient_id,v\np-1,{first}\n")
    name = landing.put("later.csv", f"patient_id,v\np-2,{later}\n")
    out, jobs = landing.land(name)
    want_out, want = landing.inferred(name)
    assert out == want_out and jobs == 3
    got = landing.partition(DATE)
    assert got.dtypes == want.dtypes and _rows(got) == _rows(want)


def test_overwrite_partition_fallback_keeps_earlier_rows(spark, landing, monkeypatch):
    """A landing that falls back replaces its partition only when the
    fallback write commits: the failed contract write removes nothing."""
    earlier = _rows(landing.partition(FIRST_DATE))
    name = landing.put("bad.csv", HEADER + "p-3,three,30.75\n")
    seen = []
    write = csv_ingest.write_partitioned

    def spy(df, cfg):
        seen.append(_rows(landing.partition(FIRST_DATE)))
        return write(df, cfg)

    monkeypatch.setattr(csv_ingest, "write_partitioned", spy)
    out, _ = landing.land(name, FIRST_DATE, mode="overwrite_partition")
    assert out is not None
    assert seen == [earlier, earlier]  # before the contract write and before the fallback
    assert _rows(landing.partition(FIRST_DATE)) == [("p-3", "three", 30.75)]


@pytest.mark.parametrize("content", ["", HEADER])
def test_empty_object_in_an_existing_dataset(landing, content):
    """Zero-byte: None, as inference finding no columns returns. Header
    only: the output path and 0 rows. Neither writes a file."""
    name = landing.put("empty.csv", content)
    before = landing.files()
    out, jobs = landing.land(name)
    want_out, want = landing.inferred(name)
    assert out == want_out == (None if content == "" else landing.config(name, DATE).output_path)
    assert want is None and landing.partition(DATE) is None
    assert landing.files() == before
    if content:
        assert jobs == 1  # the header matches: the contract write, of no rows


def test_explicit_schema_keeps_permissive_nulls(landing):
    schema = T.StructType(
        [
            T.StructField("patient_id", T.StringType()),
            T.StructField("encounter_id", T.IntegerType()),
            T.StructField("amount", T.DoubleType()),
        ]
    )
    name = landing.put("bad.csv", HEADER + "p-3,unknown,30.75\n")
    out, jobs = landing.land(name, schema=schema)
    assert out is not None and jobs == 1
    assert _rows(landing.partition(DATE)) == [("p-3", None, 30.75)]


def test_caller_mode_keeps_inference(landing):
    name = landing.put("match.csv", HEADER + "p-3,3,30.75\n")
    opts = {"extra_read_options": {"Mode": "PERMISSIVE"}}
    got, want = _check(landing, name, jobs_want=3, **opts)
    assert _rows(got) == _rows(want)


def test_other_errors_propagate(landing, monkeypatch):
    """A write failure that is not the object breaking the schema is
    raised, not retried by inference."""
    name = landing.put("wide.csv", HEADER + "p-3,3,30.75\n")
    calls = []
    read = csv_ingest.read_csv
    monkeypatch.setattr(csv_ingest, "read_csv", lambda spark, cfg: calls.append(cfg) or read(spark, cfg))
    with pytest.raises(Py4JJavaError, match="TextParsingException"):
        landing.land(name, extra_read_options={"maxColumns": "2"})
    assert [c.extra_read_options.get("mode") for c in calls] == ["FAILFAST"]


def test_dataset_without_spark_metadata_infers(spark, tmp_path):
    """Parquet another engine wrote carries no Spark row metadata."""
    part = tmp_path / "curated" / "athena" / f"ingest_date={FIRST_DATE}"
    part.mkdir(parents=True)
    pq.write_table(pa.table({"patient_id": ["p-1"], "encounter_id": [1], "amount": [1.5]}), str(part / "part-0.parquet"))
    landing = Landing(spark, tmp_path, first=None)
    assert dataset_schema(spark, landing.config("x.csv", DATE).output_path) is None
    name = landing.put("match.csv", HEADER + "p-3,3,30.75\n")
    got, want = _check(landing, name, jobs_want=3)
    assert got.dtypes == want.dtypes


def test_dataset_schema_reads_the_newest_partition_with_no_job(spark, landing):
    """The first data file by name in the newest partition: hidden and
    ``_`` files are skipped, and no Spark job runs."""
    landing.land(landing.put("strings.csv", "patient_id,encounter_id,amount\np-3,x,y\n"))
    part = landing.root / "curated" / "athena" / f"ingest_date={DATE}"
    for hidden in ("_a.parquet", ".a.parquet"):
        (part / hidden).write_text("not parquet")
    (part.parent / "ingest_date=2026-05-31").mkdir()  # older and empty
    path = landing.config("x.csv", DATE).output_path
    schema, jobs = _jobs(spark, lambda: dataset_schema(spark, path))
    assert jobs == 0
    assert [(f.name, f.dataType.simpleString()) for f in schema.fields] == [
        ("patient_id", "string"), ("encounter_id", "string"), ("amount", "string"),
    ]
    assert dataset_schema(spark, os.path.join(str(landing.root), "nowhere")) is None
