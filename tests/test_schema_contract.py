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
from tests.test_footer_counts import README, rule_excluded

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


def test_dataset_schema_passes_over_partitions_with_no_data_file(spark, landing):
    """A newer directory that holds no data file (a write set up and not
    yet committed, or a crashed writer's) is passed over: the schema
    still comes from a footer, with no job, and the next matching
    landing is still the one contract write."""
    root = landing.root / "curated" / "athena"
    (root / "ingest_date=2026-12-31" / "_temporary" / "0").mkdir(parents=True)
    (root / "ingest_date=2026-12-30").mkdir()
    schema, jobs = _jobs(spark, lambda: dataset_schema(spark, str(root)))
    assert jobs == 0
    assert [(f.name, f.dataType.simpleString()) for f in schema.fields] == [
        ("patient_id", "string"), ("encounter_id", "int"), ("amount", "double"),
    ]
    out, jobs = landing.land(landing.put("match.csv", HEADER + "p-3,3,30.75\n"))
    assert out is not None and jobs == 1


def test_empty_object_into_an_existing_partition(landing):
    """A header-only object landed into a partition that holds data adds
    no file: the one empty file the write commits is removed, and the
    directory and its data stay."""
    before = landing.files()
    out, jobs = landing.land(landing.put("empty.csv", HEADER), FIRST_DATE)
    assert out == landing.config("empty.csv", FIRST_DATE).output_path and jobs == 1
    assert landing.files() == before
    assert _rows(landing.partition(FIRST_DATE)) == [("p-1", 1, 10.25), ("p-2", 2, 20.5)]


def test_failed_write_leaves_no_partition_directory(landing, monkeypatch):
    """The directory a failed contract write's job set up is removed:
    before the fallback write of an object that breaks the schema, and
    after an error that propagates."""
    athena = landing.root / "curated" / "athena"
    seen = []
    write = csv_ingest.write_partitioned

    def spy(df, cfg):
        seen.append((athena / f"ingest_date={cfg.ingest_date}").exists())
        return write(df, cfg)

    monkeypatch.setattr(csv_ingest, "write_partitioned", spy)
    out, jobs = landing.land(landing.put("bad.csv", HEADER + "p-3,three,30.75\n"))
    assert out is not None and jobs == 4
    assert seen == [False, False]  # before the contract write and before the fallback
    with pytest.raises(Py4JJavaError, match="TextParsingException"):
        landing.land(landing.put("wide.csv", HEADER + "p-4,4,40.5\n"), "2026-06-03", extra_read_options={"maxColumns": "2"})
    assert sorted(os.listdir(athena)) == [f"ingest_date={FIRST_DATE}", f"ingest_date={DATE}"]


EDGE_HEADER = "id,amount,note"
EDGE_FIRST = f"{EDGE_HEADER}\n1,1.5,a\n2,2.5,b\n"


def _scan_mode(df) -> str:
    """How a written frame read its CSV: one multiLine stream, line by
    line under the dataset's schema, or line by line with inference."""
    options = df._jdf.queryExecution().analyzed().collectLeaves().head().relation().options()
    if options.contains("multiline"):
        return "stream"
    return "infer" if options.contains("inferschema") else "lines"


@pytest.fixture()
def scan_modes(monkeypatch):
    """The scan mode of every frame ``ingest_csv`` writes, in order."""
    modes = []
    write = csv_ingest.write_partitioned
    monkeypatch.setattr(csv_ingest, "write_partitioned", lambda df, cfg: modes.append(_scan_mode(df)) or write(df, cfg))
    return modes


STREAMED = ["stream"]
RE_READ = ["stream", "lines"]  # the guard raised; the line reader lands it
STREAM_BREAKS = ["stream", "infer"]  # a value the stream parsed breaks the schema
BOTH_BREAK = ["stream", "lines", "infer"]


EDGE_CASES = [
    pytest.param("\n3,3.5,c\n4,4.5,d\n", STREAMED, id="lf"),
    pytest.param("\r\n3,3.5,c\r\n4,4.5,d\r\n", STREAMED, id="crlf"),
    pytest.param("\r3,3.5,c\r4,4.5,d\r", STREAMED, id="cr-only"),
    # CRLF detected first: the lone LF joins two rows, which do not
    # parse; the record holds a line break, so the line reader reads it
    pytest.param("\r\n3,3.5,c\r\n4,4.5,d\n5,5.5,e\r\n", RE_READ, id="mixed-crlf-first"),
    # a value that does not parse on any reader goes straight to inference
    pytest.param("\n3,3.5,c\nx,4.5,d\n", STREAM_BREAKS, id="int-that-does-not-parse"),
    # LF detected first: the stream would keep 'c\r'
    pytest.param("\n3,3.5,c\r\n4,4.5,d\n", RE_READ, id="mixed-lf-first"),
    pytest.param("\n3,3.5,c\n4,4.5,d", STREAMED, id="no-final-newline"),
    pytest.param("\n\n3,3.5,c\n\n\n4,4.5,d\n\n", STREAMED, id="blank-lines"),
    pytest.param("\n3,,c\n,4.5,\n,,\n", STREAMED, id="empty-fields"),
    pytest.param('\n3,3.5,"c,d"\n4,4.5,"e ""q"""\n', STREAMED, id="quoted-delimiter-and-quote"),
    # the stream would land 2 rows; line mode breaks the row in two
    pytest.param('\n3,3.5,"c\nd"\n4,4.5,e\n', BOTH_BREAK, id="quoted-lf"),
    pytest.param('\n3,3.5,"c\r\nd"\n4,4.5,e\n', BOTH_BREAK, id="quoted-crlf"),
    # the stream's open quote would swallow the next row
    pytest.param('\n3,3.5,"c\n4,4.5,d\n', RE_READ, id="unclosed-quote-at-eof"),
    pytest.param("\n3,3.5,c\n4,4.5,d\r", RE_READ, id="trailing-cr-in-string"),
    pytest.param("\n3,3.5,c\rd\n4,4.5,e\n", BOTH_BREAK, id="lone-cr-mid-line"),
    # a double's CSV parse would drop these line breaks
    pytest.param('\n3,"3.5\n",c\n4,4.5,d\n', BOTH_BREAK, id="quoted-lf-in-double"),
    pytest.param("\n3,3.5\r,c\n4,4.5,d\n", BOTH_BREAK, id="lone-cr-after-double"),
    # parsed by the CSV reader's NaN and infinity strings, not by a cast
    pytest.param("\n3,NaN,c\n4,Inf,d\n5,-Inf,e\n", RE_READ, id="nan-and-infinities"),
    pytest.param("\n3,x,c\n", BOTH_BREAK, id="double-that-does-not-parse"),
]


@pytest.mark.parametrize("body, modes", EDGE_CASES)
def test_edge_case_lands_as_the_line_reader_does(spark, tmp_path, scan_modes, body, modes):
    """Each input lands what the inference path lands from it (the
    dataset's types are the ones inference finds here), along the
    scans listed. A multiLine stream alone would land different rows
    for the quoted line breaks, the unclosed quote, the trailing CR,
    LF-first mixed endings and a line break beside a double."""
    landing = Landing(spark, tmp_path, first=EDGE_FIRST)
    name = landing.put("edge.csv", EDGE_HEADER + body)
    scan_modes.clear()
    out, _ = landing.land(name)
    assert scan_modes == modes
    want_out, want = landing.inferred(name)
    got = landing.partition(DATE)
    assert out == want_out == landing.config(name, DATE).output_path
    assert got.dtypes == want.dtypes
    assert repr(_rows(got)) == repr(_rows(want))  # NaN-safe


def _partitions(spark, athena) -> dict:
    """Each ``ingest_date=`` directory's file count, rows and footer Spark
    row metadata."""
    out = {}
    for name in sorted(n for n in os.listdir(athena) if n.startswith("ingest_date=")):
        files = sorted(f for f in os.listdir(athena / name) if f.endswith(".parquet"))
        meta = {pq.read_metadata(athena / name / f).metadata[csv_ingest._ROW_METADATA.encode()] for f in files}
        out[name] = (len(files), repr(_rows(spark.read.parquet(str(athena / name)))), meta)
    return out


def _golden(spark, athena) -> list:
    view = f"landing_{uuid.uuid4().hex[:8]}"
    spark.read.parquet(str(athena)).createOrReplaceTempView(view)
    try:
        with rule_excluded(spark):
            scanned = spark.sql(README.format(t=view)).collect()
        assert spark.sql(README.format(t=view)).collect() == scanned
        return scanned
    finally:
        spark.catalog.dropTempView(view)


def _assert_as_partition_by(spark, tmp_path, body: str, date: str) -> None:
    """Land EDGE_FIRST, then ``body`` at ``date``, into two datasets:
    by append, which writes straight into the partition directory, and
    by ``overwrite_partition``, which keeps ``partitionBy``. Both must
    hold the same directories, files, rows, schema and footers."""
    direct, partitioned = tmp_path / "direct", tmp_path / "partitioned"
    for root, mode in ((direct, "append"), (partitioned, "overwrite_partition")):
        landing = Landing(spark, root, first=EDGE_FIRST)
        landing.land(landing.put("edge.csv", EDGE_HEADER + body), date, mode=mode)
    athena = [root / "curated" / "athena" for root in (direct, partitioned)]
    got, want = (_partitions(spark, a) for a in athena)
    assert len(got) == 2 and got == want
    assert spark.read.parquet(str(athena[0])).dtypes == spark.read.parquet(str(athena[1])).dtypes
    assert _golden(spark, athena[0]) == _golden(spark, athena[1])


@pytest.mark.parametrize("body", [pytest.param(p.values[0], id=p.id) for p in EDGE_CASES])
def test_direct_write_matches_partition_by(spark, tmp_path, body):
    _assert_as_partition_by(spark, tmp_path, body, DATE)


@pytest.mark.parametrize("date", ["2026/06/02", "2026=06=02", "100%", "10:30", "2026 06 02"])
def test_escaped_partition_value_matches_partition_by(spark, tmp_path, date):
    """Spark escapes these characters in a partition directory name (a
    space is kept); the direct write names the directory the same way."""
    _assert_as_partition_by(spark, tmp_path, "\n3,3.5,c\n", date)


def test_utf8_bom_lands_as_inference_does(spark, tmp_path, scan_modes):
    """Both readers drop a UTF-8 byte order mark before the header."""
    landing = Landing(spark, tmp_path, first=EDGE_FIRST)
    name = landing.put("bom.csv", f"﻿{EDGE_HEADER}\n3,3.5,c\n")
    scan_modes.clear()
    landing.land(name)
    assert scan_modes == STREAMED
    _, want = landing.inferred(name)
    assert _rows(landing.partition(DATE)) == _rows(want) == [(3, 3.5, "c")]


def test_re_read_keeps_the_dataset_types(spark, tmp_path, scan_modes):
    """A guard error re-reads the object under the dataset's schema, so
    an object of whole-number amounts is stored as double, as the line
    reader stores it, not as the int inference would find."""
    landing = Landing(spark, tmp_path, first=EDGE_FIRST)
    name = landing.put("ints.csv", f"{EDGE_HEADER}\n3,3,c\r\n4,4,d\n")
    scan_modes.clear()
    landing.land(name)
    assert scan_modes == RE_READ
    got = landing.partition(DATE)
    assert dict(got.dtypes)["amount"] == "double"
    assert _rows(got) == [(3, 3.0, "c"), (4, 4.0, "d")]


def test_split_record_is_re_read_under_the_dataset_types(spark, tmp_path, scan_modes):
    """LF first, then a CRLF line ending on a long column: the stream's
    long parse fails on '3\\r'. That value holds a line break, so the
    object is re-read line by line and stored as the dataset's bigint,
    not as the int inference would find."""
    landing = Landing(spark, tmp_path, first="id,note,n\n1,a,3000000000\n")
    name = landing.put("split.csv", "id,note,n\n3,c,3\r\n4,d,4\n")
    scan_modes.clear()
    landing.land(name)
    assert scan_modes == RE_READ
    got = landing.partition(DATE)
    assert dict(got.dtypes)["n"] == "bigint"
    assert _rows(got) == [(3, "c", 3), (4, "d", 4)]


def test_timestamp_dataset_is_read_line_by_line(spark, tmp_path, scan_modes):
    """A timestamp's CSV parse drops a line break at either end of the
    value, which the guard cannot see, so such a dataset never streams."""
    landing = Landing(spark, tmp_path, first="id,ts\n1,2024-01-01 10:00:00\n")
    name = landing.put("ts.csv", 'id,ts\n2,"2024-01-02 10:00:00\n"\n3,2024-01-03 10:00:00\n')
    scan_modes.clear()
    landing.land(name)
    assert scan_modes == ["lines", "infer"]
    _, want = landing.inferred(name)
    assert _rows(landing.partition(DATE)) == _rows(want)


@pytest.mark.parametrize(
    "body, reasons",
    [
        ("p-3,3,30.75\n", []),
        ("p-3,three,30.75\n", ["a value that does not parse; landing it by schema inference"]),
        (
            'p-3,3,"30.75\n"\n',
            [
                "a line break in a value; re-reading it line by line",
                "a value that does not parse; landing it by schema inference",
            ],
        ),
    ],
)
def test_each_fallback_logs_one_warning(landing, caplog, body, reasons):
    name = landing.put("logged.csv", HEADER + body)
    with caplog.at_level("WARNING", logger=csv_ingest.__name__):
        landing.land(name)
    cfg = landing.config(name, DATE)
    prefix = f"csv_ingest: landing {cfg.source_path} into {cfg.output_path}: "
    records = [r for r in caplog.records if r.name == csv_ingest.__name__]
    assert [r.levelname for r in records] == ["WARNING"] * len(reasons)
    assert [r.getMessage() for r in records] == [prefix + r for r in reasons]


def test_header_change_logs_its_reason(landing, caplog):
    name = landing.put("renamed.csv", "patient_id,encounter_no,amount\np-9,9,9.5\n")
    with caplog.at_level("WARNING", logger=csv_ingest.__name__):
        landing.land(name)
    assert [r.getMessage().rsplit(": ", 1)[1] for r in caplog.records if r.name == csv_ingest.__name__] == [
        "a header that does not match; landing it by schema inference"
    ]


@pytest.mark.parametrize(
    "kw",
    [
        {"output_files": 2},
        {"extra_read_options": {"sep": ","}},
    ],
)
def test_caller_settings_keep_line_mode(spark, tmp_path, scan_modes, kw):
    """An explicit file count or read option is the caller's: the object
    is read line by line, as before, and still under the contract."""
    landing = Landing(spark, tmp_path, first=EDGE_FIRST)
    name = landing.put("plain.csv", f"{EDGE_HEADER}\n3,3.5,c\n")
    scan_modes.clear()
    landing.land(name, **kw)
    assert scan_modes == ["lines"]
    assert _rows(landing.partition(DATE)) == [(3, 3.5, "c")]


def test_streamed_write_is_not_sorted(spark, landing):
    """The stamp stays a literal, so the partitioned write of the guarded
    stream needs no sort by ``ingest_date``; the guard rides on a data
    column."""
    landing.land(landing.put("match.csv", HEADER + "p-3,3,30.75\n"))
    executions = spark._jsparkSession.sharedState().statusStore().executionsList()
    plan = executions.apply(executions.size() - 1).physicalPlanDescription()
    assert "raise_error" in plan
    assert "Sort" not in plan
