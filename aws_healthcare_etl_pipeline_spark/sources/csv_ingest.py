"""Batch CSV -> partitioned-Parquet ingest: the reference pipeline's core.

Reference behavior being reproduced (cited for parity checking):
  - CSV read with header + schema inference .... glue_job_script.py:39-42
  - object-vs-prefix path resolution ........... glue_job_script.py:37
  - non-CSV guard (skip, don't fail) ........... glue_job_script.py:33-35
  - stamp driver-time UTC ``ingest_date`` ...... glue_job_script.py:26,44
  - append write partitioned by ingest_date .... glue_job_script.py:48-53
    (the stamp is stored in the path only, as ``partitionBy`` stores it)

Deliberate departures, for 100 TB scale (SURVEY.md §4):
  - ``repartition(1)`` (glue_job_script.py:49) is NOT the default.
    ``output_files=None`` coalesces, with no shuffle, to one file per
    ``spark.sql.files.maxPartitionBytes`` of estimated input
    (``filesize.target_file_count``); an int reproduces the reference's
    demo behavior. A write with no exchange gets no AQE sizing: without
    the coalesce, every input split would be its own small file.
    The trade-off: an input under one target size is parsed and
    written by one task.
  - inference runs once per dataset, not once per object.
    ``inferSchema=True`` costs a header job and a full pass over the
    CSV before the write parses it again. When ``output_path`` already
    holds Spark-written Parquet, the dataset's schema is read from one
    footer on the driver (``dataset_schema``) and the object is parsed
    once, by the write, under it: ``enforceSchema=false`` (the header
    must name the same columns, in order, compared as Spark compares
    names: case-insensitively by default) and ``mode=FAILFAST``. Those
    two checks apply only on this contract path. An object whose
    header or values break the schema is landed by the reference's
    inference path instead, as is a dataset's first object. An
    explicit ``schema`` keeps Spark's defaults (PERMISSIVE: a value
    that does not parse becomes NULL) and is mandatory for the
    streaming variant (streaming/ingest_stream.py). Each fallback logs
    one WARNING naming the object, the dataset and the reason.
  - a contract landing whose listed input fits one
    ``spark.sql.files.maxPartitionBytes`` split is parsed as one CSV
    stream (``multiLine``), not line by line. Its coalesced write is
    one task either way, and line mode re-enters the CSV parser once
    per line. A larger input keeps line mode and its split-parallel
    parse. Line mode ends a record at CR, LF or CRLF, so the two
    readers differ only where a value would hold a line break; a guard
    in the stream's one projection fails the write on such a
    value, and the object is re-read line by line under the same
    schema, which lands what line mode always landed. A double is read
    raw and cast, because its CSV parse drops a leading or trailing
    line break; a dataset with a timestamp column, a caller's read
    option or an explicit ``output_files`` keeps line mode. "Fits" is
    judged on the listed bytes, so an input just under one split, which
    line mode's larger projected estimate wrote as two files, is one
    file now. A stream whose header or value breaks the
    schema goes to inference directly, unless the raw record or value
    it broke on holds a line break: that is a record the stream split
    differently (mixed line endings), and it is re-read line by line
    first. The inference path stays in line mode: it is the
    reference's read. So does the streaming variant: its options are
    fixed for the query's life, and its objects are small.
  - an append writes straight into its partition directory. Every row
    of a landing has the same ``ingest_date``, known before the job
    starts, so ``write_partitioned`` writes the unstamped rows as plain
    Parquet into ``<output_path>/ingest_date=<value>`` (named as
    ``partitionBy`` names it) instead of passing every row through
    Spark's dynamic-partition writer to learn that value. The rows and
    footers are the ones ``partitionBy`` writes; the job's
    ``_temporary`` and ``_SUCCESS`` now sit in the partition directory,
    which job setup creates. A write of no rows, which Spark's
    unpartitioned writer still commits as one file, and a failed write
    leave no file and no directory behind. The file count is sized on
    the rows as stored, without a stamp column. ``overwrite_partition``
    keeps ``partitionBy``.
  - optional idempotent mode: dynamic partition overwrite instead of
    blind append, so a retried job does not duplicate rows
    (glue_job_script.py:51 + main.tf:150 allow duplicates on retry).
"""

from __future__ import annotations

import datetime as dt
import json
import logging
from dataclasses import dataclass, field, replace

from py4j.java_gateway import JavaClass, is_instance_of
from py4j.protocol import Py4JJavaError
from pyspark.errors.exceptions.captured import CapturedException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .filesize import estimated_size_bytes, target_file_count

# The non-CSV guard as a Hadoop glob, for the scans: the same
# case-insensitive suffix test as ``is_csv_object``.
CSV_GLOB = "*.[cC][sS][vV]"
# Spark's Parquet writer stores the written schema, as JSON, under this
# key of every footer's key-value metadata.
_ROW_METADATA = "org.apache.spark.sql.parquet.row.metadata"
# The read options of the contract path. A caller who sets one of them,
# or inferSchema, multiLine or lineSep, gets the path it asked for.
_CONTRACT_OPTIONS = {"header": "true", "enforceSchema": "false", "mode": "FAILFAST"}
_CALLER_PARSE_OPTIONS = {"header", "enforceschema", "mode", "inferschema", "multiline", "linesep"}
# Column types whose CSV parse either keeps the value or fails. Under a
# pinned schema DateType drops a time of day and DecimalType rounds a
# fraction, with no error, so a dataset holding either keeps inference.
_CONTRACT_TYPES = (
    T.StringType, T.IntegerType, T.LongType, T.DoubleType, T.BooleanType,
    T.TimestampType, T.TimestampNTZType,
)
# Column types the one-stream parse can land exactly as the line reader
# would. A string or a double is checked by the stream's guard; an int,
# long or boolean holding a line break does not parse. A timestamp's
# parse drops a leading or trailing line break, and no cast reproduces
# it, so a dataset with one is read line by line.
_STREAM_TYPES = (T.StringType, T.IntegerType, T.LongType, T.BooleanType, T.DoubleType)
# The reasons the stream's guard raises (as "csv_ingest: <reason>").
# Either sends the object to the line reader, whose answer it is.
_LINE_BREAK = "a line break in a value"
_UNREAD_DOUBLE = "a double that a cast does not read as finite"
_GUARDS = (_LINE_BREAK, _UNREAD_DOUBLE)
_UNPARSED = "a value that does not parse"
# A stream's parse error on a raw record or value that holds a line
# break: the stream cut the records where the line reader would not
# (mixed line endings), so the line reader's answer is also wanted.
_SPLIT_RECORD = "a record that does not parse across a line break"

_log = logging.getLogger(__name__)


def _jclass(spark: SparkSession, name: str) -> JavaClass:
    """The JVM class ``name``. A ``spark._jvm.a.b.C`` path costs one py4j
    round trip per name part (about 0.5 ms each); this costs none."""
    return JavaClass(name, spark.sparkContext._gateway._gateway_client)


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
        reader = reader.option("pathGlobFilter", CSV_GLOB)
    return reader.csv(cfg.source_path)


def write_partitioned(df: DataFrame, cfg: IngestConfig) -> None:
    """Write the landing ``df`` (no ``ingest_date`` column) as the
    ``cfg.ingest_date`` partition of ``cfg.output_path`` (default: the
    driver's UTC date).

    An append is a plain Parquet write into the partition's directory,
    named as Spark's partitioned writer names it (the value escaped by
    ``ExternalCatalogUtils.getPartitionPathString``: ``/``, ``=``,
    ``%``, ``:`` and more): the one partition value is known before the
    job starts, so no row goes through the dynamic-partition writer.
    ``overwrite_partition`` keeps ``partitionBy`` with dynamic
    overwrite, whose staging keeps the partition's earlier rows until
    the job commits.
    """
    ingest_date = cfg.ingest_date or utc_ingest_date()
    # coalesce, not the reference's repartition(1) (glue_job_script.py:49):
    # no shuffle, just fewer output tasks. Each output file costs a task
    # plus its commit and per-file filesystem calls, so a small landing
    # is written as one file rather than one per input split.
    n = cfg.output_files if cfg.output_files is not None else target_file_count(df)
    df = df.coalesce(n)
    if cfg.mode == "overwrite_partition":
        # idempotent re-run: replaces only the partitions present in df
        (
            df.withColumn("ingest_date", F.lit(ingest_date))
            .write.partitionBy("ingest_date")
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite")
            .parquet(cfg.output_path)
        )
    else:
        catalog_utils = _jclass(df.sparkSession, "org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils")
        _append(df, f"{cfg.output_path.rstrip('/')}/{catalog_utils.getPartitionPathString('ingest_date', ingest_date)}")


def _append(df: DataFrame, path: str) -> None:
    """Append ``df`` as Parquet files to the directory ``path``. A write
    that fails, or commits no rows, leaves no file and no directory of
    its own behind."""
    spark = df.sparkSession
    # the command DataFrameWriter.parquet runs, run here so its write
    # metrics, set on the driver as the job ends, can be read
    command = df._jdf.write().mode("append").format("parquet").saveCommand(_jclass(spark, "scala.Some")(path))
    execution = spark._jsparkSession.sessionState().executePlan(
        command, _jclass(spark, "org.apache.spark.sql.execution.CommandExecutionMode").ALL()
    )
    try:
        execution.assertCommandExecuted()
    except Exception:
        # job setup made the directory and the aborted job emptied it
        _drop_empty(spark, path)
        raise
    metrics = execution.commandExecuted().commandPhysicalPlan().metrics()
    if metrics.apply("numOutputRows").value() == 0:
        # the unpartitioned writer commits one file even for no rows
        _drop_empty(spark, path, empty_file_bytes=metrics.apply("numOutputBytes").value())


def _drop_empty(spark: SparkSession, path: str, empty_file_bytes: int | None = None) -> None:
    """Remove what a write of nothing left in the directory ``path``: one
    data file of ``empty_file_bytes`` bytes with no rows (when given),
    then the directory if no data file and no other writer's
    ``_temporary`` is left in it."""
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    target = _jclass(spark, "org.apache.hadoop.fs.Path")(path)
    fs = target.getFileSystem(conf)
    if not fs.exists(target):  # the write failed before job setup
        return
    entries = list(fs.listStatus(target))  # checksum files are not listed
    if empty_file_bytes is not None:
        for status in entries:
            # a data file (Spark reads no "_*" or ".*" file) of no rows
            if (
                status.getPath().getName()[:1] not in "_."
                and status.getLen() == empty_file_bytes
                and _footer(spark, status, conf).getBlocks().isEmpty()
            ):
                fs.delete(status.getPath(), False)
                entries.remove(status)
                break
    if all(e.getPath().getName() == "_SUCCESS" for e in entries):
        fs.delete(target, True)


def _footer(spark: SparkSession, status, conf):
    """The Parquet footer of the file ``status``, read on the driver with
    the calls sparkgraft.sql.FooterRowCounts reads footers with."""
    file = _jclass(spark, "org.apache.parquet.hadoop.util.HadoopInputFile").fromStatus(status, conf)
    options = _jclass(spark, "org.apache.parquet.HadoopReadOptions").builder(conf).build()
    stream = file.newStream()
    try:
        return _jclass(spark, "org.apache.parquet.hadoop.ParquetFileReader").readFooter(file, options, stream)
    finally:
        stream.close()


def dataset_schema(spark: SparkSession, path: str) -> T.StructType | None:
    """The schema Spark's writer stored with the partitioned dataset at
    ``path``, or None when it has none.

    Read from one footer: the first ``.parquet`` data file by name in
    the newest ``ingest_date=`` partition that holds one (a directory a
    writer has set up and not yet committed, or a crashed writer left,
    holds none). The driver lists and opens it with the Hadoop and
    parquet-hadoop classes Spark ships, in a number of calls from
    Python that does not grow with the partition count while the
    newest partitions hold data, and runs no Spark job. The schema
    lives with the data, not in a per-process memo, because each
    reference Glue run is a fresh process. None also when the footer
    has no Spark row metadata (Parquet another engine wrote).
    """
    path_class = _jclass(spark, "org.apache.hadoop.fs.Path")
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    root = path_class(path)
    fs = root.getFileSystem(conf)

    # globStatus sorts its matches by path (HADOOP-10798): the last
    # partition is the newest; Spark reads no file named "_*" or ".*"
    parts = fs.globStatus(path_class(root, "ingest_date=*")) or []  # None: no such path
    for i in range(len(parts) - 1, -1, -1):
        files = fs.globStatus(path_class(parts[i].getPath(), "[!_.]*.parquet"))
        if files:
            meta = _footer(spark, files[0], conf).getFileMetaData().getKeyValueMetaData().get(_ROW_METADATA)
            return T.StructType.fromJson(json.loads(meta)) if meta else None
    return None


def _contract_schema(spark: SparkSession, cfg: IngestConfig) -> T.StructType | None:
    """The dataset schema to parse this landing under, or None for the
    path the config names: an explicit schema, a caller's parse
    options, no Spark-written dataset yet, or a column type outside
    ``_CONTRACT_TYPES``."""
    if cfg.schema is not None or _CALLER_PARSE_OPTIONS & {k.lower() for k in cfg.extra_read_options}:
        return None
    schema = dataset_schema(spark, cfg.output_path)
    if not schema or not all(isinstance(f.dataType, _CONTRACT_TYPES) for f in schema.fields):
        return None
    return schema


def _streamable(cfg: IngestConfig, schema: T.StructType) -> bool:
    """Whether a contract landing may be parsed as one stream: no caller
    read option could parse it differently, no explicit file count asks
    for more than the one file a stream writes, and every column type
    is one the stream lands as the line reader would (``_STREAM_TYPES``)."""
    return (
        not cfg.extra_read_options
        and cfg.output_files is None
        and all(isinstance(f.dataType, _STREAM_TYPES) for f in schema.fields)
    )


def _raw(schema: T.StructType) -> T.StructType:
    """The stream's read schema: each double column as its raw string."""
    return T.StructType(
        [T.StructField(f.name, T.StringType(), f.nullable) if isinstance(f.dataType, T.DoubleType) else f for f in schema.fields]
    )


def _line_mode(df: DataFrame, schema: T.StructType) -> DataFrame:
    """The stream ``df``'s scan as the line-mode read of the same listed
    files under ``schema``: the relation is rebuilt around its file
    index, so the input is not listed again."""
    jspark = df.sparkSession._jsparkSession
    scan = df._jdf.queryExecution().analyzed().relation()
    relation = _jclass(df.sparkSession, "org.apache.spark.sql.execution.datasources.HadoopFsRelation")(
        scan.location(),
        scan.partitionSchema(),
        jspark.parseDataType(schema.json()),
        scan.bucketSpec(),
        scan.fileFormat(),
        scan.options().removed("multiLine"),
        jspark,
    )
    return DataFrame(jspark.baseRelationToDataFrame(relation), df.sparkSession)


def _guarded(df: DataFrame, schema: T.StructType) -> DataFrame:
    """The stream ``df`` (read under ``_raw(schema)``) as the line
    reader would land it, in one projection: a value the line reader
    could land differently fails the write with a ``_GUARDS`` error
    instead.

    Line mode ends a record at CR, LF or CRLF, so no string it lands
    holds one. A double is read raw because its CSV parse drops a
    leading or trailing line break, and cast by the projection, once
    per value. For a finite result the cast and the CSV parse are the
    same ``Double.parseDouble``; anything else (NaN, an infinity, a
    value that does not parse) is left to the line reader. One
    line-break check for the row keeps the plan small: its analysis
    and optimization run on the driver for every landing. It rides on
    a data column, the only place a projection that adds no column can
    fail a row."""
    fields = schema.fields
    quoted = ["`" + f.name.replace("`", "``") + "`" for f in fields]
    # a double's check is NULL or an error, coalesced with the cast: the
    # cast is in both of coalesce's inputs, so codegen evaluates it once
    values = [
        f"coalesce(IF(abs(try_cast({c} AS DOUBLE)) < double('Infinity') OR {c} IS NULL, NULL, "
        f"raise_error('csv_ingest: {_UNREAD_DOUBLE}')), try_cast({c} AS DOUBLE))"
        if isinstance(f.dataType, T.DoubleType)
        else c
        for f, c in zip(fields, quoted)
    ]
    checked = [i for i, f in enumerate(fields) if isinstance(f.dataType, (T.StringType, T.DoubleType))]
    if checked:
        breaks = " OR ".join(f"contains({quoted[i]}, '\\n') OR contains({quoted[i]}, '\\r')" for i in checked)
        values[checked[0]] = f"IF({breaks}, raise_error('csv_ingest: {_LINE_BREAK}'), {values[checked[0]]})"
    return df.selectExpr(*(f"{v} AS {c}" for v, c in zip(values, quoted)))


def _reason(condition: str, message: str, below=None) -> str | None:
    """The reason for a Spark error, given its Java cause ``below``."""
    if condition.startswith("MALFORMED_RECORD_IN_PARSING"):
        return _SPLIT_RECORD if _holds_line_break(below) else _UNPARSED
    if condition == "_LEGACY_ERROR_TEMP_3241" and "CSV header" in message:
        return "a header that does not match"  # CSVHeaderChecker: a renamed or a missing column
    if condition == "USER_RAISED_EXCEPTION":
        return next((g for g in _GUARDS if f"csv_ingest: {g}" in message), None)
    return None


def _holds_line_break(cause) -> bool:
    """Whether an error under a parse failure quotes a line break: the
    raw record of a token-count error, or the value a number or boolean
    parse rejected."""
    while cause is not None:
        message = cause.getMessage() or ""
        if "\n" in message or "\r" in message:
            return True
        cause = cause.getCause()
    return False


def _breaks_contract(spark: SparkSession, err: Exception) -> str | None:
    """Why a contract write failed because of the object, or None for
    any other failure: a value that does not parse (``_SPLIT_RECORD``
    when the raw record or value quoted under the parse error holds a
    line break), a header that does not name the schema's columns, or
    one of the stream's guard errors (``_GUARDS``). A task's
    user-raised error reaches Python as itself; a parse error as the
    job's bare error, with the parser's on the Java cause chain."""
    if isinstance(err, CapturedException):
        return _reason(err.getCondition() or "", err.getMessage())
    gateway = spark.sparkContext._gateway
    cause = err.java_exception
    while cause is not None:
        if is_instance_of(gateway, cause, "org.apache.spark.SparkThrowable"):
            reason = _reason(cause.getCondition() or "", cause.getMessage(), cause.getCause())
            if reason:
                return reason
        cause = cause.getCause()
    return None


def ingest_csv(spark: SparkSession, cfg: IngestConfig) -> str | None:
    """End-to-end single ingest run (the Glue job, minus Glue).

    Returns the output path, or None when skipped by the non-CSV guard
    (exit-0 semantics of glue_job_script.py:33-35) or because the input
    has no columns: inference on a zero-byte object finds none, and a
    table of only ``ingest_date`` cannot be partitioned by it.

    When the reference would infer and the dataset already has a
    schema, the object is parsed once, by the write, under that schema,
    as one CSV stream when it fits one split; if its header or values
    break it, the failed write leaves nothing and the object is
    inferred as the reference does (module docstring).
    An input of only zero-byte objects also takes the inference path,
    for its answer.
    """
    if cfg.object_key and not is_csv_object(cfg.object_key):
        return None
    # one date for every write of this landing
    landing = replace(cfg, ingest_date=cfg.ingest_date or utc_ingest_date())
    schema = _contract_schema(spark, cfg)
    if schema is not None:
        streamable = _streamable(cfg, schema)
        if streamable:
            read = replace(cfg, schema=_raw(schema), extra_read_options={**_CONTRACT_OPTIONS, "multiLine": "true"})
        else:
            read = replace(cfg, schema=schema, extra_read_options={**cfg.extra_read_options, **_CONTRACT_OPTIONS})
        df = read_csv(spark, read)
        size = estimated_size_bytes(df)  # the listed input bytes: no job
        if size > 0:
            # one split: the coalesced line-mode write is one task too
            split = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
            for stream in (True, False) if streamable and size <= split else (False,):
                if stream:
                    frame = _guarded(df, schema)
                else:
                    frame = _line_mode(df, schema) if streamable else df
                try:
                    # one partition: one file, with no size estimate to plan
                    write_partitioned(frame, replace(landing, output_files=1) if stream else landing)
                    return cfg.output_path
                except (Py4JJavaError, CapturedException) as err:
                    reason = _breaks_contract(spark, err)
                    if reason is None:
                        raise
                retry = stream and reason in (*_GUARDS, _SPLIT_RECORD)
                _log.warning(
                    "csv_ingest: landing %s into %s: %s; %s",
                    cfg.source_path, cfg.output_path, reason,
                    "re-reading it line by line" if retry else "landing it by schema inference",
                )
                if not retry:
                    break
    df = read_csv(spark, cfg)
    if not df.columns:  # the schema is already resolved: no extra pass
        return None
    write_partitioned(df, landing)
    return cfg.output_path
