"""SparkSession factory tuned for this engine.

Local mode is the test bed (local[N], one JVM); the config block is
written so the same code lands well on a multi-executor cluster:
AQE on (runtime coalesce + skew-join splitting), shuffle partitions
sized to cores locally (set explicitly on a cluster to ~2-3x total
cores), UTC session timezone so timestamps compare bit-for-bit with
the DuckDB oracle, Arrow enabled for the few Pandas-UDF operators.

The package's JVM jar, ``jvm/spark-graft.jar`` (Java source beside it),
goes on the driver and executor classpath and does two things:

- ``file://`` goes through ``sparkgraft.fs``: without a native
  libhadoop, Hadoop's RawLocalFileSystem starts a ``chmod`` process for
  every permission it sets and a ``readlink`` process for every
  FileContext link-status lookup. A trickle landing (one AvailableNow
  cycle: the stream's offset/commit logs plus the partitioned write)
  started about 40 of them and a bulk ``ingest_csv`` about 9, at several
  ms of CPU each. The jar's RawLocalFileSystem answers both through
  java.nio and keeps the stock method where nio cannot give the same
  result (sticky bit, real symlinks); checksums, ``_SUCCESS``,
  permission bits and the FileContext checkpoint manager are unchanged.
- ``spark.sql.extensions`` adds ``sparkgraft.sql.FooterRowCounts``, an
  optimizer rule that answers partition-grouped or global ``COUNT(*)``
  over Parquet from the file listing and the footers, with no Spark job
  (the README's Athena query, ``df.count()``). Its Javadoc states the
  shapes it answers and those it leaves to the scan.

``catalog.refresh_partitions`` also calls into the jar
(``sparkgraft.sql.PartitionRefresh``) when the running JVM can load it.

Rebuild the jar after editing the source (``javac`` 17+)::

    cd aws_healthcare_etl_pipeline_spark/jvm
    J="$(python -c 'import os,pyspark;print(os.path.join(os.path.dirname(pyspark.__file__),"jars"))')"
    rm -rf /tmp/graft && javac --release 17 -cp "$J/*" -d /tmp/graft $(find sparkgraft -name '*.java')
    rm -f spark-graft.jar && jar --create --date=2026-01-01T00:00:00Z --file spark-graft.jar -C /tmp/graft .
"""

from __future__ import annotations

import functools
import os

from py4j.java_gateway import JavaClass
from pyspark import SparkContext
from pyspark.sql import SparkSession

_JAR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm", "spark-graft.jar")
# conf keys whose caller values are appended to ours instead of replacing them
_LISTS = {
    "spark.driver.extraClassPath": os.pathsep,
    "spark.executor.extraClassPath": os.pathsep,
    "spark.sql.extensions": ",",
}


def jar_class(name: str) -> JavaClass | None:
    """The jar's class ``name`` in the running JVM, or None if it cannot load it.

    The jar must be on the driver JVM's classpath when it launches. A
    JVM that is already up (a session stopped and rebuilt in one
    process, or a session built without ``get_spark``) keeps its
    classpath; py4j resolves a name it cannot load to a package.
    """
    return _jar_class(SparkContext._jvm, name)


@functools.lru_cache(maxsize=None)
def _jar_class(jvm, name: str) -> JavaClass | None:
    # per JVM view: each lookup of a name that is not a class searches
    # the whole classpath (about 0.5 ms for a dotted name)
    cls = jvm
    for part in name.split("."):
        cls = getattr(cls, part)
    return cls if isinstance(cls, JavaClass) else None


def _jar_conf() -> dict[str, str]:
    """Register the fork-free ``file://`` filesystem and the SQL extension.

    In a JVM that is already up, the classes are named only if it can
    load them: naming a class it cannot load breaks every path.
    """
    if SparkContext._jvm is not None and jar_class("sparkgraft.fs.ForkFreeLocalFileSystem") is None:
        return {}
    return {
        "spark.driver.extraClassPath": _JAR,
        "spark.executor.extraClassPath": _JAR,
        # fs.file.impl must be a LocalFileSystem: FileSystem.getLocal casts
        "spark.hadoop.fs.file.impl": "sparkgraft.fs.ForkFreeLocalFileSystem",
        # the FileContext side, for the stream checkpoint's renames
        "spark.hadoop.fs.AbstractFileSystem.file.impl": "sparkgraft.fs.ForkFreeLocalFs",
        "spark.sql.extensions": "sparkgraft.sql.SparkGraftExtensions",
    }


def _session_conf(extra_conf: dict[str, str] | None) -> dict[str, str]:
    """The jar's conf with the caller's on top; list-valued keys are appended."""
    conf = _jar_conf()
    for k, v in (extra_conf or {}).items():
        if k in _LISTS and k in conf:
            v = conf[k] + _LISTS[k] + v
        conf[k] = v
    return conf


def get_spark(
    app_name: str = "aws_healthcare_etl_pipeline_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-appropriate defaults.

    Every knob here matters at 100 TB:
      - AQE coalesces post-shuffle partitions to target size and splits
        skewed join partitions at runtime, so a fixed
        ``shuffle.partitions`` doesn't have to be perfect per-query.
      - ``autoBroadcastJoinThreshold`` raised to 64 MB: every dim table
        in a TPC-H-ish star schema broadcast-joins instead of shuffling
        the fact table.
      - ``maxPartitionBytes`` 128 MB keeps scan tasks memory-bounded,
        and is the file size ingest writes (sources/filesize.py).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        # Read only by MSCK REPAIR / recoverPartitions: with it on, every
        # catalog refresh of a table past spark.rdd.parallelListingThreshold
        # (10) partitions runs a Spark job listing ALL partitions' files to
        # store numFiles/totalSize, which no plan here reads.
        .config("spark.sql.hive.gatherFastStats", "false")
        # InferFiltersFromGenerate synthesizes `size(arr) > 0` under
        # every explode(arr); for computed arrays the pushed-down filter
        # re-inlines the ENTIRE array expression (attributes become
        # inline subtrees again), re-evaluating expensive chains per row
        # — winnowing fingerprints went O(len^2) from it. Our exploded
        # arrays are non-empty by construction, so the rule only costs.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in _session_conf(extra_conf).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
