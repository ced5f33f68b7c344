"""Catalog layer: the Glue-database + crawler replacement.

Reference: a Glue crawler re-scans the curated prefix every 15 minutes
and (re)registers table schema + hive partitions (main.tf:196-204,
database main.tf:114-116); Athena then queries ``"<db>"."athena"``
(README.md:94-101).

Spark-native: register the parquet location as an external table once;
new partitions are picked up synchronously by ``refresh_partitions``
(what ``MSCK REPAIR TABLE`` does) — the 15-minute crawler latency
disappears.

What a refresh costs: one driver-side listing of the table root, then
catalog calls registering the partition directories the catalog lacks.
No Spark job, and the table's cached relation and file listing stay:
``sparkgraft.sql.PartitionRefresh`` (in the package jar) lists again only
a partition directory that changed since its listing was cached, or
whose time or files were too recent to tell, and gives a vanished one an
empty listing. Only a table's first refresh (the one
``register_parquet_table`` runs) lists every partition, as the first
query after a full refresh would. Its Javadoc states that rule and what falls back to
``spark.catalog.recoverPartitions``, which also runs when the JVM cannot
load the jar (a session not built by ``get_spark``). That fallback
refreshes the whole table, so the next query lists every partition's
files again, as a Spark job past
``spark.sql.sources.parallelPartitionDiscovery.threshold`` (32) paths.
``get_spark`` sets ``spark.sql.hive.gatherFastStats=false``: with the
default, the repair lists every partition's files to store
numFiles/totalSize, as a Spark job once the table passes
``spark.rdd.parallelListingThreshold`` (10) partitions, and no plan here
reads those figures.

What the README's Athena query costs (``SELECT ingest_date, COUNT(*) ...
GROUP BY ingest_date ORDER BY ingest_date DESC``): no Spark job either.
The session's optimizer rule answers it from the table's cached file
listing and the Parquet footers of the files it has not read before,
on the driver; which shapes it answers and which still scan is stated
in ``jvm/sparkgraft/sql/FooterRowCounts.java``.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..session import jar_class


def register_parquet_table(
    spark: SparkSession,
    database: str,
    table: str,
    location: str,
) -> str:
    """CREATE DATABASE/TABLE over an existing ``ingest_date``-partitioned
    parquet dir.

    Schema is discovered from the files (crawler parity); the partition
    column must be listed explicitly for an external hive-layout table.
    """
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}")
    fq = f"{database}.{table}"
    spark.sql(f"DROP TABLE IF EXISTS {fq}")
    # Infer the data schema from the files themselves (the crawler does
    # the same, main.tf:196-204).
    df = spark.read.parquet(location)
    data_cols = [
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in df.schema.fields
        if f.name != "ingest_date"
    ]
    spark.sql(
        f"CREATE TABLE {fq} ({', '.join(data_cols)}) USING parquet"
        f" PARTITIONED BY (`ingest_date` string) LOCATION '{location}'"
    )
    refresh_partitions(spark, fq)
    return fq


def refresh_partitions(spark: SparkSession, fq_table: str) -> None:
    """MSCK REPAIR equivalent — makes newly-written partitions visible."""
    refresh = jar_class("sparkgraft.sql.PartitionRefresh")
    if refresh is None:
        spark.catalog.recoverPartitions(fq_table)
    else:
        refresh.run(spark._jsparkSession, fq_table)
