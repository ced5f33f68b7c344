"""Catalog layer: the Glue-database + crawler replacement.

Reference: a Glue crawler re-scans the curated prefix every 15 minutes
and (re)registers table schema + hive partitions (main.tf:196-204,
database main.tf:114-116); Athena then queries ``"<db>"."athena"``
(README.md:94-101).

Spark-native: register the parquet location as an external table once;
new partitions are picked up synchronously with
``spark.catalog.recoverPartitions`` (= ``MSCK REPAIR TABLE``) — the
15-minute crawler latency disappears.

What a refresh costs: a driver-side listing of the partition
directories under the table location, then catalog calls registering
them (already registered ones are skipped). No Spark job: ``get_spark`` sets
``spark.sql.hive.gatherFastStats=false``, so the repair does not re-list
every partition's files to store per-partition numFiles/totalSize
(with the default it does, as a Spark job, once the table passes
``spark.rdd.parallelListingThreshold`` = 10 partitions). Those figures
feed no plan: scans of the table list the pruned partitions' files
themselves. The listing of partition directories still grows with the
partition count.

What the README's Athena query costs (``SELECT ingest_date, COUNT(*) ...
GROUP BY ingest_date ORDER BY ingest_date DESC``): no Spark job either.
The session's optimizer rule answers it from the table's file listing
and one Parquet footer read per file on the driver; which shapes it
answers and which still scan is stated in
``jvm/sparkgraft/sql/FooterRowCounts.java``.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


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
    spark.catalog.recoverPartitions(fq_table)
