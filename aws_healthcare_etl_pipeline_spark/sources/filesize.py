"""Output file sizing: the scale-correct replacement for the
reference's ``repartition(1)`` (glue_job_script.py:49, SURVEY.md §7.7).

The reference forces ONE output file per run — demo-friendly, but a
single write task at any real scale. Here the writer targets a file
size: it estimates the dataframe's on-disk footprint from Catalyst
statistics (parquet scans carry accurate sizeInBytes; post-filter
estimates are heuristic but the right order of magnitude) and asks for
ceil(size / target) files (``target_file_count``).

Two forms use that count:
  - ingest (``csv_ingest.write_partitioned``) coalesces to it, with no
    shuffle, at the session's ``spark.sql.files.maxPartitionBytes``:
    a landing writes one file per target size of input instead of one
    file per input split;
  - ``write_sized_parquet`` stays the shuffle-based compaction utility:
    a round-robin repartition to the count, which evens out file sizes
    at the price of one shuffle of the output rows.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame

DEFAULT_TARGET_MB = 128
_MB = 1024 * 1024
_MAX_COUNT = 2**31 - 1  # partition counts are Java ints


def estimated_size_bytes(df: DataFrame) -> int:
    """Catalyst's optimized-plan size estimate for df."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def target_file_count(df: DataFrame, target_mb: float | None = None) -> int:
    """ceil(estimated size / target) files, at least one; ``target_mb``
    None -> the session's ``spark.sql.files.maxPartitionBytes``.

    A plan Catalyst cannot size (an RDD-backed DataFrame reports
    Long.MaxValue) would ask for ~7e10 files, more than coalesce or
    repartition accept (a Java int). Such a count is clamped to the
    input partition count: one file per input partition, as an unsized
    write produces.
    """
    if target_mb is None:
        conf = df.sparkSession._jsparkSession.sessionState().conf()
        target_mb = conf.filesMaxPartitionBytes() / _MB
    est = estimated_size_bytes(df)
    # For scan-shaped plans the estimate IS on-disk bytes; for derived
    # plans it's an in-memory overestimate. No correction factor: both
    # cases then err toward MORE, smaller files — at scale that costs a
    # few extra tasks, while undershooting produces the giant single
    # files this writer exists to prevent.
    n = max(1, math.ceil(est / (target_mb * _MB)))
    if n > _MAX_COUNT:
        return df.rdd.getNumPartitions()
    return n


def write_sized_parquet(
    df: DataFrame,
    path: str,
    target_mb: int = DEFAULT_TARGET_MB,
    partition_by: str | None = None,
    mode: str = "append",
) -> int:
    """Write parquet coalesced to ~target_mb files; returns file count
    used. With ``partition_by`` the count applies per write (files land
    under each partition dir as rows dictate)."""
    n = target_file_count(df, target_mb)
    # Unconditional round-robin repartition: partition COUNT says
    # nothing about row distribution (a parquet scan split below
    # row-group granularity yields empty partitions), and the whole
    # point of this writer is evenly-sized files. One shuffle of the
    # output rows is the price of the guarantee — this is a compaction
    # utility, not a hot-path default.
    writer = df.repartition(n).write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer.parquet(path)
    return n


def write_clustered_parquet(
    df: DataFrame,
    path: str,
    cluster_by: list[str],
    target_mb: int = DEFAULT_TARGET_MB,
    mode: str = "overwrite",
    num_files: int | None = None,
) -> int:
    """Write parquet range-clustered on ``cluster_by``: rows are
    range-partitioned across ~target_mb output files and sorted within
    each, so every file (and row group) carries a TIGHT, mostly
    disjoint min/max range for the cluster keys in its footer.

    This is the layout lever for 100 TB scans: any min/max-pruning
    reader — Spark's parquet row-group pruning, file-level skipping in
    lakehouse formats — then skips all but the matching slice for a
    selective predicate on the leading cluster key. Without it, every
    file spans the whole key range and min/max pruning skips nothing
    (tests/test_scd_filesize.py::test_clustered_write_prunes proves the
    disjointness against an unclustered control write).

    ``repartitionByRange`` samples key quantiles, so output files are
    balanced even under key skew — the same reason it beats hash
    partitioning for layout. One shuffle + local sort is the price,
    paid once at write time and amortized over every later scan.
    ``num_files`` overrides the size-based file count (compaction jobs
    that already know their target layout).
    """
    n = num_files if num_files is not None else target_file_count(df, target_mb)
    (
        df.repartitionByRange(n, *cluster_by)
        .sortWithinPartitions(*cluster_by)
        .write.mode(mode)
        .parquet(path)
    )
    return n
