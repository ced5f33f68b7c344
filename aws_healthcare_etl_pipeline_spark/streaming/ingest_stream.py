"""Incremental ingest: the EventBridge->Lambda->Glue trigger, Spark-native.

Reference semantics being replaced (SURVEY.md §2.7): one Glue run per
S3 ``Object Created`` under ``incoming/`` (main.tf:182-193, 231-252),
at-least-once with duplicate rows possible on retry
(glue_job_script.py:51, main.tf:150).

Spark-native: a Structured Streaming *file source* watches the incoming
directory — "exactly the new files" semantics come from the source's
checkpointed file log, an upgrade from at-least-once. The per-file
write runs inside ``foreachBatch`` so the sink is the same
partitioned-parquet writer as the batch path; ``Trigger.AvailableNow``
processes the backlog then stops, which is the runbook-friendly local
equivalent of the always-on event rule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..sources.csv_ingest import CSV_GLOB, IngestConfig, write_partitioned


def start_incremental_ingest(
    spark: SparkSession,
    cfg: IngestConfig,
    schema: T.StructType,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Start (and with available_now=True, run to completion) a
    streaming CSV->parquet ingest.

    Streaming file sources require an explicit schema (no inferSchema)
    — the SURVEY.md §7 'dual path'. Each micro-batch is appended to
    its ``ingest_date`` partition (``cfg.ingest_date``, else the UTC
    date when the batch runs) exactly once per input file thanks to
    the checkpoint.
    """
    stream = (
        spark.readStream.schema(schema)
        .option("header", "true")
        .option("pathGlobFilter", CSV_GLOB)  # the non-CSV guard, at the source
        .csv(cfg.source_path)
    )

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        write_partitioned(batch_df, cfg)

    writer = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
