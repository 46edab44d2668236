"""Incremental job harness: the reference's daily micro-batch pipeline
(I1: cron → run_daily_update) expressed as ``Trigger.AvailableNow`` streaming
jobs — process everything that has arrived, then stop; idempotent by
checkpoint + exactly-once sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from us_equity_datalake_spark.sources.lake import overwrite_partition


def read_stream(spark: SparkSession, path: str, schema, *, fmt: str = "parquet") -> DataFrame:
    return spark.readStream.format(fmt).schema(schema).load(path)


def run_available_now(
    df: DataFrame,
    *,
    checkpoint: str,
    output_mode: str = "append",
    path: str | None = None,
    foreach_batch=None,
    query_name: str = "job",
) -> StreamingQuery:
    """Run ``df`` as one availableNow query against ``checkpoint``: process
    every input that has arrived, stop, and return the TERMINATED query, so
    callers read ``q.recentProgress`` (per-micro-batch ``durationMs`` and
    ``numInputRows``).  The one place this package starts such a query.

    Exactly one sink: ``path`` lands the rows as a parquet file sink;
    ``foreach_batch`` hands each micro-batch to a callable ``(df, epoch_id)``
    — the idempotent exactly-once pattern for lake/partition-overwrite
    sinks; with neither, rows go to the memory sink ``query_name``.

    The query runs in the session ``df`` was built on; this function creates
    no session and sets no conf.  A failed query re-raises its error here."""
    if path is not None and foreach_batch is not None:
        raise ValueError("run_available_now takes one sink: path or foreach_batch")
    writer = df.writeStream.outputMode(output_mode).option("checkpointLocation", checkpoint).trigger(
        availableNow=True
    )
    if foreach_batch is not None:
        writer = writer.foreachBatch(foreach_batch)
    elif path is not None:
        writer = writer.format("parquet").option("path", path)
    else:
        writer = writer.format("memory").queryName(query_name)
    q = writer.start()
    q.awaitTermination()
    return q


def partition_overwrite_sink(path: str, *, partition_by: list[str]):
    """foreachBatch sink implementing I3 (update/app.py:296-445: total refetch
    of the hot slice, overwrite the partition — "no merge logic"): each
    micro-batch dynamically overwrites exactly the partitions it carries.
    Replays of a micro-batch rewrite the same partitions with the same rows —
    idempotent, so checkpoint + this sink gives effective exactly-once."""

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        overwrite_partition(batch_df.sparkSession, batch_df, path,
                            partition_by=partition_by, files_per_partition=None)

    return sink
