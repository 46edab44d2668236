"""Incremental job harness: the reference's daily micro-batch pipeline
(I1: cron → run_daily_update) expressed as ``Trigger.AvailableNow`` streaming
jobs — process everything that has arrived, then stop; idempotent by
checkpoint + exactly-once sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery


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
