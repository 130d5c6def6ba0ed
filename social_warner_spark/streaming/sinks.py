"""Durable streaming sinks — checkpointed, exactly-once (SURVEY.md C6).

Two production shapes beyond the test-harness memory sink:

- `stream_to_parquet`: the built-in file sink.  Exactly-once by
  construction: the checkpoint's write-ahead log + the sink's file manifest
  mean a restarted query never re-writes a committed micro-batch —
  replaying the same input with the same checkpoint adds NOTHING
  (asserted in tests/test_streaming_sinks.py).
- `stream_foreach_batch`: the escape hatch for sinks without a streaming
  connector (JDBC, BigQuery, MERGE upserts).  The batch function receives
  (batch_df, epoch_id); exactly-once becomes AT-LEAST-once + idempotence:
  the epoch id is the idempotence key a real target uses to dedup retried
  batches (e.g. partition-overwrite by epoch, or MERGE on a batch-id
  column).  The wrapper forwards the epoch so the callable can implement
  that contract; the one here composes with sinks/writers.write_table.

Both default to trigger(availableNow=True) — drain-everything-then-stop —
which is also the batch-backfill mode: the same pipeline definition does
backfill and continuous serving with only the trigger changing.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame


def stream_to_parquet(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    output_mode: str = "append",
    timeout_sec: float = 120.0,
    partition_by: list[str] | None = None,
) -> None:
    """Drain a stream into an exactly-once parquet file sink.

    File sinks require append mode (aggregations feeding this sink need a
    watermark so finalized windows emit as appends).  `partition_by` gives
    the same date-partitioned layout contract as the batch sink's
    ``write_table(partition_by=...)``.
    """
    writer = (
        stream_df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    q = writer.start()
    q.awaitTermination(timeout_sec)
    if q.isActive:  # pragma: no cover - defensive timeout path
        q.stop()
        raise TimeoutError("stream did not drain within timeout")


def stream_foreach_batch(
    stream_df: DataFrame,
    batch_fn: Callable[[DataFrame, int], None],
    checkpoint: str,
    timeout_sec: float = 120.0,
) -> None:
    """Drain a stream through a per-micro-batch callable.

    `batch_fn(batch_df, epoch_id)` runs with full batch-DataFrame powers
    (joins, MERGE, write_table dispositions).  The checkpoint guarantees
    each epoch is delivered; the callable must treat `epoch_id` as its
    idempotence key for exactly-once end to end.
    """
    q = (
        stream_df.writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec)
    if q.isActive:  # pragma: no cover - defensive timeout path
        q.stop()
        raise TimeoutError("stream did not drain within timeout")
