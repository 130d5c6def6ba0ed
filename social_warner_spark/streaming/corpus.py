"""Streaming corpus ingestion with dedup-before-append (SURVEY.md C6 ×
the L-series: the production shape for continuously-arriving crawl data).

Each micro-batch of candidate documents is screened against the BASE
corpus plus everything previously accepted, using the same
`incremental_neardup_matches` operator as batch x51 (LSH band candidates,
exact-Jaccard verification); only novel documents append.  Exactly-once
via the foreachBatch epoch contract: accepted docs land in
``epoch=<id>`` partitions with dynamic partition overwrite, so a retried
epoch replaces itself instead of duplicating.

100 TB posture: the stream side is one micro-batch (small by
construction) and broadcasts into every join; the base corpus is read
per epoch but never shuffles on content (see incremental_neardup_matches).
At very high epoch counts, compact the accepted-set directory
periodically — it is plain partitioned parquet.
"""

from __future__ import annotations

from typing import Callable

import pyspark.sql.functions as F
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

from social_warner_spark.operators.dedup import incremental_neardup_matches
from social_warner_spark.streaming.sinks import stream_foreach_batch


def _stream_epochs(
    stream: DataFrame,
    path: str,
    build: Callable[[DataFrame, int], DataFrame],
    checkpoint: str,
    timeout_sec: float,
) -> None:
    """Drain ``stream`` through foreachBatch: skip an empty micro-batch,
    else land ``build(batch_df, epoch_id)`` in the ``epoch=<id>``
    partition of ``path`` with dynamic partition overwrite, so a retried
    epoch replaces itself instead of duplicating."""

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        if not batch_df.take(1):
            return
        (
            build(batch_df, epoch_id)
            .withColumn("epoch", F.lit(int(epoch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch")
            .parquet(path)
        )

    stream_foreach_batch(stream, write, checkpoint, timeout_sec)


def screen_and_append_stream(
    spark: SparkSession,
    new_docs: DataFrame,
    corpus: DataFrame,
    accepted_path: str,
    checkpoint: str,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    timeout_sec: float = 120.0,
) -> None:
    """Drain the ``new_docs`` stream, appending to ``accepted_path`` only
    documents with no near-dup (Jaccard ≥ threshold) in ``corpus`` or in
    previously-accepted epochs."""
    base_cols = [id_col, text_col]

    def screen(batch_df: DataFrame, epoch_id: int) -> DataFrame:
        seen = corpus.select(*base_cols)
        try:
            prior = spark.read.parquet(accepted_path)
            # exclude this epoch's own prior attempt: a retried epoch must
            # screen against exactly what earlier epochs accepted
            seen = seen.unionByName(
                prior.where(F.col("epoch") != epoch_id).select(*base_cols)
            )
        except AnalysisException:
            pass  # first epoch: nothing accepted yet
        matches = incremental_neardup_matches(
            batch_df, seen, threshold, text_col=text_col, id_col=id_col
        )
        return batch_df.select(*base_cols).join(
            matches.select(id_col), id_col, "left_anti"
        )

    _stream_epochs(new_docs, accepted_path, screen, checkpoint, timeout_sec)


def cms_cells_stream(
    spark: SparkSession,
    docs_stream: DataFrame,
    cells_path: str,
    checkpoint: str,
    depth: int = 4,
    width: int = 64,
    text_col: str = "text",
    timeout_sec: float = 120.0,
) -> None:
    """Maintain a count-min sketch over a document stream.

    Each micro-batch reduces to its own ≤ depth·width cell rows
    (operators/sketch.py:cms_cells) and lands in an ``epoch=<id>``
    partition with dynamic overwrite — the same exactly-once epoch
    contract as screen_and_append_stream, so a retried epoch replaces
    its own cells instead of double-counting.

    The live sketch is ``merged_cms_cells`` — the SUM of cells across
    epochs, exact because CMS cells merge by addition.  That is the whole
    point of sketching the stream: heavy-hitter estimates over the full
    history cost a scan of epochs·depth·width tiny rows, never a replay
    of the raw stream.
    """
    from social_warner_spark.functions.text import tokens
    from social_warner_spark.operators.sketch import cms_cells

    def build(batch_df: DataFrame, epoch_id: int) -> DataFrame:
        tok = batch_df.select(F.explode(tokens(F.col(text_col))).alias("token"))
        return cms_cells(tok, "token", depth, width)

    _stream_epochs(docs_stream, cells_path, build, checkpoint, timeout_sec)


def merged_cms_cells(spark: SparkSession, cells_path: str) -> DataFrame:
    """The live sketch: per-(r, bucket) sums across all epochs — identical
    to the batch sketch over the concatenated stream (cells are additive),
    which the parity test asserts exactly."""
    return (
        spark.read.parquet(cells_path)
        .groupBy("r", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )


def value_cells_stream(
    spark: SparkSession,
    rows_stream: DataFrame,
    cells_path: str,
    checkpoint: str,
    value_col: str,
    timeout_sec: float = 120.0,
) -> None:
    """Maintain exact (v, c) count cells of `value_col` over a row stream
    — the drift-monitor feed: cells are additive, so the accumulated
    stream distribution is the cross-epoch SUM (operators/drift.py:
    merge_cells) and a KS test against any baseline never replays the
    raw stream.  Same exactly-once epoch-partition contract as the
    CMS cell stream."""
    from social_warner_spark.operators.drift import value_cells

    def build(batch_df: DataFrame, epoch_id: int) -> DataFrame:
        return value_cells(batch_df, value_col)

    _stream_epochs(rows_stream, cells_path, build, checkpoint, timeout_sec)
