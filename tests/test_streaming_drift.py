"""Streaming drift monitor (streaming/corpus.py:value_cells_stream +
operators/drift.py): cell parity with batch, hand-checked KS values,
and drift detection on a shifted distribution."""

from __future__ import annotations

import pyspark.sql.functions as F

from social_warner_spark.catalog import load_table
from social_warner_spark.operators.drift import merge_cells, two_sample_ks, value_cells
from social_warner_spark.streaming.corpus import value_cells_stream


def _stream(spark, src_dir, schema):
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )


def test_two_sample_ks_hand_checked(spark):
    """a={1,2}, b={2,3}: F_a=(.5,1,1), F_b=(0,.5,1) → KS=0.5; and a
    distribution compared with itself gives KS=0."""
    a = value_cells(spark.createDataFrame([(1,), (2,)], ["x"]), "x")
    b = value_cells(spark.createDataFrame([(2,), (3,)], ["x"]), "x")
    r = two_sample_ks(a, b).first()
    assert r["ks"] == 0.5 and r["n_a"] == 2 and r["n_b"] == 2
    same = two_sample_ks(a, a).first()
    assert same["ks"] == 0.0 and not same["drifted"]


def test_stream_cells_parity_and_ks_match_batch(spark, sf_smoke, tmp_path):
    """Two micro-batches of documents: merged stream cells must equal the
    batch cells over the concatenated rows, and the stream-side KS
    verdict vs a baseline must equal the batch-computed verdict."""
    d = load_table(spark, sf_smoke, "documents").select("doc_id", "n_chars")
    base = d.where(F.col("doc_id") % 3 == 0)
    arriving = d.where(F.col("doc_id") % 3 != 0)

    src = str(tmp_path / "src")
    # two files → two micro-batches (maxFilesPerTrigger=1)
    arriving.where(F.col("doc_id") % 3 == 1).coalesce(1).write.parquet(src)
    arriving.where(F.col("doc_id") % 3 == 2).coalesce(1).write.mode("append").parquet(src)

    cells = str(tmp_path / "cells")
    value_cells_stream(
        spark,
        _stream(spark, src, arriving.schema),
        cells,
        str(tmp_path / "ckpt"),
        "n_chars",
    )

    stream_cells = merge_cells(spark.read.parquet(cells).select("v", "c"))
    merged = {(r["v"], r["c"]) for r in stream_cells.collect()}
    batch = {(r["v"], r["c"]) for r in value_cells(arriving, "n_chars").collect()}
    assert merged == batch

    base_cells = value_cells(base, "n_chars")
    got = two_sample_ks(stream_cells, base_cells).first().asDict()
    want = two_sample_ks(value_cells(arriving, "n_chars"), base_cells).first().asDict()
    assert got == want
    assert not got["drifted"]  # same underlying distribution → no drift


def test_shifted_stream_flags_drift(spark, tmp_path):
    """A stream whose values are shifted far from the baseline must
    exceed the critical value; an identical stream must not."""
    base_rows = spark.range(0, 300).select((F.col("id") % 20 + 10).alias("v"))
    base = base_rows.groupBy("v").agg(F.count("*").alias("c"))

    shifted = spark.range(0, 300).select((F.col("id") % 20 + 40).alias("n"))
    src = str(tmp_path / "src")
    shifted.coalesce(1).write.parquet(src)
    cells = str(tmp_path / "cells")
    value_cells_stream(
        spark, _stream(spark, src, shifted.schema), cells, str(tmp_path / "ckpt"), "n"
    )
    r = two_sample_ks(merge_cells(spark.read.parquet(cells).select("v", "c")), base).first()
    assert r["drifted"] and r["ks"] == 1.0  # disjoint supports → KS = 1
