"""Streaming corpus ingestion (streaming/corpus.py): dedup-before-append
parity with the batch x51 operator, and the growing accepted set —
a later micro-batch must screen against earlier batches' acceptances."""

from __future__ import annotations

import pyspark.sql.functions as F

from social_warner_spark.catalog import load_table
from social_warner_spark.operators.dedup import incremental_neardup_matches
from social_warner_spark.streaming.corpus import screen_and_append_stream


def _doc_stream(spark, src_dir, schema):
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )


def test_single_batch_parity_with_x51_operator(spark, sf_smoke, tmp_path):
    """One micro-batch containing the x51 'new batch' must accept exactly
    new ∖ batch-operator-matches."""
    d = load_table(spark, sf_smoke, "documents").select("doc_id", "text")
    new = d.where(F.col("doc_id") % 5 == 0)
    corpus = d.where(F.col("doc_id") % 5 != 0)

    src = str(tmp_path / "src")
    new.coalesce(1).write.parquet(src)
    accepted = str(tmp_path / "accepted")
    screen_and_append_stream(
        spark,
        _doc_stream(spark, src, new.schema),
        corpus,
        accepted,
        str(tmp_path / "ckpt"),
        threshold=0.5,
    )

    matched = {
        r["doc_id"]
        for r in incremental_neardup_matches(new, corpus, 0.5).collect()
    }
    expect = {r["doc_id"] for r in new.collect()} - matched
    got = {r["doc_id"] for r in spark.read.parquet(accepted).collect()}
    assert got == expect
    assert matched, "fixture must actually screen something out"


def test_growing_accepted_set_screens_later_batches(spark, tmp_path):
    """A batch-2 duplicate of a batch-1 ACCEPTED doc must be rejected even
    though it matches nothing in the base corpus."""
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"), (2, "one two three four five six")],
        ["doc_id", "text"],
    )
    novel1 = "red orange yellow green blue indigo"
    novel2 = "north south east west up down"
    b1 = [(10, novel1), (11, "alpha beta gamma delta epsilon zeta")]  # dup of corpus 1
    b2 = [(20, novel1), (21, novel2)]  # 20 dups batch-1's accepted doc 10

    src = str(tmp_path / "src")
    schema = corpus.schema
    spark.createDataFrame(b1, ["doc_id", "text"]).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    accepted = str(tmp_path / "accepted")
    ckpt = str(tmp_path / "ckpt")
    stream = _doc_stream(spark, src, schema)
    screen_and_append_stream(spark, stream, corpus, accepted, ckpt, threshold=0.5)

    after_b1 = {r["doc_id"] for r in spark.read.parquet(accepted).collect()}
    assert after_b1 == {10}

    spark.createDataFrame(b2, ["doc_id", "text"]).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = _doc_stream(spark, src, schema)
    screen_and_append_stream(spark, stream, corpus, accepted, ckpt, threshold=0.5)

    got = {r["doc_id"]: r["epoch"] for r in spark.read.parquet(accepted).collect()}
    assert set(got) == {10, 21}, got  # 11 dup-of-corpus, 20 dup-of-accepted
    assert got[10] != got[21], "acceptances must carry their epoch"


def test_cms_stream_epochs_merge_to_batch_sketch(spark, tmp_path):
    """Stream the docs in several micro-batches; the epoch-merged sketch
    must equal the batch sketch over the whole corpus EXACTLY (CMS cells
    are additive), and so must every heavy-hitter estimate."""
    import pyspark.sql.functions as F

    from social_warner_spark.functions.text import tokens
    from social_warner_spark.operators.sketch import cms_cells
    from social_warner_spark.streaming.corpus import (
        cms_cells_stream,
        merged_cms_cells,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .limit(90)
    )
    src = str(tmp_path / "src")
    docs.repartition(3).write.parquet(src)

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    cells_path = str(tmp_path / "cells")
    cms_cells_stream(
        spark, stream, cells_path, str(tmp_path / "ckpt"), depth=4, width=64
    )

    # >1 epoch actually ran (else the merge claim is untested)
    epochs = spark.read.parquet(cells_path).select("epoch").distinct().count()
    assert epochs >= 2, epochs

    merged = {
        (r.r, r.bucket): r.cnt
        for r in merged_cms_cells(spark, cells_path).collect()
    }
    tok = docs.select(F.explode(tokens(F.col("text"))).alias("token"))
    batch = {(r.r, r.bucket): r.cnt for r in cms_cells(tok, "token", 4, 64).collect()}
    assert merged == batch
