"""Unit + plan tests for the x52–x55 corpus-hygiene operators
(per-source cap, normalization, segment dedup, int8 quantization)."""

from __future__ import annotations

import io
import contextlib

import pyspark.sql.functions as F

from social_warner_spark.functions.text import normalize_text
from social_warner_spark.operators.corpus import per_group_cap
from social_warner_spark.operators.dedup import segment_dedup
from social_warner_spark.operators.similarity import quantize_embeddings


def test_normalize_text_fixture(spark):
    rows = [
        ("a", "​hello\t  world ‌‍﻿"),
        ("b", "  already clean  "),
        ("c", "line1\r\nline2\nline3"),
        ("d", ""),
    ]
    df = spark.createDataFrame(rows, ["id", "t"]).select(
        "id", normalize_text(F.col("t")).alias("c")
    )
    got = {r["id"]: r["c"] for r in df.collect()}
    assert got == {
        "a": "hello world",
        "b": "already clean",
        "c": "line1 line2 line3",
        "d": "",
    }


def test_md5_int_matches_the_duckdb_recipe(spark):
    """md5_int is the Spark side of every oracle's
    CAST(('0x' || substr(md5(k), 1, n)) AS UBIGINT)."""
    import duckdb
    import pytest

    from social_warner_spark.functions.text import md5_int

    keys = ["", "0", "doc|42", "naïve café ☃ 東京", "x" * 1000]
    widths = (4, 8, 12, 15)
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    got = {
        r["k"]: tuple(r[1:])
        for r in df.select("k", *[md5_int(F.col("k"), n) for n in widths]).collect()
    }
    cols = ", ".join(
        f"CAST(('0x' || substr(md5(k), 1, {n})) AS UBIGINT)" for n in widths
    )
    con = duckdb.connect()
    want = {
        k: tuple(con.execute(f"SELECT {cols} FROM (SELECT ?::VARCHAR AS k)", [k]).fetchone())
        for k in keys
    }
    assert got == want
    assert dict(df.select("k", md5_int(F.col("k"), 15).alias("h")).dtypes)["h"] == "bigint"
    for bad in (0, 16):
        with pytest.raises(ValueError, match="hex_chars"):
            md5_int(F.col("k"), bad)


def test_segment_dedup_first_occurrence_wins(spark):
    # seg_tokens=2: doc 1 = [A B][C D]; doc 2 repeats [A B] then new [E F];
    # doc 3 is entirely made of already-seen segments -> empty reassembly.
    rows = [
        (1, "A B C D"),
        (2, "A B E F"),
        (3, "C D A B"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_segs"], r["n_kept"], r["clean_text"])
        for r in segment_dedup(df, seg_tokens=2).collect()
    }
    assert got[1] == (2, 2, "A B C D")
    assert got[2] == (2, 1, "E F")
    assert got[3] == (2, 0, "")


def test_segment_dedup_ragged_tail(spark):
    # 5 tokens at seg_tokens=2 -> segments [A B][C D][E]; the short tail is
    # its own segment and does NOT collide with a full segment "E F".
    rows = [(1, "A B C D E"), (2, "E F")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_segs"], r["n_kept"], r["clean_text"])
        for r in segment_dedup(df, seg_tokens=2).collect()
    }
    assert got[1] == (3, 3, "A B C D E")
    assert got[2] == (1, 1, "E F")


def test_per_group_cap_tiebreak_and_plan(spark):
    rows = [(i, "g", 1.0 if i < 4 else 0.5) for i in range(6)]
    df = spark.createDataFrame(rows, ["id", "grp", "score"])
    kept = per_group_cap(df, "grp", "score", "id", 3).collect()
    # ties on score=1.0 break by ascending id -> ids 0,1,2
    assert sorted((r["id"], r["rk"]) for r in kept) == [(0, 1), (1, 2), (2, 3)]

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        per_group_cap(df, "grp", "score", "id", 3).explain("formatted")
    p = buf.getvalue()
    # the rank<=cap filter must push below the window sort
    assert "WindowGroupLimit" in p


def test_quantize_known_vector(spark):
    # v = [1.0, -0.5, 0.25]: scale = 127, q = [127, -64, 32] (round(-63.5)
    # is half-away-from-zero -> -64), nothing saturates except the max.
    df = spark.createDataFrame([(1, [1.0, -0.5, 0.25])], ["vec_id", "embedding"])
    r = quantize_embeddings(df).collect()[0]
    assert r["scale"] == 127.0
    assert r["n_sat"] == 1
    # recon err: q/scale = [1.0, -0.503937.., 0.251968..]
    expect = ((0.0) ** 2 + (-0.5 + 64 / 127.0) ** 2 + (0.25 - 32 / 127.0) ** 2) ** 0.5
    assert abs(r["recon_err"] - round(expect, 6)) < 1e-9


def test_quantize_zero_vector_guard(spark):
    df = spark.createDataFrame([(1, [0.0, 0.0])], ["vec_id", "embedding"])
    r = quantize_embeddings(df).collect()[0]
    assert r["n_sat"] == 0 and r["recon_err"] == 0.0


def test_quantize_plan_no_shuffle(spark):
    df = spark.createDataFrame([(1, [1.0, 2.0])], ["vec_id", "embedding"])
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        quantize_embeddings(df).explain("formatted")
    assert "Exchange" not in buf.getvalue()


def test_table_checksum_order_independent_and_sensitive(spark):
    from social_warner_spark.operators.audit import table_checksum

    rows = [(i, f"t{i}", "g1" if i % 2 else "g2") for i in range(50)]
    df = spark.createDataFrame(rows, ["id", "t", "g"]).select(
        F.col("id").cast("string").alias("id"), "t", "g"
    )
    base = {
        r["g"]: (r["n_rows"], r["xor60"])
        for r in table_checksum(df, ["id", "t", "g"], "g").collect()
    }
    shuffled = {
        r["g"]: (r["n_rows"], r["xor60"])
        for r in table_checksum(
            df.orderBy(F.desc("t")).repartition(7), ["id", "t", "g"], "g"
        ).collect()
    }
    assert base == shuffled
    changed = df.withColumn(
        "t", F.when(F.col("id") == "3", "MUTATED").otherwise(F.col("t"))
    )
    got = {
        r["g"]: (r["n_rows"], r["xor60"])
        for r in table_checksum(changed, ["id", "t", "g"], "g").collect()
    }
    assert got[None][0] == base[None][0] and got[None][1] != base[None][1]


def test_salted_join_equals_plain_join(spark):
    from social_warner_spark.operators.grouped import salted_join

    big = spark.createDataFrame(
        [(i % 3, f"v{i}") for i in range(100)], ["k", "v"]
    )
    small = spark.createDataFrame([(0, "a"), (1, "b"), (3, "d")], ["k", "s"])
    plain = sorted(
        tuple(r) for r in big.join(small, "k").select("k", "v", "s").collect()
    )
    salted = sorted(
        tuple(r)
        for r in salted_join(big, small, "k", salts=4).select("k", "v", "s").collect()
    )
    assert salted == plain and plain


def test_salted_join_spreads_hot_key(spark):
    import pyspark.sql.functions as SF
    from social_warner_spark.operators.audit import row_hash60
    from social_warner_spark.operators.grouped import salted_join

    big = spark.createDataFrame([(7, f"v{i}") for i in range(64)], ["k", "v"])
    salts = big.select(
        SF.pmod(row_hash60(SF.col("k"), SF.col("v")), SF.lit(8)).alias("s")
    )
    used = {r["s"] for r in salts.distinct().collect()}
    assert len(used) >= 4, f"hot key must spread over salts, got {used}"
    # plan joins on (k, _salt), not k alone
    small = spark.createDataFrame([(7, "x")], ["k", "s"])
    import io, contextlib

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        salted_join(big, small, "k", salts=8).explain("formatted")
    assert "_salt" in buf.getvalue()


def test_profile_table_single_scan_and_nulls(spark):
    import io, contextlib

    from social_warner_spark.operators.audit import profile_table

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a"), (4, "b")], ["id", "t"]
    )
    got = {r["col_name"]: tuple(r)[1:] for r in profile_table(df, ["id", "t"]).collect()}
    assert got["id"] == (4, 0, 4, "1", "4")
    assert got["t"] == (4, 1, 2, "a", "b")

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        profile_table(df, ["id", "t"]).explain("formatted")
    import re

    p = buf.getvalue()
    # one scan NODE (each node appears twice in formatted output: tree + detail)
    assert len(re.findall(r"\(\d+\) Scan", p)) == 1, "profiling must be one pass"
    assert "Expand" in p  # multi-distinct planned via Expand, not extra passes


def test_fk_check_orphans_and_null_fks(spark):
    from social_warner_spark.operators.audit import fk_check

    child = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 99), (4, None), (5, 98)], ["id", "fk"]
    )
    parent = spark.createDataFrame([(10,), (20,), (30,)], ["pk"])
    r = fk_check(child, parent, "fk", "pk").collect()[0]
    # NULL fk is not an orphan; 98/99 are
    assert tuple(r) == (5, 2, "98", "99")

    clean = fk_check(child.where(F.col("fk") < 50), parent, "fk", "pk").collect()[0]
    assert clean["n_orphans"] == 0 and clean["orphan_min"] is None
