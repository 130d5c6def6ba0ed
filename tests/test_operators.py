"""Fixture-driven unit tests per operator (SURVEY.md §5 item 3 + FIXTURES.md §C)."""

from __future__ import annotations

import datetime as dt

import pytest

import pyspark.sql.functions as F

from social_warner_spark.operators import (
    cast_with_fill,
    eval_date_macro,
    project_columns,
    sanitize_column_names,
    scrub_sentinel_rows,
    union_pages,
)
from social_warner_spark.operators.nested import dynamic_pivot_map, parse_kv_list


def test_scrub_sentinel_positions(spark):
    df = spark.createDataFrame(
        [
            (1, "ok", "x"),
            (2, "unauthorized", "y"),       # sentinel col 1
            (3, "z", "unauthorized"),        # sentinel col N
            (4, "unauthorized", "unauthorized"),  # all-sentinel
            (5, None, None),                 # nulls survive
        ],
        "id int, a string, b string",
    )
    assert sorted(r.id for r in scrub_sentinel_rows(df).collect()) == [1, 5]


def test_scrub_ignores_non_string_columns(spark):
    df = spark.createDataFrame([(1, 10), (2, 20)], "id int, v int")
    assert scrub_sentinel_rows(df).count() == 2


def test_cast_with_fill_semantics(spark):
    df = spark.createDataFrame(
        [("42", "3.14", "2024-01-02 03:04:05", "s1"),
         ("abc", "junk", "2024-13-99", None),
         ("", None, None, "s3"),
         (None, "2.5", "2024-06-30", "unq")],
        "i string, f string, d string, s string",
    )
    out = cast_with_fill(
        df, {"i": "int64", "f": "float64", "d": "datetime64[ns]", "s": "string"}
    ).collect()
    assert [r.i for r in out] == [42, 0, 0, 0]
    assert [r.f for r in out] == [3.14, 0.0, 0.0, 2.5]
    assert out[0].d == dt.datetime(2024, 1, 2, 3, 4, 5)
    assert out[1].d is None and out[2].d is None  # invalid date → NULL
    assert [r.s for r in out] == ["s1", None, "s3", "unq"]
    types = dict(cast_with_fill(df, {"i": "int64", "f": "float64"}).dtypes)
    assert types["i"] == "bigint" and types["f"] == "double"


def test_cast_with_fill_int64_parses_like_pandas_to_numeric(spark):
    """int64 follows pd.to_numeric(errors="coerce").fillna(0).astype("int64"):
    decimal and exponent strings truncate toward zero instead of zeroing."""
    vals = ["1.5", "3.0", "1e3", "-2.7", " 7 ", "abc", None, "NaN", "42"]
    df = spark.createDataFrame([(v,) for v in vals], "i string")
    got = [r.i for r in cast_with_fill(df, {"i": "int64"}).collect()]
    assert got == [1, 3, 1000, -2, 7, 0, 0, 0, 42]


def test_cast_unknown_dtype_raises(spark):
    df = spark.createDataFrame([("1",)], "x string")
    with pytest.raises(ValueError, match="unsupported config dtype"):
        cast_with_fill(df, {"x": "complex128"})


def test_projection_order(spark):
    df = spark.createDataFrame([(1, 2, 3)], "a int, b int, c int")
    assert project_columns(df, ["c", "a"]).columns == ["c", "a"]


def test_sanitize_column_names(spark):
    df = spark.createDataFrame([(1,)], ["x"]).select(
        F.col("x").alias("lfm.fact.date_str")
    )
    assert sanitize_column_names(df).columns == ["lfm&fact&date_str"]


def test_union_pages_aligns_missing_columns(spark):
    p1 = spark.createDataFrame([(1, "a")], "id int, x string")
    p2 = spark.createDataFrame([(2,)], "id int")  # new page lacks x
    out = union_pages([p1, p2]).orderBy("id").collect()
    assert out[1].x is None and len(out) == 2


# --- A4 date macro -----------------------------------------------------------

ANCHOR = dt.date(2024, 1, 1)


def test_macro_ndays_ago():
    assert eval_date_macro("{{nDaysAgo 0}}", ANCHOR) == "2024-01-01"
    assert eval_date_macro("{{nDaysAgo 365}}", ANCHOR) == "2023-01-01"
    assert eval_date_macro("{{ nDaysAgo  7 }}", ANCHOR) == "2023-12-25"


def test_macro_literal_passthrough():
    assert eval_date_macro("2024-06-30", ANCHOR) == "2024-06-30"


def test_macro_malformed_raises():
    # deviation from the reference (returns None, data_extract.py:122): we raise
    with pytest.raises(ValueError):
        eval_date_macro("{{nDaysAgo soon}}", ANCHOR)
    # an N reaching before year 1 is a bad macro too, not an OverflowError
    for huge in ("{{nDaysAgo 1000000}}", "{{nDaysAgo 99999999999}}"):
        with pytest.raises(ValueError, match="unparseable date macro"):
            eval_date_macro(huge, ANCHOR)


# --- A8/A9 nested parse + pivot ---------------------------------------------


def _kv_fixture(spark):
    return spark.createDataFrame(
        [
            (1, ["color: red", "color: blue", "size: L"]),  # dup keys
            (2, ["garbled"]),                                # no colon
            (3, []),                                         # empty
            (4, None),                                       # non-list
            (5, ["a b: c d"]),                               # space in key
        ],
        "id int, tags array<string>",
    )


def test_parse_kv_list_reference_semantics(spark):
    out = {
        r.id: dict(r.m)
        for r in _kv_fixture(spark)
        .select("id", parse_kv_list(F.col("tags"), "t").alias("m"))
        .collect()
    }
    assert out[1] == {"t.color": "red//blue", "t.size": "L"}  # dup join '//'
    assert out[2] == {"t.untitled": "garbled"}                # malformed key
    assert out[3] == {} and out[4] == {}                      # empty/non-list
    assert out[5] == {"t.a_b": "c d"}                         # space → _


def test_dynamic_pivot_absent_keys_null(spark):
    parsed = _kv_fixture(spark).select(
        "id", parse_kv_list(F.col("tags"), "t").alias("m")
    )
    piv = dynamic_pivot_map(parsed, "m")
    assert piv.columns == ["id", "t.a_b", "t.color", "t.size", "t.untitled"]
    rows = {r.id: r for r in piv.collect()}
    assert rows[1]["t.color"] == "red//blue" and rows[1]["t.a_b"] is None
    assert rows[3]["t.color"] is None


def test_dynamic_pivot_zero_keys(spark):
    df = spark.createDataFrame([(1,)], "id int").withColumn(
        "m", F.create_map().cast("map<string,string>")
    )
    assert dynamic_pivot_map(df, "m").columns == ["id"]


def test_dynamic_pivot_explicit_keys_skips_discovery(spark):
    parsed = _kv_fixture(spark).select(
        "id", parse_kv_list(F.col("tags"), "t").alias("m")
    )
    piv = dynamic_pivot_map(parsed, "m", keys=["t.color", "t.missing"])
    assert piv.columns == ["id", "t.color", "t.missing"]
    assert all(r["t.missing"] is None for r in piv.collect())


# --- round-2 operators: intervals, expectations, KMV, triangles --------------


def test_coalesce_intervals_nested_interval_does_not_split(spark):
    """A long interval fully containing later short ones must produce ONE
    island — the running-max frame handles what a lag-1 comparison would
    wrongly split (short B ends before long A, then C starts after B's
    end but inside A's)."""
    from social_warner_spark.operators.timeseries import coalesce_intervals

    rows = [
        (1, 1, 0.0, 100.0),   # long umbrella
        (1, 2, 10.0, 20.0),   # nested short
        (1, 3, 30.0, 40.0),   # after row 2's end, still inside row 1
        (1, 4, 150.0, 160.0), # genuinely separate
    ]
    df = spark.createDataFrame(rows, "user_id int, event_id int, _start double, _end double")
    out = coalesce_intervals(df, "user_id", "_start", "_end", ("_start", "event_id"))
    islands = {r.event_id: r._island for r in out.collect()}
    assert islands[1] == islands[2] == islands[3] == 1
    assert islands[4] == 2


def test_expectations_failing_rule_reports_false(spark):
    from social_warner_spark.operators.audit import expectations

    df = spark.createDataFrame([(1, None), (2, "x")], "id int, v string")
    out = expectations(
        df,
        [
            ("v_complete", F.avg(F.col("v").isNotNull().cast("double")), 1.0),
            ("id_positive", F.avg((F.col("id") > 0).cast("double")), 1.0),
        ],
    ).collect()
    by_rule = {r.rule: r for r in out}
    assert by_rule["v_complete"].metric_value == 0.5
    assert by_rule["v_complete"].passed is False
    assert by_rule["id_positive"].passed is True


def test_kmv_estimate_within_tolerance(spark):
    """KMV with k=64 over 1000 distinct keys: the estimate must land
    within ~3/sqrt(k) relative error (≈ 0.375) of the truth — far tighter
    in practice; the loose bound keeps the test deterministic-stable."""
    from social_warner_spark.operators.sketch import kmv_estimate, kmv_sketch

    df = spark.range(1000).select(
        F.lit("g").alias("g"), F.col("id").alias("k")
    )
    sk = kmv_sketch(df, "k", "g", 64)
    est = kmv_estimate(sk, 64, "g").collect()[0].est_distinct
    assert abs(est - 1000) / 1000 < 0.375, est


def test_kmv_small_group_is_exact(spark):
    from social_warner_spark.operators.sketch import kmv_estimate, kmv_sketch

    df = spark.range(10).select(F.lit("g").alias("g"), F.col("id").alias("k"))
    est = kmv_estimate(kmv_sketch(df, "k", "g", 64), 64, "g").collect()[0]
    assert est.est_distinct == 10.0


def _value_cells(df, col):
    """Exact (v, c) count cells of one column."""
    return df.groupBy(F.col(col).alias("v")).agg(F.count("*").alias("c"))


def test_two_sample_ks_hand_checked(spark):
    """a={1,2}, b={2,3}: F_a=(.5,1,1), F_b=(0,.5,1) → KS=0.5; and a
    distribution compared with itself gives KS=0."""
    from social_warner_spark.operators.drift import two_sample_ks

    a = _value_cells(spark.createDataFrame([(1,), (2,)], ["x"]), "x")
    b = _value_cells(spark.createDataFrame([(2,), (3,)], ["x"]), "x")
    r = two_sample_ks(a, b).first()
    assert r["ks"] == 0.5 and r["n_a"] == 2 and r["n_b"] == 2
    same = two_sample_ks(a, a).first()
    assert same["ks"] == 0.0 and not same["drifted"]


def test_shifted_distribution_flags_drift(spark):
    """Cells of a distribution shifted far from the baseline, built as two
    halves and merged by summation, equal the cells of the whole and
    exceed the critical value with KS = 1 (disjoint supports)."""
    from social_warner_spark.operators.drift import merge_cells, two_sample_ks

    base = _value_cells(
        spark.range(0, 300).select((F.col("id") % 20 + 10).alias("n")), "n"
    )
    shifted = spark.range(0, 300).select("id", (F.col("id") % 20 + 40).alias("n"))
    merged = merge_cells(
        _value_cells(shifted.where(F.col("id") < 150), "n").unionAll(
            _value_cells(shifted.where(F.col("id") >= 150), "n")
        )
    )
    whole = _value_cells(shifted, "n")
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, whole.collect()))
    r = two_sample_ks(merged, base).first()
    assert r["drifted"] and r["ks"] == 1.0


def test_triangle_count_known_graph(spark):
    """K4 minus one edge has exactly 2 triangles; the isolated extra edge
    adds none."""
    from social_warner_spark.operators.graph import triangle_count

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (5, 6)], "src int, dst int"
    )
    row = triangle_count(edges).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_triangles) == (6, 6, 2)
