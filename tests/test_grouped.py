"""applyInPandas and UDTF operator tests."""

from __future__ import annotations

import pytest

import pyspark.sql.functions as F

from social_warner_spark.catalog import load_table
from social_warner_spark.operators.grouped import (
    HAS_UDTF,
    ParseKVListUDTF,
    user_session_features,
)


def test_user_session_features_matches_window_sql(spark, sf_smoke):
    """Grouped-map results must agree with the equivalent window-expression
    computation (cross-check, since applyInPandas is Python-side)."""
    ev = load_table(spark, sf_smoke, "events")
    out = {r.user_id: r for r in user_session_features(ev).collect()}

    # independent computation via window expressions
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.withColumn(
        "gap_s",
        F.col("ts").cast("timestamp").cast("double")
        - F.lag(F.col("ts").cast("timestamp").cast("double")).over(w),
    )
    expected = (
        gaps.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            (F.sum((F.col("gap_s") >= 600).cast("int")) + 1).alias("n_sessions"),
            F.round(F.avg("gap_s"), 6).alias("mean_gap_seconds"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .collect()
    )
    assert len(expected) == len(out)
    for e in expected:
        g = out[e.user_id]
        assert g.n_events == e.n_events
        assert g.n_sessions == e.n_sessions
        assert abs(g.total_value - e.total_value) < 1e-6
        assert abs((g.mean_gap_seconds or 0) - (e.mean_gap_seconds or 0)) < 1e-4


@pytest.mark.skipif(not HAS_UDTF, reason="Python UDTF requires Spark 4")
def test_parse_kv_udtf(spark):
    spark.udtf.register("parse_kv", ParseKVListUDTF)
    rows = spark.sql(
        "SELECT key, value FROM parse_kv(array('genre: drama', 'oops', 'a b: c'))"
    ).collect()
    got = {(r.key, r.value) for r in rows}
    assert got == {("genre", "drama"), ("untitled", "oops"), ("a_b", "c")}
