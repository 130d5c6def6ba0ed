"""S-series — streaming window semantics, batch forms (SURVEY.md §2.d).

These run the window expressions Structured Streaming uses (`window()`,
`session_window()`), evaluated in batch so the DuckDB oracle can check
them.  The product is a request-scoped batch export, so no streaming
execution of them is kept (SURVEY.md §2.d: S4/S5 removed).
"""

from __future__ import annotations

import pyspark.sql.functions as F

from social_warner_spark.queries.common import T, TS_FMT_MICRO_DUCK, TS_FMT_MICRO_SPARK, TS_FMT_SPARK, r6


def s1_tumbling(spark, sf_dir):
    """Tumbling 1h window per event_type (stream: groupBy(window(...)))."""
    e = T(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(r6(F.sum("value")).alias("sum_value"), F.count("*").alias("cnt"))
        .select(
            F.date_format("w.start", TS_FMT_SPARK).alias("wstart"),
            "event_type",
            "sum_value",
            "cnt",
        )
    )


def s2_sliding(spark, sf_dir):
    """Sliding 1h window, 30m slide — each event lands in 2 windows."""
    e = T(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("cnt"))
        .select(F.date_format("w.start", TS_FMT_SPARK).alias("wstart"), "cnt")
    )


def s3_session(spark, sf_dir):
    """Per-user session windows, 10-minute gap (session_window works in
    batch and stream identically).  Output is (user, session stats) —
    min/max ts rendered at microsecond precision."""
    e = T(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
        .agg(
            F.count("*").alias("cnt"),
            F.min("ts").alias("_first"),
            F.max("ts").alias("_last"),
        )
        .select(
            "user_id",
            "cnt",
            F.date_format("_first", TS_FMT_MICRO_SPARK).alias("first_ts"),
            F.date_format("_last", TS_FMT_MICRO_SPARK).alias("last_ts"),
        )
    )


def s5_dedup_batch(spark, sf_dir):
    """Batch form of stateful stream dedup: deterministic survivor
    (min event_id) per (user_id, event_type) key."""
    e = T(spark, sf_dir, "events")
    return e.groupBy("user_id", "event_type").agg(F.min("event_id").alias("event_id"))


QUERIES = {
    "s1_tumbling": s1_tumbling,
    "s2_sliding": s2_sliding,
    "s3_session": s3_session,
    "s5_dedup_batch": s5_dedup_batch,
}

ORACLES = {
    "s1_tumbling": """
        SELECT strftime(DATE_TRUNC('hour', ts), '%Y-%m-%d %H:%M:%S') AS wstart,
               event_type,
               ROUND(SUM(value), 6) AS sum_value,
               COUNT(*) AS cnt
        FROM events GROUP BY 1, 2
    """,
    "s2_sliding": """
        SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS wstart, COUNT(*) AS cnt
        FROM (
            SELECT UNNEST([time_bucket(INTERVAL '30 minutes', ts),
                           time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes']) AS wstart
            FROM events
        )
        GROUP BY 1
    """,
    "s3_session": f"""
        WITH marked AS (
            SELECT user_id, ts,
                   CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                             >= INTERVAL '10 minutes'
                        OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                        THEN 1 ELSE 0 END AS new_session
            FROM events
        ), sessions AS (
            SELECT user_id, ts,
                   SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
            FROM marked
        )
        SELECT user_id, COUNT(*) AS cnt,
               strftime(MIN(ts), '{TS_FMT_MICRO_DUCK}') AS first_ts,
               strftime(MAX(ts), '{TS_FMT_MICRO_DUCK}') AS last_ts
        FROM sessions GROUP BY user_id, session_id
    """,
    "s5_dedup_batch": """
        SELECT user_id, event_type, MIN(event_id) AS event_id
        FROM events GROUP BY user_id, event_type
    """,
}
