"""Second extension batch: as-of join, UDAF surface, exact percentiles.

Split from x_series.py only to keep modules reviewable; registered through
queries/__init__ like every other series.
"""

from __future__ import annotations

import pandas as pd

import pyspark.sql.functions as F

from social_warner_spark.operators.asof import asof_join
from social_warner_spark.queries.common import T, TS_FMT_MICRO_DUCK, TS_FMT_MICRO_SPARK, r6


def x10_asof_join(spark, sf_dir):
    """As-of join: for each 'click' event, the most recent 'purchase' value
    by the same user at or before the click (union-and-carry-forward plan;
    see operators/asof.py).  Oracle: DuckDB's native ASOF JOIN."""
    e = T(spark, sf_dir, "events")
    clicks = e.where(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = e.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("purchase_value")
    )
    joined = asof_join(clicks, purchases, on="user_id")
    return joined.select(
        "event_id",
        "user_id",
        F.date_format("ts", TS_FMT_MICRO_SPARK).alias("click_ts"),
        F.col("purchase_value_asof").alias("last_purchase_value"),
    )


def x11_grouped_pandas_udaf(spark, sf_dir):
    """UDAF surface: quantity-weighted average price per return flag as an
    Arrow grouped-agg pandas UDF (the sanctioned custom-aggregate path —
    partial aggregation is not available to Python UDAFs, so groups ship
    whole; keep cardinality high / groups bounded at scale)."""

    @F.pandas_udf("double")
    def wavg(price: pd.Series, qty: pd.Series) -> float:
        return float((price * qty).sum() / qty.sum())

    li = T(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        r6(wavg("l_extendedprice", "l_quantity")).alias("weighted_avg_price")
    )


def x12_percentiles(spark, sf_dir):
    """Exact interpolated percentiles (the anchor for approx_percentile,
    which is tolerance-tested in tests/test_approx.py)."""
    li = T(spark, sf_dir, "lineitem")
    pct = F.percentile("l_extendedprice", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)))
    return li.groupBy("l_returnflag").agg(
        r6(F.element_at(pct, 1)).alias("p25"),
        r6(F.element_at(pct, 2)).alias("p50"),
        r6(F.element_at(pct, 3)).alias("p75"),
    )


def x13_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS (beyond rollup/cube): totals by status, by
    priority, and overall, in one aggregation pass (SQL surface)."""
    from social_warner_spark.catalog import load_table

    load_table(spark, sf_dir, "orders").createOrReplaceTempView("_orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               ROUND(SUM(o_totalprice), 2) AS sum_totalprice,
               COUNT(*) AS cnt
        FROM _orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


def x14_time_rollup(spark, sf_dir):
    """Hypertable-style multi-granularity rollup (continuous-aggregate
    pattern): hour and day buckets in one result, tagged by granularity.
    At scale each granularity materializes incrementally from the finer
    one; here both derive from the same scan and union cheaply."""
    e = T(spark, sf_dir, "events")

    def bucketed(gran: str, trunc_unit: str):
        return (
            e.groupBy(F.date_trunc(trunc_unit, "ts").alias("bucket"), "event_type")
            .agg(r6(F.sum("value")).alias("sum_value"), F.count("*").alias("cnt"))
            .select(
                F.lit(gran).alias("granularity"),
                F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
                "event_type",
                "sum_value",
                "cnt",
            )
        )

    return bucketed("hour", "hour").unionByName(bucketed("day", "day"))


def x16_corpus_prep(spark, sf_dir):
    """Composite training-corpus prep: quality gate → exact dedup →
    near-dup prune → per-doc stats (operators/corpus.py)."""
    from social_warner_spark.operators.corpus import prepare_corpus

    prepared, _ = prepare_corpus(T(spark, sf_dir, "documents"))
    return prepared


QUERIES = {
    "x10_asof_join": x10_asof_join,
    "x16_corpus_prep": x16_corpus_prep,
    "x11_grouped_pandas_udaf": x11_grouped_pandas_udaf,
    "x12_percentiles": x12_percentiles,
    "x13_grouping_sets": x13_grouping_sets,
    "x14_time_rollup": x14_time_rollup,
}

#: Shared CTE chain for the corpus-prep stages (quality gate → exact dedup →
#: near-dup prune); x16 selects from `kept`/`dropped` directly and
#: x3_series.x31 extends the chain with decontamination + packing.
_CORPUS_CTES = """
    WITH scored AS (
        SELECT doc_id, lang, text,
               CAST(len(string_split(trim(text), ' ')) AS INT) AS n_tokens,
               ROUND(
                 0.5 * LEAST(CAST(len(string_split(trim(text), ' ')) AS DOUBLE) / 200.0, 1.0)
               + 0.3 * (1.0 - LEAST(ABS(length(regexp_replace(text, '\\s+', '', 'g'))
                                        / GREATEST(CAST(len(string_split(trim(text), ' ')) AS DOUBLE), 1.0)
                                        - 5.0) / 5.0, 1.0))
               + 0.2 * (1.0 - length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
                              / GREATEST(CAST(length(text) AS DOUBLE), 1.0)),
               6) AS quality
        FROM documents
    ), gated AS (
        SELECT * FROM scored WHERE quality >= 0.3
    ), survivors AS (
        SELECT MIN(doc_id) AS doc_id FROM gated
        GROUP BY sha256(lower(trim(text)))
    ), kept AS (
        SELECT g.* FROM gated g JOIN survivors s ON g.doc_id = s.doc_id
    ), toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM kept
    ), sh AS (
        SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
        FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
        WHERE len(t) >= 3
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
    ), shared AS (
        SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS shared
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), dropped AS (
        SELECT DISTINCT db AS doc_id FROM shared
        JOIN sizes sa ON sa.doc_id = da
        JOIN sizes sb ON sb.doc_id = db
        WHERE ROUND(shared / (sa.sz + sb.sz - shared), 6) >= 0.8
    ), pruned AS (
        SELECT k.doc_id, k.lang, k.text, k.n_tokens, k.quality
        FROM kept k
        WHERE k.doc_id NOT IN (SELECT doc_id FROM dropped)
    )
"""

_CORPUS_ORACLE = (
    _CORPUS_CTES + "SELECT doc_id, lang, n_tokens, quality FROM pruned"
)

ORACLES = {
    "x16_corpus_prep": _CORPUS_ORACLE,
    "x10_asof_join": f"""
        WITH clicks AS (
            SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
        ), purchases AS (
            -- Tie pinned to the Spark side's documented semantic (ADVICE
            -- r9): duplicate purchases at one (user_id, ts) → greatest
            -- value tuple wins.  DuckDB's native ASOF leaves the choice
            -- among equal-ts duplicates unspecified, so pre-aggregate.
            SELECT user_id, ts, MAX(value) AS purchase_value FROM events
            WHERE event_type = 'purchase'
            GROUP BY user_id, ts
        )
        SELECT c.event_id, c.user_id,
               strftime(c.ts, '{TS_FMT_MICRO_DUCK}') AS click_ts,
               p.purchase_value AS last_purchase_value
        FROM clicks c ASOF LEFT JOIN purchases p
          ON c.user_id = p.user_id AND p.ts <= c.ts
    """,
    "x11_grouped_pandas_udaf": """
        SELECT l_returnflag,
               ROUND(SUM(l_extendedprice * l_quantity) / SUM(l_quantity), 6)
                   AS weighted_avg_price
        FROM lineitem GROUP BY l_returnflag
    """,
    "x12_percentiles": """
        SELECT l_returnflag,
               ROUND(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
               ROUND(quantile_cont(l_extendedprice, 0.50), 6) AS p50,
               ROUND(quantile_cont(l_extendedprice, 0.75), 6) AS p75
        FROM lineitem GROUP BY l_returnflag
    """,
    "x13_grouping_sets": """
        SELECT o_orderstatus, o_orderpriority,
               ROUND(SUM(o_totalprice), 2) AS sum_totalprice,
               COUNT(*) AS cnt
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
    "x14_time_rollup": """
        SELECT 'hour' AS granularity,
               strftime(DATE_TRUNC('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
               event_type, ROUND(SUM(value), 6) AS sum_value, COUNT(*) AS cnt
        FROM events GROUP BY 2, 3
        UNION ALL
        SELECT 'day' AS granularity,
               strftime(DATE_TRUNC('day', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
               event_type, ROUND(SUM(value), 6) AS sum_value, COUNT(*) AS cnt
        FROM events GROUP BY 2, 3
    """,
}
