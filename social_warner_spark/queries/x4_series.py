"""Fourth extension batch: sketch-pruned joins, time-series gap-fill,
stratified splits, BM25 search, sessionization, outliers, fuzzy matching,
and fixed-iteration PageRank.

Everything here follows the established determinism protocol
(queries/__init__ docstring): md5-derived randomness, fixed evaluation
shapes for float arithmetic, 6dp rounding on computed doubles, and
identical column aliases in both engines.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from social_warner_spark.queries.common import (
    T,
    TS_FMT_MICRO_DUCK,
    TS_FMT_MICRO_SPARK,
    TS_FMT_DUCK,
    TS_FMT_SPARK,
    r2,
    r6,
)

#: x32 — dimension selectivity: ~1% of orders at every SF (o_totalprice
#: is uniform-ish below its 500k cap in the driver testdata).
BLOOM_DIM_MIN_TOTAL = 494000
#: x35 — fixed query; mid-frequency corpus vocabulary.
BM25_TERMS = ["spark", "hash", "window"]
BM25_TOPK = 20
#: x36 — session gap.
SESSION_GAP_MIN = 30
#: x37 — |z| threshold (events.value is heavy-right-tailed; z reaches ~8).
Z_THRESHOLD = 2.5
#: x38 — prefix length / edit-distance cap / length-bucket width.
FUZZY_PREFIX = 40
FUZZY_MAXDIST = 12
FUZZY_BUCKET = 20
#: x39 — PageRank damping and iteration count.
PR_ITERS = 3


def x32_bloom_prune_join(spark, sf_dir):
    """Fact-table aggregation over a selective dim join, with the fact
    side pre-pruned by an engine-portable relational bloom filter
    (operators/sketch.py) — k broadcast semi-joins, zero fact shuffles
    before the join.  False positives are removed by the real join, so
    the result (and the oracle) is exactly the plain join's."""
    from social_warner_spark.operators.sketch import bloom_filter_table, bloom_prune

    orders = T(spark, sf_dir, "orders")
    li = T(spark, sf_dir, "lineitem")
    dim = orders.where(F.col("o_totalprice") > BLOOM_DIM_MIN_TOTAL).select("o_orderkey")
    positions = bloom_filter_table(dim, "o_orderkey", k=3)
    pruned = bloom_prune(li, "l_orderkey", positions, k=3)
    return (
        pruned.join(dim, pruned["l_orderkey"] == dim["o_orderkey"])
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("cnt"), F.sum("l_quantity").alias("sum_qty"))
    )


def x33_gapfill_interpolate(spark, sf_dir):
    """Hypertable-style gap-fill: per-minute average of click values on
    the full minute grid, linear interpolation across gaps (the
    time_bucket_gapfill + interpolate idiom)."""
    from social_warner_spark.operators.timeseries import gapfill_interpolate

    e = T(spark, sf_dir, "events").where(F.col("event_type") == "click")
    # Exact per-minute average: value is a 2dp decimal, so SUM over the
    # 100x-scaled integers is exact and order-insensitive in BOTH
    # engines (a float AVG is summation-order noise that the oracle's
    # parallel aggregation even flips run-to-run); the division below
    # is then a single correctly-rounded double op — bit-identical.
    per_min = e.groupBy(F.date_trunc("minute", "ts").alias("minute")).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("sv"),
        F.count("*").alias("n"),
    ).select(
        "minute",
        (F.col("sv").cast("double") / (F.lit(100.0) * F.col("n"))).alias("v"),
    )
    out = gapfill_interpolate(per_min, ts_col="minute", val_col="v")
    return out.select(
        F.date_format("minute", TS_FMT_SPARK).alias("minute"),
        "v_filled",
        "is_gap",
    )


def x34_stratified_split(spark, sf_dir):
    """Deterministic train/val/test split (80/10/10 by md5 range) plus a
    per-language stratified downsample flag (en kept at 25%, other
    languages at 50%) — the reproducible sampling primitives of a corpus
    pipeline.  Pure map, zero shuffle, any engine selects the same rows."""
    d = T(spark, sf_dir, "documents")
    h_split = F.substring(
        F.md5(F.concat_ws("|", F.col("doc_id").cast("string"), F.col("lang"))), 1, 2
    )
    h_samp = F.substring(
        F.md5(
            F.concat_ws("|", F.lit("s"), F.col("doc_id").cast("string"), F.col("lang"))
        ),
        1,
        2,
    )
    split = (
        F.when(h_split < "cc", "train").when(h_split < "e6", "val").otherwise("test")
    )
    thresh = F.when(F.col("lang") == "en", "40").otherwise("80")
    return d.select(
        "doc_id",
        "lang",
        split.alias("split"),
        (h_samp < thresh).cast("int").alias("in_sample"),
    )


def x35_bm25_search(spark, sf_dir):
    """Okapi BM25 keyword search (operators/search.py): top-20 docs for a
    fixed 3-term query, ranked on the 6dp-rounded score."""
    from social_warner_spark.operators.search import bm25_scores

    scores = bm25_scores(T(spark, sf_dir, "documents"), BM25_TERMS)
    # orderBy+limit plans TakeOrderedAndProject (per-partition heaps);
    # the rank window then touches only the k survivors — a global
    # row_number filter would single-partition-sort every scored doc
    w = Window.orderBy(F.desc("score"), "doc_id")
    return (
        scores.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(BM25_TOPK)
        .withColumn("rk", F.row_number().over(w))
        .select("doc_id", "score", "rk")
    )


def x36_sessionize(spark, sf_dir):
    """Gap-based sessionization (operators/timeseries.py): per-user
    sessions split at >30 min of inactivity, with per-session stats.
    The explicit-gap twin of the s3 session_window aggregation."""
    from social_warner_spark.operators.timeseries import sessionize

    s = sessionize(T(spark, sf_dir, "events"), gap_minutes=SESSION_GAP_MIN)
    return s.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.date_format(F.min("ts"), TS_FMT_MICRO_SPARK).alias("first_ts"),
        F.date_format(F.max("ts"), TS_FMT_MICRO_SPARK).alias("last_ts"),
        r2(F.sum("value")).alias("sum_value"),
    )


def x37_zscore_outliers(spark, sf_dir):
    """Per-group z-score outlier detection: events whose value is more
    than 2.5 sample standard deviations from their event_type's mean.
    Stats reduce to one tiny broadcast row per group — the fact scan
    never shuffles."""
    e = T(spark, sf_dir, "events")
    stats = e.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sd")
    )
    z = r6((F.col("value") - F.col("mu")) / F.col("sd"))
    return (
        e.join(F.broadcast(stats), "event_type")
        .select("event_id", "event_type", "value", z.alias("z"))
        .where(F.abs(F.col("z")) > Z_THRESHOLD)
    )


def x38_fuzzy_pairs(spark, sf_dir):
    """Edit-distance fuzzy matching with blocking: candidate pairs share
    (lang, n_chars//20) — the classic blocking key that keeps the
    comparison count linear-ish — then exact Levenshtein ≤ 12 on the
    40-char prefixes.  Levenshtein is integer-exact, so unlike most
    fuzzy-match systems the whole output is oracle-checkable."""
    d = T(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.substring("text", 1, FUZZY_PREFIX).alias("pfx"),
        F.floor(F.col("n_chars") / FUZZY_BUCKET).alias("blk"),
    )
    a, b = d.alias("a"), d.alias("b")
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            F.levenshtein(F.col("a.pfx"), F.col("b.pfx")).alias("dist"),
        )
        .where(F.col("dist") <= FUZZY_MAXDIST)
    )


def x39_pagerank(spark, sf_dir):
    """Fixed-iteration PageRank (operators/graph.py) over the undirected
    customer↔supplier order graph: edge (c, s) iff customer c has an
    order containing supplier s's line item.  3 iterations on the scaled
    recursion; the oracle unrolls the identical iterations as CTEs."""
    from social_warner_spark.operators.graph import pagerank_fixed

    orders = T(spark, sf_dir, "orders")
    li = T(spark, sf_dir, "lineitem")
    cust = T(spark, sf_dir, "customer").select(
        F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias("node")
    )
    supp = T(spark, sf_dir, "supplier").select(
        F.concat(F.lit("s"), F.col("s_suppkey").cast("string")).alias("node")
    )
    nodes = cust.unionAll(supp)
    e0 = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    edges = e0.unionAll(e0.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    return pagerank_fixed(nodes, edges, iters=PR_ITERS)


QUERIES = {
    "x32_bloom_prune_join": x32_bloom_prune_join,
    "x33_gapfill_interpolate": x33_gapfill_interpolate,
    "x34_stratified_split": x34_stratified_split,
    "x35_bm25_search": x35_bm25_search,
    "x36_sessionize": x36_sessionize,
    "x37_zscore_outliers": x37_zscore_outliers,
    "x38_fuzzy_pairs": x38_fuzzy_pairs,
    "x39_pagerank": x39_pagerank,
}


def _bm25_tf(term: str) -> str:
    return (
        f"CAST(len(list_filter(string_split(trim(text), ' '), "
        f"x -> x = '{term}')) AS DOUBLE)"
    )


def _bm25_term_score(i: int) -> str:
    tf, df = f"tf_{i}", f"df_{i}"
    return (
        f"CASE WHEN {tf} > 0 THEN ROUND("
        f"ln(1.0 + (n_docs - {df} + 0.5) / ({df} + 0.5))"
        f" * {tf} * 2.2 / ({tf} + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)), 6)"
        f" ELSE 0.0 END"
    )


_BM25_ORACLE = f"""
    WITH staged AS (
        SELECT doc_id,
               CAST(len(string_split(trim(text), ' ')) AS DOUBLE) AS dl,
               {", ".join(f"{_bm25_tf(t)} AS tf_{i}" for i, t in enumerate(BM25_TERMS))}
        FROM documents
    ), stats AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl,
               {", ".join(f"CAST(SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_{i}" for i in range(len(BM25_TERMS)))}
        FROM staged
    ), scored AS (
        SELECT doc_id,
               ROUND({" + ".join(_bm25_term_score(i) for i in range(len(BM25_TERMS)))}, 6) AS score
        FROM staged, stats
    ), ranked AS (
        SELECT doc_id, score,
               CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INT) AS rk
        FROM scored WHERE score > 0
    )
    SELECT doc_id, score, rk FROM ranked WHERE rk <= {BM25_TOPK}
"""

_PR_ITER_TMPL = """
    , r{k} AS (
        SELECT n.node,
               ROUND(CAST(0.15 AS DOUBLE)
                     + CAST(0.85 AS DOUBLE) * COALESCE(SUM(p.pr / o.deg), CAST(0.0 AS DOUBLE)), 6) AS pr
        FROM nodes n
        LEFT JOIN edges e ON e.dst = n.node
        LEFT JOIN r{prev} p ON p.node = e.src
        LEFT JOIN outdeg o ON o.src = e.src
        GROUP BY n.node
    )"""

_PR_ORACLE = (
    """
    WITH nodes AS (
        SELECT 'c' || c_custkey AS node FROM customer
        UNION ALL
        SELECT 's' || s_suppkey AS node FROM supplier
    ), e0 AS (
        SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ), edges AS (
        SELECT src, dst FROM e0
        UNION ALL
        SELECT dst AS src, src AS dst FROM e0
    ), outdeg AS (
        SELECT src, COUNT(*) AS deg FROM edges GROUP BY src
    ), r0 AS (
        SELECT node, CAST(1.0 AS DOUBLE) AS pr FROM nodes
    )"""
    + "".join(_PR_ITER_TMPL.format(k=k, prev=k - 1) for k in range(1, PR_ITERS + 1))
    + f"""
    SELECT node, pr FROM r{PR_ITERS}
"""
)

ORACLES = {
    "x32_bloom_prune_join": f"""
        SELECT l_returnflag, COUNT(*) AS cnt, SUM(l_quantity) AS sum_qty
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_totalprice > {BLOOM_DIM_MIN_TOTAL}
        GROUP BY l_returnflag
    """,
    "x33_gapfill_interpolate": f"""
        WITH per_min AS (
            SELECT date_trunc('minute', ts) AS m,
                   CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS DOUBLE)
                       / (CAST(100.0 AS DOUBLE) * COUNT(*)) AS v
            FROM events WHERE event_type = 'click' GROUP BY 1
        ), bounds AS (
            SELECT MIN(m) AS lo, MAX(m) AS hi FROM per_min
        ), grid AS (
            SELECT unnest(generate_series(lo, hi, INTERVAL 1 MINUTE)) AS m FROM bounds
        ), j AS (
            SELECT g.m, p.v FROM grid g LEFT JOIN per_min p ON p.m = g.m
        ), fill AS (
            SELECT m, v,
                   LAST_VALUE(v IGNORE NULLS) OVER
                       (ORDER BY m ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
                   FIRST_VALUE(v IGNORE NULLS) OVER
                       (ORDER BY m ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
                   CAST(epoch(LAST_VALUE(CASE WHEN v IS NOT NULL THEN m END IGNORE NULLS) OVER
                       (ORDER BY m ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS BIGINT) AS pt,
                   CAST(epoch(FIRST_VALUE(CASE WHEN v IS NOT NULL THEN m END IGNORE NULLS) OVER
                       (ORDER BY m ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) AS BIGINT) AS nt,
                   CAST(epoch(m) AS BIGINT) AS ct
            FROM j
        )
        SELECT strftime(m, '{TS_FMT_DUCK}') AS minute,
               ROUND(CASE WHEN v IS NOT NULL THEN v
                          ELSE pv + (nv - pv) * (CAST(ct - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE))
                     END + 1e-9, 6) AS v_filled,
               CASE WHEN v IS NULL THEN 1 ELSE 0 END AS is_gap
        FROM fill
    """,
    "x34_stratified_split": """
        SELECT doc_id, lang,
               CASE WHEN substr(md5(doc_id || '|' || lang), 1, 2) < 'cc' THEN 'train'
                    WHEN substr(md5(doc_id || '|' || lang), 1, 2) < 'e6' THEN 'val'
                    ELSE 'test' END AS split,
               CAST(substr(md5('s|' || doc_id || '|' || lang), 1, 2)
                    < (CASE WHEN lang = 'en' THEN '40' ELSE '80' END) AS INT) AS in_sample
        FROM documents
    """,
    "x35_bm25_search": _BM25_ORACLE,
    "x36_sessionize": f"""
        WITH flagged AS (
            SELECT user_id, ts, event_id, value,
                   CASE WHEN LAG(ts) OVER w IS NULL
                             OR ts > LAG(ts) OVER w + INTERVAL {SESSION_GAP_MIN} MINUTES
                        THEN 1 ELSE 0 END AS ns
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sess AS (
            SELECT user_id, ts, value,
                   CAST(SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS BIGINT)
                       AS session_id
            FROM flagged
        )
        SELECT user_id, session_id, COUNT(*) AS n_events,
               strftime(MIN(ts), '{TS_FMT_MICRO_DUCK}') AS first_ts,
               strftime(MAX(ts), '{TS_FMT_MICRO_DUCK}') AS last_ts,
               ROUND(SUM(value), 2) AS sum_value
        FROM sess GROUP BY user_id, session_id
    """,
    "x37_zscore_outliers": f"""
        WITH stats AS (
            SELECT event_type, AVG(value) AS mu, stddev_samp(value) AS sd
            FROM events GROUP BY event_type
        )
        SELECT event_id, e.event_type, value, ROUND((value - mu) / sd, 6) AS z
        FROM events e JOIN stats s ON e.event_type = s.event_type
        WHERE ABS(ROUND((value - mu) / sd, 6)) > {Z_THRESHOLD}
    """,
    "x38_fuzzy_pairs": f"""
        WITH d AS (
            SELECT doc_id, lang, substring(text, 1, {FUZZY_PREFIX}) AS pfx,
                   n_chars // {FUZZY_BUCKET} AS blk
            FROM documents
        )
        SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
               CAST(levenshtein(a.pfx, b.pfx) AS INT) AS dist
        FROM d a JOIN d b
          ON a.lang = b.lang AND a.blk = b.blk AND a.doc_id < b.doc_id
        WHERE levenshtein(a.pfx, b.pfx) <= {FUZZY_MAXDIST}
    """,
    "x39_pagerank": _PR_ORACLE,
}
