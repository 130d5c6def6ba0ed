"""Ninth extension batch (x76–x92, x99): interval algebra, cluster-aware
canonical selection, character-level quality signals, a declarative
constraint suite, KMV set-algebra sketches, triangle counting, robust
outliers, cross-source overlap, BPE pair mining, hybrid RRF retrieval,
containment dedup, skew diagnosis, the corpus dataset card, held-out LM
evaluation, Zipf fitting, truncation-cost planning, the per-source
quality gate, and the dedup policy comparison report.

All follow the determinism protocol (6dp rounding, aliased columns on
both engines, order-pinned float folds); scale notes live on each query
and in COVERAGE.md / PERF.md.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from social_warner_spark.queries.common import (
    T,
    TS_FMT_MICRO_DUCK,
    TS_FMT_MICRO_SPARK,
    r6,
)
from social_warner_spark.queries.x3_series import NEARDUP_CLUSTERS_CTE

#: x76 — each event opens a fixed activity window of this many minutes;
#: overlapping windows coalesce into availability intervals.
INTERVAL_MINUTES = 10


def x76_interval_coalesce(spark, sf_dir):
    """Per-user coalesced activity intervals: every event opens a
    10-minute window; overlapping/nested windows merge into islands
    (operators/timeseries.py:coalesce_intervals — running-max frame, not
    lag-1, so nested intervals can't split an island).  One shuffle on
    user_id; the island flag, island id, and the final aggregate all
    reuse that single sort."""
    from social_warner_spark.operators.timeseries import coalesce_intervals

    e = T(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.col("ts").alias("_start"),
        (F.col("ts") + F.expr(f"INTERVAL {INTERVAL_MINUTES} MINUTES")).alias("_end"),
    )
    isl = coalesce_intervals(e, "user_id", "_start", "_end", ("_start", "event_id"))
    return isl.groupBy("user_id", F.col("_island").alias("interval_seq")).agg(
        F.count("*").alias("n_events"),
        F.date_format(F.min("_start"), TS_FMT_MICRO_SPARK).alias("start_ts"),
        F.date_format(F.max("_end"), TS_FMT_MICRO_SPARK).alias("end_ts"),
    )


def x77_cluster_survivors(spark, sf_dir):
    """Canonical-document selection per near-dup cluster: within each
    transitive cluster (x27's min-label components) keep the LONGEST
    document (tiebreak min doc_id) — the keep-best policy real dedup
    pipelines apply instead of blind min-id.  The rank and the cluster
    size share one hash partition on cluster_id (rank sorts, size is
    frame-free), so selection costs one shuffle past clustering."""
    from social_warner_spark.operators.dedup import neardup_clusters

    docs = T(spark, sf_dir, "documents")
    clusters = neardup_clusters(docs, threshold=0.5)
    j = clusters.join(docs.select("doc_id", "n_chars"), "doc_id")
    wrank = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    wsize = Window.partitionBy("cluster_id")
    ranked = j.select(
        "cluster_id",
        F.col("doc_id"),
        "n_chars",
        F.row_number().over(wrank).alias("_rn"),
        F.count("*").over(wsize).alias("cluster_size"),
    )
    return ranked.where(F.col("_rn") == 1).select(
        "cluster_id",
        F.col("doc_id").alias("survivor_doc_id"),
        "n_chars",
        "cluster_size",
    )


def x78_char_profile(spark, sf_dir):
    """Character-level document profile: Shannon entropy over the char
    distribution plus digit/upper/space composition ratios
    (functions/text.py:char_entropy, char_class_profile).  Entirely
    JVM-side narrow-map string arithmetic — no explode, no shuffle, no
    Python — the scan parallelizes embarrassingly at any corpus size."""
    from social_warner_spark.functions.text import char_class_profile, char_entropy

    d = T(spark, sf_dir, "documents").where(F.length("text") > 0)
    prof = char_class_profile(F.col("text"))
    return d.select(
        "doc_id",
        r6(char_entropy(F.col("text"))).alias("char_entropy"),
        prof["digit_ratio"].alias("digit_ratio"),
        prof["upper_ratio"].alias("upper_ratio"),
        prof["space_ratio"].alias("space_ratio"),
    )


#: x79 — the declared constraint suite over ``orders``: (rule name,
#: threshold).  Metrics are built in x79 so the rule list stays literal
#: for the SQL oracle.
EXPECTATION_THRESHOLDS = {
    "completeness_custkey": 1.0,
    "uniqueness_orderkey": 1.0,
    "nonneg_totalprice": 1.0,
    "priority_format": 0.99,
    "status_domain": 1.0,
}


def x79_expectations(spark, sf_dir):
    """Declarative data-quality gate (operators/audit.py:expectations —
    the Deequ/Great-Expectations shape): five constraints over orders
    evaluated in ONE aggregation pass (single scan; the distinct-based
    uniqueness metric adds an Expand, not a second job), unpivoted to
    long-format rule rows a publish step can gate on."""
    from social_warner_spark.operators.audit import expectations

    o = T(spark, sf_dir, "orders")
    thr = EXPECTATION_THRESHOLDS
    rules = [
        (
            "completeness_custkey",
            F.avg(F.col("o_custkey").isNotNull().cast("double")),
            thr["completeness_custkey"],
        ),
        (
            "uniqueness_orderkey",
            F.count_distinct(F.col("o_orderkey")) / F.count(F.lit(1)),
            thr["uniqueness_orderkey"],
        ),
        (
            "nonneg_totalprice",
            F.avg((F.col("o_totalprice") >= 0).cast("double")),
            thr["nonneg_totalprice"],
        ),
        (
            "priority_format",
            F.avg(F.col("o_orderpriority").rlike("^[1-5]-").cast("double")),
            thr["priority_format"],
        ),
        (
            "status_domain",
            F.avg(F.col("o_orderstatus").isin("O", "F", "P").cast("double")),
            thr["status_domain"],
        ),
    ]
    return expectations(o, rules)


QUERIES = {
    "x76_interval_coalesce": x76_interval_coalesce,
    "x77_cluster_survivors": x77_cluster_survivors,
    "x78_char_profile": x78_char_profile,
    "x79_expectations": x79_expectations,
}

ORACLES = {
    "x76_interval_coalesce": f"""
        WITH iv AS (
            SELECT user_id, event_id, ts AS s,
                   ts + INTERVAL {INTERVAL_MINUTES} MINUTE AS e
            FROM events
        ), flagged AS (
            SELECT user_id, event_id, s, e,
                   CASE WHEN s > COALESCE(
                            MAX(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                            s - INTERVAL 1 SECOND)
                        THEN 1 ELSE 0 END AS nf
            FROM iv
        ), isl AS (
            SELECT user_id, s, e,
                   CAST(SUM(nf) OVER (PARTITION BY user_id ORDER BY s, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                       AS interval_seq
            FROM flagged
        )
        SELECT user_id, interval_seq, COUNT(*) AS n_events,
               strftime(MIN(s), '{TS_FMT_MICRO_DUCK}') AS start_ts,
               strftime(MAX(e), '{TS_FMT_MICRO_DUCK}') AS end_ts
        FROM isl GROUP BY user_id, interval_seq
    """,
    "x77_cluster_survivors": NEARDUP_CLUSTERS_CTE
    + """
        , j AS (
            SELECT c.cluster_id, d.doc_id, d.n_chars
            FROM clusters c JOIN documents d USING (doc_id)
        ), ranked AS (
            SELECT cluster_id, doc_id, n_chars,
                   ROW_NUMBER() OVER (PARTITION BY cluster_id
                                      ORDER BY n_chars DESC, doc_id) AS rn,
                   COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
            FROM j
        )
        SELECT cluster_id, doc_id AS survivor_doc_id, n_chars, cluster_size
        FROM ranked WHERE rn = 1
    """,
    "x78_char_profile": """
        SELECT doc_id,
               ROUND(0.0 - list_sum(list_transform(
                   list_sort(list_distinct(string_split(text, ''))),
                   ch -> ((len(text) - len(replace(text, ch, '')))
                          / CAST(len(text) AS DOUBLE))
                         * ln((len(text) - len(replace(text, ch, '')))
                              / CAST(len(text) AS DOUBLE)))), 6) AS char_entropy,
               ROUND(len(regexp_replace(text, '[^0-9]', '', 'g'))
                     / CAST(len(text) AS DOUBLE), 6) AS digit_ratio,
               ROUND(len(regexp_replace(text, '[^A-Z]', '', 'g'))
                     / CAST(len(text) AS DOUBLE), 6) AS upper_ratio,
               ROUND(len(regexp_replace(text, '[^ ]', '', 'g'))
                     / CAST(len(text) AS DOUBLE), 6) AS space_ratio
        FROM documents WHERE len(text) > 0
    """,
    "x79_expectations": """
        WITH m AS (
            SELECT
                ROUND(AVG(CASE WHEN o_custkey IS NOT NULL THEN 1.0 ELSE 0.0 END), 6)
                    AS completeness_custkey,
                ROUND(COUNT(DISTINCT o_orderkey) / CAST(COUNT(*) AS DOUBLE), 6)
                    AS uniqueness_orderkey,
                ROUND(AVG(CASE WHEN o_totalprice >= 0 THEN 1.0 ELSE 0.0 END), 6)
                    AS nonneg_totalprice,
                ROUND(AVG(CASE WHEN regexp_matches(o_orderpriority, '^[1-5]-')
                          THEN 1.0 ELSE 0.0 END), 6) AS priority_format,
                ROUND(AVG(CASE WHEN o_orderstatus IN ('O', 'F', 'P')
                          THEN 1.0 ELSE 0.0 END), 6) AS status_domain
            FROM orders
        )
        SELECT 'completeness_custkey' AS rule, completeness_custkey AS metric_value,
               1.0 AS threshold, completeness_custkey >= 1.0 AS passed FROM m
        UNION ALL
        SELECT 'uniqueness_orderkey', uniqueness_orderkey, 1.0,
               uniqueness_orderkey >= 1.0 FROM m
        UNION ALL
        SELECT 'nonneg_totalprice', nonneg_totalprice, 1.0,
               nonneg_totalprice >= 1.0 FROM m
        UNION ALL
        SELECT 'priority_format', priority_format, 0.99,
               priority_format >= 0.99 FROM m
        UNION ALL
        SELECT 'status_domain', status_domain, 1.0,
               status_domain >= 1.0 FROM m
    """,
}


#: x80 — KMV sketch size.
KMV_K = 64
#: x80 — the two key sets whose union/intersection are estimated.
KMV_TYPES = ("click", "view")


def x80_kmv_set_sketch(spark, sf_dir):
    """KMV (k-minimum-values) distinct sketches with SET ALGEBRA
    (operators/sketch.py:kmv_sketch): sketch the click and view user
    sets, estimate each cardinality, their union ((k-1)/θ of the merged
    sketch), and their INTERSECTION (Jaccard from the merged sketch ×
    union estimate) — the set operation HLL cannot answer stably.
    Exact counts ride along as the error reference.  Everything after
    the per-group distinct is sketch-sized (≤ k rows per side); the
    merged-sketch window sorts ≤ 2k rows."""
    from social_warner_spark.operators.sketch import kmv_estimate, kmv_sketch

    e = T(spark, sf_dir, "events").where(F.col("event_type").isin(*KMV_TYPES))
    sk = kmv_sketch(e, "user_id", "event_type", KMV_K)

    est = kmv_estimate(sk, KMV_K, "event_type")
    est_a = est.where(F.col("event_type") == KMV_TYPES[0]).select(
        r6(F.col("est_distinct")).alias("est_click")
    )
    est_b = est.where(F.col("event_type") == KMV_TYPES[1]).select(
        r6(F.col("est_distinct")).alias("est_view")
    )

    merged = (
        sk.select("h")
        .distinct()
        .withColumn("rn", F.row_number().over(Window.orderBy("h")))
        .where(F.col("rn") <= KMV_K)
    )
    th = merged.agg(F.max("h").alias("theta"), F.count("*").alias("ku"))
    union_est = th.select(
        F.when(
            F.col("ku") >= KMV_K, F.lit(float(KMV_K - 1)) / F.col("theta")
        )
        .otherwise(F.col("ku").cast("double"))
        .alias("_eu")
    )

    in_both = (
        sk.groupBy("h")
        .agg(F.count_distinct("event_type").alias("nt"))
        .where(F.col("nt") == 2)
        .join(merged.select("h"), "h")
        .agg(F.count("*").alias("n_match"))
    )

    d = e.select("event_type", "user_id").distinct()
    exact = d.groupBy("event_type").agg(F.count("*").alias("c"))
    exact_a = exact.where(F.col("event_type") == KMV_TYPES[0]).select(
        F.col("c").alias("exact_click")
    )
    exact_b = exact.where(F.col("event_type") == KMV_TYPES[1]).select(
        F.col("c").alias("exact_view")
    )
    exact_i = (
        d.groupBy("user_id")
        .agg(F.count_distinct("event_type").alias("nt"))
        .where(F.col("nt") == 2)
        .agg(F.count("*").alias("exact_intersection"))
    )

    return (
        est_a.crossJoin(est_b)
        .crossJoin(union_est)
        .crossJoin(in_both)
        .crossJoin(exact_a)
        .crossJoin(exact_b)
        .crossJoin(exact_i)
        .select(
            "est_click",
            "est_view",
            r6(F.col("_eu")).alias("est_union"),
            r6(F.col("n_match") / F.lit(float(KMV_K)) * F.col("_eu")).alias(
                "est_intersection"
            ),
            "exact_click",
            "exact_view",
            "exact_intersection",
        )
    )


def x81_triangle_count(spark, sf_dir):
    """Triangle census of the part co-purchase graph (parts sharing an
    order are adjacent): operators/graph.py:triangle_count with
    compact-forward degree orientation, so the wedge self-join is
    quadratic in out-degree (≤ O(√E) by construction), never in a hub
    part's raw degree.

    r10: edge construction is within_group_pairs (one groupBy on the
    order key + narrow per-basket combination explode) instead of the
    lineitem self-join — same distinct pair set, one fewer
    lineitem-scale Exchange (basket sizes bound the collect at O(10))."""
    from social_warner_spark.operators.graph import triangle_count, within_group_pairs

    li = T(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    )
    return triangle_count(within_group_pairs(li, "ok", "pk"))


#: x82 — robust z threshold (|0.6745·(x−med)/MAD| > 3.5 ⇔ |x−med| > 3.5·MAD/0.6745).
MAD_Z = 3.5
MAD_SCALE = 0.6745


def x82_mad_outliers(spark, sf_dir):
    """Median-absolute-deviation outlier report per event_type — the
    robust twin of x37's z-score (a few extreme values cannot drag the
    threshold the way they drag a mean/stddev).  Two broadcast-stat
    passes (median, then MAD) and a counting pass; the per-group stats
    are single rows broadcast back, so the fact table never shuffles."""
    e = T(spark, sf_dir, "events").select("event_type", "value")
    med = e.groupBy("event_type").agg(F.median("value").alias("med"))
    dev = e.join(F.broadcast(med), "event_type")
    mad = dev.groupBy("event_type").agg(
        F.median(F.abs(F.col("value") - F.col("med"))).alias("mad")
    )
    flagged = dev.join(F.broadcast(mad), "event_type")
    return flagged.groupBy("event_type").agg(
        F.count("*").alias("n"),
        r6(F.first("med")).alias("med"),
        r6(F.first("mad")).alias("mad"),
        F.sum(
            (
                F.abs(F.col("value") - F.col("med"))
                > F.lit(MAD_Z) * F.col("mad") / F.lit(MAD_SCALE)
            ).cast("long")
        ).alias("n_outliers"),
    )


def x83_source_overlap(spark, sf_dir):
    """Cross-source contamination matrix: for every source pair, the
    number of shared distinct 3-gram shingles and their Jaccard — the
    audit that catches one crawl feed duplicating another before both
    are ingested.  The self-join is on shingle with source keys, so
    per-shingle cost is bounded by (#sources carrying it)² — a constant
    (sources², not corpus²) even for stopword shingles."""
    from social_warner_spark.operators.dedup import doc_shingles

    docs = T(spark, sf_dir, "documents")
    sh = (
        doc_shingles(docs, n=3)
        .join(docs.select("doc_id", "source"), "doc_id")
        .select("source", "shingle")
        .distinct()
    )
    sizes = sh.groupBy("source").agg(F.count("*").alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b"))
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        shared.join(
            F.broadcast(sizes.withColumnsRenamed({"source": "source_a", "sz": "_sa"})),
            "source_a",
        )
        .join(
            F.broadcast(sizes.withColumnsRenamed({"source": "source_b", "sz": "_sb"})),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "n_shared",
            r6(
                F.col("n_shared")
                / (F.col("_sa") + F.col("_sb") - F.col("n_shared"))
            ).alias("jaccard"),
        )
    )


QUERIES.update(
    {
        "x80_kmv_set_sketch": x80_kmv_set_sketch,
        "x81_triangle_count": x81_triangle_count,
        "x82_mad_outliers": x82_mad_outliers,
        "x83_source_overlap": x83_source_overlap,
    }
)

ORACLES.update(
    {
        "x80_kmv_set_sketch": f"""
        WITH d AS (
            SELECT DISTINCT event_type, user_id FROM events
            WHERE event_type IN ('{KMV_TYPES[0]}', '{KMV_TYPES[1]}')
        ), h AS (
            SELECT event_type,
                   ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))::BIGINT
                       / {float(16**12)} AS h
            FROM d
        ), sk AS (
            SELECT event_type, h,
                   ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn,
                   COUNT(*) OVER (PARTITION BY event_type) AS nd
            FROM h
        ), skk AS (
            SELECT * FROM sk WHERE rn <= {KMV_K}
        ), est AS (
            SELECT event_type,
                   CASE WHEN MAX(nd) >= {KMV_K} THEN {float(KMV_K - 1)} / MAX(h)
                        ELSE CAST(MAX(nd) AS DOUBLE) END AS est
            FROM skk GROUP BY event_type
        ), merged AS (
            SELECT h FROM (
                SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn
                FROM (SELECT DISTINCT h FROM skk)
            ) WHERE rn <= {KMV_K}
        ), th AS (
            SELECT MAX(h) AS theta, COUNT(*) AS ku FROM merged
        ), ue AS (
            SELECT CASE WHEN ku >= {KMV_K} THEN {float(KMV_K - 1)} / theta
                        ELSE CAST(ku AS DOUBLE) END AS eu
            FROM th
        ), m AS (
            SELECT COUNT(*) AS n_match
            FROM (
                SELECT h FROM skk GROUP BY h HAVING COUNT(DISTINCT event_type) = 2
            ) b JOIN merged USING (h)
        ), ex AS (
            SELECT event_type, COUNT(*) AS c FROM d GROUP BY event_type
        ), exi AS (
            SELECT COUNT(*) AS exact_intersection FROM (
                SELECT user_id FROM d GROUP BY user_id
                HAVING COUNT(DISTINCT event_type) = 2
            )
        )
        SELECT ROUND(ea.est, 6) AS est_click,
               ROUND(eb.est, 6) AS est_view,
               ROUND(ue.eu, 6) AS est_union,
               ROUND(m.n_match / {float(KMV_K)} * ue.eu, 6) AS est_intersection,
               exa.c AS exact_click,
               exb.c AS exact_view,
               exi.exact_intersection
        FROM est ea, est eb, ue, m, ex exa, ex exb, exi
        WHERE ea.event_type = '{KMV_TYPES[0]}' AND eb.event_type = '{KMV_TYPES[1]}'
          AND exa.event_type = '{KMV_TYPES[0]}' AND exb.event_type = '{KMV_TYPES[1]}'
    """,
        "x81_triangle_count": """
        WITH e0 AS (
            SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
            FROM lineitem a
            JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                           AND a.l_partkey < b.l_partkey
        ), deg AS (
            SELECT n, COUNT(*) AS deg FROM (
                SELECT src AS n FROM e0 UNION ALL SELECT dst FROM e0
            ) GROUP BY n
        ), wd AS (
            SELECT e0.src, e0.dst, ds.deg AS ds, dd.deg AS dd
            FROM e0 JOIN deg ds ON ds.n = e0.src JOIN deg dd ON dd.n = e0.dst
        ), o AS (
            SELECT CASE WHEN ds < dd OR (ds = dd AND src < dst) THEN src ELSE dst END AS u,
                   CASE WHEN ds < dd OR (ds = dd AND src < dst) THEN dst ELSE src END AS v,
                   CASE WHEN ds < dd OR (ds = dd AND src < dst) THEN dd ELSE ds END AS dv
            FROM wd
        ), w AS (
            SELECT o1.v AS a, o2.v AS b
            FROM o o1 JOIN o o2 ON o1.u = o2.u
                 AND (o1.dv < o2.dv OR (o1.dv = o2.dv AND o1.v < o2.v))
        ), t AS (
            SELECT COUNT(*) AS n_triangles FROM w JOIN o ON o.u = w.a AND o.v = w.b
        )
        SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
               (SELECT COUNT(*) FROM e0) AS n_edges,
               n_triangles
        FROM t
    """,
        "x82_mad_outliers": f"""
        WITH med AS (
            SELECT event_type, MEDIAN(value) AS med FROM events GROUP BY event_type
        ), dev AS (
            SELECT e.event_type, e.value, med.med
            FROM events e JOIN med USING (event_type)
        ), mad AS (
            SELECT event_type, MEDIAN(ABS(value - med)) AS mad
            FROM dev GROUP BY event_type
        )
        SELECT dev.event_type,
               COUNT(*) AS n,
               ROUND(ANY_VALUE(dev.med), 6) AS med,
               ROUND(ANY_VALUE(mad.mad), 6) AS mad,
               CAST(SUM(CASE WHEN ABS(dev.value - dev.med)
                             > {MAD_Z} * mad.mad / {MAD_SCALE}
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        FROM dev JOIN mad USING (event_type)
        GROUP BY dev.event_type
    """,
        "x83_source_overlap": """
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ), sh0 AS (
            SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
            FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
            WHERE len(t) >= 3
        ), sh AS (
            SELECT DISTINCT d.source, sh0.shingle
            FROM sh0 JOIN documents d USING (doc_id)
        ), sizes AS (
            SELECT source, COUNT(*) AS sz FROM sh GROUP BY source
        ), shared AS (
            SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_shared
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
            GROUP BY 1, 2
        )
        SELECT source_a, source_b, n_shared,
               ROUND(n_shared / CAST(sa.sz + sb.sz - n_shared AS DOUBLE), 6) AS jaccard
        FROM shared
        JOIN sizes sa ON sa.source = source_a
        JOIN sizes sb ON sb.source = source_b
    """,
    }
)


#: x84 — result size for the merge-candidate table.
BPE_TOP_PAIRS = 30
#: x85 — RRF smoothing constant (Cormack et al.'s standard 60) and the
#: per-modality candidate depth feeding the fusion.
RRF_K = 60
RRF_DEPTH = 50
RRF_TOPK = 20
#: x86 — containment threshold.
CONTAINMENT_T = 0.8


def x84_bpe_merge_pairs(spark, sf_dir):
    """One BPE-training iteration's statistics: corpus-wide frequency of
    every adjacent character pair, top-30 merge candidates.  The scale
    design is VOCAB-WEIGHTED: words are counted first (vocabulary-
    bounded relation), then pairs explode off the DISTINCT word table
    weighted by word count — the char-pair stream is ∝ vocabulary size,
    never ∝ corpus size.  Multiplicity inside a word ('aaa' → 'a a' ×2)
    is preserved by positional shingling."""
    from social_warner_spark.functions.text import shingles_from_tokens, tokens

    d = T(spark, sf_dir, "documents")
    wc = (
        d.select(F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    staged = wc.select("c", F.split(F.col("w"), "").alias("_ch"))
    pairs = staged.select(
        "c", F.explode(shingles_from_tokens(F.col("_ch"), 2)).alias("pair")
    )
    agg = pairs.groupBy("pair").agg(F.sum("c").alias("n_occurrences"))
    w = Window.orderBy(F.desc("n_occurrences"), F.asc("pair"))
    return (
        agg.withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= BPE_TOP_PAIRS)
        .select("pair", "n_occurrences", "rk")
    )


def x85_hybrid_rrf_search(spark, sf_dir):
    """Hybrid retrieval with reciprocal-rank fusion: BM25 keyword
    ranking (x35's scorer) and cosine vector ranking against probe
    vec_id 0 are fused as Σ 1/(60+rank) over the two lists (absent →
    contributes 0), top-20 by fused score.  Ranks — exact integers — are
    the only thing crossing modalities, so fusion is deterministic even
    though the two scores live on different scales (the reason RRF is
    the standard hybrid-search combiner).  Each candidate list is
    depth-bounded (50) before the full-outer merge, so the fusion join
    is rank-table-sized, not corpus-sized."""
    from social_warner_spark.functions.vectors import dot, l2_norm
    from social_warner_spark.operators.search import bm25_scores

    docs = T(spark, sf_dir, "documents")
    kw = bm25_scores(docs, ["spark", "hash", "window"])
    # depth-bound via orderBy+limit so Catalyst plans TakeOrderedAndProject
    # (per-partition heaps + driver merge of k×partitions rows); the rank
    # window then runs over ≤depth rows.  A row_number-filter on a GLOBAL
    # window would sort every scored row in one partition first.
    wkw = Window.orderBy(F.desc("score"), "doc_id")
    kw_ranked = (
        kw.where(F.col("score") > 0)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(RRF_DEPTH)
        .withColumn("rk_kw", F.row_number().over(wkw).cast("int"))
        .select("doc_id", "rk_kw")
    )

    emb = T(spark, sf_dir, "embeddings")
    probe = emb.where(F.col("vec_id") == 0).select(
        F.col("embedding").alias("_p")
    )
    scored = emb.where(F.col("vec_id") != 0).crossJoin(F.broadcast(probe)).select(
        F.col("vec_id").alias("doc_id"),
        F.round(
            dot(F.col("embedding"), F.col("_p"))
            / (l2_norm(F.col("embedding")) * l2_norm(F.col("_p"))),
            6,
        ).alias("cos"),
    )
    wv = Window.orderBy(F.desc("cos"), "doc_id")
    vec_ranked = (
        scored.orderBy(F.desc("cos"), F.asc("doc_id"))
        .limit(RRF_DEPTH)
        .withColumn("rk_vec", F.row_number().over(wv).cast("int"))
        .select("doc_id", "rk_vec")
    )

    fused = kw_ranked.join(vec_ranked, "doc_id", "full_outer").select(
        "doc_id",
        "rk_kw",
        "rk_vec",
        F.round(
            F.coalesce(1.0 / (F.lit(RRF_K) + F.col("rk_kw")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(RRF_K) + F.col("rk_vec")), F.lit(0.0)),
            6,
        ).alias("rrf"),
    )
    wf = Window.orderBy(F.desc("rrf"), "doc_id")
    return (
        fused.withColumn("rk", F.row_number().over(wf).cast("int"))
        .where(F.col("rk") <= RRF_TOPK)
        .select("doc_id", "rrf", "rk_kw", "rk_vec", "rk")
    )


def x86_containment_pairs(spark, sf_dir):
    """Excerpt/quotation detection via asymmetric shingle containment
    (operators/dedup.py:containment_pairs): pairs where the smaller
    doc's 3-gram set is ≥ 0.8 inside the larger's — the duplicates
    symmetric Jaccard structurally misses when sizes are mismatched."""
    from social_warner_spark.operators.dedup import containment_pairs

    return containment_pairs(
        T(spark, sf_dir, "documents"), threshold=CONTAINMENT_T
    )


QUERIES.update(
    {
        "x84_bpe_merge_pairs": x84_bpe_merge_pairs,
        "x85_hybrid_rrf_search": x85_hybrid_rrf_search,
        "x86_containment_pairs": x86_containment_pairs,
    }
)


def _x85_oracle() -> str:
    """x85's oracle reuses x35's BM25 SQL builders so the keyword leg is
    textually identical to the proven x35 scorer."""
    from social_warner_spark.queries.x4_series import (
        BM25_TERMS,
        _bm25_term_score,
        _bm25_tf,
    )

    tf_cols = ", ".join(f"{_bm25_tf(t)} AS tf_{i}" for i, t in enumerate(BM25_TERMS))
    df_cols = ", ".join(
        f"CAST(SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_{i}"
        for i in range(len(BM25_TERMS))
    )
    score = " + ".join(_bm25_term_score(i) for i in range(len(BM25_TERMS)))
    return f"""
        WITH staged AS (
            SELECT doc_id,
                   CAST(len(string_split(trim(text), ' ')) AS DOUBLE) AS dl,
                   {tf_cols}
            FROM documents
        ), stats AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl, {df_cols}
            FROM staged
        ), scored AS (
            SELECT doc_id, ROUND({score}, 6) AS score FROM staged, stats
        ), kwr AS (
            SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INT)
                       AS rk_kw
            FROM scored WHERE score > 0
        ), kw AS (
            SELECT * FROM kwr WHERE rk_kw <= {RRF_DEPTH}
        ), vs AS (
            SELECT c.vec_id AS doc_id,
                   ROUND(list_dot_product(c.embedding::DOUBLE[], p.embedding::DOUBLE[])
                         / (sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))
                            * sqrt(list_dot_product(p.embedding::DOUBLE[], p.embedding::DOUBLE[]))),
                         6) AS cos
            FROM embeddings c, embeddings p
            WHERE p.vec_id = 0 AND c.vec_id != 0
        ), vr0 AS (
            SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS INT)
                       AS rk_vec
            FROM vs
        ), vr AS (
            SELECT * FROM vr0 WHERE rk_vec <= {RRF_DEPTH}
        ), fused AS (
            SELECT COALESCE(kw.doc_id, vr.doc_id) AS doc_id, rk_kw, rk_vec,
                   ROUND(COALESCE(1.0 / ({RRF_K} + rk_kw), 0.0)
                         + COALESCE(1.0 / ({RRF_K} + rk_vec), 0.0), 6) AS rrf
            FROM kw FULL OUTER JOIN vr ON kw.doc_id = vr.doc_id
        ), fr AS (
            SELECT doc_id, rrf, rk_kw, rk_vec,
                   CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS INT) AS rk
            FROM fused
        )
        SELECT doc_id, rrf, rk_kw, rk_vec, rk FROM fr WHERE rk <= {RRF_TOPK}
    """


ORACLES.update(
    {
        "x84_bpe_merge_pairs": f"""
        WITH wc AS (
            SELECT w, COUNT(*) AS c FROM (
                SELECT unnest(string_split(trim(text), ' ')) AS w FROM documents
            ) GROUP BY w
        ), chars AS (
            SELECT c, string_split(w, '') AS ch FROM wc
        ), pairs AS (
            SELECT c, ch[i] || ' ' || ch[i+1] AS pair
            FROM chars, UNNEST(range(1, len(ch))) AS u(i)
            WHERE len(ch) >= 2
        ), agg AS (
            SELECT pair, CAST(SUM(c) AS BIGINT) AS n_occurrences FROM pairs GROUP BY pair
        ), ranked AS (
            SELECT pair, n_occurrences,
                   CAST(ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, pair) AS INT)
                       AS rk
            FROM agg
        )
        SELECT pair, n_occurrences, rk FROM ranked WHERE rk <= {BPE_TOP_PAIRS}
    """,
        "x85_hybrid_rrf_search": _x85_oracle(),
        "x86_containment_pairs": f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ), sh AS (
            SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
            FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
            WHERE len(t) >= 3
        ), sizes AS (
            SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
        ), shared AS (
            SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, COUNT(*) AS shared
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_id_a, doc_id_b, shared,
               ROUND(shared / CAST(LEAST(sa.sz, sb.sz) AS DOUBLE), 6) AS containment
        FROM shared
        JOIN sizes sa ON sa.doc_id = doc_id_a
        JOIN sizes sb ON sb.doc_id = doc_id_b
        WHERE ROUND(shared / CAST(LEAST(sa.sz, sb.sz) AS DOUBLE), 6) >= {CONTAINMENT_T}
    """,
    }
)


def x87_skew_report(spark, sf_dir):
    """Shuffle-key skew diagnosis (operators/audit.py:skew_report) for
    the two natural event keys: per-key counts, hottest-key ratio, Gini
    coefficient, top heavy keys.  The report that justifies (or spares)
    an x59-style salted join BEFORE the straggler happens; everything
    past the per-key count is |keys|-sized."""
    from social_warner_spark.operators.audit import skew_report

    e = T(spark, sf_dir, "events")
    return skew_report(e, "user_id").unionByName(skew_report(e, "event_type"))


def x88_corpus_card(spark, sf_dir):
    """One-row dataset card — the summary block of a corpus release:
    doc/source/lang counts, token totals, exact-duplicate rate, mean
    quality score, and the dominant language's share.  One
    multi-aggregate pass over the corpus (count_distincts share the
    scan) plus a |langs|-sized top-1; every cross-joined relation is a
    single row."""
    from social_warner_spark.functions.text import quality_score, token_count_ws

    d = T(spark, sf_dir, "documents")
    base = d.agg(
        F.count("*").alias("n_docs"),
        F.count_distinct("source").alias("n_sources"),
        F.count_distinct("lang").alias("n_langs"),
        F.sum(token_count_ws(F.col("text"))).alias("total_tokens"),
        r6(F.avg(token_count_ws(F.col("text")))).alias("mean_doc_tokens"),
        F.count_distinct(F.md5("text")).alias("_nd"),
        r6(F.avg(quality_score(F.col("text")))).alias("mean_quality"),
    )
    top_lang = (
        d.groupBy("lang")
        .agg(F.count("*").alias("_lc"))
        .withColumn(
            "_r", F.row_number().over(Window.orderBy(F.desc("_lc"), F.asc("lang")))
        )
        .where(F.col("_r") == 1)
        .select(F.col("lang").alias("top_lang"), "_lc")
    )
    return base.crossJoin(top_lang).select(
        "n_docs",
        "n_sources",
        "n_langs",
        "total_tokens",
        "mean_doc_tokens",
        r6(F.lit(1.0) - F.col("_nd") / F.col("n_docs")).alias("exact_dup_rate"),
        "mean_quality",
        "top_lang",
        r6(F.col("_lc") / F.col("n_docs")).alias("top_lang_share"),
    )


def x89_heldout_eval(spark, sf_dir):
    """Train/held-out language-model evaluation: fit the x43-style
    unigram LM on the x34 train split (md5 < 'cc'), score the held-out
    split with add-one smoothing p(w) = (c+1)/(T+V+1), report per-lang
    token-level mean log-prob and OOV rate — the eval loop of a
    data-quality ablation.  The LM is vocabulary-bounded; corpus stats
    are ONE broadcast row; the held-out token stream shuffles once (the
    model equi-join) and once more for the per-lang mean."""
    from social_warner_spark.functions.text import tokens

    d = T(spark, sf_dir, "documents")
    h_split = F.substring(
        F.md5(F.concat_ws("|", F.col("doc_id").cast("string"), F.col("lang"))), 1, 2
    )
    staged = d.select(
        "doc_id",
        "lang",
        (h_split < "cc").alias("_is_train"),
        tokens(F.col("text")).alias("_toks"),
    )
    train_tok = staged.where("_is_train").select(F.explode("_toks").alias("w"))
    counts = train_tok.groupBy("w").agg(F.count("*").alias("c"))
    stats = counts.agg(
        F.sum("c").alias("_t"), F.count("*").alias("_v")
    )
    held = staged.where(~F.col("_is_train")).select(
        "lang", "doc_id", F.explode("_toks").alias("w")
    )
    joined = held.join(counts, "w", "left").crossJoin(F.broadcast(stats))
    lp = F.log(
        (F.coalesce(F.col("c"), F.lit(0)) + F.lit(1)).cast("double")
        / (F.col("_t") + F.col("_v") + F.lit(1)).cast("double")
    )
    return joined.groupBy("lang").agg(
        F.count_distinct("doc_id").alias("n_heldout_docs"),
        F.count("*").alias("n_tokens"),
        r6(F.avg(lp)).alias("avg_logp"),
        r6(F.avg(F.col("c").isNull().cast("double"))).alias("oov_rate"),
    )


QUERIES.update(
    {
        "x87_skew_report": x87_skew_report,
        "x88_corpus_card": x88_corpus_card,
        "x89_heldout_eval": x89_heldout_eval,
    }
)

ORACLES.update(
    {
        "x87_skew_report": """
        WITH c1 AS (
            SELECT CAST(user_id AS VARCHAR) AS k, COUNT(*) AS c
            FROM events GROUP BY 1
        ), r1 AS (
            SELECT k, c, ROW_NUMBER() OVER (ORDER BY c ASC, k ASC) AS i,
                   ROW_NUMBER() OVER (ORDER BY c DESC, k ASC) AS r
            FROM c1
        ), s1 AS (
            SELECT 'user_id' AS dim, COUNT(*) AS n_keys,
                   CAST(SUM(c) AS BIGINT) AS n_rows,
                   MAX(c) AS max_cnt, SUM(i * c) AS sic
            FROM r1
        ), t1 AS (
            SELECT string_agg(k, ',' ORDER BY r) AS top_keys FROM r1 WHERE r <= 3
        ), c2 AS (
            SELECT CAST(event_type AS VARCHAR) AS k, COUNT(*) AS c
            FROM events GROUP BY 1
        ), r2 AS (
            SELECT k, c, ROW_NUMBER() OVER (ORDER BY c ASC, k ASC) AS i,
                   ROW_NUMBER() OVER (ORDER BY c DESC, k ASC) AS r
            FROM c2
        ), s2 AS (
            SELECT 'event_type' AS dim, COUNT(*) AS n_keys,
                   CAST(SUM(c) AS BIGINT) AS n_rows,
                   MAX(c) AS max_cnt, SUM(i * c) AS sic
            FROM r2
        ), t2 AS (
            SELECT string_agg(k, ',' ORDER BY r) AS top_keys FROM r2 WHERE r <= 3
        )
        SELECT dim, n_keys, n_rows, max_cnt,
               ROUND(max_cnt / (CAST(n_rows AS DOUBLE) / n_keys), 6) AS skew_ratio,
               ROUND((2.0 * sic) / (CAST(n_keys AS DOUBLE) * n_rows)
                     - (n_keys + 1.0) / n_keys, 6) AS gini,
               top_keys
        FROM s1, t1
        UNION ALL
        SELECT dim, n_keys, n_rows, max_cnt,
               ROUND(max_cnt / (CAST(n_rows AS DOUBLE) / n_keys), 6) AS skew_ratio,
               ROUND((2.0 * sic) / (CAST(n_keys AS DOUBLE) * n_rows)
                     - (n_keys + 1.0) / n_keys, 6) AS gini,
               top_keys
        FROM s2, t2
    """,
        "x88_corpus_card": f"""
        WITH base AS (
            SELECT COUNT(*) AS n_docs,
                   COUNT(DISTINCT source) AS n_sources,
                   COUNT(DISTINCT lang) AS n_langs,
                   CAST(SUM(len(string_split(trim(text), ' '))) AS BIGINT)
                       AS total_tokens,
                   ROUND(AVG(len(string_split(trim(text), ' '))), 6) AS mean_doc_tokens,
                   COUNT(DISTINCT md5(text)) AS nd,
                   ROUND(AVG(ROUND({{q}}, 6)), 6) AS mean_quality
            FROM documents
        ), top AS (
            SELECT lang AS top_lang, COUNT(*) AS lc,
                   ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, lang ASC) AS r
            FROM documents GROUP BY lang
        )
        SELECT n_docs, n_sources, n_langs, total_tokens, mean_doc_tokens,
               ROUND(1.0 - CAST(nd AS DOUBLE) / n_docs, 6) AS exact_dup_rate,
               mean_quality, top_lang,
               ROUND(CAST(lc AS DOUBLE) / n_docs, 6) AS top_lang_share
        FROM base, top WHERE r = 1
    """,
        "x89_heldout_eval": """
        WITH staged AS (
            SELECT doc_id, lang,
                   substr(md5(doc_id || '|' || lang), 1, 2) < 'cc' AS is_train,
                   string_split(trim(text), ' ') AS t
            FROM documents
        ), train_tok AS (
            SELECT u.w AS w FROM staged, UNNEST(t) AS u(w) WHERE is_train
        ), counts AS (
            SELECT w, COUNT(*) AS c FROM train_tok GROUP BY w
        ), stats AS (
            SELECT SUM(c) AS t_total, COUNT(*) AS v FROM counts
        ), held AS (
            SELECT lang, doc_id, u.w AS w
            FROM staged, UNNEST(t) AS u(w) WHERE NOT is_train
        ), joined AS (
            SELECT held.lang, held.doc_id, counts.c, stats.t_total, stats.v
            FROM held LEFT JOIN counts ON held.w = counts.w, stats
        )
        SELECT lang,
               COUNT(DISTINCT doc_id) AS n_heldout_docs,
               COUNT(*) AS n_tokens,
               ROUND(AVG(ln(CAST(COALESCE(c, 0) + 1 AS DOUBLE)
                            / CAST(t_total + v + 1 AS DOUBLE))), 6) AS avg_logp,
               ROUND(AVG(CASE WHEN c IS NULL THEN 1.0 ELSE 0.0 END), 6) AS oov_rate
        FROM joined GROUP BY lang
    """,
    }
)

# x88's mean_quality must be textually the same scorer as x4/x42 — inject
# the shared SQL form (kept in x5_series next to its other consumer).
from social_warner_spark.queries.x5_series import _QUALITY_SQL  # noqa: E402

ORACLES["x88_corpus_card"] = ORACLES["x88_corpus_card"].format(q=_QUALITY_SQL)


#: x91 — context-window cutoffs whose truncation cost is measured.
TRUNC_CUTOFFS = (64, 256, 1024)
#: x92 — a source is flagged when its mean quality sits this many
#: source-level standard deviations below the cross-source mean.
DRIFT_SIGMA = 2.0


def x90_zipf_fit(spark, sf_dir):
    """Zipf's-law fit over the corpus vocabulary: least-squares slope /
    intercept / correlation of ln(frequency) against ln(rank) — the
    sanity check that a corpus (or a synthetic copy of one) has a
    natural token distribution.  One token-count shuffle; the regression
    runs on the vocabulary relation (corpus-independent size) via
    single-pass moment aggregates (regr_slope/regr_intercept/corr)."""
    from social_warner_spark.functions.text import tokens

    d = T(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    ranked = vocab.withColumn(
        "rk", F.row_number().over(Window.orderBy(F.desc("c"), F.asc("w")))
    )
    lc, lr = F.log(F.col("c").cast("double")), F.log(F.col("rk").cast("double"))
    return ranked.agg(
        F.count("*").alias("n_vocab"),
        r6(F.regr_slope(lc, lr)).alias("slope"),
        r6(F.regr_intercept(lc, lr)).alias("intercept"),
        r6(F.corr(lc, lr)).alias("corr_lnln"),
    )


def x91_truncation_cost(spark, sf_dir):
    """Context-window truncation cost: for each candidate cutoff, the
    tokens kept vs lost and the fraction of documents that would be
    truncated — the capacity-planning table behind an x29-style packing
    choice.  ONE scan: each doc's token count is exploded against the
    (tiny, literal) cutoff array, so cost is |docs|×|cutoffs| narrow
    rows into a |cutoffs|-group aggregate."""
    from social_warner_spark.functions.text import token_count_ws

    d = T(spark, sf_dir, "documents").select(
        token_count_ws(F.col("text")).alias("_n")
    )
    per_cut = d.select(
        "_n",
        F.explode(F.array(*[F.lit(c) for c in TRUNC_CUTOFFS])).alias("cutoff"),
    )
    return per_cut.groupBy("cutoff").agg(
        F.sum("_n").alias("total_tokens"),
        F.sum(F.least(F.col("_n"), F.col("cutoff"))).alias("kept_tokens"),
        r6(
            F.lit(1.0)
            - F.sum(F.least(F.col("_n"), F.col("cutoff")))
            / F.sum("_n").cast("double")
        ).alias("lost_frac"),
        r6(F.avg((F.col("_n") > F.col("cutoff")).cast("double"))).alias(
            "pct_docs_truncated"
        ),
    )


def x92_source_quality_gate(spark, sf_dir):
    """Per-source quality drift gate: every source's mean quality score
    against the cross-source mean, flagged when it sits more than 2
    source-level σ below — the shard-health check that drops a bad crawl
    feed before it pollutes a training mix.  Fact scan aggregates once
    to |sources| rows; the cross-source stats are ONE broadcast row."""
    from social_warner_spark.functions.text import quality_score

    d = T(spark, sf_dir, "documents")
    per_src = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg(quality_score(F.col("text"))), 6).alias("mean_q"),
    )
    global_stats = per_src.agg(
        F.round(F.avg("mean_q"), 6).alias("_gmean"),
        F.round(F.stddev_samp("mean_q"), 6).alias("_gstd"),
    )
    return per_src.crossJoin(F.broadcast(global_stats)).select(
        "source",
        "n_docs",
        "mean_q",
        F.col("_gmean").alias("global_mean_q"),
        r6(F.col("mean_q") - F.col("_gmean")).alias("gap"),
        (
            F.col("mean_q")
            < F.col("_gmean") - F.lit(DRIFT_SIGMA) * F.col("_gstd")
        ).alias("flagged"),
    )


QUERIES.update(
    {
        "x90_zipf_fit": x90_zipf_fit,
        "x91_truncation_cost": x91_truncation_cost,
        "x92_source_quality_gate": x92_source_quality_gate,
    }
)

ORACLES.update(
    {
        "x90_zipf_fit": """
        WITH vocab AS (
            SELECT w, COUNT(*) AS c FROM (
                SELECT unnest(string_split(trim(text), ' ')) AS w FROM documents
            ) GROUP BY w
        ), ranked AS (
            SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, w ASC) AS rk FROM vocab
        )
        SELECT COUNT(*) AS n_vocab,
               ROUND(regr_slope(ln(CAST(c AS DOUBLE)), ln(CAST(rk AS DOUBLE))), 6)
                   AS slope,
               ROUND(regr_intercept(ln(CAST(c AS DOUBLE)), ln(CAST(rk AS DOUBLE))), 6)
                   AS intercept,
               ROUND(corr(ln(CAST(c AS DOUBLE)), ln(CAST(rk AS DOUBLE))), 6)
                   AS corr_lnln
        FROM ranked
    """,
        "x91_truncation_cost": f"""
        WITH d AS (
            SELECT len(string_split(trim(text), ' ')) AS n FROM documents
        ), per_cut AS (
            SELECT n, cutoff FROM d,
                 UNNEST([{", ".join(str(c) for c in TRUNC_CUTOFFS)}]) AS u(cutoff)
        )
        SELECT cutoff,
               CAST(SUM(n) AS BIGINT) AS total_tokens,
               CAST(SUM(LEAST(n, cutoff)) AS BIGINT) AS kept_tokens,
               ROUND(1.0 - SUM(LEAST(n, cutoff)) / CAST(SUM(n) AS DOUBLE), 6)
                   AS lost_frac,
               ROUND(AVG(CASE WHEN n > cutoff THEN 1.0 ELSE 0.0 END), 6)
                   AS pct_docs_truncated
        FROM per_cut GROUP BY cutoff
    """,
        "x92_source_quality_gate": """
        WITH per_src AS (
            SELECT source, COUNT(*) AS n_docs,
                   ROUND(AVG(ROUND({q}, 6)), 6) AS mean_q
            FROM documents GROUP BY source
        ), g AS (
            SELECT ROUND(AVG(mean_q), 6) AS gmean,
                   ROUND(STDDEV_SAMP(mean_q), 6) AS gstd
            FROM per_src
        )
        SELECT source, n_docs, mean_q,
               gmean AS global_mean_q,
               ROUND(mean_q - gmean, 6) AS gap,
               mean_q < gmean - 2.0 * gstd AS flagged
        FROM per_src, g
    """,
    }
)

ORACLES["x92_source_quality_gate"] = ORACLES["x92_source_quality_gate"].replace(
    "{q}", _QUALITY_SQL
)


def x99_dedup_policy_report(spark, sf_dir):
    """Dedup policy comparison — one row per policy (exact hash, Jaccard
    ≥ 0.5, containment ≥ 0.8) with the pair count and the number of
    documents implicated: the side-by-side a pipeline owner reads before
    choosing how aggressively to dedup.  Composes the existing operators
    (exact_dedup's hash groups, exact_jaccard_pairs, containment_pairs);
    the shingle relation is persisted once and shared by both
    shingle-based policies."""
    from social_warner_spark.operators.dedup import (
        containment_pairs,
        content_hash,
        exact_jaccard_pairs,
    )

    docs = T(spark, sf_dir, "documents")

    groups = (
        docs.groupBy(content_hash(F.col("text")).alias("_h"))
        .agg(F.count("*").alias("g"))
        .where(F.col("g") > 1)
    )
    exact_row = groups.agg(
        F.lit("exact_hash").alias("policy"),
        F.coalesce(
            F.sum(F.col("g") * (F.col("g") - 1) / 2).cast("long"), F.lit(0)
        ).alias("n_pairs"),
        F.coalesce(F.sum("g").cast("long"), F.lit(0)).alias("n_docs"),
    )

    def pair_row(pairs, policy):
        docs_in = pairs.select(
            F.col("doc_id_a").alias("d")
        ).unionByName(pairs.select(F.col("doc_id_b").alias("d")))
        n_docs = docs_in.distinct().agg(F.count("*").alias("n_docs"))
        return (
            pairs.agg(F.count("*").cast("long").alias("n_pairs"))
            .crossJoin(n_docs)
            .select(
                F.lit(policy).alias("policy"),
                "n_pairs",
                F.col("n_docs").cast("long").alias("n_docs"),
            )
        )

    jac = exact_jaccard_pairs(docs, threshold=0.5).select("doc_id_a", "doc_id_b")
    cont = containment_pairs(docs, threshold=0.8).select("doc_id_a", "doc_id_b")
    return exact_row.unionByName(pair_row(jac, "jaccard_0.5")).unionByName(
        pair_row(cont, "containment_0.8")
    )


QUERIES.update({"x99_dedup_policy_report": x99_dedup_policy_report})

ORACLES.update(
    {
        "x99_dedup_policy_report": """
        WITH groups AS (
            SELECT md5(lower(trim(text))) AS h, COUNT(*) AS g
            FROM documents GROUP BY 1 HAVING COUNT(*) > 1
        ), toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ), sh AS (
            SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
            FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
            WHERE len(t) >= 3
        ), sizes AS (
            SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
        ), shared AS (
            SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS c
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ), jac AS (
            SELECT a, b FROM shared
            JOIN sizes sa ON sa.doc_id = a
            JOIN sizes sb ON sb.doc_id = b
            WHERE ROUND(c / (sa.sz + sb.sz - c), 6) >= 0.5
        ), cont AS (
            SELECT a, b FROM shared
            JOIN sizes sa ON sa.doc_id = a
            JOIN sizes sb ON sb.doc_id = b
            WHERE ROUND(c / CAST(LEAST(sa.sz, sb.sz) AS DOUBLE), 6) >= 0.8
        )
        SELECT 'exact_hash' AS policy,
               COALESCE(CAST(SUM(g * (g - 1) / 2) AS BIGINT), 0) AS n_pairs,
               COALESCE(CAST(SUM(g) AS BIGINT), 0) AS n_docs
        FROM groups
        UNION ALL
        SELECT 'jaccard_0.5', (SELECT COUNT(*) FROM jac),
               (SELECT COUNT(*) FROM (
                   SELECT a AS d FROM jac UNION SELECT b FROM jac))
        UNION ALL
        SELECT 'containment_0.8', (SELECT COUNT(*) FROM cont),
               (SELECT COUNT(*) FROM (
                   SELECT a AS d FROM cont UNION SELECT b FROM cont))
    """,
    }
)


def x110_embed_dim_health(spark, sf_dir):
    """Per-dimension embedding health: mean, standard deviation, and
    near-zero fraction for every vector dimension — the dead/collapsed-
    dimension check run before any similarity index is trusted.  One
    posexplode to (dim, value) rows and one |dims|-group aggregate;
    dimension count (64) bounds the result regardless of corpus size."""
    emb = T(spark, sf_dir, "embeddings")
    dv = emb.select(
        F.posexplode(F.col("embedding"))
    ).select(F.col("pos").alias("dim"), F.col("col").cast("double").alias("v"))
    return dv.groupBy("dim").agg(
        F.count("*").alias("n"),
        r6(F.avg("v")).alias("mean_v"),
        r6(F.stddev_samp("v")).alias("std_v"),
        r6(F.avg((F.abs(F.col("v")) < 0.01).cast("double"))).alias("near_zero_frac"),
    )


QUERIES.update({"x110_embed_dim_health": x110_embed_dim_health})

ORACLES.update(
    {
        "x110_embed_dim_health": """
        WITH dv AS (
            SELECT i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS v
            FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)
        )
        SELECT dim, COUNT(*) AS n,
               ROUND(AVG(v), 6) AS mean_v,
               ROUND(STDDEV_SAMP(v), 6) AS std_v,
               ROUND(AVG(CASE WHEN ABS(v) < 0.01 THEN 1.0 ELSE 0.0 END), 6)
                   AS near_zero_frac
        FROM dv GROUP BY dim
    """,
    }
)


#: x111 — thresholds swept from one shared candidate relation.
SWEEP_THRESHOLDS = (0.5, 0.6, 0.7, 0.8, 0.9)
#: x112 — sketch sizes swept from one hashed distinct relation.
KMV_SWEEP = (16, 32, 64, 128)
#: x113 — mixture temperature (P_s ∝ w_s^alpha).
MIX_ALPHA = 0.5


def x111_jaccard_threshold_sweep(spark, sf_dir):
    """Dedup threshold sweep: near-dup pair and implicated-doc counts at
    every candidate Jaccard threshold, computed from ONE pass over the
    shared shingle/size/shared-count relations — the curve a pipeline
    owner reads to pick the threshold, at the cost of a single l2 run
    (the per-threshold work is an |pairs|-row filter, not a re-join)."""
    from social_warner_spark.operators.dedup import exact_jaccard_pairs

    pairs = exact_jaccard_pairs(
        T(spark, sf_dir, "documents"), threshold=min(SWEEP_THRESHOLDS)
    ).select("doc_id_a", "doc_id_b", "jaccard")
    thresholds = F.explode(
        F.array(*[F.lit(float(t)) for t in SWEEP_THRESHOLDS])
    ).alias("threshold")
    swept = pairs.select("jaccard", "doc_id_a", "doc_id_b").select(
        thresholds, "jaccard", "doc_id_a", "doc_id_b"
    ).where(F.col("jaccard") >= F.col("threshold"))
    per = swept.groupBy("threshold").agg(F.count("*").alias("n_pairs"))
    docs_in = (
        swept.select("threshold", F.col("doc_id_a").alias("d"))
        .unionByName(swept.select("threshold", F.col("doc_id_b").alias("d")))
        .distinct()
        .groupBy("threshold")
        .agg(F.count("*").alias("n_docs"))
    )
    return per.join(docs_in, "threshold")


def x112_kmv_accuracy_sweep(spark, sf_dir):
    """Sketch-size tuning: KMV distinct-count estimates of the event
    user set at k ∈ {{16,32,64,128}} against the exact count, with
    relative errors — how a sketch budget is picked.  ONE distinct+hash
    pass feeds every k (the k-th smallest hash is a filter over the same
    ranked relation, not a re-scan)."""
    from social_warner_spark.operators.sketch import kmv_hash

    e = T(spark, sf_dir, "events")
    ranked = (
        e.select("user_id")
        .distinct()
        .select(kmv_hash(F.col("user_id")).alias("h"))
        .withColumn("rn", F.row_number().over(Window.orderBy("h")))
    )
    exact = e.select("user_id").distinct().agg(F.count("*").alias("exact"))
    ks = F.explode(F.array(*[F.lit(k) for k in KMV_SWEEP])).alias("k")
    per_k = (
        ranked.select(ks, "h", "rn")
        .where(F.col("rn") <= F.col("k"))
        .groupBy("k")
        .agg(F.max("h").alias("_theta"), F.count("*").alias("_ku"))
    )
    return per_k.crossJoin(F.broadcast(exact)).select(
        "k",
        r6(
            F.when(
                F.col("_ku") >= F.col("k"),
                (F.col("k") - 1).cast("double") / F.col("_theta"),
            ).otherwise(F.col("_ku").cast("double"))
        ).alias("est_users"),
        "exact",
        r6(
            F.abs(
                F.when(
                    F.col("_ku") >= F.col("k"),
                    (F.col("k") - 1).cast("double") / F.col("_theta"),
                ).otherwise(F.col("_ku").cast("double"))
                - F.col("exact")
            )
            / F.col("exact")
        ).alias("rel_err"),
    )


def x113_mixture_temperature(spark, sf_dir):
    """Temperature-scaled mixture weights: per-source token shares
    raised to α=0.5 and renormalized — the standard up-weighting of
    small high-quality sources in a training mix (multilingual sampling
    à la XLM-R).  One |sources| aggregate; the normalizer is the only
    cross-group term and is a 1-row broadcast."""
    from social_warner_spark.functions.text import token_count_ws

    d = T(spark, sf_dir, "documents")
    src = d.groupBy("source").agg(
        F.sum(token_count_ws(F.col("text"))).alias("tokens")
    )
    tot = src.agg(F.sum("tokens").alias("_tt"))
    shared = src.crossJoin(F.broadcast(tot)).select(
        "source",
        "tokens",
        r6(F.col("tokens") / F.col("_tt").cast("double")).alias("natural_share"),
        F.pow(
            F.round(F.col("tokens") / F.col("_tt").cast("double"), 6), MIX_ALPHA
        ).alias("_scaled"),
    )
    z = shared.agg(F.round(F.sum("_scaled"), 6).alias("_z"))
    return shared.crossJoin(F.broadcast(z)).select(
        "source",
        "tokens",
        "natural_share",
        r6(F.col("_scaled") / F.col("_z")).alias("alpha_share"),
    )


QUERIES.update(
    {
        "x111_jaccard_threshold_sweep": x111_jaccard_threshold_sweep,
        "x112_kmv_accuracy_sweep": x112_kmv_accuracy_sweep,
        "x113_mixture_temperature": x113_mixture_temperature,
    }
)

ORACLES.update(
    {
        "x111_jaccard_threshold_sweep": f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ), sh AS (
            SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
            FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
            WHERE len(t) >= 3
        ), sizes AS (
            SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
        ), shared AS (
            SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS c
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ), pairs AS (
            SELECT a, b, ROUND(c / (sa.sz + sb.sz - c), 6) AS jaccard
            FROM shared
            JOIN sizes sa ON sa.doc_id = a
            JOIN sizes sb ON sb.doc_id = b
            WHERE ROUND(c / (sa.sz + sb.sz - c), 6) >= {min(SWEEP_THRESHOLDS)}
        ), swept AS (
            SELECT u.threshold, jaccard, a, b
            FROM pairs, UNNEST([{", ".join(str(t) for t in SWEEP_THRESHOLDS)}])
                 AS u(threshold)
            WHERE jaccard >= u.threshold
        ), per AS (
            SELECT threshold, COUNT(*) AS n_pairs FROM swept GROUP BY threshold
        ), docs_in AS (
            SELECT threshold, COUNT(*) AS n_docs FROM (
                SELECT DISTINCT threshold, d FROM (
                    SELECT threshold, a AS d FROM swept
                    UNION ALL SELECT threshold, b FROM swept
                )
            ) GROUP BY threshold
        )
        SELECT per.threshold, n_pairs, n_docs
        FROM per JOIN docs_in ON per.threshold = docs_in.threshold
    """,
        "x112_kmv_accuracy_sweep": f"""
        WITH d AS (
            SELECT DISTINCT user_id FROM events
        ), ranked AS (
            SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))::BIGINT
                       / {float(16**12)} AS h,
                   ROW_NUMBER() OVER (
                       ORDER BY ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))::BIGINT
                   ) AS rn
            FROM d
        ), exact AS (
            SELECT COUNT(*) AS exact FROM d
        ), per_k AS (
            SELECT u.k, MAX(h) AS theta, COUNT(*) AS ku
            FROM ranked, UNNEST([{", ".join(str(k) for k in KMV_SWEEP)}]) AS u(k)
            WHERE rn <= u.k GROUP BY u.k
        )
        SELECT k,
               ROUND(CASE WHEN ku >= k THEN (k - 1) / theta
                          ELSE CAST(ku AS DOUBLE) END, 6) AS est_users,
               exact,
               ROUND(ABS(CASE WHEN ku >= k THEN (k - 1) / theta
                              ELSE CAST(ku AS DOUBLE) END - exact)
                     / CAST(exact AS DOUBLE), 6) AS rel_err
        FROM per_k, exact
    """,
        "x113_mixture_temperature": f"""
        WITH src AS (
            SELECT source, CAST(SUM(len(string_split(trim(text), ' '))) AS BIGINT)
                       AS tokens
            FROM documents GROUP BY source
        ), tot AS (
            SELECT SUM(tokens) AS tt FROM src
        ), shared AS (
            SELECT source, tokens,
                   ROUND(tokens / CAST(tt AS DOUBLE), 6) AS natural_share,
                   POWER(ROUND(tokens / CAST(tt AS DOUBLE), 6), {MIX_ALPHA}) AS scaled
            FROM src, tot
        ), z AS (
            SELECT ROUND(SUM(scaled), 6) AS z FROM shared
        )
        SELECT source, tokens, natural_share,
               ROUND(scaled / z, 6) AS alpha_share
        FROM shared, z
    """,
    }
)


#: x116 — the screening blocklist (terms that would gate a doc out).
BLOCKLIST = ("error", "slow", "big")


def x116_blocklist_screen(spark, sf_dir):
    """Blocklist screening: per-source document hit rate and mean hits
    per kilotoken for a fixed term blocklist — the safety/denylist gate
    every ingest runs before training.  Token membership via
    size(filter()) over the staged token array (zero explode); one
    |sources| aggregate."""
    from social_warner_spark.functions.text import tokens

    d = T(spark, sf_dir, "documents")
    staged = d.select(
        "source", tokens(F.col("text")).alias("_toks")
    ).select(
        "source",
        F.size("_toks").alias("_n"),
        F.size(
            F.filter(F.col("_toks"), lambda x: x.isin(*BLOCKLIST))
        ).alias("_hits"),
    )
    return staged.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("_hits").alias("n_hits"),
        r6(F.avg((F.col("_hits") > 0).cast("double"))).alias("doc_hit_rate"),
        r6(F.sum("_hits") * 1000.0 / F.sum("_n").cast("double")).alias(
            "hits_per_kilotoken"
        ),
    )


def x117_quality_by_length(spark, sf_dir):
    """Quality-vs-length confound check: mean quality score per document
    length decile — the diagnostic that catches a 'quality' signal that
    is really just a length proxy before it drives selection (x42).
    One ntile window (single range-partitionable sort) + a 10-group
    aggregate."""
    from social_warner_spark.functions.text import quality_score

    d = T(spark, sf_dir, "documents").select(
        F.col("n_chars"),
        quality_score(F.col("text")).alias("_q"),
        F.col("doc_id"),
    )
    # r05: distributed exact ntile — no single-partition sort of |docs|.
    from social_warner_spark.operators.ordered import with_global_ntile

    return (
        with_global_ntile(d, ["n_chars", "doc_id"], 10, "decile")
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            r6(F.avg("_q")).alias("mean_quality"),
        )
    )


def x118_label_separability(spark, sf_dir):
    """Embedding label separability: per label, the within-class mean
    squared distance to the label centroid and the between-class
    distance of that centroid to the global centroid — the Fisher-style
    ratio that says whether labels are recoverable from the embedding
    space at all.  Centroids are |labels|×dims aggregates collected to
    arrays (6dp-pinned) and broadcast; per-vector distances are one
    zip_with fold, no explode on the distance pass."""
    emb = T(spark, sf_dir, "embeddings")
    dv = emb.select(
        "label", "vec_id", F.posexplode(F.col("embedding"))
    ).select("label", "vec_id", F.col("pos").alias("dim"), F.col("col").cast("double").alias("v"))
    cent = dv.groupBy("label", "dim").agg(F.round(F.avg("v"), 6).alias("cm"))
    cent_arr = (
        cent.groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "cm"))),
                lambda s: s["cm"],
            ).alias("_cvec")
        )
    )
    gcent = dv.groupBy("dim").agg(F.round(F.avg("v"), 6).alias("gm"))
    gcent_arr = gcent.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "gm"))),
            lambda s: s["gm"],
        ).alias("_gvec")
    )

    def sqdist(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )

    joined = emb.select(
        "label", F.col("embedding").cast("array<double>").alias("_e")
    ).join(F.broadcast(cent_arr), "label")
    within = joined.select(
        "label", sqdist(F.col("_e"), F.col("_cvec")).alias("_d2")
    ).groupBy("label").agg(
        F.count("*").alias("n_vecs"), r6(F.avg("_d2")).alias("within_ms")
    )
    between = cent_arr.crossJoin(F.broadcast(gcent_arr)).select(
        "label", r6(sqdist(F.col("_cvec"), F.col("_gvec"))).alias("between_d2")
    )
    return within.join(between, "label").select(
        "label",
        "n_vecs",
        "within_ms",
        "between_d2",
        r6(F.col("between_d2") / F.col("within_ms")).alias("fisher_ratio"),
    )


QUERIES.update(
    {
        "x116_blocklist_screen": x116_blocklist_screen,
        "x117_quality_by_length": x117_quality_by_length,
        "x118_label_separability": x118_label_separability,
    }
)

ORACLES.update(
    {
        "x116_blocklist_screen": f"""
        WITH staged AS (
            SELECT source,
                   len(string_split(trim(text), ' ')) AS n,
                   len(list_filter(string_split(trim(text), ' '),
                       x -> x IN ({", ".join(f"'{t}'" for t in BLOCKLIST)}))) AS hits
            FROM documents
        )
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(hits) AS BIGINT) AS n_hits,
               ROUND(AVG(CASE WHEN hits > 0 THEN 1.0 ELSE 0.0 END), 6) AS doc_hit_rate,
               ROUND(SUM(hits) * 1000.0 / CAST(SUM(n) AS DOUBLE), 6)
                   AS hits_per_kilotoken
        FROM staged GROUP BY source
    """,
        "x117_quality_by_length": """
        WITH d AS (
            SELECT n_chars, doc_id, {q} AS q FROM documents
        ), ranked AS (
            SELECT n_chars, ROUND(q, 6) AS q,
                   NTILE(10) OVER (ORDER BY n_chars, doc_id) AS decile
            FROM d
        )
        SELECT decile, COUNT(*) AS n_docs,
               MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
               ROUND(AVG(q), 6) AS mean_quality
        FROM ranked GROUP BY decile
    """,
        "x118_label_separability": """
        WITH dv AS (
            SELECT label, vec_id, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS v
            FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)
        ), cent AS (
            SELECT label, dim, ROUND(AVG(v), 6) AS cm FROM dv GROUP BY label, dim
        ), gcent AS (
            SELECT dim, ROUND(AVG(v), 6) AS gm FROM dv GROUP BY dim
        ), within0 AS (
            SELECT dv.label, dv.vec_id, SUM((dv.v - cent.cm) * (dv.v - cent.cm)) AS d2
            FROM dv JOIN cent ON dv.label = cent.label AND dv.dim = cent.dim
            GROUP BY dv.label, dv.vec_id
        ), within AS (
            SELECT label, COUNT(*) AS n_vecs, ROUND(AVG(d2), 6) AS within_ms
            FROM within0 GROUP BY label
        ), between AS (
            SELECT cent.label,
                   ROUND(SUM((cent.cm - gcent.gm) * (cent.cm - gcent.gm)), 6)
                       AS between_d2
            FROM cent JOIN gcent ON cent.dim = gcent.dim
            GROUP BY cent.label
        )
        SELECT within.label, n_vecs, within_ms, between_d2,
               ROUND(between_d2 / within_ms, 6) AS fisher_ratio
        FROM within JOIN between ON within.label = between.label
    """,
    }
)

ORACLES["x117_quality_by_length"] = ORACLES["x117_quality_by_length"].replace(
    "{q}", _QUALITY_SQL
)


def x119_split_leakage(spark, sf_dir):
    """Train/test leakage through near-duplicates: pairs of documents in
    the SAME near-dup cluster (x27) that land on OPPOSITE sides of the
    x34 md5 train split — the eval-hygiene check that catches inflated
    held-out scores before anyone trusts them.  One summary row: split
    sizes, leaking pair count, and distinct held-out docs compromised.

    r06: NO pair materialization.  The old cluster-keyed self-join was
    quadratic in the largest cluster — real corpora have boilerplate
    mega-clusters, so at 100 TB one hot cluster dominates (r05 verdict).
    The verdict needs only per-cluster train/heldout tallies:
    n_leaking_pairs = Σ ct·ch and the compromised heldout set is every
    heldout member of a cluster with ≥1 train member = Σ ch·[ct>0].
    Cluster labels are a |docs| relation; one groupBy(cluster_id) and a
    two-long fold replace the self-join entirely."""
    from social_warner_spark.operators.dedup import neardup_clusters

    docs = T(spark, sf_dir, "documents")
    h_split = F.substring(
        F.md5(F.concat_ws("|", F.col("doc_id").cast("string"), F.col("lang"))), 1, 2
    )
    labeled = docs.select(
        "doc_id", (h_split < "cc").alias("_is_train")
    )
    clusters = neardup_clusters(docs, threshold=0.5).join(labeled, "doc_id")
    per_cluster = clusters.groupBy("cluster_id").agg(
        F.sum(F.col("_is_train").cast("long")).alias("ct"),
        F.sum((~F.col("_is_train")).cast("long")).alias("ch"),
    )
    sizes = labeled.agg(
        F.sum(F.col("_is_train").cast("long")).alias("n_train"),
        F.sum((~F.col("_is_train")).cast("long")).alias("n_heldout"),
    )
    return sizes.crossJoin(_leakage_stats(per_cluster))


def _leakage_stats(per_cluster):
    """Fold per-cluster (ct, ch) train/heldout tallies into the leakage
    verdict columns.  Σ ct·ch runs in decimal(38,0): the boilerplate
    mega-cluster motivation makes a single cluster's ct·ch product
    exceed int64 at 100 TB, where long arithmetic would silently wrap
    (non-ANSI Spark; ADVICE r06).  The exact decimal sum is cast back
    to long — the declared output type — behind a loud bounds guard
    instead of a silent wrap (overflow-regression-tested against a
    synthetic mega-cluster in tests/test_x119_overflow.py)."""
    _dec_sum = F.coalesce(
        F.sum(F.col("ct").cast("decimal(19,0)") * F.col("ch").cast("decimal(19,0)")),
        F.lit(0).cast("decimal(38,0)"),
    )
    _leak = F.when(
        _dec_sum <= F.lit(9223372036854775807).cast("decimal(38,0)"),
        _dec_sum.cast("long"),
    ).otherwise(
        F.raise_error(F.lit("x119 n_leaking_pairs exceeds int64 — widen the output type"))
    )
    return per_cluster.agg(
        _leak.alias("n_leaking_pairs"),
        F.coalesce(
            F.sum(F.when(F.col("ct") > 0, F.col("ch")).otherwise(F.lit(0))),
            F.lit(0),
        ).alias("n_compromised_heldout"),
    )


def x120_cross_source_dups(spark, sf_dir):
    """Duplicate topology by source: of all Jaccard-≥0.5 near-dup pairs,
    how many join documents from the SAME source vs DIFFERENT sources —
    same-source dups mean a feed re-crawls itself; cross-source dups
    mean feeds mirror each other (and per-source contribution caps
    won't dedup them).  The doc→source map joins onto the pair relation
    by equi-key with NO explicit broadcast hint — the map is |docs| rows
    (corpus-sized at 100 TB), so the side choice belongs to AQE
    (r05 verdict: an explicit hint bypasses the size threshold)."""
    from social_warner_spark.operators.dedup import exact_jaccard_pairs

    docs = T(spark, sf_dir, "documents")
    pairs = exact_jaccard_pairs(docs, threshold=0.5).select("doc_id_a", "doc_id_b")
    src = docs.select("doc_id", "source")
    tagged = (
        pairs.join(
            src.withColumnsRenamed({"doc_id": "doc_id_a", "source": "_sa"}),
            "doc_id_a",
        )
        .join(
            src.withColumnsRenamed({"doc_id": "doc_id_b", "source": "_sb"}),
            "doc_id_b",
        )
    )
    return tagged.agg(
        F.count("*").alias("n_pairs"),
        F.sum((F.col("_sa") == F.col("_sb")).cast("long")).alias("n_same_source"),
        F.sum((F.col("_sa") != F.col("_sb")).cast("long")).alias("n_cross_source"),
        r6(
            F.sum((F.col("_sa") != F.col("_sb")).cast("long"))
            / F.count("*").cast("double")
        ).alias("cross_source_frac"),
    )


QUERIES.update(
    {
        "x119_split_leakage": x119_split_leakage,
        "x120_cross_source_dups": x120_cross_source_dups,
    }
)

ORACLES.update(
    {
        "x119_split_leakage": NEARDUP_CLUSTERS_CTE
        + """
        , labeled AS (
            SELECT doc_id,
                   substr(md5(doc_id || '|' || lang), 1, 2) < 'cc' AS is_train
            FROM documents
        ), cl AS (
            SELECT clusters.doc_id, cluster_id, is_train
            FROM clusters JOIN labeled ON clusters.doc_id = labeled.doc_id
        ), leaks AS (
            SELECT a.doc_id AS a, b.doc_id AS b,
                   CASE WHEN a.is_train THEN b.doc_id ELSE a.doc_id END AS held
            FROM cl a JOIN cl b ON a.cluster_id = b.cluster_id
                 AND a.doc_id < b.doc_id AND a.is_train != b.is_train
        ), split_sizes AS (
            SELECT CAST(SUM(CASE WHEN is_train THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_train,
                   CAST(SUM(CASE WHEN is_train THEN 0 ELSE 1 END) AS BIGINT)
                       AS n_heldout
            FROM labeled
        ), stats AS (
            SELECT COUNT(*) AS n_leaking_pairs,
                   COUNT(DISTINCT held) AS n_compromised_heldout
            FROM leaks
        )
        SELECT n_train, n_heldout, n_leaking_pairs, n_compromised_heldout
        FROM split_sizes, stats
    """,
        "x120_cross_source_dups": """
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ), sh AS (
            SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
            FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
            WHERE len(t) >= 3
        ), sizes AS (
            SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
        ), shared AS (
            SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS c
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ), pairs AS (
            SELECT a, b FROM shared
            JOIN sizes sa ON sa.doc_id = a
            JOIN sizes sb ON sb.doc_id = b
            WHERE ROUND(c / (sa.sz + sb.sz - c), 6) >= 0.5
        ), tagged AS (
            SELECT da.source AS sa, db.source AS sb
            FROM pairs
            JOIN documents da ON da.doc_id = pairs.a
            JOIN documents db ON db.doc_id = pairs.b
        )
        SELECT COUNT(*) AS n_pairs,
               CAST(SUM(CASE WHEN sa = sb THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_same_source,
               CAST(SUM(CASE WHEN sa != sb THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_cross_source,
               ROUND(SUM(CASE WHEN sa != sb THEN 1 ELSE 0 END)
                     / CAST(COUNT(*) AS DOUBLE), 6) AS cross_source_frac
        FROM tagged
    """,
    }
)


#: x121 — prefix-filter join threshold (kept at l2's 0.8 so the result
#: is the SAME relation, computed by a different algorithm).
PREFIX_T = 0.8


def x121_prefix_filter_pairs(spark, sf_dir):
    """Exact Jaccard-≥0.8 pairs by PREFIX FILTERING (PPJoin-style:
    operators/dedup.py:prefix_filter_jaccard_pairs) — the same relation
    l2 computes, produced by self-joining only each doc's ⌊(1−t)·|A|⌋+1
    globally rarest shingles (no false negatives, by pigeonhole) and
    verifying candidates with per-doc sorted-array intersects.  The
    frequency-ascending prefix order is the principled hot-shingle skew
    defence: stopword shingles land outside prefixes and never generate
    candidates."""
    from social_warner_spark.operators.dedup import prefix_filter_jaccard_pairs

    return prefix_filter_jaccard_pairs(
        T(spark, sf_dir, "documents"), threshold=PREFIX_T
    )


QUERIES.update({"x121_prefix_filter_pairs": x121_prefix_filter_pairs})

ORACLES.update(
    {
        # the oracle is DELIBERATELY the plain all-candidates form — prefix
        # filtering must reproduce it exactly
        "x121_prefix_filter_pairs": f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ), sh AS (
            SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
            FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
            WHERE len(t) >= 3
        ), sizes AS (
            SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
        ), shared AS (
            SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, COUNT(*) AS shared
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_id_a, doc_id_b,
               ROUND(shared / (sa.sz + sb.sz - shared), 6) AS jaccard
        FROM shared
        JOIN sizes sa ON sa.doc_id = doc_id_a
        JOIN sizes sb ON sb.doc_id = doc_id_b
        WHERE ROUND(shared / (sa.sz + sb.sz - shared), 6) >= {PREFIX_T}
    """,
    }
)


#: x122 — result size.
TFIDF_PAIR_TOPK = 10


def x122_tfidf_doc_similarity(spark, sf_dir):
    """Document-pair cosine over TF-IDF weights via an INVERTED INDEX:
    pair dot products accumulate only over SHARED terms (join on term,
    group by pair) — the sparse-vector similarity join that never
    materializes dense vectors.  Weights and norms are 6dp-pinned before
    the pair stage so the (unordered) per-pair accumulation sums the
    same rounded doubles in both engines; top-10 pairs by cosine.
    Candidate volume is bounded by shared-term pairs — the same envelope
    as the Jaccard join, with idf down-weighting exactly the hot terms
    that would otherwise dominate it."""
    from social_warner_spark.functions.text import tokens

    d = T(spark, sf_dir, "documents")
    staged = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    tf = staged.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    n_docs = d.agg(F.count("*").alias("_n"))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    w = (
        # df is vocabulary-scaled (Heaps-law growth) → no broadcast hint
        tf.join(df, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * F.log((F.col("_n") + 1.0) / (F.col("df") + 1.0)), 6
            ).alias("w"),
        )
    )
    norms = w.groupBy("doc_id").agg(
        F.round(F.sqrt(F.sum(F.col("w") * F.col("w"))), 6).alias("nrm")
    )
    a, b = w.alias("a"), w.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_id_a"), F.col("b.doc_id").alias("doc_id_b")
        )
        .agg(F.sum(F.col("a.w") * F.col("b.w")).alias("_dot"))
    )
    scored = (
        # norms is |docs|-scaled → no broadcast hint (r05 verdict)
        dots.join(
            norms.withColumnsRenamed({"doc_id": "doc_id_a", "nrm": "_na"}),
            "doc_id_a",
        )
        .join(
            norms.withColumnsRenamed({"doc_id": "doc_id_b", "nrm": "_nb"}),
            "doc_id_b",
        )
        .select(
            "doc_id_a",
            "doc_id_b",
            F.round(F.col("_dot") / (F.col("_na") * F.col("_nb")), 6).alias("cos"),
        )
    )
    wtop = Window.orderBy(F.desc("cos"), "doc_id_a", "doc_id_b")
    return (
        scored.orderBy(F.desc("cos"), F.asc("doc_id_a"), F.asc("doc_id_b"))
        .limit(TFIDF_PAIR_TOPK)
        .withColumn("rk", F.row_number().over(wtop).cast("int"))
    )


QUERIES.update({"x122_tfidf_doc_similarity": x122_tfidf_doc_similarity})

ORACLES.update(
    {
        "x122_tfidf_doc_similarity": f"""
        WITH staged AS (
            SELECT doc_id, unnest(string_split(trim(text), ' ')) AS term
            FROM documents
        ), tf AS (
            SELECT doc_id, term, COUNT(*) AS tf FROM staged GROUP BY 1, 2
        ), nd AS (
            SELECT COUNT(*) AS n FROM documents
        ), df AS (
            SELECT term, COUNT(*) AS df FROM tf GROUP BY term
        ), w AS (
            SELECT doc_id, tf.term,
                   ROUND(tf * ln((nd.n + 1.0) / (df.df + 1.0)), 6) AS w
            FROM tf JOIN df ON tf.term = df.term, nd
        ), norms AS (
            SELECT doc_id, ROUND(sqrt(SUM(w * w)), 6) AS nrm FROM w GROUP BY doc_id
        ), dots AS (
            SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
                   SUM(a.w * b.w) AS dot
            FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ), scored AS (
            SELECT doc_id_a, doc_id_b,
                   ROUND(dot / (na.nrm * nb.nrm), 6) AS cos
            FROM dots
            JOIN norms na ON na.doc_id = doc_id_a
            JOIN norms nb ON nb.doc_id = doc_id_b
        )
        SELECT doc_id_a, doc_id_b, cos,
               CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id_a, doc_id_b) AS INT)
                   AS rk
        FROM scored
        QUALIFY rk <= {TFIDF_PAIR_TOPK}
    """,
    }
)


#: x128 — bin count per axis for the MI grid.
MI_BINS = 10
#: x129 — top-term list size compared across halves.
CHURN_TOPK = 100


def x128_mutual_information(spark, sf_dir):
    """Binned mutual information between document quality and length —
    the feature-redundancy check that says whether 'quality' carries
    information beyond 'length' before both drive selection (the
    continuous companion to x117's decile means).  Both variables are
    decile-binned by ntile; MI sums over the ≤100-cell joint histogram,
    so everything past the two rank windows is grid-sized."""
    from social_warner_spark.functions.text import quality_score

    d = T(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", quality_score(F.col("text")).alias("_q")
    )
    # r05: two distributed exact ntiles — the corpus never passes
    # through a single-partition sort (operators/ordered.py).
    from social_warner_spark.operators.ordered import with_global_ntile

    binned = with_global_ntile(
        with_global_ntile(d, ["n_chars", "doc_id"], MI_BINS, "bx"),
        ["_q", "doc_id"],
        MI_BINS,
        "by",
    ).select("bx", "by")
    joint = binned.groupBy("bx", "by").agg(F.count("*").alias("c"))
    n = d.agg(F.count("*").alias("_n"))
    px = joint.groupBy("bx").agg(F.sum("c").alias("cx"))
    py = joint.groupBy("by").agg(F.sum("c").alias("cy"))
    terms = (
        joint.join(F.broadcast(px), "bx")
        .join(F.broadcast(py), "by")
        .crossJoin(F.broadcast(n))
        .select(
            (
                (F.col("c") / F.col("_n"))
                * F.log(
                    (F.col("c").cast("double") * F.col("_n"))
                    / (F.col("cx").cast("double") * F.col("cy"))
                )
            ).alias("_t")
        )
    )
    return terms.agg(r6(F.sum("_t")).alias("mutual_information_nats"))


def x129_vocab_churn(spark, sf_dir):
    """Vocabulary churn between corpus halves (doc_id parity split): the
    top-100 term lists of each half compared by overlap count and
    Jaccard — the drift audit run between two crawl snapshots before
    assuming one tokenizer/vocabulary still fits.  Term counts are
    vocabulary-bounded; the rank windows partition by half and the final
    compare is 2×top-k rows."""
    from social_warner_spark.functions.text import tokens

    d = T(spark, sf_dir, "documents")
    terms = d.select(
        (F.col("doc_id") % 2 == 0).alias("_h"),
        F.explode(tokens(F.col("text"))).alias("term"),
    )
    counts = terms.groupBy("_h", "term").agg(F.count("*").alias("c"))
    ranked = counts.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("_h").orderBy(F.desc("c"), F.asc("term"))
        ),
    ).where(F.col("rk") <= CHURN_TOPK)
    a = ranked.where(F.col("_h")).select(F.col("term").alias("ta"))
    b = ranked.where(~F.col("_h")).select(F.col("term").alias("tb"))
    overlap = a.join(b, a["ta"] == b["tb"]).agg(F.count("*").alias("n_shared"))
    return overlap.select(
        F.lit(CHURN_TOPK).alias("top_k"),
        "n_shared",
        r6(
            F.col("n_shared") / (F.lit(2 * CHURN_TOPK) - F.col("n_shared")).cast("double")
        ).alias("jaccard"),
    )


QUERIES.update(
    {
        "x128_mutual_information": x128_mutual_information,
        "x129_vocab_churn": x129_vocab_churn,
    }
)

ORACLES.update(
    {
        "x128_mutual_information": """
        WITH d AS (
            SELECT doc_id, n_chars, {q} AS q FROM documents
        ), binned AS (
            SELECT NTILE(10) OVER (ORDER BY n_chars, doc_id) AS bx,
                   NTILE(10) OVER (ORDER BY ROUND(q, 6), doc_id) AS by
            FROM d
        ), joint AS (
            SELECT bx, by, COUNT(*) AS c FROM binned GROUP BY bx, by
        ), n AS (
            SELECT COUNT(*) AS n FROM d
        ), px AS (
            SELECT bx, SUM(c) AS cx FROM joint GROUP BY bx
        ), py AS (
            SELECT by, SUM(c) AS cy FROM joint GROUP BY by
        )
        SELECT ROUND(SUM((c / CAST(n.n AS DOUBLE))
                   * ln((CAST(c AS DOUBLE) * n.n)
                        / (CAST(cx AS DOUBLE) * cy))), 6)
                   AS mutual_information_nats
        FROM joint
        JOIN px ON joint.bx = px.bx
        JOIN py ON joint.by = py.by, n
    """,
        "x129_vocab_churn": f"""
        WITH terms AS (
            SELECT doc_id % 2 = 0 AS h,
                   unnest(string_split(trim(text), ' ')) AS term
            FROM documents
        ), counts AS (
            SELECT h, term, COUNT(*) AS c FROM terms GROUP BY h, term
        ), ranked AS (
            SELECT h, term,
                   ROW_NUMBER() OVER (PARTITION BY h ORDER BY c DESC, term ASC) AS rk
            FROM counts
        ), a AS (
            SELECT term FROM ranked WHERE h AND rk <= {CHURN_TOPK}
        ), b AS (
            SELECT term FROM ranked WHERE NOT h AND rk <= {CHURN_TOPK}
        ), overlap AS (
            SELECT COUNT(*) AS n_shared FROM a JOIN b ON a.term = b.term
        )
        SELECT {CHURN_TOPK} AS top_k, n_shared,
               ROUND(n_shared / CAST({2 * CHURN_TOPK} - n_shared AS DOUBLE), 6)
                   AS jaccard
        FROM overlap
    """,
    }
)

ORACLES["x128_mutual_information"] = ORACLES["x128_mutual_information"].replace(
    "{q}", _QUALITY_SQL
)


def x138_cluster_size_histogram(spark, sf_dir):
    """Near-dup bookkeeping: the distribution of x27 cluster sizes plus
    the corpus dup-inflation factor (docs per surviving cluster) — the
    before/after accounting a dedup run reports.  One |docs|-row
    aggregate over the propagation labels."""
    from social_warner_spark.operators.dedup import neardup_clusters

    from social_warner_spark.caching import register_persisted

    clusters = neardup_clusters(T(spark, sf_dir, "documents"), threshold=0.5)
    sizes = clusters.groupBy("cluster_id").agg(F.count("*").alias("sz"))
    # r08: totals derive FROM the bounded histogram (Σ sz·n_clusters ≡
    # Σ sz, Σ n_clusters ≡ |clusters|; every product counts docs, so
    # nothing exceeds |docs|) — previously `sizes` fed hist AND a
    # separate totals aggregate: a second |clusters|-row aggregate pass
    # whose shared join lineage was only deduplicated IF AQE's runtime
    # stage reuse fired (the static plan carried both branches — 18
    # Exchanges, 4 scans — and reuse is an optimizer courtesy, not a
    # contract).  Single evaluation is now structural; hist is
    # |distinct sizes| rows, so its persist is O(100), not corpus-scale.
    hist = register_persisted(
        sizes.groupBy("sz").agg(F.count("*").alias("n_clusters")).persist()
    )
    totals = hist.agg(
        F.sum(F.col("sz") * F.col("n_clusters")).alias("_docs"),
        F.sum("n_clusters").alias("_cl"),
    )
    return hist.crossJoin(F.broadcast(totals)).select(
        F.col("sz").alias("cluster_size"),
        "n_clusters",
        r6(F.col("_docs") / F.col("_cl").cast("double")).alias("inflation_factor"),
    )


def x139_cold_start_parts(spark, sf_dir):
    """Cold-start inventory: parts never co-purchased with any other
    part (degree 0 in the co-purchase graph) — the items a
    'bought-together' recommender can say nothing about.  The connected
    part set comes from the bounded within-order pair join; the
    cold-start set is one anti-join against the part dimension (both
    sides scale with SF, so no broadcast hints — AQE decides)."""
    li = T(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    per_order = li.groupBy("ok").agg(F.count("*").alias("_n"))
    connected = (
        # per_order is |orders|-scaled → no broadcast hint (r05 verdict)
        li.join(per_order.where(F.col("_n") >= 2), "ok")
        .select("pk")
        .distinct()
    )
    p = T(spark, sf_dir, "part").select(F.col("p_partkey").alias("pk"))
    cold = p.join(connected, "pk", "left_anti").agg(
        F.count("*").alias("n_cold")
    )
    totals = p.agg(F.count("*").alias("n_parts"))
    return totals.crossJoin(cold).select(
        "n_parts",
        "n_cold",
        r6(F.col("n_cold") / F.col("n_parts").cast("double")).alias("cold_frac"),
    )


QUERIES.update(
    {
        "x138_cluster_size_histogram": x138_cluster_size_histogram,
        "x139_cold_start_parts": x139_cold_start_parts,
    }
)

ORACLES.update(
    {
        "x138_cluster_size_histogram": NEARDUP_CLUSTERS_CTE
        + """
        , csize AS (
            SELECT cluster_id, COUNT(*) AS sz FROM clusters GROUP BY cluster_id
        ), hist AS (
            SELECT sz, COUNT(*) AS n_clusters FROM csize GROUP BY sz
        ), totals AS (
            SELECT SUM(sz) AS docs, COUNT(*) AS cl FROM csize
        )
        SELECT sz AS cluster_size, n_clusters,
               ROUND(docs / CAST(cl AS DOUBLE), 6) AS inflation_factor
        FROM hist, totals
    """,
        "x139_cold_start_parts": """
        WITH li AS (
            SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        ), multi AS (
            SELECT ok FROM li GROUP BY ok HAVING COUNT(*) >= 2
        ), connected AS (
            SELECT DISTINCT pk FROM li JOIN multi USING (ok)
        ), cold AS (
            SELECT COUNT(*) AS n_cold FROM part
            WHERE p_partkey NOT IN (SELECT pk FROM connected)
        ), totals AS (
            SELECT COUNT(*) AS n_parts FROM part
        )
        SELECT n_parts, n_cold,
               ROUND(n_cold / CAST(n_parts AS DOUBLE), 6) AS cold_frac
        FROM totals, cold
    """,
    }
)


def x151_triplet_mining(spark, sf_dir):
    """Contrastive triplet mining: (anchor, positive, negative) rows
    where positives are Jaccard-≥0.5 near-dup partners and each
    anchor's negative is the next document on the md5 HASH RING that is
    neither member of the pair — deterministic negative sampling with no
    RNG, the standard way contrastive training data is cut.  The ring
    is one ordered window over |docs|; negatives resolve with ≤2 lead
    lookups (wrap handled by coalescing to the ring head)."""
    from social_warner_spark.operators.dedup import exact_jaccard_pairs

    docs = T(spark, sf_dir, "documents")
    pairs = exact_jaccard_pairs(docs, threshold=0.5).select(
        F.col("doc_id_a").alias("anchor"), F.col("doc_id_b").alias("positive")
    )
    ring = docs.select(
        "doc_id", F.md5(F.col("doc_id").cast("string")).alias("_h")
    )
    w = Window.orderBy("_h")
    ringed = ring.select(
        "doc_id",
        F.lead("doc_id", 1).over(w).alias("_n1"),
        F.lead("doc_id", 2).over(w).alias("_n2"),
    )
    head = (
        ring.orderBy("_h")
        .limit(2)
        .agg(
            F.min_by(F.col("doc_id"), F.col("_h")).alias("_h1"),
            F.max_by(F.col("doc_id"), F.col("_h")).alias("_h2"),
        )
    )
    j = pairs.join(
        ringed.withColumnsRenamed({"doc_id": "anchor"}), "anchor"
    ).crossJoin(F.broadcast(head))
    cand1 = F.coalesce(F.col("_n1"), F.col("_h1"))
    cand2 = F.coalesce(F.col("_n2"), F.col("_h2"))
    negative = F.when(
        (cand1 != F.col("anchor")) & (cand1 != F.col("positive")), cand1
    ).otherwise(
        F.when((cand2 != F.col("anchor")) & (cand2 != F.col("positive")), cand2)
    )
    return j.select("anchor", "positive", negative.alias("negative")).where(
        F.col("negative").isNotNull()
    )


QUERIES.update({"x151_triplet_mining": x151_triplet_mining})

ORACLES.update(
    {
        "x151_triplet_mining": """
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ), sh AS (
            SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
            FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
            WHERE len(t) >= 3
        ), sizes AS (
            SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
        ), shared AS (
            SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS c
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ), pairs AS (
            SELECT a AS anchor, b AS positive FROM shared
            JOIN sizes sa ON sa.doc_id = a
            JOIN sizes sb ON sb.doc_id = b
            WHERE ROUND(c / (sa.sz + sb.sz - c), 6) >= 0.5
        ), ring AS (
            SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents
        ), ringed AS (
            SELECT doc_id,
                   LEAD(doc_id, 1) OVER (ORDER BY h) AS n1,
                   LEAD(doc_id, 2) OVER (ORDER BY h) AS n2
            FROM ring
        ), head AS (
            SELECT MIN_BY(doc_id, h) AS h1, MAX_BY(doc_id, h) AS h2
            FROM (SELECT doc_id, h FROM ring ORDER BY h LIMIT 2)
        ), j AS (
            SELECT p.anchor, p.positive,
                   COALESCE(r.n1, head.h1) AS c1,
                   COALESCE(r.n2, head.h2) AS c2
            FROM pairs p JOIN ringed r ON r.doc_id = p.anchor, head
        )
        SELECT anchor, positive,
               CASE WHEN c1 != anchor AND c1 != positive THEN c1
                    WHEN c2 != anchor AND c2 != positive THEN c2
               END AS negative
        FROM j
        WHERE CASE WHEN c1 != anchor AND c1 != positive THEN c1
                   WHEN c2 != anchor AND c2 != positive THEN c2
              END IS NOT NULL
    """,
    }
)


def x152_curriculum_deciles(spark, sf_dir):
    """Curriculum ordering by language-model score: documents ranked by
    their x43-style unigram log-prob (easy → hard), cut into deciles,
    with per-decile mean quality and token mass — the schedule table a
    curriculum loader consumes.  The LM is vocabulary-bounded; the
    decile cut is one ntile window over |docs| scores."""
    from social_warner_spark.functions.text import token_count_ws, tokens

    d = T(spark, sf_dir, "documents")
    staged = d.select("doc_id", tokens(F.col("text")).alias("_toks"))
    tok = staged.select("doc_id", F.explode("_toks").alias("w"))
    counts = tok.groupBy("w").agg(F.count("*").alias("c"))
    tot = counts.agg(F.sum("c").alias("_t"))
    scored = (
        tok.join(counts, "w")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.avg(F.log(F.col("c").cast("double") / F.col("_t"))), 6
            ).alias("_lp")
        )
    )
    with_len = scored.join(
        d.select("doc_id", token_count_ws(F.col("text")).alias("_n")), "doc_id"
    )
    # r05: distributed exact ntile — no single-partition sort of |docs|.
    from social_warner_spark.operators.ordered import with_global_ntile

    return (
        with_global_ntile(
            with_len, [F.desc("_lp"), F.asc("doc_id")], 10, "decile"
        )
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_docs"),
            r6(F.avg("_lp")).alias("mean_logprob"),
            F.sum("_n").alias("total_tokens"),
        )
    )


#: x153 — the benchmark probe sets scanned in ONE pass.
BENCHMARKS = (("bench_small_ids", "doc_id < 5"), ("bench_mod97", "doc_id % 97 = 0"))


def x153_multi_benchmark_decontamination(spark, sf_dir):
    """Decontamination against MULTIPLE benchmarks in ONE corpus pass:
    each probe set's 4-gram shingles are tagged with the benchmark name,
    unioned, broadcast, and joined once — per (benchmark, doc) overlap
    counts without re-scanning the corpus per eval suite (the real
    shape: dozens of benchmarks, one sweep).  Generalizes x28."""
    from social_warner_spark.operators.dedup import doc_shingles

    docs = T(spark, sf_dir, "documents")
    probes = None
    for name, cond in BENCHMARKS:
        p = (
            doc_shingles(docs.where(F.expr(cond)), n=4)
            .select("shingle")
            .distinct()
            .withColumn("benchmark", F.lit(name))
        )
        probes = p if probes is None else probes.unionByName(p)
    corpus = doc_shingles(
        docs.where(F.col("doc_id") >= 5).where(F.col("doc_id") % 97 != 0), n=4
    )
    return (
        corpus.join(F.broadcast(probes), "shingle")
        .groupBy("benchmark", "doc_id")
        .agg(F.count("*").alias("n_shared_ngrams"))
    )


QUERIES.update(
    {
        "x152_curriculum_deciles": x152_curriculum_deciles,
        "x153_multi_benchmark_decontamination": x153_multi_benchmark_decontamination,
    }
)

ORACLES.update(
    {
        "x152_curriculum_deciles": """
        WITH toks AS (
            SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents
        ), tok AS (
            SELECT doc_id, u.w AS w FROM toks, UNNEST(t) AS u(w)
        ), counts AS (
            SELECT w, COUNT(*) AS c FROM tok GROUP BY w
        ), tot AS (
            SELECT SUM(c) AS t FROM counts
        ), scored AS (
            SELECT doc_id,
                   ROUND(AVG(ln(CAST(c AS DOUBLE) / tot.t)), 6) AS lp
            FROM tok JOIN counts USING (w), tot
            GROUP BY doc_id
        ), with_len AS (
            SELECT s.doc_id, s.lp, len(string_split(trim(d.text), ' ')) AS n
            FROM scored s JOIN documents d ON d.doc_id = s.doc_id
        ), cut AS (
            SELECT lp, n, NTILE(10) OVER (ORDER BY lp DESC, doc_id ASC) AS decile
            FROM with_len
        )
        SELECT decile, COUNT(*) AS n_docs,
               ROUND(AVG(lp), 6) AS mean_logprob,
               CAST(SUM(n) AS BIGINT) AS total_tokens
        FROM cut GROUP BY decile
    """,
        "x153_multi_benchmark_decontamination": """
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ), sh4 AS (
            SELECT DISTINCT doc_id,
                   t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] AS shingle
            FROM toks, UNNEST(range(1, len(t) - 2)) AS u(i)
            WHERE len(t) >= 4
        ), probes AS (
            SELECT 'bench_small_ids' AS benchmark, shingle
            FROM (SELECT DISTINCT shingle FROM sh4 WHERE doc_id < 5)
            UNION ALL
            SELECT 'bench_mod97', shingle
            FROM (SELECT DISTINCT shingle FROM sh4 WHERE doc_id % 97 = 0)
        ), corpus AS (
            SELECT doc_id, shingle FROM sh4
            WHERE doc_id >= 5 AND doc_id % 97 != 0
        )
        SELECT probes.benchmark, corpus.doc_id, COUNT(*) AS n_shared_ngrams
        FROM corpus JOIN probes ON corpus.shingle = probes.shingle
        GROUP BY 1, 2
    """,
    }
)


#: x156 — target training-token budget and per-source repeat cap.
EPOCH_TARGET_TOKENS = 50_000
EPOCH_CAP = 4.0


def x155_effective_tokens(spark, sf_dir):
    """Post-dedup data budget: per source, raw vs EFFECTIVE tokens
    (counting only x77's cluster survivors) and the shrinkage — the
    number that actually matters when sizing a training mix, since
    duplicates contribute no new signal.  Survivor labels are a |docs|
    relation joined once onto per-doc token counts."""
    from social_warner_spark.functions.text import token_count_ws
    from social_warner_spark.operators.dedup import neardup_clusters

    docs = T(spark, sf_dir, "documents")
    clusters = neardup_clusters(docs, threshold=0.5)
    sized = docs.select(
        "doc_id", "source", token_count_ws(F.col("text")).alias("_n"), "n_chars"
    ).join(clusters, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    marked = sized.withColumn("_keep", F.row_number().over(w) == 1)
    return marked.groupBy("source").agg(
        F.sum("_n").alias("raw_tokens"),
        F.sum(F.when(F.col("_keep"), F.col("_n")).otherwise(0)).alias(
            "effective_tokens"
        ),
        r6(
            F.lit(1.0)
            - F.sum(F.when(F.col("_keep"), F.col("_n")).otherwise(0))
            / F.sum("_n").cast("double")
        ).alias("dup_shrinkage"),
    )


def x156_source_epochs(spark, sf_dir):
    """Training-mix epoch table (the LLaMA-style data card): per source,
    the α-tempered target share (x113's weights), the token DRAW the
    budget implies, and the resulting epochs over the source's actual
    tokens — capped at 4 (sampling a source more than ~4× is known to
    degrade; capped sources report their cap).  One |sources| relation
    end to end."""
    from social_warner_spark.functions.text import token_count_ws

    d = T(spark, sf_dir, "documents")
    src = d.groupBy("source").agg(
        F.sum(token_count_ws(F.col("text"))).alias("tokens")
    )
    tot = src.agg(F.sum("tokens").alias("_tt"))
    shared = src.crossJoin(F.broadcast(tot)).select(
        "source",
        "tokens",
        F.pow(
            F.round(F.col("tokens") / F.col("_tt").cast("double"), 6), 0.5
        ).alias("_scaled"),
    )
    z = shared.agg(F.round(F.sum("_scaled"), 6).alias("_z"))
    return shared.crossJoin(F.broadcast(z)).select(
        "source",
        "tokens",
        r6(F.col("_scaled") / F.col("_z")).alias("alpha_share"),
        F.round(
            F.col("_scaled") / F.col("_z") * EPOCH_TARGET_TOKENS
        ).cast("long").alias("target_draw"),
        r6(
            F.least(
                F.lit(EPOCH_CAP),
                (F.col("_scaled") / F.col("_z") * EPOCH_TARGET_TOKENS)
                / F.col("tokens").cast("double"),
            )
        ).alias("epochs"),
    )


QUERIES.update(
    {
        "x155_effective_tokens": x155_effective_tokens,
        "x156_source_epochs": x156_source_epochs,
    }
)

ORACLES.update(
    {
        "x155_effective_tokens": NEARDUP_CLUSTERS_CTE
        + """
        , sized AS (
            SELECT d.doc_id, d.source,
                   len(string_split(trim(d.text), ' ')) AS n, d.n_chars,
                   c.cluster_id
            FROM documents d JOIN clusters c ON c.doc_id = d.doc_id
        ), marked AS (
            SELECT source, n,
                   ROW_NUMBER() OVER (PARTITION BY cluster_id
                                      ORDER BY n_chars DESC, doc_id) = 1 AS keep
            FROM sized
        )
        SELECT source,
               CAST(SUM(n) AS BIGINT) AS raw_tokens,
               CAST(SUM(CASE WHEN keep THEN n ELSE 0 END) AS BIGINT)
                   AS effective_tokens,
               ROUND(1.0 - SUM(CASE WHEN keep THEN n ELSE 0 END)
                     / CAST(SUM(n) AS DOUBLE), 6) AS dup_shrinkage
        FROM marked GROUP BY source
    """,
        "x156_source_epochs": f"""
        WITH src AS (
            SELECT source, CAST(SUM(len(string_split(trim(text), ' '))) AS BIGINT)
                       AS tokens
            FROM documents GROUP BY source
        ), tot AS (
            SELECT SUM(tokens) AS tt FROM src
        ), shared AS (
            SELECT source, tokens,
                   POWER(ROUND(tokens / CAST(tt AS DOUBLE), 6), 0.5) AS scaled
            FROM src, tot
        ), z AS (
            SELECT ROUND(SUM(scaled), 6) AS z FROM shared
        )
        SELECT source, tokens,
               ROUND(scaled / z, 6) AS alpha_share,
               CAST(ROUND(scaled / z * {EPOCH_TARGET_TOKENS}) AS BIGINT)
                   AS target_draw,
               ROUND(LEAST({EPOCH_CAP},
                     (scaled / z * {EPOCH_TARGET_TOKENS})
                     / CAST(tokens AS DOUBLE)), 6) AS epochs
        FROM shared, z
    """,
    }
)


#: x160 — anonymity threshold and length-bucket width.
K_ANON = 5
K_ANON_BUCKET = 100


def x159_signal_agreement(spark, sf_dir):
    """Quality-signal agreement: Pearson AND Spearman correlation between
    the heuristic quality score (x4) and the unigram-LM log-prob (x43)
    per document — if two 'quality' signals disagree, at least one is
    measuring something else.  Spearman is computed honestly: rank
    transforms (two windows) then Pearson on the ranks.  Both
    correlations are single-pass moments after the |docs|-sized rank
    stage."""
    from social_warner_spark.functions.text import quality_score, tokens

    d = T(spark, sf_dir, "documents")
    staged = d.select(
        "doc_id", quality_score(F.col("text")).alias("_q"), tokens(F.col("text")).alias("_toks")
    )
    tok = staged.select("doc_id", F.explode("_toks").alias("w"))
    counts = tok.groupBy("w").agg(F.count("*").alias("c"))
    tot = counts.agg(F.sum("c").alias("_t"))
    lp = (
        tok.join(counts, "w")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(F.round(F.avg(F.log(F.col("c").cast("double") / F.col("_t"))), 6).alias("_lp"))
    )
    j = staged.select("doc_id", "_q").join(lp, "doc_id")
    ranked = j.select(
        "_q",
        "_lp",
        F.row_number().over(Window.orderBy("_q", "doc_id")).alias("_rq"),
        F.row_number().over(Window.orderBy("_lp", "doc_id")).alias("_rl"),
    )
    return ranked.agg(
        F.count("*").alias("n_docs"),
        r6(F.corr(F.col("_q"), F.col("_lp"))).alias("pearson"),
        r6(
            F.corr(F.col("_rq").cast("double"), F.col("_rl").cast("double"))
        ).alias("spearman"),
    )


def x160_k_anonymity(spark, sf_dir):
    """k-anonymity audit over document metadata: how many documents sit
    in a (lang, source, length-bucket) quasi-identifier combination with
    fewer than k=5 members — the re-identification risk screen run
    before releasing 'anonymized' metadata.  One combo aggregate; the
    risk roll-up is |combos|-sized."""
    d = T(spark, sf_dir, "documents").select(
        "lang",
        "source",
        (F.col("n_chars") / K_ANON_BUCKET).cast("long").alias("len_bucket"),
    )
    combos = d.groupBy("lang", "source", "len_bucket").agg(
        F.count("*").alias("sz")
    )
    return combos.agg(
        F.count("*").alias("n_combos"),
        F.sum((F.col("sz") < K_ANON).cast("long")).alias("n_risky_combos"),
        F.sum(F.when(F.col("sz") < K_ANON, F.col("sz")).otherwise(0)).alias(
            "n_risky_docs"
        ),
        r6(
            F.sum(F.when(F.col("sz") < K_ANON, F.col("sz")).otherwise(0))
            / F.sum("sz").cast("double")
        ).alias("risky_frac"),
    )


QUERIES.update(
    {
        "x159_signal_agreement": x159_signal_agreement,
        "x160_k_anonymity": x160_k_anonymity,
    }
)

ORACLES.update(
    {
        "x159_signal_agreement": """
        WITH staged AS (
            SELECT doc_id, ROUND({q}, 6) AS q,
                   string_split(trim(text), ' ') AS t
            FROM documents
        ), tok AS (
            SELECT doc_id, u.w AS w FROM staged, UNNEST(t) AS u(w)
        ), counts AS (
            SELECT w, COUNT(*) AS c FROM tok GROUP BY w
        ), tot AS (
            SELECT SUM(c) AS t FROM counts
        ), lp AS (
            SELECT doc_id, ROUND(AVG(ln(CAST(c AS DOUBLE) / tot.t)), 6) AS lp
            FROM tok JOIN counts USING (w), tot GROUP BY doc_id
        ), j AS (
            SELECT s.doc_id, s.q, lp.lp FROM staged s JOIN lp USING (doc_id)
        ), ranked AS (
            SELECT q, lp,
                   ROW_NUMBER() OVER (ORDER BY q, doc_id) AS rq,
                   ROW_NUMBER() OVER (ORDER BY lp, doc_id) AS rl
            FROM j
        )
        SELECT COUNT(*) AS n_docs,
               ROUND(corr(q, lp), 6) AS pearson,
               ROUND(corr(CAST(rq AS DOUBLE), CAST(rl AS DOUBLE)), 6) AS spearman
        FROM ranked
    """,
        "x160_k_anonymity": f"""
        WITH combos AS (
            SELECT lang, source, n_chars // {K_ANON_BUCKET} AS len_bucket,
                   COUNT(*) AS sz
            FROM documents GROUP BY 1, 2, 3
        )
        SELECT COUNT(*) AS n_combos,
               CAST(SUM(CASE WHEN sz < {K_ANON} THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_risky_combos,
               CAST(SUM(CASE WHEN sz < {K_ANON} THEN sz ELSE 0 END) AS BIGINT)
                   AS n_risky_docs,
               ROUND(SUM(CASE WHEN sz < {K_ANON} THEN sz ELSE 0 END)
                     / CAST(SUM(sz) AS DOUBLE), 6) AS risky_frac
        FROM combos
    """,
    }
)

ORACLES["x159_signal_agreement"] = ORACLES["x159_signal_agreement"].replace(
    "{q}", _QUALITY_SQL
)


def x161_pair_budget_forecast(spark, sf_dir):
    """Candidate-pair budget forecast for the shingle self-join: Σ over
    shingles of C(df, 2) — the EXACT row count the l2/x86 join will
    shuffle, computed from the |shingles|-sized document-frequency table
    BEFORE running the join — plus the hottest shingle's df and its
    share of the budget (the evidence behind the x121 prefix ordering).
    One aggregate over df; no pair is ever materialized."""
    from social_warner_spark.operators.dedup import doc_shingles

    sh = doc_shingles(T(spark, sf_dir, "documents"), n=3)
    df = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    budget = df.agg(
        F.count("*").alias("n_shingles"),
        F.sum(F.col("df") * (F.col("df") - 1) / 2).cast("long").alias(
            "candidate_pairs"
        ),
        F.max("df").alias("max_df"),
    )
    hottest = (
        df.orderBy(F.desc("df"), F.asc("shingle"))
        .limit(1)
        .select(
            F.col("shingle").alias("hottest_shingle"),
            (F.col("df") * (F.col("df") - 1) / 2).cast("long").alias("_hp"),
        )
    )
    return budget.crossJoin(hottest).select(
        "n_shingles",
        "candidate_pairs",
        "max_df",
        "hottest_shingle",
        r6(F.col("_hp") / F.col("candidate_pairs").cast("double")).alias(
            "hottest_share"
        ),
    )


QUERIES.update({"x161_pair_budget_forecast": x161_pair_budget_forecast})

ORACLES.update(
    {
        "x161_pair_budget_forecast": """
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ), sh AS (
            SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
            FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
            WHERE len(t) >= 3
        ), df AS (
            SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle
        ), budget AS (
            SELECT COUNT(*) AS n_shingles,
                   CAST(SUM(df * (df - 1) / 2) AS BIGINT) AS candidate_pairs,
                   MAX(df) AS max_df
            FROM df
        ), hottest AS (
            SELECT shingle AS hottest_shingle,
                   CAST(df * (df - 1) / 2 AS BIGINT) AS hp
            FROM df ORDER BY df DESC, shingle ASC LIMIT 1
        )
        SELECT n_shingles, candidate_pairs, max_df, hottest_shingle,
               ROUND(hp / CAST(candidate_pairs AS DOUBLE), 6) AS hottest_share
        FROM budget, hottest
    """,
    }
)


def x162_ann_bucket_budget(spark, sf_dir):
    """Candidate budget for the banded sign-LSH embedding join (x7's
    plan, forecast BEFORE running it): per band, bucket-size histogram →
    Σ C(bucket, 2) candidates, plus the fullest bucket's share — the
    embedding-side companion to x161.  Buckets come from the same
    sign_band_key expressions the join uses; everything past the
    per-bucket count is |bands·2^planes|-sized."""
    from social_warner_spark.operators.dedup import sign_band_key

    emb = T(spark, sf_dir, "embeddings")
    bands, planes = EMBED_BANDS, EMBED_PLANES_PER_BAND
    keyed = emb.select(
        *[
            sign_band_key(F.col("embedding"), b, planes).alias(f"band_{b}")
            for b in range(bands)
        ]
    )
    melted = None
    for b in range(bands):
        part = keyed.select(
            F.lit(b).alias("band"), F.col(f"band_{b}").alias("bk")
        )
        melted = part if melted is None else melted.unionByName(part)
    sizes = melted.groupBy("band", "bk").agg(F.count("*").alias("n"))
    return sizes.groupBy("band").agg(
        F.count("*").alias("n_buckets"),
        F.sum(F.col("n") * (F.col("n") - 1) / 2).cast("long").alias(
            "candidate_pairs"
        ),
        F.max("n").alias("max_bucket"),
    )


#: x163 — the SLO error-rate target.
SLO_TARGET = 0.22


def x163_error_budget(spark, sf_dir):
    """SRE error-budget report: daily error rate vs a fixed SLO target,
    the day's budget burn (rate/target), and the month-to-date burn —
    the on-call dashboard row.  One day-grain aggregate; the cumulative
    burn rides a single ordered window over |days|."""
    e = T(spark, sf_dir, "events")
    daily = e.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day")).agg(
        F.count("*").alias("n_events"),
        F.sum((F.col("event_type") == "error").cast("long")).alias("n_errors"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.select(
        "day",
        "n_events",
        "n_errors",
        r6(F.col("n_errors") / F.col("n_events").cast("double")).alias("error_rate"),
        r6(
            (F.col("n_errors") / F.col("n_events").cast("double")) / SLO_TARGET
        ).alias("daily_burn"),
        r6(
            (F.sum("n_errors").over(w) / F.sum("n_events").over(w).cast("double"))
            / SLO_TARGET
        ).alias("mtd_burn"),
    )


QUERIES.update(
    {
        "x162_ann_bucket_budget": x162_ann_bucket_budget,
        "x163_error_budget": x163_error_budget,
    }
)

ORACLES.update(
    {
        # sign_band_key mirrors x7's oracle expressions: sign bit of the
        # dot product with md5-derived hyperplane weights, concatenated
        # per band.  Reuse the exact SQL builder from the x7 oracle.
        "x162_ann_bucket_budget": None,  # filled below from x_series helpers
        "x163_error_budget": f"""
        WITH daily AS (
            SELECT strftime(ts, '%Y-%m-%d') AS day,
                   COUNT(*) AS n_events,
                   CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_errors
            FROM events GROUP BY 1
        )
        SELECT day, n_events, n_errors,
               ROUND(n_errors / CAST(n_events AS DOUBLE), 6) AS error_rate,
               ROUND((n_errors / CAST(n_events AS DOUBLE)) / {SLO_TARGET}, 6)
                   AS daily_burn,
               ROUND((SUM(n_errors) OVER (ORDER BY day
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      / CAST(SUM(n_events) OVER (ORDER BY day
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                          AS DOUBLE)) / {SLO_TARGET}, 6) AS mtd_burn
        FROM daily
    """,
    }
)

# x162's oracle reuses x7's exact band-key SQL builder so the forecast
# buckets are byte-identical to the join's.
from social_warner_spark.queries.x_series import (  # noqa: E402
    EMBED_BANDS,
    EMBED_PLANES_PER_BAND,
    _embed_band_key_sql,
)

ORACLES["x162_ann_bucket_budget"] = (
    "WITH keyed AS (\n"
    + "            SELECT "
    + ",\n                   ".join(
        f"({_embed_band_key_sql(b)}) AS band_{b}" for b in range(EMBED_BANDS)
    )
    + "\n            FROM embeddings\n"
    + "        ), melted AS (\n"
    + "\n            UNION ALL\n".join(
        f"            SELECT {b} AS band, band_{b} AS bk FROM keyed"
        for b in range(EMBED_BANDS)
    )
    + "\n        ), sizes AS (\n"
    + "            SELECT band, bk, COUNT(*) AS n FROM melted GROUP BY band, bk\n"
    + "        )\n"
    + "        SELECT band, COUNT(*) AS n_buckets,\n"
    + "               CAST(SUM(n * (n - 1) / 2) AS BIGINT) AS candidate_pairs,\n"
    + "               MAX(n) AS max_bucket\n"
    + "        FROM sizes GROUP BY band"
)
