"""x37 series — round-3 widening batch (x367–x371): vocabulary rank
movement, query-performance prediction (clarity), document typicality,
stop-word discovery, and labeling-budget learning curves.

Like every other series, each query is a pure DataFrame program over
the driver's parquet tables with an independently-written DuckDB
oracle; deterministic subsets come from the repo's md5 stream.

Literature grounding (public):
- Standard trending-terms rank-delta reporting.
- Cronen-Townsend, Zhou & Croft, "Predicting query performance"
  (SIGIR 2002) — the clarity score.
- TF-IDF centroid typicality (Salton's vector space model).
- Automatic stop-list construction (Lo, He & Ounis, 2005).
- Learning-curve / labeling-budget analysis (standard AL practice).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from social_warner_spark.functions.text import md5_int
from social_warner_spark.queries.common import T, r6

#: x367 — pool and report sizes.
RM_POOL = 100
RM_TOP = 10
#: x368 — feedback depth for the query model.
CL_FDOCS = 10
#: x369 — most/least typical documents reported per end.
TY_TOP = 5
#: x370 — candidate stop words must appear in over half the corpus.
SW_MIN_DF_SHARE = 0.5
#: x371 — labeling budgets (percent of docs, deterministic md5).
LB_BUDGETS = (10, 25, 50, 100)


def x367_rank_movers(spark, sf_dir):
    """Vocabulary rank movers between the first and second half of the
    corpus (by doc_id): for the top-100 overall tokens, the frequency
    rank in each half and the largest absolute rank moves — the
    trending-terms report that catches topic drift between crawl
    batches.

    Scale: two token counts + rank windows on the bounded pool."""
    from social_warner_spark.functions.text import tokens
    from social_warner_spark.caching import register_persisted

    d = T(spark, sf_dir, "documents")
    med = d.agg(
        F.expr("percentile(doc_id, 0.5)").alias("mid")
    )
    tok = register_persisted(
        d.crossJoin(F.broadcast(med))
        .select(
            (F.col("doc_id") <= F.col("mid")).alias("h1"),
            F.explode(tokens(F.col("text"))).alias("tok"),
        )
        .persist()
    )
    pool = (
        tok.groupBy("tok")
        .agg(F.count("*").alias("cf"))
        .orderBy(F.desc("cf"), F.asc("tok"))
        .limit(RM_POOL)
        .select("tok")
        .localCheckpoint(eager=True)
    )
    halves = (
        tok.join(F.broadcast(pool), "tok")
        .groupBy("tok")
        .agg(
            F.sum(F.col("h1").cast("long")).alias("c1"),
            F.sum((~F.col("h1")).cast("long")).alias("c2"),
        )
    )
    r1 = Window.orderBy(F.desc("c1"), F.asc("tok"))
    r2w = Window.orderBy(F.desc("c2"), F.asc("tok"))
    ranked = halves.select(
        "tok",
        "c1",
        "c2",
        F.row_number().over(r1).alias("rank_h1"),
        F.row_number().over(r2w).alias("rank_h2"),
    )
    w = Window.orderBy(
        F.desc(F.abs(F.col("rank_h1") - F.col("rank_h2"))), F.asc("tok")
    )
    return (
        ranked.orderBy(
            F.desc(F.abs(F.col("rank_h1") - F.col("rank_h2"))),
            F.asc("tok"),
        )
        .limit(RM_TOP)
        .withColumn("rk", F.row_number().over(w))
        .select(
            "rk",
            "tok",
            "c1",
            "c2",
            "rank_h1",
            "rank_h2",
            (F.col("rank_h2") - F.col("rank_h1")).alias("rank_delta"),
        )
    )


def x368_clarity_score(spark, sf_dir):
    """Clarity score for the fixed query (Cronen-Townsend): KL
    divergence between the query language model (term mix of the
    BM25 top-10 feedback docs) and the corpus language model, in bits
    — high clarity predicts an effective query, near-zero predicts
    noise; the query-performance-prediction number behind deciding
    whether retrieval results deserve trust.

    Scale: the feedback set is k docs (the x288 machinery); both LMs
    are token-count aggregations and the KL is a join over the
    feedback vocabulary."""
    from social_warner_spark.queries.x21_series import _bm25_ranked
    from social_warner_spark.functions.text import tokens
    from social_warner_spark.caching import register_persisted

    d = T(spark, sf_dir, "documents")
    fb = _bm25_ranked(spark, sf_dir, CL_FDOCS).select(
        "doc_id"
    ).localCheckpoint(eager=True)
    ftok = (
        d.join(fb, "doc_id", "left_semi")
        .select(F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("cq"))
    )
    ftok = register_persisted(ftok.persist())
    ctok = register_persisted(
        d.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("cc"))
        .persist()
    )
    qt = ftok.agg(F.sum("cq").alias("qt"))
    ct = ctok.agg(F.sum("cc").alias("ct"))
    j = (
        ftok.join(ctok, "tok")
        .crossJoin(F.broadcast(qt))
        .crossJoin(F.broadcast(ct))
        .select(
            (F.col("cq") / F.col("qt")).alias("pq"),
            (F.col("cc") / F.col("ct")).alias("pc"),
        )
    )
    nfd = fb.agg(F.count("*").alias("n_feedback"))
    return (
        j.agg(
            F.count("*").alias("n_terms"),
            r6(
                F.sum(F.col("pq") * F.log2(F.col("pq") / F.col("pc")))
            ).alias("clarity_bits"),
        )
        .crossJoin(F.broadcast(nfd))
        .select("n_feedback", "n_terms", "clarity_bits")
    )


def x369_doc_typicality(spark, sf_dir):
    """Document typicality against the corpus TF-IDF centroid: cosine
    of each document's TF-IDF vector to the mean vector; the 5 most
    and 5 least typical documents — x174's user-typicality screen
    brought to text (outliers are curation candidates; archetypes seed
    few-shot prompts).

    Scale: TF-IDF weights and the centroid are two aggregations; the
    cosine is a sparse dot via a (doc, term) join against the
    broadcast-able centroid relation."""
    from social_warner_spark.functions.text import tokens
    from social_warner_spark.caching import register_persisted

    d = T(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    tf = register_persisted(tf.persist())
    nd = d.agg(F.count("*").alias("nd"))
    dfq = tf.groupBy("tok").agg(F.count("*").alias("df"))
    wts = (
        tf.join(dfq, "tok")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            "tok",
            (
                F.col("tf") * F.log(F.col("nd") / F.col("df"))
            ).alias("w"),
        )
    )
    wts = register_persisted(wts.persist())
    cent = wts.groupBy("tok").agg(
        (F.sum("w")).alias("sw")
    ).crossJoin(F.broadcast(nd)).select(
        "tok", (F.col("sw") / F.col("nd")).alias("cw")
    )
    cent = register_persisted(cent.persist())
    cnorm = cent.agg(
        F.sqrt(F.sum(F.col("cw") * F.col("cw"))).alias("cn")
    )
    dnorm = wts.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("dn")
    )
    dots = (
        wts.join(cent, "tok")
        .groupBy("doc_id")
        .agg(F.sum(F.col("w") * F.col("cw")).alias("dot"))
    )
    scored = (
        dots.join(dnorm, "doc_id")
        .crossJoin(F.broadcast(cnorm))
        .select(
            "doc_id",
            r6(
                F.col("dot") / (F.col("dn") * F.col("cn"))
            ).alias("typicality"),
        )
    )
    scored = register_persisted(scored.persist())
    wt = Window.orderBy(F.desc("typicality"), F.asc("doc_id"))
    wb = Window.orderBy(F.asc("typicality"), F.asc("doc_id"))
    top = (
        scored.orderBy(F.desc("typicality"), F.asc("doc_id"))
        .limit(TY_TOP)
        .withColumn("rk", F.row_number().over(wt))
        .withColumn("end", F.lit("most_typical"))
    )
    bot = (
        scored.orderBy(F.asc("typicality"), F.asc("doc_id"))
        .limit(TY_TOP)
        .withColumn("rk", F.row_number().over(wb))
        .withColumn("end", F.lit("least_typical"))
    )
    return top.unionAll(bot).select(
        "end", "rk", "doc_id", "typicality"
    ).orderBy("end", "rk")


def x370_stopword_discovery(spark, sf_dir):
    """Automatic stop-list discovery: tokens appearing in over half of
    all documents, ranked by collection frequency, with their document
    coverage and IDF — the data-driven stop list a search stack should
    use instead of a borrowed English one (and the one x35's BM25
    IDF already implicitly down-weights).

    Scale: one token count + one document-frequency count; the list
    is coverage-bounded."""
    from social_warner_spark.functions.text import tokens
    from social_warner_spark.caching import register_persisted

    d = T(spark, sf_dir, "documents")
    tok = register_persisted(
        d.select(
            "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
        ).persist()
    )
    stats = tok.groupBy("tok").agg(
        F.count("*").alias("cf"),
        F.countDistinct("doc_id").alias("df"),
    )
    nd = d.agg(F.count("*").alias("nd"))
    w = Window.orderBy(F.desc("cf"), F.asc("tok"))
    return (
        stats.crossJoin(F.broadcast(nd))
        .where(F.col("df") > SW_MIN_DF_SHARE * F.col("nd"))
        .select(
            "tok",
            "cf",
            "df",
            r6(F.col("df") / F.col("nd")).alias("doc_coverage"),
            r6(F.log(F.col("nd") / F.col("df"))).alias("idf"),
        )
        .orderBy(F.desc("cf"), F.asc("tok"))
        .withColumn("rk", F.row_number().over(w))
    )


def x371_label_budget_curve(spark, sf_dir):
    """Labeling-budget learning curve for the x298 stump: with
    deterministic md5 subsets of 10/25/50/100% of documents as the
    labeled pool, the optimal info-gain threshold is fit on the pool
    and evaluated on the HELD-OUT rest (accuracy; at 100% the
    evaluation falls back to the pool itself) — how much labeling
    the simplest model actually needs, measured.

    Scale: per budget, one cumulative threshold walk on the pool
    (support-bounded) and one scoring aggregation on the holdout."""
    from social_warner_spark.queries.x23_series import STUMP_LANG
    from social_warner_spark.caching import register_persisted

    d = register_persisted(
        T(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.col("n_chars").alias("x"),
            (F.col("lang") == STUMP_LANG).cast("long").alias("y"),
            (
                md5_int(F.concat(F.lit("lb|"), F.col("doc_id").cast("string")), 8)
                % 100
            ).alias("h"),
        )
        .persist()
    )

    def fit_threshold(pool):
        vals = pool.groupBy("x").agg(
            F.count("*").alias("c"), F.sum("y").alias("p")
        )
        tot = vals.agg(F.sum("c").alias("n"), F.sum("p").alias("np"))
        cw = Window.orderBy("x").rowsBetween(
            Window.unboundedPreceding, 0
        )

        def h(p):
            return -(
                F.when(p > 0, p * F.log2(p)).otherwise(F.lit(0.0))
                + F.when(p < 1, (1 - p) * F.log2(1 - p)).otherwise(
                    F.lit(0.0)
                )
            )

        walk = vals.crossJoin(F.broadcast(tot)).select(
            "x",
            "n",
            "np",
            F.sum("c").over(cw).alias("nl"),
            F.sum("p").over(cw).alias("pl"),
        ).where(F.col("nl") < F.col("n"))
        pl = F.col("pl") / F.col("nl")
        pr = (F.col("np") - F.col("pl")) / (F.col("n") - F.col("nl"))
        pp = F.col("np") / F.col("n")
        gain = F.round(
            h(pp)
            - (
                F.col("nl") / F.col("n") * h(pl)
                + (F.col("n") - F.col("nl")) / F.col("n") * h(pr)
            ),
            6,
        )
        return (
            walk.select(F.col("x").alias("threshold"), gain.alias("g"))
            .orderBy(F.desc("g"), F.asc("threshold"))
            .limit(1)
            .localCheckpoint(eager=True)
        )

    outs = None
    for b in LB_BUDGETS:
        pool = d.where(F.col("h") < b)
        thr = fit_threshold(pool)
        hold = d.where(F.col("h") >= b) if b < 100 else d
        # stump predicts positive (en) for x <= threshold
        acc = hold.crossJoin(F.broadcast(thr)).agg(
            F.lit(b).alias("budget_pct"),
            F.max("threshold").alias("threshold"),
            F.count("*").alias("n_eval"),
            r6(
                F.avg(
                    (
                        (F.col("x") <= F.col("threshold")).cast("long")
                        == F.col("y")
                    ).cast("double")
                )
            ).alias("accuracy"),
        )
        outs = acc if outs is None else outs.unionAll(acc)
    return outs.orderBy("budget_pct")


# ---------------------------------------------------------------------------
# Oracles
# ---------------------------------------------------------------------------

_STUMP_WALK = """
            SELECT x, n, np,
                   SUM(c) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING)
                       AS nl,
                   SUM(p) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING)
                       AS pl
            FROM (SELECT x, COUNT(*) AS c, SUM(y) AS p
                  FROM pool{b} GROUP BY x)
            CROSS JOIN (SELECT SUM(1) AS n, SUM(y) AS np
                        FROM pool{b})
"""


def _lb_oracle() -> str:
    from social_warner_spark.queries.x23_series import STUMP_LANG

    def gain_sql():
        return """ROUND(
            -(CASE WHEN np * 1.0 / n > 0
                   THEN np * 1.0 / n * log2(np * 1.0 / n) ELSE 0 END
              + CASE WHEN np * 1.0 / n < 1
                     THEN (1 - np * 1.0 / n) * log2(1 - np * 1.0 / n)
                     ELSE 0 END)
            - (nl * 1.0 / n
               * -(CASE WHEN pl * 1.0 / nl > 0
                        THEN pl * 1.0 / nl * log2(pl * 1.0 / nl)
                        ELSE 0 END
                   + CASE WHEN pl * 1.0 / nl < 1
                          THEN (1 - pl * 1.0 / nl)
                               * log2(1 - pl * 1.0 / nl) ELSE 0 END)
               + (n - nl) * 1.0 / n
               * -(CASE WHEN (np - pl) * 1.0 / (n - nl) > 0
                        THEN (np - pl) * 1.0 / (n - nl)
                             * log2((np - pl) * 1.0 / (n - nl))
                        ELSE 0 END
                   + CASE WHEN (np - pl) * 1.0 / (n - nl) < 1
                          THEN (1 - (np - pl) * 1.0 / (n - nl))
                               * log2(1 - (np - pl) * 1.0 / (n - nl))
                          ELSE 0 END)), 6)"""

    parts = [
        f"""d AS MATERIALIZED (
            SELECT doc_id, n_chars AS x,
                   CASE WHEN lang = '{STUMP_LANG}' THEN 1 ELSE 0 END AS y,
                   CAST(('0x' || substr(md5('lb|' ||
                        CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
                       % 100 AS h
            FROM documents
        )"""
    ]
    rows = []
    for b in LB_BUDGETS:
        parts.append(f"pool{b} AS (SELECT * FROM d WHERE h < {b})")
        parts.append(
            f"""thr{b} AS MATERIALIZED (
            SELECT x AS threshold FROM ({_STUMP_WALK.format(b=b)})
            WHERE nl < n
            ORDER BY {gain_sql()} DESC, x LIMIT 1
        )"""
        )
        hold = f"(SELECT * FROM d WHERE h >= {b})" if b < 100 else "d"
        rows.append(
            f"""SELECT {b} AS budget_pct,
                   (SELECT threshold FROM thr{b}) AS threshold,
                   CAST(COUNT(*) AS BIGINT) AS n_eval,
                   ROUND(AVG(CASE WHEN (CASE WHEN x <=
                           (SELECT threshold FROM thr{b})
                           THEN 1 ELSE 0 END) = y
                           THEN 1.0 ELSE 0.0 END), 6) AS accuracy
            FROM {hold}"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + "\nSELECT * FROM ("
        + " UNION ALL ".join(rows)
        + ") ORDER BY budget_pct"
    )


ORACLES = {
    "x367_rank_movers": f"""
        WITH med AS (
            SELECT quantile_cont(doc_id, 0.5) AS mid FROM documents
        ), tok AS MATERIALIZED (
            SELECT d.doc_id <= med.mid AS h1,
                   UNNEST(string_split(trim(d.text), ' ')) AS tok
            FROM documents d CROSS JOIN med
        ), pool AS MATERIALIZED (
            SELECT tok FROM (
                SELECT tok, COUNT(*) AS cf FROM tok GROUP BY 1
            ) ORDER BY cf DESC, tok LIMIT {RM_POOL}
        ), halves AS (
            SELECT t.tok,
                   SUM(CASE WHEN t.h1 THEN 1 ELSE 0 END) AS c1,
                   SUM(CASE WHEN t.h1 THEN 0 ELSE 1 END) AS c2
            FROM tok t JOIN pool USING (tok)
            GROUP BY t.tok
        ), ranked AS (
            SELECT tok, CAST(c1 AS BIGINT) AS c1,
                   CAST(c2 AS BIGINT) AS c2,
                   CAST(ROW_NUMBER() OVER (ORDER BY c1 DESC, tok)
                        AS INT) AS rank_h1,
                   CAST(ROW_NUMBER() OVER (ORDER BY c2 DESC, tok)
                        AS INT) AS rank_h2
            FROM halves
        )
        SELECT CAST(ROW_NUMBER() OVER (
                   ORDER BY ABS(rank_h1 - rank_h2) DESC, tok) AS INT)
                   AS rk,
               tok, c1, c2, rank_h1, rank_h2,
               rank_h2 - rank_h1 AS rank_delta
        FROM ranked
        ORDER BY ABS(rank_h1 - rank_h2) DESC, tok
        LIMIT {RM_TOP}
    """,
    "x368_clarity_score": None,  # assembled below
    "x369_doc_typicality": """
        WITH tf AS MATERIALIZED (
            SELECT doc_id, tok, COUNT(*) AS tf
            FROM (SELECT doc_id,
                         UNNEST(string_split(trim(text), ' ')) AS tok
                  FROM documents)
            GROUP BY 1, 2
        ), ndd AS (
            SELECT COUNT(*) AS nd FROM documents
        ), dfq AS (
            SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1
        ), wts AS MATERIALIZED (
            SELECT tf.doc_id, tf.tok,
                   tf.tf * ln(ndd.nd * 1.0 / dfq.df) AS w
            FROM tf JOIN dfq USING (tok) CROSS JOIN ndd
        ), cent AS MATERIALIZED (
            SELECT tok, SUM(w) / MAX(ndd.nd) AS cw
            FROM wts CROSS JOIN ndd GROUP BY tok
        ), cnorm AS (
            SELECT sqrt(SUM(cw * cw)) AS cn FROM cent
        ), dnorm AS (
            SELECT doc_id, sqrt(SUM(w * w)) AS dn FROM wts GROUP BY 1
        ), dots AS (
            SELECT w.doc_id, SUM(w.w * c.cw) AS dot
            FROM wts w JOIN cent c USING (tok)
            GROUP BY 1
        ), scored AS MATERIALIZED (
            SELECT d.doc_id,
                   ROUND(d.dot / (n.dn * cnorm.cn), 6) AS typicality
            FROM dots d JOIN dnorm n USING (doc_id)
            CROSS JOIN cnorm
        ), top AS (
            SELECT 'most_typical' AS "end",
                   CAST(ROW_NUMBER() OVER (
                       ORDER BY typicality DESC, doc_id) AS INT) AS rk,
                   doc_id, typicality
            FROM scored
            ORDER BY typicality DESC, doc_id LIMIT 5
        ), bot AS (
            SELECT 'least_typical',
                   CAST(ROW_NUMBER() OVER (
                       ORDER BY typicality, doc_id) AS INT),
                   doc_id, typicality
            FROM scored
            ORDER BY typicality, doc_id LIMIT 5
        )
        SELECT * FROM (SELECT * FROM top UNION ALL SELECT * FROM bot)
        ORDER BY "end", rk
    """,
    "x370_stopword_discovery": f"""
        WITH tok AS (
            SELECT doc_id, UNNEST(string_split(trim(text), ' ')) AS tok
            FROM documents
        ), stats AS (
            SELECT tok, COUNT(*) AS cf, COUNT(DISTINCT doc_id) AS df
            FROM tok GROUP BY 1
        ), ndd AS (
            SELECT COUNT(*) AS nd FROM documents
        )
        SELECT tok, CAST(cf AS BIGINT) AS cf, CAST(df AS BIGINT) AS df,
               ROUND(df * 1.0 / nd, 6) AS doc_coverage,
               ROUND(ln(nd * 1.0 / df), 6) AS idf,
               CAST(ROW_NUMBER() OVER (ORDER BY cf DESC, tok) AS INT)
                   AS rk
        FROM stats CROSS JOIN ndd
        WHERE df > {SW_MIN_DF_SHARE} * nd
        ORDER BY cf DESC, tok
    """,
    "x371_label_budget_curve": _lb_oracle(),
}

from social_warner_spark.queries.x14_series import (  # noqa: E402
    _bm25_scored_sql,
    _dql_staged_sql,
)

ORACLES["x368_clarity_score"] = f"""
        WITH {_dql_staged_sql()}, {_bm25_scored_sql()},
        fb AS MATERIALIZED (
            SELECT doc_id FROM bscored
            ORDER BY score DESC, doc_id LIMIT {CL_FDOCS}
        ), ftok AS MATERIALIZED (
            SELECT tok, COUNT(*) AS cq
            FROM (SELECT UNNEST(string_split(trim(text), ' ')) AS tok
                  FROM documents WHERE doc_id IN
                      (SELECT doc_id FROM fb))
            GROUP BY 1
        ), ctok AS MATERIALIZED (
            SELECT tok, COUNT(*) AS cc
            FROM (SELECT UNNEST(string_split(trim(text), ' ')) AS tok
                  FROM documents)
            GROUP BY 1
        ), qt AS (SELECT SUM(cq) AS qt FROM ftok),
        ct AS (SELECT SUM(cc) AS ct FROM ctok)
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM fb) AS n_feedback,
               CAST(COUNT(*) AS BIGINT) AS n_terms,
               ROUND(SUM((cq * 1.0 / qt.qt)
                         * log2((cq * 1.0 / qt.qt)
                                / (cc * 1.0 / ct.ct))), 6)
                   AS clarity_bits
        FROM ftok JOIN ctok USING (tok)
        CROSS JOIN qt CROSS JOIN ct
    """

QUERIES = {
    "x367_rank_movers": x367_rank_movers,
    "x368_clarity_score": x368_clarity_score,
    "x369_doc_typicality": x369_doc_typicality,
    "x370_stopword_discovery": x370_stopword_discovery,
    "x371_label_budget_curve": x371_label_budget_curve,
}
