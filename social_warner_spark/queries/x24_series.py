"""x24 series — round-3 widening batch (x302–x306): CCNet-style
perplexity bucketing, Wasserstein source drift, classical lexicometric
diversity, block-bootstrap confidence intervals for autocorrelated
series, and ROC / Youden-J threshold selection.

Like every other series, each query is a pure DataFrame program over
the driver's parquet tables with an independently-written DuckDB
oracle; all "randomness" is the repo's deterministic md5 stream.

Literature grounding (public):
- Wenzek et al., "CCNet: extracting high quality monolingual datasets"
  (LREC 2020) — per-language perplexity head/middle/tail buckets.
- Villani, "Optimal transport" — 1-D W1 as the CDF-difference
  integral.
- Yule, "The statistical study of literary vocabulary" (1944);
  Simpson (Nature 1949); Herdan (1960).
- Künsch (Ann. Stat. 1989) — (circular) block bootstrap.
- Youden (Cancer 1950) — the J index.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from social_warner_spark.functions.text import md5_int, tokens
from social_warner_spark.queries.common import T, r6

#: x302 — tercile boundaries per language over add-one-smoothed
#: unigram perplexity.
CC_Q1 = 1.0 / 3.0
CC_Q2 = 2.0 / 3.0
#: x305 — circular block bootstrap: block length, replicates, and the
#: empirical CI ranks (2.5% / 97.5% of B).
BB_L = 7
BB_B = 100
#: x306 — positive label for the ROC walk.
ROC_LANG = "en"


def x302_ccnet_buckets(spark, sf_dir):
    """CCNet-style quality bucketing: per language, an add-one-smoothed
    unigram LM is fit on that language's own tokens, every document
    gets a perplexity, and the language's perplexity terciles split
    docs into head/middle/tail — the canonical LM-filtering layout
    (head = keep, tail = drop or down-weight).

    Scale: one token-count aggregation per language (the LM), one
    perplexity join-pass (doc tokens x broadcast LM on (lang, tok)),
    one percentile aggregation; bucket assignment is a broadcast
    3-row-per-lang comparison."""
    d = T(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "lang", F.explode(tokens(F.col("text"))).alias("tok")
    )
    from social_warner_spark.caching import register_persisted

    tok = register_persisted(tok.persist())
    lm = tok.groupBy("lang", "tok").agg(F.count("*").alias("c"))
    ltot = lm.groupBy("lang").agg(
        F.sum("c").alias("tot"), F.count("*").alias("v")
    )
    # per-doc cross-entropy under the doc's own language LM
    ent = (
        tok.join(lm, ["lang", "tok"])
        .join(ltot, "lang")
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").alias("n_toks"),
            F.round(
                F.exp(
                    -F.avg(
                        F.log(
                            (F.col("c") + 1.0)
                            / (F.col("tot") + F.col("v"))
                        )
                    )
                ),
                6,
            ).alias("ppl"),
        )
    )
    ent = register_persisted(ent.persist())
    cuts = ent.groupBy("lang").agg(
        F.round(F.expr(f"percentile(ppl, {CC_Q1!r})"), 6).alias("q1"),
        F.round(F.expr(f"percentile(ppl, {CC_Q2!r})"), 6).alias("q2"),
    )
    bucket = (
        F.when(F.col("ppl") <= F.col("q1"), F.lit("head"))
        .when(F.col("ppl") <= F.col("q2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        ent.join(F.broadcast(cuts), "lang")
        .groupBy("lang", bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n_docs"),
            # exact integer micro-unit averages + r6t-style nudge: the
            # per-doc ppl is a 6dp decimal, so the bucket mean is an
            # exact rational whose 6dp rounding flaps with DuckDB's
            # parallel-AVG order at sf0.1 (duck-vs-duck hunt find)
            F.round(
                F.sum(F.round(F.col("ppl") * 1000000, 0).cast("long"))
                .cast("double")
                / (F.lit(1000000.0) * F.count("*"))
                + F.lit(1e-9),
                6,
            ).alias("avg_ppl"),
            F.round(
                F.sum("n_toks").cast("double") / F.count("*")
                + F.lit(1e-9),
                6,
            ).alias("avg_tokens"),
        )
        .orderBy("lang", "bucket")
    )


def x303_wasserstein_sources(spark, sf_dir):
    """1-D Wasserstein (earth mover's) distance between each source's
    document-length distribution and the global one: W1 = integral of
    |CDF_s - CDF_global| over the merged support — the drift score
    behind x223's quantile normalization, telling which crawls are
    length-shaped differently enough to need it.

    Scale: the support grid is the distinct n_chars relation (bounded);
    per-source CDFs come from zero-filled cumulative windows on the
    sources x support grid."""
    d = T(spark, sf_dir, "documents").select("source", F.col("n_chars").alias("x"))
    cell = d.groupBy("source", "x").agg(F.count("*").alias("c"))
    from social_warner_spark.caching import register_persisted

    cell = register_persisted(cell.persist())
    stot = cell.groupBy("source").agg(F.sum("c").alias("st"))
    gvals = (
        cell.groupBy("x")
        .agg(F.sum("c").alias("gc"))
    )
    gtot = gvals.agg(F.sum("gc").alias("gt"))
    gw = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    ggrid = gvals.crossJoin(F.broadcast(gtot)).select(
        "x",
        (F.sum("gc").over(gw) / F.col("gt")).alias("gcdf"),
        (F.lead("x").over(Window.orderBy("x")) - F.col("x")).alias("dx"),
    )
    grid = (
        stot.crossJoin(ggrid)
        .join(cell, ["source", "x"], "left")
        .select(
            "source",
            "x",
            "gcdf",
            "dx",
            "st",
            F.coalesce(F.col("c"), F.lit(0)).alias("c"),
        )
    )
    sw = (
        Window.partitionBy("source")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    stepped = grid.select(
        "source",
        "dx",
        (F.sum("c").over(sw) / F.col("st") - F.col("gcdf")).alias("diff"),
    ).where(F.col("dx").isNotNull())
    return (
        stepped.groupBy("source")
        .agg(r6(F.sum(F.abs(F.col("diff")) * F.col("dx"))).alias("w1"))
        .orderBy("source")
    )


def x304_lexical_diversity(spark, sf_dir):
    """Classical lexicometric diversity per source: Yule's K
    (10^4 (sum f^2 - N)/N^2), Simpson's D (sum f(f-1)/(N(N-1))),
    Herdan's C (log V / log N), and the plain type-token ratio — the
    repetitiveness profile x25 computes per document, here at the
    source level where vocabulary concentration actually varies.

    Scale: one (source, token) count aggregation; everything after is
    a per-source reduction of the frequency relation."""
    d = T(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(tokens(F.col("text"))).alias("tok"))
    freq = tok.groupBy("source", "tok").agg(F.count("*").alias("f"))
    return (
        freq.groupBy("source")
        .agg(
            F.sum("f").alias("n_tokens"),
            F.count("*").alias("vocab"),
            r6(
                1e4
                * (F.sum(F.col("f") * F.col("f")) - F.sum("f"))
                / (F.sum("f") * F.sum("f"))
            ).alias("yule_k"),
            r6(
                F.sum(F.col("f") * (F.col("f") - 1))
                / (F.sum("f") * (F.sum("f") - 1))
            ).alias("simpson_d"),
            r6(F.log(F.count("*")) / F.log(F.sum("f"))).alias("herdan_c"),
            r6(F.count("*") / F.sum("f")).alias("ttr"),
        )
        .orderBy("source")
    )


def x305_block_bootstrap(spark, sf_dir):
    """Circular block bootstrap CI for the daily mean total value
    (Künsch): 100 replicates each resample ceil(n/L) length-7 blocks
    with deterministic md5 start positions, truncated to n days; the
    2.5%/97.5% replicate means (6dp-rounded, replicate-id tie-break —
    the x167 convention) bound the CI.  Blocks, not rows, because the
    daily series is autocorrelated (x261) and an iid bootstrap (x167)
    understates the variance.

    Scale: the replicate x block x offset explode is bounded by
    B * n days; every replicate aggregates map-side to one row."""
    ev = T(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.round(F.sum("value"), 6).alias("y")
    )
    idx = daily.select(
        F.row_number().over(Window.orderBy("day")).alias("t"), "y"
    )
    from social_warner_spark.caching import register_persisted

    idx = register_persisted(idx.persist())
    n = idx.agg(F.count("*").alias("n"))
    reps = (
        spark.range(1, BB_B + 1)
        .select(F.col("id").alias("b"))
        .crossJoin(F.broadcast(n))
        .select(
            "b",
            "n",
            F.explode(
                F.sequence(
                    F.lit(0), F.ceil(F.col("n") / BB_L).cast("int") - 1
                )
            ).alias("blk"),
        )
    )
    u = (
        md5_int(
            F.concat(
                F.lit("bb|"),
                F.col("b").cast("string"),
                F.lit("#"),
                F.col("blk").cast("string"),
            ),
            8,
        )
        / 4294967296.0
    )
    starts = reps.select(
        "b", "n", "blk", (F.floor(u * F.col("n")) + 1).cast("int").alias("s")
    )
    picks = starts.select(
        "b",
        "n",
        (F.col("blk") * BB_L).alias("pos0"),
        F.explode(F.sequence(F.lit(0), F.lit(BB_L - 1))).alias("off"),
        "s",
    ).select(
        "b",
        "n",
        (F.col("pos0") + F.col("off")).alias("pos"),
        (
            (F.col("s") - 1 + F.col("off")) % F.col("n") + 1
        ).alias("t"),
    ).where(F.col("pos") < F.col("n"))
    rmeans = (
        picks.join(idx, "t")
        .groupBy("b")
        .agg(F.round(F.avg("y"), 6).alias("rmean"))
    )
    w = Window.orderBy("rmean", "b")
    ranked = rmeans.withColumn("rk", F.row_number().over(w))
    lo_rk = max(1, int(0.025 * BB_B))
    hi_rk = int(0.975 * BB_B)
    obs = idx.agg(r6(F.avg("y")).alias("observed_mean"))
    ci = ranked.agg(
        F.max(F.when(F.col("rk") == lo_rk, F.col("rmean"))).alias("ci_lo"),
        F.max(F.when(F.col("rk") == hi_rk, F.col("rmean"))).alias("ci_hi"),
        F.count("*").alias("n_replicates"),
    )
    return ci.crossJoin(F.broadcast(obs)).select(
        "n_replicates", "observed_mean", "ci_lo", "ci_hi"
    )


def x306_roc_youden(spark, sf_dir):
    """ROC operating point selection by Youden's J (TPR - FPR
    maximized, smallest threshold on ties) for the n_chars -> lang='en'
    proxy scorer, with the curve's AUC-by-trapezoid riding along as a
    cross-check against x184's rank-formula AUC — the threshold an
    operator would actually deploy, which neither the AUC nor x280's
    deciles pin down.

    Scale: the walk runs on the distinct-score cumulative relation
    (classification is score >= threshold)."""
    d = T(spark, sf_dir, "documents").select(
        F.col("n_chars").alias("x"),
        (F.col("lang") == ROC_LANG).cast("long").alias("y"),
    )
    vals = d.groupBy("x").agg(
        F.count("*").alias("c"), F.sum("y").alias("p")
    )
    tot = vals.agg(F.sum("c").alias("n"), F.sum("p").alias("np"))
    dw = Window.orderBy(F.desc("x")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    walk = vals.crossJoin(F.broadcast(tot)).select(
        "x",
        (F.sum("p").over(dw) / F.col("np")).alias("tpr"),
        (
            (F.sum("c").over(dw) - F.sum("p").over(dw))
            / (F.col("n") - F.col("np"))
        ).alias("fpr"),
    )
    from social_warner_spark.caching import register_persisted

    walk = register_persisted(walk.persist())
    best = (
        walk.select(
            F.col("x").alias("threshold"),
            r6(F.col("tpr")).alias("tpr"),
            r6(F.col("fpr")).alias("fpr"),
            F.round(F.col("tpr") - F.col("fpr"), 6).alias("youden_j"),
        )
        .orderBy(F.desc("youden_j"), F.asc("threshold"))
        .limit(1)
    )
    lw = Window.orderBy("fpr", "tpr")
    auc = walk.select(
        "tpr",
        "fpr",
        F.lag("fpr", 1, 0.0).over(lw).alias("pf"),
        F.lag("tpr", 1, 0.0).over(lw).alias("pt"),
    ).agg(
        r6(
            F.sum(
                (F.col("fpr") - F.col("pf"))
                * (F.col("tpr") + F.col("pt"))
                / 2.0
            )
        ).alias("auc_trapezoid")
    )
    return best.crossJoin(F.broadcast(auc))


# ---------------------------------------------------------------------------
# Oracles
# ---------------------------------------------------------------------------

ORACLES = {
    "x302_ccnet_buckets": f"""
        WITH tok AS (
            SELECT doc_id, lang,
                   UNNEST(string_split(trim(text), ' ')) AS tok
            FROM documents
        ), lm AS (
            SELECT lang, tok, COUNT(*) AS c FROM tok GROUP BY 1, 2
        ), ltot AS (
            SELECT lang, SUM(c) AS tot, COUNT(*) AS v FROM lm GROUP BY 1
        ), ent AS (
            SELECT t.doc_id, t.lang, COUNT(*) AS n_toks,
                   ROUND(exp(-AVG(ln((lm.c + 1.0)
                                     / (lt.tot + lt.v)))), 6) AS ppl
            FROM tok t
            JOIN lm ON lm.lang = t.lang AND lm.tok = t.tok
            JOIN ltot lt ON lt.lang = t.lang
            GROUP BY t.doc_id, t.lang
        ), cuts AS (
            SELECT lang,
                   ROUND(quantile_cont(ppl, {CC_Q1!r}), 6) AS q1,
                   ROUND(quantile_cont(ppl, {CC_Q2!r}), 6) AS q2
            FROM ent GROUP BY 1
        )
        SELECT e.lang,
               CASE WHEN e.ppl <= c.q1 THEN 'head'
                    WHEN e.ppl <= c.q2 THEN 'middle'
                    ELSE 'tail' END AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               ROUND(CAST(SUM(CAST(ROUND(e.ppl * 1000000, 0) AS BIGINT))
                          AS DOUBLE)
                     / (CAST(1000000.0 AS DOUBLE) * COUNT(*)) + 1e-9, 6)
                   AS avg_ppl,
               ROUND(CAST(SUM(e.n_toks) AS DOUBLE) / COUNT(*) + 1e-9, 6)
                   AS avg_tokens
        FROM ent e JOIN cuts c USING (lang)
        GROUP BY 1, 2
        ORDER BY lang, bucket
    """,
    "x303_wasserstein_sources": """
        WITH cell AS (
            SELECT source, n_chars AS x, COUNT(*) AS c
            FROM documents GROUP BY 1, 2
        ), stot AS (
            SELECT source, SUM(c) AS st FROM cell GROUP BY 1
        ), gvals AS (
            SELECT x, SUM(c) AS gc FROM cell GROUP BY 1
        ), gtot AS (
            SELECT SUM(gc) AS gt FROM gvals
        ), ggrid AS (
            SELECT x,
                   SUM(gc) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING)
                       * 1.0 / gt AS gcdf,
                   LEAD(x) OVER (ORDER BY x) - x AS dx
            FROM gvals CROSS JOIN gtot
        ), grid AS (
            SELECT s.source, g.x, g.gcdf, g.dx, s.st,
                   COALESCE(c.c, 0) AS c
            FROM stot s CROSS JOIN ggrid g
            LEFT JOIN cell c ON c.source = s.source AND c.x = g.x
        ), stepped AS (
            SELECT source, dx,
                   SUM(c) OVER (PARTITION BY source ORDER BY x
                        ROWS UNBOUNDED PRECEDING) * 1.0 / st - gcdf
                       AS diff
            FROM grid
        )
        SELECT source, ROUND(SUM(ABS(diff) * dx), 6) AS w1
        FROM stepped WHERE dx IS NOT NULL
        GROUP BY source ORDER BY source
    """,
    "x304_lexical_diversity": """
        WITH tok AS (
            SELECT source, UNNEST(string_split(trim(text), ' ')) AS tok
            FROM documents
        ), freq AS (
            SELECT source, tok, COUNT(*) AS f FROM tok GROUP BY 1, 2
        )
        SELECT source,
               CAST(SUM(f) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS vocab,
               ROUND(1e4 * (SUM(f * f) - SUM(f))
                     / (CAST(SUM(f) AS DOUBLE) * SUM(f)), 6) AS yule_k,
               ROUND(SUM(f * (f - 1))
                     / (CAST(SUM(f) AS DOUBLE) * (SUM(f) - 1)), 6)
                   AS simpson_d,
               ROUND(ln(COUNT(*)) / ln(SUM(f)), 6) AS herdan_c,
               ROUND(COUNT(*) * 1.0 / SUM(f), 6) AS ttr
        FROM freq GROUP BY source ORDER BY source
    """,
    "x305_block_bootstrap": f"""
        WITH daily AS (
            SELECT date_trunc('day', ts) AS day, ROUND(SUM(value), 6) AS y
            FROM events GROUP BY 1
        ), idx AS (
            SELECT CAST(ROW_NUMBER() OVER (ORDER BY day) AS INT) AS t, y
            FROM daily
        ), nn AS (
            SELECT CAST(COUNT(*) AS INT) AS n FROM idx
        ), reps AS (
            SELECT b.b, nn.n, blk.blk
            FROM generate_series(1, {BB_B}) b(b)
            CROSS JOIN nn
            CROSS JOIN LATERAL (
                SELECT UNNEST(range(0,
                    CAST(ceil(nn.n * 1.0 / {BB_L}) AS INT))) AS blk
            ) blk
        ), starts AS (
            SELECT b, n, blk,
                   CAST(floor(CAST(('0x' || substr(md5('bb|' ||
                        CAST(b AS VARCHAR) || '#' ||
                        CAST(blk AS VARCHAR)), 1, 8)) AS UBIGINT)
                        / 4294967296.0 * n) + 1 AS INT) AS s
            FROM reps
        ), picks AS (
            SELECT b, n, blk * {BB_L} + off.off AS pos,
                   CAST((s - 1 + off.off) % n + 1 AS INT) AS t
            FROM starts
            CROSS JOIN LATERAL (
                SELECT UNNEST(range(0, {BB_L})) AS off
            ) off
        ), rmeans AS (
            SELECT p.b, ROUND(AVG(i.y), 6) AS rmean
            FROM picks p JOIN idx i USING (t)
            WHERE p.pos < p.n
            GROUP BY p.b
        ), ranked AS (
            SELECT rmean, ROW_NUMBER() OVER (ORDER BY rmean, b) AS rk
            FROM rmeans
        ), ci AS (
            SELECT MAX(CASE WHEN rk = {max(1, int(0.025 * BB_B))}
                            THEN rmean END) AS ci_lo,
                   MAX(CASE WHEN rk = {int(0.975 * BB_B)}
                            THEN rmean END) AS ci_hi,
                   CAST(COUNT(*) AS BIGINT) AS n_replicates
            FROM ranked
        ), obs AS (
            SELECT ROUND(AVG(y), 6) AS observed_mean FROM idx
        )
        SELECT n_replicates, observed_mean, ci_lo, ci_hi
        FROM ci CROSS JOIN obs
    """,
    "x306_roc_youden": f"""
        WITH d AS (
            SELECT n_chars AS x,
                   CASE WHEN lang = '{ROC_LANG}' THEN 1 ELSE 0 END AS y
            FROM documents
        ), vals AS (
            SELECT x, COUNT(*) AS c, SUM(y) AS p FROM d GROUP BY x
        ), tot AS (
            SELECT SUM(c) AS n, SUM(p) AS np FROM vals
        ), walk AS (
            SELECT x,
                   SUM(p) OVER (ORDER BY x DESC
                        ROWS UNBOUNDED PRECEDING) * 1.0 / np AS tpr,
                   (SUM(c) OVER (ORDER BY x DESC
                         ROWS UNBOUNDED PRECEDING)
                    - SUM(p) OVER (ORDER BY x DESC
                          ROWS UNBOUNDED PRECEDING)) * 1.0
                       / (n - np) AS fpr
            FROM vals CROSS JOIN tot
        ), best AS (
            SELECT x AS threshold, ROUND(tpr, 6) AS tpr,
                   ROUND(fpr, 6) AS fpr,
                   ROUND(tpr - fpr, 6) AS youden_j
            FROM walk
            ORDER BY ROUND(tpr - fpr, 6) DESC, x LIMIT 1
        ), auc AS (
            SELECT ROUND(SUM((fpr - pf) * (tpr + pt) / 2.0), 6)
                       AS auc_trapezoid
            FROM (
                SELECT tpr, fpr,
                       COALESCE(LAG(fpr) OVER (ORDER BY fpr, tpr), 0.0)
                           AS pf,
                       COALESCE(LAG(tpr) OVER (ORDER BY fpr, tpr), 0.0)
                           AS pt
                FROM walk
            )
        )
        SELECT threshold, tpr, fpr, youden_j, auc_trapezoid
        FROM best CROSS JOIN auc
    """,
}

QUERIES = {
    "x302_ccnet_buckets": x302_ccnet_buckets,
    "x303_wasserstein_sources": x303_wasserstein_sources,
    "x304_lexical_diversity": x304_lexical_diversity,
    "x305_block_bootstrap": x305_block_bootstrap,
    "x306_roc_youden": x306_roc_youden,
}
