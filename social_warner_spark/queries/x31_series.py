"""x31 series — round-3 widening batch (x337–x341): embedding
anisotropy, kNN hubness, causal positivity checking, sequential
pattern mining, and ensemble dedup evaluation.

Like every other series, each query is a pure DataFrame program over
the driver's parquet tables with an independently-written DuckDB
oracle; pair-forming steps use the repo's md5 bucket sampling (equi
joins, never a cross join), and x341 closes the audit-pairing arc by
scoring two of the repo's own detectors against exact-text gold.

Literature grounding (public):
- Ethayarajh (EMNLP 2019) — contextual-embedding anisotropy.
- Radovanović, Nanopoulos & Ivanović (JMLR 2010) — hubness.
- Rosenbaum & Rubin (1983) positivity/overlap diagnostics.
- Agrawal & Srikant (ICDE 1995) — sequential patterns (gapped
  subsequences).
- Standard IR evaluation (precision/recall/F1) over pair detection.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from social_warner_spark.functions.text import md5_int
from social_warner_spark.queries.common import T, r6
from social_warner_spark.queries.x20_series import DID_SALT, did_treated
from social_warner_spark.queries.x21_series import AU_BUCKETS, au_bucket

#: x338 — within-bucket rank depth for the k-occurrence counts.
HUB_K = 5
HUB_BUCKETS = 10
#: x339 — propensity feature bins and the extreme-propensity band.
PP_BINS = 10
PP_LO = 0.1
PP_HI = 0.9
#: x340 — reported pattern count.
SS_TOP = 10
#: x341 — detector thresholds: lexical Jaccard and simhash hamming.
EN_SAMPLE_MIN = 0.3
EN_JACCARD = 0.5
EN_HAMMING = 2
EN_BITS = 16
#: gold = STRONG duplicates (exact Jaccard >= 0.8, the l2 dedup
#: definition) — the synthetic corpus contains no byte-identical
#: texts, so exact-text gold would be empty.
EN_GOLD_JACCARD = 0.8


def x337_anisotropy(spark, sf_dir):
    """Embedding-space anisotropy (Ethayarajh): the mean cosine
    between (md5-bucket-sampled) vector pairs — a healthy space sits
    near 0, a collapsed one near 1 — alongside per-label norm
    statistics (mean, CV).  The one-row health check run before
    trusting any cosine threshold in the dedup/ANN stack.

    Scale: pairs form WITHIN md5 buckets (the x289 discipline); norms
    are a narrow fold per vector."""
    from social_warner_spark.functions.vectors import cosine_prenormed, l2_norm
    from social_warner_spark.caching import register_persisted

    e = T(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.col("embedding").cast("array<double>").alias("v"),
    )
    bucket = au_bucket(F.col("vec_id"))
    staged = register_persisted(
        e.select(
            "vec_id",
            "label",
            bucket.alias("b"),
            "v",
            l2_norm(F.col("v")).alias("nv"),
        ).persist()
    )
    a, c = staged.alias("a"), staged.alias("c")
    pairs = a.join(
        c,
        (F.col("a.b") == F.col("c.b"))
        & (F.col("a.vec_id") < F.col("c.vec_id")),
    ).select(
        F.round(
            cosine_prenormed(
                F.col("a.v"), F.col("c.v"), F.col("a.nv"), F.col("c.nv")
            ),
            6,
        ).alias("cos")
    )
    aniso = pairs.agg(
        F.count("*").alias("n_pairs"),
        r6(F.avg("cos")).alias("anisotropy"),
    )
    norms = staged.agg(
        r6(F.avg("nv")).alias("mean_norm"),
        r6(F.stddev_samp("nv") / F.avg("nv")).alias("norm_cv"),
        F.countDistinct("label").alias("n_labels"),
    )
    return aniso.crossJoin(F.broadcast(norms)).select(
        "n_pairs", "anisotropy", "mean_norm", "norm_cv", "n_labels"
    )


def hub_bucket(vec_id: F.Column) -> F.Column:
    """The md5 bucket of a vector that x338 and x350 rank within."""
    return md5_int(F.concat(F.lit("hub|"), vec_id.cast("string")), 8) % HUB_BUCKETS


def x338_hubness(spark, sf_dir):
    """kNN hubness: within md5 buckets, every vector's top-5 cosine
    neighbors; O_i counts how often vector i appears in other
    vectors' lists, and the skewness of O (with the max and the
    antihub share) measures the hubness pathology that silently
    degrades ANN recall in high dimensions (Radovanović).

    Scale: neighbor lists form within buckets (equi-join); the
    k-occurrence histogram and its moments are |vectors|-sized."""
    from social_warner_spark.functions.vectors import cosine_prenormed, l2_norm
    from social_warner_spark.caching import register_persisted

    e = T(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    bucket = hub_bucket(F.col("vec_id"))
    staged = register_persisted(
        e.select(
            "vec_id", bucket.alias("b"), "v", l2_norm(F.col("v")).alias("nv")
        ).persist()
    )
    a, c = staged.alias("a"), staged.alias("c")
    scored = a.join(
        c,
        (F.col("a.b") == F.col("c.b"))
        & (F.col("a.vec_id") != F.col("c.vec_id")),
    ).select(
        F.col("a.vec_id").alias("q"),
        F.col("c.vec_id").alias("nb"),
        F.round(
            cosine_prenormed(
                F.col("a.v"), F.col("c.v"), F.col("a.nv"), F.col("c.nv")
            ),
            6,
        ).alias("cos"),
    )
    rw = Window.partitionBy("q").orderBy(F.desc("cos"), F.asc("nb"))
    top = scored.withColumn("rk", F.row_number().over(rw)).where(
        F.col("rk") <= HUB_K
    )
    occ = (
        staged.select(F.col("vec_id").alias("nb"))
        .join(
            top.groupBy("nb").agg(F.count("*").alias("o")), "nb", "left"
        )
        .select(F.coalesce(F.col("o"), F.lit(0)).cast("double").alias("o"))
    )
    occ = register_persisted(occ.persist())
    mom = occ.agg(
        F.count("*").alias("n_vectors"),
        F.avg("o").alias("m1"),
        F.avg(F.col("o") * F.col("o")).alias("m2r"),
        F.avg(F.col("o") * F.col("o") * F.col("o")).alias("m3r"),
        F.max("o").cast("long").alias("max_occ"),
        r6(F.avg((F.col("o") == 0).cast("double"))).alias(
            "antihub_share"
        ),
    )
    m2 = F.col("m2r") - F.col("m1") * F.col("m1")
    m3 = (
        F.col("m3r")
        - 3 * F.col("m1") * F.col("m2r")
        + 2 * F.col("m1") * F.col("m1") * F.col("m1")
    )
    return mom.select(
        "n_vectors",
        r6(F.col("m1")).alias("mean_occ"),
        "max_occ",
        "antihub_share",
        r6(m3 / F.pow(m2, 1.5)).alias("occ_skewness"),
    )


def x339_positivity_check(spark, sf_dir):
    """Causal positivity/overlap diagnostic for the x284 hash arms:
    users bin by total event count (deciles); per bin the treated
    propensity; the report counts bins observed, bins with BOTH arms,
    the propensity range, and the share of users in extreme-propensity
    bins (<0.1 or >0.9) — the check that must pass before x251/x284's
    effect estimates mean anything (Rosenbaum-Rubin overlap).

    Scale: one user aggregation, decile cuts broadcast, bin-sized
    algebra."""
    ev = T(spark, sf_dir, "events")
    arm = did_treated(F.col("user_id")).cast("long")
    users = ev.groupBy("user_id").agg(
        F.count("*").alias("cnt"), F.max(arm).alias("treated")
    )
    from social_warner_spark.caching import register_persisted

    users = register_persisted(users.persist())
    qs = ", ".join(
        str(round(i / PP_BINS, 2)) for i in range(1, PP_BINS)
    )
    cuts = users.agg(
        F.expr(f"percentile(cnt, array({qs}))").alias("cs")
    ).select(F.posexplode("cs").alias("ci", "cut_raw")).select(
        F.round("cut_raw", 6).alias("cutv")
    )
    binned = (
        users.crossJoin(F.broadcast(cuts))
        .groupBy("user_id", "treated", "cnt")
        .agg(
            (
                F.sum((F.col("cnt") > F.col("cutv")).cast("int"))
                / F.count("*")
                * (PP_BINS - 1)
                + 1
            ).cast("int").alias("bin")
        )
    )
    per = binned.groupBy("bin").agg(
        F.count("*").alias("n"),
        F.round(F.avg("treated"), 6).alias("prop"),
    )
    tot = binned.agg(F.count("*").alias("nu"))
    return per.crossJoin(F.broadcast(tot)).agg(
        F.count("*").alias("n_bins"),
        F.sum(
            ((F.col("prop") > 0) & (F.col("prop") < 1)).cast("long")
        ).alias("bins_with_both_arms"),
        r6(F.min("prop")).alias("min_propensity"),
        r6(F.max("prop")).alias("max_propensity"),
        r6(
            F.sum(
                F.when(
                    (F.col("prop") < PP_LO) | (F.col("prop") > PP_HI),
                    F.col("n"),
                ).otherwise(F.lit(0))
            )
            / F.max("nu")
        ).alias("extreme_mass"),
    )


def x340_subsequence_mining(spark, sf_dir):
    """Gapped sequential pattern mining (Agrawal-Srikant shape): for
    every ordered event-type triple (a, b, c), the number of users
    whose journey contains a ... b ... c in order (any gaps); top-10
    patterns by support — the data-driven counterpart of x318's
    hand-written journey regexes.

    Scale: candidates are |types|^3 (bounded, broadcast); containment
    resolves from per-(user, type) first/last positions plus one
    bounded range-probe for the middle element — never a
    per-candidate corpus scan."""
    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id", "event_type", F.row_number().over(w).alias("pos")
    )
    from social_warner_spark.caching import register_persisted

    seq = register_persisted(seq.persist())
    pt = seq.groupBy("user_id", "event_type").agg(
        F.min("pos").alias("minp"), F.max("pos").alias("maxp")
    )
    pt = register_persisted(pt.persist())
    types = pt.select(F.col("event_type").alias("t")).distinct()
    cand = (
        types.select(F.col("t").alias("a"))
        .crossJoin(F.broadcast(types.select(F.col("t").alias("b"))))
        .crossJoin(F.broadcast(types.select(F.col("t").alias("c"))))
    )
    ua = pt.select(
        "user_id", F.col("event_type").alias("a"), F.col("minp").alias("fa")
    )
    uc = pt.select(
        "user_id", F.col("event_type").alias("c"), F.col("maxp").alias("lc")
    )
    frame = (
        ua.join(F.broadcast(cand), "a")
        .join(uc, ["user_id", "c"])
        .where(F.col("fa") < F.col("lc"))
    )
    mid = seq.select(
        "user_id", F.col("event_type").alias("b"), F.col("pos")
    )
    supported = (
        frame.join(mid, ["user_id", "b"])
        .where((F.col("pos") > F.col("fa")) & (F.col("pos") < F.col("lc")))
        .select("user_id", "a", "b", "c")
        .distinct()
    )
    sup = supported.groupBy("a", "b", "c").agg(
        F.count("*").alias("support")
    )
    nu = seq.agg(F.countDistinct("user_id").alias("nu"))
    rw = Window.orderBy(
        F.desc("support"), F.asc("a"), F.asc("b"), F.asc("c")
    )
    return (
        sup.orderBy(F.desc("support"), F.asc("a"), F.asc("b"), F.asc("c"))
        .limit(SS_TOP)
        .withColumn("rk", F.row_number().over(rw))
        .crossJoin(F.broadcast(nu))
        .select(
            "a",
            "b",
            "c",
            "support",
            "rk",
            r6(F.col("support") / F.col("nu")).alias("support_share"),
        )
    )


def x341_ensemble_dedup_eval(spark, sf_dir):
    """Ensemble dedup-detector evaluation against strong-duplicate
    gold (exact Jaccard >= 0.8, the l2 dedup definition — the
    synthetic corpus has no byte-identical texts): over the observed
    candidate pairs (Jaccard >= 0.3), four detectors — lexical
    (Jaccard >= 0.5), simhash screen (hamming <= 2), their union and
    intersection — each scored with precision/recall/F1 — which
    screening policy the dedup pipeline should actually run (closing
    the x319/x330 audit arc with a decision; lexical recall is 1 by
    threshold nesting, its precision is the interesting number).

    Scale: one pass over the bounded pair sample with fingerprints
    and gold labels joined on doc keys."""
    from social_warner_spark.operators.dedup import (
        exact_jaccard_pairs,
        simhash_fingerprints,
    )
    from social_warner_spark.caching import register_persisted

    d = T(spark, sf_dir, "documents")
    pairs = exact_jaccard_pairs(d, EN_SAMPLE_MIN).select(
        F.col("doc_id_a").alias("a"),
        F.col("doc_id_b").alias("b"),
        "jaccard",
    ).localCheckpoint(eager=True)
    fp = register_persisted(
        simhash_fingerprints(d, bits=EN_BITS).persist()
    )

    ham = sum(
        (
            F.substring(F.col("ha"), i + 1, 1)
            != F.substring(F.col("hb"), i + 1, 1)
        ).cast("int")
        for i in range(EN_BITS)
    )
    lab = (
        pairs.join(
            fp.select(F.col("doc_id").alias("a"), F.col("simhash").alias("ha")),
            "a",
        )
        .join(
            fp.select(F.col("doc_id").alias("b"), F.col("simhash").alias("hb")),
            "b",
        )
        .select(
            (F.col("jaccard") >= EN_JACCARD).cast("long").alias("lex"),
            (ham <= EN_HAMMING).cast("long").alias("sim"),
            (F.col("jaccard") >= EN_GOLD_JACCARD).cast("long").alias(
                "gold"
            ),
        )
    )
    lab = register_persisted(lab.persist())
    outs = None
    for name, pred in (
        ("lexical", F.col("lex")),
        ("simhash", F.col("sim")),
        ("union", F.greatest("lex", "sim")),
        ("intersection", F.least("lex", "sim")),
    ):
        one = lab.agg(
            F.lit(name).alias("detector"),
            F.sum(pred).alias("n_pred"),
            F.sum(pred * F.col("gold")).alias("tp"),
            F.sum("gold").alias("n_gold"),
            F.when(
                F.sum(pred) > 0,
                r6(F.sum(pred * F.col("gold")) / F.sum(pred)),
            ).alias("precision"),
            F.when(
                F.sum("gold") > 0,
                r6(F.sum(pred * F.col("gold")) / F.sum("gold")),
            ).alias("recall"),
        )
        outs = one if outs is None else outs.unionAll(one)
    return outs.select(
        "detector",
        "n_pred",
        "tp",
        "n_gold",
        "precision",
        "recall",
        F.when(
            (F.col("precision") + F.col("recall")) > 0,
            r6(
                2
                * F.col("precision")
                * F.col("recall")
                / (F.col("precision") + F.col("recall"))
            ),
        ).alias("f1"),
    ).orderBy("detector")


# ---------------------------------------------------------------------------
# Oracles
# ---------------------------------------------------------------------------

_COS = (
    "ROUND(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])"
    " / (sqrt(list_dot_product(a.embedding::DOUBLE[],"
    " a.embedding::DOUBLE[]))"
    " * sqrt(list_dot_product(b.embedding::DOUBLE[],"
    " b.embedding::DOUBLE[]))), 6)"
)

_PAIRS_03 = f"""toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ), shl AS (
            SELECT DISTINCT doc_id,
                   t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
            FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
            WHERE len(t) >= 3
        ), sizes AS (
            SELECT doc_id, COUNT(*) AS sz FROM shl GROUP BY doc_id
        ), shared AS (
            SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS c
            FROM shl a JOIN shl b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ), pairs AS MATERIALIZED (
            SELECT a, b, ROUND(c * 1.0 / (sa.sz + sb.sz - c), 6)
                       AS jaccard
            FROM shared
            JOIN sizes sa ON sa.doc_id = a
            JOIN sizes sb ON sb.doc_id = b
            WHERE ROUND(c * 1.0 / (sa.sz + sb.sz - c), 6)
                  >= {EN_SAMPLE_MIN}
        )"""

_SIMHASH_FP = f"""tok2 AS (
            SELECT doc_id,
                   UNNEST(list_distinct(string_split(text, ' '))) AS t
            FROM documents
        ), bits AS (
            SELECT doc_id, j,
                   SUM(CASE WHEN substr(md5(t), j + 1, 1) >= '8'
                            THEN 1 ELSE -1 END) AS s
            FROM tok2, UNNEST(range(0, {EN_BITS})) AS u(j)
            GROUP BY doc_id, j
        ), fp AS MATERIALIZED (
            SELECT doc_id,
                   string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, ''
                              ORDER BY j) AS simhash
            FROM bits GROUP BY doc_id
        )"""

_HAM = " + ".join(
    f"CASE WHEN substr(fa.simhash, {i + 1}, 1)"
    f" != substr(fb.simhash, {i + 1}, 1) THEN 1 ELSE 0 END"
    for i in range(EN_BITS)
)

_EN_ROWS = " UNION ALL ".join(
    f"""SELECT '{name}' AS detector,
               CAST(SUM({p}) AS BIGINT) AS n_pred,
               CAST(SUM({p} * gold) AS BIGINT) AS tp,
               CAST(SUM(gold) AS BIGINT) AS n_gold,
               CASE WHEN SUM({p}) > 0
                    THEN ROUND(SUM({p} * gold) * 1.0 / SUM({p}), 6)
               END AS precision,
               CASE WHEN SUM(gold) > 0
                    THEN ROUND(SUM({p} * gold) * 1.0 / SUM(gold), 6)
               END AS recall
        FROM lab"""
    for name, p in (
        ("lexical", "lex"),
        ("simhash", "sim"),
        ("union", "GREATEST(lex, sim)"),
        ("intersection", "LEAST(lex, sim)"),
    )
)

ORACLES = {
    "x337_anisotropy": f"""
        WITH e AS (
            SELECT vec_id, label, embedding,
                   CAST(('0x' || substr(md5('au|' ||
                        CAST(vec_id AS VARCHAR)), 1, 8)) AS UBIGINT)
                       % {AU_BUCKETS} AS bk,
                   sqrt(list_dot_product(embedding::DOUBLE[],
                                         embedding::DOUBLE[])) AS nv
            FROM embeddings
        ), aniso AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
                   ROUND(AVG({_COS}), 6) AS anisotropy
            FROM e a JOIN e b
              ON a.bk = b.bk AND a.vec_id < b.vec_id
        ), norms AS (
            SELECT ROUND(AVG(nv), 6) AS mean_norm,
                   ROUND(stddev_samp(nv) / AVG(nv), 6) AS norm_cv,
                   CAST(COUNT(DISTINCT label) AS BIGINT) AS n_labels
            FROM e
        )
        SELECT n_pairs, anisotropy, mean_norm, norm_cv, n_labels
        FROM aniso CROSS JOIN norms
    """,
    "x338_hubness": f"""
        WITH e AS MATERIALIZED (
            SELECT vec_id, embedding,
                   CAST(('0x' || substr(md5('hub|' ||
                        CAST(vec_id AS VARCHAR)), 1, 8)) AS UBIGINT)
                       % {HUB_BUCKETS} AS bk
            FROM embeddings
        ), scored AS (
            SELECT a.vec_id AS q, b.vec_id AS nb, {_COS} AS cos
            FROM e a JOIN e b
              ON a.bk = b.bk AND a.vec_id != b.vec_id
        ), top AS (
            SELECT nb FROM (
                SELECT nb, ROW_NUMBER() OVER (
                    PARTITION BY q ORDER BY cos DESC, nb) AS rk
                FROM scored
            ) WHERE rk <= {HUB_K}
        ), occ AS (
            SELECT CAST(COALESCE(t.o, 0) AS DOUBLE) AS o
            FROM e LEFT JOIN (
                SELECT nb, COUNT(*) AS o FROM top GROUP BY nb
            ) t ON t.nb = e.vec_id
        ), mom AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
                   AVG(o) AS m1, AVG(o * o) AS m2r,
                   AVG(o * o * o) AS m3r,
                   CAST(MAX(o) AS BIGINT) AS max_occ,
                   ROUND(AVG(CASE WHEN o = 0 THEN 1.0 ELSE 0.0 END), 6)
                       AS antihub_share
            FROM occ
        )
        SELECT n_vectors, ROUND(m1, 6) AS mean_occ, max_occ,
               antihub_share,
               ROUND((m3r - 3 * m1 * m2r + 2 * m1 * m1 * m1)
                     / pow(m2r - m1 * m1, 1.5), 6) AS occ_skewness
        FROM mom
    """,
    "x339_positivity_check": f"""
        WITH users AS MATERIALIZED (
            SELECT user_id, COUNT(*) AS cnt,
                   MAX(CASE WHEN CAST(('0x' || substr(md5('{DID_SALT}' ||
                        CAST(user_id AS VARCHAR)), 1, 8)) AS UBIGINT)
                        % 2 = 0 THEN 1 ELSE 0 END) AS treated
            FROM events GROUP BY 1
        ), qcs AS (
            SELECT quantile_cont(cnt,
                [{", ".join(str(round(i / PP_BINS, 2)) for i in range(1, PP_BINS))}])
                AS cs
            FROM users
        ), cuts AS (
            SELECT ROUND(cs[u.ci], 6) AS cutv
            FROM qcs, UNNEST(range(1, {PP_BINS})) AS u(ci)
        ), binned AS (
            SELECT u.user_id, u.treated,
                   CAST(SUM(CASE WHEN u.cnt > c.cutv
                                 THEN 1 ELSE 0 END) * 1.0 / COUNT(*)
                        * {PP_BINS - 1} + 1 AS INT) AS bin
            FROM users u CROSS JOIN cuts c
            GROUP BY u.user_id, u.treated, u.cnt
        ), per AS (
            SELECT bin, COUNT(*) AS n,
                   ROUND(AVG(treated), 6) AS prop
            FROM binned GROUP BY bin
        ), tot AS (
            SELECT COUNT(*) AS nu FROM binned
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
               CAST(SUM(CASE WHEN prop > 0 AND prop < 1
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS bins_with_both_arms,
               ROUND(MIN(prop), 6) AS min_propensity,
               ROUND(MAX(prop), 6) AS max_propensity,
               ROUND(SUM(CASE WHEN prop < {PP_LO} OR prop > {PP_HI}
                              THEN n ELSE 0 END) * 1.0 / MAX(tot.nu), 6)
                   AS extreme_mass
        FROM per CROSS JOIN tot
    """,
    "x340_subsequence_mining": f"""
        WITH seq AS MATERIALIZED (
            SELECT user_id, event_type,
                   CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id) AS INT)
                       AS pos
            FROM events
        ), pt AS MATERIALIZED (
            SELECT user_id, event_type, MIN(pos) AS minp,
                   MAX(pos) AS maxp
            FROM seq GROUP BY 1, 2
        ), types AS (
            SELECT DISTINCT event_type AS t FROM pt
        ), cand AS (
            SELECT ta.t AS a, tb.t AS b, tc.t AS c
            FROM types ta CROSS JOIN types tb CROSS JOIN types tc
        ), frame AS (
            SELECT ua.user_id, cand.a, cand.b, cand.c,
                   ua.minp AS fa, uc.maxp AS lc
            FROM cand
            JOIN pt ua ON ua.event_type = cand.a
            JOIN pt uc ON uc.event_type = cand.c
                      AND uc.user_id = ua.user_id
            WHERE ua.minp < uc.maxp
        ), supported AS (
            SELECT DISTINCT f.user_id, f.a, f.b, f.c
            FROM frame f
            JOIN seq m ON m.user_id = f.user_id
                      AND m.event_type = f.b
                      AND m.pos > f.fa AND m.pos < f.lc
        ), sup AS (
            SELECT a, b, c, CAST(COUNT(*) AS BIGINT) AS support
            FROM supported GROUP BY 1, 2, 3
        ), nu AS (
            SELECT COUNT(DISTINCT user_id) AS n FROM seq
        )
        SELECT a, b, c, support,
               CAST(ROW_NUMBER() OVER (ORDER BY support DESC, a, b, c)
                    AS INT) AS rk,
               ROUND(support * 1.0 / nu.n, 6) AS support_share
        FROM sup CROSS JOIN nu
        ORDER BY support DESC, a, b, c
        LIMIT {SS_TOP}
    """,
    "x341_ensemble_dedup_eval": f"""
        WITH {_PAIRS_03}, {_SIMHASH_FP}, lab AS MATERIALIZED (
            SELECT CASE WHEN p.jaccard >= {EN_JACCARD}
                        THEN 1 ELSE 0 END AS lex,
                   CASE WHEN ({_HAM}) <= {EN_HAMMING}
                        THEN 1 ELSE 0 END AS sim,
                   CASE WHEN p.jaccard >= {EN_GOLD_JACCARD}
                        THEN 1 ELSE 0 END AS gold
            FROM pairs p
            JOIN fp fa ON fa.doc_id = p.a
            JOIN fp fb ON fb.doc_id = p.b
        ), rows_ AS ({_EN_ROWS})
        SELECT detector, n_pred, tp, n_gold, precision, recall,
               CASE WHEN precision + recall > 0
                    THEN ROUND(2 * precision * recall
                               / (precision + recall), 6)
               END AS f1
        FROM rows_
        ORDER BY detector
    """,
}

QUERIES = {
    "x337_anisotropy": x337_anisotropy,
    "x338_hubness": x338_hubness,
    "x339_positivity_check": x339_positivity_check,
    "x340_subsequence_mining": x340_subsequence_mining,
    "x341_ensemble_dedup_eval": x341_ensemble_dedup_eval,
}
