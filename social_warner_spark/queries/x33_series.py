"""x33 series — round-3 widening batch (x347–x351): uplift (Qini)
evaluation, survey design effect, finite-population corrections,
kNN out-of-distribution scoring, and quantile treatment effects.

Like every other series, each query is a pure DataFrame program over
the driver's parquet tables with an independently-written DuckDB
oracle; arms reuse the x284 deterministic md5 split, kNN machinery the
x338 bucket discipline.

Literature grounding (public):
- Radcliffe & Surry, "Real-world uplift modelling" (2011) — Qini.
- Kish, "Survey sampling" (1965) — design effect and the
  finite-population correction.
- Sun et al., "Out-of-distribution detection with deep nearest
  neighbors" (ICML 2022).
- Firpo (Econometrica 2007) — quantile treatment effects.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from social_warner_spark.functions.text import md5_int
from social_warner_spark.queries.common import T, r6
from social_warner_spark.queries.x20_series import DID_SALT, did_treated
from social_warner_spark.queries.x31_series import HUB_BUCKETS, hub_bucket

#: x347 — score deciles for the uplift curve; outcome = heavy-buyer
#: (the x281 threshold).
QU_BINS = 10
QU_MIN_PURCHASES = 15
#: x349 — deterministic 10% sample (md5 mod).
FPC_MOD = 10
FPC_Z = 1.959964
#: x350 — neighbor depth and reported outliers.
OOD_K = 5
OOD_TOP = 10
#: x351 — evaluated quantiles.
QTE_QS = (0.1, 0.25, 0.5, 0.75, 0.9)


def x347_qini_uplift(spark, sf_dir):
    """Qini uplift evaluation of the event-count score under the x284
    hash arms: users ranked by score into deciles; per cumulative
    decile the incremental conversions (treated responders minus
    control responders scaled to the treated count) against the
    random-targeting diagonal; the Qini coefficient (sum of per-decile
    gaps) summarizes — with an A/A split this calibrates the metric's
    null behavior, and a real treatment flag drops straight in.

    Scale (r05): one user aggregation; deciles from the DISTRIBUTED
    exact ntile over (count desc, id) — operators/ordered.py range
    partitions + broadcast prefix offsets, no single-partition sort of
    the |users| relation; the curve is 10-row algebra."""
    from social_warner_spark.operators.ordered import with_global_ntile

    ev = T(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.count("*").alias("cnt"),
        (
            F.sum((F.col("event_type") == "purchase").cast("long"))
            >= QU_MIN_PURCHASES
        )
        .cast("long")
        .alias("y"),
    )
    staged = with_global_ntile(
        users, [F.desc("cnt"), F.asc("user_id")], QU_BINS, "dec"
    ).select("y", did_treated(F.col("user_id")).cast("long").alias("t"), "dec")
    from social_warner_spark.caching import register_persisted

    staged = register_persisted(staged.persist())
    per = staged.groupBy("dec").agg(
        F.sum("t").alias("nt"),
        F.sum(F.lit(1) - F.col("t")).alias("nc"),
        F.sum(F.col("t") * F.col("y")).alias("rt"),
        F.sum((F.lit(1) - F.col("t")) * F.col("y")).alias("rc"),
    )
    cw = Window.orderBy("dec").rowsBetween(Window.unboundedPreceding, 0)
    tot = per.agg(
        F.sum("nt").alias("g_nt"),
        F.sum("rt").alias("g_rt"),
        F.sum("nc").alias("g_nc"),
        F.sum("rc").alias("g_rc"),
    )
    curve = per.crossJoin(F.broadcast(tot)).select(
        "dec",
        F.sum("nt").over(cw).alias("cnt_t"),
        F.sum("rt").over(cw).alias("crt"),
        F.sum("nc").over(cw).alias("cnc"),
        F.sum("rc").over(cw).alias("crc"),
        "g_nt",
        "g_rt",
        "g_nc",
        "g_rc",
    )
    qini = (
        F.col("crt")
        - F.col("crc") * F.col("cnt_t") / F.greatest(F.col("cnc"), F.lit(1))
    )
    diag = (
        (F.col("g_rt") - F.col("g_rc") * F.col("g_nt") / F.col("g_nc"))
        * F.col("cnt_t")
        / F.col("g_nt")
    )
    return curve.select(
        "dec",
        F.col("cnt_t").alias("cum_treated"),
        r6(qini).alias("incremental"),
        r6(diag).alias("random_baseline"),
        r6(qini - diag).alias("qini_gap"),
    ).orderBy("dec")


def x348_design_effect(spark, sf_dir):
    """Survey design effect for estimating the mean document length
    with SOURCE-stratified sampling (proportional allocation) vs
    simple random sampling: DEFF = Var_strat/Var_srs = (sum W_h
    s_h^2 / n) / (s^2 / n) — how much variance the stratification
    removes, the number behind x212's Neyman allocation.

    Scale: one per-stratum moment aggregation plus one global one."""
    d = T(spark, sf_dir, "documents").select(
        "source", F.col("n_chars").cast("double").alias("x")
    )
    strat = d.groupBy("source").agg(
        F.count("*").alias("nh"), F.var_samp("x").alias("s2h")
    )
    glob = d.agg(
        F.count("*").alias("n"), F.var_samp("x").alias("s2")
    )
    j = strat.crossJoin(F.broadcast(glob))
    within = F.sum(F.col("nh") / F.col("n") * F.col("s2h"))
    return j.agg(
        F.max("n").alias("n_docs"),
        F.count("*").alias("n_strata"),
        r6(F.max("s2")).alias("var_total"),
        r6(within).alias("var_within"),
        r6(within / F.max("s2")).alias("deff"),
        r6(1.0 - within / F.max("s2")).alias("variance_saved"),
    )


def x349_fpc_ci(spark, sf_dir):
    """Finite-population-corrected CI: a deterministic 10% md5 sample
    of documents estimates the mean length; the naive CI beside the
    FPC CI (half-width scaled by sqrt(1 - n/N)) and the true
    population mean — the correction that matters exactly when the
    sample is a visible fraction of the population (as pipeline QA
    samples usually are).

    Scale: the sample is a narrow hash filter; two moment
    aggregations."""
    d = T(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").cast("double").alias("x")
    )
    pop = d.agg(
        F.count("*").alias("pop_n"), r6(F.avg("x")).alias("true_mean")
    )
    samp = d.where(
        md5_int(F.concat(F.lit("fpc|"), F.col("doc_id").cast("string")), 8) % FPC_MOD
        == 0
    ).agg(
        F.count("*").alias("n"),
        F.avg("x").alias("m"),
        F.var_samp("x").alias("s2"),
    )
    j = samp.crossJoin(F.broadcast(pop))
    half = FPC_Z * F.sqrt(F.col("s2") / F.col("n"))
    fpc = F.sqrt(1.0 - F.col("n") / F.col("pop_n"))
    return j.select(
        F.col("pop_n").alias("population"),
        F.col("n").alias("sample_n"),
        "true_mean",
        r6(F.col("m")).alias("sample_mean"),
        r6(half).alias("half_width_naive"),
        r6(half * fpc).alias("half_width_fpc"),
        (
            (F.col("true_mean") >= F.col("m") - half * fpc)
            & (F.col("true_mean") <= F.col("m") + half * fpc)
        ).alias("fpc_ci_covers"),
    )


def x350_knn_ood(spark, sf_dir):
    """kNN out-of-distribution scores (Sun et al.): within md5
    buckets, each vector's distance to its 5th-nearest neighbor
    (1 - cosine); the top-10 most isolated vectors are the OOD
    candidates a curation pass should quarantine — the per-item
    counterpart of x338's global hubness.

    Scale: bucket equi-joins + bounded rank windows (the x338
    machinery), then one top-k."""
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
        (
            1.0
            - F.round(
                cosine_prenormed(
                    F.col("a.v"), F.col("c.v"), F.col("a.nv"), F.col("c.nv")
                ),
                6,
            )
        ).alias("d"),
    )
    rw = Window.partitionBy("q").orderBy(F.asc("d"), F.asc("nb"))
    kth = (
        scored.withColumn("rk", F.row_number().over(rw))
        .where(F.col("rk") == OOD_K)
        .select(F.col("q").alias("vec_id"), r6(F.col("d")).alias("ood_score"))
    )
    w = Window.orderBy(F.desc("ood_score"), F.asc("vec_id"))
    return (
        kth.orderBy(F.desc("ood_score"), F.asc("vec_id"))
        .limit(OOD_TOP)
        .withColumn("rk", F.row_number().over(w))
    )


def x351_quantile_effects(spark, sf_dir):
    """Quantile treatment effects for the x284 hash arms on the event
    value: the treated-minus-control difference at the 10/25/50/75/90th
    percentiles — where in the distribution an effect lives, which
    the mean difference (x284) averages away; on an A/A split every
    QTE calibrates near zero.

    Scale: one percentile-array aggregation per arm (both broadcast);
    the effect table is |quantiles|-sized."""
    ev = T(spark, sf_dir, "events").select(
        did_treated(F.col("user_id")).cast("long").alias("t"), "value"
    )
    qs = ", ".join(str(q) for q in QTE_QS)
    per = ev.groupBy("t").agg(
        F.expr(f"percentile(value, array({qs}))").alias("cs"),
        F.count("*").alias("n"),
    )
    tre = per.where(F.col("t") == 1).select(
        F.col("cs").alias("ct"), F.col("n").alias("nt")
    )
    ctl = per.where(F.col("t") == 0).select(
        F.col("cs").alias("cc"), F.col("n").alias("nc")
    )
    grid = spark.createDataFrame(
        [(i + 1, q) for i, q in enumerate(QTE_QS)], ["qi", "q"]
    )
    return (
        grid.crossJoin(F.broadcast(tre))
        .crossJoin(F.broadcast(ctl))
        .select(
            "q",
            "nt",
            "nc",
            r6(F.element_at(F.col("ct"), F.col("qi").cast("int"))).alias("q_treated"),
            r6(F.element_at(F.col("cc"), F.col("qi").cast("int"))).alias("q_control"),
            r6(
                F.element_at(F.col("ct"), F.col("qi").cast("int"))
                - F.element_at(F.col("cc"), F.col("qi").cast("int"))
            ).alias("qte"),
        )
        .orderBy("q")
    )


# ---------------------------------------------------------------------------
# Oracles
# ---------------------------------------------------------------------------

_ARM_SQL = (
    "CASE WHEN CAST(('0x' || substr(md5('{salt}' ||"
    " CAST({col} AS VARCHAR)), 1, 8)) AS UBIGINT) % 2 = 0"
    " THEN 1 ELSE 0 END"
).format(salt=DID_SALT, col="user_id")

_QTE_ROWS = " UNION ALL ".join(
    f"""SELECT {q} AS q, tre.nt, ctl.nc,
               ROUND(tre.ct[{i + 1}], 6) AS q_treated,
               ROUND(ctl.cc[{i + 1}], 6) AS q_control,
               ROUND(tre.ct[{i + 1}] - ctl.cc[{i + 1}], 6) AS qte
        FROM tre, ctl"""
    for i, q in enumerate(QTE_QS)
)

ORACLES = {
    "x347_qini_uplift": f"""
        WITH users AS (
            SELECT user_id, COUNT(*) AS cnt,
                   CASE WHEN SUM(CASE WHEN event_type = 'purchase'
                                      THEN 1 ELSE 0 END)
                             >= {QU_MIN_PURCHASES} THEN 1 ELSE 0 END AS y
            FROM events GROUP BY 1
        ), staged AS MATERIALIZED (
            SELECT y, {_ARM_SQL} AS t,
                   NTILE({QU_BINS}) OVER (ORDER BY cnt DESC, user_id)
                       AS dec
            FROM users
        ), per AS (
            SELECT dec, SUM(t) AS nt, SUM(1 - t) AS nc,
                   SUM(t * y) AS rt, SUM((1 - t) * y) AS rc
            FROM staged GROUP BY dec
        ), tot AS (
            SELECT SUM(nt) AS g_nt, SUM(rt) AS g_rt,
                   SUM(nc) AS g_nc, SUM(rc) AS g_rc
            FROM per
        ), curve AS (
            SELECT dec,
                   SUM(nt) OVER w AS cnt_t,
                   SUM(rt) OVER w AS crt,
                   SUM(nc) OVER w AS cnc,
                   SUM(rc) OVER w AS crc,
                   tot.g_nt, tot.g_rt, tot.g_nc, tot.g_rc
            FROM per CROSS JOIN tot
            WINDOW w AS (ORDER BY dec ROWS UNBOUNDED PRECEDING)
        )
        SELECT CAST(dec AS INT) AS dec,
               CAST(cnt_t AS BIGINT) AS cum_treated,
               ROUND(crt - crc * cnt_t * 1.0 / GREATEST(cnc, 1), 6)
                   AS incremental,
               ROUND((g_rt - g_rc * g_nt * 1.0 / g_nc)
                     * cnt_t * 1.0 / g_nt, 6) AS random_baseline,
               ROUND((crt - crc * cnt_t * 1.0 / GREATEST(cnc, 1))
                     - (g_rt - g_rc * g_nt * 1.0 / g_nc)
                       * cnt_t * 1.0 / g_nt, 6) AS qini_gap
        FROM curve ORDER BY dec
    """,
    "x348_design_effect": """
        WITH strat AS (
            SELECT source, COUNT(*) AS nh, var_samp(n_chars) AS s2h
            FROM documents GROUP BY 1
        ), gpop AS (
            SELECT COUNT(*) AS n, var_samp(n_chars) AS s2 FROM documents
        )
        SELECT CAST(MAX(gpop.n) AS BIGINT) AS n_docs,
               CAST(COUNT(*) AS BIGINT) AS n_strata,
               ROUND(MAX(gpop.s2), 6) AS var_total,
               ROUND(SUM(strat.nh * 1.0 / gpop.n * strat.s2h), 6)
                   AS var_within,
               ROUND(SUM(strat.nh * 1.0 / gpop.n * strat.s2h)
                     / MAX(gpop.s2), 6) AS deff,
               ROUND(1.0 - SUM(strat.nh * 1.0 / gpop.n * strat.s2h)
                     / MAX(gpop.s2), 6) AS variance_saved
        FROM strat CROSS JOIN gpop
    """,
    "x349_fpc_ci": f"""
        WITH pop AS (
            SELECT COUNT(*) AS N, ROUND(AVG(n_chars), 6) AS true_mean
            FROM documents
        ), samp AS (
            SELECT COUNT(*) AS n, AVG(n_chars) AS m,
                   var_samp(n_chars) AS s2
            FROM documents
            WHERE CAST(('0x' || substr(md5('fpc|' ||
                  CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
                  % {FPC_MOD} = 0
        )
        SELECT CAST(pop.N AS BIGINT) AS population,
               CAST(samp.n AS BIGINT) AS sample_n,
               pop.true_mean,
               ROUND(samp.m, 6) AS sample_mean,
               ROUND({FPC_Z} * sqrt(samp.s2 / samp.n), 6)
                   AS half_width_naive,
               ROUND({FPC_Z} * sqrt(samp.s2 / samp.n)
                     * sqrt(1.0 - samp.n * 1.0 / pop.N), 6)
                   AS half_width_fpc,
               pop.true_mean >= samp.m - {FPC_Z} * sqrt(samp.s2 / samp.n)
                   * sqrt(1.0 - samp.n * 1.0 / pop.N)
               AND pop.true_mean <= samp.m
                   + {FPC_Z} * sqrt(samp.s2 / samp.n)
                     * sqrt(1.0 - samp.n * 1.0 / pop.N)
                   AS fpc_ci_covers
        FROM samp CROSS JOIN pop
    """,
    "x350_knn_ood": f"""
        WITH e AS MATERIALIZED (
            SELECT vec_id, embedding,
                   CAST(('0x' || substr(md5('hub|' ||
                        CAST(vec_id AS VARCHAR)), 1, 8)) AS UBIGINT)
                       % {HUB_BUCKETS} AS bk
            FROM embeddings
        ), scored AS (
            SELECT a.vec_id AS q, b.vec_id AS nb,
                   1.0 - ROUND(
                       list_dot_product(a.embedding::DOUBLE[],
                                        b.embedding::DOUBLE[])
                       / (sqrt(list_dot_product(a.embedding::DOUBLE[],
                                                a.embedding::DOUBLE[]))
                          * sqrt(list_dot_product(b.embedding::DOUBLE[],
                                                  b.embedding::DOUBLE[]))),
                       6) AS d
            FROM e a JOIN e b
              ON a.bk = b.bk AND a.vec_id != b.vec_id
        ), kth AS (
            SELECT q AS vec_id, ROUND(d, 6) AS ood_score
            FROM (SELECT q, d, ROW_NUMBER() OVER (
                      PARTITION BY q ORDER BY d, nb) AS rk
                  FROM scored)
            WHERE rk = {OOD_K}
        )
        SELECT vec_id, ood_score,
               CAST(ROW_NUMBER() OVER (ORDER BY ood_score DESC, vec_id)
                    AS INT) AS rk
        FROM kth
        ORDER BY ood_score DESC, vec_id
        LIMIT {OOD_TOP}
    """,
    "x351_quantile_effects": f"""
        WITH staged AS (
            SELECT {_ARM_SQL} AS t, value FROM events
        ), tre AS (
            SELECT quantile_cont(value,
                       [{", ".join(str(q) for q in QTE_QS)}]) AS ct,
                   CAST(COUNT(*) AS BIGINT) AS nt
            FROM staged WHERE t = 1
        ), ctl AS (
            SELECT quantile_cont(value,
                       [{", ".join(str(q) for q in QTE_QS)}]) AS cc,
                   CAST(COUNT(*) AS BIGINT) AS nc
            FROM staged WHERE t = 0
        )
        SELECT * FROM ({_QTE_ROWS})
        ORDER BY q
    """,
}

QUERIES = {
    "x347_qini_uplift": x347_qini_uplift,
    "x348_design_effect": x348_design_effect,
    "x349_fpc_ci": x349_fpc_ci,
    "x350_knn_ood": x350_knn_ood,
    "x351_quantile_effects": x351_quantile_effects,
}
