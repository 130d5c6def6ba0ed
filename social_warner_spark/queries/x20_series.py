"""x20 series — round-3 widening batch (x282–x286): Gaussian-mixture
EM, cross-series correlation, difference-in-differences, Nelson–Aalen
cumulative hazard, and one-sample Kolmogorov–Smirnov
goodness-of-fit.

Like every other series, each query is a pure DataFrame program over
the driver's parquet tables with an independently-written DuckDB
oracle.  The EM recursion is FIXED-round with 6dp-pinned parameters
per round (the x39/x249 discipline) and the oracle unrolls the same
rounds as chained CTEs (the x24 Lloyd-step pattern) — aggregate sums
of per-row exp() differ across engines only far below the rounding
grid.

Literature grounding (public):
- Dempster, Laird & Rubin, "Maximum likelihood from incomplete data
  via the EM algorithm" (JRSS-B 1977).
- Card & Krueger (AER 1994) — the difference-in-differences design.
- Nelson (Technometrics 1972) / Aalen (Ann. Stat. 1978) — cumulative
  hazard estimation.
- Massey, "The Kolmogorov-Smirnov test for goodness of fit"
  (JASA 1951).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from social_warner_spark.functions.text import md5_int
from social_warner_spark.queries.common import T, r6

#: x282 — EM configuration: the modeled event type, component count
#: (fixed at 2), and the number of 6dp-pinned EM rounds.
GMM_TYPE = "click"
GMM_ROUNDS = 5
#: x284 — deterministic A/B hash salt; the pre/post boundary is the
#: dataset's observed midpoint (min_ts + span/2), computed
#: relationally so every scale factor splits inside its own range.
DID_SALT = "did|"
#: x285 — reported event times (matches x183's KM window).
NA_TOP_TIMES = 50
#: x286 — inter-arrival unit: microseconds → seconds.
KS_US = 1_000_000.0


def _gmm_resp(z, prev):
    """E-step responsibilities g(x) under `prev`'s 1-row parameters."""
    j = z.crossJoin(F.broadcast(prev))
    phi1 = (
        F.exp(
            -(F.col("x") - F.col("mu1"))
            * (F.col("x") - F.col("mu1"))
            / (2 * F.col("sd1") * F.col("sd1"))
        )
        / F.col("sd1")
    )
    phi2 = (
        F.exp(
            -(F.col("x") - F.col("mu2"))
            * (F.col("x") - F.col("mu2"))
            / (2 * F.col("sd2") * F.col("sd2"))
        )
        / F.col("sd2")
    )
    g = (F.col("p1") * phi1) / (
        F.col("p1") * phi1 + (1 - F.col("p1")) * phi2
    )
    return j.select("x", g.alias("g"))


def _gmm_round(z, prev):
    """One EM round: means/weight in a first aggregation, weighted
    stddevs about the NEW (6dp-rounded) means in a second — aggregates
    cannot nest, so the M-step is the standard two-pass form."""
    e = _gmm_resp(z, prev)
    m = e.agg(
        F.round(F.sum(F.col("g") * F.col("x")) / F.sum("g"), 6).alias(
            "nmu1"
        ),
        F.round(
            F.sum((1 - F.col("g")) * F.col("x")) / F.sum(1 - F.col("g")), 6
        ).alias("nmu2"),
        F.round(F.avg("g"), 6).alias("np1"),
    )
    e2 = _gmm_resp(z, prev).crossJoin(F.broadcast(m))
    return e2.agg(
        F.max("nmu1").alias("mu1"),
        F.round(
            F.sqrt(
                F.sum(
                    F.col("g")
                    * (F.col("x") - F.col("nmu1"))
                    * (F.col("x") - F.col("nmu1"))
                )
                / F.sum("g")
            ),
            6,
        ).alias("sd1"),
        F.max("nmu2").alias("mu2"),
        F.round(
            F.sqrt(
                F.sum(
                    (1 - F.col("g"))
                    * (F.col("x") - F.col("nmu2"))
                    * (F.col("x") - F.col("nmu2"))
                )
                / F.sum(1 - F.col("g"))
            ),
            6,
        ).alias("sd2"),
        F.max("np1").alias("p1"),
    ).localCheckpoint(eager=True)


def x282_gmm_em(spark, sf_dir):
    """Two-component Gaussian-mixture EM on the click event values:
    deterministic quartile/stddev initialization, five 6dp-pinned EM
    rounds (E-step responsibilities as a narrow map, M-step as one
    weighted aggregation), reporting both components and the mixing
    weight — the model-based alternative to x47's histogram when a
    metric is suspected bimodal.

    Scale: the value projection is persisted once; each round is one
    broadcast of the 1-row parameter relation plus one
    map-side-combined weighted aggregation — the textbook distributed
    EM layout.  Parameter relations are eagerly checkpointed so five
    rounds do not nest five plans."""
    from social_warner_spark.caching import register_persisted

    z = register_persisted(
        T(spark, sf_dir, "events")
        .where(F.col("event_type") == GMM_TYPE)
        .select(F.col("value").alias("x"))
        .persist()
    )
    init = z.agg(
        F.round(F.expr("percentile(x, 0.25)"), 6).alias("mu1"),
        F.round(F.stddev_samp("x"), 6).alias("sd1"),
        F.round(F.expr("percentile(x, 0.75)"), 6).alias("mu2"),
        F.round(F.stddev_samp("x"), 6).alias("sd2"),
        F.lit(0.5).alias("p1"),
    ).localCheckpoint(eager=True)
    params = init
    for _ in range(GMM_ROUNDS):
        params = _gmm_round(z, params)
    n = z.agg(F.count("*").alias("n_values"))
    return params.crossJoin(F.broadcast(n)).select(
        "n_values", "p1", "mu1", "sd1", "mu2", "sd2"
    )


def x283_daily_correlation(spark, sf_dir):
    """Pairwise Pearson correlation matrix of the five event types'
    daily mean-value series (complete days only): which operational
    signals co-move — the multivariate readout behind x197's single
    cross-correlation.

    Scale: the corpus collapses to the (day x type) grid in one
    aggregation; the pair join and corr run on the bounded grid."""
    ev = T(spark, sf_dir, "events")
    cell = ev.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day"), "event_type"
    ).agg(F.round(F.avg("value"), 6).alias("m"))
    nt = cell.agg(F.countDistinct("event_type").alias("k"))
    full = (
        cell.groupBy("day")
        .agg(F.count("*").alias("kk"))
        .crossJoin(F.broadcast(nt))
        .where(F.col("kk") == F.col("k"))
        .select("day")
    )
    blocks = cell.join(full, "day")
    a, b = blocks.alias("a"), blocks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.day") == F.col("b.day"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("t1"),
            F.col("b.event_type").alias("t2"),
        )
        .agg(
            F.count("*").alias("n_days"),
            r6(F.corr(F.col("a.m"), F.col("b.m"))).alias("pearson_r"),
        )
        .orderBy("t1", "t2")
    )


def did_treated(user_id: F.Column) -> F.Column:
    """The md5 arm of a user, true for treated: x284 and x347/x351 split alike."""
    return md5_int(F.concat(F.lit(DID_SALT), user_id.cast("string")), 8) % 2 == 0


def x284_diff_in_diffs(spark, sf_dir):
    """Difference-in-differences with a deterministic md5 hash split
    (arm A = treated) and the observed-midpoint pre/post boundary: per
    (arm, period)
    user-level mean outcomes, DiD = (T_post - T_pre) - (C_post -
    C_pre), with the four-cell variance SE sqrt(sum s_i^2/n_i) and the
    t ratio — the parallel-trends workhorse; with a random split this
    is its A/A calibration.

    Scale: one user-period aggregation; the 2x2 algebra runs on four
    rows."""
    ev = T(spark, sf_dir, "events")
    arm = F.when(did_treated(F.col("user_id")), F.lit("treated")).otherwise(
        F.lit("control")
    )
    split = ev.agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")
    ).select(
        F.expr(
            "timestampadd(MICROSECOND,"
            " CAST(timestampdiff(MICROSECOND, lo, hi) / 2 AS BIGINT), lo)"
        ).alias("cut")
    )
    up = (
        ev.crossJoin(F.broadcast(split))
        .groupBy(
            "user_id",
            arm.alias("arm"),
            (F.col("ts") >= F.col("cut")).alias("post"),
        )
        .agg(F.avg("value").alias("y"))
    )
    cells = up.groupBy("arm", "post").agg(
        F.count("*").alias("n"),
        F.avg("y").alias("m"),
        F.var_samp("y").alias("v"),
    )
    pv = cells.groupBy().pivot("arm", ["treated", "control"]).agg(
        F.max(F.when(F.col("post"), F.col("m"))).alias("post_m"),
        F.max(F.when(~F.col("post"), F.col("m"))).alias("pre_m"),
        F.max(F.when(F.col("post"), F.col("v") / F.col("n"))).alias("post_vn"),
        F.max(F.when(~F.col("post"), F.col("v") / F.col("n"))).alias("pre_vn"),
    )
    did = (
        F.col("treated_post_m")
        - F.col("treated_pre_m")
        - (F.col("control_post_m") - F.col("control_pre_m"))
    )
    se = F.sqrt(
        F.col("treated_post_vn")
        + F.col("treated_pre_vn")
        + F.col("control_post_vn")
        + F.col("control_pre_vn")
    )
    return pv.select(
        r6(F.col("treated_pre_m")).alias("treated_pre"),
        r6(F.col("treated_post_m")).alias("treated_post"),
        r6(F.col("control_pre_m")).alias("control_pre"),
        r6(F.col("control_post_m")).alias("control_post"),
        r6(did).alias("did"),
        r6(se).alias("se"),
        r6(did / se).alias("t_stat"),
    )


def x285_nelson_aalen(spark, sf_dir):
    """Nelson–Aalen cumulative hazard for view→purchase conversion
    (x183's exact subjects, durations and censoring): H(t) =
    sum_{ti<=t} d_i/n_i with variance sum d_i/n_i^2 — the hazard-scale
    companion of x183's survival curve (exp(-H) approximates S, and
    the increments ARE the hazard x183 only implies).

    Scale: identical to x183 — one user-keyed chain, then cumulative
    windows on the |distinct durations| grid."""
    e = T(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    t0 = e.where(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("t0")
    )
    conv = (
        e.where(F.col("event_type") == "purchase")
        .join(t0, "user_id")
        .where(F.col("ts") > F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("tc"))
    )
    last = e.groupBy("user_id").agg(F.max("ts").alias("tl"))
    subj = (
        t0.join(conv, "user_id", "left")
        .join(last, "user_id")
        .select(
            F.when(
                F.col("tc").isNotNull(),
                F.expr("timestampdiff(MICROSECOND, t0, tc)"),
            )
            .otherwise(F.expr("timestampdiff(MICROSECOND, t0, tl)"))
            .alias("dur"),
            F.col("tc").isNotNull().cast("int").alias("ev"),
        )
        .where(F.col("dur") > 0)
    )
    cells = subj.groupBy("dur").agg(
        F.sum("ev").alias("d"), F.count("*").alias("c")
    )
    n = cells.agg(F.sum("c").alias("n"))
    w = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, -1)
    wcum = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, 0)
    risk = (
        cells.crossJoin(F.broadcast(n))
        .withColumn(
            "n_risk",
            F.col("n") - F.coalesce(F.sum("c").over(w), F.lit(0)),
        )
        .where(F.col("d") > 0)
    )
    return (
        risk.select(
            "dur",
            "n_risk",
            "d",
            F.sum(F.col("d") / F.col("n_risk")).over(wcum).alias("_h"),
            F.sum(
                F.col("d") / (F.col("n_risk") * F.col("n_risk"))
            )
            .over(wcum)
            .alias("_v"),
        )
        .orderBy("dur")
        .limit(NA_TOP_TIMES)
        .select(
            F.col("dur").alias("t_us"),
            F.col("n_risk").cast("long").alias("n_risk"),
            F.col("d").cast("long").alias("d_events"),
            r6(F.col("_h")).alias("cum_hazard"),
            r6(F.col("_v")).alias("var_h"),
        )
    )


def x286_ks_exponential(spark, sf_dir):
    """One-sample Kolmogorov–Smirnov goodness-of-fit of the global
    event inter-arrival times against the MLE exponential
    (lambda = 1/mean): D = max over the empirical CDF steps of
    max(|i/n - F(x_i)|, |(i-1)/n - F(x_i)|) — "is this stream actually
    Poisson", the arrival-process check behind every queueing
    assumption (x172 compares two samples; this tests a parametric
    law).

    Scale (r06): inter-arrivals come from the DISTRIBUTED global
    1-lead (operators/ordered.py — range partitions + P-row boundary
    heads), replacing the old corpus-sized single-partition lag window
    — the (prev, cur) lag pairs and the (cur, next) lead pairs are the
    same interval multiset.  The CDF steps run on the distinct-value
    relation (support-bounded)."""
    from social_warner_spark.operators.ordered import with_global_lead_structs

    ev = T(spark, sf_dir, "events")
    nxt = with_global_lead_structs(
        ev.select("ts", "event_id"), ["ts", "event_id"], ["ts"], 1, "_nx"
    )
    ia = (
        nxt.select(
            F.expr(
                "timestampdiff(MICROSECOND, ts, _nx[0].ts)"
            ).alias("us")
        )
        .where(F.col("us").isNotNull() & (F.col("us") > 0))
        .select((F.col("us") / KS_US).alias("x"))
    )
    from social_warner_spark.caching import register_persisted

    ia = register_persisted(ia.persist())
    st = ia.agg(
        F.count("*").alias("n"), (1.0 / F.avg("x")).alias("lam")
    )
    vals = ia.groupBy("x").agg(F.count("*").alias("c"))
    cw = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    steps = vals.crossJoin(F.broadcast(st)).select(
        "x",
        "n",
        "lam",
        (F.sum("c").over(cw) / F.col("n")).alias("hi"),
        (
            (F.sum("c").over(cw) - F.col("c")) / F.col("n")
        ).alias("lo"),
        (1.0 - F.exp(-F.col("lam") * F.col("x"))).alias("fx"),
    )
    return steps.agg(
        F.max("n").cast("long").alias("n_intervals"),
        r6(F.max("lam")).alias("lambda_mle"),
        r6(
            F.max(
                F.greatest(
                    F.abs(F.col("hi") - F.col("fx")),
                    F.abs(F.col("lo") - F.col("fx")),
                )
            )
        ).alias("ks_d"),
        r6(
            F.max(
                F.greatest(
                    F.abs(F.col("hi") - F.col("fx")),
                    F.abs(F.col("lo") - F.col("fx")),
                )
            )
            * F.sqrt(F.max("n"))
        ).alias("ks_stat"),
    )


# ---------------------------------------------------------------------------
# Oracles
# ---------------------------------------------------------------------------


def _gmm_oracle() -> str:
    phi = (
        "exp(-(x - {m}) * (x - {m}) / (2 * {s} * {s})) / {s}"
    )

    def estep(ptab):
        p1 = phi.format(m=f"{ptab}.mu1", s=f"{ptab}.sd1")
        p2 = phi.format(m=f"{ptab}.mu2", s=f"{ptab}.sd2")
        return (
            f"({ptab}.p1 * {p1}) / ({ptab}.p1 * {p1}"
            f" + (1 - {ptab}.p1) * {p2})"
        )

    ctes = [
        """z AS (
            SELECT value AS x FROM events WHERE event_type = '%s'
        ), p0 AS (
            SELECT ROUND(quantile_cont(x, 0.25), 6) AS mu1,
                   ROUND(stddev_samp(x), 6) AS sd1,
                   ROUND(quantile_cont(x, 0.75), 6) AS mu2,
                   ROUND(stddev_samp(x), 6) AS sd2,
                   CAST(0.5 AS DOUBLE) AS p1
            FROM z
        )"""
        % GMM_TYPE
    ]
    for r in range(1, GMM_ROUNDS + 1):
        g = estep(f"p{r - 1}")
        ctes.append(
            f"""e{r} AS (
            SELECT z.x, {g} AS g FROM z CROSS JOIN p{r - 1}
        ), m{r} AS (
            SELECT ROUND(SUM(g * x) / SUM(g), 6) AS nmu1,
                   ROUND(SUM((1 - g) * x) / SUM(1 - g), 6) AS nmu2,
                   ROUND(AVG(g), 6) AS np1
            FROM e{r}
        ), p{r} AS (
            SELECT MAX(nmu1) AS mu1,
                   ROUND(sqrt(SUM(g * (x - nmu1) * (x - nmu1))
                              / SUM(g)), 6) AS sd1,
                   MAX(nmu2) AS mu2,
                   ROUND(sqrt(SUM((1 - g) * (x - nmu2) * (x - nmu2))
                              / SUM(1 - g)), 6) AS sd2,
                   MAX(np1) AS p1
            FROM e{r} CROSS JOIN m{r}
        )"""
        )
    return (
        "WITH "
        + ", ".join(ctes)
        + f"""
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM z) AS n_values,
               p1, mu1, sd1, mu2, sd2
        FROM p{GMM_ROUNDS}
    """
    )


ORACLES = {
    "x282_gmm_em": _gmm_oracle(),
    "x283_daily_correlation": """
        WITH cell AS (
            SELECT date_trunc('day', ts) AS day, event_type,
                   ROUND(AVG(value), 6) AS m
            FROM events GROUP BY 1, 2
        ), nt AS (
            SELECT COUNT(DISTINCT event_type) AS k FROM cell
        ), full_ AS (
            SELECT day FROM cell GROUP BY day
            HAVING COUNT(*) = (SELECT k FROM nt)
        ), blocks AS (
            SELECT c.* FROM cell c JOIN full_ USING (day)
        )
        SELECT a.event_type AS t1, b.event_type AS t2,
               CAST(COUNT(*) AS BIGINT) AS n_days,
               ROUND(corr(a.m, b.m), 6) AS pearson_r
        FROM blocks a JOIN blocks b
          ON a.day = b.day AND a.event_type < b.event_type
        GROUP BY 1, 2
        ORDER BY t1, t2
    """,
    "x284_diff_in_diffs": f"""
        WITH split AS (
            SELECT MIN(ts) + to_microseconds(
                       CAST(date_diff('microsecond', MIN(ts), MAX(ts)) // 2
                            AS BIGINT)) AS cut
            FROM events
        ), up AS (
            SELECT user_id,
                   CASE WHEN CAST(('0x' || substr(md5('{DID_SALT}' ||
                                  CAST(user_id AS VARCHAR)), 1, 8))
                             AS UBIGINT) % 2 = 0
                        THEN 'treated' ELSE 'control' END AS arm,
                   ts >= cut AS post,
                   AVG(value) AS y
            FROM events CROSS JOIN split GROUP BY 1, 2, 3
        ), cells AS (
            SELECT arm, post, COUNT(*) AS n, AVG(y) AS m,
                   var_samp(y) AS v
            FROM up GROUP BY 1, 2
        ), pv AS (
            SELECT
                MAX(CASE WHEN arm = 'treated' AND post THEN m END) AS tpost,
                MAX(CASE WHEN arm = 'treated' AND NOT post THEN m END)
                    AS tpre,
                MAX(CASE WHEN arm = 'control' AND post THEN m END) AS cpost,
                MAX(CASE WHEN arm = 'control' AND NOT post THEN m END)
                    AS cpre,
                MAX(CASE WHEN arm = 'treated' AND post THEN v / n END)
                    AS tpostv,
                MAX(CASE WHEN arm = 'treated' AND NOT post THEN v / n END)
                    AS tprev,
                MAX(CASE WHEN arm = 'control' AND post THEN v / n END)
                    AS cpostv,
                MAX(CASE WHEN arm = 'control' AND NOT post THEN v / n END)
                    AS cprev
            FROM cells
        )
        SELECT ROUND(tpre, 6) AS treated_pre,
               ROUND(tpost, 6) AS treated_post,
               ROUND(cpre, 6) AS control_pre,
               ROUND(cpost, 6) AS control_post,
               ROUND(tpost - tpre - (cpost - cpre), 6) AS did,
               ROUND(sqrt(tpostv + tprev + cpostv + cprev), 6) AS se,
               ROUND((tpost - tpre - (cpost - cpre))
                     / sqrt(tpostv + tprev + cpostv + cprev), 6) AS t_stat
        FROM pv
    """,
    "x285_nelson_aalen": f"""
        WITH t0 AS (
            SELECT user_id, MIN(ts) AS t0 FROM events
            WHERE event_type = 'view' GROUP BY 1
        ), conv AS (
            SELECT e.user_id, MIN(e.ts) AS tc
            FROM events e JOIN t0 USING (user_id)
            WHERE e.event_type = 'purchase' AND e.ts > t0.t0
            GROUP BY e.user_id
        ), lastt AS (
            SELECT user_id, MAX(ts) AS tl FROM events GROUP BY 1
        ), subj AS (
            SELECT CASE WHEN c.tc IS NOT NULL
                        THEN datediff('microsecond', t0.t0, c.tc)
                        ELSE datediff('microsecond', t0.t0, l.tl) END AS dur,
                   CASE WHEN c.tc IS NOT NULL THEN 1 ELSE 0 END AS ev
            FROM t0
            LEFT JOIN conv c USING (user_id)
            JOIN lastt l USING (user_id)
            WHERE (CASE WHEN c.tc IS NOT NULL
                        THEN datediff('microsecond', t0.t0, c.tc)
                        ELSE datediff('microsecond', t0.t0, l.tl) END) > 0
        ), cells AS (
            SELECT dur, SUM(ev) AS d, COUNT(*) AS c FROM subj GROUP BY 1
        ), risk AS (
            SELECT dur, d,
                   (SELECT SUM(c) FROM cells)
                   - COALESCE(SUM(c) OVER (ORDER BY dur
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING), 0) AS n_risk
            FROM cells
        ), hz AS (
            SELECT dur, n_risk, d,
                   SUM(d * 1.0 / n_risk) OVER (ORDER BY dur
                       ROWS UNBOUNDED PRECEDING) AS h,
                   SUM(d * 1.0 / (n_risk * n_risk)) OVER (ORDER BY dur
                       ROWS UNBOUNDED PRECEDING) AS v
            FROM risk WHERE d > 0
        )
        SELECT dur AS t_us, CAST(n_risk AS BIGINT) AS n_risk,
               CAST(d AS BIGINT) AS d_events,
               ROUND(h, 6) AS cum_hazard, ROUND(v, 6) AS var_h
        FROM hz ORDER BY dur LIMIT {NA_TOP_TIMES}
    """,
    "x286_ks_exponential": f"""
        WITH ia AS (
            SELECT datediff('microsecond',
                            lag(ts) OVER (ORDER BY ts, event_id), ts)
                       / {KS_US} AS x
            FROM events
        ), iaf AS (
            SELECT x FROM ia WHERE x IS NOT NULL AND x > 0
        ), st AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n, 1.0 / AVG(x) AS lam
            FROM iaf
        ), vals AS (
            SELECT x, COUNT(*) AS c FROM iaf GROUP BY x
        ), steps AS (
            SELECT v.x, st.n, st.lam,
                   SUM(v.c) OVER (ORDER BY v.x
                       ROWS UNBOUNDED PRECEDING) * 1.0 / st.n AS hi,
                   (SUM(v.c) OVER (ORDER BY v.x
                        ROWS UNBOUNDED PRECEDING) - v.c) * 1.0 / st.n AS lo,
                   1.0 - exp(-st.lam * v.x) AS fx
            FROM vals v CROSS JOIN st
        )
        SELECT MAX(n) AS n_intervals,
               ROUND(MAX(lam), 6) AS lambda_mle,
               ROUND(MAX(GREATEST(ABS(hi - fx), ABS(lo - fx))), 6) AS ks_d,
               ROUND(MAX(GREATEST(ABS(hi - fx), ABS(lo - fx)))
                     * sqrt(MAX(n)), 6) AS ks_stat
        FROM steps
    """,
}

QUERIES = {
    "x282_gmm_em": x282_gmm_em,
    "x283_daily_correlation": x283_daily_correlation,
    "x284_diff_in_diffs": x284_diff_in_diffs,
    "x285_nelson_aalen": x285_nelson_aalen,
    "x286_ks_exponential": x286_ks_exponential,
}
