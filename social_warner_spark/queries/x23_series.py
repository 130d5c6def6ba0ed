"""x23 series — round-3 widening batch (x297–x301): circular
statistics, decision-stump induction, Brier-score decomposition,
minimum-spanning-tree source clustering, and STL-style
seasonal/trend-strength decomposition.

Like every other series, each query is a pure DataFrame program over
the driver's parquet tables with an independently-written DuckDB
oracle.  x300's Prim iteration runs as one fixed-round fold over a
broadcast 1-row distance matrix (the x270/x287 layout); its oracle is
a DuckDB recursive CTE whose per-step state is three LISTS — pure
list-lambda algebra, no aggregates in the recursive term.

Literature grounding (public):
- Mardia & Jupp, "Directional statistics" (Wiley 2000) — resultant
  length, Rayleigh test.
- Quinlan (1986) ID3 information gain — the depth-1 stump.
- Murphy, "A new vector partition of the probability score"
  (J. Appl. Meteor. 1973) — Brier reliability/resolution/uncertainty.
- Prim (BSTJ 1957); single-link equivalence per Gower & Ross (1969).
- Cleveland et al. (1990) STL; strength measures per Wang, Smith &
  Hyndman (Data Min. Knowl. Disc. 2006).
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from pyspark.sql import Window

from social_warner_spark.queries.common import T, r6

#: x298 — stump target and feature (the x280 proxy-classifier pair).
STUMP_LANG = "en"
#: x299 — forecast bins of width 0.1 over the min-max-scaled score.
BRIER_BINS = 10
BRIER_LANG = "en"
#: x301 — seasonal period (days) and the centered-MA half-window.
STL_PERIOD = 7


def x297_circular_hours(spark, sf_dir):
    """Circular statistics of event time-of-day per event type: mean
    direction (in hours), resultant length R-bar, circular variance
    1 - R-bar, and the Rayleigh z = n * R-bar^2 uniformity test —
    "does this event type actually have a peak hour", which a plain
    histogram mean gets wrong across midnight.

    Scale: one narrow trig map (sin/cos 6dp-pinned at the source —
    libm is not bit-identical across engines) and one per-type
    aggregation."""
    ev = T(spark, sf_dir, "events")
    theta = (
        (F.hour("ts") + F.minute("ts") / 60.0)
        * (2.0 * math.pi / 24.0)
    )
    staged = ev.select(
        "event_type",
        F.round(F.sin(theta), 6).alias("sn"),
        F.round(F.cos(theta), 6).alias("cs"),
    )
    g = staged.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("sn").alias("ss"),
        F.sum("cs").alias("sc"),
    )
    rbar = F.sqrt(F.col("ss") * F.col("ss") + F.col("sc") * F.col("sc")) / F.col("n")
    mean_dir = F.atan2(F.col("ss"), F.col("sc")) * (24.0 / (2.0 * math.pi))
    return g.select(
        "event_type",
        "n",
        r6(F.when(mean_dir < 0, mean_dir + 24.0).otherwise(mean_dir)).alias(
            "mean_hour"
        ),
        r6(rbar).alias("rbar"),
        r6(1.0 - rbar).alias("circ_var"),
        r6(F.col("n") * rbar * rbar).alias("rayleigh_z"),
    ).orderBy("event_type")


def x298_decision_stump(spark, sf_dir):
    """Optimal depth-1 decision stump for lang='en' on n_chars:
    information gain maximized over every distinct threshold (split is
    x <= t), ties to the smallest threshold — the interpretable
    baseline every heavier text classifier (x244/x188) must beat.

    Scale: candidate thresholds come from the distinct-value
    cumulative relation (support-bounded); gains are closed-form from
    the cumulative (n, positives) walk."""
    d = T(spark, sf_dir, "documents").select(
        F.col("n_chars").alias("x"),
        (F.col("lang") == STUMP_LANG).cast("long").alias("y"),
    )
    vals = d.groupBy("x").agg(
        F.count("*").alias("c"), F.sum("y").alias("p")
    )
    tot = vals.agg(
        F.sum("c").alias("n"), F.sum("p").alias("np")
    )
    cw = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)

    def h(p):
        # binary entropy with 0 log 0 = 0
        return -(
            F.when(p > 0, p * F.log2(p)).otherwise(F.lit(0.0))
            + F.when(p < 1, (1 - p) * F.log2(1 - p)).otherwise(F.lit(0.0))
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
        walk.select(
            F.col("x").alias("threshold"),
            F.col("nl").alias("n_left"),
            (F.col("n") - F.col("nl")).alias("n_right"),
            r6(pl).alias("pos_rate_left"),
            r6(pr).alias("pos_rate_right"),
            gain.alias("info_gain"),
        )
        .orderBy(F.desc("info_gain"), F.asc("threshold"))
        .limit(1)
    )


def x299_brier_decomposition(spark, sf_dir):
    """Generalized Murphy decomposition of the Brier score for the
    min-max-scaled n_chars score predicting lang='en': Brier =
    reliability - resolution + uncertainty + within-bin variance
    - 2 * within-bin covariance (the Stephenson-coined extra terms
    appear because the raw forecast varies inside each bin), every
    term reported and the exact identity IS the invariant test — the
    decomposition that says whether x192-style calibration error comes
    from miscalibration or from a forecaster that never commits.

    Scale: min/max is one broadcast row; binning is a narrow map; the
    decomposition runs on the 10-bin relation (within-bin variance via
    the two-pass sum-of-squares form)."""
    d = T(spark, sf_dir, "documents").select(
        F.col("n_chars").cast("double").alias("s"),
        (F.col("lang") == BRIER_LANG).cast("double").alias("y"),
    )
    mm = d.agg(F.min("s").alias("lo"), F.max("s").alias("hi"))
    p = (F.col("s") - F.col("lo")) / (F.col("hi") - F.col("lo"))
    binned = d.crossJoin(F.broadcast(mm)).select(
        F.least(
            F.lit(BRIER_BINS - 1),
            F.floor(p * BRIER_BINS).cast("int"),
        ).alias("b"),
        p.alias("p"),
        "y",
    )
    from social_warner_spark.caching import register_persisted

    binned = register_persisted(binned.persist())
    per = binned.groupBy("b").agg(
        F.count("*").alias("nk"),
        F.avg("p").alias("pk"),
        F.avg("y").alias("yk"),
        F.sum(F.col("p") * F.col("p")).alias("ppk"),
        F.sum(F.col("p") * F.col("y")).alias("pyk"),
        F.sum(F.pow(F.col("p") - F.col("y"), 2)).alias("sqk"),
    )
    tot = binned.agg(
        F.count("*").alias("n"), F.avg("y").alias("ybar")
    )
    out = per.crossJoin(F.broadcast(tot)).agg(
        F.max("n").alias("n"),
        r6(F.sum("sqk") / F.max("n")).alias("brier"),
        r6(
            F.sum(F.col("nk") * F.pow(F.col("pk") - F.col("yk"), 2))
            / F.max("n")
        ).alias("reliability"),
        r6(
            F.sum(F.col("nk") * F.pow(F.col("yk") - F.col("ybar"), 2))
            / F.max("n")
        ).alias("resolution"),
        r6(F.max("ybar") * (1.0 - F.max("ybar"))).alias("uncertainty"),
        r6(
            F.sum(
                F.col("ppk") - F.col("nk") * F.col("pk") * F.col("pk")
            )
            / F.max("n")
        ).alias("within_bin_var"),
        r6(
            F.sum(
                F.col("pyk") - F.col("nk") * F.col("pk") * F.col("yk")
            )
            / F.max("n")
        ).alias("within_bin_cov"),
    )
    return out.select(
        "n", "brier", "reliability", "resolution", "uncertainty",
        "within_bin_var", "within_bin_cov",
    )


def x300_source_mst(spark, sf_dir):
    """Minimum spanning tree over the sources under the x291 JSD
    distances (Prim from the alphabetically-first source) — the MST
    edge sequence IS the single-linkage dendrogram of the corpus's
    source structure (Gower–Ross), i.e. which crawls merge first when
    the mixture is consolidated.

    Scale: the distance matrix is |sources|^2 (bounded) and rides as a
    broadcast 1-row nested array; the Prim iteration is one fold with
    (in-tree, dist-to-tree, attach-from) array state, 6dp distances
    throughout.  The oracle's recursive CTE carries the same three
    lists — pure list algebra, no aggregates in the recursive term."""
    from social_warner_spark.queries.x21_series import (
        x291_jsd_source_matrix,
    )

    jsd = x291_jsd_source_matrix(spark, sf_dir).localCheckpoint(eager=True)
    srcs = (
        jsd.select(F.col("s1").alias("s"))
        .union(jsd.select(F.col("s2").alias("s")))
        .distinct()
        .withColumn("i", F.row_number().over(Window.orderBy("s")))
    )
    sym = jsd.select("s1", "s2", "jsd").union(
        jsd.select(
            F.col("s2").alias("s1"), F.col("s1").alias("s2"), "jsd"
        )
    )
    idx = (
        sym.join(srcs.select(F.col("s").alias("s1"), F.col("i").alias("ia")), "s1")
        .join(srcs.select(F.col("s").alias("s2"), F.col("i").alias("ib")), "s2")
        .select("ia", "ib", "jsd")
    )
    rows = idx.groupBy("ia").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("ib", "jsd"))),
            lambda e: e["jsd"],
        ).alias("row")
    )
    mat = rows.agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("ia", "row"))),
            lambda e: e["row"],
        ).alias("DM"),
        F.count("*").alias("n"),
    )
    names = srcs.groupBy().agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("i", "s"))),
            lambda e: e["s"],
        ).alias("names")
    )
    one = mat.crossJoin(F.broadcast(names))
    big = F.lit(1e18)

    def dist(i, j):
        # DM rows exclude the diagonal: row ia has n-1 entries ordered
        # by the OTHER index (1-based)
        return F.element_at(
            F.element_at(F.col("DM"), i.cast("int")),
            F.when(j < i, j).otherwise(j - 1).cast("int"),
        )

    def cand(acc):
        # distance-to-tree per node (big when already in the tree)
        return F.transform(
            F.sequence(F.lit(1), F.col("n").cast("int")),
            lambda j: F.when(
                F.array_contains(acc["tree"], j.cast("int")), big
            ).otherwise(
                F.array_min(
                    F.transform(acc["tree"], lambda u: dist(u, j))
                )
            ),
        )

    def picked(acc):
        return F.array_position(cand(acc), F.array_min(cand(acc))).cast(
            "int"
        )

    def attach(acc):
        # tree node realizing the picked distance (first in insertion
        # order on ties — mirrored by the oracle's list_position)
        return F.element_at(
            acc["tree"],
            F.array_position(
                F.transform(acc["tree"], lambda u: dist(u, picked(acc))),
                F.array_min(
                    F.transform(
                        acc["tree"], lambda u: dist(u, picked(acc))
                    )
                ),
            ).cast("int"),
        )

    init = F.struct(
        F.array(F.lit(1).cast("int")).alias("tree"),
        F.expr(
            "CAST(array() AS array<struct<u:int,v:int,d:double>>)"
        ).alias("edges"),
    )
    step = F.aggregate(
        F.sequence(F.lit(1), (F.col("n") - 1).cast("int")),
        init,
        lambda acc, stp: F.struct(
            F.array_append(acc["tree"], picked(acc)).alias("tree"),
            F.array_append(
                acc["edges"],
                F.struct(
                    attach(acc).alias("u"),
                    picked(acc).alias("v"),
                    F.array_min(cand(acc)).alias("d"),
                ),
            ).alias("edges"),
        ),
    )
    solved = one.select("names", step["edges"].alias("edges"))
    out = solved.select(
        "names", F.posexplode("edges").alias("p", "e")
    )
    return out.select(
        (F.col("p") + 1).alias("step"),
        F.element_at(F.col("names"), F.col("e.u")).alias("s_from"),
        F.element_at(F.col("names"), F.col("e.v")).alias("s_to"),
        r6(F.col("e.d")).alias("jsd"),
    ).orderBy("step")


def x301_stl_strengths(spark, sf_dir):
    """STL-style decomposition strengths of the daily total event
    value: trend = centered 7-day moving average, seasonal = day-of-
    week means of the detrended series, remainder = the rest;
    F_trend = max(0, 1 - Var(R)/Var(T+R)) and F_seasonal = max(0,
    1 - Var(R)/Var(S+R)) (Wang-Smith-Hyndman) — one pair of numbers
    that says whether x271's weekly harmonic or x267's trend is the
    story.

    Scale: everything lives on the bounded daily grid — one centered
    window, one day-of-week aggregation, two variance passes."""
    ev = T(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.round(F.sum("value"), 6).alias("y")
    )
    half = STL_PERIOD // 2
    mw = Window.orderBy("day").rowsBetween(-half, half)
    cnt = F.count("*").over(mw)
    trended = daily.select(
        "day",
        "y",
        F.when(
            cnt == STL_PERIOD, F.round(F.avg("y").over(mw), 6)
        ).alias("t"),
        F.dayofweek("day").alias("dow"),
    ).where(F.col("t").isNotNull())
    from social_warner_spark.caching import register_persisted

    trended = register_persisted(trended.persist())
    seas = trended.groupBy("dow").agg(
        F.round(F.avg(F.col("y") - F.col("t")), 6).alias("s")
    )
    parts = trended.join(F.broadcast(seas), "dow").select(
        "day",
        "y",
        "t",
        "s",
        (F.col("y") - F.col("t") - F.col("s")).alias("r"),
    )
    agg = parts.agg(
        F.count("*").alias("n_days"),
        F.var_samp("r").alias("vr"),
        F.var_samp(F.col("t") + F.col("r")).alias("vtr"),
        F.var_samp(F.col("s") + F.col("r")).alias("vsr"),
    )
    return agg.select(
        "n_days",
        r6(F.greatest(F.lit(0.0), 1.0 - F.col("vr") / F.col("vtr"))).alias(
            "trend_strength"
        ),
        r6(F.greatest(F.lit(0.0), 1.0 - F.col("vr") / F.col("vsr"))).alias(
            "seasonal_strength"
        ),
        r6(F.col("vr")).alias("remainder_var"),
    )


# ---------------------------------------------------------------------------
# Oracles
# ---------------------------------------------------------------------------

from social_warner_spark.queries.x21_series import JSD_VOCAB  # noqa: E402

_TAU = 2.0 * math.pi / 24.0


def _mst_oracle() -> str:
    """Prim as a DuckDB recursive CTE over LIST state (tree + edge
    lists); the distance matrix is a list-of-lists with a huge
    diagonal, built from the same JSD chain as x291's oracle."""
    return f"""
        WITH RECURSIVE tok AS (
            SELECT source, UNNEST(string_split(trim(text), ' ')) AS tok
            FROM documents
        ), vocab AS (
            SELECT tok FROM (
                SELECT tok, COUNT(*) AS c FROM tok GROUP BY 1
            ) ORDER BY c DESC, tok LIMIT {JSD_VOCAB}
        ), cnt AS (
            SELECT t.source, t.tok, COUNT(*) AS c
            FROM tok t JOIN vocab USING (tok)
            GROUP BY 1, 2
        ), tots AS (
            SELECT source, SUM(c) AS t FROM cnt GROUP BY 1
        ), pg AS (
            SELECT ts.source, v.tok,
                   COALESCE(c.c, 0) * 1.0 / ts.t AS p
            FROM tots ts CROSS JOIN vocab v
            LEFT JOIN cnt c ON c.source = ts.source AND c.tok = v.tok
        ), jsdp AS MATERIALIZED (
            SELECT a.source AS s1, b.source AS s2,
                   ROUND(SUM(
                       (CASE WHEN (a.p + b.p) / 2.0 > 0
                             THEN -(a.p + b.p) / 2.0
                                  * log2((a.p + b.p) / 2.0)
                             ELSE 0.0 END)
                       - ((CASE WHEN a.p > 0 THEN -a.p * log2(a.p)
                                ELSE 0.0 END)
                          + (CASE WHEN b.p > 0 THEN -b.p * log2(b.p)
                                  ELSE 0.0 END)) / 2.0
                   ), 6) AS jsd
            FROM pg a JOIN pg b
              ON a.tok = b.tok AND a.source < b.source
            GROUP BY 1, 2
        ), srcs AS MATERIALIZED (
            SELECT s, CAST(ROW_NUMBER() OVER (ORDER BY s) AS INT) AS i
            FROM (SELECT s1 AS s FROM jsdp
                  UNION SELECT s2 FROM jsdp)
        ), nn AS MATERIALIZED (
            SELECT CAST(COUNT(*) AS INT) AS n FROM srcs
        ), sym AS (
            SELECT s1, s2, jsd FROM jsdp
            UNION ALL
            SELECT s2, s1, jsd FROM jsdp
        ), cells AS (
            SELECT sa.i AS ia, sb.i AS ib,
                   CASE WHEN sa.i = sb.i THEN 1e18 ELSE sy.jsd END AS d
            FROM srcs sa CROSS JOIN srcs sb
            LEFT JOIN sym sy ON sy.s1 = sa.s AND sy.s2 = sb.s
        ), dmrows AS (
            SELECT ia, list(d ORDER BY ib) AS row FROM cells GROUP BY ia
        ), dm AS MATERIALIZED (
            SELECT list(row ORDER BY ia) AS DM FROM dmrows
        ), rec AS (
            SELECT 0 AS iter, [CAST(1 AS INT)] AS tree,
                   CAST([] AS INT[]) AS eu, CAST([] AS INT[]) AS ev,
                   CAST([] AS DOUBLE[]) AS ed
            FROM dm
            UNION ALL
            SELECT iter + 1,
                   list_append(tree, v),
                   list_append(eu, u), list_append(ev, v),
                   list_append(ed, d)
            FROM (
                SELECT q.iter, q.tree, q.eu, q.ev, q.ed,
                       CAST(list_position(q.cand, list_min(q.cand))
                            AS INT) AS v,
                       list_min(q.cand) AS d,
                       q.tree[list_position(
                           list_transform(q.tree, u2 -> q.dmx[u2][
                               list_position(q.cand,
                                             list_min(q.cand))]),
                           list_min(list_transform(q.tree,
                               u2 -> q.dmx[u2][
                                   list_position(q.cand,
                                                 list_min(q.cand))])))]
                           AS u
                FROM (
                    SELECT r.iter, r.tree, r.eu, r.ev, r.ed,
                           dm.DM AS dmx,
                           list_transform(
                               range(1, nn.n + 1),
                               j -> CASE WHEN list_contains(
                                        r.tree, CAST(j AS INT))
                                    THEN 1e18
                                    ELSE list_min(list_transform(
                                        r.tree, u -> dm.DM[u][j]))
                                    END) AS cand
                    FROM rec r, dm, nn
                    WHERE r.iter < nn.n - 1
                ) q
            )
        ), fin AS (
            SELECT eu, ev, ed FROM rec
            WHERE iter = (SELECT n - 1 FROM nn)
        ), expl AS (
            SELECT u.i AS step, fin.eu[u.i] AS ui, fin.ev[u.i] AS vi,
                   fin.ed[u.i] AS d
            FROM fin, UNNEST(range(1, len(fin.eu) + 1)) u(i)
        )
        SELECT CAST(e.step AS INT) AS step,
               su.s AS s_from, sv.s AS s_to,
               ROUND(e.d, 6) AS jsd
        FROM expl e
        JOIN srcs su ON su.i = e.ui
        JOIN srcs sv ON sv.i = e.vi
        ORDER BY step
    """


ORACLES = {
    "x297_circular_hours": f"""
        WITH staged AS (
            SELECT event_type,
                   ROUND(sin((date_part('hour', ts)
                              + date_part('minute', ts) / 60.0)
                             * {_TAU!r}), 6) AS sn,
                   ROUND(cos((date_part('hour', ts)
                              + date_part('minute', ts) / 60.0)
                             * {_TAU!r}), 6) AS cs
            FROM events
        ), g AS (
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                   SUM(sn) AS ss, SUM(cs) AS sc
            FROM staged GROUP BY 1
        )
        SELECT event_type, n,
               ROUND(CASE WHEN atan2(ss, sc) * (24.0 / {2 * math.pi!r}) < 0
                          THEN atan2(ss, sc) * (24.0 / {2 * math.pi!r})
                               + 24.0
                          ELSE atan2(ss, sc) * (24.0 / {2 * math.pi!r})
                     END, 6) AS mean_hour,
               ROUND(sqrt(ss * ss + sc * sc) / n, 6) AS rbar,
               ROUND(1.0 - sqrt(ss * ss + sc * sc) / n, 6) AS circ_var,
               ROUND(n * (sqrt(ss * ss + sc * sc) / n)
                     * (sqrt(ss * ss + sc * sc) / n), 6) AS rayleigh_z
        FROM g ORDER BY event_type
    """,
    "x298_decision_stump": f"""
        WITH d AS (
            SELECT n_chars AS x,
                   CASE WHEN lang = '{STUMP_LANG}' THEN 1 ELSE 0 END AS y
            FROM documents
        ), vals AS (
            SELECT x, COUNT(*) AS c, SUM(y) AS p FROM d GROUP BY x
        ), tot AS (
            SELECT SUM(c) AS n, SUM(p) AS np FROM vals
        ), walk AS (
            SELECT x, tot.n, tot.np,
                   SUM(c) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING)
                       AS nl,
                   SUM(p) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING)
                       AS pl
            FROM vals CROSS JOIN tot
        ), scored AS (
            SELECT x AS threshold, CAST(nl AS BIGINT) AS n_left,
                   CAST(n - nl AS BIGINT) AS n_right,
                   ROUND(pl * 1.0 / nl, 6) AS pos_rate_left,
                   ROUND((np - pl) * 1.0 / (n - nl), 6) AS pos_rate_right,
                   ROUND(
                       -(CASE WHEN np * 1.0 / n > 0
                              THEN np * 1.0 / n * log2(np * 1.0 / n)
                              ELSE 0 END
                         + CASE WHEN np * 1.0 / n < 1
                                THEN (1 - np * 1.0 / n)
                                     * log2(1 - np * 1.0 / n)
                                ELSE 0 END)
                       - (nl * 1.0 / n
                          * -(CASE WHEN pl * 1.0 / nl > 0
                                   THEN pl * 1.0 / nl
                                        * log2(pl * 1.0 / nl)
                                   ELSE 0 END
                              + CASE WHEN pl * 1.0 / nl < 1
                                     THEN (1 - pl * 1.0 / nl)
                                          * log2(1 - pl * 1.0 / nl)
                                     ELSE 0 END)
                          + (n - nl) * 1.0 / n
                          * -(CASE WHEN (np - pl) * 1.0 / (n - nl) > 0
                                   THEN (np - pl) * 1.0 / (n - nl)
                                        * log2((np - pl) * 1.0 / (n - nl))
                                   ELSE 0 END
                              + CASE WHEN (np - pl) * 1.0 / (n - nl) < 1
                                     THEN (1 - (np - pl) * 1.0 / (n - nl))
                                          * log2(1 - (np - pl) * 1.0
                                                 / (n - nl))
                                     ELSE 0 END)), 6) AS info_gain
            FROM walk WHERE nl < n
        )
        SELECT * FROM scored
        ORDER BY info_gain DESC, threshold LIMIT 1
    """,
    "x299_brier_decomposition": f"""
        WITH d AS (
            SELECT CAST(n_chars AS DOUBLE) AS s,
                   CASE WHEN lang = '{BRIER_LANG}'
                        THEN 1.0 ELSE 0.0 END AS y
            FROM documents
        ), mm AS (
            SELECT MIN(s) AS lo, MAX(s) AS hi FROM d
        ), binned AS (
            SELECT LEAST({BRIER_BINS - 1},
                         CAST(floor((s - lo) / (hi - lo)
                                    * {BRIER_BINS}) AS INT)) AS b,
                   (s - lo) / (hi - lo) AS p, y
            FROM d CROSS JOIN mm
        ), per AS (
            SELECT b, COUNT(*) AS nk, AVG(p) AS pk, AVG(y) AS yk,
                   SUM(p * p) AS ppk, SUM(p * y) AS pyk,
                   SUM(pow(p - y, 2)) AS sqk
            FROM binned GROUP BY b
        ), tot AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n, AVG(y) AS ybar
            FROM binned
        )
        SELECT n,
               ROUND(SUM(sqk) / MAX(n), 6) AS brier,
               ROUND(SUM(nk * pow(pk - yk, 2)) / MAX(n), 6)
                   AS reliability,
               ROUND(SUM(nk * pow(yk - ybar, 2)) / MAX(n), 6)
                   AS resolution,
               ROUND(MAX(ybar) * (1.0 - MAX(ybar)), 6) AS uncertainty,
               ROUND(SUM(ppk - nk * pk * pk) / MAX(n), 6)
                   AS within_bin_var,
               ROUND(SUM(pyk - nk * pk * yk) / MAX(n), 6)
                   AS within_bin_cov
        FROM per CROSS JOIN tot
        GROUP BY n
    """,
    "x300_source_mst": _mst_oracle(),
    "x301_stl_strengths": f"""
        WITH daily AS (
            SELECT date_trunc('day', ts) AS day, ROUND(SUM(value), 6) AS y
            FROM events GROUP BY 1
        ), trended AS (
            SELECT day, y,
                   CASE WHEN COUNT(*) OVER w = {STL_PERIOD}
                        THEN ROUND(AVG(y) OVER w, 6) END AS t,
                   dayofweek(day) + 1 AS dow
            FROM daily
            WINDOW w AS (ORDER BY day
                         ROWS BETWEEN {STL_PERIOD // 2} PRECEDING
                                  AND {STL_PERIOD // 2} FOLLOWING)
        ), tf AS (
            SELECT * FROM trended WHERE t IS NOT NULL
        ), seas AS (
            SELECT dow, ROUND(AVG(y - t), 6) AS s FROM tf GROUP BY dow
        ), parts AS (
            SELECT tf.day, tf.y, tf.t, seas.s,
                   tf.y - tf.t - seas.s AS r
            FROM tf JOIN seas USING (dow)
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
               ROUND(GREATEST(0.0, 1.0 - var_samp(r)
                              / var_samp(t + r)), 6) AS trend_strength,
               ROUND(GREATEST(0.0, 1.0 - var_samp(r)
                              / var_samp(s + r)), 6) AS seasonal_strength,
               ROUND(var_samp(r), 6) AS remainder_var
        FROM parts
    """,
}

QUERIES = {
    "x297_circular_hours": x297_circular_hours,
    "x298_decision_stump": x298_decision_stump,
    "x299_brier_decomposition": x299_brier_decomposition,
    "x300_source_mst": x300_source_mst,
    "x301_stl_strengths": x301_stl_strengths,
}
