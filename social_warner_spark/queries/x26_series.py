"""x26 series — round-3 widening batch (x312–x316): data-grounded LSH
parameter planning, temporal motif censuses, Granger precedence
testing, recommender coverage/diversity auditing, and Kleinberg-style
burst detection.

Like every other series, each query is a pure DataFrame program over
the driver's parquet tables with an independently-written DuckDB
oracle.  x312 configures the x15 MinHash machinery against the
corpus's OWN observed similarity mass; x315 audits the x273
recommender's output; x316 runs a full two-state Viterbi (with path
reconstruction) as ONE fold over the collected daily series — the
x249 discipline extended to carry both candidate paths in the
accumulator.

Literature grounding (public):
- Leskovec, Rajaraman & Ullman, "Mining of massive datasets" ch. 3 —
  the (1 - (1 - s^r)^b) banding curve.
- Paranjape, Benson & Leskovec (WSDM 2017) — temporal motifs.
- Granger (Econometrica 1969) — predictive precedence.
- Ge et al. (RecSys 2010) — coverage; Zhang & Hurley (2008) —
  intra-list diversity.
- Kleinberg, "Bursty and hierarchical structure in streams"
  (KDD 2002) — the two-state automaton variant.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from social_warner_spark.queries.common import T, r6

#: x312 — signature budget (b*r = 64), candidate band layouts, the
#: dedup target threshold, and the near-threshold sample floor.
LSH_CONFIGS = ((64, 1), (32, 2), (16, 4), (8, 8), (4, 16), (2, 32))
LSH_TARGET = 0.5
LSH_SAMPLE_MIN = 0.3
#: x313 — motif window.
MOTIF_WINDOW_MIN = 30
#: x314 — the two tested directions run on daily counts of these.
GRANGER_X = "click"
GRANGER_Y = "purchase"
#: x315 — price-ratio dissimilarity d = |p1-p2|/(p1+p2) in [0,1).
#: x316 — burst state rate multiplier, the up-transition cost weight
#: (gamma * ln n per Kleinberg), and the deterministic injection: the
#: driver's synthetic stream is rate-uniform (no natural bursts), so —
#: the x26/x207 injection precedent — days BURST_INJ_LO..HI get a
#: BURST_INJ_X count boost, making the detector observable and
#: hash-checkable.
BURST_S = 2.0
BURST_GAMMA = 1.0
BURST_INJ_LO = 10
BURST_INJ_HI = 14
BURST_INJ_X = 2.5


def x312_lsh_planner(spark, sf_dir):
    """Data-grounded MinHash/LSH parameter planning: for each (bands,
    rows) layout of a 64-hash budget, the expected false-negative mass
    over OBSERVED near-threshold pairs (exact Jaccard >= 0.3, the
    dedup candidate band) and false-positive mass below the 0.5
    target, using the banding collision curve 1-(1-s^r)^b — the
    planner that turns x15's (bands, rows) constants from folklore
    into a measured trade-off.

    Scale: the observed-pair sample is the bounded dedup output; the
    planner algebra is |configs| x |pairs|."""
    from social_warner_spark.operators.dedup import exact_jaccard_pairs

    d = T(spark, sf_dir, "documents")
    pairs = exact_jaccard_pairs(d, LSH_SAMPLE_MIN).select(
        "jaccard"
    ).localCheckpoint(eager=True)
    cfg = spark.createDataFrame(
        [(b, r) for b, r in LSH_CONFIGS], ["b", "r"]
    )
    j = pairs.crossJoin(F.broadcast(cfg))
    pcol = 1.0 - F.pow(
        1.0 - F.pow(F.col("jaccard"), F.col("r")), F.col("b")
    )
    out = j.groupBy("b", "r").agg(
        F.count("*").alias("n_pairs"),
        r6(
            F.sum(
                F.when(F.col("jaccard") >= LSH_TARGET, 1.0 - pcol).otherwise(
                    F.lit(0.0)
                )
            )
        ).alias("expected_fn"),
        r6(
            F.sum(
                F.when(F.col("jaccard") < LSH_TARGET, pcol).otherwise(
                    F.lit(0.0)
                )
            )
        ).alias("expected_fp"),
    )
    return out.select(
        "b",
        "r",
        "n_pairs",
        r6(F.pow(1.0 / F.col("b"), 1.0 / F.col("r"))).alias("s50"),
        "expected_fn",
        "expected_fp",
        r6(F.col("expected_fn") + F.col("expected_fp")).alias("cost"),
    ).orderBy("b")


def x313_temporal_motifs(spark, sf_dir):
    """Temporal 2-event motif census: for every ordered event-type
    pair, how many times type A is followed by type B by the SAME user
    within 30 minutes — the building block of temporal-network motif
    analysis, and the evidence base behind funnel definitions (x93
    assumes view->click->purchase; this measures every ordering).

    Scale: a per-user self-join bounded by per-entity event density
    (the per-user event count is the natural cap); ordering ties break
    on event_id so both engines count identical pairs."""
    ev = T(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    from social_warner_spark.caching import register_persisted

    ev = register_persisted(ev.persist())
    a, b = ev.alias("a"), ev.alias("b")
    pairs = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (
            (F.col("b.ts") > F.col("a.ts"))
            | (
                (F.col("b.ts") == F.col("a.ts"))
                & (F.col("b.event_id") > F.col("a.event_id"))
            )
        )
        & (
            F.expr("timestampdiff(MICROSECOND, a.ts, b.ts)")
            <= MOTIF_WINDOW_MIN * 60 * 1_000_000
        ),
    )
    tot = ev.agg(F.count("*").alias("n_events"))
    return (
        pairs.groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count("*").alias("n_motifs"))
        .crossJoin(F.broadcast(tot))
        .select(
            "type_a",
            "type_b",
            "n_motifs",
            r6(F.col("n_motifs") * 1000.0 / F.col("n_events")).alias(
                "per_1k_events"
            ),
        )
        .orderBy("type_a", "type_b")
    )


def _ols2_sse(df, ycol, x1col, x2col):
    """SSE of y ~ a + b x1 + c x2 via the 3x3 Cramer normal equations
    (the x271 machinery), coefficients 6dp-rounded before the residual
    pass.  Returns a 1-row DataFrame (n, sse)."""
    s = df.agg(
        F.count("*").cast("double").alias("n"),
        F.sum(x1col).alias("s1"),
        F.sum(x2col).alias("s2"),
        F.sum(F.col(x1col) * F.col(x1col)).alias("s11"),
        F.sum(F.col(x1col) * F.col(x2col)).alias("s12"),
        F.sum(F.col(x2col) * F.col(x2col)).alias("s22"),
        F.sum(ycol).alias("sy"),
        F.sum(F.col(ycol) * F.col(x1col)).alias("sy1"),
        F.sum(F.col(ycol) * F.col(x2col)).alias("sy2"),
    )
    det = (
        F.col("n") * (F.col("s11") * F.col("s22") - F.col("s12") * F.col("s12"))
        - F.col("s1") * (F.col("s1") * F.col("s22") - F.col("s12") * F.col("s2"))
        + F.col("s2") * (F.col("s1") * F.col("s12") - F.col("s11") * F.col("s2"))
    )
    a0 = (
        F.col("sy") * (F.col("s11") * F.col("s22") - F.col("s12") * F.col("s12"))
        - F.col("s1") * (F.col("sy1") * F.col("s22") - F.col("s12") * F.col("sy2"))
        + F.col("s2") * (F.col("sy1") * F.col("s12") - F.col("s11") * F.col("sy2"))
    ) / det
    b1 = (
        F.col("n") * (F.col("sy1") * F.col("s22") - F.col("s12") * F.col("sy2"))
        - F.col("sy") * (F.col("s1") * F.col("s22") - F.col("s12") * F.col("s2"))
        + F.col("s2") * (F.col("s1") * F.col("sy2") - F.col("sy1") * F.col("s2"))
    ) / det
    c1 = (
        F.col("n") * (F.col("s11") * F.col("sy2") - F.col("sy1") * F.col("s12"))
        - F.col("s1") * (F.col("s1") * F.col("sy2") - F.col("sy1") * F.col("s2"))
        + F.col("sy") * (F.col("s1") * F.col("s12") - F.col("s11") * F.col("s2"))
    ) / det
    coef = s.select(
        F.round(a0, 6).alias("a0"),
        F.round(b1, 6).alias("b1"),
        F.round(c1, 6).alias("c1"),
    )
    return df.crossJoin(F.broadcast(coef)).agg(
        F.count("*").alias("n"),
        F.sum(
            F.pow(
                F.col(ycol)
                - (
                    F.col("a0")
                    + F.col("b1") * F.col(x1col)
                    + F.col("c1") * F.col(x2col)
                ),
                2,
            )
        ).alias("sse"),
    )


def x314_granger_precedence(spark, sf_dir):
    """Granger precedence (lag 1) between the daily click and purchase
    count series, BOTH directions: F = ((SSE_r - SSE_u)/1) /
    (SSE_u/(n-3)) where the unrestricted model adds the other series'
    lag to the autoregression — "does click volume predict tomorrow's
    purchases beyond what purchases predict themselves" (and vice
    versa; precedence, not causation, as Granger himself insisted).

    Scale: the corpus collapses to the bounded daily grid; each SSE is
    a Cramer 3x3/2x2 closed form plus one residual pass (the x271
    machinery), lags via windows on the grid."""
    ev = T(spark, sf_dir, "events")
    daily = (
        ev.where(F.col("event_type").isin(GRANGER_X, GRANGER_Y))
        .groupBy(
            F.date_trunc("day", F.col("ts")).alias("day"), "event_type"
        )
        .agg(F.count("*").alias("c"))
        .groupBy("day")
        .pivot("event_type", [GRANGER_X, GRANGER_Y])
        .sum("c")
        .select(
            "day",
            F.coalesce(F.col(GRANGER_X), F.lit(0)).cast("double").alias("x"),
            F.coalesce(F.col(GRANGER_Y), F.lit(0)).cast("double").alias("y"),
        )
    )
    w = Window.orderBy("day")
    lagged = daily.select(
        "x",
        "y",
        F.lag("x").over(w).alias("xl"),
        F.lag("y").over(w).alias("yl"),
    ).where(F.col("xl").isNotNull())
    from social_warner_spark.caching import register_persisted

    lagged = register_persisted(lagged.localCheckpoint(eager=True))

    def direction(ycol, own_lag, other_lag, tag):
        unr = _ols2_sse(lagged, ycol, own_lag, other_lag)
        # restricted: y ~ a + b own_lag  (2x2 closed form)
        rs = lagged.agg(
            F.count("*").cast("double").alias("n"),
            F.sum(own_lag).alias("sx"),
            F.sum(F.col(own_lag) * F.col(own_lag)).alias("sxx"),
            F.sum(ycol).alias("sy"),
            F.sum(F.col(ycol) * F.col(own_lag)).alias("sxy"),
        )
        bb = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
            F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
        )
        aa = (F.col("sy") - bb * F.col("sx")) / F.col("n")
        rcoef = rs.select(
            F.round(aa, 6).alias("ra"), F.round(bb, 6).alias("rb")
        )
        res = lagged.crossJoin(F.broadcast(rcoef)).agg(
            F.sum(
                F.pow(
                    F.col(ycol)
                    - (F.col("ra") + F.col("rb") * F.col(own_lag)),
                    2,
                )
            ).alias("sse_r")
        )
        return (
            unr.select(
                F.col("n").alias(f"n_{tag}"),
                F.col("sse").alias(f"sse_u_{tag}"),
            )
            .crossJoin(res.select(F.col("sse_r").alias(f"sse_r_{tag}")))
        )
    xy = direction("y", "yl", "xl", "xy")
    yx = direction("x", "xl", "yl", "yx")
    both = xy.crossJoin(yx)

    def fstat(tag):
        return F.round(
            (F.col(f"sse_r_{tag}") - F.col(f"sse_u_{tag}"))
            / (F.col(f"sse_u_{tag}") / (F.col(f"n_{tag}") - 3)),
            6,
        )

    return both.select(
        F.col("n_xy").alias("n_days"),
        fstat("xy").alias("f_click_to_purchase"),
        fstat("yx").alias("f_purchase_to_click"),
        r6(1.0 - F.col("sse_u_xy") / F.col("sse_r_xy")).alias(
            "r2_gain_xy"
        ),
        r6(1.0 - F.col("sse_u_yx") / F.col("sse_r_yx")).alias(
            "r2_gain_yx"
        ),
    )


def x315_rec_coverage(spark, sf_dir):
    """Coverage/diversity audit of the x273 item-item recommender:
    catalog coverage (share of parts ever recommended), exposure Gini
    over recommendation slots (the x254 closed form), and attribute
    intra-list diversity (mean pairwise price dissimilarity
    |p1-p2|/(p1+p2) within each top-5 list) — the beyond-accuracy
    triple that catches a recommender collapsing onto one popular
    shelf (the x256/x269/x307 audit-pairing discipline).

    Scale: the rec relation is the x273 plan; audits run on |lists|,
    the |parts| exposure histogram, and 10-pair-per-list joins."""
    from social_warner_spark.queries.x18_series import x273_item_item_cf
    from social_warner_spark.caching import register_persisted

    recs = register_persisted(
        x273_item_item_cf(spark, sf_dir).persist()
    )
    part = T(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("j"),
        F.col("p_retailprice").cast("double").alias("price"),
    )
    ncat = part.agg(F.count("*").alias("n_parts"))
    cov = recs.agg(
        F.countDistinct("j").alias("n_recommended"),
        F.countDistinct("i").alias("n_lists"),
    )
    expo = recs.groupBy("j").agg(F.count("*").alias("e"))
    ranked = expo.withColumn(
        "rk", F.row_number().over(Window.orderBy(F.asc("e"), F.asc("j")))
    )
    gini = ranked.agg(
        r6(
            2.0 * F.sum(F.col("rk") * F.col("e"))
            / (F.count("*") * F.sum("e"))
            - (F.count("*") + 1.0) / F.count("*")
        ).alias("exposure_gini")
    )
    pa = part.select(F.col("j"), F.col("price").alias("pa"))
    wl = recs.join(pa, "j").select("i", "rk", "pa")
    l, r = wl.alias("l"), wl.alias("r")
    ild = (
        l.join(
            r,
            (F.col("l.i") == F.col("r.i"))
            & (F.col("l.rk") < F.col("r.rk")),
        )
        .select(
            (
                F.abs(F.col("l.pa") - F.col("r.pa"))
                / (F.col("l.pa") + F.col("r.pa"))
            ).alias("d")
        )
        .agg(r6(F.avg("d")).alias("avg_ild"))
    )
    return (
        cov.crossJoin(F.broadcast(ncat))
        .select(
            "n_lists",
            "n_recommended",
            r6(F.col("n_recommended") / F.col("n_parts")).alias(
                "catalog_coverage"
            ),
        )
        .crossJoin(F.broadcast(gini))
        .crossJoin(F.broadcast(ild))
    )


def x316_burst_detection(spark, sf_dir):
    """Kleinberg-style two-state burst detection on the daily event
    count: state 1 emits at s=2x the base rate; per-day Poisson costs
    (log-factorial terms cancel between states), up-transitions cost
    gamma*ln(n); exact Viterbi with path reconstruction runs as ONE
    fold whose accumulator carries BOTH candidate paths (2-state
    trellis = two arrays), 6dp-pinned costs — burst EPISODES (start
    day index, length) come from a gaps-and-islands pass over the
    winning path.

    Scale: the corpus collapses to the bounded daily grid, collected
    to a broadcast 1-row series; the fold and episode extraction are
    grid-bounded."""
    ev = T(spark, sf_dir, "events")
    daily0 = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.count("*").cast("double").alias("c0")
    )
    widx = Window.orderBy("day")
    daily = daily0.select(
        "day",
        F.row_number().over(widx).alias("t"),
    ).join(daily0, "day").select(
        "day",
        F.when(
            F.col("t").between(BURST_INJ_LO, BURST_INJ_HI),
            F.round(F.col("c0") * BURST_INJ_X, 6),
        )
        .otherwise(F.col("c0"))
        .alias("c"),
    )
    series = daily.groupBy().agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("day", "c"))),
            lambda e: e["c"],
        ).alias("cs"),
        F.count("*").alias("n"),
        F.round(F.avg("c"), 6).alias("lam0"),
    )
    lam1 = F.round(F.col("lam0") * BURST_S, 6)
    gam = F.round(BURST_GAMMA * F.log(F.col("n")), 6)

    def emit(state_lam, c):
        # negative Poisson log-likelihood with ln(c!) dropped (cancels
        # across states): lambda - c ln(lambda)
        return state_lam - c * F.log(state_lam)

    init = F.struct(
        F.lit(0.0).alias("c0"),
        gam.alias("c1"),
        F.expr("CAST(array() AS array<int>)").alias("p0"),
        F.expr("CAST(array() AS array<int>)").alias("p1"),
    )
    step = F.aggregate(
        F.col("cs"),
        init,
        lambda acc, c: F.struct(
            F.round(
                F.least(acc["c0"], acc["c1"])
                + emit(F.col("lam0"), c),
                6,
            ).alias("c0"),
            F.round(
                F.least(acc["c0"] + gam, acc["c1"])
                + emit(lam1, c),
                6,
            ).alias("c1"),
            F.array_append(
                F.when(acc["c0"] <= acc["c1"], acc["p0"]).otherwise(
                    acc["p1"]
                ),
                F.lit(0),
            ).alias("p0"),
            F.array_append(
                F.when(acc["c0"] + gam <= acc["c1"], acc["p0"]).otherwise(
                    acc["p1"]
                ),
                F.lit(1),
            ).alias("p1"),
        ),
    )
    solved = series.select(
        F.col("n"),
        F.col("lam0"),
        F.when(step["c0"] <= step["c1"], step["p0"])
        .otherwise(step["p1"])
        .alias("path"),
    ).localCheckpoint(eager=True)
    days = solved.select(
        "n", "lam0", F.posexplode("path").alias("t0", "st")
    ).select("n", "lam0", (F.col("t0") + 1).alias("t"), "st")
    # gaps-and-islands over the burst days
    wv = Window.orderBy("t")
    isl = days.where(F.col("st") == 1).select(
        "n",
        "lam0",
        "t",
        (F.col("t") - F.row_number().over(wv)).alias("grp"),
    )
    return (
        isl.groupBy("n", "lam0", "grp")
        .agg(
            F.min("t").alias("start_day_idx"),
            F.count("*").alias("length_days"),
        )
        .select(
            F.col("n").alias("n_days"),
            F.col("lam0").alias("base_rate"),
            "start_day_idx",
            "length_days",
        )
        .orderBy("start_day_idx")
    )


# ---------------------------------------------------------------------------
# Oracles
# ---------------------------------------------------------------------------

#: l2's pair CTE at the planner sample floor, jaccard kept.
_PLANNER_PAIRS = f"""toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ), sh AS (
            SELECT DISTINCT doc_id,
                   t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
            FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
            WHERE len(t) >= 3
        ), sizes AS (
            SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
        ), shared AS (
            SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS c
            FROM sh a JOIN sh b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ), pairs AS (
            SELECT ROUND(c * 1.0 / (sa.sz + sb.sz - c), 6) AS jaccard
            FROM shared
            JOIN sizes sa ON sa.doc_id = a
            JOIN sizes sb ON sb.doc_id = b
            WHERE ROUND(c * 1.0 / (sa.sz + sb.sz - c), 6)
                  >= {LSH_SAMPLE_MIN}
        )"""


def _burst_oracle() -> str:
    """Viterbi as a DuckDB recursive CTE over the day index with the
    two costs and two candidate paths as columns (INT[] lists)."""
    return f"""
        WITH RECURSIVE daily AS (
            SELECT date_trunc('day', ts) AS day,
                   CAST(COUNT(*) AS DOUBLE) AS c
            FROM events GROUP BY 1
        ), idx AS MATERIALIZED (
            SELECT t, CASE WHEN t BETWEEN {BURST_INJ_LO} AND {BURST_INJ_HI}
                           THEN ROUND(c0 * {BURST_INJ_X}, 6)
                           ELSE c0 END AS c
            FROM (SELECT CAST(ROW_NUMBER() OVER (ORDER BY day) AS INT)
                             AS t, c AS c0
                  FROM daily)
        ), st AS MATERIALIZED (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   ROUND(AVG(c), 6) AS lam0,
                   ROUND(AVG(c) * {BURST_S}, 6) AS lam1,
                   ROUND({BURST_GAMMA} * ln(COUNT(*)), 6) AS gam
            FROM idx
        ), rec AS (
            SELECT 0 AS t, CAST(0.0 AS DOUBLE) AS c0,
                   CAST(gam AS DOUBLE) AS c1,
                   CAST([] AS INT[]) AS p0, CAST([] AS INT[]) AS p1
            FROM st
            UNION ALL
            SELECT r.t + 1,
                   ROUND(LEAST(r.c0, r.c1)
                         + (st.lam0 - i.c * ln(st.lam0)), 6),
                   ROUND(LEAST(r.c0 + st.gam, r.c1)
                         + (st.lam1 - i.c * ln(st.lam1)), 6),
                   list_append(CASE WHEN r.c0 <= r.c1
                                    THEN r.p0 ELSE r.p1 END, 0),
                   list_append(CASE WHEN r.c0 + st.gam <= r.c1
                                    THEN r.p0 ELSE r.p1 END, 1)
            FROM rec r, st, idx i
            WHERE i.t = r.t + 1
        ), fin AS (
            SELECT CASE WHEN r.c0 <= r.c1 THEN r.p0 ELSE r.p1 END AS path
            FROM rec r, st WHERE r.t = st.n
        ), days AS (
            SELECT u.i AS t, fin.path[u.i] AS s
            FROM fin, UNNEST(range(1, len(fin.path) + 1)) u(i)
        ), isl AS (
            SELECT t, t - ROW_NUMBER() OVER (ORDER BY t) AS grp
            FROM days WHERE s = 1
        )
        SELECT st.n AS n_days, st.lam0 AS base_rate,
               CAST(MIN(isl.t) AS INT) AS start_day_idx,
               CAST(COUNT(*) AS BIGINT) AS length_days
        FROM isl, st
        GROUP BY st.n, st.lam0, isl.grp
        ORDER BY start_day_idx
    """


ORACLES = {
    "x312_lsh_planner": f"""
        WITH {_PLANNER_PAIRS}, cfg AS (
            SELECT * FROM (VALUES
                {", ".join(f"({b}, {r})" for b, r in LSH_CONFIGS)}
            ) v(b, r)
        ), j AS (
            SELECT cfg.b, cfg.r, p.jaccard,
                   1.0 - pow(1.0 - pow(p.jaccard, cfg.r), cfg.b) AS pc
            FROM pairs p CROSS JOIN cfg
        )
        SELECT b, r, CAST(COUNT(*) AS BIGINT) AS n_pairs,
               ROUND(pow(1.0 / b, 1.0 / r), 6) AS s50,
               ROUND(SUM(CASE WHEN jaccard >= {LSH_TARGET}
                              THEN 1.0 - pc ELSE 0.0 END), 6)
                   AS expected_fn,
               ROUND(SUM(CASE WHEN jaccard < {LSH_TARGET}
                              THEN pc ELSE 0.0 END), 6) AS expected_fp,
               ROUND(ROUND(SUM(CASE WHEN jaccard >= {LSH_TARGET}
                                    THEN 1.0 - pc ELSE 0.0 END), 6)
                     + ROUND(SUM(CASE WHEN jaccard < {LSH_TARGET}
                                      THEN pc ELSE 0.0 END), 6), 6)
                   AS cost
        FROM j GROUP BY b, r ORDER BY b
    """,
    "x313_temporal_motifs": f"""
        WITH pairs AS (
            SELECT a.event_type AS type_a, b.event_type AS type_b
            FROM events a JOIN events b
              ON a.user_id = b.user_id
             AND (b.ts > a.ts
                  OR (b.ts = a.ts AND b.event_id > a.event_id))
             AND date_diff('microsecond', a.ts, b.ts)
                 <= {MOTIF_WINDOW_MIN * 60 * 1_000_000}
        ), tot AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_events FROM events
        )
        SELECT type_a, type_b, CAST(COUNT(*) AS BIGINT) AS n_motifs,
               ROUND(COUNT(*) * 1000.0 / MAX(tot.n_events), 6)
                   AS per_1k_events
        FROM pairs CROSS JOIN tot
        GROUP BY type_a, type_b
        ORDER BY type_a, type_b
    """,
    "x314_granger_precedence": None,  # assembled below
    "x315_rec_coverage": None,  # assembled below
    "x316_burst_detection": _burst_oracle(),
}


def _granger_oracle() -> str:
    def ols2(y, x1, x2, tag):
        return f"""s_{tag} AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                   SUM({x1}) AS s1, SUM({x2}) AS s2,
                   SUM({x1} * {x1}) AS s11, SUM({x1} * {x2}) AS s12,
                   SUM({x2} * {x2}) AS s22,
                   SUM({y}) AS sy, SUM({y} * {x1}) AS sy1,
                   SUM({y} * {x2}) AS sy2
            FROM lagged
        ), c_{tag} AS (
            SELECT
              ROUND((sy * (s11 * s22 - s12 * s12)
                     - s1 * (sy1 * s22 - s12 * sy2)
                     + s2 * (sy1 * s12 - s11 * sy2))
                    / (n * (s11 * s22 - s12 * s12)
                       - s1 * (s1 * s22 - s12 * s2)
                       + s2 * (s1 * s12 - s11 * s2)), 6) AS a0,
              ROUND((n * (sy1 * s22 - s12 * sy2)
                     - sy * (s1 * s22 - s12 * s2)
                     + s2 * (s1 * sy2 - sy1 * s2))
                    / (n * (s11 * s22 - s12 * s12)
                       - s1 * (s1 * s22 - s12 * s2)
                       + s2 * (s1 * s12 - s11 * s2)), 6) AS b1,
              ROUND((n * (s11 * sy2 - sy1 * s12)
                     - s1 * (s1 * sy2 - sy1 * s2)
                     + sy * (s1 * s12 - s11 * s2))
                    / (n * (s11 * s22 - s12 * s12)
                       - s1 * (s1 * s22 - s12 * s2)
                       + s2 * (s1 * s12 - s11 * s2)), 6) AS c1
            FROM s_{tag}
        ), u_{tag} AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   SUM(pow({y} - (a0 + b1 * {x1} + c1 * {x2}), 2)) AS sse
            FROM lagged CROSS JOIN c_{tag}
            GROUP BY a0, b1, c1
        ), rs_{tag} AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS n, SUM({x1}) AS sx,
                   SUM({x1} * {x1}) AS sxx, SUM({y}) AS sy,
                   SUM({y} * {x1}) AS sxy
            FROM lagged
        ), rc_{tag} AS (
            SELECT ROUND((sy - (n * sxy - sx * sy)
                          / (n * sxx - sx * sx) * sx) / n, 6) AS ra,
                   ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
                       AS rb
            FROM rs_{tag}
        ), r_{tag} AS (
            SELECT SUM(pow({y} - (ra + rb * {x1}), 2)) AS sse
            FROM lagged CROSS JOIN rc_{tag}
            GROUP BY ra, rb
        )"""

    return f"""
        WITH daily AS (
            SELECT date_trunc('day', ts) AS day,
                   CAST(SUM(CASE WHEN event_type = '{GRANGER_X}'
                                 THEN 1 ELSE 0 END) AS DOUBLE) AS x,
                   CAST(SUM(CASE WHEN event_type = '{GRANGER_Y}'
                                 THEN 1 ELSE 0 END) AS DOUBLE) AS y
            FROM events
            WHERE event_type IN ('{GRANGER_X}', '{GRANGER_Y}')
            GROUP BY 1
        ), lagged AS MATERIALIZED (
            SELECT x, y,
                   LAG(x) OVER (ORDER BY day) AS xl,
                   LAG(y) OVER (ORDER BY day) AS yl
            FROM daily
            QUALIFY xl IS NOT NULL
        ), {ols2("y", "yl", "xl", "xy")}, {ols2("x", "xl", "yl", "yx")}
        SELECT u_xy.n AS n_days,
               ROUND((r_xy.sse - u_xy.sse)
                     / (u_xy.sse / (u_xy.n - 3)), 6)
                   AS f_click_to_purchase,
               ROUND((r_yx.sse - u_yx.sse)
                     / (u_yx.sse / (u_yx.n - 3)), 6)
                   AS f_purchase_to_click,
               ROUND(1.0 - u_xy.sse / r_xy.sse, 6) AS r2_gain_xy,
               ROUND(1.0 - u_yx.sse / r_yx.sse, 6) AS r2_gain_yx
        FROM u_xy, r_xy, u_yx, r_yx
    """


def _rec_coverage_oracle() -> str:
    from social_warner_spark.queries.x18_series import CF_MAX_ITEM, CF_TOPK

    return f"""
        WITH li AS (
            SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        ), supp AS (
            SELECT pk, COUNT(*) AS n FROM li GROUP BY pk
        ), co AS (
            SELECT a.pk AS i, b.pk AS j, CAST(COUNT(*) AS BIGINT) AS co
            FROM li a JOIN li b
              ON a.ok = b.ok AND a.pk != b.pk AND a.pk < {CF_MAX_ITEM}
            GROUP BY 1, 2
        ), recs AS MATERIALIZED (
            SELECT i, j, rk FROM (
                SELECT c.i, c.j,
                       CAST(ROW_NUMBER() OVER (
                           PARTITION BY c.i
                           ORDER BY ROUND(c.co / sqrt(CAST(si.n AS DOUBLE)
                                          * sj.n), 6) DESC, c.j) AS INT)
                           AS rk
                FROM co c
                JOIN supp si ON si.pk = c.i
                JOIN supp sj ON sj.pk = c.j
            ) WHERE rk <= {CF_TOPK}
        ), ncat AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_parts FROM part
        ), cov AS (
            SELECT CAST(COUNT(DISTINCT j) AS BIGINT) AS n_recommended,
                   CAST(COUNT(DISTINCT i) AS BIGINT) AS n_lists
            FROM recs
        ), expo AS (
            SELECT j, COUNT(*) AS e FROM recs GROUP BY j
        ), gini AS (
            SELECT ROUND(2.0 * SUM(rk * e)
                         / (COUNT(*) * SUM(e))
                         - (COUNT(*) + 1.0) / COUNT(*), 6)
                       AS exposure_gini
            FROM (SELECT e, ROW_NUMBER() OVER (ORDER BY e, j) AS rk
                  FROM expo)
        ), ild AS (
            SELECT ROUND(AVG(ABS(pa.p_retailprice - pb.p_retailprice)
                             / (pa.p_retailprice + pb.p_retailprice)), 6)
                       AS avg_ild
            FROM recs a JOIN recs b ON a.i = b.i AND a.rk < b.rk
            JOIN part pa ON pa.p_partkey = a.j
            JOIN part pb ON pb.p_partkey = b.j
        )
        SELECT cov.n_lists, cov.n_recommended,
               ROUND(cov.n_recommended * 1.0 / ncat.n_parts, 6)
                   AS catalog_coverage,
               gini.exposure_gini, ild.avg_ild
        FROM cov, ncat, gini, ild
    """


ORACLES["x314_granger_precedence"] = _granger_oracle()
ORACLES["x315_rec_coverage"] = _rec_coverage_oracle()

QUERIES = {
    "x312_lsh_planner": x312_lsh_planner,
    "x313_temporal_motifs": x313_temporal_motifs,
    "x314_granger_precedence": x314_granger_precedence,
    "x315_rec_coverage": x315_rec_coverage,
    "x316_burst_detection": x316_burst_detection,
}
