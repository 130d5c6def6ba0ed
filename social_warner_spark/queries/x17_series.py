"""x17 series — round-3 widening batch (x267–x271): robust trend
estimation (Theil–Sen), nonparametric trend testing (Mann–Kendall),
clustering-quality indices (simplified silhouette + Davies–Bouldin over
the x24 IVF partition), Markov removal-effect attribution, and
harmonic (weekly) regression.

Like every other series, each query is a pure DataFrame program over
the driver's parquet tables with an independently-written DuckDB
oracle; iterative recursions are FIXED-round and 6dp-pinned per
iteration so both engines walk one float grid, and transcendental
regressors (sin/cos) are 6dp-rounded at the source because libm is not
bit-identical across engines.

Literature grounding (public):
- Theil (1950) / Sen (JASA 1968) — median-of-pairwise-slopes estimator.
- Mann (Econometrica 1945) / Kendall, "Rank correlation methods" —
  S statistic; tie-corrected variance per Kendall (1975).
- Rousseeuw, "Silhouettes" (J. Comput. Appl. Math. 1987), simplified
  (centroid) form per Hruschka et al. (2004); Davies & Bouldin
  (IEEE TPAMI 1979).
- Anderl et al., "Mapping the customer journey" (IJRM 2016) — Markov
  removal-effect ("Markov chain") attribution.
- Bloomfield, "Fourier analysis of time series" (Wiley) — harmonic
  regression via least squares.
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from pyspark.sql import Window

from social_warner_spark.queries.common import T, r6

#: x267/x268 run on the daily total-value grid (bounded by calendar).
#: x268 — normal-approximation significance threshold.
MK_Z = 1.96
#: x269 — IVF configuration, matching x24 exactly (the quality indices
#: evaluate the partition x24 actually serves).
IVF_NLIST = 8
IVF_ITERS = 1
#: x270 — Markov-attribution channels (every non-conversion event
#: type, alphabetical), the conversion event, and the fixed number of
#: 6dp-pinned absorption-probability iterations.
MKV_CHANNELS = ("click", "error", "signup", "view")
MKV_CONV = "purchase"
MKV_ROUNDS = 25
#: x271 — seasonal period in days.
HARM_PERIOD = 7


def _daily(spark, sf_dir):
    """Daily total-value grid with a 1-based day index.

    localCheckpoint-ed (r06): callers reference the grid 3-5 times
    (pair self-joins, residuals, count rows), and without the pin each
    reference re-embedded the full events aggregation AND the |days|
    index window into the plan — one |days|-row materialization
    replaces them all."""
    ev = T(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.round(F.sum("value"), 6).alias("y")
    )
    return daily.select(
        "day", F.row_number().over(Window.orderBy("day")).alias("t"), "y"
    ).localCheckpoint(eager=True)


def x267_theil_sen(spark, sf_dir):
    """Theil–Sen robust trend of the daily total event value: the
    median of all pairwise slopes (y_j - y_i)/(t_j - t_i), i < j, with
    the median intercept med(y_i - slope * t_i) — the estimator a
    few anomalous days cannot drag the way they drag OLS (its
    breakdown point is 29%; compare x200's RANSAC which discards
    outliers instead of absorbing them).

    Scale: the corpus collapses to the bounded daily grid in one
    aggregation, but the pair join is grid² — big enough at a
    decade-scale calendar (~6.6M pairs) that its median ranks run as
    DISTRIBUTED global ranks (operators/ordered.py two-pass layout,
    r06), not a single-partition sort.  The rank keys carry the pair
    indices / day index as tiebreakers (r07, ADVICE r06): the median
    itself averages the two middle VALUES and is tie-insensitive, but
    with_grouped_rank's contract wants a total order so the rank column
    stays deterministic for any later consumer."""
    from social_warner_spark.operators.ordered import with_grouped_rank

    idx = _daily(spark, sf_dir)
    a, b = idx.alias("a"), idx.alias("b")
    slopes = a.join(b, F.col("b.t") > F.col("a.t")).select(
        (
            (F.col("b.y") - F.col("a.y")) / (F.col("b.t") - F.col("a.t"))
        ).alias("sl"),
        F.col("a.t").alias("_ti"),
        F.col("b.t").alias("_tj"),
    )
    m = slopes.agg(F.count("*").alias("m"))
    ranked = with_grouped_rank(slopes, [], ["sl", "_ti", "_tj"], "r")
    slope = (
        ranked.crossJoin(F.broadcast(m))
        .where(
            (F.col("r") == F.floor((F.col("m") + 1) / 2))
            | (F.col("r") == F.floor(F.col("m") / 2) + 1)
        )
        .agg(r6(F.avg("sl")).alias("slope"), F.max("m").alias("n_pairs"))
    )
    resid = idx.crossJoin(F.broadcast(slope)).select(
        "slope",
        "n_pairs",
        (F.col("y") - F.col("slope") * F.col("t")).alias("rs"),
        "t",
    )
    n = idx.agg(F.count("*").alias("n_days"))
    rr = with_grouped_rank(resid, [], ["rs", "t"], "r").crossJoin(F.broadcast(n))
    return (
        rr.where(
            (F.col("r") == F.floor((F.col("n_days") + 1) / 2))
            | (F.col("r") == F.floor(F.col("n_days") / 2) + 1)
        )
        .agg(
            F.max("n_days").alias("n_days"),
            F.max("n_pairs").alias("n_pairs"),
            F.max("slope").alias("slope"),
            r6(F.avg("rs")).alias("intercept"),
        )
    )


def x268_mann_kendall(spark, sf_dir):
    """Mann–Kendall trend test on the daily total event value:
    S = sum_{i<j} sign(y_j - y_i), tie-corrected variance
    [n(n-1)(2n+5) - sum_t t(t-1)(2t+5)] / 18, and the
    continuity-corrected Z — the standard nonparametric "is the series
    trending at all" gate run before fitting x267's slope.

    Scale: pairs and tie groups both live on the bounded daily grid;
    the corpus contributes one aggregation."""
    idx = _daily(spark, sf_dir)
    a, b = idx.alias("a"), idx.alias("b")
    s = a.join(b, F.col("b.t") > F.col("a.t")).agg(
        F.sum(F.signum(F.col("b.y") - F.col("a.y"))).alias("s")
    )
    ties = (
        idx.groupBy("y")
        .agg(F.count("*").alias("tt"))
        .agg(
            F.sum(
                F.col("tt") * (F.col("tt") - 1) * (2 * F.col("tt") + 5)
            ).alias("tie_corr")
        )
    )
    n = idx.agg(F.count("*").alias("n_days"))
    st = s.crossJoin(F.broadcast(ties)).crossJoin(F.broadcast(n))
    var = (
        F.col("n_days")
        * (F.col("n_days") - 1)
        * (2 * F.col("n_days") + 5)
        - F.col("tie_corr")
    ) / 18.0
    z = (
        F.when(F.col("s") > 0, (F.col("s") - 1) / F.sqrt(var))
        .when(F.col("s") < 0, (F.col("s") + 1) / F.sqrt(var))
        .otherwise(F.lit(0.0))
    )
    return st.select(
        "n_days",
        F.col("s").cast("long").alias("s_stat"),
        r6(var).alias("var_s"),
        r6(z).alias("z"),
        F.when(z > MK_Z, F.lit("increasing"))
        .when(z < -MK_Z, F.lit("decreasing"))
        .otherwise(F.lit("no_trend"))
        .alias("trend"),
    )


def x269_cluster_quality(spark, sf_dir):
    """Clustering-quality scorecard for the x24 IVF partition
    (identical seeds, one Lloyd step): per cluster, the simplified
    (centroid-based) silhouette mean((b-a)/max(a,b)) under cosine
    distance 1 - cos, the intra-cluster scatter S_i = mean d(v, c_i),
    and the Davies–Bouldin ratio max_{j!=i} (S_i+S_j)/d(c_i,c_j) —
    the "are these coarse cells actually separable" audit behind the
    x24/x61 probe heuristics.

    Scale: distances are |corpus| x nlist with centroids broadcast
    (the x24 assignment shape); everything after the two per-vector
    aggregations is nlist-sized.  Scatter is 6dp-rounded before the
    DB ratio in both engines (one float grid)."""
    from social_warner_spark.operators.similarity import (
        ivf_assign,
        ivf_centroids,
    )
    from social_warner_spark.functions.vectors import cosine_prenormed, l2_norm

    emb = T(spark, sf_dir, "embeddings")
    cents = ivf_centroids(emb, nlist=IVF_NLIST, iters=IVF_ITERS)
    from social_warner_spark.caching import register_persisted

    cents = register_persisted(cents.persist())
    own = ivf_assign(emb, cents).select("vec_id", "cluster")
    cs = cents.select(
        F.col("cluster").alias("cl"),
        "cvec",
        l2_norm(F.col("cvec")).alias("_cn"),
    )
    dists = (
        emb.select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("v"),
            l2_norm(F.col("embedding")).alias("_vn"),
        )
        .join(F.broadcast(cs), how="cross")
        .select(
            "vec_id",
            "cl",
            (
                1.0
                - F.round(
                    cosine_prenormed(
                        F.col("v"), F.col("cvec"), F.col("_vn"), F.col("_cn")
                    ),
                    6,
                )
            ).alias("d"),
        )
    )
    pv = (
        dists.join(own, "vec_id")
        .groupBy("vec_id", "cluster")
        .agg(
            F.max(F.when(F.col("cl") == F.col("cluster"), F.col("d"))).alias(
                "a"
            ),
            F.min(F.when(F.col("cl") != F.col("cluster"), F.col("d"))).alias(
                "b"
            ),
        )
    )
    sil = F.when(
        F.greatest("a", "b") > 0,
        (F.col("b") - F.col("a")) / F.greatest("a", "b"),
    ).otherwise(F.lit(0.0))
    # nlist rows feeding three consumers (si, sj, the final join) —
    # eagerly cut the |corpus| x nlist scoring lineage behind them.
    percl = pv.groupBy("cluster").agg(
        F.count("*").alias("n_vecs"),
        r6(F.avg(sil)).alias("mean_silhouette"),
        r6(F.avg("a")).alias("scatter"),
    ).localCheckpoint(eager=True)
    ca, cb = cs.alias("ca"), cs.alias("cb")
    cc = ca.join(cb, F.col("ca.cl") != F.col("cb.cl")).select(
        F.col("ca.cl").alias("i"),
        F.col("cb.cl").alias("j"),
        (
            1.0
            - F.round(
                cosine_prenormed(
                    F.col("ca.cvec"),
                    F.col("cb.cvec"),
                    F.col("ca._cn"),
                    F.col("cb._cn"),
                ),
                6,
            )
        ).alias("dc"),
    )
    si = percl.select(F.col("cluster").alias("i"), F.col("scatter").alias("s_i"))
    sj = percl.select(F.col("cluster").alias("j"), F.col("scatter").alias("s_j"))
    dbr = (
        cc.join(F.broadcast(si), "i")
        .join(F.broadcast(sj), "j")
        .groupBy(F.col("i").alias("cluster"))
        .agg(
            r6(F.max((F.col("s_i") + F.col("s_j")) / F.col("dc"))).alias(
                "db_ratio"
            )
        )
    )
    return percl.join(dbr, "cluster").orderBy("cluster")


def x270_markov_attribution(spark, sf_dir):
    """Markov removal-effect attribution: user journeys are the
    event-type sequences before each user's first purchase
    (START -> touches -> CONV/NOCONV); channel credit is the drop in
    START->CONV absorption probability when that channel's state is
    deleted from the chain, normalized across channels — the
    path-aware alternative to x95's last-touch rule.

    Absorption probabilities are computed by MKV_ROUNDS fixed
    value-iteration steps, 6dp-rounded per step, run as ONE
    `F.aggregate` fold over the dense (masked) transition matrix —
    the matrix is a broadcast 1-row relation of nested arrays, so the
    five what-if chains (baseline + one per removed channel) cost five
    bounded folds, not five join-iteration DAGs.

    Scale: one shuffle builds per-user journey steps, one more counts
    transitions; everything after lives on the |channels|^2 matrix."""
    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id", "event_type", F.row_number().over(w).alias("rn")
    )
    from social_warner_spark.caching import register_persisted

    seq = register_persisted(seq.persist())
    prn = (
        seq.where(F.col("event_type") == MKV_CONV)
        .groupBy("user_id")
        .agg(F.min("rn").alias("prn"))
    )
    touches = (
        seq.join(prn, "user_id", "left")
        .where(
            (F.col("prn").isNull() | (F.col("rn") < F.col("prn")))
            & (F.col("event_type") != MKV_CONV)
        )
        .select("user_id", "event_type", "rn")
    )
    touches = register_persisted(touches.persist())
    tw = Window.partitionBy("user_id").orderBy("rn")
    steps = touches.select(
        F.coalesce(
            F.lag("event_type").over(tw), F.lit("START")
        ).alias("src"),
        F.col("event_type").alias("dst"),
    )
    last = touches.groupBy("user_id").agg(
        F.max_by("event_type", "rn").alias("lastt")
    )
    finals = (
        ev.select("user_id")
        .distinct()
        .join(last, "user_id", "left")
        .join(prn, "user_id", "left")
        .select(
            F.coalesce(F.col("lastt"), F.lit("START")).alias("src"),
            F.when(F.col("prn").isNotNull(), F.lit("CONV"))
            .otherwise(F.lit("NOCONV"))
            .alias("dst"),
        )
    )
    cnt = steps.union(finals).groupBy("src", "dst").agg(
        F.count("*").alias("c")
    )
    tot = cnt.groupBy("src").agg(F.sum("c").alias("ct"))
    prob = cnt.join(tot, "src").select(
        "src", "dst", F.round(F.col("c") / F.col("ct"), 6).alias("w")
    )
    states = list(MKV_CHANNELS) + ["START"]
    aggs = []
    for i, s in enumerate(states):
        for j, c in enumerate(MKV_CHANNELS):
            aggs.append(
                F.coalesce(
                    F.max(
                        F.when(
                            (F.col("src") == s) & (F.col("dst") == c),
                            F.col("w"),
                        )
                    ),
                    F.lit(0.0),
                ).alias(f"m_{i}_{j}")
            )
        aggs.append(
            F.coalesce(
                F.max(
                    F.when(
                        (F.col("src") == s) & (F.col("dst") == "CONV"),
                        F.col("w"),
                    )
                ),
                F.lit(0.0),
            ).alias(f"tc_{i}")
        )
    mat = prob.agg(*aggs).select(
        F.array(
            *[
                F.array(
                    *[
                        F.col(f"m_{i}_{j}")
                        for j in range(len(MKV_CHANNELS))
                    ]
                )
                for i in range(len(states))
            ]
        ).alias("M"),
        F.array(*[F.col(f"tc_{i}") for i in range(len(states))]).alias("tc"),
    )
    variants = spark.range(0, len(MKV_CHANNELS) + 1).select(
        (F.col("id") - 1).cast("int").alias("rm")
    )
    vr = variants.crossJoin(F.broadcast(mat))
    n_states = len(states)
    n_ch = len(MKV_CHANNELS)
    # The channel-removal mask is applied INSIDE the fold (never as a
    # separately-composed transform): CollapseProject would substitute a
    # pre-masking transform's lambda body into this fold, and two nested
    # lambdas both named `i` silently capture each other — the masked
    # matrix read back as all-NULL (measured).  Unique variable names
    # (itr/i/j/s/x) in ONE composition avoid the trap.
    p = F.aggregate(
        F.sequence(F.lit(1), F.lit(MKV_ROUNDS)),
        F.array_repeat(F.lit(0.0), n_states),
        lambda acc, itr: F.transform(
            F.sequence(F.lit(0), F.lit(n_states - 1)),
            lambda i: F.round(
                F.when(i == F.col("rm"), F.lit(0.0)).otherwise(
                    F.element_at(F.col("tc"), (i + 1).cast("int"))
                )
                + F.aggregate(
                    F.transform(
                        F.sequence(F.lit(0), F.lit(n_ch - 1)),
                        lambda j: F.when(
                            (i == F.col("rm")) | (j == F.col("rm")),
                            F.lit(0.0),
                        ).otherwise(
                            F.element_at(
                                F.element_at(
                                    F.col("M"), (i + 1).cast("int")
                                ),
                                (j + 1).cast("int"),
                            )
                        )
                        * F.element_at(acc, (j + 1).cast("int")),
                    ),
                    F.lit(0.0),
                    lambda s, x: s + x,
                ),
                6,
            ),
        ),
    )
    # 5 rows; eagerly cut the journey/pivot lineage so the base/removal
    # consumers below don't each embed the whole upstream DAG.
    solved = vr.select(
        "rm", F.element_at(p, n_states).alias("p_start")
    ).localCheckpoint(eager=True)
    base = solved.where(F.col("rm") == -1).select(
        F.col("p_start").alias("p_base")
    )
    chans = F.array(*[F.lit(c) for c in MKV_CHANNELS])
    rem = (
        solved.where(F.col("rm") >= 0)
        .crossJoin(F.broadcast(base))
        .select(
            F.element_at(chans, F.col("rm") + 1).alias("channel"),
            F.col("p_base"),
            F.col("p_start").alias("p_removed"),
            F.when(
                F.col("p_base") > 0,
                F.round(
                    F.greatest(
                        F.lit(0.0), 1.0 - F.col("p_start") / F.col("p_base")
                    ),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("removal_effect"),
        )
    )
    tote = rem.agg(F.sum("removal_effect").alias("te"))
    return (
        rem.crossJoin(F.broadcast(tote))
        .select(
            "channel",
            "p_base",
            "p_removed",
            "removal_effect",
            F.when(
                F.col("te") > 0,
                r6(F.col("removal_effect") / F.col("te")),
            )
            .otherwise(F.lit(0.0))
            .alias("attribution_share"),
        )
        .orderBy("channel")
    )


def x271_harmonic_regression(spark, sf_dir):
    """Harmonic (weekly) regression of the daily total event value:
    least-squares fit of y ~ a0 + b1 sin(2*pi*t/7) + b2 cos(2*pi*t/7)
    via the closed-form 3x3 normal equations (Cramer), reporting the
    seasonal amplitude sqrt(b1^2+b2^2), phase atan2(b2, b1), and R^2 —
    the parametric seasonality readout x261's ACF only hints at.
    Regressors are 6dp-rounded at the source (libm sin/cos is not
    bit-identical across engines) and coefficients are 6dp-rounded
    before the residual pass.

    Scale: two aggregations over the bounded daily grid with the
    coefficient row broadcast between them."""
    idx = _daily(spark, sf_dir)
    tau = 2.0 * math.pi / HARM_PERIOD
    g = idx.select(
        "y",
        F.round(F.sin(F.col("t") * tau), 6).alias("x1"),
        F.round(F.cos(F.col("t") * tau), 6).alias("x2"),
    )
    from social_warner_spark.caching import register_persisted

    g = register_persisted(g.persist())
    s = g.agg(
        F.count("*").alias("n"),
        F.sum("x1").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum("y").alias("sy"),
        F.sum(F.col("y") * F.col("x1")).alias("sy1"),
        F.sum(F.col("y") * F.col("x2")).alias("sy2"),
    )
    det = (
        F.col("n") * (F.col("s11") * F.col("s22") - F.col("s12") * F.col("s12"))
        - F.col("s1") * (F.col("s1") * F.col("s22") - F.col("s12") * F.col("s2"))
        + F.col("s2") * (F.col("s1") * F.col("s12") - F.col("s11") * F.col("s2"))
    )
    det_a = (
        F.col("sy") * (F.col("s11") * F.col("s22") - F.col("s12") * F.col("s12"))
        - F.col("s1") * (F.col("sy1") * F.col("s22") - F.col("s12") * F.col("sy2"))
        + F.col("s2") * (F.col("sy1") * F.col("s12") - F.col("s11") * F.col("sy2"))
    )
    det_b = (
        F.col("n") * (F.col("sy1") * F.col("s22") - F.col("s12") * F.col("sy2"))
        - F.col("sy") * (F.col("s1") * F.col("s22") - F.col("s12") * F.col("s2"))
        + F.col("s2") * (F.col("s1") * F.col("sy2") - F.col("sy1") * F.col("s2"))
    )
    det_c = (
        F.col("n") * (F.col("s11") * F.col("sy2") - F.col("sy1") * F.col("s12"))
        - F.col("s1") * (F.col("s1") * F.col("sy2") - F.col("sy1") * F.col("s2"))
        + F.col("sy") * (F.col("s1") * F.col("s12") - F.col("s11") * F.col("s2"))
    )
    coef = s.select(
        F.col("n").alias("n_days"),
        F.round(det_a / det, 6).alias("a0"),
        F.round(det_b / det, 6).alias("b1"),
        F.round(det_c / det, 6).alias("b2"),
        (F.col("sy") / F.col("n")).alias("ybar"),
    )
    resid = g.crossJoin(F.broadcast(coef)).agg(
        F.max("n_days").alias("n_days"),
        F.max("a0").alias("a0"),
        F.max("b1").alias("b1"),
        F.max("b2").alias("b2"),
        F.sum(
            F.pow(
                F.col("y")
                - (
                    F.col("a0")
                    + F.col("b1") * F.col("x1")
                    + F.col("b2") * F.col("x2")
                ),
                2,
            )
        ).alias("sse"),
        F.sum(F.pow(F.col("y") - F.col("ybar"), 2)).alias("sst"),
    )
    return resid.select(
        "n_days",
        "a0",
        "b1",
        "b2",
        r6(F.sqrt(F.col("b1") * F.col("b1") + F.col("b2") * F.col("b2"))).alias(
            "amplitude"
        ),
        r6(F.atan2(F.col("b2"), F.col("b1"))).alias("phase"),
        r6(1.0 - F.col("sse") / F.col("sst")).alias("r2"),
    )


# ---------------------------------------------------------------------------
# Oracles
# ---------------------------------------------------------------------------

_DAILY_SQL = """daily AS (
            SELECT date_trunc('day', ts) AS day, ROUND(SUM(value), 6) AS y
            FROM events GROUP BY 1
        ), idx AS (
            SELECT day,
                   CAST(ROW_NUMBER() OVER (ORDER BY day) AS INT) AS t, y
            FROM daily
        )"""


def _median_sql(src: str, col: str, cnt: str) -> str:
    """Positional median: avg of the middle one/two of `col` in `src`
    (row count {cnt})."""
    return f"""(
        SELECT AVG({col}) FROM (
            SELECT {col}, ROW_NUMBER() OVER (ORDER BY {col}) AS r FROM {src}
        ), (SELECT COUNT(*) AS m FROM {src})
        WHERE r = (m + 1) // 2 OR r = m // 2 + 1
    )"""


def _markov_oracle() -> str:
    states = list(MKV_CHANNELS) + ["START"]
    nch = len(MKV_CHANNELS)
    ns = len(states)
    # base matrix pivot
    mcols = []
    for i, s in enumerate(states):
        for j, c in enumerate(MKV_CHANNELS):
            mcols.append(
                f"COALESCE(MAX(CASE WHEN src = '{s}' AND dst = '{c}'"
                f" THEN w END), 0.0) AS m_{i}_{j}"
            )
        mcols.append(
            f"COALESCE(MAX(CASE WHEN src = '{s}' AND dst = 'CONV'"
            f" THEN w END), 0.0) AS tc_{i}"
        )
    # variant-masked matrix
    vcols = []
    for i in range(ns):
        for j in range(nch):
            vcols.append(
                f"CASE WHEN rm = {i} OR rm = {j} THEN 0.0"
                f" ELSE m_{i}_{j} END AS m_{i}_{j}"
            )
        vcols.append(f"CASE WHEN rm = {i} THEN 0.0 ELSE tc_{i} END AS tc_{i}")
    # recursion step (seed MUST be DOUBLE: a bare 0.0 literal is
    # DECIMAL(2,1) in DuckDB and the union would coerce every iterate
    # to one decimal place)
    p0 = ", ".join(f"CAST(0.0 AS DOUBLE) AS p{i}" for i in range(ns))
    step = ", ".join(
        "ROUND(tc_%d + %s, 6)"
        % (i, " + ".join(f"m_{i}_{j} * p{j}" for j in range(nch)))
        for i in range(ns)
    )
    pcols = ", ".join(f"p{i}" for i in range(ns))
    chan_case = " ".join(
        f"WHEN rm = {j} THEN '{c}'" for j, c in enumerate(MKV_CHANNELS)
    )
    return f"""
        WITH RECURSIVE seq AS (
            SELECT user_id, event_type,
                   CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id) AS INT)
                       AS rn
            FROM events
        ), prn AS (
            SELECT user_id, MIN(rn) AS prn FROM seq
            WHERE event_type = '{MKV_CONV}' GROUP BY 1
        ), touches AS (
            SELECT s.user_id, s.event_type, s.rn
            FROM seq s LEFT JOIN prn USING (user_id)
            WHERE (prn IS NULL OR s.rn < prn)
              AND s.event_type != '{MKV_CONV}'
        ), steps AS (
            SELECT COALESCE(LAG(event_type) OVER (
                       PARTITION BY user_id ORDER BY rn), 'START') AS src,
                   event_type AS dst
            FROM touches
        ), lastt AS (
            SELECT user_id, MAX_BY(event_type, rn) AS lt
            FROM touches GROUP BY 1
        ), finals AS (
            SELECT COALESCE(l.lt, 'START') AS src,
                   CASE WHEN p.prn IS NOT NULL THEN 'CONV'
                        ELSE 'NOCONV' END AS dst
            FROM (SELECT DISTINCT user_id FROM events) u
            LEFT JOIN lastt l USING (user_id)
            LEFT JOIN prn p USING (user_id)
        ), edges AS (
            SELECT src, dst FROM steps
            UNION ALL
            SELECT src, dst FROM finals
        ), prob AS (
            SELECT src, dst,
                   ROUND(CAST(COUNT(*) AS DOUBLE)
                         / SUM(COUNT(*)) OVER (PARTITION BY src), 6) AS w
            FROM edges GROUP BY src, dst
        ), mat AS (
            SELECT {", ".join(mcols)} FROM prob
        ), matv AS (
            SELECT rm, {", ".join(vcols)}
            FROM (VALUES (-1), {", ".join(f"({j})" for j in range(nch))})
                 v(rm) CROSS JOIN mat
        ), rec AS (
            SELECT rm, 0 AS iter, {p0}
            FROM matv
            UNION ALL
            SELECT r.rm, r.iter + 1, {step}
            FROM rec r JOIN matv USING (rm)
            WHERE r.iter < {MKV_ROUNDS}
        ), solved AS (
            SELECT rm, p{ns - 1} AS p_start FROM rec
            WHERE iter = {MKV_ROUNDS}
        ), based AS (
            SELECT p_start AS p_base FROM solved WHERE rm = -1
        ), rem AS (
            SELECT CASE {chan_case} END AS channel,
                   b.p_base, s.p_start AS p_removed,
                   CASE WHEN b.p_base > 0
                        THEN ROUND(GREATEST(0.0,
                                 1.0 - s.p_start / b.p_base), 6)
                        ELSE 0.0 END AS removal_effect
            FROM solved s CROSS JOIN based b
            WHERE s.rm >= 0
        )
        SELECT channel, p_base, p_removed, removal_effect,
               CASE WHEN SUM(removal_effect) OVER () > 0
                    THEN ROUND(removal_effect
                               / SUM(removal_effect) OVER (), 6)
                    ELSE 0.0 END AS attribution_share
        FROM rem
        ORDER BY channel
    """


_IVF_CENT_SQL = None  # assembled lazily below from x3_series internals


def _cluster_quality_oracle() -> str:
    from social_warner_spark.queries.x3_series import _IVF_COS

    cos_ec = _IVF_COS.format(a="e.embedding", b="c.cvec")
    cos_ab = _IVF_COS.format(a="a.cvec", b="b.cvec")
    return f"""
        WITH seeds AS (
            SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT)
                       AS cluster,
                   embedding::DOUBLE[] AS cvec
            FROM (SELECT * FROM embeddings ORDER BY vec_id
                  LIMIT {IVF_NLIST})
        ), assign0 AS (
            SELECT vec_id, embedding, cluster FROM (
                SELECT e.vec_id, e.embedding, c.cluster,
                       ROW_NUMBER() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {_IVF_COS.format(a='e.embedding', b='c.cvec')} DESC,
                                    c.cluster) AS rk
                FROM embeddings e CROSS JOIN seeds c
            ) WHERE rk = 1
        ), means AS (
            SELECT cluster, i AS pos,
                   ROUND(AVG(embedding[i]::DOUBLE), 6) AS m
            FROM assign0, UNNEST(range(1, len(embedding) + 1)) u(i)
            GROUP BY cluster, i
        ), cent1 AS (
            SELECT cluster, list(m ORDER BY pos) AS cvec
            FROM means GROUP BY cluster
        ), own AS (
            SELECT vec_id, cluster FROM (
                SELECT e.vec_id, c.cluster,
                       ROW_NUMBER() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {cos_ec} DESC, c.cluster) AS rk
                FROM embeddings e CROSS JOIN cent1 c
            ) WHERE rk = 1
        ), dists AS (
            SELECT e.vec_id, c.cluster AS cl, 1.0 - {cos_ec} AS d
            FROM embeddings e CROSS JOIN cent1 c
        ), pv AS (
            SELECT d.vec_id, o.cluster,
                   MAX(CASE WHEN d.cl = o.cluster THEN d.d END) AS a,
                   MIN(CASE WHEN d.cl != o.cluster THEN d.d END) AS b
            FROM dists d JOIN own o USING (vec_id)
            GROUP BY d.vec_id, o.cluster
        ), percl AS (
            SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_vecs,
                   ROUND(AVG(CASE WHEN GREATEST(a, b) > 0
                                  THEN (b - a) / GREATEST(a, b)
                                  ELSE 0.0 END), 6) AS mean_silhouette,
                   ROUND(AVG(a), 6) AS scatter
            FROM pv GROUP BY cluster
        ), cc AS (
            SELECT a.cluster AS i, b.cluster AS j, 1.0 - {cos_ab} AS dc
            FROM cent1 a JOIN cent1 b ON a.cluster != b.cluster
        ), dbr AS (
            SELECT cc.i AS cluster,
                   ROUND(MAX((pi.scatter + pj.scatter) / cc.dc), 6)
                       AS db_ratio
            FROM cc
            JOIN percl pi ON pi.cluster = cc.i
            JOIN percl pj ON pj.cluster = cc.j
            GROUP BY cc.i
        )
        SELECT p.cluster, p.n_vecs, p.mean_silhouette, p.scatter, d.db_ratio
        FROM percl p JOIN dbr d USING (cluster)
        ORDER BY p.cluster
    """


def _harmonic_oracle() -> str:
    tau = 2.0 * math.pi / HARM_PERIOD
    return f"""
        WITH {_DAILY_SQL}, g AS (
            SELECT y, ROUND(sin(t * {tau!r}), 6) AS x1,
                   ROUND(cos(t * {tau!r}), 6) AS x2
            FROM idx
        ), s AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                   SUM(x1) AS s1, SUM(x2) AS s2,
                   SUM(x1 * x1) AS s11, SUM(x1 * x2) AS s12,
                   SUM(x2 * x2) AS s22,
                   SUM(y) AS sy, SUM(y * x1) AS sy1, SUM(y * x2) AS sy2
            FROM g
        ), coef AS (
            SELECT CAST(n AS BIGINT) AS n_days,
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
                            + s2 * (s1 * s12 - s11 * s2)), 6) AS b2,
                   sy / n AS ybar
            FROM s
        )
        SELECT n_days, a0, b1, b2,
               ROUND(sqrt(b1 * b1 + b2 * b2), 6) AS amplitude,
               ROUND(atan2(b2, b1), 6) AS phase,
               ROUND(1.0 - SUM(pow(y - (a0 + b1 * x1 + b2 * x2), 2))
                           / SUM(pow(y - ybar, 2)), 6) AS r2
        FROM g CROSS JOIN coef
        GROUP BY n_days, a0, b1, b2
    """


ORACLES = {
    "x267_theil_sen": f"""
        WITH {_DAILY_SQL}, slopes AS (
            SELECT (b.y - a.y) / (b.t - a.t) AS sl
            FROM idx a JOIN idx b ON b.t > a.t
        ), med AS (
            SELECT ROUND({_median_sql("slopes", "sl", "m")}, 6) AS slope,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM slopes) AS n_pairs
        ), resid AS (
            SELECT i.y - m.slope * i.t AS rs FROM idx i CROSS JOIN med m
        )
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM idx) AS n_days,
               m.n_pairs, m.slope,
               ROUND({_median_sql("resid", "rs", "n")}, 6) AS intercept
        FROM med m
    """,
    "x268_mann_kendall": f"""
        WITH {_DAILY_SQL}, sgn AS (
            SELECT SUM(CASE WHEN b.y > a.y THEN 1
                            WHEN b.y < a.y THEN -1 ELSE 0 END) AS s
            FROM idx a JOIN idx b ON b.t > a.t
        ), ties AS (
            SELECT COALESCE(SUM(tt * (tt - 1) * (2 * tt + 5)), 0) AS tie_corr
            FROM (SELECT COUNT(*) AS tt FROM idx GROUP BY y)
        ), nn AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM idx
        ), st AS (
            SELECT n_days, s,
                   (n_days * (n_days - 1) * (2 * n_days + 5) - tie_corr)
                       / 18.0 AS v
            FROM sgn CROSS JOIN ties CROSS JOIN nn
        )
        SELECT n_days, CAST(s AS BIGINT) AS s_stat,
               ROUND(v, 6) AS var_s,
               ROUND(CASE WHEN s > 0 THEN (s - 1) / sqrt(v)
                          WHEN s < 0 THEN (s + 1) / sqrt(v)
                          ELSE 0.0 END, 6) AS z,
               CASE WHEN (CASE WHEN s > 0 THEN (s - 1) / sqrt(v)
                               WHEN s < 0 THEN (s + 1) / sqrt(v)
                               ELSE 0.0 END) > {MK_Z} THEN 'increasing'
                    WHEN (CASE WHEN s > 0 THEN (s - 1) / sqrt(v)
                               WHEN s < 0 THEN (s + 1) / sqrt(v)
                               ELSE 0.0 END) < -{MK_Z} THEN 'decreasing'
                    ELSE 'no_trend' END AS trend
        FROM st
    """,
    "x269_cluster_quality": _cluster_quality_oracle(),
    "x270_markov_attribution": _markov_oracle(),
    "x271_harmonic_regression": _harmonic_oracle(),
}

QUERIES = {
    "x267_theil_sen": x267_theil_sen,
    "x268_mann_kendall": x268_mann_kendall,
    "x269_cluster_quality": x269_cluster_quality,
    "x270_markov_attribution": x270_markov_attribution,
    "x271_harmonic_regression": x271_harmonic_regression,
}
