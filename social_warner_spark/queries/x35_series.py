"""x35 series — round-3 widening batch (x357–x361): local-DP
randomized response, IDF-weighted set similarity, price-volume-mix
revenue bridging, peak detection with non-max suppression, and churn
threshold sweeping.

Like every other series, each query is a pure DataFrame program over
the driver's parquet tables with an independently-written DuckDB
oracle; randomness is the repo's deterministic md5 stream, and the
x360 greedy suppression runs as one fold over the height-sorted
candidate array (the x287 discipline).

Literature grounding (public):
- Warner (JASA 1965) randomized response; k-ary generalization per
  Kairouz et al. (ICML 2016).
- Chum, Philbin & Zisserman (BMVC 2008) — IDF-weighted set overlap.
- Standard FP&A price-volume-mix variance decomposition.
- 1-D non-maximum suppression (signal-processing folklore; e.g.
  scipy.signal.find_peaks `distance` semantics).
- Product-analytics churn-window sensitivity sweeps.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from social_warner_spark.functions.text import md5_int
from social_warner_spark.queries.common import T, r2, r6

#: x357 — keep probability (answer truthfully) over k=5 categories.
RR_P = 0.75
RR_K = 5
#: x358 — candidate-pair floor (the x312 band).
WJ_SAMPLE_MIN = 0.3
#: x359 — the two compared order years.
PVM_Y0 = 1996
PVM_Y1 = 1997
#: x360 — reported peaks and the minimum day separation.
NMS_TOP = 5
NMS_SEP = 3
#: x361 — churn inactivity windows (days).
CH_WINDOWS = (7, 14, 30, 60)


def x357_randomized_response(spark, sf_dir):
    """Local-DP event-type frequency release via k-ary randomized
    response: each event reports its true type with p=0.75, otherwise
    a deterministic-md5 uniform category (which may re-pick the true
    one, so P(report=t | true=t) = p + q); the unbiased estimator
    n_hat = (obs - n q) / p (q = (1-p)/k) reconstructs the true
    histogram and its total mass sums exactly to n — reported beside the truth and the per-type error, the
    LOCAL counterpart of x186's central-DP release.

    Scale: perturbation is a narrow md5 map; one histogram each for
    observed and true, k-sized algebra after."""
    ev = T(spark, sf_dir, "events").select("event_id", "event_type")
    types = sorted(["click", "signup", "purchase", "error", "view"])
    tarr = F.array(*[F.lit(t) for t in types])
    u = (
        md5_int(F.concat(F.lit("rr|"), F.col("event_id").cast("string")), 8)
        / 4294967296.0
    )
    # keep if u < p, else replace with category floor(u' * k)
    u2 = (
        md5_int(F.concat(F.lit("rr2|"), F.col("event_id").cast("string")), 8)
        / 4294967296.0
    )
    reported = F.when(u < RR_P, F.col("event_type")).otherwise(
        F.element_at(tarr, (F.floor(u2 * RR_K) + 1).cast("int"))
    )
    staged = ev.select(
        "event_type", reported.alias("rep")
    )
    from social_warner_spark.caching import register_persisted

    staged = register_persisted(staged.persist())
    obs = staged.groupBy(F.col("rep").alias("event_type")).agg(
        F.count("*").alias("observed")
    )
    true = staged.groupBy("event_type").agg(
        F.count("*").alias("true_count")
    )
    n = staged.agg(F.count("*").alias("n"))
    q = (1.0 - RR_P) / RR_K
    return (
        obs.join(true, "event_type", "full")
        .crossJoin(F.broadcast(n))
        .select(
            "event_type",
            F.coalesce("observed", F.lit(0)).alias("observed"),
            F.coalesce("true_count", F.lit(0)).alias("true_count"),
            r6(
                (F.coalesce("observed", F.lit(0)) - F.col("n") * q)
                / RR_P
            ).alias("debiased"),
            r6(
                F.abs(
                    (F.coalesce("observed", F.lit(0)) - F.col("n") * q)
                    / RR_P
                    - F.coalesce("true_count", F.lit(0))
                )
            ).alias("abs_err"),
        )
        .orderBy("event_type")
    )


def x358_weighted_jaccard(spark, sf_dir):
    """IDF-weighted shingle similarity vs plain Jaccard on the
    candidate pairs: w-sim = sum idf(shared) / sum idf(union), where
    idf = ln(N/df) over shingle document frequencies — boilerplate
    shingles stop inflating similarity; reported per pair with the
    rank displacement against plain Jaccard (Spearman of the two
    scores over the sample rides along in every row).

    Scale: shingle doc-frequencies are one map-side-combined count
    joined onto the bounded pair-shingle relation; only hashes and
    weights shuffle."""
    from social_warner_spark.operators.dedup import exact_jaccard_pairs
    from social_warner_spark.functions.text import (
        shingles_from_tokens,
        tokens,
    )
    from social_warner_spark.caching import register_persisted

    d = T(spark, sf_dir, "documents")
    pairs = exact_jaccard_pairs(d, WJ_SAMPLE_MIN).select(
        F.col("doc_id_a").alias("a"),
        F.col("doc_id_b").alias("b"),
        "jaccard",
    ).localCheckpoint(eager=True)
    tk = d.select("doc_id", tokens(F.col("text")).alias("t")).where(
        F.size("t") >= 3
    )
    sh = register_persisted(
        tk.select(
            "doc_id",
            F.explode_outer(
                F.array_distinct(shingles_from_tokens(F.col("t")))
            ).alias("g"),
        ).persist()
    )
    dfreq = sh.groupBy("g").agg(F.count("*").alias("df"))
    nd = d.agg(F.count("*").alias("nd"))
    idf = dfreq.crossJoin(F.broadcast(nd)).select(
        "g", F.log(F.col("nd") / F.col("df")).alias("w")
    )
    need = (
        pairs.select(F.col("a").alias("doc_id"))
        .union(pairs.select(F.col("b").alias("doc_id")))
        .distinct()
    )
    shn = sh.join(need, "doc_id", "left_semi").join(idf, "g")
    sa = shn.select(F.col("doc_id").alias("a"), "g", F.col("w").alias("wa"))
    sb = shn.select(F.col("doc_id").alias("b"), "g", F.col("w").alias("wb"))
    inter = (
        pairs.join(sa, "a")
        .join(sb, ["b", "g"])
        .groupBy("a", "b")
        .agg(F.sum("wa").alias("wi"))
    )
    tots = shn.groupBy("doc_id").agg(F.sum("w").alias("tw"))
    ta = tots.select(F.col("doc_id").alias("a"), F.col("tw").alias("twa"))
    tb = tots.select(F.col("doc_id").alias("b"), F.col("tw").alias("twb"))
    scored = (
        pairs.join(inter, ["a", "b"], "left")
        .join(ta, "a")
        .join(tb, "b")
        .select(
            "a",
            "b",
            "jaccard",
            r6(
                F.coalesce("wi", F.lit(0.0))
                / (
                    F.col("twa")
                    + F.col("twb")
                    - F.coalesce("wi", F.lit(0.0))
                )
            ).alias("weighted_jaccard"),
        )
    )
    scored = register_persisted(scored.persist())
    cor = scored.agg(
        r6(F.corr("jaccard", "weighted_jaccard")).alias("score_corr")
    )
    return (
        scored.crossJoin(F.broadcast(cor))
        .select(
            "a",
            "b",
            "jaccard",
            "weighted_jaccard",
            r6(F.col("weighted_jaccard") - F.col("jaccard")).alias(
                "idf_shift"
            ),
            "score_corr",
        )
        .orderBy("a", "b")
    )


def x359_price_volume_mix(spark, sf_dir):
    """Price-volume-mix revenue bridge between 1996 and 1997 lineitem
    revenue, per return flag: volume effect (qty change at old price),
    price effect (unit-price change at new qty), and the residual mix
    term, with the identity delta = volume + price checked in-row —
    the FP&A variance decomposition no BI rollup in this repo yet
    expressed.

    Scale: one (year, flag) aggregation; the bridge is flag-sized
    algebra."""
    li = T(spark, sf_dir, "lineitem").select(
        F.year("l_shipdate").alias("y"),
        "l_returnflag",
        F.col("l_quantity").cast("double").alias("q"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "rev"
        ),
    ).where(F.col("y").isin(PVM_Y0, PVM_Y1))
    per = li.groupBy("y", "l_returnflag").agg(
        F.sum("q").alias("qty"), F.sum("rev").alias("rev")
    )
    p0 = per.where(F.col("y") == PVM_Y0).select(
        "l_returnflag",
        F.col("qty").alias("q0"),
        F.col("rev").alias("r0"),
    )
    p1 = per.where(F.col("y") == PVM_Y1).select(
        "l_returnflag",
        F.col("qty").alias("q1"),
        F.col("rev").alias("r1"),
    )
    j = p0.join(p1, "l_returnflag")
    u0 = F.col("r0") / F.col("q0")
    u1 = F.col("r1") / F.col("q1")
    vol = (F.col("q1") - F.col("q0")) * u0
    price = (u1 - u0) * F.col("q1")
    return j.select(
        "l_returnflag",
        r2(F.col("r0")).alias("rev_y0"),
        r2(F.col("r1")).alias("rev_y1"),
        r2(F.col("r1") - F.col("r0")).alias("delta"),
        r2(vol).alias("volume_effect"),
        r2(price).alias("price_effect"),
        (
            F.abs((F.col("r1") - F.col("r0")) - (vol + price)) < 0.05
        ).alias("bridge_closes"),
    ).orderBy("l_returnflag")


def x360_peak_nms(spark, sf_dir):
    """Daily-total peak detection with non-max suppression: local
    maxima (strictly above both neighbors) are candidates; scanning
    them by height, a peak is kept only if no already-kept peak lies
    within 3 days — the top-5 kept peaks (scipy find_peaks `distance`
    semantics) — the event-calendar readout that x316's burst states
    blur together.

    Scale: candidates come from one lag/lead window on the bounded
    daily grid; the greedy suppression is one fold over the
    height-sorted candidate array (broadcast 1-row)."""
    ev = T(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.round(F.sum("value"), 6).alias("y")
    )
    w = Window.orderBy("day")
    # localCheckpoint (r06): idx feeds both the candidate fold and the
    # final peak join — one |days|-row materialization instead of two
    # embedded events aggregations + day windows.
    idx = daily.select(
        F.row_number().over(w).alias("t"),
        "day",
        "y",
        F.lag("y").over(w).alias("yp"),
        F.lead("y").over(w).alias("yn"),
    ).localCheckpoint(eager=True)
    cands = idx.where(
        F.col("yp").isNotNull()
        & F.col("yn").isNotNull()
        & (F.col("y") > F.col("yp"))
        & (F.col("y") > F.col("yn"))
    )
    # sort key (-y, t): height desc with EARLIEST-day tie-break,
    # mirrored by the oracle's ORDER BY y DESC, t
    packed = cands.groupBy().agg(
        F.sort_array(
            F.collect_list(
                F.struct((-F.col("y")).alias("ny"), F.col("t"))
            )
        ).alias("cs")
    )
    # fold: accept a candidate if no accepted t within NMS_SEP
    sel = F.aggregate(
        F.col("cs"),
        F.expr("CAST(array() AS array<int>)"),
        lambda acc, c: F.when(
            F.exists(
                acc,
                lambda t0: F.abs(t0 - c["t"]) <= NMS_SEP,
            ),
            acc,
        ).otherwise(F.array_append(acc, c["t"].cast("int"))),
    )
    picked = packed.select(F.explode(sel).alias("t"))
    out = picked.join(idx.select("t", "day", "y"), "t")
    wr = Window.orderBy(F.desc("y"), F.asc("t"))
    return (
        out.orderBy(F.desc("y"), F.asc("t"))
        .limit(NMS_TOP)
        .withColumn("rk", F.row_number().over(wr))
        .select("rk", "day", F.col("y").alias("height"), F.col("t").alias("day_idx"))
    )


def x361_churn_sweep(spark, sf_dir):
    """Churn-definition sensitivity: for inactivity windows of
    7/14/30/60 days before the observed horizon, the share of users
    counted as churned — the sweep that shows how much the headline
    churn rate is an artifact of the chosen window (the x335/x345
    planner shape pointed at lifecycle metrics).

    Scale: one per-user last-activity aggregation; each window is a
    conditional aggregate."""
    ev = T(spark, sf_dir, "events")
    last = ev.groupBy("user_id").agg(F.max("ts").alias("lastt"))
    hor = ev.agg(F.max("ts").alias("hz"))
    j = last.crossJoin(F.broadcast(hor)).select(
        F.expr("timestampdiff(DAY, lastt, hz)").alias("idle_days")
    )
    from social_warner_spark.caching import register_persisted

    j = register_persisted(j.persist())
    outs = None
    for wdays in CH_WINDOWS:
        one = j.agg(
            F.lit(wdays).alias("window_days"),
            F.count("*").alias("n_users"),
            F.sum((F.col("idle_days") >= wdays).cast("long")).alias(
                "n_churned"
            ),
            r6(
                F.sum((F.col("idle_days") >= wdays).cast("long"))
                / F.count("*")
            ).alias("churn_rate"),
        )
        outs = one if outs is None else outs.unionAll(one)
    return outs.orderBy("window_days")


# ---------------------------------------------------------------------------
# Oracles
# ---------------------------------------------------------------------------

_RR_TYPES = sorted(["click", "signup", "purchase", "error", "view"])
_RR_ARR = "[" + ", ".join(f"'{t}'" for t in _RR_TYPES) + "]"
_RR_Q = (1.0 - RR_P) / RR_K

_CH_ROWS = " UNION ALL ".join(
    f"""SELECT {wd} AS window_days,
               CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(CASE WHEN idle_days >= {wd}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_churned,
               ROUND(SUM(CASE WHEN idle_days >= {wd}
                              THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)
                   AS churn_rate
        FROM j"""
    for wd in CH_WINDOWS
)

ORACLES = {
    "x357_randomized_response": f"""
        WITH staged AS MATERIALIZED (
            SELECT event_type,
                   CASE WHEN CAST(('0x' || substr(md5('rr|' ||
                            CAST(event_id AS VARCHAR)), 1, 8))
                            AS UBIGINT) / 4294967296.0 < {RR_P}
                        THEN event_type
                        ELSE {_RR_ARR}[CAST(floor(
                            CAST(('0x' || substr(md5('rr2|' ||
                                 CAST(event_id AS VARCHAR)), 1, 8))
                                 AS UBIGINT) / 4294967296.0 * {RR_K})
                            AS INT) + 1]
                   END AS rep
            FROM events
        ), obs AS (
            SELECT rep AS event_type, COUNT(*) AS observed
            FROM staged GROUP BY 1
        ), tru AS (
            SELECT event_type, COUNT(*) AS true_count
            FROM staged GROUP BY 1
        ), nn AS (
            SELECT COUNT(*) AS n FROM staged
        )
        SELECT COALESCE(obs.event_type, tru.event_type) AS event_type,
               CAST(COALESCE(observed, 0) AS BIGINT) AS observed,
               CAST(COALESCE(true_count, 0) AS BIGINT) AS true_count,
               ROUND((COALESCE(observed, 0) - nn.n * {_RR_Q})
                     / {RR_P}, 6) AS debiased,
               ROUND(ABS((COALESCE(observed, 0) - nn.n * {_RR_Q})
                         / {RR_P}
                         - COALESCE(true_count, 0)), 6) AS abs_err
        FROM obs FULL JOIN tru USING (event_type)
        CROSS JOIN nn
        ORDER BY event_type
    """,
    "x358_weighted_jaccard": f"""
        WITH toks AS (
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
                  >= {WJ_SAMPLE_MIN}
        ), tk2 AS (
            SELECT doc_id, string_split(trim(text), ' ') AS t
            FROM documents
            WHERE len(string_split(trim(text), ' ')) >= 3
        ), sh2 AS MATERIALIZED (
            SELECT DISTINCT doc_id,
                   t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
            FROM tk2, UNNEST(range(1, len(t) - 1)) AS u(i)
        ), dfreq AS (
            SELECT g, COUNT(*) AS df FROM sh2 GROUP BY g
        ), ndd AS (
            SELECT COUNT(*) AS nd FROM documents
        ), idf AS MATERIALIZED (
            SELECT g, ln(nd * 1.0 / df) AS w
            FROM dfreq CROSS JOIN ndd
        ), inter AS (
            SELECT p.a, p.b, SUM(ia.w) AS wi
            FROM pairs p
            JOIN sh2 xa ON xa.doc_id = p.a
            JOIN sh2 xb ON xb.doc_id = p.b AND xb.g = xa.g
            JOIN idf ia ON ia.g = xa.g
            GROUP BY 1, 2
        ), tots AS (
            SELECT s.doc_id, SUM(i.w) AS tw
            FROM sh2 s JOIN idf i USING (g)
            GROUP BY 1
        ), scored AS MATERIALIZED (
            SELECT p.a, p.b, p.jaccard,
                   ROUND(COALESCE(n.wi, 0.0)
                         / (ta.tw + tb.tw - COALESCE(n.wi, 0.0)), 6)
                       AS weighted_jaccard
            FROM pairs p
            LEFT JOIN inter n ON n.a = p.a AND n.b = p.b
            JOIN tots ta ON ta.doc_id = p.a
            JOIN tots tb ON tb.doc_id = p.b
        ), cor AS (
            SELECT ROUND(corr(jaccard, weighted_jaccard), 6)
                       AS score_corr
            FROM scored
        )
        SELECT s.a, s.b, s.jaccard, s.weighted_jaccard,
               ROUND(s.weighted_jaccard - s.jaccard, 6) AS idf_shift,
               cor.score_corr
        FROM scored s CROSS JOIN cor
        ORDER BY s.a, s.b
    """,
    "x359_price_volume_mix": f"""
        WITH li AS (
            SELECT year(l_shipdate) AS y, l_returnflag,
                   CAST(l_quantity AS DOUBLE) AS q,
                   l_extendedprice * (1 - l_discount) AS rev
            FROM lineitem
            WHERE year(l_shipdate) IN ({PVM_Y0}, {PVM_Y1})
        ), per AS (
            SELECT y, l_returnflag, SUM(q) AS qty, SUM(rev) AS rev
            FROM li GROUP BY 1, 2
        ), j AS (
            SELECT p0.l_returnflag,
                   p0.qty AS q0, p0.rev AS r0,
                   p1.qty AS q1, p1.rev AS r1
            FROM (SELECT * FROM per WHERE y = {PVM_Y0}) p0
            JOIN (SELECT * FROM per WHERE y = {PVM_Y1}) p1
              USING (l_returnflag)
        )
        SELECT l_returnflag,
               ROUND(r0, 2) AS rev_y0, ROUND(r1, 2) AS rev_y1,
               ROUND(r1 - r0, 2) AS delta,
               ROUND((q1 - q0) * (r0 / q0), 2) AS volume_effect,
               ROUND((r1 / q1 - r0 / q0) * q1, 2) AS price_effect,
               ABS((r1 - r0) - ((q1 - q0) * (r0 / q0)
                   + (r1 / q1 - r0 / q0) * q1)) < 0.05 AS bridge_closes
        FROM j ORDER BY l_returnflag
    """,
    "x360_peak_nms": f"""
        WITH RECURSIVE daily AS (
            SELECT date_trunc('day', ts) AS day, ROUND(SUM(value), 6) AS y
            FROM events GROUP BY 1
        ), idx AS MATERIALIZED (
            SELECT CAST(ROW_NUMBER() OVER (ORDER BY day) AS INT) AS t,
                   day, y,
                   LAG(y) OVER (ORDER BY day) AS yp,
                   LEAD(y) OVER (ORDER BY day) AS yn
            FROM daily
        ), cands AS MATERIALIZED (
            SELECT t, day, y,
                   CAST(ROW_NUMBER() OVER (ORDER BY y DESC, t) AS INT)
                       AS ord
            FROM idx
            WHERE yp IS NOT NULL AND yn IS NOT NULL
              AND y > yp AND y > yn
        ), nc AS (
            SELECT CAST(COUNT(*) AS INT) AS n FROM cands
        ), rec AS (
            SELECT 0 AS i, CAST([] AS INT[]) AS acc
            UNION ALL
            SELECT r.i + 1,
                   CASE WHEN EXISTS (
                            SELECT 1 FROM UNNEST(r.acc) v(t0)
                            WHERE ABS(v.t0 - c.t) <= {NMS_SEP})
                        THEN r.acc
                        ELSE list_append(r.acc, c.t) END
            FROM rec r
            JOIN cands c ON c.ord = r.i + 1
            CROSS JOIN nc
            WHERE r.i < nc.n
        ), fin AS (
            SELECT acc FROM rec, nc WHERE rec.i = nc.n
        ), picked AS (
            SELECT UNNEST(acc) AS t FROM fin
        )
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY i.y DESC, i.t) AS INT)
                   AS rk,
               i.day, i.y AS height, i.t AS day_idx
        FROM picked p JOIN idx i ON i.t = p.t
        ORDER BY i.y DESC, i.t
        LIMIT {NMS_TOP}
    """,
    "x361_churn_sweep": f"""
        WITH lastt AS (
            SELECT user_id, MAX(ts) AS lastt FROM events GROUP BY 1
        ), hor AS (
            SELECT MAX(ts) AS hz FROM events
        ), j AS MATERIALIZED (
            SELECT date_diff('day', lastt, hz) AS idle_days
            FROM lastt CROSS JOIN hor
        )
        SELECT * FROM ({_CH_ROWS})
        ORDER BY window_days
    """,
}

QUERIES = {
    "x357_randomized_response": x357_randomized_response,
    "x358_weighted_jaccard": x358_weighted_jaccard,
    "x359_price_volume_mix": x359_price_volume_mix,
    "x360_peak_nms": x360_peak_nms,
    "x361_churn_sweep": x361_churn_sweep,
}
