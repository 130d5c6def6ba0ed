"""x38 series — round-3 widening batch (x372–x376): CDC ordering
semantics, ratio-metric bridging, hash-collision budgeting, variance-
reduction method comparison, and raking (iterative proportional
fitting).

Like every other series, each query is a pure DataFrame program over
the driver's parquet tables with an independently-written DuckDB
oracle; the x376 IPF rounds are fixed and 6dp-pinned (the x249/x282
discipline) with the oracle unrolled per round.

Literature grounding (public):
- Last-writer-wins vs arrival order: standard CDC/merge semantics
  (e.g. Debezium docs).
- Ratio-metric delta decomposition (standard experimentation-platform
  practice for rate metrics).
- Birthday-bound collision estimates (any hashing text).
- CUPED (Deng et al., WSDM 2013); post-stratification (Kish 1965).
- Deming & Stephan (Ann. Math. Stat. 1940) — iterative proportional
  fitting.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from social_warner_spark.functions.text import md5_int
from social_warner_spark.queries.common import T, r6
from social_warner_spark.queries.x27_series import (
    BT_LAG_DAYS,
    BT_MOD,
    BT_UPLIFT,
)

#: x374 — hash prefix width (bits) under collision audit.
BD_BITS = 16
#: x375 — activity strata for post-stratification.
VM_STRATA = 5
#: x376 — IPF rounds.
IPF_ROUNDS = 5


def x372_lww_vs_arrival(spark, sf_dir):
    """CDC apply-order audit on the x321 amendment ledger: per order,
    the surviving price under LAST-WRITER-WINS (max tx_date) versus
    ARRIVAL ORDER when arrivals are scrambled by a deterministic md5
    shuffle — counting orders where the two disagree and the revenue
    delta that sloppy apply-ordering would silently introduce.

    Scale: the ledger is a union of narrow maps; both winners are
    per-order argmaxes."""
    o = T(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("price"),
        "o_orderdate",
    )
    orig = o.select(
        "o_orderkey",
        "price",
        F.col("o_orderdate").alias("tx_date"),
        F.lit(0).alias("ver"),
    )
    amend = o.where(F.col("o_orderkey") % BT_MOD == 0).select(
        "o_orderkey",
        # tie-nudged like x321's ledger (see x27_series) — same amendment
        F.round(F.col("price") * BT_UPLIFT + F.lit(1e-9), 2).alias("price"),
        F.date_add(F.col("o_orderdate"), BT_LAG_DAYS).alias("tx_date"),
        F.lit(1).alias("ver"),
    )
    ledger = orig.unionAll(amend)
    arrival = md5_int(
        F.concat(
            F.lit("arr|"),
            F.col("o_orderkey").cast("string"),
            F.lit("#"),
            F.col("ver").cast("string"),
        ),
        8,
    )
    staged = ledger.select(
        "o_orderkey", "price", "tx_date", arrival.alias("arr")
    )
    from social_warner_spark.caching import register_persisted

    staged = register_persisted(staged.persist())
    lww = staged.groupBy("o_orderkey").agg(
        F.max_by("price", "tx_date").alias("p_lww")
    )
    arr = staged.groupBy("o_orderkey").agg(
        F.max_by("price", "arr").alias("p_arr")
    )
    j = lww.join(arr, "o_orderkey").select(
        "o_orderkey",
        # exact integer cents: at sf0.1 these sums reach ~3.8e10 where
        # float summation-order noise (~0.5) dwarfs the 2dp grid — the
        # sf0.1 strict mirror caught the cross-engine flip; int64 cents
        # are exact in both engines (3.8e12 cents << 2^63)
        F.round(F.col("p_lww") * 100, 0).cast("long").alias("c_lww"),
        F.round(F.col("p_arr") * 100, 0).cast("long").alias("c_arr"),
    )
    return j.agg(
        F.count("*").alias("n_orders"),
        F.sum(
            (F.col("c_lww") != F.col("c_arr")).cast("long")
        ).alias("n_disagree"),
        (F.sum("c_lww").cast("double") / 100.0).alias("rev_lww"),
        (F.sum("c_arr").cast("double") / 100.0).alias("rev_arrival"),
        (
            F.sum(F.col("c_lww") - F.col("c_arr")).cast("double") / 100.0
        ).alias("silent_delta"),
    )


def x373_ratio_bridge(spark, sf_dir):
    """Ratio-metric delta decomposition for the purchase rate
    (purchases / events) between the first and second half of the
    window: delta(a/b) = (a1-a0)/b0  - (a0/b0)(b1-b0)/b0
    + second-order remainder — the numerator and denominator effects
    that explain WHY a rate moved (and the remainder that warns when
    the linearization is lying), x359's bridge for rate metrics.

    Scale: two conditional aggregates over one midpoint-split scan."""
    ev = T(spark, sf_dir, "events")
    split = ev.agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")
    ).select(
        F.expr(
            "timestampadd(MICROSECOND,"
            " CAST(timestampdiff(MICROSECOND, lo, hi) / 2 AS BIGINT), lo)"
        ).alias("cut")
    )
    per = (
        ev.crossJoin(F.broadcast(split))
        .groupBy((F.col("ts") >= F.col("cut")).alias("h2"))
        .agg(
            F.count("*").alias("b"),
            F.sum(
                (F.col("event_type") == "purchase").cast("long")
            ).alias("a"),
        )
    )
    p0 = per.where(~F.col("h2")).select(
        F.col("a").alias("a0"), F.col("b").alias("b0")
    )
    p1 = per.where(F.col("h2")).select(
        F.col("a").alias("a1"), F.col("b").alias("b1")
    )
    j = p0.crossJoin(p1)
    r0 = F.col("a0") / F.col("b0")
    r1v = F.col("a1") / F.col("b1")
    num_eff = (F.col("a1") - F.col("a0")) / F.col("b0")
    den_eff = -r0 * (F.col("b1") - F.col("b0")) / F.col("b0")
    return j.select(
        r6(r0).alias("rate_h1"),
        r6(r1v).alias("rate_h2"),
        r6(r1v - r0).alias("delta"),
        r6(num_eff).alias("numerator_effect"),
        r6(den_eff).alias("denominator_effect"),
        r6((r1v - r0) - num_eff - den_eff).alias("remainder"),
    )


def x374_birthday_audit(spark, sf_dir):
    """Hash-width collision audit: observed pairwise collisions of the
    16-bit md5 prefix over document texts versus the birthday
    expectation C(n,2)/2^16 — the measured basis for trusting (or
    widening) short fingerprints like x2's 16-bit simhash.

    Scale: one hash histogram; collisions come from the histogram's
    C(c,2) sum, never a pair join."""
    d = T(spark, sf_dir, "documents")
    h = md5_int(F.col("text"), BD_BITS // 4)
    hist = d.select(h.alias("h")).groupBy("h").agg(
        F.count("*").alias("c")
    )
    space = float(2 ** BD_BITS)
    return hist.agg(
        F.sum("c").alias("n_docs"),
        F.count("*").alias("n_distinct_hashes"),
        F.sum(F.col("c") * (F.col("c") - 1) / 2).cast("long").alias(
            "observed_collision_pairs"
        ),
        r6(
            F.sum("c") * (F.sum("c") - 1) / 2.0 / space
        ).alias("expected_collision_pairs"),
        r6(
            F.sum(F.col("c") * (F.col("c") - 1) / 2)
            / (F.sum("c") * (F.sum("c") - 1) / 2.0 / space)
        ).alias("ratio"),
    )


def x375_variance_methods(spark, sf_dir):
    """Variance-reduction method comparison for the mean event value:
    the raw SE, the CUPED-adjusted SE (covariate = each user's
    first-half mean, theta = cov/var), and the post-stratified SE
    (activity quintiles) — one table saying which machinery actually
    buys precision on this metric (x202 implements CUPED; x348
    measures stratification; this prices them against each other).

    Scale: per-user aggregations; each method is moment algebra over
    user-level rows."""
    ev = T(spark, sf_dir, "events")
    split = ev.agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")
    ).select(
        F.expr(
            "timestampadd(MICROSECOND,"
            " CAST(timestampdiff(MICROSECOND, lo, hi) / 2 AS BIGINT), lo)"
        ).alias("cut")
    )
    users = (
        ev.crossJoin(F.broadcast(split))
        .groupBy("user_id")
        .agg(
            F.avg(
                F.when(F.col("ts") >= F.col("cut"), F.col("value"))
            ).alias("y"),
            F.avg(
                F.when(F.col("ts") < F.col("cut"), F.col("value"))
            ).alias("x"),
            F.count("*").alias("cnt"),
        )
        .where(F.col("y").isNotNull() & F.col("x").isNotNull())
    )
    from social_warner_spark.caching import register_persisted

    users = register_persisted(users.persist())
    base = users.agg(
        F.count("*").alias("n"),
        F.var_samp("y").alias("vy"),
        F.covar_samp("x", "y").alias("cxy"),
        F.var_samp("x").alias("vx"),
    )
    theta = base.select(
        "n",
        "vy",
        F.round(F.col("cxy") / F.col("vx"), 6).alias("theta"),
    ).localCheckpoint(eager=True)
    cuped = (
        users.crossJoin(F.broadcast(theta))
        .select(
            (
                F.col("y")
                - F.col("theta") * F.col("x")
            ).alias("yc"),
            "n",
        )
        .agg(F.max("n").alias("n"), F.var_samp("yc").alias("vc"))
    )
    nt = F.ntile(VM_STRATA).over(
        Window.orderBy(F.desc("cnt"), F.asc("user_id"))
    )
    strat = (
        users.select(nt.alias("s"), "y")
        .groupBy("s")
        .agg(F.count("*").alias("ns"), F.var_samp("y").alias("vs"))
    )
    stot = strat.agg(
        F.sum("ns").alias("n"),
        F.sum(F.col("ns") * F.col("vs")).alias("wv"),
    )
    rows = (
        base.select(
            F.lit("raw").alias("method"),
            "n",
            r6(F.sqrt(F.col("vy") / F.col("n"))).alias("se"),
        )
        .unionAll(
            cuped.select(
                F.lit("cuped").alias("method"),
                "n",
                r6(F.sqrt(F.col("vc") / F.col("n"))).alias("se"),
            )
        )
        .unionAll(
            stot.select(
                F.lit("post_stratified").alias("method"),
                "n",
                r6(
                    F.sqrt(F.col("wv") / F.col("n") / F.col("n"))
                ).alias("se"),
            )
        )
    )
    raw = base.select(r6(F.sqrt(F.col("vy") / F.col("n"))).alias("se0"))
    return (
        rows.crossJoin(F.broadcast(raw))
        .select(
            "method",
            "n",
            "se",
            r6(1.0 - F.col("se") / F.col("se0")).alias(
                "se_reduction_vs_raw"
            ),
        )
        .orderBy("method")
    )


def x376_raking(spark, sf_dir):
    """Raking (iterative proportional fitting) of document weights to
    UNIFORM lang and source margins: five 6dp-pinned IPF rounds of
    alternating row/column scaling on the (lang, source) contingency
    weights — the survey-calibration machinery behind debiasing a
    corpus toward target shares, with the final margin errors in the
    result.

    Scale: the weight table is the bounded (lang x source) grid; each
    round is two grid-sized aggregations (checkpointed)."""
    d = T(spark, sf_dir, "documents")
    cell = d.groupBy("lang", "source").agg(
        F.count("*").alias("n")
    )
    from social_warner_spark.caching import register_persisted

    cell = register_persisted(cell.persist())
    tot = cell.agg(
        F.sum("n").alias("nn"),
        F.countDistinct("lang").alias("nl"),
        F.countDistinct("source").alias("ns"),
    ).localCheckpoint(eager=True)
    # start from observed shares; targets are uniform margins
    w = cell.crossJoin(F.broadcast(tot)).select(
        "lang",
        "source",
        (F.col("n") / F.col("nn")).alias("w"),
        "nl",
        "ns",
    )
    for _ in range(IPF_ROUNDS):
        rm = w.groupBy("lang").agg(F.sum("w").alias("rw"))
        w = (
            w.join(F.broadcast(rm), "lang")
            .select(
                "lang",
                "source",
                F.round(
                    F.col("w") / F.col("rw") / F.col("nl"), 6
                ).alias("w"),
                "nl",
                "ns",
            )
        )
        cm = w.groupBy("source").agg(F.sum("w").alias("cw"))
        w = (
            w.join(F.broadcast(cm), "source")
            .select(
                "lang",
                "source",
                F.round(
                    F.col("w") / F.col("cw") / F.col("ns"), 6
                ).alias("w"),
                "nl",
                "ns",
            )
            .localCheckpoint(eager=True)
        )
    rmax = w.groupBy("lang").agg(F.sum("w").alias("rw"))
    cmax = w.groupBy("source").agg(F.sum("w").alias("cw"))
    # margin errors vs uniform targets
    re_ = rmax.crossJoin(F.broadcast(tot)).agg(
        r6(F.max(F.abs(F.col("rw") - 1.0 / F.col("nl")))).alias(
            "max_lang_margin_err"
        )
    )
    ce_ = cmax.crossJoin(F.broadcast(tot)).agg(
        r6(F.max(F.abs(F.col("cw") - 1.0 / F.col("ns")))).alias(
            "max_source_margin_err"
        )
    )
    ssum = w.agg(
        F.count("*").alias("n_cells"), r6(F.sum("w")).alias("total_weight")
    )
    return (
        ssum.crossJoin(F.broadcast(re_))
        .crossJoin(F.broadcast(ce_))
        .select(
            "n_cells",
            "total_weight",
            "max_lang_margin_err",
            "max_source_margin_err",
        )
    )


# ---------------------------------------------------------------------------
# Oracles
# ---------------------------------------------------------------------------


def _ipf_oracle() -> str:
    parts = [
        """cell AS MATERIALIZED (
            SELECT lang, source, COUNT(*) AS n
            FROM documents GROUP BY 1, 2
        ), tot AS (
            SELECT SUM(n) AS nn,
                   COUNT(DISTINCT lang) AS nl,
                   COUNT(DISTINCT source) AS ns
            FROM cell
        ), w0 AS (
            SELECT lang, source, n * 1.0 / tot.nn AS w, tot.nl, tot.ns
            FROM cell CROSS JOIN tot
        )"""
    ]
    prev = "w0"
    for r in range(1, IPF_ROUNDS + 1):
        parts.append(
            f"""r{r} AS MATERIALIZED (
            SELECT {prev}.lang, {prev}.source,
                   ROUND({prev}.w / rm.rw / {prev}.nl, 6) AS w,
                   {prev}.nl, {prev}.ns
            FROM {prev} JOIN (
                SELECT lang, SUM(w) AS rw FROM {prev} GROUP BY lang
            ) rm USING (lang)
        ), w{r} AS MATERIALIZED (
            SELECT r{r}.lang, r{r}.source,
                   ROUND(r{r}.w / cm.cw / r{r}.ns, 6) AS w,
                   r{r}.nl, r{r}.ns
            FROM r{r} JOIN (
                SELECT source, SUM(w) AS cw FROM r{r} GROUP BY source
            ) cm USING (source)
        )"""
        )
        prev = f"w{r}"
    return (
        "WITH "
        + ", ".join(parts)
        + f"""
        , rmax AS (
            SELECT lang, SUM(w) AS rw FROM {prev} GROUP BY lang
        ), cmax AS (
            SELECT source, SUM(w) AS cw FROM {prev} GROUP BY source
        )
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM {prev}) AS n_cells,
               (SELECT ROUND(SUM(w), 6) FROM {prev}) AS total_weight,
               (SELECT ROUND(MAX(ABS(rw - 1.0 / tot.nl)), 6)
                FROM rmax CROSS JOIN tot) AS max_lang_margin_err,
               (SELECT ROUND(MAX(ABS(cw - 1.0 / tot.ns)), 6)
                FROM cmax CROSS JOIN tot) AS max_source_margin_err
    """
    )


ORACLES = {
    "x372_lww_vs_arrival": f"""
        WITH o AS (
            SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS price,
                   o_orderdate
            FROM orders
        ), ledger AS (
            SELECT o_orderkey, price, o_orderdate AS tx_date, 0 AS ver
            FROM o
            UNION ALL
            SELECT o_orderkey, ROUND(price * {BT_UPLIFT} + 1e-9, 2),
                   CAST(o_orderdate + INTERVAL {BT_LAG_DAYS} DAY
                        AS DATE), 1
            FROM o WHERE o_orderkey % {BT_MOD} = 0
        ), staged AS MATERIALIZED (
            SELECT o_orderkey, price, tx_date,
                   CAST(('0x' || substr(md5('arr|' ||
                        CAST(o_orderkey AS VARCHAR) || '#' ||
                        CAST(ver AS VARCHAR)), 1, 8)) AS UBIGINT)
                       AS arr
            FROM ledger
        ), lww AS (
            SELECT o_orderkey, MAX_BY(price, tx_date) AS p_lww
            FROM staged GROUP BY 1
        ), arrv AS (
            SELECT o_orderkey, MAX_BY(price, arr) AS p_arr
            FROM staged GROUP BY 1
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CASE WHEN c_lww != c_arr THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_disagree,
               CAST(SUM(c_lww) AS DOUBLE) / 100.0 AS rev_lww,
               CAST(SUM(c_arr) AS DOUBLE) / 100.0 AS rev_arrival,
               CAST(SUM(c_lww - c_arr) AS DOUBLE) / 100.0 AS silent_delta
        FROM (
            SELECT o_orderkey,
                   CAST(ROUND(p_lww * 100, 0) AS BIGINT) AS c_lww,
                   CAST(ROUND(p_arr * 100, 0) AS BIGINT) AS c_arr
            FROM lww JOIN arrv USING (o_orderkey)
        )
    """,
    "x373_ratio_bridge": """
        WITH split AS (
            SELECT MIN(ts) + to_microseconds(
                       CAST(date_diff('microsecond', MIN(ts), MAX(ts)) // 2
                            AS BIGINT)) AS cut
            FROM events
        ), per AS (
            SELECT ts >= cut AS h2, COUNT(*) AS b,
                   SUM(CASE WHEN event_type = 'purchase'
                            THEN 1 ELSE 0 END) AS a
            FROM events CROSS JOIN split
            GROUP BY 1
        ), j AS (
            SELECT p0.a AS a0, p0.b AS b0, p1.a AS a1, p1.b AS b1
            FROM (SELECT * FROM per WHERE NOT h2) p0
            CROSS JOIN (SELECT * FROM per WHERE h2) p1
        )
        SELECT ROUND(a0 * 1.0 / b0, 6) AS rate_h1,
               ROUND(a1 * 1.0 / b1, 6) AS rate_h2,
               ROUND(a1 * 1.0 / b1 - a0 * 1.0 / b0, 6) AS delta,
               ROUND((a1 - a0) * 1.0 / b0, 6) AS numerator_effect,
               ROUND(-(a0 * 1.0 / b0) * (b1 - b0) / b0, 6)
                   AS denominator_effect,
               ROUND((a1 * 1.0 / b1 - a0 * 1.0 / b0)
                     - (a1 - a0) * 1.0 / b0
                     + (a0 * 1.0 / b0) * (b1 - b0) / b0, 6)
                   AS remainder
        FROM j
    """,
    "x374_birthday_audit": f"""
        WITH hist AS (
            SELECT CAST(('0x' || substr(md5(text), 1, {BD_BITS // 4}))
                        AS UBIGINT) AS h,
                   COUNT(*) AS c
            FROM documents GROUP BY 1
        )
        SELECT CAST(SUM(c) AS BIGINT) AS n_docs,
               CAST(COUNT(*) AS BIGINT) AS n_distinct_hashes,
               CAST(SUM(c * (c - 1) / 2) AS BIGINT)
                   AS observed_collision_pairs,
               ROUND(SUM(c) * (SUM(c) - 1) / 2.0 / {float(2 ** BD_BITS)},
                     6) AS expected_collision_pairs,
               ROUND(SUM(c * (c - 1) / 2)
                     / (SUM(c) * (SUM(c) - 1) / 2.0
                        / {float(2 ** BD_BITS)}), 6) AS ratio
        FROM hist
    """,
    "x375_variance_methods": f"""
        WITH split AS (
            SELECT MIN(ts) + to_microseconds(
                       CAST(date_diff('microsecond', MIN(ts), MAX(ts)) // 2
                            AS BIGINT)) AS cut
            FROM events
        ), users AS MATERIALIZED (
            SELECT user_id,
                   AVG(CASE WHEN ts >= cut THEN value END) AS y,
                   AVG(CASE WHEN ts < cut THEN value END) AS x,
                   COUNT(*) AS cnt
            FROM events CROSS JOIN split
            GROUP BY user_id
            HAVING y IS NOT NULL AND x IS NOT NULL
        ), base AS (
            SELECT COUNT(*) AS n, var_samp(y) AS vy,
                   covar_samp(x, y) AS cxy, var_samp(x) AS vx
            FROM users
        ), theta AS MATERIALIZED (
            SELECT n, vy, ROUND(cxy / vx, 6) AS theta FROM base
        ), cuped AS (
            SELECT MAX(theta.n) AS n,
                   var_samp(u.y - theta.theta * u.x) AS vc
            FROM users u CROSS JOIN theta
        ), strat AS (
            SELECT s, COUNT(*) AS ns, var_samp(y) AS vs
            FROM (SELECT y, NTILE({VM_STRATA}) OVER (
                      ORDER BY cnt DESC, user_id) AS s FROM users)
            GROUP BY s
        ), stot AS (
            SELECT SUM(ns) AS n, SUM(ns * vs) AS wv FROM strat
        ), raw AS (
            SELECT ROUND(sqrt(vy / n), 6) AS se0 FROM base
        ), rows_ AS (
            SELECT 'raw' AS method, CAST(n AS BIGINT) AS n,
                   ROUND(sqrt(vy / n), 6) AS se
            FROM base
            UNION ALL
            SELECT 'cuped', CAST(n AS BIGINT), ROUND(sqrt(vc / n), 6)
            FROM cuped
            UNION ALL
            SELECT 'post_stratified', CAST(n AS BIGINT),
                   ROUND(sqrt(wv / n / n), 6)
            FROM stot
        )
        SELECT method, n, se,
               ROUND(1.0 - se / raw.se0, 6) AS se_reduction_vs_raw
        FROM rows_ CROSS JOIN raw
        ORDER BY method
    """,
    "x376_raking": _ipf_oracle(),
}

QUERIES = {
    "x372_lww_vs_arrival": x372_lww_vs_arrival,
    "x373_ratio_bridge": x373_ratio_bridge,
    "x374_birthday_audit": x374_birthday_audit,
    "x375_variance_methods": x375_variance_methods,
    "x376_raking": x376_raking,
}
