"""x19 series — round-3 widening batch (x277–x281): ROUGE n-gram pair
scoring, two-group survival comparison (log-rank), exact Shapley-value
attribution, decile gains/lift model evaluation, and ordered-trend
testing (Cochran–Armitage).

Like every other series, each query is a pure DataFrame program over
the driver's parquet tables with an independently-written DuckDB
oracle.  x278/x279 deliberately reuse upstream definitions from
sibling queries (x183's duration/censoring, x270's journey touches) so
the new statistics audit the SAME objects those queries report.

Literature grounding (public):
- Lin, "ROUGE: a package for automatic evaluation of summaries"
  (ACL WAS 2004) — clipped n-gram P/R/F.
- Mantel, "Evaluation of survival data and two new rank order
  statistics" (Cancer Chemother. Rep. 1966) — the log-rank test.
- Shapley (1953); marketing form per Zhao, Mahboobi & Bagheri,
  "Shapley value methods for attribution modeling" (arXiv 1804.05327).
- Cochran (Biometrics 1954) / Armitage (Biometrics 1955) — trend in
  proportions.
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from pyspark.sql import Window

from social_warner_spark.functions.text import md5_int, shingles_from_tokens, tokens
from social_warner_spark.queries.common import T, r6

#: x277 — pair source: exact shingle-Jaccard pairs at the x27
#: clustering threshold (bounded, driver-verified upstream).
ROUGE_THRESHOLD = 0.5
#: x278 — the two compared cohorts: a deterministic md5 hash-split of
#: users (the A/B-assignment shape), so both arms are populated at
#: every scale; with no real treatment this is the null ("A/A")
#: comparison an experimentation stack runs to validate its harness.
LR_G1 = "arm_a"
LR_G2 = "arm_b"
#: x279 — channels in bit order (bit i = MKV-style channel i) and the
#: conversion event; journeys match x270 exactly.
SHAP_CHANNELS = ("click", "error", "signup", "view")
SHAP_CONV = "purchase"
#: x280 — decile count for the gains table; the score is n_chars, the
#: positive label lang='en' (the x192-family proxy classifier).
GAINS_BUCKETS = 10
GAINS_LANG = "en"
#: x281 — ordered exposure buckets and the heavy-buyer outcome
#: threshold (>= this many purchases; a plain "ever purchased" outcome
#: saturates at 1.0 on the driver data and zeroes the variance).
CA_BUCKETS = 5
CA_MIN_PURCHASES = 15


def x277_rouge_pairs(spark, sf_dir):
    """ROUGE-1 / ROUGE-2 for every exact-Jaccard near-dup pair (the
    x27 threshold): clipped n-gram overlap sum min(count_a, count_b)
    with recall against doc A, precision against doc B, and F1 — the
    summarization-eval lens on "how much do these near-dups actually
    share", which shingle Jaccard (set-based) understates for
    repetitive text.

    Scale: the pair relation is the bounded dedup output; only docs
    appearing in a pair are gram-counted (semi-join pushdown), and the
    overlap join runs on (pair-doc, gram) keys."""
    from social_warner_spark.operators.dedup import exact_jaccard_pairs
    from social_warner_spark.caching import register_persisted

    d = T(spark, sf_dir, "documents")
    # bounded dedup output feeding five consumers — eagerly cut the
    # whole shingle-join lineage out of the downstream plan.
    pairs = exact_jaccard_pairs(d, ROUGE_THRESHOLD).select(
        F.col("doc_id_a").alias("a"),
        F.col("doc_id_b").alias("b"),
        "jaccard",
    ).localCheckpoint(eager=True)
    need = (
        pairs.select(F.col("a").alias("doc_id"))
        .union(pairs.select(F.col("b").alias("doc_id")))
        .distinct()
    )
    tk = register_persisted(
        d.join(need, "doc_id", "left_semi")
        .select("doc_id", tokens(F.col("text")).alias("t"))
        .persist()
    )

    def gram_counts(n):
        g = register_persisted(
            tk.select(
                "doc_id",
                F.explode(
                    F.col("t") if n == 1 else shingles_from_tokens(F.col("t"), n)
                ).alias("g"),
            )
            .groupBy("doc_id", "g")
            .agg(F.count("*").alias("c"))
            .persist()
        )
        sz = g.groupBy("doc_id").agg(F.sum("c").alias("n"))
        return g, sz

    out = pairs
    for n, tag in ((1, "rouge1"), (2, "rouge2")):
        g, sz = gram_counts(n)
        ca = g.select(F.col("doc_id").alias("a"), "g", F.col("c").alias("ca"))
        cb = g.select(F.col("doc_id").alias("b"), "g", F.col("c").alias("cb"))
        ov = (
            pairs.join(ca, "a")
            .join(cb, ["b", "g"])
            .groupBy("a", "b")
            .agg(F.sum(F.least("ca", "cb")).alias("ov"))
        )
        na = sz.select(F.col("doc_id").alias("a"), F.col("n").alias("na"))
        nb = sz.select(F.col("doc_id").alias("b"), F.col("n").alias("nb"))
        j = (
            out.join(ov, ["a", "b"], "left")
            .join(na, "a")
            .join(nb, "b")
            .withColumn("_ov", F.coalesce(F.col("ov"), F.lit(0)))
        )
        p = F.col("_ov") / F.col("nb")
        r = F.col("_ov") / F.col("na")
        out = j.select(
            *out.columns,
            r6(p).alias(f"{tag}_p"),
            r6(r).alias(f"{tag}_r"),
            F.when(
                (p + r) > 0, r6(2 * p * r / (p + r))
            )
            .otherwise(F.lit(0.0))
            .alias(f"{tag}_f"),
        )
    return out.orderBy("a", "b")


def x278_logrank_test(spark, sf_dir):
    """Log-rank (Mantel–Cox) test between two md5 hash-split user
    cohorts on view-to-first-purchase time, with x183's exact
    duration/censoring semantics (integer microseconds, censored at
    the last observed event): O-E and the hypergeometric variance
    accumulate over the shared event-time grid; chi2 = (O1-E1)^2 / V.
    With a random split this is the A/A harness check — the two-sample
    companion of x183's single-curve estimate, wired so a real
    treatment flag can replace the hash.

    Scale: one user-keyed aggregation chain builds subjects;
    everything after lives on the |distinct durations| x 2 grid with
    per-group cumulative windows."""
    e = T(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    arm = F.when(
        md5_int(F.concat(F.lit("lr|"), F.col("user_id").cast("string")), 8) % 2 == 0,
        F.lit(LR_G1),
    ).otherwise(F.lit(LR_G2))
    first = (
        e.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
        .select("user_id", arm.alias("grp"), "t0")
    )
    conv = (
        e.where(F.col("event_type") == SHAP_CONV)
        .join(first, "user_id")
        .where(F.col("ts") > F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("tc"))
    )
    last = e.groupBy("user_id").agg(F.max("ts").alias("tl"))
    subj = (
        first.join(conv, "user_id", "left")
        .join(last, "user_id")
        .select(
            "grp",
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
    from social_warner_spark.caching import register_persisted

    subj = register_persisted(subj.persist())
    cells = subj.groupBy("grp", "dur").agg(
        F.sum("ev").alias("d"), F.count("*").alias("c")
    )
    durs = cells.select("dur").distinct()
    grps = subj.select("grp").distinct()
    grid = (
        durs.crossJoin(grps)
        .join(cells, ["grp", "dur"], "left")
        .select(
            "grp",
            "dur",
            F.coalesce(F.col("d"), F.lit(0)).alias("d"),
            F.coalesce(F.col("c"), F.lit(0)).alias("c"),
        )
    )
    ng = subj.groupBy("grp").agg(F.count("*").alias("ntot"))
    wg = (
        Window.partitionBy("grp")
        .orderBy("dur")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    risk = grid.join(ng, "grp").select(
        "grp",
        "dur",
        "d",
        (F.col("ntot") - F.coalesce(F.sum("c").over(wg), F.lit(0))).alias(
            "nr"
        ),
    )
    is1 = F.col("grp") == LR_G1
    t = risk.groupBy("dur").agg(
        F.sum(F.when(is1, F.col("d"))).alias("d1"),
        F.sum(F.when(~is1, F.col("d"))).alias("d2"),
        F.sum(F.when(is1, F.col("nr"))).alias("n1"),
        F.sum(F.when(~is1, F.col("nr"))).alias("n2"),
    )
    dt = F.col("d1") + F.col("d2")
    nt = F.col("n1") + F.col("n2")
    ev = t.where(dt > 0).select(
        F.col("d1").alias("d1"),
        dt.alias("dt"),
        F.col("n1").alias("n1"),
        nt.alias("nt"),
    )
    stats = ev.agg(
        F.sum("d1").alias("o1"),
        F.sum(F.col("dt") * F.col("n1") / F.col("nt")).alias("e1"),
        F.sum(
            F.when(
                F.col("nt") > 1,
                F.col("dt")
                * (F.col("n1") / F.col("nt"))
                * (1 - F.col("n1") / F.col("nt"))
                * (F.col("nt") - F.col("dt"))
                / (F.col("nt") - 1),
            ).otherwise(F.lit(0.0))
        ).alias("v"),
    )
    counts = subj.groupBy().pivot("grp", [LR_G1, LR_G2]).count()
    return (
        stats.crossJoin(F.broadcast(counts))
        .select(
            F.col(LR_G1).alias("n_g1"),
            F.col(LR_G2).alias("n_g2"),
            F.col("o1").cast("long").alias("observed_g1"),
            r6(F.col("e1")).alias("expected_g1"),
            r6(F.col("o1") - F.col("e1")).alias("o_minus_e"),
            r6(F.col("v")).alias("var_s"),
            r6(
                (F.col("o1") - F.col("e1"))
                * (F.col("o1") - F.col("e1"))
                / F.col("v")
            ).alias("chi2"),
        )
    )


def x279_shapley_attribution(spark, sf_dir):
    """Exact Shapley-value attribution over touched-channel SETS: each
    user's pre-conversion journey (x270's definition) collapses to the
    set of channels touched; the characteristic v(S) is the observed
    conversion rate of users with exactly that set, and each channel's
    Shapley value phi_c = sum over coalitions S not containing c of
    |S|!(k-1-|S|)!/k! * (v(S+c) - v(S)) — the order-free counterpart
    to x270's chain-based removal effects (with k=4 the 16-coalition
    sum is exact, no sampling).

    Scale: one shuffle builds per-user channel sets (bitmask sum over
    distinct channels); everything after runs on the 16-row coalition
    relation crossed with a 64-row weight table."""
    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id", "event_type", F.row_number().over(w).alias("rn")
    )
    prn = (
        seq.where(F.col("event_type") == SHAP_CONV)
        .groupBy("user_id")
        .agg(F.min("rn").alias("prn"))
    )
    chans = F.array(*[F.lit(c) for c in SHAP_CHANNELS])
    bit = F.lit(None)
    for i, c in enumerate(SHAP_CHANNELS):
        bit = F.when(F.col("event_type") == c, F.lit(1 << i)).otherwise(bit)
    touches = (
        seq.join(prn, "user_id", "left")
        .where(
            (F.col("prn").isNull() | (F.col("rn") < F.col("prn")))
            & (F.col("event_type") != SHAP_CONV)
        )
        .select("user_id", bit.alias("bit"))
        .distinct()
    )
    users = (
        ev.select("user_id")
        .distinct()
        .join(prn, "user_id", "left")
        .join(
            touches.groupBy("user_id").agg(F.sum("bit").alias("mask")),
            "user_id",
            "left",
        )
        .select(
            F.coalesce(F.col("mask"), F.lit(0)).alias("mask"),
            F.col("prn").isNotNull().cast("double").alias("y"),
        )
    )
    vrel = users.groupBy("mask").agg(
        F.round(F.avg("y"), 6).alias("v"), F.count("*").alias("n_users")
    )
    k = len(SHAP_CHANNELS)
    wt = [
        round(math.factorial(s) * math.factorial(k - 1 - s) / math.factorial(k), 6)
        for s in range(k)
    ]
    coal = (
        spark.range(0, 2**k)
        .select(F.col("id").cast("int").alias("mask"))
        .crossJoin(
            spark.range(0, k).select(F.col("id").cast("int").alias("ci"))
        )
        .where(F.col("mask").bitwiseAND(F.expr("shiftleft(1, ci)")) == 0)
        .select(
            "ci",
            "mask",
            (F.col("mask") + F.expr("shiftleft(1, ci)")).alias("mask1"),
            F.element_at(
                F.array(*[F.lit(x) for x in wt]),
                F.bit_count(F.col("mask")).cast("int") + 1,
            ).alias("wgt"),
        )
    )
    v0 = vrel.select(F.col("mask"), F.col("v").alias("v0"))
    v1 = vrel.select(F.col("mask").alias("mask1"), F.col("v").alias("v1"))
    phi = (
        coal.join(F.broadcast(v0), "mask", "left")
        .join(F.broadcast(v1), "mask1", "left")
        .groupBy("ci")
        .agg(
            F.round(
                F.sum(
                    F.col("wgt")
                    * (
                        F.coalesce(F.col("v1"), F.lit(0.0))
                        - F.coalesce(F.col("v0"), F.lit(0.0))
                    )
                ),
                6,
            ).alias("shapley")
        )
    )
    tot = phi.agg(F.sum("shapley").alias("ts"))
    return (
        phi.crossJoin(F.broadcast(tot))
        .select(
            F.element_at(chans, F.col("ci") + 1).alias("channel"),
            "shapley",
            F.when(F.col("ts") != 0, r6(F.col("shapley") / F.col("ts")))
            .otherwise(F.lit(0.0))
            .alias("share"),
        )
        .orderBy("channel")
    )


def x280_gains_table(spark, sf_dir):
    """Decile gains/lift table for the n_chars→(lang='en') proxy
    scorer: documents ranked by score into 10 deciles (ntile over the
    deterministic (score desc, doc_id) order), each reporting positive
    rate, cumulative gain (share of all positives captured), lift vs
    the base rate, and the KS separation (cum positive share − cum
    negative share) — the model-triage table that x184's single-number
    AUC summarizes away.

    Scale (r05): the decile assignment uses the distributed exact ntile
    (operators/ordered.py — range partitions + broadcast prefix
    offsets + closed-form bucket), NOT a single-partition sort; every
    statistic after is a 10-row window."""
    from social_warner_spark.operators.ordered import with_global_ntile

    d = T(spark, sf_dir, "documents").select(
        F.col("n_chars").alias("score"),
        (F.col("lang") == GAINS_LANG).cast("long").alias("y"),
        "doc_id",
    )
    tiled = with_global_ntile(
        d, [F.desc("score"), F.asc("doc_id")], GAINS_BUCKETS, "decile"
    )
    per = (
        tiled.select("decile", "y")
        .groupBy("decile")
        .agg(F.count("*").alias("n_docs"), F.sum("y").alias("n_pos"))
    )
    tot = per.agg(
        F.sum("n_docs").alias("nn"), F.sum("n_pos").alias("np")
    )
    cw = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n_docs",
            "n_pos",
            r6(F.col("n_pos") / F.col("n_docs")).alias("pos_rate"),
            F.sum("n_pos").over(cw).alias("cum_pos"),
            r6(F.sum("n_pos").over(cw) / F.col("np")).alias("cum_gain"),
            r6(
                (F.col("n_pos") / F.col("n_docs"))
                / (F.col("np") / F.col("nn"))
            ).alias("lift"),
            r6(
                F.sum("n_pos").over(cw) / F.col("np")
                - (F.sum("n_docs").over(cw) - F.sum("n_pos").over(cw))
                / (F.col("nn") - F.col("np"))
            ).alias("ks"),
        )
        .orderBy("decile")
    )


def x281_cochran_armitage(spark, sf_dir):
    """Cochran–Armitage trend test: users are ranked into 5 ordered
    exposure buckets by total event count (ntile over the
    deterministic (count desc, user_id) order); the test asks whether
    heavy-buyer status (>= 15 purchases) RISES monotonically with
    exposure —
    T = sum s_i (r_i - n_i R/N), Var = R/N(1-R/N)(sum s_i^2 n_i -
    (sum s_i n_i)^2/N), Z = T/sqrt(Var) — the dose-response sharpening
    of a flat chi-square independence test.

    Scale: one user-keyed aggregation; buckets from the distributed
    exact ntile (r05, operators/ordered.py — no single-partition sort
    of |users|); the trend algebra runs on the 5-row bucket relation."""
    from social_warner_spark.operators.ordered import with_global_ntile

    ev = T(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.count("*").alias("cnt"),
        (
            F.sum((F.col("event_type") == SHAP_CONV).cast("long"))
            >= CA_MIN_PURCHASES
        )
        .cast("long")
        .alias("y"),
    )
    per = (
        with_global_ntile(
            users, [F.desc("cnt"), F.asc("user_id")], CA_BUCKETS, "s"
        )
        .select("s", "y")
        .groupBy("s")
        .agg(F.count("*").alias("n"), F.sum("y").alias("r"))
    )
    tot = per.agg(F.sum("n").alias("nn"), F.sum("r").alias("rr"))
    j = per.crossJoin(F.broadcast(tot))
    t = F.sum(
        F.col("s") * (F.col("r") - F.col("n") * F.col("rr") / F.col("nn"))
    )
    pbar = F.max("rr") / F.max("nn")
    varb = (
        pbar
        * (1 - pbar)
        * (
            F.sum(F.col("s") * F.col("s") * F.col("n"))
            - F.sum(F.col("s") * F.col("n"))
            * F.sum(F.col("s") * F.col("n"))
            / F.max("nn")
        )
    )
    return j.agg(
        F.max("nn").alias("n_users"),
        F.max("rr").alias("n_converted"),
        r6(t).alias("t_stat"),
        r6(varb).alias("var_t"),
        F.when(varb > 0, r6(t / F.sqrt(varb))).alias("z"),
    )


# ---------------------------------------------------------------------------
# Oracles
# ---------------------------------------------------------------------------

#: l2's pair CTE at the x27 threshold, with the jaccard value kept.
_PAIRS_SQL = f"""toks AS (
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
            SELECT a, b, ROUND(c * 1.0 / (sa.sz + sb.sz - c), 6) AS jaccard
            FROM shared
            JOIN sizes sa ON sa.doc_id = a
            JOIN sizes sb ON sb.doc_id = b
            WHERE ROUND(c * 1.0 / (sa.sz + sb.sz - c), 6)
                  >= {ROUGE_THRESHOLD}
        )"""


def _rouge_gram_sql(n: int, tag: str) -> str:
    if n == 1:
        gram = "t[i]"
        rng = "range(1, len(t) + 1)"
    else:
        gram = "t[i] || ' ' || t[i+1]"
        rng = "range(1, len(t))"
    return f"""g{tag} AS (
            SELECT doc_id, {gram} AS g, COUNT(*) AS c
            FROM (SELECT doc_id, string_split(trim(text), ' ') AS t
                  FROM documents
                  WHERE doc_id IN (SELECT a FROM pairs
                                   UNION SELECT b FROM pairs)),
                 UNNEST({rng}) AS u(i)
            GROUP BY doc_id, g
        ), sz{tag} AS (
            SELECT doc_id, SUM(c) AS n FROM g{tag} GROUP BY doc_id
        ), ov{tag} AS (
            SELECT p.a, p.b, SUM(LEAST(ca.c, cb.c)) AS ov
            FROM pairs p
            JOIN g{tag} ca ON ca.doc_id = p.a
            JOIN g{tag} cb ON cb.doc_id = p.b AND cb.g = ca.g
            GROUP BY p.a, p.b
        ), m{tag} AS (
            SELECT p.a, p.b,
                   COALESCE(o.ov, 0) * 1.0 / nb.n AS p_,
                   COALESCE(o.ov, 0) * 1.0 / na.n AS r_
            FROM pairs p
            LEFT JOIN ov{tag} o ON o.a = p.a AND o.b = p.b
            JOIN sz{tag} na ON na.doc_id = p.a
            JOIN sz{tag} nb ON nb.doc_id = p.b
        )"""


_SHAP_K = len(SHAP_CHANNELS)
_SHAP_WT = ", ".join(
    str(
        round(
            math.factorial(s)
            * math.factorial(_SHAP_K - 1 - s)
            / math.factorial(_SHAP_K),
            6,
        )
    )
    for s in range(_SHAP_K)
)
_SHAP_CHAN_CASE = " ".join(
    f"WHEN ci = {i} THEN '{c}'" for i, c in enumerate(SHAP_CHANNELS)
)
_SHAP_BIT_CASE = " ".join(
    f"WHEN event_type = '{c}' THEN {1 << i}"
    for i, c in enumerate(SHAP_CHANNELS)
)

ORACLES = {
    "x277_rouge_pairs": f"""
        WITH {_PAIRS_SQL}, {_rouge_gram_sql(1, "1")},
             {_rouge_gram_sql(2, "2")}
        SELECT p.a, p.b, p.jaccard,
               ROUND(m1.p_, 6) AS rouge1_p, ROUND(m1.r_, 6) AS rouge1_r,
               CASE WHEN m1.p_ + m1.r_ > 0
                    THEN ROUND(2 * m1.p_ * m1.r_ / (m1.p_ + m1.r_), 6)
                    ELSE 0.0 END AS rouge1_f,
               ROUND(m2.p_, 6) AS rouge2_p, ROUND(m2.r_, 6) AS rouge2_r,
               CASE WHEN m2.p_ + m2.r_ > 0
                    THEN ROUND(2 * m2.p_ * m2.r_ / (m2.p_ + m2.r_), 6)
                    ELSE 0.0 END AS rouge2_f
        FROM pairs p
        JOIN m1 ON m1.a = p.a AND m1.b = p.b
        JOIN m2 ON m2.a = p.a AND m2.b = p.b
        ORDER BY p.a, p.b
    """,
    "x278_logrank_test": f"""
        WITH firsts AS (
            SELECT user_id,
                   CASE WHEN CAST(('0x' || substr(md5('lr|' ||
                                  CAST(user_id AS VARCHAR)), 1, 8))
                             AS UBIGINT) % 2 = 0
                        THEN '{LR_G1}' ELSE '{LR_G2}' END AS grp,
                   MIN(ts) AS t0
            FROM events WHERE event_type = 'view'
            GROUP BY user_id
        ), conv AS (
            SELECT e.user_id, MIN(e.ts) AS tc
            FROM events e JOIN firsts f USING (user_id)
            WHERE e.event_type = '{SHAP_CONV}' AND e.ts > f.t0
            GROUP BY e.user_id
        ), lastt AS (
            SELECT user_id, MAX(ts) AS tl FROM events GROUP BY 1
        ), subj AS (
            SELECT f.grp,
                   CASE WHEN c.tc IS NOT NULL
                        THEN datediff('microsecond', f.t0, c.tc)
                        ELSE datediff('microsecond', f.t0, l.tl) END AS dur,
                   CASE WHEN c.tc IS NOT NULL THEN 1 ELSE 0 END AS ev
            FROM firsts f
            LEFT JOIN conv c USING (user_id)
            JOIN lastt l USING (user_id)
            WHERE (CASE WHEN c.tc IS NOT NULL
                        THEN datediff('microsecond', f.t0, c.tc)
                        ELSE datediff('microsecond', f.t0, l.tl) END) > 0
        ), cells AS (
            SELECT grp, dur, SUM(ev) AS d, COUNT(*) AS c
            FROM subj GROUP BY 1, 2
        ), grid AS (
            SELECT g.grp, t.dur, COALESCE(c.d, 0) AS d, COALESCE(c.c, 0) AS c
            FROM (SELECT DISTINCT dur FROM cells) t
            CROSS JOIN (SELECT DISTINCT grp FROM subj) g
            LEFT JOIN cells c ON c.grp = g.grp AND c.dur = t.dur
        ), ng AS (
            SELECT grp, COUNT(*) AS ntot FROM subj GROUP BY 1
        ), risk AS (
            SELECT gr.grp, gr.dur, gr.d,
                   ng.ntot - COALESCE(SUM(gr.c) OVER (
                       PARTITION BY gr.grp ORDER BY gr.dur
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS nr
            FROM grid gr JOIN ng USING (grp)
        ), t AS (
            SELECT dur,
                   SUM(CASE WHEN grp = '{LR_G1}' THEN d END) AS d1,
                   SUM(d) AS dt,
                   SUM(CASE WHEN grp = '{LR_G1}' THEN nr END) AS n1,
                   SUM(nr) AS nt
            FROM risk GROUP BY dur
        ), stats AS (
            SELECT SUM(d1) AS o1,
                   SUM(dt * n1 * 1.0 / nt) AS e1,
                   SUM(CASE WHEN nt > 1
                            THEN dt * (n1 * 1.0 / nt) * (1 - n1 * 1.0 / nt)
                                 * (nt - dt) / (nt - 1)
                            ELSE 0.0 END) AS v
            FROM t WHERE dt > 0
        ), counts AS (
            SELECT SUM(CASE WHEN grp = '{LR_G1}' THEN 1 ELSE 0 END) AS n_g1,
                   SUM(CASE WHEN grp = '{LR_G2}' THEN 1 ELSE 0 END) AS n_g2
            FROM subj
        )
        SELECT CAST(n_g1 AS BIGINT) AS n_g1, CAST(n_g2 AS BIGINT) AS n_g2,
               CAST(o1 AS BIGINT) AS observed_g1,
               ROUND(e1, 6) AS expected_g1,
               ROUND(o1 - e1, 6) AS o_minus_e,
               ROUND(v, 6) AS var_s,
               ROUND((o1 - e1) * (o1 - e1) / v, 6) AS chi2
        FROM stats CROSS JOIN counts
    """,
    "x279_shapley_attribution": f"""
        WITH seq AS (
            SELECT user_id, event_type,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn
            FROM events
        ), prn AS (
            SELECT user_id, MIN(rn) AS prn FROM seq
            WHERE event_type = '{SHAP_CONV}' GROUP BY 1
        ), touched AS (
            SELECT DISTINCT s.user_id,
                   CASE {_SHAP_BIT_CASE} END AS bit
            FROM seq s LEFT JOIN prn USING (user_id)
            WHERE (prn IS NULL OR s.rn < prn)
              AND s.event_type != '{SHAP_CONV}'
        ), users AS (
            SELECT COALESCE(t.mask, 0) AS mask,
                   CASE WHEN p.prn IS NOT NULL THEN 1.0 ELSE 0.0 END AS y
            FROM (SELECT DISTINCT user_id FROM events) u
            LEFT JOIN (SELECT user_id, SUM(bit) AS mask
                       FROM touched GROUP BY 1) t USING (user_id)
            LEFT JOIN prn p USING (user_id)
        ), vrel AS (
            SELECT mask, ROUND(AVG(y), 6) AS v FROM users GROUP BY mask
        ), coal AS (
            SELECT c.ci, m.mask,
                   m.mask + (1 << c.ci) AS mask1,
                   [{_SHAP_WT}][bit_count(m.mask) + 1] AS wgt
            FROM generate_series(0, {2**_SHAP_K - 1}) AS m(mask)
            CROSS JOIN generate_series(0, {_SHAP_K - 1}) AS c(ci)
            WHERE (m.mask & (1 << c.ci)) = 0
        ), phi AS (
            SELECT ci,
                   ROUND(SUM(wgt * (COALESCE(v1.v, 0.0)
                                    - COALESCE(v0.v, 0.0))), 6) AS shapley
            FROM coal
            LEFT JOIN vrel v0 ON v0.mask = coal.mask
            LEFT JOIN vrel v1 ON v1.mask = coal.mask1
            GROUP BY ci
        )
        SELECT CASE {_SHAP_CHAN_CASE} END AS channel, shapley,
               CASE WHEN SUM(shapley) OVER () != 0
                    THEN ROUND(shapley / SUM(shapley) OVER (), 6)
                    ELSE 0.0 END AS share
        FROM phi
        ORDER BY channel
    """,
    "x280_gains_table": f"""
        WITH d AS (
            SELECT n_chars AS score,
                   CASE WHEN lang = '{GAINS_LANG}' THEN 1 ELSE 0 END AS y,
                   doc_id
            FROM documents
        ), per AS (
            SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(y) AS BIGINT) AS n_pos
            FROM (SELECT y, NTILE({GAINS_BUCKETS}) OVER (
                      ORDER BY score DESC, doc_id) AS decile FROM d)
            GROUP BY decile
        ), tot AS (
            SELECT SUM(n_docs) AS nn, SUM(n_pos) AS np FROM per
        )
        SELECT CAST(decile AS INT) AS decile, n_docs, n_pos,
               ROUND(n_pos * 1.0 / n_docs, 6) AS pos_rate,
               CAST(SUM(n_pos) OVER w AS BIGINT) AS cum_pos,
               ROUND(SUM(n_pos) OVER w * 1.0 / np, 6) AS cum_gain,
               ROUND((n_pos * 1.0 / n_docs) / (np * 1.0 / nn), 6) AS lift,
               ROUND(SUM(n_pos) OVER w * 1.0 / np
                     - (SUM(n_docs) OVER w - SUM(n_pos) OVER w) * 1.0
                       / (nn - np), 6) AS ks
        FROM per CROSS JOIN tot
        WINDOW w AS (ORDER BY decile ROWS UNBOUNDED PRECEDING)
        ORDER BY decile
    """,
    "x281_cochran_armitage": f"""
        WITH users AS (
            SELECT user_id, COUNT(*) AS cnt,
                   CASE WHEN SUM(CASE WHEN event_type = '{SHAP_CONV}'
                                      THEN 1 ELSE 0 END)
                             >= {CA_MIN_PURCHASES} THEN 1 ELSE 0 END AS y
            FROM events GROUP BY 1
        ), per AS (
            SELECT s, COUNT(*) AS n, SUM(y) AS r
            FROM (SELECT y, NTILE({CA_BUCKETS}) OVER (
                      ORDER BY cnt DESC, user_id) AS s FROM users)
            GROUP BY s
        ), tot AS (
            SELECT SUM(n) AS nn, SUM(r) AS rr FROM per
        )
        SELECT CAST(nn AS BIGINT) AS n_users,
               CAST(rr AS BIGINT) AS n_converted,
               ROUND(SUM(s * (r - n * rr * 1.0 / nn)), 6) AS t_stat,
               ROUND((rr * 1.0 / nn) * (1 - rr * 1.0 / nn)
                     * (SUM(s * s * n) - SUM(s * n) * SUM(s * n) * 1.0 / nn),
                     6) AS var_t,
               ROUND(SUM(s * (r - n * rr * 1.0 / nn))
                     / sqrt((rr * 1.0 / nn) * (1 - rr * 1.0 / nn)
                            * (SUM(s * s * n)
                               - SUM(s * n) * SUM(s * n) * 1.0 / nn)), 6)
                   AS z
        FROM per CROSS JOIN tot
        GROUP BY nn, rr
    """,
}

QUERIES = {
    "x277_rouge_pairs": x277_rouge_pairs,
    "x278_logrank_test": x278_logrank_test,
    "x279_shapley_attribution": x279_shapley_attribution,
    "x280_gains_table": x280_gains_table,
    "x281_cochran_armitage": x281_cochran_armitage,
}
