"""x32 series — round-3 widening batch (x342–x346): rank aggregation
across retrieval models, Church–Gale term burstiness, histogram
design comparison, session-gap planning, and partition-key advisory.

Like every other series, each query is a pure DataFrame program over
the driver's parquet tables with an independently-written DuckDB
oracle.  x344/x345/x346 extend the planner/advisor family (x312,
x323, x332, x335): the engine choosing its own physical knobs —
histogram shape, session gap, partition key — from measured data.

Literature grounding (public):
- Borda (1781) / Copeland (1951); IR rank fusion per Aslam & Montague
  (SIGIR 2001).
- Church & Gale, "Poisson mixtures" (Nat. Lang. Eng. 1995) — term
  burstiness vs the Poisson baseline.
- Jagadish et al., "Optimal histograms with quality guarantees"
  (VLDB 1998) — V-optimality framing for bucket design.
- Kleindienst-style sessionization gap studies; the knee-of-the-curve
  gap choice is standard product-analytics practice.
- Spark docs, "Partition tuning" — small-files vs skew trade-off.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from social_warner_spark.queries.common import T, r6
from social_warner_spark.queries.x14_series import (
    DQL_TERMS,
    _dql_staged_sql,
)

#: x342 — rank depth per model and the two QL smoothing strengths
#: (the third ranking; different mu = genuinely different model).
RA_K = 20
RA_MU_A = 200.0
RA_MU_B = 2000.0
#: x343 — frequency pool and report size.
TB_POOL = 50
TB_TOP = 10
#: x344 — bucket count.
HD_BUCKETS = 10
#: x345 — candidate inactivity gaps (minutes).
SG_GAPS = (5, 15, 30, 60)
#: x346 — modulus for the hash-key candidate.
PA_MOD = 32


def _ql_ranked(spark, sf_dir, mu):
    """Dirichlet-QL top-k for the fixed query at smoothing `mu` —
    the x252 scorer, parameterized."""
    from social_warner_spark.functions.text import tokens

    d = T(spark, sf_dir, "documents")
    staged = d.select(
        "doc_id", tokens(F.col("text")).alias("_toks")
    ).select(
        "doc_id",
        F.size("_toks").cast("double").alias("dl"),
        *[
            F.size(F.filter(F.col("_toks"), (lambda tt: (lambda t: t == tt))(term)))
            .cast("double")
            .alias(f"tf_{i}")
            for i, term in enumerate(DQL_TERMS)
        ],
    )
    cstats = staged.agg(
        F.sum("dl").alias("ctot"),
        *[F.sum(f"tf_{i}").alias(f"cf_{i}") for i in range(len(DQL_TERMS))],
    )
    score = None
    for i in range(len(DQL_TERMS)):
        term_lp = F.log(
            (F.col(f"tf_{i}") + mu * F.col(f"cf_{i}") / F.col("ctot"))
            / (F.col("dl") + mu)
        )
        score = term_lp if score is None else score + term_lp
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        staged.crossJoin(F.broadcast(cstats))
        .select("doc_id", F.round(score, 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(RA_K)
        .withColumn("rk", F.row_number().over(w))
        .select("doc_id", "rk")
    )


def x342_rank_aggregation(spark, sf_dir):
    """Borda and Copeland rank aggregation across three retrieval
    models for the fixed query — BM25, Dirichlet-QL (mu=200) and
    Dirichlet-QL (mu=2000) — Borda points (k+1-rank, absent = 0) and
    Copeland pairwise-majority wins over the candidate union; top-10
    by Borda — the voting-theoretic fusion that x85's RRF
    score-mixes (and that exposes when the models actually disagree).

    Scale: the three rankings are k-row relations; the Copeland
    tournament is (union-size)^2 bounded."""
    from social_warner_spark.queries.x21_series import _bm25_ranked

    bm = _bm25_ranked(spark, sf_dir, RA_K).select(
        "doc_id", F.col("rk").alias("r1")
    )
    qa = _ql_ranked(spark, sf_dir, RA_MU_A).select(
        "doc_id", F.col("rk").alias("r2")
    )
    qb = _ql_ranked(spark, sf_dir, RA_MU_B).select(
        "doc_id", F.col("rk").alias("r3")
    )
    cand = (
        bm.join(qa, "doc_id", "full")
        .join(qb, "doc_id", "full")
        .select(
            "doc_id",
            F.coalesce("r1", F.lit(RA_K + 1)).alias("r1"),
            F.coalesce("r2", F.lit(RA_K + 1)).alias("r2"),
            F.coalesce("r3", F.lit(RA_K + 1)).alias("r3"),
        )
        .localCheckpoint(eager=True)
    )
    borda = cand.select(
        "doc_id",
        "r1",
        "r2",
        "r3",
        (
            F.greatest(F.lit(0), F.lit(RA_K + 1) - F.col("r1"))
            + F.greatest(F.lit(0), F.lit(RA_K + 1) - F.col("r2"))
            + F.greatest(F.lit(0), F.lit(RA_K + 1) - F.col("r3"))
        ).alias("borda"),
    )
    a, b = cand.alias("a"), cand.alias("b")
    wins = (
        a.join(b, F.col("a.doc_id") != F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_id"),
            (
                (
                    (F.col("a.r1") < F.col("b.r1")).cast("int")
                    + (F.col("a.r2") < F.col("b.r2")).cast("int")
                    + (F.col("a.r3") < F.col("b.r3")).cast("int")
                )
                >= 2
            ).cast("long").alias("w"),
        )
        .groupBy("doc_id")
        .agg(F.sum("w").alias("copeland"))
    )
    w = Window.orderBy(F.desc("borda"), F.asc("doc_id"))
    return (
        borda.join(wins, "doc_id")
        .orderBy(F.desc("borda"), F.asc("doc_id"))
        .limit(TB_TOP)
        .withColumn("rk", F.row_number().over(w))
        .select("rk", "doc_id", "borda", "copeland", "r1", "r2", "r3")
    )


def x343_term_burstiness(spark, sf_dir):
    """Church–Gale term burstiness for the 50 most frequent tokens:
    observed document frequency vs the Poisson expectation
    N (1 - exp(-cf/N)); burstiness = expected/observed df (> 1 means
    the term clumps into few documents) — the statistic that separates
    content words from function words and flags boilerplate carriers
    the x25 per-doc metrics cannot see.

    Scale: one token count (cf), one document-distinct count (df),
    both map-side-combined; the report is pool-sized."""
    from social_warner_spark.functions.text import tokens

    d = T(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    from social_warner_spark.caching import register_persisted

    tok = register_persisted(tok.persist())
    stats = tok.groupBy("tok").agg(
        F.count("*").alias("cf"),
        F.countDistinct("doc_id").alias("df"),
    )
    n = d.agg(F.count("*").alias("nd"))
    pool = (
        stats.orderBy(F.desc("cf"), F.asc("tok"))
        .limit(TB_POOL)
        .crossJoin(F.broadcast(n))
    )
    edf = F.col("nd") * (1.0 - F.exp(-F.col("cf") / F.col("nd")))
    scored = pool.select(
        "tok",
        "cf",
        "df",
        r6(edf).alias("expected_df"),
        r6(edf / F.col("df")).alias("burstiness"),
    )
    w = Window.orderBy(F.desc("burstiness"), F.asc("tok"))
    return (
        scored.orderBy(F.desc("burstiness"), F.asc("tok"))
        .limit(TB_TOP)
        .withColumn("rk", F.row_number().over(w))
    )


def x344_histogram_design(spark, sf_dir):
    """Histogram design comparison for the event value: 10-bucket
    EQUI-WIDTH vs EQUI-DEPTH, each scored by its representation SSE
    (every value replaced by its bucket mean — the V-optimality
    objective) and its occupancy skew — the optimizer-statistics
    trade-off measured instead of assumed.

    Scale: one min/max row, one percentile row (both broadcast), one
    binned aggregation per scheme; SSE from per-bucket moment sums."""
    # c = exact integer cents: at sf0.1 the SSE reaches ~2.6e7 where the
    # cross-engine float moment sums flip the 6dp grid (sf0.1 strict
    # mirror find); integer moments are exact in both engines.
    ev = T(spark, sf_dir, "events").select(
        F.col("value").alias("v"),
        F.round(F.col("value") * 100, 0).cast("long").alias("c"),
    )
    from social_warner_spark.caching import register_persisted

    ev = register_persisted(ev.persist())
    mm = ev.agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
    width_bin = F.least(
        F.lit(HD_BUCKETS - 1),
        F.floor(
            (F.col("v") - F.col("lo"))
            / (F.col("hi") - F.col("lo"))
            * HD_BUCKETS
        ).cast("int"),
    )
    wb = ev.crossJoin(F.broadcast(mm)).select(
        width_bin.alias("b"), "c"
    )
    qs = ", ".join(
        str(round(i / HD_BUCKETS, 2)) for i in range(1, HD_BUCKETS)
    )
    cuts = ev.agg(
        F.expr(f"percentile(v, array({qs}))").alias("cs")
    ).select(F.posexplode("cs").alias("ci", "cut_raw")).select(
        # +1e-9: quantile interpolation of 2dp values is an exact
        # decimal rational that can land ON the 6dp tie — a cross-engine
        # cutv flip would REBIN values, not just move a rendered digit
        F.round(F.col("cut_raw") + F.lit(1e-9), 6).alias("cutv")
    )
    db = (
        ev.crossJoin(F.broadcast(cuts))
        .groupBy("v")
        .agg(
            (
                F.sum((F.col("v") > F.col("cutv")).cast("int"))
                / F.count("*")
                * (HD_BUCKETS - 1)
            ).cast("int").alias("b"),
            (F.count("*") / (HD_BUCKETS - 1)).cast("long").alias("m"),
        )
        .select(
            "b",
            "m",
            F.round(F.col("v") * 100, 0).cast("long").alias("c"),
        )
    )

    def _sse_from_cents():
        # per-bucket (s2c - s1c^2/n) on exact integer-cent moments, then
        # /10000 back to value units; tie-nudged like r6t
        term = (
            F.col("s2").cast("double")
            - F.col("s1").cast("double") * F.col("s1") / F.col("n")
        )
        return F.round(
            F.sum(term) / 10000.0 + F.lit(1e-9), 6
        ).alias("sse")

    def score_width(binned):
        per = binned.groupBy("b").agg(
            F.count("*").alias("n"),
            F.sum("c").alias("s1"),
            F.sum(F.col("c") * F.col("c")).alias("s2"),
        )
        return per.agg(
            F.count("*").alias("n_buckets"),
            _sse_from_cents(),
            F.max("n").alias("max_bucket_n"),
            F.min("n").alias("min_bucket_n"),
        )

    def score_depth(binned):
        per = binned.groupBy("b").agg(
            F.sum("m").alias("n"),
            F.sum(F.col("c") * F.col("m")).alias("s1"),
            F.sum(F.col("c") * F.col("c") * F.col("m")).alias("s2"),
        )
        return per.agg(
            F.count("*").alias("n_buckets"),
            _sse_from_cents(),
            F.max("n").alias("max_bucket_n"),
            F.min("n").alias("min_bucket_n"),
        )

    wrow = score_width(wb).select(
        F.lit("equi_width").alias("scheme"),
        "n_buckets",
        "sse",
        "max_bucket_n",
        "min_bucket_n",
    )
    drow = score_depth(db).select(
        F.lit("equi_depth").alias("scheme"),
        "n_buckets",
        "sse",
        "max_bucket_n",
        "min_bucket_n",
    )
    both = wrow.unionAll(drow)
    return both.select(
        "scheme",
        "n_buckets",
        "sse",
        "max_bucket_n",
        "min_bucket_n",
        r6(
            F.col("max_bucket_n")
            / F.greatest(F.col("min_bucket_n"), F.lit(1))
        ).alias("occupancy_skew"),
    ).orderBy("scheme")


def x345_session_gap_planner(spark, sf_dir):
    """Session-gap planning from the data: for candidate inactivity
    gaps of 5/15/30/60 minutes, the session count, sessions per user,
    and events per session the s3 sessionizer WOULD produce — the
    measured curve behind the streaming session-window constant
    (x335's planner shape pointed at sessionization).

    Scale: one lag pass produces per-event inter-arrival deltas; each
    candidate is a conditional aggregation over that one relation."""
    ev = T(spark, sf_dir, "events")
    deltas = ev.select(
        "user_id",
        F.expr(
            "timestampdiff(MICROSECOND, lag(ts) OVER "
            "(PARTITION BY user_id ORDER BY ts, event_id), ts)"
        ).alias("us"),
    )
    from social_warner_spark.caching import register_persisted

    deltas = register_persisted(deltas.persist())
    nu = deltas.agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )
    outs = None
    for g in SG_GAPS:
        brk = (
            F.col("us").isNull()
            | (F.col("us") > g * 60 * 1_000_000)
        ).cast("long")
        one = (
            deltas.agg(F.sum(brk).alias("n_sessions"))
            .crossJoin(F.broadcast(nu))
            .select(
                F.lit(g).alias("gap_min"),
                "n_sessions",
                r6(F.col("n_sessions") / F.col("n_users")).alias(
                    "sessions_per_user"
                ),
                r6(F.col("n_events") / F.col("n_sessions")).alias(
                    "events_per_session"
                ),
            )
        )
        outs = one if outs is None else outs.unionAll(one)
    return outs.orderBy("gap_min")


def x346_partition_advisor(spark, sf_dir):
    """Partition-key advisory for the events table: for candidate
    layouts — event_type, day, hour, user_id%32 — the partition
    count, mean/max partition rows, skew ratio, and the small-
    partition share (under 1/4 of the mean) — the
    small-files-vs-skew trade-off behind a date-partitioned file
    layout, measured per key.

    Scale: one counting aggregation per candidate key; reports are
    |partitions|-sized."""
    ev = T(spark, sf_dir, "events")
    from social_warner_spark.caching import register_persisted

    ev = register_persisted(
        ev.select("event_type", "ts", "user_id").persist()
    )
    cands = (
        ("event_type", F.col("event_type").cast("string")),
        ("day", F.date_trunc("day", F.col("ts")).cast("string")),
        ("hour", F.date_trunc("hour", F.col("ts")).cast("string")),
        (f"user_mod{PA_MOD}", (F.col("user_id") % PA_MOD).cast("string")),
    )
    outs = None
    for name, key in cands:
        per = ev.groupBy(key.alias("k")).agg(F.count("*").alias("n"))
        mean = per.agg(F.avg("n").alias("mean_n"))
        one = per.crossJoin(F.broadcast(mean)).agg(
            F.lit(name).alias("partition_key"),
            F.count("*").alias("n_partitions"),
            r6(F.avg("n")).alias("mean_rows"),
            F.max("n").alias("max_rows"),
            r6(F.max("n") / F.avg("n")).alias("skew_ratio"),
            r6(
                F.sum(
                    (F.col("n") < F.col("mean_n") / 4).cast("long")
                )
                / F.count("*")
            ).alias("small_partition_share"),
        )
        outs = one if outs is None else outs.unionAll(one)
    return outs.orderBy("partition_key")


# ---------------------------------------------------------------------------
# Oracles
# ---------------------------------------------------------------------------

from social_warner_spark.queries.x14_series import (  # noqa: E402
    _bm25_scored_sql,
)


def _ql_rank_sql(mu, tag):
    terms = " + ".join(
        f"ln((tf_{i} + {mu} * cf_{i} / ctot) / (dl + {mu}))"
        for i in range(len(DQL_TERMS))
    )
    cf_cols = ", ".join(
        f"SUM(tf_{i}) AS cf_{i}" for i in range(len(DQL_TERMS))
    )
    return f"""cst_{tag} AS (
            SELECT SUM(dl) AS ctot, {cf_cols} FROM staged
        ), sc_{tag} AS (
            SELECT doc_id, ROUND({terms}, 6) AS score
            FROM staged CROSS JOIN cst_{tag}
        ), rk_{tag} AS MATERIALIZED (
            SELECT doc_id,
                   CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
                        AS INT) AS rk
            FROM sc_{tag}
            ORDER BY score DESC, doc_id LIMIT {RA_K}
        )"""


def _rank_agg_oracle() -> str:
    return f"""
        WITH {_dql_staged_sql()}, {_bm25_scored_sql()},
        rk_bm AS MATERIALIZED (
            SELECT doc_id,
                   CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
                        AS INT) AS rk
            FROM bscored
            ORDER BY score DESC, doc_id LIMIT {RA_K}
        ), {_ql_rank_sql(RA_MU_A, "a")}, {_ql_rank_sql(RA_MU_B, "b")},
        cand AS MATERIALIZED (
            SELECT doc_id,
                   COALESCE(bm.rk, {RA_K + 1}) AS r1,
                   COALESCE(qa.rk, {RA_K + 1}) AS r2,
                   COALESCE(qb.rk, {RA_K + 1}) AS r3
            FROM rk_bm bm
            FULL JOIN rk_a qa USING (doc_id)
            FULL JOIN rk_b qb USING (doc_id)
        ), borda AS (
            SELECT doc_id, r1, r2, r3,
                   GREATEST(0, {RA_K + 1} - r1)
                   + GREATEST(0, {RA_K + 1} - r2)
                   + GREATEST(0, {RA_K + 1} - r3) AS borda
            FROM cand
        ), wins AS (
            SELECT a.doc_id,
                   CAST(SUM(CASE WHEN
                       (CASE WHEN a.r1 < b.r1 THEN 1 ELSE 0 END
                        + CASE WHEN a.r2 < b.r2 THEN 1 ELSE 0 END
                        + CASE WHEN a.r3 < b.r3 THEN 1 ELSE 0 END) >= 2
                       THEN 1 ELSE 0 END) AS BIGINT) AS copeland
            FROM cand a JOIN cand b ON a.doc_id != b.doc_id
            GROUP BY a.doc_id
        )
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY borda DESC, doc_id)
                    AS INT) AS rk,
               doc_id, CAST(borda AS BIGINT) AS borda, copeland,
               r1, r2, r3
        FROM borda JOIN wins USING (doc_id)
        ORDER BY borda DESC, doc_id
        LIMIT {TB_TOP}
    """


_SG_ROWS = " UNION ALL ".join(
    f"""SELECT {g} AS gap_min,
               CAST(SUM(CASE WHEN us IS NULL
                             OR us > CAST({g} AS BIGINT) * 60 * 1000000
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
               ROUND(SUM(CASE WHEN us IS NULL
                              OR us > CAST({g} AS BIGINT) * 60 * 1000000
                              THEN 1 ELSE 0 END) * 1.0 / MAX(nu), 6)
                   AS sessions_per_user,
               ROUND(MAX(ne) * 1.0
                     / SUM(CASE WHEN us IS NULL
                                OR us > CAST({g} AS BIGINT) * 60 * 1000000
                                THEN 1 ELSE 0 END), 6)
                   AS events_per_session
        FROM deltas CROSS JOIN nu"""
    for g in SG_GAPS
)

_PA_ROWS = " UNION ALL ".join(
    f"""SELECT '{name}' AS partition_key,
               CAST(COUNT(*) AS BIGINT) AS n_partitions,
               ROUND(AVG(n), 6) AS mean_rows,
               CAST(MAX(n) AS BIGINT) AS max_rows,
               ROUND(MAX(n) / AVG(n), 6) AS skew_ratio,
               ROUND(SUM(CASE WHEN n < mean_n / 4
                              THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)
                   AS small_partition_share
        FROM (SELECT n, AVG(n) OVER () AS mean_n FROM (
            SELECT {expr} AS k, COUNT(*) AS n FROM events GROUP BY 1))"""
    for name, expr in (
        ("event_type", "event_type"),
        ("day", "CAST(date_trunc('day', ts) AS VARCHAR)"),
        ("hour", "CAST(date_trunc('hour', ts) AS VARCHAR)"),
        (f"user_mod{PA_MOD}", f"CAST(user_id % {PA_MOD} AS VARCHAR)"),
    )
)

ORACLES = {
    "x342_rank_aggregation": _rank_agg_oracle(),
    "x343_term_burstiness": f"""
        WITH tok AS (
            SELECT doc_id, UNNEST(string_split(trim(text), ' ')) AS tok
            FROM documents
        ), stats AS (
            SELECT tok, COUNT(*) AS cf,
                   COUNT(DISTINCT doc_id) AS df
            FROM tok GROUP BY 1
        ), nd AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM documents
        ), pool AS (
            SELECT * FROM stats CROSS JOIN nd
            ORDER BY cf DESC, tok LIMIT {TB_POOL}
        ), scored AS (
            SELECT tok, CAST(cf AS BIGINT) AS cf,
                   CAST(df AS BIGINT) AS df,
                   ROUND(nd * (1.0 - exp(-cf * 1.0 / nd)), 6)
                       AS expected_df,
                   ROUND(nd * (1.0 - exp(-cf * 1.0 / nd)) / df, 6)
                       AS burstiness
            FROM pool
        )
        SELECT tok, cf, df, expected_df, burstiness,
               CAST(ROW_NUMBER() OVER (ORDER BY burstiness DESC, tok)
                    AS INT) AS rk
        FROM scored
        ORDER BY burstiness DESC, tok
        LIMIT {TB_TOP}
    """,
    "x344_histogram_design": f"""
        WITH ev AS (
            SELECT value AS v,
                   CAST(ROUND(value * 100, 0) AS BIGINT) AS c
            FROM events
        ), mm AS (
            SELECT MIN(v) AS lo, MAX(v) AS hi FROM ev
        ), wb AS (
            SELECT LEAST({HD_BUCKETS - 1},
                         CAST(floor((v - lo) / (hi - lo)
                                    * {HD_BUCKETS}) AS INT)) AS b, c
            FROM ev CROSS JOIN mm
        ), wrow AS (
            SELECT 'equi_width' AS scheme,
                   CAST(COUNT(*) AS BIGINT) AS n_buckets,
                   ROUND(SUM(CAST(s2 AS DOUBLE)
                             - CAST(s1 AS DOUBLE) * s1 / n) / 10000.0
                         + 1e-9, 6) AS sse,
                   CAST(MAX(n) AS BIGINT) AS max_bucket_n,
                   CAST(MIN(n) AS BIGINT) AS min_bucket_n
            FROM (SELECT b, COUNT(*) AS n, SUM(c) AS s1,
                         SUM(c * c) AS s2
                  FROM wb GROUP BY b)
        ), qcs AS (
            SELECT quantile_cont(v,
                [{", ".join(str(round(i / HD_BUCKETS, 2)) for i in range(1, HD_BUCKETS))}])
                AS cs
            FROM ev
        ), cuts AS (
            SELECT ROUND(cs[u.ci] + 1e-9, 6) AS cutv
            FROM qcs, UNNEST(range(1, {HD_BUCKETS})) AS u(ci)
        ), db AS (
            SELECT v,
                   CAST(SUM(CASE WHEN v > cutv THEN 1 ELSE 0 END) * 1.0
                        / COUNT(*) * {HD_BUCKETS - 1} AS INT) AS b,
                   CAST(COUNT(*) / {HD_BUCKETS - 1} AS BIGINT) AS m,
                   CAST(ROUND(v * 100, 0) AS BIGINT) AS c
            FROM ev CROSS JOIN cuts
            GROUP BY v
        ), drow AS (
            SELECT 'equi_depth' AS scheme,
                   CAST(COUNT(*) AS BIGINT) AS n_buckets,
                   ROUND(SUM(CAST(s2 AS DOUBLE)
                             - CAST(s1 AS DOUBLE) * s1 / n) / 10000.0
                         + 1e-9, 6) AS sse,
                   CAST(MAX(n) AS BIGINT) AS max_bucket_n,
                   CAST(MIN(n) AS BIGINT) AS min_bucket_n
            FROM (SELECT b, SUM(m) AS n, SUM(c * m) AS s1,
                         SUM(c * c * m) AS s2
                  FROM db GROUP BY b)
        )
        SELECT scheme, n_buckets, sse, max_bucket_n, min_bucket_n,
               ROUND(max_bucket_n * 1.0
                     / GREATEST(min_bucket_n, 1), 6) AS occupancy_skew
        FROM (SELECT * FROM wrow UNION ALL SELECT * FROM drow)
        ORDER BY scheme
    """,
    "x345_session_gap_planner": f"""
        WITH deltas AS MATERIALIZED (
            SELECT user_id,
                   datediff('microsecond',
                            lag(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id), ts)
                       AS us
            FROM events
        ), nu AS (
            SELECT COUNT(DISTINCT user_id) AS nu, COUNT(*) AS ne
            FROM deltas
        )
        SELECT * FROM ({_SG_ROWS})
        ORDER BY gap_min
    """,
    "x346_partition_advisor": f"""
        SELECT * FROM ({_PA_ROWS})
        ORDER BY partition_key
    """,
}

QUERIES = {
    "x342_rank_aggregation": x342_rank_aggregation,
    "x343_term_burstiness": x343_term_burstiness,
    "x344_histogram_design": x344_histogram_design,
    "x345_session_gap_planner": x345_session_gap_planner,
    "x346_partition_advisor": x346_partition_advisor,
}
