"""Tenth extension batch (x93–x105): product analytics over the event
stream — the reference's own domain (social-media engagement analytics)
generalized to the distributed toolkit — plus hierarchy traversal,
sampling-based profiling, reconciliation, and experimentation.

Funnel (x93), cohort retention (x94), last-touch attribution (x95),
sketch-merged rolling distinct (x96), session paths (x97), transition
matrix (x98), pointer-doubling hierarchy depth (x100), profile by
sampling (x101), cents-exact revenue tie-out (x102), reducer-balance
forecast (x103), A/B readout with Welch t (x104), weekly seasonality
profile (x105).

Everything past the first aggregation is |users|-, |sessions|-,
|days²|- or |types|²-sized, never event-sized.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from social_warner_spark.functions.text import md5_int
from social_warner_spark.queries.common import T, r2t, r6, r6t

#: x93 — the ordered stages.
FUNNEL_STAGES = ("view", "click", "purchase")
#: x94 — cohort epoch (the testdata's first event day).
COHORT_EPOCH = "2024-01-01"


def x93_funnel(spark, sf_dir):
    """Strictly-ordered three-stage funnel: per user the first 'view',
    the first 'click' AFTER that view, the first 'purchase' AFTER that
    click; one summary row with per-stage user counts and conversion
    rates.  Three co-partitioned user_id aggregations/joins — each stage
    table is |users| rows, so the chain costs user-keyed shuffles of
    shrinking relations, never an event-level self-join."""
    e = T(spark, sf_dir, "events").select("user_id", "event_type", "ts")

    def first_after(stage: str, prev):
        s = e.where(F.col("event_type") == stage)
        if prev is None:
            return s.groupBy("user_id").agg(F.min("ts").alias("t"))
        return (
            s.join(prev.withColumnsRenamed({"t": "_pt"}), "user_id")
            .where(F.col("ts") > F.col("_pt"))
            .groupBy("user_id")
            .agg(F.min("ts").alias("t"))
        )

    s1 = first_after(FUNNEL_STAGES[0], None)
    s2 = first_after(FUNNEL_STAGES[1], s1)
    s3 = first_after(FUNNEL_STAGES[2], s2)
    c1 = s1.agg(F.count("*").alias("n_stage1"))
    c2 = s2.agg(F.count("*").alias("n_stage2"))
    c3 = s3.agg(F.count("*").alias("n_stage3"))
    return c1.crossJoin(c2).crossJoin(c3).select(
        "n_stage1",
        "n_stage2",
        "n_stage3",
        r6(F.col("n_stage2") / F.col("n_stage1").cast("double")).alias("conv_1_2"),
        r6(F.col("n_stage3") / F.col("n_stage2").cast("double")).alias("conv_2_3"),
    )


def x94_cohort_retention(spark, sf_dir):
    """Day-grain cohort retention matrix: users grouped by their first
    active day, counted per (cohort_day, day_offset) of later activity.
    The cohort label is a |users|-row aggregate equi-joined back onto
    the distinct (user, day) activity relation (no broadcast hint — it
    scales with SF, the side is AQE's call); the matrix itself is
    |days²|-bounded."""
    e = T(spark, sf_dir, "events").select(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit(COHORT_EPOCH).cast("date")).alias("d"),
    )
    active = e.distinct()
    cohort = active.groupBy("user_id").agg(F.min("d").alias("cohort_day"))
    return (
        active.join(cohort, "user_id")
        .groupBy(
            "cohort_day", (F.col("d") - F.col("cohort_day")).alias("day_offset")
        )
        .agg(F.count("*").alias("n_users"))
    )


def x95_last_touch_attribution(spark, sf_dir):
    """Last-touch attribution: each purchase is credited to the user's
    most recent PRECEDING non-purchase event type (carry-forward via
    last(..., ignorenulls) over the user's timeline; purchases with no
    preceding touch report '(none)').  One user_id shuffle whose sort
    the carry-forward window rides; the result is a per-channel count."""
    e = T(spark, sf_dir, "events").select("user_id", "event_id", "event_type", "ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.when(
        F.col("event_type") != "purchase", F.col("event_type")
    )
    attributed = e.withColumn(
        "channel", F.last(touch, ignorenulls=True).over(w)
    ).where(F.col("event_type") == "purchase")
    return attributed.groupBy(
        F.coalesce(F.col("channel"), F.lit("(none)")).alias("channel")
    ).agg(F.count("*").alias("n_purchases"))


QUERIES = {
    "x93_funnel": x93_funnel,
    "x94_cohort_retention": x94_cohort_retention,
    "x95_last_touch_attribution": x95_last_touch_attribution,
}

ORACLES = {
    "x93_funnel": f"""
        WITH s1 AS (
            SELECT user_id, MIN(ts) AS t FROM events
            WHERE event_type = '{FUNNEL_STAGES[0]}' GROUP BY user_id
        ), s2 AS (
            SELECT e.user_id, MIN(e.ts) AS t
            FROM events e JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t
            WHERE e.event_type = '{FUNNEL_STAGES[1]}' GROUP BY e.user_id
        ), s3 AS (
            SELECT e.user_id, MIN(e.ts) AS t
            FROM events e JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t
            WHERE e.event_type = '{FUNNEL_STAGES[2]}' GROUP BY e.user_id
        )
        SELECT (SELECT COUNT(*) FROM s1) AS n_stage1,
               (SELECT COUNT(*) FROM s2) AS n_stage2,
               (SELECT COUNT(*) FROM s3) AS n_stage3,
               ROUND((SELECT COUNT(*) FROM s2)
                     / CAST((SELECT COUNT(*) FROM s1) AS DOUBLE), 6) AS conv_1_2,
               ROUND((SELECT COUNT(*) FROM s3)
                     / CAST((SELECT COUNT(*) FROM s2) AS DOUBLE), 6) AS conv_2_3
    """,
    "x94_cohort_retention": f"""
        WITH active AS (
            SELECT DISTINCT user_id,
                   datediff('day', DATE '{COHORT_EPOCH}', CAST(ts AS DATE)) AS d
            FROM events
        ), cohort AS (
            SELECT user_id, MIN(d) AS cohort_day FROM active GROUP BY user_id
        )
        SELECT cohort_day, d - cohort_day AS day_offset, COUNT(*) AS n_users
        FROM active JOIN cohort USING (user_id)
        GROUP BY cohort_day, day_offset
    """,
    "x95_last_touch_attribution": """
        WITH marked AS (
            SELECT user_id, event_id, event_type, ts,
                   last_value(CASE WHEN event_type != 'purchase'
                                   THEN event_type END IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS channel
            FROM events
        )
        SELECT COALESCE(channel, '(none)') AS channel,
               COUNT(*) AS n_purchases
        FROM marked WHERE event_type = 'purchase'
        GROUP BY 1
    """,
}


#: x96 — KMV size per day cell and the trailing window (days).
ROLLING_K = 32
ROLLING_DAYS = 3
#: x97 — path length and result size.
PATH_STEPS = 3
PATH_TOPK = 15


def x96_rolling_distinct(spark, sf_dir):
    """Trailing-3-day distinct users per day via MERGEABLE daily KMV
    cells (operators/sketch.py:kmv_sketch grouped by day) — the sketch
    answer to a query that is quadratic if done exactly (every day
    re-scans its whole trailing window).  Daily cells are k rows each;
    the rolling merge is a |days|×|window| range join over cell rows,
    corpus-independent.  The exact rolling count rides along as the
    error reference (affordable at test SF; the cells are the 100 TB
    path)."""
    from social_warner_spark.operators.sketch import kmv_sketch

    e = T(spark, sf_dir, "events").select(
        F.datediff(F.to_date("ts"), F.lit(COHORT_EPOCH).cast("date")).alias("day"),
        "user_id",
    )
    cells = kmv_sketch(e, "user_id", "day", ROLLING_K).select("day", "h")
    days = cells.select("day").distinct()
    d, c = days.alias("d"), cells.alias("c")
    merged = d.join(
        c,
        (F.col("c.day") <= F.col("d.day"))
        & (F.col("c.day") > F.col("d.day") - ROLLING_DAYS),
    ).select(F.col("d.day").alias("day"), "h")
    ranked = merged.distinct().withColumn(
        "rn", F.row_number().over(Window.partitionBy("day").orderBy("h"))
    )
    est = (
        ranked.where(F.col("rn") <= ROLLING_K)
        .groupBy("day")
        .agg(F.max("h").alias("_theta"), F.count("*").alias("_ku"))
        .select(
            "day",
            r6(
                F.when(
                    F.col("_ku") >= ROLLING_K,
                    F.lit(float(ROLLING_K - 1)) / F.col("_theta"),
                ).otherwise(F.col("_ku").cast("double"))
            ).alias("est_users"),
        )
    )
    du = e.distinct()
    d2, u = days.alias("d2"), du.alias("u")
    exact = (
        d2.join(
            u,
            (F.col("u.day") <= F.col("d2.day"))
            & (F.col("u.day") > F.col("d2.day") - ROLLING_DAYS),
        )
        .groupBy(F.col("d2.day").alias("day"))
        .agg(F.count_distinct("user_id").alias("exact_users"))
    )
    return est.join(exact, "day")


def x97_session_paths(spark, sf_dir):
    """Top session opening paths: the ordered first-3 event types of
    every >30-min-gap session (x36's sessionizer), counted and ranked —
    the navigation-pattern report of product analytics.  The path pivot
    is a conditional aggregate over the session rank (no collect_list
    ordering hazards); sessions and paths are \\|sessions\\|-sized."""
    from social_warner_spark.operators.timeseries import sessionize

    s = sessionize(T(spark, sf_dir, "events"), gap_minutes=30)
    rk = F.row_number().over(
        Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    )
    steps = s.select("user_id", "session_id", "event_type", rk.alias("rk")).where(
        F.col("rk") <= PATH_STEPS
    )
    paths = steps.groupBy("user_id", "session_id").agg(
        F.concat_ws(
            ">",
            *[
                F.max(F.when(F.col("rk") == i, F.col("event_type")))
                for i in range(1, PATH_STEPS + 1)
            ],
        ).alias("path")
    )
    counts = paths.groupBy("path").agg(F.count("*").alias("n_sessions"))
    # r05: distributed top-k first (orderBy+limit), rank over k rows —
    # |distinct paths| grows with the corpus.
    return (
        counts.orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(PATH_TOPK)
        .withColumn(
            "rk",
            F.row_number()
            .over(Window.orderBy(F.desc("n_sessions"), F.asc("path")))
            .cast("int"),
        )
        .select("path", "n_sessions", "rk")
    )


def x98_transition_matrix(spark, sf_dir):
    """First-order event-type transition matrix per user timeline:
    (prev → curr) counts and row-normalized probabilities — the Markov
    summary behind next-action prediction and bot detection.  One
    user_id shuffle for the lag; the matrix itself is \\|types\\|²."""
    e = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = e.select(
        F.lag("event_type").over(w).alias("prev_type"),
        F.col("event_type").alias("curr_type"),
    ).where(F.col("prev_type").isNotNull())
    counts = pairs.groupBy("prev_type", "curr_type").agg(
        F.count("*").alias("n")
    )
    totals = counts.groupBy("prev_type").agg(F.sum("n").alias("_tot"))
    return (
        counts.join(F.broadcast(totals), "prev_type")
        .select(
            "prev_type",
            "curr_type",
            "n",
            r6(F.col("n") / F.col("_tot").cast("double")).alias("p"),
        )
    )


QUERIES.update(
    {
        "x96_rolling_distinct": x96_rolling_distinct,
        "x97_session_paths": x97_session_paths,
        "x98_transition_matrix": x98_transition_matrix,
    }
)

ORACLES.update(
    {
        "x96_rolling_distinct": f"""
        WITH e AS (
            SELECT DISTINCT datediff('day', DATE '{COHORT_EPOCH}', CAST(ts AS DATE)) AS day,
                   user_id
            FROM events
        ), h AS (
            SELECT day,
                   ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))::BIGINT
                       / {float(16**12)} AS h
            FROM e
        ), cells AS (
            SELECT day, h FROM (
                SELECT day, h, ROW_NUMBER() OVER (PARTITION BY day ORDER BY h) AS rn
                FROM h
            ) WHERE rn <= {ROLLING_K}
        ), days AS (
            SELECT DISTINCT day FROM cells
        ), merged AS (
            SELECT DISTINCT d.day AS day, c.h
            FROM days d JOIN cells c
              ON c.day <= d.day AND c.day > d.day - {ROLLING_DAYS}
        ), ranked AS (
            SELECT day, h, ROW_NUMBER() OVER (PARTITION BY day ORDER BY h) AS rn
            FROM merged
        ), est AS (
            SELECT day,
                   ROUND(CASE WHEN COUNT(*) >= {ROLLING_K}
                              THEN {float(ROLLING_K - 1)} / MAX(h)
                              ELSE CAST(COUNT(*) AS DOUBLE) END, 6) AS est_users
            FROM ranked WHERE rn <= {ROLLING_K} GROUP BY day
        ), exact AS (
            SELECT d.day AS day, COUNT(DISTINCT u.user_id) AS exact_users
            FROM days d JOIN e u
              ON u.day <= d.day AND u.day > d.day - {ROLLING_DAYS}
            GROUP BY d.day
        )
        SELECT est.day, est.est_users, exact.exact_users
        FROM est JOIN exact ON est.day = exact.day
    """,
        "x97_session_paths": f"""
        WITH ordered AS (
            SELECT user_id, event_id, event_type, ts,
                   CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                             IS NULL
                          OR ts > LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                               + INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS nf
            FROM events
        ), sess AS (
            SELECT user_id, event_id, event_type, ts,
                   SUM(nf) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
                       AS session_id
            FROM ordered
        ), steps AS (
            SELECT user_id, session_id, event_type,
                   ROW_NUMBER() OVER (PARTITION BY user_id, session_id
                                      ORDER BY ts, event_id) AS rk
            FROM sess
        ), paths AS (
            SELECT user_id, session_id,
                   concat_ws('>',
                       {", ".join(f"MAX(CASE WHEN rk = {i} THEN event_type END)" for i in range(1, PATH_STEPS + 1))}
                   ) AS path
            FROM steps WHERE rk <= {PATH_STEPS}
            GROUP BY user_id, session_id
        ), counts AS (
            SELECT path, COUNT(*) AS n_sessions FROM paths GROUP BY path
        ), ranked AS (
            SELECT path, n_sessions,
                   CAST(ROW_NUMBER() OVER (ORDER BY n_sessions DESC, path ASC) AS INT)
                       AS rk
            FROM counts
        )
        SELECT path, n_sessions, rk FROM ranked WHERE rk <= {PATH_TOPK}
    """,
        "x98_transition_matrix": """
        WITH pairs AS (
            SELECT LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       AS prev_type,
                   event_type AS curr_type
            FROM events
        ), counts AS (
            SELECT prev_type, curr_type, COUNT(*) AS n
            FROM pairs WHERE prev_type IS NOT NULL
            GROUP BY prev_type, curr_type
        ), totals AS (
            SELECT prev_type, SUM(n) AS tot FROM counts GROUP BY prev_type
        )
        SELECT counts.prev_type, curr_type, n,
               ROUND(n / CAST(tot AS DOUBLE), 6) AS p
        FROM counts JOIN totals ON counts.prev_type = totals.prev_type
    """,
    }
)


#: x100 — pointer-doubling rounds; covers depth up to 2^4 = 16 levels.
POINTER_ROUNDS = 4
#: x101 — deterministic sample keep-threshold on the first 2 md5 hex
#: chars: '0d'/'100' ≈ 5.1%.
SAMPLE_HEX = "0d"
SAMPLE_RATE = 13.0 / 256.0


def x100_hierarchy_depth(spark, sf_dir):
    """Hierarchy traversal by POINTER DOUBLING: suppliers form an
    implicit binary tree (parent = suppkey DIV 2, root = 1); each round
    every node's ancestor pointer jumps to its ancestor's ancestor, so
    depth-to-root resolves in O(log depth) self-joins — 4 rounds cover
    depth 16, where the naive walk (and the oracle's recursive CTE)
    takes one round PER LEVEL.  The per-round relation is |nodes| rows;
    this is the scale recipe for org charts / thread trees / category
    hierarchies.  Result: suppliers per depth."""
    s = T(spark, sf_dir, "supplier").select(F.col("s_suppkey").alias("node"))
    # nodes 0 and 1 are both roots under cur//2-with-cur>1-stop semantics
    # (the oracle's walk halts immediately for them)
    labels = s.select(
        "node",
        F.when(F.col("node") <= 1, F.lit(None).cast("bigint"))
        .otherwise((F.col("node") / 2).cast("bigint"))
        .alias("anc"),
        F.when(F.col("node") <= 1, F.lit(0)).otherwise(F.lit(1)).alias("d"),
    )
    for _ in range(POINTER_ROUNDS):
        j = labels.alias("l").join(
            labels.select(
                F.col("node").alias("_n"),
                F.col("anc").alias("_anc"),
                F.col("d").alias("_d"),
            ).alias("r"),
            F.col("l.anc") == F.col("r._n"),
            "left",
        )
        # labels is self-joined (two references) every round: the eager
        # checkpoint stops the 2^rounds lineage compounding AND the
        # re-execution of earlier rounds (the x203 pattern).
        labels = j.select(
            F.col("l.node").alias("node"),
            F.coalesce(F.col("r._anc"), F.col("l.anc")).alias("anc"),
            F.when(
                F.col("l.anc").isNotNull() & F.col("r._anc").isNotNull(),
                F.col("l.d") + F.col("r._d"),
            )
            .otherwise(F.col("l.d"))
            .alias("d"),
        ).localCheckpoint(eager=True)
    return labels.groupBy(F.col("d").alias("depth")).agg(
        F.count("*").alias("n_suppliers")
    )


def x101_sampled_stats(spark, sf_dir):
    """Profile-by-sampling: estimate orders row count and revenue from a
    deterministic ~5% md5 sample (scale by the keep rate), with the
    exact values and relative errors alongside — how table stats are
    gathered at 100 TB, where a full profile pass is the expensive
    exception.  The sample predicate is a pure narrow map pushed into
    the scan projection; both engines pick the exact same rows."""
    o = T(spark, sf_dir, "orders")
    keep = F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 2) < SAMPLE_HEX
    # sample AND exact moments in ONE aggregation pass (conditional
    # aggregates) — the point of profiling by sampling is not paying for
    # two scans
    both = o.agg(
        F.count(F.when(keep, 1)).alias("_sn"),
        F.sum(F.when(keep, F.col("o_totalprice"))).alias("_ss"),
        F.count("*").alias("exact_rows"),
        F.round(F.sum("o_totalprice"), 2).alias("exact_revenue"),
    )
    return both.select(
        F.round(F.col("_sn") / F.lit(SAMPLE_RATE)).cast("long").alias("est_rows"),
        "exact_rows",
        F.round(F.col("_ss") / F.lit(SAMPLE_RATE), 2).alias("est_revenue"),
        "exact_revenue",
        r6(
            F.abs(F.col("_sn") / F.lit(SAMPLE_RATE) - F.col("exact_rows"))
            / F.col("exact_rows")
        ).alias("rows_rel_err"),
    )


QUERIES.update(
    {
        "x100_hierarchy_depth": x100_hierarchy_depth,
        "x101_sampled_stats": x101_sampled_stats,
    }
)

ORACLES.update(
    {
        "x100_hierarchy_depth": """
        WITH RECURSIVE walk(node, cur, depth) AS (
            SELECT s_suppkey, s_suppkey, 0 FROM supplier
            UNION ALL
            SELECT node, cur // 2, depth + 1 FROM walk WHERE cur > 1
        ), depths AS (
            SELECT node, MAX(depth) AS d FROM walk GROUP BY node
        )
        SELECT d AS depth, COUNT(*) AS n_suppliers FROM depths GROUP BY d
    """,
        "x101_sampled_stats": f"""
        WITH sample AS (
            SELECT COUNT(*) AS sn, SUM(o_totalprice) AS ss
            FROM orders
            WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) < '{SAMPLE_HEX}'
        ), exact AS (
            SELECT COUNT(*) AS exact_rows,
                   ROUND(SUM(o_totalprice), 2) AS exact_revenue
            FROM orders
        )
        SELECT CAST(ROUND(sn / {SAMPLE_RATE}) AS BIGINT) AS est_rows,
               exact_rows,
               ROUND(ss / {SAMPLE_RATE}, 2) AS est_revenue,
               exact_revenue,
               ROUND(ABS(sn / {SAMPLE_RATE} - exact_rows)
                     / CAST(exact_rows AS DOUBLE), 6) AS rows_rel_err
        FROM sample, exact
    """,
    }
)


#: x102 — relative-gap threshold for the tie-out report.
TIEOUT_TOL = 0.05
#: x103 — the reducer count being simulated.
BALANCE_BUCKETS = 32


def x102_revenue_tieout(spark, sf_dir):
    """Cross-fact reconciliation: every order's header total against the
    revenue derived from its line items — one summary row with how many
    orders tie within 5%, the worst relative gap, and the total absolute
    drift.  The audit a migration runs between a source-of-truth table
    and a derived one.  One co-keyed join + one aggregate; the detail
    relation never leaves the executors."""
    # The whole audit runs in integer CENTS via floor(x*100 + 0.5) — pure
    # BINARY double arithmetic, identical in any engine.  A float
    # formulation is out twice over: a 2.3e9 sum is accumulation-order-
    # sensitive even at 2dp, and Spark's round() goes through a
    # decimal-string HALF_UP that disagrees with a binary ROUND exactly
    # at representation boundaries.
    o = T(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("_tc"),
    )
    li = T(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5)
        .cast("long")
        .alias("_rc"),
    )
    derived = li.groupBy("l_orderkey").agg(F.sum("_rc").alias("_dc"))
    j = o.join(derived, o["o_orderkey"] == derived["l_orderkey"]).select(
        "_tc",
        "_dc",
        (F.abs(F.col("_dc") - F.col("_tc")) / F.col("_tc").cast("double")).alias(
            "_rel"
        ),
    )
    return j.agg(
        F.count("*").alias("n_orders"),
        F.sum((F.col("_rel") <= TIEOUT_TOL).cast("long")).alias("n_within_tol"),
        F.sum((F.col("_rel") > TIEOUT_TOL).cast("long")).alias("n_beyond_tol"),
        r6(F.max("_rel")).alias("max_rel_gap"),
        F.sum(F.abs(F.col("_dc") - F.col("_tc"))).alias("total_abs_gap_cents"),
    )


def x103_partition_balance(spark, sf_dir):
    """Reducer-balance forecast for a prospective shuffle: rows per
    simulated hash bucket (md5-derived, engine-portable) for 32
    reducers, on both candidate event keys — max/mean balance ratio
    near 1.0 means the shuffle spreads; x87's KEY-level skew report
    says why when it doesn't.  Everything past the bucket count is
    |buckets|-sized."""
    e = T(spark, sf_dir, "events")

    def report(key_col: str):
        bucket = md5_int(F.col(key_col).cast("string"), 4) % BALANCE_BUCKETS
        per = e.groupBy(bucket.alias("b")).agg(F.count("*").alias("c"))
        return per.agg(
            F.lit(key_col).alias("dim"),
            F.count("*").alias("n_buckets"),
            F.min("c").alias("min_rows"),
            F.max("c").alias("max_rows"),
            r6(F.max("c") / (F.sum("c") / F.count("*"))).alias("balance_ratio"),
        )

    return report("user_id").unionByName(report("event_type"))


QUERIES.update(
    {
        "x102_revenue_tieout": x102_revenue_tieout,
        "x103_partition_balance": x103_partition_balance,
    }
)

ORACLES.update(
    {
        "x102_revenue_tieout": f"""
        WITH derived AS (
            SELECT l_orderkey,
                   CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                                 AS BIGINT)) AS BIGINT) AS dc
            FROM lineitem GROUP BY l_orderkey
        ), j AS (
            SELECT CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT) AS tc, derived.dc,
                   ABS(derived.dc - CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT))
                       / CAST(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT) AS DOUBLE)
                       AS rel
            FROM orders o JOIN derived ON o.o_orderkey = derived.l_orderkey
        )
        SELECT COUNT(*) AS n_orders,
               CAST(SUM(CASE WHEN rel <= {TIEOUT_TOL} THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_within_tol,
               CAST(SUM(CASE WHEN rel > {TIEOUT_TOL} THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_beyond_tol,
               ROUND(MAX(rel), 6) AS max_rel_gap,
               CAST(SUM(ABS(dc - tc)) AS BIGINT) AS total_abs_gap_cents
        FROM j
    """,
        "x103_partition_balance": f"""
        WITH b1 AS (
            SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4))::BIGINT
                       % {BALANCE_BUCKETS} AS b, COUNT(*) AS c
            FROM events GROUP BY 1
        ), b2 AS (
            SELECT ('0x' || substr(md5(CAST(event_type AS VARCHAR)), 1, 4))::BIGINT
                       % {BALANCE_BUCKETS} AS b, COUNT(*) AS c
            FROM events GROUP BY 1
        )
        SELECT 'user_id' AS dim, COUNT(*) AS n_buckets, MIN(c) AS min_rows,
               MAX(c) AS max_rows,
               ROUND(MAX(c) / (CAST(SUM(c) AS DOUBLE) / COUNT(*)), 6)
                   AS balance_ratio
        FROM b1
        UNION ALL
        SELECT 'event_type', COUNT(*), MIN(c), MAX(c),
               ROUND(MAX(c) / (CAST(SUM(c) AS DOUBLE) / COUNT(*)), 6)
        FROM b2
    """,
    }
)


#: x104 — md5-split threshold: first hex char < '8' → arm A (50/50).
AB_SPLIT_HEX = "8"


def x104_ab_experiment(spark, sf_dir):
    """Experiment readout: users deterministically split 50/50 by md5
    (the hash-bucket assignment every experimentation platform uses),
    per-user purchase totals compared across arms with a Welch t
    statistic.  The t is computed FROM the 6dp-rounded per-arm moments,
    so both engines derive it from identical inputs.  Per-user totals
    are one user_id shuffle; everything after is two rows."""
    e = T(spark, sf_dir, "events")
    per_user = (
        e.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.sum("value").alias("_v"))
        .select(
            F.when(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 1)
                < AB_SPLIT_HEX,
                F.lit("A"),
            )
            .otherwise(F.lit("B"))
            .alias("arm"),
            "_v",
        )
    )
    arms = per_user.groupBy("arm").agg(
        F.count("*").alias("n"),
        r6(F.avg("_v")).alias("mean"),
        r6(F.var_samp("_v")).alias("var"),
    )
    a = arms.where(F.col("arm") == "A").select(
        F.col("n").alias("n_a"), F.col("mean").alias("mean_a"), F.col("var").alias("_va")
    )
    b = arms.where(F.col("arm") == "B").select(
        F.col("n").alias("n_b"), F.col("mean").alias("mean_b"), F.col("var").alias("_vb")
    )
    return a.crossJoin(b).select(
        "n_a",
        "n_b",
        "mean_a",
        "mean_b",
        r6(
            (F.col("mean_a") - F.col("mean_b"))
            / F.sqrt(F.col("_va") / F.col("n_a") + F.col("_vb") / F.col("n_b"))
        ).alias("t_welch"),
    )


def x105_seasonality_profile(spark, sf_dir):
    """Weekly seasonality profile: mean event value per (ISO weekday,
    hour-of-day) cell with the seasonal index (cell mean / global
    mean) — the shape behind anomaly baselines and staffing curves.
    One groupBy to a 7×24-bounded grid; the global mean is one
    broadcast row.  Weekday uses Monday=0 in both engines (Spark
    weekday(), DuckDB isodow-1)."""
    e = T(spark, sf_dir, "events")
    cells = e.groupBy(
        F.weekday("ts").alias("dow"), F.hour("ts").alias("hour")
    ).agg(F.count("*").alias("n"), r6(F.avg("value")).alias("mean_value"))
    g = e.agg(r6(F.avg("value")).alias("_gm"))
    return cells.crossJoin(F.broadcast(g)).select(
        "dow",
        "hour",
        "n",
        "mean_value",
        r6(F.col("mean_value") / F.col("_gm")).alias("seasonal_index"),
    )


QUERIES.update(
    {
        "x104_ab_experiment": x104_ab_experiment,
        "x105_seasonality_profile": x105_seasonality_profile,
    }
)

ORACLES.update(
    {
        "x104_ab_experiment": f"""
        WITH per_user AS (
            SELECT CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '{AB_SPLIT_HEX}'
                        THEN 'A' ELSE 'B' END AS arm,
                   SUM(value) AS v
            FROM events WHERE event_type = 'purchase' GROUP BY user_id
        ), arms AS (
            SELECT arm, COUNT(*) AS n, ROUND(AVG(v), 6) AS mean,
                   ROUND(VAR_SAMP(v), 6) AS var
            FROM per_user GROUP BY arm
        )
        SELECT a.n AS n_a, b.n AS n_b, a.mean AS mean_a, b.mean AS mean_b,
               ROUND((a.mean - b.mean)
                     / sqrt(a.var / a.n + b.var / b.n), 6) AS t_welch
        FROM arms a, arms b WHERE a.arm = 'A' AND b.arm = 'B'
    """,
        "x105_seasonality_profile": """
        WITH cells AS (
            SELECT isodow(ts) - 1 AS dow, hour(ts) AS hour,
                   COUNT(*) AS n, ROUND(AVG(value), 6) AS mean_value
            FROM events GROUP BY 1, 2
        ), g AS (
            SELECT ROUND(AVG(value), 6) AS gm FROM events
        )
        SELECT dow, hour, n, mean_value,
               ROUND(mean_value / gm, 6) AS seasonal_index
        FROM cells, g
    """,
    }
)


#: x106 — minimum pair support count and result size.
RULES_MIN_PAIRS = 3
RULES_TOPK = 20


def x106_association_rules(spark, sf_dir):
    """Market-basket association rules over part co-purchases: for the
    strongest pairs, support / confidence / lift — the classic frequent-
    itemset statistics.  Baskets are orders; the pair table comes from
    the same bounded self-join as x81's edge construction (within-order
    pairs, never corpus×corpus), item supports broadcast onto it.
    Rules are emitted in both directions (confidence is asymmetric),
    top-20 by lift."""
    li = T(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    n_orders = li.select("ok").distinct().agg(F.count("*").alias("_no"))
    item = li.groupBy("pk").agg(F.count("*").alias("_ci"))
    a, b = li.alias("a"), li.alias("b")
    pairs = (
        a.join(b, (F.col("a.ok") == F.col("b.ok")) & (F.col("a.pk") < F.col("b.pk")))
        .groupBy(F.col("a.pk").alias("x"), F.col("b.pk").alias("y"))
        .agg(F.count("*").alias("_cp"))
        .where(F.col("_cp") >= RULES_MIN_PAIRS)
    )
    both = pairs.select("x", "y", "_cp").unionByName(
        pairs.select(F.col("y").alias("x"), F.col("x").alias("y"), "_cp")
    )
    scored = (
        # |items|-sized relation: no explicit broadcast hint (scales
        # with SF — AQE picks the side; r05 verdict).
        both.join(item.withColumnsRenamed({"pk": "x", "_ci": "_cx"}), "x")
        .join(item.withColumnsRenamed({"pk": "y", "_ci": "_cy"}), "y")
        .crossJoin(F.broadcast(n_orders))
        .select(
            F.col("x").alias("antecedent"),
            F.col("y").alias("consequent"),
            F.col("_cp").alias("n_pairs"),
            r6(F.col("_cp") / F.col("_no").cast("double")).alias("support"),
            r6(F.col("_cp") / F.col("_cx").cast("double")).alias("confidence"),
            r6(
                (F.col("_cp") / F.col("_cx").cast("double"))
                / (F.col("_cy") / F.col("_no").cast("double"))
            ).alias("lift"),
        )
    )
    w = Window.orderBy(F.desc("lift"), F.asc("antecedent"), F.asc("consequent"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= RULES_TOPK)
    )


def x107_funnel_durations(spark, sf_dir):
    """Time-to-convert distribution: for users completing the full
    view→click→purchase funnel (x93's strict ordering), the view→
    purchase duration in minutes at min/median/p90/max — the latency
    companion to x93's conversion counts.  Stage tables are |users|
    rows; the percentile aggregate runs on the |converters| relation."""
    e = T(spark, sf_dir, "events").select("user_id", "event_type", "ts")

    s1 = (
        e.where(F.col("event_type") == FUNNEL_STAGES[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        e.where(F.col("event_type") == FUNNEL_STAGES[1])
        .join(s1, "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"), F.first("t1").alias("t1"))
    )
    s3 = (
        e.where(F.col("event_type") == FUNNEL_STAGES[2])
        .join(s2, "user_id")
        .where(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"), F.first("t1").alias("t1"))
    )
    # events.ts is TIMESTAMP_NTZ — unix_micros() rejects it; timestampdiff
    # operates on either flavor
    durations = s3.select(
        (F.expr("timestampdiff(MICROSECOND, t1, t3)") / 60_000_000.0).alias("_mins")
    )
    return durations.agg(
        F.count("*").alias("n_converters"),
        r6(F.min("_mins")).alias("min_mins"),
        r6(F.median("_mins")).alias("median_mins"),
        r6(F.percentile("_mins", F.lit(0.9))).alias("p90_mins"),
        r6(F.max("_mins")).alias("max_mins"),
    )


QUERIES.update(
    {
        "x106_association_rules": x106_association_rules,
        "x107_funnel_durations": x107_funnel_durations,
    }
)

ORACLES.update(
    {
        "x106_association_rules": f"""
        WITH li AS (
            SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        ), no AS (
            SELECT COUNT(DISTINCT ok) AS n FROM li
        ), item AS (
            SELECT pk, COUNT(*) AS ci FROM li GROUP BY pk
        ), pairs AS (
            SELECT a.pk AS x, b.pk AS y, COUNT(*) AS cp
            FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
            GROUP BY 1, 2 HAVING COUNT(*) >= {RULES_MIN_PAIRS}
        ), bi AS (
            SELECT x, y, cp FROM pairs
            UNION ALL SELECT y, x, cp FROM pairs
        ), scored AS (
            SELECT bi.x AS antecedent, bi.y AS consequent, cp AS n_pairs,
                   ROUND(cp / CAST(no.n AS DOUBLE), 6) AS support,
                   ROUND(cp / CAST(ix.ci AS DOUBLE), 6) AS confidence,
                   ROUND((cp / CAST(ix.ci AS DOUBLE))
                         / (iy.ci / CAST(no.n AS DOUBLE)), 6) AS lift
            FROM bi
            JOIN item ix ON ix.pk = bi.x
            JOIN item iy ON iy.pk = bi.y, no
        )
        SELECT antecedent, consequent, n_pairs, support, confidence, lift,
               CAST(ROW_NUMBER() OVER (ORDER BY lift DESC, antecedent, consequent)
                    AS INT) AS rk
        FROM scored
        QUALIFY rk <= {RULES_TOPK}
    """,
        "x107_funnel_durations": f"""
        WITH s1 AS (
            SELECT user_id, MIN(ts) AS t1 FROM events
            WHERE event_type = '{FUNNEL_STAGES[0]}' GROUP BY user_id
        ), s2 AS (
            SELECT e.user_id, MIN(e.ts) AS t2, ANY_VALUE(s1.t1) AS t1
            FROM events e JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t1
            WHERE e.event_type = '{FUNNEL_STAGES[1]}' GROUP BY e.user_id
        ), s3 AS (
            SELECT e.user_id, MIN(e.ts) AS t3, ANY_VALUE(s2.t1) AS t1
            FROM events e JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t2
            WHERE e.event_type = '{FUNNEL_STAGES[2]}' GROUP BY e.user_id
        ), durations AS (
            SELECT epoch_us(t3 - t1) / 60000000.0 AS mins FROM s3
        )
        SELECT COUNT(*) AS n_converters,
               ROUND(MIN(mins), 6) AS min_mins,
               ROUND(MEDIAN(mins), 6) AS median_mins,
               ROUND(QUANTILE_CONT(mins, 0.9), 6) AS p90_mins,
               ROUND(MAX(mins), 6) AS max_mins
        FROM durations
    """,
    }
)


#: x108 — probe parts for the bounded-hop traversal.
HOP_PROBES = (0, 1, 2, 3, 4)


def x108_two_hop_neighborhood(spark, sf_dir):
    """Bounded-hop graph traversal: for five probe parts, the 1-hop and
    2-hop distinct neighborhood sizes in the co-purchase graph — the
    recommendation-candidate expansion every 'customers also bought'
    feature computes.  Edges come from the bounded within-order
    self-join; the probe frontier starts at 5 rows, so both hop joins
    are frontier×edges equi-joins whose left side never exceeds the
    neighborhood itself — the corpus-size edge relation is probed, not
    enumerated."""
    li = T(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(b, (F.col("a.ok") == F.col("b.ok")) & (F.col("a.pk") != F.col("b.pk")))
        .select(F.col("a.pk").alias("src"), F.col("b.pk").alias("dst"))
        .distinct()
    )
    from social_warner_spark.caching import register_persisted

    edges = register_persisted(edges.persist())
    probes = [int(p) for p in HOP_PROBES]
    frontier0 = edges.where(F.col("src").isin(probes)).select(
        F.col("src").alias("probe"), F.col("dst").alias("n1")
    )
    hop1 = frontier0.groupBy("probe").agg(
        F.count_distinct("n1").alias("n_1hop")
    )
    two = (
        frontier0.join(edges, frontier0["n1"] == edges["src"])
        .select("probe", F.col("dst").alias("n2"))
        .where(F.col("n2") != F.col("probe"))
        .unionByName(frontier0.select("probe", F.col("n1").alias("n2")))
    )
    hop2 = two.groupBy("probe").agg(F.count_distinct("n2").alias("n_2hop"))
    return hop1.join(hop2, "probe")


def x109_tokenizer_fertility(spark, sf_dir):
    """Tokenizer fertility per language: BPE-ish regex tokens per
    whitespace word — the compression metric that decides whether a
    tokenizer suits a language/domain (fertility ≫ 1 means the corpus
    costs disproportionate context length).  Pure narrow-map counting;
    one |langs|-group aggregate."""
    from social_warner_spark.functions.text import token_count_bpe, token_count_ws

    d = T(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(token_count_ws(F.col("text"))).alias("ws_tokens"),
        F.sum(token_count_bpe(F.col("text"))).alias("bpe_tokens"),
        r6(
            F.sum(token_count_bpe(F.col("text")))
            / F.sum(token_count_ws(F.col("text"))).cast("double")
        ).alias("fertility"),
    )


QUERIES.update(
    {
        "x108_two_hop_neighborhood": x108_two_hop_neighborhood,
        "x109_tokenizer_fertility": x109_tokenizer_fertility,
    }
)

ORACLES.update(
    {
        "x108_two_hop_neighborhood": f"""
        WITH li AS (
            SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        ), edges AS (
            SELECT DISTINCT a.pk AS src, b.pk AS dst
            FROM li a JOIN li b ON a.ok = b.ok AND a.pk != b.pk
        ), f0 AS (
            SELECT src AS probe, dst AS n1 FROM edges
            WHERE src IN ({", ".join(str(p) for p in HOP_PROBES)})
        ), hop1 AS (
            SELECT probe, COUNT(DISTINCT n1) AS n_1hop FROM f0 GROUP BY probe
        ), two AS (
            SELECT f0.probe, e.dst AS n2
            FROM f0 JOIN edges e ON f0.n1 = e.src
            WHERE e.dst != f0.probe
            UNION ALL
            SELECT probe, n1 FROM f0
        ), hop2 AS (
            SELECT probe, COUNT(DISTINCT n2) AS n_2hop FROM two GROUP BY probe
        )
        SELECT hop1.probe, n_1hop, n_2hop FROM hop1 JOIN hop2 ON hop1.probe = hop2.probe
    """,
        "x109_tokenizer_fertility": r"""
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(len(string_split(trim(text), ' '))) AS BIGINT) AS ws_tokens,
               CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')))
                   AS BIGINT) AS bpe_tokens,
               ROUND(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')))
                     / CAST(SUM(len(string_split(trim(text), ' '))) AS DOUBLE), 6)
                   AS fertility
        FROM documents GROUP BY lang
    """,
    }
)


def _copurchase_edges(spark, sf_dir):
    """Distinct src<dst part pairs sharing an order (x81/x114/x115's
    shared graph construction)."""
    li = T(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    )
    a, b = li.alias("a"), li.alias("b")
    return (
        a.join(b, (F.col("a.ok") == F.col("b.ok")) & (F.col("a.pk") < F.col("b.pk")))
        .select(F.col("a.pk").alias("src"), F.col("b.pk").alias("dst"))
        .distinct()
    )


def x114_degree_assortativity(spark, sf_dir):
    """Degree assortativity of the co-purchase graph: Pearson
    correlation of endpoint degrees over the symmetrized edge list —
    positive means hubs buy with hubs (the topology question behind
    recommendation fan-out planning).  Degrees are a |nodes| relation
    broadcast onto the edges; the correlation is one single-pass moment
    aggregate."""
    edges = _copurchase_edges(spark, sf_dir)
    from social_warner_spark.caching import register_persisted

    edges = register_persisted(edges.persist())
    deg = (
        edges.select(F.col("src").alias("n"))
        .unionAll(edges.select(F.col("dst").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("deg"))
    )
    sym = edges.unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    paired = (
        # |nodes|-sized degree relation: no explicit broadcast hint
        # (scales with SF — AQE picks the side; r05 verdict).
        sym.join(deg.withColumnsRenamed({"n": "src", "deg": "_dx"}), "src")
        .join(deg.withColumnsRenamed({"n": "dst", "deg": "_dy"}), "dst")
    )
    return paired.agg(
        (F.count("*") / 2).cast("long").alias("n_edges"),
        r6(F.corr(F.col("_dx").cast("double"), F.col("_dy").cast("double"))).alias(
            "assortativity"
        ),
    )


def x115_clustering_coefficient(spark, sf_dir):
    """Global clustering coefficient: 3·triangles / wedges, composing
    x81's adjacency-intersect triangle count with the Σ C(deg,2) wedge
    total — the one-number transitivity summary of the co-purchase
    graph.  Wedges are a |nodes|-relation aggregate; triangles reuse the
    bounded-out-degree machinery."""
    from social_warner_spark.operators.graph import triangle_count

    edges = _copurchase_edges(spark, sf_dir)
    tri = triangle_count(edges)
    deg = (
        edges.select(F.col("src").alias("n"))
        .unionAll(edges.select(F.col("dst").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("deg"))
    )
    wedges = deg.agg(
        F.sum(F.col("deg") * (F.col("deg") - 1) / 2).cast("long").alias("n_wedges")
    )
    return tri.crossJoin(wedges).select(
        "n_nodes",
        "n_edges",
        "n_triangles",
        "n_wedges",
        r6(
            F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges").cast("double")
        ).alias("global_cc"),
    )


QUERIES.update(
    {
        "x114_degree_assortativity": x114_degree_assortativity,
        "x115_clustering_coefficient": x115_clustering_coefficient,
    }
)

_EDGES_CTE = """
        WITH e0 AS (
            SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
            FROM lineitem a
            JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                           AND a.l_partkey < b.l_partkey
        ), deg AS (
            SELECT n, COUNT(*) AS deg FROM (
                SELECT src AS n FROM e0 UNION ALL SELECT dst FROM e0
            ) GROUP BY n
        )
"""

ORACLES.update(
    {
        "x114_degree_assortativity": _EDGES_CTE
        + """
        , sym AS (
            SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0
        ), paired AS (
            SELECT dx.deg AS a, dy.deg AS b
            FROM sym JOIN deg dx ON dx.n = sym.src JOIN deg dy ON dy.n = sym.dst
        )
        SELECT CAST(COUNT(*) / 2 AS BIGINT) AS n_edges,
               ROUND(corr(CAST(a AS DOUBLE), CAST(b AS DOUBLE)), 6) AS assortativity
        FROM paired
    """,
        "x115_clustering_coefficient": _EDGES_CTE
        + """
        , wd AS (
            SELECT e0.src, e0.dst, ds.deg AS ds, dd.deg AS dd
            FROM e0 JOIN deg ds ON ds.n = e0.src JOIN deg dd ON dd.n = e0.dst
        ), o AS (
            SELECT CASE WHEN ds < dd OR (ds = dd AND src < dst) THEN src ELSE dst END AS u,
                   CASE WHEN ds < dd OR (ds = dd AND src < dst) THEN dst ELSE src END AS v,
                   CASE WHEN ds < dd OR (ds = dd AND src < dst) THEN dd ELSE ds END AS dv
            FROM wd
        ), w AS (
            SELECT o1.v AS a, o2.v AS b
            FROM o o1 JOIN o o2 ON o1.u = o2.u
                 AND (o1.dv < o2.dv OR (o1.dv = o2.dv AND o1.v < o2.v))
        ), t AS (
            SELECT COUNT(*) AS n_triangles FROM w JOIN o ON o.u = w.a AND o.v = w.b
        ), wedges AS (
            SELECT CAST(SUM(deg * (deg - 1) / 2) AS BIGINT) AS n_wedges FROM deg
        )
        SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
               (SELECT COUNT(*) FROM e0) AS n_edges,
               n_triangles, n_wedges,
               ROUND(3.0 * n_triangles / CAST(n_wedges AS DOUBLE), 6) AS global_cc
        FROM t, wedges
    """,
    }
)


#: x123 — recommendation list size.
REC_K = 50


def x123_popularity_hitrate(spark, sf_dir):
    """Leave-one-out recommender evaluation of the popularity baseline:
    per multi-item order, hold out the max-partkey item, recommend the
    top-50 globally most-ordered parts computed WITHOUT the held-out
    occurrences, and report hit-rate@50 — the sanity floor every
    recommender must beat, evaluated the way the real thing would be.
    Popularity is a |parts| aggregate; the hit test joins the
    |orders|-sized holdout against 50 rows.  The holdout relation
    scales with SF, so it carries NO broadcast hint (r05 verdict)."""
    li = T(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    multi = (
        li.groupBy("ok").agg(F.count("*").alias("_n"), F.max("pk").alias("_held"))
        .where(F.col("_n") >= 2)
        .select("ok", "_held")
    )
    train = li.join(multi, "ok", "left").where(
        F.col("_held").isNull() | (F.col("pk") != F.col("_held"))
    )
    # r05: distributed top-k — no single-partition sort of |parts|
    pop = (
        train.groupBy("pk")
        .agg(F.count("*").alias("_c"))
        .orderBy(F.desc("_c"), F.asc("pk"))
        .limit(REC_K)
        .select(F.col("pk").alias("_rec"))
    )
    hits = multi.join(
        F.broadcast(pop), multi["_held"] == pop["_rec"], "left"
    ).select((F.col("_rec").isNotNull()).cast("long").alias("_hit"))
    return hits.agg(
        F.count("*").alias("n_eval_orders"),
        F.sum("_hit").alias("n_hits"),
        r6(F.avg(F.col("_hit").cast("double"))).alias("hit_rate"),
    )


QUERIES.update({"x123_popularity_hitrate": x123_popularity_hitrate})

ORACLES.update(
    {
        "x123_popularity_hitrate": f"""
        WITH li AS (
            SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        ), multi AS (
            SELECT ok, MAX(pk) AS held FROM li
            GROUP BY ok HAVING COUNT(*) >= 2
        ), train AS (
            SELECT li.ok, li.pk FROM li LEFT JOIN multi ON li.ok = multi.ok
            WHERE multi.held IS NULL OR li.pk != multi.held
        ), pop AS (
            SELECT pk FROM (
                SELECT pk, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, pk ASC) AS rk
                FROM train GROUP BY pk
            ) WHERE rk <= {REC_K}
        ), hits AS (
            SELECT CASE WHEN pop.pk IS NOT NULL THEN 1 ELSE 0 END AS hit
            FROM multi LEFT JOIN pop ON multi.held = pop.pk
        )
        SELECT COUNT(*) AS n_eval_orders,
               CAST(SUM(hit) AS BIGINT) AS n_hits,
               ROUND(AVG(CAST(hit AS DOUBLE)), 6) AS hit_rate
        FROM hits
    """,
    }
)


from social_warner_spark.queries.x9_series import INTERVAL_MINUTES  # noqa: E402


def x124_peak_concurrency(spark, sf_dir):
    """Concurrency sweep over activity intervals: each event opens a
    10-minute window (x76's intervals); +1/−1 boundary deltas sorted by
    time give a running concurrency count — reported as the peak and
    per-day maxima.  The classic capacity question ('how many users are
    active at once?') answered without expanding intervals to samples.
    The sweep is one ordered cumulative sum (range-partitionable by time
    at scale with per-partition offsets, same recipe as x56's global
    index); boundary rows are 2×|events|."""
    e = T(spark, sf_dir, "events").select(
        "event_id",
        F.col("ts").alias("_s"),
        (F.col("ts") + F.expr(f"INTERVAL {INTERVAL_MINUTES} MINUTES")).alias("_e"),
    )
    # end-before-start at ties: a window ending exactly when another
    # starts does not overlap it ([s, e) semantics); delta sorts ensure
    # -1 applies first via (ts, delta) ordering (-1 < +1)
    deltas = e.select(F.col("_s").alias("t"), F.lit(1).alias("d"), "event_id").unionByName(
        e.select(F.col("_e").alias("t"), F.lit(-1).alias("d"), "event_id")
    )
    w = Window.orderBy("t", "d", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    swept = deltas.select(
        "t", F.sum("d").over(w).cast("long").alias("concurrency")
    )
    per_day = swept.groupBy(
        F.date_format("t", "yyyy-MM-dd").alias("day")
    ).agg(F.max("concurrency").alias("peak_concurrency"))
    peak = swept.agg(F.max("concurrency").alias("_gp"))
    return per_day.crossJoin(F.broadcast(peak)).select(
        "day", "peak_concurrency", F.col("_gp").alias("global_peak")
    )


QUERIES.update({"x124_peak_concurrency": x124_peak_concurrency})

ORACLES.update(
    {
        "x124_peak_concurrency": f"""
        WITH e AS (
            SELECT event_id, ts AS s, ts + INTERVAL {{im}} MINUTE AS e FROM events
        ), deltas AS (
            SELECT s AS t, 1 AS d, event_id FROM e
            UNION ALL
            SELECT e.e, -1, event_id FROM e
        ), swept AS (
            SELECT t, CAST(SUM(d) OVER (ORDER BY t, d, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                       AS concurrency
            FROM deltas
        ), per_day AS (
            SELECT strftime(t, '%Y-%m-%d') AS day, MAX(concurrency) AS peak_concurrency
            FROM swept GROUP BY 1
        ), g AS (
            SELECT MAX(concurrency) AS gp FROM swept
        )
        SELECT day, peak_concurrency, gp AS global_peak FROM per_day, g
    """.replace("{im}", str(INTERVAL_MINUTES)),
    }
)


#: x125 — the deletion cohort (stands in for a GDPR request list).
DELETE_USERS = (0, 1, 2, 3, 4)


def x125_deletion_impact(spark, sf_dir):
    """Right-to-be-forgotten impact audit: for a deletion cohort, the
    matching-row counts and post-purge sizes across every table keyed by
    the subject (events by user_id, orders by custkey, lineitem through
    the order join) — the blast-radius report run BEFORE executing a
    purge.  Each table contributes one aggregate row; the lineitem reach
    goes through a broadcast semi-join on the (small) affected-order
    set, so no fact table shuffles."""
    ids = [int(i) for i in DELETE_USERS]

    e = T(spark, sf_dir, "events")
    ev = e.agg(
        F.lit("events").alias("table_name"),
        F.count("*").alias("n_rows"),
        F.sum(F.col("user_id").isin(ids).cast("long")).alias("n_matching"),
    )
    o = T(spark, sf_dir, "orders")
    orr = o.agg(
        F.lit("orders").alias("table_name"),
        F.count("*").alias("n_rows"),
        F.sum(F.col("o_custkey").isin(ids).cast("long")).alias("n_matching"),
    )
    affected = o.where(F.col("o_custkey").isin(ids)).select(
        F.col("o_orderkey").alias("_ok")
    )
    li = T(spark, sf_dir, "lineitem")
    lir = (
        li.join(F.broadcast(affected), li["l_orderkey"] == F.col("_ok"), "left")
        .agg(
            F.lit("lineitem").alias("table_name"),
            F.count("*").alias("n_rows"),
            F.sum(F.col("_ok").isNotNull().cast("long")).alias("n_matching"),
        )
    )
    out = ev.unionByName(orr).unionByName(lir)
    return out.select(
        "table_name",
        "n_rows",
        "n_matching",
        (F.col("n_rows") - F.col("n_matching")).alias("n_after"),
        r6(F.col("n_matching") / F.col("n_rows").cast("double")).alias("purge_frac"),
    )


QUERIES.update({"x125_deletion_impact": x125_deletion_impact})

ORACLES.update(
    {
        "x125_deletion_impact": f"""
        WITH ids AS (
            SELECT UNNEST([{", ".join(str(i) for i in DELETE_USERS)}]) AS id
        ), ev AS (
            SELECT 'events' AS table_name, COUNT(*) AS n_rows,
                   CAST(SUM(CASE WHEN user_id IN (SELECT id FROM ids)
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_matching
            FROM events
        ), orr AS (
            SELECT 'orders', COUNT(*),
                   CAST(SUM(CASE WHEN o_custkey IN (SELECT id FROM ids)
                            THEN 1 ELSE 0 END) AS BIGINT)
            FROM orders
        ), lir AS (
            SELECT 'lineitem', COUNT(*),
                   CAST(SUM(CASE WHEN l_orderkey IN (
                        SELECT o_orderkey FROM orders
                        WHERE o_custkey IN (SELECT id FROM ids))
                            THEN 1 ELSE 0 END) AS BIGINT)
            FROM lineitem
        ), u AS (
            SELECT * FROM ev UNION ALL SELECT * FROM orr UNION ALL SELECT * FROM lir
        )
        SELECT table_name, n_rows, n_matching,
               n_rows - n_matching AS n_after,
               ROUND(n_matching / CAST(n_rows AS DOUBLE), 6) AS purge_frac
        FROM u
    """,
    }
)


#: x126 — histogram resolution for the cardinality estimate.
CARD_BUCKETS = 64


def x126_join_cardinality_estimate(spark, sf_dir):
    """Optimizer-statistics quality audit: estimate |orders ⋈ lineitem|
    from 64-bucket key histograms (Σ over buckets of count_a·count_b /
    bucket-distinct-max — the classic equi-depth estimator) against the
    exact join size, with the relative error.  The histograms are
    |buckets|-row aggregates; the exact join is the (one-shuffle)
    reference the estimator would spare a planner at 100 TB."""
    o = T(spark, sf_dir, "orders").select(F.col("o_orderkey").alias("k"))
    li = T(spark, sf_dir, "lineitem").select(F.col("l_orderkey").alias("k"))

    def bucket(col):
        return md5_int(col.cast("string"), 4) % CARD_BUCKETS

    ho = o.groupBy(bucket(F.col("k")).alias("b")).agg(
        F.count("*").alias("ca"), F.count_distinct("k").alias("da")
    )
    hl = li.groupBy(bucket(F.col("k")).alias("b")).agg(
        F.count("*").alias("cb"), F.count_distinct("k").alias("db")
    )
    est = (
        ho.join(hl, "b")
        .select(
            (
                F.col("ca").cast("double")
                * F.col("cb")
                / F.greatest(F.col("da"), F.col("db")).cast("double")
            ).alias("_e")
        )
        .agg(F.round(F.sum("_e")).cast("long").alias("est_rows"))
    )
    exact = o.join(li, "k").agg(F.count("*").alias("exact_rows"))
    return est.crossJoin(exact).select(
        "est_rows",
        "exact_rows",
        r6(
            F.abs(F.col("est_rows") - F.col("exact_rows"))
            / F.col("exact_rows").cast("double")
        ).alias("rel_err"),
    )


QUERIES.update({"x126_join_cardinality_estimate": x126_join_cardinality_estimate})

ORACLES.update(
    {
        "x126_join_cardinality_estimate": f"""
        WITH ho AS (
            SELECT ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 4))::BIGINT
                       % {CARD_BUCKETS} AS b,
                   COUNT(*) AS ca, COUNT(DISTINCT o_orderkey) AS da
            FROM orders GROUP BY 1
        ), hl AS (
            SELECT ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 4))::BIGINT
                       % {CARD_BUCKETS} AS b,
                   COUNT(*) AS cb, COUNT(DISTINCT l_orderkey) AS db
            FROM lineitem GROUP BY 1
        ), est AS (
            SELECT CAST(ROUND(SUM(CAST(ca AS DOUBLE) * cb
                       / CAST(GREATEST(da, db) AS DOUBLE))) AS BIGINT) AS est_rows
            FROM ho JOIN hl ON ho.b = hl.b
        ), exact AS (
            SELECT COUNT(*) AS exact_rows
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        )
        SELECT est_rows, exact_rows,
               ROUND(ABS(est_rows - exact_rows) / CAST(exact_rows AS DOUBLE), 6)
                   AS rel_err
        FROM est, exact
    """,
    }
)


#: x127 — SLA day thresholds.
SLA_DAYS = (60, 90, 120)


def x127_sla_attainment(spark, sf_dir):
    """Fulfillment SLA attainment: per order priority, the fraction of
    orders fully shipped (last lineitem ship date) within 60/90/120 days
    of the order date — the operations scorecard over the
    order→lineitem join.  One co-keyed join + |orders| aggregate to
    fulfillment days, then a |priorities|×|thresholds| matrix."""
    o = T(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("ok"), "o_orderpriority", "o_orderdate"
    )
    li = T(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), "l_shipdate"
    )
    fulfilled = (
        li.groupBy("ok")
        .agg(F.max("l_shipdate").alias("_last"))
        .join(o, "ok")
        .select(
            "o_orderpriority",
            F.datediff(F.col("_last"), F.col("o_orderdate")).alias("_days"),
        )
    )
    return fulfilled.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        r6(F.avg("_days")).alias("mean_days"),
        *[
            r6(F.avg((F.col("_days") <= d).cast("double"))).alias(f"within_{d}d")
            for d in SLA_DAYS
        ],
    )


QUERIES.update({"x127_sla_attainment": x127_sla_attainment})

ORACLES.update(
    {
        "x127_sla_attainment": f"""
        WITH fulfilled AS (
            SELECT o.o_orderpriority,
                   datediff('day', o.o_orderdate, f.last_ship) AS days
            FROM orders o JOIN (
                SELECT l_orderkey, MAX(l_shipdate) AS last_ship
                FROM lineitem GROUP BY l_orderkey
            ) f ON o.o_orderkey = f.l_orderkey
        )
        SELECT o_orderpriority, COUNT(*) AS n_orders,
               ROUND(AVG(days), 6) AS mean_days,
               {", ".join(
                   f"ROUND(AVG(CASE WHEN days <= {d} THEN 1.0 ELSE 0.0 END), 6) AS within_{d}d"
                   for d in SLA_DAYS
               )}
        FROM fulfilled GROUP BY o_orderpriority
    """,
    }
)


#: x130 — result size for the drifting-user report.
TREND_TOPK = 10
#: x131 — fold count for the assignment audit.
N_FOLDS = 5


def x130_user_trends(spark, sf_dir):
    """Per-entity trend detection: least-squares slope of event value
    against time (days since epoch) for every user, top-10 by absolute
    slope — the drift screen that finds entities whose behavior is
    changing fastest.  Slopes are single-pass moment aggregates per
    user (one shuffle); only the top-k window touches the |users|
    result."""
    e = T(spark, sf_dir, "events").select(
        "user_id",
        F.expr(
            f"timestampdiff(SECOND, TIMESTAMP '{COHORT_EPOCH} 00:00:00', ts)"
            " div 60"
        ).alias("xs"),
        F.round(F.col("value") * 100, 0).cast("long").alias("y"),
    )
    # Exact integer-moment regression: x = whole MINUTES since the fixed
    # epoch (<= 43200 over the 30-day window; xs >= 0 so div/// truncate
    # identically cross-engine), y = the 2dp value scaled to integer
    # cents.  All five moments are EXACT integer sums in both engines
    # (regr_slope's streaming co-moment algorithms differ across engines
    # by ~1e-9 relative — enough to flip a 6dp boundary, as the r04
    # strict mirror caught); the closed-form slope below is then one
    # fixed sequence of double ops, bit-identical cross-engine.  14.4 =
    # 1440 min/day / 100 cents.  Integer ranges (ADVICE r04 fix —
    # seconds overflowed int64 headroom at sf >= 1): with x <= 43200,
    # n*sxx <= n^2 * 1.9e9, so a single user needs > 2e6 events in the
    # window before n*sxx nears 2^63 — per-user event counts stay flat
    # as SF grows (users scale with events), leaving ~5 orders of
    # magnitude of headroom at any SF.
    m = e.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum("xs").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("xs") * F.col("y")).alias("sxy"),
        F.sum(F.col("xs") * F.col("xs")).alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slopes = (
        m.where(den != 0)
        .select(
            "user_id",
            F.col("n").alias("n_events"),
            r6t(num.cast("double") * 14.4 / den.cast("double")).alias(
                "slope_per_day"
            ),
        )
    )
    # r05: distributed top-k (TakeOrderedAndProject) — the |users|
    # slope relation never passes through a single-partition sort; the
    # rank window touches only the k surviving rows.
    w = Window.orderBy(F.desc(F.abs(F.col("slope_per_day"))), F.asc("user_id"))
    return (
        slopes.orderBy(F.desc(F.abs(F.col("slope_per_day"))), F.asc("user_id"))
        .limit(TREND_TOPK)
        .withColumn("rk", F.row_number().over(w).cast("int"))
    )


def x131_fold_balance(spark, sf_dir):
    """K-fold assignment balance audit: deterministic md5 fold ids for
    every document, per-fold×lang counts, and the chi-square statistic
    against the uniform expectation — the check that a hash-fold split
    didn't accidentally cluster a language into one fold.  The
    contingency table is |folds|×|langs|; expectations broadcast."""
    d = T(spark, sf_dir, "documents")
    fold = md5_int(F.col("doc_id").cast("string"), 4) % N_FOLDS
    cells = d.groupBy(fold.alias("fold"), F.col("lang")).agg(
        F.count("*").alias("c")
    )
    lang_tot = cells.groupBy("lang").agg(F.sum("c").alias("lt"))
    chi = (
        cells.join(F.broadcast(lang_tot), "lang")
        .select(
            (
                F.pow(F.col("c") - F.col("lt") / F.lit(float(N_FOLDS)), 2)
                / (F.col("lt") / F.lit(float(N_FOLDS)))
            ).alias("_t")
        )
        .agg(r6(F.sum("_t")).alias("chi_square"))
    )
    sizes = d.groupBy(fold.alias("fold")).agg(F.count("*").alias("n_docs"))
    spread = sizes.agg(
        F.min("n_docs").alias("min_fold"),
        F.max("n_docs").alias("max_fold"),
    )
    return chi.crossJoin(spread).select(
        F.lit(N_FOLDS).alias("n_folds"), "min_fold", "max_fold", "chi_square"
    )


QUERIES.update(
    {
        "x130_user_trends": x130_user_trends,
        "x131_fold_balance": x131_fold_balance,
    }
)

ORACLES.update(
    {
        "x130_user_trends": f"""
        WITH e AS (
            SELECT user_id,
                   date_diff('second',
                             TIMESTAMP '{COHORT_EPOCH} 00:00:00', ts) // 60
                       AS xs,
                   CAST(ROUND(value * 100, 0) AS BIGINT) AS y
            FROM events
        ), m AS (
            SELECT user_id, COUNT(*) AS n, SUM(xs) AS sx, SUM(y) AS sy,
                   SUM(xs * y) AS sxy, SUM(xs * xs) AS sxx
            FROM e GROUP BY user_id
        ), slopes AS (
            SELECT user_id, n AS n_events,
                   ROUND(CAST(n * sxy - sx * sy AS DOUBLE) * 14.4
                         / CAST(n * sxx - sx * sx AS DOUBLE) + 1e-9, 6)
                       AS slope_per_day
            FROM m WHERE n * sxx - sx * sx != 0
        )
        SELECT user_id, n_events, slope_per_day,
               CAST(ROW_NUMBER() OVER (ORDER BY ABS(slope_per_day) DESC, user_id)
                    AS INT) AS rk
        FROM slopes
        QUALIFY rk <= {TREND_TOPK}
    """,
        "x131_fold_balance": f"""
        WITH cells AS (
            SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
                       % {N_FOLDS} AS fold,
                   lang, COUNT(*) AS c
            FROM documents GROUP BY 1, 2
        ), lang_tot AS (
            SELECT lang, SUM(c) AS lt FROM cells GROUP BY lang
        ), chi AS (
            SELECT ROUND(SUM(POWER(c - lt / {float(N_FOLDS)}, 2)
                       / (lt / {float(N_FOLDS)})), 6) AS chi_square
            FROM cells JOIN lang_tot ON cells.lang = lang_tot.lang
        ), sizes AS (
            SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
                       % {N_FOLDS} AS fold, COUNT(*) AS n_docs
            FROM documents GROUP BY 1
        ), spread AS (
            SELECT MIN(n_docs) AS min_fold, MAX(n_docs) AS max_fold FROM sizes
        )
        SELECT {N_FOLDS} AS n_folds, min_fold, max_fold, chi_square
        FROM chi, spread
    """,
    }
)


#: x133 — two-sided α=0.05 and power=0.8 normal quantiles.
Z_ALPHA = 1.959964
Z_BETA = 0.841621


def x132_funnel_by_first_touch(spark, sf_dir):
    """Conversion segmented by acquisition channel: users grouped by
    their FIRST-ever event type, with view→purchase conversion per
    segment — the acquisition-quality question behind channel spend.
    First-touch labels are one user window; the funnel legs reuse x93's
    |users|-sized stage aggregates joined on the label."""
    e = T(spark, sf_dir, "events").select("user_id", "event_id", "event_type", "ts")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    first_touch = (
        e.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("user_id", F.col("event_type").alias("first_touch"))
    )
    viewers = (
        e.where(F.col("event_type") == "view").groupBy("user_id").agg(F.min("ts").alias("t"))
    )
    purchasers = (
        e.where(F.col("event_type") == "purchase")
        .join(viewers, "user_id")
        .where(F.col("ts") > F.col("t"))
        .select("user_id")
        .distinct()
    )
    seg = first_touch.join(viewers.select("user_id"), "user_id").join(
        purchasers.withColumn("_p", F.lit(1)), "user_id", "left"
    )
    return seg.groupBy("first_touch").agg(
        F.count("*").alias("n_viewers"),
        F.sum(F.coalesce(F.col("_p"), F.lit(0)).cast("long")).alias("n_converted"),
        r6(
            F.sum(F.coalesce(F.col("_p"), F.lit(0)))
            / F.count("*").cast("double")
        ).alias("conversion"),
    )


def x133_experiment_power(spark, sf_dir):
    """Power analysis for the x104 experiment: from the per-arm moments,
    the minimum detectable effect at α=0.05 / power=0.8 —
    MDE = (z_α/2 + z_β)·√(var_a/n_a + var_b/n_b) — absolute and as a
    fraction of the control mean.  The answer to 'could this test even
    see the lift we care about?'.  Pure arithmetic on two 6dp-pinned
    moment rows."""
    e = T(spark, sf_dir, "events")
    per_user = (
        e.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.sum("value").alias("_v"))
        .select(
            F.when(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 1)
                < AB_SPLIT_HEX,
                F.lit("A"),
            )
            .otherwise(F.lit("B"))
            .alias("arm"),
            "_v",
        )
    )
    arms = per_user.groupBy("arm").agg(
        F.count("*").alias("n"),
        F.round(F.avg("_v"), 6).alias("mean"),
        F.round(F.var_samp("_v"), 6).alias("var"),
    )
    a = arms.where(F.col("arm") == "A").select(
        F.col("n").alias("n_a"), F.col("mean").alias("mean_a"), F.col("var").alias("_va")
    )
    b = arms.where(F.col("arm") == "B").select(
        F.col("n").alias("n_b"), F.col("var").alias("_vb")
    )
    mde = F.lit(Z_ALPHA + Z_BETA) * F.sqrt(
        F.col("_va") / F.col("n_a") + F.col("_vb") / F.col("n_b")
    )
    return a.crossJoin(b).select(
        "n_a",
        "n_b",
        "mean_a",
        r6(mde).alias("mde_abs"),
        r6(mde / F.col("mean_a")).alias("mde_rel"),
    )


QUERIES.update(
    {
        "x132_funnel_by_first_touch": x132_funnel_by_first_touch,
        "x133_experiment_power": x133_experiment_power,
    }
)

ORACLES.update(
    {
        "x132_funnel_by_first_touch": """
        WITH ft AS (
            SELECT user_id, event_type AS first_touch FROM (
                SELECT user_id, event_type,
                       ROW_NUMBER() OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS rn
                FROM events
            ) WHERE rn = 1
        ), viewers AS (
            SELECT user_id, MIN(ts) AS t FROM events
            WHERE event_type = 'view' GROUP BY user_id
        ), purchasers AS (
            SELECT DISTINCT e.user_id
            FROM events e JOIN viewers v ON e.user_id = v.user_id AND e.ts > v.t
            WHERE e.event_type = 'purchase'
        )
        SELECT ft.first_touch,
               COUNT(*) AS n_viewers,
               CAST(SUM(CASE WHEN p.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_converted,
               ROUND(SUM(CASE WHEN p.user_id IS NOT NULL THEN 1 ELSE 0 END)
                     / CAST(COUNT(*) AS DOUBLE), 6) AS conversion
        FROM ft
        JOIN viewers USING (user_id)
        LEFT JOIN purchasers p USING (user_id)
        GROUP BY ft.first_touch
    """,
        "x133_experiment_power": f"""
        WITH per_user AS (
            SELECT CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
                        THEN 'A' ELSE 'B' END AS arm,
                   SUM(value) AS v
            FROM events WHERE event_type = 'purchase' GROUP BY user_id
        ), arms AS (
            SELECT arm, COUNT(*) AS n, ROUND(AVG(v), 6) AS mean,
                   ROUND(VAR_SAMP(v), 6) AS var
            FROM per_user GROUP BY arm
        )
        SELECT a.n AS n_a, b.n AS n_b, a.mean AS mean_a,
               ROUND({Z_ALPHA + Z_BETA} * sqrt(a.var / a.n + b.var / b.n), 6)
                   AS mde_abs,
               ROUND({Z_ALPHA + Z_BETA} * sqrt(a.var / a.n + b.var / b.n)
                     / a.mean, 6) AS mde_rel
        FROM arms a, arms b WHERE a.arm = 'A' AND b.arm = 'B'
    """,
    }
)


#: x135 — trailing window length (days) and anomaly threshold (robust z).
ANOM_WINDOW = 7
ANOM_Z = 2.0


def x134_repeat_purchase_gaps(spark, sf_dir):
    """Repeat-purchase behavior: gaps in hours between consecutive
    purchases per user — repeat-purchaser share and the gap
    distribution (min/median/p90) — the loyalty metric behind
    replenishment campaigns.  One user window for the lag; percentiles
    run on the \\|gaps\\| relation."""
    e = T(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        e.select(
            "user_id",
            (
                F.expr("timestampdiff(MICROSECOND, lag(ts) OVER "
                       "(PARTITION BY user_id ORDER BY ts, event_id), ts)")
                / 3600_000_000.0
            ).alias("_gap_h"),
        )
        .where(F.col("_gap_h").isNotNull())
    )
    buyers = e.groupBy("user_id").agg(F.count("*").alias("_n"))
    share = buyers.agg(
        F.count("*").alias("n_buyers"),
        r6(F.avg((F.col("_n") >= 2).cast("double"))).alias("repeat_share"),
    )
    dist = gaps.agg(
        F.count("*").alias("n_gaps"),
        r6(F.min("_gap_h")).alias("min_gap_h"),
        r6(F.median("_gap_h")).alias("median_gap_h"),
        r6(F.percentile("_gap_h", F.lit(0.9))).alias("p90_gap_h"),
    )
    return share.crossJoin(dist)


def x135_trailing_anomalies(spark, sf_dir):
    """Time-series anomaly detection on the daily revenue total: each
    day compared against its TRAILING-7-day mean/stddev (frame ends at
    the previous day — the current value never contaminates its own
    baseline), flagged beyond 2σ.  One |days|-sized window after the
    daily aggregate; the classic ops alerting shape."""
    e = T(spark, sf_dir, "events")
    daily = e.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day")).agg(
        F.round(F.sum("value"), 2).alias("total")
    )
    w = Window.orderBy("day").rowsBetween(-ANOM_WINDOW, -1)
    flagged = daily.select(
        "day",
        "total",
        F.round(F.avg("total").over(w), 6).alias("trailing_mean"),
        F.round(F.stddev_samp("total").over(w), 6).alias("trailing_std"),
        F.count("total").over(w).alias("_nw"),
    ).where(F.col("_nw") >= 3)
    return flagged.select(
        "day",
        "total",
        "trailing_mean",
        (
            F.abs(F.col("total") - F.col("trailing_mean"))
            > F.lit(ANOM_Z) * F.col("trailing_std")
        ).alias("is_anomaly"),
    )


QUERIES.update(
    {
        "x134_repeat_purchase_gaps": x134_repeat_purchase_gaps,
        "x135_trailing_anomalies": x135_trailing_anomalies,
    }
)

ORACLES.update(
    {
        "x134_repeat_purchase_gaps": """
        WITH p AS (
            SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
        ), gaps AS (
            SELECT epoch_us(ts - LAG(ts) OVER (PARTITION BY user_id
                                               ORDER BY ts, event_id))
                   / 1000000.0 / 3600.0 AS gap_h
            FROM p
        ), g AS (
            SELECT gap_h FROM gaps WHERE gap_h IS NOT NULL
        ), buyers AS (
            SELECT user_id, COUNT(*) AS n FROM p GROUP BY user_id
        ), share AS (
            SELECT COUNT(*) AS n_buyers,
                   ROUND(AVG(CASE WHEN n >= 2 THEN 1.0 ELSE 0.0 END), 6)
                       AS repeat_share
            FROM buyers
        ), dist AS (
            SELECT COUNT(*) AS n_gaps,
                   ROUND(MIN(gap_h), 6) AS min_gap_h,
                   ROUND(MEDIAN(gap_h), 6) AS median_gap_h,
                   ROUND(QUANTILE_CONT(gap_h, 0.9), 6) AS p90_gap_h
            FROM g
        )
        SELECT n_buyers, repeat_share, n_gaps, min_gap_h, median_gap_h, p90_gap_h
        FROM share, dist
    """,
        "x135_trailing_anomalies": f"""
        WITH daily AS (
            SELECT strftime(ts, '%Y-%m-%d') AS day,
                   ROUND(SUM(value), 2) AS total
            FROM events GROUP BY 1
        ), flagged AS (
            SELECT day, total,
                   ROUND(AVG(total) OVER (ORDER BY day
                       ROWS BETWEEN {ANOM_WINDOW} PRECEDING AND 1 PRECEDING), 6)
                       AS trailing_mean,
                   ROUND(STDDEV_SAMP(total) OVER (ORDER BY day
                       ROWS BETWEEN {ANOM_WINDOW} PRECEDING AND 1 PRECEDING), 6)
                       AS trailing_std,
                   COUNT(total) OVER (ORDER BY day
                       ROWS BETWEEN {ANOM_WINDOW} PRECEDING AND 1 PRECEDING) AS nw
            FROM daily
        )
        SELECT day, total, trailing_mean,
               ABS(total - trailing_mean) > {ANOM_Z} * trailing_std AS is_anomaly
        FROM flagged WHERE nw >= 3
    """,
    }
)


#: x136 — concentration target.
PARETO_TARGET = 0.8


def x136_pareto_concentration(spark, sf_dir):
    """Pareto/concentration analysis of revenue by customer: customers
    ranked by spend, cumulative share, and how few customers cover 80%
    of revenue — the concentration-risk question every account team
    asks.  Per-customer totals are one shuffle; the cumulative share
    (r05) runs through the DISTRIBUTED prefix sum over exact integer
    cents (operators/ordered.py — float cumsums reassociate across
    partition boundaries, integer ones cannot; prices are 2dp so cents
    are exact), so the |customers| relation never passes through a
    single-partition sort."""
    from social_warner_spark.operators.ordered import with_grouped_cumsum

    o = T(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("_vc")
    )
    tot = per.agg(F.sum("_vc").alias("_t"))
    cum = with_grouped_cumsum(
        per.withColumn("_one", F.lit(1).cast("long")),
        [],
        [F.desc("_vc"), F.asc("o_custkey")],
        {"_cumvc": "_vc", "rk": "_one"},
    )
    ranked = cum.crossJoin(F.broadcast(tot)).select(
        "o_custkey",
        "rk",
        (F.col("_cumvc").cast("double") / F.col("_t").cast("double")).alias(
            "_cum"
        ),
    )
    n_cust = per.agg(F.count("*").alias("n_customers"))
    covered = ranked.where(F.col("_cum") >= PARETO_TARGET).agg(
        F.min("rk").alias("n_for_80pct")
    )
    top_decile = ranked.crossJoin(F.broadcast(n_cust)).where(
        F.col("rk") <= F.ceil(F.col("n_customers") / 10)
    ).agg(r6(F.max("_cum")).alias("top_decile_share"))
    return n_cust.crossJoin(covered).crossJoin(top_decile).select(
        "n_customers",
        "n_for_80pct",
        r6(F.col("n_for_80pct") / F.col("n_customers").cast("double")).alias(
            "frac_for_80pct"
        ),
        "top_decile_share",
    )


def x137_rfm_segments(spark, sf_dir):
    """RFM segmentation: per purchasing user, recency (days since last
    purchase vs the corpus max date), frequency, and monetary terciles
    (ntile(3) each, 1 = best), concatenated to a segment code and
    counted — the classic lifecycle segmentation.  Per-user stats are
    one shuffle; the three tercile windows sort the |users| relation."""
    e = T(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    anchor = e.agg(F.max("ts").alias("_mx"))
    per = (
        e.groupBy("user_id")
        .agg(
            F.max("ts").alias("_last"),
            F.count("*").alias("_freq"),
            F.round(F.sum("value"), 2).alias("_mon"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            "user_id",
            F.expr("timestampdiff(SECOND, _last, _mx)").alias("_rec_s"),
            "_freq",
            "_mon",
        )
    )
    # r05: three DISTRIBUTED exact ntiles (operators/ordered.py) — the
    # |users| relation never passes through a single-partition sort.
    from social_warner_spark.operators.ordered import with_global_ntile

    t = with_global_ntile(per, [F.asc("_rec_s"), F.asc("user_id")], 3, "_r")
    t = with_global_ntile(t, [F.desc("_freq"), F.asc("user_id")], 3, "_f")
    t = with_global_ntile(t, [F.desc("_mon"), F.asc("user_id")], 3, "_m")
    coded = t.select(
        F.concat_ws(
            "-",
            F.col("_r").cast("string"),
            F.col("_f").cast("string"),
            F.col("_m").cast("string"),
        ).alias("segment")
    )
    return coded.groupBy("segment").agg(F.count("*").alias("n_users"))


QUERIES.update(
    {
        "x136_pareto_concentration": x136_pareto_concentration,
        "x137_rfm_segments": x137_rfm_segments,
    }
)

ORACLES.update(
    {
        "x136_pareto_concentration": f"""
        WITH per AS (
            SELECT o_custkey,
                   SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS v
            FROM orders GROUP BY o_custkey
        ), tot AS (
            SELECT SUM(v) AS t FROM per
        ), ranked AS (
            SELECT o_custkey,
                   ROW_NUMBER() OVER (ORDER BY v DESC, o_custkey) AS rk,
                   CAST(SUM(v) OVER (ORDER BY v DESC, o_custkey
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS DOUBLE)
                       / CAST(tot.t AS DOUBLE) AS cum
            FROM per, tot
        ), nc AS (
            SELECT COUNT(*) AS n_customers FROM per
        ), covered AS (
            SELECT MIN(rk) AS n_for_80pct FROM ranked WHERE cum >= {PARETO_TARGET}
        ), td AS (
            SELECT ROUND(MAX(cum), 6) AS top_decile_share
            FROM ranked, nc WHERE rk <= CEIL(n_customers / 10.0)
        )
        SELECT n_customers, n_for_80pct,
               ROUND(n_for_80pct / CAST(n_customers AS DOUBLE), 6) AS frac_for_80pct,
               top_decile_share
        FROM nc, covered, td
    """,
        "x137_rfm_segments": """
        WITH p AS (
            SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
        ), anchor AS (
            SELECT MAX(ts) AS mx FROM p
        ), per AS (
            SELECT user_id,
                   epoch_us(anchor.mx - MAX(ts)) // 1000000 AS rec_s,
                   COUNT(*) AS freq,
                   ROUND(SUM(value), 2) AS mon
            FROM p, anchor GROUP BY user_id, anchor.mx
        ), coded AS (
            SELECT concat_ws('-',
                CAST(NTILE(3) OVER (ORDER BY rec_s ASC, user_id ASC) AS VARCHAR),
                CAST(NTILE(3) OVER (ORDER BY freq DESC, user_id ASC) AS VARCHAR),
                CAST(NTILE(3) OVER (ORDER BY mon DESC, user_id ASC) AS VARCHAR))
                AS segment
            FROM per
        )
        SELECT segment, COUNT(*) AS n_users FROM coded GROUP BY segment
    """,
    }
)


#: x141 — result bound per brand.
BRAND_TOP_TYPES = 3


def x140_supplier_scorecard(spark, sf_dir):
    """Supplier scorecard: per supplier the revenue, return rate
    (l_returnflag='R' share), and revenue rank WITHIN the supplier's
    nation — the vendor-management report joining facts to two
    dimensions with a partitioned rank.  Lineitem aggregates once to
    |suppliers| rows; both dims broadcast; top-3 per nation."""
    li = T(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("_rev"),
        (F.col("l_returnflag") == "R").cast("double").alias("_ret"),
    )
    per = li.groupBy("l_suppkey").agg(
        F.round(F.sum("_rev"), 2).alias("revenue"),
        F.count("*").alias("n_lines"),
        r6(F.avg("_ret")).alias("return_rate"),
    )
    s = T(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_name", "s_nationkey"
    )
    n = T(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nationkey"), "n_name"
    )
    # supplier scales with SF → no hint; nation is 25 rows → hinted.
    joined = per.join(s, "l_suppkey").join(F.broadcast(n), "s_nationkey")
    w = Window.partitionBy("n_name").orderBy(F.desc("revenue"), F.asc("l_suppkey"))
    return (
        joined.withColumn("nation_rank", F.row_number().over(w).cast("int"))
        .where(F.col("nation_rank") <= 3)
        .select(
            "n_name",
            "nation_rank",
            F.col("l_suppkey").alias("s_suppkey"),
            "s_name",
            "revenue",
            "n_lines",
            "return_rate",
        )
    )


def x141_brand_type_share(spark, sf_dir):
    """Brand market-share matrix: revenue share of each part type within
    its brand, top-3 types per brand — the category-management rollup
    over the part dimension.  Lineitem aggregates once to |brand×type|
    rows; the share normalizer and rank share the brand partition."""
    li = T(spark, sf_dir, "lineitem").select(
        "l_partkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("_rev"),
    )
    p = T(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand", "p_type"
    )
    cells = (
        # part scales with SF → no explicit broadcast hint (r05 verdict)
        li.join(p, "l_partkey")
        .groupBy("p_brand", "p_type")
        .agg(F.round(F.sum("_rev"), 2).alias("revenue"))
    )
    wb = Window.partitionBy("p_brand")
    wr = Window.partitionBy("p_brand").orderBy(F.desc("revenue"), F.asc("p_type"))
    return (
        cells.select(
            "p_brand",
            "p_type",
            "revenue",
            r6(F.col("revenue") / F.sum("revenue").over(wb)).alias("brand_share"),
            F.row_number().over(wr).cast("int").alias("rk"),
        )
        .where(F.col("rk") <= BRAND_TOP_TYPES)
    )


QUERIES.update(
    {
        "x140_supplier_scorecard": x140_supplier_scorecard,
        "x141_brand_type_share": x141_brand_type_share,
    }
)

ORACLES.update(
    {
        "x140_supplier_scorecard": """
        WITH per AS (
            SELECT l_suppkey,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   COUNT(*) AS n_lines,
                   ROUND(AVG(CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END), 6)
                       AS return_rate
            FROM lineitem GROUP BY l_suppkey
        ), joined AS (
            SELECT n.n_name, per.l_suppkey AS s_suppkey, s.s_name,
                   per.revenue, per.n_lines, per.return_rate,
                   CAST(ROW_NUMBER() OVER (PARTITION BY n.n_name
                        ORDER BY per.revenue DESC, per.l_suppkey) AS INT)
                       AS nation_rank
            FROM per
            JOIN supplier s ON s.s_suppkey = per.l_suppkey
            JOIN nation n ON n.n_nationkey = s.s_nationkey
        )
        SELECT n_name, nation_rank, s_suppkey, s_name, revenue, n_lines, return_rate
        FROM joined WHERE nation_rank <= 3
    """,
        "x141_brand_type_share": f"""
        WITH cells AS (
            SELECT p.p_brand, p.p_type,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
            GROUP BY p.p_brand, p.p_type
        )
        SELECT p_brand, p_type, revenue,
               ROUND(revenue / SUM(revenue) OVER (PARTITION BY p_brand), 6)
                   AS brand_share,
               CAST(ROW_NUMBER() OVER (PARTITION BY p_brand
                    ORDER BY revenue DESC, p_type) AS INT) AS rk
        FROM cells
        QUALIFY rk <= {BRAND_TOP_TYPES}
    """,
    }
)


def x142_discount_elasticity(spark, sf_dir):
    """Discount-volume response per brand: correlation between discount
    level and quantity, plus mean quantity at zero vs nonzero discount —
    the 'does discounting move volume?' read.  Single-pass moment
    aggregates per brand after one broadcast dimension join."""
    li = T(spark, sf_dir, "lineitem").select(
        "l_partkey", F.col("l_discount").alias("_d"), F.col("l_quantity").alias("_q")
    )
    p = T(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    j = li.join(p, "l_partkey")  # part scales with SF → no hint
    return j.groupBy("p_brand").agg(
        F.count("*").alias("n_lines"),
        r6(F.corr(F.col("_d"), F.col("_q"))).alias("corr_disc_qty"),
        r6(F.avg(F.when(F.col("_d") == 0, F.col("_q")))).alias("mean_qty_no_disc"),
        r6(F.avg(F.when(F.col("_d") > 0, F.col("_q")))).alias("mean_qty_disc"),
    )


def x143_basket_economics(spark, sf_dir):
    """Basket-size economics: orders bucketed by line count, with order
    counts and mean order value per bucket — the 'bigger baskets, bigger
    tickets?' curve.  One |orders|-row aggregate then a ≤\\|max-lines\\|
    bucket table."""
    li = T(spark, sf_dir, "lineitem").groupBy(F.col("l_orderkey").alias("ok")).agg(
        F.count("*").alias("n_lines")
    )
    o = T(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("ok"), "o_totalprice"
    )
    j = o.join(li, "ok")
    return j.groupBy("n_lines").agg(
        F.count("*").alias("n_orders"),
        F.round(F.avg("o_totalprice"), 2).alias("mean_order_value"),
    )


QUERIES.update(
    {
        "x142_discount_elasticity": x142_discount_elasticity,
        "x143_basket_economics": x143_basket_economics,
    }
)

ORACLES.update(
    {
        "x142_discount_elasticity": """
        SELECT p.p_brand,
               COUNT(*) AS n_lines,
               ROUND(corr(l_discount, l_quantity), 6) AS corr_disc_qty,
               ROUND(AVG(CASE WHEN l_discount = 0 THEN l_quantity END), 6)
                   AS mean_qty_no_disc,
               ROUND(AVG(CASE WHEN l_discount > 0 THEN l_quantity END), 6)
                   AS mean_qty_disc
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY p.p_brand
    """,
        "x143_basket_economics": """
        WITH li AS (
            SELECT l_orderkey AS ok, COUNT(*) AS n_lines
            FROM lineitem GROUP BY l_orderkey
        )
        SELECT n_lines, COUNT(*) AS n_orders,
               ROUND(AVG(o_totalprice), 2) AS mean_order_value
        FROM orders JOIN li ON o_orderkey = li.ok
        GROUP BY n_lines
    """,
    }
)


def x144_trade_matrix(spark, sf_dir):
    """Customer-nation × supplier-nation revenue flow matrix with row
    shares — the full generalization of the TPC-H q7 two-nation volume
    question.  Facts join once to each side's broadcast dim chain; the
    matrix is \\|nations\\|² and the share normalizer rides a window over
    it."""
    li = T(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("_rev"),
    )
    o = T(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_custkey"
    )
    c = T(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), F.col("c_nationkey")
    )
    s = T(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), F.col("s_nationkey")
    )
    n = T(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    flows = (
        li.join(o, "l_orderkey")
        # customer/supplier scale with SF → no hints; nations hinted.
        .join(c, "o_custkey")
        .join(s, "l_suppkey")
        .join(
            F.broadcast(n.withColumnsRenamed({"n_nationkey": "c_nationkey", "n_name": "cust_nation"})),
            "c_nationkey",
        )
        .join(
            F.broadcast(n.withColumnsRenamed({"n_nationkey": "s_nationkey", "n_name": "supp_nation"})),
            "s_nationkey",
        )
        .groupBy("cust_nation", "supp_nation")
        # r2t (r08): Σ of exact-4dp terms lands on the 2dp half-grid —
        # the sf0.001 sweep caught 753930.795 rounding .79/.8 across
        # engines; the nudge (mirrored in the oracle) fixes the side.
        .agg(r2t(F.sum("_rev")).alias("revenue"))
    )
    w = Window.partitionBy("cust_nation")
    return flows.select(
        "cust_nation",
        "supp_nation",
        "revenue",
        r6(F.col("revenue") / F.sum("revenue").over(w)).alias("cust_row_share"),
    )


def x145_price_realization(spark, sf_dir):
    """Price-realization audit per part type: catalog retail price vs
    the realized per-unit price (revenue/quantity), with the discount
    depth — the margin-erosion read over the unused p_retailprice
    column.  Facts aggregate once per part, then roll to \\|types\\|
    with the dim broadcast."""
    li = T(spark, sf_dir, "lineitem").select(
        "l_partkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("_rev"),
        F.col("l_quantity").alias("_q"),
    )
    per_part = li.groupBy("l_partkey").agg(
        F.sum("_rev").alias("_rev"), F.sum("_q").alias("_q")
    )
    p = T(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_type", "p_retailprice"
    )
    j = per_part.join(p, "l_partkey")  # part scales with SF → no hint
    return j.groupBy("p_type").agg(
        F.count("*").alias("n_parts"),
        F.round(F.avg("p_retailprice"), 2).alias("mean_retail"),
        F.round(F.sum("_rev") / F.sum("_q"), 2).alias("realized_unit_price"),
        r6(
            F.lit(1.0) - (F.sum("_rev") / F.sum("_q")) / F.avg("p_retailprice")
        ).alias("realization_gap"),
    )


QUERIES.update(
    {
        "x144_trade_matrix": x144_trade_matrix,
        "x145_price_realization": x145_price_realization,
    }
)

ORACLES.update(
    {
        "x144_trade_matrix": """
        WITH flows AS (
            SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
                   ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)) + 1e-6, 2) AS revenue
            FROM lineitem l
            JOIN orders o ON o.o_orderkey = l.l_orderkey
            JOIN customer c ON c.c_custkey = o.o_custkey
            JOIN supplier s ON s.s_suppkey = l.l_suppkey
            JOIN nation cn ON cn.n_nationkey = c.c_nationkey
            JOIN nation sn ON sn.n_nationkey = s.s_nationkey
            GROUP BY 1, 2
        )
        SELECT cust_nation, supp_nation, revenue,
               ROUND(revenue / SUM(revenue) OVER (PARTITION BY cust_nation), 6)
                   AS cust_row_share
        FROM flows
    """,
        "x145_price_realization": """
        WITH per_part AS (
            SELECT l_partkey,
                   SUM(l_extendedprice * (1 - l_discount)) AS rev,
                   SUM(l_quantity) AS q
            FROM lineitem GROUP BY l_partkey
        )
        SELECT p.p_type,
               COUNT(*) AS n_parts,
               ROUND(AVG(p.p_retailprice), 2) AS mean_retail,
               ROUND(SUM(rev) / SUM(q), 2) AS realized_unit_price,
               ROUND(1.0 - (SUM(rev) / SUM(q)) / AVG(p.p_retailprice), 6)
                   AS realization_gap
        FROM per_part JOIN part p ON p.p_partkey = per_part.l_partkey
        GROUP BY p.p_type
    """,
    }
)


def x146_session_depth_conversion(spark, sf_dir):
    """Engagement-depth curve: sessions bucketed by event count, with
    the fraction containing a purchase — the 'deeper sessions convert
    more?' read behind engagement optimization.  Sessionization is one
    user shuffle (x36's operator); everything after is
    \\|sessions\\|-sized."""
    from social_warner_spark.operators.timeseries import sessionize

    s = sessionize(T(spark, sf_dir, "events"), gap_minutes=30)
    per = s.groupBy("user_id", "session_id").agg(
        F.count("*").alias("depth"),
        F.max((F.col("event_type") == "purchase").cast("int")).alias("_conv"),
    )
    return per.groupBy("depth").agg(
        F.count("*").alias("n_sessions"),
        r6(F.avg(F.col("_conv").cast("double"))).alias("conversion_rate"),
    )


def x147_activation_lag(spark, sf_dir):
    """Activation lag: hours from each user's FIRST event to their first
    purchase (if any), activation rate plus the lag distribution — the
    onboarding-funnel health metric.  Two \\|users\\|-row aggregates
    joined on the key; percentiles run on \\|activated users\\|."""
    e = T(spark, sf_dir, "events")
    first_any = e.groupBy("user_id").agg(F.min("ts").alias("_t0"))
    first_buy = (
        e.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("_tp"))
    )
    j = first_any.join(first_buy, "user_id", "left").select(
        (F.col("_tp").isNotNull()).alias("_act"),
        (
            F.expr("timestampdiff(MICROSECOND, _t0, _tp)") / 3600_000_000.0
        ).alias("_lag_h"),
    )
    rate = j.agg(
        F.count("*").alias("n_users"),
        r6(F.avg(F.col("_act").cast("double"))).alias("activation_rate"),
    )
    dist = j.where(F.col("_act")).agg(
        r6(F.median("_lag_h")).alias("median_lag_h"),
        r6(F.percentile("_lag_h", F.lit(0.9))).alias("p90_lag_h"),
    )
    return rate.crossJoin(dist)


def x148_acctbal_risk(spark, sf_dir):
    """Receivables risk by nation: negative-balance customer share and
    balance quartile boundaries per nation — the credit screen over the
    previously unused acctbal column.  Customer aggregates once per
    nation with the dim broadcast; quartiles are exact percentiles on
    \\|nation\\| groups."""
    c = T(spark, sf_dir, "customer").select("c_custkey", "c_nationkey", "c_acctbal")
    n = T(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"), "n_name"
    )
    j = c.join(F.broadcast(n), "c_nationkey")
    return j.groupBy("n_name").agg(
        F.count("*").alias("n_customers"),
        r6(F.avg((F.col("c_acctbal") < 0).cast("double"))).alias("negative_share"),
        # +1e-9 tie-nudge (queries/common.py:r6t rationale): quartile
        # interpolation of 2dp balances yields exact 4dp decimals that
        # land ON the 2dp rounding boundary where the engines' ROUND
        # implementations disagree (surfaced by the sf0.1 strict mirror)
        F.round(F.percentile("c_acctbal", F.lit(0.25)) + F.lit(1e-9), 2).alias("q1"),
        F.round(F.median("c_acctbal") + F.lit(1e-9), 2).alias("q2"),
        F.round(F.percentile("c_acctbal", F.lit(0.75)) + F.lit(1e-9), 2).alias("q3"),
    )


QUERIES.update(
    {
        "x146_session_depth_conversion": x146_session_depth_conversion,
        "x147_activation_lag": x147_activation_lag,
        "x148_acctbal_risk": x148_acctbal_risk,
    }
)

ORACLES.update(
    {
        "x146_session_depth_conversion": """
        WITH ordered AS (
            SELECT user_id, event_id, event_type, ts,
                   CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                             IS NULL
                          OR ts > LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                               + INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS nf
            FROM events
        ), sess AS (
            SELECT user_id, event_type,
                   SUM(nf) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS session_id
            FROM ordered
        ), per AS (
            SELECT user_id, session_id, COUNT(*) AS depth,
                   MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
            FROM sess GROUP BY user_id, session_id
        )
        SELECT depth, COUNT(*) AS n_sessions,
               ROUND(AVG(CAST(conv AS DOUBLE)), 6) AS conversion_rate
        FROM per GROUP BY depth
    """,
        "x147_activation_lag": """
        WITH first_any AS (
            SELECT user_id, MIN(ts) AS t0 FROM events GROUP BY user_id
        ), first_buy AS (
            SELECT user_id, MIN(ts) AS tp FROM events
            WHERE event_type = 'purchase' GROUP BY user_id
        ), j AS (
            SELECT fb.user_id IS NOT NULL AS act,
                   epoch_us(fb.tp - fa.t0) / 3600000000.0 AS lag_h
            FROM first_any fa LEFT JOIN first_buy fb ON fa.user_id = fb.user_id
        ), rate AS (
            SELECT COUNT(*) AS n_users,
                   ROUND(AVG(CASE WHEN act THEN 1.0 ELSE 0.0 END), 6)
                       AS activation_rate
            FROM j
        ), dist AS (
            SELECT ROUND(MEDIAN(lag_h), 6) AS median_lag_h,
                   ROUND(QUANTILE_CONT(lag_h, 0.9), 6) AS p90_lag_h
            FROM j WHERE act
        )
        SELECT n_users, activation_rate, median_lag_h, p90_lag_h FROM rate, dist
    """,
        "x148_acctbal_risk": """
        SELECT n.n_name,
               COUNT(*) AS n_customers,
               ROUND(AVG(CASE WHEN c_acctbal < 0 THEN 1.0 ELSE 0.0 END), 6)
                   AS negative_share,
               ROUND(QUANTILE_CONT(c_acctbal, 0.25) + 1e-9, 2) AS q1,
               ROUND(MEDIAN(c_acctbal) + 1e-9, 2) AS q2,
               ROUND(QUANTILE_CONT(c_acctbal, 0.75) + 1e-9, 2) AS q3
        FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY n.n_name
    """,
    }
)


#: x149 — neighbors kept per item.
CF_TOPK = 5
#: x149 — minimum co-occurrence to score a pair.
CF_MIN_COOC = 3


def x149_item_item_cf(spark, sf_dir):
    """Item-item collaborative filtering: cosine over order-occurrence
    vectors — sim(a,b) = cooc(a,b) / √(n_a·n_b) — top-5 neighbors per
    part, the classic 'customers who bought X also bought' model
    (distinct from content ANN: similarity comes from BEHAVIOR, not
    embeddings).  Co-occurrence reuses the bounded within-order pair
    join; item counts broadcast; the per-item top-k rank pushes as
    WindowGroupLimit."""
    li = T(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    item = li.groupBy("pk").agg(F.count("*").alias("_n"))
    a, b = li.alias("a"), li.alias("b")
    cooc = (
        a.join(b, (F.col("a.ok") == F.col("b.ok")) & (F.col("a.pk") != F.col("b.pk")))
        .groupBy(F.col("a.pk").alias("item"), F.col("b.pk").alias("neighbor"))
        .agg(F.count("*").alias("cooc"))
        .where(F.col("cooc") >= CF_MIN_COOC)
    )
    scored = (
        # |items|-sized counts: no explicit broadcast hint (scales with
        # SF — AQE picks the side; r05 verdict).
        cooc.join(item.withColumnsRenamed({"pk": "item", "_n": "_na"}), "item")
        .join(
            item.withColumnsRenamed({"pk": "neighbor", "_n": "_nb"}),
            "neighbor",
        )
        .select(
            "item",
            "neighbor",
            "cooc",
            F.round(
                F.col("cooc") / F.sqrt(F.col("_na").cast("double") * F.col("_nb")), 6
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("item").orderBy(F.desc("sim"), F.asc("neighbor"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= CF_TOPK)
    )


def x150_change_point(spark, sf_dir):
    """Single change-point detection on the daily revenue series: the
    split day maximizing |mean(before) − mean(after)| (both sides
    non-empty), reported with the two means and the shift — the simplest
    honest answer to 'when did behavior change?'.  Candidate evaluation
    uses running prefix sums over the |days| relation (two windows, one
    sort) — never a days × days join.  The daily grid is
    localCheckpoint-ed (r06: its two consumers each re-embedded the
    events aggregation) and the argmax is orderBy+limit 1
    (TakeOrderedAndProject — per-partition heap, no global rank
    window)."""
    e = T(spark, sf_dir, "events")
    daily = e.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day")).agg(
        F.round(F.sum("value"), 2).alias("total")
    ).localCheckpoint(eager=True)
    wall = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    n = daily.agg(F.count("*").alias("_n"), F.sum("total").alias("_t"))
    pre = daily.crossJoin(F.broadcast(n)).select(
        "day",
        F.sum("total").over(wall).alias("_ps"),
        F.count("*").over(wall).alias("_pn"),
        "_n",
        "_t",
    )
    cand = pre.where(F.col("_pn") < F.col("_n")).select(
        "day",
        F.round(F.col("_ps") / F.col("_pn"), 6).alias("mean_before"),
        F.round(
            (F.col("_t") - F.col("_ps")) / (F.col("_n") - F.col("_pn")), 6
        ).alias("mean_after"),
    )
    best = cand.select(
        "day",
        "mean_before",
        "mean_after",
        F.round(F.abs(F.col("mean_after") - F.col("mean_before")), 6).alias("shift"),
    )
    return (
        best.orderBy(F.desc("shift"), F.asc("day"))
        .limit(1)
        .select(
            F.col("day").alias("change_day"), "mean_before", "mean_after", "shift"
        )
    )


QUERIES.update(
    {
        "x149_item_item_cf": x149_item_item_cf,
        "x150_change_point": x150_change_point,
    }
)

ORACLES.update(
    {
        "x149_item_item_cf": f"""
        WITH li AS (
            SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        ), item AS (
            SELECT pk, COUNT(*) AS n FROM li GROUP BY pk
        ), cooc AS (
            SELECT a.pk AS item, b.pk AS neighbor, COUNT(*) AS cooc
            FROM li a JOIN li b ON a.ok = b.ok AND a.pk != b.pk
            GROUP BY 1, 2 HAVING COUNT(*) >= {CF_MIN_COOC}
        ), scored AS (
            SELECT cooc.item, cooc.neighbor, cooc.cooc,
                   ROUND(cooc.cooc
                         / sqrt(CAST(ia.n AS DOUBLE) * ib.n), 6) AS sim
            FROM cooc
            JOIN item ia ON ia.pk = cooc.item
            JOIN item ib ON ib.pk = cooc.neighbor
        )
        SELECT item, neighbor, cooc, sim,
               CAST(ROW_NUMBER() OVER (PARTITION BY item
                    ORDER BY sim DESC, neighbor ASC) AS INT) AS rk
        FROM scored
        QUALIFY rk <= {CF_TOPK}
    """,
        "x150_change_point": """
        WITH daily AS (
            SELECT strftime(ts, '%Y-%m-%d') AS day,
                   ROUND(SUM(value), 2) AS total
            FROM events GROUP BY 1
        ), n AS (
            SELECT COUNT(*) AS n, SUM(total) AS t FROM daily
        ), pre AS (
            SELECT day,
                   SUM(total) OVER (ORDER BY day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ps,
                   COUNT(*) OVER (ORDER BY day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pn,
                   n.n, n.t
            FROM daily, n
        ), cand AS (
            SELECT day,
                   ROUND(ps / pn, 6) AS mean_before,
                   ROUND((t - ps) / (n - pn), 6) AS mean_after
            FROM pre WHERE pn < n
        ), best AS (
            SELECT day, mean_before, mean_after,
                   ROUND(ABS(mean_after - mean_before), 6) AS shift,
                   ROW_NUMBER() OVER (
                       ORDER BY ROUND(ABS(mean_after - mean_before), 6) DESC, day ASC)
                       AS rk
            FROM cand
        )
        SELECT day AS change_day, mean_before, mean_after, shift
        FROM best WHERE rk = 1
    """,
    }
)


#: x154 — shard counts compared.
SHARDS_BEFORE = 8
SHARDS_AFTER = 9


def x154_consistent_hash_rebalance(spark, sf_dir):
    """Shard-rebalance cost, consistent hashing vs mod-hashing: assign
    every document to 8 shards and again to 9, both ways, and report
    the fraction of documents that MOVE — the infra argument in one
    query (consistent hashing moves ≈1/(N+1); mod-hashing reshuffles
    ≈N/(N+1) of the corpus).  Node points are a tiny broadcast relation;
    ring assignment is a min-over-candidates aggregate per doc."""
    docs = T(spark, sf_dir, "documents").select(
        "doc_id", F.md5(F.col("doc_id").cast("string")).alias("_h")
    )

    def ring_assign(n_shards, out):
        nodes = [(i, F.md5(F.lit(f"node{i}"))) for i in range(n_shards)]
        node_df = None
        for i, h in nodes:
            row = docs.sparkSession.range(1).select(
                F.lit(i).alias("node"), h.alias("nh")
            )
            node_df = row if node_df is None else node_df.unionByName(row)
        j = docs.crossJoin(F.broadcast(node_df))
        # first node point >= doc hash; wrap to the globally smallest point
        ge = j.where(F.col("nh") >= F.col("_h")).groupBy("doc_id").agg(
            F.min_by("node", "nh").alias(out)
        )
        wrap = j.groupBy("doc_id").agg(F.min_by("node", "nh").alias(f"_w{out}"))
        return (
            docs.select("doc_id")
            .join(ge, "doc_id", "left")
            .join(wrap, "doc_id")
            .select(
                "doc_id", F.coalesce(F.col(out), F.col(f"_w{out}")).alias(out)
            )
        )

    ring = (
        ring_assign(SHARDS_BEFORE, "r8")
        .join(ring_assign(SHARDS_AFTER, "r9"), "doc_id")
    )
    h = md5_int(F.col("doc_id").cast("string"), 4)
    mod = docs.select(
        "doc_id", (h % SHARDS_BEFORE).alias("m8"), (h % SHARDS_AFTER).alias("m9")
    )
    j = ring.join(mod, "doc_id")
    return j.agg(
        F.count("*").alias("n_docs"),
        r6(F.avg((F.col("r8") != F.col("r9")).cast("double"))).alias(
            "ring_moved_frac"
        ),
        r6(F.avg((F.col("m8") != F.col("m9")).cast("double"))).alias(
            "mod_moved_frac"
        ),
    )


QUERIES.update({"x154_consistent_hash_rebalance": x154_consistent_hash_rebalance})

ORACLES.update(
    {
        "x154_consistent_hash_rebalance": f"""
        WITH d AS (
            SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents
        ), n8 AS (
            SELECT i AS node, md5('node' || CAST(i AS VARCHAR)) AS nh
            FROM UNNEST(range(0, {SHARDS_BEFORE})) AS u(i)
        ), n9 AS (
            SELECT i AS node, md5('node' || CAST(i AS VARCHAR)) AS nh
            FROM UNNEST(range(0, {SHARDS_AFTER})) AS u(i)
        ), r8 AS (
            SELECT d.doc_id,
                   COALESCE(MIN_BY(CASE WHEN nh >= h THEN node END,
                                   CASE WHEN nh >= h THEN nh END),
                            MIN_BY(node, nh)) AS r8
            FROM d CROSS JOIN n8 GROUP BY d.doc_id
        ), r9 AS (
            SELECT d.doc_id,
                   COALESCE(MIN_BY(CASE WHEN nh >= h THEN node END,
                                   CASE WHEN nh >= h THEN nh END),
                            MIN_BY(node, nh)) AS r9
            FROM d CROSS JOIN n9 GROUP BY d.doc_id
        ), m AS (
            SELECT doc_id,
                   ('0x' || substr(h, 1, 4))::BIGINT % {SHARDS_BEFORE} AS m8,
                   ('0x' || substr(h, 1, 4))::BIGINT % {SHARDS_AFTER} AS m9
            FROM d
        )
        SELECT COUNT(*) AS n_docs,
               ROUND(AVG(CASE WHEN r8.r8 != r9.r9 THEN 1.0 ELSE 0.0 END), 6)
                   AS ring_moved_frac,
               ROUND(AVG(CASE WHEN m.m8 != m.m9 THEN 1.0 ELSE 0.0 END), 6)
                   AS mod_moved_frac
        FROM r8 JOIN r9 USING (doc_id) JOIN m USING (doc_id)
    """,
    }
)


#: x157 — minimum events for a burstiness verdict and result size.
BURST_MIN_EVENTS = 20
BURST_TOPK = 10


def x157_burstiness(spark, sf_dir):
    """Inter-arrival burstiness per user: CV² (variance over squared
    mean) of the gaps between consecutive events — humans are bursty
    (CV² ≳ 1), schedulers and bots are metronomic (CV² ≈ 0) — reported
    as the top-10 most machine-like timelines.  One user window for the
    gaps, single-pass moments per user."""
    e = T(spark, sf_dir, "events")
    gaps = e.select(
        "user_id",
        (
            F.expr(
                "timestampdiff(MICROSECOND, lag(ts) OVER "
                "(PARTITION BY user_id ORDER BY ts, event_id), ts)"
            )
            / 1_000_000.0
        ).alias("_gap_s"),
    ).where(F.col("_gap_s").isNotNull())
    per = (
        gaps.groupBy("user_id")
        .agg(
            F.count("*").alias("n_gaps"),
            F.avg("_gap_s").alias("_m"),
            F.var_samp("_gap_s").alias("_v"),
        )
        .where(F.col("n_gaps") >= BURST_MIN_EVENTS)
        .select(
            "user_id",
            "n_gaps",
            r6(F.col("_v") / (F.col("_m") * F.col("_m"))).alias("cv2"),
        )
    )
    # r05: distributed top-k — no single-partition sort of |users|;
    # the rank window touches only the k surviving rows.
    w = Window.orderBy(F.asc("cv2"), F.asc("user_id"))
    return (
        per.orderBy(F.asc("cv2"), F.asc("user_id"))
        .limit(BURST_TOPK)
        .withColumn("rk", F.row_number().over(w).cast("int"))
    )


#: x158 — minimum sessions containing a pair.
SESSION_LIFT_MIN = 5


def x158_session_type_lift(spark, sf_dir):
    """Event-type lift WITHIN sessions: which event types co-occur in
    the same session beyond what their independent rates predict —
    x106's market-basket math with >30-min sessions as the baskets.
    Session baskets come from one sessionize pass; the pair table is
    bounded by |types|² per session."""
    from social_warner_spark.operators.timeseries import sessionize

    s = sessionize(T(spark, sf_dir, "events"), gap_minutes=30)
    baskets = s.select(
        F.concat_ws("#", F.col("user_id"), F.col("session_id")).alias("sid"),
        "event_type",
    ).distinct()
    n_sessions = baskets.select("sid").distinct().agg(F.count("*").alias("_ns"))
    item = baskets.groupBy("event_type").agg(F.count("*").alias("_ci"))
    a, b = baskets.alias("a"), baskets.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.sid") == F.col("b.sid"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count("*").alias("n_cooc"))
        .where(F.col("n_cooc") >= SESSION_LIFT_MIN)
    )
    return (
        pairs.join(
            F.broadcast(item.withColumnsRenamed({"event_type": "type_a", "_ci": "_ca"})),
            "type_a",
        )
        .join(
            F.broadcast(item.withColumnsRenamed({"event_type": "type_b", "_ci": "_cb"})),
            "type_b",
        )
        .crossJoin(F.broadcast(n_sessions))
        .select(
            "type_a",
            "type_b",
            "n_cooc",
            r6(
                (F.col("n_cooc").cast("double") * F.col("_ns"))
                / (F.col("_ca").cast("double") * F.col("_cb"))
            ).alias("lift"),
        )
    )


QUERIES.update(
    {
        "x157_burstiness": x157_burstiness,
        "x158_session_type_lift": x158_session_type_lift,
    }
)

ORACLES.update(
    {
        "x157_burstiness": f"""
        WITH gaps AS (
            SELECT user_id,
                   epoch_us(ts - LAG(ts) OVER (PARTITION BY user_id
                                               ORDER BY ts, event_id))
                   / 1000000.0 AS gap_s
            FROM events
        ), per AS (
            SELECT user_id, COUNT(*) AS n_gaps,
                   ROUND(VAR_SAMP(gap_s) / (AVG(gap_s) * AVG(gap_s)), 6) AS cv2
            FROM gaps WHERE gap_s IS NOT NULL
            GROUP BY user_id HAVING COUNT(*) >= {BURST_MIN_EVENTS}
        )
        SELECT user_id, n_gaps, cv2,
               CAST(ROW_NUMBER() OVER (ORDER BY cv2 ASC, user_id ASC) AS INT) AS rk
        FROM per
        QUALIFY rk <= {BURST_TOPK}
    """,
        "x158_session_type_lift": f"""
        WITH ordered AS (
            SELECT user_id, event_id, event_type, ts,
                   CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                             IS NULL
                          OR ts > LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                               + INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS nf
            FROM events
        ), sess AS (
            SELECT user_id, event_type,
                   SUM(nf) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS session_id
            FROM ordered
        ), baskets AS (
            SELECT DISTINCT user_id || '#' || CAST(session_id AS VARCHAR) AS sid,
                   event_type
            FROM sess
        ), ns AS (
            SELECT COUNT(DISTINCT sid) AS n FROM baskets
        ), item AS (
            SELECT event_type, COUNT(*) AS ci FROM baskets GROUP BY event_type
        ), pairs AS (
            SELECT a.event_type AS type_a, b.event_type AS type_b,
                   COUNT(*) AS n_cooc
            FROM baskets a JOIN baskets b
                 ON a.sid = b.sid AND a.event_type < b.event_type
            GROUP BY 1, 2 HAVING COUNT(*) >= {SESSION_LIFT_MIN}
        )
        SELECT pairs.type_a, pairs.type_b, n_cooc,
               ROUND((CAST(n_cooc AS DOUBLE) * ns.n)
                     / (CAST(ia.ci AS DOUBLE) * ib.ci), 6) AS lift
        FROM pairs
        JOIN item ia ON ia.event_type = pairs.type_a
        JOIN item ib ON ib.event_type = pairs.type_b, ns
    """,
    }
)
