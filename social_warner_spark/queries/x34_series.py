"""x34 series — round-3 widening batch (x352–x356): Z-order layout
auditing, skew-join salt planning, incremental-aggregate merge
verification, join-order advisory, and Bloom-filter sizing.

Like every other series, each query is a pure DataFrame program over
the driver's parquet tables with an independently-written DuckDB
oracle.  The whole batch is engine-facing: each query measures or
plans a PHYSICAL decision this repo's operators otherwise assert —
multi-dimensional clustering, salting factors, mergeable partials,
join order, membership-filter budgets.

Literature grounding (public):
- Morton (1966) Z-order; read-amplification framing per the
  Delta/Iceberg clustering literature.
- Standard skew-join salting practice (Spark docs, AQE skew handling).
- Gray et al., "Data cube" (1996) — distributive aggregate merging.
- Selinger et al. (SIGMOD 1979) — System R cardinality estimates
  |R join S| = |R||S| / max(V(a,R), V(a,S)).
- Bloom (CACM 1970); optimal k = ln2 * m/n.
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from pyspark.sql import Window

from social_warner_spark.queries.common import T, r2, r6

#: x352 — interleave width per dimension (bits).
ZO_BITS = 16
#: x353 — a key is "hot" above HOT_X times the mean; salt caps
#: partitions at roughly that size.
HOT_X = 2.0
SALT_TOP = 10
#: x354 — delta = every DELTA_MOD-th order.
IVM_MOD = 10
#: x356 — candidate bits-per-key budgets.
BF_BPKS = (8, 12, 16, 20)


def _zvalue(a, b):
    """Morton interleave of two ZO_BITS-bit non-negative ints
    (a even bits, b odd bits) as a closed-form bit sum."""
    z = F.lit(0).cast("long")
    for i in range(ZO_BITS):
        z = z + (
            F.shiftright(a.cast("long"), i) % 2
        ) * F.lit(1 << (2 * i)) + (
            F.shiftright(b.cast("long"), i) % 2
        ) * F.lit(1 << (2 * i + 1))
    return z


def x352_zorder_audit(spark, sf_dir):
    """Z-order layout audit for day-filtered scans over events: under
    three sort layouts — user-major, day-major, and Morton (Z-order)
    interleave of (user, day) — the average read amplification of a
    one-day filter (key-span share / row share; lower = tighter
    clustering, and on a SPARSE key space the absolute values shrink —
    the LAYOUT ORDERING is the signal) — the measured basis for
    choosing a multi-dimensional layout instead of folklore.

    Scale: day indexes anchor on the observed min day (broadcast);
    the z-value is a closed-form bit sum (narrow map); per-layout
    spans are one aggregation over the (day) groups."""
    ev = T(spark, sf_dir, "events")
    mn = ev.agg(F.min(F.date_trunc("day", F.col("ts"))).alias("d0"))
    staged = ev.crossJoin(F.broadcast(mn)).select(
        F.col("user_id").alias("u"),
        F.datediff(F.date_trunc("day", F.col("ts")), F.col("d0")).alias(
            "d"
        ),
    )
    keyed = staged.select(
        "d",
        (F.col("u") * F.lit(1 << ZO_BITS) + F.col("d")).alias("k_user"),
        (F.col("d") * F.lit(1 << ZO_BITS) + F.col("u")).alias("k_day"),
        _zvalue(F.col("u"), F.col("d")).alias("k_z"),
    )
    from social_warner_spark.caching import register_persisted

    keyed = register_persisted(keyed.persist())
    tot = keyed.agg(
        F.count("*").alias("n"),
        *[
            (F.max(c) - F.min(c) + 1).alias(f"range_{c}")
            for c in ("k_user", "k_day", "k_z")
        ],
    )
    per = keyed.groupBy("d").agg(
        F.count("*").alias("rows"),
        *[
            (F.max(c) - F.min(c) + 1).alias(f"span_{c}")
            for c in ("k_user", "k_day", "k_z")
        ],
    )
    j = per.crossJoin(F.broadcast(tot))
    outs = None
    for name, c in (
        ("user_major", "k_user"),
        ("day_major", "k_day"),
        ("zorder", "k_z"),
    ):
        amp = (
            (F.col(f"span_{c}") / F.col(f"range_{c}"))
            / (F.col("rows") / F.col("n"))
        )
        one = j.agg(
            F.lit(name).alias("layout"),
            F.count("*").alias("n_days"),
            r6(F.avg(amp)).alias("avg_read_amp"),
            r6(F.max(amp)).alias("max_read_amp"),
        )
        outs = one if outs is None else outs.unionAll(one)
    return outs.orderBy("layout")


def x353_salt_planner(spark, sf_dir):
    """Skew-join salt planning for the lineitem supplier key: keys
    hotter than 2x the mean get salt factor ceil(count / (2 mean));
    the report shows the top-10 hottest keys with their salts and the
    global max-partition size before vs after salting — the measured
    knob behind every 'AQE skew-join backstop' note in this repo.

    Scale: one key histogram; the plan is hot-key-sized."""
    li = T(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("k")
    )
    hist = li.groupBy("k").agg(F.count("*").alias("c"))
    from social_warner_spark.caching import register_persisted

    hist = register_persisted(hist.persist())
    st = hist.agg(
        F.avg("c").alias("mean_c"), F.max("c").alias("max_before")
    )
    cap = F.col("mean_c") * HOT_X
    planned = hist.crossJoin(F.broadcast(st)).select(
        "k",
        "c",
        "max_before",
        F.when(F.col("c") > cap, F.ceil(F.col("c") / cap))
        .otherwise(F.lit(1))
        .cast("long")
        .alias("salt_factor"),
    )
    planned = planned.select(
        "k",
        "c",
        "max_before",
        "salt_factor",
        F.ceil(F.col("c") / F.col("salt_factor")).cast("long").alias(
            "max_after_key"
        ),
    )
    gmax = planned.agg(F.max("max_after_key").alias("max_after"))
    w = Window.orderBy(F.desc("c"), F.asc("k"))
    return (
        planned.orderBy(F.desc("c"), F.asc("k"))
        .limit(SALT_TOP)
        .withColumn("rk", F.row_number().over(w))
        .crossJoin(F.broadcast(gmax))
        .select(
            "rk",
            "k",
            F.col("c").alias("rows_before"),
            "salt_factor",
            "max_after_key",
            "max_before",
            "max_after",
            r6(F.col("max_before") / F.col("max_after")).alias(
                "skew_reduction"
            ),
        )
    )


def x354_ivm_merge(spark, sf_dir):
    """Incremental-view-maintenance verification: the per-status order
    aggregates (count, revenue sum, min date, max price) computed as
    BASE partials (orders with key % 10 != 0) merged with DELTA
    partials (the rest) must equal the full recompute — the
    distributive-aggregate property (Gray's cube algebra) that every
    cell merge in this repo (CMS/hist/drift cells) relies on,
    verified on the batch side with the match flag IN the result.

    Scale: two partial aggregations + one merge-by-key; the full
    recompute is the audit cost."""
    o = T(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("double").alias("p"),
        F.col("o_orderdate").alias("dt"),
    )

    def partials(df):
        return df.groupBy("o_orderstatus").agg(
            F.count("*").alias("cnt"),
            F.sum("p").alias("sm"),
            F.min("dt").alias("mn"),
            F.max("p").alias("mx"),
        )

    base = partials(o.where(F.col("o_orderkey") % IVM_MOD != 0))
    delta = partials(o.where(F.col("o_orderkey") % IVM_MOD == 0))
    merged = (
        base.select(
            "o_orderstatus",
            F.col("cnt").alias("c1"),
            F.col("sm").alias("s1"),
            F.col("mn").alias("m1"),
            F.col("mx").alias("x1"),
        )
        .join(
            delta.select(
                "o_orderstatus",
                F.col("cnt").alias("c2"),
                F.col("sm").alias("s2"),
                F.col("mn").alias("m2"),
                F.col("mx").alias("x2"),
            ),
            "o_orderstatus",
            "full",
        )
        .select(
            "o_orderstatus",
            (
                F.coalesce("c1", F.lit(0)) + F.coalesce("c2", F.lit(0))
            ).alias("m_cnt"),
            r2(
                F.coalesce("s1", F.lit(0.0)) + F.coalesce("s2", F.lit(0.0))
            ).alias("m_sum"),
            F.least(
                F.coalesce(F.col("m1"), F.col("m2")),
                F.coalesce(F.col("m2"), F.col("m1")),
            ).alias("m_min"),
            F.greatest(
                F.coalesce(F.col("x1"), F.col("x2")),
                F.coalesce(F.col("x2"), F.col("x1")),
            ).alias("m_max"),
        )
    )
    full = partials(o).select(
        "o_orderstatus",
        F.col("cnt").alias("f_cnt"),
        r2(F.col("sm")).alias("f_sum"),
        F.col("mn").alias("f_min"),
        F.col("mx").alias("f_max"),
    )
    return (
        merged.join(full, "o_orderstatus")
        .select(
            "o_orderstatus",
            "m_cnt",
            "f_cnt",
            "m_sum",
            "f_sum",
            (
                (F.col("m_cnt") == F.col("f_cnt"))
                & (F.abs(F.col("m_sum") - F.col("f_sum")) < 0.01)
                & (F.col("m_min") == F.col("f_min"))
                & (F.col("m_max") == F.col("f_max"))
            ).alias("merge_matches"),
        )
        .orderBy("o_orderstatus")
    )


def x355_join_order_advisor(spark, sf_dir):
    """System-R cardinality estimation audit on the
    customer-orders-lineitem chain: for each pairwise join, the
    Selinger estimate |R||S|/max(V(a,R), V(a,S)) beside the ACTUAL
    join cardinality — the estimation error that decides whether a
    cost-based join order can be trusted on this data.

    Scale: distinct counts and actual cardinalities are one
    aggregation each (the FK joins collapse to counts, no join is
    materialized beyond a count)."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders")
    li = T(spark, sf_dir, "lineitem")
    stats = (
        c.agg(
            F.count("*").alias("nc"),
            F.countDistinct("c_custkey").alias("vc"),
        )
        .crossJoin(
            o.agg(
                F.count("*").alias("no"),
                F.countDistinct("o_custkey").alias("vo_c"),
                F.countDistinct("o_orderkey").alias("vo_o"),
            )
        )
        .crossJoin(
            li.agg(
                F.count("*").alias("nl"),
                F.countDistinct("l_orderkey").alias("vl"),
            )
        )
    )
    act = (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .agg(F.count("*").alias("a_co"))
        .crossJoin(
            o.join(li, o["o_orderkey"] == li["l_orderkey"]).agg(
                F.count("*").alias("a_ol")
            )
        )
    )
    j = stats.crossJoin(F.broadcast(act))
    est_co = F.col("nc") * F.col("no") / F.greatest("vc", "vo_c")
    est_ol = F.col("no") * F.col("nl") / F.greatest("vo_o", "vl")
    rows = j.select(
        F.lit("customer_join_orders").alias("join_step"),
        F.ceil(est_co).cast("long").alias("estimated"),
        F.col("a_co").alias("actual"),
        r6(
            F.abs(F.ceil(est_co) - F.col("a_co"))
            / F.greatest(F.col("a_co"), F.lit(1))
        ).alias("rel_error"),
    ).unionAll(
        j.select(
            F.lit("orders_join_lineitem").alias("join_step"),
            F.ceil(est_ol).cast("long").alias("estimated"),
            F.col("a_ol").alias("actual"),
            r6(
                F.abs(F.ceil(est_ol) - F.col("a_ol"))
                / F.greatest(F.col("a_ol"), F.lit(1))
            ).alias("rel_error"),
        )
    )
    return rows.orderBy("join_step")


def x356_bloom_planner(spark, sf_dir):
    """Bloom-filter sizing for semi-join pruning on user_id: for
    bits-per-key budgets of 8/12/16/20 over the OBSERVED distinct-key
    count, the optimal hash count k = round(ln2 * m/n), the false-
    positive rate (1 - e^{-k n/m})^k, and the expected false
    positives per 1000 foreign probes — the measured budget table
    behind x32's bloom-prune operator.

    Scale: one distinct count; the table is |budgets|-sized."""
    ev = T(spark, sf_dir, "events")
    n = ev.agg(F.countDistinct("user_id").alias("n_keys"))
    outs = None
    for bpk in BF_BPKS:
        k = round(math.log(2) * bpk)
        fpp = (1.0 - math.exp(-k / bpk)) ** k
        one = n.select(
            F.lit(bpk).alias("bits_per_key"),
            "n_keys",
            (F.col("n_keys") * bpk).alias("filter_bits"),
            F.lit(k).alias("n_hashes"),
            F.lit(round(fpp, 6)).alias("fpp"),
            F.lit(round(1000.0 * fpp, 6)).alias("fp_per_1k_probes"),
        )
        outs = one if outs is None else outs.unionAll(one)
    return outs.orderBy("bits_per_key")


# ---------------------------------------------------------------------------
# Oracles
# ---------------------------------------------------------------------------

_Z_SQL = " + ".join(
    f"((u >> {i}) % 2) * {1 << (2 * i)}"
    f" + ((d >> {i}) % 2) * {1 << (2 * i + 1)}"
    for i in range(ZO_BITS)
)

_ZO_ROWS = " UNION ALL ".join(
    f"""SELECT '{name}' AS layout,
               CAST(COUNT(*) AS BIGINT) AS n_days,
               ROUND(AVG((span_{c} * 1.0 / range_{c})
                         / (rows * 1.0 / n)), 6) AS avg_read_amp,
               ROUND(MAX((span_{c} * 1.0 / range_{c})
                         / (rows * 1.0 / n)), 6) AS max_read_amp
        FROM per CROSS JOIN tot"""
    for name, c in (
        ("user_major", "k_user"),
        ("day_major", "k_day"),
        ("zorder", "k_z"),
    )
)

_BF_ROWS = " UNION ALL ".join(
    f"""SELECT {bpk} AS bits_per_key, n_keys,
               n_keys * {bpk} AS filter_bits,
               {round(math.log(2) * bpk)} AS n_hashes,
               {round((1.0 - math.exp(-round(math.log(2) * bpk) / bpk)) ** round(math.log(2) * bpk), 6)!r} AS fpp,
               {round(1000.0 * (1.0 - math.exp(-round(math.log(2) * bpk) / bpk)) ** round(math.log(2) * bpk), 6)!r} AS fp_per_1k_probes
        FROM nn"""
    for bpk in BF_BPKS
)

ORACLES = {
    "x352_zorder_audit": f"""
        WITH mn AS (
            SELECT MIN(date_trunc('day', ts)) AS d0 FROM events
        ), staged AS (
            SELECT user_id AS u,
                   date_diff('day', mn.d0, date_trunc('day', ts)) AS d
            FROM events CROSS JOIN mn
        ), keyed AS MATERIALIZED (
            SELECT d,
                   u * {1 << ZO_BITS} + d AS k_user,
                   d * {1 << ZO_BITS} + u AS k_day,
                   {_Z_SQL} AS k_z
            FROM staged
        ), tot AS (
            SELECT COUNT(*) AS n,
                   MAX(k_user) - MIN(k_user) + 1 AS range_k_user,
                   MAX(k_day) - MIN(k_day) + 1 AS range_k_day,
                   MAX(k_z) - MIN(k_z) + 1 AS range_k_z
            FROM keyed
        ), per AS (
            SELECT d, COUNT(*) AS rows,
                   MAX(k_user) - MIN(k_user) + 1 AS span_k_user,
                   MAX(k_day) - MIN(k_day) + 1 AS span_k_day,
                   MAX(k_z) - MIN(k_z) + 1 AS span_k_z
            FROM keyed GROUP BY d
        )
        SELECT * FROM ({_ZO_ROWS})
        ORDER BY layout
    """,
    "x353_salt_planner": f"""
        WITH hist AS MATERIALIZED (
            SELECT l_suppkey AS k, COUNT(*) AS c
            FROM lineitem GROUP BY 1
        ), st AS (
            SELECT AVG(c) AS mean_c, MAX(c) AS max_before FROM hist
        ), planned AS MATERIALIZED (
            SELECT k, c, st.max_before,
                   CASE WHEN c > st.mean_c * {HOT_X}
                        THEN CAST(ceil(c / (st.mean_c * {HOT_X}))
                                  AS BIGINT)
                        ELSE 1 END AS salt_factor
            FROM hist CROSS JOIN st
        ), planned2 AS (
            SELECT *, CAST(ceil(c * 1.0 / salt_factor) AS BIGINT)
                          AS max_after_key
            FROM planned
        ), gmax AS (
            SELECT MAX(max_after_key) AS max_after FROM planned2
        )
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY c DESC, k) AS INT)
                   AS rk,
               k, CAST(c AS BIGINT) AS rows_before, salt_factor,
               max_after_key, CAST(max_before AS BIGINT) AS max_before,
               gmax.max_after,
               ROUND(max_before * 1.0 / gmax.max_after, 6)
                   AS skew_reduction
        FROM planned2 CROSS JOIN gmax
        ORDER BY c DESC, k
        LIMIT {SALT_TOP}
    """,
    "x354_ivm_merge": f"""
        WITH o AS (
            SELECT o_orderkey, o_orderstatus,
                   CAST(o_totalprice AS DOUBLE) AS p, o_orderdate AS dt
            FROM orders
        ), base AS (
            SELECT o_orderstatus, COUNT(*) AS c1, SUM(p) AS s1,
                   MIN(dt) AS m1, MAX(p) AS x1
            FROM o WHERE o_orderkey % {IVM_MOD} != 0 GROUP BY 1
        ), delta AS (
            SELECT o_orderstatus, COUNT(*) AS c2, SUM(p) AS s2,
                   MIN(dt) AS m2, MAX(p) AS x2
            FROM o WHERE o_orderkey % {IVM_MOD} = 0 GROUP BY 1
        ), merged AS (
            SELECT COALESCE(base.o_orderstatus, delta.o_orderstatus)
                       AS o_orderstatus,
                   COALESCE(c1, 0) + COALESCE(c2, 0) AS m_cnt,
                   ROUND(COALESCE(s1, 0) + COALESCE(s2, 0), 2) AS m_sum,
                   LEAST(COALESCE(m1, m2), COALESCE(m2, m1)) AS m_min,
                   GREATEST(COALESCE(x1, x2), COALESCE(x2, x1)) AS m_max
            FROM base FULL JOIN delta USING (o_orderstatus)
        ), fullr AS (
            SELECT o_orderstatus, COUNT(*) AS f_cnt,
                   ROUND(SUM(p), 2) AS f_sum, MIN(dt) AS f_min,
                   MAX(p) AS f_max
            FROM o GROUP BY 1
        )
        SELECT m.o_orderstatus,
               CAST(m.m_cnt AS BIGINT) AS m_cnt,
               CAST(f.f_cnt AS BIGINT) AS f_cnt,
               m.m_sum, f.f_sum,
               m.m_cnt = f.f_cnt AND ABS(m.m_sum - f.f_sum) < 0.01
               AND m.m_min = f.f_min AND m.m_max = f.f_max
                   AS merge_matches
        FROM merged m JOIN fullr f USING (o_orderstatus)
        ORDER BY m.o_orderstatus
    """,
    "x355_join_order_advisor": """
        WITH stats AS (
            SELECT (SELECT COUNT(*) FROM customer) AS nc,
                   (SELECT COUNT(DISTINCT c_custkey) FROM customer)
                       AS vc,
                   (SELECT COUNT(*) FROM orders) AS no,
                   (SELECT COUNT(DISTINCT o_custkey) FROM orders)
                       AS vo_c,
                   (SELECT COUNT(DISTINCT o_orderkey) FROM orders)
                       AS vo_o,
                   (SELECT COUNT(*) FROM lineitem) AS nl,
                   (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem)
                       AS vl
        ), act AS (
            SELECT (SELECT COUNT(*) FROM customer c JOIN orders o
                        ON c.c_custkey = o.o_custkey) AS a_co,
                   (SELECT COUNT(*) FROM orders o JOIN lineitem l
                        ON o.o_orderkey = l.l_orderkey) AS a_ol
        )
        SELECT 'customer_join_orders' AS join_step,
               CAST(ceil(nc * no * 1.0 / GREATEST(vc, vo_c)) AS BIGINT)
                   AS estimated,
               CAST(a_co AS BIGINT) AS actual,
               ROUND(ABS(ceil(nc * no * 1.0 / GREATEST(vc, vo_c))
                         - a_co) * 1.0 / GREATEST(a_co, 1), 6)
                   AS rel_error
        FROM stats CROSS JOIN act
        UNION ALL
        SELECT 'orders_join_lineitem',
               CAST(ceil(no * nl * 1.0 / GREATEST(vo_o, vl)) AS BIGINT),
               CAST(a_ol AS BIGINT),
               ROUND(ABS(ceil(no * nl * 1.0 / GREATEST(vo_o, vl))
                         - a_ol) * 1.0 / GREATEST(a_ol, 1), 6)
        FROM stats CROSS JOIN act
        ORDER BY join_step
    """,
    "x356_bloom_planner": f"""
        WITH nn AS (
            SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_keys
            FROM events
        )
        SELECT * FROM ({_BF_ROWS})
        ORDER BY bits_per_key
    """,
}

QUERIES = {
    "x352_zorder_audit": x352_zorder_audit,
    "x353_salt_planner": x353_salt_planner,
    "x354_ivm_merge": x354_ivm_merge,
    "x355_join_order_advisor": x355_join_order_advisor,
    "x356_bloom_planner": x356_bloom_planner,
}
