"""x27 series — round-3 widening batch (x317–x321): SLO burn-rate
alerting, MATCH_RECOGNIZE-style sequence-pattern funnels, simhash
fidelity auditing, feature↔target mutual information, and bitemporal
as-of reconstruction.

Like every other series, each query is a pure DataFrame program over
the driver's parquet tables with an independently-written DuckDB
oracle.  x319 audits the x2 simhash against exact Jaccard on the
corpus's own near-dup pairs (the audit-pairing discipline); x321
synthesizes deterministic amendment records (the x26/x207 injection
precedent) because the driver data carries a single time dimension.

Literature grounding (public):
- Beyer et al., "The Site Reliability Workbook" ch. 5 — multi-window
  multi-burn-rate alerts.
- SQL:2016 MATCH_RECOGNIZE — row-pattern matching, here expressed as
  regex over per-entity event strings.
- Charikar (STOC 2002) — simhash; fidelity-vs-Jaccard auditing per
  Henzinger (SIGIR 2006).
- Cover & Thomas ch. 2 — discrete mutual information.
- Snodgrass, "Developing time-oriented database applications in SQL"
  — valid-time vs transaction-time (bitemporal) queries.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from social_warner_spark.queries.common import T, r6

#: x317 — SLO error-ratio budget and the two alert windows (hours),
#: with the standard burn thresholds.
SLO_BUDGET = 0.25
BURN_SHORT_H = 1
BURN_LONG_H = 6
BURN_SHORT_X = 2.0
BURN_LONG_X = 1.0
#: x318 — journey patterns over event-type initials
#: (c=click s=signup p=purchase e=error v=view).
SEQ_PATTERNS = (
    ("view_to_purchase", "v[^p]*p"),
    ("error_free_convert", "v[csv]*p"),
    ("error_then_recover", "e[^p]*p"),
)
#: x318 per-user state cap (same contract device as x365's BU_CAP):
#: each user's journey string is built from their FIRST SEQ_CAP events
#: by (ts, event_id) — a total order — filtered BEFORE the collect, so
#: the aggregation buffer is bounded; a bot-grade power user on a
#: 100 TB corpus cannot inflate one grouped row without bound.  Part of
#: the query contract, mirrored in the oracle; driver testdata maxes at
#: 99 events/user (sf0.1), so results are unchanged at every test scale.
SEQ_CAP = 512
#: x319 — pair sample floor (the x312 band) and simhash width.
SH_SAMPLE_MIN = 0.3
SH_BITS = 16
#: x320 — feature bins (deciles of value).
MI_BINS = 10
#: x321 — deterministic amendment injection: every 20th order gets a
#: +10% corrected total posted 30 days after the order date; the
#: reconstruction reads the ledger as known at AS_OF.
BT_MOD = 20
BT_UPLIFT = 1.1
BT_LAG_DAYS = 30
BT_AS_OF = "1998-06-01"


def x317_burn_rate(spark, sf_dir):
    """Multi-window multi-burn-rate SLO alerting on the error-event
    ratio: per hour, the trailing 1h and 6h error ratios against a
    25% budget; an alert fires when the short window burns > 2x AND
    the long window > 1x (the SRE-workbook rule that suppresses both
    blips and stale pages).  Emits the alerting hours.

    Scale: the corpus collapses to the hourly grid in one aggregation;
    trailing windows are RANGE frames over the epoch-hour axis (gaps
    in the grid stay correct — rows-frames would silently stretch)."""
    ev = T(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(
        F.count("*").alias("n"),
        F.sum((F.col("event_type") == "error").cast("long")).alias("e"),
    )
    hcol = F.expr(
        "timestampdiff(HOUR, TIMESTAMP '1970-01-01 00:00:00', hour)"
    ).cast("long")
    staged = hourly.select(hcol.alias("h"), "hour", "n", "e")
    ws = (
        Window.orderBy("h")
        .rangeBetween(-(BURN_SHORT_H - 1), 0)
    )
    wl = (
        Window.orderBy("h")
        .rangeBetween(-(BURN_LONG_H - 1), 0)
    )
    rated = staged.select(
        "hour",
        F.sum("n").over(ws).alias("n_1h"),
        (F.sum("e").over(ws) / F.sum("n").over(ws)).alias("r1"),
        (F.sum("e").over(wl) / F.sum("n").over(wl)).alias("r6"),
    )
    scored = rated.select(
        "hour",
        "n_1h",
        r6(F.col("r1")).alias("ratio_1h"),
        r6(F.col("r1") / SLO_BUDGET).alias("burn_1h"),
        r6(F.col("r6")).alias("ratio_6h"),
        r6(F.col("r6") / SLO_BUDGET).alias("burn_6h"),
    )
    w = Window.orderBy(
        F.desc("burn_1h"), F.desc("burn_6h"), F.asc("hour")
    )
    return (
        scored.orderBy(
            F.desc("burn_1h"), F.desc("burn_6h"), F.asc("hour")
        )
        .limit(10)
        .withColumn("rk", F.row_number().over(w))
        .withColumn(
            "alert",
            (F.col("burn_1h") > BURN_SHORT_X)
            & (F.col("burn_6h") > BURN_LONG_X),
        )
    )


def x318_sequence_pattern(spark, sf_dir):
    """MATCH_RECOGNIZE-style sequence-pattern funnels: each user's
    time-ordered event types collapse to an initials string, and
    journey patterns run as regexes over it — view→purchase with
    anything but a purchase between, the error-free variant, and
    error-then-recovery — reporting matched users and non-overlapping
    match counts per pattern.  The row-pattern-matching shape
    SQL:2016 standardizes, expressed with two primitives every engine
    already has (ordered collect + regex).

    Scale: one per-user collect whose buffer is HARD-bounded — each
    user contributes their first SEQ_CAP events by (ts, event_id), a
    total order, filtered before the aggregate (the x365 BU_CAP
    device; mirrored in the oracle's rn <= SEQ_CAP filter); patterns
    are narrow maps over |users| rows."""
    ev = T(spark, sf_dir, "events")
    wcap = Window.partitionBy("user_id").orderBy("ts", "event_id")
    capped = (
        ev.select(
            "user_id",
            "ts",
            "event_id",
            "event_type",
            F.row_number().over(wcap).alias("_rn"),
        )
        .where(F.col("_rn") <= SEQ_CAP)
    )
    seq = capped.groupBy("user_id").agg(
        F.concat_ws(
            "",
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct("ts", "event_id", "event_type")
                    )
                ),
                lambda e: F.substring(e["event_type"], 1, 1),
            ),
        ).alias("s")
    )
    from social_warner_spark.caching import register_persisted

    seq = register_persisted(seq.persist())
    outs = None
    for name, pat in SEQ_PATTERNS:
        cnt = F.size(F.expr(f"regexp_extract_all(s, '{pat}', 0)"))
        one = seq.select(cnt.alias("c")).agg(
            F.lit(name).alias("pattern"),
            F.sum((F.col("c") > 0).cast("long")).alias("n_users_matched"),
            F.sum("c").alias("total_matches"),
            r6(
                F.sum("c")
                / F.greatest(
                    F.sum((F.col("c") > 0).cast("long")), F.lit(1)
                )
            ).alias("matches_per_user"),
        )
        outs = one if outs is None else outs.unionAll(one)
    return outs.orderBy("pattern")


def x319_simhash_audit(spark, sf_dir):
    """Fidelity audit of the x2 simhash against exact shingle Jaccard
    on the corpus's own near-threshold pairs: Pearson correlation of
    bit-similarity (1 - hamming/16) with Jaccard, mean hamming above
    vs below the dedup threshold, and the hamming cut that best
    separates them (max gap) — the measurement that says how many
    simhash bits a screening pass can actually trust.

    Scale: the pair sample is the bounded dedup output; fingerprints
    join onto it and the 16 bit comparisons are a narrow map."""
    from social_warner_spark.operators.dedup import (
        exact_jaccard_pairs,
        simhash_fingerprints,
    )
    from social_warner_spark.caching import register_persisted

    d = T(spark, sf_dir, "documents")
    pairs = exact_jaccard_pairs(d, SH_SAMPLE_MIN).select(
        F.col("doc_id_a").alias("a"),
        F.col("doc_id_b").alias("b"),
        "jaccard",
    ).localCheckpoint(eager=True)
    fp = register_persisted(
        simhash_fingerprints(d, bits=SH_BITS).persist()
    )
    fa = fp.select(F.col("doc_id").alias("a"), F.col("simhash").alias("ha"))
    fb = fp.select(F.col("doc_id").alias("b"), F.col("simhash").alias("hb"))
    ham = sum(
        (
            F.substring(F.col("ha"), i + 1, 1)
            != F.substring(F.col("hb"), i + 1, 1)
        ).cast("int")
        for i in range(SH_BITS)
    )
    scored = (
        pairs.join(fa, "a")
        .join(fb, "b")
        .select("jaccard", ham.alias("ham"))
    )
    hi = F.col("jaccard") >= 0.5
    return scored.agg(
        F.count("*").alias("n_pairs"),
        r6(
            F.corr(
                F.col("jaccard"),
                1.0 - F.col("ham") / float(SH_BITS),
            )
        ).alias("pearson_r"),
        r6(F.avg(F.when(hi, F.col("ham")))).alias("mean_ham_dup"),
        r6(F.avg(F.when(~hi, F.col("ham")))).alias("mean_ham_nondup"),
        F.sum(hi.cast("long")).alias("n_dup_pairs"),
    )


def x320_feature_mi(spark, sf_dir):
    """Mutual information between the event value (decile-binned) and
    the event type: MI = sum p(b,t) log2(p(b,t)/(p(b)p(t))), with
    H(type) and the normalized MI/H — the feature-selection number
    that says whether value carries any signal about type before
    anyone trains on it (x245's chi-square ranks tokens; this scores a
    continuous feature).

    Scale: one percentile aggregation (cuts broadcast), one (bin,
    type) contingency aggregation, grid algebra after."""
    ev = T(spark, sf_dir, "events").select("event_type", "value")
    qs = ", ".join(
        str(round(i / MI_BINS, 2)) for i in range(1, MI_BINS)
    )
    cuts = ev.agg(
        F.expr(f"percentile(value, array({qs}))").alias("cs")
    ).select(
        F.posexplode("cs").alias("ci", "cut_raw")
    ).select(F.round("cut_raw", 6).alias("cutv"))
    binned = (
        ev.crossJoin(F.broadcast(cuts))
        .groupBy("event_type", "value")
        .agg(
            (
                F.sum((F.col("value") > F.col("cutv")).cast("int"))
                / F.count("*")
                * (MI_BINS - 1)
                + 1
            ).cast("int").alias("b"),
            (F.count("*") / (MI_BINS - 1)).cast("long").alias("nrows"),
        )
    )
    cell = binned.groupBy("event_type", "b").agg(
        F.sum("nrows").alias("c")
    )
    from social_warner_spark.caching import register_persisted

    cell = register_persisted(cell.persist())
    tb = cell.groupBy("b").agg(F.sum("c").alias("cb"))
    tt = cell.groupBy("event_type").agg(F.sum("c").alias("ct"))
    n = cell.agg(F.sum("c").alias("n"))
    j = (
        cell.join(tb, "b")
        .join(tt, "event_type")
        .crossJoin(F.broadcast(n))
    )
    mi = F.sum(
        F.col("c")
        / F.col("n")
        * F.log2(
            F.col("c") * F.col("n") / (F.col("cb") * F.col("ct"))
        )
    )
    ht = F.sum(
        -F.col("c") / F.col("n") * F.log2(F.col("ct") / F.col("n"))
    )
    return j.agg(
        F.max("n").alias("n_events"),
        r6(mi).alias("mi_bits"),
        r6(ht).alias("h_type_bits"),
        r6(mi / ht).alias("nmi"),
    )


def x321_bitemporal_asof(spark, sf_dir):
    """Bitemporal as-of reconstruction: the order ledger gains
    deterministic amendment records (every 20th order: +10% corrected
    total, POSTED 30 days after the order date — valid time stays the
    order date, transaction time is the posting date), and the yearly
    revenue is reconstructed AS KNOWN AT 1998-06-01 — corrections
    posted after the cutoff are invisible, which is exactly the
    restatement semantics x10's single-time as-of join cannot express.

    Scale: the version ledger is a union of two narrow maps; the
    as-known-at pick is one max_by per order; the rollup is a yearly
    aggregation."""
    o = T(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderdate",
        F.col("o_totalprice").cast("double").alias("price"),
    )
    orig = o.select(
        "o_orderkey",
        "o_orderdate",
        "price",
        F.col("o_orderdate").alias("tx_date"),
        F.lit(0).alias("is_amend"),
    )
    amend = o.where(F.col("o_orderkey") % BT_MOD == 0).select(
        "o_orderkey",
        "o_orderdate",
        # +1e-9 tie-nudge: price*1.1 is an exact 3dp decimal that lands ON
        # the 2dp rounding boundary whenever the cent digit is odd*5 —
        # the engines' ROUND implementations then disagree on ~1 in 1e4
        # amendments (sf0.1 strict-mirror find); oracle nudges identically
        F.round(F.col("price") * BT_UPLIFT + F.lit(1e-9), 2).alias("price"),
        F.date_add(F.col("o_orderdate"), BT_LAG_DAYS).alias("tx_date"),
        F.lit(1).alias("is_amend"),
    )
    ledger = orig.unionAll(amend).where(
        F.col("tx_date") <= F.lit(BT_AS_OF).cast("date")
    )
    known = ledger.groupBy("o_orderkey", "o_orderdate").agg(
        # amendment tx dates are strictly later than originals, so the
        # single-key argmax is tie-free
        F.max_by("price", "tx_date").alias("price"),
        F.max("is_amend").alias("amended"),
    )
    return (
        known.groupBy(F.year("o_orderdate").alias("order_year"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("amended").alias("n_amended_visible"),
            # exact integer-cents sum: at sf0.1 the yearly revenue is
            # ~2.4e9 where float summation-order noise (~1e-3) straddles
            # the 2dp rounding grid across engines (sf0.1 strict-mirror
            # find); cents are exact int64 in both engines
            (
                F.sum(F.round(F.col("price") * 100, 0).cast("long"))
                .cast("double")
                / 100.0
            ).alias("revenue_as_known"),
        )
        .orderBy("order_year")
    )


# ---------------------------------------------------------------------------
# Oracles
# ---------------------------------------------------------------------------

_SEQ_ROWS = " UNION ALL ".join(
    f"""SELECT '{name}' AS pattern,
               CAST(SUM(CASE WHEN c > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_users_matched,
               CAST(SUM(c) AS BIGINT) AS total_matches,
               ROUND(SUM(c) * 1.0
                     / GREATEST(SUM(CASE WHEN c > 0 THEN 1 ELSE 0 END),
                                1), 6) AS matches_per_user
        FROM (SELECT len(regexp_extract_all(s, '{pat}')) AS c FROM seq)"""
    for name, pat in SEQ_PATTERNS
)

ORACLES = {
    "x317_burn_rate": f"""
        WITH hourly AS (
            SELECT date_trunc('hour', ts) AS hour,
                   CAST(epoch(date_trunc('hour', ts)) / 3600 AS BIGINT)
                       AS h,
                   COUNT(*) AS n,
                   SUM(CASE WHEN event_type = 'error'
                            THEN 1 ELSE 0 END) AS e
            FROM events GROUP BY 1, 2
        ), rated AS (
            SELECT hour,
                   SUM(n) OVER ws AS n_1h,
                   SUM(e) OVER ws * 1.0 / SUM(n) OVER ws AS r1,
                   SUM(e) OVER wl * 1.0 / SUM(n) OVER wl AS r6
            FROM hourly
            WINDOW ws AS (ORDER BY h
                          RANGE BETWEEN {BURN_SHORT_H - 1} PRECEDING
                                   AND CURRENT ROW),
                   wl AS (ORDER BY h
                          RANGE BETWEEN {BURN_LONG_H - 1} PRECEDING
                                   AND CURRENT ROW)
        )
        SELECT hour, n_1h, ratio_1h, burn_1h, ratio_6h, burn_6h,
               CAST(ROW_NUMBER() OVER (ORDER BY burn_1h DESC,
                        burn_6h DESC, hour) AS INT) AS rk,
               burn_1h > {BURN_SHORT_X} AND burn_6h > {BURN_LONG_X}
                   AS alert
        FROM (
            SELECT hour, CAST(n_1h AS BIGINT) AS n_1h,
                   ROUND(r1, 6) AS ratio_1h,
                   ROUND(r1 / {SLO_BUDGET}, 6) AS burn_1h,
                   ROUND(r6, 6) AS ratio_6h,
                   ROUND(r6 / {SLO_BUDGET}, 6) AS burn_6h
            FROM rated
        )
        ORDER BY burn_1h DESC, burn_6h DESC, hour
        LIMIT 10
    """,
    "x318_sequence_pattern": f"""
        WITH capped AS (
            -- per-user state cap, mirroring the Spark side's row_number
            -- pre-filter (SEQ_CAP={SEQ_CAP}; (ts, event_id) is total)
            SELECT user_id, ts, event_id, event_type
            FROM (
                SELECT user_id, ts, event_id, event_type,
                       row_number() OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                       ) AS rn
                FROM events
            ) WHERE rn <= {SEQ_CAP}
        ), seq AS MATERIALIZED (
            SELECT user_id,
                   string_agg(substr(event_type, 1, 1), ''
                              ORDER BY ts, event_id) AS s
            FROM capped GROUP BY user_id
        )
        SELECT * FROM ({_SEQ_ROWS})
        ORDER BY pattern
    """,
    "x319_simhash_audit": f"""
        WITH toks AS (
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
        ), pairs AS MATERIALIZED (
            SELECT a, b, ROUND(c * 1.0 / (sa.sz + sb.sz - c), 6) AS jaccard
            FROM shared
            JOIN sizes sa ON sa.doc_id = a
            JOIN sizes sb ON sb.doc_id = b
            WHERE ROUND(c * 1.0 / (sa.sz + sb.sz - c), 6)
                  >= {SH_SAMPLE_MIN}
        ), tok2 AS (
            SELECT doc_id,
                   UNNEST(list_distinct(string_split(text, ' '))) AS t
            FROM documents
        ), bits AS (
            SELECT doc_id, j,
                   SUM(CASE WHEN substr(md5(t), j + 1, 1) >= '8'
                            THEN 1 ELSE -1 END) AS s
            FROM tok2, UNNEST(range(0, {SH_BITS})) AS u(j)
            GROUP BY doc_id, j
        ), fp AS MATERIALIZED (
            SELECT doc_id,
                   string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, ''
                              ORDER BY j) AS simhash
            FROM bits GROUP BY doc_id
        ), scored AS (
            SELECT p.jaccard,
                   ({" + ".join(
                       f"CASE WHEN substr(fa.simhash, {i + 1}, 1)"
                       f" != substr(fb.simhash, {i + 1}, 1)"
                       f" THEN 1 ELSE 0 END"
                       for i in range(SH_BITS)
                   )}) AS ham
            FROM pairs p
            JOIN fp fa ON fa.doc_id = p.a
            JOIN fp fb ON fb.doc_id = p.b
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
               ROUND(corr(jaccard, 1.0 - ham / {float(SH_BITS)}), 6)
                   AS pearson_r,
               ROUND(AVG(CASE WHEN jaccard >= 0.5 THEN ham END), 6)
                   AS mean_ham_dup,
               ROUND(AVG(CASE WHEN jaccard < 0.5 THEN ham END), 6)
                   AS mean_ham_nondup,
               CAST(SUM(CASE WHEN jaccard >= 0.5 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_dup_pairs
        FROM scored
    """,
    "x320_feature_mi": f"""
        WITH cuts AS (
            SELECT ROUND(cs[u.ci], 6) AS cutv
            FROM (SELECT quantile_cont(value,
                      [{", ".join(str(round(i / MI_BINS, 2)) for i in range(1, MI_BINS))}])
                      AS cs FROM events),
                 UNNEST(range(1, {MI_BINS})) AS u(ci)
        ), binned AS (
            SELECT e.event_type, e.value,
                   CAST(SUM(CASE WHEN e.value > c.cutv
                                 THEN 1 ELSE 0 END) * 1.0 / COUNT(*)
                        * {MI_BINS - 1} + 1 AS INT) AS b,
                   CAST(COUNT(*) / {MI_BINS - 1} AS BIGINT) AS nrows
            FROM events e CROSS JOIN cuts c
            GROUP BY e.event_type, e.value
        ), cell AS MATERIALIZED (
            SELECT event_type, b, SUM(nrows) AS c
            FROM binned GROUP BY 1, 2
        ), tb AS (
            SELECT b, SUM(c) AS cb FROM cell GROUP BY 1
        ), tt AS (
            SELECT event_type, SUM(c) AS ct FROM cell GROUP BY 1
        ), nn AS (
            SELECT SUM(c) AS n FROM cell
        )
        SELECT CAST(MAX(n) AS BIGINT) AS n_events,
               ROUND(SUM(c * 1.0 / n
                         * log2(c * n * 1.0 / (cb * ct))), 6) AS mi_bits,
               ROUND(SUM(-c * 1.0 / n * log2(ct * 1.0 / n)), 6)
                   AS h_type_bits,
               ROUND(SUM(c * 1.0 / n * log2(c * n * 1.0 / (cb * ct)))
                     / SUM(-c * 1.0 / n * log2(ct * 1.0 / n)), 6) AS nmi
        FROM cell JOIN tb USING (b) JOIN tt USING (event_type)
        CROSS JOIN nn
    """,
    "x321_bitemporal_asof": f"""
        WITH o AS (
            SELECT o_orderkey, o_orderdate,
                   CAST(o_totalprice AS DOUBLE) AS price
            FROM orders
        ), ledger AS (
            SELECT o_orderkey, o_orderdate, price,
                   o_orderdate AS tx_date, 0 AS is_amend
            FROM o
            UNION ALL
            SELECT o_orderkey, o_orderdate,
                   ROUND(price * {BT_UPLIFT} + 1e-9, 2),
                   CAST(o_orderdate + INTERVAL {BT_LAG_DAYS} DAY
                        AS DATE), 1
            FROM o WHERE o_orderkey % {BT_MOD} = 0
        ), known AS (
            SELECT o_orderkey, o_orderdate,
                   MAX_BY(price, tx_date) AS price,
                   MAX(is_amend) AS amended
            FROM ledger
            WHERE tx_date <= DATE '{BT_AS_OF}'
            GROUP BY 1, 2
        )
        SELECT CAST(year(o_orderdate) AS INT) AS order_year,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(amended) AS BIGINT) AS n_amended_visible,
               CAST(SUM(CAST(ROUND(price * 100, 0) AS BIGINT)) AS DOUBLE)
                   / 100.0 AS revenue_as_known
        FROM known
        GROUP BY 1 ORDER BY 1
    """,
}

QUERIES = {
    "x317_burn_rate": x317_burn_rate,
    "x318_sequence_pattern": x318_sequence_pattern,
    "x319_simhash_audit": x319_simhash_audit,
    "x320_feature_mi": x320_feature_mi,
    "x321_bitemporal_asof": x321_bitemporal_asof,
}
