"""x30 series — round-3 widening batch (x332–x336): broadcast-join
advisory from table statistics, proportion-interval comparison
(Wilson vs Wald), epoch-shuffle quality auditing, watermark planning
from observed lateness, and cross-source near-dup contamination.

Like every other series, each query is a pure DataFrame program over
the driver's parquet tables with an independently-written DuckDB
oracle.  x332/x335 extend the planner family (x312/x323: the engine
sizing its own knobs from data); x334/x336 extend the audit-pairing
family.

Literature grounding (public):
- Spark SQL's autoBroadcastJoinThreshold sizing practice (Spark docs,
  "Performance Tuning").
- Wilson (JASA 1927); interval comparisons per Brown, Cai & DasGupta
  (Stat. Sci. 2001).
- Recht & Ré-style shuffle-quality concerns; serial-correlation
  diagnostics are standard SGD-pipeline practice.
- Akidau et al., "The dataflow model" (VLDB 2015) — watermarks vs
  allowed lateness.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from social_warner_spark.functions.text import md5_int
from social_warner_spark.queries.common import T, r6
from social_warner_spark.queries.x11_series import _uniform_from_md5

#: x332 — the advisory threshold (bytes), Spark's default 10 MiB.
BA_THRESHOLD = 10 * 1024 * 1024
#: x333 — interval z and the audited proportion (en share / source).
WI_Z = 1.959964
WI_LANG = "en"
#: x334 — shard count for the hash shuffle under audit.
SQ_SHARDS = 8
#: x335 — deterministic lateness injection (md5-exponential, mean
#: seconds) and the candidate watermarks evaluated (minutes).
WM_MEAN_LATE_S = 600.0
WM_CANDIDATES = (5, 15, 30, 60, 120)
#: x336 — near-dup threshold (x27's).
XS_THRESHOLD = 0.5


#: per-table (row-width estimator columns are summed lengths of string
#: columns + 8 bytes per numeric) — the advisor's catalog.
BA_TABLES = (
    ("region", ("r_name",), 1),
    ("nation", ("n_name",), 2),
    ("supplier", ("s_name",), 3),
    ("customer", ("c_name", "c_mktsegment"), 3),
    ("part", ("p_name", "p_brand", "p_type"), 3),
    ("orders", ("o_orderstatus", "o_orderpriority"), 4),
    ("lineitem", ("l_returnflag", "l_linestatus"), 9),
)


def x332_join_advisor(spark, sf_dir):
    """Broadcast-join advisory from per-table statistics: estimated
    in-memory size (rows x [string bytes + 8 per numeric]) for every
    catalog table against Spark's 10 MiB autoBroadcastJoinThreshold —
    which dimensions can be broadcast and by what margin, the sizing
    analysis behind every `F.broadcast` in this repo, computed from
    the data instead of asserted.

    Scale: one narrow aggregation per table (row count + average
    string widths), unioned into a catalog-sized report."""
    outs = None
    for name, strcols, nnum in BA_TABLES:
        t = T(spark, sf_dir, name)
        width = sum(
            (F.avg(F.length(c)) for c in strcols), F.lit(8.0 * nnum)
        )
        one = t.agg(
            F.lit(name).alias("table_name"),
            F.count("*").alias("n_rows"),
            F.round(width, 2).alias("est_row_bytes"),
            F.ceil(F.count("*") * width).cast("long").alias("est_bytes"),
        )
        outs = one if outs is None else outs.unionAll(one)
    return outs.select(
        "table_name",
        "n_rows",
        "est_row_bytes",
        "est_bytes",
        (F.col("est_bytes") <= BA_THRESHOLD).alias("broadcastable"),
        r6(F.col("est_bytes") / float(BA_THRESHOLD)).alias(
            "threshold_share"
        ),
    ).orderBy("table_name")


def x333_wilson_ci(spark, sf_dir):
    """Wilson score vs Wald intervals for each source's share of
    lang='en' documents: the Wald interval (p +/- z sqrt(p(1-p)/n))
    beside the Wilson score interval, whose bounds stay inside [0,1]
    and behave at small n — the reason production dashboards should
    never ship Wald (Brown-Cai-DasGupta).

    Scale: one per-source aggregation; the interval algebra is a
    narrow map on |sources| rows."""
    d = T(spark, sf_dir, "documents").select(
        "source", (F.col("lang") == WI_LANG).cast("double").alias("y")
    )
    g = d.groupBy("source").agg(
        F.count("*").alias("n"), F.avg("y").alias("p")
    )
    z2 = WI_Z * WI_Z
    half_wald = WI_Z * F.sqrt(F.col("p") * (1 - F.col("p")) / F.col("n"))
    center_w = (F.col("p") + z2 / (2 * F.col("n"))) / (1 + z2 / F.col("n"))
    half_w = (
        WI_Z
        / (1 + z2 / F.col("n"))
        * F.sqrt(
            F.col("p") * (1 - F.col("p")) / F.col("n")
            + z2 / (4 * F.col("n") * F.col("n"))
        )
    )
    return g.select(
        "source",
        "n",
        r6(F.col("p")).alias("p_hat"),
        r6(F.col("p") - half_wald).alias("wald_lo"),
        r6(F.col("p") + half_wald).alias("wald_hi"),
        r6(center_w - half_w).alias("wilson_lo"),
        r6(center_w + half_w).alias("wilson_hi"),
        (
            ((F.col("p") - half_wald) < 0)
            | ((F.col("p") + half_wald) > 1)
        ).alias("wald_escapes_unit"),
    ).orderBy("source")


def x334_shuffle_quality(spark, sf_dir):
    """Epoch-shuffle quality audit: documents are hash-assigned to 8
    shards and hash-ordered within each (the standard pretraining
    shuffle); the label serial correlation along each shard's read
    order — corr(y_t, y_{t+1}) pooled across shards — is compared
    with the UNSHUFFLED doc_id order's serial correlation.  A working
    shuffle drives the correlation toward zero; a broken one leaves
    the source-grouped structure visible to the optimizer in every
    batch.

    Scale: shard+position assignment is a narrow md5 map plus
    per-shard rank windows (shards bound the partitions); each serial
    correlation is one lag join."""
    d = T(spark, sf_dir, "documents").select(
        "doc_id",
        # Coalesce the comparison so a NULL lang yields y=0.0, exactly
        # like the oracle's CASE WHEN (NULL predicate falls to ELSE) —
        # otherwise the lead-formulated pair filter below would drop
        # pairs by NEXT-null while the oracle's lag form drops by
        # PREVIOUS-null (ADVICE r05; benign today, lang is non-null).
        F.coalesce(F.col("lang") == WI_LANG, F.lit(False))
        .cast("double")
        .alias("y"),
    )
    h = md5_int(F.concat(F.lit("sq|"), F.col("doc_id").cast("string")), 8)
    staged = d.select(
        "doc_id", "y", (h % SQ_SHARDS).alias("shard"), h.alias("pos")
    )
    from social_warner_spark.caching import register_persisted

    staged = register_persisted(staged.persist())
    ws = Window.partitionBy("shard").orderBy("pos", "doc_id")
    sh = staged.select(
        "shard", "y", F.lag("y").over(ws).alias("yl")
    ).where(F.col("yl").isNotNull())
    shuf = sh.agg(
        F.count("*").alias("n_pairs_shuffled"),
        r6(F.corr("y", "yl")).alias("serial_corr_shuffled"),
    )
    # r05: the unshuffled-order lag pairs come from the distributed
    # global lead (operators/ordered.py) — no single-partition sort of
    # |docs|; pair (y_t, y_{t+1}) carries the same (current, previous)
    # roles the lag formulation had.
    from social_warner_spark.operators.ordered import with_global_lead_structs

    nxt = with_global_lead_structs(
        staged.select("doc_id", "y"), ["doc_id"], ["y"], 1, "_nx"
    )
    base = (
        nxt.select(
            F.col("_nx")[0]["y"].alias("y"), F.col("y").alias("yl")
        )
        .where(F.col("y").isNotNull())
        .agg(
            F.count("*").alias("n_pairs_ordered"),
            r6(F.corr("y", "yl")).alias("serial_corr_ordered"),
        )
    )
    return shuf.crossJoin(F.broadcast(base)).select(
        "n_pairs_shuffled",
        "serial_corr_shuffled",
        "n_pairs_ordered",
        "serial_corr_ordered",
        (
            F.abs(F.col("serial_corr_shuffled"))
            <= F.abs(F.col("serial_corr_ordered"))
        ).alias("shuffle_helps"),
    )


def x335_watermark_planner(spark, sf_dir):
    """Watermark planning from observed lateness: each event gets a
    deterministic md5-exponential arrival delay (mean 10 min — the
    x26/x207 injection precedent, since the driver stream carries no
    processing time); for candidate watermarks of 5/15/30/60/120
    minutes, the fraction of events a streaming job would drop as
    too-late — the measured curve behind the s-series watermark
    constants (x312/x323 planner shape pointed at streaming).

    Scale: delay is a narrow map; the drop curve is |candidates|
    conditional aggregates over one scan."""
    ev = T(spark, sf_dir, "events")
    u = _uniform_from_md5(F.concat(F.lit("wm|"), F.col("event_id").cast("string")))
    delay_s = F.round(-F.lit(WM_MEAN_LATE_S) * F.log(u), 6)
    staged = ev.select(delay_s.alias("delay"))
    aggs = [F.count("*").alias("n_events")]
    for m in WM_CANDIDATES:
        aggs.append(
            r6(
                F.sum((F.col("delay") > m * 60.0).cast("long"))
                / F.count("*")
            ).alias(f"drop_{m}m")
        )
    one = staged.agg(*aggs)
    rows = []
    for m in WM_CANDIDATES:
        rows.append(
            one.select(
                F.lit(m).alias("watermark_min"),
                "n_events",
                F.col(f"drop_{m}m").alias("late_fraction"),
            )
        )
    out = rows[0]
    for nxt in rows[1:]:
        out = out.unionAll(nxt)
    return out.orderBy("watermark_min")


def x336_crosssource_dups(spark, sf_dir):
    """Cross-source near-dup contamination matrix: the x27-threshold
    exact-Jaccard pairs grouped by their (source_a, source_b) pair —
    which crawls copy from each other (off-diagonal mass) vs merely
    self-duplicate (diagonal) — the provenance readout behind mixture
    construction that x87's exact-hash overlap understates for
    near-dups.

    Scale: the pair relation is the bounded dedup output; sources join
    on (bounded) doc keys and the matrix is |sources|^2."""
    from social_warner_spark.operators.dedup import exact_jaccard_pairs
    from social_warner_spark.caching import register_persisted

    d = T(spark, sf_dir, "documents")
    pairs = exact_jaccard_pairs(d, XS_THRESHOLD).localCheckpoint(
        eager=True
    )
    src = register_persisted(d.select("doc_id", "source").persist())
    sa = src.select(
        F.col("doc_id").alias("doc_id_a"), F.col("source").alias("sa")
    )
    sb = src.select(
        F.col("doc_id").alias("doc_id_b"), F.col("source").alias("sb")
    )
    lab = pairs.join(sa, "doc_id_a").join(sb, "doc_id_b").select(
        F.least("sa", "sb").alias("s1"),
        F.greatest("sa", "sb").alias("s2"),
        "jaccard",
    )
    tot = lab.agg(F.count("*").alias("np"))
    return (
        lab.groupBy("s1", "s2")
        .agg(
            F.count("*").alias("n_pairs"),
            r6(F.avg("jaccard")).alias("avg_jaccard"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "s1",
            "s2",
            "n_pairs",
            "avg_jaccard",
            (F.col("s1") == F.col("s2")).alias("same_source"),
            r6(F.col("n_pairs") / F.col("np")).alias("pair_share"),
        )
        .orderBy("s1", "s2")
    )


# ---------------------------------------------------------------------------
# Oracles
# ---------------------------------------------------------------------------

_BA_ROWS = " UNION ALL ".join(
    f"""SELECT '{name}' AS table_name,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               ROUND({" + ".join(f"AVG(len({c}))" for c in strcols)}
                     + 8.0 * {nnum}, 2) AS est_row_bytes,
               CAST(ceil(COUNT(*)
                    * ({" + ".join(f"AVG(len({c}))" for c in strcols)}
                       + 8.0 * {nnum})) AS BIGINT) AS est_bytes
        FROM {name}"""
    for name, strcols, nnum in BA_TABLES
)

_WM_DROPS = ", ".join(
    f"ROUND(SUM(CASE WHEN delay > {m} * 60.0 THEN 1 ELSE 0 END) * 1.0"
    f" / COUNT(*), 6) AS drop_{m}m"
    for m in WM_CANDIDATES
)
_WM_ROWS = " UNION ALL ".join(
    f"SELECT {m} AS watermark_min, n_events,"
    f" drop_{m}m AS late_fraction FROM agg"
    for m in WM_CANDIDATES
)

ORACLES = {
    "x332_join_advisor": f"""
        WITH t AS ({_BA_ROWS})
        SELECT table_name, n_rows, est_row_bytes, est_bytes,
               est_bytes <= {BA_THRESHOLD} AS broadcastable,
               ROUND(est_bytes * 1.0 / {BA_THRESHOLD}, 6)
                   AS threshold_share
        FROM t ORDER BY table_name
    """,
    "x333_wilson_ci": f"""
        WITH g AS (
            SELECT source, COUNT(*) AS n,
                   AVG(CASE WHEN lang = '{WI_LANG}'
                            THEN 1.0 ELSE 0.0 END) AS p
            FROM documents GROUP BY 1
        )
        SELECT source, CAST(n AS BIGINT) AS n,
               ROUND(p, 6) AS p_hat,
               ROUND(p - {WI_Z} * sqrt(p * (1 - p) / n), 6) AS wald_lo,
               ROUND(p + {WI_Z} * sqrt(p * (1 - p) / n), 6) AS wald_hi,
               ROUND((p + {WI_Z * WI_Z} / (2 * n))
                     / (1 + {WI_Z * WI_Z} / n)
                     - {WI_Z} / (1 + {WI_Z * WI_Z} / n)
                       * sqrt(p * (1 - p) / n
                              + {WI_Z * WI_Z} / (4 * n * n)), 6)
                   AS wilson_lo,
               ROUND((p + {WI_Z * WI_Z} / (2 * n))
                     / (1 + {WI_Z * WI_Z} / n)
                     + {WI_Z} / (1 + {WI_Z * WI_Z} / n)
                       * sqrt(p * (1 - p) / n
                              + {WI_Z * WI_Z} / (4 * n * n)), 6)
                   AS wilson_hi,
               (p - {WI_Z} * sqrt(p * (1 - p) / n)) < 0
               OR (p + {WI_Z} * sqrt(p * (1 - p) / n)) > 1
                   AS wald_escapes_unit
        FROM g ORDER BY source
    """,
    "x334_shuffle_quality": f"""
        WITH staged AS MATERIALIZED (
            SELECT doc_id,
                   CASE WHEN lang = '{WI_LANG}' THEN 1.0 ELSE 0.0 END AS y,
                   CAST(('0x' || substr(md5('sq|' ||
                        CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
                       AS h
            FROM documents
        ), sh AS (
            SELECT y,
                   LAG(y) OVER (PARTITION BY h % {SQ_SHARDS}
                                ORDER BY h, doc_id) AS yl
            FROM staged
        ), shuf AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs_shuffled,
                   ROUND(corr(y, yl), 6) AS serial_corr_shuffled
            FROM sh WHERE yl IS NOT NULL
        ), bo AS (
            SELECT y, LAG(y) OVER (ORDER BY doc_id) AS yl FROM staged
        ), base AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs_ordered,
                   ROUND(corr(y, yl), 6) AS serial_corr_ordered
            FROM bo WHERE yl IS NOT NULL
        )
        SELECT n_pairs_shuffled, serial_corr_shuffled,
               n_pairs_ordered, serial_corr_ordered,
               ABS(serial_corr_shuffled) <= ABS(serial_corr_ordered)
                   AS shuffle_helps
        FROM shuf CROSS JOIN base
    """,
    "x335_watermark_planner": f"""
        WITH staged AS (
            SELECT ROUND(-{WM_MEAN_LATE_S} * ln(
                       (CAST(('0x' || substr(md5('wm|' ||
                            CAST(event_id AS VARCHAR)), 1, 8))
                            AS UBIGINT) + 1.0) / 4294967296.0), 6)
                       AS delay
            FROM events
        ), agg AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_events, {_WM_DROPS}
            FROM staged
        )
        SELECT * FROM ({_WM_ROWS})
        ORDER BY watermark_min
    """,
    "x336_crosssource_dups": f"""
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
            SELECT a, b, ROUND(c * 1.0 / (sa.sz + sb.sz - c), 6)
                       AS jaccard
            FROM shared
            JOIN sizes sa ON sa.doc_id = a
            JOIN sizes sb ON sb.doc_id = b
            WHERE ROUND(c * 1.0 / (sa.sz + sb.sz - c), 6)
                  >= {XS_THRESHOLD}
        ), lab AS (
            SELECT LEAST(da.source, db.source) AS s1,
                   GREATEST(da.source, db.source) AS s2,
                   p.jaccard
            FROM pairs p
            JOIN documents da ON da.doc_id = p.a
            JOIN documents db ON db.doc_id = p.b
        ), tot AS (
            SELECT COUNT(*) AS np FROM lab
        )
        SELECT s1, s2, CAST(COUNT(*) AS BIGINT) AS n_pairs,
               ROUND(AVG(jaccard), 6) AS avg_jaccard,
               s1 = s2 AS same_source,
               ROUND(COUNT(*) * 1.0 / MAX(tot.np), 6) AS pair_share
        FROM lab CROSS JOIN tot
        GROUP BY s1, s2
        ORDER BY s1, s2
    """,
}

QUERIES = {
    "x332_join_advisor": x332_join_advisor,
    "x333_wilson_ci": x333_wilson_ci,
    "x334_shuffle_quality": x334_shuffle_quality,
    "x335_watermark_planner": x335_watermark_planner,
    "x336_crosssource_dups": x336_crosssource_dups,
}
