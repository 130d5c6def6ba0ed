"""x16 series — round-3 widening batch (x262–x266): winnowing document
fingerprints, offline changepoint detection, randomization testing,
degree-distribution power-law fitting, and Matryoshka embedding
truncation evaluation.

Like every other series, each query is a pure DataFrame program over the
driver's parquet tables with an independently-written DuckDB oracle;
"randomness" is always a deterministic md5-derived stream so both
engines draw the identical sequence.

Literature grounding (public):
- Schleimer, Wilkerson & Aiken, "Winnowing: local algorithms for
  document fingerprinting" (SIGMOD 2003) — the MOSS fingerprint.
- Scott & Knott (1974) binary segmentation; cost formulation per
  Truong, Oudre & Vayatis, "Selective review of offline change point
  detection methods" (Signal Processing 2020).
- Fisher randomization test (1935); Monte-Carlo form per Dwass (1957),
  p-value correction per Phipson & Smyth (2010).
- Clauset, Shalizi & Newman, "Power-law distributions in empirical
  data" (SIAM Review 2009) — discrete MLE, eq. 3.7.
- Kusupati et al., "Matryoshka representation learning" (NeurIPS
  2022) — prefix-truncation retrieval evaluation.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from social_warner_spark.functions.text import md5_int, shingles_from_tokens, tokens
from social_warner_spark.functions.vectors import dot
from social_warner_spark.queries.common import T, r6

#: x262 — winnowing over 3-token shingles (the repo-wide gram unit):
#: window of WIN_W consecutive gram hashes, min per window; fingerprints
#: shared by more than WIN_MAX_DF docs leave candidate generation (the
#: hot-key cap that bounds the self-equi-join per fingerprint); top
#: WIN_TOPK pairs reported.
WIN_W = 4
WIN_MAX_DF = 50
WIN_TOPK = 20
#: x263 — minimum days per side of the candidate split.
CP_MIN_SEG = 5
#: x264 — randomization-test replicates and the two compared arms.
PERM_R = 200
PERM_A = "click"
PERM_B = "view"
#: x265 — power-law tail threshold (degrees >= XMIN enter the MLE).
PL_XMIN = 2
#: x266 — evaluated prefix truncations (64 = the full embedding, whose
#: recall row is the 1.0 sanity anchor), probe count, and rank depth.
MAT_DIMS = (8, 16, 32, 64)
MAT_PROBES = 20
MAT_TOPK = 10


def x262_winnowing_overlap(spark, sf_dir):
    """Winnowing fingerprint overlap (the MOSS scheme): per document,
    hash every 3-token shingle, slide a window of 4 consecutive hashes,
    keep each window's minimum — a position-robust fingerprint set that
    two documents share wherever they share a sufficiently long run.
    Reports the top-20 document pairs by fingerprint resemblance
    |Fa ∩ Fb| / |Fa ∪ Fb|.

    Scale: only (doc_id, pos, 32-hex hash) rows shuffle, never text; the
    per-doc window is a narrow partitionBy(doc) frame; fingerprints
    with doc-frequency > 50 are dropped from candidate generation
    (hot-key cap) so the self-equi-join is bounded per fingerprint."""
    d = T(spark, sf_dir, "documents")
    tk = d.select("doc_id", tokens(F.col("text")).alias("t")).where(
        F.size("t") >= 3
    )
    grams = tk.select(
        "doc_id",
        (F.size("t") - 2).alias("n_g"),
        F.posexplode(shingles_from_tokens(F.col("t"))).alias("pos", "g"),
    )
    win = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(0, WIN_W - 1)
    )
    fps = (
        grams.select(
            "doc_id",
            "pos",
            "n_g",
            F.min(F.md5("g")).over(win).alias("fp"),
        )
        .where(F.col("pos") <= F.col("n_g") - WIN_W)
        .select("doc_id", "fp")
        .distinct()
    )
    from social_warner_spark.caching import register_persisted

    fps = register_persisted(fps.persist())
    rare = (
        fps.groupBy("fp")
        .agg(F.count("*").alias("_df"))
        .where(F.col("_df") <= WIN_MAX_DF)
        .select("fp")
    )
    kept = fps.join(rare, "fp")
    sizes = fps.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a, b = kept.alias("a"), kept.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("a"), F.col("b.doc_id").alias("b")
        )
        .agg(F.count("*").alias("shared_fps"))
    )
    sa = sizes.select(F.col("doc_id").alias("a"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("doc_id").alias("b"), F.col("sz").alias("szb"))
    scored = (
        shared.join(sa, "a")
        .join(sb, "b")
        .select(
            "a",
            "b",
            "shared_fps",
            r6(
                F.col("shared_fps")
                / (F.col("sza") + F.col("szb") - F.col("shared_fps"))
            ).alias("resemblance"),
        )
    )
    w = Window.orderBy(F.desc("resemblance"), F.asc("a"), F.asc("b"))
    return (
        scored.orderBy(F.desc("resemblance"), F.asc("a"), F.asc("b"))
        .limit(WIN_TOPK)
        .withColumn("rk", F.row_number().over(w))
    )


def x263_changepoint(spark, sf_dir):
    """Single-changepoint detection on the daily total event value by
    binary segmentation: for every admissible split s (>= 5 days per
    side), cost(s) = SSE(left) + SSE(right) from prefix sums; the
    minimum-cost split (6dp-rounded, earliest-day tie-break, both
    engines) is the changepoint, reported with the two segment means
    and the variance-reduction fraction.

    Scale: the corpus collapses to the bounded daily grid in one
    aggregation; prefix sums are one narrow window over that grid and
    the argmin is orderBy+limit 1.  The prefix-sum grid is
    localCheckpoint-ed (r06): its two consumers (the grand-total row
    and the candidate scan) each re-embedded the events aggregation
    and the |days| windows before — one |days|-row materialization
    replaces both."""
    ev = T(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.round(F.sum("value"), 6).alias("y")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    idx = daily.select(
        "day",
        F.row_number().over(Window.orderBy("day")).alias("s"),
        F.sum("y").over(w).alias("s1"),
        F.sum(F.col("y") * F.col("y")).over(w).alias("s2"),
    ).localCheckpoint(eager=True)
    tot = idx.agg(
        F.max("s").alias("n"),
        F.max_by("s1", "s").alias("g1"),
        F.max_by("s2", "s").alias("g2"),
    )
    cand = idx.crossJoin(F.broadcast(tot)).where(
        (F.col("s") >= CP_MIN_SEG) & (F.col("s") <= F.col("n") - CP_MIN_SEG)
    )
    cost = F.round(
        (F.col("s2") - F.col("s1") * F.col("s1") / F.col("s"))
        + (
            (F.col("g2") - F.col("s2"))
            - (F.col("g1") - F.col("s1"))
            * (F.col("g1") - F.col("s1"))
            / (F.col("n") - F.col("s"))
        ),
        6,
    )
    sse_total = F.round(
        F.col("g2") - F.col("g1") * F.col("g1") / F.col("n"), 6
    )
    return (
        cand.select(
            F.col("day").alias("split_day"),
            F.col("s").alias("n_left"),
            (F.col("n") - F.col("s")).alias("n_right"),
            r6(F.col("s1") / F.col("s")).alias("mean_left"),
            r6((F.col("g1") - F.col("s1")) / (F.col("n") - F.col("s"))).alias(
                "mean_right"
            ),
            sse_total.alias("sse_total"),
            cost.alias("sse_split"),
            r6(1 - cost / sse_total).alias("reduction"),
        )
        .orderBy("sse_split", "split_day")
        .limit(1)
    )


def x264_permutation_test(spark, sf_dir):
    """Monte-Carlo randomization test for the click-vs-view mean-value
    difference: 200 deterministic md5-hash relabelings of the pooled
    rows, p = (1 + #{|diff_r| >= |diff_obs|}) / (R + 1) (the Phipson &
    Smyth add-one form, which never reports p = 0).

    Scale: the replicate explode multiplies the two-type scan by R but
    every row aggregates straight down to R x 2 partial cells (map-side
    combine) — the x167 distributed-bootstrap layout; the observed
    difference is a broadcast 1-row relation."""
    two = (
        T(spark, sf_dir, "events")
        .where(F.col("event_type").isin(PERM_A, PERM_B))
        .select("event_id", "event_type", "value")
    )
    is_a = F.col("event_type") == PERM_A
    obs = two.agg(
        F.sum(is_a.cast("long")).alias("n_a"),
        F.sum((~is_a).cast("long")).alias("n_b"),
        r6(
            F.sum(F.when(is_a, F.col("value"))) / F.sum(is_a.cast("long"))
            - F.sum(F.when(~is_a, F.col("value")))
            / F.sum((~is_a).cast("long"))
        ).alias("diff_obs"),
    )
    reps = two.crossJoin(
        F.broadcast(
            spark.range(1, PERM_R + 1).select(F.col("id").alias("r"))
        )
    )
    side = (
        md5_int(
            F.concat(
                F.col("event_id").cast("string"), F.lit("#"), F.col("r").cast("string")
            ),
            8,
        )
        % 2
    )
    rdiff = (
        reps.select("r", side.alias("g"), "value")
        .groupBy("r")
        .agg(
            r6(
                F.sum(F.when(F.col("g") == 0, F.col("value")))
                / F.sum((F.col("g") == 0).cast("long"))
                - F.sum(F.when(F.col("g") == 1, F.col("value")))
                / F.sum((F.col("g") == 1).cast("long"))
            ).alias("dr")
        )
    )
    return rdiff.crossJoin(F.broadcast(obs)).agg(
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
        F.max("diff_obs").alias("diff_obs"),
        r6(
            (
                1
                + F.sum(
                    (F.abs(F.col("dr")) >= F.abs(F.col("diff_obs"))).cast(
                        "long"
                    )
                )
            )
            / F.lit(float(PERM_R + 1))
        ).alias("p_value"),
    )


def x265_powerlaw_degree(spark, sf_dir):
    """Discrete power-law MLE over the part co-purchase degree
    distribution (Clauset-Shalizi-Newman eq. 3.7 with fixed xmin=2):
    alpha = 1 + n / sum(ln(d / (xmin - 1/2))), with the asymptotic
    standard error (alpha - 1)/sqrt(n) — the "is this graph scale-free
    enough to need hub handling" diagnostic behind x259's degree cap.

    Scale: degree counting is one shuffle of the symmetric edge
    relation; the MLE is a single aggregation of the |nodes|-row degree
    relation."""
    li = T(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    )
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.ok") == F.col("b.ok"))
            & (F.col("a.pk") < F.col("b.pk")),
        )
        .select(F.col("a.pk").alias("src"), F.col("b.pk").alias("dst"))
        .distinct()
    )
    from social_warner_spark.caching import register_persisted

    # both union sides re-derive the lineitem self-join — persist it.
    edges = register_persisted(edges.persist())
    und = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = und.groupBy("src").agg(F.count("*").alias("deg"))
    tail_ll = F.when(
        F.col("deg") >= PL_XMIN, F.log(F.col("deg") / (PL_XMIN - 0.5))
    )
    ag = deg.agg(
        F.count("*").alias("n_nodes"),
        F.max("deg").alias("max_degree"),
        F.count(tail_ll).alias("n_tail"),
        F.sum(tail_ll).alias("_sll"),
    )
    alpha = 1.0 + F.col("n_tail") / F.col("_sll")
    return ag.select(
        "n_nodes",
        "max_degree",
        "n_tail",
        r6(alpha).alias("alpha"),
        r6((alpha - 1.0) / F.sqrt(F.col("n_tail"))).alias("alpha_se"),
    )


def x266_matryoshka_recall(spark, sf_dir):
    """Matryoshka truncation evaluation: exact cosine top-10 neighbors
    for 20 probes at prefix dims 8/16/32/64, and each truncation's
    recall@10 against the full-dim (64) ranking — the curve that decides
    how many leading dimensions a prefix-truncated ANN index can drop
    (the 64-row is the built-in 1.0 sanity anchor).

    Scale: per dim, the brute-force score is the l3 baseline shape —
    probes broadcast, one fold per pair with norms staged per side;
    per-probe top-k is a bounded rank window over probe partitions."""
    e = T(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    per_dim = []
    for dim in MAT_DIMS:
        tr = e.select("vec_id", F.slice("v", 1, dim).alias("v"))
        cand = tr.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("v").alias("cv"),
            F.sqrt(dot(F.col("v"), F.col("v"))).alias("cn"),
        )
        probes = tr.where(F.col("vec_id") < MAT_PROBES).select(
            F.col("vec_id").alias("probe_id"),
            F.col("v").alias("pv"),
            F.sqrt(dot(F.col("v"), F.col("v"))).alias("pn"),
        )
        scored = cand.join(
            F.broadcast(probes),
            F.col("neighbor_id") != F.col("probe_id"),
        ).select(
            "probe_id",
            "neighbor_id",
            r6(
                dot(F.col("pv"), F.col("cv")) / (F.col("pn") * F.col("cn"))
            ).alias("cos"),
        )
        rw = Window.partitionBy("probe_id").orderBy(
            F.desc("cos"), F.asc("neighbor_id")
        )
        per_dim.append(
            scored.withColumn("rk", F.row_number().over(rw))
            .where(F.col("rk") <= MAT_TOPK)
            .select(
                F.lit(dim).alias("dim"), "probe_id", "neighbor_id"
            )
        )
    tops = per_dim[0]
    for nxt in per_dim[1:]:
        tops = tops.union(nxt)
    from social_warner_spark.caching import register_persisted

    tops = register_persisted(tops.persist())
    full = tops.where(F.col("dim") == MAT_DIMS[-1]).select(
        "probe_id", "neighbor_id"
    )
    hits = tops.join(full, ["probe_id", "neighbor_id"]).groupBy("dim").agg(
        F.count("*").alias("_hits")
    )
    return (
        hits.select(
            "dim",
            r6(F.col("_hits") / F.lit(float(MAT_PROBES * MAT_TOPK))).alias(
                "recall_at_10"
            ),
        )
        .orderBy("dim")
    )


#: Portable hex8→int: DuckDB-side mirror of Spark's
#: functions.text.md5_int(x, 8).
def _hex8(x: str) -> str:
    return f"CAST(('0x' || substr(md5({x}), 1, 8)) AS UBIGINT)"


_WINNOW_FPS_SQL = f"""toks AS (
            SELECT doc_id, string_split(trim(text), ' ') AS t
            FROM documents
            WHERE len(string_split(trim(text), ' ')) >= 3
        ), grams AS (
            SELECT doc_id, len(t) - 2 AS n_g, i,
                   t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
            FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
        ), winmin AS (
            SELECT doc_id, i, n_g,
                   MIN(md5(g)) OVER (
                       PARTITION BY doc_id ORDER BY i
                       ROWS BETWEEN CURRENT ROW AND {WIN_W - 1} FOLLOWING
                   ) AS fp
            FROM grams
        ), fps AS (
            SELECT DISTINCT doc_id, fp FROM winmin
            WHERE i <= n_g - {WIN_W} + 1
        )"""


ORACLES = {
    "x262_winnowing_overlap": f"""
        WITH {_WINNOW_FPS_SQL}, rare AS (
            SELECT fp FROM fps GROUP BY fp
            HAVING COUNT(*) <= {WIN_MAX_DF}
        ), kept AS (
            SELECT f.doc_id, f.fp FROM fps f JOIN rare USING (fp)
        ), sizes AS (
            SELECT doc_id, COUNT(*) AS sz FROM fps GROUP BY doc_id
        ), shared AS (
            SELECT a.doc_id AS a, b.doc_id AS b,
                   CAST(COUNT(*) AS BIGINT) AS shared_fps
            FROM kept a JOIN kept b
              ON a.fp = b.fp AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ), scored AS (
            SELECT s.a, s.b, s.shared_fps,
                   ROUND(CAST(s.shared_fps AS DOUBLE)
                         / (sa.sz + sb.sz - s.shared_fps), 6) AS resemblance
            FROM shared s
            JOIN sizes sa ON sa.doc_id = s.a
            JOIN sizes sb ON sb.doc_id = s.b
        ), ranked AS (
            SELECT *, CAST(ROW_NUMBER() OVER (
                       ORDER BY resemblance DESC, a, b) AS INT) AS rk
            FROM scored
        )
        SELECT a, b, shared_fps, resemblance, rk
        FROM ranked WHERE rk <= {WIN_TOPK}
    """,
    "x263_changepoint": f"""
        WITH daily AS (
            SELECT date_trunc('day', ts) AS day, ROUND(SUM(value), 6) AS y
            FROM events GROUP BY 1
        ), idx AS (
            SELECT day,
                   CAST(ROW_NUMBER() OVER (ORDER BY day) AS INT) AS s,
                   SUM(y) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                       AS s1,
                   SUM(y * y) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                       AS s2
            FROM daily
        ), tot AS (
            SELECT MAX(s) AS n,
                   MAX_BY(s1, s) AS g1, MAX_BY(s2, s) AS g2
            FROM idx
        ), cand AS (
            SELECT day AS split_day, s AS n_left,
                   CAST(n - s AS INT) AS n_right,
                   ROUND(s1 / s, 6) AS mean_left,
                   ROUND((g1 - s1) / (n - s), 6) AS mean_right,
                   ROUND(g2 - g1 * g1 / n, 6) AS sse_total,
                   ROUND((s2 - s1 * s1 / s)
                         + ((g2 - s2)
                            - (g1 - s1) * (g1 - s1) / (n - s)), 6)
                       AS sse_split
            FROM idx CROSS JOIN tot
            WHERE s >= {CP_MIN_SEG} AND s <= n - {CP_MIN_SEG}
        )
        SELECT split_day, n_left, n_right, mean_left, mean_right,
               sse_total, sse_split,
               ROUND(1 - sse_split / sse_total, 6) AS reduction
        FROM cand
        ORDER BY sse_split, split_day
        LIMIT 1
    """,
    "x264_permutation_test": f"""
        WITH two AS (
            SELECT event_id, event_type, value FROM events
            WHERE event_type IN ('{PERM_A}', '{PERM_B}')
        ), obs AS (
            SELECT CAST(SUM(CASE WHEN event_type = '{PERM_A}'
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                   CAST(SUM(CASE WHEN event_type = '{PERM_B}'
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                   ROUND(AVG(CASE WHEN event_type = '{PERM_A}'
                                  THEN value END)
                         - AVG(CASE WHEN event_type = '{PERM_B}'
                                    THEN value END), 6) AS diff_obs
            FROM two
        ), reps AS (
            SELECT t.value,
                   {_hex8("CAST(t.event_id AS VARCHAR) || '#' || CAST(g.r AS VARCHAR)")} % 2 AS g,
                   g.r
            FROM two t CROSS JOIN generate_series(1, {PERM_R}) AS g(r)
        ), rdiff AS (
            SELECT r,
                   ROUND(AVG(CASE WHEN g = 0 THEN value END)
                         - AVG(CASE WHEN g = 1 THEN value END), 6) AS dr
            FROM reps GROUP BY r
        )
        SELECT obs.n_a, obs.n_b, obs.diff_obs,
               ROUND((1 + SUM(CASE WHEN ABS(dr) >= ABS(diff_obs)
                                   THEN 1 ELSE 0 END))
                     / {float(PERM_R + 1)}, 6) AS p_value
        FROM rdiff CROSS JOIN obs
        GROUP BY obs.n_a, obs.n_b, obs.diff_obs
    """,
    "x265_powerlaw_degree": f"""
        WITH li AS (
            SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        ), edges AS (
            SELECT DISTINCT a.pk AS src, b.pk AS dst
            FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        ), und AS (
            SELECT src, dst FROM edges
            UNION ALL
            SELECT dst, src FROM edges
        ), deg AS (
            SELECT src, COUNT(*) AS deg FROM und GROUP BY 1
        ), ag AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
                   CAST(MAX(deg) AS BIGINT) AS max_degree,
                   CAST(COUNT(CASE WHEN deg >= {PL_XMIN} THEN 1 END)
                        AS BIGINT) AS n_tail,
                   SUM(CASE WHEN deg >= {PL_XMIN}
                            THEN ln(deg / ({PL_XMIN} - 0.5)) END) AS sll
            FROM deg
        )
        SELECT n_nodes, max_degree, n_tail,
               ROUND(1.0 + n_tail / sll, 6) AS alpha,
               ROUND((n_tail / sll) / sqrt(n_tail), 6) AS alpha_se
        FROM ag
    """,
    "x266_matryoshka_recall": " UNION ALL ".join(
        f"""
        SELECT dim, ROUND(CAST(COUNT(*) AS DOUBLE)
                          / {float(MAT_PROBES * MAT_TOPK)}, 6)
                   AS recall_at_10
        FROM (
            WITH scored AS (
                SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
                       ROUND(
                         list_dot_product(p.embedding[1:{dim}]::DOUBLE[],
                                          c.embedding[1:{dim}]::DOUBLE[])
                         / (sqrt(list_dot_product(
                                p.embedding[1:{dim}]::DOUBLE[],
                                p.embedding[1:{dim}]::DOUBLE[]))
                            * sqrt(list_dot_product(
                                c.embedding[1:{dim}]::DOUBLE[],
                                c.embedding[1:{dim}]::DOUBLE[]))), 6) AS cos
                FROM embeddings p JOIN embeddings c
                  ON p.vec_id != c.vec_id
                WHERE p.vec_id < {MAT_PROBES}
            ), fscored AS (
                SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
                       ROUND(
                         list_dot_product(p.embedding::DOUBLE[],
                                          c.embedding::DOUBLE[])
                         / (sqrt(list_dot_product(p.embedding::DOUBLE[],
                                                  p.embedding::DOUBLE[]))
                            * sqrt(list_dot_product(c.embedding::DOUBLE[],
                                                    c.embedding::DOUBLE[]))),
                         6) AS cos
                FROM embeddings p JOIN embeddings c
                  ON p.vec_id != c.vec_id
                WHERE p.vec_id < {MAT_PROBES}
            ), t AS (
                SELECT {dim} AS dim, probe_id, neighbor_id
                FROM (SELECT *, ROW_NUMBER() OVER (
                          PARTITION BY probe_id
                          ORDER BY cos DESC, neighbor_id) AS rk
                      FROM scored)
                WHERE rk <= {MAT_TOPK}
            ), f AS (
                SELECT probe_id, neighbor_id
                FROM (SELECT *, ROW_NUMBER() OVER (
                          PARTITION BY probe_id
                          ORDER BY cos DESC, neighbor_id) AS rk
                      FROM fscored)
                WHERE rk <= {MAT_TOPK}
            )
            SELECT t.dim, t.probe_id, t.neighbor_id
            FROM t JOIN f USING (probe_id, neighbor_id)
        )
        GROUP BY dim
        """
        for dim in MAT_DIMS
    )
    + " ORDER BY dim",
}

QUERIES = {
    "x262_winnowing_overlap": x262_winnowing_overlap,
    "x263_changepoint": x263_changepoint,
    "x264_permutation_test": x264_permutation_test,
    "x265_powerlaw_degree": x265_powerlaw_degree,
    "x266_matryoshka_recall": x266_matryoshka_recall,
}
