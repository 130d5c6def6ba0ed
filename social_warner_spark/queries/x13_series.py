"""x13 series — round-3 continuation (x220+): the modern training-data
curation batch — PQ ANN, k-center coresets, confident-learning label
noise, quantile normalization, hard-negative mining, DoReMi/DSIR data
mixing and selection, D4 prototype pruning, padding-efficiency, margin
bitext mining, vocab budget sweep, HITS.

Product quantization (Jégou, Douze, Schmid — "Product Quantization for
Nearest Neighbor Search", IEEE TPAMI 2011) is the third ANN tier after
sign-LSH (x8) and IVF (x24): vectors are stored as m small codes (here
16 codes over 4-dim subspaces → 16× smaller than float32 at 1 byte per
code), candidate search runs against per-probe asymmetric-distance
lookup tables instead of raw vectors, and the final top-k is re-ranked
with exact distances over the ADC shortlist only.  At 100 TB of
embeddings this is the variant whose INDEX fits where the vectors do
not.

Like the IVF query, everything is made deterministic (seeded codebooks,
one Lloyd step, 6dp-rounded means and partial distances) so the whole
pipeline — fit, encode, ADC search, exact re-rank — is oracle-checkable
end to end; recall vs the exact scorer is tolerance-tested in
tests/test_approx.py (measured 0.92/0.84/0.84 at sf0.001/0.01/0.1).
"""

from __future__ import annotations

import pyspark.sql.functions as F

from social_warner_spark.queries.common import T, r6, r6t

#: PQ geometry: 64-dim embeddings → 16 subspaces × 4 dims, 16 codewords
#: each; ADC keeps a 50-candidate shortlist that is re-ranked exactly.
PQ_M = 16
PQ_K = 16
PQ_SUBLEN = 4
PQ_ITERS = 1
PQ_RERANK = 50
PQ_TOPK = 5
PQ_DIM = 64


def x220_pq_ann(spark, sf_dir):
    """PQ/ADC approximate top-5 neighbors for probes vec_id < 10
    (operators/similarity.py: pq_codebooks / pq_encode / l2_topk_pq).

    100 TB: the codebook fit is `iters + 1` corpus passes with one tiny
    (m·k·sublen-row) shuffle each; encode is one map-side-combined
    shuffle; each probe's distance table is a broadcast m·k-slot map, so
    ADC-scoring the encoded corpus is a NARROW map (m lookups per pair)
    with no shuffle until the per-probe shortlist; the exact re-rank
    touches true vectors for only rerank/|corpus| of the candidates."""
    from social_warner_spark.operators.similarity import l2_topk_pq

    emb = T(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") < 10)
    return l2_topk_pq(
        emb,
        probes,
        k=PQ_TOPK,
        m=PQ_M,
        ncode=PQ_K,
        sublen=PQ_SUBLEN,
        iters=PQ_ITERS,
        rerank=PQ_RERANK,
    )


_L2 = (
    "ROUND(list_sum(list_transform(range(1, {n} + 1),"
    " i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))), 6)"
)


def _pq_oracle() -> str:
    l2_seed = _L2.format(n=PQ_SUBLEN, a="c.sv", b="s.cw")
    l2_book = _L2.format(n=PQ_SUBLEN, a="c.sv", b="b.cw")
    l2_full = _L2.format(n=PQ_DIM, a="p.ev", b="c.ev")
    return f"""
        WITH subsp AS (
            SELECT CAST(s AS INT) AS sub, CAST(s * {PQ_SUBLEN} + 1 AS INT) AS lo
            FROM range(0, {PQ_M}) t(s)
        ), corp AS (
            SELECT e.vec_id, sp.sub,
                   (e.embedding[sp.lo : sp.lo + {PQ_SUBLEN} - 1])::DOUBLE[] AS sv
            FROM embeddings e CROSS JOIN subsp sp
        ), seeds AS (
            SELECT sub,
                   CAST(ROW_NUMBER() OVER (PARTITION BY sub ORDER BY vec_id) - 1
                        AS INT) AS code,
                   sv AS cw
            FROM corp
            WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id
                             LIMIT {PQ_K})
        ), assign0 AS (
            SELECT vec_id, sub, code, sv FROM (
                SELECT c.vec_id, c.sub, s.code, c.sv,
                       ROW_NUMBER() OVER (PARTITION BY c.vec_id, c.sub
                                          ORDER BY {l2_seed}, s.code) AS rk
                FROM corp c JOIN seeds s ON c.sub = s.sub
            ) WHERE rk = 1
        ), means AS (
            SELECT sub, code, i AS pos, ROUND(AVG(sv[i]), 6) AS mv
            FROM assign0, UNNEST(range(1, {PQ_SUBLEN} + 1)) u(i)
            GROUP BY sub, code, i
        ), book AS MATERIALIZED (
            SELECT sub, code, list(mv ORDER BY pos) AS cw
            FROM means GROUP BY sub, code
        ), enc AS (
            SELECT vec_id, sub, code FROM (
                SELECT c.vec_id, c.sub, b.code,
                       ROW_NUMBER() OVER (PARTITION BY c.vec_id, c.sub
                                          ORDER BY {l2_book}, b.code) AS rk
                FROM corp c JOIN book b ON c.sub = b.sub
            ) WHERE rk = 1
        ), lut AS (
            SELECT c.vec_id AS probe_id, c.sub, b.code, {l2_book} AS pd
            FROM corp c JOIN book b ON c.sub = b.sub
            WHERE c.vec_id < 10
        ), adc AS (
            SELECT l.probe_id, e.vec_id AS neighbor_id, ROUND(SUM(l.pd), 6) AS adist
            FROM enc e JOIN lut l ON e.sub = l.sub AND e.code = l.code
            WHERE l.probe_id != e.vec_id
            GROUP BY l.probe_id, e.vec_id
        ), shortlist AS (
            SELECT probe_id, neighbor_id FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                                             ORDER BY adist, neighbor_id) AS srk
                FROM adc
            ) WHERE srk <= {PQ_RERANK}
        ), ev AS (
            SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings
        ), exact AS (
            SELECT s.probe_id, s.neighbor_id, {l2_full} AS edist
            FROM shortlist s
            JOIN ev c ON c.vec_id = s.neighbor_id
            JOIN ev p ON p.vec_id = s.probe_id
        ), ranked AS (
            SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY probe_id
                                              ORDER BY edist, neighbor_id)
                           AS INT) AS rk
            FROM exact
        )
        SELECT probe_id, neighbor_id, edist, rk FROM ranked WHERE rk <= {PQ_TOPK}
    """


#: k-center geometry: Gonzalez farthest-point selection of 8 coreset
#: representatives over the 64-dim embeddings under squared L2.
KC_K = 8


def x221_kcenter_coreset(spark, sf_dir):
    """Gonzalez farthest-point k-center coreset (k=8) over the embedding
    corpus — the classic 2-approximation for diversity-maximizing subset
    selection (Gonzalez, "Clustering to minimize the maximum intercluster
    distance", TCS 1985), the geometric dual of dedup: pick the examples
    that are LEAST like anything already kept.

    Seed = lowest vec_id; each round the next center is the point whose
    distance to the chosen set is largest (6dp-rounded squared L2, vec_id
    tie-break), and d_sel records that covering radius — a non-increasing
    curve that doubles as a "how much diversity is left" diagnostic.

    100 TB: per round ONE narrow corpus map (least(mind, d(v, new))) plus
    a top-1 TakeOrdered reduction; the chosen center travels back as a
    broadcast 1-row relation, and the running min-distance state is
    eagerly localCheckpoint-ed so k rounds never re-derive lineage — the
    x185/x203 iterative shuffle budget.  No pairwise join ever forms.
    """
    from social_warner_spark.operators.similarity import _l2sq

    emb = T(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    seed = emb.orderBy("vec_id").limit(1).localCheckpoint(eager=True)
    state = emb.crossJoin(F.broadcast(seed.select(F.col("v").alias("cv")))).select(
        "vec_id", "v", F.round(_l2sq(F.col("v"), F.col("cv")), 6).alias("mind")
    )
    picks = [
        seed.select(
            F.lit(0).alias("sel_order"), "vec_id", F.lit(0.0).alias("d_sel")
        )
    ]
    for r in range(1, KC_K):
        state = state.localCheckpoint(eager=True)
        nxt = (
            state.orderBy(F.desc("mind"), F.asc("vec_id"))
            .limit(1)
            .localCheckpoint(eager=True)
        )
        picks.append(
            nxt.select(
                F.lit(r).alias("sel_order"), "vec_id", F.col("mind").alias("d_sel")
            )
        )
        state = state.crossJoin(
            F.broadcast(nxt.select(F.col("v").alias("cv")))
        ).select(
            "vec_id",
            "v",
            F.least(
                F.col("mind"), F.round(_l2sq(F.col("v"), F.col("cv")), 6)
            ).alias("mind"),
        )
    out = picks[0]
    for p in picks[1:]:
        out = out.unionAll(p)
    return out


def _kcenter_oracle() -> str:
    def l2(a: str, b: str) -> str:
        return _L2.format(n=PQ_DIM, a=a, b=b)

    parts = [
        "WITH ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        "c0 AS (SELECT vec_id, v FROM ev ORDER BY vec_id LIMIT 1)",
        (
            "s0 AS MATERIALIZED (SELECT e.vec_id, e.v, "
            f"{l2('e.v', 'c.v')} AS mind FROM ev e CROSS JOIN c0 c)"
        ),
    ]
    for r in range(1, KC_K):
        parts.append(
            f"p{r} AS MATERIALIZED (SELECT vec_id, v, mind FROM s{r - 1} "
            "ORDER BY mind DESC, vec_id LIMIT 1)"
        )
        if r < KC_K - 1:
            parts.append(
                f"s{r} AS MATERIALIZED (SELECT s.vec_id, s.v, "
                f"LEAST(s.mind, {l2('s.v', 'p.v')}) AS mind "
                f"FROM s{r - 1} s CROSS JOIN p{r} p)"
            )
    selects = [
        "SELECT 0 AS sel_order, vec_id, CAST(0.0 AS DOUBLE) AS d_sel FROM c0"
    ]
    for r in range(1, KC_K):
        selects.append(
            f"SELECT {r} AS sel_order, vec_id, mind AS d_sel FROM p{r}"
        )
    return ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


def x222_label_noise_screen(spark, sf_dir):
    """Confident-learning label-noise screen (Northcutt, Jiang, Chuang —
    "Confident Learning: Estimating Uncertainty in Dataset Labels", JAIR
    2021, arXiv:1911.00068) over the documents table: the given `lang`
    column plays the noisy label, x3's marker-ratio scores play the
    per-class predicted probabilities.

    Per class j the confident threshold t_j is the mean self-confidence
    of docs GIVEN label j; a doc is counted into the off-diagonal of the
    confident joint when its argmax-over-threshold class differs from its
    given label.  Output: per (given_lang, flagged_as) suspect count,
    mean flagging confidence, and the lowest flagged doc_id as an
    auditable example.

    100 TB: scores are a zero-shuffle narrow map; the long form explodes
    to a bounded |langs|× stream; thresholds are a |langs|-row broadcast;
    the per-doc argmax is a map-side-combined min_by aggregate.
    """
    from social_warner_spark.functions.text import LANG_MARKERS, tokens

    d = T(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    t = tokens(F.col("text"))
    n = F.greatest(F.size(t), F.lit(1))
    langs = sorted(LANG_MARKERS)
    scored = d.select(
        "doc_id",
        F.col("lang").alias("given_lang"),
        *[
            # F.filter evaluates the lambda eagerly per iteration, so the
            # loop variable is bound correctly (same pattern as x3).
            r6(
                F.size(F.filter(t, lambda x: x.isin(*LANG_MARKERS[lg]))) / n
            ).alias(f"s_{lg}")
            for lg in langs
        ],
    )
    long = scored.select(
        "doc_id",
        "given_lang",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(lg).alias("j"), F.col(f"s_{lg}").alias("s"))
                    for lg in langs
                ]
            )
        ).alias("e"),
    ).select("doc_id", "given_lang", F.col("e.j").alias("j"), F.col("e.s").alias("s"))
    thr = (
        long.where(F.col("j") == F.col("given_lang"))
        .groupBy("j")
        .agg(r6(F.avg("s")).alias("t"))
    )
    # s > 0 mirrors CL's requirement of positive predicted probability:
    # a class whose markers never fire for its own docs has t_j = 0, and
    # without the guard every zero-score class would be "confident".
    pick = (
        long.join(F.broadcast(thr), "j")
        .where((F.col("s") >= F.col("t")) & (F.col("s") > 0))
        .groupBy("doc_id", "given_lang")
        .agg(
            F.min_by(
                F.struct(F.col("j").alias("j"), F.col("s").alias("s")),
                F.struct((-F.col("s")).alias("o1"), F.col("j").alias("o2")),
            ).alias("b")
        )
        .select(
            "doc_id",
            "given_lang",
            F.col("b.j").alias("flagged_as"),
            F.col("b.s").alias("s"),
        )
    )
    return (
        pick.where(F.col("flagged_as") != F.col("given_lang"))
        .groupBy("given_lang", "flagged_as")
        .agg(
            F.count("*").alias("n_docs"),
            r6(F.avg("s")).alias("mean_conf"),
            F.min("doc_id").alias("example_doc_id"),
        )
    )


def _label_noise_oracle() -> str:
    from social_warner_spark.queries.x_series import _LANGS, _lang_score_sql

    score_cols = ",\n                   ".join(
        f"ROUND({_lang_score_sql(lg)}, 6) AS s_{lg}" for lg in _LANGS
    )
    long_sql = "\n            UNION ALL\n".join(
        f"            SELECT doc_id, given_lang, '{lg}' AS j, s_{lg} AS s FROM sc"
        for lg in _LANGS
    )
    return f"""
        WITH sc AS MATERIALIZED (
            SELECT doc_id, lang AS given_lang,
                   {score_cols}
            FROM documents
        ), long AS MATERIALIZED (
{long_sql}
        ), thr AS (
            SELECT j, ROUND(AVG(s), 6) AS t FROM long
            WHERE j = given_lang GROUP BY j
        ), conf AS (
            SELECT l.doc_id, l.given_lang, l.j, l.s,
                   ROW_NUMBER() OVER (PARTITION BY l.doc_id
                                      ORDER BY l.s DESC, l.j) AS rk
            FROM long l JOIN thr t ON l.j = t.j
            WHERE l.s >= t.t AND l.s > 0
        )
        SELECT given_lang, j AS flagged_as, COUNT(*) AS n_docs,
               ROUND(AVG(s), 6) AS mean_conf, MIN(doc_id) AS example_doc_id
        FROM conf WHERE rk = 1 AND j != given_lang
        GROUP BY given_lang, j
    """


def x223_quantile_normalize(spark, sf_dir):
    """Cross-source quantile normalization of the x4 quality score: each
    doc's within-source rank position is mapped onto the GLOBAL score
    distribution by linear interpolation between the two nearest global
    order statistics — the microarray quantile-normalization recipe
    (Bolstad et al., Bioinformatics 2003) generalized to unequal group
    sizes, so heterogeneous sources become comparable before mixing.

    Rank position p = (rn−1)/(n_s−1) uses row_number over (q, doc_id) —
    a total order, so ties are deterministic; interpolation position
    p·(N−1)+1 hits exact integers at the endpoints.

    100 TB: the global order statistics come from operators/ordered.py
    with_grouped_rank with no group keys (range-partitioned ranks +
    broadcast offsets — NO single-partition window); the lookup is two
    integer equi-joins against that relation.  At real scale the exact ECDF would be
    replaced by a bounded quantile grid (e.g. 10k knots) broadcast to
    the mappers; the exact form here is what makes the query
    hash-checkable end to end.
    """
    from social_warner_spark.functions.text import quality_score
    from social_warner_spark.operators.ordered import with_grouped_rank

    d = T(spark, sf_dir, "documents").select(
        "doc_id", "source", quality_score(F.col("text")).alias("q")
    )
    g = with_grouped_rank(d, [], [F.col("q"), F.col("doc_id")], "gidx")
    nrow = g.agg(F.count("*").alias("n"))
    # r07: within-source ranks via the GROUPED distributed rank —
    # Window.partitionBy(source) is a per-source single-task corpus sort
    # at 100 TB (r06 verdict); the per-source total rides the same
    # boundary collect (count_col), so the count(*)-over-source window
    # disappears too.
    ranked = with_grouped_rank(
        d, ["source"], ["q", "doc_id"], rank_col="rn", count_col="ns"
    ).crossJoin(F.broadcast(nrow))
    p = (
        F.when(
            F.col("ns") > 1,
            (F.col("rn") - 1).cast("double") / (F.col("ns") - 1).cast("double"),
        )
        .otherwise(F.lit(0.0))
    )
    pos = p * (F.col("n") - 1).cast("double") + F.lit(1.0)
    staged = ranked.select(
        "doc_id",
        "source",
        "q",
        F.floor(pos).cast("long").alias("lo"),
        F.ceil(pos).cast("long").alias("hi"),
        (pos - F.floor(pos)).alias("frac"),
    )
    glo = g.select(F.col("gidx").alias("lo"), F.col("q").alias("q_lo"))
    ghi = g.select(F.col("gidx").alias("hi"), F.col("q").alias("q_hi"))
    return (
        staged.join(glo, "lo")
        .join(ghi, "hi")
        .select(
            "doc_id",
            "source",
            F.col("q").alias("quality"),
            r6(
                F.col("q_lo") + F.col("frac") * (F.col("q_hi") - F.col("q_lo"))
            ).alias("quality_norm"),
        )
    )


def _quantile_normalize_oracle() -> str:
    from social_warner_spark.queries.x5_series import _QUALITY_SQL

    return f"""
        WITH d AS MATERIALIZED (
            SELECT doc_id, source, ROUND({_QUALITY_SQL}, 6) AS q FROM documents
        ), g AS MATERIALIZED (
            SELECT q, ROW_NUMBER() OVER (ORDER BY q, doc_id) AS gidx FROM d
        ), n AS (SELECT COUNT(*) AS n FROM d),
        s AS (
            SELECT r.doc_id, r.source, r.q,
                   (CASE WHEN r.ns > 1
                         THEN CAST(r.rn - 1 AS DOUBLE) / CAST(r.ns - 1 AS DOUBLE)
                         ELSE CAST(0.0 AS DOUBLE) END)
                     * CAST(n.n - 1 AS DOUBLE) + CAST(1.0 AS DOUBLE) AS pos
            FROM (
                SELECT doc_id, source, q,
                       ROW_NUMBER() OVER (PARTITION BY source
                                          ORDER BY q, doc_id) AS rn,
                       COUNT(*) OVER (PARTITION BY source) AS ns
                FROM d
            ) r CROSS JOIN n
        )
        SELECT s.doc_id, s.source, s.q AS quality,
               ROUND(glo.q + (s.pos - FLOOR(s.pos)) * (ghi.q - glo.q), 6)
                 AS quality_norm
        FROM s
        JOIN g glo ON glo.gidx = CAST(FLOOR(s.pos) AS BIGINT)
        JOIN g ghi ON ghi.gidx = CAST(CEIL(s.pos) AS BIGINT)
    """


#: hard-negative mining geometry: 4 sign planes, Hamming<=1 multiprobe,
#: top-3 cross-class negatives per probe.
HN_PLANES = 4
HN_K = 3
HN_PROBES = 10


def x224_hard_negative_mining(spark, sf_dir):
    """Cross-class hard-negative mining for contrastive / retrieval
    training (the DPR recipe — Karpukhin et al., arXiv:2004.04906: the
    best negatives are the most-similar examples with a DIFFERENT
    label).  For each probe, candidates come from its sign-LSH bucket
    neighborhood (Hamming<=1 multiprobe — the x8 machinery), are
    restricted to documents whose language label differs from the
    probe's, and the top-3 by cosine are the mined negatives.

    100 TB: the embedding-to-label attach is one co-partitioned id
    equi-join; candidate generation is the bucket equi-join (probe side
    explodes its 1+planes variants, the corpus never does); the label
    inequality is a post-join filter on already-joined rows, never a
    join condition that would degrade to a nested loop.
    """
    from social_warner_spark.functions.vectors import cosine_prenormed, l2_norm, scoring_vec
    from social_warner_spark.operators.similarity import (
        sign_bucket,
        sign_bucket_variants,
    )

    emb = T(spark, sf_dir, "embeddings")
    labels = T(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "lang"
    )
    base = emb.join(labels, "vec_id")
    c = base.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("lang").alias("neg_lang"),
        scoring_vec(F.col("embedding")).alias("vc"),
        l2_norm(F.col("embedding")).alias("nc"),
        sign_bucket(F.col("embedding"), HN_PLANES).alias("bk"),
    )
    p = base.where(F.col("vec_id") < HN_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("lang").alias("probe_lang"),
        scoring_vec(F.col("embedding")).alias("vp"),
        l2_norm(F.col("embedding")).alias("np"),
        F.explode(sign_bucket_variants(F.col("embedding"), HN_PLANES)).alias("bk"),
    )
    scored = (
        c.join(F.broadcast(p), "bk")
        .where(
            (F.col("probe_id") != F.col("neighbor_id"))
            & (F.col("probe_lang") != F.col("neg_lang"))
        )
        .withColumn(
            "cos",
            F.round(
                cosine_prenormed(F.col("vp"), F.col("vc"), F.col("np"), F.col("nc")),
                6,
            ),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("probe_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= HN_K)
        .select("probe_id", "probe_lang", "neighbor_id", "neg_lang", "cos", "rk")
    )


def _hard_negative_oracle() -> str:
    from social_warner_spark.queries.x3_series import _IVF_COS

    bk = " || ".join(
        f"CASE WHEN embedding[{i + 1}] >= 0 THEN '1' ELSE '0' END"
        for i in range(HN_PLANES)
    )
    hamming = " + ".join(
        f"CASE WHEN substr(p.bk,{i + 1},1)=substr(c.bk,{i + 1},1) THEN 0 ELSE 1 END"
        for i in range(HN_PLANES)
    )
    cos = _IVF_COS.format(a="p.embedding", b="c.embedding")
    return f"""
        WITH lab AS MATERIALIZED (
            SELECT e.vec_id, e.embedding, d.lang, ({bk}) AS bk
            FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
        ), scored AS (
            SELECT p.vec_id AS probe_id, p.lang AS probe_lang,
                   c.vec_id AS neighbor_id, c.lang AS neg_lang,
                   {cos} AS cos
            FROM lab p JOIN lab c
              ON ({hamming}) <= 1
             AND p.vec_id != c.vec_id
             AND p.lang != c.lang
            WHERE p.vec_id < {HN_PROBES}
        ), ranked AS (
            SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY probe_id
                                              ORDER BY cos DESC, neighbor_id)
                           AS INT) AS rk
            FROM scored
        )
        SELECT probe_id, probe_lang, neighbor_id, neg_lang, cos, rk
        FROM ranked WHERE rk <= {HN_K}
    """


#: DoReMi-lite temperature for turning excess cross-entropy into weights.
DOREMI_T = 0.5


def x225_doremi_weights(spark, sf_dir):
    """DoReMi-lite domain reweighting (Xie et al., "DoReMi: Optimizing
    Data Mixtures Speeds Up Language Model Pretraining",
    arXiv:2305.10429, reduced to its relational core): sources whose
    text the corpus-level unigram LM finds HARDER (higher per-token
    cross-entropy) get upweighted — excess loss over the easiest source,
    pushed through a temperature softmax.

    Output per source: doc/token counts, unigram cross-entropy, excess
    over the minimum, and the normalized mixture weight.

    100 TB: the LM fit is x43's one token groupBy with a 1-row broadcast
    total; per-source loss is a second map-side-combined agg over the
    same token stream; min-loss and the softmax normalizer travel as
    broadcast 1-row relations — the whole query is two token-stream
    passes and three 1-row broadcasts, nothing per-pair.
    """
    from social_warner_spark.caching import register_persisted
    from social_warner_spark.functions.text import tokens

    d = T(spark, sf_dir, "documents")
    tok = d.select("doc_id", "source", F.explode(tokens(F.col("text"))).alias("tok"))
    tokstats = tok.groupBy("tok").agg(F.count("*").alias("c"))
    tot = tokstats.agg(F.sum("c").alias("total"))
    # |sources| rows, but the lineage behind them is the full token join —
    # persist so the three downstream consumers (min-loss, softmax
    # normalizer, final projection) don't each re-run the LM fit.
    src = register_persisted(
        tok.join(tokstats, "tok")
        .crossJoin(F.broadcast(tot))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_tokens"),
            r6(-F.avg(F.log(F.col("c") / F.col("total")))).alias("xent"),
        )
        .persist()
    )
    ndocs = d.groupBy("source").agg(F.count("*").alias("n_docs"))
    minx = src.agg(F.min("xent").alias("minx"))
    staged = register_persisted(
        src.join(ndocs, "source")
        .crossJoin(F.broadcast(minx))
        .withColumn("excess", F.round(F.col("xent") - F.col("minx"), 6))
        .withColumn("wraw", F.exp(F.col("excess") / F.lit(DOREMI_T)))
        .persist()
    )
    sw = staged.agg(F.sum("wraw").alias("sw"))
    return staged.crossJoin(F.broadcast(sw)).select(
        "source",
        "n_docs",
        "n_tokens",
        "xent",
        "excess",
        r6(F.col("wraw") / F.col("sw")).alias("weight"),
    )


_DOREMI_ORACLE = f"""
        WITH tok AS MATERIALIZED (
            SELECT doc_id, source, unnest(string_split(trim(text), ' ')) AS tok
            FROM documents
        ), ts AS (
            SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok
        ), tot AS (
            SELECT SUM(c) AS total FROM ts
        ), src AS MATERIALIZED (
            SELECT source, COUNT(*) AS n_tokens,
                   ROUND(-AVG(ln(c / total)), 6) AS xent
            FROM tok JOIN ts USING (tok), tot
            GROUP BY source
        ), nd AS (
            SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
        ), mn AS (
            SELECT MIN(xent) AS minx FROM src
        ), ex AS MATERIALIZED (
            SELECT s.source, nd.n_docs, s.n_tokens, s.xent,
                   ROUND(s.xent - mn.minx, 6) AS excess
            FROM src s JOIN nd USING (source), mn
        ), sw AS (
            SELECT SUM(EXP(excess / {DOREMI_T})) AS sw FROM ex
        )
        SELECT source, n_docs, n_tokens, xent, excess,
               ROUND(EXP(excess / {DOREMI_T}) / sw.sw, 6) AS weight
        FROM ex, sw
"""


#: D4-style prototype pruning: 8 IVF clusters, drop the ceil(2n/5) most
#: prototypical (closest-to-centroid) points per cluster.
D4_NLIST = 8


def x226_d4_prune(spark, sf_dir):
    """D4-style cluster-prototype pruning (Tirumala et al., "D4:
    Improving LLM Pretraining via Document De-Duplication and
    Diversification", arXiv:2308.12284, building on SemDeDup
    arXiv:2303.09540): cluster the embedding corpus (the x24 IVF fit),
    then drop the most PROTOTYPICAL ceil(2n/5) points of each cluster —
    the ones nearest their centroid, which carry the least marginal
    information — keeping the diverse remainder.

    The prune count uses the integer-exact form (2n+4)//5 rather than
    ceil(0.4·n): DuckDB parses 0.4 as DECIMAL while Spark uses a DOUBLE,
    and 0.4·n crosses integer boundaries differently under the two
    representations.

    100 TB: the fit is iters+1 corpus passes with nlist·dim-row
    shuffles; assignment is a broadcast-centroid map + map-side-combined
    max_by; ranking is one window per cluster (WindowGroupLimit-style
    bounded state).  Nothing pairwise.
    """
    from pyspark.sql import Window

    from social_warner_spark.caching import register_persisted
    from social_warner_spark.functions.vectors import cosine
    from social_warner_spark.operators.similarity import ivf_assign, ivf_centroids

    emb = T(spark, sf_dir, "embeddings")
    centroids = register_persisted(
        ivf_centroids(emb, nlist=D4_NLIST, iters=1).persist()
    )
    assigned = ivf_assign(emb, centroids)
    scored = assigned.join(F.broadcast(centroids), "cluster").withColumn(
        "ccos", F.round(cosine(F.col("embedding"), F.col("cvec")), 6)
    )
    w = Window.partitionBy("cluster").orderBy(F.desc("ccos"), F.asc("vec_id"))
    wn = Window.partitionBy("cluster")
    return (
        scored.withColumn("prk", F.row_number().over(w))
        .withColumn("cluster_n", F.count("*").over(wn))
        .where(
            F.col("prk")
            > F.floor((2 * F.col("cluster_n") + 4) / F.lit(5)).cast("long")
        )
        .select("vec_id", "cluster", "ccos", "prk", "cluster_n")
    )


def _d4_oracle() -> str:
    from social_warner_spark.queries.x3_series import _IVF_COS

    cos_seed = _IVF_COS.format(a="e.embedding", b="s.cvec")
    cos_cent = _IVF_COS.format(a="e.embedding", b="c.cvec")
    return f"""
        WITH seeds AS (
            SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster,
                   embedding::DOUBLE[] AS cvec
            FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT {D4_NLIST})
        ), assign0 AS (
            SELECT vec_id, embedding, cluster FROM (
                SELECT e.vec_id, e.embedding, s.cluster,
                       ROW_NUMBER() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {cos_seed} DESC, s.cluster) AS rk
                FROM embeddings e CROSS JOIN seeds s
            ) WHERE rk = 1
        ), means AS (
            SELECT cluster, i AS pos, ROUND(AVG(embedding[i]::DOUBLE), 6) AS m
            FROM assign0, UNNEST(range(1, len(embedding) + 1)) u(i)
            GROUP BY cluster, i
        ), cent1 AS MATERIALIZED (
            SELECT cluster, list(m ORDER BY pos) AS cvec FROM means GROUP BY cluster
        ), assign1 AS (
            SELECT vec_id, cluster, ccos FROM (
                SELECT e.vec_id, c.cluster, {cos_cent} AS ccos,
                       ROW_NUMBER() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {cos_cent} DESC, c.cluster) AS rk
                FROM embeddings e CROSS JOIN cent1 c
            ) WHERE rk = 1
        ), sized AS (
            SELECT vec_id, cluster, ccos,
                   CAST(ROW_NUMBER() OVER (PARTITION BY cluster
                                           ORDER BY ccos DESC, vec_id)
                        AS INT) AS prk,
                   COUNT(*) OVER (PARTITION BY cluster) AS cluster_n
            FROM assign1
        )
        SELECT vec_id, cluster, ccos, prk, cluster_n
        FROM sized WHERE prk > (2 * cluster_n + 4) // 5
    """


#: DSIR selection size and target language.
DSIR_K = 50
DSIR_TARGET = "en"


def x227_dsir_selection(spark, sf_dir):
    """DSIR-style data selection via importance resampling (Xie et al.,
    "Data Selection for Language Models via Importance Resampling",
    arXiv:2302.03169, reduced to its relational core): score every doc
    by the mean per-token log likelihood ratio between an add-1-smoothed
    unigram model of the TARGET distribution (here the '{target}'-labeled
    docs) and one of the raw corpus, then keep the top-{k} most
    target-like.  The complement of x225: DoReMi reweights DOMAINS by
    hardness, DSIR selects DOCUMENTS by target-likeness.

    100 TB: both LMs come from ONE token groupBy (the target counts are
    a conditional sum in the same aggregate); vocabulary size and token
    totals are a single broadcast row; per-doc scoring is the token
    stream joined once to the |vocab| stats and partial-agg-reduced.
    The top-k is a TakeOrderedAndProject, never a global sort.
    """
    from social_warner_spark.functions.text import tokens

    d = T(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "lang", F.explode(tokens(F.col("text"))).alias("tok")
    )
    stats = tok.groupBy("tok").agg(
        F.count("*").alias("cr"),
        F.sum((F.col("lang") == DSIR_TARGET).cast("long")).alias("ct"),
    )
    totals = stats.agg(
        F.sum("cr").alias("nr"),
        F.sum("ct").alias("nt"),
        F.count("*").alias("v"),
    )
    llr = F.log(
        ((F.col("ct") + 1) / (F.col("nt") + F.col("v")))
        / ((F.col("cr") + 1) / (F.col("nr") + F.col("v")))
    )
    scored = (
        tok.join(stats, "tok")
        .crossJoin(F.broadcast(totals))
        .groupBy("doc_id", "lang")
        .agg(F.count("*").alias("n_tokens"), r6(F.avg(llr)).alias("avg_llr"))
    )
    from pyspark.sql import Window

    # top-k FIRST via orderBy+limit (TakeOrderedAndProject — distributed
    # k-row heaps, no global sort); the rank window then runs over the
    # k-row result only, so its single partition is bounded by k.
    top = scored.orderBy(F.desc("avg_llr"), F.asc("doc_id")).limit(DSIR_K)
    w = Window.orderBy(F.desc("avg_llr"), F.asc("doc_id"))
    return top.withColumn("rk", F.row_number().over(w)).select(
        "doc_id", "lang", "n_tokens", "avg_llr", "rk"
    )


x227_dsir_selection.__doc__ = x227_dsir_selection.__doc__.format(
    target=DSIR_TARGET, k=DSIR_K
)

_DSIR_ORACLE = f"""
        WITH tok AS MATERIALIZED (
            SELECT doc_id, lang, unnest(string_split(trim(text), ' ')) AS tok
            FROM documents
        ), stats AS (
            SELECT tok, COUNT(*) AS cr,
                   SUM(CASE WHEN lang = '{DSIR_TARGET}' THEN 1 ELSE 0 END) AS ct
            FROM tok GROUP BY tok
        ), totals AS (
            SELECT SUM(cr) AS nr, SUM(ct) AS nt, COUNT(*) AS v FROM stats
        ), scored AS (
            SELECT t.doc_id, t.lang, COUNT(*) AS n_tokens,
                   ROUND(AVG(ln(((s.ct + 1) / (tt.nt + tt.v))
                              / ((s.cr + 1) / (tt.nr + tt.v)))), 6) AS avg_llr
            FROM tok t JOIN stats s USING (tok), totals tt
            GROUP BY t.doc_id, t.lang
        )
        SELECT doc_id, lang, n_tokens, avg_llr,
               CAST(ROW_NUMBER() OVER (ORDER BY avg_llr DESC, doc_id) AS INT) AS rk
        FROM scored
        QUALIFY rk <= {DSIR_K}
"""


#: Length-bucketed batching geometry.
PACK_B = 8


def x228_padding_efficiency(spark, sf_dir):
    """Length-grouped batching payoff, measured: fixed-size training
    batches pad every sequence to the batch max, so batching in length
    order (the standard length-grouped / bucketed sampler) vs arrival
    order is pure saved compute.  Both layouts are formed relationally —
    length order via operators/ordered.with_grouped_rank with no group
    keys (range-partitioned ranks, NO single-partition window), arrival
    order via doc_id blocks — and each reports total real tokens, padded
    slots, waste, and the waste ratio.

    100 TB: two |docs|-row narrow maps + two |batches|-row aggregates;
    the comparison relation is 2 rows.
    """
    from social_warner_spark.functions.text import token_count_ws
    from social_warner_spark.operators.ordered import with_grouped_rank

    d = T(spark, sf_dir, "documents").select(
        "doc_id", token_count_ws(F.col("text")).alias("len")
    )
    by_len = with_grouped_rank(d, [], [F.col("len"), F.col("doc_id")], "gidx")
    layouts = {
        "length_grouped": by_len.withColumn(
            "batch", F.floor((F.col("gidx") - 1) / PACK_B)
        ),
        "arrival_order": d.withColumn("batch", F.floor(F.col("doc_id") / PACK_B)),
    }
    outs = []
    for name, df in layouts.items():
        per_batch = df.groupBy("batch").agg(
            F.count("*").alias("bn"),
            F.sum("len").alias("real_sum"),
            F.max("len").alias("mx"),
        )
        outs.append(
            per_batch.agg(
                F.count("*").alias("n_batches"),
                F.sum("real_sum").alias("real_tokens"),
                F.sum(F.col("bn") * F.col("mx")).alias("padded_slots"),
                r6(
                    (F.sum(F.col("bn") * F.col("mx")) - F.sum("real_sum"))
                    / F.sum(F.col("bn") * F.col("mx")).cast("double")
                ).alias("waste_ratio"),
            )
            .withColumn("strategy", F.lit(name))
            .select(
                "strategy", "n_batches", "real_tokens", "padded_slots", "waste_ratio"
            )
        )
    return outs[0].unionAll(outs[1])


_PADDING_ORACLE = f"""
        WITH d AS MATERIALIZED (
            SELECT doc_id, len(string_split(trim(text), ' ')) AS len
            FROM documents
        ), ranked AS (
            SELECT doc_id, len,
                   ROW_NUMBER() OVER (ORDER BY len, doc_id) AS gidx
            FROM d
        ), tagged AS (
            SELECT 'length_grouped' AS strategy,
                   (gidx - 1) // {PACK_B} AS batch, len FROM ranked
            UNION ALL
            SELECT 'arrival_order' AS strategy,
                   doc_id // {PACK_B} AS batch, len FROM d
        ), per_batch AS (
            SELECT strategy, batch, COUNT(*) AS bn, SUM(len) AS real_sum,
                   MAX(len) AS mx
            FROM tagged GROUP BY strategy, batch
        )
        SELECT strategy, COUNT(*) AS n_batches,
               CAST(SUM(real_sum) AS BIGINT) AS real_tokens,
               CAST(SUM(bn * mx) AS BIGINT) AS padded_slots,
               ROUND((SUM(bn * mx) - SUM(real_sum))
                     / CAST(SUM(bn * mx) AS DOUBLE), 6) AS waste_ratio
        FROM per_batch GROUP BY strategy
"""


#: margin-mining geometry: fr→en candidate pairs, 4-NN normalizer.
MARGIN_K = 4
MARGIN_SRC = "fr"
MARGIN_TGT = "en"


def x229_margin_bitext_mining(spark, sf_dir):
    """Margin-based parallel-pair mining (Artetxe & Schwenk, "Margin-based
    Parallel Corpus Mining with Multilingual Sentence Embeddings",
    arXiv:1811.01136 — the LASER/CCMatrix recipe): candidate '{src}'/'{tgt}'
    doc pairs are kept only when they are RECIPROCAL nearest neighbors,
    scored by the ratio margin cos(a,b) / mean(kNN-cos of a, kNN-cos of b)
    — the normalization that suppresses hub vectors plain cosine
    thresholds mis-rank.

    Exact all-pairs scoring is the oracle-checkable baseline here (the
    same contract as l3 vs x8/x24/x220): at 100 TB the candidate
    generation drops in the x8 sign-LSH bucket join or x24 IVF routing,
    and the margin/reciprocity logic — windows and equi-joins keyed on
    doc ids — is unchanged.

    100 TB: the scored relation is persisted once and feeds all four
    consumers (both best-match windows, both kNN normalizers); each
    window rides one shuffle of its side's key; reciprocity is one
    equi-join on the (src, tgt) pair.
    """
    from social_warner_spark.caching import register_persisted
    from social_warner_spark.functions.vectors import cosine_prenormed, l2_norm, scoring_vec
    from pyspark.sql import Window

    emb = T(spark, sf_dir, "embeddings")
    labels = T(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "lang"
    )
    base = emb.join(labels, "vec_id")
    # Norms are computed n× (once per vector, the x7 lesson), not pairs×:
    # higher-order-function lambdas run interpreted, so the per-pair work
    # must be ONE dot fold, not three (measured 9.5 -> 3.2 s at sf0.1).
    # sqrt(dot(v,v)) here is bit-identical to the oracle's inline form.
    a = base.where(F.col("lang") == MARGIN_SRC).select(
        F.col("vec_id").alias("fr_id"),
        scoring_vec(F.col("embedding")).alias("va"),
        l2_norm(F.col("embedding")).alias("na"),
    )
    b = base.where(F.col("lang") == MARGIN_TGT).select(
        F.col("vec_id").alias("en_id"),
        scoring_vec(F.col("embedding")).alias("vb"),
        l2_norm(F.col("embedding")).alias("nb"),
    )
    pair_cos = cosine_prenormed(
        F.col("va"), F.col("vb"), F.col("na"), F.col("nb")
    )
    scored = register_persisted(
        b.join(F.broadcast(a), how="cross")
        .withColumn("cos", F.round(pair_cos, 6))
        .select("fr_id", "en_id", "cos")
        .persist()
    )
    wa = Window.partitionBy("fr_id").orderBy(F.desc("cos"), F.asc("en_id"))
    wb = Window.partitionBy("en_id").orderBy(F.desc("cos"), F.asc("fr_id"))
    ra = scored.withColumn("rk", F.row_number().over(wa))
    rb = scored.withColumn("rk", F.row_number().over(wb))
    best_a = ra.where(F.col("rk") == 1).select("fr_id", "en_id", "cos")
    best_b = rb.where(F.col("rk") == 1).select("fr_id", "en_id")
    knn_a = (
        ra.where(F.col("rk") <= MARGIN_K)
        .groupBy("fr_id")
        .agg(r6t(F.avg("cos")).alias("knn_a"))
    )
    knn_b = (
        rb.where(F.col("rk") <= MARGIN_K)
        .groupBy("en_id")
        .agg(r6t(F.avg("cos")).alias("knn_b"))
    )
    return (
        best_a.join(best_b, ["fr_id", "en_id"])  # reciprocal best matches
        .join(knn_a, "fr_id")
        .join(knn_b, "en_id")
        .select(
            "fr_id",
            "en_id",
            "cos",
            r6t(F.col("cos") / ((F.col("knn_a") + F.col("knn_b")) / 2)).alias(
                "margin"
            ),
        )
    )


x229_margin_bitext_mining.__doc__ = x229_margin_bitext_mining.__doc__.format(
    src=MARGIN_SRC, tgt=MARGIN_TGT
)


def _margin_oracle() -> str:
    from social_warner_spark.queries.x3_series import _IVF_COS

    cos = _IVF_COS.format(a="a.embedding", b="b.embedding")
    return f"""
        WITH lab AS (
            SELECT e.vec_id, e.embedding, d.lang
            FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
        ), scored AS MATERIALIZED (
            SELECT a.vec_id AS fr_id, b.vec_id AS en_id, {cos} AS cos
            FROM lab a CROSS JOIN lab b
            WHERE a.lang = '{MARGIN_SRC}' AND b.lang = '{MARGIN_TGT}'
        ), ra AS MATERIALIZED (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY fr_id
                                         ORDER BY cos DESC, en_id) AS rk
            FROM scored
        ), rb AS MATERIALIZED (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY en_id
                                         ORDER BY cos DESC, fr_id) AS rk
            FROM scored
        ), knn_a AS (
            SELECT fr_id, ROUND(AVG(cos) + 1e-9, 6) AS knn_a FROM ra
            WHERE rk <= {MARGIN_K} GROUP BY fr_id
        ), knn_b AS (
            SELECT en_id, ROUND(AVG(cos) + 1e-9, 6) AS knn_b FROM rb
            WHERE rk <= {MARGIN_K} GROUP BY en_id
        )
        SELECT a.fr_id, a.en_id, a.cos,
               ROUND(a.cos / ((ka.knn_a + kb.knn_b) / 2) + 1e-9, 6) AS margin
        FROM (SELECT fr_id, en_id, cos FROM ra WHERE rk = 1) a
        JOIN (SELECT fr_id, en_id FROM rb WHERE rk = 1) m USING (fr_id, en_id)
        JOIN knn_a ka USING (fr_id)
        JOIN knn_b kb USING (en_id)
    """


#: Vocabulary budget sweep sizes.
VOCAB_SIZES = (100, 300, 1000)


def x230_vocab_budget_sweep(spark, sf_dir):
    """Tokenizer vocabulary sizing from ONE frequency relation: for each
    candidate vocab budget, the top-V tokens by corpus frequency (token
    tie-break) define the vocab, and the sweep reports how many types
    and what share of token OCCURRENCES each budget covers — the
    OOV-rate-vs-budget curve every tokenizer design starts from (cf. the
    coverage analyses in SentencePiece, arXiv:1808.06226).

    100 TB: frequencies are one map-side-combined groupBy; the rank over
    the TYPE relation uses operators/ordered.with_grouped_rank with no
    group keys (the type relation is Heaps-law-bounded, but the
    machinery stays range-partitioned anyway); the sweep is a |sizes|-way conditional
    aggregate over one broadcast-joined pass, not |sizes| scans.
    """
    from social_warner_spark.functions.text import tokens
    from social_warner_spark.operators.ordered import with_grouped_rank

    d = T(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
    )
    ranked = with_grouped_rank(counts, [], [(-F.col("c")), F.col("tok")], "rank")
    total = ranked.agg(F.sum("c").alias("total"), F.count("*").alias("n_types"))
    swept = ranked.crossJoin(F.broadcast(total)).select(
        F.explode(F.array(*[F.lit(v) for v in VOCAB_SIZES])).alias("vocab_size"),
        "rank",
        "c",
        "total",
        "n_types",
    )
    return (
        swept.groupBy("vocab_size")
        .agg(
            F.sum((F.col("rank") <= F.col("vocab_size")).cast("long")).alias(
                "types_covered"
            ),
            F.sum(
                F.when(F.col("rank") <= F.col("vocab_size"), F.col("c")).otherwise(
                    F.lit(0)
                )
            ).alias("covered_occurrences"),
            r6(
                1
                - F.sum(
                    F.when(
                        F.col("rank") <= F.col("vocab_size"), F.col("c")
                    ).otherwise(F.lit(0))
                )
                / F.first("total").cast("double")
            ).alias("oov_rate"),
        )
    )


_VOCAB_SIZE_ROWS = ", ".join(f"({v})" for v in VOCAB_SIZES)

_VOCAB_ORACLE = f"""
        WITH counts AS (
            SELECT tok, COUNT(*) AS c FROM (
                SELECT unnest(string_split(trim(text), ' ')) AS tok FROM documents
            ) GROUP BY tok
        ), ranked AS MATERIALIZED (
            SELECT tok, c, ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS rank
            FROM counts
        ), total AS (
            SELECT SUM(c) AS total FROM ranked
        ), sizes(vocab_size) AS (VALUES {_VOCAB_SIZE_ROWS})
        SELECT s.vocab_size,
               CAST(SUM(CASE WHEN r.rank <= s.vocab_size THEN 1 ELSE 0 END)
                   AS BIGINT) AS types_covered,
               CAST(SUM(CASE WHEN r.rank <= s.vocab_size THEN r.c ELSE 0 END)
                   AS BIGINT) AS covered_occurrences,
               ROUND(1 - SUM(CASE WHEN r.rank <= s.vocab_size THEN r.c ELSE 0 END)
                         / CAST(t.total AS DOUBLE), 6) AS oov_rate
        FROM ranked r CROSS JOIN sizes s CROSS JOIN total t
        GROUP BY s.vocab_size, t.total
"""


#: HITS rounds over the customer→supplier order bipartite graph.
HITS_ITERS = 2


def x231_hits_scores(spark, sf_dir):
    """Fixed-iteration HITS (Kleinberg, "Authoritative Sources in a
    Hyperlinked Environment", JACM 1999) on the DIRECTED customer →
    supplier order graph (the bipartite half of x39's PageRank graph):
    customers are hubs, suppliers authorities.  {iters} mutual-
    reinforcement rounds, L1-normalized and 6dp-rounded per round so the
    whole trajectory is oracle-reproducible.

    100 TB: the edge relation is persisted once; each half-round is one
    equi-join + map-side-combined sum keyed on the receiving side, with
    the L1 normalizer a broadcast 1-row relation; per-round eager
    localCheckpoint keeps the plan linear in rounds (the x203 pattern).
    """
    from social_warner_spark.caching import register_persisted

    orders = T(spark, sf_dir, "orders")
    li = T(spark, sf_dir, "lineitem")
    edges = register_persisted(
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            F.col("o_custkey").alias("src"), F.col("l_suppkey").alias("dst")
        )
        .distinct()
        .persist()
    )
    for i in range(HITS_ITERS):
        if i == 0:
            # r10: ROUND-1 FOLD — h₀ ≡ 1.0 for every incident src, so the
            # first edges⋈hubs join is an identity filter (hubs is defined
            # as distinct src of these same edges) and SUM(h) per dst is
            # the dst in-degree.  One aggregate over the persisted edge
            # relation, no hubs relation, no join; exact (integer counts
            # are exact doubles), identical trajectory.
            araw = edges.groupBy("dst").agg(
                F.count("*").cast("double").alias("ar")
            )
        else:
            araw = (
                edges.join(hubs, "src")
                .groupBy("dst")
                .agg(F.sum("h").alias("ar"))
            )
        asum = araw.agg(F.sum("ar").alias("s"))
        auths = (
            araw.crossJoin(F.broadcast(asum))
            .select("dst", F.round(F.col("ar") / F.col("s"), 6).alias("a"))
            .localCheckpoint(eager=True)
        )
        hraw = (
            edges.join(auths, "dst")
            .groupBy("src")
            .agg(F.sum("a").alias("hr"))
        )
        hsum = hraw.agg(F.sum("hr").alias("s"))
        hubs = (
            hraw.crossJoin(F.broadcast(hsum))
            .select("src", F.round(F.col("hr") / F.col("s"), 6).alias("h"))
            .localCheckpoint(eager=True)
        )
    return hubs.select(
        F.concat(F.lit("c"), F.col("src").cast("string")).alias("node"),
        F.lit("hub").alias("role"),
        F.col("h").alias("score"),
    ).unionAll(
        auths.select(
            F.concat(F.lit("s"), F.col("dst").cast("string")).alias("node"),
            F.lit("authority").alias("role"),
            F.col("a").alias("score"),
        )
    )


x231_hits_scores.__doc__ = x231_hits_scores.__doc__.format(iters=HITS_ITERS)


def _hits_oracle() -> str:
    parts = [
        (
            "WITH e AS MATERIALIZED (SELECT DISTINCT o.o_custkey AS src, "
            "l.l_suppkey AS dst FROM orders o "
            "JOIN lineitem l ON o.o_orderkey = l.l_orderkey)"
        ),
        "h0 AS (SELECT DISTINCT src, CAST(1.0 AS DOUBLE) AS h FROM e)",
    ]
    for i in range(1, HITS_ITERS + 1):
        parts.append(
            f"ar{i} AS (SELECT e.dst, SUM(h.h) AS ar FROM e "
            f"JOIN h{i - 1} h USING (src) GROUP BY e.dst)"
        )
        parts.append(
            f"a{i} AS MATERIALIZED (SELECT dst, "
            f"ROUND(ar / (SELECT SUM(ar) FROM ar{i}), 6) AS a FROM ar{i})"
        )
        parts.append(
            f"hr{i} AS (SELECT e.src, SUM(a.a) AS hr FROM e "
            f"JOIN a{i} a USING (dst) GROUP BY e.src)"
        )
        parts.append(
            f"h{i} AS MATERIALIZED (SELECT src, "
            f"ROUND(hr / (SELECT SUM(hr) FROM hr{i}), 6) AS h FROM hr{i})"
        )
    k = HITS_ITERS
    return (
        ",\n".join(parts)
        + f"""
        SELECT 'c' || CAST(src AS VARCHAR) AS node, 'hub' AS role, h AS score
        FROM h{k}
        UNION ALL
        SELECT 's' || CAST(dst AS VARCHAR) AS node, 'authority' AS role, a AS score
        FROM a{k}
    """
    )


def x232_gif_frame_stats(spark, sf_dir):
    """Real multi-frame GIF decode — the frame-sampling shape for
    video-like media, with an actual compression codec in the loop: per
    doc (ids ≡ 0 mod 3) a REAL GIF89a is synthesized (2 + id%3 frames,
    genuinely LZW-compressed index streams, 256-entry color table), then
    operators/multimodal.decode_gif_frames runs a full LZW decompressor
    (dictionary reconstruction, KwKwK case, variable code widths,
    LSB-first bit unpacking) and per-FRAME index/RGB statistics come out
    as exact integers.  The oracle restates the pixel-index and
    color-table formulas over generate_series — a decoder that drops a
    code, mis-times the width bump, or mis-maps the palette
    hash-mismatches immediately.

    100 TB: one input row fans out to one row per decoded frame inside
    mapInPandas — per-item work, zero shuffle, only integer cells leave
    Python; the mean is derived engine-side.
    """
    from social_warner_spark.operators.multimodal import (
        gif_frame_stats,
        with_synth_gif_content,
    )

    d = (
        T(spark, sf_dir, "documents")
        .select("doc_id")
        .where(F.col("doc_id") % 3 == 0)
    )
    stats = gif_frame_stats(with_synth_gif_content(d), id_col="doc_id")
    return stats.select(
        F.col("item_id").alias("doc_id"),
        "frame_idx",
        "width",
        "height",
        "n_px",
        "idx_sum",
        "rgb_sum",
        r6(F.col("rgb_sum") / (3 * F.col("n_px")).cast("double")).alias("mean_rgb"),
    )


_GIF_ORACLE = """
        WITH d AS (
            SELECT doc_id FROM documents WHERE doc_id % 3 = 0
        ), geo AS (
            SELECT doc_id, CAST(8 + doc_id % 9 AS INT) AS width,
                   CAST(6 + doc_id % 7 AS INT) AS height,
                   2 + doc_id % 3 AS nf
            FROM d
        ), px AS (
            SELECT g.doc_id, CAST(f AS INT) AS frame_idx, g.width, g.height,
                   ((11 * g.doc_id + 13 * f + 31 * y + 7 * x) % 256) AS idx
            FROM geo g,
                 UNNEST(range(0, g.nf)) t(f),
                 UNNEST(range(0, g.height)) u(y),
                 UNNEST(range(0, g.width)) v(x)
        )
        SELECT doc_id, frame_idx, width, height,
               COUNT(*) AS n_px,
               CAST(SUM(idx) AS BIGINT) AS idx_sum,
               CAST(SUM(idx + (3 * idx) % 256 + (7 * idx) % 256) AS BIGINT)
                 AS rgb_sum,
               ROUND(SUM(idx + (3 * idx) % 256 + (7 * idx) % 256)
                     / CAST(3 * COUNT(*) AS DOUBLE), 6) AS mean_rgb
        FROM px GROUP BY doc_id, frame_idx, width, height
"""


#: Scaling-curve steps: nested md5-hex training subsets (~25/50/75/87.5%
#: of docs) with the top hex range held out for evaluation.
SCALING_STEPS = ((1, "4"), (2, "8"), (3, "c"), (4, "e"))


def x233_scaling_curve(spark, sf_dir):
    """Data-scaling-curve fit (the loss-vs-dataset-size power law of
    Hestness et al. arXiv:1712.00409 / Kaplan et al. arXiv:2001.08361,
    at unigram scale): train add-1 unigram LMs on four NESTED md5-hash
    subsets of the corpus, evaluate each on the same held-out hash
    range, and fit ln(loss) ~ ln(train tokens) by least squares — the
    scaling exponent every data-buying decision starts from.

    Nesting via hex-prefix thresholds means ONE (step, token) count
    relation (conditional on h < threshold) yields all four models; the
    held-out stream is scored against it with a single left join.

    100 TB: one token pass builds the per-bucket counts; the step
    explode multiplies only the |types|-bounded relation; totals are a
    4-row broadcast; the OLS is regr_slope over 4 points.

    Corpus note: the synthetic testdata has a ~31-type vocabulary, so
    every subset is already vocabulary-saturated and the fitted exponent
    is near zero — the curve still decreases monotonically (invariant-
    tested); on a real heavy-tailed corpus the unseen-token mass drives
    a substantial negative exponent.
    """
    from social_warner_spark.caching import register_persisted
    from social_warner_spark.functions.text import tokens

    d = T(spark, sf_dir, "documents")
    h = F.substring(
        F.md5(F.concat(F.lit("sc|"), F.col("doc_id").cast("string"))), 1, 1
    )
    tok = d.select(h.alias("h"), F.explode(tokens(F.col("text"))).alias("tok"))
    trainh = (
        tok.where(F.col("h") < "e").groupBy("tok", "h").agg(F.count("*").alias("c"))
    )
    steps = F.explode(
        F.array(
            *[
                F.struct(F.lit(s).alias("step"), F.lit(t).alias("thr"))
                for s, t in SCALING_STEPS
            ]
        )
    )
    percount = register_persisted(
        trainh.select("tok", "h", "c", steps.alias("st"))
        .where(F.col("h") < F.col("st.thr"))
        .groupBy(F.col("st.step").alias("step"), "tok")
        .agg(F.sum("c").alias("c"))
        .persist()
    )
    totals = percount.groupBy("step").agg(
        F.sum("c").alias("n_train"), F.count("*").alias("v")
    )
    heldx = (
        tok.where(F.col("h") >= "e")
        .select("tok", steps.alias("st"))
        .select("tok", F.col("st.step").alias("step"))
    )
    scored = (
        heldx.join(percount, ["step", "tok"], "left")
        .fillna({"c": 0})
        .join(F.broadcast(totals), "step")
        .groupBy("step")
        .agg(
            F.count("*").alias("n_heldout"),
            r6(
                -F.avg(
                    F.log((F.col("c") + 1) / (F.col("n_train") + F.col("v")))
                )
            ).alias("xent"),
        )
    )
    curve = register_persisted(
        scored.join(F.broadcast(totals), "step").persist()
    )
    ols = curve.agg(
        r6(F.expr("regr_slope(ln(xent), ln(n_train))")).alias("scaling_exponent")
    )
    return curve.crossJoin(F.broadcast(ols)).select(
        "step", "n_train", "v", "n_heldout", "xent", "scaling_exponent"
    )


_SCALING_STEP_ROWS = ", ".join(f"({s}, '{t}')" for s, t in SCALING_STEPS)

_SCALING_ORACLE = f"""
        WITH tok AS MATERIALIZED (
            SELECT substr(md5('sc|' || doc_id), 1, 1) AS h,
                   unnest(string_split(trim(text), ' ')) AS tok
            FROM documents
        ), steps(step, thr) AS (VALUES {_SCALING_STEP_ROWS}),
        pc AS MATERIALIZED (
            SELECT s.step, t.tok, COUNT(*) AS c
            FROM tok t CROSS JOIN steps s
            WHERE t.h < s.thr
            GROUP BY s.step, t.tok
        ), totals AS MATERIALIZED (
            SELECT step, CAST(SUM(c) AS BIGINT) AS n_train, COUNT(*) AS v
            FROM pc GROUP BY step
        ), scored AS MATERIALIZED (
            SELECT s.step, COUNT(*) AS n_heldout,
                   ROUND(-AVG(ln((COALESCE(p.c, 0) + 1)
                                 / (tt.n_train + tt.v))), 6) AS xent
            FROM (SELECT tok FROM tok WHERE h >= 'e') hx
            CROSS JOIN steps s
            LEFT JOIN pc p ON p.step = s.step AND p.tok = hx.tok
            JOIN totals tt ON tt.step = s.step
            GROUP BY s.step
        ), ols AS (
            SELECT ROUND(REGR_SLOPE(ln(sc.xent), ln(tt.n_train)), 6)
                     AS scaling_exponent
            FROM scored sc JOIN totals tt USING (step)
        )
        SELECT tt.step, tt.n_train, tt.v, sc.n_heldout, sc.xent,
               o.scaling_exponent
        FROM totals tt JOIN scored sc USING (step) CROSS JOIN ols o
"""


#: uncertainty-sampling queue depth.
UNC_K = 50


def x234_uncertainty_sampling(spark, sf_dir):
    """Margin-based uncertainty sampling (Lewis & Gale, SIGIR 1994; the
    workhorse strategy of Settles' Active Learning survey, UW-Madison
    CS-TR-1648): the labeling budget goes to the docs where x3's
    language scorer is LEAST sure — smallest gap between its top two
    class scores.  Output: the {k} most ambiguous docs (positive
    evidence required, margin ascending, doc_id tie-break) with both
    candidate labels — the annotation queue a labeling vendor would be
    handed.

    100 TB: scores are a zero-shuffle narrow map; best/second come from
    sorting a bounded |langs|-array per row (no explode, no shuffle);
    selection is orderBy+limit (TakeOrderedAndProject), the rank window
    runs over the k-row result only.
    """
    from pyspark.sql import Window

    from social_warner_spark.functions.text import LANG_MARKERS, tokens

    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    t = tokens(F.col("text"))
    n = F.greatest(F.size(t), F.lit(1))
    langs = sorted(LANG_MARKERS)
    arr = F.array_sort(
        F.array(
            *[
                F.struct(
                    (
                        -r6(
                            F.size(
                                F.filter(t, lambda x: x.isin(*LANG_MARKERS[lg]))
                            )
                            / n
                        )
                    ).alias("neg_s"),
                    F.lit(lg).alias("lg"),
                )
                for lg in langs
            ]
        )
    )
    staged = d.select(
        "doc_id",
        (-F.element_at(arr, 1)["neg_s"]).alias("s1"),
        F.element_at(arr, 1)["lg"].alias("best_lang"),
        (-F.element_at(arr, 2)["neg_s"]).alias("s2"),
        F.element_at(arr, 2)["lg"].alias("second_lang"),
    ).where(F.col("s1") > 0)
    picked = (
        staged.withColumn("margin", F.round(F.col("s1") - F.col("s2"), 6))
        .orderBy(F.asc("margin"), F.asc("doc_id"))
        .limit(UNC_K)
    )
    w = Window.orderBy(F.asc("margin"), F.asc("doc_id"))
    return picked.withColumn("rk", F.row_number().over(w)).select(
        "doc_id", "best_lang", "second_lang", "margin", "rk"
    )


x234_uncertainty_sampling.__doc__ = x234_uncertainty_sampling.__doc__.format(k=UNC_K)


def _uncertainty_oracle() -> str:
    from social_warner_spark.queries.x_series import _LANGS, _lang_score_sql

    score_cols = ",\n                   ".join(
        f"ROUND({_lang_score_sql(lg)}, 6) AS s_{lg}" for lg in _LANGS
    )
    long_sql = "\n            UNION ALL\n".join(
        f"            SELECT doc_id, '{lg}' AS j, s_{lg} AS s FROM sc"
        for lg in _LANGS
    )
    return f"""
        WITH sc AS MATERIALIZED (
            SELECT doc_id,
                   {score_cols}
            FROM documents
        ), long AS (
{long_sql}
        ), ranked AS (
            SELECT doc_id, j, s,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY s DESC, j) AS rk
            FROM long
        ), top2 AS (
            SELECT doc_id,
                   MAX(CASE WHEN rk = 1 THEN s END) AS s1,
                   MAX(CASE WHEN rk = 1 THEN j END) AS best_lang,
                   MAX(CASE WHEN rk = 2 THEN s END) AS s2,
                   MAX(CASE WHEN rk = 2 THEN j END) AS second_lang
            FROM ranked GROUP BY doc_id
        )
        SELECT doc_id, best_lang, second_lang,
               ROUND(s1 - s2, 6) AS margin,
               CAST(ROW_NUMBER() OVER (ORDER BY ROUND(s1 - s2, 6), doc_id)
                    AS INT) AS rk
        FROM top2 WHERE s1 > 0
        QUALIFY rk <= {UNC_K}
    """


def x235_jpeg_pixels(spark, sf_dir):
    """Real baseline-JPEG decode per document (ids ≡ 4 mod 5): a genuine
    grayscale JPEG is synthesized — DPCM + canonical-Huffman entropy
    coding, 0xFF byte stuffing, quantization — with DC-only blocks whose
    dequantized flat value is integer-exact through the (fully generic)
    IDCT, so the decoded pixel statistics are SQL-stateable while the
    decoder (operators/multimodal.decode_jpeg_gray) exercises the real
    layers: Huffman table reconstruction from DHT, bit unstuffing, DPCM
    chains, run-length AC (the AC/ZRL path is round-trip-tested against
    an independent IDCT in tests), dequant, numpy-matrix IDCT, clamp.
    This retires the last image-codec gate: PNG (x215), GIF/LZW (x232)
    and baseline JPEG are all decoded for real in pure stdlib+numpy.

    100 TB: per-item mapInPandas decode, zero shuffle; exact integer
    sums out, one engine-side division for the mean.
    """
    from social_warner_spark.operators.multimodal import (
        jpeg_pixel_stats,
        with_synth_jpeg_content,
    )

    d = (
        T(spark, sf_dir, "documents")
        .select("doc_id")
        .where(F.col("doc_id") % 5 == 4)
    )
    stats = jpeg_pixel_stats(with_synth_jpeg_content(d), id_col="doc_id")
    return stats.select(
        F.col("item_id").alias("doc_id"),
        "width",
        "height",
        "n_px",
        "px_sum",
        "px_min",
        "px_max",
        r6(F.col("px_sum") / F.col("n_px").cast("double")).alias("px_mean"),
    )


_JPEG_ORACLE = """
        WITH d AS (
            SELECT doc_id FROM documents WHERE doc_id % 5 = 4
        ), geo AS (
            SELECT doc_id,
                   CAST(8 * (2 + doc_id % 3) AS INT) AS width,
                   CAST(8 * (1 + doc_id % 2) AS INT) AS height
            FROM d
        ), blocks AS (
            SELECT g.doc_id, g.width, g.height,
                   ((g.doc_id + 3 * bx + 5 * by) % 32) - 16 + 128 AS v
            FROM geo g,
                 UNNEST(range(0, g.width // 8)) t(bx),
                 UNNEST(range(0, g.height // 8)) u(by)
        )
        SELECT doc_id, width, height,
               CAST(width AS BIGINT) * height AS n_px,
               CAST(64 * SUM(v) AS BIGINT) AS px_sum,
               CAST(MIN(v) AS INT) AS px_min,
               CAST(MAX(v) AS INT) AS px_max,
               ROUND(64 * SUM(v) / CAST(width * height AS DOUBLE), 6) AS px_mean
        FROM blocks GROUP BY doc_id, width, height
"""


def x236_mulaw_audio(spark, sf_dir):
    """Real companded-audio decode (ids ≡ 1 mod 7): a genuine ITU-T
    G.711 μ-law WAV (format tag 7) is synthesized per doc and
    operators/multimodal.decode_wav_samples expands every 8-bit code
    through the real segment/mantissa arithmetic (reference values
    pinned in tests: 0xFF→0, 0x00→−32124).  μ-law is the simplest
    legitimately LOSSY audio codec, so this retires the last
    audio-codec gate; the oracle restates the expansion with integer
    arithmetic alone.

    100 TB: per-item mapInPandas decode, zero shuffle; integer sums
    out, the RMS square root engine-side.
    """
    from social_warner_spark.operators.multimodal import (
        wav_sample_stats,
        with_synth_mulaw_content,
    )

    d = (
        T(spark, sf_dir, "documents")
        .select("doc_id", "n_chars")
        .where(F.col("doc_id") % 7 == 1)
    )
    stats = wav_sample_stats(with_synth_mulaw_content(d), id_col="doc_id")
    return stats.select(
        F.col("item_id").alias("doc_id"),
        "sample_rate",
        "n_channels",
        "n_samples",
        "sample_sum",
        "sample_sq_sum",
        "sample_min",
        "sample_max",
        r6(
            F.sqrt(F.col("sample_sq_sum") / F.col("n_samples").cast("double"))
        ).alias("rms"),
    )


#: G.711 expansion restated as pure integer arithmetic (u = 255 − code).
_MULAW_V = (
    "(CASE WHEN (255 - b) >= 128 THEN -1 ELSE 1 END)"
    " * (((((255 - b) % 16) * 8) + 132)"
    "    * (1 << (((255 - b) % 128) // 16)) - 132)"
)

_MULAW_ORACLE = f"""
        WITH d AS (
            SELECT doc_id, 80 + n_chars % 128 AS n FROM documents
            WHERE doc_id % 7 = 1
        ), s AS (
            SELECT d.doc_id, d.n, ((7 * d.doc_id + 11 * k) % 256) AS b
            FROM d, UNNEST(range(0, d.n)) t(k)
        ), p AS (
            SELECT doc_id, n, {_MULAW_V} AS v FROM s
        )
        SELECT doc_id,
               CAST(8000 AS INT) AS sample_rate,
               CAST(1 AS INT) AS n_channels,
               CAST(n AS BIGINT) AS n_samples,
               CAST(SUM(v) AS BIGINT) AS sample_sum,
               CAST(SUM(v * v) AS BIGINT) AS sample_sq_sum,
               CAST(MIN(v) AS INT) AS sample_min,
               CAST(MAX(v) AS INT) AS sample_max,
               ROUND(sqrt(SUM(v * v) / CAST(n AS DOUBLE)), 6) AS rms
        FROM p GROUP BY doc_id, n
"""


QUERIES = {
    "x220_pq_ann": x220_pq_ann,
    "x221_kcenter_coreset": x221_kcenter_coreset,
    "x222_label_noise_screen": x222_label_noise_screen,
    "x223_quantile_normalize": x223_quantile_normalize,
    "x224_hard_negative_mining": x224_hard_negative_mining,
    "x225_doremi_weights": x225_doremi_weights,
    "x226_d4_prune": x226_d4_prune,
    "x227_dsir_selection": x227_dsir_selection,
    "x228_padding_efficiency": x228_padding_efficiency,
    "x229_margin_bitext_mining": x229_margin_bitext_mining,
    "x230_vocab_budget_sweep": x230_vocab_budget_sweep,
    "x231_hits_scores": x231_hits_scores,
    "x232_gif_frame_stats": x232_gif_frame_stats,
    "x233_scaling_curve": x233_scaling_curve,
    "x234_uncertainty_sampling": x234_uncertainty_sampling,
    "x235_jpeg_pixels": x235_jpeg_pixels,
    "x236_mulaw_audio": x236_mulaw_audio,
}

ORACLES = {
    "x220_pq_ann": _pq_oracle(),
    "x221_kcenter_coreset": _kcenter_oracle(),
    "x222_label_noise_screen": _label_noise_oracle(),
    "x223_quantile_normalize": _quantile_normalize_oracle(),
    "x224_hard_negative_mining": _hard_negative_oracle(),
    "x225_doremi_weights": _DOREMI_ORACLE,
    "x226_d4_prune": _d4_oracle(),
    "x227_dsir_selection": _DSIR_ORACLE,
    "x228_padding_efficiency": _PADDING_ORACLE,
    "x229_margin_bitext_mining": _margin_oracle(),
    "x230_vocab_budget_sweep": _VOCAB_ORACLE,
    "x231_hits_scores": _hits_oracle(),
    "x232_gif_frame_stats": _GIF_ORACLE,
    "x233_scaling_curve": _SCALING_ORACLE,
    "x234_uncertainty_sampling": _uncertainty_oracle(),
    "x235_jpeg_pixels": _JPEG_ORACLE,
    "x236_mulaw_audio": _MULAW_ORACLE,
}
