"""Eighth extension batch: corpus statistics + mergeable quantile sketch.

Language-model-flavored corpus statistics (the signals a training-data
pipeline computes over every shard): interpolated bigram LM scoring
(x66), n-gram novelty against earlier documents (x67), token
co-occurrence PMI (x70); plus the DDSketch-style log-bucket quantile
sketch (x68) and embedding mean-centering/unit-normalization (x69).
All follow the standard determinism protocol (6dp rounding, fully
aliased columns, md5-free pure arithmetic).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from social_warner_spark.functions.text import md5_int, shingles_from_tokens, tokens
from social_warner_spark.functions.vectors import l2_norm
from social_warner_spark.queries.common import T, r6, r6t

#: x66 — interpolation weight on the bigram MLE (rest on the unigram).
BIGRAM_LAMBDA = 0.7
#: x68 — log-bucket resolution: e^(1/20) ≈ 5% relative bucket width.
HIST_K = 20
#: x68 — quantile targets.
HIST_QS = (0.5, 0.95, 0.99)
#: x70 — minimum co-occurrence count for a PMI pair (drops the noise
#: floor AND bounds the pair table before the ln()/sort stage).
PMI_MIN_PAIRS = 3
#: x70 — result size.
PMI_TOP_K = 20


def x66_bigram_logprob(spark, sf_dir):
    """Interpolated bigram language-model scoring (extends x43's unigram
    LM): fit corpus bigram + unigram MLE counts, score every document by
    its mean ln(λ·P(w₂|w₁) + (1-λ)·P(w₂)) over bigram positions — the
    KenLM-shaped fluency signal of data-quality pipelines.

    Scale shape: the probability model is assembled on the DISTINCT
    bigram table (vocabulary-bounded, tiny next to the corpus), so the
    full bigram stream shuffles exactly once — the equi-join back onto
    the model — and once more for the per-doc mean.  2-token shingles
    reuse the Generate-barrier tokenization of dedup.py:doc_shingles.
    """
    d = T(spark, sf_dir, "documents")
    staged = d.select("doc_id", tokens(F.col("text")).alias("_toks"))
    bg = staged.select(
        "doc_id", F.explode(shingles_from_tokens(F.col("_toks"), 2)).alias("bg")
    )
    tok = staged.select("doc_id", F.explode("_toks").alias("w"))

    uc = tok.groupBy("w").agg(F.count("*").alias("c"))
    tot = tok.agg(F.count("*").alias("total"))
    bgc = (
        bg.groupBy("bg")
        .agg(F.count("*").alias("c_bg"))
        .select(
            "bg",
            "c_bg",
            F.split("bg", " ").getItem(0).alias("w1"),
            F.split("bg", " ").getItem(1).alias("w2"),
        )
    )
    u1 = uc.select(F.col("w").alias("w1"), F.col("c").alias("c_w1"))
    u2 = uc.select(F.col("w").alias("w2"), F.col("c").alias("c_w2"))
    model = (
        bgc.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "bg",
            F.log(
                BIGRAM_LAMBDA * F.col("c_bg") / F.col("c_w1")
                + (1 - BIGRAM_LAMBDA) * F.col("c_w2") / F.col("total")
            ).alias("lp"),
        )
    )
    return (
        bg.join(model, "bg")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_bigrams"), r6(F.avg("lp")).alias("avg_logp"))
    )


def x67_ngram_novelty(spark, sf_dir):
    """Per-document n-gram novelty: the fraction of a doc's distinct
    3-gram shingles whose FIRST corpus occurrence (min doc_id) is the doc
    itself — the curriculum/mixing signal that separates fresh text from
    recombinations of already-seen text.

    One shuffle keys the shingle relation by shingle (min-doc_id agg +
    the join back), one keys the per-doc count — both equi-joins, no
    pair explosion, so the plan is dedup-pass-shaped at any scale.
    """
    from social_warner_spark.operators.dedup import doc_shingles

    sh = doc_shingles(T(spark, sf_dir, "documents"))
    first = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    return (
        sh.join(first, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum((F.col("first_doc") < F.col("doc_id")).cast("long")).alias(
                "n_seen"
            ),
            r6(
                1.0
                - F.sum((F.col("first_doc") < F.col("doc_id")).cast("long"))
                / F.count("*")
            ).alias("novelty"),
        )
    )


def x68_quantile_sketch(spark, sf_dir):
    """DDSketch-style quantile estimation (operators/sketch.py:
    log_histogram_quantiles): log-bucket cells over l_extendedprice per
    return flag, cumulative-walk + in-bucket interpolation for
    p50/p95/p99.  The exact rank-based percentile (first value with
    cume_dist ≥ q, computed by the SAME arithmetic in both engines)
    rides along as the verification baseline — estimates land within the
    e^(1/k)-1 ≈ 5% design bound.

    The sketch path touches raw rows once (map-side partial agg into
    ≤ a-few-hundred cells); only the exact baseline pays a per-group
    sort, and only because it is the baseline.
    """
    from social_warner_spark.operators.sketch import log_histogram_quantiles

    li = T(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    est = log_histogram_quantiles(
        li, "l_extendedprice", "l_returnflag", quantiles=HIST_QS, k=HIST_K
    )

    # r07: the exact-baseline ranks run as GROUPED distributed ranks —
    # lineitem scales with SF and l_returnflag has 3 values, so the old
    # Window.partitionBy(l_returnflag) was three single-task corpus
    # sorts at 100 TB; the per-flag total rides the same boundary
    # collect (count_col).  Selection picks values at fixed order
    # statistics, so the (orderkey, linenumber) tiebreaker changes
    # nothing but makes the rank a total order per the helper contract.
    from social_warner_spark.operators.ordered import with_grouped_rank

    li_keys = T(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    ranked = with_grouped_rank(
        li_keys,
        ["l_returnflag"],
        ["l_extendedprice", "l_orderkey", "l_linenumber"],
        rank_col="rn",
        count_col="n",
    )
    qdf = spark.createDataFrame([(q,) for q in HIST_QS], "q double")
    exact = (
        ranked.crossJoin(F.broadcast(qdf))
        .where(F.col("rn") == F.ceil(F.col("q") * F.col("n")))
        .select("l_returnflag", "q", F.col("l_extendedprice").alias("exact"))
    )
    return (
        est.select(F.col("grp").alias("l_returnflag"), "q", "n_rows", "est")
        .join(exact, ["l_returnflag", "q"])
        .select("l_returnflag", "q", "n_rows", "est", r6(F.col("exact")).alias("exact"))
    )


def x69_embed_center_norm(spark, sf_dir):
    """Embedding mean-centering + unit L2 normalization — the standard
    preprocessing before cosine ANN (centering removes the corpus-mean
    "hubness" direction).  Two passes: per-dimension means via
    posexplode + one bounded agg (64 rows), collected into a single
    broadcast array row; the re-projection is then a zero-shuffle narrow
    map over the corpus.  Returns the before/after norms and the first
    unit component as the checkable fingerprint.
    """
    e = T(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    dims = e.select(F.posexplode("v").alias("pos", "val"))
    means = dims.groupBy("pos").agg(F.avg("val").alias("m"))
    marr = means.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
        ).alias("means")
    )
    centered = F.zip_with("v", "means", lambda x, m: x - m)
    staged = e.crossJoin(F.broadcast(marr)).select(
        "vec_id", "v", centered.alias("cv")
    )
    norm_c = l2_norm(F.col("cv"))
    return staged.select(
        "vec_id",
        r6(l2_norm(F.col("v"))).alias("norm_before"),
        r6(norm_c).alias("norm_centered"),
        r6(F.element_at("cv", 1) / norm_c).alias("u0"),
    )


def x70_cooccur_pmi(spark, sf_dir):
    """Token co-occurrence PMI (pointwise mutual information) over
    document-level contexts: distinct (doc, token) pairs self-joined
    within each doc, pair counts ≥ PMI_MIN_PAIRS, PMI = ln(N·c_ab /
    (c_a·c_b)) against document frequencies, top-20 pairs — the
    collocation/distributional statistic of corpus analysis.

    The self-join is keyed by doc_id, so its cost is Σ per-doc
    distinct-token², bounded by document length — never corpus².  The
    count prefilter bounds the pair table BEFORE the sort; doc
    frequencies join back as vocabulary-bounded relations.
    """
    d = T(spark, sf_dir, "documents")
    staged = d.select("doc_id", tokens(F.col("text")).alias("_toks"))
    dt = staged.select(
        "doc_id", F.explode(F.array_distinct("_toks")).alias("tok")
    )
    df_t = dt.groupBy("tok").agg(F.count("*").alias("c"))
    n_docs = d.agg(F.count("*").alias("n"))
    a = dt.select("doc_id", F.col("tok").alias("w1"))
    b = dt.select("doc_id", F.col("tok").alias("w2"))
    pairs = (
        a.join(b, "doc_id")
        .where(F.col("w1") < F.col("w2"))
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c_ab"))
        .where(F.col("c_ab") >= PMI_MIN_PAIRS)
    )
    c1 = df_t.select(F.col("tok").alias("w1"), F.col("c").alias("c_1"))
    c2 = df_t.select(F.col("tok").alias("w2"), F.col("c").alias("c_2"))
    scored = (
        pairs.join(c1, "w1")
        .join(c2, "w2")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "w1",
            "w2",
            "c_ab",
            r6(
                F.log(F.col("c_ab") * F.col("n") / (F.col("c_1") * F.col("c_2")))
            ).alias("pmi"),
        )
    )
    top = scored.orderBy(F.desc("pmi"), "w1", "w2").limit(PMI_TOP_K)
    w = Window.orderBy(F.desc("pmi"), "w1", "w2")
    return top.select(
        "w1", "w2", "c_ab", "pmi", F.row_number().over(w).cast("int").alias("rk")
    )


#: x71 — vocabulary size for id encoding.
VOCAB_SIZE = 64
#: x71 — how many leading ids form the printable fingerprint.
IDS_PREFIX = 8
#: x72 — sample size for the weighted draw.
SAMPLE_K = 30


def x71_vocab_encode(spark, sf_dir):
    """Tokenizer-shaped vocabulary-id encoding: build the top-VOCAB_SIZE
    frequency vocabulary (tie: token asc → ids 0..V-1), re-encode every
    document as an id sequence (OOV → -1), report the OOV ratio and the
    first IDS_PREFIX ids — the vocab-fitting + encoding pass that turns
    cleaned text into model-ready token ids.

    Scale shape: the vocabulary is rank-bounded → broadcast; encoding is
    posexplode → broadcast left join → one groupBy(doc) re-assembly
    ordered by position.  The corpus shuffles once (the re-assembly); the
    vocab fit partial-aggregates token counts.
    """
    d = T(spark, sf_dir, "documents")
    staged = d.select("doc_id", tokens(F.col("text")).alias("_toks"))
    tok = staged.select(
        "doc_id", F.posexplode("_toks").alias("pos", "w")
    )
    counts = tok.groupBy("w").agg(F.count("*").alias("c"))
    vocab = (
        counts.orderBy(F.desc("c"), "w")
        .limit(VOCAB_SIZE)
        .select(
            "w",
            (
                F.row_number().over(Window.orderBy(F.desc("c"), "w")) - 1
            ).alias("tid"),
        )
    )
    encoded = (
        tok.join(F.broadcast(vocab), "w", "left")
        .select(
            "doc_id",
            "pos",
            F.coalesce(F.col("tid"), F.lit(-1)).cast("int").alias("tid"),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            r6(
                F.sum((F.col("tid") < 0).cast("long")) / F.count("*")
            ).alias("oov_ratio"),
            F.concat_ws(
                ",",
                F.slice(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "tid"))),
                        lambda s: s["tid"].cast("string"),
                    ),
                    1,
                    IDS_PREFIX,
                ),
            ).alias("ids_prefix"),
        )
    )
    return encoded


def x72_weighted_sample(spark, sf_dir):
    """Weighted sampling without replacement (Efraimidis & Spirakis 2006):
    per doc a deterministic md5-uniform u ∈ (0,1), sort key ln(u)/weight
    (weight = n_chars — longer docs proportionally likelier), top
    SAMPLE_K by key — the one-pass distributed weighted draw used to
    subsample corpora to a token budget.

    No shuffle beyond the top-k (TakeOrderedAndProject): the key is a
    narrow map, and the draw is reproducible row-for-row on any engine.
    """
    d = T(spark, sf_dir, "documents")
    h = md5_int(F.concat(F.lit("ws|"), F.col("doc_id").cast("string")), 15)
    u = (h + 1.0) / (2.0 ** 60 + 1.0)
    keyed = d.select(
        "doc_id",
        F.col("n_chars").cast("double").alias("weight"),
        (F.log(u) / F.col("n_chars")).alias("_key"),
    )
    top = keyed.orderBy(F.desc("_key"), "doc_id").limit(SAMPLE_K)
    w = Window.orderBy(F.desc("_key"), "doc_id")
    return top.select(
        "doc_id",
        "weight",
        r6(F.col("_key") * 1000.0).alias("key_x1000"),
        F.row_number().over(w).cast("int").alias("rk"),
    )


#: x73 — shared-span gram length (tokens).
SPAN_K = 8


def x73_shared_span_coverage(spark, sf_dir):
    """Exact-substring dedup signal (the Spark-shaped approximation of
    suffix-array substring dedup, Lee et al. 2022 "Deduplicating Training
    Data Makes Language Models Better"): positions covered by any
    SPAN_K-token gram that also occurs in an EARLIER document.  Per doc:
    token count, covered-position count, covered fraction — the signal a
    substring-dedup pass cuts on.

    Plan shape: grams explode ∝ tokens (sliding windows, not pairs); the
    shared-gram set comes from one min-doc_id agg + equi-join back (the
    x67 novelty machinery), and coverage union-of-ranges is a bounded
    K-position explode + per-doc distinct — no corpus self-join anywhere.
    """
    d = T(spark, sf_dir, "documents")
    staged = d.select("doc_id", tokens(F.col("text")).alias("_toks"))
    n_tok = staged.select("doc_id", F.size("_toks").alias("n_tokens"))
    # (doc, start_pos, gram) — positions are 0-based gram starts
    grams = staged.select(
        "doc_id",
        F.posexplode(shingles_from_tokens(F.col("_toks"), SPAN_K)).alias(
            "pos", "gram"
        ),
    )
    first = grams.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    shared = grams.join(first, "gram").where(
        F.col("first_doc") < F.col("doc_id")
    )
    covered = (
        shared.select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(SPAN_K - 1))
            ).alias("cpos"),
        )
        .groupBy("doc_id")
        .agg(F.countDistinct("cpos").alias("n_covered"))
    )
    return (
        n_tok.join(covered, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.coalesce(F.col("n_covered"), F.lit(0)).alias("n_covered"),
            r6(
                F.coalesce(F.col("n_covered"), F.lit(0))
                / F.col("n_tokens").cast("double")
            ).alias("covered_frac"),
        )
    )


def x74_stats_aggregates(spark, sf_dir):
    """Statistical aggregate family over lineitem per return flag:
    Pearson correlation, sample covariance, sample stddev, and the
    least-squares regression slope/intercept of extendedprice against
    quantity — the column-profiling statistics every feature-engineering
    pass computes.  All are single-pass partial-aggregable (sum/sum-of-
    products moments), so the plan is one map-side-combined groupBy.

    Determinism: normalized stats (corr) round at 6dp; scale-carrying
    stats (covar/stddev/slope/intercept) at 2dp, where float-accumulation
    order across engines is far below the rounding grain.
    """
    li = T(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("double")
    y = F.col("l_extendedprice")
    return li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        r6(F.corr(x, y)).alias("corr_qty_price"),
        F.round(F.covar_samp(x, y), 2).alias("covar"),
        F.round(F.stddev_samp(y), 2).alias("stddev_price"),
        F.round(F.regr_slope(y, x), 2).alias("slope"),
        F.round(F.regr_intercept(y, x), 2).alias("intercept"),
    )


#: x75 — EWMA decay.
EWMA_DECAY = 0.9


def x75_ewma(spark, sf_dir):
    """Per-user exponentially-weighted moving average of event values
    (operators/timeseries.py:ewma): the sequential recurrence
    s_t = x_t + 0.9·s_{t-1} re-expressed as one window cumsum via the
    closed form decay^t·Σ x_i/decay^i — no Python, no iteration, one
    user_id shuffle whose sort both window expressions share.  Both
    engines accumulate in the same order, so 6dp rounding is safe."""
    from social_warner_spark.operators.timeseries import ewma

    e = T(spark, sf_dir, "events")
    out = ewma(e, decay=EWMA_DECAY)
    return out.select(
        "user_id", "event_id", F.col("_x").alias("value"), r6t(F.col("ewma")).alias("ewma")
    )


QUERIES = {
    "x66_bigram_logprob": x66_bigram_logprob,
    "x67_ngram_novelty": x67_ngram_novelty,
    "x68_quantile_sketch": x68_quantile_sketch,
    "x69_embed_center_norm": x69_embed_center_norm,
    "x70_cooccur_pmi": x70_cooccur_pmi,
    "x71_vocab_encode": x71_vocab_encode,
    "x72_weighted_sample": x72_weighted_sample,
    "x73_shared_span_coverage": x73_shared_span_coverage,
    "x74_stats_aggregates": x74_stats_aggregates,
    "x75_ewma": x75_ewma,
}

ORACLES = {
    "x66_bigram_logprob": f"""
        WITH toks AS (
            SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents
        ), tok AS (
            SELECT doc_id, u.w AS w FROM toks, UNNEST(t) AS u(w)
        ), bg AS (
            SELECT doc_id, t[i] || ' ' || t[i+1] AS bg
            FROM toks, UNNEST(range(1, len(t))) AS u(i)
            WHERE len(t) >= 2
        ), uc AS (
            SELECT w, COUNT(*) AS c FROM tok GROUP BY w
        ), tot AS (
            SELECT COUNT(*) AS total FROM tok
        ), bgc AS (
            SELECT bg, COUNT(*) AS c_bg,
                   string_split(bg, ' ')[1] AS w1,
                   string_split(bg, ' ')[2] AS w2
            FROM bg GROUP BY bg
        ), model AS (
            SELECT bgc.bg,
                   ln({BIGRAM_LAMBDA} * c_bg / u1.c
                      + {1 - BIGRAM_LAMBDA} * u2.c / tot.total) AS lp
            FROM bgc
            JOIN uc u1 ON bgc.w1 = u1.w
            JOIN uc u2 ON bgc.w2 = u2.w
            CROSS JOIN tot
        )
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               ROUND(AVG(lp), 6) AS avg_logp
        FROM bg JOIN model USING (bg)
        GROUP BY doc_id
    """,
    "x67_ngram_novelty": """
        WITH toks AS (
            SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents
        ), sh AS (
            SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
            FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
            WHERE len(t) >= 3
        ), first AS (
            SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY shingle
        )
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
               CAST(SUM(CASE WHEN first_doc < doc_id THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_seen,
               ROUND(1.0 - SUM(CASE WHEN first_doc < doc_id THEN 1 ELSE 0 END)
                     / CAST(COUNT(*) AS DOUBLE), 6) AS novelty
        FROM sh JOIN first USING (shingle)
        GROUP BY doc_id
    """,
    "x68_quantile_sketch": f"""
        WITH cells AS (
            SELECT l_returnflag AS grp,
                   CAST(FLOOR(ln(l_extendedprice) * {HIST_K}) AS BIGINT) AS bucket,
                   CAST(COUNT(*) AS BIGINT) AS cnt
            FROM lineitem GROUP BY 1, 2
        ), cum AS (
            SELECT grp, bucket, cnt,
                   SUM(cnt) OVER (PARTITION BY grp ORDER BY bucket) AS cum,
                   SUM(cnt) OVER (PARTITION BY grp ORDER BY bucket) - cnt AS prev
            FROM cells
        ), tot AS (
            SELECT grp, SUM(cnt) AS n FROM cells GROUP BY grp
        ), qs AS (
            SELECT grp, n, u.q, u.q * n AS target
            FROM tot, UNNEST([{", ".join(str(q) for q in HIST_QS)}]) AS u(q)
        ), hit AS (
            SELECT grp, q, n, bucket, cnt, prev, target
            FROM qs JOIN cum USING (grp)
            WHERE cum >= target AND prev < target
        ), ranked AS (
            SELECT l_returnflag AS grp, l_extendedprice,
                   ROW_NUMBER() OVER (
                       PARTITION BY l_returnflag ORDER BY l_extendedprice
                   ) AS rn,
                   COUNT(*) OVER (PARTITION BY l_returnflag) AS n
            FROM lineitem
        ), exact AS (
            SELECT r.grp, u.q, l_extendedprice AS exact
            FROM ranked r, UNNEST([{", ".join(str(q) for q in HIST_QS)}]) AS u(q)
            WHERE r.rn = CEIL(u.q * r.n)
        )
        SELECT h.grp AS l_returnflag, h.q, CAST(h.n AS BIGINT) AS n_rows,
               ROUND(exp((h.bucket + (h.target - h.prev) / h.cnt) / {HIST_K}.0), 6)
                 AS est,
               ROUND(e.exact, 6) AS exact
        FROM hit h JOIN exact e ON h.grp = e.grp AND h.q = e.q
    """,
    "x69_embed_center_norm": """
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ), dims AS (
            SELECT i AS pos, AVG(v[i]) AS m
            FROM e, UNNEST(range(1, len(v) + 1)) AS u(i)
            GROUP BY i
        ), marr AS (
            SELECT list(m ORDER BY pos) AS means FROM dims
        ), c AS (
            SELECT vec_id, v,
                   list_transform(v, (x, i) -> x - means[i]) AS cv
            FROM e, marr
        )
        SELECT vec_id,
               ROUND(sqrt(list_sum(list_transform(v, x -> x * x))), 6)
                 AS norm_before,
               ROUND(sqrt(list_sum(list_transform(cv, x -> x * x))), 6)
                 AS norm_centered,
               ROUND(cv[1] / sqrt(list_sum(list_transform(cv, x -> x * x))), 6)
                 AS u0
        FROM c
    """,
    "x70_cooccur_pmi": f"""
        WITH dt AS (
            SELECT DISTINCT doc_id, u.w AS tok
            FROM documents, UNNEST(string_split(trim(text), ' ')) AS u(w)
        ), df_t AS (
            SELECT tok, COUNT(*) AS c FROM dt GROUP BY tok
        ), nd AS (
            SELECT COUNT(*) AS n FROM documents
        ), pairs AS (
            SELECT a.tok AS w1, b.tok AS w2, CAST(COUNT(*) AS BIGINT) AS c_ab
            FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.tok < b.tok
            GROUP BY 1, 2
            HAVING COUNT(*) >= {PMI_MIN_PAIRS}
        ), scored AS (
            SELECT w1, w2, c_ab,
                   ROUND(ln(c_ab * nd.n / (c1.c * CAST(c2.c AS DOUBLE))), 6) AS pmi
            FROM pairs
            JOIN df_t c1 ON pairs.w1 = c1.tok
            JOIN df_t c2 ON pairs.w2 = c2.tok
            CROSS JOIN nd
        ), ranked AS (
            SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY pmi DESC, w1, w2) AS INT)
                       AS rk
            FROM scored
        )
        SELECT w1, w2, c_ab, pmi, rk FROM ranked WHERE rk <= {PMI_TOP_K}
    """,
    "x71_vocab_encode": f"""
        WITH toks AS (
            SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents
        ), tok AS (
            SELECT doc_id, CAST(u.i AS INT) AS pos, t[i] AS w
            FROM toks, UNNEST(range(1, len(t) + 1)) AS u(i)
        ), counts AS (
            SELECT w, COUNT(*) AS c FROM tok GROUP BY w
        ), vocab AS (
            SELECT w, CAST(ROW_NUMBER() OVER (ORDER BY c DESC, w) - 1 AS INT)
                       AS tid
            FROM counts ORDER BY c DESC, w LIMIT {VOCAB_SIZE}
        ), enc AS (
            SELECT doc_id, pos, COALESCE(v.tid, -1) AS tid
            FROM tok LEFT JOIN vocab v USING (w)
        )
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
               ROUND(SUM(CASE WHEN tid < 0 THEN 1 ELSE 0 END)
                     / CAST(COUNT(*) AS DOUBLE), 6) AS oov_ratio,
               array_to_string(
                   (list(CAST(tid AS VARCHAR) ORDER BY pos))[1:{IDS_PREFIX}], ','
               ) AS ids_prefix
        FROM enc GROUP BY doc_id
    """,
    "x72_weighted_sample": f"""
        WITH keyed AS (
            SELECT doc_id, CAST(n_chars AS DOUBLE) AS weight,
                   ln((CAST(CAST('0x' || substr(md5('ws|' || doc_id), 1, 15)
                                 AS BIGINT) AS DOUBLE) + 1.0)
                      / (1152921504606846976.0 + 1.0)) / n_chars AS k
            FROM documents
        ), ranked AS (
            SELECT doc_id, weight, k,
                   CAST(ROW_NUMBER() OVER (ORDER BY k DESC, doc_id) AS INT) AS rk
            FROM keyed
        )
        SELECT doc_id, weight, ROUND(k * 1000.0, 6) AS key_x1000, rk
        FROM ranked WHERE rk <= {SAMPLE_K}
    """,
    "x73_shared_span_coverage": f"""
        WITH toks AS (
            SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents
        ), grams AS (
            SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS pos,
                   array_to_string(t[u.i : u.i + {SPAN_K} - 1], ' ') AS gram
            FROM toks, UNNEST(range(1, len(t) - {SPAN_K} + 2)) AS u(i)
            WHERE len(t) >= {SPAN_K}
        ), first AS (
            SELECT gram, MIN(doc_id) AS first_doc FROM grams GROUP BY gram
        ), shared AS (
            SELECT g.doc_id, g.pos FROM grams g
            JOIN first f USING (gram) WHERE f.first_doc < g.doc_id
        ), covered AS (
            SELECT doc_id, COUNT(DISTINCT pos + u.o) AS n_covered
            FROM shared, UNNEST(range(0, {SPAN_K})) AS u(o)
            GROUP BY doc_id
        )
        SELECT d.doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
               COALESCE(c.n_covered, 0) AS n_covered,
               ROUND(COALESCE(c.n_covered, 0) / CAST(len(t) AS DOUBLE), 6)
                 AS covered_frac
        FROM toks d LEFT JOIN covered c USING (doc_id)
    """,
    "x74_stats_aggregates": """
        SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(corr(l_extendedprice, l_quantity), 6) AS corr_qty_price,
               ROUND(covar_samp(l_quantity, l_extendedprice), 2) AS covar,
               ROUND(stddev_samp(l_extendedprice), 2) AS stddev_price,
               ROUND(regr_slope(l_extendedprice, l_quantity), 2) AS slope,
               ROUND(regr_intercept(l_extendedprice, l_quantity), 2) AS intercept
        FROM lineitem GROUP BY l_returnflag
    """,
    "x75_ewma": f"""
        WITH pos AS (
            SELECT user_id, event_id, value,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) - 1 AS p
            FROM events
        ), s AS (
            SELECT user_id, event_id, value, p,
                   SUM(value / power({EWMA_DECAY}, p)) OVER (
                       PARTITION BY user_id ORDER BY p
                   ) AS cs
            FROM pos
        )
        SELECT user_id, event_id, value,
               ROUND(power({EWMA_DECAY}, p) * cs + 1e-9, 6) AS ewma
        FROM s
    """,
}
