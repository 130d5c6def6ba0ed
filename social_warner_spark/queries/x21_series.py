"""x21 series — round-3 widening batch (x287–x291): diversified
re-ranking (MMR), pseudo-relevance feedback (RM3-style expansion),
representation-quality metrics (alignment/uniformity), contingency
homogeneity testing, and corpus-distribution similarity (JSD matrix).

Like every other series, each query is a pure DataFrame program over
the driver's parquet tables with an independently-written DuckDB
oracle.  The MMR greedy selection runs as one `F.aggregate` fold over
a broadcast 1-row candidate matrix (the x270 layout) with 6dp-pinned
step scores; the oracle unrolls the same K steps as chained CTEs.

Literature grounding (public):
- Carbonell & Goldstein, "The use of MMR, diversity-based reranking"
  (SIGIR 1998).
- Abdul-Jaleel et al., "UMass at TREC 2004" — the RM3 relevance-model
  expansion recipe.
- Wang & Isola, "Understanding contrastive representation learning
  through alignment and uniformity" (ICML 2020).
- Pearson (1900) chi-square; Cramér (1946) association.
- Lin, "Divergence measures based on the Shannon entropy" (IEEE IT
  1991) — Jensen–Shannon divergence.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from social_warner_spark.functions.text import md5_int, tokens
from social_warner_spark.queries.common import T, r6, r6t

#: x287 — MMR: candidate pool (BM25 top-N), selections, trade-off.
MMR_POOL = 20
MMR_K = 10
MMR_LAMBDA = 0.7
#: x287/x288 share x35's fixed query (comparable rankings).
Q_TERMS = ("spark", "hash", "window")
#: x288 — feedback depth, expansion terms, and interpolation weight
#: (new query = original terms at weight 1 + expansions at RM3_BETA).
RM3_FDOCS = 10
RM3_TERMS = 5
RM3_BETA = 0.5
RM3_MIN_LEN = 3
#: x289 — deterministic md5 bucket count: pairs form WITHIN buckets
#: (equi-join, never a cross join); the sampling knob at scale.
AU_BUCKETS = 20
#: x291 — per-source distributions over the global top-V vocabulary,
#: renormalized (the bounded-support JSD convention).
JSD_VOCAB = 200


def _bm25_ranked(spark, sf_dir, topn):
    from social_warner_spark.operators.search import bm25_scores

    d = T(spark, sf_dir, "documents")
    return (
        bm25_scores(d, list(Q_TERMS))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(topn)
        .withColumn(
            "rk",
            F.row_number().over(
                Window.orderBy(F.desc("score"), F.asc("doc_id"))
            ),
        )
    )


def x287_mmr_rerank(spark, sf_dir):
    """Maximal-marginal-relevance re-ranking of the BM25 top-20 for the
    fixed query: greedily pick argmax of lambda*rel - (1-lambda)*
    max-sim-to-selected (sim = token-set Jaccard), 10 selections — the
    diversity pass that keeps a near-dup-heavy corpus from filling the
    whole result page with one document family.

    Scale: the candidate pool is k rows by construction; similarities,
    the candidate matrix, and the greedy fold all live on a broadcast
    1-row relation of nested arrays (the x270 layout), so the
    corpus-scale work is exactly one BM25 pass.  Step scores are
    6dp-rounded with lowest-BM25-rank tie-break in both engines."""
    cand = _bm25_ranked(spark, sf_dir, MMR_POOL).localCheckpoint(eager=True)
    d = T(spark, sf_dir, "documents")
    toks = (
        d.join(cand.select("doc_id"), "doc_id", "left_semi")
        .select(
            "doc_id", F.array_distinct(tokens(F.col("text"))).alias("ts")
        )
    )
    ct = cand.join(toks, "doc_id").select("doc_id", "rk", "score", "ts")
    a, b = ct.alias("a"), ct.alias("b")
    sims = a.join(b, F.col("a.rk") != F.col("b.rk")).select(
        F.col("a.rk").alias("ia"),
        F.col("b.rk").alias("ib"),
        r6(
            F.size(F.array_intersect(F.col("a.ts"), F.col("b.ts")))
            / F.size(F.array_union(F.col("a.ts"), F.col("b.ts")))
        ).alias("s"),
    )
    rows = sims.groupBy("ia").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("ib", "s"))),
            lambda e: e["s"],
        ).alias("row")
    )
    mat = rows.agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("ia", "row"))),
            lambda e: e["row"],
        ).alias("SM")
    )
    base = cand.groupBy().agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("rk", "doc_id"))),
            lambda e: e["doc_id"],
        ).alias("ids"),
        F.transform(
            F.sort_array(F.collect_list(F.struct("rk", "score"))),
            lambda e: e["score"],
        ).alias("rel"),
    )
    one = base.crossJoin(F.broadcast(mat))
    # SM rows exclude the diagonal, so SM[i] has MMR_POOL-1 entries
    # ordered by the OTHER rank; sim(i, j) for j != i is
    # SM[i][j-1 if j < i else j-2] (1-based ranks).  Precompute a full
    # matrix with diagonal zeros instead: rebuild via transform.
    full = F.transform(
        F.sequence(F.lit(1), F.lit(MMR_POOL)),
        lambda i: F.transform(
            F.sequence(F.lit(1), F.lit(MMR_POOL)),
            lambda j: F.when(i == j, F.lit(0.0)).otherwise(
                F.element_at(
                    F.element_at(F.col("SM"), i),
                    F.when(j < i, j).otherwise(j - 1).cast("int"),
                )
            ),
        ),
    )
    one = one.select("ids", "rel", full.alias("M"))
    neg = F.lit(-1e18)
    sel = F.aggregate(
        F.sequence(F.lit(1), F.lit(MMR_K)),
        F.expr("CAST(array() AS array<int>)"),
        lambda acc, stp: F.array_append(
            acc,
            # argmax over unselected candidates of the rounded step
            # score; array_position returns the FIRST max = best BM25
            # rank on ties.
            F.array_position(
                F.transform(
                    F.sequence(F.lit(1), F.lit(MMR_POOL)),
                    lambda i: F.when(
                        F.array_contains(acc, i.cast("int")), neg
                    ).otherwise(
                        F.round(
                            MMR_LAMBDA
                            * F.element_at(F.col("rel"), i)
                            - (1 - MMR_LAMBDA)
                            * F.coalesce(
                                F.array_max(
                                    F.transform(
                                        acc,
                                        lambda j: F.element_at(
                                            F.element_at(F.col("M"), i), j
                                        ),
                                    )
                                ),
                                F.lit(0.0),
                            ),
                            6,
                        )
                    ),
                ),
                F.array_max(
                    F.transform(
                        F.sequence(F.lit(1), F.lit(MMR_POOL)),
                        lambda i: F.when(
                            F.array_contains(acc, i.cast("int")), neg
                        ).otherwise(
                            F.round(
                                MMR_LAMBDA
                                * F.element_at(F.col("rel"), i)
                                - (1 - MMR_LAMBDA)
                                * F.coalesce(
                                    F.array_max(
                                        F.transform(
                                            acc,
                                            lambda j: F.element_at(
                                                F.element_at(F.col("M"), i),
                                                j,
                                            ),
                                        )
                                    ),
                                    F.lit(0.0),
                                ),
                                6,
                            )
                        ),
                    )
                ),
            ).cast("int"),
        ),
    )
    picked = one.select(sel.alias("sel"), "ids", "rel")
    out = picked.select(
        F.posexplode("sel").alias("p", "idx"), "ids", "rel"
    )
    return out.select(
        (F.col("p") + 1).alias("rk_mmr"),
        F.element_at(F.col("ids"), F.col("idx")).alias("doc_id"),
        F.col("idx").alias("rk_bm25"),
        r6(F.element_at(F.col("rel"), F.col("idx"))).alias("bm25_score"),
    ).orderBy("rk_mmr")


def x288_rm3_expansion(spark, sf_dir):
    """RM3-style pseudo-relevance feedback: the BM25 top-10 docs vote
    expansion terms by sum over feedback docs of P(t|d) * norm-score(d)
    (original query terms and tokens shorter than 3 chars excluded);
    the top-5 expansions re-enter the query at weight beta and the
    corpus is re-scored — reported as the expanded ranking with each
    doc's base rank alongside (NULL = surfaced only by expansion).

    Scale: the feedback set is k rows; expansion voting explodes only
    those k docs; the re-score is ONE explode+join pass over the corpus
    against the (3+5)-term broadcast relation — term-at-a-time scoring
    with data-dependent terms, the join-based twin of x35's fixed-term
    column form."""
    from social_warner_spark.caching import register_persisted

    d = T(spark, sf_dir, "documents")
    base = _bm25_ranked(spark, sf_dir, MMR_POOL).localCheckpoint(eager=True)
    fb = base.where(F.col("rk") <= RM3_FDOCS)
    ftot = fb.agg(F.sum("score").alias("stot"))
    ftoks = (
        d.join(fb.select("doc_id", "score"), "doc_id")
        .select(
            "doc_id",
            "score",
            tokens(F.col("text")).alias("t"),
        )
        .select(
            "doc_id", "score", F.size("t").alias("dl"), F.explode("t").alias("tok")
        )
    )
    votes = (
        ftoks.where(
            (F.length("tok") >= RM3_MIN_LEN)
            & ~F.col("tok").isin(*Q_TERMS)
        )
        .groupBy("doc_id", "score", "dl", "tok")
        .agg(F.count("*").alias("tf"))
        .crossJoin(F.broadcast(ftot))
        .groupBy("tok")
        .agg(
            # tie-nudged like r6t: w drives the ORDER BY ... LIMIT term
            # selection, so a rounding-boundary flip here would swap the
            # marginal expansion term between engines (oracle matches)
            F.round(
                F.sum(
                    F.col("tf")
                    / F.col("dl")
                    * (F.col("score") / F.col("stot"))
                )
                + F.lit(1e-9),
                6,
            ).alias("w")
        )
    )
    exp_terms = (
        votes.orderBy(F.desc("w"), F.asc("tok"))
        .limit(RM3_TERMS)
        .select("tok", "w")
        .localCheckpoint(eager=True)
    )
    terms = exp_terms.select(
        "tok", (F.lit(RM3_BETA)).alias("qw")
    ).union(
        spark.createDataFrame(
            [(t, 1.0) for t in Q_TERMS], ["tok", "qw"]
        )
    )
    terms = register_persisted(terms.persist())
    # join-based BM25 over the expanded term relation
    dt = d.select("doc_id", tokens(F.col("text")).alias("t")).select(
        "doc_id", F.size("t").alias("dl"), F.explode("t").alias("tok")
    )
    tfs = (
        dt.join(F.broadcast(terms.select("tok")), "tok")
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    # one tokenizing pass serves both the corpus stats and the length
    # join (persisted 2-column relation).
    dls = register_persisted(
        d.select(
            "doc_id",
            F.size(tokens(F.col("text"))).cast("double").alias("dl"),
        ).persist()
    )
    stats = dls.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    dfreq = tfs.groupBy("tok").agg(
        F.count("*").cast("double").alias("df")
    )
    scored = (
        tfs.join(F.broadcast(dfreq), "tok")
        .join(F.broadcast(terms), "tok")
        .join(dls, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (
                F.col("qw")
                * F.round(
                    F.log(
                        1.0
                        + (F.col("n_docs") - F.col("df") + 0.5)
                        / (F.col("df") + 0.5)
                    )
                    * F.col("tf")
                    * 2.2
                    / (
                        F.col("tf")
                        + 1.2
                        * (1 - 0.75 + 0.75 * F.col("dl") / F.col("avgdl"))
                    ),
                    6,
                )
            ).alias("part"),
        )
        .groupBy("doc_id")
        .agg(r6t(F.sum("part")).alias("score_prf"))
    )
    w = Window.orderBy(F.desc("score_prf"), F.asc("doc_id"))
    top = (
        scored.orderBy(F.desc("score_prf"), F.asc("doc_id"))
        .limit(MMR_POOL)
        .withColumn("rk_prf", F.row_number().over(w))
    )
    return (
        top.join(
            base.select("doc_id", F.col("rk").alias("rk_base")),
            "doc_id",
            "left",
        )
        .select("rk_prf", "doc_id", "score_prf", "rk_base")
        .orderBy("rk_prf")
    )


def au_bucket(vec_id: F.Column) -> F.Column:
    """The md5 bucket of a vector that x289 and x337 pair within."""
    return md5_int(F.concat(F.lit("au|"), vec_id.cast("string")), 8) % AU_BUCKETS


def x289_alignment_uniformity(spark, sf_dir):
    """Wang–Isola representation metrics over the labeled embeddings:
    alignment = mean squared L2 distance between unit-normalized
    SAME-label pairs, uniformity = log mean exp(-2 d^2) over mixed
    pairs — together "do classes collapse tight while the whole cloud
    spreads", the two-number health check run before trusting any
    embedding-based dedup/ANN stage.  d^2 = 2 - 2cos on the unit
    sphere, so both metrics come from the repo's one staged-norm
    cosine fold.

    Scale: pairs form WITHIN md5 hash buckets (equi-joins on
    (label, bucket) and bucket — never a cross join); the bucket count
    is the sampling knob, and the reported pair counts expose exactly
    what was sampled."""
    from social_warner_spark.functions.vectors import cosine_prenormed, l2_norm

    e = T(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.col("embedding").cast("array<double>").alias("v"),
    )
    bucket = au_bucket(F.col("vec_id"))
    staged = e.select(
        "vec_id",
        "label",
        bucket.alias("b"),
        "v",
        l2_norm(F.col("v")).alias("nv"),
    )
    from social_warner_spark.caching import register_persisted

    staged = register_persisted(staged.persist())
    a, c = staged.alias("a"), staged.alias("c")
    d2 = 2.0 - 2.0 * F.round(
        cosine_prenormed(
            F.col("a.v"), F.col("c.v"), F.col("a.nv"), F.col("c.nv")
        ),
        6,
    )
    same = (
        a.join(
            c,
            (F.col("a.label") == F.col("c.label"))
            & (F.col("a.b") == F.col("c.b"))
            & (F.col("a.vec_id") < F.col("c.vec_id")),
        )
        .agg(
            F.count("*").alias("n_align_pairs"),
            r6(F.avg(d2)).alias("alignment"),
        )
    )
    allp = (
        a.join(
            c,
            (F.col("a.b") == F.col("c.b"))
            & (F.col("a.vec_id") < F.col("c.vec_id")),
        )
        .agg(
            F.count("*").alias("n_unif_pairs"),
            r6(F.log(F.avg(F.exp(-2.0 * d2)))).alias("uniformity"),
        )
    )
    return same.crossJoin(F.broadcast(allp)).select(
        "n_align_pairs", "alignment", "n_unif_pairs", "uniformity"
    )


def x290_chi2_homogeneity(spark, sf_dir):
    """Chi-square homogeneity test of the language distribution across
    sources (the lang x source contingency table), with Cramér's V —
    "do all crawls feed the same language mix", the release gate
    before pooling sources into one training mixture.

    Scale: one contingency aggregation; the (langs x sources) grid
    carries everything after."""
    d = T(spark, sf_dir, "documents")
    cell = d.groupBy("lang", "source").agg(F.count("*").alias("o"))
    from social_warner_spark.caching import register_persisted

    cell = register_persisted(cell.persist())
    rows_ = cell.groupBy("lang").agg(F.sum("o").alias("rn"))
    cols_ = cell.groupBy("source").agg(F.sum("o").alias("cn"))
    tot = cell.agg(
        F.sum("o").alias("n"),
        F.countDistinct("lang").alias("r"),
        F.countDistinct("source").alias("c"),
    )
    grid = (
        rows_.crossJoin(cols_)
        .join(cell, ["lang", "source"], "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "n",
            "r",
            "c",
            (
                F.pow(
                    F.coalesce(F.col("o"), F.lit(0))
                    - F.col("rn") * F.col("cn") / F.col("n"),
                    2,
                )
                / (F.col("rn") * F.col("cn") / F.col("n"))
            ).alias("term"),
        )
    )
    return grid.groupBy("n", "r", "c").agg(
        r6(F.sum("term")).alias("chi2"),
        ((F.max("r") - 1) * (F.max("c") - 1)).alias("df"),
        r6(
            F.sqrt(
                F.sum("term")
                / (F.max("n") * F.least(F.max("r") - 1, F.max("c") - 1))
            )
        ).alias("cramers_v"),
    ).select("n", "r", "c", "chi2", "df", "cramers_v")


def x291_jsd_source_matrix(spark, sf_dir):
    """Jensen–Shannon divergence between every pair of per-source
    unigram distributions over the global top-200 vocabulary
    (renormalized): JSD = H((p+q)/2) - (H(p)+H(q))/2 in bits — the
    symmetric, bounded [0,1] source-similarity matrix that the x225
    DoReMi weights and x227 DSIR scores implicitly depend on.

    Scale: one token count per (source, term) after a semi-join with
    the broadcast top-V vocabulary; the pair algebra runs on
    sources^2 x V grid rows."""
    d = T(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(tokens(F.col("text"))).alias("tok"))
    from social_warner_spark.caching import register_persisted

    tok = register_persisted(tok.persist())
    vocab = (
        tok.groupBy("tok")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), F.asc("tok"))
        .limit(JSD_VOCAB)
        .select("tok")
        .localCheckpoint(eager=True)
    )
    cnt = (
        tok.join(F.broadcast(vocab), "tok")
        .groupBy("source", "tok")
        .agg(F.count("*").alias("c"))
    )
    tots = cnt.groupBy("source").agg(F.sum("c").alias("t"))
    grid = (
        tots.crossJoin(F.broadcast(vocab))
        .join(cnt, ["source", "tok"], "left")
        .select(
            "source",
            "tok",
            (F.coalesce(F.col("c"), F.lit(0)) / F.col("t")).alias("p"),
        )
    )
    h = lambda x: F.when(x > 0, -x * F.log2(x)).otherwise(F.lit(0.0))
    a, b = grid.alias("a"), grid.alias("b")
    return (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("s1"), F.col("b.source").alias("s2")
        )
        .agg(
            r6(
                F.sum(
                    h((F.col("a.p") + F.col("b.p")) / 2.0)
                    - (h(F.col("a.p")) + h(F.col("b.p"))) / 2.0
                )
            ).alias("jsd")
        )
        .orderBy("s1", "s2")
    )


# ---------------------------------------------------------------------------
# Oracles
# ---------------------------------------------------------------------------

from social_warner_spark.queries.x14_series import (  # noqa: E402
    _bm25_scored_sql,
    _dql_staged_sql,
)

_CAND_SQL = f"""{_dql_staged_sql()}, {_bm25_scored_sql()}, cand AS MATERIALIZED (
            SELECT doc_id, score,
                   CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
                        AS INT) AS rk
            FROM bscored
            ORDER BY score DESC, doc_id LIMIT {MMR_POOL}
        )"""


def _mmr_oracle() -> str:
    steps = []
    out_rows = []
    steps.append("sel0 AS MATERIALIZED (SELECT CAST([] AS INT[]) AS sel)")
    for i in range(1, MMR_K + 1):
        steps.append(
            f"""step{i} AS MATERIALIZED (
            SELECT c.rk, c.doc_id, c.score,
                   ROUND({MMR_LAMBDA} * c.score - {round(1 - MMR_LAMBDA, 6)}
                         * COALESCE((SELECT MAX(s.s) FROM sims s, sel{i - 1}
                                     WHERE s.ia = c.rk
                                       AND list_contains(sel{i - 1}.sel,
                                                         s.ib)), 0.0),
                         6) AS sc
            FROM cand c, sel{i - 1}
            WHERE NOT list_contains(sel{i - 1}.sel, c.rk)
            ORDER BY sc DESC, c.rk LIMIT 1
        ), sel{i} AS MATERIALIZED (
            SELECT list_append(sel{i - 1}.sel,
                               (SELECT rk FROM step{i})) AS sel
            FROM sel{i - 1}
        )"""
        )
        out_rows.append(
            f"SELECT {i} AS rk_mmr, doc_id, rk AS rk_bm25,"
            f" ROUND(score, 6) AS bm25_score FROM step{i}"
        )
    return f"""
        WITH {_CAND_SQL}, toks2 AS (
            SELECT c.rk, list_distinct(string_split(trim(d.text), ' '))
                       AS ts
            FROM cand c JOIN documents d USING (doc_id)
        ), sims AS MATERIALIZED (
            SELECT a.rk AS ia, b.rk AS ib,
                   ROUND(len(list_intersect(a.ts, b.ts)) * 1.0
                         / len(list_distinct(list_concat(a.ts, b.ts))), 6)
                       AS s
            FROM toks2 a JOIN toks2 b ON a.rk != b.rk
        ), {", ".join(steps)}
        SELECT * FROM ({" UNION ALL ".join(out_rows)})
        ORDER BY rk_mmr
    """


def _rm3_oracle() -> str:
    qlist = ", ".join(f"'{t}'" for t in Q_TERMS)
    qvals = ", ".join(f"('{t}', 1.0)" for t in Q_TERMS)
    return f"""
        WITH {_CAND_SQL}, fb AS (
            SELECT doc_id, score, rk FROM cand WHERE rk <= {RM3_FDOCS}
        ), ftot AS (
            SELECT SUM(score) AS stot FROM fb
        ), ftoks AS (
            SELECT f.doc_id, f.score,
                   len(string_split(trim(d.text), ' ')) AS dl,
                   UNNEST(string_split(trim(d.text), ' ')) AS tok
            FROM fb f JOIN documents d USING (doc_id)
        ), votes AS (
            SELECT tok,
                   ROUND(SUM(tf * 1.0 / dl * (score / stot)) + 1e-9, 6) AS w
            FROM (SELECT doc_id, score, dl, tok, COUNT(*) AS tf
                  FROM ftoks
                  WHERE len(tok) >= {RM3_MIN_LEN}
                    AND tok NOT IN ({qlist})
                  GROUP BY 1, 2, 3, 4), ftot
            GROUP BY tok
        ), expt AS (
            SELECT tok, {RM3_BETA} AS qw FROM votes
            ORDER BY w DESC, tok LIMIT {RM3_TERMS}
        ), terms AS (
            SELECT tok, qw FROM expt
            UNION ALL
            SELECT * FROM (VALUES {qvals}) v(tok, qw)
        ), dt AS (
            SELECT doc_id,
                   len(string_split(trim(text), ' ')) AS dl,
                   UNNEST(string_split(trim(text), ' ')) AS tok
            FROM documents
        ), tfs AS (
            SELECT dt.doc_id, dt.tok, dt.dl, COUNT(*) AS tf
            FROM dt JOIN terms USING (tok)
            GROUP BY 1, 2, 3
        ), stats2 AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                   AVG(len(string_split(trim(text), ' '))) AS avgdl
            FROM documents
        ), dfreq AS (
            SELECT tok, CAST(COUNT(*) AS DOUBLE) AS df FROM tfs GROUP BY 1
        ), scored2 AS (
            SELECT t.doc_id,
                   ROUND(SUM(te.qw * ROUND(
                       ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
                       * t.tf * 2.2
                       / (t.tf + 1.2 * (1 - 0.75 + 0.75 * t.dl / s.avgdl)),
                       6)) + 1e-9, 6) AS score_prf
            FROM tfs t
            JOIN dfreq f USING (tok)
            JOIN terms te USING (tok)
            CROSS JOIN stats2 s
            GROUP BY t.doc_id
        ), topx AS (
            SELECT doc_id, score_prf,
                   CAST(ROW_NUMBER() OVER (
                       ORDER BY score_prf DESC, doc_id) AS INT) AS rk_prf
            FROM scored2
            ORDER BY score_prf DESC, doc_id LIMIT {MMR_POOL}
        )
        SELECT t.rk_prf, t.doc_id, t.score_prf, c.rk AS rk_base
        FROM topx t LEFT JOIN cand c USING (doc_id)
        ORDER BY rk_prf
    """


_AU_COS = (
    "ROUND(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])"
    " / (sqrt(list_dot_product(a.embedding::DOUBLE[],"
    " a.embedding::DOUBLE[]))"
    " * sqrt(list_dot_product(b.embedding::DOUBLE[],"
    " b.embedding::DOUBLE[]))), 6)"
)

ORACLES = {
    "x287_mmr_rerank": _mmr_oracle(),
    "x288_rm3_expansion": _rm3_oracle(),
    "x289_alignment_uniformity": f"""
        WITH e AS (
            SELECT vec_id, label, embedding,
                   CAST(('0x' || substr(md5('au|' ||
                        CAST(vec_id AS VARCHAR)), 1, 8)) AS UBIGINT)
                       % {AU_BUCKETS} AS b
            FROM embeddings
        ), same AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_align_pairs,
                   ROUND(AVG(2.0 - 2.0 * {_AU_COS}), 6) AS alignment
            FROM e a JOIN e b
              ON a.label = b.label AND a.b = b.b AND a.vec_id < b.vec_id
        ), allp AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_unif_pairs,
                   ROUND(ln(AVG(exp(-2.0 * (2.0 - 2.0 * {_AU_COS})))), 6)
                       AS uniformity
            FROM e a JOIN e b
              ON a.b = b.b AND a.vec_id < b.vec_id
        )
        SELECT n_align_pairs, alignment, n_unif_pairs, uniformity
        FROM same CROSS JOIN allp
    """,
    "x290_chi2_homogeneity": """
        WITH cell AS (
            SELECT lang, source, COUNT(*) AS o
            FROM documents GROUP BY 1, 2
        ), rows_ AS (
            SELECT lang, SUM(o) AS rn FROM cell GROUP BY 1
        ), cols_ AS (
            SELECT source, SUM(o) AS cn FROM cell GROUP BY 1
        ), tot AS (
            SELECT CAST(SUM(o) AS BIGINT) AS n,
                   CAST(COUNT(DISTINCT lang) AS BIGINT) AS r,
                   CAST(COUNT(DISTINCT source) AS BIGINT) AS c
            FROM cell
        ), grid AS (
            SELECT tot.n, tot.r, tot.c,
                   pow(COALESCE(ce.o, 0) - rw.rn * cl.cn * 1.0 / tot.n, 2)
                       / (rw.rn * cl.cn * 1.0 / tot.n) AS term
            FROM rows_ rw CROSS JOIN cols_ cl CROSS JOIN tot
            LEFT JOIN cell ce
              ON ce.lang = rw.lang AND ce.source = cl.source
        )
        SELECT n, r, c,
               ROUND(SUM(term), 6) AS chi2,
               (MAX(r) - 1) * (MAX(c) - 1) AS df,
               ROUND(sqrt(SUM(term)
                          / (MAX(n) * LEAST(MAX(r) - 1, MAX(c) - 1))), 6)
                   AS cramers_v
        FROM grid GROUP BY n, r, c
    """,
    "x291_jsd_source_matrix": f"""
        WITH tok AS (
            SELECT source, UNNEST(string_split(trim(text), ' ')) AS tok
            FROM documents
        ), vocab AS (
            SELECT tok FROM (
                SELECT tok, COUNT(*) AS c FROM tok GROUP BY 1
            ) ORDER BY c DESC, tok LIMIT {JSD_VOCAB}
        ), cnt AS (
            SELECT t.source, t.tok, COUNT(*) AS c
            FROM tok t JOIN vocab USING (tok)
            GROUP BY 1, 2
        ), tots AS (
            SELECT source, SUM(c) AS t FROM cnt GROUP BY 1
        ), grid AS (
            SELECT ts.source, v.tok,
                   COALESCE(c.c, 0) * 1.0 / ts.t AS p
            FROM tots ts CROSS JOIN vocab v
            LEFT JOIN cnt c ON c.source = ts.source AND c.tok = v.tok
        )
        SELECT a.source AS s1, b.source AS s2,
               ROUND(SUM(
                   (CASE WHEN (a.p + b.p) / 2.0 > 0
                         THEN -(a.p + b.p) / 2.0 * log2((a.p + b.p) / 2.0)
                         ELSE 0.0 END)
                   - ((CASE WHEN a.p > 0 THEN -a.p * log2(a.p)
                            ELSE 0.0 END)
                      + (CASE WHEN b.p > 0 THEN -b.p * log2(b.p)
                              ELSE 0.0 END)) / 2.0
               ), 6) AS jsd
        FROM grid a JOIN grid b
          ON a.tok = b.tok AND a.source < b.source
        GROUP BY 1, 2
        ORDER BY s1, s2
    """,
}

QUERIES = {
    "x287_mmr_rerank": x287_mmr_rerank,
    "x288_rm3_expansion": x288_rm3_expansion,
    "x289_alignment_uniformity": x289_alignment_uniformity,
    "x290_chi2_homogeneity": x290_chi2_homogeneity,
    "x291_jsd_source_matrix": x291_jsd_source_matrix,
}
