"""Eleventh extension batch (x164–x191): the round-3 operator families.

Substring-level duplication (x164), code-switch profiling (x165),
stratified weighted sampling (x166), Poisson-bootstrap CIs (x167),
jackknife influence (x168), effective sample size (x169), BPE merge
training + encode (x170/x171), KS drift (x172), JL projection audit
(x173), user-typicality screen (x174), Benford audit (x175), greedy
set-cover source selection (x176), classifier eval + Cohen's kappa
(x177/x189), two-pass exact median (x178), pointer-doubling subtree
rollup (x179), sorted-neighborhood linkage (x180), water-filling fair
budgets (x181), empirical-Bayes shrinkage (x182), Kaplan-Meier
survival (x183), rank AUC (x184), relational power iteration (x185),
DP noisy-count release (x186), Heaps-law fit (x187), relational
logistic-regression GD (x188), 2-D skyline (x190), Good-Turing
coverage (x191).

Detailed notes for the founding trio:

- x164 duplicated-span detection — the substring-level complement of the
  document-level dedup family (ExactSubstr in "Deduplicating Training
  Data Makes Language Models Better", arXiv:2107.06499): find maximal
  token spans that occur verbatim in ≥2 documents.  Fixed-width token
  shingles are hashed and counted; positions whose shingle is shared
  cross-document are merged per-document into maximal spans with a
  gaps-and-islands pass.  Complements x73 (which scores per-doc COVERAGE
  by grams first seen in earlier docs): x164 reports the SPAN STRUCTURE —
  how many contiguous duplicated regions and how long — symmetric over
  the duplicate set rather than ordered by first appearance.
- x165 code-switch / mixed-language detection — chunk-level language ID
  (the x3 marker argmax applied per 25-token chunk) rolled up to a
  per-document language-mixing profile.  Catches documents whose
  dominant-language label hides embedded foreign spans — a real
  training-data contamination mode that document-level lang-ID misses.
- x166 stratified weighted sample — the per-group form of x72's
  Efraimidis–Spirakis draw: an independent A-ES sample of fixed size
  WITHIN every source (key = ln(u) / w, rank per source), so every
  stratum is represented regardless of its share of the corpus.  The
  global-top-k x72 plan (TakeOrderedAndProject) becomes a per-group
  rank (WindowGroupLimit) — a different physical shape and the variant
  used when building evaluation slices per provenance.

Scale notes per query in docstrings; no query shuffles document text —
only hashes, positions, and counts.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from social_warner_spark.functions.text import LANG_MARKERS, tokens
from social_warner_spark.queries.common import T, r2, r6, r6t

#: x164 — width (in word tokens) of the duplicated-span shingle.  Spans
#: shorter than this are not detectable; matches the 50-token window of
#: arXiv:2107.06499 scaled to the testdata's short documents.
SPAN_W = 8

#: x165 — tokens per language-ID chunk.
CHUNK_TOKENS = 25

#: x166 — sample size PER SOURCE stratum.
STRATUM_K = 10

_LANGS = sorted(LANG_MARKERS)


def x164_dup_spans(spark, sf_dir):
    """Maximal cross-document duplicated token spans per document.

    Plan: tokenize once; posexplode ``SPAN_W``-gram shingles to
    (doc_id, pos, h=md5-64(shingle)) — the text itself never shuffles,
    only 16-hex-char hashes.  Shingle hashes seen in ≥2 distinct docs
    (one partial-agg shuffle) mark their positions as duplicated; a
    per-document gaps-and-islands window (new island when the gap
    between hit positions exceeds the shingle width) merges overlapping
    hits into maximal spans.  Output: per doc, the span count, total
    duplicated tokens, and duplicated fraction.

    100 TB: the shingle-hash agg is the only corpus-sized shuffle
    (map-side combine; 16-byte keys).  The island window partitions by
    doc — partition size bounded by document length.  At full scale use
    the full 128-bit md5 (collision headroom) and a Bloom-filter
    pre-join on the duplicated-hash set.
    """
    from social_warner_spark.operators.dedup import duplicated_spans

    return duplicated_spans(T(spark, sf_dir, "documents"), w=SPAN_W)


def x165_mixed_language(spark, sf_dir):
    """Per-document language-mixing profile from chunk-level lang-ID.

    Each 25-token chunk gets the x3 marker-argmax language ('und' when
    no marker hits); the rollup reports chunks, distinct non-'und'
    languages, the dominant chunk language (max chunk count, ties by
    language code), and its share of chunks.

    Plan: one token explode → one (doc, chunk) partial-agg shuffle with
    conditional counts (rows after it are |chunks|-sized, never
    token-sized) → |doc|-sized rollups.  100 TB: the token explode is a
    narrow map over the scan; everything post-agg is bounded by
    documents × chunks-per-doc.
    """
    d = T(spark, sf_dir, "documents").select("doc_id", tokens(F.col("text")).alias("toks"))
    tok = d.select("doc_id", F.posexplode("toks").alias("pos", "token")).select(
        "doc_id", F.floor(F.col("pos") / CHUNK_TOKENS).alias("chunk_id"), "token"
    )
    counts = tok.groupBy("doc_id", "chunk_id").agg(
        *[
            F.sum(F.when(F.col("token").isin(*LANG_MARKERS[lg]), 1).otherwise(0)).alias(f"s_{lg}")
            for lg in _LANGS
        ]
    )
    best = None
    for lg in _LANGS:  # left fold → first max wins (lexicographic tie-break)
        cur = F.struct(F.col(f"s_{lg}").alias("score"), F.lit(lg).alias("lg"))
        best = cur if best is None else F.when(cur["score"] > best["score"], cur).otherwise(best)
    chunk_lang = counts.select(
        "doc_id",
        "chunk_id",
        F.when(best["score"] > 0, best["lg"]).otherwise(F.lit("und")).alias("chunk_lang"),
    )

    lang_counts = chunk_lang.groupBy("doc_id", "chunk_lang").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("doc_id").orderBy(F.desc("cnt"), "chunk_lang")
    dom = lang_counts.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    per_doc = lang_counts.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_chunks"),
        F.sum(F.when(F.col("chunk_lang") != "und", 1).otherwise(0)).alias("n_langs"),
    )
    return per_doc.join(dom, "doc_id").select(
        "doc_id",
        "n_chunks",
        "n_langs",
        F.col("chunk_lang").alias("dom_lang"),
        r6(F.col("cnt") / F.col("n_chunks").cast("double")).alias("dom_share"),
    )


def x166_stratified_weighted_sample(spark, sf_dir):
    """Deterministic stratified weighted sample: A-ES top-10 per source.

    The per-stratum form of x72's global Efraimidis–Spirakis draw: each
    doc gets key = ln(u) / w (w = n_chars, u ∈ (0,1] from md5 with a
    stream tag distinct from x72's), and the top-10 keys WITHIN each
    source form that stratum's sample — equal representation per
    provenance no matter how skewed the corpus mix.  Keys are rounded
    to 6dp and tie-broken by doc_id so the boundary rows are
    engine-stable.

    Plan: narrow map + per-group rank — Spark pushes the rn ≤ k filter
    into WindowGroupLimit, so each source keeps a k-row heap per
    partition instead of sorting the corpus.  The global-top-k variant
    (TakeOrderedAndProject) is x72; this is the grouped physical shape.
    """
    d = T(spark, sf_dir, "documents")
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("sws|"), F.col("doc_id").cast("string"))), 1, 8),
            16,
            10,
        ).cast("double")
        + 1.0
    ) / F.lit(4294967296.0)
    key = F.log(u) / F.greatest(F.col("n_chars"), F.lit(1)).cast("double")
    keyed = d.select("source", "doc_id", "n_chars", r6(key).alias("es_key"))
    w = Window.partitionBy("source").orderBy(F.desc("es_key"), "doc_id")
    return (
        keyed.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= STRATUM_K)
        .select("source", "doc_id", "n_chars", "es_key")
    )


#: x167 — bootstrap replicates.
BOOT_B = 40

#: Poisson(1) cumulative probabilities (k = 0..8); weights beyond 9 are
#: impossible at double precision of the uniform.  Hardcoded so BOTH
#: engines compare against the exact same literals.
POISSON1_CUM = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238463,
    0.9963401531726563,
    0.9994058151824183,
    0.999916758850712,
    0.9999897508033253,
    0.999998874797402,
)


def _uniform_from_md5(seed: F.Column) -> F.Column:
    """Deterministic u ∈ (0,1] from the first 8 md5 hex chars of `seed`."""
    return (
        F.conv(F.substring(F.md5(seed), 1, 8), 16, 10).cast("double") + 1.0
    ) / F.lit(4294967296.0)


def poisson1_weight(u: F.Column) -> F.Column:
    """Inverse-CDF Poisson(1) draw from a uniform — the bootstrap weight."""
    w = None
    for k, c in enumerate(POISSON1_CUM):
        cond = u < F.lit(c)
        w = F.when(cond, F.lit(k)) if w is None else w.when(cond, F.lit(k))
    return w.otherwise(F.lit(len(POISSON1_CUM)))


def x167_poisson_bootstrap(spark, sf_dir):
    """Per-event-type mean(value) with a 95% Poisson-bootstrap CI.

    The Poisson bootstrap (each row enters replicate b with weight
    ~Poisson(1)) is the one bootstrap that distributes: no resampling
    index, no global row count, one pass per replicate — and all B
    replicates run in a single aggregation over an exploded replicate
    id.  The per-(row, b) weight comes from a deterministic md5 uniform
    through the inverse Poisson CDF ladder, so both engines produce the
    identical "random" weights.

    CI = the rank-1 and rank-⌈0.975B⌉ replicate means (B=40 → 2.5%/97.5%
    empirical quantiles), ranked on 6dp-rounded means with replicate-id
    tie-break.

    100 TB: the explode multiplies the scan by B but everything
    aggregates straight down to |types|×B partial cells (map-side
    combine), and replicate cells never co-reside — this is the
    textbook distributed-bootstrap layout.
    """
    e = T(spark, sf_dir, "events").select("event_id", "event_type", "value")
    reps = e.select(
        "event_type",
        "value",
        F.explode(F.sequence(F.lit(0), F.lit(BOOT_B - 1))).alias("b"),
        F.col("event_id"),
    )
    u = _uniform_from_md5(
        F.concat(F.col("event_id").cast("string"), F.lit("#"), F.col("b").cast("string"))
    )
    cells = reps.select("event_type", "b", poisson1_weight(u).alias("w"), "value")
    rmeans = cells.groupBy("event_type", "b").agg(
        r6(F.sum(F.col("w") * F.col("value")) / F.sum("w")).alias("rmean")
    )
    # A replicate whose Poisson weights all drew 0 has sum(w)=0 → NULL
    # rmean; Spark ranks NULLS FIRST ascending but DuckDB NULLS LAST, so
    # degenerate replicates (possible in very small strata) must leave
    # before the rank window — identically on both sides.
    rmeans = rmeans.filter(F.col("rmean").isNotNull())
    rk = Window.partitionBy("event_type").orderBy("rmean", "b")
    ranked = rmeans.withColumn("rn", F.row_number().over(rk))
    lo_rank, hi_rank = 1, int(0.975 * BOOT_B)  # 1 and 39 at B=40
    ci = ranked.groupBy("event_type").agg(
        F.max(F.when(F.col("rn") == lo_rank, F.col("rmean"))).alias("boot_lo"),
        F.max(F.when(F.col("rn") == hi_rank, F.col("rmean"))).alias("boot_hi"),
    )
    point = e.groupBy("event_type").agg(r6(F.avg("value")).alias("mean_value"))
    return point.join(ci, "event_type").select(
        "event_type", "mean_value", "boot_lo", "boot_hi"
    )


def x168_jackknife_sources(spark, sf_dir):
    """Leave-one-source-out jackknife: how much does dropping any single
    source move the corpus mean document length?

    Closed form off ONE aggregation: per-source (n, sum) plus the grand
    totals give every leave-one-out mean as (S - s_i) / (N - n_i) —
    integer-exact until the final division.  The influence audit that
    catches a corpus dominated by one source.  |sources| rows end to
    end; a 100 TB corpus pays one partial-agg scan.
    """
    d = T(spark, sf_dir, "documents").select("source", "n_chars")
    per = d.groupBy("source").agg(
        F.count("*").alias("n_s"), F.sum("n_chars").alias("sum_s")
    )
    tot = per.agg(F.sum("n_s").alias("n"), F.sum("sum_s").alias("s"))
    return per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_s",
        r6(F.col("sum_s") / F.col("n_s").cast("double")).alias("source_mean"),
        r6((F.col("s") - F.col("sum_s")) / (F.col("n") - F.col("n_s")).cast("double")).alias(
            "loo_mean"
        ),
        r6(
            (F.col("s") - F.col("sum_s")) / (F.col("n") - F.col("n_s")).cast("double")
            - F.col("s") / F.col("n").cast("double")
        ).alias("loo_delta"),
    )


def x169_effective_sample_size(spark, sf_dir):
    """Importance-weighting diagnostic: effective sample size per source.

    With per-doc weight w = n_chars, ESS = (Σw)² / Σw² — how many
    equal-weight documents the weighted set is worth.  ESS/n near 1 ⇒
    weights are flat; near 1/n ⇒ one document dominates (a selection or
    mixture-weighting red flag).  Integer sums (exact) until the final
    ratios; |sources| rows from one partial-agg scan.
    """
    d = T(spark, sf_dir, "documents").select("source", "n_chars")
    agg = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("w_sum"),
        F.sum(F.col("n_chars") * F.col("n_chars")).alias("w2_sum"),
    )
    ess = (F.col("w_sum") * F.col("w_sum")) / F.col("w2_sum").cast("double")
    return agg.select(
        "source",
        "n_docs",
        r6(ess).alias("ess"),
        r6(ess / F.col("n_docs").cast("double")).alias("ess_ratio"),
    )


#: x170 — BPE merge-training rounds.
BPE_ROUNDS = 5


def x170_bpe_merges(spark, sf_dir):
    """Learn 5 word-level BPE merge rules over the corpus.

    The full iterative BPE training loop (count adjacent pairs → take
    the most frequent → merge greedily → repeat), distributed:
    operators/tokenizer.py:learn_merges encodes each document's symbol
    sequence as a double-bar delimiter string so the merge step is a
    plain literal replace (overlap-safe, greedy left-to-right — the
    reference BPE semantics) and the learned rule enters the next round
    as a broadcast 1-row relation.  No UDF, no driver collect.

    100 TB: per round one map-side-combined pair-count shuffle + a
    1-row TakeOrderedAndProject; sequences persist between rounds so
    round r never replays rounds 1..r-1.
    """
    from social_warner_spark.operators.tokenizer import learn_merges

    return learn_merges(T(spark, sf_dir, "documents"), rounds=BPE_ROUNDS)


def _bpe_oracle(rounds: int) -> str:
    parts = [
        "WITH seq0 AS (SELECT doc_id, '||' || array_to_string("
        "string_split(trim(text), ' '), '||') || '||' AS s "
        "FROM documents WHERE trim(text) != '')"
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"tks{r} AS (SELECT string_split(trim(s, '|'), '||') AS t FROM seq{r - 1})"
        )
        parts.append(
            f"ex{r} AS (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i FROM tks{r})"
        )
        parts.append(
            f"best{r} AS (SELECT t[i] AS p1, t[i + 1] AS p2, COUNT(*) AS n "
            f"FROM ex{r} GROUP BY 1, 2 ORDER BY n DESC, p1, p2 LIMIT 1)"
        )
        if r < rounds:
            parts.append(
                f"seq{r} AS (SELECT doc_id, "
                f"replace(s, '|' || b.p1 || '||' || b.p2 || '|', "
                f"'|' || b.p1 || chr(1) || b.p2 || '|') AS s "
                f"FROM seq{r - 1}, best{r} b)"
            )
    union = "\nUNION ALL\n".join(
        f"SELECT {r} AS round, p1, p2, CAST(n AS BIGINT) AS n FROM best{r}"
        for r in range(1, rounds + 1)
    )
    return ",\n".join(parts) + "\n" + union


def x171_bpe_encode(spark, sf_dir):
    """Apply the 5 learned BPE merges (x170's loop) to the corpus and
    report per-document compression: symbol count before/after and the
    number of merge applications.  The train→encode round trip of the
    tokenizer family (x109 fertility measures a FIXED vocab; here the
    vocab is learned from this corpus).

    Plan: the x170 training lineage plus one narrow re-split — merge
    application stays a literal replace against broadcast 1-row rules,
    so encoding adds zero shuffles beyond training's pair counts.
    """
    from social_warner_spark.operators.tokenizer import encoded_lengths

    return encoded_lengths(T(spark, sf_dir, "documents"), rounds=BPE_ROUNDS)


def _bpe_encode_oracle(rounds: int) -> str:
    parts = [
        "WITH seq0 AS (SELECT doc_id, '||' || array_to_string("
        "string_split(trim(text), ' '), '||') || '||' AS s "
        "FROM documents WHERE trim(text) != '')"
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"tks{r} AS (SELECT string_split(trim(s, '|'), '||') AS t FROM seq{r - 1})"
        )
        parts.append(
            f"ex{r} AS (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i FROM tks{r})"
        )
        parts.append(
            f"best{r} AS (SELECT t[i] AS p1, t[i + 1] AS p2, COUNT(*) AS n "
            f"FROM ex{r} GROUP BY 1, 2 ORDER BY n DESC, p1, p2 LIMIT 1)"
        )
        parts.append(
            f"seq{r} AS (SELECT doc_id, "
            f"replace(s, '|' || b.p1 || '||' || b.p2 || '|', "
            f"'|' || b.p1 || chr(1) || b.p2 || '|') AS s "
            f"FROM seq{r - 1}, best{r} b)"
        )
    final = (
        f"SELECT d.doc_id, "
        f"CAST(len(string_split(trim(d.text), ' ')) AS INT) AS n_before, "
        f"CAST(len(string_split(trim(q.s, '|'), '||')) AS INT) AS n_after, "
        f"CAST(len(string_split(trim(d.text), ' ')) "
        f"- len(string_split(trim(q.s, '|'), '||')) AS INT) AS n_merged "
        f"FROM documents d JOIN seq{rounds} q ON d.doc_id = q.doc_id "
        f"WHERE trim(d.text) != ''"
    )
    return ",\n".join(parts) + "\n" + final


#: x172 — KS test: sqrt(-ln(alpha/2)/2) for alpha = 0.05.
KS_COEF = 1.3581015157406195


def x172_ks_drift(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov drift test: each source's document
    length distribution vs the REST of the corpus.

    KS = sup |F_s(v) - F_rest(v)| over the value grid; a source whose
    lengths are distributed differently from everyone else's (truncated
    crawl, boilerplate feed, wrong segmenter) exceeds the alpha=0.05
    critical value c(alpha)*sqrt((n+m)/(n*m)).  The nonparametric twin
    of x150's parametric change-point machinery, applied across sources
    instead of across time.

    Plan: one (source, value) count agg, then everything lives on the
    |values| x |sources| grid — bounded by the value DOMAIN (document
    lengths), never by corpus size.  Cumulative sums are per-source
    windows over that grid; one final max per source.  100 TB: the only
    corpus-sized operation is the first partial-agg count.
    """
    d = T(spark, sf_dir, "documents").select("source", F.col("n_chars").alias("v"))
    counts = d.groupBy("source", "v").agg(F.count("*").alias("c"))
    vals = counts.select("v").distinct()
    per_src = counts.groupBy("source").agg(F.sum("c").alias("n_s"))
    grand = per_src.agg(F.sum("n_s").alias("n"))
    grid = vals.crossJoin(F.broadcast(per_src)).join(counts, ["source", "v"], "left")
    gv = counts.groupBy("v").agg(F.sum("c").alias("c_all"))
    grid = grid.join(F.broadcast(gv), "v").crossJoin(F.broadcast(grand))
    w = Window.partitionBy("source").orderBy("v")
    wall = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum_s = F.sum(F.coalesce(F.col("c"), F.lit(0))).over(w)
    stepped = grid.select(
        "source",
        "v",
        "n_s",
        "n",
        cum_s.alias("cs"),
        F.col("c_all").alias("ca"),
    )
    # cumulative of the GLOBAL counts along the value grid (same for
    # every source, computed once on the |values| relation)
    gcum = (
        gv.select("v", F.sum("c_all").over(wall).alias("cum_all"))
    )
    j = stepped.join(F.broadcast(gcum), "v")
    f_s = F.col("cs") / F.col("n_s").cast("double")
    f_rest = (F.col("cum_all") - F.col("cs")) / (F.col("n") - F.col("n_s")).cast("double")
    ks = j.groupBy("source", "n_s", "n").agg(F.max(F.abs(f_s - f_rest)).alias("ks_raw"))
    crit = F.lit(KS_COEF) * F.sqrt(
        F.col("n").cast("double") / (F.col("n_s") * (F.col("n") - F.col("n_s"))).cast("double")
    )
    return ks.select(
        "source",
        F.col("n_s").cast("long").alias("n_s"),
        r6(F.col("ks_raw")).alias("ks"),
        r6(crit).alias("ks_crit"),
        (F.col("ks_raw") > crit).alias("drifted"),
    )


#: x173 — Johnson-Lindenstrauss projection: target dims and the
#: deterministic ±1 sign matrix (md5-derived constants, identical
#: literals on both engines by construction).
JL_M = 8
JL_DIM = 64


def _jl_signs() -> list[list[float]]:
    import hashlib

    return [
        [
            1.0 if hashlib.md5(f"jl|{j}|{i}".encode()).hexdigest()[0] >= "8" else -1.0
            for i in range(JL_DIM)
        ]
        for j in range(JL_M)
    ]


JL_SIGNS = _jl_signs()


def x173_jl_distortion(spark, sf_dir):
    """Johnson-Lindenstrauss distance-preservation audit: project 64-dim
    embeddings to 8 dims with a deterministic ±1/sqrt(m) sign matrix and
    measure squared-distance distortion on a systematic pair sample
    (vec_id % 5 == 0 paired with its successor).

    d_proj²/d_orig² per pair, reported as (n_pairs, mean, min, max) —
    the check you run before trusting a projected index: JL says the
    ratio concentrates near 1 as m grows, and a broken projection
    (correlated signs, wrong scale) shows up immediately.

    Plan: the pair join is an equi-join on vec_id+1; projections are
    narrow array folds against LITERAL sign vectors (no matrix
    relation, nothing broadcast).  One row out.  100 TB: cost is the
    pair scan itself; the sign matrix lives in the instruction stream.
    """
    from social_warner_spark.functions.vectors import dot

    e = T(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    a = e.where(F.col("vec_id") % 5 == 0).select(
        F.col("vec_id").alias("ida"), F.col("embedding").alias("ea")
    )
    b = e.select((F.col("vec_id") - 1).alias("ida"), F.col("embedding").alias("eb"))
    pairs = a.join(b, "ida")
    diff = F.zip_with(
        F.col("ea").cast("array<double>"),
        F.col("eb").cast("array<double>"),
        lambda x, y: x - y,
    )
    staged = pairs.select(diff.alias("d"))
    d2 = dot(F.col("d"), F.col("d"))
    projs = [
        dot(F.col("d"), F.array(*[F.lit(v) for v in JL_SIGNS[j]])) for j in range(JL_M)
    ]
    dp2_acc = projs[0] * projs[0]
    for p in projs[1:]:
        dp2_acc = dp2_acc + p * p
    dp2 = dp2_acc / F.lit(float(JL_M))
    ratios = staged.select(d2.alias("d2"), dp2.alias("dp2")).where(F.col("d2") > 0)
    r = F.col("dp2") / F.col("d2")
    return ratios.agg(
        F.count("*").alias("n_pairs"),
        r6(F.avg(r)).alias("mean_ratio"),
        r6(F.min(r)).alias("min_ratio"),
        r6(F.max(r)).alias("max_ratio"),
    )


def _jl_oracle() -> str:
    lists = [
        "[" + ", ".join(f"{v!r}" for v in JL_SIGNS[j]) + "]" for j in range(JL_M)
    ]
    proj_terms = " + ".join(
        f"list_dot_product(d, {lists[j]}) * list_dot_product(d, {lists[j]})"
        for j in range(JL_M)
    )
    return f"""
        WITH pairs AS (
            SELECT a.vec_id AS ida,
                   list_transform(generate_series(1, {JL_DIM}),
                       i -> CAST(a.embedding[i] AS DOUBLE) - b.embedding[i]) AS d
            FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
            WHERE a.vec_id % 5 = 0
        ), scored AS (
            SELECT list_dot_product(d, d) AS d2,
                   ({proj_terms}) / {float(JL_M)!r} AS dp2
            FROM pairs
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
               ROUND(AVG(dp2 / d2), 6) AS mean_ratio,
               ROUND(MIN(dp2 / d2), 6) AS min_ratio,
               ROUND(MAX(dp2 / d2), 6) AS max_ratio
        FROM scored WHERE d2 > 0
    """


#: x175 — Benford expected first-digit shares (literal log10 values so
#: both engines compare identical constants).
BENFORD = {1: 0.3010299956639812, 2: 0.17609125905568124, 3: 0.12493873660829992, 4: 0.09691001300805642, 5: 0.07918124604762482, 6: 0.06694678963061322, 7: 0.05799194697768673, 8: 0.05115252244738129, 9: 0.04575749056067514}

#: x174 — how many most-atypical users to report.
ATYPICAL_K = 20


def x174_user_typicality(spark, sf_dir):
    """Most atypical users by event-type mix: cosine similarity between
    each user's event-type count vector and the corpus-level type
    distribution; the 20 lowest reported.

    A bot/anomaly screen that needs no fixed vector schema: the cosine
    is computed relationally — sum_t c_ut*p_t over a join with the
    |types|-row global distribution — so a new event type changes no
    code.  Plan: per-(user,type) partial agg, broadcast |types| rows,
    per-user fold, global bottom-k via TakeOrderedAndProject.
    """
    e = T(spark, sf_dir, "events").select("user_id", "event_type")
    ut = e.groupBy("user_id", "event_type").agg(F.count("*").alias("c"))
    gt = e.groupBy("event_type").agg(F.count("*").alias("g"))
    n = gt.agg(F.sum("g").alias("n"))
    p = gt.crossJoin(F.broadcast(n)).select(
        "event_type", (F.col("g") / F.col("n").cast("double")).alias("p")
    )
    pn = p.agg(F.sum(F.col("p") * F.col("p")).alias("p2"))
    per_user = (
        ut.join(F.broadcast(p), "event_type")
        .groupBy("user_id")
        .agg(
            F.sum("c").alias("n_events"),
            F.sum(F.col("c") * F.col("p")).alias("cp"),
            F.sum(F.col("c") * F.col("c")).alias("c2"),
        )
    )
    scored = per_user.crossJoin(F.broadcast(pn)).select(
        "user_id",
        F.col("n_events").cast("long").alias("n_events"),
        r6(
            F.col("cp") / (F.sqrt(F.col("c2").cast("double")) * F.sqrt(F.col("p2")))
        ).alias("cos_typicality"),
    )
    return scored.orderBy("cos_typicality", "user_id").limit(ATYPICAL_K)


def x175_benford_audit(spark, sf_dir):
    """Benford first-digit audit of order totals: observed first-digit
    shares vs log10(1+1/d), with each digit's chi-square contribution.

    The classic fabricated-data screen for financial columns.  Expected
    shares are hardcoded literals (identical in both engines).  One
    partial-agg scan to 9 rows.
    """
    o = T(spark, sf_dir, "orders").where(F.col("o_totalprice") > 0)
    d = o.select(
        F.substring(F.floor("o_totalprice").cast("long").cast("string"), 1, 1)
        .cast("int")
        .alias("digit")
    )
    counts = d.groupBy("digit").agg(F.count("*").alias("n"))
    tot = counts.agg(F.sum("n").alias("total"))
    exp = None
    for dig, share in BENFORD.items():
        c = F.when(F.col("digit") == dig, F.lit(share))
        exp = c if exp is None else exp.when(F.col("digit") == dig, F.lit(share))
    obs = F.col("n") / F.col("total").cast("double")
    return counts.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n",
        r6(obs).alias("obs_share"),
        r6(exp).alias("benford_share"),
        r6(
            F.col("total").cast("double") * (obs - exp) * (obs - exp) / exp
        ).alias("chi2_term"),
    )


#: x176 — greedy set-cover rounds.
SETCOVER_ROUNDS = 3


def x176_source_set_cover(spark, sf_dir):
    """Greedy set-cover source selection: which 3 sources together cover
    the most distinct 3-gram shingles?

    The classic (1-1/e)-approximate greedy: each round picks the source
    with the largest MARGINAL coverage (distinct shingles not covered by
    earlier picks; ties by source name), reporting per round the pick,
    its marginal gain, and cumulative coverage — the data-portfolio
    question ("which feeds buy the most diversity?") answered exactly.

    Plan (round-3 rewrite, measured faster than the anti-join pool):
    ONE persisted (shingle → sorted source-set array) relation — the
    inverted index of the cover problem.  Each round scans it once:
    shingles already covered by an earlier pick are dropped with an
    ``array_contains`` filter against the broadcast 1-row pick
    relations (no join on the shingle key, no remaining-pool
    materialization), the survivors explode to (sh, source) for the
    marginal count, and the argmax is a 1-row TakeOrderedAndProject.
    Cumulative coverage needs NO extra scan: greedy marginals are
    disjoint, so cum_r = Σ m_1..m_r — a crossJoin of the 1-row picks.
    Like x170's loop, every data-dependent value flows forward as a
    broadcast 1-row relation — no driver collect.
    """
    from social_warner_spark.caching import register_persisted
    from social_warner_spark.functions.text import shingles_from_tokens, tokens

    # Tokens are STAGED into a column before the explode (the dedup.py
    # pattern): inlining tokens() into the shingle lambda re-splits the
    # text once per shingle (measured 8.7s -> 0.9s on this build at
    # sf0.1).  The explicit .distinct() is gone too — collect_set already
    # deduplicates sources per shingle, so it was a redundant shuffle.
    staged = T(spark, sf_dir, "documents").select(
        "source", tokens(F.col("text")).alias("_toks")
    )
    cover = register_persisted(
        staged.select(
            "source", F.explode(shingles_from_tokens(F.col("_toks"), 3)).alias("sh")
        )
        .groupBy("sh")
        .agg(F.sort_array(F.collect_set("source")).alias("srcs"))
        .persist()
    )
    picks: list = []
    outs = []
    for r in range(1, SETCOVER_ROUNDS + 1):
        pool = cover
        for i, p in enumerate(picks):
            pool = pool.crossJoin(
                F.broadcast(p.select(F.col("source").alias(f"_p{i}")))
            ).where(~F.array_contains(F.col("srcs"), F.col(f"_p{i}")))
        best = register_persisted(
            pool.select(F.explode("srcs").alias("source"))
            .groupBy("source")
            .agg(F.count("*").alias("m"))
            .orderBy(F.desc("m"), "source")
            .limit(1)
            .persist()
        )
        picks.append(best)
        cum = None
        for i, p in enumerate(picks):
            c = F.broadcast(p.select(F.col("m").alias(f"_m{i}")))
            cum = c if cum is None else cum.crossJoin(c)
        cum = cum.select(
            sum((F.col(f"_m{i}") for i in range(len(picks))), F.lit(0)).alias(
                "cum_covered"
            )
        )
        outs.append(
            best.select(
                F.lit(r).alias("round"), "source", F.col("m").alias("marginal_new")
            ).crossJoin(cum)
        )
    from functools import reduce
    from pyspark.sql import DataFrame

    return reduce(DataFrame.unionAll, outs)


def _setcover_oracle(rounds: int) -> str:
    parts = [
        "WITH ss AS (SELECT DISTINCT source, "
        "t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh "
        "FROM (SELECT source, string_split(trim(text), ' ') AS t FROM documents) toks, "
        "UNNEST(range(1, len(t) - 1)) AS u(i) WHERE len(t) >= 3)"
    ]
    pool_prev = "ss"
    for r in range(1, rounds + 1):
        parts.append(
            f"b{r} AS (SELECT source, COUNT(*) AS m FROM {pool_prev} "
            f"GROUP BY source ORDER BY m DESC, source LIMIT 1)"
        )
        parts.append(
            f"new{r} AS (SELECT sh FROM {pool_prev} JOIN b{r} USING (source))"
        )
        parts.append(
            f"cov{r} AS ("
            + " UNION ALL ".join(f"SELECT sh FROM new{k}" for k in range(1, r + 1))
            + ")"
        )
        parts.append(
            f"pool{r} AS (SELECT p.source, p.sh FROM {pool_prev} p "
            f"ANTI JOIN b{r} USING (source) ANTI JOIN new{r} USING (sh))"
        )
        pool_prev = f"pool{r}"
    union = "\nUNION ALL\n".join(
        f"SELECT {r} AS round, source, CAST(m AS BIGINT) AS marginal_new, "
        f"(SELECT CAST(COUNT(*) AS BIGINT) FROM cov{r}) AS cum_covered FROM b{r}"
        for r in range(1, rounds + 1)
    )
    return ",\n".join(parts) + "\n" + union


def x177_langid_eval(spark, sf_dir):
    """Classifier evaluation of the x3 lang-ID predictor against the
    corpus's ground-truth ``lang`` labels: per true class, support,
    correct count, recall, and the most common WRONG prediction
    ('none' when the class is perfectly predicted).

    The eval-harness shape every model-adjacent pipeline needs —
    confusion aggregation plus a per-class argmax over errors — done
    relationally.  Plan: the predictor is a narrow map (x3); one
    (truth, pred) count agg, then |classes|²-bounded rollups.
    """
    from social_warner_spark.queries.x_series import x3_lang_id

    pred = x3_lang_id(spark, sf_dir).select("doc_id", "pred_lang")
    truth = T(spark, sf_dir, "documents").select("doc_id", "lang")
    conf = (
        truth.join(pred, "doc_id")
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n"))
    )
    per_class = conf.groupBy("lang").agg(
        F.sum("n").alias("support"),
        F.sum(F.when(F.col("pred_lang") == F.col("lang"), F.col("n")).otherwise(0)).alias(
            "n_correct"
        ),
    )
    wrong = conf.where(F.col("pred_lang") != F.col("lang"))
    w = Window.partitionBy("lang").orderBy(F.desc("n"), "pred_lang")
    top_wrong = (
        wrong.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("lang", F.col("pred_lang").alias("top_confused"))
    )
    return per_class.join(top_wrong, "lang", "left").select(
        "lang",
        "support",
        "n_correct",
        r6(F.col("n_correct") / F.col("support").cast("double")).alias("recall"),
        F.coalesce(F.col("top_confused"), F.lit("none")).alias("top_confused"),
    )


def x178_twopass_median(spark, sf_dir):
    """Exact median of l_extendedprice by the two-pass locate-and-rank
    recipe (operators/sketch.py:twopass_median): bucket counts locate
    the middle ranks, then only the target bucket sorts — the scale
    path for EXACT quantiles where percentile_cont's global sort dies.
    Oracle: DuckDB's interpolating median over the same column.
    """
    from social_warner_spark.operators.sketch import twopass_median

    return twopass_median(T(spark, sf_dir, "lineitem"), "l_extendedprice")


#: x179 — report subtree totals for the top 4 levels (node ids 1..15).
SUBTREE_TOP_IDS = 15


def x179_subtree_rollup(spark, sf_dir):
    """Subtree aggregation up a hierarchy: per ancestor, the count and
    value total over ALL descendants (self included) — org-chart /
    category-tree rollups, done without recursion support.

    The hierarchy is the implicit binary tree over part keys
    (parent = node // 2) — and that definition is problem knowledge the
    optimizer cannot see (r10, guide §8): a node's ancestor set is
    EXACTLY {node >> k : k ≥ 0, node >> k ≥ 1}, in closed form.  The
    closure therefore generates as one explode of the per-node shift
    sequence (bit-length terms, no distinct needed — the shifts
    strictly decrease) instead of the previous 5 pointer-doubling
    rounds of self-join + distinct + eager checkpoint.  The generic-
    topology doubling device remains demonstrated by x100 (depth) and
    x203; this query keeps the rollup semantics with the scale shape
    the closed form earns: ZERO iterative shuffles, one partial-
    aggregated explode→agg, and the top-IDs filter applied BEFORE the
    aggregation (it is a filter on the group key, so the result is
    unchanged while the shuffle carries only the reported groups).

    Previous doubling form closed paths to depth 2^5 = 32; the closed
    form closes to FULL depth like the recursive-CTE oracle — identical
    for every input with ids below 2^33, i.e. both test and production
    scales (and beyond 2^33 the closed form is the CORRECT one).

    100 TB: closure size is Σ bitlen(n) ≈ N·log N rows of two longs,
    but post-filter only ≈ |TOP|·N/1 survive the WHERE; one shuffle.
    Oracle: recursive CTE.
    """
    nodes = T(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("node"), F.col("p_retailprice").alias("val")
    )
    anc = F.expr(
        "explode(transform(sequence(0, length(conv(node, 10, 2)) - 1),"
        " k -> shiftright(node, k)))"
    ).alias("anc")
    sub = (
        nodes.select("node", "val", anc)
        .where(F.col("anc") <= SUBTREE_TOP_IDS)
        .groupBy("anc")
        .agg(F.count("*").alias("subtree_n"), F.sum("val").alias("s"))
    )
    return sub.select(
        F.col("anc").alias("node"),
        F.col("subtree_n").cast("long").alias("subtree_n"),
        r2(F.col("s")).alias("subtree_value"),
    )


#: x180 — sorted-neighborhood window size and verify threshold.
SN_WINDOW = 3
SN_MAXDIST = 12
SN_PREFIX = 40


def x180_sorted_neighborhood(spark, sf_dir):
    """Sorted-neighborhood record linkage: sort the corpus by a blocking
    key (lang, n_chars, doc_id) and generate candidate pairs from the
    ``SN_WINDOW`` FOLLOWING rows via lead() — no self-join at all — then
    verify with exact Levenshtein on 40-char prefixes.

    The classic alternative to hash blocking (x38): hash blocks miss
    near-boundary records (n_chars 99 vs 101 land in different blocks);
    the sorted neighborhood catches them because closeness in SORT
    ORDER, not block identity, generates the candidates.

    Plan (r05: distributed total order via operators/ordered.py): the
    corpus is range-partitioned on the sort key; per-partition lead()
    emits interior neighbors and partition tails are completed from a
    broadcast successor stream (first w rows of each later partition, a
    P·w boundary relation) — NO single-partition sort anywhere.
    Candidate volume is exactly n×w by construction, immune to block
    skew; Levenshtein is a narrow map.
    """
    from social_warner_spark.operators.ordered import with_global_lead_structs

    d = T(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars", F.substring("text", 1, SN_PREFIX).alias("pfx")
    )
    staged = with_global_lead_structs(
        d, ["lang", "n_chars", "doc_id"], ["doc_id", "pfx"], SN_WINDOW, "_nbs"
    )
    pairs = staged.select(
        "doc_id", "pfx", F.explode("_nbs").alias("nb")
    ).where(F.col("nb.doc_id").isNotNull())
    return pairs.select(
        F.col("doc_id").alias("doc_id_a"),
        F.col("nb.doc_id").alias("doc_id_b"),
        F.levenshtein(F.col("pfx"), F.col("nb.pfx")).alias("dist"),
    ).where(F.col("dist") <= SN_MAXDIST)


def x181_budget_waterfill(spark, sf_dir):
    """Water-filling token-budget allocation: split a global budget
    (95% of the corpus's tokens) across sources so that every source gets
    min(its supply, a common level L), with L chosen so the allocations
    exactly exhaust the budget — the max-min-fair split used when
    capping over-represented sources in a training mix.

    Closed form over the supply ORDER: sort sources by supply
    ascending; a source saturates iff s_i·(k-i+1) ≤ B - prefix_{i-1}
    (all-integer test, engine-exact); the last saturating index j gives
    L = (B - prefix_j)/(k - j) for everyone above.  x42 selects under a
    budget, x52 caps at a fixed quota — this computes the FAIR cap
    itself.

    Plan: one token-count agg to |sources| rows; everything after is
    windows on that tiny relation + a broadcast 1-row (j, L).
    """
    from social_warner_spark.functions.text import token_count_ws

    d = T(spark, sf_dir, "documents").select(
        "source", token_count_ws(F.col("text")).alias("t")
    )
    sup = d.groupBy("source").agg(F.sum("t").alias("s"))
    tot = sup.agg(
        F.floor(F.sum("s") * 19 / 20).cast("long").alias("b"), F.count("*").alias("k")
    )
    w = Window.orderBy("s", "source")
    ranked = (
        sup.crossJoin(F.broadcast(tot))
        .withColumn("i", F.row_number().over(w))
        .withColumn(
            "prefix", F.coalesce(F.sum("s").over(w.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0))
        )
    )
    sat = F.col("s") * (F.col("k") - F.col("i") + 1) <= F.col("b") - F.col("prefix")
    flagged = ranked.withColumn("sat", sat)
    jl = flagged.agg(
        F.max(F.when(F.col("sat"), F.col("i"))).alias("j"),
        F.max(F.when(F.col("sat"), F.col("prefix") + F.col("s"))).alias("pj"),
    ).select(
        F.coalesce(F.col("j"), F.lit(0)).alias("j"),
        F.coalesce(F.col("pj"), F.lit(0)).alias("pj"),
    )
    out = flagged.crossJoin(F.broadcast(jl)).select(
        "source",
        F.col("s").cast("long").alias("supply"),
        F.col("sat").alias("saturated"),
        F.round(
            F.when(F.col("sat"), F.col("s").cast("double")).otherwise(
                (F.col("b") - F.col("pj")) / (F.col("k") - F.col("j")).cast("double")
            ),
            6,
        ).alias("allocation"),
    )
    return out


#: x182 — minimum trials for the prior fit, and report size.
EB_MIN_TRIALS = 5
EB_TOP = 20


def x182_eb_shrinkage(spark, sf_dir):
    """Empirical-Bayes shrinkage of per-user conversion rates
    (purchases per view): fit a beta prior by method of moments on the
    raw rates, then report the 20 users whose rate moves most under
    shrinkage — small-sample users snap toward the prior, high-volume
    users barely move.

    The estimator every per-entity rate dashboard should use instead of
    raw ratios: p̂_i = (s_i + α)/(n_i + α + β) with α+β = m(1−m)/v − 1.
    Plan: one per-user conditional-count agg; the prior is a broadcast
    1-row moment fit; ranking is a TakeOrderedAndProject on the rounded
    shrink distance.
    """
    e = T(spark, sf_dir, "events").select("user_id", "event_type")
    per = e.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("n"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("s"),
    ).where(F.col("n") >= EB_MIN_TRIALS)
    rated = per.select("user_id", "n", "s", (F.col("s") / F.col("n").cast("double")).alias("p"))
    prior = rated.agg(F.avg("p").alias("m"), F.var_samp("p").alias("v")).select(
        "m", (F.col("m") * (1 - F.col("m")) / F.col("v") - 1).alias("kk")
    ).select((F.col("m") * F.col("kk")).alias("alpha"), ((1 - F.col("m")) * F.col("kk")).alias("beta"))
    shrunk = rated.crossJoin(F.broadcast(prior)).select(
        "user_id",
        F.col("n").cast("long").alias("n_views"),
        F.col("s").cast("long").alias("n_purchases"),
        r6(F.col("p")).alias("raw_rate"),
        r6(
            (F.col("s") + F.col("alpha"))
            / (F.col("n") + F.col("alpha") + F.col("beta"))
        ).alias("shrunk_rate"),
    )
    delta = F.abs(F.col("raw_rate") - F.col("shrunk_rate"))
    return (
        shrunk.withColumn("shift", F.round(delta, 6))
        .orderBy(F.desc("shift"), "user_id")
        .limit(EB_TOP)
    )


#: x183 — survival curve report length.
KM_TOP_TIMES = 50


def x183_kaplan_meier(spark, sf_dir):
    """Kaplan-Meier survival estimator for view→purchase conversion
    time, with right-censoring: users who never purchase after their
    first view are censored at their last observed event.

    S(t) = Π_{tᵢ ≤ t} (1 − dᵢ/nᵢ) over event times — computed as
    exp(Σ ln(1 − dᵢ/nᵢ)) with a cumulative window, which is how a
    product distributes.  The first 50 event times are reported with
    the at-risk count, events, and survival (times in exact integer
    microseconds — second-granularity truncation differs between
    engines).  The standard
    time-to-event tool (churn, conversion latency) that a naive
    "average time to purchase" gets wrong by ignoring censoring.

    Plan: per-user firsts/lasts (one user-keyed agg chain), then
    everything lives on the |distinct durations| grid: risk counts via
    cumulative windows, survival via the log-sum window.
    """
    e = T(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    t0 = e.where(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("t0")
    )
    conv = (
        e.where(F.col("event_type") == "purchase")
        .join(t0, "user_id")
        .where(F.col("ts") > F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("tc"))
    )
    last = e.groupBy("user_id").agg(F.max("ts").alias("tl"))
    subj = (
        t0.join(conv, "user_id", "left")
        .join(last, "user_id")
        .select(
            # events.ts is TIMESTAMP_NTZ — timestampdiff handles both flavors
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
    cells = subj.groupBy("dur").agg(
        F.sum("ev").alias("d"), F.count("*").alias("c")
    )
    n = cells.agg(F.sum("c").alias("n"))
    w = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, -1)
    wcum = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, 0)
    risk = (
        cells.crossJoin(F.broadcast(n))
        .withColumn("n_risk", F.col("n") - F.coalesce(F.sum("c").over(w), F.lit(0)))
        .where(F.col("d") > 0)
    )
    # d == n_risk (everyone remaining converts) drives S to exactly 0 —
    # guard the log and latch the zero with a cumulative flag.
    term = F.when(
        F.col("d") < F.col("n_risk"),
        F.log(1 - F.col("d") / F.col("n_risk").cast("double")),
    ).otherwise(F.lit(0.0))
    zeroed = F.max((F.col("d") == F.col("n_risk")).cast("int")).over(wcum)
    surv = risk.withColumn(
        "s",
        F.when(zeroed == 1, F.lit(0.0)).otherwise(F.exp(F.sum(term).over(wcum))),
    )
    return (
        surv.orderBy("dur")
        .limit(KM_TOP_TIMES)
        .select(
            F.col("dur").alias("t_us"),
            F.col("n_risk").cast("long").alias("n_risk"),
            F.col("d").cast("long").alias("d_events"),
            r6(F.col("s")).alias("survival"),
        )
    )


#: x184 — positive class boundary (label >= 5).
AUC_POS_MIN = 5


def x184_rank_auc(spark, sf_dir):
    """Rank-based AUC (= Mann-Whitney U) of embedding component 1 as a
    classifier score for label ≥ 5, with average ranks for ties and the
    tie-corrected normal-approximation z — the exact nonparametric
    separability statistic, no threshold sweep.

    AUC = (Σ_pos r̄ − n₁(n₁+1)/2) / (n₁·n₀); the rank-sum twin of the
    KS machinery (x172 compares distributions; this scores a ranking).
    Plan (r05): ranks come from the DISTINCT-SCORE cumulative relation
    via the distributed prefix sum (operators/ordered.py) — every tie
    group shares avg rank cum_before + (t+1)/2, so Σ_pos r̄ = Σ_groups
    ysum·r̄ exactly (half-integer arithmetic, bit-identical to the
    per-row global rank window this replaces).  No single-partition
    sort; the windowed relation is |distinct scores| grouped first.
    """
    from social_warner_spark.operators.ordered import with_grouped_cumsum

    e = T(spark, sf_dir, "embeddings").select(
        (F.col("label") >= AUC_POS_MIN).cast("int").alias("y"),
        F.element_at(F.col("embedding").cast("array<double>"), 1).alias("score"),
    )
    per_score = e.groupBy("score").agg(
        F.count("*").alias("t"), F.sum("y").alias("ys")
    )
    cum = with_grouped_cumsum(per_score, [], ["score"], {"cum_t": "t"})
    ranked = cum.select(
        "t",
        "ys",
        ((F.col("cum_t") - F.col("t")) + (F.col("t") + 1) / 2.0).alias("r"),
    )
    agg = ranked.agg(
        F.sum("ys").alias("n1"),
        F.sum(F.col("t") - F.col("ys")).alias("n0"),
        F.sum(F.col("ys") * F.col("r")).alias("rsum"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")).alias("tie3"),
        F.sum("t").alias("n"),
    )
    u = F.col("rsum") - F.col("n1") * (F.col("n1") + 1) / 2.0
    mu = F.col("n1") * F.col("n0") / 2.0
    var = (
        F.col("n1")
        * F.col("n0")
        / 12.0
        * (
            (F.col("n") + 1)
            - F.col("tie3") / (F.col("n") * (F.col("n") - 1.0))
        )
    )
    return agg.select(
        F.col("n1").cast("long").alias("n_pos"),
        F.col("n0").cast("long").alias("n_neg"),
        r6(u / (F.col("n1") * F.col("n0")).cast("double")).alias("auc"),
        r6((u - mu) / F.sqrt(var)).alias("z"),
    )


#: x185 — power-iteration rounds and embedding dimensionality.
POWER_ROUNDS = 5
POWER_DIM = 64
POWER_TOP = 5


def x185_power_iteration(spark, sf_dir):
    """Top eigenvector of the (uncentered) Gram matrix of the embedding
    corpus by POWER ITERATION, formulated fully relationally: the matrix
    G = Σ x·xᵀ is never materialized — each round computes
    w = G·v as two aggregations (per-vector dot d = x·v, then per-dim
    Σ x_j·d) and renormalizes.  Five rounds from the uniform seed;
    output the top-5 loadings (ranked on 6dp |loading|, ties by dim)
    and the eigenvalue estimate λ = |G·v| from the final round.

    The building block of PCA/spectral methods at corpus scale: no
    64×64 matrix on the driver, no linear-algebra library — shuffle
    cost per round is one |vectors|-row and one |dims|-row aggregation.

    Each round's |dims|-row ``w`` is eagerly localCheckpoint-ed: the
    lineage cut keeps the five-round plan at ~1 round's Exchange count
    instead of compounding (the x203 k-core lesson); on a cluster,
    reliable ``checkpoint()`` is the fault-tolerant variant.
    """
    rows = (
        T(spark, sf_dir, "embeddings")
        .select("vec_id", F.posexplode(F.col("embedding").cast("array<double>")).alias("j0", "x"))
        .select("vec_id", (F.col("j0") + 1).alias("j"), "x")
    )
    from social_warner_spark.caching import register_persisted

    rows = register_persisted(rows.persist())
    v = spark.range(1, POWER_DIM + 1).select(
        F.col("id").alias("j"), F.lit(1.0 / 8.0).alias("v")
    )
    nrm_df = None
    for _ in range(POWER_ROUNDS):
        d = (
            rows.join(v, "j")
            .groupBy("vec_id")
            .agg(F.sum(F.col("x") * F.col("v")).alias("d"))
        )
        w = (
            rows.join(d, "vec_id")
            .groupBy("j")
            .agg(F.sum(F.col("x") * F.col("d")).alias("w"))
        )
        w = w.localCheckpoint(eager=True)
        nrm_df = w.agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
        v = w.crossJoin(F.broadcast(nrm_df)).select(
            "j", (F.col("w") / F.col("nrm")).alias("v")
        )
    ranked = v.crossJoin(F.broadcast(nrm_df)).select(
        "j",
        F.round(F.abs(F.col("v")), 6).alias("a"),
        r6(F.col("v")).alias("loading"),
        r6(F.col("nrm")).alias("lambda"),
    )
    wr = Window.orderBy(F.desc("a"), "j")
    return (
        ranked.withColumn("rk", F.row_number().over(wr))
        .where(F.col("rk") <= POWER_TOP)
        .select(F.col("rk").cast("int").alias("rk"), F.col("j").cast("long").alias("j"), "loading", "lambda")
    )


def _power_oracle(rounds: int) -> str:
    parts = [
        f"WITH rows_ AS (SELECT vec_id, u.i AS j, CAST(embedding[u.i] AS DOUBLE) AS x "
        f"FROM embeddings, UNNEST(range(1, {POWER_DIM + 1})) AS u(i)),\n"
        f"v0 AS (SELECT u.i AS j, 0.125 AS v FROM UNNEST(range(1, {POWER_DIM + 1})) AS u(i))"
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"d{r} AS MATERIALIZED (SELECT vec_id, SUM(x * v) AS d FROM rows_ JOIN v{r - 1} USING (j) GROUP BY vec_id)"
        )
        parts.append(
            f"w{r} AS MATERIALIZED (SELECT j, SUM(x * d) AS w FROM rows_ JOIN d{r} USING (vec_id) GROUP BY j)"
        )
        parts.append(f"n{r} AS MATERIALIZED (SELECT sqrt(SUM(w * w)) AS nrm FROM w{r})")
        parts.append(f"v{r} AS MATERIALIZED (SELECT j, w / nrm AS v FROM w{r}, n{r})")
    final = (
        f"SELECT CAST(ROW_NUMBER() OVER (ORDER BY ROUND(ABS(v), 6) DESC, j) AS INT) AS rk,\n"
        f"       CAST(j AS BIGINT) AS j, ROUND(v, 6) AS loading, ROUND(nrm, 6) AS lambda\n"
        f"FROM v{rounds}, n{rounds}\n"
        f"QUALIFY rk <= {POWER_TOP}"
    )
    return ",\n".join(parts) + "\n" + final


#: x186 — DP epsilon (Laplace scale b = sensitivity/epsilon = 1).
DP_EPS = 1.0


def x186_dp_noisy_counts(spark, sf_dir):
    """Differentially-private count release for per-event-type counts:
    Laplace(1/ε) noise via the inverse CDF applied to a deterministic
    md5 uniform per key (so the release is reproducible and both
    engines add the identical noise), with the true count, the released
    noisy count, and the absolute error side by side.

    ε = 1, sensitivity 1 (a user adds ≤1 to a type's count per event —
    the event-level adjacency used in DP analytics releases).  The
    utility-vs-privacy audit shape: counts this small-K release barely
    moves; rare-slice releases would drown.  Plan: one partial-agg
    scan to |types| rows; noise is a narrow map on those rows.
    """
    e = T(spark, sf_dir, "events").groupBy("event_type").agg(F.count("*").alias("n"))
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("dp|"), F.col("event_type"))), 1, 8), 16, 10
        ).cast("double")
        + 1.0
    ) / F.lit(4294967296.0)
    uu = u - 0.5
    b = 1.0 / DP_EPS
    noise = -F.lit(b) * F.signum(uu) * F.log(1 - 2 * F.abs(uu))
    noisy = F.col("n") + noise
    return e.select(
        "event_type",
        F.col("n").cast("long").alias("true_count"),
        r6(noisy).alias("noisy_count"),
        r6(F.abs(noisy - F.col("n"))).alias("abs_err"),
    )


#: x187 — Heaps-law curve: bucket the corpus into this many doc-ordered
#: checkpoints.
HEAPS_BUCKETS = 20


def x187_heaps_law(spark, sf_dir):
    """Heaps'-law fit of vocabulary growth: V(N) ≈ K·N^β, estimated by
    OLS on log V vs log N over 20 doc-ordered checkpoints.

    Each token's FIRST document (min doc_id — the x67 novelty device)
    marks where it enters the vocabulary; cumulative token and
    first-seen counts at each checkpoint give the (N, V) curve, and
    regr_slope/regr_intercept on the logs give β and ln K.  The
    corpus scaling-law diagnostic: β far from the 0.4–0.6 web-text
    band flags synthetic or truncated vocabulary.

    Plan: one token explode → (first-seen agg + per-doc counts), then
    everything lives on |docs|- and |buckets|-row relations.
    """
    d = T(spark, sf_dir, "documents").select("doc_id", tokens(F.col("text")).alias("toks"))
    tok = d.select("doc_id", F.explode("toks").alias("token"))
    first = tok.groupBy("token").agg(F.min("doc_id").alias("fd"))
    new_per_doc = first.groupBy(F.col("fd").alias("doc_id")).agg(
        F.count("*").alias("new_types")
    )
    toks_per_doc = tok.groupBy("doc_id").agg(F.count("*").alias("n_toks"))
    per_doc = toks_per_doc.join(new_per_doc, "doc_id", "left").select(
        "doc_id", "n_toks", F.coalesce("new_types", F.lit(0)).alias("new_types")
    )
    # r05: the three per-doc running stats come from ONE distributed
    # prefix-sum pass (operators/ordered.py) — the |docs| relation never
    # passes through a single-partition sort; the corpus size joins as a
    # broadcast 1-row stat.
    from social_warner_spark.operators.ordered import with_grouped_cumsum

    k1 = per_doc.agg(F.count("*").alias("k"))
    cum = with_grouped_cumsum(
        per_doc.withColumn("_one", F.lit(1).cast("long")),
        [],
        ["doc_id"],
        {"nn": "n_toks", "vv": "new_types", "i": "_one"},
    ).crossJoin(F.broadcast(k1)).select("nn", "vv", "i", "k")
    checkpoints = cum.where(
        (F.col("i") % F.greatest(F.floor(F.col("k") / HEAPS_BUCKETS), F.lit(1)) == 0)
    )
    fit = checkpoints.agg(
        F.count("*").alias("n_points"),
        F.round(F.regr_slope(F.log("vv"), F.log("nn")), 6).alias("beta"),
        F.round(F.regr_intercept(F.log("vv"), F.log("nn")), 6).alias("ln_k"),
    )
    return fit.select(
        F.col("n_points").cast("long").alias("n_points"), "beta", "ln_k"
    )


#: x188 — gradient-descent rounds and learning rate.
GD_ROUNDS = 3
GD_LR = 0.5
GD_TOP = 5


def x188_logreg_gd(spark, sf_dir):
    """Logistic regression by full-batch gradient descent, formulated
    relationally — the x185 pattern applied to a supervised objective:
    each round computes margins (join+agg per vector), sigmoids,
    and the gradient g_j = Σ x_j·(y−p)/n (join+agg per dim), then
    steps w ← w + η·g.  Three rounds from w=0 on label ≥ 5; output the
    top-5 |weight| dims and the final mean log-loss.

    No driver-side vectors, no ML library: the weight vector is a
    |dims|-row relation that round r+1 joins against.  Per round one
    |vectors|-row and one |dims|-row aggregation — identical shuffle
    budget to power iteration.
    """
    from social_warner_spark.caching import register_persisted

    rows = (
        T(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            (F.col("label") >= AUC_POS_MIN).cast("int").alias("y"),
            F.posexplode(F.col("embedding").cast("array<double>")).alias("j0", "x"),
        )
        .select("vec_id", "y", (F.col("j0") + 1).alias("j"), "x")
    )
    rows = register_persisted(rows.persist())
    nn = rows.agg(F.count_distinct("vec_id").alias("n"))  # 1-row, broadcast — no collect
    w = spark.range(1, POWER_DIM + 1).select(F.col("id").alias("j"), F.lit(0.0).alias("w"))
    p = None
    for _ in range(GD_ROUNDS):
        m = (
            rows.join(w, "j")
            .groupBy("vec_id", "y")
            .agg(F.sum(F.col("x") * F.col("w")).alias("m"))
        )
        p = register_persisted(
            m.select("vec_id", "y", (1.0 / (1.0 + F.exp(-F.col("m")))).alias("p")).persist()
        )
        g = (
            rows.join(p.select("vec_id", "y", "p"), ["vec_id", "y"])
            .crossJoin(F.broadcast(nn))
            .groupBy("j")
            .agg((F.sum(F.col("x") * (F.col("y") - F.col("p"))) / F.first("n")).alias("g"))
        )
        # |dims|-row weight relation: eager checkpoint cuts the per-round
        # lineage (the x185/x203 pattern) so GD_ROUNDS don't compound.
        w = w.join(g, "j").select(
            "j", (F.col("w") + GD_LR * F.col("g")).alias("w")
        ).localCheckpoint(eager=True)
    loss = p.agg(
        F.round(
            -F.avg(
                F.col("y") * F.log("p") + (1 - F.col("y")) * F.log(1 - F.col("p"))
            ),
            6,
        ).alias("log_loss")
    )
    ranked = w.select(
        "j", F.round(F.abs("w"), 6).alias("a"), r6(F.col("w")).alias("weight")
    )
    wr = Window.orderBy(F.desc("a"), "j")
    return (
        ranked.withColumn("rk", F.row_number().over(wr))
        .where(F.col("rk") <= GD_TOP)
        .crossJoin(F.broadcast(loss))
        .select(
            F.col("rk").cast("int").alias("rk"),
            F.col("j").cast("long").alias("j"),
            "weight",
            "log_loss",
        )
    )


def _logreg_oracle(rounds: int) -> str:
    parts = [
        f"WITH rows_ AS (SELECT vec_id, CASE WHEN label >= {AUC_POS_MIN} THEN 1 ELSE 0 END AS y, "
        f"u.i AS j, CAST(embedding[u.i] AS DOUBLE) AS x "
        f"FROM embeddings, UNNEST(range(1, {POWER_DIM + 1})) AS u(i)),\n"
        f"nn AS (SELECT COUNT(DISTINCT vec_id) AS n FROM rows_),\n"
        f"w0 AS (SELECT u.i AS j, 0.0 AS w FROM UNNEST(range(1, {POWER_DIM + 1})) AS u(i))"
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"m{r} AS (SELECT vec_id, y, SUM(x * w) AS m FROM rows_ JOIN w{r - 1} USING (j) GROUP BY vec_id, y)"
        )
        parts.append(
            f"p{r} AS (SELECT vec_id, y, 1.0 / (1.0 + exp(-m)) AS p FROM m{r})"
        )
        parts.append(
            f"g{r} AS (SELECT j, SUM(x * (y - p)) / nn.n AS g "
            f"FROM rows_ JOIN p{r} USING (vec_id, y), nn GROUP BY j, nn.n)"
        )
        parts.append(
            f"w{r} AS (SELECT j, w + {GD_LR!r} * g AS w FROM w{r - 1} JOIN g{r} USING (j))"
        )
    final = (
        f"SELECT CAST(ROW_NUMBER() OVER (ORDER BY ROUND(ABS(w), 6) DESC, j) AS INT) AS rk,\n"
        f"       CAST(j AS BIGINT) AS j, ROUND(w, 6) AS weight,\n"
        f"       (SELECT ROUND(-AVG(y * ln(p) + (1 - y) * ln(1 - p)), 6) FROM p{rounds}) AS log_loss\n"
        f"FROM w{rounds}\n"
        f"QUALIFY rk <= {GD_TOP}"
    )
    return ",\n".join(parts) + "\n" + final


def x189_cohens_kappa(spark, sf_dir):
    """Cohen's kappa between the x3 lang-ID predictor and the
    ground-truth labels: chance-corrected agreement
    κ = (p_o − p_e)/(1 − p_e), where p_e comes from the marginal
    truth/prediction shares.  The agreement statistic that exposes a
    predictor that looks accurate only because one class dominates —
    the chance-corrected counterpart of x177's recall report.

    Plan: predictor is a narrow map; one (truth, pred) agg; marginals
    are |classes|-row relations joined back.
    """
    from social_warner_spark.queries.x_series import x3_lang_id

    pred = x3_lang_id(spark, sf_dir).select("doc_id", "pred_lang")
    truth = T(spark, sf_dir, "documents").select("doc_id", "lang")
    j = truth.join(pred, "doc_id")
    n = j.agg(F.count("*").alias("n"))
    po = j.agg(
        (F.sum((F.col("pred_lang") == F.col("lang")).cast("int"))).alias("agree")
    )
    tm = j.groupBy("lang").agg(F.count("*").alias("ct"))
    pm = j.groupBy(F.col("pred_lang").alias("lang")).agg(F.count("*").alias("cp"))
    pe = (
        tm.join(pm, "lang")
        .crossJoin(F.broadcast(n))
        .agg(F.sum(F.col("ct") * F.col("cp") / (F.col("n").cast("double") * F.col("n"))).alias("pe"))
    )
    return (
        n.crossJoin(po)
        .crossJoin(pe)
        .select(
            F.col("n").cast("long").alias("n"),
            r6(F.col("agree") / F.col("n").cast("double")).alias("po"),
            r6(F.col("pe")).alias("pe"),
            r6(
                (F.col("agree") / F.col("n").cast("double") - F.col("pe"))
                / (1 - F.col("pe"))
            ).alias("kappa"),
        )
    )


def x190_skyline(spark, sf_dir):
    """2-D skyline (Pareto front) of parts: cheapest-price /
    largest-size tradeoff — every part not DOMINATED by another that is
    both cheaper-or-equal and larger-or-equal (strictly better on one).

    The dominance query behind "best tradeoff" pickers.  The naive form
    is an n² anti-join; in 2-D it collapses to ONE window: sort by
    (price asc, size desc, key) — a part is on the skyline iff its size
    strictly exceeds the running max size of everything sorted before
    it (cheaper, or same price and larger).  Ties on both dims keep the
    smallest key as representative.

    100 TB: one range-partitioned sort, zero joins — the n² dominance
    semantics for the price of an orderBy.
    """
    parts = T(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", F.col("p_size").cast("long").alias("p_size")
    )
    # r05: exclusive running max via the distributed prefix-max
    # (operators/ordered.py) — no single-partition sort of |parts|.
    from social_warner_spark.operators.ordered import with_global_cummax_excl

    flagged = with_global_cummax_excl(
        parts,
        ["p_retailprice", F.desc("p_size"), "p_partkey"],
        "p_size",
        "prevmax",
    )
    sky = flagged.where(
        F.col("prevmax").isNull() | (F.col("p_size") > F.col("prevmax"))
    )
    # dedupe exact (price, size) ties to the smallest key
    wd = Window.partitionBy("p_retailprice", "p_size").orderBy("p_partkey")
    return (
        sky.withColumn("rn", F.row_number().over(wd))
        .where(F.col("rn") == 1)
        .select("p_partkey", r2(F.col("p_retailprice")).alias("price"), "p_size")
    )


def x191_good_turing(spark, sf_dir):
    """Good-Turing coverage estimate for the corpus vocabulary: the
    rarest-count mass estimates how exposed the vocabulary still is to
    unseen types, and r* = (r+1)·S(r+1)/S(r) gives the smoothed
    counts for the six rarest observed count classes — the classical
    answer to "how much vocabulary is
    this corpus still missing", directly relevant to tokenizer and
    mixture sizing.

    Plan: token counts (one explode+agg), count-of-counts S(r) (one
    more |vocab|-row agg), then everything is a ≤6-row relation
    self-joined on r+1.
    """
    tok = T(spark, sf_dir, "documents").select(
        F.explode(tokens(F.col("text"))).alias("token")
    )
    counts = tok.groupBy("token").agg(F.count("*").alias("r"))
    sr = counts.groupBy("r").agg(F.count("*").alias("s"))
    nn = tok.agg(F.count("*").alias("n"))
    # data-adaptive: the 6 SMALLEST observed counts (a synthetic corpus
    # may have no literal singletons; the rare tail is whatever exists)
    wlow = Window.orderBy("r")
    low = sr.withColumn("_rk", F.row_number().over(wlow)).where(F.col("_rk") <= 6).drop("_rk")
    nxt = sr.select((F.col("r") - 1).alias("r"), F.col("s").alias("s_next"))
    return (
        low.join(nxt, "r", "left")
        .crossJoin(F.broadcast(nn))
        .select(
            F.col("r").cast("long").alias("r"),
            F.col("s").cast("long").alias("n_types"),
            r6(
                (F.col("r") + 1) * F.coalesce(F.col("s_next"), F.lit(0)) / F.col("s").cast("double")
            ).alias("r_star"),
            r6(F.col("s") * F.col("r") / F.col("n").cast("double")).alias("mass_share"),
        )
    )


#: x192 — calibration bin width over the marker-ratio confidence.
#: 10 bins of width 0.1 over [0,1]; the LEAST(…, 9) cap only folds the
#: exact-1.0 confidence into the top bin (round-2 advice: the old 0.02
#: width capped at 9 collapsed everything ≥0.18 into one bin).
CAL_BIN_W = 0.1


def x192_calibration(spark, sf_dir):
    """Reliability diagram + expected calibration error for the x3
    lang-ID predictor, using its marker ratio as the confidence score:
    per confidence bin, the mean confidence vs the actual accuracy, and
    the bin's ECE contribution |acc − conf|·n/N.

    Completes the eval-harness family (x177 recall, x189 kappa): a
    predictor can rank well yet be miscalibrated — this is the query
    that shows it.  Plan: narrow predictor map → one bin agg.
    """
    from social_warner_spark.queries.x_series import x3_lang_id

    pred = x3_lang_id(spark, sf_dir)
    truth = T(spark, sf_dir, "documents").select("doc_id", "lang")
    j = truth.join(pred, "doc_id").select(
        F.least(F.floor(F.col("marker_ratio") / CAL_BIN_W), F.lit(9)).cast("int").alias("bin"),
        F.col("marker_ratio").alias("conf"),
        (F.col("pred_lang") == F.col("lang")).cast("int").alias("ok"),
    )
    n = j.agg(F.count("*").alias("nn"))
    return (
        j.groupBy("bin")
        .agg(
            F.count("*").alias("n"),
            F.avg("conf").alias("mean_conf"),
            F.avg("ok").alias("acc"),
        )
        .crossJoin(F.broadcast(n))
        .select(
            "bin",
            F.col("n").cast("long").alias("n"),
            r6(F.col("mean_conf")).alias("mean_conf"),
            r6(F.col("acc")).alias("acc"),
            r6(
                F.abs(F.col("acc") - F.col("mean_conf")) * F.col("n") / F.col("nn").cast("double")
            ).alias("ece_term"),
        )
    )


def x193_adjusted_rand(spark, sf_dir):
    """Adjusted Rand Index between the x3 predicted-language partition
    and the true-language partition — clustering agreement by PAIR
    counting: ARI = (Σᵢⱼ C(nᵢⱼ,2) − E) / (max − E), with E from the
    marginals.  All combinatorics stay integer until the final ratio,
    so the statistic is engine-exact.  The partition-level counterpart
    of x189's per-item kappa.

    Plan: one contingency agg (|classes|² rows) + marginal aggs.
    """
    from social_warner_spark.queries.x_series import x3_lang_id

    pred = x3_lang_id(spark, sf_dir).select("doc_id", "pred_lang")
    truth = T(spark, sf_dir, "documents").select("doc_id", "lang")
    j = truth.join(pred, "doc_id")

    def c2(c):
        return (c * (c - 1) / 2).cast("double")

    cont = j.groupBy("lang", "pred_lang").agg(F.count("*").alias("nij"))
    idx = cont.agg(F.sum(c2(F.col("nij"))).alias("sum_ij"))
    am = j.groupBy("lang").agg(F.count("*").alias("ai")).agg(
        F.sum(c2(F.col("ai"))).alias("sum_a")
    )
    bm = j.groupBy("pred_lang").agg(F.count("*").alias("bj")).agg(
        F.sum(c2(F.col("bj"))).alias("sum_b")
    )
    nn = j.agg(c2(F.count("*")).alias("c2n"), F.count("*").alias("n"))
    e = F.col("sum_a") * F.col("sum_b") / F.col("c2n")
    mx = (F.col("sum_a") + F.col("sum_b")) / 2
    return (
        idx.crossJoin(am)
        .crossJoin(bm)
        .crossJoin(nn)
        .select(
            F.col("n").cast("long").alias("n"),
            r6(F.col("sum_ij")).alias("sum_pairs"),
            r6((F.col("sum_ij") - e) / (mx - e)).alias("ari"),
        )
    )


def x194_corpus_readiness(spark, sf_dir):
    """Round-3 capstone composite: the per-source CORPUS READINESS
    scorecard — one row per source joining five audited signals:

    - n_docs and effective-sample-size ratio (x169 — weight skew);
    - mean duplicated-span fraction (x164 — substring-level dup load;
      docs with no duplicated span count as 0);
    - mean dominant-language share (x165 — code-switch contamination);
    - KS drift statistic + flag vs the rest of the corpus (x172);
    - water-filled fair token allocation + saturation flag (x181).

    The one-table answer to "which feeds are ready for the mix" —
    every column's operator is independently oracle-verified, and the
    composite itself is hash-checked end to end (the x31 flagship
    pattern applied to the round-3 audit family).

    Plan: composes the audited stage plans; per-source relations join
    on the tiny source key, so the composite adds no new shuffle class.
    """
    from social_warner_spark.operators.dedup import duplicated_spans

    docs = T(spark, sf_dir, "documents")

    ess = x169_effective_sample_size(spark, sf_dir).select("source", "n_docs", "ess_ratio")

    spans = duplicated_spans(docs, w=SPAN_W).join(
        docs.select("doc_id", "source"), "doc_id"
    )
    dup = (
        docs.select("source", "doc_id")
        .join(spans.select("doc_id", "dup_frac"), "doc_id", "left")
        .groupBy("source")
        .agg(r6(F.avg(F.coalesce(F.col("dup_frac"), F.lit(0.0)))).alias("mean_dup_frac"))
    )

    mix = (
        x165_mixed_language(spark, sf_dir)
        .join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(r6(F.avg("dom_share")).alias("mean_dom_share"))
    )

    ks = x172_ks_drift(spark, sf_dir).select("source", "ks", "drifted")
    alloc = x181_budget_waterfill(spark, sf_dir).select(
        "source", "allocation", "saturated"
    )

    return (
        ess.join(dup, "source")
        .join(mix, "source")
        .join(ks, "source")
        .join(alloc, "source")
    )


def x195_forecast_backtest(spark, sf_dir):
    """Seasonal-naive forecast backtest on the daily order-revenue
    series: forecast(t) = value(t−7), scored with MAE and MASE (MAE
    scaled by the one-step naive's MAE — the scale-free forecast metric
    of Hyndman & Koehler 2006).  MASE < 1 means weekly seasonality
    carries real signal beyond persistence.

    The evaluation harness for any downstream forecasting job: before
    shipping a model, this is the baseline it must beat.  Plan: one
    date agg → |days| grid; lags are two window columns; one final agg.
    """
    daily = (
        T(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").alias("d"))
        .agg(F.sum("o_totalprice").alias("v"))
    )
    w = Window.orderBy("d")
    lagged = daily.select(
        "d",
        "v",
        F.lag("v", 7).over(w).alias("f_seasonal"),
        F.lag("v", 1).over(w).alias("f_naive"),
    ).where(F.col("f_seasonal").isNotNull() & F.col("f_naive").isNotNull())
    return lagged.agg(
        F.count("*").alias("n_days"),
        r2(F.avg(F.abs(F.col("v") - F.col("f_seasonal")))).alias("mae_seasonal"),
        r2(F.avg(F.abs(F.col("v") - F.col("f_naive")))).alias("mae_naive"),
        r6(
            F.avg(F.abs(F.col("v") - F.col("f_seasonal")))
            / F.avg(F.abs(F.col("v") - F.col("f_naive")))
        ).alias("mase"),
    ).select(F.col("n_days").cast("long").alias("n_days"), "mae_seasonal", "mae_naive", "mase")


def x196_sequence_entropy(spark, sf_dir):
    """Markov predictability of the per-user event sequence: marginal
    next-event entropy H(next) vs conditional entropy H(next | current)
    over the transition matrix, and the information gain between them —
    how many bits the previous event buys a next-event predictor.

    Plan: transitions from one per-user lead() window; both entropies
    live on the |types|² transition-count relation.
    """
    e = T(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = (
        e.withColumn("nxt", F.lead("event_type").over(w))
        .where(F.col("nxt").isNotNull())
        .groupBy(F.col("event_type").alias("cur"), F.col("nxt"))
        .agg(F.count("*").alias("c"))
    )
    tot = tr.agg(F.sum("c").alias("n"))
    cur_tot = tr.groupBy("cur").agg(F.sum("c").alias("cc"))
    nxt_tot = tr.groupBy("nxt").agg(F.sum("c").alias("cn"))
    h_marg = nxt_tot.crossJoin(F.broadcast(tot)).agg(
        (-F.sum(
            (F.col("cn") / F.col("n").cast("double"))
            * F.log2(F.col("cn") / F.col("n").cast("double"))
        )).alias("hm")
    )
    h_cond = (
        tr.join(F.broadcast(cur_tot), "cur")
        .crossJoin(F.broadcast(tot))
        .agg(
            (-F.sum(
                (F.col("c") / F.col("n").cast("double"))
                * F.log2(F.col("c") / F.col("cc").cast("double"))
            )).alias("hc")
        )
    )
    return (
        tot.crossJoin(h_marg)
        .crossJoin(h_cond)
        .select(
            F.col("n").cast("long").alias("n_transitions"),
            r6(F.col("hm")).alias("h_marginal"),
            r6(F.col("hc")).alias("h_conditional"),
            r6(F.col("hm") - F.col("hc")).alias("info_gain"),
        )
    )


#: x197 — CCF lag range.
CCF_MAX_LAG = 3


def x197_cross_correlation(spark, sf_dir):
    """Cross-correlation function between two daily series — order
    count and average order value — at lags −3..+3 days: does volume
    LEAD value (positive-lag correlation) or trail it?

    The lead/lag diagnostic run before any transfer-function or
    causal-impact model.  Plan: one date agg builds both series on the
    |days| grid; each lag is a window-shift column and corr() is a
    single-pass moment aggregate — 7 correlations, one tiny relation.
    The shifted grid is localCheckpoint-ed (r06): the 7 union branches
    each re-ran the full orders aggregation AND the |days| lag window
    before — one |days|-row materialization replaces seven corpus
    scans and the seven audited unpartitioned-window specs.
    """
    daily = (
        T(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").alias("d"))
        .agg(
            F.count("*").cast("double").alias("cnt"),
            (F.sum("o_totalprice") / F.count("*")).alias("aov"),
        )
    )
    w = Window.orderBy("d")
    shifted = daily.select(
        "d",
        "cnt",
        "aov",
        *[
            F.lag("aov", -k if k < 0 else k).over(w).alias(f"aov_m{k}")
            if k >= 0
            else F.lead("aov", -k).over(w).alias(f"aov_m{k}")
            for k in range(-CCF_MAX_LAG, CCF_MAX_LAG + 1)
        ],
    ).localCheckpoint(eager=True)
    rows = []
    for k in range(-CCF_MAX_LAG, CCF_MAX_LAG + 1):
        rows.append(
            shifted.where(F.col(f"aov_m{k}").isNotNull()).agg(
                F.lit(k).alias("lag"),
                F.count("*").cast("long").alias("n_days"),
                r6(F.corr("cnt", f"aov_m{k}")).alias("ccf"),
            )
        )
    from functools import reduce
    from pyspark.sql import DataFrame

    return reduce(DataFrame.unionAll, rows)


#: x198 — priority-sample size.
PRIO_K = 50


def x198_priority_sample(spark, sf_dir):
    """Priority sampling (Duffield-Lund-Thorup 2007): the weighted
    sampling scheme whose k-item sample supports UNBIASED subset-sum
    estimation — each doc gets priority q = w/u (w = n_chars,
    deterministic md5 uniform u), the top-k by priority are kept, and
    every kept item's estimator weight is max(w, tau) with tau the
    (k+1)-th priority.  The query reports the sample size alongside the
    estimated vs true corpus character mass — the estimation property
    A-ES (x72/x166) does not give you.

    Plan: narrow priority map; tau and the true total are broadcast
    1-row relations; top-(k+1) via TakeOrderedAndProject.
    """
    d = T(spark, sf_dir, "documents")
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("ps|"), F.col("doc_id").cast("string"))), 1, 8),
            16,
            10,
        ).cast("double")
        + 1.0
    ) / F.lit(4294967296.0)
    prio = d.select(
        "doc_id",
        F.col("n_chars").cast("double").alias("w"),
        F.round(F.col("n_chars") / u, 6).alias("q"),
    )
    topk1 = prio.orderBy(F.desc("q"), "doc_id").limit(PRIO_K + 1)
    tau = topk1.agg(F.min("q").alias("tau"))
    true_tot = d.agg(F.sum("n_chars").cast("double").alias("true_mass"))
    kept = (
        topk1.crossJoin(F.broadcast(tau))
        .where(F.col("q") > F.col("tau"))
        .select("doc_id", "w", "q", "tau")
    )
    est = kept.groupBy("tau").agg(
        F.count("*").cast("long").alias("k"),
        F.sum(F.greatest(F.col("w"), F.col("tau"))).alias("est_mass"),
    )
    return est.crossJoin(F.broadcast(true_tot)).select(
        "k",
        r6(F.col("tau")).alias("tau"),
        r2(F.col("est_mass")).alias("est_mass"),
        r2(F.col("true_mass")).alias("true_mass"),
        r6(F.col("est_mass") / F.col("true_mass") - 1).alias("rel_err"),
    )


#: x199 — capture-recapture inclusion probability per sweep.
CR_P = 0.3


def x199_capture_recapture(spark, sf_dir):
    """Lincoln-Petersen capture-recapture estimate of the vocabulary
    size from two INDEPENDENT deterministic hash sweeps: sample A keeps
    types with u_a < 0.3, sample B with u_b < 0.3 (independent md5
    streams); N-hat = |A|*|B|/|A∩B|, reported against the true distinct
    count.  The population-estimation trick for "how many X exist"
    when only samples are affordable — verifiable here because the
    truth is computable.

    Plan: one distinct-token agg; both sweeps are narrow hash filters
    over it; three counts.
    """
    tok = (
        T(spark, sf_dir, "documents")
        .select(F.explode(tokens(F.col("text"))).alias("t"))
        .distinct()
    )

    def sweep(tag):
        return (
            (
                F.conv(
                    F.substring(F.md5(F.concat(F.lit(tag), F.col("t"))), 1, 8), 16, 10
                ).cast("double")
                + 1.0
            )
            / F.lit(4294967296.0)
        ) < CR_P

    flagged = tok.select(
        sweep("cra|").cast("int").alias("a"), sweep("crb|").cast("int").alias("b")
    )
    agg = flagged.agg(
        F.count("*").cast("long").alias("true_n"),
        F.sum("a").cast("long").alias("n_a"),
        F.sum("b").cast("long").alias("n_b"),
        F.sum(F.col("a") * F.col("b")).cast("long").alias("n_both"),
    )
    return agg.select(
        "true_n",
        "n_a",
        "n_b",
        "n_both",
        r6(F.col("n_a") * F.col("n_b") / F.col("n_both").cast("double")).alias("n_hat"),
        r6(
            (F.col("n_a") * F.col("n_b") / F.col("n_both").cast("double"))
            / F.col("true_n")
            - 1
        ).alias("rel_err"),
    )


#: x200 — RANSAC candidate models and inlier tolerance.
RANSAC_CANDS = 10
RANSAC_TOL = 0.15


def x200_ransac_trend(spark, sf_dir):
    """RANSAC-style robust trend fit of daily average order value vs
    day index: 10 candidate lines, each through a deterministic
    hash-chosen pair of days, scored by inlier count (relative residual
    ≤ 15%); the consensus line wins.  Where OLS (x74's regr_slope) is
    dragged by outlier days, the consensus fit ignores them — robust
    regression as pure relational algebra.

    Plan: the candidate relation is 10 rows (two hash-rank joins);
    scoring is a broadcast 10-row × |days| narrow map → per-candidate
    counts → 1-row argmax.  No sampling RNG: candidate pairs come from
    md5 rank ordering, so the "random" consensus is reproducible.
    """
    daily = (
        T(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").alias("d"))
        .agg((F.sum("o_totalprice") / F.count("*")).alias("y"))
    )
    # localCheckpoints (r06): pts feeds the hash ranking AND the scoring
    # cross-join; hranked feeds both candidate endpoints — without the
    # pins the plan embedded the orders aggregation three times (and
    # the |days| windows with it).
    w = Window.orderBy("d")
    pts = daily.select(
        F.row_number().over(w).cast("double").alias("x"), "y"
    ).localCheckpoint(eager=True)
    hw = Window.orderBy(F.md5(F.concat(F.lit("rs|"), F.col("x").cast("string"))))
    hranked = pts.select(
        "x", "y", F.row_number().over(hw).alias("hr")
    ).localCheckpoint(eager=True)
    a = hranked.where(F.col("hr") <= RANSAC_CANDS).select(
        F.col("hr").alias("cand"), F.col("x").alias("x1"), F.col("y").alias("y1")
    )
    b = hranked.where(
        (F.col("hr") > RANSAC_CANDS) & (F.col("hr") <= 2 * RANSAC_CANDS)
    ).select((F.col("hr") - RANSAC_CANDS).alias("cand"), F.col("x").alias("x2"), F.col("y").alias("y2"))
    cands = a.join(b, "cand").select(
        "cand",
        ((F.col("y2") - F.col("y1")) / (F.col("x2") - F.col("x1"))).alias("m"),
        (F.col("y1") - (F.col("y2") - F.col("y1")) / (F.col("x2") - F.col("x1")) * F.col("x1")).alias("c"),
    )
    scored = (
        pts.crossJoin(F.broadcast(cands))
        .select(
            "cand",
            "m",
            "c",
            (
                F.abs(F.col("y") - (F.col("m") * F.col("x") + F.col("c")))
                / F.abs(F.col("y"))
                <= RANSAC_TOL
            ).cast("int").alias("inlier"),
        )
        .groupBy("cand", "m", "c")
        .agg(F.sum("inlier").alias("n_inliers"), F.count("*").alias("n_days"))
    )
    return (
        scored.orderBy(F.desc("n_inliers"), "cand")
        .limit(1)
        .select(
            "cand",
            F.col("n_inliers").cast("long").alias("n_inliers"),
            F.col("n_days").cast("long").alias("n_days"),
            r6(F.col("m")).alias("slope"),
            r2(F.col("c")).alias("intercept"),
        )
    )


#: x201 — FDR level.
FDR_ALPHA = 0.1


def x201_fdr_correction(spark, sf_dir):
    """Benjamini-Hochberg FDR correction over the per-source KS drift
    tests (x172): approximate p-values from the asymptotic KS tail
    p ≈ 2·exp(−2·λ²) with λ = ks·sqrt(n_s·m/(n_s+m)), then the BH
    step-up — reject the smallest i..k p-values where
    p(i) ≤ (i/m)·α.  The multiple-testing discipline every
    many-slices drift dashboard needs: 20 sources at α=0.1 would
    false-alarm constantly without it.

    Plan: x172's grid plans plus |sources|-row windows — the
    correction itself costs nothing.
    """
    ks = x172_ks_drift(spark, sf_dir)
    tot = ks.agg(F.sum("n_s").alias("n"))
    scored = ks.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_s",
        "ks",
        F.round(
            2 * F.exp(
                -2
                * F.pow(
                    F.col("ks")
                    * F.sqrt(
                        (F.col("n_s") * (F.col("n") - F.col("n_s"))).cast("double")
                        / F.col("n")
                    ),
                    2,
                )
            ),
            6,
        ).alias("p"),
    )
    wr = Window.orderBy("p", "source")
    m = scored.agg(F.count("*").alias("m"))
    ranked = scored.crossJoin(F.broadcast(m)).withColumn("i", F.row_number().over(wr))
    passed = ranked.withColumn(
        "bh_ok", (F.col("p") <= F.col("i") / F.col("m").cast("double") * FDR_ALPHA).cast("int")
    )
    wcum = Window.orderBy(F.desc("i")).rowsBetween(Window.unboundedPreceding, 0)
    latched = passed.withColumn("rejected", F.max("bh_ok").over(wcum) == 1)
    return latched.select(
        "source", "n_s", "ks", "p", F.col("i").cast("long").alias("rank"), "rejected"
    )


#: x202 — pre/post split date for the CUPED covariate window.
CUPED_SPLIT = "2024-01-16"


def x202_cuped(spark, sf_dir):
    """CUPED variance reduction for an A/B readout: per user, the
    pre-period value sum is the covariate X, the post-period sum the
    metric Y; theta = cov(X,Y)/var(X) gives the adjusted metric
    Y' = Y − theta·(X − mean(X)), and the query reports the A/B group
    means on Y and Y' plus the variance-reduction fraction
    1 − var(Y')/var(Y) — the industry-standard trick that shrinks
    experiment confidence intervals for free.  Groups are the
    deterministic md5 split (reproducible assignment).

    Plan: one per-user two-period conditional agg; theta and means are
    broadcast 1-row moment fits; everything after is |users|-row.
    """
    e = T(spark, sf_dir, "events").select("user_id", "ts", "value")
    per = e.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < F.lit(CUPED_SPLIT).cast("timestamp_ntz"), F.col("value")).otherwise(0.0)).alias("x"),
        F.sum(F.when(F.col("ts") >= F.lit(CUPED_SPLIT).cast("timestamp_ntz"), F.col("value")).otherwise(0.0)).alias("y"),
    )
    grp = F.conv(
        F.substring(F.md5(F.concat(F.lit("ab|"), F.col("user_id").cast("string"))), 1, 8), 16, 10
    ).cast("long") % 2
    per = per.withColumn("g", grp)
    mo = per.agg(
        (F.covar_samp("x", "y") / F.var_samp("x")).alias("theta"),
        F.avg("x").alias("mx"),
    )
    adj = per.crossJoin(F.broadcast(mo)).withColumn(
        "y_adj", F.col("y") - F.col("theta") * (F.col("x") - F.col("mx"))
    )
    overall = adj.agg(
        r6(F.var_samp("y")).alias("var_y"),
        r6(F.var_samp("y_adj")).alias("var_y_adj"),
        r6(1 - F.var_samp("y_adj") / F.var_samp("y")).alias("var_reduction"),
        r6(F.first(F.col("theta"))).alias("theta"),
    )
    groups = adj.groupBy("g").agg(
        F.count("*").cast("long").alias("n_users"),
        r6(F.avg("y")).alias("mean_y"),
        r6(F.avg("y_adj")).alias("mean_y_adj"),
    )
    return groups.crossJoin(F.broadcast(overall))


#: x203 — core order and peeling rounds.
KCORE_K = 80
KCORE_ROUNDS = 6


def x203_kcore(spark, sf_dir):
    """K-core of the part co-purchase graph by iterative peeling:
    repeatedly delete nodes with degree < 80 (six rounds — enough to
    converge here, with convergence REPORTED, not assumed).  The k-core
    is the standard dense-substructure filter run before community
    detection or embedding training on a graph.

    Plan: per round one degree agg + two semi-joins that only ever
    SHRINK the edge relation; each round's edge set is eagerly
    localCheckpoint-ed (lineage truncation — six rounds of 3-way
    self-reference would otherwise explode the ANALYSIS cost 3^6-fold,
    the same reason x27's propagation materializes per round).  No
    driver-side data beyond the checkpoint trigger.
    """
    li = T(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    )
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(b, (F.col("a.ok") == F.col("b.ok")) & (F.col("a.pk") < F.col("b.pk")))
        .select(F.col("a.pk").alias("src"), F.col("b.pk").alias("dst"))
        .distinct()
    )
    edges = edges.localCheckpoint(eager=True)
    prev_nodes = None
    nodes = None
    for _ in range(KCORE_ROUNDS):
        deg = (
            edges.select(F.col("src").alias("n"))
            .unionAll(edges.select(F.col("dst").alias("n")))
            .groupBy("n")
            .agg(F.count("*").alias("d"))
        )
        prev_nodes = nodes
        nodes = deg.where(F.col("d") >= KCORE_K).select("n").localCheckpoint(eager=True)
        edges = (
            edges.join(nodes.withColumnsRenamed({"n": "src"}), "src", "left_semi")
            .join(nodes.withColumnsRenamed({"n": "dst"}), "dst", "left_semi")
            .localCheckpoint(eager=True)
        )
    n_nodes = nodes.agg(F.count("*").alias("n_nodes"))
    n_prev = prev_nodes.agg(F.count("*").alias("n_prev"))
    n_edges = edges.agg(F.count("*").alias("n_edges"))
    return (
        n_nodes.crossJoin(n_edges)
        .crossJoin(n_prev)
        .select(
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.col("n_edges").cast("long").alias("n_edges"),
            (F.col("n_prev") == F.col("n_nodes")).alias("converged"),
        )
    )


def _kcore_oracle(rounds: int) -> str:
    parts = [
        "WITH e0 AS MATERIALIZED (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst "
        "FROM lineitem a JOIN lineitem b "
        "ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)"
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"n{r} AS MATERIALIZED (SELECT n FROM (SELECT src AS n FROM e{r - 1} "
            f"UNION ALL SELECT dst FROM e{r - 1}) "
            f"GROUP BY n HAVING COUNT(*) >= {KCORE_K})"
        )
        parts.append(
            f"e{r} AS MATERIALIZED (SELECT e.* FROM e{r - 1} e "
            f"SEMI JOIN n{r} ns ON e.src = ns.n "
            f"SEMI JOIN n{r} nd ON e.dst = nd.n)"
        )
    final = (
        f"SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM n{rounds}) AS n_nodes,\n"
        f"       (SELECT CAST(COUNT(*) AS BIGINT) FROM e{rounds}) AS n_edges,\n"
        f"       (SELECT COUNT(*) FROM n{rounds - 1}) = (SELECT COUNT(*) FROM n{rounds}) AS converged"
    )
    return ",\n".join(parts) + "\n" + final


#: x204 — span-corruption geometry: start probability and span width.
SC_P = 0.05
SC_SPAN = 3


def x204_span_corruption(spark, sf_dir):
    """T5-style span-corruption mask layout: every token position is a
    candidate span START with probability 5% (deterministic md5
    uniform), each start masks a 3-token span, and overlapping/adjacent
    spans merge (gaps-and-islands, the x164 device) with the final span
    capped at the document end.  Per doc: token count, merged mask-span
    count, masked tokens, and the realized mask rate (expected ≈
    1−(1−p)^span ≈ 14%).

    The training-example-construction layout for denoising objectives —
    computed engine-side so the masking plan is auditable and
    reproducible before any tensor is built.  Plan: position explode →
    hash filter → per-doc islands window; everything doc-bounded.
    """
    d = T(spark, sf_dir, "documents").select("doc_id", tokens(F.col("text")).alias("toks"))
    pos = d.select(
        "doc_id", F.size("toks").alias("n_toks"), F.posexplode("toks").alias("p", "tok")
    ).drop("tok")
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("sc|"),
                        F.col("doc_id").cast("string"),
                        F.lit("#"),
                        F.col("p").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        + 1.0
    ) / F.lit(4294967296.0)
    starts = pos.where(u < SC_P)
    w = Window.partitionBy("doc_id").orderBy("p")
    isl = starts.withColumn(
        "nf",
        F.when(F.col("p") - F.lag("p").over(w) <= SC_SPAN, F.lit(0)).otherwise(F.lit(1)),
    ).withColumn("g", F.sum("nf").over(w))
    spans = isl.groupBy("doc_id", "n_toks", "g").agg(
        F.min("p").alias("s0"),
        F.least(F.max("p") + SC_SPAN - 1, F.col("n_toks") - 1).alias("s1"),
    )
    per_doc = spans.groupBy("doc_id", "n_toks").agg(
        F.count("*").alias("n_spans"),
        F.sum(F.col("s1") - F.col("s0") + 1).alias("n_masked"),
    )
    return per_doc.select(
        "doc_id",
        "n_toks",
        F.col("n_spans").cast("long").alias("n_spans"),
        F.col("n_masked").cast("long").alias("n_masked"),
        r6(F.col("n_masked") / F.col("n_toks").cast("double")).alias("mask_rate"),
    )


def x205_data_ablation(spark, sf_dir):
    """Leave-one-source-out LM ablation: for every source, train an
    add-1-smoothed unigram LM on the training split WITHOUT that source
    and score the held-out split (doc_id % 10 == 0); report each
    ablated LM's mean log-prob against the all-sources baseline.

    The data-ablation question ("which feed is actually helping the
    model?") answered in closed form: complement counts
    c_total(w) − c_s(w) make all 20 ablated LMs fall out of ONE
    train-count relation — no 20 training passes (the x168 jackknife
    device applied to model quality instead of a mean).  Smoothing uses
    the fixed global vocab so every LM shares a denominator form.

    (Sources whose doc-id block falls entirely in the held-out residue
    have nothing to ablate and are absent — 18 of 20 here.)

    Plan: two token aggs (train totals, train per-source) + the eval
    token stream joined once against each — shuffle ∝ tokens, never
    tokens × sources; the per-source expansion happens on the bounded
    |eval-token-types| × |sources| relation.
    """
    d = T(spark, sf_dir, "documents").select("doc_id", "source", tokens(F.col("text")).alias("toks"))
    tok = d.select("doc_id", "source", F.explode("toks").alias("w"))
    train = tok.where(F.col("doc_id") % 10 != 0)
    ev = tok.where(F.col("doc_id") % 10 == 0)

    ct = train.groupBy("w").agg(F.count("*").alias("c_tot"))
    cs = train.groupBy("w", "source").agg(F.count("*").alias("c_s"))
    nt = train.agg(F.count("*").alias("n_tot"))
    ns = train.groupBy("source").agg(F.count("*").alias("n_s"))
    vocab = ct.agg(F.count("*").alias("v"))

    # eval term frequencies (types, not tokens — bounded)
    ef = ev.groupBy("w").agg(F.count("*").alias("f"))
    n_eval = ev.agg(F.count("*").alias("ne"))

    # baseline: all-sources LM
    base = (
        ef.join(ct, "w", "left")
        .crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(n_eval))
        .agg(
            (
                F.sum(
                    F.col("f")
                    * F.log(
                        (F.coalesce(F.col("c_tot"), F.lit(0)) + 1)
                        / (F.col("n_tot") + F.col("v")).cast("double")
                    )
                )
                / F.first("ne")
            ).alias("lp_base")
        )
    )

    grid = (
        ef.join(ct, "w", "left")
        .crossJoin(ns.select("source", "n_s"))
        .join(cs, ["w", "source"], "left")
        .crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(n_eval))
    )
    abl = grid.groupBy("source").agg(
        F.first("n_s").alias("n_excluded"),
        (
            F.sum(
                F.col("f")
                * F.log(
                    (
                        F.coalesce(F.col("c_tot"), F.lit(0))
                        - F.coalesce(F.col("c_s"), F.lit(0))
                        + 1
                    )
                    / (F.col("n_tot") - F.col("n_s") + F.col("v")).cast("double")
                )
            )
            / F.first("ne")
        ).alias("lp"),
    )
    return abl.crossJoin(F.broadcast(base)).select(
        "source",
        F.col("n_excluded").cast("long").alias("n_excluded"),
        r6(F.col("lp")).alias("mean_logprob"),
        r6(F.col("lp") - F.col("lp_base")).alias("delta_vs_full"),
    )


#: x206 — outlier report size.
MAHAL_TOP = 20


def x206_mahalanobis(spark, sf_dir):
    """Multivariate outliers by Mahalanobis distance on the
    (quantity, extendedprice) plane: the 2×2 covariance inverts in
    closed form, so D² = zᵀΣ⁻¹z is pure column arithmetic — the
    outlier screen that catches points UNUSUAL IN COMBINATION
    (high price at low quantity) that per-axis z-scores (x37) miss.

    Top-20 by 6dp-rounded D², ties by line key.  Plan: one moment agg
    broadcast back; distance is a narrow map; TakeOrderedAndProject.
    """
    li = T(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").alias("x"),
        F.col("l_extendedprice").alias("y"),
    )
    mo = li.agg(
        F.avg("x").alias("mx"),
        F.avg("y").alias("my"),
        F.var_samp("x").alias("vx"),
        F.var_samp("y").alias("vy"),
        F.covar_samp("x", "y").alias("cxy"),
    )
    j = li.crossJoin(F.broadcast(mo))
    det = F.col("vx") * F.col("vy") - F.col("cxy") * F.col("cxy")
    dx = F.col("x") - F.col("mx")
    dy = F.col("y") - F.col("my")
    d2 = (
        F.col("vy") * dx * dx - 2 * F.col("cxy") * dx * dy + F.col("vx") * dy * dy
    ) / det
    return (
        j.select(
            "l_orderkey",
            "l_linenumber",
            F.col("x").alias("quantity"),
            r2(F.col("y")).alias("price"),
            F.round(d2, 6).alias("d2"),
        )
        .orderBy(F.desc("d2"), "l_orderkey", "l_linenumber")
        .limit(MAHAL_TOP)
    )


#: x207 — frequency thresholds and report size.
SPELL_RARE_MAX = 2
SPELL_FREQ_MIN = 10
SPELL_TOP = 20


def x207_spell_canonicalize(spark, sf_dir):
    """OCR/typo canonicalization map: rare tokens (≤2 occurrences)
    mapped to the most frequent vocabulary token within edit distance 1
    — the corpus-cleaning rewrite table built before training, which
    collapses noise variants without touching legitimate rare words
    (no frequent neighbor → no rule).

    The synthetic corpus has no natural typos, so (the x26 PII-injection
    precedent) docs with doc_id % 50 == 0 get a deterministic typo
    appended — their first token with its second character dropped —
    making the rewrite rules observable and hash-checkable.

    Candidates are blocked on (first char, ±1 length) so the
    rare×frequent comparison never goes vocabulary-squared; exact
    Levenshtein verifies.  Per rare token the highest-frequency target
    wins (ties lexicographic); top-20 rules by target frequency.

    Plan: one token-count agg feeds both sides; the block join's
    fan-out is bounded by per-block vocabulary; 1-row-per-rare argmax
    via WindowGroupLimit.
    """
    d = T(spark, sf_dir, "documents")
    t1 = F.element_at(tokens(F.col("text")), 1)
    typo = F.concat(F.substring(t1, 1, 1), F.substring(t1, 3, 1000))
    with_typos = d.select(
        F.when(
            (F.col("doc_id") % 50 == 0) & (F.length(t1) >= 4),
            F.concat(F.col("text"), F.lit(" "), typo),
        )
        .otherwise(F.col("text"))
        .alias("text")
    )
    tok = with_typos.select(F.explode(tokens(F.col("text"))).alias("w"))
    counts = tok.groupBy("w").agg(F.count("*").alias("c"))
    rare = counts.where(F.col("c") <= SPELL_RARE_MAX).select(
        F.col("w").alias("rw"),
        F.col("c").alias("rc"),
        F.substring("w", 1, 1).alias("b1"),
        F.length("w").alias("ln"),
    )
    freq = counts.where(F.col("c") >= SPELL_FREQ_MIN).select(
        F.col("w").alias("fw"),
        F.col("c").alias("fc"),
        F.substring("w", 1, 1).alias("b1"),
        F.length("w").alias("fln"),
    )
    cand = rare.join(freq, "b1").where(
        (F.abs(F.col("ln") - F.col("fln")) <= 1)
        & (F.levenshtein(F.col("rw"), F.col("fw")) == 1)
    )
    wr = Window.partitionBy("rw").orderBy(F.desc("fc"), "fw")
    best = cand.withColumn("rn", F.row_number().over(wr)).where(F.col("rn") == 1)
    return (
        best.select(
            F.col("rw").alias("rare_token"),
            F.col("rc").cast("long").alias("rare_count"),
            F.col("fw").alias("target"),
            F.col("fc").cast("long").alias("target_count"),
        )
        .orderBy(F.desc("target_count"), "rare_token")
        .limit(SPELL_TOP)
    )


#: x208 — conformal miscoverage level.
CONF_ALPHA = 0.1


def x208_conformal(spark, sf_dir):
    """Split-conformal prediction intervals per event type: the
    calibration split (even event_id) fits a point predictor (the type
    mean) and the rank-based conformal quantile q̂ = the
    ⌈(n+1)(1−α)⌉-th smallest absolute residual; the test split (odd
    event_id) then checks EMPIRICAL COVERAGE of mean ± q̂ — the
    distribution-free guarantee (≥ 1−α on average) made measurable.

    The uncertainty-quantification harness for any per-entity
    predictor: no normality assumption, exact rank arithmetic, and the
    coverage column IS the test.  Plan: two conditional aggs + one
    per-type rank window on calibration residuals.
    """
    e = T(spark, sf_dir, "events").select("event_id", "event_type", "value")
    cal = e.where(F.col("event_id") % 2 == 0)
    test = e.where(F.col("event_id") % 2 == 1)
    mu = cal.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.count("*").alias("n_cal")
    )
    # r07: per-type residual ranks as GROUPED distributed ranks —
    # calibration events scale with SF and event_type has 5 values, so
    # Window.partitionBy(event_type) was five single-task sorts at
    # 100 TB.  q̂ picks the residual VALUE at a fixed order statistic
    # (tie-insensitive); event_id joins the key only as the total-order
    # tiebreaker the helper contract wants.
    from social_warner_spark.operators.ordered import with_grouped_rank

    resid = cal.join(F.broadcast(mu), "event_type").select(
        "event_type",
        "n_cal",
        "mu",
        F.abs(F.col("value") - F.col("mu")).alias("r"),
        "event_id",
    )
    ranked = with_grouped_rank(resid, ["event_type"], ["r", "event_id"], rank_col="rk")
    qhat = ranked.where(
        F.col("rk") == F.ceil((F.col("n_cal") + 1) * (1 - CONF_ALPHA))
    ).select("event_type", "n_cal", "mu", F.col("r").alias("qhat"))
    cov = (
        test.join(F.broadcast(qhat), "event_type")
        .groupBy("event_type", "n_cal", "mu", "qhat")
        .agg(
            F.count("*").alias("n_test"),
            F.avg(
                (F.abs(F.col("value") - F.col("mu")) <= F.col("qhat")).cast("double")
            ).alias("coverage"),
        )
    )
    return cov.select(
        "event_type",
        F.col("n_cal").cast("long").alias("n_cal"),
        F.col("n_test").cast("long").alias("n_test"),
        r6(F.col("mu")).alias("mu"),
        r6(F.col("qhat")).alias("qhat"),
        r6(F.col("coverage")).alias("coverage"),
    )


#: x209 — ALS alternations.
ALS_ROUNDS = 2


def x209_rank1_als(spark, sf_dir):
    """Rank-1 ALS on the user × event-type value matrix: alternate the
    closed-form least-squares updates v_j = Σuᵢrᵢⱼ/Σuᵢ² and
    u_i = Σvⱼrᵢⱼ/Σvⱼ² for two rounds from u ≡ 1, then report the
    factor scale and the reconstruction RMSE against the global-mean
    baseline — the matrix-factorization primitive behind collaborative
    filtering (x149 is the neighborhood method; this is the model
    method), relational like x185/x188: factors are |users|- and
    |types|-row relations, no linear-algebra library.

    Plan: per round two join+agg passes over the rating cells; RMSE is
    one more pass.  Shuffle ∝ nonzero cells throughout.
    """
    r = (
        T(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.avg("value").alias("r"))
    )
    from social_warner_spark.caching import register_persisted

    r = register_persisted(r.persist())
    u = r.select("user_id").distinct().select("user_id", F.lit(1.0).alias("u"))
    v = None
    for _ in range(ALS_ROUNDS):
        v = (
            r.join(u, "user_id")
            .groupBy("event_type")
            .agg((F.sum(F.col("u") * F.col("r")) / F.sum(F.col("u") * F.col("u"))).alias("v"))
        )
        u = (
            r.join(v, "event_type")
            .groupBy("user_id")
            .agg((F.sum(F.col("v") * F.col("r")) / F.sum(F.col("v") * F.col("v"))).alias("u"))
        )
        u = register_persisted(u.persist())
        v = register_persisted(v.persist())
    pred = r.join(u, "user_id").join(v, "event_type")
    gmean = r.agg(F.avg("r").alias("g"))
    scored = pred.crossJoin(F.broadcast(gmean)).agg(
        F.count("*").cast("long").alias("n_cells"),
        F.sqrt(F.avg(F.pow(F.col("r") - F.col("u") * F.col("v"), 2))).alias("rmse_als"),
        F.sqrt(F.avg(F.pow(F.col("r") - F.col("g"), 2))).alias("rmse_base"),
    )
    return scored.select(
        "n_cells",
        r6(F.col("rmse_als")).alias("rmse_als"),
        r6(F.col("rmse_base")).alias("rmse_base"),
        r6(1 - F.col("rmse_als") / F.col("rmse_base")).alias("rmse_gain"),
    )


def x210_markov_predictor(spark, sf_dir):
    """Next-event prediction accuracy of the first-order Markov model,
    honestly evaluated: transitions from TRAIN users (user_id % 5 != 0)
    fit argmax(next | current); TEST users' transitions score top-1
    accuracy against the marginal-mode baseline.  Turns x196's entropy
    bound into a measured lift.

    Plan: train/test transition tables from one lead() window each;
    the fitted predictor is a |types|-row relation joined into the test
    stream; two accuracy aggs.
    """
    e = T(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = e.withColumn("nxt", F.lead("event_type").over(w)).where(F.col("nxt").isNotNull())
    train = tr.where(F.col("user_id") % 5 != 0)
    test = tr.where(F.col("user_id") % 5 == 0)

    tcounts = train.groupBy(F.col("event_type").alias("cur"), "nxt").agg(
        F.count("*").alias("c")
    )
    wb = Window.partitionBy("cur").orderBy(F.desc("c"), "nxt")
    model = (
        tcounts.withColumn("rn", F.row_number().over(wb))
        .where(F.col("rn") == 1)
        .select("cur", F.col("nxt").alias("pred"))
    )
    wm = Window.orderBy(F.desc("c"), "nxt")
    marginal = (
        train.groupBy("nxt")
        .agg(F.count("*").alias("c"))
        .withColumn("rn", F.row_number().over(wm))
        .where(F.col("rn") == 1)
        .select(F.col("nxt").alias("base_pred"))
    )
    scored = (
        test.join(F.broadcast(model), test["event_type"] == model["cur"])
        .crossJoin(F.broadcast(marginal))
        .agg(
            F.count("*").cast("long").alias("n_test"),
            F.avg((F.col("nxt") == F.col("pred")).cast("double")).alias("acc"),
            F.avg((F.col("nxt") == F.col("base_pred")).cast("double")).alias("acc_base"),
        )
    )
    return scored.select(
        "n_test",
        r6(F.col("acc")).alias("acc_markov"),
        r6(F.col("acc_base")).alias("acc_marginal"),
        r6(F.col("acc") - F.col("acc_base")).alias("lift"),
    )


def x211_dedup_lm_impact(spark, sf_dir):
    """Does dedup help the model?  Train add-1 unigram LMs on the RAW
    train split and on its NEAR-DUP SURVIVORS (the l2 exact-Jaccard
    machinery at J ≥ 0.8: the higher id of every pair is dropped),
    evaluate both on the held-out split (doc_id % 10 == 0, never
    deduped), and report the per-token log-prob delta — the headline
    training-data question answered with a measurable number instead
    of folklore.  (The corpus has no EXACT duplicates, so near-dup
    pruning is the dedup whose impact exists to measure.)

    Plan: the audited l2 pair plans + one anti-join for survivors + two
    count aggs; eval joins each LM once.
    """
    from social_warner_spark.operators.dedup import exact_jaccard_pairs

    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    train_docs = d.where(F.col("doc_id") % 10 != 0)
    ev_docs = d.where(F.col("doc_id") % 10 == 0)

    dropped = exact_jaccard_pairs(train_docs, 0.8).select(
        F.col("doc_id_b").alias("doc_id")
    ).distinct()
    dedup_docs = train_docs.join(dropped, "doc_id", "left_anti")

    def lm_counts(docs):
        t = docs.select(F.explode(tokens(F.col("text"))).alias("w"))
        return t.groupBy("w").agg(F.count("*").alias("c")), t.agg(
            F.count("*").alias("n")
        )

    c_raw, n_raw = lm_counts(train_docs)
    c_ded, n_ded = lm_counts(dedup_docs)
    vocab = c_raw.agg(F.count("*").alias("v"))  # raw vocab ⊇ dedup vocab

    ef = ev_docs.select(F.explode(tokens(F.col("text"))).alias("w")).groupBy("w").agg(
        F.count("*").alias("f")
    )
    ne = ef.agg(F.sum("f").alias("ne"))

    def mean_lp(cnts, ntot):
        return (
            ef.join(cnts, "w", "left")
            .crossJoin(F.broadcast(ntot))
            .crossJoin(F.broadcast(vocab))
            .crossJoin(F.broadcast(ne))
            .agg(
                (
                    F.sum(
                        F.col("f")
                        * F.log(
                            (F.coalesce(F.col("c"), F.lit(0)) + 1)
                            / (F.col("n") + F.col("v")).cast("double")
                        )
                    )
                    / F.first("ne")
                ).alias("lp")
            )
        )

    lp_raw = mean_lp(c_raw, n_raw)
    lp_ded = mean_lp(c_ded, n_ded)
    sizes = train_docs.agg(F.count("*").alias("n_raw_docs")).crossJoin(
        dedup_docs.agg(F.count("*").alias("n_dedup_docs"))
    )
    return (
        sizes.crossJoin(lp_raw.withColumnsRenamed({"lp": "lp_raw"}))
        .crossJoin(lp_ded.withColumnsRenamed({"lp": "lp_dedup"}))
        .select(
            F.col("n_raw_docs").cast("long").alias("n_raw_docs"),
            F.col("n_dedup_docs").cast("long").alias("n_dedup_docs"),
            r6(F.col("lp_raw")).alias("lp_raw"),
            r6(F.col("lp_dedup")).alias("lp_dedup"),
            r6(F.col("lp_dedup") - F.col("lp_raw")).alias("dedup_gain"),
        )
    )


#: x212 — total sample budget to allocate.
NEYMAN_BUDGET = 200


def x212_neyman_allocation(spark, sf_dir):
    """Neyman optimal allocation of a 200-doc sampling budget across
    sources: n_h ∝ N_h·σ_h (stratum size × stratum std-dev of
    n_chars), compared against proportional allocation via the
    estimator-variance formula Var = Σ N_h²σ_h²/n_h / N² — the
    survey-sampling answer to "where should my labeling budget go",
    with the variance saving made explicit per design.

    Plan: one moment agg to |sources| rows; allocations and variances
    are closed-form column arithmetic over that tiny relation.
    """
    d = T(spark, sf_dir, "documents").select(
        "source", F.col("n_chars").cast("long").alias("x")
    )
    # Exact-moment stddev: n_chars is an integer, so SUM(x) and SUM(x*x)
    # are exact (order-insensitive) in BOTH engines; the closed-form
    # sample variance below is then one fixed sequence of double ops —
    # bit-identical across engines (stddev_samp's streaming algorithms
    # differ between engines at ~1e-11, enough to flip a 6dp boundary).
    # Singleton strata (nh == 1) get NULL like stddev_samp would — the
    # bare closed form is 0/0 there, and Spark's IEEE NaN would poison
    # SUM(nh*sh) while DuckDB's behavior is config-dependent (ADVICE
    # r04); NULL degrades identically in both engines (SUM skips it).
    st = d.groupBy("source").agg(
        F.count("*").alias("nh"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    ).select(
        "source",
        "nh",
        F.when(
            F.col("nh") > 1,
            F.sqrt(
                (
                    F.col("sxx").cast("double")
                    - F.col("sx").cast("double") * F.col("sx") / F.col("nh")
                )
                / (F.col("nh") - 1)
            ),
        ).alias("sh"),
    )
    tot = st.agg(
        F.sum(F.col("nh") * F.col("sh")).alias("z"),
        F.sum("nh").alias("n"),
    )
    j = st.crossJoin(F.broadcast(tot))
    ney = (F.lit(NEYMAN_BUDGET) * F.col("nh") * F.col("sh") / F.col("z")).alias("n_neyman")
    prop = (F.lit(NEYMAN_BUDGET) * F.col("nh") / F.col("n").cast("double")).alias("n_prop")
    alloc = j.select("source", "nh", "sh", ney, prop)
    var_terms = alloc.join(F.broadcast(tot.select("n")), how="cross").select(
        (F.col("nh") * F.col("nh") * F.col("sh") * F.col("sh") / F.col("n_neyman")).alias("vt_n"),
        (F.col("nh") * F.col("nh") * F.col("sh") * F.col("sh") / F.col("n_prop")).alias("vt_p"),
        "n",
    )
    var = var_terms.groupBy("n").agg(
        (F.sum("vt_n") / (F.col("n") * F.col("n"))).alias("var_neyman"),
        (F.sum("vt_p") / (F.col("n") * F.col("n"))).alias("var_prop"),
    )
    return alloc.crossJoin(F.broadcast(var)).select(
        "source",
        F.col("nh").cast("long").alias("n_docs"),
        r6t(F.col("sh")).alias("stddev"),
        r6t(F.col("n_neyman")).alias("n_neyman"),
        r6t(F.col("n_prop")).alias("n_prop"),
        r6t(F.col("var_neyman")).alias("var_neyman"),
        r6t(F.col("var_prop")).alias("var_prop"),
        r6t(1 - F.col("var_neyman") / F.col("var_prop")).alias("var_saving"),
    )


#: x213 — O'Brien-Fleming two-sided boundaries for 4 equally-spaced
#: looks at overall alpha 0.05 (standard published values, hardcoded
#: literals so both engines compare identically).
OBF_BOUNDS = (4.048, 2.862, 2.337, 2.024)


def x213_sequential_monitor(spark, sf_dir):
    """Group-sequential A/B monitoring: the experiment is examined at 4
    interim looks (cumulative day quartiles); at each look the
    two-sample z for mean(value) under the md5 assignment is compared
    to the O'Brien-Fleming boundary — the early-stopping discipline
    that lets you peek without inflating false positives (a fixed
    z > 1.96 rule at 4 peeks would false-alarm ~11% of the time).

    Output per look: cumulative sizes, means, z, the boundary, and the
    crossed flag.  Plan: one pass tags each event with its look number
    (day-quartile via a |days|-row ntile map, broadcast); cumulative
    stats come from conditional aggs per look — 4 rows end to end.
    The ntile map is localCheckpoint-ed (r06): |days| rows, and the 8
    union branches each embedded their own copy of the day-distinct +
    global-ntile pipeline before — one materialization replaces eight
    recomputations and the eight audited unpartitioned-window specs.
    """
    e = T(spark, sf_dir, "events").select(
        "user_id", "value", F.to_date("ts").alias("d")
    )
    days = e.select("d").distinct()
    wq = Window.orderBy("d")
    qd = days.select("d", F.ntile(4).over(wq).alias("q")).localCheckpoint(
        eager=True
    )
    g = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("ab|"), F.col("user_id").cast("string"))), 1, 8),
            16,
            10,
        ).cast("long")
        % 2
    )
    tagged = e.join(F.broadcast(qd), "d").withColumn("g", g)
    looks = []
    for k in range(1, 5):
        cum = tagged.where(F.col("q") <= k)
        st = cum.groupBy("g").agg(
            F.count("*").alias("n"), F.avg("value").alias("m"), F.var_samp("value").alias("v")
        )
        a = st.where(F.col("g") == 0).select(
            F.col("n").alias("n0"), F.col("m").alias("m0"), F.col("v").alias("v0")
        )
        b = st.where(F.col("g") == 1).select(
            F.col("n").alias("n1"), F.col("m").alias("m1"), F.col("v").alias("v1")
        )
        z = (F.col("m1") - F.col("m0")) / F.sqrt(
            F.col("v1") / F.col("n1") + F.col("v0") / F.col("n0")
        )
        bound = OBF_BOUNDS[k - 1]
        looks.append(
            a.crossJoin(b).select(
                F.lit(k).alias("look"),
                (F.col("n0") + F.col("n1")).cast("long").alias("n_cum"),
                r6(F.col("m0")).alias("mean_a"),
                r6(F.col("m1")).alias("mean_b"),
                r6(z).alias("z"),
                F.lit(bound).alias("bound"),
                (F.abs(z) > bound).alias("crossed"),
            )
        )
    from functools import reduce
    from pyspark.sql import DataFrame

    return reduce(DataFrame.unionAll, looks)


#: x214 — folds for cross-fitting.
OOF_FOLDS = 5


def x214_crossfit_oof(spark, sf_dir):
    """K-fold cross-fitting (the double-ML / stacking primitive): every
    event gets an OUT-OF-FOLD prediction — the mean of its event type
    computed WITHOUT its own fold — in closed form from complement
    sums (fold f's prediction = (S_type − S_type,f)/(n_type − n_type,f);
    the x168/x205 device), then OOF RMSE vs the leaky in-fold RMSE.

    The leakage-free evaluation every feature-encoding pipeline needs:
    target encoding scored in-fold always looks better than it is —
    this query measures exactly how much.

    Plan: one (type, fold) agg + one type agg, joined back as
    broadcast relations; no per-fold training passes.
    """
    e = T(spark, sf_dir, "events").select(
        "event_type", "value", (F.col("event_id") % OOF_FOLDS).alias("fold")
    )
    tf = e.groupBy("event_type", "fold").agg(
        F.sum("value").alias("sf"), F.count("*").alias("nf")
    )
    t = tf.groupBy("event_type").agg(
        F.sum("sf").alias("st"), F.sum("nf").alias("nt")
    )
    j = (
        e.join(F.broadcast(tf), ["event_type", "fold"])
        .join(F.broadcast(t), "event_type")
    )
    oof = (F.col("st") - F.col("sf")) / (F.col("nt") - F.col("nf")).cast("double")
    infold = F.col("st") / F.col("nt").cast("double")
    return j.agg(
        F.count("*").cast("long").alias("n"),
        r6(F.sqrt(F.avg(F.pow(F.col("value") - oof, 2)))).alias("rmse_oof"),
        r6(F.sqrt(F.avg(F.pow(F.col("value") - infold, 2)))).alias("rmse_infold"),
        r6(
            F.sqrt(F.avg(F.pow(F.col("value") - oof, 2)))
            - F.sqrt(F.avg(F.pow(F.col("value") - infold, 2)))
        ).alias("leakage_gap"),
    )


QUERIES = {
    "x164_dup_spans": x164_dup_spans,
    "x165_mixed_language": x165_mixed_language,
    "x166_stratified_weighted_sample": x166_stratified_weighted_sample,
    "x167_poisson_bootstrap": x167_poisson_bootstrap,
    "x168_jackknife_sources": x168_jackknife_sources,
    "x169_effective_sample_size": x169_effective_sample_size,
    "x170_bpe_merges": x170_bpe_merges,
    "x171_bpe_encode": x171_bpe_encode,
    "x172_ks_drift": x172_ks_drift,
    "x173_jl_distortion": x173_jl_distortion,
    "x174_user_typicality": x174_user_typicality,
    "x175_benford_audit": x175_benford_audit,
    "x176_source_set_cover": x176_source_set_cover,
    "x177_langid_eval": x177_langid_eval,
    "x178_twopass_median": x178_twopass_median,
    "x179_subtree_rollup": x179_subtree_rollup,
    "x180_sorted_neighborhood": x180_sorted_neighborhood,
    "x181_budget_waterfill": x181_budget_waterfill,
    "x182_eb_shrinkage": x182_eb_shrinkage,
    "x183_kaplan_meier": x183_kaplan_meier,
    "x184_rank_auc": x184_rank_auc,
    "x185_power_iteration": x185_power_iteration,
    "x186_dp_noisy_counts": x186_dp_noisy_counts,
    "x187_heaps_law": x187_heaps_law,
    "x188_logreg_gd": x188_logreg_gd,
    "x189_cohens_kappa": x189_cohens_kappa,
    "x190_skyline": x190_skyline,
    "x191_good_turing": x191_good_turing,
    "x192_calibration": x192_calibration,
    "x193_adjusted_rand": x193_adjusted_rand,
    "x194_corpus_readiness": x194_corpus_readiness,
    "x195_forecast_backtest": x195_forecast_backtest,
    "x196_sequence_entropy": x196_sequence_entropy,
    "x197_cross_correlation": x197_cross_correlation,
    "x198_priority_sample": x198_priority_sample,
    "x199_capture_recapture": x199_capture_recapture,
    "x200_ransac_trend": x200_ransac_trend,
    "x201_fdr_correction": x201_fdr_correction,
    "x202_cuped": x202_cuped,
    "x203_kcore": x203_kcore,
    "x204_span_corruption": x204_span_corruption,
    "x205_data_ablation": x205_data_ablation,
    "x206_mahalanobis": x206_mahalanobis,
    "x207_spell_canonicalize": x207_spell_canonicalize,
    "x208_conformal": x208_conformal,
    "x209_rank1_als": x209_rank1_als,
    "x210_markov_predictor": x210_markov_predictor,
    "x211_dedup_lm_impact": x211_dedup_lm_impact,
    "x212_neyman_allocation": x212_neyman_allocation,
    "x213_sequential_monitor": x213_sequential_monitor,
    "x214_crossfit_oof": x214_crossfit_oof,
}

_MARKER_IN = {lg: ", ".join(f"'{w}'" for w in LANG_MARKERS[lg]) for lg in _LANGS}

#: Inverse-CDF ladder for Poisson(1) weights — same literals as the
#: Spark side (repr round-trips the exact doubles).
_POISSON_CASE = (
    "CASE "
    + " ".join(f"WHEN u < {c!r} THEN {k}" for k, c in enumerate(POISSON1_CUM))
    + f" ELSE {len(POISSON1_CUM)} END"
)

_CHUNK_BEST_EXPR = "s_" + _LANGS[0]
_CHUNK_BEST_LG = f"'{_LANGS[0]}'"
for _lg in _LANGS[1:]:
    _CHUNK_BEST_LG = f"CASE WHEN s_{_lg} > {_CHUNK_BEST_EXPR} THEN '{_lg}' ELSE {_CHUNK_BEST_LG} END"
    _CHUNK_BEST_EXPR = f"GREATEST({_CHUNK_BEST_EXPR}, s_{_lg})"

#: Portable hex→uint64 (first 8 md5 hex chars) as a DuckDB fold — the
#: mirror of Spark's conv(substr(md5(x),1,8),16,10).
_HEX8_TO_INT = (
    "reduce(list_transform(string_split_regex(substr(md5({x}), 1, 8), ''),"
    " c -> CAST(CASE WHEN c BETWEEN '0' AND '9' THEN ascii(c)-48"
    " ELSE ascii(c)-87 END AS BIGINT)), (a, b) -> a*16+b)"
)

ORACLES = {
    "x164_dup_spans": f"""
        WITH toks AS (
            SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents
        ), pos AS (
            SELECT doc_id, len(t) AS n_toks, t,
                   unnest(generate_series(1, len(t) - {SPAN_W} + 1)) AS i
            FROM toks
        ), sh AS (
            SELECT doc_id, n_toks, i - 1 AS pos,
                   substr(md5(array_to_string(t[i:i+{SPAN_W - 1}], ' ')), 1, 16) AS h
            FROM pos
        ), dup AS (
            SELECT h FROM sh GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
        ), hits AS (
            SELECT doc_id, n_toks, pos FROM sh JOIN dup USING (h)
        ), isl AS (
            SELECT doc_id, n_toks, pos,
                   CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                             <= {SPAN_W} THEN 0 ELSE 1 END AS nf
            FROM hits
        ), grp AS (
            SELECT doc_id, n_toks, pos,
                   SUM(nf) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
            FROM isl
        ), spans AS (
            SELECT doc_id, n_toks, g,
                   MIN(pos) AS s0, MAX(pos) + {SPAN_W} - 1 AS s1
            FROM grp GROUP BY doc_id, n_toks, g
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
               CAST(SUM(s1 - s0 + 1) AS BIGINT) AS dup_tokens,
               ROUND(SUM(s1 - s0 + 1) / CAST(n_toks AS DOUBLE), 6) AS dup_frac
        FROM spans
        GROUP BY doc_id, n_toks
    """,
    "x165_mixed_language": f"""
        WITH toks AS (
            SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents
        ), tok AS (
            SELECT doc_id,
                   (unnest(generate_series(1, len(t))) - 1) // {CHUNK_TOKENS} AS chunk_id,
                   unnest(t) AS token
            FROM toks
        ), counts AS (
            SELECT doc_id, chunk_id,
                   {", ".join(f"COUNT(*) FILTER (WHERE token IN ({_MARKER_IN[lg]})) AS s_{lg}" for lg in _LANGS)}
            FROM tok GROUP BY doc_id, chunk_id
        ), chunk_lang AS (
            SELECT doc_id, chunk_id,
                   CASE WHEN {_CHUNK_BEST_EXPR} > 0 THEN {_CHUNK_BEST_LG}
                        ELSE 'und' END AS chunk_lang
            FROM counts
        ), lang_counts AS (
            SELECT doc_id, chunk_lang, COUNT(*) AS cnt
            FROM chunk_lang GROUP BY doc_id, chunk_lang
        ), dom AS (
            SELECT doc_id, chunk_lang, cnt,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY cnt DESC, chunk_lang) AS rn
            FROM lang_counts
        ), per_doc AS (
            SELECT doc_id,
                   CAST(SUM(cnt) AS BIGINT) AS n_chunks,
                   CAST(COUNT(*) FILTER (WHERE chunk_lang != 'und') AS BIGINT) AS n_langs
            FROM lang_counts GROUP BY doc_id
        )
        SELECT p.doc_id, p.n_chunks, p.n_langs,
               d.chunk_lang AS dom_lang,
               ROUND(d.cnt / CAST(p.n_chunks AS DOUBLE), 6) AS dom_share
        FROM per_doc p JOIN dom d ON p.doc_id = d.doc_id AND d.rn = 1
    """,
    "x166_stratified_weighted_sample": f"""
        WITH keyed AS (
            SELECT source, doc_id, n_chars,
                   ROUND(ln(({_HEX8_TO_INT.format(x="'sws|' || CAST(doc_id AS VARCHAR)")} + 1.0)
                            / 4294967296.0)
                         / CAST(GREATEST(n_chars, 1) AS DOUBLE), 6) AS es_key
            FROM documents
        ), ranked AS (
            SELECT source, doc_id, n_chars, es_key,
                   ROW_NUMBER() OVER (PARTITION BY source
                                      ORDER BY es_key DESC, doc_id) AS rn
            FROM keyed
        )
        SELECT source, doc_id, n_chars, es_key
        FROM ranked WHERE rn <= {STRATUM_K}
    """,
    "x167_poisson_bootstrap": f"""
        WITH reps AS (
            SELECT event_type, value, b,
                   ({_HEX8_TO_INT.format(x="CAST(event_id AS VARCHAR) || '#' || CAST(b AS VARCHAR)")}
                    + 1.0) / 4294967296.0 AS u
            FROM events, (SELECT unnest(generate_series(0, {BOOT_B - 1})) AS b) bs
        ), cells AS (
            SELECT event_type, b, {_POISSON_CASE} AS w, value FROM reps
        ), rmeans AS (
            SELECT event_type, b, ROUND(SUM(w * value) / SUM(w), 6) AS rmean
            FROM cells GROUP BY event_type, b
        ), ranked AS (
            SELECT event_type, rmean,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY rmean, b) AS rn
            FROM rmeans WHERE rmean IS NOT NULL
        ), ci AS (
            SELECT event_type,
                   MAX(CASE WHEN rn = 1 THEN rmean END) AS boot_lo,
                   MAX(CASE WHEN rn = {int(0.975 * BOOT_B)} THEN rmean END) AS boot_hi
            FROM ranked GROUP BY event_type
        )
        SELECT p.event_type, ROUND(p.mv, 6) AS mean_value, ci.boot_lo, ci.boot_hi
        FROM (SELECT event_type, AVG(value) AS mv FROM events GROUP BY event_type) p
        JOIN ci ON p.event_type = ci.event_type
    """,
    "x168_jackknife_sources": """
        WITH per AS (
            SELECT source, COUNT(*) AS n_s, SUM(n_chars) AS sum_s
            FROM documents GROUP BY source
        ), tot AS (
            SELECT SUM(n_s) AS n, SUM(sum_s) AS s FROM per
        )
        SELECT source,
               CAST(n_s AS BIGINT) AS n_s,
               ROUND(sum_s / CAST(n_s AS DOUBLE), 6) AS source_mean,
               ROUND((s - sum_s) / CAST(n - n_s AS DOUBLE), 6) AS loo_mean,
               ROUND((s - sum_s) / CAST(n - n_s AS DOUBLE)
                     - s / CAST(n AS DOUBLE), 6) AS loo_delta
        FROM per, tot
    """,
    "x169_effective_sample_size": """
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               ROUND((SUM(n_chars) * SUM(n_chars))
                     / CAST(SUM(n_chars * n_chars) AS DOUBLE), 6) AS ess,
               ROUND((SUM(n_chars) * SUM(n_chars))
                     / CAST(SUM(n_chars * n_chars) AS DOUBLE)
                     / COUNT(*), 6) AS ess_ratio
        FROM documents GROUP BY source
    """,
    "x170_bpe_merges": _bpe_oracle(BPE_ROUNDS),
    "x171_bpe_encode": _bpe_encode_oracle(BPE_ROUNDS),
    "x172_ks_drift": f"""
        WITH counts AS (
            SELECT source, n_chars AS v, COUNT(*) AS c
            FROM documents GROUP BY 1, 2
        ), vals AS (
            SELECT DISTINCT v FROM counts
        ), per_src AS (
            SELECT source, SUM(c) AS n_s FROM counts GROUP BY source
        ), grand AS (
            SELECT SUM(n_s) AS n FROM per_src
        ), gv AS (
            SELECT v, SUM(c) AS c_all FROM counts GROUP BY v
        ), gcum AS (
            SELECT v, SUM(c_all) OVER (ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_all
            FROM gv
        ), grid AS (
            SELECT p.source, va.v, p.n_s, g.n,
                   SUM(COALESCE(c.c, 0)) OVER (PARTITION BY p.source ORDER BY va.v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs
            FROM vals va CROSS JOIN per_src p CROSS JOIN grand g
            LEFT JOIN counts c ON c.source = p.source AND c.v = va.v
        ), ks AS (
            SELECT source, n_s, n,
                   MAX(ABS(cs / CAST(n_s AS DOUBLE)
                           - (gc.cum_all - cs) / CAST(n - n_s AS DOUBLE))) AS ks_raw
            FROM grid JOIN gcum gc ON gc.v = grid.v
            GROUP BY source, n_s, n
        )
        SELECT source,
               CAST(n_s AS BIGINT) AS n_s,
               ROUND(ks_raw, 6) AS ks,
               ROUND({KS_COEF!r} * sqrt(CAST(n AS DOUBLE)
                     / CAST(n_s * (n - n_s) AS DOUBLE)), 6) AS ks_crit,
               ks_raw > {KS_COEF!r} * sqrt(CAST(n AS DOUBLE)
                     / CAST(n_s * (n - n_s) AS DOUBLE)) AS drifted
        FROM ks
    """,
    "x173_jl_distortion": _jl_oracle(),
    "x174_user_typicality": f"""
        WITH ut AS (
            SELECT user_id, event_type, COUNT(*) AS c
            FROM events GROUP BY 1, 2
        ), gt AS (
            SELECT event_type, COUNT(*) AS g FROM events GROUP BY 1
        ), n AS (SELECT SUM(g) AS n FROM gt),
        p AS (
            SELECT event_type, g / CAST(n.n AS DOUBLE) AS p FROM gt, n
        ), pn AS (SELECT SUM(p * p) AS p2 FROM p),
        per_user AS (
            SELECT user_id,
                   SUM(c) AS n_events,
                   SUM(c * p.p) AS cp,
                   SUM(c * c) AS c2
            FROM ut JOIN p USING (event_type)
            GROUP BY user_id
        )
        SELECT user_id,
               CAST(n_events AS BIGINT) AS n_events,
               ROUND(cp / (sqrt(CAST(c2 AS DOUBLE)) * sqrt(pn.p2)), 6)
                   AS cos_typicality
        FROM per_user, pn
        ORDER BY cos_typicality, user_id
        LIMIT {ATYPICAL_K}
    """,
    "x175_benford_audit": """
        WITH benford(digit, share) AS (VALUES (1, 0.3010299956639812), (2, 0.17609125905568124), (3, 0.12493873660829992), (4, 0.09691001300805642), (5, 0.07918124604762482), (6, 0.06694678963061322), (7, 0.05799194697768673), (8, 0.05115252244738129), (9, 0.04575749056067514)),
        d AS (
            SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
            FROM orders WHERE o_totalprice > 0
        ), counts AS (
            SELECT digit, COUNT(*) AS n FROM d GROUP BY digit
        ), tot AS (SELECT SUM(n) AS total FROM counts)
        SELECT c.digit,
               CAST(c.n AS BIGINT) AS n,
               ROUND(c.n / CAST(t.total AS DOUBLE), 6) AS obs_share,
               ROUND(b.share, 6) AS benford_share,
               ROUND(CAST(t.total AS DOUBLE)
                     * (c.n / CAST(t.total AS DOUBLE) - b.share)
                     * (c.n / CAST(t.total AS DOUBLE) - b.share) / b.share, 6) AS chi2_term
        FROM counts c JOIN benford b ON b.digit = c.digit, tot t
    """,
    "x176_source_set_cover": _setcover_oracle(SETCOVER_ROUNDS),
    "x177_langid_eval": None,  # assembled below (reuses the x3 oracle)
}

from social_warner_spark.queries.x_series import ORACLES as _X_ORACLES  # noqa: E402

ORACLES["x189_cohens_kappa"] = None  # assembled after _X_ORACLES import below

ORACLES["x190_skyline"] = """
        WITH flagged AS (
            SELECT p_partkey, p_retailprice, CAST(p_size AS BIGINT) AS p_size,
                   MAX(CAST(p_size AS BIGINT)) OVER (
                       ORDER BY p_retailprice, p_size DESC, p_partkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prevmax
            FROM part
        ), sky AS (
            SELECT * FROM flagged WHERE prevmax IS NULL OR p_size > prevmax
        ), dedup AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY p_retailprice, p_size
                                         ORDER BY p_partkey) AS rn
            FROM sky
        )
        SELECT p_partkey, ROUND(p_retailprice, 2) AS price, p_size
        FROM dedup WHERE rn = 1
    """

ORACLES["x191_good_turing"] = """
        WITH tok AS (
            SELECT unnest(string_split(trim(text), ' ')) AS token FROM documents
        ), counts AS (
            SELECT token, COUNT(*) AS r FROM tok GROUP BY token
        ), sr AS (
            SELECT r, COUNT(*) AS s FROM counts GROUP BY r
        ), nn AS (SELECT COUNT(*) AS n FROM tok),
        low AS (
            SELECT r, s, ROW_NUMBER() OVER (ORDER BY r) AS _rk FROM sr
        )
        SELECT CAST(l.r AS BIGINT) AS r,
               CAST(l.s AS BIGINT) AS n_types,
               ROUND((l.r + 1) * COALESCE(nx.s, 0) / CAST(l.s AS DOUBLE), 6) AS r_star,
               ROUND(l.s * l.r / CAST(nn.n AS DOUBLE), 6) AS mass_share
        FROM low l LEFT JOIN sr nx ON nx.r = l.r + 1, nn
        WHERE l._rk <= 6
    """

ORACLES["x188_logreg_gd"] = _logreg_oracle(GD_ROUNDS)

ORACLES["x187_heaps_law"] = f"""
        WITH tok AS (
            SELECT doc_id, unnest(string_split(trim(text), ' ')) AS token
            FROM documents
        ), first_ AS (
            SELECT token, MIN(doc_id) AS fd FROM tok GROUP BY token
        ), newpd AS (
            SELECT fd AS doc_id, COUNT(*) AS new_types FROM first_ GROUP BY fd
        ), tpd AS (
            SELECT doc_id, COUNT(*) AS n_toks FROM tok GROUP BY doc_id
        ), per_doc AS (
            SELECT t.doc_id, t.n_toks, COALESCE(n.new_types, 0) AS new_types
            FROM tpd t LEFT JOIN newpd n ON n.doc_id = t.doc_id
        ), cum AS (
            SELECT SUM(n_toks) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nn,
                   SUM(new_types) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vv,
                   ROW_NUMBER() OVER (ORDER BY doc_id) AS i,
                   COUNT(*) OVER () AS k
            FROM per_doc
        ), checkpoints AS (
            SELECT * FROM cum
            WHERE i % GREATEST(k // {HEAPS_BUCKETS}, 1) = 0
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
               ROUND(regr_slope(ln(vv), ln(nn)), 6) AS beta,
               ROUND(regr_intercept(ln(vv), ln(nn)), 6) AS ln_k
        FROM checkpoints
    """

ORACLES["x186_dp_noisy_counts"] = f"""
        WITH e AS (
            SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type
        ), keyed AS (
            SELECT event_type, n,
                   (({_HEX8_TO_INT.format(x="'dp|' || event_type")} + 1.0)
                    / 4294967296.0) - 0.5 AS uu
            FROM e
        )
        SELECT event_type,
               CAST(n AS BIGINT) AS true_count,
               ROUND(n + (-1.0 / {DP_EPS!r}) * sign(uu) * ln(1 - 2 * ABS(uu)), 6)
                   AS noisy_count,
               ROUND(ABS((-1.0 / {DP_EPS!r}) * sign(uu) * ln(1 - 2 * ABS(uu))), 6)
                   AS abs_err
        FROM keyed
    """

ORACLES["x185_power_iteration"] = _power_oracle(POWER_ROUNDS)

ORACLES["x184_rank_auc"] = f"""
        WITH e AS (
            SELECT CASE WHEN label >= {AUC_POS_MIN} THEN 1 ELSE 0 END AS y,
                   CAST(embedding[1] AS DOUBLE) AS score
            FROM embeddings
        ), ranked AS (
            SELECT y,
                   RANK() OVER (ORDER BY score)
                     + (COUNT(*) OVER (PARTITION BY score) - 1) / 2.0 AS r,
                   COUNT(*) OVER (PARTITION BY score) AS t
            FROM e
        ), agg AS (
            SELECT SUM(y) AS n1, SUM(1 - y) AS n0,
                   SUM(CASE WHEN y = 1 THEN r END) AS rsum,
                   SUM(t * t - 1) AS tie3,
                   COUNT(*) AS n
            FROM ranked
        )
        SELECT CAST(n1 AS BIGINT) AS n_pos,
               CAST(n0 AS BIGINT) AS n_neg,
               ROUND((rsum - n1 * (n1 + 1) / 2.0)
                     / CAST(n1 * n0 AS DOUBLE), 6) AS auc,
               ROUND((rsum - n1 * (n1 + 1) / 2.0 - n1 * n0 / 2.0)
                     / sqrt(n1 * n0 / 12.0
                            * ((n + 1) - tie3 / (n * (n - 1.0)))), 6) AS z
        FROM agg
    """

ORACLES["x183_kaplan_meier"] = f"""
        WITH t0 AS (
            SELECT user_id, MIN(ts) AS t0 FROM events
            WHERE event_type = 'view' GROUP BY user_id
        ), conv AS (
            SELECT e.user_id, MIN(e.ts) AS tc
            FROM events e JOIN t0 ON e.user_id = t0.user_id
            WHERE e.event_type = 'purchase' AND e.ts > t0.t0
            GROUP BY e.user_id
        ), lastt AS (
            SELECT user_id, MAX(ts) AS tl FROM events GROUP BY user_id
        ), subj AS (
            SELECT CASE WHEN c.tc IS NOT NULL
                        THEN epoch_us(c.tc - t0.t0)
                        ELSE epoch_us(l.tl - t0.t0) END AS dur,
                   CASE WHEN c.tc IS NOT NULL THEN 1 ELSE 0 END AS ev
            FROM t0 LEFT JOIN conv c ON c.user_id = t0.user_id
            JOIN lastt l ON l.user_id = t0.user_id
        ), cells AS (
            SELECT dur, SUM(ev) AS d, COUNT(*) AS c
            FROM subj WHERE dur > 0 GROUP BY dur
        ), n AS (SELECT SUM(c) AS n FROM cells),
        risk AS (
            SELECT dur, d, c,
                   n.n - COALESCE(SUM(c) OVER (ORDER BY dur
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
            FROM cells, n
        ), surv AS (
            SELECT dur, d, n_risk,
                   CASE WHEN MAX(CASE WHEN d = n_risk THEN 1 ELSE 0 END) OVER (
                            ORDER BY dur
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
                        THEN 0.0
                        ELSE exp(SUM(CASE WHEN d < n_risk
                                          THEN ln(1 - d / CAST(n_risk AS DOUBLE))
                                          ELSE 0.0 END) OVER (
                            ORDER BY dur
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                   END AS s
            FROM risk WHERE d > 0
        )
        SELECT CAST(dur AS BIGINT) AS t_us,
               CAST(n_risk AS BIGINT) AS n_risk,
               CAST(d AS BIGINT) AS d_events,
               ROUND(s, 6) AS survival
        FROM surv ORDER BY dur LIMIT {KM_TOP_TIMES}
    """

ORACLES["x182_eb_shrinkage"] = f"""
        WITH per AS (
            SELECT user_id,
                   COUNT(*) FILTER (WHERE event_type = 'view') AS n,
                   COUNT(*) FILTER (WHERE event_type = 'purchase') AS s
            FROM events GROUP BY user_id
        ), rated AS (
            SELECT user_id, n, s, s / CAST(n AS DOUBLE) AS p
            FROM per WHERE n >= {EB_MIN_TRIALS}
        ), mo AS (
            SELECT AVG(p) AS m, VAR_SAMP(p) AS v FROM rated
        ), prior AS (
            SELECT m * (m * (1 - m) / v - 1) AS alpha,
                   (1 - m) * (m * (1 - m) / v - 1) AS beta
            FROM mo
        ), shrunk AS (
            SELECT user_id,
                   CAST(n AS BIGINT) AS n_views,
                   CAST(s AS BIGINT) AS n_purchases,
                   ROUND(p, 6) AS raw_rate,
                   ROUND((s + alpha) / (n + alpha + beta), 6) AS shrunk_rate
            FROM rated, prior
        )
        SELECT *, ROUND(ABS(raw_rate - shrunk_rate), 6) AS shift
        FROM shrunk
        ORDER BY shift DESC, user_id
        LIMIT {EB_TOP}
    """

ORACLES["x181_budget_waterfill"] = """
        WITH sup AS (
            SELECT source, SUM(len(string_split(trim(text), ' '))) AS s
            FROM documents GROUP BY source
        ), tot AS (
            SELECT CAST(SUM(s) * 19 // 20 AS BIGINT) AS b, COUNT(*) AS k FROM sup
        ), ranked AS (
            SELECT source, s, b, k,
                   ROW_NUMBER() OVER (ORDER BY s, source) AS i,
                   COALESCE(SUM(s) OVER (ORDER BY s, source
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
            FROM sup, tot
        ), flagged AS (
            SELECT *, s * (k - i + 1) <= b - prefix AS sat FROM ranked
        ), jl AS (
            SELECT COALESCE(MAX(CASE WHEN sat THEN i END), 0) AS j,
                   COALESCE(MAX(CASE WHEN sat THEN prefix + s END), 0) AS pj
            FROM flagged
        )
        SELECT source,
               CAST(s AS BIGINT) AS supply,
               sat AS saturated,
               ROUND(CASE WHEN sat THEN CAST(s AS DOUBLE)
                          ELSE (b - jl.pj) / CAST(k - jl.j AS DOUBLE) END, 6)
                   AS allocation
        FROM flagged, jl
    """

ORACLES["x180_sorted_neighborhood"] = f"""
        WITH ranked AS (
            SELECT doc_id, substr(text, 1, {SN_PREFIX}) AS pfx,
                   ROW_NUMBER() OVER (ORDER BY lang, n_chars, doc_id) AS rn
            FROM documents
        )
        SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
               levenshtein(a.pfx, b.pfx) AS dist
        FROM ranked a JOIN ranked b
             ON b.rn BETWEEN a.rn + 1 AND a.rn + {SN_WINDOW}
        WHERE levenshtein(a.pfx, b.pfx) <= {SN_MAXDIST}
    """

ORACLES["x179_subtree_rollup"] = f"""
        WITH RECURSIVE anc AS (
            SELECT p_partkey AS node, p_partkey AS anc FROM part
            UNION
            SELECT node, anc // 2 FROM anc WHERE anc > 1
        )
        SELECT a.anc AS node,
               CAST(COUNT(*) AS BIGINT) AS subtree_n,
               ROUND(SUM(p.p_retailprice), 2) AS subtree_value
        FROM anc a JOIN part p ON p.p_partkey = a.node
        WHERE a.anc <= {SUBTREE_TOP_IDS}
        GROUP BY a.anc
    """

ORACLES["x178_twopass_median"] = """
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(median(l_extendedprice), 6) AS median
        FROM lineitem
    """

ORACLES["x177_langid_eval"] = f"""
        WITH pred AS ({_X_ORACLES["x3_lang_id"]}),
        conf AS (
            SELECT d.lang, p.pred_lang, COUNT(*) AS n
            FROM documents d JOIN pred p ON d.doc_id = p.doc_id
            GROUP BY 1, 2
        ), per_class AS (
            SELECT lang,
                   CAST(SUM(n) AS BIGINT) AS support,
                   CAST(SUM(CASE WHEN pred_lang = lang THEN n ELSE 0 END) AS BIGINT)
                       AS n_correct
            FROM conf GROUP BY lang
        ), wrong AS (
            SELECT lang, pred_lang,
                   ROW_NUMBER() OVER (PARTITION BY lang
                                      ORDER BY n DESC, pred_lang) AS rn
            FROM conf WHERE pred_lang != lang
        )
        SELECT p.lang, p.support, p.n_correct,
               ROUND(p.n_correct / CAST(p.support AS DOUBLE), 6) AS recall,
               COALESCE(w.pred_lang, 'none') AS top_confused
        FROM per_class p LEFT JOIN wrong w ON w.lang = p.lang AND w.rn = 1
    """

ORACLES["x189_cohens_kappa"] = f"""
        WITH pred AS ({_X_ORACLES["x3_lang_id"]}),
        j AS (
            SELECT d.lang, p.pred_lang
            FROM documents d JOIN pred p ON d.doc_id = p.doc_id
        ), n AS (SELECT COUNT(*) AS n FROM j),
        po AS (
            SELECT SUM(CASE WHEN pred_lang = lang THEN 1 ELSE 0 END) AS agree FROM j
        ), tm AS (SELECT lang, COUNT(*) AS ct FROM j GROUP BY lang),
        pm AS (SELECT pred_lang AS lang, COUNT(*) AS cp FROM j GROUP BY pred_lang),
        pe AS (
            SELECT SUM(ct * cp / (CAST(n.n AS DOUBLE) * n.n)) AS pe
            FROM tm JOIN pm USING (lang), n
        )
        SELECT CAST(n.n AS BIGINT) AS n,
               ROUND(po.agree / CAST(n.n AS DOUBLE), 6) AS po,
               ROUND(pe.pe, 6) AS pe,
               ROUND((po.agree / CAST(n.n AS DOUBLE) - pe.pe) / (1 - pe.pe), 6) AS kappa
        FROM n, po, pe
    """

ORACLES["x192_calibration"] = f"""
        WITH pred AS ({_X_ORACLES["x3_lang_id"]}),
        j AS (
            SELECT LEAST(CAST(floor(p.marker_ratio / {CAL_BIN_W!r}) AS INT), 9) AS bin,
                   p.marker_ratio AS conf,
                   CASE WHEN p.pred_lang = d.lang THEN 1 ELSE 0 END AS ok
            FROM documents d JOIN pred p ON d.doc_id = p.doc_id
        ), nn AS (SELECT COUNT(*) AS nn FROM j)
        SELECT bin,
               CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(AVG(conf), 6) AS mean_conf,
               ROUND(AVG(ok), 6) AS acc,
               ROUND(ABS(AVG(ok) - AVG(conf)) * COUNT(*) / CAST(nn.nn AS DOUBLE), 6)
                   AS ece_term
        FROM j, nn
        GROUP BY bin, nn.nn
    """

ORACLES["x193_adjusted_rand"] = f"""
        WITH pred AS ({_X_ORACLES["x3_lang_id"]}),
        j AS (
            SELECT d.lang, p.pred_lang
            FROM documents d JOIN pred p ON d.doc_id = p.doc_id
        ), cont AS (
            SELECT SUM(nij * (nij - 1) / 2.0) AS sum_ij
            FROM (SELECT COUNT(*) AS nij FROM j GROUP BY lang, pred_lang)
        ), am AS (
            SELECT SUM(ai * (ai - 1) / 2.0) AS sum_a
            FROM (SELECT COUNT(*) AS ai FROM j GROUP BY lang)
        ), bm AS (
            SELECT SUM(bj * (bj - 1) / 2.0) AS sum_b
            FROM (SELECT COUNT(*) AS bj FROM j GROUP BY pred_lang)
        ), nn AS (
            SELECT COUNT(*) AS n, COUNT(*) * (COUNT(*) - 1) / 2.0 AS c2n FROM j
        )
        SELECT CAST(nn.n AS BIGINT) AS n,
               ROUND(cont.sum_ij, 6) AS sum_pairs,
               ROUND((cont.sum_ij - am.sum_a * bm.sum_b / nn.c2n)
                     / ((am.sum_a + bm.sum_b) / 2 - am.sum_a * bm.sum_b / nn.c2n), 6)
                   AS ari
        FROM cont, am, bm, nn
    """

ORACLES["x194_corpus_readiness"] = f"""
        WITH ess AS ({ORACLES["x169_effective_sample_size"]}),
        dupq AS ({ORACLES["x164_dup_spans"]}),
        dup AS (
            SELECT d.source,
                   ROUND(AVG(COALESCE(q.dup_frac, 0.0)), 6) AS mean_dup_frac
            FROM documents d LEFT JOIN dupq q ON q.doc_id = d.doc_id
            GROUP BY d.source
        ),
        mixq AS ({ORACLES["x165_mixed_language"]}),
        mix AS (
            SELECT d.source, ROUND(AVG(m.dom_share), 6) AS mean_dom_share
            FROM mixq m JOIN documents d ON d.doc_id = m.doc_id
            GROUP BY d.source
        ),
        ksq AS ({ORACLES["x172_ks_drift"]}),
        allocq AS ({ORACLES["x181_budget_waterfill"]})
        SELECT e.source, e.n_docs, e.ess_ratio,
               dup.mean_dup_frac, mix.mean_dom_share,
               k.ks, k.drifted, a.allocation, a.saturated
        FROM ess e
        JOIN dup ON dup.source = e.source
        JOIN mix ON mix.source = e.source
        JOIN ksq k ON k.source = e.source
        JOIN allocq a ON a.source = e.source
    """

ORACLES["x195_forecast_backtest"] = """
        WITH daily AS (
            SELECT o_orderdate AS d, SUM(o_totalprice) AS v
            FROM orders GROUP BY o_orderdate
        ), lagged AS (
            SELECT d, v,
                   LAG(v, 7) OVER (ORDER BY d) AS f_seasonal,
                   LAG(v, 1) OVER (ORDER BY d) AS f_naive
            FROM daily
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
               ROUND(AVG(ABS(v - f_seasonal)), 2) AS mae_seasonal,
               ROUND(AVG(ABS(v - f_naive)), 2) AS mae_naive,
               ROUND(AVG(ABS(v - f_seasonal)) / AVG(ABS(v - f_naive)), 6) AS mase
        FROM lagged
        WHERE f_seasonal IS NOT NULL AND f_naive IS NOT NULL
    """

ORACLES["x196_sequence_entropy"] = """
        WITH tr AS (
            SELECT cur, nxt, COUNT(*) AS c FROM (
                SELECT event_type AS cur,
                       LEAD(event_type) OVER (PARTITION BY user_id
                                              ORDER BY ts, event_id) AS nxt
                FROM events
            ) WHERE nxt IS NOT NULL GROUP BY cur, nxt
        ), tot AS (SELECT SUM(c) AS n FROM tr),
        cur_tot AS (SELECT cur, SUM(c) AS cc FROM tr GROUP BY cur),
        nxt_tot AS (SELECT nxt, SUM(c) AS cn FROM tr GROUP BY nxt),
        hm AS (
            SELECT -SUM((cn / CAST(tot.n AS DOUBLE))
                        * log2(cn / CAST(tot.n AS DOUBLE))) AS hm
            FROM nxt_tot, tot
        ), hc AS (
            SELECT -SUM((c / CAST(tot.n AS DOUBLE))
                        * log2(c / CAST(ct.cc AS DOUBLE))) AS hc
            FROM tr JOIN cur_tot ct USING (cur), tot
        )
        SELECT CAST(tot.n AS BIGINT) AS n_transitions,
               ROUND(hm.hm, 6) AS h_marginal,
               ROUND(hc.hc, 6) AS h_conditional,
               ROUND(hm.hm - hc.hc, 6) AS info_gain
        FROM tot, hm, hc
    """

ORACLES["x197_cross_correlation"] = """
        WITH daily AS (
            SELECT o_orderdate AS d,
                   CAST(COUNT(*) AS DOUBLE) AS cnt,
                   SUM(o_totalprice) / COUNT(*) AS aov
            FROM orders GROUP BY o_orderdate
        ), shifted AS (
            SELECT d, cnt, aov,
                   LEAD(aov, 3) OVER (ORDER BY d) AS l_m3,\n                   LEAD(aov, 2) OVER (ORDER BY d) AS l_m2,\n                   LEAD(aov, 1) OVER (ORDER BY d) AS l_m1,\n                   LAG(aov, 0) OVER (ORDER BY d) AS l0,\n                   LAG(aov, 1) OVER (ORDER BY d) AS l1,\n                   LAG(aov, 2) OVER (ORDER BY d) AS l2,\n                   LAG(aov, 3) OVER (ORDER BY d) AS l3
            FROM daily
        )
        SELECT -3 AS lag, CAST(COUNT(*) AS BIGINT) AS n_days,
               ROUND(corr(cnt, l_m3), 6) AS ccf
        FROM shifted WHERE l_m3 IS NOT NULL\n        UNION ALL\n        SELECT -2 AS lag, CAST(COUNT(*) AS BIGINT) AS n_days,
               ROUND(corr(cnt, l_m2), 6) AS ccf
        FROM shifted WHERE l_m2 IS NOT NULL\n        UNION ALL\n        SELECT -1 AS lag, CAST(COUNT(*) AS BIGINT) AS n_days,
               ROUND(corr(cnt, l_m1), 6) AS ccf
        FROM shifted WHERE l_m1 IS NOT NULL\n        UNION ALL\n        SELECT 0 AS lag, CAST(COUNT(*) AS BIGINT) AS n_days,
               ROUND(corr(cnt, l0), 6) AS ccf
        FROM shifted WHERE l0 IS NOT NULL\n        UNION ALL\n        SELECT 1 AS lag, CAST(COUNT(*) AS BIGINT) AS n_days,
               ROUND(corr(cnt, l1), 6) AS ccf
        FROM shifted WHERE l1 IS NOT NULL\n        UNION ALL\n        SELECT 2 AS lag, CAST(COUNT(*) AS BIGINT) AS n_days,
               ROUND(corr(cnt, l2), 6) AS ccf
        FROM shifted WHERE l2 IS NOT NULL\n        UNION ALL\n        SELECT 3 AS lag, CAST(COUNT(*) AS BIGINT) AS n_days,
               ROUND(corr(cnt, l3), 6) AS ccf
        FROM shifted WHERE l3 IS NOT NULL
    """

ORACLES["x198_priority_sample"] = f"""
        WITH prio AS (
            SELECT doc_id, CAST(n_chars AS DOUBLE) AS w,
                   ROUND(n_chars / ((reduce(list_transform(string_split_regex(substr(md5('ps|' || CAST(doc_id AS VARCHAR)), 1, 8), ''), c -> CAST(CASE WHEN c BETWEEN '0' AND '9' THEN ascii(c)-48 ELSE ascii(c)-87 END AS BIGINT)), (a, b) -> a*16+b) + 1.0)
                         / 4294967296.0), 6) AS q
            FROM documents
        ), topk1 AS (
            SELECT * FROM prio ORDER BY q DESC, doc_id LIMIT {PRIO_K + 1}
        ), tau AS (SELECT MIN(q) AS tau FROM topk1),
        kept AS (
            SELECT t.doc_id, t.w, t.q, tau.tau FROM topk1 t, tau WHERE t.q > tau.tau
        ), tt AS (SELECT CAST(SUM(n_chars) AS DOUBLE) AS true_mass FROM documents)
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               ROUND(ANY_VALUE(tau), 6) AS tau,
               ROUND(SUM(GREATEST(w, tau)), 2) AS est_mass,
               ROUND(ANY_VALUE(tt.true_mass), 2) AS true_mass,
               ROUND(SUM(GREATEST(w, tau)) / ANY_VALUE(tt.true_mass) - 1, 6) AS rel_err
        FROM kept, tt
    """

ORACLES["x199_capture_recapture"] = f"""
        WITH tok AS (
            SELECT DISTINCT unnest(string_split(trim(text), ' ')) AS t FROM documents
        ), flagged AS (
            SELECT CASE WHEN ((reduce(list_transform(string_split_regex(substr(md5('cra|' || t), 1, 8), ''), c -> CAST(CASE WHEN c BETWEEN '0' AND '9' THEN ascii(c)-48 ELSE ascii(c)-87 END AS BIGINT)), (a, b) -> a*16+b) + 1.0) / 4294967296.0)
                        < {CR_P!r} THEN 1 ELSE 0 END AS a,
                   CASE WHEN ((reduce(list_transform(string_split_regex(substr(md5('crb|' || t), 1, 8), ''), c -> CAST(CASE WHEN c BETWEEN '0' AND '9' THEN ascii(c)-48 ELSE ascii(c)-87 END AS BIGINT)), (a, b) -> a*16+b) + 1.0) / 4294967296.0)
                        < {CR_P!r} THEN 1 ELSE 0 END AS b
            FROM tok
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS true_n,
               CAST(SUM(a) AS BIGINT) AS n_a,
               CAST(SUM(b) AS BIGINT) AS n_b,
               CAST(SUM(a * b) AS BIGINT) AS n_both,
               ROUND(SUM(a) * SUM(b) / CAST(SUM(a * b) AS DOUBLE), 6) AS n_hat,
               ROUND((SUM(a) * SUM(b) / CAST(SUM(a * b) AS DOUBLE)) / COUNT(*) - 1, 6)
                   AS rel_err
        FROM flagged
    """

ORACLES["x200_ransac_trend"] = f"""
        WITH daily AS (
            SELECT o_orderdate AS d, SUM(o_totalprice) / COUNT(*) AS y
            FROM orders GROUP BY o_orderdate
        ), pts AS (
            SELECT CAST(ROW_NUMBER() OVER (ORDER BY d) AS DOUBLE) AS x, y FROM daily
        ), hranked AS (
            SELECT x, y,
                   ROW_NUMBER() OVER (ORDER BY md5('rs|' || CAST(x AS VARCHAR))) AS hr
            FROM pts
        ), a AS (
            SELECT hr AS cand, x AS x1, y AS y1 FROM hranked WHERE hr <= {RANSAC_CANDS}
        ), b AS (
            SELECT hr - {RANSAC_CANDS} AS cand, x AS x2, y AS y2
            FROM hranked WHERE hr > {RANSAC_CANDS} AND hr <= 2 * {RANSAC_CANDS}
        ), cands AS (
            SELECT a.cand,
                   (y2 - y1) / (x2 - x1) AS m,
                   y1 - (y2 - y1) / (x2 - x1) * x1 AS c
            FROM a JOIN b ON a.cand = b.cand
        ), scored AS (
            SELECT cand, m, c,
                   SUM(CASE WHEN ABS(y - (m * x + c)) / ABS(y) <= {RANSAC_TOL!r}
                            THEN 1 ELSE 0 END) AS n_inliers,
                   COUNT(*) AS n_days
            FROM pts CROSS JOIN cands
            GROUP BY cand, m, c
        )
        SELECT cand,
               CAST(n_inliers AS BIGINT) AS n_inliers,
               CAST(n_days AS BIGINT) AS n_days,
               ROUND(m, 6) AS slope,
               ROUND(c, 2) AS intercept
        FROM scored ORDER BY n_inliers DESC, cand LIMIT 1
    """

ORACLES["x201_fdr_correction"] = f"""
        WITH ksq AS ({ORACLES["x172_ks_drift"]}),
        tot AS (SELECT SUM(n_s) AS n FROM ksq),
        scored AS (
            SELECT source, n_s, ks,
                   ROUND(2 * exp(-2 * POW(ks * sqrt(
                       CAST(n_s * (tot.n - n_s) AS DOUBLE) / tot.n), 2)), 6) AS p
            FROM ksq, tot
        ), m AS (SELECT COUNT(*) AS m FROM scored),
        ranked AS (
            SELECT s.*, m.m, ROW_NUMBER() OVER (ORDER BY p, source) AS i
            FROM scored s, m
        ), passed AS (
            SELECT *, CASE WHEN p <= i / CAST(m AS DOUBLE) * {FDR_ALPHA!r}
                           THEN 1 ELSE 0 END AS bh_ok
            FROM ranked
        )
        SELECT source, n_s, ks, p,
               CAST(i AS BIGINT) AS rank,
               MAX(bh_ok) OVER (ORDER BY i DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1 AS rejected
        FROM passed
    """

ORACLES["x202_cuped"] = f"""
        WITH per AS (
            SELECT user_id,
                   SUM(CASE WHEN ts < TIMESTAMP '{CUPED_SPLIT} 00:00:00'
                            THEN value ELSE 0.0 END) AS x,
                   SUM(CASE WHEN ts >= TIMESTAMP '{CUPED_SPLIT} 00:00:00'
                            THEN value ELSE 0.0 END) AS y,
                   reduce(list_transform(string_split_regex(substr(md5('ab|' || CAST(user_id AS VARCHAR)), 1, 8), ''), c -> CAST(CASE WHEN c BETWEEN '0' AND '9' THEN ascii(c)-48 ELSE ascii(c)-87 END AS BIGINT)), (a, b) -> a*16+b) % 2 AS g
            FROM events GROUP BY user_id
        ), mo AS (
            SELECT covar_samp(x, y) / var_samp(x) AS theta, AVG(x) AS mx FROM per
        ), adj AS (
            SELECT per.*, y - mo.theta * (x - mo.mx) AS y_adj FROM per, mo
        ), overall AS (
            SELECT ROUND(var_samp(y), 6) AS var_y,
                   ROUND(var_samp(y_adj), 6) AS var_y_adj,
                   ROUND(1 - var_samp(y_adj) / var_samp(y), 6) AS var_reduction,
                   ROUND(ANY_VALUE(mo.theta), 6) AS theta
            FROM adj, mo
        )
        SELECT g, CAST(COUNT(*) AS BIGINT) AS n_users,
               ROUND(AVG(y), 6) AS mean_y,
               ROUND(AVG(y_adj), 6) AS mean_y_adj,
               ANY_VALUE(o.var_y) AS var_y,
               ANY_VALUE(o.var_y_adj) AS var_y_adj,
               ANY_VALUE(o.var_reduction) AS var_reduction,
               ANY_VALUE(o.theta) AS theta
        FROM adj, overall o
        GROUP BY g
    """

ORACLES["x203_kcore"] = _kcore_oracle(KCORE_ROUNDS)

ORACLES["x204_span_corruption"] = f"""
        WITH toks AS (
            SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents
        ), pos AS (
            SELECT doc_id, len(t) AS n_toks,
                   unnest(generate_series(1, len(t))) - 1 AS p
            FROM toks
        ), starts AS (
            SELECT doc_id, n_toks, p FROM pos
            WHERE ((reduce(list_transform(string_split_regex(substr(md5('sc|' || CAST(doc_id AS VARCHAR) || '#' || CAST(p AS VARCHAR)), 1, 8), ''), c -> CAST(CASE WHEN c BETWEEN '0' AND '9' THEN ascii(c)-48 ELSE ascii(c)-87 END AS BIGINT)), (a, b) -> a*16+b) + 1.0) / 4294967296.0) < {SC_P!r}
        ), isl AS (
            SELECT doc_id, n_toks, p,
                   CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p)
                             <= {SC_SPAN} THEN 0 ELSE 1 END AS nf
            FROM starts
        ), grp AS (
            SELECT doc_id, n_toks, p,
                   SUM(nf) OVER (PARTITION BY doc_id ORDER BY p
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
            FROM isl
        ), spans AS (
            SELECT doc_id, n_toks, g, MIN(p) AS s0,
                   LEAST(MAX(p) + {SC_SPAN} - 1, n_toks - 1) AS s1
            FROM grp GROUP BY doc_id, n_toks, g
        )
        SELECT doc_id,
               CAST(n_toks AS INT) AS n_toks,
               CAST(COUNT(*) AS BIGINT) AS n_spans,
               CAST(SUM(s1 - s0 + 1) AS BIGINT) AS n_masked,
               ROUND(SUM(s1 - s0 + 1) / CAST(n_toks AS DOUBLE), 6) AS mask_rate
        FROM spans GROUP BY doc_id, n_toks
    """

ORACLES["x205_data_ablation"] = """
        WITH tok AS (
            SELECT doc_id, source, unnest(string_split(trim(text), ' ')) AS w
            FROM documents
        ), train AS (SELECT * FROM tok WHERE doc_id % 10 != 0),
        ev AS (SELECT * FROM tok WHERE doc_id % 10 = 0),
        ct AS (SELECT w, COUNT(*) AS c_tot FROM train GROUP BY w),
        cs AS (SELECT w, source, COUNT(*) AS c_s FROM train GROUP BY w, source),
        nt AS (SELECT COUNT(*) AS n_tot FROM train),
        ns AS (SELECT source, COUNT(*) AS n_s FROM train GROUP BY source),
        vocab AS (SELECT COUNT(*) AS v FROM ct),
        ef AS (SELECT w, COUNT(*) AS f FROM ev GROUP BY w),
        ne AS (SELECT COUNT(*) AS ne FROM ev),
        base AS (
            SELECT SUM(f * ln((COALESCE(ct.c_tot, 0) + 1)
                              / CAST(nt.n_tot + vocab.v AS DOUBLE))) / ANY_VALUE(ne.ne)
                   AS lp_base
            FROM ef LEFT JOIN ct USING (w), nt, vocab, ne
        ),
        grid AS (
            SELECT ef.w, ef.f, ct.c_tot, ns.source, ns.n_s, cs.c_s,
                   nt.n_tot, vocab.v, ne.ne
            FROM ef LEFT JOIN ct USING (w)
            CROSS JOIN ns
            LEFT JOIN cs ON cs.w = ef.w AND cs.source = ns.source,
            nt, vocab, ne
        )
        SELECT source,
               CAST(ANY_VALUE(n_s) AS BIGINT) AS n_excluded,
               ROUND(SUM(f * ln((COALESCE(c_tot, 0) - COALESCE(c_s, 0) + 1)
                                / CAST(n_tot - n_s + v AS DOUBLE))) / ANY_VALUE(ne), 6)
                   AS mean_logprob,
               ROUND(SUM(f * ln((COALESCE(c_tot, 0) - COALESCE(c_s, 0) + 1)
                                / CAST(n_tot - n_s + v AS DOUBLE))) / ANY_VALUE(ne)
                     - ANY_VALUE(base.lp_base), 6) AS delta_vs_full
        FROM grid, base
        GROUP BY source
    """

ORACLES["x206_mahalanobis"] = f"""
        WITH mo AS (
            SELECT AVG(l_quantity) AS mx, AVG(l_extendedprice) AS my,
                   var_samp(l_quantity) AS vx, var_samp(l_extendedprice) AS vy,
                   covar_samp(l_quantity, l_extendedprice) AS cxy
            FROM lineitem
        )
        SELECT l_orderkey, l_linenumber,
               l_quantity AS quantity,
               ROUND(l_extendedprice, 2) AS price,
               ROUND((vy * (l_quantity - mx) * (l_quantity - mx)
                      - 2 * cxy * (l_quantity - mx) * (l_extendedprice - my)
                      + vx * (l_extendedprice - my) * (l_extendedprice - my))
                     / (vx * vy - cxy * cxy), 6) AS d2
        FROM lineitem, mo
        ORDER BY d2 DESC, l_orderkey, l_linenumber
        LIMIT {MAHAL_TOP}
    """

ORACLES["x207_spell_canonicalize"] = f"""
        WITH with_typos AS (
            SELECT CASE WHEN doc_id % 50 = 0
                         AND length(string_split(trim(text), ' ')[1]) >= 4
                        THEN text || ' ' ||
                             substr(string_split(trim(text), ' ')[1], 1, 1) ||
                             substr(string_split(trim(text), ' ')[1], 3)
                        ELSE text END AS text
            FROM documents
        ), counts AS (
            SELECT w, COUNT(*) AS c FROM (
                SELECT unnest(string_split(trim(text), ' ')) AS w FROM with_typos
            ) GROUP BY w
        ), rare AS (
            SELECT w AS rw, c AS rc, substr(w, 1, 1) AS b1, length(w) AS ln
            FROM counts WHERE c <= {SPELL_RARE_MAX}
        ), freq AS (
            SELECT w AS fw, c AS fc, substr(w, 1, 1) AS b1, length(w) AS fln
            FROM counts WHERE c >= {SPELL_FREQ_MIN}
        ), cand AS (
            SELECT r.rw, r.rc, f.fw, f.fc,
                   ROW_NUMBER() OVER (PARTITION BY r.rw
                                      ORDER BY f.fc DESC, f.fw) AS rn
            FROM rare r JOIN freq f ON r.b1 = f.b1
            WHERE ABS(r.ln - f.fln) <= 1 AND levenshtein(r.rw, f.fw) = 1
        )
        SELECT rw AS rare_token,
               CAST(rc AS BIGINT) AS rare_count,
               fw AS target,
               CAST(fc AS BIGINT) AS target_count
        FROM cand WHERE rn = 1
        ORDER BY target_count DESC, rare_token
        LIMIT {SPELL_TOP}
    """

ORACLES["x208_conformal"] = f"""
        WITH cal AS (
            SELECT event_type, value FROM events WHERE event_id % 2 = 0
        ), test AS (
            SELECT event_type, value FROM events WHERE event_id % 2 = 1
        ), mu AS (
            SELECT event_type, AVG(value) AS mu, COUNT(*) AS n_cal
            FROM cal GROUP BY event_type
        ), ranked AS (
            SELECT c.event_type, m.n_cal, m.mu,
                   ABS(c.value - m.mu) AS r,
                   ROW_NUMBER() OVER (PARTITION BY c.event_type
                                      ORDER BY ABS(c.value - m.mu)) AS rk
            FROM cal c JOIN mu m USING (event_type)
        ), qhat AS (
            SELECT event_type, n_cal, mu, r AS qhat
            FROM ranked
            WHERE rk = CAST(ceil((n_cal + 1) * (1 - {CONF_ALPHA!r})) AS BIGINT)
        )
        SELECT q.event_type,
               CAST(q.n_cal AS BIGINT) AS n_cal,
               CAST(COUNT(*) AS BIGINT) AS n_test,
               ROUND(ANY_VALUE(q.mu), 6) AS mu,
               ROUND(ANY_VALUE(q.qhat), 6) AS qhat,
               ROUND(AVG(CASE WHEN ABS(t.value - q.mu) <= q.qhat
                              THEN 1.0 ELSE 0.0 END), 6) AS coverage
        FROM test t JOIN qhat q USING (event_type)
        GROUP BY q.event_type, q.n_cal
    """

ORACLES["x209_rank1_als"] = """
        WITH r AS MATERIALIZED (SELECT user_id, event_type, AVG(value) AS r FROM events GROUP BY 1, 2),\nu0 AS (SELECT DISTINCT user_id, 1.0 AS u FROM r),\nv1 AS MATERIALIZED (SELECT event_type, SUM(u * r) / SUM(u * u) AS v FROM r JOIN u0 USING (user_id) GROUP BY event_type),\nu1 AS MATERIALIZED (SELECT user_id, SUM(v * r) / SUM(v * v) AS u FROM r JOIN v1 USING (event_type) GROUP BY user_id),\nv2 AS MATERIALIZED (SELECT event_type, SUM(u * r) / SUM(u * u) AS v FROM r JOIN u1 USING (user_id) GROUP BY event_type),\nu2 AS MATERIALIZED (SELECT user_id, SUM(v * r) / SUM(v * v) AS u FROM r JOIN v2 USING (event_type) GROUP BY user_id),
        g AS (SELECT AVG(r) AS g FROM r)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
               ROUND(sqrt(AVG(POW(r.r - u2.u * v2.v, 2))), 6) AS rmse_als,
               ROUND(sqrt(AVG(POW(r.r - g.g, 2))), 6) AS rmse_base,
               ROUND(1 - sqrt(AVG(POW(r.r - u2.u * v2.v, 2)))
                       / sqrt(AVG(POW(r.r - g.g, 2))), 6) AS rmse_gain
        FROM r JOIN u2 USING (user_id) JOIN v2 USING (event_type), g
    """

ORACLES["x210_markov_predictor"] = """
        WITH tr AS (
            SELECT user_id, event_type, nxt FROM (
                SELECT user_id, event_type,
                       LEAD(event_type) OVER (PARTITION BY user_id
                                              ORDER BY ts, event_id) AS nxt
                FROM events
            ) WHERE nxt IS NOT NULL
        ), train AS (SELECT * FROM tr WHERE user_id % 5 != 0),
        test AS (SELECT * FROM tr WHERE user_id % 5 = 0),
        model AS (
            SELECT cur, nxt AS pred FROM (
                SELECT event_type AS cur, nxt, COUNT(*) AS c,
                       ROW_NUMBER() OVER (PARTITION BY event_type
                                          ORDER BY COUNT(*) DESC, nxt) AS rn
                FROM train GROUP BY event_type, nxt
            ) WHERE rn = 1
        ), marginal AS (
            SELECT nxt AS base_pred FROM (
                SELECT nxt, COUNT(*) AS c,
                       ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, nxt) AS rn
                FROM train GROUP BY nxt
            ) WHERE rn = 1
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
               ROUND(AVG(CASE WHEN t.nxt = m.pred THEN 1.0 ELSE 0.0 END), 6)
                   AS acc_markov,
               ROUND(AVG(CASE WHEN t.nxt = mg.base_pred THEN 1.0 ELSE 0.0 END), 6)
                   AS acc_marginal,
               ROUND(AVG(CASE WHEN t.nxt = m.pred THEN 1.0 ELSE 0.0 END)
                     - AVG(CASE WHEN t.nxt = mg.base_pred THEN 1.0 ELSE 0.0 END), 6)
                   AS lift
        FROM test t JOIN model m ON m.cur = t.event_type, marginal mg
    """

ORACLES["x211_dedup_lm_impact"] = """
        WITH train_docs AS (
            SELECT doc_id, text FROM documents WHERE doc_id % 10 != 0
        ), ev_docs AS (
            SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
        ), tsh AS (
            SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
            FROM (SELECT doc_id, string_split(trim(text), ' ') AS t FROM train_docs) toks,
                 UNNEST(range(1, len(t) - 1)) AS u(i)
            WHERE len(t) >= 3
        ), sz AS (SELECT doc_id, COUNT(*) AS n FROM tsh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS ix
            FROM tsh a JOIN tsh b ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        ), dropped AS (
            SELECT DISTINCT i.db AS doc_id
            FROM inter i JOIN sz sa ON sa.doc_id = i.da
                         JOIN sz sb ON sb.doc_id = i.db
            WHERE i.ix / CAST(sa.n + sb.n - i.ix AS DOUBLE) >= 0.8
        ), dedup_docs AS (
            SELECT t.* FROM train_docs t ANTI JOIN dropped dr ON t.doc_id = dr.doc_id
        ), c_raw AS (
            SELECT w, COUNT(*) AS c FROM (
                SELECT unnest(string_split(trim(text), ' ')) AS w FROM train_docs
            ) GROUP BY w
        ), n_raw AS (SELECT SUM(c) AS n FROM c_raw),
        c_ded AS (
            SELECT w, COUNT(*) AS c FROM (
                SELECT unnest(string_split(trim(text), ' ')) AS w FROM dedup_docs
            ) GROUP BY w
        ), n_ded AS (SELECT SUM(c) AS n FROM c_ded),
        vocab AS (SELECT COUNT(*) AS v FROM c_raw),
        ef AS (
            SELECT w, COUNT(*) AS f FROM (
                SELECT unnest(string_split(trim(text), ' ')) AS w FROM ev_docs
            ) GROUP BY w
        ), ne AS (SELECT SUM(f) AS ne FROM ef),
        lp_raw AS (
            SELECT SUM(f * ln((COALESCE(c, 0) + 1)
                              / CAST(n_raw.n + vocab.v AS DOUBLE))) / ANY_VALUE(ne.ne)
                   AS lp
            FROM ef LEFT JOIN c_raw USING (w), n_raw, vocab, ne
        ), lp_ded AS (
            SELECT SUM(f * ln((COALESCE(c, 0) + 1)
                              / CAST(n_ded.n + vocab.v AS DOUBLE))) / ANY_VALUE(ne.ne)
                   AS lp
            FROM ef LEFT JOIN c_ded USING (w), n_ded, vocab, ne
        )
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM train_docs) AS n_raw_docs,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM dedup_docs) AS n_dedup_docs,
               ROUND(lp_raw.lp, 6) AS lp_raw,
               ROUND(lp_ded.lp, 6) AS lp_dedup,
               ROUND(lp_ded.lp - lp_raw.lp, 6) AS dedup_gain
        FROM lp_raw, lp_ded
    """

ORACLES["x212_neyman_allocation"] = f"""
        WITH st0 AS (
            SELECT source, COUNT(*) AS nh,
                   SUM(CAST(n_chars AS BIGINT)) AS sx,
                   SUM(CAST(n_chars AS BIGINT) * CAST(n_chars AS BIGINT))
                       AS sxx
            FROM documents GROUP BY source
        ), st AS (
            SELECT source, nh,
                   CASE WHEN nh > 1 THEN
                       sqrt((CAST(sxx AS DOUBLE)
                             - CAST(sx AS DOUBLE) * sx / nh) / (nh - 1))
                   END AS sh
            FROM st0
        ), tot AS (
            SELECT SUM(nh * sh) AS z, SUM(nh) AS n FROM st
        ), alloc AS (
            SELECT source, nh, sh,
                   {NEYMAN_BUDGET} * nh * sh / tot.z AS n_neyman,
                   {NEYMAN_BUDGET} * nh / CAST(tot.n AS DOUBLE) AS n_prop,
                   tot.n AS n
            FROM st, tot
        ), var AS (
            SELECT SUM(nh * nh * sh * sh / n_neyman) / (ANY_VALUE(n) * ANY_VALUE(n))
                       AS var_neyman,
                   SUM(nh * nh * sh * sh / n_prop) / (ANY_VALUE(n) * ANY_VALUE(n))
                       AS var_prop
            FROM alloc
        )
        SELECT source,
               CAST(nh AS BIGINT) AS n_docs,
               ROUND(sh + 1e-9, 6) AS stddev,
               ROUND(n_neyman + 1e-9, 6) AS n_neyman,
               ROUND(n_prop + 1e-9, 6) AS n_prop,
               ROUND(var.var_neyman + 1e-9, 6) AS var_neyman,
               ROUND(var.var_prop + 1e-9, 6) AS var_prop,
               ROUND(1 - var.var_neyman / var.var_prop + 1e-9, 6) AS var_saving
        FROM alloc, var
    """

ORACLES["x213_sequential_monitor"] = f"""
        WITH days AS (
            SELECT d, NTILE(4) OVER (ORDER BY d) AS q
            FROM (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events)
        ), tagged AS (
            SELECT e.value, dy.q, reduce(list_transform(string_split_regex(substr(md5('ab|' || CAST(user_id AS VARCHAR)), 1, 8), ''), c -> CAST(CASE WHEN c BETWEEN '0' AND '9' THEN ascii(c)-48 ELSE ascii(c)-87 END AS BIGINT)), (a, b) -> a*16+b) % 2 AS g
            FROM events e JOIN days dy ON CAST(e.ts AS DATE) = dy.d
        )
        SELECT 1 AS look,
               CAST(a.n0 + b.n1 AS BIGINT) AS n_cum,
               ROUND(a.m0, 6) AS mean_a,
               ROUND(b.m1, 6) AS mean_b,
               ROUND((b.m1 - a.m0) / sqrt(b.v1 / b.n1 + a.v0 / a.n0), 6) AS z,
               {OBF_BOUNDS[0]!r} AS bound,
               ABS((b.m1 - a.m0) / sqrt(b.v1 / b.n1 + a.v0 / a.n0))
                   > {OBF_BOUNDS[0]!r} AS crossed
        FROM (SELECT COUNT(*) AS n0, AVG(value) AS m0, var_samp(value) AS v0
              FROM tagged WHERE q <= 1 AND g = 0) a,
             (SELECT COUNT(*) AS n1, AVG(value) AS m1, var_samp(value) AS v1
              FROM tagged WHERE q <= 1 AND g = 1) b\n        UNION ALL\n        SELECT 2 AS look,
               CAST(a.n0 + b.n1 AS BIGINT) AS n_cum,
               ROUND(a.m0, 6) AS mean_a,
               ROUND(b.m1, 6) AS mean_b,
               ROUND((b.m1 - a.m0) / sqrt(b.v1 / b.n1 + a.v0 / a.n0), 6) AS z,
               {OBF_BOUNDS[1]!r} AS bound,
               ABS((b.m1 - a.m0) / sqrt(b.v1 / b.n1 + a.v0 / a.n0))
                   > {OBF_BOUNDS[1]!r} AS crossed
        FROM (SELECT COUNT(*) AS n0, AVG(value) AS m0, var_samp(value) AS v0
              FROM tagged WHERE q <= 2 AND g = 0) a,
             (SELECT COUNT(*) AS n1, AVG(value) AS m1, var_samp(value) AS v1
              FROM tagged WHERE q <= 2 AND g = 1) b\n        UNION ALL\n        SELECT 3 AS look,
               CAST(a.n0 + b.n1 AS BIGINT) AS n_cum,
               ROUND(a.m0, 6) AS mean_a,
               ROUND(b.m1, 6) AS mean_b,
               ROUND((b.m1 - a.m0) / sqrt(b.v1 / b.n1 + a.v0 / a.n0), 6) AS z,
               {OBF_BOUNDS[2]!r} AS bound,
               ABS((b.m1 - a.m0) / sqrt(b.v1 / b.n1 + a.v0 / a.n0))
                   > {OBF_BOUNDS[2]!r} AS crossed
        FROM (SELECT COUNT(*) AS n0, AVG(value) AS m0, var_samp(value) AS v0
              FROM tagged WHERE q <= 3 AND g = 0) a,
             (SELECT COUNT(*) AS n1, AVG(value) AS m1, var_samp(value) AS v1
              FROM tagged WHERE q <= 3 AND g = 1) b\n        UNION ALL\n        SELECT 4 AS look,
               CAST(a.n0 + b.n1 AS BIGINT) AS n_cum,
               ROUND(a.m0, 6) AS mean_a,
               ROUND(b.m1, 6) AS mean_b,
               ROUND((b.m1 - a.m0) / sqrt(b.v1 / b.n1 + a.v0 / a.n0), 6) AS z,
               {OBF_BOUNDS[3]!r} AS bound,
               ABS((b.m1 - a.m0) / sqrt(b.v1 / b.n1 + a.v0 / a.n0))
                   > {OBF_BOUNDS[3]!r} AS crossed
        FROM (SELECT COUNT(*) AS n0, AVG(value) AS m0, var_samp(value) AS v0
              FROM tagged WHERE q <= 4 AND g = 0) a,
             (SELECT COUNT(*) AS n1, AVG(value) AS m1, var_samp(value) AS v1
              FROM tagged WHERE q <= 4 AND g = 1) b
    """

ORACLES["x214_crossfit_oof"] = f"""
        WITH e AS (
            SELECT event_type, value, event_id % {OOF_FOLDS} AS fold FROM events
        ), tf AS (
            SELECT event_type, fold, SUM(value) AS sf, COUNT(*) AS nf
            FROM e GROUP BY event_type, fold
        ), t AS (
            SELECT event_type, SUM(sf) AS st, SUM(nf) AS nt FROM tf GROUP BY event_type
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(sqrt(AVG(POW(e.value
                   - (t.st - tf.sf) / CAST(t.nt - tf.nf AS DOUBLE), 2))), 6)
                   AS rmse_oof,
               ROUND(sqrt(AVG(POW(e.value
                   - t.st / CAST(t.nt AS DOUBLE), 2))), 6) AS rmse_infold,
               ROUND(sqrt(AVG(POW(e.value
                   - (t.st - tf.sf) / CAST(t.nt - tf.nf AS DOUBLE), 2)))
                   - sqrt(AVG(POW(e.value
                   - t.st / CAST(t.nt AS DOUBLE), 2))), 6) AS leakage_gap
        FROM e JOIN tf USING (event_type, fold) JOIN t USING (event_type)
    """
