"""Deduplication operators for training-data pipelines (north-star C1/C2).

Five families, each designed for 100 TB:

- exact_dedup: hash-groupBy on a normalized content hash.  One shuffle on
  the hash key; survivor = min(id) so the result is deterministic
  (dropDuplicates alone keeps an arbitrary row).
- exact_jaccard_pairs: shingle→explode→self-join on shingle→group pair.
  Exact but quadratic in the worst case — the correctness oracle for the
  approximate variants, run on samples / small SF.
- minhash signatures + LSH banding: the scale path.  Signatures are
  md5-based lexicographic minima (engine-portable, fully deterministic —
  no RNG), banded so candidate generation is an equi-join on
  (band, bucket): shuffle is proportional to candidates, not pairs.
- simhash: 16-bit deterministic simhash from per-token md5 bits; equal
  fingerprints → near-dup bucket.  A single groupBy.
- embedding near-dup: cosine ≥ τ pairs; candidates pre-bucketed with
  sign-bit LSH (operators/similarity.py) and equi-joined on the bucket key
  so the cross product never goes n² (the exact all-pairs recall anchor
  lives in the tests).

Every variant is expressible in ANSI SQL (see queries/l_series.py oracles).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from social_warner_spark.functions.text import tokens
from social_warner_spark.functions.vectors import l2_norm

#: Label-propagation rounds before `propagate_min_labels` gives up.
MAX_ITERS = 20

#: MinHash banding of `incremental_neardup_matches`: 8 hashes in 4 bands
#: of 2 rows (x51's oracle mirrors it).
INCREMENTAL_HASHES = 8
INCREMENTAL_BANDS = 4
INCREMENTAL_ROWS = 2


def content_hash(text: Column) -> Column:
    """sha256 of lower(trim(text)) — the exact-dedup key (SURVEY.md L1)."""
    return F.sha2(F.lower(F.trim(text)), 256)


def exact_dedup(df: DataFrame) -> DataFrame:
    """Deterministic exact dedup: one row per content hash, min(id) wins.

    Single hash-shuffle on the content hash; partial aggregation (min) is
    map-side combined, so skew on popular duplicates is absorbed before the
    shuffle.
    """
    return (
        df.select(content_hash(F.col("text")).alias("content_hash"), F.col("doc_id"))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("doc_id"))
    )


def segment_dedup(df: DataFrame, seg_tokens: int = 4) -> DataFrame:
    """Segment-level exact dedup with document reassembly (the
    paragraph-dedup pass of web-crawl pipelines, done at fixed
    ``seg_tokens``-token granularity since the corpus has no paragraph
    marks).  Global first-occurrence-wins: a segment survives only at its
    lexicographically smallest (id, segment index); every later repeat
    anywhere in the corpus is dropped, and each document is rebuilt from
    its surviving segments in order.

    Returns (id, n_segs, n_kept, clean_text) for EVERY input document —
    a fully-duplicated document comes back with n_kept=0 and empty text.

    Scale shape: two shuffles — a window partitioned by segment text
    (high cardinality, no skew beyond true duplicates, which map-side
    nothing can absorb since ordering matters) and the regroup by id.
    The segment explode is ~|tokens|/seg_tokens rows per doc, never n².
    """
    d = df.select(F.col("doc_id").alias("_id"), F.split(F.col("text"), " ").alias("_t"))
    n_seg = F.ceil(F.size("_t") / F.lit(float(seg_tokens))).cast("int")
    seg_at = lambda i: F.array_join(
        F.slice(F.col("_t"), (i - 1) * seg_tokens + 1, seg_tokens), " "
    )
    segs = d.select(
        "_id", F.posexplode(F.transform(F.sequence(F.lit(1), n_seg), seg_at)).alias("_i0", "para")
    ).select("_id", (F.col("_i0") + 1).cast("long").alias("seg_idx"), "para")

    from pyspark.sql import Window

    w = Window.partitionBy("para").orderBy("_id", "seg_idx")
    ranked = segs.withColumn("_keep", F.row_number().over(w) == 1)
    kept = F.when(F.col("_keep"), F.struct("seg_idx", "para"))
    return (
        ranked.groupBy("_id")
        .agg(
            F.count("*").alias("n_segs"),
            F.sum(F.col("_keep").cast("long")).alias("n_kept"),
            F.array_join(
                F.transform(F.array_sort(F.collect_list(kept)), lambda s: s["para"]), " "
            ).alias("clean_text"),
        )
        .withColumnRenamed("_id", "doc_id")
    )


def doc_shingles(df: DataFrame, n: int = 3) -> DataFrame:
    """(id, shingle) distinct pairs — the input to Jaccard and MinHash.

    ``array_distinct`` runs INSIDE the generator expression, so (id,
    shingle) is unique by construction with zero shuffle — the old
    ``explode(...).distinct()`` formulation paid a full Exchange for the
    same result.

    The shape here is load-bearing (measured 40× on the shingle bench
    queries): the whole ``array_distinct(shingles(...))`` expression must
    live in the Generate node, with ``_toks`` staged in the projection
    below it.  Materializing the array as its own Project column instead
    lets CollapseProject inline ``tokens()`` into the shingle lambda's
    ``element_at`` references (Catalyst does not CSE inside higher-order
    function lambdas), re-splitting the text once per shingle.  Generate
    is a collapse barrier, so the generator's references to ``_toks``
    stay attribute reads.
    """
    from social_warner_spark.functions.text import shingles_from_tokens

    staged = df.select(F.col("doc_id"), tokens(F.col("text")).alias("_toks"))
    return staged.select(
        F.col("doc_id"),
        F.explode(F.array_distinct(shingles_from_tokens(F.col("_toks"), n))).alias("shingle"),
    )


# r11 note: a multi-width variant (one tokenize+explode pass tagging
# both 3- and 4-gram shingles, shared between x31's near-dup prune and
# its decontamination check) was built and MEASURED SLOWER at sf0.1
# (5.2-5.9 s vs 4.7-5.4 s baseline): persisting the single-consumer
# 4-gram rows alongside the 3-gram ones doubles the cached relation the
# prune's self-join + sizes re-read.  Rejected and removed; evidence in
# PERF.md ("Rounds 10–11 — optimization record").  Porting hazard found
# there, recorded for the next attempt: a two-parameter Python lambda
# passed to F.transform is bound as (element, INDEX) — a
# `lambda s, _n=n:` closure tags rows with the array position, not the
# captured width.


def exact_jaccard_pairs(df: DataFrame, threshold: float) -> DataFrame:
    """All pairs (a < b) with shingle-Jaccard ≥ threshold, exactly.

    Plan: per-doc-distinct (id, shingle) rows → self equi-join on
    shingle (shuffle on shingle) → count shared per pair → attach
    per-doc sizes (one small agg over the cached relation, joined onto
    the PAIR relation) → SIZE-RATIO FILTER (J ≥ t requires
    min(|A|,|B|) ≥ t·max(|A|,|B|) — a necessary condition, so applying
    it before the final threshold changes nothing) →
    J = shared / (|A|+|B|-shared).

    The sizes attach AFTER the pair aggregation (r10): with no size
    columns on the join inputs, the two sides of the self-join are
    structurally identical (same Project over the same persisted
    shingle relation), so Spark's ReuseExchange collapses their two
    Exchanges into ONE — the corpus-sized shingle relation is shuffled
    once, not twice, and the sizes joins touch only the (a, b, shared)
    pair relation, which the map-side partial aggregation has already
    compacted.  Measured at sf0.1: 12 → 10 Exchanges, l2 core
    2.06 s → 1.25 s median, byte-identical output.  The self-join
    carries an explicit SHUFFLE_MERGE hint: its two sides are the same
    relation, so a broadcast (what AQE picks from small-SF size
    estimates) builds a driver-side hash relation of the whole corpus —
    never scale-correct for a self-join, and measured ~1 s slower even
    locally.

    The shingle relation is consumed multiple times (join sides +
    sizes); persisting it turns the explode recomputations into
    one.  At cluster scale the equivalent is staging it to a temp
    table — the lineage cut matters more than the storage level.  The
    persisted handle is registered for host-controlled release (see
    caching.py).
    """
    from social_warner_spark.caching import register_persisted

    sh = register_persisted(doc_shingles(df).persist())
    # Per-doc sizes are a |docs|-row relation — CORPUS-sized at 100 TB,
    # so the join side choice belongs to AQE (an explicit F.broadcast
    # here would bypass autoBroadcastJoinThreshold and OOM where AQE
    # would demote to a shuffle join.  At small SF AQE still broadcasts
    # them on its own size estimate).  Joined onto the PAIR relation
    # post-agg, never onto the join inputs — see docstring.
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    sz_a = sizes.select(F.col("doc_id").alias("a"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col("doc_id").alias("b"), F.col("sz").alias("sz_b"))
    # necessary condition for J ≥ t (tiny epsilon only ever LOOSENS it, so
    # no boundary pair is lost to float representation of t·sz)
    ratio_ok = (
        F.col("sz_b") >= F.col("sz_a") * threshold - F.lit(1e-9)
    ) & (F.col("sz_a") >= F.col("sz_b") * threshold - F.lit(1e-9))
    a = sh.select(F.col("doc_id").alias("a"), "shingle")
    b = sh.select(F.col("doc_id").alias("b"), "shingle")
    shared = (
        a.join(b.hint("shuffle_merge"), "shingle")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("shared"))
        .join(sz_a, "a")
        .join(sz_b, "b")
        .where(ratio_ok)
    )
    out = (
        shared.withColumn(
            "jaccard",
            F.round(
                F.col("shared") / (F.col("sz_a") + F.col("sz_b") - F.col("shared")), 6
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select(
            F.col("a").alias("doc_id_a"), F.col("b").alias("doc_id_b"), "jaccard"
        )
    )
    return out


def neardup_clusters(df: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Transitive near-dup clusters: label every document with the MIN id
    reachable through Jaccard-≥-threshold pairs (its connected-component
    representative).  Pairwise pruning alone under-merges A~B~C chains
    where A≁C; the component label is what a real dedup keep-one-per-
    cluster policy needs.

    Algorithm: iterative min-label propagation (each round, every node
    takes the min of its own and its neighbors' labels) — converges in
    O(component diameter) rounds, each round one equi-join edges⋈labels
    plus a min-aggregate.  This is the standard large-graph connected-
    components recipe on Spark (no recursive SQL needed); near-dup
    components are shallow, so 2–3 rounds in practice.  The only
    driver-side value is the per-round convergence flag (one scalar).

    r06: rounds run over EDGE-INCIDENT nodes only — a singleton doc's
    label can never change, so propagating |corpus| labels per round
    (as before) did |corpus|/|edge nodes| times too much join,
    aggregate, and checkpoint work.  Singletons rejoin as their own
    cluster at the end via one left join.  At realistic near-dup
    incidence (a few percent of the corpus touches any edge) this cuts
    per-round cost by 10-100×; output is identical.

    Lineage: the edge relation and each round's labels are eagerly
    ``localCheckpoint``-ed — without the cut, every round's plan embeds
    the full shingle-join lineage again and downstream consumers
    (x119/x138 compose this operator) pay Catalyst analysis cost
    exponential in round count.  On a multi-executor cluster prefer
    ``checkpoint()`` to a reliable dir for fault-tolerance; local mode
    has no executor loss to survive.
    """
    pairs = exact_jaccard_pairs(df, threshold).select(
        "doc_id_a", "doc_id_b"
    )
    labels = propagate_min_labels(pairs)

    # labels is materialized by the final round's localCheckpoint (or the
    # initial one when there are no edges); singleton docs — never in any
    # pair — are their own cluster and rejoin with one left join.
    return df.select(F.col("doc_id").alias("id")).join(labels, "id", "left").select(
        F.col("id").alias("doc_id"),
        F.coalesce(F.col("lab"), F.col("id")).alias("cluster_id"),
    )


def propagate_min_labels(pairs: DataFrame) -> DataFrame:
    """Connected-component labels over an undirected pair relation:
    ``(id, lab)`` for every EDGE-INCIDENT node, where ``lab`` is the
    component's minimum id.  The min-label propagation core of
    `neardup_clusters`, shared here so arbitrary-topology inputs
    (cycles, stars, multi-component — tests/test_property.py's
    union-find sweep) can drive it without synthesizing document text.

    ``pairs`` is any 2-column (a, b) edge relation; both orientations
    are added internally.  Raises RuntimeError if ``MAX_ITERS`` rounds
    pass without convergence.  The folded initialization (r10) already
    performs round 1, so the ``MAX_ITERS`` loop rounds cover components
    of diameter up to ``MAX_ITERS + 1`` — one more than the pre-fold
    bound."""
    a_col, b_col = pairs.columns[:2]
    und = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    edges = und.unionByName(
        und.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)
    # Both directions are present, so src alone covers every incident node.
    # r10: label initialization FOLDS ROUND 1.  With lab₀ = id, the first
    # round's update is lab₁ = least(id, min over neighbors of their id)
    # = least(src, min(dst)) — one aggregate over the edge relation, no
    # join needed.  The old init (distinct src, lab = id) spent a full
    # join+agg+checkpoint+probe round deriving exactly these values.
    # Same monotone fixpoint, identical output, one fewer round per run
    # (and at 100 TB, one fewer edges⋈labels shuffle of the whole edge
    # relation).  The distinct() is absorbed too: groupBy(src) IS the
    # dedup of incident nodes.
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("_mndst"))
        .select(
            F.col("src").alias("id"),
            F.least(F.col("src"), F.col("_mndst")).alias("lab"),
        )
        .localCheckpoint(eager=True)
    )

    for _ in range(MAX_ITERS):
        neigh = (
            edges.join(labels, edges["dst"] == labels["id"])
            .groupBy("src")
            .agg(F.min("lab").alias("nlab"))
        )
        # r08: the convergence flag is derived IN the update select —
        # nlab < lab is exactly "this row's label improved" — so the
        # old separate labels⋈labels changed-check (a shuffle join of
        # two edge-incident-scale relations PER ROUND at 100 TB) is
        # gone; the flag probe reads the already-checkpointed rows.
        updated = (
            labels.alias("l")
            .join(neigh.alias("n"), F.col("l.id") == F.col("n.src"), "left")
            .select(
                F.col("l.id").alias("id"),
                F.least(
                    F.col("l.lab"), F.coalesce(F.col("n.nlab"), F.col("l.lab"))
                ).alias("lab"),
                (F.col("n.nlab") < F.col("l.lab")).alias("_chg"),
            )
        )
        updated = updated.localCheckpoint(eager=True)
        changed = updated.where(F.col("_chg")).limit(1).count()
        labels = updated.select("id", "lab")
        if changed == 0:
            break
    else:
        raise RuntimeError(f"label propagation did not converge in {MAX_ITERS} rounds")
    return labels


def minhash_signature_cols(num_hashes: int) -> list[Column]:
    """Deterministic MinHash: for seed i, min over shingles of
    md5(i || '|' || shingle), compared lexicographically.

    A lexicographic min over an (approximately) uniform hash image is a
    valid min-wise permutation; md5 makes the exact signature reproducible
    in any engine (no RNG, no platform-dependent hash()).
    """
    return [
        F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("shingle")))).alias(f"mh_{i}")
        for i in range(num_hashes)
    ]


def minhash_signatures(
    df: DataFrame, num_hashes: int = 12, shingles: DataFrame | None = None
) -> DataFrame:
    """One row per doc: id + mh_0..mh_{k-1}.  Single shuffle on id; the k
    mins are partial-aggregated map-side.  Pass a precomputed (persisted)
    ``shingles`` relation when the caller also consumes it elsewhere —
    avoids re-running the explode+distinct lineage."""
    sh = shingles if shingles is not None else doc_shingles(df)
    return sh.groupBy("doc_id").agg(*minhash_signature_cols(num_hashes))


def minhash_band_keys(
    signatures: DataFrame,
    bands: int,
    rows_per_band: int,
    out_id: str | None = None,
) -> DataFrame:
    """(id, band_0..band_{bands-1}): band key = '#'-joined slice of the
    mh_ columns.  THE single banding recipe — both the self-join
    (lsh_candidate_pairs) and cross-set (incremental_neardup_matches)
    candidate generators use it, so the mirrored _BANDS_SQL oracles can
    never desynchronize between them."""
    mh_cols = [c for c in signatures.columns if c.startswith("mh_")]
    assert len(mh_cols) >= bands * rows_per_band
    return signatures.select(
        F.col("doc_id").alias(out_id or "doc_id"),
        *[
            F.concat_ws("#", *mh_cols[b * rows_per_band : (b + 1) * rows_per_band]).alias(
                f"band_{b}"
            )
            for b in range(bands)
        ],
    )


def band_keys_long(
    banded: DataFrame, bands: int, id_col: str, out_id: str
) -> DataFrame:
    """Melt wide band_0..band_{bands-1} columns into (id, band, bk) rows.

    The long form lets ALL bands join in ONE equi-join on (band, bk)
    instead of a union of per-band joins — the signature aggregation
    upstream is computed once, not `bands` times (measured 4× shuffle
    reduction on the candidate generators at bands=4).
    """
    keyed = F.array(
        *[
            F.struct(F.lit(b).alias("band"), F.col(f"band_{b}").alias("bk"))
            for b in range(bands)
        ]
    )
    return banded.select(
        F.col(id_col).alias(out_id), F.explode(keyed).alias("_s")
    ).select(out_id, F.col("_s.band").alias("band"), F.col("_s.bk").alias("bk"))


def lsh_candidate_pairs(
    signatures: DataFrame, bands: int, rows_per_band: int
) -> DataFrame:
    """Band the signature into `bands` buckets of `rows_per_band` hashes;
    docs sharing any band bucket are candidates.

    Candidate generation = ONE equi-self-join on (band, band key) over the
    melted band relation — shuffle cost scales with matches, never with
    n², and the signature aggregation runs once (not per band; Catalyst
    reuses the exchange across the self-join's two sides).
    """
    banded = minhash_band_keys(signatures, bands, rows_per_band)
    long = band_keys_long(banded, bands, "doc_id", "a")
    pairs = (
        long.join(long.withColumnRenamed("a", "b"), ["band", "bk"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
    )
    return pairs.distinct().select(
        F.col("a").alias("doc_id_a"), F.col("b").alias("doc_id_b")
    )


def minhash_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    num_hashes: int = 12,
    bands: int = 4,
    rows_per_band: int = 3,
) -> DataFrame:
    """MinHash+LSH candidates, verified with exact Jaccard (so output is
    exact-precision; recall is the approximate part, tested by tolerance).

    r07: verification RE-SCORES THE CANDIDATE PAIRS ONLY (join the pair
    relation to the full shingle relation twice on equi-keys, count
    shared shingles).  The old form joined candidates against the FULL
    exact_jaccard_pairs output, so the corpus-wide shingle self-join ran
    regardless and the "scale path" cost ≥ the exact path it fronts
    (r06 verdict task 1).  Now every join is keyed by candidate id or
    (id, shingle): shuffle ∝ |candidates|·avg|doc shingles|, never
    corpus².  Output is unchanged — candidates ∩ {J ≥ threshold}, with
    the identical 6dp-rounded exact Jaccard.

    The shingle relation feeds signatures, sizes, AND the rescore —
    persisted once (registered for host release, caching.py)."""
    from social_warner_spark.caching import register_persisted

    sh = register_persisted(doc_shingles(df).persist())
    cands = lsh_candidate_pairs(
        minhash_signatures(df, num_hashes, shingles=sh),
        bands,
        rows_per_band,
    ).select(F.col("doc_id_a").alias("a"), F.col("doc_id_b").alias("b"))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    # exact re-score over the FULL shingle sets: (b, shingle) is an
    # equi-join key, so no row explosion beyond |cands| · |A|.  Every
    # LSH candidate shares its banding shingle, so the inner join loses
    # no pair with J > 0 (and a shared-nothing pair has J = 0 < t).
    shared = (
        cands.join(sh.select(F.col("doc_id").alias("a"), "shingle"), "a")
        .join(sh.select(F.col("doc_id").alias("b"), "shingle"), ["b", "shingle"])
        .groupBy("a", "b")
        .agg(F.count("*").alias("shared"))
    )
    return (
        shared.join(sizes.select(F.col("doc_id").alias("a"), F.col("sz").alias("sz_a")), "a")
        .join(sizes.select(F.col("doc_id").alias("b"), F.col("sz").alias("sz_b")), "b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("shared") / (F.col("sz_a") + F.col("sz_b") - F.col("shared")), 6
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select(
            F.col("a").alias("doc_id_a"), F.col("b").alias("doc_id_b"), "jaccard"
        )
    )


def incremental_neardup_matches(
    new: DataFrame, corpus: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """Screen a NEW batch against an EXISTING corpus: for each new doc with
    any corpus near-dup (Jaccard ≥ threshold), return its best match
    (max jaccard, ties → lowest corpus id).

    The shape real training pipelines need before appending a crawl
    increment: dedup new-vs-existing, never re-pair the whole corpus.

    100 TB posture: the new batch is small by construction, so its band
    keys BROADCAST into each per-band candidate join — the corpus computes
    signatures (one groupBy) but never shuffles on band key or content;
    exact verification then touches only candidate corpus docs' shingles
    (two equi-joins, candidates × shingles rows).
    """
    from social_warner_spark.caching import register_persisted

    # each shingle relation feeds three consumers (signatures, verification
    # join, sizes) — persist once, same as exact_jaccard_pairs
    sh_n = register_persisted(doc_shingles(new).persist())
    sh_c = register_persisted(doc_shingles(corpus).persist())
    sig_n = minhash_signatures(new, INCREMENTAL_HASHES, shingles=sh_n)
    sig_c = minhash_signatures(corpus, INCREMENTAL_HASHES, shingles=sh_c)

    bn = minhash_band_keys(sig_n, INCREMENTAL_BANDS, INCREMENTAL_ROWS, out_id="new_id")
    bc = minhash_band_keys(sig_c, INCREMENTAL_BANDS, INCREMENTAL_ROWS, out_id="corpus_id")
    # ONE equi-join on (band, band key) over the melted band relations —
    # the corpus signature aggregation runs once, not per band, and the
    # (small) new batch's keys broadcast so the corpus side never shuffles
    cands = (
        band_keys_long(bc, INCREMENTAL_BANDS, "corpus_id", "corpus_id")
        .join(F.broadcast(band_keys_long(bn, INCREMENTAL_BANDS, "new_id", "new_id")), ["band", "bk"])
        .select("new_id", "corpus_id")
        .distinct()
    )

    shared = (
        cands.join(sh_n.select(F.col("doc_id").alias("new_id"), "shingle"), "new_id")
        .join(
            sh_c.select(F.col("doc_id").alias("corpus_id"), "shingle"),
            ["corpus_id", "shingle"],
        )
        .groupBy("new_id", "corpus_id")
        .agg(F.count("*").alias("shared"))
    )
    sizes_n = sh_n.groupBy("doc_id").agg(F.count("*").alias("sz_n"))
    sizes_c = sh_c.groupBy("doc_id").agg(F.count("*").alias("sz_c"))
    scored = (
        # new-batch sizes broadcast (small side by construction); corpus
        # sizes stay a plain equi-join — |corpus| rows must never broadcast
        shared.join(F.broadcast(sizes_n.withColumnRenamed("doc_id", "new_id")), "new_id")
        .join(sizes_c.withColumnRenamed("doc_id", "corpus_id"), "corpus_id")
        .withColumn(
            "jaccard",
            F.round(
                F.col("shared") / (F.col("sz_n") + F.col("sz_c") - F.col("shared")), 6
            ),
        )
        .where(F.col("jaccard") >= threshold)
    )
    from pyspark.sql import Window

    w = Window.partitionBy("new_id").orderBy(F.desc("jaccard"), F.asc("corpus_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            F.col("new_id").alias("doc_id"),
            F.col("corpus_id").alias("match_id"),
            "jaccard",
        )
    )


def simhash_bits(text: Column, bits: int = 16) -> Column:
    """Deterministic simhash fingerprint as a `bits`-char '0'/'1' string.

    Bit j's token contribution = +1 if hex digit j of md5(token) ≥ '8'
    else -1 (i.e. the top bit of that hex nibble); fingerprint bit j = 1 if
    the sum over distinct tokens is positive.  Engine-portable: only md5,
    substring and sums.
    """
    assert bits <= 32  # one hex digit per bit
    toks = F.array_distinct(tokens(text))
    def bit_folder(j: int):
        def fold(acc, t):
            return acc + F.when(
                F.substring(F.md5(t), j + 1, 1) >= "8", F.lit(1)
            ).otherwise(F.lit(-1))

        return fold

    bit_terms = []
    for j in range(bits):
        contrib = F.aggregate(toks, F.lit(0), bit_folder(j))
        bit_terms.append(F.when(contrib > 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bit_terms)


def simhash_fingerprints(df: DataFrame, bits: int = 16) -> DataFrame:
    return df.select(F.col("doc_id"), simhash_bits(F.col("text"), bits).alias("simhash"))


def sign_band_key(vec: Column, band: int, planes_per_band: int) -> Column:
    """Band `band`'s sign-LSH key: sign bits of dimensions
    [band·p+1 .. band·p+p] (1-indexed).  Deterministic, SQL-portable —
    the random-hyperplane LSH family specialized to axis hyperplanes so
    the DuckDB oracle can mirror it bit for bit (single recipe:
    functions/vectors.sign_bits)."""
    from social_warner_spark.functions.vectors import sign_bits

    return sign_bits(vec, band * planes_per_band, planes_per_band)


def embedding_neardup_pairs(
    df: DataFrame,
    threshold: float,
    bands: int = 6,
    planes_per_band: int = 3,
) -> DataFrame:
    """Pairs (a < b) with cosine ≥ threshold, candidates from banded
    sign-bit LSH (the MinHash-banding recipe applied to random-hyperplane
    sketches).

    Candidate generation is ONE equi-self-join on (band, band key) over
    the melted band relation — per band the cross product is sliced
    ≈ n²/2^planes_per_band, and the join shuffles on band keys, never
    all-pairs.  Per-band miss
    probability multiplies across bands (recall ≈ 1−(1−p^planes)^bands), so
    recall is tuned by bands while pruning is tuned by planes_per_band; at
    production τ (≥0.9) raise planes_per_band to sharpen buckets.  Distinct
    candidates are scored once: two id equi-joins pull the vectors, then
    one JVM-side cosine per pair.
    """
    from social_warner_spark.functions.vectors import cosine_prenormed, scoring_vec

    keyed = df.select(
        F.col("vec_id"),
        *[
            sign_band_key(F.col("embedding"), b, planes_per_band).alias(f"band_{b}")
            for b in range(bands)
        ],
    )
    # melt to (id, band, key) rows — one equi-join instead of a
    # per-band join loop (the banding map is narrow and cheap, so no
    # persist is needed; Catalyst reuses the exchange across the
    # self-join's sides)
    long = band_keys_long(keyed, bands, "vec_id", "a")
    pairs = (
        long.join(long.withColumnRenamed("a", "b"), ["band", "bk"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
    )
    # norms computed ONCE per vector (n rows), not per candidate pair —
    # per-pair work is the dot product alone (cosine_prenormed evaluates
    # the identical float expression tree as cosine(), so oracle rounding
    # is unaffected).
    va = df.select(
        F.col("vec_id").alias("a"),
        scoring_vec(F.col("embedding")).alias("va"),
        l2_norm(F.col("embedding")).alias("na"),
    )
    vb = df.select(
        F.col("vec_id").alias("b"),
        scoring_vec(F.col("embedding")).alias("vb"),
        l2_norm(F.col("embedding")).alias("nb"),
    )
    scored = (
        pairs.distinct()
        .join(va, "a")
        .join(vb, "b")
        .withColumn(
            "cos",
            F.round(
                cosine_prenormed(F.col("va"), F.col("vb"), F.col("na"), F.col("nb")),
                6,
            ),
        )
    )
    return (
        scored.where(F.col("cos") >= threshold)
        .select(F.col("a").alias("vec_id_a"), F.col("b").alias("vec_id_b"), "cos")
    )


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.35,
    nlist: int = 8,
    iters: int = 1,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings with the deterministic IVF
    centroids (similarity.py:ivf_centroids — seeded + 6dp-rounded Lloyd
    means, so the whole pipeline stays oracle-checkable), then within each
    cluster drop every vector that has a LOWER-id neighbor at rounded
    cosine ≥ threshold.  Survivors: (id, cluster).

    The cluster assignment IS the blocking structure — the pairwise
    cosine join is an equi-join on ``cluster``, never corpus×corpus.
    At 100 TB the knob is ``nlist``: SemDeDup's design point is
    nlist ∝ |corpus| / target-cluster-size, which bounds the per-cluster
    m² term to a constant while the clustering itself stays one broadcast
    cross-score per Lloyd step (centroids are broadcast; the corpus never
    shuffles on content).  A pathologically hot cluster is the residual
    skew risk — AQE skew-join splits it, and raising nlist shrinks it
    structurally.

    The assignment is persisted: it feeds both sides of the pair join and
    the final anti-join, and each recomputation would redo the centroid
    cross-score.
    """
    from social_warner_spark.caching import register_persisted
    from social_warner_spark.operators.similarity import ivf_assign, ivf_centroids

    centroids = register_persisted(
        ivf_centroids(corpus, nlist, iters).persist()
    )
    assigned = register_persisted(
        ivf_assign(corpus, centroids).persist()
    )
    from social_warner_spark.functions.vectors import cosine_prenormed, scoring_vec

    a = assigned.select(
        F.col("vec_id").alias("a"),
        "cluster",
        scoring_vec(F.col("embedding")).alias("va"),
        l2_norm(F.col("embedding")).alias("na"),
    )
    b = assigned.select(
        F.col("vec_id").alias("b"),
        "cluster",
        scoring_vec(F.col("embedding")).alias("vb"),
        l2_norm(F.col("embedding")).alias("nb"),
    )
    dupes = (
        a.join(b, "cluster")
        .where(F.col("a") < F.col("b"))
        .where(
            F.round(
                cosine_prenormed(F.col("va"), F.col("vb"), F.col("na"), F.col("nb")),
                6,
            )
            >= threshold
        )
        .select(F.col("b").alias("vec_id"))
        .distinct()
    )
    return assigned.join(dupes, "vec_id", "left_anti").select("vec_id", "cluster")


def containment_pairs(df: DataFrame, threshold: float = 0.8) -> DataFrame:
    """ASYMMETRIC near-dup detection: pairs where the smaller document's
    shingle set is ≥ ``threshold`` contained in the larger's —
    C = |A∩B| / min(|A|,|B|).  Containment catches excerpts/quotations
    (a 50-shingle doc fully inside a 5000-shingle doc has Jaccard ≈ 0.01
    but containment 1.0), which symmetric Jaccard — and its size-ratio
    candidate prefilter — deliberately ignores.

    Same persisted-shingle machinery as exact_jaccard_pairs, but NO
    size-ratio pruning (size-mismatched pairs are the whole point).
    Shuffle ∝ shared-shingle candidate pairs.
    """
    from social_warner_spark.caching import register_persisted

    sh = register_persisted(doc_shingles(df).persist())
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
        )
        .agg(F.count("*").alias("shared"))
    )
    sa = sizes.withColumnsRenamed({"doc_id": "doc_id_a", "sz": "_sa"})
    sb = sizes.withColumnsRenamed({"doc_id": "doc_id_b", "sz": "_sb"})
    return (
        # sizes is |docs|-scaled: no explicit broadcast hint — the side
        # choice belongs to AQE (r05 verdict: a hint bypasses the size
        # threshold and OOMs at 100 TB).
        shared.join(sa, "doc_id_a")
        .join(sb, "doc_id_b")
        .select(
            "doc_id_a",
            "doc_id_b",
            "shared",
            F.round(
                F.col("shared") / F.least(F.col("_sa"), F.col("_sb")), 6
            ).alias("containment"),
        )
        .where(F.col("containment") >= threshold)
    )


def prefix_filter_jaccard_pairs(df: DataFrame, threshold: float = 0.5) -> DataFrame:
    """EXACT Jaccard pairs via PREFIX FILTERING (Chaudhuri et al. 2006 /
    PPJoin): identical results to exact_jaccard_pairs, but the candidate
    self-join runs only on each document's ⌊(1−t)·|A|⌋+1 globally RAREST
    shingles.  Correctness: two sets with J ≥ t overlap in ≥ t·|A| items,
    so under any GLOBAL shingle order they must share at least one item
    inside each other's (1−t)-prefix — no false negatives, by pigeonhole.

    Scale shape vs l2: the self-join relation shrinks from |shingles| to
    the prefix rows (≈(1−t) of them), AND the frequency-ascending order
    puts the rarest shingles in prefixes, so hot shingles (the skew
    killers) rarely generate candidates at all — the prefix order is the
    package's hot-shingle skew defence, with no frequency cap to tune
    (PERF.md "Hot-shingle skew").  Verification uses
    sorted per-doc shingle arrays (array_intersect per candidate, like
    triangle_count's adjacency intersect) — per-pair cost O(|A|+|B|),
    no second shingle shuffle."""
    from social_warner_spark.caching import register_persisted

    sh = register_persisted(doc_shingles(df).persist())
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    freq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    ranked = (
        sh.join(freq, "shingle")
        .join(sizes, "doc_id")
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("shingle"))
            ),
        )
    )
    # The verification rule is ROUND(J, 6) ≥ t, which admits pairs whose
    # TRUE Jaccard sits up to half a rounding grain below t — outside the
    # pigeonhole guarantee for prefixes sized at t (observed: a true-J
    # 0.7999996 pair rounding to 0.8 was prefix-missed at sf0.1).  Size
    # prefixes for t minus one grain so every round-admissible pair is
    # covered; the exact verification step keeps the output identical.
    t_eff = threshold - 1e-6
    prefix = ranked.where(
        F.col("_rn") <= F.floor((1 - t_eff) * F.col("sz")) + 1
    ).select("doc_id", "shingle")
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
        )
        .distinct()
    )
    arrs = sh.groupBy("doc_id").agg(F.array_sort(F.collect_list("shingle")).alias("_arr"))
    scored = (
        cand.join(
            arrs.withColumnsRenamed({"doc_id": "doc_id_a", "_arr": "_aa"}), "doc_id_a"
        )
        .join(arrs.withColumnsRenamed({"doc_id": "doc_id_b", "_arr": "_ab"}), "doc_id_b")
        .select(
            "doc_id_a",
            "doc_id_b",
            F.size(F.array_intersect(F.col("_aa"), F.col("_ab"))).alias("_ov"),
            F.size("_aa").alias("_sa"),
            F.size("_ab").alias("_sb"),
        )
        .select(
            "doc_id_a",
            "doc_id_b",
            F.round(
                F.col("_ov")
                / (F.col("_sa") + F.col("_sb") - F.col("_ov")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )
    return scored.where(F.col("jaccard") >= threshold)


def duplicated_spans(docs: DataFrame, *, w: int = 8) -> DataFrame:
    """Maximal cross-document duplicated token spans (ExactSubstr
    complement — Lee et al., arXiv:2107.06499).

    A position is "duplicated" when the ``w``-token shingle starting
    there occurs in ≥2 distinct documents; per document, overlapping/
    adjacent duplicated positions (gap ≤ w) merge into maximal spans via
    gaps-and-islands.  Returns one row per document that has ≥1 span:
    (id, n_dup_spans, dup_tokens, dup_frac).

    Scale: only 16-hex-char shingle hashes cross the wire — one
    partial-agg shuffle to find shared hashes, one equi-join back, and
    a per-document window whose partitions are bounded by document
    length.  The text column itself never shuffles.
    """
    from social_warner_spark.functions.text import shingles_from_tokens

    d = docs.select(F.col("doc_id").alias("_id"), tokens(F.col("text")).alias("_toks"))
    d = d.select("_id", F.size("_toks").alias("_n"), "_toks")
    sh = d.select(
        "_id",
        "_n",
        F.posexplode(shingles_from_tokens(F.col("_toks"), w)).alias("_pos", "_sh"),
    ).select("_id", "_n", "_pos", F.substring(F.md5("_sh"), 1, 16).alias("_h"))
    dup = (
        sh.groupBy("_h")
        .agg(F.count_distinct("_id").alias("_nd"))
        .where(F.col("_nd") >= 2)
        .select("_h")
    )
    hits = sh.join(dup, "_h").select("_id", "_n", "_pos")
    win = Window.partitionBy("_id").orderBy("_pos")
    isl = hits.withColumn(
        "_nf",
        F.when(F.col("_pos") - F.lag("_pos").over(win) <= w, F.lit(0)).otherwise(F.lit(1)),
    ).withColumn("_g", F.sum("_nf").over(win))
    spans = isl.groupBy("_id", "_n", "_g").agg(
        F.min("_pos").alias("_s0"), (F.max("_pos") + w - 1).alias("_s1")
    )
    return (
        spans.groupBy("_id", "_n")
        .agg(
            F.count("*").alias("n_dup_spans"),
            F.sum(F.col("_s1") - F.col("_s0") + 1).alias("dup_tokens"),
        )
        .select(
            F.col("_id").alias("doc_id"),
            "n_dup_spans",
            "dup_tokens",
            F.round(F.col("dup_tokens") / F.col("_n").cast("double"), 6).alias("dup_frac"),
        )
    )
