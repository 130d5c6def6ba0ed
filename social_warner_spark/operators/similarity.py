"""Similarity search over embedding columns (north-star C3; SURVEY.md L3).

Exact and approximate top-k tiers, each recall-checked against the exact
one:

- cosine_topk: exact brute force.  Probes are broadcast (they're the small
  side by construction); scoring is a JVM-side map over the full corpus —
  embarrassingly parallel, no shuffle until the final per-probe top-k
  (a windowed rank over probe partitions, which AQE keeps tight because the
  scored relation is already filtered to k·|probes| candidates only at the
  window, not before — so the shuffle carries |corpus|·|probes| rows ONLY
  when probes are few; for large probe sets use the bucketed variant).
- cosine_topk_bucketed: sign-bit LSH (axis hyperplanes) — corpus and probes
  bucketed by the sign pattern of the first `planes` dimensions; candidates
  share a bucket.  Recall measured against cosine_topk in tests.
- cosine_topk_ivf: inverted-file probing over seeded k-means centroids.
- l2_topk_pq: product-quantized asymmetric distances with an optional
  exact re-rank of the shortlist.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window


def _ranked_topk(scored: DataFrame, k: int) -> DataFrame:
    """Per-probe top-k by (rounded cosine desc, neighbor id) — rounding
    before ranking makes tie order engine-independent."""
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("probe_id", "neighbor_id", "cos", "rk")
    )


def cosine_topk(corpus: DataFrame, probes: DataFrame, k: int = 5) -> DataFrame:
    """Exact top-k cosine neighbors for each probe (self-matches excluded).

    Norms are staged per VECTOR (not per pair): the fold lambdas run
    interpreted, so the pair expression is one dot fold via
    cosine_prenormed — bit-identical to the inline form, 3× cheaper."""
    from social_warner_spark.functions.vectors import cosine_prenormed, l2_norm, scoring_vec

    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        scoring_vec(F.col("embedding")).alias("vc"),
        l2_norm(F.col("embedding")).alias("nc"),
    )
    p = probes.select(
        F.col("vec_id").alias("probe_id"),
        scoring_vec(F.col("embedding")).alias("vp"),
        l2_norm(F.col("embedding")).alias("np"),
    )
    scored = c.join(F.broadcast(p), F.col("probe_id") != F.col("neighbor_id")).withColumn(
        "cos",
        F.round(
            cosine_prenormed(F.col("vp"), F.col("vc"), F.col("np"), F.col("nc")), 6
        ),
    )
    return _ranked_topk(scored, k)


def sign_bucket(vec: Column, planes: int = 4) -> Column:
    """Axis-hyperplane LSH bucket: concat of sign bits of the first
    `planes` dimensions.  2^planes buckets; deterministic; SQL-portable."""
    from social_warner_spark.functions.vectors import sign_bits

    return sign_bits(vec, 0, planes)


def sign_bucket_variants(vec: Column, planes: int) -> Column:
    """Array of the sign buckets within Hamming distance ≤ 1 of the
    vector's own bucket: the own bucket first, then one per flipped plane.
    Multi-probe LSH: querying the adjacent buckets recovers neighbors that
    fall just across a hyperplane — the standard recall fix that keeps
    candidate generation an EQUI-join (probe variants explode; no
    inequality join appears)."""
    from social_warner_spark.functions.vectors import sign_bits

    return F.array(
        sign_bits(vec, 0, planes),
        *[sign_bits(vec, 0, planes, flip=i) for i in range(planes)],
    )


def cosine_topk_bucketed(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    planes: int = 4,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the probe's LSH bucket
    and every bucket one sign-flip away (multi-probe, Hamming ≤ 1).

    The probe-corpus join is an equi-join on the bucket key — at scale this
    is the difference between a full cross product and a (1+planes)/2^planes
    slice per probe.  Multi-probe trades a planes-fold increase in probe-side
    rows (probes are the small side; they explode, the corpus never does)
    for the recall lost to hyperplane-boundary neighbors.  Recall vs the
    exact variant is tested by tolerance.
    """
    from social_warner_spark.functions.vectors import cosine_prenormed, l2_norm, scoring_vec

    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        scoring_vec(F.col("embedding")).alias("vc"),
        l2_norm(F.col("embedding")).alias("nc"),
        sign_bucket(F.col("embedding"), planes).alias("bk"),
    )
    p = probes.select(
        F.col("vec_id").alias("probe_id"),
        scoring_vec(F.col("embedding")).alias("vp"),
        l2_norm(F.col("embedding")).alias("np"),
        F.explode(sign_bucket_variants(F.col("embedding"), planes)).alias("bk"),
    )
    scored = (
        c.join(F.broadcast(p), "bk")
        .where(F.col("probe_id") != F.col("neighbor_id"))
        .withColumn(
            "cos",
            F.round(
                cosine_prenormed(F.col("vp"), F.col("vc"), F.col("np"), F.col("nc")),
                6,
            ),
        )
    )
    return _ranked_topk(scored, k)


def ivf_assign(corpus: DataFrame, centroids: DataFrame) -> DataFrame:
    """Assign every corpus vector to its nearest centroid by rounded cosine
    (ties → lowest cluster id).  Centroids are broadcast (nlist is small by
    construction); the argmax is a `max_by` HASH AGGREGATE over the nlist
    candidates per vector — partial aggregation runs map-side, so the
    shuffle carries one pre-reduced row per vector instead of sorting
    nlist·|corpus| rows under a window.  Ordering key (ccos, -cluster)
    makes ties resolve to the lowest cluster id, matching the SQL oracle's
    `row_number() ... ORDER BY ccos DESC, cluster` exactly.
    """
    from social_warner_spark.functions.vectors import cosine_prenormed, l2_norm, scoring_vec

    # _vd: the double-promoted scoring copy (cast n times, not n·nlist —
    # see scoring_vec); the original embedding column rides through
    # untouched so the output schema keeps its declared type.
    scored = (
        corpus.select(
            "vec_id",
            "embedding",
            scoring_vec(F.col("embedding")).alias("_vd"),
            l2_norm(F.col("embedding")).alias("_vn"),
        )
        .join(
            F.broadcast(
                centroids.select(
                    "cluster",
                    scoring_vec(F.col("cvec")).alias("cvec"),
                    l2_norm(F.col("cvec")).alias("_cn"),
                )
            ),
            how="cross",
        )
        .withColumn(
            "ccos",
            F.round(
                cosine_prenormed(
                    F.col("_vd"), F.col("cvec"), F.col("_vn"), F.col("_cn")
                ),
                6,
            ),
        )
    )
    return (
        scored.groupBy("vec_id")
        .agg(
            F.first("embedding").alias("embedding"),  # constant within the group
            F.max_by(
                "cluster", F.struct(F.col("ccos"), (-F.col("cluster")).alias("nc"))
            ).alias("cluster"),
        )
        .select("vec_id", "embedding", "cluster")
    )


def ivf_centroids(corpus: DataFrame, nlist: int = 8, iters: int = 1) -> DataFrame:
    """Deterministic IVF centroids: seed with the vectors of the `nlist`
    lowest ids, then `iters` Lloyd steps (assign → per-dimension mean).

    Every mean component is rounded to 6dp so the centroid set is
    engine-reproducible (cross-engine float sums differ only past the
    rounding point).  The mean is computed distributed: posexplode to
    (cluster, dim, value), partial-aggregated avg per (cluster, dim), then
    re-assembled — no vectors ever sit on the driver.
    """
    w = Window.orderBy("vec_id")
    centroids = (
        corpus.select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(nlist)
        .select(
            (F.row_number().over(w) - 1).alias("cluster"),
            F.col("embedding").cast("array<double>").alias("cvec"),
        )
    )
    for _ in range(iters):
        assigned = ivf_assign(corpus, centroids)
        centroids = (
            assigned.select("cluster", F.posexplode(F.col("embedding").cast("array<double>")))
            .groupBy("cluster", "pos")
            .agg(F.round(F.avg("col"), 6).alias("m"))
            .groupBy("cluster")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda x: x["m"]
                ).alias("cvec")
            )
        )
    return centroids


def cosine_topk_ivf(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    nlist: int = 8,
    nprobe: int = 2,
    iters: int = 1,
) -> DataFrame:
    """IVF approximate top-k: search only the `nprobe` clusters whose
    centroids are nearest each probe.

    The 100 TB shape: centroid fit touches the corpus `iters + 1` times with
    one small shuffle each; the search replaces the |corpus| × |probes|
    cross product with an equi-join on cluster id covering nprobe/nlist of
    the corpus per probe.  Recall vs the exact scorer is tolerance-tested;
    the pipeline itself is deterministic (seeded centroids, rounded means)
    and therefore fully oracle-checkable.
    """
    from social_warner_spark.caching import register_persisted

    # nlist rows, but the lineage behind them is `iters + 1` corpus passes
    # — persist so the two consumers (corpus assignment, probe routing)
    # don't each re-run the Lloyd fit
    centroids = register_persisted(
        ivf_centroids(corpus, nlist, iters).persist()
    )
    assigned = ivf_assign(corpus, centroids)

    from social_warner_spark.functions.vectors import cosine_prenormed, l2_norm, scoring_vec

    wp = Window.partitionBy("probe_id").orderBy(F.desc("ccos"), F.asc("cluster"))
    probe_clusters = (
        probes.select(
            F.col("vec_id").alias("probe_id"),
            scoring_vec(F.col("embedding")).alias("vp"),
            l2_norm(F.col("embedding")).alias("np"),
        )
        .join(F.broadcast(centroids), how="cross")
        .withColumn(
            "ccos",
            F.round(
                cosine_prenormed(
                    F.col("vp"), F.col("cvec"), F.col("np"), l2_norm(F.col("cvec"))
                ),
                6,
            ),
        )
        .withColumn("crk", F.row_number().over(wp))
        .where(F.col("crk") <= nprobe)
        .select("probe_id", "vp", "np", "cluster")
    )
    scored = (
        assigned.select(
            F.col("vec_id").alias("neighbor_id"),
            scoring_vec(F.col("embedding")).alias("vc"),
            l2_norm(F.col("embedding")).alias("nc"),
            "cluster",
        )
        .join(F.broadcast(probe_clusters), "cluster")
        .where(F.col("probe_id") != F.col("neighbor_id"))
        .withColumn(
            "cos",
            F.round(
                cosine_prenormed(F.col("vp"), F.col("vc"), F.col("np"), F.col("nc")),
                6,
            ),
        )
    )
    return _ranked_topk(scored, k)


def _subvectors(df: DataFrame, m: int, sublen: int, out_id: str) -> DataFrame:
    """Explode each vector into its `m` contiguous subspace slices:
    (id, sub, sv: array<double>).  Pure narrow map — the explode keeps a
    vector's m rows in the same partition, so downstream per-id partial
    aggregation combines map-side."""
    pieces = F.array(
        *[
            F.struct(
                F.lit(s).alias("sub"),
                F.slice(
                    F.col("embedding").cast("array<double>"), s * sublen + 1, sublen
                ).alias("sv"),
            )
            for s in range(m)
        ]
    )
    return df.select(F.col("vec_id").alias(out_id), F.explode(pieces).alias("x")).select(
        out_id, F.col("x.sub").alias("sub"), F.col("x.sv").alias("sv")
    )


def _l2sq(a: Column, b: Column, n: int | None = None) -> Column:
    """Elementwise Σ(aᵢ−bᵢ)² — the same left-to-right evaluation order
    as the oracle's list_sum(list_transform(...)), so 6dp rounding
    yields identical values cross-engine.

    With ``n`` (the known vector length), the summation is UNROLLED into
    plain element_at arithmetic: higher-order-function lambdas run
    interpreted per element, so on pair-volume relations the fold form
    dominates runtime (measured ~4× on the PQ codebook fit).  The
    unrolled sum ((t1+t2)+t3)+… matches the fold's (((0+t1)+t2)+t3)+…
    bit-for-bit (squares are never −0.0, so the leading 0.0+t1 is
    exact)."""
    if n is not None:
        expr: Column | None = None
        for i in range(1, n + 1):
            d = F.element_at(a, i) - F.element_at(b, i)
            t = d * d
            expr = t if expr is None else expr + t
        assert expr is not None
        return expr
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def pq_codebooks(
    corpus: DataFrame,
    m: int = 4,
    k: int = 4,
    sublen: int = 16,
    iters: int = 1,
) -> DataFrame:
    """Deterministic product-quantization codebooks: per subspace, seed the
    `k` codewords from the sub-vectors of the k lowest ids, then run
    `iters` Lloyd steps under (6dp-rounded) squared-L2 distance.

    Returns (sub, code, cw: array<double>).  Like ivf_centroids, the means
    are computed distributed (posexplode → partial-agg avg per
    (sub, code, pos) → re-assemble) and rounded to 6dp so the codebook is
    engine-reproducible; no vector ever lands on the driver.
    """
    w = Window.partitionBy("sub").orderBy("sid")
    seeds = _subvectors(
        corpus.orderBy("vec_id").limit(k), m, sublen, "sid"
    ).select(
        "sub", (F.row_number().over(w) - 1).alias("code"), F.col("sv").alias("cw")
    )
    subs = _subvectors(corpus, m, sublen, "vec_id")
    books = seeds
    for _ in range(iters):
        assigned = _pq_assign(subs, books, sublen)
        # r11: the per-position means are `sublen` independent avg
        # aggregates over the SAME (sub, code) grouping, so they compute
        # in ONE map-side-combined hash aggregate with the codeword
        # assembled positionally — the old posexplode →
        # groupBy(sub, code, pos) → groupBy(sub, code) collect_list chain
        # paid two extra Exchanges plus an ObjectHashAggregate pair per
        # Lloyd round for the identical values (avg over the same
        # multiset, same 6dp rounding as the oracle's ROUND(AVG(sv[i]))).
        books = assigned.groupBy("sub", "code").agg(
            F.array(
                *[
                    F.round(F.avg(F.element_at("sv", i + 1)), 6)
                    for i in range(sublen)
                ]
            ).alias("cw")
        )
    return books


def _pq_assign(
    subs: DataFrame, books: DataFrame, sublen: int | None = None
) -> DataFrame:
    """Nearest codeword per (id, sub) by rounded squared-L2 (ties → lowest
    code).  Codebooks are broadcast (m·k rows); the argmin is a min_by hash
    aggregate, so the per-id reduction combines map-side before any
    shuffle — the IVF-assign pattern applied per subspace."""
    id_col = subs.columns[0]
    scored = subs.join(F.broadcast(books), "sub").withColumn(
        "d", F.round(_l2sq(F.col("sv"), F.col("cw"), sublen), 6)
    )
    return (
        scored.groupBy(id_col, "sub")
        .agg(
            F.min_by("code", F.struct(F.col("d"), F.col("code"))).alias("code"),
            F.first("sv").alias("sv"),  # constant within the group
        )
        .select(id_col, "sub", "code", "sv")
    )


def pq_encode(
    corpus: DataFrame,
    books: DataFrame,
    m: int = 4,
    sublen: int = 16,
) -> DataFrame:
    """Encode every vector as its m-byte PQ code array: (id, codes:
    array<int>).  This is the 100 TB storage form — m small ints instead
    of `dim` floats (16× smaller than float32 at m=4, sublen=16).

    r11: the per-subspace argmin and the code-array assembly fuse into
    ONE groupBy(id) hash aggregate — `min(CASE WHEN sub=s THEN
    struct(d, code) END)` per subspace s is exactly the (rounded-distance,
    lowest-code) argmin the old `_pq_assign → groupBy(id, sub) min_by →
    groupBy(id) collect_list` pair computed, because `min` ignores the
    NULLs from other subspaces and orders the struct lexicographically —
    same tie-break, one Exchange instead of two, and a plain
    HashAggregate instead of the ObjectHashAggregate collect_list.

    Precondition: ``books`` holds codewords for every subspace in
    ``range(m)``.  A missing subspace leaves its ``min`` NULL; the code
    assembly fails the query with ``raise_error`` on that NULL inside the
    same projection (no extra Spark job) instead of emitting corrupt codes."""
    subs = _subvectors(corpus, m, sublen, "vec_id")
    scored = subs.join(F.broadcast(books), "sub").withColumn(
        "d", F.round(_l2sq(F.col("sv"), F.col("cw"), sublen), 6)
    )
    per_sub = [
        F.min(
            F.when(F.col("sub") == s, F.struct(F.col("d"), F.col("code")))
        )["code"].alias(f"_c{s}")
        for s in range(m)
    ]
    return (
        scored.groupBy("vec_id")
        .agg(*per_sub)
        .select(
            "vec_id",
            F.array(*[
                F.coalesce(F.col(f"_c{s}"), F.raise_error(
                    F.lit(f"pq_encode: books has no codewords for subspace {s}")
                ))
                for s in range(m)
            ]).alias("codes"),
        )
    )


def l2_topk_pq(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    m: int = 4,
    ncode: int = 4,
    sublen: int = 16,
    iters: int = 1,
    *,
    rerank: int,
) -> DataFrame:
    """PQ/ADC approximate nearest neighbors with an exact re-rank: per-probe
    shortlist by asymmetric distance (probe sub-vector vs corpus codeword),
    top-k by exact distance — the classic Jégou-Douze-Schmid PQ search
    (IEEE TPAMI 2011), relationally.

    The 100 TB shape: the codebook fit touches the corpus `iters + 1`
    times with one small (m·k·sublen-row) shuffle each; encoding is one
    map-side-combined shuffle producing |corpus| code rows; each probe's
    distance table (m·ncode partial distances) is assembled probe-side and
    broadcast as a flat array, so scoring is a NARROW map over the encoded
    corpus — per pair, m array lookups instead of `dim` multiplies, and no
    shuffle until the per-probe candidate selection.  Deterministic (seeded
    codebooks, 6dp-rounded means/partials), hence oracle-checkable;
    recall vs the exact scorer is tolerance-tested separately.

    The ADC pass keeps a top-R (R = ``rerank``) shortlist per probe and
    the final top-k is computed by EXACT distance over the shortlist
    only (the standard ADC+re-rank search): one broadcast-semi fetch of
    R·|probes| true vectors, so the full-precision work is R/|corpus| of
    brute force.  On distance-concentrated (near-iid) embeddings this is
    the difference between ~0.3 and ~0.9 recall — the codes alone rank
    coarsely; the shortlist contains the true neighbors.
    """
    from social_warner_spark.caching import register_persisted

    books = register_persisted(
        pq_codebooks(corpus, m, ncode, sublen, iters).persist()
    )
    codes = pq_encode(corpus, books, m, sublen).select(
        F.col("vec_id").alias("neighbor_id"), "codes"
    )
    # Per-probe ADC lookup table as a map keyed by sub*ncode + code —
    # a map (not a positional array) so a codeword left unused by Lloyd
    # cannot shift the slots of the ones that remain.
    luts = (
        _subvectors(probes, m, sublen, "probe_id")
        .join(F.broadcast(books), "sub")
        .select(
            "probe_id",
            (F.col("sub") * ncode + F.col("code")).alias("slot"),
            F.round(_l2sq(F.col("sv"), F.col("cw"), sublen), 6).alias("pd"),
        )
        .groupBy("probe_id")
        .agg(F.map_from_entries(F.collect_list(F.struct("slot", "pd"))).alias("lut"))
    )
    dist = F.round(
        F.aggregate(
            F.sequence(F.lit(0), F.lit(m - 1)),
            F.lit(0.0),
            lambda acc, s: acc
            + F.element_at(F.col("lut"), s * ncode + F.element_at(F.col("codes"), s + 1)),
        ),
        6,
    )
    scored = (
        codes.join(F.broadcast(luts), F.col("probe_id") != F.col("neighbor_id"))
        .withColumn("adist", dist)
        .select("probe_id", "neighbor_id", "adist")
    )
    w = Window.partitionBy("probe_id").orderBy(F.asc("adist"), F.asc("neighbor_id"))
    shortlist = (
        scored.withColumn("srk", F.row_number().over(w))
        .where(F.col("srk") <= rerank)
        .select("probe_id", "neighbor_id")
    )
    # Exact re-rank: fetch true vectors for the R·|probes| shortlist rows
    # only — the shortlist is broadcast against the corpus scan, so the
    # full-precision distance work is R/|corpus| of brute force.
    cv = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("vc"),
    )
    pv = probes.select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").cast("array<double>").alias("vp"),
    )
    exact = (
        cv.join(F.broadcast(shortlist), "neighbor_id")
        .join(F.broadcast(pv), "probe_id")
        .withColumn("edist", F.round(_l2sq(F.col("vp"), F.col("vc"), m * sublen), 6))
    )
    we = Window.partitionBy("probe_id").orderBy(F.asc("edist"), F.asc("neighbor_id"))
    return (
        exact.withColumn("rk", F.row_number().over(we))
        .where(F.col("rk") <= k)
        .select("probe_id", "neighbor_id", "edist", "rk")
    )


def quantize_embeddings(df: DataFrame) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization — the storage path
    for vector corpora at 100 TB (4× smaller than float32, 8× than
    float64, before encoding).

    scale = 127 / max|v_i|; q_i = clamp(round(v_i·scale), ±127).  Returns
    (id, scale, n_sat, recon_err): saturated-element count and the L2
    reconstruction error ‖v − q/scale‖₂ — the quality signal that decides
    whether int8 is acceptable for a given embedding family.

    Pure narrow map (whole-stage codegen, zero shuffle, no Python); all
    arithmetic in double with half-away-from-zero rounding, which both
    Spark and the SQL oracle implement identically.
    """
    vd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    staged = df.select(F.col("vec_id"), vd.alias("_v"))
    amax = F.array_max(F.transform(F.col("_v"), F.abs))
    scaled = staged.withColumn("_scale", F.lit(127.0) / F.greatest(amax, F.lit(1e-12)))
    quant = lambda x: F.least(
        F.greatest(F.round(x * F.col("_scale"), 0).cast("int"), F.lit(-127)), F.lit(127)
    )
    q = scaled.withColumn("_q", F.transform(F.col("_v"), quant))
    sqerr = F.zip_with(
        F.col("_v"),
        F.col("_q"),
        lambda a, b: (a - b / F.col("_scale")) * (a - b / F.col("_scale")),
    )
    err = F.sqrt(F.aggregate(sqerr, F.lit(0.0), lambda acc, x: acc + x))
    n_sat = F.size(F.filter(F.col("_q"), lambda x: F.abs(x) == 127))
    return q.select(
        F.col("vec_id"),
        F.round(F.col("_scale"), 6).alias("scale"),
        n_sat.cast("long").alias("n_sat"),
        F.round(err, 6).alias("recon_err"),
    )
