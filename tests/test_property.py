"""Property-based spot checks (SURVEY.md §5 item 5): random predicates and
group-bys over the star schema, each oracled by DuckDB automatically.

Complements the fixed declared-query set: these sample the (filter × agg ×
group-by) space the fixed queries can't enumerate.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

import pyspark.sql.functions as F

from social_warner_spark.catalog import load_table
from tests.oracle_harness import compare, duck_connection

NUM_COLS = ["o_totalprice", "o_orderkey", "o_custkey"]
GROUP_COLS = ["o_orderstatus", "o_orderpriority"]
OPS = ["<", ">=", "="]


pred = st.tuples(
    st.sampled_from(["o_totalprice", "o_custkey"]),
    st.sampled_from(OPS),
    st.integers(min_value=0, max_value=300000),
)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(p=pred, group=st.sampled_from(["c_mktsegment", "o_orderstatus"]))
def test_random_join_filter_agg(spark, sf_smoke, p, group):
    """Random predicate pushed through an orders⋈customer join, grouped on
    either side — samples the join space the fixed queries can't."""
    col, op, lit = p
    orders = load_table(spark, sf_smoke, "orders")
    cust = load_table(spark, sf_smoke, "customer")
    cond = {"<": F.col(col) < lit, ">=": F.col(col) >= lit, "=": F.col(col) == lit}[op]
    sdf = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .where(cond)
        .groupBy(group)
        .agg(F.count("*").alias("cnt"), F.round(F.sum("o_totalprice"), 2).alias("s"))
    )
    sql = f"""
        SELECT {group}, COUNT(*) AS cnt, ROUND(SUM(o_totalprice), 2) AS s
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE {col} {op} {lit} GROUP BY {group}
    """
    con = duck_connection(sf_smoke)
    try:
        ddf = con.execute(sql).df()
    finally:
        con.close()
    ok, msg = compare(sdf, ddf)
    assert ok, f"join {col} {op} {lit} group {group}: {msg}"


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    p=pred,
    group=st.sampled_from(GROUP_COLS),
    measure=st.sampled_from(NUM_COLS),
)
def test_random_filter_group_agg(spark, sf_smoke, p, group, measure):
    col, op, lit = p
    ev = load_table(spark, sf_smoke, "orders")
    cond = {"<": F.col(col) < lit, ">=": F.col(col) >= lit, "=": F.col(col) == lit}[op]
    # Measures are cast to DOUBLE on BOTH sides: for integer measures
    # Spark's ROUND(bigint) stays long while DuckDB's ROUND returns
    # double (and SUM(BIGINT) is HUGEINT -> pandas float64) — the same
    # serialization split the strict mirror exists to catch (x272).
    m = F.col(measure).cast("double")
    sdf = (
        ev.where(cond)
        .groupBy(group)
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.sum(m), 2).alias("s"),
            F.round(F.min(m), 6).alias("mn"),
            F.round(F.max(m), 6).alias("mx"),
        )
    )
    sql = f"""
        SELECT {group}, COUNT(*) AS cnt,
               ROUND(SUM(CAST({measure} AS DOUBLE)), 2) AS s,
               ROUND(MIN(CAST({measure} AS DOUBLE)), 6) AS mn,
               ROUND(MAX(CAST({measure} AS DOUBLE)), 6) AS mx
        FROM orders WHERE {col} {op} {lit} GROUP BY {group}
    """
    con = duck_connection(sf_smoke)
    try:
        ddf = con.execute(sql).df()
    finally:
        con.close()
    ok, msg = compare(sdf, ddf)
    assert ok, f"{col} {op} {lit} group {group} measure {measure}: {msg}"


@settings(max_examples=40, deadline=None)
@given(
    doc_id=st.integers(min_value=0, max_value=10_000),
    n_chars=st.integers(min_value=0, max_value=5_000),
)
def test_full_media_decode_roundtrip_property(doc_id, n_chars):
    """Any fully-synthesized container DECODES back to exactly the formula
    pixels/samples (pure Python) — the invariant x215/x216 rely on."""
    from social_warner_spark.operators.multimodal import (
        decode_png,
        decode_wav_samples,
        synth_png_content,
        synth_wav_content,
    )

    if doc_id % 2 == 1:
        w, h, ch, vals = decode_png(synth_png_content(doc_id))
        assert (w, h, ch) == (16 + doc_id % 32, 9 + doc_id % 17, 3)
        assert vals == [
            (7 * doc_id + 31 * y + 13 * x + 5 * c) % 256
            for y in range(h)
            for x in range(w)
            for c in range(3)
        ]
    else:
        rate, nch, samples = decode_wav_samples(synth_wav_content(doc_id, n_chars))
        ns = 100 + n_chars % 256
        assert rate == 8000 * (1 + doc_id % 3)
        assert samples == [
            ((31 * doc_id + 7 * k + 3 * c) % 2001) - 1000
            for k in range(ns)
            for c in range(nch)
        ]


@settings(max_examples=60, deadline=None)
@given(
    doc_id=st.integers(min_value=0, max_value=10_000),
    n_chars=st.integers(min_value=0, max_value=5_000),
)
def test_synth_media_header_roundtrip_property(doc_id, n_chars):
    """Any formula-synthesized container parses back to exactly the formula
    metadata (pure Python, no Spark) — the invariant x49's oracle relies on."""
    from social_warner_spark.operators.multimodal import (
        parse_media_header,
        synth_media_payload,
    )

    payload, declared = synth_media_payload(doc_id, n_chars)
    p = parse_media_header(payload)
    assert p["media_type"] == declared
    if doc_id % 2 == 1:
        assert p["width"] == 16 + doc_id % 32
        assert p["height"] == 9 + doc_id % 17
        assert p["sample_rate"] is None
    else:
        sr = 8000 * (1 + doc_id % 3)
        assert p["sample_rate"] == sr
        assert p["n_channels"] == 1 + (doc_id // 2) % 2
        assert p["bits_per_sample"] == 16
        assert p["duration_ms"] == (100 + n_chars) * 1000 // sr


def test_sign_bit_recipes_consistent(spark):
    """sign_bucket == sign_band_key(band 0) == multiprobe variant 0 — the
    single-recipe consolidation invariant, checked on real vectors."""
    import pyspark.sql.functions as F

    from social_warner_spark.operators.dedup import sign_band_key
    from social_warner_spark.operators.similarity import (
        sign_bucket,
        sign_bucket_variants,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").limit(100)
    v = F.col("embedding")
    rows = emb.select(
        sign_bucket(v, 4).alias("a"),
        sign_band_key(v, 0, 4).alias("b"),
        sign_bucket_variants(v, 4)[0].alias("c"),
        sign_band_key(v, 1, 4).alias("band1"),
        sign_bucket_variants(v, 4)[1].alias("flip0"),
    ).collect()
    for r in rows:
        assert r.a == r.b == r.c
        # flipping bit 0 inverts exactly the first character
        assert r.flip0[0] != r.a[0] and r.flip0[1:] == r.a[1:]
        assert len(r.band1) == 4


# --- properties of the corpus-hygiene operators (random text corpora) ---

WORDS = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]

corpus_strategy = st.lists(
    st.lists(st.sampled_from(WORDS), min_size=1, max_size=12).map(" ".join),
    min_size=1,
    max_size=8,
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=corpus_strategy)
def test_segment_dedup_invariants(spark, texts):
    """For any corpus: every segment survives exactly once corpus-wide
    (union of kept segments == distinct segment set), counts are
    consistent, and a doc's clean_text is the ordered concat of its kept
    segments."""
    from social_warner_spark.operators.dedup import segment_dedup

    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    rows = segment_dedup(df, seg_tokens=2).collect()
    assert {r["doc_id"] for r in rows} == set(range(len(texts)))

    def segs(t):
        toks = t.split(" ")
        return [" ".join(toks[i : i + 2]) for i in range(0, len(toks), 2)]

    all_distinct = {s for t in texts for s in segs(t)}
    kept_total = sum(r["n_kept"] for r in rows)
    assert kept_total == len(all_distinct)
    for r in rows:
        assert 0 <= r["n_kept"] <= r["n_segs"]
        assert r["n_segs"] == len(segs(texts[r["doc_id"]]))
        kept_segs = [s for s in r["clean_text"].split(" ") if s]
        # clean_text tokens must be a subsequence of the original tokens
        orig = texts[r["doc_id"]].split(" ")
        it = iter(orig)
        assert all(tok in it for tok in kept_segs)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vecs=st.lists(
        st.lists(
            st.floats(
                min_value=-8.0,
                max_value=8.0,
                allow_nan=False,
                allow_infinity=False,
                width=32,
            ),
            min_size=2,
            max_size=6,
        ),
        min_size=1,
        max_size=5,
    )
)
def test_quantize_error_bound(spark, vecs):
    """Int8 quantization error is bounded per element by 0.5/scale, so
    ‖v − q/scale‖ ≤ sqrt(d)·0.5/scale; scale is always positive."""
    from social_warner_spark.operators.similarity import quantize_embeddings

    df = spark.createDataFrame(list(enumerate(vecs)), ["vec_id", "embedding"])
    for r in quantize_embeddings(df).collect():
        d = len(vecs[r["vec_id"]])
        assert r["scale"] > 0
        assert r["n_sat"] <= d
        bound = (d**0.5) * 0.5 / r["scale"] + 1e-6
        assert r["recon_err"] <= bound, (r, bound)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=corpus_strategy)
def test_normalize_text_idempotent(spark, texts):
    """normalize_text is idempotent, and output never contains doubled
    spaces, tabs, or zero-width code points."""
    from social_warner_spark.functions.text import normalize_text

    noisy = [("​ " + t.replace(" ", "  ") + " \t") for t in texts]
    df = spark.createDataFrame(list(enumerate(noisy)), ["id", "t"])
    once = df.select("id", normalize_text(F.col("t")).alias("c"))
    twice = once.select("id", normalize_text(F.col("c")).alias("c"))
    a = {r["id"]: r["c"] for r in once.collect()}
    b = {r["id"]: r["c"] for r in twice.collect()}
    assert a == b
    for v in a.values():
        assert "  " not in v and "\t" not in v and "​" not in v


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ivs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=200),   # start
            st.integers(min_value=1, max_value=50),    # duration
        ),
        min_size=1,
        max_size=25,
    )
)
def test_coalesce_intervals_invariants(spark, ivs):
    """For ANY interval set: islands partition the rows, every row's
    interval fits inside its island's [min start, max end], and distinct
    islands never overlap (island k's max end < island k+1's min start)."""
    from social_warner_spark.operators.timeseries import coalesce_intervals

    rows = [
        (1, i, float(s), float(s + d)) for i, (s, d) in enumerate(ivs)
    ]
    df = spark.createDataFrame(
        rows, "user_id int, event_id int, _start double, _end double"
    )
    out = coalesce_intervals(
        df, "user_id", "_start", "_end", ("_start", "event_id")
    ).collect()
    assert len(out) == len(rows)  # islands partition the rows
    bounds: dict[int, list[float]] = {}
    for r in out:
        b = bounds.setdefault(r._island, [r._start, r._end])
        b[0] = min(b[0], r._start)
        b[1] = max(b[1], r._end)
    ordered = [bounds[k] for k in sorted(bounds)]
    for (s1, e1), (s2, e2) in zip(ordered, ordered[1:]):
        assert e1 < s2, (ordered,)  # strictly disjoint, in order


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(n=st.integers(min_value=1, max_value=400))
def test_kmv_estimate_exact_under_k_and_positive(spark, n):
    """KMV must be EXACT for any set smaller than k, and positive/finite
    always."""
    from social_warner_spark.operators.sketch import kmv_estimate, kmv_sketch

    df = spark.range(n).selectExpr("'g' as g", "id as k")
    est = kmv_estimate(kmv_sketch(df, "k", "g", 64), 64, "g").collect()[0].est_distinct
    if n < 64:
        assert est == float(n)
    else:
        assert 0 < est < 10 * n


def test_containment_catches_excerpt_jaccard_misses(spark):
    """A short doc fully contained in a long one must surface in
    containment_pairs even when its Jaccard is far below any usable
    near-dup threshold."""
    from social_warner_spark.operators.dedup import containment_pairs, exact_jaccard_pairs

    long_text = " ".join(f"w{i}" for i in range(120))
    short_text = " ".join(f"w{i}" for i in range(40, 50))  # strict excerpt
    df = spark.createDataFrame(
        [(1, long_text), (2, short_text)], "doc_id long, text string"
    )
    cp = containment_pairs(df, threshold=0.9).collect()
    assert len(cp) == 1 and cp[0].containment == 1.0
    jp = exact_jaccard_pairs(df, threshold=0.5).collect()
    assert jp == []  # symmetric Jaccard structurally misses it


def _dup_spans_reference(docs: dict[int, list[str]], w: int):
    """Brute-force duplicated-span reference: positions whose w-gram occurs
    in >= 2 distinct docs, merged into maximal spans (gap <= w)."""
    grams: dict[tuple[str, ...], set[int]] = {}
    for did, toks in docs.items():
        for i in range(len(toks) - w + 1):
            grams.setdefault(tuple(toks[i : i + w]), set()).add(did)
    out = {}
    for did, toks in docs.items():
        hits = sorted(
            i
            for i in range(len(toks) - w + 1)
            if len(grams[tuple(toks[i : i + w])]) >= 2
        )
        if not hits:
            continue
        spans, s0, prev = [], hits[0], hits[0]
        for i in hits[1:]:
            if i - prev <= w:
                prev = i
            else:
                spans.append((s0, prev + w - 1))
                s0 = prev = i
        spans.append((s0, prev + w - 1))
        out[did] = (
            len(spans),
            sum(b - a + 1 for a, b in spans),
            round(sum(b - a + 1 for a, b in spans) / len(toks), 6),
        )
    return out


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcdefg"), min_size=1, max_size=30),
        min_size=2,
        max_size=8,
    )
)
def test_duplicated_spans_matches_bruteforce(spark, docs):
    """Random tiny corpora over a 7-token alphabet (dense collisions):
    the distributed operator must equal the brute-force reference."""
    from social_warner_spark.operators.dedup import duplicated_spans

    corpus = {i: toks for i, toks in enumerate(docs)}
    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in corpus.items()], ["doc_id", "text"]
    )
    got = {
        r["doc_id"]: (r["n_dup_spans"], r["dup_tokens"], r["dup_frac"])
        for r in duplicated_spans(df, w=3).collect()
    }
    assert got == _dup_spans_reference(corpus, 3)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    a=st.lists(st.integers(min_value=0, max_value=12), min_size=1, max_size=40),
    b=st.lists(st.integers(min_value=0, max_value=12), min_size=1, max_size=40),
)
def test_two_sample_ks_matches_bruteforce(spark, a, b):
    """Random integer samples: KS from the cell operator must equal the
    directly-computed sup |F_a - F_b| over the union grid."""
    from social_warner_spark.operators.drift import two_sample_ks

    da = spark.createDataFrame([(v,) for v in a], ["v"])
    db = spark.createDataFrame([(v,) for v in b], ["v"])
    r = two_sample_ks(
        da.groupBy("v").agg(F.count("*").alias("c")),
        db.groupBy("v").agg(F.count("*").alias("c")),
    ).first()

    grid = sorted(set(a) | set(b))
    fa = fb = 0.0
    want = 0.0
    for v in grid:
        fa += a.count(v) / len(a)
        fb += b.count(v) / len(b)
        want = max(want, abs(fa - fb))
    assert r["n_a"] == len(a) and r["n_b"] == len(b)
    assert abs(r["ks"] - round(want, 6)) <= 1e-6


@given(
    seq=st.lists(st.integers(min_value=0, max_value=255), max_size=4000),
    mcs=st.sampled_from([2, 4, 8]),
)
@settings(max_examples=60, deadline=None)
def test_gif_lzw_roundtrip_property(seq, mcs):
    """Any index stream within the alphabet round-trips through the GIF
    LZW pair at any legal minimum code size."""
    from social_warner_spark.operators.multimodal import (
        _gif_lzw_decode,
        _gif_lzw_encode,
    )

    alphabet = 1 << mcs
    seq = [v % alphabet for v in seq]
    assert _gif_lzw_decode(_gif_lzw_encode(seq, mcs), mcs) == seq


edge_lists = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=18),
        st.integers(min_value=1, max_value=18),
    ),
    min_size=0,
    max_size=25,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=edge_lists)
def test_propagate_min_labels_matches_union_find(spark, edges):
    """Arbitrary-topology pin for the propagation core (r08: the
    convergence probe is a checkpointed flag, not a labels join): on
    random edge lists — cycles, stars, self-loops, duplicates, multiple
    components — every edge-incident node's label must equal its
    component's minimum id, per a plain union-find oracle."""
    from social_warner_spark.operators.dedup import propagate_min_labels

    edges = [e for e in edges if e[0] != e[1]]  # self-loops carry no info
    if not edges:
        return
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {node: find(node) for node in parent}

    df = spark.createDataFrame(edges, "a long, b long")
    got = {r.id: r.lab for r in propagate_min_labels(df).collect()}
    assert got == expected


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    lrows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),    # key
            st.integers(min_value=0, max_value=12),   # ts (seconds)
        ),
        min_size=1,
        max_size=15,
    ),
    rrows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),    # key
            st.integers(min_value=0, max_value=12),   # ts — DUPLICATES LIKELY
            st.integers(min_value=0, max_value=9),    # value
        ),
        min_size=0,
        max_size=15,
    ),
    nparts=st.integers(min_value=1, max_value=5),
)
def test_asof_join_matches_bruteforce_with_duplicate_ts(spark, lrows, rrows, nparts):
    """asof_join vs a brute-force reference on random keys/timestamps
    INCLUDING duplicate right rows at one (key, ts) — the documented tie
    semantic is 'greatest value tuple wins'.  Before the round-9 fix the
    window sort was not total and the carried value depended on
    partitioning (this test flushed it out 6/6 repartitionings)."""
    from social_warner_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(lrows)],
        "event_id long, user_id long, t long",
    ).select(
        "event_id", "user_id", F.timestamp_seconds(F.col("t")).alias("ts")
    ).repartition(nparts)
    right = spark.createDataFrame(
        [(k, t, float(v)) for (k, t, v) in rrows] or [],
        "user_id long, t long, v double",
    ).select(
        "user_id", F.timestamp_seconds(F.col("t")).alias("ts"), "v"
    ).repartition(max(1, 6 - nparts))

    got = {
        r.event_id: r.v_asof
        for r in asof_join(left, right, "user_id").collect()
    }
    for i, (k, t) in enumerate(lrows):
        eligible = [v for (rk, rt, v) in rrows if rk == k and rt <= t]
        if not eligible:
            assert got[i] is None, (i, got[i])
        else:
            best_ts = max(rt for (rk, rt, _) in rrows if rk == k and rt <= t)
            want = float(max(v for (rk, rt, v) in rrows
                             if rk == k and rt == best_ts))
            assert got[i] == want, (i, got[i], want)


def test_asof_join_partitioning_invariant(spark):
    """Regression for the round-9 find: 6 different (left, right)
    repartitionings of a duplicate-ts fixture must produce ONE output."""
    from social_warner_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(i, 1, i % 7) for i in range(20)], "event_id long, user_id long, t long"
    ).select("event_id", "user_id", F.timestamp_seconds(F.col("t")).alias("ts"))
    right = spark.createDataFrame(
        [(1, t, float(t * 10 + dup)) for t in range(7) for dup in range(3)],
        "user_id long, t long, v double",
    ).select("user_id", F.timestamp_seconds(F.col("t")).alias("ts"), "v")
    outs = {
        tuple(sorted(
            (r.event_id, r.v_asof)
            for r in asof_join(
                left.repartition(rep % 4 + 1),
                right.repartition((rep * 2) % 5 + 1),
                "user_id",
            ).collect()
        ))
        for rep in range(6)
    }
    assert len(outs) == 1
    # and the documented tie semantic: the greatest duplicate (dup=2) wins
    final = dict(next(iter(outs)))
    assert final[6] == 62.0 and final[0] == 2.0
