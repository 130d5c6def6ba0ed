"""Tolerance tests for the approximate scale-path operators against their
exact anchors (SURVEY.md §2.d: approximate ops are recall-checked, not
hash-matched), plus the multimodal mapInPandas plumbing."""

from __future__ import annotations

import pytest

import pyspark.sql.functions as F

from social_warner_spark.catalog import load_table
from social_warner_spark.operators.dedup import (
    exact_jaccard_pairs,
    lsh_candidate_pairs,
    minhash_neardup_pairs,
    minhash_signatures,
    prefix_filter_jaccard_pairs,
)
from social_warner_spark.operators.similarity import cosine_topk, cosine_topk_bucketed

THRESH = 0.5  # tolerance-test threshold: low enough to yield pairs on synthetic docs


@pytest.fixture(scope="module")
def docs(spark, sf_smoke):
    return load_table(spark, sf_smoke, "documents")


@pytest.fixture(scope="module")
def emb(spark, sf_smoke):
    return load_table(spark, sf_smoke, "embeddings")


def test_minhash_lsh_recall_vs_exact(spark, docs):
    exact = {
        (r.doc_id_a, r.doc_id_b)
        for r in exact_jaccard_pairs(docs, THRESH).collect()
    }
    approx = {
        (r.doc_id_a, r.doc_id_b)
        for r in minhash_neardup_pairs(
            docs, threshold=THRESH, num_hashes=12, bands=6, rows_per_band=2
        ).collect()
    }
    # verification step guarantees precision == 1.0
    assert approx <= exact
    assert exact, "anchor must be non-empty at this threshold"
    recall = len(approx & exact) / len(exact)
    # measured 1.0 on the fixed corpus (28/28 pairs at J≥0.5, 6 bands × 2
    # rows); 0.9 is the s-curve expectation with margin — a banding
    # regression fails loudly here.
    assert recall >= 0.9, f"LSH recall too low: {recall}"


def test_prefix_filter_matches_exact_on_hot_shingle_corpus(spark):
    """The PERF.md skew fixture, correctness half: a corpus where EVERY
    document shares an 8-shingle boilerplate run (each hot shingle hits
    all N docs → N² rows in the full self-join) plus unique content, with
    100 true dup pairs embedded.  Prefix filtering puts the rarest
    shingles first, so the hot ones fall outside every prefix, yet its
    pair set AND jaccard values must equal the exact self-join's — the
    dup pairs share plenty of rare shingles.  (The measured
    4k/8k/16k-doc timing curve lives in PERF.md "Hot-shingle skew".)"""
    boiler = "terms of service apply all rights reserved contact us today"
    n = 1000
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit(boiler + " "),
            F.concat_ws(
                " ",
                *[
                    F.concat(
                        F.lit(f"u{j}x"),
                        F.when(F.col("id") < 200, F.floor(F.col("id") / 2))
                        .otherwise(F.col("id"))
                        .cast("string"),
                    )
                    for j in range(12)
                ],
            ),
        ).alias("text"),
    )
    base = {
        (r.doc_id_a, r.doc_id_b): r.jaccard
        for r in exact_jaccard_pairs(docs, 0.5).collect()
    }
    pf = {
        (r.doc_id_a, r.doc_id_b): r.jaccard
        for r in prefix_filter_jaccard_pairs(docs, 0.5).collect()
    }
    assert len(base) == 100, "fixture must embed exactly the 100 dup pairs"
    assert pf == base


def test_minhash_signature_determinism(spark, docs):
    a = minhash_signatures(docs.limit(50), num_hashes=4).collect()
    b = minhash_signatures(docs.limit(50), num_hashes=4).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_lsh_candidates_are_pairs_not_self(spark, docs):
    sigs = minhash_signatures(docs.limit(100), num_hashes=4)
    cands = lsh_candidate_pairs(sigs, bands=2, rows_per_band=2).collect()
    assert all(r.doc_id_a < r.doc_id_b for r in cands)


def test_ann_bucketed_recall_vs_exact(spark, emb):
    """Multi-probe (Hamming ≤ 1) bucketed ANN recall, measured on this
    fixed near-random corpus: planes=4 (the x8 config) reaches 0.56, where
    single-probe buckets reached 0.18, so the x8 floor also catches a
    fall-back to single probing; planes=2 reaches 0.84 while still pruning
    1/4 of the corpus.  Floors are measured-minus-margin; real corpora
    (clustered, not near-random) sit well above these."""
    probes = emb.where(F.col("vec_id") < 20)
    exact = {
        (r.probe_id, r.neighbor_id) for r in cosine_topk(emb, probes, k=5).collect()
    }
    x8_cfg = {
        (r.probe_id, r.neighbor_id)
        for r in cosine_topk_bucketed(emb, probes, k=5, planes=4).collect()
    }
    recall_x8 = len(x8_cfg & exact) / len(exact)
    assert recall_x8 >= 0.45, f"x8-config ANN recall too low: {recall_x8}"

    high_recall = {
        (r.probe_id, r.neighbor_id)
        for r in cosine_topk_bucketed(emb, probes, k=5, planes=2).collect()
    }
    recall_hi = len(high_recall & exact) / len(exact)
    assert recall_hi >= 0.7, f"high-recall ANN config too low: {recall_hi}"


def _exact_neardup_pairs(emb, tau):
    """The exact all-pairs anchor: every a < b pair in one broadcast
    nested-loop join, scored by the same rounded cosine as the banded
    operator."""
    from social_warner_spark.functions.vectors import cosine_prenormed, l2_norm, scoring_vec

    def side(id_alias, vec_alias, norm_alias):
        return emb.select(
            F.col("vec_id").alias(id_alias),
            scoring_vec(F.col("embedding")).alias(vec_alias),
            l2_norm(F.col("embedding")).alias(norm_alias),
        )

    cos = F.round(cosine_prenormed(F.col("va"), F.col("vb"), F.col("na"), F.col("nb")), 6)
    return {
        (r.a, r.b)
        for r in side("a", "va", "na")
        .join(F.broadcast(side("b", "vb", "nb")), F.col("a") < F.col("b"))
        .where(cos >= tau)
        .collect()
    }


def test_embed_neardup_banded_vs_exact(spark, emb):
    """Banded x7 form vs the exact all-pairs anchor: precision must be 1.0
    (same scorer, candidates are a subset) and recall within margin of the
    measured value on this fixed corpus (0.79 at sf0.001 / 0.85 at sf0.01,
    τ=0.35, 6 bands × 3 planes)."""
    from social_warner_spark.operators.dedup import embedding_neardup_pairs

    tau = 0.35
    exact = _exact_neardup_pairs(emb, tau)
    banded = {
        (r.vec_id_a, r.vec_id_b)
        for r in embedding_neardup_pairs(emb, tau, bands=6, planes_per_band=3).collect()
    }
    assert banded <= exact
    assert exact, "anchor must be non-empty at this τ on the fixed corpus"
    recall = len(banded) / len(exact)
    assert recall >= 0.7, f"banded embedding near-dup recall too low: {recall}"


def test_ann_ivf_recall_vs_exact(spark, emb):
    from social_warner_spark.operators.similarity import cosine_topk_ivf

    probes = emb.where(F.col("vec_id") < 20)
    exact = {
        (r.probe_id, r.neighbor_id) for r in cosine_topk(emb, probes, k=5).collect()
    }
    approx = {
        (r.probe_id, r.neighbor_id)
        for r in cosine_topk_ivf(emb, probes, k=5, nlist=8, nprobe=2).collect()
    }
    recall = len(approx & exact) / len(exact)
    # nprobe/nlist = 1/4 of the corpus searched per probe; true neighbors
    # concentrate in the nearest clusters, so recall must clear the
    # 25% random-candidate floor by a wide margin.
    assert recall >= 0.4, f"IVF ANN recall too low: {recall}"


def test_ann_ivf_centroids_deterministic(spark, emb):
    from social_warner_spark.operators.similarity import ivf_centroids

    a = ivf_centroids(emb, nlist=4, iters=1).collect()
    b = ivf_centroids(emb, nlist=4, iters=1).collect()
    assert {r.cluster: r.cvec for r in a} == {r.cluster: r.cvec for r in b}


def test_neardup_clusters_transitive_chain(spark):
    """A~B and B~C at J≥0.5 while A≁C directly: the component label must
    still merge all three (the property pairwise pruning lacks)."""
    from social_warner_spark.operators.dedup import neardup_clusters

    rows = [
        (1, "w1 w2 w3 w4 w5 w6"),
        (2, "w2 w3 w4 w5 w6 w7"),  # J(1,2) = 3/5
        (3, "w3 w4 w5 w6 w7 w8"),  # J(2,3) = 3/5, J(1,3) = 2/6 < 0.5
        (9, "zz yy xx ww vv uu"),  # isolated
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.cluster_id for r in neardup_clusters(df, threshold=0.5).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 9: 9}


def test_neardup_clusters_deep_chain_converges(spark):
    """A diameter-7 path graph: the min label crosses one hop per round,
    so the loop must run ~7 rounds — each gated by the r08 checkpointed
    `_chg` flag probe (not a labels⋈labels join) — before converging.
    Sliding 8-word windows (6 word 3-shingles each) at threshold 0.6
    give J(adjacent)=5/7 ≥ 0.6 and J(skip-one)=4/8 < 0.6, so the graph
    is exactly the path."""
    from social_warner_spark.operators.dedup import neardup_clusters

    words = [f"w{i}" for i in range(20)]
    rows = [(i + 1, " ".join(words[i : i + 8])) for i in range(8)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r.cluster_id
        for r in neardup_clusters(df, threshold=0.6).collect()
    }
    assert got == {i: 1 for i in range(1, 9)}


def test_neardup_clusters_nonconvergence_raises(spark, monkeypatch):
    """MAX_ITERS below the component diameter must raise loudly (the
    for-else guard), never return partially-propagated labels."""
    import pytest as _pytest

    from social_warner_spark.operators import dedup

    monkeypatch.setattr(dedup, "MAX_ITERS", 2)
    words = [f"w{i}" for i in range(20)]
    rows = [(i + 1, " ".join(words[i : i + 8])) for i in range(8)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with _pytest.raises(RuntimeError, match="did not converge"):
        dedup.neardup_clusters(df, threshold=0.6).collect()


def test_redact_pii_fixtures(spark):
    from social_warner_spark.functions.text import redact_pii

    rows = [
        ("a", "mail me at jo.doe+x@sub.example.co.uk now"),
        ("b", "call +1 (555) 010-4242 today"),
        ("c", "no pii here"),
        ("d", "two jo@x.io and li@y.org"),
    ]
    df = spark.createDataFrame(rows, "id string, t string")
    out = {
        r.id: r.red
        for r in df.select("id", redact_pii(F.col("t")).alias("red")).collect()
    }
    assert out["a"] == "mail me at <EMAIL> now"
    assert out["b"] == "call <PHONE> today"
    assert out["c"] == "no pii here"
    assert out["d"] == "two <EMAIL> and <EMAIL>"


def test_repetition_metrics_edges(spark):
    from social_warner_spark.functions.text import (
        repetition_ratio,
        tokens,
        top_token_ratio,
    )

    df = spark.createDataFrame(
        [("uniq", "a b c d"), ("allsame", "x x x x")], "id string, t string"
    )
    staged = df.select("id", tokens(F.col("t")).alias("_toks"))
    got = {
        r.id: (r.rep, r.top)
        for r in staged.select(
            "id",
            repetition_ratio(F.col("_toks")).alias("rep"),
            top_token_ratio(F.col("_toks")).alias("top"),
        ).collect()
    }
    assert got["uniq"] == (0.0, 0.25)
    assert got["allsame"] == (0.75, 1.0)


# --- multimodal plumbing -----------------------------------------------------


def test_parse_media_header_formats():
    """Handcrafted real headers: PNG IHDR, GIF screen, JPEG SOF0 behind an
    APP0 segment, WAV fmt+data — plus junk → all-None."""
    from social_warner_spark.operators.multimodal import parse_media_header

    png = (
        b"\x89PNG\r\n\x1a\n" + (13).to_bytes(4, "big") + b"IHDR"
        + (640).to_bytes(4, "big") + (480).to_bytes(4, "big")
        + bytes([8, 2, 0, 0, 0]) + b"\x00\x00\x00\x00"
    )
    p = parse_media_header(png)
    assert (p["media_type"], p["width"], p["height"]) == ("image/png", 640, 480)

    gif = b"GIF89a" + (320).to_bytes(2, "little") + (200).to_bytes(2, "little")
    g = parse_media_header(gif)
    assert (g["media_type"], g["width"], g["height"]) == ("image/gif", 320, 200)

    app0 = b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00" + bytes(9)
    sof0 = (
        b"\xff\xc0" + (11).to_bytes(2, "big") + bytes([8])
        + (1080).to_bytes(2, "big") + (1920).to_bytes(2, "big") + bytes([3, 0, 0, 0])
    )
    j = parse_media_header(b"\xff\xd8" + app0 + sof0)
    assert (j["media_type"], j["width"], j["height"]) == ("image/jpeg", 1920, 1080)

    # legal oddities: TEM standalone marker and 0xFF fill padding before SOF
    j2 = parse_media_header(b"\xff\xd8" + b"\xff\x01" + b"\xff\xff" + sof0)
    assert (j2["width"], j2["height"]) == (1920, 1080)
    # EOI before any SOF → dimensions stay None, type still sniffed
    j3 = parse_media_header(b"\xff\xd8\xff\xd9")
    assert j3["media_type"] == "image/jpeg" and j3["width"] is None

    fmt_body = (
        (1).to_bytes(2, "little") + (2).to_bytes(2, "little")
        + (44100).to_bytes(4, "little") + (44100 * 4).to_bytes(4, "little")
        + (4).to_bytes(2, "little") + (16).to_bytes(2, "little")
    )
    wav = (
        b"RIFF" + (36 + 44100 * 4).to_bytes(4, "little") + b"WAVE"
        + b"fmt " + (16).to_bytes(4, "little") + fmt_body
        + b"data" + (44100 * 4).to_bytes(4, "little")
    )
    w = parse_media_header(wav)
    assert (w["media_type"], w["sample_rate"], w["n_channels"],
            w["bits_per_sample"], w["duration_ms"]) == ("audio/wav", 44100, 2, 16, 1000)

    junk = parse_media_header(b"not media at all")
    assert junk["media_type"] is None and junk["width"] is None


def test_synth_media_roundtrip():
    """synth_media_payload bytes parse back to exactly the formula values
    the x49 oracle states."""
    from social_warner_spark.operators.multimodal import (
        parse_media_header,
        synth_media_payload,
    )

    for doc_id, n_chars in [(1, 50), (2, 50), (3, 999), (4, 0), (7, 123), (10, 7)]:
        payload, declared = synth_media_payload(doc_id, n_chars)
        p = parse_media_header(payload)
        assert p["media_type"] == declared
        if doc_id % 2 == 1:
            assert p["width"] == 16 + doc_id % 32
            assert p["height"] == 9 + doc_id % 17
        else:
            sr = 8000 * (1 + doc_id % 3)
            assert p["sample_rate"] == sr
            assert p["n_channels"] == 1 + (doc_id // 2) % 2
            assert p["duration_ms"] == (100 + n_chars) * 1000 // sr


def test_decode_png_full_roundtrip():
    """synth_png_content → decode_png reproduces the exact pixel formula
    (every row filter type is exercised: the synth cycles y mod 5)."""
    from social_warner_spark.operators.multimodal import decode_png, synth_png_content

    for doc_id in (1, 3, 9, 41, 333):
        w, h, ch, vals = decode_png(synth_png_content(doc_id))
        assert (w, h, ch) == (16 + doc_id % 32, 9 + doc_id % 17, 3)
        assert h >= 5  # all five filter types present
        assert vals == [
            (7 * doc_id + 31 * y + 13 * x + 5 * c) % 256
            for y in range(h)
            for x in range(w)
            for c in range(3)
        ]


def test_decode_png_gray_and_alpha_color_types():
    """decode_png handles color types 0/4/6 (gray, gray+alpha, RGBA) and
    rejects palette/16-bit variants with ValueError (codec-gate contract)."""
    import zlib

    from social_warner_spark.operators.multimodal import decode_png

    def png(width, height, bit_depth, color_type, raw_rows):
        ihdr = (
            width.to_bytes(4, "big") + height.to_bytes(4, "big")
            + bytes([bit_depth, color_type, 0, 0, 0])
        )
        stream = b"".join(b"\x00" + r for r in raw_rows)  # filter 0 rows
        idat = zlib.compress(stream)

        def chunk(ctype, body):
            return (
                len(body).to_bytes(4, "big") + ctype + body
                + (zlib.crc32(ctype + body) & 0xFFFFFFFF).to_bytes(4, "big")
            )

        return (
            b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", idat) + chunk(b"IEND", b"")
        )

    # grayscale 3x2
    w, h, ch, vals = decode_png(png(3, 2, 8, 0, [bytes([1, 2, 3]), bytes([4, 5, 6])]))
    assert (w, h, ch, vals) == (3, 2, 1, [1, 2, 3, 4, 5, 6])
    # RGBA 1x1
    w, h, ch, vals = decode_png(png(1, 1, 8, 6, [bytes([9, 8, 7, 255])]))
    assert (w, h, ch, vals) == (1, 1, 4, [9, 8, 7, 255])
    # gray+alpha 2x1
    w, h, ch, vals = decode_png(png(2, 1, 8, 4, [bytes([1, 255, 2, 128])]))
    assert (w, h, ch, vals) == (2, 1, 2, [1, 255, 2, 128])
    # palette (color type 3) and 16-bit depth are gated
    with pytest.raises(ValueError):
        decode_png(png(1, 1, 8, 3, [bytes([0])]))
    with pytest.raises(ValueError):
        decode_png(png(1, 1, 16, 0, [bytes([0, 0])]))


def test_decode_wav_samples_roundtrip_and_gates():
    from social_warner_spark.operators.multimodal import (
        decode_wav_samples,
        synth_wav_content,
    )

    for doc_id, n_chars in [(2, 50), (4, 300), (10, 0)]:
        rate, nch, samples = decode_wav_samples(synth_wav_content(doc_id, n_chars))
        ns = 100 + n_chars % 256
        assert rate == 8000 * (1 + doc_id % 3)
        assert nch == 1 + (doc_id // 2) % 2
        assert samples == [
            ((31 * doc_id + 7 * k + 3 * c) % 2001) - 1000
            for k in range(ns)
            for c in range(nch)
        ]
    # 8-bit PCM is unsigned
    fmt = (
        (1).to_bytes(2, "little") + (1).to_bytes(2, "little")
        + (8000).to_bytes(4, "little") + (8000).to_bytes(4, "little")
        + (1).to_bytes(2, "little") + (8).to_bytes(2, "little")
    )
    wav8 = (
        b"RIFF" + (36 + 3).to_bytes(4, "little") + b"WAVE"
        + b"fmt " + (16).to_bytes(4, "little") + fmt
        + b"data" + (3).to_bytes(4, "little") + bytes([0, 128, 255]) + b"\x00"
    )
    assert decode_wav_samples(wav8) == (8000, 1, [0, 128, 255])
    # float / compressed formats are gated
    float_fmt = (3).to_bytes(2, "little") + fmt[2:]
    wavf = (
        b"RIFF" + (36).to_bytes(4, "little") + b"WAVE"
        + b"fmt " + (16).to_bytes(4, "little") + float_fmt
        + b"data" + (0).to_bytes(4, "little")
    )
    with pytest.raises(ValueError):
        decode_wav_samples(wavf)


def test_real_decoders_are_deterministic_and_reject_malformed():
    """Every in-repo decoder decodes its synthesized container the same
    way twice, and a malformed payload raises the decoder's ValueError."""
    from social_warner_spark.operators.multimodal import (
        decode_gif_frames,
        decode_jpeg_gray,
        decode_png,
        decode_wav_samples,
        synth_gif_content,
        synth_jpeg_content,
        synth_mulaw_wav_content,
        synth_png_content,
        synth_wav_content,
    )

    real_cases = [
        (synth_png_content(7), decode_png),
        (synth_gif_content(7), decode_gif_frames),
        (synth_jpeg_content(7), decode_jpeg_gray),
        (synth_wav_content(7, 50), decode_wav_samples),
        (synth_mulaw_wav_content(7, 50), decode_wav_samples),
    ]
    for payload, decode in real_cases:
        assert decode(payload) == decode(payload)
    with pytest.raises(ValueError):
        decode_png(b"img-bytes")


def test_cms_estimate_is_one_sided(spark, docs):
    """CMS invariant: est ≥ exact for EVERY token (not just the top-k) —
    min-over-rows of bucket sums can only over-count."""
    import pyspark.sql.functions as F

    from social_warner_spark.operators.sketch import cms_cells, cms_heavy_hitters
    from social_warner_spark.functions.text import tokens

    tok = docs.select(F.explode(tokens(F.col("text"))).alias("token"))
    cells = cms_cells(tok, depth=4, width=64).collect()
    assert len(cells) <= 4 * 64
    assert all(0 <= r.bucket < 64 and 0 <= r.r < 4 for r in cells)
    # per-row cell sums must each equal the total stream length
    total = tok.count()
    by_row: dict[int, int] = {}
    for c in cells:
        by_row[c.r] = by_row.get(c.r, 0) + c.cnt
    assert set(by_row) == {0, 1, 2, 3} and all(v == total for v in by_row.values())

    top = cms_heavy_hitters(docs, depth=4, width=64, k=1000).collect()
    assert all(r.overcount >= 0 for r in top)
    assert all(r.est == r.exact + r.overcount for r in top)


def test_gopher_rules_handcrafted(spark):
    """Each Gopher rule fails on a row built to violate exactly it."""
    import pyspark.sql.functions as F

    from social_warner_spark.functions.text import (
        gopher_metrics,
        gopher_pass,
        tokens,
    )

    good = "the cat sat with the dog and they have been to town " + " ".join(
        ["word"] * 50
    )
    rows = [
        (1, good, 1),                                      # all rules hold
        (2, "the of and to short text", 0),                # < 50 words
        (3, "the to " + " ".join(["a"] * 60), 0),          # mean word len < 3
        (4, good + " " + "#" * 40, 0),                     # symbol ratio > 0.1
        (5, " ".join(["lorem", "ipsum"] * 40), 0),         # no stopwords
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "expect"])
    staged = df.select(
        "doc_id", "expect", "text", tokens(F.col("text")).alias("_toks")
    )
    m = gopher_metrics(F.col("_toks"), F.col("text"))
    out = staged.select("doc_id", "expect", gopher_pass(m).alias("ok")).collect()
    for r in out:
        assert r.ok == r.expect, r


def test_hll_registers_merge_and_bound(spark, docs):
    """HLL registers from disjoint halves merged by groupBy-max must give
    the same estimate as one pass over the whole stream (the mergeability
    that makes the sketch partition- and epoch-safe), and the estimate
    must land within the ±3/sqrt(64) ≈ 40% envelope of the exact count."""
    import pyspark.sql.functions as F

    from social_warner_spark.functions.text import tokens
    from social_warner_spark.operators.sketch import hll_distinct

    tok = docs.select(
        F.lit("all").alias("grp"), F.explode(tokens(F.col("text"))).alias("token")
    )
    whole = hll_distinct(tok, "token", "grp").collect()[0]

    # split the stream; retag halves to the same group and re-estimate
    # over the union — max-merge of registers is associative, so this
    # must be IDENTICAL to the single pass
    halves = tok.withColumn(
        "grp", F.when(F.md5("token").startswith("a"), "h1").otherwise("h2")
    )
    merged = hll_distinct(
        halves.withColumn("grp", F.lit("all")), "token", "grp"
    ).collect()[0]
    assert merged == whole

    exact = tok.select("token").distinct().count()
    assert abs(whole.est_distinct - exact) / exact < 0.4, (whole, exact)


def test_prefix_filter_equals_exact_jaccard(spark, docs):
    """Prefix filtering is an OPTIMIZATION, not an approximation: its
    pair relation must equal exact_jaccard_pairs bit-for-bit, while
    generating strictly fewer candidate rows than the full self-join."""
    from social_warner_spark.operators.dedup import (
        exact_jaccard_pairs,
        prefix_filter_jaccard_pairs,
    )

    for t in (0.5, 0.8):
        exact = {
            (r.doc_id_a, r.doc_id_b, r.jaccard)
            for r in exact_jaccard_pairs(docs, t).collect()
        }
        pf = {
            (r.doc_id_a, r.doc_id_b, r.jaccard)
            for r in prefix_filter_jaccard_pairs(docs, t).collect()
        }
        assert pf == exact, (t, pf ^ exact)


def test_parse_media_header_bmp_flac():
    """BMP (incl. top-down negative height) and FLAC STREAMINFO bit
    unpacking against handcrafted byte headers."""
    import struct

    from social_warner_spark.operators.multimodal import parse_media_header

    bmp = b"BM" + b"\x00" * 16 + struct.pack("<ii", 640, -480) + b"\x00" * 10
    r = parse_media_header(bmp)
    assert (r["media_type"], r["width"], r["height"]) == ("image/bmp", 640, 480)

    rate, ch, bps, samples = 44100, 2, 16, 88200  # 2 seconds
    bits = (rate << 44) | ((ch - 1) << 41) | ((bps - 1) << 36) | samples
    flac = (
        b"fLaC" + b"\x00\x00\x00\x22" + b"\x00" * 10
        + bits.to_bytes(8, "big") + b"\x00" * 16
    )
    r = parse_media_header(flac)
    assert r["media_type"] == "audio/flac"
    assert (r["sample_rate"], r["n_channels"], r["bits_per_sample"]) == (44100, 2, 16)
    assert r["duration_ms"] == 2000


def test_pq_ann_rerank_recall_vs_exact(spark, emb):
    """PQ/ADC + exact re-rank vs the exact L2 anchor (the x220 config:
    m=16 subspaces of 4 dims, 16 codewords, 50-candidate shortlist).
    Measured on this fixed near-random corpus: ADC-only ~0.34, with the
    exact re-rank 0.92 (sf0.001) / 0.84 (sf0.01, sf0.1).  Floors are
    measured-minus-margin; clustered real corpora sit higher.  ADC-only
    ranking is ``rerank=k``: a k-row shortlist holds exactly the ADC top-k,
    which the exact re-rank only reorders."""
    from pyspark.sql import Window

    from social_warner_spark.operators.similarity import _l2sq, l2_topk_pq

    probes = emb.where(F.col("vec_id") < 10)
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("vc"),
    )
    p = probes.select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").cast("array<double>").alias("vp"),
    )
    w = Window.partitionBy("probe_id").orderBy(F.asc("d"), F.asc("neighbor_id"))
    exact = {
        (r.probe_id, r.neighbor_id)
        for r in (
            c.join(F.broadcast(p), F.col("probe_id") != F.col("neighbor_id"))
            .withColumn("d", F.round(_l2sq(F.col("vp"), F.col("vc")), 6))
            .withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= 5)
        ).collect()
    }

    def run(rerank):
        got = l2_topk_pq(
            emb, probes, k=5, m=16, ncode=16, sublen=4, iters=1, rerank=rerank
        ).collect()
        return {(r.probe_id, r.neighbor_id) for r in got}

    reranked = run(50)
    recall = len(reranked & exact) / len(exact)
    assert recall >= 0.8, f"PQ+rerank recall too low: {recall}"

    adc_only = run(5)
    assert len(reranked & exact) > len(adc_only & exact), (
        "exact re-rank must add recall over ADC-only ranking"
    )


def test_pq_encode_fails_on_missing_subspace(spark, emb):
    """pq_encode's precondition: books cover every subspace.  Full books
    give m in-range codes per vector; books missing a subspace fail the
    encode query instead of emitting NULL codes."""
    from social_warner_spark.operators.similarity import pq_codebooks, pq_encode

    corpus = emb.where(F.col("vec_id") < 40)
    books = pq_codebooks(corpus, m=4, k=4, sublen=16)
    codes = pq_encode(corpus, books, m=4, sublen=16).collect()
    assert len(codes) == corpus.count()
    assert all(len(r.codes) == 4 and all(0 <= c < 4 for c in r.codes) for r in codes)
    with pytest.raises(Exception, match="no codewords for subspace 2"):
        pq_encode(corpus, books.where(F.col("sub") != 2), m=4, sublen=16).collect()


def test_gif_lzw_roundtrip_stress():
    """The LZW pair must survive the hard codec paths: maximal repetition
    (KwKwK chains), incompressible random streams (code-width bumps up to
    12 bits), the 4096-entry dictionary reset, and empty/1-px frames."""
    import random

    from social_warner_spark.operators.multimodal import (
        _gif_lzw_decode,
        _gif_lzw_encode,
    )

    rng = random.Random(7)
    cases = [
        [0] * 5000,
        [rng.randrange(256) for _ in range(10000)],
        list(range(256)) * 20,
        [5],
        [],
        [rng.randrange(4) for _ in range(60000)],  # forces the 4096 reset
    ]
    for seq in cases:
        assert _gif_lzw_decode(_gif_lzw_encode(seq, 8), 8) == seq


def test_gif_lzw_rejects_code_beyond_table():
    """Only code == len(table) is the legal KwKwK self-reference; a
    corrupt stream carrying a LARGER not-yet-defined code must raise
    like every other malformed-payload path, not decode into garbage."""
    import pytest as _pytest

    from social_warner_spark.operators.multimodal import _gif_lzw_decode

    # mcs=2: clear=4, eoi=5, codesize=3.  Emit codes [4 (clear), 1, 7]:
    # after consuming literal 1 the table has 6 entries, so the next
    # legal KwKwK code is 6 — 7 is out of range and must raise.
    codes = [4, 1, 7]
    cur = nbits = 0
    out = bytearray()
    for c in codes:
        cur |= c << nbits
        nbits += 3
        while nbits >= 8:
            out.append(cur & 0xFF)
            cur >>= 8
            nbits -= 8
    if nbits:
        out.append(cur & 0xFF)
    with _pytest.raises(ValueError, match="corrupt LZW"):
        _gif_lzw_decode(bytes(out), 2)


def test_gif_decode_matches_pixel_formula():
    """decode_gif_frames must reproduce every index of every frame of the
    synthesized GIF (real LZW bytes in between), plus the color table."""
    from social_warner_spark.operators.multimodal import (
        decode_gif_frames,
        synth_gif_content,
    )

    for did in (0, 17, 42):
        w, h, colors, frames = decode_gif_frames(synth_gif_content(did))
        assert (w, h, len(frames)) == (8 + did % 9, 6 + did % 7, 2 + did % 3)
        assert colors[200] == (200, (3 * 200) % 256, (7 * 200) % 256)
        for f, frame in enumerate(frames):
            assert frame == [
                (11 * did + 13 * f + 31 * y + 7 * x) % 256
                for y in range(h)
                for x in range(w)
            ]


def test_gif_decode_rejects_unsupported():
    import pytest as _pytest

    from social_warner_spark.operators.multimodal import decode_gif_frames

    with _pytest.raises(ValueError):
        decode_gif_frames(b"NOTAGIF")


def test_jpeg_ac_entropy_path_roundtrip():
    """The full AC layer — run-length symbols, ZRL, EOB, DPCM DC chains,
    byte stuffing — must round-trip random sparse coefficient blocks;
    decoded pixels are checked against an INDEPENDENT explicit-4-loop
    IDCT (the decoder uses the numpy matrix form)."""
    import math
    import random

    from social_warner_spark.operators.multimodal import (
        _JPEG_ZIGZAG,
        _jpeg_encode_blocks,
        decode_jpeg_gray,
    )

    rng = random.Random(3)
    quant = [8] * 64
    blocks = []
    for _ in range(4):
        c = [0] * 64
        c[0] = rng.randrange(-16, 16)
        for _ in range(6):
            c[rng.randrange(1, 64)] = rng.randrange(-30, 31) or 1
        blocks.append(c)
    w, h, px = decode_jpeg_gray(_jpeg_encode_blocks(blocks, 16, 16, quant))
    assert (w, h) == (16, 16)

    def ref_block(coefs_zz):
        # quant is in zig-zag (stored DQT) order per T.81, so scan
        # index k dequantizes with quant[k]
        nat = [0.0] * 64
        for k in range(64):
            nat[_JPEG_ZIGZAG[k]] = coefs_zz[k] * quant[k]
        out = []
        for y in range(8):
            row = []
            for x in range(8):
                s = 0.0
                for v in range(8):
                    for u in range(8):
                        cu = 1 / math.sqrt(2) if u == 0 else 1.0
                        cv = 1 / math.sqrt(2) if v == 0 else 1.0
                        s += (
                            cu * cv * nat[v * 8 + u]
                            * math.cos((2 * x + 1) * u * math.pi / 16)
                            * math.cos((2 * y + 1) * v * math.pi / 16)
                        )
                row.append(min(255, max(0, round(s / 4) + 128)))
            out.append(row)
        return out

    bi = 0
    for by in range(2):
        for bx in range(2):
            ref = ref_block(blocks[bi])
            bi += 1
            for y in range(8):
                for x in range(8):
                    assert px[(by * 8 + y) * 16 + bx * 8 + x] == ref[y][x]


def test_jpeg_nonuniform_quant_table_roundtrip():
    """A NON-uniform DQT (stored in zig-zag order per T.81) must
    dequantize by SCAN index, not natural index — a uniform table like
    the in-repo synth JPEGs use cannot tell the two conventions apart,
    so this fixture uses the standard luminance table where every
    mix-up moves pixels."""
    import math
    import random

    from social_warner_spark.operators.multimodal import (
        _JPEG_ZIGZAG,
        _jpeg_encode_blocks,
        decode_jpeg_gray,
    )

    # ITU T.81 Table K.1 luminance quant steps in NATURAL order…
    std_nat = [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ]
    # …serialized into the DQT segment in zig-zag order, as T.81 requires.
    quant = [std_nat[_JPEG_ZIGZAG[k]] for k in range(64)]

    rng = random.Random(7)
    blocks = []
    for _ in range(2):
        c = [0] * 64
        c[0] = rng.randrange(-8, 8)
        for _ in range(8):
            c[rng.randrange(1, 64)] = rng.randrange(-5, 6) or 1
        blocks.append(c)
    w, h, px = decode_jpeg_gray(_jpeg_encode_blocks(blocks, 16, 8, quant))
    assert (w, h) == (16, 8)

    def ref_block(coefs_zz):
        nat = [0.0] * 64
        for k in range(64):
            nat[_JPEG_ZIGZAG[k]] = coefs_zz[k] * quant[k]
        out = []
        for y in range(8):
            row = []
            for x in range(8):
                s = 0.0
                for v in range(8):
                    for u in range(8):
                        cu = 1 / math.sqrt(2) if u == 0 else 1.0
                        cv = 1 / math.sqrt(2) if v == 0 else 1.0
                        s += (
                            cu * cv * nat[v * 8 + u]
                            * math.cos((2 * x + 1) * u * math.pi / 16)
                            * math.cos((2 * y + 1) * v * math.pi / 16)
                        )
                row.append(min(255, max(0, round(s / 4) + 128)))
            out.append(row)
        return out

    for bx in range(2):
        ref = ref_block(blocks[bx])
        for y in range(8):
            for x in range(8):
                assert px[y * 16 + bx * 8 + x] == ref[y][x]


def test_jpeg_decode_dc_formula_and_rejects():
    import pytest as _pytest

    from social_warner_spark.operators.multimodal import (
        decode_jpeg_gray,
        synth_jpeg_content,
    )

    for did in (0, 17, 99):
        w, h, px = decode_jpeg_gray(synth_jpeg_content(did))
        assert (w, h) == (8 * (2 + did % 3), 8 * (1 + did % 2))
        for by in range(h // 8):
            for bx in range(w // 8):
                exp = ((did + 3 * bx + 5 * by) % 32) - 16 + 128
                for y in range(8):
                    for x in range(8):
                        assert px[(by * 8 + y) * w + bx * 8 + x] == exp
    with _pytest.raises(ValueError):
        decode_jpeg_gray(b"\x00\x01NOTJPEG")


def test_mulaw_expansion_reference_values():
    """G.711 μ-law expansion pinned to the published table endpoints and
    step size, plus full-range antisymmetry."""
    from social_warner_spark.operators.multimodal import (
        _mulaw_expand,
        decode_wav_samples,
        synth_mulaw_wav_content,
    )

    assert _mulaw_expand(0xFF) == 0
    assert _mulaw_expand(0x7F) == 0
    assert _mulaw_expand(0x00) == -32124
    assert _mulaw_expand(0x80) == 32124
    assert _mulaw_expand(0xFE) == 8
    for c in range(128):
        assert _mulaw_expand(c) == -_mulaw_expand(c + 128)

    sr, nc, samples = decode_wav_samples(synth_mulaw_wav_content(3, 50))
    assert (sr, nc, len(samples)) == (8000, 1, 130)
    assert all(-32124 <= v <= 32124 for v in samples)


def test_neardup_clusters_no_edges_all_singletons(spark):
    """r06 edge-incident propagation: with NO qualifying pair the label
    relation starts empty and every doc must come back as its own
    cluster through the singleton left-join path."""
    from social_warner_spark.operators.dedup import neardup_clusters

    rows = [
        (1, "aa bb cc dd ee ff"),
        (2, "gg hh ii jj kk ll"),
        (7, "mm nn oo pp qq rr"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.cluster_id for r in neardup_clusters(df, threshold=0.5).collect()}
    assert got == {1: 1, 2: 2, 7: 7}

