"""X-series — training-data pipeline extensions beyond SURVEY §2.d's core.

Every query here is still deterministic and DuckDB-oracle-able: the MinHash
signatures use lexicographic md5 minima (no RNG), simhash uses md5 nibble
bits, the bucketed ANN uses axis-hyperplane sign buckets.  The genuinely
approximate properties (LSH recall) are tolerance-tested in
tests/test_extensions.py against the exact L-series anchors.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from social_warner_spark.functions.text import (
    BPE_TOKEN_RE,
    LANG_MARKERS,
    fingerprint,
    quality_score,
    token_count_bpe,
    token_count_ws,
    tokens,
)
from social_warner_spark.operators.dedup import (
    minhash_signatures,
    simhash_fingerprints,
    embedding_neardup_pairs,
)
from social_warner_spark.operators.similarity import cosine_topk_bucketed
from social_warner_spark.queries.common import T, r6

MINHASHES = 8
# τ sits where the synthetic embeddings actually have pairs (max pairwise
# cosine ≈ 0.51) so the oracle check is non-vacuous; production near-dup
# runs τ≥0.9 with more planes per band.
EMBED_NEARDUP_TAU = 0.35
EMBED_BANDS = 6
EMBED_PLANES_PER_BAND = 3
ANN_PLANES = 4
ANN_PROBES = 10
ANN_K = 5


def x1_minhash_signatures(spark, sf_dir):
    """Deterministic MinHash signatures (first 8 hash slots) per doc."""
    return minhash_signatures(T(spark, sf_dir, "documents"), num_hashes=MINHASHES)


def x2_simhash(spark, sf_dir):
    """16-bit deterministic simhash fingerprint per doc."""
    return simhash_fingerprints(T(spark, sf_dir, "documents"))


def x3_lang_id(spark, sf_dir):
    """Stopword-marker language ID: argmax marker-hit ratio, 'und' if no
    marker seen.  Ties broken by language code order (deterministic)."""
    d = T(spark, sf_dir, "documents")
    t = tokens(F.col("text"))
    n = F.greatest(F.size(t), F.lit(1))
    scores = {
        lg: F.size(F.filter(t, lambda x: x.isin(*LANG_MARKERS[lg]))) / n
        for lg in sorted(LANG_MARKERS)
    }
    best = None
    for lg in sorted(LANG_MARKERS):  # left fold → first max wins (lexic. tie-break)
        cur = F.struct(scores[lg].alias("score"), F.lit(lg).alias("lg"))
        best = cur if best is None else F.when(cur["score"] > best["score"], cur).otherwise(best)
    return d.select(
        "doc_id",
        F.when(best["score"] > 0, best["lg"]).otherwise(F.lit("und")).alias("pred_lang"),
        r6(best["score"]).alias("marker_ratio"),
    )


def x4_quality(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    return d.select("doc_id", quality_score(F.col("text")).alias("quality"))


def x5_token_counts(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count_ws(F.col("text")).alias("n_ws_tokens"),
        token_count_bpe(F.col("text")).alias("n_bpe_tokens"),
    )


def x6_fingerprint(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint(F.col("text")).alias("fp64"))


def x7_embed_neardup(spark, sf_dir):
    """Embedding-cosine near-dup pairs, banded sign-LSH pre-joined.

    Candidates come from a union of per-band equi-joins on deterministic
    sign-bit keys (6 bands × 3 planes) — the oracle mirrors the identical
    banding, so the approximate candidate set itself is hash-checked; recall
    vs the exact all-pairs anchor is tolerance-tested separately."""
    return embedding_neardup_pairs(
        T(spark, sf_dir, "embeddings"),
        EMBED_NEARDUP_TAU,
        bands=EMBED_BANDS,
        planes_per_band=EMBED_PLANES_PER_BAND,
    )


def x8_ann_bucketed(spark, sf_dir):
    """Sign-bit LSH bucketed ANN for probes vec_id < 10 (scale path of l3).

    Multi-probe (Hamming ≤ 1): each probe also searches the planes buckets
    one sign-flip away — probe-side explode keeps the join an equi-join;
    the oracle mirrors the radius with a per-bit mismatch count."""
    emb = T(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") < ANN_PROBES)
    return cosine_topk_bucketed(emb, probes, k=ANN_K, planes=ANN_PLANES)


def x9_multimodal_binary(spark, sf_dir):
    """Opaque-binary column plumbing: treat text payload as bytes; compute
    byte length + content digest.  (Real image/audio decode is stubbed —
    see operators/multimodal.py — but the schema/UDF path is identical.)"""
    d = T(spark, sf_dir, "documents")
    payload = F.encode("text", "UTF-8")
    return d.select(
        "doc_id",
        F.octet_length(payload).alias("n_bytes"),
        F.md5(payload).alias("digest"),
    )


def x49_media_probe(spark, sf_dir):
    """Real-header multimodal probe, oracle-checked end to end.

    Per doc, REAL container bytes are synthesized (odd ids → PNG whose IHDR
    encodes formula-derived dimensions; even ids → WAV whose fmt/data
    chunks encode formula-derived audio params), then probe_media parses
    the actual byte headers back via mapInPandas.  The oracle states the
    same integer formulas in SQL — so a probe that misreads offsets,
    endianness, or chunk walking hash-mismatches immediately."""
    from social_warner_spark.operators.multimodal import probe_media, with_synth_media

    d = T(spark, sf_dir, "documents").select("doc_id", "n_chars")
    probed = probe_media(with_synth_media(d), id_col="doc_id")
    return probed.select(
        F.col("item_id").alias("doc_id"),
        "media_type",
        "width",
        "height",
        "sample_rate",
        "n_channels",
        "bits_per_sample",
        "duration_ms",
    )


def x50_tfidf_topk(spark, sf_dir):
    """Top-3 TF-IDF terms per document.

    Plan: token explode → per-(doc,token) tf agg; document frequency as a
    second agg over the distinct (doc,token) pairs; corpus size reduces to
    ONE row cross-joined back (never a driver-side count); weight =
    tf·ln((N+1)/(df+1)) ranked per doc with the row_number window ordered
    on the ROUNDED weight so cross-engine tie order is deterministic."""
    d = T(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    dfreq = (
        tok.distinct().groupBy("token").agg(F.count("*").alias("dfc"))
    )
    n_docs = d.agg(F.count("*").alias("nd"))
    weighted = (
        tf.join(dfreq, "token")
        .join(F.broadcast(n_docs), how="cross")
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf") * F.log((F.col("nd") + 1.0) / (F.col("dfc") + 1.0)), 6
            ),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        weighted.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("doc_id", "token", "tfidf", "rk")
    )


def x51_incremental_dedup(spark, sf_dir):
    """Incremental near-dup screening: docs with doc_id % 5 == 0 are the
    'new batch', the rest the existing corpus; for each new doc with a
    corpus near-dup at J ≥ 0.5, emit its best match.  The new batch's LSH
    band keys broadcast into the candidate joins — the corpus never
    shuffles on content (see incremental_neardup_matches)."""
    from social_warner_spark.operators.dedup import incremental_neardup_matches

    d = T(spark, sf_dir, "documents")
    new = d.where(F.col("doc_id") % 5 == 0)
    corpus = d.where(F.col("doc_id") % 5 != 0)
    return incremental_neardup_matches(new, corpus, threshold=0.5)


def x15_minhash_lsh_pairs(spark, sf_dir):
    """Full MinHash+LSH near-dup pipeline: deterministic signatures → band
    bucketing → candidate equi-join → exact-Jaccard verification.  Because
    the signatures are md5-lexicographic minima (no RNG), even the LSH
    banding is reproducible in SQL — the whole approximate pipeline is
    oracle-checked end to end (recall against plain l2 is tested separately)."""
    from social_warner_spark.operators.dedup import minhash_neardup_pairs

    return minhash_neardup_pairs(
        T(spark, sf_dir, "documents"),
        threshold=0.5,
        num_hashes=8,
        bands=4,
        rows_per_band=2,
    )


QUERIES = {
    "x1_minhash_signatures": x1_minhash_signatures,
    "x15_minhash_lsh_pairs": x15_minhash_lsh_pairs,
    "x2_simhash": x2_simhash,
    "x3_lang_id": x3_lang_id,
    "x4_quality": x4_quality,
    "x5_token_counts": x5_token_counts,
    "x6_fingerprint": x6_fingerprint,
    "x7_embed_neardup": x7_embed_neardup,
    "x8_ann_bucketed": x8_ann_bucketed,
    "x9_multimodal_binary": x9_multimodal_binary,
    "x49_media_probe": x49_media_probe,
    "x50_tfidf_topk": x50_tfidf_topk,
    "x51_incremental_dedup": x51_incremental_dedup,
}

_SHINGLES = """
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), sh AS (
        SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
        FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
        WHERE len(t) >= 3
    )
"""

_MH_COLS = ",\n               ".join(
    f"MIN(md5('{i}|' || shingle)) AS mh_{i}" for i in range(MINHASHES)
)

_LANGS = sorted(LANG_MARKERS)


def _lang_score_sql(lg: str) -> str:
    in_list = ", ".join(f"'{w}'" for w in LANG_MARKERS[lg])
    return (
        f"len(list_filter(string_split(text, ' '), x -> x IN ({in_list})))"
        f" / GREATEST(len(string_split(text, ' ')), 1)"
    )


_BEST_EXPR = "s_" + _LANGS[0]
_BEST_LG = f"'{_LANGS[0]}'"
for _lg in _LANGS[1:]:
    _BEST_LG = f"CASE WHEN s_{_lg} > {_BEST_EXPR} THEN '{_lg}' ELSE {_BEST_LG} END"
    _BEST_EXPR = f"GREATEST({_BEST_EXPR}, s_{_lg})"

_BANDS_SQL = ",\n                   ".join(
    f"mh_{2*b} || '#' || mh_{2*b+1} AS band_{b}" for b in range(4)
)
_BAND_UNION = "\n            UNION ALL\n".join(
    f"            SELECT a.doc_id AS da, b.doc_id AS db FROM sigs a "
    f"JOIN sigs b ON a.band_{b} = b.band_{b} AND a.doc_id < b.doc_id"
    for b in range(4)
)


def _embed_band_key_sql(band: int) -> str:
    lo = band * EMBED_PLANES_PER_BAND
    return " || ".join(
        f"CASE WHEN embedding[{lo + i + 1}] >= 0 THEN '1' ELSE '0' END"
        for i in range(EMBED_PLANES_PER_BAND)
    )


_EMBED_BAND_KEYS = ",\n                   ".join(
    f"({_embed_band_key_sql(b)}) AS band_{b}" for b in range(EMBED_BANDS)
)
# UNION (not ALL) = the distinct() over unioned per-band candidate pairs
_EMBED_BAND_UNION = "\n            UNION\n".join(
    f"            SELECT a.vec_id AS va, b.vec_id AS vb FROM keyed a "
    f"JOIN keyed b ON a.band_{b} = b.band_{b} AND a.vec_id < b.vec_id"
    for b in range(EMBED_BANDS)
)

# x51: cross-set (new % 5 == 0 vs corpus) band-candidate union
_INC_BAND_UNION = "\n            UNION ALL\n".join(
    f"            SELECT n.doc_id AS nid, c.doc_id AS cid FROM sigs n "
    f"JOIN sigs c ON n.band_{b} = c.band_{b} "
    f"AND n.doc_id % 5 = 0 AND c.doc_id % 5 <> 0"
    for b in range(4)
)

ORACLES = {
    "x1_minhash_signatures": _SHINGLES
    + f"""
        SELECT doc_id,
               {_MH_COLS}
        FROM sh GROUP BY doc_id
    """,
    "x15_minhash_lsh_pairs": _SHINGLES
    + f"""
        , sigs AS (
            SELECT doc_id, {_BANDS_SQL}
            FROM (SELECT doc_id, {_MH_COLS} FROM sh GROUP BY doc_id)
        ), cands AS (
            SELECT DISTINCT da, db FROM (
{_BAND_UNION}
            )
        ), sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id)
        , shared AS (
            SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS shared
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ), exact AS (
            SELECT da, db, ROUND(shared / (sa.sz + sb.sz - shared), 6) AS jaccard
            FROM shared
            JOIN sizes sa ON sa.doc_id = da
            JOIN sizes sb ON sb.doc_id = db
            WHERE ROUND(shared / (sa.sz + sb.sz - shared), 6) >= 0.5
        )
        SELECT c.da AS doc_id_a, c.db AS doc_id_b, e.jaccard
        FROM cands c JOIN exact e ON e.da = c.da AND e.db = c.db
    """,
    "x2_simhash": """
        WITH tok AS (
            SELECT doc_id, UNNEST(list_distinct(string_split(text, ' '))) AS t
            FROM documents
        ), bits AS (
            SELECT doc_id, j,
                   SUM(CASE WHEN substr(md5(t), j + 1, 1) >= '8' THEN 1 ELSE -1 END) AS s
            FROM tok, UNNEST(range(0, 16)) AS u(j)
            GROUP BY doc_id, j
        )
        SELECT doc_id,
               string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS simhash
        FROM bits GROUP BY doc_id
    """,
    "x3_lang_id": (
        "WITH scored AS (SELECT doc_id, "
        + ", ".join(f"{_lang_score_sql(lg)} AS s_{lg}" for lg in _LANGS)
        + " FROM documents) SELECT doc_id, "
        + f"CASE WHEN {_BEST_EXPR} > 0 THEN {_BEST_LG} ELSE 'und' END AS pred_lang, "
        + f"ROUND({_BEST_EXPR}, 6) AS marker_ratio FROM scored"
    ),
    "x4_quality": """
        WITH base AS (
            SELECT doc_id,
                   CAST(len(string_split(trim(text), ' ')) AS DOUBLE) AS n,
                   text
            FROM documents
        )
        SELECT doc_id,
               ROUND(
                 0.5 * LEAST(n / 200.0, 1.0)
               + 0.3 * (1.0 - LEAST(ABS(length(regexp_replace(text, '\\s+', '', 'g')) / GREATEST(n, 1.0) - 5.0) / 5.0, 1.0))
               + 0.2 * (1.0 - length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
                              / GREATEST(CAST(length(text) AS DOUBLE), 1.0)),
               6) AS quality
        FROM base
    """,
    "x5_token_counts": f"""
        SELECT doc_id,
               CAST(len(string_split(trim(text), ' ')) AS INT) AS n_ws_tokens,
               CAST(len(regexp_extract_all(text, '{BPE_TOKEN_RE}')) AS INT) AS n_bpe_tokens
        FROM documents
    """,
    "x6_fingerprint": """
        SELECT doc_id,
               substr(md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))), 1, 16) AS fp64
        FROM documents
    """,
    "x7_embed_neardup": f"""
        WITH keyed AS (
            SELECT vec_id,
                   {_EMBED_BAND_KEYS}
            FROM embeddings
        ), cands AS (
{_EMBED_BAND_UNION}
        )
        SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
               ROUND(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
                     / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                        * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))),
                     6) AS cos
        FROM cands c
        JOIN embeddings a ON a.vec_id = c.va
        JOIN embeddings b ON b.vec_id = c.vb
        WHERE ROUND(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
                     / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                        * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))),
                     6) >= {EMBED_NEARDUP_TAU}
    """,
    "x50_tfidf_topk": """
        WITH tok AS (
            SELECT doc_id, UNNEST(string_split(trim(text), ' ')) AS token
            FROM documents
        ), tf AS (
            SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2
        ), dfreq AS (
            SELECT token, COUNT(*) AS dfc
            FROM (SELECT DISTINCT doc_id, token FROM tok) GROUP BY token
        ), nd AS (SELECT COUNT(*) AS nd FROM documents)
        , weighted AS (
            SELECT doc_id, token,
                   ROUND(tf * ln((nd + 1.0) / (dfc + 1.0)), 6) AS tfidf
            FROM tf JOIN dfreq USING (token), nd
        ), ranked AS (
            SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                                              ORDER BY tfidf DESC, token) AS INT) AS rk
            FROM weighted
        )
        SELECT doc_id, token, tfidf, rk FROM ranked WHERE rk <= 3
    """,
    "x51_incremental_dedup": _SHINGLES
    + f"""
        , sigs AS (
            SELECT doc_id, {_BANDS_SQL}
            FROM (SELECT doc_id, {_MH_COLS} FROM sh GROUP BY doc_id)
        ), cands AS (
            SELECT DISTINCT nid, cid FROM (
{_INC_BAND_UNION}
            )
        ), sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id)
        , shared AS (
            SELECT a.doc_id AS nid, b.doc_id AS cid, COUNT(*) AS shared
            FROM sh a JOIN sh b ON a.shingle = b.shingle
            WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
            GROUP BY 1, 2
        ), exact AS (
            SELECT c.nid, c.cid,
                   ROUND(s.shared / (sn.sz + sc.sz - s.shared), 6) AS jaccard
            FROM cands c
            JOIN shared s ON s.nid = c.nid AND s.cid = c.cid
            JOIN sizes sn ON sn.doc_id = c.nid
            JOIN sizes sc ON sc.doc_id = c.cid
            WHERE ROUND(s.shared / (sn.sz + sc.sz - s.shared), 6) >= 0.5
        ), ranked AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY nid
                                         ORDER BY jaccard DESC, cid) AS rk
            FROM exact
        )
        SELECT nid AS doc_id, cid AS match_id, jaccard FROM ranked WHERE rk = 1
    """,
    "x49_media_probe": """
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 1 THEN 'image/png' ELSE 'audio/wav' END AS media_type,
               CASE WHEN doc_id % 2 = 1 THEN CAST(16 + doc_id % 32 AS INT) END AS width,
               CASE WHEN doc_id % 2 = 1 THEN CAST(9 + doc_id % 17 AS INT) END AS height,
               CASE WHEN doc_id % 2 = 0 THEN CAST(8000 * (1 + doc_id % 3) AS INT) END AS sample_rate,
               CASE WHEN doc_id % 2 = 0 THEN CAST(1 + (doc_id // 2) % 2 AS INT) END AS n_channels,
               CASE WHEN doc_id % 2 = 0 THEN CAST(16 AS INT) END AS bits_per_sample,
               CASE WHEN doc_id % 2 = 0
                    THEN CAST((100 + n_chars) * 1000 // (8000 * (1 + doc_id % 3)) AS BIGINT)
               END AS duration_ms
        FROM documents
    """,
    "x8_ann_bucketed": f"""
        WITH bucketed AS (
            SELECT vec_id, embedding,
                   (CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END
                 || CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END
                 || CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END
                 || CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END) AS bk
            FROM embeddings
        ), scored AS (
            SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
                   ROUND(list_dot_product(p.embedding::DOUBLE[], c.embedding::DOUBLE[])
                         / (sqrt(list_dot_product(p.embedding::DOUBLE[], p.embedding::DOUBLE[]))
                            * sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))),
                         6) AS cos
            FROM bucketed p JOIN bucketed c
              ON (CASE WHEN substr(p.bk,1,1)=substr(c.bk,1,1) THEN 0 ELSE 1 END
                + CASE WHEN substr(p.bk,2,1)=substr(c.bk,2,1) THEN 0 ELSE 1 END
                + CASE WHEN substr(p.bk,3,1)=substr(c.bk,3,1) THEN 0 ELSE 1 END
                + CASE WHEN substr(p.bk,4,1)=substr(c.bk,4,1) THEN 0 ELSE 1 END) <= 1
             AND p.vec_id != c.vec_id
            WHERE p.vec_id < {ANN_PROBES}
        ), ranked AS (
            SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY probe_id
                                              ORDER BY cos DESC, neighbor_id) AS INT) AS rk
            FROM scored
        )
        SELECT probe_id, neighbor_id, cos, rk FROM ranked WHERE rk <= {ANN_K}
    """,
    "x9_multimodal_binary": """
        SELECT doc_id,
               CAST(strlen(text) AS INT) AS n_bytes,
               md5(text) AS digest
        FROM documents
    """,
}
