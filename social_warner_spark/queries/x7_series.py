"""Seventh extension batch: corpus hygiene + warehouse audit tooling.

Hygiene (the crawl-cleanup pass): per-source caps (x52), text
normalization (x53), segment-level dedup with reassembly (x54), int8
embedding quantization (x55), SemDeDup semantic dedup (x61), Gopher-rules
quality gate (x62), count-min-sketch heavy hitters (x63), DSIR
importance-weighted selection (x64), HyperLogLog distinct counts (x65).
Audit/infrastructure: global index assignment (x56), table checksums
(x57), column profiling (x58), skew-salted join (x59), FK orphan audit
(x60).  All follow the standard determinism protocol (md5/fixed
geometry, 6dp rounding, portable Java∩RE2 regexes).
"""

from __future__ import annotations

import pyspark.sql.functions as F

from social_warner_spark.functions.text import normalize_text, quality_score, tokens
from social_warner_spark.queries.common import T
from social_warner_spark.queries.x3_series import _IVF_COS
from social_warner_spark.queries.x5_series import _QUALITY_SQL
from social_warner_spark.queries.x_series import EMBED_NEARDUP_TAU

#: x52 — per-source document cap.
SOURCE_CAP = 10
#: x53 — injected noise (zero-width space, tabs, doubled spaces) so the
#: normalization is observable on clean synthetic text; same literals in
#: the oracle.
ZWSP = "​"
#: x54 — segment granularity (tokens) standing in for paragraphs.
SEG_TOKENS = 4


def x52_source_caps(spark, sf_dir):
    """Per-source contribution cap (operators/corpus.py:per_group_cap):
    keep the SOURCE_CAP highest-quality docs per source, deterministic
    tie-break on doc_id.  The per-domain cap every web-crawl pipeline
    applies so no single site dominates the mixture."""
    from social_warner_spark.operators.corpus import per_group_cap

    d = T(spark, sf_dir, "documents").select(
        "doc_id", "source", quality_score(F.col("text")).alias("quality")
    )
    capped = per_group_cap(d, "source", "quality", "doc_id", SOURCE_CAP)
    return capped.select("doc_id", "source", "quality", F.col("rk").cast("int").alias("rk"))


def x53_normalize_text(spark, sf_dir):
    """Unicode/whitespace normalization (functions/text.py:normalize_text).
    Deterministic noise (zero-width space, tabs, doubled spaces) is
    injected first so the scrub is observable; `restored` proves the
    cleaned text round-trips to the original."""
    d = T(spark, sf_dir, "documents")
    noisy = F.concat(
        F.lit(ZWSP + "\t  "),
        F.regexp_replace(F.col("text"), " ", "  "),
        F.lit(" \t" + ZWSP),
    )
    staged = d.select("doc_id", "text", noisy.alias("noisy"))
    clean = normalize_text(F.col("noisy"))
    return staged.select(
        "doc_id",
        F.length("noisy").alias("n_noisy"),
        F.length(clean).alias("n_clean"),
        (clean == F.col("text")).cast("int").alias("restored"),
        F.substring(clean, 1, 40).alias("prefix"),
    )


def x54_segment_dedup(spark, sf_dir):
    """Segment-level exact dedup with reassembly
    (operators/dedup.py:segment_dedup): fixed 4-token segments, global
    first-occurrence-wins, documents rebuilt from surviving segments —
    the paragraph-dedup pass of web-crawl pipelines."""
    from social_warner_spark.operators.dedup import segment_dedup

    return segment_dedup(
        T(spark, sf_dir, "documents"), seg_tokens=SEG_TOKENS
    ).select("doc_id", "n_segs", "n_kept", "clean_text")


def x55_embed_quantize(spark, sf_dir):
    """Int8 embedding quantization (operators/similarity.py:
    quantize_embeddings): per-vector symmetric scale, saturation count,
    L2 reconstruction error — the 4× storage-compression path for vector
    corpora."""
    from social_warner_spark.operators.similarity import quantize_embeddings

    return quantize_embeddings(T(spark, sf_dir, "embeddings")).select(
        "vec_id", "scale", "n_sat", "recon_err"
    )


def x56_global_index(spark, sf_dir):
    """Dense global row numbering (operators/ordered.py:with_grouped_rank
    with no group keys): range-partitioned local ranks + broadcast
    cumulative offsets — total order with NO single-partition window.  Ordered by (n_chars DESC,
    doc_id) over documents."""
    from social_warner_spark.operators.ordered import with_grouped_rank

    d = T(spark, sf_dir, "documents").select("doc_id", "n_chars")
    out = with_grouped_rank(d, [], [F.desc("n_chars"), F.asc("doc_id")], "gidx")
    return out.select("doc_id", "n_chars", "gidx")


def x57_table_checksum(spark, sf_dir):
    """Order-independent table checksum (operators/audit.py): per-source
    (count, bit_xor of 60-bit row hashes) + ROLLUP grand total — the
    engine-migration reconciliation check, one partial-agg pass."""
    from social_warner_spark.operators.audit import table_checksum

    d = T(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id_s"),
        "text",
        "lang",
        "source",
        F.col("n_chars").cast("string").alias("n_chars_s"),
    )
    return table_checksum(
        d, ["doc_id_s", "text", "lang", "source", "n_chars_s"], group_col="source"
    ).select("source", "n_rows", "xor60")


def x58_profile_table(spark, sf_dir):
    """Data profiling (operators/audit.py:profile_table): per-column
    count / null count / exact distinct / min / max over documents in ONE
    scan (multi-distinct via Expand), melted to a row per column."""
    from social_warner_spark.operators.audit import profile_table

    return profile_table(
        T(spark, sf_dir, "documents"), ["doc_id", "text", "lang", "source", "n_chars"]
    )


def x59_salted_join(spark, sf_dir):
    """Skew-resistant salted fact-fact join (operators/grouped.py:
    salted_join): lineitem salted by row hash mod 8, orders replicated
    8x, joined on (l_orderkey, salt) then aggregated to revenue per
    order priority.  Result provably equals the plain join (the oracle
    IS the plain join)."""
    from social_warner_spark.operators.grouped import salted_join
    from social_warner_spark.queries.common import r2

    li = T(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), "l_extendedprice", "l_discount"
    )
    orders = T(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("ok"), "o_orderpriority"
    )
    joined = salted_join(li, orders, "ok", salts=8)
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            r2(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "revenue"
            ),
            F.count("*").alias("n_items"),
        )
    )


def x60_fk_check(spark, sf_dir):
    """Referential-integrity audit (operators/audit.py:fk_check): orders →
    customer with BUILDING-segment customers removed from the parent, so
    the orphan path is observable (the raw testdata has full integrity)."""
    from social_warner_spark.operators.audit import fk_check

    orders = T(spark, sf_dir, "orders")
    parent = T(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") != "BUILDING"
    )
    return fk_check(orders, parent, "o_custkey", "c_custkey")


def x61_semantic_dedup(spark, sf_dir):
    """SemDeDup semantic dedup (operators/dedup.py:semantic_dedup):
    deterministic IVF clustering (8 seed centroids, one 6dp-rounded Lloyd
    step — the exact x24 machinery) blocks the corpus, then within-cluster
    cosine ≥ τ drops the higher id of each near-dup pair.  τ matches x7's
    EMBED_NEARDUP_TAU because the synthetic embeddings' max pairwise
    cosine is ≈0.51 — a production 0.9 would be vacuous here."""
    from social_warner_spark.operators.dedup import semantic_dedup

    emb = T(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, threshold=EMBED_NEARDUP_TAU, nlist=8, iters=1)


def x62_gopher_rules(spark, sf_dir):
    """Gopher-rules quality gate (functions/text.py:gopher_metrics /
    gopher_pass — Rae et al. 2021 appendix A1.1): per-doc word count,
    mean word length, alpha-word fraction, symbol ratio, stopword hits,
    and the conjunction flag.  Pure narrow map, zero shuffle; the paper
    thresholds are kept verbatim (the synthetic corpus fails mostly on
    word count < 50 and stopword hits < 2, which makes the gate
    observable)."""
    from social_warner_spark.functions.text import (
        gopher_metrics,
        gopher_pass,
        tokens,
    )

    d = T(spark, sf_dir, "documents")
    staged = d.select("doc_id", "text", tokens(F.col("text")).alias("_toks"))
    m = gopher_metrics(F.col("_toks"), F.col("text"))
    return staged.select(
        "doc_id",
        m["n_words"].alias("n_words"),
        m["mean_word_len"].alias("mean_word_len"),
        m["frac_alpha"].alias("frac_alpha"),
        m["symbol_ratio"].alias("symbol_ratio"),
        m["n_stop"].alias("n_stop"),
        gopher_pass(m).alias("gopher_ok"),
    )


def x63_cms_heavy_hitters(spark, sf_dir):
    """Count-min-sketch heavy hitters (operators/sketch.py:cms_heavy_
    hitters): 4x64 md5-hashed cells over the document token stream,
    min-over-rows estimates for every token, top-20 by estimate.  The
    exact counts ride along as the verification baseline; `overcount`
    exposes the sketch's one-sided collision error in the result itself."""
    from social_warner_spark.operators.sketch import cms_heavy_hitters

    return cms_heavy_hitters(T(spark, sf_dir, "documents"), depth=4, width=64, k=20)


def x64_dsir_select(spark, sf_dir):
    """DSIR importance-weighted selection (operators/corpus.py:
    dsir_select): hashed-unigram LMs (1024 md5 buckets) of the English
    subset (target domain) vs the whole corpus, mean per-token
    log-importance-ratio per doc, top-50 kept.  Both distributions are
    bounded broadcasts; the token stream shuffles once for the per-doc
    mean."""
    from social_warner_spark.operators.corpus import dsir_select

    d = T(spark, sf_dir, "documents")
    return dsir_select(d, d.where(F.col("lang") == "en"), n_select=50)


def x65_hll_distinct(spark, sf_dir):
    """Per-source distinct-token estimates via the relational HyperLogLog
    (operators/sketch.py:hll_distinct — md5 registers, exact integer
    leading-zero ranks, linear-counting small-range correction).  The
    exact distinct count rides along as the verification baseline; on
    this tiny vocabulary every source lands in the linear-counting
    branch, which the oracle reproduces bit for bit."""
    from social_warner_spark.operators.sketch import hll_distinct

    d = T(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(tokens(F.col("text"))).alias("token"))
    est = hll_distinct(tok, "token", "source")
    exact = tok.groupBy("source").agg(
        F.countDistinct("token").alias("exact_distinct")
    )
    return est.join(exact, "source")


QUERIES = {
    "x52_source_caps": x52_source_caps,
    "x53_normalize_text": x53_normalize_text,
    "x54_segment_dedup": x54_segment_dedup,
    "x55_embed_quantize": x55_embed_quantize,
    "x56_global_index": x56_global_index,
    "x57_table_checksum": x57_table_checksum,
    "x58_profile_table": x58_profile_table,
    "x59_salted_join": x59_salted_join,
    "x60_fk_check": x60_fk_check,
    "x61_semantic_dedup": x61_semantic_dedup,
    "x62_gopher_rules": x62_gopher_rules,
    "x63_cms_heavy_hitters": x63_cms_heavy_hitters,
    "x64_dsir_select": x64_dsir_select,
    "x65_hll_distinct": x65_hll_distinct,
}

ORACLES = {
    "x52_source_caps": f"""
        WITH scored AS (
            SELECT doc_id, source, ROUND({_QUALITY_SQL}, 6) AS quality
            FROM documents
        ), ranked AS (
            SELECT *, CAST(ROW_NUMBER() OVER (
                       PARTITION BY source ORDER BY quality DESC, doc_id
                     ) AS INT) AS rk
            FROM scored
        )
        SELECT doc_id, source, quality, rk FROM ranked WHERE rk <= {SOURCE_CAP}
    """,
    "x53_normalize_text": f"""
        WITH noised AS (
            SELECT doc_id, text,
                   '{ZWSP}' || chr(9) || '  '
                     || regexp_replace(text, ' ', '  ', 'g')
                     || ' ' || chr(9) || '{ZWSP}' AS noisy
            FROM documents
        ), cleaned AS (
            SELECT doc_id, text, noisy,
                   trim(regexp_replace(
                       regexp_replace(noisy, '[{ZWSP}‌‍﻿]', '', 'g'),
                       '[ ' || chr(9) || chr(13) || chr(10) || ']+', ' ', 'g'
                   )) AS clean
            FROM noised
        )
        SELECT doc_id,
               CAST(length(noisy) AS INT) AS n_noisy,
               CAST(length(clean) AS INT) AS n_clean,
               CAST(clean = text AS INT) AS restored,
               substr(clean, 1, 40) AS prefix
        FROM cleaned
    """,
    "x54_segment_dedup": f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ), seg AS (
            SELECT doc_id, CAST(u.i AS BIGINT) AS seg_idx,
                   array_to_string(
                       t[(u.i - 1) * {SEG_TOKENS} + 1 : u.i * {SEG_TOKENS}], ' '
                   ) AS para
            FROM toks,
                 UNNEST(range(1, CAST(CEIL(len(t) / {SEG_TOKENS}.0) AS BIGINT) + 1)) AS u(i)
        ), ranked AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY para ORDER BY doc_id, seg_idx) AS rnk
            FROM seg
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_segs,
               CAST(SUM(CASE WHEN rnk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               COALESCE(string_agg(para, ' ' ORDER BY seg_idx) FILTER (WHERE rnk = 1), '')
                 AS clean_text
        FROM ranked GROUP BY doc_id
    """,
    "x58_profile_table": """
        SELECT 'doc_id' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(*) - COUNT(doc_id) AS BIGINT) AS n_null,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_distinct,
               CAST(MIN(doc_id) AS VARCHAR) AS min_s, CAST(MAX(doc_id) AS VARCHAR) AS max_s
        FROM documents
        UNION ALL
        SELECT 'text', CAST(COUNT(*) AS BIGINT), CAST(COUNT(*) - COUNT(text) AS BIGINT),
               CAST(COUNT(DISTINCT text) AS BIGINT), MIN(text), MAX(text) FROM documents
        UNION ALL
        SELECT 'lang', CAST(COUNT(*) AS BIGINT), CAST(COUNT(*) - COUNT(lang) AS BIGINT),
               CAST(COUNT(DISTINCT lang) AS BIGINT), MIN(lang), MAX(lang) FROM documents
        UNION ALL
        SELECT 'source', CAST(COUNT(*) AS BIGINT), CAST(COUNT(*) - COUNT(source) AS BIGINT),
               CAST(COUNT(DISTINCT source) AS BIGINT), MIN(source), MAX(source) FROM documents
        UNION ALL
        SELECT 'n_chars', CAST(COUNT(*) AS BIGINT), CAST(COUNT(*) - COUNT(n_chars) AS BIGINT),
               CAST(COUNT(DISTINCT n_chars) AS BIGINT),
               CAST(MIN(n_chars) AS VARCHAR), CAST(MAX(n_chars) AS VARCHAR) FROM documents
    """,
    "x60_fk_check": """
        WITH keys AS (
            SELECT DISTINCT c_custkey FROM customer WHERE c_mktsegment <> 'BUILDING'
        )
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_child,
               CAST(COUNT(*) AS BIGINT) AS n_orphans,
               CAST(MIN(o_custkey) AS VARCHAR) AS orphan_min,
               CAST(MAX(o_custkey) AS VARCHAR) AS orphan_max
        FROM orders o
        WHERE o.o_custkey IS NOT NULL
          AND NOT EXISTS (SELECT 1 FROM keys k WHERE k.c_custkey = o.o_custkey)
    """,
    "x59_salted_join": """
        SELECT o_orderpriority,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               CAST(COUNT(*) AS BIGINT) AS n_items
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority
    """,
    "x56_global_index": """
        SELECT doc_id, n_chars,
               CAST(ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS BIGINT) AS gidx
        FROM documents
    """,
    "x57_table_checksum": """
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               bit_xor(CAST('0x' || substr(
                   md5(doc_id || '|' || text || '|' || lang || '|' || source
                       || '|' || n_chars), 1, 15) AS BIGINT)) AS xor60
        FROM documents
        GROUP BY ROLLUP(source)
    """,
    "x55_embed_quantize": """
        WITH b AS (
            SELECT vec_id, embedding::DOUBLE[] AS v,
                   127.0 / GREATEST(
                       list_max(list_transform(embedding::DOUBLE[], x -> abs(x))), 1e-12
                   ) AS scale
            FROM embeddings
        ), q AS (
            SELECT vec_id, v, scale,
                   list_transform(
                       v, x -> LEAST(GREATEST(CAST(ROUND(x * scale) AS INTEGER), -127), 127)
                   ) AS qv
            FROM b
        )
        SELECT vec_id, ROUND(scale, 6) AS scale,
               CAST(len(list_filter(qv, x -> abs(x) = 127)) AS BIGINT) AS n_sat,
               ROUND(sqrt(list_sum(
                   list_transform(v, (x, i) -> (x - qv[i] / scale) ^ 2)
               )), 6) AS recon_err
        FROM q
    """,
    "x61_semantic_dedup": f"""
        WITH seeds AS (
            SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster,
                   embedding::DOUBLE[] AS cvec
            FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 8)
        ), assign0 AS (
            SELECT vec_id, embedding, cluster FROM (
                SELECT e.vec_id, e.embedding, s.cluster,
                       ROW_NUMBER() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {_IVF_COS.format(a='e.embedding', b='s.cvec')} DESC,
                                    s.cluster) AS rk
                FROM embeddings e CROSS JOIN seeds s
            ) WHERE rk = 1
        ), means AS (
            SELECT cluster, i AS pos, ROUND(AVG(embedding[i]::DOUBLE), 6) AS m
            FROM assign0, UNNEST(range(1, len(embedding) + 1)) u(i)
            GROUP BY cluster, i
        ), cent1 AS (
            SELECT cluster, list(m ORDER BY pos) AS cvec FROM means GROUP BY cluster
        ), assign1 AS (
            SELECT vec_id, embedding, cluster FROM (
                SELECT e.vec_id, e.embedding, c.cluster,
                       ROW_NUMBER() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {_IVF_COS.format(a='e.embedding', b='c.cvec')} DESC,
                                    c.cluster) AS rk
                FROM embeddings e CROSS JOIN cent1 c
            ) WHERE rk = 1
        ), dups AS (
            SELECT DISTINCT b.vec_id
            FROM assign1 a JOIN assign1 b
              ON a.cluster = b.cluster AND a.vec_id < b.vec_id
            WHERE {_IVF_COS.format(a='a.embedding', b='b.embedding')}
                  >= {EMBED_NEARDUP_TAU}
        )
        SELECT s.vec_id, s.cluster FROM assign1 s
        WHERE NOT EXISTS (SELECT 1 FROM dups d WHERE d.vec_id = s.vec_id)
    """,
    "x62_gopher_rules": """
        WITH toks AS (
            SELECT doc_id, text, string_split(text, ' ') AS t FROM documents
        ), m AS (
            SELECT doc_id,
                   CAST(len(t) AS INT) AS n_words,
                   ROUND(CAST(list_sum(list_transform(t, x -> len(x))) AS DOUBLE)
                         / GREATEST(len(t), 1), 6) AS mean_word_len,
                   ROUND(CAST(len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]')))
                              AS DOUBLE) / GREATEST(len(t), 1), 6) AS frac_alpha,
                   ROUND((CAST(length(regexp_replace(text, '[^#\u2026]', '', 'g')) AS DOUBLE)
                          + 3 * (len(string_split(text, '...')) - 1))
                         / GREATEST(len(t), 1), 6) AS symbol_ratio,
                   CAST(len(list_filter(t, x -> list_contains(
                       ['the','be','to','of','and','that','have','with'], lower(x)
                   ))) AS INT) AS n_stop
            FROM toks
        )
        SELECT doc_id, n_words, mean_word_len, frac_alpha, symbol_ratio, n_stop,
               CAST(n_words >= 50 AND n_words <= 100000
                    AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
                    AND frac_alpha >= 0.8 AND symbol_ratio <= 0.1
                    AND n_stop >= 2 AS INT) AS gopher_ok
        FROM m
    """,
    "x63_cms_heavy_hitters": """
        WITH tok AS (
            SELECT unnest(string_split(text, ' ')) AS token FROM documents
        ), rws AS (
            SELECT unnest(range(0, 4)) AS r
        ), cells AS (
            SELECT r,
                   CAST(CAST('0x' || substr(md5(CAST(r AS VARCHAR) || '|' || token), 1, 15)
                             AS BIGINT) % 64 AS INT) AS bucket,
                   CAST(COUNT(*) AS BIGINT) AS cnt
            FROM tok CROSS JOIN rws
            GROUP BY 1, 2
        ), exact AS (
            SELECT token, CAST(COUNT(*) AS BIGINT) AS exact FROM tok GROUP BY token
        ), probes AS (
            SELECT token, exact, r,
                   CAST(CAST('0x' || substr(md5(CAST(r AS VARCHAR) || '|' || token), 1, 15)
                             AS BIGINT) % 64 AS INT) AS bucket
            FROM exact CROSS JOIN rws
        ), est AS (
            SELECT token, exact, MIN(cnt) AS est
            FROM probes JOIN cells USING (r, bucket)
            GROUP BY token, exact
        ), ranked AS (
            SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY est DESC, token) AS INT) AS rk
            FROM est
        )
        SELECT token, exact, est, est - exact AS overcount, rk
        FROM ranked WHERE rk <= 20
    """,
    "x64_dsir_select": """
        WITH raw_tok AS (
            SELECT doc_id,
                   CAST(CAST('0x' || substr(md5(t.tok), 1, 15) AS BIGINT)
                        % 1024 AS INT) AS bk
            FROM documents, UNNEST(string_split(text, ' ')) AS t(tok)
        ), tgt_tok AS (
            SELECT doc_id,
                   CAST(CAST('0x' || substr(md5(t.tok), 1, 15) AS BIGINT)
                        % 1024 AS INT) AS bk
            FROM documents, UNNEST(string_split(text, ' ')) AS t(tok)
            WHERE lang = 'en'
        ), p_t AS (
            SELECT bk, (COUNT(*) + 1)
                       / ((SELECT COUNT(*) FROM tgt_tok) + 1024.0) AS p_t
            FROM tgt_tok GROUP BY bk
        ), p_r AS (
            SELECT bk, (COUNT(*) + 1)
                       / ((SELECT COUNT(*) FROM raw_tok) + 1024.0) AS p_r
            FROM raw_tok GROUP BY bk
        ), per_doc AS (
            SELECT r.doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_tokens,
                   ROUND(AVG(
                       ln(COALESCE(p.p_t,
                            1.0 / ((SELECT COUNT(*) FROM tgt_tok) + 1024)))
                       - ln(pr.p_r)), 6) AS logratio
            FROM raw_tok r
            LEFT JOIN p_t p USING (bk)
            LEFT JOIN p_r pr USING (bk)
            GROUP BY r.doc_id
        ), ranked AS (
            SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY logratio DESC, doc_id)
                           AS INT) AS rk
            FROM per_doc
        )
        SELECT doc_id, n_tokens, logratio, rk FROM ranked WHERE rk <= 50
    """,
    "x65_hll_distinct": """
        WITH tok AS (
            SELECT source, t.tok AS token
            FROM documents, UNNEST(string_split(text, ' ')) AS t(tok)
        ), hashed AS (
            SELECT source,
                   CAST(h % 64 AS INT) AS bucket,
                   h // 64 AS w
            FROM (SELECT source,
                         CAST('0x' || substr(md5(token), 1, 15) AS BIGINT) AS h
                  FROM tok)
        ), regs AS (
            SELECT source, bucket,
                   MAX(CASE WHEN w > 0 THEN 55 - length(bin(w)) ELSE 55 END) AS mreg
            FROM hashed GROUP BY source, bucket
        ), per AS (
            SELECT source, CAST(COUNT(*) AS INT) AS n_present,
                   SUM(CAST(power(2, 55 - mreg) AS BIGINT)) AS sum_scaled
            FROM regs GROUP BY source
        ), est AS (
            SELECT source, n_present,
                   0.709 * 64 * 64
                     / (sum_scaled / 36028797018963968.0 + (64 - n_present))
                     AS e_raw
            FROM per
        ), fin AS (
            SELECT source, n_present,
                   ROUND(CASE WHEN (64 - n_present) > 0 AND e_raw <= 160.0
                              THEN 64.0 * ln(64.0 / (64 - n_present))
                              ELSE e_raw END, 6) AS est_distinct
            FROM est
        )
        SELECT f.source, f.n_present, f.est_distinct, x.exact_distinct
        FROM fin f JOIN (
            SELECT source, CAST(COUNT(DISTINCT token) AS BIGINT) AS exact_distinct
            FROM tok GROUP BY source
        ) x USING (source)
    """,
}
