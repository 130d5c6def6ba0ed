"""Third extension batch: RANGE window frames, distribution window
functions, ordered string aggregation, deterministic sampling."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from social_warner_spark.queries.common import T, r6

#: Recursive-CTE form of the transitive near-dup closure (Jaccard ≥ 0.5 on
#: 3-gram shingles, min-reachable-id label) — shared by the x27 oracle and
#: by downstream cluster consumers (x77 survivor selection).  Ends with a
#: ``clusters(doc_id, cluster_id)`` relation.
NEARDUP_CLUSTERS_CTE = """
        WITH RECURSIVE toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ), sh AS (
            SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
            FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
            WHERE len(t) >= 3
        ), sizes AS (
            SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
        ), shared AS (
            SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS c
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ), pairs AS (
            SELECT a, b FROM shared
            JOIN sizes sa ON sa.doc_id = a
            JOIN sizes sb ON sb.doc_id = b
            WHERE ROUND(c / (sa.sz + sb.sz - c), 6) >= 0.5
        ), edges AS (
            SELECT a AS src, b AS dst FROM pairs
            UNION ALL
            SELECT b, a FROM pairs
        ), reach(id, lab) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT e.src, r.lab FROM reach r JOIN edges e ON e.dst = r.id
        ), clusters AS (
            SELECT id AS doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY id
        )
"""


def x17_range_frame(spark, sf_dir):
    """RANGE frame (value-bounded, not row-bounded): sum of order totals
    within 10000 below each order's total, per status.  Value-defined
    frames are tie-order-insensitive → deterministic without a unique key.

    r07: orders scale with SF and o_orderstatus has 3 values, so the
    direct per-status window was three single-task corpus sorts at
    100 TB (LowCardPartitionWindow).  Runs as the grouped VALUE-HALO
    layout (operators/ordered.py with_grouped_value_range): range
    partition on (status, totalprice), each boundary's trailing
    10000-value band duplicated into the next partition, balanced
    per-(partition, status) RANGE window, halo rows dropped."""
    from social_warner_spark.operators.ordered import with_grouped_value_range

    o = T(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    out = with_grouped_value_range(
        o,
        ["o_orderstatus"],
        "o_totalprice",
        -10000,
        {
            # r2, not r6: the windowed sum reaches ~4e8 where a double's
            # ulp (6e-8) is within a decade of the 1e-6 grid — the
            # engines' ROUND implementations then emit DIFFERENT doubles
            # for the same sum (surfaced by the sf0.1 strict mirror).
            # 2dp follows the repo's large-sum convention; at 2dp both
            # float paths are exact.
            "nearby_total": lambda w: F.round(F.sum("o_totalprice").over(w), 2),
            "nearby_cnt": lambda w: F.count("*").over(w),
        },
    )
    return out.select("o_orderkey", "o_orderstatus", "nearby_total", "nearby_cnt")


def x18_distribution_windows(spark, sf_dir):
    """ntile / percent_rank / cume_dist / first_value / nth_value over a
    tie-free total order, per order status.

    r07: orders scale with SF and o_orderstatus has 3 values, so the
    direct ``Window.partitionBy(o_orderstatus)`` form is three
    single-task corpus sorts at 100 TB (the LowCardPartitionWindow
    class).  All five distribution functions are CLOSED FORMS of the
    grouped distributed rank + per-group total (with_grouped_rank,
    operators/ordered.py): the order is tie-free, so rank == row_number,
    percent_rank = (rn−1)/(n−1), cume_dist = rn/n, ntile by integer
    arithmetic, and first/second keys come from a 2·|status|-row head
    relation broadcast back (the default RANGE frame makes nth_value(2)
    NULL on each group's first row — reproduced explicitly)."""
    from social_warner_spark.operators.ordered import with_grouped_rank

    o = T(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    ranked = with_grouped_rank(
        o,
        ["o_orderstatus"],
        ["o_totalprice", "o_orderkey"],
        rank_col="rn",
        count_col="n",
    )
    heads = (
        ranked.where(F.col("rn") <= 2)
        .groupBy("o_orderstatus")
        .agg(
            F.min(F.when(F.col("rn") == 1, F.col("o_orderkey"))).alias("first_key"),
            F.min(F.when(F.col("rn") == 2, F.col("o_orderkey"))).alias("_second"),
        )
    )
    rn, n = F.col("rn"), F.col("n")
    q, rem = F.floor(n / 4), n % 4
    head = rem * (q + 1)
    tile = (
        F.when(q == 0, rn)
        .when(rn <= head, F.floor((rn - 1) / (q + 1)) + 1)
        .otherwise(rem + F.floor((rn - 1 - head) / q) + 1)
    )
    return ranked.join(F.broadcast(heads), "o_orderstatus").select(
        "o_orderkey",
        "o_orderstatus",
        tile.cast("int").alias("quartile"),
        r6(
            F.when(n > 1, (rn - 1).cast("double") / (n - 1).cast("double")).otherwise(
                F.lit(0.0)
            )
        ).alias("pct_rank"),
        r6(rn.cast("double") / n.cast("double")).alias("cume"),
        "first_key",
        F.when(rn >= 2, F.col("_second")).alias("second_key"),
    )


def x19_ordered_string_agg(spark, sf_dir):
    """Ordered string aggregation + null-handling scalars."""
    n = T(spark, sf_dir, "nation")
    agg = (
        n.groupBy("n_regionkey")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations"),
            F.count("*").alias("n_cnt"),
        )
    )
    return agg.select(
        "n_regionkey",
        "nations",
        "n_cnt",
        F.coalesce(F.nullif(F.col("nations"), F.lit("")), F.lit("none")).alias("nations_nn"),
    )


def x20_deterministic_sample(spark, sf_dir):
    """Engine-portable deterministic ~1/16 sample: md5 bucket of the key.
    Unlike rand()/TABLESAMPLE, the same rows are selected by ANY engine —
    the right primitive for reproducible corpus subsampling at scale."""
    li = T(spark, sf_dir, "lineitem")
    bucket = F.substring(
        F.md5(F.concat_ws("#", F.col("l_orderkey"), F.col("l_linenumber"))), 1, 1
    )
    return (
        li.where(bucket == "0")
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("cnt"), r6(F.avg("l_quantity")).alias("avg_qty"))
    )


PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def x21_pivot(spark, sf_dir):
    """Relational PIVOT: order counts per status, one column per priority.
    Explicit value list → deterministic schema, single-pass aggregation
    (no value-discovery job)."""
    o = T(spark, sf_dir, "orders")
    piv = (
        o.groupBy("o_orderstatus")
        .pivot("o_orderpriority", PRIORITIES)
        .count()
    )
    renames = {p: f"p{i+1}_cnt" for i, p in enumerate(PRIORITIES)}
    # absent (status, priority) combos: pivot yields NULL counts → 0
    return piv.select(
        "o_orderstatus",
        *[
            F.coalesce(F.col(f"`{p}`"), F.lit(0)).alias(renames[p])
            for p in PRIORITIES
        ],
    )


def x22_unpivot(spark, sf_dir):
    """UNPIVOT/melt: lineitem measures to (measure, value) long form."""
    li = T(spark, sf_dir, "lineitem")
    return li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_discount", "l_tax"],
        variableColumnName="measure",
        valueColumnName="value",
    ).where(F.col("l_orderkey") < 100)


def x23_stats_agg(spark, sf_dir):
    """Statistical aggregates: sample stddev/variance, correlation,
    covariance (small-magnitude columns so cross-engine single-pass
    algorithms agree well inside the 6dp rounding grid)."""
    li = T(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        r6(F.stddev_samp("l_quantity")).alias("sd_qty"),
        r6(F.var_samp("l_discount")).alias("var_disc"),
        r6(F.corr("l_quantity", "l_discount")).alias("corr_qd"),
        r6(F.covar_samp("l_quantity", "l_tax")).alias("cov_qt"),
    )


def x24_ann_ivf(spark, sf_dir):
    """IVF approximate nearest neighbors (the coarse-quantizer scale path of
    l3): deterministic seed centroids (8 lowest vec_ids), one Lloyd step
    with 6dp-rounded means, probe the top-2 clusters per query vector.
    Fully deterministic, so unlike most ANN indexes it is oracle-checkable
    end to end; recall vs exact l3 is additionally tolerance-tested."""
    from social_warner_spark.operators.similarity import cosine_topk_ivf

    emb = T(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") < 10)
    return cosine_topk_ivf(emb, probes, k=5, nlist=8, nprobe=2, iters=1)


def x25_repetition_metrics(spark, sf_dir):
    """Per-doc repetitiveness quality signals as pure narrow-map
    expressions (no shuffle; the oracle recomputes them via the
    explode+groupBy formulation to prove both shapes agree)."""
    from social_warner_spark.functions.text import (
        repetition_ratio,
        tokens,
        top_token_ratio,
    )

    d = T(spark, sf_dir, "documents")
    staged = d.select("doc_id", tokens(F.col("text")).alias("_toks"))
    return staged.select(
        "doc_id",
        r6(repetition_ratio(F.col("_toks"))).alias("rep_ratio"),
        r6(top_token_ratio(F.col("_toks"))).alias("top_tok_ratio"),
    )


def x26_pii_redaction(spark, sf_dir):
    """PII scrub demo: deterministically inject a synthetic email+phone per
    doc, then redact.  The injection makes the redaction observable on the
    PII-free synthetic corpus; the operator itself (functions/text.py
    redact_pii) is the real pre-training scrub stage."""
    from social_warner_spark.functions.text import EMAIL_RE, PHONE_RE, redact_pii

    d = T(spark, sf_dir, "documents")
    raw = F.concat(
        F.substring("text", 1, 20),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or call +1 555 010 "),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    staged = d.select("doc_id", raw.alias("raw"))
    return staged.select(
        "doc_id",
        F.size(F.regexp_extract_all("raw", F.lit(EMAIL_RE), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all("raw", F.lit(PHONE_RE), 0)).alias("n_phones"),
        redact_pii(F.col("raw")).alias("redacted"),
    )


def x27_neardup_clusters(spark, sf_dir):
    """Transitive near-dup clustering: every doc labeled with its connected-
    component representative (min reachable doc_id through Jaccard ≥ 0.5
    pairs).  Spark side: iterative min-label propagation; oracle: DuckDB
    recursive CTE computing the same closure — same fixpoint, two idioms."""
    from social_warner_spark.operators.dedup import neardup_clusters

    return neardup_clusters(T(spark, sf_dir, "documents"), threshold=0.5)


def x28_decontamination(spark, sf_dir):
    """Benchmark decontamination: flag corpus docs sharing any 4-gram with
    the held-out probe set (doc_id < 5 stands in for an eval benchmark),
    with the overlap count as evidence.  The probe shingle set is tiny by
    construction → broadcast, so the scan of the corpus never shuffles on
    content: the canonical pre-training decontamination shape."""
    from social_warner_spark.operators.dedup import doc_shingles

    docs = T(spark, sf_dir, "documents")
    probe_sh = (
        doc_shingles(docs.where(F.col("doc_id") < 5), n=4)
        .select("shingle")
        .distinct()
    )
    corpus_sh = doc_shingles(docs.where(F.col("doc_id") >= 5), n=4)
    return (
        corpus_sh.join(F.broadcast(probe_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared_ngrams"))
    )


def x29_sequence_packing(spark, sf_dir):
    """Offset-based sequence packing: per language stream, docs are laid
    out contiguously in doc_id order and each is assigned the fixed-size
    context window (pack) its start offset falls in — the deterministic
    packing used to batch pre-training data.  Pure integer window math.

    r07: the per-lang running sum runs as a GROUPED distributed cumsum
    (operators/ordered.py with_grouped_cumsum) — lang has ~10 values, so
    ``Window.partitionBy(lang)`` over the corpus is a handful of
    single-task sorts at 100 TB (one dominant language ≈ the whole
    corpus through one reducer; r06 verdict).  Range partitioning on
    (lang, doc_id) keeps every task at ~|corpus|/P rows regardless of
    the language mix."""
    from social_warner_spark.functions.text import token_count_ws
    from social_warner_spark.operators.ordered import with_grouped_cumsum

    BUDGET = 512
    d = T(spark, sf_dir, "documents").select(
        "doc_id", "lang", token_count_ws(F.col("text")).alias("n_tokens")
    )
    cum = with_grouped_cumsum(d, ["lang"], ["doc_id"], {"_cum": "n_tokens"})
    start = (F.col("_cum") - F.col("n_tokens")).cast("long")
    return cum.select(
        "doc_id",
        "lang",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.floor(start / BUDGET).cast("long").alias("pack_id"),
        (start % BUDGET).cast("long").alias("pack_offset"),
    )


def x30_boilerplate_ngrams(spark, sf_dir):
    """Boilerplate detection (CCNet-style): 3-grams whose document
    frequency ≥ 5 are boilerplate; emit each doc's boilerplate fraction.
    Two aggregations over the shingle relation plus one semi-join against
    the (small, broadcastable) boilerplate set — the shingle relation is
    persisted once and feeds all three consumers."""
    from social_warner_spark.caching import register_persisted
    from social_warner_spark.operators.dedup import doc_shingles

    BOILER_DF = 5
    docs = T(spark, sf_dir, "documents")
    sh = register_persisted(doc_shingles(docs, n=3).persist())
    boiler = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") >= BOILER_DF)
        .select("shingle")
    )
    per_doc = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    per_boiler = (
        sh.join(F.broadcast(boiler), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_boiler"))
    )
    return (
        per_doc.join(per_boiler, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce("n_boiler", F.lit(0)).alias("n_boiler"),
            r6(
                F.coalesce("n_boiler", F.lit(0)).cast("double") / F.col("n_shingles")
            ).alias("boiler_frac"),
        )
    )


def x31_full_pipeline(spark, sf_dir):
    """The flagship end-to-end training-data pipeline as ONE declarative
    DataFrame program: quality gate → exact dedup → near-dup prune
    (prepare_corpus) → benchmark decontamination (drop docs sharing any
    4-gram with the held-out probe set, probes excluded from the corpus) →
    per-lang sequence packing.  Every stage is individually oracle-checked
    elsewhere (x4/l1/l2/x16/x28/x29); this query proves they compose, and
    the composition is itself hash-checked against one composed SQL oracle."""
    from social_warner_spark.caching import register_persisted
    from social_warner_spark.operators.corpus import prepare_corpus
    from social_warner_spark.operators.dedup import doc_shingles

    BUDGET = 512
    docs = T(spark, sf_dir, "documents")
    # The decontamination 4-grams come from ONE narrow explode over
    # prepare_corpus's persisted exact-dedup survivor set, not a second
    # scan and re-split of documents.  surv4 covers a superset of
    # prepared's docs; the left_anti below keys on prepared's doc_ids, so
    # the extra rows are inert.  Sharing one (3, 4)-width shingle relation
    # with the near-dup prune is slower (PERF.md, rejected experiments): it
    # doubles the cached relation the prune's self-join re-reads.
    prepared, survivors = prepare_corpus(docs)
    prepared = register_persisted(prepared.persist())
    surv4 = doc_shingles(survivors, n=4)

    probe_sh = (
        doc_shingles(docs.where(F.col("doc_id") < 5), n=4)
        .select("shingle")
        .distinct()
    )
    contaminated = (
        surv4.join(F.broadcast(probe_sh), "shingle")
        .select("doc_id")
        .distinct()
    )
    clean = prepared.where(F.col("doc_id") >= 5).join(
        contaminated, "doc_id", "left_anti"
    )

    # r07: grouped distributed cumsum replaces Window.partitionBy(lang)
    # for the same reason as x29 (low-cardinality key = single-task sort
    # at 100 TB under a dominant language).
    from social_warner_spark.operators.ordered import with_grouped_cumsum

    cum = with_grouped_cumsum(clean, ["lang"], ["doc_id"], {"_cum": "n_tokens"})
    start = (F.col("_cum") - F.col("n_tokens")).cast("long")
    return cum.select(
        "doc_id",
        "lang",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "quality",
        F.floor(start / BUDGET).cast("long").alias("pack_id"),
        (start % BUDGET).cast("long").alias("pack_offset"),
    )


QUERIES = {
    "x17_range_frame": x17_range_frame,
    "x24_ann_ivf": x24_ann_ivf,
    "x28_decontamination": x28_decontamination,
    "x29_sequence_packing": x29_sequence_packing,
    "x30_boilerplate_ngrams": x30_boilerplate_ngrams,
    "x31_full_pipeline": x31_full_pipeline,
    "x25_repetition_metrics": x25_repetition_metrics,
    "x26_pii_redaction": x26_pii_redaction,
    "x27_neardup_clusters": x27_neardup_clusters,
    "x23_stats_agg": x23_stats_agg,
    "x21_pivot": x21_pivot,
    "x22_unpivot": x22_unpivot,
    "x18_distribution_windows": x18_distribution_windows,
    "x19_ordered_string_agg": x19_ordered_string_agg,
    "x20_deterministic_sample": x20_deterministic_sample,
}

#: cosine as a SQL macro would help here, but the oracle stays plain SQL —
#: the repeated dot/norm expressions are the same list_dot_product pattern
#: the x7/x8/l3 oracles already use.
_IVF_COS = (
    "ROUND(list_dot_product({a}::DOUBLE[], {b}::DOUBLE[])"
    " / (sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[]))"
    " * sqrt(list_dot_product({b}::DOUBLE[], {b}::DOUBLE[]))), 6)"
)

_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\+?[0-9][0-9()\- ]{6,}[0-9]"

from social_warner_spark.queries.x2_series import _CORPUS_CTES

#: x31 extends the shared corpus-prep CTE chain: the WITH list continues
#: after `pruned` with decontamination and packing stages.
_X31_ORACLE = _CORPUS_CTES + """
    , probe4 AS (
        SELECT DISTINCT t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] AS shingle
        FROM (SELECT string_split(text, ' ') AS t FROM documents WHERE doc_id < 5) pt,
             UNNEST(range(1, len(t) - 2)) AS u(i)
        WHERE len(t) >= 4
    ), surv4 AS (
        SELECT DISTINCT doc_id,
               t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] AS shingle
        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM pruned) st,
             UNNEST(range(1, len(t) - 2)) AS u(i)
        WHERE len(t) >= 4
    ), contaminated AS (
        SELECT DISTINCT s4.doc_id FROM surv4 s4 JOIN probe4 p4 ON s4.shingle = p4.shingle
    ), clean AS (
        SELECT * FROM pruned
        WHERE doc_id >= 5
          AND doc_id NOT IN (SELECT doc_id FROM contaminated)
    ), laid AS (
        SELECT doc_id, lang, n_tokens, quality,
               CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id)
                    - n_tokens AS BIGINT) AS start
        FROM clean
    )
    SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens, quality,
           start // 512 AS pack_id,
           start % 512 AS pack_offset
    FROM laid
"""

ORACLES = {
    "x31_full_pipeline": _X31_ORACLE,
    "x30_boilerplate_ngrams": """
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ), sh AS (
            SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
            FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
            WHERE len(t) >= 3
        ), boiler AS (
            SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) >= 5
        ), per_doc AS (
            SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id
        ), per_boiler AS (
            SELECT doc_id, COUNT(*) AS n_boiler
            FROM sh WHERE shingle IN (SELECT shingle FROM boiler)
            GROUP BY doc_id
        )
        SELECT p.doc_id, p.n_shingles,
               CAST(COALESCE(b.n_boiler, 0) AS BIGINT) AS n_boiler,
               ROUND(CAST(COALESCE(b.n_boiler, 0) AS DOUBLE) / p.n_shingles, 6)
                   AS boiler_frac
        FROM per_doc p LEFT JOIN per_boiler b ON p.doc_id = b.doc_id
    """,
    "x28_decontamination": """
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ), sh AS (
            SELECT DISTINCT doc_id,
                   t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] AS shingle
            FROM toks, UNNEST(range(1, len(t) - 2)) AS u(i)
            WHERE len(t) >= 4
        ), probe AS (
            SELECT DISTINCT shingle FROM sh WHERE doc_id < 5
        )
        SELECT c.doc_id, COUNT(*) AS n_shared_ngrams
        FROM sh c JOIN probe p ON c.shingle = p.shingle
        WHERE c.doc_id >= 5
        GROUP BY c.doc_id
    """,
    "x29_sequence_packing": """
        WITH sized AS (
            SELECT doc_id, lang,
                   CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens
            FROM documents
        ), laid AS (
            SELECT doc_id, lang, n_tokens,
                   CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id)
                        - n_tokens AS BIGINT) AS start
            FROM sized
        )
        SELECT doc_id, lang, n_tokens,
               start // 512 AS pack_id,
               start % 512 AS pack_offset
        FROM laid
    """,
    "x27_neardup_clusters": NEARDUP_CLUSTERS_CTE
    + """
        SELECT doc_id, cluster_id FROM clusters
    """,
    "x25_repetition_metrics": """
        WITH toks AS (
            SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok
            FROM documents
        ), cnts AS (
            SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY doc_id, tok
        )
        SELECT doc_id,
               ROUND(1.0 - CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6) AS rep_ratio,
               ROUND(CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6) AS top_tok_ratio
        FROM cnts GROUP BY doc_id
    """,
    "x26_pii_redaction": f"""
        WITH staged AS (
            SELECT doc_id,
                   substring(text, 1, 20) || ' contact user' || CAST(doc_id AS VARCHAR)
                   || '@mail.example.com or call +1 555 010 '
                   || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS raw
            FROM documents
        )
        SELECT doc_id,
               CAST(len(regexp_extract_all(raw, '{_PII_EMAIL}')) AS INT) AS n_emails,
               CAST(len(regexp_extract_all(raw, '{_PII_PHONE}')) AS INT) AS n_phones,
               regexp_replace(
                   regexp_replace(raw, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                   '{_PII_PHONE}', '<PHONE>', 'g') AS redacted
        FROM staged
    """,
    "x24_ann_ivf": f"""
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
        ), probecl AS (
            SELECT probe_id, vp, cluster FROM (
                SELECT e.vec_id AS probe_id, e.embedding AS vp, c.cluster,
                       ROW_NUMBER() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {_IVF_COS.format(a='e.embedding', b='c.cvec')} DESC,
                                    c.cluster) AS crk
                FROM embeddings e CROSS JOIN cent1 c
                WHERE e.vec_id < 10
            ) WHERE crk <= 2
        ), scored AS (
            SELECT p.probe_id, a.vec_id AS neighbor_id,
                   {_IVF_COS.format(a='p.vp', b='a.embedding')} AS cos
            FROM probecl p JOIN assign1 a USING (cluster)
            WHERE p.probe_id != a.vec_id
        ), ranked AS (
            SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY probe_id
                                              ORDER BY cos DESC, neighbor_id) AS INT) AS rk
            FROM scored
        )
        SELECT probe_id, neighbor_id, cos, rk FROM ranked WHERE rk <= 5
    """,
    "x23_stats_agg": """
        SELECT l_returnflag,
               ROUND(stddev_samp(l_quantity), 6) AS sd_qty,
               ROUND(var_samp(l_discount), 6) AS var_disc,
               ROUND(corr(l_quantity, l_discount), 6) AS corr_qd,
               ROUND(covar_samp(l_quantity, l_tax), 6) AS cov_qt
        FROM lineitem GROUP BY l_returnflag
    """,
    "x21_pivot": """
        SELECT o_orderstatus,
               CAST(COALESCE(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END), 0) AS BIGINT) AS p1_cnt,
               CAST(COALESCE(SUM(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 END), 0) AS BIGINT) AS p2_cnt,
               CAST(COALESCE(SUM(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 END), 0) AS BIGINT) AS p3_cnt,
               CAST(COALESCE(SUM(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 END), 0) AS BIGINT) AS p4_cnt,
               CAST(COALESCE(SUM(CASE WHEN o_orderpriority = '5-LOW' THEN 1 END), 0) AS BIGINT) AS p5_cnt
        FROM orders GROUP BY o_orderstatus
    """,
    "x22_unpivot": """
        SELECT l_orderkey, l_linenumber, measure, value
        FROM (
            SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value FROM lineitem
            UNION ALL
            SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
            UNION ALL
            SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
        )
        WHERE l_orderkey < 100
    """,
    "x17_range_frame": """
        SELECT o_orderkey, o_orderstatus,
               ROUND(SUM(o_totalprice) OVER w, 2) AS nearby_total,
               COUNT(*) OVER w AS nearby_cnt
        FROM orders
        WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice
                     RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW)
    """,
    "x18_distribution_windows": """
        SELECT o_orderkey, o_orderstatus,
               CAST(NTILE(4) OVER w AS INT) AS quartile,
               ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
               ROUND(CUME_DIST() OVER w, 6) AS cume,
               FIRST_VALUE(o_orderkey) OVER w AS first_key,
               NTH_VALUE(o_orderkey, 2) OVER w AS second_key
        FROM orders
        WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
    """,
    "x19_ordered_string_agg": """
        SELECT n_regionkey,
               string_agg(n_name, ',' ORDER BY n_name) AS nations,
               COUNT(*) AS n_cnt,
               COALESCE(NULLIF(string_agg(n_name, ',' ORDER BY n_name), ''), 'none') AS nations_nn
        FROM nation GROUP BY n_regionkey
    """,
    "x20_deterministic_sample": """
        SELECT l_returnflag, COUNT(*) AS cnt, ROUND(AVG(l_quantity), 6) AS avg_qty
        FROM lineitem
        WHERE substr(md5(l_orderkey || '#' || l_linenumber), 1, 1) = '0'
        GROUP BY l_returnflag
    """,
}
