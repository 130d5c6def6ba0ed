"""End-to-end training-corpus preparation — the composite LLM-data pipeline
(north-star: dedup + quality + text analysis as one coherent flow).

Stages (all deterministic, each individually oracle-checked elsewhere):
1. quality gate   — keep docs with quality_score ≥ MIN_QUALITY (x4 formula)
2. exact dedup    — keep min-doc_id survivor per normalized content hash (l1)
3. near-dup prune — drop the HIGHER doc_id of every exact-Jaccard pair
                    ≥ JACCARD_THRESHOLD among survivors (l2 pairs); the
                    lower id always survives, so the rule needs no
                    transitive closure to be deterministic
4. stats          — token count + quality per surviving doc

Scale shape: stage 1 is a pure map; stage 2 one shuffle; stage 3 reuses the
shingle machinery (shuffle ∝ candidate pairs); stage 4 a map.  Nothing
driver-side.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from social_warner_spark.functions.text import md5_int, quality_score, token_count_ws
from social_warner_spark.operators.dedup import content_hash, exact_jaccard_pairs

#: Stage 1's quality gate and stage 3's near-dup Jaccard threshold.
MIN_QUALITY = 0.3
JACCARD_THRESHOLD = 0.8

#: Hashed-unigram feature buckets of `dsir_select`.
DSIR_BUCKETS = 1024


def prepare_corpus(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """documents(doc_id, text, lang, …) → ``(prepared, survivors)``.

    ``prepared`` is the deduplicated, quality-filtered corpus with per-doc
    stats: (doc_id, lang, n_tokens, quality).  ``survivors`` is the
    persisted exact-dedup survivor set (a superset of ``prepared``'s docs,
    with their text), so a caller can run further passes over it — e.g.
    x31's decontamination shingles — without re-scanning and re-splitting
    the corpus."""
    scored = docs.withColumn("quality", quality_score(F.col("text")))
    gated = scored.where(F.col("quality") >= MIN_QUALITY)

    # exact dedup survivors (min doc_id per content hash)
    survivors = (
        gated.select(content_hash(F.col("text")).alias("h"), "doc_id")
        .groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    # kept feeds two consumers (the shingle pipeline and the final
    # anti-join output); persisting cuts the quality-score/regex lineage
    # from being recomputed per consumer.  Registered for host-controlled
    # release (caching.py) since the lineage is baked into the lazy result.
    from social_warner_spark.caching import register_persisted

    kept = register_persisted(gated.join(survivors, "doc_id", "left_semi").persist())

    # near-dup prune: drop the b side of every (a < b) pair
    dropped = (
        exact_jaccard_pairs(kept, JACCARD_THRESHOLD)
        .select(F.col("doc_id_b").alias("doc_id"))
        .distinct()
    )
    pruned = kept.join(dropped, "doc_id", "left_anti")

    prepared = pruned.select(
        "doc_id",
        "lang",
        token_count_ws(F.col("text")).alias("n_tokens"),
        "quality",
    )
    return prepared, kept


def per_group_cap(
    df: DataFrame,
    group_col: str,
    order_col: str,
    id_col: str,
    cap: int,
) -> DataFrame:
    """Per-group document cap (the RefinedWeb-style per-domain cap): keep
    at most ``cap`` rows per group, best-first by (order_col DESC, id ASC).
    ``order_col`` must be pre-rounded to the shared grid so rank ties are
    engine-independent.

    One shuffle on the group key; the rank ≤ cap filter is pushed into the
    sort as WindowGroupLimit, so each partition materializes only ``cap``
    rows per group instead of sorting and then discarding — the difference
    between a per-domain cap that works at 100 TB and one that top-sorts
    every domain's full contents.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(F.desc(order_col), F.asc(id_col))
    return df.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= cap)


def dsir_select(raw: DataFrame, target: DataFrame, n_select: int = 50) -> DataFrame:
    """DSIR-style importance-weighted data selection (Xie et al. 2023,
    arXiv:2302.03169): score every raw document by the mean
    log-importance-ratio of its tokens under hashed-unigram language
    models of the target domain vs the raw corpus, then keep the top
    ``n_select``.  Returns (id, n_tokens, logratio, rk).

    Hashing (md5 mod ``DSIR_BUCKETS``, the audit.py idiom) bounds BOTH
    feature tables at ``DSIR_BUCKETS`` rows regardless of vocabulary size
    — that is DSIR's trick, and it is exactly what makes the 100 TB plan
    work: the two smoothed distributions collapse to ≤``DSIR_BUCKETS``-row
    broadcasts, so the corpus token stream is joined map-side and shuffles
    only once, partially aggregated, for the per-doc mean.  Add-1 smoothing keeps
    unseen buckets finite; 6dp rounding keeps the ranking cross-engine
    stable.
    """
    from social_warner_spark.caching import register_persisted
    from social_warner_spark.functions.text import tokens

    def bucketed(df: DataFrame) -> DataFrame:
        # explode is a generator — it must sit at the select's top level;
        # the md5 bucketing is applied to the materialized token attribute
        tok = df.select(
            F.col("doc_id"), F.explode(tokens(F.col("text"))).alias("tok")
        )
        return tok.select(
            "doc_id",
            (md5_int(F.col("tok"), 15) % DSIR_BUCKETS).cast("int").alias("bk"),
        )

    raw_tok = register_persisted(bucketed(raw).persist())
    tgt_tok = bucketed(target)

    def smoothed(tok: DataFrame, p_name: str) -> DataFrame:
        cnt = tok.groupBy("bk").agg(F.count("*").alias("c"))
        tot = cnt.agg(F.sum("c").alias("total"))
        return (
            cnt.crossJoin(F.broadcast(tot))
            .select(
                "bk",
                ((F.col("c") + 1) / (F.col("total") + DSIR_BUCKETS)).alias(p_name),
            )
        )

    # unseen-bucket floor: each distribution falls back to 1/(total+B)
    p_tgt = smoothed(tgt_tok, "p_t")
    p_raw = smoothed(raw_tok, "p_r")
    scored = (
        raw_tok.join(F.broadcast(p_tgt), "bk", "left")
        .join(F.broadcast(p_raw), "bk", "left")
    )
    tgt_floor = tgt_tok.groupBy().agg(
        (F.lit(1.0) / (F.count("*") + DSIR_BUCKETS)).alias("floor_t")
    )
    per_doc = (
        scored.crossJoin(F.broadcast(tgt_floor))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(
                F.avg(
                    F.log(F.coalesce(F.col("p_t"), F.col("floor_t")))
                    - F.log(F.col("p_r"))
                ),
                6,
            ).alias("logratio"),
        )
    )
    from pyspark.sql import Window

    top = per_doc.orderBy(F.desc("logratio"), "doc_id").limit(n_select)
    w = Window.orderBy(F.desc("logratio"), "doc_id")
    return top.select(
        "doc_id", "n_tokens", "logratio", F.row_number().over(w).cast("int").alias("rk")
    )
