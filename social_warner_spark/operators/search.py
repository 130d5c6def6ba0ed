"""Full-text relevance scoring: BM25 keyword search over the corpus.

The retrieval half of a training-data platform: given query terms,
score every document with Okapi BM25 (k1 = 1.2, b = 0.75) and return the
top-k.  Everything is closed-form arithmetic over term/document counts,
so the whole ranking is exactly reproducible in ANSI SQL.

Determinism protocol: each per-term score is rounded to 6dp, the total is
the per-term scores added in the fixed query-term order then rounded to
6dp, and ranking orders by the ROUNDED total (ties by doc_id) — both
engines therefore rank on the identical float grid.

Scale shape: one row-parallel pass computes per-doc term frequencies
(tf columns via ``size(filter(tokens, ...))`` — no explode, no shuffle);
corpus statistics (N, avgdl, per-term df) reduce to ONE scalar row that
is broadcast back; the only shuffle in the whole query is the final
top-k, which at scale is the standard rank-within-partition-then-global
pattern (queries/c_series.py c16).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from social_warner_spark.functions.text import tokens

K1 = 1.2
B = 0.75


def bm25_scores(docs: DataFrame, terms: list[str]) -> DataFrame:
    """(doc_id, score) for every doc containing at least one query term."""
    def _is(term: str):
        # a 2-arg lambda would make F.filter pass the element INDEX as
        # the second argument — build unary predicates via a closure.
        return lambda x: x == F.lit(term)

    staged = docs.select(
        F.col("doc_id"), tokens(F.col("text")).alias("_toks")
    ).select(
        F.col("doc_id"),
        F.size("_toks").cast("double").alias("dl"),
        *[
            F.size(F.filter("_toks", _is(t))).cast("double").alias(f"tf_{i}")
            for i, t in enumerate(terms)
        ],
    )
    stats = staged.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("double")).alias(f"df_{i}")
            for i in range(len(terms))
        ],
    )
    scored = staged.join(F.broadcast(stats))

    def term_score(i: int) -> F.Column:
        tf, df = F.col(f"tf_{i}"), F.col(f"df_{i}")
        idf = F.log(
            F.lit(1.0) + (F.col("n_docs") - df + 0.5) / (df + 0.5)
        )
        norm = tf + K1 * (1 - B + B * F.col("dl") / F.col("avgdl"))
        return F.when(
            tf > 0, F.round(idf * tf * (K1 + 1) / norm, 6)
        ).otherwise(F.lit(0.0))

    total = term_score(0)
    for i in range(1, len(terms)):
        total = total + term_score(i)
    return scored.select(
        F.col("doc_id"), F.round(total, 6).alias("score")
    ).where(F.col("score") > 0)
