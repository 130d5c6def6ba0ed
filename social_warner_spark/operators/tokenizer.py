"""Tokenizer-training operators: iterative pair-merge learning (BPE).

``learn_merges`` runs the byte-pair-encoding training loop (Sennrich et
al. 2016) at the word level: each round counts adjacent symbol pairs
across the corpus, picks the most frequent pair (ties: lexicographic),
and merges every non-overlapping occurrence greedily left-to-right —
exactly the reference BPE semantics, but distributed.

The merge application is the interesting part.  Each document's symbol
sequence is encoded as a delimiter string ``||s1||s2||…||`` with TWO
bars between symbols.  Merging pair (p1,p2) is then a plain literal
string replace of ``|p1||p2|`` with ``|p1<SEP>p2|``: the pattern takes
one bar from each side of the boundary pair, so consecutive occurrences
never overlap, and left-to-right non-overlapping replace (the semantics
of both Spark's `replace` and standard SQL `replace`) reproduces BPE's
greedy merge order.  No UDF, no per-row Python — the whole loop is
built-in string expressions, and the learned rule feeds the next round
as a broadcast 1-row relation (no driver collect anywhere).

Scale: each round is one pair-count shuffle (map-side combined) + a
1-row argmax (TakeOrderedAndProject) + a narrow map.  Sequences are
persisted per round so round r+1 doesn't recompute rounds 1..r.
"""

from __future__ import annotations

from functools import reduce

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from social_warner_spark.functions.text import tokens

#: Joins the two halves of a merged symbol; must not occur in the corpus
#: (asserted nowhere — callers on arbitrary data should pre-scrub).
#: The SAME constraint applies to the delimiter bar ``|`` itself: a
#: corpus token containing ``|`` lets the ``|p1||p2|`` pattern match at
#: a non-symbol boundary and silently corrupts the encoding.  Callers
#: on arbitrary data must pre-scrub or escape both characters.
MERGE_SEP = "\x01"


def learn_merges(docs: DataFrame, *, rounds: int = 5) -> DataFrame:
    """Learn `rounds` BPE merge rules; returns (round, p1, p2, n) rows."""
    best_rows, _ = _merge_loop(docs, rounds=rounds)
    return reduce(DataFrame.unionAll, best_rows)


def encoded_lengths(docs: DataFrame, *, rounds: int = 5) -> DataFrame:
    """Apply the `rounds` learned merges; per doc returns the symbol
    count before/after and the count of merge applications (saved)."""
    _, seq = _merge_loop(docs, rounds=rounds)
    n_after = F.size(F.split(F.btrim(F.col("s"), F.lit("|")), r"\|\|"))
    before = docs.where(F.trim(F.col("text")) != "").select(
        F.col("doc_id").alias("_id"), F.size(tokens(F.col("text"))).alias("n_before")
    )
    after = seq.select("_id", n_after.alias("n_after"))
    return before.join(after, "_id").select(
        F.col("_id").alias("doc_id"),
        "n_before",
        "n_after",
        (F.col("n_before") - F.col("n_after")).alias("n_merged"),
    )


def _merge_loop(docs: DataFrame, *, rounds: int) -> tuple[list[DataFrame], DataFrame]:
    from social_warner_spark.caching import register_persisted

    toks = tokens(F.col("text"))
    seq = docs.where(F.trim(F.col("text")) != "").select(
        F.col("doc_id").alias("_id"),
        F.concat(F.lit("||"), F.concat_ws("||", toks), F.lit("||")).alias("s"),
    )
    best_rows: list[DataFrame] = []
    for r in range(1, rounds + 1):
        seq = register_persisted(seq.persist())
        t = F.split(F.btrim(F.col("s"), F.lit("|")), r"\|\|")
        staged = seq.select(t.alias("t"))
        ex = staged.select(
            "t",
            F.explode(
                F.when(
                    F.size("t") >= 2, F.sequence(F.lit(1), F.size("t") - 1)
                ).otherwise(F.array().cast("array<int>"))
            ).alias("i"),
        )
        pairs = ex.select(
            F.element_at("t", F.col("i")).alias("p1"),
            F.element_at("t", F.col("i") + 1).alias("p2"),
        )
        best = register_persisted(
            pairs.groupBy("p1", "p2")
            .agg(F.count("*").alias("n"))
            .orderBy(F.desc("n"), "p1", "p2")
            .limit(1)
            .persist()
        )
        best_rows.append(best.select(F.lit(r).alias("round"), "p1", "p2", "n"))
        pat = F.concat(F.lit("|"), F.col("p1"), F.lit("||"), F.col("p2"), F.lit("|"))
        rep = F.concat(F.lit("|"), F.col("p1"), F.lit(MERGE_SEP), F.col("p2"), F.lit("|"))
        seq = (
            seq.crossJoin(F.broadcast(best.select("p1", "p2")))
            .select("_id", F.replace(F.col("s"), pat, rep).alias("s"))
        )
    return best_rows, seq
