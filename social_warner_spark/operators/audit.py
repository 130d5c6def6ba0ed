"""Reconciliation / audit operators — prove two copies of a table are the
same without moving either (the check a user runs when migrating a corpus
between engines or validating a 100 TB snapshot copy).

The checksum is ORDER-INDEPENDENT (bit_xor of per-row hashes), so it can
be computed by any engine, over any partitioning, in one partial-agg
reduce — no sort, no shuffle beyond |groups| rows.  XOR cancels paired
duplicate rows, so the row count rides along; (count, xor) collisions
require adversarial input, not plausible drift.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window


def row_hash60(*cols: Column) -> Column:
    """60-bit integer hash of a row: first 15 hex chars of md5 over the
    '|'-joined column values.  15 hex digits fit a signed 64-bit int, and
    both Spark (conv) and ANSI engines (CAST '0x…') can parse them."""
    return F.conv(
        F.substring(F.md5(F.concat_ws("|", *cols)), 1, 15), 16, 10
    ).cast("long")


def table_checksum(df: DataFrame, cols: list[str], group_col: str) -> DataFrame:
    """(group, n_rows, xor60) per ``group_col`` value plus the grand-total
    row (ROLLUP; group = NULL on the total).  Pass columns whose string
    rendering is engine-stable (strings/ints — avoid raw doubles; round or
    format them first).

    One pass, map-side partial aggregation; the shuffle carries |groups|
    pre-reduced rows regardless of table size.
    """
    h = row_hash60(*[F.col(c) for c in cols]).alias("_h")
    return df.select(group_col, h).rollup(group_col).agg(
        F.count("*").alias("n_rows"), F.bit_xor("_h").alias("xor60")
    )


def profile_table(df: DataFrame, cols: list[str]) -> DataFrame:
    """One row per column: (col_name, n_rows, n_null, n_distinct, min_s,
    max_s) — the data-profiling pass run before ingesting a new source.

    ONE scan: all per-column aggregates compute in a single agg (Spark
    plans multi-distinct via Expand — pass cost ∝ #cols, not #passes),
    then the 1-row result melts to per-column rows via stack.  min/max are
    rendered as strings so the schema is column-uniform; pass columns
    whose string rendering is engine-stable (strings/ints).
    """
    aggs: list[Column] = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        aggs += [
            F.count(F.col(c)).alias(f"_nn_{c}"),
            F.count_distinct(F.col(c)).alias(f"_nd_{c}"),
            F.min(F.col(c)).cast("string").alias(f"_mn_{c}"),
            F.max(F.col(c)).cast("string").alias(f"_mx_{c}"),
        ]
    one = df.agg(*aggs)
    parts = ", ".join(
        f"'{c}', _n, _n - _nn_{c}, _nd_{c}, _mn_{c}, _mx_{c}" for c in cols
    )
    melted = one.select(
        F.expr(
            f"stack({len(cols)}, {parts}) AS "
            "(col_name, n_rows, n_null, n_distinct, min_s, max_s)"
        )
    )
    return melted.select(
        "col_name",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("n_null").cast("long").alias("n_null"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        "min_s",
        "max_s",
    )


def fk_check(child: DataFrame, parent: DataFrame, fk: str, pk: str) -> DataFrame:
    """Referential-integrity audit: one row with (n_child, n_orphans,
    orphan_min, orphan_max) — orphans are child rows whose ``fk`` has no
    match in parent's ``pk`` (NULL fks are not orphans, per SQL FK
    semantics).

    Parent keys reduce to DISTINCT before the join; the orphan detection
    is a left-anti equi-join (broadcast when the key set is small, SMJ on
    the key otherwise — never a cross product), then a 1-row aggregate.
    orphan_min/max render as strings so the report schema is type-stable.
    """
    keys = parent.select(F.col(pk).alias("_pk")).distinct()
    orphans = (
        child.where(F.col(fk).isNotNull())
        .join(keys, F.col(fk) == F.col("_pk"), "left_anti")
        .agg(
            F.count("*").alias("n_orphans"),
            F.min(fk).cast("string").alias("orphan_min"),
            F.max(fk).cast("string").alias("orphan_max"),
        )
    )
    totals = child.agg(F.count("*").alias("n_child"))
    return totals.crossJoin(orphans).select(
        "n_child", "n_orphans", "orphan_min", "orphan_max"
    )


def expectations(df: DataFrame, rules: list[tuple[str, Column, float]]) -> DataFrame:
    """Deequ-style declarative data-quality suite: every rule is
    (name, metric aggregate in [0,1], pass threshold); the result is one
    long-format row per rule — ``rule, metric_value, threshold,
    passed`` — the contract table a pipeline gates a publish on.

    ALL metrics evaluate in a single aggregation pass over the table
    (one job, map-side partial aggregation; a distinct-based metric adds
    its Expand but no extra scan), then the 1-row result is unpivoted
    driver-free via explode over a literal struct array.  Cost is one
    scan regardless of rule count — never one job per rule.
    """
    agg_row = df.agg(
        *[m.cast("double").alias(f"_m{i}") for i, (_, m, _t) in enumerate(rules)]
    )
    entries = F.array(
        *[
            F.struct(
                F.lit(name).alias("rule"),
                F.round(F.col(f"_m{i}"), 6).alias("metric_value"),
                F.lit(float(threshold)).alias("threshold"),
            )
            for i, (name, _m, threshold) in enumerate(rules)
        ]
    )
    return (
        agg_row.select(F.explode(entries).alias("e"))
        .select(
            "e.rule",
            "e.metric_value",
            "e.threshold",
            (F.col("e.metric_value") >= F.col("e.threshold")).alias("passed"),
        )
    )


#: Heavy keys `skew_report` lists.
SKEW_TOP_K = 3


def skew_report(df: DataFrame, key_col: str) -> DataFrame:
    """One-row skew diagnosis for a prospective shuffle key: key count,
    row count, the hottest key's share, max/mean skew ratio, Gini
    coefficient of the per-key distribution, and the top-k heavy keys —
    the report that decides whether a join/agg on this key needs salting
    (operators/grouped.py:salted_join) before it becomes a straggler.

    Everything past the per-key count is |keys|-sized — which for a
    user-grained key still scales with the corpus, so (r05) the Gini
    rank comes from the DISTRIBUTED global rank (operators/ordered.py)
    and the heavy-key list from a distributed top-k
    (TakeOrderedAndProject), not single-partition sorts.  Gini uses the
    standard sorted-rank identity G = 2·Σ(i·cᵢ)/(n·Σcᵢ) − (n+1)/n with
    ties broken by key so both engines rank identically."""
    from social_warner_spark.operators.ordered import with_grouped_rank

    counts = df.groupBy(F.col(key_col).cast("string").alias("k")).agg(
        F.count("*").alias("c")
    )
    ranked = with_grouped_rank(counts, [], [F.asc("c"), F.asc("k")], "i")
    stats = ranked.agg(
        F.count("*").alias("n_keys"),
        F.sum("c").alias("n_rows"),
        F.max("c").alias("max_cnt"),
        F.sum(F.col("i") * F.col("c")).alias("_sic"),
    )
    top = (
        counts.orderBy(F.desc("c"), F.asc("k"))
        .limit(SKEW_TOP_K)
        # collect_list arrival order is nondeterministic — sort
        # (-count, key) structs inside the aggregate to pin the
        # (desc count, asc key) display order
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct((-F.col("c")).alias("nc"), "k"))
                    ),
                    lambda s: s["k"],
                ),
            ).alias("top_keys")
        )
    )
    return stats.crossJoin(top).select(
        F.lit(key_col).alias("dim"),
        "n_keys",
        "n_rows",
        "max_cnt",
        F.round(
            F.col("max_cnt") / (F.col("n_rows") / F.col("n_keys")), 6
        ).alias("skew_ratio"),
        F.round(
            (F.lit(2.0) * F.col("_sic")) / (F.col("n_keys") * F.col("n_rows"))
            - (F.col("n_keys") + F.lit(1.0)) / F.col("n_keys"),
            6,
        ).alias("gini"),
        "top_keys",
    )
