"""As-of join — for each left row, the latest right row with
right.ts <= left.ts, per key (the standard time-series enrichment join;
neither the reference nor vanilla Spark has it as a primitive).

Implementation is the union-and-carry-forward pattern, which scales:
tag both sides, union, then one window sorted by (key, ts) carries the
most recent right ROW forward onto left rows.  Cost = ONE shuffle on
the key + a per-partition sort — same as a sort-merge join, with no
range-explosion risk (a naive range join between ts and ts-lookback is
quadratic in dense keys).

Tie semantics: right.ts == left.ts matches (<=), and right rows order
before left rows at equal ts via a side tag sort key.

Duplicate right rows at the SAME (key, ts) are totally ordered by their
value tuple and the GREATEST one wins.  Without this the window sort is
not total and the carried value depends on partitioning/union order —
found by a round-9 partitioning-invariance probe (6 repartitionings of
a duplicate-ts fixture returned 2 distinct outputs); pinned by a
hypothesis brute-force property and a repartitioning regression test in
tests/test_property.py.

Row atomicity (round 10, ADVICE r9): the carried values are ONE whole
right row — the value columns travel as a single struct through the
window, so a matched row's NULL columns stay NULL in the output instead
of being bridged per-column from older rows (which could stitch a
"row" that never existed out of columns of different right rows).
This matches DuckDB/kdb ASOF semantics: the join picks a row, and you
get that row's values, NULLs included.  Left rows with no eligible
right row get all-NULL carried columns, as before.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
) -> DataFrame:
    """Left as-of join: every left row, plus the most recent right values.

    Every right column except ``on`` and ``ts`` is carried, renamed
    ``<col>_asof``; the carried values always come from one single right
    row (see module docstring: row atomicity).
    """
    value_cols = [c for c in right.columns if c not in (on, "ts")]

    # The whole carried payload is ONE struct column: NULL on left rows
    # (so last(ignorenulls) skips them), the value tuple on right rows.
    _rrow_type = (
        right.select(F.struct(*[F.col(c) for c in value_cols]).alias("_r"))
        .schema["_r"]
        .dataType.simpleString()
    )
    l_tag = left.select(
        F.col(on),
        F.col("ts").alias("_ts"),
        F.lit(1).alias("_side"),  # left sorts after right at equal ts
        F.struct(*[F.col(c) for c in left.columns]).alias("_lrow"),
        F.lit(None).cast(_rrow_type).alias("_rrow"),
    )
    r_tag = right.select(
        F.col(on),
        F.col("ts").alias("_ts"),
        F.lit(0).alias("_side"),
        F.lit(None).cast(
            l_tag.schema["_lrow"].dataType.simpleString()
        ).alias("_lrow"),
        F.struct(*[F.col(c) for c in value_cols]).alias("_rrow"),
    )
    unioned = l_tag.unionByName(r_tag)
    # The value-tuple sort key makes the sort TOTAL among duplicate
    # right rows at one (key, ts): last() then deterministically carries
    # the greatest tuple instead of whichever row the union/partitioning
    # happened to order last.  Left rows (NULL struct) still sort after
    # right rows at equal ts via _side, so the struct's NULLS FIRST
    # default never competes with real right tuples.
    w = (
        Window.partitionBy(on)
        .orderBy("_ts", "_side", "_rrow")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        "_lrow",
        F.last("_rrow", ignorenulls=True).over(w).alias("_asof"),
    ).where(F.col("_lrow").isNotNull())
    return carried.select(
        *[F.col(f"_lrow.{c}").alias(c) for c in left.columns],
        *[F.col(f"_asof.{c}").alias(f"{c}_asof") for c in value_cols],
    )
