"""Nested k:v parsing + dynamic pivot (SURVEY.md §2.a A8/A9, §4.3).

Reference semantics (data_transform.py:102-150):
- input: array<string> of ``"key: value"`` items
- malformed item (no ``:``) → key ``{prefix}.untitled``
- spaces in keys → ``_``
- duplicate keys → values joined with ``"//"``
- non-list / empty → empty map

A9 (data_transform.py:50-59) pivots the parsed map into one top-level column
per observed key.  Spark DataFrames are schema-first, so the pivot is
two-pass: (1) a bounded distinct-keys job (the ONLY driver-side collect in
the transform path — its size is the number of distinct tag keys, not rows),
(2) a pure projection.  Key order is sorted lexicographically for
deterministic output schema (documented deviation from pandas' first-seen
order).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

MAX_PIVOT_KEYS = 10_000  # guard rail: output schema width is data-dependent


def parse_kv_list(arr: Column, prefix: str) -> Column:
    """array<string> of "k: v" items → map<string,string> with reference
    edge-case semantics (see module docstring).  Pure Catalyst expressions —
    no UDF.
    """
    # Normalize each item to a (key, value) struct.  All expressions are
    # functions of the lambda variable `x` (one per array element).
    def entry(x: Column) -> Column:
        has_colon = F.instr(x, ":") > 0
        key = F.when(
            has_colon,
            F.concat(
                F.lit(prefix + "."),
                F.regexp_replace(F.trim(F.substring_index(x, ":", 1)), " ", "_"),
            ),
        ).otherwise(F.lit(f"{prefix}.untitled"))
        # value = everything after the first ':', trimmed; for malformed
        # items the whole item is the value (reference data_transform.py:133-134).
        val = F.when(
            has_colon, F.trim(F.substring(x, F.instr(x, ":") + 1, F.length(x)))
        ).otherwise(F.trim(x))
        return F.struct(key.alias("k"), val.alias("v"))

    entries = F.transform(arr, entry)
    # Fold duplicate keys with '//' join (reference data_transform.py:128-137):
    # aggregate entries into a map, concatenating on collision.
    folded = F.aggregate(
        entries,
        F.create_map().cast("map<string,string>"),
        lambda acc, e: F.map_zip_with(
            acc,
            F.create_map(e["k"], e["v"]),
            lambda _, old, new: F.when(
                old.isNotNull() & new.isNotNull(), F.concat_ws("//", old, new)
            ).otherwise(F.coalesce(new, old)),
        ),
    )
    return F.when(arr.isNull(), F.create_map().cast("map<string,string>")).otherwise(folded)


def distinct_map_keys(df: DataFrame, map_col: str) -> list[str]:
    """Pass 1 of the dynamic pivot: bounded driver-side key discovery."""
    from social_warner_spark.operators.transforms import qcol

    rows = (
        df.select(F.explode(F.map_keys(qcol(map_col))).alias("k"))
        .distinct()
        .limit(MAX_PIVOT_KEYS + 1)
        .collect()
    )
    if len(rows) > MAX_PIVOT_KEYS:
        raise ValueError(
            f"dynamic pivot of {map_col!r} exceeds {MAX_PIVOT_KEYS} distinct keys"
        )
    return sorted(r["k"] for r in rows)


def dynamic_pivot_map(
    df: DataFrame, map_col: str, keys: list[str] | None = None
) -> DataFrame:
    """Pass 2: one top-level column per key; absent keys → NULL
    (reference data_transform.py:55 ``.where(notna(), None)``).

    Pass `keys` explicitly to skip discovery (e.g. schema known from config).
    """
    from social_warner_spark.operators.transforms import qcol

    if keys is None:
        keys = distinct_map_keys(df, map_col)
    others = [c for c in df.columns if c != map_col]
    return df.select(
        *[qcol(c).alias(c) for c in others],
        *[qcol(map_col).getItem(k).alias(k) for k in keys],
    )
