"""Reference transform operators, Spark-first (SURVEY.md §2.a A2, A5–A7, A10–A12).

Every function is DataFrame → DataFrame and stays entirely inside Catalyst
expressions (whole-stage codegen; no Python in the row path), so at 100 TB
these are narrow, pipelined map stages with zero shuffle.

Reference semantics (cited per function): pandas transforms in
/root/reference/data_transform.py.
"""

from __future__ import annotations

from functools import reduce
from operator import or_
from typing import Iterable, Mapping

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


def qcol(name: str) -> Column:
    """Column reference that tolerates dots in the name (reference columns
    are dotted, e.g. `lfm.fact.date_str`); backtick-quoted so Spark does not
    parse the dots as struct-field access."""
    return F.col(f"`{name}`")


def scrub_sentinel_rows(df: DataFrame, sentinel: str = "unauthorized") -> DataFrame:
    """Drop rows where ANY string column equals `sentinel`.

    Reference: ``df[~df.isin(['unauthorized']).any(axis=1)]``
    (data_transform.py:24).  The pandas version compares every column; a
    non-string column can never equal a string sentinel, so restricting the
    disjunction to string columns is semantically identical and keeps the
    predicate sane under ANSI SQL typing.
    """
    string_cols = [c for c, t in df.dtypes if t == "string"]
    if not string_cols:
        return df
    hit = reduce(or_, [qcol(c) == F.lit(sentinel) for c in string_cols])
    # coalesce(hit, false): NULL columns must not drop the row (pandas isin
    # treats NaN as non-match).
    return df.filter(~F.coalesce(hit, F.lit(False)))


def project_columns(df: DataFrame, columns: Iterable[str]) -> DataFrame:
    """Keep exactly `columns`, in order (reference data_transform.py:31-32).

    Catalyst column pruning pushes this into the scan's ReadSchema.
    """
    return df.select(*[qcol(c).alias(c) for c in columns])


#: config dtype → (spark type, fill value) per the reference cast table
#: (data_transform.py:34-44; SURVEY.md §1.2)
CAST_RULES: dict[str, tuple[str, object | None]] = {
    "int64": ("long", 0),
    "float64": ("double", 0.0),
    "datetime64[ns]": ("timestamp", None),
    "string": ("string", None),
}


def cast_with_fill(df: DataFrame, dtype_map: Mapping[str, str]) -> DataFrame:
    """Per-column typed cast with the reference's null-fill semantics.

    - int64:  unparsable/null → 0   (data_transform.py:38); decimal and
      exponent strings ("3.0", "-2.7", "1e3") parse as a double and
      truncate toward zero, as ``pd.to_numeric(...).astype("int64")``
      does; values outside the long range → 0 (pandas' result there is
      platform-defined)
    - float64: unparsable/null → 0.0 (data_transform.py:40)
    - datetime64[ns]: unparsable → NULL (data_transform.py:42)
    - string: nullable string (data_transform.py:44)

    Uses ``try_cast`` so ANSI mode keeps coerce-to-null semantics; the whole
    map compiles to a single `select` of codegen'd expressions.
    """
    exprs: list[Column] = []
    for name in df.columns:
        dtype = dtype_map.get(name)
        if dtype is None:
            exprs.append(qcol(name))
            continue
        if dtype not in CAST_RULES:
            raise ValueError(f"unsupported config dtype {dtype!r} for column {name!r}")
        spark_type, fill = CAST_RULES[dtype]
        casted = qcol(name).try_cast(spark_type)
        if spark_type == "long":
            # try_cast(string AS bigint) rejects "1.5" and "1e3"
            casted = F.coalesce(casted, qcol(name).try_cast("double").try_cast("long"))
        if fill is not None:
            casted = F.coalesce(casted, F.lit(fill).cast(spark_type))
        exprs.append(casted.alias(name))
    return df.select(*exprs)


def format_date_columns(
    df: DataFrame, columns: Iterable[str], fmt: str = "yyyy-MM-dd"
) -> DataFrame:
    """Date/timestamp → formatted string (reference data_transform.py:71-72)."""
    out = df
    for c in columns:
        if c in out.columns:
            out = out.withColumn(c, F.date_format(qcol(c), fmt))
    return out


def format_timestamp_columns(df: DataFrame, columns: Iterable[str]) -> DataFrame:
    """Timestamp → ISO-8601 string (reference data_transform.py:73-76)."""
    return format_date_columns(df, columns, "yyyy-MM-dd'T'HH:mm:ss")


def sanitize_column_names(df: DataFrame) -> DataFrame:
    """Bulk rename: every column name `.` → `&` (data_transform.py:152-173).

    Single ``toDF`` — a pure metadata operation, no job.
    """
    return df.toDF(*[c.replace(".", "&") for c in df.columns])


def union_pages(pages: Iterable[DataFrame]) -> DataFrame:
    """Vertical concat of per-page frames (reference ``pd.concat``,
    data_extract.py:94).  `unionByName` aligns columns by name, matching
    pandas concat semantics; in a distributed source the pages are simply
    partitions and this is a no-op metadata union.
    """
    pages = list(pages)
    if not pages:
        raise ValueError("union_pages: no pages to union (reference raises on empty)")
    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), pages
    )
