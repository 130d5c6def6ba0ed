"""Extract-query builder — the reference's API query assembly (SURVEY.md B1–B6).

Reference (data_extract.py:36-75) builds one query document per config:

- ``dataset_id``, ``metrics``, ``group_by``, ``meta_dimensions`` straight
  from the config
- ``filters``: brand IN-list (B4)
- analysis window: ``start_date`` / ``end_date`` (B6), macro or literal
- **content-dataset widen** (data_extract.py:60-71): when ``dataset_id``
  contains ``"content"``, a BETWEEN filter on ``lfm.fact.date_str`` pins
  the CALLER's dates (B5), and only then the analysis ``start_date`` is
  widened to ``{{nDaysAgo 365}}`` — content metrics accrue to posts
  published long before the reporting window, so the fetch window must
  reach back a year while the row filter stays on the requested dates.

`compile_filters` lowers the filter list to one Catalyst predicate —
IN-lists and BETWEENs on literal values, so the scan gets them pushed down
(plan-pinned by the B4/B5 tests).
"""

from __future__ import annotations

from dataclasses import dataclass, field
import datetime as dt
from typing import Any, Mapping, Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column

from social_warner_spark.config import ExportConfig
from social_warner_spark.operators.datemacro import eval_date_macro

BRAND_FIELD = "lfm.brand_view.id"
DATE_STR_FIELD = "lfm.fact.date_str"
CONTENT_WIDENED_START = "{{nDaysAgo 365}}"


@dataclass(frozen=True)
class ExtractQuery:
    """The reference's query document, typed (data_extract.py:36-75)."""

    dataset_id: str
    metrics: tuple[str, ...]
    group_by: tuple[str, ...]
    meta_dimensions: tuple[str, ...]
    filters: tuple[Mapping[str, Any], ...]
    start_date: str
    end_date: str


def build_extract_query(
    config: ExportConfig,
    start_date: str,
    end_date: str,
    anchor: dt.date | None = None,
) -> ExtractQuery:
    """Assemble the per-config extract query with the content-widen rule.

    For content datasets the caller's [start_date, end_date] becomes a
    BETWEEN row filter on ``lfm.fact.date_str`` while the analysis window
    start is widened to ``{{nDaysAgo 365}}`` — so the two are DIFFERENT on
    purpose (reference data_extract.py:60-71; the widen happens *after*
    the filter captures the original dates).
    """
    filters: list[Mapping[str, Any]] = [
        {"field": BRAND_FIELD, "operator": "IN", "values": list(config.brands)}
    ]
    if config.is_content_dataset:
        filters.append(
            {
                "field": DATE_STR_FIELD,
                "operator": "BETWEEN",
                # reference format_date()s the caller dates here — macros
                # are resolved into the filter, keeping it a literal
                "values": [
                    eval_date_macro(start_date, anchor),
                    eval_date_macro(end_date, anchor),
                ],
            }
        )
        start_date = CONTENT_WIDENED_START
    return ExtractQuery(
        dataset_id=config.dataset_id,
        metrics=tuple(config.metrics),
        group_by=tuple(config.group_by),
        meta_dimensions=tuple(config.meta_dimensions),
        filters=tuple(filters),
        start_date=start_date,
        end_date=end_date,
    )


def compile_filters(
    filters: Sequence[Mapping[str, Any]], anchor: dt.date | None = None
) -> Column:
    """Lower the reference filter list to ONE Catalyst predicate.

    Literal IN/BETWEEN over constants → Catalyst folds them into scan
    pushdown (In / GreaterThanOrEqual / LessThanOrEqual PushedFilters).
    Date values run through the macro evaluator so relative filters stay
    constant (and therefore partition-prunable) at plan time.
    """
    pred = F.lit(True)
    for f in filters:
        col = F.col(f"`{f['field']}`")
        op = f["operator"].upper()
        if op == "IN":
            pred = pred & col.isin(*f["values"])
        elif op == "BETWEEN":
            lo, hi = f["values"]
            if isinstance(lo, str):
                lo, hi = eval_date_macro(lo, anchor), eval_date_macro(hi, anchor)
            pred = pred & col.between(lo, hi)
        else:
            raise ValueError(f"unsupported filter operator: {op!r}")
    return pred
