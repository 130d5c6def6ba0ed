"""Config-driven ETL pipeline — the reference's product surface, Spark-first.

Reference lifecycle (SURVEY.md §3): per-config extract → transform → load
with error isolation.  Here the transform is a pure DataFrame→DataFrame
composition (one Catalyst plan, no intermediate materialization — the
pandas version's copy/loop steps fuse into narrow map stages), and extract/
load are pluggable callables so the same pipeline runs against a REST
source + BigQuery sink in production or parquet fixtures in tests.

transform_config_frame mirrors transform_data (data_transform.py:5-100)
step by step:
  scrub 'unauthorized' rows        (:24,  A5)
  project config columns           (:31,  A6)
  typed cast with null-fill        (:34,  A7)
  nested tags parse + pivot        (:48,  A8/A9)
  date / timestamp formatting      (:71,  A10/A11)
  sanitize column names . → &      (:79,  A12)

Deviations (documented, SURVEY.md §2.a quirks): we fail fast where the
reference returns the raw frame on exception, and pivot keys are sorted
for a deterministic output schema.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Iterable, Mapping

from pyspark.sql import DataFrame

from social_warner_spark import logging_util as logu
from social_warner_spark.config import ExportConfig
from social_warner_spark.operators import (
    cast_with_fill,
    format_date_columns,
    format_timestamp_columns,
    project_columns,
    sanitize_column_names,
    scrub_sentinel_rows,
)
from social_warner_spark.operators.nested import dynamic_pivot_map, parse_kv_list

import pyspark.sql.functions as F

#: Reference-hardcoded formatting targets (data_transform.py:71-76).
DATE_STR_COLUMNS = ("lfm.fact.date_str",)
ISO_TS_COLUMNS = (
    "lfm.content.posted_on_datetime",
    "lfm.fact.window_start_date",
    "lfm.fact.window_end_date",
)
TAGS_COLUMN = "lfm.content.tags"


def transform_config_frame(
    df: DataFrame,
    config: ExportConfig,
    pivot_keys: list[str] | None = None,
) -> DataFrame:
    """The reference transform as one composed DataFrame expression.

    `pivot_keys`: pass the known tag-key set to keep the plan fully lazy;
    None triggers the bounded two-pass key discovery (SURVEY.md §4.3).
    """
    out = scrub_sentinel_rows(df)
    # Reference `df[columns]` raises KeyError on missing columns
    # (data_transform.py:31); we fail fast with the missing names (our
    # documented fail-fast stance replaces its silent raw-frame fallback).
    missing = [c for c in config.columns if c not in out.columns]
    if missing:
        raise ValueError(
            f"config {config.config_id!r} expects columns absent from the "
            f"extract: {missing}"
        )
    out = project_columns(out, config.columns)
    # The tags array is handled by the nested parse below, never cast:
    # the reference's "string" cast branch only null-fills, it does not
    # stringify list values (data_transform.py:44).
    array_tags = dict(out.dtypes).get(TAGS_COLUMN, "").startswith("array")
    cast_map = {
        c: t
        for c, t in config.dtype_map.items()
        if not (c == TAGS_COLUMN and array_tags)
    }
    out = cast_with_fill(out, cast_map)
    if array_tags:
        out = out.withColumn(
            TAGS_COLUMN, parse_kv_list(F.col(f"`{TAGS_COLUMN}`"), TAGS_COLUMN)
        )
        out = dynamic_pivot_map(out, TAGS_COLUMN, keys=pivot_keys)
    elif TAGS_COLUMN in out.columns:
        # Non-list tags parse to an empty map in the reference
        # (data_transform.py:102-150): no pivot columns, source dropped.
        out = out.drop(TAGS_COLUMN)
    out = format_date_columns(out, DATE_STR_COLUMNS)
    out = format_timestamp_columns(out, ISO_TS_COLUMNS)
    return sanitize_column_names(out)


@dataclass
class ConfigRunResult:
    config_id: str
    status: str  # "loaded" | "skipped_empty" | "failed"
    rows: int | None = None
    error: str | None = None


def run_configs(
    configs: Mapping[str, ExportConfig],
    extract: Callable[[ExportConfig], DataFrame | None],
    load: Callable[[DataFrame, ExportConfig], int],
    reports_filter: Iterable[str] | None = None,
) -> list[ConfigRunResult]:
    """Per-config orchestration with the reference's isolation semantics
    (main.py:61-116): one config's failure logs and continues; an optional
    reports_filter restricts the run (main.py:64-65); empty extracts warn
    and skip (main.py:80-85).  Each extract is persisted for the duration
    of its config, so the source is read once.
    """
    wanted = set(reports_filter) if reports_filter is not None else None
    results: list[ConfigRunResult] = []
    for config_id, config in configs.items():
        if wanted is not None and config_id not in wanted:
            continue
        try:
            logu.info("extracting", config_id=config_id, dataset_id=config.dataset_id)
            raw = extract(config)
            if raw is None:
                logu.warning("empty extract; skipping", config_id=config_id)
                results.append(ConfigRunResult(config_id, "skipped_empty"))
                continue
            # The pivot-key discovery, the sink's empty check and the write
            # each scan the extract; persisted, the source is fetched once
            # and all three see the same rows.
            raw = raw.persist()
            try:
                rows = load(transform_config_frame(raw, config), config)
            finally:
                raw.unpersist()
            logu.info("loaded", config_id=config_id, rows=rows)
            results.append(ConfigRunResult(config_id, "loaded", rows=rows))
        except Exception as exc:  # isolation: continue to next config
            logu.error("config failed", config_id=config_id, error=str(exc))
            results.append(ConfigRunResult(config_id, "failed", error=str(exc)))
    logu.info(
        "batch complete",
        processed=sum(1 for r in results if r.status == "loaded"),
        total=len(results),
    )
    return results
