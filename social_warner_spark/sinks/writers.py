"""Batch sinks with the reference's BigQuery load semantics (SURVEY.md A14/A15).

Reference behavior (data_load.py:7-63):
- write_disposition from env: WRITE_TRUNCATE | WRITE_APPEND (main.py:11)
- schema autodetect + ALLOW_FIELD_ADDITION (additive evolution)
- empty-input guard raises ValueError (data_load.py:27-33)
- blocking wait for job completion

Spark mapping: the disposition maps to SaveMode (overwrite/append) — the
spark-bigquery-connector derives the BigQuery WRITE_TRUNCATE/WRITE_APPEND
disposition from SaveMode itself, so no explicit disposition option is set.
ALLOW_FIELD_ADDITION maps to the connector's ``allowFieldAddition`` load-job
option; on the parquet dev sink the equivalent is schema merging at READ
time (see read_table) — parquet writes always carry their own file schema.
The write action itself is the blocking barrier.

The option assembly is a pure function (plan_write) so the connector
contract stays unit-tested even where the connector jar is absent.
"""

from __future__ import annotations

import enum
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from social_warner_spark import logging_util as logu


class WriteDisposition(str, enum.Enum):
    WRITE_TRUNCATE = "WRITE_TRUNCATE"
    WRITE_APPEND = "WRITE_APPEND"

    @property
    def spark_mode(self) -> str:
        return "overwrite" if self is WriteDisposition.WRITE_TRUNCATE else "append"


@dataclass(frozen=True)
class WritePlan:
    """Everything a DataFrameWriter needs, assembled without touching Spark."""

    mode: str
    fmt: str
    options: dict[str, str] = field(default_factory=dict)
    partition_by: tuple[str, ...] = ()


def plan_write(
    disposition: WriteDisposition | str = WriteDisposition.WRITE_APPEND,
    fmt: str = "parquet",
    allow_field_addition: bool = True,
    partition_by: list[str] | None = None,
) -> WritePlan:
    """Map reference load semantics to Spark writer settings (pure).

    - disposition → SaveMode: WRITE_TRUNCATE→overwrite, WRITE_APPEND→append.
      For BigQuery the connector derives the load-job disposition from
      SaveMode, so the mode is the ONLY disposition channel (an explicit
      ``writeDisposition`` option is not part of the connector contract and
      would be ignored).
    - ALLOW_FIELD_ADDITION → connector option ``allowFieldAddition`` (adds
      the SchemaUpdateOption to the load job).  File formats get no write
      option: additive evolution is a read-side concern there (read_table
      sets ``mergeSchema``).
    - partitioning is a file-format concern (BigQuery partitioning is DDL).
    """
    if isinstance(disposition, str):
        disposition = WriteDisposition(disposition)
    if fmt == "bigquery":
        options = {"allowFieldAddition": "true"} if allow_field_addition else {}
        if partition_by:
            raise ValueError("partition_by applies to file formats only")
        return WritePlan(mode=disposition.spark_mode, fmt="bigquery", options=options)
    return WritePlan(
        mode=disposition.spark_mode,
        fmt=fmt,
        options={},
        partition_by=tuple(partition_by or ()),
    )


def write_table(
    df: DataFrame,
    path_or_table: str,
    disposition: WriteDisposition | str = WriteDisposition.WRITE_APPEND,
    fmt: str = "parquet",
    allow_field_addition: bool = True,
    partition_by: list[str] | None = None,
    connector_format: str | None = None,
) -> int:
    """Write with reference dispositions; returns row count written.

    Raises ValueError on empty input (reference data_load.py:27-33).
    The row count is captured with the Observation API riding the write
    action itself — no separate count() scan (the reference's explicit
    record count, main.py:88-91, for free).

    ``connector_format`` routes the assembled WritePlan through a
    stand-in registered format while keeping the plan semantics of
    ``fmt``: tests drive the fmt="bigquery" branch end to end through a
    recording Python DataSource (tests/test_sinks.py) without the
    connector jar, and a deployment can swap in a custom connector
    build the same way.  The plan (mode, options) is identical either
    way — only the `.format()` name differs.
    """
    from pyspark.sql import Observation
    import pyspark.sql.functions as F

    if isinstance(disposition, str):
        disposition = WriteDisposition(disposition)
    plan = plan_write(disposition, fmt, allow_field_addition, partition_by)
    if df.isEmpty():
        raise ValueError("no rows to load (reference raises on empty input)")
    obs = Observation()
    df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
    writer = df.write.mode(plan.mode).format(connector_format or plan.fmt)
    for k, v in plan.options.items():
        writer = writer.option(k, v)
    if plan.partition_by:
        writer = writer.partitionBy(*plan.partition_by)
    writer.save(path_or_table)
    rows = int(obs.get["rows"])
    logu.info("sink write complete", target=path_or_table, rows=rows,
              disposition=disposition.value, format=plan.fmt)
    return rows


def read_table(spark, path: str, fmt: str = "parquet") -> DataFrame:
    """Read a dev-sink table with schema merging.

    ``mergeSchema`` here — at READ time — is the parquet-side equivalent of
    BigQuery's ALLOW_FIELD_ADDITION: the scan resolves the union of all
    file schemas, so rows written before a column was added surface with
    NULLs in the new column.
    """
    return spark.read.option("mergeSchema", "true").format(fmt).load(path)
