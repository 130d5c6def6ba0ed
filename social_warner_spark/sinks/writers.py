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
"""

from __future__ import annotations

import enum

from pyspark.sql import DataFrame

from social_warner_spark import logging_util as logu


class WriteDisposition(str, enum.Enum):
    WRITE_TRUNCATE = "WRITE_TRUNCATE"
    WRITE_APPEND = "WRITE_APPEND"

    @property
    def spark_mode(self) -> str:
        return "overwrite" if self is WriteDisposition.WRITE_TRUNCATE else "append"


def write_table(
    df: DataFrame,
    path_or_table: str,
    disposition: WriteDisposition | str = WriteDisposition.WRITE_APPEND,
    fmt: str = "parquet",
    connector_format: str | None = None,
) -> int:
    """Write with reference dispositions; returns row count written.

    Raises ValueError on empty input (reference data_load.py:27-33).
    The row count is captured with the Observation API riding the write
    action itself — no separate count() scan (the reference's explicit
    record count, main.py:88-91, for free).

    Reference load semantics → Spark writer settings:

    - disposition → SaveMode: WRITE_TRUNCATE→overwrite, WRITE_APPEND→append.
      For BigQuery the connector derives the load-job disposition from
      SaveMode, so the mode is the ONLY disposition channel (an explicit
      ``writeDisposition`` option is not part of the connector contract and
      would be ignored).
    - ALLOW_FIELD_ADDITION (always on, as in the reference) → connector
      option ``allowFieldAddition`` (adds the SchemaUpdateOption to the
      load job).  File formats get no write option: additive evolution is
      a read-side concern there (read_table sets ``mergeSchema``).

    ``connector_format`` writes through a stand-in registered format
    while keeping the semantics of ``fmt``: tests drive the
    fmt="bigquery" branch end to end through a recording Python
    DataSource (tests/test_sinks.py) without the connector jar, and a
    deployment can swap in a custom connector build the same way.  The
    mode and options are identical either way — only the `.format()`
    name differs.
    """
    from pyspark.sql import Observation
    import pyspark.sql.functions as F

    disposition = WriteDisposition(disposition)
    if df.isEmpty():
        raise ValueError("no rows to load (reference raises on empty input)")
    obs = Observation()
    df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
    writer = df.write.mode(disposition.spark_mode).format(connector_format or fmt)
    if fmt == "bigquery":
        writer = writer.option("allowFieldAddition", "true")
    writer.save(path_or_table)
    rows = int(obs.get["rows"])
    logu.info("sink write complete", target=path_or_table, rows=rows,
              disposition=disposition.value, format=fmt)
    return rows


def read_table(spark, path: str) -> DataFrame:
    """Read a dev-sink table with schema merging.

    ``mergeSchema`` here — at READ time — is the parquet-side equivalent of
    BigQuery's ALLOW_FIELD_ADDITION: the scan resolves the union of all
    file schemas, so rows written before a column was added surface with
    NULLs in the new column.
    """
    return spark.read.option("mergeSchema", "true").parquet(path)
