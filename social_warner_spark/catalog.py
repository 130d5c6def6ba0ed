"""Table resolution over the driver testdata layout (TESTDATA.md).

Maps logical table names → parquet paths under a scale-factor directory.
This is the engine's "dataset selection" surface (reference: `dataset_id`
routing, data_extract.py:46; SURVEY.md B7): a query names a table, the
catalog resolves it to a distributed scan.  At 100 TB the same interface
resolves to partitioned parquet/Delta paths; nothing above it changes.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Distributed parquet scan for one logical table.

    Column pruning and predicate pushdown happen in Catalyst — callers
    filter/select on the returned DataFrame and the scan narrows itself
    (verify with .explain(): PushedFilters / ReadSchema).

    An ``events.ts`` stored as parquet TIMESTAMP(NANOS), as pandas writes
    a datetime64[ns] column (the x27 and x36 invariant tests do), is read
    as long and truncated to microseconds, since Spark has no nanos
    timestamp — the same truncation DuckDB applies on read, so both
    engines see identical values.  The generated testdata stores it as
    TIMESTAMP(MICROS), which Spark reads as a timestamp directly.  The
    long read is a session setting, made once per session by
    ``get_spark`` and ``__spark_entry__``; loading a table changes no
    session setting.
    """
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # integer division: truncate nanos→micros exactly as DuckDB does
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for spark.sql use."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
