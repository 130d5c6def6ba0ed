"""Source-format breadth: the same logical pipeline over JSON/CSV/ORC
inputs (beyond parquet files)."""

from __future__ import annotations

import pyspark.sql.functions as F

from social_warner_spark.catalog import load_table
from social_warner_spark.sinks import WriteDisposition, write_table
from social_warner_spark.sinks.writers import read_table

EVENTS_DDL = (
    "event_id long, ts timestamp, user_id long, "
    "event_type string, value double, props string"
)


def test_json_and_csv_roundtrip_match_parquet(spark, sf_smoke, tmp_path):
    ev = load_table(spark, sf_smoke, "events")
    expected = ev.agg(F.count("*"), F.round(F.sum("value"), 2)).first()

    jdir, cdir = str(tmp_path / "j"), str(tmp_path / "c")
    write_table(ev, jdir, WriteDisposition.WRITE_TRUNCATE, fmt="json")
    ev.write.mode("overwrite").option("header", "true").csv(cdir)

    jr = spark.read.schema(EVENTS_DDL).json(jdir)
    cr = spark.read.schema(EVENTS_DDL).option("header", "true").csv(cdir)
    for df in (jr, cr):
        got = df.agg(F.count("*"), F.round(F.sum("value"), 2)).first()
        assert tuple(got) == tuple(expected)


def test_orc_roundtrip_matches_parquet(spark, sf_smoke, tmp_path):
    """ORC is the third columnar container Spark ships a vectorized
    reader for; the write/read contract (disposition, column order,
    aggregate parity) must match the parquet path bit-for-bit."""
    ev = load_table(spark, sf_smoke, "events")
    expected = ev.agg(F.count("*"), F.round(F.sum("value"), 2)).first()

    odir = str(tmp_path / "o")
    write_table(ev, odir, WriteDisposition.WRITE_TRUNCATE, fmt="orc")
    got = spark.read.orc(odir).agg(F.count("*"), F.round(F.sum("value"), 2)).first()
    assert tuple(got) == tuple(expected)

    # append disposition doubles the rows, same as parquet semantics
    write_table(ev, odir, WriteDisposition.WRITE_APPEND, fmt="orc")
    assert spark.read.orc(odir).count() == expected[0] * 2
