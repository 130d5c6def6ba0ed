"""The session factory's settings reach the driver JVM, and every session
the engine runs on, its own or the one a caller passes to
``__spark_entry__``, gets its runtime confs from ``prepare_session``."""

from __future__ import annotations

import pytest

from social_warner_spark.catalog import load_table
from social_warner_spark.queries import all_queries


def test_driver_jvm_runs_c1_only(spark):
    # get_spark stops the JIT at tier 1 (C1) for the short-lived driver JVM,
    # which in local mode is also the executor (session.py docstring).
    runtime = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    args = list(runtime.getRuntimeMXBean().getInputArguments())
    assert "-XX:TieredStopAtLevel=1" in args


def test_tungsten_pages_and_broadcast_blocks_are_not_humongous(spark):
    # G1 treats an object of half a heap region or more as humongous; pooled
    # humongous pages kept the heap above the marking threshold, so GC CPU
    # varied from request to request (session.py docstring).
    jvm = spark.sparkContext._jvm
    diagnostic = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
    region = int(diagnostic.getVMOption("G1HeapRegionSize").getValue())
    page = spark.sparkContext._jsc.sc().env().memoryManager().pageSizeBytes()
    block = jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.broadcast.blockSize"))
    assert page < region // 2
    assert block < region // 2


def _assert_prepared(session):
    assert session.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    assert session.conf.get("spark.sql.session.timeZone") == "UTC"


def test_get_spark_session_is_prepared(spark):
    # conftest's session comes from get_spark, which runs prepare_session.
    _assert_prepared(spark)


def test_load_table_sets_no_session_conf(spark, sf_smoke, monkeypatch):
    # Session confs are set once per session, never per table load.
    def refuse(key, value):
        raise AssertionError(f"load_table set {key}")

    monkeypatch.setattr(spark.conf, "set", refuse)
    events = load_table(spark, sf_smoke, "events")
    assert events.count() > 0


def _callers_session(spark):
    """A session built outside the engine, as ``__spark_entry__``'s callers
    pass in: it shares the context but not the runtime SQL confs, and has
    Spark's default ``nanosAsLong`` and a timezone other than UTC."""
    caller = spark.newSession()
    caller.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    caller.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    return caller


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_spark_entry_prepares_the_callers_session(spark):
    import __spark_entry__
    from social_warner_spark.queries.c_series import c3_star_join

    caller = _callers_session(spark)
    got = _rows(__spark_entry__.entry(caller))
    _assert_prepared(caller)
    assert got == _rows(c3_star_join(spark, __spark_entry__.SF0001))


@pytest.mark.parametrize("name", ["s1_tumbling", "q1_pricing_summary"])
def test_spark_entry_queries_prepare_the_callers_session(spark, sf_smoke, name):
    # s1 reads the events table; q1 goes through register_views and
    # spark.sql.
    import __spark_entry__

    caller = _callers_session(spark)
    got = _rows(__spark_entry__.queries()[name](caller, sf_smoke))
    _assert_prepared(caller)
    assert got == _rows(all_queries()[name](spark, sf_smoke))
