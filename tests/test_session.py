"""The session factory's settings reach the driver JVM."""

from __future__ import annotations


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
