"""SparkSession factory with a 100-TB-minded default configuration.

The reference runs a single pandas process (see SURVEY.md §0); here every
knob is chosen so the same logical pipeline scales out:

- AQE on (runtime partition coalescing, skew-join splitting, dynamic join
  strategy switch) — at 100 TB static shuffle-partition counts are always
  wrong for at least one stage.  Spark enables all of it by default, so
  the builder sets none of it.
- Arrow on — every Python-boundary crossing (pandas UDFs, toPandas) is
  vectorized columnar batches, not pickled rows.
- Shuffle parallelism from one rule, ``prepare_session``'s: 2× the
  session's cores, clamped to [8, 64], for every session whose builder or
  spark-submit conf did not set it.  AQE coalesces from there down.
- C1-only JIT for the driver JVM (``-XX:TieredStopAtLevel=1``).  The
  product's processes are short-lived (one export request, one benchmark
  run) and none lives long enough to amortize HotSpot's C2 compiler, whose
  threads were measured at 35-46% of the JVM's CPU per export request,
  still several requests after warm-up (PERF.md "JIT tier").  In local mode
  the driver JVM is also the executor, so every job runs C1-only.
  Long-lived processes pay in wall time instead: a whole test session runs
  about 47% longer.  Executor JVMs on a cluster are therefore left alone on
  purpose: they are long-lived, so C2 pays for itself there, and the saving
  was measured only on short-lived local processes.  Pass ``extra_conf`` to
  override it, as any key.
- 1 MB Tungsten pages and broadcast blocks (``spark.buffer.pageSize``,
  ``spark.broadcast.blockSize``), so neither is a G1 humongous object
  (half a region or more; regions are 4 MB at the 8g driver heap).  Left
  to Spark, the 8g heap gets 64 MB pages and 4 MB blocks.  A few pooled
  64 MB aggregation pages then held ~190 MB of a ~540 MB heap, above
  G1's 45% marking threshold, and every humongous allocation started a
  concurrent mark: 0.2-1.8 GC CPU-s per export request C1-only, varying
  from run to run with how far G1 had grown the heap (PERF.md "JIT tier").
  1 MB is the floor Spark itself picks for small executors; with 8192
  page-table entries it caps a task at 8 GB of Tungsten memory, so raise
  the page size for executors that give one task more than that.
"""

from __future__ import annotations

import os

from pyspark.errors import PySparkRuntimeError
from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "social-warner-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build the configured SparkSession, prepared by ``prepare_session``.

    A session already running in the process is prepared and returned as
    it is: the builder's settings, ``extra_conf`` included, apply only to
    the session this call builds.  Honors ``SPARK_GRAFT_CPUS`` for the
    local core count.
    """
    try:
        running = SparkSession.active()
    except PySparkRuntimeError:  # no session yet: build one below
        pass
    else:
        return prepare_session(running)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-XX:TieredStopAtLevel=1")
        .config("spark.buffer.pageSize", "1m")
        .config("spark.broadcast.blockSize", "1m")
        # Small dims (region/nation/customer at test SF) should always broadcast.
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return prepare_session(builder.getOrCreate())


def prepare_session(spark: SparkSession) -> SparkSession:
    """Apply the runtime SQL confs every session needs; the one place that
    sets them.  ``get_spark`` applies it to the session it builds or finds
    running; ``__spark_entry__`` applies it to the session its caller
    passes in, on each call, since it never built that session.

    - parquet nanos read as long: an events.parquet written by pandas
      carries TIMESTAMP(NANOS), which the vectorized parquet reader
      rejects; it is read as long and converted in ``catalog.load_table``.
    - UTC session timezone: deterministic timestamp semantics regardless
      of host timezone or of who built the session (matches the
      DuckDB/naive-timestamp oracle).
    - shuffle-partition right-sizing, the one rule for every session
      (``get_spark``'s builder sets no count): a session still at Spark's
      static default (200) pays ~6× task-scheduling overhead on the
      multi-stage / iterative pipelines at test SF (measured: x31 57s →
      9s).  A session
      whose builder/spark-submit conf set the key explicitly is never
      touched (detected via the SparkContext conf) — the 200-default check
      alone can't distinguish a deliberate runtime set of exactly 200,
      which is the one case this heuristic would override.  At cluster
      scale the equivalent knob is 2-3× total cores with AQE coalescing
      down.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    key = "spark.sql.shuffle.partitions"
    explicitly_built = spark.sparkContext.getConf().contains(key)
    if not explicitly_built and spark.conf.get(key, "200") == "200":
        cores = spark.sparkContext.defaultParallelism
        spark.conf.set(key, str(max(8, min(64, 2 * cores))))
    return spark
