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
- The driver JVM starts from a JDK 17 dynamic class-data-sharing archive
  (``-XX:SharedArchiveFile``), so the ~15k Spark and library classes a
  process uses are mapped pre-parsed and pre-verified instead of read from
  jars: a benchmark run's set-up takes about 31% less CPU on
  ``corpus_queries`` and 22% less on ``etl_export``, and ``get_spark``
  about 2.6 s wall instead of 10.6 (PERF.md "Class-data archive").  The
  archive lives under ``$XDG_CACHE_HOME`` (or ``~/.cache``)
  ``/social_warner_spark/cds/``,
  outside any checkout, keyed by the JDK (its home and ``release`` file)
  and the listing of ``$SPARK_HOME/jars``; archives of other keys are
  deleted.  The first process that finds none builds it, once, holding a
  lock: its JVM starts with ``-XX:+RecordDynamicDumpInfo``, runs a fixed
  training job (``_train``), links every class it loaded and dumps them
  through ``jcmd`` to a temporary file that moves into place under its
  CRC-32 (about 35 s, paid once; the JVM's exit is not held).  A launch
  maps an archive only if its bytes match that CRC.  JDK 17 maps an
  archive only when every directory on the classpath is empty, and
  Spark's launcher puts the conf directory first, so the launch points
  ``SPARK_CONF_DIR`` at an empty directory when the conf directory holds
  nothing but ``*.template`` files (the effective configuration is the
  same).  The archive is skipped, and the JVM starts exactly as without
  it, when the conf directory holds anything else, when
  ``HADOOP_CONF_DIR``, ``YARN_CONF_DIR`` or ``SPARK_DIST_CLASSPATH`` is
  set, when ``extra_conf`` sets ``spark.driver.extraJavaOptions``, when
  the driver JVM is already running, when the cache directory is not
  writable, and when a build failed for the key (delete
  ``<key>.failed`` to retry).
"""

from __future__ import annotations

import contextlib
import fcntl
import hashlib
import json
import os
import shutil
import subprocess
import tempfile
import time
import zlib
from pathlib import Path

from pyspark.errors import PySparkRuntimeError
from pyspark.sql import SparkSession

from social_warner_spark import logging_util as logu

_JIT = "-XX:TieredStopAtLevel=1"
# With an archive in play the JVM's warnings go to stderr, not to the stdout
# it shares with the CLI's JSON response, and the per-class "Skipping"
# warnings of a dump (4k lines) are dropped.  Log files configured through
# SPARK_SUBMIT_OPTS or JDK_JAVA_OPTIONS are kept.
_CDS_LOG = "-Xlog:all=off -Xlog:all=warning,cds=off:stderr"


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
        .config("spark.buffer.pageSize", "1m")
        .config("spark.broadcast.blockSize", "1m")
        # Small dims (region/nation/customer at test SF) should always broadcast.
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
    )
    return prepare_session(_launch(builder, extra_conf or {}))


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


def _launch(builder: SparkSession.Builder, extra_conf: dict[str, str]) -> SparkSession:
    """``getOrCreate()`` with the driver JVM started C1-only and from the
    class-data archive, or, in the one process that finds none, started to
    record one and then building it (module docstring).  ``extra_conf``
    applies last, so it overrides these JVM options too.  Launches with
    the C1 option alone when no archive applies."""
    with contextlib.ExitStack() as held:
        try:
            plan = _archive_plan(held)
        except OSError:
            plan = None
        options = _JIT
        if plan is not None:
            cache, key, jcmd, archive = plan
            cds = f"-XX:SharedArchiveFile={archive}" if archive else "-XX:+RecordDynamicDumpInfo"
            options = f"{_JIT} {_CDS_LOG} {cds}"
        builder = builder.config("spark.driver.extraJavaOptions", options)
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
        if plan is None:
            return builder.getOrCreate()
        before = os.environ.get("SPARK_CONF_DIR")
        os.environ["SPARK_CONF_DIR"] = str(cache / "conf")
        try:
            spark = builder.getOrCreate()
        finally:
            if before is None:
                del os.environ["SPARK_CONF_DIR"]
            else:
                os.environ["SPARK_CONF_DIR"] = before
        if archive is None:
            _build_archive(spark, cache, key, jcmd)
        return spark


def _archive_key() -> tuple[Path, str, str] | None:
    """The archive's cache directory, its key and the JDK's ``jcmd``, or
    None when this launch cannot map one: the driver JVM is already
    running, or the launch puts a non-empty directory on the JVM's
    classpath, which makes the JVM refuse any archive."""
    from pyspark import SparkContext

    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return None  # the driver JVM is already running
    if any(os.environ.get(v) for v in ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")):
        return None
    from pyspark.find_spark_home import _find_spark_home  # the launcher's own lookup

    spark_home = Path(_find_spark_home())
    conf_dir = Path(os.environ.get("SPARK_CONF_DIR") or spark_home / "conf")
    if conf_dir.is_dir() and not all(n.endswith(".template") for n in os.listdir(conf_dir)):
        return None
    java = os.environ.get("JAVA_HOME") or shutil.which("java")
    if java is None:
        return None
    java_home = Path(java) if "JAVA_HOME" in os.environ else Path(java).resolve().parents[1]
    digest = hashlib.sha256(str(java_home.resolve()).encode())
    digest.update((java_home / "release").read_bytes())
    for jar in sorted(os.scandir(spark_home / "jars"), key=lambda e: e.name):
        st = jar.stat()
        digest.update(f"{jar.name} {st.st_size} {st.st_mtime_ns}\n".encode())
    cache = Path(os.environ.get("XDG_CACHE_HOME") or Path.home() / ".cache")
    cache = cache / "social_warner_spark" / "cds"
    return cache, digest.hexdigest()[:16], str(java_home / "bin" / "jcmd")


def _archive_plan(held: contextlib.ExitStack) -> tuple[Path, str, str, Path | None] | None:
    """``_archive_key()`` plus the checked archive to map, or None in its
    place when this process is to build it, holding the key's build lock
    in ``held``.  None when no archive applies: none can be built, or
    another process is building it."""
    found = _archive_key()
    if found is None:
        return None
    cache, key, jcmd = found
    (cache / "conf").mkdir(parents=True, exist_ok=True)
    if any((cache / "conf").iterdir()):
        return None
    for other in cache.iterdir():
        if other.is_file() and not other.name.startswith(key):
            other.unlink(missing_ok=True)
    archive = _checked_archive(cache, key)
    if archive is None:
        if not os.access(jcmd, os.X_OK) or (cache / f"{key}.failed").exists():
            return None
        lock = held.enter_context(open(cache / f"{key}.lock", "w"))
        try:
            fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except BlockingIOError:
            return None
        archive = _checked_archive(cache, key)  # built while this one waited
    return cache, key, jcmd, archive


def _crc32(path: Path, fsync: bool = False) -> int:
    crc = 0
    with open(path, "rb") as fh:
        while chunk := fh.read(1 << 20):
            crc = zlib.crc32(chunk, crc)
        if fsync:
            os.fsync(fh.fileno())
    return crc


def _checked_archive(cache: Path, key: str) -> Path | None:
    """The key's archive if its bytes match the CRC-32 its name records.
    A file that does not is deleted: a truncated archive crashes the JVM
    that maps it (SIGBUS), so none is mapped unchecked."""
    for path in cache.glob(f"{key}-*.jsa"):
        if path.name == f"{key}-{_crc32(path):08x}.jsa":
            return path
        path.unlink()
    return None


def _build_archive(spark: SparkSession, cache: Path, key: str, jcmd: str) -> None:
    """Train the new JVM, have it dump its classes to a temporary file and
    move that into place under its CRC-32.  On any failure the session
    runs on as it is, and the key is marked so that no later launch pays
    for another attempt (delete ``<key>.failed`` to retry)."""
    t0 = time.perf_counter()
    tmp = cache / f"{key}.tmp"
    jvm = spark.sparkContext._jvm
    runtime = jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    if "-XX:+RecordDynamicDumpInfo" not in list(runtime.getInputArguments()):
        return  # extra_conf replaced the JVM options: nothing to dump from
    pid = str(jvm.java.lang.ProcessHandle.current().pid())
    system = jvm.java.lang.System
    stdout = system.out
    try:
        _train(spark)
        _link_loaded_classes(jvm, jcmd, pid)
        system.setOut(system.err)  # the dump announces itself on stdout
        try:
            subprocess.run([jcmd, pid, "VM.cds", "dynamic_dump", str(tmp)],
                           check=True, capture_output=True, timeout=120)
        finally:
            system.setOut(stdout)
        archive = cache / f"{key}-{_crc32(tmp, fsync=True):08x}.jsa"
        os.replace(tmp, archive)
    except Exception as exc:  # noqa: BLE001 - the session itself is fine
        logu.warning("class-data archive not built", error=repr(exc)[:500])
        with contextlib.suppress(OSError):
            (cache / f"{key}.failed").touch()
            tmp.unlink(missing_ok=True)
    else:
        logu.info("class-data archive built", path=str(archive),
                  mb=round(archive.stat().st_size / 2**20), s=round(time.perf_counter() - t0, 1))


# Compiled in the driver JVM by Janino, which Spark ships for its codegen.
_LINKER = r"""
public void link(String names) {
    for (String name : names.split("\n")) {
        try {  // reflection links the class without initializing it
            Class.forName(name, false, ClassLoader.getSystemClassLoader()).getDeclaredConstructors();
        } catch (Throwable notOnTheClassPath) {
        }
    }
}
"""


def _link_loaded_classes(jvm, jcmd: str, pid: str) -> None:
    """Link every class the JVM has loaded, as a dump at exit would.  JDK
    17's on-demand dump skips classes that are loaded but not linked
    (verification loads thousands), and the JVMs that map the archive
    then load those from the jars: 4.7k classes of a corpus run, against
    1.3k with this pass (PERF.md "Class-data archive")."""
    compiler = jvm.org.codehaus.janino.ClassBodyEvaluator()
    compiler.cook(_LINKER)
    linker = compiler.getClazz().newInstance()
    done: set[str] = set()
    for _ in range(5):  # linking loads more classes; three rounds settle it
        listing = subprocess.run([jcmd, pid, "VM.class_hierarchy"], check=True,
                                 capture_output=True, text=True, timeout=120).stdout
        # lines read "|  |--name/loader", hidden classes "name/0x.../loader"
        entries = (line.lstrip("|- ").partition("/") for line in listing.splitlines())
        names = {name for name, _, loader in entries if loader and "/" not in loader} - done
        if not names:
            return
        linker.link("\n".join(names))
        done |= names


def _train(spark: SparkSession) -> None:
    """Run, on a session of its own, the kinds of work the engine's
    processes do, so that the archive holds the classes they load: a
    Python data source, JSON and nested columns, parquet writes and scans
    with an ``Observation``, caching, joins, windows, aggregations,
    ``localCheckpoint``, Python and pandas UDFs and ``mapInPandas``.
    Leaves no table, view, cache, conf or file behind."""
    import pandas as pd
    import pyspark.sql.functions as F
    from pyspark.sql import Observation, Window
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    class Reader(DataSourceReader):
        def partitions(self):
            return [InputPartition(i) for i in range(2)]

        def read(self, partition):
            for i in range(200):
                doc = {"id": i, "text": f"w{i % 17} x y", "tags": {f"t{i % 5}": str(i)}}
                yield partition.value, json.dumps(doc)

    class Pages(DataSource):
        @classmethod
        def name(cls):
            return "sws_train"

        def schema(self):
            return "page int, body string"

        def reader(self, schema):
            return Reader()

    def scaled(v):
        return v / 7.0

    scaled.__annotations__ = {"v": pd.Series, "return": pd.Series}  # resolvable here
    scaled = F.pandas_udf(scaled, "double")

    @F.udf("string")
    def upper(s):
        return s.upper()

    def frames(batches):
        for b in batches:
            yield b.assign(n=b["n"] * 2)

    jsc = spark.sparkContext._jsc
    kept = set(jsc.getPersistentRDDs().keySet())
    s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "4")
    s.dataSource.register(Pages)
    body = "id long, text string, tags map<string, string>"
    rows = (s.read.format("sws_train").load()
            .select("page", F.from_json("body", body).alias("r")).select("page", "r.*")
            .withColumn("ts", F.timestamp_seconds(F.col("id") * 60))
            .withColumn("words", F.split("text", " ")))
    with tempfile.TemporaryDirectory() as tmp:
        seen = Observation("seen")
        rows.observe(seen, F.count(F.lit(1)).alias("n")).write.mode("overwrite").parquet(tmp)
        seen.get  # waits for the observed count
        t = s.read.parquet(tmp).persist()
        t.select(F.explode(F.map_keys("tags"))).distinct().collect()
        by = Window.partitionBy("page").orderBy("id")
        ranged = by.rangeBetween(-10, 0)
        w = (t.select("page", "id", "ts", F.posexplode("words").alias("pos", "word"))
             .withColumn("rank", F.row_number().over(by))
             .withColumn("run", F.sum("id").over(ranged))
             .withColumn("prev", F.lag("id").over(by))
             .withColumn("h", F.xxhash64("word")).withColumn("sha", F.sha2("word", 256)))
        g = (w.groupBy("page", "word")
             .agg(F.count("*").alias("n"), F.collect_list("pos").alias("ps"),
                  F.approx_count_distinct("id").alias("d"), F.percentile_approx("run", 0.5).alias("p"))
             .withColumn("ps", F.array_sort("ps")))
        j = (g.join(F.broadcast(t.select("page", F.col("id").alias("n"))), ["page", "n"], "left")
             .join(g.hint("merge").select("word", F.col("n").alias("m")), "word")
             .unionByName(g.withColumn("m", F.lit(0)), allowMissingColumns=True)
             .localCheckpoint())
        (j.mapInPandas(frames, j.schema)
         .select(scaled(F.col("n").cast("double")), upper("word"),
                 F.transform("ps", lambda x: x + 1), F.aggregate("ps", F.lit(0), lambda a, x: a + x))
         .write.format("noop").mode("overwrite").save())
        t.groupBy(F.window("ts", "1 hour")).count().toPandas()
        t.groupBy("page", F.session_window("ts", "5 minutes")).count().collect()
        (t.select("page", "id").groupBy("page")
         .applyInPandas(lambda p: p.head(3), "page int, id long").collect())
        t.unpersist(blocking=True)
    for rdd_id, rdd in jsc.getPersistentRDDs().items():  # the local checkpoint
        if rdd_id not in kept:
            rdd.unpersist(True)
