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
  (``-XX:SharedArchiveFile``): the ~15k classes a process uses are mapped
  pre-parsed and pre-verified instead of read from jars, and a benchmark
  run's set-up takes 22-31% less CPU (PERF.md "Class-data archive").  It
  lives in ``${XDG_CACHE_HOME:-~/.cache}/social_warner_spark/cds/``, keyed
  by the JDK and the ``$SPARK_HOME/jars`` listing (archives of other keys
  are deleted), under a name carrying its CRC-32, which every launch
  checks.  The first process that finds none builds it, holding a lock: a
  child process trains a JVM started with ``-XX:ArchiveClassesAtExit``
  (``_train``) and waits for its exit dump; then the builder maps it too.
  JDK 17 maps an archive only if every classpath directory is
  empty, so the launches point ``SPARK_CONF_DIR`` at an empty directory
  when the conf directory holds only ``*.template`` files.  No archive is
  used, and the JVM starts as without it, when the conf directory holds
  anything else, when ``HADOOP_CONF_DIR``, ``YARN_CONF_DIR`` or
  ``SPARK_DIST_CLASSPATH`` is set, when ``extra_conf`` sets
  ``spark.driver.extraJavaOptions``, when the driver JVM is already
  running, when the cache is not writable, and when a build failed for
  the key (delete ``<key>.failed`` to retry).
- A zip archive on ``sys.path`` has its directory re-read only when the
  archive changed (size, ``mtime_ns``, inode) since this process last
  read it (``_invalidate_zip_directory``).  Spark's Python workers call
  ``importlib.invalidate_caches()`` on every call, and on CPython 3.11
  that re-reads the directory of every cached zip importer: about 15 of
  them over ``pyspark.zip``'s 1,328 entries and the py4j zip, 110-230 ms
  of CPU per call and ten calls per export request (PERF.md "Zip
  importer caches").  The rule is installed when this module is
  imported, which every worker that runs the engine's code does, since
  Spark unpickles its data sources and UDFs by reference.  CPython 3.12
  re-reads lazily (gh-103200) and keeps its own rule.
"""

from __future__ import annotations

import contextlib
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import zipimport
import zlib
from pathlib import Path

from pyspark.errors import PySparkRuntimeError
from pyspark.sql import SparkSession

from social_warner_spark import logging_util as logu

_JIT = "-XX:TieredStopAtLevel=1"
# With an archive in play the JVM's warnings go to stderr, not to the stdout
# it shares with the CLI's JSON response.  Log files configured through
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


#: Archive path -> its (size, mtime_ns, inode) when this process last read
#: the archive's directory; None when it could not stat the archive.
_zip_stamps: dict[str, tuple[int, int, int] | None] = {}


def _invalidate_zip_directory(importer: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive's
    directory only when the archive changed since this process last read
    it (module docstring).  The importers of one archive share its
    directory in ``zipimport._zip_directory_cache``: the first to see a
    new stamp reads it, the others take what it read.  A removed archive
    is forgotten, as the stdlib forgets it."""
    archive, cache = importer.archive, zipimport._zip_directory_cache
    try:
        st = os.stat(archive)
        stamp = (st.st_size, st.st_mtime_ns, st.st_ino)
    except OSError:
        stamp = None
    if stamp is not None and stamp == _zip_stamps.get(archive) and archive in cache:
        importer._files = cache[archive]
        return
    try:
        files = zipimport._read_directory(archive)
    except zipimport.ZipImportError:
        cache.pop(archive, None)
        _zip_stamps.pop(archive, None)
        importer._files = {}
        return
    cache[archive] = importer._files = files
    _zip_stamps[archive] = stamp


if sys.version_info < (3, 12):  # 3.12 re-reads lazily (gh-103200)
    zipimport.zipimporter.invalidate_caches = _invalidate_zip_directory


def _launch(builder: SparkSession.Builder, extra_conf: dict[str, str]) -> SparkSession:
    """``getOrCreate()`` with the driver JVM started C1-only and, when one
    applies, from the class-data archive, built first if there is none
    (module docstring).  ``extra_conf`` applies last."""
    archive = None
    with contextlib.suppress(OSError):  # an unwritable cache
        if "spark.driver.extraJavaOptions" not in extra_conf:
            archive = _archive()
    options = f"{_JIT} {_CDS_LOG} -XX:SharedArchiveFile={archive}" if archive else _JIT
    builder = builder.config(map={"spark.driver.extraJavaOptions": options, **extra_conf})
    if archive is None:
        return builder.getOrCreate()
    before = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = str(archive.parent / "conf")
    try:
        return builder.getOrCreate()
    finally:
        del os.environ["SPARK_CONF_DIR"]
        if before is not None:
            os.environ["SPARK_CONF_DIR"] = before


def _archive_key() -> tuple[Path, str] | None:
    """The archive's cache directory and its key, or None when this launch
    cannot map one: the driver JVM is already running, or the launch puts
    a non-empty directory on the JVM's classpath, which makes the JVM
    refuse any archive."""
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
    return cache / "social_warner_spark" / "cds", digest.hexdigest()[:16]


def _archive() -> Path | None:
    """The checked archive to map, built first under the key's lock if
    there is none.  None when no archive applies: none can be built, or
    another process is building it."""
    found = _archive_key()
    if found is None:
        return None
    cache, key = found
    (cache / "conf").mkdir(parents=True, exist_ok=True)
    if any((cache / "conf").iterdir()):
        return None
    for other in cache.iterdir():
        if other.is_file() and not other.name.startswith(key):
            other.unlink(missing_ok=True)
    archive = _checked_archive(cache, key)
    if archive is not None or (cache / f"{key}.failed").exists():
        return archive
    with open(cache / f"{key}.lock", "w") as lock:
        try:
            fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except BlockingIOError:
            return None
        return _checked_archive(cache, key) or _build_archive(cache, key)


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


def _build_archive(cache: Path, key: str) -> Path | None:
    """Have this module's child process (the end of this file) dump the
    key's archive to a temporary file, from a JVM with the launch's
    classpath, and move that into place under its CRC-32.  On any failure
    the key is marked so that no later launch pays for another attempt."""
    t0 = time.perf_counter()
    tmp = cache / f"{key}.tmp"
    path = [str(Path(__file__).resolve().parents[1]), os.environ.get("PYTHONPATH")]
    env = {**os.environ, "SPARK_CONF_DIR": str(cache / "conf"),
           "PYTHONPATH": os.pathsep.join(filter(None, path))}
    try:  # in a session of its own, so that its JVM can be killed with it
        with subprocess.Popen([sys.executable, "-m", __name__, str(tmp)], env=env,
                              stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                              stderr=subprocess.STDOUT, text=True, errors="replace",
                              start_new_session=True) as child:
            try:
                out = child.communicate(timeout=600)[0]  # a build takes about 50 s
            finally:  # no process of the build outlives it, a failed one's JVM included
                with contextlib.suppress(ProcessLookupError):
                    os.killpg(child.pid, signal.SIGKILL)
        if child.returncode or not tmp.is_file():
            raise RuntimeError(f"exit status {child.returncode}: {out[-500:]}")
        archive = cache / f"{key}-{_crc32(tmp, fsync=True):08x}.jsa"
        os.replace(tmp, archive)
    except Exception as exc:  # noqa: BLE001 - the launch goes on without it
        logu.warning("class-data archive not built", error=repr(exc)[:800])
        with contextlib.suppress(OSError):
            (cache / f"{key}.failed").touch()
            tmp.unlink(missing_ok=True)
        return None
    logu.info("class-data archive built", path=str(archive),
              mb=round(archive.stat().st_size / 2**20), s=round(time.perf_counter() - t0, 1))
    return archive


def _train(spark: SparkSession) -> None:
    """Run the kinds of work the engine's processes do, so that the archive
    holds the classes they load: a Python data source, JSON and nested
    columns, parquet writes and scans with an ``Observation``, caching,
    joins, windows, aggregations, sorts, ``localCheckpoint``, string ops,
    Python and pandas UDFs and ``mapInPandas``."""
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

    spark.dataSource.register(Pages)
    body = "id long, text string, tags map<string, string>"
    rows = (spark.read.format("sws_train").load()
            .select("page", F.from_json("body", body).alias("r")).select("page", "r.*")
            .withColumn("ts", F.timestamp_seconds(F.col("id") * 60))
            .withColumn("words", F.split("text", " ")))
    with tempfile.TemporaryDirectory() as tmp:
        seen = Observation("seen")
        rows.observe(seen, F.count(F.lit(1)).alias("n")).write.mode("overwrite").parquet(tmp)
        seen.get  # waits for the observed count
        t = spark.read.parquet(tmp).persist()
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
        t.orderBy("text", F.desc("id")).collect()  # range-partitioned
        t.select(F.explode(F.sequence(F.lit(0), "page"))).collect()
        t.withColumn("r", F.rank().over(by)).where("r <= 2").collect()  # a window group limit
        t.select(F.lower("text").contains("w1"), F.initcap(F.trim("text")).endswith("y"),
                 F.instr("text", "x"), F.replace("text", F.lit("x"))).collect()
        t.unpersist(blocking=True)


if __name__ == "__main__":  # _build_archive's child: train a JVM that dumps at exit
    from pyspark import SparkContext

    spark = get_spark(extra_conf={"spark.driver.extraJavaOptions":
                                  f"{_JIT} -XX:ArchiveClassesAtExit={sys.argv[1]}"})
    _train(spark)
    spark.stop()
    SparkContext._gateway.proc.stdin.close()  # the JVM exits, and dumps, at its stdin's end
    sys.exit(SparkContext._gateway.proc.wait())
