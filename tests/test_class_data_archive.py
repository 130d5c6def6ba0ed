"""The driver JVM's class-data archive (session.py docstring): the process
that builds it keeps its stdout and its session clean and maps it, as the
next process does, a damaged archive is rebuilt, a failed build is marked
and leaves a plain session, and the archive never hides a deployment's
Spark config or breaks a session when it cannot be used.

Every test runs ``get_spark`` or the CLI in a child process with its own
cache directory (``XDG_CACHE_HOME``), since an archive applies only to a
JVM that ``get_spark`` launches.  One archive is built per module and
copied where a test damages it.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

from social_warner_spark.queries import all_queries
from tests.test_cli import CONFIG_DOC

ROOT = Path(__file__).resolve().parents[1]

#: Starts a session with get_spark and reports what its JVM mapped and
#: runs with, and what the session holds, as one JSON line on stdout.
PROBE = r"""
import json, os, sys
from social_warner_spark.session import get_spark
from social_warner_spark.queries import all_queries

spark = get_spark(master="local[2]")
jvm = spark.sparkContext._jvm
pid = jvm.java.lang.ProcessHandle.current().pid()
with open(f"/proc/{pid}/maps") as fh:
    mapped = sorted({ln.split()[-1] for ln in fh if ln.rstrip().endswith(".jsa")})
report = {
    "mapped": mapped,
    "args": list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()),
    "confs": {k: spark.conf.get(k, None) for k in (
        "spark.sql.legacy.parquet.nanosAsLong", "spark.sql.session.timeZone",
        "spark.sql.shuffle.partitions", "spark.sws.probe")},
    "tables": [t.name for t in spark.catalog.listTables()],
    "cache_empty": spark._jsparkSession.sharedState().cacheManager().isEmpty(),
    "persisted_rdds": spark.sparkContext._jsc.getPersistentRDDs().size(),
    "tmp_files": os.listdir(os.environ["TMPDIR"]),
    "rows": sorted(map(list, all_queries()["c8_hash_agg"](spark, sys.argv[1]).collect())),
}
print(json.dumps(report, default=str))
spark.stop()
"""


def _env(cache: Path, tmp: Path, **extra: str) -> dict[str, str]:
    tmp.mkdir(exist_ok=True)
    # a classpath setting of the host running the tests would turn the
    # archive off; each test sets the one it checks
    unset = ("SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")
    env = {k: v for k, v in os.environ.items() if k not in unset}
    env.update(XDG_CACHE_HOME=str(cache), TMPDIR=str(tmp), **extra)
    return env


def _run(argv: list[str], env: dict[str, str]) -> subprocess.CompletedProcess:
    return subprocess.run(argv, cwd=ROOT, env=env, capture_output=True, text=True,
                          timeout=900, check=True)


def _probe(sf: str, env: dict[str, str]) -> dict:
    done = _run([sys.executable, "-c", PROBE, sf], env)
    return json.loads(done.stdout.strip().splitlines()[-1])


def _batch(tmp: Path, env: dict[str, str]) -> tuple[subprocess.CompletedProcess, Path]:
    """Run one CLI export, check that its stdout is one JSON document
    reporting both configs done, and return the run and its output
    directory."""
    configs = tmp / "configs.json"
    configs.write_text(json.dumps(CONFIG_DOC))
    out = tmp / "exports"
    done = _run([sys.executable, "-m", "social_warner_spark", "batch", "--configs", str(configs),
                 "--extract", "tests.test_cli:demo_extract", "--out", str(out),
                 "--start", "2024-01-01", "--end", "2024-01-08"], env)
    # the JVM shares this stdout: it must hold exactly one JSON document
    body = json.loads(done.stdout)
    assert body["processed"] == 2 and body["failed"] == []
    return done, out


#: JVM options that map, record or dump a class-data archive.
_ARCHIVE_FLAGS = re.compile("SharedArchiveFile|RecordDynamic|ArchiveClassesAtExit")


def _archives(cache: Path) -> list[Path]:
    return sorted((cache / "social_warner_spark" / "cds").glob("*.jsa"))


def _valid(path: Path) -> bool:
    from social_warner_spark.session import _crc32

    return path.name.endswith(f"-{_crc32(path):08x}.jsa")


@pytest.fixture(scope="module")
def built(tmp_path_factory):
    """A cache directory whose archive a CLI export built."""
    root = tmp_path_factory.mktemp("cds")
    cache = root / "cache"
    _batch(root, _env(cache, root / "tmp"))
    return cache


def test_building_export_prints_one_json_document(built):
    # the export that built the archive printed one JSON document (checked
    # in _batch) and left one valid archive
    (archive,) = _archives(built)
    assert _valid(archive)


def test_next_process_maps_the_archive(built, tmp_path, sf_smoke):
    # A silent fallback (an archive that the JVM refuses, for instance
    # because of a non-empty classpath directory) must fail here.
    report = _probe(sf_smoke, _env(built, tmp_path / "tmp"))
    (archive,) = _archives(built)
    assert str(archive) in report["mapped"]
    assert "-XX:TieredStopAtLevel=1" in report["args"]


def _copy(built: Path, tmp_path: Path) -> Path:
    cache = tmp_path / "cache"
    shutil.copytree(built, cache)
    return cache


def test_zero_filled_archive_is_rebuilt_by_an_export(built, tmp_path, spark):
    cache = _copy(built, tmp_path)
    (archive,) = _archives(cache)
    size = archive.stat().st_size
    archive.chmod(0o644)
    archive.write_bytes(bytes(size))
    _, out = _batch(tmp_path, _env(cache, tmp_path / "tmp"))
    assert spark.read.parquet(str(out / "010_warner_dl_lf_a")).count() == 1
    (rebuilt,) = _archives(cache)
    assert _valid(rebuilt)


def test_truncated_archive_is_rebuilt_and_leaves_no_trace(built, tmp_path, spark, sf_smoke):
    # A truncated archive crashes the JVM that maps it (SIGBUS); it must be
    # deleted unread, and the process that rebuilds it must hand back a
    # session as clean as one that did not.
    cache = _copy(built, tmp_path)
    (archive,) = _archives(cache)
    archive.chmod(0o644)
    with open(archive, "r+b") as fh:
        fh.truncate(archive.stat().st_size // 2)
    report = _probe(sf_smoke, _env(cache, tmp_path / "tmp"))
    (rebuilt,) = _archives(cache)
    assert _valid(rebuilt)
    assert str(rebuilt) in report["mapped"]  # the rebuilding JVM maps it too
    expected = sorted(map(list, all_queries()["c8_hash_agg"](spark, sf_smoke).collect()))
    assert report["rows"] == json.loads(json.dumps(expected, default=str))
    assert report["tables"] == [] and report["cache_empty"]
    assert report["persisted_rdds"] == 0 and report["tmp_files"] == []
    assert report["confs"] == {
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.shuffle.partitions": "8",  # prepare_session's rule for 2 cores
        "spark.sws.probe": None,
    }


def test_deployment_spark_config_is_seen_and_no_archive_mapped(built, tmp_path, sf_smoke):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.sws.probe  seen\n")
    report = _probe(sf_smoke, _env(built, tmp_path / "tmp", SPARK_CONF_DIR=str(conf)))
    assert report["confs"]["spark.sws.probe"] == "seen"
    assert not any("social_warner_spark" in m for m in report["mapped"])
    assert not any(_ARCHIVE_FLAGS.search(a) for a in report["args"])


def test_unwritable_cache_dir_gives_a_plain_session(tmp_path, sf_smoke):
    # Running as root ignores permission bits, so the cache directory is
    # made impossible to create: its parent is a regular file.
    blocked = tmp_path / "not-a-dir"
    blocked.write_text("")
    env = _env(blocked, tmp_path / "tmp")
    done = _run([sys.executable, "-c", PROBE, sf_smoke], env)
    report = json.loads(done.stdout.strip().splitlines()[-1])
    assert report["rows"]
    assert not any("social_warner_spark" in m for m in report["mapped"])
    assert "-XX:TieredStopAtLevel=1" in report["args"]
    assert not any(_ARCHIVE_FLAGS.search(a) for a in report["args"])
    assert "class-data archive" not in done.stderr
    assert "Traceback" not in done.stderr


def test_failed_build_is_marked_and_leaves_a_plain_export(built, tmp_path, spark):
    # The build's dump cannot be written: its temporary file is a directory
    # that is not empty (the JVM deletes an empty one first).  The export
    # must run on without an archive and print one JSON document.
    key = _archives(built)[0].name.rpartition("-")[0]
    cache = tmp_path / "cache"
    cds = cache / "social_warner_spark" / "cds"
    (cds / f"{key}.tmp").mkdir(parents=True)
    (cds / f"{key}.tmp" / "taken").touch()
    # the launcher prints each JVM's command line on that JVM's stderr
    env = _env(cache, tmp_path / "tmp", SPARK_PRINT_LAUNCH_COMMAND="1")
    done, out = _batch(tmp_path, env)
    assert spark.read.parquet(str(out / "010_warner_dl_lf_a")).count() == 1
    assert (cds / f"{key}.failed").exists()
    assert _archives(cache) == []
    assert "class-data archive not built" in done.stderr
    # only the export's own JVM prints on its stderr: the build's output is captured
    (command,) = [ln for ln in done.stderr.splitlines() if ln.startswith("Spark Command:")]
    assert "-XX:TieredStopAtLevel=1" in command
    assert not _ARCHIVE_FLAGS.search(command)
