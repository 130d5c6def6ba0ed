"""A zip archive on ``sys.path`` has its directory re-read on
``importlib.invalidate_caches()`` only when it changed since the process
last read it (``session._invalidate_zip_directory``, installed when the
package is imported): Spark's Python workers invalidate on every call, and
``addPyFile`` relies on a changed or new archive being read again."""

from __future__ import annotations

import importlib
import os
import sys
import uuid
import zipfile
import zipimport

import pytest

from social_warner_spark import session  # installs the rule


def _write_zip(path, files: dict[str, str], replace: bool = False) -> None:
    """Write ``files`` to the archive at ``path``: in place, or as a new
    file (a new inode) moved over it."""
    target = f"{path}.new" if replace else path
    with zipfile.ZipFile(target, "w") as zf:
        for name, text in files.items():
            zf.writestr(name, text)
    if replace:
        os.replace(target, path)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """An archive path on ``sys.path`` and a unique module-name prefix; the
    importers and modules of the archive are dropped afterwards."""
    path = str(tmp_path / "lib.zip")
    prefix = f"zipcase_{uuid.uuid4().hex[:8]}"
    _write_zip(path, {f"{prefix}_a.py": "X = 1\n"})
    monkeypatch.syspath_prepend(path)
    yield path, prefix
    for key in [k for k in sys.path_importer_cache if k.startswith(path)]:
        del sys.path_importer_cache[key]
    for name in [m for m in sys.modules if m.startswith(prefix)]:
        del sys.modules[name]
    zipimport._zip_directory_cache.pop(path, None)
    session._zip_stamps.pop(path, None)


@pytest.fixture
def reads(monkeypatch):
    """Archive paths ``zipimport._read_directory`` is called with."""
    seen: list[str] = []
    read = zipimport._read_directory

    def counting(path):
        seen.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


def test_an_unchanged_archive_is_not_read_again(archive, reads):
    path, prefix = archive
    importlib.import_module(f"{prefix}_a")
    importlib.invalidate_caches()  # the first read this process stamps
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert path not in reads
    assert importlib.reload(sys.modules[f"{prefix}_a"]).X == 1


@pytest.mark.parametrize("replace", [False, True], ids=["in_place", "new_inode"])
def test_a_rewritten_archive_is_read_again_by_every_importer(archive, replace):
    path, prefix = archive
    pkg = f"{prefix}_pkg"
    _write_zip(path, {f"{prefix}_a.py": "X = 1\n", f"{pkg}/__init__.py": "",
                      f"{pkg}/old.py": "", f"lib/{prefix}_old.py": ""}, replace)
    importlib.invalidate_caches()
    importlib.import_module(f"{prefix}_a")  # the root's importer
    importlib.import_module(f"{pkg}.old")  # pkg/'s importer
    importlib.invalidate_caches()  # stamps the archive
    _write_zip(path, {f"{prefix}_a.py": "X = 2\n", f"{pkg}/__init__.py": "",
                      f"{pkg}/old.py": "", f"{pkg}/new.py": "", f"lib/{prefix}_old.py": "",
                      f"lib/{prefix}_lib.py": "", f"{prefix}_b.py": "Y = 3\n"}, replace)
    # an importer made after the rewrite starts from the stale shared directory
    sys.path.append(os.path.join(path, "lib"))
    importlib.import_module(f"{prefix}_old")
    importlib.invalidate_caches()
    assert importlib.import_module(f"{prefix}_b").Y == 3  # the root's importer
    importlib.import_module(f"{pkg}.new")  # pkg/'s importer, made before
    importlib.import_module(f"{prefix}_lib")  # lib/'s importer, made after
    assert importlib.reload(sys.modules[f"{prefix}_a"]).X == 2


def test_a_removed_archive_is_forgotten_as_the_stdlib_does(archive):
    path, prefix = archive
    importlib.import_module(f"{prefix}_a")
    importer = sys.path_importer_cache[path]
    importlib.invalidate_caches()
    os.remove(path)
    importlib.invalidate_caches()
    assert path not in zipimport._zip_directory_cache
    assert importer.find_spec(f"{prefix}_a") is None
    # an archive back at the path is read again
    _write_zip(path, {f"{prefix}_c.py": "Z = 4\n"})
    importlib.invalidate_caches()
    assert importlib.import_module(f"{prefix}_c").Z == 4
