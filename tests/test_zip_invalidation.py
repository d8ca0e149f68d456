"""``_zipimport``: ``importlib.invalidate_caches()`` re-reads a zip archive's
directory only when the archive changed on disk, and still picks the change
up. Each test imports a package from a zip built in ``tmp_path``."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from akka_streams_kinesis_spark import _zipimport


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(name, src)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip holding package ``<pkg>`` with module ``a``, on ``sys.path``,
    with ``<pkg>.a`` imported (one importer for the archive root, one for
    ``<pkg>/``). Yields (path, package name, reads of this archive)."""
    pkg = f"zipinv_{tmp_path.name}".replace("-", "_")
    path = str(tmp_path / "lib.zip")
    _write_zip(path, {f"{pkg}/__init__.py": "", f"{pkg}/a.py": "X = 1\n"})
    monkeypatch.syspath_prepend(path)
    importlib.import_module(f"{pkg}.a")
    reads: list[str] = []
    read_directory = zipimport._read_directory

    def counting(archive_path):
        if archive_path == path:
            reads.append(archive_path)
        return read_directory(archive_path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield path, pkg, reads
    for name in [m for m in sys.modules if m == pkg or m.startswith(pkg + ".")]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(path)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(path, None)


def test_unchanged_archive_is_not_reread(archive):
    _, _, reads = archive
    importlib.invalidate_caches()
    reads.clear()
    importlib.invalidate_caches()
    assert reads == []


def test_rewritten_archive_is_reread_once(archive):
    path, pkg, reads = archive
    importlib.invalidate_caches()
    _write_zip(path, {f"{pkg}/__init__.py": "", f"{pkg}/a.py": "X = 1\n", f"{pkg}/b.py": "Y = 2\n"})
    reads.clear()
    importlib.invalidate_caches()
    assert importlib.import_module(f"{pkg}.b").Y == 2
    # Both importers of the archive share one re-read.
    assert reads == [path]


def test_deleted_archive_does_not_raise(archive):
    path, pkg, _ = archive
    importlib.invalidate_caches()
    os.remove(path)
    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        importlib.import_module(f"{pkg}.b")


def test_install_twice_is_a_no_op():
    patched = zipimport.zipimporter.invalidate_caches
    _zipimport.install()
    assert zipimport.zipimporter.invalidate_caches is patched
