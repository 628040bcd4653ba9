"""The zipimport guard: importlib.invalidate_caches() keeps the cached
directory of an unchanged archive and re-reads a rewritten one."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from gemproc2caom2_spark import _zipimport_guard

PKG = "zguard_pkg"
active = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="the guard is inactive on Python 3.13+"
)


def _write_zip(path, value: str) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{PKG}/__init__.py", "")
        z.writestr(f"{PKG}/sub/__init__.py", "")
        z.writestr(f"{PKG}/sub/mod.py", f"VALUE = {value!r}\n")


def _drop_modules() -> None:
    for name in [m for m in sys.modules if m == PKG or m.startswith(PKG + ".")]:
        del sys.modules[name]


@pytest.fixture
def zip_pkg(tmp_path, monkeypatch):
    archive = tmp_path / "pkg.zip"
    _write_zip(archive, "old")
    monkeypatch.syspath_prepend(str(archive))
    reads = []
    real = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    _drop_modules()
    yield archive, reads
    _drop_modules()
    for key in [k for k in sys.path_importer_cache if k.startswith(str(archive))]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(str(archive), None)


@active
def test_unchanged_archive_is_not_reread(zip_pkg):
    archive, reads = zip_pkg
    assert importlib.import_module(f"{PKG}.sub.mod").VALUE == "old"
    importers = [
        v for k, v in sys.path_importer_cache.items()
        if k.startswith(str(archive)) and isinstance(v, zipimport.zipimporter)
    ]
    assert len(importers) >= 2  # one per package directory imported
    importlib.invalidate_caches()  # first guarded call stamps the archive
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []


@active
def test_rewritten_archive_is_reread(zip_pkg):
    archive, reads = zip_pkg
    assert importlib.import_module(f"{PKG}.sub.mod").VALUE == "old"
    importlib.invalidate_caches()
    reads.clear()
    _write_zip(archive, "rewritten with a longer value")
    importlib.invalidate_caches()
    assert reads == [str(archive)]  # once for all of the archive's importers
    _drop_modules()
    mod = importlib.import_module(f"{PKG}.sub.mod")
    assert mod.VALUE == "rewritten with a longer value"


def test_inactive_from_python_3_13(monkeypatch):
    def stock(self):
        pass

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stock)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    assert _zipimport_guard.install() is False
    assert zipimport.zipimporter.invalidate_caches is stock
