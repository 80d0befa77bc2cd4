"""The worker daemon's zip-cache wrapper, without a Spark session: an
unchanged archive is not re-read, a rewritten one is, and CPython 3.13+
keeps its own lazy invalidation."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from sea_express_customs_etl_spark import worker_daemon


@pytest.fixture
def reads(monkeypatch):
    """Counts ``zipimport._read_directory`` calls; the wrapper installed
    by the test is removed again on teardown."""
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    calls: list[str] = []
    read = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def _write_zip(path, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in members.items():
            zf.writestr(name, src)


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="wrapper is pre-3.13 only")
def test_unchanged_archive_is_read_once(tmp_path, reads):
    archive = tmp_path / "deps.zip"
    _write_zip(archive, {"wd_first.py": "X = 1\n"})
    worker_daemon.install()
    importer = zipimport.zipimporter(str(archive))  # reads it once
    reads.clear()
    importer.invalidate_caches()
    assert reads == [str(archive)]
    for _ in range(5):
        importer.invalidate_caches()
    assert reads == [str(archive)]


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="wrapper is pre-3.13 only")
def test_rewritten_archive_is_reread_and_its_new_member_imports(
    tmp_path, reads, monkeypatch
):
    archive = tmp_path / "deps.zip"
    _write_zip(archive, {"wd_old.py": "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    for name in ("wd_old", "wd_new"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    worker_daemon.install()
    assert importlib.import_module("wd_old").X == 1
    importlib.invalidate_caches()
    before = len(reads)
    importlib.invalidate_caches()
    assert len(reads) == before

    _write_zip(archive, {"wd_old.py": "X = 1\n", "wd_new.py": "Y = 2\n"})
    importlib.invalidate_caches()
    assert len(reads) > before
    assert importlib.import_module("wd_new").Y == 2


def test_not_installed_on_313(monkeypatch, reads):
    original = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    worker_daemon.install()
    assert zipimport.zipimporter.invalidate_caches is original
