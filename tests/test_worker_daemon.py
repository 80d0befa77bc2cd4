"""The worker daemon without a Spark session: the archive choice (an
installed, bytecode-cached, byte-identical copy of an archive's package
goes first, anything else keeps the archive first), a package root that
imports no pyspark, and the zip-cache wrapper (an unchanged archive is
not re-read, a rewritten one is, and CPython 3.13+ keeps its own lazy
invalidation)."""

from __future__ import annotations

import importlib
from pathlib import Path
import py_compile
import subprocess
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


_PACKAGE = {
    "wd_pkg/__init__.py": "from wd_pkg.mod import X\n",
    "wd_pkg/mod.py": "X = 1\n",
}


@pytest.fixture
def archive_and_site(tmp_path, monkeypatch):
    """A scratch archive holding ``wd_pkg``, first on ``sys.path``, and
    an empty scratch site directory behind it; both leave ``sys.path``
    and ``sys.modules`` again on teardown."""
    archive = tmp_path / "wd_pkg.zip"
    _write_zip(archive, _PACKAGE)
    site = tmp_path / "site"
    site.mkdir()
    monkeypatch.setattr(sys, "path", [str(archive), str(site), *sys.path])
    for name in ("wd_pkg", "wd_pkg.mod"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    return str(archive), site


def _install_copy(site, sources: dict[str, str], bytecode: bool = True) -> None:
    for name, src in sources.items():
        path = site / name
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(src)
        if bytecode:
            py_compile.compile(str(path), doraise=True)


def _imported_from() -> str:
    worker_daemon.prefer_installed(sys.path)
    importlib.invalidate_caches()
    return importlib.import_module("wd_pkg").__file__


def test_identical_cached_copy_is_imported(archive_and_site):
    archive, site = archive_and_site
    _install_copy(site, _PACKAGE)
    assert _imported_from() == str(site / "wd_pkg" / "__init__.py")
    assert sys.path.index(archive) == sys.path.index(str(site)) + 1


def test_copy_differing_by_a_byte_keeps_the_archive(archive_and_site):
    archive, site = archive_and_site
    _install_copy(site, {**_PACKAGE, "wd_pkg/mod.py": "X = 2\n"})
    assert _imported_from().startswith(archive)
    assert sys.path[0] == archive


def test_copy_without_bytecode_keeps_the_archive(archive_and_site):
    archive, site = archive_and_site
    _install_copy(site, _PACKAGE, bytecode=False)
    assert _imported_from().startswith(archive)
    assert sys.path[0] == archive


def test_no_installed_copy_keeps_the_archive(archive_and_site):
    archive, _site = archive_and_site
    assert _imported_from().startswith(archive)
    assert sys.path[0] == archive


def test_daemon_module_imports_no_pyspark():
    """``python -m`` runs the package root before the daemon's code, so
    an eager pyspark import there would run before the archive choice."""
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            "import sys, sea_express_customs_etl_spark.worker_daemon; "
            "print('pyspark' in sys.modules)",
        ],
        cwd=str(Path(__file__).resolve().parents[1]),
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert out.stdout.strip() == "False", out.stderr
