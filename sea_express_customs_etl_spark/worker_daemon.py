"""Python worker daemon of the engine's sessions
(``spark.python.daemon.module``, set in :func:`..session.get_spark`).

Two fixed costs of the Python side of the boundary are cut here, both
before the daemon imports pyspark and forks its workers.

Start-up. Spark puts ``pyspark.zip`` and the py4j zip at the front of
the workers' ``sys.path``. ``pyspark.zip`` holds sources only and a zip
caches no bytecode, so every session's daemon compiles the pyspark
modules a worker needs (0.8–1.1 s on a 4-core box) before its first
task. :func:`prefer_installed` moves such an archive behind an installed
copy of the same top-level package when that copy has cached bytecode
for its ``__init__`` and every file the two share has the archive's
size and CRC-32; pyspark then imports from bytecode (about 0.2 s).
Otherwise ``sys.path`` stays as Spark built it. Files only the archive
holds (pyspark's own test suites) are then not importable from a
worker. Nothing imports pyspark before this runs: ``python -m`` first
runs the package root, which imports nothing.

Per task. pyspark's worker calls ``importlib.invalidate_caches()``
before every task (``pyspark.worker_util.setup_spark_files``). Before
CPython 3.13 ``zipimporter.invalidate_caches`` re-reads the archive's
whole central directory, and the path importer cache holds one
zipimporter per package directory of ``pyspark.zip``, the py4j zip and
the Spark jars, so every task re-reads them many times over (0.2 s a
task on a 4-core box). Installed in the daemon before it forks,
:func:`install` re-reads an archive only when its inode, size or mtime
changed. CPython 3.13 reads lazily upstream (gh-103200), so there it
installs nothing.

The daemon then runs ``pyspark.daemon.manager()`` unchanged.
"""

from __future__ import annotations

import importlib.util
import os
import sys
import zipfile
import zipimport
import zlib


def _packages(archive: str) -> dict[str, list[zipfile.ZipInfo]]:
    """The top-level packages of a zip archive (those with an
    ``__init__.py``), each with the archive's file entries under it."""
    with zipfile.ZipFile(archive) as zf:
        infos = [i for i in zf.infolist() if not i.is_dir()]
    tops = {
        i.filename.split("/")[0]
        for i in infos
        if i.filename.count("/") == 1 and i.filename.endswith("/__init__.py")
    }
    return {
        top: [i for i in infos if i.filename.startswith(top + "/")] for top in tops
    }


def _same_files(root: str, infos: list[zipfile.ZipInfo]) -> bool:
    """Whether every archive entry that also exists under the directory
    ``root`` has the entry's size and CRC-32 there."""
    for info in infos:
        path = os.path.join(root, info.filename)
        try:
            if os.stat(path).st_size != info.file_size:
                return False
            with open(path, "rb") as f:
                if zlib.crc32(f.read()) != info.CRC:
                    return False
        except FileNotFoundError:
            continue  # only the archive holds it
        except OSError:
            return False
    return True


def _identical_copy(
    path: list[str], start: int, package: str, infos: list[zipfile.ZipInfo]
) -> int | None:
    """Index of the first directory entry from ``path[start]`` on that
    holds ``package``, when that copy has cached bytecode for its
    ``__init__`` and the archive's files; ``None`` otherwise."""
    for j in range(start, len(path)):
        init = os.path.join(path[j], package, "__init__.py")
        if os.path.isfile(init):
            cached = os.path.isfile(importlib.util.cache_from_source(init))
            return j if cached and _same_files(path[j], infos) else None
    return None


def prefer_installed(path: list[str]) -> None:
    """Move each ``.zip`` archive on ``path`` (``sys.path``) behind the
    installed copies of its top-level packages, in place, when each copy
    has cached bytecode and is byte-identical in the files it shares with
    the archive; leave ``path`` as it is otherwise. Spark's jars are
    not opened: they hold no Python package, and reading the directory
    of the 5,359-entry core jar would cost 0.04 s."""
    for archive in [p for p in path if p.endswith(".zip") and os.path.isfile(p)]:
        try:
            packages = _packages(archive)
        except (OSError, zipfile.BadZipFile):
            continue
        i = path.index(archive)
        copies = [_identical_copy(path, i + 1, p, f) for p, f in packages.items()]
        if copies and None not in copies:
            del path[i]
            path.insert(max(copies), archive)


def _archive_key(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def install() -> None:
    """Make ``zipimporter.invalidate_caches`` skip an unchanged archive."""
    if sys.version_info >= (3, 13):
        return
    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        key = _archive_key(self.archive)
        if key is None or key != getattr(self, "_read_key", None):
            reread(self)
            self._read_key = key

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    prefer_installed(sys.path)
    install()
    from pyspark import daemon

    daemon.manager()
