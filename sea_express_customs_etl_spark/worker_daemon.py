"""Python worker daemon of the engine's sessions
(``spark.python.daemon.module``, set in :func:`..session.get_spark`).

pyspark's worker calls ``importlib.invalidate_caches()`` before every
task (``pyspark.worker_util.setup_spark_files``). Before CPython 3.13
``zipimporter.invalidate_caches`` re-reads the archive's whole central
directory, and the path importer cache holds one zipimporter per package
directory of ``pyspark.zip``, the py4j zip and the Spark jars, so every
task re-reads them many times over (0.2 s a task on a 4-core box).
Installed in the daemon before it forks, :func:`install` re-reads an
archive only when its inode, size or mtime changed. CPython 3.13 reads
lazily upstream (gh-103200), so there it installs nothing. The daemon
then runs ``pyspark.daemon.manager()`` unchanged.
"""

from __future__ import annotations

import os
import sys
import zipimport


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
    install()
    from pyspark import daemon

    daemon.manager()
