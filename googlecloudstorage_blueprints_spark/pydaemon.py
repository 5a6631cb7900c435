"""PySpark's Python worker daemon, with zip directories keyed by ``stat``.

Before every task, PySpark's worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``).  On CPython 3.11 each
``zipimporter`` then re-reads its whole archive directory, and a worker
holds about 16 of them over ``pyspark.zip``, the py4j zip and the
``spark-core`` jar: 0.16-0.35 s of every task on a 4-core host, before any
user code runs.

Here an importer re-reads its archive only when the archive's
``(st_ino, st_mtime_ns, st_size)`` differs from the last read in this
process, and otherwise takes the directory already in
``zipimport._zip_directory_cache``.  So a rewritten or newly added zip
(``addPyFile``, ``spark.files.overwrite``) is still read afresh.  The
daemon reads each archive once before it forks, so the workers it forks
start with every key known.

``session.get_spark`` sets ``spark.python.daemon.module`` to this module
for local sessions.
"""

from __future__ import annotations

import importlib
import os
import zipimport


def _stat_key(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_ino, st.st_mtime_ns, st.st_size


def stat_keyed(reread):
    """``zipimporter.invalidate_caches`` that calls ``reread`` only for an
    archive whose stat key changed since its last read through it."""
    read_keys: dict[str, tuple[int, int, int] | None] = {}

    def invalidate_caches(self) -> None:
        key = _stat_key(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if key is None or files is None or read_keys.get(self.archive) != key:
            # the key is taken before the read, so a rewrite during it
            # shows as a changed key next time
            read_keys[self.archive] = key
            reread(self)
        else:
            self._files = files

    return invalidate_caches


def manager() -> None:
    """Install the stat-keyed re-read, read each archive on the path once,
    then run PySpark's daemon, which forks the workers."""
    from pyspark import daemon

    zipimport.zipimporter.invalidate_caches = stat_keyed(
        zipimport.zipimporter.invalidate_caches)
    importlib.invalidate_caches()
    daemon.manager()


if __name__ == "__main__":
    manager()
