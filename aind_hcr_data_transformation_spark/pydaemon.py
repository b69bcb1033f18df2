"""PySpark worker daemon that skips re-reading unchanged zip archives.

PySpark calls ``importlib.invalidate_caches()`` once per task; on CPython
3.11 that makes every ``zipimporter`` on the worker's path re-read its
whole archive directory (``pyspark.zip``, the spark-core jar, py4j:
0.12-0.25 s of CPU per task). This daemon, set as
``spark.python.daemon.module`` by ``session.get_spark``, makes the re-read
conditional on the archive's stat stamp and then runs
``pyspark.daemon.manager()`` unchanged: an archive added or rewritten
while the worker lives is still re-read.
"""

from __future__ import annotations

import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _stamp(archive: str) -> tuple[int, int, int]:
    st = os.stat(archive)
    return st.st_mtime_ns, st.st_size, st.st_ino


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that returns at once when the
    archive's stamp matches the one taken at the last read."""
    try:
        stamp = _stamp(self.archive)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_stamp", None):
        _reread(self)  # stat before read: a rewrite in between re-reads next time
        self._stamp = stamp


def stamp_held_importers() -> None:
    """Stamp the importers this process already holds, so forked workers
    skip the re-read from their first task on."""
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            try:
                finder._stamp = _stamp(finder.archive)
            except OSError:
                pass


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark import daemon

    stamp_held_importers()
    daemon.manager()
