"""The engine's Python worker daemon: pyspark's daemon, minus a per-task
re-read of every zip archive on ``sys.path``.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark/worker_util.py setup_spark_files``). On Python
3.11 each ``zipimport.zipimporter`` answers that by re-reading its
archive's directory, and a worker holds one importer per imported
subpackage of ``pyspark.zip`` (12 to 16 importers over a 1 328-entry
archive). On a 4-core host that one call took 0.2 s of a worker's
CPU before each kernel ran, most of a small task's cost
(``docs/SCALING.md`` "Python boundary").

Run as ``python -m graphdbetl_spark.daemon`` (``session.get_spark``
sets ``spark.python.daemon.module``), this module makes
``zipimporter.invalidate_caches`` re-read an archive only when the
file's ``(st_mtime_ns, st_size, st_ino)`` changed since it was last
read, then hands over to ``pyspark.daemon.manager()`` unchanged. An
importer whose archive did not change takes the directory read at that
stamp, so all of ``pyspark.zip``'s importers share one read. Every
other finder's invalidation is left as it is, and importing this module
patches nothing.

It is the daemon module, not ``spark.python.worker.module``, because
``pyspark/daemon.py`` ignores a worker module whose name does not start
with ``pyspark``.
"""

from __future__ import annotations

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


# archive -> (stamp, directory) of its last read through here
_directories: dict[str, tuple[tuple[int, int, int] | None, dict]] = {}


def invalidate_caches(importer: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads an archive only
    when its stamp differs from the one its last read here was taken
    at; otherwise the importer takes that read's directory. An archive
    that cannot be stat'ed is re-read as before."""
    stamp = _stamp(importer.archive)
    last = _directories.get(importer.archive)
    if stamp is not None and last is not None and last[0] == stamp:
        importer._files = last[1]
        return
    # Stat before the read: an archive rewritten during the read keeps
    # the older stamp, so the next call reads it again.
    _reread(importer)
    _directories[importer.archive] = (stamp, importer._files)


if __name__ == "__main__":
    import importlib

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    import pyspark.daemon

    # Read each archive once here, so the workers the daemon forks
    # start with every directory stamped.
    importlib.invalidate_caches()
    pyspark.daemon.manager()
