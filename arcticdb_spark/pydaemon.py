"""Python worker daemon for local Spark sessions: ``pyspark.daemon`` with
one fix for CPython < 3.12.

Every Python-UDF task calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Before 3.12 that makes every
``zipimporter`` in ``sys.path_importer_cache`` re-read its archive's
central directory: a worker holds ~16 importers over pyspark.zip's
1,328 entries, about 100 ms of CPU per task. CPython 3.12 re-reads
lazily (gh-103200); here an importer re-reads only when its archive's
``(st_mtime_ns, st_size)`` changed since its last read (always on its
first call). Nothing changes on 3.12 and later.

``session.get_spark`` starts this module as ``spark.python.daemon.module``
(the daemon, not ``spark.python.worker.module``: ``pyspark/daemon.py``
honours only worker modules whose name starts with ``pyspark``), so the
patch applies inside the worker daemon and the workers it forks, never in
the driver.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_read_directory = zipimport.zipimporter.invalidate_caches


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_if_changed(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive.
    The stamp is taken before the read, so a rewrite during the read is
    seen by the next call."""
    stamp = _stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_dir_stamp", None):
        _read_directory(self)
        self._dir_stamp = stamp


def install() -> None:
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = _invalidate_if_changed


if __name__ == "__main__":
    install()
    # stamp the daemon's own importers once, before it forks workers
    importlib.invalidate_caches()
    from pyspark.daemon import manager
    manager()
