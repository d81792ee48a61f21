"""Python worker daemon for local masters: pyspark's daemon, minus the
per-task re-read of unchanged zip archives.

Every Python task starts in ``pyspark.worker_util.setup_spark_files``,
which ends in ``importlib.invalidate_caches()``. CPython's
``zipimporter.invalidate_caches`` re-reads its archive's central
directory at once, and a worker holds one zipimporter per package path
inside pyspark.zip (3.5 MB, 14-16 of them after ``pyspark.worker``
loads). So a reused worker re-read pyspark.zip about fifteen times per
task: 0.13-0.16 CPU-s, more than the minhash kernel itself.

Run as ``python -m meds_transforms_spark.worker_daemon``, this module
gates that method: an importer re-reads its archive only when the
archive's ``(st_mtime_ns, st_size, st_ino)`` differs from the one it saw
at its last read. A changed or new archive is still re-read, and
``FileFinder`` invalidation is untouched. The daemon seeds the gate once
before it forks, so workers inherit importers that already know their
archive, then hands over to ``pyspark.daemon.manager()``.

Importing the module patches nothing: the driver keeps the stock
stdlib. ``get_spark`` sets this daemon for ``local*`` masters only (see
``session.py``).
"""

from __future__ import annotations

import importlib
import os
import zipimport


def _gated(stock):
    """``zipimporter.invalidate_caches`` that calls ``stock`` only when
    the archive differs from what this importer read last."""

    def invalidate_caches(self):
        # stat before the read: an archive rewritten during the read
        # keeps the old key, so the next call reads it again
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            key = None
        if key is None or key != getattr(self, "_read_key", None):
            stock(self)
            self._read_key = key

    return invalidate_caches


if __name__ == "__main__":
    from pyspark import daemon

    stock = zipimport.zipimporter.invalidate_caches
    zipimport.zipimporter.invalidate_caches = _gated(stock)
    importlib.invalidate_caches()  # seed every importer before the fork
    daemon.manager()
