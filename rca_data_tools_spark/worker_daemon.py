"""Spark's Python worker daemon, with zip archives re-read only on change.

PySpark's worker calls ``importlib.invalidate_caches()`` before every task,
and CPython 3.11's ``zipimporter.invalidate_caches`` re-reads the archive's
whole central directory each time, once per importer: a worker holds one
importer per imported subpackage of pyspark.zip (1,328 entries), and reads
the archive that many times per task.
Run as ``python -m rca_data_tools_spark.worker_daemon``, this module
re-reads an archive only when its ``(st_mtime_ns, st_size)`` differs from
the last read of that path, then hands over to ``pyspark.daemon.manager``.
Importing it changes nothing.
"""

from __future__ import annotations

import os
import zipimport


def reread_on_change(original):
    """Wrap ``zipimporter.invalidate_caches`` so that it calls ``original``
    only when the archive's stat differs from the last call's, keeping one
    record per archive path; an importer that skips the read adopts the
    directory another importer of the same path read last."""
    last_read = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            last_read.pop(self.archive, None)
            original(self)
            return
        key = (st.st_mtime_ns, st.st_size)
        if last_read.get(self.archive) == key:
            self._files = zipimport._zip_directory_cache.get(self.archive, {})
            return
        # stat before the read: a rewrite in between costs one more read
        # later, never a missed one
        original(self)
        last_read[self.archive] = key

    return invalidate_caches


if __name__ == "__main__":
    # imported by name, so the installed function reports this module, not
    # __main__
    from rca_data_tools_spark.worker_daemon import reread_on_change

    zipimport.zipimporter.invalidate_caches = reread_on_change(
        zipimport.zipimporter.invalidate_caches
    )
    from pyspark.daemon import manager

    manager()
