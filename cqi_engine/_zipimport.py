"""Zip importers that re-read an archive's directory only when it changed.

Before every task, a Spark Python worker calls
``importlib.invalidate_caches()`` (``pyspark/worker_util.py``,
``setup_spark_files``).  On CPython < 3.12 that makes every
``zipimporter`` in ``sys.path_importer_cache`` re-read its archive's whole
central directory at once.  A warm worker holds about 17 of them, over
``pyspark.zip`` (1,328 entries, about 13 ms a read), the Spark core jar
(5,359 entries, about 66 ms), py4j and this package's zip: 0.25-0.37 s of
CPU per task, on every Python stage of every job.  CPython 3.12 made that
reload lazy (gh-103200).

``StampedZipImporter.invalidate_caches`` stats the archive first and
re-reads it only when ``(st_mtime_ns, st_size)`` differs from the last
read of that archive; importers over the same archive share that read.
A changed or missing archive is reloaded exactly as CPython does.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> ((st_mtime_ns, st_size) before the read, directory read);
# process-wide, like zipimport's own _zip_directory_cache
_last_read: dict = {}


class StampedZipImporter(zipimport.zipimporter):
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            _last_read.pop(self.archive, None)
            return super().invalidate_caches()
        stamp = (st.st_mtime_ns, st.st_size)
        last = _last_read.get(self.archive)
        if last is not None and last[0] == stamp:
            self._files = last[1]
            return
        super().invalidate_caches()
        _last_read[self.archive] = (stamp, self._files)


def install() -> None:
    """Put ``StampedZipImporter`` in place of ``zipimporter``, inside Spark
    Python workers on CPython < 3.12 only: in ``sys.path_hooks`` for the
    importers made from now on, and by class swap for the importers
    already in ``sys.path_importer_cache`` (so modules they loaded keep
    the same loader object)."""
    if sys.version_info >= (3, 12):
        return
    files = sys.modules.get("pyspark.core.files")
    if files is None or not files.SparkFiles._is_running_on_worker:
        return
    sys.path_hooks[:] = [StampedZipImporter if h is zipimport.zipimporter
                         else h for h in sys.path_hooks]
    for imp in list(sys.path_importer_cache.values()):
        if type(imp) is zipimport.zipimporter:
            imp.__class__ = StampedZipImporter
