"""ner-spark: PySpark-native knowledge-graph construction over transcripts.

Importing the package also makes ``zipimport.zipimporter.invalidate_caches``
re-read an archive's directory only when the archive changed.

Why: before every task, a PySpark worker calls
``importlib.invalidate_caches()`` (``pyspark/worker_util.py``,
``setup_spark_files``; PySpark 4.1). Up to CPython 3.12 that makes every
``zipimporter`` on ``sys.path`` re-parse its archive's whole central
directory. A reused worker holds a dozen-plus importers over the
spark-core jar (~5.4k entries), ``pyspark.zip`` (~1.3k) and the py4j
zip, so each task spent 130-260 ms of CPU before reading a row.
CPython 3.13 made the call lazy (it only drops the cached directory), so
the patch is installed on older interpreters only.

The patch keeps 3.13's semantics: an archive whose
``(st_mtime_ns, st_size, st_ino)`` differs from the one its cached
directory was read at (for example a ``--py-files`` zip rewritten with
``os.replace``) is re-read; an unchanged one is not. Every worker imports
this package when it unpickles one of the pipeline's functions, so the
patch is live from its next task on, in local and cluster workers alike.
Delete this block once the oldest supported Python is 3.13.
"""

import sys

if sys.version_info < (3, 13):
    import os
    import zipimport

    # archive path -> stat key taken just before its directory was last read
    _READ_AT: dict = {}
    _read_directory = zipimport._read_directory
    _reread = zipimport.zipimporter.invalidate_caches

    def _stat_key(path):
        try:
            st = os.stat(path)
        except OSError:
            return None
        return (st.st_mtime_ns, st.st_size, st.st_ino)

    def _read_stamped(archive):
        # stat before the read: a rewrite racing the read leaves the old
        # key, so the next invalidation reads again
        key = _stat_key(archive)
        files = _read_directory(archive)
        _READ_AT[archive] = key
        return files

    def _invalidate_if_changed(self):
        files = zipimport._zip_directory_cache.get(self.archive)
        key = _stat_key(self.archive)
        if files is not None and key is not None and _READ_AT.get(self.archive) == key:
            self._files = files
            return
        _reread(self)

    zipimport._read_directory = _read_stamped
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
