"""Python worker entry for local sessions (``spark.python.worker.module``).

Every task runs ``pyspark.worker_util.setup_spark_files``, which calls
``importlib.invalidate_caches()``. On CPython before 3.13 each cached
``zipimporter`` then re-parses its archive's whole central directory:
``pyspark.zip``'s sub-packages, the py4j zip and the shipped package zip,
about 0.2 s of worker CPU per task that does no query work. Importing this
module memoizes ``zipimport._read_directory`` by the archive's path and
file stats, so an unchanged archive is parsed once per worker and a zip
rewritten at the same path is parsed again. The daemon imports this module
once; every worker it forks inherits the memo.

The module name must start with ``pyspark``: ``pyspark/daemon.py`` imports
any other name as ``pyspark.worker`` instead, silently.
"""

from __future__ import annotations

import os
import zipimport

from pyspark.worker import main  # noqa: F401  -- the entry the daemon calls

_read_directory = zipimport._read_directory
_directories: dict[tuple, dict] = {}


def _memo_read_directory(archive):
    try:
        st = os.stat(archive)
    except OSError:  # let the original raise ZipImportError
        return _read_directory(archive)
    key = (archive, st.st_size, st.st_mtime_ns, st.st_ino)
    files = _directories.get(key)
    if files is None:
        files = _directories[key] = _read_directory(archive)
    return files


zipimport._read_directory = _memo_read_directory
