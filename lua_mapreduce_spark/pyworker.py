"""Python-worker start-up cost: CPython 3.12's lazy zip-importer cache on 3.11.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``worker_util.setup_spark_files``). Before CPython 3.12 each
``zipimporter`` answers by re-reading its archive's whole directory, and a
worker holds one importer per ``sys.path`` entry inside ``pyspark.zip`` and
the Spark jars: 115-220 ms per task before any user code runs. CPython 3.12
(gh-103200) only drops the archive's cache entry and re-reads it on the next
lookup. Importing this module installs that behaviour on older interpreters
and does nothing on 3.12 and later; delete it once the engine requires
Python >= 3.12.
"""

from __future__ import annotations

import sys
import zipimport


def _files(self) -> dict:
    # zipimporter._get_files of 3.12: the shared cache, re-read on demand.
    try:
        return zipimport._zip_directory_cache[self.archive]
    except KeyError:
        try:
            files = zipimport._read_directory(self.archive)
        except zipimport.ZipImportError:
            return {}
        zipimport._zip_directory_cache[self.archive] = files
        return files


def _invalidate_caches(self) -> None:
    zipimport._zip_directory_cache.pop(self.archive, None)


if sys.version_info < (3, 12):
    # The setter ignores the assignment: 3.11's __init__ stores _files before
    # archive is set, and the files are in the shared cache by then.
    zipimport.zipimporter._files = property(_files, lambda self, value: None)
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
