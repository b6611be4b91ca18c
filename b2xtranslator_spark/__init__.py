"""b2xtranslator_spark: PySpark-native binary-document text extraction.

A from-scratch rebuild of GustavoHennig/b2xtranslator's extraction
capabilities (CFB/OLE2 containers, Word piece table + character runs, XLS
BIFF + SST, PPT record atoms) as an Arrow-batched Spark pipeline over
conversation-transcript tables, plus the training-data operators
(dedup, similarity search, text analysis, multimodal plumbing) a 100 TB
corpus pipeline needs. See SURVEY.md for the blueprint and README.md for
the implementation map.
"""

import os
import sys
import weakref
import zipimport

__version__ = "0.1.0"


def _stat_keyed_zip_directories() -> None:
    """Make a zip importer re-read its archive's directory on
    ``importlib.invalidate_caches()`` only when the archive's (inode, size,
    mtime) differs from what that importer last read.

    pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
    every task, and before Python 3.13 every ``zipimporter`` then parses its
    whole archive directory again. A worker importing pyspark from
    ``pyspark.zip`` parsed 26,672 records per task: 0.25-0.49 s of a
    0.9-1.2 s Python task in perfbench doc_cold (Spark 4.1, Python 3.11,
    4 cores, 4 slots). A changed or replaced archive (``addPyFile``) is
    still re-read, and a missing one is left to the stdlib. Runs once per
    process, at package import, so in every worker that unpickles a
    product stage. Each importer that exists then is re-read and stamped
    here; a later one stamps on its first invalidation."""
    original = zipimport.zipimporter.invalidate_caches
    stamps = weakref.WeakKeyDictionary()

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)  # before the read: a later change re-reads
        except OSError:
            stamps.pop(self, None)
            return original(self)
        stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        if stamps.get(self) != stamp:
            original(self)
            stamps[self] = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()


_stat_keyed_zip_directories()

from .extractors import ExtractResult, extract_payload_text  # noqa: E402,F401
