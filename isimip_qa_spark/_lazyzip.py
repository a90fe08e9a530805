"""Lazy zip-archive invalidation on Python < 3.13 (the 3.13 behaviour).

pyspark's worker calls `importlib.invalidate_caches()` at the start of
every Python task (`setup_spark_files`, pyspark/worker_util.py). Before
3.13 every `zipimport.zipimporter` answers that by re-reading its whole
archive listing, and a worker holds one importer per package path of
pyspark.zip: 109-205 ms of CPU per task, measured inside a worker on
Python 3.11 (4-core x86-64 host). 3.13 instead drops the listing and
re-reads it the first time an import needs it; `install` backports that.
Imports resolve exactly as before: a stale listing is re-read before any
lookup uses it.

The stale listing stays in `zipimport._zip_directory_cache` (only marked),
because 3.11's `pkgutil.iter_zipimport_modules` reads that dict directly;
pkgutil therefore sees the listing as of its last read.
"""

from __future__ import annotations

import logging
import sys
import zipimport

log = logging.getLogger(__name__)

_stale: set[str] = set()  # archives invalidated since their last read


def _files(self) -> dict:
    """The archive listing, read again if it was invalidated (3.13's
    `zipimporter._get_files`). Shared by every importer of the archive."""
    cache = zipimport._zip_directory_cache
    archive = self.archive
    if archive in _stale or archive not in cache:
        # discard before reading: an invalidate racing the read stays marked
        _stale.discard(archive)
        try:
            cache[archive] = zipimport._read_directory(archive)
        except zipimport.ZipImportError:
            cache.pop(archive, None)
            return {}
    return cache[archive]


def _invalidate_caches(self) -> None:
    """Mark the archive's listing stale; the next lookup re-reads it."""
    _stale.add(self.archive)


def install() -> bool:
    """Make `zipimporter.invalidate_caches` lazy. Idempotent, and a no-op
    on Python >= 3.13. Returns whether this call installed it.

    `_files` becomes a property reading the shared cache, so importers
    created before the call (pyspark's own) are covered too; the setter
    drops `zipimporter.__init__`'s assignment, which stored the same dict.
    """
    zi = zipimport.zipimporter
    # installed already, possibly by an earlier copy of this module
    if sys.version_info >= (3, 13) or isinstance(vars(zi).get("_files"), property):
        return False
    zi._files = property(_files, lambda self, files: None)
    zi.invalidate_caches = _invalidate_caches
    log.debug("zipimporter.invalidate_caches made lazy (Python %s)",
              sys.version.split()[0])
    return True
