"""Python worker daemon: PySpark's own daemon with a zip-directory guard.

`get_spark` makes this module the session's `spark.python.daemon.module`,
so the executor starts it as `python -m nutch_spark.pydaemon` and forks
every Python worker from it.

Every Python task starts in `pyspark.worker_util.setup_spark_files`, which
calls `importlib.invalidate_caches()`. Up to CPython 3.12 a `zipimporter`
answers that by re-reading its archive's central directory, and there is
one importer per imported subpackage of a zipped path entry. Workers
started from a Spark distribution import pyspark from
`python/lib/pyspark.zip` (3.5 MB), so under PySpark's own daemon each task
re-reads that directory tens of times: 0.17-0.45 s per task, more than the
Python work of most crawl stages (PLANS §7.12).

The guard keeps `invalidate_caches` exact: an importer re-reads its archive
only when the archive's `(st_mtime_ns, st_size)` differs from the stamp of
the directory it holds. Importers of one archive share the directory read
at the current stamp. The daemon installs the guard and stamps the
importers it has before it forks, so every worker inherits both. Nothing
is pre-imported here: workers import what their tasks need, as before.
"""

from __future__ import annotations

import os
import sys
import zipimport

_unguarded = zipimport.zipimporter.invalidate_caches
# archive path -> (stamp, directory dict) of the last guarded read; one per
# process, like zipimport's own `_zip_directory_cache` it stands beside
_read = {}


def _stamp(path):
    st = os.stat(path)
    return st.st_mtime_ns, st.st_size


def _invalidate_caches(self):
    try:
        stamp = _stamp(self.archive)
    except OSError:  # archive gone: let zipimport drop it
        _unguarded(self)
        return
    seen = _read.get(self.archive)
    if seen is None or seen[0] != stamp:
        # stamp taken before the read: a write racing the read leaves a
        # stale stamp, and the next call reads again
        _unguarded(self)
        _read[self.archive] = (stamp, self._files)
    elif self._files is not seen[1]:
        self._files = seen[1]
        zipimport._zip_directory_cache[self.archive] = seen[1]


def install():
    """Guard `zipimporter.invalidate_caches` in this process and stamp the
    zip importers already on `sys.path_importer_cache`."""
    if zipimport.zipimporter.invalidate_caches is _invalidate_caches:
        return
    if hasattr(zipimport.zipimporter, "_get_files"):
        # CPython >= 3.13 reads a zip's directory lazily and only drops
        # its cache on invalidate_caches(): nothing to guard
        return
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()


def installed():
    return zipimport.zipimporter.invalidate_caches is _invalidate_caches


if __name__ == "__main__":
    # guard from the importable module, not this __main__ copy, so
    # `installed()` answers the same in the workers' own imports
    from nutch_spark.pydaemon import install as _install

    _install()
    from pyspark import daemon

    daemon.manager()
