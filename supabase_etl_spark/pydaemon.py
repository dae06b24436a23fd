"""Python worker daemon: `pyspark.daemon` without the per-task archive re-read.

`session.get_spark` selects this module through `spark.python.daemon.module`.
Every Python task starts in `pyspark.worker_util.setup_spark_files`, which
calls `importlib.invalidate_caches()`. On interpreters whose
`zipimporter.invalidate_caches` re-reads the archive directory eagerly
(3.10 and 3.11), that re-reads `pyspark.zip` and the spark-core jar once per
cached importer: 16 reads, about 0.2-0.28 s, on every task. Here an archive
is re-read only when its `(st_mtime_ns, st_size)` changed since its last
read; otherwise the importer is re-pointed at the shared
`zipimport._zip_directory_cache` entry. A rewritten archive is still
re-read, so import semantics are unchanged. The cache is primed once in the
daemon, before it forks, so every worker inherits it.
"""

import importlib
import os
import zipimport

_stamps = {}  # archive path -> (st_mtime_ns, st_size) at its last read
_read_eagerly = zipimport.zipimporter.invalidate_caches


def _stamp(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self):
    stamp = _stamp(self.archive)  # taken before the read: a later rewrite re-reads
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _read_eagerly(self)
    _stamps[self.archive] = stamp


def install():
    """Wrap `zipimporter.invalidate_caches` where it re-reads eagerly.

    From 3.12 the method only drops the cache entry and the next lookup
    reads it (`zipimporter._get_files`); nothing is wrapped there.
    """
    if hasattr(zipimport.zipimporter, "_get_files"):
        return
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    install()
    from pyspark import daemon

    importlib.invalidate_caches()  # prime before forking
    daemon.manager()
