"""Executor Python worker entry for sessions built by `get_spark`.

PySpark's worker calls `importlib.invalidate_caches()` at the start of
every task (`pyspark/worker_util.py::setup_spark_files`). On CPython
3.11 that makes every cached `zipimporter` re-read its archive's whole
central directory: a dozen importers over `pyspark.zip` (1.3k entries)
and two over the spark-core jar (5.4k entries) that Spark puts on the
worker's `sys.path`. That is ~0.2 CPU-s per task, whatever the task's
size.

Importing this module makes `zipimporter.invalidate_caches` re-read an
archive only when its `(st_mtime_ns, st_size)` differs from the stat
taken before its last read; otherwise the importer gets the directory
already read. A zip shipped later with `SparkContext.addPyFile` is a
new `sys.path` entry, so it gets a new importer and is read as usual.

`pyspark/daemon.py` imports a custom worker module only if its name
starts with "pyspark", hence the top-level name; the session names it
in `spark.python.worker.module` (rdf_diff_store_spark/session.py).
Run as `python -m pyspark_graft_worker` (`spark.python.use.daemon=false`)
it hands off to `pyspark.worker`'s own entry point.
"""

from __future__ import annotations

import os
import runpy
import zipimport

from pyspark.worker import main  # noqa: F401  (the daemon calls module.main)

_reread = zipimport.zipimporter.invalidate_caches
# archive path -> (st_mtime_ns, st_size) taken just before its last read
_read_stats: dict[str, tuple[int, int]] = {}


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """Reload the archive's directory only if the archive changed."""
    try:
        st = os.stat(self.archive)
        stat = (st.st_mtime_ns, st.st_size)
    except OSError:
        stat = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if stat is not None and files is not None and _read_stats.get(self.archive) == stat:
        self._files = files
        return
    _reread(self)
    if stat is not None and self.archive in zipimport._zip_directory_cache:
        _read_stats[self.archive] = stat
    else:
        _read_stats.pop(self.archive, None)


zipimport.zipimporter.invalidate_caches = invalidate_caches

if __name__ == "__main__":
    runpy.run_module("pyspark.worker", run_name="__main__", alter_sys=True)
