"""Spark's Python worker daemon, with zip importers that keep their index.

``session.get_spark`` names this module in ``spark.python.daemon.module``.
Before every task, ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``. On CPython 3.11 and 3.12 that makes
every cached ``zipimporter`` re-read its whole archive directory: the
Spark jar on the workers' path once per package prefix, and pyspark.zip
once per subpackage, 150-300 ms of CPU per task before its UDF starts.

Invariant: an archive on a worker's path does not change while the
worker lives. ``addPyFile`` of a new zip adds a new path, and the new
importer reads its index on creation; only the re-read of an archive
already indexed is skipped. The hooks are patched before the daemon
forks, so every worker inherits them, from its first task on.
"""

import sys
import zipimport


class KeepIndexZipImporter(zipimport.zipimporter):
    def invalidate_caches(self):
        pass


if __name__ == "__main__":
    sys.path_hooks[:] = [KeepIndexZipImporter if h is zipimport.zipimporter
                         else h for h in sys.path_hooks]
    for path, finder in list(sys.path_importer_cache.items()):
        if type(finder) is zipimport.zipimporter:
            del sys.path_importer_cache[path]
    from pyspark.daemon import manager
    manager()
