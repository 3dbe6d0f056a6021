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

The daemon also imports pandas and pyarrow, which every Arrow-UDF
worker imports on its first task, and then calls ``gc.freeze()``, the
documented pattern for fork servers. ``pyspark.daemon`` runs a full
``gc.collect()`` in the worker after every task; over the ~73k objects
a worker inherits or imports that took 40-95 ms of CPU per task, and
over a frozen heap it scans only what was made since the fork. A
re-forked worker no longer re-imports pandas and pyarrow either.

Invariant: every object alive at the fork is module state that a
worker never needs collected. The collector skips frozen objects, so a
reference cycle dropped after the freeze but made before it would stay
for the worker's life; module state is never dropped. The cost is
~60 MB more resident size in the daemon itself (62 -> 126 MB in a probe
on 4 cores); its forked workers share those pages, and each worker's
proportional share of memory fell from 58 to 27 MB in the same probe.
"""

import gc
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
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    from pyspark.daemon import manager
    gc.freeze()
    manager()
