"""``session.local_resources``: get_spark's local core count and driver
heap, checked without starting a session; and the Python workers of a
``get_spark`` session, checked on the suite's shared session."""

from __future__ import annotations

import os

from parallel_svms_spark.session import PACKAGE_ROOT, local_resources

GIB = 2**30


def test_defaults_follow_the_host():
    assert local_resources({}, 4, 15 * GIB) == (4, "7g")
    assert local_resources({}, 64, 512 * GIB) == (64, "256g")


def test_small_host_still_gets_a_heap():
    assert local_resources({}, 1, GIB) == (1, "1g")


def test_environment_overrides_both():
    env = {"SPARK_GRAFT_CPUS": "8", "SPARK_GRAFT_DRIVER_MEM": "1g"}
    assert local_resources(env, 4, 15 * GIB) == (8, "1g")
    # an empty value counts as unset
    assert local_resources({"SPARK_GRAFT_CPUS": ""}, 2, 4 * GIB) == (2, "2g")


def test_workers_keep_their_zip_indexes(spark):
    """get_spark's workers fork from ``_worker_daemon``: no plain
    ``zipimporter`` stays cached, and Spark's per-task
    ``invalidate_caches()`` does not re-read any archive."""
    def probe(batches):  # a closure, so it ships to the worker by value
        import importlib
        import sys
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        cache = sys.path_importer_cache
        zips = {p: f for p, f in cache.items()
                if isinstance(f, zipimport.zipimporter)}
        before = {p: f._files for p, f in zips.items()}
        importlib.invalidate_caches()
        yield pd.DataFrame({
            "n_zip": [len(zips)],
            "n_plain": [sum(type(f) is zipimport.zipimporter
                            for f in cache.values())],
            "kept": [all(f._files is before[p] for p, f in zips.items())],
        })

    row = (spark.range(1, numPartitions=1)
           .mapInPandas(probe, "n_zip long, n_plain long, kept boolean")
           .first())
    assert row.n_zip > 0  # pyspark.zip and the Spark jar are on the path
    assert row.n_plain == 0
    assert row.kept


def test_workers_have_the_package_root_on_their_path(spark):
    pythonpath = spark.conf.get("spark.executorEnv.PYTHONPATH")
    assert PACKAGE_ROOT in pythonpath.split(os.pathsep)
