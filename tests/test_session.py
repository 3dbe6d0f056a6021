"""``session.local_resources``: get_spark's local core count and driver
heap, checked without starting a session; the Unix-domain-socket
transport, the Python workers and the JIT level of a ``get_spark``
session, checked on the suite's shared session; and the socket
directory's path and lifetime, checked in subprocesses that start no
JVM."""

from __future__ import annotations

import os
import stat
import subprocess
import sys
import uuid

from parallel_svms_spark.session import (PACKAGE_ROOT, local_resources,
                                         socket_dir)

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


def _sock_path_len(directory: str) -> int:
    """Bytes in the longest path Spark binds in ``directory``: a
    ``.<uuid4>.sock`` file (pyspark.daemon, SparkContext)."""
    return len(os.path.join(directory, f".{uuid.uuid4()}.sock").encode())


def test_shared_session_talks_over_private_unix_sockets(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.unix.domain.socket.enabled") == "true"
    d = conf.get("spark.python.unix.domain.socket.dir")
    assert d == socket_dir()
    mode = os.stat(d).st_mode
    assert stat.S_ISDIR(mode) and stat.S_IMODE(mode) == 0o700
    assert _sock_path_len(d) <= 107  # AF_UNIX: 108 bytes with the NUL
    # the accumulator server binds its socket there when the context starts
    assert any(f.endswith(".sock") for f in os.listdir(d))


def test_shared_session_jit_stops_at_c1(spark):
    """get_spark's driver JVM runs with C1 only, so a query's generated
    classes are compiled during its first run, not at a later run that
    depends on the C2 queue."""
    jvm = spark._jvm
    assert "-XX:TieredStopAtLevel=1" in spark.sparkContext.getConf().get(
        "spark.driver.defaultJavaOptions")
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName(
            "com.sun.management.HotSpotDiagnosticMXBean"))
    assert bean.getVMOption("TieredStopAtLevel").getValue() == "1"


def _run_python(code: str, **env) -> str:
    """Run ``code`` in a fresh interpreter (no session, no JVM) with
    the package importable; its stdout."""
    return subprocess.run(
        [sys.executable, "-c", code], check=True, capture_output=True,
        text=True, cwd=PACKAGE_ROOT, env={**os.environ, **env},
    ).stdout.strip()


def test_socket_dir_is_short_under_a_long_tmpdir(tmp_path):
    tmpdir = tmp_path / ("t" * max(1, 100 - len(str(tmp_path)) - 1))
    tmpdir.mkdir()
    assert len(str(tmpdir)) >= 100
    d = _run_python(
        "import tempfile\n"
        "from parallel_svms_spark.session import socket_dir\n"
        "assert len(tempfile.gettempdir()) >= 100\n"
        "print(socket_dir())", TMPDIR=str(tmpdir))
    assert _sock_path_len(d) <= 107


def test_socket_dir_is_removed_at_exit():
    d = _run_python(
        "import os\n"
        "from parallel_svms_spark.session import socket_dir\n"
        "d = socket_dir()\n"
        "open(os.path.join(d, 'left.sock'), 'w').close()\n"
        "print(d)")
    assert d.startswith("/tmp/")
    assert not os.path.exists(d)


def test_workers_start_from_a_frozen_heap(spark):
    """get_spark's daemon imports pandas and pyarrow, then freezes its
    heap, so a worker's post-task ``gc.collect()`` skips all of it."""
    def probe(batches):  # a closure, so it ships to the worker by value
        import gc

        import pandas as pd

        for _ in batches:
            pass
        yield pd.DataFrame({"frozen": [gc.get_freeze_count()]})

    row = (spark.range(1, numPartitions=1)
           .mapInPandas(probe, "frozen long").first())
    assert row.frozen > 10_000
