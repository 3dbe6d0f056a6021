"""``session.local_resources``: get_spark's local core count and driver
heap, checked without starting a session."""

from __future__ import annotations

from parallel_svms_spark.session import local_resources

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
