"""get_spark's host-derived defaults, checked without starting a JVM."""

from __future__ import annotations

from sparkcheck.session import resource_defaults


def test_resource_defaults_follow_host_unless_overridden():
    gib = 1024 ** 3
    assert resource_defaults({}, cpus=4, mem_bytes=15 * gib) == ("4", "3840m")
    assert resource_defaults({}, cpus=1, mem_bytes=2 * gib) == ("1", "1024m")
    env = {"SPARK_GRAFT_CPUS": "8", "SPARKCHECK_DRIVER_MEM": "6g"}
    assert resource_defaults(env, cpus=4, mem_bytes=15 * gib) == ("8", "6g")
    cpus, heap = resource_defaults({})
    assert int(cpus) >= 1 and heap.endswith("m")
