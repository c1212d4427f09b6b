"""get_spark's host-derived defaults (checked without starting a JVM) and
session settings."""

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


def test_codegen_cache_outlives_many_plans(spark):
    """A plan run again after 150 other compiled plans reuses its
    generated class: the cache is larger than Spark's default LRU of 100,
    which one validation round overflows."""
    from pyspark.sql import functions as F

    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    q = spark.range(10).select((F.col("id") * 7919).alias("x")).where("x % 3 = 1")
    q.collect()
    for i in range(150):
        spark.range(3).select((F.col("id") + F.lit(1000 + i)).alias("y")).collect()
    before = compiles.getCount()
    q.collect()
    assert compiles.getCount() == before
