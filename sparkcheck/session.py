"""SparkSession factory tuned for the validation workload.

Local-mode defaults mirror what a 1000-executor cluster job would set:
AQE on (runtime re-plan + skew-join mitigation), shuffle partitions sized
to the parallelism, Arrow enabled for the pandas-UDF slow path, UTC
session timezone so results compare bit-for-bit against external oracles.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from typing import Iterator, Mapping

from pyspark.sql import SparkSession


def host_cpus() -> int:
    """Cores this process may run on (its affinity mask), not the
    machine's total."""
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


def resource_defaults(
    env: Mapping[str, str] | None = None,
    cpus: int | None = None,
    mem_bytes: int | None = None,
) -> tuple[str, str]:
    """(local-mode cores, driver heap) for ``get_spark``.

    ``SPARK_GRAFT_CPUS`` / ``SPARKCHECK_DRIVER_MEM`` win when set;
    otherwise the cores are the process's affinity mask and the heap is a
    quarter of physical memory (MemTotal; at least 1 GiB), so a default
    session never plans more threads or heap than the host has.
    ``cpus`` / ``mem_bytes`` stand in for the host probes (tests)."""
    env = os.environ if env is None else env
    if mem_bytes is None:
        mem_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    n = env.get("SPARK_GRAFT_CPUS") or str(cpus or host_cpus())
    heap = env.get("SPARKCHECK_DRIVER_MEM") or f"{max(1024, mem_bytes >> 22)}m"
    return n, heap


def get_spark(
    app_name: str = "sparkcheck",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with validation-friendly defaults."""
    cpus, heap = resource_defaults()
    master = master or f"local[{cpus}]"
    # In local[N] the "cluster" is N threads; shuffle partitions ≈ cores.
    # On a real cluster this should be ~2-3× total executor cores.
    nslots = int(cpus) if cpus.isdigit() else host_cpus()
    shuffle_partitions = shuffle_partitions or max(nslots, 8)

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Pin ANSI semantics (default-on in Spark 4, off in 3.5) so
        # NULL-propagation of size()/split() etc. is version-independent.
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", heap)
        .config("spark.ui.enabled", "false")
        # FAIR scheduling so concurrently-submitted rule/test jobs share
        # executors instead of queueing behind one long scan (the engine
        # and test runner submit independent jobs from driver threads).
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # Floor on scan parallelism (guide §6): when an input is smaller
        # than cores × maxPartitionBytes, Spark would otherwise plan a
        # handful of splits and leave the cluster idle — minPartitionNum
        # shrinks the split size until every slot has work. Scale-adaptive
        # by construction: at 100 TB the bytes/minPartitionNum quotient
        # exceeds maxPartitionBytes and the 128m ceiling governs, so this
        # only affects inputs small relative to the cluster.
        .config("spark.sql.files.minPartitionNum", str(2 * nslots))
        # Let the planner pick shuffled-hash over sort-merge when the
        # per-partition build side fits (guide §3.1) — skips both sorts.
        .config("spark.sql.join.preferSortMergeJoin", "false")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def job_description(spark: SparkSession, text: str) -> Iterator[None]:
    """Name the Spark jobs this thread submits inside the block (what the
    event log and UI show), restoring the previous description on exit.
    Leaves the job group alone: callers may own it for cancellation or
    job accounting."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(text)
    try:
        yield
    finally:
        sc.setJobDescription(prev)  # type: ignore[arg-type]
