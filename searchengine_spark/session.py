"""SparkSession factory.

The reference sizes its ForkJoinPool to ``availableProcessors`` and runs one
thread per site (IndexingServiceImpl.java:311-313, :207-211); here parallelism
is the Spark task scheduler: ``local[N]`` threads locally, executors on a
cluster.  All engine jobs go through this factory so that Arrow, AQE and
shuffle-partition sizing are consistent between tests, bench and spark-submit.
:class:`MergeDicts` is the accumulator that statistics use to ride jobs that
already run (ingest's partition counts, the build's per-segment stats).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def driver_memory(phys_bytes: int | None = None) -> str:
    """``spark.driver.memory`` for :func:`get_spark`: ``SPARK_DRIVER_MEM``
    when set, else half the host's physical memory (``phys_bytes``),
    capped at 16g, floor 512m.  In ``local[N]`` mode the driver heap is the
    whole engine's heap, and a heap sized past the host's memory lets the
    JVM grow until the kernel kills it."""
    env = os.environ.get("SPARK_DRIVER_MEM")
    if env:
        return env
    if phys_bytes is None:
        phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    mib = phys_bytes // (2 * 1024 * 1024)
    return f"{max(512, min(16 * 1024, mib))}m"


def get_spark(
    app_name: str = "searchengine_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    cores=None -> ``local[*]``.  shuffle_partitions defaults to the core
    count: at 100 TB on a real cluster this is instead sized so each shuffle
    partition is ~128-256 MB (AQE coalescing trims the rest).
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        cores = int(env) if env else (os.cpu_count() or 4)
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 4)

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # read naive parquet timestamps as TIMESTAMP_NTZ (no tz shifting) —
        # matches DuckDB's naive reading of the same files
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


class MergeDicts(object):
    """AccumulatorParam over nested dicts, merged key by key: numbers add
    (keys named in ``xor`` combine with ``^`` instead), lists concatenate,
    dicts merge recursively.  Executors fill one such dict per task and
    the driver merges them; read the value after a RESULT stage, where
    Spark applies each partition's update exactly once.  Counts and XORs
    are independent of task order; list order is not."""

    def __init__(self, xor: tuple[str, ...] = ()):
        self.xor = frozenset(xor)

    def zero(self, value):
        return {}

    def addInPlace(self, a, b):
        for k, v in b.items():
            if isinstance(v, dict):
                self.addInPlace(a.setdefault(k, {}), v)
            elif isinstance(v, list):
                a.setdefault(k, []).extend(v)
            elif k not in a:
                a[k] = v
            elif k in self.xor:
                a[k] ^= v
            else:
                a[k] += v
        return a
