"""SparkSession factory tuned for the engine, and the one place that
sizes a session from the host it runs on.

Local testing uses ``local[N]`` with a single JVM; the same settings are
what we would ship to a 1000-executor cluster via spark-submit:

- AQE on (runtime re-plan + skew-join splitting — our answer to the
  reference's build-time tile subdivision, SURVEY.md §4.3.5),
- Arrow enabled for every pandas-UDF boundary,
- ``N`` = :func:`host_cores` unless the caller passes ``cores=``;
  shuffle partitions = ``max(N, 8)``; on a real cluster this is set to
  2-3× total cores or left to AQE coalescing,
- scan partitions sized per input by :func:`size_scan_partitions`.

Environment: ``SPARK_GRAFT_CPUS`` overrides the core count,
``SPARK_GRAFT_DRIVER_MEM`` the driver heap (default 8g).
"""

from __future__ import annotations

import os

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession


def host_cores() -> int:
    """``SPARK_GRAFT_CPUS`` when set, else the CPUs this process may run on."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def get_spark(
    app_name: str = "geodesk-spark",
    cores: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cores is None:
        cores = host_cores()
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cores, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def scan_partition_bytes(total: int, cores: int) -> int:
    """Scan-partition size for ``total`` input bytes: ~10 tasks per core,
    clamped to 16–128 MiB.

    Measured (BENCH.md r03, 128 M rows): the default 128 MB packed the
    input into 43 scan partitions — 1.34 waves at 32 cores, so up to 25%
    of cores idled in the tail of the ONE long codegen stage, and coarse
    tasks amplified the city-hot-cell per-row skew.  16–24 MB (≈8–12
    tasks/core) cut local[32] wall 11.4 → 7.0 s in the same window; the
    lo side prefers coarser tasks (64 MB at 8 cores), hence the per-core
    rule rather than a fixed size.  At 100 TB this is the same standard
    sizing rule — tasks ≈ a small multiple of total cores."""
    return min(max(total // (10 * cores), 16 << 20), 128 << 20)


def size_scan_partitions(spark: SparkSession, path: str) -> None:
    """Set ``spark.sql.files.maxPartitionBytes`` for reading ``path``
    (a file or directory on any Hadoop filesystem) across
    ``defaultParallelism`` cores.  Keeps the current setting when the
    filesystem cannot report the path's size."""
    sc = spark.sparkContext
    try:
        p = sc._jvm.org.apache.hadoop.fs.Path(path)
        fs = p.getFileSystem(sc._jsc.hadoopConfiguration())
        total = fs.getContentSummary(p).getLength()
    except Py4JJavaError:
        return
    mpb = scan_partition_bytes(total, sc.defaultParallelism)
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(mpb))
