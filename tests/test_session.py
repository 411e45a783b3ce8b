"""The host-sizing rule in geodesk_spark.session: core count, shuffle
partitions and scan-partition size all come from one place."""

import os

import pytest

from geodesk_spark import session

MIB = 1 << 20
MPB = "spark.sql.files.maxPartitionBytes"


def test_host_cores_env_overrides_affinity(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session.host_cores() == 3
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert session.host_cores() == len(os.sched_getaffinity(0))


@pytest.mark.parametrize(
    "total, cores, want",
    [
        (0, 4, 16 * MIB),  # floor
        (10 * 4 * 16 * MIB - 1, 4, 16 * MIB),  # just under the floor
        (10 * 4 * 50 * MIB, 4, 50 * MIB),  # total // (10 * cores)
        (10 * 3 * 50 * MIB + 29, 3, 50 * MIB),  # integer division
        (10 * 4 * 128 * MIB, 4, 128 * MIB),  # exactly the cap
        (10**13, 32, 128 * MIB),  # cap
    ],
)
def test_scan_partition_bytes_clamps(total, cores, want):
    assert session.scan_partition_bytes(total, cores) == want


def test_fixture_session_is_host_sized(spark):
    n = session.host_cores()
    assert spark.sparkContext.defaultParallelism == n
    assert spark.conf.get("spark.sql.shuffle.partitions") == str(max(n, 8))


def test_size_scan_partitions_lists_the_path(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(1000).write.parquet(path)
    before = spark.conf.get(MPB)
    try:
        session.size_scan_partitions(spark, path)
        assert spark.conf.get(MPB) == str(16 * MIB)  # tiny input: the floor
        spark.conf.set(MPB, before)
        session.size_scan_partitions(spark, "nosuchscheme://host/t.parquet")
        assert spark.conf.get(MPB) == before  # unlistable: default kept
    finally:
        spark.conf.set(MPB, before)
