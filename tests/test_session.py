"""Session defaults: the driver heap fits the host, and the codegen cache
holds every class one pipeline build generates."""

from __future__ import annotations

from pyspark.sql import functions as F

from geo_linked_open_data_kg_spark.session import default_driver_memory


def test_driver_memory_default_is_half_the_usable_memory(tmp_path):
    meminfo = tmp_path / "meminfo"
    cgroup = tmp_path / "memory.max"
    missing = str(tmp_path / "no-such-limit")

    def heap(total_kb: int, limit: str) -> str:
        meminfo.write_text(f"MemFree:  1024 kB\nMemTotal: {total_kb} kB\n")
        cgroup.write_text(f"{limit}\n")
        return default_driver_memory(str(meminfo), (missing, str(cgroup)))

    # a 15.7 GB host with no cgroup limit: half of MemTotal
    assert heap(16456384, "max") == "8035m"
    # a 4 GiB cgroup limit below MemTotal wins
    assert heap(16456384, str(4 * 2**30)) == "2048m"
    # a large host is capped at the old 16g
    assert heap(256 * 2**20, "max") == "16384m"


def test_codegen_cache_holds_150_distinct_plans(spark):
    """A build generates 430-480 distinct classes. Run 150 distinct
    projections twice: with the cache holding them all, the second pass
    compiles nothing (Spark's default 100-entry cache recompiles every
    one of them)."""
    compiles = (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
                .METRIC_COMPILATION_TIME())
    base = spark.range(3, numPartitions=1)

    def run_all() -> None:
        for i in range(150):
            rows = base.select((F.col("id") * (i + 2) + i).alias("y")).collect()
            assert [r["y"] for r in rows] == [x * (i + 2) + i for x in range(3)]

    run_all()
    first = compiles.getCount()
    run_all()
    assert compiles.getCount() == first
