"""SparkSession factory tuned for the engine.

Local-mode defaults fit the host: one task thread per core this process may
run on, and a driver heap of an eighth of physical memory (1-8 GiB). On a
real cluster every config here remains valid — shuffle partitions should be
raised to ~2-3x total cores and AQE re-coalesces at runtime; ship the
package with ``--py-files`` (scripts/run_submit.sh).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory holding the package: the Python workers put it on their
# path, so the Arrow UDFs import the engine wherever the driver started
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _default_heap() -> str:
    """An eighth of MemTotal, clamped to [1 GiB, 8 GiB]: in local mode the
    driver heap is the executor heap, and the rest of the host stays with
    the Python workers, the page cache and other tenants."""
    with open("/proc/meminfo") as f:
        total_mb = next(int(line.split()[1]) // 1024 for line in f if line.startswith("MemTotal:"))
    return f"{max(1024, min(8192, total_mb // 8))}m"


def get_spark(
    app_name: str = "bgp_feature_extractor_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = len(os.sched_getaffinity(0))
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', cpus)}]"
    cores = master[len("local[") : -1] if master.startswith("local[") else "32"
    n = cpus if cores == "*" else int(cores)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or max(n, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Joins (guide §3.1/§9): allow shuffled-hash when a build side fits —
        # the matrix tail joins co-partitioned (source, bin) aggregates,
        # where sort-merge pays two wide-row sorts for nothing (measured
        # agg_full 6.5s -> 4.3s at 1M rows). AQE's threshold bounds the
        # build side per partition, and skew-join splitting still applies;
        # both values hold on a cluster (they are per-partition, not
        # per-host, and AQE re-coalesces partitions to the advisory size).
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            os.environ.get("SPARK_GRAFT_SHJ_THRESHOLD", "256m"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_heap())
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
