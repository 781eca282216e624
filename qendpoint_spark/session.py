"""SparkSession factory tuned for the graft sandbox (local[N], one JVM).

At cluster scale the same settings apply except master/memory: AQE on
(runtime re-plan + skew-join splitting), shuffle partitions sized to
cores, Arrow enabled for the pandas-UDF extraction stages, UTC pinned so
DuckDB-oracle comparisons are stable.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Half of the host's MemTotal, capped at 48g: a larger heap lets
    the JVM grow until the kernel OOM-kills it on small hosts."""
    cap_mb = 48 * 1024
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return f"{cap_mb}m"
    return f"{min(cap_mb, kb // 2048)}m"


def get_spark(
    app_name: str = "qendpoint_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    cores defaults to $SPARK_GRAFT_CPUS or all local cores. Shuffle
    partitions default to the core count — at 100 TB on a real cluster
    this would be ~2-4x total executor cores instead; AQE coalesces
    excess partitions either way.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTS", max(cores * 2, 16))
        )
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        # deeply composed pipelines (decode∘encode∘build with nested
        # persisted fragments) make plan *pretty-printing* exponential:
        # the SQL listener renders every execution's plan string even
        # with the UI off (observed: a driver thread pinned for minutes
        # in TreeNode.generateTreeString). Cap the rendered length —
        # execution is unaffected.
        .config("spark.sql.maxPlanStringLength", "8192")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # zstd stage writes: measured +12% e2e over snappy on the bench
        # (interleaved A/B, BENCH/BASELINE.md §codec-ab) — the pipeline
        # is write-bandwidth-bound on sorted-table materializations, and
        # zstd's ~2x byte cut beats its CPU cost; at 100 TB the at-rest
        # savings compound into every downstream scan
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
