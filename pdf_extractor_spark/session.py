"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what the same job needs on a real cluster:
AQE on (runtime skew-join splitting + partition coalescing), Arrow
transport for the pandas kernels, shuffle partitions sized to cores
rather than the 200 default. Core count and driver memory are measured
from the machine (`host_defaults`); `SPARK_GRAFT_CPUS` and
`SPARK_DRIVER_MEMORY` override them.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# share of physical memory given to the driver JVM when
# SPARK_DRIVER_MEMORY is unset (local mode: driver = executor)
DRIVER_MEMORY_FRACTION = 0.4


def host_defaults(master: str | None = None) -> tuple[str, int, str]:
    """(master, shuffle partitions, driver memory) for this machine:
    `local[<cores>]` from the cores this process may run on
    (`os.sched_getaffinity`, so `taskset` narrows it), shuffle
    partitions matching the master's parallelism (floor 8), and
    DRIVER_MEMORY_FRACTION of physical memory in MiB."""
    cores = len(os.sched_getaffinity(0))
    if master is None:
        master = f"local[{os.environ.get('SPARK_GRAFT_CPUS') or cores}]"
    n = master[master.find("[") + 1: master.find("]")] if "[" in master else "*"
    # match parallelism; on a real cluster this would be 2-3x total
    # executor cores and AQE coalesces down. This floors AQE-coalesced
    # shuffles only; the extraction job's url exchange has an explicit
    # count, sized in waves of cores by `ops/layout.exchange_width`.
    shuffle_partitions = max(8, cores if n == "*" else int(n))
    memory = os.environ.get("SPARK_DRIVER_MEMORY")
    if not memory:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        memory = f"{max(512, int(phys * DRIVER_MEMORY_FRACTION) >> 20)}m"
    return master, shuffle_partitions, memory


def get_spark(
    app_name: str = "pdf_extractor_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master, default_partitions, driver_memory = host_defaults(master)
    if shuffle_partitions is None:
        shuffle_partitions = default_partitions

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # local corpora shuffle only tens of MB: with the 64 MiB default
        # advisory size AQE coalesces post-shuffle stages to 1-2 tasks
        # and the pipeline stops scaling past a few cores. Keep
        # parallelism-first with a small floor; at 100 TB the shuffles
        # are GBs per partition and these floors are no-ops.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        # Scan-split sizing. At the 100 TB target with ~128 MiB row
        # groups the default 128 MiB split is right; at local test SF the
        # corpus is a few MB of tiny files and the default bins the whole
        # scan into a handful of partitions, capping parallelism below
        # the core count — so size splits small here. (Measured: Engine-1
        # throughput stopped scaling past ~8 cores until this change.)
        .config("spark.sql.files.maxPartitionBytes", "8388608")
        .config("spark.sql.files.openCostInBytes", "262144")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
