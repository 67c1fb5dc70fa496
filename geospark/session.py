"""SparkSession construction with scale-oriented defaults.

Tuned for the engine's workload profile: wide scans of parquet/Iceberg
page tables, cell-keyed shuffles with city-skew, Arrow-batched pandas
UDF stages. All settings are plain public Spark configs.

Two defaults make a plan's fixed driver cost a one-off per plan shape
instead of a charge on every call: a generated-code cache that holds
the engine's working set, so a repeated plan recompiles nothing, and
no per-Column call-site capture (see ``_DEFAULTS``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults for one host (local[N]); cores and driver heap are derived
# from the machine in get_spark. On a real cluster the same configs
# apply per-executor and AQE coalescing keeps shuffle partition counts
# proportional to data volume.
_DEFAULTS = {
    # AQE: runtime re-planning, skew-join splitting (backstop for hot
    # city cells; explicit salting in plans/skew.py is the primary).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every JVM<->Python crossing (pandas UDFs, toPandas).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Shuffle sizing: overridden per-run by bench; 2x cores is a sane
    # local default, real clusters rely on AQE target size instead.
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
    # Broadcast threshold: polygon layers / query-point sets are small.
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # Timestamps without timezone surprises.
    "spark.sql.session.timeZone": "UTC",
    # Generated-class cache (static: read when the context starts).
    # Distinct classes per iteration of the benchmark workloads: ~156
    # for the spatial joins (kNN 49, SemDeDup 27, PIP table 25, salted
    # join 23, box overlap 18, ...), ~73 for the flagship path. At
    # Spark's default of 100 the LRU missed on every spatial-join call
    # and Janino recompiled the same classes; 1000 is ~6x the largest.
    "spark.sql.codegen.cache.maxEntries": "1000",
    # PySpark's call-site capture wraps every Column method in ~5 py4j
    # round trips (one scans the classpath) to record a line inside
    # geospark/, not the caller's: a kNN bound build made ~3,800 py4j
    # calls with it and ~1,750 without.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def host() -> tuple[int, int]:
    """(cores, physical memory in bytes) of this host. Cores come from
    $SPARK_GRAFT_CPUS when set, else from this process's CPU affinity."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    return (int(cpus) if cpus else len(os.sched_getaffinity(0)),
            os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES"))


def get_spark(
    app_name: str = "geospark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine defaults.

    ``master`` defaults to ``local[<cores>]`` (see ``host``) and the
    driver heap to half of physical memory, at most 8g; under
    spark-submit the launcher's master is kept.

    ``spark.sql.codegen.cache.maxEntries`` (like the master and heap)
    is static: it applies only when this call creates the context, and
    a reused session keeps the value it started with.
    """
    from pyspark import SparkConf

    builder = SparkSession.builder.appName(app_name)
    # spark-submit --master sets spark.master in the JVM system props;
    # forcing local[N] here would silently run a cluster launch
    # single-node on the driver, so only default the master when the
    # launcher didn't choose one
    submitted = SparkConf().get("spark.master", None)
    cores, mem = host()
    if master is None and submitted:
        master = submitted
    else:
        if master is None:
            master = f"local[{cores}]"
        builder = builder.master(master)
    conf = dict(_DEFAULTS)
    conf["spark.driver.memory"] = f"{min(8192, mem // 2 // 2**20)}m"
    if shuffle_partitions is None and "[" in master:
        # match parallelism: local[N] (or local[N,maxFailures]) -> N
        n = master.split("[")[-1].rstrip("]").split(",")[0]
        shuffle_partitions = cores if n == "*" else int(n)
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
        conf["spark.default.parallelism"] = str(shuffle_partitions)
    # else: cluster master with no explicit override — leave the
    # launcher/AQE-configured parallelism alone
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
