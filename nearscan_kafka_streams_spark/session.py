"""SparkSession factory tuned for this engine.

Local testing runs ``local[N]`` single-JVM; the configuration is chosen
so the same logical plans scale to a multi-executor cluster: AQE for
runtime re-planning (skew joins, coalesced shuffle partitions),
broadcast joins enabled for small dimensions, Arrow for the few
Pandas-UDF paths.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _driver_mem() -> str:
    """min(16g, half of physical memory), in MB."""
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
    return f"{min(16 * 1024, half_mb)}m"


def get_spark(
    app_name: str = "nearscan-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cores = os.cpu_count() or 1
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(cores))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else cores

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime shuffle-partition coalescing + skew-join splitting;
        # essential at 100 TB where static partition counts are wrong
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow transfer for pandas UDF / toPandas paths
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # broadcast threshold: dimensions (region/nation/...) stay broadcast
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # timestamps in testdata are naive; pin session TZ for determinism
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet carries TIMESTAMP(NANOS) which Spark rejects by
        # default; read as long ns and convert explicitly (queries._t)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # testdata timestamps are tz-less timestamp[us]; Spark 4 would
        # infer TIMESTAMP_NTZ, which half the timestamp functions
        # (unix_micros, to_utc_timestamp, ...) reject -- read them as
        # plain TIMESTAMP under the pinned UTC session zone instead
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # compiled-class cache (static conf): the default 100 entries is
        # below one warm working set -- one corpus_dedup rep (a Jaccard
        # and a containment self-join) needs ~115 generated classes, one
        # wire_tail step ~105 -- so each call evicted the other's classes
        # and Janino recompiled them on every call
        .config("spark.sql.codegen.cache.maxEntries", "1024")
        # RocksDB state store for queries whose state has no bound (the
        # corpus dedup stream, sessionization): it keeps large state
        # off-heap and checkpoints incrementally.  The token topology's
        # state is watermark-bounded and small; its query sets the
        # HDFS-backed provider instead (streaming/pipeline.py::_run_query),
        # which commits one file per store instance per batch
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        # local[N] puts executor work in the driver JVM.  The heap is
        # capped at half of physical memory: the JVM's off-heap use
        # (codegen, Arrow buffers, RocksDB) comes on top, and a heap
        # sized past the machine lets it grow until the kernel kills it
        # (a 48g heap did so on a 16 GB box in bench.py's 10x stress
        # pass).  SPARK_DRIVER_MEM overrides
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM", _driver_mem()),
        )
        .config("spark.ui.enabled", "false")
    )
    # scale/deployment-dependent settings stay parameterised (the
    # optimization-guide rule: local defaults keep the bench
    # comparable; a cluster run overrides via environment without a
    # code change).  Format: "key=value;key=value".
    env_conf = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    for item in filter(None, (s.strip() for s in env_conf.split(";"))):
        k, _, v = item.partition("=")
        builder = builder.config(k.strip(), v.strip())
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
