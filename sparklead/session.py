"""SparkSession factory with scale-oriented defaults.

AQE (runtime re-planning + skew-join splitting) and Arrow (vectorized
pandas-UDF lane) are always on; shuffle partitions default to the local core
count but should be sized to the cluster at real scale.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    # Runtime re-planning: coalesce small shuffle partitions, split skewed ones.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow lane for pandas UDFs / toPandas (BASELINE.json input_hint: no per-row Python).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Keep timestamps deterministic across JVM/driver timezones.
    "spark.sql.session.timeZone": "UTC",
    # Broadcast small dims aggressively (label/source lookups are tiny).
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.driver.memory": "8g",
    # Delete a deep loop's lineage checkpoints (plan_utils.truncate_lineage)
    # once no frame references them, not at session end.
    "spark.cleaner.referenceTracking.cleanCheckpoints": "true",
    # Throughput GC: G1's concurrent phases collapse 32-thread local-mode
    # runs on this host (measured 2.7x slower than ParallelGC on the
    # HOF-heavy token pipeline); ParallelGC restores linear thread scaling.
    "spark.driver.extraJavaOptions": "-XX:+UseParallelGC",
}


def get_spark(
    app_name: str = "sparklead",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession with sparklead defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env) or ``local[*]``.
    On a real cluster, pass ``master=None`` with a cluster-configured
    spark-submit; the conf defaults still apply.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else (os.cpu_count() or 8)

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
