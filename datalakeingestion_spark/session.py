"""SparkSession factory.

Single-JVM local mode for tests/bench, but every default is chosen to be
cluster-safe: AQE on (runtime coalesce + skew-join handling), UTC session
timezone (oracle comparability), Arrow enabled for the pandas-UDF paths,
shuffle partitions sized to cores rather than the 200 default, and the
parallel partition-discovery job sized to cores too: past 32 directories
Spark lists a lake in a Spark job with one task per directory (10,000 at
most), so an 80-partition lake would pay 80 tiny tasks per read. ``cpus``
tasks keep the listing parallel for object stores without that fan-out.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "datalakeingestion-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` then ``os.cpu_count()``.
    ``shuffle_partitions`` defaults to ``cpus`` — on a real cluster you
    would size this to total executor cores (or rely on AQE coalescing,
    which is enabled here and does the right thing at any scale). The
    partition-discovery listing job follows the same rule: ``cpus`` tasks.
    """
    if cpus is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS") or (os.cpu_count() or 4)
    cpus = int(cpus)
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    from .ingest.delta_sink import DELTA_SESSION_CONFS, delta_available

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.sources.parallelPartitionDiscovery.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if delta_available():
        # production ACID sink (ingest/delta_sink.py): enable the Delta
        # SQL extension + catalog when the package ships; a no-op here
        for k, v in DELTA_SESSION_CONFS.items():
            builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
