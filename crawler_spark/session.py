"""SparkSession factory with scale-appropriate defaults.

Local mode is a stand-in for a multi-executor cluster: shuffle
partitions sized to cores, AQE on (runtime coalesce + skew splitting),
Arrow enabled for the few pandas UDFs (registrable domain, bloom
build/probe, category-tree walk). Everything else in the engine is
JVM-side Catalyst expressions.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.compression.codec": "snappy",
    "spark.ui.enabled": "false",
    # Python-worker pooling: a superstep runs several concurrent UDF
    # stages (bloom probe, sign builders); each
    # ArrowEvalPython node × task asks the factory for a worker. With
    # the default pool sizing (Spark 4.1) workers are not retained
    # between stages, so every stage pays a fork + pyspark-import storm
    # (~60 interpreter startups/stage, measured ~4 s/task of pure
    # "time to initialize Python workers" — 40% of crawl wall at 100k
    # pages). Retaining one pool slot per (node × core) removes it:
    # measured 137 s → 83 s on the 100k study corpus at local[16].
    "spark.python.factory.idleWorkerMaxPoolSize": "64",
    # pages.html is a fat binary column; keep input splits reasonable
    "spark.sql.files.maxPartitionBytes": "33554432",
}


def get_spark(
    app_name: str = "crawler-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) the session.

    ``cores``: explicit ``local[K]`` parallelism (bench scaling study);
    default honors $CRAWLER_SPARK_MASTER then ``local[*]``.
    """
    if cores is not None:
        master = f"local[{cores}]"
    else:
        master = os.environ.get("CRAWLER_SPARK_MASTER", "local[*]")
    if shuffle_partitions is None:
        if cores is not None:
            shuffle_partitions = max(8, cores)
        else:
            shuffle_partitions = max(8, min(64, os.cpu_count() or 8))
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config(
            "spark.driver.memory",
            os.environ.get("CRAWLER_SPARK_DRIVER_MEM", "16g"),
        )
    )
    for k, v in {**_DEFAULTS, **(extra or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
