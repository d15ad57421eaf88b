"""SparkSession factory tuned for the link-graph engine.

Design notes (scale-first):
- Arrow on: every Python-side kernel is an Arrow-batched pandas UDF
  (reference's vectorized-numpy mandate, SURVEY.md §2.10).
- AQE on for relational queries (skew-join splitting, partition
  coalescing). Iterative graph loops pin partition counts themselves so
  exchange reuse survives (see operators/pagerank.py).
- master and shuffle.partitions come from the caller or, left as None,
  from the submitted conf (spark-submit ``--master`` and ``--conf
  spark.sql.shuffle.partitions``; on a real cluster ~2-3x total
  executor cores), else Spark's own defaults.
- UTC session timezone so results compare bit-for-bit against the
  DuckDB oracle (naive-UTC timestamps).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "rad_ecg_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` and ``shuffle_partitions`` left as None are not set here:
    the master and partition count that spark-submit (or
    ``PYSPARK_SUBMIT_ARGS``) provides stay in force. These confs are
    safe cluster-side too.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    builder = (
        builder.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # throughput-oriented GC: long iterative jobs showed multi-second
        # G1 stalls; ParallelGC trades pause latency for batch throughput
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        # don't block job progress on block/shuffle cleanup bursts
        .config("spark.cleaner.referenceTracking.blocking", "false")
    )
    # shuffle files on tmpfs when available: per-iteration shuffles of
    # iterative graph jobs are latency-sensitive and the container disk
    # adds seconds/iteration (cluster analog: fast local NVMe for
    # spark.local.dir, or push-based/remote shuffle service)
    shm = "/dev/shm/spark-local"
    try:
        os.makedirs(shm, exist_ok=True)
        builder = builder.config("spark.local.dir", shm)
    except OSError:
        pass
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

