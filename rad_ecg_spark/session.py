"""SparkSession factory tuned for the link-graph engine.

Design notes (scale-first):
- Arrow on: every Python-side kernel is an Arrow-batched pandas UDF
  (reference's vectorized-numpy mandate, SURVEY.md §2.10).
- AQE on for relational queries (skew-join splitting, partition
  coalescing). Iterative graph loops pin partition counts themselves so
  exchange reuse survives (see operators/pagerank.py).
- shuffle.partitions defaults to the core count: on a real cluster this
  is set to ~2-3x total executor cores via spark-submit conf.
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

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or local[*]).
    On a real cluster, pass ``master=None`` with spark-submit providing
    the master; these confs are safe cluster-side too.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        cpus_s = os.environ.get("SPARK_GRAFT_CPUS", "")
        shuffle_partitions = int(cpus_s) if cpus_s.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
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

