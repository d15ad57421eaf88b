"""Object-store-style table sink: partitioned parquet with DYNAMIC
partition overwrite.

The reference ships results to a GCS bucket
(/root/reference/src/rad_ecg/scripts/support.py — upload of result
bundles). Spark-first shape: a partitioned table write where re-running
a job replaces ONLY the partitions it produced (dynamic partition
overwrite) — the idempotent re-run/backfill pattern for object-store
lakes; on a catalog this is ``df.writeTo(tbl).overwritePartitions()``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from rad_ecg_spark.operators.graph_core import pinned_conf


def write_partitioned_table(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "overwrite",
) -> None:
    """Write df as a partitioned parquet table. With mode='overwrite',
    only the partitions PRESENT IN df are replaced (dynamic overwrite);
    other partitions are untouched — safe incremental backfills."""
    with pinned_conf(
        df.sparkSession, {"spark.sql.sources.partitionOverwriteMode": "dynamic"}
    ):
        df.write.mode(mode).partitionBy(*partition_cols).parquet(path)
