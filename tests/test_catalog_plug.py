"""Iceberg checkpoint seam (plans/checkpoint.py): the catalog backend is
gated on a configured catalog, and its state-table statement is pinned."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from rad_ecg_spark.plans.checkpoint import (
    IcebergSink,
    create_state_table_sql,
    iceberg_catalogs,
)


def test_no_catalog_in_sandbox_and_gate_raises(spark):
    assert iceberg_catalogs(spark) == []
    with pytest.raises(RuntimeError, match="No Iceberg catalog"):
        IcebergSink(spark)


def test_create_state_table_sql_partitions_by_iteration(spark):
    df = spark.createDataFrame([Row(id=1, rank=0.5)])
    sql = create_state_table_sql("cat.ns.pagerank_state", df)
    assert "id bigint" in sql and "rank double" in sql
    assert "USING iceberg PARTITIONED BY (iteration)" in sql
