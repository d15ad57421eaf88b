from __future__ import annotations

import contextlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rad_ecg_spark.operators.graph_core import pinned_conf  # noqa: E402
from rad_ecg_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="rad_ecg_spark_tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={
            "spark.driver.memory": "4g",
            # tiny data: AQE's extra per-stage planning jobs only add
            # latency here; the engine default (session.py) keeps it on.
            "spark.sql.adaptive.enabled": "false",
        },
    )
    yield s


def edges_df(spark, pairs, src_type="long"):
    from pyspark.sql import types as T

    t = T.LongType() if src_type == "long" else T.StringType()
    schema = T.StructType([T.StructField("src", t), T.StructField("dst", t)])
    return spark.createDataFrame(pairs, schema)


# Arrow batch sizes for the keyed-sweep equivalence tests: the session's
# own (every fixture partition fits in one batch) and 7 rows, which sends
# key runs across batch boundaries.
BATCH_ROWS = pytest.mark.parametrize("batch_rows", [None, 7], ids=["default", "7"])


def arrow_batch_rows(spark, n):
    """Runs the block with ``n``-row Arrow batches (None: unchanged)."""
    if n is None:
        return contextlib.nullcontext()
    return pinned_conf(spark, {"spark.sql.execution.arrow.maxRecordsPerBatch": str(n)})
