"""Every queries() entry must match its DuckDB oracle at sf0.001 —
the same check the driver runs at sf0.01 (CORRECTNESS gate rehearsal)."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from tools.compare_oracle import compare_query, duck_connection  # noqa: E402

from .conftest import arrow_batch_rows  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"

QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()


@pytest.fixture(scope="module")
def duck():
    return duck_connection(SF_DIR)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, duck, name):
    err = compare_query(spark, duck, name, QUERIES[name], ORACLES.get(name), SF_DIR)
    assert err is None, f"{name}: {err}"


@pytest.mark.parametrize("name", ["matrix_profile_discord", "fluss_regime"])
def test_keyed_kernel_matches_oracle_with_straddling_batches(spark, duck, name):
    """7-row Arrow batches send every user's run across batch boundaries
    (the default batch holds a whole fixture partition)."""
    with arrow_batch_rows(spark, 7):
        err = compare_query(spark, duck, name, QUERIES[name], ORACLES[name], SF_DIR)
    assert err is None, f"{name}: {err}"


def test_every_query_has_oracle_or_is_flagged():
    # every registered query carries a full DuckDB oracle (the KMeans-fit
    # IVF path lives outside the registry behind its recall pytest; its
    # fixed-centroid correctness twin ivf_fixed_topk is oracle-checked)
    missing = set(QUERIES) - set(ORACLES)
    assert not missing, f"unexpected oracle-less queries: {missing}"


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["id", "rank", "c_name", "c_mktsegment"]
