"""The steady-state loop plans stay within their exchange budgets — the
hard gate "one live exchange per steady iteration" — checked on the
engine's own step functions (tools/audit_loops.py) on a small graph."""

from __future__ import annotations

from tools.audit_loops import audit


def test_steady_loop_plans_meet_budgets(spark):
    results = audit(spark, n_edges=2_000, hub_threshold=15)
    assert [name for name, *_ in results] == [
        "pagerank_steady_iteration",
        "labelprop_steady_round",
        "cc_hashmin_steady_round",
        "pagerank_hubsplit_steady",
        "lp_hubsplit_steady",
    ]
    assert all(n == 1 for _, n, _, _ in results), results
    assert all(ok for *_, ok in results), results
