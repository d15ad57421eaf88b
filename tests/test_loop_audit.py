"""The plan audits of tools/plan_audit.py hold in tier-1: the steady-state
loop plans stay within their exchange budgets — the hard gate "one live
exchange per steady iteration" — checked on the engine's own step
functions on a small graph, and the headline query plans plus the
triangle closure plan meet their PLANS.md expectations at sf0.001."""

from __future__ import annotations

from tools.plan_audit import AUDITS, audit_loops, audit_queries, audit_triangle_wedges

from .test_oracle_parity import SF_DIR


def test_steady_loop_plans_meet_budgets(spark):
    results = audit_loops(spark, n_edges=2_000)
    assert [name for name, *_ in results] == [
        "pagerank_steady_iteration",
        "labelprop_steady_round",
        "cc_hashmin_steady_round",
        "pagerank_hubsplit_steady",
        "lp_hubsplit_steady",
    ]
    assert all(n == 1 for _, n, _, _ in results), results
    assert all(ok for *_, ok in results), results


def test_query_and_triangle_plans_meet_expectations(spark):
    # the query audits pin AQE on (the engine default; the fixture turns
    # it off) and restore the session's value afterwards
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    lines, failures = audit_queries(spark, SF_DIR)
    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe
    t_lines, t_failures = audit_triangle_wedges(spark, SF_DIR)
    assert len(lines) == len(AUDITS) == 13 and len(t_lines) == 1
    assert failures + t_failures == []
