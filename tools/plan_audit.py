"""Physical-plan audit: assert each headline query compiles to the plan
you'd WANT at 100 TB — filters pushed to the parquet scan, columns
pruned, the right join strategy, a bounded number of exchanges, no
cartesian products — and write the evidence to PLANS.md.

Usage: python tools/plan_audit.py [sf_dir]   (default sf0.001; plans are
data-size independent, AQE initial plans are what is audited)
Exits non-zero if any expectation fails.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# name -> expectations. Budgets are UPPER bounds on Exchange nodes in
# the final plan (reused/cached exchanges counted too — conservative).
AUDITS: dict[str, dict] = {
    "pricing_summary": {
        "pushed_filter_on": "l_shipdate",
        "max_read_cols": {"lineitem": 7},
        "max_exchanges": 3,
        "forbid": ["CartesianProduct"],
    },
    "interval_stats": {
        "max_read_cols": {"events": 3},
        "max_exchanges": 2,
        "forbid": ["CartesianProduct"],
    },
    "moment_stats": {
        "expect": ["BroadcastHashJoin"],  # quantile table broadcast back
        "max_exchanges": 5,
        "forbid": ["CartesianProduct", "SortMergeJoin"],
    },
    "impute_mean": {
        "expect": ["BroadcastHashJoin"],
        "max_read_cols": {"events": 3},
        "forbid": ["CartesianProduct", "SortMergeJoin"],
    },
    "topk_per_group": {
        "max_read_cols": {"part": 3},
        "max_exchanges": 1,
        "forbid": ["CartesianProduct"],
    },
    "doc_stats": {
        "max_read_cols": {"documents": 2},
        "max_exchanges": 0,  # pure map-side: scan -> project, no shuffle
        "forbid": ["CartesianProduct", "Exchange"],
    },
    "cosine_topk": {
        # exact baseline: the small query side broadcast; big side streams
        "expect": ["BroadcastNestedLoopJoin"],
        "forbid": ["CartesianProduct"],
    },
    "lsh_ann_topk": {
        "expect": ["BroadcastHashJoin"],  # bucket equi-join, q side tiny
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    "minhash_lsh_candidates": {
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    "jaccard_neardup": {
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    "episodes_udtf": {
        "max_read_cols": {"events": 4},
        "max_exchanges": 1,  # ONE shuffle to co-locate groups
        "forbid": ["CartesianProduct", "SortMergeJoin"],
    },
    "dist_shift": {
        "max_read_cols": {"events": 2},
        "forbid": ["CartesianProduct"],
    },
    "stitch_checksum": {
        "max_read_cols": {"events": 4},
        "max_exchanges": 1,
        "forbid": ["CartesianProduct"],
    },
}


def read_cols(plan: str, table: str) -> int | None:
    """Column count in the parquet scan's ReadSchema for `table`."""
    for m in re.finditer(r"Location:.*?" + table + r"\.parquet.*?ReadSchema: struct<([^>]*)>",
                         plan, re.S):
        inner = m.group(1)
        return 0 if not inner.strip() else inner.count(",") + 1
    # formatted explain puts ReadSchema on its own line after the scan
    scan = re.search(
        r"Scan parquet[^\n]*\n(?:[^\n]*\n)*?[^\n]*ReadSchema: struct<([^>]*)>", plan
    )
    return None


def audit(spark, sf_dir: str) -> tuple[list[str], list[str]]:
    from rad_ecg_spark.queries import ALL_QUERIES

    lines, failures = [], []
    for name, exp in AUDITS.items():
        df = ALL_QUERIES[name](spark, sf_dir)
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        simple = df._jdf.queryExecution().executedPlan().toString()
        probs = []
        n_ex = len(re.findall(r"\bExchange\b", simple))
        if "max_exchanges" in exp and n_ex > exp["max_exchanges"]:
            probs.append(f"exchanges {n_ex} > budget {exp['max_exchanges']}")
        for bad in exp.get("forbid", []):
            if bad in simple:
                probs.append(f"forbidden node {bad}")
        for good in exp.get("expect", []):
            if good not in simple:
                probs.append(f"expected node {good} missing")
        if "pushed_filter_on" in exp:
            m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
            if not (m and exp["pushed_filter_on"] in m.group(1)):
                probs.append(f"filter on {exp['pushed_filter_on']} not pushed")
        for table, budget in exp.get("max_read_cols", {}).items():
            scans = re.findall(
                table + r"\.parquet[^\n]*(?:\n[^\n]*?)*?ReadSchema: struct<([^>]*)>",
                plan,
            )
            if scans:
                ncols = max(
                    (0 if not s.strip() else s.count(",") + 1) for s in scans
                )
                if ncols > budget:
                    probs.append(f"{table} scan reads {ncols} cols > budget {budget}")
            else:
                probs.append(f"no ReadSchema found for {table}")
        status = "OK" if not probs else "FAIL: " + "; ".join(probs)
        lines.append(f"### {name}\n- exchanges: {n_ex}\n- status: **{status}**\n")
        if probs:
            failures.append(f"{name}: {'; '.join(probs)}")
        print(("PASS " if not probs else "FAIL ") + name + ("" if not probs else "  " + "; ".join(probs)))
    return lines, failures


def audit_triangle_wedges(spark, sf_dir: str) -> tuple[list[str], list[str]]:
    """The triangle closure plan's exchange count — audited on the REAL
    production shape: the input cut (``graph_core.edge_set``) of the
    derived edges, then the degree orientation and the round-6
    adjacency-intersect closure (neighbor arrays joined onto each pivot
    edge) planned over it, nothing persisted, exactly as triangle_count
    runs it. Planned with AQE off, so exchange reuse shows in the static
    plan, and with broadcast joins off — the shape at scale. Budget: 7
    live Exchange nodes — the canonical-set distinct, the degree groupBy,
    two orientation-join alignments, the adjacency groupBy and two
    closure-join alignments; the degree and orientation subtrees each
    consumed twice are reused, not recomputed. The plan must read the cut
    and no parquet scan: the upstream derivation is never re-planned."""
    from pyspark.sql import functions as F

    from rad_ecg_spark.operators.graph_core import edge_set, free_local_checkpoint
    from rad_ecg_spark.operators.triangles import _edge_closures, _oriented
    from rad_ecg_spark.queries.graph import derived_edges
    from tools.audit_loops import count_live_exchanges, count_live_nodes

    cut, _ = edge_set(derived_edges(spark, sf_dir))
    conf = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        closed = _edge_closures(_oriented(cut)).select(F.size("ws").alias("c"))
        simple = closed._jdf.queryExecution().executedPlan().toString()
        n_ex, _ = count_live_exchanges(closed)
        scans = count_live_nodes(closed, ("RDDScan", "FileSourceScan"))
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
        free_local_checkpoint(cut)
    probs = []
    if n_ex > 7:
        probs.append(f"live exchanges {n_ex} > budget 7")
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        if bad in simple:
            probs.append(f"forbidden node {bad}")
    if scans["FileSourceScan"] or not scans["RDDScan"]:
        probs.append("closure plan does not read only the input cut")
    status = "OK" if not probs else "FAIL: " + "; ".join(probs)
    print(("PASS " if not probs else "FAIL ") + "triangle_wedge_close"
          + ("" if not probs else "  " + "; ".join(probs)))
    lines = [
        f"### triangle_wedge_close (orientation + adjacency-intersect "
        f"closures over the input cut)\n- live exchanges: {n_ex} (budget 7)\n"
        f"- status: **{status}**\n"
    ]
    return lines, ([f"triangle_wedge_close: {'; '.join(probs)}"] if probs else [])


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from rad_ecg_spark.session import get_spark

    spark = get_spark(master="local[4]", shuffle_partitions=4,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    lines, failures = audit(spark, sf_dir)
    t_lines, t_failures = audit_triangle_wedges(spark, sf_dir)
    lines += t_lines
    failures += t_failures
    hdr = (
        "# PLANS — physical-plan audit\n\n"
        "Generated by tools/plan_audit.py: every headline query's plan is\n"
        "asserted against the shape it must have at scale (pushdown,\n"
        "pruning, join strategy, exchange budget, no cartesian products).\n"
        "Budgets count ALL Exchange nodes in the plan string (including\n"
        "reused ones) — conservative upper bounds.\n\n"
    )
    with open("PLANS.md", "w") as f:
        f.write(hdr + "\n".join(lines))
    total = len(AUDITS) + 1  # + the triangle wedge-plan audit
    print(f"wrote PLANS.md ({total - len(failures)}/{total} OK)")
    if failures:
        sys.exit(1)


if __name__ == "__main__":
    main()
