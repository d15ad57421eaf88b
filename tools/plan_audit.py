"""Physical-plan audit: assert each headline query compiles to the plan
you'd WANT at 100 TB — filters pushed to the parquet scan, columns
pruned, the right join strategy, a bounded number of exchanges, no
cartesian products — and that the graph plans keep their shuffle
budgets; write the evidence to PLANS.md.

Three audit families, each under its own conf:
- ``audit_queries``: every headline query's AQE initial plan (AQE on),
  budgets counting ALL Exchange nodes in the plan string;
- ``audit_triangle_wedges``: the triangle closure plan over the input
  cut (AQE off), live nodes only;
- ``audit_loops``: one steady-state iteration of each iterative loop,
  built by the engine's own step functions (AQE off), live nodes only —
  the hard gate "one live exchange per steady iteration".

Usage: python tools/plan_audit.py [sf_dir]   (default sf0.001; plans are
data-size independent). Writes all of PLANS.md in one pass and exits
non-zero if any expectation fails.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from rad_ecg_spark.operators.graph_core import pinned_conf  # noqa: E402

LOOP_SECTION = "## Iterative-loop exchange audit (tools/plan_audit.py)"

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

AQE_OFF = {"spark.sql.adaptive.enabled": "false"}


def _live_nodes(df) -> list:
    """Physical plan nodes outside cached (InMemoryTableScan) subtrees,
    whose build cost was paid once at persist time. Checkpointed
    (ExistingRDD) subtrees are leaves already."""
    nodes = []

    def walk(node) -> None:
        if node.getClass().getSimpleName().startswith("InMemoryTableScan"):
            return
        nodes.append(node)
        it = node.children().iterator()
        while it.hasNext():
            walk(it.next())

    walk(df._jdf.queryExecution().executedPlan())
    return nodes


def count_live_nodes(df, prefixes: tuple[str, ...]) -> dict[str, int]:
    """Count live plan nodes by class-name prefix."""
    names = [n.getClass().getSimpleName() for n in _live_nodes(df)]
    return {p: sum(name.startswith(p) for name in names) for p in prefixes}


def count_live_exchanges(df) -> tuple[int, list[str]]:
    """(#shuffle exchanges, node names) outside cached subtrees."""
    hits = [
        n.nodeName()
        for n in _live_nodes(df)
        if n.getClass().getSimpleName().startswith("ShuffleExchange")
    ]
    return len(hits), hits


def _report(name: str, probs: list[str]) -> list[str]:
    print(("PASS " if not probs else "FAIL ") + name
          + ("" if not probs else "  " + "; ".join(probs)))
    return [f"{name}: {'; '.join(probs)}"] if probs else []


def audit_queries(spark, sf_dir: str) -> tuple[list[str], list[str]]:
    """The headline queries' AQE initial plans against ``AUDITS``."""
    from rad_ecg_spark.queries import ALL_QUERIES

    lines, failures = [], []
    with pinned_conf(spark, {"spark.sql.adaptive.enabled": "true"}):
        for name, exp in AUDITS.items():
            df = ALL_QUERIES[name](spark, sf_dir)
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
            failures += _report(name, probs)
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
    from rad_ecg_spark.operators.graph_core import edge_set, free_local_checkpoint
    from rad_ecg_spark.operators.triangles import _edge_closures, _oriented
    from rad_ecg_spark.queries.graph import derived_edges

    cut, _ = edge_set(derived_edges(spark, sf_dir))
    conf = {**AQE_OFF, "spark.sql.autoBroadcastJoinThreshold": "-1"}
    try:
        with pinned_conf(spark, conf):
            closed = _edge_closures(_oriented(cut)).select(F.size("ws").alias("c"))
            simple = closed._jdf.queryExecution().executedPlan().toString()
            n_ex, _ = count_live_exchanges(closed)
            scans = count_live_nodes(closed, ("RDDScan", "FileSourceScan"))
    finally:
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
    lines = [
        f"### triangle_wedge_close (orientation + adjacency-intersect "
        f"closures over the input cut)\n- live exchanges: {n_ex} (budget 7)\n"
        f"- status: **{status}**\n"
    ]
    return lines, _report("triangle_wedge_close", probs)


# --- iterative loops --------------------------------------------------
# Every audited plan is one call of the engine's own step function
# (``pagerank_step``, ``label_propagation_step``, ``hashmin_step``) on a
# state that one real step has already brought to the steady shape — a
# checkpointed step output, exactly as inside ``graph_core.iterate``.
# The edges come through the engine's input path: the
# ``graph_core.edge_set`` cut, and its ``graph_core.symmetric`` view for
# the undirected loops. Each takes its split from the engine's rule,
# ``operators.skew.hub_split``, which splits only a planted hub.


def _steady(state, step):
    """The plan of ``step`` on ``state`` after one real warm-up step."""
    return step(step(state).localCheckpoint(eager=True))


def _edges(spark, n_edges, P, hub):
    """``synth_edges``, plus with ``hub`` a source holding over half the
    edges: a hub of the directed and the symmetric view at P partitions."""
    from rad_ecg_spark.sources.synth_graph import synth_edges

    edges = synth_edges(spark, n_edges, partitions=P)
    star = spark.range(1, 2 * n_edges + 1, 1, P).select(
        F.lit(0).cast("long").alias("src"), F.col("id").alias("dst")
    )
    return edges.unionByName(star) if hub else edges


def pagerank_steady_plan(spark, n_edges, P, hub=False):
    from rad_ecg_spark.operators.graph_core import edge_set
    from rad_ecg_spark.operators.pagerank import _prepare, pagerank_step
    from rad_ecg_spark.operators.skew import hub_split

    cut, rows = edge_set(_edges(spark, n_edges, P, hub))
    edges, verts = _prepare(cut, P)
    n = verts.count()
    hubs = hub_split(edges, rows, P)
    assert hub == (hubs is not None)
    ranks = verts.select(
        "id", "outdeg", (F.lit(1.0) / F.lit(float(n))).alias("rank")
    ).localCheckpoint(eager=True)
    return _steady(ranks, lambda r: pagerank_step(r, edges, 0.0, n, 0.85, hubs))


def _sym_and_verts(spark, n_edges, P, hub=False):
    """label propagation's and hashmin's setup: the symmetric view of the
    edge-set cut, persisted, the vertex set, and the cut's row count."""
    from rad_ecg_spark.operators.graph_core import edge_set, symmetric, vertices_of

    edges, rows = edge_set(_edges(spark, n_edges, P, hub))
    sym = symmetric(edges, P).persist()
    sym.count()
    return sym, vertices_of(edges), rows


def labelprop_steady_plan(spark, n_edges, P, hub=False):
    from rad_ecg_spark.operators.labelprop import label_propagation_step
    from rad_ecg_spark.operators.skew import hub_split

    sym, verts, rows = _sym_and_verts(spark, n_edges, P, hub)
    hubs = hub_split(sym, 2 * rows, P, max_rows=rows)
    assert hub == (hubs is not None)
    labels = (
        verts.select("id", F.col("id").alias("label"))
        .repartition(P, "id")
        .localCheckpoint(eager=True)
    )
    return _steady(labels, lambda s: label_propagation_step(s, sym, P, hubs))


def hashmin_steady_plan(spark, n_edges, P):
    """The common-case phase of connected components' hybrid method."""
    from rad_ecg_spark.operators.components import hashmin_step

    sym, verts, _ = _sym_and_verts(spark, n_edges, P)
    labels = (
        verts.select(
            "id",
            F.col("id").alias("component"),
            F.lit(1).cast("long").alias("changed"),
        )
        .repartition(P, "id")
        .localCheckpoint(eager=True)
    )
    return _steady(labels, lambda s: hashmin_step(s, sym))


def audit_loops(spark, n_edges=100_000, P=4):
    """[(name, live exchanges, exchange names + notes, ok)] for the five
    steady-state loop plans, planned with AQE off. Budget: 1 live
    exchange each; the hub-split plans also at most 2 broadcasts and 3
    sorts."""
    plans = (
        ("pagerank_steady_iteration", lambda: pagerank_steady_plan(spark, n_edges, P)),
        ("labelprop_steady_round", lambda: labelprop_steady_plan(spark, n_edges, P)),
        ("cc_hashmin_steady_round", lambda: hashmin_steady_plan(spark, n_edges, P)),
        (
            "pagerank_hubsplit_steady",
            lambda: pagerank_steady_plan(spark, n_edges, P, hub=True),
        ),
        (
            "lp_hubsplit_steady",
            lambda: labelprop_steady_plan(spark, n_edges, P, hub=True),
        ),
    )
    results = []
    with pinned_conf(spark, AQE_OFF):
        for name, build in plans:
            df = build()
            n, hits = count_live_exchanges(df)
            ok = n <= 1
            if name.endswith("hubsplit_steady"):
                # the split path adds broadcasts: budget them explicitly
                # (<= 2: the hub slice and at most one planner-chosen
                # extra) and forbid sorts beyond min_by's
                # partial+final SortAggregate pair plus the one sort under
                # the final agg (measured equivalent to hash-aggregable
                # rewrites, OPTIMIZATION_r06.md §12b) — e.g. a sort-merge
                # join sneaking into the loop
                nodes = count_live_nodes(df, ("BroadcastExchange", "Sort"))
                hits = hits + [
                    f"broadcasts={nodes['BroadcastExchange']} sorts={nodes['Sort']}"
                ]
                if nodes["BroadcastExchange"] > 2:
                    ok = False
                    hits.append("broadcast budget 2 exceeded")
                if nodes["Sort"] > 3:
                    ok = False
                    hits.append("sort budget 3 exceeded: SMJ in steady loop?")
            results.append((name, n, hits, ok))
    return results


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from rad_ecg_spark.session import get_spark

    spark = get_spark(master="local[4]", shuffle_partitions=4,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    lines, failures = audit_queries(spark, sf_dir)
    t_lines, t_failures = audit_triangle_wedges(spark, sf_dir)
    lines += t_lines
    failures += t_failures
    loops = audit_loops(spark)
    lines += [
        LOOP_SECTION + "\n",
        "Live ShuffleExchange nodes in one STEADY-STATE iteration plan, built",
        "by the engine's own step functions (cached/checkpointed subtrees",
        "excluded — their cost was paid once):\n",
    ]
    for name, n, hits, ok in loops:
        print(("PASS " if ok else "FAIL ") + f"{name}: {n} live exchange(s) (budget 1): {hits}")
        lines.append(f"- {name}: **{n}** (budget 1) — {hits} — {'OK' if ok else 'FAIL'}")
        if not ok:
            failures.append(name)
    hdr = (
        "# PLANS — physical-plan audit\n\n"
        "Generated by tools/plan_audit.py: every headline query's plan is\n"
        "asserted against the shape it must have at scale (pushdown,\n"
        "pruning, join strategy, exchange budget, no cartesian products).\n"
        "Budgets count ALL Exchange nodes in the plan string (including\n"
        "reused ones) — conservative upper bounds.\n\n"
    )
    with open("PLANS.md", "w") as f:
        f.write(hdr + "\n".join(lines) + "\n")
    total = len(AUDITS) + 1 + len(loops)  # queries, triangle wedges, loops
    print(f"wrote PLANS.md ({total - len(failures)}/{total} OK)")
    if failures:
        sys.exit(1)


if __name__ == "__main__":
    main()
