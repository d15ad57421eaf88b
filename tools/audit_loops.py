"""Iterative-loop plan audit: PROVE the one-exchange-per-iteration
claims by walking the physical plan tree of a steady-state iteration.

Every audited plan is one call of the engine's own step function
(``pagerank_step``, ``label_propagation_step``, ``hashmin_step``, with
``operators.skew.HubSplit`` for the hub-split variants) on a state that
one real step has already brought to the steady shape — a checkpointed
step output, exactly as inside ``graph_core.iterate``. The edges come
through the engine's input path: the ``graph_core.edge_set`` cut, and
its ``graph_core.symmetric`` view for the undirected loops.

Counts ShuffleExchange nodes reachable without descending into cached
(InMemoryTableScan) or checkpointed (ExistingRDD) subtrees — i.e. the
shuffles a steady-state iteration actually pays. Rewrites its section
of PLANS.md and exits non-zero on violation.

Usage: python tools/audit_loops.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

SECTION = "## Iterative-loop exchange audit (tools/audit_loops.py)"


def _live_nodes(df) -> list:
    """Physical plan nodes outside cached (InMemoryTableScan) subtrees,
    whose build cost was paid once at persist time."""
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


def _steady(state, step):
    """The plan of ``step`` on ``state`` after one real warm-up step."""
    return step(step(state).localCheckpoint(eager=True))


def _hubs(edges, hub_threshold, P):
    from rad_ecg_spark.operators.skew import HubSplit

    return None if hub_threshold is None else HubSplit(edges, hub_threshold, P)


def pagerank_steady_plan(spark, n_edges, P, hub_threshold=None):
    from rad_ecg_spark.operators.graph_core import edge_set
    from rad_ecg_spark.operators.pagerank import _prepare, pagerank_step
    from rad_ecg_spark.sources.synth_graph import synth_edges

    cut, _ = edge_set(synth_edges(spark, n_edges, partitions=P))
    edges, verts = _prepare(cut, P)
    n = verts.count()
    hubs = _hubs(edges, hub_threshold, P)
    ranks = verts.select(
        "id", "outdeg", (F.lit(1.0) / F.lit(float(n))).alias("rank")
    ).localCheckpoint(eager=True)
    return _steady(ranks, lambda r: pagerank_step(r, edges, 0.0, n, 0.85, hubs))


def _sym_and_verts(spark, n_edges, P):
    """label propagation's and hashmin's setup: the symmetric view of the
    edge-set cut, persisted, and the vertex set."""
    from rad_ecg_spark.operators.graph_core import edge_set, symmetric, vertices_of
    from rad_ecg_spark.sources.synth_graph import synth_edges

    edges, _ = edge_set(synth_edges(spark, n_edges, partitions=P))
    sym = symmetric(edges, P).persist()
    sym.count()
    return sym, vertices_of(edges)


def labelprop_steady_plan(spark, n_edges, P, hub_threshold=None):
    from rad_ecg_spark.operators.labelprop import label_propagation_step

    sym, verts = _sym_and_verts(spark, n_edges, P)
    hubs = _hubs(sym, hub_threshold, P)
    labels = (
        verts.select("id", F.col("id").alias("label"))
        .repartition(P, "id")
        .localCheckpoint(eager=True)
    )
    return _steady(labels, lambda s: label_propagation_step(s, sym, P, hubs))


def hashmin_steady_plan(spark, n_edges, P):
    """The common-case phase of connected components' hybrid method."""
    from rad_ecg_spark.operators.components import hashmin_step

    sym, verts = _sym_and_verts(spark, n_edges, P)
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


def audit(spark, n_edges=100_000, hub_threshold=50, P=4):
    """[(name, live exchanges, exchange names + notes, ok)] for the five
    steady-state loop plans. Budget: 1 live exchange each; the hub-split
    plans also at most 3 broadcasts and 3 sorts."""
    plans = (
        ("pagerank_steady_iteration", lambda: pagerank_steady_plan(spark, n_edges, P)),
        ("labelprop_steady_round", lambda: labelprop_steady_plan(spark, n_edges, P)),
        ("cc_hashmin_steady_round", lambda: hashmin_steady_plan(spark, n_edges, P)),
        (
            "pagerank_hubsplit_steady",
            lambda: pagerank_steady_plan(spark, n_edges, P, hub_threshold),
        ),
        (
            "lp_hubsplit_steady",
            lambda: labelprop_steady_plan(spark, n_edges, P, hub_threshold),
        ),
    )
    results = []
    for name, build in plans:
        df = build()
        n, hits = count_live_exchanges(df)
        ok = n <= 1
        if name.endswith("hubsplit_steady"):
            # the split path adds broadcasts: budget them explicitly
            # (<= 3: hub_ids semi-join build, hub slice, and at most one
            # planner-chosen extra) and forbid sorts beyond min_by's
            # partial+final SortAggregate pair plus the one sort under
            # the final agg (measured equivalent to hash-aggregable
            # rewrites, OPTIMIZATION_r06.md §12b) — e.g. a sort-merge
            # join sneaking into the loop
            nodes = count_live_nodes(df, ("BroadcastExchange", "Sort"))
            hits = hits + [
                f"broadcasts={nodes['BroadcastExchange']} sorts={nodes['Sort']}"
            ]
            if nodes["BroadcastExchange"] > 3:
                ok = False
                hits.append("broadcast budget 3 exceeded")
            if nodes["Sort"] > 3:
                ok = False
                hits.append("sort budget 3 exceeded: SMJ in steady loop?")
        results.append((name, n, hits, ok))
    return results


def main() -> None:
    from rad_ecg_spark.session import get_spark

    spark = get_spark(
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.adaptive.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    results = audit(spark)
    lines = [
        SECTION + "\n",
        "Live ShuffleExchange nodes in one STEADY-STATE iteration plan, built",
        "by the engine's own step functions (cached/checkpointed subtrees",
        "excluded — their cost was paid once):\n",
    ]
    for name, n, hits, ok in results:
        print(("PASS " if ok else "FAIL ") + f"{name}: {n} live exchange(s) (budget 1): {hits}")
        lines.append(f"- {name}: **{n}** (budget 1) — {hits} — {'OK' if ok else 'FAIL'}")
    with open("PLANS.md") as f:
        text = f.read()
    # replace this audit's section (always the file's last) on a re-run
    text = text.split("\n" + SECTION)[0].rstrip("\n") + "\n"
    with open("PLANS.md", "w") as f:
        f.write(text + "\n" + "\n".join(lines) + "\n")
    print("wrote loop audit to PLANS.md")
    if not all(ok for *_, ok in results):
        sys.exit(1)


if __name__ == "__main__":
    main()
