"""Connected components: large-star / small-star alternation.

Algorithm (Kiveris et al., "Connected Components in MapReduce and
Beyond", SOCC'14 — public): operate on the symmetric edge list; per
round rewrite edges so every vertex points toward the minimum vertex of
its neighborhood; alternate

    large-star(u): m = min(N(u) ∪ {u}); emit (v, m) for v ∈ N(u), v > u
    small-star(u): m = min(N(u) ∪ {u}); emit (v, m) for v ∈ N(u), v < u,
                   plus (u, m)                       [dedup, drop loops]

until the edge set is stable; components are then stars centered on the
component-minimum vertex. Converges in O(log n) rounds — better than
hash-min's O(diameter) on high-diameter graphs, and every round is only
groupBy(min) + join, i.e. one shuffle each.

A simpler ``hashmin`` method is kept both for cross-checking (exact
same output) and as the measured fast path on LOW-diameter graphs:
O(diameter) rounds, each one join+min-agg — at 10M edges / 1M vertices
(diameter ~7) hashmin converges in 112 s vs star's 216 s on local[32].

``hybrid`` (the default, and the method every engine caller runs)
combines them: run hashmin for ``HASHMIN_ROUNDS`` rounds — enough for
any web-shaped (small-diameter) graph to finish — then, if not
converged, CONTRACT the graph by the partial labels (quotient edges
(label(u), label(v)), usually orders of magnitude smaller) and finish
with star's O(log n) rounds on the contraction. Correctness: hashmin
labels are component-consistent (label(v) is a vertex of v's component,
and the component's global-min vertex always keeps itself as label), so
contraction preserves connectivity and star's min-root over quotient
nodes IS the original min vertex id. This keeps hashmin's measured 2x
win on the common case without giving up the worst-case round bound on
a long-chain component.

Session lifetime note: results are projections over localCheckpoint
state (and the input cut, ``graph_core.edge_set``) whose blocks live
until the DataFrame is garbage-collected, so a long-lived driver
LOOPING over many connected_components calls should materialize
(write/collect) each result and drop the reference before the next
call — measured block accumulation slows repeated in-JVM runs
(34 s -> 70 s over four back-to-back 10M-edge runs). One-shot jobs
(spark-submit, the registry queries) are unaffected.

Both loops run on ``graph_core.iterate`` (pinned conf, lazy per-round
localCheckpoint materialized by the round's one summary aggregate,
freeing superseded state); this module supplies ``hashmin_step`` and
``star_step`` and their convergence tests. Hashmin stops when no label
changed. Star detects convergence without materializing edge-set
diffs: the pair (edge_count, sum(xxhash64(src,dst))) is a fingerprint;
two identical fingerprints in a row ⇒ stable. Cheap (one agg) and
collision-safe in practice (64-bit sum over distinct sets).

Output: DataFrame(id, component) where component = min vertex id of the
component — exact, deterministic, parallelism-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rad_ecg_spark.operators.graph_core import (
    EdgeSet,
    IterStats,
    both_directions,
    edge_set,
    free_local_checkpoint,
    iterate,
    messages,
    pinned_loop_conf,
    size_partitions,
    symmetric,
    vertices_of,
)

# hybrid's hashmin cap: enough rounds for any web-shaped (small-diameter)
# graph to finish before the star-on-contraction fallback
HASHMIN_ROUNDS = 12


def _min_of_neighborhood(sym: DataFrame) -> DataFrame:
    """(src → m) where m = min(N(src) ∪ {src})."""
    return sym.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("m")
    )


def _large_star(sym: DataFrame) -> DataFrame:
    mins = _min_of_neighborhood(sym)
    return (
        sym.filter(F.col("dst") > F.col("src"))
        .join(mins.hint("shuffle_hash"), "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )


def _small_star(sym: DataFrame) -> DataFrame:
    mins = _min_of_neighborhood(sym)
    smaller = (
        sym.filter(F.col("dst") < F.col("src"))
        .join(mins.hint("shuffle_hash"), "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    self_edge = mins.select(F.col("src"), F.col("m").alias("dst"))
    return smaller.unionByName(self_edge).filter(F.col("src") != F.col("dst"))


def star_step(cur: DataFrame, num_partitions: int) -> DataFrame:
    """One large-star + small-star round over the symmetric edge set."""
    # star ops consume the symmetric view; duplicate rows do not change
    # a min-aggregation, so the round's ONE dedup is the final one
    # (skipping two intermediate distincts measured ~2x faster)
    cur = both_directions(_large_star(cur))
    return symmetric(_small_star(cur), num_partitions)


def hashmin_step(labels: DataFrame, sym: DataFrame) -> DataFrame:
    """One frontier hashmin round: (id, component, changed) -> same."""
    # min over neighbors of dst: sym is symmetric, so grouping the
    # src-side labels by dst sees every neighbor of every vertex.
    # Plain groupBy (no pre-repartition): the loop conf pins
    # shuffle.partitions = num_partitions, so the aggregate lands on
    # the state's partition count AND gets map-side partial
    # aggregation before the exchange (the explicit repartition
    # shuffled the raw 2|E| message rows).
    frontier = labels.filter(F.col("changed") == 1).select("id", "component")
    msgs = messages(sym, frontier, ["dst", "component"])
    nbr_min = msgs.groupBy("dst").agg(F.min("component").alias("nbr_min"))
    new_comp = F.least(
        F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))
    )
    return labels.join(nbr_min.hint("shuffle_hash"), labels.id == nbr_min.dst, "left").select(
        "id",
        new_comp.alias("component"),
        # change detection inline (delta-as-a-column) — no per-round
        # self-join
        (new_comp != F.col("component")).cast("long").alias("changed"),
    )


def connected_components(
    edges: DataFrame | EdgeSet,
    method: str = "hybrid",
    max_iter: int = 50,
) -> DataFrame:
    """DataFrame(id, component); component = min id in the component.

    ``method``: "hybrid" (hashmin capped at ``HASHMIN_ROUNDS``, then
    star on the label contraction if not yet converged — see module
    docstring), "star" (worst-case-safe O(log n) rounds) or "hashmin"
    (O(diameter) rounds, fastest on web-shaped graphs)."""
    if method not in ("star", "hashmin", "hybrid"):
        raise ValueError(f"method must be 'star', 'hashmin' or 'hybrid', got {method!r}")
    lent = isinstance(edges, EdgeSet)
    edges, n_edges = edge_set(edges)
    spark = edges.sparkSession
    if n_edges == 0:
        # nothing to label: the optimizer plans LIMIT 0 as an empty local
        # relation, so the result runs no job and reads no freed block
        if not lent:
            free_local_checkpoint(edges)
        return edges.select(F.col("src").alias("id"), F.col("src").alias("component")).limit(0)
    verts = vertices_of(edges)
    # size on the symmetric edge table (2|E|) — the rows every round
    # actually moves; vertex-count sizing left a 3M-row sym table on 2
    # partitions at sf1.0 (1.2 s/round vs 0.45 s at 16).
    num_partitions = size_partitions(spark, n_edges * 2)

    # pinned around the whole run, not only inside iterate(): the state
    # set-ups between and around the loops (hashmin's initial labels,
    # star's initial symmetric view, the hybrid quotient joins) are
    # planned here, and under AQE even a lazy localCheckpoint runs its
    # shuffle stages as soon as it is taken
    with pinned_loop_conf(spark, num_partitions):
        result, reads_cut = _run(edges, verts, method, max_iter, num_partitions)
    if not (reads_cut or lent):
        free_local_checkpoint(edges)
    return result.select("id", "component")


def _hashmin(edges, verts, max_rounds, num_partitions):
    """(labels DataFrame(id, component), converged, rounds run). Labels
    are always component-consistent: label(v) = min id within some ball
    around v.

    Loop discipline mirrors labelprop (the measured 5.7x shape): sym
    partitioned by src ONCE and joined to labels on src==id — both
    hash-partitioned on the same key domain, so the join is
    exchange-free — then the (dst, component) message stream pays the
    round's ONE shuffle into the min aggregation, and the write-back
    join is co-partitioned again (labels by id, nbr_min by dst).
    Audited live by tools/plan_audit.py::hashmin_steady_plan.

    Frontier (delta) propagation: each round sends messages only from
    vertices whose label CHANGED last round. Labels are monotonically
    decreasing and a vertex's min can only improve when a neighbor's
    label dropped, and every label value a vertex ever held was
    delivered to its neighbors in the round it changed (round 1 delivers
    from everyone) — so the per-round labels, the round count and the
    fixpoint are IDENTICAL to full hashmin, but the message stream (and
    the round's shuffle) shrinks with the frontier. On the sf1.0
    derived graph the last two rounds carry 70 and 0 changes instead of
    re-delivering all 3M edges."""
    labels = (
        verts.select(
            "id",
            F.col("id").alias("component"),
            F.lit(1).cast("long").alias("changed"),  # round-1 frontier: all
        )
        .repartition(num_partitions, "id")
        # lazy: round 1's frontier join materializes it
        .localCheckpoint(eager=False)
    )
    # lazy persist: round 1's message join materializes sym ONCE
    # (persist locking) — a dedicated count() here was a pure 2|E|
    # barrier job (labels above is lazy for the same reason)
    sym = symmetric(edges, num_partitions).persist()
    stats = IterStats()
    labels = iterate(
        labels,
        lambda state, prev: hashmin_step(state, sym),
        [F.coalesce(F.sum("changed"), F.lit(0)).alias("changed")],
        lambda row, prev: row["changed"] == 0,
        stats,
        num_partitions,
        max_rounds,
    )
    sym.unpersist()
    return labels, stats.converged, stats.iterations


def _star_components(edges, num_partitions, max_iter):
    """Star alternation on ``edges``; returns DataFrame(id, component)
    covering the vertices that appear in edges (isolated vertices are
    the caller's job)."""
    cur = symmetric(edges, num_partitions).localCheckpoint(eager=True)
    cur = iterate(
        cur,
        lambda state, prev: star_step(state, num_partitions),
        [
            F.count(F.lit(1)).alias("cnt"),
            # decimal(38,0) sum: immune to ANSI long-overflow on hash sums
            F.coalesce(
                F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")), F.lit(0)
            ).alias("chk"),
        ],
        lambda row, prev: row == prev,
        IterStats(),
        num_partitions,
        max_iter,
    )
    # stable symmetric star graph: component(v) = min(N(v) ∪ {v})
    return _min_of_neighborhood(cur).select(
        F.col("src").alias("id"), F.col("m").alias("component")
    )


def _run(edges, verts, method, max_iter, num_partitions):
    """(result, reads_cut): ``reads_cut`` is False when the result reads
    only materialized loop state, so the caller can free the input cut.
    The star result joins ``verts``, a view of the cut, and hashmin's
    labels are the unmaterialized initial labels until a round ran."""
    if method == "star":
        comp = _star_components(edges, num_partitions, max_iter)
        result = (
            verts.join(comp, "id", "left")
            .select("id", F.coalesce(F.col("component"), F.col("id")).alias("component"))
        )
        return result, True
    rounds = max_iter if method == "hashmin" else HASHMIN_ROUNDS
    labels, converged, ran = _hashmin(edges, verts, rounds, num_partitions)
    if method == "hashmin" or converged:
        return labels, ran == 0
    # contract by partial labels: quotient edges between label groups.
    # |quotient| <= edges whose endpoints a hashmin ball never merged —
    # tiny after ~diameter rounds on everything but adversarial chains.
    ls = labels.select(F.col("id").alias("src"), F.col("component").alias("lsrc"))
    ld = labels.select(F.col("id").alias("dst"), F.col("component").alias("ldst"))
    quotient = (
        edges.join(ls.hint("shuffle_hash"), "src")
        .join(ld.hint("shuffle_hash"), "dst")
        .filter(F.col("lsrc") != F.col("ldst"))
        .select(F.col("lsrc").alias("src"), F.col("ldst").alias("dst"))
    )
    roots = _star_components(quotient, num_partitions, max_iter).select(
        F.col("id").alias("component"), F.col("component").alias("root")
    )
    # shuffle join, not broadcast: an adversarial (long-chain) graph
    # can leave a quotient as large as the label set
    result = labels.join(roots.hint("shuffle_hash"), "component", "left").select(
        "id",
        F.coalesce(F.col("root"), F.col("component")).alias("component"),
    )
    # the star roots read the eagerly checkpointed quotient, not the cut
    return result, ran == 0
